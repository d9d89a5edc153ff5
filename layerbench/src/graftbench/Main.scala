package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.json4s.{DefaultFormats, Extraction}
import org.json4s.jackson.JsonMethods
import graft.engine.{Exec, SessionDefaults, Warehouse}

/** Times each call of a pass as one operation, records what it returned,
  * and keeps failures apart: a failed call is counted, never timed. */
final class Runner(val spark: SparkSession, val tracer: Tracer) {
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]
  val mismatches = ArrayBuffer.empty[String]
  val latencies = ArrayBuffer.empty[Double]
  /** What each keyed call returned this pass, as a fingerprint. */
  val results = LinkedHashMap.empty[String, String]
  var incoming = 0L
  var appended = 0L
  /** Set on the warmup pass: outputs land here for the DuckDB gate. */
  var checkDir: Option[Path] = None

  def op[T](layer: String, name: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val v = tracer.span(layer, name)(body)
      latencies += (System.nanoTime() - t0) / 1e9
      Some(v)
    } catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$layer.$name: $e".take(400)
        None
    }
  }

  /** Build a frame through the engine, plan it, and run it to the driver. */
  def query(layer: String, name: String, key: String)(build: => DataFrame): Unit = {
    var schema: StructType = null
    op(layer, name) {
      val df = tracer.span("plan", "build")(build)
      if (tracer.on) tracer.span("plan", "optimize")(df.queryExecution.executedPlan)
      schema = df.schema
      df.collect()
    }.foreach { rows =>
      results(key) = Runner.fingerprint(rows)
      checkDir.foreach(_ => output(key,
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)))
    }
  }

  def output(key: String, df: DataFrame): Unit =
    checkDir.foreach(d => df.coalesce(1).write.parquet(d.resolve(key).toString))

  def note(key: String, value: String): Unit = results(key) = value

  def expect(what: String, ok: Boolean): Unit = if (!ok) mismatches += what

  def ingested(in: Long, added: Long): Unit = { incoming += in; appended += added }
}

object Runner {
  def fingerprint(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    s"${rows.length}:" + md.digest().take(8).map(b => f"$b%02x").mkString
  }
}

final case class PassRec(index: Int, traced: Boolean, wallS: Double,
                         cpuS: Double, gcS: Double, io: Io, storedB: Long,
                         liveB: Long, latencies: Seq[Double], incoming: Long,
                         appended: Long, stealTicks: Long, heapLiveB: Long)

/** One run of one workload: set up from the seed, one untimed warmup pass
  * whose outputs feed the correctness gate, then the timed passes. Writes
  * `result.json` (and `spans.jsonl` when traced) under `--out`. */
object Main {
  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  private def json(v: Any): String =
    JsonMethods.compact(JsonMethods.render(Extraction.decompose(v)(DefaultFormats)))

  private def gcSeconds(): Double = {
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  private def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst)
    } finally s.close()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The latency at the highest percentile with at least ten samples
    * above it, and that percentile; the maximum when that percentile
    * would fall below the median (fewer than 21 samples). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val i = if (s.size >= 21) s.size - 11 else s.size - 1
    (s(i), 100.0 * (i + 1) / s.size)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val out = Paths.get(opt("out")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val workload = Workloads(workloadName)

    val spark = SessionDefaults.withLocalIo(SparkSession.builder())
      .master(s"local[$cores]")
      .appName(s"layerbench-$workloadName")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("spark-warehouse").toString)
      .config(Exec.StagingDirKey, out.resolve("staging").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counts = new Counts
    if (trace) spark.sparkContext.addSparkListener(counts)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val tracer = new Tracer
    val runner = new Runner(spark, tracer)
    val ctx = new Ctx(spark, seed, runner, null)

    val live = out.resolve("wh")
    ctx.wh = new Warehouse(spark, live.toString)
    val t0 = System.nanoTime()
    workload.setup(ctx)
    val buildS = (System.nanoTime() - t0) / 1e9
    val pristine = out.resolve("pristine")
    if (workload.resets) copyTree(live, pristine)
    def reset(): Unit = if (workload.resets) { delete(live); copyTree(pristine, live) }

    def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

    def runPass(index: Int, traced: Boolean): PassRec = {
      reset()
      drain()
      System.gc()
      runner.latencies.clear(); runner.results.clear()
      runner.incoming = 0; runner.appended = 0
      tracer.pass = index; counts.pass = index
      // a traced run counts every pass, so the counts can be compared
      // pass to pass; only the traced pass records spans
      tracer.on = traced; counts.on = trace
      val (cpu0, gc0, io0, st0) =
        (cpuBean.getProcessCpuTime, gcSeconds(), Io.now(), Io.steal())
      val t0 = System.nanoTime()
      tracer.span("bench", "pass")(workload.pass(ctx))
      val wall = (System.nanoTime() - t0) / 1e9
      val (cpu1, gc1, io1, st1) =
        (cpuBean.getProcessCpuTime, gcSeconds(), Io.now(), Io.steal())
      tracer.on = false
      drain()
      counts.on = false
      // what the engine still holds once the pass is over
      System.gc()
      val heapLive = heapPools.map(_.getUsage.getUsed).sum
      workload.afterPass(ctx)
      val liveB = ctx.wh.listTables().map(ctx.wh.tableSizeBytes).sum
      PassRec(index, traced, wall, (cpu1 - cpu0) / 1e9, gc1 - gc0, io1 - io0,
        dirBytes(live), liveB, runner.latencies.toList, runner.incoming,
        runner.appended, st1 - st0, heapLive)
    }

    // warmup: untimed, and the one pass whose outputs the gate checks
    val checkDir = out.resolve("check")
    Files.createDirectories(checkDir)
    runner.checkDir = Some(checkDir)
    val tw = System.nanoTime()
    runPass(-1, traced = false)
    val warmupS = (System.nanoTime() - tw) / 1e9
    runner.checkDir = None
    val expected = runner.results.clone()
    val warmupFailed = runner.failed
    val setupS = sessionS + buildS + warmupS
    val jitS = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    val codegenS = org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.compileTime / 1e9

    // the gate's inputs, written once and outside every timed region
    val ti = System.nanoTime()
    ctx.inputs.foreach { case (n, df) =>
      df.coalesce(1).write.parquet(out.resolve("inputs").resolve(n).toString)
    }
    val inputsS = (System.nanoTime() - ti) / 1e9

    runner.attempted = 0; runner.failed = 0
    // a traced run needs an untraced pass beside the traced one
    val nPasses = math.max(if (trace) 2 else 1,
      math.floor(seconds / workload.nominalPassS).toInt)
    val passes = (0 until nPasses).map { p =>
      val rec = runPass(p, traced = trace && p % 2 == 1)
      expected.foreach { case (k, v) =>
        if (runner.results.get(k) != Some(v))
          runner.mismatches += s"pass $p: $k = ${runner.results.getOrElse(k, "missing")}, warmup $v"
      }
      rec
    }
    val timed = passes.filterNot(_.traced)
    val ops = timed.flatMap(_.latencies)
    val (tailS, tailPct) = tail(ops)
    val MiB = 1024.0 * 1024.0

    val endToEnd = LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "pass_s" -> median(timed.map(_.wallS)),
      "op_p50_s" -> median(ops),
      "op_tail_s" -> tailS,
      "cpu_s" -> median(timed.map(_.cpuS)),
      "live_heap_mb" -> median(timed.map(_.heapLiveB / MiB)),
      "written_mb" -> median(timed.map(_.io.wchar / MiB)),
      "stored_mb" -> median(timed.map(_.storedB / MiB)))

    val layers =
      if (!trace) LinkedHashMap.empty[String, Double]
      else Layers(passes, tracer.spans.toSeq, counts, setupJitS = jitS,
        setupCodegenS = codegenS, tailPct = tailPct, samples = ops.size)

    if (trace) {
      val w = Files.newBufferedWriter(out.resolve("spans.jsonl"))
      try tracer.spans.foreach { s =>
        w.write(json(LinkedHashMap("id" -> s.id, "parent" -> s.parent,
          "pass" -> s.pass, "layer" -> s.layer, "op" -> s.op,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.seconds,
          "rchar" -> s.io.rchar, "wchar" -> s.io.wchar,
          "syscr" -> s.io.syscr, "syscw" -> s.io.syscw)))
        w.newLine()
      } finally w.close()
    }

    val result = LinkedHashMap[String, Any](
      "workload" -> workloadName, "seed" -> seed, "cores" -> cores,
      "attempted" -> runner.attempted, "failed" -> runner.failed,
      "warmup_failed" -> warmupFailed,
      "failures" -> runner.failures.toList,
      "mismatches" -> runner.mismatches.toList,
      "passes" -> passes.size, "ops_per_pass" -> ops.size / math.max(1, timed.size),
      "tail_percentile" -> tailPct, "tail_samples" -> ops.size,
      "setup_parts" -> LinkedHashMap("session_s" -> sessionS,
        "build_s" -> buildS, "warmup_s" -> warmupS, "steps" -> ctx.setupSteps,
        "gate_inputs_s" -> inputsS),
      "pass_counts" -> passes.map(p => LinkedHashMap("pass" -> p.index,
        "traced" -> p.traced, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "gc_s" -> p.gcS,
        "steal_ticks" -> p.stealTicks, "heap_live_b" -> p.heapLiveB,
        "written_b" -> p.io.wchar,
        "stored_b" -> p.storedB)).toList,
      "params" -> ctx.params,
      "end_to_end" -> endToEnd, "per_layer" -> layers)
    Files.writeString(out.resolve("result.json"), json(result))
    spark.stop()
  }
}
