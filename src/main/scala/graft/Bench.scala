package graft

/** Driver-run benchmark: times every SparkEntry query at the given SF and
  * prints ONE JSON line. The action is a noop-sink write, which forces
  * every output column to be fully evaluated — `.count()` would let
  * Catalyst prune the projections of map-only queries (date/string/text
  * expression benchmarks would then time just scan+count). Failures are
  * reported per query (value -1 + message), never silently timed.
  *
  * Every run also writes per-query stage evidence (task counts, stage
  * task-time, shuffle bytes) beside the JSON file, as `<out>_stages.txt`
  * — wall totals on a shared box swing ±2×, stage metrics don't, so
  * noise can be told from regression without rerunning.
  *
  * The JSON is SELF-ADJUDICATING: it carries per-query `/proc/loadavg`
  * (1-min, sampled as each query starts) and task-seconds beside each
  * wall reading, so a co-tenant-loaded recording shows its own tenancy
  * evidence in the artifact (round 9's recorded number looked like a
  * 2.1× regression until sidecars proved the box, not the code — the
  * adjudication now rides in the number's own file). Wall inflated
  * while task-seconds hold ≈ external load; both inflated ≈ the plan.
  */
object Bench {
  /** 1-minute load average from /proc/loadavg; -1 where unreadable
    * (non-Linux), never a throw — bench must not die on evidence. */
  private def load1(): Double =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val spark = graft.engine.SessionDefaults.localSession(cpus)
    val rec = new graft.tools.Profile.Recorder(spark.sparkContext)
    // warm JVM/codegen/parquet/shuffle/window/text-expression paths so the
    // alphabetically-first queries aren't charged session startup — warmup
    // work is explicitly untimed
    try {
      spark.range(1000).selectExpr("sum(id) AS s")
        .write.format("noop").mode("overwrite").save()
      spark.read.parquet(s"$sfDir/region.parquet")
        .write.format("noop").mode("overwrite").save()
      spark.range(2000)
        .selectExpr("id", "md5(cast(id AS string)) AS h",
          "split(repeat('a b ', 20), ' ') AS toks")
        .selectExpr("id % 16 AS k", "h",
          "aggregate(toks, 0L, (a, t) -> a + length(t)) AS n")
        .groupBy("k").agg(org.apache.spark.sql.functions.count_distinct(
          org.apache.spark.sql.functions.col("h")))
        .write.format("noop").mode("overwrite").save()
      SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
      // warm the n-gram-precision shape (shingle explode → per-doc gram
      // counts → left join → clipped sums): its generated aggregate was
      // the one cold-JIT outlier in the driver's bench — 73 task-sec
      // cold vs 12.5 warm for the same q190 stage (r12 verdict item 9;
      // a cold driver charged ~20 s of JIT to the query). Tiny synthetic
      // input, same expression shapes, still untimed.
      val wdocs = spark.range(4000).selectExpr("id",
        "concat(repeat('warm gram text ', 3), cast(id % 7 AS string)) AS text")
      graft.operators.CorpusStats.ngramPrecision(wdocs, wdocs,
          "id", "text", n = 2)
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    val sidecar = new StringBuilder
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val loadStart = load1()
    // per-query tenancy + plan evidence: (load1 at start, task-seconds)
    val evidence = scala.collection.mutable.LinkedHashMap
      .empty[String, (Double, Double)]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      rec.clear()
      val ld = load1()
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        // read after the timing: the recorder drains the listener bus
        val all = rec.stages
        def mb(b: Long) = b / 1024.0 / 1024.0
        val taskSec = all.map(_.runMs).sum / 1000.0
        evidence += name -> (ld, taskSec)
        sidecar ++= f"===== $name wall=$sec%.2fs stages=${all.length} " +
          f"taskSec=$taskSec%.1f load1=$ld%.2f " +
          f"shufW=${mb(all.map(_.shuffleWriteB).sum)}%.1fMB " +
          f"shufR=${mb(all.map(_.shuffleReadB).sum)}%.1fMB\n"
        all.sortBy(-_.runMs).take(4).foreach { st =>
          sidecar ++= f"  stage=${st.id}%-5d tasks=${st.tasks}%-3d " +
            f"taskTime=${st.runMs / 1000.0}%8.2fs " +
            f"shufW=${mb(st.shuffleWriteB)}%7.1fMB shufR=${mb(st.shuffleReadB)}%7.1fMB\n"
        }
        name -> sec
      } catch {
        case e: Throwable =>
          // tenancy evidence on the FAILURE path too: adjudicating
          // whether an error/timeout was co-tenant load is exactly when
          // the sidecar matters. task_sec sums whatever stages completed
          // before the throw; -1 marks "none completed" apart from a
          // legitimately-zero trivial query.
          val done = rec.stages
          val taskSec =
            if (done.isEmpty) -1.0 else done.map(_.runMs).sum / 1000.0
          evidence += name -> (ld, taskSec)
          errors += name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          name -> -1.0
      }
    }
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(out.stripSuffix(".json") + "_stages.txt"),
        sidecar.toString)
    } catch { case _: Throwable => () } // bench result must not die on a doc write
    def jq(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // errored queries are null, not a -1.0 sentinel — a numeric sentinel
    // inside the queries map silently poisons cross-round total comparisons
    val qs = results.map { case (k, v) =>
      s"${jq(k)}:${if (v < 0) "null" else v.toString}"
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${jq(k)}:${jq(v)}" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val loadEnd = load1()
    val evJson = evidence.map { case (k, (ld, ts)) =>
      s"""${jq(k)}:{"load1":$ld,"task_sec":$ts}"""
    }.mkString("{", ",", "}")
    // cpus is a raw env string ("32", but also legitimately "*") —
    // emit it as a number only when it IS one, else quoted, so the
    // artifact stays parseable exactly when its failure evidence matters
    val cpusJson = scala.util.Try(cpus.trim.toInt.toString).getOrElse(jq(cpus))
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","n_errors":${errors.size},"errors":$errJson,"load1_start":$loadStart,"load1_end":$loadEnd,"cpus":$cpusJson,"evidence":$evJson}"""
    println(json)
    // ALSO write the JSON to a file: stdout scraping truncated past rounds'
    // artifacts (BENCH_r03.json stopped at 60/85 queries) — the file is the
    // complete, parseable record
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    catch { case _: Throwable => () } // bench result must not die on a doc write
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
