package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** One timed call into a layer. Times are epoch milliseconds (the clock
  * Spark stamps its events with) plus nanoTime for durations. */
final case class Span(id: Int, parent: Int, pass: Int, layer: String,
                      op: String, startMs: Long, endMs: Long,
                      startNs: Long, endNs: Long, io: Io) {
  def seconds: Double = (endNs - startNs) / 1e9
  def key: String = s"$layer.$op"
}

/** `/proc/self/io` counters: bytes and calls through read/write syscalls
  * of the whole process (Spark tasks run in this JVM in local mode). */
final case class Io(rchar: Long, wchar: Long, syscr: Long, syscw: Long) {
  def -(o: Io): Io = Io(rchar - o.rchar, wchar - o.wchar,
    syscr - o.syscr, syscw - o.syscw)
}

object Io {
  /** CPU time the hypervisor gave to other guests, all CPUs (ticks). */
  def steal(): Long = scala.io.Source.fromFile("/proc/stat").getLines().next()
    .split("\\s+")(8).toLong

  def now(): Io = {
    val kv = scala.io.Source.fromFile("/proc/self/io").getLines()
      .map(_.split(":\\s*")).collect { case Array(k, v) => k -> v.trim.toLong }
      .toMap
    Io(kv("rchar"), kv("wchar"), kv("syscr"), kv("syscw"))
  }
}

/** Spans around the benchmark's calls into the engine, kept in memory.
  * The client is one closed-loop thread, so a stack gives each span its
  * parent. Disabled, `span` is a plain call. */
final class Tracer {
  @volatile var on = false
  var pass = -1
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def span[T](layer: String, op: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += null // reserve the id; children append after it
      stack = id :: stack
      val (ms0, ns0, io0) = (System.currentTimeMillis(), System.nanoTime(), Io.now())
      try body
      finally {
        stack = stack.tail
        spans(id) = Span(id, parent, pass, layer, op, ms0,
          System.currentTimeMillis(), ns0, System.nanoTime(), Io.now() - io0)
      }
    }
}

final case class JobRec(pass: Int, startMs: Long, var endMs: Long)
final case class StageRec(pass: Int, tasks: Int, runMs: Long,
                          shuffleWrite: Long, shuffleRead: Long, spill: Long)
final case class SqlRec(pass: Int, exchanges: Int, codegenStages: Int)

/** Counts from Spark's own event stream, each tagged with the pass that
  * produced it. The bus is drained before the pass index moves on, so a
  * late-delivered event still lands in its own pass. */
final class Counts extends SparkListener {
  @volatile var pass = -1
  @volatile var on = false
  val jobs = ArrayBuffer.empty[JobRec]
  private val jobById = scala.collection.mutable.Map.empty[Int, JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val sql = ArrayBuffer.empty[SqlRec]
  /** (pass, bytes) per RDD block stored — the engine's pinned iterates. */
  val pins = ArrayBuffer.empty[(Int, Long)]
  /** (pass, files, bytes) per file-writing command. */
  val writes = ArrayBuffer.empty[(Int, Long, Long)]
  private val plans = scala.collection.mutable.Map.empty[Long, SparkPlanInfo]
  private val writeAccums = scala.collection.mutable.Map.empty[Long, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    val j = JobRec(pass, e.time, e.time)
    jobs += j
    jobById(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobById.remove(e.jobId).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages += StageRec(pass, i.numTasks, m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
      m.diskBytesSpilled)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (on) {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      pins += ((pass, b.memSize + b.diskSize))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (on) e match {
    case s: SparkListenerSQLExecutionStart =>
      plans(s.executionId) = s.sparkPlanInfo
      noteWriteMetrics(s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      if (plans.contains(u.executionId)) plans(u.executionId) = u.sparkPlanInfo
    case a: SparkListenerDriverAccumUpdates =>
      var files = 0L; var bytes = 0L
      a.accumUpdates.foreach { case (id, v) =>
        writeAccums.get(id) match {
          case Some("files") => files += v
          case Some("bytes") => bytes += v
          case _ =>
        }
      }
      if (files > 0 || bytes > 0) writes += ((pass, files, bytes))
    case x: SparkListenerSQLExecutionEnd =>
      plans.remove(x.executionId).foreach { p =>
        val nodes = flatten(p)
        sql += SqlRec(pass,
          nodes.count(n => n.nodeName == "Exchange" ||
            n.nodeName == "BroadcastExchange"),
          nodes.count(_.nodeName.startsWith("WholeStageCodegen")))
      }
    case _ =>
  }

  private def flatten(p: SparkPlanInfo): Seq[SparkPlanInfo] =
    p +: p.children.flatMap(flatten)

  // the write command's driver-side metrics arrive as accumulator
  // updates; their ids are only named in the plan
  private def noteWriteMetrics(p: SparkPlanInfo): Unit =
    flatten(p).flatMap(_.metrics).foreach { m =>
      if (m.name == "number of written files") writeAccums(m.accumulatorId) = "files"
      else if (m.name == "written output") writeAccums(m.accumulatorId) = "bytes"
    }
}
