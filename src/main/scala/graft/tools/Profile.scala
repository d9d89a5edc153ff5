package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.graft.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}
import org.json4s.{DefaultFormats, Extraction}
import org.json4s.jackson.JsonMethods
import graft.SparkEntry
import graft.engine.SessionDefaults

/** Per-query profile: one JSON line per query with its wall time, every
  * Spark job it ran with the driver gap before it (planning, file listing,
  * commits, collects), every stage (tasks, run time, GC, shuffle read and
  * write, spill, input) and the first 40 lines of the executed plan.
  *
  * {{{
  * runMain graft.tools.Profile <query>...
  * runMain graft.tools.Profile --explain <tag> <suffix> <query>...
  * }}}
  * The second form runs no query: it writes each query's pre-execution
  * (AQE initial) `explain("formatted")` to `plans/<tag>/<query>_<suffix>.txt`,
  * the diffable before/after plan evidence an optimization commits.
  *
  * Inputs come from `SPARK_GRAFT_SF_DIR` (default sf0.1). The session runs
  * at `local[32]`; `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"` adds session confs
  * for an ad-hoc A/B of a setting.
  */
object Profile {

  /** A finished job. Times are driver epoch millis; `desc` is the job
    * description, else the short call site of the action. */
  final case class Job(id: Int, submitMs: Long, endMs: Long, desc: String,
                       stageIds: Seq[Int])

  /** A completed stage attempt, its task metrics summed over its tasks. */
  final case class Stage(id: Int, name: String, tasks: Int, runMs: Long,
                         gcMs: Long, wallMs: Long, shuffleReadB: Long,
                         shuffleWriteB: Long, spillB: Long, inputB: Long)

  /** Records every job and stage that finishes on `sc` from construction
    * until [[detach]]. Every read drains the listener bus first, so a read
    * after an action sees all of that action's events, and a [[clear]]
    * before the next action leaves none of them to be charged to it. */
  final class Recorder(sc: SparkContext) extends SparkListener {
    private val running = new ConcurrentHashMap[Int, SparkListenerJobStart]()
    private val doneJobs = new ConcurrentLinkedQueue[Job]()
    private val doneStages = new ConcurrentLinkedQueue[Stage]()
    sc.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      running.put(e.jobId, e); ()
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(running.remove(e.jobId)).foreach { s =>
        // the result stage is created after its parents, so it has the
        // job's highest stage id; its name is the job's short call site
        val desc = Option(s.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(s.stageInfos.maxBy(_.stageId).name)
        doneJobs.add(Job(e.jobId, s.time, e.time, desc, s.stageIds))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val wall = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s)
        .getOrElse(-1L)
      doneStages.add(Stage(i.stageId, i.name, i.numTasks, m.executorRunTime,
        m.jvmGCTime, wall,
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
        m.inputMetrics.bytesRead))
    }

    def clear(): Unit = { Bus.drain(sc); doneJobs.clear(); doneStages.clear() }
    /** Finished jobs in submit order. */
    def jobs: Seq[Job] = { Bus.drain(sc); doneJobs.asScala.toSeq.sortBy(_.submitMs) }
    /** Completed stages in completion order. */
    def stages: Seq[Stage] = { Bus.drain(sc); doneStages.asScala.toSeq }
    def detach(): Unit = sc.removeSparkListener(this)
  }

  /** Each job (in submit order) with the time before it, from `t0`, that no
    * earlier job covers, and the uncovered time after the last job up to
    * `t1`. For jobs inside [t0, t1] these gaps and the union of the job
    * intervals add up to `t1 - t0`: the driver-only share of the wall. */
  def gaps(t0: Long, t1: Long, jobs: Seq[Job]): (Seq[(Job, Long)], Long) = {
    var cursor = t0
    val before = jobs.sortBy(_.submitMs).map { j =>
      val gap = math.max(0L, j.submitMs - cursor)
      cursor = math.max(cursor, j.endMs)
      j -> gap
    }
    (before, math.max(0L, t1 - cursor))
  }

  /** Runs query `name` once on `rec`'s context and returns its JSON line. */
  def profile(spark: SparkSession, rec: Recorder, dir: String,
              name: String): String = {
    rec.clear()
    val t0 = System.currentTimeMillis()
    val qe = SparkEntry.queries(name)(spark, dir).queryExecution
    // run the query's own plan over every row and column (the work a noop
    // sink forces), so the plan printed below is the one AQE finalized
    SQLExecution.withNewExecutionId(qe, Some(name))(qe.toRdd.foreach(_ => ()))
    val t1 = System.currentTimeMillis()
    val (jobs, tail) = gaps(t0, t1, rec.jobs)
    def sec(ms: Long) = ms / 1e3
    def mb(b: Long) = math.round(b / 1048.576) / 1e3
    val line = ListMap(
      "query" -> name,
      "wall_s" -> sec(t1 - t0),
      "driver_gap_s" -> sec(jobs.map(_._2).sum + tail),
      "tail_gap_s" -> sec(tail),
      "jobs" -> jobs.map { case (j, gap) =>
        ListMap("id" -> j.id, "gap_s" -> sec(gap), "run_s" -> sec(j.endMs - j.submitMs),
          "stages" -> j.stageIds, "desc" -> j.desc)
      },
      "stages" -> rec.stages.map { s =>
        ListMap("id" -> s.id, "tasks" -> s.tasks, "run_s" -> sec(s.runMs),
          "gc_s" -> sec(s.gcMs), "wall_s" -> sec(s.wallMs),
          "shuffle_read_mb" -> mb(s.shuffleReadB),
          "shuffle_write_mb" -> mb(s.shuffleWriteB), "spill_mb" -> mb(s.spillB),
          "input_mb" -> mb(s.inputB), "name" -> s.name)
      },
      "plan" -> qe.executedPlan.toString.linesIterator.map(_.take(120)).take(40).toSeq)
    JsonMethods.compact(JsonMethods.render(Extraction.decompose(line)(DefaultFormats)))
  }

  def main(args: Array[String]): Unit = {
    val (explain, names) = args.toSeq match {
      case "--explain" +: tag +: suffix +: qs => (Some((tag, suffix)), qs)
      case qs => (None, qs)
    }
    require(names.nonEmpty && !names.head.startsWith("--"),
      "usage: Profile [--explain <tag> <suffix>] <query>...")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = SessionDefaults.localSession("32", "ERROR", extra)
    explain match {
      case Some((tag, suffix)) =>
        val outDir = Paths.get(s"plans/$tag")
        Files.createDirectories(outDir)
        names.foreach { n =>
          val txt = SparkEntry.queries(n)(spark, dir).queryExecution
            .explainString(FormattedMode)
          Files.writeString(outDir.resolve(s"${n}_$suffix.txt"), txt)
          println(s"wrote plans/$tag/${n}_$suffix.txt (${txt.length} chars)")
        }
      case None =>
        val rec = new Recorder(spark.sparkContext)
        names.foreach(n => println(profile(spark, rec, dir, n)))
    }
    spark.stop()
  }
}
