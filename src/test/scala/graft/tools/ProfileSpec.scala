package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import graft.SparkSpec

class ProfileSpec extends SparkSpec {

  test("recorder: back-to-back queries each record exactly their own jobs " +
      "and stages") {
    val sc = spark.sparkContext
    // a slow listener ahead of the recorder on the same bus queue delays
    // each job's end event past the action's return, so a read that does
    // not drain the bus misses it and a clear that does not drain lets it
    // land in the next query
    val slow = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Thread.sleep(300)
    }
    sc.addSparkListener(slow)
    val rec = new Profile.Recorder(sc)
    try {
      def run(group: String): (Seq[Profile.Job], Seq[Profile.Stage]) = {
        rec.clear()
        sc.setJobGroup(group, group)
        try spark.range(0, 20000, 1, 2).selectExpr("id % 7 AS k", "id")
          .groupBy("k").count()
          .write.format("noop").mode("overwrite").save()
        finally sc.clearJobGroup()
        (rec.jobs, rec.stages)
      }
      val runs = Seq("profile-a", "profile-b").map(g => g -> run(g))
      runs.foreach { case (group, (jobs, stages)) =>
        val own = sc.statusTracker.getJobIdsForGroup(group).toSet
        assert(own.nonEmpty)
        assert(jobs.map(_.id).toSet == own, group)
        assert(jobs.forall(_.desc == group), jobs)
        // a job lists the stages it skipped too; only the ones that ran
        // complete
        val ran = own.flatMap(id => sc.statusTracker.getJobInfo(id).toSeq
            .flatMap(_.stageIds.toSeq))
          .filter(id => sc.statusTracker.getStageInfo(id)
            .exists(_.numCompletedTasks > 0))
        assert(ran.nonEmpty)
        assert(stages.map(_.id).toSet == ran, group)
      }
    } finally { rec.detach(); sc.removeSparkListener(slow) }
  }

  test("gaps: the wall is the union of the job intervals plus the " +
      "reported gaps") {
    def job(id: Int, s: Long, e: Long) = Profile.Job(id, s, e, "?", Nil)
    def covered(t0: Long, t1: Long, jobs: Seq[Profile.Job]) =
      (t0 until t1).count(t => jobs.exists(j => t >= j.submitMs && t < j.endMs))

    // out of submit order, one job nested in another, two overlapping, and
    // driver time before the first job and after the last
    val jobs = Seq(job(3, 1500, 1600), job(1, 1100, 1300), job(2, 1200, 1250),
      job(4, 1550, 1700), job(5, 1800, 1850))
    val (before, tail) = Profile.gaps(1000L, 2000L, jobs)
    assert(before.map(_._1.id) == Seq(1, 2, 3, 4, 5))
    assert(before.map(_._2) == Seq(100L, 0L, 200L, 0L, 100L))
    assert(tail == 150L)
    assert(covered(1000L, 2000L, jobs) + before.map(_._2).sum + tail == 1000L)

    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val (t0, t1) = (0L, 500L)
      val js = (0 until rnd.nextInt(8)).map { i =>
        val s = rnd.nextInt(500).toLong
        job(i, s, s + rnd.nextInt((500 - s).toInt + 1))
      }
      val (b, t) = Profile.gaps(t0, t1, js)
      assert(covered(t0, t1, js) + b.map(_._2).sum + t == t1 - t0, js)
    }
  }
}
