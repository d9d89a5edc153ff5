package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ExecSpec extends SparkSpec {
  import spark.implicits._

  private def fixture = Seq(
    (1L, "alpha", Some(1.5)), (2L, "beta", None), (3L, "gamma", Some(-2.0)))
    .toDF("id", "name", "x")

  test("observed: metrics land during the consuming action — no second " +
      "scan, values exact, observation point respects the plan position") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (df, get) = Exec.observed(
        fixture.filter(col("id") > 1), // observation sits ABOVE this filter
        "audit",
        Map("n" -> count(lit(1)), "nulls_x" -> count(when(col("x").isNull, 1)),
          "max_id" -> max(col("id"))))
      // downstream filter must NOT affect the observed numbers
      val consumed = df.filter(col("name") =!= "beta")
      jobs.set(0)
      val rows = consumed.count()
      val m = get() // blocks until the observation lands
      org.apache.spark.graft.Bus.drain(spark.sparkContext)
      assert(rows == 1L)
      assert(m("n") == 2L && m("nulls_x") == 1L && m("max_id") == 3L)
      assert(jobs.get() <= 2, s"metrics must ride the consuming action, " +
        s"not extra jobs (saw ${jobs.get()})")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("materialize: small frames take the localCheckpoint path, same rows") {
    val df = fixture.filter(col("id") > 0)
    val m = Exec.materialize(df)
    assert(m.schema == df.schema)
    assert(m.collect().map(_.toSeq).toSet == df.collect().map(_.toSeq).toSet)
    // lineage is truncated: the materialized plan no longer references the
    // original local relation (re-reads blocks, not the plan)
    assert(m.queryExecution.optimizedPlan.toString != df.queryExecution.optimizedPlan.toString)
  }

  test("materializeCounted/Observed: the count rides the pinning job on " +
      "BOTH storage paths, values exact") {
    // localCheckpoint path
    val (m1, n1) = Exec.materializeCounted(fixture.filter(col("id") > 1))
    assert(n1 == 2L && m1.count() == 2L)
    // metrics beyond the count
    val (m2, mm) = Exec.materializeObserved(fixture,
      Map("n" -> count(lit(1)), "ids" -> collect_set(col("id"))))
    assert(mm("n") == 3L)
    assert(mm("ids").asInstanceOf[Seq[Long]].toSet == Set(1L, 2L, 3L))
    assert(m2.count() == 3L)
    // durable (staging parquet) path
    val staging = java.nio.file.Files.createTempDirectory("graft-exec-mc").toString
    spark.conf.set(Exec.MaxLocalBytesKey, "0")
    spark.conf.set(Exec.StagingDirKey, staging)
    try {
      val (m3, n3) = Exec.materializeCounted(fixture.filter(col("id") < 3))
      assert(n3 == 2L && m3.count() == 2L)
    } finally {
      spark.conf.unset(Exec.MaxLocalBytesKey)
      spark.conf.unset(Exec.StagingDirKey)
    }
  }

  test("materializeIfNeeded: skips a deterministic slice of a pinned frame, " +
      "re-pins anything else") {
    val pinned = Exec.materialize(fixture)
    // a deterministic projection of pinned rows is already stable — no copy
    val slice = pinned.select(col("id"), col("name")).filter(col("id") > 1)
    assert(Exec.materializeIfNeeded(slice) eq slice)
    // a non-deterministic projection must re-pin
    val rnd = pinned.select(col("id"), rand().as("r"))
    assert(!(Exec.materializeIfNeeded(rnd) eq rnd))
    // an aggregation must re-pin
    val agg = pinned.groupBy(col("name")).count()
    assert(!(Exec.materializeIfNeeded(agg) eq agg))
    // a staged-parquet materialization also counts as pinned
    val staging = java.nio.file.Files.createTempDirectory("graft-exec-in").toString
    spark.conf.set(Exec.MaxLocalBytesKey, "0")
    spark.conf.set(Exec.StagingDirKey, staging)
    try {
      val staged = Exec.materialize(fixture)
      val sliced = staged.select(col("id"))
      assert(Exec.materializeIfNeeded(sliced) eq sliced)
    } finally {
      spark.conf.unset(Exec.MaxLocalBytesKey)
      spark.conf.unset(Exec.StagingDirKey)
    }
    // a raw (non-staging) relation is NOT pinned — it may be a live table
    val tmp = java.nio.file.Files.createTempDirectory("graft-exec-raw").toString
    fixture.write.mode("overwrite").parquet(s"$tmp/t")
    val live = spark.read.parquet(s"$tmp/t")
    assert(!(Exec.materializeIfNeeded(live) eq live))
  }

  test("materialize: past the size threshold it stages to parquet, same rows+schema") {
    val staging = java.nio.file.Files.createTempDirectory("graft-exec-spec").toString
    spark.conf.set(Exec.MaxLocalBytesKey, "0") // force the durable path
    spark.conf.set(Exec.StagingDirKey, staging)
    try {
      val df = fixture.withColumn("arr", array(col("id"), col("id") * 2))
      val m = Exec.materialize(df)
      // names/types/order exact; nullability may relax (file scans are
      // all-nullable in Spark) — value-safe, asserted as widening-only
      assert(m.schema.fields.map(f => (f.name, f.dataType.sql)).toSeq ==
        df.schema.fields.map(f => (f.name, f.dataType.sql)).toSeq)
      df.schema.fields.zip(m.schema.fields).foreach { case (o, n) =>
        assert(n.nullable || !o.nullable)
      }
      assert(m.collect().map(_.toSeq).toSet == df.collect().map(_.toSeq).toSet)
      // the staging dir actually received a parquet directory
      val staged = new java.io.File(staging).listFiles()
      assert(staged != null && staged.nonEmpty)
      // and the returned plan is a file scan of it, not the original plan
      assert(m.queryExecution.optimizedPlan.toString.contains("Relation"))
    } finally {
      spark.conf.unset(Exec.MaxLocalBytesKey)
      spark.conf.unset(Exec.StagingDirKey)
    }
  }

  test("iterate: a fixed-count loop cuts every round but the last; a " +
      "fixed-point loop cuts every round, stops where the metrics repeat, " +
      "and throws when it runs out of rounds first") {
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.execution.LogicalRDD
    val init = Seq(0L, 10L).toDF("v")
    val inc = (df: org.apache.spark.sql.DataFrame) =>
      df.select((col("v") + 1).as("v"))
    assert(Exec.iterate(init, 0)(inc) eq init)
    val five = Exec.iterate(init, 5)(inc)
    assert(five.collect().map(_.getLong(0)).toSet == Set(5L, 15L))
    // the last round is left for the caller's action: one step over a pin
    five.queryExecution.analyzed match {
      case p: Project => assert(p.child.isInstanceOf[LogicalRDD], p)
      case other => fail(s"last round was pinned: $other")
    }
    // capped at 3: rounds 1..3 change max(v), round 4 repeats it
    var rounds = 0
    val capped = (df: org.apache.spark.sql.DataFrame) => {
      rounds += 1
      df.select(least(col("v") + 1, lit(3L)).as("v"))
    }
    val stop = Exec.FixedPoint(Map("mx" -> max(col("v"))), Map("mx" -> 0L),
      "no fixed point")
    val fixed = Exec.iterate(Seq(0L).toDF("v"), 20, Some(stop))(capped)
    assert(rounds == 4)
    assert(fixed.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(fixed.collect().map(_.getLong(0)).toSeq == Seq(3L))
    rounds = 0
    val e = intercept[IllegalStateException] {
      Exec.iterate(Seq(0L).toDF("v"), 2, Some(stop))(capped)
    }
    assert(e.getMessage == "no fixed point" && rounds == 2)
  }
}
