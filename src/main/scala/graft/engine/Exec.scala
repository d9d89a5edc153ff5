package graft.engine

import java.util.UUID
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Eager materialization with a cluster-safe escape hatch.
  *
  * Several operators here produce an intermediate that is consumed by two
  * or more downstream branches (LSH candidate pairs feeding both the
  * verify join and the component iteration; a gated corpus feeding block
  * totals and the row-level join). Left lazy, Catalyst re-derives the
  * whole upstream plan per consumer — the round-1 q33 pathology — so
  * those sites materialize exactly once.
  *
  * `localCheckpoint(eager = true)` is the right local tool: one job, rows
  * pinned as RDD blocks, lineage truncated. But the pinned blocks live in
  * EXECUTOR storage with no lineage to rebuild them — on a real cluster a
  * lost executor makes every downstream stage fail unrecoverably
  * (`Checkpoint block not found`), which at 100 TB is a when, not an if.
  * This helper keeps the eager-once semantics and switches the storage
  * medium past a size threshold: small frames localCheckpoint (cheap,
  * memory-speed re-reads), big frames write a staging parquet directory
  * and read it back (re-executable scan — an executor loss just re-reads
  * the files, and the staging dir can sit on shared storage).
  *
  * Tuning confs (read per call, so a session can adjust mid-flight):
  *  - `spark.graft.materialize.maxLocalBytes` — optimizer-estimated plan
  *    size above which staging parquet is used (default 8 GiB). Note the
  *    estimate is Catalyst's `stats.sizeInBytes`, which over-estimates
  *    badly above joins without CBO stats — an over-estimate here is
  *    benign (a small frame takes the durable path, costing one extra
  *    file write), never wrong.
  *  - `spark.graft.materialize.stagingDir` — where staging directories
  *    land (default `java.io.tmpdir/graft-staging`). On a cluster point
  *    this at shared storage (HDFS/object store). Staging dirs are
  *    registered for delete-on-exit with the filesystem.
  */
object Exec {
  val MaxLocalBytesKey = "spark.graft.materialize.maxLocalBytes"
  val StagingDirKey = "spark.graft.materialize.stagingDir"
  private val DefaultMaxLocalBytes: Long = 8L * 1024 * 1024 * 1024

  /** Where [[materialize]]'s durable path stages its parquet directories. */
  private def stagingRoot(spark: org.apache.spark.sql.SparkSession): String =
    spark.conf.get(StagingDirKey,
      s"${System.getProperty("java.io.tmpdir")}/graft-staging")

  /** Materialize `df` eagerly — blocking until the frame is computed —
    * and return a frame that re-reads the materialized rows instead of
    * re-running the plan. Column names, types, and order are preserved
    * exactly on both paths; on the durable path nullability may RELAX to
    * nullable (Spark marks every file-scan output nullable) — a value-safe
    * widening, never a narrowing. */
  def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val maxLocal = spark.conf
      .get(MaxLocalBytesKey, DefaultMaxLocalBytes.toString).toLong
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= BigInt(maxLocal)) df.localCheckpoint(true)
    else {
      val path = s"${stagingRoot(spark)}/${UUID.randomUUID()}"
      df.write.parquet(path)
      val p = new Path(path)
      p.getFileSystem(spark.sessionState.newHadoopConf()).deleteOnExit(p)
      // the declared schema (not footer sampling) keeps nullability and
      // column order byte-identical to the localCheckpoint path
      spark.read.schema(df.schema).parquet(path)
    }
  }

  /** [[materialize]] + aggregate evidence in ONE action: the metric
    * columns ride the pinning job via the Observation API, so the
    * count()/isEmpty()/head() companions the mutation paths previously
    * ran as separate (trivial but gap-bounded) Spark jobs cost nothing.
    * The index-maintenance and admission composites are fixed-overhead
    * bound at bench scale (~60 jobs for seconds of real work) and every
    * job carries scheduler+planning latency — this is the §1.2 "don't
    * run work you can get for free" lever applied to evidence scalars.
    * Metrics are any non-distinct aggregates (counts, sums, collect_set
    * over bounded domains). Values observe the rows as materialized —
    * exactly the frame every consumer reads. */
  def materializeObserved(df: DataFrame,
                          metrics: Map[String, org.apache.spark.sql.Column])
      : (DataFrame, Map[String, Any]) = {
    require(metrics.nonEmpty, "materializeObserved needs a metric")
    val obs = new org.apache.spark.sql.Observation(
      s"mat_${UUID.randomUUID().toString.take(8)}")
    val cols = metrics.map { case (n, c) => c.as(n) }.toSeq
    val pinned = materialize(df.observe(obs, cols.head, cols.tail: _*))
    // PropagateEmptyRelation can prune an observed plan outright (a
    // provably-empty frame), in which case no metric ever lands and
    // obs.get is an empty map — recompute over the PINNED rows (the
    // same row set) on that rare path
    val got = obs.get
    val m = if (got.nonEmpty) got else {
      val row = pinned.agg(cols.head, cols.tail: _*).head()
      metrics.keys.map(n => n -> row.getAs[Any](n)).toMap
    }
    (pinned, m)
  }

  /** [[materialize]] returning the row count from the SAME job. */
  def materializeCounted(df: DataFrame): (DataFrame, Long) = {
    val (pinned, m) = materializeObserved(df,
      Map("n" -> org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1))))
    (pinned, m("n").asInstanceOf[Long])
  }

  /** [[materialize]] unless `df` is ALREADY pinned rows — a
    * deterministic projection/filter over a prior materialization (or
    * literal rows), which every consumer re-reads from storage at scan
    * cost with nothing upstream to re-derive. The admission paths pin a
    * batch once and pass slices of it through knnJoinPq/reindexPq, each
    * of which defensively materializes its input; re-pinning a pinned
    * frame is one full copy job for zero protection (the rows are
    * already stable — the non-determinism contract those sites guard is
    * about UNPINNED inputs). */
  def materializeIfNeeded(df: DataFrame): DataFrame =
    if (isPinned(df.queryExecution.analyzed)) df else materialize(df)

  private def isPinned(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    plan match {
      case p: Project =>
        p.projectList.forall(_.deterministic) && isPinned(p.child)
      case f: Filter => f.condition.deterministic && isPinned(f.child)
      case s: SubqueryAlias => isPinned(s.child)
      case _: LocalRelation => true
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        // the durable-path staging parquet (see materialize): stable
        // rows by construction; any OTHER relation is a live table a
        // caller may be snapshotting against concurrent writes
        r.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            val staging = new Path(stagingRoot(h.sparkSession)).toUri.getPath
            h.location.rootPaths.nonEmpty &&
              h.location.rootPaths.forall(
                _.toUri.getPath.startsWith(staging))
          case _ => false
        }
      case _ => false
    }
  }

  /** In-flight pipeline metrics via Spark's Observation API: attach
    * aggregate expressions (row counts, null counts, min/max watermarks)
    * that are computed DURING whatever action consumes the returned
    * frame — a 100 TB pipeline reports its audit numbers for free,
    * instead of paying a second full scan per metric the way a separate
    * `df.count()` / `agg()` would.
    *
    * Returns the instrumented frame and a thunk that yields the metric
    * map; call the thunk AFTER an action has run the frame (it blocks
    * briefly until the observation lands). Metrics observe the rows
    * flowing at THIS point of the plan — before downstream filters,
    * after upstream ones — which is exactly what a stage-level audit
    * wants. */
  def observed(df: DataFrame, name: String,
               metrics: Map[String, org.apache.spark.sql.Column])
      : (DataFrame, () => Map[String, Any]) = {
    require(metrics.nonEmpty, "observed needs at least one metric column")
    val obs = new org.apache.spark.sql.Observation(name)
    val cols = metrics.map { case (n, c) => c.as(n) }.toSeq
    val out = df.observe(obs, cols.head, cols.tail: _*)
    (out, () => obs.get)
  }
}
