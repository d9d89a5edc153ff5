package graft.engine

import java.util.UUID
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, functions}

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
  def materialize(df: DataFrame): DataFrame = pin(df, pastLocal(df))

  /** Whether Catalyst's size estimate of `df` is past `maxLocalBytes`. */
  private def pastLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(df.sparkSession
      .conf.get(MaxLocalBytesKey, DefaultMaxLocalBytes.toString).toLong)

  private def pin(df: DataFrame, durable: Boolean): DataFrame =
    if (!durable) df.localCheckpoint(true)
    else {
      val spark = df.sparkSession
      val path = s"${stagingRoot(spark)}/${UUID.randomUUID()}"
      df.write.parquet(path)
      val p = new Path(path)
      p.getFileSystem(spark.sessionState.newHadoopConf()).deleteOnExit(p)
      // the declared schema (not footer sampling) keeps nullability and
      // column order byte-identical to the localCheckpoint path
      spark.read.schema(df.schema).parquet(path)
    }

  /** [[materialize]] + aggregate evidence in ONE action: the metric
    * columns ride the pinning job via the Observation API, so a
    * count()/isEmpty()/head() companion costs no Spark job of its own.
    * Metrics are any non-distinct aggregates (counts, sums, collect_set
    * over bounded domains), observed on the rows as materialized —
    * exactly the frame every consumer reads. */
  def materializeObserved(df: DataFrame,
                          metrics: Map[String, Column])
      : (DataFrame, Map[String, Any]) = pinObserved(df, metrics)(materialize)

  private def pinObserved(df: DataFrame, metrics: Map[String, Column])
                         (cut: DataFrame => DataFrame)
      : (DataFrame, Map[String, Any]) = {
    require(metrics.nonEmpty, "materializeObserved needs a metric")
    val obs = new org.apache.spark.sql.Observation(
      s"mat_${UUID.randomUUID().toString.take(8)}")
    val cols = metrics.map { case (n, c) => c.as(n) }.toSeq
    val pinned = cut(df.observe(obs, cols.head, cols.tail: _*))
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
      Map("n" -> functions.count(functions.lit(1))))
    (pinned, m("n").asInstanceOf[Long])
  }

  /** [[iterate]]'s stop test: stop at the first round whose `metrics`,
    * observed on its cut, equal the previous round's (`seed` holds the
    * values observed on `init`'s pin). A loop that runs out of rounds
    * first throws `IllegalStateException(notConverged)`: a partial
    * iterate is a wrong answer, not a slow one. */
  final case class FixedPoint(metrics: Map[String, Column],
                              seed: Map[String, Any], notConverged: String)

  /** Up to `maxRounds` applications of `step` to `init` — the one place
    * that decides where an iterate is cut. Every round is pinned except
    * the last round of a fixed-count loop, which comes back unpinned for
    * the caller's own action to run: the result plans one round over one
    * pinned state whatever the round count (uncut, a step that reads its
    * state twice doubles its plan every round). With `until` every round
    * is cut, its metrics ride the pin and the loop stops at a fixed point.
    * The pin medium is chosen once, from `init`: a state keeps one row
    * per key, while a round's own estimate multiplies its join inputs (no
    * CBO) and would stage a kilobyte vector to parquet. */
  def iterate(init: DataFrame, maxRounds: Int,
              until: Option[FixedPoint] = None)
             (step: DataFrame => DataFrame): DataFrame = {
    require(maxRounds >= 0, s"round count must be >= 0, got $maxRounds")
    val durable = pastLocal(init)
    val cut = (df: DataFrame) => pin(df, durable)
    @annotation.tailrec
    def loop(state: DataFrame, prev: Map[String, Any], round: Int): DataFrame =
      until match {
        case None if round == maxRounds => state
        case None if round + 1 == maxRounds => step(state)
        case None => loop(cut(step(state)), prev, round + 1)
        case Some(fp) if round == maxRounds =>
          throw new IllegalStateException(fp.notConverged)
        case Some(fp) =>
          val (next, m) = pinObserved(step(state), fp.metrics)(cut)
          if (m == prev) next else loop(next, m, round + 1)
      }
    loop(init, until.fold(Map.empty[String, Any])(_.seed), 0)
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
