package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (type 2) history maintenance — the
  * warehouse-dimension twin of the reference's join-update repair programs
  * (SURVEY.md J3/J9): instead of overwriting an attribute in place, every
  * change OPENS a new version row and CLOSES the previous one, so any
  * past state of the dimension is queryable with
  * `valid_from <= t AND (valid_to > t OR valid_to IS NULL)`.
  *
  * Two entry points:
  *  - [[fromChangeLog]] rebuilds the full history from a change log in
  *    one pass — the backfill / bootstrap path.
  *  - [[merge]] folds an incremental batch into an existing history
  *    touching ONLY open rows + the batch — the nightly path. Closed
  *    rows are immutable and never reshuffled, so the incremental cost is
  *    `O(|batch| + |keys|)` regardless of history depth — the property
  *    that makes type-2 maintenance viable on a 100 TB dimension.
  *
  * Determinism contract: `(keys, tsCol, tieCol)` must uniquely identify
  * log rows (the tie column — an event id, a load sequence — breaks
  * equal-timestamp ties), so the version sequence is a pure function of
  * the log's ROW SET and any engine replays it exactly.
  *
  * Streaming: land the raw change rows exactly-once with
  * [[Warehouse.streamingAppend]] (its promote protocol makes replayed
  * micro-batches no-ops, and its replay markers live at the table root,
  * so a merge or compaction between runs keeps them — no SCD-specific
  * machinery needed), then derive
  * history as `fromChangeLog(wh.read(logTable))`, or keep a materialized
  * snapshot current with [[merge]] between stream runs. Because the
  * version sequence is a pure function of the log's row set, the
  * streamed-log history is IDENTICAL to the batch one whatever the batch
  * boundaries were — ScdSpec pins the composition.
  */
object Scd {

  private val Meta = Seq("valid_from", "valid_to", "version", "is_current")

  /** Rebuild type-2 history from a change log.
    *
    * Input: one row per observed state `(keys, tsCol, tieCol, attrs…)`.
    * Consecutive rows (per key, in `(tsCol, tieCol)` order) with
    * identical attribute tuples collapse into one version — re-observing
    * an unchanged state is not a change (null-safe comparison: null
    * attributes equal null attributes).
    *
    * Output: `keys ++ attrs ++ (valid_from, valid_to, version,
    * is_current)` — `valid_to` is the next version's `valid_from`
    * (half-open intervals, so versions tile the timeline with no gaps or
    * overlaps), null on the current row; `version` counts from 1 per key.
    *
    * Scale: ONE hash shuffle on `keys`; both window passes and the
    * duplicate-run collapse share its partitioning (the collapse compares
    * each row to its immediate predecessor, which equals the last KEPT
    * row because equal runs collapse transitively). Nothing is collected
    * and no state outlives its window frame.
    */
  def fromChangeLog(log: DataFrame, keys: Seq[String], tsCol: String,
                    tieCol: String, attrs: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "scd needs at least one key column")
    require(attrs.nonEmpty, "scd needs at least one tracked attribute")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    val attrTuple = struct(attrs.map(col): _*)
    log
      .select((keys ++ Seq(tsCol, tieCol) ++ attrs).map(col): _*)
      .withColumn("__prev", lag(attrTuple, 1).over(w))
      // first row per key: lag is null, null <=> tuple is false -> kept
      .filter(!(col("__prev") <=> attrTuple))
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("version", row_number().over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select((keys ++ attrs ++ Meta).map(col): _*)
  }

  /** Fold an incremental `batch` of change-log rows into an existing
    * `hist` (a frame shaped like [[fromChangeLog]]'s output).
    *
    * Mechanics: each key's OPEN row re-enters a miniature change log as
    * its version-opening observation (tie = Long.MinValue orders it
    * before any real batch row at the same timestamp), the batch unions
    * in, and [[fromChangeLog]] rebuilds just that sub-log. Version
    * numbers continue from the open row's own `version` (it already
    * counts every prior version, so no scan of closed history is needed);
    * closed rows pass through untouched.
    *
    * Contract: every batch row must sort at/after its key's open
    * `valid_from` (`tsCol` strictly greater, or equal — the MinValue tie
    * orders the open row first). Under that contract the result is ROW
    * IDENTICAL to `fromChangeLog` over the concatenated full log —
    * ScdSpec pins the equivalence, including re-observations of the open
    * state (collapsed, no new version) and same-timestamp batch ties.
    * Late rows older than an open version belong to a backfill rebuild,
    * not an incremental merge.
    *
    * `tieCol` must be integral (the MinValue sentinel needs an order
    * floor). Scale: one `keys` shuffle over `open ∪ batch` + one
    * |keys|-sized offset join; `closed` is never shuffled.
    *
    * `validate = true` (default) ENFORCES the late-row contract with one
    * EAGER aggregate over `batch ⋈ open` before anything is built: a
    * batch row with `tsCol` strictly before its key's open `valid_from`
    * would otherwise silently corrupt history — versions interleaved
    * before the open row while closed rows stay untouched, yielding
    * overlapping validity intervals. Violations raise, directing the
    * caller to a [[fromChangeLog]] rebuild. The check costs one keyed
    * join at the merge's own scale; pass `validate = false` only when an
    * upstream watermark already proves the contract. */
  def merge(hist: DataFrame, batch: DataFrame, keys: Seq[String], tsCol: String,
            tieCol: String, attrs: Seq[String],
            validate: Boolean = true): DataFrame = {
    // open feeds THREE consumers (the validate count, openLog, offsets);
    // without materializing, a non-trivial hist plan — fromChangeLog
    // over a large log, not a plain table read — re-executes per
    // consumer. closed has one consumer and keeps its lineage.
    val open = Exec.materialize(hist.filter(col("is_current")))
    val closed = hist.filter(!col("is_current"))
    if (validate) {
      val openFrom = open.select(
        keys.map(col) :+ col("valid_from").as("__open_from"): _*)
      val late = batch.join(openFrom, keys)
        .filter(col(tsCol) < col("__open_from")).count()
      require(late == 0L,
        s"Scd.merge: $late batch rows sort before their key's open " +
          "valid_from — late-arriving history cannot merge incrementally " +
          "(closed rows are immutable); rebuild via fromChangeLog over " +
          "the full log")
    }
    val openLog = open.select(
      (keys.map(col) :+ col("valid_from").as(tsCol) :+
        lit(Long.MinValue).as(tieCol)) ++ attrs.map(col): _*)
    val batchLog = batch.select(
      (keys.map(col) :+ col(tsCol) :+ col(tieCol).cast("long")) ++
        attrs.map(col): _*)
    val rebuilt = fromChangeLog(openLog.unionByName(batchLog),
      keys, tsCol, tieCol, attrs)
    // per-key version offset = versions preceding the open row; keys new
    // in this batch have no open row -> offset 0
    val offsets = open.select(
      keys.map(col) :+ (col("version") - 1).as("__off"): _*)
    val renumbered = rebuilt.join(offsets, keys, "left")
      .withColumn("version",
        (col("version") + coalesce(col("__off"), lit(0))).cast("int"))
      .drop("__off")
    closed.unionByName(renumbered)
  }

  /** Dimension state as of instant `t`: at most one row per key — the
    * version whose half-open validity interval covers `t`. */
  def asOf(hist: DataFrame, t: Any): DataFrame =
    hist.filter(col("valid_from") <= lit(t) &&
        (col("valid_to").isNull || col("valid_to") > lit(t)))
      .drop(Meta: _*)
}
