package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distribution-drift measurement between two frames — the "did this
  * publish / new crawl / upstream schema change shift the data" audit
  * that complements [[graft.engine.Warehouse.diffVersions]] (key-level)
  * with a DISTRIBUTION-level view. Training-data pipelines run this
  * between corpus snapshots to catch silent source drift before it
  * reaches a training run.
  */
object Drift {

  /** Per-bin population-stability-index terms of `valueCol` between an
    * `oldDf` and a `newDf`: fixed equal-width bins over the COMBINED
    * min/max, Laplace-smoothed side fractions (`(n + 0.5) / (N + 0.5 ×
    * bins)` — zero-count bins stay finite), and
    * `psi_term = (p_new − p_old) · ln(p_new / p_old)` rounded to 6
    * decimals (every arithmetic step is plain double ops an oracle
    * replays bit-for-bit). Σ psi_term is the PSI; the conventional read:
    * < 0.1 stable, 0.1–0.25 moderate shift, > 0.25 action.
    *
    * Returns (bin, old_n, new_n, psi_term), one row per bin OBSERVED on
    * either side, ordered by bin. Scale shape: one union scan, a one-row
    * extremes/count aggregate broadcast back, and a ≤`bins`-group
    * partial aggregation — no sort, no driver collect; a degenerate
    * constant column (max = min) lands in bin 0.
    */
  def histogramDrift(oldDf: DataFrame, newDf: DataFrame, valueCol: String,
                     bins: Int = 20): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val tagged = oldDf
      .select(col(valueCol).cast("double").as("__x"), lit("old").as("__side"))
      .unionByName(newDf
        .select(col(valueCol).cast("double").as("__x"),
          lit("new").as("__side")))
      .filter(col("__x").isNotNull)
    val ext = tagged.agg(
      min(col("__x")).as("__mn"), max(col("__x")).as("__mx"),
      sum(when(col("__side") === "old", 1L).otherwise(0L)).as("__no"),
      sum(when(col("__side") === "new", 1L).otherwise(0L)).as("__nn"))
    val width = (col("__mx") - col("__mn")) / bins
    val grouped = tagged.join(broadcast(ext))
      .withColumn("__bin",
        when(col("__mx") === col("__mn"), lit(0))
          .otherwise(least(lit(bins - 1),
            floor((col("__x") - col("__mn")) / width).cast("int"))))
      .groupBy(col("__bin"))
      .agg(
        sum(when(col("__side") === "old", 1L).otherwise(0L)).as("old_n"),
        sum(when(col("__side") === "new", 1L).otherwise(0L)).as("new_n"),
        first(col("__no")).as("__no"), first(col("__nn")).as("__nn"))
    val smooth = lit(0.5 * bins)
    val pOld = (col("old_n") + 0.5) / (col("__no") + smooth)
    val pNew = (col("new_n") + 0.5) / (col("__nn") + smooth)
    grouped.select(col("__bin").as("bin"), col("old_n"), col("new_n"),
        round((pNew - pOld) * log(pNew / pOld), 6).as("psi_term"))
      .orderBy(col("bin"))
  }

  /** Categorical twin of [[histogramDrift]]: PSI terms over the VALUES of
    * a discrete column (source, language, label, …), one row per value
    * observed on either side, ordered by combined count descending then
    * value (deterministic) and truncated to the `topN` heaviest values —
    * the tail's union can be unbounded, and a drifted tail value that
    * matters will have the mass to make the cut. Same smoothing and
    * rounding as the numeric version; side totals count ALL rows (the
    * truncation drops output rows, it does not re-normalize), so terms
    * are comparable across runs whatever the tail does. Scale shape: one
    * union scan into a |values| partial-agg groupBy, a one-row totals
    * aggregate broadcast back, and a bounded-heap top-N — no full sort.
    */
  def categoricalDrift(oldDf: DataFrame, newDf: DataFrame,
                       valueCol: String, topN: Int = 50): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val tagged = oldDf
      .select(col(valueCol).cast("string").as("value"),
        lit("old").as("__side"))
      .unionByName(newDf
        .select(col(valueCol).cast("string").as("value"),
          lit("new").as("__side")))
      .filter(col("value").isNotNull)
    val totals = tagged.agg(
      sum(when(col("__side") === "old", 1L).otherwise(0L)).as("__no"),
      sum(when(col("__side") === "new", 1L).otherwise(0L)).as("__nn"))
    val counts = tagged.groupBy(col("value"))
      .agg(
        sum(when(col("__side") === "old", 1L).otherwise(0L)).as("old_n"),
        sum(when(col("__side") === "new", 1L).otherwise(0L)).as("new_n"))
    // bounded-heap top-N on (combined count desc, value asc) — a window
    // sort here would funnel the whole vocabulary through one task
    val top = counts
      .withColumn("__grp", lit(1))
      .groupBy(col("__grp"))
      .agg(graft.functions.TopKAggregate.topKStructs(
        struct((col("old_n") + col("new_n")).as("__tot"), col("value"),
          col("old_n"), col("new_n")),
        topN, desc = Seq(false, true)).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.value").as("value"), col("t.old_n").as("old_n"),
        col("t.new_n").as("new_n"))
    val smooth = lit(0.5 * topN)
    val pOld = (col("old_n") + 0.5) / (col("__no") + smooth)
    val pNew = (col("new_n") + 0.5) / (col("__nn") + smooth)
    top.join(broadcast(totals))
      .select(col("value"), col("old_n"), col("new_n"),
        round((pNew - pOld) * log(pNew / pOld), 6).as("psi_term"))
      .orderBy((col("old_n") + col("new_n")).desc, col("value"))
  }
}
