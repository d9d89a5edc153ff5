package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Exec

/** Iterative graph analytics over edge lists — the power-iteration
  * companion to [[Dedup.connectedComponents]]' contraction loop.
  *
  * PageRank (Page et al. 1999) in EXACT integer fixed point: ranks live
  * in parts-per-million longs, per-edge contributions use integer
  * division, so every iterate is a pure function of the edge SET —
  * independent of partitioning, summation order, or float rounding, and
  * replayable in any engine (the q143 DuckDB oracle chains the same
  * iterations in SQL). The usual float formulation is none of those
  * things: a 1000-executor sum and a single-node sum disagree in the last
  * ulps, which compounds over iterations.
  *
  * Semantics (standard simplifications, documented not hidden):
  *  - multi-edges collapse (the edge set is `distinct`);
  *  - dangling nodes (no out-edges) absorb rank; their mass is NOT
  *    redistributed, so total mass shrinks toward the reset term — fine
  *    for RANKING (the use here), not for probability interpretation;
  *  - integer division truncates each per-edge contribution by < 1 ppm.
  *
  * Scale: per iteration, one `src` equi-join of the rank vector against
  * the degree-annotated edge list and one `groupBy(dst)` partial-agg
  * shuffle — contributions combine map-side, so shuffle rows are bounded
  * by |distinct dst per partition|, not |edges|. The edge list and node
  * set materialize ONCE ([[Exec.materialize]] — cluster-safe past the
  * size threshold); every loop here runs on [[Exec.iterate]], which cuts
  * each iterate but the last, so a result's plan is one round over one
  * pinned state whatever the iteration count. State per iteration is
  * |nodes| rows of 16 bytes, never collected to the driver.
  */
object Graph {

  val Ppm = 1000000L

  /** Bucketed staging target for the prepared edge list. The default
    * (unstaged) iterate re-exchanges the degree-annotated edge list on
    * `src` EVERY iteration — the dominant shuffle of a PageRank job
    * (measured: 468 MB over 5 iterations at the ×10 sweep). Staging
    * writes the edge list ONCE through
    * [[graft.engine.Warehouse.overwriteBucketed]] keyed by `src`; every
    * iteration's rank⋈edges join then reads bucket-aligned files and
    * plans NO exchange on the edge side (only the |nodes|-sized rank
    * vector moves) — one layout write buys k iteration shuffles, and the
    * bucketed files survive executor loss (the same durable-staging
    * argument as [[Exec.materialize]]'s parquet path). */
  final case class EdgeStage(wh: graft.engine.Warehouse, table: String,
                             numBuckets: Int = 32)

  /** Ranks after `iters` power iterations. Input: an edge list with
    * integral `srcCol`/`dstCol` (null endpoints dropped); output:
    * `(node, rank_ppm)` for every node appearing as source OR target,
    * starting from a uniform 1.0 (= 1e6 ppm).
    *
    * `rank_{k+1}(n) = (1e6 − damping) + damping · Σ_{u→n} (rank_k(u) div
    * outdeg(u)) div 1e6` — all longs, all non-negative, so `div` matches
    * any engine's floor division.
    *
    * `staging` co-locates the per-iteration edge join (see [[EdgeStage]]);
    * ranks are an exact integer function of the edge SET, so staged and
    * unstaged runs are row-identical. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, dampingPpm: Long = 850000L,
               staging: Option[EdgeStage] = None): DataFrame = {
    val (ed, nodes) = prepare(edges, srcCol, dstCol, staging)
    val reset = Ppm - dampingPpm
    iterate(ed,
      nodes.withColumn("__base", lit(reset)),
      nodes.withColumn("rank_ppm", lit(Ppm)),
      iters, dampingPpm)
  }

  /** Personalized PageRank (random walk with restart onto a seed set):
    * the reset mass lands ONLY on `seeds`, so ranks measure proximity to
    * the seeds instead of global centrality — the "find items related to
    * this set" primitive (e.g. expand a trusted-document seed set through
    * a link/similarity graph). Same exact integer recurrence; seeds start
    * at 1e6 ppm and non-seeds at 0, seeds alone receive the reset term.
    * Seed ids absent from the edge set are ignored (they have no edges to
    * propagate through). */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String, iters: Int,
                           dampingPpm: Long = 850000L,
                           staging: Option[EdgeStage] = None): DataFrame = {
    val (ed, nodes) = prepare(edges, srcCol, dstCol, staging)
    val reset = Ppm - dampingPpm
    val seedSet = seeds.select(col(seedCol).cast("long").as("node"))
      .na.drop().distinct()
      .withColumn("__is_seed", lit(true))
    // |seeds| << |nodes| in every intended use; let stats broadcast it
    val tagged = Exec.materialize(
      nodes.join(seedSet, Seq("node"), "left")
        .withColumn("__seed", coalesce(col("__is_seed"), lit(false)))
        .drop("__is_seed"))
    iterate(ed,
      tagged.withColumn("__base",
        when(col("__seed"), lit(reset)).otherwise(lit(0L))).drop("__seed"),
      tagged.withColumn("rank_ppm",
        when(col("__seed"), lit(Ppm)).otherwise(lit(0L))).drop("__seed"),
      iters, dampingPpm)
  }

  /** Triangle count per node over an UNDIRECTED graph (direction and
    * multiplicity of the input collapse; self-loops drop): the classic
    * clustering-signal primitive. Implementation is the standard
    * id-ordered wedge join — canonical edges `(lo < hi)`, wedges
    * `(a < b < c)` from one self-join on the low endpoint, closed by one
    * membership join against the edge set — which counts every triangle
    * exactly once and never materializes a high-degree node's full
    * neighborhood square (wedges form only under the ordering, the
    * hub-explosion guard every published formulation uses).
    *
    * Output: `(node, triangles)` for every node in ≥1 triangle plus a
    * zero row for other endpoint nodes. Scale: two equi-join shuffles on
    * edge keys; shuffle rows bounded by wedge count. */
  def triangleCounts(edges: DataFrame, srcCol: String,
                     dstCol: String): DataFrame = {
    val e = Exec.materialize(
      edges.select(col(srcCol).cast("long").as("a"),
          col(dstCol).cast("long").as("b"))
        .na.drop()
        .filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("lo"),
          greatest(col("a"), col("b")).as("hi"))
        .distinct())
    val nodes = e.select(col("lo").as("node")).union(e.select(col("hi")))
      .distinct()
    // wedges a<b<c from edges (a,b) and (a,c); closed iff (b,c) exists
    val wedges = e.select(col("lo").as("a"), col("hi").as("b"))
      .join(e.select(col("lo").as("a"), col("hi").as("c")), Seq("a"))
      .filter(col("b") < col("c"))
    val tri = wedges.join(e.select(col("lo").as("b"), col("hi").as("c")),
      Seq("b", "c"))
    // every triangle (a<b<c) found exactly once; credit all three corners
    val credits = tri.select(explode(array(col("a"), col("b"), col("c")))
      .as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    nodes.join(credits, Seq("node"), "left")
      .select(col("node"), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** Community detection by synchronous label propagation (Raghavan et
    * al. Phys. Rev. E 76, 2007), made DETERMINISTIC: the graph is
    * undirected (input edges symmetrize, self-loops and nulls drop),
    * labels start at the node id, and each of `iters` synchronous
    * rounds re-labels every node with the most frequent label among its
    * neighbors PLUS ITS OWN current label (one self-vote), ties broken
    * toward the smallest label. The classic formulation is
    * run-order-dependent (async sweeps) or oscillation-prone (pure
    * synchronous flip-flops on bipartite structure); the self-vote
    * damps the flip and the min tie-break plus fixed iteration count
    * make the result an exact integer function of the edge set — any
    * engine replays it row for row.
    *
    * Output: `(node, label)` for every endpoint node; nodes sharing a
    * label after convergence are one community (labels are always SOME
    * member's id).
    *
    * Scale shape per round: one labels⋈edges join on `src` (the edge
    * side is exchange-free under `staging`, exactly as [[pageRank]] —
    * only the |nodes|-sized label vector moves), one `(node, label)`
    * count with map-side partials, one argmax agg whose state is each
    * node's distinct neighbor-label set, then a node-keyed update. A
    * round reads the label vector twice (join and self-vote), so
    * [[Exec.iterate]]'s per-round cut is what keeps the plan one round
    * deep instead of doubling per round. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int,
                       staging: Option[EdgeStage] = None): DataFrame = {
    require(iters >= 0, s"iteration count must be >= 0, got $iters")
    val e0 = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .na.drop().filter(col("a") =!= col("b"))
    val sym = e0.select(col("a").as("src"), col("b").as("dst"))
      .union(e0.select(col("b").as("src"), col("a").as("dst")))
    val (ed, nodes) = prepare(sym, "src", "dst", staging)
    Exec.iterate(nodes.withColumn("label", col("node")), iters) { labels =>
      // Neighbor votes come from the edge join; the node's own vote
      // unions in AFTER it, straight from the label vector. A
      // union(ed, self-loops) BEFORE the join would wrap the staged edge
      // list in a Union, drop its bucket-aligned partitioning and
      // re-shuffle the whole edge side every round. The self-vote row is
      // what the self-loop would have produced, so results match.
      val neighborVotes = ed.select(col("src"), col("dst"))
        .join(labels.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), col("label"))
      val votes = neighborVotes
        .union(labels.select(col("node"), col("label")))
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("__c"))
      // the self-vote puts EVERY node in `votes`, so the argmax covers
      // the node set with no left-join-back fallback
      votes.groupBy("node")
        .agg(min(struct((-col("__c")).as("__nc"), col("label").as("__l")))
          .as("__m"))
        .select(col("node"), col("__m.__l").as("label"))
    }.select("node", "label")
  }

  /** k-round neighborhood feature propagation — exact integer message
    * passing, `h_k = (Aᵀ)ᵏ · h_0` over the distinct edge set: each round
    * replaces every node's value with the SUM of its in-neighbors'
    * previous values. [[pageRank]] is the degree-normalized damped
    * cousin; here values are raw sums — the GNN-style neighborhood
    * aggregates feature pipelines precompute (k-hop label counts, fraud
    * proximity signals, path multiplicities), and they stay EXACT
    * because inputs are integral longs and addition is order-free, so
    * the result is a pure function of (edge set, feature vector) —
    * partition- and engine-independent, SQL-replayable as k chained
    * joins. Nodes the feature frame misses start at 0; duplicate
    * feature rows per node pre-combine by sum. The caller bounds
    * overflow: |h_k| ≤ max|h_0| · maxInDegreeᵏ.
    *
    * Scale: identical shape to [[pageRank]] — per round, one `src`
    * equi-join of the |nodes|-row value vector against the edge list
    * and one `dst` partial-agg shuffle; pass an [[EdgeStage]] to stage
    * the edge list bucketed by `src` once and run every round's join
    * exchange-free. */
  def propagate(edges: DataFrame, srcCol: String, dstCol: String,
                features: DataFrame, nodeCol: String, featCol: String,
                iters: Int, staging: Option[EdgeStage] = None): DataFrame = {
    require(iters >= 1, s"iteration count must be >= 1, got $iters")
    val (ed, nodes) = prepare(edges, srcCol, dstCol, staging)
    val f = features
      .select(col(nodeCol).cast("long").as("node"),
        col(featCol).cast("long").as("h"))
      .na.drop()
      .groupBy("node").agg(sum(col("h")).as("h"))
    val h0 = Exec.materialize(nodes.join(f, Seq("node"), "left")
      .select(col("node"), coalesce(col("h"), lit(0L)).as("h")))
    Exec.iterate(h0, iters) { h =>
      val msg = ed
        .join(h.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("h")).as("__in"))
      nodes.join(msg, Seq("node"), "left")
        .select(col("node"), coalesce(col("__in"), lit(0L)).as("h"))
    }
  }

  /** Shared edge/node preparation: dropped-null distinct edges with their
    * out-degree riding beside each edge (so iterations never re-agg), and
    * the endpoint node set — each materialized once. With `staging` the
    * edge list lands in a bucketed-by-`src` layout instead of a plain
    * materialize, making every iteration's `src` join exchange-free on
    * the edge side. */
  private def prepare(edges: DataFrame, srcCol: String, dstCol: String,
                      staging: Option[EdgeStage] = None)
      : (DataFrame, DataFrame) = {
    val e = Exec.materialize(
      edges.select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"))
        .na.drop().distinct())
    val ed0 = e.join(e.groupBy("src").agg(count(lit(1)).as("__deg")), "src")
    val ed = staging match {
      case None => Exec.materialize(ed0)
      case Some(st) =>
        st.wh.overwriteBucketed(ed0, st.table, Seq("src"), st.numBuckets)
        st.wh.readBucketed(st.table)
    }
    val nodes = Exec.materialize(
      e.select(col("src").as("node")).union(e.select(col("dst"))).distinct())
    (ed, nodes)
  }

  /** The power-iteration core: `rank' = base(n) + damping · Σ inbound
    * (rank div outdeg) div 1e6`, one [[Exec.iterate]] round per
    * iteration. `based` carries `(node, __base)`. */
  private def iterate(ed: DataFrame, based: DataFrame, r0: DataFrame,
                      iters: Int, dampingPpm: Long): DataFrame = {
    require(dampingPpm >= 0 && dampingPpm <= Ppm,
      s"damping must sit in [0, $Ppm] ppm, got $dampingPpm")
    Exec.iterate(r0, iters) { ranks =>
      val contrib = ed
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("rank_ppm div __deg")).as("__in"))
      based.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (col("__base") +
            expr(s"($dampingPpm * coalesce(__in, 0L)) div $Ppm"))
            .as("rank_ppm"))
    }.select(col("node"), col("rank_ppm"))
  }
}
