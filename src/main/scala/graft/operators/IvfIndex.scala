package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{Exec, Warehouse}
import graft.functions.{SignatureExpressions, VectorFunctions}
import IndexAdvice.{DefaultMaxDeadFraction, DefaultMaxSkew,
  DefaultMaxTombstoneBloat}

/** IVF index health beyond the census stamp: per-cell (cell, live, dead)
  * entry counts, sorted by cell, over the trained layout's `nlist`
  * cells. Skew is LIVE occupancy of the hottest cell vs the live mean
  * over the trained layout (live entries / nlist). */
private[operators] final case class IvfHealth(cells: Seq[(Int, Long, Long)],
    nlist: Long) extends IndexAdvice.Evidence {
  val liveRows: Long = cells.map(_._2).sum
  val deadRows: Long = cells.map(_._3).sum
  val maxCell: Long = if (cells.isEmpty) 0L else cells.map(_._2).max
  val skew: Double = {
    val mean = if (nlist == 0L) 0.0 else liveRows.toDouble / nlist
    if (mean == 0.0) 1.0 else maxCell / mean
  }
}

/** Persistent IVF ANN index where the index IS a table layout.
  *
  * [[Similarity.ivfTopK]] re-trains and re-assigns cells on every query —
  * right for one-shot jobs, wrong for a corpus probed repeatedly. Here the
  * build step pays the assignment once and PUBLISHES the corpus
  * hive-partitioned by cell id (atomic versioned publish, so rebuilds
  * never break concurrent probes); the trained centroids persist beside it
  * as a tiny companion table.
  *
  * Maintenance mirrors [[TextIndex]]'s tombstone discipline (embeddings
  * re-crawl exactly like text): [[append]]/[[appendPq]] add NEW ids at
  * batch cost; [[delete]] tombstones ids via a `_deletes` companion of
  * (id, cut) rows consulted by every probe; [[reindex]]/[[reindexPq]] =
  * tombstone + append, so a re-embedded id matches only its new vector;
  * a rebuild starts clean — the rebuild is the compaction.
  *
  * A probe then:
  *
  *  1. loads the centroids (`nlist` rows — bounded by construction),
  *  2. assigns each query its `nprobe` nearest cells,
  *  3. scans ONLY those cells' partition directories — static partition
  *     pruning via an `IN` literal over the probe set's distinct cells
  *     (the probe set is small by contract, so collecting its cell ids is
  *     a bounded driver-side set, same contract as the IVF training
  *     sample) — and
  *  4. ranks candidates with the bounded-heap top-k.
  *
  * At 100 TB: a probe reads ~nprobe/nlist of the corpus from disk and
  * nothing else; there is no index structure beyond the directory tree,
  * no service to run, and rebuild/vacuum follow ordinary warehouse
  * retention semantics.
  */
object IvfIndex extends IndexAdvice.Tombstoned[IvfHealth]("id") {

  /** The generation frontier scans the entries themselves. */
  override protected def frontierSource(wh: Warehouse,
                                        name: String): DataFrame =
    wh.read(name)

  /** Reindex's existing-only gate: a column-pruned scan of the index's
    * own id column (build/buildPq select the id first). */
  override protected def existingIds(wh: Warehouse,
                                     name: String): DataFrame = {
    val df = wh.read(name)
    df.select(col(df.columns.head).as("id"))
  }

  /** The probe-scoring join: pruned index entries × per-cell probe
    * rows. Broadcast when the probe side fits the session threshold
    * (the common case — no shuffle at all, any corpus layout works).
    * When a big probe sweep demotes to a shuffled join, the bare `cell`
    * key would cap parallelism at nlist minus hash collisions — the
    * 80× sweep measured ONE 227 s stage running 512 task-seconds on 9
    * effective tasks — so the demoted path runs [[Skew.saltedJoin]]
    * (entries salted by id, probes replicated across the salt values)
    * with a BOUNDED factor: enough that nlist × factor comfortably
    * out-numbers the shuffle width (≥ 8× with a floor of 8), never the
    * raw partition count — probe-side duplication is |probe rows| ×
    * factor, and a corpus-sized query side ([[knnJoin]]) or LUT-heavy
    * PQ probes must not be replicated thousands of times to win
    * parallelism that ~8 salts already deliver. Per-cell parallelism is
    * capped at `factor`; a cell hot enough for that to bind is
    * occupancy drift, which is [[maintenanceAdvice]]'s Rebuild
    * territory, not the join's. */
  private def cellJoin(wh: Warehouse, entries: DataFrame,
                       probes: DataFrame, entryIdCol: String,
                       nlist: Int): DataFrame = {
    val t = graft.engine.JoinPolicy.broadcastThreshold(probes)
    if (t > 0 &&
        graft.engine.JoinPolicy.estimatedSizeBytes(probes) <= BigInt(t))
      entries.join(broadcast(probes), Seq("cell"))
    else {
      val s = IndexAdvice.shufflePartitions(wh)
      // absolute cap 64: for a tiny-nlist layout the (8s+nlist-1)/nlist
      // term approaches 8s, and math.max(s, 1) alone would then let the
      // factor equal the raw shuffle width — replicating every probe row
      // (for probePq, with its per-query LUT arrays) |probes| × s times
      // to win parallelism ~64 salts already deliver
      val factor = math.min(64,
        math.min(math.max(8, (8 * s + nlist - 1) / nlist),
          math.max(s, 1)))
      Skew.saltedJoin(entries, probes, Seq("cell"), entryIdCol, factor)
    }
  }

  /** Tombstone ids across BOTH index flavors: every entry any of
    * `ids` wrote SO FAR stops matching probes, at metadata cost. The
    * tombstone records the current generation frontier as its cut, so
    * entries a later append/reindex adds for the same id are untouched.
    * Tombstones ride inside the version dir — a rebuild starts clean. */
  def delete(wh: Warehouse, ids: DataFrame, idCol: String,
             name: String): Unit =
    deleteAt(wh, ids.select(col(idCol).as("id")), name,
      nextSeq(wh, name), onlyExisting = false)

  /** A delete's health fold: the tombstoned ids' live entries move to
    * their cells' dead counts — a column-pruned (id, cell, seq) scan,
    * the cost class the onlyExisting gate already pays, which is why
    * [[deleteAt]] size-gates it. */
  override protected def foldDeletes(wh: Warehouse, name: String,
                                     pre: IvfHealth,
                                     tomb: DataFrame): IvfHealth = {
    val df = wh.read(name)
    val dead = liveOnly(wh, wh.dataPath(name),
        df.select(col(df.columns.head).as("id"), col("cell"), col("seq")))
      .join(tomb, Seq("id"), "left_semi")
      .groupBy(col("cell")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    foldCells(wh, name, pre, Map.empty, dead)
  }

  /** Re-embed CHANGED ids in a plain IVF index: tombstone + [[append]]
    * in one call — the appended generation carries `seq == cut`, so the
    * updated id matches only its new vector. The batch is pinned ONCE
    * (tombstoned ids and appended vectors must come from the same row
    * set even for a non-deterministic batch) and the generation
    * resolves once — one frontier scan per reindex, not two. */
  def reindex(wh: Warehouse, changed: DataFrame, idCol: String,
              vecCol: String, name: String = "ivf_index"): Unit = {
    val pinned = Exec.materializeIfNeeded(changed.select(col(idCol) +:
      col(vecCol) +: attrColsOf(wh, name, idCol, vecCol).map(col): _*))
    val cut = nextSeq(wh, name)
    deleteAt(wh, pinned.select(col(idCol).as("id")), name, cut,
      onlyExisting = true)
    appendAt(wh, pinned, idCol, vecCol, name, cut)
  }

  /** [[reindex]] for the coded layout: tombstone + [[appendPq]] at one
    * shared generation, over one pinned batch. */
  def reindexPq(wh: Warehouse, changed: DataFrame, idCol: String,
                vecCol: String, name: String = "ivfpq_index"): Unit =
    // IfNeeded: the admission paths hand in a slice of a frame they
    // already pinned — re-pinning stable rows is one full copy job for
    // zero snapshot protection
    reindexPqPinned(wh,
      Exec.materializeIfNeeded(changed.select(col(idCol) +: col(vecCol) +:
        attrColsOf(wh, name, idCol, vecCol).map(col): _*)),
      idCol, vecCol, name)

  /** [[reindexPq]] over an ALREADY-pinned (idCol, vecCol) frame — the
    * streaming sink pins each micro-batch once at entry, and a second
    * materialize here would copy every batch's blocks twice. */
  private def reindexPqPinned(wh: Warehouse, pinned: DataFrame,
                              idCol: String, vecCol: String,
                              name: String): Unit = {
    val cut = nextSeq(wh, name)
    deleteAt(wh, pinned.select(col(idCol).as("id")), name, cut,
      onlyExisting = true)
    appendPqAt(wh, pinned, idCol, vecCol, name, cut)
  }

  /** Continuous embedding ingestion: a vector stream becomes
    * probe-visible batch by batch. Every micro-batch lands via
    * [[reindexPq]] — tombstone + frozen-quantizer append, NOT a plain
    * append: foreachBatch is at-least-once, and a replayed appendPq
    * would duplicate the batch's entries (the same neighbor id twice in
    * a top-k), while a replayed reindex tombstones its previous attempt
    * — effectively-once under any replay (the [[TextIndex.streamingIndex]]
    * contract, applied to codes). A batch carrying the same id twice is
    * refused loudly; [[buildPq]] the index first.
    *
    * Each micro-batch is pinned ONCE at entry — the count, the
    * duplicate check, and reindexPq's tombstone + encode + append all
    * consume the pinned frame (one source read per batch, not 3-4).
    * Brand-new ids write NO tombstone (reindexPq's existing-only gate),
    * so an insert-heavy stream grows no `_deletes`; with
    * `maintainEvery > 0` the sink additionally consults
    * [[maintenanceAdvice]] every that-many batches and compacts when
    * the policy fires, bounding `_deletes` growth for re-embed-heavy
    * streams without any manual compaction (Rebuild advice is surfaced
    * by `maintain`'s return value elsewhere, never executed here — a
    * rebuild needs the corpus and training parameters). */
  def streamingIndexPq(wh: Warehouse, vectors: DataFrame, idCol: String,
                       vecCol: String, checkpoint: String,
                       name: String = "ivfpq_index",
                       maintainEvery: Int = 0,
                       maxDeadFraction: Double = DefaultMaxDeadFraction,
                       maxTombstoneBloat: Double = DefaultMaxTombstoneBloat,
                       maxCellSkew: Double = DefaultMaxSkew)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // pin only the columns the index consumes (id, vector, and any
        // layout attributes) — the count, the duplicate check, and the
        // reindex share this ONE copy
        val (pinned, n) = Exec.materializeCounted(
          batch.select(col(idCol) +: col(vecCol) +:
            attrColsOf(wh, name, idCol, vecCol).map(col): _*))
        if (n > 0) {
          require(pinned.select(col(idCol)).distinct().count() == n,
            s"streamingIndexPq: a micro-batch carries duplicate " +
              s"'$idCol' rows — dedupe upstream (last-wins) before " +
              "indexing")
          reindexPqPinned(wh, pinned, idCol, vecCol, name)
        }
        if (maintainEvery > 0 && (batchId + 1) % maintainEvery == 0)
          maintain(wh, name, maxDeadFraction, maxTombstoneBloat,
            maxCellSkew)
        ()
      }
      .start()

  /** Apply accumulated tombstones WITHOUT re-encoding the corpus: the
    * index rewrites FROM ITSELF — live entries republish atomically
    * under the same cell layout, the frozen quantizer artifacts
    * (`_centroids`, and `_codebooks`/`_rotation` when present) COPY
    * into the new version dir, and the fresh version carries no
    * `_deletes`. Works on BOTH flavors; entry generations reset to 0
    * (the compaction is an epoch boundary). Cost is index-sized I/O —
    * for the coded layout that is ~12 bytes/vector, the cheapest
    * possible tombstone GC; a [[build]]/[[buildPq]] rebuild (corpus
    * scan + re-train) is only needed for drift. Returns the version. */
  def compact(wh: Warehouse, name: String): String = {
    val version = wh.currentVersion(name).getOrElse(
      throw new IllegalStateException(s"index '$name' was never built"))
    val vdir = s"${wh.root}/$name/_versions/$version"
    val df = wh.readVersion(name, version)
    val idName = df.columns.head // build/buildPq select the id first
    // capture BEFORE the publish swaps the version dir: after a compact
    // the per-cell evidence folds at pure metadata cost (live counts
    // unchanged, dead mass zero, no `_deletes`) — a maintain() that
    // fires Compact therefore leaves the NEW version's health fresh too
    val pre = freshEvidence(wh, name)
    // same writer-side cell clustering as build/buildPq: the rewrite is
    // the moment to fix file counts, not inherit them
    // seq re-added LAST, so the published `_partitioning` schema keeps
    // its column order
    val live = liveOnly(wh, vdir, df, idName).drop("seq")
      .withColumn("seq", lit(0L))
      .repartition(IndexAdvice.shufflePartitions(wh), col("cell"))
    val out = wh.publish(live, name, partitionCols = Seq("cell"),
      beforeSwap = IndexAdvice.copyForward(wh, vdir, _,
        Seq("_centroids", "_codebooks", "_rotation")))
    pre.foreach(e => persistHealth(wh, name,
      IvfHealth(e.cells.collect { case (cl, l, _) if l > 0L => (cl, l, 0L) },
        nlistOf(wh, name)), IndexAdvice.census(wh, name)))
    stampSeq(wh, name, 0L) // compaction resets every generation to 0
    out
  }

  /** Reserved layout column names an attribute may not shadow. */
  private def requireAttrs(attrCols: Seq[String], idCol: String,
                           vecCol: String): Unit = {
    val reserved = Set("cell", "code", "seq", idCol, vecCol)
    attrCols.foreach(a => require(!reserved.contains(a),
      s"attribute column '$a' collides with a reserved index column " +
        s"(${reserved.mkString(", ")})"))
  }

  /** The attribute columns an existing index carries — everything in the
    * published layout that is not the id, the vector/code, the cell, or
    * the generation. Derived from the index's OWN schema so appends and
    * reindexes are self-describing (a batch must carry the same
    * attributes the build declared). */
  private def attrColsOf(wh: Warehouse, name: String, idCol: String,
                         vecCol: String): Seq[String] = {
    val cols = wh.read(name).columns.toSeq
    // a batch invoked with column names the build didn't use would
    // silently classify the stored id/vector column as an attribute and
    // surface as a confusing select/align failure downstream — refuse
    // with the index's declared layout instead
    require(cols.contains(idCol),
      s"index '$name' has no id column '$idCol' — its stored layout is " +
        s"(${cols.mkString(", ")}); pass the names the index was built with")
    require(cols.contains("code") || cols.contains(vecCol),
      s"index '$name' has no vector column '$vecCol' — its stored layout " +
        s"is (${cols.mkString(", ")}); pass the names the index was built " +
        "with")
    cols.filterNot(c =>
      c == idCol || c == vecCol || c == "cell" || c == "code" || c == "seq")
  }

  /** Train centroids, assign every corpus vector its cell, publish the
    * corpus partitioned by cell WITH its centroids riding in the same
    * version directory (`_centroids`, underscore-invisible to scans,
    * written before the manifest swap). Corpus and centroids therefore
    * become visible in the SAME atomic step — a probe can never pair a
    * new layout with stale centroids, whichever instant it starts.
    * Returns the published version id.
    *
    * `attrCols` ride INTO the layout as plain parquet columns beside the
    * vector, so a FILTERED probe's predicate reaches the pruned cell
    * scan as an ordinary pushed filter — no metadata join at probe time,
    * which is the scale-correct shape for attribute-constrained ANN
    * (filter-then-rank; a post-filtered top-k would lose recall). */
  def build(wh: Warehouse, corpus: DataFrame, idCol: String, vecCol: String,
            dim: Int, nlist: Int = 64, name: String = "ivf_index",
            seed: Long = 42L, attrCols: Seq[String] = Nil): String = {
    import wh.spark.implicits._
    requireAttrs(attrCols, idCol, vecCol)
    val cents = Similarity.trainIvfCentroids(corpus, idCol, vecCol, dim,
      nlist, seed = seed)
    // writer-side cell clustering: without it every upstream task opens
    // a writer in every cell dir (tasks × nlist tiny files — measured
    // ~4 KB/file at sf0.1, and every probe/maintenance listing pays for
    // all of them); hash-repartitioning on the partition column puts
    // each cell in ONE task → one right-sized file per cell. The
    // partition count is EXPLICIT because a bare repartition(col) is
    // AQE-coalescible and a byte-small coded index would collapse to a
    // single serial writer at scale. Cost is one entry-sized shuffle at
    // build time; cell size stays bounded by the layout's own
    // nlist ~ sqrt(N) sizing lever.
    val assigned = corpus.select(col(idCol) +: col(vecCol) +:
        attrCols.map(col) :+
        element_at(SignatureExpressions.ivfAssign(col(vecCol), cents, 1), 1)
          .as("cell"): _*)
      .withColumn("seq", lit(0L))
      .repartition(IndexAdvice.shufflePartitions(wh), col("cell"))
    val out = wh.publish(assigned, name, partitionCols = Seq("cell"),
      beforeSwap = vdir =>
        cents.zipWithIndex.map { case (c, i) => (i, c) }
          .toDF("cell", "centroid")
          .coalesce(1).write.parquet(s"$vdir/_centroids"))
    stampSeq(wh, name, 0L) // a fresh build's entries all carry seq 0
    out
  }

  /** Incrementally add vectors WITHOUT retraining: assign against the
    * CURRENT version's frozen centroids and append partition-aligned
    * files into its cell directories (the warehouse append keeps hive
    * alignment). Probes are correct throughout — assignment uses the
    * same frozen centroids on both sides, and a new vector is visible to
    * any probe that starts after the append lands.
    *
    * Freezing the coarse quantizer is standard IVF practice; what drifts
    * is cell OCCUPANCY as the corpus distribution moves. Schedule a
    * [[build]] rebuild on a drift signal (a [[Drift]] audit over the
    * vector norms, or cell-count skew from `Skew.hotKeys` on the cell
    * column) — rebuilds are atomic publishes, so probes never see a
    * half-rebuilt index. */
  def append(wh: Warehouse, newVectors: DataFrame, idCol: String,
             vecCol: String, name: String = "ivf_index"): Unit =
    appendAt(wh, newVectors, idCol, vecCol, name, nextSeq(wh, name))

  private def appendAt(wh: Warehouse, newVectors: DataFrame, idCol: String,
                       vecCol: String, name: String, seq: Long): Unit = {
    val version = wh.currentVersion(name).getOrElse(
      throw new IllegalStateException(s"IVF index '$name' was never built"))
    val vdir = s"${wh.root}/$name/_versions/$version"
    val cents = loadCentroids(wh, vdir)
    // an attribute-carrying index appends its attributes too (derived
    // from the layout's own schema; Warehouse.append's align gate
    // refuses a batch that lacks them)
    val attrs = attrColsOf(wh, name, idCol, vecCol)
    val assigned = newVectors.select(col(idCol) +: col(vecCol) +:
        attrs.map(col) :+
        element_at(SignatureExpressions.ivfAssign(col(vecCol), cents, 1), 1)
          .as("cell"): _*)
      .withColumn("seq", lit(seq))
      // appends are the file-count growth driver for a long-lived index:
      // cell-cluster each batch so it adds ≤ |touched cells| files, not
      // tasks × cells
      .repartition(IndexAdvice.shufflePartitions(wh), col("cell"))
    appendFolding(wh, name, freshEvidence(wh, name), assigned, "cell")(
      (e, delta) => foldCells(wh, name, e, delta, Map.empty))
    stampSeq(wh, name, seq) // this driver KNOWS the new frontier
  }

  /** Persistent IVF+PQ index: the published layout holds 12-byte-scale
    * ENTRIES (id + m-byte residual code), not vectors — the faiss-IVFPQ
    * on-disk shape, which is what makes a 100 TB-corpus index fit a
    * fraction of the corpus. Same atomic-publish contract as [[build]]:
    * codes partitioned by cell, trained centroids AND codebooks riding
    * in the version dir (`_centroids`/`_codebooks`, written before the
    * manifest swap). One bounded sample trains both quantizers. */
  def buildPq(wh: Warehouse, corpus: DataFrame, idCol: String, vecCol: String,
              dim: Int, nlist: Int = 64, m: Int = 8, ksub: Int = 256,
              trainIters: Int = 4, sampleSize: Int = 4096,
              name: String = "ivfpq_index", seed: Long = 42L,
              opq: Similarity.OpqMode = Similarity.OpqMode.Off,
              attrCols: Seq[String] = Nil): String = {
    import wh.spark.implicits._
    requireAttrs(attrCols, idCol, vecCol)
    val sample = Similarity.sampleVectors(corpus, idCol, vecCol,
      sampleSize, seed)
    val cents = Similarity.trainIvfFromSample(sample, dim, nlist,
      trainIters, seed)
    // OPQ transform persists WITH the codes (`_rotation` below): the
    // on-disk index is self-describing, so a probe can never score
    // transformed codes with an untransformed LUT
    // Learned OPQ co-trains rotation and codebooks — ship the pair (a
    // cold retrain under the learned rotation forfeits the gain)
    val (rotation: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]]) =
      opq match {
        case Similarity.OpqMode.Learned(it) =>
          Similarity.learnedRotationAndBooks(
            Similarity.sampleResiduals(sample, cents, dim), dim, m, ksub,
            trainIters, seed, it)
        case other =>
          val rot: Seq[Seq[Double]] = other match {
            case Similarity.OpqMode.Off => Nil
            case Similarity.OpqMode.Rotate(s) =>
              Similarity.randomRotation(dim, s)
            case Similarity.OpqMode.Balance =>
              Similarity.balancedPermutation(
                Similarity.sampleResiduals(sample, cents, dim), dim, m)
            case Similarity.OpqMode.Learned(_) => Nil // unreachable
          }
          (rot, Similarity.residualBooksFromSample(sample, dim, cents, m,
            ksub, trainIters, seed, rot))
      }
    val enc = corpus.select(col(idCol) +: attrCols.map(col) :+
        SignatureExpressions.pqResidualEncode(col(vecCol), cents, books,
            rotation)
          .as("enc"): _*)
      .select(col(idCol) +: attrCols.map(col) :+
        col("enc.cell").as("cell") :+ col("enc.code").as("code"): _*)
      .withColumn("seq", lit(0L))
      .repartition(IndexAdvice.shufflePartitions(wh), col("cell")) // writer-side cell clustering (see build)
    val out = wh.publish(enc, name, partitionCols = Seq("cell"),
      beforeSwap = vdir => {
        cents.zipWithIndex.map { case (c, i) => (i, c) }
          .toDF("cell", "centroid")
          .coalesce(1).write.parquet(s"$vdir/_centroids")
        books.zipWithIndex.flatMap { case (book, sub) =>
          book.zipWithIndex.map { case (c, idx) => (sub, idx, c) }
        }.toDF("sub", "idx", "centroid")
          .coalesce(1).write.parquet(s"$vdir/_codebooks")
        if (rotation.nonEmpty)
          rotation.zipWithIndex.map { case (r, i) => (i, r) }
            .toDF("row", "coeffs")
            .coalesce(1).write.parquet(s"$vdir/_rotation")
      })
    stampSeq(wh, name, 0L) // a fresh build's entries all carry seq 0
    out
  }

  /** The frozen quantizer artifacts riding in an index version dir —
    * bounded by construction (nlist / m·ksub / dim rows), read by every
    * consumer from INSIDE the version so quantizers can never mix.
    * CACHED per version dir: the artifacts are immutable within a
    * version (build writes them, compact file-copies them), so each
    * probe/append re-collecting them as Spark jobs was pure fixed
    * overhead on the serving path ([[IndexAdvice.versionCached]]). */
  private val centsCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[Seq[Double]]]()
  private val booksCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[Seq[Seq[Double]]]]()
  private val rotCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[Seq[Double]]]()

  private def loadCentroids(wh: Warehouse, vdir: String): Seq[Seq[Double]] =
    IndexAdvice.versionCached(centsCache, vdir) {
      wh.spark.read.parquet(s"$vdir/_centroids")
        .orderBy("cell").select("centroid")
        .collect().map(_.getSeq[Double](0): Seq[Double]).toSeq
    }

  private def loadBooks(wh: Warehouse, vdir: String): Seq[Seq[Seq[Double]]] =
    IndexAdvice.versionCached(booksCache, vdir) {
      wh.spark.read.parquet(s"$vdir/_codebooks")
        .orderBy("sub", "idx").collect()
        .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_.getInt(1))
          .map(_.getSeq[Double](2): Seq[Double]).toSeq)
    }

  private def loadRotation(wh: Warehouse, vdir: String): Seq[Seq[Double]] =
    IndexAdvice.versionCached(rotCache, vdir) {
      val rotPath = new org.apache.hadoop.fs.Path(s"$vdir/_rotation")
      if (!rotPath.getFileSystem(wh.spark.sessionState.newHadoopConf())
            .exists(rotPath)) Nil // absence ≡ no rotation — cacheable
      else wh.spark.read.parquet(rotPath.toString)
        .orderBy("row").select("coeffs")
        .collect().map(_.getSeq[Double](0): Seq[Double]).toSeq
    }

  /** [[append]] for the coded layout: add vectors to a PQ index WITHOUT
    * retraining. The batch is encoded against the CURRENT version's
    * frozen centroids, codebooks, AND OPQ transform (all read from
    * inside the version dir — a batch can never mix quantizer
    * generations), then appended as partition-aligned (id, cell, code)
    * entries into the existing cell directories. ADC probes score old
    * and new entries identically because both sides were coded by the
    * same frozen quantizers; a new vector is visible to any probe that
    * starts after the append lands. Occupancy/residual drift still
    * calls for a scheduled [[buildPq]] rebuild — same contract and
    * drift signals as [[append]]. */
  def appendPq(wh: Warehouse, newVectors: DataFrame, idCol: String,
               vecCol: String, name: String = "ivfpq_index"): Unit =
    appendPqAt(wh, newVectors, idCol, vecCol, name, nextSeq(wh, name))

  private def appendPqAt(wh: Warehouse, newVectors: DataFrame,
                         idCol: String, vecCol: String, name: String,
                         seq: Long): Unit = {
    val version = wh.currentVersion(name).getOrElse(
      throw new IllegalStateException(s"IVF+PQ index '$name' was never built"))
    val vdir = s"${wh.root}/$name/_versions/$version"
    val attrs = attrColsOf(wh, name, idCol, vecCol) // see appendAt
    val enc = newVectors.select(col(idCol) +: attrs.map(col) :+
        SignatureExpressions.pqResidualEncode(col(vecCol),
          loadCentroids(wh, vdir), loadBooks(wh, vdir),
          loadRotation(wh, vdir)).as("enc"): _*)
      .select(col(idCol) +: attrs.map(col) :+
        col("enc.cell").as("cell") :+ col("enc.code").as("code"): _*)
      .withColumn("seq", lit(seq))
      .repartition(IndexAdvice.shufflePartitions(wh), col("cell")) // batch cell clustering (see appendAt)
    appendFolding(wh, name, freshEvidence(wh, name), enc, "cell")(
      (e, delta) => foldCells(wh, name, e, delta, Map.empty))
    stampSeq(wh, name, seq) // this driver KNOWS the new frontier
  }

  /** Rerank-depth guidance distilled from the measured recall curve
    * (`graft.tools.AnnRecall rerank-curve`, 20k anisotropic corpus,
    * decay 0.93, nprobe 16, learned OPQ — the HARD case; floors
    * asserted in AnnRecall at 512 ≥ 0.69 and 1024 ≥ 0.9):
    *
    * | rerank | recall@5 |
    * |---|---|
    * | 64 | 0.112 |  256 | 0.416 |
    * | 512 | 0.696 |  1024 | 0.968 |  2048 | 1.000 |
    *
    * On margin-starved corpora low recall at shallow depth is candidate
    * STARVATION, not a quantizer plateau — the curve is still steep at
    * 512 (≈10% of the 5000-candidate probed mass, 0.696) and only
    * flattens at 1024 (≈20%, 0.968); 5% (250) reads ~0.42, starved.
    * Budget max(8·k, ~25% of the probed candidate mass) before blaming
    * or re-training the quantizer — a quarter of the probed mass sits
    * on the measured curve's flat shoulder for the HARD case, which is
    * what an automatic depth must size for (a margin-rich corpus wastes
    * some exact-cosine rerank at that depth; a hand-tuned shallow value
    * can always be passed explicitly). `probedCandidates` ≈ live_rows ×
    * nprobe / nlist, both read from the stored `_health` row at
    * metadata cost — [[probePq]]/[[knnJoinPq]] do exactly that when
    * called with `rerank = 0`. The `rerank = 64` default suits easy
    * (well-separated) corpora only. */
  def recommendedRerank(k: Int, probedCandidates: Long): Int = {
    require(k >= 1 && probedCandidates >= 0,
      s"k=$k must be >= 1 and probedCandidates=$probedCandidates >= 0")
    // clamped BEFORE the narrowing: at the corpus scales the docstring
    // sizes probedCandidates for, 25% of the probed mass exceeds 2³¹ and
    // a bare .toInt would wrap to a negative (or silently tiny) depth
    math.min(Int.MaxValue.toLong,
      math.max(k.toLong,
        math.min(probedCandidates,
          math.max(8L * k, probedCandidates / 4L)))).toInt
  }

  /** The effective rerank depth for a probe: the caller's explicit value
    * when positive, else ([[recommendedRerank]]) sized from the stored
    * `_health` row — live_rows × nprobe / nlist probed candidates, read
    * at metadata cost when the stamp is fresh. On a STALE stamp the
    * depth sizes from the raw entry count instead (a parquet
    * footer-metadata count — no column scan, and crucially NO persisted
    * side effect: a probe is a serving path, and re-measuring health
    * here would write into the version dir, racing the
    * single-maintainer discipline the mutation paths rely on; counting
    * dead entries only DEEPENS the depth, the conservative
    * direction). */
  private def resolveRerank(wh: Warehouse, name: String, rerank: Int,
                            k: Int, nprobe: Int, nlist: Int): Int = {
    require(rerank == 0 || rerank >= k,
      s"rerank=$rerank must be >= k=$k (or 0 for automatic sizing)")
    if (rerank > 0) rerank
    else {
      val live = freshEvidence(wh, name).map(_.liveRows)
        .getOrElse(wh.read(name).count())
      // BigInt product: live × nprobe overflows Long within the corpus
      // scales this sizes for; the quotient is ≤ live, so the narrowing
      // back is exact
      recommendedRerank(k,
        (BigInt(live) * math.min(nprobe, nlist) / nlist).toLong)
    }
  }

  /** Probe the published PQ index: ADC candidate scoring over the
    * `nprobe` pruned cells' CODES (the only thing read from disk), then
    * exact-cosine rerank of the top-`rerank` against the base corpus.
    * `dot(q,v) = dot(q, C_cell) + dot(q, v − C_cell)` exactly, so a
    * candidate's ADC score is one element_at + m LUT lookups — both
    * per-query tables broadcast with the probe set. Output:
    * (query_id, neighbor_id, cosine, rank).
    *
    * The `rerank = 64` default is tuned for easy (well-separated)
    * corpora; on anisotropic/margin-starved ones it STARVES recall —
    * see [[recommendedRerank]] for the measured curve and the sizing
    * rule. `rerank = 0` sizes the depth AUTOMATICALLY from the stored
    * `_health` row (live_rows × nprobe / nlist probed candidates at
    * metadata cost) — the auto depth reproduces the measured ≥0.9
    * recall floor on the anisotropic fixture with no hand-passed 1024.
    *
    * `filter` constrains the search to entries matching a predicate over
    * the layout's attribute columns ([[buildPq]] `attrCols`) — applied
    * IN the pruned cell scan (an ordinary pushed parquet filter, no join)
    * and BEFORE ADC, so excluded entries never occupy candidate or
    * rerank slots: filter-then-rank semantics, the only shape that keeps
    * top-k recall under a constraint (post-filtering a top-k loses every
    * result the excluded entries displaced). */
  def probePq(wh: Warehouse, queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, name: String = "ivfpq_index",
              k: Int = 5, nprobe: Int = 8, rerank: Int = 64,
              filter: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    val version = wh.currentVersion(name).getOrElse(
      throw new IllegalStateException(s"IVF+PQ index '$name' was never built"))
    val vdir = s"${wh.root}/$name/_versions/$version"
    val cents = loadCentroids(wh, vdir)
    val eff = resolveRerank(wh, name, rerank, k, nprobe, cents.length)
    val books = loadBooks(wh, vdir)
    val m = books.length
    val ksub = books.head.length
    // an OPQ-built index carries its transform; the residual LUT must
    // see the transformed query (cell dots and assignment stay raw)
    val rotation = loadRotation(wh, vdir)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val qLut =
      if (rotation.isEmpty) SignatureExpressions.pqLut(col("qv"), books)
      else SignatureExpressions.pqLut(
        SignatureExpressions.vecRotate(col("qv"), rotation), books)
    val qTables = q.select(col("query_id"), col("qv"),
        SignatureExpressions.pqLut(col("qv"), Seq(cents)).as("cell_dots"),
        qLut.as("lut"),
        SignatureExpressions.ivfAssign(col("qv"), cents, nprobe).as("cells"))
    // each exploded probe row needs exactly ONE of its nlist cell dots —
    // select it at explode time so the materialized probe frame (and the
    // scoring join, when demoted to a salted shuffle) carries one double
    // per row instead of the full nlist array
    // the probed-cell set (bounded by nlist) rides the probe pinning
    // job as a collect_set metric — no separate distinct+collect job
    val (probes, probeM) = Exec.materializeObserved(
      graft.functions.Generates.explodeOnce(
        qTables, Seq(col("query_id"), col("cell_dots"), col("lut")),
        col("cells"), "cell")
      .select(col("query_id"),
        element_at(col("cell_dots"), col("cell") + 1).as("cell_dot"),
        col("lut"), col("cell")),
      Map("cells" -> collect_set(col("cell"))))
    val probedCells = probeM("cells").asInstanceOf[Seq[Int]]
    val codes = liveOnly(wh, vdir,
      wh.readVersion(name, version)
        .filter(col("cell").isin(probedCells: _*))
        // attribute predicate INSIDE the scan filter, before the column
        // pruning drops the attrs — Catalyst pushes it to parquet beside
        // the cell pruning
        .filter(filter.getOrElse(lit(true)))
        .select(col(idCol).as("neighbor_id"), col("cell"), col("code"),
          col("seq")),
      "neighbor_id")
      .select("neighbor_id", "cell", "code")
    val adc = cellJoin(wh, codes, probes, "neighbor_id", cents.length)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (col("cell_dot") +
          SignatureExpressions.pqAdc(col("lut"), col("code"), m, ksub))
          .as("adc"))
    val cand = Similarity.rankTopK(adc, eff, "adc")
      .select("query_id", "neighbor_id")
    val rer = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .join(graft.engine.JoinPolicy.broadcastIfSmall(cand), Seq("neighbor_id"))
      // size-gated like every other probe-side join: a sweep big enough
      // to demote the ADC join must not be force-collected here (the
      // demoted alternative is a high-cardinality query_id equi-join)
      .join(graft.engine.JoinPolicy.broadcastIfSmall(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        VectorFunctions.cosine(col("qv"), col("cv")).as("cosine"))
    Similarity.rankTopK(rer, k)
  }

  /** Probe the published index: top-k neighbors per query over the
    * `nprobe` nearest cells, read via partition-pruned scan.
    * Output: (query_id, neighbor_id, cosine, rank) — the [[Similarity]]
    * shape. `filter` constrains the search to entries matching a
    * predicate over the layout's attribute columns ([[build]]
    * `attrCols`) — a pushed scan filter applied BEFORE scoring, see
    * [[probePq]]. */
  def probe(wh: Warehouse, queries: DataFrame, idCol: String, vecCol: String,
            name: String = "ivf_index", k: Int = 5,
            nprobe: Int = 8,
            filter: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    // resolve the version ONCE and read centroids + corpus from inside it:
    // both halves of the index come from the same immutable snapshot even
    // if a rebuild swaps the manifest mid-probe
    val version = wh.currentVersion(name).getOrElse(
      throw new IllegalStateException(s"IVF index '$name' was never built"))
    val vdir = s"${wh.root}/$name/_versions/$version"
    val cents = loadCentroids(wh, vdir)
    // materialize: the assignment feeds both the collected cell set
    // and the candidate join — without it the whole query-side pipeline
    // (and its source scan) would execute twice
    // the probe set is small by contract: its distinct cells are a bounded
    // literal set, which reaches the scan as a static PartitionFilter —
    // only those directories are listed or read. The cell set rides the
    // probe pinning job as a collect_set metric (no separate collect job)
    val (q, probeM) = Exec.materializeObserved(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        SignatureExpressions.ivfAssign(col(vecCol), cents, nprobe).as("cells"))
      .select(col("query_id"), col("qv"), explode(col("cells")).as("cell")),
      Map("cells" -> collect_set(col("cell"))))
    val probedCells = probeM("cells").asInstanceOf[Seq[Int]]
    val corpus = liveOnly(wh, vdir,
      wh.readVersion(name, version)
        .filter(col("cell").isin(probedCells: _*))
        .filter(filter.getOrElse(lit(true))) // pushed beside the pruning
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
          col("cell"), col("seq")),
      "neighbor_id")
      .select("neighbor_id", "cv", "cell")
    val scored = cellJoin(wh, corpus, q, "neighbor_id", cents.length)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        VectorFunctions.cosine(col("qv"), col("cv")).as("cosine"))
    Similarity.rankTopK(scored, k)
  }

  /** Corpus-scale kNN JOIN through the published index: every query row
    * finds its top-k neighbors, with NO driver-side cell collection and
    * NO broadcast requirement — the query side may itself be
    * corpus-sized (the near-neighbor-graph shape behind SemDeDup
    * clustering and hard-negative mining at 100 TB, where
    * [[Similarity.bruteForceTopK]]'s broadcast-the-queries contract and
    * [[probe]]'s collected-IN-literal cell set both stop fitting). Each
    * query explodes to its `nprobe` nearest cells under the same frozen
    * centroids, and ONE cell join against the cell-clustered entries
    * scores candidates — broadcast when the query side happens to be
    * small, salted to full shuffle width when it is not ([[cellJoin]]).
    * Partition pruning is pointless here BY CONSTRUCTION (a
    * corpus-sized query side probes essentially every cell), which is
    * exactly why [[probe]]'s bounded-probe-set contract doesn't apply
    * and this variant exists; recall semantics match [[probe]] (same
    * assignment, same exact cosine, same bounded-heap top-k).
    * `filter` constrains candidates like [[probe]]'s. Output:
    * (query_id, neighbor_id, cosine, rank). */
  def knnJoin(wh: Warehouse, queries: DataFrame, idCol: String,
              vecCol: String, name: String = "ivf_index", k: Int = 5,
              nprobe: Int = 8,
              filter: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    val version = wh.currentVersion(name).getOrElse(
      throw new IllegalStateException(s"IVF index '$name' was never built"))
    val vdir = s"${wh.root}/$name/_versions/$version"
    val cents = loadCentroids(wh, vdir)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        SignatureExpressions.ivfAssign(col(vecCol), cents, nprobe)
          .as("cells"))
      .select(col("query_id"), col("qv"), explode(col("cells")).as("cell"))
    val corpus = liveOnly(wh, vdir,
      wh.readVersion(name, version)
        .filter(filter.getOrElse(lit(true)))
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
          col("cell"), col("seq")),
      "neighbor_id")
      .select("neighbor_id", "cv", "cell")
    val scored = cellJoin(wh, corpus, q, "neighbor_id", cents.length)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        VectorFunctions.cosine(col("qv"), col("cv")).as("cosine"))
    Similarity.rankTopK(scored, k)
  }

  /** [[knnJoin]] through the persistent IVF+PQ CODED layout — the scale
    * variant for corpora where the index you can afford to keep is the
    * 12-byte-per-entry one: every query row finds its top-k neighbors
    * with NO driver-side cell collection and NO broadcast requirement
    * anywhere (the SemDeDup / hard-negative-mining shape at 100 TB,
    * where [[probePq]]'s bounded-probe-set contract — a driver-collected
    * `IN` cell literal and broadcast rerank candidates — stops fitting).
    *
    *  - ADC pass: each query carries its per-query tables (ONE cell dot
    *    — selected from the nlist array at explode time — plus the
    *    m×ksub LUT) onto its `nprobe` exploded probe rows, and ONE
    *    [[cellJoin]] against the cell-clustered codes scores
    *    candidates — broadcast when the query side happens to be small,
    *    salted to bounded width when it is not. Shipping the LUT per
    *    probe row costs nprobe×(m·ksub) doubles per query but amortizes
    *    over every candidate in the cell (per-candidate ADC is m array
    *    lookups); the alternative — shipping only the query vector and
    *    rebuilding the LUT per candidate pair — pays m·ksub·dsub
    *    multiplies PER PAIR, strictly worse whenever cells hold more
    *    than one candidate.
    *  - Rerank: exact cosine of each query's top-`rerank` ADC candidates
    *    — two plain shuffled equi-joins (candidates × corpus on
    *    neighbor_id, then × queries on query_id), both full-width and
    *    AQE-skew-splittable, then the bounded-heap top-k. No
    *    `broadcastIfSmall` contract: a corpus-sized candidate set joins
    *    at shuffle width (Catalyst still broadcasts on its own stats
    *    when a side genuinely fits).
    *
    * Partition pruning is pointless here BY CONSTRUCTION (a corpus-sized
    * query side probes essentially every cell); recall semantics match
    * [[probePq]] (same frozen quantizers, same ADC arithmetic, same
    * exact-cosine rerank). `filter` constrains candidates like
    * [[probePq]]'s — a pushed scan predicate over the layout's attribute
    * columns, applied before ADC. Output:
    * (query_id, neighbor_id, cosine, rank). */
  def knnJoinPq(wh: Warehouse, queries: DataFrame, corpus: DataFrame,
                idCol: String, vecCol: String,
                name: String = "ivfpq_index", k: Int = 5, nprobe: Int = 8,
                rerank: Int = 64,
                filter: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    val version = wh.currentVersion(name).getOrElse(
      throw new IllegalStateException(s"IVF+PQ index '$name' was never built"))
    val vdir = s"${wh.root}/$name/_versions/$version"
    val cents = loadCentroids(wh, vdir)
    val eff = resolveRerank(wh, name, rerank, k, nprobe, cents.length)
    val books = loadBooks(wh, vdir)
    val m = books.length
    val ksub = books.head.length
    val rotation = loadRotation(wh, vdir)
    // pinned ONCE: the probe explosion and the rerank join must see the
    // same row set even for a non-deterministic query frame (and the
    // query-side scan runs once, not twice); Exec.materialize stages a
    // corpus-sized frame to parquet, so no broadcast/driver contract.
    // IfNeeded: admission callers hand in a slice of an already-pinned
    // batch — stable rows need no second copy job
    val q = Exec.materializeIfNeeded(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("qv")))
    val qLut =
      if (rotation.isEmpty) SignatureExpressions.pqLut(col("qv"), books)
      else SignatureExpressions.pqLut(
        SignatureExpressions.vecRotate(col("qv"), rotation), books)
    // one cell dot per exploded probe row (see probePq): the salted ADC
    // join replicates probe rows `factor` times, so shaving nlist−1
    // doubles per row trims the shuffle at exactly the corpus-sized
    // query scales this variant exists for (the LUT still dominates —
    // this is a trim, not a structural change)
    val probes = graft.functions.Generates.explodeOnce(
      q.select(col("query_id"),
        SignatureExpressions.pqLut(col("qv"), Seq(cents)).as("cell_dots"),
        qLut.as("lut"),
        SignatureExpressions.ivfAssign(col("qv"), cents, nprobe)
          .as("cells")),
      Seq(col("query_id"), col("cell_dots"), col("lut")), col("cells"),
      "cell")
      .select(col("query_id"),
        element_at(col("cell_dots"), col("cell") + 1).as("cell_dot"),
        col("lut"), col("cell"))
    val codes = liveOnly(wh, vdir,
      wh.readVersion(name, version)
        .filter(filter.getOrElse(lit(true))) // pushed into the code scan
        .select(col(idCol).as("neighbor_id"), col("cell"), col("code"),
          col("seq")),
      "neighbor_id")
      .select("neighbor_id", "cell", "code")
    val adc = cellJoin(wh, codes, probes, "neighbor_id", cents.length)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (col("cell_dot") +
          SignatureExpressions.pqAdc(col("lut"), col("code"), m, ksub))
          .as("adc"))
    val cand = Similarity.rankTopK(adc, eff, "adc")
      .select("query_id", "neighbor_id")
    val rer = cand
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("cv")), Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        VectorFunctions.cosine(col("qv"), col("cv")).as("cosine"))
    Similarity.rankTopK(rer, k)
  }

  /** Measure index health and PERSIST it as a one-row `_health`
    * companion stamped with the version dir's file census — the stored
    * signal [[maintenanceAdvice]] reads back at metadata cost. One
    * bounded pass, never a vector/code read: dead mass AND live cell
    * occupancy from a single column-pruned (id, seq, cell) entry scan
    * joined with the tombstone cuts (`cell_skew`/`max_cell_rows` count
    * LIVE entries — dead mass is the Compact axis, not a skew signal).
    * Works on both index flavors. Stale the moment any index file
    * changes, like the sketch-stats catalog. */
  def analyzeHealth(wh: Warehouse, name: String): DataFrame =
    analyze(wh, name)

  /** The bounded health re-measure: a per-cell (count, dead) aggregate
    * over one column-pruned entry scan collapses to ≤ nlist rows
    * (bounded by construction), rolled up driver-side. */
  override protected def measure(wh: Warehouse, name: String): IvfHealth = {
    val df = wh.read(name)
    val idName = df.columns.head // build/buildPq select the id first
    val base = df.select(col(idName).as("id"), col("seq"), col("cell"))
    val withDead = withCuts(wh, wh.dataPath(name), base, "id") match {
      case None => base.withColumn("__dead", lit(0L))
      case Some(joined) =>
        joined.withColumn("__dead", when(deadUnderCut, 1L).otherwise(0L))
    }
    val perCell = withDead.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("__dead")).as("d"))
      .collect()
    IvfHealth(perCell.map(r => (r.getInt(0), r.getLong(1) - r.getLong(2),
      r.getLong(2))).toSeq.sorted, nlistOf(wh, name))
  }

  override protected def renderEvidence(s: IndexAdvice.Snapshot[IvfHealth])
      : String =
    s"deletes_bytes=${s.deletesBytes}\ndata_bytes=${s.dataBytes}\n" +
      s"nlist=${s.evidence.nlist}\n" +
      s.evidence.cells.map(c => s"${c._1}:${c._2}:${c._3}")
        .mkString("cells=", ",", "\n")

  override protected def parseEvidence(kv: Map[String, String]): IvfHealth =
    IvfHealth(kv.getOrElse("cells", "").split(",").toSeq
      .filter(_.nonEmpty).map { t =>
        val Array(c, l, d) = t.split(":", 3)
        (c.toInt, l.toLong, d.toLong)
      }, kv("nlist").toLong)

  /** The trained cell count, served from the per-version centroid cache
    * (nlist is immutable within a version), so a health fold on a warm
    * cache runs no Spark job. */
  private def nlistOf(wh: Warehouse, name: String): Long =
    loadCentroids(wh, wh.dataPath(name)).length.toLong

  override protected def healthRow(wh: Warehouse,
                                   s: IndexAdvice.Snapshot[IvfHealth])
      : DataFrame = {
    import wh.spark.implicits._
    val e = s.evidence
    Seq((e.liveRows, e.deadRows, e.deadFraction, s.deletesBytes,
        s.dataBytes, e.nlist, e.maxCell, e.skew, s.nFiles, s.totalBytes))
      .toDF("live_rows", "dead_rows", "dead_fraction", "deletes_bytes",
        "data_bytes", "nlist", "max_cell_rows", "cell_skew", "n_files",
        "census_bytes")
  }

  /** Fold a batch's per-cell deltas into captured health evidence:
    * `liveDelta` adds live entries (an append); `deadDelta` moves live
    * entries to dead (a tombstone cut). */
  private def foldCells(wh: Warehouse, name: String, pre: IvfHealth,
                        liveDelta: Map[Int, Long],
                        deadDelta: Map[Int, Long]): IvfHealth = {
    val preMap = pre.cells.map(t => t._1 -> (t._2, t._3)).toMap
    val keys = preMap.keySet ++ liveDelta.keySet ++ deadDelta.keySet
    IvfHealth(keys.toSeq.sorted.map { cl =>
      val (l, d) = preMap.getOrElse(cl, (0L, 0L))
      val dd = deadDelta.getOrElse(cl, 0L)
      (cl, l + liveDelta.getOrElse(cl, 0L) - dd, d + dd)
    }, nlistOf(wh, name))
  }

  /** The stored health row — None when never analyzed on this version
    * or STALE (any index file changed since; the census stamp moved). */
  def readHealth(wh: Warehouse, name: String): Option[DataFrame] =
    storedHealth(wh, name)

  /** The maintenance POLICY ([[IndexAdvice.Tombstoned.advise]]):
    * occupancy drift past `maxCellSkew` advises Rebuild (structural —
    * compaction cannot fix it, and the [[append]] scaladoc's "schedule a
    * rebuild on a drift signal" stops being a comment here); otherwise
    * dead mass / tombstone bloat past threshold advises Compact;
    * otherwise Healthy. */
  def maintenanceAdvice(wh: Warehouse, name: String,
                        maxDeadFraction: Double = DefaultMaxDeadFraction,
                        maxTombstoneBloat: Double = DefaultMaxTombstoneBloat,
                        maxCellSkew: Double = DefaultMaxSkew)
      : IndexAdvice =
    advise(wh, name, maxDeadFraction, maxTombstoneBloat, maxCellSkew)

  /** Execute the REBUILD arm from the index itself — for the
    * PLAIN-vector layout, whose entries carry the original vectors: the
    * live entries re-train the coarse quantizer at observed mass (the
    * greedy D²-weighted k-means++ init grants dense drift regions
    * centroids in proportion to the distortion they carry — the exact
    * fix for the occupancy skew that fires the Rebuild trigger) and the
    * re-assigned corpus republishes atomically through [[build]], so
    * the engine no longer needs the caller for the re-train. The
    * training sample is hash-ordered by id, so rebuilding from the
    * index's own live rows trains THE SAME centroids a
    * `build(corpus ∪ appended)` over the equivalent row set would.
    * `nlist = 0` keeps the trained granularity (the Rebuild trigger is
    * mass that MOVED, not grew; the nlist ~ √N sizing lever stays with
    * callers who scaled the corpus). A CODED (PQ) layout refuses
    * loudly — 12-byte codes cannot re-train a quantizer; re-run
    * [[buildPq]] over the corpus. Health is re-measured onto the fresh
    * version (one column-pruned (id, seq, cell) pass — the cell mapping
    * changed, so no fold applies), keeping post-rebuild advice at
    * metadata cost. Returns the published version. */
  def rebuild(wh: Warehouse, name: String = "ivf_index", nlist: Int = 0,
              seed: Long = 42L): String = {
    val version = wh.currentVersion(name).getOrElse(
      throw new IllegalStateException(s"index '$name' was never built"))
    val vdir = s"${wh.root}/$name/_versions/$version"
    val df = wh.readVersion(name, version)
    require(!df.columns.contains("code"),
      s"index '$name' is a coded (PQ) layout — its 12-byte entries " +
        "cannot re-train a quantizer; re-run buildPq over the corpus")
    val idName = df.columns.head // build selects the id first...
    val vecName = df.columns(1) // ...and the vector second
    val cents0 = loadCentroids(wh, vdir)
    val live = liveOnly(wh, vdir, df, idName).drop("cell", "seq")
    val attrs = live.columns.toSeq
      .filterNot(c => c == idName || c == vecName)
    val out = build(wh, live, idName, vecName, cents0.head.length,
      if (nlist > 0) nlist else cents0.length, name, seed, attrs)
    analyzeHealth(wh, name)
    out
  }

  /** The LIVE ids of the index — entries surviving the tombstone cuts,
    * as a one-column `id` frame from a column-pruned entry scan. The
    * bounded contract surface for corpus-side hygiene
    * ([[graft.operators.Dedup.compactCorpus]]), coverage validation
    * ([[graft.operators.Dedup.semDedupAdmit]] `validateCorpus`), and
    * [[rebuildPq]]'s refusal check. Works on both layouts. */
  def liveIds(wh: Warehouse, name: String): DataFrame = {
    val df = wh.read(name)
    val idName = df.columns.head // build/buildPq select the id first
    liveOnly(wh, wh.dataPath(name),
      df.select(col(idName).as("id"), col("seq"))).drop("seq")
  }

  /** Execute the REBUILD arm for the CODED (PQ) layout — the production
    * index at 100 TB, whose 12-byte entries cannot re-train a quantizer
    * from themselves ([[rebuild]] refuses them): the exact vectors come
    * from `corpus`, the table the index ALREADY requires as every
    * probe's rerank companion, so the rebuild asks for nothing the
    * pipeline doesn't keep. The live entry ids (and their layout
    * attributes) join against the corpus vectors, the coarse quantizer,
    * codebooks, and — when the retiring version carried one — the OPQ
    * rotation all RE-TRAIN at observed mass (the same hash-ordered
    * bounded sample [[buildPq]] draws, so the rebuild trains the same
    * quantizers a caller-side `buildPq` over the equivalent (id,
    * vector) set would), and the re-encoded corpus republishes
    * atomically through [[buildPq]]. Structural parameters default to
    * the retiring layout's (`nlist`/`m`/`ksub` = 0 keeps them — the
    * Rebuild trigger is mass that MOVED, not grew); a rotation-carrying
    * index re-trains with learned OPQ unless `opq` overrides (the
    * learned mode subsumes the cheaper rotation modes at rebuild time,
    * when a full re-train is being paid for anyway).
    *
    * The corpus-coverage contract is LOUD: every live id must join
    * exactly one corpus vector, or the call refuses with the counts — a
    * hole would silently SHRINK the index, a duplicate would
    * double-index it. Health is re-measured onto the fresh version (the
    * cell mapping changed, no fold applies), keeping post-rebuild
    * advice at metadata cost. Returns the published version. */
  def rebuildPq(wh: Warehouse, corpus: DataFrame, idCol: String,
                vecCol: String, name: String = "ivfpq_index",
                nlist: Int = 0, m: Int = 0, ksub: Int = 0,
                trainIters: Int = 4, sampleSize: Int = 4096,
                seed: Long = 42L,
                opq: Option[Similarity.OpqMode] = None): String = {
    val version = wh.currentVersion(name).getOrElse(
      throw new IllegalStateException(s"index '$name' was never built"))
    val vdir = s"${wh.root}/$name/_versions/$version"
    val df = wh.readVersion(name, version)
    require(df.columns.contains("code"),
      s"index '$name' is a plain-vector layout — rebuild() re-trains " +
        "it from its own entries; rebuildPq is for coded layouts")
    val idName = df.columns.head // buildPq selects the id first
    val cents0 = loadCentroids(wh, vdir)
    val books0 = loadBooks(wh, vdir)
    val rot0 = loadRotation(wh, vdir)
    val attrs = df.columns.toSeq.filterNot(c =>
      c == idName || c == "cell" || c == "code" || c == "seq")
    // live (id, attrs) from the index — attributes ride the LAYOUT, so
    // the corpus only owes (id, vector); pinned because the coverage
    // check and the join both consume it
    val (liveEntries, nLive) = Exec.materializeCounted(liveOnly(wh, vdir,
      df.select((idName +: attrs :+ "seq").map(col): _*), idName)
      .drop("seq"))
    val (src, nSrc) = Exec.materializeCounted(liveEntries.join(
      corpus.select(col(idCol).as(idName), col(vecCol)), Seq(idName)))
    // the DISTINCT joined-id count catches each defect independently:
    // a bare nSrc == nLive would pass when a missing live id and a
    // duplicated corpus id cancel out — exactly the silent shrink +
    // double-index the check exists to prevent
    val nDistinct = src.select(col(idName)).distinct().count()
    require(nDistinct == nLive && nSrc == nDistinct,
      s"rebuildPq: corpus rows joined to $nSrc rows over $nDistinct " +
        s"distinct ids against $nLive live index ids — the corpus " +
        "table must cover every live id exactly once (a hole would " +
        "silently shrink the index; a duplicate id would double-index " +
        "it)")
    val out = buildPq(wh, src, idName, vecCol, cents0.head.length,
      if (nlist > 0) nlist else cents0.length,
      if (m > 0) m else books0.length,
      if (ksub > 0) ksub else books0.head.length,
      trainIters, sampleSize, name, seed,
      opq.getOrElse(
        if (rot0.nonEmpty) Similarity.OpqMode.Learned()
        else Similarity.OpqMode.Off),
      attrs)
    analyzeHealth(wh, name)
    out
  }

  /** The corpus source a coded-layout rebuild re-trains from — the
    * exact-vector table (and its id/vector column names) every PQ
    * probe already uses as the rerank side. Passed to [[maintain]] so
    * `executeRebuild` can close the policy loop on the production
    * layout. */
  final case class PqRebuildSource(corpus: DataFrame, idCol: String,
                                   vecCol: String)

  /** Consult [[maintenanceAdvice]] and ACT on it — the one call a
    * nightly maintenance job needs per vector index. Compact advice is
    * executed; Rebuild advice is returned, and with `executeRebuild`
    * also EXECUTED — via [[rebuild]] for the plain-vector layout, via
    * [[rebuildPq]] for the coded layout when `rebuildSource` supplies
    * the corpus table (the rerank companion every PQ pipeline already
    * keeps). A coded index WITHOUT a source returns the Rebuild advice
    * UN-executed instead of throwing: a nightly job enabling the flag
    * across a fleet must surface the advice for its PQ indexes, not
    * crash on the first one — the loud refusal is [[rebuild]]'s, for
    * direct calls. */
  def maintain(wh: Warehouse, name: String,
               maxDeadFraction: Double = DefaultMaxDeadFraction,
               maxTombstoneBloat: Double = DefaultMaxTombstoneBloat,
               maxCellSkew: Double = DefaultMaxSkew,
               executeRebuild: Boolean = false,
               rebuildSource: Option[PqRebuildSource] = None)
      : IndexAdvice =
    maintainWith(wh, name, maxDeadFraction, maxTombstoneBloat, maxCellSkew,
      executeRebuild)(compact(wh, name),
      if (!wh.read(name).columns.contains("code")) rebuild(wh, name)
      else rebuildSource.foreach(s =>
        rebuildPq(wh, s.corpus, s.idCol, s.vecCol, name)))
}
