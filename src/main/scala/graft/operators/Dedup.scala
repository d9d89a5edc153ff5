package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Exec
import graft.functions.{TextFunctions, VectorFunctions}

/** Corpus deduplication operators for the 100 TB training-data path.
  *
  * Exact dedup is a hash group-by (one shuffle on the content hash).
  * Near-dup families (MinHash+LSH, SimHash, embedding-SRP) all follow the
  * same scale shape: compute a compact per-row signature map-side (pure
  * Catalyst expressions, no UDFs), explode into a handful of band buckets,
  * self-join on the bucket key (the only shuffle — bucket keys are
  * high-cardinality so it parallelizes), then verify candidates exactly.
  * No all-pairs comparison ever materializes.
  */
object Dedup {

  /** Exact dedup on a content column: one representative (min id) per
    * distinct value + multiplicity. */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(md5(col(contentCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash signatures as a DataFrame (id, sig: array<bigint>).
    *
    * One scalar [[graft.functions.MinHashSignatureExpr]] per row over the
    * shingle-hash array: the tokenize→shingle→hash pipeline is evaluated
    * once per document and the numHashes×|shingles| min-loop runs as tight
    * JVM code (the 64-separate-aggregates / nested-HOF formulations both
    * re-evaluate the pipeline per hash function and blow up whole-stage
    * codegen). The repartition restores parallelism when documents arrive
    * as a few big files — and is the shape a 1000-executor cluster wants.
    */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, numHashes: Int = 64,
                        seed: Long = 42L): DataFrame = {
    import graft.functions.SignatureExpressions
    // explicit partition count: this stage is CPU-bound per row, and AQE's
    // size-based coalescing would collapse a small-bytes shuffle to one
    // task (observed: 1 task × 8.8 s); REPARTITION_BY_NUM is exempt
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).as("id"),
        SignatureExpressions.minhashFromText(col(textCol), k, numHashes, seed)
          .as("sig"))
  }

  /** (id, b, key) band keys for a signature frame. The explode is over a
    * LITERAL band-index array — exploding per-band structs would let
    * InferFiltersFromGenerate inline the signature pipeline into pushed
    * filters (see minHashLSH). */
  private[graft] def bandKeys(sigs: DataFrame, nBands: Int,
                              rowsPerBand: Int): DataFrame =
    sigs
      .select(col("id"), col("sig"),
        explode(lit((0 until nBands).toArray)).as("b"))
      .select(col("id"), col("b"),
        hash(slice(col("sig"), col("b") * rowsPerBand + 1, lit(rowsPerBand)))
          .as("key"))

  /** MinHash + LSH near-duplicate pairs.
    *
    * @return (id_a, id_b, est_jaccard) with id_a < id_b, est_jaccard =
    *         fraction of matching signature positions, filtered ≥ threshold.
    *         Banding: `numHashes/rowsPerBand` bands; a pair is a candidate
    *         if any band collides (standard S-curve guarantee).
    */
  def minHashLSH(df: DataFrame, idCol: String, textCol: String,
                 threshold: Double = 0.5, k: Int = 3, numHashes: Int = 64,
                 rowsPerBand: Int = 4, seed: Long = 42L): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must divide into bands")
    val nBands = numHashes / rowsPerBand
    val sigd = minHashSignatures(df, idCol, textCol, k, numHashes, seed)
    // explode a LITERAL band-index array, then derive each band key from the
    // materialized sig column. Exploding an array of per-band structs looks
    // natural but is a trap: InferFiltersFromGenerate adds `size(bands) > 0`
    // and pushdown inlines the whole signature pipeline into that filter —
    // nBands× per row, below the exchange (observed in the sf0.1 plan).
    // A literal index array constant-folds the inferred filter away.
    val banded = bandKeys(sigd, nBands, rowsPerBand)
    // the band self-join and pair-dedup carry only (id, b, key) — a pair
    // colliding in many bands would otherwise shuffle its two 64-long
    // signatures once per band; signatures are re-attached after distinct
    val a = banded.select(col("id").as("id_a"), col("b"), col("key"))
    val bb = banded.select(col("id").as("id_b"), col("b"), col("key"))
    val cand = a.join(bb, Seq("b", "key")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(sigd.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigd.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.SignatureExpressions
          .sigAgreement(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Incremental near-dup detection: near-duplicate pairs between a NEW
    * batch and an EXISTING corpus represented by its STORED signatures
    * (the [[minHashSignatures]] output — `(id, sig)` — is the durable
    * asset). This is the production shape of corpus dedup at 100 TB: the
    * corpus is signatured exactly once, each arriving batch signatures
    * only itself and band-joins against the stored table; nothing over
    * the existing corpus text is ever recomputed.
    *
    * The caller must pass the same (k, numHashes, seed) the stored
    * signatures were built with — signatures from different parameters
    * never collide meaningfully.
    *
    * ALL pairs at or above threshold are returned, including same-id
    * pairs: a stable-id crawl pipeline re-crawling doc X finds X's own
    * stored signature at agreement 1 (often exactly the pair it wants).
    * Only [[minHashAdmit]] excludes same-id pairs — there an arrival's
    * own landed signature must not veto its replayed admission.
    *
    * @return (new_id, existing_id, est_jaccard) with agreement ≥ threshold
    */
  def minHashLSHAgainst(newDocs: DataFrame, idCol: String, textCol: String,
                        existingSigs: DataFrame, threshold: Double = 0.5,
                        k: Int = 3, numHashes: Int = 64, rowsPerBand: Int = 4,
                        seed: Long = 42L): DataFrame =
    lshAgainstSigs(
      minHashSignatures(newDocs, idCol, textCol, k, numHashes, seed),
      existingSigs, threshold, numHashes, rowsPerBand,
      excludeSameId = false)

  /** The band-join core of [[minHashLSHAgainst]] over ALREADY-computed
    * new-side signatures — shared with [[minHashAdmit]], whose admitted
    * signatures must be the very rows the decision used (recomputing
    * them could diverge on a non-deterministic batch).
    *
    * `excludeSameId` drops pairs where the arrival id equals the stored
    * id — the ADMISSION discipline only: an arrival is never its own
    * near-dup, which is what lets a REPLAYED admission batch (its
    * signatures already landed) re-decide identically instead of
    * self-matching at agreement 1. [[minHashLSHAgainst]] keeps same-id
    * pairs (a stable-id re-crawl pipeline wants them). */
  private def lshAgainstSigs(newSigs: DataFrame, existingSigs: DataFrame,
                             threshold: Double, numHashes: Int,
                             rowsPerBand: Int,
                             excludeSameId: Boolean): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must divide into bands")
    val nBands = numHashes / rowsPerBand
    val a = bandKeys(newSigs, nBands, rowsPerBand)
      .select(col("id").as("new_id"), col("b"), col("key"))
    val e = bandKeys(existingSigs, nBands, rowsPerBand)
      .select(col("id").as("existing_id"), col("b"), col("key"))
    val cand = a.join(e, Seq("b", "key"))
      .filter(if (excludeSameId) col("new_id") =!= col("existing_id")
        else lit(true))
      .select("new_id", "existing_id").distinct()
    cand
      .join(newSigs.select(col("id").as("new_id"), col("sig").as("sig_a")),
        Seq("new_id"))
      .join(existingSigs.select(col("id").as("existing_id"),
        col("sig").as("sig_b")), Seq("existing_id"))
      .select(col("new_id"), col("existing_id"),
        graft.functions.SignatureExpressions
          .sigAgreement(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  private def fsOf(wh: graft.engine.Warehouse,
                   p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(wh.spark.sessionState.newHadoopConf())

  private def replacedPath(wh: graft.engine.Warehouse, sigTable: String) =
    s"${wh.dataPath(sigTable)}/_replaced"

  /** The LIVE rows of a signature table: the stored rows minus
    * incumbents a quality-aware [[minHashAdmit]] replaced (their ids
    * accumulate in a `_replaced` companion of (id, token) rows riding
    * the table's data directory — underscore-invisible to plain scans,
    * metadata-cost to write, applied physically only by
    * [[compactSigs]]). Every consumer of the table routes through
    * this — a replaced incumbent must stop matching arrivals the
    * moment its replacement lands. Costs one metadata existence check
    * when no replacement ever happened. */
  def liveSignatures(wh: graft.engine.Warehouse,
                     sigTable: String = "corpus_sigs"): DataFrame = {
    val df = wh.read(sigTable)
    val rp = new org.apache.hadoop.fs.Path(replacedPath(wh, sigTable))
    if (!fsOf(wh, rp).exists(rp)) df
    else df.join(graft.engine.JoinPolicy.broadcastIfSmall(
        wh.spark.read.parquet(rp.toString).select("id").distinct()),
      Seq("id"), "left_anti")
  }

  /** The stored-signature view an admission DECISION reads: the table
    * minus incumbents replaced by OTHER batches. Replacements recorded
    * under THIS batch's token stay VISIBLE — a replayed batch must
    * re-derive its decision against the pre-batch state, not against
    * the half-written effects of its own first attempt: an arrival
    * whose incumbent it already replaced would otherwise re-decide
    * against its SECOND-nearest stored near-dup and could flip from
    * admit to drop, stranding the tombstone and losing the upgrade.
    * The token is a pure function of the batch's id set, so the replay
    * derives the same one; a 64-bit collision with a foreign batch at
    * worst resurrects a dead incumbent for ONE decision — a
    * conservative drop, never corruption. Rows with a null token
    * (none are written by this engine) read as foreign. */
  private def decisionSignatures(wh: graft.engine.Warehouse,
                                 sigTable: String,
                                 myToken: Long): DataFrame = {
    val df = wh.read(sigTable)
    val rp = new org.apache.hadoop.fs.Path(replacedPath(wh, sigTable))
    if (!fsOf(wh, rp).exists(rp)) df
    else df.join(graft.engine.JoinPolicy.broadcastIfSmall(
        wh.spark.read.parquet(rp.toString)
          .filter(col("token").isNull || col("token") =!= myToken)
          .select("id").distinct()),
      Seq("id"), "left_anti")
  }

  /** Apply accumulated replacements physically: republish the signature
    * table as its live rows only (one atomic versioned publish — the
    * fresh version carries no `_replaced` companion; the stream replay
    * markers live at the table root, so a replayed batch still lands
    * nothing twice). Table-sized I/O, the same cost class as the band
    * join every admission batch already pays over this table; run it
    * when the replaced set's anti-join side has grown past comfort —
    * or let [[maintainSigs]] decide. */
  def compactSigs(wh: graft.engine.Warehouse,
                  sigTable: String = "corpus_sigs"): Unit = {
    wh.publish(liveSignatures(wh, sigTable), sigTable,
      wh.partitioningOf(sigTable))
    ()
  }

  /** Replaced-fraction gate for signature-table compaction: a rewrite
    * is earned when at least this fraction of the table's rows are
    * replaced incumbents. A REPLACED row costs every future admission
    * its anti-join build side and its dead band keys, so the axis is
    * ROWS, not bytes (replaced ids are 8 bytes against ~0.5 KB
    * signature rows — a byte ratio would never fire). */
  val DefaultMaxReplacedFraction = 0.25

  /** The hygiene POLICY for a quality-aware signature table — the
    * [[IvfIndex.maintenanceAdvice]] discipline applied to the one
    * companion this table has: Compact when the distinct `_replaced`
    * ids reach `maxReplacedFraction` of the table's stored rows,
    * Healthy otherwise (including when no replacement ever happened —
    * one metadata existence check). The table-rows count is a parquet
    * footer-metadata read; the replaced count deduplicates the
    * companion's id column — a scan of the (replaced-set-sized, tiny
    * by the time this matters) companion, never of the table. */
  def sigMaintenanceAdvice(wh: graft.engine.Warehouse,
                           sigTable: String = "corpus_sigs",
                           maxReplacedFraction: Double =
                             DefaultMaxReplacedFraction): IndexAdvice = {
    require(maxReplacedFraction > 0.0,
      s"maxReplacedFraction must be positive, got $maxReplacedFraction")
    val rp = new org.apache.hadoop.fs.Path(replacedPath(wh, sigTable))
    if (!fsOf(wh, rp).exists(rp)) IndexAdvice.Healthy
    else {
      // distinct: one incumbent can be re-recorded across retried
      // batches; the anti-join cost follows distinct ids
      val replaced = wh.spark.read.parquet(rp.toString)
        .distinct().count()
      val total = wh.read(sigTable).count()
      if (total > 0L &&
          replaced.toDouble / total >= maxReplacedFraction)
        IndexAdvice.Compact
      else IndexAdvice.Healthy
    }
  }

  /** Consult [[sigMaintenanceAdvice]] and ACT on it — Compact advice
    * executes [[compactSigs]]. The one call a nightly job (or the
    * streaming sink's `compactEvery` cadence) needs per signature
    * table; a below-gate replaced set stays as metadata instead of
    * forcing a table-sized rewrite for a handful of ids. */
  def maintainSigs(wh: graft.engine.Warehouse,
                   sigTable: String = "corpus_sigs",
                   maxReplacedFraction: Double =
                     DefaultMaxReplacedFraction): IndexAdvice = {
    val a = sigMaintenanceAdvice(wh, sigTable, maxReplacedFraction)
    if (a == IndexAdvice.Compact) compactSigs(wh, sigTable)
    a
  }

  /** Incremental near-dup ADMISSION for text — [[semDedupAdmit]]'s
    * signature-table sibling, closing the q74 loop: a NEW batch
    * signatures only itself, band-joins against the STORED signature
    * table ([[liveSignatures]] — replaced incumbents never match),
    * arrivals with an existing near-dup at or above `threshold`
    * agreement are dropped, and the survivors' SIGNATURES append to the
    * table — so the next batch dedups against them too and the corpus
    * text is never re-signatured. Returns the admitted rows of `batch`,
    * original columns.
    *
    * Day-0: publish the corpus signatures once
    * (`wh.publish(minHashSignatures(corpus, …), sigTable)`); pass the
    * same (k, numHashes, seed) here — signatures from different
    * parameters never collide meaningfully. Contract mirrors
    * [[semDedupAdmit]]: arrival ids are fresh, and near-dups WITHIN one
    * batch admit together (dedupe the batch against itself first when
    * arrivals can collide in-batch). The admitted signatures are the
    * very rows the decision used — pinned once, never recomputed.
    *
    * With `scoreCol` the admission is QUALITY-AWARE — the
    * upgrade-on-re-crawl shape over text, mirroring [[semDedupAdmit]]'s:
    * each matched arrival is decided against its TOP stored near-dup
    * (max agreement, ties toward the smallest stored id — the signature
    * analogue of the rank-1 nearest). An arrival that OUTSCORES that
    * incumbent replaces it (the incumbent's signature rows stop
    * matching — the q219 tombstone discipline over the signature
    * table); one at or below drops. Ties keep the incumbent, so a
    * byte-identical re-crawl never churns the table. Both `batch` and
    * the signature table must carry `scoreCol` (day-0: join the scores
    * onto the published signatures); a missing or null score refuses
    * loudly — a silently-skipped decision would admit a duplicate
    * without tombstoning its incumbent.
    *
    * RETRY-SAFE by construction, in both modes — a replayed batch
    * re-derives the SAME decision against the pre-batch state and
    * converges instead of compounding, whatever landed on the first
    * attempt: (1) the whole batch's ids are excluded from the stored
    * DECISION side, so arrivals' own landed signatures — including
    * each other's, the in-batch near-dup case — never veto the
    * replay; (2) replacements are recorded under the batch's TOKEN
    * (a pure function of its id set) and [[decisionSignatures]] keeps
    * THIS batch's replacements visible to its own replay, so an
    * arrival whose incumbent already tombstoned re-decides against
    * that same incumbent instead of flipping to its second-nearest
    * near-dup; (3) survivors' signatures land via a left-anti against
    * the table's existing ids, so nothing appends twice (a replayed
    * replacement appends a duplicate (id, token) row — everything
    * reads the companion through distinct). Any single crash point —
    * after the replacement write, after the signature append, or
    * between them — therefore replays to the completed state. */
  def minHashAdmit(wh: graft.engine.Warehouse, batch: DataFrame,
                   idCol: String, textCol: String,
                   sigTable: String = "corpus_sigs",
                   threshold: Double = 0.5, k: Int = 3,
                   numHashes: Int = 64, rowsPerBand: Int = 4,
                   seed: Long = 42L,
                   scoreCol: Option[String] = None): DataFrame = {
    val pinned = Exec.materialize(batch)
    // the batch token (order-independent fold of the id set — the replay
    // derives the same one, see decisionSignatures) rides the signature
    // pinning job as an Observation metric instead of a head() job
    val (newSigs, sigM) = Exec.materializeObserved(
      minHashSignatures(pinned, idCol, textCol, k, numHashes, seed),
      Map("token" -> expr("bit_xor(xxhash64(id))")))
    val myToken = sigM("token") match {
      case l: Long => l
      case _ => 0L // empty batch: every downstream set is empty, the
                   // token never reaches storage — any value works
    }
    // decision side: minus OTHER batches' replacements, minus THIS
    // batch's own ids (fresh on a first run — the anti-join is a
    // no-op; on a replay it hides the batch's landed signatures, so
    // in-batch near-dups that admitted together stay admitted)
    val stored = decisionSignatures(wh, sigTable, myToken)
      .join(newSigs.select(col("id")), Seq("id"), "left_anti")
    val hits = lshAgainstSigs(newSigs, stored, threshold, numHashes,
      rowsPerBand, excludeSameId = true)
    val dupIds = scoreCol match {
      case None => hits.select(col("new_id").as(idCol)).distinct()
      case Some(sc) =>
        require(wh.read(sigTable).columns.contains(sc),
          s"quality-aware admission needs the signature table " +
            s"'$sigTable' to carry '$sc' (join the scores onto the " +
            "published signatures at day-0)")
        import graft.functions.TopKAggregate
        // the TOP stored near-dup per arrival: max agreement, ties
        // toward the smallest stored id — one bounded top-1 aggregate,
        // batch-sized (the bestLosers selection shape)
        val (top, nTop) = Exec.materializeCounted(hits
          .groupBy(col("new_id"))
          .agg(TopKAggregate.topKStructs(
            struct(col("est_jaccard"), col("existing_id")), 1,
            desc = Seq(false, true)).as("t"))
          .select(col("new_id"),
            element_at(col("t"), 1).getField("existing_id")
              .as("existing_id")))
        // evidence scalars ride the pinning job (see scoredDecision)
        val (scored, m) = Exec.materializeObserved(top
          .join(pinned.select(col(idCol).as("new_id"),
            col(sc).cast("double").as("__bs")), Seq("new_id"))
          .join(stored.select(col("id").as("existing_id"),
            col(sc).cast("double").as("__cs")), Seq("existing_id")),
          Map("n" -> count(lit(1)),
            "n_null" -> count(when(col("__bs").isNull ||
              col("__cs").isNull, 1)),
            "n_up" -> count(when(col("__bs") > col("__cs"), 1))))
        require(m("n") == nTop && m("n_null") == 0L,
          "quality-aware admission: every matched arrival and its " +
            s"incumbent must carry a non-null '$sc' — a missing score " +
            "would silently admit a duplicate without tombstoning its " +
            "incumbent")
        // tombstone the outscored incumbents BEFORE the survivors'
        // signatures land (the q219 write order); the rows carry this
        // batch's token so the batch's own replay still SEES them as
        // live for its decision (a replayed write appends duplicate
        // rows — harmless, the companion is read through distinct).
        // Shards size from the observed upgrade ROW count — an upper
        // bound on the distinct incumbents, identical below the
        // one-file threshold and multi-file either way above it
        val nUp = m("n_up").asInstanceOf[Long]
        if (nUp > 0L)
          scored.filter(col("__bs") > col("__cs"))
            .select(col("existing_id").as("id")).distinct()
            .withColumn("token", lit(myToken))
            .repartition(IndexAdvice.companionShards(nUp))
            .write.mode(org.apache.spark.sql.SaveMode.Append)
            .parquet(replacedPath(wh, sigTable))
        scored.filter(col("__bs") <= col("__cs"))
          .select(col("new_id").as(idCol)).distinct()
    }
    val (admitted, nAdmitted) = Exec.materializeCounted(
      pinned.join(dupIds, Seq(idCol), "left_anti"))
    // an all-duplicates batch grows the signature table by nothing;
    // the left-anti against the table's OWN ids makes a replayed
    // batch's append a no-op (retry safety — the decision above is
    // already stable, this keeps the table from bloating)
    if (nAdmitted > 0L) {
      val sigRows = newSigs
        .join(admitted.select(col(idCol).as("id")), Seq("id"), "left_semi")
        .join(wh.read(sigTable).select(col("id")), Seq("id"), "left_anti")
      val out = scoreCol match {
        case None => sigRows
        case Some(sc) =>
          sigRows.join(pinned.select(col(idCol).as("id"), col(sc)),
            Seq("id"))
      }
      // pin + count in one job, append reads the pinned rows — the
      // emptiness probe no longer re-derives the anti-join plan
      val (outP, nOut) = Exec.materializeCounted(out)
      if (nOut > 0L) wh.append(outP, sigTable)
    }
    admitted
  }

  /** Continuous TEXT admission — [[minHashAdmit]] as a self-maintaining
    * sink, the signature-table twin of [[streamingAdmit]]: each
    * micro-batch signatures only itself, dedups against the stored
    * table, survivors land in BOTH the signature table (so the next
    * batch dedups against them) and `corpusTable` (the admitted
    * documents themselves — [[Warehouse.appendStreamBatch]]'s
    * promote-marker protocol). Publish the day-0 corpus and signature
    * tables first (both may be empty frames with the right schema).
    * With `scoreCol` the sink is quality-aware: an outscoring re-crawl
    * replaces its top stored near-dup ([[minHashAdmit]]'s upgrade
    * semantics), and the corpus table accretes the replaced incumbents
    * as stale rows until the periodic hygiene pass drops them.
    *
    * Effectively-once under foreachBatch's at-least-once replay comes
    * almost for free here, because [[minHashAdmit]] is retry-safe BY
    * CONSTRUCTION (stable decision via self-id exclusion and
    * `_replaced` tombstones; left-anti signature appends): a replayed
    * batch re-decides identically, appends no signature twice, and the
    * corpus landing is the replay-idempotent promote-marker append. A
    * crash between the signature and corpus writes converges on the
    * replay — the re-decision returns the same admitted rows and only
    * the missing write lands.
    *
    * With `compactEvery > 0`, every that-many batches the sink CONSULTS
    * [[sigMaintenanceAdvice]] (footer-metadata counts) and, when the
    * replaced fraction earns it, applies accumulated replacements
    * physically: the corpus table republishes to the live signature ids
    * (the stale-score rows drop) and [[compactSigs]] clears the
    * `_replaced` companion — both table-sized rewrites, which is why a
    * POLICY decides and the cadence only sets how often it is asked
    * (the [[streamingAdmit]] `maintainEvery` discipline). A batch
    * carrying the same id twice is refused loudly (dedupe upstream,
    * last-crawl-wins). */
  def streamingMinHashAdmit(wh: graft.engine.Warehouse,
                            arrivals: DataFrame, idCol: String,
                            textCol: String, checkpoint: String,
                            sigTable: String = "corpus_sigs",
                            corpusTable: String = "corpus_docs",
                            threshold: Double = 0.5, k: Int = 3,
                            numHashes: Int = 64, rowsPerBand: Int = 4,
                            seed: Long = 42L,
                            scoreCol: Option[String] = None,
                            compactEvery: Int = 0,
                            maxReplacedFraction: Double =
                              DefaultMaxReplacedFraction)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    arrivals.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (pinned, n) = Exec.materializeCounted(batch)
        if (n > 0) {
          require(pinned.select(col(idCol)).distinct().count() == n,
            s"streamingMinHashAdmit: a micro-batch carries duplicate " +
              s"'$idCol' rows — dedupe upstream (last-crawl-wins) " +
              "before admission")
          val admitted = minHashAdmit(wh, pinned, idCol, textCol,
            sigTable, threshold, k, numHashes, rowsPerBand, seed,
            scoreCol)
          if (!admitted.isEmpty)
            wh.appendStreamBatch(admitted, corpusTable, batchId)
        }
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0 &&
            sigMaintenanceAdvice(wh, sigTable, maxReplacedFraction) ==
              IndexAdvice.Compact) {
          // corpus first: its live-id semi-join reads the replaced
          // set through liveSignatures; once compactSigs clears the
          // companion the same read would already BE live-only
          wh.publish(
            wh.read(corpusTable).join(liveSignatures(wh, sigTable)
              .select(col("id").as(idCol)), Seq(idCol), "left_semi"),
            corpusTable, wh.partitioningOf(corpusTable))
          compactSigs(wh, sigTable)
        }
        ()
      }
      .start()
  }

  /** 64-bit SimHash per document: one scalar [[graft.functions.SimHashExpr]]
    * over the token array — single pass, no explode, no shuffle. */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.SignatureExpressions
    // explicit count for the same AQE-coalescing reason as minHashSignatures
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).as("id"),
        SignatureExpressions.simhash64(
          TextFunctions.tokens(col(textCol))).as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, using
    * 4×16-bit band blocking (pigeonhole: any pair within distance 3 shares
    * at least one exact band).
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    // pigeonhole over 4 bands of 16 bits guarantees recall only for
    // distance <= 3; a larger radius would silently return a partial set
    require(maxHamming >= 0 && maxHamming <= 3,
      s"simHashPairs: 4-band blocking guarantees recall only for " +
        s"maxHamming <= 3, got $maxHamming")
    val sh = simHash(df, idCol, textCol)
    // literal index explode for the same InferFiltersFromGenerate reason as
    // in minHashLSH
    val banded = sh
      .select(col("id"), col("simhash"),
        explode(lit((0 until 4).toArray)).as("b"))
      .select(col("id"), col("simhash"), col("b"),
        expr("shiftright(simhash, b * 16)").bitwiseAND(0xFFFFL).as("key"))
    val a = banded.select(col("id").as("id_a"), col("simhash").as("sh_a"),
      col("b"), col("key"))
    val bb = banded.select(col("id").as("id_b"), col("simhash").as("sh_b"),
      col("b"), col("key"))
    // hamming filter BEFORE the dedup exchange: the bit_count is
    // map-side-cheap and a pure function of the pair, so filtering
    // first shrinks the distinct's shuffle to surviving pairs only,
    // with identical results
    a.join(bb, Seq("b", "key")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram Jaccard similarity for LSH candidate pairs: re-joins the
    * shingle sets and computes |∩|/|∪| precisely. The expensive exact step
    * only ever runs on the candidate set, never all pairs.
    */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.3, k: Int = 3): DataFrame = {
    // the candidate set is tiny but its plan embeds the whole LSH pipeline,
    // and it is referenced three times below (semi-join prune + two pair
    // joins) — eager materialization computes it exactly once
    // (a lazy one would still recompute the lineage per reference inside
    // the single downstream job)
    // candidate gate at min(0.2, threshold): the LSH screen must never
    // be TIGHTER than the exact threshold, or pairs the caller asked
    // for (threshold < 0.2) would silently skip the verify step
    val cand = minHashLSH(df, idCol, textCol,
        threshold = math.min(0.2, threshold), k = k)
      .select("id_a", "id_b").transform(Exec.materialize)
    // only candidate ids pay for exact shingle sets (semi-join prune);
    // semi-join first so shingling runs on the pruned set, repartitioned
    // because shingling is CPU-bound (AQE would coalesce to one task)
    val candIds = cand.select(col("id_a").as("id"))
      .union(cand.select(col("id_b").as("id"))).distinct()
    val sh = df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .join(candIds, Seq("id"), "left_semi")
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("id"))
      .select(col("id"),
        graft.functions.SignatureExpressions.wordShingles(col("__text"), k)
          .as("sh"))
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      // |A ∪ B| = |A| + |B| − |A ∩ B| exactly (shingle arrays are SETS
      // by construction — ShinglesExpr dedups) — same integers, same
      // double, one O(n) set op per candidate instead of two
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) -
            size(array_intersect(col("sh_a"), col("sh_b"))))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** EXACT set-similarity self-join via prefix filtering (Chaudhuri et
    * al. ICDE'06 "A Primitive Operator for Similarity Joins"; Xiao et
    * al. WWW'08 PPJoin): every pair of documents whose word-k-shingle
    * Jaccard ≥ `threshold`, with guaranteed recall — the deterministic
    * complement of [[minHashLSH]], whose banding is probabilistic and
    * can miss a boundary pair.
    *
    * Prefix theorem: fix ONE global ordering of the shingle universe
    * and sort every document's shingle set by it; if J(x,y) ≥ t then
    * the first |x| − ⌈t·|x|⌉ + 1 shingles of x and the same-length
    * prefix of y share at least one element — so pairs sharing a
    * prefix shingle are a SUPERSET of the true result, and an exact
    * verify finishes the job. The ordering used is document frequency
    * ASCENDING (rarest shingle first, shingle string as tiebreak):
    * prefixes then hold the corpus' rarest shingles, so the candidate
    * join's posting lists stay short and the hot boilerplate shingles
    * sort last — out of every prefix — where a naive shared-shingle
    * join explodes on exactly those.
    *
    * Scale shape: one df aggregation (shuffle keyed by shingle), one
    * per-doc sort (shuffle keyed by id, state = that doc's shingles),
    * the prefix self-join (shuffle keyed by prefix shingle), a size
    * filter (J ≥ t forces t·|x| ≤ |y| ≤ |x|/t), then candidate-only
    * exact verification — all-pairs never materializes. Prefix lengths
    * and size bounds carry a 1e-9 slack so float rounding can only ADD
    * candidates, never drop a true pair. */
  def jaccardJoinExact(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double, k: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val n = df.sparkSession.sparkContext.defaultParallelism
    // shingle sets are referenced by BOTH the prefix build and the final
    // verify; materialized so shingling runs once, spread wide (CPU-bound)
    val sh = df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .repartition(n, col("id"))
      .select(col("id"),
        graft.functions.SignatureExpressions.wordShingles(col("__text"), k)
          .as("sh"))
      .transform(Exec.materialize)
    val posts = sh.select(col("id"), explode(col("sh")).as("tok"))
    val dfreq = posts.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val ordered = posts.join(dfreq, Seq("tok"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("o"))
      .select(col("id"),
        transform(col("o"), x => x.getField("tok")).as("toks"),
        size(col("o")).as("n"))
    val prefLen = (col("n") -
      ceil(col("n") * threshold - lit(1e-9)) + 1).cast("int")
    val pref = ordered
      .select(col("id"), col("n"),
        posexplode(slice(col("toks"), lit(1), prefLen)))
      .select(col("id"), col("n"), (col("pos") + 1).as("p"),
        col("col").as("tok"))
    // positional filter (PPJoin): J ≥ t forces overlap O ≥
    // ⌈t/(1+t)·(|x|+|y|)⌉, and a match at 1-based prefix positions
    // (pa, pb) can still reach at most 1 + min(|x|−pa, |y|−pb) common
    // tokens — for a TRUE pair the FIRST common token (which the prefix
    // theorem places inside both prefixes, with no common tokens before
    // it) always satisfies the bound, so keeping pairs where ANY
    // matching row passes loses nothing while pruning candidates whose
    // only shared prefix tokens sit too deep to reach the overlap
    val alpha = ceil((col("n_a") + col("n_b")) *
      (threshold / (1.0 + threshold)) - lit(1e-9))
    val cand = pref
      .select(col("id").as("id_a"), col("n").as("n_a"),
        col("p").as("p_a"), col("tok"))
      .join(pref.select(col("id").as("id_b"), col("n").as("n_b"),
        col("p").as("p_b"), col("tok")), Seq("tok"))
      .filter(col("id_a") < col("id_b") &&
        col("n_b") >= col("n_a") * threshold - lit(1e-9) &&
        col("n_a") >= col("n_b") * threshold - lit(1e-9) &&
        lit(1) + least(col("n_a") - col("p_a"),
          col("n_b") - col("p_b")) >= alpha)
      .select("id_a", "id_b").distinct()
      // explicit width: the candidate set is BYTE-small but each row
      // pays an exact set intersection downstream — AQE coalesces the
      // distinct's exchange by size and would serialize that CPU work
      .repartition(n, col("id_a"), col("id_b"))
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")),
        Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")),
        Seq("id_b"))
      // |A ∪ B| = |A| + |B| − |A ∩ B| exactly (shingle arrays are SETS
      // by construction — ShinglesExpr dedups) — same integers, same
      // double, one O(n) set op per candidate instead of two (codegen
      // CSE evaluates the repeated intersect once)
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) -
            size(array_intersect(col("sh_a"), col("sh_b"))))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Order-insensitive fingerprint of a canonical (lo, hi) edge set: row
    * count plus two decimal sums of per-edge hashes (decimal, because ANSI
    * mode makes a bigint SUM overflow throw). Two consecutive rounds with
    * equal fingerprints ⇒ equal edge sets (both are deterministic
    * functions of the previous state; 128 hash bits make a collision
    * astronomically unlikely). It rides each edge set's pinning job. */
  private def edgeFingerprint: Map[String, Column] = Map(
    "n" -> count(lit(1)),
    "h1" -> sum(xxhash64(col("lo"), col("hi")).cast("decimal(38,0)")),
    "h2" -> sum(xxhash64(col("hi"), col("lo"), lit(7)).cast("decimal(38,0)")))

  /** Connected components over a near-dup pair list — the step that turns
    * verified pairs into duplicate GROUPS (each doc labeled with the min
    * id of its component, the canonical representative).
    *
    * Alternating large-star/small-star edge rewriting (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — public
    * algorithm): each round, every node hooks its larger neighbors
    * (large-star) then its smaller ones (small-star) directly onto the
    * smallest node it can see, halving component depth per round. The
    * graph converges to disjoint stars centered at component minima in
    * O(log d) rounds — hash-min label propagation needs O(d) rounds, which
    * on a pathological chain component is the difference between ~10 and
    * ~10⁶ shuffles. Each round is two groupBy-join phases on the edge key
    * (high-cardinality, parallel), run as an [[Exec.iterate]] round that
    * is cut every time; convergence is the [[edgeFingerprint]] observed
    * on that cut, so a round costs no job beyond its pin.
    * Deterministic: pure min-folds, partitioning-independent. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20,
                          driverEdgeLimit: Long = 1L << 20): DataFrame = {
    val input = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
    val nodes = input.select(col("a").as("id"))
      .union(input.select(col("b").as("id")))
      .distinct().transform(Exec.materialize)
    // canonical undirected edge set (lo < hi), self-loops dropped (a
    // self-pair contributes its node to `nodes`; its label is itself)
    val (edges, fp) = Exec.materializeObserved(
      input.filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("lo"),
          greatest(col("a"), col("b")).as("hi"))
        .distinct(), edgeFingerprint)
    val nEdges = fp("n").asInstanceOf[Long]
    // SIZE-GATED fast path (the stats-gated-broadcast pattern): near-dup
    // edge sets are usually minuscule relative to the corpus — a verified
    // duplicate PAIR list, not the documents — and each distributed round
    // below costs ~6 fixed-overhead jobs. When the measured edge count
    // (observed on the edge pin) fits the driver budget
    // (~16 MB at the 2²⁰ default) and ids are integral, a driver-side
    // union-find answers in microseconds; bigger graphs (or exotic id
    // types) take the O(log d) distributed loop unchanged.
    val integralIds = nodes.schema.head.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    if (nEdges > 0L && nEdges <= driverEdgeLimit && integralIds) {
      val es = edges.select(col("lo").cast("long"), col("hi").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // union toward the smaller root = min-label fold
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val labels = es.iterator.flatMap { case (a, b) => Iterator(a, b) }
        .toSet.toSeq.map((id: Long) => (id, find(id)))
      val spark = pairs.sparkSession
      import org.apache.spark.sql.types._
      val idType = nodes.schema.head.dataType
      val lblDf = spark.createDataFrame(
        spark.sparkContext.parallelize(labels.map { case (id, l) =>
          org.apache.spark.sql.Row(id, l)
        }),
        StructType(Seq(StructField("id", LongType), StructField("label", LongType))))
        .select(col("id").cast(idType).as("id"),
          col("label").cast(idType).as("label"))
      // self-paired / isolated nodes label themselves, as in the slow path
      return nodes.join(broadcast(lblDf), Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("label"))
    }
    // one large-star + small-star round over the canonical edge set
    def round(e: DataFrame): DataFrame = {
      // large-star: node u hooks every LARGER neighbor v onto
      // m(u) = min(N(u) ∪ {u}); needs both orientations of each edge
      val sym = e.select(col("lo").as("u"), col("hi").as("v"))
        .union(e.select(col("hi").as("u"), col("lo").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
      val ls = sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(least(col("u"), col("mn")).as("lo"), col("v").as("hi"))
        .distinct()
      // small-star: each node (as the LARGER endpoint, one orientation)
      // hooks its smaller neighbors and itself onto the minimum; mn < lo
      // always, so (mn, lo) and (mn, hi) are already canonical
      val mins2 = ls.groupBy(col("hi")).agg(min(col("lo")).as("mn"))
      ls.join(mins2, Seq("hi"))
        .filter(col("lo") =!= col("mn"))
        .select(col("mn").as("lo"), col("lo").as("hi"))
        .union(mins2.select(col("mn").as("lo"), col("hi")))
        .distinct()
    }
    // a silent partial result would give wrong group ids downstream
    // (dropNearDuplicates would keep several "canonical" docs per group)
    val stars = if (nEdges == 0L) edges else Exec.iterate(edges, maxIter,
      Some(Exec.FixedPoint(edgeFingerprint, fp,
        s"connectedComponents: not converged after $maxIter rounds — " +
          "raise maxIter (component depth halves per round, so this needs " +
          "a graph of depth > 2^maxIter or a bug)")))(round)
    // stars: every non-center node carries its center as `lo`
    val lbl = stars.groupBy(col("hi")).agg(min(col("lo")).as("mn"))
      .select(col("hi").as("id"), col("mn").as("label"))
    nodes.join(lbl, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** The dedup endpoint: drop every document that is a near-duplicate of
    * a lower-id document, keeping one canonical representative per
    * duplicate group. Composes the whole path — LSH candidates → exact
    * Jaccard verify → connected components → anti-join — and returns the
    * cleaned corpus with original columns. The anti-join ships only the
    * (tiny) non-canonical id set against the corpus; nothing here
    * broadcasts or collects the documents themselves.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double = 0.5, k: Int = 3): DataFrame = {
    val pairs = ngramJaccard(df, idCol, textCol, threshold, k)
    val dropIds = connectedComponents(pairs, "id_a", "id_b")
      .filter(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    df.join(dropIds, Seq(idCol), "left_anti")
  }

  /** Quality-aware twin of [[dropNearDuplicates]]: within each duplicate
    * group keep the HIGHEST-`scoreCol` member (ties → lowest id) instead
    * of the lowest id — "keep the cleanest copy", which is what a
    * training pipeline actually wants when near-duplicates differ in
    * boilerplate, truncation or OCR noise.
    *
    * Same scale shape as the id-canonical path: LSH/verify/CC produce the
    * (tiny) grouped id set; the per-group argmax is a bounded top-1
    * aggregate (one row per group per partition into the shuffle — no
    * window sort); the resulting non-canonical id set anti-joins back
    * against the corpus, which itself never shuffles.
    */
  /** The non-canonical member ids of each component when the survivor
    * is the HIGHEST-score member (ties → lowest id) — the keep-the-
    * cleanest-copy selection shared by [[keepBestPerGroup]] (text
    * near-dups) and [[semDedupIndexed]] (embedding near-dups).
    * `members` is [[connectedComponents]]' (id, label) output; `scores`
    * maps id → score. Group-members-sized throughout. */
  private def bestLosers(members: DataFrame, scores: DataFrame,
                         idCol: String): DataFrame = {
    import graft.functions.TopKAggregate
    val scored = members.join(scores, Seq("id"))
    val canonical = scored.groupBy(col("label"))
      .agg(TopKAggregate.topKStructs(struct(col("__s"), col("id")), 1,
        // keep max score; flipped id breaks ties toward the smallest id
        desc = Seq(false, true)).as("t"))
      .select(element_at(col("t"), 1).getField("id").as("id"))
    members.select(col("id"))
      .join(canonical, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
  }

  def keepBestPerGroup(df: DataFrame, idCol: String, textCol: String,
                       scoreCol: String, threshold: Double = 0.5,
                       k: Int = 3): DataFrame = {
    val pairs = ngramJaccard(df, idCol, textCol, threshold, k)
    val members = connectedComponents(pairs, "id_a", "id_b")
    val dropIds = bestLosers(members, df.select(col(idCol).as("id"),
      col(scoreCol).cast("double").as("__s")), idCol)
    df.join(dropIds, Seq(idCol), "left_anti")
  }

  /** SemDeDup at corpus scale THROUGH the persistent IVF+PQ index
    * (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication", arXiv:2303.09540 — public
    * method): embedding-space near-duplicate removal where the
    * candidate structure comes from the CODED index the corpus already
    * keeps, not a fresh all-pairs/LSH pass. Every row finds its `k`
    * nearest through [[IvfIndex.knnJoinPq]] (no driver cell collect,
    * no broadcast contract — the query side IS the corpus), pairs at
    * or above `threshold` cosine become canonical edges, components
    * resolve with the O(log d) large-star/small-star fold, and each
    * component keeps its MIN id (the [[connectedComponents]]
    * representative). Returns the surviving rows of `corpus`.
    *
    * `k` bounds the near-neighbor graph's OUT-DEGREE, not group size:
    * transitive closure joins larger near-dup sets through shared
    * members — in the regime the threshold selects for (internal
    * cosines above it, external below), every member's top-k is
    * in-group, so the component is the group. At 100 TB this is the
    * SemDeDup shape end to end: one index-served kNN join + one
    * component fold; nothing quadratic, nothing collected. */
  def semDedupIndexed(wh: graft.engine.Warehouse, corpus: DataFrame,
                      idCol: String, vecCol: String,
                      name: String = "ivfpq_index",
                      threshold: Double = 0.95, k: Int = 2,
                      nprobe: Int = 8, rerank: Int = 64,
                      scoreCol: Option[String] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val nn = IvfIndex.knnJoinPq(wh, corpus, corpus, idCol, vecCol, name,
      k = k, nprobe = nprobe, rerank = rerank)
    val edges = nn.filter(col("cosine") >= threshold)
      .select(least(col("query_id"), col("neighbor_id")).as("a"),
        greatest(col("query_id"), col("neighbor_id")).as("b"))
    val members = connectedComponents(edges, "a", "b")
    // with `scoreCol` the survivor is the HIGHEST-score member (ties →
    // lowest id) — [[bestLosers]], the "keep the cleanest copy"
    // selection shared with [[keepBestPerGroup]]; the member/score join
    // is group-members-sized, never corpus-sized
    val losers = scoreCol match {
      case None => members.filter(col("id") =!= col("label"))
        .select(col("id").as(idCol))
      case Some(sc) => bestLosers(members,
        corpus.select(col(idCol).as("id"),
          col(sc).cast("double").as("__s")), idCol)
    }
    corpus.join(losers, Seq(idCol), "left_anti")
  }

  /** Incremental SemDeDup ADMISSION through the persistent coded index —
    * the crawl-ingest shape at 100 TB: a NEW batch of arrivals is
    * admitted only where no semantic near-duplicate ALREADY LIVES in the
    * index, survivors append into the index (health folds, so
    * maintenance advice stays metadata-cost across any number of
    * batches), and the next batch dedups against them too. This is the
    * [[minHashLSHAgainst]] incremental discipline over embeddings: the
    * corpus is indexed exactly once, each arriving batch queries only
    * itself — [[IvfIndex.knnJoinPq]] with the BATCH as the query side
    * (no driver cell collect, no broadcast contract; the nightly
    * corpus-vs-itself [[semDedupIndexed]] pass is what this replaces for
    * steady-state ingestion). An arrival is a duplicate when its rank-1
    * indexed neighbor reads at or above `threshold` cosine — rank 1 is
    * the maximal cosine, so k = 1 decides existence exactly at the
    * index's operating point (recall follows nprobe/rerank like every
    * ANN consumer; an exact copy always survives the ADC pass, the
    * q212 contract).
    *
    * `corpus` supplies the exact vectors of the ALREADY-INDEXED ids for
    * the rerank (the warehouse table the admitted rows land in — it
    * must cover every live indexed id, or a candidate silently drops
    * from the rerank and a duplicate could slip). Contract mirrors the
    * index's own ingestion discipline: arrival ids are FRESH (an id
    * reused from the index would self-exclude from its own near-dup
    * check), and near-dups WITHIN one batch admit together — dedupe the
    * batch against itself first ([[semDedupIndexed]] over the batch, or
    * upstream last-wins) when arrivals can collide in-batch, exactly as
    * [[minHashLSHAgainst]] documents for signatures.
    *
    * With `scoreCol` the admission is QUALITY-AWARE — the
    * upgrade-on-re-crawl shape: an arrival whose nearest indexed
    * near-dup it OUTSCORES replaces it (the incumbent tombstones via
    * [[IvfIndex.delete]], the arrival admits), while an arrival at or
    * below the incumbent's score drops as before — [[bestLosers]]'
    * keep-the-cleanest-copy selection applied at ingestion time, so a
    * re-crawl that fixed OCR noise or truncation upgrades the corpus
    * instead of bouncing off it. Ties keep the incumbent (stability:
    * a byte-identical re-crawl must not churn the index). The decision
    * is made against the NEAREST indexed near-dup (rank 1 — the one the
    * arrival most directly duplicates); both `batch` and `corpus` must
    * carry `scoreCol`. A NULL score (either side) refuses loudly — a
    * silently-skipped decision would ADMIT the arrival without
    * tombstoning its incumbent. The WORSE corpus failure is a missing
    * neighbor ROW: it drops at the rerank join inside the kNN (upstream
    * of any score comparison), the arrival reads as fresh, and a
    * duplicate silently enters the index — which is why the quality
    * path should run `validateCorpus` (at least on its first batch and
    * after corpus surgery). A caller maintaining a separate corpus
    * TABLE should note replaced incumbents stay in it harmlessly (stale
    * rows are rerank vectors only, never candidates — the index is the
    * source of truth) until [[compactCorpus]] drops them.
    *
    * `validateCorpus` checks the coverage contract up front — one
    * bounded left-anti of the index's live ids against `corpus`,
    * refusing with the missing-id count. Opt-in because the check is an
    * index-id-column scan per batch; run it on the first batch of a
    * pipeline (or after corpus-table surgery), not per micro-batch.
    *
    * The batch is pinned ONCE at entry (the kNN query side, the
    * anti-join, and the append must see the same row set even for a
    * non-deterministic source) and the admitted rows pin once more
    * before the append so the returned frame never re-runs the kNN
    * join. Returns the admitted rows of `batch`, original columns. */
  def semDedupAdmit(wh: graft.engine.Warehouse, batch: DataFrame,
                    corpus: DataFrame, idCol: String, vecCol: String,
                    name: String = "ivfpq_index",
                    threshold: Double = 0.95, nprobe: Int = 8,
                    rerank: Int = 64,
                    scoreCol: Option[String] = None,
                    validateCorpus: Boolean = false): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    if (validateCorpus) {
      val missing = IvfIndex.liveIds(wh, name)
        .join(corpus.select(col(idCol).as("id")), Seq("id"), "left_anti")
        .count()
      require(missing == 0L,
        s"corpus does not cover $missing live indexed ids — an " +
          "uncovered id silently drops from the rerank and a duplicate " +
          "of it would admit; pass the table the admitted rows land in")
    }
    val pinned = Exec.materialize(batch)
    val nn = IvfIndex.knnJoinPq(wh, pinned, corpus, idCol, vecCol, name,
      k = 1, nprobe = nprobe, rerank = rerank)
    // neighbors INSIDE the batch are excluded from the decision: fresh
    // ids make this a no-op on a first run; on a REPLAY it hides the
    // batch's own landed entries, so in-batch near-dups that admitted
    // together stay admitted instead of vetoing each other
    val hits = nn.filter(col("cosine") >= threshold)
      .join(pinned.select(col(idCol).as("neighbor_id")),
        Seq("neighbor_id"), "left_anti")
    val (dupIds, replaced) = scoreCol match {
      case None =>
        (hits.select(col("query_id").as(idCol)).distinct(), None)
      case Some(sc) =>
        scoredDecision(wh, hits, pinned, corpus, idCol, sc)
    }
    // the admit count rides the pinning job (Observation) — the
    // emptiness gates below cost no extra Spark jobs
    val (admitted, nAdmitted) = Exec.materializeCounted(
      pinned.join(dupIds, Seq(idCol), "left_anti"))
    // an all-duplicates batch admits nothing — skip the append entirely
    // (a zero-row append would still touch the version dir and stale
    // the health stamp for nothing). Survivors land via reindexPq, NOT
    // appendPq, and the outscored incumbents tombstone LAST: a retried
    // batch's re-appended survivors then tombstone their own previous
    // attempt (never duplicate entries), and every single crash point
    // replays to the completed state — the decision re-derives
    // identically because the batch's own entries are hidden from it
    // and the incumbent stays decision-visible until the final write.
    // (The transient window where an upgrade and its incumbent are
    // both live is the reindex window every index mutation already
    // has; a retry AFTER full completion converges state-wise too,
    // though its RETURNED admitted set may omit rows the first attempt
    // already indexed — callers landing the return value elsewhere
    // should do so idempotently, as the streaming sink's
    // promote-marker append is.)
    if (nAdmitted > 0L)
      IvfIndex.reindexPq(wh, admitted, idCol, vecCol, name)
    // scoredDecision returns the replaced side only when it SAW >0
    // outscored incumbents (observed on its own pinning job)
    replaced.foreach(r => IvfIndex.delete(wh, r, idCol, name))
    admitted
  }

  /** The quality-aware decision core shared by [[semDedupAdmit]] and
    * [[streamingAdmit]]: join the ≥-threshold hits with both sides'
    * scores, REFUSE on a null score or a hit the joins lose (the
    * silent-wrong mode — an unmatched hit would admit without
    * tombstoning its incumbent; a neighbor missing from `corpus`
    * entirely never reaches here — it drops at the kNN's rerank join,
    * the `validateCorpus` case). Returns (drop ids — arrivals at or
    * below their incumbent's score; the replaced incumbents as Some
    * only when at least one arrival outscored — the CALLER tombstones
    * them after its admission writes land, the crash-convergent order,
    * and skips the tombstone path without an emptiness job when None).
    * The hit set is pinned so ONE kNN evaluation feeds both; every
    * evidence scalar (hit count, null-score refusal, upgrade count)
    * rides the two pinning jobs as Observation metrics instead of
    * count()/isEmpty() companion jobs. */
  private def scoredDecision(wh: graft.engine.Warehouse, hits: DataFrame,
                             pinned: DataFrame, corpus: DataFrame,
                             idCol: String, sc: String)
      : (DataFrame, Option[DataFrame]) = {
    val (ph, nHits) = Exec.materializeCounted(hits)
    val (scored, m) = Exec.materializeObserved(ph
      .join(pinned.select(col(idCol).as("query_id"),
        col(sc).cast("double").as("__bs")), Seq("query_id"))
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(sc).cast("double").as("__cs")), Seq("neighbor_id")),
      Map("n" -> count(lit(1)),
        "n_null" -> count(when(col("__bs").isNull || col("__cs").isNull, 1)),
        "n_up" -> count(when(col("__bs") > col("__cs"), 1))))
    require(m("n") == nHits && m("n_null") == 0L,
      s"quality-aware admission: every matched neighbor id must appear " +
        s"in `corpus` with a non-null '$sc' (and every arrival must " +
        s"score non-null) — a missing score would silently admit a " +
        "duplicate without tombstoning its incumbent")
    val replaced =
      if (m("n_up").asInstanceOf[Long] == 0L) None
      else Some(scored.filter(col("__bs") > col("__cs"))
        .select(col("neighbor_id").as(idCol)).distinct())
    (scored.filter(col("__bs") <= col("__cs"))
        .select(col("query_id").as(idCol)).distinct(),
      replaced)
  }

  /** Corpus-table hygiene for quality-aware admission pipelines: drop
    * every row whose id is no longer LIVE in the index (replaced
    * incumbents accrete as stale-score rerank rows — harmless for
    * serving, wrong the moment anything trusts their scores). One
    * atomic versioned republish (the stream replay markers the sinks
    * write live at the table root, so they survive it); afterwards the
    * corpus table's ids are exactly [[IvfIndex.liveIds]].
    * Corpus-table-sized I/O — schedule it like a compaction, not per
    * batch. */
  def compactCorpus(wh: graft.engine.Warehouse, corpusTable: String,
                    idCol: String, name: String = "ivfpq_index"): Unit = {
    wh.publish(
      wh.read(corpusTable).join(
        IvfIndex.liveIds(wh, name).select(col("id").as(idCol)),
        Seq(idCol), "left_semi"), corpusTable, wh.partitioningOf(corpusTable))
    ()
  }

  /** Continuous ADMISSION: an arrival stream becomes the deduplicated
    * corpus batch by batch — [[semDedupAdmit]] as a self-maintaining
    * sink. Each micro-batch dedups against the persistent coded index
    * ([[IvfIndex.knnJoinPq]], queries = the batch only), survivors land
    * in BOTH the index and the `corpusTable` (the exact-vector side
    * every future rerank needs), and the next batch dedups against
    * them. Build the index and publish the day-0 corpus table first
    * (both may be empty).
    *
    * Effectively-once under foreachBatch's at-least-once replay, by
    * construction at each of the three steps:
    *  - the admission DECISION replays stably: an arrival is
    *    self-excluded from its own near-dup check by id, so a replayed
    *    survivor does not match its previously-landed self (batch-
    *    internal near-dups that landed on the first attempt read as
    *    already-admitted on replay — they were admitted together by the
    *    batch-internal contract, and staying admitted IS convergence);
    *  - the corpus lands FIRST via [[Warehouse.appendStreamBatch]]'s
    *    promote-marker protocol (a replayed id promotes nothing — no
    *    double rows; corpus rows without index entries are harmless,
    *    they are rerank vectors, never candidates — which is why this
    *    ordering and not the reverse);
    *  - the index lands via [[IvfIndex.reindexPq]], NOT appendPq: a
    *    replayed survivor tombstones its previous attempt's entries, so
    *    the index converges instead of duplicating (the
    *    [[IvfIndex.streamingIndexPq]] discipline composed with
    *    admission).
    *
    * A batch carrying the same id twice is refused loudly (dedupe
    * upstream, last-wins); with `maintainEvery > 0` the sink consults
    * the maintenance policy every that-many batches and compacts when
    * it fires, so re-admission churn bounds its own tombstone growth.
    *
    * With `scoreCol` the sink is QUALITY-AWARE — [[semDedupAdmit]]'s
    * upgrade-on-re-crawl decision, continuous: an arrival that
    * outscores its nearest indexed near-dup tombstones it and admits
    * (both `arrivals` and the corpus table must carry `scoreCol`; the
    * admitted rows land with their scores, so future incumbents score
    * from the table itself). The effectively-once argument EXTENDS to
    * the upgrade path through the WRITE ORDER: corpus (promote-marker,
    * idempotent), then index via reindexPq (a replayed survivor
    * tombstones its own previous attempt), then the incumbent
    * tombstones LAST — so a crash at any earlier point replays with
    * the incumbent still decision-visible and the upgrade re-derives
    * identically (tombstoning FIRST would let the replay re-decide
    * against a second-nearest near-dup, possibly dropping the arrival
    * and stranding the tombstone); the batch's own landed entries are
    * hidden from its replay's decision, so in-batch near-dups stay
    * co-admitted. Replaced incumbents stay in the corpus table as
    * stale rerank rows until [[compactCorpus]] drops them —
    * `compactCorpusEvery > 0` runs that hygiene pass every that-many
    * batches (a corpus-table-sized republish, so a cadence, never per
    * batch; [[streamingMinHashAdmit]]'s `compactEvery` discipline). */
  def streamingAdmit(wh: graft.engine.Warehouse, arrivals: DataFrame,
                     idCol: String, vecCol: String, checkpoint: String,
                     name: String = "ivfpq_index",
                     corpusTable: String = "corpus_vectors",
                     threshold: Double = 0.95, nprobe: Int = 8,
                     rerank: Int = 64, maintainEvery: Int = 0,
                     scoreCol: Option[String] = None,
                     compactCorpusEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    arrivals.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (pinned, n) = Exec.materializeCounted(batch)
        if (n > 0) {
          require(pinned.select(col(idCol)).distinct().count() == n,
            s"streamingAdmit: a micro-batch carries duplicate " +
              s"'$idCol' rows — dedupe upstream (last-wins) before " +
              "admission")
          val corpus = wh.read(corpusTable)
          val nn = IvfIndex.knnJoinPq(wh, pinned, corpus,
            idCol, vecCol, name, k = 1, nprobe = nprobe, rerank = rerank)
          // batch-internal neighbors excluded — the semDedupAdmit
          // replay-stability discipline (no-op on fresh ids)
          val hits = nn.filter(col("cosine") >= threshold)
            .join(pinned.select(col(idCol).as("neighbor_id")),
              Seq("neighbor_id"), "left_anti")
          val (dupIds, replaced) = scoreCol match {
            case None =>
              (hits.select(col("query_id").as(idCol)).distinct(), None)
            case Some(sc) =>
              scoredDecision(wh, hits, pinned, corpus, idCol, sc)
          }
          val (admitted, nAdmitted) = Exec.materializeCounted(
            pinned.join(dupIds, Seq(idCol), "left_anti"))
          if (nAdmitted > 0L) {
            wh.appendStreamBatch(admitted, corpusTable, batchId)
            IvfIndex.reindexPq(wh, admitted, idCol, vecCol, name)
          }
          // outscored incumbents tombstone LAST: a crash at any
          // earlier point replays with the incumbent still
          // decision-visible, so the upgrade re-derives instead of
          // flipping to a second-nearest near-dup and stranding the
          // tombstone (see semDedupAdmit's ordering argument);
          // scoredDecision returns Some only when >0 outscored
          replaced.foreach(r => IvfIndex.delete(wh, r, idCol, name))
        }
        if (maintainEvery > 0 && (batchId + 1) % maintainEvery == 0)
          IvfIndex.maintain(wh, name)
        if (compactCorpusEvery > 0 &&
            (batchId + 1) % compactCorpusEvery == 0)
          compactCorpus(wh, corpusTable, idCol, name)
        ()
      }
      .start()
  }

  /** Benchmark decontamination: drop every corpus document that shares at
    * least one word k-gram with the benchmark/eval set — the standard
    * guard against test-set leakage into training data.
    *
    * Benchmark items SHORTER than k tokens contribute their whole text as
    * their only shingle — a fixed-k corpus shingling could never match it
    * (a j-token string never equals a k-token string), so the corpus is
    * additionally shingled at each short length present in the benchmark.
    * Those lengths come from one driver-side pass over the EVAL set,
    * which is small by definition; the corpus is never collected.
    *
    * Scale shape: the benchmark's distinct shingles BROADCAST to the
    * corpus scan (no corpus shuffle), and the contaminated-id set (also
    * small) broadcasts back for the anti-join. 100 TB of corpus streams
    * through two broadcast joins; nothing wide ever shuffles — and the
    * corpus is scanned ONCE: all needed shingle lengths (k plus each short
    * benchmark length) are emitted from a single projection over one scan,
    * not one union branch (= one extra pass) per length.
    */
  def decontaminate(df: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, benchTextCol: String,
                    k: Int = 8): DataFrame = {
    import graft.functions.SignatureExpressions
    val shortLens = benchmark
      .select(size(TextFunctions.tokens(col(benchTextCol))).as("__n"))
      .filter(col("__n") > 0 && col("__n") < k)
      .distinct().collect().map(_.getInt(0)).toSeq
    // one ShinglesExpr per length, concatenated and exploded in ONE
    // projection: the lengths tokenize the row redundantly (<= 7 extra
    // in-memory tokenizations worst-case) but the corpus parquet is read
    // exactly once — at 100 TB the scan, not the tokenize, is the cost.
    // array_distinct: a doc shorter than every length contributes its
    // whole text once per length; duplicates only inflate the join.
    val lens = (k +: shortLens).distinct
    val shingleSets = lens
      .map(kk => SignatureExpressions.wordShingles(col(textCol), kk))
    // explodeOnce: plain explode would let InferFiltersFromGenerate
    // re-run every per-length shingling in a scan-side filter
    val docShingles = graft.functions.Generates.explodeOnce(
      df, Seq(col(idCol)),
      array_distinct(concat(shingleSets: _*)), "__sh")
    // drop the empty shingle: a token-less benchmark row ("###",
    // whitespace) would otherwise emit "" and mark every token-less
    // corpus doc as "sharing a k-gram" it does not share
    val benchShingles = graft.functions.Generates.explodeOnce(
        benchmark, Nil,
        SignatureExpressions.wordShingles(col(benchTextCol), k), "__sh")
      .filter(length(col("__sh")) > 0)
      .distinct()
    // contaminated is CORPUS-bounded (a boilerplate k-gram in one bench
    // item can mark a large corpus fraction) — size-gate the broadcast
    // instead of forcing it; the bench side stays hint-broadcast (it is
    // benchmark-bounded by construction)
    val contaminated = docShingles
      .join(broadcast(benchShingles), Seq("__sh"))
      .select(col(idCol)).distinct()
    df.join(graft.engine.JoinPolicy.broadcastIfSmall(contaminated),
      Seq(idCol), "left_anti")
  }

  /** Span-level decontamination: instead of DROPPING every document that
    * shares a word `k`-gram with the benchmark ([[decontaminate]]), cut
    * only the contaminated token spans out and keep the rest — the right
    * trade when long documents brush a short eval item and discarding
    * them wholesale would cost real training mass. Output is (id,
    * clean_text) in normalized token space; documents whose every token
    * is covered (or that share no tokens at all) disappear.
    *
    * CONTRACT: spans are detected at gram length `k` exactly — benchmark
    * items shorter than k tokens cannot match a k-gram and are NOT
    * handled here; route them through [[decontaminate]]'s short-length
    * doc-level pass first.
    *
    * Scale shape: the benchmark's distinct shingles BROADCAST to the
    * corpus gram stream (map-side semi-join — the corpus never shuffles
    * to find hits); covered token indices explode from hits only
    * (|hits| × k, tiny for any sane contamination rate); the strip is an
    * anti-join on (id, token idx) and reassembly is one groupBy on the
    * doc id — the only corpus-wide shuffle.
    */
  def decontaminateSpans(df: DataFrame, idCol: String, textCol: String,
                         benchmark: DataFrame, benchTextCol: String,
                         k: Int = 8): DataFrame = {
    import graft.functions.SignatureExpressions
    require(k >= 2, "span gram length must be >= 2")
    val pre = df
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
    val toksEnum = graft.functions.Generates.explodeOnce(pre,
        Seq(col(idCol), col("__toks")),
        sequence(lit(0), size(col("__toks")) - 1), "__i")
      .select(col(idCol), col("__i"),
        element_at(col("__toks"), col("__i") + 1).as("__tok"))
      .transform(Exec.materialize)
    val gramRows = graft.functions.Generates.explodeOnce(
        pre.filter(size(col("__toks")) >= k),
        Seq(col(idCol), col("__toks")),
        sequence(lit(0), size(col("__toks")) - k), "__pos")
      .select(col(idCol), col("__pos"),
        concat_ws(" ",
          slice(col("__toks"), col("__pos") + 1, lit(k))).as("__sh"))
    val benchShingles = graft.functions.Generates.explodeOnce(
        benchmark, Nil,
        SignatureExpressions.wordShingles(col(benchTextCol), k), "__sh")
      .distinct()
    val covered = gramRows
      .join(broadcast(benchShingles), Seq("__sh"), "left_semi")
      .select(col(idCol),
        explode(sequence(col("__pos"), col("__pos") + (k - 1))).as("__i"))
      .distinct()
    toksEnum.join(covered, Seq(idCol, "__i"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__i"), col("__tok")))),
          s => s.getField("__tok")), " ").as("clean_text"))
  }

  /** Bloom-prefiltered anti-join: drop rows of `big` whose `bigKey`
    * appears among `small`'s `smallKey` values — EXACT anti-join results
    * (bloom false positives are re-checked with a real anti-join), with
    * the bloom deciding which rows must enter that join at all.
    *
    * The niche this fills between the two standard shapes: a broadcast
    * anti-join needs the small side to fit as a HASH RELATION (per-key
    * object overhead — ~10⁷ keys before executors hurt), while a shuffled
    * anti-join moves the BIG side. A bloom bitmap holds 10⁸-10⁹ keys in
    * ~0.15-1.5 GB at 1% fpp — broadcastable two orders of magnitude past
    * the hash-relation ceiling — so the big side is pre-filtered map-side
    * and only true matches plus the ~fpp false-positive sliver enter the
    * exact anti-join; the definite non-members (the overwhelming majority
    * in the decontamination/blocklist use case) bypass it entirely.
    * This is exactly Spark's own runtime-filter trick (InjectRuntimeFilter)
    * — which applies it to EQUI joins only, never anti-joins — surfaced as
    * an operator for the anti-join-shaped problems (decontamination
    * against huge eval registries, URL/document blocklists, "already
    * ingested" id ledgers).
    *
    * One scan of `big` when the source supports it twice cheaply
    * (parquet with pushdown); the two branches read the same files but
    * the union's second branch carries the bloom positives only. The
    * exact-check join lets JoinPolicy/stats pick its strategy.
    */
  def bloomAntiJoin(big: DataFrame, small: DataFrame, bigKey: String,
                    smallKey: String, fpp: Double = 0.01): DataFrame = {
    import graft.functions.BloomFunctions
    val bf = BloomFunctions.buildFilter(small, smallKey, fpp)
    // null-safe like the anti-join itself: a null key matches NOTHING, so
    // the row is KEPT — the raw probe returns null for null input, and a
    // bare !maybe filter would drop such rows from both branches
    val maybe = coalesce(BloomFunctions.mightContain(bf, col(bigKey)), lit(false))
    val keys = small.select(col(smallKey).as(bigKey)).distinct()
    big.filter(!maybe).unionByName(
      big.filter(maybe).join(keys, Seq(bigKey), "left_anti"))
  }

  /** Bloom-prefiltered SEMI join — [[bloomAntiJoin]]'s twin for allowlist
    * shapes ("keep only documents whose URL/fingerprint IS in the
    * registry"). Even more bloom-natural than the anti side: a definite
    * non-member is dropped map-side immediately (one branch, no union —
    * the overwhelming majority in allowlist use never reaches the join),
    * and only bloom positives continue into the exact semi-join that
    * clears the ~fpp false-positive sliver. Null keys match nothing and
    * are dropped, exactly like the semi-join itself. */
  def bloomSemiJoin(big: DataFrame, small: DataFrame, bigKey: String,
                    smallKey: String, fpp: Double = 0.01): DataFrame = {
    import graft.functions.BloomFunctions
    val bf = BloomFunctions.buildFilter(small, smallKey, fpp)
    val keys = small.select(col(smallKey).as(bigKey)).distinct()
    big.filter(BloomFunctions.mightContain(bf, col(bigKey)))
      .join(keys, Seq(bigKey), "left_semi")
  }

  /** Segment-level corpus dedup (the C4 "discard duplicated lines" step,
    * phrased over fixed windows of `segTokens` tokens because the corpus
    * has no line structure): every segment that already occurred earlier
    * in the corpus — ordered by (doc id, position) — is dropped, and each
    * document is reassembled from its surviving segments. Documents whose
    * every segment is a repeat (or that have no tokens) disappear from the
    * output entirely.
    *
    * CONTRACT: `clean_text` is in NORMALIZED TOKEN SPACE — lowercased,
    * punctuation stripped, single-spaced — because segments are windows
    * over the token stream, not raw character spans. A pipeline that must
    * preserve original formatting should use this operator's id/position
    * output as a mask (join surviving (id, pos) windows back to original
    * offsets), not consume clean_text as the corpus.
    *
    * Scale shape: segments are derived by exploding a cheap index range
    * and slicing AFTER the Generate (exploding a computed-segment array
    * would let InferFiltersFromGenerate inline the tokenizer into pushed
    * filters — the q30 band-stage pathology); the first-occurrence winner
    * is a partial-aggregating min(struct(id, pos)) groupBy on the segment
    * (one shuffle keyed by segment text — high-cardinality, no hot key),
    * and reassembly is one groupBy on the doc id. Nothing all-pairs,
    * nothing driver-side.
    */
  def dropRepeatedSegments(df: DataFrame, idCol: String, textCol: String,
                           segTokens: Int = 10): DataFrame = {
    require(segTokens >= 1, "segTokens must be >= 1")
    val pre = df
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .withColumn("__nseg",
        ceil(size(col("__toks")).cast("double") / segTokens).cast("int"))
    // materialized ONCE (eager): segs feeds both the first-occurrence
    // aggregate (partitioned by segment) and the semi-join probe side
    // (partitioned by segment+id+pos) — different partitionings, so
    // exchange reuse can't kick in and a lazy plan would tokenize the
    // corpus twice
    val segs = graft.functions.Generates.explodeOnce(pre,
        Seq(col(idCol), col("__toks")),
        sequence(lit(0), col("__nseg") - 1), "__pos")
      .select(col(idCol), col("__pos"),
        concat_ws(" ",
          slice(col("__toks"), col("__pos") * segTokens + 1, lit(segTokens)))
          .as("__seg"))
      .transform(Exec.materialize)
    val first = segs
      .groupBy(col("__seg"))
      .agg(min(struct(col(idCol), col("__pos"))).as("__first"))
      .select(col("__seg"), col("__first").getField(idCol).as(idCol),
        col("__first").getField("__pos").as("__pos"))
    segs.join(first, Seq("__seg", idCol, "__pos"), "left_semi")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__seg")))),
          s => s.getField("__seg")), " ").as("clean_text"))
  }

  /** Embedding near-dup pairs: SRP-LSH bucketing then exact cosine ≥
    * threshold within buckets. The bucketed projection is repartitioned
    * (CPU-bound stage; AQE would coalesce one parquet file to one task) and
    * materialized ONCE (eager Exec.materialize) — a plain self-join
    * would re-evaluate the whole scan+bucket pipeline on both sides. */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                       threshold: Double = 0.95, nbits: Int = 12): DataFrame = {
    val b = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        VectorFunctions.srpBucket(col(vecCol), dim, nbits).as("bucket"))
      .transform(Exec.materialize)
    val l = b.select(col("id").as("id_a"), col("v").as("v_a"), col("bucket"))
    val r = b.select(col("id").as("id_b"), col("v").as("v_b"), col("bucket"))
    l.join(r, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct()
  }

  /** SemDeDup semantic near-duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540): embeddings are assigned to their nearest TRAINED
    * spherical k-means centroid ([[Similarity.trainIvfCentroids]] — one
    * bounded sampling pass, deterministic) and exact cosine runs only
    * WITHIN a cluster. This is the paper's candidate restriction: two
    * semantic duplicates embed near each other, so they share a cluster,
    * and the all-pairs cost collapses from O(n²) to Σ_c |c|² — at 100 TB
    * you raise `nClusters` with the corpus so per-cluster occupancy (and
    * with it the self-join's per-key fan-out) stays bounded. Complement
    * to [[embeddingNearDup]]: SRP-LSH buckets catch NEAR-EXACT copies
    * (tiny Hamming balls), trained clusters catch the broader "same
    * content, different words" semantic radius the paper targets.
    *
    * The clustered projection is computed once (eager materialize) and
    * self-joined on the cluster id — an equi-join, never a broadcast of
    * the corpus. Identical vectors always share a cluster (the argmax
    * assignment is a pure function of the vector), so recall on exact
    * copies is 1 by construction.
    */
  def semanticDedupPairs(df: DataFrame, idCol: String, vecCol: String,
                         dim: Int, threshold: Double = 0.95,
                         nClusters: Int = 64, trainIters: Int = 4,
                         sampleSize: Int = 4096,
                         seed: Long = 42L): DataFrame = {
    import graft.functions.SignatureExpressions
    val cents = Similarity.trainIvfCentroids(df, idCol, vecCol, dim,
      nClusters, trainIters, sampleSize, seed)
    val b = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        element_at(SignatureExpressions.ivfAssign(col(vecCol), cents, 1), 1)
          .as("cluster"))
      .transform(Exec.materialize)
    val l = b.select(col("id").as("id_a"), col("v").as("v_a"), col("cluster"))
    val r = b.select(col("id").as("id_b"), col("v").as("v_b"), col("cluster"))
    l.join(r, Seq("cluster")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** The SemDeDup endpoint: drop every document whose embedding is a
    * semantic near-duplicate of a lower-id document (one canonical
    * representative per duplicate group, groups closed under
    * [[connectedComponents]]). Same anti-join shape as
    * [[dropNearDuplicates]] — the corpus itself never reshuffles; only
    * the (tiny) non-canonical id set ships. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                    threshold: Double = 0.95, nClusters: Int = 64,
                    trainIters: Int = 4, sampleSize: Int = 4096,
                    seed: Long = 42L): DataFrame = {
    val pairs = semanticDedupPairs(df, idCol, vecCol, dim, threshold,
      nClusters, trainIters, sampleSize, seed)
    val dropIds = connectedComponents(pairs, "id_a", "id_b")
      .filter(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    df.join(dropIds, Seq(idCol), "left_anti")
  }

  /** Boilerplate removal (the RefinedWeb / CCNet "strip lines shared by
    * many pages" pass, phrased over fixed `segTokens`-token windows since
    * the corpus has no line structure): a segment whose DOCUMENT frequency
    * reaches `minDocs` is boilerplate and is stripped from EVERY document
    * — unlike [[dropRepeatedSegments]], which keeps the first occurrence
    * and only drops repeats. Documents left with no segments disappear.
    *
    * Output `clean_text` is in normalized token space (same contract and
    * caveat as [[dropRepeatedSegments]]).
    *
    * Scale shape: segmentation is the explode-then-slice pattern
    * (explodeOnce, q30-pathology-safe), the df count is a partial-
    * aggregating count_distinct keyed by segment (high-cardinality, no hot
    * key), and the strip is an anti-join whose right side is only the
    * segments at df >= minDocs — a set bounded by corpusSegments/minDocs,
    * stats-gated to broadcast when it is small (the common case: true
    * boilerplate is a short heavy head). Reassembly is one groupBy on the
    * doc id. Nothing all-pairs, nothing driver-side.
    */
  def stripFrequentSegments(df: DataFrame, idCol: String, textCol: String,
                            segTokens: Int = 10, minDocs: Int = 3): DataFrame = {
    require(segTokens >= 1, "segTokens must be >= 1")
    require(minDocs >= 2, "minDocs must be >= 2 (1 would strip everything)")
    val pre = df
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .withColumn("__nseg",
        ceil(size(col("__toks")).cast("double") / segTokens).cast("int"))
    // materialized ONCE: segs feeds both the df aggregate and the
    // anti-join probe side (different partitionings — exchange reuse
    // can't kick in, a lazy plan would tokenize the corpus twice)
    val segs = graft.functions.Generates.explodeOnce(pre,
        Seq(col(idCol), col("__toks")),
        sequence(lit(0), col("__nseg") - 1), "__pos")
      .select(col(idCol), col("__pos"),
        concat_ws(" ",
          slice(col("__toks"), col("__pos") * segTokens + 1, lit(segTokens)))
          .as("__seg"))
      .transform(Exec.materialize)
    val boilerplate = segs
      .groupBy(col("__seg"))
      .agg(count_distinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__seg"))
    segs.join(graft.engine.JoinPolicy.broadcastIfSmall(boilerplate),
        Seq("__seg"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__seg")))),
          s => s.getField("__seg")), " ").as("clean_text"))
  }

  /** Exact duplicated-span detection (the span-level view of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL 2022):
    * every token-position `k`-gram that occurs at more than one (doc,
    * position) in the corpus marks its window as duplicated; overlapping
    * or adjacent windows within a document merge into maximal spans.
    * Output: one row per merged span — (id, span_start, span_end,
    * n_dup_grams) with token positions, `span_end` exclusive — the mask a
    * surgical-removal pass consumes (cutting spans out of text is then a
    * per-doc map; reporting the mask keeps this operator pure).
    *
    * Scale shape: grams are the explode-then-slice pattern; the duplicate
    * test is a partial-aggregating count keyed by the gram's md5 (fixed
    * 32-byte shuffle key regardless of k — the gram TEXT never shuffles);
    * the span merge is a per-document gaps-and-islands window (state ∝
    * document length, never corpus length). One gram-keyed shuffle + one
    * doc-keyed shuffle, both linear.
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 16): DataFrame = {
    require(k >= 2, "span gram length must be >= 2")
    val pre = df
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= k)
    val grams = graft.functions.Generates.explodeOnce(pre,
        Seq(col(idCol), col("__toks")),
        sequence(lit(0), size(col("__toks")) - k), "__pos")
      .select(col(idCol), col("__pos"),
        md5(concat_ws(" ",
          slice(col("__toks"), col("__pos") + 1, lit(k)))).as("__g"))
      .transform(Exec.materialize)
    val dup = grams.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select(col("__g"))
    val marked = grams.join(dup, Seq("__g"), "left_semi")
    // gaps-and-islands: a window starts a new span when its start is past
    // the running max end of everything before it (adjacent = merged)
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos"))
    val prevEnd = max(col("__pos") + k).over(
      byDoc.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
    marked
      .withColumn("__new", when(col("__pos") > coalesce(prevEnd, lit(-1L)), 1L)
        .otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(
        byDoc.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("__pos")).as("span_start"),
        (max(col("__pos")) + k).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .select(col(idCol), col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"), col("n_dup_grams"))
  }

  /** Surgical span removal — the consumer of [[duplicatedSpans]]: every
    * token covered by a duplicated window is cut out and each document is
    * reassembled from its surviving tokens (in normalized token space,
    * same contract as [[dropRepeatedSegments]]). Documents whose every
    * token is duplicated material disappear; fully-unique documents pass
    * through unchanged.
    *
    * Scale shape: the duplicate test is the same gram-md5-keyed partial
    * aggregate as [[duplicatedSpans]]; coverage explodes each marked
    * window to its k token indices and distincts them (bounded by doc
    * length, keyed by (id, token idx)); the strip is an anti-join of the
    * token stream against covered indices and reassembly is one groupBy
    * on the doc id. Everything linear in corpus tokens.
    */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 16): DataFrame = {
    require(k >= 2, "span gram length must be >= 2")
    val pre = df
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
    val toksEnum = graft.functions.Generates.explodeOnce(pre,
        Seq(col(idCol), col("__toks")),
        sequence(lit(0), size(col("__toks")) - 1), "__i")
      .select(col(idCol), col("__i"),
        element_at(col("__toks"), col("__i") + 1).as("__tok"))
      .transform(Exec.materialize)
    val grams = pre.filter(size(col("__toks")) >= k)
    val gramRows = graft.functions.Generates.explodeOnce(grams,
        Seq(col(idCol), col("__toks")),
        sequence(lit(0), size(col("__toks")) - k), "__pos")
      .select(col(idCol), col("__pos"),
        md5(concat_ws(" ",
          slice(col("__toks"), col("__pos") + 1, lit(k)))).as("__g"))
      .transform(Exec.materialize)
    val dup = gramRows.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select(col("__g"))
    val covered = gramRows.join(dup, Seq("__g"), "left_semi")
      .select(col(idCol),
        explode(sequence(col("__pos"), col("__pos") + (k - 1))).as("__i"))
      .distinct()
    toksEnum.join(covered, Seq(idCol, "__i"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__i"), col("__tok")))),
          s => s.getField("__tok")), " ").as("clean_text"))
  }
}
