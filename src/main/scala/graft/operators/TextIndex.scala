package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import graft.engine.Warehouse
import graft.functions.TextFunctions
import IndexAdvice.{DefaultMaxDeadFraction, DefaultMaxSkew,
  DefaultMaxTombstoneBloat}

/** Text index health beyond the census stamp: live and tombstone-dead
  * doclen generations (the docs-sized place to measure dead posting mass
  * without scanning postings), and LIVE postings per hash bucket. The
  * skew mean is over buckets HOLDING live postings: vacant buckets are
  * hash space no token occupies, and what a scan pays for is how
  * unevenly the mass that exists spreads over the directories that
  * exist. */
private[operators] final case class TextHealth(liveRows: Long,
    deadRows: Long, buckets: Seq[(Int, Long)]) extends IndexAdvice.Evidence {
  val livePostings: Long = buckets.map(_._2).sum
  val maxBucket: Long = if (buckets.isEmpty) 0L else buckets.map(_._2).max
  def nBuckets: Long = buckets.length.toLong
  val skew: Double = {
    val mean = if (nBuckets == 0L) 0.0 else livePostings.toDouble / nBuckets
    if (mean == 0.0) 1.0 else maxBucket / mean
  }
}

/** Persistent inverted text index where — like [[IvfIndex]] — the index
  * IS a table layout: the corpus' distinct (token, doc) postings publish
  * hive-partitioned by a deterministic token-hash bucket, so a
  * conjunctive search reads ONLY the query tokens' partition directories
  * (static partition pruning) instead of scanning the corpus or the full
  * posting table.
  *
  * At 100 TB: the posting table is ~token-occurrence-sized but a search
  * touches `|query tokens| / nBuckets` of it from disk; there is no
  * service to run, rebuilds are atomic versioned publishes, and the
  * token hash is the engine-reproducible md5 word ([[graft.operators.Sampling.hashBucket]]),
  * so any engine can compute which bucket a token lives in.
  *
  * Maintenance story (the Lucene segment discipline, without segments):
  *  - [[append]] indexes NEW documents at batch cost (partition-aligned
  *    posting appends through the frozen hash).
  *  - [[delete]] tombstones documents: a `_deletes` companion of
  *    (doc_id, cut) rows rides inside the version dir; every search path
  *    drops posting/doclen rows with `seq < cut` for a tombstoned doc,
  *    so deletion is metadata-cost and never rewrites postings.
  *  - [[reindex]] = delete + append in one call: the new generation's
  *    rows carry `seq == cut`, so a re-crawled document matches ONLY its
  *    new terms while the corpus is never re-indexed.
  *  - [[build]] (a rebuild) publishes a fresh version with no `_deletes`
  *    — the rebuild IS the tombstone compaction.
  */
object TextIndex extends IndexAdvice.Tombstoned[TextHealth]("doc_id") {

  /** Normalize a query term EXACTLY like [[TextFunctions.tokens]]
    * normalizes the build side — locale-invariant lowercase
    * (`Locale.ROOT`, matching Spark's `lower`) and non-letter/number
    * runs collapsed — so the search hashes the same strings the index
    * stored ("Fox," must find "fox"; a tr-TR JVM default locale must not
    * lowercase 'I' differently than the indexed tokens). A term that
    * normalizes to MULTIPLE tokens is refused loudly: it could never be
    * a single posting key, and silently searching its first word would
    * look like a hit. */
  private def normTerm(t: String): String = {
    val cleaned = t.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("[^\\p{L}\\p{N}]+", " ").trim
    require(!cleaned.contains(" "),
      s"term '$t' normalizes to multiple tokens ('$cleaned') — " +
        "pass single tokens (use searchPhrase for sequences)")
    cleaned
  }

  private def doclenPath(wh: Warehouse, name: String) =
    s"${wh.dataPath(name)}/_doclen"

  /** Whether this index stored position lists (positions are opt-in at
    * [[build]]; conjunctive and BM25 search never read them). */
  def hasPositions(wh: Warehouse, name: String): Boolean =
    wh.read(name).schema.fieldNames.contains("pos")

  /** The generation frontier scans the (docs-sized, never
    * postings-sized) doclen companion, column-pruned. */
  override protected def frontierSource(wh: Warehouse,
                                        name: String): DataFrame =
    wh.spark.read.parquet(doclenPath(wh, name))

  /** Reindex's existing-only gate probes the doclen ids — the same cost
    * class as the frontier scan every maintenance call already pays. */
  override protected def existingIds(wh: Warehouse,
                                     name: String): DataFrame =
    wh.spark.read.parquet(doclenPath(wh, name)).select(col("doc_id"))

  private def tokenize(docs: DataFrame, idCol: String, textCol: String,
                       attrCols: Seq[String] = Nil): DataFrame =
    docs.select(col(idCol).as("doc_id") +:
      TextFunctions.tokens(col(textCol)).as("__toks") +:
      attrCols.map(col): _*)

  /** Reserved doclen/posting column names an attribute may not shadow. */
  private def requireAttrs(attrCols: Seq[String], idCol: String,
                           textCol: String): Unit = {
    val reserved = Set("doc_id", "dl", "seq", "__toks", "token", "tf",
      "pos", "bucket", idCol, textCol)
    attrCols.foreach(a => require(!reserved.contains(a),
      s"attribute column '$a' collides with a reserved index column " +
        s"(${reserved.mkString(", ")})"))
  }

  /** The attribute columns an existing index carries — everything in the
    * doclen companion that is not the id, the length, or the generation.
    * Attributes are DOC-level metadata, so they ride the docs-sized
    * doclen side only (postings stay token-occurrence-shaped — a doc
    * attribute replicated df times per term would multiply posting
    * bytes for nothing). Derived from the stored schema so appends and
    * reindexes are self-describing. */
  private def attrColsOf(wh: Warehouse, name: String): Seq[String] =
    wh.spark.read.parquet(doclenPath(wh, name)).columns.toSeq
      .filterNot(c => c == "doc_id" || c == "dl" || c == "seq")

  private def postingsOf(toks: DataFrame, nBuckets: Int, seq: Long,
                         positions: Boolean): DataFrame = {
    val aggs =
      if (positions)
        Seq(count(lit(1)).as("tf"),
          sort_array(collect_list(col("__pos"))).as("pos"))
      else Seq(count(lit(1)).as("tf"))
    toks
      .select(col("doc_id"),
        posexplode(col("__toks")).as(Seq("__pos", "token")))
      .groupBy(col("doc_id"), col("token"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("seq", lit(seq))
      .withColumn("bucket",
        Sampling.hashBucket(col("token"), "tix", nBuckets).cast("int"))
  }

  /** Build: (doc, token, tf) postings — one row per distinct doc-token
    * pair carrying its term frequency — partitioned by token-hash
    * bucket, published atomically WITH a doclen companion (doc_id, dl,
    * seq) riding INSIDE the version dir (`_doclen`, underscore-invisible
    * to posting scans, written before the manifest swap — the
    * [[IvfIndex]] `_centroids` pattern), so postings and doc lengths
    * become visible in the SAME atomic step and ranked retrieval can
    * never pair one generation's postings with another's lengths.
    *
    * `positions = false` skips the per-posting sorted position list —
    * roughly half the posting bytes and build CPU when only conjunctive
    * or BM25 search will run; [[searchPhrase]] against a position-free
    * index refuses loudly.
    *
    * `attrCols` are DOC-level attribute columns (language, source,
    * license tier…) that ride the doclen companion, so a FILTERED
    * search's predicate reaches the docs-sized metadata scan as an
    * ordinary pushed parquet filter — no corpus join at query time.
    * Returns the version id. */
  def build(wh: Warehouse, corpus: DataFrame, idCol: String,
            textCol: String, name: String = "text_index",
            nBuckets: Int = 64, positions: Boolean = true,
            attrCols: Seq[String] = Nil): String = {
    require(nBuckets >= 1, s"nBuckets must be positive, got $nBuckets")
    requireAttrs(attrCols, idCol, textCol)
    import wh.spark.implicits._
    val toks = tokenize(corpus, idCol, textCol, attrCols)
    // writer-side bucket clustering: without it every upstream task
    // opens a writer in every bucket dir (tasks x nBuckets tiny files,
    // and every search listing pays for all of them); hash-
    // repartitioning on the partition column puts each bucket in ONE
    // task -> one right-sized file per bucket; the partition count is
    // EXPLICIT because a bare repartition(col) is AQE-coalescible and
    // would collapse a byte-small posting exchange to one serial
    // writer. Cost is one posting-sized shuffle at build; bucket size
    // stays bounded by the layout's own nBuckets sizing lever.
    val out = wh.publish(postingsOf(toks, nBuckets, seq = 0L, positions)
        .repartition(IndexAdvice.shufflePartitions(wh), col("bucket")), name,
      partitionCols = Seq("bucket"),
      beforeSwap = vdir => {
        // the layout is SELF-DESCRIBING: the bucket count rides the
        // version dir, so every later call can refuse a mismatched
        // nBuckets instead of pruning to the wrong buckets and
        // silently answering empty (the one parameter whose wrong
        // value is invisible — positions and attributes already
        // self-describe through the stored schemas)
        Seq(nBuckets.toLong).toDF("n_buckets")
          .coalesce(1).write.parquet(s"$vdir/_layout")
        toks.select(col("doc_id") +: size(col("__toks")).cast("long")
            .as("dl") +: lit(0L).as("seq") +: attrCols.map(col): _*)
          .write.parquet(s"$vdir/_doclen")
      })
    stampSeq(wh, name, 0L) // a fresh build's rows all carry seq 0
    out
  }

  /** Per-version layout cache ([[IndexAdvice.versionCached]]): the
    * bucket count is IMMUTABLE within an index version (build writes it
    * once, compact/rebuild write the new version's), so the one-row
    * `_layout` read happens once per resolved version dir — never a
    * Spark job per search on the hot path. */
  private val layoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** The stored bucket count for the CURRENT version (−1 when the index
    * predates the `_layout` companion), cached per version dir. */
  private def layoutOf(wh: Warehouse, name: String): Long = {
    val key = s"${wh.dataPath(name)}/_layout"
    IndexAdvice.versionCached(layoutCache, key) {
      val lp = new Path(key)
      java.lang.Long.valueOf(
        if (!fs(wh, lp).exists(lp)) -1L
        else wh.spark.read.parquet(key)
          .select(col("n_buckets")).head().getLong(0))
    }.longValue()
  }

  /** Resolve the bucket count every search/append/reindex routes
    * through. `nBuckets = 0` (the default everywhere but [[build]])
    * resolves it FROM the stored `_layout` — the index is
    * self-describing, so callers need not carry the build-time constant
    * around; an index predating the marker refuses the omission loudly
    * (guessing would prune to the wrong buckets and silently answer
    * empty). An EXPLICIT count is validated against the stored layout
    * exactly as before — a wrong value refuses, a pre-marker index
    * validates nothing (unchanged legacy behavior). */
  private def resolveBuckets(wh: Warehouse, name: String,
                             nBuckets: Int): Int = {
    require(nBuckets >= 0, s"nBuckets must be >= 0 (0 = resolve from " +
      s"the stored _layout), got $nBuckets")
    val stored = layoutOf(wh, name)
    if (nBuckets == 0) {
      require(stored >= 0L,
        s"index '$name' predates the self-describing _layout marker — " +
          "pass the nBuckets it was built with explicitly")
      stored.toInt
    } else {
      if (stored >= 0L)
        require(stored == nBuckets.toLong,
          s"index '$name' was built with nBuckets = $stored, got " +
            s"$nBuckets — a mismatched bucket count routes searches to " +
            "the wrong partitions and silently answers empty")
      nBuckets
    }
  }

  /** Incremental maintenance: index a batch of NEW documents without a
    * rebuild — postings append partition-aligned into the existing
    * bucket tree (the same frozen hash routes them), so a search that
    * starts after the append sees old and new documents identically.
    * Re-indexing CHANGED documents is [[reindex]] (tombstone + append);
    * removing them is [[delete]]. The position mode follows the index
    * (appending position-free rows into a positional index would
    * silently break phrase search on the new docs). */
  def append(wh: Warehouse, newDocs: DataFrame, idCol: String,
             textCol: String, name: String = "text_index",
             nBuckets: Int = 0): Unit = {
    // ONE materialization feeds both writes: newDocs may be
    // non-deterministic (a sample, a limit, a first-wins dedup) and two
    // independent actions over a lazy frame could compute doclen rows
    // and postings from DIFFERENT row sets, skewing BM25's N/avgdl
    val nb = resolveBuckets(wh, name, nBuckets)
    val (toks, nDocs) = graft.engine.Exec.materializeCounted(
      tokenize(newDocs, idCol, textCol, attrColsOf(wh, name)))
    appendToks(wh, toks, name, nb, nextSeq(wh, name), nDocs)
  }

  /** The write half of [[append]]/[[reindex]] over an already-pinned
    * token frame, at an already-resolved generation. Doclen rows FIRST,
    * postings second: a crash between the two leaves extra doclen rows
    * (N/avgdl marginally off, and [[compact]] reconciles them away)
    * rather than postings whose documents are missing from the length
    * table.
    *
    * When the stored health evidence is FRESH, the append FOLDS its
    * deltas into it (batch doclen rows + per-bucket posting counts —
    * an append adds only live generations, so the dead axes are
    * untouched) instead of staling the stamp: a crawl-ingest stream's
    * [[maintenanceAdvice]] then stays metadata-cost across any number
    * of appends. Deletes and reindexes fold too when the batch clears
    * the [[IndexAdvice.MinDeleteFoldRatio]] size gate (their newly-dead
    * posting mass per bucket needs one column-pruned posting pass — see
    * [[foldDeletes]]); below it they stale the stamp and the next advice
    * re-measures once and re-persists. */
  private def appendToks(wh: Warehouse, toks: DataFrame, name: String,
                         nBuckets: Int, seq: Long, nDocs: Long): Unit = {
    val pre = freshEvidence(wh, name)
    // size-aware doclen landing: nextSeq and every ranked search scan
    // this companion, and a long-lived stream would otherwise leave
    // |shuffle partitions| files per micro-batch — a small batch lands
    // as one file, a bulk append keeps bounded multi-task writers (the
    // corpus-sized BUILD write keeps natural parallelism untouched)
    // attrs ride along exactly as the tokenized frame carries them (its
    // tokenize call derived them from the stored doclen schema)
    // nDocs rode the caller's pinning job (materializeCounted) — no
    // count() job per append
    val attrs = toks.columns.toSeq
      .filterNot(c => c == "doc_id" || c == "__toks")
    toks.select(col("doc_id") +: size(col("__toks")).cast("long")
        .as("dl") +: lit(seq).as("seq") +: attrs.map(col): _*)
      .repartition(IndexAdvice.companionShards(nDocs))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(doclenPath(wh, name))
    // batch bucket clustering: each append adds <= |touched buckets|
    // files, not tasks x buckets (appends drive file-count growth for
    // a long-lived index)
    val posts = postingsOf(toks, nBuckets, seq, hasPositions(wh, name))
      .repartition(IndexAdvice.shufflePartitions(wh), col("bucket"))
    appendFolding(wh, name, pre, posts, "bucket") { (e, delta) =>
      val preMap = e.buckets.toMap
      TextHealth(e.liveRows + nDocs, e.deadRows,
        (preMap.keySet ++ delta.keySet).toSeq.sorted
          .map(b => (b, preMap.getOrElse(b, 0L) + delta.getOrElse(b, 0L))))
    }
    stampSeq(wh, name, seq) // this driver KNOWS the new frontier
  }

  /** Tombstone documents: every posting and doclen row any of `docIds`
    * wrote SO FAR stops matching searches, at metadata cost — nothing is
    * rewritten. The tombstone records the current generation frontier as
    * its cut, so rows a LATER [[append]]/[[reindex]] adds for the same
    * doc are untouched. Tombstones ride inside the version dir: a
    * rebuild ([[build]]) starts clean — the rebuild is the compaction. */
  def delete(wh: Warehouse, docIds: DataFrame, idCol: String,
             name: String = "text_index"): Unit =
    deleteAt(wh, docIds.select(col(idCol).as("doc_id")), name,
      nextSeq(wh, name), onlyExisting = false)

  /** A delete's health fold: the tombstoned docs' live doclen
    * generations turn dead, and their live postings leave each bucket's
    * mass — a column-pruned (doc_id, seq, bucket) pass, exactly the scan
    * [[analyzeHealth]] does, which is why [[deleteAt]] size-gates it.
    * Buckets whose every posting died disappear, matching the
    * re-measure's live-only census. */
  override protected def foldDeletes(wh: Warehouse, name: String,
                                     pre: TextHealth,
                                     tomb: DataFrame): TextHealth = {
    val ddl = liveOnly(wh, wh.dataPath(name),
      wh.spark.read.parquet(doclenPath(wh, name))
        .select(col("doc_id"), col("seq")))
      .join(tomb, Seq("doc_id"), "left_semi").count()
    val db = liveOnly(wh, wh.dataPath(name),
      wh.read(name).select(col("doc_id"), col("seq"), col("bucket")))
      .join(tomb, Seq("doc_id"), "left_semi")
      .groupBy(col("bucket")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    TextHealth(pre.liveRows - ddl, pre.deadRows + ddl, pre.buckets
      .map { case (b, m) => (b, m - db.getOrElse(b, 0L)) }
      .filter(_._2 > 0L))
  }

  /** Continuous indexing: a streaming crawl becomes searchable batch by
    * batch. Each micro-batch lands via [[reindex]] — tombstone + append,
    * NOT a plain append: foreachBatch is at-least-once, and a REPLAYED
    * batch appended twice would double its docs' postings (breaking the
    * conjunctive hit-count contract), while a replayed reindex
    * tombstones its previous attempt first, so the search surface
    * converges to effectively-once under any replay. Re-crawled doc ids
    * across batches update naturally (that is what reindex does); a
    * batch carrying the SAME id twice is refused loudly (two
    * generations with one cut would merge position lists — dedupe
    * upstream, last-crawl-wins). [[build]] the index first (an empty
    * corpus is a valid day-0 build).
    *
    * Each micro-batch is pinned ONCE at entry: the row count, the
    * duplicate check, and reindex's tombstone + doclen + posting writes
    * all consume the pinned frame, so a wide crawl batch pays its source
    * read once instead of 3-4 times per batch. With `maintainEvery > 0`
    * the sink is SELF-MAINTAINING: every that-many batches it consults
    * [[maintenanceAdvice]] (stored evidence, metadata cost when nothing
    * changed) and compacts when the policy fires — re-crawl-heavy
    * streams then bound their own `_deletes` growth instead of waiting
    * for a manual compaction. */
  def streamingIndex(wh: Warehouse, docs: DataFrame, idCol: String,
                     textCol: String, checkpoint: String,
                     name: String = "text_index", nBuckets: Int = 0,
                     maintainEvery: Int = 0,
                     maxDeadFraction: Double = DefaultMaxDeadFraction,
                     maxTombstoneBloat: Double = DefaultMaxTombstoneBloat,
                     maxBucketSkew: Double = DefaultMaxSkew)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (pinned, n) = graft.engine.Exec.materializeCounted(batch)
        if (n > 0) {
          require(pinned.select(col(idCol)).distinct().count() == n,
            s"streamingIndex: a micro-batch carries duplicate '$idCol' " +
              "rows — dedupe upstream (last-crawl-wins) before indexing")
          reindex(wh, pinned, idCol, textCol, name, nBuckets)
        }
        if (maintainEvery > 0 && (batchId + 1) % maintainEvery == 0)
          maintain(wh, name, maxDeadFraction, maxTombstoneBloat,
            maxBucketSkew)
        ()
      }
      .start()

  /** Apply accumulated tombstones WITHOUT re-tokenizing the corpus: the
    * index rewrites FROM ITSELF — live postings republish as a fresh
    * atomic version (same buckets, same position mode), the doclen
    * companion rewrites live-only, and the new version starts with no
    * `_deletes`. Cost is index-sized I/O; a full [[build]] re-tokenizes
    * the corpus and is only needed when the tokenizer or bucket count
    * changes. Searches before/after answer identically (the tombstone
    * filter and the rewrite drop the same rows).
    *
    * Compaction also RECONCILES the doclen companion: [[append]] writes
    * doclen rows before postings (the crash-safe order), so a crash
    * between the two leaves doclen generations with no postings behind
    * them, skewing BM25's N/avgdl until repair — this is that repair. A
    * live doclen row with `dl > 0` whose (doc_id, seq) generation wrote
    * no live posting can only be such a torn append and is dropped;
    * `dl == 0` rows are legitimate (an empty document has a length row
    * and no postings) and are kept. The generation probe is a
    * column-pruned (doc_id, seq) scan of the postings — far smaller
    * than the full posting rewrite this call already pays. Returns the
    * version. */
  def compact(wh: Warehouse, name: String = "text_index"): String = {
    // capture BEFORE the publish swaps the version dir: a compact's
    // health fold is pure metadata — live posting mass per bucket
    // carries over 1:1 (the rewrite republishes exactly the live rows),
    // dead mass zeroes, and the doclen count is the RECONCILED one
    // (torn-append phantoms dropped below), so a policy-fired
    // compaction leaves the new version's evidence fresh too
    val pre = freshEvidence(wh, name)
    val live = liveOnly(wh, wh.dataPath(name), wh.read(name))
    val dlLive = liveOnly(wh, wh.dataPath(name),
      wh.spark.read.parquet(doclenPath(wh, name)))
    val gens = live.select(col("doc_id"), col("seq")).distinct()
    // pinned: the reconciled frame feeds a count AND the write (and the
    // semi-join above must not recompute between them); size-aware
    // sharding because every ranked search, nextSeq, and deleteAt's
    // existing-ids probe lists this dir — the rewrite is the moment to
    // fix companion file counts too, not regrow them shuffle-wide
    val (dl, nDl) = graft.engine.Exec.materializeCounted(
      dlLive.filter(col("dl") === 0).unionByName(
        dlLive.filter(col("dl") > 0)
          .join(gens, Seq("doc_id", "seq"), "left_semi")))
    // the rewrite is the moment to fix file counts, not inherit them
    val out = wh.publish(
      live.repartition(IndexAdvice.shufflePartitions(wh), col("bucket")), name,
      partitionCols = Seq("bucket"),
      beforeSwap = vdir => {
        IndexAdvice.copyForward(wh, wh.dataPath(name), vdir, Seq("_layout"))
        dl.repartition(IndexAdvice.companionShards(nDl))
          .write.parquet(s"$vdir/_doclen")
      })
    pre.foreach(e => persistHealth(wh, name, TextHealth(nDl, 0L, e.buckets),
      IndexAdvice.census(wh, name)))
    // NO seq stamp: unlike IvfIndex.compact, the text rewrite preserves
    // each row's generation (doclen reconciliation joins on (doc_id,
    // seq)) — the next frontier consult re-scans the fresh doclen once
    out
  }

  /** The granularity the OBSERVED posting-mass distribution calls for:
    * the LARGEST divisor of the current bucket count whose PREDICTED
    * live skew clears the gate (largest preserves the most pruning).
    * The prediction is EXACT, not a heuristic: a token's bucket is
    * `hash % B`, and for any divisor B′ of B, `hash % B′ ==
    * (hash % B) % B′` — so the per-bucket live masses at B′ are a pure
    * regrouping of the stored `_health` sidecar buckets, computed
    * driver-side over ≤ nBuckets rows, and the post-rebuild measured
    * skew equals the prediction by construction. Coarsening is always
    * sufficient for the Rebuild trigger's failure mode (a few dominant
    * terms whose atomic posting lists no finer split can spread): at
    * B′ = 1 the skew is 1.0 by definition, so a gate above 1 always
    * has a clearing divisor. */
  private[operators] def chooseBuckets(current: Int,
                                       buckets: Seq[(Int, Long)],
                                       maxBucketSkew: Double): Int = {
    require(current >= 1 && maxBucketSkew > 1.0,
      s"need current >= 1 and a skew gate above 1.0, got " +
        s"($current, $maxBucketSkew)")
    (1 to current).reverse.filter(current % _ == 0).find { b =>
      val folded = buckets.groupBy(_._1 % b).values
        .map(_.map(_._2).sum).filter(_ > 0L)
      folded.isEmpty || {
        val mean = folded.sum.toDouble / folded.size
        folded.max / mean < maxBucketSkew
      }
    }.getOrElse(1)
  }

  /** [[chooseBuckets]] plus a NON-DIVISOR fallback for poorly-factored
    * counts: the exact-prediction fold only works along divisors, and a
    * count like 61 (divisors 1 and 61) would jump straight to B′ = 1 —
    * destroying partition pruning for every subsequent search — when
    * the skew may be nothing deeper than several mid-weight terms
    * hashing into one unlucky bucket. When the best clearing divisor
    * sacrifices more than 4× pruning granularity AND the current count
    * is not already a power of two (a power of two has divisors at
    * every granularity, so its prediction failing at current/4 means
    * deep coarsening is genuinely required — trust it), re-bucket at
    * the largest power of two below `current` instead: a different
    * modulus re-rolls every token's bucket, spreading hash-collision
    * skew, and the well-factored result gives every FUTURE fold a rich
    * divisor chain. The price of leaving prediction space is honest:
    * the caller must MEASURE post-rebuild health (second tuple element
    * false = no exact fold exists). If the dominance was a single
    * atomic posting list the measured skew re-fires Rebuild and the
    * next round coarsens along the power of two's divisors — exact
    * folds from then on, converging at worst to B′ = 1 exactly where
    * the divisor path would have started. */
  private[operators] def chooseBucketsOrFallback(current: Int,
      buckets: Seq[(Int, Long)], maxBucketSkew: Double): (Int, Boolean) = {
    val bd = chooseBuckets(current, buckets, maxBucketSkew)
    val pow2 = Integer.highestOneBit(current)
    if (bd.toLong * 4 >= current.toLong || pow2 == current) (bd, true)
    else (pow2, false)
  }

  /** Execute the REBUILD arm from the index itself — the policy loop's
    * last caller burden folded into the engine: when occupancy drift
    * breaks the frozen hash layout's pruning premise (the
    * [[IndexAdvice.DefaultMaxSkew]] trigger), this re-buckets the LIVE
    * postings at the granularity [[chooseBuckets]] derives from the
    * stored `_health` sidecar bucket evidence and republishes atomically —
    * same discipline as [[compact]] (live rows only, doclen reconciled,
    * fresh version carries no `_deletes`), with the bucket column
    * recomputed through the frozen token hash at the new count and the
    * new `_layout` marker riding the version dir. The corpus is never
    * re-tokenized: postings carry their tokens, so a re-bucket is
    * index-sized I/O, not a corpus scan ([[build]] is only needed when
    * the TOKENIZER changes). Health folds at metadata cost — the new
    * per-bucket masses are the exact hash-space regroup of the stored
    * ones, so the rebuilt index's advice stays metadata-cost and reads
    * Healthy at the gate that fired. A poorly-factored count whose best
    * clearing divisor would destroy pruning re-buckets at a nearby
    * power of two instead and pays one measured re-analyze — the
    * [[chooseBucketsOrFallback]] contract. Returns the published
    * version. */
  def rebuild(wh: Warehouse, name: String = "text_index",
              maxBucketSkew: Double = DefaultMaxSkew): String = {
    import wh.spark.implicits._
    val current = layoutOf(wh, name)
    require(current >= 1L,
      s"index '$name' predates the self-describing _layout marker — a " +
        "re-bucket needs the stored granularity; run build() over the " +
        "corpus instead")
    val buckets = freshEvidence(wh, name).getOrElse(
      measureHealth(wh, name, IndexAdvice.census(wh, name)).evidence).buckets
    val (nb, exactFold) =
      chooseBucketsOrFallback(current.toInt, buckets, maxBucketSkew)
    // rewrite FROM the index: live postings re-bucketed through the
    // frozen hash at the chosen count, doclen reconciled exactly like
    // compact (torn-append dl>0 generations with no postings drop,
    // legitimate dl=0 rows survive)
    val live = liveOnly(wh, wh.dataPath(name), wh.read(name))
      .withColumn("bucket",
        Sampling.hashBucket(col("token"), "tix", nb).cast("int"))
    val dlLive = liveOnly(wh, wh.dataPath(name),
      wh.spark.read.parquet(doclenPath(wh, name)))
    val gens = live.select(col("doc_id"), col("seq")).distinct()
    val (dl, nDl) = graft.engine.Exec.materializeCounted(
      dlLive.filter(col("dl") === 0).unionByName(
        dlLive.filter(col("dl") > 0)
          .join(gens, Seq("doc_id", "seq"), "left_semi")))
    val out = wh.publish(
      live.repartition(IndexAdvice.shufflePartitions(wh), col("bucket")),
      name, partitionCols = Seq("bucket"),
      beforeSwap = vdir => {
        Seq(nb.toLong).toDF("n_buckets")
          .coalesce(1).write.parquet(s"$vdir/_layout")
        dl.repartition(IndexAdvice.companionShards(nDl))
          .write.parquet(s"$vdir/_doclen")
      })
    if (exactFold) {
      // metadata-cost fold: the new buckets' masses are the exact
      // regroup of the captured evidence (see chooseBuckets), dead mass
      // zeroes, doclen count is the reconciled one
      val folded = buckets.groupBy(_._1 % nb).toSeq
        .map { case (b, ms) => (b, ms.map(_._2).sum) }
        .filter(_._2 > 0L).sorted
      persistHealth(wh, name, TextHealth(nDl, 0L, folded),
        IndexAdvice.census(wh, name))
    } else
      // non-divisor fallback: `hash % nb` is NOT a regroup of
      // `hash % current`, so no exact prediction exists — pay the ONE
      // measured re-analyze the fallback contract promises
      // (chooseBucketsOrFallback), keeping post-rebuild advice at
      // metadata cost from here on
      measureHealth(wh, name, IndexAdvice.census(wh, name))
    // NO seq stamp: the re-bucket preserves row generations (see
    // compact) — the next frontier consult re-scans the fresh doclen
    out
  }

  /** Re-index CHANGED documents: tombstone their previous generations,
    * then append the new text — one call, batch cost. The appended
    * generation carries `seq == cut`, so the updated document matches
    * ONLY its new terms the moment both writes land (a search between
    * the two sees the doc deleted — transiently absent, never stale). */
  def reindex(wh: Warehouse, changedDocs: DataFrame, idCol: String,
              textCol: String, name: String = "text_index",
              nBuckets: Int = 0): Unit = {
    // pin the tokenized batch ONCE: the tombstone ids and the appended
    // postings must come from the same row set (a non-deterministic
    // batch evaluated twice could tombstone one set and append another),
    // and the generation resolves once — one doclen frontier scan per
    // reindex instead of delete's + append's separate scans
    val nb = resolveBuckets(wh, name, nBuckets)
    val (toks, nDocs) = graft.engine.Exec.materializeCounted(
      tokenize(changedDocs, idCol, textCol, attrColsOf(wh, name)))
    val cut = nextSeq(wh, name)
    deleteAt(wh, toks.select(col("doc_id")), name, cut,
      onlyExisting = true)
    appendToks(wh, toks, name, nb, cut, nDocs)
  }

  /** Ranked retrieval FROM the index: BM25 top-k over the query terms'
    * postings only — tf rides the posting row, df is each term's exact
    * LIVE posting count, N/avgdl come from the live doclen companion,
    * and the quantized scoring (milli-nat idf, milli contributions) is
    * arithmetic-identical to [[CorpusStats.bm25TopK]], so index-backed
    * and scan-backed retrieval return THE SAME rows. The corpus-sized
    * side is touched exactly once (the doclen join); everything else is
    * bounded by Σ df(term). */
  def searchRanked(wh: Warehouse, terms: Seq[String],
                   name: String = "text_index", nBuckets: Int = 0,
                   k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
                   filter: Option[Column] = None): DataFrame = {
    import graft.functions.TopKAggregate
    val toks = terms.map(normTerm).distinct
    require(toks.nonEmpty && toks.forall(_.nonEmpty),
      s"searchRanked needs non-blank terms, got $terms")
    require(k >= 1, s"k must be >= 1, got $k")
    val nb = resolveBuckets(wh, name, nBuckets)
    val buckets = toks
      .map(t => Sampling.hashBucketOf(t, "tix", nb).toInt).distinct
    // `filter` constrains retrieval to the sub-corpus matching a
    // predicate over the doclen attribute columns ([[build]] attrCols):
    // a pushed filter on the docs-sized metadata scan, after which N,
    // avgdl, AND per-term df all come from the sub-corpus — the result
    // is row-identical to ranking against an index built on the
    // filtered corpus, not a post-filtered global top-k (which would
    // return fewer than k and mis-rank by out-of-scope stats)
    val dlAll = liveOnly(wh, wh.dataPath(name),
      wh.spark.read.parquet(doclenPath(wh, name))).drop("seq")
    val dl = filter.map(f => dlAll.filter(f)).getOrElse(dlAll)
      .select(col("doc_id"), col("dl"))
    val postsAll = liveOnly(wh, wh.dataPath(name),
      wh.read(name)
        .filter(col("bucket").isin(buckets: _*) &&
          col("token").isin(toks: _*))
        .select(col("doc_id"), col("token"), col("tf"), col("seq")))
      .drop("seq")
    // sub-corpus df: postings whose doc survives the filter (the semi
    // side is the docs-sized doclen scan the search already pays)
    val posts = graft.engine.Exec.materialize(
      filter.map(_ => postsAll.join(dl.select("doc_id"), Seq("doc_id"),
        "left_semi")).getOrElse(postsAll))
    val dfs = posts.groupBy(col("token")).agg(count(lit(1)).as("__df"))
    val stats = dl.agg(count(lit(1)).as("__n"),
      sum(col("dl")).as("__sumdl"))
    val small = posts.join(broadcast(dfs), Seq("token"))
      .crossJoin(broadcast(stats))
    val avgdl = col("__sumdl").cast("double") / col("__n").cast("double")
    val idfQ = floor(lit(1000.0) * log(lit(1.0) +
      (col("__n") - col("__df") + lit(0.5)).cast("double") /
        (col("__df") + lit(0.5)).cast("double")) + lit(0.5)).cast("long")
    val tf = col("tf").cast("double")
    val contribQ = floor(idfQ.cast("double") * (tf * (k1 + 1.0)) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double")
        / avgdl)) * lit(1000.0) + lit(0.5)).cast("long")
    dl.join(graft.engine.JoinPolicy.broadcastIfSmall(small), Seq("doc_id"))
      .withColumn("__contrib", contribQ)
      .groupBy(col("doc_id"), col("dl"))
      .agg(sum(col("__contrib")).as("score_q"))
      .filter(col("score_q") > 0)
      .groupBy()
      .agg(TopKAggregate.topKStructs(
        struct(col("score_q"), col("doc_id"), col("dl")), k,
        desc = Seq(false, true)).as("top"))
      .select(posexplode(col("top")))
      .select(col("col.doc_id").as("doc_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.score_q").as("score_q"), col("col.dl").as("dl"))
  }

  /** The anchor offset for [[searchPhrase]]'s rolling intersection: the
    * phrase offset of the RAREST term (min live df, first offset on
    * ties). Exposed for the spec — the anchor choice is the phrase
    * planner's one decision. */
  private[operators] def phraseAnchor(toks: Seq[String],
                                      dfOf: Map[String, Long]): Int =
    toks.indices.minBy(i => (dfOf.getOrElse(toks(i), 0L), i))

  /** Phrase search: documents containing `phrase`'s terms CONSECUTIVELY,
    * resolved from the stored position lists — a rolling intersection in
    * ANCHOR coordinates. The anchor is the phrase's rarest term (min df
    * over the pruned live postings): `__run` holds the anchor-term
    * positions still consistent with every processed term, so the FIRST
    * frame — and every intermediate — is bounded by the rare term's
    * postings, not by whatever stopword happens to open the phrase
    * (df("the") as the first join frame was the old cost shape). Each
    * remaining offset joins once, rarest-first, with its positions
    * shifted by its offset delta; the position algebra is
    * shift-invariant so the result is identical to the left-to-right
    * adjacency sweep. Repeated terms are handled per-offset. Requires a
    * positional index ([[build]] `positions = true`). */
  def searchPhrase(wh: Warehouse, phrase: Seq[String],
                   name: String = "text_index", nBuckets: Int = 0,
                   filter: Option[Column] = None): DataFrame = {
    val toks = phrase.map(normTerm)
    require(toks.nonEmpty && toks.forall(_.nonEmpty),
      s"searchPhrase needs non-blank terms, got $phrase")
    require(hasPositions(wh, name),
      s"index '$name' was built with positions = false — phrase search " +
        "needs stored position lists; rebuild with positions = true")
    val nb = resolveBuckets(wh, name, nBuckets)
    val buckets = toks
      .map(t => Sampling.hashBucketOf(t, "tix", nb).toInt).distinct
    val posts = graft.engine.Exec.materialize(liveOnly(wh, wh.dataPath(name),
      wh.read(name)
        .filter(col("bucket").isin(buckets: _*) &&
          col("token").isin(toks.distinct: _*))
        .select(col("doc_id"), col("token"), col("pos"), col("seq")))
      .drop("seq"))
    // per-term live df from the already-pruned frame: |distinct terms|
    // rows — query-planner metadata, same contract as the bucket list
    val dfOf = posts.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (toks.distinct.exists(t => !dfOf.contains(t)))
      return posts.select(col("doc_id")).limit(0) // a term has no postings
    def postsOf(t: String, as: String) = posts
      .filter(col("token") === lit(t))
      .select(col("doc_id"), col("pos").as(as))
    val anchor = phraseAnchor(toks, dfOf)
    // remaining offsets rarest-first: every intermediate frame stays
    // bounded by the smallest dfs seen so far
    val rest = toks.indices.filter(_ != anchor)
      .sortBy(i => (dfOf(toks(i)), i))
    var cur = postsOf(toks(anchor), "__run")
    rest.zipWithIndex.foreach { case (i, step) =>
      val delta = i - anchor
      cur = cur.join(postsOf(toks(i), s"__p$step"), Seq("doc_id"))
        .select(col("doc_id"),
          array_intersect(col("__run"),
            transform(col(s"__p$step"), x => x - delta)).as("__run"))
        .filter(size(col("__run")) > 0)
    }
    attrGate(wh, name, cur.select(col("doc_id")).distinct(), filter)
  }

  /** Conjunctive search: documents containing ALL `terms`. The term list
    * is a query-sized driver literal (same contract as [[IvfIndex]]'s
    * probe cells): its buckets reach the scan as a static
    * PartitionFilter, the token membership as a pushed `IN`, and the
    * AND-semantics run as one |terms|-bounded count aggregate per doc.
    * Duplicate query terms collapse; empty/blank terms are refused. */
  def searchAll(wh: Warehouse, terms: Seq[String],
                name: String = "text_index", nBuckets: Int = 0,
                filter: Option[Column] = None): DataFrame = {
    val toks = terms.map(normTerm).distinct
    require(toks.nonEmpty && toks.forall(_.nonEmpty),
      s"searchAll needs non-blank terms, got $terms")
    val nb = resolveBuckets(wh, name, nBuckets)
    // Int literals so the partition filter needs no cast (a cast can
    // defeat static pruning)
    val buckets = toks
      .map(t => Sampling.hashBucketOf(t, "tix", nb).toInt).distinct
    val hits = liveOnly(wh, wh.dataPath(name),
      wh.read(name)
        .filter(col("bucket").isin(buckets: _*) &&
          col("token").isin(toks: _*))
        .select(col("doc_id"), col("seq")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__hits")) // live postings are distinct per doc
      .filter(col("__hits") === toks.size)
      .select(col("doc_id"))
    attrGate(wh, name, hits, filter)
  }

  /** Constrain a membership result to documents matching a predicate
    * over the doclen attribute columns: a semi-join of the (already
    * Σdf-bounded) candidate set against the filtered docs-sized
    * metadata scan — attributes are doc-level, so gating after the
    * hit-count aggregate is semantics-identical and joins the smaller
    * frame. */
  private def attrGate(wh: Warehouse, name: String, candidates: DataFrame,
                       filter: Option[Column]): DataFrame =
    filter match {
      case None => candidates
      case Some(f) =>
        val allowed = liveOnly(wh, wh.dataPath(name),
          wh.spark.read.parquet(doclenPath(wh, name))).drop("seq")
          .filter(f).select("doc_id")
        candidates.join(allowed, Seq("doc_id"), "left_semi")
    }

  /** Disjunctive / k-of-n search: documents containing at least
    * `minMatch` DISTINCT terms from `terms` — `minMatch = 1` is boolean
    * OR, `minMatch = terms.size` degenerates to [[searchAll]], anything
    * between is the "match most of these" query BM25 can only
    * approximate through score shaping. Same access path and cost shape
    * as [[searchAll]] (pruned live postings, one |terms|-bounded count
    * per doc — the only change is the `>= minMatch` gate); returns
    * (doc_id, n_matched) so callers can rank by match count. */
  def searchAny(wh: Warehouse, terms: Seq[String],
                name: String = "text_index", nBuckets: Int = 0,
                minMatch: Int = 1,
                filter: Option[Column] = None): DataFrame = {
    val toks = terms.map(normTerm).distinct
    require(toks.nonEmpty && toks.forall(_.nonEmpty),
      s"searchAny needs non-blank terms, got $terms")
    require(minMatch >= 1 && minMatch <= toks.size,
      s"minMatch must be in [1, ${toks.size}] (distinct terms), " +
        s"got $minMatch")
    val nb = resolveBuckets(wh, name, nBuckets)
    val buckets = toks
      .map(t => Sampling.hashBucketOf(t, "tix", nb).toInt).distinct
    val hits = liveOnly(wh, wh.dataPath(name),
      wh.read(name)
        .filter(col("bucket").isin(buckets: _*) &&
          col("token").isin(toks: _*))
        .select(col("doc_id"), col("seq")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matched"))
      .filter(col("n_matched") >= minMatch)
      .select(col("doc_id"), col("n_matched"))
    attrGate(wh, name, hits, filter)
  }

  /** Measure index health and PERSIST it as a one-row `_health`
    * companion (dead generation mass, tombstone bytes, live counts,
    * live posting-bucket occupancy) stamped with the version dir's file
    * census — the stored signal [[maintenanceAdvice]] and data-card
    * consumers read back at metadata cost. One docs-sized doclen pass
    * plus one column-pruned (doc_id, seq, bucket) posting pass that
    * collapses to ≤ nBuckets rows — tokens and position lists are never
    * read. Stale the moment any index file changes, exactly like the
    * sketch-stats catalog. */
  def analyzeHealth(wh: Warehouse,
                    name: String = "text_index"): DataFrame =
    analyze(wh, name)

  /** The bounded health re-measure: one doclen pass plus one
    * column-pruned posting pass. Skew counts LIVE postings only — dead
    * mass measures as dead_fraction (the Compact axis), never as
    * structural skew. */
  override protected def measure(wh: Warehouse,
                                 name: String): TextHealth = {
    val dlv = wh.spark.read.parquet(doclenPath(wh, name))
    val (liveRows, deadRows): (Long, Long) =
      withCuts(wh, wh.dataPath(name), dlv, "doc_id") match {
        case None => (dlv.count(), 0L)
        case Some(joined) =>
          val r = joined
            .agg(coalesce(sum(when(deadUnderCut, 1L).otherwise(0L)),
              lit(0L)).as("dead"), count(lit(1)).as("total"))
            .head()
          (r.getLong(1) - r.getLong(0), r.getLong(0))
      }
    val perBucket = liveOnly(wh, wh.dataPath(name),
        wh.read(name).select(col("doc_id"), col("seq"), col("bucket")))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted
    TextHealth(liveRows, deadRows, perBucket)
  }

  override protected def renderEvidence(s: IndexAdvice.Snapshot[TextHealth])
      : String = {
    val e = s.evidence
    s"live_rows=${e.liveRows}\ndead_rows=${e.deadRows}\n" +
      s"deletes_bytes=${s.deletesBytes}\ndata_bytes=${s.dataBytes}\n" +
      e.buckets.map(b => s"${b._1}:${b._2}").mkString("buckets=", ",", "\n")
  }

  override protected def parseEvidence(kv: Map[String, String]): TextHealth =
    TextHealth(kv("live_rows").toLong, kv("dead_rows").toLong,
      kv.getOrElse("buckets", "").split(",").toSeq
        .filter(_.nonEmpty).map { t =>
          val Array(b, n) = t.split(":", 2)
          (b.toInt, n.toLong)
        })

  override protected def healthRow(wh: Warehouse,
                                   s: IndexAdvice.Snapshot[TextHealth])
      : DataFrame = {
    import wh.spark.implicits._
    val e = s.evidence
    Seq((e.liveRows, e.deadRows, e.deadFraction, e.livePostings,
        e.maxBucket, e.nBuckets, e.skew, s.deletesBytes, s.dataBytes,
        s.nFiles, s.totalBytes))
      .toDF("live_rows", "dead_rows", "dead_fraction", "live_postings",
        "max_bucket_postings", "n_buckets", "bucket_skew",
        "deletes_bytes", "data_bytes", "n_files", "census_bytes")
  }

  /** The stored health row — None when never analyzed on this version
    * or STALE (any index file changed since; the census stamp moved). */
  def readHealth(wh: Warehouse,
                 name: String = "text_index"): Option[DataFrame] =
    storedHealth(wh, name)

  /** The maintenance POLICY ([[IndexAdvice.Tombstoned.advise]]): bucket
    * occupancy skew past `maxBucketSkew` advises Rebuild (the frozen
    * hash layout no longer matches the term-mass distribution, and
    * compaction cannot fix it); otherwise dead generation mass /
    * tombstone byte bloat past threshold advises Compact; otherwise
    * Healthy. */
  def maintenanceAdvice(wh: Warehouse, name: String = "text_index",
                        maxDeadFraction: Double = DefaultMaxDeadFraction,
                        maxTombstoneBloat: Double = DefaultMaxTombstoneBloat,
                        maxBucketSkew: Double = DefaultMaxSkew)
      : IndexAdvice =
    advise(wh, name, maxDeadFraction, maxTombstoneBloat, maxBucketSkew)

  /** Consult [[maintenanceAdvice]] and ACT on it — the one call a
    * nightly maintenance job needs per text index. Returns the advice
    * it acted on (Healthy = nothing to do; Compact = compacted;
    * Rebuild = surfaced, and with `executeRebuild` also EXECUTED via
    * [[rebuild]] — the granularity comes from the stored occupancy
    * evidence, so the engine no longer needs the caller for the
    * re-bucket; the default stays surface-only because a rebuild is
    * index-sized I/O a scheduler may want to place, and a pre-marker
    * index cannot self-describe its hash). */
  def maintain(wh: Warehouse, name: String = "text_index",
               maxDeadFraction: Double = DefaultMaxDeadFraction,
               maxTombstoneBloat: Double = DefaultMaxTombstoneBloat,
               maxBucketSkew: Double = DefaultMaxSkew,
               executeRebuild: Boolean = false)
      : IndexAdvice =
    maintainWith(wh, name, maxDeadFraction, maxTombstoneBloat,
      maxBucketSkew, executeRebuild)(
      compact(wh, name), rebuild(wh, name, maxBucketSkew))
}
