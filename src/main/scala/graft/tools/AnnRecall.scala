package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Recall@k measurement for the approximate ANN paths on a CLUSTERED
  * fixture (VERDICT r3 item 5).
  *
  * The planted-copy correctness gates (q50-q53, q61) prove a duplicate
  * lands in its own bucket — which any locality-sensitive scheme passes.
  * They cannot catch a quantizer regression that degrades recall on REAL
  * neighborhoods, where the true top-k are close-but-not-identical
  * vectors. This harness measures that directly: a multi-Gaussian mixture
  * (the shape real embedding corpora take — distinct modes with intra-
  * cluster spread), exact brute-force top-k as truth, and recall@k of the
  * SRP-LSH and IVF paths against it, at 1× and at a 20× corpus.
  */
object AnnRecall {

  /** Asserted recall floor for Learned-OPQ IVF+PQ on the anisotropic
    * (decay 0.93) fixture at the 20k/rerank-512 operating point —
    * pinned just under the measured 0.696. Round 9 measured the full
    * rerank curve (table in BENCH_NOTES): 0.696 at 512 was NOT a
    * quantizer plateau but rerank starvation — the same index reads
    * 0.968 at rerank 1024 and 1.000 at 2048, confirming the documented
    * diagnosis (recall here is rerank-bound; the learned transform's
    * own gate is DISTORTION, asserted in SimilaritySpec). */
  val AnisoLearnedFloor = 0.69

  /** The deep operating point the curve exposed: the SAME learned-OPQ
    * index at rerank 1024 — measured 0.968, floor-asserted at 0.9 so
    * the recovered headroom cannot silently regress. The 100 TB
    * guidance this encodes: on margin-starved (anisotropic, dense)
    * corpora, budget rerank on the order of a quarter of the probed
    * candidate mass before touching the quantizer
    * ([[graft.operators.IvfIndex.recommendedRerank]]). */
  val AnisoLearnedDeepFloor = 0.9

  /** The AUTOMATIC depth (`probePq(rerank = 0)`): sized from the stored
    * `_health` row via `recommendedRerank` — live_rows × nprobe / nlist
    * = 5000 probed candidates here, so auto = 1250, past the measured
    * curve's 0.968@1024 knee. Floor-asserted at the deep floor: the
    * engine-chosen depth must reproduce the recovered recall with no
    * hand-passed 1024. */
  val AnisoAutoFloor = 0.9

  /** Deterministic multi-Gaussian fixture: `n` vectors in `dim`
    * dimensions drawn around `clusters` unit-norm centers with relative
    * spread `sigma`. Same seed → identical fixture at any scale, and the
    * 1× fixture is a prefix of the 20× one (point i's cluster and noise
    * depend only on i), so scaling the corpus only ADDS points. */
  /** Per-coordinate noise scale: `decay = 1.0` is the isotropic fixture;
    * `decay < 1` concentrates intra-cluster variance in the low
    * coordinates (`decay^t` on coordinate t) — the ANISOTROPIC shape
    * real embedding spectra take (PCA-like decay), where subspace-even
    * product quantization wastes its codebooks on dead coordinates and
    * an OPQ rotation is the published fix (Ge et al., CVPR 2013). */
  private def noiseScale(decay: Double, dim: Int): Array[Double] =
    Array.tabulate(dim)(t => math.pow(decay, t))

  def clusteredFixture(spark: SparkSession, n: Int, dim: Int = 64,
                       clusters: Int = 16, sigma: Double = 0.05,
                       seed: Long = 77L, decay: Double = 1.0): DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val centers = Array.fill(clusters) {
      val v = Array.fill(dim)(rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    val scale = noiseScale(decay, dim)
    // per-point noise from a point-indexed RNG: point i is identical
    // whether the fixture holds 5k or 100k vectors
    (0 until n).map { i =>
      val prng = new scala.util.Random(seed * 31 + i)
      val c = centers(i % clusters)
      (i.toLong, c.indices.map(t =>
        c(t) + (sigma * scale(t) * prng.nextGaussian()).toFloat).toArray)
    }.toDF("vec_id", "embedding")
  }

  /** Held-out queries: fresh draws around the same centers (NOT corpus
    * members — a member's top-1 is trivially itself-adjacent). */
  def queryFixture(spark: SparkSession, nQueries: Int, dim: Int = 64,
                   clusters: Int = 16, sigma: Double = 0.05,
                   seed: Long = 77L, decay: Double = 1.0): DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val centers = Array.fill(clusters) {
      val v = Array.fill(dim)(rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    val scale = noiseScale(decay, dim)
    (0 until nQueries).map { i =>
      val prng = new scala.util.Random(seed * 131 + 7 + i)
      val c = centers(i % clusters)
      (1000000L + i, c.indices.map(t =>
        c(t) + (sigma * scale(t) * prng.nextGaussian()).toFloat).toArray)
    }.toDF("vec_id", "embedding")
  }

  /** Recall@k of both approximate paths vs brute force on one corpus. */
  def measure(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
              dim: Int, k: Int, nlist: Int = 64, nprobe: Int = 16,
              rerank: Int = 256,
              sampleSize: Int = 4096): (Double, Double, Double, Double) = {
    val c = corpus.cache()
    val q = queries.cache()
    val exact = Similarity.bruteForceTopK(c, q, "vec_id", "embedding", k)
      .localCheckpoint()
    // 6-bit × 8-table SRP: for true neighbors at cosine ≈ 0.9 (θ ≈ 26°)
    // per-table collision is (1-θ/π)^6 ≈ 0.39, so 8 tables reach ≈ 0.98 —
    // the 8-bit default is tuned for near-duplicate cosines (≥ 0.98),
    // not neighborhood search; fewer bits = bigger buckets = the recall
    // lever, still pruning the corpus well below a full scan
    val lsh = Similarity.lshTopK(c, q, "vec_id", "embedding", dim, k,
      nbits = 6, tables = 8)
    val ivf = Similarity.ivfTopK(c, q, "vec_id", "embedding", dim, k,
      nlist = 32, nprobe = 8)
    // PQ's recall axis is the ADC candidate list (rerank is exact); the
    // lost pairs are true neighbors whose 8-byte reconstruction scored
    // below the rerank cutoff. Flat PQ therefore takes the SAME
    // rerank-per-scale contract as IVFPQ: on this ultra-dense fixture
    // ADC ordering noise exceeds true-neighbor margins, so a fixed
    // shallow rerank starves recall as the corpus grows (the round-5
    // 0.12@20x reading was exactly that — rerank=64 of 100k candidates;
    // the identical quantizer holds 0.52@20x at rerank=1024). Residual
    // (IVF+PQ) codes are finer at equal budget and stay ahead.
    val pq = Similarity.pqTopK(c, q, "vec_id", "embedding", dim, k,
      m = 8, ksub = 256, rerank = rerank)
    // index parameters scale with the corpus (faiss practice: nlist ~
    // sqrt(N), rerank deep enough that ADC ordering noise — not cell
    // coverage — is the only loss term); the caller picks them per scale
    val ivfpq = Similarity.ivfPqTopK(c, q, "vec_id", "embedding", dim, k,
      nlist = nlist, nprobe = nprobe, m = 8, ksub = 256, rerank = rerank,
      sampleSize = sampleSize)
    val r = (Similarity.recallAtK(lsh, exact, k),
      Similarity.recallAtK(ivf, exact, k),
      Similarity.recallAtK(pq, exact, k),
      Similarity.recallAtK(ivfpq, exact, k))
    c.unpersist(); q.unpersist()
    r
  }

  /** IVF+PQ alone vs brute force — the A/B harness for the OPQ rotation
    * (everything shared except `opqSeed`). */
  def measureIvfPq(corpus: DataFrame, queries: DataFrame, dim: Int, k: Int,
                   nlist: Int, nprobe: Int, rerank: Int, sampleSize: Int,
                   opq: Similarity.OpqMode): Double = {
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id",
      "embedding", k).localCheckpoint()
    val ivfpq = Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
      dim, k, nlist = nlist, nprobe = nprobe, m = 8, ksub = 256,
      rerank = rerank, sampleSize = sampleSize, opq = opq)
    Similarity.recallAtK(ivfpq, exact, k)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.engine.SessionDefaults.localSession("32", "ERROR")
    if (args.headOption.contains("rerank-curve")) rerankCurve(spark)
    else run(spark, assertFloor = true)
    spark.stop()
  }

  /** Measure at 1× and 20×, print BENCH_NOTES-style table rows, and
    * (optionally) enforce the recall floor. */
  def run(spark: SparkSession, assertFloor: Boolean): Unit = {
    val (dim, k, nq) = (64, 5, 50)
    // PQ floors are SCALE-AWARE regression tripwires, set just under the
    // measured plateaus. The 20x fixture packs 6,250 near-equidistant
    // points per cluster — true-top-5 cosine margins ~1e-4, below what
    // ANY 8-byte ADC code can order; LSH/IVF keep full vectors and hold
    // 0.9 at both scales. The documented recovery lever is RERANK DEPTH
    // (exact rerank never reorders what the candidate pass surfaces):
    // round 7 moved the 20x operating point 1024→2048, measured ivfpq
    // 0.700→0.844, and raised its floor 0.65→0.8 accordingly (the
    // rerank-starvation diagnosis, applied; the OPQ transforms measured
    // recall-neutral here — see the aniso row below). Residual codes
    // stay ahead of global codes at equal budget, hence ivfPqTopK's
    // higher floor.
    for ((tag, n, nlist, nprobe, rerank, sample, pqIvfFloor, pqFlatFloor) <-
        Seq(("1x", 5000, 64, 16, 256, 4096, 0.9, 0.9),
          ("20x", 100000, 256, 64, 2048, 16384, 0.8, 0.55))) {
      val t0 = System.nanoTime()
      val (lsh, ivf, pq, ivfpq) = measure(spark,
        clusteredFixture(spark, n, dim), queryFixture(spark, nq, dim), dim, k,
        nlist, nprobe, rerank, sample)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"===== ann-recall [$tag] corpus=$n%-6d queries=$nq k=$k " +
        f"lsh=$lsh%.3f ivf=$ivf%.3f pq=$pq%.3f ivfpq=$ivfpq%.3f wall=$sec%.1fs")
      if (assertFloor) {
        assert(lsh >= 0.9, f"LSH recall@$k regressed to $lsh%.3f at $tag")
        assert(ivf >= 0.9, f"IVF recall@$k regressed to $ivf%.3f at $tag")
        assert(ivfpq >= pqIvfFloor,
          f"IVFPQ recall@$k regressed to $ivfpq%.3f at $tag (floor $pqIvfFloor%.2f)")
        assert(pq >= pqFlatFloor,
          f"flat-PQ recall@$k regressed to $pq%.3f at $tag (floor $pqFlatFloor%.2f)")
      }
    }
    // OPQ A/B on an anisotropic spectrum (decay 0.93 — variance
    // concentrated in the low coordinates, the realistic embedding
    // shape). Measured conclusion, pinned here so it cannot silently
    // drift: on these margin-starved fixtures candidate ordering is
    // RERANK-bound for ANY 8-byte code — plain, rotated, and balanced
    // codes recall within noise of each other (sweeps at decay
    // 0.7/0.8/0.9/0.93 × rerank 64..512 all within ±0.06) — so the
    // recall floors live on the rerank axis (rows above), not on the
    // transform. The transform's own gate is DISTORTION: Balance cuts
    // mean reconstruction error materially on decaying spectra
    // (SimilaritySpec asserts the cut). Here we assert only that no
    // mode DEGRADES recall beyond measurement noise.
    {
      import graft.operators.Similarity.OpqMode
      val (n, nlist, nprobe, rerank, sample) = (20000, 64, 16, 512, 8192)
      val c = clusteredFixture(spark, n, dim, decay = 0.93).cache()
      val q = queryFixture(spark, nq, dim, decay = 0.93).cache()
      val t0 = System.nanoTime()
      val plain = measureIvfPq(c, q, dim, k, nlist, nprobe, rerank, sample,
        OpqMode.Off)
      val bal = measureIvfPq(c, q, dim, k, nlist, nprobe, rerank, sample,
        OpqMode.Balance)
      val rot = measureIvfPq(c, q, dim, k, nlist, nprobe, rerank, sample,
        OpqMode.Rotate(7L))
      // the Ge alternation (rotation + codebooks co-trained, monotone in
      // sample distortion from the Balance init)
      val lrn = measureIvfPq(c, q, dim, k, nlist, nprobe, rerank, sample,
        OpqMode.Learned(6))
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"===== ann-recall [aniso] corpus=$n queries=$nq k=$k " +
        f"ivfpq=$plain%.3f ivfpq_balance=$bal%.3f ivfpq_rotate=$rot%.3f " +
        f"ivfpq_learned=$lrn%.3f wall=$sec%.1fs")
      // the DEEP operating point the round-9 rerank curve exposed:
      // rerank 1024 recovers the starved recall (measured 0.968 vs
      // 0.696 at 512) — asserted so the headroom cannot regress
      val deep = measureIvfPq(c, q, dim, k, nlist, nprobe, 1024, sample,
        OpqMode.Learned(6))
      println(f"===== ann-recall [aniso deep] rerank=1024 " +
        f"ivfpq_learned=$deep%.3f")
      // the AUTO depth through the PERSISTENT index: probePq(rerank = 0)
      // reads live_rows off the stored _health row and sizes the depth
      // itself (recommendedRerank) — the engine must land on the flat
      // shoulder with no hand-passed constant
      val wh = new graft.engine.Warehouse(spark,
        java.nio.file.Files.createTempDirectory("annrecall-auto").toString)
      graft.operators.IvfIndex.buildPq(wh, c, "vec_id", "embedding", dim,
        nlist = nlist, m = 8, ksub = 256, sampleSize = sample,
        name = "aniso_pq", opq = OpqMode.Learned(6))
      val exact = Similarity.bruteForceTopK(c, q, "vec_id", "embedding", k)
        .localCheckpoint()
      val auto = Similarity.recallAtK(
        graft.operators.IvfIndex.probePq(wh, q, c, "vec_id", "embedding",
          "aniso_pq", k = k, nprobe = nprobe, rerank = 0), exact, k)
      println(f"===== ann-recall [aniso auto] rerank=auto " +
        f"ivfpq_learned=$auto%.3f")
      c.unpersist(); q.unpersist()
      if (assertFloor) {
        assert(bal >= plain - 0.1 && rot >= plain - 0.1,
          f"an OPQ mode degraded recall beyond noise: " +
            f"plain=$plain%.3f balance=$bal%.3f rotate=$rot%.3f")
        // the learned mode's ASSERTED aniso floor (round-7 verdict ask:
        // the 0.696 informational row, promoted) — pinned just under the
        // measured value at THIS operating point (rerank 512)
        assert(lrn >= AnisoLearnedFloor,
          f"learned-OPQ aniso recall regressed to $lrn%.3f " +
            f"(floor $AnisoLearnedFloor%.2f)")
        assert(deep >= AnisoLearnedDeepFloor,
          f"learned-OPQ deep-rerank recall regressed to $deep%.3f " +
            f"(floor $AnisoLearnedDeepFloor%.2f)")
        assert(auto >= AnisoAutoFloor,
          f"the AUTO rerank depth starved recall to $auto%.3f " +
            f"(floor $AnisoAutoFloor%.2f) — probePq(rerank = 0) must " +
            "reproduce the deep operating point from stored evidence")
      }
    }
  }

  /** Rerank-depth vs recall curve for learned OPQ on the anisotropic
    * fixture (round-8 verdict ask 5): COVERAGE claims the learned
    * operating point is RERANK-bound — this measures the trade-off
    * directly so the 0.69 floor is tied to a curve, not a single
    * reading. Everything but the rerank depth is the aniso A/B's exact
    * setup (20k corpus, decay 0.93, nprobe 16). Run with
    * `runMain graft.tools.AnnRecall rerank-curve`; results are recorded
    * in docs/BENCH_NOTES.md. */
  def rerankCurve(spark: SparkSession): Unit = {
    import graft.operators.Similarity.OpqMode
    val (dim, k, nq) = (64, 5, 50)
    val (n, nlist, nprobe, sample) = (20000, 64, 16, 8192)
    val c = clusteredFixture(spark, n, dim, decay = 0.93).cache()
    val q = queryFixture(spark, nq, dim, decay = 0.93).cache()
    for (rerank <- Seq(64, 128, 192, 256, 384, 512, 1024, 2048)) {
      val t0 = System.nanoTime()
      val lrn = measureIvfPq(c, q, dim, k, nlist, nprobe, rerank, sample,
        OpqMode.Learned(6))
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"===== rerank-curve [aniso learned] rerank=$rerank%-5d " +
        f"recall@$k=$lrn%.3f wall=$sec%.1fs")
    }
    c.unpersist(); q.unpersist()
  }
}
