package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.{Exec, JoinPolicy, Warehouse}

/** The maintenance DECISION for a persistent index ([[TextIndex]],
  * [[IvfIndex]]) — what an evidence-driven policy recommends doing now.
  *
  * Both indexes have had the maintenance MECHANICS (tombstoning
  * `delete`/`reindex`, tombstone-GC `compact`, retraining rebuilds) since
  * round 8; this type closes the POLICY level: `maintenanceAdvice` reads
  * STORED evidence only (tombstone mass from the `_deletes` companion vs
  * live doclen/entry counts, cell-occupancy skew vs `_centroids`, the
  * byte mass of `_deletes` itself) and returns one of these three, so a
  * nightly job can run `maintain()` on every index and pay a rewrite
  * only when the evidence says the index needs one.
  *
  * The companion also owns the machinery both indexes share
  * ([[IndexAdvice.Tombstoned]]): generation frontiers, `_deletes` cuts,
  * the census-stamped `_health` sidecar, and the policy ranking.
  */
sealed trait IndexAdvice

object IndexAdvice {

  /** A delete's health fold runs only when the tombstone batch is at
    * least 1/this of the index's generations (doclen rows / entries) —
    * below that, the fold's column-pruned delta scan per call costs more
    * than the single re-measure the stale stamp defers to (see
    * [[Tombstoned.deleteAt]]). */
  val MinDeleteFoldRatio = 10000L

  /** Compaction trigger: compact when at least this fraction of the
    * index's generations are tombstone-dead (dead rows still occupy
    * partition directories and every search's cuts join). */
  val DefaultMaxDeadFraction = 0.25

  /** Tombstone-bloat trigger: compact when the `_deletes` companion's
    * bytes reach this fraction of the data bytes — the rail for
    * corpus-shaped tombstone growth, which inflates every search's cuts
    * join even when the DEAD mass is low (many tombstones over few
    * generations). */
  val DefaultMaxTombstoneBloat = 0.5

  /** Rebuild trigger: LIVE mass in the hottest partition (text hash
    * bucket, IVF cell) vs the live mean. The frozen layout's pruning
    * premise is that mass spreads roughly evenly over its partition
    * directories; past this ratio a search's pruned partitions stop
    * bounding its work, and compaction cannot fix that — only a
    * re-bucket/re-train can. Dead mass counts toward the Compact axis,
    * never toward skew, so hot-id churn cannot wedge the policy on
    * Rebuild advice that suppresses the compaction curing it. Measured
    * on the synthetic docs corpus: natural Zipfian skew reads ~2.5 (64
    * buckets) / ~1.9 (8 buckets); a planted 4-term dominant drift reads
    * 3.7-6.6. 8× leaves natural Zipf and k-means' natural imbalance
    * alone and fires on genuine dominance. */
  val DefaultMaxSkew = 8.0

  /** Evidence within thresholds — do nothing. */
  case object Healthy extends IndexAdvice

  /** Enough tombstoned mass (or tombstone-file bloat) to be worth the
    * index-sized rewrite: run `compact()`. Executable by `maintain()` —
    * compaction needs nothing but the index itself. */
  case object Compact extends IndexAdvice

  /** Structural drift a compaction cannot fix (cell occupancy skewed
    * far past the trained layout): re-train/re-bucket. `maintain()`
    * SURFACES this by default and EXECUTES it with
    * `executeRebuild = true` — `TextIndex.rebuild` re-buckets the live
    * postings at a granularity chosen from the stored occupancy
    * evidence, `IvfIndex.rebuild` re-trains the plain-vector layout
    * from its own live entries at observed mass. Only a coded (PQ)
    * layout still needs the caller (its codes cannot re-train a
    * quantizer — re-run `buildPq` over the corpus). */
  case object Rebuild extends IndexAdvice

  /** One metadata-only pass over an index's resolved version directory:
    * file count and bytes, split into data files (postings / coded
    * entries), the `_deletes` tombstone companion, and everything else
    * (doclen, centroids, codebooks, manifests). The stored health row
    * (`_health`, excluded here by prefix together with the
    * `_health.<rand>.tmp` of a write in flight or cut by a crash, so
    * writing it never moves its own census) is stamped with (nFiles,
    * totalBytes, maxMtime) and withdrawn the moment any file changes —
    * the same freshness discipline as the sketch-stats catalog, so
    * advice can never be served from
    * pre-maintenance evidence. `maxMtime` (the newest file's
    * modification time) closes the byte-alias hole a two-field stamp
    * left open: a foreign rewrite that lands the identical file count
    * AND byte total still moves the stamp. Listing is proportional to
    * file COUNT, never data size: "index health without scanning" at
    * 100 TB.
    */
  final case class Census(nFiles: Long, totalBytes: Long, dataBytes: Long,
                          deletesBytes: Long, maxMtime: Long) {
    /** The freshness stamp — what caches and sidecars compare. */
    def stamp: (Long, Long, Long) = (nFiles, totalBytes, maxMtime)
  }

  /** Explicit shuffle-partition count for writer-side clustering — a
    * bare `repartition(col)` invites AQE to coalesce a byte-small
    * exchange to ONE partition, serializing the write at scale. Shared
    * by both index families' build/append/compact writers. */
  private[operators] def shufflePartitions(wh: Warehouse): Int =
    wh.spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** Read-through for a per-version artifact cache keyed by a path inside
    * an index version dir. The artifacts are immutable within a version,
    * so `load` runs once per version dir; a rebuild resolves to a new dir
    * and therefore a fresh entry. BOUNDED: inserting a key first evicts
    * the same table's retired-version keys (its other keys under
    * `…/_versions/`), so a long-lived driver that rebuilds or compacts
    * many indexes never leaks entries. The eviction runs outside any
    * compute function, so the map never mutates re-entrantly; a racing
    * thread at worst re-loads one bounded artifact. */
  private[operators] def versionCached[V <: AnyRef](
      cache: java.util.concurrent.ConcurrentHashMap[String, V],
      key: String)(load: => V): V = {
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      val v = load
      val i = key.indexOf("/_versions/")
      val prefix = if (i < 0) key else key.substring(0, i) + "/_versions/"
      cache.keySet.removeIf(k => k != key && k.startsWith(prefix))
      cache.put(key, v)
      v
    }
  }

  /** Partition count for a metadata-scale companion write (tombstones,
    * per-batch doclen rows): ONE file while the set is small — these
    * dirs are listed by every search/probe, so a file per shuffle
    * partition per maintenance call is the failure mode — and multiple
    * bounded writers past that, so no single task ever carries a write
    * that grows with the corpus (AQE's coalescing can't be used here:
    * with parallelismFirst it keeps ~default-parallelism partitions
    * even for kilobyte sets). 500k rows/writer ≈ 10-15 MB parquet. */
  private[operators] def companionShards(n: Long): Int =
    if (n <= 50000L) 1 else math.max(2L, n / 500000L + 1L).toInt

  /** Write a metadata-scale sidecar (health evidence) as ONE
    * driver-written file — no Spark job, no commit protocol, no task
    * scheduling. The maintenance composites are fixed-overhead bound
    * (q204: 122 jobs for milliseconds of real work), and every health
    * fold previously paid TWO coalesce(1) parquet write jobs; a bounded
    * ≤nlist-row evidence table does not need an executor. Written
    * through [[Warehouse.atomicWrite]]: a crash leaves the old sidecar
    * whole beside a hidden `_health.<rand>.tmp` (which [[census]] skips
    * with the sidecar), so readers see old evidence — stale by its
    * stamp, so re-measured — or new, never a torn file. */
  private[operators] def writeSidecar(wh: Warehouse, path: String,
                                      body: String): Unit =
    wh.atomicWrite(new Path(path), body)

  /** Read a sidecar written by [[writeSidecar]]; None when absent. Raw
    * (checksum-free) like the write, so a stale `.crc` an older
    * checksummed writer left beside it can never fail the read. */
  private[operators] def readSidecar(wh: Warehouse,
                                     path: String): Option[String] =
    wh.atomicRead(new Path(path))

  /** Copy the immutable artifacts `names` (files or dirs, absent ones
    * skipped) of version dir `from` into the unswapped version dir `to`
    * — a raw FILE copy, not a Spark read/write round-trip, so carrying a
    * frozen layout (IVF centroids, codebooks, rotation; the text
    * `_layout` marker) across a compaction costs zero jobs. */
  private[operators] def copyForward(wh: Warehouse, from: String, to: String,
                                     names: Seq[String]): Unit =
    names.foreach { n =>
      val src = new Path(s"$from/$n")
      val fs = src.getFileSystem(wh.spark.sessionState.newHadoopConf())
      if (fs.exists(src))
        org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, new Path(s"$to/$n"),
          false, wh.spark.sessionState.newHadoopConf())
    }

  private[operators] def census(wh: Warehouse, name: String): Census = {
    val base = new Path(wh.dataPath(name))
    val fs = base.getFileSystem(wh.spark.sessionState.newHadoopConf())
    val it = fs.listFiles(base, true)
    var n = 0L; var total = 0L; var data = 0L; var dels = 0L
    var mtime = 0L
    val prefix = base.toUri.getPath
    while (it.hasNext) {
      val s = it.next()
      val rel = s.getPath.toUri.getPath.stripPrefix(prefix)
      if (!rel.startsWith("/_health")) {
        n += 1; total += s.getLen
        if (s.getModificationTime > mtime) mtime = s.getModificationTime
        if (rel.startsWith("/_deletes")) dels += s.getLen
        // a data file lives under no underscore-prefixed dir and is not
        // itself underscore-named (_SUCCESS)
        else if (!rel.split('/').exists(_.startsWith("_"))) data += s.getLen
      }
    }
    Census(n, total, data, dels, mtime)
  }

  /** What an index family's `_health` sidecar measures beyond the census
    * stamp: live and tombstone-dead generations (the Compact axis) and
    * the live occupancy skew over its partitions (the Rebuild axis). */
  private[operators] trait Evidence {
    def liveRows: Long
    def deadRows: Long
    def skew: Double
    final def deadFraction: Double =
      if (liveRows + deadRows == 0L) 0.0
      else deadRows.toDouble / (liveRows + deadRows)
  }

  /** Evidence as persisted: stamped with the census it was measured or
    * folded against ((nFiles, totalBytes, maxMtime) — the freshness key),
    * plus that census' byte split for the tombstone-bloat axis. */
  private[operators] final case class Snapshot[E](nFiles: Long,
      totalBytes: Long, maxMtime: Long, deletesBytes: Long, dataBytes: Long,
      evidence: E) {
    def stamp: (Long, Long, Long) = (nFiles, totalBytes, maxMtime)
  }

  /** The tombstoned-index core shared by [[TextIndex]] and [[IvfIndex]]:
    * rows carry a generation `seq`, deletion appends (id, cut) rows to a
    * `_deletes` companion inside the version dir, and every read drops a
    * row whose id carries a cut ABOVE its generation. Health evidence is
    * a census-stamped `_health` sidecar that mutations fold into while it
    * is fresh, and the Healthy/Compact/Rebuild policy reads it back.
    *
    * An index family supplies only what differs: its `_deletes` id
    * column (`idCol`), the frame its generation frontier is scanned from,
    * its health measure and sidecar payload, and its compact/rebuild
    * bodies. Single-maintainer contract, like every index write here:
    * concurrent mutators would fold against each other's censuses and
    * one fold would lose — the loser's stamp then reads stale and the
    * next advice re-measures, so a race degrades to a re-scan, never to
    * wrong advice. */
  private[operators] abstract class Tombstoned[E <: Evidence](
      idCol: String) {

    /** The frame whose highest `seq` is the generation frontier. */
    protected def frontierSource(wh: Warehouse, name: String): DataFrame

    /** The ids the index holds, as one `idCol` column — the gate that
      * keeps a reindex of brand-new ids from writing tombstones. */
    protected def existingIds(wh: Warehouse, name: String): DataFrame

    /** The bounded health re-measure (a column-pruned pass, never a
      * vector/token read). */
    protected def measure(wh: Warehouse, name: String): E

    /** `pre` with the rows of `tomb` that are live under the CURRENT
      * cuts moved to dead — run before the tombstone write lands. */
    protected def foldDeletes(wh: Warehouse, name: String, pre: E,
                              tomb: DataFrame): E

    /** The sidecar lines after the census stamp. */
    protected def renderEvidence(s: Snapshot[E]): String

    /** Inverse of [[renderEvidence]]; may throw on a malformed body. */
    protected def parseEvidence(kv: Map[String, String]): E

    /** The one-row health frame the public `analyzeHealth`/`readHealth`
      * return. */
    protected def healthRow(wh: Warehouse, s: Snapshot[E]): DataFrame

    protected def fs(wh: Warehouse, p: Path) =
      p.getFileSystem(wh.spark.sessionState.newHadoopConf())

    private def key(wh: Warehouse, name: String) = s"${wh.root}/$name"

    /** Census-stamped cache of the generation frontier, keyed by table
      * path: the scan stays the source of truth — an entry is served
      * ONLY while the version dir's file census is identical to the
      * stamp, so any foreign mutation misses to a re-scan — but the
      * mutation paths THIS driver runs know the frontier they just wrote
      * and re-stamp it, turning the per-mutation frontier scan into a
      * metadata listing. */
    private val seqCache = new java.util.concurrent.ConcurrentHashMap[
      String, ((Long, Long, Long), Long)]() // path -> (census stamp, maxSeq)

    protected def stampSeq(wh: Warehouse, name: String,
                           maxSeq: Long): Unit =
      seqCache.put(key(wh, name), (census(wh, name).stamp, maxSeq))

    /** The next generation: one past the highest `seq` the frontier
      * source carries — derived from the data itself (a side counter
      * file could drift after a crash, the data cannot), served from
      * [[seqCache]] when nothing changed since this driver last wrote or
      * scanned the frontier. */
    protected def nextSeq(wh: Warehouse, name: String): Long = {
      val c = census(wh, name)
      val hit = seqCache.get(key(wh, name))
      if (hit != null && hit._1 == c.stamp)
        hit._2 + 1L
      else {
        val r = frontierSource(wh, name).agg(max(col("seq"))).head()
        val m = if (r.isNullAt(0)) -1L else r.getLong(0)
        seqCache.put(key(wh, name), (c.stamp, m))
        m + 1L
      }
    }

    /** `df` left-joined with the per-id max cut (`__cut`) of the
      * `_deletes` companion under `dir`, its id renamed to `idAs`; None
      * when `dir` holds no tombstones. Reading the cuts from INSIDE a
      * resolved version dir extends a probe's snapshot consistency to
      * them. The deletes side is usually tiny (a re-crawl batch) but can
      * grow corpus-shaped over an index's life, so the join is
      * gate-checked, never force-broadcast. */
    protected def withCuts(wh: Warehouse, dir: String, df: DataFrame,
                           idAs: String): Option[DataFrame] = {
      val dp = new Path(s"$dir/_deletes")
      if (!fs(wh, dp).exists(dp)) None
      else {
        val cuts = wh.spark.read.parquet(dp.toString)
          .groupBy(col(idCol).as(idAs)).agg(max(col("cut")).as("__cut"))
        Some(df.join(JoinPolicy.broadcastIfSmall(cuts), Seq(idAs), "left"))
      }
    }

    /** Over a [[withCuts]] frame: the row is tombstoned. */
    protected def deadUnderCut: Column =
      col("__cut").isNotNull && col("seq") < col("__cut")

    /** Drop tombstoned rows: a row survives unless a `_deletes` entry for
      * its id carries a cut ABOVE its generation (`seq < cut` dies — the
      * generation a reindex appends carries `seq == cut` and lives). */
    protected def liveOnly(wh: Warehouse, dir: String, df: DataFrame,
                           idAs: String = idCol): DataFrame =
      withCuts(wh, dir, df, idAs).fold(df)(
        _.filter(col("__cut").isNull || col("seq") >= col("__cut"))
          .drop("__cut"))

    /** Tombstone write at an already-resolved cut: every row any of
      * `ids` (one `idCol` column) wrote SO FAR stops matching, at
      * metadata cost — nothing is rewritten, and rows a LATER append adds
      * for the same id are untouched. With `onlyExisting` the id set
      * first semi-joins against [[existingIds]] and skips the write when
      * nothing survives: a reindex stream of mostly-NEW ids then grows no
      * `_deletes` at all, instead of one useless tombstone file-pair per
      * micro-batch that every future search's cuts join would pay for. */
    protected def deleteAt(wh: Warehouse, ids: DataFrame, name: String,
                           cut: Long, onlyExisting: Boolean): Unit = {
      val base = ids.distinct()
      // the tombstone count rides the pinning job (Observation) — no
      // separate count() job per mutation
      val (toTomb, n) = Exec.materializeCounted(
        if (!onlyExisting) base
        else base.join(existingIds(wh, name), Seq(idCol), "left_semi"))
      if (n > 0L) {
        // fold health only while it is fresh AND the batch is big enough
        // to earn the delta scan: a re-crawl stream of micro-batches each
        // under 1/MinDeleteFoldRatio of the index stales the stamp
        // instead (one re-measure per advice consultation), a bulk purge
        // folds and keeps advice at metadata cost. Ceil division, not
        // `n * ratio >= total`: the product overflows Long past ~9.2e14
        // ids, and a truncated quotient rounds the gate DOWN. The deltas
        // must count rows live under the CURRENT cuts (the new cut would
        // make them all read dead), so they run before the write.
        val folded = freshEvidence(wh, name).filter { e =>
          n >= (e.liveRows + e.deadRows + MinDeleteFoldRatio - 1) /
            MinDeleteFoldRatio
        }.map(foldDeletes(wh, name, _, toTomb))
        // validate the cached frontier against the PRE-write census: a
        // foreign write landing between the caller's nextSeq() and here
        // must invalidate, not be absorbed under the fresh post-write
        // census with a stale maxSeq (a too-low frontier makes a later
        // delete cut miss newer generations)
        val preWrite = census(wh, name)
        // size-aware file-in: a small tombstone batch lands as ONE file
        // (every search's cuts join lists this dir), a corpus-shaped
        // delete set keeps bounded multi-task writers
        toTomb.withColumn("cut", lit(cut))
          .repartition(companionShards(n))
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(s"${wh.dataPath(name)}/_deletes")
        folded.foreach(persistHealth(wh, name, _, census(wh, name)))
        // the tombstone write moved the census but not the frontier —
        // re-stamp a cached value so the next nextSeq stays job-free
        val prev = seqCache.get(key(wh, name))
        if (prev != null && prev._1 == preWrite.stamp)
          stampSeq(wh, name, prev._2)
        else if (prev != null) seqCache.remove(key(wh, name))
      }
    }

    /** Land an append batch and, when stored health is FRESH (`pre`),
      * fold the batch's per-partition row counts into it so the append
      * costs health a batch-sized aggregate, not the staleness that
      * forces the next advice into a re-scan (an append adds only live
      * generations). The batch is pinned only when a fold will consume
      * it twice (write + count). */
    protected def appendFolding(wh: Warehouse, name: String, pre: Option[E],
                                batch: DataFrame, partCol: String)(
        fold: (E, Map[Int, Long]) => E): Unit = {
      val landed = if (pre.isDefined) Exec.materialize(batch) else batch
      wh.append(landed, name)
      pre.foreach { e =>
        val delta = landed.groupBy(col(partCol))
          .agg(count(lit(1)).as("n")).collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        persistHealth(wh, name, fold(e, delta), census(wh, name))
      }
    }

    private def healthPath(wh: Warehouse, name: String) =
      s"${wh.dataPath(name)}/_health"

    /** Driver-side snapshot of the last health evidence THIS driver
      * persisted or adopted, keyed by table path and validated by the
      * census stamp: per-mutation evidence reads cost one metadata
      * listing and zero Spark jobs while nothing changed; any file
      * change (including another driver's) moves the stamp and misses
      * to disk, so the cache never serves stale evidence. */
    private val healthCache =
      new java.util.concurrent.ConcurrentHashMap[String, Snapshot[E]]()

    /** TEST HOOK: drop every driver-side evidence cache (health
      * snapshots, seq frontier) — simulates a fresh driver against the
      * same stored index, forcing the sidecar-parse and frontier-rescan
      * paths. */
    private[operators] def forgetDriverState(): Unit = {
      healthCache.clear()
      seqCache.clear()
    }

    /** Serialize/parse the `_health` sidecar — one driver-written
      * key=value file ([[writeSidecar]]): health folds run on every index
      * mutation, and bounded evidence needs no parquet write job. */
    private def render(s: Snapshot[E]): String =
      s"v=3\nn_files=${s.nFiles}\ncensus_bytes=${s.totalBytes}\n" +
        s"census_mtime=${s.maxMtime}\n" + renderEvidence(s)

    /** Try-wrapped end to end: a structurally bad sidecar (missing key,
      * malformed entry, non-numeric value — a torn or foreign write)
      * reads as None and triggers the bounded re-measure, never a
      * maintenance crash. A v!=3 version reads as stale the same way. */
    private def parse(body: String): Option[Snapshot[E]] =
      scala.util.Try {
        val kv = body.linesIterator.map(_.split("=", 2))
          .collect { case Array(k, v) => k -> v }.toMap
        if (!kv.get("v").contains("3")) None
        else Some(Snapshot(kv("n_files").toLong, kv("census_bytes").toLong,
          kv("census_mtime").toLong, kv("deletes_bytes").toLong,
          kv("data_bytes").toLong, parseEvidence(kv)))
      }.toOption.flatten

    /** Persist `e` stamped with census `c` and cache it. The census
      * excludes `/_health` paths, so persisting never stales the stamp
      * it carries; the snapshot IS what was stored — no read-back. */
    protected def persistHealth(wh: Warehouse, name: String, e: E,
                                c: Census): Snapshot[E] = {
      val snap = Snapshot(c.nFiles, c.totalBytes, c.maxMtime,
        c.deletesBytes, c.dataBytes, e)
      writeSidecar(wh, healthPath(wh, name), render(snap))
      healthCache.put(key(wh, name), snap)
      snap
    }

    /** The health snapshot iff fresh for census `c`: the driver cache
      * when its stamp matches, else the parsed `_health` sidecar when ITS
      * stamp matches (another driver's fold — adopt it into the cache),
      * else None (stale/absent — caller re-measures). */
    protected def freshSnapshot(wh: Warehouse, name: String,
                                c: Census): Option[Snapshot[E]] = {
      val hit = healthCache.get(key(wh, name))
      if (hit != null && hit.stamp == c.stamp)
        Some(hit) // one listing, zero Spark jobs, zero reads
      else
        readSidecar(wh, healthPath(wh, name)).flatMap(parse)
          .filter(_.stamp == c.stamp)
          .map { s => healthCache.put(key(wh, name), s); s }
    }

    /** The stored evidence a fold starts from, only when fresh for the
      * current census. One metadata listing, zero Spark jobs. */
    protected def freshEvidence(wh: Warehouse, name: String): Option[E] =
      freshSnapshot(wh, name, census(wh, name)).map(_.evidence)

    /** Re-measure and persist against census `c`. */
    protected def measureHealth(wh: Warehouse, name: String,
                                c: Census): Snapshot[E] =
      persistHealth(wh, name, measure(wh, name), c)

    /** The body of the public `analyzeHealth`. */
    protected def analyze(wh: Warehouse, name: String): DataFrame =
      healthRow(wh, measureHealth(wh, name, census(wh, name)))

    /** The body of the public `readHealth`: None when never analyzed on
      * this version or STALE. The census runs only when a `_health`
      * sidecar exists to check. */
    protected def storedHealth(wh: Warehouse,
                               name: String): Option[DataFrame] = {
      val hp = new Path(healthPath(wh, name))
      if (!fs(wh, hp).exists(hp)) None
      else freshSnapshot(wh, name, census(wh, name)).map(healthRow(wh, _))
    }

    /** The maintenance POLICY, from stored evidence only — the fresh
      * `_health` snapshot when one exists (metadata cost), a bounded
      * re-measure otherwise (which persists, so the next call is
      * metadata again). Ranked: skew past `maxSkew` advises Rebuild
      * (structural — compaction cannot fix it); otherwise dead mass or
      * tombstone byte bloat past threshold advises Compact; otherwise
      * Healthy. */
    protected def advise(wh: Warehouse, name: String,
                         maxDeadFraction: Double, maxTombstoneBloat: Double,
                         maxSkew: Double): IndexAdvice = {
      val c = census(wh, name) // ONE listing, shared
      val s = freshSnapshot(wh, name, c)
        .getOrElse(measureHealth(wh, name, c))
      if (s.evidence.skew >= maxSkew) Rebuild
      else if (s.evidence.deadFraction >= maxDeadFraction ||
          (s.dataBytes > 0L &&
            s.deletesBytes.toDouble / s.dataBytes >= maxTombstoneBloat))
        Compact
      else Healthy
    }

    /** [[advise]], then act on it: Compact runs `compact`; Rebuild runs
      * `rebuild` only with `executeRebuild`. Returns the advice. */
    protected def maintainWith(wh: Warehouse, name: String,
                               maxDeadFraction: Double,
                               maxTombstoneBloat: Double, maxSkew: Double,
                               executeRebuild: Boolean)(
        compact: => Any, rebuild: => Any): IndexAdvice = {
      val a = advise(wh, name, maxDeadFraction, maxTombstoneBloat, maxSkew)
      if (a == Compact) compact
      else if (a == Rebuild && executeRebuild) rebuild
      a
    }
  }
}
