package graft.engine

import java.nio.charset.{CodingErrorAction, StandardCharsets}
import java.time.format.DateTimeFormatter
import java.time.{ZoneOffset, ZonedDateTime}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, MapType, StructField, StructType}

/** Table registry over a parquet directory tree — the Spark stand-in for
  * the reference's BigQuery dataset (SURVEY.md §1.1): named tables,
  * enumerable catalog, append / truncate-replace sinks, timestamped
  * backups before every mutation (reference: extract_table backups,
  * src/point_intercepts_update.py:378-400), and CSV import/export at the
  * edges.
  *
  * All catalog operations go through the Hadoop FileSystem API, so the
  * same code works whether `root` is a local path, `file:`, `hdfs://` or
  * an object store — the 100 TB deployment never touches `java.io.File`.
  *
  * Layout: `<root>/<table>/` parquet dir per table;
  * `<root>/_backups/<table>/<utc-timestamp>/` per backup. Tables that have
  * been atomically published ([[overwrite]]/[[merge]]/[[compact]]) keep
  * their data in `<root>/<table>/_versions/<version>/` behind a
  * `<root>/<table>/_current` manifest — see [[publish]].
  */
final class Warehouse(val spark: SparkSession, val root: String) {
  private def dir(name: String) = s"$root/$name"

  private def fs(p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  def exists(name: String): Boolean = {
    val p = new Path(dir(name))
    fs(p).exists(p)
  }

  // ── versioned publish: reader-safe table replacement ──────────────────
  //
  // Replacing parquet files in place leaves a window where a concurrent
  // reader lists a half-deleted, half-written directory. Published tables
  // instead keep every table state in an immutable
  // `<table>/_versions/<version>/` directory and resolve reads through a
  // one-line `<table>/_current` manifest. A publish writes a brand-new
  // version directory (old files are never touched, so deriving the new
  // state FROM the old table needs no staging copy) and then swaps the
  // manifest with an atomic rename — a reader sees the old table or the
  // new one, never a mixture. Old versions stay on disk until [[vacuum]],
  // so even a reader that resolved the manifest just before the swap
  // finishes its scan against intact files. Underscore-prefixed paths are
  // invisible to Spark's file listing, so the version tree never leaks
  // into a plain directory scan. Single WRITER per table remains the
  // contract (as in the reference); this makes READERS safe.

  private def manifestPath(name: String) = new Path(s"${dir(name)}/_current")

  /** Checksum-free view of the filesystem for manifest I/O. The local
    * ChecksumFileSystem shadows every file with a sidecar `.crc`, and a
    * two-file swap can never be atomic — the reader that caught the new
    * manifest beside the old `.crc` got a ChecksumException. The manifest
    * must live as ONE file: raw local I/O swaps it with a single POSIX
    * rename(2); HDFS/object-store filesystems are not checksum-wrapped
    * and pass through unchanged. */
  private def rawFs(p: Path): FileSystem = fs(p) match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  /** The published version id, if this table uses versioned layout. */
  def currentVersion(name: String): Option[String] =
    atomicRead(manifestPath(name)).map(_.trim).filter(_.nonEmpty)

  /** The directory a read of `name` resolves to: the current published
    * version when a manifest exists, the plain table dir otherwise.
    *
    * One subtlety: on filesystems where rename-with-overwrite is
    * delete-then-rename rather than a single atomic op (the local FS;
    * HDFS renames atomically), a reader can catch the microsecond window
    * where the manifest is absent mid-swap. That state is unambiguous —
    * versions exist but no manifest — so it retries briefly instead of
    * falling back to the (empty-looking) plain directory. A table that
    * never published has no `_versions` dir and resolves immediately.
    *
    * If the retry budget runs out with `_versions` present and no
    * manifest, the table is either mid-FIRST-publish (the version write
    * can take minutes; the pre-publish loose files are still the valid
    * state) or crashed mid-swap. Loose data files discriminate: with
    * them, read the plain dir; without them there is no valid state to
    * read and a silent empty scan would masquerade as an empty table —
    * fail loudly instead. */
  def dataPath(name: String): String = {
    val vroot = new Path(s"${dir(name)}/_versions")
    var attempts = 0
    while (true) {
      currentVersion(name) match {
        case Some(v) => return s"${dir(name)}/_versions/$v"
        case None =>
          if (!fs(vroot).exists(vroot)) return dir(name)
          attempts += 1
          if (attempts >= 100) {
            // files OR directories: a legacy hive-partitioned plain layout
            // keeps its data in `col=value/` subdirectories
            val loose = fs(vroot).listStatus(new Path(dir(name))).exists { st =>
              val n = st.getPath.getName
              !n.startsWith("_") && !n.startsWith(".")
            }
            if (loose) return dir(name) // first publish in flight
            throw new java.io.IOException(
              s"table '$name' has a _versions tree but no _current manifest " +
                "and no loose data files — either its FIRST publish is " +
                "still in flight (retry once it completes) or a publish " +
                "crashed mid-swap (restore the manifest or remove _versions)")
          }
          Thread.sleep(2)
      }
    }
    dir(name) // unreachable
  }

  /** Atomically publish `df` as the new content of `name`: write an
    * immutable version directory, then swap the manifest via rename.
    * Safe when `df` is derived from the current content of `name` itself
    * (merge/compact) — the new version is written beside, not over, the
    * files the plan is reading.
    *
    * With `partitionCols`, the version directory holds a hive-partitioned
    * tree, so a published table gets atomic replacement AND partition
    * pruning (`.explain` shows the predicate under `PartitionFilters`).
    * A `_partitioning` marker inside the version dir records the original
    * schema (DDL) and the partition columns; [[read]] uses it to restore
    * the exact pre-partitioning schema — column order and types — instead
    * of letting partition-value inference retype `year=2030` as int (or
    * corrupt a numeric-looking string value), and [[append]] uses it to
    * keep appends partition-aligned. The marker is written before the
    * manifest swap, so it is immutable alongside the data.
    *
    * `analyze = true` runs [[analyzeCatalog]] after the swap: the new
    * version's row/column statistics land in the session catalog so CBO
    * costs joins against fresh numbers instead of last week's.
    *
    * `beforeSwap` runs against the version directory after the data write
    * and BEFORE the manifest swap — the hook for companion artifacts
    * (index centroids, sidecar metadata) that must become visible
    * atomically WITH the data they describe; write them under an
    * underscore-prefixed path so scans never see them. */
  def publish(df: DataFrame, name: String,
              partitionCols: Seq[String] = Nil,
              analyze: Boolean = false,
              beforeSwap: String => Unit = _ => ()): String = {
    require(partitionCols.forall(df.columns.contains),
      s"publish '$name': partition columns ${partitionCols.filterNot(df.columns.contains)} not in ${df.columns.toSeq}")
    val version = newVersionId()
    val vdir = s"${dir(name)}/_versions/$version"
    if (partitionCols.isEmpty)
      df.write.mode(SaveMode.ErrorIfExists).parquet(vdir)
    else {
      df.write.mode(SaveMode.ErrorIfExists)
        .partitionBy(partitionCols: _*).parquet(vdir)
      val mk = new Path(s"$vdir/_partitioning")
      val out = rawFs(mk).create(mk, true)
      try out.write(
        (s"parts=${partitionCols.mkString(",")}\n" +
          s"schema=${df.schema.toDDL}\n").getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    beforeSwap(vdir)
    swapManifest(name, version)
    if (analyze) analyzeCatalog(name)
    version
  }

  /** Write `content` to `target` atomically: tmp file in the same
    * directory, then rename-over — the one way this engine replaces a
    * file in place (manifests, markers, views, index sidecars). A reader
    * never sees a partial or empty file — it sees the old content or the
    * new, nothing in between. Raw (checksum-free) I/O, so the target is
    * ONE file and no `.crc` beside it can disagree with it; read it back
    * with [[atomicRead]]. The tmp name `_<name minus one leading
    * underscore>.<rand>.tmp` is invisible to partition discovery, and a
    * hidden target's tmp shares its prefix (`_health` → `_health.<rand>
    * .tmp`), so a prefix rule that skips the target skips its tmp too. */
  private[graft] def atomicWrite(target: Path, content: String): Unit = {
    val f = rawFs(target)
    val tmp = new Path(target.getParent, s"_${target.getName.stripPrefix("_")}" +
      s".${scala.util.Random.nextInt(0x1000000)}.tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    f match {
      case _: org.apache.hadoop.fs.RawLocalFileSystem =>
        // POSIX rename(2): atomically replaces an existing destination
        if (!f.rename(tmp, target))
          throw new java.io.IOException(s"atomic write failed for $target")
      case _ =>
        // HDFS & friends: rename can't overwrite through the FileSystem
        // API; FileContext's Rename.OVERWRITE is the atomic primitive
        org.apache.hadoop.fs.FileContext
          .getFileContext(target.toUri, spark.sessionState.newHadoopConf())
          .rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** The content of a file written by [[atomicWrite]], through the same
    * checksum-free view; None when absent or a directory. */
  private[graft] def atomicRead(target: Path): Option[String] = {
    val f = rawFs(target)
    val isFile = try f.getFileStatus(target).isFile
      catch { case _: java.io.FileNotFoundException => false }
    if (!isFile) None
    else {
      val in = f.open(target)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** Atomically point the table's manifest at `version`. */
  private def swapManifest(name: String, version: String): Unit =
    atomicWrite(manifestPath(name), version)

  private def newVersionId(): String =
    ZonedDateTime.now(ZoneOffset.UTC)
      .format(DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmssSSS")) +
      f"-${scala.util.Random.nextInt(0x1000000)}%06x"

  /** Drop all but the newest `keep` published versions, plus any stale
    * pre-publish loose files still sitting in the table dir. The table
    * state that every version shares is kept whatever the window: the
    * `_current` manifest and the stream replay markers
    * (`_stream_promoted`, `_stream_attempt` — [[promoteStaged]] prunes
    * them itself).
    *
    * `olderThanMs` is the reader grace window: a retired version younger
    * than it is NEVER dropped, whatever `keep` says — a long-running
    * reader (a pinned [[streamingAppend]] source, a multi-hour scan) that
    * resolved its path before the latest publish keeps its files until
    * the window expires. The same window gates the loose-file cleanup,
    * so a root-pinned stream's landed batches survive while the stream
    * is alive. Set it to comfortably above the longest
    * scan/stream-restart interval; 0 trusts `keep` alone (and sweeps all
    * loose files — don't pass 0 while a root-pinned stream runs). */
  def vacuum(name: String, keep: Int = 1, olderThanMs: Long = 0L): Unit = {
    require(keep >= 1, "vacuum must keep at least the current version")
    require(olderThanMs >= 0L, "grace window must be >= 0")
    currentVersion(name).foreach { cur =>
      val vroot = new Path(s"${dir(name)}/_versions")
      val f = fs(vroot)
      val statuses = f.listStatus(vroot).toSeq.sortBy(_.getPath.getName)
      val versions = statuses.map(_.getPath.getName)
      val cutoff = System.currentTimeMillis() - olderThanMs
      // a version retires when its SUCCESSOR is published (it may have
      // been current — and pinnable by readers — for days before that),
      // so the grace clock starts at the successor's write time
      val young = versions.zipWithIndex.filter { case (_, i) =>
        statuses.drop(i + 1).headOption
          .map(_.getModificationTime).getOrElse(Long.MaxValue) > cutoff
      }.map(_._1).toSet
      // the current version is always retained, whatever its sort position
      val retained = (versions.takeRight(keep) :+ cur).toSet ++ young
      versions.filterNot(retained)
        .foreach(v => f.delete(new Path(s"${dir(name)}/_versions/$v"), true))
      // everything else in the table dir — loose legacy files from before
      // the first publish, checksum droppings, dead swap temps — is stale
      // ONCE THE GRACE WINDOW PASSES. The window must apply here too: a
      // streamingAppend pinned to the table root before its first publish
      // lands `stream-b*` files here, and deleting them ungated would
      // drop a live stream's batches
      f.listStatus(new Path(dir(name))).toSeq
        .filter { st =>
          !TableState(st.getPath.getName) && st.getModificationTime < cutoff
        }
        .foreach(st => f.delete(st.getPath, true))
    }
  }

  /** The entries of a table dir that are table state, not data: vacuum
    * never sweeps them. */
  private val TableState =
    Set("_versions", "_current", "_stream_promoted", "_stream_attempt")

  /** The `_partitioning` marker of the data directory, if present:
    * (partition columns, original full schema). */
  private def partitioningMarker(path: String): Option[(Seq[String], StructType)] =
    atomicRead(new Path(s"$path/_partitioning")).flatMap { body =>
      val lines = body.linesIterator.toList
      def valueOf(key: String) = lines.find(_.startsWith(s"$key="))
        .map(_.drop(key.length + 1))
      for (p <- valueOf("parts"); s <- valueOf("schema"))
        yield (p.split(",").toSeq, StructType.fromDDL(s))
    }

  /** The partition columns of the table's CURRENT data, if partitioned. */
  def partitioningOf(name: String): Seq[String] =
    partitioningMarker(dataPath(name)).map(_._1).getOrElse(Nil)

  def read(name: String): DataFrame = readPath(dataPath(name))

  /** All published versions of a table, oldest first (version ids sort
    * chronologically — they embed a UTC timestamp). Empty for tables in
    * plain (never-published) layout. */
  def listVersions(name: String): Seq[String] = {
    val vroot = new Path(s"${dir(name)}/_versions")
    val f = fs(vroot)
    if (!f.exists(vroot)) Seq.empty
    else f.listStatus(vroot).toSeq.map(_.getPath.getName).sorted
  }

  /** Time travel: read a specific published version (as listed by
    * [[listVersions]]) — any state that [[vacuum]] hasn't dropped yet is
    * queryable as-of. Caveat: [[append]] adds files INSIDE the current
    * version (appends are incremental, not publishes), so a version is
    * immutable only between publishes; snapshot-exact history requires
    * publishing instead of appending. */
  def readVersion(name: String, version: String): DataFrame =
    readPath(s"${dir(name)}/_versions/$version")

  /** Time travel by TIMESTAMP: the latest version published at or before
    * `utc` (version ids embed their UTC publish instant, so resolution is
    * a pure id comparison — no extra metadata to maintain or corrupt).
    * Loud when `utc` predates the oldest retained version: answering
    * from a later state would be silently wrong, and [[vacuum]] may have
    * dropped the right one. */
  def readAsOf(name: String, utc: java.time.Instant): DataFrame = {
    val stamp = ZonedDateTime.ofInstant(utc, ZoneOffset.UTC)
      .format(DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmssSSS"))
    val vs = listVersions(name).filter(_.take(stamp.length) <= stamp)
    require(vs.nonEmpty,
      s"readAsOf '$name': no version at or before $utc is retained " +
        s"(oldest: ${listVersions(name).headOption.getOrElse("none")})")
    readVersion(name, vs.max)
  }

  /** DESCRIBE HISTORY: one row per RETAINED version (vacuum prunes
    * history with the files) — publish instant parsed from the id, file
    * count and bytes read live from the version directory, current flag.
    * Driver-side metadata only; never scans data. */
  def history(name: String): DataFrame = {
    import spark.implicits._
    val cur = currentVersion(name)
    listVersions(name).map { v =>
      val (nf, bytes) = census(s"${dir(name)}/_versions/$v")
      val ts = java.time.LocalDateTime.parse(v.take(18),
        DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmssSSS"))
        .atZone(ZoneOffset.UTC)
      (v, java.sql.Timestamp.from(ts.toInstant), nf, bytes, cur.contains(v))
    }.toDF("version", "published_at", "n_files", "bytes", "is_current")
  }

  /** The declared schema of a data directory: its `_partitioning`
    * marker's (exact schema restore), else its `_evolved_schema` marker's
    * (deterministic union schema — footer sampling would answer with
    * whichever file Spark picked); None leaves the schema to inference. */
  private def declaredSchema(p: String): Option[StructType] =
    partitioningMarker(p).map(_._2).orElse(evolvedSchemaMarker(p))

  /** Read a concrete data directory — or only `files` of it, with
    * partition values restored via basePath — under its
    * [[declaredSchema]]: partition values parse as their ORIGINAL types
    * (no inference: `code=042` stays the string "042"), and the select
    * restores the declared column order (partition discovery would move
    * partition columns to the end). */
  private def readPath(p: String, files: Seq[String] = Nil): DataFrame = {
    val declared = declaredSchema(p)
    val reader = declared.fold(spark.read)(spark.read.schema)
    val df =
      if (files.isEmpty) reader.parquet(p)
      else reader.option("basePath", p).parquet(files: _*)
    declared.fold(df)(s => df.select(s.fieldNames.map(col).toSeq: _*))
  }

  /** Audit diff between two published versions of a table: one row per
    * key that was `added`, `removed`, or `changed` (same key, any non-key
    * column differing), with the key columns alongside. The reference's
    * symmetric-difference audit (J7/J8) extended along the version axis:
    * "what did last night's publish actually do?". One full-outer join on
    * the key — both sides shuffle-partition by it, nothing collects. */
  def diffVersions(name: String, oldVersion: String, newVersion: String,
                   keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "diff needs at least one key column")
    val o = readVersion(name, oldVersion)
    val n = readVersion(name, newVersion)
    require(o.columns.sameElements(n.columns),
      s"diffVersions '$name': schemas differ between versions " +
        s"(${o.columns.toSeq} vs ${n.columns.toSeq}) — diff keys/columns " +
        "are ambiguous across a schema change")
    val others = o.columns.filterNot(keys.contains).toSeq
    // row-level change detection via a struct equality (null-safe: <=> on
    // structs compares field-wise, null = null)
    def tagged(df: DataFrame, side: String) = {
      // all-key tables still need a non-null presence marker per side
      val v = if (others.isEmpty) lit(0) else struct(others.map(col): _*)
      df.select(keys.map(col) :+ v.as(s"__v_$side"): _*)
    }
    tagged(o, "old").join(tagged(n, "new"), keys, "full_outer")
      .withColumn("status",
        when(col("__v_old").isNull, lit("added"))
          .when(col("__v_new").isNull, lit("removed"))
          .when(!(col("__v_old") <=> col("__v_new")), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col("status") +: keys.map(col): _*)
  }

  /** Full-row change-data-capture feed between two published versions:
    * [[diffVersions]] with payloads. One row per inserted/deleted key
    * carrying that side's full payload; a changed key emits TWO rows —
    * `update_pre` (old payload) and `update_post` (new payload) — the
    * shape a downstream incremental consumer (a type-2 dimension via
    * [[Scd.merge]], a sync to another store, an audit log) replays
    * directly. Unchanged keys emit nothing.
    *
    * Contract: `keys` must uniquely identify rows in both versions (the
    * CDC notion of identity; duplicate keys would cross-join in the
    * match). Same one-full-outer-join scale shape as [[diffVersions]];
    * the two update rows come from a 4-slot array + explode on the
    * joined row, never a second join or a plan re-derivation. */
  def changeFeed(name: String, oldVersion: String, newVersion: String,
                 keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "change feed needs at least one key column")
    val o = readVersion(name, oldVersion)
    val n = readVersion(name, newVersion)
    require(o.columns.sameElements(n.columns),
      s"changeFeed '$name': schemas differ between versions " +
        s"(${o.columns.toSeq} vs ${n.columns.toSeq})")
    val others = o.columns.filterNot(keys.contains).toSeq
    def tagged(df: DataFrame, side: String) = {
      val v = if (others.isEmpty) struct(lit(0).as("__none"))
              else struct(others.map(col): _*)
      df.select(keys.map(col) :+ v.as(s"__v_$side"): _*)
    }
    val joined = tagged(o, "old").join(tagged(n, "new"), keys, "full_outer")
    val oldV = col("__v_old")
    val newV = col("__v_new")
    val changed = oldV.isNotNull && newV.isNotNull && !(oldV <=> newV)
    val entries = array(
      when(oldV.isNull, struct(lit("insert").as("_change"), newV.as("__p"))),
      when(newV.isNull, struct(lit("delete").as("_change"), oldV.as("__p"))),
      when(changed, struct(lit("update_pre").as("_change"), oldV.as("__p"))),
      when(changed, struct(lit("update_post").as("_change"), newV.as("__p"))))
    val exploded = joined.select(
      keys.map(col) :+ explode(filter(entries, e => e.isNotNull)).as("__e"): _*)
    exploded.select(
      keys.map(col) ++
        others.map(c => col("__e.__p").getField(c).as(c)) :+
        col("__e._change").as("_change"): _*)
  }

  def schemaOf(name: String): StructType = read(name).schema

  /** Total bytes of the table's CURRENT data files — read live from the
    * filesystem, so it never goes stale across appends/publishes. This is
    * the same signal Catalyst's size estimation uses, surfaced for
    * operational checks. */
  def tableSizeBytes(name: String): Long = {
    val p = new Path(dataPath(name))
    fs(p).getContentSummary(p).getLength
  }

  /** ANALYZE TABLE analogue: compute [[Quality.tableStats]] (row count,
    * nulls, distincts, min/max per column — one pass over one scan) and
    * persist it under `<root>/_stats/<name>` for later planning /
    * profiling reads. Join sizing itself does NOT depend on this —
    * [[readDim]]/[[JoinPolicy.broadcastIfSmall]] use live file-size
    * statistics — so skipping analyze costs nothing but the profile. */
  def analyze(name: String, cols: Seq[String] = Nil): Unit = {
    val df = read(name)
    val cs = if (cols.nonEmpty) cols else df.columns.toSeq
    Quality.tableStats(df, cs).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/_stats/$name")
  }

  /** Register `name` in the session catalog at its CURRENT data path and
    * run `ANALYZE TABLE … COMPUTE STATISTICS FOR ALL COLUMNS` — row count
    * and per-column NDV/min/max/null-count land in the catalog, which is
    * what `spark.sql.cbo.enabled` + `spark.sql.cbo.joinReorder.enabled`
    * read to cost-order multi-way joins (file sizes alone carry no row
    * counts or NDVs, so without this the join order stays as-written).
    * Re-run after each publish to point the catalog entry at the new
    * version. Query through [[tableCbo]] (= `spark.table`), which sees the
    * stats; plain [[read]] bypasses the catalog. */
  def analyzeCatalog(name: String): Unit = {
    val p = dataPath(name)
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    partitioningMarker(p) match {
      case Some((parts, schema)) =>
        // declare the marker schema — inference would retype partition
        // values (year=2030 → int) and silently diverge from read()
        val dataCols = schema.fields.filterNot(f => parts.contains(f.name))
        val colsDDL = (dataCols ++ parts.map(schema(_)))
          .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
        spark.sql(s"CREATE TABLE `$name` ($colsDDL) USING parquet " +
          s"PARTITIONED BY (${parts.map(c => s"`$c`").mkString(", ")}) " +
          s"LOCATION '$p'")
        spark.sql(s"ALTER TABLE `$name` RECOVER PARTITIONS")
      case None =>
        spark.sql(s"CREATE TABLE `$name` USING parquet LOCATION '$p'")
    }
    spark.sql(s"ANALYZE TABLE `$name` COMPUTE STATISTICS FOR ALL COLUMNS")
  }

  /** Catalog-backed read: same data as [[read]], plus the statistics
    * [[analyzeCatalog]] computed — the entry point for CBO-planned joins.
    * Catalog partitioned relations list partition columns LAST; the select
    * restores the table's original column order so this really is
    * read-with-stats, not a reordered cousin. */
  def tableCbo(name: String): DataFrame = {
    val t = spark.table(name)
    partitioningMarker(dataPath(name)) match {
      case Some((_, schema)) => t.select(schema.fieldNames.map(col).toSeq: _*)
      case None => t
    }
  }

  /** The stats persisted by [[analyze]], if any. */
  def statsOf(name: String): Option[DataFrame] = {
    val p = new Path(s"$root/_stats/$name")
    if (fs(p).exists(p)) Some(spark.read.parquet(s"$root/_stats/$name"))
    else None
  }

  /** Dimension-table read with the size-gated broadcast policy applied:
    * small tables come back broadcast-hinted, oversized ones demote to
    * shuffled joins automatically. */
  def readDim(name: String): DataFrame =
    JoinPolicy.broadcastIfSmall(read(name))

  /** S10: WRITE_APPEND — new files land in the current data directory.
    * Appends are incremental by nature (a reader mid-append sees the rows
    * that were already there plus any fully-written new files — never a
    * partial file, parquet writes are file-atomic via task temp files).
    *
    * The incoming schema must match the table's by name and type (order
    * doesn't matter — columns are aligned before the write). Parquet
    * would happily accept a drifted file and every later scan of the
    * table would fail or silently misread; rejecting at the write is the
    * only cheap place to catch it. */
  def append(df: DataFrame, name: String): Unit = {
    val aligned =
      if (!exists(name)) df else alignToSchema(df, schemaOf(name), name)
    val p = dataPath(name)
    // a bucketed table's files all follow its bucket spec BY ASSUMPTION —
    // Spark plans exchange-free joins on that promise, so a plain file
    // append would silently produce WRONG JOIN RESULTS, not a slow plan
    require(!isBucketedCatalogTable(name),
      s"append to '$name': the table is bucketed — append through " +
        "overwriteBucketed (rewrite) instead; loose files would violate " +
        "the bucket spec readers rely on")
    // appends into a partitioned published version stay partition-aligned —
    // unpartitioned files at the root of a hive tree would break discovery
    partitioningMarker(p).map(_._1) match {
      case Some(parts) =>
        aligned.write.mode(SaveMode.Append).partitionBy(parts: _*).parquet(p)
      case None => aligned.write.mode(SaveMode.Append).parquet(p)
    }
  }

  /** Schema-EVOLVING append — the ingest reality [[append]]'s strict gate
    * refuses: upstream added a field, or an old extract lacks one. Rules:
    *  - overlapping columns must type-match exactly (drift still rejected
    *    loudly — silent coercion corrupts);
    *  - columns the table has but the batch lacks are null-filled;
    *  - NEW columns ride along, and the table's union schema is recorded
    *    in a marker so every later [[read]] is DETERMINISTIC: without it,
    *    a plain parquet read samples one file's footer and an evolved
    *    directory would answer with whichever schema that file happened
    *    to have. Rows from files predating a column read as null.
    *
    * Layouts: flat tables record the union in an `_evolved_schema`
    * marker; hive-PARTITIONED published tables evolve too — their
    * `_partitioning` marker (already the declared-schema source of truth
    * for reads and partition-value typing) is rewritten with the union
    * schema, and the incoming batch must carry every partition column
    * (a null-filled partition value would silently land rows in the
    * hive default partition). Both markers are written ATOMICALLY
    * (tmp + rename-over) and BEFORE the data files: a crash between the
    * two leaves a marker naming not-yet-visible columns — harmless, they
    * read as null — never a mixed-schema directory with no marker.
    * Bucketed layouts evolve by REWRITE ([[appendEvolvedBucketed]]): the
    * bucket spec pins the file schema, so a loose evolved file cannot
    * ride along — the whole table re-buckets under the union schema.
    */
  def appendEvolved(df: DataFrame, name: String): Unit = {
    if (!exists(name)) { append(df, name); return }
    if (isBucketedCatalogTable(name)) { appendEvolvedBucketed(df, name); return }
    val p = dataPath(name)
    val partMarker = partitioningMarker(p)
    // the marker (not a sampled footer) is the source of truth once the
    // table has ever evolved — footer sampling is nondeterministic
    val expected = declaredSchema(p).getOrElse(schemaOf(name))
    val (out, union) = evolveAlign(df, expected, name)
    partMarker match {
      case Some((parts, _)) =>
        val missingParts = parts.filterNot(c =>
          df.schema.fieldNames.exists(n => canonName(n) == canonName(c)))
        require(missingParts.isEmpty,
          s"appendEvolved to '$name': incoming batch lacks partition " +
            s"columns $missingParts — a null partition value would land " +
            "rows in the hive default partition")
        atomicWrite(new Path(s"$p/_partitioning"),
          s"parts=${parts.mkString(",")}\nschema=${union.toDDL}\n")
        out.write.mode(SaveMode.Append).partitionBy(parts: _*).parquet(p)
      case None =>
        atomicWrite(new Path(s"$p/_evolved_schema"), s"schema=${union.toDDL}\n")
        out.write.mode(SaveMode.Append).parquet(p)
    }
  }

  /** The session's column-name canonicalization rule (Spark resolves
    * case-insensitively by default). */
  private def canonName(n: String): String =
    if (spark.sessionState.conf.caseSensitiveAnalysis) n
    else n.toLowerCase(java.util.Locale.ROOT)

  /** The column matcher [[alignToSchema]] and [[evolveAlign]] share:
    * `df`'s fields by canonical name, after rejecting incoming names that
    * collide under the session's resolution rule and any table column
    * whose incoming type differs beyond nullability — parquet round-trips
    * relax containsNull, so a strict compare would reject frames the
    * engine itself just built (toDF array<float> vs the read-back table).
    * What a missing or extra column means is each caller's own rule. */
  private def matchColumns(df: DataFrame, expected: StructType,
                           verb: String, name: String): Map[String, StructField] = {
    val byCanon = df.schema.fields.groupBy(f => canonName(f.name))
    val dups = byCanon.values.filter(_.length > 1).map(_.map(_.name).toSeq)
    require(dups.isEmpty,
      s"$verb to '$name': ambiguous incoming columns under the session's " +
        s"name resolution — ${dups.toSeq}")
    val incoming = byCanon.map { case (k, fs) => k -> fs.head }
    val drift = expected.fields.flatMap { f =>
      incoming.get(canonName(f.name)).filterNot(in => DataType.equalsStructurally(
        in.dataType, f.dataType, ignoreNullability = true)).map(in =>
        s"${f.name} (table ${f.dataType.simpleString} vs incoming " +
          s"${in.dataType.simpleString})")
    }
    require(drift.isEmpty, s"$verb to '$name': type drift in ${drift.toSeq}")
    incoming
  }

  /** The evolution core: align known columns to the table's canonical
    * names (absent ones null-fill), append genuinely-new columns after
    * them, and return the aligned frame plus the union schema (everything
    * nullable — any column may be absent from some files). */
  private def evolveAlign(df: DataFrame, expected: StructType,
                          name: String): (DataFrame, StructType) = {
    val incoming = matchColumns(df, expected, "appendEvolved", name)
    val expectedCanon = expected.fields.map(f => canonName(f.name)).toSet
    val aligned = expected.fields.map { f =>
      incoming.get(canonName(f.name)) match {
        case Some(in) => col(in.name).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }
    val addedFields = df.schema.fields
      .filterNot(f => expectedCanon.contains(canonName(f.name)))
    val out = df.select((aligned ++ addedFields.map(f => col(f.name))).toSeq: _*)
    val union = StructType(
      (expected.fields ++ addedFields).map(_.copy(nullable = true)))
    (out, union)
  }

  /** Schema evolution for BUCKETED layouts — rewrite-on-evolve: the
    * bucket spec pins every file's schema (bucket ids live in file names
    * and readers trust each file to follow the spec), so an evolved batch
    * cannot land as loose files. Instead the WHOLE table rewrites under
    * the union schema through [[overwriteBucketed]] — same spec, same
    * keys, old rows null-filled in the new columns, one atomic versioned
    * publish.
    *
    * Cost contract, loudly: this is `O(|table|)`, not `O(|batch|)` — one
    * full re-bucket per schema change (NOT per append; same-schema
    * appends are refused by [[append]] anyway for bucketed tables, which
    * stay rewrite-only). At 100 TB reserve bucketed layouts for
    * stable-schema fact tables and evolve them rarely; the alternative —
    * evolve into a fresh bucketed table and swap — costs the identical
    * rewrite without the atomic history. */
  private def appendEvolvedBucketed(df: DataFrame, name: String): Unit = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(name))
    val spec = meta.bucketSpec.get
    val expected = read(name).schema
    val (out, union) = evolveAlign(df, expected, name)
    // Only a batch that actually EVOLVES the schema may trigger the
    // O(|table|) rewrite. A same-schema batch routed through here (the
    // defensive call-everything-appendEvolved ingest pattern) would
    // silently rewrite a 100 TB table per nightly append — keep that
    // refusal as loud as append's, and make the rewrite a deliberate act.
    require(union.length > expected.length,
      s"appendEvolved to '$name': batch adds no columns, but the table " +
        "is bucketed — same-schema appends to bucketed layouts are " +
        "rewrite-only; call overwriteBucketed(read(name).unionByName" +
        "(batch), ...) if a full re-bucket is intended")
    val expectedCanon = expected.fieldNames.map(canonName).toSet
    // widen existing rows to the union: old rows read null in new columns
    val widened = read(name).select(union.fields.map(f =>
      if (expectedCanon.contains(canonName(f.name))) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)).toSeq: _*)
    overwriteBucketed(widened.unionByName(out), name,
      spec.bucketColumnNames, spec.numBuckets)
  }

  /** The `_evolved_schema` marker of a data directory, if present: the
    * union schema across every evolution of the table. */
  private def evolvedSchemaMarker(path: String): Option[StructType] = {
    val mk = new Path(s"$path/_evolved_schema")
    val f = fs(mk)
    if (!f.exists(mk)) None
    else {
      val in = f.open(mk)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      lines.find(_.startsWith("schema="))
        .map(l => StructType.fromDDL(l.drop("schema=".length)))
    }
  }

  /** Union-schema read of an evolved table via parquet footer merging —
    * the marker-free fallback (e.g. directories written by an external
    * tool); [[read]] already returns the union schema for tables evolved
    * through [[appendEvolved]]. */
  def readMerged(name: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dataPath(name))

  /** Validate + align an incoming frame against a table schema: names
    * and types match through [[matchColumns]], missing/extra columns are
    * rejected BEFORE any write (parquet would happily accept a drifted
    * file and every later scan of the table would fail or silently
    * misread), and the select re-orders to the table's canonical names.
    * Shared by batch [[append]] and every streamed micro-batch. */
  private def alignToSchema(df: DataFrame, expected: StructType,
                            name: String): DataFrame = {
    val incoming = matchColumns(df, expected, "append", name)
    val missing = expected.fieldNames
      .filterNot(n => incoming.contains(canonName(n)))
    val expectedCanon = expected.fieldNames.map(canonName).toSet
    val extra = df.columns.filterNot(n => expectedCanon.contains(canonName(n)))
    require(missing.isEmpty && extra.isEmpty,
      s"append to '$name': schema mismatch — missing ${missing.toSeq}, " +
        s"unexpected ${extra.toSeq}")
    // select by the INCOMING name, write under the table's canonical name
    df.select(expected.fields.map(f =>
      col(incoming(canonName(f.name)).name).as(f.name)).toSeq: _*)
  }

  /** Data files under `base`, skipping any file whose RELATIVE path
    * contains a hidden (`_`/`.`-prefixed) segment — a basename-only check
    * would count a committer's `_temporary/.../part-*.parquet` files, or
    * a `_versions` subtree when resolving a plain-layout dir mid-publish,
    * none of which `read()` ever sees. */
  private def listDataFiles(base: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val f = fs(base)
    val baseDir = f.getFileStatus(base).getPath.toUri.getPath.stripSuffix("/")
    val out =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    val it = f.listFiles(base, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile) {
        val rel = st.getPath.toUri.getPath.stripPrefix(baseDir).stripPrefix("/")
        if (!rel.split('/').exists(s => s.startsWith("_") || s.startsWith(".")))
          out += st
      }
    }
    out.toSeq
  }

  /** True iff the session catalog holds a BUCKETED table named `name`
    * whose location lives under this warehouse's directory for it
    * (versioned bucketed tables point INSIDE `<table>/_versions/`). */
  private def isBucketedCatalogTable(name: String): Boolean =
    try {
      if (!spark.catalog.tableExists(name)) false
      else {
        val meta = spark.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(name))
        meta.bucketSpec.isDefined &&
          meta.location.getPath.stripSuffix("/")
            .contains(new Path(dir(name)).toUri.getPath.stripSuffix("/"))
      }
    } catch { case _: Exception => false }

  /** S11: WRITE_TRUNCATE (replace the whole table) — an atomic
    * [[publish]]: concurrent readers see the old table or the new one,
    * never a half-replaced directory. */
  def overwrite(df: DataFrame, name: String): Unit = {
    publish(df, name)
    ()
  }

  /** Bucketed overwrite as a versioned publish: the bucketed files land
    * in an immutable version directory (written through a throwaway
    * staging catalog entry, which is how Spark assigns bucket ids to file
    * names), the manifest swaps atomically, and the PERMANENT catalog
    * entry is repointed at the new version — `ALTER TABLE SET LOCATION`
    * when the bucket spec is unchanged (one metastore call; catalog
    * readers see the old location or the new one), DROP+CREATE when the
    * spec itself changed. `read()` readers get full manifest atomicity;
    * old versions stay until [[vacuum]], so self-referential rewrites
    * (df = f(read(name))) are safe — the files the plan is reading are
    * never touched. */
  def overwriteBucketed(df: DataFrame, name: String, bucketKeys: Seq[String],
                        numBuckets: Int): Unit = {
    require(bucketKeys.nonEmpty && numBuckets > 0)
    val version = newVersionId()
    val vdir = s"${dir(name)}/_versions/$version"
    val stagingName = s"${name}__staging"
    spark.sql(s"DROP TABLE IF EXISTS `$stagingName`")
    // saveAsTable is what encodes bucket ids into file names; the staging
    // entry is dropped right after (external table: files stay)
    df.write.mode(SaveMode.ErrorIfExists)
      .option("path", vdir)
      .bucketBy(numBuckets, bucketKeys.head, bucketKeys.tail: _*)
      .sortBy(bucketKeys.head, bucketKeys.tail: _*)
      .format("parquet")
      .saveAsTable(stagingName)
    spark.sql(s"DROP TABLE IF EXISTS `$stagingName`")
    swapManifest(name, version)
    // the cheap SET LOCATION path needs spec AND schema unchanged: the
    // catalog entry carries the column list, so repointing the location
    // after a schema evolution would leave spark.table() readers blind
    // to the new columns (silent column loss, no error)
    val specUnchanged = try {
      spark.catalog.tableExists(name) && {
        val meta = spark.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(name))
        meta.bucketSpec.exists(b => b.numBuckets == numBuckets &&
          b.bucketColumnNames == bucketKeys) &&
          org.apache.spark.sql.types.DataType.equalsStructurally(
            meta.schema, df.schema, ignoreNullability = true)
      }
    } catch { case _: Exception => false }
    if (specUnchanged)
      spark.sql(s"ALTER TABLE `$name` SET LOCATION '$vdir'")
    else {
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      val colsDDL = df.schema.fields
        .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      spark.sql(s"CREATE TABLE `$name` ($colsDDL) USING parquet " +
        s"CLUSTERED BY (${bucketKeys.map(c => s"`$c`").mkString(", ")}) " +
        s"SORTED BY (${bucketKeys.map(c => s"`$c`").mkString(", ")}) " +
        s"INTO $numBuckets BUCKETS LOCATION '$vdir'")
    }
  }

  /** Read a bucketed table WITH its bucket metadata (bucket-aware joins
    * need the catalog entry; `read` sees only the parquet files). */
  def readBucketed(name: String): DataFrame = spark.table(name)

  /** Scale extension: hive-style partitioned write. Scans that filter on
    * a partition column read only the matching directories (partition
    * pruning — the first lever against a 100 TB scan; `.explain` shows
    * the predicate under `PartitionFilters`). Choose low-cardinality
    * columns (year, date, source): every distinct tuple becomes a
    * directory.
    *
    * An atomic [[publish]]: the partitioned tree lands in an immutable
    * version directory, so a 100 TB table gets partition pruning AND
    * reader-safe replacement — concurrent readers see the old table or
    * the new one, never a mixture, and self-referential rewrites
    * (df = f(read(name))) read intact files throughout. */
  def overwritePartitioned(df: DataFrame, name: String,
                           partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty)
    publish(df, name, partitionCols)
    ()
  }

  /** Streaming CSV source: watch a directory for new files, parse with
    * the declared schema — the continuously-running twin of [[readCsv]].
    * Compose with [[streamingAppend]] for an always-on ingest pipeline. */
  def readCsvStream(path: String, schema: StructType,
                    dateFormat: String = "M/d/yy"): DataFrame =
    spark.readStream
      .option("header", "true")
      .option("dateFormat", dateFormat)
      .schema(schema)
      .csv(path)

  /** Where `name`'s micro-batches land, resolved now. */
  private def landingTarget(name: String): Warehouse.LandingTarget = {
    val p = dataPath(name)
    val written = fs(new Path(p)).exists(new Path(p))
    Warehouse.LandingTarget(p, partitioningMarker(p).map(_._1).getOrElse(Nil),
      if (written) Some(readPath(p).schema) else None)
  }

  /** Land ONE micro-batch exactly-once — the lander every streamed write
    * goes through: align the batch to the target schema (a drifted batch
    * is rejected like a batch [[append]] would be, not landed as files
    * that poison every later scan), stage it under the underscore-
    * invisible `_stream_staging/b<id>` dir — partition-aligned when the
    * target is a partitioned table, since unpartitioned files at the root
    * of a hive tree would be invisible to its reads — and promote it
    * ([[promoteStaged]]). Returns the promoted files: none when `id`
    * already landed. */
  private def landBatch(bdf: DataFrame, name: String,
                        t: Warehouse.LandingTarget, id: Long): Seq[Path] = {
    val staging = s"${t.p}/_stream_staging/b$id"
    t.expected.fold(bdf)(alignToSchema(bdf, _, name))
      .write.mode(SaveMode.Overwrite).partitionBy(t.parts: _*).parquet(staging)
    promoteStaged(staging, t.p, name, id)
  }

  /** Streaming append sink: exactly-once parquet appends into a warehouse
    * table, checkpointed so a restarted query resumes where it left off —
    * the streaming twin of [[append]].
    *
    * NOT Spark's file sink: that sink writes a `_spark_metadata` log, and
    * any batch read of a directory containing one sees ONLY sink-logged
    * files — batch-published rows in the same table would silently vanish
    * from reads. Instead each micro-batch lands through [[landBatch]]: it
    * stages to an underscore-invisible `_stream_staging/b<id>` dir and is
    * PROMOTED by renaming its files to `stream-b<id>-…` names.
    * Exactly-once: the checkpoint replays an uncommitted batch id, and the
    * promote first removes any partial `stream-b<id>` files before
    * renaming — so a crashed batch re-lands whole, never twice. Readers
    * see the same contract as batch [[append]]: existing rows plus
    * fully-promoted files.
    *
    * The path, partitioning and schema are pinned at stream start
    * (single-writer model); vacuum's grace window covers re-publishes
    * during the stream's life. */
  def streamingAppend(source: DataFrame, name: String, checkpoint: String,
                      zoneCols: Seq[String] = Nil,
                      bloomCols: Seq[String] = Nil,
                      bloomExpectedItemsPerFile: Long = 1L << 20,
                      bloomFpp: Double = 0.01): org.apache.spark.sql.streaming.StreamingQuery = {
    val t = landingTarget(name)
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (bdf: DataFrame, id: Long) =>
        val promoted = landBatch(bdf, name, t, id).map(_.toString)
        // self-registering skipping indexes: each promoted batch appends
        // its own files' zone and Bloom rows to the manifests, so streamed
        // tables keep skipping without rebuilds. Crash-safe by the promote
        // protocol: a replayed id promotes nothing → registers nothing (no
        // double rows); a crash between promote and register leaves the
        // files UNKNOWN to the manifest — scanned conservatively, never
        // missed, and [[refreshSkippingIndexes]] repairs the gap offline.
        if (promoted.nonEmpty) {
          if (zoneCols.nonEmpty)
            writeSkippingRows(t.p, promoted,
              s"${t.p}/_zonemap/${zoneKey(zoneCols)}", zoneAggs(zoneCols))
          bloomCols.foreach(c => writeSkippingRows(t.p, promoted,
            s"${t.p}/_bloomindex/$c",
            bloomAggs(c, bloomExpectedItemsPerFile, bloomFpp)))
        }
      }
      .start()
  }

  /** Replay-IDEMPOTENT single-batch append — [[landBatch]] for
    * foreachBatch sinks composed OUTSIDE this class (the admission sink
    * pairs it with an index mutation; [[Validation.streamingQuarantine]]
    * lands one batch id in TWO tables): a replayed `batchId` promotes
    * NOTHING and the table never sees a batch twice. Schema alignment and
    * partition handling match [[streamingAppend]]'s, resolved per call (a
    * sink that must pin them at stream start uses [[streamingAppend]]
    * itself). */
  def appendStreamBatch(bdf: DataFrame, name: String,
                        batchId: Long): Unit = {
    landBatch(bdf, name, landingTarget(name), batchId)
    ()
  }

  /** Incremental aggregate view maintenance — a streaming MATERIALIZED
    * VIEW over mergeable aggregates (sum/count/min/max). Each micro-batch
    * is pre-aggregated down to its |groups| PARTIAL rows and landed
    * through [[landBatch]]; the view is read by RE-COMBINING partials
    * ([[readAggregate]]) and periodically collapsed to one snapshot
    * ([[compactAggregate]]). Storing partials instead of rewriting the
    * snapshot per batch is what makes exactly-once FREE here: a replayed
    * batch id promotes nothing, so there is no read-modify-write to
    * double-apply and no marker race — the delta-style incremental-MV
    * design.
    *
    * Scale shape: per batch, one partial aggregation (map-side combine,
    * shuffle ≤ |groups| rows) + a metadata-rename promote. Reads cost
    * |batches|·|groups| until compaction, which is why compaction exists;
    * run it between stream runs (the single-writer path-pinning contract
    * of [[streamingAppend]]). */
  def maintainAggregate(source: DataFrame, table: String, keys: Seq[String],
                        specs: Seq[AggSpec], checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    AggSpec.validate(specs, keys)
    val t = landingTarget(table)
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (bdf: DataFrame, id: Long) =>
        landBatch(AggSpec.partial(bdf, keys, specs), table, t, id)
        ()
      }
      .start()
  }

  /** The maintained view: partials re-combined to one row per key. */
  def readAggregate(table: String, keys: Seq[String],
                    specs: Seq[AggSpec]): DataFrame =
    AggSpec.combine(read(table), keys, specs)

  /** Collapse accumulated partials into a single snapshot (same schema —
    * a combined row is a valid partial). Atomic versioned publish; run
    * between stream runs. */
  def compactAggregate(table: String, keys: Seq[String],
                       specs: Seq[AggSpec]): Unit = {
    backup(table)
    publish(AggSpec.combine(read(table), keys, specs), table)
    ()
  }

  /** Move a staged micro-batch's data files into the data directory `dest`
    * under `stream-b<id>-…` names, idempotently. Relative paths are
    * preserved, which keeps hive partition subdirectories aligned.
    *
    * Replay protocol (a replayed id means the batch never committed to the
    * checkpoint): an `_stream_promoted/b<id>` marker means the previous
    * promote COMPLETED — skip, or the batch would land twice; an
    * `_stream_attempt/b<id>` marker without it means a promote died midway
    * — sweep that id's partial files before re-promoting. The common
    * no-crash path sees neither marker and pays no recursive listing of
    * the (at scale, very large) table directory. Both marker dirs live at
    * the table root `<root>/<table>/`, which every version shares: a
    * republish (compact, merge, a hygiene rewrite) changes the data
    * directory but never the markers, so a batch replayed after it still
    * reads as landed. Only the last 100 ids are kept. */
  private def promoteStaged(staging: String, dest: String, table: String,
                            id: Long): Seq[Path] = {
    val sp = new Path(staging)
    val dp = new Path(dest)
    val f = fs(sp)
    val promotedMark = new Path(dir(table), s"_stream_promoted/b$id")
    val attemptMark = new Path(dir(table), s"_stream_attempt/b$id")
    def dataFiles(root: Path): Seq[Path] = {
      val it = f.listFiles(root, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) {
        val st = it.next()
        val n = st.getPath.getName
        if (st.isFile && !n.startsWith("_") && !n.startsWith(".")) buf += st.getPath
      }
      buf.toSeq
    }
    if (f.exists(promotedMark)) {
      // completed promote, uncommitted checkpoint: drop the re-staged copy
      // AND the attempt marker a crash-after-promote left behind
      f.delete(attemptMark, false)
      f.delete(sp.getParent, true)
      return Seq.empty
    }
    if (f.exists(attemptMark)) // crashed mid-promote: clear the partials
      dataFiles(dp).filter(_.getName.startsWith(s"stream-b$id-"))
        .foreach(f.delete(_, false))
    f.mkdirs(attemptMark.getParent)
    f.create(attemptMark, true).close()
    val stagingUri = sp.toUri.getPath.stripSuffix("/")
    val promoted = dataFiles(sp).map { file =>
      val rel = file.toUri.getPath.stripPrefix(stagingUri).stripPrefix("/")
      val relDir = rel.split("/").dropRight(1).mkString("/")
      val destDir = if (relDir.isEmpty) dp else new Path(dp, relDir)
      f.mkdirs(destDir)
      val target = new Path(destDir, s"stream-b$id-${file.getName}")
      moveStaged(file, target)
      target
    }
    f.mkdirs(promotedMark.getParent)
    f.create(promotedMark, true).close()
    f.delete(attemptMark, false)
    f.delete(sp.getParent, true) // drop _stream_staging
    // markers far behind the checkpoint frontier can never replay — prune
    // BOTH marker dirs so they stay O(recent), not O(stream lifetime)
    Seq(promotedMark.getParent, attemptMark.getParent)
      .filter(f.exists)
      .flatMap(d => f.listStatus(d).toSeq.map(_.getPath))
      .filter { p =>
        p.getName.startsWith("b") &&
          scala.util.Try(p.getName.drop(1).toLong).toOption.exists(_ < id - 100)
      }
      .foreach(f.delete(_, false))
    promoted
  }

  /** Make a fully written file visible under `target`, a name no reader
    * has listed yet: one rename, so a reader sees the file whole or not
    * at all. With [[atomicWrite]]'s rename-over, the only way an engine
    * write becomes visible in place. */
  private def moveStaged(file: Path, target: Path): Unit =
    if (!fs(file).rename(file, target))
      throw new java.io.IOException(s"move of staged file $file to $target failed")

  /** MERGE/upsert: rows of `updates` replace same-key existing rows, new
    * keys are added, everything else is kept. The reference's
    * UPDATE…FROM + append cycle as ONE atomic table [[publish]] — the new
    * version is written beside the old files, so the self-referential
    * plan (merged = f(existing)) reads intact data throughout, and the
    * manifest swap exposes it all-or-nothing. Backup is taken first, so
    * the pre-merge state is restorable even past [[vacuum]]. */
  def merge(table: String, updates: DataFrame, keys: Seq[String]): Unit = {
    require(keys.nonEmpty)
    val existing = read(table)
    val cols = existing.columns.map(col).toSeq
    val merged = existing
      .join(updates.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(updates.select(cols: _*))
    backup(table)
    publish(merged, table, partitioningOf(table)) // partitioning survives
    ()
  }

  /** DELETE WHERE: atomically publish the table minus the matching rows,
    * returning how many were deleted (the audit number a retention/GDPR
    * job must log). Same reader-safe publish-and-backup contract as
    * [[merge]]; partitioning survives. The count is one filtered
    * count pass before the rewrite (two scans total — the price of the
    * audit number; both read the same immutable version). */
  def deleteWhere(table: String, predicate: Column): Long = {
    val existing = read(table)
    val n = existing.filter(predicate).count()
    if (n > 0L) {
      backup(table)
      publish(existing.filter(!coalesce(predicate, lit(false))), table,
        partitioningOf(table))
    }
    n
  }

  /** UPDATE WHERE: atomically publish the table with `assignments`
    * applied to matching rows (null-predicate rows are untouched, SQL
    * UPDATE semantics), returning the matched-row count. Assignment
    * columns must already exist — an UPDATE that invents columns is a
    * schema change and belongs to [[appendEvolved]]'s contract, not
    * here. */
  def updateWhere(table: String, predicate: Column,
                  assignments: Map[String, Column]): Long = {
    require(assignments.nonEmpty, "updateWhere needs at least one assignment")
    val existing = read(table)
    val unknown = assignments.keySet -- existing.columns.toSet
    require(unknown.isEmpty,
      s"updateWhere '$table': unknown columns $unknown — UPDATE cannot " +
        "add columns (schema evolution is appendEvolved's contract)")
    // one pass computes the matched count AND per-assignment cast
    // validation: an assignment value the column's type cannot represent
    // (e.g. a non-numeric string into a numeric column) would otherwise
    // cast to null on every matched row — silent corruption published
    // atomically. try_cast-style check: non-null value, null after cast.
    val matchedPred = coalesce(predicate, lit(false))
    val assigns = assignments.toSeq
    val auditCols = count(when(matchedPred, lit(1))).as("__n") +:
      assigns.zipWithIndex.map { case ((c, v), i) =>
        count(when(matchedPred && v.isNotNull &&
          v.try_cast(existing.schema(c).dataType).isNull, lit(1)))
          .as(s"__bad$i")
      }
    val audit = existing.agg(auditCols.head, auditCols.tail: _*).head()
    assigns.zipWithIndex.foreach { case ((c, _), i) =>
      require(audit.getLong(i + 1) == 0L,
        s"updateWhere '$table': assignment to '$c' produces values the " +
          s"column's ${existing.schema(c).dataType.simpleString} cannot " +
          s"represent on ${audit.getLong(i + 1)} matched rows — refusing " +
          "to publish nulls in their place")
    }
    val n = audit.getLong(0)
    if (n > 0L) {
      val matched = matchedPred
      // ONE projection: every assignment expression evaluates against the
      // ORIGINAL row (SQL UPDATE semantics — assignments never see each
      // other's results)
      val updated = existing.select(existing.columns.map { c =>
        assignments.get(c) match {
          case Some(v) =>
            when(matched, v.cast(existing.schema(c).dataType))
              .otherwise(col(c)).as(c)
          case None => col(c)
        }
      }.toSeq: _*)
      backup(table)
      publish(updated, table, partitioningOf(table))
    }
    n
  }

  /** Compaction: rewrite a table into `numFiles` files — the answer to
    * the small-files problem that incremental appends accumulate (every
    * append adds a file; scans degrade once file count ≫ cores). An
    * atomic [[publish]] like merge: the rewrite reads the old version's
    * files, which stay in place until [[vacuum]]. */
  def compact(table: String, numFiles: Int = 1): Unit = {
    require(numFiles > 0)
    // partitioning survives compaction: numFiles applies per partition
    // directory (the write splits the repartitioned data by partition col)
    publish(read(table).repartition(numFiles), table, partitioningOf(table))
    ()
  }

  /** One-call table maintenance (the OPTIMIZE verb): re-cluster the
    * current data on `clusterCols` (range+sort for one column, Z-order
    * for several), publish atomically, then rebuild the data-skipping
    * artifacts the re-cluster just earned — zone maps over the cluster
    * columns, Bloom indexes over `bloomCols` — and refresh CBO stats.
    * Doing all of it in ONE call is the point: a re-cluster without the
    * rebuild leaves yesterday's manifests covering none of today's files
    * (correct — unknown files always scan — but skipping-dead); readers
    * meanwhile see old layout or new, never a mixture. Hive partitioning
    * is preserved; clustering then applies within partitions. */
  def optimize(table: String, clusterCols: Seq[String],
               partitions: Int = 32, bloomCols: Seq[String] = Nil,
               analyze: Boolean = true): Unit = {
    require(clusterCols.nonEmpty, "optimize needs at least one cluster column")
    val df = read(table)
    val clustered =
      if (clusterCols.size == 1)
        df.repartitionByRange(partitions, col(clusterCols.head))
          .sortWithinPartitions(col(clusterCols.head))
      else graft.operators.Layout.zorder(df, clusterCols, partitions)
    publish(clustered, table, partitioningOf(table), analyze = analyze)
    buildZoneMap(table, clusterCols)
    bloomCols.foreach(c => buildBloomIndex(table, c))
  }

  /** Size-aware compaction: bin-pack the table's current files toward
    * `targetBytes` per output file — the auto-sized [[compact]]. For a
    * hive-partitioned table the target applies PER PARTITION DIRECTORY,
    * with each directory's output file count derived from its row share
    * (global bytes/row estimate): small partitions merge to ONE file,
    * oversized ones split — a single global per-dir count (what
    * `compact(n)` does on partitioned layouts) would re-create small
    * files on every skewed-small directory. An atomic [[publish]]:
    * readers of the old version are untouched until [[vacuum]].
    *
    * Returns the new version id, or None when the current layout is
    * already at-or-under the target file count AND no single file exceeds
    * 2× the target (the oversize trigger is what actually splits a
    * few-huge-files layout; the 2× slack keeps boundary-sized files from
    * churning every run) — rewriting 100 TB to save three files is worse
    * than the disease. The sizing pre-pass is
    * one partition-keyed count aggregate (broadcast back, never
    * collected); total extra read ≈ one scan of the data being rewritten
    * anyway. Bucketed tables are refused: their file count is the bucket
    * spec's business ([[overwriteBucketed]]), not the compactor's. */
  def compactToSize(table: String, targetBytes: Long = 128L * 1024 * 1024,
                    analyze: Boolean = false): Option[String] = {
    require(targetBytes > 0, "targetBytes must be positive")
    require(!isBucketedCatalogTable(table),
      s"compactToSize '$table': table is bucketed; rewrite through " +
        "overwriteBucketed to keep bucket metadata consistent")
    val files = listDataFiles(new Path(dataPath(table)))
    val nFiles = files.size.toLong
    val bytes = files.map(_.getLen).sum
    val maxFile = if (files.isEmpty) 0L else files.map(_.getLen).max
    val want = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
    // rewrite when there's a small-files surplus OR a pathologically
    // oversized file (2× slack: splitting at exactly targetBytes would
    // churn every boundary-sized file on each run)
    if (nFiles <= want && maxFile <= 2 * targetBytes) None
    else {
      val parts = partitioningOf(table)
      val df = read(table)
      val dataCols = df.columns.toSeq
      val version =
        if (parts.isEmpty)
          publish(df.repartition(want.toInt), table, Nil, analyze)
        else {
          val perPart = df.groupBy(parts.map(col): _*)
            .agg(count(lit(1)).as("__rows"))
          val tot = perPart.agg(sum(col("__rows")).as("__tot"))
          val spread = perPart.join(broadcast(tot))
            .withColumn("__nf", greatest(lit(1L),
              ceil(col("__rows").cast("double") * bytes.toDouble /
                col("__tot") / targetBytes.toDouble).cast("long")))
            .select(parts.zipWithIndex.map { case (c, i) =>
              col(c).as(s"__p$i") } :+ col("__nf"): _*)
          // null-safe join keys: a null partition value is a real
          // directory (__HIVE_DEFAULT_PARTITION__); an equi-join would
          // silently drop its rows
          val cond = parts.zipWithIndex
            .map { case (c, i) => col(c) <=> col(s"__p$i") }
            .reduce(_ && _)
          // xxhash64 rejects MapType (anywhere in the tree); route such
          // rows through a canonical JSON rendering instead — slower, but
          // only paid by tables that actually carry map columns
          def hasMap(dt: DataType): Boolean = dt match {
            case _: MapType => true
            case s: StructType => s.fields.exists(f => hasMap(f.dataType))
            case a: ArrayType => hasMap(a.elementType)
            case _ => false
          }
          val saltSrc =
            if (df.schema.fields.exists(f => hasMap(f.dataType)))
              xxhash64(to_json(struct(dataCols.map(col): _*)))
            else xxhash64(dataCols.map(col): _*)
          val packed = df.join(broadcast(spread), cond)
            .withColumn("__salt", pmod(saltSrc, col("__nf")))
            .repartition(
              math.min(Int.MaxValue.toLong,
                math.max(want, spark.sparkContext.defaultParallelism.toLong))
                .toInt,
              parts.map(col) :+ col("__salt"): _*)
            .select(dataCols.map(col): _*)
          publish(packed, table, parts, analyze)
        }
      Some(version)
    }
  }

  /** Per-partition-directory file statistics of the table's CURRENT data
    * — the [[compactToSize]] decision input and the small-files health
    * check: one row per data directory (partition path relative to the
    * table root; empty string for an unpartitioned table) with file
    * count, total bytes, and min/max file size. Pure driver-side metadata
    * listing, the same one every compaction performs; no data is read. */
  def fileProfile(table: String): DataFrame = {
    import spark.implicits._
    val base = new Path(dataPath(table))
    val f = fs(base)
    val baseDir = f.getFileStatus(base).getPath.toUri.getPath.stripSuffix("/")
    val rows = listDataFiles(base).map { st =>
      (st.getPath.getParent.toUri.getPath
        .stripPrefix(baseDir).stripPrefix("/"), st.getLen)
    }
    rows.toDF("dir", "bytes")
      .groupBy(col("dir"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bytes"),
        min(col("bytes")).as("min_file_bytes"),
        max(col("bytes")).as("max_file_bytes"))
      .orderBy(col("dir"))
  }

  private def zoneKey(cols: Seq[String]): String =
    cols.sorted.mkString("__")

  /** Locate a stored zone-map manifest covering column `c` (smallest
    * covering key wins, deterministically). */
  private def findZoneMap(p: String, c: String): Option[String] = {
    val zroot = new Path(s"$p/_zonemap")
    val f = fs(zroot)
    if (!f.exists(zroot)) None
    else f.listStatus(zroot).toSeq.map(_.getPath.getName)
      .filter(_.split("__").contains(c))
      .sortBy(k => (k.length, k))
      .headOption.map(k => s"$p/_zonemap/$k")
  }

  /** Delta/Iceberg-style data skipping, part 1: build per-FILE min/max
    * zone maps over `cols`, stored as a tiny parquet manifest under the
    * table's current data directory (`_zonemap/<key>` — a hidden dir, so
    * reads never see it and [[vacuum]] drops it with its version).
    *
    * One column-pruned scan computes (file, n_rows, min_c, max_c, …):
    * parquet reads only the zoned columns' pages, so the build is a
    * fraction of a full-table pass, fully parallel, and the manifest is
    * |files| rows — the same metadata scale every file-source planner
    * already holds on the driver. Zone maps earn their keep after a
    * [[graft.operators.Layout]] Z-order/range layout: clustered files
    * have narrow ranges, so a selective predicate prunes most of them.
    *
    * Appends after a build stay CORRECT (unknown files are always
    * scanned — see [[readZonePruned]]); rebuild to regain skipping on
    * them. */
  def buildZoneMap(table: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "zone map needs at least one column")
    // the manifest dir name round-trips through zoneKey's "__" joiner
    // (refreshSkippingIndexes parses it back); a column name containing
    // "__" — legal in Spark — would un-join to wrong column names and
    // make the refresh aggregate nonexistent columns
    cols.find(_.contains("__")).foreach(c => sys.error(
      s"buildZoneMap: column name '$c' contains '__', which the zone " +
        "manifest key cannot encode — rename or alias the column"))
    val p = dataPath(table)
    writeSkippingRows(p, Nil, s"$p/_zonemap/${zoneKey(cols)}", zoneAggs(cols))
  }

  /** A zone-map manifest row's aggregates: row count, min and max per
    * zoned column. */
  private def zoneAggs(cols: Seq[String]): Seq[Column] =
    count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))

  /** A Bloom-index manifest row's aggregate: the file's filter over `c`. */
  private def bloomAggs(c: String, expectedItemsPerFile: Long,
                        fpp: Double): Seq[Column] =
    Seq(graft.functions.BloomIndexFunctions
      .bloomAgg(col(c), expectedItemsPerFile, fpp).as("bloom"))

  /** Write the per-FILE skipping rows of data directory `p` to the
    * manifest `dest`: one row per data file, `aggs` computed over it by
    * one column-pruned scan. With `files` empty every file is indexed and
    * the manifest is replaced (a build); otherwise only `files` are read
    * and their rows append (a streamed batch's registration, a refresh).
    * Either way the scan reads through [[readPath]]'s declared schema, so
    * a partition value is hashed and compared as the type the table
    * declares — never as the type partition discovery would infer. */
  private def writeSkippingRows(p: String, files: Seq[String], dest: String,
                                aggs: Seq[Column]): Unit =
    readPath(p, files)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode(if (files.isEmpty) SaveMode.Overwrite else SaveMode.Append)
      .parquet(dest)

  /** Data skipping, part 2: the file lists a `col BETWEEN lo AND hi`
    * scan needs — (kept, unknown): manifest files whose [min,max]
    * intersects the range (conservative: a null range, i.e. an all-null
    * file, can never match BETWEEN and is skipped), plus files the
    * manifest has never seen (post-build appends/compactions — ALWAYS
    * scanned, so staleness can omit nothing). Manifest entries whose
    * file no longer exists (compacted away) are dropped — their rows
    * live in rewritten files, which are unknown and therefore scanned. */
  def zonePrunedFiles(table: String, c: String, lo: Any,
                      hi: Any): Option[(Seq[String], Seq[String])] = {
    val p = dataPath(table)
    findZoneMap(p, c).map { zp =>
      val zm = spark.read.parquet(zp)
      val keepExpr =
        !(col(s"max_$c") < lit(lo) || col(s"min_$c") > lit(hi))
      resolvePruned(zm.select(col("file"), keepExpr.as("keep")), p)
    }
  }

  /** How many manifest/actual file names the driver may hold as plain
    * in-memory sets when reconciling a skipping manifest against the
    * directory listing. Below the gate the membership checks are driver
    * sets (no extra jobs); above it they become semi/anti JOINS, so the
    * driver only ever materializes SURVIVING file names — at 10⁵-10⁷
    * manifest rows the full known/kept sets would be the one
    * planner-side structure that grows with table size. Same
    * read-per-call idiom as [[Exec.MaxLocalBytesKey]]. */
  val MaxDriverPruneFilesKey = "spark.graft.prune.maxDriverFiles"
  private val DefaultMaxDriverPruneFiles = 100000

  /** Resolve a `(file, keep)` skipping manifest against the directory's
    * actual files into `(kept, unknown)`:
    *  - kept    = manifest rows with keep=true whose file still exists
    *              (null keep — e.g. an all-null zone — skips the file);
    *  - unknown = actual files the manifest has never seen (post-build
    *              appends/compactions) — ALWAYS scanned.
    * Manifest entries whose file no longer exists are dropped — their
    * rows live in rewritten files, which are unknown and thus scanned.
    *
    * Membership runs as driver sets below [[MaxDriverPruneFilesKey]] and
    * as distributed semi/anti joins above it. On the join path file names
    * are normalized with a scheme-stripping expression rather than
    * `Path.toUri.getPath`; a representation the expression cannot
    * reconcile degrades CONSERVATIVELY — the file drops out of `kept`
    * and into `unknown`, so it is scanned, never lost. */
  private def resolvePruned(manifest: DataFrame,
                            p: String): (Seq[String], Seq[String]) = {
    val actual = listDataFiles(new Path(p)).map(_.getPath.toUri.getPath)
    val gate = spark.conf.get(MaxDriverPruneFilesKey,
      DefaultMaxDriverPruneFiles.toString).toInt
    // BOTH sides must clear the gate: the manifest accumulates rows for
    // files later compacted away, so its row count is NOT bounded by the
    // live file count — a 100-file table can carry a 10^7-row manifest.
    // The gate probe is a limit(gate+1) collect — bounded memory either
    // way, and the same ONE job serves as the driver path's full read
    // (the separate count-then-collect paid two jobs per consultation).
    val probe = if (actual.length <= gate)
      manifest.limit(gate + 1).collect() else null
    if (probe != null && probe.length <= gate) {
      val rows = probe // the full manifest — it fit under the gate
      def norm(s: String) = new Path(s).toUri.getPath
      val known = rows.map(r => norm(r.getString(0))).toSet
      val actualSet = actual.toSet
      val kept = rows
        .filter(r => !r.isNullAt(1) && r.getBoolean(1))
        .map(r => norm(r.getString(0)))
        .filter(actualSet.contains)
      (kept.toSeq, actual.filterNot(known.contains))
    } else {
      import spark.implicits._
      val actualDf = actual.toDF("file")
      val known = manifest.select(normFile.as("file"), col("keep"))
      val kept = known.filter(coalesce(col("keep"), lit(false)))
        .join(actualDf, Seq("file"), "left_semi")
        .select("file").as[String].collect().toSeq // survivors only
      val unknown = actualDf
        .join(known, Seq("file"), "left_anti")
        .select("file").as[String].collect().toSeq
      (kept, unknown)
    }
  }

  /** A manifest's `file` column with `scheme://authority` / `scheme:`
    * prefixes stripped in-plan — the distributed analogue of
    * `Path.toUri.getPath` for well-formed URIs, which the listing side of
    * every manifest-vs-directory join uses. */
  private def normFile: Column = regexp_replace(col("file"),
    lit("^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/]*)?"), lit(""))

  /** Data skipping, part 3: `read(table).filter(c BETWEEN lo AND hi)`,
    * but scanning only the files [[zonePrunedFiles]] admits. Falls back
    * to the plain filtered read when no zone map covers `c`. The precise
    * row-level predicate is always re-applied — file pruning is an
    * optimization, never a semantics change. */
  def readZonePruned(table: String, c: String, lo: Any, hi: Any): DataFrame =
    readZonePrunedAll(table, Seq((c, lo, hi)))

  /** Conjunctive data skipping: `AND` of several range predicates — each
    * zoned column prunes independently and the scanned set is the
    * INTERSECTION of survivors (files unknown to any manifest always
    * survive). This is where a Z-ordered layout pays twice: a 2-D point
    * query intersects two already-small file sets. */
  def readZonePrunedAll(table: String,
                        ranges: Seq[(String, Any, Any)]): DataFrame = {
    require(ranges.nonEmpty, "at least one range predicate required")
    val p = dataPath(table)
    val pred = ranges.map { case (c, lo, hi) =>
      col(c).between(lit(lo), lit(hi))
    }.reduce(_ && _)
    val pruned = ranges.flatMap { case (c, lo, hi) =>
      zonePrunedFiles(table, c, lo, hi)
    }
    if (pruned.isEmpty) readPath(p).filter(pred) // nothing covered
    else {
        // per-column survivor sets: kept ∪ unknown each; scan their
        // intersection (a file must survive EVERY covered predicate)
        val files = pruned
          .map { case (kept, unknown) => (kept ++ unknown).toSet }
          .reduce(_ intersect _)
          .toSeq.sorted
        readFileSubset(p, files, pred)
    }
  }

  /** Scan only `files` of table directory `p` through [[readPath]],
    * re-applying the precise predicate — the shared tail of every
    * file-skipping read. */
  private def readFileSubset(p: String, files: Seq[String],
                             pred: Column): DataFrame =
    if (files.isEmpty) readPath(p).filter(pred).limit(0)
    else readPath(p, files).filter(pred)

  /** ANALYZE for join planning: ONE aggregation scan per listed column
    * builds and persists, under `_stats/<col>/` of the CURRENT data
    * version, the column's sketch statistics:
    *  - a CMS frequency sketch (join-output-size estimation via the
    *    Cormode-Muthukrishnan inner product — see
    *    [[JoinPolicy.estimateJoinRowsStored]]);
    *  - its Space-Saving hot-key candidates (salt planning —
    *    [[JoinPolicy.shouldSaltStored]]);
    *  - value/row counts.
    * At 100 TB this is the difference between answering a planning
    * question from two manifest-scale reads and paying two full scans
    * per question — the stored-sketch path q148 proves the estimator
    * for, landed as a catalog.
    *
    * Freshness contract: the stats row records the data-file census
    * (count + total bytes) it described; [[readSketchStats]] returns
    * None when the census no longer matches (post-analyze appends,
    * compactions, or a republish), so a consumer can never plan from
    * stale sketches — re-analyze after mutations, the same discipline
    * as [[optimize]]'s artifact rebuild. */
  def analyzeSketches(table: String, cols: Seq[String], depth: Int = 4,
                      width: Int = 4096, hotCapacity: Int = 1024): Unit = {
    require(cols.nonEmpty, "analyzeSketches needs at least one column")
    val p = dataPath(table)
    val stamp = censusCols(p)
    // ONE table scan sketches EVERY column: all per-column aggregates
    // ride a single partial-combined aggregate, so ANALYZE costs
    // O(scan), not O(|cols| × scan) — at 100 TB the difference between
    // one nightly pass and one pass per maintained column. The one
    // wide result row is pinned so the per-column stats writes below
    // re-read it instead of re-running the scan.
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      sketchAggs(c, i, depth, width, hotCapacity)
    } :+ count(lit(1)).as("__nr")
    val row = Exec.materialize(read(table).agg(aggs.head, aggs.tail: _*))
    cols.zipWithIndex.foreach { case (c, i) =>
      row.select(Seq(lit(depth).as("depth"), lit(width).as("width"),
          lit(hotCapacity).as("hot_capacity")) ++ stamp ++ Seq(
          col(s"__cms_$i").as("cms"), col(s"__hot_$i").as("hot"),
          col(s"__hll_$i").as("hll"), col(s"__nv_$i").as("n_values"),
          col("__nr").as("n_rows")): _*)
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$p/_stats/$c")
    }
  }

  /** One column's sketch aggregates, suffixed `_i`: the CMS frequency
    * sketch, Space-Saving hot keys, HLL distinct registers (the
    * n_distinct every selectivity formula wants, in m=64 bytes of state,
    * mergeable on append by register max — same md5-word hash family as
    * q100/q104) and the non-null count. All hash the value's string
    * form, so build and probe agree whatever the column type. */
  private def sketchAggs(c: String, i: Int, depth: Int, width: Int,
                         hotCapacity: Int): Seq[Column] = {
    val v = col(c).cast("string")
    Seq(graft.functions.Cms.sketch(v, depth, width).as(s"__cms_$i"),
      graft.functions.Freq.spaceSaving(v, hotCapacity).as(s"__hot_$i"),
      graft.functions.Hll.registers(
        graft.functions.Hll.bucketCol(v, "stats", HllM),
        graft.functions.Hll.rankCol(v, "stats"), HllM).as(s"__hll_$i"),
      count(col(c)).as(s"__nv_$i"))
  }

  /** The data-file census `(n_files, data_bytes)` of data directory `p`
    * — the freshness stamp every stats row carries and
    * [[readLocalStatRow]] checks, and each version's size in [[history]]. */
  private def census(p: String): (Long, Long) = {
    val files = listDataFiles(new Path(p))
    (files.size.toLong, files.map(_.getLen).sum)
  }

  /** [[census]] as the stats row's `n_files` / `data_bytes` columns. */
  private def censusCols(p: String): Seq[Column] = {
    val (nf, tb) = census(p)
    Seq(lit(nf).as("n_files"), lit(tb).as("data_bytes"))
  }

  /** Register count for the catalog's distinct-count sketch — shared by
    * [[analyzeSketches]], [[appendAnalyzed]], and the stored-estimate
    * reader so geometry can never drift between build and probe. */
  val HllM = 64

  /** The persisted sketch statistics of `table.c` — None when never
    * analyzed on this version or STALE (the data-file census moved since
    * the analyze; see [[analyzeSketches]]'s freshness contract). */
  def readSketchStats(table: String, c: String): Option[DataFrame] =
    readLocalStatRow(table, s"_stats/$c")

  /** Read a one-row stats companion, returning it as LOCAL rows
    * (LocalRelation): the stat consumers chain several heads/selects
    * over the row (geometry, census, estimate arithmetic), and each of
    * those over a parquet-backed frame is its own tiny-but-gap-bounded
    * Spark job — over local rows they fold driver-side
    * (ConvertToLocalRelation) and cost zero jobs. One collect replaces
    * the census head AND every downstream read; the rows, schema, and
    * every Catalyst expression evaluated over them are unchanged. */
  private def readLocalStatRow(table: String,
                               rel: String): Option[DataFrame] = {
    val p = dataPath(table)
    val sp = new Path(s"$p/$rel")
    if (!fs(sp).exists(sp)) None
    else {
      val df = spark.read.parquet(sp.toString)
      val rows = df.collect()
      if (rows.isEmpty) None
      else {
        val stamp = rows.head
        if ((stamp.getAs[Long]("n_files"), stamp.getAs[Long]("data_bytes")) !=
            census(p)) None
        else Some(spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), df.schema))
      }
    }
  }

  /** [[append]] plus sketch-statistics MAINTENANCE in one call: the
    * batch is sketched ONCE and merged into the persisted per-column
    * stats, so the catalog stays CURRENT across appends without ever
    * rescanning the table — the incremental-ANALYZE a 100 TB nightly
    * needs (a full [[analyzeSketches]] after every append pays one
    * table scan per column per day).
    *
    * Merge exactness: CMS is LINEAR (cell-wise sums), so the merged
    * sketch is bit-identical to a fresh whole-table sketch — stored
    * join-size estimates after an append equal the full re-analyze.
    * Space-Saving merges under the mergeable-summaries rule
    * ([[graft.functions.Freq.mergeStored]]): exact below capacity,
    * Metwally bounds above. Counts add.
    *
    * Crash consistency: stats are written AFTER the data lands,
    * stamped with the post-append file census. Dying between the two
    * leaves the OLD stats behind a moved census — exactly the staleness
    * [[readSketchStats]] already withdraws — so a consumer can never
    * plan from half-updated numbers; re-run the append's analyze or a
    * full [[analyzeSketches]] to recover. Requires CURRENT stats for
    * every column (merging into stale stats would silently double- or
    * under-count); call sites without them should append then analyze. */
  def appendAnalyzed(df: DataFrame, table: String,
                     cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "appendAnalyzed needs at least one column")
    // ONE materialization feeds the append AND every maintenance
    // aggregate below (per-column sketch merge, histogram domain check,
    // bin counts): the batch may be non-deterministic (a sample, a
    // limit, a first-wins dedup), and independent actions over a lazy
    // frame could land one row set while folding a DIFFERENT one into
    // the maintained stats — the exact hazard TextIndex.append pins
    // for doclen/postings. Pinning also collapses 2+|cols| evaluations
    // of the input into one pass.
    val batch = Exec.materialize(df)
    // detach the old stats rows from their files BEFORE the append
    // moves the census (and before Overwrite replaces the directory)
    // readSketchStats/readHistogram return LOCAL rows — already
    // detached from their files, no materialize job needed
    val preserved = cols.map { c =>
      c -> readSketchStats(table, c).getOrElse(sys.error(
        s"appendAnalyzed: no CURRENT sketch stats for '$table.$c' — " +
          "run analyzeSketches first, or append() then analyzeSketches()"))
    }
    // histograms maintain OPPORTUNISTICALLY (unlike the required sketch
    // stats): any CURRENT histogram on a maintained column is preserved
    // here and, when the batch stays inside its pinned [v_min, v_max]
    // domain, merged below — bin counts are additive, so the maintained
    // histogram equals a full re-analyze exactly. A batch value OUTSIDE
    // the pinned domain has no bin: that histogram is simply not
    // rewritten, and the moved file census withdraws it (re-analyze to
    // re-pin the domain — the one case maintenance cannot cover).
    val preservedHist = cols.flatMap { c =>
      readHistogram(table, c).map(h => c -> h)
    }
    append(batch, table)
    val p = dataPath(table)
    val stamp = censusCols(p)
    // geometry can differ per column (each analyze call picks its own),
    // so resolve them first, then sketch EVERY maintained column in ONE
    // pass over the pinned batch (the analyzeSketches one-scan shape)
    val geos = preserved.map { case (c, old) =>
      val geo = old.select(col("depth"), col("width"), col("hot_capacity"))
        .head()
      (c, old, geo.getInt(0), geo.getInt(1), geo.getInt(2))
    }
    val batchAggs = geos.zipWithIndex.flatMap {
      case ((c, _, depth, width, cap), i) => sketchAggs(c, i, depth, width, cap)
    } ++ preservedHist.zipWithIndex.flatMap { case ((c, _), i) => Seq(
      // histogram domain probes ride the SAME single batch pass —
      // previously one min/max agg job per maintained histogram
      min(col(c).cast("long")).as(s"__hlo_$i"),
      max(col(c).cast("long")).as(s"__hhi_$i"))
    } :+ count(lit(1)).as("__nr")
    // collected to LOCAL rows: every per-column merge write and domain
    // check below reads the row driver-side, zero extra jobs
    val batchRow = {
      val aggDf = batch.agg(batchAggs.head, batchAggs.tail: _*)
      spark.createDataFrame(
        java.util.Arrays.asList(aggDf.collect(): _*), aggDf.schema)
    }
    geos.zipWithIndex.foreach { case ((c, old, depth, width, cap), i) =>
      old.select(col("cms").as("cms_a"), col("hot").as("hot_a"),
          col("hll").as("hll_a"),
          col("n_values").as("nv_a"), col("n_rows").as("nr_a"))
        .crossJoin(batchRow.select(col(s"__cms_$i").as("cms_b"),
          col(s"__hot_$i").as("hot_b"), col(s"__hll_$i").as("hll_b"),
          col(s"__nv_$i").as("nv_b"), col("__nr").as("nr_b"))) // 1×1
        .select(Seq(lit(depth).as("depth"), lit(width).as("width"),
          lit(cap).as("hot_capacity")) ++ stamp ++ Seq(
          graft.functions.Cms.merge2(col("cms_a"), col("cms_b")).as("cms"),
          graft.functions.Freq.mergeStored(col("hot_a"), col("hot_b"), cap)
            .as("hot"),
          // register max is associative: the merged sketch IS the
          // whole-table sketch, so the maintained distinct estimate
          // equals a full re-analyze exactly
          zip_with(col("hll_a"), col("hll_b"), (x, y) => greatest(x, y))
            .as("hll"),
          (col("nv_a") + col("nv_b")).as("n_values"),
          (col("nr_a") + col("nr_b")).as("n_rows")): _*)
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$p/_stats/$c")
    }
    preservedHist.zipWithIndex.foreach { case ((c, old), i) =>
      val geo = old.select(col("bins"), col("v_min"), col("v_max"),
        col("bin_w")).head()
      val (bins, vmin, vmax, w) =
        (geo.getInt(0), geo.getLong(1), geo.getLong(2), geo.getLong(3))
      // the domain probe rode the shared batch aggregate (no extra job)
      val mm = batchRow.select(col(s"__hlo_$i").as("lo"),
        col(s"__hhi_$i").as("hi")).head()
      val inDomain = mm.isNullAt(0) || // all-null batch adds no mass
        (mm.getLong(0) >= vmin && mm.getLong(1) <= vmax)
      if (inDomain) {
        val binned = histogramBins(batch, c, vmin, w, bins)
          .select(col("counts").as("counts_b"),
            coalesce(col("n_values"), lit(0L)).as("nv_b"))
        old.select(col("counts").as("counts_a"),
            col("n_values").as("nv_a"))
          .crossJoin(binned) // 1 row × 1 row
          .select(Seq(lit(bins).as("bins"), lit(vmin).as("v_min"),
            lit(vmax).as("v_max"), lit(w).as("bin_w")) ++ stamp ++ Seq(
            zip_with(col("counts_a"), col("counts_b"), (x, y) => x + y)
              .as("counts"),
            (col("nv_a") + col("nv_b")).as("n_values")): _*)
          .coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$p/_stats_hist/$c")
      }
    }
  }

  /** Range-selectivity HISTOGRAM for the sketch catalog — the third
    * planner signal beside CMS (equi-join size) and Space-Saving hot
    * keys (skew): an equi-width bin-count table over an INTEGRAL
    * column, persisted beside the data version under the same
    * file-census freshness contract as [[analyzeSketches]].
    *
    * Integral-only by design: bin width `w = (max−min) div bins + 1`
    * and bin index `(v−min) div w` are pure long arithmetic, so the
    * stored counts — and every estimate derived from them — replay
    * bit-exactly on any engine (a float-edged histogram's boundary
    * rounding is libm-flavored). The domain is pinned at analyze time;
    * [[appendAnalyzed]] maintains the bin counts across appends whose
    * batch stays INSIDE the pinned [min, max] (bin arithmetic is
    * additive, so maintained ≡ re-analyze exactly) — a batch value
    * outside the domain has no bin, so domain-escaping appends withdraw
    * the histogram via the census gate; re-analyze to re-pin. */
  def analyzeHistogram(table: String, c: String, bins: Int = 256): Unit = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val p = dataPath(table)
    val stamp = censusCols(p)
    val t = read(table)
    val mm = t.agg(min(col(c).cast("long")).as("lo"),
      max(col(c).cast("long")).as("hi")).head()
    require(!mm.isNullAt(0),
      s"analyzeHistogram: '$table.$c' has no non-null values")
    val (vmin, vmax) = (mm.getLong(0), mm.getLong(1))
    val w = (vmax - vmin) / bins + 1
    histogramBins(t, c, vmin, w, bins)
      .select(Seq(lit(bins).as("bins"), lit(vmin).as("v_min"),
        lit(vmax).as("v_max"), lit(w).as("bin_w")) ++ stamp ++
        Seq(col("counts"), col("n_values")): _*)
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$p/_stats_hist/$c")
  }

  /** The equi-width bin counts of `df.c` over the domain pinned at
    * `vmin` with bin width `w`: one row of `counts` (dense, zero-filled —
    * bins is small, driver-free) and `n_values` (null when `c` holds no
    * non-null value). */
  private def histogramBins(df: DataFrame, c: String, vmin: Long, w: Long,
                            bins: Int): DataFrame =
    df.filter(col(c).isNotNull)
      // `div`, not `/`: long / long is true division through DOUBLE in
      // Spark and mis-bins past 2^53 — the bin index must be exact
      .groupBy(expr(s"(CAST(`$c` AS BIGINT) - ${vmin}L) div ${w}L")
        .as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .agg(map_from_entries(collect_list(struct(col("bin"), col("cnt"))))
        .as("bm"),
        sum(col("cnt")).as("n_values"))
      .select(expr(s"transform(sequence(0, ${bins - 1}), " +
          "b -> coalesce(element_at(bm, cast(b AS bigint)), 0L))")
          .as("counts"),
        col("n_values"))

  /** The persisted histogram of `table.c` — None when never analyzed on
    * this version or stale under the file-census contract. */
  def readHistogram(table: String, c: String): Option[DataFrame] =
    readLocalStatRow(table, s"_stats_hist/$c")

  /** Point-lookup data skipping, part 1: per-FILE Bloom filters over a
    * high-cardinality key — the complement of [[buildZoneMap]] (min/max
    * zones answer RANGE predicates; on a key whose values interleave
    * across files, every zone spans the whole domain and prunes nothing,
    * while a Bloom filter still rules files out for EQUALITY probes).
    * This is the parquet-bloom / Iceberg-puffin shape: filter bytes live
    * in a hidden `_bloomindex/<col>` manifest under the current data
    * directory, one row per file.
    *
    * `expectedItemsPerFile` sizes each filter (callers know it from
    * their target file size — over-sizing costs bitmap bytes, never
    * correctness; an UNDER-sized filter also stays correct, its fpp just
    * degrades). The build is one column-pruned scan; nulls are not
    * indexed (an equality probe can never select a null). Post-build
    * appends stay correct: unknown files are always scanned. */
  def buildBloomIndex(table: String, c: String,
                      expectedItemsPerFile: Long = 1L << 20,
                      fpp: Double = 0.01): Unit = {
    val p = dataPath(table)
    writeSkippingRows(p, Nil, s"$p/_bloomindex/$c",
      bloomAggs(c, expectedItemsPerFile, fpp))
  }

  /** Incremental maintenance for the data-skipping artifacts — the batch
    * twin of [[streamingAppend]]'s self-registering zone maps, and the
    * [[analyzeTable]] maintained-stats story extended to skipping:
    * every stored zone map AND Bloom index gains rows for exactly the
    * files its manifest has never seen (batch appends since the last
    * build/refresh). Unknown files were always scanned (correctness
    * never needed this), but each append batch erodes PRUNING until a
    * rebuild; a refresh restores full skipping at append-batch cost —
    * only the unknown files are read, and only the indexed columns'
    * pages (column-pruned scans, one per artifact).
    *
    * Idempotent: a second refresh finds nothing unknown and writes
    * nothing. Entries for files that vanished (compaction/re-cluster)
    * stay in the manifest but are dropped at READ time
    * ([[resolvePruned]]) — they cost manifest rows, never wrong pruning;
    * [[optimize]]'s full rebuild remains the answer after a rewrite.
    * New Bloom rows are sized by the given parameters (each file's
    * filter is self-describing, so mixed sizings probe correctly). */
  def refreshSkippingIndexes(table: String,
                             bloomExpectedItemsPerFile: Long = 1L << 20,
                             bloomFpp: Double = 0.01): Unit = {
    val p = dataPath(table)
    // keep=false: resolvePruned then returns (∅, manifest-unknown files),
    // on the gate-aware driver-set/join path shared with the readers
    def unknownOf(manifest: Path): Seq[String] =
      resolvePruned(spark.read.parquet(manifest.toString)
        .select(col("file"), lit(false).as("keep")), p)._2
    manifestDirs(p, "_zonemap").foreach { kp =>
      val unknown = unknownOf(kp)
      if (unknown.nonEmpty) writeSkippingRows(p, unknown, kp.toString,
        zoneAggs(kp.getName.split("__").toSeq))
    }
    manifestDirs(p, "_bloomindex").foreach { bp =>
      val unknown = unknownOf(bp)
      if (unknown.nonEmpty) writeSkippingRows(p, unknown, bp.toString,
        bloomAggs(bp.getName, bloomExpectedItemsPerFile, bloomFpp))
    }
  }

  /** The skipping manifests under `<p>/<root>` (`_zonemap` or
    * `_bloomindex`). `_`/`.`-prefixed children are never manifests — a
    * crashed compaction's staging dir, a stray marker — and reading one
    * as a zone key would fail on its nonexistent columns. */
  private def manifestDirs(p: String, root: String): Seq[Path] = {
    val r = new Path(s"$p/$root")
    if (!fs(r).exists(r)) Nil
    else fs(r).listStatus(r).toSeq.map(_.getPath)
      .filter(d => !d.getName.startsWith("_") && !d.getName.startsWith("."))
  }

  /** Manifest hygiene for the skipping artifacts: rewrite every zone-map
    * and Bloom manifest keeping only rows whose data file still exists,
    * one row per file, collapsed back to ONE parquet file. Needed over a
    * table's life because [[refreshSkippingIndexes]] and the streaming
    * self-registration add a small manifest file per batch, and
    * compaction/re-cluster strands rows for vanished files — read-time
    * reconciliation drops them ([[resolvePruned]]), but the manifest
    * itself accumulates the very small-files problem it exists to
    * mitigate (at 10⁵-10⁷ manifest rows the dead weight is real).
    *
    * Per manifest: write the rewrite to a hidden `_<key>.compact.tmp`
    * sibling, move its one file into the live dir under a fresh name,
    * then delete the files it replaces. No directory is ever renamed.
    * A crash leaves either a stray staging dir (hidden, swept by the
    * next compaction) or the compacted file beside the files it
    * replaces — duplicate rows for the same files, which cannot change
    * an answer (both readers reduce the kept files to a set) and which
    * the next compaction drops. Returns (manifest dir, rows before, rows
    * after) per manifest compacted. */
  def compactSkippingManifests(table: String): Seq[(String, Long, Long)] = {
    import spark.implicits._
    val p = dataPath(table)
    val actualDf = listDataFiles(new Path(p))
      .map(_.getPath.toUri.getPath).toDF("__live")
    def compactDir(dir: Path): (String, Long, Long) = {
      val f = fs(dir)
      val staging = new Path(dir.getParent, s"_${dir.getName}.compact.tmp")
      if (f.exists(staging)) f.delete(staging, true)
      val replaced = listDataFiles(dir).map(_.getPath)
      def manifestRows = spark.read.parquet(replaced.map(_.toString): _*)
      // ONE job: the before/after row counts ride the staging write as
      // observed metrics (the semi-join consumes every manifest row, so
      // both counts land) — not two count jobs per manifest
      def tag(prefix: String) = s"${prefix}_${dir.getName.take(20)}_" +
        java.util.UUID.randomUUID().toString.take(8)
      val (manifest, beforeM) = Exec.observed(manifestRows,
        tag("compact"), Map("before" -> count(lit(1))))
      val live = manifest
        .join(actualDf, normFile === col("__live"), "left_semi")
        .dropDuplicates("file")
      val (liveObserved, afterM) = Exec.observed(live, tag("compactL"),
        Map("after" -> count(lit(1))))
      liveObserved.coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(staging.toString)
      // PropagateEmptyRelation can prune an observed subtree outright
      // (e.g. every data file vanished → empty semi-join build side),
      // in which case the metric never lands and the observation is an
      // empty map — fall back to the counting job only on that rare path
      val before = beforeM().get("before").map(_.asInstanceOf[Long])
        .getOrElse(manifestRows.count())
      val after = afterM().get("after").map(_.asInstanceOf[Long])
        .getOrElse(live.count())
      if (after == 0) {
        // every indexed file vanished: an empty manifest dir can be
        // schema-unreadable — drop the manifest entirely (no manifest =
        // no pruning, the correct conservative answer); the just-staged
        // empty rewrite is garbage either way
        f.delete(staging, true)
        f.delete(dir, true)
        return (dir.toString, before, 0L)
      }
      val fresh = java.util.UUID.randomUUID().toString.take(8)
      listDataFiles(staging).foreach { st =>
        moveStaged(st.getPath,
          new Path(dir, s"compact-$fresh-${st.getPath.getName}"))
      }
      replaced.foreach(f.delete(_, false))
      f.delete(staging, true)
      (dir.toString, before, after)
    }
    Seq("_zonemap", "_bloomindex").flatMap(manifestDirs(p, _)).map(compactDir)
  }

  /** Point-lookup skipping, part 2: the files an `c IN (values)` scan
    * needs — (kept, unknown). A file is kept when its filter claims ANY
    * probe value might be present; files the manifest has never seen are
    * always scanned. The membership tests run IN the manifest scan
    * (filters never ship to the driver — only surviving file NAMES
    * collect, so driver memory stays at planner metadata scale however
    * large the bitmaps are). None when no index covers `c`. */
  def bloomPrunedFiles(table: String, c: String,
                       values: Seq[Any]): Option[(Seq[String], Seq[String])] = {
    require(values.nonEmpty, "bloom pruning needs at least one probe value")
    val p = dataPath(table)
    val broot = new Path(s"$p/_bloomindex/$c")
    if (!fs(broot).exists(broot)) None
    else {
      val manifest = spark.read.parquet(broot.toString)
      val probes = castProbes(table, c, values)
      val hit = probes.map(graft.functions.BloomIndexFunctions
        .bloomProbe(col("bloom"), _)).reduce(_ || _)
      Some(resolvePruned(manifest.select(col("file"), hit.as("keep")), p))
    }
  }

  /** Reconcile probe literals with the indexed column's type: the Bloom
    * build hashes the COLUMN's domain (integrals via putLong, strings/
    * binary via putBinary — [[graft.functions.BloomAgg]]), so a probe of
    * a string column with an Int (or a long column with "42") would hash
    * in a different domain than the build and prune every file away —
    * while the no-index fallback's implicit-cast `isin` would match.
    * Each probe is cast to the column type; a probe the cast cannot
    * represent (e.g. "abc" against a long column) fails LOUDLY here
    * instead of silently returning empty. Null probes pass through (an
    * equality probe never selects null; the filter never indexed them).
    * The same cast list feeds the precise predicate, so the pruned and
    * unpruned reads answer identically by construction. */
  private def castProbes(table: String, c: String,
                         values: Seq[Any]): Seq[Column] = {
    val dt = schemaOf(table)(c).dataType
    // try_cast: malformed values must surface as nulls HERE (for the loud
    // check below) whatever the session's ANSI mode says about plain cast
    val casted = spark.range(1)
      .select(values.zipWithIndex.map { case (v, i) =>
        lit(v).try_cast(dt).as(s"v$i")
      }.toSeq: _*).head() // literals only — one driver-local row
    values.zipWithIndex.foreach { case (v, i) =>
      require(v == null || !casted.isNullAt(i),
        s"bloom probe on '$table.$c': value '$v' " +
          s"(${v.getClass.getSimpleName}) is not representable as the " +
          s"indexed column's ${dt.simpleString} — an uncastable probe " +
          "would hash outside the build domain and silently prune " +
          "every file")
    }
    values.map(v => lit(v).cast(dt))
  }

  /** Point-lookup skipping, part 3: `read(table).filter(c IN values)`
    * scanning only the files [[bloomPrunedFiles]] admits (false positives
    * are removed by the re-applied precise predicate; false negatives
    * cannot happen — that is the Bloom guarantee). Falls back to the
    * plain filtered read when no index covers `c`. */
  def readBloomPruned(table: String, c: String, values: Seq[Any]): DataFrame = {
    val p = dataPath(table)
    // the SAME casts on both paths — indexed and index-free reads must
    // answer identically whatever implicit-cast rule a bare isin would
    // have picked
    val pred = col(c).isin(castProbes(table, c, values): _*)
    bloomPrunedFiles(table, c, values) match {
      case None => readPath(p).filter(pred)
      case Some((kept, unknown)) =>
        readFileSubset(p, (kept ++ unknown).distinct.sorted, pred)
    }
  }

  /** Consistent MULTI-TABLE snapshot export: every listed table read
    * [[readAsOf]] the SAME instant, so cross-table invariants (fact rows
    * ↔ dimension rows published together) hold in the exported set even
    * while publishes keep landing concurrently — the cross-table
    * consistency single-table time travel can't give. Loud if any table
    * has no version at the instant. */
  def exportSnapshot(tables: Seq[String], utc: java.time.Instant,
                     outDir: String): Unit = {
    require(tables.nonEmpty, "exportSnapshot needs at least one table")
    // all-or-nothing across tables: every table lands in a staging
    // sibling first, ONE rename exposes the set. A failure mid-list
    // leaves only the staging dir (junk, fresh per attempt — a retry is
    // never blocked by a torn half-export), and a directory existing at
    // `outDir` is by construction a COMPLETE snapshot.
    val out = new Path(outDir)
    val f = fs(out)
    // an EMPTY pre-created target (mkdtemp-style callers) is fine — it is
    // replaced by the rename; anything non-empty is by construction a
    // complete snapshot and immutable
    if (f.exists(out)) {
      require(f.getFileStatus(out).isDirectory &&
          f.listStatus(out).isEmpty,
        s"exportSnapshot: '$outDir' already exists and is non-empty — " +
          "exports are immutable (a dir at the target path is always a " +
          "complete snapshot)")
      f.delete(out, false)
      ()
    }
    val staging = new Path(s"$outDir.inprogress-${newVersionId()}")
    try {
      tables.foreach { t =>
        readAsOf(t, utc).write.mode(SaveMode.ErrorIfExists)
          .parquet(s"$staging/$t")
      }
      val parent = out.getParent
      if (parent != null && !f.exists(parent)) f.mkdirs(parent)
      require(f.rename(staging, out),
        s"exportSnapshot: rename $staging -> $outDir failed")
    } finally {
      if (f.exists(staging)) f.delete(staging, true) // failed attempt only
      ()
    }
  }

  /** ORC edge (the columnar-interchange sibling of the CSV edge): export
    * a table as ORC for engines standardized on it. */
  def exportOrc(name: String, outPath: String): Unit =
    read(name).write.mode(SaveMode.ErrorIfExists).orc(outPath)

  /** Read an ORC directory with a DECLARED schema (never inferred —
    * the same discipline every other edge here follows). */
  def readOrc(path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** S14: timestamped backup of a table before mutation; returns the
    * backup path (restore = read(backupPath) + overwrite). */
  def backup(name: String): String = {
    // millisecond resolution + random suffix (the version-id format):
    // two backups of the same table in the same second must not collide
    val out = s"$root/_backups/$name/${newVersionId()}"
    read(name).write.parquet(out)
    out
  }

  /** Restore a table from a path produced by [[backup]] — the other half
    * of the reference's extract-table safety net. The backup lives in a
    * different directory, so a direct overwrite is safe (no self-read).
    *
    * The restored version keeps the table's LAYOUT: a partitioned table
    * republishes under its partition columns (the backup carries them as
    * data columns) and a bucketed table re-buckets under its catalog
    * spec — a plain overwrite would silently strip partition pruning,
    * and for bucketed tables would leave the catalog pointing at the
    * pre-restore version while `read()` resolves the restored one. */
  def restore(name: String, backupPath: String): Unit = {
    val df = spark.read.parquet(backupPath)
    if (isBucketedCatalogTable(name)) {
      val spec = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(name))
        .bucketSpec.get
      overwriteBucketed(df, name, spec.bucketColumnNames, spec.numBuckets)
    } else partitioningOf(name) match {
      case Seq() => overwrite(df, name)
      case parts => overwritePartitioned(df, name, parts)
    }
  }

  /** S8: catalog listing (INFORMATION_SCHEMA.TABLES analogue). */
  def listTables(): Seq[String] = {
    val p = new Path(root)
    val f = fs(p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_"))
      .map(_.getPath.getName).sorted
  }

  /** SQL surface: register every table as a temp view so `spark.sql`
    * queries run against the warehouse by name (the BigQuery-SQL entry
    * point of the reference, S5/S8 — views also appear in
    * `spark.catalog.listTables`). */
  def registerAll(): Unit = {
    listTables().foreach(t => read(t).createOrReplaceTempView(t))
    // views after tables: a view's SQL may reference any table (or an
    // earlier view — listed order is lexicographic, so name accordingly)
    listViews().foreach { v =>
      spark.sql(viewSql(v)).createOrReplaceTempView(v)
    }
  }

  // ── persisted views: the BigQuery-dataset view surface. A view is a
  // stored SQL text (not data); registerAll materializes it as a temp
  // view over the registered tables, so any Warehouse instance on this
  // root sees the same derived tables.

  private def viewPath(name: String) = new Path(s"$root/_views/$name.sql")

  /** Store (or replace) a named view definition. Atomic: a reader of the
    * definition sees old or new text, never a torn file. */
  def createView(name: String, sqlText: String): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"view name '$name' must be a plain identifier")
    atomicWrite(viewPath(name), sqlText)
  }

  def viewSql(name: String): String = {
    val text = atomicRead(viewPath(name))
    require(text.isDefined, s"no view named '$name'")
    text.get.trim
  }

  def listViews(): Seq[String] = {
    val vroot = new Path(s"$root/_views")
    val f = fs(vroot)
    if (!f.exists(vroot)) Seq.empty
    else f.listStatus(vroot).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".sql")).map(_.stripSuffix(".sql")).sorted
  }

  def dropView(name: String): Unit = {
    val p = viewPath(name)
    rawFs(p).delete(p, false)
    ()
  }

  def sql(query: String): DataFrame = spark.sql(query)

  /** S1-S4: CSV scan with declared schema; `encoding` covers the
    * latin-1 sources. */
  def readCsv(path: String, schema: StructType,
              encoding: String = "UTF-8",
              dateFormat: String = "M/d/yy"): DataFrame =
    spark.read
      .option("header", "true")
      .option("encoding", encoding)
      .option("dateFormat", dateFormat)
      .schema(schema)
      .csv(path)

  /** S3: charset-fallback scan — try utf-8, fall back to latin-1, the
    * reference's `except UnicodeDecodeError` pattern
    * (notebooks/append_gridVeg_groundCover_intercepts.ipynb: utf-8 read,
    * latin-1 retry). The sniff streams EVERY byte of each file through a
    * strict decoder driver-side, like the reference's whole-file decode
    * (latin-1 itself can never fail — every byte is valid — so the choice
    * must be made by testing utf-8). That is one extra serial pass over
    * the CSVs: fine for the reference's export files; for huge
    * machine-generated feeds, declare the encoding via [[readCsv]]
    * instead.
    */
  def readCsvWithFallback(path: String, schema: StructType,
                          dateFormat: String = "M/d/yy"): DataFrame = {
    val enc = if (decodesAsUtf8(path)) "UTF-8" else "ISO-8859-1"
    readCsv(path, schema, enc, dateFormat)
  }

  /** JSONL (newline-delimited JSON) scan — the de-facto corpus
    * interchange format of LLM data pipelines. Schema is DECLARED, never
    * inferred (inference is a second full pass over the input, and it
    * silently drifts when a rare field appears late in 100 TB).
    * Malformed lines are CAPTURED, not dropped: PERMISSIVE mode parks
    * the raw line in `corruptCol` with every data field null, so a
    * poisoned shard surfaces as queryable rows
    * (`WHERE corruptCol IS NOT NULL`) instead of silently shrinking the
    * corpus — the Multimodal poison-row contract applied to ingest. */
  def readJsonl(path: String, schema: StructType,
                corruptCol: String = "_corrupt_record"): DataFrame =
    spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .schema(schema.add(corruptCol, org.apache.spark.sql.types.StringType))
      .json(path)

  /** JSONL export, one file per task — corpus interchange is big by
    * definition, so unlike [[exportCsv]] (single-file summary tables)
    * this stays partitioned and writes in parallel. `keepNulls = true`
    * writes explicit `"field": null` entries so a re-read under the same
    * declared schema reproduces the frame exactly; the default drops
    * them (the compact corpus-exchange convention — readers treat absent
    * and null alike). */
  def exportJsonl(df: DataFrame, path: String,
                  keepNulls: Boolean = false): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("ignoreNullFields", !keepNulls)
      .json(path)

  /** Strictly decode EVERY byte of every file as utf-8 (the reference's
    * except-UnicodeDecodeError checks whole files — a lone latin-1 byte
    * megabytes in must still trigger the fallback). Chunked streaming
    * decode: constant memory, multi-byte sequences split across chunk
    * boundaries carry over via the CharsetDecoder's incremental API. */
  private def decodesAsUtf8(path: String): Boolean = {
    val p = new Path(path)
    val f = fs(p)
    val files =
      if (f.getFileStatus(p).isDirectory)
        f.listStatus(p).toSeq.filter(_.isFile).map(_.getPath)
      else Seq(p)
    files.forall { file =>
      val in = f.open(file)
      try {
        val dec = StandardCharsets.UTF_8.newDecoder()
          .onMalformedInput(CodingErrorAction.REPORT)
          .onUnmappableCharacter(CodingErrorAction.REPORT)
        val inBuf = java.nio.ByteBuffer.allocate(64 * 1024)
        val outBuf = java.nio.CharBuffer.allocate(64 * 1024)
        val chunk = new Array[Byte](32 * 1024)
        var ok = true
        var eof = false
        while (ok && !eof) {
          val n = in.read(chunk)
          if (n < 0) eof = true else inBuf.put(chunk, 0, n)
          inBuf.flip()
          var res = dec.decode(inBuf, outBuf, eof)
          while (ok && (res.isOverflow || res.isError)) {
            if (res.isError) ok = false
            else { outBuf.clear(); res = dec.decode(inBuf, outBuf, eof) }
          }
          if (ok && eof) {
            outBuf.clear()
            if (dec.flush(outBuf).isError) ok = false
          }
          inBuf.compact()
          outBuf.clear()
        }
        ok
      } finally in.close()
    }
  }


  /** S15 + S12/P27: single-file CSV export with the reference's load-path
    * formatting — whole-valued doubles render as ints ("8", not "8.0") and
    * nulls as "" (update_gridVeg_point_intercepts.ipynb int-stringify +
    * fillna("") before load). The wrangle outputs are small summary
    * tables; coalesce(1) matches the reference's one-file write_csv. */
  def exportCsv(df: DataFrame, path: String): Unit = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType =>
          // the whole-value test runs in double (exact for both types) but
          // the fractional fallback stringifies the ORIGINAL column —
          // widening a float first would print double noise ("0.1" →
          // "0.10000000149011612")
          val d = col(f.name).cast(DoubleType)
          when(col(f.name).isNull, lit(null).cast("string"))
            .when(d === floor(d) && d.between(-1e15, 1e15),
              d.cast("long").cast("string"))
            .otherwise(col(f.name).cast("string"))
            .as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toSeq: _*).coalesce(1).write
      .option("header", "true")
      .option("nullValue", "")
      .option("emptyValue", "")
      .mode(SaveMode.Overwrite).csv(path)
  }
}

object Warehouse {
  /** Where a table's micro-batches land: its data directory, that
    * directory's partition columns, and the schema every batch aligns to
    * (None before the table's first write — the first batch defines it). */
  private final case class LandingTarget(p: String, parts: Seq[String],
                                         expected: Option[StructType])
}

/** Mergeable-aggregate column spec for incremental view maintenance:
  * `out` = output column name, `op` ∈ {sum, count, min, max}, `in` =
  * input column (ignored for count). These four are the ops whose
  * partials RE-COMBINE losslessly (sum of sums, sum of counts, min of
  * mins, max of maxes) — avg is `sum`+`count` divided at read time;
  * COUNT DISTINCT needs the HLL/KMV sketches, not this path.
  */
final case class AggSpec(out: String, op: String, in: String = "")

object AggSpec {
  private val Ops = Set("sum", "count", "min", "max")

  private[engine] def validate(specs: Seq[AggSpec], keys: Seq[String]): Unit = {
    require(specs.nonEmpty, "maintainAggregate needs at least one AggSpec")
    require(keys.nonEmpty, "maintainAggregate needs at least one key")
    specs.foreach { s =>
      require(Ops.contains(s.op), s"AggSpec '${s.out}': op '${s.op}' not in $Ops")
      require(s.op == "count" || s.in.nonEmpty,
        s"AggSpec '${s.out}': op '${s.op}' needs an input column")
      require(!keys.contains(s.out), s"AggSpec '${s.out}' collides with a key")
    }
    require(specs.map(_.out).distinct.size == specs.size,
      "AggSpec output names must be distinct")
  }

  /** One micro-batch's partial rows: |groups| rows, map-side combined. */
  private[engine] def partial(df: DataFrame, keys: Seq[String],
                              specs: Seq[AggSpec]): DataFrame = {
    val aggs = specs.map {
      case AggSpec(out, "sum", in)   => sum(col(in)).as(out)
      case AggSpec(out, "count", _)  => count(lit(1)).as(out)
      case AggSpec(out, "min", in)   => min(col(in)).as(out)
      case AggSpec(out, "max", in)   => max(col(in)).as(out)
      case s => throw new IllegalArgumentException(s.toString)
    }
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Re-combine partials (a combined row is itself a valid partial, so
    * combine ∘ combine = combine — what makes compaction safe). Each
    * output keeps its partial's type: a decimal `sum` would otherwise
    * widen by 10 digits per combine, and a compacted snapshot would
    * refuse the next stream run's partials. */
  private[engine] def combine(partials: DataFrame, keys: Seq[String],
                              specs: Seq[AggSpec]): DataFrame = {
    val aggs = specs.map { s =>
      val c = s.op match {
        case "sum" | "count" => sum(col(s.out))
        case "min"           => min(col(s.out))
        case "max"           => max(col(s.out))
        case _ => throw new IllegalArgumentException(s.toString)
      }
      c.cast(partials.schema(s.out).dataType).as(s.out)
    }
    partials.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
