package graft.engine

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Per-file min/max zone maps (Delta/Iceberg-style data skipping): a
  * selective range scan over a range-clustered layout must touch a
  * fraction of the files, and pruning must never change results — not
  * even against files appended or compacted after the map was built. */
class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot = Files.createTempDirectory("wh-zm").toString

  private def clustered(wh: Warehouse): Unit = {
    // range-partitioned write → each of the 8 files covers a narrow k
    // band, the layout zone maps are built for
    val df = (1 to 8000).map(i => (i.toLong, i % 97, s"v$i"))
      .toDF("k", "grp", "v")
    wh.overwrite(df.repartitionByRange(8, col("k")), "t")
  }

  test("optimize: one call re-clusters, rebuilds skipping artifacts, " +
      "preserves every row") {
    val wh = new Warehouse(spark, freshRoot)
    // deliberately UNclustered: k scattered across 8 hash partitions
    val df = (1 to 8000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    wh.overwrite(df.repartition(8), "t")
    wh.optimize("t", Seq("k"), partitions = 8, bloomCols = Seq("k"))
    // data intact
    assert(wh.read("t").orderBy("k").collect().toSeq ==
      df.orderBy("k").collect().toSeq)
    // the re-cluster made the zone map selective
    val Some((kept, unknown)) = wh.zonePrunedFiles("t", "k", 100L, 300L)
    assert(unknown.isEmpty && kept.size <= 2, s"kept=${kept.size}")
    // and the bloom index covers point lookups
    val Some((bkept, bunknown)) = wh.bloomPrunedFiles("t", "k", Seq(4242L))
    assert(bunknown.isEmpty && bkept.size <= 2)
    assert(wh.readBloomPruned("t", "k", Seq(4242L)).count() == 1L)
  }

  test("pruned range read skips most files and matches the full scan") {
    val wh = new Warehouse(spark, freshRoot)
    clustered(wh)
    wh.buildZoneMap("t", Seq("k"))
    val Some((kept, unknown)) = wh.zonePrunedFiles("t", "k", 100L, 300L)
    assert(unknown.isEmpty) // manifest covers every file
    assert(kept.size <= 2, s"kept ${kept.size} of 8 files") // narrow band
    val got = wh.readZonePruned("t", "k", 100L, 300L)
      .select("k", "grp", "v").orderBy("k")
    val want = wh.read("t").filter(col("k").between(100L, 300L))
      .select("k", "grp", "v").orderBy("k")
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("files appended after the build are always scanned (stale-safe)") {
    val wh = new Warehouse(spark, freshRoot)
    clustered(wh)
    wh.buildZoneMap("t", Seq("k"))
    // rows INSIDE the queried range, landed after the manifest
    wh.append(Seq((150L, 1, "late1"), (9999L, 2, "late2")).toDF("k", "grp", "v"), "t")
    val Some((kept, unknown)) = wh.zonePrunedFiles("t", "k", 100L, 300L)
    assert(unknown.nonEmpty) // the appended file is unknown → scanned
    val got = wh.readZonePruned("t", "k", 100L, 300L).select("k", "v")
    assert(got.filter(col("v") === "late1").count() == 1)   // not lost
    assert(got.filter(col("v") === "late2").count() == 0)   // precise filter
    assert(got.count() ==
      wh.read("t").filter(col("k").between(100L, 300L)).count())
  }

  test("compaction invalidates manifest entries without losing rows") {
    val wh = new Warehouse(spark, freshRoot)
    clustered(wh)
    wh.buildZoneMap("t", Seq("k"))
    wh.compact("t", numFiles = 2) // rewrites every file (new version)
    // kept entries point at vanished files → dropped; rewritten files are
    // unknown → scanned. Nothing lost, nothing double-read.
    val got = wh.readZonePruned("t", "k", 100L, 300L)
    assert(got.count() ==
      wh.read("t").filter(col("k").between(100L, 300L)).count())
  }

  test("no covering zone map falls back to the plain filtered read") {
    val wh = new Warehouse(spark, freshRoot)
    clustered(wh)
    wh.buildZoneMap("t", Seq("grp")) // map exists, but not over k
    val pruned = wh.zonePrunedFiles("t", "k", 1L, 10L)
    assert(pruned.isEmpty)
    assert(wh.readZonePruned("t", "k", 1L, 10L).count() == 10)
    // the grp map itself is usable
    assert(wh.zonePrunedFiles("t", "grp", 5, 5).isDefined)
  }

  test("Z-order layout + zone maps prune on BOTH dimensions at once") {
    val wh = new Warehouse(spark, freshRoot)
    val rng = new scala.util.Random(31)
    val df = (1 to 20000).map { i =>
      (i.toLong, rng.nextInt(1024), rng.nextInt(1024))
    }.toDF("id", "x", "y")
    wh.overwrite(graft.operators.Layout.zorder(df, Seq("x", "y"),
      partitions = 16, bits = 10), "t3")
    wh.buildZoneMap("t3", Seq("x", "y"))
    val total = wh.zonePrunedFiles("t3", "x", 0, 1023).get._1.size
    // a narrow slab in EITHER dimension prunes — that's the point of the
    // Morton interleave vs a single-column sort
    val xKept = wh.zonePrunedFiles("t3", "x", 100, 160).get._1.size
    val yKept = wh.zonePrunedFiles("t3", "y", 100, 160).get._1.size
    assert(xKept < total, s"x slab kept $xKept of $total")
    assert(yKept < total, s"y slab kept $yKept of $total")
    // and results stay exact on both axes
    for (c <- Seq("x", "y")) {
      assert(wh.readZonePruned("t3", c, 100, 160).count() ==
        wh.read("t3").filter(col(c).between(100, 160)).count())
    }
    // conjunctive pruning: the 2-D point query scans the INTERSECTION
    val both = wh.readZonePrunedAll("t3",
      Seq(("x", 100, 160), ("y", 100, 160)))
    assert(both.count() == wh.read("t3")
      .filter(col("x").between(100, 160) && col("y").between(100, 160))
      .count())
  }

  test("distributed membership past the driver gate: join path answers " +
      "identically to the driver-set path, stale files included") {
    val wh = new Warehouse(spark, freshRoot)
    clustered(wh)
    wh.buildZoneMap("t", Seq("k"))
    // post-build append -> a genuinely unknown file on both paths
    wh.append((9001 to 9100).map(i => (i.toLong, i % 97, s"v$i"))
      .toDF("k", "grp", "v").coalesce(1), "t")
    val Some((keptSets, unkSets)) = wh.zonePrunedFiles("t", "k", 100L, 300L)
    val gateKey = wh.MaxDriverPruneFilesKey
    try {
      spark.conf.set(gateKey, "0") // every listing exceeds the gate
      val Some((keptJoin, unkJoin)) = wh.zonePrunedFiles("t", "k", 100L, 300L)
      assert(keptJoin.toSet == keptSets.toSet &&
        unkJoin.toSet == unkSets.toSet,
        s"join path diverged: kept $keptJoin vs $keptSets")
      // and the read itself stays exact
      assert(wh.readZonePruned("t", "k", 100L, 300L).count() ==
        wh.read("t").filter(col("k").between(100, 300)).count())
      // bloom shares the helper: same equivalence for point probes
      wh.buildBloomIndex("t", "k", expectedItemsPerFile = 1L << 12)
      val Some((bk, bu)) = wh.bloomPrunedFiles("t", "k", Seq(150L, 9050L))
      spark.conf.unset(gateKey)
      val Some((bk2, bu2)) = wh.bloomPrunedFiles("t", "k", Seq(150L, 9050L))
      assert(bk.toSet == bk2.toSet && bu.toSet == bu2.toSet)
    } finally spark.conf.unset(gateKey)
  }

  test("refreshSkippingIndexes registers appended files incrementally: " +
      "pruning restored without a rebuild, idempotent, blooms included") {
    val wh = new Warehouse(spark, freshRoot)
    clustered(wh)
    wh.buildZoneMap("t", Seq("k"))
    wh.buildBloomIndex("t", "k", expectedItemsPerFile = 1L << 12)
    // appended rows far OUTSIDE the queried band, landed after the build
    wh.append((20001 to 20100).map(i => (i.toLong, i % 97, s"v$i"))
      .toDF("k", "grp", "v").coalesce(1), "t")
    assert(wh.zonePrunedFiles("t", "k", 100L, 300L).get._2.nonEmpty)
    wh.refreshSkippingIndexes("t", bloomExpectedItemsPerFile = 1L << 12)
    // nothing is manifest-unknown anymore, so the disjoint-range appended
    // file is PRUNED again instead of conservatively scanned
    val Some((kept, unknown)) = wh.zonePrunedFiles("t", "k", 100L, 300L)
    assert(unknown.isEmpty, s"unknown after refresh: $unknown")
    assert(kept.size <= 2, s"kept ${kept.size}")
    // the appended band is reachable through its own fresh manifest row
    assert(wh.readZonePruned("t", "k", 20001L, 20100L).count() == 100)
    val Some((bandKept, _)) = wh.zonePrunedFiles("t", "k", 20001L, 20100L)
    assert(bandKept.size == 1, s"band kept $bandKept")
    // the bloom index was refreshed in the same call
    val Some((bkept, bunknown)) = wh.bloomPrunedFiles("t", "k", Seq(20050L))
    assert(bunknown.isEmpty, s"bloom unknown after refresh: $bunknown")
    assert(bkept.size == 1, s"bloom kept $bkept")
    assert(wh.readBloomPruned("t", "k", Seq(20050L)).count() == 1)
    // idempotent: a second refresh registers nothing twice (a duplicate
    // row would double the full-range kept list)
    val all = wh.zonePrunedFiles("t", "k", Long.MinValue, Long.MaxValue)
      .get._1.size
    wh.refreshSkippingIndexes("t", bloomExpectedItemsPerFile = 1L << 12)
    assert(wh.zonePrunedFiles("t", "k", Long.MinValue, Long.MaxValue)
      .get._1.size == all)
  }

  test("refreshSkippingIndexes on a hive-partitioned table keeps " +
      "partition typing and answers exactly") {
    val wh = new Warehouse(spark, freshRoot)
    val df = (1 to 2000).map(i => (i.toLong, i % 4, s"v$i"))
      .toDF("k", "part", "v")
    wh.overwritePartitioned(df.repartitionByRange(4, col("k")), "t4",
      Seq("part"))
    wh.buildZoneMap("t4", Seq("k"))
    wh.append(Seq((9001L, 1, "late")).toDF("k", "part", "v"), "t4")
    wh.refreshSkippingIndexes("t4")
    val Some((_, unknown)) = wh.zonePrunedFiles("t4", "k", 1L, 10L)
    assert(unknown.isEmpty, s"unknown after refresh: $unknown")
    assert(wh.readZonePruned("t4", "k", 9000L, 9100L).count() == 1)
    assert(wh.readZonePruned("t4", "k", 10L, 20L).count() == 11)
  }

  test("compactSkippingManifests: per-batch manifest files collapse to " +
      "one, vanished-file rows drop, pruning answers unchanged") {
    val wh = new Warehouse(spark, freshRoot)
    clustered(wh)
    wh.buildZoneMap("t", Seq("k"))
    wh.buildBloomIndex("t", "k", expectedItemsPerFile = 1L << 12)
    // three append+refresh cycles -> a manifest parquet file per cycle
    for (i <- 1 to 3) {
      wh.append(Seq((20000L + i, i, s"late$i")).toDF("k", "grp", "v")
        .coalesce(1), "t")
      wh.refreshSkippingIndexes("t", bloomExpectedItemsPerFile = 1L << 12)
    }
    val p = new org.apache.hadoop.fs.Path(wh.dataPath("t"))
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    def manifestParts(sub: String): Int =
      f.listStatus(new org.apache.hadoop.fs.Path(p, sub)).count(st =>
        st.getPath.getName.endsWith(".parquet"))
    assert(manifestParts("_zonemap/k") >= 4)
    // vanish one appended data file (crash-repair/manual-delete analogue):
    // its rows leave the DATA too, so reads agree with the slimmer manifest
    val victim = f.listStatus(p).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .maxBy(_.getName) // any one data file — the invariants hold for all
    f.delete(victim, false)
    val report = wh.compactSkippingManifests("t")
    assert(report.size == 2, report.toString) // zone "k" + bloom "k"
    report.foreach { case (dir, before, after) =>
      assert(after == before - 1, s"$dir: $before -> $after")
    }
    assert(manifestParts("_zonemap/k") == 1)
    assert(manifestParts("_bloomindex/k") == 1)
    // reads still answer the precise predicates, nothing manifest-unknown
    assert(wh.readZonePruned("t", "k", 100L, 300L).count() ==
      wh.read("t").filter(col("k").between(100L, 300L)).count())
    assert(wh.zonePrunedFiles("t", "k", 1L, 10L).get._2.isEmpty)
    assert(wh.bloomPrunedFiles("t", "k", Seq(150L)).get._2.isEmpty)
    assert(wh.readBloomPruned("t", "k", Seq(150L)).count() ==
      wh.read("t").filter(col("k") === 150L).count())
  }

  test("manifest compaction crash leftovers never change answers") {
    val wh = new Warehouse(spark, freshRoot)
    clustered(wh)
    wh.buildZoneMap("t", Seq("k"))
    wh.buildBloomIndex("t", "k", expectedItemsPerFile = 1L << 12)
    val p = new org.apache.hadoop.fs.Path(wh.dataPath("t"))
    val conf = spark.sessionState.newHadoopConf()
    val f = p.getFileSystem(conf)
    val manifests = Seq("_zonemap/k", "_bloomindex/k")
      .map(new org.apache.hadoop.fs.Path(p, _))
    def staging(m: org.apache.hadoop.fs.Path) =
      new org.apache.hadoop.fs.Path(m.getParent, s"_${m.getName}.compact.tmp")
    def parts(m: org.apache.hadoop.fs.Path) = f.listStatus(m).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq
    def answersHold(): Unit = {
      assert(wh.readZonePruned("t", "k", 100L, 300L).collect().toSet ==
        wh.read("t").filter(col("k").between(100L, 300L)).collect().toSet)
      assert(wh.readBloomPruned("t", "k", Seq(150L, 7001L)).collect().toSet ==
        wh.read("t").filter(col("k").isin(150L, 7001L)).collect().toSet)
    }
    // a crash before the move: the staged rewrite is left beside the live
    // manifest (a copy of it stands in for the rewrite)
    manifests.foreach(m => org.apache.hadoop.fs.FileUtil.copy(f, m, f,
      staging(m), false, conf))
    answersHold()
    // a crash after the move, before the replaced files are deleted: the
    // compacted file sits beside them, so every file has two rows
    manifests.foreach(m => parts(m).foreach(pp =>
      org.apache.hadoop.fs.FileUtil.copy(f, pp, f,
        new org.apache.hadoop.fs.Path(m, s"compact-crash-${pp.getName}"),
        false, conf)))
    assert(spark.read.parquet(manifests.head.toString).count() == 16L)
    answersHold()
    val report = wh.compactSkippingManifests("t")
    assert(report.size == 2, report.toString)
    report.foreach { case (dir, before, after) =>
      assert(before == 16L && after == 8L, s"$dir: $before -> $after")
    }
    manifests.foreach { m =>
      assert(parts(m).size == 1, parts(m).toString)
      val rows = spark.read.parquet(m.toString)
      assert(rows.count() == 8L && rows.select("file").distinct().count() == 8L)
      assert(!f.exists(staging(m)), s"${staging(m)} left behind")
    }
    answersHold()
    assert(wh.zonePrunedFiles("t", "k", 1L, 10L).get._2.isEmpty)
  }

  test("buildZoneMap refuses a column name containing '__' (the manifest " +
      "key joiner cannot encode it round-trip)") {
    val wh = new Warehouse(spark, freshRoot)
    wh.publish(Seq((1L, 2L)).toDF("a__b", "k"), "tbad")
    val e = intercept[RuntimeException] {
      wh.buildZoneMap("tbad", Seq("a__b"))
    }
    assert(e.getMessage.contains("__"), e.getMessage)
  }

  test("compactSkippingManifests drops a manifest whose files ALL " +
      "vanished; reads fall back to the plain scan") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwrite((1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .coalesce(1), "tv")
    wh.buildZoneMap("tv", Seq("k"))
    val p = new org.apache.hadoop.fs.Path(wh.dataPath("tv"))
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    f.listStatus(p).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).foreach(f.delete(_, false))
    val report = wh.compactSkippingManifests("tv")
    assert(report.size == 1, report.toString)
    val (dir, before, after) = report.head
    assert(dir.endsWith(s"${wh.dataPath("tv")}/_zonemap/k") &&
      before == 1L && after == 0L, report.toString)
    // no manifest left -> zonePrunedFiles reports no coverage (readers
    // take the plain-scan fallback path, never a schema-unreadable dir)
    assert(wh.zonePrunedFiles("tv", "k", 1L, 10L).isEmpty)
  }

  test("streamed batches self-register their zone-map rows") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwrite((1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, col("k")), "ts")
    wh.buildZoneMap("ts", Seq("k"))
    val in = s"${wh.root}/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/a.csv"),
      "k,v\n" + (5000L to 5010L).map(k => s"$k,s$k").mkString("\n") + "\n")
    wh.buildBloomIndex("ts", "k", expectedItemsPerFile = 1L << 12)
    val q = wh.streamingAppend(wh.readCsvStream(in, schema), "ts",
      s"${wh.root}/_chk_zm", zoneCols = Seq("k"),
      bloomCols = Seq("k"), bloomExpectedItemsPerFile = 1L << 12)
    q.processAllAvailable()
    q.stop()
    // the streamed file registered itself: nothing is manifest-unknown,
    // so a low-range query prunes it away entirely...
    val Some((_, unknown)) = wh.zonePrunedFiles("ts", "k", 1L, 100L)
    assert(unknown.isEmpty, s"stream left unknown files: $unknown")
    // ...while its own range scans exactly that one file
    val Some((kept, _)) = wh.zonePrunedFiles("ts", "k", 5000L, 6000L)
    assert(kept.size == 1, s"kept $kept")
    assert(wh.readZonePruned("ts", "k", 5000L, 6000L).count() == 11)
    assert(wh.read("ts").count() == 1011)
    // the bloom index self-registered too: a streamed value probes
    // through exactly its own file, nothing unknown
    val Some((bkept, bunknown)) = wh.bloomPrunedFiles("ts", "k", Seq(5005L))
    assert(bunknown.isEmpty, s"stream left bloom-unknown files: $bunknown")
    assert(bkept.size == 1, s"bloom kept $bkept")
    assert(wh.readBloomPruned("ts", "k", Seq(5005L)).count() == 1)
  }

  test("a streamed batch's Bloom rows hash a partition value as its " +
      "declared type") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwritePartitioned(Seq((1L, "007"), (2L, "010")).toDF("id", "code"),
      "t", Seq("code"))
    wh.buildBloomIndex("t", "code")
    val in = s"${wh.root}/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("code",
        org.apache.spark.sql.types.StringType)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/a.csv"),
      "id,code\n3,042\n")
    val q = wh.streamingAppend(wh.readCsvStream(in, schema), "t",
      s"${wh.root}/_chk_bl", bloomCols = Seq("code"))
    q.processAllAvailable()
    q.stop()
    assert(wh.read("t").filter($"code" === "042").count() == 1)
    // partition discovery would read `code=042` as the int 42; the
    // streamed file's filter must hold the string the probe hashes
    assert(wh.readBloomPruned("t", "code", Seq("042")).count() == 1)
  }

  test("zone-pruned read of a hive-partitioned table keeps schema order") {
    val wh = new Warehouse(spark, freshRoot)
    val df = (1 to 2000).map(i => (i.toLong, i % 4, s"v$i"))
      .toDF("k", "part", "v")
    wh.overwritePartitioned(df.repartitionByRange(4, col("k")), "t2",
      Seq("part"))
    wh.buildZoneMap("t2", Seq("k"))
    val got = wh.readZonePruned("t2", "k", 10L, 20L)
    assert(got.columns.toSeq == wh.read("t2").columns.toSeq)
    assert(got.count() == 11)
    val Some((kept, _)) = wh.zonePrunedFiles("t2", "k", 10L, 20L)
    val total = wh.zonePrunedFiles("t2", "k", Long.MinValue, Long.MaxValue)
      .get._1.size
    assert(kept.size < total, s"kept ${kept.size} of $total")
  }
}
