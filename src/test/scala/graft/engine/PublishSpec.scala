package graft.engine

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Atomic versioned publish: readers must see a table before-or-after a
  * replace, never a partial directory (VERDICT r2 item 6). */
class PublishSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot = Files.createTempDirectory("wh-pub").toString

  test("overwrite publishes a version and read resolves the manifest") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v"), "t")
    val v1 = wh.currentVersion("t")
    assert(v1.isDefined)
    assert(wh.read("t").count() == 2)
    wh.overwrite(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), "t")
    val v2 = wh.currentVersion("t")
    assert(v2.isDefined && v2 != v1)
    assert(wh.read("t").count() == 3)
    // the retired version's files are untouched until vacuum
    assert(spark.read.parquet(s"${wh.root}/t/_versions/${v1.get}").count() == 2)
  }

  test("a reader resolved before the swap still scans intact files") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwrite((1 to 100).toDF("n"), "t")
    // resolve the read BEFORE the replace (lazy plan pins the old files)
    val before = wh.read("t")
    wh.overwrite((1 to 7).toDF("n"), "t")
    assert(before.count() == 100) // old version files never deleted by publish
    assert(wh.read("t").count() == 7)
  }

  test("an unswapped version directory is invisible to readers") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwrite((1 to 10).toDF("n"), "t")
    // simulate a publish that died after the data write, before the swap
    (1 to 999).toDF("n").write.parquet(s"${wh.root}/t/_versions/99999999T999999999-zzzzzz")
    assert(wh.read("t").count() == 10)
  }

  test("vacuum keeps the current version, drops retired ones and stale loose files") {
    val wh = new Warehouse(spark, freshRoot)
    // legacy plain layout first (append writes loose files)
    wh.append((1 to 5).toDF("n"), "t")
    assert(wh.currentVersion("t").isEmpty && wh.read("t").count() == 5)
    // first publish migrates; loose files become stale copies
    wh.overwrite((1 to 6).toDF("n"), "t")
    wh.overwrite((1 to 8).toDF("n"), "t")
    val cur = wh.currentVersion("t").get
    wh.vacuum("t")
    assert(wh.read("t").count() == 8)
    val vroot = new java.io.File(s"${wh.root}/t/_versions")
    assert(vroot.listFiles().map(_.getName).toSeq == Seq(cur))
    // only the version tree and the manifest survive a vacuum
    val entries = new java.io.File(s"${wh.root}/t").listFiles()
      .map(_.getName).toSet
    assert(entries == Set("_versions", "_current"), entries.toString)
  }

  test("time travel: every un-vacuumed version stays queryable as-of") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwrite((1 to 3).toDF("n"), "t")
    wh.overwrite((1 to 9).toDF("n"), "t")
    val vs = wh.listVersions("t")
    assert(vs.length == 2 && vs == vs.sorted)
    assert(wh.readVersion("t", vs.head).count() == 3)
    assert(wh.readVersion("t", vs.last).count() == 9)
    assert(wh.currentVersion("t").contains(vs.last))
  }

  test("append lands in the current published version") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwrite((1 to 4).toDF("n"), "t")
    wh.append((5 to 6).toDF("n"), "t")
    assert(wh.read("t").count() == 6)
    assert(wh.currentVersion("t").isDefined)
  }

  test("merge is a single atomic publish and stays restorable") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v"), "t")
    wh.merge("t", Seq((2, "B"), (3, "c")).toDF("k", "v"), Seq("k"))
    val got = wh.read("t").orderBy("k").as[(Int, String)].collect().toSeq
    assert(got == Seq((1, "a"), (2, "B"), (3, "c")))
  }

  test("concurrent reader during repeated publishes sees whole tables only") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwrite((1 to 50).toDF("n"), "t")
    val sizes = Set(50L, 90L)
    @volatile var bad: Option[Long] = None
    val reader = new Thread(() => {
      var i = 0
      while (i < 20 && bad.isEmpty) {
        val n = wh.read("t").count()
        if (!sizes.contains(n)) bad = Some(n)
        i += 1
      }
    })
    reader.start()
    (1 to 5).foreach { _ =>
      wh.overwrite((1 to 90).toDF("n"), "t")
      wh.overwrite((1 to 50).toDF("n"), "t")
    }
    reader.join()
    assert(bad.isEmpty, s"reader observed a partial table of ${bad.orNull} rows")
  }

  test("partitioned overwrite is an atomic publish with exact schema restore") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwrite((1 to 10).map(i => (i.toLong, 2020L + i % 2)).toDF("id", "year"), "t")
    val v1 = wh.currentVersion("t")
    assert(v1.isDefined)
    wh.overwritePartitioned(
      (1 to 4).map(i => (i.toLong, 2030L)).toDF("id", "year"), "t", Seq("year"))
    // still versioned — partition pruning AND atomic publish, not either/or
    val v2 = wh.currentVersion("t")
    assert(v2.isDefined && v2 != v1)
    assert(wh.partitioningOf("t") == Seq("year"))
    assert(wh.read("t").count() == 4)
    // schema fidelity: original column ORDER (partition discovery would
    // move year to the end) and original TYPE (inference would int-ify it)
    assert(wh.read("t").columns.toSeq == Seq("id", "year"))
    assert(wh.schemaOf("t")("year").dataType.simpleString == "bigint")
    // the retired unpartitioned version is still time-travel readable
    assert(wh.readVersion("t", v1.get).count() == 10)
  }

  test("partitioned published read prunes partitions (PartitionFilters)") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwritePartitioned(
      (1 to 100).map(i => (i.toLong, 2020L + i % 4)).toDF("id", "year"),
      "t", Seq("year"))
    val scan = wh.read("t").filter($"year" === 2021L)
    assert(scan.count() == 25)
    val fileScan = scan.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(fileScan.partitionFilters.nonEmpty,
      "the year predicate must reach PartitionFilters, not the data filter")
    // pruning actually happened: only the matching directory is listed
    assert(fileScan.selectedPartitions.partitionCount == 1)
  }

  test("concurrent reader during partitioned re-publish sees whole tables only") {
    val wh = new Warehouse(spark, freshRoot)
    def mk(n: Int) = (1 to n).map(i => (i.toLong, 2020L + i % 2)).toDF("id", "year")
    wh.overwritePartitioned(mk(40), "t", Seq("year"))
    val sizes = Set(40L, 70L)
    @volatile var bad: Option[Long] = None
    val reader = new Thread(() => {
      var i = 0
      while (i < 12 && bad.isEmpty) {
        val n = wh.read("t").count()
        if (!sizes.contains(n)) bad = Some(n)
        i += 1
      }
    })
    reader.start()
    (1 to 3).foreach { _ =>
      wh.overwritePartitioned(mk(70), "t", Seq("year"))
      wh.overwritePartitioned(mk(40), "t", Seq("year"))
    }
    reader.join()
    assert(bad.isEmpty, s"reader observed a partial table of ${bad.orNull} rows")
  }

  test("append to a partitioned published table stays partition-aligned") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwritePartitioned(
      Seq((1L, 2020L), (2L, 2021L)).toDF("id", "year"), "t", Seq("year"))
    wh.append(Seq((3L, 2022L)).toDF("id", "year"), "t")
    assert(wh.read("t").count() == 3)
    // the appended row landed in a year=2022 partition directory, and the
    // pruned scan finds it
    val scan = wh.read("t").filter($"year" === 2022L)
    assert(scan.count() == 1)
    val fileScan = scan.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(fileScan.selectedPartitions.partitionCount == 1)
  }

  test("merge and compact preserve a table's partitioning") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwritePartitioned(
      Seq((1L, 2020L, "a"), (2L, 2021L, "b")).toDF("id", "year", "v"),
      "t", Seq("year"))
    wh.merge("t", Seq((2L, 2021L, "B"), (3L, 2022L, "c")).toDF("id", "year", "v"),
      Seq("id"))
    assert(wh.partitioningOf("t") == Seq("year"))
    assert(wh.read("t").orderBy("id").select("v").as[String].collect().toSeq ==
      Seq("a", "B", "c"))
    wh.compact("t")
    assert(wh.partitioningOf("t") == Seq("year"))
    assert(wh.read("t").count() == 3)
    assert(wh.read("t").columns.toSeq == Seq("id", "year", "v"))
  }

  private def dataFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (!f.getName.startsWith("_") && !f.getName.startsWith(".") &&
        !f.getName.endsWith(".crc")) Seq(f)
      else Nil
    }

  test("compactToSize bin-packs an appended table and no-ops when compact") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwrite((1 to 50).toDF("n"), "t")
    (1 to 7).foreach(i => wh.append((1 to 50).toDF("n").repartition(2), "t"))
    val before = dataFiles(
      new java.io.File(s"${wh.root}/t/_versions/${wh.currentVersion("t").get}"))
    assert(before.size >= 8, s"need many small files, got ${before.size}")
    val total = before.map(_.length).sum
    // target = half the table -> exactly 2 output files
    val v = wh.compactToSize("t", targetBytes = (total + 1) / 2)
    assert(v.isDefined)
    val after = dataFiles(
      new java.io.File(s"${wh.root}/t/_versions/${v.get}"))
    assert(after.size == 2, s"expected 2 packed files, got ${after.size}")
    assert(wh.read("t").count() == 400)
    // idempotent: already within target -> no rewrite, no new version
    val total2 = after.map(_.length).sum
    assert(wh.compactToSize("t", targetBytes = (total2 + 1) / 2).isEmpty)
    assert(wh.currentVersion("t") == v)
    // the oversize trigger: a few-huge-files layout must SPLIT even though
    // the file count is already under the global want
    val big = after.map(_.length).max
    val v2 = wh.compactToSize("t", targetBytes = big / 4)
    assert(v2.isDefined, "an oversized file (> 2x target) must trigger a rewrite")
    val split = dataFiles(new java.io.File(s"${wh.root}/t/_versions/${v2.get}"))
    assert(split.size > 2, s"expected a split, got ${split.size} files")
    assert(wh.read("t").count() == 400)
  }

  test("compactToSize sizes per partition dir and keeps null partitions") {
    val wh = new Warehouse(spark, freshRoot)
    // one heavy partition, four tiny ones, one NULL partition value
    val rows = (1 to 900).map(i => (i.toLong, "big")) ++
      Seq((901L, "p1"), (902L, "p2"), (903L, "p3"), (904L, "p4"),
        (905L, null.asInstanceOf[String]))
    // repartition(16) before the write: every task holds rows of several
    // partitions -> many small files per directory
    wh.overwritePartitioned(rows.toDF("id", "src").repartition(16),
      "t", Seq("src"))
    val v0 = wh.currentVersion("t").get
    val root0 = new java.io.File(s"${wh.root}/t/_versions/$v0")
    assert(dataFiles(new java.io.File(root0, "src=big")).size > 3)
    val total = dataFiles(root0).map(_.length).sum
    // target = a third of the table: the heavy dir (≈99% of rows) should
    // split into ~3 files, each tiny dir must MERGE to exactly one
    val v = wh.compactToSize("t", targetBytes = (total + 2) / 3)
    assert(v.isDefined)
    val root1 = new java.io.File(s"${wh.root}/t/_versions/${v.get}")
    val bigFiles = dataFiles(new java.io.File(root1, "src=big"))
    assert(bigFiles.size >= 2 && bigFiles.size <= 3,
      s"heavy dir should split, got ${bigFiles.size} files")
    Seq("p1", "p2", "p3", "p4").foreach { pv =>
      assert(dataFiles(new java.io.File(root1, s"src=$pv")).size == 1,
        s"tiny dir src=$pv must merge to one file")
    }
    // nothing lost, null partition included, partitioning survives
    assert(wh.read("t").count() == 905)
    assert(wh.read("t").filter($"src".isNull).count() == 1)
    assert(wh.partitioningOf("t") == Seq("src"))
    assert(wh.read("t").filter($"src" === "big").count() == 900)
    // old version intact until vacuum
    assert(wh.readVersion("t", v0).count() == 905)
  }

  test("fileProfile reports per-dir stats and reflects compaction") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwritePartitioned(
      Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"))
        .toDF("id", "src").repartition(4), "t", Seq("src"))
    val before = wh.fileProfile("t").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(before.keySet == Set("src=a", "src=b"), s"got ${before.keySet}")
    assert(before.values.sum >= 3, "repartition(4) should scatter files")
    wh.compactToSize("t", targetBytes = Long.MaxValue / 2)
    val after = wh.fileProfile("t").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(after.map(_._1).toSet == Set("src=a", "src=b"))
    assert(after.forall(_._2 == 1L), s"one file per dir after packing: $after")
    assert(after.forall(_._3 > 0L))
    // unpartitioned tables profile as a single root row
    wh.overwrite((1 to 10).toDF("n").repartition(2), "u")
    val u = wh.fileProfile("u").collect()
    assert(u.map(_.getString(0)).toSeq == Seq("") && u.head.getLong(1) == 2L)
  }

  test("bucketed overwrite is a versioned publish; rebuild stays bucketed") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwrite((1 to 10).map(i => (i.toLong, i % 3)).toDF("id", "k"), "tb")
    val v1 = wh.currentVersion("tb")
    assert(v1.isDefined)
    try {
      wh.overwriteBucketed(
        (1 to 4).map(i => (i.toLong, i % 2)).toDF("id", "k"), "tb", Seq("k"), 2)
      // versioning SURVIVES a bucketed overwrite now
      val v2 = wh.currentVersion("tb")
      assert(v2.isDefined && v2 != v1)
      assert(wh.read("tb").count() == 4)
      assert(wh.readBucketed("tb").count() == 4)
      // a reader pinned on the old version keeps scanning intact files
      assert(wh.readVersion("tb", v1.get).count() == 10)
      // same-spec rebuild repoints the catalog via ALTER ... SET LOCATION
      wh.overwriteBucketed(
        (1 to 6).map(i => (i.toLong, i % 2)).toDF("id", "k"), "tb", Seq("k"), 2)
      assert(wh.readBucketed("tb").count() == 6)
      assert(wh.read("tb").count() == 6)
      // bucket METADATA still real: same-key join plans with no exchange
      // on the bucketed side
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        wh.overwriteBucketed(
          (1 to 100).map(i => (i.toLong, i % 5)).toDF("id2", "k"), "tb2",
          Seq("k"), 2)
        val joined = wh.readBucketed("tb").join(wh.readBucketed("tb2"), Seq("k"))
        assert(joined.count() == 6 * 20)
        assert(!joined.queryExecution.executedPlan.toString
          .contains("Exchange hashpartitioning"),
          joined.queryExecution.executedPlan.toString.take(1500))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally Seq("tb", "tb2")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("persisted views: definitions survive a fresh Warehouse instance " +
      "and registerAll materializes them over the registered tables") {
    val root = freshRoot
    val wh = new Warehouse(spark, root)
    wh.overwrite(Seq((1, 10.0), (2, 20.0)).toDF("k", "x"), "vw_base")
    wh.createView("vw_sum",
      "SELECT CAST(SUM(x) AS DOUBLE) AS s FROM vw_base")
    val wh2 = new Warehouse(spark, root) // a different session/process
    wh2.registerAll()
    assert(spark.sql("SELECT s FROM vw_sum").head().getDouble(0) == 30.0)
    assert(wh2.listViews() == Seq("vw_sum"))
    // replace is atomic; the new text wins
    wh2.createView("vw_sum",
      "SELECT CAST(COUNT(*) AS BIGINT) AS s FROM vw_base")
    wh2.registerAll()
    assert(spark.sql("SELECT s FROM vw_sum").head().getLong(0) == 2L)
    wh2.dropView("vw_sum")
    assert(wh2.listViews().isEmpty)
    intercept[IllegalArgumentException] { wh2.createView("bad name", "x") }
  }

  test("exportSnapshot reads every table as of ONE instant — cross-table " +
      "consistency under concurrent publishes") {
    val wh = new Warehouse(spark, freshRoot)
    wh.publish(Seq((1, "f1")).toDF("k", "v"), "fact")
    wh.publish(Seq((1, "d1")).toDF("k", "v"), "dim")
    Thread.sleep(5)
    val snap = java.time.Instant.now()
    Thread.sleep(5)
    // later publishes must be invisible to the snapshot
    wh.publish(Seq((1, "f2"), (2, "f2")).toDF("k", "v"), "fact")
    wh.publish(Seq((1, "d2"), (2, "d2")).toDF("k", "v"), "dim")
    val out = java.nio.file.Files.createTempDirectory("wh-snap").toString
    wh.exportSnapshot(Seq("fact", "dim"), snap, out)
    for (t <- Seq("fact", "dim")) {
      val rows = spark.read.parquet(s"$out/$t")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(rows == Seq((1, s"${t.head}1")), s"table $t: $rows")
    }
  }

  test("deleteWhere removes exactly the matching rows atomically and " +
      "reports the count; null predicates delete nothing") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwrite(Seq((1, "a"), (2, null.asInstanceOf[String]), (3, "c"))
      .toDF("k", "v"), "t")
    assert(wh.deleteWhere("t", col("v") === "a") == 1L)
    assert(wh.read("t").select("k").as[Int].collect().toSet == Set(2, 3))
    // v === "x" is NULL for the null row: not matched, not deleted
    assert(wh.deleteWhere("t", col("v") === "x") == 0L)
    assert(wh.read("t").count() == 2L)
  }

  test("updateWhere applies assignments against ORIGINAL values in one " +
      "pass; unknown columns are rejected") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwrite(Seq((1, 10L, 100L), (2, 20L, 200L)).toDF("k", "a", "b"), "t")
    // both assignments read the pre-update row: swap semantics hold
    val n = wh.updateWhere("t", col("k") === 1,
      Map("a" -> col("b"), "b" -> col("a")))
    assert(n == 1L)
    val got = wh.read("t").orderBy("k").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1, 100L, 10L), (2, 20L, 200L)))
    val e = intercept[IllegalArgumentException] {
      wh.updateWhere("t", col("k") === 1, Map("nope" -> lit(1)))
    }
    assert(e.getMessage.contains("unknown columns"))
  }

  test("updateWhere refuses values the column type cannot represent " +
      "instead of publishing nulls") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwrite(Seq((1, 10L), (2, 20L)).toDF("k", "a"), "t")
    val e = intercept[IllegalArgumentException] {
      wh.updateWhere("t", col("k") === 1, Map("a" -> lit("not-a-number")))
    }
    assert(e.getMessage.contains("cannot represent"))
    // nothing published: table unchanged
    assert(wh.read("t").orderBy("k").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((1, 10L), (2, 20L)))
    // a castable string is fine (the value, not the static type, decides)
    assert(wh.updateWhere("t", col("k") === 1, Map("a" -> lit("42"))) == 1L)
    assert(wh.read("t").filter(col("k") === 1).head().getLong(1) == 42L)
    // unmatched rows never gate: a bad value on a predicate matching
    // nothing is a no-op, not an error
    assert(wh.updateWhere("t", col("k") === 99,
      Map("a" -> lit("nope"))) == 0L)
  }

  test("exportSnapshot is all-or-nothing: a failed export leaves no " +
      "target dir and a retry succeeds; complete exports are immutable") {
    val wh = new Warehouse(spark, freshRoot)
    wh.publish(Seq((1, "x")).toDF("k", "v"), "good")
    val snap = java.time.Instant.now()
    val out = s"${freshRoot}/snap-out" // does NOT exist yet
    intercept[Exception] {
      wh.exportSnapshot(Seq("good", "no_such_table"), snap, out)
    }
    val p = new org.apache.hadoop.fs.Path(out)
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!f.exists(p), "a torn export must not land at the target path")
    // retry with a correct list lands whole
    wh.exportSnapshot(Seq("good"), snap, out)
    assert(spark.read.parquet(s"$out/good").count() == 1)
    // and the complete snapshot refuses overwrite
    val e = intercept[IllegalArgumentException] {
      wh.exportSnapshot(Seq("good"), snap, out)
    }
    assert(e.getMessage.contains("immutable"))
  }

  test("appendEvolved on a bucketed table rewrites under the union " +
      "schema, preserving the bucket spec and old rows") {
    val wh = new Warehouse(spark, freshRoot)
    try {
      wh.overwriteBucketed((1 to 8).map(i => (i.toLong, i % 2))
        .toDF("id", "k"), "tbe", Seq("k"), 2)
      wh.appendEvolved(Seq((100L, 0, "tagged")).toDF("id", "k", "tag"), "tbe")
      val got = wh.read("tbe").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.get(2))).toSeq
      assert(got.size == 9)
      assert(got.last == ((100L, 0, "tagged")))
      assert(got.take(8).forall(_._3 == null), "old rows read null in tag")
      // the spec SURVIVED the rewrite: catalog still bucketed (k, 2)
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("tbe"))
      assert(meta.bucketSpec.exists(b =>
        b.numBuckets == 2 && b.bucketColumnNames == Seq("k")))
      // and the CATALOG schema evolved with the files: spark.table
      // readers must see the new column, not the pre-evolution list
      assert(wh.readBucketed("tbe").columns.contains("tag"))
      // and bucket metadata still real after evolution: co-located join
      // plans no exchange on either bucketed side
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        wh.overwriteBucketed((1 to 50).map(i => (i.toLong, i % 2))
          .toDF("id2", "k"), "tbe2", Seq("k"), 2)
        val joined = wh.readBucketed("tbe").join(wh.readBucketed("tbe2"),
          Seq("k"))
        joined.count()
        assert(!joined.queryExecution.executedPlan.toString
          .contains("Exchange hashpartitioning"))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      // type drift still refuses loudly on the bucketed path
      val e = intercept[IllegalArgumentException] {
        wh.appendEvolved(Seq(("oops", 1)).toDF("id", "k"), "tbe")
      }
      assert(e.getMessage.contains("type drift"))
      // a SAME-schema batch must not silently trigger the O(|table|)
      // rewrite — the defensive call-everything-appendEvolved pattern
      // gets append's loud refusal back
      val e2 = intercept[IllegalArgumentException] {
        wh.appendEvolved(Seq((101L, 1, "t2")).toDF("id", "k", "tag"), "tbe")
      }
      assert(e2.getMessage.contains("rewrite-only"))
    } finally Seq("tbe", "tbe2")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("readAsOf resolves the version current at an instant; history " +
      "lists retained versions with the current flag") {
    val wh = new Warehouse(spark, freshRoot)
    wh.publish(Seq((1, "a")).toDF("k", "v"), "t")
    Thread.sleep(5)
    val mid = java.time.Instant.now()
    Thread.sleep(5)
    wh.publish(Seq((1, "a"), (2, "b")).toDF("k", "v"), "t")
    assert(wh.readAsOf("t", mid).count() == 1L)               // old state
    assert(wh.readAsOf("t", java.time.Instant.now()).count() == 2L)
    val e = intercept[IllegalArgumentException] {
      wh.readAsOf("t", mid.minusSeconds(3600)) // predates all history
    }
    assert(e.getMessage.contains("no version"))
    val h = wh.history("t").orderBy("version")
      .select("n_files", "is_current")
      .collect().map(r => (r.getLong(0) > 0, r.getBoolean(1))).toSeq
    assert(h == Seq((true, false), (true, true)))
  }

  test("diffVersions reports added/removed/changed keys between publishes") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwrite(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), "t")
    wh.overwrite(Seq((2, "b"), (3, "C"), (4, "d")).toDF("k", "v"), "t")
    val Seq(v1, v2) = wh.listVersions("t")
    val got = wh.diffVersions("t", v1, v2, Seq("k"))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    // 1 gone, 3 changed case, 4 new; 2 untouched (absent from the diff)
    assert(got == Set(("removed", 1), ("changed", 3), ("added", 4)))
    // direction matters: reversed diff flips added/removed
    val rev = wh.diffVersions("t", v2, v1, Seq("k"))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(rev == Set(("added", 1), ("changed", 3), ("removed", 4)))
  }

  test("streamingQuarantine: clean rows land, violators dead-letter with " +
      "rule names; cross-row rules are rejected loudly") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import Validation._
    val wh = new Warehouse(spark, freshRoot)
    val rules = Seq(NotNull("flag"), InRange("qty", 1.0, 50.0))
    val stream = MemoryStream[(Long, Double, String)]
    stream.addData(Seq(
      (1L, 10.0, "A"),                          // clean
      (2L, 999.0, "A"),                         // range violation
      (3L, 7.0, null.asInstanceOf[String]),     // null violation
      (4L, 999.0, null.asInstanceOf[String]))) // both rules
    val q = streamingQuarantine(wh,
      stream.toDF().toDF("id", "qty", "flag"), "good", "dead",
      rules, java.nio.file.Files.createTempDirectory("wh-quar").toString)
    q.processAllAvailable()
    q.stop()
    assert(wh.read("good").select("id").as[Long].collect().toSeq == Seq(1L))
    val dead = wh.read("dead").select("id", "_violated")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(dead.keySet == Set(2L, 3L, 4L))
    assert(dead(2L) == "in_range(qty,1.0,50.0)")
    assert(dead(3L) == "not_null(flag)")
    assert(dead(4L) == "not_null(flag),in_range(qty,1.0,50.0)")
    // rules needing cross-row context cannot gate per row
    val e = intercept[IllegalArgumentException] {
      streamingQuarantine(wh, stream.toDF().toDF("id", "qty", "flag"),
        "g2", "d2", Seq(Unique(Seq("id"))), "/tmp/never")
    }
    assert(e.getMessage.contains("cross-row"))
  }

  test("streamingQuarantine into a partitioned table lands clean rows " +
      "inside its partition dirs") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import Validation._
    val wh = new Warehouse(spark, freshRoot)
    wh.overwritePartitioned(Seq((1L, 5.0, "A")).toDF("id", "qty", "flag"),
      "good", Seq("flag"))
    val stream = MemoryStream[(Long, Double, String)]
    stream.addData(Seq((2L, 10.0, "B"), (3L, 999.0, "B")))
    val q = streamingQuarantine(wh,
      stream.toDF().toDF("id", "qty", "flag"), "good", "dead",
      Seq(InRange("qty", 1.0, 50.0)),
      java.nio.file.Files.createTempDirectory("wh-quar-p").toString)
    q.processAllAvailable()
    q.stop()
    // a loose file at the root of the hive tree would be invisible here
    assert(wh.read("good").select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    assert(wh.read("good").filter($"flag" === "B").count() == 1)
    assert(wh.read("dead").select("id").as[Long].collect().toSeq == Seq(3L))
  }

  test("appendEvolved accepts the nullability a plain append accepts") {
    val wh = new Warehouse(spark, freshRoot)
    wh.append(Seq((1, Array(1f, 2f))).toDF("id", "v"), "t")
    // toDF declares array<float> without null elements; the read-back
    // table allows them — the same type to both appends
    wh.appendEvolved(Seq((2, Array(3f), "x")).toDF("id", "v", "tag"), "t")
    val rows = wh.read("t").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1), Option(r.getString(2))))
    assert(rows.toSeq == Seq((1, Seq(1f, 2f), None), (2, Seq(3f), Some("x"))))
  }

  test("changeFeed carries full payloads: insert/delete rows once, " +
      "changed keys as an update_pre/update_post pair, unchanged silent") {
    val wh = new Warehouse(spark, freshRoot)
    val va = wh.publish(
      Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)).toDF("k", "v", "w"),
      "t")
    val vb = wh.publish(
      Seq((2, "b", 20.0), (3, "C", 31.0), (4, "d", 40.0)).toDF("k", "v", "w"),
      "t")
    val got = wh.changeFeed("t", va, vb, Seq("k"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2),
        r.getString(3))).toSet
    assert(got == Set(
      (1, "a", 10.0, "delete"),
      (3, "c", 30.0, "update_pre"), (3, "C", 31.0, "update_post"),
      (4, "d", 40.0, "insert")))
    // null payloads diff null-safely: null -> value is a real update
    val v3 = wh.publish(
      Seq((2, null.asInstanceOf[String], 20.0), (3, "C", 31.0),
        (4, "d", 40.0)).toDF("k", "v", "w"), "t")
    val nulled = wh.changeFeed("t", vb, v3, Seq("k"))
      .collect().map(r => (r.getInt(0), r.getString(3))).toSet
    assert(nulled == Set((2, "update_pre"), (2, "update_post")))
  }

  test("changeFeed on an all-key table degenerates to insert/delete only") {
    val wh = new Warehouse(spark, freshRoot)
    val va = wh.publish(Seq(1, 2, 3).toDF("k"), "t")
    val vb = wh.publish(Seq(2, 3, 4).toDF("k"), "t")
    val got = wh.changeFeed("t", va, vb, Seq("k"))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == Set((1, "delete"), (4, "insert")))
  }

  test("append refuses bucketed tables (loose files would break the spec)") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwriteBucketed(
      (1 to 20).map(i => (i.toLong, i % 4)).toDF("id", "k"), "tbk", Seq("k"), 2)
    try {
      // a plain file append would violate the all-files-bucketed promise
      // Spark plans exchange-free joins on — wrong RESULTS, not slowness
      val e = intercept[IllegalArgumentException] {
        wh.append(Seq((99L, 1)).toDF("id", "k"), "tbk")
      }
      assert(e.getMessage.contains("bucketed"), e.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS `tbk`")
  }

  test("streamingAppend into a partitioned published table stays aligned") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwritePartitioned(
      Seq(("s0", 2020)).toDF("sid", "year"), "t", Seq("year"))
    val in = s"${wh.root}/incoming"
    Files.createDirectories(java.nio.file.Paths.get(in))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("sid",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("year",
        org.apache.spark.sql.types.IntegerType)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/a.csv"),
      "sid,year\ns1,2021\ns2,2022\n")
    val q = wh.streamingAppend(wh.readCsvStream(in, schema), "t",
      s"${wh.root}/_chk")
    q.processAllAvailable()
    q.stop()
    assert(wh.read("t").count() == 3)
    // streamed rows landed inside year=... partition dirs and prune
    val scan = wh.read("t").filter($"year" === 2022)
    assert(scan.count() == 1)
    val fileScan = scan.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(fileScan.selectedPartitions.partitionCount == 1)
  }

  test("maintainAggregate: streamed partials equal the batch aggregate, " +
       "replays promote nothing, compaction collapses losslessly") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val wh = new Warehouse(spark, freshRoot)
    val keys = Seq("k")
    val specs = Seq(AggSpec("n", "count"), AggSpec("s", "sum", "v"),
      AggSpec("lo", "min", "v"), AggSpec("hi", "max", "v"))
    val b1 = Seq(("a", 10L), ("a", 5L), ("b", 7L))
    val b2 = Seq(("a", 1L), ("c", 100L))
    val stream = MemoryStream[(String, Long)]
    stream.addData(b1)
    val q = wh.maintainAggregate(stream.toDF().toDF("k", "v"), "agg",
      keys, specs, s"${wh.root}/_chk_agg")
    q.processAllAvailable()
    stream.addData(b2)
    q.processAllAvailable()
    q.stop()
    def viewRows = wh.readAggregate("agg", keys, specs)
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val want = Seq(("a", 3L, 16L, 1L, 10L), ("b", 1L, 7L, 7L, 7L),
      ("c", 1L, 100L, 100L, 100L))
    assert(viewRows == want)
    // partials accumulated: 2 batches = 2 'a' rows pre-compaction
    assert(wh.read("agg").filter($"k" === "a").count() == 2)
    // a replayed batch id promotes NOTHING (checkpoint replay after a
    // crash-before-commit) — the view is unchanged, no double counting
    wh.appendStreamBatch(
      AggSpec.partial(b2.toDF("k", "v"), keys, specs), "agg", 1L)
    assert(viewRows == want)
    // compaction collapses to one row per key, view identical
    wh.compactAggregate("agg", keys, specs)
    assert(wh.read("agg").count() == 3)
    assert(viewRows == want)
  }

  test("maintainAggregate: a restarted stream lands decimal partials " +
      "beside a compacted snapshot") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val wh = new Warehouse(spark, freshRoot)
    val keys = Seq("k")
    val specs = Seq(AggSpec("s", "sum", "v"))
    val stream = MemoryStream[(String, BigDecimal)]
    val src = stream.toDF().selectExpr("_1 AS k", "CAST(_2 AS DECIMAL(10,2)) AS v")
    def run(): Unit = {
      val q = wh.maintainAggregate(src, "agg", keys, specs, s"${wh.root}/_chk")
      q.processAllAvailable()
      q.stop()
    }
    stream.addData(Seq(("a", BigDecimal("1.50"))))
    run()
    // combine widens the stored sum to decimal(30,2); new partials stay
    // decimal(20,2)
    wh.compactAggregate("agg", keys, specs)
    stream.addData(Seq(("a", BigDecimal("2.25"))))
    run()
    assert(wh.readAggregate("agg", keys, specs).collect()
      .map(r => (r.getString(0), r.getDecimal(1).doubleValue)).toSeq ==
      Seq(("a", 3.75)))
  }

  test("maintainAggregate: compactAggregate keeps the partial schema") {
    val wh = new Warehouse(spark, freshRoot)
    val dec = Seq(AggSpec("s", "sum", "v"))
    val partial = AggSpec.partial(
      Seq(("a", "1.50")).toDF("k", "v").selectExpr("k",
        "CAST(v AS DECIMAL(10,2)) AS v"), Seq("k"), dec)
    wh.appendStreamBatch(partial, "agg", 0L)
    // combine ∘ combine keeps the partial schema, so a restarted stream's
    // partials pass the landing schema gate
    wh.compactAggregate("agg", Seq("k"), dec)
    assert(wh.read("agg").schema == partial.schema)
    wh.compactAggregate("agg", Seq("k"), dec)
    assert(wh.read("agg").schema == partial.schema)
  }

  test("maintainAggregate validates specs loudly") {
    intercept[IllegalArgumentException] {
      AggSpec.validate(Seq(AggSpec("x", "median", "v")), Seq("k"))
    }
    intercept[IllegalArgumentException] {
      AggSpec.validate(Seq(AggSpec("s", "sum")), Seq("k")) // missing input
    }
    intercept[IllegalArgumentException] {
      AggSpec.validate(Seq(AggSpec("k", "count")), Seq("k")) // key collision
    }
  }

  test("streamingAppend rejects schema drift instead of landing bad files") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwrite(Seq(("s0", 2020L)).toDF("sid", "year"), "t")
    val in = s"${wh.root}/incoming"
    Files.createDirectories(java.nio.file.Paths.get(in))
    // the stream declares year as INT — type drift vs the table's BIGINT
    val drifted = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("sid",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("year",
        org.apache.spark.sql.types.IntegerType)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/a.csv"),
      "sid,year\ns1,2021\n")
    val q = wh.streamingAppend(wh.readCsvStream(in, drifted), "t",
      s"${wh.root}/_chk_drift")
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    assert(err.getMessage.contains("type drift") ||
      String.valueOf(err.getCause).contains("type drift"), err.getMessage)
    assert(wh.read("t").count() == 1) // nothing landed
  }

  test("vacuum grace window also spares young loose files — a " +
      "root-pinned stream's batches and replay markers") {
    val wh = new Warehouse(spark, freshRoot)
    wh.append((1 to 3).toDF("n"), "t")      // pre-publish loose layout
    wh.overwrite((1 to 6).toDF("n"), "t")   // first publish
    // a streamingAppend pinned to the root before that publish keeps
    // landing batches + exactly-once markers as root-level entries
    val mk = new java.io.File(s"${wh.root}/t/_stream_promoted")
    mk.mkdirs()
    new java.io.File(mk, "b0").createNewFile()
    wh.vacuum("t", keep = 1, olderThanMs = 3600 * 1000L)
    val entries = new java.io.File(s"${wh.root}/t").listFiles()
      .map(_.getName).toSet
    assert(entries.contains("_stream_promoted"), entries.toString)
    // grace 0 = trust keep alone: now the sweep is total, except for the
    // table state every version shares — the manifest and the markers
    wh.vacuum("t", keep = 1)
    val after = new java.io.File(s"${wh.root}/t").listFiles()
      .map(_.getName).toSet
    assert(after == Set("_versions", "_current", "_stream_promoted"),
      after.toString)
  }

  test("restore preserves the table's partitioned layout and pruning") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwritePartitioned(
      Seq((1L, "a", 2020), (2L, "b", 2021)).toDF("k", "v", "year"),
      "ptr", Seq("year"))
    val bak = wh.backup("ptr")
    wh.overwritePartitioned(Seq((9L, "x", 2022)).toDF("k", "v", "year"),
      "ptr", Seq("year"))
    wh.restore("ptr", bak)
    assert(wh.partitioningOf("ptr") == Seq("year"),
      "restore must republish under the partition columns, not flat")
    assert(wh.read("ptr").count() == 2)
    val plan = wh.read("ptr").filter($"year" === 2020)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(1500))
  }

  test("vacuum grace window spares freshly retired versions") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwrite((1 to 5).toDF("n"), "t")
    // a long-running reader pins the version path before the re-publish
    val pinned = wh.read("t")
    wh.overwrite((1 to 9).toDF("n"), "t")
    assert(wh.listVersions("t").length == 2)
    // grace window: the just-retired version is younger than an hour, so
    // keep=1 must NOT drop it
    wh.vacuum("t", keep = 1, olderThanMs = 3600 * 1000L)
    assert(wh.listVersions("t").length == 2)
    assert(pinned.count() == 5) // the in-flight reader survives the vacuum
    // window elapsed (0 = trust keep alone): now it goes
    wh.vacuum("t", keep = 1)
    assert(wh.listVersions("t").length == 1)
    assert(wh.read("t").count() == 9)
  }

  test("append rejects schema drift, aligns column order") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwrite(Seq((1L, "a")).toDF("k", "v"), "t")
    // reordered columns align by name
    wh.append(Seq(("b", 2L)).toDF("v", "k"), "t")
    assert(wh.read("t").orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // extra / missing / retyped columns are rejected before any write
    intercept[IllegalArgumentException] {
      wh.append(Seq((3L, "c", true)).toDF("k", "v", "x"), "t")
    }
    intercept[IllegalArgumentException] {
      wh.append(Seq(3L).toDF("k"), "t")
    }
    intercept[IllegalArgumentException] {
      wh.append(Seq((3, "c")).toDF("k", "v"), "t") // k int, table bigint
    }
    assert(wh.read("t").count() == 2)
  }

  test("append aligns columns case-insensitively, like Spark resolution") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwrite(Seq((1L, "a")).toDF("k", "v"), "t")
    // a column differing only in case must align (session default is
    // case-insensitive), and land under the table's canonical name
    wh.append(Seq(("b", 2L)).toDF("V", "K"), "t")
    assert(wh.read("t").columns.toSeq == Seq("k", "v"))
    assert(wh.read("t").orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("JSONL export round-trips a corpus table with declared schema") {
    val wh = new Warehouse(spark, freshRoot)
    val docs = Seq((1L, "hello world", "en"), (2L, "späße & 中文", "de"),
      (3L, null, "fr")).toDF("doc_id", "text", "lang")
    wh.exportJsonl(docs, s"${wh.root}/out_jsonl")
    val back = wh.readJsonl(s"${wh.root}/out_jsonl", docs.schema)
    val got = back.orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, "hello world", "en"),
      (2L, "späße & 中文", "de"), (3L, null, "fr")))
  }

  test("analyze persists tableStats and statsOf reads them back") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwrite(Seq((1, "a"), (2, "b"), (2, null)).toDF("k", "v"), "t")
    wh.analyze("t")
    val st = wh.statsOf("t").get.orderBy("column").collect()
    assert(st.length == 2)
    val k = st.find(_.getString(0) == "k").get
    assert(k.getLong(1) == 3 && k.getLong(2) == 0 && k.getLong(3) == 2)
    val v = st.find(_.getString(0) == "v").get
    assert(v.getLong(2) == 1) // one null
    assert(wh.tableSizeBytes("t") > 0)
  }

  test("appendEvolved adds a column; merged read nulls pre-evolution rows") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "t")
    // batch with a NEW column and the original two
    wh.appendEvolved(Seq((3L, "c", 0.5)).toDF("k", "v", "score"), "t")
    // plain read returns the union schema DETERMINISTICALLY (the marker,
    // not whichever file footer Spark happens to sample)
    assert(wh.read("t").columns.toSet == Set("k", "v", "score"))
    assert(wh.read("t").count() == 3)
    val byK = wh.read("t").collect()
      .map(r => r.getAs[Long]("k") -> Option(r.getAs[Any]("score"))).toMap
    assert(byK(1L).isEmpty && byK(2L).isEmpty && byK(3L).contains(0.5))
    assert(wh.readMerged("t").columns.toSet == Set("k", "v", "score"))
    // a later batch missing the ORIGINAL v column is null-filled
    wh.appendEvolved(Seq((4L, 0.9)).toDF("k", "score"), "t")
    val m2 = wh.readMerged("t").collect()
      .map(r => r.getAs[Long]("k") ->
        (Option(r.getAs[Any]("v")), Option(r.getAs[Any]("score")))).toMap
    assert(m2(4L) == (None, Some(0.9)))
    assert(m2(3L) == (Some("c"), Some(0.5)))
  }

  test("appendEvolved still rejects type drift and missing partition columns") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwrite(Seq((1L, "a")).toDF("k", "v"), "t")
    val drift = intercept[IllegalArgumentException] {
      wh.appendEvolved(Seq((2, "b")).toDF("k", "v"), "t") // k int vs long
    }
    assert(drift.getMessage.contains("type drift"))
    wh.publish(Seq((1L, "x", "p1")).toDF("k", "v", "part"), "pt",
      partitionCols = Seq("part"))
    // a batch without the partition column would null-route rows into the
    // hive default partition — refused loudly
    val noPart = intercept[IllegalArgumentException] {
      wh.appendEvolved(Seq((2L, "y", 1.0)).toDF("k", "v", "s"), "pt")
    }
    assert(noPart.getMessage.contains("partition"))
  }

  test("appendEvolved to a partitioned table: old rows null-fill, pruning intact") {
    val wh = new Warehouse(spark, freshRoot)
    wh.publish(Seq((1L, "a", 2023), (2L, "b", 2024)).toDF("k", "v", "year"),
      "pt", partitionCols = Seq("year"))
    wh.appendEvolved(
      Seq((3L, "c", 2024, 0.5)).toDF("k", "v", "year", "score"), "pt")
    val df = wh.read("pt")
    // union schema in original order, new column last; partition values
    // keep their declared int type (no inference retype)
    assert(df.columns.toSeq == Seq("k", "v", "year", "score"))
    val byK = df.collect().map(r => r.getAs[Long]("k") ->
      (r.getAs[Int]("year"), Option(r.getAs[Any]("score")))).toMap
    assert(byK(1L) == (2023, None) && byK(2L) == (2024, None))
    assert(byK(3L) == (2024, Some(0.5)))
    // partition pruning still reaches the scan through the declared schema
    val q = df.filter(col("year") === 2024)
    assert(q.count() == 2)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("year"), plan)
    // strict append aligns against the evolved union schema from here on
    wh.append(Seq((4L, "d", 2025, 0.7)).toDF("k", "v", "year", "score"), "pt")
    assert(wh.read("pt").count() == 4)
    // and a second evolution widens again
    wh.appendEvolved(
      Seq((5L, "e", 2025, 0.1, "web")).toDF("k", "v", "year", "score", "src"),
      "pt")
    assert(wh.read("pt").columns.toSeq ==
      Seq("k", "v", "year", "score", "src"))
    assert(wh.read("pt").filter(col("src").isNotNull).count() == 1)
  }
}
