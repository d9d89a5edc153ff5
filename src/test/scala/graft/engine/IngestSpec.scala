package graft.engine

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** FIXTURES.md §2 fixtures 3-6: incremental append, nullable-int coercion,
  * date parsing pivot, regex validation — plus warehouse round-trips. */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("nullable-int coercion: '', 'NA', '7', '8.0' → null, null, 7, 8") {
    val df = Seq("", "NA", "7", "8.0", "x2").toDF("raw")
      .select(Ingest.coerceInt($"raw").as("v"))
    val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(got.toSeq == Seq(None, None, Some(7), Some(8), None))
  }

  test("date parse m/d/yy pivots 00-68 into 20xx") {
    val got = Seq("6/25/13", "1/2/24").toDF("d")
      .select(Ingest.parseDate($"d").cast("string").as("p"))
      .collect().map(_.getString(0))
    assert(got.toSeq == Seq("2013-06-25", "2024-01-02"))
  }

  test("survey_sequence: 2011/2012 → '2011-12', else str(year)") {
    val got = Seq(2011, 2012, 2013, 2025).toDF("year")
      .select(Ingest.surveySequence($"year").as("s")).collect().map(_.getString(0))
    assert(got.toSeq == Seq("2011-12", "2011-12", "2013", "2025"))
  }

  test("regex validation flags bad transect points") {
    val df = Seq("N1", "W12", "X3", "E99").toDF("transect_point")
    val bad = Validation.regexViolations(df, "transect_point", "^[NSEW]\\d{1,2}$")
    assert(bad.collect().map(_.getString(0)).toSeq == Seq("X3"))
  }

  test("incremental append: {A,B} + {B,C} appends {C}, reports dup {B}, idempotent") {
    val root = Files.createTempDirectory("wh").toString
    val wh = new Warehouse(spark, root)
    wh.overwrite(Seq(("A", 1), ("B", 2)).toDF("survey_ID", "v"), "t")
    val incoming = Seq(("B", 2), ("C", 3)).toDF("survey_ID", "v")

    val r1 = Ingest.incrementalAppend(wh, "t", incoming, Seq("survey_ID"))
    assert(r1.appended == 1 && r1.duplicates == 1 && r1.totalAfter == 3)
    assert(r1.reconciled)

    val r2 = Ingest.incrementalAppend(wh, "t", incoming, Seq("survey_ID"))
    assert(r2.appended == 0 && r2.duplicates == 2 && r2.totalAfter == 3)

    // backup was taken and is restorable
    val backups = wh.listTables() // _backups excluded from catalog
    assert(!backups.contains("_backups"))
  }

  test("JSONL ingest: declared schema, poison line captured not dropped, " +
       "unicode and null round-trip") {
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("jsonl").toString
    val dir = s"$root/in"
    Files.createDirectories(java.nio.file.Paths.get(dir))
    Files.write(java.nio.file.Paths.get(s"$dir/part0.jsonl"), java.util.Arrays.asList(
      """{"doc_id": 1, "text": "plain ascii", "lang": "en"}""",
      """{"doc_id": 2, "text": "unicode 文本 ünïcödé", "lang": "zh"}""",
      """{"doc_id": 3, "text": null, "lang": "de"}""",
      """{"doc_id": 4, "text": "truncated line"""" // poison: unterminated
    ), java.nio.charset.StandardCharsets.UTF_8)
    val wh = new Warehouse(spark, root)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType)))
    val got = wh.readJsonl(dir, schema)
    assert(got.count() == 4)
    val good = got.filter($"_corrupt_record".isNull)
      .select($"doc_id", $"text", $"lang").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1),
        r.getString(2))).toSet
    assert(good == Set((1L, "plain ascii", "en"),
      (2L, "unicode 文本 ünïcödé", "zh"), (3L, null, "de")))
    // the poison line is queryable data, its raw text preserved
    val bad = got.filter($"_corrupt_record".isNotNull).collect()
    assert(bad.length == 1 && bad.head.getAs[String]("_corrupt_record")
      .contains("truncated line"))
    // export round-trip: keepNulls writes explicit nulls, re-read equal
    wh.exportJsonl(got.filter($"_corrupt_record".isNull)
      .select($"doc_id", $"text", $"lang").coalesce(1),
      s"$root/out", keepNulls = true)
    // (a query touching ONLY the corrupt column on a raw read is
    // disallowed by Spark — always select data columns beside it)
    val back = wh.readJsonl(s"$root/out", schema)
      .select($"doc_id", $"text", $"lang", $"_corrupt_record").collect()
    assert(back.forall(_.isNullAt(3)))
    val rt = back
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1),
        r.getString(2))).toSet
    assert(rt == good)
  }

  test("warehouse SQL surface: registerAll + spark.sql over table names") {
    val root = java.nio.file.Files.createTempDirectory("whsql").toString
    val wh = new Warehouse(spark, root)
    wh.overwrite(Seq(("s1", 2023), ("s2", 2024)).toDF("survey_ID", "year"), "meta")
    wh.registerAll()
    assert(spark.catalog.tableExists("meta"))
    val got = wh.sql("SELECT count(*) AS n FROM meta WHERE year > 2023")
      .head().getAs[Long]("n")
    assert(got == 1L)
  }

  test("rename + reorder handles FileMaker-style column names") {
    val df = Seq(("u1", 5)).toDF("Survey Data::__kp_Survey", "Survey Data::_kf_Site")
    val out = Ingest.renameColumns(df,
      Seq("Survey Data::__kp_Survey" -> "survey_ID",
        "Survey Data::_kf_Site" -> "grid_point"))
    assert(out.columns.toSeq == Seq("survey_ID", "grid_point"))
  }

  test("schemaDiff catches missing/extra/mismatched columns") {
    val diff = Validation.schemaDiff(Schemas.surveyMetadata,
      Schemas.additionalSpecies)
    assert(diff.exists(_.contains("missing column: surveyor")))
    assert(diff.exists(_.contains("unexpected column: key_plant_species")))
  }

  test("dryRun reports what incrementalAppend would do, without mutating") {
    val root = Files.createTempDirectory("whdry").toString
    val wh = new Warehouse(spark, root)
    wh.overwrite(Seq(("A", 1), ("B", 2)).toDF("survey_ID", "v"), "t")
    val incoming = Seq(("B", 2), ("C", 3), ("D", 4)).toDF("survey_ID", "v")

    val preview = Ingest.dryRun(wh, "t", incoming, Seq("survey_ID"))
    assert(preview.incoming == 3 && preview.appended == 2 &&
      preview.duplicates == 1 && preview.totalAfter == 4)
    assert(preview.reconciled)
    // nothing written: table still has 2 rows, no backups dir created
    assert(wh.read("t").count() == 2)
    assert(!new java.io.File(s"$root/_backups").exists())

    // the real append then produces exactly the previewed report
    val real = Ingest.incrementalAppend(wh, "t", incoming, Seq("survey_ID"))
    assert(real.appended == preview.appended &&
      real.duplicates == preview.duplicates &&
      real.totalAfter == preview.totalAfter)
  }

  test("checkConstraints: per-rule violation counts, rule order kept, " +
       "all-green table passes everything") {
    import Validation._
    val dim = Seq(1L, 2L, 3L).toDF("k")
    val df = Seq(
      (1L, 1, 10.0, "A"),   // clean
      (1L, 1, 10.0, "A"),   // duplicate tuple (1 extra)
      (2L, 2, 99.0, "X"),   // range + set violations
      (9L, 3, 5.0, null.asInstanceOf[String])) // null flag + orphan key
      .toDF("k", "ln", "qty", "flag")
    val rules = Seq(
      NotNull("flag"), InRange("qty", 1.0, 50.0),
      OneOf("flag", Seq("A", "B")), Matches("flag", "[A-Z]"),
      Unique(Seq("k", "ln")), RefIntegrity("k", dim, "k"))
    val out = checkConstraints(df, rules).collect()
    // caller's rule order preserved
    assert(out.map(_.getString(0)).toSeq == rules.map(_.name))
    val got = out.map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got("not_null(flag)") == ((1L, 4L, false)))
    assert(got("in_range(qty,1.0,50.0)") == ((1L, 4L, false)))
    assert(got("one_of(flag)") == ((1L, 4L, false))) // 'X'; null skipped
    assert(got("matches(flag)") == ((0L, 4L, true))) // 'X' matches [A-Z]
    assert(got("unique(k+ln)") == ((1L, 4L, false)))
    assert(got("ref(k)") == ((1L, 4L, false)))      // k=9 orphan; null-free
    // a clean table passes every rule
    val clean = Seq((1L, 1, 10.0, "A"), (2L, 2, 20.0, "B"))
      .toDF("k", "ln", "qty", "flag")
    assert(checkConstraints(clean, rules).collect().forall(_.getBoolean(3)))
  }

  test("charset fallback: clean utf-8 kept, invalid utf-8 re-read as latin-1") {
    val root = Files.createTempDirectory("whenc").toString
    val wh = new Warehouse(spark, root)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType)))
    // utf-8 file: é is two bytes (0xC3 0xA9)
    Files.write(java.nio.file.Paths.get(s"$root/u.csv"),
      "name\nrosé\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // latin-1 file: é is one byte (0xE9) — invalid as utf-8
    Files.write(java.nio.file.Paths.get(s"$root/l.csv"),
      "name\nrosé\n".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    assert(wh.readCsvWithFallback(s"$root/u.csv", schema)
      .head().getString(0) == "rosé")
    assert(wh.readCsvWithFallback(s"$root/l.csv", schema)
      .head().getString(0) == "rosé")
  }

  test("exportCsv: whole doubles render as ints, nulls as empty string") {
    val root = Files.createTempDirectory("whexp").toString
    val wh = new Warehouse(spark, root)
    val df = Seq((1, Some(8.0), Some("x")), (2, Some(2.5), None),
      (3, None: Option[Double], Some("z")))
      .toDF("id", "pct", "tag")
    wh.exportCsv(df, s"$root/out")
    val lines = new java.io.File(s"$root/out").listFiles()
      .filter(_.getName.endsWith(".csv"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toList)
      .sorted.toSeq
    assert(lines == Seq("1,8,x", "2,2.5,", "3,,z", "id,pct,tag"))
  }

  test("exportCsv: fractional floats keep their float string form") {
    val root = Files.createTempDirectory("whexpf").toString
    val wh = new Warehouse(spark, root)
    val df = Seq((1, 0.1f), (2, 4.0f)).toDF("id", "f")
    wh.exportCsv(df, s"$root/out")
    val lines = new java.io.File(s"$root/out").listFiles()
      .filter(_.getName.endsWith(".csv"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toList)
      .sorted.toSeq
    // 0.1f must NOT widen to "0.10000000149011612"; 4.0f renders as "4"
    assert(lines == Seq("1,0.1", "2,4", "id,f"))
  }

  test("charset fallback triggers on a latin-1 byte deep in a large file") {
    val root = Files.createTempDirectory("whencbig").toString
    val wh = new Warehouse(spark, root)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType)))
    // ~2 MB of clean ASCII rows, then one latin-1 é (0xE9) near the end —
    // a prefix-only sniff would misread this file as utf-8
    val sb = new StringBuilder("name\n")
    (1 to 150000).foreach(i => sb.append(s"row$i\n"))
    val out = new java.io.ByteArrayOutputStream()
    out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.write("rosé\n".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    Files.write(java.nio.file.Paths.get(s"$root/big.csv"), out.toByteArray)
    val got = wh.readCsvWithFallback(s"$root/big.csv", schema)
    assert(got.filter($"name" === "rosé").count() == 1)
  }

  test("backup + restore round-trips the pre-mutation table state") {
    val root = Files.createTempDirectory("whrst").toString
    val wh = new Warehouse(spark, root)
    wh.overwrite(Seq(("A", 1), ("B", 2)).toDF("survey_ID", "v"), "t")
    val bak = wh.backup("t")
    wh.overwrite(Seq(("X", 99)).toDF("survey_ID", "v"), "t") // bad mutation
    wh.restore("t", bak)
    assert(wh.read("t").collect().map(r => r.getString(0) -> r.getInt(1))
      .toMap == Map("A" -> 1, "B" -> 2))
  }

  test("merge upserts matching keys, keeps the rest, appends new keys") {
    val root = Files.createTempDirectory("whmrg").toString
    val wh = new Warehouse(spark, root)
    wh.overwrite(Seq(("A", 1), ("B", 2), ("C", 3)).toDF("survey_ID", "v"), "t")
    wh.merge("t", Seq(("B", 20), ("D", 40)).toDF("survey_ID", "v"),
      Seq("survey_ID"))
    val got = wh.read("t").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map("A" -> 1, "B" -> 20, "C" -> 3, "D" -> 40))
    // no staging left behind (merge is one atomic publish), backup taken
    assert(!wh.exists("_staging/t"))
    assert(wh.exists("_backups/t"))
  }

  test("compact collapses an appended table to one file, same rows") {
    val root = Files.createTempDirectory("whcpt").toString
    val wh = new Warehouse(spark, root)
    wh.overwrite(Seq(("A", 1)).toDF("survey_ID", "v"), "t")
    (2 to 9).foreach(i =>
      wh.append(Seq((s"K$i", i)).toDF("survey_ID", "v"), "t"))
    // count files in the CURRENT published version (data lives behind the
    // manifest since publishes became atomic)
    def nFiles = new java.io.File(wh.dataPath("t")).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nFiles >= 9)
    wh.compact("t", numFiles = 1)
    assert(nFiles == 1)
    assert(wh.read("t").count() == 9)
  }

  test("bucketed tables join without an exchange on the bucket key") {
    val root = Files.createTempDirectory("whbkt").toString
    val wh = new Warehouse(spark, root)
    val facts = (1L to 1000L).map(i => (i % 100, i * 1.0)).toDF("k", "x")
    val dims = (0L until 100L).map(i => (i, s"label$i")).toDF("k", "label")
    wh.overwriteBucketed(facts, "bkt_facts", Seq("k"), numBuckets = 4)
    wh.overwriteBucketed(dims, "bkt_dims", Seq("k"), numBuckets = 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = wh.readBucketed("bkt_facts")
        .join(wh.readBucketed("bkt_dims"), Seq("k"))
      assert(joined.count() == 1000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n${plan.take(2000)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bkt_facts")
      spark.sql("DROP TABLE IF EXISTS bkt_dims")
    }
  }

  test("partitioned table prunes partitions on the filter column") {
    val root = Files.createTempDirectory("whpart").toString
    val wh = new Warehouse(spark, root)
    val df = (1 to 300).map(i => (i.toLong, 2021 + i % 3, i * 1.0))
      .toDF("id", "year", "v")
    wh.overwritePartitioned(df, "t", Seq("year"))
    // one directory per year value, inside the published version dir
    // (partitioned overwrites are atomic publishes now)
    val vdir = s"$root/t/_versions/${wh.currentVersion("t").get}"
    val dirs = new java.io.File(vdir).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("year=2021", "year=2022", "year=2023"))
    val filtered = wh.read("t").filter($"year" === 2022)
    assert(filtered.count() == 100)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("2022"),
      s"partition pruning missing:\n${plan.take(1500)}")
  }

  test("streaming CSV ingest appends each new file exactly once") {
    val root = Files.createTempDirectory("whstream").toString
    val in = s"$root/incoming"
    Files.createDirectories(java.nio.file.Paths.get(in))
    val wh = new Warehouse(spark, root)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("survey_ID",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("grid_point",
        org.apache.spark.sql.types.IntegerType)))
    Files.writeString(java.nio.file.Paths.get(s"$in/a.csv"),
      "survey_ID,grid_point\ns1,10\ns2,20\n")
    val q = wh.streamingAppend(wh.readCsvStream(in, schema), "t",
      s"$root/_chk")
    q.processAllAvailable()
    assert(wh.read("t").count() == 2)
    Files.writeString(java.nio.file.Paths.get(s"$in/b.csv"),
      "survey_ID,grid_point\ns3,30\n")
    q.processAllAvailable()
    q.stop()
    assert(wh.read("t").count() == 3)
    assert(wh.read("t").select("survey_ID").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("s1", "s2", "s3"))
  }

  test("flatten: nested structs expand recursively, arrays pass through, " +
      "collisions rejected") {
    val df = Seq((1L, ("a", (2.5, 7)), Seq(1, 2)))
      .toDF("id", "nest", "arr")
    val flat = Ingest.flatten(df)
    assert(flat.columns.toSeq ==
      Seq("id", "nest__1", "nest__2__1", "nest__2__2", "arr"))
    val named = df.select(col("id"),
      struct(col("nest._1").as("s"),
        struct(col("nest._2._1").as("x"), col("nest._2._2").as("y"))
          .as("inner")).as("n"),
      col("arr"))
    val f2 = Ingest.flatten(named)
    assert(f2.columns.toSeq ==
      Seq("id", "n_s", "n_inner_x", "n_inner_y", "arr"))
    assert(f2.head().toSeq == Seq(1L, "a", 2.5, 7, Seq(1, 2)))
    // collision: a column literally named like a flattened child
    val clash = named.withColumn("n_s", lit("shadow"))
    val e = intercept[IllegalArgumentException] { Ingest.flatten(clash) }
    assert(e.getMessage.contains("collision"))
  }

  test("schema compatibility modes: backward/forward/full classify adds, " +
      "drops, type changes and nullability tightening") {
    import org.apache.spark.sql.types._
    import Validation.schemaCompatViolations
    val old = StructType(Seq(StructField("a", LongType, nullable = true),
      StructField("b", StringType, nullable = true)))
    val addNullable = old.add(StructField("c", IntegerType, nullable = true))
    val addRequired = old.add(StructField("c", IntegerType, nullable = false))
    val dropped = StructType(old.fields.take(1))
    val retyped = StructType(Seq(StructField("a", StringType, true),
      StructField("b", StringType, true)))
    val tightened = StructType(Seq(StructField("a", LongType, false),
      StructField("b", StringType, true)))
    assert(schemaCompatViolations(old, addNullable, "full").isEmpty)
    assert(schemaCompatViolations(old, addRequired, "backward").nonEmpty)
    assert(schemaCompatViolations(old, addRequired, "forward").isEmpty)
    assert(schemaCompatViolations(old, dropped, "forward").nonEmpty)
    assert(schemaCompatViolations(old, dropped, "backward").isEmpty)
    assert(schemaCompatViolations(old, retyped, "backward").nonEmpty)
    assert(schemaCompatViolations(old, tightened, "backward").nonEmpty)
    assert(schemaCompatViolations(old, tightened, "forward").isEmpty)
    // the registry asymmetry's other half: RELAXING required -> nullable
    // breaks old consumers reading new data (forward), never backward
    val strictOld = StructType(Seq(StructField("a", LongType, false),
      StructField("b", StringType, true)))
    val relaxed = StructType(Seq(StructField("a", LongType, true),
      StructField("b", StringType, true)))
    assert(schemaCompatViolations(strictOld, relaxed, "forward").nonEmpty)
    assert(schemaCompatViolations(strictOld, relaxed, "backward").isEmpty)
    intercept[IllegalArgumentException] {
      schemaCompatViolations(old, old, "sideways")
    }
  }

  test("ORC edge: export + declared-schema read round-trips values and types") {
    val wh = new Warehouse(spark,
      Files.createTempDirectory("wh-orc").toString)
    val df = Seq((1L, "a", 1.5, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, null.asInstanceOf[String], -0.25,
        java.sql.Timestamp.valueOf("2024-06-15 23:59:59")))
      .toDF("id", "s", "x", "t")
    wh.overwrite(df, "t")
    val out = Files.createTempDirectory("orc-out").toString + "/t"
    wh.exportOrc("t", out)
    val back = wh.readOrc(out, df.schema)
    assert(back.schema == df.schema ||
      back.schema.map(f => (f.name, f.dataType)) ==
        df.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("warehouse CSV round-trip with latin-1 and date format") {
    val root = Files.createTempDirectory("whcsv").toString
    val csvDir = s"$root/in"
    Files.createDirectories(java.nio.file.Paths.get(csvDir))
    Files.writeString(java.nio.file.Paths.get(s"$csvDir/d.csv"),
      "survey_ID,grid_point,year,date,survey_sequence,surveyor\n" +
        "s1,10,2013,6/25/13,2013,J Doe\n")
    val wh = new Warehouse(spark, root)
    val df = wh.readCsv(csvDir + "/d.csv", Schemas.surveyMetadata)
    val row = df.head()
    assert(row.getAs[String]("survey_ID") == "s1")
    assert(row.getAs[java.sql.Date]("date").toString == "2013-06-25")
  }
}
