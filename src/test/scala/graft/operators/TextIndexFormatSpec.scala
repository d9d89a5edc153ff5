package graft.operators

import java.nio.file.Files
import graft.SparkSpec
import graft.engine.Warehouse
import org.apache.spark.sql.Row

/** Pins what [[TextIndex]] leaves on disk and hands back: the v=3
  * `_health` sidecar layout, the health frames' column list and order,
  * and the `_deletes` tombstone schema. A change to any of these breaks
  * every index already written, so it must be deliberate. */
class TextIndexFormatSpec extends SparkSpec {
  import spark.implicits._

  private def freshWh =
    new Warehouse(spark, Files.createTempDirectory("tixfmt").toString)

  private val healthCols = Seq(
    "live_rows" -> "LongType", "dead_rows" -> "LongType",
    "dead_fraction" -> "DoubleType", "live_postings" -> "LongType",
    "max_bucket_postings" -> "LongType", "n_buckets" -> "LongType",
    "bucket_skew" -> "DoubleType", "deletes_bytes" -> "LongType",
    "data_bytes" -> "LongType", "n_files" -> "LongType",
    "census_bytes" -> "LongType")

  private def colsOf(df: org.apache.spark.sql.DataFrame) =
    df.dtypes.toSeq

  private def build(wh: Warehouse, name: String): Unit =
    TextIndex.build(wh, (1L to 8L).map(i => (i, s"alpha beta doc$i"))
      .toDF("doc_id", "text"), "doc_id", "text", name, nBuckets = 8)

  test("a literal v=3 _health body parses to the expected readHealth row") {
    val wh = freshWh
    build(wh, "tfmt")
    val c = IndexAdvice.census(wh, "tfmt")
    val body =
      s"""v=3
         |n_files=${c.nFiles}
         |census_bytes=${c.totalBytes}
         |census_mtime=${c.maxMtime}
         |live_rows=7
         |dead_rows=3
         |deletes_bytes=120
         |data_bytes=4000
         |buckets=0:2,3:10,5:2,7:2
         |""".stripMargin
    IndexAdvice.writeSidecar(wh, s"${wh.dataPath("tfmt")}/_health", body)
    TextIndex.forgetDriverState()
    val h = TextIndex.readHealth(wh, "tfmt")
    assert(h.nonEmpty, "a stamp-matching v=3 body must read as fresh")
    assert(colsOf(h.get) == healthCols)
    assert(h.get.collect().toSeq == Seq(Row(7L, 3L, 0.3, 16L, 10L, 4L,
      2.5, 120L, 4000L, c.nFiles, c.totalBytes)))
  }

  test("analyzeHealth and readHealth keep their column list and order, " +
      "and the written sidecar keeps the v=3 key layout") {
    val wh = freshWh
    build(wh, "tfmt2")
    TextIndex.delete(wh, Seq(2L).toDF("doc_id"), "doc_id", "tfmt2")
    val analyzed = TextIndex.analyzeHealth(wh, "tfmt2")
    assert(colsOf(analyzed) == healthCols)
    val read = TextIndex.readHealth(wh, "tfmt2")
    assert(read.nonEmpty && colsOf(read.get) == healthCols)
    assert(read.get.collect().toSeq == analyzed.collect().toSeq)
    val stored = IndexAdvice.readSidecar(wh,
      s"${wh.dataPath("tfmt2")}/_health").get
    assert(stored.linesIterator.map(_.takeWhile(_ != '=')).toSeq ==
      Seq("v", "n_files", "census_bytes", "census_mtime", "live_rows",
        "dead_rows", "deletes_bytes", "data_bytes", "buckets"))
    assert(stored.startsWith("v=3\n"))
    val r = analyzed.head()
    assert(r.getAs[Long]("live_rows") == 7L &&
      r.getAs[Long]("dead_rows") == 1L)
  }

  test("a crash-left sidecar tmp and a stale .crc never fail a read") {
    val wh = freshWh
    build(wh, "tfmt4")
    val analyzed = TextIndex.analyzeHealth(wh, "tfmt4").collect().toSeq
    val dir = new org.apache.hadoop.fs.Path(wh.dataPath("tfmt4"))
    val path = new org.apache.hadoop.fs.Path(dir, "_health")
    val body = IndexAdvice.readSidecar(wh, path.toString).get
    val conf = spark.sessionState.newHadoopConf()
    // an older checksummed writer's sidecar: `_health` plus `._health.crc`
    val checked = new org.apache.hadoop.fs.LocalFileSystem()
    checked.initialize(java.net.URI.create("file:///"), conf)
    val out = checked.create(path, true)
    try out.write("v=3\nstale\n".getBytes("UTF-8")) finally out.close()
    assert(checked.exists(new org.apache.hadoop.fs.Path(dir, "._health.crc")))
    // rewritten since through writeSidecar: the `.crc` now disagrees
    IndexAdvice.writeSidecar(wh, path.toString, body)
    intercept[org.apache.hadoop.fs.ChecksumException] {
      val in = checked.open(path)
      try in.readFully(0L, new Array[Byte](body.length)) finally in.close()
    }
    // a write that died before its rename leaves a torn tmp beside it,
    // which the census skips with the sidecar
    val c0 = IndexAdvice.census(wh, "tfmt4")
    Files.write(java.nio.file.Paths.get(dir.toUri.getPath, "_health.7.tmp"),
      body.take(9).getBytes("UTF-8"))
    assert(IndexAdvice.census(wh, "tfmt4") == c0)
    assert(IndexAdvice.readSidecar(wh, path.toString).contains(body))
    // the same reads through a checksummed session filesystem: the last
    // complete sidecar, stamp-fresh, no ChecksumException
    spark.conf.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try {
      assert(IndexAdvice.readSidecar(wh, path.toString).contains(body))
      TextIndex.forgetDriverState()
      assert(TextIndex.readHealth(wh, "tfmt4").map(_.collect().toSeq)
        .contains(analyzed))
    } finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
  }

  test("_deletes keeps its (doc_id, cut) schema for delete and reindex") {
    val wh = freshWh
    build(wh, "tfmt3")
    TextIndex.delete(wh, Seq(1L, 2L).toDF("doc_id"), "doc_id", "tfmt3")
    TextIndex.reindex(wh, Seq((3L, "gamma")).toDF("doc_id", "text"),
      "doc_id", "text", "tfmt3")
    val dels = spark.read.parquet(s"${wh.dataPath("tfmt3")}/_deletes")
    assert(colsOf(dels) == Seq("doc_id" -> "LongType", "cut" -> "LongType"))
    assert(dels.as[(Long, Long)].collect().toSet ==
      Set((1L, 1L), (2L, 1L), (3L, 1L)))
  }
}
