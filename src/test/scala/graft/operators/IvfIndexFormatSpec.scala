package graft.operators

import java.nio.file.Files
import graft.SparkSpec
import graft.engine.Warehouse
import graft.tools.AnnRecall
import org.apache.spark.sql.Row

/** Pins what [[IvfIndex]] leaves on disk and hands back: the v=3
  * `_health` sidecar layout, the health frames' column list and order,
  * and the `_deletes` tombstone schema. A change to any of these breaks
  * every index already written, so it must be deliberate. */
class IvfIndexFormatSpec extends SparkSpec {
  import spark.implicits._

  private def freshWh =
    new Warehouse(spark, Files.createTempDirectory("ivffmt").toString)

  private val healthCols = Seq(
    "live_rows" -> "LongType", "dead_rows" -> "LongType",
    "dead_fraction" -> "DoubleType", "deletes_bytes" -> "LongType",
    "data_bytes" -> "LongType", "nlist" -> "LongType",
    "max_cell_rows" -> "LongType", "cell_skew" -> "DoubleType",
    "n_files" -> "LongType", "census_bytes" -> "LongType")

  private def colsOf(df: org.apache.spark.sql.DataFrame) =
    df.dtypes.toSeq

  private val dim = 8

  private def build(wh: Warehouse, name: String): Unit =
    IvfIndex.build(wh, AnnRecall.clusteredFixture(spark, n = 60, dim = dim,
      clusters = 4), "vec_id", "embedding", dim, nlist = 4, name = name)

  test("a literal v=3 _health body parses to the expected readHealth row") {
    val wh = freshWh
    build(wh, "ifmt")
    val c = IndexAdvice.census(wh, "ifmt")
    val body =
      s"""v=3
         |n_files=${c.nFiles}
         |census_bytes=${c.totalBytes}
         |census_mtime=${c.maxMtime}
         |deletes_bytes=64
         |data_bytes=2048
         |nlist=4
         |cells=0:4:2,1:8:0,3:4:2
         |""".stripMargin
    IndexAdvice.writeSidecar(wh, s"${wh.dataPath("ifmt")}/_health", body)
    IvfIndex.forgetDriverState()
    val h = IvfIndex.readHealth(wh, "ifmt")
    assert(h.nonEmpty, "a stamp-matching v=3 body must read as fresh")
    assert(colsOf(h.get) == healthCols)
    assert(h.get.collect().toSeq == Seq(Row(16L, 4L, 0.2, 64L, 2048L, 4L,
      8L, 2.0, c.nFiles, c.totalBytes)))
  }

  test("analyzeHealth and readHealth keep their column list and order, " +
      "and the written sidecar keeps the v=3 key layout") {
    val wh = freshWh
    build(wh, "ifmt2")
    IvfIndex.delete(wh, Seq(2L).toDF("vec_id"), "vec_id", "ifmt2")
    val analyzed = IvfIndex.analyzeHealth(wh, "ifmt2")
    assert(colsOf(analyzed) == healthCols)
    val read = IvfIndex.readHealth(wh, "ifmt2")
    assert(read.nonEmpty && colsOf(read.get) == healthCols)
    assert(read.get.collect().toSeq == analyzed.collect().toSeq)
    val stored = IndexAdvice.readSidecar(wh,
      s"${wh.dataPath("ifmt2")}/_health").get
    assert(stored.linesIterator.map(_.takeWhile(_ != '=')).toSeq ==
      Seq("v", "n_files", "census_bytes", "census_mtime", "deletes_bytes",
        "data_bytes", "nlist", "cells"))
    assert(stored.startsWith("v=3\n"))
    val r = analyzed.head()
    assert(r.getAs[Long]("live_rows") == 59L &&
      r.getAs[Long]("dead_rows") == 1L && r.getAs[Long]("nlist") == 4L)
  }

  test("_deletes keeps its (id, cut) schema for delete and reindex") {
    val wh = freshWh
    build(wh, "ifmt3")
    IvfIndex.delete(wh, Seq(1L, 2L).toDF("vec_id"), "vec_id", "ifmt3")
    val v3 = AnnRecall.clusteredFixture(spark, n = 60, dim = dim,
      clusters = 4).filter($"vec_id" === 3L)
    IvfIndex.reindex(wh, v3, "vec_id", "embedding", "ifmt3")
    val dels = spark.read.parquet(s"${wh.dataPath("ifmt3")}/_deletes")
    assert(colsOf(dels) == Seq("id" -> "LongType", "cut" -> "LongType"))
    assert(dels.as[(Long, Long)].collect().toSet ==
      Set((1L, 1L), (2L, 1L), (3L, 1L)))
  }
}
