package graft.engine

import java.nio.file.{Files, Path => JPath, Paths}
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** One commit protocol: a write becomes visible as a fully written file
  * moved to a name no reader has seen, or through `atomicWrite`'s
  * rename-over; the stream replay markers are table state that every
  * republish keeps, so a replayed micro-batch lands nothing twice. */
class CommitProtocolSpec extends SparkSpec {
  import CommitProtocolSpec.Verb
  import spark.implicits._

  private def freshRoot = Files.createTempDirectory("wh-commit").toString

  private val keys = Seq("k")
  private val specs = Seq(AggSpec("n", "count"), AggSpec("s", "sum", "v"))

  private val verbs = Seq(
    Verb("compact", "t", _.compact("t")),
    Verb("merge", "t", wh =>
      wh.merge("t", Seq((2L, "B")).toDF("k", "v"), Seq("k"))),
    Verb("deleteWhere", "t", wh => { wh.deleteWhere("t", col("k") === 10L); () }),
    Verb("updateWhere", "t", wh => {
      wh.updateWhere("t", col("k") === 11L, Map("v" -> lit("Y"))); ()
    }),
    Verb("overwrite", "t", wh => wh.overwrite(Seq((5L, "e")).toDF("k", "v"), "t")),
    Verb("compactAggregate", "agg", _.compactAggregate("agg", keys, specs)),
    Verb("Dedup.compactSigs", "t",
      graft.operators.Dedup.compactSigs(_, "t")))

  /** Land batch `id` of the verb's table with `appendStreamBatch`. */
  private def land(wh: Warehouse, table: String, id: Long): Unit =
    if (table == "agg") {
      val batch = Seq(("a", 1L), ("a", 10L))(id.toInt)
      wh.appendStreamBatch(
        AggSpec.partial(Seq(batch).toDF("k", "v"), keys, specs), "agg", id)
    } else
      wh.appendStreamBatch(Seq((10L, "x"), (11L, "y")).toDF("k", "v"), "t", id)

  private def view(wh: Warehouse, table: String): Seq[Row] =
    (if (table == "agg") wh.readAggregate("agg", keys, specs)
     else wh.read("t")).orderBy("k").collect().toSeq

  verbs.foreach { verb =>
    test(s"a batch replayed after ${verb.name} lands nothing twice") {
      val wh = new Warehouse(spark, freshRoot)
      if (verb.table == "agg") land(wh, "agg", 0L)
      else wh.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), "t")
      land(wh, verb.table, 1L)
      verb.republish(wh)
      val before = view(wh, verb.table)
      land(wh, verb.table, 1L) // the checkpoint replays the uncommitted id
      assert(view(wh, verb.table) == before)
    }
  }

  test("a crash mid-promote re-lands the batch exactly once") {
    val wh = new Warehouse(spark, freshRoot)
    wh.overwrite(Seq((1L, "a")).toDF("k", "v"), "t")
    val staged = s"${wh.root}/_batch"
    (10L to 13L).map(k => (k, s"x$k")).toDF("k", "v").repartition(2)
      .write.parquet(staged)
    val batch = spark.read.parquet(staged)
    // the state a crash between the promote's two file moves leaves: the
    // attempt marker at the table root and one of the batch's two files
    val part = Files.list(Paths.get(staged)).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
    Files.copy(part, Paths.get(new Path(wh.dataPath("t")).toUri.getPath,
      s"stream-b5-${part.getFileName}"))
    val marks = Paths.get(wh.root, "t")
    Files.createDirectories(marks.resolve("_stream_attempt"))
    Files.createFile(marks.resolve("_stream_attempt/b5"))
    assert(wh.read("t").count() > 1L) // the partial rows are visible
    val want = (Seq(Row(1L, "a")) ++ batch.collect()).sortBy(_.getLong(0))
    wh.appendStreamBatch(batch, "t", 5L)
    def rows = wh.read("t").orderBy("k").collect().toSeq
    assert(rows == want)
    assert(!Files.exists(marks.resolve("_stream_attempt/b5")))
    assert(Files.exists(marks.resolve("_stream_promoted/b5")))
    wh.appendStreamBatch(batch, "t", 5L) // replay: nothing lands
    assert(rows == want)
  }

  /** `src/main`'s Scala sources, found from the working directory up. */
  private def mainSources: Seq[JPath] = {
    val base = Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null).find(d => Files.isDirectory(d.resolve("src/main/scala")))
      .getOrElse(fail("src/main/scala not found above the working directory"))
    Files.walk(base.resolve("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
  }

  /** (file, innermost enclosing def) of every code line of `src/main`
    * matching `re`; comment lines are skipped. A def encloses the lines
    * indented deeper than it. */
  private def sites(re: scala.util.matching.Regex): Seq[(String, String)] = {
    val Def = """^\s*(?:(?:private|protected|override|final)(?:\[\w+\])?\s+)*def\s+(\w+).*""".r
    mainSources.flatMap { f =>
      var defs = List.empty[(Int, String)] // (indent, name), innermost first
      Files.readAllLines(f).asScala.flatMap { line =>
        val indent = line.indexWhere(_ != ' ')
        if (indent >= 0) defs = defs.dropWhile(_._1 >= indent)
        line match {
          case Def(name) => defs = (indent, name) :: defs
          case _ =>
        }
        val t = line.trim
        val comment = t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
        if (!comment && re.findFirstIn(line).isDefined)
          Some((f.getFileName.toString, defs.headOption.fold("<none>")(_._2)))
        else None
      }
    }
  }

  test("src/main renames and copies only through commit helpers") {
    val renames = sites("""\.rename\(|\.renameTo\(|Files\.move\(""".r)
    assert(renames.toSet == Set(("Warehouse.scala", "atomicWrite"),
      ("Warehouse.scala", "moveStaged"), ("Warehouse.scala", "exportSnapshot")),
      "a rename outside atomicWrite, the staged-file move and exportSnapshot " +
        s"makes a write visible with its own crash rule: $renames")
    val copies = sites("""FileUtil\.copy\(""".r)
    assert(copies.toSet == Set(("IndexAdvice.scala", "copyForward")),
      s"raw copies go through IndexAdvice.copyForward: $copies")
  }
}

object CommitProtocolSpec {
  /** A republish verb and the table it rewrites: "t" holds (k, v) rows,
    * "agg" holds the partials of a maintained (count, sum) view. */
  private final case class Verb(name: String, table: String,
                                republish: Warehouse => Unit)
}
