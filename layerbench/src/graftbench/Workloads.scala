package graftbench

import java.sql.Date
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine._
import graft.operators.{Dedup, Graph, IvfIndex, TextIndex}

/** What a workload needs from the harness: the session, its seed, the
  * warehouse it works in, and the op runner that times and checks calls. */
final class Ctx(val spark: SparkSession, val seed: Long, val r: Runner,
                var wh: Warehouse) {
  /** Generated frames a pass reads. */
  val frames = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
  /** Generated frames the correctness gate re-reads, written once as
    * parquet outside every timed region. */
  val inputs = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
  /** Scalar parameters the gate's SQL needs (ranges, ids, cut-offs). */
  val params = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  def rows(schema: StructType, data: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)

  def read(name: String): DataFrame = r.tracer.span("warehouse", "read")(wh.read(name))

  /** Seconds spent in each named step of set-up, reported with the run. */
  val setupSteps = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally setupSteps(name) = setupSteps.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }
}

trait Workload {
  /** Wall time of one pass on a 4-core box; sets how many passes fill a
    * run of `--seconds`, so every run of a workload does the same work. */
  def nominalPassS: Double
  /** Generate the seeded inputs into `ctx.wh` (called on a fresh root). */
  def setup(ctx: Ctx): Unit
  def pass(ctx: Ctx): Unit
  /** Untimed, after every pass: fingerprints of the state a pass left. */
  def afterPass(ctx: Ctx): Unit = ()
  /** True when a pass mutates the warehouse and must start from the
    * pristine copy, so every pass does the same work. */
  def resets: Boolean = false
}

/** The reference warehouse's recorded scale (BASELINE.md, "Reference
  * data-scale facts"). The generators keep its per-survey densities and
  * rates and scale its row counts by [[Scale]]: at full size a run of
  * either workload would not fit the benchmark's time budget. */
object Reference {
  val Scale = 1.0 / 3
  val Surveys = 1723          // gridVeg_survey_metadata rows
  val FoliarRows = 28083      // gridVeg_foliar_cover_all rows
  val AddlRows = 13662        // gridVeg_additional_species rows
  val AddlSurveys = 1400      // ... over this many surveys
  val CorruptRows = 2340      // rows with a corrupt date (17%)
  val CorruptSurveys = 242    // ... in this many surveys
  val SummaryRows = 24858     // groundCover summary table before an append
  val AppendRows = 1944       // that append
  val MergeRows = 1404        // the functional-groups summary append

  def scaled(n: Int): Int = math.round(n * Scale).toInt
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "wrangle_read" => WrangleRead
    case "mutate_maintain" => MutateMaintain
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def date(y: Int, m: Int, d: Int): Date = Date.valueOf(f"$y%04d-$m%02d-$d%02d")

  /** Power-law draw over [0, n): small indices are hot. */
  def skewed(rnd: SplittableRandom, n: Int, a: Double): Int =
    math.min(n - 1, (n * math.pow(rnd.nextDouble(), a)).toInt)

  /** (count, order-free sum of row hashes) of a table — equal for equal
    * multisets of rows. */
  def tableFingerprint(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(col).toSeq: _*).cast("decimal(38,0)")),
        lit(0))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }
}

/** Analyst traffic: the three gridVeg wrangles, the quality and
  * constraint reports, catalog SQL and pruned lookups over gridVeg-shaped
  * tables, then graph analytics (label propagation, connected components)
  * on a seeded power-law bipartite edge list — customers 0.., suppliers
  * 1000000.., the q173 graph shape. Table sizes are the reference's
  * ([[Reference]]) at its scale: 574 surveys, 9.4k foliar rows, 4.5k
  * supplemental species, 17% of them with corrupt dates. */
object WrangleRead extends Workload {
  import Workloads._
  val nominalPassS = 11.5
  val Ground = "gridVeg_point_intercept_ground"
  val Meta = "gridVeg_survey_metadata"
  val Foliar = "gridVeg_foliar_cover_all"
  val Addl = "gridVeg_additional_species"
  val Species = "vegetation_species_metadata"
  val Codes = "gridVeg_ground_cover_metadata"
  val GroundCodes = Seq("BG", "LIT", "ROCK", "GRAV", "MOSS", "LICH", "WOOD",
    "DUNG", "SCAT", "WATER")
  val MinYear = 2020
  /** Grid points, each surveyed in 3 of 8 years on average. */
  val NGrid: Int = Reference.scaled(Reference.Surveys / 3)
  val Pairs = "pairs"
  val NCust = 1500
  val NSupp = 150
  val NPairs = 4000
  val Iters = 2

  def setup(ctx: Ctx): Unit = {
    val rnd = new SplittableRandom(ctx.seed)
    val t0 = System.nanoTime()
    val surveys = for {
      g <- 1 to NGrid
      y <- (2018 to 2025).filter(_ => rnd.nextInt(8) < 3)
    } yield (g, y, date(y, 5 + rnd.nextInt(4), 1 + rnd.nextInt(28)))
    val ids = surveys.indices.map(i => f"S$i%05d")
    val meta = surveys.zip(ids).map { case ((g, y, d), id) =>
      Row(id, g, y, d, y.toString, s"surveyor${rnd.nextInt(6)}")
    }
    val ground = surveys.zip(ids).flatMap { case ((g, y, d), id) =>
      (0 until 100).map { t =>
        val tp = if (rnd.nextInt(2000) == 0) "X0" else s"${if (t < 50) "N" else "S"}${t % 50 + 1}"
        val code = if (rnd.nextInt(20) == 0) "NA"
          else GroundCodes(skewed(rnd, GroundCodes.size, 2.0))
        val i1: Integer = if (rnd.nextInt(100) == 0) null else 1
        Row(id, g, d, y, tp, i1, code)
      }
    } ++ (0 until 10).map(i => Row("S99999", 1, date(2024, 6, 1), 2024, s"N$i", 1, "BG"))
    val species = (1 to 300).map { k =>
      Row(k, f"SP$k%03d", s"sci $k", null, s"common $k", s"family${k % 17}",
        if (rnd.nextInt(3) == 0) "nonnative" else "native",
        Seq("annual", "perennial", "biennial")(rnd.nextInt(3)),
        Seq("graminoid", "forb", "shrub", "tree")(rnd.nextInt(4)))
    } :+ Row(360, "NV", "no vegetation", null, null, null, null, null, null)
    val sp = species.map(r => r.getInt(0) -> r).toMap
    val foliar = surveys.zip(ids).flatMap { case ((g, y, _), id) =>
      // 16.3 species a survey on average, as in the reference
      val want = 10 + rnd.nextInt(13) + (if (rnd.nextInt(5) == 0) 1 else 0)
      val drawn = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (drawn.size < want) drawn += 1 + skewed(rnd, 300, 1.6)
      val picked = drawn.toSeq ++ (if (rnd.nextInt(10) == 0) Seq(360) else Nil)
      picked.map { k =>
        val s = sp(k)
        Row(id, g, y, k, s.get(1), s.get(6), s.get(7), s.get(8),
          (1 + rnd.nextInt(60)) * 0.5)
      }
    }
    // as in the reference: 1,400 of 1,723 surveys list supplemental
    // species, 9.8 on average; 242 of those 1,400 carry a corrupt date in
    // the 2025-05-11..2031-08-16 range on every row
    val addl = surveys.zip(ids).flatMap { case ((g, y, d), id) =>
      import Reference._
      val listed = rnd.nextInt(Surveys) < AddlSurveys
      val bad = if (rnd.nextInt(AddlSurveys) < CorruptSurveys)
          Some(Date.valueOf(java.time.LocalDate.of(2025, 5, 11).plusDays(rnd.nextInt(2289))))
        else None
      Seq.fill(if (listed) 5 + rnd.nextInt(10) + (if (rnd.nextInt(4) == 0) 1 else 0) else 0) {
        val k: Integer = if (rnd.nextInt(20) == 0) null else 1 + skewed(rnd, 300, 1.3)
        Row(id, g, bad.getOrElse(d), y, k)
      }
    }
    val codes = (GroundCodes :+ "NA").map(c => Row(c, s"group_${c.toLowerCase}"))
    ctx.setupSteps("generate") = (System.nanoTime() - t0) / 1e9

    val tables = Seq(
      Meta -> ctx.rows(Schemas.surveyMetadata, meta),
      Ground -> ctx.rows(Schemas.pointInterceptGround, ground),
      Species -> ctx.rows(Schemas.speciesMetadata, species),
      Foliar -> ctx.rows(Schemas.foliarCoverAll, foliar),
      Addl -> ctx.rows(Schemas.additionalSpecies, addl),
      Codes -> ctx.rows(Schemas.groundCoverMetadata, codes))
    tables.foreach { case (n, df) =>
      // the fact table lands range-clustered on grid_point in several
      // files, so zone maps and Bloom filters have files to skip
      val laid = if (n == Ground) df.repartitionByRange(8, col("grid_point"))
        else df.coalesce(1)
      ctx.step("publish")(ctx.wh.publish(laid, n))
    }
    val pairs = Seq.fill(NPairs)(Row(skewed(rnd, NCust, 1.5).toLong,
        1000000L + skewed(rnd, NSupp, 2.5))).distinct
    val pairsDf = ctx.rows(StructType(Seq(StructField("c", LongType),
      StructField("p", LongType))), pairs)
    ctx.step("publish")(ctx.wh.publish(pairsDf.coalesce(2), Pairs))
    ctx.step("zone_map")(ctx.wh.buildZoneMap(Ground, Seq("grid_point")))
    ctx.step("bloom_index")(
      ctx.wh.buildBloomIndex(Ground, "survey_ID", expectedItemsPerFile = 20000L))
    ctx.step("register")(ctx.wh.registerAll())

    // no pass writes these tables: the gate reads the published files
    ctx.params("input_paths") = (tables.map(_._1) :+ Pairs)
      .map(n => n -> ctx.wh.dataPath(n)).toMap
    ctx.params("min_year") = MinYear
    ctx.params("ground_codes") = GroundCodes :+ "NA"
    ctx.params("sql") = Sql
    ctx.params("exclude_grid_point") = 1 + rnd.nextInt(NGrid)
    ctx.params("zone_ranges") = Seq.fill(1) {
      val lo = 1 + rnd.nextInt(NGrid - 12); Seq(lo, lo + 10)
    }
    ctx.params("bloom_ids") = Seq.fill(1)(Seq.fill(4)(ids(rnd.nextInt(ids.size))))
    // the q173 oracle text, answering after `Iters` rounds: it chains its
    // rounds as CTEs l1..l4, so only the final reference moves
    // (unreferenced CTEs are never evaluated)
    val q173 = graft.SparkEntry.oracleSql("q173_label_propagation").trim
    require(q173.endsWith("FROM l4"), "q173 oracle no longer ends with 'FROM l4'")
    ctx.params("label_propagation_oracle") = q173.stripSuffix("4") + Iters
  }

  val Rules: Seq[Validation.Rule] = Seq(
    Validation.NotNull("survey_ID"),
    Validation.InRange("year", 2010, 2030),
    Validation.OneOf("intercept_ground_code", GroundCodes :+ "NA"),
    Validation.Matches("transect_point", "[NS][0-9]{1,2}"),
    Validation.Unique(Seq("survey_ID", "transect_point")))

  def pass(ctx: Ctx): Unit = {
    val r = ctx.r
    val excl = ctx.params("exclude_grid_point").asInstanceOf[Int]
    r.query("wrangle", "ground_cover", "ground_cover")(
      GridVegPipelines.groundCover(ctx.read(Ground), ctx.read(Codes),
        ctx.read(Meta), MinYear, excl))
    r.query("wrangle", "functional_groups", "functional_groups")(
      GridVegPipelines.functionalGroups(ctx.read(Foliar), ctx.read(Meta),
        MinYear, excl))
    r.query("wrangle", "species_richness", "species_richness")(
      GridVegPipelines.speciesRichness(ctx.read(Foliar), ctx.read(Addl), MinYear))
    r.query("quality", "null_profile", "null_profile")(
      Quality.nullProfile(ctx.read(Addl)))
    r.query("quality", "date_diagnostics", "date_diagnostics")(
      Quality.dateDiagnostics(ctx.read(Addl), ctx.read(Meta), ctx.read(Ground),
        ctx.read(Ground), "survey_ID", "date", "2026-01-01"))
    r.query("quality", "check_constraints", "check_constraints")(
      Validation.checkConstraints(ctx.read(Ground),
        Rules :+ Validation.RefIntegrity("survey_ID", ctx.read(Meta), "survey_ID")))
    Sql.zipWithIndex.foreach { case (q, i) =>
      r.query("sql", "query", s"sql_$i")(ctx.wh.sql(q))
    }
    ctx.params("zone_ranges").asInstanceOf[Seq[Seq[Int]]].zipWithIndex
      .foreach { case (Seq(lo, hi), i) =>
        r.query("lookup", "zone", s"zone_$i")(
          ctx.wh.readZonePruned(Ground, "grid_point", lo, hi)
            .groupBy("intercept_ground_code").agg(count(lit(1)).as("n")))
      }
    ctx.params("bloom_ids").asInstanceOf[Seq[Seq[String]]].zipWithIndex
      .foreach { case (vs, i) =>
        r.query("lookup", "bloom", s"bloom_$i")(
          ctx.wh.readBloomPruned(Ground, "survey_ID", vs)
            .groupBy("survey_ID", "intercept_ground_code")
            .agg(count(lit(1)).as("n")))
      }
    val pairs = ctx.read(Pairs)
    r.query("graph", "label_propagation", "label_propagation")(
      Graph.labelPropagation(pairs.select(col("c").as("src"), col("p").as("dst")),
        "src", "dst", iters = Iters))
    // the engine's own size gate picks the path: at this edge count the
    // driver-side union-find, not the distributed contraction loop
    r.query("graph", "connected_components", "connected_components")(
      Dedup.connectedComponents(pairs, "c", "p"))
  }

  /** Catalog SQL; the gate runs the same text in DuckDB. */
  val Sql: Seq[String] = Seq(
    s"""SELECT s.plant_life_form, f.year, COUNT(*) AS n,
       |  SUM(f.intercepts_pct) AS pct
       |FROM $Foliar f JOIN $Species s
       |  ON f.key_plant_species = s.key_plant_species
       |GROUP BY s.plant_life_form, f.year""".stripMargin)
}

/** Ingest, repair and index maintenance: every write path the warehouse
  * has, with index reads interleaved between the writes. Sizes are the
  * reference's recorded write traffic ([[Reference]]) at its scale: an
  * 8,286-row summary table taking a 648-row append and a 468-row merge,
  * and a 4,554-row observation table of which 17% carry corrupt dates. */
object MutateMaintain extends Workload {
  import Workloads._
  val nominalPassS = 16.0
  override val resets = true
  val Survey = "survey"
  val Obs = "species_obs"
  val Text = "docs_ix"
  val Ivf = "vec_ix"
  val Vectors = "vectors"
  val Dim = 16
  val NSurvey: Int = Reference.scaled(Reference.SummaryRows)
  val NBatch: Int = Reference.scaled(Reference.AppendRows)
  val NMerge: Int = Reference.scaled(Reference.MergeRows)
  val NObs: Int = Reference.scaled(Reference.AddlRows)
  val NDocs = 1000
  val NVecs = 1200
  val Vocab: IndexedSeq[String] =
    (0 until 400).map(i => "w" + Integer.toString(i * 7919 + 101, 36))

  private def surveyRow(rnd: SplittableRandom, i: Int): Row = {
    val y = 2011 + rnd.nextInt(15)
    Row(f"S$i%06d", 1 + rnd.nextInt(500), y,
      date(y, 5 + rnd.nextInt(4), 1 + rnd.nextInt(28)), y.toString,
      s"surveyor${rnd.nextInt(8)}")
  }

  private def doc(rnd: SplittableRandom, id: Long): Row =
    Row(id, Seq.fill(20 + rnd.nextInt(40))(Vocab(skewed(rnd, Vocab.size, 2.2)))
      .mkString(" "))

  private def vec(rnd: SplittableRandom, centers: IndexedSeq[Array[Float]],
                  id: Long): Row = {
    val c = centers(rnd.nextInt(centers.size))
    Row(id, c.map(x => x + (0.08 * (rnd.nextDouble() * 2 - 1)).toFloat).toSeq)
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
  val IdSchema: StructType = StructType(Seq(StructField("id", LongType)))

  def setup(ctx: Ctx): Unit = {
    val rnd = new SplittableRandom(ctx.seed)
    val survey = (0 until NSurvey).map(surveyRow(rnd, _))
    // new keys only; the re-append of the same batch must add nothing
    val batch = (NSurvey until NSurvey + NBatch).map(surveyRow(rnd, _))
    // half the merge updates existing keys, half adds new ones; distinct
    // keys, as a merge with repeated keys would duplicate rows
    val updates = rnd.ints(0, NSurvey).distinct().limit(NMerge / 2).toArray.toSeq.map { i =>
      val s = survey(i)
      Row(s.get(0), s.get(1), s.get(2), s.get(3), s.get(4), "merged")
    } ++ (NSurvey + NBatch until NSurvey + NBatch + NMerge / 2).map(surveyRow(rnd, _))
    val obs = (0 until NObs).map { i =>
      val s = survey(rnd.nextInt(NSurvey))
      val corrupt = rnd.nextInt(Reference.AddlRows) < Reference.CorruptRows
      Row(s.get(0), s.get(1),
        if (corrupt) date(2099, 1, 1 + rnd.nextInt(28)) else s.get(3),
        if (corrupt) 2099 else s.get(2), 1 + rnd.nextInt(300))
    }
    val docs = (0L until NDocs).map(doc(rnd, _))
    val newDocs = (NDocs.toLong until NDocs + 60L).map(doc(rnd, _))
    val centers = (0 until 12).map(_ => Array.fill(Dim)((rnd.nextDouble() * 2 - 1).toFloat))
    val vecs = (0L until NVecs).map(vec(rnd, centers, _))
    val newVecs = (NVecs.toLong until NVecs + 120L).map(vec(rnd, centers, _))
    val queries = (0 until 8).map { i =>
      val v = vecs(rnd.nextInt(NVecs))
      vec(rnd, IndexedSeq(v.getSeq[Float](1).toArray), 900000L + i)
    }
    // about 30% of the vectors die, so IvfIndex.maintain compacts; the
    // text index keeps most docs live and maintain only checks its health
    val dropVecs = (0 until 470).map(_ => Row(rnd.nextInt(NVecs).toLong)).distinct
    val dropDocs = (0 until 60).map(_ => Row(rnd.nextInt(NDocs).toLong)).distinct

    val frames = Seq(
      "survey" -> ctx.rows(Schemas.surveyMetadata, survey),
      "batch" -> ctx.rows(Schemas.surveyMetadata, batch),
      "updates" -> ctx.rows(Schemas.surveyMetadata, updates),
      "obs" -> ctx.rows(Schemas.additionalSpecies, obs),
      "docs" -> ctx.rows(DocSchema, docs),
      "new_docs" -> ctx.rows(DocSchema, newDocs),
      "vecs" -> ctx.rows(VecSchema, vecs),
      "new_vecs" -> ctx.rows(VecSchema, newVecs),
      "queries" -> ctx.rows(VecSchema, queries),
      "drop_docs" -> ctx.rows(IdSchema, dropDocs),
      "drop_vecs" -> ctx.rows(IdSchema, dropVecs))
    ctx.frames ++= frames
    Seq("survey", "batch", "updates", "obs").foreach(n => ctx.inputs(n) = ctx.frames(n))
    val in = frames.toMap
    ctx.step("publish") {
      ctx.wh.publish(in("survey").repartition(4), Survey)
      ctx.wh.publish(in("obs").coalesce(2), Obs)
      ctx.wh.publish(in("vecs").coalesce(2), Vectors)
    }
    ctx.step("text_index")(
      TextIndex.build(ctx.wh, in("docs"), "doc_id", "text", Text, nBuckets = 16))
    ctx.step("ivf_index")(IvfIndex.buildPq(ctx.wh, in("vecs"), "vec_id", "embedding", Dim,
      nlist = 16, m = 4, ksub = 16, trainIters = 2, sampleSize = 1024, name = Ivf,
      seed = ctx.seed))
    ctx.params("delete_mod") = 13 + rnd.nextInt(5)
    ctx.params("update_year") = 2011 + rnd.nextInt(15)
    ctx.params("terms") = Seq.fill(2)(Vocab(skewed(rnd, 60, 1.0))).distinct
  }

  def pass(ctx: Ctx): Unit = {
    val r = ctx.r
    val wh = ctx.wh
    val in = ctx.frames
    val delMod = ctx.params("delete_mod").asInstanceOf[Int]
    val updYear = ctx.params("update_year").asInstanceOf[Int]

    for (attempt <- 0 to 1) {
      r.op("ingest", "incremental_append")(Ingest.incrementalAppend(wh, Survey,
          in("batch"), Seq("survey_ID"))).foreach { rep =>
        r.ingested(rep.incoming, rep.appended)
        r.expect(s"append_$attempt.reconciled", rep.reconciled)
        if (attempt == 1) r.expect("reappend_adds_0", rep.appended == 0L)
        r.note(s"append_$attempt", rep.toString)
      }
    }
    r.op("warehouse", "merge")(wh.merge(Survey, in("updates"), Seq("survey_ID")))
    r.query("ivf", "probe", "probe")(IvfIndex.probePq(wh, in("queries"),
      ctx.read(Vectors), "vec_id", "embedding", Ivf, k = 5, nprobe = 4, rerank = 32))
    r.op("warehouse", "delete_where")(
      wh.deleteWhere(Survey, col("grid_point") % delMod === 0))
      .foreach(n => r.note("deleted", n.toString))
    r.op("warehouse", "update_where")(wh.updateWhere(Survey,
        col("year") === updYear, Map("surveyor" -> lit("reassigned"))))
      .foreach(n => r.note("updated", n.toString))
    r.op("quality", "repair_dates") {
      val fixed = Quality.repairDatesFrom(ctx.read(Obs), ctx.read(Survey),
        "survey_ID", "date", "year", col("year") > 2030)
      r.tracer.span("warehouse", "backup")(wh.backup(Obs))
      r.tracer.span("warehouse", "publish")(wh.publish(fixed, Obs))
    }
    r.op("warehouse", "compact")(wh.compact(Survey, 2))
    r.op("warehouse", "vacuum")(wh.vacuum(Survey))
    r.op("warehouse", "append")(wh.append(in("new_vecs"), Vectors))
    r.op("text", "append")(TextIndex.append(wh, in("new_docs"), "doc_id", "text", Text))
    r.op("text", "delete")(TextIndex.delete(wh, in("drop_docs"), "id", Text))
    r.op("text", "maintain")(TextIndex.maintain(wh, Text))
      .foreach(a => r.note("text_advice", a.toString))
    r.query("text", "search", "search")(
      TextIndex.searchRanked(wh, ctx.params("terms").asInstanceOf[Seq[String]], Text, k = 10))
    r.op("ivf", "append")(IvfIndex.appendPq(wh, in("new_vecs"), "vec_id", "embedding", Ivf))
    r.op("ivf", "delete")(IvfIndex.delete(wh, in("drop_vecs"), "id", Ivf))
    r.op("ivf", "maintain")(IvfIndex.maintain(wh, Ivf))
      .foreach(a => r.note("ivf_advice", a.toString))
  }

  override def afterPass(ctx: Ctx): Unit = {
    Seq(Survey, Obs, Vectors, Text, Ivf).foreach { t =>
      ctx.r.note(s"table.$t", tableFingerprint(ctx.wh.read(t)))
    }
    Seq(Survey, Obs).foreach(t => ctx.r.output(t, ctx.wh.read(t)))
  }
}
