package graft.tools

import graft.engine._

/** Drives the gridVeg wrangle pipelines end-to-end through the public
  * library surface: build a warehouse from CSV, run all three pipelines,
  * export CSV — the exact flow a reference user would run.
  */
object GridVegDemo {
  def main(args: Array[String]): Unit = {
    val spark = SessionDefaults.localSession("8")
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("gridveg_wh").toString
    val wh = new Warehouse(spark, root)

    // ingest survey metadata from a FileMaker-style CSV
    val csv = s"$root/in.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(csv),
      "__kp_Survey,_kf_Site,SurveyYear,SurveyDate,Surveyor1\n" +
        "s1,10,2023,6/25/23,A Surveyor\ns2,20,2023,6/26/23,B Surveyor\n")
    val raw = spark.read.option("header", "true").csv(csv)
    val renamed = Ingest.renameColumns(raw, Seq("__kp_Survey" -> "survey_ID",
      "_kf_Site" -> "grid_point", "SurveyYear" -> "year",
      "SurveyDate" -> "date", "Surveyor1" -> "surveyor"))
    val surveyMeta = renamed
      .withColumn("grid_point", Ingest.coerceInt($"grid_point"))
      .withColumn("year", Ingest.coerceInt($"year"))
      .withColumn("date", Ingest.parseDate($"date"))
      .withColumn("survey_sequence", Ingest.surveySequence($"year"))
      .select("survey_ID", "grid_point", "year", "date", "survey_sequence", "surveyor")
    wh.overwrite(surveyMeta, "gridVeg_survey_metadata")
    println("[demo] schema diff vs declared: " +
      Validation.schemaDiff(Schemas.surveyMetadata,
        wh.schemaOf("gridVeg_survey_metadata")).mkString("; "))

    // incremental append: same batch again must append 0
    val r = Ingest.incrementalAppend(wh, "gridVeg_survey_metadata", surveyMeta,
      Seq("survey_ID"))
    println(s"[demo] re-append: appended=${r.appended} dups=${r.duplicates} " +
      s"reconciled=${r.reconciled}")

    // ground-cover wrangle over fixture facts
    val ground = Seq(
      ("s1", 10, 2023, "N1", 1, "BG"), ("s1", 10, 2023, "N2", 1, "BG"),
      ("s1", 10, 2023, "N3", 1, "LIT"), ("s2", 20, 2023, "N1", 1, "ROCK"))
      .toDF("survey_ID", "grid_point", "year", "transect_point",
        "intercept_1", "intercept_ground_code")
    val codes = Seq(("BG", "bare"), ("LIT", "litter"), ("ROCK", "rock"))
      .toDF("intercept_ground_code", "ground_group")
    val gc = GridVegPipelines.groundCover(ground, codes,
      wh.read("gridVeg_survey_metadata"))
    gc.show(10, truncate = false)

    // SQL surface over the warehouse catalog
    wh.registerAll()
    val n = wh.sql(
      "SELECT count(*) AS n FROM gridVeg_survey_metadata WHERE year = 2023")
      .head().getAs[Long]("n")
    println(s"[demo] sql-over-catalog surveys_2023=$n tables=${wh.listTables().mkString(",")}")
    wh.exportCsv(gc, s"$root/out_groundcover")
    val exported = spark.read.option("header", "true")
      .csv(s"$root/out_groundcover").count()
    println(s"[demo] groundCover rows=${gc.count()} exported=$exported " +
      s"backup_dirs=${new java.io.File(s"$root/_backups/gridVeg_survey_metadata").list().length}")
    spark.stop()
  }
}
