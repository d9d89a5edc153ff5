package graft

/** Local smoke runner mirroring the driver's t1 check: SparkEntry.entry
  * must return >0 rows on sf0.001.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.SessionDefaults.localSession("8")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n ${if (n > 0) "OK" else "EMPTY — FAIL"}")
    spark.stop()
  }
}
