package graft.engine

import org.apache.spark.sql.SparkSession

/** Session defaults shared by every local entry point (Bench/Verify/
  * Smoke/tools/tests). One place, so a driver-contract main and the
  * evidence tools measure the same I/O stack.
  *
  * `fs.file.impl` → [[FastLocalFs]]: serves local-FS metadata through
  * `java.nio` instead of Hadoop's fork-per-permission-read shell path and
  * drops the `.crc` sibling files of the checksummed default — a
  * local-deployment I/O fix (profiled: ~1/3 of driver samples on the
  * index-maintenance composites were `ls` forks under file listings). On
  * a cluster the warehouse scheme is hdfs/s3 and this binding is inert.
  * Opt out per session with `SPARK_GRAFT_STOCK_LOCAL_FS=1` (A/B lever —
  * keeps the bench comparable across the flag). */
object SessionDefaults {
  def withLocalIo(b: SparkSession.Builder): SparkSession.Builder = {
    // 64-partition index layouts sat exactly above the stock
    // parallel-listing threshold (32), so EVERY read of a published
    // index paid a distributed "listing leaf files" JOB (~0.1 s of
    // driver latency each; the maintenance composites re-read their
    // index 10-15× per run). With fork-free NIO statuses a driver-side
    // listing of ≤ 128 dirs is microseconds; deployments whose tables
    // fan out to thousands of object-store partitions should lower it
    // back (the setting is per-session, not baked into the engine).
    val b2 = b.config(
      "spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
    if (sys.env.contains("SPARK_GRAFT_STOCK_LOCAL_FS")) b2
    else b2.config("spark.hadoop.fs.file.impl",
      classOf[FastLocalFs].getName)
  }

  /** The session every local main runs on: [[withLocalIo]] at
    * `local[cores]` with as many shuffle partitions, the UTC session zone
    * (the events NTZ→TZ normalization in `Td` then yields the same
    * instants on any box) and no UI. `conf` is applied last. */
  def localSession(cores: String, logLevel: String = "WARN",
                   conf: Seq[(String, String)] = Nil): SparkSession = {
    val b = withLocalIo(SparkSession.builder()).master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
