package graft

import org.apache.spark.sql.SparkSession

/** The one session policy: every main and the test harness get their
  * SparkSession here, so a dev tool measures the same optimizer (the
  * graft extensions) and the same time zone that production runs.
  */
object Session {

  /** A local session on `cpus` cores (default: `SPARK_GRAFT_CPUS`, else
    * every available processor), with one shuffle partition per core,
    * [[graft.plans.GraftExtensions]] loaded, a UTC session time zone, no
    * UI, a throwaway warehouse directory and WARN logging.
    *
    * AQE keeps Spark's defaults, coalescePartitions.minPartitionSize
    * included, DELIBERATELY: the r20 A/B (OPTIMIZATION_r20.md) lowered
    * that size to 64k so small-byte/high-CPU text stages would keep
    * more post-shuffle tasks, and the full headline bench measured NET
    * SLOWER (35.70 vs 33.38 s) — in one shared local JVM the extra task
    * overhead outweighs the parallelism on these inputs.
    */
  def local(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)): SparkSession = {
    // repo-root hygiene: Derby (the JDBC tests' embedded db) and the
    // default ./spark-warehouse otherwise litter the cwd
    System.setProperty("derby.stream.error.file",
      new java.io.File("target/derby.log").getAbsolutePath)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
