package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[Tables]] infers a path's parquet schema on its first load only,
  * infers again once the file underneath is regenerated, and leaves the
  * session's conf alone. */
class TablesSpec extends SparkSpec {

  private def scratch(): String = {
    val dir = Files.createTempDirectory("graft-tables")
    TempDirs.deleteOnExit(dir.toFile)
    dir.toString
  }

  test("the first load of a table infers its schema; a second load of the unchanged file launches no job") {
    // a fresh sfDir: no earlier load, in any suite, has cached these paths
    val dir = scratch()
    val names = Seq("orders", "events", "embeddings")
    names.foreach(n => Files.copy(Paths.get(s"$sfDir/$n.parquet"), Paths.get(s"$dir/$n.parquet")))
    names.foreach { n =>
      assert(jobsLaunchedBy(Tables.load(spark, dir, n).schema) >= 1, s"first load of $n")
      assert(jobsLaunchedBy(Tables.load(spark, dir, n).schema) == 0, s"second load of $n")
    }
  }

  test("loading every table leaves the session conf as it was") {
    val before = spark.conf.getAll
    Tables.names.foreach(n => Tables.load(spark, sfDir, n))
    assert(spark.conf.getAll == before)
  }

  test("an embeddings file regenerated with an extra column re-infers; embedding stays array<float>") {
    val dir = scratch()
    val path = s"$dir/embeddings.parquet"
    val source = Tables.embeddings(spark, sfDir)
    source.write.parquet(path)
    assert(!Tables.embeddings(spark, dir).columns.contains("shard"))
    source.withColumn("embedding", col("embedding").cast("array<double>"))
      .withColumn("shard", col("vec_id") % 4)
      .write.mode("overwrite").parquet(path)
    val again = Tables.embeddings(spark, dir)
    assert(again.columns.contains("shard"), again.schema.treeString)
    assert(again.schema("embedding").dataType.simpleString == "array<float>",
      again.schema.treeString)
    assert(again.filter(col("vec_id") === 0L).select("embedding")
      .collect()(0).getSeq[Float](0).nonEmpty)
    assert(again.select("shard").distinct().count() == 4)
  }

  test("an events file regenerated from NTZ micros to plain INT64 micros re-infers and loads the same rows") {
    // the rows EventsEncodingSpec loads under every ts encoding
    val rows: Seq[(Long, Long, Long, String, Double, String)] = Seq(
      (1L, 1700000000123456L, 10L, "view", 1.5, """{"k":1}"""),
      (2L, 1700000000123457L, 10L, "click", 2.0, """{"k":2}"""),
      (3L, 1700003600000001L, 10L, "buy", 3.25, """{"k":3}"""),
      (4L, 1700000001000000L, 20L, "view", 0.5, """{"k":4}"""),
      (5L, 1700007200999999L, 20L, "view", 4.0, """{"k":5}"""),
      (6L, 1700010800500000L, 30L, "click", 2.5, """{"k":6}"""))
    import spark.implicits._
    val dir = scratch()
    val path = s"$dir/events.parquet"
    val asLong = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1)
    def loaded = Tables.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .as[(Long, Long, Long, String, Double, String)].collect().sortBy(_._1).toSeq

    asLong.withColumn("ts", timestamp_micros(col("ts")).cast(TimestampNTZType))
      .write.parquet(path)
    assert(spark.read.parquet(path).schema("ts").dataType == TimestampNTZType)
    assert(loaded == rows, "timestamp[us] NTZ file")

    asLong.write.mode("overwrite").parquet(path)
    assert(spark.read.parquet(path).schema("ts").dataType == LongType)
    assert(loaded == rows, "the same path regenerated as plain INT64 micros")
  }
}
