package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** The session policy has one home, [[Session.local]], and the program
  * has three entry points. */
class SessionSpec extends SparkSpec {

  test("Session.local carries the graft extensions, UTC and one shuffle partition per core") {
    // the shared harness session exists first, so the 2-core call below
    // reuses it and only its runtime conf moves; restore that afterwards
    val partitions = SQLConf.SHUFFLE_PARTITIONS.key
    assert(spark.conf.get(partitions) == "4")
    try {
      val s = Session.local(2)
      assert(s.conf.get(StaticSQLConf.SPARK_SESSION_EXTENSIONS.key) ==
        "graft.plans.GraftExtensions")
      assert(s.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key) == "UTC")
      assert(s.conf.get(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key) == "true")
      assert(s.conf.get(partitions) == "2")
    } finally Session.local(4)
    assert(spark.conf.get(partitions) == "4")
  }

  test("the session factory is the only place under src/ that builds a SparkSession") {
    val needle = "SparkSession" + ".builder"
    val files = Files.walk(Paths.get("src"))
    val hits = try files.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => p -> Files.readAllLines(p).asScala.count(_.contains(needle)))
      .filter(_._2 > 0).toSeq
    finally files.close()
    assert(hits == Seq(Paths.get("src/main/scala/graft/Session.scala") -> 1),
      hits.mkString("\n"))
  }

  test("src/main has three entry points: Bench, Verify and tools.Probe") {
    val files = Files.walk(Paths.get("src/main"))
    val mains = try files.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => Files.readAllLines(p).asScala
        .exists(l => l.contains("def main(") || l.contains("extends App")))
      .map(_.toString).toSeq.sorted
    finally files.close()
    assert(mains == Seq("src/main/scala/graft/Bench.scala",
      "src/main/scala/graft/Verify.scala",
      "src/main/scala/graft/tools/Probe.scala"), mains.mkString("\n"))
  }
}
