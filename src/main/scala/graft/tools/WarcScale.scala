package graft.tools

import org.apache.spark.sql.functions._

import graft.{Session, Tables}
import graft.sources.Warc

/** Measurement tool (not library surface): WARC write + parse
  * throughput on a corpus scaled past the test tiers (documents
  * replicated with shifted ids), laid out as a many-file archive the
  * way a crawl segment is — parallelism comes from file count, which
  * is the claim SCALE.md makes for the ingestion path. Numbers go to
  * SCALE.md's text-analysis section; run at local[32] like Bench.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *        SPARK_GRAFT_SCALE=50 sbt "runMain graft.tools.WarcScale"
  */
object WarcScale {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE", "50").toInt
    val spark = Session.local()
    val cpus = spark.sparkContext.defaultParallelism

    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val docs = (0 until mult).map(i =>
        base.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
          col("text")))
      .reduce(_ unionByName _)
      .select(
        concat(lit("http://www.example.org/doc/"), col("doc_id"))
          .as("target_uri"),
        encode(col("text"), "UTF-8").as("body"))
      .repartition(cpus * 2) // 2 archive files per core
      .localCheckpoint()
    val nDocs = docs.count()
    val nBytes = docs.select(sum(length(col("body")))).collect()(0).getLong(0)

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val dir = java.nio.file.Files.createTempDirectory("warc_scale").toString
    try {
      val (_, tWrite) = time { Warc.write(docs, dir) }
      val onDisk = new java.io.File(dir).listFiles()
        .filterNot(_.getName.startsWith(".")).map(_.length()).sum
      val (nRead, tRead) = time { Warc.read(spark, dir).count() }
      require(nRead == nDocs, s"roundtrip mismatch: $nRead != $nDocs")
      println(f"docs=$nDocs%d payload_MB=${nBytes / 1e6}%.1f " +
        f"gz_MB=${onDisk / 1e6}%.1f files=${cpus * 2}%d " +
        f"write_s=$tWrite%.2f read_s=$tRead%.2f " +
        f"write_MBps=${nBytes / 1e6 / tWrite}%.1f " +
        f"read_MBps=${nBytes / 1e6 / tRead}%.1f " +
        f"read_krec_per_s=${nRead / 1e3 / tRead}%.1f")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
    spark.stop()
  }
}
