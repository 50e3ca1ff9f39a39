package graft.tools

import org.apache.spark.sql.functions._

import graft.Session

/** Dev scratch: the SRP tier's at-rest story, measured (the r17
  * verdict #2 number for SCALE.md). Builds a synthetic N x dim float
  * corpus, stages the SRP index ONCE (build timed separately), then
  * times a 32-query batch probe both ways, min-of-5, noop sink:
  *
  *   - direct `srpTopKBatch` — re-runs the (native) SRP pack over the
  *     float corpus on every call and scans the full float table;
  *   - at-rest `srpTopKIndexed` — cells precomputed at ingest, the
  *     probe reads them beside the vectors.
  *
  * Also times `srpNeighborPairs` vs `srpNeighborPairsIndexed` (the
  * all-pairs near-dup sweep, the other per-call re-signing site). */
object SrpScale {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(500000L)
    val dim = args.lift(1).map(_.toInt).getOrElse(64)
    val nBits = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = Session.local(32)
    import graft.operators.Similarity

    val corpus = spark.range(n).select(col("id"),
        transform(sequence(lit(1), lit(dim)),
          d => (rand(42) * 2.0 - 1.0).cast("float")).as("v"))
      .localCheckpoint(true)
    val queries = corpus.filter(col("id") < 32)
      .select(col("id").as("qid"), col("v").as("qv"))
      .localCheckpoint(true)

    val dir = java.nio.file.Files.createTempDirectory("srpscale")
      .toString + "/idx"
    val t0 = System.nanoTime()
    Similarity.buildSrpIndex(corpus, "id", "v", dir, nBits)
    println(f"[srp-scale] build n=$n dim=$dim nBits=$nBits " +
      f"${(System.nanoTime() - t0) / 1e9}%.3f s (one-time ingest)")

    def time(label: String, df: => org.apache.spark.sql.DataFrame): Unit = {
      val ts = (0 until 5).map { _ =>
        val s = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - s) / 1e9
      }
      println(f"[srp-scale] $label n=$n dim=$dim nBits=$nBits " +
        f"min=${ts.min}%.3f s")
    }
    time("probe direct (re-sign per call)",
      Similarity.srpTopKBatch(corpus, "id", "v", queries, "qid", "qv",
        k = 10, nBits = nBits))
    time("probe indexed (cells at rest)",
      Similarity.srpTopKIndexed(spark, dir, queries, "qid", "qv",
        k = 10))
    time("pairs direct (re-sign per call)",
      Similarity.srpNeighborPairs(corpus, "id", "v", minCos = 0.8,
        nBits = nBits))
    time("pairs indexed (cells at rest)",
      Similarity.srpNeighborPairsIndexed(spark, dir, minCos = 0.8))
    spark.stop()
  }
}
