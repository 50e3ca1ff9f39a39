package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Session, Tables}
import graft.operators.Similarity

/** Measurement tool (not part of the library surface): does corpus
  * centering + re-normalization ([[Similarity.centerAndNormalize]])
  * lift cell-partitioned ANN recall on THIS corpus? For each variant
  * (raw / centered) the brute-force truth is recomputed in the same
  * representation — centering changes the metric space, so the
  * comparison is "how well do the cells approximate each space's own
  * exact cosine", not raw-vs-centered score values. Numbers land in
  * SCALE.md next to the IVF recall table.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.CenterRecall"
  */
object CenterRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(8)

    val k = 10
    val nQueries = 20
    val raw = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).cache()
    val centered = Similarity.centerAndNormalize(raw, "vec_id", "embedding")
      .select(col("vec_id"),
        transform(col("centered"), x => x.cast("float")).as("embedding"))
      .cache()
    val n = raw.count()
    val qIds = raw.select("vec_id").orderBy("vec_id")
      .limit(n.toInt).collect().map(_.getLong(0))
      .grouped(math.max(1, n.toInt / nQueries)).map(_.head)
      .take(nQueries).toSeq

    def meanRecall(df: DataFrame, tag: String, nBits: Int,
                   probes: Int): Double = {
      val qVecs = df.filter(col("vec_id").isin(qIds: _*))
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      val truth = qIds.map { q =>
        q -> Similarity.cosineTopK(df, "vec_id", "embedding", q, k)
          .select("id").collect().map(_.getLong(0)).toSet
      }.toMap
      val path = s"/tmp/center_recall_${tag}_$nBits"
      Similarity.buildIvfIndex(df, "vec_id", "embedding", path, nBits)
      val recalls = qIds.map { q =>
        val got = Similarity.ivfTopK(spark, path, qVecs(q), k + 1, nBits,
            probes)
          .select("id").collect().map(_.getLong(0))
          .filterNot(_ == q).take(k).toSet
        (got intersect truth(q)).size.toDouble / k
      }
      recalls.sum / recalls.size
    }

    println(f"corpus=$n%d queries=$nQueries k=$k")
    println("| nBits (cells) | probes | raw recall@10 | centered recall@10 |")
    println("|---|---|---|---|")
    for (nBits <- Seq(2, 4, 6); probes <- Seq(1, 2)) {
      val r = meanRecall(raw, "raw", nBits, probes)
      val c = meanRecall(centered, "ctr", nBits, probes)
      println(f"| $nBits (${1 << nBits}) | $probes | $r%.3f | $c%.3f |")
    }
    spark.stop()
  }
}
