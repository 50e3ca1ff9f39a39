package graft.tools

import org.apache.spark.sql.functions._

import graft.{Session, Tables}
import graft.operators.Similarity

/** Measurement tool (not part of the library surface): recall@k of
  * the binary-signature tier against brute-force cosine ground truth
  * — (a) the raw Hamming ranking (how much the 1-bit sketch alone
  * preserves) and (b) the Hamming-pool -> exact-rerank funnel swept
  * over pool depth (the production dial: recall rises toward 1.0 as
  * the pool widens while the exact math still touches only pool rows
  * per query). Numbers go to SCALE.md's quantization-ladder section;
  * the MRL prefix-dimension funnel is swept beside it for the same
  * table.
  *
  * Protocol matches [[PqRecall]]: k=10, 20 query ids spread across
  * the corpus, mean recall@10 vs the exact batch-cosine ranking.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.BqRecall"
  */
object BqRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(8)

    val k = 10
    val nQueries = 20
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).cache()
    val n = emb.count()
    val qIds = emb.select("vec_id").orderBy("vec_id")
      .limit(n.toInt).collect().map(_.getLong(0))
      .grouped(math.max(1, n.toInt / nQueries)).map(_.head)
      .take(nQueries).toSeq
    val queries = emb.filter(col("vec_id").isin(qIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }

    val truth = topSets(Similarity.cosineTopKBatch(emb, "vec_id",
        "embedding", queries, "qid", "qv", k)
      .select(col("qid"), col("id")))

    def recall(got: Map[Long, Set[Long]]): Double =
      truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }.sum / truth.size

    val raw = topSets(Similarity.bqTopKBatch(emb, "vec_id",
        "embedding", queries, "qid", "qv", k)
      .select(col("qid"), col("id")))
    println(f"[bq-recall] n=$n raw_hamming recall@$k=${recall(raw)}%.3f")

    Seq(20, 50, 100, 200).foreach { pool =>
      val fun = topSets(Similarity.bqTopKRerankedBatch(emb, "vec_id",
          "embedding", queries, "qid", "qv", k, pool)
        .select(col("qid"), col("id")))
      println(f"[bq-recall] n=$n rerank pool=$pool%d " +
        f"recall@$k=${recall(fun)}%.3f")
    }

    Seq(8, 16, 32).foreach { dims =>
      val mrl = topSets(Similarity.matryoshkaRerankedBatch(emb,
          "vec_id", "embedding", queries, "qid", "qv", k, pool = 100,
          dims = dims)
        .select(col("qid"), col("id")))
      println(f"[bq-recall] n=$n mrl dims=$dims%d pool=100 " +
        f"recall@$k=${recall(mrl)}%.3f")
    }
    spark.stop()
  }
}
