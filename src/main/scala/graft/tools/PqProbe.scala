package graft.tools

import org.apache.spark.sql.functions._

import graft.{Session, Tables}
import graft.operators.Similarity

/** Scratch: PQ behavior on the test embeddings — code collision rate,
  * planted-duplicate ranking, recall@10 vs exact cosine — run at each
  * SF before pinning the q_pq_* gate thresholds. */
object PqProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Session.local(8)
    import spark.implicits._

    val emb = Tables.load(spark, sfDir, "embeddings")
    for (nbits <- Seq(4, 6, 8); m <- Seq(8, 16)) {
      val model = Similarity.trainPq(emb, "vec_id", "embedding",
        m = m, nbits = nbits, iters = 10)
      val coded = Similarity.withPqCodes(emb, "embedding", model)
        .select($"vec_id", hex($"pq_code").as("code"))
      val n = coded.count()
      val distinct = coded.select($"code").distinct().count()
      // planted copy of vec 0 at id 1000000
      val planted = emb.unionByName(
        emb.filter($"vec_id" === 0L).select(
          lit(1000000L).as("vec_id"), $"embedding", $"label"))
      val top = Similarity.pqTopK(planted, "vec_id", "embedding",
        queryId = 0L, model, k = 10).collect()
      val top1 = top.head.getLong(0)
      // recall@10 vs exact cosine for query 0
      val exact = Similarity.cosineTopK(emb, "vec_id", "embedding",
        queryId = 0L, k = 10).select("id").as[Long].collect().toSet
      val pq = Similarity.pqTopK(emb, "vec_id", "embedding",
        queryId = 0L, model, k = 10)
        .select("id").as[Long].collect().toSet
      println(s"[pqprobe] m=$m nbits=$nbits n=$n distinctCodes=$distinct " +
        s"top1=$top1 top1cos=${top.head.getDouble(1)} " +
        s"recall10=${exact.intersect(pq).size}/10")
    }
    spark.stop()
  }
}
