package graft.tools

import org.apache.spark.sql.functions._

import graft.{Session, Tables}
import graft.operators.Similarity

/** Measurement tool (not part of the library surface): recall@k of the
  * PQ / IVF-PQ ANN family against brute-force cosine ground truth,
  * swept over the three user-facing dials — code resolution (`nbits`),
  * probed cells (`probes`) and exact-rerank pool depth — the numbers
  * recorded in SCALE.md's PQ recall table and pinned (at the spec SF)
  * by PqSpec's recall-floor gate.
  *
  * Protocol matches [[IvfRecall]]: k=10, 20 query ids spread across
  * the corpus, mean recall@10 vs [[Similarity.cosineTopK]].
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.PqRecall"
  */
object PqRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(8)

    val k = 10
    val nQueries = 20
    val emb = Tables.embeddings(spark, sfDir).cache()
    val n = emb.count()
    val qIds = emb.select("vec_id").orderBy("vec_id")
      .limit(n.toInt).collect().map(_.getLong(0))
      .grouped(math.max(1, n.toInt / nQueries)).map(_.head)
      .take(nQueries).toSeq
    val qVecs: Map[Long, Array[Float]] = emb
      .filter(col("vec_id").isin(qIds: _*))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

    val truth: Map[Long, Set[Long]] = qIds.map { q =>
      q -> Similarity.cosineTopK(emb, "vec_id", "embedding", q, k)
        .select("id").collect().map(_.getLong(0)).toSet
    }.toMap

    println(f"corpus=$n%d queries=$nQueries k=$k dim=64")

    // ---- PQ flat: nbits x rerank-pool (m=8 -> 8-byte codes, the
    // 32x-compression operating point documented in SCALE.md) ----
    println("| m | nbits | rerank pool | mean recall@10 |")
    println("|---|---|---|---|")
    for (nbits <- Seq(4, 6, 8)) {
      val model = Similarity.trainPq(emb, "vec_id", "embedding",
        m = 8, nbits = nbits, iters = 10)
      for (pool <- Seq(0, 2 * k, 5 * k)) {
        val recalls = qIds.map { q =>
          val got =
            (if (pool == 0)
              Similarity.pqTopK(emb, "vec_id", "embedding", q, model, k)
            else
              Similarity.pqTopKReranked(emb, "vec_id", "embedding", q,
                model, k, pool))
              .select("id").collect().map(_.getLong(0)).toSet
          truth(q).intersect(got).size.toDouble / k
        }
        val mean = recalls.sum / recalls.size
        val poolLbl = if (pool == 0) "none (ADC only)" else s"$pool"
        println(f"| 8 | $nbits | $poolLbl | $mean%.3f |")
      }
    }

    // ---- IVF-PQ: nbits x probes at nCells=16 (partition pruning
    // stacked on code compression; recall cost of the residual codes
    // shows up as the probes=16 row vs the PQ-flat table above) ----
    val nCells = 16
    println(s"| nCells | m | nbits | probes | mean recall@10 |")
    println("|---|---|---|---|---|")
    for (nbits <- Seq(4, 8)) {
      val path = s"/tmp/pq_recall_ivf_${nbits}"
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", path,
        nCells = nCells, m = 8, nbits = nbits, iters = 4)
      for (probes <- Seq(1, 2, 4, 8, 16)) {
        val recalls = qIds.map { q =>
          // fetch k+1, drop the query itself, then TRUNCATE back to the
          // top-k of what remains (score order): when lossy codes or
          // low probes fail to retrieve q, keeping all k+1 candidates
          // would score a k+1-sized set against a k-sized truth set and
          // inflate recall at exactly the low-recall operating points
          val got = Similarity.ivfPqTopK(spark, path, qVecs(q), k + 1,
            probes)
            .select("id").collect().map(_.getLong(0)).toSeq
            .filterNot(_ == q).take(k).toSet
          truth(q).intersect(got).size.toDouble / k
        }
        val mean = recalls.sum / recalls.size
        println(f"| $nCells | 8 | $nbits | $probes | $mean%.3f |")
      }
    }
    spark.stop()
  }
}
