package graft.tools

import org.apache.spark.sql.functions._

import graft.{Session, Tables}
import graft.operators.Similarity

/** Measurement main (dev tooling): how [[Similarity.ivfDriftSummary]]'s
  * two dials move as an appended delta drifts away from the build-time
  * distribution — and (r15) whether [[Similarity.ivfRetrain]] actually
  * recovers what drift cost. The numbers justify "watch the summary,
  * retrain on movement" as the [[Similarity.ivfAppend]] maintenance
  * contract.
  *
  * Protocol: build the centroid index on the corpus embeddings,
  * snapshot the summary, then append same-size deltas of increasing
  * distortion — an IN-DISTRIBUTION copy (ids shifted, vectors
  * unchanged: the null case — both dials should barely move) and
  * SHIFTED copies (a constant offset added to the first coordinate,
  * the anisotropic-mean drift real embedding corpora develop), and
  * print the summary after each append (appends COMPOUND — each row
  * reads the index with all prior deltas in, which is exactly how an
  * unattended ingest pipeline would experience drift). Recall@10 is
  * measured for TWO workloads against brute-force truth over the
  * index's current contents: the LEGACY workload (queries = spread
  * base vectors) and — once the 2.0-shift delta lands — the NEW
  * workload (queries = spread vectors of that delta: the population
  * the drift summary exists to catch). The final stage retrains on
  * the full contents and re-measures both. */
object IvfDrift {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session.local(8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfdrift").toString + "/idx"
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    Similarity.buildIvfCentroidIndex(emb, "vec_id", "embedding", dir,
      k = 16, iters = 4)
    val k = 10
    def spreadQueries(pool: org.apache.spark.sql.DataFrame)
      : Map[Long, Array[Float]] = {
      val ids = pool.select("vec_id").orderBy("vec_id").collect()
        .map(_.getLong(0)).grouped(math.max(1, 2000 / 20))
        .map(_.head).take(20).toSeq
      pool.filter(col("vec_id").isin(ids: _*))
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    }
    val legacyQ = spreadQueries(emb)
    def recallAt(probes: Int, qVecs: Map[Long, Array[Float]]): Double = {
      val corpus = spark.read.parquet(dir)
        .select(col("id").as("vec_id"), col("v").as("embedding"))
      val recalls = qVecs.toSeq.sortBy(_._1).map { case (q, vec) =>
        val truth = Similarity.cosineTopK(corpus, "vec_id", "embedding",
            q, k).select("id").collect().map(_.getLong(0)).toSet
        val got = Similarity.ivfCentroidTopK(spark, dir, vec, k + 1,
            probes).select("id").collect().map(_.getLong(0))
          .filterNot(_ == q).take(k).toSet
        (got intersect truth).size.toDouble / k
      }
      recalls.sum / recalls.size
    }
    def row(stage: String, newQ: Option[Map[Long, Array[Float]]]): String = {
      val s = Similarity.ivfDriftSummary(spark, dir).collect()(0)
      val newCols = newQ
        .map(q => f"${recallAt(1, q)}%.3f | ${recallAt(4, q)}%.3f")
        .getOrElse("— | —")
      f"| $stage | ${s.getLong(0)} | ${s.getLong(1)} | " +
        f"${s.getDouble(2)}%.3f | ${s.getDouble(3)}%.4f | " +
        f"${s.getBoolean(4)} | ${recallAt(1, legacyQ)}%.3f | " +
        f"${recallAt(4, legacyQ)}%.3f | $newCols |"
    }
    def shifted(offset: Double, idBase: Long) = emb.select(
      (col("vec_id") + idBase).as("vec_id"),
      // cast back to float so appended partitions keep the index's
      // at-rest schema (array<float>), not a silently widened copy
      transform(col("embedding"),
        (x, i) => when(i === 0, x + lit(offset)).otherwise(x + lit(0.0d)))
        .cast("array<float>").as("embedding"))
    println("| stage | cells | vecs | count_skew | mean_residual | " +
      "retrain(4.0/0.5) | legacy r@10 p=1 | p=4 | new r@10 p=1 | p=4 |")
    println("|---|---|---|---|---|---|---|---|---|---|")
    println(row("build", None))
    Similarity.ivfAppend(shifted(0.0, 1000000L), "vec_id", "embedding", dir)
    println(row("+copy (no shift)", None))
    Similarity.ivfAppend(shifted(0.5, 2000000L), "vec_id", "embedding", dir)
    println(row("+copy shifted 0.5", None))
    Similarity.ivfAppend(shifted(2.0, 3000000L), "vec_id", "embedding", dir)
    val newQ = spreadQueries(shifted(2.0, 3000000L))
    println(row("+copy shifted 2.0", Some(newQ)))
    Similarity.ivfRetrain(spark, dir, iters = 4)
    println(row("RETRAIN (k kept)", Some(newQ)))
    spark.stop()
  }
}
