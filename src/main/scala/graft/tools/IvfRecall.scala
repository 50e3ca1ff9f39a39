package graft.tools

import org.apache.spark.sql.functions._

import graft.{Session, Tables}
import graft.operators.Similarity

/** Measurement tool (not part of the library surface): recall@k of the
  * IVF/SRP-partitioned ANN probe against brute-force cosine ground
  * truth, across cell resolution (nBits) and single- vs multi-probe —
  * the numbers recorded in SCALE.md's recall table.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.IvfRecall"
  */
object IvfRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(8)

    val k = 10
    val nQueries = 20
    val emb = Tables.embeddings(spark, sfDir).cache()
    val n = emb.count()
    // spread query ids across the corpus deterministically
    val qIds = emb.select("vec_id").orderBy("vec_id")
      .limit(n.toInt).collect().map(_.getLong(0))
      .grouped(math.max(1, n.toInt / nQueries)).map(_.head).take(nQueries).toSeq
    val qVecs: Map[Long, Array[Float]] = emb
      .filter(col("vec_id").isin(qIds: _*))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

    val truth: Map[Long, Set[Long]] = qIds.map { q =>
      q -> Similarity.cosineTopK(emb, "vec_id", "embedding", q, k)
        .select("id").collect().map(_.getLong(0)).toSet
    }.toMap

    println(f"corpus=$n%d queries=$nQueries k=$k")
    println("| nBits (cells) | probes | mean recall@10 | scanned cells |")
    println("|---|---|---|---|")
    val srpBits = if (sys.env.contains("SPARK_GRAFT_IVFC_ONLY")) Seq.empty[Int]
                  else Seq(2, 4, 6)
    for (nBits <- srpBits; probes <- Seq(1, 2)) {
      val path = s"/tmp/ivf_recall_$nBits"
      Similarity.buildIvfIndex(emb, "vec_id", "embedding", path, nBits)
      val cellsScanned = if (probes <= 1) 1 else 1 + nBits
      val recalls = qIds.map { q =>
        val got = Similarity.ivfTopK(spark, path, qVecs(q), k + 1, nBits, probes)
          .select("id").collect().map(_.getLong(0)).filterNot(_ == q).take(k).toSet
        (got intersect truth(q)).size.toDouble / k
      }
      val mean = recalls.sum / recalls.size
      println(f"| $nBits (${1 << nBits}) | $probes | $mean%.3f | $cellsScanned/${1 << nBits} |")
    }

    // centroid-balanced IVF: same probe protocol, k-means cells. Also
    // report the MEASURED scanned-row fraction (sum of probed cell
    // sizes / corpus) — balanced occupancy making probes/k a faithful
    // cost proxy is the point of the variant.
    println("| kCells (centroid) | probes | mean recall@10 | rows scanned |")
    println("|---|---|---|---|")
    val cellList = sys.env.get("SPARK_GRAFT_IVFC_CELLS")
      .map(_.split(",").toSeq.map(_.toInt)).getOrElse(Seq(4, 16, 64))
    val probeList = sys.env.get("SPARK_GRAFT_IVFC_PROBES")
      .map(_.split(",").toSeq.map(_.toInt)).getOrElse(Seq(1, 2, 4, 8))
    for (kCells <- cellList; probes <- probeList if probes < kCells) {
      val path = s"/tmp/ivfc_recall_$kCells"
      val centroids = Similarity.buildIvfCentroidIndex(emb, "vec_id",
        "embedding", path, k = kCells, iters = 6)
      val cellSizes = spark.read.parquet(path).groupBy("cell").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      def probedCells(qv: Array[Float]): Seq[Int] = {
        val nrm = math.sqrt(qv.map(x => x.toDouble * x).sum)
        val qn = if (nrm > 0) qv.map(_ / nrm) else qv.map(_.toDouble)
        centroids.zipWithIndex
          .map { case (c, i) =>
            i -> c.zip(qn).map { case (a, b) => a * b }.sum }
          .sortBy { case (i, s) => (-s, i) }.take(probes).map(_._1)
      }
      var rowsScanned = 0L
      val recalls = qIds.map { q =>
        rowsScanned += probedCells(qVecs(q)).map(cellSizes.getOrElse(_, 0L)).sum
        val got = Similarity.ivfCentroidTopK(spark, path, qVecs(q), k + 1,
            probes)
          .select("id").collect().map(_.getLong(0)).filterNot(_ == q)
          .take(k).toSet
        (got intersect truth(q)).size.toDouble / k
      }
      val mean = recalls.sum / recalls.size
      val frac = rowsScanned.toDouble / (n.toDouble * nQueries)
      println(f"| $kCells | $probes | $mean%.3f | ${frac * 100}%.1f%% |")
    }
    spark.stop()
  }
}
