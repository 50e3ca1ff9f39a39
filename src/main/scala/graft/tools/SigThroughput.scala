package graft.tools

import org.apache.spark.sql.functions._

import graft.Session

/** Dev scratch: native vs declarative sign-pack throughput (the
  * r16 verdict #5 Msig/s number for SCALE.md). Builds a synthetic
  * N x dim float corpus once (localCheckpoint — timing excludes
  * generation), then times `binarySignature` (native
  * [[graft.plans.BinarySignature]]) and the declarative fold over
  * the same rows, min-of-5, noop sink. */
object SigThroughput {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(500000L)
    val dim = args.lift(1).map(_.toInt).getOrElse(128)
    val spark = Session.local(32)
    val corpus = spark.range(n).select(col("id"),
        transform(sequence(lit(1), lit(dim)),
          d => (rand(42) * 2.0 - 1.0).cast("float")).as("v"))
      .localCheckpoint(true)
    def time(label: String, sig: org.apache.spark.sql.Column): Unit = {
      val ts = (0 until 5).map { _ =>
        val t0 = System.nanoTime()
        corpus.select(sig.as("sig"))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[sig-throughput] $label n=$n dim=$dim " +
        f"min=${ts.min}%.3f s  ${n / ts.min / 1e6}%.2f Msig/s")
    }
    time("native", graft.operators.Similarity.binarySignature(col("v")))
    time("declarative",
      graft.operators.Similarity.binarySignatureDeclarative(col("v")))

    // ---- Hamming scorer (r17 verdict #1): signatures AT REST (signed
    // once, localCheckpointed — the buildBqIndex deployment shape),
    // scored against a BROADCAST batch of query signatures — the
    // bqTopKBatch/bqTopKIndexed probe shape, where per-row overhead
    // amortizes over |q| pairs and the scorer is the recurring cost.
    val q = args.lift(2).map(_.toInt).getOrElse(32)
    val signed = corpus.select(col("id"),
        graft.operators.Similarity.binarySignature(col("v")).as("sig"))
      .localCheckpoint(true)
    val qsig = signed.filter(col("id") < q)
      .select(col("sig").as("__qsig"))
    def timeHam(label: String,
                ham: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
                  => org.apache.spark.sql.Column): Unit = {
      val ts = (0 until 5).map { _ =>
        val t0 = System.nanoTime()
        signed.join(broadcast(qsig))
          .select(ham(col("sig"), col("__qsig")).as("h"))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[ham-throughput] $label n=$n dim=$dim q=$q " +
        f"min=${ts.min}%.3f s  ${n.toDouble * q / ts.min / 1e6}%.2f Mham/s")
    }
    timeHam("native", graft.operators.Similarity.hammingDistance)
    timeHam("declarative",
      graft.operators.Similarity.hammingDistanceDeclarative)
    spark.stop()
  }
}
