package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Session, Tables}
import graft.operators.CorpusOps

/** Measurement main (dev tooling, not a catalog query): pins the
  * merged-fixed-n duplicated-range approximation against an EXACT
  * brute-force maximal-repeat oracle — the PqRecall move applied to the
  * span-dedup family.
  *
  * [[CorpusOps.dupSpansMerged]] discretizes Lee et al. 2021's
  * arbitrary-length duplicated substrings (their suffix array) to
  * stride-1 fixed-`n` spans + interval union + a `>= minTokens` length
  * filter. The exact standard it approximates: a token position is
  * removable iff it lies inside SOME duplicated substring of length
  * `>= minTokens` occurring in `>= minDf` distinct documents. That
  * truth is computable without a suffix array because duplicated
  * substrings are closed under taking sub-windows: a substring of
  * length L >= minTokens duplicated across >= minDf docs has ALL of its
  * length-`minTokens` windows duplicated across a superset of those
  * docs, and the union of those windows is exactly its interval — so
  * the exact covered set equals the union of duplicated windows of
  * length EXACTLY `minTokens` (brute-force enumerable: O(corpus tokens)
  * windows into a hash map; affordable at the gate SFs, never a
  * production path).
  *
  * Two structural facts this tool measures around (proofs in the
  * scaladoc above, pinned by SpanOracleSpec):
  *   - `n == minTokens` => the approximation IS the exact oracle
  *     (identical maximal ranges, not just identical coverage);
  *   - `n < minTokens`  => recall is exactly 1.0 (every true range
  *     stays covered) and ONLY precision can fall: chains of shorter
  *     (length n..minTokens-1) duplicated windows can merge into a run
  *     that passes the length filter without any true >= minTokens
  *     duplicated substring inside it (over-extension).
  * So the table's one moving number is token precision as (n,
  * minTokens) separate — the cost of running the cheap fixed-n pass
  * with a LONGER removal threshold instead of re-posting at n =
  * minTokens. */
object SpanRecall {

  /** Whitespace tokens, identical to the engine's `tokens()` /
    * `hasMinTokens` (Java regex `\s+` over trimmed text). */
  def tokenize(text: String): Array[String] = {
    if (text == null) return Array.empty
    val t = text.trim
    if (t.isEmpty) Array.empty else t.split("\\s+")
  }

  /** Brute-force exact oracle: per doc, the maximal runs of token
    * positions covered by some length-`minTokens` window occurring in
    * >= `minDf` DISTINCT docs (within-doc repeats alone don't flag —
    * [[CorpusOps.duplicateSpanStats]] df semantics). Returns 0-based
    * inclusive (start, end) ranges; every run is >= minTokens long by
    * construction. Driver-side measurement code — O(corpus tokens)
    * time and memory. */
  def exactMaximalRanges(docs: Seq[(Long, Array[String])], minTokens: Int,
                         minDf: Int): Map[Long, Seq[(Int, Int)]] = {
    require(minTokens >= 2 && minDf >= 2)
    val df = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.HashSet[Long]]
    for ((id, tk) <- docs; i <- 0 to tk.length - minTokens)
      df.getOrElseUpdate(tk.slice(i, i + minTokens).mkString(" "),
        scala.collection.mutable.HashSet.empty[Long]) += id
    docs.iterator.map { case (id, tk) =>
      val starts = (0 to tk.length - minTokens).filter { i =>
        df(tk.slice(i, i + minTokens).mkString(" ")).size >= minDf
      }
      // union of [i, i+minTokens-1] intervals -> maximal runs
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      for (i <- starts) {
        val e = i + minTokens - 1
        if (runs.nonEmpty && i <= runs.last._2 + 1)
          runs(runs.size - 1) = (runs.last._1, math.max(runs.last._2, e))
        else runs += ((i, e))
      }
      id -> runs.toSeq
    }.filter(_._2.nonEmpty).toMap
  }

  final case class Config(n: Int, minTokens: Int)

  final case class Result(n: Int, minTokens: Int,
                          exactRanges: Int, approxRanges: Int,
                          rangesIdentical: Int,
                          exactTokens: Long, approxTokens: Long,
                          recall: Double, precision: Double)

  /** Compare [[CorpusOps.dupSpansMerged]] against the exact oracle at
    * one config, over the `documents` table of `sfDir`. */
  def measure(spark: SparkSession, sfDir: String, cfg: Config,
              minDf: Int = 2): Result = {
    val docsDf = Tables.load(spark, sfDir, "documents")
    val docs = docsDf.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> tokenize(r.getString(1))).toSeq
    val exact = exactMaximalRanges(docs, cfg.minTokens, minDf)
    val approx = CorpusOps.dupSpansMerged(docsDf, "doc_id", "text",
        n = cfg.n, minDf = minDf, minTokens = cfg.minTokens)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2).toInt))
      .groupBy(_._1)
      .map { case (id, rs) =>
        id -> rs.map(r => (r._2, r._3)).sortBy(_._1).toSeq
      }
    def covered(m: Map[Long, Seq[(Int, Int)]]): Set[(Long, Int)] =
      m.iterator.flatMap { case (id, rs) =>
        rs.iterator.flatMap(r => (r._1 to r._2).map(id -> _))
      }.toSet
    val (ce, ca) = (covered(exact), covered(approx))
    val inter = (ce intersect ca).size.toLong
    val identical = exact.count { case (id, rs) =>
      approx.get(id).contains(rs)
    }
    Result(cfg.n, cfg.minTokens,
      exact.valuesIterator.map(_.size).sum,
      approx.valuesIterator.map(_.size).sum,
      identical,
      ce.size.toLong, ca.size.toLong,
      if (ce.isEmpty) 1.0 else inter.toDouble / ce.size,
      if (ca.isEmpty) 1.0 else inter.toDouble / ca.size)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local(8)
    val cfgs = Seq(Config(8, 8), Config(8, 12), Config(8, 16),
      Config(8, 24), Config(4, 16), Config(16, 16))
    println("| n | minTokens | exact ranges | approx ranges | " +
      "identical | exact toks | approx toks | recall | precision |")
    println("|---|---|---|---|---|---|---|---|---|")
    for (c <- cfgs) {
      val r = measure(spark, sfDir, c)
      println(f"| ${r.n} | ${r.minTokens} | ${r.exactRanges} | " +
        f"${r.approxRanges} | ${r.rangesIdentical} | ${r.exactTokens} | " +
        f"${r.approxTokens} | ${r.recall}%.4f | ${r.precision}%.4f |")
    }
    spark.stop()
  }
}
