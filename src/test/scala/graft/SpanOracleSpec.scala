package graft

import org.apache.spark.sql.functions._

import graft.operators.CorpusOps

/** Pins [[CorpusOps.dupSpansMerged]] against the brute-force exact
  * maximal-repeat oracle ([[SpanRecall.exactMaximalRanges]], test code
  * in SpanOracle.scala) — what PqSpec's recall floor does for PQ, done
  * for the span-dedup family: the approximation's gap is a measured,
  * pinned number, not a prose claim.
  *
  * Structure (mirrors SCALE.md's span-recall table):
  *   - n == minTokens: the fixed-n merged form IS the exact oracle —
  *     duplicated substrings are closed under sub-windowing, so the
  *     stride-1 window union reproduces every maximal range with exact
  *     ends (asserted range-for-range, planted corpus AND sf0.001);
  *   - n < minTokens: recall is structurally 1.0 (every true range is
  *     covered by its own length-n windows and survives the length
  *     filter); only PRECISION can fall, via chained shorter dups
  *     merging into a >= minTokens run with no true >= minTokens
  *     duplicated substring inside — the planted chaining corpus below
  *     proves the oracle DETECTS that mode, so the measured 1.0
  *     precision on the gate corpora is a corpus property, not a blind
  *     meter. */
class SpanOracleSpec extends SparkSpec {

  import spark.implicits._

  private def approxRanges(df: org.apache.spark.sql.DataFrame, n: Int,
                           minTokens: Int): Map[Long, Seq[(Int, Int)]] =
    CorpusOps.dupSpansMerged(df, "doc_id", "text", n = n, minDf = 2,
        minTokens = minTokens)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2).toInt))
      .groupBy(_._1)
      .map { case (id, rs) =>
        id -> rs.map(r => (r._2, r._3)).sortBy(_._1).toSeq
      }

  test("planted corpus: n == minTokens reproduces the exact oracle") {
    // doc 1 and 2 share a 10-token block mid-doc; doc 3 shares doc 1's
    // 8-token tail; doc 4 is unique filler
    val d1 = "u1 u2 s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 u3 t1 t2 t3 t4 t5 t6 t7 t8"
    val d2 = "v1 s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 v2 v3 v4 v5 v6 v7 v8"
    val d3 = "w1 w2 w3 w4 t1 t2 t3 t4 t5 t6 t7 t8 w5 w6 w7 w8"
    val d4 = (1 to 20).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4))
    val df = docs.toDF("doc_id", "text")
    val toks = docs.map { case (id, t) => id -> SpanRecall.tokenize(t) }
    val exact = SpanRecall.exactMaximalRanges(toks, minTokens = 8,
      minDf = 2)
    val approx = approxRanges(df, n = 8, minTokens = 8)
    assert(approx == exact, s"approx $approx\nexact $exact")
    // hand-check the exact side too, so the oracle itself is pinned:
    // d1 covers s1..s10 at [2,11] and t1..t8 at [13,20]; d2 [1,10];
    // d3 [4,11]; d4 nothing
    assert(exact == Map(
      1L -> Seq((2, 11), (13, 20)),
      2L -> Seq((1, 10)),
      3L -> Seq((4, 11))), exact.toString)
  }

  test("planted chaining corpus: n < minTokens over-extension is DETECTED") {
    // doc 10 = P ++ Q (two 10-token halves); doc 11 repeats only P,
    // doc 12 repeats only Q. At n=8 the halves' windows chain across
    // the touching boundary into one 20-token run — but NO 16-token
    // substring of doc 10 is duplicated anywhere (every 16-window
    // straddles the boundary), so the exact minTokens=16 oracle is
    // EMPTY while the approximation reports [0,19].
    val p = (1 to 10).map(i => s"p$i").mkString(" ")
    val q = (1 to 10).map(i => s"q$i").mkString(" ")
    val docs = Seq((10L, s"$p $q"), (11L, p), (12L, q))
    val df = docs.toDF("doc_id", "text")
    val toks = docs.map { case (id, t) => id -> SpanRecall.tokenize(t) }
    val exact = SpanRecall.exactMaximalRanges(toks, minTokens = 16,
      minDf = 2)
    assert(exact.isEmpty, exact.toString)
    val approx = approxRanges(df, n = 8, minTokens = 16)
    assert(approx == Map(10L -> Seq((0, 19))), approx.toString)
    // and at n == minTokens the approximation collapses back to exact
    assert(approxRanges(df, n = 16, minTokens = 16).isEmpty)
  }

  test("sf0.001 documents: gate config (n=8, minTokens=8) is EXACT") {
    val r = SpanRecall.measure(spark, sfDir, SpanRecall.Config(8, 8))
    assert(r.recall == 1.0 && r.precision == 1.0, r.toString)
    assert(r.rangesIdentical == r.exactRanges &&
      r.approxRanges == r.exactRanges, r.toString)
    assert(r.exactRanges == 45 && r.exactTokens == 2697L,
      s"sf0.001 truth moved (testdata regenerated?): $r")
  }

  test("sf0.1 documents: the n=4 over-extension mode exists in the " +
    "wild and the meter pins it") {
    // over a 30-word vocabulary, 4-gram collisions between unrelated
    // docs chain into >= 16-token runs with no true 16-token
    // duplicated substring — recall stays 1.0 (theorem), precision
    // collapses; deterministic corpus, so the numbers pin exactly
    val r = SpanRecall.measure(spark, "/root/testdata/sf0.1",
      SpanRecall.Config(4, 16))
    assert(r.recall == 1.0, r.toString)
    assert(math.rint(r.precision * 1e4) / 1e4 == 0.3919, r.toString)
    assert(r.exactRanges == 433 && r.approxRanges == 2237, r.toString)
    // and at n == minTokens the same corpus is exact again
    val ok = SpanRecall.measure(spark, "/root/testdata/sf0.1",
      SpanRecall.Config(16, 16))
    assert(ok.recall == 1.0 && ok.precision == 1.0 &&
      ok.rangesIdentical == 433, ok.toString)
  }

  test("sf0.001 documents: n < minTokens keeps recall 1.0 (theorem) " +
    "and measured precision 1.0 on this corpus") {
    for (cfg <- Seq(SpanRecall.Config(8, 16), SpanRecall.Config(8, 24),
      SpanRecall.Config(4, 16))) {
      val r = SpanRecall.measure(spark, sfDir, cfg)
      assert(r.recall == 1.0, s"recall broke the theorem: $r")
      // precision measured 1.0 on the gate corpus (planted long dups,
      // no adversarial chaining) — pinned so a testdata or operator
      // change that opens a gap is SEEN, with the chaining test above
      // proving the meter would catch it
      assert(r.precision == 1.0, s"precision gap opened: $r")
    }
  }
}
