package graft

import org.apache.spark.sql.functions._

import graft.operators.{CorpusOps, Similarity}

class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  test("contaminationFlags: planted eval overlap is flagged, clean is not") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta iota kappa"),
      (3L, "one two three four five"),
      (4L, "x y"), // too short for a 3-gram: never contaminated
      (5L, "beta gamma delta something else") // shares "beta gamma delta"
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "alpha beta gamma delta"), // grams: a b g, b g d
      (101L, "totally disjoint words here")).toDF("doc_id", "text")
    val out = CorpusOps.contaminationFlags(docs, "doc_id", "text",
      eval, "text", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(out(1L) == ((2L, true)))  // alpha beta gamma + beta gamma delta
    assert(out(5L) == ((1L, true)))  // beta gamma delta
    assert(out(2L) == ((0L, false)))
    assert(out(3L) == ((0L, false)))
    assert(out(4L) == ((0L, false)))
    assert(out.size == 5) // every input doc gets a row, even short ones
  }

  test("contaminationFlags: eval side rides a broadcast join") {
    val docs = Tables.documents(spark, sfDir)
    val plan = CorpusOps.contaminationFlags(docs, "doc_id", "text",
      docs.filter($"doc_id" < 5), "text", n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("duplicateSpanStats: shared spans flag both docs, unique docs stay clean") {
    // n = 3 word spans. Docs 1 and 2 share exactly "beta gamma delta";
    // doc 3 is disjoint; doc 4 is too short for any 3-gram.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "start beta gamma delta end"),
      (3L, "one two three four"),
      (4L, "x y")
    ).toDF("doc_id", "text")
    val out = CorpusOps.duplicateSpanStats(docs, "doc_id", "text", n = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc1 spans: "alpha beta gamma","beta gamma delta","gamma delta epsilon"
    // doc2 spans: "start beta gamma","beta gamma delta","gamma delta end"
    assert(out(1L) == ((3L, 1L)), s"doc1: ${out.get(1L)}")
    assert(out(2L) == ((3L, 1L)), s"doc2: ${out.get(2L)}")
    assert(out(3L) == ((2L, 0L)))
    assert(!out.contains(4L), "sub-n docs have no span row")
  }

  test("duplicateSpanStats: within-doc repeats count once (set semantics)") {
    // "a b c" appears twice inside doc 1 but only doc 1 carries it:
    // df = 1 -> NOT a duplicate span, and n_spans counts it once.
    val docs = Seq(
      (1L, "a b c x a b c"), // distinct spans: abc bcx cxa xab
      (2L, "totally different words here")).toDF("doc_id", "text")
    val out = CorpusOps.duplicateSpanStats(docs, "doc_id", "text", n = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((4L, 0L)), s"doc1: ${out.get(1L)}")
    assert(out(2L) == ((2L, 0L)))
  }

  test("duplicateSpanStats: exact duplicate docs share every span") {
    val docs = Seq(
      (1L, "p q r s t u v w x y"),
      (2L, "p q r s t u v w x y"),
      // doc3 8-grams ("m n o p q r s t", "n o p q r s t u",
      // "o p q r s t u v") overlap docs 1-2 only at length < 8, so it
      // pins that sub-span overlap does NOT flag
      (3L, "m n o p q r s t u v"))
      .toDF("doc_id", "text")
    val out = CorpusOps.duplicateSpanStats(docs, "doc_id", "text", n = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(out(1L) == ((3L, 3L, 1.0)))
    assert(out(2L) == ((3L, 3L, 1.0)))
    assert(out(3L) == ((3L, 0L, 0.0)))
  }

  test("duplicateSpanStats winnow: kept spans keep EXACT df (kept " +
    "everywhere or nowhere), and winnowed counts are a subset") {
    // Real corpus slice: for every doc the winnowed (n_spans, dup_spans)
    // must be <= the exact ones, and — the df-identity law — a span the
    // winnow keeps is judged duplicated iff the EXACT form judged it
    // duplicated, because the keep decision is a pure function of the
    // span string. We pin that law directly: recompute kept-span df by
    // hand on a planted corpus.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "start beta gamma delta end"),
      (3L, "one two three four"),
      (4L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    // exact form at n=3
    val exact = CorpusOps.duplicateSpanStats(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // hand-model the winnow=2 keep set + kept-span dfs
    def spans(s: String): Seq[String] =
      s.split("\\s+").sliding(3).map(_.mkString(" ")).toSeq.distinct
    def kept(sp: String): Boolean = {
      val h = java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(sp.getBytes("UTF-8")).take(4)
          .map("%02x".format(_)).mkString, 16)
      h % 2 == 0
    }
    val corpus = Map(1L -> "alpha beta gamma delta epsilon",
      2L -> "start beta gamma delta end", 3L -> "one two three four",
      4L -> "alpha beta gamma delta epsilon")
    val keptSpans = corpus.view.mapValues(t => spans(t).filter(kept)).toMap
    val df = keptSpans.values.flatten.toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    val expect = keptSpans.collect { case (id, sps) if sps.nonEmpty =>
      id -> ((sps.size.toLong, sps.count(df(_) >= 2).toLong)) }
    val out = CorpusOps.duplicateSpanStats(docs, "doc_id", "text", n = 3,
      winnow = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out == expect, s"got $out want $expect")
    // subset law vs the exact form
    out.foreach { case (id, (n, d)) =>
      val (en, ed) = exact(id)
      assert(n <= en && d <= ed, s"doc $id: winnowed ($n,$d) vs exact ($en,$ed)")
    }
  }

  test("dupSpansMerged: adjacent duplicated spans union into one " +
    "maximal range; disjoint runs stay separate; minTokens filters") {
    // n = 3. Docs 1 and 2 share the run "b c d e f" (token offsets
    // 1..5 in doc 1): flagged 3-gram offsets 1,2,3 -> one merged range
    // [1, 5] of 5 tokens. Doc 1 ALSO shares "x y z" with doc 2 at its
    // tail (offsets 7..9), disjoint from the first run.
    val docs = Seq(
      (1L, "a b c d e f q x y z"),
      (2L, "p b c d e f r s x y z"),
      (3L, "totally different words here no overlap at all")
    ).toDF("doc_id", "text")
    val out = CorpusOps.dupSpansMerged(docs, "doc_id", "text",
      n = 3, minDf = 2, minTokens = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(out == Set(
      (1L, 1L, 5L, 5L), (1L, 7L, 9L, 3L),
      (2L, 1L, 5L, 5L), (2L, 8L, 10L, 3L)), out)
    // minTokens above the merged width drops the short tail run but
    // keeps the 5-token one
    val tall = CorpusOps.dupSpansMerged(docs, "doc_id", "text",
      n = 3, minDf = 2, minTokens = 5)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(tall == Set((1L, 5L), (2L, 5L)), tall)
  }

  test("dupSpansMerged: within-doc repeats alone do not flag " +
    "(df counts distinct documents)") {
    val docs = Seq(
      (1L, "a b c a b c a b c"),
      (2L, "different words entirely here")).toDF("doc_id", "text")
    assert(CorpusOps.dupSpansMerged(docs, "doc_id", "text",
      n = 3, minDf = 2, minTokens = 3).count() == 0)
  }

  test("removeDupSpans: flagged ranges are cut, survivors rejoin, " +
    "untouched docs pass byte-identical, full dup rewrites to ''") {
    val docs = Seq(
      // docs 1 & 4 are identical -> wall-to-wall dup -> ''
      (1L, "a b c d e f"),
      (4L, "a b c d e f"),
      // doc 2 shares the 3-gram run "b c d e" with 1/4 plus a unique
      // tail; doc 5 shares "x y z" with doc 2's tail region? no — keep
      // doc 2's unique tail truly unique
      (2L, "q b c d e unique tail words here"),
      // doc 3: disjoint, and with IRREGULAR whitespace that must
      // survive untouched (the verbatim pass-through contract)
      (3L, "totally  different   words here"),
      // doc 6: too short for any 3-gram
      (6L, "x y")
    ).toDF("doc_id", "text")
    val out = CorpusOps.removeDupSpans(docs, "doc_id", "text",
      n = 3, minDf = 2, minTokens = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == (("", 6L)), out(1L))
    assert(out(4L) == (("", 6L)))
    // doc 2: dup 3-grams "b c d", "c d e" (shared with docs 1/4) at
    // offsets 1,2 -> merged [1,4] -> remove "b c d e", keep the rest
    assert(out(2L) == (("q unique tail words here", 4L)), out(2L))
    assert(out(3L) == (("totally  different   words here", 0L)))
    assert(out(6L) == (("x y", 0L)))
  }

  test("incrementalSpanStats == duplicateSpanStats over corpus+delta " +
    "restricted to delta docs; appended partial index rows sum") {
    val corpus = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
    val delta = corpus.filter($"doc_id" < 4)
      .select(($"doc_id" + 1000000).as("doc_id"), $"text")
      .unionByName(Seq((2000001L, "nv1 nv2 nv3 nv4 nv5 nv6 nv7 nv8 nv9"))
        .toDF("doc_id", "text"))
    val dir = java.nio.file.Files.createTempDirectory("span_idx").toString
    CorpusOps.buildSpanIndex(corpus, "doc_id", "text", s"$dir/idx", n = 5)
    val inc = CorpusOps.incrementalSpanStats(spark, s"$dir/idx", delta,
      "doc_id", "text", n = 5, minDf = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    val full = CorpusOps.duplicateSpanStats(
      corpus.unionByName(delta), "doc_id", "text", n = 5, minDf = 2)
      .filter($"doc_id" >= 1000000)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(inc == full, s"inc=${inc.toSeq.sortBy(_._1).take(5)} " +
      s"full=${full.toSeq.sortBy(_._1).take(5)}")
    assert(inc(2000001L)._2 == 0L, "novel doc must have zero dup spans")
    // append-friendliness: appending the DELTA's own spans as partial
    // rows makes a re-probe of a fresh single-copy doc see df 2
    // (corpus partial + appended partial summed at probe time)
    CorpusOps.buildSpanIndex(delta, "doc_id", "text", s"$dir/idx",
      n = 5, mode = "append")
    val reprobe = CorpusOps.incrementalSpanStats(spark, s"$dir/idx",
      Seq((3000001L, "nv1 nv2 nv3 nv4 nv5 nv6 nv7 nv8 nv9"))
        .toDF("doc_id", "text"),
      "doc_id", "text", n = 5, minDf = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    // the novel doc's spans now exist once in the appended index +
    // once in this probe -> every span duplicated
    assert(reprobe(3000001L)._1 == reprobe(3000001L)._2,
      s"append not summed: ${reprobe(3000001L)}")
  }

  test("incrementalSpanStats winnow composes: equals winnowed full " +
    "recompute, and a winnow mismatch refuses loudly") {
    val corpus = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
    val delta = corpus.filter($"doc_id" < 4)
      .select(($"doc_id" + 1000000).as("doc_id"), $"text")
    val dir = java.nio.file.Files.createTempDirectory("span_idx_w").toString
    CorpusOps.buildSpanIndex(corpus, "doc_id", "text", s"$dir/idx",
      n = 5, winnow = 2)
    val inc = CorpusOps.incrementalSpanStats(spark, s"$dir/idx", delta,
      "doc_id", "text", n = 5, minDf = 2, winnow = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    val full = CorpusOps.duplicateSpanStats(
      corpus.unionByName(delta), "doc_id", "text", n = 5, minDf = 2,
      winnow = 2)
      .filter($"doc_id" >= 1000000)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(inc == full)
    val e = intercept[IllegalArgumentException] {
      CorpusOps.incrementalSpanStats(spark, s"$dir/idx", delta,
        "doc_id", "text", n = 5, minDf = 2) // winnow = 1 vs index's 2
    }
    assert(e.getMessage.contains("winnow"), e.getMessage)
  }

  test("stratifiedSampleK: at most k per stratum, deterministic draw") {
    val docs = Tables.documents(spark, sfDir)
    val s1 = CorpusOps.stratifiedSampleK(docs, "source", "doc_id", 7)
    val counts = s1.groupBy($"source").count().as[(String, Long)]
      .collect().toMap
    assert(counts.values.forall(_ <= 7))
    val ids1 = s1.select($"doc_id").as[Long].collect().sorted.toSeq
    val ids2 = CorpusOps.stratifiedSampleK(docs, "source", "doc_id", 7)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(ids1 == ids2) // same draw on re-run: no rand() anywhere
    // small stratum: returns all of it rather than padding
    val tiny = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "source")
    assert(CorpusOps.stratifiedSampleK(tiny, "source", "doc_id", 7)
      .count() == 3)
  }

  test("stratifiedSampleK compiles to WindowGroupLimit (pre-shuffle top-k)") {
    val plan = CorpusOps.stratifiedSampleK(
      Tables.documents(spark, sfDir), "source", "doc_id", 7)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
  }

  test("weightedSampleK: k per group, deterministic, heavy weight always drawn") {
    val rows = (1L to 200L).map(i =>
      (i, if (i % 2 == 0) "even" else "odd",
        if (i == 42L) 1.0e9 else 1.0)) // one overwhelming weight
    val df = rows.toDF("id", "grp", "w")
    val out = CorpusOps.weightedSampleK(df, "grp", "id", "w", k = 10)
    val got = out.select($"grp", $"id", $"rank")
      .as[(String, Long, Int)].collect()
    assert(got.count(_._1 == "even") == 10)
    assert(got.count(_._1 == "odd") == 10)
    // ranks are contiguous 1..k inside each group
    assert(got.filter(_._1 == "even").map(_._3).sorted.toSeq == (1 to 10))
    // the A-ES key ln(u)/w for w = 1e9 is ~0, beating every w = 1 row:
    // the heavy row must be drawn, and drawn FIRST
    assert(got.find(_._2 == 42L).map(_._3).contains(1),
      s"heavy row missing/misranked: ${got.toSeq.sortBy(r => (r._1, r._3))}")
    // deterministic: an identical second call draws the identical sample
    val again = CorpusOps.weightedSampleK(df, "grp", "id", "w", k = 10)
      .select($"grp", $"id", $"rank").as[(String, Long, Int)].collect()
    assert(got.sortBy(r => (r._1, r._3)).toSeq ==
      again.sortBy(r => (r._1, r._3)).toSeq)
  }

  test("weightedSampleK: non-positive and null weights are never drawn") {
    val df = Seq[(Long, String, java.lang.Double)](
      (1L, "g", 5.0), (2L, "g", 0.0), (3L, "g", -1.0), (4L, "g", null),
      (5L, "g", 2.0)).toDF("id", "grp", "w")
    val ids = CorpusOps.weightedSampleK(df, "grp", "id", "w", k = 10)
      .select($"id").as[Long].collect().toSet
    assert(ids == Set(1L, 5L), s"got $ids")
  }

  test("weightedSampleK compiles to WindowGroupLimit (pre-shuffle top-k)") {
    val docs = Tables.documents(spark, sfDir)
    val plan = CorpusOps.weightedSampleK(docs, "source", "doc_id",
      "n_chars", k = 25).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
  }

  test("tokenBudgetSelect: budget never exceeded, prefix in priority order") {
    val docs = Seq(
      (1L, "s1", "a b c d e"),        // 5 toks, cum 5
      (2L, "s1", "a b c"),            // 3 toks, cum 8
      (3L, "s1", "a b c d e f g h"),  // 8 toks, cum 16 > 10: dropped
      (4L, "s2", "a b")               // separate group, cum 2
    ).toDF("doc_id", "source", "text")
    val out = CorpusOps.tokenBudgetSelect(docs, "source", "doc_id", "text",
      budgetTokens = 10L)
      .select($"doc_id", $"cum_toks").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 5L, 2L -> 8L, 4L -> 2L))
    // priority: quality-first ordering spends the budget differently
    val pr = CorpusOps.tokenBudgetSelect(docs, "source", "doc_id", "text",
      budgetTokens = 10L, priority = Seq($"doc_id".desc))
      .select($"doc_id").as[Long].collect().toSet
    assert(pr == Set(3L, 4L)) // doc 3 (8 toks) first, doc 2 would overflow
  }

  test("tokenBudgetSelect: maxGroupRows guard fails loudly on a skewed group") {
    val skew = (1L to 500L).map(i => (i, "hot", "a b c"))
      .toDF("doc_id", "source", "text")
    interceptGuard("hot", "tokenBudgetSelectBucketed") {
      CorpusOps.tokenBudgetSelect(skew, "source", "doc_id", "text",
        budgetTokens = 100L, maxGroupRows = 100L).collect()
    }
    // disabled guard still runs
    assert(CorpusOps.tokenBudgetSelect(skew, "source", "doc_id", "text",
      budgetTokens = 100L, maxGroupRows = 0L).count() > 0)
  }

  test("tokenBudgetSelectBucketed equals single-window form on skew") {
    // one pathological group (10k rows) beside two small ones; the
    // bucketed two-phase prefix sum must reproduce the single-window
    // running sum EXACTLY, including at slice boundaries
    val skew = ((1L to 10000L).map(i => (i, "hot", s"tok a b ${i % 7}")) ++
      (1L to 40L).map(i => (10000L + i, "cold", "x y z")) ++
      (1L to 3L).map(i => (20000L + i, "tiny", "q"))).toDF(
      "doc_id", "source", "text")
    val plain = CorpusOps.tokenBudgetSelect(skew, "source", "doc_id",
      "text", budgetTokens = 5000L, maxGroupRows = 0L)
      .select($"doc_id", $"cum_toks").as[(Long, Long)].collect().toMap
    val bucketed = CorpusOps.tokenBudgetSelectBucketed(skew, "source",
      "doc_id", "text", budgetTokens = 5000L, buckets = 16)
      .select($"doc_id", $"cum_toks").as[(Long, Long)].collect().toMap
    assert(bucketed == plain)
    // full-corpus equality too (no budget filter hiding a boundary
    // error in the never-selected tail)
    val plainAll = CorpusOps.tokenBudgetSelect(skew, "source", "doc_id",
      "text", budgetTokens = Long.MaxValue, maxGroupRows = 0L)
      .select($"doc_id", $"cum_toks").as[(Long, Long)].collect().toMap
    val bucketedAll = CorpusOps.tokenBudgetSelectBucketed(skew, "source",
      "doc_id", "text", budgetTokens = Long.MaxValue, buckets = 16)
      .select($"doc_id", $"cum_toks").as[(Long, Long)].collect().toMap
    assert(bucketedAll == plainAll)
  }

  test("removeBoilerplateLines: frequent lines drop, order survives") {
    val docs = Seq(
      (1L, "unique opening\ncookie banner\nreal content one"),
      (2L, "cookie banner\nreal content two"),
      (3L, "cookie banner\nmore text\ncookie banner"), // repeats in-doc
      (4L, "no chrome here"),
      (5L, "cookie banner")) // nothing but boilerplate
      .toDF("doc_id", "text")
    val out = CorpusOps.removeBoilerplateLines(docs, "doc_id", "text",
      minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // "cookie banner" occurs in 4 distinct docs >= 3 -> boilerplate
    assert(out(1L) == (("unique opening\nreal content one", 3L, 1L)))
    assert(out(2L) == (("real content two", 2L, 1L)))
    assert(out(3L) == (("more text", 3L, 2L))) // both in-doc copies removed
    assert(out(4L) == (("no chrome here", 1L, 0L)))
    assert(out(5L) == (("", 1L, 1L))) // fully-boilerplate doc -> empty
  }

  test("removeBoilerplateLines: blank lines are layout, never boilerplate") {
    val docs = Seq(
      (1L, "a\n\nb"), (2L, "c\n\nd"), (3L, "e\n\nf"), (4L, "g\n\nh"))
      .toDF("doc_id", "text")
    val out = CorpusOps.removeBoilerplateLines(docs, "doc_id", "text",
      minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(3)))
      .toMap
    // the empty middle line occurs in all 4 docs but survives everywhere
    assert(out(1L) == (("a\n\nb", 0L)))
    assert(out(4L) == (("g\n\nh", 0L)))
  }

  test("unigramLogProb: uniform corpus scores ln(1/vocab) everywhere") {
    // every token appears exactly once per doc, 4 docs x 2 tokens ->
    // each token count 1, total 8, every doc avg ln(1/8)
    val docs = Seq(
      (1L, "aa bb"), (2L, "cc dd"), (3L, "ee ff"), (4L, "gg hh"))
      .toDF("doc_id", "text")
    val out = CorpusOps.unigramLogProb(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
    assert(out.length == 4)
    val expect = BigDecimal(math.log(1.0 / 8))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.forall { case (_, n, lp) => n == 2L && lp == expect })
    // a doc made of the corpus's most common token scores higher
    val skew = Seq((1L, "the the the"), (2L, "the rare")).toDF("doc_id", "text")
    val byId = CorpusOps.unigramLogProb(skew, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(byId(1L) > byId(2L))
  }

  test("chunkDocs: window/stride arithmetic, clamped tail, short docs") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks: 3 chunks
      (2L, "a b c"),                                  // <= max: 1 chunk
      (3L, (1 to 4).map(i => s"u$i").mkString(" ")),  // exactly max: 1 chunk
      (4L, "   "),                                    // blank: excluded
      (5L, (1 to 5).map(i => s"v$i").mkString(" ")))  // max+1: 2 chunks
      .toDF("doc_id", "text")
    val out = CorpusOps.chunkDocs(docs, "doc_id", "text",
      maxTokens = 4, stride = 3)
      .as[(Long, Long, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(!out.contains(4L))
    // 10 tokens, windows at offsets 0/3/6: ceil((10-4)/3)+1 = 3 chunks
    assert(out(1L).map(_._3).toSeq == Seq(
      "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    assert(out(1L).map(_._4).toSeq == Seq(4L, 4L, 4L))
    assert(out(2L).map(_._3).toSeq == Seq("a b c"))
    assert(out(3L).map(_._3).toSeq == Seq("u1 u2 u3 u4"))
    // 5 tokens: second window starts at token 4, tail is SHORT, not padded
    assert(out(5L).map(_._3).toSeq == Seq("v1 v2 v3 v4", "v4 v5"))
  }

  test("chunkDocs: every token position is covered; overlap is stride-sized") {
    val docs = Tables.documents(spark, sfDir)
    val chunks = CorpusOps.chunkDocs(docs, "doc_id", "text",
      maxTokens = 32, stride = 24)
      .as[(Long, Long, String, Long)].collect()
    val orig = docs.select($"doc_id",
      size(split(trim($"text"), "\\s+")).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    chunks.groupBy(_._1).foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._2)
      // stride-advanced windows: token coverage = stride per chunk plus
      // the final window's remainder -> last chunk ends exactly at n
      assert(sorted.map(_._4).forall(_ <= 32))
      val lastEnd = (sorted.length - 1) * 24 + sorted.last._4
      assert(lastEnd == orig(id),
        s"doc $id: chunks cover $lastEnd of ${orig(id)} tokens")
      // every non-final chunk is a FULL window (else it would have been
      // the final chunk)
      assert(sorted.dropRight(1).forall(_._4 == 32L))
    }
  }

  test("chunkDocs: 100k-token doc chunks in bounded time (no re-tokenize per window)") {
    // ~4.2k windows over 100k tokens: if the split re-ran inside the
    // window lambda (Catalyst inlines outer subexpressions into lambda
    // bodies — the README's nested-lambda pitfall), this would do
    // windows x tokens work; the bound column form is linear
    val text = (0 until 100000).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val n = CorpusOps.chunkDocs(docs, "doc_id", "text",
      maxTokens = 32, stride = 24).count()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(n == (100000 - 32 + 23) / 24 + 1)
    assert(secs < 30.0, f"chunkDocs took $secs%.1f s on a 100k-token doc")
  }

  test("chunkDocs is shuffle-free (explode only, no Exchange)") {
    val plan = CorpusOps.chunkDocs(Tables.documents(spark, sfDir),
      "doc_id", "text", maxTokens = 32, stride = 24)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(500))
    assert(plan.contains("Generate"), plan.take(500))
  }

  test("dedupLinesWithinDoc: first occurrence stays, blanks survive, order kept") {
    val docs = Seq(
      (1L, "alpha\nbeta\nalpha\n\nbeta\ngamma"), // two repeats, one blank
      (2L, "one\ntwo"),                          // nothing to remove
      (3L, "\n\n"))                              // only blanks: all survive
      .toDF("doc_id", "text")
    val out = CorpusOps.dedupLinesWithinDoc(docs, "doc_id", "text")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, "alpha\nbeta\n\ngamma", 6L, 2L)))
    assert(out(2L) == ((2L, "one\ntwo", 2L, 0L)))
    assert(out(3L) == ((3L, "\n\n", 3L, 0L)))
    // idempotence: a deduped document has nothing left to remove
    val again = CorpusOps.dedupLinesWithinDoc(
      CorpusOps.dedupLinesWithinDoc(docs, "doc_id", "text")
        .select($"doc_id", $"clean_text".as("text")),
      "doc_id", "text")
      .as[(Long, String, Long, Long)].collect()
    assert(again.forall(_._4 == 0L))
  }

  test("packSequences: best-fit-decreasing reaches the optimal pack count") {
    // sorted desc: 60->A, 50->B, 40->A(=100), 30->B(=80), 20->B(=100):
    // two packs, both exactly full — the optimum
    val items = Seq((1L, 60L), (2L, 50L), (3L, 40L), (4L, 30L), (5L, 20L))
      .toDF("id", "toks")
    val out = CorpusOps.packSequences(items, "id", "toks",
      seqLen = 100L, partitions = 1)
      .as[(Long, Long, Long)].collect()
    val packs = out.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    assert(packs.size == 2 && packs.values.forall(_ == 100L), packs.toString)
  }

  test("packSequences: oversize items get a pack of their own") {
    val items = Seq((1L, 150L), (2L, 40L), (3L, 40L)).toDF("id", "toks")
    val out = CorpusOps.packSequences(items, "id", "toks",
      seqLen = 100L, partitions = 1)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(out(1L) != out(2L) && out(1L) != out(3L))
    assert(out(2L) == out(3L)) // the two 40s share a pack
  }

  test("packSequences: corpus chunks pack densely, nothing overflows or drops") {
    val chunks = CorpusOps.chunkDocs(Tables.documents(spark, sfDir),
      "doc_id", "text", maxTokens = 32, stride = 24)
      .select(($"doc_id" * 1000000L + $"chunk_id").as("cid"),
        $"n_chunk_tokens")
    val seqLen = 96L
    val out = CorpusOps.packSequences(chunks, "cid", "n_chunk_tokens",
      seqLen, partitions = 4).as[(Long, Long, Long)].collect()
    // nothing dropped or duplicated
    assert(out.map(_._1).distinct.length == out.length)
    assert(out.length == chunks.count())
    val packTotals = out.groupBy(_._3).view.mapValues(_.map(_._2).sum)
    assert(packTotals.values.forall(_ <= seqLen))
    // density: BFD with 4 partitions should stay close to the lower
    // bound ceil(total/seqLen); allow the per-partition +1 tail bins
    val total = out.map(_._2).sum
    val lower = (total + seqLen - 1) / seqLen
    assert(packTotals.size <= lower * 13 / 10 + 4,
      s"${packTotals.size} packs for a lower bound of $lower")
    // determinism: a rerun assigns identical packs
    val again = CorpusOps.packSequences(chunks, "cid", "n_chunk_tokens",
      seqLen, partitions = 4).as[(Long, Long, Long)].collect()
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("chunkDocs rejects a stride wider than the window") {
    intercept[IllegalArgumentException] {
      CorpusOps.chunkDocs(Tables.documents(spark, sfDir),
        "doc_id", "text", maxTokens = 8, stride = 9)
    }
  }

  test("curate: per-stage attribution is consistent and dups resolve to originals") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
    val planted = docs.select($"doc_id", $"text").unionByName(
      docs.filter($"doc_id" < 10)
        .select(($"doc_id" + 1000000).as("doc_id"), $"text"))
    val out = CorpusOps.curate(planted, "doc_id", "text",
        docs.filter($"doc_id" < 20), "text", minTokens = 30, contamN = 3)
      .as[(Long, Boolean, Boolean, Boolean, Boolean)].collect()
    // every input doc exactly once, attribution consistent
    assert(out.length == planted.count())
    assert(out.map(_._1).distinct.length == out.length)
    out.foreach { case (id, q, dup, cont, kept) =>
      assert(kept == (q && !dup && !cont), s"doc $id inconsistent")
      assert(!dup || q, s"doc $id: dup verdict on a quality reject")
    }
    // a planted copy of any quality-passing original is the dup, the
    // original never is (first occurrence = min id)
    val byId = out.map(r => r._1 -> r).toMap
    (0L until 10L).foreach { k =>
      if (byId(k)._2) {
        assert(byId(k + 1000000)._3, s"copy of passing doc $k not dup")
        assert(!byId(k)._3, s"original $k flagged as dup")
      }
    }
    // the pipeline actually curates: some docs kept, some rejected
    assert(out.exists(_._5) && out.exists(!_._5))
  }

  test("curateV2: hand-pinned per-stage attribution across the recipe") {
    // one doc per failure mode, each crafted to PASS every earlier
    // stage so the attributed stage is the one that actually fired
    val docs = Seq(
      (1L, "g1", "the cat and dog runs fast today"), // survives all
      (2L, "g1", "the cat and dog runs fast today"), // exact dup of 1
      // first para is doc 1's text -> corpus keep-first removes it
      (3L, "g1", "the cat and dog runs fast today\n" +
        "the bird can fly with ease maybe"),
      // 5/6 share the 3-token span 'alpha beta gamma' (df 2) -> span
      // removal cuts it from both; the 3-token remainders fail quality
      (5L, "g1", "alpha beta gamma delta epsilon cat"),
      (6L, "g1", "one two three alpha beta gamma"),
      // passes Gopher (5 tokens, 2 stops) but the NB model rejects it
      (7L, "g1", "the spamword and spamword spamword"),
      // shares the eval 3-gram 'quick brown foxes' -> contaminated
      (8L, "g1", "the quick brown foxes and dog today"),
      (9L, "g1", null.asInstanceOf[String])
    ).toDF("doc_id", "src", "text")
    val labeled = Seq(
      (100L, "spamword spamword spamword spamword", "bad"),
      (101L, "cat dog bird fly", "good")).toDF("doc_id", "text", "label")
    val model = CorpusOps.trainNbQuality(labeled, "doc_id", "text",
      "label", numBuckets = 4096, alpha = 1.0)
    val evalSet = Seq("quick brown foxes jump over lazy dogs").toDF("text")
    val out = CorpusOps.curateV2(docs, "doc_id", "text", evalSet, "text",
        model, "bad", "src", tau = 1.0, totalBudgetTokens = 10L,
        minTokens = 5, contamN = 3, spanN = 3, spanMinDf = 2,
        spanMinTokens = 3)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1),
        r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5),
        r.getBoolean(6), r.getBoolean(7), r.getBoolean(8)))).toMap
    // (is_dup, n_para_removed, n_span_removed, quality_ok, nb_ok,
    //  contaminated, selected, kept). Budget 10 over survivors 1 and 3
    // (7 tokens each, one group) selects only the id-ordered prefix.
    // Doc 6's remainder 'one two three' is unseen by both NB classes:
    // equal counts + equal priors tie, and ties break to the
    // lexicographically smaller label ('bad') -> nb_ok false; doc 5's
    // remainder carries the good-class token 'cat' -> nb_ok true.
    val exp = Map(
      1L -> ((false, 0L, 0L, true, true, false, true, true)),
      2L -> ((true, 0L, 0L, false, false, false, false, false)),
      3L -> ((false, 1L, 0L, true, true, false, false, false)),
      5L -> ((false, 0L, 3L, false, true, false, false, false)),
      6L -> ((false, 0L, 3L, false, false, false, false, false)),
      7L -> ((false, 0L, 0L, true, false, false, false, false)),
      8L -> ((false, 0L, 0L, true, true, true, false, false)),
      9L -> ((false, 0L, 0L, false, false, false, false, false)))
    assert(out == exp,
      out.toSeq.sortBy(_._1).map { case (k, v) => s"$k -> $v" }
        .mkString("\n"))
  }

  test("mixtureSelect: budgets split by weight, off-spec groups drop") {
    // 6 docs of 10 tokens each per source; weights 2:1 over a 60-token
    // total -> budgets 40/20 -> 4 docs from a, 2 from b, none from c
    val ten = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"
    val docs = (for {
      src <- Seq("a", "b", "c"); i <- 0 until 6
    } yield (s"$src$i", src, ten)).toDF("doc_id", "source", "text")
    val out = CorpusOps.mixtureSelect(docs, "source", "doc_id", "text",
        weights = Map("a" -> 2.0, "b" -> 1.0), totalBudgetTokens = 60L)
      .collect().map(r => (r.getAs[String]("doc_id"),
        r.getAs[String]("source"), r.getAs[Long]("budget_toks"),
        r.getAs[Long]("cum_toks")))
    assert(out.count(_._2 == "a") == 4)
    assert(out.count(_._2 == "b") == 2)
    assert(!out.exists(_._2 == "c"))
    // budgets derived from the spec; running sums never exceed them
    assert(out.forall(r => r._4 <= r._3))
    assert(out.filter(_._2 == "a").forall(_._3 == 40L))
    assert(out.filter(_._2 == "b").forall(_._3 == 20L))
    // prefix semantics: the kept docs are each group's id-ordered head
    assert(out.filter(_._2 == "a").map(_._1).sorted.toSeq ==
      Seq("a0", "a1", "a2", "a3"))
  }

  test("mixtureSelect: unnormalized weights, broadcast budget map, params") {
    val ten = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"
    val docs = Seq.tabulate(8)(i => (i.toLong, if (i < 4) "a" else "b", ten))
      .toDF("doc_id", "source", "text")
    // weights 6:3 behave exactly like 2:1
    val a = CorpusOps.mixtureSelect(docs, "source", "doc_id", "text",
      Map("a" -> 6.0, "b" -> 3.0), 30L).collect().map(_.getLong(1)).sorted
    val b = CorpusOps.mixtureSelect(docs, "source", "doc_id", "text",
      Map("a" -> 2.0, "b" -> 1.0), 30L).collect().map(_.getLong(1)).sorted
    assert(a.sameElements(b))
    val plan = CorpusOps.mixtureSelect(docs, "source", "doc_id", "text",
      Map("a" -> 1.0), 10L).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    intercept[IllegalArgumentException] {
      CorpusOps.mixtureSelect(docs, "source", "doc_id", "text",
        Map.empty[String, Double], 10L)
    }
    intercept[IllegalArgumentException] {
      CorpusOps.mixtureSelect(docs, "source", "doc_id", "text",
        Map("a" -> 0.0), 10L)
    }
    intercept[IllegalArgumentException] {
      CorpusOps.mixtureSelect(docs, "source", "doc_id", "text",
        Map("a" -> -1.0), 10L)
    }
  }

  test("dsirLogWeights: target-like docs score above off-target docs") {
    // target distribution is pure "alpha beta" text; raw corpus holds
    // one doc from that distribution and one from a disjoint one
    val target = Seq((100L, "alpha beta alpha beta alpha"),
      (101L, "beta alpha beta alpha")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "alpha beta alpha beta"), // target-like
      (2L, "zeta omega zeta omega"), // off-target
      (3L, "alpha beta zeta omega") // mixed: must land between
    ).toDF("doc_id", "text")
    val w = CorpusOps.dsirLogWeights(raw, "doc_id", "text",
        target, "text", buckets = 1 << 16)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(1L) > w(3L) && w(3L) > w(2L), w.toString)
    // n_feats = unigrams + bigrams: 4 toks -> 4 + 3 = 7
    val nf = CorpusOps.dsirLogWeights(raw, "doc_id", "text",
        target, "text", buckets = 1 << 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nf.values.forall(_ == 7L), nf.toString)
  }

  test("dsirLogWeights: blank/null docs drop; single-token doc has no bigram") {
    val target = Seq((100L, "alpha")).toDF("doc_id", "text")
    val raw = Seq((1L, "alpha"), (2L, "  "), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = CorpusOps.dsirLogWeights(raw, "doc_id", "text",
      target, "text", buckets = 64).collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L))
    assert(out.head.getLong(1) == 1L) // one unigram, zero bigrams
  }

  test("dsirResample: deterministic draw, favors the target-like mass") {
    // 30 target-like docs + 30 off-target docs; k=10 from logits with a
    // large gap must draw overwhelmingly (and deterministically) from
    // the target-like side
    val target = Seq.tabulate(5)(i => (1000L + i, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val raw = (Seq.tabulate(30)(i => (i.toLong, "alpha beta gamma delta")) ++
      Seq.tabulate(30)(i => (100L + i, "zeta omega psi chi")))
      .toDF("doc_id", "text")
    def draw() = CorpusOps.dsirResample(raw, "doc_id", "text",
      target, "text", k = 10, buckets = 1 << 16)
      .collect().map(_.getLong(0)).toSet
    val s1 = draw()
    assert(s1 == draw()) // deterministic across runs
    assert(s1.size == 10)
    assert(s1.count(_ < 100L) >= 8, s1.toString) // target-like dominates
  }

  test("dsir: bucket-ratio side rides a broadcast; rejects bad params") {
    val docs = Tables.documents(spark, sfDir)
    val plan = CorpusOps.dsirLogWeights(docs, "doc_id", "text",
        docs.filter($"lang" === "en"), "text", buckets = 4096)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    intercept[IllegalArgumentException] {
      CorpusOps.dsirLogWeights(docs, "doc_id", "text", docs, "text", 0)
    }
    intercept[IllegalArgumentException] {
      CorpusOps.dsirResample(docs, "doc_id", "text", docs, "text", 0)
    }
  }

  test("leakageSafeSplit: a near-dup cluster never straddles the split") {
    val docs = Seq.tabulate(6)(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    // chain 0-1-2 is one component; 3, 4, 5 are singletons
    val pairs = Seq((0L, 1L), (1L, 2L)).toDF("id_a", "id_b")
    val out = CorpusOps.leakageSafeSplit(docs, "doc_id", pairs,
        Seq("train" -> 0.8, "test" -> 0.2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length == 6) // every doc assigned exactly once
    val byDoc = out.map(r => r._1 -> (r._2, r._3)).toMap
    // the component carries min-id cluster 0 and ONE split for all members
    assert(Seq(0L, 1L, 2L).map(byDoc(_)._1).toSet == Set(0L))
    assert(Seq(0L, 1L, 2L).map(byDoc(_)._2).toSet.size == 1)
    // singletons are their own cluster
    assert(Seq(3L, 4L, 5L).forall(i => byDoc(i)._1 == i))
  }

  test("leakageSafeSplit: deterministic, covers all splits, rejects bad specs") {
    val docs = Seq.tabulate(300)(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    def run() = CorpusOps.leakageSafeSplit(docs, "doc_id", noPairs,
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val s1 = run()
    assert(s1 == run()) // md5 draw: identical across runs
    val counts = s1.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts.keySet == Set("train", "val", "test"), counts.toString)
    // uniform hash: train ~225 of 300; loose band to stay flake-free
    assert(counts("train") > 180 && counts("train") < 270, counts.toString)
    intercept[IllegalArgumentException] {
      CorpusOps.leakageSafeSplit(docs, "doc_id", noPairs, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      CorpusOps.leakageSafeSplit(docs, "doc_id", noPairs,
        Seq("a" -> 1.0, "b" -> 0.0))
    }
    intercept[IllegalArgumentException] {
      CorpusOps.leakageSafeSplit(docs, "doc_id", noPairs,
        Seq("a" -> 1.0, "a" -> 1.0))
    }
    // single split: everything lands there
    val one = CorpusOps.leakageSafeSplit(docs, "doc_id", noPairs,
      Seq("all" -> 1.0)).collect()
    assert(one.forall(_.getString(2) == "all") && one.length == 300)
  }

  test("canonicalUrl: every normalization path, hand-checked") {
    val cases = Seq(
      // case fold + trailing host dot + default port + trailing slash
      // + tracking param + param sort + fragment
      "HTTPS://WWW.Src3.ORG.:443/Cat/2/?b=5&utm_source=f&a=1#frag" ->
        "https://www.src3.org/Cat/2?a=1&b=5",
      // non-default port kept; duplicate trailing slashes -> root
      "http://h.org:8080//" -> "http://h.org:8080/",
      // default http port dropped; empty path -> "/"
      "http://h.org:80" -> "http://h.org/",
      // userinfo dropped; path case preserved
      "https://user:pw@H.org/A/B" -> "https://h.org/A/B",
      // all params are tracking -> query dropped entirely
      "https://h.org/p?utm_campaign=x&gclid=1&fbclid=2&ref=z" ->
        "https://h.org/p",
      // malformed: no scheme
      "no-scheme.example/x" -> null,
      // malformed: scheme but empty host
      "https:///path" -> null)
    val out = cases.zipWithIndex
      .map { case ((u, _), i) => (i.toLong, u) }.toDF("id", "url")
      .select(col("id"), CorpusOps.canonicalUrl(col("url")).as("c"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).orNull).toMap
    cases.zipWithIndex.foreach { case ((u, want), i) =>
      assert(out(i.toLong) == want, s"url $u: got ${out(i.toLong)}")
    }
  }

  test("corpusReport: hand-checked card over a tiny corpus") {
    val docs = Seq(
      (1L, "a b c d", "en", "s1"),
      (2L, "a b c d", "en", "s1"), // exact dup of 1
      (3L, "x y", "de", "s2"),
      (4L, "  ", "en", "s2"), // blank
      (5L, null.asInstanceOf[String], "de", "s3"))
      .toDF("doc_id", "text", "lang", "source")
    val card = CorpusOps.corpusReport(docs, "doc_id", "text", "lang", "source")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(card("n_docs") == 5.0 && card("n_blank") == 2.0)
    assert(card("n_tokens") == 10.0) // 4 + 4 + 2
    assert(card("n_sources") == 3.0)
    assert(card("avg_toks") == math.rint(10.0 / 3.0 * 1e4) / 1e4)
    assert(card("p50_toks") == 4.0) // of (2, 4, 4)
    // 3 non-blank docs, 2 distinct texts
    assert(card("exact_dup_frac") == math.rint((1 - 2.0 / 3.0) * 1e6) / 1e6)
    // top lang among non-blank = en (2 docs), share over ALL 5
    assert(card("pct_en") == 0.4, card.toString)
    assert(card.size == 10)
  }

  test("corpusReport: schema-stable on all-blank corpus and NULL lang") {
    // all-blank: every metric still present, dup frac and pct are 0.0
    // (not NULL / not a missing row)
    val blank = Seq(
      (1L, "  ", "en", "s1"),
      (2L, null.asInstanceOf[String], null.asInstanceOf[String], "s2"))
      .toDF("doc_id", "text", "lang", "source")
    val card = CorpusOps.corpusReport(blank, "doc_id", "text", "lang",
      "source").collect().map(r => r.getString(0) -> r.get(1)).toMap
    assert(card.size == 10, card.toString)
    assert(card("exact_dup_frac") == 0.0, card.toString)
    assert(card("pct_unknown") == 0.0, card.toString)
    assert(!card.keySet.exists(_ == null), card.toString)
    // NULL langCol in the winning group folds into the fixed label
    val nullLang = Seq(
      (1L, "a b", null.asInstanceOf[String], "s1"),
      (2L, "c d", null.asInstanceOf[String], "s1"),
      (3L, "e f", "de", "s1")).toDF("doc_id", "text", "lang", "source")
    val card2 = CorpusOps.corpusReport(nullLang, "doc_id", "text", "lang",
      "source").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(card2("pct_unknown") == math.rint(2.0 / 3.0 * 1e6) / 1e6,
      card2.toString)
  }

  test("rrfFuse: hand fusion, bucket invariance, partial coverage") {
    // signal A ranks 1,2,3 = docs 3,2,1; signal B covers only docs
    // 1,2 (doc 1 first); doc 4 has a NULL score in A -> excluded there
    val a = Seq((1L, Some(1.0)), (2L, Some(2.0)), (3L, Some(3.0)),
      (4L, None)).toDF("doc_id", "s")
    val b = Seq((1L, 9.0), (2L, 5.0)).toDF("doc_id", "s")
    def run(buckets: Int) = CorpusOps.rrfFuse(
      Map("a" -> ((a, "s")), "b" -> ((b, "s"))), "doc_id",
      k = 60, buckets = buckets)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val got = run(64)
    val exp = Map(
      1L -> ((2L, r6(1.0 / 63 + 1.0 / 61))), // rank 3 in a, 1 in b
      2L -> ((2L, r6(1.0 / 62 + 1.0 / 62))),
      3L -> ((1L, r6(1.0 / 61))),
      4L -> ((0L, 0.0))) - 4L // NULL score -> absent entirely
    assert(got == exp, s"$got vs $exp")
    // the two-phase global rank is bucket-count invariant
    assert(run(1) == got && run(7) == got, "bucketing changed ranks")
    intercept[IllegalArgumentException] {
      CorpusOps.rrfFuse(Map.empty, "doc_id")
    }
    intercept[IllegalArgumentException] {
      CorpusOps.rrfFuse(Map("a" -> ((a, "s"))), "doc_id", k = 0)
    }
    // the bounded-signal fast path (searchPipeline's fuse: legs already
    // LIMITed) is output-identical to the two-phase global rank
    val bounded = CorpusOps.rrfFuseBounded(
      Map("a" -> ((a, "s")), "b" -> ((b, "s"))), "doc_id", k = 60)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(bounded == got, s"bounded $bounded vs two-phase $got")
  }

  test("tfidfTopTerms: hand math, rank truncation, zero-idf ubiquity") {
    // 3 docs; 'c' is in every doc -> idf 0; 'a' in 2 docs; 'x','y'
    // unique to doc 3
    val docs = Seq((1L, "a a c"), (2L, "a c"), (3L, "x y c"),
      (4L, "   ")).toDF("doc_id", "text")
    val out = CorpusOps.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    val exp = Set(
      (1L, "a", r4(2.0 * math.log(3.0 / 2.0)), 1L),
      (1L, "c", 0.0, 2L),
      (2L, "a", r4(1.0 * math.log(3.0 / 2.0)), 1L),
      (2L, "c", 0.0, 2L),
      (3L, "x", r4(math.log(3.0)), 1L), // ties: term asc
      (3L, "y", r4(math.log(3.0)), 2L))
    assert(out.toSet == exp, s"${out.mkString(",")}\nvs $exp")
    intercept[IllegalArgumentException] {
      CorpusOps.tfidfTopTerms(docs, "doc_id", "text", 0)
    }
  }

  test("cdcChunks: boundary law, full coverage, edit-robustness") {
    // mirror of the engine's boundary rule, for planted constructions
    def isBoundary(tok: String, m: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.take(4).map(x => f"$x%02x").mkString, 16) % m == 0
    }
    val m = 4L
    // find one boundary and several non-boundary tokens
    val pool = (1 to 200).map(i => s"w$i")
    val bTok = pool.find(isBoundary(_, m)).get
    val plain = pool.filterNot(isBoundary(_, m)).take(10).toArray
    // doc: 3 plains, boundary, 3 plains -> exactly 2 chunks, split
    // right AFTER the boundary token (it ends its chunk)
    val toks = plain.take(3) ++ Array(bTok) ++ plain.slice(3, 6)
    val chunks = CorpusOps.cdcChunks(
      Seq((1L, toks.mkString(" "))).toDF("doc_id", "text"),
      "doc_id", "text", avgTokens = m.toInt)
      .collect().map(r => r.getLong(1) -> ((r.getString(2), r.getLong(3))))
      .sortBy(_._1)
    assert(chunks.toSeq == Seq(
      0L -> (((plain.take(3) :+ bTok).mkString(" "), 4L)),
      1L -> ((plain.slice(3, 6).mkString(" "), 3L))), chunks.mkString(","))
    // edit-robustness: inserting one non-boundary token changes ONLY
    // the chunk containing it; every other chunk hash survives
    val longDoc = (plain ++ Array(bTok) ++ plain.reverse ++
      Array(bTok) ++ plain).mkString(" ")
    val edited = (plain ++ Array(bTok) ++ plain.reverse.take(5) ++
      Array(plain(9)) ++ plain.reverse.drop(5) ++ Array(bTok) ++ plain)
      .mkString(" ")
    def chunkTexts(t: String) = CorpusOps.cdcChunks(
      Seq((1L, t)).toDF("doc_id", "text"), "doc_id", "text", m.toInt)
      .collect().map(_.getString(2)).toSeq
    val (ca, cb) = (chunkTexts(longDoc), chunkTexts(edited))
    assert(cb.size == ca.size, s"$ca vs $cb")
    assert(ca.toSet.intersect(cb.toSet).size == ca.size - 1,
      s"edit touched more than one chunk:\n$ca\n$cb")
    // stats: a duplicated doc flags all its chunks; a unique doc none
    val stats = CorpusOps.cdcChunkStats(Seq(
        (1L, longDoc), (2L, longDoc),
        (3L, (1 to 30).map(i => s"u$i").mkString(" ")))
        .toDF("doc_id", "text"),
      "doc_id", "text", avgTokens = m.toInt)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(stats(1L)._2 == 1.0 && stats(2L)._2 == 1.0 &&
      stats(3L) == ((0L, 0.0)), stats.toString)
  }

  test("temperatureWeights: hand shares, flattening law, null exclusion") {
    val docs = (Seq.tabulate(80)(i => (i.toLong, "a"))
      ++ Seq.tabulate(20)(i => (100L + i, "b"))
      ++ Seq((900L, null.asInstanceOf[String])))
      .toDF("doc_id", "source")
    def weights(tau: Double) = CorpusOps
      .temperatureWeights(docs, "source", tau)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // tau = 1: natural proportions (nulls excluded from the base)
    val w1 = weights(1.0)
    assert(w1 == Map("a" -> ((80L, 0.8)), "b" -> ((20L, 0.2))), w1.toString)
    // tau = 0.5: sqrt shares renormalized — hand values
    val (sa, sb) = (math.sqrt(0.8), math.sqrt(0.2))
    val w05 = weights(0.5)
    assert(w05("a")._2 == r6(sa / (sa + sb)) &&
      w05("b")._2 == r6(sb / (sa + sb)), w05.toString)
    // flattening law: smaller tau moves the tail weight UP, head DOWN,
    // and weights always sum to ~1
    val w02 = weights(0.2)
    assert(w02("b")._2 > w05("b")._2 && w05("b")._2 > w1("b")._2)
    assert(w02("a")._2 < w05("a")._2 && w05("a")._2 < w1("a")._2)
    Seq(w1, w05, w02).foreach(w =>
      assert(math.abs(w.values.map(_._2).sum - 1.0) < 1e-5, w.toString))
    intercept[IllegalArgumentException] {
      CorpusOps.temperatureWeights(docs, "source", 0.0)
    }
  }

  test("bm25TopK: hand-computed scores, ranking, prune-first plan") {
    val docs = Seq((1L, "a b a"), (2L, "a c"), (3L, "c c c c"),
      (4L, "b b"), // matches no query term -> absent
      (5L, "   "), (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = CorpusOps.bm25TopK(docs, "doc_id", "text",
        Seq("a", "c", "a"), k = 10) // dup query term collapses
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // hand model: N=3 scorable docs? no — N counts ALL tokenized docs
    // (1,2,3,4), avgdl=(3+2+4+2)/4=2.75, df(a)=2, df(c)=2
    val N = 4.0; val avgdl = 2.75
    def idf(dfv: Double) = math.log((N - dfv + 0.5) / (dfv + 0.5) + 1.0)
    def term(tf: Double, dl: Double, dfv: Double) =
      idf(dfv) * tf * (1.2 + 1.0) /
        (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    val exp = Map(
      1L -> (r4(term(2, 3, 2)), 1L),
      2L -> (r4(term(1, 2, 2) + term(1, 2, 2)), 2L),
      3L -> (r4(term(4, 4, 2)), 1L))
    assert(out.map(t => t._1 -> ((t._2, t._3))).toMap == exp,
      s"${out.mkString(",")} vs $exp")
    // ranked by rounded score desc then id; doc 4 (no match) absent
    assert(out.map(_._1).toSeq ==
      exp.toSeq.sortBy { case (id, (s, _)) => (-s, id) }.map(_._1),
      out.mkString(","))
    // k truncates through TakeOrderedAndProject (global top-k, no sort)
    val top1 = CorpusOps.bm25TopK(docs, "doc_id", "text", Seq("a", "c"), 1)
    assert(top1.collect().map(_.getLong(0)).toSeq == Seq(out.head._1))
    assert(top1.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
    intercept[IllegalArgumentException] {
      CorpusOps.bm25TopK(docs, "doc_id", "text", Seq("a"), 0)
    }
    intercept[IllegalArgumentException] {
      CorpusOps.bm25TopK(docs, "doc_id", "text", Seq.empty, 5)
    }
  }

  test("bm25TopKBatch == per-query bm25TopK; one-job plan shape") {
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
    val queryTexts = Seq("hash join window scan", "sort merge batch",
      "dup stream", "the", "qqqnomatchqqq", "  ")
    val qs = queryTexts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("query_id", "query_text")
    val batch = CorpusOps.bm25TopKBatch(docs, "doc_id", "text", qs,
      "query_id", "query_text", k = 7)
    val got = batch.collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r =>
        (r.getLong(1), r.getDouble(2), r.getLong(3))).toSet).toMap
    // equivalence law: each query's batch rows == the single-query
    // operator on that query's terms (blank + no-match queries absent)
    queryTexts.zipWithIndex.foreach { case (text, i) =>
      val terms = text.trim.split("\\s+").toSeq.filter(_.nonEmpty)
      val single = if (terms.isEmpty) Set.empty[(Long, Double, Long)]
      else CorpusOps.bm25TopK(docs, "doc_id", "text", terms, k = 7)
        .collect().map(r =>
          (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      assert(got.getOrElse(i.toLong, Set.empty) == single,
        s"query $i '$text': batch ${got.get(i.toLong)} vs single $single")
    }
    assert(!got.contains(4L) && !got.contains(5L),
      "no-match and blank queries must contribute no rows")
    // plan shape: the per-query top-k is a partial-then-final
    // WindowGroupLimit (never a full per-query sort), and the query
    // vocabulary prune + term fanout ride broadcast joins
    batch.collect()
    val plan = batch.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("searchPipeline: fused == hand RRF of the legs; rank; guards") {
    val docs = Seq((1L, "a b a"), (2L, "a c"), (3L, "c c c c"),
      (4L, "b b")).toDF("doc_id", "text")
    // semantic leg: any (id, score) ranking — doc 9 is semantic-ONLY
    // (absent from the corpus text match), doc 3 is in both legs
    val sem = Seq((3L, 0.9), (4L, 0.8), (9L, 0.7)).toDF("id", "cos")
    val out = CorpusOps.searchPipeline(docs, "doc_id", "text",
        Seq("a", "c"), sem, "id", "cos", k = 3, candidates = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // plain-Scala fusion from the two legs' own (independently
    // hand-pinned) rankings
    val lexRanks = CorpusOps.bm25TopK(docs, "doc_id", "text",
        Seq("a", "c"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }
    val semRanks = Seq(3L -> 1, 4L -> 2, 9L -> 3)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val exp = (lexRanks ++ semRanks)
      .groupBy(_._1).view
      .mapValues(rs => (rs.size.toLong,
        r6(rs.map { case (_, r) => 1.0 / (60.0 + r) }.sum)))
      .toSeq
      .sortBy { case (id, (_, s)) => (-s, id) }
      .take(3).zipWithIndex
      .map { case ((id, (n, s)), i) => (id, n, s, (i + 1).toLong) }
    assert(out.toSeq == exp, s"${out.toSeq} vs $exp")
    // the both-legs doc fused two signals
    assert(out.find(_._1 == 3L).forall(_._2 == 2L), out.mkString(","))
    intercept[IllegalArgumentException] {
      CorpusOps.searchPipeline(docs, "doc_id", "text", Seq("a"),
        sem, "id", "cos", k = 5, candidates = 3)
    }
    // one query-term rule with and without a predicate: a non-empty list
    // of single tokens, refused by name before either path runs
    Seq(None, Some(col("doc_id") > 0)).foreach { pred =>
      Seq(Seq.empty[String], Seq("a", ""), Seq(" "), Seq("a c"),
          Seq("a", "b\tc")).foreach { terms =>
        val e = intercept[IllegalArgumentException] {
          CorpusOps.searchPipeline(docs, "doc_id", "text", terms, sem,
            "id", "cos", k = 3, candidates = 10, predicate = pred)
        }
        assert(e.getMessage.contains("searchPipeline"),
          s"$terms, predicate $pred: ${e.getMessage}")
      }
    }
  }

  test("searchPipeline bounds an OVERSIZED semantic leg to candidates " +
      "(ADVICE r19: the defensive truncation)") {
    val docs = Seq((1L, "a b a"), (2L, "a c"), (3L, "c c c c"),
      (4L, "b b")).toDF("doc_id", "text")
    // 6-row semantic leg against candidates = 3: the pipeline must fuse
    // only the leg's top-3 (score desc, id) ranks — identical to
    // passing the pre-truncated leg — instead of funneling every row
    // through the fuse window
    val semBig = Seq((3L, 0.9), (4L, 0.8), (9L, 0.7), (10L, 0.6),
      (11L, 0.5), (12L, 0.4)).toDF("id", "cos")
    val semTop = semBig.orderBy(col("cos").desc, col("id")).limit(3)
    def run(s: org.apache.spark.sql.DataFrame) =
      CorpusOps.searchPipeline(docs, "doc_id", "text", Seq("a", "c"),
          s, "id", "cos", k = 3, candidates = 3)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSeq
    assert(run(semBig) == run(semTop))
    // the truncated-away tail really is invisible: no fused row for ids
    // past the candidate depth
    assert(!run(semBig).exists(r => Seq(10L, 11L, 12L).contains(r._1)))
  }

  test("nbScoreAll refuses an input that already carries the __nbtk " +
      "temp column (ADVICE r19: reserved-name guard)") {
    val docs = Seq((1L, "a b", "x")).toDF("doc_id", "text", "__nbtk")
    val m = CorpusOps.trainNbQuality(
      Seq((1L, "a b", "good"), (2L, "z z", "bad"))
        .toDF("doc_id", "text", "lab"),
      "doc_id", "text", "lab", numBuckets = 64)
    val e = intercept[IllegalArgumentException] {
      CorpusOps.nbScoreAll(docs, m, "doc_id", "text")
    }
    assert(e.getMessage.contains("__nbtk"), e.getMessage)
  }

  test("bm25TopKIndexed == bm25TopKBatch; append law; pruned scan") {
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
    val qs = Seq((0L, "hash join window scan"), (1L, "sort merge batch"),
      (2L, "dup stream"), (3L, "qqqnomatchqqq"), (4L, "  "))
      .toDF("query_id", "query_text")
    val dir = java.nio.file.Files.createTempDirectory("bm25idx")
      .toString + "/idx"
    CorpusOps.buildBm25Index(docs, "doc_id", "text", dir)
    val probe = CorpusOps.bm25TopKIndexed(spark, dir, qs,
      "query_id", "query_text", k = 7)
    val got = probe.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    // per query identical to the one-job batch operator on the corpus
    val direct = CorpusOps.bm25TopKBatch(docs, "doc_id", "text", qs,
        "query_id", "query_text", k = 7)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    assert(got == direct, s"indexed $got vs direct $direct")
    // the posting scan is partition-pruned to the query vocabulary's
    // leaves and the vocabulary prune is a broadcast semi-join
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tmod"),
      plan.take(600))
    assert(plan.contains("Broadcast"), plan.take(600))
    // append law: base + appended delta probes exactly like a one-shot
    // build over the union (stats and df SUM across builds)
    val dir2 = java.nio.file.Files.createTempDirectory("bm25idx2")
      .toString + "/idx"
    val base = docs.filter($"doc_id" % 2 === 0)
    val delta = docs.filter($"doc_id" % 2 === 1)
    CorpusOps.buildBm25Index(base, "doc_id", "text", dir2)
    CorpusOps.buildBm25Index(delta, "doc_id", "text", dir2,
      mode = "append")
    val appended = CorpusOps.bm25TopKIndexed(spark, dir2, qs,
        "query_id", "query_text", k = 7)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    assert(appended == direct, s"appended $appended vs direct $direct")
    intercept[IllegalArgumentException] {
      CorpusOps.bm25TopKIndexed(spark, dir, qs, "query_id",
        "query_text", k = 0)
    }
  }

  test("bm25 index deletes: immediate exclusion; compaction heals") {
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
    val qs = Seq((0L, "hash join window scan"), (1L, "dup stream"))
      .toDF("query_id", "query_text")
    def probe(path: String) = CorpusOps
      .bm25TopKIndexed(spark, path, qs, "query_id", "query_text", k = 7)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    // grow the index through BATCH INCREMENTS (the streaming layout);
    // compaction must PRESERVE that layout so a live stream can keep
    // incrementing afterwards
    val dir = java.nio.file.Files.createTempDirectory("bm25del")
      .toString + "/idx"
    CorpusOps.bm25IndexIncrement(docs.filter($"doc_id" % 2 === 0),
      "doc_id", "text", dir, batchId = 0L)
    CorpusOps.bm25IndexIncrement(
      docs.filter($"doc_id" % 2 === 1 && $"doc_id" % 5 =!= 1),
      "doc_id", "text", dir, batchId = 1L)
    // dead ⊆ batch 0, disjoint from the post-compact increment below
    val dead = docs.filter($"doc_id" % 2 === 0 && $"doc_id" % 3 === 0)
      .select($"doc_id")
    CorpusOps.bm25IndexDelete(dir, dead, "doc_id")
    // deletes are visible IMMEDIATELY: no tombstoned doc surfaces
    val deadIds = dead.collect().map(_.getLong(0)).toSet
    val pre = probe(dir)
    assert(pre.nonEmpty && pre.forall(r => !deadIds.contains(r._2)),
      pre.toString)
    // a repeated delete is absorbed (append-only tombstones)
    CorpusOps.bm25IndexDelete(dir, dead.limit(5), "doc_id")
    assert(probe(dir) == pre)
    // compaction: probes now equal the direct batch over the
    // SURVIVING corpus exactly (stats healed), tombstones cleared,
    // and the fold landed in the reserved batch=-1 subtree (batch
    // layout preserved, not flattened)
    CorpusOps.bm25IndexCompact(spark, dir)
    val healed = probe(dir)
    def fresh(corpus: org.apache.spark.sql.DataFrame) = CorpusOps
      .bm25TopKBatch(corpus, "doc_id", "text", qs,
        "query_id", "query_text", k = 7)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    val survivorsNow = docs.filter(
      ($"doc_id" % 2 === 0 && $"doc_id" % 3 =!= 0) ||
        ($"doc_id" % 2 === 1 && $"doc_id" % 5 =!= 1))
    assert(healed == fresh(survivorsNow),
      s"healed $healed vs fresh over survivors")
    assert(!new java.io.File(s"$dir.tombstones").exists())
    assert(new java.io.File(dir, "batch=-1").isDirectory &&
      !new java.io.File(dir, "batch=0").exists(),
      new java.io.File(dir).list().mkString(","))
    // the LIVE-STREAM continuation the r15 advice flagged: a
    // post-compact increment must coexist with the fold (no
    // conflicting partition depths) and probe like the union
    CorpusOps.bm25IndexIncrement(
      docs.filter($"doc_id" % 2 === 1 && $"doc_id" % 5 === 1),
      "doc_id", "text", dir, batchId = 2L)
    val afterCont = docs.filter(
      !($"doc_id" % 2 === 0 && $"doc_id" % 3 === 0))
    assert(probe(dir) == fresh(afterCont))
    // upsert healing: re-ingest doc 2 with NEW text in a later batch;
    // pre-compact probes double-count it (documented divergence),
    // post-compact probes equal a fresh build where doc 2 has only
    // its latest text
    val updated = docs.filter($"doc_id" === 2)
      .select($"doc_id", concat($"text", lit(" dup stream dup")).as("text"))
    CorpusOps.bm25IndexIncrement(updated, "doc_id", "text", dir,
      batchId = 3L)
    CorpusOps.bm25IndexCompact(spark, dir)
    val upserted = afterCont.filter($"doc_id" =!= 2).unionByName(updated)
    assert(probe(dir) == fresh(upserted),
      "post-compact probe != fresh build over latest versions")
    intercept[IllegalArgumentException] {
      CorpusOps.bm25IndexIncrement(updated, "doc_id", "text", dir,
        batchId = -1L)
    }
  }

  test("bm25IndexStats: the report tracks builds, batches, tombstones") {
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val live = docs.filter($"text".isNotNull && trim($"text") =!= "")
    val dir = java.nio.file.Files.createTempDirectory("bm25st")
      .toString + "/idx"
    CorpusOps.bm25IndexIncrement(docs.filter($"doc_id" % 2 === 0),
      "doc_id", "text", dir, batchId = 0L)
    CorpusOps.bm25IndexIncrement(docs.filter($"doc_id" % 2 === 1),
      "doc_id", "text", dir, batchId = 1L)
    CorpusOps.bm25IndexDelete(dir,
      docs.filter($"doc_id" < 5).select($"doc_id"), "doc_id")
    val r = CorpusOps.bm25IndexStats(spark, dir).collect()(0)
    assert(r.getString(0) == "batch" && r.getLong(1) == 2 &&
      r.getLong(2) == 2 && r.getLong(3) == 5, r)
    // n_docs/avgdl are the AS-PROBED statistics (tombstones pending)
    assert(r.getLong(4) == live.count(), r)
    assert(r.getDouble(6) > 0, r)
    // compaction folds batches and clears tombstones; the report
    // follows
    CorpusOps.bm25IndexCompact(spark, dir)
    val c = CorpusOps.bm25IndexStats(spark, dir).collect()(0)
    assert(c.getString(0) == "batch" && c.getLong(1) == 1 &&
      c.getLong(2) == 1 && c.getLong(3) == 0, c)
    assert(c.getLong(4) == live.filter($"doc_id" >= 5).count(), c)
    // a flat build reports the flat layout with zero batches
    val flat = java.nio.file.Files.createTempDirectory("bm25stf")
      .toString + "/idx"
    CorpusOps.buildBm25Index(docs, "doc_id", "text", flat)
    val f = CorpusOps.bm25IndexStats(spark, flat).collect()(0)
    assert(f.getString(0) == "flat" && f.getLong(1) == 1 &&
      f.getLong(2) == 0 && f.getLong(3) == 0, f)
  }

  test("versioned bm25 compact: pointer flip, grace, sticky; " +
      "increments and probes resolve to the live generation") {
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val qs = Seq((0L, "hash join window scan"), (1L, "dup stream"))
      .toDF("query_id", "query_text")
    def probe(path: String) = CorpusOps
      .bm25TopKIndexed(spark, path, qs, "query_id", "query_text", k = 7)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    def fresh(corpus: org.apache.spark.sql.DataFrame) = CorpusOps
      .bm25TopKBatch(corpus, "doc_id", "text", qs,
        "query_id", "query_text", k = 7)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    val dir = java.nio.file.Files.createTempDirectory("bm25ver")
      .toString + "/idx"
    def files() = Option(new java.io.File(dir).list())
      .map(_.toSet).getOrElse(Set.empty[String])
    // grow through increments, delete, compact VERSIONED
    CorpusOps.bm25IndexIncrement(docs.filter($"doc_id" % 2 === 0),
      "doc_id", "text", dir, batchId = 0L)
    CorpusOps.bm25IndexIncrement(docs.filter($"doc_id" % 2 === 1),
      "doc_id", "text", dir, batchId = 1L)
    CorpusOps.bm25IndexDelete(dir,
      docs.filter($"doc_id" % 3 === 0).select($"doc_id"), "doc_id")
    CorpusOps.bm25IndexCompact(spark, dir, versioned = true)
    assert(files().contains(".current") && files().contains(".v1"),
      files().toString)
    // legacy batch dirs retained as reader grace
    assert(files().exists(_.startsWith("batch=")), "legacy grace gone")
    val survivors = docs.filter($"doc_id" % 3 =!= 0)
    assert(probe(dir) == fresh(survivors))
    // the report resolves through the pointer: 1 fold build, batch
    // layout, no tombstones
    val st = CorpusOps.bm25IndexStats(spark, dir).collect()(0)
    assert(st.getString(0) == "batch" && st.getLong(1) == 1 &&
      st.getLong(3) == 0, st)
    // a live increment lands in the .v1 generation and probes
    val updated = docs.filter($"doc_id" === 2)
      .select($"doc_id",
        concat($"text", lit(" dup stream dup")).as("text"))
    CorpusOps.bm25IndexIncrement(updated, "doc_id", "text", dir,
      batchId = 2L)
    assert(new java.io.File(s"$dir/.v1/postings", "batch=2")
      .isDirectory, "increment missed the live generation")
    // second compact: sticky versioning (no flag), v2 live, legacy
    // layout gone, v1 retained as the new grace; the upsert heals
    // doc 2 to its latest text
    CorpusOps.bm25IndexCompact(spark, dir)
    assert(files().contains(".v2") && files().contains(".v1") &&
      !files().exists(_.startsWith("batch=")), files().toString)
    assert(!new java.io.File(s"$dir.df").exists() &&
      !new java.io.File(s"$dir.stats").exists())
    val healed = survivors.filter($"doc_id" =!= 2).unionByName(updated)
    assert(probe(dir) == fresh(healed),
      "post-compact probe != fresh build over latest versions")
  }

  test("searchPipelineBatch == per-query searchPipeline; one-leg fusion") {
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
    val emb = Tables.embeddings(spark, sfDir)
    val queryTexts = Seq((0L, "hash join window scan"),
      (1L, "sort merge batch"), (2L, "qqqnomatchqqq"))
    val qs = queryTexts.toDF("query_id", "query_text")
    val semBatch = Similarity.cosineTopKBatch(emb, "vec_id", "embedding",
      emb.filter($"vec_id" < 3)
        .select($"vec_id".as("qid"), $"embedding".as("qv")),
      "qid", "qv", k = 30)
    val batch = CorpusOps.searchPipelineBatch(docs, "doc_id", "text",
        qs, "query_id", "query_text", semBatch, "qid", "id", "cos_sim",
        k = 5, candidates = 30)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSet).toMap
    // equivalence law: each query's batch rows == the single-query
    // pipeline on that query's terms and semantic slice
    queryTexts.foreach { case (qid, text) =>
      val single = CorpusOps.searchPipeline(docs, "doc_id", "text",
          text.split("\\s+").toSeq,
          Similarity.cosineTopK(emb, "vec_id", "embedding", qid, 30),
          "id", "cos_sim", k = 5, candidates = 30)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getLong(3))).toSet
      assert(got(batch, qid) == single,
        s"query $qid: ${batch.get(qid)} vs $single")
    }
    // the no-lexical-match query still retrieves semantically and
    // every one of its fused rows carries exactly one signal
    assert(batch(2L).nonEmpty && batch(2L).forall(_._2 == 1L),
      batch(2L).toString)
    // an OVERSIZED semantic leg (6 rows against candidates = 3): doc 2
    // is lexical-top for "a c" but the semantic leg's last row, so both
    // faces fuse only the leg's top-3 ranks and doc 2 carries one signal
    val small = Seq((1L, "a b a"), (2L, "a c"), (3L, "c c c c"),
      (4L, "b b")).toDF("doc_id", "text")
    val semBig = Seq((3L, 0.9), (4L, 0.8), (9L, 0.7), (10L, 0.6),
      (11L, 0.5), (2L, 0.4)).toDF("id", "cos")
    val bigBatch = CorpusOps.searchPipelineBatch(small, "doc_id", "text",
        Seq((0L, "a c")).toDF("query_id", "query_text"), "query_id",
        "query_text", semBig.withColumn("qid", lit(0L)), "qid", "id", "cos",
        k = 3, candidates = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4))).toSet
    val bigSingle = CorpusOps.searchPipeline(small, "doc_id", "text",
        Seq("a", "c"), semBig, "id", "cos", k = 3, candidates = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    assert(bigBatch == bigSingle, s"batch $bigBatch vs single $bigSingle")
    assert(bigBatch.find(_._1 == 2L).exists(_._2 == 1L),
      s"doc 2 sits below the semantic cut: $bigBatch")
  }

  private def got(m: Map[Long, Set[(Long, Long, Double, Long)]],
                  k: Long): Set[(Long, Long, Double, Long)] =
    m.getOrElse(k, Set.empty)

  test("rrfTopKGrouped: the indexed stack == the direct pipeline") {
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
    val emb = Tables.embeddings(spark, sfDir)
    val qs = Seq((0L, "hash join window scan"), (1L, "dup stream"))
      .toDF("query_id", "query_text")
    val sem = Similarity.cosineTopKBatch(emb, "vec_id", "embedding",
      emb.filter($"vec_id" < 2)
        .select($"vec_id".as("qid"), $"embedding".as("qv")),
      "qid", "qv", k = 30)
    val direct = CorpusOps.searchPipelineBatch(docs, "doc_id", "text",
        qs, "query_id", "query_text", sem, "qid", "id", "cos_sim",
        k = 5, candidates = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSet
    // the same stack composed from the PERSISTED lexical index through
    // the public fusion surface — no corpus re-tokenization anywhere
    val dir = java.nio.file.Files.createTempDirectory("bm25stk")
      .toString + "/idx"
    CorpusOps.buildBm25Index(docs, "doc_id", "text", dir)
    val lexIdx = CorpusOps.bm25TopKIndexed(spark, dir, qs,
        "query_id", "query_text", k = 30)
      .select($"query_id", $"id".as("doc_id"), $"bm25")
    val semRenamed = sem.select($"qid".as("query_id"),
      $"id".as("doc_id"), $"cos_sim")
    val indexed = CorpusOps.rrfTopKGrouped(Map(
        "lexical" -> ((lexIdx, "bm25")),
        "semantic" -> ((semRenamed, "cos_sim"))),
        "query_id", "doc_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSet
    assert(indexed == direct, s"indexed $indexed vs direct $direct")
    intercept[IllegalArgumentException] {
      CorpusOps.rrfTopKGrouped(Map(
        "lexical" -> ((lexIdx, "bm25"))), "query_id", "doc_id", k = 0)
    }
  }

  test("rrfFuseGrouped: per-query hand fusion, partial coverage, guards") {
    // query 10: signal a ranks docs 3,2; signal b ranks 2,1 (doc 2 in
    // both). query 20: only signal a covers it; doc 7 NULL score in b.
    val a = Seq((10L, 3L, 9.0), (10L, 2L, 5.0), (20L, 5L, 4.0))
      .toDF("q", "doc_id", "s")
    val b = Seq((10L, 2L, Some(8.0)), (10L, 1L, Some(6.0)),
      (20L, 7L, None)).toDF("q", "doc_id", "s")
    val out = CorpusOps.rrfFuseGrouped(
        Map("a" -> ((a, "s")), "b" -> ((b, "s"))), "q", "doc_id", k = 60)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val exp = Map(
      (10L, 3L) -> ((1L, r6(1.0 / 61))),          // a rank 1
      (10L, 2L) -> ((2L, r6(1.0 / 62 + 1.0 / 61))), // a rank 2, b rank 1
      (10L, 1L) -> ((1L, r6(1.0 / 62))),          // b rank 2
      (20L, 5L) -> ((1L, r6(1.0 / 61))))          // a only; NULL b gone
    assert(out == exp, s"$out vs $exp")
    intercept[IllegalArgumentException] {
      CorpusOps.rrfFuseGrouped(Map.empty, "q", "doc_id")
    }
    intercept[IllegalArgumentException] {
      CorpusOps.rrfFuseGrouped(Map("a" -> ((a, "s"))), "q", "doc_id",
        k = 0)
    }
  }

  test("trainNbQuality/nbScore: hand math, separable classes, broadcast") {
    // same md5-prefix bucket the engine computes, for collision checks
    def bucket(tok: String, b: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.take(4).map(x => f"$x%02x").mkString, 16) % b
    }
    // hand case: class x trains on "a a", class y on "b"; B=2048, α=1
    // (2048 ≠ the default 4096 so the mixed-width guard case below has
    // two genuinely different widths)
    assert(bucket("a", 2048) != bucket("b", 2048)) // hand math needs it
    val train = Seq((1L, "a a", "x"), (2L, "b", "y"))
      .toDF("doc_id", "text", "label")
    val model = CorpusOps.trainNbQuality(train, "doc_id", "text",
      "label", numBuckets = 2048, alpha = 1.0)
    val mrows = model.collect()
    assert(mrows.length == 2 && mrows.forall(_.getLong(5) == 2048L))
    // score "a": x gets ln(.5)+ln(3/2050), y gets ln(.5)+ln(1/2049)
    val scored = CorpusOps.nbScore(
      Seq((10L, "a")).toDF("doc_id", "text"), model, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    assert(scored.toSeq == Seq(
      (10L, "x", r4(math.log(0.5) + math.log(3.0 / 2050.0)))),
      scored.mkString(","))
    val all = CorpusOps.nbScoreAll(
      Seq((10L, "a")).toDF("doc_id", "text"), model, "doc_id", "text")
      .collect().map(r => (r.getString(1), r.getDouble(2))).toMap
    assert(all("y") == r4(math.log(0.5) + math.log(1.0 / 2049.0)), all)
    // separable corpus: disjoint vocabularies, held-out docs all land
    // in their class
    val wordsG = Array("alpha", "beta", "gamma", "delta", "epsilon")
    val wordsB = Array("buy", "cheap", "pills", "click", "now")
    def doc(ws: Array[String], i: Int) =
      (0 to 6).map(j => ws((i + j) % ws.length)).mkString(" ")
    val labeled = (Seq.tabulate(10)(i => (i.toLong, doc(wordsG, i), "good"))
      ++ Seq.tabulate(10)(i => (100L + i, doc(wordsB, i), "bad")))
      .toDF("doc_id", "text", "label")
    val m2 = CorpusOps.trainNbQuality(labeled, "doc_id", "text", "label")
    val held = Seq((500L, doc(wordsG, 3)), (501L, doc(wordsB, 4)))
      .toDF("doc_id", "text")
    val preds = CorpusOps.nbScore(held, m2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds == Map(500L -> "good", 501L -> "bad"), preds.toString)
    // the model rides broadcast on the scoring path
    val plan = CorpusOps.nbScoreAll(held, m2, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
    // NULL-label and blank-text training rows are excluded
    val m3 = CorpusOps.trainNbQuality(labeled.unionByName(Seq(
      (900L, "alpha beta", null.asInstanceOf[String]),
      (901L, "   ", "good")).toDF("doc_id", "text", "label")),
      "doc_id", "text", "label")
    assert(m3.select("label").distinct().collect().map(_.getString(0))
      .toSet == Set("good", "bad"))
    assert(m3.count() == m2.count())
    // guards
    intercept[IllegalArgumentException] {
      CorpusOps.trainNbQuality(train, "doc_id", "text", "label",
        numBuckets = 0)
    }
    intercept[IllegalArgumentException] {
      CorpusOps.trainNbQuality(train, "doc_id", "text", "label",
        alpha = 0.0)
    }
    // a frankenstein model with mixed bucket widths fails LOUDLY
    interceptGuard("mixed n_buckets") {
      CorpusOps.nbScore(held,
        model.unionByName(m2), "doc_id", "text").collect()
    }
  }

  test("NB likelihood overrides a prior that alone would misclassify") {
    // the q_nb_quality_sep contract (r14 verdict #2): a 10%-minority
    // class marked by one planted token. The PRIOR alone sends every
    // doc to the majority class (ln 0.1 < ln 0.9); only the
    // likelihood's evidence for the planted token can flip minority
    // docs — and with alpha = 1 at 4096 buckets it CANNOT (the Laplace
    // mass alpha*B dwarfs the minority class's token total, flattening
    // its conditionals so every common token votes majority). The
    // planted evidence must win at the gate's alpha = 2^-10 and lose
    // at alpha = 1 — pinning exactly why the gate trains at 2^-10.
    val common = Array("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    def doc(i: Int, planted: Boolean) =
      ((0 until 12).map(j => common((i * 5 + j) % common.length))
        ++ (if (planted) Seq("plutonium") else Nil)).mkString(" ")
    val labeled = (Seq.tabulate(36)(i =>
        (i.toLong, doc(i, planted = false), "clean"))
      ++ Seq.tabulate(4)(i =>
        (100L + i, doc(i * 7, planted = true), "marked")))
      .toDF("doc_id", "text", "label")
    val held = Seq((500L, doc(3, planted = true)),
      (501L, doc(9, planted = false))).toDF("doc_id", "text")
    // prior alone misclassifies: ln p(marked) < ln p(clean)
    val priors = CorpusOps.trainNbQuality(labeled, "doc_id", "text",
        "label", numBuckets = 4096, alpha = 0.0009765625)
      .select($"label", $"log_prior").distinct()
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(priors("marked") < priors("clean"),
      s"minority prior must lose on its own: $priors")
    def predict(alpha: Double) = CorpusOps.nbScore(held,
        CorpusOps.trainNbQuality(labeled, "doc_id", "text", "label",
          numBuckets = 4096, alpha = alpha),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val sharp = predict(0.0009765625)
    assert(sharp == Map(500L -> "marked", 501L -> "clean"),
      s"likelihood must override the prior at alpha=2^-10: $sharp")
    val blunt = predict(1.0)
    assert(blunt(500L) == "clean",
      s"alpha=1 smoothing should flatten the minority class: $blunt")
    // and on the REAL gate corpus, the gate's parameters produce both
    // classes on the held-out half — the q_nb_quality_sep guarantee
    val docs = Tables.documents(spark, sfDir)
      .withColumn("__label", when(
        array_contains(graft.functions.TextFunctions.tokens($"text"),
          "dup"), "dupish").otherwise("clean"))
    val gate = CorpusOps.nbScore(
      docs.filter($"doc_id" % 2 === 1),
      CorpusOps.trainNbQuality(docs.filter($"doc_id" % 2 === 0),
        "doc_id", "text", "__label",
        numBuckets = 4096, alpha = 0.0009765625),
      "doc_id", "text")
    val classes = gate.select($"pred_label").distinct()
      .collect().map(_.getString(0)).toSet
    assert(classes == Set("clean", "dupish"),
      s"gate corpus must separate into both classes: $classes")
  }

  test("packOffsets: hand offsets, straddle math, two-phase == sequential") {
    // doc 1: 3 toks at off 0 (seq 0); sep at 3; doc 2: 510 toks at off 4
    // (ends at 513 -> straddles seqs 0 and 1); doc 3 at off 515
    val docs = Seq(
      (1L, "a b c"),
      (2L, (1 to 510).map(_ => "w").mkString(" ")),
      (3L, "x y"),
      (4L, "   "), // blank: excluded
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = CorpusOps.packOffsets(docs, "doc_id", "text", seqLen = 512)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == ((3L, 0L, 0L, 0L, 0L)))
    assert(out(2L) == ((510L, 4L, 0L, 1L, 4L))) // straddles the cut at 512
    assert(out(3L) == ((2L, 515L, 1L, 1L, 3L)))
    // two-phase == sequential under any bucket count (integer-exact)
    val big = Seq.tabulate(200)(i => (i.toLong, s"t${i} " * (i % 7 + 1)))
      .toDF("doc_id", "text")
    def run(b: Int) = CorpusOps.packOffsets(big, "doc_id", "text", 64, b)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(run(1) == run(17), "bucketing changed the offsets")
    intercept[IllegalArgumentException] {
      CorpusOps.packOffsets(docs, "doc_id", "text", 0)
    }
  }

  test("percentileNormalize: per-group ranks, null scores lowest, cross-domain cut") {
    val rows = Seq(
      (1L, "a", Some(10L)), (2L, "a", Some(20L)), (3L, "a", Some(30L)),
      (4L, "b", Some(1000L)), (5L, "b", Some(2000L)), (6L, "b", Some(3000L)),
      (7L, "b", Option.empty[Long]))
      .toDF("id", "dom", "score")
    val out = CorpusOps.percentileNormalize(rows, "dom", "id", "score")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) == 0.0 && out(2L) == 0.5 && out(3L) == 1.0)
    // raw thresholds diverge across domains; pct_rank aligns them:
    // top third of each domain = pct_rank == 1.0 picks 3 and 6
    assert(out(7L) == 0.0) // null score ranks lowest, stays a row
    assert(out(4L) > 0.0 && out(6L) == 1.0)
    val top = out.filter(_._2 >= 1.0).keySet
    assert(top == Set(3L, 6L), top.toString)
  }

  test("dropRepeatedParagraphs: keep-first wins, blanks survive, within-doc repeats cut") {
    val docs = Seq(
      (1L, "shared para\nunique one"),
      (2L, "prefix two\nshared para\nshared para"), // cross-doc + within-doc repeat
      (3L, "\nshared para\n"), // leading/trailing blanks survive
      (4L, "unique four")).toDF("doc_id", "text")
    val out = CorpusOps.dropRepeatedParagraphs(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    // doc 1 holds the first occurrence -> keeps everything
    assert(out(1L) == (("shared para\nunique one", 2L, 0L)))
    // doc 2 loses BOTH its copies (doc 1 was first)
    assert(out(2L) == (("prefix two", 3L, 2L)))
    // doc 3: blanks always survive, the shared para is cut
    assert(out(3L) == (("\n", 3L, 1L)), out(3L).toString)
    assert(out(4L) == (("unique four", 1L, 0L)))
    // deterministic under repartitioning: same survivors any layout
    val re = CorpusOps.dropRepeatedParagraphs(docs.repartition(7), "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(re == out)
  }

  test("bigramLogProb: word order matters, short docs excluded, model backoff") {
    // docs 1 and 2 hold the SAME unigram bag; 1 follows the corpus's
    // dominant bigram pattern, 2 scrambles it — a unigram model cannot
    // separate them, the bigram model must
    val docs = Seq(
      (1L, "the cat sat the cat sat the cat sat"),
      (2L, "cat the sat cat the sat cat the sat"),
      (3L, "the cat sat the cat sat"),
      (4L, "single")).toDF("doc_id", "text")
    val out = CorpusOps.bigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(!out.contains(4L)) // one token -> no bigram evidence
    assert(out(1L)._1 == 8L) // 9 tokens -> 8 bigrams
    assert(out(1L)._2 > out(2L)._2, out.toString) // order-typical wins
    // uniform unigram check fails to separate them
    val uni = CorpusOps.unigramLogProb(docs.filter($"doc_id" <= 2),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(uni(1L) == uni(2L))
    // external model: OOV-word bigrams are excluded, unseen pairings
    // of seen words survive on the backoff leg
    val model = Seq((10L, "alpha beta alpha beta")).toDF("doc_id", "text")
    val ext = CorpusOps.bigramLogProb(
        Seq((1L, "beta alpha zz beta")).toDF("doc_id", "text"),
        "doc_id", "text", model = Some(model))
      .collect()
    // pairs: (beta,alpha)=seen-words (unseen pair in model? beta alpha IS
    // in model), (alpha,zz)+(zz,beta) dropped for OOV zz -> 1 scored
    assert(ext.length == 1 && ext.head.getLong(1) == 1L, ext.mkString(","))
    intercept[IllegalArgumentException] {
      CorpusOps.bigramLogProb(docs, "doc_id", "text", lambda = 1.5)
    }
  }

  test("epochShuffle: deterministic, epoch-sensitive, complete, one window pass") {
    val docs = Seq.tabulate(100)(i => (i.toLong, s"d$i")).toDF("doc_id", "text")
    def order(e: Int) = CorpusOps.epochShuffle(docs, "doc_id", e, 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val e1 = order(1)
    assert(e1 == order(1)) // pure function of (epoch, id)
    assert(e1.keySet == (0L until 100L).toSet) // every row placed once
    assert(e1.values.map(_._1).toSet.subsetOf((0L until 4L).toSet))
    // per-shard positions are 1..n with no gaps
    e1.values.groupBy(_._1).foreach { case (_, ps) =>
      assert(ps.map(_._2).toSeq.sorted == (1L to ps.size).toSeq)
    }
    assert(e1 != order(2)) // epochs reorder
    val plan = CorpusOps.epochShuffle(docs, "doc_id", 1, 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan.take(600))
    intercept[IllegalArgumentException] {
      CorpusOps.epochShuffle(docs, "doc_id", 1, 0)
    }
  }

  test("mixturePlan: caps at maxRepeats, reports absent domains, no silent rebalance") {
    // srcA: 10 tokens available; srcB: 100; srcC absent from the corpus
    val docs = (Seq.tabulate(5)(i => (i.toLong, "a b", "srcA")) ++
      Seq.tabulate(10)(i => (100L + i, (1 to 10).map(_ => "w").mkString(" "), "srcB")))
      .toDF("doc_id", "text", "source")
    val out = CorpusOps.mixturePlan(docs, "source", "text",
        Map("srcA" -> 0.5, "srcB" -> 0.25, "srcC" -> 0.25),
        totalBudgetTokens = 400, maxRepeats = 3.0)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)), r.getBoolean(5))).toMap
    // srcA: desired 200, available 10, cap 30 -> capped, 3 epochs
    assert(out("srcA") == ((10L, 200L, 30L, Some(3.0d), true)), out.toString)
    // srcB: desired 100, available 100, cap 300 -> uncapped, 1 epoch
    assert(out("srcB") == ((100L, 100L, 100L, Some(1.0d), false)), out.toString)
    // srcC: absent -> 0 available, planned 0, NULL epochs, capped
    assert(out("srcC") == ((0L, 100L, 0L, None, true)), out.toString)
    intercept[IllegalArgumentException] {
      CorpusOps.mixturePlan(docs, "source", "text", Map.empty, 100)
    }
    intercept[IllegalArgumentException] {
      CorpusOps.mixturePlan(docs, "source", "text",
        Map("srcA" -> 1.0), 100, maxRepeats = 0.0)
    }
  }

  test("urlDedup: min-id canonical survives with count; nulls each kept") {
    val rows = Seq(
      (7L, "https://h.org/a?x=1&y=2"),
      (3L, "HTTPS://h.org:443/a/?y=2&x=1&utm_source=z"), // same canonical
      (5L, "https://h.org/b"),
      (9L, "not a url"),
      (11L, "also-bad")).toDF("doc_id", "url")
    val out = CorpusOps.urlDedup(rows, "doc_id", "url")
      .collect().map(r => (r.getLong(0), Option(r.get(1)).orNull, r.getLong(2)))
    assert(out.length == 4) // 2 canonicals + 2 null rows
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(3L)._2 == "https://h.org/a?x=1&y=2" && byId(3L)._3 == 2L)
    assert(byId(5L)._3 == 1L)
    assert(byId(9L)._2 == null && byId(11L)._2 == null)
    assert(!byId.contains(7L)) // absorbed by min-id 3
  }
}
