package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._

import graft.plans.{GraftExtensions, TextExpressions}

class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("registerAll exposes the native expressions to SQL") {
    TextExpressions.registerAll(spark)
    val r = spark.sql(
      """SELECT simhash64('a b c') AS sh,
        |       size(minhash_signature('a b c d e', 16, 3)) AS mh_len,
        |       word_shingles('a b c d', 2) AS ws,
        |       char_bigrams('abc') AS cb,
        |       srp_signature(array(CAST(1.0 AS FLOAT),
        |                           CAST(0.5 AS FLOAT)), 4) AS srp"""
        .stripMargin)
      .as[(Long, Int, Seq[String], Seq[String], Long)].collect()(0)
    assert(r._2 == 16)
    assert(r._3 == Seq("a b", "b c", "c d"))
    assert(r._4 == Seq("ab", "bc"))
    // SQL value equals the Column-API value
    val fromCol = Seq("a b c").toDF("t")
      .select(graft.operators.Dedup.simhash($"t")).collect()(0).getLong(0)
    assert(r._1 == fromCol)
    val srpFromCol = Seq(Array(1.0f, 0.5f)).toDF("v")
      .select(graft.operators.Similarity.srpSignature($"v", 4))
      .collect()(0).getLong(0)
    assert(r._5 == srpFromCol)
  }

  test("GraftExtensions wires injection without error") {
    new GraftExtensions().apply(new SparkSessionExtensions)
  }

  // --- SketchFilterSimplify (active via GraftExtensions, which the
  // --- session factory loads into the shared test session) ---

  private def filterConditions(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.toString
    }

  test("isNotNull(minhash_signature) filter no longer re-runs the sketch") {
    // parquet-backed (a LocalRelation would be folded away, Filter and
    // all); inline edge-case data covers behavior in the contract test
    val docs = Tables.documents(spark, sfDir)
    val q = docs
      .select($"doc_id",
        TextExpressions.minhash_signature($"text", 8, 3).as("sig"))
      .filter($"sig".isNotNull)
    // plan: the pushed-down filter references only the cheap token
    // predicate, not the sketch
    val conds = filterConditions(q)
    assert(conds.nonEmpty && conds.forall(!_.contains("minhash_signature")),
      conds.mkString("; "))
    // behavior unchanged: same rows as checking nullness in a projection
    val viaProj = docs
      .select($"doc_id",
        TextExpressions.minhash_signature($"text", 8, 3).isNotNull.as("ok"))
      .filter($"ok").count()
    assert(q.count() == viaProj)
  }

  test("explode(word_shingles) inferred guards become token predicates") {
    // project the shingles to a column FIRST, then explode the column —
    // the operator-code shape: InferFiltersFromGenerate only infers on
    // attribute generators, and predicate pushdown then substitutes the
    // alias, recreating the expensive expression inside the filter
    val q = Tables.documents(spark, sfDir)
      .select($"doc_id", TextExpressions.word_shingles($"text", 3).as("sh"))
      .select($"doc_id", explode($"sh").as("s"))
    val conds = filterConditions(q)
    assert(conds.nonEmpty && conds.forall(!_.contains("word_shingles")),
      conds.mkString("; "))
    // spot-check values on inline data (folded, but evaluates the same
    // expression)
    val rows = Seq((1L, "a b c d"), (2L, "a b"))
      .toDF("doc_id", "text")
      .select(explode(TextExpressions.word_shingles($"text", 3)).as("s"))
      .as[String].collect().sorted.toSeq
    assert(rows == Seq("a b c", "b c d"))
  }

  test("explode(tokens) inferred guards go split-free; explode(split(" +
      "regexp_replace)) guards go regex-free") {
    import graft.functions.TextFunctions
    // the bm25/nb/tfidf shape: explode of the whitespace-token array —
    // InferFiltersFromGenerate synthesizes size(...)>0 AND isnotnull(...)
    // which un-rewritten re-runs the full split per SCANNED row
    val toks = Tables.documents(spark, sfDir)
      .select($"doc_id", TextFunctions.tokens($"text").as("tk"))
      .select($"doc_id", explode($"tk").as("t"))
    val tokConds = filterConditions(toks)
    assert(tokConds.nonEmpty && tokConds.forall(!_.contains("split")),
      tokConds.mkString("; "))
    // the paragraph/boilerplate shape: explode of a literal-delimiter
    // split over a regexp_replace'd column
    val paras = Tables.documents(spark, sfDir)
      .select($"doc_id",
        split(regexp_replace($"text", "\\r\\n", "\n"), "\n").as("ps"))
      .select($"doc_id", explode($"ps").as("p"))
    val paraConds = filterConditions(paras)
    assert(paraConds.nonEmpty &&
      paraConds.forall(c => !c.contains("split") &&
        !c.contains("regexp_replace")),
      paraConds.mkString("; "))
  }

  test("tokens/split rewrites: row sets identical with the rule on and " +
      "off, including under NOT") {
    import graft.functions.TextFunctions
    // parquet-backed edge corpus so filters survive to the plan
    val dir = java.nio.file.Files.createTempDirectory("graft_tokedge")
    Seq(null.asInstanceOf[String], "", "   ", "a", "a b", "a  b\tc")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text").write.mode("overwrite")
      .parquet(dir.toString)
    val edge = spark.read.parquet(dir.toString)
    def rows(q: org.apache.spark.sql.DataFrame): Set[Long] =
      q.select($"id").as[Long].collect().toSet
    def shapes: Seq[org.apache.spark.sql.DataFrame] = Seq(
      edge.select($"id", TextFunctions.tokens($"text").as("tk"))
        .select($"id", explode($"tk").as("t")).select($"id").distinct(),
      // top-level size guard (rewritten) and the SAME guard under NOT
      // (deliberately NOT rewritten: null must stay null -> drop)
      edge.filter(size(TextFunctions.tokens($"text")) > 0),
      edge.filter(!(size(TextFunctions.tokens($"text")) > 0)),
      edge.filter(split($"text", ",").isNotNull))
    val on = shapes.map(rows)
    spark.conf.set("spark.graft.tokenFilterSimplify", "false")
    val off = try shapes.map(rows)
      finally spark.conf.unset("spark.graft.tokenFilterSimplify")
    assert(on == off, s"on=$on off=$off")
    // and the rewrites were actually active in the ON plans
    assert(filterConditions(shapes(1)).forall(!_.contains("split")))
  }

  test("token-count guards split with a limit; row sets identical " +
      "with the rewrite on and off") {
    // the >= n guard only needs min(count, n): java split semantics
    // make limit n stop after n-1 separators with trailing empties
    // kept exactly as limit -1, so the comparison is exactly equal
    val q = Tables.documents(spark, sfDir)
      .filter(size(split(trim($"text"), "\\s+")) >= 3)
    val conds = filterConditions(q)
    assert(conds.exists(_.contains("\\s+, 3")), conds.mkString("; "))
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select($"doc_id").as[Long].collect().toSet
    val on = ids(q)
    spark.conf.set("spark.graft.limitSplitGuards", "false")
    val off = try ids(q)
      finally spark.conf.unset("spark.graft.limitSplitGuards")
    assert(on == off && on.nonEmpty)
    // edge strings where limited and unlimited counts could diverge if
    // the semantics were wrong: exactly n, n-1, trailing whitespace,
    // multi-space separators
    val edge = Seq("a b c", "a b", "a b c d", "a  b\tc ", " x y z ",
      "", "   ", null.asInstanceOf[String]).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val dir = java.nio.file.Files.createTempDirectory("graft_limedge")
    edge.toDF("id", "text").write.mode("overwrite").parquet(dir.toString)
    val e = spark.read.parquet(dir.toString)
    val got = e.filter(size(split(trim($"text"), "\\s+")) >= 3)
      .select($"id").as[Long].collect().toSet
    val expect = edge.filter { case (_, t) =>
      t != null && t.trim.nonEmpty && t.trim.split("\\s+").length >= 3
    }.map(_._1).toSet
    assert(got == expect, s"got=$got expect=$expect")
  }

  test("rewritten predicates pin the expressions' null contracts") {
    // implementation == rewrite equality over the contract's edge cases:
    // null, empty, whitespace-only, 1..n tokens, multi-space separators
    val edge = Seq(null.asInstanceOf[String], "", "   ", "a", "a b",
      "a b c", "a  b\tc", "a b c d").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val sig = TextExpressions.minhash_signature($"text", 8, 3)
    val viaFilter = edge.select($"id", sig.as("sig")).filter($"sig".isNotNull)
      .select($"id").as[Long].collect().toSet
    // ground truth WITHOUT the rule: evaluate the sketch and check null-
    // ness in a projection (projections are not rewritten into filters)
    val truth = edge.select($"id", sig.isNotNull.as("ok"))
      .filter($"ok").select($"id").as[Long].collect().toSet
    assert(viaFilter == truth)
    val isNullIds = edge.select($"id", sig.as("sig")).filter($"sig".isNull)
      .select($"id").as[Long].collect().toSet
    assert(isNullIds == (edge.select($"id").as[Long].collect().toSet -- truth))
  }
}
