package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering graft's native expressions as SQL
  * functions; [[graft.Session.local]] loads it into every session:
  *
  * {{{
  *   SELECT doc_id, minhash_signature(text, 32, 3), simhash64(text)
  *   FROM documents
  * }}}
  *
  * (Per-session alternative without extensions:
  * [[TextExpressions.registerAll]].)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, default: Int): Int =
    Option(e).map(_.eval().asInstanceOf[Int]).getOrElse(default)

  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer rule: pushed-down / inferred null-emptiness predicates
    // over the sketch expressions become cheap token-count predicates
    // (see [[SketchFilterSimplify]] for the double-evaluation story)
    ext.injectOptimizerRule(_ => SketchFilterSimplify)
    ext.injectFunction((
      FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_signature"),
      (exprs: Seq[Expression]) => MinHashSig(exprs.head,
        exprs.lift(1).map(_.eval().asInstanceOf[Int]).getOrElse(32),
        exprs.lift(2).map(_.eval().asInstanceOf[Int]).getOrElse(3))))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (exprs: Seq[Expression]) => SimHash64(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (exprs: Seq[Expression]) => WordShingles(exprs.head,
        exprs.lift(1).map(_.eval().asInstanceOf[Int]).getOrElse(3))))
    ext.injectFunction((
      FunctionIdentifier("char_bigrams"),
      new ExpressionInfo(classOf[CharBigrams].getName, "char_bigrams"),
      (exprs: Seq[Expression]) => CharBigrams(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("srp_signature"),
      new ExpressionInfo(classOf[SrpSignature].getName, "srp_signature"),
      (exprs: Seq[Expression]) => SrpSignature(exprs.head,
        exprs.lift(1).map(_.eval().asInstanceOf[Int]).getOrElse(8))))
    ext.injectFunction((
      FunctionIdentifier("id_pairs"),
      new ExpressionInfo(classOf[IdPairs].getName, "id_pairs"),
      (exprs: Seq[Expression]) => IdPairs(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSim(exprs.head, exprs(1))))
    // custom sketch aggregates + post-processing scalars — ONLY what
    // Spark 4 lacks (theta and KLL build/scalar functions are Spark
    // built-ins already in the SQL registry; see SketchAggregates
    // scaladoc). The analyzer wraps a bare AggregateFunction returned
    // from a builder in its AggregateExpression during resolution.
    ext.injectFunction((
      FunctionIdentifier("kll_merge_agg"),
      new ExpressionInfo(classOf[KllMergeAgg].getName, "kll_merge_agg"),
      (exprs: Seq[Expression]) => KllMergeAgg(exprs.head, intArg(exprs.lift(1).orNull, 200))))
    ext.injectFunction((
      FunctionIdentifier("freq_items_agg"),
      new ExpressionInfo(classOf[FreqItemsAgg].getName, "freq_items_agg"),
      (exprs: Seq[Expression]) => FreqItemsAgg(exprs.head, intArg(exprs.lift(1).orNull, 1024))))
    ext.injectFunction((
      FunctionIdentifier("freq_merge_agg"),
      new ExpressionInfo(classOf[FreqMergeAgg].getName, "freq_merge_agg"),
      (exprs: Seq[Expression]) => FreqMergeAgg(exprs.head, intArg(exprs.lift(1).orNull, 1024))))
    ext.injectFunction((
      FunctionIdentifier("freq_top_items"),
      new ExpressionInfo(classOf[FreqTopItems].getName, "freq_top_items"),
      (exprs: Seq[Expression]) => FreqTopItems(exprs.head, intArg(exprs.lift(1).orNull, 10))))
  }
}
