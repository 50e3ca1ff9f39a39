package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between ingestion and training: benchmark decontamination,
  * deterministic sampling, per-source token budgeting, and cheap
  * language-model scoring. All are single-scan or few-shuffle shapes —
  * no all-pairs work, no driver-side corpus loops.
  */
object CorpusOps {

  /** Cheap "has >= n whitespace tokens" pre-filter (same rationale as
    * the dedup family: filter on the cheap predicate BEFORE the shingle
    * projection so Catalyst cannot duplicate the expensive expression
    * into a pushed-down filter). */
  private def hasMinTokens(textCol: Column, n: Int): Column =
    textCol.isNotNull && trim(textCol) =!= "" &&
      size(split(trim(textCol), "\\s+")) >= n

  /** Non-blank text — the SPLIT-FREE candidacy filter for explode
    * consumers of the shingle/bigram expressions: those emit an EMPTY
    * array for docs shorter than their window, so explode drops short
    * docs anyway and the `size(split(...)) >= n` conjunct of
    * [[hasMinTokens]] is redundant row-pruning that costs a full
    * tokenize. It matters with [[Materialize.fanOut]] in play: Catalyst
    * pushes filters below the fan-out exchange, so a split-bearing
    * filter would run the tokenize on the scan's 1-2 tasks — exactly
    * the serialization the fan-out exists to break — while this
    * predicate is a trim against the empty string. */
  private def nonBlank(textCol: Column): Column =
    textCol.isNotNull && trim(textCol) =!= ""

  /** Benchmark decontamination: flag every document sharing at least
    * one word `n`-gram with an evaluation set (the standard guard
    * against test-set leakage into training data; n = 8..13 word
    * n-grams in published pipelines).
    *
    * Returns one row per input document: (`idCol`, `n_contaminated` =
    * number of distinct shared n-grams, `contaminated`).
    *
    * Scale shape: the EVAL side is small by definition (an eval suite,
    * not a corpus), so its distinct n-gram hashes are collected into a
    * broadcast hash relation; the corpus side explodes to (id, gram
    * hash) rows and the broadcast join prunes non-matching grams
    * map-side — the only shuffle proportional to matches, not to the
    * corpus x grams relation. Gram identity is `xxhash64` (64-bit),
    * same collision argument as the dedup family.
    */
  def contaminationFlags(docs: DataFrame, idCol: String, textCol: String,
                         evalSet: DataFrame, evalTextCol: String,
                         n: Int = 8): DataFrame =
    contaminationFlagsShingled(docs, idCol,
      // split-free candidacy: docs under n tokens shingle to an empty
      // set and drop at the explode, so the hits relation is identical
      // to the hasMinTokens form while the pushed-below-fan-out filter
      // costs a trim, not a tokenize
      nonBlank(col(textCol)),
      graft.plans.TextExpressions.word_shingles(col(textCol), n),
      evalSet, evalTextCol, n)

  /** [[contaminationFlags]] with caller-supplied candidacy / shingle
    * expressions for the CORPUS side — the single-tokenization face:
    * curateV2 passes `size(toks) >= n` and
    * `word_shingles_from_tokens(toks, n)` over its shared token array,
    * which produce exactly the public face's candidate set and shingle
    * sets whenever `toks = tokens(text)` (spec-pinned; the eval side is
    * eval-suite-sized and keeps the text path). */
  private[graft] def contaminationFlagsShingled(docs: DataFrame,
      idCol: String, docIsCandidate: Column, docShingles: Column,
      evalSet: DataFrame, evalTextCol: String, n: Int): DataFrame = {
    val evalGrams = evalSet.filter(hasMinTokens(col(evalTextCol), n))
      .select(explode(graft.plans.TextExpressions
        .word_shingles(col(evalTextCol), n)).as("__g"))
      .select(xxhash64(col("__g")).as("__gh")).distinct()
    // word_shingles emits a per-doc SET, so post-join count(1) per id is
    // already the distinct shared-gram count — no countDistinct shuffle
    // deliberately NOT [[Materialize.fanOut]]'d: the r20 interleaved
    // A/B measured q_decontaminate ~30% slower fanned — the shingle
    // pass feeds a broadcast join directly (one consumer, modest CPU),
    // so the fan exchange was pure overhead here
    val hits = docs.filter(docIsCandidate)
      .select(col(idCol), explode(docShingles).as("__g"))
      .select(col(idCol), xxhash64(col("__g")).as("__gh"))
      .join(broadcast(evalGrams), Seq("__gh"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_contaminated"))
    docs.select(col(idCol))
      .join(hits, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_contaminated"), lit(0L)) > 0).as("contaminated"))
  }

  /** Deterministic stratified sample: exactly `k` rows per stratum
    * (fewer when the stratum is smaller), chosen by md5-hash order of
    * the id — a pseudo-random draw that is reproducible across runs and
    * engines (no `rand()`, so retried tasks and differential oracles
    * see the same sample).
    *
    * Scale shape: one shuffle on the stratum key; the rank filter
    * compiles to WindowGroupLimit (Spark 3.5+), which keeps a per-map-
    * partition top-k heap BEFORE the exchange, so shuffle volume is
    * O(partitions x k) per stratum, not the stratum size. */
  /** One-call corpus data card — the summary table a training-data
    * release ships with (size, token volume, language mix, source
    * spread, duplication, length distribution), as one long-format
    * DataFrame of (`metric`, `value`) rows so it lands in a report or
    * a tracking table without reshaping. Metrics: `n_docs`, `n_blank`
    * (null/whitespace-only), `n_tokens`, `n_chars`, `avg_toks`
    * (round 4), `p50_toks` / `p90_toks` (exact interpolated
    * percentiles over non-blank docs, round 4), `n_sources`,
    * `pct_<lang>` for the top language by doc count (round 6, blank
    * docs included in the denominator — the card describes the corpus
    * as it is), and `exact_dup_frac` (1 - distinct texts / non-blank
    * docs, round 6 — the cheapest honest duplication signal; near-dup
    * rates come from the dedup family, not a summary card).
    *
    * The metric SET is schema-stable, never data-dependent: an
    * all-blank corpus reports `exact_dup_frac` 0.0 (not NULL) and
    * `pct_unknown` 0.0 (not a missing row), and a NULL `langCol` in
    * the top group folds into the fixed `pct_unknown` label instead of
    * a NULL metric name.
    *
    * Scale shape: one pass of per-doc projections feeding one global
    * aggregate (count/sum/avg/percentile partial-agg), one distinct
    * count over text hashes (the one extra shuffle, keyed wide), one
    * tiny groupBy over `langCol`. No collects; the card itself is a
    * dozen rows. */
  def corpusReport(docs: DataFrame, idCol: String, textCol: String,
                   langCol: String, sourceCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val blank = col(textCol).isNull || trim(col(textCol)) === ""
    val base = docs.select(col(idCol), col(textCol), col(langCol),
      col(sourceCol),
      when(blank, lit(0L)).otherwise(size(tokens(col(textCol))).cast("long"))
        .as("__nt"),
      when(blank, lit(0L)).otherwise(length(col(textCol)).cast("long"))
        .as("__nc"),
      blank.as("__blank"))
    val agg = base.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("__blank"), 1L).otherwise(0L)).as("n_blank"),
      sum(col("__nt")).as("n_tokens"),
      sum(col("__nc")).as("n_chars"),
      round(avg(when(!col("__blank"), col("__nt"))), 4).as("avg_toks"),
      round(expr("percentile(CASE WHEN NOT __blank THEN __nt END, 0.5)"), 4)
        .as("p50_toks"),
      round(expr("percentile(CASE WHEN NOT __blank THEN __nt END, 0.9)"), 4)
        .as("p90_toks"),
      countDistinct(col(sourceCol)).as("n_sources"))
    // stable-schema guards: with ZERO non-blank docs the dup fraction's
    // 0/0 division is coalesced to 0.0 (no duplicates in an empty
    // corpus), a NULL langCol folds into the fixed 'unknown' label, and
    // a zero-count sentinel row keeps exactly one pct_* row alive even
    // over an all-blank corpus — the card's metric set is never
    // data-dependent
    val dups = base.filter(!col("__blank"))
      .agg((lit(1.0d) - try_divide(
        countDistinct(col(textCol)).cast("double"),
        count(lit(1)).cast("double"))).as("__f"))
      .select(coalesce(round(col("__f"), 6), lit(0.0d))
        .as("exact_dup_frac"))
    val langCounts = base.filter(!col("__blank"))
      .groupBy(coalesce(col(langCol), lit("unknown")).as("__lang"))
      .agg(count(lit(1)).as("__n"))
    val sentinel = spark.range(1)
      .select(lit("unknown").as("__lang"), lit(0L).as("__n"))
    val topLang = langCounts.unionByName(sentinel)
      .orderBy(col("__n").desc, col("__lang"))
      .limit(1)
      .crossJoin(broadcast(base.agg(count(lit(1)).as("__all"))))
      .select(concat(lit("pct_"), col("__lang")).as("metric"),
        coalesce(round(try_divide(col("__n").cast("double"),
          col("__all").cast("double")), 6), lit(0.0d)).as("value"))
    val longForm = agg.selectExpr("stack(8, " +
      "'n_docs', CAST(n_docs AS DOUBLE), " +
      "'n_blank', CAST(n_blank AS DOUBLE), " +
      "'n_tokens', CAST(n_tokens AS DOUBLE), " +
      "'n_chars', CAST(n_chars AS DOUBLE), " +
      "'avg_toks', avg_toks, " +
      "'p50_toks', p50_toks, " +
      "'p90_toks', p90_toks, " +
      "'n_sources', CAST(n_sources AS DOUBLE)) AS (metric, value)")
    longForm
      .unionByName(dups.select(lit("exact_dup_frac").as("metric"),
        col("exact_dup_frac").as("value")))
      .unionByName(topLang)
  }

  /** Percentile-rank normalization of a score WITHIN each group — the
    * step that makes quality scores comparable ACROSS domains before a
    * global cut (a raw quality threshold keeps 90% of one domain and
    * 4% of another because the score distributions differ; ranking
    * within the domain first makes "top 30% of each domain" a
    * one-predicate filter). Emits `pct_rank` in [0, 1] =
    * `percent_rank()` over (`groupCol` ordered by score, ties broken
    * by `idCol` so the rank is deterministic and engine-portable —
    * tied scores get distinct ranks by id, the documented trade for
    * determinism). NULL scores rank lowest (nulls-first ordering),
    * never NULL out.
    *
    * Scale shape: one window = one hash shuffle on the group + a
    * per-group sort; rank math is codegen'd. A group is one
    * partition's sort — quality-score groups are domains (hundreds,
    * not millions of rows each? no: rows per domain can be huge, but
    * sort spills; for truly enormous single domains pre-bucket by
    * (group, score range) as with the prefix-sum family). */
  def percentileNormalize(df: DataFrame, groupCol: String, idCol: String,
                          scoreCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).asc_nulls_first, col(idCol))
    df.withColumn("pct_rank",
      (round(percent_rank().over(w), 6) + lit(0.0d)).as("pct_rank"))
  }

  def stratifiedSampleK(df: DataFrame, strataCol: String, idCol: String,
                        k: Int): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Deterministic weighted sample WITHOUT replacement: `k` rows per
    * group with inclusion probability proportional to `weightCol` —
    * the source-mixing primitive when documents are not equal (sample
    * by quality score, length, dedup-cluster mass ...). Implements the
    * Efraimidis–Spirakis A-ES key (IPL 2006): each row draws key
    * u^(1/w) — ranked here by the monotone-equivalent ln(u)/w — and
    * the k largest keys per group are exactly a weighted draw without
    * replacement. u is a deterministic md5-derived uniform, same
    * no-`rand()` rationale as [[stratifiedSampleK]]: retried tasks,
    * reruns and differential oracles all see the same draw.
    *
    * Rows with NULL or non-positive weight carry zero inclusion
    * probability and are excluded (A-ES is undefined there).
    *
    * Scale shape: identical to [[stratifiedSampleK]] — one shuffle on
    * the group key and the rank filter compiles to WindowGroupLimit
    * (Spark 3.5+), a pre-shuffle per-map-partition top-k heap, so
    * shuffle volume is O(partitions x k) per group, not group size.
    *
    * Documented float hazard (the house register): the ORDERING — not
    * the emitted values — is a float surface. ln(u)/w is evaluated by
    * two libm implementations (JVM `Math.log` vs the oracle's C
    * `log`), and a 1-ulp divergence on near-tied keys exactly at the
    * rank-k boundary could select different rows per engine. It cannot
    * be engineered away (w varies per row, so the key cannot be made
    * integral); it is vanishingly rare (needs two keys within 1 ulp
    * AND straddling rank k) and has never been observed at any gated
    * SF, but it is nonzero — same class as the round()-at-.xx5 note. */
  def weightedSampleK(df: DataFrame, groupCol: String, idCol: String,
                      weightCol: String, k: Int): DataFrame = {
    require(k > 0, s"sample size must be positive: $k")
    // u in (0,1): the 32 high bits of md5(id) scaled by 2^-32, nudged
    // off 0 so ln(u) stays finite (+0.5 keeps the value strictly
    // inside the open interval; both engines parse the same 8 hex
    // chars, so the draw is engine-portable)
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("double") + lit(0.5d)) / lit(4294967296.0d)
    val key = log(u) / col(weightCol).cast("double")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(key.desc, col(idCol))
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .withColumnRenamed("__rank", "rank")
  }

  /** Token-budget selection — the data-mixing primitive: per `groupCol`
    * (source, language, domain ...), keep documents in `priority` order
    * until the group's cumulative whitespace-token count exceeds
    * `budgetTokens`, so each group contributes at most its quota to the
    * training mix. Pass quality-score descending as `priority` to spend
    * the budget on the best documents.
    *
    * Returns the selected rows plus `n_toks` / `cum_toks` accounting
    * columns.
    *
    * Scale shape: one shuffle on the group key; the running sum is a
    * sequential frame INSIDE each group partition. A single pathological
    * group serializes onto one task (WindowExec semantics) — acceptable
    * because groups are curation units (sources/languages), bounded in
    * count and roughly balanced. `maxGroupRows` is the loud-failure
    * guard for that assumption: when any group exceeds it the query
    * FAILS with the offending group named instead of silently
    * serializing a giant group onto one task (set `<= 0` to disable;
    * the check is a whole-partition count over the same group
    * partitioning — it rides the already-paid window shuffle, zero
    * extra jobs). For a genuinely skewed key space use
    * [[tokenBudgetSelectBucketed]], which parallelizes the running sum
    * inside each group. */
  def tokenBudgetSelect(df: DataFrame, groupCol: String, idCol: String,
                        textCol: String, budgetTokens: Long,
                        priority: Seq[Column] = Seq.empty,
                        maxGroupRows: Long = 50L * 1000 * 1000): DataFrame =
    budgetPrefixSelect(df, groupCol, idCol,
      size(tokens(col(textCol))).cast("long"), lit(budgetTokens),
      priority, maxGroupRows)

  /** Shared prefix-sum budget core: keep each group's id/priority-
    * ordered prefix while the running token sum stays within
    * `budgetCol` (a per-row column, so callers can vary the budget by
    * group). `nToks` is the per-row token count expression — the text
    * faces pass `size(tokens(text))`; curateV2 passes the size of its
    * shared token array so the corpus is not re-split here. Scale
    * shape and in-pass guard as documented on [[tokenBudgetSelect]]. */
  private def budgetPrefixSelect(df: DataFrame, groupCol: String,
                                 idCol: String, nToks: Column,
                                 budgetCol: Column, priority: Seq[Column],
                                 maxGroupRows: Long): DataFrame = {
    val ord = if (priority.nonEmpty) priority :+ col(idCol)
              else Seq(col(idCol))
    val w = Window.partitionBy(col(groupCol)).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sum(col("n_toks")).over(w)
    // in-pass guard: a whole-partition count over the same
    // (partition, order) spec — shares the running sum's own
    // WindowExec pass (zero extra jobs, zero extra window passes).
    // Unbounded-BOTH frame is load-bearing here: this operator KEEPS
    // the budget prefix (early rows), so a running count at surviving
    // rows would never exceed the cap — the total is what every kept
    // row must see.
    val guarded =
      if (maxGroupRows <= 0) cum
      else {
        val total = count(lit(1)).over(w.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing))
        when(total > maxGroupRows, raise_error(concat(
          lit("tokenBudgetSelect: group '"), col(groupCol).cast("string"),
          lit("' has "), total.cast("string"),
          lit(s" rows (> maxGroupRows=$maxGroupRows); its running sum " +
            "would serialize onto ONE task — use " +
            "tokenBudgetSelectBucketed, or raise/disable maxGroupRows"))))
          .otherwise(cum)
      }
    df.withColumn("n_toks", nToks)
      .withColumn("cum_toks", guarded)
      .filter(col("cum_toks") <= budgetCol)
  }

  /** Domain-mixture selection — materialize a training mix from a
    * mixture spec (the public LLM-recipe shape: "X% web, Y% code, Z%
    * wiki ..."): each group in `weights` receives a token budget
    * proportional to its weight out of `totalBudgetTokens`, and
    * contributes its id/priority-ordered document prefix up to that
    * budget. Groups absent from the spec contribute nothing. Returns
    * the selected rows plus `n_toks` / `cum_toks` / `budget_toks`
    * accounting columns.
    *
    * Per-group budgets are derived ON THE DRIVER as
    * floor(total * w / sum(w)) — weights need not be normalized.
    * Dyadic weights (1, 0.5, 0.25 ...) divide exactly; non-dyadic
    * weights are subject to one token of IEEE floor jitter, which is
    * part of the operator's deterministic contract (the derivation is
    * a fixed double expression, identical on every driver).
    *
    * Scale shape: the budget map is `|weights|` rows riding a
    * broadcast; everything else is [[tokenBudgetSelect]]'s one-shuffle
    * prefix sum with the same in-pass `maxGroupRows` guard. */
  def mixtureSelect(df: DataFrame, groupCol: String, idCol: String,
                    textCol: String, weights: Map[String, Double],
                    totalBudgetTokens: Long,
                    priority: Seq[Column] = Seq.empty,
                    maxGroupRows: Long = 50L * 1000 * 1000): DataFrame = {
    require(weights.nonEmpty, "mixtureSelect: empty mixture spec")
    require(weights.values.forall(w =>
      !w.isNaN && !w.isInfinite && w >= 0),
      s"mixtureSelect: weights must be finite and >= 0: $weights")
    require(totalBudgetTokens >= 0,
      s"mixtureSelect: negative budget: $totalBudgetTokens")
    val wsum = weights.values.sum
    require(wsum > 0, s"mixtureSelect: weights sum to zero: $weights")
    val spark = df.sparkSession
    import spark.implicits._
    val budgets = weights.toSeq.sortBy(_._1).map { case (g, w) =>
      (g, math.floor(totalBudgetTokens.toDouble * (w / wsum)).toLong)
    }.toDF(groupCol, "budget_toks")
    budgetPrefixSelect(df.join(broadcast(budgets), Seq(groupCol)),
      groupCol, idCol, size(tokens(col(textCol))).cast("long"),
      col("budget_toks"), priority, maxGroupRows)
  }

  /** Leakage-safe train/val/test split: assign every document to a
    * split by the deterministic hash of its near-duplicate CLUSTER, so
    * two near-duplicates can never land on opposite sides of the split
    * (the train/test-contamination failure mode plain row-hash splits
    * have — published dedup audits find eval twins of training docs
    * precisely because splits ignored duplicate structure).
    *
    * `pairs` is any near-duplicate pair relation (`idACol`, `idBCol`)
    * — exact n-gram Jaccard, MinHash, SimHash or embedding pairs all
    * fit. Pairs run through [[Dedup.clusterPairs]] (iterative min-label
    * connected components); documents with no pair are their own
    * singleton cluster. The cluster's min-id is md5-hashed to a uniform
    * in (0,1) (the house engine-portable draw: both engines parse the
    * same 8 hex chars) and mapped onto cumulative `splits` weight
    * intervals in declaration order; the LAST split takes the open
    * remainder, so weight normalization drift can never drop a row.
    * Returns one row per document: (`idCol`, `cluster_id`, `split`).
    *
    * Scale shape: [[Dedup.clusterPairs]]'s label propagation runs over
    * the EDGE LIST (tiny next to the corpus — near-dup edges are rare
    * by definition); the corpus itself sees one left join against the
    * label relation plus a per-row hash — no extra shuffle beyond the
    * join. Split assignment is pure column math, codegen'd.
    *
    * Documented float hazard (house register): u-vs-boundary is a
    * double comparison, but both engines derive u from the same md5
    * hex parse and the boundaries by the same IEEE cumulative sums, so
    * the surface is only a u within 1 ulp of a boundary — never
    * observed; same class as [[weightedSampleK]]'s ordering note. */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
                       splits: Seq[(String, Double)],
                       idACol: String = "id_a", idBCol: String = "id_b",
                       maxIter: Int = 10): DataFrame = {
    require(splits.nonEmpty, "leakageSafeSplit: empty split spec")
    require(splits.forall { case (_, w) =>
      !w.isNaN && !w.isInfinite && w > 0 },
      s"leakageSafeSplit: weights must be finite and > 0: $splits")
    require(splits.map(_._1).distinct.size == splits.size,
      s"leakageSafeSplit: duplicate split names: $splits")
    val clusters = Dedup.clusterPairs(pairs, idACol, idBCol, maxIter)
      .withColumnRenamed("id", "__cid")
    val labeled = df.select(col(idCol))
      .join(clusters, col(idCol) === col("__cid"), "left_outer")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
    val u = (conv(substring(md5(col("cluster_id").cast("string")), 1, 8),
      16, 10).cast("double") + lit(0.5d)) / lit(4294967296.0d)
    val total = splits.map(_._2).sum
    // cumulative UPPER boundaries in declaration order (left-fold, so
    // an oracle can reproduce them with the same literal additions)
    val cums = splits.map(_._2).scanLeft(0.0d)(_ + _).tail.map(_ / total)
    val splitCol =
      if (splits.size == 1) lit(splits.head._1)
      else {
        val nonLast = splits.init.map(_._1).zip(cums.init)
        val first = when(u < lit(nonLast.head._2), lit(nonLast.head._1))
        nonLast.tail.foldLeft(first) { case (acc, (name, cum)) =>
          acc.when(u < lit(cum), lit(name))
        }.otherwise(lit(splits.last._1))
      }
    labeled.select(col(idCol), col("cluster_id"), splitCol.as("split"))
  }

  /** [[tokenBudgetSelect]] for SKEWED group keys: same semantics (id
    * order, no priority columns), but the per-group running sum is
    * computed as a distributed two-phase prefix sum, so a group's work
    * spreads over up to `buckets` tasks instead of serializing onto
    * one.
    *
    * Phase shape: range-repartition on `(group, id)` splits every
    * group into contiguous id-ordered slices (`spark_partition_id` is
    * the slice label; the relation is materialized once so all
    * branches see the same slicing — [[Materialize]]); per-slice token
    * totals (a `groups x buckets`-row aggregate) get a tiny window
    * pass to become slice OFFSETS; the offsets broadcast-join back and
    * each slice computes its own running sum in parallel, shifted by
    * its offset. Equality with the single-window form is pinned in
    * CorpusOpsSpec on a deliberately skewed group.
    *
    * Priority ordering is intentionally not offered here: range
    * bucketing must follow the SAME order as the running sum, and only
    * the id is guaranteed unique/orderable; a priority-ordered budget
    * over a skewed group should pre-compute a sortable rank id. */
  def tokenBudgetSelectBucketed(df: DataFrame, groupCol: String,
                                idCol: String, textCol: String,
                                budgetTokens: Long,
                                buckets: Int = 64): DataFrame = {
    val sliced = Materialize(
      df.withColumn("n_toks", size(tokens(col(textCol))).cast("long"))
        .repartitionByRange(buckets, col(groupCol), col(idCol))
        .withColumn("__slice", spark_partition_id()),
      eager = false)
    val wOff = Window.partitionBy(col(groupCol)).orderBy(col("__slice"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // groups x buckets rows — tiny; the window over it is trivial
    val offsets = sliced.groupBy(col(groupCol), col("__slice"))
      .agg(sum(col("n_toks")).as("__stoks"))
      .withColumn("__off", coalesce(sum(col("__stoks")).over(wOff), lit(0L)))
      .select(col(groupCol), col("__slice"), col("__off"))
    val wIn = Window.partitionBy(col(groupCol), col("__slice"))
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sliced.join(broadcast(offsets), Seq(groupCol, "__slice"))
      .withColumn("cum_toks", col("__off") + sum(col("n_toks")).over(wIn))
      .filter(col("cum_toks") <= budgetTokens)
      .drop("__slice", "__off")
  }

  /** Deterministic epoch shuffle — the reproducible global reorder a
    * training pipeline needs between epochs: every row gets a shard
    * and a position within it, both pure functions of (`epoch`,
    * `idCol`), so any run, any engine, and any retry derive the
    * identical order (no `rand()`, no partitioning sensitivity —
    * md5 over the epoch-salted id, the house portable draw). Different
    * epochs produce unrelated orders (the salt changes every hash).
    * Returns (`idCol`, `shard`, `pos`) with `pos` 1-based within the
    * shard.
    *
    * Scale shape: one hash shuffle on `shard` + a per-shard sort (the
    * window compiles to a single Exchange + Sort). Position is defined
    * WITHIN shards precisely so no global total order — and no
    * single-partition window — is ever computed; a writer lays out
    * shard files independently in parallel. Pick `numShards` ≈ the
    * write parallelism you want (a power of two keeps re-bucketing
    * cheap downstream). */
  def epochShuffle(df: DataFrame, idCol: String, epoch: Int,
                   numShards: Int): DataFrame = {
    require(numShards > 0, s"numShards must be positive: $numShards")
    val key = md5(concat(lit(s"$epoch:"), col(idCol).cast("string")))
    val shard = (conv(substring(key, 1, 8), 16, 10).cast("long")
      % numShards).as("shard")
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__k"), col(idCol))
    df.select(col(idCol), shard, key.as("__k"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__k")
  }

  /** Data-constrained mixture plan (Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models"): given target mixture `weights`
    * and a total token budget, how many tokens to DRAW per domain when
    * domains can repeat data at most `maxRepeats` epochs (the paper's
    * empirical result: up to ~4 epochs of repetition is nearly as good
    * as fresh data; beyond that, returns decay fast). Each domain's
    * desired share `floor(budget * w / Σw)` is capped at
    * `floor(available_toks * maxRepeats)`; the plan reports the cap
    * honestly instead of silently rebalancing (re-weighting spare
    * budget is a POLICY choice — run the plan, inspect, re-weight,
    * re-plan). Returns one row per weighted domain: (`groupCol`,
    * `available_toks`, `desired_toks`, `planned_toks`, `epochs`
    * rounded to 4, `capped`). Domains present in `weights` but absent
    * from the corpus plan 0 available / epochs NULL — visible, not
    * dropped.
    *
    * Scale shape: one partial-agg count per domain (map-side combined)
    * joined to a broadcast weight table; everything after is per-group
    * arithmetic on a relation the size of the mixture spec. */
  def mixturePlan(df: DataFrame, groupCol: String, textCol: String,
                  weights: Map[String, Double], totalBudgetTokens: Long,
                  maxRepeats: Double = 4.0): DataFrame = {
    require(weights.nonEmpty, "mixturePlan: empty mixture spec")
    require(weights.values.forall(w => !w.isNaN && !w.isInfinite && w >= 0),
      s"mixturePlan: weights must be finite and >= 0: $weights")
    require(totalBudgetTokens >= 0,
      s"mixturePlan: negative budget: $totalBudgetTokens")
    require(maxRepeats > 0 && !maxRepeats.isInfinite,
      s"mixturePlan: maxRepeats must be positive and finite: $maxRepeats")
    val wsum = weights.values.sum
    require(wsum > 0, s"mixturePlan: weights sum to zero: $weights")
    val spark = df.sparkSession
    import spark.implicits._
    val wdf = weights.toSeq.sortBy(_._1).map { case (g, w) =>
      (g, math.floor(totalBudgetTokens.toDouble * (w / wsum)).toLong)
    }.toDF(groupCol, "desired_toks")
    val avail = df.groupBy(col(groupCol))
      .agg(sum(size(tokens(col(textCol))).cast("long"))
        .as("available_toks"))
    wdf.join(avail, Seq(groupCol), "left_outer")
      .select(col(groupCol),
        coalesce(col("available_toks"), lit(0L)).as("available_toks"),
        col("desired_toks"))
      .withColumn("planned_toks",
        least(col("desired_toks"),
          floor(col("available_toks").cast("double") * maxRepeats)
            .cast("long")))
      .withColumn("epochs",
        when(col("available_toks") > 0,
          round(col("planned_toks").cast("double")
            / col("available_toks").cast("double"), 4) + lit(0.0d)))
      .withColumn("capped", col("planned_toks") < col("desired_toks"))
  }

  /** Fixed-window document chunking — the step between curation and
    * training that cuts each document into `maxTokens`-token windows
    * advancing by `stride` tokens (overlap = `maxTokens - stride`), so
    * long documents become multiple training sequences and context
    * straddling a cut survives in the overlap.
    *
    * Returns one row per chunk: (`idCol`, `chunk_id` 0-based,
    * `chunk_text`, `n_chunk_tokens`). Documents with `<= maxTokens`
    * tokens yield exactly one chunk; the last window is short rather
    * than padded (packing/padding is the trainer's concern).
    * Null/whitespace-only documents are excluded.
    *
    * Scale shape: per-row array expressions feeding one `posexplode` —
    * zero shuffle, output rows ≈ input tokens / stride. The token
    * array is BOUND to a column before the window lambda references it
    * — an inline `split` subexpression would be re-evaluated once per
    * window by Catalyst's lambda inlining (the nested-lambda pitfall
    * README documents for MinHash), turning O(tokens) per document
    * into O(windows × tokens). Chunk count is `floor((n - maxTokens +
    * stride - 1) / stride) + 1` — both operands are exactly
    * representable doubles and IEEE division rounds correctly, so the
    * floor is exact for any document below 2^52 tokens. */
  def chunkDocs(docs: DataFrame, idCol: String, textCol: String,
                maxTokens: Int, stride: Int): DataFrame = {
    require(maxTokens > 0 && stride > 0 && stride <= maxTokens,
      s"chunkDocs: need 0 < stride <= maxTokens, got stride=$stride " +
        s"maxTokens=$maxTokens")
    val toks = col("__toks")
    val n = size(toks)
    val nChunks = when(n <= maxTokens, lit(1L)).otherwise(
      floor((n - maxTokens + stride - 1).cast("double") / stride)
        .cast("long") + 1L)
    docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0L), nChunks - 1L),
          i => slice(toks, (i * stride).cast("int") + 1, lit(maxTokens))))
          .as(Seq("chunk_id", "__ctoks")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        array_join(col("__ctoks"), " ").as("chunk_text"),
        size(col("__ctoks")).cast("long").as("n_chunk_tokens"))
  }

  /** Concatenated-packing offset map — the GPT-style pretraining
    * layout ([[packSequences]] is the BIN-packed alternative that never
    * splits a document; this is the split-everywhere recipe): all docs
    * are conceptually concatenated in `idCol` order with ONE separator
    * token after each, and the stream is cut into `seqLen`-token
    * sequences. Emits, per non-blank document: `n_toks`, `global_off`
    * (0-based token offset where the doc starts in the stream),
    * `start_seq`/`end_seq` (which sequences hold any of its tokens),
    * and `off_in_seq` (position within the first). A writer groups by
    * sequence range to materialize shards; the map is the hard
    * distributed part — the rest is slicing.
    *
    * Scale shape: a GLOBAL prefix sum in id order, computed two-phase
    * exactly like [[tokenBudgetSelectBucketed]]: range-repartition by
    * id into `buckets` contiguous slices, per-slice token totals (≤
    * `buckets` rows — the only unpartitioned window runs over THAT
    * relation, never the corpus), broadcast the slice offsets back,
    * and each slice computes its own exclusive running sum in
    * parallel. All-integer arithmetic, so the two-phase result is
    * bit-equal to the sequential definition (spec-pinned). */
  def packOffsets(docs: DataFrame, idCol: String, textCol: String,
                  seqLen: Int, buckets: Int = 64): DataFrame = {
    require(seqLen > 0, s"packOffsets: seqLen must be positive: $seqLen")
    require(buckets > 0, s"packOffsets: buckets must be positive: $buckets")
    val sliced = Materialize(
      docs.filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
        .withColumn("n_toks", size(tokens(col(textCol))).cast("long"))
        .repartitionByRange(buckets, col(idCol))
        .withColumn("__slice", spark_partition_id()),
      eager = false)
    val wOff = Window.orderBy(col("__slice"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sliced.groupBy(col("__slice"))
      .agg(sum(col("n_toks") + lit(1L)).as("__stoks"))
      .withColumn("__off", coalesce(sum(col("__stoks")).over(wOff), lit(0L)))
      .select(col("__slice"), col("__off"))
    val wIn = Window.partitionBy(col("__slice")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    // integer division via cast: offsets are non-negative and exact as
    // doubles below 2^52, so the truncation IS the floor
    val len = lit(seqLen.toLong)
    sliced.join(broadcast(offsets), Seq("__slice"))
      .withColumn("global_off", col("__off") +
        coalesce(sum(col("n_toks") + lit(1L)).over(wIn), lit(0L)))
      .select(col(idCol), col("n_toks"), col("global_off"),
        (col("global_off") / len).cast("long").as("start_seq"),
        ((col("global_off") + col("n_toks") - 1) / len).cast("long")
          .as("end_seq"),
        (col("global_off") % len).as("off_in_seq"))
  }

  /** Distributed sequence packing — assign token-counted items (chunks,
    * documents) to fixed-capacity training sequences ("packs") of
    * `seqLen` tokens, wasting as little capacity as padding would.
    * Returns the input plus a `pack_id` column; all members of a pack
    * sum to <= `seqLen` tokens (an item LARGER than `seqLen` gets a
    * pack of its own — upstream chunking should prevent that).
    *
    * Bin packing is inherently sequential, so this is the repo's one
    * deliberate `mapPartitions` operator (the documented last resort):
    * items hash-partition by id, each partition runs best-fit-
    * decreasing independently (sorted by tokens desc in-partition, a
    * TreeMap of bins keyed by remaining capacity -> O(n log n), the
    * classic 11/9·OPT+1 guarantee per partition), and pack ids
    * namespace by partition so no coordination is needed. Determinism:
    * hash partitioning and the (tokens desc, id) sort are both
    * deterministic, so reruns produce identical packs.
    *
    * Scale shape: one exchange + local sort; packer state is one long
    * per open bin. Partition count bounds packer memory AND the
    * per-partition waste (the +1 bin tail), so at 100 TB size
    * `partitions` to ~100k-1M items each — big enough that waste is
    * noise, small enough that a partition's (id, tok) pairs fit in a
    * task comfortably. */
  def packSequences(items: DataFrame, idCol: String, tokCol: String,
                    seqLen: Long, partitions: Int = 32): DataFrame = {
    require(seqLen > 0, s"packSequences: seqLen must be positive, got $seqLen")
    // fail at PLAN time on the common misuse (string ids, double token
    // counts): a silent cast("long") would null such values row-by-row
    // and die mid-job in the tuple encoder — or quietly drop items
    Seq(idCol, tokCol).foreach { c =>
      val dt = items.schema(c).dataType
      require(Seq(org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.ByteType).contains(dt),
        s"packSequences: column '$c' must be integral, got $dt " +
          "(derive a unique long id / exact token count first)")
    }
    val spark = items.sparkSession
    import spark.implicits._
    val prepared = items
      .select(col(idCol).cast("long").as("_1"),
        col(tokCol).cast("long").as("_2"))
      .repartition(partitions, col("_1"))
      .sortWithinPartitions(col("_2").desc, col("_1"))
      .as[(Long, Long)]
    prepared.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId().toLong
      packPartition(it, seqLen, pid << 40)
    }.toDF(idCol, tokCol, "pack_id")
  }

  /** Best-fit packer for ONE partition's (id, tokens) stream, which must
    * arrive sorted by tokens DESCENDING (best-fit-DECREASING needs the
    * order; [[packSequences]] guarantees it via the in-partition sort).
    * Pure and single-threaded — extracted so the bin-packing invariants
    * are property-testable without an engine (PropertySpec). Emits
    * (id, tokens, packBase | binIndex). */
  private[graft] def packPartition(sorted: Iterator[(Long, Long)],
                                   seqLen: Long,
                                   packBase: Long): Iterator[(Long, Long, Long)] = {
    // remaining capacity -> bin ids with exactly that much room;
    // ceilingEntry(tok) = the TIGHTEST bin that still fits (best fit)
    val byRemaining =
      new java.util.TreeMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
    var nextBin = 0L
    def newBin(): Long = { val b = nextBin; nextBin += 1; b }
    def stash(rem: Long, bin: Long): Unit =
      if (rem > 0) {
        byRemaining.computeIfAbsent(rem, _ =>
          scala.collection.mutable.ArrayBuffer.empty[Long]) += bin
        ()
      }
    sorted.map { case (id, tok) =>
      val bin =
        if (tok >= seqLen) newBin() // full (or oversize): never reopened
        else {
          val slot = byRemaining.ceilingEntry(tok)
          if (slot == null) { val b = newBin(); stash(seqLen - tok, b); b }
          else {
            val bins = slot.getValue
            val b = bins.remove(bins.length - 1)
            if (bins.isEmpty) byRemaining.remove(slot.getKey)
            stash(slot.getKey - tok, b)
            b
          }
        }
      (id, tok, packBase | bin)
    }
  }

  /** Within-document duplicate-line removal — the in-document half of
    * the C4 line-level recipe (the cross-document half is
    * [[removeBoilerplateLines]]): keep each non-blank line's FIRST
    * occurrence, drop its repeats, rebuild the document in order.
    * Blank lines always survive (they carry layout, not content).
    * Returns (`idCol`, `clean_text`, `n_lines`, `n_removed`);
    * null-text documents are excluded.
    *
    * Scale shape: lines explode to a narrow (id, pos, line) relation;
    * first-occurrence ranking is a window over (id, line) ordered by
    * position — `WindowGroupLimit` caps the per-key carry before the
    * exchange — and the rebuild is one aggregation on the id. Not a
    * per-row `array_position` fold on purpose: that form is O(lines²)
    * per document, the exact quadratic-on-long-docs trap
    * [[TextAnalysis.repetitionStats]] documents. */
  def dedupLinesWithinDoc(docs: DataFrame, idCol: String, textCol: String,
                          delim: String = "\n"): DataFrame = {
    val lines = docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
          .as(Seq("__pos", "__line")))
    val w = Window.partitionBy(col(idCol), col("__line"))
      .orderBy(col("__pos"))
    lines
      .withColumn("__rn", row_number().over(w))
      .withColumn("__keep", col("__rn") === 1 || trim(col("__line")) === "")
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("__pos"), col("__line"))))),
          s => s.getField("__line")), delim).as("clean_text"),
        count(lit(1)).as("n_lines"),
        sum(when(!col("__keep"), 1L).otherwise(0L)).as("n_removed"))
      .select(col(idCol), col("clean_text"), col("n_lines"), col("n_removed"))
  }

  /** Corpus-frequency boilerplate line removal (the C4-recipe cousin:
    * drop every line that occurs verbatim in at least `minDocs` distinct
    * documents — navigation chrome, cookie banners, license footers —
    * and rebuild each document from its surviving lines in order).
    *
    * Returns one row per input document (null-text documents excluded):
    * (`idCol`, `clean_text`, `n_lines`, `n_removed`). Documents whose
    * every line was boilerplate come back with an empty `clean_text`
    * (curation pipelines typically drop those next with a length
    * filter). Blank lines are never counted as boilerplate (they carry
    * layout, not content) and survive in place.
    *
    * Scale shape: lines explode to a narrow (id, pos, line-hash)
    * relation; the document-frequency aggregation shuffles on the
    * 64-bit line hash; the boilerplate set (df >= minDocs) is tiny by
    * construction — repeated-content lines — so the membership join
    * broadcasts under AQE; the rebuild is one shuffle on the doc id.
    * The exploded relation feeds two branches (df-count and rebuild)
    * and is deliberately NOT materialized: it is a cheap projection of
    * the scan, so recomputing costs less than storing corpus x lines
    * blocks (same call as [[unigramLogProb]], opposite of the dedup
    * family's expensive-window subtrees). */
  def removeBoilerplateLines(docs: DataFrame, idCol: String, textCol: String,
                             minDocs: Int, delim: String = "\n"): DataFrame = {
    // NOT fanned out (cf. [[Materialize.fanOut]] sites): the literal-
    // delimiter line split is cheap per row, and the measured r20 A/B
    // showed the extra exchange costing more than the parallelism won
    val lines = docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
          .as(Seq("__pos", "__line")))
    // df is counted per (hash, line) — i.e. per line STRING, the hash
    // only partitions the shuffle — and membership joins on BOTH, so a
    // 64-bit hash collision can never flag a unique line as boilerplate
    // (exactly the oracle's line-equality semantics). Cost of carrying
    // the text through the df-count shuffle: one short line string per
    // distinct (doc, line), a constant factor on an already-narrow
    // relation; the boiler set itself (df >= minDocs) stays tiny.
    val boiler = lines
      .filter(trim(col("__line")) =!= "")
      .select(col(idCol), xxhash64(col("__line")).as("__lh"), col("__line"))
      .distinct()
      .groupBy(col("__lh"), col("__line"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__lh"), col("__line").as("__bline"), lit(1).as("__bp"))
    lines
      .join(boiler, xxhash64(col("__line")) === col("__lh") &&
        col("__line") === col("__bline"), "left_outer")
      .groupBy(col(idCol))
      .agg(
        // when(__bp null) -> null structs, which collect_list skips:
        // only surviving lines enter the rebuild array
        array_join(transform(
          array_sort(collect_list(when(col("__bp").isNull,
            struct(col("__pos"), col("__line"))))),
          s => s.getField("__line")), delim).as("clean_text"),
        count(lit(1)).as("n_lines"),
        sum(when(col("__bp").isNotNull, 1L).otherwise(0L)).as("n_removed"))
      .select(col(idCol), col("clean_text"), col("n_lines"), col("n_removed"))
  }

  /** Corpus-wide keep-FIRST paragraph dedup (the RefinedWeb recipe's
    * line/paragraph pass — distinct from [[removeBoilerplateLines]],
    * which drops EVERY occurrence of a frequent line): each distinct
    * non-blank paragraph survives exactly once, at its first occurrence
    * in (`idCol`, position) order, and later occurrences are cut; docs
    * rebuild from surviving paragraphs in original order. Blank
    * paragraphs are document structure, not dedup targets — they
    * always survive. Returns (`idCol`, `clean_text`, `n_paras`,
    * `n_removed`).
    *
    * "First" is the lexicographic minimum of (doc, pos) — a total
    * order, so the survivor is deterministic under any partitioning
    * (contrast a streaming frontier, where first-ARRIVAL wins).
    *
    * Scale shape: the first-occurrence table is a groupBy-min over
    * (hash, paragraph) — partial-aggregated map-side, so a paragraph
    * duplicated a million times combines before the shuffle rather
    * than sorting in one task (the reason this is NOT a window
    * row_number) — then one equi-join back and the per-doc rebuild.
    * Join and df-count key on (hash, STRING): a 64-bit collision can
    * never merge two distinct paragraphs (same defense as
    * [[removeBoilerplateLines]]). */
  def dropRepeatedParagraphs(docs: DataFrame, idCol: String,
                             textCol: String,
                             delim: String = "\n"): DataFrame = {
    // NOT fanned out (cf. [[Materialize.fanOut]] sites): the literal-
    // delimiter paragraph split is cheap per row, and the measured r20
    // A/B showed the extra exchange costing more than it won
    val paras = docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
          .as(Seq("__pos", "__p")))
    val firsts = paras
      .filter(trim(col("__p")) =!= "")
      .groupBy(xxhash64(col("__p")).as("__ph"), col("__p"))
      .agg(min(struct(col(idCol), col("__pos"))).as("__first"))
      .select(col("__ph"), col("__p").as("__fp"), col("__first"))
    paras
      .join(firsts, xxhash64(col("__p")) === col("__ph") &&
        col("__p") === col("__fp"), "left_outer")
      .withColumn("__keep", col("__first").isNull ||
        (col("__first") === struct(col(idCol), col("__pos"))))
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("__pos"), col("__p"))))),
          s => s.getField("__p")), delim).as("clean_text"),
        count(lit(1)).as("n_paras"),
        sum(when(!col("__keep"), 1L).otherwise(0L)).as("n_removed"))
      .select(col(idCol), col("clean_text"), col("n_paras"),
        col("n_removed"))
  }

  /** One micro-batch increment of keep-first paragraph dedup against a
    * PERSISTED first-occurrence table — the streaming face of
    * [[dropRepeatedParagraphs]] (same pattern as the URL crawl
    * frontier, with the state table on disk instead of in streaming
    * state so it outlives the query and is append-only, the
    * [[buildSpanIndex]] ingest contract: appends, never rewrites).
    *
    * Per batch: paragraphs already in `seenPath` drop EVERYWHERE in
    * the batch; paragraphs new to the corpus keep exactly their
    * batch-local first occurrence (min (doc, pos)) and drop the rest;
    * blanks always survive (the batch op's rule). Cleaned docs land in
    * `outPath/batch=<id>` (same output schema as
    * [[dropRepeatedParagraphs]] plus the partition column), then —
    * strictly AFTER the cleaned write, and from a materialized cache
    * so the write can't re-read the table it is mutating — the batch's
    * newly-seen (hash, paragraph) pairs land in `seenPath/batch=<id>`.
    * On an empty seen table a single batch reproduces the batch
    * operator exactly (the `q_para_dedup_stream_exec` gate); a second
    * batch drops everything the first batch saw (spec-pinned).
    *
    * REPLAY-IDEMPOTENT by the house per-batch-directory contract
    * ([[graft.streaming.EventStreams.drainBatches]]): each batch
    * OVERWRITES its own `batch=<id>` directory on both tables, and the
    * seen probe EXCLUDES rows the current batch id wrote — so a batch
    * replayed after a mid-write crash (even one that already published
    * its seen delta) recomputes against the identical pre-batch state
    * and rewrites identical outputs (spec-pinned: re-running a batch id
    * changes nothing). A plain append would double rows; probing its
    * own published firsts would make every replayed paragraph look
    * already-seen and wrongly empty the docs.
    *
    * Scale shape: the anti-join and the occurrence rejoin are both
    * keyed on (xxhash64, string) — linear shuffles of batch paragraphs
    * against the seen table. At 100 TB the seen table is the big side:
    * hive-partition it additionally by hash mod (the [[SpanIndexMods]]
    * layout) so each batch's probe prunes to matching leaves; the
    * per-batch-directory contract already matches that layout. */
  def dropRepeatedParagraphsIncrement(batch: DataFrame, idCol: String,
                                      textCol: String, seenPath: String,
                                      outPath: String, batchId: Long,
                                      delim: String = "\n"): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val paras = batch.filter(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
          .as(Seq("__pos", "__p")))
    // probe through the Hadoop FileSystem of the path's scheme, NOT
    // java.io.File (ADVICE r14): on HDFS/S3 — the cluster modes
    // spark.graft.reliableCheckpoint exists for — a driver-local File
    // check always reports missing, so every batch would silently treat
    // the seen table as empty and cross-batch dedup stops working with
    // no error
    val seenHPath = new org.apache.hadoop.fs.Path(seenPath)
    val seenFs = seenHPath.getFileSystem(spark.sessionState.newHadoopConf())
    val seen =
      (if (seenFs.exists(seenHPath) &&
        seenFs.listStatus(seenHPath)
          .exists(_.getPath.getName.startsWith("batch=")))
        spark.read.parquet(seenPath)
          .filter(col("batch") =!= batchId) // replay: own delta invisible
          .select(col("__ph"), col("__fp"))
      else Seq.empty[(Long, String)].toDF("__ph", "__fp"))
    val firsts = paras
      .filter(trim(col("__p")) =!= "")
      .groupBy(xxhash64(col("__p")).as("__ph"), col("__p"))
      .agg(min(struct(col(idCol), col("__pos"))).as("__first"))
    // eager Materialize (the house mutate-then-reread protection), not
    // best-effort persist+count (ADVICE r14): after cache-block
    // eviction a persisted plan RECOMPUTES, and the recompute would
    // re-list seenPath concurrently with the overwrite of this batch's
    // own directory below — correct only through the fragile implicit
    // coupling that the batch=!=batchId filter prunes the in-flight
    // directory. Lineage truncation makes the pre-write snapshot
    // explicit (and spark.graft.reliableCheckpoint makes it
    // replayable on a real cluster).
    val newFirsts = Materialize(firsts
      .join(seen, firsts("__ph") === seen("__ph") &&
        col("__p") === col("__fp"), "left_anti")
      .select(col("__ph"), col("__p").as("__fp"), col("__first")),
      eager = true)
    val cleaned = paras
      .join(newFirsts, xxhash64(col("__p")) === col("__ph") &&
        col("__p") === col("__fp"), "left_outer")
      .withColumn("__keep", trim(col("__p")) === "" ||
        (col("__first").isNotNull &&
          col("__first") === struct(col(idCol), col("__pos"))))
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("__pos"), col("__p"))))),
          s => s.getField("__p")), delim).as("clean_text"),
        count(lit(1)).as("n_paras"),
        sum(when(!col("__keep"), 1L).otherwise(0L)).as("n_removed"))
      .select(col(idCol), col("clean_text"), col("n_paras"),
        col("n_removed"))
    cleaned.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
    newFirsts.select(col("__ph"), col("__fp"))
      .write.mode("overwrite").parquet(s"$seenPath/batch=$batchId")
    ()
  }

  /** Cross-document exact duplicated-span statistics — the posting-list
    * reading of substring dedup ("Deduplicating Training Data Makes
    * Language Models Better", Lee et al. 2021: their suffix array finds
    * >= 50-token exact substrings; the distributed approximation is
    * fixed-length word `n`-gram spans at stride 1, the same shape the
    * paper's NearDup baseline and MOSS-style plagiarism detectors use).
    * Unlike [[contaminationFlags]] (corpus vs a SMALL eval set,
    * broadcast join) this is corpus-vs-ITSELF: the duplicated-span set
    * can be corpus-sized, so no broadcast assumption anywhere.
    *
    * Returns one row per document with at least one full span — i.e.
    * at least `n` whitespace tokens — (`idCol`, `n_spans` = distinct
    * spans in the doc, `dup_spans` = those also occurring verbatim in
    * at least `minDf - 1` OTHER documents, `dup_frac`). Downstream
    * curation drops docs above a `dup_frac` threshold or routes
    * `dup_spans` into a span-removal rewrite.
    *
    * Scale shape: [[graft.plans.TextExpressions.word_shingles]] emits
    * each doc's span SET (within-doc repeats collapse at the source, so
    * nothing downstream needs countDistinct); document frequency
    * aggregates on the 64-bit span hash with map-side combine;
    * membership rejoins on (hash, span) — string equality decides, the
    * hash only partitions, so a 64-bit collision can never flag a
    * unique span (same argument as [[removeBoilerplateLines]]). Both
    * shuffles are linear in corpus tokens. At 100 TB the stride-1
    * posting volume is |tokens| rows per doc: `winnow = w > 1` keeps
    * only spans whose content hash is ≡ 0 (mod w) — a 1/w posting
    * sample with IDENTICAL df semantics on the kept spans (the keep
    * decision is a pure function of the span string, so a kept span is
    * kept in EVERY document and its df is exact, never diluted;
    * `dup_frac` becomes an unbiased estimate over the kept-span
    * sample, and `n_spans`/`dup_spans` count kept spans only). A doc
    * whose every span is winnowed away yields no row. The keep hash is
    * the engine-portable md5-prefix (the [[weightedSampleK]]
    * convention) so the dial itself is oracle-checkable; a deployment
    * chasing the last few % of scan cost can swap in xxhash64 without
    * changing any semantics. */
  def duplicateSpanStats(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 8, minDf: Int = 2,
                         winnow: Int = 1): DataFrame = {
    require(n >= 2, s"span length out of range: $n")
    require(minDf >= 2, s"minDf < 2 would flag every span: $minDf")
    require(winnow >= 1, s"winnow must be >= 1: $winnow")
    // fan out an under-parallel scan before the tokenize/shingle work
    // (identity at real scan widths); [[nonBlank]] candidacy so the
    // pushed-below-exchange filter never pays a split — short docs drop
    // at the explode (empty shingle set), identical rows
    val exploded = Materialize.fanOut(docs)
      .filter(nonBlank(col(textCol)))
      .select(col(idCol),
        graft.plans.TextExpressions.word_shingles(col(textCol), n)
          .as("__sh"))
      .select(col(idCol), explode(col("__sh")).as("__span"))
    val spans =
      if (winnow == 1) exploded
      else exploded.filter(
        conv(substring(md5(col("__span")), 1, 8), 16, 10).cast("long")
          % winnow === 0)
    val dupSet = spans
      .select(xxhash64(col("__span")).as("__h"), col("__span"))
      .groupBy(col("__h"), col("__span"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("__h"), col("__span").as("__dspan"), lit(1).as("__dup"))
    spans
      .join(dupSet, xxhash64(col("__span")) === col("__h") &&
        col("__span") === col("__dspan"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__dup").isNotNull, 1L).otherwise(0L)).as("dup_spans"))
      .select(col(idCol), col("n_spans"), col("dup_spans"),
        round(col("dup_spans").cast("double") / col("n_spans"), 6)
          .as("dup_frac"))
  }

  /** Maximal duplicated token RANGES per document — the actionable form
    * of [[duplicateSpanStats]] and the distributed reading of Lee et
    * al. 2021's exact substring dedup (their suffix array emits
    * arbitrary >= 50-token duplicated substrings for REMOVAL; here
    * every duplicated fixed-`n` span is an interval `[i, i+n-1]` over
    * the doc's token offsets, and overlapping/adjacent intervals union
    * into maximal ranges — exactly the spans a suffix array would
    * report, discretized to stride-1 n-gram resolution: any duplicated
    * substring of >= n tokens is covered, with range ends resolved to
    * within n-1 tokens).
    *
    * Returns one row per maximal range of at least `minTokens` tokens:
    * (`idCol`, `start_tok`, `end_tok` — 0-based inclusive token
    * offsets — `n_tokens`). Downstream curation cuts these ranges out
    * of the doc (or drops docs whose ranges cover too much — the
    * [[duplicateSpanStats]] score). A span is "duplicated" when it
    * occurs in >= `minDf` distinct documents ([[duplicateSpanStats]]
    * semantics: within-doc repeats alone don't flag).
    *
    * Scale shape: three linear passes, no all-pairs anywhere — (1) df
    * over the distinct (doc, span) set on the 64-bit hash (map-side
    * combine); (2) an INNER rejoin of the positional posting list on
    * (hash, span) — string equality decides, so a hash collision can
    * never flag a unique span, and non-duplicated positions (the vast
    * majority) drop BEFORE the merge shuffle; (3) one hash aggregation
    * per doc whose sorted fold unions intervals group-locally (the
    * [[TimeSeries.funnel]] shape — per-buffer state is bounded by the
    * DOC's flagged-offset count, and a document is the natural
    * upper bound, so no `maxGroupRows` guard is needed). The winnow
    * dial does NOT apply here: dropping 3 of 4 spans would break
    * adjacency merging — use winnowed [[duplicateSpanStats]] to pick
    * candidate DOCS cheaply, then run this on the flagged subset. */
  def dupSpansMerged(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 8, minDf: Int = 2,
                     minTokens: Int = 8): DataFrame = {
    require(n >= 2, s"span length out of range: $n")
    require(minDf >= 2, s"minDf < 2 would flag every span: $minDf")
    require(minTokens >= n,
      s"minTokens $minTokens < n $n can never filter anything tighter " +
        "than the span length")
    // positional stride-1 spans: offset i covers tokens [i, i+n-1].
    // (word_shingles emits the per-doc SET — fine for df, wrong for
    // positions — so the positional side is the native
    // word_shingle_offsets expression: one JIT'd loop per doc. The
    // declarative transform/slice/array_join formulation re-sliced per
    // offset and measured ~5x slower end-to-end at sf0.1.)
    // one fan-out shared by BOTH branches below (ReusedExchange): the
    // positional and set-form shingle passes read the same exchange, so
    // an under-parallel scan is read once and both explodes parallelize
    // (identity at real scan widths — [[Materialize.fanOut]])
    val fanned = Materialize.fanOut(docs)
    val posSpans = fanned.filter(nonBlank(col(textCol)))
      .select(col(idCol),
        explode(graft.plans.TextExpressions
          .word_shingle_offsets(col(textCol), n)).as("__ps"))
      .select(col(idCol), col("__ps.pos").as("__pos"),
        col("__ps.span").as("__span"))
    // df over the distinct (doc, span) set — identical semantics to
    // duplicateSpanStats, and computed the same way: word_shingles
    // emits each doc's span SET at the source, so exploding it IS the
    // distinct (doc, span) relation — the r19 change; this branch
    // previously re-exploded the POSITIONAL spans and paid a
    // corpus x spans `.distinct()` exchange to collapse the stride-1
    // repeats the set form never emits. The scan+shingle pass is
    // recomputed per branch on purpose (the removeBoilerplateLines
    // call: recomputing beats storing corpus x spans blocks).
    val dupSet = fanned.filter(nonBlank(col(textCol)))
      .select(explode(graft.plans.TextExpressions
        .word_shingles(col(textCol), n)).as("__span"))
      .select(xxhash64(col("__span")).as("__h"), col("__span"))
      .groupBy(col("__h"), col("__span"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("__h"), col("__span").as("__dspan"))
    val hits = posSpans
      .join(dupSet, xxhash64(col("__span")) === col("__h") &&
        col("__span") === col("__dspan"))
      .select(col(idCol), col("__pos"))
    // group-local interval union: fold ascending offsets, extending the
    // open range while the next interval overlaps or touches it
    val itype = org.apache.spark.sql.types.IntegerType
    val zero = array().cast(org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("s", itype),
        org.apache.spark.sql.types.StructField("e", itype)))))
    val merged = hits.groupBy(col(idCol))
      .agg(aggregate(array_sort(collect_list(col("__pos"))), zero,
        (acc: Column, i: Column) => {
          val lastS = get(acc, size(acc) - 1).getField("s")
          val lastE = get(acc, size(acc) - 1).getField("e")
          when(size(acc) > 0 && i <= lastE + 1,
            concat(slice(acc, lit(1), size(acc) - 1),
              array(struct(lastS.as("s"),
                greatest(lastE, i + n - 1).as("e")))))
            .otherwise(concat(acc,
              array(struct(i.as("s"), (i + n - 1).as("e")))))
        }).as("__ranges"))
    merged.select(col(idCol), explode(col("__ranges")).as("__r"))
      .select(col(idCol),
        col("__r.s").cast("long").as("start_tok"),
        col("__r.e").cast("long").as("end_tok"),
        (col("__r.e") - col("__r.s") + 1).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= minTokens)
  }

  /** Number of hash-partition leaves in a persisted span-df index. */
  val SpanIndexMods = 64

  private def spanMod(h: Column): Column =
    pmod(h, lit(SpanIndexMods.toLong)).cast("int")

  /** Persist a span document-frequency index — the incremental face of
    * [[duplicateSpanStats]] (the [[graft.operators.Dedup
    * .buildExactIndex]] convention, applied to spans): one row per
    * distinct span, `(h = xxhash64(span), span, df = number of corpus
    * docs containing it)`, hive-partitioned into [[SpanIndexMods]]
    * leaves by `h mod`. APPEND-friendly by design: later corpora write
    * additional PARTIAL rows under the same layout (`mode("append")`),
    * and probes SUM df across rows per (h, span) — no read-modify-write
    * of the index, ever (the at-scale property: ingest appends, never
    * rewrites).
    *
    * `winnow = w > 1` composes the [[duplicateSpanStats]] posting dial
    * with the incremental path: the index holds only spans with
    * md5-prefix ≡ 0 (mod w) — 1/w the rows, exact df on what it holds
    * (span-pure keep decision). The chosen w is recorded in a
    * `_winnow` marker at `path` and ENFORCED at probe time: a
    * mismatched probe would silently undercount corpus df, so
    * [[incrementalSpanStats]] refuses it loudly instead. Appends must
    * reuse the builder's w (the marker is only written on
    * overwrite). */
  def buildSpanIndex(docs: DataFrame, idCol: String, textCol: String,
                     path: String, n: Int = 8,
                     mode: String = "overwrite",
                     winnow: Int = 1): Unit = {
    require(winnow >= 1, s"winnow must be >= 1: $winnow")
    // split-free candidacy (the r20 rule applied family-wide): docs
    // under n tokens shingle to an EMPTY set and drop at the explode,
    // so the old hasMinTokens conjunct was a pure extra tokenize per
    // scanned row in the pushed-down filter — at index-build scale, a
    // corpus-wide regex pass for nothing
    val exploded = docs.filter(nonBlank(col(textCol)))
      .select(col(idCol),
        explode(graft.plans.TextExpressions.word_shingles(col(textCol), n))
          .as("span"))
    val spans =
      if (winnow == 1) exploded
      else exploded.filter(
        conv(substring(md5(col("span")), 1, 8), 16, 10).cast("long")
          % winnow === 0)
    spans
      .select(xxhash64(col("span")).as("h"), col("span"))
      .groupBy(col("h"), col("span"))
      .agg(count(lit(1)).as("df"))
      .withColumn("hmod", spanMod(col("h")))
      // one task per leaf before the partitioned write (the
      // buildExactIndex small-files reasoning)
      .repartition(col("hmod"))
      .write.mode(mode).partitionBy("hmod").parquet(path)
    if (mode == "overwrite") {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(path),
        docs.sparkSession.sparkContext.hadoopConfiguration)
      val out = fs.create(
        new org.apache.hadoop.fs.Path(s"$path/_winnow"), true)
      try out.write(winnow.toString.getBytes("UTF-8")) finally out.close()
    }
  }

  /** The winnow recorded by [[buildSpanIndex]]; 1 when the marker is
    * absent (pre-winnow layouts). */
  private def indexWinnow(spark: org.apache.spark.sql.SparkSession,
                          path: String): Int = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$path/_winnow")
    if (!fs.exists(p)) 1
    else {
      val in = fs.open(p)
      try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        "UTF-8").trim.toInt
      finally in.close()
    }
  }

  /** [[duplicateSpanStats]] for a NEW batch against a persisted
    * [[buildSpanIndex]] corpus — the shape that avoids recomputing
    * span df over 100 TB when a delta lands: per delta doc,
    * (`idCol`, `n_spans`, `dup_spans`, `dup_frac`) where a span is
    * duplicated when its document frequency across CORPUS + DELTA is
    * at least `minDf` (the delta counts itself, so intra-delta
    * duplicates are caught in the same call — the
    * [[graft.operators.Dedup.incrementalExactDedup]] contract; delta
    * ids are assumed disjoint from corpus ids).
    *
    * Probe cost scales with the delta, not the corpus: the delta's
    * distinct `h mod` keys (<= [[SpanIndexMods]], bounded by the
    * layout) prune the index read to matching leaves; those leaves are
    * semi-joined down to the delta's own spans and SUMMED per
    * (h, span) — partial append rows collapse here — before a join
    * that is broadcast while the delta is small
    * (`maxBroadcastDeltaRows`), left to AQE above that. String
    * equality decides every match; the hash only partitions (the
    * [[duplicateSpanStats]] collision argument). NOT lazy: leaf
    * probes run at call time (the incremental-family eager
    * convention). */
  def incrementalSpanStats(spark: org.apache.spark.sql.SparkSession,
                           indexPath: String, newDocs: DataFrame,
                           idCol: String, textCol: String,
                           n: Int = 8, minDf: Int = 2,
                           winnow: Int = 1,
                           maxBroadcastDeltaRows: Long = 8L * 1000 * 1000)
      : DataFrame = {
    require(minDf >= 2, s"minDf < 2 would flag every span: $minDf")
    require(winnow >= 1, s"winnow must be >= 1: $winnow")
    val idxW = indexWinnow(spark, indexPath)
    require(idxW == winnow,
      s"incrementalSpanStats: probe winnow=$winnow but the index at " +
        s"$indexPath was built with winnow=$idxW — a mismatch silently " +
        "undercounts corpus df; rebuild or probe with the index's value")
    // split-free candidacy, same argument as [[buildSpanIndex]]: short
    // docs shingle to an empty set and drop at the explode — and a doc
    // with no spans yields no output row either way (n_spans counts
    // exploded rows per id)
    val allDelta = newDocs.filter(nonBlank(col(textCol)))
      .select(col(idCol),
        explode(
          graft.plans.TextExpressions.word_shingles(col(textCol), n))
          .as("__span"))
    val deltaSpans = Materialize(
      (if (winnow == 1) allDelta
       else allDelta.filter(
         conv(substring(md5(col("__span")), 1, 8), 16, 10).cast("long")
           % winnow === 0))
        .withColumn("__h", xxhash64(col("__span"))),
      eager = false)
    val deltaDf = Materialize(
      deltaSpans.groupBy(col("__h"), col("__span"))
        .agg(count(lit(1)).as("__ddf")),
      eager = false)
    val head = deltaDf.agg(
      collect_set(spanMod(col("__h"))).as("ks"),
      count(lit(1)).as("n")).head()
    val keys =
      if (head.isNullAt(0)) Seq.empty[Int] else head.getSeq[Int](0)
    val deltaRows = if (head.isNullAt(1)) 0L else head.getLong(1)
    val hint: DataFrame => DataFrame =
      if (deltaRows <= maxBroadcastDeltaRows) broadcast(_) else identity
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexPath),
      spark.sparkContext.hadoopConfiguration)
    val leaves = keys.map(k => s"$indexPath/hmod=$k")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
    val combined =
      if (leaves.isEmpty)
        deltaDf.withColumn("__tdf", col("__ddf"))
      else {
        val corpusDf = spark.read.option("basePath", indexPath)
          .parquet(leaves: _*)
          .join(hint(deltaDf.select(col("__h").as("h"),
            col("__span").as("span"))), Seq("h", "span"), "left_semi")
          .groupBy(col("h"), col("span"))
          .agg(sum(col("df")).as("__cdf"))
          .select(col("h").as("__h"), col("span").as("__span"),
            col("__cdf"))
        deltaDf.join(hint(corpusDf), Seq("__h", "__span"), "left_outer")
          .withColumn("__tdf",
            col("__ddf") + coalesce(col("__cdf"), lit(0L)))
      }
    val dupSet = combined.filter(col("__tdf") >= minDf)
      .select(col("__h"), col("__span"), lit(1).as("__dup"))
    deltaSpans
      .join(hint(dupSet), Seq("__h", "__span"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__dup").isNotNull, 1L).otherwise(0L)).as("dup_spans"))
      .select(col(idCol), col("n_spans"), col("dup_spans"),
        round(col("dup_spans").cast("double") / col("n_spans"), 6)
          .as("dup_frac"))
  }

  /** Cut the [[dupSpansMerged]] ranges OUT of the corpus — the final
    * step of Lee et al. 2021's substring dedup (the paper deletes the
    * duplicated substrings and keeps the remainder, rather than
    * dropping whole documents). Returns one row per input document:
    * (`idCol`, `clean_text`, `n_removed` tokens).
    *
    * Token-level semantics: a document's duplicated ranges (maximal,
    * disjoint by construction) are removed and the SURVIVING tokens
    * are rejoined with single spaces — so a rewritten document is
    * whitespace-NORMALIZED (tokens are the unit of this operator;
    * original spacing is not a preserved property). Documents with no
    * duplicated range pass through VERBATIM (byte-identical text,
    * n_removed = 0), including null/short docs. A document that is
    * duplicated wall-to-wall rewrites to the empty string — visible
    * and filterable downstream, never silently dropped.
    *
    * Scale shape: [[dupSpansMerged]] (three linear passes) plus one
    * left join of the corpus against its per-doc range lists (grouped
    * on the doc id — one row per flagged doc, so the join's right side
    * is at most corpus-sized and usually far smaller) and a per-row
    * codegen'd positional filter; ranges-per-doc is bounded by
    * doc-length/n, so the per-token `exists` probe is cheap. */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 8, minDf: Int = 2,
                     minTokens: Int = 8): DataFrame = {
    val ranges = dupSpansMerged(docs, idCol, textCol, n, minDf, minTokens)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("start_tok"), col("end_tok")))
        .as("__rm"))
    val tk = split(trim(col(textCol)), "\\s+")
    val kept = filter(tk, (_, i) =>
      !exists(col("__rm"), r =>
        i >= r.getField("start_tok") && i <= r.getField("end_tok")))
    val removed = aggregate(col("__rm"), lit(0L),
      (acc: Column, r: Column) =>
        acc + r.getField("end_tok") - r.getField("start_tok") + 1)
    docs.join(ranges, Seq(idCol), "left_outer")
      .select(col(idCol),
        when(col("__rm").isNull, col(textCol))
          .otherwise(array_join(kept, " ")).as("clean_text"),
        coalesce(removed, lit(0L)).as("n_removed"))
  }

  /** Lowercased host of a URL column: the authority between `://` and
    * the first `/ : ? #`, userinfo stripped — a plain codegen'd regexp,
    * no UDF. Malformed URLs yield the empty string (regexp_extract's
    * no-match value), which no blocklist entry matches — unparseable
    * URLs pass through and stay visible rather than being silently
    * swallowed by the filter. */
  def urlHost(url: Column): Column =
    lower(regexp_extract(url,
      "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)", 1))

  /** Tracking query-params dropped by [[canonicalUrl]]: the analytics
    * attribution keys that vary per click without changing the
    * resource (the reason one page yields thousands of "distinct"
    * crawl URLs). */
  val trackingParamPattern: String =
    "^(?:utm_[^=]*|gclid|fbclid|msclkid|mc_eid|ref)(?:=.*)?$"

  /** Canonical form of a URL column — the normalization web-crawl
    * pipelines apply BEFORE URL-level dedup, so casing, default ports,
    * fragments, tracking params and param order don't fan one resource
    * out into many "distinct" URLs. Steps, in order: lowercase scheme
    * and host (trailing host dot trimmed), drop userinfo, drop the
    * default port (http:80 / https:443; explicit others kept), strip
    * any trailing path slash (empty path becomes "/"), drop the
    * fragment, drop [[trackingParamPattern]] params, and sort the
    * surviving query params bytewise. Malformed URLs (no scheme://host)
    * canonicalize to NULL — visible, never silently passed through as
    * if normalized. Pure codegen'd built-ins (regexps + array ops), no
    * UDF; DuckDB replicates every step, so the form is oracle-portable.
    *
    * Deliberately NOT done: www-stripping and percent-decoding —
    * both merge URLs that can serve different content; this canonical
    * form only removes variation that provably cannot change the
    * resource. */
  def canonicalUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val host = rtrim(urlHost(url), ".")
    val port = regexp_extract(url,
      "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?[^/:?#]+:([0-9]+)", 1)
    val portPart = when(port === "" ||
      (scheme === "http" && port === "80") ||
      (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val rawPath = regexp_extract(url,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val trimmed = regexp_replace(rawPath, "/+$", "")
    val path = when(trimmed === "", lit("/")).otherwise(trimmed)
    val rawQuery = regexp_extract(url, "^[^#]*?\\?([^#]*)", 1)
    val params = filter(split(rawQuery, "&"),
      p => p =!= "" && !p.rlike(trackingParamPattern))
    val queryPart = when(size(params) === 0, lit(""))
      .otherwise(concat(lit("?"), array_join(array_sort(params), "&")))
    when(scheme === "" || host === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), host, portPart, path, queryPart))
  }

  /** URL-level dedup — the first dedup pass of a web-corpus pipeline
    * (cheaper than any text comparison: one hash shuffle on the
    * canonical string): keep ONE row per [[canonicalUrl]] value (the
    * min `idCol`, deterministic), and report how many crawl URLs each
    * canonical absorbed. Rows whose URL fails to canonicalize (NULL)
    * are each kept — an unparseable URL is no evidence of duplication.
    * Returns (`idCol`, `canonical_url`, `n_urls`).
    *
    * One scan, one aggregation: the keep-every-unparseable rule rides a
    * null-only secondary grouping key (`idCol` when the canonical is
    * NULL, null otherwise), so each unparseable row forms its own
    * group — the former two-branch union re-scanned the input and
    * inlined the full [[canonicalUrl]] regex tree into BOTH branch
    * filters (r20 plan audit: the canonicalization expression appeared
    * ~10x in the physical plan). */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.select(col(idCol), canonicalUrl(col(urlCol)).as("canonical_url"))
      .groupBy(col("canonical_url"),
        when(col("canonical_url").isNull, col(idCol)).as("__nullk"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_urls"))
      .select(col(idCol), col("canonical_url"), col("n_urls"))

  /** Every label-suffix of a host that a domain blocklist entry could
    * match: `a.b.c.org` -> `[a.b.c.org, b.c.org, c.org, org]`, capped
    * at the LAST `maxLabels` suffixes (the shallow ones near the TLD).
    * Blocklist entries are registrable domains of a few labels, so the
    * cap bounds the explode fan-out per host without losing any match
    * for entries of <= `maxLabels` labels — that bound is the operator's
    * declared contract. */
  def hostSuffixes(host: Column, maxLabels: Int = 8): Column = {
    val labels = split(host, "\\.")
    val n = size(labels)
    val from = greatest(lit(1), n - maxLabels + 1)
    transform(sequence(from, n),
      i => array_join(slice(labels, i, n - i + 1), "."))
  }

  /** Domain-blocklist filter — the UT1/adult-domain removal step of a
    * web-corpus pipeline: keep rows whose URL host matches NO blocklist
    * domain, where a domain blocks itself AND every subdomain
    * (`example.org` blocks `a.example.org`; `www.x.org` blocks only that
    * host). `blocklist` is a one-column (`domain`) DataFrame of
    * lowercase domains.
    *
    * Scale shape: the match is decided per HOST, not per row, so the
    * suffix explode and blocklist join run over `select(host).distinct`
    * — corpus-size-independent (distinct hosts ≪ rows; the fuzzy-join
    * family uses the same distinct-values contraction). Blocked hosts
    * then anti-join back onto the corpus keyed on host: one equi-join
    * shuffle over the rows (AQE will broadcast the blocked-host side
    * when small, making the row pass shuffle-free). No collects — a
    * multi-million-domain blocklist stays a DataFrame end to end.
    *
    * Returns the kept rows plus the URL-derived host under `hostCol`.
    * An existing column of that name is REPLACED — the derivation is
    * deterministic from `urlCol`, so chained calls (filtering against
    * several blocklists in sequence) compose naturally; if your input
    * carries a `host` column with DIFFERENT semantics, pass another
    * `hostCol` (or rename yours) so it survives untouched. */
  def urlBlocklistFilter(df: DataFrame, urlCol: String,
                         blocklist: DataFrame,
                         maxLabels: Int = 8,
                         hostCol: String = "host"): DataFrame = {
    val withHost = df.withColumn(hostCol, urlHost(col(urlCol)))
    val blockedHosts = withHost.select(col(hostCol)).distinct()
      .withColumn("__sfx", explode(hostSuffixes(col(hostCol), maxLabels)))
      .join(blocklist.select(lower(col("domain")).as("__sfx")), Seq("__sfx"),
        "left_semi")
      .select(col(hostCol)).distinct()
    withHost.join(blockedHosts, Seq(hostCol), "left_anti")
  }

  /** Corpus unigram log-probability per document — the cheap LM-quality
    * proxy (CCNet-style filtering ranks documents by LM score; a
    * unigram model over the corpus itself is its deterministic,
    * dependency-free cousin). Returns (`idCol`, `n_toks`,
    * `avg_logprob` = mean ln p(token) under corpus unigram frequencies,
    * rounded to 4 places). Higher = more typical text; extreme values
    * catch gibberish and boilerplate.
    *
    * Scale shape: token counts are one hash aggregation; the join back
    * re-uses the aggregation's partitioning (both sides hash on the
    * token), and the per-doc reduce is a second aggregation. The
    * exploded relation is deliberately NOT materialized even though two
    * branches consume it: storing corpus x tokens blocks costs more
    * than the second scan it saves (the opposite call from the dedup
    * family, where the shared subtree carries an expensive window).
    * The 1-row corpus total rides a broadcast, not a driver collect. */
  def unigramLogProb(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    // deliberately NOT [[Materialize.fanOut]]'d: the exploded relation
    // feeds two branches unmaterialized (counts + rejoin), so a fan-out
    // exchange would run TWICE with nothing reused (column pruning
    // differentiates the branches), and the plain-token explode is too
    // cheap to pay for it — the r20 interleaved A/B measured this query
    // ~55% slower fanned (0.60 vs 0.39 s min-of-5)
    val toks = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("total"))
    toks.join(counts, Seq("tok"))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"),
        round(avg(log(col("c").cast("double") / col("total"))), 4)
          .as("avg_logprob"))
  }

  /** Interpolated bigram LM score per document — one step up from
    * [[unigramLogProb]] toward the CCNet recipe (CCNet ranks by a
    * 5-gram KenLM; a corpus-trained interpolated bigram is the
    * dependency-free, oracle-portable member of the same family and
    * separates shuffled-word gibberish that unigram frequencies cannot
    * see). Per document: mean over adjacent token pairs of
    * `ln(lambda * c(v,w)/c(v) + (1-lambda) * c(w)/total)` — bigram MLE
    * interpolated with the unigram model, so unseen-in-corpus bigrams
    * of seen words stay finite (within one corpus every bigram is seen
    * at least once by construction; the interpolation matters when
    * scoring a delta AGAINST a reference corpus via `model`). Returns
    * (`idCol`, `n_bigrams`, `avg_logprob` rounded to 4); documents
    * with fewer than two tokens are excluded (no bigram evidence —
    * absent rather than fake-scored), and when scoring against an
    * external `model`, bigrams containing an out-of-model WORD are
    * excluded from the mean (no evidence either way), while in-model
    * words in an unseen pairing get the backoff leg.
    *
    * `c(v)` is v's unigram count (the standard MLE denominator
    * approximation; exact context counts differ only by per-document
    * final tokens). `model` defaults to the corpus itself; pass a
    * reference corpus to score typicality against it instead.
    *
    * Scale shape: the per-(v,w) log-probability is computed on the
    * DISTINCT bigram relation (distinct bigrams ≪ instances), which
    * joins unigram counts twice while small, then rejoins instances
    * once on (v,w) — three hash aggregations and two joins, all keyed
    * on tokens/bigrams, no window, no collect; the 1-row total rides a
    * broadcast. Same float register as [[unigramLogProb]]: ln is libm
    * (1-ulp cross-engine), avg order varies — round-4 absorbs both. */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                    lambda: Double = 0.7,
                    model: Option[DataFrame] = None): DataFrame = {
    require(lambda >= 0 && lambda <= 1, s"lambda must be in [0,1]: $lambda")
    def bigrams(df: DataFrame, text: String, keep: Seq[Column]): DataFrame = {
      val tk = tokens(col(text))
      // no `size(__tk) >= 2` filter: a 1-token doc zips to an empty
      // pair array and the explode drops it — identical rows — while
      // the filter form re-tokenized the corpus below the fan-out
      // exchange once Catalyst pushed it down
      df.filter(nonBlank(col(text)))
        .select(keep :+ tk.as("__tk"): _*)
        .select(keep :+ explode(zip_with(
          slice(col("__tk"), lit(1), size(col("__tk")) - 1),
          slice(col("__tk"), lit(2), size(col("__tk")) - 1),
          (a, b) => struct(a.as("v"), b.as("w")))).as("__bg"): _*)
        .select(keep :+ col("__bg.v").as("v") :+ col("__bg.w").as("w"): _*)
    }
    val m = model.getOrElse(docs)
    // NOT [[Materialize.fanOut]]'d: three unmaterialized branches
    // (unigram counts, bigram counts, the per-doc rejoin) would each
    // pay the fan exchange with nothing reused; the r20 interleaved
    // A/B measured no win fanned
    val mToks = m.filter(nonBlank(col(textCol)))
      .select(explode(tokens(col(textCol))).as("tok"))
    val uni = mToks.groupBy(col("tok")).agg(count(lit(1)).as("cu"))
    val total = uni.agg(sum(col("cu")).cast("double").as("total"))
    val bi = bigrams(m, textCol, Seq.empty)
      .groupBy(col("v"), col("w")).agg(count(lit(1)).as("cvw"))
    val docBi = bigrams(docs, textCol, Seq(col(idCol)))
    // the DISTINCT scored-bigram set: when the model IS the corpus
    // (default), the distinct (v, w) of the scored docs are exactly the
    // model bigram keys, every word is in-model and cvw >= 1 — `bi` IS
    // that relation, so the separate distinct() pass (a third full
    // bigram explode + exchange, r20 plan audit) is dropped. With an
    // external model the scored set genuinely differs: keep the
    // distinct + left_outer shape.
    val scoredSet =
      if (model.isEmpty) bi
      else docBi.select(col("v"), col("w")).distinct()
        .join(bi, Seq("v", "w"), "left_outer")
    // log-prob per DISTINCT scored bigram: both words must be in-model
    // (inner unigram joins — OOV-word bigrams carry no model evidence
    // and are excluded from the mean, documented); a bigram of seen
    // words UNSEEN as a pair gets the pure backoff leg (cvw -> 0).
    val lp = scoredSet
      .join(uni.select(col("tok").as("v"), col("cu").as("cv")), Seq("v"))
      .join(uni.select(col("tok").as("w"), col("cu").as("cw")), Seq("w"))
      .crossJoin(broadcast(total))
      .select(col("v"), col("w"),
        log(lit(lambda) * coalesce(col("cvw"), lit(0L)).cast("double")
          / col("cv").cast("double")
          + lit(1.0d - lambda) * col("cw").cast("double") / col("total"))
          .as("__lp"))
    docBi.join(lp, Seq("v", "w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        (round(avg(col("__lp")), 4) + lit(0.0d)).as("avg_logprob"))
  }

  /** Content-defined chunking at word level (the FastCDC/rsync idea
    * applied to text): a token ENDS a chunk whenever its md5-prefix
    * hash ≡ 0 (mod `avgTokens`), so chunk boundaries are a pure
    * function of LOCAL content — inserting or deleting a token
    * re-splits only the chunk it touches, never shifting every
    * downstream boundary the way fixed windows ([[chunkDocs]]) do.
    * Expected chunk length = `avgTokens`; a doc with no boundary token
    * is one chunk; every token belongs to exactly one chunk. Returns
    * (`idCol`, `chunk_idx` 0-based, `chunk_text`, `n_tokens`).
    *
    * Scale shape: one explode + a per-doc running-sum window (state =
    * one counter; partition = the doc, the natural bound) + one
    * (doc, chunk) aggregation rebuilding chunk text in token order —
    * all linear, no corpus-wide window. The md5-prefix boundary is the
    * engine-portable house draw, so a SQL oracle splits identically. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                avgTokens: Int = 16): DataFrame = {
    require(avgTokens >= 2, s"avgTokens out of range: $avgTokens")
    val toks = docs.filter(nonBlank(col(textCol)))
      .select(col(idCol),
        posexplode(tokens(col(textCol))).as(Seq("__pos", "__t")))
      .withColumn("__b",
        when(nbBucket(col("__t"), lit(avgTokens.toLong)) === 0, 1L)
          .otherwise(0L))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("__chunk", coalesce(sum(col("__b")).over(w), lit(0L)))
      .groupBy(col(idCol), col("__chunk"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__t")))),
          s => s.getField("__t")), " ").as("chunk_text"),
        count(lit(1)).as("n_tokens"))
      .select(col(idCol), col("__chunk").as("chunk_idx"),
        col("chunk_text"), col("n_tokens"))
  }

  /** Cross-document duplicated-chunk statistics over [[cdcChunks]] —
    * the edit-robust, coarse-grained member of the dedup family
    * (between [[graft.operators.Dedup.exact]] whole-doc hashing and
    * [[duplicateSpanStats]]' stride-1 spans: ~1/avgTokens the posting
    * volume of spans, and unlike fixed windows a one-token edit
    * perturbs ONE chunk's hash, so shared unedited regions still
    * match). A chunk is duplicated when its text occurs in >=
    * `minDf` distinct documents (within-doc repeats alone don't flag
    * — the [[duplicateSpanStats]] df contract, decided by (hash,
    * string) equality so a 64-bit collision can never false-flag).
    * Returns (`idCol`, `n_chunks`, `dup_chunks`, `dup_frac` round 6).
    */
  def cdcChunkStats(docs: DataFrame, idCol: String, textCol: String,
                    avgTokens: Int = 16, minDf: Int = 2): DataFrame = {
    require(minDf >= 2, s"minDf < 2 would flag every chunk: $minDf")
    val chunks = cdcChunks(docs, idCol, textCol, avgTokens)
      .select(col(idCol), col("chunk_text"))
    val dupSet = chunks.distinct()
      .groupBy(xxhash64(col("chunk_text")).as("__h"),
        col("chunk_text").as("__ct"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("__h"), col("__ct"))
    chunks
      .join(dupSet, xxhash64(col("chunk_text")) === col("__h") &&
        col("chunk_text") === col("__ct"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__ct").isNotNull, 1L).otherwise(0L))
          .as("dup_chunks"))
      .select(col(idCol), col("n_chunks"), col("dup_chunks"),
        round(col("dup_chunks").cast("double")
          / col("n_chunks").cast("double"), 6).as("dup_frac"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of multiple scored
    * views of the same documents — the standard way to ENSEMBLE
    * quality/retrieval signals whose raw scales don't compare (an LM
    * log-prob, a classifier log-odds, BM25): each signal contributes
    * `1 / (k + rank)` of the document under THAT signal, and the sum
    * ranks the corpus. Rank-based, so it needs no calibration — the
    * same reason [[percentileNormalize]] exists, but combining MANY
    * signals into one ordering instead of normalizing one.
    *
    * `signals` maps a signal name to (frame, scoreCol); frames may
    * cover different doc subsets — a document absent from a signal
    * simply gets no contribution from it (the RRF convention). Ranks
    * are dense over each signal's rows, ordered by score DESC with id
    * tie-break (deterministic, engine-portable). Returns (`idCol`,
    * `n_signals`, `rrf_score` rounded 6), every doc appearing in at
    * least one signal.
    *
    * Scale shape: rank over the FULL signal is the operator's
    * semantics, and a naive `row_number` over an empty partition spec
    * plans as ONE partition — so each signal ranks with the
    * [[packOffsets]] two-phase trick instead: range-repartition on
    * (score desc, id) — a total order, so no tie can straddle a slice
    * boundary — then slice-local row_numbers plus a broadcast
    * per-slice count prefix. One range exchange + one bounded window
    * per signal, never a single-partition sort; the fuse itself is one
    * hash aggregation on the id. */
  def rrfFuse(signals: Map[String, (DataFrame, String)], idCol: String,
              k: Int = 60, buckets: Int = 64): DataFrame = {
    require(signals.nonEmpty, "rrfFuse: no signals")
    require(k >= 1, s"k must be >= 1: $k")
    require(buckets > 0, s"buckets must be positive: $buckets")
    val ranked = signals.toSeq.sortBy(_._1).map { case (_, (df, sc)) =>
      val sliced = Materialize(
        df.filter(col(sc).isNotNull)
          .select(col(idCol), col(sc).as("__s"))
          .repartitionByRange(buckets, col("__s").desc, col(idCol))
          .withColumn("__slice", spark_partition_id()),
        eager = false)
      val wOff = Window.orderBy(col("__slice"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = sliced.groupBy(col("__slice"))
        .agg(count(lit(1)).as("__n"))
        .withColumn("__off", coalesce(sum(col("__n")).over(wOff), lit(0L)))
        .select(col("__slice"), col("__off"))
      val wIn = Window.partitionBy(col("__slice"))
        .orderBy(col("__s").desc, col(idCol))
      sliced.join(broadcast(offsets), Seq("__slice"))
        .withColumn("__r", col("__off") + row_number().over(wIn))
        .select(col(idCol),
          (lit(1.0d) / (lit(k.toDouble) + col("__r").cast("double")))
            .as("__c"))
    }
    ranked.reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_signals"),
        (round(sum(col("__c")), 6) + lit(0.0d)).as("rrf_score"))
  }

  /** [[rrfFuse]] for CANDIDATE-BOUNDED signals: every input is already
    * truncated to its retriever's candidate depth ([[searchPipeline]]'s
    * legs end in `LIMIT candidates`), so each signal's global rank is
    * one window over <= candidates rows — the two-phase
    * range-partitioned rank [[rrfFuse]] needs for corpus-sized signals
    * would pay, PER SIGNAL, two extra exchanges, a checkpoint, an
    * offsets aggregate, and `repartitionByRange`'s sampling pass
    * (which re-executes the unmaterialized retrieval leg) for inputs
    * of a few hundred rows. Identical output (spec-pinned: same
    * (score desc, id) total order, same contributions). The
    * single-partition window is bounded by the caller's `candidates`
    * parameter by construction, never by the corpus. */
  private[graft] def rrfFuseBounded(
      signals: Map[String, (DataFrame, String)], idCol: String,
      k: Int = 60): DataFrame = {
    require(signals.nonEmpty, "rrfFuseBounded: no signals")
    require(k >= 1, s"k must be >= 1: $k")
    val ranked = signals.toSeq.sortBy(_._1).map { case (_, (df, sc)) =>
      val w = Window.orderBy(col("__s").desc, col(idCol))
      df.filter(col(sc).isNotNull)
        .select(col(idCol), col(sc).as("__s"))
        .withColumn("__r", row_number().over(w))
        .select(col(idCol),
          (lit(1.0d) / (lit(k.toDouble) + col("__r").cast("double")))
            .as("__c"))
    }
    ranked.reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_signals"),
        (round(sum(col("__c")), 6) + lit(0.0d)).as("rrf_score"))
  }

  /** Per-query reciprocal-rank fusion — [[rrfFuse]] for BATCH
    * retrieval: each signal frame carries (`queryCol`, `idCol`,
    * scoreCol) rows and is ranked WITHIN each query
    * (score desc, id tie-break); contributions `1/(k + rank)` sum per
    * (query, doc). Returns (`queryCol`, `idCol`, `n_signals`,
    * `rrf_score` rounded 6).
    *
    * Scale shape: ranks come from plain query-partitioned windows —
    * each partition is one query's candidate list, bounded by the
    * upstream retrievers' own k, so the packOffsets two-phase trick
    * [[rrfFuse]] needs for its corpus-wide global rank would be pure
    * overhead here. The fuse is one hash aggregation on
    * (query, id). */
  def rrfFuseGrouped(signals: Map[String, (DataFrame, String)],
                     queryCol: String, idCol: String,
                     k: Int = 60): DataFrame = {
    require(signals.nonEmpty, "rrfFuseGrouped: no signals")
    require(k >= 1, s"k must be >= 1: $k")
    val ranked = signals.toSeq.sortBy(_._1).map { case (_, (df, sc)) =>
      val w = Window.partitionBy(col(queryCol))
        .orderBy(col("__s").desc, col(idCol))
      df.filter(col(sc).isNotNull)
        .select(col(queryCol), col(idCol), col(sc).as("__s"))
        .withColumn("__r", row_number().over(w))
        .select(col(queryCol), col(idCol),
          (lit(1.0d) / (lit(k.toDouble) + col("__r").cast("double")))
            .as("__c"))
    }
    ranked.reduce(_ unionByName _)
      .groupBy(col(queryCol), col(idCol))
      .agg(count(lit(1)).as("n_signals"),
        (round(sum(col("__c")), 6) + lit(0.0d)).as("rrf_score"))
  }

  /** End-to-end hybrid retrieval — the composed pipeline a search user
    * actually runs: BM25 lexical candidates ([[bm25TopK]]) and a
    * SEMANTIC candidate ranking (any embedding top-k: brute-force
    * [[graft.operators.Similarity.cosineTopK]] as the exact baseline,
    * or the IVF / PQ / SRP tiers as the 100 TB scale path — all emit
    * the same (id, score) shape, so they slot in unchanged) fused by
    * reciprocal-rank fusion ([[rrfFuse]]), returning the global top
    * `k` as (`idCol`, `n_signals`, `rrf_score`, `rank` 1..k) ordered
    * by (rrf_score desc, id) — the deterministic cross-engine rule.
    *
    * Each leg contributes its own `candidates`-deep ranking
    * (score desc, id tie-break — total orders, engine-portable); a
    * doc found by only one leg still fuses (the RRF convention),
    * carrying `n_signals = 1`.
    *
    * Scale shape: the lexical leg is [[bm25TopK]]'s posting-prune +
    * TakeOrderedAndProject; the semantic leg is whatever index tier
    * the caller chose; fusion then operates on 2 x `candidates` rows —
    * bounded, tiny — through [[rrfFuseBounded]]'s single window (safe
    * exactly because both legs are `candidates`-deep: the lexical leg
    * by [[bm25TopK]]'s own limit, the semantic leg by the defensive
    * `(score desc, id)` truncation below — so the single-partition
    * fuse sees <= 2 x candidates rows, never the corpus), and the
    * final top-k is one more TakeOrderedAndProject. The `rank` column
    * is a window over the already-limited k rows, never the corpus.
    *
    * `queryTerms` must be a non-empty list of single tokens (each
    * non-blank, with no whitespace), whatever the predicate.
    *
    * With a `predicate` ("hybrid search WHERE label = X"), the call is
    * [[searchPipelineBatch]] over a one-row query table, with the
    * output cut back to this face's columns: the lexical candidates
    * are filtered before the top-k, and `semantic` must be an
    * ALREADY-FILTERED ranking ([[searchPipelineBatch]]'s contract). */
  def searchPipeline(docs: DataFrame, idCol: String, textCol: String,
                     queryTerms: Seq[String], semantic: DataFrame,
                     semanticIdCol: String, semanticScoreCol: String,
                     k: Int, candidates: Int = 100,
                     rrfK: Int = 60,
                     predicate: Option[Column] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(candidates >= k,
      s"candidates ($candidates) must be >= k ($k)")
    require(queryTerms.nonEmpty, "searchPipeline: empty query")
    queryTerms.find(t => !t.matches("\\S+")).foreach { t =>
      throw new IllegalArgumentException(s"searchPipeline: query term " +
        s"'$t' is not one token (blank, or holds whitespace)")
    }
    predicate match {
      case Some(_) =>
        val spark = docs.sparkSession
        import spark.implicits._
        val qs = Seq((0L, queryTerms.mkString(" ")))
          .toDF("__query_id", "__query_text")
        val sem = semantic.select(lit(0L).as("__sqid"),
          col(semanticIdCol).as("__sid"), col(semanticScoreCol).as("__sem"))
        searchPipelineBatch(docs, idCol, textCol, qs, "__query_id",
            "__query_text", sem, "__sqid", "__sid", "__sem", k = k,
            candidates = candidates, rrfK = rrfK, predicate = predicate)
          .select(col(idCol), col("n_signals"), col("rrf_score"),
            col("rank"))
      case None =>
        val lex = bm25TopK(docs, idCol, textCol, queryTerms, candidates)
          .select(col(idCol), col("bm25"))
        // defensive candidate bound (ADVICE r19): the semantic leg is
        // caller-supplied, and an oversized frame would funnel the whole
        // relation through rrfFuseBounded's single-partition window. The
        // (score desc, id) truncation is a TakeOrderedAndProject — cheap
        // — and a no-op for a contract-abiding candidates-deep leg (RRF
        // only reads the top `candidates` ranks of each signal anyway, so
        // for an OVERSIZED leg it also restores the documented semantics).
        val sem = semantic
          .select(col(semanticIdCol).as(idCol),
            col(semanticScoreCol).as("__sem"))
          .orderBy(col("__sem").desc, col(idCol))
          .limit(candidates)
        rrfFuseBounded(Map(
            "lexical" -> ((lex, "bm25")),
            "semantic" -> ((sem, "__sem"))), idCol, k = rrfK)
          .orderBy(col("rrf_score").desc, col(idCol))
          .limit(k)
          .withColumn("rank",
            row_number().over(Window.orderBy(col("rrf_score").desc,
              col(idCol))).cast("long"))
    }
  }

  /** Per-query fused top-k over ANY set of batch ranking signals —
    * [[rrfFuseGrouped]] plus the ranked truncation, as one public
    * surface so a retrieval stack composed from the INDEXED legs
    * ([[bm25TopKIndexed]], [[graft.operators.Similarity
    * .ivfProbe]], each with or without a predicate) — or from
    * three-plus signals — fuses without [[searchPipelineBatch]]'s
    * built-in direct-batch lexical leg. Returns (`queryCol`, `idCol`,
    * `n_signals`, `rrf_score`, `rank` 1..k), <= k rows per query,
    * ranked (rrf_score desc, id) within each query. Every signal row
    * fuses: it makes no candidate cut of its own, so pass legs that
    * are already as deep as they should count ([[searchPipelineBatch]]
    * cuts its semantic leg to `candidates` per query first). */
  def rrfTopKGrouped(signals: Map[String, (DataFrame, String)],
                     queryCol: String, idCol: String, k: Int,
                     rrfK: Int = 60): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    rrfFuseGrouped(signals, queryCol, idCol, k = rrfK)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(queryCol))
          .orderBy(col("rrf_score").desc, col(idCol))).cast("long"))
      .filter(col("rank") <= k)
  }

  /** The MMR stage of [[searchPipelineBatch]]: the corpus vector table
    * (`vectors`, ids in `vecIdCol`, embeddings in `vecCol`) and the
    * relevance / diversity trade-off `lambda` of
    * [[graft.operators.Similarity.mmrRerankBatch]]. */
  final case class Mmr(vectors: DataFrame, vecIdCol: String,
                       vecCol: String, lambda: Double)

  /** Batch hybrid retrieval — [[searchPipeline]] for a query TABLE,
    * in ONE job (the [[bm25TopKBatch]] principle; a retrieval workload
    * is n queries, and one Spark job per query is the driver-side
    * bottleneck pattern this repo refuses): [[bm25TopKBatch]] lexical
    * candidates fused per query with a batch SEMANTIC ranking (any
    * (query, id, score) relation — [[graft.operators.Similarity
    * .cosineTopKBatch]] as the exact baseline, per-query IVF/PQ probes
    * at scale) through [[rrfTopKGrouped]]. Returns (`queryIdCol`,
    * `idCol`, `n_signals`, `rrf_score`, `rank` 1..k) with <= k rows
    * per query, ranked (rrf_score desc, id) within each query.
    *
    * Each leg fuses its own `candidates`-deep ranking per query: the
    * lexical leg by [[bm25TopKBatch]]'s own limit, the semantic leg by
    * a per-query (score desc, id) cut — so a query's rows equal
    * [[searchPipeline]]'s for that query, whatever the depth of the
    * leg the caller passes. A query found by only one leg still fuses
    * (`n_signals` = 1); a query matching NOTHING in either leg
    * contributes no rows (the [[bm25TopKBatch]] convention).
    *
    * `predicate` ("hybrid search WHERE label = X") filters the lexical
    * candidates inside the scoring pass ([[bm25TopKBatch]]'s filter
    * contract: full-corpus statistics, restricted before the top-k).
    * `semantic` must then be an ALREADY-FILTERED batch ranking —
    * [[graft.operators.Similarity.ivfProbe]] with a predicate at scale,
    * or a predicate-filtered [[graft.operators.Similarity
    * .cosineTopKBatch]] as the exact baseline. The semantic leg's
    * filter runs inside ITS probe, where the index's metadata lives;
    * this operator cannot re-filter an arbitrary score relation, so an
    * unfiltered ranking post-filters by fusion rank and LOSES recall
    * (spec-pinned).
    *
    * `mmr` adds a maximal-marginal-relevance stage: the fused per-query
    * pool (top `candidates` by rrf_score) is re-ranked by
    * [[graft.operators.Similarity.mmrRerankBatch]], so near-duplicate
    * candidates stop crowding out coverage. The pool is broadcast onto
    * `vectors` (the corpus is never shuffled). Returns (`queryIdCol`,
    * `idCol`, `mmr`, `rank` 1..k) in greedy selection order; `lambda =
    * 1` IS the plain ranking (spec-pinned; `q_search_diversified`'s
    * unrolled greedy oracle gates lambda < 1). Both id columns must be
    * integral (the MMR group key — rejected loudly otherwise), and
    * `vectors` must carry ONE row per candidate id (a missing vector
    * fails loudly; a duplicated id trips the pool's duplicate guard).
    *
    * Scale shape: both legs are one-job batch retrievers; fusion
    * operates on <= 2 x candidates rows PER QUERY through
    * query-partitioned windows (bounded partitions), and the final
    * per-query top-k is one more WindowGroupLimit — nothing scales
    * with the corpus except inside the legs themselves. */
  def searchPipelineBatch(docs: DataFrame, idCol: String,
                          textCol: String, queries: DataFrame,
                          queryIdCol: String, queryTextCol: String,
                          semantic: DataFrame, semanticQueryCol: String,
                          semanticIdCol: String,
                          semanticScoreCol: String, k: Int,
                          candidates: Int = 100,
                          rrfK: Int = 60,
                          predicate: Option[Column] = None,
                          mmr: Option[Mmr] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(candidates >= k,
      s"candidates ($candidates) must be >= k ($k)")
    val lex = bm25TopKBatch(docs, idCol, textCol, queries, queryIdCol,
        queryTextCol, candidates, predicate)
      .select(col(queryIdCol), col(idCol), col("bm25"))
    val sem = semantic.select(
        col(semanticQueryCol).as(queryIdCol),
        col(semanticIdCol).as(idCol),
        col(semanticScoreCol).as("__sem"))
      .withColumn("__sr", row_number().over(
        Window.partitionBy(col(queryIdCol))
          .orderBy(col("__sem").desc, col(idCol))))
      .filter(col("__sr") <= candidates)
      .drop("__sr")
    val fused = rrfTopKGrouped(Map(
        "lexical" -> ((lex, "bm25")),
        "semantic" -> ((sem, "__sem"))), queryIdCol, idCol,
      k = if (mmr.isDefined) candidates else k, rrfK = rrfK)
    mmr.fold(fused)(m => diversifyFused(fused, queryIdCol, idCol, m, k))
  }

  /** The MMR stage of [[searchPipelineBatch]]: attach the
    * candidate vectors (pool broadcast onto the vector table — the
    * corpus is never shuffled), greedy-select with rrf_score as the
    * relevance, restore the caller's id column name. A fused
    * candidate with NO row in `vectors` fails loudly in-pass (a
    * silent inner join would shrink the pool and return fewer than k
    * rows with no error — the house's loud-guard rule); a DUPLICATED
    * vector id is caught by [[graft.operators.Similarity
    * .mmrRerankBatch]]'s per-pool duplicate guard. */
  private def diversifyFused(fused: DataFrame, queryIdCol: String,
                             idCol: String, m: Mmr, k: Int): DataFrame = {
    graft.operators.Similarity.requireIntegralIds(fused,
      Seq(queryIdCol, idCol), "searchPipelineBatch")
    val cands = fused.select(col(queryIdCol), col(idCol),
      col("rrf_score"))
    // ONE corpus pass (inner broadcast join — an outer join preserving
    // the broadcast side has no BHJ shape and would shuffle the
    // corpus), eagerly materialized: the pool is <= |q| x candidates
    // rows, and everything after — the coverage check and the greedy
    // stage — works off the cached copy
    val pool = graft.operators.Materialize(
      m.vectors.select(col(m.vecIdCol).as(idCol), col(m.vecCol).as("__mmrv"))
        .join(broadcast(cands), Seq(idCol)),
      eager = true)
    val missing = cands.select(col(queryIdCol), col(idCol))
      .join(pool.select(col(queryIdCol), col(idCol)),
        Seq(queryIdCol, idCol), "left_anti")
      .limit(3).collect()
    require(missing.isEmpty,
      "searchPipelineBatch: fused candidate ids " +
        missing.map(_.get(1)).mkString("[", ", ", "]") +
        " have no row in the vector table — `vectors` must cover " +
        "every candidate id (a silent drop would return fewer than " +
        "k rows per query)")
    val picked = graft.operators.Similarity.mmrRerankBatch(pool,
      queryIdCol, idCol, "rrf_score", "__mmrv", k, m.lambda)
    if (idCol == "id") picked
    else picked.withColumnRenamed("id", idCol)
  }

  /** Top-`k` terms per document by tf-idf (classic
    * `tf * ln(N / df)`) — keyword extraction for corpus exploration,
    * topic labeling, and cheap near-dup features. Returns (`idCol`,
    * `term`, `tfidf` rounded 4, `rank` 1..k), ranked per doc over the
    * ROUNDED score with term tie-break (the deterministic
    * cross-engine rule); terms in every document score exactly 0
    * (ln 1) and still rank by tie-break if they make the cut.
    *
    * Scale shape: explode -> one (doc, term) hash aggregation; df
    * rolls up FROM that aggregate (one relation feeds both counts, the
    * [[trainNbQuality]] lesson); the df rejoin shuffles on the term
    * key — the vocabulary is corpus-scaled, so df is NOT assumed
    * broadcastable (contrast [[bm25TopK]], which prunes to |q| terms
    * first); the per-doc top-k compiles to WindowGroupLimit. */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val base = docs.filter(nonBlank(col(textCol)))
      .select(col(idCol), tokens(col(textCol)).as("__tk"))
    val n = base.agg(count(lit(1)).cast("double").as("__n"))
    val tf = base
      .select(col(idCol), explode(col("__tk")).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("__tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .select(col(idCol), col("term"),
        (round(col("__tf").cast("double")
          * log(col("__n") / col("__df").cast("double")), 4) + lit(0.0d))
          .as("tfidf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tfidf"),
        col("rank").cast("long").as("rank"))
  }

  /** Temperature-scaled domain mixture weights — the multinomial
    * sampling knob multilingual/multi-domain LM training uses (e.g.
    * the mBERT/XLM-R exponent): `w_g = p_g^tau / sum_j p_j^tau` where
    * `p_g` is the domain's natural share of documents. `tau = 1` keeps
    * natural proportions; `tau -> 0` flattens toward uniform
    * (upweighting small domains/languages); `tau > 1` sharpens toward
    * the head. Returns (`groupCol`, `n_docs`, `weight` rounded 6,
    * summing to ~1 up to rounding); NULL-group rows are excluded.
    * Feed the result into [[mixtureSelect]] (weights are bounded
    * domain metadata — a collect of per-domain rows is the documented
    * exception class, like centroid fits).
    *
    * Scale shape: one hash aggregation to per-domain counts (domains,
    * not corpus, from there on), then two single-row broadcasts — the
    * corpus is scanned once. `pow` is libm on both engines (1-ulp
    * hazard class); round-6 absorbs it, the [[unigramLogProb]] float
    * register. */
  def temperatureWeights(docs: DataFrame, groupCol: String,
                         tau: Double): DataFrame = {
    require(tau > 0 && tau <= 10,
      s"tau out of range (0, 10]: $tau")
    val counts = docs.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol)).agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum(col("n_docs")).cast("double").as("__t"))
    val raw = counts.crossJoin(broadcast(total))
      .select(col(groupCol), col("n_docs"),
        pow(col("n_docs").cast("double") / col("__t"), lit(tau))
          .as("__w"))
    val wsum = raw.agg(sum(col("__w")).as("__ws"))
    raw.crossJoin(broadcast(wsum))
      .select(col(groupCol), col("n_docs"),
        (round(col("__w") / col("__ws"), 6) + lit(0.0d)).as("weight"))
  }

  /** BM25 top-k lexical retrieval (Robertson–Spärck Jones; the Lucene
    * `+1` idf flavor, so idf is always positive even for terms in more
    * than half the corpus): score every document containing at least
    * one query term by
    * `sum_t idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))`
    * with `idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)`, and return
    * the global top `k` as (`idCol`, `bm25` rounded 4, `n_terms` =
    * distinct query terms matched). Ranking is over the ROUNDED score
    * with id tie-break — deterministic and engine-portable (the
    * argmax-after-round rule [[nbScore]] uses). Duplicate query terms
    * are collapsed (distinct-term semantics, documented).
    *
    * The retrieval member of the curation family: decontamination and
    * targeted corpus search want "find the docs most about X" without
    * an embedding index, and BM25 is the standard lexical baseline.
    *
    * Scale shape: the posting prune comes FIRST — tokens filter to the
    * |q| query terms (a broadcast-able isin) before any aggregation,
    * so the tf table holds only matching (doc, term) pairs, like a
    * search engine reading |q| posting lists rather than the corpus.
    * The doc length rides each posting row through the explode (a
    * per-row constant) rather than joining a corpus-sized lengths
    * relation back in — the ONLY corpus-wide work is the scan itself
    * and the single-row (N, avgdl) aggregate on a broadcast; term df
    * aggregates the tiny tf table; the global top-k compiles to
    * TakeOrderedAndProject (per-partition heaps, no full sort). No
    * window, no collect, no corpus-sized join anywhere. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(queryTerms.nonEmpty, "bm25TopK: empty query")
    require(k1 >= 0 && b >= 0 && b <= 1,
      s"BM25 params out of range: k1=$k1 b=$b")
    val terms = queryTerms.distinct
    val base = docs.filter(nonBlank(col(textCol)))
      .select(col(idCol), tokens(col(textCol)).as("__tk"))
    val stats = base.agg(count(lit(1)).cast("double").as("__n"),
      avg(size(col("__tk"))).as("__avgdl"))
    val tf = base
      .select(col(idCol), size(col("__tk")).as("__dl"),
        explode(col("__tk")).as("__t"))
      .filter(col("__t").isin(terms: _*))
      .groupBy(col(idCol), col("__t"))
      .agg(count(lit(1)).as("__tf"), max(col("__dl")).as("__dl"))
    val df = tf.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    tf.join(broadcast(df), Seq("__t"))
      .crossJoin(broadcast(stats))
      .groupBy(col(idCol))
      .agg(
        sum(log((col("__n") - col("__df").cast("double") + lit(0.5d))
            / (col("__df").cast("double") + lit(0.5d)) + lit(1.0d))
          * col("__tf").cast("double") * lit(k1 + 1.0d)
          / (col("__tf").cast("double")
            + lit(k1) * (lit(1.0d) - lit(b)
              + lit(b) * col("__dl").cast("double") / col("__avgdl"))))
          .as("__s"),
        count(lit(1)).as("n_terms"))
      .select(col(idCol),
        (round(col("__s"), 4) + lit(0.0d)).as("bm25"), col("n_terms"))
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)
  }

  /** Batch BM25 — [[bm25TopK]] for a query TABLE (r14 verdict #4):
    * the shape a retrieval WORKLOAD actually has. ONE job scores every
    * query: the corpus is tokenized once, postings prune to the
    * batch's combined vocabulary, per-term document frequencies and
    * the (N, avgdl) stats are shared across queries, and the per-query
    * top-k runs as a partial-then-final WindowGroupLimit — no
    * one-Spark-job-per-query driver loop (at 100 TB that loop is the
    * driver-side bottleneck pattern this repo refuses elsewhere).
    *
    * Per query the result is IDENTICAL to [[bm25TopK]] called with
    * that query's distinct terms (equivalence law pinned in
    * CorpusOpsSpec): same Lucene +1-idf, same rounded-score ranking
    * with ascending-id tie-break. Returns (`queryIdCol`, `idCol`,
    * `bm25`, `n_terms`) with <= k rows per query; blank queries and
    * queries whose terms match no document contribute no rows.
    *
    * Scale shape: the batch vocabulary (distinct query terms) rides a
    * broadcast semi-join into the posting scan — bounded by the QUERY
    * table's vocabulary, not the corpus's; doc length rides each
    * posting row (never a corpus-sized lengths join — the r14 bm25
    * lesson, 14.5 -> 4.1 s); the (term -> query) fanout join is a
    * broadcast of the exploded query terms. The only corpus-scaling
    * exchanges are the (doc, term) tf aggregation and the
    * (query, doc) score aggregation — both on well-distributed
    * composite keys, so hot terms shared by many queries fan out in
    * the map side of the score agg, not into one task.
    *
    * `predicate` (over `docs`' metadata columns) is the LEXICAL leg of
    * filtered retrieval: it restricts WHICH documents compete, BEFORE
    * the per-query top-k — never a post-filter of a truncated ranking,
    * so a selective filter costs nothing in recall (that failure mode
    * is spec-pinned). Corpus statistics keep the Lucene filter-context
    * semantics: idf (df), N and avgdl come from the FULL corpus — the
    * filter names a candidate subset, it does not re-weigh the
    * collection — so a document's score is IDENTICAL to its unfiltered
    * score (spec-pinned). The predicate is one boolean riding the
    * tokenize pass (evaluated once per doc, carried through the tf
    * aggregation): no extra join, no second corpus scan. Identical
    * arithmetic on the indexed probe ([[bm25TopKIndexed]] with the same
    * predicate — equivalence law spec-pinned). */
  def bm25TopKBatch(docs: DataFrame, idCol: String, textCol: String,
                    queries: DataFrame, queryIdCol: String,
                    queryTextCol: String, k: Int,
                    predicate: Option[Column] = None,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(k1 >= 0 && b >= 0 && b <= 1,
      s"BM25 params out of range: k1=$k1 b=$b")
    val qterms = queries.filter(nonBlank(col(queryTextCol)))
      .select(col(queryIdCol), explode(tokens(col(queryTextCol))).as("__t"))
      .distinct()
    val base = docs.filter(nonBlank(col(textCol)))
      .select(col(idCol) +: tokens(col(textCol)).as("__tk") +:
        predicate.map(_.as("__keep")).toSeq: _*)
    val stats = base.agg(count(lit(1)).cast("double").as("__n"),
      avg(size(col("__tk"))).as("__avgdl"))
    val tf = base
      .select(col(idCol) +: size(col("__tk")).as("__dl") +:
        explode(col("__tk")).as("__t") +:
        predicate.map(_ => col("__keep")).toSeq: _*)
      .join(broadcast(qterms.select(col("__t")).distinct()), Seq("__t"),
        "left_semi")
      .groupBy(col(idCol), col("__t"))
      .agg(count(lit(1)).as("__tf"),
        max(col("__dl")).as("__dl") +:
          predicate.map(_ => max(col("__keep")).as("__keep")).toSeq: _*)
    // df over the UNFILTERED (vocabulary-pruned) tf — full-corpus idf
    val df = tf.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    // the candidate restriction: after df, before scoring and top-k
    predicate.fold(tf)(_ => tf.filter(col("__keep")))
      .join(broadcast(df), Seq("__t"))
      .crossJoin(broadcast(stats))
      .select(col(idCol), col("__t"),
        (log((col("__n") - col("__df").cast("double") + lit(0.5d))
            / (col("__df").cast("double") + lit(0.5d)) + lit(1.0d))
          * col("__tf").cast("double") * lit(k1 + 1.0d)
          / (col("__tf").cast("double")
            + lit(k1) * (lit(1.0d) - lit(b)
              + lit(b) * col("__dl").cast("double") / col("__avgdl"))))
          .as("__c"))
      .join(broadcast(qterms), Seq("__t"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum(col("__c")).as("__s"), count(lit(1)).as("n_terms"))
      .withColumn("bm25", round(col("__s"), 4) + lit(0.0d))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(queryIdCol))
          .orderBy(col("bm25").desc, col(idCol))))
      .filter(col("__rn") <= k)
      .select(col(queryIdCol), col(idCol), col("bm25"), col("n_terms"))
  }

  /** Posting-leaf fanout of the persisted BM25 index (the
    * [[SpanIndexMods]] convention applied to terms). */
  val Bm25IndexMods = 64

  /** Resolved physical locations of a persisted BM25 index: posting
    * leaves, df table, stats table, tombstones — the legacy sibling
    * layout (`<path>`, `<path>.df`, `<path>.stats`,
    * `<path>.tombstones`) or, for an index whose compaction went
    * versioned ([[bm25IndexCompact]]`(versioned = true)`), the
    * current hidden `.v<N>` generation under the root — the
    * [[graft.operators.Similarity]] versioned-swap convention
    * (`.current` pointer, rename-with-overwrite flip, one-generation
    * reader grace). Every reader and writer resolves through this,
    * so legacy indexes behave byte-identically. */
  private[graft] final case class Bm25Roots(postings: String, df: String,
                                     stats: String, tombstones: String)

  private[graft] def bm25Roots(spark: org.apache.spark.sql.SparkSession,
                        path: String): Bm25Roots =
    Similarity.readIndexVersion(spark, path) match {
      case Some(n) => Bm25Roots(s"$path/.v$n/postings",
        s"$path/.v$n/df", s"$path/.v$n/stats", s"$path/.v$n/tombstones")
      case None => Bm25Roots(path, s"$path.df", s"$path.stats",
        s"$path.tombstones")
    }

  /** Persist an inverted BM25 posting index — the retrieval answer at
    * 100 TB, where [[bm25TopKBatch]]'s one-job shape still pays the
    * corpus tokenize+explode scan on EVERY batch of queries: here that
    * scan is paid ONCE at ingest, and probes read only the posting
    * leaves their terms hash into. Layout: one row per (doc, term) —
    * `(term, id, tf, dl)` — hive-partitioned into [[Bm25IndexMods]]
    * leaves by `xxhash64(term) mod`; corpus stats land as ONE
    * `(n_docs, sum_dl)` row per build at `path + ".stats"`.
    *
    * APPEND-friendly by the house index contract
    * ([[graft.operators.Dedup.buildExactIndex]] /
    * [[buildSpanIndex]]): later corpora `mode("append")` additional
    * posting rows under the same layout plus one more stats row —
    * no read-modify-write, ever. Probe-time df counts rows per term
    * and the stats SUM across rows, so an appended index probes
    * exactly like a one-shot build over the union (law pinned in
    * CorpusOpsSpec).
    *
    * PRECONDITION — unique doc ids across builds: the union law
    * assumes each doc id appears in at most one build. A re-appended
    * id keeps BOTH copies' posting rows (each scored as its own row —
    * BM25 tf saturation applied per copy, never on the merged tf) and
    * df/n_docs count the doc twice, so probes diverge from a fresh
    * build and the duplicated doc's score inflates. The flat layout
    * carries no build marker, so nothing can arbitrate which copy is
    * current — dedup ids upstream, or ingest updates through
    * [[bm25IndexIncrement]]'s batch layout, where
    * [[bm25IndexCompact]] heals duplicates to the latest batch. */
  /** The shared posting aggregation of [[buildBm25Index]] /
    * [[bm25IndexIncrement]]: one row per (doc, term) with
    * `(tf, dl[, extras, ]tmod)`. extraCols are aggregated OUT of the
    * group key (min == max == the value) and constancy per (id, term)
    * is asserted IN-PASS via `raise_error` — a per-row-varying
    * metadata column (the r17 advice hazard: it would have silently
    * inflated posting cardinality and the df table, skewing every
    * score) now fails the build loudly at write time, with no extra
    * job. All-null extras pass (one value: null); a mixed null/value
    * extra within one (id, term) group fails like any other
    * non-constant one. */
  private def bm25PostingRows(base: DataFrame, extraCols: Seq[String],
                              face: String): DataFrame = {
    val exploded = base
      .select(col("id") +: size(col("__tk")).as("dl") +:
        explode(col("__tk")).as("term") +: extraCols.map(col): _*)
    val aggs = Seq(count(lit(1)).as("tf"), max(col("dl")).as("dl")) ++
      extraCols.flatMap(e => Seq(
        min(col(e)).as(s"__mn_$e"), max(col(e)).as(s"__mx_$e"),
        count(col(e)).as(s"__ct_$e")))
    val grouped = exploded.groupBy(col("id"), col("term"))
      .agg(aggs.head, aggs.tail: _*)
    extraCols.foldLeft(grouped) { (df, e) =>
        df.withColumn(e,
            when(col(s"__mn_$e") <=> col(s"__mx_$e") &&
                (col(s"__ct_$e") === 0L || col(s"__ct_$e") === col("tf")),
              col(s"__mn_$e"))
              .otherwise(raise_error(concat(
                lit(s"$face: metadata column '$e' is not constant " +
                  "within doc id "), col("id").cast("string"),
                lit(" — extraCols must be doc-level metadata (one " +
                  "value per id); a per-row-varying column would " +
                  "inflate posting cardinality and skew every score")))
                .cast(df.schema(s"__mn_$e").dataType)))
          .drop(s"__mn_$e", s"__mx_$e", s"__ct_$e")
      }
      .withColumn("tmod",
        pmod(xxhash64(col("term")), lit(Bm25IndexMods.toLong)).cast("int"))
  }

  def buildBm25Index(docs: DataFrame, idCol: String, textCol: String,
                     path: String, mode: String = "overwrite",
                     filesPerLeaf: Int = 4,
                     extraCols: Seq[String] = Nil): Unit = {
    require(filesPerLeaf >= 1,
      s"filesPerLeaf must be >= 1: $filesPerLeaf")
    val roots = bm25Roots(docs.sparkSession, path)
    val statsMode = if (mode == "overwrite") "overwrite" else "append"
    // extraCols ride INSIDE the posting rows (the [[graft.operators
    // .Similarity]] ivfAssigned convention) so a filtered probe
    // ([[bm25TopKIndexed]] with a predicate) evaluates it straight
    // off the pruned posting scan — no id-join per probe; constancy
    // per doc id is ASSERTED in the aggregation ([[bm25PostingRows]])
    val base = docs.filter(nonBlank(col(textCol)))
      .select(col(idCol).as("id") +: tokens(col(textCol)).as("__tk") +:
        extraCols.map(col): _*)
    val postings = bm25PostingRows(base, extraCols, "buildBm25Index")
    // cluster rows onto (leaf, id-salt) BEFORE the partitioned write.
    // Both extremes hurt the probe, and both were MEASURED at the
    // 500k tier (SCALE.md): a partitionBy straight off the unrelated
    // tf shuffle splinters (shuffle partitions x leaves) files and the
    // probe drowns in file-open scheduling (115 s); exactly one file
    // per leaf caps the probe's scan parallelism at the probed-leaf
    // count while the downstream (query x doc) fanout wants every
    // core (57 s on the worst-case batch). filesPerLeaf id-salted
    // files per leaf keeps both dials open; size the salt up (or
    // spark.sql.files.maxRecordsPerFile down) as the corpus grows.
    postings.repartition(Bm25IndexMods * filesPerLeaf, col("tmod"),
        pmod(xxhash64(col("id")), lit(filesPerLeaf.toLong)))
      .write.mode(mode).partitionBy("tmod").parquet(roots.postings)
    // df rides its own leaf table (one row per term per build; probes
    // SUM across builds — append-friendly), so probing never scans the
    // posting leaves twice. Vocabulary-sized, so it clusters by leaf
    // like the postings — never through one task
    postings.groupBy(col("term"), col("tmod"))
      .agg(count(lit(1)).as("df"))
      .repartition(Bm25IndexMods, col("tmod"))
      .write.mode(mode).partitionBy("tmod").parquet(roots.df)
    base.agg(count(lit(1)).as("n_docs"),
        sum(size(col("__tk")).cast("long")).as("sum_dl"))
      .write.mode(statsMode).parquet(roots.stats)
  }

  /** One micro-batch increment of the persisted BM25 index — the
    * streaming face of [[buildBm25Index]] (crawl-to-searchable-index
    * ingest). Each batch's posting, df and stats rows OVERWRITE their
    * own `batch=<id>` subtree of the respective table — the house
    * per-batch-directory replay contract ([[graft.streaming
    * .EventStreams.drainBatches]]): postings are a pure function of
    * the batch (no cross-batch state is read), so a crashed-and-
    * replayed batch rewrites identical rows instead of
    * double-appending. [[bm25TopKIndexed]] probes a batch-incremental
    * layout unchanged (df/stats SUM across rows; the extra `batch`
    * partition column just rides along) — but don't MIX one-shot and
    * batch layouts under one path: inconsistent partition-directory
    * depth breaks discovery ([[bm25IndexCompact]] preserves whichever
    * layout it finds for exactly this reason; `batch=-1` is its
    * reserved fold target, so increment batch ids must stay
    * non-negative — Structured Streaming's always are).
    *
    * Duplicate doc ids ACROSS batches (a re-crawled / updated doc)
    * are tolerated but divergent until compaction: both batches'
    * posting rows score as separate rows and df/n_docs count the doc
    * per batch, so the duplicated doc's score inflates relative to a
    * fresh build over the latest versions. [[bm25IndexCompact]] is
    * the healing point — its fold keeps only each id's LATEST batch
    * (upsert semantics). Ids must be unique WITHIN a batch, as in
    * [[buildBm25Index]]. */
  def bm25IndexIncrement(batch: DataFrame, idCol: String,
                         textCol: String, path: String, batchId: Long,
                         filesPerLeaf: Int = 4,
                         extraCols: Seq[String] = Nil): Unit = {
    require(filesPerLeaf >= 1,
      s"filesPerLeaf must be >= 1: $filesPerLeaf")
    require(batchId >= 0,
      s"batchId must be >= 0 (batch=-1 is bm25IndexCompact's " +
        s"reserved fold target): $batchId")
    val base = batch.filter(nonBlank(col(textCol)))
      .select(col(idCol).as("id") +: tokens(col(textCol)).as("__tk") +:
        extraCols.map(col): _*)
    val postings = bm25PostingRows(base, extraCols,
      "bm25IndexIncrement")
    val roots = bm25Roots(batch.sparkSession, path)
    postings.repartition(Bm25IndexMods * filesPerLeaf, col("tmod"),
        pmod(xxhash64(col("id")), lit(filesPerLeaf.toLong)))
      .write.mode("overwrite").partitionBy("tmod")
      .parquet(s"${roots.postings}/batch=$batchId")
    postings.groupBy(col("term"), col("tmod"))
      .agg(count(lit(1)).as("df"))
      .repartition(Bm25IndexMods, col("tmod"))
      .write.mode("overwrite").partitionBy("tmod")
      .parquet(s"${roots.df}/batch=$batchId")
    base.agg(count(lit(1)).as("n_docs"),
        sum(size(col("__tk")).cast("long")).as("sum_dl"))
      .write.mode("overwrite")
      .parquet(s"${roots.stats}/batch=$batchId")
  }

  /** Tombstone documents out of a persisted BM25 index — the takedown
    * / right-to-be-forgotten path, where rewriting a 100 TB index per
    * deletion is not an option: ids append to `$path.tombstones`
    * (append-only like every other write on the index; repeats are
    * harmless — anti-join semantics absorb them), and probes exclude
    * tombstoned documents IMMEDIATELY and exactly. Corpus statistics
    * (df, N, avgdl) stay as built until [[bm25IndexCompact]] — the
    * Lucene segment model: deletes are visible at once, statistics
    * heal at the explicit merge. Deleted docs can therefore still
    * slightly influence OTHER documents' scores (never appear
    * themselves) in the window between delete and compact —
    * documented, not silent. */
  def bm25IndexDelete(path: String, ids: DataFrame,
                      idCol: String): Unit =
    ids.select(col(idCol).as("id")).distinct()
      .write.mode("append")
      .parquet(bm25Roots(ids.sparkSession, path).tombstones)

  /** Compact a tombstoned BM25 index: rewrite the posting leaves
    * without deleted documents, recompute the df and stats tables from
    * the survivors, and clear the tombstone table — the ONE explicit
    * read-modify-write moment this index has (the
    * [[graft.operators.Layout]] compaction precedent; everything else
    * is append-only). The surviving postings are eagerly materialized
    * through [[Materialize]] BEFORE the overwrite (the house
    * mutate-then-reread protection — and the reliable-checkpoint route
    * on a real cluster), so the rewrite can never re-read the tree it
    * is replacing. A compacted index probes EXACTLY like a fresh
    * [[buildBm25Index]] over the surviving corpus (gate-pinned).
    *
    * The rewrite PRESERVES the input's layout: a flat one-shot index
    * ([[buildBm25Index]] + appends) compacts in place as before, and a
    * batch-incremental index ([[bm25IndexIncrement]], per micro-batch
    * of a [[graft.streaming.EventStreams.drainBatches]]) folds
    * every `batch=<id>` subtree into a single reserved `batch=-1`
    * subtree on all three tables — NEVER into the flat layout, which
    * would sit beside the next stream increment's `batch=<id>`
    * directory at a conflicting partition depth and brick discovery
    * for every subsequent probe. Stream batch ids are non-negative,
    * so `batch=-1` can never collide with a later increment, and a
    * repeated compaction just refolds it. The batch-layout compact is
    * also the UPSERT-healing point: when the same doc id landed in
    * more than one batch (the re-crawl / update case), only that id's
    * LATEST batch's rows survive the fold and the recomputed df/stats
    * count the doc once — see [[bm25IndexIncrement]]'s documented
    * pre-compact divergence window.
    *
    * Crash note: survivors land in their target BEFORE superseded
    * batch subtrees are deleted and tombstones cleared, so a crash in
    * between leaves duplicate postings (df temporarily inflated,
    * deletes still masked by the uncleared tombstones) — re-running
    * compact heals completely, because the latest-batch fold
    * supersedes the stale `batch=-1` copy.
    *
    * Concurrency (same contract as [[graft.operators.Similarity
    * .ivfRetrain]]): the IN-PLACE compact overwrites its own root —
    * pause probes and ingest across it. The VERSIONED compact makes
    * probes pause-free (they keep their resolved generation, retained
    * one cycle), and ingest that COMPLETES before the pointer flip is
    * caught by the late-arrival fold ([[foldLateBm25]], repeated until
    * a pass finds nothing new); a write still mid-flight at the final
    * re-list must be replayed (the increment face's per-batch
    * overwrite makes replay safe) — or pause ingest across the flip
    * for a hard guarantee. */
  def bm25IndexCompact(spark: org.apache.spark.sql.SparkSession,
                       path: String, filesPerLeaf: Int = 4,
                       versioned: Boolean = false): Unit = {
    require(filesPerLeaf >= 1,
      s"filesPerLeaf must be >= 1: $filesPerLeaf")
    val roots = bm25Roots(spark, path)
    val curVersion = Similarity.readIndexVersion(spark, path)
    val tombPath = new org.apache.hadoop.fs.Path(roots.tombstones)
    val fs = tombPath.getFileSystem(spark.sessionState.newHadoopConf())
    def batchDirs(r: String) = {
      val p = new org.apache.hadoop.fs.Path(r)
      if (fs.exists(p))
        fs.listStatus(p).toSeq.filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("batch="))
      else Seq.empty
    }
    val batchLayout = batchDirs(roots.postings).nonEmpty
    val willVersion = versioned || curVersion.isDefined
    // snapshot the exact files this compact reads (r16 advice: the
    // late-arrival fold of the VERSIONED path diffs against these
    // after the rewrite; the in-place path overwrites its own root —
    // there concurrent ingest stays the documented pause, so it skips
    // the df/stats listings, which on an object store are the
    // compact's dominant metadata cost). The postings/tombstone
    // snapshots reuse the scans' own already-materialized file
    // indexes (inputFiles) — no extra listing either way.
    val raw = spark.read.parquet(roots.postings)
    val postingsSnapshot = raw.inputFiles
      .map(new org.apache.hadoop.fs.Path(_).toString).toSet
    val dfSnapshot =
      if (willVersion)
        graft.operators.Similarity.listDataFiles(spark, roots.df)
      else Set.empty[String]
    val statsSnapshot =
      if (willVersion)
        graft.operators.Similarity.listDataFiles(spark, roots.stats)
      else Set.empty[String]
    val tombDf =
      if (fs.exists(tombPath)) Some(spark.read.parquet(roots.tombstones))
      else None
    val tombSnapshot = tombDf.map(_.inputFiles
      .map(new org.apache.hadoop.fs.Path(_).toString).toSet)
      .getOrElse(Set.empty[String])
    val survivors = Materialize(
      {
        val deduped =
          if (batchLayout) {
            // upsert healing: per id only its latest batch's rows
            // survive the fold (id-sized build side)
            val latest = raw.groupBy(col("id"))
              .agg(max(col("batch")).as("batch"))
            raw.join(latest, Seq("id", "batch"))
          } else raw
        // metadata columns riding the posting rows (the filtered-
        // retrieval surface, [[buildBm25Index]]'s extraCols) survive
        // the rewrite
        val keep = raw.columns.toSeq.filterNot(Set("batch"))
        val p = deduped.select(keep.map(col): _*)
        tombDf.fold(p)(t => p.join(t, Seq("id"), "left_anti"))
      },
      eager = true)
    // compact target: in-place fold (flat root / reserved batch=-1),
    // or — versioned (the graft.operators.Similarity versioned-swap
    // contract, opt-in and sticky) — the next hidden generation,
    // published by a pointer flip so probes and increments need no
    // pause; the prior generation is retained one cycle as grace
    val out: Bm25Roots =
      if (versioned || curVersion.isDefined) {
        val nextN = curVersion.getOrElse(0) + 1
        Bm25Roots(s"$path/.v$nextN/postings", s"$path/.v$nextN/df",
          s"$path/.v$nextN/stats", s"$path/.v$nextN/tombstones")
      } else roots
    val inPlace = out == roots
    def target(r: String) = if (batchLayout) s"$r/batch=-1" else r
    def dropSuperseded(r: String): Unit =
      if (inPlace && batchLayout)
        batchDirs(r).filter(_.getPath.getName != "batch=-1")
          .foreach(st => fs.delete(st.getPath, true))
    survivors.repartition(Bm25IndexMods * filesPerLeaf, col("tmod"),
        pmod(xxhash64(col("id")), lit(filesPerLeaf.toLong)))
      .write.mode("overwrite").partitionBy("tmod")
      .parquet(target(out.postings))
    survivors.groupBy(col("term"), col("tmod"))
      .agg(count(lit(1)).as("df"))
      .repartition(Bm25IndexMods, col("tmod"))
      .write.mode("overwrite").partitionBy("tmod")
      .parquet(target(out.df))
    // per-doc length rides every posting row; one distinct pass
    // recovers exact (n_docs, sum_dl) for the survivors
    survivors.select(col("id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n_docs"),
        sum(col("dl").cast("long")).as("sum_dl"))
      .write.mode("overwrite").parquet(target(out.stats))
    if (inPlace) {
      dropSuperseded(roots.postings)
      dropSuperseded(roots.df)
      dropSuperseded(roots.stats)
      fs.delete(tombPath, true)
    } else {
      // late-arrival fold (r16 advice): increments/appends/deletes
      // that landed in the superseded generation after the snapshot
      // read are folded into the new one BEFORE the pointer flips —
      // postings are a pure function of their batch (no model), so
      // the fold copies late `batch=<id>` subtrees (and, flat, late
      // files) verbatim across all three tables; repeated until a
      // pass finds nothing new. A write still mid-flight at the final
      // re-list must be replayed (the increment face's per-batch
      // overwrite makes that safe) — or pause ingest across the flip.
      var snapP = postingsSnapshot
      var snapDf = dfSnapshot
      var snapS = statsSnapshot
      var snapT = tombSnapshot
      var folded = 1
      var passes = 0
      while (folded > 0) {
        passes += 1
        // bounded (r17 advice): ingest landing >= 1 file per pass
        // would otherwise livelock the compact; fail loudly with the
        // remediation instead
        require(passes <= Similarity.MaxFoldPasses,
          s"bm25IndexCompact: the late-arrival fold found new ingest " +
            s"on ${Similarity.MaxFoldPasses} consecutive passes — " +
            "ingest is outpacing the fold and the publish cannot " +
            "converge. Pause ingest on this root and re-run (the " +
            "live index is untouched).")
        val (np, ndf, ns, nt, n) = foldLateBm25(spark, roots, out,
          snapP, snapDf, snapS, snapT, batchLayout, filesPerLeaf)
        snapP = np; snapDf = ndf; snapS = ns; snapT = nt; folded = n
      }
      val nextN = curVersion.getOrElse(0) + 1
      Similarity.publishIndexVersion(spark, path, nextN, () => {
        // once two generations exist, the pre-versioning layout
        // (root-level leaves + sibling tables) leaves
        val rootPath = new org.apache.hadoop.fs.Path(path)
        fs.listStatus(rootPath)
          .filter(st => st.isDirectory &&
            (st.getPath.getName.startsWith("tmod=") ||
              st.getPath.getName.startsWith("batch=")))
          .foreach(st => fs.delete(st.getPath, true))
        Seq(s"$path.df", s"$path.stats", s"$path.tombstones").foreach(
          p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
        ()
      })
    }
    ()
  }

  /** One pass of the BM25 late-arrival fold
    * ([[graft.operators.Similarity.foldLateIvf]]'s contract on the
    * lexical index): diff each table of the superseded generation
    * against the snapshot the compact read, and fold anything new
    * into the next generation — whole new `batch=<id>` subtrees
    * copied verbatim to the same batch id (posting rows are a pure
    * function of their batch, and same-id overwrite keeps a post-flip
    * replay idempotent), flat-layout late files appended, late
    * tombstone files appended to the new tombstone table. Returns the
    * new snapshots and the number of late units folded. */
  private[graft] def foldLateBm25(spark: org.apache.spark.sql.SparkSession,
                           old: Bm25Roots, out: Bm25Roots,
                           snapP: Set[String], snapDf: Set[String],
                           snapS: Set[String], snapT: Set[String],
                           batchLayout: Boolean, filesPerLeaf: Int)
      : (Set[String], Set[String], Set[String], Set[String], Int) = {
    var folded = 0
    def batchIds(files: Set[String]): Set[Long] =
      files.flatMap(_.split('/').collectFirst {
        case s if s.startsWith("batch=") =>
          s.stripPrefix("batch=").toLong
      })
    def foldTable(oldDir: String, newDir: String, snap: Set[String],
                  write: (DataFrame, String) => Unit): Set[String] = {
      val now = Similarity.listDataFiles(spark, oldDir)
      val late = now -- snap
      if (late.nonEmpty) {
        if (batchLayout) {
          val lateBids =
            (batchIds(late) -- batchIds(snap)).toSeq.sorted
          lateBids.foreach { bid =>
            write(spark.read.parquet(s"$oldDir/batch=$bid"),
              s"$newDir/batch=$bid")
          }
          folded += lateBids.size
        } else {
          write(spark.read.option("basePath", oldDir)
            .parquet(late.toSeq.sorted: _*), newDir)
          folded += late.size
        }
      }
      now
    }
    val writeMode = if (batchLayout) "overwrite" else "append"
    val np = foldTable(old.postings, out.postings, snapP, (df, dir) =>
      df.repartition(Bm25IndexMods * filesPerLeaf, col("tmod"),
          pmod(xxhash64(col("id")), lit(filesPerLeaf.toLong)))
        .write.mode(writeMode).partitionBy("tmod").parquet(dir))
    val ndf = foldTable(old.df, out.df, snapDf, (df, dir) =>
      df.repartition(Bm25IndexMods, col("tmod"))
        .write.mode(writeMode).partitionBy("tmod").parquet(dir))
    val ns = foldTable(old.stats, out.stats, snapS, (df, dir) =>
      df.write.mode(writeMode).parquet(dir))
    val nowT = Similarity.listDataFiles(spark, old.tombstones)
    val lateT = nowT -- snapT
    if (lateT.nonEmpty) {
      spark.read.parquet(lateT.toSeq.sorted: _*)
        .select(col("id")).distinct()
        .write.mode("append").parquet(out.tombstones)
      folded += lateT.size
    }
    (np, ndf, ns, nowT, folded)
  }

  /** One-row health report of a persisted BM25 index (r15 verdict #5)
    * — the operational dials a maintenance loop watches, WITHOUT
    * scanning the posting leaves: `layout` (flat | batch), `n_builds`
    * (stats rows — one per build/batch), `n_batches` (batch subtrees;
    * 0 for a flat layout), `n_tombstones` (pending deletes — the
    * [[bm25IndexCompact]] dial: until compaction these still count in
    * df/n_docs, the documented divergence window), `n_docs` /
    * `sum_dl` / `avgdl` (the corpus statistics probes score with,
    * summed across builds AS PROBES SEE THEM — i.e. including
    * tombstoned docs), and `df_rows` (df-table size: vocabulary x
    * builds — growth across many small batches is the
    * compact-to-refold signal). Costs: directory listings plus scans
    * of the three SMALL sidecar tables; the posting leaves are never
    * touched. */
  def bm25IndexStats(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val roots = bm25Roots(spark, path)
    val root = new org.apache.hadoop.fs.Path(roots.postings)
    val fs = root.getFileSystem(conf)
    val nBatches =
      if (fs.exists(root))
        fs.listStatus(root).count(st => st.isDirectory &&
          st.getPath.getName.startsWith("batch="))
      else 0
    val tombPath = new org.apache.hadoop.fs.Path(roots.tombstones)
    val nTombstones =
      if (fs.exists(tombPath))
        spark.read.parquet(roots.tombstones)
          .select(col("id")).distinct().count()
      else 0L
    // degenerate-index hardening: a root holding only a model /
    // tombstone sidecar has no stats or df table yet, and an EMPTY
    // stats table sums to null — both must report zeros, not throw
    // (the report is exactly what an operator runs to find out why an
    // index looks wrong)
    def exists(dir: String): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(dir))
    val (builds, nd, sdl) =
      if (exists(roots.stats)) {
        val r = spark.read.parquet(roots.stats)
          .agg(count(lit(1)).as("builds"),
            coalesce(sum(col("n_docs")), lit(0L)).as("nd"),
            coalesce(sum(col("sum_dl")), lit(0L)).as("sdl"))
          .collect()(0)
        (r.getLong(0), r.getLong(1), r.getLong(2))
      } else (0L, 0L, 0L)
    val dfRows =
      if (exists(roots.df)) spark.read.parquet(roots.df).count() else 0L
    val avgdl: java.lang.Double =
      if (nd > 0) math.round(sdl.toDouble / nd * 1e6) / 1e6 else null
    Seq((
      if (nBatches > 0) "batch" else "flat",
      builds, nBatches.toLong, nTombstones, nd, sdl, avgdl, dfRows))
      .toDF("layout", "n_builds", "n_batches", "n_tombstones",
        "n_docs", "sum_dl", "avgdl", "df_rows")
  }

  /** Probe a [[buildBm25Index]] layout with a query TABLE: per query
    * the scores and ranking are IDENTICAL to [[bm25TopKBatch]] over
    * the indexed corpus (equivalence law pinned in CorpusOpsSpec —
    * same Lucene +1-idf arithmetic on the same tf/dl/df/stats values,
    * the avg decomposed as sum_dl / n_docs exactly as Spark's `avg`
    * computes it), but the corpus-sized tokenize+explode is GONE:
    * the scan reads only the <= min(|query vocabulary|,
    * [[Bm25IndexMods]]) posting leaves the batch's terms hash into
    * (partition pruning — the leaf list is bounded driver metadata),
    * then prunes rows to the exact vocabulary with a broadcast
    * semi-join. Returns (`queryIdCol`, `id`, `bm25` rounded 4,
    * `n_terms`), <= k rows per query via WindowGroupLimit; blank
    * queries and queries matching nothing contribute no rows.
    *
    * `predicate` evaluates over the metadata columns riding the posting
    * rows ([[buildBm25Index]]'s `extraCols`) on the already-pruned
    * posting slice — BEFORE scoring and the per-query top-k, never as
    * a post-filter of a truncated ranking. Statistics keep the
    * filter-context semantics (df table and stats rows as built — full
    * corpus), so per query the result is IDENTICAL to
    * [[bm25TopKBatch]] over the indexed corpus with the same predicate
    * (equivalence law spec-pinned). The filter's cost scales with the
    * query's pruned postings, not the index. */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession,
                      path: String, queries: DataFrame,
                      queryIdCol: String, queryTextCol: String, k: Int,
                      predicate: Option[Column] = None,
                      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(k1 >= 0 && b >= 0 && b <= 1,
      s"BM25 params out of range: k1=$k1 b=$b")
    val qterms = queries.filter(nonBlank(col(queryTextCol)))
      .select(col(queryIdCol),
        explode(tokens(col(queryTextCol))).as("term"))
      .distinct()
    val tmods = qterms
      .select(pmod(xxhash64(col("term")), lit(Bm25IndexMods.toLong))
        .cast("int").as("tmod"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val roots = bm25Roots(spark, path)
    val stats = spark.read.parquet(roots.stats)
      .agg(sum(col("n_docs")).cast("double").as("__n"),
        (sum(col("sum_dl")).cast("double")
          / sum(col("n_docs")).cast("double")).as("__avgdl"))
    val tombPath = new org.apache.hadoop.fs.Path(roots.tombstones)
    val tombFs = tombPath
      .getFileSystem(spark.sessionState.newHadoopConf())
    val prunedAll = spark.read.parquet(roots.postings)
      .filter(col("tmod").isin(tmods: _*)) // -> partition pruning
      .join(broadcast(qterms.select(col("term")).distinct()),
        Seq("term"), "left_semi")
    // the filtered-probe contract: the metadata predicate runs on the
    // pruned slice, before scoring and top-k (df/stats stay as built)
    val pruned = predicate.fold(prunedAll)(prunedAll.filter)
    // tombstoned docs ([[bm25IndexDelete]]) never surface — the
    // anti-join runs on the already-pruned posting slice, so its cost
    // scales with the query's postings, not the index
    val tf =
      if (tombFs.exists(tombPath))
        pruned.join(spark.read.parquet(roots.tombstones),
          Seq("id"), "left_anti")
      else pruned
    // df from the build-time leaf table (pruned the same way, rows
    // summed across appended builds) — the posting leaves are scanned
    // exactly ONCE, for scoring
    val df = spark.read.parquet(roots.df)
      .filter(col("tmod").isin(tmods: _*))
      .join(broadcast(qterms.select(col("term")).distinct()),
        Seq("term"), "left_semi")
      .groupBy(col("term")).agg(sum(col("df")).as("__df"))
    tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("id"), col("term"),
        (log((col("__n") - col("__df").cast("double") + lit(0.5d))
            / (col("__df").cast("double") + lit(0.5d)) + lit(1.0d))
          * col("tf").cast("double") * lit(k1 + 1.0d)
          / (col("tf").cast("double")
            + lit(k1) * (lit(1.0d) - lit(b)
              + lit(b) * col("dl").cast("double") / col("__avgdl"))))
          .as("__c"))
      .join(broadcast(qterms), Seq("term"))
      .groupBy(col(queryIdCol), col("id"))
      .agg(sum(col("__c")).as("__s"), count(lit(1)).as("n_terms"))
      .withColumn("bm25", round(col("__s"), 4) + lit(0.0d))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(queryIdCol))
          .orderBy(col("bm25").desc, col("id"))))
      .filter(col("__rn") <= k)
      .select(col(queryIdCol), col("id"), col("bm25"), col("n_terms"))
  }

  /** Engine-portable hashed-feature bucket: the first 8 hex chars of
    * md5 over the RAW token (no case folding — engines' unicode case
    * maps disagree on exotic codepoints, and a hashed feature space
    * doesn't need the normalization), mod the bucket count. Same
    * construction as the span winnow dial, so a DuckDB oracle computes
    * the identical bucket. */
  private def nbBucket(tok: Column, numBuckets: Column): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast("long") % numBuckets

  /** Train a hashed-feature multinomial Naive Bayes text classifier —
    * the model-based quality/domain filter of the DCLM / fastText
    * curation recipe (train on a labeled seed set — "good" reference
    * text vs raw crawl, or domain labels — then score the corpus and
    * keep by predicted class or log-odds). NB over hashed token
    * counts is CLOSED-FORM — per-class counts, no iterative fit — so
    * the trained model is exactly reproducible in a SQL oracle, which
    * is what makes this the gateable member of the classifier family.
    *
    * Features are whitespace tokens hashed into `numBuckets` (hashing
    * trick: fixed-width feature space, no vocabulary to build or
    * broadcast). With Laplace smoothing `alpha`, per class c and
    * bucket b: `log_cond = ln((n_cb + alpha) / (n_c + alpha*B))`,
    * `log_default` the same at n_cb = 0 (the unseen-bucket mass), and
    * `log_prior = ln(docs_c / docs_total)`. Training rows with a NULL
    * label or no tokens are excluded.
    *
    * Returns the model as one SELF-DESCRIBING DataFrame — a row per
    * (class, SEEN bucket): (`label`, `bucket`, `log_cond`,
    * `log_prior`, `log_default`, `n_buckets`), the per-class scalars
    * and the bucket width repeated per row so [[nbScore]] can never
    * hash at a different width than training did. Bounded by
    * classes x numBuckets rows regardless of corpus size —
    * broadcastable by construction (the 100 TB contract: the corpus
    * never rides the model side of any join), and writable to parquet
    * as-is (train once, score many).
    *
    * Scale shape: one explode + one (label, bucket) hash aggregation
    * (map-side combined, at most classes x B groups), one per-class
    * rollup, one single-row total on a broadcast — no window, no
    * collect, no driver-side fit (contrast [[graft.operators
    * .Similarity.kmeansCentroids]], which is iterative and samples). */
  def trainNbQuality(labeled: DataFrame, idCol: String, textCol: String,
                     labelCol: String, numBuckets: Int = 4096,
                     alpha: Double = 1.0): DataFrame = {
    require(numBuckets > 0, s"numBuckets must be positive: $numBuckets")
    require(alpha > 0, s"alpha must be positive (Laplace): $alpha")
    // deliberately NOT [[Materialize.fanOut]]'d: the r20 interleaved
    // A/B measured q_nb_quality ~45% slower fanned — `clean` feeds two
    // branches unmaterialized (token explode + doc counts), the fan
    // exchange runs per branch with nothing reused, and the plain-token
    // explode is too cheap to pay for it. [[nonBlank]] (≡ ">= 1
    // token", split-free) stays: the old hasMinTokens form paid a full
    // tokenize in the filter
    val clean = labeled
      .filter(col(labelCol).isNotNull && nonBlank(col(textCol)))
    // (label, bucket, n)-sized — at most labels x numBuckets rows — and
    // referenced TWICE (the classTotals rollup and the final join):
    // without materialization each reference re-executes the whole
    // tokenize+explode+aggregate subtree over the labeled corpus
    // (plan-audited r19: q_nb_quality carried 28 parquet scans / 64
    // exchanges from exactly this pattern, compounded by nbScoreAll's
    // three model references). Same for docCounts (label-sized,
    // referenced by allDocs and the final join).
    val toks = clean
      .select(col(labelCol).as("label"),
        explode(tokens(col(textCol))).as("__t"))
      .select(col("label"),
        nbBucket(col("__t"), lit(numBuckets.toLong)).as("bucket"))
    val counts = Materialize(toks.groupBy(col("label"), col("bucket"))
      .agg(count(lit(1)).as("__n")), eager = false)
    // class token totals roll up from the (label, bucket) counts — the
    // exploded relation is scanned ONCE, not re-exploded per aggregate
    val classTotals = counts.groupBy(col("label"))
      .agg(sum(col("__n")).as("__nc"))
    val docCounts = Materialize(clean.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("__dc")), eager = false)
    val allDocs = docCounts.agg(sum(col("__dc")).cast("double").as("__dall"))
    counts
      .join(classTotals, Seq("label"))
      .join(docCounts, Seq("label"))
      .crossJoin(broadcast(allDocs))
      .select(col("label"), col("bucket"),
        log((col("__n").cast("double") + lit(alpha))
          / (col("__nc").cast("double") + lit(alpha * numBuckets)))
          .as("log_cond"),
        log(col("__dc").cast("double") / col("__dall")).as("log_prior"),
        log(lit(alpha)
          / (col("__nc").cast("double") + lit(alpha * numBuckets)))
          .as("log_default"),
        lit(numBuckets.toLong).as("n_buckets"))
  }

  /** Score documents with a [[trainNbQuality]] model: per doc, the
    * argmax class of `log_prior + sum_tokens log P(bucket | class)`,
    * returned as (`idCol`, `pred_label`, `nb_log_score` — the winning
    * class's log-joint, rounded to 4; ties on the ROUNDED score break
    * to the lexicographically smallest label, the deterministic
    * cross-engine rule). Docs with no tokens are excluded (no
    * evidence — absent rather than prior-only-scored, the
    * [[bigramLogProb]] convention). The final argmax compiles to a
    * WindowGroupLimit top-1 per doc over [[nbScoreAll]]'s long form. */
  def nbScore(docs: DataFrame, model: DataFrame, idCol: String,
              textCol: String): DataFrame =
    nbScoreTokens(docs, model, idCol, tokens(col(textCol)),
      Some(nonBlank(col(textCol))))

  /** [[nbScore]] with a caller-supplied token-array column (the
    * single-tokenization face — see [[nbScoreAllTokens]]). */
  private[graft] def nbScoreTokens(docs: DataFrame, model: DataFrame,
                                   idCol: String, toks: Column,
                                   candidate: Option[Column] = None)
      : DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("nb_log_score").desc, col("label"))
    nbScoreAllTokens(docs, model, idCol, toks, candidate)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("label").as("pred_label"),
        col("nb_log_score"))
  }

  /** Long-format NB scores: one row per (document, model class) with
    * the rounded log-joint — the raw surface for log-odds filters
    * (binary quality: keep where `score(good) - score(bad) > t`).
    *
    * The per-class sum is decomposed so only SEEN (doc-bucket, class)
    * pairs ever join: `score = log_prior + T * log_default +
    * sum_seen cnt * (log_cond - log_default)` where T is the doc's
    * token count — the unseen-bucket mass is algebra, not a join
    * against all B buckets. The bucket width rides IN the model
    * (`n_buckets`), so score-time hashing can never drift from
    * training. The model rides BROADCAST on both legs; the corpus
    * side is one explode + one (doc, bucket) aggregation + one
    * per-(doc, class) aggregation — no window, no collect. */
  def nbScoreAll(docs: DataFrame, model: DataFrame, idCol: String,
                 textCol: String): DataFrame =
    nbScoreAllTokens(docs, model, idCol, tokens(col(textCol)),
      Some(nonBlank(col(textCol))))

  /** [[nbScoreAll]] with a caller-supplied token-array column — the
    * single-tokenization face: curateV2 tokenizes its rewritten text
    * ONCE into the materialized stage relation and feeds this, the
    * Gopher gate and the decontamination gate from the same array
    * instead of re-splitting every document per stage. Contract:
    * `toks` must equal `tokens(col(textCol))` of the text being
    * scored — the public face pins the equality by delegation
    * (`nonBlank(text)` ≡ `size(tokens(text)) >= 1`: null and
    * whitespace-only docs yield size <= 0 on both forms).
    * `candidate`, when supplied, must be equivalent to
    * `size(toks) >= 1` over the input (the default); the text faces
    * pass the split-free [[nonBlank]] so the filter Catalyst pushes
    * below the fan-out exchange never re-tokenizes the corpus on the
    * scan's own (possibly serial) width. */
  private[graft] def nbScoreAllTokens(docs: DataFrame, model: DataFrame,
                                      idCol: String, toks: Column,
                                      candidate: Option[Column] = None)
      : DataFrame = {
    // The model relation is (labels x buckets)-bounded but referenced
    // THREE times below (bRow, classes, the seen-join broadcast) — when
    // the caller passes a freshly-trained [[trainNbQuality]] DataFrame
    // (q_nb_quality, curateV2), each reference re-executed the whole
    // training DAG over the labeled corpus. Materialize so training
    // runs once per score call.
    val m = Materialize(model, eager = false)
    val bRow = m.agg(max(col("n_buckets")).as("__b"),
      (min(col("n_buckets")) === max(col("n_buckets"))).as("__one"))
    // staged token-array temp: an input already carrying the name would
    // make the select ambiguous downstream — fail loudly instead (the
    // repo-wide reserved-name guard convention; ADVICE r19)
    require(!docs.columns.contains("__nbtk"),
      "nbScoreAll: input column __nbtk collides with a reserved temp " +
        "name; rename it first")
    // deliberately NOT [[Materialize.fanOut]]'d (r20 interleaved A/B:
    // q_nb_quality ~45% slower fanned — `withToks` feeds db and
    // docTotals unmaterialized, so the fan exchange ran per branch with
    // nothing reused)
    val withToks = docs
      .select(col("*"), toks.as("__nbtk"))
      .filter(candidate.getOrElse(size(col("__nbtk")) >= 1))
    val db = withToks
      .select(col(idCol), explode(col("__nbtk")).as("__t"))
      .crossJoin(broadcast(bRow))
      .select(col(idCol),
        when(col("__one"), nbBucket(col("__t"), col("__b")))
          .otherwise(raise_error(lit(
            "nbScoreAll: model carries mixed n_buckets values — not a " +
              "trainNbQuality model"))).as("bucket"))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("__cnt"))
    // per-doc token totals come straight off the scan (size of the
    // token array — a pure projection), NOT by re-aggregating db: the
    // db subtree (explode + shuffle) would otherwise execute twice,
    // once under docTotals and once under the seen join
    val docTotals = withToks
      .select(col(idCol), size(col("__nbtk")).cast("long").as("__T"))
    val classes = m
      .select(col("label"), col("log_prior"), col("log_default"))
      .distinct()
    val seen = db
      .join(broadcast(m.select(col("bucket"), col("label"),
        col("log_cond"), col("log_default"))), Seq("bucket"))
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("__cnt").cast("double")
        * (col("log_cond") - col("log_default"))).as("__adj"))
    docTotals
      .crossJoin(broadcast(classes))
      .join(seen, Seq(idCol, "label"), "left_outer")
      .select(col(idCol), col("label"),
        (round(col("log_prior")
          + col("__T").cast("double") * col("log_default")
          + coalesce(col("__adj"), lit(0.0d)), 4) + lit(0.0d))
          .as("nb_log_score"))
  }

  /** DSIR importance log-weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how target-like its hashed n-gram profile is. Features
    * are word unigrams + bigrams hashed into `buckets` buckets; bucket
    * probabilities are estimated per corpus with add-one smoothing, and
    * a document's log importance weight is the sum over its feature
    * instances of ln p_target(bucket) - ln p_raw(bucket). Returns
    * (`idCol`, `n_feats`, `logw` rounded to 4 places) for every
    * non-blank raw document; higher = more target-like.
    *
    * The bucket hash parses 8 hex chars of md5 (the house engine-
    * portable hash — xxhash64 has no DuckDB 1.0 counterpart), so a
    * differential oracle hashes features identically.
    *
    * Scale shape: one explode per corpus (linear in tokens), two hash
    * aggregations to <= `buckets` rows each, and the per-doc reduce.
    * The bucket log-ratio table is at most `buckets` rows, so it rides
    * a broadcast (size-gated: past 2^20 buckets the join falls back to
    * shuffle — but the key is the aggregation's own key, so the
    * partitioning is reused). Like [[unigramLogProb]], the exploded
    * raw relation feeds both the bucket counts and the rejoin without
    * materialization: storing corpus x features costs more than the
    * second scan it saves. Corpus-total rows ride a broadcast, never a
    * driver collect.
    *
    * Documented float hazard (house register): `logw` is a sum of
    * doubles whose order differs per engine/partitioning; round-to-4
    * absorbs the low bits (same class as [[unigramLogProb]]'s
    * avg-of-ln). */
  def dsirLogWeights(raw: DataFrame, idCol: String, textCol: String,
                     target: DataFrame, targetTextCol: String,
                     buckets: Int = 8192): DataFrame =
    dsirWeighted(raw, idCol, textCol, target, targetTextCol, buckets)
      .select(col(idCol), col("n_feats"),
        (round(col("__logw"), 4) + lit(0.0d)).as("logw"))

  /** DSIR resampling: the top-`k` documents by Gumbel-perturbed log
    * importance weight — exactly a weighted draw WITHOUT replacement
    * with probability proportional to the importance weight (Gumbel
    * top-k; the log-space twin of [[weightedSampleK]]'s A-ES keys,
    * needed here because weights live as logs and exp would over/
    * underflow). The Gumbel variate -ln(-ln u) uses the same
    * deterministic md5-derived uniform as the sampling family: no
    * `rand()`, so retries, reruns and differential oracles draw the
    * identical sample. Returns (`idCol`, `n_feats`, `logw`) of the
    * selected documents.
    *
    * Scale shape: [[dsirLogWeights]] plus a global top-k, which Spark
    * executes as TakeOrderedAndProject (per-partition heaps, no global
    * sort or single-partition window).
    *
    * Documented float hazard: the ORDERING key logw + gumbel is a float
    * surface at the rank-k boundary (two docs within an ulp straddling
    * k could swap per engine) — same accepted class as
    * [[weightedSampleK]], never observed at any gated SF. */
  def dsirResample(raw: DataFrame, idCol: String, textCol: String,
                   target: DataFrame, targetTextCol: String, k: Int,
                   buckets: Int = 8192): DataFrame = {
    require(k > 0, s"sample size must be positive: $k")
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("double") + lit(0.5d)) / lit(4294967296.0d)
    val gumbel = -log(-log(u))
    dsirWeighted(raw, idCol, textCol, target, targetTextCol, buckets)
      .orderBy((col("__logw") + gumbel).desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("n_feats"),
        (round(col("__logw"), 4) + lit(0.0d)).as("logw"))
  }

  /** Shared DSIR core: (`idCol`, `n_feats`, unrounded `__logw`). */
  private def dsirWeighted(raw: DataFrame, idCol: String, textCol: String,
                           target: DataFrame, targetTextCol: String,
                           buckets: Int): DataFrame = {
    require(buckets > 0, s"bucket count must be positive: $buckets")
    val b = lit(buckets.toLong)
    def feats(df: DataFrame, text: String, keep: Seq[Column]): DataFrame = {
      val toks = tokens(col(text))
      val bigrams = when(size(toks) >= 2,
        zip_with(slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (x, y) => concat(x, lit(" "), y)))
        .otherwise(array().cast("array<string>"))
      df.filter(col(text).isNotNull && trim(col(text)) =!= "")
        .select(keep :+ explode(concat(toks, bigrams)).as("__g"): _*)
        .withColumn("__b",
          conv(substring(md5(col("__g")), 1, 8), 16, 10).cast("long") % b)
        .drop("__g")
    }
    val rawFeats = feats(raw, textCol, Seq(col(idCol)))
    val tgtCounts = feats(target, targetTextCol, Seq.empty)
      .groupBy(col("__b")).agg(count(lit(1)).as("__ct"))
    val rawCounts = rawFeats.groupBy(col("__b")).agg(count(lit(1)).as("__cr"))
    val totals = rawCounts
      .agg(sum(col("__cr")).cast("double").as("__tr"))
      .crossJoin(tgtCounts.agg(
        coalesce(sum(col("__ct")), lit(0L)).cast("double").as("__tt")))
    // log-ratio per bucket the raw corpus actually uses (absent buckets
    // contribute nothing to any document's sum)
    val ratios = rawCounts
      .join(tgtCounts, Seq("__b"), "left_outer")
      .crossJoin(broadcast(totals))
      .select(col("__b"),
        (log((coalesce(col("__ct"), lit(0L)).cast("double") + lit(1.0d)) /
          (col("__tt") + b.cast("double"))) -
          log((col("__cr").cast("double") + lit(1.0d)) /
            (col("__tr") + b.cast("double")))).as("__lr"))
    val ratioSide = if (buckets <= (1 << 20)) broadcast(ratios) else ratios
    rawFeats.join(ratioSide, Seq("__b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"), sum(col("__lr")).as("__logw"))
  }

  /** Learned byte-pair-encoding merge list (Sennrich, Haddow, Birch
    * 2016 — the subword algorithm under most LLM tokenizers). Merge
    * rank = position; lower rank applies first. */
  final case class BpeModel(merges: Seq[(String, String)])

  /** Learn `numMerges` BPE merges from the corpus. The word-frequency
    * table is computed DISTRIBUTED (one explode + groupBy — the only
    * corpus-sized work) and capped at the `maxVocab` most frequent
    * words (ties by word — the standard practice and the bound that
    * makes the driver-side merge loop safe at any corpus size: BPE
    * learning needs the frequency dict, never the corpus). The local
    * loop is the reference algorithm: count adjacent symbol pairs
    * weighted by word frequency, merge the most frequent (ties by
    * lexicographic pair, so learning is deterministic), stop early
    * when no pair repeats. Words end in a `</w>` symbol so merges can
    * learn word-final units. */
  def learnBpe(docs: DataFrame, textCol: String, numMerges: Int,
               maxVocab: Int = 50000): BpeModel = {
    require(numMerges >= 0, s"numMerges negative: $numMerges")
    val freqs = docs.filter(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var words: Array[(Array[String], Long)] = freqs.map { case (w, c) =>
      (w.map(_.toString).toArray :+ "</w>", c) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var continue = numMerges > 0
    while (continue && merges.length < numMerges) {
      val pairCounts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i + 1 < syms.length) {
          val p = (syms(i), syms(i + 1))
          pairCounts.update(p, pairCounts.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      val repeated = pairCounts.filter(_._2 >= 2)
      if (repeated.isEmpty) continue = false
      else {
        val best = repeated.toSeq
          .minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        words = words.map { case (syms, c) =>
          (mergeOnce(syms, best), c) }
      }
    }
    BpeModel(merges.toSeq)
  }

  /** One left-to-right pass replacing adjacent (a, b) with a+b. */
  private def mergeOnce(syms: Array[String],
                        pair: (String, String)): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length &&
          syms(i) == pair._1 && syms(i + 1) == pair._2) {
        out += syms(i) + syms(i + 1)
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toArray
  }

  /** Subword-tokenize `textCol` with a learned model: array column of
    * BPE tokens (word-final units carry the `</w>` marker). Delegates
    * to the native [[graft.plans.BpeEncode]] — one JIT'd loop per row
    * with a per-task word cache (natural-language word frequency is
    * Zipfian; almost every word encode is a cache hit). */
  def bpeTokens(c: Column, model: BpeModel): Column =
    graft.plans.BpeExpressions.bpe_encode(c, model.merges)

  /** The model's token vocabulary over a corpus: `(token, id)` with
    * ids assigned by (frequency desc, token) — deterministic, so a
    * vocab rebuilt from the same corpus is identical. One distributed
    * explode+groupBy; the result is model-sized (bounded by the
    * alphabet + merge count, NOT the corpus), safe to collect or
    * broadcast. */
  def bpeVocab(docs: DataFrame, textCol: String,
               model: BpeModel): DataFrame = {
    val w = Window.orderBy(col("c").desc, col("token"))
    docs.filter(col(textCol).isNotNull)
      .select(explode(bpeTokens(col(textCol), model)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .withColumn("id", (row_number().over(w) - 1).cast("long"))
      .select(col("token"), col("id"))
  }

  /** Map text to its integer token-id sequence — the training-ready
    * form ([[chunkDocs]] / [[packSequences]] downstream operate on
    * these counts). `vocab` is the collected [[bpeVocab]] map, carried
    * as a LITERAL map column (built-ins only: `transform` +
    * `element_at`, fully codegen'd, no join — the vocabulary is
    * model-sized, not corpus-sized). Out-of-vocabulary tokens (text
    * the vocab's corpus never saw) become `unkId`. */
  def tokenIds(c: Column, model: BpeModel, vocab: Map[String, Long],
               unkId: Long = -1L): Column =
    transform(bpeTokens(c, model),
      t => coalesce(element_at(typedlit(vocab), t), lit(unkId)))

  /** One-call corpus curation: the standard pretraining recipe composed
    * from this library's independently-gated stages —
    *   1. Gopher quality gates ([[TextAnalysis.gopherRules]]
    *      conjunction),
    *   2. exact dedup AMONG quality passers (the recipe order: no
    *      point keeping a duplicate slot for a doc quality already
    *      rejected; first occurrence = min id per distinct text, keyed
    *      on md5 so the shuffle carries 16-byte hashes, not documents
    *      — the [[Dedup.buildExactIndex]] identity contract),
    *   3. benchmark decontamination ([[contaminationFlags]] against
    *      `evalSet`).
    *
    * Returns one row PER INPUT DOC with per-stage attribution —
    * `(id, quality_ok, is_dup, contaminated, kept)` where
    * `kept = quality_ok && !is_dup && !contaminated` — rather than
    * just the survivors: curation at scale is audited by its reject
    * reasons (what fraction died at which gate), and the attribution
    * columns make that a groupBy away. Null/blank docs fail quality
    * and carry false for the later stages.
    *
    * Scale shape: a shuffle-free quality scan, one md5-keyed
    * aggregation + probe for dedup, and the contamination broadcast
    * join. The (id, bool)-narrow quality relation is consumed TWICE
    * (the dedup stage's survivor filter and the final attribution
    * join), so it goes through [[Materialize]] (lazy) — unmaterialized,
    * each reference re-ran the Gopher tokenize over the corpus (r20
    * plan audit: the q_curate plan carried the gate subtree twice);
    * same for the dup relation, whose qual/firstPer diamond otherwise
    * re-hashes the survivors per reference. No corpus-sized driver
    * state. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             evalSet: DataFrame, evalTextCol: String,
             minTokens: Int = 50, contamN: Int = 8): DataFrame = {
    val quality = Materialize(
      TextAnalysis.gopherRules(docs, idCol, textCol, minTokens)
        .select(col("id").as(idCol), col("passes").as("quality_ok")),
      eager = false)
    val contam = contaminationFlags(docs, idCol, textCol,
        evalSet, evalTextCol, contamN)
      .select(col(idCol), col("contaminated"))
    val qual = Materialize(docs
      .join(quality.filter(col("quality_ok")).select(col(idCol)),
        Seq(idCol), "left_semi")
      .select(col(idCol), md5(col(textCol).cast("binary")).as("__h")),
      eager = false)
    val firstPer = qual.groupBy(col("__h"))
      .agg(min(col(idCol)).as("__first"))
    val dup = qual.join(firstPer, Seq("__h"))
      .select(col(idCol), (col(idCol) =!= col("__first")).as("is_dup"))
    docs.select(col(idCol))
      .join(quality, Seq(idCol), "left_outer")
      .join(dup, Seq(idCol), "left_outer")
      .join(contam, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("quality_ok"), lit(false)).as("quality_ok"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
      .withColumn("kept",
        col("quality_ok") && !col("is_dup") && !col("contaminated"))
  }

  /** Full-recipe corpus curation v2 — [[curate]]'s three stages plus
    * every curation operator added since, chained in the order a real
    * pretraining pipeline runs them, with per-stage reject attribution
    * per INPUT doc:
    *
    *   1. exact dedup on the RAW text (cheapest gate first; keep-first
    *      = min id per distinct text) → `is_dup`,
    *   2. corpus-wide keep-first paragraph dedup among survivors
    *      ([[dropRepeatedParagraphs]]; dup copies are excluded so they
    *      cannot inflate paragraph frequencies) → `n_para_removed`,
    *   3. duplicated-span removal on the paragraph-cleaned text
    *      ([[removeDupSpans]], the Lee et al. pass) →
    *      `n_span_removed`,
    *   4. Gopher quality gates on the FULLY-REWRITTEN text
    *      ([[TextAnalysis.gopherRules]]) → `quality_ok`,
    *   5. model-based quality filter ([[nbScore]] with a caller-trained
    *      [[trainNbQuality]] model; reject when the argmax class is
    *      `nbRejectLabel`) → `nb_ok` (false for no-token docs — no
    *      evidence, and they already fail quality),
    *   6. benchmark decontamination of the rewritten text
    *      ([[contaminationFlags]] vs `evalSet`) → `contaminated`,
    *   7. temperature-weighted mixture selection among full-gate
    *      survivors: per-`groupCol` token budgets
    *      `floor(totalBudgetTokens * weight)` from
    *      [[temperatureWeights]] (round-6 weights, so the integer
    *      budgets are engine-portable), spent in id order →
    *      `selected`.
    *
    * Returns one row per input doc:
    * `(id, is_dup, n_para_removed, n_span_removed, quality_ok, nb_ok,
    * contaminated, selected, kept)` with
    * `kept = !is_dup && quality_ok && nb_ok && !contaminated &&
    * selected`. Stage-1 rejects (dups) are cascaded OUT: they carry
    * the neutral value (false / 0) for every later column, and they
    * never inflate the corpus-wide paragraph/span/df statistics the
    * rewrite stages compute. Stages 4-6 are PARALLEL gates evaluated
    * on every rewritten survivor (each flag is that gate's own verdict
    * — a reject-funnel audit can count any combination); stage 7
    * selects only among docs passing all of them. Docs with null text
    * carry `is_dup = false`, rewrite counts 0, and fail quality.
    *
    * Scale shape: stages 1-6 compose linearly (one md5 aggregation,
    * the paragraph/span passes' own linear shuffles, one broadcast
    * model join, one broadcast eval join); the rewritten-text relation
    * and the flag relation each feed several downstream stages, so
    * both go through [[Materialize]] (lazy) rather than re-executing
    * the span pipeline once per consumer. Stage 7's budgets are
    * group-count-sized on a broadcast; the prefix sum is
    * [[tokenBudgetSelect]]'s guarded window (`maxGroupRows`). */
  def curateV2(docs: DataFrame, idCol: String, textCol: String,
               evalSet: DataFrame, evalTextCol: String,
               nbModel: DataFrame, nbRejectLabel: String,
               groupCol: String, tau: Double, totalBudgetTokens: Long,
               minTokens: Int = 50, contamN: Int = 8,
               spanN: Int = 8, spanMinDf: Int = 2, spanMinTokens: Int = 8,
               paraDelim: String = "\n",
               maxGroupRows: Long = 50L * 1000 * 1000): DataFrame = {
    require(totalBudgetTokens >= 0,
      s"curateV2: negative budget: $totalBudgetTokens")
    // 1. exact dedup on raw text — md5-keyed so the shuffle carries
    // 16-byte hashes, not documents (the curate v1 contract)
    val hashed = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), md5(col(textCol).cast("binary")).as("__h"))
    val firstPer = hashed.groupBy(col("__h"))
      .agg(min(col(idCol)).as("__first"))
    // (id, bool)-sized and consumed three times (the survivor filter
    // feeds both rewrite stages, and the final assembly reads it
    // again) — materialize so the md5 aggregation runs once
    val dupFlags = Materialize(hashed.join(firstPer, Seq("__h"))
      .select(col(idCol), (col(idCol) =!= col("__first")).as("is_dup")),
      eager = false)
    // survivor relation: consumed by the paragraph pass TWICE
    // ([[dropRepeatedParagraphs]] references its input from both the
    // first-occurrence aggregate and the rejoin) and by the nd1
    // assembly — materialize or the docs ⋈ dupFlags join re-executes
    // three times (r19 plan audit)
    val nd = Materialize(docs.join(dupFlags, Seq(idCol), "left_outer")
      .filter(!coalesce(col("is_dup"), lit(false)))
      .select(col(idCol), col(groupCol), col(textCol)),
      eager = false)
    // 2. keep-first paragraph dedup among stage-1 survivors
    val para = dropRepeatedParagraphs(nd, idCol, textCol, paraDelim)
      .select(col(idCol), col("clean_text").as("__t1"),
        col("n_removed").as("n_para_removed"))
    // paragraph-rewritten relation: [[removeDupSpans]] consumes it
    // three times (positional spans twice — the documented
    // recompute-beats-storing choice for a RAW scan input, which nd1
    // is not — plus the range rejoin) and the nd2 assembly once more;
    // unmaterialized, each reference re-ran the whole paragraph
    // pipeline (r19 plan audit: the dominant q_curate_v2 cost)
    val nd1 = Materialize(nd.join(para, Seq(idCol), "left_outer")
      .select(col(idCol), col(groupCol),
        coalesce(col("__t1"), col(textCol)).as("__t1"),
        coalesce(col("n_para_removed"), lit(0L)).as("n_para_removed")),
      eager = false)
    // 3. duplicated-span removal on the paragraph-cleaned text
    val spans = removeDupSpans(nd1, idCol, "__t1", spanN, spanMinDf,
        spanMinTokens)
      .select(col(idCol), col("clean_text").as("__t2"),
        col("n_removed").as("n_span_removed"))
    // the rewritten text is tokenized ONCE here (`__tk2` rides the
    // checkpoint) and every downstream stage — the three parallel
    // gates AND the stage-7 budget prefix sum — reads the shared array
    // instead of re-splitting the corpus per stage (the r18 verdict's
    // tokenize-times-three finding; at 100 TB each avoided pass is a
    // full corpus scan's worth of regex work)
    // deliberately NOT fanned out, at any width: AQE's byte-based
    // coalescing does collapse this small-byte/high-CPU relation to ONE
    // block locally (r20 stage audit: a 0.48 s single-task
    // contamination-shingle stage), but a quarter-width repartition
    // gated on nd1's width measured NO win — 10 interleaved A/B pairs
    // split 5/5 with the median delta under 4% (OPTIMIZATION_r20.md):
    // nd2's 4+ consumer stages each pay the wider block count, which
    // eats exactly what the spread tokenize saves.
    val nd2 = Materialize(
      nd1.select(col(idCol), col(groupCol), col("n_para_removed"))
        .join(spans, Seq(idCol))
        .withColumn("__tk2", graft.functions.TextFunctions
          .tokens(col("__t2"))),
      eager = false)
    // 4.-6. quality / model filter / decontamination, all on __t2.
    // The three id-sized flag relations fold through ONE sparse
    // union + max-aggregate (each id contributes <= 1 non-null row
    // per flag, so max recovers it; a missing flag stays null and
    // coalesces to false exactly as the old left joins did) — one
    // shuffle keyed on id instead of three successive joins, the r15
    // assembly-tail trim.
    val nullB = lit(null).cast("boolean")
    val quality = TextAnalysis.gopherRulesTokens(nd2, idCol, "__t2",
        col("__tk2"), minTokens)
      .select(col("id").as(idCol), col("passes").as("quality_ok"),
        nullB.as("nb_ok"), nullB.as("contaminated"))
    val nb = nbScoreTokens(nd2, nbModel, idCol, col("__tk2"))
      .select(col(idCol), nullB.as("quality_ok"),
        (col("pred_label") =!= lit(nbRejectLabel)).as("nb_ok"),
        nullB.as("contaminated"))
    val contam = contaminationFlagsShingled(nd2, idCol,
        size(col("__tk2")) >= contamN,
        graft.plans.TextExpressions
          .word_shingles_from_tokens(col("__tk2"), contamN),
        evalSet, evalTextCol, contamN)
      .select(col(idCol), nullB.as("quality_ok"), nullB.as("nb_ok"),
        col("contaminated"))
    val qnc = quality.unionByName(nb).unionByName(contam)
      .groupBy(col(idCol))
      .agg(max(col("quality_ok")).as("quality_ok"),
        max(col("nb_ok")).as("nb_ok"),
        max(col("contaminated")).as("contaminated"))
    val flags = Materialize(nd2
      .join(qnc, Seq(idCol), "left_outer")
      .select(col(idCol), col(groupCol), col("__t2"),
        size(col("__tk2")).cast("long").as("__ntk2"),
        col("n_para_removed"), col("n_span_removed"),
        coalesce(col("quality_ok"), lit(false)).as("quality_ok"),
        coalesce(col("nb_ok"), lit(false)).as("nb_ok"),
        coalesce(col("contaminated"), lit(false)).as("contaminated")),
      eager = false)
    // 7. temperature-weighted mixture selection among survivors
    val surv = flags.filter(col("quality_ok") && col("nb_ok") &&
      !col("contaminated"))
    val budgets = temperatureWeights(surv, groupCol, tau)
      .select(col(groupCol),
        floor(lit(totalBudgetTokens.toDouble) * col("weight"))
          .cast("long").as("__budget"))
    val picked = budgetPrefixSelect(
        surv.join(broadcast(budgets), Seq(groupCol)),
        groupCol, idCol, col("__ntk2"), col("__budget"), Seq.empty,
        maxGroupRows)
      .select(col(idCol), lit(true).as("selected"))
    // final attribution assembly: the same sparse-union fold over
    // (all ids) + dup flags + stage flags + selection — one id-keyed
    // aggregation where r15 chained three left-outer joins onto docs
    // (ids are unique by the curate contract, so max-per-id recovers
    // each relation's single row exactly as the joins did)
    val nullL = lit(null).cast("long")
    docs.select(col(idCol), nullB.as("is_dup"),
        nullL.as("n_para_removed"), nullL.as("n_span_removed"),
        nullB.as("quality_ok"), nullB.as("nb_ok"),
        nullB.as("contaminated"), nullB.as("selected"))
      .unionByName(dupFlags.select(col(idCol), col("is_dup"),
        nullL.as("n_para_removed"), nullL.as("n_span_removed"),
        nullB.as("quality_ok"), nullB.as("nb_ok"),
        nullB.as("contaminated"), nullB.as("selected")))
      .unionByName(flags.select(col(idCol), nullB.as("is_dup"),
        col("n_para_removed"), col("n_span_removed"),
        col("quality_ok"), col("nb_ok"), col("contaminated"),
        nullB.as("selected")))
      .unionByName(picked.select(col(idCol), nullB.as("is_dup"),
        nullL.as("n_para_removed"), nullL.as("n_span_removed"),
        nullB.as("quality_ok"), nullB.as("nb_ok"),
        nullB.as("contaminated"), col("selected")))
      .groupBy(col(idCol))
      .agg(
        coalesce(max(col("is_dup")), lit(false)).as("is_dup"),
        coalesce(max(col("n_para_removed")), lit(0L))
          .as("n_para_removed"),
        coalesce(max(col("n_span_removed")), lit(0L))
          .as("n_span_removed"),
        coalesce(max(col("quality_ok")), lit(false)).as("quality_ok"),
        coalesce(max(col("nb_ok")), lit(false)).as("nb_ok"),
        coalesce(max(col("contaminated")), lit(false))
          .as("contaminated"),
        coalesce(max(col("selected")), lit(false)).as("selected"))
      .withColumn("kept", !col("is_dup") && col("quality_ok") &&
        col("nb_ok") && !col("contaminated") && col("selected"))
  }
}
