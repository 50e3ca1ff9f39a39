package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.{CorpusOps, IvfTier, Similarity, VectorCodec, VectorIndex}

/** Filtered retrieval across the lexical, hybrid and composed-ANN
  * tiers (r16 verdict #1/#4): predicates run INSIDE each probe,
  * before the per-query top-k — the laws here pin the semantics the
  * catalog gates (q_bm25_filtered / q_bm25_indexed_filtered /
  * q_search_filtered / q_ivfpq_batch_filtered) rely on. */
class FilteredRetrievalSpec extends SparkSpec {
  import spark.implicits._

  private val queries = Seq(
    (0L, "hash join window scan"),
    (1L, "sort merge batch"),
    (2L, "dup stream"),
    (3L, "qqqnomatchqqq")).toDF("query_id", "query_text")

  /** documents + 12 planted copies of docs 10..21 under the
    * otherwise-nonexistent lang 'zz' (all twelve carry query
    * vocabulary — verified against the corpus generator). */
  private def plantedDocs: DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text", $"lang")
    docs.unionByName(docs.filter($"doc_id".between(10, 21))
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text",
        lit("zz").as("lang")))
  }

  test("bm25 filtered: full-corpus statistics (a doc's filtered " +
      "score equals its unfiltered score), candidates restricted " +
      "pre-top-k; post-filtering demonstrably loses rows") {
    val corpus = plantedDocs
    val filtered = CorpusOps.bm25TopKBatch(corpus, "doc_id",
        "text", queries, "query_id", "query_text", k = 10,
        Some($"lang" === "zz"))
      .as[(Long, Long, Double, Long)].collect()
    assert(filtered.nonEmpty)
    assert(filtered.forall(_._2 >= 1000000L),
      "only planted 'zz' docs may surface")
    // filter-context law: scores are a POST-FILTER of the unfiltered
    // scoring relation (before truncation) — compare against a deep
    // unfiltered ranking
    val unfiltered = CorpusOps.bm25TopKBatch(corpus, "doc_id", "text",
        queries, "query_id", "query_text", k = 100000)
      .as[(Long, Long, Double, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    filtered.foreach { case (qid, doc, bm25, nTerms) =>
      assert(unfiltered((qid, doc)) == ((bm25, nTerms)),
        s"score of ($qid, $doc) must equal its unfiltered score")
    }
    // the failure mode: filtering an already-truncated top-10 keeps
    // almost nothing (planted docs rarely crack the global top-10)
    val postFiltered = CorpusOps.bm25TopKBatch(corpus, "doc_id",
        "text", queries, "query_id", "query_text", k = 10)
      .filter($"doc_id" >= 1000000L).count()
    assert(postFiltered < filtered.length,
      s"post-filter kept $postFiltered; pre-filter ${filtered.length}")
  }

  test("bm25 filtered: indexed == direct (metadata riding the " +
      "posting rows via extraCols)") {
    val corpus = plantedDocs
    val dir = java.nio.file.Files.createTempDirectory("bm25f")
      .toString + "/idx"
    CorpusOps.buildBm25Index(corpus, "doc_id", "text", dir,
      extraCols = Seq("lang"))
    val direct = CorpusOps.bm25TopKBatch(corpus, "doc_id",
        "text", queries, "query_id", "query_text", k = 10,
        Some($"lang" === "zz"))
      .as[(Long, Long, Double, Long)].collect().toSet
    val indexed = CorpusOps.bm25TopKIndexed(spark, dir,
        queries, "query_id", "query_text", k = 10, Some($"lang" === "zz"))
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(indexed == direct)
    // and with a predicate nothing matches, no rows — never a fallback
    // to the unfiltered ranking
    assert(CorpusOps.bm25TopKIndexed(spark, dir, queries,
      "query_id", "query_text", k = 10, Some($"lang" === "qq")).isEmpty)
  }

  test("searchPipelineBatchFiltered: both legs filtered pre-top-k; " +
      "an unfiltered semantic leg visibly loses recall (the " +
      "documented contract)") {
    val corpus = plantedDocs
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
    val plantedEmb = emb.filter($"vec_id".between(10, 21))
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    val qvecs = emb.filter($"vec_id" < 4)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val semFiltered = Similarity.cosineTopKBatch(plantedEmb, "vec_id",
      "embedding", qvecs, "qid", "qv", k = 50)
    val fused = CorpusOps.searchPipelineBatch(corpus, "doc_id",
        "text", queries, "query_id", "query_text",
        semFiltered, "qid", "id", "cos_sim", k = 10, candidates = 50,
        predicate = Some($"lang" === "zz"))
      .as[(Long, Long, Long, Double, Long)].collect()
    assert(fused.nonEmpty)
    assert(fused.forall(_._2 >= 1000000L), "only planted ids surface")
    // q3 matches nothing lexically but still fuses semantically
    assert(fused.exists(r => r._1 == 3L && r._3 == 1L))
    // some planted rows fuse from both legs
    assert(fused.exists(_._3 == 2L), "expected n_signals=2 rows")
    // the contract's failure mode: pass an UNFILTERED semantic leg and
    // the fusion can only post-filter by rank — planted rows that
    // never crack the unfiltered semantic top-50 are gone from the
    // semantic signal entirely
    val semUnfiltered = Similarity.cosineTopKBatch(
      emb.unionByName(plantedEmb), "vec_id", "embedding", qvecs,
      "qid", "qv", k = 50)
    val wrong = CorpusOps.searchPipelineBatch(corpus, "doc_id",
        "text", queries, "query_id", "query_text",
        semUnfiltered, "qid", "id", "cos_sim", k = 10, candidates = 50,
        predicate = Some($"lang" === "zz"))
      .as[(Long, Long, Long, Double, Long)].collect()
    assert(wrong.count(_._3 == 2L) < fused.count(_._3 == 2L),
      "an unfiltered semantic leg must lose two-signal fusions")
  }

  test("mmrRerankBatch: lambda=1 is pure relevance (mmr == rel, " +
      "relevance order); at lambda<1 the duplicate of a picked row " +
      "sinks below every non-duplicate; oversized pools fail loudly") {
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
    // corpus + TWO exact copies of vector 7 — the query's own row is
    // self-excluded by cosineTopKBatch, so the pool carries the copy
    // PAIR (both cos 1.0 to the query, cos 1.0 to each other)
    val corpus = emb
      .unionByName(emb.filter($"vec_id" === 7L)
        .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding"))
      .unionByName(emb.filter($"vec_id" === 7L)
        .select(($"vec_id" + 2000000L).as("vec_id"), $"embedding"))
    val qs = emb.filter($"vec_id" === 7L)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val cands = Similarity.cosineTopKBatch(corpus, "vec_id",
        "embedding", qs, "qid", "qv", k = 50)
      .join(corpus.select($"vec_id".as("id"), $"embedding"), Seq("id"))
    def run(lambda: Double) =
      Similarity.mmrRerankBatch(cands, "qid", "id", "cos_sim",
          "embedding", k = 10, lambda = lambda)
        .orderBy($"rank").as[(Long, Long, Double, Long)].collect()
    // lambda=1: order == (rel desc, id), mmr == rel bit-for-bit, and
    // the copy pair sits adjacent at ranks 1-2
    val rel = run(1.0)
    val relMap = cands.select($"id", $"cos_sim")
      .as[(Long, Double)].collect().toMap
    assert(rel.forall(r => r._3 == relMap(r._2)),
      "lambda=1 mmr must equal the relevance score")
    val expected = relMap.toSeq.sortBy { case (id, c) => (-c, id) }
      .take(10).map(_._1)
    assert(rel.map(_._2).toSeq == expected, "lambda=1 order diverges")
    assert(rel.take(2).map(_._2).toSeq == Seq(1000007L, 2000007L))
    // lambda=0.3: the first copy is still the best first pick, but
    // its twin's penalized score is 0.3*1 - 0.7*1 = -0.4, while every
    // non-duplicate with rel < 1 scores -0.4*rel > -0.4 — the twin
    // sinks below ALL of them
    val div = run(0.3)
    assert(div.head._2 == 1000007L, s"rank-1: ${div.head}")
    assert(div.find(_._2 == 2000007L).forall(_._4 > 2L),
      s"the twin must not be adjacent: ${div.mkString(",")}")
    assert(div.map(_._2).toSeq != rel.map(_._2).toSeq,
      "lambda=0.3 must diverge from pure relevance on a pool with " +
        "duplicates")
    interceptGuard("maxPoolRows") {
      Similarity.mmrRerankBatch(cands, "qid", "id", "cos_sim",
        "embedding", k = 3, lambda = 0.5, maxPoolRows = 5).collect()
    }
  }

  test("searchPipelineFiltered (single query) == the batch filtered " +
      "pipeline on a one-row query table (r17 verdict #7)") {
    val corpus = plantedDocs
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
    val plantedEmb = emb.filter($"vec_id".between(10, 21))
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    val qv = emb.filter($"vec_id" === 0L)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    // the semantic leg, filtered inside its own probe (the contract)
    val semBatch = Similarity.cosineTopKBatch(plantedEmb, "vec_id",
      "embedding", qv, "qid", "qv", k = 50)
    val single = CorpusOps.searchPipeline(corpus, "doc_id",
        "text", Seq("hash", "join", "window", "scan"),
        semBatch.select($"id", $"cos_sim"), "id", "cos_sim",
        k = 10, candidates = 50, predicate = Some($"lang" === "zz"))
      .as[(Long, Long, Double, Long)].collect().toSet
    val batch = CorpusOps.searchPipelineBatch(corpus, "doc_id",
        "text", Seq((0L, "hash join window scan"))
          .toDF("query_id", "query_text"),
        "query_id", "query_text",
        semBatch, "qid", "id", "cos_sim", k = 10, candidates = 50,
        predicate = Some($"lang" === "zz"))
      .select($"doc_id", $"n_signals", $"rrf_score", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(single == batch && single.nonEmpty)
    assert(single.forall(_._1 >= 1000000L), "only planted ids surface")
  }

  test("searchPipelineBatchDiversified: lambda=1 IS the undiversified " +
      "pipeline's ranking; the filtered twin surfaces only " +
      "predicate-matching ids (r17 verdict #4)") {
    val corpus = plantedDocs
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
    val qvecs = emb.filter($"vec_id" < 4)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val sem = Similarity.cosineTopKBatch(emb, "vec_id", "embedding",
      qvecs, "qid", "qv", k = 20)
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text", $"lang")
    val plain = CorpusOps.searchPipelineBatch(docs, "doc_id", "text",
        queries, "query_id", "query_text", sem, "qid", "id",
        "cos_sim", k = 5, candidates = 20)
      .orderBy($"query_id", $"rank")
      .select($"query_id", $"doc_id", $"rank")
      .as[(Long, Long, Long)].collect().toSeq
    val div = CorpusOps.searchPipelineBatch(docs, "doc_id",
        "text", queries, "query_id", "query_text", sem, "qid", "id",
        "cos_sim", k = 5, candidates = 20,
        mmr = Some(CorpusOps.Mmr(emb, "vec_id", "embedding", 1.0)))
      .orderBy($"query_id", $"rank")
      .select($"query_id", $"doc_id", $"rank")
      .as[(Long, Long, Long)].collect().toSeq
    assert(div == plain,
      "lambda=1 diversified ranking must equal the plain pipeline")
    // the filtered twin: planted 'zz' design, only planted ids surface
    val plantedEmb = emb.filter($"vec_id".between(10, 21))
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    val semFiltered = Similarity.cosineTopKBatch(plantedEmb, "vec_id",
      "embedding", qvecs, "qid", "qv", k = 20)
    val fdiv = CorpusOps.searchPipelineBatch(corpus,
        "doc_id", "text", queries, "query_id", "query_text",
        semFiltered, "qid", "id", "cos_sim", k = 5, candidates = 20,
        predicate = Some($"lang" === "zz"),
        mmr = Some(CorpusOps.Mmr(plantedEmb, "vec_id", "embedding", 0.5)))
      .as[(Long, Long, Double, Long)].collect()
    assert(fdiv.nonEmpty && fdiv.forall(_._2 >= 1000000L),
      "only planted 'zz' ids may surface in the filtered diversified " +
        s"ranking: ${fdiv.mkString(",")}")
    // guards: k past the pool refuses like every sibling pipeline; a
    // vector table missing a candidate id refuses loudly instead of
    // silently shrinking the pool; a duplicated vector id is caught
    // by the pool's duplicate guard
    intercept[IllegalArgumentException] {
      CorpusOps.searchPipelineBatch(docs, "doc_id", "text",
        queries, "query_id", "query_text", sem, "qid", "id",
        "cos_sim", k = 50, candidates = 20,
        mmr = Some(CorpusOps.Mmr(emb, "vec_id", "embedding", 1.0)))
    }
    interceptGuard("no row in the vector table") {
      CorpusOps.searchPipelineBatch(docs, "doc_id", "text",
        queries, "query_id", "query_text", sem, "qid", "id",
        "cos_sim", k = 5, candidates = 20,
        mmr = Some(CorpusOps.Mmr(emb.filter($"vec_id" > 100), "vec_id",
          "embedding", 1.0)))
    }
    interceptGuard("duplicate candidate id") {
      CorpusOps.searchPipelineBatch(docs, "doc_id", "text",
        queries, "query_id", "query_text", sem, "qid", "id",
        "cos_sim", k = 5, candidates = 20,
        mmr = Some(CorpusOps.Mmr(emb.unionByName(emb), "vec_id",
          "embedding", 1.0))).collect()
    }
  }

  // Spark jobs the faces these calls replaced launched on the same calls
  // and data (the `…Filtered` / `…Diversified` faces, for the calls with a
  // predicate / an mmr stage), each call collected after a warm-up run.
  private val replacedFaceJobs = Map(
    "bm25TopKBatch, predicate" -> 13,
    "bm25TopKIndexed, predicate" -> 16,
    "searchPipelineBatch" -> 15,
    "searchPipelineBatch, predicate" -> 15,
    "searchPipelineBatch, mmr" -> 35,
    "searchPipelineBatch, predicate, mmr" -> 35,
    "searchPipeline" -> 10,
    "searchPipeline, predicate" -> 18)

  test("the unified retrieval faces launch no more jobs than the " +
      "faces they replaced") {
    val corpus = plantedDocs
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val zz = Some($"lang" === "zz")
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
    val plantedEmb = emb.filter($"vec_id".between(10, 21))
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    val qvecs = emb.filter($"vec_id" < 4)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val sem = Similarity.cosineTopKBatch(emb, "vec_id", "embedding",
      qvecs, "qid", "qv", k = 20)
    val semF = Similarity.cosineTopKBatch(plantedEmb, "vec_id",
      "embedding", qvecs, "qid", "qv", k = 20)
    val dir = java.nio.file.Files.createTempDirectory("bm25jobs")
      .toString + "/idx"
    CorpusOps.buildBm25Index(corpus, "doc_id", "text", dir,
      extraCols = Seq("lang"))
    def batch(d: DataFrame, s: DataFrame, pred: Option[Column],
              mmr: Option[CorpusOps.Mmr]) =
      CorpusOps.searchPipelineBatch(d, "doc_id", "text", queries,
        "query_id", "query_text", s, "qid", "id", "cos_sim", k = 5,
        candidates = 20, predicate = pred, mmr = mmr).collect()
    def single(d: DataFrame, s: DataFrame, pred: Option[Column]) =
      CorpusOps.searchPipeline(d, "doc_id", "text",
        Seq("hash", "join", "window", "scan"),
        s.filter($"qid" === 0L).select($"id", $"cos_sim"), "id",
        "cos_sim", k = 5, candidates = 20, predicate = pred).collect()
    val calls: Seq[(String, () => Any)] = Seq(
      "bm25TopKBatch, predicate" -> (() => CorpusOps.bm25TopKBatch(corpus,
        "doc_id", "text", queries, "query_id", "query_text", k = 10,
        zz).collect()),
      "bm25TopKIndexed, predicate" -> (() => CorpusOps.bm25TopKIndexed(
        spark, dir, queries, "query_id", "query_text", k = 10, zz)
        .collect()),
      "searchPipelineBatch" -> (() => batch(docs, sem, None, None)),
      "searchPipelineBatch, predicate" -> (() => batch(corpus, semF, zz,
        None)),
      "searchPipelineBatch, mmr" -> (() => batch(docs, sem, None,
        Some(CorpusOps.Mmr(emb, "vec_id", "embedding", 0.7)))),
      "searchPipelineBatch, predicate, mmr" -> (() => batch(corpus,
        semF, zz, Some(CorpusOps.Mmr(plantedEmb, "vec_id", "embedding",
          0.7)))),
      "searchPipeline" -> (() => single(docs, sem, None)),
      "searchPipeline, predicate" -> (() => single(corpus, semF, zz)))
    calls.foreach { case (_, call) => call() } // first loads stay outside
    val got = calls.map { case (face, call) => face -> jobsLaunchedBy(call()) }
    info(s"jobs: ${got.mkString(", ")}")
    got.foreach { case (face, n) =>
      assert(n <= replacedFaceJobs(face),
        s"$face launched $n jobs, the face it replaced " +
          s"${replacedFaceJobs(face)}")
    }
  }

  test("mmrRerankBatch: a non-integral id column is rejected loudly " +
      "(a silent long cast would collapse queries into one null " +
      "group) — r17 advice") {
    val strIds = Seq(("a", 1L, 0.9d, Seq(1.0f)), ("b", 2L, 0.5d, Seq(0.5f)))
      .toDF("qid", "id", "rel", "v")
    interceptGuard("integral id") {
      Similarity.mmrRerankBatch(strIds, "qid", "id", "rel", "v",
        k = 2, lambda = 0.5).collect()
    }
    val strDoc = Seq((1L, "x", 0.9d, Seq(1.0f)))
      .toDF("qid", "id", "rel", "v")
    interceptGuard("integral id") {
      Similarity.mmrRerankBatch(strDoc, "qid", "id", "rel", "v",
        k = 2, lambda = 0.5).collect()
    }
  }

  test("bm25 index extraCols: a per-row-varying metadata column " +
      "fails the build loudly instead of inflating posting " +
      "cardinality — r17 advice") {
    // two rows share doc id 1 with DIFFERENT labels and overlapping
    // vocabulary: the old group-key join would have written two
    // posting rows for ('common', 1); now the aggregation raises
    val docs = Seq(
      (1L, "common alpha", "en"),
      (1L, "common beta", "fr"),
      (2L, "common gamma", "en")).toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("bm25var")
      .toString + "/idx"
    interceptGuard("not constant") {
      CorpusOps.buildBm25Index(docs, "doc_id", "text", dir,
        extraCols = Seq("lang"))
    }
    // constant (and all-null) metadata still builds and probes
    val ok = Seq((1L, "common alpha", "en"), (2L, "common beta", null))
      .toDF("doc_id", "text", "lang")
    val dir2 = java.nio.file.Files.createTempDirectory("bm25ok")
      .toString + "/idx"
    CorpusOps.buildBm25Index(ok, "doc_id", "text", dir2,
      extraCols = Seq("lang"))
    val probed = CorpusOps.bm25TopKIndexed(spark, dir2,
        Seq((0L, "common")).toDF("query_id", "query_text"),
        "query_id", "query_text", k = 10, Some($"lang" === "en"))
      .select($"id").as[Long].collect().toSet
    assert(probed == Set(1L))
  }

  test("mmrRerankBatch: NaN relevance is never selected and never " +
      "crashes the greedy loop (fewer than k rows, not an error)") {
    val cands = Seq(
      (0L, 1L, 0.9d, Seq(1.0f, 0.0f)),
      (0L, 2L, Double.NaN, Seq(0.0f, 1.0f)),
      (0L, 3L, 0.5d, Seq(0.5f, 0.5f)),
      (0L, 4L, Double.NaN, Seq(0.1f, 0.9f)))
      .toDF("qid", "id", "rel", "v")
    val out = Similarity.mmrRerankBatch(cands, "qid", "id", "rel",
        "v", k = 4, lambda = 0.7)
      .orderBy($"rank").as[(Long, Long, Double, Long)].collect()
    assert(out.map(_._2).toSeq == Seq(1L, 3L),
      s"only finite-relevance candidates may rank: ${out.mkString(",")}")
  }

  test("topKBatch(Srp) == per-query srpTopK (the LSH-bucketed tier's " +
      "batch face)") {
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
    val qs = emb.filter($"vec_id" < 4)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val batch = VectorIndex.topKBatch(emb, "vec_id", "embedding",
        qs, "qid", "qv", k = 10, VectorCodec.Srp(4))
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(r => (r._2, r._3)).sortBy(r => (-r._2, r._1))
        .toSeq).toMap
    (0L until 4L).foreach { qid =>
      val single = Similarity.srpTopK(emb, "vec_id", "embedding",
          queryId = qid, k = 10, nBits = 4)
        .as[(Long, Double)].collect().toSeq
        .sortBy(r => (-r._2, r._1))
      assert(batch.getOrElse(qid, Seq.empty) == single,
        s"query $qid diverges")
    }
  }

  test("ivfPqTopKBatchFiltered: batch == single per query; widening " +
      "reaches full coverage on the planted rare label") {
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding", $"label")
    val corpus = emb.unionByName(
      emb.filter($"vec_id".between(10, 21))
        .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding",
          lit(99).as("label")))
    val dir = java.nio.file.Files.createTempDirectory("ivfpqbf")
      .toString + "/idx"
    Similarity.ivfBuild(corpus, "vec_id", "embedding", dir,
      IvfTier.Pq(m = 8, nbits = 8), nCells = 8, iters = 3,
      extraCols = Seq("label"))
    val queries = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    def byQuery(qs: org.apache.spark.sql.DataFrame) =
      Similarity.ivfProbe(spark, dir, qs, "qid", "qv", k = 20,
          probes = 1, Some($"label" === 99))
        .as[(Long, Long, Double)].collect()
        .groupBy(_._1).view
        .mapValues(_.map(r => (r._2, r._3)).sortBy(r => (-r._2, r._1))
          .toSeq).toMap
    val batch = byQuery(queries)
    // a query's rows in the batch equal its rows from a 1-row probe
    (0L until 2L).foreach { qid =>
      val single = byQuery(queries.filter($"qid" === qid))(qid)
      assert(batch(qid) == single, s"query $qid diverges")
      assert(single.map(_._1).toSet ==
        (10L to 21L).map(_ + 1000000L).toSet,
        "widening must reach every planted row")
    }
  }
}
