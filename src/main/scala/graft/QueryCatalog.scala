package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.functions.TextFunctions._
import graft.operators.{CorpusOps, Dedup, DiffEngine, IvfTier, Multimodal, Similarity, TextAnalysis, TimeSeries, VectorCodec, VectorIndex}
import graft.streaming.EventStreams

/** The operator inventory (SURVEY.md §2 Tier A + §7.1 Tier B), one entry
  * per operator: a Spark implementation and, where ANSI-SQL-expressible,
  * a DuckDB oracle producing the identical result (same column names,
  * same rounding, same integer widths — the driver hash-compares).
  *
  * Conventions for oracle parity:
  *   - every aggregate / computed column is aliased identically on both
  *     sides;
  *   - doubles that pass through arithmetic are `round(_, n)` on both
  *     sides (raw column passthroughs stay exact);
  *   - integer-typed computed columns are cast to BIGINT on both sides
  *     (Spark `size`/`year`/... return int, DuckDB returns bigint).
  */
/** JVM-exit cleanup for scratch dirs (IVF index copies etc.): one
  * shutdown hook, idempotent registration, recursive delete. */
private[graft] object TempDirs {
  private val dirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
  private lazy val hook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => dirs.forEach(delete(_))))
  private def delete(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(delete)
    f.delete(); ()
  }
  def deleteOnExit(dir: java.io.File): Unit = { hook; dirs.add(dir); () }
}

object QueryCatalog {

  final case class Q(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      headline: Boolean = false)

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Tables.load(s, d, n)

  /** Scratch dir for connector round-trip queries: registered for
    * JVM-exit deletion so repeated catalog runs don't accumulate /tmp
    * litter (same hygiene as the IVF index dir). */
  private def scratchDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    TempDirs.deleteOnExit(dir.toFile)
    dir.toString
  }

  /** Once-per-(sfDir)-per-JVM derived physical layouts: the normalized
    * events rewrite and the bucketed fact tables are one-time layout
    * work a real deployment pays at ingest, not per query — so the
    * catalog/bench queries that exercise them build each layout on
    * first use and every later call (Verify's single pass, Bench's 5
    * iterations) reads the cached copy. `computeIfAbsent` makes the
    * build exactly-once even if headline queries ever run concurrently. */
  private object DerivedLayouts {
    private val built =
      new java.util.concurrent.ConcurrentHashMap[String, String]()

    /** Path of the typed, time-clustered events copy (see
      * [[graft.sources.Layout.writeNormalized]]). */
    def normalizedEvents(s: SparkSession, d: String): String =
      built.computeIfAbsent(s"events:$d", _ => {
        val dir = scratchDir("graft_evnorm")
        graft.sources.Layout.writeNormalized(
          Tables.events(s, d), s"$dir/events", "ts", numFiles = 8)
        s"$dir/events"
      })

    /** Bucketed `orders`/`lineitem` table names (same bucket count and
      * key on both sides → co-located, exchange-free fact-fact join).
      * Table names carry the sfDir hash so test sessions and Verify
      * sessions pointing at different SFs never collide in one
      * warehouse. */
    def bucketedFacts(s: SparkSession, d: String): (String, String) = {
      val tag = Integer.toHexString(d.hashCode).takeWhile(_ != '-')
      val names = (s"graft_b_orders_$tag", s"graft_b_lineitem_$tag")
      built.computeIfAbsent(s"buckets:$d", _ => {
        // Deterministic names + a warehouse that outlives the
        // in-memory catalog = the orphaned-location hazard on every
        // rerun; sweep first (Layout.dropOrphanedTableLocation).
        Seq(names._1, names._2).foreach(
          graft.sources.Layout.dropOrphanedTableLocation(s, _))
        graft.sources.Layout.saveBucketed(
          Tables.orders(s, d), names._1, "o_orderkey", buckets = 8)
        graft.sources.Layout.saveBucketed(
          Tables.lineitem(s, d)
            .withColumnRenamed("l_orderkey", "o_orderkey"),
          names._2, "o_orderkey", buckets = 8)
        names._1
      })
      names
    }
  }

  /** DuckDB CTE chain replicating [[CorpusOps.chunkDocs]] over
    * `documents` at maxTokens=32 / stride=24 — ends in
    * `u(doc_id, toks, chunk_id)`; shared by q_chunk_docs and
    * q_pack_sequences (same precedent as [[ngramPairsCtes]]). */
  private val chunkDocsCtes =
    """t AS (SELECT doc_id,
      |    string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents
      |  WHERE text IS NOT NULL AND trim(text) <> ''),
      |n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
      |c AS (SELECT doc_id, toks,
      |    CASE WHEN n <= 32 THEN 1
      |      ELSE CAST(floor((n - 32 + 23) / 24.0) AS BIGINT) + 1
      |    END AS n_chunks FROM n),
      |u AS (SELECT doc_id, toks,
      |    unnest(generate_series(0, n_chunks - 1)) AS chunk_id
      |  FROM c)""".stripMargin

  /** DuckDB CTE replicating [[TextAnalysis.gopherRules]]'s metric
    * block: given a CTE `b(id, t, toks, lines)` (already blank-
    * filtered), yields `m(id, t, n, raw_wlen, raw_sym, raw_bullet,
    * raw_ellipsis, raw_alpha, stop_hits)`. ONE source for the signal
    * definitions, shared by q_gopher_rules / q_curate /
    * q_web_pipeline (chunkDocsCtes precedent) — a stop-word or signal
    * change cannot drift between the three oracles. */
  private val gopherMetricsCte =
    """m AS (SELECT id, t, len(toks) AS n,
      |    CAST(list_aggregate(list_transform(toks,
      |        x -> length(x)), 'sum') AS DOUBLE) / len(toks)
      |      AS raw_wlen,
      |    CAST(len(regexp_extract_all(t, '#')) +
      |         len(regexp_extract_all(t, '\.\.\.')) AS DOUBLE)
      |      / len(toks) AS raw_sym,
      |    CAST(len(list_filter(lines,
      |        l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE)
      |      / len(lines) AS raw_bullet,
      |    CAST(len(list_filter(lines,
      |        l -> regexp_matches(trim(l), '(\.\.\.|…)$')))
      |      AS DOUBLE) / len(lines) AS raw_ellipsis,
      |    CAST(len(list_filter(toks,
      |        x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
      |      / len(toks) AS raw_alpha,
      |    CAST(len(list_filter(toks, x -> lower(x) IN
      |        ('the','be','to','of','and','that','have','with')))
      |      AS BIGINT) AS stop_hits
      |  FROM b)""".stripMargin

  /** The Gopher pass conjunction over [[gopherMetricsCte]]'s columns at
    * minTokens=30 — the thresholds' single home. */
  private val gopherPassSql =
    """n >= 30 AND n <= 100000
      |      AND raw_wlen >= 3.0 AND raw_wlen <= 10.0
      |      AND raw_sym < 0.1 AND raw_bullet < 0.9
      |      AND raw_ellipsis < 0.3 AND raw_alpha > 0.8
      |      AND stop_hits >= 2""".stripMargin

  private val segments =
    Seq("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE")

  /** documents ∪ first-10-docs-recopied-with-shifted-ids: planted exact
    * dups so near-dup operators have guaranteed positives to find. */
  private def plantedDocs(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    docs.select(col("doc_id"), col("text")).unionByName(
      docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
  }

  private val plantedDocsSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 10"""
      .stripMargin

  /** embeddings ∪ first-10-vectors-recopied-with-shifted-ids: planted
    * exact duplicate vectors (cosine 1.0) so embedding near-dup
    * operators have guaranteed positives — the corpus itself has no
    * organic pair above cosine 0.61 at any SF (measured). */
  /** Process-level PQ model memo: training is deterministic per
    * (variant, sfDir), so fit once and let repeated catalog/bench runs
    * (the bench runs each headline 5x) reuse the model — timed passes
    * measure the ADC scan, not refits. By-name `fit` so a hit skips
    * the training entirely. */
  private val pqModels =
    new java.util.concurrent.ConcurrentHashMap[String, Similarity.PqModel]()
  private def pqModelFor(key: String,
                         fit: => Similarity.PqModel): Similarity.PqModel =
    Option(pqModels.get(key)).getOrElse {
      val m = fit; pqModels.put(key, m); m
    }

  /** Process-level BPE model memo (same rationale as [[pqModelFor]]:
    * learning is deterministic per sfDir, so repeated runs reuse it). */
  private val bpeModels =
    new java.util.concurrent.ConcurrentHashMap[String, CorpusOps.BpeModel]()
  private def bpeModelFor(key: String,
                          fit: => CorpusOps.BpeModel): CorpusOps.BpeModel =
    Option(bpeModels.get(key)).getOrElse {
      val m = fit; bpeModels.put(key, m); m
    }

  /** The planted probe delta shared by q_incremental_exact and
    * q_incremental_bloom (and their common oracle): corpus-dup copies
    * of docs 0..5 at +1M and +2M, plus a novel upper-cased doc-0 text
    * twice (3M+1 genuinely new, 3M+2 its intra-batch dup). */
  private def plantedExactDelta(docs: DataFrame): DataFrame = {
    val base = docs.filter(col("doc_id") < 6)
    base.select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      .unionByName(base.select((col("doc_id") + 2000000).as("doc_id"),
        col("text")))
      .unionByName(docs.filter(col("doc_id") === 0)
        .select(lit(3000001L).as("doc_id"), upper(col("text")).as("text")))
      .unionByName(docs.filter(col("doc_id") === 0)
        .select(lit(3000002L).as("doc_id"), upper(col("text")).as("text")))
  }

  private def plantedEmbeddings(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    e.select(col("vec_id"), col("embedding")).unionByName(
      e.filter(col("vec_id") < 10)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
  }

  /** DuckDB twin of the exact all-pairs cosine near-dup over
    * [[plantedEmbeddings]] at threshold 0.99: double-precision dot and
    * norms accumulated in the same order as the Spark expressions, so
    * values are bit-comparable. */
  private val embedNeardupOracleSql =
    """WITH emb AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 10),
      |e AS (SELECT vec_id,
      |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |      FROM emb),
      |nrm AS (SELECT vec_id, v,
      |          sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum'))
      |            AS nv
      |        FROM e),
      |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |        round(list_aggregate(list_transform(a.v, (x, i) -> x * b.v[i]),
      |          'sum') / (a.nv * b.nv), 6) AS cos_sim
      |      FROM nrm a JOIN nrm b ON a.vec_id < b.vec_id)
      |SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= 0.99""".stripMargin

  /** Synthesized URL per document exercising every [[CorpusOps
    * .canonicalUrl]] path: scheme/host case, trailing host dot +
    * default port, trailing path slash, param order, tracking params,
    * fragments, and a malformed residue class. The Spark column and
    * this SQL build the IDENTICAL string. */
  private def syntheticUrl: Column = {
    val id = col("doc_id")
    when(id % 13 === 0, concat(lit("doc-"), id, lit(".bad")))
      .otherwise(concat(
        when(id % 2 === 0, lit("HTTPS")).otherwise(lit("https")),
        lit("://WWW."), upper(col("source")), lit(".ORG"),
        when(id % 3 === 0, lit(".:443")).otherwise(lit("")),
        lit("/Cat/"), id % 5,
        when(id % 4 === 0, lit("/")).otherwise(lit("")),
        when(id % 2 === 0,
          concat(lit("?b="), id % 7, lit("&utm_source=feed&a=1")))
          .otherwise(concat(lit("?a=1&b="), id % 7)),
        when(id % 6 === 0, lit("#sec")).otherwise(lit(""))))
  }

  /** DuckDB CTEs: `u(doc_id, url)` = [[syntheticUrl]] over documents;
    * `c(doc_id, url, canonical_url)` = the canonicalization replica. */
  private val urlCanonCtes =
    """u AS (SELECT doc_id,
      |  CASE WHEN doc_id % 13 = 0 THEN 'doc-' || doc_id || '.bad'
      |  ELSE (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) ||
      |    '://WWW.' || upper(source) || '.ORG' ||
      |    (CASE WHEN doc_id % 3 = 0 THEN '.:443' ELSE '' END) ||
      |    '/Cat/' || (doc_id % 5) ||
      |    (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
      |    (CASE WHEN doc_id % 2 = 0
      |        THEN '?b=' || (doc_id % 7) || '&utm_source=feed&a=1'
      |        ELSE '?a=1&b=' || (doc_id % 7) END) ||
      |    (CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END)
      |  END AS url FROM documents),
      |pp AS (SELECT doc_id, url,
      |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      |    AS scheme,
      |  rtrim(lower(regexp_extract(url,
      |    '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1)), '.')
      |    AS host,
      |  regexp_extract(url,
      |    '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?[^/:?#]+:([0-9]+)', 1)
      |    AS port,
      |  regexp_replace(regexp_extract(url,
      |    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '')
      |    AS p1,
      |  regexp_extract(url, '^[^#]*?\?([^#]*)', 1) AS q FROM u),
      |ps AS (SELECT *, list_sort(list_filter(string_split(q, '&'),
      |    x -> x <> '' AND NOT regexp_matches(x,
      |      '^(?:utm_[^=]*|gclid|fbclid|msclkid|mc_eid|ref)(?:=.*)?$')))
      |    AS prm FROM pp),
      |c AS (SELECT doc_id, url,
      |  CASE WHEN scheme = '' OR host = '' THEN NULL ELSE
      |    scheme || '://' || host ||
      |    (CASE WHEN port = '' OR (scheme = 'http' AND port = '80') OR
      |       (scheme = 'https' AND port = '443')
      |     THEN '' ELSE ':' || port END) ||
      |    (CASE WHEN p1 = '' THEN '/' ELSE p1 END) ||
      |    (CASE WHEN len(prm) = 0 THEN ''
      |     ELSE '?' || array_to_string(prm, '&') END)
      |  END AS canonical_url FROM ps)""".stripMargin

  /** DuckDB CTE chain replicating [[Dedup.ngramJaccardPairs]] over
    * [[plantedDocs]]: ends in `np(id_a, id_b, jac)` — exact Jaccard over
    * full shingle sets, candidates gated by rare shingles (df in [2,20]),
    * jac >= 0.5. Used by q_ngram_jaccard (extracted for reuse by future
    * pair-based oracles, e.g. a SQL-expressible dup-cluster check). */
  private val ngramPairsCtes =
    s"""docs AS ($plantedDocsSql),
       |t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
       |      FROM docs),
       |g AS (SELECT DISTINCT doc_id, sh FROM (
       |        SELECT doc_id, unnest(list_filter(
       |          list_transform(toks, (x, i) ->
       |            toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
       |          v -> v IS NOT NULL)) AS sh
       |        FROM t) u),
       |sz AS (SELECT doc_id, count(*) AS n_sh FROM g GROUP BY 1),
       |rare AS (SELECT sh FROM g GROUP BY sh
       |         HAVING count(*) BETWEEN 2 AND 20),
       |cand AS (SELECT DISTINCT g1.doc_id AS id_a, g2.doc_id AS id_b
       |         FROM g g1 JOIN g g2 USING (sh) JOIN rare USING (sh)
       |         WHERE g1.doc_id < g2.doc_id),
       |pairs AS (SELECT id_a, id_b, count(*) AS inter
       |          FROM cand
       |          JOIN g g1 ON g1.doc_id = id_a
       |          JOIN g g2 ON g2.doc_id = id_b AND g2.sh = g1.sh
       |          GROUP BY 1, 2),
       |np AS (SELECT id_a, id_b,
       |         inter / (sa.n_sh + sb.n_sh - inter) AS jac
       |       FROM pairs
       |       JOIN sz sa ON sa.doc_id = id_a
       |       JOIN sz sb ON sb.doc_id = id_b
       |       WHERE inter / (sa.n_sh + sb.n_sh - inter) >= 0.5)""".stripMargin

  /** Shared oracle of q_bm25_filtered and q_bm25_indexed_filtered —
    * per query the direct and indexed filtered operators are
    * IDENTICAL (the bm25TopKIndexed equivalence law with the filter
    * threaded through), so one SQL gates both: the q_bm25_batch CTE
    * chain over the union corpus (12 planted 'zz' copies of docs
    * 10..21), df/N/avgdl from the FULL corpus (filter-context
    * semantics), candidates restricted to 'zz' before ranking. */
  private val bm25FilteredOracleSql =
    """WITH qraw AS (SELECT * FROM (VALUES
      |    (CAST(0 AS BIGINT), 'hash join window scan'),
      |    (CAST(1 AS BIGINT), 'sort merge batch'),
      |    (CAST(2 AS BIGINT), 'dup stream'),
      |    (CAST(3 AS BIGINT), 'qqqnomatchqqq'))
      |  AS v(query_id, query_text)),
      |q AS (SELECT DISTINCT query_id, tok FROM (
      |  SELECT query_id,
      |    unnest(string_split_regex(trim(query_text), '\s+')) AS tok
      |  FROM qraw)),
      |d0 AS (SELECT doc_id, text, lang FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text, 'zz' FROM documents
      |  WHERE doc_id BETWEEN 10 AND 21),
      |d AS (SELECT doc_id, lang,
      |    string_split_regex(trim(text), '\s+') AS toks
      |  FROM d0
      |  WHERE text IS NOT NULL AND trim(text) <> ''),
      |lens AS (SELECT doc_id, len(toks) AS dl FROM d),
      |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
      |    avg(dl) AS avgdl FROM lens),
      |t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
      |  WHERE tok IN (SELECT DISTINCT tok FROM q)
      |  GROUP BY 1, 2),
      |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      |allowed AS (SELECT doc_id FROM d WHERE lang = 'zz'),
      |contrib AS (SELECT tf.doc_id, tf.tok,
      |    ln((stats.n - df.df + CAST(0.5 AS DOUBLE))
      |          / (df.df + CAST(0.5 AS DOUBLE))
      |          + CAST(1.0 AS DOUBLE))
      |      * tf.tf
      |      * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
      |      / (tf.tf + CAST(1.2 AS DOUBLE)
      |          * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
      |            + CAST(0.75 AS DOUBLE) * lens.dl
      |              / stats.avgdl)) AS c
      |  FROM tf JOIN df USING (tok) JOIN lens USING (doc_id)
      |  CROSS JOIN stats),
      |sc AS (SELECT q.query_id, contrib.doc_id,
      |    round(sum(contrib.c), 4) + 0 AS bm25,
      |    CAST(count(*) AS BIGINT) AS n_terms
      |  FROM contrib JOIN q ON q.tok = contrib.tok
      |  JOIN allowed ON allowed.doc_id = contrib.doc_id
      |  GROUP BY 1, 2),
      |rk AS (SELECT query_id, doc_id, bm25, n_terms,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY bm25 DESC, doc_id) AS rn
      |  FROM sc)
      |SELECT query_id, doc_id, bm25, n_terms
      |FROM rk WHERE rn <= 10""".stripMargin

  /** Shared oracle of the two-stage rerank funnels gated in the
    * degenerate pool >= corpus case (q_pq_rerank_batch,
    * q_bq_rerank_batch, q_mrl_rerank_batch): every corpus row
    * survives candidate generation, so each funnel's result IS the
    * exact batch cosine ranking of queries 0..3 — one SQL gates all
    * three recipes' plumbing (self-exclusion, per-query ranking,
    * rounding); their real-pool behavior is spec-pinned. */
  private val exactRerankOracleSql =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qv
      |  FROM embeddings WHERE vec_id < 4),
      |s AS (SELECT q.qid, e.vec_id AS id,
      |  round(list_aggregate(list_transform(e.embedding,
      |    (x, i) -> CAST(x AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)),
      |    'sum')
      |  / (sqrt(list_aggregate(list_transform(e.embedding,
      |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
      |   * sqrt(list_aggregate(list_transform(q.qv,
      |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))),
      |    6) + 0 AS cos_sim
      |  FROM embeddings e JOIN q ON e.vec_id <> q.qid),
      |r AS (SELECT qid, id, cos_sim,
      |    row_number() OVER (PARTITION BY qid
      |                       ORDER BY cos_sim DESC, id) AS rn
      |  FROM s)
      |SELECT qid, id, cos_sim FROM r WHERE rn <= 10""".stripMargin

  /** Shared oracle of the binary-quantization batch probes
    * (q_bq_batch / q_bq_indexed / q_bq_stream_exec / q_bq_compact):
    * signatures are a pure function of the vectors — no trained
    * model — so direct, indexed, streamed and compacted probes all
    * rank identically and ONE differential SQL gates them all.
    * `corpusPred` narrows the CORPUS side only (the q_bq_compact
    * deletion case; queries keep their vectors — they come from the
    * query table, not the index). */
  private def bqBatchOracleSql(corpusPred: String = "TRUE"): String =
    s"""WITH emb AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000, embedding FROM embeddings
       |  WHERE vec_id < 10),
       |sig AS (SELECT vec_id,
       |  list_transform(range((len(embedding)+31)//32), w ->
       |    CAST(list_aggregate(list_transform(range(32), b ->
       |      CASE WHEN w*32+b+1 <= len(embedding)
       |             AND embedding[w*32+b+1] > 0
       |        THEN 1::BIGINT << b ELSE 0::BIGINT END), 'sum')
       |      AS BIGINT)) AS s
       |  FROM emb),
       |q AS (SELECT vec_id AS qid, s AS qs FROM sig
       |  WHERE vec_id < 4),
       |h AS (SELECT q.qid, e.vec_id AS id,
       |    CAST(list_aggregate(list_transform(e.s,
       |      (x, i) -> bit_count(xor(x, q.qs[i]))), 'sum')
       |      AS BIGINT) AS hamming
       |  FROM (SELECT * FROM sig WHERE $corpusPred) e
       |  JOIN q ON e.vec_id <> q.qid),
       |r AS (SELECT qid, id, hamming,
       |    row_number() OVER (PARTITION BY qid
       |                       ORDER BY hamming, id) AS rn
       |  FROM h)
       |SELECT qid, id, hamming FROM r WHERE rn <= 10""".stripMargin

  /** Shared oracle of q_search_filtered and its fully-INDEXED twin
    * q_search_filtered_indexed: per query the indexed filtered legs
    * equal the direct ones exactly (bm25 by the indexed==direct law;
    * the IVF leg widens to full coverage on the planted rare label,
    * so it IS the brute filtered ranking), hence one SQL gates both
    * compositions. */
  private val searchFilteredOracleSql =
    """WITH qraw AS (SELECT * FROM (VALUES
      |    (CAST(0 AS BIGINT), 'hash join window scan'),
      |    (CAST(1 AS BIGINT), 'sort merge batch'),
      |    (CAST(2 AS BIGINT), 'dup stream'),
      |    (CAST(3 AS BIGINT), 'qqqnomatchqqq'))
      |  AS v(query_id, query_text)),
      |q AS (SELECT DISTINCT query_id, tok FROM (
      |  SELECT query_id,
      |    unnest(string_split_regex(trim(query_text), '\s+'))
      |      AS tok
      |  FROM qraw)),
      |d0 AS (SELECT doc_id, text, lang FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text, 'zz' FROM documents
      |  WHERE doc_id BETWEEN 10 AND 21),
      |d AS (SELECT doc_id, lang,
      |    string_split_regex(trim(text), '\s+') AS toks
      |  FROM d0
      |  WHERE text IS NOT NULL AND trim(text) <> ''),
      |lens AS (SELECT doc_id, len(toks) AS dl FROM d),
      |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
      |    avg(dl) AS avgdl FROM lens),
      |t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
      |  WHERE tok IN (SELECT DISTINCT tok FROM q)
      |  GROUP BY 1, 2),
      |dfr AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      |allowed AS (SELECT doc_id FROM d WHERE lang = 'zz'),
      |contrib AS (SELECT tf.doc_id, tf.tok,
      |    ln((stats.n - dfr.df + CAST(0.5 AS DOUBLE))
      |          / (dfr.df + CAST(0.5 AS DOUBLE))
      |          + CAST(1.0 AS DOUBLE))
      |      * tf.tf
      |      * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
      |      / (tf.tf + CAST(1.2 AS DOUBLE)
      |          * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
      |            + CAST(0.75 AS DOUBLE) * lens.dl
      |              / stats.avgdl)) AS c
      |  FROM tf JOIN dfr USING (tok) JOIN lens USING (doc_id)
      |  CROSS JOIN stats),
      |sc AS (SELECT q.query_id, contrib.doc_id,
      |    round(sum(contrib.c), 4) + 0 AS bm25
      |  FROM contrib JOIN q ON q.tok = contrib.tok
      |  JOIN allowed ON allowed.doc_id = contrib.doc_id
      |  GROUP BY 1, 2),
      |lex AS (SELECT query_id, doc_id, bm25 FROM (
      |    SELECT query_id, doc_id, bm25,
      |      row_number() OVER (PARTITION BY query_id
      |                         ORDER BY bm25 DESC, doc_id) AS rn
      |    FROM sc)
      |  WHERE rn <= 50),
      |qv AS (SELECT vec_id AS qid, embedding AS vq
      |  FROM embeddings WHERE vec_id < 4),
      |pe AS (SELECT CAST(vec_id + 1000000 AS BIGINT) AS id,
      |    embedding
      |  FROM embeddings WHERE vec_id BETWEEN 10 AND 21),
      |semsc AS (SELECT qv.qid, e.id,
      |  round(list_aggregate(list_transform(e.embedding,
      |    (x, i) -> CAST(x AS DOUBLE) * CAST(qv.vq[i] AS DOUBLE)),
      |    'sum')
      |  / (sqrt(list_aggregate(list_transform(e.embedding,
      |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
      |   * sqrt(list_aggregate(list_transform(qv.vq,
      |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))),
      |    6) + 0 AS s
      |  FROM pe e JOIN qv ON e.id <> qv.qid),
      |sem AS (SELECT qid AS query_id, id AS doc_id, s FROM (
      |    SELECT qid, id, s,
      |      row_number() OVER (PARTITION BY qid
      |                         ORDER BY s DESC, id) AS rn
      |    FROM semsc)
      |  WHERE rn <= 50),
      |r1 AS (SELECT query_id, doc_id,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY bm25 DESC, doc_id) AS r
      |  FROM lex),
      |r2 AS (SELECT query_id, doc_id,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY s DESC, doc_id) AS r
      |  FROM sem),
      |u AS (SELECT query_id, doc_id, r FROM r1
      |      UNION ALL SELECT query_id, doc_id, r FROM r2),
      |f AS (SELECT query_id, doc_id,
      |    CAST(count(*) AS BIGINT) AS n_signals,
      |    round(sum(CAST(1.0 AS DOUBLE)
      |      / (CAST(60.0 AS DOUBLE) + r)), 6) + 0 AS rrf_score
      |  FROM u GROUP BY 1, 2)
      |SELECT query_id, doc_id, n_signals, rrf_score,
      |  CAST(rn AS BIGINT) AS rank
      |FROM (SELECT query_id, doc_id, n_signals, rrf_score,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY rrf_score DESC, doc_id)
      |      AS rn
      |  FROM f)
      |WHERE rn <= 10""".stripMargin

  val all: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // Tier A: reference parity (SURVEY.md §2)
    // ------------------------------------------------------------------

    Q("q_filter_eq", // F1 (Download.py:89)
      (s, d) => t(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")),
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
             |WHERE c_mktsegment = 'BUILDING'""".stripMargin)),

    Q("q_filter_in", // F2 (Upload.py:127)
      (s, d) => t(s, d, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority")),
      Some("""SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
             |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')""".stripMargin)),

    Q("q_project_drop", // P1 (Download.py:95-113)
      (s, d) => t(s, d, "lineitem")
        .drop("l_tax", "l_extendedprice", "l_discount", "l_shipdate"),
      Some("""SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
             |       l_quantity, l_returnflag, l_linestatus
             |FROM lineitem""".stripMargin)),

    Q("q_null_scrub", // S2 (Download.py:148) — 'NULL' literal means missing
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          scrubNullLiteral(
            when(col("doc_id") % 10 === 0, lit("NULL")).otherwise(col("lang")))
            .as("lang_scrubbed")),
      Some("""SELECT doc_id,
             |  nullif(CASE WHEN doc_id % 10 = 0 THEN 'NULL' ELSE lang END,
             |         'NULL') AS lang_scrubbed
             |FROM documents""".stripMargin)),

    Q("q_date_format", // S1 (Download.py:130-136) — %m-%d-%Y presentation
      (s, d) => t(s, d, "orders")
        .select(col("o_orderkey"), dateMdY(col("o_orderdate")).as("odate_str")),
      Some("""SELECT o_orderkey, strftime(o_orderdate, '%m-%d-%Y') AS odate_str
             |FROM orders""".stripMargin)),

    Q("q_percent_format", // S3 (Download.py:146-155)
      (s, d) => t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          percent(col("l_discount")).as("disc_pct")),
      Some("""SELECT l_orderkey, l_linenumber,
             |  concat(CAST(round(l_discount * 100, 0) AS BIGINT), '%') AS disc_pct
             |FROM lineitem""".stripMargin)),

    Q("q_header_norm", // S6/S7 (Upload.py:137-145, Compare.py:34-39)
      (s, d) => t(s, d, "part")
        .select(col("p_partkey"),
          normHeaderSnake(col("p_name")).as("norm_snake"),
          normHeaderSpace(col("p_name")).as("norm_space")),
      Some("""SELECT p_partkey,
             |  regexp_replace(regexp_replace(
             |    lower(trim(regexp_replace(p_name, '\s+', ' ', 'g'))),
             |    '[^a-z0-9]+', '_', 'g'), '^_+|_+$', '', 'g') AS norm_snake,
             |  trim(regexp_replace(regexp_replace(
             |    lower(trim(p_name)), '[\s_]+', ' ', 'g'),
             |    '[^a-z0-9 ]', '', 'g')) AS norm_space
             |FROM part""".stripMargin)),

    Q("q_keep_last", // J1/A2 (Compare.py:55-63) — duplicate keys keep LAST
      (s, d) => DiffEngine
        .keepLast(t(s, d, "orders"), "o_custkey", "o_orderkey")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
      Some("""SELECT o_custkey, o_orderkey, o_totalprice FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_custkey
             |                       ORDER BY o_orderkey DESC) AS rn
             |  FROM orders) WHERE rn = 1""".stripMargin),
      headline = true),

    Q("q_diff_classify", // J2/J3/S9 — the Compare engine as one query
      (s, d) => {
        val o = t(s, d, "orders")
        val oldq = o.filter(col("o_orderkey") % 3 =!= 0)
          .select(col("o_orderkey").cast("string").as("k"),
            col("o_orderkey").as("ord"),
            col("o_orderpriority").as("prio"), col("o_orderstatus").as("stat"))
        val newq = o.select(col("o_orderkey").cast("string").as("k"),
          when(col("o_orderkey") % 7 === 0, lit("X-MUTATED"))
            .when(col("o_orderkey") % 11 === 0, lit(""))
            .otherwise(col("o_orderpriority")).as("prio"),
          col("o_orderstatus").as("stat"))
        DiffEngine.diff(oldq, newq, "k", "ord", Seq("prio", "stat"))
          .withColumnRenamed("column", "col_name")
      },
      Some("""WITH oldq AS (
             |  SELECT CAST(o_orderkey AS VARCHAR) AS k,
             |         o_orderpriority AS prio, o_orderstatus AS stat
             |  FROM orders WHERE o_orderkey % 3 <> 0),
             |newq AS (
             |  SELECT CAST(o_orderkey AS VARCHAR) AS k,
             |    CASE WHEN o_orderkey % 7 = 0 THEN 'X-MUTATED'
             |         WHEN o_orderkey % 11 = 0 THEN ''
             |         ELSE o_orderpriority END AS prio,
             |    o_orderstatus AS stat
             |  FROM orders),
             |j AS (
             |  SELECT n.k, n.prio AS np, n.stat AS nst, o.prio AS op,
             |         o.stat AS ost, (o.k IS NULL) AS is_new
             |  FROM newq n LEFT JOIN oldq o USING (k))
             |SELECT k AS key, 'prio' AS col_name,
             |  coalesce(op, '') AS old_value, np AS new_value,
             |  CASE WHEN is_new THEN 'NEW'
             |       WHEN coalesce(op, '') <> '' AND np = '' THEN 'CLEARED'
             |       WHEN np <> coalesce(op, '') THEN 'CHANGED'
             |       ELSE 'UNCHANGED' END AS status
             |FROM j
             |UNION ALL
             |SELECT k AS key, 'stat' AS col_name,
             |  coalesce(ost, '') AS old_value, nst AS new_value,
             |  CASE WHEN is_new THEN 'NEW'
             |       WHEN coalesce(ost, '') <> '' AND nst = '' THEN 'CLEARED'
             |       WHEN nst <> coalesce(ost, '') THEN 'CHANGED'
             |       ELSE 'UNCHANGED' END AS status
             |FROM j""".stripMargin),
      headline = true),

    Q("q_word_diff_count", // S10 (Compare.py:87-110) scalar summary form
      (s, d) => t(s, d, "part")
        .select(col("p_partkey"),
          DiffEngine.wordDiffChangedCount(col("p_name"),
            expr("replace(p_name, 'small', 'tiny')"))
            .cast("long").as("n_changed")),
      Some("""SELECT p_partkey,
             |  CAST(len(list_filter(string_split(p_name, ' '),
             |                       x -> x = 'small')) AS BIGINT) AS n_changed
             |FROM part""".stripMargin)),

    Q("q_word_diff_runs", // S10 full rich-text-run form; runs serialized
      // to JSON. The oracle rebuilds Spark's to_json output byte-for-byte
      // (documents.text is plain lowercase words — no JSON escaping
      // cases; list_transform's index is 1-based so `i > len(ot)` is the
      // reference's `i >= len(old_tokens)` pad rule).
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          to_json(DiffEngine.wordDiff(col("text"),
            expr("replace(text, 'spark', 'flink')"))).as("runs")),
      Some("""WITH s AS (
             |  SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS ot,
             |    string_split_regex(trim(replace(text, 'spark', 'flink')),
             |                       '\s+') AS nt
             |  FROM documents)
             |SELECT doc_id,
             |  '[' || array_to_string(
             |    list_transform(nt, (x, i) ->
             |      '{"token":"' || x || '","changed":' ||
             |      CASE WHEN i > len(ot) OR x <> ot[i]
             |           THEN 'true' ELSE 'false' END || '}'),
             |    ',') || ']' AS runs
             |FROM s""".stripMargin)),

    Q("q_custom_sort", // O1 (Upload.py:192-205) — sort by list position
      (s, d) => t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          array_position(typedLit(segments), col("c_mktsegment")).as("seg_rank")),
      Some(s"""SELECT c_custkey, c_mktsegment,
              |  CAST(list_position([${segments.map("'" + _ + "'").mkString(", ")}],
              |                     c_mktsegment) AS BIGINT) AS seg_rank
              |FROM customer""".stripMargin)),

    Q("q_anti_join", // J3 (Compare.py:179-185)
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name")),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"""
        .stripMargin)),

    Q("q_semi_join", // EXISTS shape (engine scope)
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_totalprice") >= 100000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_acctbal")),
      Some("""SELECT c_custkey, c_acctbal FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |              WHERE o_custkey = c_custkey AND o_totalprice >= 100000)"""
        .stripMargin)),

    Q("q_left_outer_count", // J2 + A1
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total_spent")),
      Some("""SELECT c_custkey, count(o_orderkey) AS n_orders,
             |  round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
             |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
             |GROUP BY c_custkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Tier B: relational coverage (SURVEY.md §7.1)
    // ------------------------------------------------------------------

    Q("q1_agg", // grouped aggregation (TPC-H Q1 shape)
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("n")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  round(sum(l_quantity), 2) AS sum_qty,
             |  round(sum(l_extendedprice), 2) AS sum_base,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             |  round(avg(l_quantity), 4) AS avg_qty,
             |  count(*) AS n
             |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
      headline = true),

    Q("q_join5_revenue", // 5-way join (TPC-H Q5 shape); dims broadcast
      (s, d) => {
        val rn = broadcast(
          t(s, d, "nation").join(t(s, d, "region"),
            col("n_regionkey") === col("r_regionkey")))
        t(s, d, "lineitem")
          .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(rn, col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some("""SELECT r_name, n_name,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             |  count(*) AS n_items
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name""".stripMargin),
      headline = true),

    Q("q_window_rank", // row_number / top-3 per group
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders")
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    CAST(row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
             |  FROM orders) WHERE rn <= 3""".stripMargin),
      headline = true),

    Q("q_window_running", // running sum frame
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderdate, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             |    AS running_total
             |FROM orders""".stripMargin),
      headline = true),

    Q("q_window_lag", // lag/delta
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
        t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            round(col("o_totalprice") - lag(col("o_totalprice"), 1).over(w), 2)
              .as("delta_prev"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  round(o_totalprice - lag(o_totalprice, 1) OVER (
             |    PARTITION BY o_custkey ORDER BY o_orderkey), 2) + 0 AS delta_prev
             |FROM orders""".stripMargin)),

    Q("q_topk", // global ordered limit
      (s, d) => t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice")),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),
      headline = true),

    Q("q_distinct_count",
      (s, d) => t(s, d, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(countDistinct(col("c_nationkey")).as("n_nations"),
          count(lit(1)).as("n")),
      Some("""SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations,
             |  count(*) AS n
             |FROM customer GROUP BY c_mktsegment""".stripMargin)),

    Q("q_rollup",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("acct_sum")),
      Some("""SELECT r_name, n_name, count(*) AS n,
             |  round(sum(c_acctbal), 2) AS acct_sum
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY ROLLUP(r_name, n_name)""".stripMargin),
      headline = true),

    Q("q_intersect",
      (s, d) => t(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
        .intersect(t(s, d, "orders").select(col("o_custkey").as("c_custkey"))),
      Some("""SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
             |INTERSECT
             |SELECT o_custkey AS c_custkey FROM orders""".stripMargin)),

    Q("q_except",
      (s, d) => t(s, d, "customer").select(col("c_custkey"))
        .except(t(s, d, "orders").select(col("o_custkey").as("c_custkey"))),
      Some("""SELECT c_custkey FROM customer
             |EXCEPT
             |SELECT o_custkey AS c_custkey FROM orders""".stripMargin)),

    Q("q_union_tag", // U1 — tagged ordered union-all of filtered blocks
      (s, d) => {
        val o = t(s, d, "orders")
        o.filter(col("o_totalprice") > 200000)
          .select(col("o_orderkey"), lit("high").as("band"))
          .unionByName(o.filter(col("o_totalprice") < 10000)
            .select(col("o_orderkey"), lit("low").as("band")))
      },
      Some("""SELECT o_orderkey, 'high' AS band FROM orders WHERE o_totalprice > 200000
             |UNION ALL
             |SELECT o_orderkey, 'low' AS band FROM orders WHERE o_totalprice < 10000"""
        .stripMargin)),

    Q("q_string_funcs",
      (s, d) => t(s, d, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("up_name"),
        substring(col("p_name"), 1, 5).as("pfx"),
        length(col("p_name")).cast("long").as("n_chars"),
        lpad(col("p_brand"), 12, ".").as("pad_brand"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
        size(split(col("p_name"), " ")).cast("long").as("n_words")),
      Some("""SELECT p_partkey, upper(p_name) AS up_name,
             |  substr(p_name, 1, 5) AS pfx,
             |  CAST(length(p_name) AS BIGINT) AS n_chars,
             |  lpad(p_brand, 12, '.') AS pad_brand,
             |  concat_ws('|', p_brand, p_type) AS brand_type,
             |  regexp_extract(p_name, '^(\w+)', 1) AS first_word,
             |  CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_words
             |FROM part""".stripMargin)),

    Q("q_math_funcs",
      (s, d) => t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        round(sqrt(col("l_quantity")), 4).as("sqrt_qty"),
        round(log(col("l_quantity") + 1), 4).as("ln_qty"),
        round(pow(col("l_discount"), 2), 6).as("disc_sq"),
        ceil(col("l_extendedprice")).as("ceil_price"),
        floor(col("l_extendedprice")).as("floor_price"),
        pmod(col("l_orderkey"), lit(7)).cast("long").as("okey_mod7")),
      Some("""SELECT l_orderkey, l_linenumber,
             |  round(sqrt(l_quantity), 4) AS sqrt_qty,
             |  round(ln(l_quantity + 1), 4) AS ln_qty,
             |  round(pow(l_discount, 2), 6) AS disc_sq,
             |  CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
             |  CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
             |  CAST(l_orderkey % 7 AS BIGINT) AS okey_mod7
             |FROM lineitem""".stripMargin)),

    Q("q_date_funcs",
      (s, d) => t(s, d, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(to_date(lit("2025-01-01")), to_date(col("o_orderdate")))
          .cast("long").as("days_to_2025")),
      Some("""SELECT o_orderkey,
             |  CAST(year(o_orderdate) AS BIGINT) AS yr,
             |  CAST(month(o_orderdate) AS BIGINT) AS mo,
             |  CAST(day(o_orderdate) AS BIGINT) AS dom,
             |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
             |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
             |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2025-01-01')
             |       AS BIGINT) AS days_to_2025
             |FROM orders""".stripMargin)),

    Q("q_json_extract", // events.props JSON column
      (s, d) => t(s, d, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k_val"),
          col("value"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("k_val")), 3).as("avg_k"),
          round(sum(col("value")), 2).as("sum_value")),
      Some("""SELECT event_type, count(*) AS n,
             |  round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 3)
             |    AS avg_k,
             |  round(sum(value), 2) AS sum_value
             |FROM events GROUP BY event_type""".stripMargin)),

    Q("q_case_buckets", // S9-style conditional classification
      (s, d) => t(s, d, "customer")
        .select(col("c_mktsegment"),
          when(col("c_acctbal") < 0, "neg")
            .when(col("c_acctbal") < 5000, "low")
            .otherwise("high").as("bucket"),
          col("c_acctbal"))
        .groupBy(col("c_mktsegment"), col("bucket"))
        .agg(count(lit(1)).as("n"), round(avg(col("c_acctbal")), 2).as("avg_bal")),
      Some("""SELECT c_mktsegment,
             |  CASE WHEN c_acctbal < 0 THEN 'neg'
             |       WHEN c_acctbal < 5000 THEN 'low'
             |       ELSE 'high' END AS bucket,
             |  count(*) AS n, round(avg(c_acctbal), 2) AS avg_bal
             |FROM customer GROUP BY 1, 2""".stripMargin)),

    Q("q_array_funcs",
      (s, d) => t(s, d, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        round(element_at(col("embedding"), 1).cast("double"), 6).as("first_el"),
        round(Similarity.norm(col("embedding")), 6).as("l2_norm")),
      Some("""SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
             |  round(CAST(embedding[1] AS DOUBLE), 6) + 0 AS first_el,
             |  round(sqrt(list_aggregate(list_transform(embedding,
             |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 6)
             |    AS l2_norm
             |FROM embeddings""".stripMargin)),

    Q("q_full_outer",
      (s, d) => {
        val a = t(s, d, "customer").filter(col("c_nationkey") < 15)
          .groupBy(col("c_nationkey").as("nationkey"))
          .agg(count(lit(1)).as("n_cust"))
        val b = t(s, d, "supplier").filter(col("s_nationkey") >= 5)
          .groupBy(col("s_nationkey").as("nationkey"))
          .agg(count(lit(1)).as("n_supp"))
        a.join(b, Seq("nationkey"), "full_outer")
          .select(col("nationkey"),
            coalesce(col("n_cust"), lit(0L)).as("n_cust"),
            coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      },
      Some("""SELECT coalesce(a.nationkey, b.nationkey) AS nationkey,
             |  coalesce(a.n_cust, 0) AS n_cust, coalesce(b.n_supp, 0) AS n_supp
             |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust
             |      FROM customer WHERE c_nationkey < 15 GROUP BY 1) a
             |FULL JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_supp
             |           FROM supplier WHERE s_nationkey >= 5 GROUP BY 1) b
             |ON a.nationkey = b.nationkey""".stripMargin)),

    Q("q_cross_join",
      (s, d) => t(s, d, "region")
        .crossJoin(t(s, d, "orders").select(col("o_orderstatus")).distinct())
        .select(col("r_name"), col("o_orderstatus")),
      Some("""SELECT r_name, o_orderstatus
             |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) t"""
        .stripMargin)),

    Q("q_having",
      (s, d) => t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 10),
      Some("""SELECT o_custkey, count(*) AS n_orders FROM orders
             |GROUP BY o_custkey HAVING count(*) >= 10""".stripMargin)),

    Q("q_pivot_status", // pivot via conditional aggregation (portable form)
      (s, d) => t(s, d, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
        .agg(count(when(col("o_orderstatus") === "O", lit(1))).as("n_open"),
          count(when(col("o_orderstatus") === "F", lit(1))).as("n_filled"),
          count(when(col("o_orderstatus") === "P", lit(1))).as("n_partial")),
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_open,
             |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_filled,
             |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_partial
             |FROM orders GROUP BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // Events: batch equivalents of the streaming windows (§2.9 engine scope)
    // ------------------------------------------------------------------

    Q("q_event_tumbling", // tumbling 1h window aggregation
      (s, d) => t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").as("w_start"), col("event_type"),
          col("n"), col("sum_value")),
      Some("""SELECT date_trunc('hour', ts) AS w_start, event_type,
             |  count(*) AS n, round(sum(value), 2) AS sum_value
             |FROM events GROUP BY 1, 2""".stripMargin)),

    Q("q_event_stream_exec", // STREAMING EXECUTION gate: the tumbling
      // aggregation above, but executed through the real incremental
      // engine — readStream file source, Trigger.AvailableNow,
      // complete-mode memory sink — and hash-compared against the
      // identical batch oracle. Since r12 the drain is the
      // KILL-AND-RESTART form (tumblingRestartDrain): half the rows,
      // stop, resume a new query from the checkpoint, drain the rest —
      // so both incremental-vs-batch divergence AND checkpoint-recovery
      // faults (lost state halves counts, replayed files double them)
      // go red here every round.
      (s, d) => EventStreams.tumblingRestartDrain(
          s, s"$d/events.parquet", scratchDir("graft-stream-ckpt"))
        .select(col("w_start"), col("event_type"), col("n"),
          col("sum_value")),
      Some("""SELECT date_trunc('hour', ts) AS w_start, event_type,
             |  count(*) AS n, round(sum(value), 2) AS sum_value
             |FROM events GROUP BY 1, 2""".stripMargin)),

    Q("q_sketch_stream_exec", // STREAMING sketch-table maintenance:
      // drain the events source through the real incremental engine,
      // each micro-batch appending per-(hour, type) theta sketches of
      // its user_ids; then answer "distinct users per window" by
      // MERGING the persisted per-batch sketch rows — never rescanning
      // events, at 100 TB the difference between answering from
      // metadata and re-shuffling history. A replayed batch rewrites
      // ITS OWN batch=<id> directory deterministically (same events,
      // same sketch bytes); several sketches for one (window, type)
      // across batches are fine by construction — theta unions are the
      // merge. Theta is exact-mode at test-SF distinct counts, so the
      // merged estimates hash-match the exact DISTINCT oracle (the
      // at-scale behavior degrades to ~1.6% RSE, q_theta_overlap's
      // documented envelope).
      (s, d) => {
        val dir = scratchDir("graft-sketch-stream")
        val ckpt = s"$dir/ckpt"
        val events = EventStreams.rawEventSource(s, s"$d/events.parquet", ckpt)
        EventStreams.drainBatches(
          events.select(date_trunc("hour", col("ts")).as("w_start"),
            col("event_type"), col("user_id")), ckpt) { (b, batchId) =>
          b.groupBy(col("w_start"), col("event_type"))
            .agg(theta_sketch_agg(col("user_id"), 12).as("theta"))
            .write.mode("overwrite").parquet(s"$dir/sk/batch=$batchId")
        }
        val sk = s.read.parquet(s"$dir/sk/batch=*")
        sk.groupBy(col("w_start"), col("event_type"))
          .agg(theta_union_agg(col("theta"), 12).as("theta"))
          .select(col("w_start"), col("event_type"),
            theta_sketch_estimate(col("theta")).as("n_users"))
      },
      Some("""SELECT date_trunc('hour', ts) AS w_start, event_type,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
             |FROM events GROUP BY 1, 2""".stripMargin)),

    Q("q_event_sessions", // gap-based sessionization (30 min)
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        t(s, d, "events")
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("new_sess",
            when(col("prev_ts").isNull ||
              unix_micros(col("ts").cast("timestamp")) -
                unix_micros(col("prev_ts").cast("timestamp")) > 1800L * 1000000L,
              lit(1)).otherwise(lit(0)))
          .groupBy(col("user_id"))
          .agg(sum(col("new_sess")).cast("long").as("n_sessions"),
            count(lit(1)).as("n_events"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id) AS prev_ts
             |  FROM events)
             |SELECT user_id,
             |  CAST(sum(CASE WHEN prev_ts IS NULL
             |                  OR ts - prev_ts > INTERVAL 30 MINUTE
             |                THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
             |  count(*) AS n_events
             |FROM e GROUP BY user_id""".stripMargin),
      headline = true),

    Q("q_event_sessions_stream_exec", // STREAMING EXECUTION gate #2: the
      // gap-based sessionization above, but with the session-merge state
      // computed by the real incremental engine — `session_window` over a
      // readStream file source, AvailableNow drain, complete-mode memory
      // sink — then a plain batch rollup of the per-session rows to the
      // per-user shape. The stateful logic under test is exactly the
      // session merging; a divergence between incremental session state
      // and the batch lag-based definition goes red here. Oracle boundary
      // is `>=` (not the batch query's `>`): session_window's windows are
      // end-EXCLUSIVE ([start, last_ts + gap)), so an event exactly at
      // last_ts + 30min starts a NEW session. Timestamps in the testdata
      // are continuous (sub-second, zero exact-1800s gaps measured), so
      // the two conventions agree on real data; the oracle mirrors the
      // engine's convention so the gate can never go red on a tie.
      (s, d) => {
        val ckpt = scratchDir("graft-stream-sess-ckpt")
        val events = EventStreams.rawEventSource(s, s"$d/events.parquet", ckpt)
        EventStreams.drain(s, EventStreams.sessionWindow(events), ckpt,
          "graft_stream_sessions")
      }
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).cast("long").as("n_events")),
      Some("""WITH e AS (
             |  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id) AS prev_ts
             |  FROM events)
             |SELECT user_id,
             |  CAST(sum(CASE WHEN prev_ts IS NULL
             |                  OR ts - prev_ts >= INTERVAL 30 MINUTE
             |                THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
             |  count(*) AS n_events
             |FROM e GROUP BY user_id""".stripMargin)),

    // ------------------------------------------------------------------
    // LLM-pipeline operators (engine scope; BASELINE.json north star)
    // ------------------------------------------------------------------

    Q("q_dedup_exact", // exact dedup via content hash
      (s, d) => Dedup.exact(t(s, d, "documents"), "doc_id", "text"),
      Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
             |  count(*) AS n_dups
             |FROM documents GROUP BY 1""".stripMargin),
      headline = true),

    Q("q_token_stats", // token counting per language
      (s, d) => t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(tokenCount(col("text"))), 3).as("avg_tokens"),
          round(avg(length(col("text"))), 2).as("avg_chars")),
      Some("""SELECT lang, count(*) AS n_docs,
             |  round(avg(len(string_split_regex(trim(text), '\s+'))), 3)
             |    AS avg_tokens,
             |  round(avg(length(text)), 2) AS avg_chars
             |FROM documents GROUP BY lang""".stripMargin),
      headline = true),

    Q("q_quality", // quality-scoring features per doc
      (s, d) => t(s, d, "documents").select(
        col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        round(stopwordRatio(col("text")), 4).as("stop_ratio"),
        round(punctRatio(col("text")), 4).as("punct_ratio"),
        round(meanWordLen(col("text")), 4).as("mean_wlen")),
      Some("""SELECT doc_id,
             |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
             |    AS n_tokens,
             |  round(len(list_filter(string_split_regex(trim(text), '\s+'),
             |          x -> x IN ('the','a','an','and','of','to','in','is')))
             |        / len(string_split_regex(trim(text), '\s+')), 4)
             |    AS stop_ratio,
             |  round((length(text) - length(regexp_replace(text, '[[:punct:]]',
             |          '', 'g'))) / length(text), 4) AS punct_ratio,
             |  round(list_aggregate(list_transform(
             |          string_split_regex(trim(text), '\s+'), x -> length(x)),
             |          'sum')
             |        / len(string_split_regex(trim(text), '\s+')), 4)
             |    AS mean_wlen
             |FROM documents""".stripMargin)),

    Q("q_lang_id", // bigram-profile language ID
      (s, d) => TextAnalysis.languageId(s, t(s, d, "documents"), "doc_id", "text"),
      Some(langIdOracleSql), headline = true),

    Q("q_script_profile", // Unicode-script profile (the pre-language-ID
      // writing-system check). Corpus text is ASCII, so Cyrillic/Han
      // runs are planted on doc_id-keyed subsets from codepoints built
      // IDENTICALLY on both sides (Scala \u escapes, DuckDB chr());
      // doc_id%4==3 exercises the no-letters NULL path. Java spells
      // the script property \p{script=X}, RE2 spells it \p{X} — same
      // Unicode property.
      (s, d) => {
        val id = col("doc_id")
        val cyr = "привет" // 6 Cyrillic letters
        val han = "中文字" // 3 Han letters
        val planted = t(s, d, "documents").select(id,
          when(id % 4 === 1, concat(col("text"), repeat(lit(" " + cyr), 60)))
            .when(id % 4 === 2, concat(col("text"), repeat(lit(" " + han), 60)))
            .when(id % 4 === 3, lit("123 456 !!"))
            .otherwise(col("text")).as("text"))
        TextAnalysis.scriptProfile(planted, "doc_id", "text")
      },
      Some("""WITH u AS (SELECT doc_id,
             |  CASE WHEN doc_id % 4 = 1 THEN text || repeat(' ' ||
             |      chr(1087)||chr(1088)||chr(1080)||chr(1074)||
             |      chr(1077)||chr(1090), 60)
             |    WHEN doc_id % 4 = 2 THEN text || repeat(' ' ||
             |      chr(20013)||chr(25991)||chr(23383), 60)
             |    WHEN doc_id % 4 = 3 THEN '123 456 !!'
             |    ELSE text END AS t
             |  FROM documents),
             |c AS (SELECT doc_id,
             |  CAST(len(regexp_extract_all(t, '\p{Latin}')) AS BIGINT) AS n_latin,
             |  CAST(len(regexp_extract_all(t, '\p{Cyrillic}')) AS BIGINT) AS n_cyrillic,
             |  CAST(len(regexp_extract_all(t, '\p{Greek}')) AS BIGINT) AS n_greek,
             |  CAST(len(regexp_extract_all(t, '\p{Arabic}')) AS BIGINT) AS n_arabic,
             |  CAST(len(regexp_extract_all(t, '\p{Han}')) AS BIGINT) AS n_han,
             |  CAST(len(regexp_extract_all(t, '\p{Hangul}')) AS BIGINT) AS n_hangul,
             |  CAST(len(regexp_extract_all(t, '\p{L}')) AS BIGINT) AS n_letters
             |  FROM u),
             |m AS (SELECT *, greatest(n_latin, n_cyrillic, n_greek,
             |    n_arabic, n_han, n_hangul) AS mx FROM c)
             |SELECT doc_id, n_latin, n_cyrillic, n_greek, n_arabic,
             |  n_han, n_hangul, n_letters,
             |  CASE WHEN mx = 0 THEN NULL
             |    WHEN n_latin = mx THEN 'Latin'
             |    WHEN n_cyrillic = mx THEN 'Cyrillic'
             |    WHEN n_greek = mx THEN 'Greek'
             |    WHEN n_arabic = mx THEN 'Arabic'
             |    WHEN n_han = mx THEN 'Han'
             |    WHEN n_hangul = mx THEN 'Hangul' END AS dominant_script,
             |  CASE WHEN n_letters > 0 AND mx > 0 THEN
             |    round(CAST(mx AS DOUBLE) / n_letters, 6) + 0 END
             |    AS script_ratio
             |FROM m""".stripMargin)),

    Q("q_char_entropy", // char-entropy quality signal (compressibility
      // proxy): native codegen'd expression vs an explicit char-
      // histogram oracle; round-4 absorbs the libm/sum-order low bits.
      (s, d) => t(s, d, "documents")
        .filter(col("text").isNotNull && col("text") =!= "")
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
          (round(TextAnalysis.charEntropy(col("text")), 4) + lit(0.0d))
            .as("entropy_bits")),
      Some("""WITH ch AS (SELECT doc_id,
             |    unnest(string_split(text, '')) AS ch
             |  FROM documents WHERE text IS NOT NULL AND text <> ''),
             |c AS (SELECT doc_id, ch, count(*) AS k FROM ch GROUP BY 1, 2),
             |n AS (SELECT doc_id, CAST(sum(k) AS DOUBLE) AS n
             |      FROM c GROUP BY 1)
             |SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
             |  round(-sum((k / n) * ln(k / n) / ln(2)), 4) + 0
             |    AS entropy_bits
             |FROM c JOIN n USING (doc_id)
             |GROUP BY doc_id, n""".stripMargin)),

    Q("q_fingerprint", // rolling-hash document fingerprint
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), fingerprint(col("text")).as("fp")),
      Some("""SELECT doc_id,
             |  list_reduce(
             |    list_prepend(CAST(0 AS BIGINT),
             |      list_transform(string_split_regex(trim(text), '\s+'),
             |        t -> CAST(length(t) * 31 + ascii(substr(t, 1, 1)) AS BIGINT))),
             |    (a, b) -> (a * 31 + b) % 2147483648) AS fp
             |FROM documents""".stripMargin)),

    Q("q_repetition", // repetition-ratio quality signals (Gopher/C4
      // style): duplicate-token fraction + top token share per doc
      (s, d) => TextAnalysis.repetitionStats(t(s, d, "documents"),
        "doc_id", "text"),
      Some("""WITH tk AS (
             |  SELECT doc_id,
             |    CASE WHEN length(trim(text)) = 0 THEN []
             |         ELSE string_split_regex(trim(text), '\s+') END AS toks
             |  FROM documents)
             |SELECT doc_id AS id,
             |  CAST(len(toks) AS BIGINT) AS n_tokens,
             |  CAST(len(list_distinct(toks)) AS BIGINT) AS uniq_tokens,
             |  CASE WHEN len(toks) > 0
             |    THEN round(1 - len(list_distinct(toks))
             |           / CAST(len(toks) AS DOUBLE), 4) + 0
             |    ELSE 0.0 END AS dup_ratio,
             |  CASE WHEN len(toks) > 0
             |    THEN round(list_max(list_transform(list_distinct(toks),
             |           t -> len(list_filter(toks, x -> x = t))))
             |           / CAST(len(toks) AS DOUBLE), 4) + 0
             |    ELSE 0.0 END AS top_tok_share
             |FROM tk""".stripMargin)),

    Q("q_decontaminate", // benchmark decontamination: flag docs sharing
      // any word 3-gram with an "eval set" (docs 0..19) — the standard
      // guard against test-set leakage into training data. 3-grams (not
      // the production 8+) so the synthetic vocabulary actually overlaps
      // and both branches of the flag are exercised.
      (s, d) => CorpusOps.contaminationFlags(
        t(s, d, "documents"), "doc_id", "text",
        t(s, d, "documents").filter(col("doc_id") < 20), "text", n = 3),
      Some("""WITH t AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''
             |    AND len(string_split_regex(trim(text), '\s+')) >= 3),
             |g AS (SELECT DISTINCT doc_id, sh FROM (
             |    SELECT doc_id, unnest(list_filter(
             |      list_transform(toks, (x, i) ->
             |        toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
             |      v -> v IS NOT NULL)) AS sh
             |    FROM t) u),
             |ev AS (SELECT DISTINCT sh FROM g WHERE doc_id < 20),
             |hits AS (SELECT g.doc_id, count(*) AS n
             |         FROM g JOIN ev USING (sh) GROUP BY 1)
             |SELECT d.doc_id,
             |  CAST(coalesce(hits.n, 0) AS BIGINT) AS n_contaminated,
             |  coalesce(hits.n, 0) > 0 AS contaminated
             |FROM documents d LEFT JOIN hits ON hits.doc_id = d.doc_id"""
        .stripMargin),
      headline = true),

    Q("q_span_dedup", // cross-document exact duplicated-span stats (the
      // posting-list reading of Lee et al. 2021 substring dedup): per
      // doc, how many of its distinct word 8-gram spans also occur
      // verbatim in another document. Corpus-vs-itself — no broadcast
      // assumption, unlike q_decontaminate's small-eval-set join. The
      // synthetic corpus shares ~10% of spans organically (45/500 docs
      // at sf0.001), so both branches carry signal at n = 8, the
      // published span length.
      (s, d) => CorpusOps.duplicateSpanStats(
        t(s, d, "documents"), "doc_id", "text", n = 8, minDf = 2),
      Some("""WITH t AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS tk
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''
             |    AND len(string_split_regex(trim(text), '\s+')) >= 8),
             |sp AS (SELECT DISTINCT doc_id,
             |    array_to_string(tk[i:i+7], ' ') AS span
             |  FROM (SELECT doc_id, tk,
             |          unnest(generate_series(1, len(tk) - 7)) AS i
             |        FROM t)),
             |df AS (SELECT span FROM sp GROUP BY span HAVING count(*) >= 2)
             |SELECT s.doc_id, count(*) AS n_spans,
             |  CAST(sum(CASE WHEN d.span IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS dup_spans,
             |  round(CAST(sum(CASE WHEN d.span IS NOT NULL THEN 1 ELSE 0
             |    END) AS DOUBLE) / count(*), 6) AS dup_frac
             |FROM sp s LEFT JOIN df d ON s.span = d.span
             |GROUP BY s.doc_id""".stripMargin),
      headline = true),

    Q("q_span_dedup_winnow", // the 100 TB relief valve for
      // q_span_dedup: winnow=4 keeps only spans with
      // md5-prefix ≡ 0 (mod 4) — a 1/4 posting sample whose keep
      // decision is a pure function of the span STRING, so every kept
      // span keeps its EXACT df (kept everywhere or nowhere; df is
      // never diluted) and dup_frac becomes an unbiased kept-span
      // estimate. Both engines parse the same 8 hex chars of md5, so
      // the sampled span set is identical.
      (s, d) => CorpusOps.duplicateSpanStats(
        t(s, d, "documents"), "doc_id", "text", n = 8, minDf = 2,
        winnow = 4),
      Some("""WITH t AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS tk
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''
             |    AND len(string_split_regex(trim(text), '\s+')) >= 8),
             |sp AS (SELECT DISTINCT doc_id, span FROM (
             |    SELECT doc_id, array_to_string(tk[i:i+7], ' ') AS span
             |    FROM (SELECT doc_id, tk,
             |            unnest(generate_series(1, len(tk) - 7)) AS i
             |          FROM t))
             |  WHERE ('0x' || substr(md5(span), 1, 8))::UBIGINT % 4 = 0),
             |df AS (SELECT span FROM sp GROUP BY span HAVING count(*) >= 2)
             |SELECT s.doc_id, count(*) AS n_spans,
             |  CAST(sum(CASE WHEN d.span IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS dup_spans,
             |  round(CAST(sum(CASE WHEN d.span IS NOT NULL THEN 1 ELSE 0
             |    END) AS DOUBLE) / count(*), 6) AS dup_frac
             |FROM sp s LEFT JOIN df d ON s.span = d.span
             |GROUP BY s.doc_id""".stripMargin), headline = true),

    Q("q_dup_spans_merged", // variable-length exact substring dedup
      // (Lee et al. 2021's actionable form): duplicated fixed-8 spans
      // become intervals [i, i+7] over token offsets; overlapping or
      // adjacent intervals union into maximal removal RANGES per doc
      // (group-local sorted fold — the funnel shape). Oracle is the
      // classic gaps-and-islands: with equal-length intervals the
      // running end is prev+n-1, so a new island starts exactly when
      // pos - lag(pos) > n.
      (s, d) => CorpusOps.dupSpansMerged(
        t(s, d, "documents"), "doc_id", "text", n = 8, minDf = 2,
        minTokens = 8),
      Some("""WITH t AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS tk
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''
             |    AND len(string_split_regex(trim(text), '\s+')) >= 8),
             |pos AS (SELECT doc_id, i - 1 AS pos,
             |    array_to_string(tk[i:i+7], ' ') AS span
             |  FROM (SELECT doc_id, tk,
             |          unnest(generate_series(1, len(tk) - 7)) AS i
             |        FROM t)),
             |df AS (SELECT span FROM (SELECT DISTINCT doc_id, span
             |                         FROM pos)
             |       GROUP BY span HAVING count(*) >= 2),
             |hits AS (SELECT p.doc_id, p.pos FROM pos p JOIN df USING (span)),
             |isl AS (SELECT doc_id, pos,
             |    sum(CASE WHEN prev IS NULL OR pos - prev > 8
             |             THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
             |  FROM (SELECT doc_id, pos,
             |          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
             |            AS prev
             |        FROM hits))
             |SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_tok,
             |  CAST(max(pos) + 7 AS BIGINT) AS end_tok,
             |  CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS n_tokens
             |FROM isl GROUP BY doc_id, island
             |HAVING max(pos) + 7 - min(pos) + 1 >= 8""".stripMargin),
      headline = true),

    Q("q_dup_spans_removed", // Lee et al.'s final step: DELETE the
      // merged duplicated ranges and keep the remainder. Untouched
      // docs pass through byte-identical; rewritten docs rejoin
      // surviving tokens with single spaces (token-level semantics);
      // a wall-to-wall duplicate rewrites to '' (both engines emit the
      // empty string, not null). n_removed sums the disjoint ranges.
      (s, d) => CorpusOps.removeDupSpans(
        t(s, d, "documents"), "doc_id", "text", n = 8, minDf = 2,
        minTokens = 8),
      Some("""WITH t AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS tk
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''
             |    AND len(string_split_regex(trim(text), '\s+')) >= 8),
             |pos AS (SELECT doc_id, i - 1 AS pos,
             |    array_to_string(tk[i:i+7], ' ') AS span
             |  FROM (SELECT doc_id, tk,
             |          unnest(generate_series(1, len(tk) - 7)) AS i
             |        FROM t)),
             |df AS (SELECT span FROM (SELECT DISTINCT doc_id, span
             |                         FROM pos)
             |       GROUP BY span HAVING count(*) >= 2),
             |hits AS (SELECT p.doc_id, p.pos FROM pos p JOIN df USING (span)),
             |isl AS (SELECT doc_id, pos,
             |    sum(CASE WHEN prev IS NULL OR pos - prev > 8
             |             THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
             |  FROM (SELECT doc_id, pos,
             |          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
             |            AS prev
             |        FROM hits)),
             |ranges AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
             |  FROM isl GROUP BY doc_id, island
             |  HAVING max(pos) + 7 - min(pos) + 1 >= 8),
             |toks AS (SELECT doc_id, i - 1 AS p, tk[i] AS w
             |  FROM (SELECT doc_id, tk,
             |          unnest(generate_series(1, len(tk))) AS i
             |        FROM t)),
             |keep AS (SELECT k.doc_id, k.p, k.w FROM toks k
             |  WHERE NOT EXISTS (SELECT 1 FROM ranges r
             |    WHERE r.doc_id = k.doc_id AND k.p BETWEEN r.s AND r.e)),
             |reb AS (SELECT doc_id,
             |    array_to_string(list(w ORDER BY p), ' ') AS rebuilt
             |  FROM keep GROUP BY doc_id),
             |rem AS (SELECT doc_id,
             |    CAST(sum(e - s + 1) AS BIGINT) AS n_removed
             |  FROM ranges GROUP BY doc_id)
             |SELECT d.doc_id,
             |  CASE WHEN rem.doc_id IS NULL THEN d.text
             |       ELSE coalesce(reb.rebuilt, '') END AS clean_text,
             |  coalesce(rem.n_removed, CAST(0 AS BIGINT)) AS n_removed
             |FROM documents d
             |LEFT JOIN rem USING (doc_id)
             |LEFT JOIN reb USING (doc_id)""".stripMargin)),

    Q("q_bpe_tokens", // learned BPE subword tokenization (Sennrich et
      // al. 2016 — the algorithm under most LLM tokenizers): merges
      // learned from the distributed word-frequency table (20 merges
      // here so subwords stay nontrivial — full saturation would
      // degenerate every word to one token), applied by the native
      // BpeEncode expression. Token identity is not SQL-expressible,
      // so the gate pins the algebraic laws: exact n_words from SQL,
      // round-trip (concat of subtokens minus the </w> markers equals
      // the concat of words), and the token-count envelope
      // n_words <= n_subtokens <= n_nonspace_chars + n_words (each
      // word is 1..len+1 units); BpeSpec pins the learned merges on a
      // hand-computable corpus.
      (s, d) => {
        val docs = t(s, d, "documents")
          .filter(col("text").isNotNull && trim(col("text")) =!= "")
        val model = bpeModelFor(d,
          CorpusOps.learnBpe(docs, "text", numMerges = 20))
        docs
          .select(col("doc_id"),
            graft.functions.TextFunctions.tokens(col("text")).as("__w"),
            CorpusOps.bpeTokens(col("text"), model).as("__bpe"),
            length(regexp_replace(col("text"), "\\s", "")).as("__nc"))
          .select(col("doc_id"),
            size(col("__w")).cast("long").as("n_words"),
            (call_function("replace",
              concat_ws("", col("__bpe")), lit("</w>"), lit("")) ===
              concat_ws("", col("__w"))).as("roundtrip_ok"),
            (size(col("__bpe")) >= size(col("__w")) &&
              size(col("__bpe")) <= col("__nc") + size(col("__w")))
              .as("bounded_ok"))
      },
      Some("""SELECT doc_id,
             |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
             |    AS n_words,
             |  true AS roundtrip_ok, true AS bounded_ok
             |FROM documents
             |WHERE text IS NOT NULL AND trim(text) <> ''""".stripMargin),
      headline = true),

    Q("q_token_ids", // the training-ready form: BPE tokens mapped to
      // integer ids through the corpus vocabulary (frequency-ordered,
      // deterministic), carried as a LITERAL map — transform +
      // element_at, no join, fully codegen'd. Gate: decode through the
      // reverse map reproduces the token sequence exactly, every id
      // resolves (the vocab was built from this corpus), and n_words
      // is pinned by SQL.
      (s, d) => {
        val docs = t(s, d, "documents")
          .filter(col("text").isNotNull && trim(col("text")) =!= "")
        val model = bpeModelFor(d,
          CorpusOps.learnBpe(docs, "text", numMerges = 20))
        val vmap = CorpusOps.bpeVocab(docs, "text", model)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val rev = vmap.map(_.swap)
        docs
          .select(col("doc_id"),
            graft.functions.TextFunctions.tokens(col("text")).as("__w"),
            CorpusOps.bpeTokens(col("text"), model).as("__t"),
            CorpusOps.tokenIds(col("text"), model, vmap).as("__ids"))
          .select(col("doc_id"),
            size(col("__w")).cast("long").as("n_words"),
            (array_min(col("__ids")) >= 0L).as("all_known"),
            (transform(col("__ids"),
              i => element_at(typedlit(rev), i)) === col("__t"))
              .as("decode_ok"))
      },
      Some("""SELECT doc_id,
             |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
             |    AS n_words,
             |  true AS all_known, true AS decode_ok
             |FROM documents
             |WHERE text IS NOT NULL AND trim(text) <> ''""".stripMargin)),

    Q("q_sentences", // sentence segmentation (the unit for
      // sentence-level dedup / seq2seq extraction). The corpus has no
      // terminator punctuation, so one is planted deterministically:
      // literal replace of ' a ' with '. ' (left-to-right
      // non-overlapping in both engines) yields multi-sentence docs;
      // the RE2-safe segmentation pattern then runs verbatim in the
      // oracle. sent_id numbered before empty filtering on both sides.
      (s, d) => TextAnalysis.sentences(
        t(s, d, "documents")
          .select(col("doc_id"),
            call_function("replace", col("text"), lit(" a "), lit(". "))
              .as("text")),
        "doc_id", "text"),
      Some("""WITH p AS (SELECT doc_id,
             |    replace(text, ' a ', '. ') AS t
             |  FROM documents WHERE text IS NOT NULL),
             |e AS (SELECT doc_id, generate_subscripts(l, 1) AS i,
             |    unnest(l) AS s FROM (
             |    SELECT doc_id,
             |      regexp_extract_all(t, '[^.!?]+[.!?]*') AS l
             |    FROM p))
             |SELECT doc_id, CAST(i AS BIGINT) AS sent_id,
             |  trim(s) AS sentence
             |FROM e WHERE length(trim(s)) > 0""".stripMargin)),

    Q("q_curate", // the ONE-CALL curation pipeline: Gopher quality
      // gates -> exact dedup among passers -> benchmark
      // decontamination, composed into a single DAG with per-stage
      // attribution per input doc (curation at scale is audited by
      // its reject reasons). Duplicates are planted (docs 0..9 recopied
      // at +1M — dup leg exercised: the copy of any passing original
      // must be flagged, the original kept); eval set = docs < 20 at
      // 3-grams (both contamination branches exercised, the
      // q_decontaminate configuration); minTokens=30 (the
      // q_gopher_rules configuration — both quality branches
      // exercised). The oracle composes the three stage oracles.
      (s, d) => {
        val docs = t(s, d, "documents")
        val planted = docs.select(col("doc_id"), col("text")).unionByName(
          docs.filter(col("doc_id") < 10)
            .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
        CorpusOps.curate(planted, "doc_id", "text",
          docs.filter(col("doc_id") < 20), "text",
          minTokens = 30, contamN = 3)
      },
      Some(raw"""WITH p AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000, text FROM documents
             |  WHERE doc_id < 10),
             |b AS (SELECT doc_id AS id, text AS t,
             |    string_split_regex(trim(text), '\s+') AS toks,
             |    string_split(text, chr(10)) AS lines FROM p
             |  WHERE text IS NOT NULL AND trim(text) <> ''),
             |$gopherMetricsCte,
             |q AS (SELECT id, t,
             |    ($gopherPassSql) AS quality_ok
             |  FROM m),
             |dm AS (SELECT t, min(id) AS m FROM q
             |  WHERE quality_ok GROUP BY t),
             |ct AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks FROM p
             |  WHERE text IS NOT NULL AND trim(text) <> ''
             |    AND len(string_split_regex(trim(text), '\s+')) >= 3),
             |g AS (SELECT DISTINCT doc_id, sh FROM (
             |    SELECT doc_id, unnest(list_filter(
             |      list_transform(toks, (x, i) ->
             |        toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
             |      v -> v IS NOT NULL)) AS sh
             |    FROM ct) u),
             |ev AS (SELECT DISTINCT sh FROM g WHERE doc_id < 20),
             |hits AS (SELECT g.doc_id, count(*) AS n
             |         FROM g JOIN ev USING (sh) GROUP BY 1)
             |SELECT p.doc_id,
             |  coalesce(q.quality_ok, false) AS quality_ok,
             |  coalesce(q.quality_ok AND p.doc_id <> dm.m, false)
             |    AS is_dup,
             |  coalesce(hits.n, 0) > 0 AS contaminated,
             |  (coalesce(q.quality_ok, false)
             |    AND NOT coalesce(q.quality_ok AND p.doc_id <> dm.m, false)
             |    AND NOT (coalesce(hits.n, 0) > 0)) AS kept
             |FROM p
             |LEFT JOIN q ON q.id = p.doc_id
             |LEFT JOIN dm ON dm.t = p.text
             |LEFT JOIN hits ON hits.doc_id = p.doc_id""".stripMargin),
      headline = true),

    Q("q_curate_v2", // the FULL-RECIPE curation DAG (r14 verdict #5):
      // exact dedup -> corpus-wide paragraph dedup -> duplicated-span
      // removal -> Gopher -> NB model filter -> decontamination ->
      // temperature-weighted mixture selection, per-stage attribution
      // per input doc. Every stage has both branches exercised: ' the '
      // becomes a line break so repeated short lines exist (the
      // q_para_dedup derivation), docs 0..9 are recopied at +1M (dup
      // leg), spans duplicate naturally at n=8/df>=2 (the
      // q_dup_spans_removed dials), minTokens=30 splits quality, the
      // NB model is the q_nb_quality_sep discriminative configuration
      // (label = contains the rare token 'dup', trained on even ids,
      // alpha=2^-10 so the likelihood decides), eval = derived docs
      // < 20 at 3-grams, and the 2000-token tau=0.5 budget selects a
      // strict prefix per source. The oracle chains the seven stage
      // oracles, each consuming the previous stage's CTE output.
      (s, d) => {
        val derived = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            regexp_replace(col("text"), " the ", "\n").as("text"))
        val planted = derived.unionByName(
          derived.filter(col("doc_id") < 10)
            .select((col("doc_id") + 1000000).as("doc_id"),
              col("source"), col("text")))
        val model = CorpusOps.trainNbQuality(
          planted.filter(col("doc_id") % 2 === 0)
            .withColumn("__label",
              when(array_contains(tokens(col("text")), "dup"), "dupish")
                .otherwise("clean")),
          "doc_id", "text", "__label", numBuckets = 4096,
          alpha = 0.0009765625)
        CorpusOps.curateV2(planted, "doc_id", "text",
          derived.filter(col("doc_id") < 20), "text",
          model, "dupish", "source", tau = 0.5,
          totalBudgetTokens = 2000L, minTokens = 30, contamN = 3)
      },
      Some(raw"""WITH p AS (
             |  SELECT doc_id, source,
             |    replace(text, ' the ', chr(10)) AS text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000, source,
             |    replace(text, ' the ', chr(10)) FROM documents
             |  WHERE doc_id < 10),
             |dm AS (SELECT text, min(doc_id) AS m FROM p
             |  WHERE text IS NOT NULL GROUP BY 1),
             |d1 AS (SELECT p.doc_id, p.source, p.text,
             |    coalesce(p.text IS NOT NULL AND p.doc_id <> dm.m,
             |      false) AS is_dup
             |  FROM p LEFT JOIN dm ON dm.text = p.text),
             |nd AS (SELECT doc_id, source, text FROM d1
             |  WHERE NOT is_dup),
             |pl AS (SELECT doc_id,
             |    unnest(string_split(text, chr(10))) AS para,
             |    unnest(range(1, len(string_split(text, chr(10))) + 1))
             |      AS pos
             |  FROM nd WHERE text IS NOT NULL),
             |pfd AS (SELECT para, min(doc_id) AS f_doc FROM pl
             |  WHERE trim(para) <> '' GROUP BY 1),
             |pfp AS (SELECT pl.para, f_doc, min(pl.pos) AS f_pos
             |  FROM pl JOIN pfd ON pl.para = pfd.para
             |    AND pl.doc_id = pfd.f_doc
             |  GROUP BY 1, 2),
             |pm AS (SELECT pl.doc_id, pl.pos, pl.para,
             |    (pfp.para IS NULL OR (pl.doc_id = pfp.f_doc
             |      AND pl.pos = pfp.f_pos)) AS keep
             |  FROM pl LEFT JOIN pfp ON pl.para = pfp.para),
             |t1r AS (SELECT doc_id,
             |    coalesce(string_agg(CASE WHEN keep THEN para END,
             |      chr(10) ORDER BY pos), '') AS t1,
             |    CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_para_removed
             |  FROM pm GROUP BY doc_id),
             |t1 AS (SELECT nd.doc_id, nd.source, t1r.t1,
             |    coalesce(t1r.n_para_removed, CAST(0 AS BIGINT))
             |      AS n_para_removed
             |  FROM nd LEFT JOIN t1r USING (doc_id)),
             |st AS (SELECT doc_id,
             |    string_split_regex(trim(t1), '\s+') AS tk FROM t1
             |  WHERE t1 IS NOT NULL AND trim(t1) <> ''
             |    AND len(string_split_regex(trim(t1), '\s+')) >= 8),
             |spos AS (SELECT doc_id, i - 1 AS pos,
             |    array_to_string(tk[i:i+7], ' ') AS span
             |  FROM (SELECT doc_id, tk,
             |          unnest(generate_series(1, len(tk) - 7)) AS i
             |        FROM st)),
             |sdf AS (SELECT span FROM (SELECT DISTINCT doc_id, span
             |                          FROM spos)
             |  GROUP BY span HAVING count(*) >= 2),
             |shits AS (SELECT s.doc_id, s.pos FROM spos s
             |  JOIN sdf USING (span)),
             |sisl AS (SELECT doc_id, pos,
             |    sum(CASE WHEN prev IS NULL OR pos - prev > 8
             |             THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
             |  FROM (SELECT doc_id, pos,
             |          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
             |            AS prev
             |        FROM shits)),
             |sranges AS (SELECT doc_id, min(pos) AS s,
             |    max(pos) + 7 AS e
             |  FROM sisl GROUP BY doc_id, island
             |  HAVING max(pos) + 7 - min(pos) + 1 >= 8),
             |stoks AS (SELECT doc_id, i - 1 AS pp, tk[i] AS w
             |  FROM (SELECT doc_id, tk,
             |          unnest(generate_series(1, len(tk))) AS i
             |        FROM st)),
             |skeep AS (SELECT k.doc_id, k.pp, k.w FROM stoks k
             |  WHERE NOT EXISTS (SELECT 1 FROM sranges r
             |    WHERE r.doc_id = k.doc_id AND k.pp BETWEEN r.s AND r.e)),
             |sreb AS (SELECT doc_id,
             |    array_to_string(list(w ORDER BY pp), ' ') AS rebuilt
             |  FROM skeep GROUP BY doc_id),
             |srem AS (SELECT doc_id,
             |    CAST(sum(e - s + 1) AS BIGINT) AS n_span_removed
             |  FROM sranges GROUP BY doc_id),
             |t2 AS (SELECT t1.doc_id, t1.source, t1.n_para_removed,
             |    CASE WHEN srem.doc_id IS NULL THEN t1.t1
             |         ELSE coalesce(sreb.rebuilt, '') END AS t2,
             |    coalesce(srem.n_span_removed, CAST(0 AS BIGINT))
             |      AS n_span_removed
             |  FROM t1 LEFT JOIN srem USING (doc_id)
             |  LEFT JOIN sreb USING (doc_id)),
             |b AS (SELECT doc_id AS id, t2 AS t,
             |    string_split_regex(trim(t2), '\s+') AS toks,
             |    string_split(t2, chr(10)) AS lines FROM t2
             |  WHERE t2 IS NOT NULL AND trim(t2) <> ''),
             |$gopherMetricsCte,
             |q AS (SELECT id, ($gopherPassSql) AS quality_ok FROM m),
             |lab AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks,
             |    CASE WHEN list_contains(
             |        string_split_regex(trim(text), '\s+'), 'dup')
             |      THEN 'dupish' ELSE 'clean' END AS label
             |  FROM p WHERE doc_id % 2 = 0
             |    AND text IS NOT NULL AND trim(text) <> ''),
             |nf AS (SELECT label, unnest(toks) AS tok FROM lab),
             |nfb AS (SELECT label,
             |    ('0x' || substr(md5(tok), 1, 8))::UBIGINT % 4096 AS bkt
             |  FROM nf),
             |ncnt AS (SELECT label, bkt, count(*) AS n FROM nfb
             |  GROUP BY 1, 2),
             |nct AS (SELECT label, count(*) AS nc FROM nfb GROUP BY 1),
             |ndc AS (SELECT label, count(*) AS dcnt FROM lab GROUP BY 1),
             |ndall AS (SELECT CAST(sum(dcnt) AS DOUBLE) AS dall
             |  FROM ndc),
             |nmodel AS (SELECT c.label, c.bkt,
             |    ln((c.n + CAST(0.0009765625 AS DOUBLE))
             |       / (nct.nc + CAST(4.0 AS DOUBLE))) AS log_cond,
             |    ln(CAST(ndc.dcnt AS DOUBLE) / ndall.dall) AS log_prior,
             |    ln(CAST(0.0009765625 AS DOUBLE)
             |       / (nct.nc + CAST(4.0 AS DOUBLE))) AS log_default
             |  FROM ncnt c JOIN nct USING (label) JOIN ndc USING (label)
             |  CROSS JOIN ndall),
             |nte AS (SELECT doc_id,
             |    string_split_regex(trim(t2), '\s+') AS toks FROM t2
             |  WHERE t2 IS NOT NULL AND trim(t2) <> ''),
             |ntf AS (SELECT doc_id, unnest(toks) AS tok FROM nte),
             |ntb AS (SELECT doc_id,
             |    ('0x' || substr(md5(tok), 1, 8))::UBIGINT % 4096 AS bkt,
             |    count(*) AS cnt
             |  FROM ntf GROUP BY 1, 2),
             |ntt AS (SELECT doc_id, sum(cnt) AS tcount FROM ntb
             |  GROUP BY 1),
             |ncls AS (SELECT DISTINCT label, log_prior, log_default
             |  FROM nmodel),
             |nseen AS (SELECT ntb.doc_id, m2.label,
             |    sum(ntb.cnt * (m2.log_cond - m2.log_default)) AS adj
             |  FROM ntb JOIN nmodel m2 ON m2.bkt = ntb.bkt
             |  GROUP BY 1, 2),
             |nsc AS (SELECT ntt.doc_id, c.label,
             |    round(c.log_prior
             |      + CAST(ntt.tcount AS DOUBLE) * c.log_default
             |      + coalesce(s2.adj, CAST(0 AS DOUBLE)), 4) + 0
             |      AS score
             |  FROM ntt CROSS JOIN ncls c
             |  LEFT JOIN nseen s2
             |    ON s2.doc_id = ntt.doc_id AND s2.label = c.label),
             |npred AS (SELECT doc_id, label AS pred FROM (
             |    SELECT doc_id, label,
             |      row_number() OVER (PARTITION BY doc_id
             |                         ORDER BY score DESC, label) AS rn
             |    FROM nsc)
             |  WHERE rn = 1),
             |ct AS (SELECT doc_id,
             |    string_split_regex(trim(t2), '\s+') AS toks FROM t2
             |  WHERE t2 IS NOT NULL AND trim(t2) <> ''
             |    AND len(string_split_regex(trim(t2), '\s+')) >= 3),
             |cg AS (SELECT DISTINCT doc_id, sh FROM (
             |    SELECT doc_id, unnest(list_filter(
             |      list_transform(toks, (x, i) ->
             |        toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
             |      v -> v IS NOT NULL)) AS sh
             |    FROM ct) u),
             |cet AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks FROM p
             |  WHERE doc_id < 20 AND text IS NOT NULL
             |    AND trim(text) <> ''
             |    AND len(string_split_regex(trim(text), '\s+')) >= 3),
             |cev AS (SELECT DISTINCT sh FROM (
             |    SELECT unnest(list_filter(
             |      list_transform(toks, (x, i) ->
             |        toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
             |      v -> v IS NOT NULL)) AS sh
             |    FROM cet) u),
             |chits AS (SELECT cg.doc_id, count(*) AS n FROM cg
             |  JOIN cev USING (sh) GROUP BY 1),
             |flags AS (SELECT t2.doc_id, t2.source, t2.t2,
             |    t2.n_para_removed, t2.n_span_removed,
             |    coalesce(q.quality_ok, false) AS quality_ok,
             |    coalesce(npred.pred <> 'dupish', false) AS nb_ok,
             |    coalesce(chits.n, 0) > 0 AS contaminated
             |  FROM t2 LEFT JOIN q ON q.id = t2.doc_id
             |  LEFT JOIN npred USING (doc_id)
             |  LEFT JOIN chits USING (doc_id)),
             |surv AS (SELECT * FROM flags
             |  WHERE quality_ok AND nb_ok AND NOT contaminated),
             |twc AS (SELECT source, count(*) AS n FROM surv
             |  WHERE source IS NOT NULL GROUP BY 1),
             |twt AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM twc),
             |twr AS (SELECT source,
             |    pow(n / twt.t, CAST(0.5 AS DOUBLE)) AS w
             |  FROM twc CROSS JOIN twt),
             |tws AS (SELECT sum(w) AS ws FROM twr),
             |twb AS (SELECT source,
             |    CAST(floor(CAST(2000 AS DOUBLE)
             |      * (round(w / tws.ws, 6) + 0)) AS BIGINT) AS budget
             |  FROM twr CROSS JOIN tws),
             |sel AS (SELECT doc_id FROM (
             |    SELECT s3.doc_id, twb.budget,
             |      CAST(sum(CASE WHEN length(trim(s3.t2)) = 0 THEN 0
             |        ELSE len(string_split_regex(trim(s3.t2), '\s+'))
             |        END)
             |        OVER (PARTITION BY s3.source ORDER BY s3.doc_id
             |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             |    FROM surv s3 JOIN twb USING (source))
             |  WHERE cum <= budget)
             |SELECT d1.doc_id, d1.is_dup,
             |  coalesce(f.n_para_removed, CAST(0 AS BIGINT))
             |    AS n_para_removed,
             |  coalesce(f.n_span_removed, CAST(0 AS BIGINT))
             |    AS n_span_removed,
             |  coalesce(f.quality_ok, false) AS quality_ok,
             |  coalesce(f.nb_ok, false) AS nb_ok,
             |  coalesce(f.contaminated, false) AS contaminated,
             |  sel.doc_id IS NOT NULL AS selected,
             |  (NOT d1.is_dup AND coalesce(f.quality_ok, false)
             |    AND coalesce(f.nb_ok, false)
             |    AND NOT coalesce(f.contaminated, false)
             |    AND sel.doc_id IS NOT NULL) AS kept
             |FROM d1 LEFT JOIN flags f USING (doc_id)
             |LEFT JOIN sel USING (doc_id)""".stripMargin),
      headline = true),

    Q("q_pack_offsets", // GPT-style concatenated packing: global token
      // offsets (docs + one separator each, id order) -> which
      // seqLen=512 sequences hold each doc. The two-phase bucketed
      // prefix sum must equal the sequential window definition the
      // oracle computes — all-integer arithmetic, bit-equal.
      (s, d) => CorpusOps.packOffsets(t(s, d, "documents"), "doc_id",
        "text", seqLen = 512),
      Some("""WITH d AS (SELECT doc_id,
             |    CAST(len(string_split_regex(trim(text), '\s+'))
             |      AS BIGINT) AS n_toks
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''),
             |o AS (SELECT doc_id, n_toks,
             |    CAST(coalesce(sum(n_toks + 1) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |      0) AS BIGINT) AS global_off
             |  FROM d)
             |SELECT doc_id, n_toks, global_off,
             |  global_off // 512 AS start_seq,
             |  (global_off + n_toks - 1) // 512 AS end_seq,
             |  global_off % 512 AS off_in_seq
             |FROM o""".stripMargin)),

    Q("q_epoch_shuffle", // deterministic epoch shuffle: shard + in-shard
      // position as pure functions of (epoch, doc_id) — reproducible
      // training order, no rand(); the oracle derives the identical
      // layout from the same md5.
      (s, d) => CorpusOps.epochShuffle(t(s, d, "documents"), "doc_id",
        epoch = 3, numShards = 8),
      Some("""WITH k AS (SELECT doc_id, md5('3:' || doc_id) AS kk
             |          FROM documents)
             |SELECT doc_id,
             |  CAST(('0x' || substr(kk, 1, 8))::UBIGINT % 8 AS BIGINT)
             |    AS shard,
             |  CAST(row_number() OVER (
             |    PARTITION BY ('0x' || substr(kk, 1, 8))::UBIGINT % 8
             |    ORDER BY kk, doc_id) AS BIGINT) AS pos
             |FROM k""".stripMargin)),

    Q("q_mixture_plan", // data-constrained mixture plan (Muennighoff et
      // al. 2023): per-domain token draw capped at maxRepeats=2 epochs
      // of the available data; src_missing exercises the absent-domain
      // row (0 available, NULL epochs). Desired shares are floor(30000
      // * w / sum w) — hard-coded in the oracle (21000/6000/3000).
      (s, d) => CorpusOps.mixturePlan(t(s, d, "documents"), "source",
        "text", Map("src1" -> 0.7, "src2" -> 0.2, "src_missing" -> 0.1),
        totalBudgetTokens = 30000, maxRepeats = 2.0),
      Some("""WITH avail AS (SELECT source,
             |    CAST(sum(len(string_split_regex(trim(text), '\s+')))
             |      AS BIGINT) AS available_toks
             |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
             |  GROUP BY 1),
             |w AS (SELECT * FROM (VALUES
             |    ('src1', CAST(21000 AS BIGINT)),
             |    ('src2', CAST(6000 AS BIGINT)),
             |    ('src_missing', CAST(3000 AS BIGINT)))
             |  t(source, desired_toks)),
             |j AS (SELECT w.source,
             |    COALESCE(a.available_toks, 0) AS available_toks,
             |    w.desired_toks,
             |    least(w.desired_toks, CAST(floor(
             |      CAST(COALESCE(a.available_toks, 0) AS DOUBLE) * 2.0)
             |      AS BIGINT)) AS planned_toks
             |  FROM w LEFT JOIN avail a USING (source))
             |SELECT source, available_toks, desired_toks, planned_toks,
             |  CASE WHEN available_toks > 0 THEN
             |    round(CAST(planned_toks AS DOUBLE)
             |      / CAST(available_toks AS DOUBLE), 4) + 0 END AS epochs,
             |  planned_toks < desired_toks AS capped
             |FROM j""".stripMargin)),

    Q("q_corpus_report", // one-call corpus data card: long-format
      // (metric, value) — sizes, token stats, exact percentiles,
      // source spread, top-language share, exact-dup fraction.
      (s, d) => CorpusOps.corpusReport(t(s, d, "documents"),
        "doc_id", "text", "lang", "source"),
      Some("""WITH b AS (SELECT doc_id, text, lang, source,
             |    (text IS NULL OR trim(text) = '') AS blank,
             |    CASE WHEN text IS NULL OR trim(text) = '' THEN 0
             |         ELSE len(string_split_regex(trim(text), '\s+'))
             |    END AS nt,
             |    CASE WHEN text IS NULL OR trim(text) = '' THEN 0
             |         ELSE length(text) END AS nc
             |  FROM documents)
             |SELECT 'n_docs' AS metric, CAST(count(*) AS DOUBLE) AS value
             |  FROM b
             |UNION ALL SELECT 'n_blank', CAST(sum(CASE WHEN blank
             |  THEN 1 ELSE 0 END) AS DOUBLE) FROM b
             |UNION ALL SELECT 'n_tokens', CAST(sum(nt) AS DOUBLE) FROM b
             |UNION ALL SELECT 'n_chars', CAST(sum(nc) AS DOUBLE) FROM b
             |UNION ALL SELECT 'avg_toks',
             |  round(avg(CASE WHEN NOT blank THEN nt END), 4) FROM b
             |UNION ALL SELECT 'p50_toks',
             |  round(percentile_cont(0.5) WITHIN GROUP (
             |    ORDER BY CASE WHEN NOT blank THEN nt END), 4) FROM b
             |UNION ALL SELECT 'p90_toks',
             |  round(percentile_cont(0.9) WITHIN GROUP (
             |    ORDER BY CASE WHEN NOT blank THEN nt END), 4) FROM b
             |UNION ALL SELECT 'n_sources',
             |  CAST(count(DISTINCT source) AS DOUBLE) FROM b
             |UNION ALL SELECT 'exact_dup_frac',
             |  round(CAST(1.0 AS DOUBLE)
             |    - count(DISTINCT text) / CAST(count(*) AS DOUBLE), 6)
             |  FROM b WHERE NOT blank
             |UNION ALL
             |SELECT 'pct_' || lang,
             |  round(CAST(n AS DOUBLE) / (SELECT count(*) FROM b), 6)
             |FROM (SELECT lang, count(*) AS n FROM b WHERE NOT blank
             |      GROUP BY 1 ORDER BY n DESC, lang LIMIT 1)"""
        .stripMargin)),

    Q("q_pct_normalize", // per-domain percentile-rank score
      // normalization (cross-domain quality mixing): percent_rank
      // within source over n_chars, id tie-break for determinism.
      (s, d) => CorpusOps.percentileNormalize(
        t(s, d, "documents").select(col("doc_id"), col("source"),
          col("n_chars")),
        "source", "doc_id", "n_chars"),
      Some("""SELECT doc_id, source, n_chars,
             |  round(percent_rank() OVER (
             |    PARTITION BY source
             |    ORDER BY n_chars NULLS FIRST, doc_id), 6) + 0
             |    AS pct_rank
             |FROM documents""".stripMargin)),

    Q("q_stratified_sample", // deterministic stratified sample: k docs
      // per source by md5-hash order — reproducible across runs/engines
      // (no rand()), so the oracle draws the identical sample
      (s, d) => CorpusOps.stratifiedSampleK(
        t(s, d, "documents"), "source", "doc_id", k = 50)
        .select(col("doc_id"), col("source")),
      Some("""SELECT doc_id, source FROM (
             |  SELECT doc_id, source, row_number() OVER (
             |      PARTITION BY source
             |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM documents) WHERE rn <= 50""".stripMargin)),

    Q("q_weighted_sample", // weighted sample without replacement: k
      // docs per source with inclusion probability ~ n_chars
      // (Efraimidis-Spirakis A-ES keys over a deterministic
      // md5-derived uniform — no rand(), so the oracle draws the
      // IDENTICAL sample: both engines parse the same 8 hex chars of
      // md5(doc_id) and rank by ln(u)/w). Key values are compared via
      // the discrete selection + rank, not as floats.
      (s, d) => CorpusOps.weightedSampleK(
        t(s, d, "documents"), "source", "doc_id", "n_chars", k = 25)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("rank").cast("long").as("rank")),
      Some("""SELECT doc_id, source, n_chars, CAST(rank AS BIGINT) AS rank
             |FROM (
             |  SELECT doc_id, source, n_chars, row_number() OVER (
             |      PARTITION BY source
             |      ORDER BY ln((('0x' ||
             |          substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
             |          + 0.5) / 4294967296.0)
             |        / CAST(n_chars AS DOUBLE) DESC,
             |        doc_id) AS rank
             |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
             |WHERE rank <= 25""".stripMargin)),

    Q("q_token_budget", // data-mixing quota: per source, keep docs in
      // id order until the cumulative token count exceeds the budget
      (s, d) => CorpusOps.tokenBudgetSelect(
        t(s, d, "documents"), "source", "doc_id", "text",
        budgetTokens = 2000L)
        .select(col("doc_id"), col("source"), col("n_toks"),
          col("cum_toks")),
      Some("""SELECT doc_id, source, n_toks, cum_toks FROM (
             |  SELECT doc_id, source,
             |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
             |      ELSE len(string_split_regex(trim(text), '\s+')) END
             |      AS BIGINT) AS n_toks,
             |    CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
             |      ELSE len(string_split_regex(trim(text), '\s+')) END)
             |      OVER (PARTITION BY source ORDER BY doc_id
             |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks
             |  FROM documents) WHERE cum_toks <= 2000""".stripMargin)),

    Q("q_domain_mix", // mixture materialization: per-source token
      // budgets proportional to a mixture spec (web:code:wiki-style
      // weights 2:1:1 over three sources, 2400 total tokens ->
      // 1200/600/600 — dyadic ratios, so the driver-side floor is
      // exact and the oracle embeds the derived budgets as integer
      // constants); sources outside the spec contribute nothing
      (s, d) => CorpusOps.mixtureSelect(
        t(s, d, "documents"), "source", "doc_id", "text",
        weights = Map("src0" -> 2.0, "src1" -> 1.0, "src2" -> 1.0),
        totalBudgetTokens = 2400L)
        .select(col("doc_id"), col("source"), col("budget_toks"),
          col("n_toks"), col("cum_toks")),
      Some("""SELECT doc_id, source, budget_toks, n_toks, cum_toks FROM (
             |  SELECT doc_id, source,
             |    CAST(CASE source WHEN 'src0' THEN 1200 ELSE 600 END
             |      AS BIGINT) AS budget_toks,
             |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
             |      ELSE len(string_split_regex(trim(text), '\s+')) END
             |      AS BIGINT) AS n_toks,
             |    CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
             |      ELSE len(string_split_regex(trim(text), '\s+')) END)
             |      OVER (PARTITION BY source ORDER BY doc_id
             |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks
             |  FROM documents
             |  WHERE source IN ('src0', 'src1', 'src2'))
             |WHERE cum_toks <= budget_toks""".stripMargin)),

    Q("q_token_budget_bucketed", // the skew-safe twin of
      // q_token_budget: distributed two-phase prefix sum (range-sliced
      // per group, per-slice offsets reconciled by a tiny window) must
      // reproduce the single-window running sum EXACTLY — same oracle
      // SQL, so any slice-boundary error in the offset arithmetic
      // flips the hash red
      (s, d) => CorpusOps.tokenBudgetSelectBucketed(
        t(s, d, "documents"), "source", "doc_id", "text",
        budgetTokens = 2000L, buckets = 8)
        .select(col("doc_id"), col("source"), col("n_toks"),
          col("cum_toks")),
      Some("""SELECT doc_id, source, n_toks, cum_toks FROM (
             |  SELECT doc_id, source,
             |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
             |      ELSE len(string_split_regex(trim(text), '\s+')) END
             |      AS BIGINT) AS n_toks,
             |    CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
             |      ELSE len(string_split_regex(trim(text), '\s+')) END)
             |      OVER (PARTITION BY source ORDER BY doc_id
             |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks
             |  FROM documents) WHERE cum_toks <= 2000""".stripMargin),
      // headline (r10): tracks the two-phase prefix-sum cost at sf0.1
      headline = true),

    Q("q_unigram_logprob", // corpus unigram LM score per doc (CCNet-
      // style LM-quality proxy): mean ln p(token) under corpus unigram
      // frequencies
      (s, d) => CorpusOps.unigramLogProb(
        t(s, d, "documents"), "doc_id", "text"),
      Some("""WITH t AS (SELECT doc_id,
             |    unnest(string_split_regex(trim(text), '\s+')) AS tok
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''),
             |c AS (SELECT tok, count(*) AS c FROM t GROUP BY 1),
             |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM c)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
             |  round(avg(ln(c / total)), 4) + 0 AS avg_logprob
             |FROM t JOIN c USING (tok) CROSS JOIN tot
             |GROUP BY doc_id""".stripMargin),
      headline = true),

    Q("q_bigram_logprob", // interpolated bigram LM score per doc (the
      // next rung of the CCNet-style LM-quality ladder): mean over
      // adjacent token pairs of ln(0.7*c(v,w)/c(v) + 0.3*c(w)/total),
      // model = the corpus itself. Parallel unnest zips the two slice
      // lists in DuckDB; round-4 absorbs the libm/avg-order hazards.
      (s, d) => CorpusOps.bigramLogProb(
        t(s, d, "documents"), "doc_id", "text", lambda = 0.7),
      Some("""WITH d AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''),
             |t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
             |u AS (SELECT tok, count(*) AS cu FROM t GROUP BY 1),
             |tot AS (SELECT CAST(sum(cu) AS DOUBLE) AS total FROM u),
             |bg AS (SELECT doc_id,
             |    unnest(list_slice(toks, 1, len(toks) - 1)) AS v,
             |    unnest(list_slice(toks, 2, len(toks))) AS w
             |  FROM d WHERE len(toks) >= 2),
             |bc AS (SELECT v, w, count(*) AS cvw FROM bg GROUP BY 1, 2),
             |lp AS (SELECT v, w,
             |    ln(CAST(0.7 AS DOUBLE) * cvw / uv.cu
             |       + (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE))
             |         * uw.cu / total) AS lp
             |  FROM bc
             |  JOIN u uv ON uv.tok = v
             |  JOIN u uw ON uw.tok = w
             |  CROSS JOIN tot)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             |  round(avg(lp), 4) + 0 AS avg_logprob
             |FROM bg JOIN lp USING (v, w)
             |GROUP BY doc_id""".stripMargin),
      headline = true),

    Q("q_rrf_fuse", // reciprocal-rank fusion of three incomparable
      // quality signals (char count, token count, longest-token
      // length): rank each with the two-phase global rank (range
      // exchange + slice-local windows — never a single-partition
      // sort), contribute 1/(60+rank), sum per doc. Total (score desc,
      // id) orderings on both engines; round-6 absorbs sum order.
      (s, d) => {
        val docs = t(s, d, "documents")
        val nonBlank = docs.filter(col("text").isNotNull &&
          trim(col("text")) =!= "")
        CorpusOps.rrfFuse(Map(
          "chars" -> ((docs.select(col("doc_id"),
            col("n_chars").cast("double").as("sc")), "sc")),
          "toks" -> ((nonBlank.select(col("doc_id"),
            size(split(trim(col("text")), "\\s+")).cast("double")
              .as("sc")), "sc")),
          "longest" -> ((nonBlank.select(col("doc_id"),
            array_max(transform(split(trim(col("text")), "\\s+"),
              x => length(x))).cast("double").as("sc")), "sc"))),
          "doc_id", k = 60)
      },
      Some("""WITH s1 AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS s
             |  FROM documents WHERE n_chars IS NOT NULL),
             |d AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''),
             |s2 AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS s FROM d),
             |s3 AS (SELECT doc_id,
             |    CAST(list_max(list_transform(toks, x -> length(x)))
             |      AS DOUBLE) AS s FROM d),
             |r1 AS (SELECT doc_id,
             |    row_number() OVER (ORDER BY s DESC, doc_id) AS r FROM s1),
             |r2 AS (SELECT doc_id,
             |    row_number() OVER (ORDER BY s DESC, doc_id) AS r FROM s2),
             |r3 AS (SELECT doc_id,
             |    row_number() OVER (ORDER BY s DESC, doc_id) AS r FROM s3),
             |u AS (SELECT doc_id, r FROM r1
             |      UNION ALL SELECT doc_id, r FROM r2
             |      UNION ALL SELECT doc_id, r FROM r3)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_signals,
             |  round(sum(CAST(1.0 AS DOUBLE)
             |    / (CAST(60.0 AS DOUBLE) + r)), 6) + 0 AS rrf_score
             |FROM u GROUP BY 1""".stripMargin)),

    Q("q_tfidf_terms", // per-doc top-3 keywords by tf-idf (corpus
      // exploration / topic labeling): tf * ln(N/df), round-4 BEFORE
      // the per-doc rank (term tie-break) so both engines rank
      // identical numbers. The df rejoin shuffles on the term key —
      // vocabulary is corpus-scaled, never assumed broadcastable.
      (s, d) => CorpusOps.tfidfTopTerms(t(s, d, "documents"), "doc_id",
        "text", k = 3),
      Some("""WITH d AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''),
             |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d),
             |t AS (SELECT doc_id, unnest(toks) AS term FROM d),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM t
             |  GROUP BY 1, 2),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |s AS (SELECT tf.doc_id, tf.term,
             |    round(tf.tf * ln(n.n / df.df), 4) + 0 AS tfidf
             |  FROM tf JOIN df USING (term) CROSS JOIN n),
             |r AS (SELECT doc_id, term, tfidf,
             |    row_number() OVER (PARTITION BY doc_id
             |                       ORDER BY tfidf DESC, term) AS rn
             |  FROM s)
             |SELECT doc_id, term, tfidf, CAST(rn AS BIGINT) AS rank
             |FROM r WHERE rn <= 3""".stripMargin)),

    Q("q_cdc_dedup", // content-defined chunk dedup (FastCDC at word
      // level): md5-boundary chunks (expected length 16 tokens), then
      // cross-doc duplicated-chunk stats — the edit-robust,
      // 1/avgTokens-posting-volume member between whole-doc exact
      // dedup and stride-1 span stats. Both engines split on the
      // identical md5-prefix boundary; (hash, string) equality decides
      // duplication.
      (s, d) => CorpusOps.cdcChunkStats(t(s, d, "documents"), "doc_id",
        "text", avgTokens = 16, minDf = 2),
      Some("""WITH d AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''),
             |l AS (SELECT doc_id, unnest(toks) AS tok,
             |    generate_subscripts(toks, 1) AS pos FROM d),
             |b AS (SELECT doc_id, pos, tok,
             |    CASE WHEN ('0x' || substr(md5(tok), 1, 8))::UBIGINT
             |      % 16 = 0 THEN 1 ELSE 0 END AS isb FROM l),
             |c AS (SELECT doc_id, pos, tok,
             |    coalesce(sum(isb) OVER (PARTITION BY doc_id
             |      ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND 1 PRECEDING), 0) AS chunk
             |  FROM b),
             |ch AS (SELECT doc_id, chunk,
             |    string_agg(tok, ' ' ORDER BY pos) AS ct
             |  FROM c GROUP BY 1, 2),
             |ds AS (SELECT ct FROM
             |    (SELECT DISTINCT doc_id, ct FROM ch)
             |  GROUP BY ct HAVING count(*) >= 2)
             |SELECT ch.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
             |  CAST(sum(CASE WHEN ds.ct IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS dup_chunks,
             |  round(CAST(sum(CASE WHEN ds.ct IS NOT NULL THEN 1
             |    ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_frac
             |FROM ch LEFT JOIN ds ON ch.ct = ds.ct
             |GROUP BY 1""".stripMargin)),

    Q("q_temperature_mix", // temperature-scaled domain mixture weights
      // (the multilingual-LM sampling exponent): per-source document
      // shares raised to tau=0.5 and renormalized — the upweight-the-
      // tail knob that feeds mixtureSelect. pow is libm on both
      // engines; round-6 absorbs the ulp class.
      (s, d) => CorpusOps.temperatureWeights(
        t(s, d, "documents"), "source", tau = 0.5),
      Some("""WITH c AS (SELECT source, count(*) AS n FROM documents
             |  WHERE source IS NOT NULL GROUP BY 1),
             |t AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM c),
             |r AS (SELECT source, n,
             |    pow(n / t.t, CAST(0.5 AS DOUBLE)) AS w
             |  FROM c CROSS JOIN t),
             |s AS (SELECT sum(w) AS ws FROM r)
             |SELECT source, CAST(n AS BIGINT) AS n_docs,
             |  round(w / s.ws, 6) + 0 AS weight
             |FROM r CROSS JOIN s""".stripMargin)),

    Q("q_pagerank", // fixed-iteration PageRank over the synthesized
      // host link graph (doc's host links to the host of doc
      // (id*7+3) mod N — both engines derive the identical edge list).
      // The crawl prioritizer: 3 power-method rounds, damping 0.85,
      // dangling mass leaks (documented). Fixed iterations = a closed
      // form of the inputs, so the oracle just unrolls the rounds as
      // CTEs; round-6 at the end only (intermediates stay full
      // precision on both engines).
      (s, d) => {
        val docs = t(s, d, "documents")
        val cnt = docs.agg(count(lit(1)).as("__cnt"))
        val edges = docs.select(col("doc_id"), col("source").as("src"))
          .crossJoin(broadcast(cnt))
          .select(col("src"),
            ((col("doc_id") * 7 + 3) % col("__cnt")).as("__bid"))
          .join(docs.select(col("doc_id").as("__bid"),
            col("source").as("dst")), Seq("__bid"))
        graft.operators.GraphOps.pageRank(edges, "src", "dst", iters = 3)
      },
      Some("""WITH cnt AS (SELECT count(*) AS c FROM documents),
             |e AS (SELECT DISTINCT a.source AS src, b.source AS dst
             |  FROM documents a CROSS JOIN cnt
             |  JOIN documents b ON b.doc_id = (a.doc_id * 7 + 3) % cnt.c
             |  WHERE a.source IS NOT NULL AND b.source IS NOT NULL),
             |nodes AS (SELECT src AS node FROM e
             |          UNION SELECT dst FROM e),
             |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
             |od AS (SELECT src, count(*) AS o FROM e GROUP BY 1),
             |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n.n AS pr
             |       FROM nodes CROSS JOIN n),
             |c1 AS (SELECT e.dst AS node, sum(r0.pr / od.o) AS m
             |  FROM e JOIN od USING (src) JOIN r0 ON r0.node = e.src
             |  GROUP BY 1),
             |r1 AS (SELECT nodes.node,
             |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n.n
             |      + CAST(0.85 AS DOUBLE)
             |        * coalesce(c1.m, CAST(0 AS DOUBLE)) AS pr
             |  FROM nodes CROSS JOIN n LEFT JOIN c1 USING (node)),
             |c2 AS (SELECT e.dst AS node, sum(r1.pr / od.o) AS m
             |  FROM e JOIN od USING (src) JOIN r1 ON r1.node = e.src
             |  GROUP BY 1),
             |r2 AS (SELECT nodes.node,
             |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n.n
             |      + CAST(0.85 AS DOUBLE)
             |        * coalesce(c2.m, CAST(0 AS DOUBLE)) AS pr
             |  FROM nodes CROSS JOIN n LEFT JOIN c2 USING (node)),
             |c3 AS (SELECT e.dst AS node, sum(r2.pr / od.o) AS m
             |  FROM e JOIN od USING (src) JOIN r2 ON r2.node = e.src
             |  GROUP BY 1),
             |r3 AS (SELECT nodes.node,
             |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n.n
             |      + CAST(0.85 AS DOUBLE)
             |        * coalesce(c3.m, CAST(0 AS DOUBLE)) AS pr
             |  FROM nodes CROSS JOIN n LEFT JOIN c3 USING (node))
             |SELECT node, round(pr, 6) + 0 AS pagerank
             |FROM r3""".stripMargin)),

    Q("q_bm25_topk", // BM25 lexical retrieval (Lucene +1-idf flavor):
      // global top-20 docs for a 4-term query over the corpus — the
      // no-index search baseline decontamination and targeted corpus
      // search lean on. Posting prune first (tokens filter to the
      // query terms before any agg), TakeOrderedAndProject top-k.
      // Float-parity notes: every constant is CAST(double) and the
      // oracle computes k1+1 AS AN ADDITION because double(1.2)+1.0
      // != double(2.2) in the last ulp; operator association mirrors
      // the Column expression exactly; rank over the ROUNDED score
      // with id tie-break.
      (s, d) => CorpusOps.bm25TopK(t(s, d, "documents"), "doc_id",
        "text", Seq("hash", "join", "window", "scan"), k = 20),
      Some("""WITH d AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''),
             |lens AS (SELECT doc_id, len(toks) AS dl FROM d),
             |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             |    avg(dl) AS avgdl FROM lens),
             |t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
             |  WHERE tok IN ('hash', 'join', 'window', 'scan')
             |  GROUP BY 1, 2),
             |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
             |sc AS (SELECT tf.doc_id,
             |    sum(ln((stats.n - df.df + CAST(0.5 AS DOUBLE))
             |          / (df.df + CAST(0.5 AS DOUBLE))
             |          + CAST(1.0 AS DOUBLE))
             |      * tf.tf
             |      * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
             |      / (tf.tf + CAST(1.2 AS DOUBLE)
             |          * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
             |            + CAST(0.75 AS DOUBLE) * lens.dl
             |              / stats.avgdl))) AS s,
             |    count(*) AS n_terms
             |  FROM tf JOIN df USING (tok) JOIN lens USING (doc_id)
             |  CROSS JOIN stats
             |  GROUP BY 1)
             |SELECT doc_id, round(s, 4) + 0 AS bm25,
             |  CAST(n_terms AS BIGINT) AS n_terms
             |FROM sc
             |ORDER BY round(s, 4) DESC, doc_id
             |LIMIT 20""".stripMargin),
      headline = true),

    Q("q_bm25_batch", // batch BM25 (r14 verdict #4): a query TABLE
      // scored in ONE job — corpus tokenized once, postings pruned to
      // the batch vocabulary, per-query top-10 via WindowGroupLimit.
      // Four planted queries: q0 repeats q_bm25_topk's terms (so the
      // single-query gate cross-checks the batch path), q1/q2 mix
      // common and rare vocabulary, q3 matches nothing and must emit
      // no rows. Float parity identical to q_bm25_topk (k1+1 as an
      // addition, CAST every literal, rank over the ROUNDED score
      // with doc-id tie-break); the oracle parameterizes the same
      // CTE chain per query via a VALUES-driven query relation.
      (s, d) => {
        import s.implicits._
        val qs = Seq(
          (0L, "hash join window scan"),
          (1L, "sort merge batch"),
          (2L, "dup stream"),
          (3L, "qqqnomatchqqq")).toDF("query_id", "query_text")
        CorpusOps.bm25TopKBatch(t(s, d, "documents"), "doc_id", "text",
          qs, "query_id", "query_text", k = 10)
      },
      Some("""WITH qraw AS (SELECT * FROM (VALUES
             |    (CAST(0 AS BIGINT), 'hash join window scan'),
             |    (CAST(1 AS BIGINT), 'sort merge batch'),
             |    (CAST(2 AS BIGINT), 'dup stream'),
             |    (CAST(3 AS BIGINT), 'qqqnomatchqqq'))
             |  AS v(query_id, query_text)),
             |q AS (SELECT DISTINCT query_id, tok FROM (
             |  SELECT query_id,
             |    unnest(string_split_regex(trim(query_text), '\s+')) AS tok
             |  FROM qraw)),
             |d AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''),
             |lens AS (SELECT doc_id, len(toks) AS dl FROM d),
             |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             |    avg(dl) AS avgdl FROM lens),
             |t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
             |  WHERE tok IN (SELECT DISTINCT tok FROM q)
             |  GROUP BY 1, 2),
             |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
             |contrib AS (SELECT tf.doc_id, tf.tok,
             |    ln((stats.n - df.df + CAST(0.5 AS DOUBLE))
             |          / (df.df + CAST(0.5 AS DOUBLE))
             |          + CAST(1.0 AS DOUBLE))
             |      * tf.tf
             |      * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
             |      / (tf.tf + CAST(1.2 AS DOUBLE)
             |          * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
             |            + CAST(0.75 AS DOUBLE) * lens.dl
             |              / stats.avgdl)) AS c
             |  FROM tf JOIN df USING (tok) JOIN lens USING (doc_id)
             |  CROSS JOIN stats),
             |sc AS (SELECT q.query_id, contrib.doc_id,
             |    round(sum(contrib.c), 4) + 0 AS bm25,
             |    CAST(count(*) AS BIGINT) AS n_terms
             |  FROM contrib JOIN q ON q.tok = contrib.tok
             |  GROUP BY 1, 2),
             |rk AS (SELECT query_id, doc_id, bm25, n_terms,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY bm25 DESC, doc_id) AS rn
             |  FROM sc)
             |SELECT query_id, doc_id, bm25, n_terms
             |FROM rk WHERE rn <= 10""".stripMargin)),

    Q("q_bm25_indexed", // the PERSISTED inverted index: postings built
      // once (term-hash-partitioned leaves + one stats row), the
      // q_bm25_batch query table probed against them — per query the
      // arithmetic and ranking are IDENTICAL to the one-job batch
      // operator (spec-pinned, incl. the append law), so the oracle is
      // q_bm25_batch's VERBATIM; what changes is the scan: tokenize+
      // explode of the corpus is gone, replaced by a partition-pruned
      // read of <= min(|vocab|, 64) posting leaves.
      (s, d) => {
        import s.implicits._
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_bm25i_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        CorpusOps.buildBm25Index(t(s, d, "documents"), "doc_id", "text",
          dir)
        val qs = Seq(
          (0L, "hash join window scan"),
          (1L, "sort merge batch"),
          (2L, "dup stream"),
          (3L, "qqqnomatchqqq")).toDF("query_id", "query_text")
        CorpusOps.bm25TopKIndexed(s, dir, qs, "query_id", "query_text",
            k = 10)
          .select(col("query_id"), col("id").as("doc_id"), col("bm25"),
            col("n_terms"))
      },
      Some("""WITH qraw AS (SELECT * FROM (VALUES
             |    (CAST(0 AS BIGINT), 'hash join window scan'),
             |    (CAST(1 AS BIGINT), 'sort merge batch'),
             |    (CAST(2 AS BIGINT), 'dup stream'),
             |    (CAST(3 AS BIGINT), 'qqqnomatchqqq'))
             |  AS v(query_id, query_text)),
             |q AS (SELECT DISTINCT query_id, tok FROM (
             |  SELECT query_id,
             |    unnest(string_split_regex(trim(query_text), '\s+')) AS tok
             |  FROM qraw)),
             |d AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''),
             |lens AS (SELECT doc_id, len(toks) AS dl FROM d),
             |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             |    avg(dl) AS avgdl FROM lens),
             |t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
             |  WHERE tok IN (SELECT DISTINCT tok FROM q)
             |  GROUP BY 1, 2),
             |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
             |contrib AS (SELECT tf.doc_id, tf.tok,
             |    ln((stats.n - df.df + CAST(0.5 AS DOUBLE))
             |          / (df.df + CAST(0.5 AS DOUBLE))
             |          + CAST(1.0 AS DOUBLE))
             |      * tf.tf
             |      * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
             |      / (tf.tf + CAST(1.2 AS DOUBLE)
             |          * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
             |            + CAST(0.75 AS DOUBLE) * lens.dl
             |              / stats.avgdl)) AS c
             |  FROM tf JOIN df USING (tok) JOIN lens USING (doc_id)
             |  CROSS JOIN stats),
             |sc AS (SELECT q.query_id, contrib.doc_id,
             |    round(sum(contrib.c), 4) + 0 AS bm25,
             |    CAST(count(*) AS BIGINT) AS n_terms
             |  FROM contrib JOIN q ON q.tok = contrib.tok
             |  GROUP BY 1, 2),
             |rk AS (SELECT query_id, doc_id, bm25, n_terms,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY bm25 DESC, doc_id) AS rn
             |  FROM sc)
             |SELECT query_id, doc_id, bm25, n_terms
             |FROM rk WHERE rn <= 10""".stripMargin)),

    Q("q_bm25_deletes", // index deletion (the takedown path): build
      // the posting index, tombstone every doc_id % 3 == 0, COMPACT
      // (the one explicit rewrite — stats heal, tombstones clear),
      // probe the standard query batch. A compacted index must probe
      // exactly like a fresh build over the surviving corpus, so the
      // oracle is q_bm25_batch's with the deletion predicate applied
      // to its documents CTE; immediate pre-compact exclusion and the
      // batch-layout normalization are spec-pinned in CorpusOpsSpec.
      (s, d) => {
        import s.implicits._
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_bm25d_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val docs = t(s, d, "documents")
        CorpusOps.buildBm25Index(docs, "doc_id", "text", dir)
        CorpusOps.bm25IndexDelete(dir,
          docs.filter(col("doc_id") % 3 === 0).select(col("doc_id")),
          "doc_id")
        CorpusOps.bm25IndexCompact(s, dir)
        val qs = Seq(
          (0L, "hash join window scan"),
          (1L, "sort merge batch"),
          (2L, "dup stream"),
          (3L, "qqqnomatchqqq")).toDF("query_id", "query_text")
        CorpusOps.bm25TopKIndexed(s, dir, qs, "query_id", "query_text",
            k = 10)
          .select(col("query_id"), col("id").as("doc_id"), col("bm25"),
            col("n_terms"))
      },
      Some("""WITH qraw AS (SELECT * FROM (VALUES
             |    (CAST(0 AS BIGINT), 'hash join window scan'),
             |    (CAST(1 AS BIGINT), 'sort merge batch'),
             |    (CAST(2 AS BIGINT), 'dup stream'),
             |    (CAST(3 AS BIGINT), 'qqqnomatchqqq'))
             |  AS v(query_id, query_text)),
             |q AS (SELECT DISTINCT query_id, tok FROM (
             |  SELECT query_id,
             |    unnest(string_split_regex(trim(query_text), '\s+')) AS tok
             |  FROM qraw)),
             |d AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''
             |    AND doc_id % 3 <> 0),
             |lens AS (SELECT doc_id, len(toks) AS dl FROM d),
             |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             |    avg(dl) AS avgdl FROM lens),
             |t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
             |  WHERE tok IN (SELECT DISTINCT tok FROM q)
             |  GROUP BY 1, 2),
             |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
             |contrib AS (SELECT tf.doc_id, tf.tok,
             |    ln((stats.n - df.df + CAST(0.5 AS DOUBLE))
             |          / (df.df + CAST(0.5 AS DOUBLE))
             |          + CAST(1.0 AS DOUBLE))
             |      * tf.tf
             |      * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
             |      / (tf.tf + CAST(1.2 AS DOUBLE)
             |          * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
             |            + CAST(0.75 AS DOUBLE) * lens.dl
             |              / stats.avgdl)) AS c
             |  FROM tf JOIN df USING (tok) JOIN lens USING (doc_id)
             |  CROSS JOIN stats),
             |sc AS (SELECT q.query_id, contrib.doc_id,
             |    round(sum(contrib.c), 4) + 0 AS bm25,
             |    CAST(count(*) AS BIGINT) AS n_terms
             |  FROM contrib JOIN q ON q.tok = contrib.tok
             |  GROUP BY 1, 2),
             |rk AS (SELECT query_id, doc_id, bm25, n_terms,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY bm25 DESC, doc_id) AS rn
             |  FROM sc)
             |SELECT query_id, doc_id, bm25, n_terms
             |FROM rk WHERE rn <= 10""".stripMargin)),

    Q("q_bm25_compact_versioned", // the q_bm25_deletes recipe through
      // the VERSIONED compact (the Similarity versioned-swap contract
      // on the BM25 root): survivors land in a hidden .v1 generation
      // and the .current pointer flips — probes and increments need
      // no pause across the rewrite. The probe must STILL equal a
      // fresh build over the survivors (q_bm25_deletes' oracle
      // verbatim, resolved through the pointer); pointer/grace/sticky
      // mechanics and post-compact increments are spec-pinned in
      // CorpusOpsSpec.
      (s, d) => {
        import s.implicits._
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_bm25v_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val docs = t(s, d, "documents")
        CorpusOps.buildBm25Index(docs, "doc_id", "text", dir)
        CorpusOps.bm25IndexDelete(dir,
          docs.filter(col("doc_id") % 3 === 0).select(col("doc_id")),
          "doc_id")
        CorpusOps.bm25IndexCompact(s, dir, versioned = true)
        val qs = Seq(
          (0L, "hash join window scan"),
          (1L, "sort merge batch"),
          (2L, "dup stream"),
          (3L, "qqqnomatchqqq")).toDF("query_id", "query_text")
        CorpusOps.bm25TopKIndexed(s, dir, qs, "query_id", "query_text",
            k = 10)
          .select(col("query_id"), col("id").as("doc_id"), col("bm25"),
            col("n_terms"))
      },
      Some("""WITH qraw AS (SELECT * FROM (VALUES
             |    (CAST(0 AS BIGINT), 'hash join window scan'),
             |    (CAST(1 AS BIGINT), 'sort merge batch'),
             |    (CAST(2 AS BIGINT), 'dup stream'),
             |    (CAST(3 AS BIGINT), 'qqqnomatchqqq'))
             |  AS v(query_id, query_text)),
             |q AS (SELECT DISTINCT query_id, tok FROM (
             |  SELECT query_id,
             |    unnest(string_split_regex(trim(query_text), '\s+')) AS tok
             |  FROM qraw)),
             |d AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''
             |    AND doc_id % 3 <> 0),
             |lens AS (SELECT doc_id, len(toks) AS dl FROM d),
             |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             |    avg(dl) AS avgdl FROM lens),
             |t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
             |  WHERE tok IN (SELECT DISTINCT tok FROM q)
             |  GROUP BY 1, 2),
             |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
             |contrib AS (SELECT tf.doc_id, tf.tok,
             |    ln((stats.n - df.df + CAST(0.5 AS DOUBLE))
             |          / (df.df + CAST(0.5 AS DOUBLE))
             |          + CAST(1.0 AS DOUBLE))
             |      * tf.tf
             |      * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
             |      / (tf.tf + CAST(1.2 AS DOUBLE)
             |          * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
             |            + CAST(0.75 AS DOUBLE) * lens.dl
             |              / stats.avgdl)) AS c
             |  FROM tf JOIN df USING (tok) JOIN lens USING (doc_id)
             |  CROSS JOIN stats),
             |sc AS (SELECT q.query_id, contrib.doc_id,
             |    round(sum(contrib.c), 4) + 0 AS bm25,
             |    CAST(count(*) AS BIGINT) AS n_terms
             |  FROM contrib JOIN q ON q.tok = contrib.tok
             |  GROUP BY 1, 2),
             |rk AS (SELECT query_id, doc_id, bm25, n_terms,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY bm25 DESC, doc_id) AS rn
             |  FROM sc)
             |SELECT query_id, doc_id, bm25, n_terms
             |FROM rk WHERE rn <= 10""".stripMargin)),

    Q("q_search_pipeline", // the composed retrieval ensemble (r14
      // verdict #6): BM25 lexical candidates + brute-force cosine
      // semantic candidates (the exact baseline; IVF/PQ slot into the
      // same (id, score) shape at scale), fused by reciprocal-rank
      // fusion, global top-20. The oracle composes the q_bm25_topk,
      // q_cosine_knn and q_rrf_fuse oracles verbatim: each leg ranks
      // its own 100-deep candidate list by (rounded score desc, id),
      // contributes 1/(60+rank), and the fused ordering is
      // (round-6 rrf desc, id) — total orders end to end, so the
      // boundary of every LIMIT is engine-portable.
      (s, d) => CorpusOps.searchPipeline(
        t(s, d, "documents"), "doc_id", "text",
        Seq("hash", "join", "window", "scan"),
        Similarity.cosineTopK(t(s, d, "embeddings"), "vec_id",
          "embedding", queryId = 0L, k = 100),
        "id", "cos_sim", k = 20, candidates = 100),
      Some("""WITH d AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''),
             |lens AS (SELECT doc_id, len(toks) AS dl FROM d),
             |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             |    avg(dl) AS avgdl FROM lens),
             |t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
             |  WHERE tok IN ('hash', 'join', 'window', 'scan')
             |  GROUP BY 1, 2),
             |dfr AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
             |lexs AS (SELECT tf.doc_id,
             |    round(sum(ln((stats.n - dfr.df + CAST(0.5 AS DOUBLE))
             |          / (dfr.df + CAST(0.5 AS DOUBLE))
             |          + CAST(1.0 AS DOUBLE))
             |      * tf.tf
             |      * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
             |      / (tf.tf + CAST(1.2 AS DOUBLE)
             |          * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
             |            + CAST(0.75 AS DOUBLE) * lens.dl
             |              / stats.avgdl))), 4) + 0 AS s
             |  FROM tf JOIN dfr USING (tok) JOIN lens USING (doc_id)
             |  CROSS JOIN stats
             |  GROUP BY 1),
             |lex AS (SELECT doc_id, s FROM lexs
             |        ORDER BY s DESC, doc_id LIMIT 100),
             |q AS (SELECT embedding AS qv FROM embeddings
             |      WHERE vec_id = 0),
             |sems AS (SELECT e.vec_id AS doc_id,
             |  round(list_aggregate(list_transform(e.embedding,
             |    (x, i) -> CAST(x AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)),
             |    'sum')
             |  / (sqrt(list_aggregate(list_transform(e.embedding,
             |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
             |   * sqrt(list_aggregate(list_transform(q.qv,
             |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))),
             |    6) + 0 AS s
             |  FROM embeddings e, q WHERE e.vec_id <> 0),
             |sem AS (SELECT doc_id, s FROM sems
             |        ORDER BY s DESC, doc_id LIMIT 100),
             |r1 AS (SELECT doc_id,
             |    row_number() OVER (ORDER BY s DESC, doc_id) AS r
             |  FROM lex),
             |r2 AS (SELECT doc_id,
             |    row_number() OVER (ORDER BY s DESC, doc_id) AS r
             |  FROM sem),
             |u AS (SELECT doc_id, r FROM r1
             |      UNION ALL SELECT doc_id, r FROM r2),
             |f AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_signals,
             |    round(sum(CAST(1.0 AS DOUBLE)
             |      / (CAST(60.0 AS DOUBLE) + r)), 6) + 0 AS rrf_score
             |  FROM u GROUP BY 1)
             |SELECT doc_id, n_signals, rrf_score,
             |  CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
             |    AS BIGINT) AS rank
             |FROM f ORDER BY rrf_score DESC, doc_id
             |LIMIT 20""".stripMargin),
      headline = true),

    Q("q_cosine_knn_batch", // batch brute-force cosine top-k: a query
      // TABLE (the first 4 corpus vectors) ranked against the corpus
      // in ONE job — the semantic leg of batch retrieval. Broadcast
      // query table, per-query WindowGroupLimit top-10, self-match
      // excluded per query (the single-query cosineTopK rule).
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.cosineTopKBatch(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 4)
            .select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", k = 10)
      },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qv
             |  FROM embeddings WHERE vec_id < 4),
             |s AS (SELECT q.qid, e.vec_id AS id,
             |  round(list_aggregate(list_transform(e.embedding,
             |    (x, i) -> CAST(x AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)),
             |    'sum')
             |  / (sqrt(list_aggregate(list_transform(e.embedding,
             |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
             |   * sqrt(list_aggregate(list_transform(q.qv,
             |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))),
             |    6) + 0 AS cos_sim
             |  FROM embeddings e JOIN q ON e.vec_id <> q.qid),
             |r AS (SELECT qid, id, cos_sim,
             |    row_number() OVER (PARTITION BY qid
             |                       ORDER BY cos_sim DESC, id) AS rn
             |  FROM s)
             |SELECT qid, id, cos_sim FROM r WHERE rn <= 10"""
        .stripMargin)),

    Q("q_search_batch", // BATCH hybrid retrieval: the q_bm25_batch
      // query table fused per query with batch cosine rankings
      // (query vectors = corpus vectors 0..3, qid aligned with
      // query_id) through per-query RRF — n queries in ONE job. q3
      // matches nothing lexically but still retrieves semantically
      // (the one-leg fusion branch, n_signals=1); candidate depth 50,
      // final top-10 per query. The oracle chains the q_bm25_batch
      // CTE chain, the batch-cosine CTE, per-query rank CTEs and the
      // fused per-query top-k — total orders at every boundary.
      (s, d) => {
        import s.implicits._
        val qs = Seq(
          (0L, "hash join window scan"),
          (1L, "sort merge batch"),
          (2L, "dup stream"),
          (3L, "qqqnomatchqqq")).toDF("query_id", "query_text")
        val emb = t(s, d, "embeddings")
        val sem = Similarity.cosineTopKBatch(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 4)
            .select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", k = 50)
        CorpusOps.searchPipelineBatch(t(s, d, "documents"), "doc_id",
          "text", qs, "query_id", "query_text",
          sem, "qid", "id", "cos_sim", k = 10, candidates = 50)
      },
      Some("""WITH qraw AS (SELECT * FROM (VALUES
             |    (CAST(0 AS BIGINT), 'hash join window scan'),
             |    (CAST(1 AS BIGINT), 'sort merge batch'),
             |    (CAST(2 AS BIGINT), 'dup stream'),
             |    (CAST(3 AS BIGINT), 'qqqnomatchqqq'))
             |  AS v(query_id, query_text)),
             |q AS (SELECT DISTINCT query_id, tok FROM (
             |  SELECT query_id,
             |    unnest(string_split_regex(trim(query_text), '\s+'))
             |      AS tok
             |  FROM qraw)),
             |d AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''),
             |lens AS (SELECT doc_id, len(toks) AS dl FROM d),
             |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             |    avg(dl) AS avgdl FROM lens),
             |t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
             |  WHERE tok IN (SELECT DISTINCT tok FROM q)
             |  GROUP BY 1, 2),
             |dfr AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
             |contrib AS (SELECT tf.doc_id, tf.tok,
             |    ln((stats.n - dfr.df + CAST(0.5 AS DOUBLE))
             |          / (dfr.df + CAST(0.5 AS DOUBLE))
             |          + CAST(1.0 AS DOUBLE))
             |      * tf.tf
             |      * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
             |      / (tf.tf + CAST(1.2 AS DOUBLE)
             |          * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
             |            + CAST(0.75 AS DOUBLE) * lens.dl
             |              / stats.avgdl)) AS c
             |  FROM tf JOIN dfr USING (tok) JOIN lens USING (doc_id)
             |  CROSS JOIN stats),
             |sc AS (SELECT q.query_id, contrib.doc_id,
             |    round(sum(contrib.c), 4) + 0 AS bm25
             |  FROM contrib JOIN q ON q.tok = contrib.tok
             |  GROUP BY 1, 2),
             |lex AS (SELECT query_id, doc_id, bm25 FROM (
             |    SELECT query_id, doc_id, bm25,
             |      row_number() OVER (PARTITION BY query_id
             |                         ORDER BY bm25 DESC, doc_id) AS rn
             |    FROM sc)
             |  WHERE rn <= 50),
             |qv AS (SELECT vec_id AS qid, embedding AS vq
             |  FROM embeddings WHERE vec_id < 4),
             |semsc AS (SELECT qv.qid, e.vec_id AS id,
             |  round(list_aggregate(list_transform(e.embedding,
             |    (x, i) -> CAST(x AS DOUBLE) * CAST(qv.vq[i] AS DOUBLE)),
             |    'sum')
             |  / (sqrt(list_aggregate(list_transform(e.embedding,
             |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
             |   * sqrt(list_aggregate(list_transform(qv.vq,
             |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))),
             |    6) + 0 AS s
             |  FROM embeddings e JOIN qv ON e.vec_id <> qv.qid),
             |sem AS (SELECT qid AS query_id, id AS doc_id, s FROM (
             |    SELECT qid, id, s,
             |      row_number() OVER (PARTITION BY qid
             |                         ORDER BY s DESC, id) AS rn
             |    FROM semsc)
             |  WHERE rn <= 50),
             |r1 AS (SELECT query_id, doc_id,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY bm25 DESC, doc_id) AS r
             |  FROM lex),
             |r2 AS (SELECT query_id, doc_id,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY s DESC, doc_id) AS r
             |  FROM sem),
             |u AS (SELECT query_id, doc_id, r FROM r1
             |      UNION ALL SELECT query_id, doc_id, r FROM r2),
             |f AS (SELECT query_id, doc_id,
             |    CAST(count(*) AS BIGINT) AS n_signals,
             |    round(sum(CAST(1.0 AS DOUBLE)
             |      / (CAST(60.0 AS DOUBLE) + r)), 6) + 0 AS rrf_score
             |  FROM u GROUP BY 1, 2)
             |SELECT query_id, doc_id, n_signals, rrf_score,
             |  CAST(rn AS BIGINT) AS rank
             |FROM (SELECT query_id, doc_id, n_signals, rrf_score,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY rrf_score DESC, doc_id)
             |      AS rn
             |  FROM f)
             |WHERE rn <= 10""".stripMargin)),

    Q("q_search_diversified", // DIVERSIFIED hybrid retrieval (r17
      // verdict #4): the q_search_batch ensemble with mmrRerankBatch
      // threaded in as the final stage, gated in a NON-degenerate
      // case (lambda=0.7, k=3 picks over the fused top-20 pool).
      // Greedy selection is deterministic (ties to smaller id) and
      // every input is engine-portable — rel is the round-6
      // rrf_score, vectors normalize and dot in ascending IEEE order
      // on both engines — so the oracle UNROLLS the three picks as
      // chained CTEs: pick1 = argmax lambda*rel; maxSim folds in the
      // picked vector (clamped at 0, the implementation's exact
      // update rule); pick2/pick3 = argmax lambda*rel -
      // (1-lambda)*maxSim over the remainder. lambda=1 ==
      // undiversified pipeline is spec-pinned.
      (s, d) => {
        import s.implicits._
        val qs = Seq(
          (0L, "hash join window scan"),
          (1L, "sort merge batch"),
          (2L, "dup stream"),
          (3L, "qqqnomatchqqq")).toDF("query_id", "query_text")
        val emb = t(s, d, "embeddings")
        val sem = Similarity.cosineTopKBatch(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 4)
            .select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", k = 20)
        // MMR needs a vector per candidate, and at sf0.1 `documents`
        // carries doc ids beyond the embeddings table — restrict the
        // lexical corpus to the embedded docs (mirrored in the
        // oracle's `d` CTE), exactly what the operator's loud
        // coverage guard demands
        val docs = t(s, d, "documents")
          .join(emb.select(col("vec_id").as("doc_id")), Seq("doc_id"),
            "left_semi")
        CorpusOps.searchPipelineBatch(
            docs, "doc_id", "text", qs, "query_id",
            "query_text", sem, "qid", "id", "cos_sim", k = 3,
            candidates = 20,
            mmr = Some(CorpusOps.Mmr(emb, "vec_id", "embedding", 0.7)))
          .select(col("query_id"), col("doc_id"),
            (round(col("mmr"), 6) + lit(0.0d)).as("mmr"), col("rank"))
      },
      Some("""WITH qraw AS (SELECT * FROM (VALUES
             |    (CAST(0 AS BIGINT), 'hash join window scan'),
             |    (CAST(1 AS BIGINT), 'sort merge batch'),
             |    (CAST(2 AS BIGINT), 'dup stream'),
             |    (CAST(3 AS BIGINT), 'qqqnomatchqqq'))
             |  AS v(query_id, query_text)),
             |q AS (SELECT DISTINCT query_id, tok FROM (
             |  SELECT query_id,
             |    unnest(string_split_regex(trim(query_text), '\s+'))
             |      AS tok
             |  FROM qraw)),
             |d AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''
             |    AND doc_id IN (SELECT vec_id FROM embeddings)),
             |lens AS (SELECT doc_id, len(toks) AS dl FROM d),
             |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             |    avg(dl) AS avgdl FROM lens),
             |t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
             |  WHERE tok IN (SELECT DISTINCT tok FROM q)
             |  GROUP BY 1, 2),
             |dfr AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
             |contrib AS (SELECT tf.doc_id, tf.tok,
             |    ln((stats.n - dfr.df + CAST(0.5 AS DOUBLE))
             |          / (dfr.df + CAST(0.5 AS DOUBLE))
             |          + CAST(1.0 AS DOUBLE))
             |      * tf.tf
             |      * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
             |      / (tf.tf + CAST(1.2 AS DOUBLE)
             |          * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
             |            + CAST(0.75 AS DOUBLE) * lens.dl
             |              / stats.avgdl)) AS c
             |  FROM tf JOIN dfr USING (tok) JOIN lens USING (doc_id)
             |  CROSS JOIN stats),
             |sc AS (SELECT q.query_id, contrib.doc_id,
             |    round(sum(contrib.c), 4) + 0 AS bm25
             |  FROM contrib JOIN q ON q.tok = contrib.tok
             |  GROUP BY 1, 2),
             |lex AS (SELECT query_id, doc_id, bm25 FROM (
             |    SELECT query_id, doc_id, bm25,
             |      row_number() OVER (PARTITION BY query_id
             |                         ORDER BY bm25 DESC, doc_id) AS rn
             |    FROM sc)
             |  WHERE rn <= 20),
             |qv AS (SELECT vec_id AS qid, embedding AS vq
             |  FROM embeddings WHERE vec_id < 4),
             |semsc AS (SELECT qv.qid, e.vec_id AS id,
             |  round(list_aggregate(list_transform(e.embedding,
             |    (x, i) -> CAST(x AS DOUBLE) * CAST(qv.vq[i] AS DOUBLE)),
             |    'sum')
             |  / (sqrt(list_aggregate(list_transform(e.embedding,
             |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
             |   * sqrt(list_aggregate(list_transform(qv.vq,
             |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))),
             |    6) + 0 AS s
             |  FROM embeddings e JOIN qv ON e.vec_id <> qv.qid),
             |sem AS (SELECT qid AS query_id, id AS doc_id, s FROM (
             |    SELECT qid, id, s,
             |      row_number() OVER (PARTITION BY qid
             |                         ORDER BY s DESC, id) AS rn
             |    FROM semsc)
             |  WHERE rn <= 20),
             |r1 AS (SELECT query_id, doc_id,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY bm25 DESC, doc_id) AS r
             |  FROM lex),
             |r2 AS (SELECT query_id, doc_id,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY s DESC, doc_id) AS r
             |  FROM sem),
             |u AS (SELECT query_id, doc_id, r FROM r1
             |      UNION ALL SELECT query_id, doc_id, r FROM r2),
             |f AS (SELECT query_id, doc_id,
             |    round(sum(CAST(1.0 AS DOUBLE)
             |      / (CAST(60.0 AS DOUBLE) + r)), 6) + 0 AS rrf_score
             |  FROM u GROUP BY 1, 2),
             |pool AS (SELECT query_id, doc_id, rrf_score AS rel FROM (
             |    SELECT query_id, doc_id, rrf_score,
             |      row_number() OVER (PARTITION BY query_id
             |                         ORDER BY rrf_score DESC, doc_id)
             |        AS rn
             |    FROM f)
             |  WHERE rn <= 20),
             |vn AS (SELECT vec_id AS doc_id,
             |    list_transform(embedding, x ->
             |      CASE WHEN nrm > 0 THEN CAST(x AS DOUBLE) / nrm
             |           ELSE CAST(x AS DOUBLE) END) AS v
             |  FROM (SELECT vec_id, embedding,
             |      sqrt(list_aggregate(list_transform(embedding,
             |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
             |        'sum')) AS nrm
             |    FROM embeddings)),
             |c0 AS (SELECT p.query_id, p.doc_id, p.rel, vn.v
             |  FROM pool p JOIN vn USING (doc_id)),
             |p1 AS (SELECT query_id, doc_id, v,
             |    CAST(0.7 AS DOUBLE) * rel AS mmr FROM (
             |    SELECT *, row_number() OVER (PARTITION BY query_id
             |        ORDER BY CAST(0.7 AS DOUBLE) * rel DESC, doc_id)
             |      AS rn
             |    FROM c0) WHERE rn = 1),
             |m1 AS (SELECT c0.query_id, c0.doc_id, c0.rel, c0.v,
             |    greatest(CAST(0 AS DOUBLE),
             |      list_aggregate(list_transform(c0.v,
             |        (x, i) -> x * p1.v[i]), 'sum')) AS ms
             |  FROM c0 JOIN p1 ON c0.query_id = p1.query_id
             |    AND c0.doc_id <> p1.doc_id),
             |p2 AS (SELECT query_id, doc_id, v, ms,
             |    CAST(0.7 AS DOUBLE) * rel
             |      - CAST(0.3 AS DOUBLE) * ms AS mmr FROM (
             |    SELECT *, row_number() OVER (PARTITION BY query_id
             |        ORDER BY CAST(0.7 AS DOUBLE) * rel
             |          - CAST(0.3 AS DOUBLE) * ms DESC, doc_id) AS rn
             |    FROM m1) WHERE rn = 1),
             |m2 AS (SELECT m1.query_id, m1.doc_id, m1.rel,
             |    greatest(m1.ms,
             |      list_aggregate(list_transform(m1.v,
             |        (x, i) -> x * p2.v[i]), 'sum')) AS ms
             |  FROM m1 JOIN p2 ON m1.query_id = p2.query_id
             |    AND m1.doc_id <> p2.doc_id),
             |p3 AS (SELECT query_id, doc_id,
             |    CAST(0.7 AS DOUBLE) * rel
             |      - CAST(0.3 AS DOUBLE) * ms AS mmr FROM (
             |    SELECT *, row_number() OVER (PARTITION BY query_id
             |        ORDER BY CAST(0.7 AS DOUBLE) * rel
             |          - CAST(0.3 AS DOUBLE) * ms DESC, doc_id) AS rn
             |    FROM m2) WHERE rn = 1)
             |SELECT query_id, doc_id, round(mmr, 6) + 0 AS mmr,
             |  CAST(1 AS BIGINT) AS rank FROM p1
             |UNION ALL SELECT query_id, doc_id, round(mmr, 6) + 0,
             |  CAST(2 AS BIGINT) FROM p2
             |UNION ALL SELECT query_id, doc_id, round(mmr, 6) + 0,
             |  CAST(3 AS BIGINT) FROM p3""".stripMargin)),

    Q("q_bm25_filtered", // FILTERED lexical retrieval (r16 verdict
      // #1): the metadata predicate restricts WHICH docs compete
      // BEFORE the per-query top-k, with FULL-corpus statistics (the
      // Lucene filter-context semantics — df/N/avgdl from the whole
      // collection, so a doc's score equals its unfiltered score).
      // Planted data (the q_ivf_filtered design on the lexical tier):
      // 12 copies of docs 10..21 — all matching query vocabulary —
      // carry the otherwise-nonexistent lang 'zz'; k=10 with only ~a
      // handful of zz docs per query's terms means post-filtering an
      // unfiltered top-10 would surface almost nothing (spec-pinned
      // failure mode). FULL differential oracle: the q_bm25_batch CTE
      // chain over the union corpus, candidates restricted to 'zz'
      // after df/stats.
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("text"), col("lang"))
        val corpus = docs.unionByName(
          docs.filter(col("doc_id").between(10, 21))
            .select((col("doc_id") + 1000000L).as("doc_id"),
              col("text"), lit("zz").as("lang")))
        val qs = Seq(
          (0L, "hash join window scan"),
          (1L, "sort merge batch"),
          (2L, "dup stream"),
          (3L, "qqqnomatchqqq")).toDF("query_id", "query_text")
        CorpusOps.bm25TopKBatch(corpus, "doc_id", "text",
          qs, "query_id", "query_text", k = 10, Some(col("lang") === "zz"))
      },
      Some(bm25FilteredOracleSql)),

    Q("q_bm25_indexed_filtered", // the INDEXED face of
      // q_bm25_filtered: metadata rides the posting rows
      // (buildBm25Index extraCols), the predicate runs on the pruned
      // posting slice before scoring, df/stats stay as built — per
      // query IDENTICAL to the direct filtered operator, so the
      // oracle is q_bm25_filtered's VERBATIM. What changes is the
      // scan: partition-pruned posting leaves instead of a corpus
      // tokenize+explode.
      (s, d) => {
        import s.implicits._
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_bm25f_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("text"), col("lang"))
        val corpus = docs.unionByName(
          docs.filter(col("doc_id").between(10, 21))
            .select((col("doc_id") + 1000000L).as("doc_id"),
              col("text"), lit("zz").as("lang")))
        CorpusOps.buildBm25Index(corpus, "doc_id", "text", dir,
          extraCols = Seq("lang"))
        val qs = Seq(
          (0L, "hash join window scan"),
          (1L, "sort merge batch"),
          (2L, "dup stream"),
          (3L, "qqqnomatchqqq")).toDF("query_id", "query_text")
        CorpusOps.bm25TopKIndexed(s, dir, qs, "query_id",
            "query_text", k = 10, Some(col("lang") === "zz"))
          .select(col("query_id"), col("id").as("doc_id"), col("bm25"),
            col("n_terms"))
      },
      Some(bm25FilteredOracleSql)),

    Q("q_search_filtered", // FILTERED hybrid retrieval — "hybrid
      // search WHERE label = X" with BOTH legs filtered pre-top-k
      // (r16 verdict #1): the lexical leg restricts candidates inside
      // the BM25 scoring pass (full-corpus stats), the semantic leg
      // is a pre-filtered exact cosine ranking (the brute baseline of
      // the filtered ANN probes), and the planted ids coincide
      // (+1000000 on both tables) so fused rows hit n_signals=2. The
      // oracle chains the filtered CTE variants of q_search_batch's
      // two legs through the same per-query RRF.
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("text"), col("lang"))
        val corpus = docs.unionByName(
          docs.filter(col("doc_id").between(10, 21))
            .select((col("doc_id") + 1000000L).as("doc_id"),
              col("text"), lit("zz").as("lang")))
        val qs = Seq(
          (0L, "hash join window scan"),
          (1L, "sort merge batch"),
          (2L, "dup stream"),
          (3L, "qqqnomatchqqq")).toDF("query_id", "query_text")
        val emb = t(s, d, "embeddings")
        val plantedEmb = emb.filter(col("vec_id").between(10, 21))
          .select((col("vec_id") + 1000000L).as("vec_id"),
            col("embedding"), lit(99).as("label"))
        // the semantic leg arrives ALREADY filtered (its filter runs
        // inside the probe that owns the metadata — at scale,
        // ivfProbe with a predicate; here the exact brute twin)
        val sem = Similarity.cosineTopKBatch(
          plantedEmb.filter(col("label") === 99), "vec_id", "embedding",
          emb.filter(col("vec_id") < 4)
            .select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", k = 50)
        CorpusOps.searchPipelineBatch(corpus, "doc_id", "text",
          qs, "query_id", "query_text", sem, "qid", "id", "cos_sim",
          k = 10, candidates = 50, predicate = Some(col("lang") === "zz"))
      },
      Some(searchFilteredOracleSql)),

    Q("q_search_filtered_diversified", // the FILTERED diversified
      // pipeline (both legs pre-top-k, then MMR) gated in a
      // NON-degenerate case — the q_search_filtered planted design
      // through the q_search_diversified unrolled-greedy oracle:
      // lambda=0.7, k=3 picks over the filtered fused top-20 pool
      // (both legs depth 20); the MMR vectors are the planted
      // embeddings (they cover every filtered candidate id by
      // construction, which the operator's coverage guard enforces).
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("text"), col("lang"))
        val corpus = docs.unionByName(
          docs.filter(col("doc_id").between(10, 21))
            .select((col("doc_id") + 1000000L).as("doc_id"),
              col("text"), lit("zz").as("lang")))
        val qs = Seq(
          (0L, "hash join window scan"),
          (1L, "sort merge batch"),
          (2L, "dup stream"),
          (3L, "qqqnomatchqqq")).toDF("query_id", "query_text")
        val emb = t(s, d, "embeddings")
        val plantedEmb = emb.filter(col("vec_id").between(10, 21))
          .select((col("vec_id") + 1000000L).as("vec_id"),
            col("embedding"))
        val sem = Similarity.cosineTopKBatch(plantedEmb, "vec_id",
          "embedding",
          emb.filter(col("vec_id") < 4)
            .select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", k = 20)
        CorpusOps.searchPipelineBatch(corpus,
            "doc_id", "text", qs, "query_id", "query_text",
            sem, "qid", "id", "cos_sim", k = 3, candidates = 20,
            predicate = Some(col("lang") === "zz"),
            mmr = Some(CorpusOps.Mmr(plantedEmb, "vec_id", "embedding",
              0.7)))
          .select(col("query_id"), col("doc_id"),
            (round(col("mmr"), 6) + lit(0.0d)).as("mmr"), col("rank"))
      },
      Some("""WITH qraw AS (SELECT * FROM (VALUES
             |    (CAST(0 AS BIGINT), 'hash join window scan'),
             |    (CAST(1 AS BIGINT), 'sort merge batch'),
             |    (CAST(2 AS BIGINT), 'dup stream'),
             |    (CAST(3 AS BIGINT), 'qqqnomatchqqq'))
             |  AS v(query_id, query_text)),
             |q AS (SELECT DISTINCT query_id, tok FROM (
             |  SELECT query_id,
             |    unnest(string_split_regex(trim(query_text), '\s+'))
             |      AS tok
             |  FROM qraw)),
             |d0 AS (SELECT doc_id, text, lang FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000, text, 'zz' FROM documents
             |  WHERE doc_id BETWEEN 10 AND 21),
             |d AS (SELECT doc_id, lang,
             |    string_split_regex(trim(text), '\s+') AS toks
             |  FROM d0
             |  WHERE text IS NOT NULL AND trim(text) <> ''),
             |lens AS (SELECT doc_id, len(toks) AS dl FROM d),
             |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             |    avg(dl) AS avgdl FROM lens),
             |t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
             |  WHERE tok IN (SELECT DISTINCT tok FROM q)
             |  GROUP BY 1, 2),
             |dfr AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
             |allowed AS (SELECT doc_id FROM d WHERE lang = 'zz'),
             |contrib AS (SELECT tf.doc_id, tf.tok,
             |    ln((stats.n - dfr.df + CAST(0.5 AS DOUBLE))
             |          / (dfr.df + CAST(0.5 AS DOUBLE))
             |          + CAST(1.0 AS DOUBLE))
             |      * tf.tf
             |      * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
             |      / (tf.tf + CAST(1.2 AS DOUBLE)
             |          * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
             |            + CAST(0.75 AS DOUBLE) * lens.dl
             |              / stats.avgdl)) AS c
             |  FROM tf JOIN dfr USING (tok) JOIN lens USING (doc_id)
             |  CROSS JOIN stats),
             |sc AS (SELECT q.query_id, contrib.doc_id,
             |    round(sum(contrib.c), 4) + 0 AS bm25
             |  FROM contrib JOIN q ON q.tok = contrib.tok
             |  JOIN allowed ON allowed.doc_id = contrib.doc_id
             |  GROUP BY 1, 2),
             |lex AS (SELECT query_id, doc_id, bm25 FROM (
             |    SELECT query_id, doc_id, bm25,
             |      row_number() OVER (PARTITION BY query_id
             |                         ORDER BY bm25 DESC, doc_id) AS rn
             |    FROM sc)
             |  WHERE rn <= 20),
             |qv AS (SELECT vec_id AS qid, embedding AS vq
             |  FROM embeddings WHERE vec_id < 4),
             |pe AS (SELECT CAST(vec_id + 1000000 AS BIGINT) AS id,
             |    embedding
             |  FROM embeddings WHERE vec_id BETWEEN 10 AND 21),
             |semsc AS (SELECT qv.qid, e.id,
             |  round(list_aggregate(list_transform(e.embedding,
             |    (x, i) -> CAST(x AS DOUBLE) * CAST(qv.vq[i] AS DOUBLE)),
             |    'sum')
             |  / (sqrt(list_aggregate(list_transform(e.embedding,
             |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
             |   * sqrt(list_aggregate(list_transform(qv.vq,
             |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))),
             |    6) + 0 AS s
             |  FROM pe e JOIN qv ON e.id <> qv.qid),
             |sem AS (SELECT qid AS query_id, id AS doc_id, s FROM (
             |    SELECT qid, id, s,
             |      row_number() OVER (PARTITION BY qid
             |                         ORDER BY s DESC, id) AS rn
             |    FROM semsc)
             |  WHERE rn <= 20),
             |r1 AS (SELECT query_id, doc_id,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY bm25 DESC, doc_id) AS r
             |  FROM lex),
             |r2 AS (SELECT query_id, doc_id,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY s DESC, doc_id) AS r
             |  FROM sem),
             |u AS (SELECT query_id, doc_id, r FROM r1
             |      UNION ALL SELECT query_id, doc_id, r FROM r2),
             |f AS (SELECT query_id, doc_id,
             |    round(sum(CAST(1.0 AS DOUBLE)
             |      / (CAST(60.0 AS DOUBLE) + r)), 6) + 0 AS rrf_score
             |  FROM u GROUP BY 1, 2),
             |pool AS (SELECT query_id, doc_id, rrf_score AS rel FROM (
             |    SELECT query_id, doc_id, rrf_score,
             |      row_number() OVER (PARTITION BY query_id
             |                         ORDER BY rrf_score DESC, doc_id)
             |        AS rn
             |    FROM f)
             |  WHERE rn <= 20),
             |vn AS (SELECT id AS doc_id,
             |    list_transform(embedding, x ->
             |      CASE WHEN nrm > 0 THEN CAST(x AS DOUBLE) / nrm
             |           ELSE CAST(x AS DOUBLE) END) AS v
             |  FROM (SELECT id, embedding,
             |      sqrt(list_aggregate(list_transform(embedding,
             |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
             |        'sum')) AS nrm
             |    FROM pe)),
             |c0 AS (SELECT p.query_id, p.doc_id, p.rel, vn.v
             |  FROM pool p JOIN vn USING (doc_id)),
             |p1 AS (SELECT query_id, doc_id, v,
             |    CAST(0.7 AS DOUBLE) * rel AS mmr FROM (
             |    SELECT *, row_number() OVER (PARTITION BY query_id
             |        ORDER BY CAST(0.7 AS DOUBLE) * rel DESC, doc_id)
             |      AS rn
             |    FROM c0) WHERE rn = 1),
             |m1 AS (SELECT c0.query_id, c0.doc_id, c0.rel, c0.v,
             |    greatest(CAST(0 AS DOUBLE),
             |      list_aggregate(list_transform(c0.v,
             |        (x, i) -> x * p1.v[i]), 'sum')) AS ms
             |  FROM c0 JOIN p1 ON c0.query_id = p1.query_id
             |    AND c0.doc_id <> p1.doc_id),
             |p2 AS (SELECT query_id, doc_id, v, ms,
             |    CAST(0.7 AS DOUBLE) * rel
             |      - CAST(0.3 AS DOUBLE) * ms AS mmr FROM (
             |    SELECT *, row_number() OVER (PARTITION BY query_id
             |        ORDER BY CAST(0.7 AS DOUBLE) * rel
             |          - CAST(0.3 AS DOUBLE) * ms DESC, doc_id) AS rn
             |    FROM m1) WHERE rn = 1),
             |m2 AS (SELECT m1.query_id, m1.doc_id, m1.rel,
             |    greatest(m1.ms,
             |      list_aggregate(list_transform(m1.v,
             |        (x, i) -> x * p2.v[i]), 'sum')) AS ms
             |  FROM m1 JOIN p2 ON m1.query_id = p2.query_id
             |    AND m1.doc_id <> p2.doc_id),
             |p3 AS (SELECT query_id, doc_id,
             |    CAST(0.7 AS DOUBLE) * rel
             |      - CAST(0.3 AS DOUBLE) * ms AS mmr FROM (
             |    SELECT *, row_number() OVER (PARTITION BY query_id
             |        ORDER BY CAST(0.7 AS DOUBLE) * rel
             |          - CAST(0.3 AS DOUBLE) * ms DESC, doc_id) AS rn
             |    FROM m2) WHERE rn = 1)
             |SELECT query_id, doc_id, round(mmr, 6) + 0 AS mmr,
             |  CAST(1 AS BIGINT) AS rank FROM p1
             |UNION ALL SELECT query_id, doc_id, round(mmr, 6) + 0,
             |  CAST(2 AS BIGINT) FROM p2
             |UNION ALL SELECT query_id, doc_id, round(mmr, 6) + 0,
             |  CAST(3 AS BIGINT) FROM p3""".stripMargin)),

    Q("q_search_filtered_single", // the SINGLE-query filtered hybrid
      // call (searchPipeline with a predicate, r17 verdict #7): it
      // delegates to the batch operator with a one-row query table,
      // so per query it IS q_search_filtered's result for query 0 —
      // the oracle is that query's slice of the shared filtered-
      // pipeline SQL, reshaped to the single-query output contract.
      (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("text"), col("lang"))
        val corpus = docs.unionByName(
          docs.filter(col("doc_id").between(10, 21))
            .select((col("doc_id") + 1000000L).as("doc_id"),
              col("text"), lit("zz").as("lang")))
        val emb = t(s, d, "embeddings")
        val plantedEmb = emb.filter(col("vec_id").between(10, 21))
          .select((col("vec_id") + 1000000L).as("vec_id"),
            col("embedding"))
        val sem = Similarity.cosineTopKBatch(plantedEmb, "vec_id",
          "embedding",
          emb.filter(col("vec_id") === 0L)
            .select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", k = 50)
        CorpusOps.searchPipeline(corpus, "doc_id", "text",
          Seq("hash", "join", "window", "scan"),
          sem.select(col("id"), col("cos_sim")), "id", "cos_sim",
          k = 10, candidates = 50, predicate = Some(col("lang") === "zz"))
      },
      Some(s"""SELECT doc_id, n_signals, rrf_score, rank
              |FROM ($searchFilteredOracleSql) t
              |WHERE query_id = 0""".stripMargin)),

    Q("q_search_filtered_indexed", // the FULLY-INDEXED filtered
      // hybrid stack: filtered BM25 candidates off the posting index
      // (metadata on the posting rows) fused with filtered ANN
      // candidates off the centroid-IVF index (metadata on the index
      // rows, DataFrame-coordinated widening) through per-query RRF —
      // the complete at-scale answer to "hybrid search WHERE
      // label = X", nothing scanning a raw corpus. Per query it
      // equals the DIRECT filtered pipeline exactly (bm25 by the
      // indexed == direct law; the IVF leg widens to full coverage on
      // the planted rare label, so it IS the brute filtered ranking),
      // hence q_search_filtered's oracle VERBATIM.
      (s, d) => {
        import s.implicits._
        val root = s"${System.getProperty("java.io.tmpdir")}/graft_sfi_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}"
        TempDirs.deleteOnExit(new java.io.File(root))
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("text"), col("lang"))
        val corpus = docs.unionByName(
          docs.filter(col("doc_id").between(10, 21))
            .select((col("doc_id") + 1000000L).as("doc_id"),
              col("text"), lit("zz").as("lang")))
        val emb = t(s, d, "embeddings")
        val corpusEmb = emb
          .select(col("vec_id"), col("embedding"), col("label"))
          .unionByName(emb.filter(col("vec_id").between(10, 21))
            .select((col("vec_id") + 1000000L).as("vec_id"),
              col("embedding"), lit(99).as("label")))
        if (!new java.io.File(s"$root/bm25", "_SUCCESS").exists())
          CorpusOps.buildBm25Index(corpus, "doc_id", "text",
            s"$root/bm25", extraCols = Seq("lang"))
        if (!new java.io.File(s"$root/ivf", "_SUCCESS").exists())
          Similarity.ivfBuild(corpusEmb, "vec_id", "embedding", s"$root/ivf",
            nCells = 8, iters = 3, extraCols = Seq("label"))
        val qs = Seq(
          (0L, "hash join window scan"),
          (1L, "sort merge batch"),
          (2L, "dup stream"),
          (3L, "qqqnomatchqqq")).toDF("query_id", "query_text")
        val lex = CorpusOps.bm25TopKIndexed(s, s"$root/bm25",
            qs, "query_id", "query_text", k = 50, Some(col("lang") === "zz"))
          .select(col("query_id"), col("id").as("doc_id"), col("bm25"))
        val sem = Similarity.ivfProbe(s, s"$root/ivf",
            emb.filter(col("vec_id") < 4)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 50, probes = 1, Some(col("label") === 99))
          .select(col("qid").as("query_id"), col("id").as("doc_id"),
            col("cos_sim"))
        CorpusOps.rrfTopKGrouped(Map(
            "lexical" -> ((lex, "bm25")),
            "semantic" -> ((sem, "cos_sim"))),
          "query_id", "doc_id", k = 10)
      },
      Some(searchFilteredOracleSql)),

    Q("q_nb_quality", // hashed-feature multinomial Naive Bayes — the
      // trained model-based quality/domain filter (DCLM / fastText
      // recipe member). Closed-form training makes the MODEL itself
      // oracle-reproducible: train on the even-doc_id half (lang as
      // the class label), score the held-out odd half, emit the argmax
      // class + its log-joint. md5-bucket hashing (the DSIR feature
      // convention) so DuckDB buckets identically; scores round-4
      // BEFORE the argmax so the winner is decided over identical
      // numbers on both engines (ties break to the smaller label).
      (s, d) => {
        val docs = t(s, d, "documents")
        val model = CorpusOps.trainNbQuality(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", "lang",
          numBuckets = 4096, alpha = 1.0)
        CorpusOps.nbScore(docs.filter(col("doc_id") % 2 === 1), model,
          "doc_id", "text")
      },
      Some("""WITH tr AS (SELECT lang AS label,
             |    string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents
             |  WHERE doc_id % 2 = 0 AND lang IS NOT NULL
             |    AND text IS NOT NULL AND trim(text) <> ''),
             |f AS (SELECT label, unnest(toks) AS tok FROM tr),
             |fb AS (SELECT label,
             |    ('0x' || substr(md5(tok), 1, 8))::UBIGINT % 4096 AS b
             |  FROM f),
             |cnt AS (SELECT label, b, count(*) AS n FROM fb GROUP BY 1, 2),
             |ct AS (SELECT label, count(*) AS nc FROM fb GROUP BY 1),
             |dc AS (SELECT label, count(*) AS dcnt FROM tr GROUP BY 1),
             |dall AS (SELECT CAST(sum(dcnt) AS DOUBLE) AS dall FROM dc),
             |model AS (SELECT c.label, c.b,
             |    ln((c.n + CAST(1.0 AS DOUBLE))
             |       / (ct.nc + CAST(4096.0 AS DOUBLE))) AS log_cond,
             |    ln(CAST(dc.dcnt AS DOUBLE) / dall.dall) AS log_prior,
             |    ln(CAST(1.0 AS DOUBLE)
             |       / (ct.nc + CAST(4096.0 AS DOUBLE))) AS log_default
             |  FROM cnt c JOIN ct USING (label) JOIN dc USING (label)
             |  CROSS JOIN dall),
             |te AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents
             |  WHERE doc_id % 2 = 1
             |    AND text IS NOT NULL AND trim(text) <> ''),
             |tf AS (SELECT doc_id, unnest(toks) AS tok FROM te),
             |tb AS (SELECT doc_id,
             |    ('0x' || substr(md5(tok), 1, 8))::UBIGINT % 4096 AS b,
             |    count(*) AS cnt
             |  FROM tf GROUP BY 1, 2),
             |tt AS (SELECT doc_id, sum(cnt) AS tcount FROM tb GROUP BY 1),
             |cls AS (SELECT DISTINCT label, log_prior, log_default
             |  FROM model),
             |seen AS (SELECT tb.doc_id, m.label,
             |    sum(tb.cnt * (m.log_cond - m.log_default)) AS adj
             |  FROM tb JOIN model m ON m.b = tb.b GROUP BY 1, 2),
             |sc AS (SELECT tt.doc_id, c.label,
             |    round(c.log_prior
             |      + CAST(tt.tcount AS DOUBLE) * c.log_default
             |      + coalesce(s.adj, CAST(0 AS DOUBLE)), 4) + 0 AS score
             |  FROM tt CROSS JOIN cls c
             |  LEFT JOIN seen s
             |    ON s.doc_id = tt.doc_id AND s.label = c.label),
             |top AS (SELECT doc_id, label, score,
             |    row_number() OVER (PARTITION BY doc_id
             |                       ORDER BY score DESC, label) AS rn
             |  FROM sc)
             |SELECT doc_id, label AS pred_label, score AS nb_log_score
             |FROM top WHERE rn = 1""".stripMargin),
      headline = true),

    Q("q_nb_stream_exec", // STREAMING EXECUTION gate: model-based
      // quality filtering at ingest — the batch-trained NB model
      // (even-doc_id half, lang labels) scores EVERY document arriving
      // through the incremental engine. Scoring is per-doc stateless
      // given the broadcast model, so the drained output equals the
      // batch scorer over the whole corpus — the oracle is
      // q_nb_quality's closed form without the held-out filter.
      (s, d) => {
        val dir = scratchDir("graft-stream-nb")
        val docs = t(s, d, "documents")
        val model = CorpusOps.trainNbQuality(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", "lang",
          numBuckets = 4096, alpha = 1.0)
        EventStreams.nbScoreAvailableNow(
          s, s"$d/documents.parquet", "doc_id", col("text"), model,
          s"$dir/out", s"$dir/ckpt")
      },
      Some("""WITH tr AS (SELECT lang AS label,
             |    string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents
             |  WHERE doc_id % 2 = 0 AND lang IS NOT NULL
             |    AND text IS NOT NULL AND trim(text) <> ''),
             |f AS (SELECT label, unnest(toks) AS tok FROM tr),
             |fb AS (SELECT label,
             |    ('0x' || substr(md5(tok), 1, 8))::UBIGINT % 4096 AS b
             |  FROM f),
             |cnt AS (SELECT label, b, count(*) AS n FROM fb GROUP BY 1, 2),
             |ct AS (SELECT label, count(*) AS nc FROM fb GROUP BY 1),
             |dc AS (SELECT label, count(*) AS dcnt FROM tr GROUP BY 1),
             |dall AS (SELECT CAST(sum(dcnt) AS DOUBLE) AS dall FROM dc),
             |model AS (SELECT c.label, c.b,
             |    ln((c.n + CAST(1.0 AS DOUBLE))
             |       / (ct.nc + CAST(4096.0 AS DOUBLE))) AS log_cond,
             |    ln(CAST(dc.dcnt AS DOUBLE) / dall.dall) AS log_prior,
             |    ln(CAST(1.0 AS DOUBLE)
             |       / (ct.nc + CAST(4096.0 AS DOUBLE))) AS log_default
             |  FROM cnt c JOIN ct USING (label) JOIN dc USING (label)
             |  CROSS JOIN dall),
             |te AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''),
             |tf AS (SELECT doc_id, unnest(toks) AS tok FROM te),
             |tb AS (SELECT doc_id,
             |    ('0x' || substr(md5(tok), 1, 8))::UBIGINT % 4096 AS b,
             |    count(*) AS cnt
             |  FROM tf GROUP BY 1, 2),
             |tt AS (SELECT doc_id, sum(cnt) AS tcount FROM tb GROUP BY 1),
             |cls AS (SELECT DISTINCT label, log_prior, log_default
             |  FROM model),
             |seen AS (SELECT tb.doc_id, m.label,
             |    sum(tb.cnt * (m.log_cond - m.log_default)) AS adj
             |  FROM tb JOIN model m ON m.b = tb.b GROUP BY 1, 2),
             |sc AS (SELECT tt.doc_id, c.label,
             |    round(c.log_prior
             |      + CAST(tt.tcount AS DOUBLE) * c.log_default
             |      + coalesce(s.adj, CAST(0 AS DOUBLE)), 4) + 0 AS score
             |  FROM tt CROSS JOIN cls c
             |  LEFT JOIN seen s
             |    ON s.doc_id = tt.doc_id AND s.label = c.label),
             |top AS (SELECT doc_id, label, score,
             |    row_number() OVER (PARTITION BY doc_id
             |                       ORDER BY score DESC, label) AS rn
             |  FROM sc)
             |SELECT doc_id, label AS pred_label, score AS nb_log_score
             |FROM top WHERE rn = 1""".stripMargin)),

    Q("q_nb_quality_sep", // the DISCRIMINATIVE NB gate (r14 verdict #2):
      // q_nb_quality's lang labels are text-decorrelated on this
      // corpus, so the prior dominates and every doc predicts one
      // class — the likelihood path was gated only by a planted unit
      // spec. Here the label IS a deterministic function of the text
      // (docs containing the corpus's one rare token 'dup' — 5% of
      // docs at every SF — vs the rest), so the oracle recomputes the
      // labels, and the PRIOR alone (ln 0.05 vs ln 0.95) would send
      // every doc to 'clean': any 'dupish' prediction is the
      // likelihood overriding the prior. alpha = 2^-10 (exact binary,
      // alpha*B = 4.0 exactly) keeps the smoothing asymmetry between
      // the small and large class totals from swamping the planted
      // token's evidence (with alpha = 1 the 4096-bucket Laplace mass
      // flattens the minority class and 'clean' wins everywhere —
      // measured in CorpusOpsSpec's planted-prior spec). Emits the
      // per-doc LOG-ODDS (dupish - clean, round 4) so the gate
      // hash-pins the likelihood arithmetic itself, not just the
      // argmax; ties break to 'clean' on the rounded values.
      (s, d) => {
        val docs = t(s, d, "documents")
          .withColumn("__label",
            when(array_contains(tokens(col("text")), "dup"), "dupish")
              .otherwise("clean"))
        val model = CorpusOps.trainNbQuality(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
          "__label", numBuckets = 4096, alpha = 0.0009765625)
        CorpusOps.nbScoreAll(docs.filter(col("doc_id") % 2 === 1), model,
            "doc_id", "text")
          .groupBy(col("doc_id"))
          .agg(
            max(when(col("label") === "dupish", col("nb_log_score")))
              .as("__sd"),
            max(when(col("label") === "clean", col("nb_log_score")))
              .as("__sc"))
          .select(col("doc_id"),
            when(col("__sd") > col("__sc"), "dupish").otherwise("clean")
              .as("pred_label"),
            (round(col("__sd") - col("__sc"), 4) + lit(0.0d))
              .as("log_odds"))
      },
      Some("""WITH lab AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks,
             |    CASE WHEN list_contains(
             |        string_split_regex(trim(text), '\s+'), 'dup')
             |      THEN 'dupish' ELSE 'clean' END AS label
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''),
             |tr AS (SELECT label, toks FROM lab WHERE doc_id % 2 = 0),
             |f AS (SELECT label, unnest(toks) AS tok FROM tr),
             |fb AS (SELECT label,
             |    ('0x' || substr(md5(tok), 1, 8))::UBIGINT % 4096 AS b
             |  FROM f),
             |cnt AS (SELECT label, b, count(*) AS n FROM fb GROUP BY 1, 2),
             |ct AS (SELECT label, count(*) AS nc FROM fb GROUP BY 1),
             |dc AS (SELECT label, count(*) AS dcnt FROM tr GROUP BY 1),
             |dall AS (SELECT CAST(sum(dcnt) AS DOUBLE) AS dall FROM dc),
             |model AS (SELECT c.label, c.b,
             |    ln((c.n + CAST(0.0009765625 AS DOUBLE))
             |       / (ct.nc + CAST(4.0 AS DOUBLE))) AS log_cond,
             |    ln(CAST(dc.dcnt AS DOUBLE) / dall.dall) AS log_prior,
             |    ln(CAST(0.0009765625 AS DOUBLE)
             |       / (ct.nc + CAST(4.0 AS DOUBLE))) AS log_default
             |  FROM cnt c JOIN ct USING (label) JOIN dc USING (label)
             |  CROSS JOIN dall),
             |te AS (SELECT doc_id, toks FROM lab WHERE doc_id % 2 = 1),
             |tf AS (SELECT doc_id, unnest(toks) AS tok FROM te),
             |tb AS (SELECT doc_id,
             |    ('0x' || substr(md5(tok), 1, 8))::UBIGINT % 4096 AS b,
             |    count(*) AS cnt
             |  FROM tf GROUP BY 1, 2),
             |tt AS (SELECT doc_id, sum(cnt) AS tcount FROM tb GROUP BY 1),
             |cls AS (SELECT DISTINCT label, log_prior, log_default
             |  FROM model),
             |seen AS (SELECT tb.doc_id, m.label,
             |    sum(tb.cnt * (m.log_cond - m.log_default)) AS adj
             |  FROM tb JOIN model m ON m.b = tb.b GROUP BY 1, 2),
             |sc AS (SELECT tt.doc_id, c.label,
             |    round(c.log_prior
             |      + CAST(tt.tcount AS DOUBLE) * c.log_default
             |      + coalesce(s.adj, CAST(0 AS DOUBLE)), 4) + 0 AS score
             |  FROM tt CROSS JOIN cls c
             |  LEFT JOIN seen s
             |    ON s.doc_id = tt.doc_id AND s.label = c.label),
             |pv AS (SELECT doc_id,
             |    max(CASE WHEN label = 'dupish' THEN score END) AS sd,
             |    max(CASE WHEN label = 'clean' THEN score END) AS scl
             |  FROM sc GROUP BY 1)
             |SELECT doc_id,
             |  CASE WHEN sd > scl THEN 'dupish' ELSE 'clean' END
             |    AS pred_label,
             |  round(sd - scl, 4) + 0 AS log_odds
             |FROM pv""".stripMargin)),

    Q("q_dsir_weights", // DSIR importance weights (Xie et al. 2023):
      // per-doc sum of ln p_target(bucket) - ln p_raw(bucket) over
      // hashed unigram+bigram features (add-one smoothing, 4096
      // buckets); target distribution = the English slice of the
      // corpus. md5-bucket hashing so DuckDB hashes features
      // identically; logw rounded to 4 (sum-order float hazard, house
      // register).
      (s, d) => {
        val docs = t(s, d, "documents")
        CorpusOps.dsirLogWeights(docs, "doc_id", "text",
          docs.filter(col("lang") === "en"), "text", buckets = 4096)
      },
      Some("""WITH d AS (
             |  SELECT doc_id, lang,
             |    string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
             |f AS (
             |  SELECT doc_id, lang, unnest(list_concat(toks,
             |      list_filter(list_transform(toks,
             |        (x, i) -> CASE WHEN i < len(toks)
             |          THEN x || ' ' || toks[i+1] END),
             |        y -> y IS NOT NULL))) AS g
             |  FROM d),
             |fb AS (SELECT doc_id, lang,
             |    ('0x' || substr(md5(g), 1, 8))::UBIGINT % 4096 AS b
             |  FROM f),
             |ct AS (SELECT b, count(*) AS ct FROM fb
             |  WHERE lang = 'en' GROUP BY 1),
             |cr AS (SELECT b, count(*) AS cr FROM fb GROUP BY 1),
             |tot AS (SELECT
             |    CAST((SELECT count(*) FROM fb WHERE lang = 'en')
             |      AS DOUBLE) AS tt,
             |    CAST((SELECT count(*) FROM fb) AS DOUBLE) AS tr),
             |lr AS (SELECT b,
             |    ln((coalesce(ct, 0) + 1.0) / (tt + 4096.0)) -
             |    ln((cr + 1.0) / (tr + 4096.0)) AS lr
             |  FROM cr LEFT JOIN ct USING (b) CROSS JOIN tot)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
             |  round(sum(lr), 4) + 0 AS logw
             |FROM fb JOIN lr USING (b) GROUP BY 1""".stripMargin)),

    Q("q_dsir_sample", // DSIR resampling: Gumbel top-k over the
      // importance logits = weighted draw without replacement with
      // p ~ importance weight (the log-space twin of
      // q_weighted_sample's A-ES keys). Deterministic md5-derived
      // Gumbel, so the oracle draws the identical sample; selection
      // ordering is the documented float surface at the rank-k
      // boundary.
      (s, d) => {
        val docs = t(s, d, "documents")
        CorpusOps.dsirResample(docs, "doc_id", "text",
          docs.filter(col("lang") === "en"), "text", k = 100,
          buckets = 4096)
      },
      Some("""WITH d AS (
             |  SELECT doc_id, lang,
             |    string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
             |f AS (
             |  SELECT doc_id, lang, unnest(list_concat(toks,
             |      list_filter(list_transform(toks,
             |        (x, i) -> CASE WHEN i < len(toks)
             |          THEN x || ' ' || toks[i+1] END),
             |        y -> y IS NOT NULL))) AS g
             |  FROM d),
             |fb AS (SELECT doc_id, lang,
             |    ('0x' || substr(md5(g), 1, 8))::UBIGINT % 4096 AS b
             |  FROM f),
             |ct AS (SELECT b, count(*) AS ct FROM fb
             |  WHERE lang = 'en' GROUP BY 1),
             |cr AS (SELECT b, count(*) AS cr FROM fb GROUP BY 1),
             |tot AS (SELECT
             |    CAST((SELECT count(*) FROM fb WHERE lang = 'en')
             |      AS DOUBLE) AS tt,
             |    CAST((SELECT count(*) FROM fb) AS DOUBLE) AS tr),
             |lr AS (SELECT b,
             |    ln((coalesce(ct, 0) + 1.0) / (tt + 4096.0)) -
             |    ln((cr + 1.0) / (tr + 4096.0)) AS lr
             |  FROM cr LEFT JOIN ct USING (b) CROSS JOIN tot),
             |w AS (SELECT doc_id, count(*) AS nf, sum(lr) AS lw
             |  FROM fb JOIN lr USING (b) GROUP BY 1)
             |SELECT doc_id, CAST(nf AS BIGINT) AS n_feats,
             |  round(lw, 4) + 0 AS logw
             |FROM w
             |ORDER BY lw + (-ln(-ln(
             |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
             |      ::UBIGINT + 0.5) / 4294967296.0))) DESC, doc_id
             |LIMIT 100""".stripMargin)),

    Q("q_para_dedup", // keep-FIRST paragraph dedup (the RefinedWeb
      // line pass; q_boilerplate's C4 recipe drops EVERY occurrence of
      // frequent lines — this keeps exactly one, at the lexicographic
      // min (doc, pos)). Same derived multi-line corpus as
      // q_boilerplate: ' the ' becomes a line break, so short repeated
      // lines exist naturally.
      (s, d) => CorpusOps.dropRepeatedParagraphs(
        t(s, d, "documents")
          .select(col("doc_id"),
            regexp_replace(col("text"), " the ", "\n").as("text")),
        "doc_id", "text"),
      Some("""WITH d AS (SELECT doc_id,
             |    replace(text, ' the ', chr(10)) AS text
             |  FROM documents WHERE text IS NOT NULL),
             |l AS (SELECT doc_id,
             |    unnest(string_split(text, chr(10))) AS p,
             |    unnest(range(1, len(string_split(text, chr(10))) + 1))
             |      AS pos
             |  FROM d),
             |fd AS (SELECT p, min(doc_id) AS f_doc FROM l
             |       WHERE trim(p) <> '' GROUP BY 1),
             |fp AS (SELECT l.p, f_doc, min(l.pos) AS f_pos
             |       FROM l JOIN fd ON l.p = fd.p AND l.doc_id = fd.f_doc
             |       GROUP BY 1, 2),
             |m AS (SELECT l.doc_id, l.pos, l.p,
             |        (fp.p IS NULL OR (l.doc_id = fp.f_doc
             |          AND l.pos = fp.f_pos)) AS keep
             |      FROM l LEFT JOIN fp ON l.p = fp.p)
             |SELECT doc_id,
             |  coalesce(string_agg(CASE WHEN keep THEN p END,
             |    chr(10) ORDER BY pos), '') AS clean_text,
             |  CAST(count(*) AS BIGINT) AS n_paras,
             |  CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_removed
             |FROM m GROUP BY doc_id""".stripMargin),
      headline = true),

    Q("q_boilerplate", // corpus-frequency boilerplate line removal (the
      // C4 recipe: drop lines occurring verbatim in >= minDocs distinct
      // docs, rebuild the doc from surviving lines in order). The
      // synthetic corpus has no newlines, so the query derives a
      // multi-line corpus the oracle derives identically: ' the '
      // becomes a line break — short repeated lines then exist
      // naturally (30-word vocabulary), exercising both branches.
      (s, d) => CorpusOps.removeBoilerplateLines(
        t(s, d, "documents")
          .select(col("doc_id"),
            regexp_replace(col("text"), " the ", "\n").as("text")),
        "doc_id", "text", minDocs = 5),
      Some("""WITH d AS (SELECT doc_id,
             |    replace(text, ' the ', chr(10)) AS text
             |  FROM documents WHERE text IS NOT NULL),
             |l AS (SELECT doc_id,
             |    unnest(string_split(text, chr(10))) AS line,
             |    unnest(range(1, len(string_split(text, chr(10))) + 1))
             |      AS pos
             |  FROM d),
             |f AS (SELECT line, count(DISTINCT doc_id) AS df FROM l
             |      WHERE trim(line) <> '' GROUP BY 1),
             |bp AS (SELECT line FROM f WHERE df >= 5),
             |m AS (SELECT l.doc_id, l.pos, l.line,
             |        bp.line IS NOT NULL AS is_bp
             |      FROM l LEFT JOIN bp ON l.line = bp.line)
             |SELECT doc_id,
             |  coalesce(string_agg(CASE WHEN NOT is_bp THEN line END,
             |    chr(10) ORDER BY pos), '') AS clean_text,
             |  CAST(count(*) AS BIGINT) AS n_lines,
             |  CAST(sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_removed
             |FROM m GROUP BY doc_id""".stripMargin),
      headline = true),

    Q("q_html_extract", // HTML -> text extraction (the WET step of web
      // ingestion): script/style blocks dropped wholesale, tags
      // stripped, common entities decoded, whitespace collapsed. The
      // corpus is plain text, so a deterministic HTML shell is planted
      // on a doc_id-keyed subset identically on both sides; the
      // RE2-safe patterns run VERBATIM in Java (Spark) and RE2
      // (DuckDB).
      (s, d) => {
        val htmlPre = "<html><head><title>Graft</title>" +
          "<script type=\"text/javascript\">var x = 1 < 2;</script>" +
          "<style>p { color: red; }</style></head><body><h1>"
        val htmlPost = "</h1><p>Q&amp;A &lt;tag&gt;" +
          " &nbsp;&#39;q&#39; &quot;qq&quot;</p></body></html>"
        val planted = when(col("doc_id") % 4 === 0,
          concat(lit(htmlPre), col("text"), lit(htmlPost)))
          .otherwise(col("text"))
        t(s, d, "documents").select(
          col("doc_id"),
          TextAnalysis.htmlToText(planted).as("clean_text"),
          (col("doc_id") % 4 === 0).as("had_html"))
      },
      Some("""WITH p AS (SELECT doc_id,
             |    CASE WHEN doc_id % 4 = 0 THEN
             |      '<html><head><title>Graft</title>' ||
             |      '<script type="text/javascript">var x = 1 < 2;</script>' ||
             |      '<style>p { color: red; }</style></head><body><h1>' ||
             |      text ||
             |      '</h1><p>Q&amp;A &lt;tag&gt; &nbsp;&#39;q&#39; ' ||
             |      '&quot;qq&quot;</p></body></html>'
             |    ELSE text END AS t
             |  FROM documents),
             |s1 AS (SELECT doc_id, regexp_replace(t,
             |    '(?s)<script[^>]*>.*?</script>|(?s)<style[^>]*>.*?</style>',
             |    ' ', 'g') AS t FROM p),
             |s2 AS (SELECT doc_id,
             |    regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s1),
             |s3 AS (SELECT doc_id,
             |    replace(replace(replace(replace(replace(replace(t,
             |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
             |      '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS t
             |  FROM s2)
             |SELECT doc_id,
             |  trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean_text,
             |  doc_id % 4 = 0 AS had_html
             |FROM s3""".stripMargin),
      headline = true),

    Q("q_pii_scrub", // PII masking (the release-scrub pass): emails,
      // card/SSN shapes, phone numbers, IPv4 replaced by typed tokens
      // with per-category counts. PII strings are planted on a
      // doc_id-keyed subset identically on both sides (the
      // q_html_extract convention); masking is SEQUENTIAL so each
      // category's count sees earlier categories already masked; the
      // RE2-safe patterns run VERBATIM in Java (Spark) and RE2
      // (DuckDB). PII-free and null docs pass through untouched.
      (s, d) => {
        val docs = t(s, d, "documents")
        val planted = docs.select(col("doc_id"),
          when(col("text").isNull, col("text"))
            .when(col("doc_id") % 7 === 0, concat(col("text"),
              lit(" contact bob@example.com or 555-867-5309")))
            .when(col("doc_id") % 7 === 1, concat(
              lit("card 4111-1111-1111-1111 from 10.0.0.1 "),
              col("text")))
            .when(col("doc_id") % 7 === 2, concat(col("text"),
              lit(" ssn 123-45-6789 call (800) 555-1234")))
            .otherwise(col("text")).as("text"))
        graft.operators.TextAnalysis.maskPii(planted, "doc_id", "text")
      },
      Some(raw"""WITH p AS (SELECT doc_id,
             |    CASE WHEN text IS NULL THEN text
             |      WHEN doc_id % 7 = 0 THEN text ||
             |        ' contact bob@example.com or 555-867-5309'
             |      WHEN doc_id % 7 = 1 THEN
             |        'card 4111-1111-1111-1111 from 10.0.0.1 ' || text
             |      WHEN doc_id % 7 = 2 THEN text ||
             |        ' ssn 123-45-6789 call (800) 555-1234'
             |      ELSE text END AS t0
             |  FROM documents),
             |m1 AS (SELECT doc_id,
             |    len(regexp_extract_all(t0,
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             |      AS n_email,
             |    regexp_replace(t0,
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             |      '<EMAIL>', 'g') AS t1
             |  FROM p),
             |m2 AS (SELECT doc_id, n_email,
             |    len(regexp_extract_all(t1,
             |      '\b[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}\b'))
             |      AS n_card,
             |    regexp_replace(t1,
             |      '\b[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}\b',
             |      '<CARD>', 'g') AS t2
             |  FROM m1),
             |m3 AS (SELECT doc_id, n_email, n_card,
             |    len(regexp_extract_all(t2, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b'))
             |      AS n_ssn,
             |    regexp_replace(t2, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b',
             |      '<SSN>', 'g') AS t3
             |  FROM m2),
             |m4 AS (SELECT doc_id, n_email, n_card, n_ssn,
             |    len(regexp_extract_all(t3,
             |      '\([0-9]{3}\) ?[0-9]{3}[-.][0-9]{4}\b|\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b'))
             |      AS n_phone,
             |    regexp_replace(t3,
             |      '\([0-9]{3}\) ?[0-9]{3}[-.][0-9]{4}\b|\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b',
             |      '<PHONE>', 'g') AS t4
             |  FROM m3),
             |m5 AS (SELECT doc_id, n_email, n_card, n_ssn, n_phone,
             |    len(regexp_extract_all(t4, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
             |      AS n_ip,
             |    regexp_replace(t4, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
             |      '<IP>', 'g') AS t5
             |  FROM m4)
             |SELECT doc_id, t5 AS clean_text,
             |  CAST(coalesce(n_email, 0) AS BIGINT) AS n_email,
             |  CAST(coalesce(n_card, 0) AS BIGINT) AS n_card,
             |  CAST(coalesce(n_ssn, 0) AS BIGINT) AS n_ssn,
             |  CAST(coalesce(n_phone, 0) AS BIGINT) AS n_phone,
             |  CAST(coalesce(n_ip, 0) AS BIGINT) AS n_ip,
             |  CAST(coalesce(n_email, 0) + coalesce(n_card, 0)
             |    + coalesce(n_ssn, 0) + coalesce(n_phone, 0)
             |    + coalesce(n_ip, 0) AS BIGINT) AS n_pii
             |FROM m5""".stripMargin)),

    Q("q_gopher_rules", // Gopher-style quality gates (Rae et al. 2021
      // §A1.1): signal columns + one boolean per rule + the
      // conjunction. The corpus is single-line prose, so a bullet/
      // ellipsis line suffix is planted on a doc_id-keyed subset
      // identically on both sides to exercise the line-shape rules.
      (s, d) => {
        val planted = t(s, d, "documents").select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit("\n- bullet point one" +
              "\n- bullet point two\nto be continued...")))
            .otherwise(col("text")).as("text"))
        TextAnalysis.gopherRules(planted, "doc_id", "text", minTokens = 30)
      },
      Some(raw"""WITH p AS (SELECT doc_id AS id,
             |    CASE WHEN doc_id % 5 = 0 THEN text || chr(10) ||
             |      '- bullet point one' || chr(10) ||
             |      '- bullet point two' || chr(10) ||
             |      'to be continued...'
             |    ELSE text END AS t
             |  FROM documents),
             |b AS (SELECT id, t,
             |    string_split_regex(trim(t), '\s+') AS toks,
             |    string_split(t, chr(10)) AS lines FROM p
             |  WHERE t IS NOT NULL AND trim(t) <> ''),
             |$gopherMetricsCte
             |SELECT id, CAST(n AS BIGINT) AS n_tokens,
             |  round(raw_wlen, 4) AS mean_wlen,
             |  round(raw_sym, 4) AS symbol_ratio,
             |  round(raw_bullet, 4) AS bullet_ratio,
             |  round(raw_ellipsis, 4) AS ellipsis_ratio,
             |  round(raw_alpha, 4) AS alpha_ratio,
             |  stop_hits,
             |  n >= 30 AND n <= 100000 AS ok_tokens,
             |  raw_wlen >= 3.0 AND raw_wlen <= 10.0 AS ok_wlen,
             |  raw_sym < 0.1 AS ok_symbols,
             |  raw_bullet < 0.9 AS ok_bullets,
             |  raw_ellipsis < 0.3 AS ok_ellipsis,
             |  raw_alpha > 0.8 AS ok_alpha,
             |  stop_hits >= 2 AS ok_stops,
             |  ($gopherPassSql) AS passes
             |FROM m""".stripMargin),
      headline = true),

    Q("q_chunk_docs", // fixed-window training-sequence chunking:
      // maxTokens=32-token windows advancing by stride=24 (8-token
      // overlap); docs <= 32 tokens yield one chunk, the last window
      // is short rather than padded
      (s, d) => CorpusOps.chunkDocs(
        t(s, d, "documents"), "doc_id", "text",
        maxTokens = 32, stride = 24),
      Some(s"""WITH $chunkDocsCtes
              |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
             |  array_to_string(list_slice(toks,
             |    chunk_id * 24 + 1, chunk_id * 24 + 32), ' ')
             |    AS chunk_text,
             |  CAST(len(list_slice(toks,
             |    chunk_id * 24 + 1, chunk_id * 24 + 32)) AS BIGINT)
             |    AS n_chunk_tokens
             |FROM u""".stripMargin),
      headline = true),

    Q("q_pack_sequences", // sequence packing over the chunked corpus:
      // chunkDocs windows bin-pack into 96-token training sequences.
      // Pack ASSIGNMENT is engine-specific (best-fit-decreasing per
      // partition), so the gate pins the packing CONTRACT instead:
      // every chunk appears exactly once (hash compare) and its pack's
      // token total fits the capacity (fits=true for every row; a
      // single overfull pack flips its members false and reds the
      // hash). Pack DENSITY is CorpusOpsSpec's property.
      (s, d) => {
        val chunks = CorpusOps.chunkDocs(
          t(s, d, "documents"), "doc_id", "text",
          maxTokens = 32, stride = 24)
          .select((col("doc_id") * 1000000L + col("chunk_id")).as("cid"),
            col("n_chunk_tokens"))
        val packed = CorpusOps.packSequences(
          chunks, "cid", "n_chunk_tokens", seqLen = 96L, partitions = 8)
        val w = Window.partitionBy(col("pack_id"))
        packed.select(col("cid"), col("n_chunk_tokens"),
          (sum(col("n_chunk_tokens")).over(w) <= 96L).as("fits"))
      },
      Some(s"""WITH $chunkDocsCtes
              |SELECT doc_id * 1000000 + chunk_id AS cid,
             |  CAST(len(list_slice(toks,
             |    chunk_id * 24 + 1, chunk_id * 24 + 32)) AS BIGINT)
             |    AS n_chunk_tokens,
             |  true AS fits
             |FROM u""".stripMargin),
      headline = true),

    Q("q_hll_mergeable", // mergeable-sketch distinct counting: build
      // per-source HLL sketches (the persistable binary form), merge
      // the SKETCHES into a global estimate, and gate the estimate
      // against the exact distinct within the sketch's error envelope
      // (the q_approx_distinct pattern: exact values pinned, sketch
      // checked by tolerance flag — sketch bytes are engine-specific).
      (s, d) => {
        val docs = t(s, d, "documents")
        val sk = graft.operators.Sketches.hllByGroup(docs, "source", "doc_id")
        val merged = graft.operators.Sketches.hllMergedEstimate(sk)
        val exact = docs.agg(
          countDistinct(col("doc_id")).as("n_exact"),
          countDistinct(col("source")).as("n_sources"))
        exact.crossJoin(broadcast(merged))
          .select(col("n_exact"), col("n_sources"),
            (abs(col("n_est") - col("n_exact")) <=
              col("n_exact") * 0.05).as("within_5pct"))
      },
      Some("""SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_exact,
             |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             |  true AS within_5pct
             |FROM documents""".stripMargin)),

    Q("q_theta_overlap", // theta sketch SET ALGEBRA — the question HLL
      // cannot answer: per-event-type sketches of the user_id set, then
      // |A ∩ B| and |A \ B| for every type pair WITHOUT joining raw
      // data (one row per group after the build scan). Exact pair
      // overlaps are pinned via SQL; the sketch estimates are gated
      // within 2% (theta is exact below ~2^lgK distincts, so at test
      // SFs the flags are deterministically true; the band keeps the
      // gate honest at estimation-mode scale).
      (s, d) => {
        val ev = t(s, d, "events").select(col("event_type"), col("user_id"))
        val sk = graft.operators.Sketches.thetaByGroup(
          ev, "event_type", "user_id", lgK = 12)
        val est = graft.operators.Sketches.thetaOverlap(sk, "event_type")
          .withColumnRenamed("group_a", "type_a")
          .withColumnRenamed("group_b", "type_b")
        val du = ev.distinct()
        val exact = du.as("a")
          .join(du.as("b"), col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
          .groupBy(col("a.event_type").as("type_a"),
            col("b.event_type").as("type_b"))
          .agg(count(lit(1)).as("n_common_exact"))
        val perType = du.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_type"))
        exact
          .join(perType.select(col("event_type").as("type_a"),
            col("n_type").as("n_a_exact")), "type_a")
          .join(est, Seq("type_a", "type_b"))
          .select(col("type_a"), col("type_b"), col("n_common_exact"),
            (abs(col("n_common") - col("n_common_exact")) <=
              col("n_common_exact") * 0.02).as("common_within_2pct"),
            (abs(col("n_only_a") -
              (col("n_a_exact") - col("n_common_exact"))) <=
              greatest(col("n_a_exact") * 0.02, lit(1.0)))
              .as("diff_within_2pct"))
      },
      Some("""WITH du AS (SELECT DISTINCT event_type, user_id FROM events)
             |SELECT a.event_type AS type_a, b.event_type AS type_b,
             |  CAST(count(*) AS BIGINT) AS n_common_exact,
             |  true AS common_within_2pct, true AS diff_within_2pct
             |FROM du a JOIN du b
             |  ON a.user_id = b.user_id AND a.event_type < b.event_type
             |GROUP BY 1, 2""".stripMargin)),

    Q("q_kll_mergeable", // mergeable rank sketches: per-(returnflag,
      // linenumber) KLL sketches of l_extendedprice — the per-batch
      // persistable form — MERGED up to per-returnflag quantiles
      // without rescanning rows. Gate: the merged sketch's p50/p90
      // land inside the exact p45..p55 / p85..p95 bands (k=200 ≈ 0.7%
      // rank error; the 5%-rank band is ~7x the 99%-confidence bound,
      // the q_approx_percentile pattern).
      (s, d) => {
        val li = t(s, d, "lineitem")
        val perBatch = li
          .groupBy(col("l_returnflag"), col("l_linenumber"))
          .agg(kll_sketch_agg_double(
            col("l_extendedprice").cast("double"), 200).as("kll"))
        val merged = graft.operators.Sketches.kllMergeBy(
          perBatch, "l_returnflag")
        val bands = li.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            expr("percentile(l_extendedprice, 0.45)").as("lo50"),
            expr("percentile(l_extendedprice, 0.55)").as("hi50"),
            expr("percentile(l_extendedprice, 0.85)").as("lo90"),
            expr("percentile(l_extendedprice, 0.95)").as("hi90"))
        merged.join(bands, "l_returnflag")
          .select(col("l_returnflag"), col("n"),
            kll_sketch_get_quantile_double(col("kll"), lit(0.5))
              .between(col("lo50"), col("hi50")).as("p50_in_band"),
            kll_sketch_get_quantile_double(col("kll"), lit(0.9))
              .between(col("lo90"), col("hi90")).as("p90_in_band"))
      },
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             |  true AS p50_in_band, true AS p90_in_band
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    Q("q_freq_items", // heavy hitters via mergeable frequent-items
      // sketches: per-source token sketches merged into the global
      // top-10. maxMapSize=1024 >> the corpus vocabulary, so the
      // sketch is in EXACT mode (no purges) and the estimates ARE the
      // true counts — the oracle is the full exact top-10, not a
      // tolerance flag. At real-corpus vocabularies the same pipeline
      // degrades gracefully to Misra-Gries bounds (getMaximumError).
      (s, d) => {
        val docs = t(s, d, "documents")
        val perSrc = docs
          .select(col("source"),
            explode(graft.functions.TextFunctions.tokens(col("text")))
              .as("token"))
          .groupBy(col("source"))
          .agg(graft.plans.SketchAggregates.freq_items_agg(
            col("token"), 1024).as("fi"))
        graft.operators.Sketches.freqTop(perSrc, k = 10)
          .select(col("item").as("token"), col("est").as("n"))
      },
      Some("""SELECT token, CAST(count(*) AS BIGINT) AS n FROM (
             |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
             |  FROM documents)
             |GROUP BY token ORDER BY n DESC, token LIMIT 10""".stripMargin)),

    Q("q_fuzzy_join", // blocked fuzzy-match over DISTINCT names
      // (entity resolution): Levenshtein <= 2 pairs of part names,
      // candidates blocked on the lowercased 2-char prefix + length
      // gap <= 2, occurrence counts carried. Matching works on
      // distinct values, not rows — part repeats each name ~300x and
      // row-level pairing squares that (measured 3.2M pairs vs a few
      // hundred name pairs). Typos are planted (chars 4-5 -> 'zz' on
      // a partkey-keyed subset) identically on both sides; blocking
      // is part of the contract and the oracle applies the same
      // predicate, so the gate is exact, not recall-fuzzy.
      (s, d) => {
        val p = t(s, d, "part").select(col("p_partkey"), col("p_name"))
        val planted = p.unionByName(
          p.filter(col("p_partkey") % 50 === 0)
            .select((col("p_partkey") + 10000000L).as("p_partkey"),
              concat(substring(col("p_name"), 1, 3), lit("zz"),
                expr("substring(p_name, 6)")).as("p_name")))
        Dedup.fuzzyNamePairs(planted, "p_name", maxDist = 2, prefixLen = 2)
      },
      Some("""WITH p AS (SELECT p_name FROM part
             |  UNION ALL
             |  SELECT substr(p_name, 1, 3) || 'zz' || substr(p_name, 6)
             |  FROM part WHERE p_partkey % 50 = 0),
             |s AS (SELECT p_name AS nm, CAST(count(*) AS BIGINT) AS n,
             |    lower(substr(p_name, 1, 2)) AS blk,
             |    length(p_name) AS len
             |  FROM p GROUP BY p_name)
             |SELECT a.nm AS name_a, b.nm AS name_b,
             |  CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist,
             |  a.n AS n_a, b.n AS n_b
             |FROM s a JOIN s b ON a.blk = b.blk AND a.nm < b.nm
             |WHERE abs(a.len - b.len) <= 2
             |  AND levenshtein(a.nm, b.nm) <= 2""".stripMargin),
      headline = true),

    Q("q_dedup_lines", // within-document duplicate-line removal (the
      // in-doc half of the C4 line recipe; cross-doc is
      // q_boilerplate). Same derived multi-line corpus as
      // q_boilerplate: ' the ' becomes a line break, so a 30-word
      // vocabulary yields natural in-doc repeats.
      (s, d) => CorpusOps.dedupLinesWithinDoc(
        t(s, d, "documents")
          .select(col("doc_id"),
            regexp_replace(col("text"), " the ", "\n").as("text")),
        "doc_id", "text"),
      Some("""WITH d AS (SELECT doc_id,
             |    replace(text, ' the ', chr(10)) AS text
             |  FROM documents WHERE text IS NOT NULL),
             |l AS (SELECT doc_id,
             |    unnest(string_split(text, chr(10))) AS line,
             |    unnest(range(1, len(string_split(text, chr(10))) + 1))
             |      AS pos
             |  FROM d),
             |k AS (SELECT doc_id, pos, line,
             |    row_number() OVER (PARTITION BY doc_id, line
             |                       ORDER BY pos) = 1
             |      OR trim(line) = '' AS keep
             |  FROM l)
             |SELECT doc_id,
             |  coalesce(string_agg(CASE WHEN keep THEN line END,
             |    chr(10) ORDER BY pos), '') AS clean_text,
             |  CAST(count(*) AS BIGINT) AS n_lines,
             |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
             |    AS n_removed
             |FROM k GROUP BY doc_id""".stripMargin)),

    Q("q_ngram_jaccard", // exact n-gram Jaccard over blocked candidates
      (s, d) => Dedup.ngramJaccardPairs(plantedDocs(s, d), "doc_id", "text",
        shingleN = 3, minJaccard = 0.5, maxDocFreq = 20),
      Some(s"""WITH $ngramPairsCtes
              |SELECT id_a, id_b, round(jac, 4) AS jaccard FROM np"""
        .stripMargin),
      headline = true),

    Q("q_ngram_containment", // the ASYMMETRIC near-dup twin: Broder
      // containment |A∩B|/min(|A|,|B|) catches a 12-token fragment
      // embedded in its parent doc (containment 1.0) that Jaccard
      // scores ~0.1 — sub-document duplication (quotes, license
      // blocks, mirrored articles). Corpus = documents + planted
      // 12-token prefixes of docs 0..19 at +1M ids; same rare-shingle
      // candidacy and exact-intersection contract as q_ngram_jaccard.
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        val toks = split(trim(col("text")), "\\s+")
        val frag = t(s, d, "documents")
          .filter(col("doc_id") < 20 && col("text").isNotNull &&
            trim(col("text")) =!= "" && size(toks) >= 15)
          .select((col("doc_id") + 1000000).as("doc_id"),
            array_join(slice(toks, 1, 12), " ").as("text"))
        Dedup.ngramContainmentPairs(docs.unionByName(frag), "doc_id",
          "text", shingleN = 3, minContainment = 0.9, maxDocFreq = 20)
      },
      Some("""WITH fr AS (SELECT doc_id + 1000000 AS doc_id,
             |    array_to_string(list_slice(
             |      string_split_regex(trim(text), '\s+'), 1, 12), ' ')
             |      AS text
             |  FROM documents
             |  WHERE doc_id < 20 AND text IS NOT NULL
             |    AND trim(text) <> ''
             |    AND len(string_split_regex(trim(text), '\s+')) >= 15),
             |docs AS (SELECT doc_id, text FROM documents
             |         UNION ALL SELECT doc_id, text FROM fr),
             |t AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks
             |  FROM docs WHERE text IS NOT NULL AND trim(text) <> ''),
             |g AS (SELECT DISTINCT doc_id, sh FROM (
             |        SELECT doc_id, unnest(list_filter(
             |          list_transform(toks, (x, i) ->
             |            toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
             |          v -> v IS NOT NULL)) AS sh
             |        FROM t) u),
             |sz AS (SELECT doc_id, count(*) AS n_sh FROM g GROUP BY 1),
             |rare AS (SELECT sh FROM g GROUP BY sh
             |         HAVING count(*) BETWEEN 2 AND 20),
             |cand AS (SELECT DISTINCT g1.doc_id AS id_a,
             |           g2.doc_id AS id_b
             |         FROM g g1 JOIN g g2 USING (sh) JOIN rare USING (sh)
             |         WHERE g1.doc_id < g2.doc_id),
             |pairs AS (SELECT id_a, id_b, count(*) AS inter
             |          FROM cand
             |          JOIN g g1 ON g1.doc_id = id_a
             |          JOIN g g2 ON g2.doc_id = id_b AND g2.sh = g1.sh
             |          GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |  round(inter / least(sa.n_sh, sb.n_sh), 4) AS containment
             |FROM pairs
             |JOIN sz sa ON sa.doc_id = id_a
             |JOIN sz sb ON sb.doc_id = id_b
             |WHERE inter / least(sa.n_sh, sb.n_sh) >= 0.9"""
        .stripMargin)),

    Q("q_containment_dedup", // the composed sub-document dedup:
      // containment pairs -> connected components -> keep each
      // cluster's LARGEST member (quality = token count) — min-id
      // canonicalization could keep the 12-token fragment and drop its
      // 60-token parent; quality-keeping can't. Same planted corpus as
      // q_ngram_containment; oracle = the recursive-closure pattern of
      // q_leakage_split over containment edges, keeper by
      // row_number(quality DESC, id).
      (s, d) => {
        val base = t(s, d, "documents").select(col("doc_id"), col("text"))
        val toks = split(trim(col("text")), "\\s+")
        val frag = t(s, d, "documents")
          .filter(col("doc_id") < 20 && col("text").isNotNull &&
            trim(col("text")) =!= "" && size(toks) >= 15)
          .select((col("doc_id") + 1000000).as("doc_id"),
            array_join(slice(toks, 1, 12), " ").as("text"))
        val corpus = base.unionByName(frag)
        Dedup.dedupByQualityFromPairs(corpus, "doc_id",
          Dedup.ngramContainmentPairs(corpus, "doc_id", "text",
            shingleN = 3, minContainment = 0.9, maxDocFreq = 20),
          size(graft.functions.TextFunctions.tokens(col("text")))
            .cast("long"))
      },
      Some("""WITH RECURSIVE fr AS (SELECT doc_id + 1000000 AS doc_id,
             |    array_to_string(list_slice(
             |      string_split_regex(trim(text), '\s+'), 1, 12), ' ')
             |      AS text
             |  FROM documents
             |  WHERE doc_id < 20 AND text IS NOT NULL
             |    AND trim(text) <> ''
             |    AND len(string_split_regex(trim(text), '\s+')) >= 15),
             |docs AS (SELECT doc_id, text FROM documents
             |         UNION ALL SELECT doc_id, text FROM fr),
             |t AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks
             |  FROM docs WHERE text IS NOT NULL AND trim(text) <> ''),
             |g AS (SELECT DISTINCT doc_id, sh FROM (
             |        SELECT doc_id, unnest(list_filter(
             |          list_transform(toks, (x, i) ->
             |            toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
             |          v -> v IS NOT NULL)) AS sh
             |        FROM t) u),
             |sz AS (SELECT doc_id, count(*) AS n_sh FROM g GROUP BY 1),
             |rare AS (SELECT sh FROM g GROUP BY sh
             |         HAVING count(*) BETWEEN 2 AND 20),
             |cand AS (SELECT DISTINCT g1.doc_id AS id_a,
             |           g2.doc_id AS id_b
             |         FROM g g1 JOIN g g2 USING (sh) JOIN rare USING (sh)
             |         WHERE g1.doc_id < g2.doc_id),
             |prs AS (SELECT id_a, id_b, count(*) AS inter
             |          FROM cand
             |          JOIN g g1 ON g1.doc_id = id_a
             |          JOIN g g2 ON g2.doc_id = id_b AND g2.sh = g1.sh
             |          GROUP BY 1, 2),
             |cp AS (SELECT id_a, id_b FROM prs
             |       JOIN sz sa ON sa.doc_id = id_a
             |       JOIN sz sb ON sb.doc_id = id_b
             |       WHERE inter / least(sa.n_sh, sb.n_sh) >= 0.9),
             |edges AS (SELECT id_a AS a, id_b AS b FROM cp
             |          UNION SELECT id_b, id_a FROM cp),
             |walk AS (
             |  SELECT a AS id, a AS label FROM edges
             |  UNION
             |  SELECT w.id, e.b AS label
             |  FROM walk w JOIN edges e ON e.a = w.label),
             |comp AS (SELECT id, min(label) AS cluster_id
             |         FROM walk GROUP BY id),
             |q AS (SELECT c.id, c.cluster_id,
             |        len(string_split_regex(trim(d.text), '\s+')) AS qt
             |      FROM comp c JOIN docs d ON d.doc_id = c.id),
             |keep AS (SELECT id, cluster_id,
             |    count(*) OVER (PARTITION BY cluster_id) AS n_members,
             |    row_number() OVER (PARTITION BY cluster_id
             |      ORDER BY qt DESC, id) AS rn
             |  FROM q)
             |SELECT d.doc_id,
             |  CAST(coalesce(k.n_members, 1) AS BIGINT) AS n_members
             |FROM docs d
             |LEFT JOIN (SELECT id, n_members FROM keep WHERE rn = 1) k
             |  ON k.id = d.doc_id
             |WHERE d.doc_id NOT IN
             |  (SELECT id FROM keep WHERE rn > 1)""".stripMargin)),

    Q("q_minhash_pairs", // MinHash+LSH near-dup candidates. The full
      // pair set isn't SQL-expressible (MinHash estimates), so the gate
      // pins the planted-duplicate property (the q_approx_distinct
      // pattern): every planted exact copy with enough tokens for a
      // signature must surface as a candidate pair with est_jaccard
      // exactly 1.0 — identical text gives identical signatures, which
      // co-bucket in every band. The full operator still runs (the
      // projection left-joins its output), so a recall miss shows as a
      // null est_jaccard and flips the hash red. maxBucketSize is
      // raised so the planted property is UNCONDITIONAL: the default
      // cap ranks bucket members by id ascending, which would evict
      // the high-id planted copies first on boilerplate-heavy buckets
      // and conflate cap loss with a real recall bug (ADVICE r6).
      (s, d) => {
        val pairs = Dedup.minhashPairs(plantedDocs(s, d), "doc_id", "text",
          maxBucketSize = 1 << 20)
        val expected = t(s, d, "documents")
          .filter(col("doc_id") < 10 && col("text").isNotNull &&
            trim(col("text")) =!= "" &&
            size(split(trim(col("text")), "\\s+")) >= 3)
          .select(col("doc_id").as("id_a"),
            (col("doc_id") + 1000000).as("id_b"))
        expected.join(pairs, Seq("id_a", "id_b"), "left_outer")
          .select(col("id_a"), col("id_b"), col("est_jaccard"))
      },
      Some("""SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
             |  CAST(1.0 AS DOUBLE) AS est_jaccard
             |FROM documents
             |WHERE doc_id < 10 AND text IS NOT NULL AND trim(text) <> ''
             |  AND len(string_split_regex(trim(text), '\s+')) >= 3"""
        .stripMargin)),

    Q("q_minhash_bench", // headline bench twin of q_minhash_pairs: times
      // the RAW operator. The r6 gate shape timed an extra documents
      // scan plus an expected-pairs left join along with the operator,
      // so the official BENCH artifact couldn't adjudicate the raw-
      // operator target (VERDICT r6 task 1). Here the only post-operator
      // work is ONE aggregation over the operator's own output (pairs →
      // 1 row), so the bench line IS the operator. Recall correctness
      // stays with the non-headline q_minhash_pairs property gate; this
      // twin's oracle re-derives the planted-pair count from the
      // documents table (copies co-bucket in every band at est 1.0).
      (s, d) => Dedup.minhashPairs(plantedDocs(s, d), "doc_id", "text")
        .agg(sum(when(col("id_b") === col("id_a") + 1000000 &&
            col("id_a") < 10 && col("est_jaccard") === 1.0, 1L)
          .otherwise(0L)).as("planted_found")),
      Some("""SELECT count(*) AS planted_found FROM documents
             |WHERE doc_id < 10 AND text IS NOT NULL AND trim(text) <> ''
             |  AND len(string_split_regex(trim(text), '\s+')) >= 3"""
        .stripMargin),
      headline = true),

    Q("q_incremental_dedup", // delta-vs-corpus dedup without a corpus
      // rescan: persist the MinHash LSH index once (hive-partitioned by
      // (band, bucket-mod)), then probe each incoming batch against it —
      // the index read prunes to the delta's own partition leaves and
      // the bucket join broadcasts the delta (hint gated on delta
      // size). Here the "delta" is docs 0..9 recopied TWICE with
      // shifted ids (+1M and +2M), so the gate pins BOTH legs of the
      // operator: every copy with enough tokens for a signature must
      // match its corpus source (probe leg, pairs (i, i+1M) and
      // (i, i+2M)) AND its twin inside the same batch (intra-delta leg,
      // pair (i+1M, i+2M)) at est_jaccard exactly 1.0 (identical text
      // -> identical signature -> co-bucketed in every band). Left
      // join: a recall miss on either leg -> null est_jaccard -> red
      // hash.
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_mhidx_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val docs = t(s, d, "documents")
        Dedup.buildMinhashIndex(docs, "doc_id", "text", dir)
        val delta = docs.filter(col("doc_id") < 10)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id") < 10)
            .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
        val pairs = Dedup.incrementalMinhashPairs(s, dir, delta,
          "doc_id", "text")
        val eligible = docs
          .filter(col("doc_id") < 10 && col("text").isNotNull &&
            trim(col("text")) =!= "" &&
            size(split(trim(col("text")), "\\s+")) >= 3)
          .select(col("doc_id"))
        val expected = eligible
          .select(col("doc_id").as("id_a"),
            (col("doc_id") + 1000000).as("id_b"))
          .unionByName(eligible.select(col("doc_id").as("id_a"),
            (col("doc_id") + 2000000).as("id_b")))
          .unionByName(eligible.select(
            (col("doc_id") + 1000000).as("id_a"),
            (col("doc_id") + 2000000).as("id_b")))
        expected.join(
            pairs.filter(col("est_jaccard") === 1.0),
            Seq("id_a", "id_b"), "left_outer")
          .select(col("id_a"), col("id_b"), col("est_jaccard"))
      },
      Some("""WITH eligible AS (
             |  SELECT doc_id FROM documents
             |  WHERE doc_id < 10 AND text IS NOT NULL AND trim(text) <> ''
             |    AND len(string_split_regex(trim(text), '\s+')) >= 3)
             |SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
             |  CAST(1.0 AS DOUBLE) AS est_jaccard FROM eligible
             |UNION ALL
             |SELECT doc_id, doc_id + 2000000, CAST(1.0 AS DOUBLE)
             |FROM eligible
             |UNION ALL
             |SELECT doc_id + 1000000, doc_id + 2000000, CAST(1.0 AS DOUBLE)
             |FROM eligible""".stripMargin)),

    Q("q_incremental_exact", // the EXACT twin of incremental dedup:
      // persist the md5 index once (hive-partitioned by hash prefix),
      // then annotate each incoming batch with dup_of — min corpus id
      // with the same content hash (corpus wins), else min earlier id
      // within the batch itself, else null (the append set). The delta
      // plants all three outcomes: docs 0..5 recopied at +1M and +2M
      // (corpus-dup leg — both copies must point at the ORIGINAL id,
      // not each other), plus an upper-cased doc-0 text twice at 3M+1
      // and 3M+2 (novel text: 3M+1 must be null = genuinely new, and
      // 3M+2 must point at 3M+1 = intra-batch dup). Oracle re-derives
      // dup_of by text-equality joins — md5 vs text equality agree
      // unless md5 collides, which is itself part of the contract
      // being pinned.
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_xidx_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val docs = t(s, d, "documents")
        // staged ONCE per (process, sf), _SUCCESS-gated like q_incr_bench
        // — the deployment shape is build-at-ingest / probe-per-batch, so
        // the headline timing measures the delta probe, not an index
        // rebuild per iteration
        if (!new java.io.File(dir, "_SUCCESS").exists())
          Dedup.buildExactIndex(docs, "doc_id", "text", dir)
        val delta = plantedExactDelta(docs)
        Dedup.incrementalExactDedup(s, dir, delta, "doc_id", "text")
          .select(col("id").as("doc_id"), col("dup_of"))
      },
      Some("""WITH base AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id < 6),
             |delta AS (
             |  SELECT doc_id + 1000000 AS doc_id, text FROM base
             |  UNION ALL SELECT doc_id + 2000000, text FROM base
             |  UNION ALL SELECT CAST(3000001 AS BIGINT), upper(text)
             |    FROM documents WHERE doc_id = 0
             |  UNION ALL SELECT CAST(3000002 AS BIGINT), upper(text)
             |    FROM documents WHERE doc_id = 0),
             |corpus_min AS (
             |  SELECT text, min(doc_id) AS m FROM documents
             |  WHERE text IS NOT NULL GROUP BY text),
             |delta_min AS (
             |  SELECT text, min(doc_id) AS m FROM delta
             |  WHERE text IS NOT NULL GROUP BY text)
             |SELECT d.doc_id,
             |  CASE WHEN d.text IS NULL THEN NULL
             |       ELSE coalesce(c.m,
             |         CASE WHEN d.doc_id <> dm.m THEN dm.m END) END AS dup_of
             |FROM delta d
             |LEFT JOIN corpus_min c ON d.text = c.text
             |LEFT JOIN delta_min dm ON d.text = dm.text""".stripMargin),
      // headline: the index is staged once per (process, sf) like
      // q_incr_bench, so the timed cost is the delta probe itself
      headline = true),

    Q("q_incremental_bloom", // the bloom-sidecar probe: same planted
      // delta and same oracle as q_incremental_exact, but the probe
      // answers definite corpus-misses from the per-leaf bloom sidecar
      // and reads only leaves holding a surviving candidate — the
      // at-scale shape where a mostly-new delta touches megabytes of
      // sidecar instead of the index. dup_of must come out IDENTICAL
      // (blooms have no false negatives; false positives only cost a
      // leaf read), so the gate is the full exact oracle, not a
      // tolerance.
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_xidx_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val docs = t(s, d, "documents")
        if (!new java.io.File(dir, "_SUCCESS").exists())
          Dedup.buildExactIndex(docs, "doc_id", "text", dir)
        if (!new java.io.File(s"$dir/_blooms", "_SUCCESS").exists())
          Dedup.writeExactIndexBlooms(s, dir,
            expectedItemsPerLeaf = 100000L)
        val delta = plantedExactDelta(docs)
        Dedup.incrementalExactDedupBloom(s, dir, delta, "doc_id", "text")
          .select(col("id").as("doc_id"), col("dup_of"))
      },
      Some("""WITH base AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id < 6),
             |delta AS (
             |  SELECT doc_id + 1000000 AS doc_id, text FROM base
             |  UNION ALL SELECT doc_id + 2000000, text FROM base
             |  UNION ALL SELECT CAST(3000001 AS BIGINT), upper(text)
             |    FROM documents WHERE doc_id = 0
             |  UNION ALL SELECT CAST(3000002 AS BIGINT), upper(text)
             |    FROM documents WHERE doc_id = 0),
             |corpus_min AS (
             |  SELECT text, min(doc_id) AS m FROM documents
             |  WHERE text IS NOT NULL GROUP BY text),
             |delta_min AS (
             |  SELECT text, min(doc_id) AS m FROM delta
             |  WHERE text IS NOT NULL GROUP BY text)
             |SELECT d.doc_id,
             |  CASE WHEN d.text IS NULL THEN NULL
             |       ELSE coalesce(c.m,
             |         CASE WHEN d.doc_id <> dm.m THEN dm.m END) END AS dup_of
             |FROM delta d
             |LEFT JOIN corpus_min c ON d.text = c.text
             |LEFT JOIN delta_min dm ON d.text = dm.text""".stripMargin)),

    Q("q_incremental_span", // the incremental face of q_span_dedup:
      // span df against a PERSISTED append-friendly index (partial
      // rows summed at probe) instead of recomputing corpus df per
      // delta. A span is duplicated when corpus+delta df >= 2, so the
      // oracle recomputes over the union and keeps delta docs. Planted
      // legs: docs 0..5 recopied at +1M (every span corpus-dup,
      // dup_frac 1), a MIXED doc (10 unique tokens + doc-7's text:
      // boundary-crossing spans novel, interior spans dup — dup_frac
      // strictly inside (0,1)), and a fully-novel doc (dup_frac 0).
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_spidx_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val docs = t(s, d, "documents")
        if (!new java.io.File(dir, "_SUCCESS").exists())
          CorpusOps.buildSpanIndex(docs, "doc_id", "text", dir, n = 8)
        val delta = docs.filter(col("doc_id") < 6)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id") === 7)
            .select(lit(2000001L).as("doc_id"),
              concat(lit("zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8 zq9 zq10 "),
                col("text")).as("text")))
          .unionByName(s.range(1)
            .select(lit(2000002L).as("doc_id"),
              lit("uw1 uw2 uw3 uw4 uw5 uw6 uw7 uw8 uw9 uw10 uw11 uw12")
                .as("text")))
        CorpusOps.incrementalSpanStats(s, dir, delta, "doc_id", "text",
          n = 8, minDf = 2)
      },
      Some("""WITH delta AS (
             |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
             |  WHERE doc_id < 6
             |  UNION ALL
             |  SELECT CAST(2000001 AS BIGINT),
             |    'zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8 zq9 zq10 ' || text
             |  FROM documents WHERE doc_id = 7
             |  UNION ALL
             |  SELECT CAST(2000002 AS BIGINT),
             |    'uw1 uw2 uw3 uw4 uw5 uw6 uw7 uw8 uw9 uw10 uw11 uw12'),
             |all_docs AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL SELECT doc_id, text FROM delta),
             |t AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS tk
             |  FROM all_docs
             |  WHERE text IS NOT NULL AND trim(text) <> ''
             |    AND len(string_split_regex(trim(text), '\s+')) >= 8),
             |sp AS (SELECT DISTINCT doc_id,
             |    array_to_string(tk[i:i+7], ' ') AS span
             |  FROM (SELECT doc_id, tk,
             |          unnest(generate_series(1, len(tk) - 7)) AS i
             |        FROM t)),
             |df AS (SELECT span FROM sp GROUP BY span
             |       HAVING count(*) >= 2)
             |SELECT s.doc_id, count(*) AS n_spans,
             |  CAST(sum(CASE WHEN d.span IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS dup_spans,
             |  round(CAST(sum(CASE WHEN d.span IS NOT NULL THEN 1 ELSE 0
             |    END) AS DOUBLE) / count(*), 6) AS dup_frac
             |FROM sp s LEFT JOIN df d ON s.span = d.span
             |WHERE s.doc_id >= 1000000
             |GROUP BY s.doc_id""".stripMargin)),

    Q("q_incr_bench", // headline twin of q_incremental_dedup: the
      // persisted index is staged ONCE per (process, sf) — its
      // deployment shape (built at ingest, probed per delta batch) —
      // so the warm-up pass pays the build and the timed passes
      // measure the pure delta probe: pruned index read + broadcast
      // bucket join. This is the line that shows probe cost scaling
      // with the delta, not the corpus. Recall correctness stays with
      // the non-headline q_incremental_dedup gate; the only
      // post-operator work here is one aggregation over the
      // operator's own output.
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_mhib_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val docs = t(s, d, "documents")
        // gate the skip on the committer's _SUCCESS marker, not bare
        // directory existence: a mid-write failure leaves a partial
        // tree that every later pass would silently read; the
        // overwrite-mode rebuild clears it
        if (!new java.io.File(dir, "_SUCCESS").exists())
          Dedup.buildMinhashIndex(docs, "doc_id", "text", dir)
        val delta = docs.filter(col("doc_id") < 10)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
        Dedup.incrementalMinhashPairs(s, dir, delta, "doc_id", "text")
          .agg(sum(when(col("id_b") === col("id_a") + 1000000 &&
              col("id_a") < 10 && col("est_jaccard") === 1.0, 1L)
            .otherwise(0L)).as("planted_found"))
      },
      Some("""SELECT count(*) AS planted_found FROM documents
             |WHERE doc_id < 10 AND text IS NOT NULL AND trim(text) <> ''
             |  AND len(string_split_regex(trim(text), '\s+')) >= 3"""
        .stripMargin),
      headline = true),

    Q("q_semantic_dedup", // SemDeDup (cluster -> within-cell cosine ->
      // keep min id): over the planted corpus the exact copies are the
      // only pairs at or above 0.99 (organic max cosine 0.61 measured
      // at every SF), and identical vectors always share a cell, so
      // the survivors must be EXACTLY the original vec_ids — every
      // planted copy removed, nothing else touched. A recall miss
      // leaves a planted id in the output; an over-removal drops an
      // original: either flips the hash red. maxBucketSize raised so
      // the gate is UNCONDITIONAL (the id-ascending cell cap would
      // evict high-id planted copies first — the ADVICE-r6 trap),
      // though balanced cells sit ~250 members at every SF regardless.
      (s, d) => Similarity.semanticDedup(plantedEmbeddings(s, d),
          "vec_id", "embedding", k = 8, iters = 3, minCos = 0.99,
          maxBucketSize = 1 << 20)
        .select(col("vec_id")),
      Some("SELECT vec_id FROM embeddings")),

    Q("q_simhash", // 64-bit SimHash per doc. Signature bits aren't
      // SQL-expressible (xxhash64), so the gate pins the PROPERTY that
      // the native codegen'd expression equals the built-ins-only
      // declarative spec on every document (null-safe equality) — an
      // implementation==specification check the oracle states as a
      // constant-true column; any bit divergence on any doc goes red.
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          (Dedup.simhash(col("text")) <=>
            Dedup.simhashDeclarative(col("text"))).as("sig_ok")),
      Some("SELECT doc_id, true AS sig_ok FROM documents")),

    Q("q_simhash_pairs", // SimHash hamming-neighbor dedup candidates
      // (Manku et al. WWW'07 banding; exact recall for hamming <= 3).
      // Pair set isn't SQL-expressible; the gate pins the planted-copy
      // property: every planted exact duplicate pair must surface with
      // hamming 0 (identical text -> identical signature, co-bucketed
      // in every band). Left join: a recall miss -> null hamming -> red.
      // maxBucketSize raised for the same reason as q_minhash_pairs:
      // the id-ascending cap would evict planted copies first, making
      // the gate conditional on corpus boilerplate (ADVICE r6).
      (s, d) => {
        val pairs = Dedup.simhashPairs(plantedDocs(s, d), "doc_id", "text",
          maxBucketSize = 1 << 20)
        val expected = t(s, d, "documents").filter(col("doc_id") < 10)
          .select(col("doc_id").as("id_a"),
            (col("doc_id") + 1000000).as("id_b"))
        expected.join(pairs, Seq("id_a", "id_b"), "left_outer")
          .select(col("id_a"), col("id_b"), col("hamming"))
      },
      Some("""SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
             |  CAST(0 AS BIGINT) AS hamming
             |FROM documents WHERE doc_id < 10""".stripMargin)),

    Q("q_cosine_knn", // brute-force cosine top-k against one query vector
      (s, d) => Similarity.cosineTopK(t(s, d, "embeddings"),
        "vec_id", "embedding", queryId = 0L, k = 20),
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |s AS (SELECT e.vec_id AS id,
             |  list_aggregate(list_transform(e.embedding,
             |    (x, i) -> CAST(x AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), 'sum')
             |  / (sqrt(list_aggregate(list_transform(e.embedding,
             |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
             |   * sqrt(list_aggregate(list_transform(q.qv,
             |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS c
             |  FROM embeddings e, q WHERE e.vec_id <> 0)
             |SELECT id, round(c, 6) + 0 AS cos_sim FROM s
             |ORDER BY round(c, 6) DESC, id LIMIT 20""".stripMargin),
      headline = true),

    Q("q_srp_topk", // LSH-bucketed ANN. Cell membership isn't
      // SQL-expressible, so the gate pins the planted-duplicate
      // property (an exact copy of query vector 0 lives at id 1000000,
      // and exact copies always co-bucket): rank-1 of the bucketed scan
      // must be that copy at cos_sim 1.0, with all k slots filled —
      // ONE aggregation over the 20-row ANN result, so the bench
      // number stays the bucketed scan itself (similarity-precision of
      // the scan is pinned separately by DedupSimilaritySpec's
      // srpTopK==brute-force-within-cell equivalence).
      (s, d) => Similarity.srpTopK(plantedEmbeddings(s, d), "vec_id",
          "embedding", queryId = 0L, k = 20, nBits = 4)
        .agg(
          max_by(col("id"), struct(col("cos_sim"), -col("id")))
            .as("top1_id"),
          max(col("cos_sim")).as("top1_cos"),
          count(lit(1)).as("n_rows")),
      Some("""SELECT CAST(1000000 AS BIGINT) AS top1_id,
             |  CAST(1.0 AS DOUBLE) AS top1_cos,
             |  CAST(20 AS BIGINT) AS n_rows""".stripMargin)),

    Q("q_srp_batch", // the LSH-bucketed tier's batch face (closing
      // the last single-query-only probe in the ANN family): queries
      // 0..3 in ONE job, each scoring only its own SRP bucket via the
      // cell-equality broadcast join. Cell membership isn't
      // SQL-expressible (xxhash64 signatures), so the gate pins the
      // planted-duplicate property per query: the exact copy
      // co-buckets by construction and ranks first at cos 1.0.
      // Batch ≡ per-query srpTopK is spec-pinned.
      (s, d) => {
        val planted = plantedEmbeddings(s, d)
        VectorIndex.topKBatch(planted, "vec_id", "embedding",
            planted.filter(col("vec_id") < 4)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 20, VectorCodec.Srp(4))
          .groupBy(col("qid"))
          .agg(
            max_by(col("id"), struct(col("cos_sim"), -col("id")))
              .as("top1_id"),
            max(col("cos_sim")).as("top1_cos"),
            (count(lit(1)) >= 1).as("has_rows"))
      },
      Some("""SELECT CAST(v.c0 AS BIGINT) AS qid,
             |  CAST(v.c1 AS BIGINT) AS top1_id,
             |  CAST(v.c2 AS DOUBLE) AS top1_cos,
             |  true AS has_rows
             |FROM (VALUES
             |  (0, 1000000, 1.0),
             |  (1, 1000001, 1.0),
             |  (2, 1000002, 1.0),
             |  (3, 1000003, 1.0)) AS v(c0, c1, c2)""".stripMargin)),

    Q("q_srp_indexed", // the PERSISTED SRP index (r17 verdict #2):
      // cells materialized once at ingest with nBits persisted as
      // index metadata (.srpmeta — probes derive their query
      // signatures from it, so build/probe disagreement is
      // impossible), the q_srp_batch query table probed at rest — per
      // query IDENTICAL to the direct batch operator (cells are pure
      // in (vector, nBits)), so the oracle is q_srp_batch's VERBATIM.
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_srpi_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val planted = plantedEmbeddings(s, d)
        if (!new java.io.File(dir, "_SUCCESS").exists())
          VectorIndex.build(planted, "vec_id", "embedding", dir,
            VectorCodec.Srp(4))
        VectorIndex.probe(s, dir,
            planted.filter(col("vec_id") < 4)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 20)
          .groupBy(col("qid"))
          .agg(
            max_by(col("id"), struct(col("cos_sim"), -col("id")))
              .as("top1_id"),
            max(col("cos_sim")).as("top1_cos"),
            (count(lit(1)) >= 1).as("has_rows"))
      },
      Some("""SELECT CAST(v.c0 AS BIGINT) AS qid,
             |  CAST(v.c1 AS BIGINT) AS top1_id,
             |  CAST(v.c2 AS DOUBLE) AS top1_cos,
             |  true AS has_rows
             |FROM (VALUES
             |  (0, 1000000, 1.0),
             |  (1, 1000001, 1.0),
             |  (2, 1000002, 1.0),
             |  (3, 1000003, 1.0)) AS v(c0, c1, c2)""".stripMargin)),

    Q("q_srp_stream_exec", // STREAMING EXECUTION gate on the SRP
      // index (the q_bq_stream_exec recipe on the LSH tier): the
      // planted corpus drains through the incremental engine into
      // per-batch signed subtrees (VectorIndex.appendBatch under the persisted
      // nBits — replays rewrite identical rows), then the standard
      // query batch probes the FRESH index at rest. One drain probes
      // exactly like a one-shot VectorIndex.build, so the oracle is
      // q_srp_batch's VERBATIM.
      (s, d) => {
        val dir = scratchDir("graft-stream-srp")
        val planted = plantedEmbeddings(s, d)
        planted.write.parquet(s"$dir/src")
        EventStreams.vectorIndexAvailableNow(s,
          s"$dir/src", "vec_id", col("embedding"), s"$dir/idx",
          s"$dir/ckpt", VectorCodec.Srp(4))
        VectorIndex.probe(s, s"$dir/idx",
            planted.filter(col("vec_id") < 4)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 20)
          .groupBy(col("qid"))
          .agg(
            max_by(col("id"), struct(col("cos_sim"), -col("id")))
              .as("top1_id"),
            max(col("cos_sim")).as("top1_cos"),
            (count(lit(1)) >= 1).as("has_rows"))
      },
      Some("""SELECT CAST(v.c0 AS BIGINT) AS qid,
             |  CAST(v.c1 AS BIGINT) AS top1_id,
             |  CAST(v.c2 AS DOUBLE) AS top1_cos,
             |  true AS has_rows
             |FROM (VALUES
             |  (0, 1000000, 1.0),
             |  (1, 1000001, 1.0),
             |  (2, 1000002, 1.0),
             |  (3, 1000003, 1.0)) AS v(c0, c1, c2)""".stripMargin)),

    Q("q_srp_lifecycle", // SRP index lifecycle (the model-free core
      // with the .srpmeta sidecar): build on a prefix, APPEND the rest
      // plus planted +1M copies of queries 0..3 (append ≡ one-shot —
      // cells derive from the persisted nBits), DELETE ids 4..9
      // (immediate exclusion), COMPACT (tombstones clear), probe: per
      // query the planted copy co-buckets and ranks first at cos 1.0,
      // zero deleted ids surface.
      (s, d) => {
        val root = s"${System.getProperty("java.io.tmpdir")}/graft_srpl_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}"
        TempDirs.deleteOnExit(new java.io.File(root))
        val dir = s"$root/idx"
        val emb = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"))
        VectorIndex.build(emb.filter(col("vec_id") < 400),
          "vec_id", "embedding", dir, VectorCodec.Srp(4))
        VectorIndex.append(
          emb.filter(col("vec_id") >= 400).unionByName(
            emb.filter(col("vec_id") < 4)
              .select((col("vec_id") + 1000000L).as("vec_id"),
                col("embedding"))),
          "vec_id", "embedding", dir, VectorCodec.Srp(4))
        VectorIndex.delete(dir,
          emb.filter(col("vec_id").between(4, 9)).select(col("vec_id")),
          "vec_id")
        VectorIndex.compact(s, dir)
        VectorIndex.probe(s, dir,
            emb.filter(col("vec_id") < 4)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 20)
          .groupBy(col("qid"))
          .agg(
            max_by(col("id"), struct(col("cos_sim"), -col("id")))
              .as("top1_id"),
            max(col("cos_sim")).as("top1_cos"),
            (count(lit(1)) >= 1).as("has_rows"),
            sum(col("id").between(4, 9).cast("long"))
              .as("deleted_hits"))
      },
      Some("""SELECT CAST(v.c0 AS BIGINT) AS qid,
             |  CAST(v.c1 AS BIGINT) AS top1_id,
             |  CAST(v.c2 AS DOUBLE) AS top1_cos,
             |  true AS has_rows,
             |  CAST(0 AS BIGINT) AS deleted_hits
             |FROM (VALUES
             |  (0, 1000000, 1.0),
             |  (1, 1000001, 1.0),
             |  (2, 1000002, 1.0),
             |  (3, 1000003, 1.0)) AS v(c0, c1, c2)""".stripMargin)),

    Q("q_srp_filtered", // metadata-filtered probe of the SRP index:
      // the predicate (over extraCols riding the index rows) runs on
      // the scan BEFORE the bucket join and the per-query top-k.
      // Planted design: copies of queries 0..3 and vectors 10..21 at
      // +1M carry the otherwise-nonexistent label 99 — the filter
      // keeps ONLY planted rows (min id >= 1M pins it), and each
      // query's exact copy co-buckets by construction and ranks first
      // at cos 1.0.
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_srpf_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val emb = t(s, d, "embeddings")
        val corpus = emb
          .select(col("vec_id"), col("embedding"), col("label"))
          .unionByName(
            emb.filter(col("vec_id") < 4 ||
                col("vec_id").between(10, 21))
              .select((col("vec_id") + 1000000L).as("vec_id"),
                col("embedding"), lit(99).as("label")))
        if (!new java.io.File(dir, "_SUCCESS").exists())
          VectorIndex.build(corpus, "vec_id", "embedding", dir,
            VectorCodec.Srp(4), extraCols = Seq("label"))
        VectorIndex.probe(s, dir,
            emb.filter(col("vec_id") < 4)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 20, Some(col("label") === 99))
          .groupBy(col("qid"))
          .agg(
            max_by(col("id"), struct(col("cos_sim"), -col("id")))
              .as("top1_id"),
            max(col("cos_sim")).as("top1_cos"),
            (min(col("id")) >= 1000000L).as("only_filtered"))
      },
      Some("""SELECT CAST(v.c0 AS BIGINT) AS qid,
             |  CAST(v.c1 AS BIGINT) AS top1_id,
             |  CAST(v.c2 AS DOUBLE) AS top1_cos,
             |  true AS only_filtered
             |FROM (VALUES
             |  (0, 1000000, 1.0),
             |  (1, 1000001, 1.0),
             |  (2, 1000002, 1.0),
             |  (3, 1000003, 1.0)) AS v(c0, c1, c2)""".stripMargin)),

    Q("q_srp_bench", // headline bench twin of q_srp_topk: times the RAW
      // bucketed-ANN scan on the raw embeddings table — no planted
      // union, no gate scaffolding (VERDICT r6 task 1; the r5→r6
      // 0.38→0.52 s "regression" was the added planted union + gate,
      // not the operator). The only post-operator work is one
      // aggregation over the operator's own 20-row output. Result
      // quality is pinned elsewhere: q_srp_topk (non-headline) gates
      // planted-copy rank-1 recall, and DedupSimilaritySpec pins
      // srpTopK == brute-force-within-cell equivalence; the oracle here
      // pins the SQL-expressible invariants (k rows, cosine in
      // [-1, 1], ids distinct and query-excluded).
      (s, d) => Similarity.srpTopK(t(s, d, "embeddings"), "vec_id",
          "embedding", queryId = 0L, k = 20, nBits = 4)
        .agg(count(lit(1)).as("n_rows"),
          count_distinct(col("id")).as("n_ids"),
          (min(col("cos_sim")) >= -1.0000001 &&
            max(col("cos_sim")) <= 1.0000001).as("cos_bounded"),
          (sum(when(col("id") === 0L, 1).otherwise(0)) === 0)
            .as("query_excluded")),
      Some("""SELECT CAST(20 AS BIGINT) AS n_rows,
             |  CAST(20 AS BIGINT) AS n_ids,
             |  true AS cos_bounded, true AS query_excluded"""
        .stripMargin),
      headline = true),

    Q("q_int8_cosine", // symmetric int8 quantization error bound: over
      // every pair of the first 50 embeddings, the quantized cosine
      // (4x smaller vectors, integer dots, scales cancel) must sit
      // within 0.02 of the exact float cosine — ~3x the sqrt(3)/254
      // analytic RMS bound for dense vectors, so the gate is tight
      // enough to catch a scaling/rounding bug and loose enough to
      // never flip on corpus draw. Any violation -> ok=false -> red.
      (s, d) => {
        val emb = t(s, d, "embeddings").filter(col("vec_id") < 50)
        val qz = Similarity.withInt8Quantized(emb, "embedding")
          .select(col("vec_id"), col("embedding"), col("q_vec"))
        val a = qz.select(col("vec_id").as("id_a"),
          col("embedding").as("v_a"), col("q_vec").as("q_a"))
        val b = qz.select(col("vec_id").as("id_b"),
          col("embedding").as("v_b"), col("q_vec").as("q_b"))
        a.join(b, col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            (abs(Similarity.quantizedCosine(col("q_a"), col("q_b")) -
              Similarity.cosine(col("v_a"), col("v_b"))) <= 0.02).as("ok"))
      },
      Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b, true AS ok
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE a.vec_id < 50 AND b.vec_id < 50""".stripMargin)),

    Q("q_int8_topk", // ANN retrieval over the QUANTIZED corpus: same
      // planted-copy gate as q_srp_topk (identical input -> identical
      // quantized vector -> quantized cosine exactly 1.0), proving the
      // quarter-IO scan still ranks the true duplicate first.
      (s, d) => Similarity.int8TopK(plantedEmbeddings(s, d), "vec_id",
          "embedding", queryId = 0L, k = 20)
        .agg(
          max_by(col("id"), struct(col("q_cos"), -col("id")))
            .as("top1_id"),
          max(col("q_cos")).as("top1_cos"),
          count(lit(1)).as("n_rows")),
      Some("""SELECT CAST(1000000 AS BIGINT) AS top1_id,
             |  CAST(1.0 AS DOUBLE) AS top1_cos,
             |  CAST(20 AS BIGINT) AS n_rows""".stripMargin)),

    Q("q_int8_batch", // the int8 tier's batch probe (queries 0..3 in
      // ONE job — the cosineTopKBatch shape over quantized columns,
      // closing the last single-query-only face of the quantization
      // ladder): per query the planted +1M copy quantizes identically
      // and ranks first at q_cos exactly 1.0 with all 20
      // post-exclusion slots filled. Batch == per-query is spec-pinned
      // in DedupSimilaritySpec.
      (s, d) => {
        val planted = plantedEmbeddings(s, d)
        VectorIndex.topKBatch(planted, "vec_id", "embedding",
            planted.filter(col("vec_id") < 4)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 20, VectorCodec.Int8)
          .groupBy(col("qid"))
          .agg(
            max_by(col("id"), struct(col("q_cos"), -col("id")))
              .as("top1_id"),
            max(col("q_cos")).as("top1_cos"),
            count(lit(1)).as("n_rows"))
      },
      Some("""SELECT CAST(v.c0 AS BIGINT) AS qid,
             |  CAST(v.c1 AS BIGINT) AS top1_id,
             |  CAST(v.c2 AS DOUBLE) AS top1_cos,
             |  CAST(v.c3 AS BIGINT) AS n_rows
             |FROM (VALUES
             |  (0, 1000000, 1.0, 20),
             |  (1, 1000001, 1.0, 20),
             |  (2, 1000002, 1.0, 20),
             |  (3, 1000003, 1.0, 20)) AS v(c0, c1, c2, c3)"""
        .stripMargin)),

    Q("q_int8_bench", // headline: the at-rest-quantized ANN scan. The
      // quantized corpus is materialized ONCE per (process, sf) — the
      // deployment shape: quantize at ingest, then every scan reads
      // quarter the bytes — so the bench warm-up pass pays the build
      // and the timed passes measure the pure int8 scan, sitting
      // beside q_cosine_knn's float scan as the direct comparison.
      // No planted union or gate scaffolding (bench-governance shape —
      // one aggregation over the operator's own 20-row output); result
      // quality is pinned by q_int8_cosine (error bound) and
      // q_int8_topk (planted rank-1); the oracle here pins the
      // SQL-expressible invariants.
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_int8_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/corpus"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        // _SUCCESS-gated like q_incr_bench: partial writes rebuild
        if (!new java.io.File(dir, "_SUCCESS").exists())
          VectorIndex.build(t(s, d, "embeddings"), "vec_id",
            "embedding", dir, VectorCodec.Int8)
        Similarity.int8TopKPrequantized(s, dir, queryId = 0L, k = 20)
          .agg(count(lit(1)).as("n_rows"),
            count_distinct(col("id")).as("n_ids"),
            (min(col("q_cos")) >= -1.0000001 &&
              max(col("q_cos")) <= 1.0000001).as("cos_bounded"),
            (sum(when(col("id") === 0L, 1).otherwise(0)) === 0)
              .as("query_excluded"))
      },
      Some("""SELECT CAST(20 AS BIGINT) AS n_rows,
             |  CAST(20 AS BIGINT) AS n_ids,
             |  true AS cos_bounded, true AS query_excluded"""
        .stripMargin),
      headline = true),

    Q("q_index_report", // one-call index health report (r16 verdict
      // #6): indexReport(root) DETECTS what lives at a path — here a
      // flat BM25 posting index, a flat centroid-IVF index, a flat
      // binary-signature index, and the raw embeddings table — and
      // emits each kind's fixed metric set as one long relation
      // (kind, layout, metric, value). The gate pins the DETECTION
      // and the SQL-derivable metrics (counts + corpus statistics);
      // the model-dependent dials (skew, residual) and the versioned/
      // batch layouts are spec-pinned in MaintenanceSpec. Indexes are
      // staged once per (process, sf), _SUCCESS-gated.
      (s, d) => {
        val root = s"${System.getProperty("java.io.tmpdir")}/graft_ixr_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}"
        TempDirs.deleteOnExit(new java.io.File(root))
        val docs = t(s, d, "documents")
        val emb = t(s, d, "embeddings")
        if (!new java.io.File(s"$root/bm25", "_SUCCESS").exists())
          CorpusOps.buildBm25Index(docs, "doc_id", "text", s"$root/bm25")
        if (!new java.io.File(s"$root/ivf", "_SUCCESS").exists())
          Similarity.ivfBuild(emb, "vec_id", "embedding", s"$root/ivf",
            nCells = 8, iters = 3)
        if (!new java.io.File(s"$root/bq", "_SUCCESS").exists())
          VectorIndex.build(emb, "vec_id", "embedding", s"$root/bq",
            VectorCodec.Binary)
        val keep = Map(
          "bm25" -> Set("n_builds", "n_batches", "n_tombstones",
            "n_docs", "sum_dl", "generation"),
          "ivf" -> Set("n_cells", "n_vecs", "n_tombstones",
            "tombstone_frac", "generation"),
          "bq" -> Set("n_vecs", "n_tombstones", "tombstone_frac",
            "generation"),
          "embeddings" -> Set("n_vecs", "n_null", "dim_min", "dim_max",
            "generation"))
        Seq(s"$root/bm25", s"$root/ivf", s"$root/bq",
            s"$d/embeddings.parquet")
          .map(p => graft.operators.IndexOps.indexReport(s, p))
          .reduce(_ unionByName _)
          .filter(keep.map { case (kind, ms) =>
            col("kind") === kind &&
              col("metric").isin(ms.toSeq: _*)
          }.reduce(_ || _))
      },
      Some("""WITH dtok AS (SELECT
             |    len(string_split_regex(trim(text), '\s+')) AS dl
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''),
             |bm AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             |    CAST(sum(dl) AS DOUBLE) AS sum_dl FROM dtok),
             |ec AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             |    CAST(min(len(embedding)) AS DOUBLE) AS dmin,
             |    CAST(max(len(embedding)) AS DOUBLE) AS dmax
             |  FROM embeddings)
             |SELECT 'bm25' AS kind, 'flat' AS layout,
             |  'n_builds' AS metric, CAST(1 AS DOUBLE) AS value
             |UNION ALL SELECT 'bm25', 'flat', 'n_batches',
             |  CAST(0 AS DOUBLE)
             |UNION ALL SELECT 'bm25', 'flat', 'n_tombstones',
             |  CAST(0 AS DOUBLE)
             |UNION ALL SELECT 'bm25', 'flat', 'n_docs', n_docs FROM bm
             |UNION ALL SELECT 'bm25', 'flat', 'sum_dl', sum_dl FROM bm
             |UNION ALL SELECT 'bm25', 'flat', 'generation',
             |  CAST(-1 AS DOUBLE)
             |UNION ALL SELECT 'ivf', 'flat', 'n_cells',
             |  CAST(8 AS DOUBLE)
             |UNION ALL SELECT 'ivf', 'flat', 'n_vecs', n FROM ec
             |UNION ALL SELECT 'ivf', 'flat', 'n_tombstones',
             |  CAST(0 AS DOUBLE)
             |UNION ALL SELECT 'ivf', 'flat', 'tombstone_frac',
             |  CAST(0 AS DOUBLE)
             |UNION ALL SELECT 'ivf', 'flat', 'generation',
             |  CAST(-1 AS DOUBLE)
             |UNION ALL SELECT 'bq', 'flat', 'n_vecs', n FROM ec
             |UNION ALL SELECT 'bq', 'flat', 'n_tombstones',
             |  CAST(0 AS DOUBLE)
             |UNION ALL SELECT 'bq', 'flat', 'tombstone_frac',
             |  CAST(0 AS DOUBLE)
             |UNION ALL SELECT 'bq', 'flat', 'generation',
             |  CAST(-1 AS DOUBLE)
             |UNION ALL SELECT 'embeddings', 'table', 'n_vecs',
             |  n FROM ec
             |UNION ALL SELECT 'embeddings', 'table', 'n_null',
             |  CAST(0 AS DOUBLE)
             |UNION ALL SELECT 'embeddings', 'table', 'dim_min',
             |  dmin FROM ec
             |UNION ALL SELECT 'embeddings', 'table', 'dim_max',
             |  dmax FROM ec
             |UNION ALL SELECT 'embeddings', 'table', 'generation',
             |  CAST(-1 AS DOUBLE)""".stripMargin)),

    Q("q_embedding_report", // one-call embedding data card (the
      // q_corpus_report twin on the vector side): fixed metric set —
      // null/nonfinite/zero-vector counts, dim spread, norm stats
      // (rounded-6 norms before the order statistics, so both engines
      // interpolate over identical values), exact-dup fraction. The
      // corpus leg plants one NULL vector and two copies of vector 0
      // so every counter has a non-trivial value.
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val corpus = emb.select(col("vec_id"), col("embedding"))
          .unionByName(emb.filter(col("vec_id") < 2)
            .select((col("vec_id") + 1000000).as("vec_id"),
              lit(null).cast("array<float>").as("embedding")))
          .unionByName(emb.filter(col("vec_id") === 0)
            .select((col("vec_id") + 2000000).as("vec_id"),
              col("embedding")))
        Similarity.embeddingReport(corpus, "vec_id", "embedding")
      },
      Some("""WITH emb AS (
             |  SELECT vec_id, embedding FROM embeddings
             |  UNION ALL
             |  SELECT vec_id + 1000000, NULL FROM embeddings
             |  WHERE vec_id < 2
             |  UNION ALL
             |  SELECT vec_id + 2000000, embedding FROM embeddings
             |  WHERE vec_id = 0),
             |b AS (SELECT vec_id, embedding,
             |    embedding IS NULL AS is_null,
             |    CASE WHEN embedding IS NOT NULL
             |      THEN len(embedding) END AS dim,
             |    CASE WHEN embedding IS NULL THEN false
             |      ELSE len(list_filter(embedding,
             |        x -> isnan(x) OR isinf(x))) > 0 END AS nonfinite,
             |    CASE WHEN embedding IS NOT NULL THEN
             |      round(sqrt(list_aggregate(list_transform(embedding,
             |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
             |        'sum')), 6) END AS nrm
             |  FROM emb)
             |SELECT 'n_vecs' AS metric, CAST(count(*) AS DOUBLE) AS value
             |  FROM b
             |UNION ALL SELECT 'n_null', CAST(sum(CASE WHEN is_null
             |  THEN 1 ELSE 0 END) AS DOUBLE) FROM b
             |UNION ALL SELECT 'n_nonfinite', CAST(sum(CASE WHEN
             |  nonfinite THEN 1 ELSE 0 END) AS DOUBLE) FROM b
             |UNION ALL SELECT 'dim_min',
             |  coalesce(CAST(min(dim) AS DOUBLE), CAST(0 AS DOUBLE)) FROM b
             |UNION ALL SELECT 'dim_max',
             |  coalesce(CAST(max(dim) AS DOUBLE), CAST(0 AS DOUBLE)) FROM b
             |UNION ALL SELECT 'n_zero', CAST(sum(CASE WHEN nrm = 0
             |  THEN 1 ELSE 0 END) AS DOUBLE) FROM b
             |UNION ALL SELECT 'norm_avg',
             |  coalesce(round(avg(nrm), 4), CAST(0 AS DOUBLE)) FROM b
             |UNION ALL SELECT 'norm_p50',
             |  coalesce(round(percentile_cont(0.5) WITHIN GROUP (
             |    ORDER BY nrm), 4), CAST(0 AS DOUBLE)) FROM b
             |UNION ALL SELECT 'norm_p90',
             |  coalesce(round(percentile_cont(0.9) WITHIN GROUP (
             |    ORDER BY nrm), 4), CAST(0 AS DOUBLE)) FROM b
             |UNION ALL SELECT 'exact_dup_frac',
             |  coalesce(round(CAST(1.0 AS DOUBLE)
             |    - count(DISTINCT embedding)
             |      / CAST(count(*) AS DOUBLE), 6), CAST(0 AS DOUBLE))
             |  FROM b WHERE NOT is_null""".stripMargin)),

    Q("q_mrl_batch", // Matryoshka retrieval (Kusupati et al. 2022):
      // batch cosine ranking on the FIRST 16 of 64 dimensions — the
      // cheap stage of funnel retrieval (quarter the vector bytes per
      // pair; cosine is scale-invariant so no renorm after the
      // slice). FULL differential oracle: DuckDB slices the identical
      // prefix and runs the identical double arithmetic. The
      // full-dim rerank funnel and its pool>=corpus degenerate law
      // are spec-pinned in DedupSimilaritySpec.
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.matryoshkaTopKBatch(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 4)
            .select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", k = 10, dims = 16)
      },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding[1:16] AS qv
             |  FROM embeddings WHERE vec_id < 4),
             |s AS (SELECT q.qid, e.vec_id AS id,
             |  round(list_aggregate(list_transform(e.embedding[1:16],
             |    (x, i) -> CAST(x AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)),
             |    'sum')
             |  / (sqrt(list_aggregate(list_transform(e.embedding[1:16],
             |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
             |   * sqrt(list_aggregate(list_transform(q.qv,
             |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))),
             |    6) + 0 AS cos_sim
             |  FROM embeddings e JOIN q ON e.vec_id <> q.qid),
             |r AS (SELECT qid, id, cos_sim,
             |    row_number() OVER (PARTITION BY qid
             |                       ORDER BY cos_sim DESC, id) AS rn
             |  FROM s)
             |SELECT qid, id, cos_sim FROM r WHERE rn <= 10"""
        .stripMargin)),

    Q("q_bq_topk", // binary quantization: 1-bit sign signatures
      // packed 32 per word, XOR+popcount scoring — the 32x-at-rest
      // rung with NO trained model, so unlike the PQ tier the whole
      // ranking gates against a FULL differential oracle (DuckDB
      // packs the identical words with the identical bit arithmetic;
      // 32-bit words in signed longs keep every value CAST-safe —
      // the HUGEINT hazard). Planted copy of query 0 has Hamming 0 ->
      // rank 1; ranking (hamming asc, id) is a total order.
      (s, d) => Similarity.bqTopK(plantedEmbeddings(s, d), "vec_id",
        "embedding", queryId = 0L, k = 10),
      Some("""WITH emb AS (
             |  SELECT vec_id, embedding FROM embeddings
             |  UNION ALL
             |  SELECT vec_id + 1000000, embedding FROM embeddings
             |  WHERE vec_id < 10),
             |sig AS (SELECT vec_id,
             |  list_transform(range((len(embedding)+31)//32), w ->
             |    CAST(list_aggregate(list_transform(range(32), b ->
             |      CASE WHEN w*32+b+1 <= len(embedding)
             |             AND embedding[w*32+b+1] > 0
             |        THEN 1::BIGINT << b ELSE 0::BIGINT END), 'sum')
             |      AS BIGINT)) AS s
             |  FROM emb),
             |q AS (SELECT s FROM sig WHERE vec_id = 0),
             |h AS (SELECT e.vec_id AS id,
             |    CAST(list_aggregate(list_transform(e.s,
             |      (x, i) -> bit_count(xor(x, q.s[i]))), 'sum')
             |      AS BIGINT) AS hamming
             |  FROM sig e CROSS JOIN q WHERE e.vec_id <> 0)
             |SELECT id, hamming FROM h
             |ORDER BY hamming, id LIMIT 10""".stripMargin)),

    Q("q_bq_batch", // the binary tier's batch probe (queries 0..3 in
      // ONE job, broadcast signatures, per-query WindowGroupLimit) —
      // again a FULL differential oracle: per-query (hamming asc, id)
      // top-10, the q_cosine_knn_batch gate pattern with integer
      // scoring. The two-stage rerank recipe (Hamming pools -> exact
      // cosine) is spec-pinned in DedupSimilaritySpec including the
      // pool>=corpus == cosineTopKBatch degenerate law.
      (s, d) => {
        val planted = plantedEmbeddings(s, d)
        VectorIndex.topKBatch(planted, "vec_id", "embedding",
          planted.filter(col("vec_id") < 4)
            .select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", k = 10, VectorCodec.Binary)
      },
      Some(bqBatchOracleSql())),

    Q("q_bq_indexed", // the PERSISTED signature index (r16 verdict
      // #2): signatures materialized ONCE at ingest (the native
      // sign-pack), the q_bq_batch query table probed against them at
      // rest — per query IDENTICAL to the direct batch operator
      // (signatures are pure functions of the vectors), so the oracle
      // is q_bq_batch's VERBATIM. What changes is the scan: the
      // packing fold over the float corpus is gone, replaced by a
      // 32x-compressed signature read — the at-rest IO win SCALE.md
      // claims, now realizable.
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_bqi_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val planted = plantedEmbeddings(s, d)
        if (!new java.io.File(dir, "_SUCCESS").exists())
          VectorIndex.build(planted, "vec_id", "embedding", dir,
            VectorCodec.Binary)
        VectorIndex.probe(s, dir,
          planted.filter(col("vec_id") < 4)
            .select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", k = 10)
      },
      Some(bqBatchOracleSql())),

    Q("q_bq_compact", // signature-index lifecycle: tombstone every
      // id % 3 == 0 (VectorIndex.delete — immediate exclusion), COMPACT (the
      // one explicit rewrite — tombstones clear), probe. A compacted
      // index must probe exactly like a fresh build over the
      // survivors, so the oracle is q_bq_batch's with the deletion
      // predicate applied to the corpus side (queries keep their
      // vectors — they come from the query table, not the index).
      (s, d) => {
        val root = s"${System.getProperty("java.io.tmpdir")}/graft_bqc_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}"
        TempDirs.deleteOnExit(new java.io.File(root))
        val dir = s"$root/idx"
        val planted = plantedEmbeddings(s, d)
        VectorIndex.build(planted, "vec_id", "embedding", dir,
          VectorCodec.Binary)
        VectorIndex.delete(dir,
          planted.filter(col("vec_id") % 3 === 0).select(col("vec_id")),
          "vec_id")
        VectorIndex.compact(s, dir)
        VectorIndex.probe(s, dir,
          planted.filter(col("vec_id") < 4)
            .select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", k = 10)
      },
      Some(bqBatchOracleSql(corpusPred = "vec_id % 3 <> 0"))),

    Q("q_bq_stream_exec", // STREAMING EXECUTION gate on the signature
      // index (r16 verdict #2): the planted corpus drains through the
      // incremental engine into per-batch signature subtrees
      // (VectorIndex.appendBatch — replay-idempotent overwrite; no model to
      // init, the signature is a pure function), then the standard
      // query batch probes the FRESH index at rest. One drain probes
      // exactly like a one-shot build, so the oracle is q_bq_batch's
      // VERBATIM; replay idempotence and the layout guards are
      // spec-pinned in EventStreamsSpec.
      (s, d) => {
        val dir = scratchDir("graft-stream-bq")
        val planted = plantedEmbeddings(s, d)
        planted.write.parquet(s"$dir/src")
        EventStreams.vectorIndexAvailableNow(s,
          s"$dir/src", "vec_id", col("embedding"), s"$dir/idx",
          s"$dir/ckpt", VectorCodec.Binary)
        VectorIndex.probe(s, s"$dir/idx",
          planted.filter(col("vec_id") < 4)
            .select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", k = 10)
      },
      Some(bqBatchOracleSql())),

    Q("q_int8_indexed", // the at-rest BATCH face of the int8 tier
      // (r16 verdict #2's "(and int8)"): the 4x-quantized corpus is
      // materialized once (VectorIndex.build), the q_int8_batch query
      // table probes it with NO quantization work in the query — per
      // query identical to the direct batch operator (quantization is
      // a pure per-vector function), so the oracle is q_int8_batch's
      // VERBATIM.
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_i8i_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/corpus"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val planted = plantedEmbeddings(s, d)
        if (!new java.io.File(dir, "_SUCCESS").exists())
          VectorIndex.build(planted, "vec_id", "embedding", dir,
            VectorCodec.Int8)
        VectorIndex.probe(s, dir,
            planted.filter(col("vec_id") < 4)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 20)
          .groupBy(col("qid"))
          .agg(
            max_by(col("id"), struct(col("q_cos"), -col("id")))
              .as("top1_id"),
            max(col("q_cos")).as("top1_cos"),
            count(lit(1)).as("n_rows"))
      },
      Some("""SELECT CAST(v.c0 AS BIGINT) AS qid,
             |  CAST(v.c1 AS BIGINT) AS top1_id,
             |  CAST(v.c2 AS DOUBLE) AS top1_cos,
             |  CAST(v.c3 AS BIGINT) AS n_rows
             |FROM (VALUES
             |  (0, 1000000, 1.0, 20),
             |  (1, 1000001, 1.0, 20),
             |  (2, 1000002, 1.0, 20),
             |  (3, 1000003, 1.0, 20)) AS v(c0, c1, c2, c3)"""
        .stripMargin)),

    Q("q_bq_rerank_batch", // the binary tier's PRODUCTION recipe
      // (r16 verdict #3): Hamming candidate pools over the packed
      // signatures, exact cosine re-rank of only the pooled rows.
      // Gated in the oracle-able degenerate case (pool >= corpus:
      // every row survives candidate generation, so the result IS the
      // exact batch cosine ranking — the q_pq_rerank_batch recipe
      // verbatim); batch == per-query composition at REAL pools is
      // spec-pinned in DedupSimilaritySpec.
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.bqTopKRerankedBatch(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 4)
            .select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", k = 10, pool = 1000000)
      },
      Some(exactRerankOracleSql)),

    Q("q_mrl_rerank_batch", // the Matryoshka funnel (r16 verdict #3):
      // prefix-dimension candidate pools (16 of 64 dims — quarter the
      // bytes per scanned pair), exact full-dimension cosine re-rank
      // of only the pooled rows. Same degenerate pool >= corpus gate:
      // every row survives the cheap stage, so the result IS the
      // exact batch cosine ranking; the real-pool funnel laws are
      // spec-pinned in DedupSimilaritySpec.
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.matryoshkaRerankedBatch(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 4)
            .select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", k = 10, pool = 1000000, dims = 16)
      },
      Some(exactRerankOracleSql)),

    Q("q_bq_filtered", // metadata-filtered probe of the signature
      // index: the predicate (over extraCols riding the signature
      // rows) runs on the 32x-compressed scan BEFORE the per-query
      // top-k. Signatures and Hamming are engine-portable integer
      // math, so unlike the ADC tiers this is a FULL differential
      // oracle — the q_bq_batch SQL with the label restriction on the
      // corpus side.
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_bqf_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val emb = t(s, d, "embeddings")
        if (!new java.io.File(dir, "_SUCCESS").exists())
          VectorIndex.build(emb, "vec_id", "embedding", dir,
            VectorCodec.Binary, extraCols = Seq("label"))
        VectorIndex.probe(s, dir,
          emb.filter(col("vec_id") < 4)
            .select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", k = 10, Some(col("label") === 1))
      },
      Some("""WITH sig AS (SELECT vec_id, label,
             |  list_transform(range((len(embedding)+31)//32), w ->
             |    CAST(list_aggregate(list_transform(range(32), b ->
             |      CASE WHEN w*32+b+1 <= len(embedding)
             |             AND embedding[w*32+b+1] > 0
             |        THEN 1::BIGINT << b ELSE 0::BIGINT END), 'sum')
             |      AS BIGINT)) AS s
             |  FROM embeddings),
             |q AS (SELECT vec_id AS qid, s AS qs FROM sig
             |  WHERE vec_id < 4),
             |h AS (SELECT q.qid, e.vec_id AS id,
             |    CAST(list_aggregate(list_transform(e.s,
             |      (x, i) -> bit_count(xor(x, q.qs[i]))), 'sum')
             |      AS BIGINT) AS hamming
             |  FROM (SELECT * FROM sig WHERE label = 1) e
             |  JOIN q ON e.vec_id <> q.qid),
             |r AS (SELECT qid, id, hamming,
             |    row_number() OVER (PARTITION BY qid
             |                       ORDER BY hamming, id) AS rn
             |  FROM h)
             |SELECT qid, id, hamming FROM r WHERE rn <= 10"""
        .stripMargin)),

    Q("q_int8_lifecycle", // int8 index lifecycle (the pure-function
      // lifecycle core shared with the signature index): build the
      // at-rest corpus on a prefix, APPEND the rest plus planted +1M
      // copies of queries 0..3 (append ≡ one-shot by purity), DELETE
      // ids 4..9 (immediate exclusion), COMPACT (tombstones clear),
      // then the batch probe: per query the planted copy ranks first
      // at q_cos 1.0 with all 20 slots filled and zero deleted ids
      // surfacing.
      (s, d) => {
        val root = s"${System.getProperty("java.io.tmpdir")}/graft_i8l_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}"
        TempDirs.deleteOnExit(new java.io.File(root))
        val dir = s"$root/corpus"
        val emb = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"))
        VectorIndex.build(emb.filter(col("vec_id") < 400),
          "vec_id", "embedding", dir, VectorCodec.Int8)
        VectorIndex.append(
          emb.filter(col("vec_id") >= 400).unionByName(
            emb.filter(col("vec_id") < 4)
              .select((col("vec_id") + 1000000L).as("vec_id"),
                col("embedding"))),
          "vec_id", "embedding", dir, VectorCodec.Int8)
        VectorIndex.delete(dir,
          emb.filter(col("vec_id").between(4, 9)).select(col("vec_id")),
          "vec_id")
        VectorIndex.compact(s, dir)
        VectorIndex.probe(s, dir,
            emb.filter(col("vec_id") < 4)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 20)
          .groupBy(col("qid"))
          .agg(
            max_by(col("id"), struct(col("q_cos"), -col("id")))
              .as("top1_id"),
            max(col("q_cos")).as("top1_cos"),
            count(lit(1)).as("n_rows"),
            sum(col("id").between(4, 9).cast("long"))
              .as("deleted_hits"))
      },
      Some("""SELECT CAST(v.c0 AS BIGINT) AS qid,
             |  CAST(v.c1 AS BIGINT) AS top1_id,
             |  CAST(v.c2 AS DOUBLE) AS top1_cos,
             |  CAST(v.c3 AS BIGINT) AS n_rows,
             |  CAST(0 AS BIGINT) AS deleted_hits
             |FROM (VALUES
             |  (0, 1000000, 1.0, 20),
             |  (1, 1000001, 1.0, 20),
             |  (2, 1000002, 1.0, 20),
             |  (3, 1000003, 1.0, 20)) AS v(c0, c1, c2, c3)"""
        .stripMargin)),

    Q("q_int8_stream_exec", // STREAMING EXECUTION gate on the int8
      // layout (the q_bq_stream_exec recipe on the 4x tier): the
      // planted corpus drains through the incremental engine into
      // per-batch quantized subtrees (VectorIndex.appendBatch — replays
      // rewrite; quantization is a pure per-vector function, no model
      // to init), then the standard query batch probes the FRESH
      // table at rest — one drain probes exactly like a one-shot
      // VectorIndex.build, so the oracle is q_int8_batch's VALUES pin.
      (s, d) => {
        val dir = scratchDir("graft-stream-int8")
        val planted = plantedEmbeddings(s, d)
        planted.write.parquet(s"$dir/src")
        EventStreams.vectorIndexAvailableNow(s,
          s"$dir/src", "vec_id", col("embedding"), s"$dir/idx",
          s"$dir/ckpt", VectorCodec.Int8)
        VectorIndex.probe(s, s"$dir/idx",
            planted.filter(col("vec_id") < 4)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 20)
          .groupBy(col("qid"))
          .agg(
            max_by(col("id"), struct(col("q_cos"), -col("id")))
              .as("top1_id"),
            max(col("q_cos")).as("top1_cos"),
            count(lit(1)).as("n_rows"))
      },
      Some("""SELECT CAST(v.c0 AS BIGINT) AS qid,
             |  CAST(v.c1 AS BIGINT) AS top1_id,
             |  CAST(v.c2 AS DOUBLE) AS top1_cos,
             |  CAST(v.c3 AS BIGINT) AS n_rows
             |FROM (VALUES
             |  (0, 1000000, 1.0, 20),
             |  (1, 1000001, 1.0, 20),
             |  (2, 1000002, 1.0, 20),
             |  (3, 1000003, 1.0, 20)) AS v(c0, c1, c2, c3)"""
        .stripMargin)),

    Q("q_int8_filtered", // the int8 tier's FILTERED face (r17 verdict
      // #3 / missing #1): metadata rides the 4x-quantized rows
      // (VectorIndex.build extraCols) and the predicate runs on the
      // compressed scan BEFORE the per-query top-k — the
      // q_ivfpq_batch_filtered planted design: 12 copies of vectors
      // 10..21 carry the otherwise-nonexistent label 99, k=20 > 12, so
      // each query's matched ID SET is exactly the planted ids (a
      // post-filtered top-20 of the unfiltered ranking would visibly
      // shrink it — spec-pinned in BqIndexSpec). Scores are quantized
      // cosine (engine-local rounding), so the set is the oracle-able
      // surface, matching the ivfpq precedent.
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_i8f_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/corpus"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val emb = t(s, d, "embeddings")
        val corpus = emb
          .select(col("vec_id"), col("embedding"), col("label"))
          .unionByName(emb.filter(col("vec_id").between(10, 21))
            .select((col("vec_id") + 1000000).as("vec_id"),
              col("embedding"), lit(99).as("label")))
        if (!new java.io.File(dir, "_SUCCESS").exists())
          VectorIndex.build(corpus, "vec_id", "embedding",
            dir, VectorCodec.Int8, extraCols = Seq("label"))
        VectorIndex.probe(s, dir,
            emb.filter(col("vec_id") < 2)
              .select(col("vec_id").as("qid"),
                col("embedding").as("qv")),
            "qid", "qv", k = 20, Some(col("label") === 99))
          .select(col("qid"), col("id"))
      },
      Some("""SELECT q.qid, CAST(e.vec_id + 1000000 AS BIGINT) AS id
             |FROM (SELECT vec_id AS qid FROM embeddings
             |      WHERE vec_id < 2) q
             |CROSS JOIN (SELECT vec_id FROM embeddings
             |            WHERE vec_id BETWEEN 10 AND 21) e"""
        .stripMargin)),

    Q("q_bq_rerank_indexed", // the binary production funnel fully AT
      // REST: Hamming candidate pools read the persisted signature
      // index (no re-signing of the float corpus — the r17 at-rest
      // story end to end), exact cosine re-rank of only the pooled
      // rows. Degenerate pool >= corpus == the exact batch cosine
      // (the shared rerank oracle); indexed ≡ direct funnel at real
      // pools is spec-pinned in BqIndexSpec.
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_bqri_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val emb = t(s, d, "embeddings")
        if (!new java.io.File(dir, "_SUCCESS").exists())
          VectorIndex.build(emb, "vec_id", "embedding", dir,
            VectorCodec.Binary)
        Similarity.bqTopKIndexedRerankedBatch(s, dir, emb, "vec_id",
          "embedding",
          emb.filter(col("vec_id") < 4)
            .select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", k = 10, pool = 1000000)
      },
      Some(exactRerankOracleSql)),

    Q("q_mmr_rerank", // maximal-marginal-relevance diversified
      // re-rank (Carbonell & Goldstein 1998) — the diversification
      // stage of a retrieval/selection pipeline, greedy per-query
      // selection over a BOUNDED candidate pool (one shuffle on the
      // query key, the legitimate mapGroups case). Gated in the
      // oracle-able degenerate case lambda=1 (pure relevance: the
      // selection order IS the (rel desc, id) ranking, so the result
      // matches the exact batch-cosine top-10 with rank); the
      // diversity behavior (a duplicate of an already-picked row is
      // penalized by cosine 1.0 and sinks at lambda<1) plus the
      // mmr == rel score law are spec-pinned in FilteredRetrievalSpec.
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val cands = Similarity.cosineTopKBatch(emb, "vec_id",
            "embedding",
            emb.filter(col("vec_id") < 4)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 50)
          .join(emb.select(col("vec_id").as("id"), col("embedding")),
            Seq("id"))
        Similarity.mmrRerankBatch(cands, "qid", "id", "cos_sim",
            "embedding", k = 10, lambda = 1.0)
          .select(col("qid"), col("id"), col("rank"))
      },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qv
             |  FROM embeddings WHERE vec_id < 4),
             |s AS (SELECT q.qid, e.vec_id AS id,
             |  round(list_aggregate(list_transform(e.embedding,
             |    (x, i) -> CAST(x AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)),
             |    'sum')
             |  / (sqrt(list_aggregate(list_transform(e.embedding,
             |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
             |   * sqrt(list_aggregate(list_transform(q.qv,
             |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))),
             |    6) + 0 AS cos_sim
             |  FROM embeddings e JOIN q ON e.vec_id <> q.qid),
             |r AS (SELECT qid, id, cos_sim,
             |    row_number() OVER (PARTITION BY qid
             |                       ORDER BY cos_sim DESC, id) AS rn
             |  FROM s)
             |SELECT qid, id, CAST(rn AS BIGINT) AS rank
             |FROM r WHERE rn <= 10""".stripMargin)),

    Q("q_ivfpq_batch_filtered", // FILTERED batch ANN on the COMPOSED
      // index — q_ivfpq_filtered's planted design through the
      // DataFrame-coordinated widening loop (r16 verdict #4): 12
      // copies of vectors 10..21 carry the otherwise-nonexistent
      // label 99, k=20 > 12 forces every query to widen to FULL
      // coverage, so each query's matched ID SET is exactly the
      // planted ids (ADC scores are model-specific — the set is the
      // oracle-able surface, and post-filtering a top-20 would
      // visibly shrink it). Batch == single law and the no-IN-list
      // coordination are spec-pinned.
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ivfpqbf_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val emb = t(s, d, "embeddings")
        val corpus = emb
          .select(col("vec_id"), col("embedding"), col("label"))
          .unionByName(emb.filter(col("vec_id").between(10, 21))
            .select((col("vec_id") + 1000000).as("vec_id"),
              col("embedding"), lit(99).as("label")))
        Similarity.ivfBuild(corpus, "vec_id", "embedding", dir,
          IvfTier.Pq(m = 8, nbits = 8), nCells = 8, iters = 3,
          extraCols = Seq("label"))
        Similarity.ivfProbe(s, dir,
            emb.filter(col("vec_id") < 2)
              .select(col("vec_id").as("qid"),
                col("embedding").as("qv")),
            "qid", "qv", k = 20, probes = 1, Some(col("label") === 99))
          .select(col("qid"), col("id"))
      },
      Some("""SELECT q.qid, CAST(e.vec_id + 1000000 AS BIGINT) AS id
             |FROM (SELECT vec_id AS qid FROM embeddings
             |      WHERE vec_id < 2) q
             |CROSS JOIN (SELECT vec_id FROM embeddings
             |            WHERE vec_id BETWEEN 10 AND 21) e"""
        .stripMargin)),

    Q("q_pq_topk", // product-quantization ANN (Jégou et al. 2011): the
      // 32x-compression rung below int8's 4x — 8-byte codes, ADC
      // table-lookup scoring, no per-row float math. Same planted-copy
      // gate as q_int8_topk: the planted duplicate encodes to the
      // query's own codes, so its ADC distance is the per-subspace
      // minimum — rank 1 deterministically (training is deterministic:
      // hash-ordered sample, first-k-distinct seeds, first-wins
      // argmin; verified top-1 at all three SFs).
      (s, d) => {
        val planted = plantedEmbeddings(s, d)
        val model = pqModelFor(s"topk:$d",
          Similarity.trainPq(planted, "vec_id", "embedding",
            m = 8, nbits = 8, iters = 10))
        Similarity.pqTopK(planted, "vec_id", "embedding",
            queryId = 0L, model, k = 20)
          .agg(
            max_by(col("id"), struct(col("pq_cos"), -col("id")))
              .as("top1_id"),
            count(lit(1)).as("n_rows"),
            (min(col("pq_cos")) >= -1.25 && max(col("pq_cos")) <= 1.05)
              .as("cos_bounded"))
      },
      Some("""SELECT CAST(1000000 AS BIGINT) AS top1_id,
             |  CAST(20 AS BIGINT) AS n_rows,
             |  true AS cos_bounded""".stripMargin)),

    Q("q_pq_bench", // headline: the ADC scan over the at-rest PQ index
      // (codes + model staged once per (process, sf), _SUCCESS-gated
      // like q_int8_bench; model reload memoized so timed passes
      // measure the pure 8-bytes-per-vector scan). Result quality is
      // pinned by q_pq_topk (planted rank-1); the oracle pins the
      // SQL-expressible invariants.
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_pq_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/index"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        if (!new java.io.File(s"$dir/codes", "_SUCCESS").exists()) {
          val emb = t(s, d, "embeddings")
          Similarity.writePqIndex(emb, "vec_id", "embedding",
            Similarity.trainPq(emb, "vec_id", "embedding",
              m = 8, nbits = 8, iters = 10), dir)
        }
        val model = pqModelFor(s"bench:$d", Similarity.loadPqModel(s, dir))
        Similarity.pqTopKPrequantized(s, s"$dir/codes",
            t(s, d, "embeddings"), "vec_id", "embedding",
            queryId = 0L, model, k = 20)
          .agg(count(lit(1)).as("n_rows"),
            count_distinct(col("id")).as("n_ids"),
            (min(col("pq_cos")) >= -1.25 && max(col("pq_cos")) <= 1.05)
              .as("cos_bounded"),
            (sum(when(col("id") === 0L, 1).otherwise(0)) === 0)
              .as("query_excluded"))
      },
      Some("""SELECT CAST(20 AS BIGINT) AS n_rows,
             |  CAST(20 AS BIGINT) AS n_ids,
             |  true AS cos_bounded, true AS query_excluded"""
        .stripMargin),
      headline = true),

    Q("q_pq_rerank", // the production ANN recipe: ADC candidate scan →
      // exact float re-rank of only the candidate pool. Gated in its
      // oracle-able degenerate case: pool >= corpus makes candidate
      // generation lossless, so the re-ranked result must equal the
      // exact brute-force top-k BIT FOR BIT — same oracle as
      // q_cosine_knn. Recall-vs-pool behavior at lossy pool sizes is
      // pinned in PqSpec.
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val model = pqModelFor(s"rerank:$d",
          Similarity.trainPq(emb, "vec_id", "embedding",
            m = 8, nbits = 8, iters = 10))
        Similarity.pqTopKReranked(emb, "vec_id", "embedding",
          queryId = 0L, model, k = 20, pool = 100000)
      },
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |s AS (SELECT e.vec_id AS id,
             |  list_aggregate(list_transform(e.embedding,
             |    (x, i) -> CAST(x AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), 'sum')
             |  / (sqrt(list_aggregate(list_transform(e.embedding,
             |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
             |   * sqrt(list_aggregate(list_transform(q.qv,
             |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS c
             |  FROM embeddings e, q WHERE e.vec_id <> 0)
             |SELECT id, round(c, 6) + 0 AS cos_sim FROM s
             |ORDER BY round(c, 6) DESC, id LIMIT 20""".stripMargin)),

    Q("q_knn_join", // k-NN JOIN: top-3 neighbors for EVERY vector (the
      // batch op behind semantic-dup graphs / kNN classifiers), exact
      // O(n²) baseline over a 200-vector slice so the oracle's
      // all-pairs cosine stays cheap; the per-row cap plans as
      // WindowGroupLimit (O(n x k) shuffle). Corpus-scale variants:
      // srpNeighborPairs blocking or ivfProbe candidates + re-rank.
      (s, d) => Similarity.knnJoin(
        t(s, d, "embeddings").filter(col("vec_id") < 200),
        "vec_id", "embedding", k = 3),
      Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings
             |  WHERE vec_id < 200),
             |pairs AS (SELECT a.vec_id AS id, b.vec_id AS id_b,
             |  round(
             |    list_aggregate(list_transform(a.embedding,
             |      (x, i) -> CAST(x AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
             |      'sum')
             |    / (sqrt(list_aggregate(list_transform(a.embedding,
             |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
             |     * sqrt(list_aggregate(list_transform(b.embedding,
             |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
             |  , 6) + 0 AS cos_sim
             |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
             |r AS (SELECT id, id_b, cos_sim, row_number() OVER (
             |    PARTITION BY id ORDER BY cos_sim DESC, id_b) AS rank
             |  FROM pairs)
             |SELECT id, CAST(rank AS BIGINT) AS rank,
             |  id_b AS neighbor_id, cos_sim
             |FROM r WHERE rank <= 3""".stripMargin)),

    Q("q_hard_negatives", // contrastive hard-negative mining: per
      // anchor, the top-2 most-similar DIFFERENT-label vectors, with
      // cos > 0.9 excluded as probable dups/mislabels (the
      // false-negative guard). Same 200-vector slice + WindowGroupLimit
      // shape as q_knn_join.
      (s, d) => Similarity.hardNegatives(
        t(s, d, "embeddings").filter(col("vec_id") < 200),
        "vec_id", "embedding", "label", k = 2, maxCos = 0.9),
      Some("""WITH e AS (SELECT vec_id, embedding, label FROM embeddings
             |  WHERE vec_id < 200),
             |pairs AS (SELECT a.vec_id AS id, a.label AS label,
             |  b.vec_id AS id_b, b.label AS neighbor_label,
             |  round(
             |    list_aggregate(list_transform(a.embedding,
             |      (x, i) -> CAST(x AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
             |      'sum')
             |    / (sqrt(list_aggregate(list_transform(a.embedding,
             |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
             |     * sqrt(list_aggregate(list_transform(b.embedding,
             |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
             |  , 6) + 0 AS cos_sim
             |  FROM e a JOIN e b ON a.label <> b.label),
             |r AS (SELECT *, row_number() OVER (
             |    PARTITION BY id ORDER BY cos_sim DESC, id_b) AS rank
             |  FROM pairs WHERE cos_sim <= 0.9)
             |SELECT id, label, CAST(rank AS BIGINT) AS rank,
             |  id_b AS neighbor_id, neighbor_label, cos_sim
             |FROM r WHERE rank <= 2""".stripMargin)),

    Q("q_semantic_decontaminate", // embedding-side decontamination:
      // flag corpus vectors within cosine 0.8 of ANY benchmark vector
      // (the paraphrase-leakage check n-gram decontamination misses;
      // q_decontaminate is the verbatim twin). Benchmark = the first
      // 20 vectors, so the 20 self-matches are the planted positives;
      // threshold compares the 6-rounded cosine (house float rule)
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.semanticContaminationFlags(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 20), "embedding", minCos = 0.8)
      },
      Some("""WITH b AS (SELECT embedding AS bv FROM embeddings
             |  WHERE vec_id < 20),
             |s AS (SELECT e.vec_id, round(
             |    list_aggregate(list_transform(e.embedding,
             |      (x, i) -> CAST(x AS DOUBLE) * CAST(b.bv[i] AS DOUBLE)),
             |      'sum')
             |    / (sqrt(list_aggregate(list_transform(e.embedding,
             |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
             |     * sqrt(list_aggregate(list_transform(b.bv,
             |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
             |  , 6) AS c6
             |  FROM embeddings e CROSS JOIN b)
             |SELECT vec_id, max(c6) + 0 AS max_cos,
             |  CAST(sum(CASE WHEN c6 >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_hits,
             |  (sum(CASE WHEN c6 >= 0.8 THEN 1 ELSE 0 END) > 0)
             |    AS contaminated
             |FROM s GROUP BY 1""".stripMargin)),

    Q("q_embed_neardup", // embedding-cosine near-dup, exact baseline:
      // O(n^2) all-pairs — the correctness spec for the SRP-blocked
      // variant below, and directly oracle-able
      (s, d) => Similarity.cosineNeighborPairs(plantedEmbeddings(s, d),
        "vec_id", "embedding", minCos = 0.99),
      Some(embedNeardupOracleSql)),

    Q("q_srp_neighbors", // embedding near-dup, SRP-blocked (the corpus-
      // scale path: cell join replaces the n^2 pair scan). Oracle = the
      // exact baseline's: at threshold 0.99 only the planted EXACT
      // copies qualify (organic max cosine 0.61), and exact duplicates
      // always co-bucket, so the blocked result equals the exact one —
      // the oracle doubles as the recall gate at these SFs.
      (s, d) => Similarity.srpNeighborPairs(plantedEmbeddings(s, d),
        "vec_id", "embedding", minCos = 0.99, nBits = 8),
      Some(embedNeardupOracleSql), headline = true),

    Q("q_center_normalize", // embedding centering + L2 re-normalization
      // (the cosine-ANN prep): per-dim corpus mean rounded FIRST so
      // everything downstream is IEEE-deterministic from identical
      // inputs; the mean rides a broadcast single-row array, the norm
      // fold is bound to a column (nested-lambda pitfall). The vector
      // is serialized to a fixed "%.6f" CSV string (house rule: gate
      // outputs are atomic columns only — the r13 raw-array red row);
      // `x + 0.0` folds IEEE -0.0 to +0.0 on BOTH engines before
      // formatting, so a tiny negative residue can't print "-0.000000"
      // on one side and "0.000000" on the other.
      (s, d) => Similarity.centerAndNormalize(
        t(s, d, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"),
          array_join(transform(col("centered"),
            x => format_string("%.6f", x + lit(0.0d))), ",")
            .as("centered")),
      Some("""WITH x AS (SELECT vec_id, embedding FROM embeddings),
             |d AS (SELECT vec_id,
             |        generate_subscripts(embedding, 1) AS pos,
             |        unnest(embedding) AS v
             |      FROM x),
             |m AS (SELECT pos, round(avg(CAST(v AS DOUBLE)), 6) AS m
             |      FROM d GROUP BY 1),
             |ml AS (SELECT list(m ORDER BY pos) AS mean FROM m),
             |c AS (SELECT vec_id,
             |        list_transform(embedding,
             |          (e, i) -> CAST(e AS DOUBLE) - mean[i]) AS c
             |      FROM x CROSS JOIN ml),
             |n AS (SELECT vec_id, c,
             |        sqrt(list_aggregate(list_transform(c, y -> y * y),
             |          'sum')) AS n
             |      FROM c)
             |SELECT vec_id,
             |  CASE WHEN n > 0 THEN
             |    array_to_string(list_transform(c,
             |      y -> printf('%.6f', round(y / n, 6) + 0)), ',')
             |  END AS centered
             |FROM n""".stripMargin)),

    Q("q_hard_negatives_blocked", // the corpus-scale hard-negative path:
      // SRP cell-blocked candidates + cross-label top-k. Same recall
      // trick as q_srp_neighbors: at minCos 0.99 only the planted exact
      // copies qualify, exact copies always co-bucket, and labels
      // vec_id % 3 guarantee every planted pair is cross-label
      // (1000000 % 3 = 1 shifts the copy's class) — so blocked equals
      // the exact all-pairs oracle, which doubles as the recall gate.
      (s, d) => Similarity.hardNegativesBlocked(
        plantedEmbeddings(s, d)
          .withColumn("label", col("vec_id") % 3),
        "vec_id", "embedding", "label", k = 2, minCos = 0.99,
        maxCos = 1.0),
      Some("""WITH emb AS (
             |  SELECT vec_id, embedding FROM embeddings
             |  UNION ALL
             |  SELECT vec_id + 1000000, embedding FROM embeddings
             |  WHERE vec_id < 10),
             |e AS (SELECT vec_id,
             |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |      FROM emb),
             |nrm AS (SELECT vec_id, v,
             |          sqrt(list_aggregate(list_transform(v, x -> x * x),
             |            'sum')) AS nv
             |        FROM e),
             |p AS (SELECT a.vec_id AS id, a.vec_id % 3 AS label,
             |        b.vec_id AS neighbor_id, b.vec_id % 3 AS neighbor_label,
             |        round(list_aggregate(
             |          list_transform(a.v, (x, i) -> x * b.v[i]), 'sum')
             |          / (a.nv * b.nv), 6) + 0 AS cos_sim
             |      FROM nrm a JOIN nrm b ON a.vec_id <> b.vec_id),
             |r AS (SELECT *, row_number() OVER (
             |        PARTITION BY id ORDER BY cos_sim DESC, neighbor_id)
             |        AS rank
             |      FROM p WHERE label <> neighbor_label
             |        AND cos_sim >= 0.99 AND cos_sim <= 1.0)
             |SELECT id, label, CAST(rank AS BIGINT) AS rank,
             |  neighbor_id, neighbor_label, cos_sim
             |FROM r WHERE rank <= 2""".stripMargin)),

    Q("q_media_meta", // multimodal binary-column metadata path
      (s, d) => {
        val media = Multimodal.asMediaTable(t(s, d, "documents"),
          "doc_id", "text", "text")
        Multimodal.extractFeatures(s, media)
          .select(col("media_id"), col("n_bytes").cast("long").as("n_bytes"),
            col("content_md5"))
      },
      Some("""SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
             |  md5(text) AS content_md5
             |FROM documents""".stripMargin)),

    Q("q_media_features", // multimodal feature extraction. Feature
      // values aren't SQL-expressible, so the gate pins decode-path
      // properties per row: text-kind blobs take the stub decoder, the
      // vector has exactly dim=16 entries, every entry sits in the
      // stub's provable [0, 2] output range, and — the value check —
      // the un-normalized feature sum must reconstruct the blob's byte
      // sum (the stub is stripe-summed bytes / 255 / n): compared
      // against an INDEPENDENT byte sum from the source text within a
      // 0.1% float-accumulation tolerance, Spark-computed, oracle-pinned
      // true (the q_approx_distinct pattern).
      (s, d) => {
        val docs = t(s, d, "documents")
        val media = Multimodal.asMediaTable(docs, "doc_id", "text", "text")
        val feats = Multimodal.extractFeatures(s, media).toDF()
        // ASCII corpus: per-char code points ARE the utf-8 bytes (the
        // q_media_meta strlen==n_bytes oracle is the standing proof)
        val byteSums = docs.select(col("doc_id").as("media_id"),
          aggregate(split(col("text"), ""), lit(0L),
            (a, c) => a + when(c =!= "", ascii(c)).otherwise(lit(0)))
            .as("byte_sum"))
        val n = greatest(lit(1L), floor(col("n_bytes") / 16).cast("long"))
        val featSum = aggregate(col("features"), lit(0.0d),
          (a, f) => a + f.cast("double"))
        feats.join(byteSums, Seq("media_id"))
          .select(col("media_id"), col("n_bytes").cast("long").as("n_bytes"),
            col("content_md5"), col("decoder"),
            (size(col("features")) === 16).as("dim_ok"),
            forall(col("features"), f => f >= 0 && f <= 2).as("range_ok"),
            when(col("byte_sum") === 0, featSum === 0.0d)
              .otherwise(abs(featSum * 255.0d * n - col("byte_sum")) <=
                col("byte_sum").cast("double") * 0.001)
              .as("checksum_ok"))
      },
      Some("""SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT)
             |    AS n_bytes,
             |  md5(text) AS content_md5, 'stub' AS decoder,
             |  true AS dim_ok, true AS range_ok, true AS checksum_ok
             |FROM documents""".stripMargin)),

    Q("q_video_external", // EXECUTION gate for the external-decoder
      // boundary (the general-video path no JDK codec can serve): a
      // deterministic fake cutter script — head -c 4 / tail -c +5,
      // the ffmpeg contract shape `<tool> <in> <outDir>` — decodes
      // each payload into exactly two frames, and the oracle
      // recomputes the byte arithmetic on the same payloads
      // (byte-based on the encoded BLOB, so multibyte text can't
      // skew it). Pins the boundary's plumbing: temp-file handoff,
      // frame ordering, per-blob fan-out, n_bytes of every frame.
      // Bounded to 200 docs so the per-blob process spawns stay a
      // gate, not a benchmark.
      (s, d) => {
        val tool = java.nio.file.Files.createTempFile("graft_cutter", ".sh")
        java.nio.file.Files.write(tool,
          ("#!/bin/sh\n" +
            "head -c 4 \"$1\" > \"$2/f_00000\"\n" +
            "tail -c +5 \"$1\" > \"$2/f_00001\"\n").getBytes("UTF-8"))
        tool.toFile.setExecutable(true)
        TempDirs.deleteOnExit(tool.toFile)
        val docs = t(s, d, "documents")
          .filter(col("text").isNotNull && col("doc_id") < 200)
        val media = Multimodal.asMediaTable(docs, "doc_id", "text", "video")
        Multimodal.sampleFramesExternal(s, media, tool.toString).toDF()
          .select(col("media_id").as("doc_id"),
            col("frame_idx").cast("long").as("frame_idx"),
            length(col("frame")).cast("long").as("n_bytes"),
            col("decoder"))
      },
      Some("""WITH d AS (SELECT doc_id, encode(text) AS b
             |  FROM documents WHERE text IS NOT NULL AND doc_id < 200)
             |SELECT doc_id, CAST(0 AS BIGINT) AS frame_idx,
             |  CAST(least(octet_length(b), 4) AS BIGINT) AS n_bytes,
             |  'external' AS decoder
             |FROM d
             |UNION ALL
             |SELECT doc_id, CAST(1 AS BIGINT),
             |  CAST(greatest(octet_length(b) - 4, 0) AS BIGINT),
             |  'external'
             |FROM d""".stripMargin)),

    Q("q_media_frames", // REAL video-frame sampling (MJPEG): a 3-video
      // fixture of concatenated tiny JPEGs, synthesized in-process
      // (bounded: 3 x 6 8x8 frames — the binaryfile-fixture pattern).
      // Frame payloads aren't SQL-expressible, so the gate pins the
      // sampler's structural contract per video: everyNth=2 over 6
      // frames yields exactly indices {0,2,4}, every emitted frame is
      // a complete SOI..EOI JPEG (marker-checked in Spark, oracle-
      // pinned true), and the real path ran (decoder 'mjpeg', never
      // the byte-window stub).
      (s, d) => {
        val vids = (0L until 3L).map { v =>
          val baos = new java.io.ByteArrayOutputStream()
          (0 until 6).foreach { f =>
            val img = new java.awt.image.BufferedImage(8, 8,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val gray = (v * 80 + f * 40).toInt & 0xff
            val rgb = (gray << 16) | (gray << 8) | gray
            for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, rgb)
            javax.imageio.ImageIO.write(img, "jpg", baos)
          }
          (v, baos.toByteArray)
        }
        import s.implicits._
        val media = Multimodal.asMediaTable(
          vids.toDF("media_id", "payload"), "media_id", "payload", "video")
        Multimodal.sampleFrames(s, media, everyNth = 2).toDF()
          .groupBy(col("media_id"))
          .agg(count(lit(1)).as("n_frames"),
            sort_array(collect_list(col("frame_idx"))).cast("string")
              .as("frame_idxs"),
            (count_distinct(col("decoder")) === 1 &&
              max(col("decoder")) === "mjpeg").as("all_mjpeg"),
            forall(collect_list(
              // complete JPEG: starts FFD8FF, ends FFD9
              substring(hex(col("frame")), 1, 6) === "FFD8FF" &&
                substring(hex(col("frame")), -4, 4) === "FFD9"),
              x => x).as("frames_complete"))
      },
      Some("""SELECT CAST(v AS BIGINT) AS media_id,
             |  CAST(3 AS BIGINT) AS n_frames,
             |  '[0, 2, 4]' AS frame_idxs, true AS all_mjpeg,
             |  true AS frames_complete
             |FROM (VALUES (0), (1), (2)) AS t(v)""".stripMargin),
      headline = true),

    // ------------------------------------------------------------------
    // Tier B, batch 2: statistical aggs, more windows/strings, subqueries
    // ------------------------------------------------------------------

    Q("q_stats_agg", // statistical aggregate menu
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
          round(var_samp(col("l_extendedprice")), 2).as("var_price"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
            .as("covar_qp"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price")),
      Some("""SELECT l_returnflag,
             |  round(stddev_samp(l_extendedprice), 4) AS sd_price,
             |  round(var_samp(l_extendedprice), 2) AS var_price,
             |  round(corr(l_quantity, l_extendedprice), 6) + 0 AS corr_qp,
             |  round(covar_samp(l_quantity, l_extendedprice), 4) + 0 AS covar_qp,
             |  min(l_extendedprice) AS min_price,
             |  max(l_extendedprice) AS max_price
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    Q("q_cube",
      (s, d) => t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  round(sum(l_quantity), 2) AS qty
             |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)"""
        .stripMargin)),

    Q("q_percentile", // exact interpolated percentiles
      (s, d) => t(s, d, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(
          round(expr("percentile(c_acctbal, 0.5)"), 4).as("p50"),
          round(expr("percentile(c_acctbal, 0.9)"), 4).as("p90")),
      Some("""SELECT c_mktsegment,
             |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY c_acctbal), 4)
             |    AS p50,
             |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY c_acctbal), 4)
             |    AS p90
             |FROM customer GROUP BY c_mktsegment""".stripMargin),
      headline = true),

    Q("q_approx_percentile", // sketch percentiles — the 100 TB path:
      // exact percentile() buffers every group value; approx_percentile
      // is a bounded-memory rank sketch with mergeable partials. The
      // sketch value is engine-specific, so the gate pins rank-tolerance
      // properties (the q_approx_distinct pattern): at accuracy 1000 the
      // worst-case rank error is n/1000, so the returned value must land
      // inside the exact p45..p55 (resp. p85..p95) band — a ~100x wider
      // margin — and the oracle pins the flags true.
      (s, d) => t(s, d, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          expr("approx_percentile(c_acctbal, 0.5, 1000)")
            .between(expr("percentile(c_acctbal, 0.45)"),
              expr("percentile(c_acctbal, 0.55)")).as("p50_in_band"),
          expr("approx_percentile(c_acctbal, 0.9, 1000)")
            .between(expr("percentile(c_acctbal, 0.85)"),
              expr("percentile(c_acctbal, 0.95)")).as("p90_in_band")),
      Some("""SELECT c_mktsegment, count(*) AS n,
             |  true AS p50_in_band, true AS p90_in_band
             |FROM customer GROUP BY c_mktsegment""".stripMargin)),

    Q("q_string_funcs2",
      (s, d) => t(s, d, "part").select(
        col("p_partkey"),
        expr("replace(p_name, ' ', '-')").as("dashed"),
        translate(col("p_brand"), "Bad#", "bXD_").as("translated"),
        expr("repeat(p_type, 2)").as("doubled"),
        reverse(col("p_name")).as("reversed"),
        expr("split_part(p_name, ' ', 1)").as("first_part"),
        expr("left(p_name, 4)").as("l4"),
        expr("right(p_name, 3)").as("r3")),
      Some("""SELECT p_partkey,
             |  replace(p_name, ' ', '-') AS dashed,
             |  translate(p_brand, 'Bad#', 'bXD_') AS translated,
             |  repeat(p_type, 2) AS doubled,
             |  reverse(p_name) AS reversed,
             |  split_part(p_name, ' ', 1) AS first_part,
             |  left(p_name, 4) AS l4,
             |  right(p_name, 3) AS r3
             |FROM part""".stripMargin)),

    Q("q_minmax_by", // arg-max/arg-min with a composite deterministic order
      (s, d) => t(s, d, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(
          max_by(col("c_custkey"),
            col("c_acctbal") * 100000000L + col("c_custkey")).as("richest"),
          min_by(col("c_custkey"),
            col("c_acctbal") * 100000000L + col("c_custkey")).as("poorest")),
      Some("""SELECT c_mktsegment,
             |  max_by(c_custkey, c_acctbal * 100000000 + c_custkey) AS richest,
             |  min_by(c_custkey, c_acctbal * 100000000 + c_custkey) AS poorest
             |FROM customer GROUP BY c_mktsegment""".stripMargin)),

    Q("q_window_funcs2", // ranking menu: dense_rank/percent_rank/ntile/...
      (s, d) => {
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "customer")
          .select(col("c_mktsegment"), col("c_custkey"),
            dense_rank().over(w).cast("long").as("drank"),
            round(percent_rank().over(w), 6).as("prank"),
            ntile(4).over(w).cast("long").as("quartile"),
            round(cume_dist().over(w), 6).as("cdist"),
            first(col("c_custkey")).over(wf).as("seg_top"))
          .filter(col("drank") <= 50)
      },
      Some("""SELECT * FROM (
             |  SELECT c_mktsegment, c_custkey,
             |    CAST(dense_rank() OVER w AS BIGINT) AS drank,
             |    round(percent_rank() OVER w, 6) AS prank,
             |    CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             |    round(cume_dist() OVER w, 6) AS cdist,
             |    first_value(c_custkey) OVER (w ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW) AS seg_top
             |  FROM customer
             |  WINDOW w AS (PARTITION BY c_mktsegment
             |               ORDER BY c_acctbal DESC, c_custkey))
             |WHERE drank <= 50""".stripMargin)),

    Q("q_sliding_window", // 1h windows sliding by 15 min (batch form)
      (s, d) => t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w_start"), col("event_type"), col("n")),
      Some("""SELECT time_bucket(INTERVAL 15 minute, ts)
             |         - (k * INTERVAL 15 minute) AS w_start,
             |       event_type, count(*) AS n
             |FROM events, (VALUES (0), (1), (2), (3)) t(k)
             |GROUP BY 1, 2""".stripMargin),
      headline = true),

    Q("q_sliding_stream_exec", // STREAMING EXECUTION gate #3: the
      // sliding windows above through the real incremental engine.
      // Overlapping windows (4 per event at 1h/15min) multiply the
      // engine's state rows — the state-growth shape the other two
      // gates don't exercise; divergence between the incremental
      // multi-window state and the batch plan goes red here.
      (s, d) => {
        val ckpt = scratchDir("graft-stream-slide-ckpt")
        val events = EventStreams.rawEventSource(s, s"$d/events.parquet", ckpt)
        EventStreams.drain(s, EventStreams.slidingWindow(events), ckpt,
          "graft_stream_sliding")
      },
      Some("""SELECT time_bucket(INTERVAL 15 minute, ts)
             |         - (k * INTERVAL 15 minute) AS w_start,
             |       event_type, count(*) AS n
             |FROM events, (VALUES (0), (1), (2), (3)) t(k)
             |GROUP BY 1, 2""".stripMargin)),

    Q("q_dedup_stream_exec", // STREAMING EXECUTION gate #4: watermark-
      // bounded dropDuplicates state through the incremental engine,
      // keyed on (user_id, event_type). Only the key columns are
      // emitted: WHICH physical row survives a key is a race between
      // partitions inside a micro-batch, but that exactly one row per
      // key survives is the state contract under test, and the key
      // columns are its deterministic projection. Append mode: dedup
      // rows emit on admission, nothing is watermark-held (and
      // dropDuplicates does not support Complete). The driver's table
      // is a single file → one micro-batch → no key's state can be
      // watermark-evicted mid-drain, so the drained output is one row
      // per distinct key, exactly SELECT DISTINCT.
      (s, d) => {
        val ckpt = scratchDir("graft-stream-dedup-ckpt")
        val keys = Seq("user_id", "event_type")
        val events = EventStreams.rawEventSource(s, s"$d/events.parquet", ckpt)
        EventStreams.drain(s,
          EventStreams.dedupStream(events, keys = keys)
            .select(keys.map(col): _*),
          ckpt, "graft_stream_dedup", OutputMode.Append())
      },
      Some("SELECT DISTINCT user_id, event_type FROM events")),

    Q("q_state_stream_exec", // STREAMING EXECUTION gate #5: ARBITRARY
      // state (mapGroupsWithState) through the incremental engine —
      // per-user running totals drained in update mode (complete mode
      // is not supported for mapGroupsWithState); the single-file
      // source drains in one micro-batch, so the sink holds exactly one
      // final row per user. The per-user event count from custom
      // GroupState must equal the batch GROUP BY. The float total is
      // deliberately excluded: the stateful count is the machinery
      // under test, and a JVM-rounded running double vs the oracle's
      // round(sum(value), 2) differ in rounding flavor, which would
      // gate rounding trivia, not state correctness (total_value
      // equality with batch is spec-pinned in EventStreamsSpec).
      (s, d) => {
        import s.implicits._
        val ckpt = scratchDir("graft-stream-state-ckpt")
        val events = EventStreams.rawEventSource(s, s"$d/events.parquet", ckpt)
        EventStreams.drain(s,
          EventStreams.userRunningTotals(s, events.as[EventStreams.Event])
            .toDF().select(col("user_id"), col("n_events")),
          ckpt, "graft_stream_totals", OutputMode.Update())
      },
      Some("SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id")),

    Q("q_join_stream_exec", // STREAMING EXECUTION gate #6: stream-stream
      // interval join (signup -> purchase within 1h) through the
      // incremental engine. Inner-join matches emit eagerly in append
      // mode (no watermark holdback — that applies to outer joins and
      // aggregations), so the AvailableNow drain is the complete join
      // and hash-compares exactly against the batch self-join oracle.
      // `value` passes through untouched from the same parquet both
      // engines read, so no float-arithmetic hazard.
      // The watermarks still matter: they let the engine EVICT each
      // side's state once the other side's watermark passes the horizon.
      (s, d) => {
        val ckpt = scratchDir("graft-stream-join-ckpt")
        val events = EventStreams.rawEventSource(s, s"$d/events.parquet", ckpt)
        EventStreams.drain(s, EventStreams.signupPurchaseJoin(events), ckpt,
          "graft_stream_join", OutputMode.Append())
      },
      Some("""SELECT s.user_id, s.ts AS signup_ts, p.ts AS purchase_ts,
             |       p.value
             |FROM events s JOIN events p
             |  ON p.user_id = s.user_id
             | AND s.event_type = 'signup' AND p.event_type = 'purchase'
             | AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR"""
        .stripMargin)),

    Q("q_funnel_stream_exec", // STREAMING EXECUTION gate #7: the
      // conversion funnel as ARBITRARY state — GroupState carries each
      // user's completion times; every micro-batch continues the
      // greedy strict-increase fold over its own time-sorted events.
      // Single-file source → one micro-batch → the drained sink IS the
      // batch funnel result, so the oracle is q_funnel_ordered's iterative
      // min-after-previous SQL verbatim (timestamps compare exactly;
      // no float anywhere).
      // Update mode, mapGroupsWithState's only fit-for-purpose mode.
      (s, d) => {
        import s.implicits._
        val ckpt = scratchDir("graft-stream-funnel-ckpt")
        val events = EventStreams.rawEventSource(s, s"$d/events.parquet", ckpt)
        EventStreams.drain(s,
          EventStreams.funnelStream(s, events.as[EventStreams.Event]).toDF(),
          ckpt, "graft_stream_funnel", OutputMode.Update())
      },
      Some("""WITH t1 AS (
             |  SELECT user_id, min(ts) AS t_signup FROM events
             |  WHERE event_type = 'signup' AND ts IS NOT NULL GROUP BY 1),
             |t2 AS (
             |  SELECT e.user_id, min(e.ts) AS t_click
             |  FROM events e JOIN t1 USING (user_id)
             |  WHERE e.event_type = 'click' AND e.ts > t1.t_signup
             |  GROUP BY 1),
             |t3 AS (
             |  SELECT e.user_id, min(e.ts) AS t_purchase
             |  FROM events e JOIN t2 USING (user_id)
             |  WHERE e.event_type = 'purchase' AND e.ts > t2.t_click
             |  GROUP BY 1),
             |u AS (SELECT DISTINCT user_id FROM events
             |      WHERE event_type IN ('signup', 'click', 'purchase')
             |        AND ts IS NOT NULL)
             |SELECT u.user_id, t1.t_signup, t2.t_click, t3.t_purchase,
             |  CAST(CASE WHEN t3.t_purchase IS NOT NULL THEN 3
             |            WHEN t2.t_click IS NOT NULL THEN 2
             |            WHEN t1.t_signup IS NOT NULL THEN 1
             |            ELSE 0 END AS BIGINT) AS steps_completed
             |FROM u LEFT JOIN t1 USING (user_id)
             |  LEFT JOIN t2 USING (user_id)
             |  LEFT JOIN t3 USING (user_id)""".stripMargin)),

    Q("q_scalar_subquery", // filter against a global aggregate
      (s, d) => {
        val o = t(s, d, "orders")
        val avgPrice = o.agg(avg(col("o_totalprice")).as("__avg"))
        o.join(broadcast(avgPrice))
          .filter(col("o_totalprice") > col("__avg"))
          .select(col("o_orderkey"), col("o_totalprice"))
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)"""
        .stripMargin)),

    Q("q_in_subquery", // IN (subquery) membership
      (s, d) => {
        val asiaNations = t(s, d, "nation")
          .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_regionkey") < 2)
          .select(col("n_nationkey"))
        t(s, d, "customer")
          .join(broadcast(asiaNations),
            col("c_nationkey") === col("n_nationkey"), "left_semi")
          .select(col("c_custkey"), col("c_nationkey"))
      },
      Some("""SELECT c_custkey, c_nationkey FROM customer
             |WHERE c_nationkey IN (
             |  SELECT n_nationkey FROM nation
             |  JOIN region ON n_regionkey = r_regionkey
             |  WHERE r_regionkey < 2)""".stripMargin)),

    Q("q_top_words", // explode/unnest + top-k by frequency
      (s, d) => t(s, d, "documents")
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20),
      Some("""SELECT token, count(*) AS n FROM (
             |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
             |  FROM documents)
             |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin)),

    Q("q_embed_centroid", // element-wise mean vector per label (long form)
      (s, d) => t(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), (col("pos") + 1).cast("long").as("pos"))
        .agg(round(avg(col("v").cast("double")), 6).as("centroid_v")),
      Some("""SELECT label, CAST(pos AS BIGINT) AS pos,
             |  round(avg(CAST(v AS DOUBLE)), 6) + 0 AS centroid_v
             |FROM (SELECT label, generate_subscripts(embedding, 1) AS pos,
             |             unnest(embedding) AS v
             |      FROM embeddings)
             |GROUP BY label, pos""".stripMargin)),

    Q("q_excel_roundtrip", // the xlsx connector in the catalog (rows-only)
      (s, d) => {
        val dir = scratchDir("graft_xlsx")
        val path = s"$dir/sample.xlsx"
        val sample = t(s, d, "customer")
          .orderBy(col("c_custkey")).limit(200)
          .select(col("c_custkey").cast("string").as("c_custkey"),
            col("c_name"), col("c_mktsegment"))
        graft.sources.excel.ExcelSink.writePositional(sample, path, startRow = 2)
        val hdr = sample.columns.zipWithIndex.map { case (c, i) =>
          graft.sources.excel.Xlsx.Cell(1, i + 1, graft.sources.excel.Xlsx.SStr(c)) }
        // prepend a header row so the read is self-describing
        val sheet = graft.sources.excel.ExcelScan.loadSheet(path, None)
        val data = for {
          r <- (2 to sheet.maxRow).iterator; c <- 1 to sheet.maxCol
          if sheet(r, c).nonEmpty
        } yield graft.sources.excel.Xlsx.Cell(r, c,
          graft.sources.excel.Xlsx.SStr(sheet(r, c)))
        val out = new java.io.FileOutputStream(path)
        try graft.sources.excel.Xlsx.write(out,
          Seq("Sheet1" -> (hdr.iterator ++ data)))
        finally out.close()
        s.read.format("xlsx").load(path)
      },
      // write->read identity oracle (same trick as q_csv_roundtrip): the
      // xlsx sink+scan must reproduce the source rows, and the all-string
      // scan schema maps onto VARCHAR casts of the source columns
      Some("""SELECT CAST(c_custkey AS VARCHAR) AS c_custkey, c_name,
             |  c_mktsegment
             |FROM (SELECT c_custkey, c_name, c_mktsegment FROM customer
             |      ORDER BY c_custkey LIMIT 200)""".stripMargin)),

    Q("q_fname_token", // S5 filename sanitizer (Upload.py:105-107)
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          safeFnameToken(concat(col("lang"), lit("/"), col("source"),
            lit(":"), col("doc_id"))).as("fname")),
      Some("""SELECT doc_id,
             |  translate(lang || '/' || source || ':' || CAST(doc_id AS VARCHAR),
             |            '\/:*?"<>|', '_________') AS fname
             |FROM documents""".stripMargin)),

    Q("q_unicode_norm", // unicode canonicalization before hashing: NFC
      // composition and accent stripping (graft.plans native
      // expressions vs DuckDB's utf8proc-backed builtins). The corpus
      // is all-ASCII, so each row APPENDS a decomposed suffix
      // ("cafe"+U+0301 combining acute, "nai"+U+0308 combining
      // diaeresis) for the NFC leg and a composed accented suffix
      // (é ï Å ö) for the strip leg — otherwise both functions would
      // be identity on every row and the gate would pin nothing. Both
      // sides build the suffix from explicit codepoints so source-file
      // encoding can't change the test.
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          graft.plans.TextExpressions.nfc_normalize(
            concat(col("text"), lit(" cafe\u0301 nai\u0308ve")))
            .as("nfc_text"),
          graft.plans.TextExpressions.strip_accents(
            concat(col("text"),
              lit(" caf\u00e9 na\u00efve \u00c5ngstr\u00f6m")))
            .as("plain_text")),
      Some("""SELECT doc_id,
             |  nfc_normalize(text || ' cafe' || chr(769) || ' nai' ||
             |    chr(776) || 've') AS nfc_text,
             |  strip_accents(text || ' caf' || chr(233) || ' na' ||
             |    chr(239) || 've ' || chr(197) || 'ngstr' || chr(246) ||
             |    'm') AS plain_text
             |FROM documents""".stripMargin)),

    Q("q_date_funcs2", // date arithmetic menu
      (s, d) => t(s, d, "orders").select(
        col("o_orderkey"),
        add_months(to_date(col("o_orderdate")), 3).as("plus3m"),
        date_add(to_date(col("o_orderdate")), 45).as("plus45d"),
        last_day(to_date(col("o_orderdate"))).as("eom"),
        trunc(to_date(col("o_orderdate")), "year").as("year_start"),
        ((lit(2025) - year(col("o_orderdate"))) * 12 +
          (lit(6) - month(col("o_orderdate")))).cast("long").as("mo_to_jun25")),
      Some("""SELECT o_orderkey,
             |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
             |    AS plus3m,
             |  CAST(o_orderdate AS DATE) + 45 AS plus45d,
             |  last_day(CAST(o_orderdate AS DATE)) AS eom,
             |  CAST(date_trunc('year', o_orderdate) AS DATE) AS year_start,
             |  CAST((2025 - year(o_orderdate)) * 12 + (6 - month(o_orderdate))
             |       AS BIGINT) AS mo_to_jun25
             |FROM orders""".stripMargin)),

    Q("q_grouping_sets",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupingSets(
          Seq(Seq(col("n_name"), col("c_mktsegment")), Seq(col("n_name")), Seq()),
          col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n")),
      Some("""SELECT n_name, c_mktsegment, count(*) AS n
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY GROUPING SETS ((n_name, c_mktsegment), (n_name), ())"""
        .stripMargin)),

    Q("q_approx_distinct", // HLL sketch. The raw estimate isn't oracle-
      // able (DuckDB's sketch differs), so the gate checks the PROPERTY:
      // exact per-group distincts (hash-verified) plus a Spark-computed
      // within-5%-of-exact flag the oracle pins to true — if the sketch
      // drifted past tolerance anywhere, the hash goes red.
      // rsd 0.01 so the 5% check is a ~5-sigma band (the default 0.05
      // sketch legitimately strays past 5% on individual groups)
      (s, d) => t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("exact_custs"),
          count(lit(1)).as("n"),
          (abs(approx_count_distinct(col("o_custkey"), 0.01) -
              countDistinct(col("o_custkey"))).cast("double") <=
            countDistinct(col("o_custkey")).cast("double") * 0.05)
            .as("sketch_within_5pct")),
      Some("""SELECT o_orderpriority,
             |  count(DISTINCT o_custkey) AS exact_custs,
             |  count(*) AS n,
             |  true AS sketch_within_5pct
             |FROM orders GROUP BY o_orderpriority""".stripMargin)),

    Q("q_asof_join", // point-in-time enrichment (union + carry-last)
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
          .orderBy(col("o_orderkey").desc)
        val odedup = t(s, d, "orders")
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .select(col("o_custkey").as("user_id"), col("o_orderdate"),
            col("o_orderkey"), col("o_totalprice"))
        val ev = t(s, d, "events")
          .select(col("event_id"), col("user_id"), col("ts"))
        graft.operators.AsOfJoin
          .asOf(ev, odedup, "user_id", "ts", "o_orderdate",
            Seq("o_orderkey", "o_totalprice"))
          .select(col("event_id"), col("user_id"),
            col("o_orderkey").as("matched_order"),
            col("o_totalprice").as("matched_price"))
      },
      Some("""WITH o AS (
             |  SELECT o_custkey AS user_id, o_orderdate, o_orderkey,
             |         o_totalprice
             |  FROM (SELECT *, row_number() OVER (
             |          PARTITION BY o_custkey, o_orderdate
             |          ORDER BY o_orderkey DESC) AS rn
             |        FROM orders) WHERE rn = 1)
             |SELECT e.event_id, e.user_id, o.o_orderkey AS matched_order,
             |       o.o_totalprice AS matched_price
             |FROM events e ASOF LEFT JOIN o
             |  ON e.user_id = o.user_id AND e.ts >= o.o_orderdate"""
        .stripMargin),
      headline = true),

    Q("q_asof_tolerance", // merge_asof(tolerance=...): the carried
      // match NULLS OUT when older than the window — it never falls
      // back to a different row. Self-enrichment shape: every
      // non-click event picks up the user's latest click within 12h.
      // Marks dedup per (user, ts) exactly as q_asof_join dedups
      // orders: at equal times "latest" is otherwise ambiguous on
      // both engines.
      (s, d) => {
        val w = Window.partitionBy(col("user_id"), col("ts"))
          .orderBy(col("event_id").desc)
        val marks = t(s, d, "events")
          .filter(col("event_type") === "click")
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .select(col("user_id"), col("ts").as("mts"),
            col("event_id").as("mark_id"), col("value").as("mark_value"))
        val probes = t(s, d, "events")
          .filter(col("event_type") =!= "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        graft.operators.AsOfJoin
          .asOf(probes, marks, "user_id", "ts", "mts",
            Seq("mark_id", "mark_value"), tolerance = Some("12 hours"))
      },
      Some("""WITH m AS (
             |  SELECT user_id, ts AS mts, event_id AS mark_id,
             |         value AS mark_value
             |  FROM (SELECT *, row_number() OVER (
             |          PARTITION BY user_id, ts
             |          ORDER BY event_id DESC) AS rn
             |        FROM events WHERE event_type = 'click') WHERE rn = 1),
             |p AS (SELECT event_id, user_id, ts FROM events
             |      WHERE event_type <> 'click')
             |SELECT p.event_id, p.user_id, p.ts,
             |  CASE WHEN m.mts >= p.ts - INTERVAL '12 hours'
             |       THEN m.mark_id END AS mark_id,
             |  CASE WHEN m.mts >= p.ts - INTERVAL '12 hours'
             |       THEN m.mark_value END AS mark_value
             |FROM p ASOF LEFT JOIN m
             |  ON p.user_id = m.user_id AND p.ts >= m.mts"""
        .stripMargin)),

    Q("q_salted_join", // skew-mitigated join (semantics = plain join)
      (s, d) => {
        val dim = t(s, d, "part")
          .select(col("p_partkey").as("l_partkey"), col("p_brand"))
        graft.operators.SkewJoin
          .saltedJoin(t(s, d, "lineitem"), dim, "l_partkey", buckets = 16)
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_extendedprice")), 2).as("rev"))
      },
      Some("""SELECT p_brand, count(*) AS n,
             |  round(sum(l_extendedprice), 2) AS rev
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand""".stripMargin),
      headline = true),

    Q("q_events_pruned", // time-sliced scan over the NORMALIZED events
      // layout (Layout.writeNormalized via DerivedLayouts — built once
      // per JVM, read thereafter): `ts` is a plain typed TIMESTAMP
      // column here, so the range predicate lands in PushedFilters and
      // prunes files/row-groups, where the same predicate against
      // Tables.events's normalizing expression cannot push at all
      // (LayoutSpec pins both plans; this gates the values).
      (s, d) => {
        val lo = lit("2024-01-10 00:00:00").cast("timestamp")
        val hi = lit("2024-01-17 00:00:00").cast("timestamp")
        s.read.parquet(DerivedLayouts.normalizedEvents(s, d))
          .filter(col("ts") >= lo && col("ts") < hi)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 2).as("total_value"),
            min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  round(sum(value), 2) AS total_value,
             |  min(ts) AS first_ts, max(ts) AS last_ts
             |FROM events
             |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
             |  AND ts < TIMESTAMP '2024-01-17 00:00:00'
             |GROUP BY event_type""".stripMargin),
      headline = true),

    Q("q_bucketed_join", // exchange-free fact-fact join over the
      // bucketed layout (Layout.saveBucketed via DerivedLayouts): both
      // sides bucketed 8-way on the order key, so the sort-merge join
      // (merge hint — test-SF sizes would auto-broadcast and bypass
      // the layout) reads co-located buckets with NO shuffle on either
      // side; the only exchange left is the final group-by. LayoutSpec
      // asserts the no-Exchange plan; this gates the values.
      (s, d) => {
        val (bo, bl) = DerivedLayouts.bucketedFacts(s, d)
        s.table(bo).hint("merge")
          .join(s.table(bl), "o_orderkey")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
              2).as("rev"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |GROUP BY o_orderpriority""".stripMargin),
      headline = true),

    Q("q_regexp_funcs",
      // list outputs are serialized to strings: the driver's pandas
      // compare cannot sort/hash ndarray cells (CORRECTNESS_r01)
      (s, d) => t(s, d, "part").select(
        col("p_partkey"),
        col("p_name").rlike("^s").as("starts_s"),
        regexp_extract(col("p_brand"), "#(\\d+)$", 1).as("brand_num"),
        array_join(regexp_extract_all(col("p_brand"), lit("\\d"), lit(0)), ",")
          .as("digits"),
        regexp_replace(col("p_name"), "[aeiou]", "*").as("starred")),
      Some("""SELECT p_partkey,
             |  regexp_matches(p_name, '^s') AS starts_s,
             |  regexp_extract(p_brand, '#(\d+)$', 1) AS brand_num,
             |  array_to_string(regexp_extract_all(p_brand, '\d'), ',') AS digits,
             |  regexp_replace(p_name, '[aeiou]', '*', 'g') AS starred
             |FROM part""".stripMargin)),

    Q("q_array_funcs2",
      // head4 serialized as integral 1e4-scaled CSV: the driver's pandas
      // compare cannot sort/hash ndarray cells, and integral scaling
      // sidesteps cross-engine float-to-string formatting
      (s, d) => t(s, d, "embeddings").select(
        col("vec_id"),
        array_join(transform(slice(col("embedding"), 1, 4),
          x => round(x.cast("double") * 10000).cast("long").cast("string")), ",")
          .as("head4"),
        exists(col("embedding"), x => x < 0).as("has_neg"),
        round(array_max(col("embedding")).cast("double"), 4).as("max_el"),
        round(array_min(col("embedding")).cast("double"), 4).as("min_el")),
      Some("""SELECT vec_id,
             |  array_to_string(list_transform(embedding[1:4],
             |    x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)), ',')
             |    AS head4,
             |  len(list_filter(embedding, x -> x < 0)) > 0 AS has_neg,
             |  round(CAST(list_max(embedding) AS DOUBLE), 4) + 0 AS max_el,
             |  round(CAST(list_min(embedding) AS DOUBLE), 4) + 0 AS min_el
             |FROM embeddings""".stripMargin)),

    Q("q_nullsafe_eq", // null-safe equality (<=> / IS NOT DISTINCT FROM)
      (s, d) => {
        val withNulls = t(s, d, "documents")
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 0, lit(null)).otherwise(col("lang"))
              .as("lang_a"),
            when(col("doc_id") % 3 === 0, lit(null)).otherwise(col("lang"))
              .as("lang_b"))
        withNulls.select(col("doc_id"),
          (col("lang_a") <=> col("lang_b")).as("same"),
          (col("lang_a") === col("lang_b")).as("naive_same"))
      },
      Some("""WITH w AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 5 = 0 THEN NULL ELSE lang END AS lang_a,
             |    CASE WHEN doc_id % 3 = 0 THEN NULL ELSE lang END AS lang_b
             |  FROM documents)
             |SELECT doc_id,
             |  lang_a IS NOT DISTINCT FROM lang_b AS same,
             |  lang_a = lang_b AS naive_same
             |FROM w""".stripMargin)),

    Q("q_bitwise",
      (s, d) => t(s, d, "orders").select(
        col("o_orderkey"),
        col("o_orderkey").bitwiseAND(lit(255L)).as("low_byte"),
        col("o_orderkey").bitwiseOR(lit(4096L)).as("or_bit"),
        col("o_orderkey").bitwiseXOR(col("o_custkey")).as("xored"),
        expr("shiftleft(o_orderkey, 2)").as("shl2"),
        expr("shiftright(o_orderkey, 3)").as("shr3")),
      Some("""SELECT o_orderkey,
             |  o_orderkey & 255 AS low_byte,
             |  o_orderkey | 4096 AS or_bit,
             |  xor(o_orderkey, o_custkey) AS xored,
             |  o_orderkey << 2 AS shl2,
             |  o_orderkey >> 3 AS shr3
             |FROM orders""".stripMargin)),

    Q("q_conditional_menu",
      (s, d) => t(s, d, "customer").select(
        col("c_custkey"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("DEFAULT"))
          .as("seg_or_default"),
        least(col("c_acctbal"), lit(5000.0)).as("capped"),
        greatest(col("c_acctbal"), lit(0.0)).as("floored"),
        when(col("c_acctbal").isNull, lit("missing"))
          .otherwise(lit("present")).as("presence")),
      Some("""SELECT c_custkey,
             |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'DEFAULT')
             |    AS seg_or_default,
             |  least(c_acctbal, 5000.0) AS capped,
             |  greatest(c_acctbal, 0.0) AS floored,
             |  CASE WHEN c_acctbal IS NULL THEN 'missing' ELSE 'present' END
             |    AS presence
             |FROM customer""".stripMargin)),

    Q("q_tpch_q3", // shipping-priority shape: filter + 3-way join + agg + top-k
      (s, d) => t(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < lit("1998-01-01"))
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > lit("1997-01-01"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10),
      Some("""SELECT o_orderkey, o_orderdate, o_orderpriority,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1998-01-01'
             |  AND l_shipdate > TIMESTAMP '1997-01-01'
             |GROUP BY o_orderkey, o_orderdate, o_orderpriority
             |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin),
      headline = true),

    Q("q_date_spine", // generated calendar spine + left join (gap filling)
      (s, d) => {
        val spine = s.range(1).select(explode(sequence(
          to_date(lit("1995-01-01")), to_date(lit("1999-12-01")),
          expr("interval 1 month"))).as("month_start"))
        val perMonth = t(s, d, "orders")
          .groupBy(to_date(date_trunc("month", col("o_orderdate")))
            .as("month_start"))
          .agg(count(lit(1)).as("n_orders"))
        spine.join(perMonth, Seq("month_start"), "left_outer")
          .select(col("month_start"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      },
      Some("""WITH spine AS (
             |  SELECT CAST(gs AS DATE) AS month_start
             |  FROM generate_series(DATE '1995-01-01', DATE '1999-12-01',
             |                       INTERVAL 1 MONTH) t(gs)),
             |pm AS (
             |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE)
             |           AS month_start,
             |         count(*) AS n_orders
             |  FROM orders GROUP BY 1)
             |SELECT s.month_start, coalesce(pm.n_orders, 0) AS n_orders
             |FROM spine s LEFT JOIN pm USING (month_start)""".stripMargin)),

    Q("q_union_by_name", // union with schema reconciliation by NAME
      (s, d) => {
        val a = t(s, d, "customer")
          .select(col("c_custkey").as("id"), col("c_name").as("name"),
            col("c_acctbal").as("balance"))
        val b = t(s, d, "supplier")
          .select(col("s_name").as("name"), col("s_suppkey").as("id"))
        a.unionByName(b.withColumn("balance", lit(null).cast("double")))
          .withColumn("balance", coalesce(col("balance"), lit(-1.0)))
      },
      Some("""SELECT c_custkey AS id, c_name AS name, c_acctbal AS balance
             |FROM customer
             |UNION ALL
             |SELECT s_suppkey AS id, s_name AS name, -1.0 AS balance
             |FROM supplier""".stripMargin)),

    Q("q_range_join", // point-in-interval join via time-bin blocking
      (s, d) => {
        val o = t(s, d, "orders").select(col("o_orderkey"),
          col("o_custkey").as("user_id"), col("o_orderdate"))
        val e = t(s, d, "events").select(col("user_id"), col("event_id"),
          col("ts"))
        val matches = graft.operators.RangeJoin.pointInInterval(
          o, e, "user_id",
          start = col("o_orderdate"),
          end = col("o_orderdate") + expr("interval 1 day"),
          point = col("ts"),
          binSeconds = 86400L)
        val counts = matches.groupBy(col("o_orderkey"))
          .agg(count(lit(1)).as("n_events"))
        o.join(counts, Seq("o_orderkey"), "left_outer")
          .select(col("o_orderkey"),
            coalesce(col("n_events"), lit(0L)).as("n_events"))
      },
      Some("""SELECT o_orderkey, count(e.event_id) AS n_events
             |FROM orders o LEFT JOIN events e
             |  ON e.user_id = o.o_custkey
             | AND e.ts >= o.o_orderdate
             | AND e.ts < o.o_orderdate + INTERVAL 1 DAY
             |GROUP BY o_orderkey""".stripMargin),
      headline = true),

    Q("q_interval_join", // interval x interval OVERLAP join via the
      // same time-bin blocking (strict overlap, exactly-once emission
      // in the bin of the later start — no dedup shuffle): which
      // event-type activity spans intersect which user-day spans. The
      // oracle is the plain theta join, so the gate also proves the
      // blocking loses/duplicates nothing.
      (s, d) => {
        val e = t(s, d, "events")
        val l = e.groupBy(col("user_id"), to_date(col("ts")).as("l_day"))
          .agg(min(col("ts")).as("ls"), max(col("ts")).as("le"))
        val r = e.groupBy(col("user_id"), col("event_type"))
          .agg(min(col("ts")).as("rs"), max(col("ts")).as("re"))
        graft.operators.RangeJoin.intervalOverlap(
            l, r, "user_id",
            lStart = col("ls"), lEnd = col("le"),
            rStart = col("rs"), rEnd = col("re"),
            binSeconds = 86400L)
          .select(col("user_id"), col("l_day"), col("event_type"))
      },
      Some("""WITH l AS (SELECT user_id, CAST(ts AS DATE) AS l_day,
             |    min(ts) AS ls, max(ts) AS le
             |  FROM events GROUP BY 1, 2),
             |r AS (SELECT user_id, event_type,
             |    min(ts) AS rs, max(ts) AS re
             |  FROM events GROUP BY 1, 2)
             |SELECT l.user_id, l.l_day, r.event_type
             |FROM l JOIN r ON l.user_id = r.user_id
             | AND l.ls < r.re AND r.rs < l.le""".stripMargin),
      headline = true),

    Q("q_det_sample", // reproducible hash-based (stratified) sampling
      (s, d) => t(s, d, "documents")
        .withColumn("__h", pmod(col("doc_id") * 2654435761L, lit(100)))
        .filter(col("__h") <
          when(col("lang") === "en", 50).otherwise(10))
        .select(col("doc_id"), col("lang")),
      Some("""SELECT doc_id, lang FROM documents
             |WHERE (doc_id * 2654435761) % 100 <
             |      CASE WHEN lang = 'en' THEN 50 ELSE 10 END""".stripMargin)),

    Q("q_funnel", // signup -> purchase conversion within 1 hour
      (s, d) => {
        val e = t(s, d, "events")
        val signups = e.filter(col("event_type") === "signup")
          .groupBy(col("user_id"))
          .agg(min(col("ts")).as("first_signup"))
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"))
        signups.join(purchases, Seq("user_id"), "left_outer")
          .withColumn("__conv",
            col("p_ts").isNotNull && col("p_ts") > col("first_signup") &&
              col("p_ts") <= col("first_signup") + expr("interval 1 hour"))
          .groupBy(col("user_id"), col("first_signup"))
          .agg(max(col("__conv")).as("converted"))
      },
      Some("""WITH s AS (
             |  SELECT user_id, min(ts) AS first_signup FROM events
             |  WHERE event_type = 'signup' GROUP BY user_id)
             |SELECT s.user_id, s.first_signup,
             |  coalesce(bool_or(e.ts > s.first_signup AND
             |    e.ts <= s.first_signup + INTERVAL 1 HOUR), false)
             |    AS converted
             |FROM s LEFT JOIN events e
             |  ON e.user_id = s.user_id AND e.event_type = 'purchase'
             |GROUP BY s.user_id, s.first_signup""".stripMargin)),

    Q("q_cohort_retention", // first-seen cohort x activity month
      (s, d) => {
        val e = t(s, d, "events")
          .select(col("user_id"),
            to_date(date_trunc("month", col("ts"))).as("activity_month"))
        val cohorts = e.groupBy(col("user_id"))
          .agg(min(col("activity_month")).as("cohort_month"))
        e.distinct().join(cohorts, Seq("user_id"))
          .groupBy(col("cohort_month"), col("activity_month"))
          .agg(countDistinct(col("user_id")).as("n_users"))
      },
      Some("""WITH e AS (
             |  SELECT user_id,
             |    CAST(date_trunc('month', ts) AS DATE) AS activity_month
             |  FROM events),
             |c AS (
             |  SELECT user_id, min(activity_month) AS cohort_month
             |  FROM e GROUP BY user_id)
             |SELECT c.cohort_month, e.activity_month,
             |  count(DISTINCT e.user_id) AS n_users
             |FROM (SELECT DISTINCT user_id, activity_month FROM e) e
             |JOIN c USING (user_id)
             |GROUP BY 1, 2""".stripMargin)),

    Q("q_tfidf", // corpus TF-IDF: top 20 (lang, token) scores
      (s, d) => {
        val docs = t(s, d, "documents")
        // corpus size as a broadcast 1-row aggregate (the
        // q_scalar_subquery pattern), NOT an eager driver-side count():
        // one job per query run, and the whole plan stays lazy
        val n = docs.agg(count(lit(1)).cast("double").as("__n"))
        val tf = docs.select(col("doc_id"), col("lang"),
            explode(tokens(col("text"))).as("token"))
          .groupBy(col("doc_id"), col("lang"), col("token"))
          .agg(count(lit(1)).as("tf"))
        val df_ = tf.groupBy(col("token"))
          .agg(countDistinct(col("doc_id")).as("df"))
        tf.join(df_, Seq("token"))
          .crossJoin(broadcast(n))
          .withColumn("tfidf", col("tf") * log(col("__n") / col("df")))
          .groupBy(col("lang"), col("token"))
          .agg(round(sum(col("tfidf")), 4).as("score"))
          .orderBy(col("score").desc, col("lang"), col("token"))
          .limit(20)
      },
      Some("""WITH tf AS (
             |  SELECT doc_id, lang, token, count(*) AS tf FROM (
             |    SELECT doc_id, lang,
             |      unnest(string_split_regex(trim(text), '\s+')) AS token
             |    FROM documents)
             |  GROUP BY doc_id, lang, token),
             |idf AS (
             |  SELECT token, count(DISTINCT doc_id) AS df FROM tf
             |  GROUP BY token),
             |n AS (SELECT count(*) AS n FROM documents)
             |SELECT lang, token,
             |  round(sum(tf * ln(CAST(n.n AS DOUBLE) / df)), 4) AS score
             |FROM tf JOIN idf USING (token), n
             |GROUP BY lang, token
             |ORDER BY score DESC, lang, token LIMIT 20""".stripMargin)),

    Q("q_upsert", // batch MERGE: changeset applied over a base snapshot
      (s, d) => {
        val o = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val base = o.filter(col("o_orderkey") % 4 =!= 0)
        val updates = o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
            round(col("o_totalprice") * 2, 2).as("o_totalprice"))
        graft.operators.Merge.upsert(base, updates, "o_orderkey")
          .select(col("o_orderkey"), col("o_orderstatus"),
            round(col("o_totalprice"), 2).as("o_totalprice"))
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
             |  WHERE o_orderkey % 4 <> 0),
             |upd AS (
             |  SELECT o_orderkey, 'U' AS o_orderstatus,
             |         round(o_totalprice * 2, 2) AS o_totalprice
             |  FROM orders WHERE o_orderkey % 2 = 0)
             |SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
             |  CASE WHEN u.o_orderkey IS NOT NULL
             |       THEN u.o_orderstatus ELSE b.o_orderstatus END
             |    AS o_orderstatus,
             |  round(CASE WHEN u.o_orderkey IS NOT NULL
             |             THEN u.o_totalprice ELSE b.o_totalprice END, 2)
             |    AS o_totalprice
             |FROM base b FULL JOIN upd u ON b.o_orderkey = u.o_orderkey"""
        .stripMargin)),

    Q("q_scd2", // SCD Type-2 dimension history: one update batch
      // applied over a history table synthesized from customer —
      // pre-closed rows (pass through), changed segments (close +
      // reopen), no-op updates (must NOT churn history), untouched
      // keys. The oracle mirrors the same construction and case split.
      (s, d) => {
        val cur = t(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val closedHist = cur.filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey"), lit("OLDSEG").as("c_mktsegment"),
            to_date(lit("2019-01-01")).as("valid_from"),
            to_date(lit("2020-01-01")).as("valid_to"))
        val open = cur.select(col("c_custkey"), col("c_mktsegment"),
          to_date(lit("2020-01-01")).as("valid_from"),
          lit(null).cast("date").as("valid_to"))
        val updates = cur
          .filter(col("c_custkey") % 3 === 0 || col("c_custkey") % 5 === 0)
          .select(col("c_custkey"),
            when(col("c_custkey") % 3 === 0, lit("WEB"))
              .otherwise(col("c_mktsegment")).as("c_mktsegment"),
            to_date(lit("2024-06-01")).as("ts"))
        graft.operators.Merge.scd2Apply(
          closedHist.unionByName(open), updates,
          "c_custkey", Seq("c_mktsegment"), "ts")
      },
      Some("""WITH cur AS (SELECT c_custkey, c_mktsegment FROM customer),
             |closedh AS (SELECT c_custkey, 'OLDSEG' AS c_mktsegment,
             |    DATE '2019-01-01' AS valid_from,
             |    DATE '2020-01-01' AS valid_to
             |  FROM cur WHERE c_custkey % 10 = 0),
             |open_rows AS (SELECT c_custkey, c_mktsegment,
             |    DATE '2020-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
             |  FROM cur),
             |upd AS (SELECT c_custkey,
             |    CASE WHEN c_custkey % 3 = 0 THEN 'WEB'
             |         ELSE c_mktsegment END AS c_mktsegment,
             |    DATE '2024-06-01' AS ts
             |  FROM cur WHERE c_custkey % 3 = 0 OR c_custkey % 5 = 0),
             |closed_now AS (SELECT o.c_custkey, o.c_mktsegment,
             |    o.valid_from, u.ts AS valid_to
             |  FROM open_rows o JOIN upd u USING (c_custkey)
             |  WHERE u.c_mktsegment <> o.c_mktsegment),
             |new_open AS (SELECT u.c_custkey, u.c_mktsegment,
             |    u.ts AS valid_from, CAST(NULL AS DATE) AS valid_to
             |  FROM open_rows o JOIN upd u USING (c_custkey)
             |  WHERE u.c_mktsegment <> o.c_mktsegment),
             |carried AS (SELECT o.* FROM open_rows o
             |  LEFT JOIN upd u USING (c_custkey)
             |  WHERE u.c_custkey IS NULL OR u.c_mktsegment = o.c_mktsegment)
             |SELECT * FROM closedh UNION ALL SELECT * FROM closed_now
             |UNION ALL SELECT * FROM new_open
             |UNION ALL SELECT * FROM carried""".stripMargin),
      headline = true),

    Q("q_profile", // one-pass column profiler (exact mode for the oracle)
      (s, d) => graft.operators.Profiler.profile(
        t(s, d, "customer"), exact = true),
      Some("""SELECT 'c_custkey' AS "column", count(*) AS n_rows,
             |  count(*) - count(c_custkey) AS n_nulls,
             |  count(DISTINCT c_custkey) AS n_distinct,
             |  CAST(min(c_custkey) AS VARCHAR) AS min,
             |  CAST(max(c_custkey) AS VARCHAR) AS max FROM customer
             |UNION ALL
             |SELECT 'c_name', count(*), count(*) - count(c_name),
             |  count(DISTINCT c_name), CAST(min(c_name) AS VARCHAR),
             |  CAST(max(c_name) AS VARCHAR) FROM customer
             |UNION ALL
             |SELECT 'c_nationkey', count(*), count(*) - count(c_nationkey),
             |  count(DISTINCT c_nationkey), CAST(min(c_nationkey) AS VARCHAR),
             |  CAST(max(c_nationkey) AS VARCHAR) FROM customer
             |UNION ALL
             |SELECT 'c_acctbal', count(*), count(*) - count(c_acctbal),
             |  count(DISTINCT c_acctbal), CAST(min(c_acctbal) AS VARCHAR),
             |  CAST(max(c_acctbal) AS VARCHAR) FROM customer
             |UNION ALL
             |SELECT 'c_mktsegment', count(*), count(*) - count(c_mktsegment),
             |  count(DISTINCT c_mktsegment), CAST(min(c_mktsegment) AS VARCHAR),
             |  CAST(max(c_mktsegment) AS VARCHAR) FROM customer"""
        .stripMargin)),

    Q("q_topk_per_group", // typed Aggregator top-k (buffer-capped UDAF)
      (s, d) => graft.operators.TopK.topKPerGroup(
          s, t(s, d, "orders"), "o_custkey", "o_orderkey", "o_totalprice", 3)
        .select(col("group").as("o_custkey"), col("id").as("o_orderkey"),
          col("value").as("o_totalprice")),
      Some("""SELECT o_custkey, o_orderkey, o_totalprice FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) WHERE rn <= 3""".stripMargin)),

    Q("q_string_agg", // ordered listagg per group
      (s, d) => t(s, d, "supplier")
        .join(t(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(array_join(sort_array(collect_list(col("s_name"))), ",")
          .as("suppliers"),
          count(lit(1)).as("n")),
      Some("""SELECT n_name,
             |  string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
             |  count(*) AS n
             |FROM supplier JOIN nation ON s_nationkey = n_nationkey
             |GROUP BY n_name""".stripMargin)),

    Q("q_edit_distance",
      (s, d) => t(s, d, "part").select(
        col("p_partkey"),
        levenshtein(col("p_name"), reverse(col("p_name"))).cast("long")
          .as("lev_rev"),
        levenshtein(col("p_name"), col("p_type")).cast("long").as("lev_type")),
      Some("""SELECT p_partkey,
             |  CAST(levenshtein(p_name, reverse(p_name)) AS BIGINT) AS lev_rev,
             |  CAST(levenshtein(p_name, p_type) AS BIGINT) AS lev_type
             |FROM part""".stripMargin)),

    Q("q_histogram", // fixed-width value histogram
      (s, d) => t(s, d, "events")
        .groupBy((floor(col("value") / 50) * 50).cast("double").as("bin"))
        .agg(count(lit(1)).as("n"))
        .filter(col("bin").isNotNull),
      Some("""SELECT CAST(floor(value / 50) * 50 AS DOUBLE) AS bin,
             |  count(*) AS n
             |FROM events WHERE value IS NOT NULL
             |GROUP BY 1""".stripMargin)),

    Q("q_corr_subquery", // correlated subquery (decorrelated to a window)
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
        t(s, d, "orders")
          .withColumn("__cust_avg", avg(col("o_totalprice")).over(w))
          .filter(col("o_totalprice") > col("__cust_avg"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
             |WHERE o_totalprice > (SELECT avg(o2.o_totalprice) FROM orders o2
             |                      WHERE o2.o_custkey = o.o_custkey)"""
        .stripMargin)),

    Q("q_window_range", // value-RANGE frame: 30-day trailing spend
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("__epoch"))
          .rangeBetween(-30L * 86400, 0)
        t(s, d, "orders")
          .withColumn("__epoch", unix_timestamp(col("o_orderdate")))
          .select(col("o_custkey"), col("o_orderkey"),
            round(sum(col("o_totalprice")).over(w), 2).as("trailing_30d"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  round(sum(o_totalprice) OVER (
             |    PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
             |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW), 2)
             |    AS trailing_30d
             |FROM orders""".stripMargin)),

    Q("q_pct_of_total", // window over (): share of global total
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("c_acctbal")).as("__bal"))
        .select(col("n_name"),
          round(col("__bal"), 2).as("bal"),
          round(col("__bal") / sum(col("__bal")).over(Window.partitionBy()) * 100, 4)
            .as("pct_of_total")),
      Some("""WITH per AS (
             |  SELECT n_name, sum(c_acctbal) AS bal
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  GROUP BY n_name)
             |SELECT n_name, round(bal, 2) AS bal,
             |  round(bal / sum(bal) OVER () * 100, 4) AS pct_of_total
             |FROM per""".stripMargin)),

    Q("q_resample_locf", // hourly resample with last-observation-carried-forward
      (s, d) => {
        val hours = s.range(1).select(explode(sequence(
          to_timestamp(lit("2024-01-01 00:00:00")),
          to_timestamp(lit("2024-01-03 23:00:00")),
          expr("interval 1 hour"))).as("hour"))
        val users = t(s, d, "events").select(col("user_id")).distinct()
        val spine = users.crossJoin(hours)
        val hourly = t(s, d, "events")
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
          .agg(round(avg(col("value")), 4).as("avg_value"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(hourly, Seq("user_id", "hour"), "left_outer")
          .select(col("user_id"), col("hour"),
            coalesce(last(col("avg_value"), ignoreNulls = true).over(w),
              lit(0.0)).as("value_locf"))
      },
      Some("""WITH hours AS (
             |  SELECT gs AS hour FROM generate_series(
             |    TIMESTAMP '2024-01-01 00:00:00',
             |    TIMESTAMP '2024-01-03 23:00:00', INTERVAL 1 HOUR) t(gs)),
             |users AS (SELECT DISTINCT user_id FROM events),
             |spine AS (SELECT user_id, hour FROM users CROSS JOIN hours),
             |hourly AS (
             |  SELECT user_id, date_trunc('hour', ts) AS hour,
             |         round(avg(value), 4) AS avg_value
             |  FROM events GROUP BY 1, 2)
             |SELECT s.user_id, s.hour,
             |  coalesce(last_value(h.avg_value IGNORE NULLS) OVER (
             |    PARTITION BY s.user_id ORDER BY s.hour
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0)
             |    AS value_locf
             |FROM spine s LEFT JOIN hourly h USING (user_id, hour)"""
        .stripMargin)),

    Q("q_ewma", // exponentially-weighted moving average per user — the
      // order-dependent recursive smoother a windowed sum can't express;
      // one hash agg, group-local sorted fold (alpha = 0.3, seeded with
      // the first value). Both engines fold IEEE doubles in the
      // identical (ts, event_id) order, so round(4) agrees exactly.
      (s, d) => TimeSeries
        .ewmaByGroup(t(s, d, "events"), "user_id", Seq("ts", "event_id"),
          "value", alpha = 0.3)
        .select(col("user_id"), round(col("ewma"), 4).as("ewma")),
      // the CASE guard covers the all-null group (count(value)=0):
      // list_reduce over an empty list ERRORS in DuckDB, while the
      // Spark side returns a null row — without the guard a single
      // all-null user in regenerated testdata would crash the oracle
      Some("""SELECT user_id,
             |  CASE WHEN count(value) = 0 THEN NULL
             |    ELSE round(list_reduce(
             |      list_transform(list(value ORDER BY ts, event_id)
             |                     FILTER (WHERE value IS NOT NULL),
             |                     x -> CAST(x AS DOUBLE)),
             |      (acc, x) -> acc*0.7 + x*0.3), 4) END AS ewma
             |FROM events GROUP BY user_id""".stripMargin),
      headline = true),

    Q("q_funnel_ordered", // ordered conversion funnel signup -> click ->
      // purchase per user: earliest strictly-time-increasing
      // completion of each step. The engine's greedy time-order fold
      // equals the oracle's iterative min-after-previous formulation
      // (greedy earliest-completion is optimal; equal-time events
      // never advance a step in either).
      (s, d) => graft.operators.TimeSeries.funnel(
        t(s, d, "events"), "user_id", "ts",
        Seq(col("event_type") === "signup",
          col("event_type") === "click",
          col("event_type") === "purchase"),
        Seq("t_signup", "t_click", "t_purchase")),
      Some("""WITH t1 AS (
             |  SELECT user_id, min(ts) AS t_signup FROM events
             |  WHERE event_type = 'signup' AND ts IS NOT NULL GROUP BY 1),
             |t2 AS (
             |  SELECT e.user_id, min(e.ts) AS t_click
             |  FROM events e JOIN t1 USING (user_id)
             |  WHERE e.event_type = 'click' AND e.ts > t1.t_signup
             |  GROUP BY 1),
             |t3 AS (
             |  SELECT e.user_id, min(e.ts) AS t_purchase
             |  FROM events e JOIN t2 USING (user_id)
             |  WHERE e.event_type = 'purchase' AND e.ts > t2.t_click
             |  GROUP BY 1),
             |u AS (SELECT DISTINCT user_id FROM events
             |      WHERE event_type IN ('signup', 'click', 'purchase')
             |        AND ts IS NOT NULL)
             |SELECT u.user_id, t1.t_signup, t2.t_click, t3.t_purchase,
             |  CAST(CASE WHEN t3.t_purchase IS NOT NULL THEN 3
             |            WHEN t2.t_click IS NOT NULL THEN 2
             |            WHEN t1.t_signup IS NOT NULL THEN 1
             |            ELSE 0 END AS BIGINT) AS steps_completed
             |FROM u LEFT JOIN t1 USING (user_id)
             |  LEFT JOIN t2 USING (user_id)
             |  LEFT JOIN t3 USING (user_id)""".stripMargin)),

    Q("q_rolling_zscore", // rolling z-score anomaly signal: each
      // event's deviation from the mean/stddev of its user's 20
      // PRECEDING values (frame ends at -1 — the score never sees the
      // value it judges). Under-populated (<5 obs) and zero-variance
      // windows yield null; the zero-variance branch is engine-stable
      // because identical inputs fold to exactly 0 in both engines.
      (s, d) => TimeSeries.rollingZScore(
        t(s, d, "events"), "user_id", Seq("ts", "event_id"), "value",
        lookback = 20, minPoints = 5)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          col("z_score")),
      // `+ 0` scrubs DuckDB round()'s -0.0 (Spark never emits it —
      // the r4-documented float hazard, one organic hit at sf0.1)
      Some("""SELECT event_id, user_id, ts, value,
             |  CASE WHEN cnt >= 5 AND sd > 0
             |       THEN round((value - mu) / sd, 4) + 0 END AS z_score
             |FROM (
             |  SELECT event_id, user_id, ts, value,
             |    avg(value) OVER w AS mu,
             |    stddev_samp(value) OVER w AS sd,
             |    count(value) OVER w AS cnt
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))"""
        .stripMargin),
      headline = true),

    Q("q_rolling_zscore_chunked", // the scale path for unbounded keys:
      // same z-scores computed with per-task state bounded by the time
      // CHUNK (week) + lookback carried rows, never the whole key —
      // the oracle is q_rolling_zscore's single-window SQL VERBATIM
      // because the chunked form reproduces it exactly (the carried
      // ordinal predecessors rebuild the identical ROWS frame).
      (s, d) => TimeSeries.rollingZScoreChunked(
        t(s, d, "events"), "user_id", Seq("ts", "event_id"), "value",
        date_trunc("week", col("ts")), lookback = 20, minPoints = 5)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          col("z_score")),
      Some("""SELECT event_id, user_id, ts, value,
             |  CASE WHEN cnt >= 5 AND sd > 0
             |       THEN round((value - mu) / sd, 4) + 0 END AS z_score
             |FROM (
             |  SELECT event_id, user_id, ts, value,
             |    avg(value) OVER w AS mu,
             |    stddev_samp(value) OVER w AS sd,
             |    count(value) OVER w AS cnt
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))"""
        .stripMargin)),

    Q("q_peak_concurrency", // sweep-line interval algebra: peak number
      // of simultaneously-active user-day spans per day — +1/-1 deltas,
      // one per-day window running sum, max; no interval self-join.
      (s, d) => {
        val iv = t(s, d, "events")
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
        TimeSeries.peakConcurrency(iv, "day", "s", "e")
      },
      Some("""WITH iv AS (
             |  SELECT user_id, CAST(ts AS DATE) AS day,
             |         min(ts) AS s, max(ts) AS e
             |  FROM events GROUP BY 1, 2),
             |pts AS (SELECT day, s AS t, 1 AS d FROM iv
             |        UNION ALL SELECT day, e, -1 FROM iv),
             |run AS (SELECT day, sum(d) OVER (
             |    PARTITION BY day ORDER BY t, d DESC
             |    ROWS UNBOUNDED PRECEDING) AS c FROM pts)
             |SELECT day, CAST(max(c) AS BIGINT) AS peak
             |FROM run GROUP BY day""".stripMargin),
      headline = true),

    Q("q_jaccard_lsh", // exact Jaccard over LSH-blocked candidates.
      // LSH banding itself isn't SQL-expressible, but the OUTPUT is: the
      // reported jaccard is exact, so the result must equal the rare-
      // shingle-blocked exact pair list whenever both blockers reach all
      // >= 0.5 pairs — verified hash-identical at sf0.001/0.01/0.1, so
      // the ngram oracle doubles as a recall gate for the LSH path.
      // ASSUMPTION (data-dependent, not an invariant): both blockers
      // reaching every >= 0.5 pair holds for the CURRENT corpora, whose
      // near-dup pairs are planted exact copies (always co-bucketed AND
      // always sharing rare shingles). If the test corpus is ever
      // regenerated with borderline organic pairs, a single pair missed
      // by one blocker flips this gate red without a code bug — in that
      // case relax to a subset+recall assertion instead of hash
      // equality (DedupSimilaritySpec already covers divergent-blocker
      // corpora explicitly).
      (s, d) => Dedup.exactJaccardLshBlocked(plantedDocs(s, d),
        "doc_id", "text"),
      Some(s"""WITH $ngramPairsCtes
              |SELECT id_a, id_b, round(jac, 4) AS jaccard FROM np"""
        .stripMargin)),

    Q("q_dup_clusters", // near-dup pairs -> canonical cluster ids.
      // The operator under test is clusterPairs (iterative min-label
      // connected components), fed the EXACT >= 0.8 pair list so the
      // edge set equals the oracle's by construction. (Feeding the
      // est_jaccard >= 0.8 LSH pairs instead diverges at sf0.1: MinHash
      // noise drops 2 borderline pairs the exact path keeps.) Oracle:
      // recursive-CTE transitive closure with min-label per component —
      // connected components ARE SQL-expressible.
      (s, d) => {
        val pairs = Dedup.ngramJaccardPairs(plantedDocs(s, d),
          "doc_id", "text", minJaccard = 0.8)
        Dedup.clusterPairs(pairs)
      },
      Some(s"""WITH RECURSIVE $ngramPairsCtes,
              |np8 AS (SELECT id_a, id_b FROM np WHERE jac >= 0.8),
              |edges AS (SELECT id_a AS a, id_b AS b FROM np8
              |          UNION SELECT id_b, id_a FROM np8),
              |walk AS (
              |  SELECT a AS id, a AS label FROM edges
              |  UNION
              |  SELECT w.id, e.b AS label
              |  FROM walk w JOIN edges e ON e.a = w.label)
              |SELECT id, min(label) AS cluster_id FROM walk GROUP BY id"""
        .stripMargin)),

    Q("q_neardup_corpus", // one-call corpus dedup: pairs -> components
      // -> keep min-id canonical per cluster, with absorbed-count.
      // Oracle extends the q_dup_clusters recursive closure with the
      // canonical filter + cluster sizes + the untouched remainder.
      (s, d) => Dedup.nearDedup(plantedDocs(s, d), "doc_id", "text",
        minJaccard = 0.8),
      Some(s"""WITH RECURSIVE $ngramPairsCtes,
              |np8 AS (SELECT id_a, id_b FROM np WHERE jac >= 0.8),
              |edges AS (SELECT id_a AS a, id_b AS b FROM np8
              |          UNION SELECT id_b, id_a FROM np8),
              |walk AS (
              |  SELECT a AS id, a AS label FROM edges
              |  UNION
              |  SELECT w.id, e.b AS label
              |  FROM walk w JOIN edges e ON e.a = w.label),
              |comp AS (SELECT id, min(label) AS cluster_id FROM walk GROUP BY id),
              |sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
              |          FROM comp GROUP BY cluster_id)
              |SELECT d.doc_id,
              |  CAST(COALESCE(s.n_members, 1) AS BIGINT) AS n_members
              |FROM docs d
              |LEFT JOIN comp c ON c.id = d.doc_id
              |LEFT JOIN sizes s ON s.cluster_id = c.cluster_id
              |WHERE c.id IS NULL OR c.id = c.cluster_id""".stripMargin)),

    Q("q_neardup_quality", // quality-keeper near-dedup: each cluster
      // keeps its LONGEST member (ties to smaller id) instead of the
      // min-id — the curation-grade representative rule. Oracle ranks
      // members with a window over the same recursive closure.
      (s, d) => {
        val docs = plantedDocs(s, d)
        Dedup.nearDedupByQuality(docs, "doc_id", "text",
          length(col("text")).cast("long"), minJaccard = 0.8)
      },
      Some(s"""WITH RECURSIVE $ngramPairsCtes,
              |np8 AS (SELECT id_a, id_b FROM np WHERE jac >= 0.8),
              |edges AS (SELECT id_a AS a, id_b AS b FROM np8
              |          UNION SELECT id_b, id_a FROM np8),
              |walk AS (
              |  SELECT a AS id, a AS label FROM edges
              |  UNION
              |  SELECT w.id, e.b AS label
              |  FROM walk w JOIN edges e ON e.a = w.label),
              |comp AS (SELECT id, min(label) AS cluster_id
              |         FROM walk GROUP BY id),
              |scored AS (SELECT c.id, c.cluster_id, length(d.text) AS q
              |           FROM comp c JOIN docs d ON d.doc_id = c.id),
              |k AS (SELECT *, row_number() OVER (
              |        PARTITION BY cluster_id ORDER BY q DESC, id) AS rn,
              |      count(*) OVER (PARTITION BY cluster_id) AS n
              |      FROM scored),
              |keepers AS (SELECT id, CAST(n AS BIGINT) AS n_members
              |            FROM k WHERE rn = 1),
              |dropped AS (SELECT id FROM k WHERE rn > 1)
              |SELECT d.doc_id,
              |  CAST(COALESCE(kp.n_members, 1) AS BIGINT) AS n_members
              |FROM docs d
              |LEFT JOIN keepers kp ON kp.id = d.doc_id
              |WHERE NOT EXISTS (
              |  SELECT 1 FROM dropped x WHERE x.id = d.doc_id)"""
        .stripMargin)),

    Q("q_leakage_split", // cluster-aware train/val/test split: hash the
      // near-dup CLUSTER, not the row, so duplicates never straddle the
      // split (weights 0.75/0.125/0.125 — exact doubles, so the
      // cumulative boundaries 0.75/0.875 are bit-identical per engine).
      // Oracle extends the q_dup_clusters recursive closure with the
      // singleton coalesce + the md5-uniform CASE.
      (s, d) => {
        val docs = plantedDocs(s, d)
        CorpusOps.leakageSafeSplit(docs, "doc_id",
          Dedup.ngramJaccardPairs(docs, "doc_id", "text", minJaccard = 0.8),
          Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
      },
      Some(s"""WITH RECURSIVE $ngramPairsCtes,
              |np8 AS (SELECT id_a, id_b FROM np WHERE jac >= 0.8),
              |edges AS (SELECT id_a AS a, id_b AS b FROM np8
              |          UNION SELECT id_b, id_a FROM np8),
              |walk AS (
              |  SELECT a AS id, a AS label FROM edges
              |  UNION
              |  SELECT w.id, e.b AS label
              |  FROM walk w JOIN edges e ON e.a = w.label),
              |comp AS (SELECT id, min(label) AS cluster_id
              |         FROM walk GROUP BY id),
              |lab AS (SELECT d.doc_id,
              |          COALESCE(c.cluster_id, d.doc_id) AS cluster_id
              |        FROM docs d LEFT JOIN comp c ON c.id = d.doc_id),
              |uu AS (SELECT doc_id, cluster_id,
              |        (('0x' || substr(md5(CAST(cluster_id AS VARCHAR)),
              |            1, 8))::UBIGINT + 0.5) / 4294967296.0 AS u
              |       FROM lab)
              |SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
              |  CASE WHEN u < 0.75 THEN 'train'
              |       WHEN u < 0.875 THEN 'val'
              |       ELSE 'test' END AS split
              |FROM uu""".stripMargin)),

    Q("q_weighted_avg", // extendedprice-weighted average discount
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_discount") * col("l_extendedprice"))
          / sum(col("l_extendedprice")), 6).as("wavg_disc")),
      Some("""SELECT l_returnflag,
             |  round(sum(l_discount * l_extendedprice)
             |        / sum(l_extendedprice), 6) AS wavg_disc
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    Q("q_multi_distinct", // several DISTINCT aggs in one pass (Expand)
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("d_parts"),
          countDistinct(col("l_suppkey")).as("d_supps"),
          countDistinct(col("l_orderkey")).as("d_orders"),
          count(lit(1)).as("n")),
      Some("""SELECT l_returnflag,
             |  count(DISTINCT l_partkey) AS d_parts,
             |  count(DISTINCT l_suppkey) AS d_supps,
             |  count(DISTINCT l_orderkey) AS d_orders,
             |  count(*) AS n
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    Q("q_unpivot", // wide -> long melt
      (s, d) => t(s, d, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(round(min(col("c_acctbal")), 2).as("min_bal"),
          round(max(col("c_acctbal")), 2).as("max_bal"),
          round(avg(col("c_acctbal")), 2).as("avg_bal"))
        .unpivot(Array(col("c_mktsegment")),
          Array(col("min_bal"), col("max_bal"), col("avg_bal")),
          "stat", "value"),
      Some("""WITH w AS (
             |  SELECT c_mktsegment,
             |    round(min(c_acctbal), 2) AS min_bal,
             |    round(max(c_acctbal), 2) AS max_bal,
             |    round(avg(c_acctbal), 2) AS avg_bal
             |  FROM customer GROUP BY c_mktsegment)
             |SELECT c_mktsegment, stat, value FROM w
             |UNPIVOT (value FOR stat IN (min_bal, max_bal, avg_bal))"""
        .stripMargin)),

    Q("q_string_agg_distinct",
      (s, d) => t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(array_join(array_sort(collect_set(col("o_orderstatus"))), ",")
          .as("statuses")),
      Some("""SELECT o_orderpriority,
             |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
             |    AS statuses
             |FROM orders GROUP BY o_orderpriority""".stripMargin)),

    Q("q_bool_aggs", // boolean / conditional-count aggregates + median.
      // Median by rank arithmetic on integer cents (no doubles cross an
      // engine boundary). The r1-r3 hash mismatch was NOT the median:
      // DuckDB's count_if returns HUGEINT (the catalog's only HUGEINT
      // oracle column — verified by typing every oracle result), which
      // the driver's comparator represents differently from Spark's
      // BIGINT. Oracle casts it to BIGINT explicitly.
      (s, d) => {
        val c = t(s, d, "customer").select(col("c_mktsegment"),
          col("c_acctbal"),
          round(col("c_acctbal") * 100).cast("long").as("cents"))
        val bools = c.groupBy(col("c_mktsegment")).agg(
          count_if(col("c_acctbal") > 5000).as("n_rich"),
          bool_and(col("c_acctbal") > -1000).as("all_above_floor"),
          bool_or(col("c_acctbal") < 0).as("any_negative"))
        val ranked = c
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("c_mktsegment")).orderBy(col("cents"))))
          .withColumn("n", count(lit(1)).over(
            Window.partitionBy(col("c_mktsegment"))))
        val med = ranked
          .filter(col("rn") === expr("(n + 1) div 2") ||
            col("rn") === expr("n div 2 + 1"))
          .groupBy(col("c_mktsegment"))
          .agg(when(count(lit(1)) === 1, sum(col("cents")) * 10)
            .otherwise(sum(col("cents")) * 5).as("med_bal_mils"))
        bools.join(med, Seq("c_mktsegment"))
      },
      Some("""WITH c AS (
             |  SELECT c_mktsegment, c_acctbal,
             |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
             |  FROM customer),
             |b AS (
             |  SELECT c_mktsegment,
             |    CAST(count_if(c_acctbal > 5000) AS BIGINT) AS n_rich,
             |    bool_and(c_acctbal > -1000) AS all_above_floor,
             |    bool_or(c_acctbal < 0) AS any_negative
             |  FROM c GROUP BY 1),
             |r AS (
             |  SELECT c_mktsegment, cents,
             |    row_number() OVER (PARTITION BY c_mktsegment
             |                       ORDER BY cents) AS rn,
             |    count(*) OVER (PARTITION BY c_mktsegment) AS n
             |  FROM c),
             |m AS (
             |  SELECT c_mktsegment,
             |    CAST(CASE WHEN count(*) = 1 THEN sum(cents) * 10
             |              ELSE sum(cents) * 5 END AS BIGINT) AS med_bal_mils
             |  FROM r WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
             |  GROUP BY 1)
             |SELECT b.c_mktsegment, n_rich, all_above_floor, any_negative,
             |  med_bal_mils
             |FROM b JOIN m USING (c_mktsegment)""".stripMargin)),

    Q("q_map_funcs", // map column ops; keys/values serialized as sorted
      // CSV strings (map order is engine-defined, and the driver's pandas
      // compare cannot hash array cells) — the JSON-keys DuckDB oracle
      // makes this a full hash-checked query
      (s, d) => t(s, d, "events")
        .select(col("event_id"),
          from_json(col("props"),
            org.apache.spark.sql.types.DataType.fromDDL("MAP<STRING, BIGINT>"))
            .as("m"))
        .select(col("event_id"),
          array_join(array_sort(map_keys(col("m"))), ",").as("ks"),
          array_join(transform(array_sort(map_keys(col("m"))),
            k => element_at(col("m"), k).cast("string")), ",").as("vs"),
          element_at(col("m"), "k").as("k_val"))
        .filter(col("k_val").isNotNull),
      Some("""SELECT event_id,
             |  array_to_string(list_sort(json_keys(props)), ',') AS ks,
             |  array_to_string(list_transform(list_sort(json_keys(props)),
             |    k -> CAST(json_extract_string(props, '$.' || k) AS BIGINT)), ',')
             |    AS vs,
             |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
             |FROM events
             |WHERE json_extract_string(props, '$.k') IS NOT NULL"""
        .stripMargin)),

    Q("q_excel_header_matched", // SNK3+SRC3: fuzzy header-matched write,
      // probed read-back (rows-only: DuckDB reads no xlsx)
      (s, d) => {
        import graft.sources.excel.{ExcelSink, Xlsx}
        val dir = scratchDir("graft_xlsx_hm")
        // template with fuzzy headers at row 5 (cols 2, 4)
        val template = s"$dir/template.xlsx"
        val cells = Seq(
          Xlsx.Cell(5, 2, Xlsx.SStr("C  Name")),
          Xlsx.Cell(5, 4, Xlsx.SStr("C_MKTSEGMENT"))).iterator
        val out = new java.io.FileOutputStream(template)
        try Xlsx.write(out, Seq("Sheet1" -> cells)) finally out.close()
        val src = t(s, d, "customer")
          .orderBy(col("c_custkey")).limit(100)
        val path = s"$dir/out.xlsx"
        java.nio.file.Files.copy(java.nio.file.Paths.get(template),
          java.nio.file.Paths.get(path))
        ExcelSink.writeHeaderMatched(src, template, path,
          headerRow = 5, startRow = 6)
        s.read.format("xlsx")
          .option("headerRow", "5").option("dataStartRow", "6")
          .load(path)
      },
      // identity oracle: matched header columns carry the source values,
      // unmatched template columns (_c1, _c3) read back as all-NULL
      Some("""SELECT CAST(NULL AS VARCHAR) AS "_c1", c_name AS "C  Name",
             |  CAST(NULL AS VARCHAR) AS "_c3",
             |  c_mktsegment AS "C_MKTSEGMENT"
             |FROM (SELECT * FROM customer ORDER BY c_custkey LIMIT 100)"""
        .stripMargin)),

    Q("q_zorder", // Z-value (Morton) computation behind the z-ordered
      // layout (Layout.writeZOrdered, ZOrderSpec): 16-bit mask-and-
      // shift interleave of two key columns — five integer ops per
      // value, so the oracle runs the identical chain. The layout
      // itself (range-partition + sort + parquet footer pruning) is
      // ZOrderSpec's file-stats property; this gates the curve math.
      (s, d) => t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        graft.sources.Layout.zValue2(
          pmod(col("l_orderkey"), lit(65536)),
          pmod(col("l_partkey"), lit(65536))).as("z")),
      Some("""WITH g AS (SELECT l_orderkey, l_linenumber, l_partkey,
             |    l_orderkey % 65536 AS a, l_partkey % 65536 AS b
             |  FROM lineitem),
             |sa AS (SELECT *, (a | (a << 8)) & 16711935 AS a1,
             |               (b | (b << 8)) & 16711935 AS b1 FROM g),
             |sb AS (SELECT *, (a1 | (a1 << 4)) & 252645135 AS a2,
             |               (b1 | (b1 << 4)) & 252645135 AS b2 FROM sa),
             |sc AS (SELECT *, (a2 | (a2 << 2)) & 858993459 AS a3,
             |               (b2 | (b2 << 2)) & 858993459 AS b3 FROM sb),
             |sd AS (SELECT *, (a3 | (a3 << 1)) & 1431655765 AS a4,
             |               (b3 | (b3 << 1)) & 1431655765 AS b4 FROM sc)
             |SELECT l_orderkey, l_linenumber, l_partkey,
             |  a4 | (b4 << 1) AS z
             |FROM sd""".stripMargin)),

    Q("q_zorder_roundtrip", // z-ordered layout write->read identity:
      // clustering must rearrange FILES, never rows' values (the
      // pruning property itself is ZOrderSpec's footer-stats check)
      (s, d) => {
        val dir = scratchDir("graft_zw")
        graft.sources.Layout.writeZOrdered(
          t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"),
            col("l_linenumber"), col("l_extendedprice")),
          s"$dir/z", "l_orderkey", "l_partkey", numFiles = 8)
        s.read.parquet(s"$dir/z")
      },
      Some("""SELECT l_orderkey, l_partkey, l_linenumber, l_extendedprice
             |FROM lineitem""".stripMargin)),

    Q("q_compact_roundtrip", // small-file compaction write->read
      // identity: a 24-file fragmented copy compacts to few files with
      // values intact (file-count/range assertions live in LayoutSpec)
      (s, d) => {
        val dir = scratchDir("graft_cp")
        t(s, d, "orders").repartition(24).write.parquet(s"$dir/frag")
        graft.sources.Layout.compact(s, s"$dir/frag", s"$dir/out",
          targetBytes = 1L << 30, sortCol = Some("o_orderkey"))
        s.read.parquet(s"$dir/out")
      },
      Some("SELECT * FROM orders")),

    Q("q_csv_roundtrip", // csv source/sink coverage. Oracle = the source
      // table itself: write->read identity IS the property under test
      // (hash-checked, not rows-only).
      (s, d) => {
        val dir = scratchDir("graft_csv")
        t(s, d, "nation").write.mode("overwrite")
          .option("header", "true").csv(s"$dir/nation")
        s.read.option("header", "true").option("inferSchema", "true")
          .csv(s"$dir/nation")
      },
      Some("SELECT * FROM nation")),

    Q("q_json_roundtrip", // json-lines source/sink coverage; oracle =
      // roundtrip identity vs the source table
      (s, d) => {
        val dir = scratchDir("graft_json")
        t(s, d, "region").write.mode("overwrite").json(s"$dir/region")
        s.read.json(s"$dir/region")
      },
      Some("SELECT * FROM region")),

    Q("q_warc_roundtrip", // WARC container source/sink (the Common Crawl
      // format — the ingestion end of the web-corpus pipeline): write the
      // corpus as archived HTTP responses (per-record gzip members, one
      // file per partition), read it back through the record parser +
      // HTTP header strip, and recover the table exactly. Multilingual
      // text exercises the byte-counted (not char-counted) framing.
      (s, d) => {
        val dir = scratchDir("graft_warc")
        val docs = t(s, d, "documents")
        graft.sources.Warc.write(
          docs.select(
            concat(lit("http://www."), col("source"), lit(".org/doc/"),
              col("doc_id")).as("target_uri"),
            encode(col("text"), "UTF-8").as("body"))
            .repartition(4),
          dir)
        graft.sources.Warc.read(s, dir)
          .select(
            regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
              .cast("long").as("doc_id"),
            col("http_status").cast("long").as("http_status"),
            col("body_text").as("text"))
      },
      Some("SELECT doc_id, CAST(200 AS BIGINT) AS http_status, text " +
        "FROM documents")),

    Q("q_url_filter", // domain-blocklist filtering (the UT1-style step):
      // drop every row whose URL host is a blocked domain or any
      // subdomain of one. src3.org blocks www.src3.org via the
      // parent-domain leg; www.src7.org blocks exactly itself.
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents").select(col("doc_id"),
          concat(lit("https://www."), col("source"), lit(".org/p/"),
            col("doc_id")).as("url"))
        CorpusOps.urlBlocklistFilter(docs, "url",
            Seq("src3.org", "www.src7.org").toDF("domain"))
          .select(col("doc_id"), col("host"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |  lower(regexp_extract(
             |    'https://www.' || source || '.org/p/' || doc_id,
             |    '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)',
             |    1)) AS host FROM documents)
             |SELECT doc_id, host FROM d
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM (VALUES ('src3.org'), ('www.src7.org'))
             |    b(domain)
             |  WHERE d.host = b.domain OR d.host LIKE '%.' || b.domain)"""
        .stripMargin)),

    Q("q_url_canonical", // URL canonicalization: case/port/fragment/
      // tracking-param/param-order variation collapses to one form;
      // malformed URLs canonicalize to NULL. The synthesized URL
      // column exercises every normalization path (see syntheticUrl).
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), syntheticUrl.as("url"))
        .withColumn("canonical_url", CorpusOps.canonicalUrl(col("url"))),
      Some(s"""WITH $urlCanonCtes
              |SELECT doc_id, url, canonical_url FROM c""".stripMargin)),

    Q("q_url_dedup", // URL-level dedup (the pre-text-dedup crawl pass):
      // one row per canonical URL (min doc_id), with the absorbed crawl
      // count; unparseable URLs each survive (no evidence of duplication).
      (s, d) => CorpusOps.urlDedup(
        t(s, d, "documents").select(col("doc_id"), syntheticUrl.as("url")),
        "doc_id", "url"),
      Some(s"""WITH $urlCanonCtes
              |SELECT min(doc_id) AS doc_id, canonical_url,
              |  CAST(count(*) AS BIGINT) AS n_urls
              |FROM c WHERE canonical_url IS NOT NULL GROUP BY canonical_url
              |UNION ALL
              |SELECT doc_id, canonical_url, CAST(1 AS BIGINT) AS n_urls
              |FROM c WHERE canonical_url IS NULL""".stripMargin),
      headline = true),

    Q("q_url_dedup_stream_exec", // STREAMING EXECUTION gate: the crawl
      // frontier — canonicalize + dropDuplicates on arrival through the
      // incremental engine, so a fetcher fed from this stream never
      // re-downloads a resource already seen under another spelling;
      // drained output is exactly the DISTINCT canonical set. NULL
      // canonicals are passed over: a frontier cannot key on NULL
      // (batch CorpusOps.urlDedup keeps them, the right call when
      // ACCOUNTING rather than fetching). Only the canonical is emitted:
      // which physical row survives it is a partition race,
      // exactly-one-per-canonical is the contract. Append mode, as for
      // q_dedup_stream_exec. State is one entry per distinct canonical:
      // a production frontier bounds it with a watermark on crawl time
      // + dropDuplicatesWithinWatermark; this drain over a snapshot has
      // no time column, and its state is bounded by the snapshot's
      // distinct count.
      (s, d) => {
        val ckpt = scratchDir("graft-stream-urldedup-ckpt")
        val (docs, _) =
          EventStreams.fileSource(s, s"$d/documents.parquet", ckpt)
        EventStreams.drain(s,
          docs.select(CorpusOps.canonicalUrl(syntheticUrl).as("canonical_url"))
            .filter(col("canonical_url").isNotNull)
            .dropDuplicates("canonical_url"),
          ckpt, "graft_stream_urldedup", OutputMode.Append())
      },
      Some(s"""WITH $urlCanonCtes
              |SELECT DISTINCT canonical_url FROM c
              |WHERE canonical_url IS NOT NULL""".stripMargin)),

    Q("q_para_dedup_stream_exec", // STREAMING EXECUTION gate: keep-first
      // paragraph dedup at ingest — foreachBatch increments against a
      // persisted first-occurrence table (the crawl-frontier pattern
      // with durable state). One AvailableNow drain over a fresh seen
      // table must reproduce the batch operator exactly, so the oracle
      // is q_para_dedup's, byte for byte; cross-drain suppression is
      // spec-pinned in EventStreamsSpec.
      (s, d) => {
        val dir = scratchDir("graft-stream-paradedup")
        EventStreams.paraDedupAvailableNow(
          s, s"$d/documents.parquet", "doc_id",
          regexp_replace(col("text"), " the ", "\n"),
          s"$dir/seen", s"$dir/out", s"$dir/ckpt")
      },
      Some("""WITH d AS (SELECT doc_id,
             |    replace(text, ' the ', chr(10)) AS text
             |  FROM documents WHERE text IS NOT NULL),
             |l AS (SELECT doc_id,
             |    unnest(string_split(text, chr(10))) AS p,
             |    unnest(range(1, len(string_split(text, chr(10))) + 1))
             |      AS pos
             |  FROM d),
             |fd AS (SELECT p, min(doc_id) AS f_doc FROM l
             |       WHERE trim(p) <> '' GROUP BY 1),
             |fp AS (SELECT l.p, f_doc, min(l.pos) AS f_pos
             |       FROM l JOIN fd ON l.p = fd.p AND l.doc_id = fd.f_doc
             |       GROUP BY 1, 2),
             |m AS (SELECT l.doc_id, l.pos, l.p,
             |        (fp.p IS NULL OR (l.doc_id = fp.f_doc
             |          AND l.pos = fp.f_pos)) AS keep
             |      FROM l LEFT JOIN fp ON l.p = fp.p)
             |SELECT doc_id,
             |  coalesce(string_agg(CASE WHEN keep THEN p END,
             |    chr(10) ORDER BY pos), '') AS clean_text,
             |  CAST(count(*) AS BIGINT) AS n_paras,
             |  CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_removed
             |FROM m GROUP BY doc_id""".stripMargin)),

    Q("q_bm25_stream_exec", // STREAMING EXECUTION gate: BM25-index
      // ingest, the crawl-to-searchable-index pipeline — the documents
      // table drains through the incremental engine into the persisted
      // posting layout via bm25IndexIncrement (per-batch dirs on
      // postings/df/stats, so replays rewrite rather than
      // double-append; no cross-batch state is read, so results are
      // batching-invariant), then the standard 4-query batch probes the
      // FRESH index. One drain must probe exactly like a one-shot
      // build, so the oracle is q_bm25_batch's verbatim (k=10);
      // incremental extension and replay idempotence are spec-pinned
      // in EventStreamsSpec.
      (s, d) => {
        import s.implicits._
        val dir = scratchDir("graft-stream-bm25")
        val ckpt = s"$dir/ckpt"
        val (docs, _) =
          EventStreams.fileSource(s, s"$d/documents.parquet", ckpt)
        EventStreams.drainBatches(
            docs.select(col("doc_id"), col("text").as("__text")), ckpt) {
          (b, batchId) => CorpusOps.bm25IndexIncrement(b, "doc_id",
            "__text", s"$dir/idx", batchId)
        }
        val qs = Seq(
          (0L, "hash join window scan"),
          (1L, "sort merge batch"),
          (2L, "dup stream"),
          (3L, "qqqnomatchqqq")).toDF("query_id", "query_text")
        CorpusOps.bm25TopKIndexed(s, s"$dir/idx", qs, "query_id",
            "query_text", k = 10)
          .select(col("query_id"), col("id").as("doc_id"), col("bm25"),
            col("n_terms"))
      },
      Some("""WITH qraw AS (SELECT * FROM (VALUES
             |    (CAST(0 AS BIGINT), 'hash join window scan'),
             |    (CAST(1 AS BIGINT), 'sort merge batch'),
             |    (CAST(2 AS BIGINT), 'dup stream'),
             |    (CAST(3 AS BIGINT), 'qqqnomatchqqq'))
             |  AS v(query_id, query_text)),
             |q AS (SELECT DISTINCT query_id, tok FROM (
             |  SELECT query_id,
             |    unnest(string_split_regex(trim(query_text), '\s+')) AS tok
             |  FROM qraw)),
             |d AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents
             |  WHERE text IS NOT NULL AND trim(text) <> ''),
             |lens AS (SELECT doc_id, len(toks) AS dl FROM d),
             |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             |    avg(dl) AS avgdl FROM lens),
             |t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
             |  WHERE tok IN (SELECT DISTINCT tok FROM q)
             |  GROUP BY 1, 2),
             |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
             |contrib AS (SELECT tf.doc_id, tf.tok,
             |    ln((stats.n - df.df + CAST(0.5 AS DOUBLE))
             |          / (df.df + CAST(0.5 AS DOUBLE))
             |          + CAST(1.0 AS DOUBLE))
             |      * tf.tf
             |      * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
             |      / (tf.tf + CAST(1.2 AS DOUBLE)
             |          * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
             |            + CAST(0.75 AS DOUBLE) * lens.dl
             |              / stats.avgdl)) AS c
             |  FROM tf JOIN df USING (tok) JOIN lens USING (doc_id)
             |  CROSS JOIN stats),
             |sc AS (SELECT q.query_id, contrib.doc_id,
             |    round(sum(contrib.c), 4) + 0 AS bm25,
             |    CAST(count(*) AS BIGINT) AS n_terms
             |  FROM contrib JOIN q ON q.tok = contrib.tok
             |  GROUP BY 1, 2),
             |rk AS (SELECT query_id, doc_id, bm25, n_terms,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY bm25 DESC, doc_id) AS rn
             |  FROM sc)
             |SELECT query_id, doc_id, bm25, n_terms
             |FROM rk WHERE rn <= 10""".stripMargin)),

    Q("q_ivf_stream_exec", // STREAMING EXECUTION gate: ANN-index
      // ingest (r15 verdict #3) — the planted embedding corpus drains
      // through the incremental engine into the persisted centroid-IVF
      // layout (model initialized up front on a seed read; per-batch
      // cell subtrees via ivfAppendBatch), then the standard 4-query
      // batch probes the FRESH index. One drain must probe exactly
      // like a one-shot build under the same model — assignment is a
      // pure function of (vector, model), so the oracle is
      // q_ivf_batch's verbatim; drain == build row-identity, replay
      // idempotence and incremental extension are spec-pinned in
      // EventStreamsSpec.
      (s, d) => {
        val dir = scratchDir("graft-stream-ivf")
        val emb = plantedEmbeddings(s, d)
        emb.write.parquet(s"$dir/src")
        Similarity.ivfInit(emb, "vec_id", "embedding", s"$dir/idx", nCells = 8,
          iters = 3)
        EventStreams.ivfIndexAvailableNow(s,
          s"$dir/src", "vec_id", col("embedding"), s"$dir/idx",
          s"$dir/ckpt")
        Similarity.ivfProbe(s, s"$dir/idx",
            emb.filter(col("vec_id") < 4)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 21, probes = 1)
          .filter(col("id") =!= col("qid"))
          .groupBy(col("qid"))
          .agg(
            max_by(col("id"), struct(col("cos_sim"), -col("id")))
              .as("top1_id"),
            max(col("cos_sim")).as("top1_cos"),
            count(lit(1)).as("n_rows"))
      },
      Some("""SELECT CAST(v.c0 AS BIGINT) AS qid,
             |  CAST(v.c1 AS BIGINT) AS top1_id,
             |  CAST(v.c2 AS DOUBLE) AS top1_cos,
             |  CAST(v.c3 AS BIGINT) AS n_rows
             |FROM (VALUES
             |  (0, 1000000, 1.0, 20),
             |  (1, 1000001, 1.0, 20),
             |  (2, 1000002, 1.0, 20),
             |  (3, 1000003, 1.0, 20)) AS v(c0, c1, c2, c3)"""
        .stripMargin)),

    Q("q_ivfpq_stream_exec", // STREAMING EXECUTION gate on the
      // COMPOSED index: the planted corpus drains through the
      // incremental engine into the IVF-PQ layout (coarse centroids +
      // residual codebooks initialized up front on a seed read;
      // per-batch codes/batch=<id> subtrees via ivfAppendBatch),
      // then the 4-query batch ADC probe hits the FRESH index.
      // Assignment AND encoding are pure functions of (vector,
      // models), so one drain probes exactly like a one-shot build —
      // the oracle is q_ivfpq_batch's verbatim; replay idempotence
      // and the layout guards are spec-pinned in EventStreamsSpec.
      (s, d) => {
        val dir = scratchDir("graft-stream-ivfpq")
        val emb = plantedEmbeddings(s, d)
        emb.write.parquet(s"$dir/src")
        Similarity.ivfInit(emb, "vec_id", "embedding", s"$dir/idx",
          IvfTier.Pq(m = 8, nbits = 8), nCells = 8, iters = 3)
        EventStreams.ivfIndexAvailableNow(s,
          s"$dir/src", "vec_id", col("embedding"), s"$dir/idx",
          s"$dir/ckpt")
        Similarity.ivfProbe(s, s"$dir/idx",
            emb.filter(col("vec_id") < 4)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 21, probes = 1)
          .filter(col("id") =!= col("qid"))
          .groupBy(col("qid"))
          .agg(
            max_by(col("id"), struct(col("pq_cos"), -col("id")))
              .as("top1_id"),
            count(lit(1)).as("n_rows"),
            (min(col("pq_cos")) >= -1.25 && max(col("pq_cos")) <= 1.05)
              .as("cos_bounded"))
      },
      Some("""SELECT CAST(v.c0 AS BIGINT) AS qid,
             |  CAST(v.c1 AS BIGINT) AS top1_id,
             |  CAST(v.c2 AS BIGINT) AS n_rows,
             |  CAST(v.c3 AS BOOLEAN) AS cos_bounded
             |FROM (VALUES
             |  (0, 1000000, 20, true),
             |  (1, 1000001, 20, true),
             |  (2, 1000002, 20, true),
             |  (3, 1000003, 20, true)) AS v(c0, c1, c2, c3)"""
        .stripMargin)),

    Q("q_warc_stream_exec", // STREAMING WARC ingestion through the real
      // incremental engine: the staged archive directory drains through
      // readStream (file-stream source over binaryFile, same parser as
      // the batch path) -> per-host doc/char totals -> complete-mode
      // memory sink; the oracle is the same aggregation straight off
      // `documents`. Incremental file discovery itself is spec-pinned
      // in WarcSpec (second drain processes only the new archive file).
      (s, d) => {
        val dir = scratchDir("graft-warc-stream")
        val docs = t(s, d, "documents")
        graft.sources.Warc.write(
          docs.select(
            concat(lit("http://www."), col("source"), lit(".org/doc/"),
              col("doc_id")).as("target_uri"),
            encode(col("text"), "UTF-8").as("body"))
            .repartition(2),
          s"$dir/arch")
        val agg = graft.sources.Warc.readStream(s, s"$dir/arch")
          .select(CorpusOps.urlHost(col("target_uri")).as("host"),
            length(col("body_text")).cast("long").as("__n"))
          .groupBy(col("host"))
          .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("n_chars"))
        EventStreams.drain(s, agg,
          s"$dir/ckpt", "graft_warc_stream")
      },
      Some("""SELECT lower('www.' || source || '.org') AS host,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(length(text)) AS BIGINT) AS n_chars
             |FROM documents GROUP BY 1""".stripMargin)),

    Q("q_web_pipeline", // the END-TO-END web ingestion pipeline: corpus
      // (+ planted dups, ids +1M, the curate convention) staged as a
      // WARC archive -> record parse + HTTP strip -> URL blocklist
      // (src3.org parent-domain leg, www.src7.org exact-host leg) ->
      // Gopher quality gate (minTokens=30) -> exact dedup keep-first.
      // A planted copy whose original survives must dedup away; a copy
      // whose original is blocklisted shares its host and dies with it.
      // One composed DAG; the oracle composes the stage oracles.
      (s, d) => {
        import s.implicits._
        val dir = scratchDir("graft_wet")
        val docs = t(s, d, "documents")
        val planted = docs.select(col("doc_id"), col("text"), col("source"))
          .unionByName(docs.filter(col("doc_id") < 10)
            .select((col("doc_id") + 1000000).as("doc_id"), col("text"),
              col("source")))
        graft.sources.Warc.write(
          planted.select(
            concat(lit("http://www."), col("source"), lit(".org/doc/"),
              col("doc_id")).as("target_uri"),
            encode(col("text"), "UTF-8").as("body"))
            .repartition(4),
          dir)
        // the parsed-archive subtree (binaryFile scan + gunzip + record
        // parse) is referenced by every later stage branch — without a
        // materialization each reference re-inflates the archive
        val recs = graft.operators.Materialize(
          graft.sources.Warc.read(s, dir).select(
            regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
              .cast("long").as("doc_id"),
            col("target_uri").as("url"),
            col("body_text").as("text")),
          eager = false)
        // allowed feeds gopherRules AND the semi-join; quality feeds
        // Dedup.exact AND the final semi-join — materialize both so
        // the suffix-explode anti-join and the regex-heavy Gopher
        // metrics run once, not per downstream branch
        val allowed = graft.operators.Materialize(
          CorpusOps.urlBlocklistFilter(recs, "url",
            Seq("src3.org", "www.src7.org").toDF("domain")),
          eager = false)
        val passers = TextAnalysis
          .gopherRules(allowed, "doc_id", "text", minTokens = 30)
          .filter(col("passes")).select(col("id").as("doc_id"))
        val quality = graft.operators.Materialize(
          allowed.join(passers, Seq("doc_id"), "left_semi"),
          eager = false)
        val firsts = Dedup.exact(quality, "doc_id", "text")
          .select(col("keep_id").as("doc_id"))
        quality.join(firsts, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("host"))
      },
      Some(raw"""WITH pl AS (
             |  SELECT doc_id, text, source FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000, text, source FROM documents
             |  WHERE doc_id < 10),
             |d AS (SELECT doc_id, text,
             |    lower('www.' || source || '.org') AS host FROM pl),
             |allowed AS (SELECT * FROM d WHERE NOT EXISTS (
             |  SELECT 1 FROM (VALUES ('src3.org'), ('www.src7.org'))
             |    b(domain)
             |  WHERE d.host = b.domain OR d.host LIKE '%.' || b.domain)),
             |b AS (SELECT doc_id AS id, text AS t,
             |    string_split_regex(trim(text), '\s+') AS toks,
             |    string_split(text, chr(10)) AS lines FROM allowed
             |  WHERE text IS NOT NULL AND trim(text) <> ''),
             |$gopherMetricsCte,
             |q AS (SELECT id FROM m
             |  WHERE $gopherPassSql),
             |keep AS (SELECT doc_id, host, md5(text) AS h FROM allowed
             |  WHERE doc_id IN (SELECT id FROM q)),
             |firsts AS (SELECT h, min(doc_id) AS doc_id FROM keep
             |  GROUP BY h)
             |SELECT k.doc_id, k.host FROM keep k
             |JOIN firsts f ON k.doc_id = f.doc_id"""
        .stripMargin)),

    Q("q_binaryfile_ingest", // binaryFile source: media files -> blob rows
      // feeding the multimodal pipeline (rows-only)
      (s, d) => {
        val dir = scratchDir("graft_media")
        // stage a few "media" files (opaque bytes is the point)
        t(s, d, "documents").orderBy(col("doc_id")).limit(5)
          .collect().foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$dir/doc_${r.getLong(0)}.bin"),
              r.getString(1).getBytes("UTF-8"))
          }
        val files = s.read.format("binaryFile").load(dir)
          .select(
            regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast("long")
              .as("media_id"),
            col("content").as("blob"),
            struct(col("length").cast("int").as("n_bytes"),
              lit("binary").as("kind")).as("meta"))
        Multimodal.extractFeatures(s, files)
          .select(col("media_id"), col("n_bytes").cast("long").as("n_bytes"),
            col("content_md5"))
      },
      // the staged files carry the first-5 docs' UTF-8 bytes, so the
      // ingest result is SQL-expressible from the source table (ASCII
      // corpus: strlen == byte length, as q_media_meta already relies on)
      Some("""SELECT doc_id AS media_id,
             |  CAST(strlen(text) AS BIGINT) AS n_bytes,
             |  md5(text) AS content_md5
             |FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 5)"""
        .stripMargin)),

    Q("q_sql_surface", // the raw spark.sql API over registered views —
      // the same ANSI text runs on both engines verbatim. Balances are
      // totaled as exact integer cents: round(avg(double), 2) can sit on
      // a .xx5 boundary where Spark (shortest-decimal-repr rounding) and
      // DuckDB (binary-value rounding) legitimately disagree — observed
      // at sf0.001 (4201.315 -> .32 vs .31).
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql("""SELECT n_name, count(*) AS n_cust,
                |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT)
                |    AS total_cents
                |FROM customer JOIN nation ON c_nationkey = n_nationkey
                |GROUP BY n_name""".stripMargin)
      },
      Some("""SELECT n_name, count(*) AS n_cust,
             |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT)
             |    AS total_cents
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name""".stripMargin)),

    Q("q_orc_roundtrip", // ORC source/sink coverage; oracle = roundtrip
      // identity vs the source table (ORC preserves types exactly)
      (s, d) => {
        val dir = scratchDir("graft_orc")
        t(s, d, "supplier").write.mode("overwrite").orc(s"$dir/supplier")
        s.read.orc(s"$dir/supplier")
      },
      Some("SELECT * FROM supplier")),

    Q("q_ivf_topk", // IVF-partitioned ANN: build the hive-partitioned
      // (by SRP cell) index in a temp dir, then a partition-pruned probe
      // of the query vector's cell — the 100 TB ANN path (1/2^nBits of
      // the corpus scanned). Cell membership isn't SQL-expressible, so
      // the gate pins the planted-duplicate property (the planted
      // corpus carries an exact copy of query vector 0 at id 1000000,
      // which always lands in the query's cell): rank-1 of the probe
      // must be that copy at cos_sim 1.0, with all k slots filled.
      // DedupSimilaritySpec keeps the full-result check (probe equals
      // the in-memory bucketed scan; plan is partition-pruned). The
      // 1-row collect stages the query vector (parameter, not dataflow).
      (s, d) => {
        // deterministic per-(process, sf) path: repeated invocations in
        // one bench run (warm-up + n timed iterations) rebuild in place
        // instead of orphaning a full index copy in /tmp each time
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val emb = plantedEmbeddings(s, d)
        Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir, nBits = 4)
        val qVec = emb.filter(col("vec_id") === 0L)
          .select(col("embedding")).collect()(0).getSeq[Float](0).toArray
        Similarity.ivfTopK(s, dir, qVec, k = 21, nBits = 4)
          .filter(col("id") =!= 0L)
          .agg(
            max_by(col("id"), struct(col("cos_sim"), -col("id")))
              .as("top1_id"),
            max(col("cos_sim")).as("top1_cos"),
            count(lit(1)).as("n_rows"))
      },
      Some("""SELECT CAST(1000000 AS BIGINT) AS top1_id,
             |  CAST(1.0 AS DOUBLE) AS top1_cos,
             |  CAST(20 AS BIGINT) AS n_rows""".stripMargin)),

    Q("q_ivf_centroid_topk", // centroid-balanced IVF ANN: k-means-lite
      // cells (balanced occupancy) instead of SRP hyperplane buckets —
      // lifts recall-per-row-scanned ~2x on neighbor-poor corpora
      // (SCALE.md curve). Same gate as q_ivf_topk: the planted exact
      // copy of query vector 0 shares its cell by construction
      // (identical vector -> identical assignment), so the single-probe
      // rank-1 must be id 1000000 at cos 1.0 with all k slots filled.
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ivfc_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val emb = plantedEmbeddings(s, d)
        Similarity.ivfBuild(emb, "vec_id", "embedding", dir, nCells = 8,
          iters = 3)
        Similarity.ivfProbe(s, dir,
            emb.filter(col("vec_id") === 0L)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 21, probes = 1)
          .filter(col("id") =!= 0L)
          .agg(
            max_by(col("id"), struct(col("cos_sim"), -col("id")))
              .as("top1_id"),
            max(col("cos_sim")).as("top1_cos"),
            count(lit(1)).as("n_rows"))
      },
      Some("""SELECT CAST(1000000 AS BIGINT) AS top1_id,
             |  CAST(1.0 AS DOUBLE) AS top1_cos,
             |  CAST(20 AS BIGINT) AS n_rows""".stripMargin)),

    Q("q_ivf_append", // incremental ANN index maintenance: build the
      // centroid index on the raw corpus, then APPEND the planted +1M
      // copies of vec 0..9 assigned by the PERSISTED model (pure
      // append, no rebuild — the ingest contract the exact-dedup and
      // span indexes already have). Assignment is a pure function of
      // (vector, model), so the appended copy of query vector 0 lands
      // in the query's own cell and must be the single-probe rank-1 at
      // cos 1.0 with all k slots filled; idx_rows checks the append
      // added exactly the delta; drift_sane bounds the post-append
      // ivfDriftSummary (skew >= 1, residual in [0, 2]).
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ivfa_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val emb = t(s, d, "embeddings")
        Similarity.ivfBuild(emb, "vec_id", "embedding", dir, nCells = 8,
          iters = 3)
        Similarity.ivfAppend(
          emb.filter(col("vec_id") < 10)
            .select((col("vec_id") + 1000000).as("vec_id"),
              col("embedding")),
          "vec_id", "embedding", dir)
        val probe = Similarity.ivfProbe(s, dir,
            emb.filter(col("vec_id") === 0L)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 21, probes = 1)
          .filter(col("id") =!= 0L)
          .agg(
            max_by(col("id"), struct(col("cos_sim"), -col("id")))
              .as("top1_id"),
            max(col("cos_sim")).as("top1_cos"),
            count(lit(1)).as("n_rows"))
        val summary = Similarity.ivfDriftSummary(s, dir)
          .select(col("n_vecs").as("idx_rows"),
            (col("count_skew") >= 1.0 && col("mean_residual") >= 0.0 &&
              col("mean_residual") <= 2.0).as("drift_sane"))
        probe.crossJoin(summary)
      },
      Some("""SELECT CAST(1000000 AS BIGINT) AS top1_id,
             |  CAST(1.0 AS DOUBLE) AS top1_cos,
             |  CAST(20 AS BIGINT) AS n_rows,
             |  (SELECT CAST(count(*) + 10 AS BIGINT) FROM embeddings)
             |    AS idx_rows,
             |  true AS drift_sane""".stripMargin)),

    Q("q_ivf_batch", // batch ANN against the partitioned IVF index:
      // a query TABLE (vectors 0..3) probed in ONE job. Index = the
      // corpus + appended +1M copies of vecs 0..9 (the q_ivf_append
      // layout); exact copies always share the query's cell, so each
      // query's rank-1 (self excluded) must be its own +1M copy at
      // cos 1.0 with all 20 post-exclusion slots filled. Batch ==
      // per-query law is spec-pinned; this gate pins the
      // SQL-expressible per-query planted property.
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ivfb_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val emb = t(s, d, "embeddings")
        Similarity.ivfBuild(emb, "vec_id", "embedding", dir, nCells = 8,
          iters = 3)
        Similarity.ivfAppend(
          emb.filter(col("vec_id") < 10)
            .select((col("vec_id") + 1000000).as("vec_id"),
              col("embedding")),
          "vec_id", "embedding", dir)
        Similarity.ivfProbe(s, dir,
            emb.filter(col("vec_id") < 4)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 21, probes = 1)
          .filter(col("id") =!= col("qid"))
          .groupBy(col("qid"))
          .agg(
            max_by(col("id"), struct(col("cos_sim"), -col("id")))
              .as("top1_id"),
            max(col("cos_sim")).as("top1_cos"),
            count(lit(1)).as("n_rows"))
      },
      Some("""SELECT CAST(v.c0 AS BIGINT) AS qid,
             |  CAST(v.c1 AS BIGINT) AS top1_id,
             |  CAST(v.c2 AS DOUBLE) AS top1_cos,
             |  CAST(v.c3 AS BIGINT) AS n_rows
             |FROM (VALUES
             |  (0, 1000000, 1.0, 20),
             |  (1, 1000001, 1.0, 20),
             |  (2, 1000002, 1.0, 20),
             |  (3, 1000003, 1.0, 20)) AS v(c0, c1, c2, c3)"""
        .stripMargin)),

    Q("q_ivf_delete", // ANN-index deletion: append exact copies of
      // vectors 0..3 (each its query's guaranteed rank-1 at cos 1.0 —
      // the q_ivf_append property), then TOMBSTONE them. Probes must
      // exclude the copies IMMEDIATELY: per query the copy is gone,
      // every remaining cosine sits below 1.0 (organic max 0.61,
      // measured at every SF), and all 20 post-self-exclusion slots
      // fill from survivors. Retrain-as-compaction is spec-pinned in
      // DedupSimilaritySpec (tombstones drop from the rewrite,
      // retrained layout == fresh build over survivors).
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ivfd_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val emb = t(s, d, "embeddings")
        Similarity.ivfBuild(emb, "vec_id", "embedding", dir, nCells = 8,
          iters = 3)
        Similarity.ivfAppend(
          emb.filter(col("vec_id") < 4)
            .select((col("vec_id") + 1000000).as("vec_id"),
              col("embedding")),
          "vec_id", "embedding", dir)
        Similarity.ivfDelete(dir,
          emb.filter(col("vec_id") < 4)
            .select((col("vec_id") + 1000000).as("vec_id")),
          "vec_id")
        Similarity.ivfProbe(s, dir,
            emb.filter(col("vec_id") < 4)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 21, probes = 1)
          .filter(col("id") =!= col("qid"))
          .groupBy(col("qid"))
          .agg(
            (sum(when(col("id") === col("qid") + 1000000, 1)
              .otherwise(0)) === 0).as("copy_gone"),
            (max(col("cos_sim")) < 1.0).as("top_below_one"),
            count(lit(1)).as("n_rows"))
      },
      Some("""SELECT CAST(v.c0 AS BIGINT) AS qid,
             |  CAST(v.c1 AS BOOLEAN) AS copy_gone,
             |  CAST(v.c2 AS BOOLEAN) AS top_below_one,
             |  CAST(v.c3 AS BIGINT) AS n_rows
             |FROM (VALUES
             |  (0, true, true, 20),
             |  (1, true, true, 20),
             |  (2, true, true, 20),
             |  (3, true, true, 20)) AS v(c0, c1, c2, c3)"""
        .stripMargin)),

    Q("q_ivf_retrain", // the drift REMEDIATION gate (r14 verdict #3):
      // build the centroid index, age it with an appended
      // shifted-distribution copy (ids offset, +2.0 added to the first
      // coordinate — the population whose recall the frozen model
      // loses), then ivfRetrain on the index's CURRENT contents. Gated
      // properties: rows survive the rewrite exactly (idx_rows = 2N),
      // the retrain keeps the model width (k_cells = 8), the retrained layout
      // equals a one-shot assignment pass UNDER THE RETRAINED MODEL
      // (cell_diffs = 0: the same combined vectors re-assigned through
      // the public ivfAppend — which assigns with the PERSISTED model —
      // must land id-for-id in the cells the retrain wrote; the
      // ivfAppend purity law reapplied through the refit+swap path,
      // deliberately NOT a cross-fit centroid comparison, whose
      // distributed double sums are merge-order nondeterministic), and
      // a NEW-distribution query probes to its exact copy at cos 1.0
      // with one probe (top1 properties) — findable-after-retrain, the
      // user-facing point of the remediation.
      (s, d) => {
        val root = s"${System.getProperty("java.io.tmpdir")}/graft_ivfr_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}"
        TempDirs.deleteOnExit(new java.io.File(root))
        val dir = s"$root/idx"
        val emb = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"))
        def shifted = emb.select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, x + lit(2.0d)).otherwise(x + lit(0.0d)))
            .cast("array<float>").as("embedding"))
        Similarity.ivfBuild(emb, "vec_id", "embedding", dir, nCells = 8,
          iters = 3)
        Similarity.ivfAppend(shifted, "vec_id", "embedding", dir)
        val centroids = Similarity.ivfRetrain(s, dir, iters = 3)
        // law leg: the same combined vectors, ids offset, re-assigned
        // by the persisted RETRAINED model via the public append path
        Similarity.ivfAppend(
          emb.unionByName(shifted)
            .select((col("vec_id") + 10000000L).as("vec_id"),
              col("embedding")),
          "vec_id", "embedding", dir)
        val idx = s.read.parquet(dir)
        val a = idx.filter(col("id") < 10000000L)
          .select(col("id"), col("cell"))
        val b = idx.filter(col("id") >= 10000000L)
          .select((col("id") - 10000000L).as("id"),
            col("cell").as("cell2"))
        val law = a.join(b, Seq("id"), "full_outer")
          .filter(col("cell").isNull || col("cell2").isNull ||
            col("cell") =!= col("cell2"))
          .agg(count(lit(1)).as("cell_diffs"))
        // a NEW-distribution query finds its exact copy, one probe
        // (its law-leg twin ties at cos 1.0; id order breaks the tie)
        val probe = Similarity.ivfProbe(s, dir,
            shifted.filter(col("vec_id") === 1000000L)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 1, probes = 1)
          .agg(max_by(col("id"), col("cos_sim")).as("top1_id"),
            max(col("cos_sim")).as("top1_cos"))
        val rows = a.agg(count(lit(1)).as("idx_rows"))
        probe.crossJoin(rows).crossJoin(law)
          .withColumn("k_cells", lit(centroids.size))
      },
      Some("""SELECT CAST(1000000 AS BIGINT) AS top1_id,
             |  CAST(1.0 AS DOUBLE) AS top1_cos,
             |  (SELECT CAST(2 * count(*) AS BIGINT) FROM embeddings)
             |    AS idx_rows,
             |  CAST(0 AS BIGINT) AS cell_diffs,
             |  8 AS k_cells""".stripMargin)),

    Q("q_ivf_retrain_versioned", // the q_ivf_retrain properties
      // through the VERSIONED publish path (r15 verdict #7, carry —
      // triggered by the always-on streaming ingest story): the
      // retrain builds a hidden .v1 generation and flips the .current
      // pointer by rename-with-overwrite instead of the two-rename
      // swap, so probes and appends need no pause. Same planted legs
      // as q_ivf_retrain (idx_rows, cell_diffs-through-public-append,
      // findable-after-retrain top1), PLUS: the pointer names v1
      // (ptr_v1) and the pre-versioning legacy layout is RETAINED as
      // reader grace until the next publish (grace_legacy; retention
      // and sticky versioning are spec-pinned in DedupSimilaritySpec).
      (s, d) => {
        val root = s"${System.getProperty("java.io.tmpdir")}/graft_ivfrv_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}"
        TempDirs.deleteOnExit(new java.io.File(root))
        val dir = s"$root/idx"
        val emb = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"))
        def shifted = emb.select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, x + lit(2.0d)).otherwise(x + lit(0.0d)))
            .cast("array<float>").as("embedding"))
        Similarity.ivfBuild(emb, "vec_id", "embedding", dir, nCells = 8,
          iters = 3)
        Similarity.ivfAppend(shifted, "vec_id", "embedding", dir)
        val centroids = Similarity.ivfRetrain(s, dir, iters = 3,
          versioned = true)
        // law leg through the PUBLIC append path, which must resolve
        // to the live .v1 generation
        Similarity.ivfAppend(
          emb.unionByName(shifted)
            .select((col("vec_id") + 10000000L).as("vec_id"),
              col("embedding")),
          "vec_id", "embedding", dir)
        val idx = s.read.parquet(s"$dir/.v1/data")
        val a = idx.filter(col("id") < 10000000L)
          .select(col("id"), col("cell"))
        val b = idx.filter(col("id") >= 10000000L)
          .select((col("id") - 10000000L).as("id"),
            col("cell").as("cell2"))
        val law = a.join(b, Seq("id"), "full_outer")
          .filter(col("cell").isNull || col("cell2").isNull ||
            col("cell") =!= col("cell2"))
          .agg(count(lit(1)).as("cell_diffs"))
        val probe = Similarity.ivfProbe(s, dir,
            shifted.filter(col("vec_id") === 1000000L)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 1, probes = 1)
          .agg(max_by(col("id"), col("cos_sim")).as("top1_id"),
            max(col("cos_sim")).as("top1_cos"))
        val rows = a.agg(count(lit(1)).as("idx_rows"))
        val rootFiles = Option(new java.io.File(dir).list())
          .map(_.toSet).getOrElse(Set.empty[String])
        probe.crossJoin(rows).crossJoin(law)
          .withColumn("k_cells", lit(centroids.size))
          .withColumn("ptr_v1", lit(rootFiles.contains(".current") &&
            rootFiles.contains(".v1")))
          .withColumn("grace_legacy",
            lit(rootFiles.exists(_.startsWith("cell="))))
      },
      Some("""SELECT CAST(1000000 AS BIGINT) AS top1_id,
             |  CAST(1.0 AS DOUBLE) AS top1_cos,
             |  (SELECT CAST(2 * count(*) AS BIGINT) FROM embeddings)
             |    AS idx_rows,
             |  CAST(0 AS BIGINT) AS cell_diffs,
             |  8 AS k_cells,
             |  true AS ptr_v1,
             |  true AS grace_legacy""".stripMargin)),

    Q("q_ivf_filtered", // FILTERED ANN search (r15 verdict #4): the
      // metadata predicate runs INSIDE the probe — on the pruned cell
      // scan, BEFORE scoring and top-k — and the probe WIDENS (doubling
      // probed cells in cell-similarity order) until k rows match or
      // every cell is scanned. Planted data: 12 copies of vectors
      // 10..21 carry the otherwise-nonexistent label 99, scattered
      // across cells, so k=20 > 12 forces widening to FULL coverage
      // and the result is EXACTLY the brute-force cosine ranking of
      // query 0 over the label-filtered corpus — a full differential
      // oracle, not a property pin. Post-filtering a top-k instead
      // (the wrong order) would surface only the few planted rows
      // that crack the unfiltered top-20 — that failure mode plus the
      // batch == single law are spec-pinned in DedupSimilaritySpec.
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ivff_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val emb = t(s, d, "embeddings")
        val corpus = emb
          .select(col("vec_id"), col("embedding"), col("label"))
          .unionByName(emb.filter(col("vec_id").between(10, 21))
            .select((col("vec_id") + 1000000).as("vec_id"),
              col("embedding"), lit(99).as("label")))
        Similarity.ivfBuild(corpus, "vec_id", "embedding", dir, nCells = 8,
          iters = 3, extraCols = Seq("label"))
        Similarity.ivfProbe(s, dir,
            emb.filter(col("vec_id") === 0L)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 20, probes = 1, Some(col("label") === 99))
          .select(col("id"), col("cos_sim"))
      },
      Some("""WITH q AS (
             |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE))
             |    AS v
             |  FROM embeddings WHERE vec_id = 0),
             |c AS (
             |  SELECT CAST(vec_id + 1000000 AS BIGINT) AS id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings WHERE vec_id BETWEEN 10 AND 21)
             |SELECT c.id,
             |  round(list_aggregate(
             |      list_transform(c.v, (x, i) -> x * q.v[i]), 'sum')
             |    / (sqrt(list_aggregate(
             |        list_transform(c.v, x -> x * x), 'sum'))
             |      * sqrt(list_aggregate(
             |          list_transform(q.v, x -> x * x), 'sum'))), 6)
             |    + 0 AS cos_sim
             |FROM c CROSS JOIN q""".stripMargin)),

    Q("q_pq_rerank_batch", // the production ANN recipe, BATCHED:
      // per-query ADC candidate pools over the 8-byte codes, exact
      // cosine re-rank of only the pooled rows. Gated in the
      // oracle-able degenerate case (pool >= corpus: every row
      // survives candidate generation, so the result IS the exact
      // batch cosine ranking — q_cosine_knn_batch's oracle verbatim);
      // batch == per-query at REAL pools is bit-pinned in PqSpec.
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.pqTopKRerankedBatch(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 4)
            .select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv",
          pqModelFor(s"rerank:$d",
            Similarity.trainPq(emb, "vec_id", "embedding",
              m = 8, nbits = 8, iters = 10)),
          k = 10, pool = 1000000)
      },
      Some(exactRerankOracleSql)),

    Q("q_ivfpq_filtered", // FILTERED ANN on the COMPOSED index —
      // q_ivf_filtered's planted design through the ADC probe: 12
      // copies of vectors 10..21 carry the otherwise-nonexistent
      // label 99 (metadata riding the code rows via extraCols),
      // scattered across cells; k=20 > 12 forces widening to FULL
      // coverage, so the matched set is exactly the planted ids. ADC
      // scores are model-specific (not oracle-able), so the gate pins
      // the ID SET — which post-filtering a top-20 would visibly
      // shrink (only planted rows cracking the unfiltered global
      // top-20 would survive).
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ivfpqf_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val emb = t(s, d, "embeddings")
        val corpus = emb
          .select(col("vec_id"), col("embedding"), col("label"))
          .unionByName(emb.filter(col("vec_id").between(10, 21))
            .select((col("vec_id") + 1000000).as("vec_id"),
              col("embedding"), lit(99).as("label")))
        Similarity.ivfBuild(corpus, "vec_id", "embedding", dir,
          IvfTier.Pq(m = 8, nbits = 8), nCells = 8, iters = 3,
          extraCols = Seq("label"))
        Similarity.ivfProbe(s, dir,
            emb.filter(col("vec_id") === 0L)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 20, probes = 1, Some(col("label") === 99))
          .select(col("id"))
      },
      Some("""SELECT CAST(vec_id + 1000000 AS BIGINT) AS id
             |FROM embeddings WHERE vec_id BETWEEN 10 AND 21"""
        .stripMargin)),

    Q("q_ivfpq_topk", // the composed IVF-PQ index (FAISS IVFADC
      // shape): centroid cells prune the scan to probes/nCells of the
      // corpus AND each surviving row is an 8-byte residual code —
      // partition pruning x 32x compression in one index. Planted
      // gate: the exact copy of query vector 0 shares the query's
      // cell (identical vector -> identical assignment) and its
      // residual encodes to the query's own codes, so single-probe
      // rank-1 (after excluding the query row, k=21 trick) must be
      // id 1000000 with all 20 slots filled. Index staged once per
      // (process, sf), _SUCCESS-gated.
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val emb = plantedEmbeddings(s, d)
        if (!new java.io.File(s"$dir/codes", "_SUCCESS").exists())
          Similarity.ivfBuild(emb, "vec_id", "embedding", dir,
            IvfTier.Pq(m = 8, nbits = 8), nCells = 8, iters = 3)
        Similarity.ivfProbe(s, dir,
            emb.filter(col("vec_id") === 0L)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 21, probes = 1)
          .filter(col("id") =!= 0L)
          .agg(
            max_by(col("id"), struct(col("pq_cos"), -col("id")))
              .as("top1_id"),
            count(lit(1)).as("n_rows"),
            (min(col("pq_cos")) >= -1.25 && max(col("pq_cos")) <= 1.05)
              .as("cos_bounded"))
      },
      Some("""SELECT CAST(1000000 AS BIGINT) AS top1_id,
             |  CAST(20 AS BIGINT) AS n_rows,
             |  true AS cos_bounded""".stripMargin)),

    Q("q_ivfpq_append", // IVF-PQ index lifecycle, append leg (r15
      // verdict #1): build the composed index on the raw corpus, then
      // APPEND +1M copies of vecs 0..9 routed through the PERSISTED
      // coarse centroids and codebooks (ivfAppend). Cell assignment
      // and residual encoding are pure functions of (vector, model),
      // so the appended copy of query vector 0 shares the query's
      // cell AND encodes to the query's own code — single-probe
      // rank-1 by the ADC-minimum argument of q_ivfpq_topk, all 20
      // post-exclusion slots filled (append == one-shot-build law
      // spec-pinned in PqSpec).
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ivfpqa_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val emb = t(s, d, "embeddings")
        Similarity.ivfBuild(emb, "vec_id", "embedding", dir,
          IvfTier.Pq(m = 8, nbits = 8), nCells = 8, iters = 3)
        Similarity.ivfAppend(
          emb.filter(col("vec_id") < 10)
            .select((col("vec_id") + 1000000).as("vec_id"),
              col("embedding")),
          "vec_id", "embedding", dir)
        Similarity.ivfProbe(s, dir,
            emb.filter(col("vec_id") === 0L)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 21, probes = 1)
          .filter(col("id") =!= 0L)
          .agg(
            max_by(col("id"), struct(col("pq_cos"), -col("id")))
              .as("top1_id"),
            count(lit(1)).as("n_rows"),
            (min(col("pq_cos")) >= -1.25 && max(col("pq_cos")) <= 1.05)
              .as("cos_bounded"))
      },
      Some("""SELECT CAST(1000000 AS BIGINT) AS top1_id,
             |  CAST(20 AS BIGINT) AS n_rows,
             |  true AS cos_bounded""".stripMargin)),

    Q("q_ivfpq_delete", // IVF-PQ index lifecycle, delete leg (r15
      // verdict #1): append exact copies of vectors 0..3 (each its
      // query's guaranteed ADC rank-1 — the q_ivfpq_append property),
      // then TOMBSTONE them (ivfDelete). Probes must exclude the
      // copies IMMEDIATELY, per query all 20 post-self-exclusion
      // slots refill from survivors. Compact-rewrites-survivors-
      // verbatim and retrain-as-compaction are spec-pinned in PqSpec
      // (codes carry no corpus statistics, so unlike BM25 nothing
      // else changes).
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ivfpqd_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val emb = t(s, d, "embeddings")
        Similarity.ivfBuild(emb, "vec_id", "embedding", dir,
          IvfTier.Pq(m = 8, nbits = 8), nCells = 8, iters = 3)
        Similarity.ivfAppend(
          emb.filter(col("vec_id") < 4)
            .select((col("vec_id") + 1000000).as("vec_id"),
              col("embedding")),
          "vec_id", "embedding", dir)
        Similarity.ivfDelete(dir,
          emb.filter(col("vec_id") < 4)
            .select((col("vec_id") + 1000000).as("vec_id")),
          "vec_id")
        Similarity.ivfProbe(s, dir,
            emb.filter(col("vec_id") < 4)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 21, probes = 1)
          .filter(col("id") =!= col("qid"))
          .groupBy(col("qid"))
          .agg(
            (sum(when(col("id") === col("qid") + 1000000, 1)
              .otherwise(0)) === 0).as("copy_gone"),
            count(lit(1)).as("n_rows"))
      },
      Some("""SELECT CAST(v.c0 AS BIGINT) AS qid,
             |  CAST(v.c1 AS BOOLEAN) AS copy_gone,
             |  CAST(v.c2 AS BIGINT) AS n_rows
             |FROM (VALUES
             |  (0, true, 20),
             |  (1, true, 20),
             |  (2, true, 20),
             |  (3, true, 20)) AS v(c0, c1, c2)""".stripMargin)),

    Q("q_pq_batch", // batch ADC over the flat PQ index (r15 verdict
      // #2): a query TABLE (vectors 0..3) scores the 8-byte code
      // relation in ONE job — per-query lookup tables built by the
      // native pq_lut expression and carried on a broadcast, no
      // per-query driver loop. Batch == per-query law is BIT-pinned
      // in PqSpec; this gate pins the SQL-expressible planted
      // property: each query's rank-1 (self excluded) is its own +1M
      // copy (identical vector -> identical code -> the per-subspace
      // ADC minimum), all 20 slots filled. Index staged once per
      // (process, sf), _SUCCESS-gated, model memoized.
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_pqb_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/index"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val planted = plantedEmbeddings(s, d)
        if (!new java.io.File(s"$dir/codes", "_SUCCESS").exists())
          Similarity.writePqIndex(planted, "vec_id", "embedding",
            pqModelFor(s"batch:$d",
              Similarity.trainPq(planted, "vec_id", "embedding",
                m = 8, nbits = 8, iters = 10)), dir)
        // k = 20 directly: pqTopKBatch self-excludes BEFORE its
        // window (unlike the probe-then-filter gates above), so every
        // returned row already passes the exclusion
        Similarity.pqTopKBatch(s, dir,
            planted.filter(col("vec_id") < 4)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 20)
          .groupBy(col("qid"))
          .agg(
            max_by(col("id"), struct(col("pq_cos"), -col("id")))
              .as("top1_id"),
            count(lit(1)).as("n_rows"),
            (min(col("pq_cos")) >= -1.25 && max(col("pq_cos")) <= 1.05)
              .as("cos_bounded"))
      },
      Some("""SELECT CAST(v.c0 AS BIGINT) AS qid,
             |  CAST(v.c1 AS BIGINT) AS top1_id,
             |  CAST(v.c2 AS BIGINT) AS n_rows,
             |  CAST(v.c3 AS BOOLEAN) AS cos_bounded
             |FROM (VALUES
             |  (0, 1000000, 20, true),
             |  (1, 1000001, 20, true),
             |  (2, 1000002, 20, true),
             |  (3, 1000003, 20, true)) AS v(c0, c1, c2, c3)"""
        .stripMargin)),

    Q("q_ivfpq_batch", // batch ADC through the COMPOSED index (r15
      // verdict #2): the query table ranks the persisted coarse
      // centroids per query, builds its per-cell residual lookup
      // table, and the code scan prunes to the union of probed cells
      // — one partition-pruned job for the whole batch. Batch ==
      // 1-row-probe law is BIT-pinned in PqSpec; the gate pins the
      // planted property through the SAME staged index as
      // q_ivfpq_topk (identical dir key, _SUCCESS-gated — staging is
      // idempotent and order-free): each query's rank-1 is its +1M
      // copy, 20 slots filled.
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_" +
          s"${java.lang.ProcessHandle.current().pid()}_" +
          s"${d.replaceAll("[^A-Za-z0-9]", "_")}/idx"
        TempDirs.deleteOnExit(new java.io.File(dir).getParentFile)
        val planted = plantedEmbeddings(s, d)
        if (!new java.io.File(s"$dir/codes", "_SUCCESS").exists())
          Similarity.ivfBuild(planted, "vec_id", "embedding", dir,
            IvfTier.Pq(m = 8, nbits = 8), nCells = 8, iters = 3)
        Similarity.ivfProbe(s, dir,
            planted.filter(col("vec_id") < 4)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = 21, probes = 1)
          .filter(col("id") =!= col("qid"))
          .groupBy(col("qid"))
          .agg(
            max_by(col("id"), struct(col("pq_cos"), -col("id")))
              .as("top1_id"),
            count(lit(1)).as("n_rows"),
            (min(col("pq_cos")) >= -1.25 && max(col("pq_cos")) <= 1.05)
              .as("cos_bounded"))
      },
      Some("""SELECT CAST(v.c0 AS BIGINT) AS qid,
             |  CAST(v.c1 AS BIGINT) AS top1_id,
             |  CAST(v.c2 AS BIGINT) AS n_rows,
             |  CAST(v.c3 AS BOOLEAN) AS cos_bounded
             |FROM (VALUES
             |  (0, 1000000, 20, true),
             |  (1, 1000001, 20, true),
             |  (2, 1000002, 20, true),
             |  (3, 1000003, 20, true)) AS v(c0, c1, c2, c3)"""
        .stripMargin)),
  )

  /** Oracle for q_lang_id, generated from the same profile table the Spark
    * implementation uses so the two can never drift. */
  private lazy val langIdOracleSql: String = {
    val values = TextAnalysis.bigramProfiles.toSeq.sortBy(_._1)
      .flatMap { case (lang, bs) => bs.map(b => s"('$lang', '$b')") }
      .mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, regexp_replace(lower(text), '[^a-z ]', '', 'g') AS s
       |  FROM documents),
       |b AS (
       |  SELECT DISTINCT doc_id, bigram FROM (
       |    SELECT doc_id, unnest(list_filter(
       |      list_transform(string_split(s, ''), (x, i) -> substr(s, i, 2)),
       |      g -> length(g) = 2 AND g NOT LIKE '% %')) AS bigram
       |    FROM d) u),
       |p (cand_lang, bigram) AS (VALUES $values),
       |sc AS (
       |  SELECT b.doc_id, p.cand_lang, count(*) AS score
       |  FROM b JOIN p USING (bigram) GROUP BY 1, 2),
       |top AS (
       |  SELECT doc_id, cand_lang, score,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY score DESC, cand_lang) AS rn
       |  FROM sc)
       |SELECT d2.doc_id AS id, coalesce(t.cand_lang, 'und') AS pred_lang,
       |  coalesce(t.score, 0) AS score
       |FROM (SELECT doc_id FROM documents) d2
       |LEFT JOIN (SELECT * FROM top WHERE rn = 1) t USING (doc_id)"""
      .stripMargin
  }

  // Duplicate names silently drop a query from SparkEntry's last-wins
  // .toMap gate (the r12 q_funnel incident) — fail EVERY run at catalog
  // construction instead of trusting a test suite that itself aborts on
  // the duplicate.
  require(all.map(_.name).distinct.size == all.size,
    "duplicate query names in QueryCatalog.all: " +
      all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
        .mkString(", "))

  /** House output contract: a gated query's result schema is ATOMIC
    * columns only (string/numeric/bool/date/timestamp/binary). The
    * driver's pandas-based canonicalizer sorts result frames and dies
    * on unhashable complex values (the r13 `q_center_normalize` red
    * row: a raw `array<double>` → `TypeError: unhashable type:
    * 'numpy.ndarray'`). Complex values must be serialized in the query
    * projection — `to_json` or `array_join` of fixed-format elements —
    * with the matching DuckDB-side serialization.
    *
    * Schema-only (analysis, no job), so [[SparkEntry.queries]] wraps
    * every entry with it: a violating query fails EVERY run (Verify,
    * bench, smoke spec), not just the driver's gate. It can't live in
    * the construction-time `require` above because a schema needs a
    * live session; the SparkEntry wrap is the earliest session-bound
    * choke point every consumer shares. */
  def requireAtomicOutput(name: String, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    // Spark's AtomicType marker is `protected[sql]`, so enumerate the
    // hazards: nested containers plus the never-canonicalizable NullType
    // (an all-NULL untyped literal column hashes differently everywhere).
    def complex(dt: DataType): Boolean = dt match {
      case _: ArrayType | _: MapType | _: StructType | NullType => true
      case _ => false
    }
    val bad = df.schema.fields.collect {
      case f if complex(f.dataType) => s"${f.name}: ${f.dataType.simpleString}"
    }
    require(bad.isEmpty,
      s"query '$name' violates the atomic-output contract (the driver " +
        "canonicalizer can't hash complex values — serialize with " +
        s"to_json/array_join in the projection): ${bad.mkString(", ")}")
    df
  }

  lazy val byName: Map[String, Q] = all.map(q => q.name -> q).toMap
}
