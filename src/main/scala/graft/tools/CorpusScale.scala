package graft.tools

import org.apache.spark.sql.functions._

import graft.{Session, Tables}
import graft.operators.CorpusOps

/** Measurement tool (not part of the library surface): throughput of
  * the training-prep path — chunkDocs (fixed windows) feeding
  * packSequences (best-fit packing) — on a corpus scaled well past the
  * test tiers by replicating `documents` with shifted ids. Numbers go
  * to SCALE.md's text-analysis section; run at local[32] like Bench.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *        SPARK_GRAFT_SCALE=100 sbt "runMain graft.tools.CorpusScale"
  */
object CorpusScale {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE", "100").toInt
    val spark = Session.local()
    val cpus = spark.sparkContext.defaultParallelism

    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    // mult copies, ids disjoint; localCheckpoint so the timed stages
    // measure the operators, not the union re-scan
    val docs = (0 until mult).map(i =>
        base.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
          col("text")))
      .reduce(_ unionByName _)
      .repartition(cpus * 2)
      .localCheckpoint()
    val nDocs = docs.count()
    val nTokens = docs.select(sum(size(split(trim(col("text")), "\\s+"))))
      .collect()(0).getLong(0)

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val (chunks, tChunk) = time {
      val c = CorpusOps.chunkDocs(docs, "doc_id", "text",
        maxTokens = 512, stride = 384)
        .select((col("doc_id") * 100L + col("chunk_id")).as("cid"),
          col("n_chunk_tokens"))
        .localCheckpoint()
      (c, c.count())
    }
    val (nPacked, tPack) = time {
      val packed = CorpusOps.packSequences(chunks._1, "cid", "n_chunk_tokens",
        seqLen = 512L, partitions = cpus * 2)
      packed.select(countDistinct(col("pack_id"))).collect()(0).getLong(0)
    }
    println(f"docs=$nDocs%d tokens=$nTokens%d " +
      f"chunk_s=$tChunk%.2f chunks=${chunks._2}%d " +
      f"pack_s=$tPack%.2f packs=$nPacked%d " +
      f"chunk_Mtok_per_s=${nTokens / 1e6 / tChunk}%.1f " +
      f"pack_Mtok_per_s=${nTokens / 1e6 / tPack}%.1f")

    // duplicateSpanStats on the replicated corpus is its WORST case:
    // every span's df >= mult, so the dup-span set is corpus-sized and
    // the membership join back carries every posting — the exact
    // regime the SCALE.md note says must not assume a broadcast.
    val (nFlagged, tSpan) = time {
      CorpusOps.duplicateSpanStats(docs, "doc_id", "text", n = 8)
        .filter(col("dup_spans") > 0).count()
    }
    println(f"span_s=$tSpan%.2f flagged=$nFlagged%d " +
      f"span_Mtok_per_s=${nTokens / 1e6 / tSpan}%.1f")

    // the winnow dial: posting volume (rows entering the df shuffle)
    // and wall-clock vs the exact form, at the same worst-case df
    for (w <- Seq(4, 16)) {
      val (res, tW) = time {
        val out = CorpusOps.duplicateSpanStats(docs, "doc_id", "text",
          n = 8, winnow = w)
        val flagged = out.filter(col("dup_spans") > 0).count()
        val postings = out.select(sum(col("n_spans"))).collect()(0).getLong(0)
        (flagged, postings)
      }
      println(f"winnow=$w%d span_s=$tW%.2f flagged=${res._1}%d " +
        f"kept_postings=${res._2}%d " +
        f"span_Mtok_per_s=${nTokens / 1e6 / tW}%.1f")
    }

    // dupSpansMerged (variable-length ranges): the positional side
    // carries ALL stride-1 offsets (heavier than the set-collapsed
    // stats), then only duplicated positions survive to the merge
    val (nRanges, tMerge) = time {
      CorpusOps.dupSpansMerged(docs, "doc_id", "text", n = 8).count()
    }
    println(f"merge_s=$tMerge%.2f ranges=$nRanges%d " +
      f"merge_Mtok_per_s=${nTokens / 1e6 / tMerge}%.1f")

    // full removal rewrite: merged ranges joined back + positional
    // token filter (the worst case rewrites EVERY doc here)
    val (remStats, tRemove) = time {
      val out = CorpusOps.removeDupSpans(docs, "doc_id", "text", n = 8)
      val agg = out.select(
        sum(when(col("n_removed") > 0, 1L).otherwise(0L)),
        sum(col("n_removed"))).collect()(0)
      (agg.getLong(0), agg.getLong(1))
    }
    println(f"remove_s=$tRemove%.2f rewritten=${remStats._1}%d " +
      f"tokens_removed=${remStats._2}%d " +
      f"remove_Mtok_per_s=${nTokens / 1e6 / tRemove}%.1f")

    // keep-first paragraph dedup on the replicated corpus is ALSO its
    // worst case: every paragraph repeats `mult` times, so the
    // first-occurrence table is corpus-of-paragraphs-sized and every
    // doc except the originals gets rewritten
    val (nParaKept, tPara) = time {
      CorpusOps.dropRepeatedParagraphs(
          docs.select(col("doc_id"),
            regexp_replace(col("text"), " the ", "\n").as("text")),
          "doc_id", "text")
        .filter(col("n_removed") === 0).count()
    }
    println(f"para_s=$tPara%.2f untouched=$nParaKept%d " +
      f"para_Mtok_per_s=${nTokens / 1e6 / tPara}%.1f")

    // global concatenated-packing offsets: the two-phase prefix sum
    // over the whole corpus (one range exchange + slice-local windows)
    val (nSeqs, tOff) = time {
      CorpusOps.packOffsets(docs, "doc_id", "text", seqLen = 512)
        .select(max(col("end_seq"))).collect()(0).getLong(0) + 1
    }
    println(f"offsets_s=$tOff%.2f sequences=$nSeqs%d " +
      f"offsets_Mtok_per_s=${nTokens / 1e6 / tOff}%.1f")

    // NB quality classifier: train once on the BASE corpus (the model
    // is bounded by classes x buckets regardless of corpus size), then
    // score the full replicated corpus — the train-small /
    // score-everything shape production quality filtering runs
    val labeled = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"))
    val (nbModel, tTrain) = time {
      val m = CorpusOps.trainNbQuality(labeled, "doc_id", "text", "lang")
        .localCheckpoint()
      (m, m.count())
    }
    val (nbClasses, tNb) = time {
      CorpusOps.nbScore(docs, nbModel._1, "doc_id", "text")
        .groupBy(col("pred_label"))
        .agg(count(lit(1)))
        .count()
    }
    println(f"nb_train_s=$tTrain%.2f model_rows=${nbModel._2}%d " +
      f"nb_score_s=$tNb%.2f classes=$nbClasses%d " +
      f"nb_Mtok_per_s=${nTokens / 1e6 / tNb}%.1f")

    // BM25 retrieval: the posting prune means cost is the
    // tokenize+filter scan, not the scoring join (hit rows ~ docs
    // containing a query term, tiny after the isin filter)
    val (nHits, tBm) = time {
      CorpusOps.bm25TopK(docs, "doc_id", "text",
        Seq("hash", "join", "window", "scan"), k = 20).count()
    }
    println(f"bm25_s=$tBm%.2f hits=$nHits%d " +
      f"bm25_Mtok_per_s=${nTokens / 1e6 / tBm}%.1f")

    // batch BM25: 128 queries in ONE job vs the per-query loop a
    // single-query API forces — the r15 driver-bottleneck fix
    val vocab = Array("hash", "join", "window", "scan", "sort", "merge",
      "batch", "stream", "table", "filter", "group", "agg", "key",
      "value", "query", "row")
    val queries128 = (0 until 128).map { i =>
      (i.toLong, (0 until 4).map(j =>
        vocab((i * 5 + j * 3) % vocab.length)).mkString(" "))
    }
    val qDf = spark.createDataFrame(queries128).toDF("query_id", "query_text")
    val (nBatchRows, tBatch) = time {
      CorpusOps.bm25TopKBatch(docs, "doc_id", "text", qDf,
        "query_id", "query_text", k = 20).count()
    }
    // the loop baseline on a 8-query sample, extrapolated per query —
    // running all 128 serially would just burn the measurement budget
    val (_, tLoop8) = time {
      queries128.take(8).foreach { case (_, text) =>
        CorpusOps.bm25TopK(docs, "doc_id", "text",
          text.split(" ").toSeq, k = 20).count()
      }
    }
    println(f"bm25_batch_s=$tBatch%.2f queries=128 rows=$nBatchRows%d " +
      f"q_per_s=${128 / tBatch}%.1f " +
      f"loop8_s=$tLoop8%.2f loop_extrap_128_s=${tLoop8 * 16}%.1f")

    // persisted inverted index (r15): tokenization paid once at
    // ingest, probes read only the batch vocabulary's posting leaves
    val idxDir = java.nio.file.Files.createTempDirectory("bm25scale")
      .toString + "/idx"
    val (_, tBuild) = time {
      CorpusOps.buildBm25Index(docs, "doc_id", "text", idxDir)
    }
    val (nIdxRows, tProbe) = time {
      CorpusOps.bm25TopKIndexed(spark, idxDir, qDf,
        "query_id", "query_text", k = 20).count()
    }
    println(f"bm25_index_build_s=$tBuild%.2f probe_s=$tProbe%.2f " +
      f"queries=128 rows=$nIdxRows%d q_per_s=${128 / tProbe}%.1f")

    // the index's selling point is SELECTIVITY: probe cost scales with
    // the query vocabulary's postings, direct-batch cost with the
    // corpus. The 16-common-word batch above is this corpus's worst
    // case (31-word vocabulary, half of it queried); rare-term queries
    // ('dup' — df 0.5% of docs) read one posting leaf
    val rareQ = spark.createDataFrame(
        (0 until 128).map(i => (i.toLong, "dup")))
      .toDF("query_id", "query_text")
    val (nRareIdx, tRareProbe) = time {
      CorpusOps.bm25TopKIndexed(spark, idxDir, rareQ,
        "query_id", "query_text", k = 20).count()
    }
    val (nRareDirect, tRareDirect) = time {
      CorpusOps.bm25TopKBatch(docs, "doc_id", "text", rareQ,
        "query_id", "query_text", k = 20).count()
    }
    println(f"bm25_rare_probe_s=$tRareProbe%.2f rows=$nRareIdx%d " +
      f"rare_direct_s=$tRareDirect%.2f rows=$nRareDirect%d " +
      f"probe_speedup=${tRareDirect / tRareProbe}%.1fx")

    // PageRank: a synthesized host graph with nDocs edges over
    // nDocs/5 nodes — three 2-exchange power-method rounds where the
    // rank relation stays node-sized
    val (prSum, tPr) = time {
      val h = math.max(nDocs / 5, 1L)
      val edges = docs.select(pmod(col("doc_id"), lit(h)).as("src"),
        pmod(col("doc_id") * 7 + 3, lit(h)).as("dst"))
      graft.operators.GraphOps.pageRank(edges, "src", "dst", iters = 3)
        .agg(sum(col("pagerank"))).collect()(0).getDouble(0)
    }
    println(f"pagerank_s=$tPr%.2f edges=$nDocs%d mass=$prSum%.4f " +
      f"pr_Medges_per_s=${nDocs / 1e6 / tPr * 3}%.2f")

    // batch hybrid retrieval (r15): 128 queries through BOTH legs in
    // ONE job — bm25TopKBatch on the replicated text corpus +
    // cosineTopKBatch on a replicated embedding corpus (brute exact
    // leg; at real scale the IVF/PQ tiers emit the same
    // (query, id, score) shape), fused per query by rrfFuseGrouped
    val embMult = math.max(mult * 5 / 2, 1) // 2k base vecs -> 500k
    val baseEmb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val embs = (0 until embMult).map(i =>
        baseEmb.select(
          (col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
          col("embedding")))
      .reduce(_ unionByName _)
      .repartition(cpus * 2)
      .localCheckpoint()
    val nVecs = embs.count()
    val qVecs = baseEmb.filter(col("vec_id") < 128)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .localCheckpoint()
    val (nSemRows, tSem) = time {
      graft.operators.Similarity.cosineTopKBatch(embs, "vec_id",
        "embedding", qVecs, "qid", "qv", k = 100).count()
    }
    println(f"cosine_batch_s=$tSem%.2f vecs=$nVecs%d queries=128 " +
      f"rows=$nSemRows%d Mcos_per_s=${nVecs * 128 / 1e6 / tSem}%.1f")
    // batch IVF probe: the INDEXED semantic scale path — build the
    // centroid index once, probe all 128 queries in one partition-
    // pruned job (vs the brute batch's full 500k x 128 scan above)
    val ivfDir = java.nio.file.Files.createTempDirectory("ivfscale")
      .toString + "/idx"
    val (_, tIvfBuild) = time {
      graft.operators.Similarity.buildIvfCentroidIndex(embs, "vec_id",
        "embedding", ivfDir, k = 16, iters = 3)
    }
    val (nIvfRows, tIvfProbe) = time {
      graft.operators.Similarity.ivfCentroidTopKBatch(spark, ivfDir,
        qVecs, "qid", "qv", k = 100, probes = 2).count()
    }
    println(f"ivf_build_s=$tIvfBuild%.2f ivf_batch_probe_s=$tIvfProbe%.2f " +
      f"queries=128 rows=$nIvfRows%d q_per_s=${128 / tIvfProbe}%.1f")
    // batch ADC (r16): the same 128 queries through the PQ tiers in
    // one job each — flat 8-byte-code scan (pqTopKBatch: |q| x n
    // table lookups, quarter-KB per row read) and the composed
    // IVF-PQ index (ivfPqTopKBatch: partition pruning x compression)
    val pqDir = java.nio.file.Files.createTempDirectory("pqscale")
      .toString
    val (_, tPqBuild) = time {
      graft.operators.Similarity.writePqIndex(embs, "vec_id",
        "embedding",
        graft.operators.Similarity.trainPq(embs, "vec_id", "embedding",
          m = 8, nbits = 8, iters = 10), pqDir)
    }
    val (nPqRows, tPqProbe) = time {
      graft.operators.Similarity.pqTopKBatch(spark, pqDir, qVecs,
        "qid", "qv", k = 100).count()
    }
    println(f"pq_build_s=$tPqBuild%.2f pq_batch_probe_s=$tPqProbe%.2f " +
      f"queries=128 rows=$nPqRows%d q_per_s=${128 / tPqProbe}%.1f " +
      f"Madc_per_s=${nVecs * 128 / 1e6 / tPqProbe}%.1f")
    val ivfPqDir = java.nio.file.Files.createTempDirectory("ivfpqscale")
      .toString + "/idx"
    val (_, tIvfPqBuild) = time {
      graft.operators.Similarity.buildIvfPqIndex(embs, "vec_id",
        "embedding", ivfPqDir, nCells = 16, m = 8, nbits = 8, iters = 3)
    }
    val (nIvfPqRows, tIvfPqProbe) = time {
      graft.operators.Similarity.ivfPqTopKBatch(spark, ivfPqDir, qVecs,
        "qid", "qv", k = 100, probes = 2).count()
    }
    println(f"ivfpq_build_s=$tIvfPqBuild%.2f " +
      f"ivfpq_batch_probe_s=$tIvfPqProbe%.2f queries=128 " +
      f"rows=$nIvfPqRows%d q_per_s=${128 / tIvfPqProbe}%.1f")
    // binary tier (r16): XOR+popcount batch scan over 32x-smaller
    // signatures, and the Hamming-pool -> exact-rerank funnel
    val (nBqRows, tBq) = time {
      graft.operators.Similarity.bqTopKBatch(embs, "vec_id",
        "embedding", qVecs, "qid", "qv", k = 100).count()
    }
    println(f"bq_batch_s=$tBq%.2f queries=128 rows=$nBqRows%d " +
      f"q_per_s=${128 / tBq}%.1f Mham_per_s=${nVecs * 128 / 1e6 / tBq}%.1f")
    val (nBqRr, tBqRr) = time {
      graft.operators.Similarity.bqTopKRerankedBatch(embs, "vec_id",
        "embedding", qVecs, "qid", "qv", k = 100, pool = 1000).count()
    }
    println(f"bq_rerank_s=$tBqRr%.2f queries=128 rows=$nBqRr%d " +
      f"q_per_s=${128 / tBqRr}%.1f")
    // r17: the signature index AT REST — the packing fold paid once
    // at build, probes read (id, sig) only; the numbers beside
    // bq_batch_s (which re-signs the float corpus per batch) are the
    // structural closure of the r16 staging lesson
    val bqIdxDir = java.nio.file.Files.createTempDirectory("bqscale")
      .toString + "/idx"
    val (_, tBqBuild) = time {
      graft.operators.Similarity.buildBqIndex(embs, "vec_id",
        "embedding", bqIdxDir)
    }
    val (nBqIdxRows, tBqIdx) = time {
      graft.operators.Similarity.bqTopKIndexed(spark, bqIdxDir,
        qVecs, "qid", "qv", k = 100).count()
    }
    println(f"bq_index_build_s=$tBqBuild%.2f " +
      f"bq_indexed_probe_s=$tBqIdx%.2f queries=128 rows=$nBqIdxRows%d " +
      f"q_per_s=${128 / tBqIdx}%.1f " +
      f"Mham_per_s=${nVecs * 128 / 1e6 / tBqIdx}%.1f")
    val (nBqIdxRr, tBqIdxRr) = time {
      graft.operators.Similarity.bqTopKIndexedRerankedBatch(spark,
        bqIdxDir, embs, "vec_id", "embedding", qVecs, "qid", "qv",
        k = 100, pool = 1000).count()
    }
    println(f"bq_indexed_rerank_s=$tBqIdxRr%.2f queries=128 " +
      f"rows=$nBqIdxRr%d q_per_s=${128 / tBqIdxRr}%.1f")

    val (nFused, tFuse) = time {
      val sem = graft.operators.Similarity.cosineTopKBatch(embs,
        "vec_id", "embedding", qVecs, "qid", "qv", k = 100)
      CorpusOps.searchPipelineBatch(docs, "doc_id", "text", qDf,
        "query_id", "query_text", sem, "qid", "id", "cos_sim",
        k = 20, candidates = 100).count()
    }
    println(f"search_batch_s=$tFuse%.2f queries=128 " +
      f"fused_rows=$nFused%d q_per_s=${128 / tFuse}%.1f")
    spark.stop()
  }
}
