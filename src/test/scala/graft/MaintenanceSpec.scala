package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._
import graft.operators.{CorpusOps, IvfTier, Similarity, VectorCodec, VectorIndex}
import graft.operators.Similarity.RefitCorpus
import graft.streaming.EventStreams

/** Index-maintenance contracts added in r17: the late-arrival folds
  * of the versioned publish paths (r16 advice, medium), the
  * DataFrame-shaped widening coordination of the batch filtered ANN
  * probes (r16 verdict #4), probe-during-swap safety (r16 verdict
  * #7), and the degenerate-input hardening of the observability /
  * signature surfaces (r16 advice, lows). */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def emb: DataFrame = Tables.embeddings(spark, sfDir)
    .select($"vec_id", $"embedding")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("binarySignature: empty vector packs to an empty signature, " +
      "null stays null, word count clamps") {
    val rows = Seq(
      (1L, Some(Seq.empty[Float])),
      (2L, None),
      (3L, Some(Seq(1.0f, -1.0f, 0.5f))))
      .toDF("id", "v")
      .select($"id", Similarity.binarySignature($"v").as("sig"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    assert(rows(1L) == Seq.empty[Long], s"empty vec: ${rows(1L)}")
    assert(rows(2L) == null, s"null vec: ${rows(2L)}")
    assert(rows(3L) == Seq(5L), s"packed: ${rows(3L)}") // bits 0 and 2
  }

  test("bm25IndexStats: tombstone-only / missing-table roots report " +
      "zeros and a null avgdl instead of throwing") {
    val root = tmp("bm25deg") + "/idx"
    // only a tombstone sidecar exists — no postings, df, or stats
    CorpusOps.bm25IndexDelete(root, Seq(1L, 2L).toDF("doc_id"), "doc_id")
    val r = CorpusOps.bm25IndexStats(spark, root).collect()(0)
    assert(r.getString(0) == "flat")
    assert(r.getLong(1) == 0L, s"n_builds: $r")       // n_builds
    assert(r.getLong(3) == 2L, s"n_tombstones: $r")   // n_tombstones
    assert(r.getLong(4) == 0L, s"n_docs: $r")         // n_docs
    assert(r.isNullAt(6), s"avgdl should be null: $r")
    assert(r.getLong(7) == 0L, s"df_rows: $r")        // df_rows
  }

  test("ivfDriftSummary: tombstones of never-indexed ids never " +
      "overstate the reclaimable fraction") {
    val dir = tmp("ivftomb") + "/idx"
    Similarity.ivfBuild(emb, "vec_id", "embedding", dir, nCells = 4, iters = 2)
    // 2 real deletions + 5 ids the index never held
    Similarity.ivfDelete(dir,
      emb.filter($"vec_id" < 2).select($"vec_id"), "vec_id")
    Similarity.ivfDelete(dir,
      Seq(900001L, 900002L, 900003L, 900004L, 900005L).toDF("vec_id"),
      "vec_id")
    val r = Similarity.ivfDriftSummary(spark, dir).collect()(0)
    assert(r.getLong(5) == 2L, s"n_tombstones counts only indexed: $r")
    assert(r.getDouble(6) <= 1.0, s"tombstone_frac bounded: $r")
  }

  test("batch filtered ANN widening: no executed plan filters qids " +
      "through an IN-list literal") {
    val corpus = emb.select($"vec_id", $"embedding",
        (($"vec_id" % 100L) === 0L).cast("int").as("label"))
    val dir = tmp("ivfnoin") + "/idx"
    Similarity.ivfBuild(corpus, "vec_id", "embedding", dir, nCells = 8,
      iters = 2, extraCols = Seq("label"))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // label==1 is rare (~1/100) -> selective queries widen; k small
      // enough that some queries satisfy early, so BOTH the semi-join
      // finalize leg and the anti-join re-probe leg execute
      val queries = emb.filter($"vec_id" < 6)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      val out = Similarity.ivfProbe(spark, dir,
        queries, "qid", "qv", k = 3, probes = 1, Some($"label" === 1))
      assert(out.count() > 0)
      // listener delivery is async: poll until the captured set is
      // stable, then assert
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        if (plans.size == last) stable += 1 else { stable = 0; last = plans.size }
      }
      val inList = "(?i)qid#\\d+L? IN(SET)? ".r
      val offenders = plans.toArray(Array.empty[String])
        .filter(p => inList.findFirstIn(p).isDefined)
      assert(offenders.isEmpty,
        s"qid IN-list found in executed plan:\n${offenders.headOption.getOrElse("")}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("foldLateIvf: flat-layout files appended after the snapshot " +
      "land in the new generation under the new model") {
    val root = tmp("ivffold")
    val dir = s"$root/idx"
    val base = emb.filter($"vec_id" < 300)
    val centroids = Similarity.ivfBuild(base, "vec_id", "embedding", dir,
      nCells = 4, iters = 2)
    val snapshot = Similarity.listDataFiles(spark, dir)
    // "concurrent" appends + a delete landing after the snapshot
    Similarity.ivfAppend(
      emb.filter($"vec_id".between(300, 349)), "vec_id", "embedding", dir)
    Similarity.ivfDelete(dir,
      Seq(300L, 301L).toDF("vec_id"), "vec_id")
    val newData = s"$root/next/data"
    val newTombs = s"$root/next/tombstones"
    val (nd, nt, n1) = Similarity.foldLateIvf(spark, dir,
      s"$dir.tombstones", snapshot, Set.empty, centroids, Nil,
      batchLayout = false, newData, newTombs)
    assert(n1 > 0, "late files must fold")
    // folded rows: exactly the late ids, assigned to the same cells
    // the live index gave them (same model => same pure assignment)
    val folded = spark.read.parquet(newData)
      .select($"id", $"cell").as[(Long, Int)].collect().toSet
    val live = spark.read.parquet(dir)
      .filter($"id".between(300, 349))
      .select($"id", $"cell").as[(Long, Int)].collect().toSet
    assert(folded == live, "fold must re-assign identically")
    val tombs = spark.read.parquet(newTombs)
      .select($"id").as[Long].collect().toSet
    assert(tombs == Set(300L, 301L))
    // a quiet pass folds nothing
    val (_, _, n2) = Similarity.foldLateIvf(spark, dir,
      s"$dir.tombstones", nd, nt, centroids, Nil,
      batchLayout = false, newData, newTombs)
    assert(n2 == 0)
  }

  test("foldLateIvf: metadata columns (extraCols) survive the fold") {
    val root = tmp("ivffoldx")
    val dir = s"$root/idx"
    val corpus = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding", $"label")
    val centroids = Similarity.ivfBuild(corpus.filter($"vec_id" < 300),
      "vec_id", "embedding", dir, nCells = 4, iters = 2,
      extraCols = Seq("label"))
    val snapshot = Similarity.listDataFiles(spark, dir)
    Similarity.ivfAppend(corpus.filter($"vec_id".between(300, 319)),
      "vec_id", "embedding", dir, extraCols = Seq("label"))
    val (_, _, n1) = Similarity.foldLateIvf(spark, dir,
      s"$dir.tombstones", snapshot, Set.empty, centroids,
      Seq("label"), batchLayout = false,
      s"$root/next/data", s"$root/next/tombstones")
    assert(n1 > 0)
    val folded = spark.read.parquet(s"$root/next/data")
      .select($"id", $"label").as[(Long, Int)].collect().toMap
    val expected = corpus.filter($"vec_id".between(300, 319))
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    assert(folded == expected, "labels must ride the folded rows")
  }

  test("foldLateIvf: batch layout folds only NEW batch ids, to the " +
      "same batch id (replay stays idempotent)") {
    val root = tmp("ivffoldb")
    val dir = s"$root/idx"
    val centroids = Similarity.ivfInit(emb.filter($"vec_id" < 200), "vec_id",
      "embedding", dir, nCells = 4, iters = 2)
    Similarity.ivfAppendBatch(emb.filter($"vec_id" < 100),
      "vec_id", "embedding", dir, batchId = 0L)
    val snapshot = Similarity.listDataFiles(spark, dir)
    Similarity.ivfAppendBatch(emb.filter($"vec_id".between(100, 149)),
      "vec_id", "embedding", dir, batchId = 1L)
    val newData = s"$root/next/data"
    val (nd, nt, n1) = Similarity.foldLateIvf(spark, dir,
      s"$dir.tombstones", snapshot, Set.empty, centroids, Nil,
      batchLayout = true, newData, s"$root/next/tombstones")
    assert(n1 == 1, s"exactly one late batch: $n1")
    val foldedDirs = new java.io.File(newData).list().toSet
      .filter(_.startsWith("batch="))
    assert(foldedDirs == Set("batch=1"), foldedDirs.toString)
    assert(spark.read.parquet(s"$newData/batch=1").count() == 50L)
    val (_, _, n2) = Similarity.foldLateIvf(spark, dir,
      s"$dir.tombstones", nd, nt, centroids, Nil,
      batchLayout = true, newData, s"$root/next/tombstones")
    assert(n2 == 0)
  }

  test("foldLateBm25: a batch increment landing after the snapshot " +
      "folds verbatim into the new generation") {
    val root = tmp("bmfold")
    val dir = s"$root/idx"
    val docs = Tables.documents(spark, sfDir)
    CorpusOps.bm25IndexIncrement(docs.filter($"doc_id" < 100),
      "doc_id", "text", dir, batchId = 0L)
    val oldRoots = CorpusOps.bm25Roots(spark, dir)
    val snapP = Similarity.listDataFiles(spark, oldRoots.postings)
    val snapDf = Similarity.listDataFiles(spark, oldRoots.df)
    val snapS = Similarity.listDataFiles(spark, oldRoots.stats)
    CorpusOps.bm25IndexIncrement(
      docs.filter($"doc_id".between(100, 149)),
      "doc_id", "text", dir, batchId = 1L)
    val out = CorpusOps.Bm25Roots(s"$root/next/postings",
      s"$root/next/df", s"$root/next/stats", s"$root/next/tombstones")
    val (np, _, _, nt, n1) = CorpusOps.foldLateBm25(spark, oldRoots,
      out, snapP, snapDf, snapS, Set.empty,
      batchLayout = true, filesPerLeaf = 2)
    assert(n1 > 0)
    val foldedPostings = spark.read.parquet(s"${out.postings}/batch=1")
    val livePostings = spark.read.parquet(s"${oldRoots.postings}/batch=1")
    assert(foldedPostings.count() == livePostings.count())
    assert(spark.read.parquet(s"${out.stats}/batch=1")
      .select($"n_docs").as[Long].collect()(0) == 50L)
    val (_, _, _, _, n2) = CorpusOps.foldLateBm25(spark, oldRoots,
      out, np, Similarity.listDataFiles(spark, oldRoots.df),
      Similarity.listDataFiles(spark, oldRoots.stats), nt,
      batchLayout = true, filesPerLeaf = 2)
    assert(n2 == 0)
  }

  test("versioned swap: a probe in flight across a retrain completes " +
      "against its resolved generation; a fresh probe sees the new one") {
    // unfiltered, and through the widening rounds of a predicate
    Seq(None, Some($"id" >= 0L)).foreach { predicate =>
      val dir = tmp("ivfswap") + "/idx"
      val base = emb.filter($"vec_id" < 400)
      Similarity.ivfBuild(base, "vec_id", "embedding", dir, nCells = 4,
        iters = 2)
      Similarity.ivfRetrain(spark, dir, iters = 2, versioned = true) // -> .v1
      val q = emb.filter($"vec_id" === 0L)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      def probe() = Similarity.ivfProbe(spark, dir, q, "qid", "qv",
        k = 5, probes = 4, predicate)
      // the in-flight probe: resolves .v1's file listing NOW
      val inFlight = probe()
      // plant an exact copy of the query vector, then publish .v2
      Similarity.ivfAppend(
        emb.filter($"vec_id" === 0L)
          .select(($"vec_id" + 5000000L).as("vec_id"), $"embedding"),
        "vec_id", "embedding", dir)
      Similarity.ivfRetrain(spark, dir, iters = 2, versioned = true) // -> .v2
      // fresh probe: the planted copy ties at cos 1.0 and wins on id 0
      val fresh = probe().as[(Long, Long, Double)].collect()
      assert(fresh.exists(_._2 == 5000000L),
        s"$predicate: fresh probe must see the v2 content: " +
          fresh.mkString(","))
      // the in-flight probe still completes against v1 (retained as
      // reader grace) and cannot see the planted row
      val old = inFlight.as[(Long, Long, Double)].collect()
      assert(old.nonEmpty && !old.exists(_._2 == 5000000L),
        s"$predicate: in-flight probe must stay pinned to v1: " +
          old.mkString(","))
    }
  }

  test("foldLateIvf: works on a VERSIONED generation root (explicit " +
      "late files under the hidden .vN ancestor read correctly)") {
    val root = tmp("ivffoldv")
    val dir = s"$root/idx"
    Similarity.ivfBuild(emb.filter($"vec_id" < 300), "vec_id", "embedding",
      dir, nCells = 4, iters = 2)
    val centroids = Similarity.ivfRetrain(spark, dir, iters = 2,
      versioned = true) // live generation: $dir/.v1
    val genData = s"$dir/.v1/data"
    val snapshot = Similarity.listDataFiles(spark, genData)
    assert(snapshot.nonEmpty, "the .v1 data tree must list")
    // a late append lands in .v1 (resolved through the pointer)
    Similarity.ivfAppend(
      emb.filter($"vec_id".between(300, 319)), "vec_id", "embedding",
      dir)
    val (_, _, n1) = Similarity.foldLateIvf(spark, genData,
      s"$dir/.v1/tombstones", snapshot, Set.empty, centroids, Nil,
      batchLayout = false, s"$root/next/data", s"$root/next/tombstones")
    assert(n1 > 0, "late files under .v1 must fold")
    val folded = spark.read.parquet(s"$root/next/data")
      .select($"id").as[Long].collect().toSet
    assert(folded == (300L to 319L).toSet, folded.toString)
  }

  test("indexReport: detects every persisted kind, resolves " +
      "versioned roots through .current, reads batch layouts, and " +
      "fails loudly on garbage") {
    import graft.operators.IndexOps
    val root = tmp("ixrep")
    def metrics(p: String): Map[(String, String, String), Option[Double]] =
      IndexOps.indexReport(spark, p).collect().map(r =>
        (r.getString(0), r.getString(1), r.getString(2)) ->
          (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    // versioned IVF: generation resolves through the pointer
    val ivf = s"$root/ivf"
    Similarity.ivfBuild(emb, "vec_id", "embedding", ivf, nCells = 4, iters = 2)
    Similarity.ivfRetrain(spark, ivf, iters = 2, versioned = true)
    val mi = metrics(ivf)
    assert(mi(("ivf", "flat", "generation")).contains(1.0))
    assert(mi(("ivf", "flat", "n_vecs")).contains(500.0))
    assert(mi.contains(("ivf", "flat", "count_skew")))
    assert(mi.contains(("ivf", "flat", "mean_residual")))
    // batch-layout IVF-PQ with tombstones
    val pq = s"$root/pq"
    Similarity.ivfInit(emb, "vec_id", "embedding", pq,
      IvfTier.Pq(m = 8, nbits = 8), nCells = 4, iters = 2)
    Similarity.ivfAppendBatch(emb.filter($"vec_id" < 100), "vec_id",
      "embedding", pq, batchId = 0L)
    Similarity.ivfDelete(pq, Seq(0L, 1L, 777777L).toDF("vec_id"),
      "vec_id")
    val mp = metrics(pq)
    assert(mp(("ivfpq", "batch", "n_vecs")).contains(100.0))
    // the never-indexed id 777777 must not count
    assert(mp(("ivfpq", "batch", "n_tombstones")).contains(2.0))
    // batch-layout BM25
    val bm = s"$root/bm25"
    graft.operators.CorpusOps.bm25IndexIncrement(
      Tables.documents(spark, sfDir).filter($"doc_id" < 50),
      "doc_id", "text", bm, batchId = 0L)
    val mb = metrics(bm)
    assert(mb(("bm25", "batch", "n_batches")).contains(1.0))
    assert(mb(("bm25", "batch", "n_docs")).contains(50.0))
    // signature index
    val bq = s"$root/bq"
    VectorIndex.build(emb, "vec_id", "embedding", bq, VectorCodec.Binary)
    VectorIndex.delete(bq, Seq(3L).toDF("vec_id"), "vec_id")
    val mq = metrics(bq)
    assert(mq(("bq", "flat", "n_vecs")).contains(500.0))
    assert(mq(("bq", "flat", "n_tombstones")).contains(1.0))
    // raw embedding table falls through to the data card
    val raw = s"$root/rawemb"
    emb.write.parquet(raw)
    val mr = metrics(raw)
    assert(mr(("embeddings", "table", "n_vecs")).contains(500.0))
    assert(mr(("embeddings", "table", "generation")).contains(-1.0))
    // bq batch layout reports its batch count (the compact-due dial)
    assert(mq(("bq", "flat", "n_batches")).contains(0.0))
    // the int8 layout (q_vec array<tinyint>) is detected, not an error
    val i8 = s"$root/int8"
    VectorIndex.build(emb, "vec_id", "embedding", i8, VectorCodec.Int8)
    VectorIndex.delete(i8, Seq(9L).toDF("vec_id"), "vec_id")
    val m8 = metrics(i8)
    assert(m8(("int8", "flat", "n_vecs")).contains(500.0))
    assert(m8(("int8", "flat", "n_tombstones")).contains(1.0))
    // an EMPTY IVF-PQ codes tree reports zeros + null skew, no NPE
    val emptyPq = s"$root/emptypq"
    Seq.empty[(Long, Int, Array[Byte])].toDF("id", "cell", "pq_code")
      .write.parquet(s"$emptyPq/codes")
    Seq((0, Seq(0.0d))).toDF("m", "c").write.parquet(s"$emptyPq/model")
    val me = metrics(emptyPq)
    assert(me(("ivfpq", "flat", "n_vecs")).contains(0.0))
    assert(me(("ivfpq", "flat", "count_skew")).isEmpty,
      "empty-index skew must be null")
    // SRP index (detected by the .srpmeta sidecar — BEFORE the raw
    // vector-table fallback, which would misread (id, cell, v))
    val srp = s"$root/srp"
    VectorIndex.build(emb, "vec_id", "embedding", srp, VectorCodec.Srp(4))
    VectorIndex.delete(srp, Seq(2L).toDF("vec_id"), "vec_id")
    val ms = metrics(srp)
    assert(ms(("srp", "flat", "n_vecs")).contains(500.0))
    assert(ms(("srp", "flat", "n_bits")).contains(4.0))
    assert(ms(("srp", "flat", "n_tombstones")).contains(1.0))
    assert(ms.contains(("srp", "flat", "count_skew")))
    // a codes dir with NO data files at all (a crashed build) would
    // trip parquet schema inference — it must report zeros instead
    // (r17 advice)
    val barePq = s"$root/barepq"
    assert(new java.io.File(s"$barePq/codes").mkdirs())
    Seq((0, Seq(0.0d))).toDF("m", "c").write.parquet(s"$barePq/model")
    val mbare = metrics(barePq)
    assert(mbare(("ivfpq", "flat", "n_vecs")).contains(0.0))
    assert(mbare(("ivfpq", "flat", "count_skew")).isEmpty)
    // a model-only root (ivfInit, before the first drain) reports its
    // tier with zero counts, for both tiers
    val initIvf = s"$root/initivf"
    Similarity.ivfInit(emb, "vec_id", "embedding", initIvf, nCells = 4,
      iters = 2)
    val mii = metrics(initIvf)
    assert(mii(("ivf", "flat", "n_vecs")).contains(0.0))
    assert(mii(("ivf", "flat", "n_cells")).contains(0.0))
    assert(mii(("ivf", "flat", "count_skew")).isEmpty)
    val initPq = s"$root/initpq"
    Similarity.ivfInit(emb, "vec_id", "embedding", initPq, IvfTier.Pq(),
      nCells = 4, iters = 2)
    val mip = metrics(initPq)
    assert(mip(("ivfpq", "flat", "n_vecs")).contains(0.0))
    assert(mip(("ivfpq", "flat", "count_skew")).isEmpty)
    // a zero-vector centroid-IVF index aggregates to null
    // n_vecs/skew/residual — null-safe report, no NPE (r17 advice)
    val zeroIvf = s"$root/zeroivf"
    Seq.empty[(Long, Seq[Double], Int)].toDF("id", "v", "cell")
      .write.parquet(zeroIvf)
    Seq((0, Seq(0.0d, 0.0d))).toDF("cell", "c")
      .write.parquet(s"$zeroIvf.centroids")
    val mz = metrics(zeroIvf)
    assert(mz(("ivf", "flat", "n_vecs")).contains(0.0))
    assert(mz(("ivf", "flat", "count_skew")).isEmpty)
    assert(mz(("ivf", "flat", "retrain_recommended")).isEmpty)
    // garbage fails loudly, never misreports
    val junk = s"$root/junk"
    Seq((1L, "x")).toDF("a", "b").write.parquet(junk)
    val e = intercept[RuntimeException](metrics(junk))
    assert(e.getMessage.contains("neither a known index layout"))
  }

  test("ivfPqRetrainQuiesced: ingest refuses loudly inside the " +
      "window, the publish converges with zero lost rows, ingest " +
      "resumes after — and resumes even when the retrain fails " +
      "(r17 verdict #5)") {
    val dir = tmp("pqquiesce") + "/idx"
    val corpus = emb.filter($"vec_id" < 300)
      .select($"vec_id", $"embedding")
    Similarity.ivfBuild(corpus, "vec_id", "embedding", dir,
      IvfTier.Pq(m = 8, nbits = 8), nCells = 4, iters = 2)
    // manual quiesce: every ingest face refuses with the remediation
    Similarity.ivfQuiesce(spark, dir)
    interceptGuard("QUIESCED") {
      Similarity.ivfAppend(emb.filter($"vec_id" === 301L), "vec_id",
        "embedding", dir)
    }
    interceptGuard("QUIESCED") {
      Similarity.ivfDelete(dir, Seq(1L).toDF("vec_id"), "vec_id")
    }
    // double-quiesce refuses (single maintenance actor)
    intercept[IllegalArgumentException] {
      Similarity.ivfQuiesce(spark, dir)
    }
    Similarity.ivfResume(spark, dir)
    // the full recipe: appended rows before the window are refit in;
    // ingest works again after the publish
    Similarity.ivfAppend(
      emb.filter($"vec_id".between(300, 319))
        .select($"vec_id", $"embedding"),
      "vec_id", "embedding", dir)
    val refitCorpus = emb.filter($"vec_id" < 320)
      .select($"vec_id", $"embedding")
    Similarity.ivfRetrainQuiesced(spark, dir, iters = 2, versioned = true,
      corpus = Some(RefitCorpus(refitCorpus, "vec_id", "embedding")))
    assert(!new java.io.File(s"$dir/.quiesce").exists(),
      "the marker must lift with the publish")
    def liveGen: Int = scala.io.Source.fromFile(
      new java.io.File(s"$dir/.current")).mkString.trim.toInt
    assert(liveGen == 1)
    val ids = spark.read.parquet(s"$dir/.v1/codes")
      .select($"id").as[Long].collect().toSet
    assert(ids == (0L until 320L).toSet, s"zero lost rows: ${ids.size}")
    Similarity.ivfAppend(
      emb.filter($"vec_id" === 320L).select($"vec_id", $"embedding"),
      "vec_id", "embedding", dir)
    assert(spark.read.parquet(s"$dir/.v1/codes").count() == 321L)
    // a FAILED retrain still resumes ingest (finally) and leaves the
    // live generation untouched
    intercept[Exception] {
      Similarity.ivfRetrainQuiesced(spark, dir, iters = 2,
        maxFitRows = Some(2), // cannot seed the index's 4 cells
        corpus = Some(RefitCorpus(
          refitCorpus.select($"vec_id", $"embedding", lit(1).as("label")),
          "vec_id", "embedding")))
    }
    assert(!new java.io.File(s"$dir/.quiesce").exists(),
      "a failed retrain must still lift the marker")
    assert(liveGen == 1)
    Similarity.ivfAppend(
      emb.filter($"vec_id" === 321L).select($"vec_id", $"embedding"),
      "vec_id", "embedding", dir)
  }

  test("ivfRetrain versioned: an append that lands before the flip " +
      "is folded, not hidden (late-arrival fold end to end)") {
    // deterministic stand-in for a concurrent append: the fold is
    // exercised through its real call path by appending BETWEEN two
    // retrains and asserting both generations carry the row — the
    // interleaved schedule itself is covered by the foldLateIvf unit
    // contracts above
    val dir = tmp("ivffolde2e") + "/idx"
    Similarity.ivfBuild(emb.filter($"vec_id" < 300), "vec_id", "embedding",
      dir, nCells = 4, iters = 2)
    Similarity.ivfRetrain(spark, dir, iters = 2, versioned = true)
    Similarity.ivfAppend(
      emb.filter($"vec_id" === 1L)
        .select(($"vec_id" + 7000000L).as("vec_id"), $"embedding"),
      "vec_id", "embedding", dir)
    Similarity.ivfRetrain(spark, dir, iters = 2, versioned = true)
    val ids = spark.read.parquet(s"$dir/.v2/data")
      .select($"id").as[Long].collect().toSet
    assert(ids.contains(7000001L), "appended row survives the publish")
  }

  private val tiers = Seq[IvfTier](IvfTier.Centroid, IvfTier.Pq())

  /** Every id a probe of the whole index (all 4 cells) returns. */
  private def probedIds(dir: String,
                        predicate: Option[org.apache.spark.sql.Column] = None)
      : Set[Long] =
    Similarity.ivfProbe(spark, dir,
        emb.filter($"vec_id" === 7L)
          .select($"vec_id".as("qid"), $"embedding".as("qv")),
        "qid", "qv", k = 1000, probes = 4, predicate)
      .select($"id").as[Long].collect().toSet

  test("ivfDelete: on either tier's root the deleted id leaves the " +
      "probe at once") {
    tiers.foreach { tier =>
      val dir = tmp("ivfdeltier") + "/idx"
      Similarity.ivfBuild(emb.filter($"vec_id" < 300), "vec_id",
        "embedding", dir, tier, nCells = 4, iters = 2)
      assert(probedIds(dir).contains(7L), tier.toString)
      Similarity.ivfDelete(dir, Seq(7L).toDF("vec_id"), "vec_id")
      val after = probedIds(dir)
      assert(!after.contains(7L) && after.size == 299, s"$tier: $after")
    }
  }

  test("ivfAppend / ivfAppendBatch: either tier refuses rows without " +
      "the build's extraCols") {
    val corpus = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding", $"label")
    val label1 = corpus.filter($"label" === 1).count()
    tiers.foreach { tier =>
      val flat = tmp("ivfxflat") + "/idx"
      Similarity.ivfBuild(corpus.filter($"vec_id" < 250), "vec_id",
        "embedding", flat, tier, nCells = 4, iters = 2,
        extraCols = Seq("label"))
      interceptGuard("ivfAppend", "extraCols must match") {
        Similarity.ivfAppend(emb.filter($"vec_id" >= 250), "vec_id",
          "embedding", flat)
      }
      // rows with the metadata append, and a filtered probe sees them all
      Similarity.ivfAppend(corpus.filter($"vec_id" >= 250), "vec_id",
        "embedding", flat, Seq("label"))
      assert(probedIds(flat, Some($"label" === 1)).size == label1,
        tier.toString)
      val batch = tmp("ivfxbatch") + "/idx"
      Similarity.ivfInit(emb, "vec_id", "embedding", batch, tier,
        nCells = 4, iters = 2)
      Similarity.ivfAppendBatch(corpus.filter($"vec_id" < 250), "vec_id",
        "embedding", batch, 0L, Seq("label"))
      interceptGuard("ivfAppendBatch", "extraCols must match") {
        Similarity.ivfAppendBatch(emb.filter($"vec_id" >= 250), "vec_id",
          "embedding", batch, 1L)
      }
    }
  }

  test("ivfCompact: either tier rewrites its survivors verbatim, " +
      "extraCols and a quiesce marker included, and clears tombstones") {
    val corpus = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding", $"label")
    tiers.foreach { tier =>
      val dir = tmp("ivfcompact") + "/idx"
      Similarity.ivfBuild(corpus.filter($"vec_id" < 300), "vec_id",
        "embedding", dir, tier, nCells = 4, iters = 2,
        extraCols = Seq("label"))
      Similarity.ivfAppend(corpus.filter($"vec_id".between(300, 349)),
        "vec_id", "embedding", dir, Seq("label"))
      val (rowDir, tombDir) =
        if (tier == IvfTier.Centroid) (dir, s"$dir.tombstones")
        else (s"$dir/codes", s"$dir/tombstones")
      def rows = {
        val df = spark.read.parquet(rowDir)
        df.select($"id", to_json(struct(df.columns.sorted.map(col): _*)))
          .as[(Long, String)].collect().toSet
      }
      val before = rows
      val gone = Set(1L, 2L, 300L)
      Similarity.ivfDelete(dir, gone.toSeq.toDF("vec_id"), "vec_id")
      Similarity.ivfQuiesce(spark, dir)
      Similarity.ivfCompact(spark, dir)
      assert(new java.io.File(s"$dir/.quiesce").exists(), tier.toString)
      Similarity.ivfResume(spark, dir)
      assert(rows == before.filterNot(r => gone(r._1)), tier.toString)
      assert(!new java.io.File(tombDir).exists(), tier.toString)
      assert(probedIds(dir, Some($"label" >= 0)).size == 347,
        tier.toString)
    }
  }

  test("ivfRetrain: an IVF-PQ refit keeps the persisted m and nbits, " +
      "and needs its float corpus") {
    val dir = tmp("pqshape") + "/idx"
    Similarity.ivfBuild(emb, "vec_id", "embedding", dir,
      IvfTier.Pq(m = 8, nbits = 4), nCells = 4, iters = 2)
    def shape = {
      val model = Similarity.loadPqModel(spark, dir)
      (model.m, model.codebooks.map(_.size).distinct)
    }
    assert(shape == ((8, Seq(16))))
    interceptGuard("ivfRetrain", "corpus = Some(RefitCorpus") {
      Similarity.ivfRetrain(spark, dir, iters = 2)
    }
    Similarity.ivfRetrain(spark, dir, iters = 2,
      corpus = Some(RefitCorpus(emb, "vec_id", "embedding")))
    assert(shape == ((8, Seq(16))), "the refit lost the persisted shape")
  }

  // Jobs each replaced face launched for the same call on the same
  // index state, measured at the parent commit of the unified faces, as
  // (centroid IVF, IVF-PQ); -1 where that tier had no such face. The
  // calls are buildIvfCentroidIndex / buildIvfPqIndex, the init faces,
  // ivfAppend / ivfPqAppend, ivfAppendBatch / ivfPqAppendBatch,
  // ivfDelete / ivfPqDelete, ivfPqCompact, ivfRetrain / ivfPqRetrain,
  // quiesceIvfPq, resumeIvfPqIngest, ivfPqRetrainQuiesced and the two
  // drains.
  private val replacedFaceJobs = Map(
    "ivfBuild" -> (9, 16), "ivfInit" -> (8, 14),
    "ivfAppend" -> (3, 5), "ivfAppendBatch" -> (3, 5),
    "ivfDelete" -> (2, 2), "ivfCompact" -> (-1, 6),
    "ivfRetrain" -> (15, 24), "ivfRetrain versioned" -> (12, 21),
    "ivfQuiesce" -> (-1, 0), "ivfResume" -> (-1, 0),
    "ivfRetrainQuiesced" -> (-1, 21), "ivfIndexAvailableNow" -> (4, 6))
  // The faces with no centroid-IVF predecessor, pinned at their own
  // count.
  private val newFaceJobs = Map("ivfCompact" -> 5, "ivfQuiesce" -> 0,
    "ivfResume" -> 0, "ivfRetrainQuiesced" -> 12)
  // The one allowed excess: an append to a root that already holds rows
  // reads its schema once for the extraCols check (+1 job: ivfAppend
  // 4 and 6, ivfAppendBatch 4 and 6). The IVF-PQ build, init and
  // retrains launch one job fewer than before (15, 13, 23, 20, 20):
  // their centroid table is written through a coalesce, not a shuffle.
  private val schemaRead = Set("ivfAppend", "ivfAppendBatch")

  test("the trained IVF lifecycle launches no more jobs than the faces " +
      "it replaced") {
    val corpus = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding", $"label")
    val labels = Seq("label")
    val root = tmp("ivflcjobs")
    emb.filter($"vec_id" < 250).coalesce(1).write.parquet(s"$root/src")
    def ids(xs: Long*) = xs.toDF("vec_id")
    tiers.zipWithIndex.foreach { case (tier, t) =>
      val got = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      def pin(face: String)(body: => Any): Unit =
        got(face) = jobsLaunchedBy(body)
      def build(df: DataFrame, p: String, extras: Seq[String] = Nil) =
        Similarity.ivfBuild(df, "vec_id", "embedding", p, tier,
          nCells = 4, iters = 2, extraCols = extras)
      def init(p: String) = Similarity.ivfInit(emb, "vec_id", "embedding",
        p, tier, nCells = 4, iters = 2)
      def refit(df: DataFrame) =
        if (tier == IvfTier.Centroid) None
        else Some(RefitCorpus(df, "vec_id", "embedding"))
      build(emb.filter($"vec_id" < 50), s"$root/warm$t") // first loads
      val flat = s"$root/flat$t"
      pin("ivfBuild")(build(corpus.filter($"vec_id" < 300), flat, labels))
      pin("ivfAppend")(Similarity.ivfAppend(
        corpus.filter($"vec_id".between(300, 399)), "vec_id", "embedding",
        flat, labels))
      pin("ivfDelete")(Similarity.ivfDelete(flat, ids(1, 2, 300), "vec_id"))
      pin("ivfRetrain")(Similarity.ivfRetrain(spark, flat, iters = 2,
        corpus = refit(corpus.filter($"vec_id" < 400))))
      val ver = s"$root/ver$t"
      build(corpus.filter($"vec_id" < 300), ver, labels)
      pin("ivfRetrain versioned")(Similarity.ivfRetrain(spark, ver,
        iters = 2, versioned = true,
        corpus = refit(corpus.filter($"vec_id" < 300))))
      val batch = s"$root/batch$t"
      pin("ivfInit")(init(batch))
      Similarity.ivfAppendBatch(emb.filter($"vec_id" < 100), "vec_id",
        "embedding", batch, 0L)
      pin("ivfAppendBatch")(Similarity.ivfAppendBatch(
        emb.filter($"vec_id".between(100, 199)), "vec_id", "embedding",
        batch, 1L))
      Similarity.ivfDelete(batch, ids(5, 150), "vec_id")
      pin("ivfCompact")(Similarity.ivfCompact(spark, batch))
      val quiesced = s"$root/quiesced$t"
      build(emb.filter($"vec_id" < 300), quiesced)
      pin("ivfQuiesce")(Similarity.ivfQuiesce(spark, quiesced))
      pin("ivfResume")(Similarity.ivfResume(spark, quiesced))
      pin("ivfRetrainQuiesced")(Similarity.ivfRetrainQuiesced(spark,
        quiesced, iters = 2, corpus = refit(emb.filter($"vec_id" < 300))))
      val drained = s"$root/drained$t"
      init(drained)
      pin("ivfIndexAvailableNow")(EventStreams.ivfIndexAvailableNow(spark,
        s"$root/src", "vec_id", col("embedding"), drained,
        s"$root/ckpt$t"))
      info(s"$tier: $got")
      got.foreach { case (face, n) =>
        val (c, pq) = replacedFaceJobs(face)
        val prior = if (t == 0) c else pq
        val bound =
          if (prior < 0) newFaceJobs(face)
          else prior + (if (schemaRead(face)) 1 else 0)
        assert(n <= bound, s"$tier $face: $n jobs, bound $bound " +
          s"(the replaced face launched $prior)")
      }
    }
  }

  test("ivfBatchWriter: a two-micro-batch drain loads the model once, " +
      "so the second micro-batch launches only its write's jobs") {
    val root = tmp("ivfwriterjobs")
    // two files and one file per trigger: two micro-batches
    emb.filter($"vec_id" < 100).coalesce(1).write.parquet(s"$root/src")
    emb.filter($"vec_id".between(100, 199)).coalesce(1)
      .write.mode("append").parquet(s"$root/src")
    // measured per micro-batch at the parent commit of the writer,
    // whose drain resolved the root and reloaded the model every time
    val parentJobs = Seq(4, 6)
    tiers.zipWithIndex.foreach { case (tier, t) =>
      val idx = s"$root/idx$t"
      Similarity.ivfInit(emb, "vec_id", "embedding", idx, tier, nCells = 4,
        iters = 2)
      val src = spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/src")
      var write: (DataFrame, Long) => Unit = null
      val opened = jobsLaunchedBy {
        write = Similarity.ivfBatchWriter(spark, idx, "vec_id", "embedding",
          Nil)
      }
      val jobs = new java.util.concurrent.ConcurrentHashMap[Long, Int]
      EventStreams.drainBatches(src, s"$root/ckpt$t") { (batch, batchId) =>
        jobs.put(batchId, jobsLaunchedBy(write(batch, batchId)))
        ()
      }
      assert(jobs.keySet.asScala == Set(0L, 1L), jobs.toString)
      assert(opened > 0, s"$tier: the writer must load the model up front")
      assert(jobs.get(1L) == 1, s"$tier: the second micro-batch launched " +
        s"${jobs.get(1L)} jobs, the model loaded up front in $opened; the " +
        s"parent launched ${parentJobs(t)} per micro-batch")
      assert(spark.read.parquet(if (t == 0) idx else s"$idx/codes")
        .count() == 200L)
    }
  }

  test("ivfBatchWriter: a versioned retrain between micro-batches sends " +
      "the next batch to the new generation, assigned by its model") {
    tiers.zipWithIndex.foreach { case (tier, t) =>
      val idx = tmp("ivfwritergen") + "/idx"
      Similarity.ivfInit(emb, "vec_id", "embedding", idx, tier, nCells = 4,
        iters = 2)
      val write = Similarity.ivfBatchWriter(spark, idx, "vec_id",
        "embedding", Nil)
      write(emb.filter($"vec_id" < 200), 0L)
      Similarity.ivfQuiesce(spark, idx)
      Similarity.ivfRetrain(spark, idx, iters = 3, versioned = true,
        corpus = if (t == 0) None
          else Some(RefitCorpus(emb.filter($"vec_id" < 200), "vec_id",
            "embedding")))
      Similarity.ivfResume(spark, idx)
      write(emb.filter($"vec_id".between(200, 249)), 1L)
      val rows = if (t == 0) "data" else "codes"
      assert(spark.read.parquet(s"$idx/.v1/$rows").filter($"batch" === 1)
        .select($"id").as[Long].collect().toSet == (200L to 249L).toSet,
        s"$tier: batch 1 is not in the live generation")
      val retired = if (t == 0) s"$idx/batch=1" else s"$idx/codes/batch=1"
      assert(!new java.io.File(retired).exists(),
        s"$tier: batch 1 landed in the retired generation")
      // one probed cell finds each new row only when the new model
      // assigned it
      val qs = emb.filter($"vec_id".between(200, 209))
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      val found = Similarity.ivfProbe(spark, idx, qs, "qid", "qv", k = 5,
          probes = 1)
        .filter($"id" === $"qid").select($"qid").as[Long].collect().toSet
      assert(found == (200L to 209L).toSet, s"$tier: probed $found")
    }
  }
}
