package graft

import org.apache.spark.sql.functions._

import graft.operators.{IvfTier, Similarity}
import graft.operators.Similarity.RefitCorpus

/** Product-quantization ANN ([[Similarity.trainPq]] / native
  * [[graft.plans.PqEncode]] / [[graft.plans.PqAdcDistance]]).
  *
  * The test embeddings are uniform-random — PQ's WORST case (no
  * cluster structure to exploit), so recall gates here are
  * deliberately about invariants (determinism, planted-duplicate
  * retrieval, bounded reconstruction error), not recall percentages;
  * q_pq_topk pins planted rank-1 at all SFs.
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
  private lazy val model =
    Similarity.trainPq(emb, "vec_id", "embedding", m = 8, nbits = 8,
      iters = 10)

  test("codes are m bytes, in codebook range, and deterministic") {
    val coded = Similarity.withPqCodes(emb, "embedding", model)
      .select($"vec_id", $"pq_code")
    val rows = coded.as[(Long, Array[Byte])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, code) =>
      assert(code.length == 8, s"vec $id: ${code.length} bytes")
      code.zipWithIndex.foreach { case (b, s) =>
        assert((b & 0xff) < model.codebooks(s).size, s"vec $id sub $s")
      }
    }
    // re-encode: bit-identical (deterministic expression, no RNG)
    val again = Similarity.withPqCodes(emb, "embedding", model)
      .select($"vec_id", $"pq_code").as[(Long, Array[Byte])].collect()
    assert(rows.sortBy(_._1).zip(again.sortBy(_._1)).forall {
      case ((i1, c1), (i2, c2)) =>
        i1 == i2 && java.util.Arrays.equals(c1, c2)
    })
  }

  test("model persists and reloads identically") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pq").toString
    Similarity.writePqIndex(emb, "vec_id", "embedding", model, dir)
    val back = Similarity.loadPqModel(spark, dir)
    assert(back == model)
    // and the persisted codes match a fresh encode
    val onDisk = spark.read.parquet(s"$dir/codes")
      .as[(Long, Array[Byte])].collect().sortBy(_._1)
    val fresh = Similarity.withPqCodes(emb, "embedding", model)
      .select($"vec_id", $"pq_code").as[(Long, Array[Byte])]
      .collect().sortBy(_._1)
    assert(onDisk.zip(fresh).forall { case ((i1, c1), (i2, c2)) =>
      i1 == i2 && java.util.Arrays.equals(c1, c2) })
  }

  test("planted exact duplicate ranks first; both query paths agree") {
    val planted = emb.select($"vec_id", $"embedding").unionByName(
      emb.filter($"vec_id" === 0L)
        .select(lit(1000000L).as("vec_id"), $"embedding"))
    val m = Similarity.trainPq(planted, "vec_id", "embedding",
      m = 8, nbits = 8, iters = 10)
    val onTheFly = Similarity.pqTopK(planted, "vec_id", "embedding",
      queryId = 0L, m, k = 10).as[(Long, Double)].collect()
    assert(onTheFly.head._1 == 1000000L,
      s"top1=${onTheFly.head} — planted copy not first")
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_ix").toString
    Similarity.writePqIndex(planted, "vec_id", "embedding", m, dir)
    val preq = Similarity.pqTopKPrequantized(spark, s"$dir/codes",
      planted, "vec_id", "embedding", queryId = 0L, m, k = 10)
      .as[(Long, Double)].collect()
    assert(preq.toSeq == onTheFly.toSeq)
  }

  test("ADC cosine tracks exact cosine within the lossy-code bound") {
    // 8-byte codes on 64-dim random vectors: reconstruction error is
    // real but bounded; 0.5 is ~4x the worst observed gap and still
    // catches any sign/scale/offset bug (those produce errors ~1-2)
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding",
      queryId = 0L, k = 50).select($"id", $"cos_sim")
    val pq = Similarity.pqTopK(emb, "vec_id", "embedding",
      queryId = 0L, model, k = 500)
      .select($"id", $"pq_cos")
    val joined = exact.join(pq, "id")
      .select(abs($"cos_sim" - $"pq_cos").as("err"))
      .agg(max($"err")).as[Double].collect().head
    assert(joined <= 0.5, s"max |pq_cos - cos| = $joined")
  }

  test("exact re-rank of a lossy candidate pool lifts recall") {
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding",
      queryId = 0L, k = 10).select($"id").as[Long].collect().toSet
    def recall(ids: Set[Long]): Int = exact.intersect(ids).size
    val pqOnly = Similarity.pqTopK(emb, "vec_id", "embedding",
      queryId = 0L, model, k = 10).select($"id").as[Long].collect().toSet
    // a 10x candidate pool re-ranked exactly must do at least as well
    // as trusting the lossy ADC order outright
    val reranked = Similarity.pqTopKReranked(emb, "vec_id", "embedding",
      queryId = 0L, model, k = 10, pool = 100)
      .select($"id").as[Long].collect().toSet
    assert(recall(reranked) >= recall(pqOnly),
      s"rerank ${recall(reranked)} < pq ${recall(pqOnly)}")
    // and a corpus-sized pool is EXACT (the q_pq_rerank gate's claim)
    val full = Similarity.pqTopKReranked(emb, "vec_id", "embedding",
      queryId = 0L, model, k = 10, pool = 1000000)
      .select($"id").as[Long].collect().toSet
    assert(full == exact)
  }

  test("recall floor at the default config (m=8, nbits=8, rerank pool 5k)") {
    // Protocol, as in the SCALE.md PQ recall table:
    // mean recall@10 vs exact cosine over query ids spread across the
    // corpus, at the default operating point — 8-byte codes, exact
    // re-rank of a 5k-deep ADC candidate pool. Everything in the path
    // is deterministic (hash-sampled codebook fit, seeded Lloyd), so
    // the floor pins the measured value with slack only for future
    // codebook-fit tweaks, not for run-to-run noise. sf0.1 (2000
    // vectors) measured 0.800 at this config (SCALE.md); here the
    // 500-vector sf0.001 table reranks 10% of the corpus instead of
    // 2.5%, so the pinned floor sits safely under both.
    val k = 10
    val ids = emb.select("vec_id").orderBy("vec_id")
      .as[Long].collect()
    val qIds = ids.grouped(math.max(1, ids.length / 5)).map(_.head)
      .take(5).toSeq
    val recalls = qIds.map { q =>
      val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", q, k)
        .select($"id").as[Long].collect().toSet
      val got = Similarity.pqTopKReranked(emb, "vec_id", "embedding", q,
        model, k, pool = 5 * k).select($"id").as[Long].collect().toSet
      exact.intersect(got).size.toDouble / k
    }
    val mean = recalls.sum / recalls.size
    info(f"mean recall@10 = $mean%.3f over ${qIds.size} queries")
    assert(mean >= 0.7, f"recall@10 $mean%.3f below the pinned floor 0.7")
  }

  test("IVF-PQ: planted copy retrieved through the composed index") {
    val planted = emb.select($"vec_id", $"embedding").unionByName(
      emb.filter($"vec_id" === 0L)
        .select(lit(1000000L).as("vec_id"), $"embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    Similarity.ivfBuild(planted, "vec_id", "embedding", dir,
      IvfTier.Pq(m = 8, nbits = 8), nCells = 8, iters = 3)
    val qVec = planted.filter($"vec_id" === 0L)
      .select($"embedding").collect()(0).getSeq[Float](0).toArray
    val probe = Similarity.ivfProbe(spark, dir,
        planted.filter($"vec_id" === 0L)
          .select($"vec_id".as("qid"), $"embedding".as("qv")),
        "qid", "qv", k = 11, probes = 1)
      .filter($"id" =!= 0L)
    val rows = probe.as[(Long, Long, Double)].collect()
      .map(r => (r._2, r._3)).sortBy(r => (-r._2, r._1))
    assert(rows.head._1 == 1000000L, s"top1=${rows.head}")
    assert(rows.length == 10)
    // the single-probe scan is partition-pruned to ONE cell directory
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(600))
    // widening the probe to every cell can only improve recall vs the
    // exact neighbors (it degenerates to a full residual-PQ scan)
    val exact = Similarity.cosineTopK(planted, "vec_id", "embedding",
      queryId = 0L, k = 10).select($"id").as[Long].collect().toSet
    def recall(probes: Int): Int =
      exact.intersect(ivfTop(dir, qVec, 11, probes)
        .map(_._1).filter(_ != 0L).take(10).toSet).size
    val r1 = recall(1)
    val r8 = recall(8)
    assert(r8 >= r1, s"probes=8 recall $r8 < probes=1 recall $r1")
  }

  test("ADC scan plans as TakeOrderedAndProject, no global sort") {
    val plan = Similarity.pqTopK(emb, "vec_id", "embedding",
      queryId = 0L, model, k = 10).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
    assert(!plan.contains("Sort ["), plan.take(800))
  }

  test("IVF-PQ lifecycle: append purity, delete, compact, retrain") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_lc")
      .toString + "/idx"
    val base = emb.select($"vec_id", $"embedding")
    Similarity.ivfBuild(base, "vec_id", "embedding", dir,
      IvfTier.Pq(m = 8, nbits = 8), nCells = 8, iters = 3)
    // append purity: the same vectors with offset ids, routed through
    // the PERSISTED model by the public append path, land
    // cell-for-cell and code-for-code where the build put them
    Similarity.ivfAppend(
      base.select(($"vec_id" + 5000000L).as("vec_id"), $"embedding"),
      "vec_id", "embedding", dir)
    def codesAt(d: String) = spark.read.parquet(s"$d/codes")
      .select($"id", $"cell", hex($"pq_code").as("code"))
    def twinDiffs(offset: Long): Long = {
      val c = codesAt(dir)
      val a = c.filter($"id" < offset)
      val b = c.filter($"id" >= offset)
        .select(($"id" - offset).as("id"), $"cell".as("cell2"),
          $"code".as("code2"))
      a.join(b, Seq("id"), "full_outer")
        .filter($"cell".isNull || $"cell2".isNull ||
          $"cell" =!= $"cell2" || $"code" =!= $"code2")
        .count()
    }
    assert(twinDiffs(5000000L) == 0L, "appended twins diverge from build")
    // delete: immediate exclusion on BOTH probe paths, codes untouched
    val qVec = emb.filter($"vec_id" === 0L)
      .select($"embedding").collect()(0).getSeq[Float](0).toArray
    assert(ivfTop(dir, qVec, k = 3, probes = 8).map(_._1)
      .contains(5000000L))
    val preDelete = codesAt(dir).filter($"id" =!= 5000000L)
      .as[(Long, Int, String)].collect().toSet
    Similarity.ivfDelete(dir, Seq(5000000L).toDF("vec_id"), "vec_id")
    val single = ivfTop(dir, qVec, k = 30, probes = 8).map(_._1)
    assert(!single.contains(5000000L) && single.nonEmpty)
    val batchProbe = Similarity.ivfProbe(spark, dir,
      emb.filter($"vec_id" === 0L)
        .select($"vec_id".as("qid"), $"embedding".as("qv")),
      "qid", "qv", k = 30, probes = 8)
    assert(!batchProbe.select($"id").as[Long].collect()
      .contains(5000000L))
    // a repeated delete is absorbed (append-only tombstones)
    Similarity.ivfDelete(dir, Seq(5000000L).toDF("vec_id"), "vec_id")
    // compact: survivors rewrite VERBATIM (model unchanged, no stats
    // to heal), tombstone table clears
    Similarity.ivfCompact(spark, dir)
    val post = codesAt(dir).as[(Long, Int, String)].collect().toSet
    assert(post == preDelete, "compact changed surviving codes")
    assert(!new java.io.File(s"$dir/tombstones").exists())
    // retrain: PQ codes are lossy, so the refit takes the CURRENT
    // float corpus; law = the ivfAppend purity law reapplied through
    // the refit+swap — twins appended under the RETRAINED model land
    // id-for-id where the retrain's rewrite put their originals
    val currentVecs = base.unionByName(
      base.filter($"vec_id" =!= 0L)
        .select(($"vec_id" + 5000000L).as("vec_id"), $"embedding"))
    Similarity.ivfRetrain(spark, dir, iters = 3,
      corpus = Some(RefitCorpus(currentVecs, "vec_id", "embedding")))
    assert(!new java.io.File(dir + ".retrain").exists())
    Similarity.ivfAppend(
      currentVecs.select(($"vec_id" + 20000000L).as("vec_id"),
        $"embedding"),
      "vec_id", "embedding", dir)
    assert(twinDiffs(20000000L) == 0L,
      "post-retrain appended twins diverge from the rewrite")
    // the rewrite preserved exactly the surviving rows
    assert(codesAt(dir).filter($"id" < 20000000L).count() ==
      currentVecs.count())
  }

  test("pqTopKBatch == per-query pqTopKPrequantized, bit-exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_b")
      .toString
    Similarity.writePqIndex(emb, "vec_id", "embedding", model, dir)
    val queries = emb.filter($"vec_id" < 4)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val batch = Similarity.pqTopKBatch(spark, dir, queries, "qid",
        "qv", k = 9)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(r => (r._2, r._3))
        .sortBy(r => (-r._2, r._1)).toSeq).toMap
    (0L until 4L).foreach { qid =>
      val perq = Similarity.pqTopKPrequantized(spark, s"$dir/codes",
          emb, "vec_id", "embedding", qid, model, k = 9)
        .as[(Long, Double)].collect().toSeq
      assert(batch(qid) == perq, s"query $qid: ${batch(qid)} vs $perq")
    }
    intercept[IllegalArgumentException] {
      Similarity.pqTopKBatch(spark, dir, queries, "qid", "qv", k = 0)
    }
  }

  test("ivfPqTopKBatch == per-query ivfPqTopK, bit-exact; pruned scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_b")
      .toString + "/idx"
    Similarity.ivfBuild(emb, "vec_id", "embedding", dir,
      IvfTier.Pq(m = 8, nbits = 8), nCells = 8, iters = 3)
    val queries = emb.filter($"vec_id" < 4)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    def byQuery(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect()
        .groupBy(_._1).view
        .mapValues(_.map(r => (r._2, r._3))
          .sortBy(r => (-r._2, r._1)).toSeq).toMap
    val probe = Similarity.ivfProbe(spark, dir, queries, "qid",
      "qv", k = 9, probes = 2)
    val batch = byQuery(probe)
    // a query's rows in the batch equal its rows from a 1-row probe,
    // bit-exact (the batch prunes to the union of every query's cells)
    (0L until 4L).foreach { qid =>
      val perq = byQuery(Similarity.ivfProbe(spark, dir,
        queries.filter($"qid" === qid), "qid", "qv", k = 9,
        probes = 2))(qid)
      assert(batch(qid) == perq, s"query $qid: ${batch(qid)} vs $perq")
    }
    // the code scan is partition-pruned to the probed cells and the
    // per-query tables ride a broadcast
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(600))
    assert(plan.contains("Broadcast"), plan.take(600))
  }

  test("versioned ivfPqRetrain: pointer flip, grace, sticky; probes " +
      "and appends resolve to the live generation") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_v")
      .toString + "/idx"
    val base = emb.select($"vec_id", $"embedding")
    Similarity.ivfBuild(base, "vec_id", "embedding", dir,
      IvfTier.Pq(m = 8, nbits = 8), nCells = 8, iters = 3)
    val qVec = emb.filter($"vec_id" === 0L)
      .select($"embedding").collect()(0).getSeq[Float](0).toArray
    def files() = Option(new java.io.File(dir).list())
      .map(_.toSet).getOrElse(Set.empty[String])
    def top(k: Int) = ivfTop(dir, qVec, k, probes = 8).map(_._1).toSet
    Similarity.ivfRetrain(spark, dir, iters = 3, versioned = true,
      corpus = Some(RefitCorpus(base, "vec_id", "embedding")))
    assert(files().contains(".current") && files().contains(".v1"),
      files().toString)
    assert(files().contains("codes"), "legacy grace gone")
    assert(top(2).contains(0L))
    // appends land in the live generation; the planted copy is
    // immediately findable and the legacy codes are untouched
    Similarity.ivfAppend(
      base.filter($"vec_id" === 0L)
        .select(($"vec_id" + 900000L).as("vec_id"), $"embedding"),
      "vec_id", "embedding", dir)
    assert(top(2) == Set(0L, 900000L), top(2).toString)
    assert(!spark.read.parquet(s"$dir/codes").select($"id")
      .as[Long].collect().contains(900000L),
      "append leaked into the legacy layout")
    // delete tombstones the live generation
    Similarity.ivfDelete(dir, Seq(900000L).toDF("vec_id"), "vec_id")
    assert(!top(30).contains(900000L))
    // second retrain: sticky versioning, v2 live, legacy layout gone,
    // v1 retained as the new grace, tombstoned row stays gone
    Similarity.ivfRetrain(spark, dir, iters = 3,
      corpus = Some(RefitCorpus(base, "vec_id", "embedding")))
    assert(files().contains(".v2") && files().contains(".v1") &&
      !files().contains("codes"), files().toString)
    assert(top(2).contains(0L) && !top(30).contains(900000L))
    assert(!new java.io.File(dir + ".retrain").exists())
  }

  test("filtered ADC probe: predicate before top-k, widening, " +
      "metadata survives retrain; post-filtering starves") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_f")
      .toString + "/idx"
    val embL = Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding", $"label")
    val corpus = embL.unionByName(
      embL.filter($"vec_id".between(10, 21))
        .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding",
          lit(99).as("label")))
    Similarity.ivfBuild(corpus, "vec_id", "embedding", dir,
      IvfTier.Pq(m = 8, nbits = 8), nCells = 8, iters = 3,
      extraCols = Seq("label"))
    val qVec = embL.filter($"vec_id" === 0L)
      .select($"embedding").collect()(0).getSeq[Float](0).toArray
    val planted = (10L to 21L).map(_ + 1000000L).toSet
    // widening to full coverage returns exactly the planted set
    val got = ivfTop(dir, qVec, k = 20, predicate = Some($"label" === 99))
      .map(_._1).toSet
    assert(got == planted, got.toString)
    // the wrong order — unfiltered ADC top-20, then filter — keeps
    // only planted rows that crack the global top-20
    val wrongN = Similarity.ivfProbe(spark, dir,
        embL.filter($"vec_id" === 0L)
          .select($"vec_id".as("qid"), $"embedding".as("qv")),
        "qid", "qv", k = 20, probes = 8)
      .join(corpus.select($"vec_id".as("id"), $"label"), Seq("id"))
      .filter($"label" === 99).count()
    assert(wrongN < planted.size,
      s"post-filtering kept $wrongN; planted data should starve it")
    // a non-selective predicate equals the unfiltered probe at the
    // same width
    val all = ivfTop(dir, qVec, k = 10, probes = 8,
      predicate = Some($"label" >= 0))
    val unf = ivfTop(dir, qVec, k = 10, probes = 8)
    assert(all == unf)
    // metadata survives the retrain rewrite (vectors re-supply it)
    Similarity.ivfRetrain(spark, dir, iters = 3,
      corpus = Some(RefitCorpus(corpus, "vec_id", "embedding")))
    val post = ivfTop(dir, qVec, k = 20, predicate = Some($"label" === 99))
      .map(_._1).toSet
    assert(post == planted, post.toString)
    // and a retrain whose vectors LACK the metadata fails loudly
    intercept[IllegalArgumentException] {
      Similarity.ivfRetrain(spark, dir, iters = 3,
        corpus = Some(RefitCorpus(corpus.drop("label"), "vec_id",
          "embedding")))
    }
  }

  test("pqTopKRerankedBatch == per-query pqTopKReranked at a real pool") {
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val batch = Similarity.pqTopKRerankedBatch(emb, "vec_id",
        "embedding", queries, "qid", "qv", model, k = 7, pool = 50)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(r => (r._2, r._3))
        .sortBy(r => (-r._2, r._1)).toSeq).toMap
    (0L until 3L).foreach { qid =>
      val perq = Similarity.pqTopKReranked(emb, "vec_id", "embedding",
          qid, model, k = 7, pool = 50)
        .as[(Long, Double)].collect().toSeq
      assert(batch(qid) == perq, s"query $qid: ${batch(qid)} vs $perq")
    }
    intercept[IllegalArgumentException] {
      Similarity.pqTopKRerankedBatch(emb, "vec_id", "embedding",
        queries, "qid", "qv", model, k = 7, pool = 3)
    }
  }
}
