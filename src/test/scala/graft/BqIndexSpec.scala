package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{IvfTier, Similarity, VectorIndex}
import graft.operators.VectorCodec.{Binary, Int8, Srp}

/** The persisted binary-signature index (r16 verdict #2): native
  * sign-pack == declarative spec, the at-rest lifecycle laws
  * (append ≡ one-shot, replay-idempotent batches, delete/compact,
  * filtered probe), and indexed ≡ direct probing. */
class BqIndexSpec extends SparkSpec {
  import spark.implicits._

  private def emb: DataFrame = Tables.embeddings(spark, sfDir)
    .select($"vec_id", $"embedding")

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  test("native BinarySignature == declarative fold, bit for bit — " +
      "including null elements, NaN, empty and null vectors") {
    val edge = Seq(
      (900L, Some(Seq(Some(1.0f), Some(-2.0f), None, Some(Float.NaN),
        Some(0.0f), Some(3.5f)))),
      (901L, Some(Seq.empty[Option[Float]])),
      (902L, None))
      .toDF("vec_id", "embedding")
    val cmp = emb.unionByName(edge.select($"vec_id",
        $"embedding".cast("array<float>")))
      .select(
        Similarity.binarySignature($"embedding").as("native"),
        Similarity.binarySignatureDeclarative($"embedding").as("decl"))
      .collect()
    cmp.foreach { r =>
      val n = if (r.isNullAt(0)) null else r.getSeq[Long](0)
      val d = if (r.isNullAt(1)) null else r.getSeq[Long](1)
      assert(n == d, s"native $n != declarative $d")
    }
  }

  test("native HammingDistance == declarative fold, bit for bit — " +
      "including null arrays, null elements, length mismatch and " +
      "empty pairs") {
    // real signature pairs: every corpus signature against one query's
    val signed = emb.select($"vec_id",
      Similarity.binarySignature($"embedding").as("sig"))
    val q = signed.filter($"vec_id" === 0L).select($"sig".as("qsig"))
    val real = signed.crossJoin(q)
      .select($"sig".as("a"), $"qsig".as("b"))
    // edge pairs: nulls, a null element, mismatched lengths, empties
    val edge = Seq(
      (Some(Seq(Some(5L), Some(-1L))), Some(Seq(Some(3L), Some(7L)))),
      (None, Some(Seq(Some(1L)))),
      (Some(Seq(Some(1L))), None),
      (Some(Seq(Some(1L), None)), Some(Seq(Some(1L), Some(2L)))),
      (Some(Seq(Some(1L), Some(2L))), Some(Seq(Some(1L)))),
      (Some(Seq.empty[Option[Long]]), Some(Seq(Some(9L)))),
      (Some(Seq.empty[Option[Long]]), Some(Seq.empty[Option[Long]])))
      .toDF("a", "b")
    val cmp = real.unionByName(edge)
      .select(Similarity.hammingDistance($"a", $"b").as("native"),
        Similarity.hammingDistanceDeclarative($"a", $"b").as("decl"))
      .collect()
    assert(cmp.nonEmpty)
    cmp.foreach { r =>
      val n = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
      val d = if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1))
      assert(n == d, s"native $n != declarative $d")
    }
    // the two-empty-arrays fold is 0, not null (the zero accumulator)
    val empty = Seq((Seq.empty[Long], Seq.empty[Long])).toDF("a", "b")
      .select(Similarity.hammingDistance($"a", $"b")).collect()(0)
    assert(!empty.isNullAt(0) && empty.getLong(0) == 0L)
    // every integral element type the declarative fold accepted keeps
    // working (the CosineSim compatibility rule), including negative
    // values (sign-extension semantics) and MIXED-width pairs
    // (Spark's wider-type coercion)
    def crossCheck(df: org.apache.spark.sql.DataFrame): Unit = {
      val rows = df
        .select(Similarity.hammingDistance($"a", $"b").as("n"),
          Similarity.hammingDistanceDeclarative($"a", $"b").as("d"))
        .collect()
      rows.foreach { r =>
        val n = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
        val dd = if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1))
        assert(n == dd, s"native $n != declarative $dd in ${df.columns.toSeq}")
      }
    }
    crossCheck(Seq(
      (Seq(1, -1, 255, Int.MinValue), Seq(0, 1, -256, Int.MaxValue)))
      .toDF("a", "b"))
    crossCheck(Seq(
      (Seq(1.toByte, (-1).toByte, Byte.MinValue),
       Seq(0.toByte, 3.toByte, Byte.MaxValue))).toDF("a", "b"))
    crossCheck(Seq(
      (Seq(1.toShort, (-5).toShort), Seq((-1).toShort, 5.toShort)))
      .toDF("a", "b"))
    // mixed widths: int vs bigint coerces to bigint on both sides
    crossCheck(Seq((Seq(7, -7), Seq(1L, Long.MinValue)))
      .toDF("a", "b"))
  }

  test("bq index lifecycle: append == one-shot build; indexed == " +
      "direct; delete excludes immediately; compact == fresh build " +
      "over survivors") {
    val dir = tmp("bqlife") + "/idx"
    val a = emb.filter($"vec_id" < 300)
    val b = emb.filter($"vec_id" >= 300)
    VectorIndex.build(a, "vec_id", "embedding", dir, Binary)
    VectorIndex.append(b, "vec_id", "embedding", dir, Binary)
    val oneShot = tmp("bqone") + "/idx"
    VectorIndex.build(emb, "vec_id", "embedding", oneShot, Binary)
    val apRows = spark.read.parquet(dir)
      .select($"id", $"sig".cast("string")).as[(Long, String)]
      .collect().toSet
    val osRows = spark.read.parquet(oneShot)
      .select($"id", $"sig".cast("string")).as[(Long, String)]
      .collect().toSet
    assert(apRows == osRows, "append must equal the one-shot build")
    // indexed == direct probe
    val qs = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val indexed = VectorIndex.probe(spark, dir, qs, "qid", "qv",
      k = 10).as[(Long, Long, Long)].collect().toSet
    val direct = VectorIndex.topKBatch(emb, "vec_id", "embedding",
      qs, "qid", "qv", k = 10, Binary).as[(Long, Long, Long)].collect().toSet
    assert(indexed == direct)
    // delete: immediate exclusion, index untouched
    val victims = indexed.map(_._2).take(3).toSeq
    VectorIndex.delete(dir, victims.toDF("vec_id"), "vec_id")
    val afterDel = VectorIndex.probe(spark, dir, qs, "qid",
      "qv", k = 10).as[(Long, Long, Long)].collect()
    assert(afterDel.forall(r => !victims.contains(r._2)))
    // compact: tombstones clear, probe == fresh build over survivors
    VectorIndex.compact(spark, dir)
    assert(!new java.io.File(s"$dir.tombstones").exists())
    val compacted = VectorIndex.probe(spark, dir, qs, "qid",
      "qv", k = 10).as[(Long, Long, Long)].collect().toSet
    val fresh = tmp("bqfresh") + "/idx"
    VectorIndex.build(
      emb.filter(!$"vec_id".isin(victims: _*)), "vec_id", "embedding",
      fresh, Binary)
    val freshRes = VectorIndex.probe(spark, fresh, qs, "qid",
      "qv", k = 10).as[(Long, Long, Long)].collect().toSet
    assert(compacted == freshRes)
    // layout guards: a flat index refuses the batch face and vice versa
    intercept[IllegalArgumentException] {
      VectorIndex.appendBatch(b, "vec_id", "embedding", dir, 0L, Binary)
    }
  }

  test("bq batch layout: replay-idempotent overwrite; compact folds " +
      "to batch=-1 keeping each id's latest batch; flat append refused") {
    // the same upsert-healing laws hold for every codec
    Seq(Binary, Int8, Srp(4)).foreach { codec =>
      val dir = tmp("batchheal") + "/idx"
      VectorIndex.appendBatch(emb.filter($"vec_id" < 200), "vec_id",
        "embedding", dir, batchId = 0L, codec)
      // a re-embedded id arrives in batch 1 (same ids, the upsert case)
      VectorIndex.appendBatch(emb.filter($"vec_id" < 50), "vec_id",
        "embedding", dir, batchId = 1L, codec)
      // replay of batch 1 rewrites identical rows — row count stable
      val before = spark.read.parquet(dir).count()
      VectorIndex.appendBatch(emb.filter($"vec_id" < 50), "vec_id",
        "embedding", dir, batchId = 1L, codec)
      assert(spark.read.parquet(dir).count() == before, codec.toString)
      intercept[IllegalArgumentException] {
        VectorIndex.append(emb, "vec_id", "embedding", dir, codec)
      }
      intercept[IllegalArgumentException] {
        VectorIndex.appendBatch(emb, "vec_id", "embedding", dir, -1L, codec)
      }
      VectorIndex.compact(spark, dir)
      val dirs = new java.io.File(dir).list().toSet
        .filter(_.startsWith("batch="))
      assert(dirs == Set("batch=-1"), s"$codec: $dirs")
      // upsert healed: every id once
      val ids = spark.read.parquet(dir).select($"id").as[Long].collect()
      assert(ids.length == ids.distinct.length && ids.length == 200,
        codec.toString)
    }
  }

  test("bqTopKIndexedRerankedBatch at a real pool == the direct " +
      "rerank funnel over the indexed corpus") {
    val dir = tmp("bqrr") + "/idx"
    VectorIndex.build(emb, "vec_id", "embedding", dir, Binary)
    val qs = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val indexed = Similarity.bqTopKIndexedRerankedBatch(spark, dir,
        emb, "vec_id", "embedding", qs, "qid", "qv", k = 5, pool = 25)
      .as[(Long, Long, Double)].collect().toSet
    val direct = Similarity.bqTopKRerankedBatch(emb, "vec_id",
        "embedding", qs, "qid", "qv", k = 5, pool = 25)
      .as[(Long, Long, Double)].collect().toSet
    assert(indexed == direct)
  }

  test("int8 lifecycle (the shared pure-function core): append == " +
      "one-shot; delete excludes immediately; batch replay " +
      "idempotent; layout guards") {
    val dir = tmp("i8life") + "/corpus"
    VectorIndex.build(emb.filter($"vec_id" < 300), "vec_id",
      "embedding", dir, Int8)
    VectorIndex.append(emb.filter($"vec_id" >= 300), "vec_id",
      "embedding", dir, Int8)
    val oneShot = tmp("i8one") + "/corpus"
    VectorIndex.build(emb, "vec_id", "embedding", oneShot, Int8)
    val a = spark.read.parquet(dir)
      .select($"id", $"q_vec".cast("string")).as[(Long, String)]
      .collect().toSet
    val b = spark.read.parquet(oneShot)
      .select($"id", $"q_vec".cast("string")).as[(Long, String)]
      .collect().toSet
    assert(a == b, "int8 append must equal the one-shot build")
    VectorIndex.delete(dir, Seq(5L, 6L).toDF("vec_id"), "vec_id")
    val probed = VectorIndex.probe(spark, dir,
        emb.filter($"vec_id" === 5L)
          .select($"vec_id".as("qid"), $"embedding".as("qv")),
        "qid", "qv", k = 100000)
      .select($"id").as[Long].collect().toSet
    assert(!probed.contains(5L) && !probed.contains(6L) &&
      probed.contains(7L))
    VectorIndex.compact(spark, dir)
    assert(!new java.io.File(s"$dir.tombstones").exists())
    assert(spark.read.parquet(dir).count() == 498L)
    intercept[IllegalArgumentException] {
      VectorIndex.appendBatch(emb, "vec_id", "embedding", dir, 0L, Int8)
    }
    // batch face: replay idempotence on a fresh root
    val bdir = tmp("i8batch") + "/corpus"
    VectorIndex.appendBatch(emb.filter($"vec_id" < 50), "vec_id",
      "embedding", bdir, 0L, Int8)
    val n0 = spark.read.parquet(bdir).count()
    VectorIndex.appendBatch(emb.filter($"vec_id" < 50), "vec_id",
      "embedding", bdir, 0L, Int8)
    assert(spark.read.parquet(bdir).count() == n0)
    intercept[IllegalArgumentException] {
      VectorIndex.append(emb, "vec_id", "embedding", bdir, Int8)
    }
  }

  test("bqPoolReport / recommendBqPool: recall is monotone in the " +
      "pool, a corpus-covering pool measures 1.0, and an unreachable " +
      "target fails loudly with the measured table (r17 verdict #6)") {
    val pools = Seq(10, 50, 200, 500)
    val rep = Similarity.bqPoolReport(emb, "vec_id", "embedding",
        k = 10, maxQueries = 20, candidatePools = pools)
      .as[(Long, Double)].collect().sortBy(_._1)
    assert(rep.map(_._1).toSeq == pools.map(_.toLong))
    assert(rep.forall(r => r._2 >= 0.0 && r._2 <= 1.0))
    // prefix recall can only grow with the pool
    rep.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 <= b._2, s"recall must be monotone: $a > $b")
    }
    // pool >= corpus: every exact id is inside the prefix
    assert(rep.last._2 == 1.0, s"corpus-covering pool: ${rep.last}")
    // the recommendation is the SMALLEST pool at target
    val rec = Similarity.recommendBqPool(emb, "vec_id", "embedding",
      targetRecall = 1.0, k = 10, maxQueries = 20,
      candidatePools = pools)
    assert(rec == rep.find(_._2 >= 1.0).get._1.toInt)
    // an unreachable target names the measured numbers
    interceptGuard("no candidate pool reaches", "pool 10 ->") {
      Similarity.recommendBqPool(emb, "vec_id", "embedding",
        targetRecall = 1.0, k = 10, maxQueries = 20,
        candidatePools = Seq(10))
    }
  }

  test("srp index: indexed == direct batch at the persisted nBits; " +
      "append == one-shot; delete/compact; probes refuse a " +
      "metadata-less root (r17 verdict #2)") {
    val dir = tmp("srplife") + "/idx"
    val a = emb.filter($"vec_id" < 300)
    val b = emb.filter($"vec_id" >= 300)
    VectorIndex.build(a, "vec_id", "embedding", dir, Srp(4))
    assert(VectorIndex.srpBits(spark, dir) == 4)
    VectorIndex.append(b, "vec_id", "embedding", dir, Srp(4))
    val oneShot = tmp("srpone") + "/idx"
    VectorIndex.build(emb, "vec_id", "embedding", oneShot, Srp(4))
    val apRows = spark.read.parquet(dir)
      .select($"id", $"cell").as[(Long, Long)].collect().toSet
    val osRows = spark.read.parquet(oneShot)
      .select($"id", $"cell").as[(Long, Long)].collect().toSet
    assert(apRows == osRows, "append must equal the one-shot build")
    // indexed == direct batch at the SAME nBits (read from the meta)
    val qs = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val indexed = VectorIndex.probe(spark, dir, qs, "qid",
      "qv", k = 10).as[(Long, Long, Double)].collect().toSet
    val direct = VectorIndex.topKBatch(emb, "vec_id", "embedding",
        qs, "qid", "qv", k = 10, Srp(4))
      .as[(Long, Long, Double)].collect().toSet
    assert(indexed == direct)
    // neighbor pairs at rest == direct at the index's nBits
    val pIdx = Similarity.srpNeighborPairsIndexed(spark, dir,
        minCos = 0.2).as[(Long, Long, Double)].collect().toSet
    val pDir = Similarity.srpNeighborPairs(emb, "vec_id", "embedding",
        minCos = 0.2, nBits = 4).as[(Long, Long, Double)].collect().toSet
    assert(pIdx == pDir)
    // delete excludes immediately; compact == fresh build over survivors
    val victims = indexed.map(_._2).take(3).toSeq
    VectorIndex.delete(dir, victims.toDF("vec_id"), "vec_id")
    val afterDel = VectorIndex.probe(spark, dir, qs, "qid",
      "qv", k = 10).as[(Long, Long, Double)].collect()
    assert(afterDel.forall(r => !victims.contains(r._2)))
    VectorIndex.compact(spark, dir)
    assert(!new java.io.File(s"$dir.tombstones").exists())
    assert(VectorIndex.srpBits(spark, dir) == 4,
      "compact must not touch the metadata sidecar")
    val compacted = VectorIndex.probe(spark, dir, qs, "qid",
      "qv", k = 10).as[(Long, Long, Double)].collect().toSet
    val fresh = tmp("srpfresh") + "/idx"
    VectorIndex.build(
      emb.filter(!$"vec_id".isin(victims: _*)), "vec_id", "embedding",
      fresh, Srp(4))
    assert(VectorIndex.probe(spark, fresh, qs, "qid", "qv",
      k = 10).as[(Long, Long, Double)].collect().toSet == compacted)
    // a root with no .srpmeta refuses loudly (probe AND append)
    val bare = tmp("srpbare") + "/idx"
    emb.limit(1).select($"vec_id".as("id"), lit(0L).as("cell"),
      $"embedding".as("v")).write.parquet(bare)
    interceptGuard("no SRP index metadata") {
      VectorIndex.probe(spark, bare, qs, "qid", "qv", k = 3)
    }
    interceptGuard("no SRP index metadata") {
      VectorIndex.append(emb.limit(1), "vec_id", "embedding", bare, Srp(4))
    }
    // the SRP width is ensure-never-overwrite: an append at the same
    // nBits proceeds, one at a different nBits is LOUD (a silent meta
    // flip would strand the existing rows in unreachable buckets)
    VectorIndex.append(emb.limit(0), "vec_id", "embedding", dir, Srp(4))
    interceptGuard("refusing to flip") {
      VectorIndex.append(emb.limit(1), "vec_id", "embedding", dir, Srp(8))
    }
    assert(VectorIndex.srpBits(spark, dir) == 4)
  }

  test("srp index: batch layout replays idempotently; filtered " +
      "probe runs pre-top-k; layout guards") {
    val dir = tmp("srpbatch") + "/idx"
    VectorIndex.appendBatch(emb.filter($"vec_id" < 200), "vec_id",
      "embedding", dir, batchId = 0L, Srp(4))
    val n0 = spark.read.parquet(dir).count()
    VectorIndex.appendBatch(emb.filter($"vec_id" < 200), "vec_id",
      "embedding", dir, batchId = 0L, Srp(4))
    assert(spark.read.parquet(dir).count() == n0)
    intercept[IllegalArgumentException] {
      VectorIndex.append(emb, "vec_id", "embedding", dir, Srp(4))
    }
    // filtered face: predicate before the per-query top-k
    val fdir = tmp("srpfilt") + "/idx"
    val corpus = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding", $"label")
    VectorIndex.build(corpus, "vec_id", "embedding", fdir,
      Srp(2), extraCols = Seq("label"))
    val qs = corpus.filter($"vec_id" < 2)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val lbl = corpus.select($"vec_id", $"label")
      .as[(Long, Int)].collect().toMap
    val got = VectorIndex.probe(spark, fdir, qs,
        "qid", "qv", k = 5, Some($"label" === 1))
      .as[(Long, Long, Double)].collect()
    assert(got.nonEmpty && got.forall(r => lbl(r._2) == 1))
    val deep = VectorIndex.probe(spark, fdir, qs, "qid", "qv",
        k = 100000)
      .as[(Long, Long, Double)].collect()
      .filter(r => lbl(r._2) == 1)
      .groupBy(_._1).view.mapValues(_.sortBy(r => (-r._3, r._2))
        .take(5).toSet).toMap
    got.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.toSet == deep(qid), s"query $qid diverges")
    }
  }

  test("annRecallReport: exact-covering candidates recall 1.0, empty " +
      "candidates recall 0.0, approximate tiers in between — one " +
      "instrument for every (query, id) probe") {
    val qs = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    // a deep Hamming ranking covers the corpus → every exact id hits
    val full = VectorIndex.topKBatch(emb, "vec_id", "embedding", qs,
      "qid", "qv", k = 100000, Binary)
    val rFull = Similarity.annRecallReport(emb, "vec_id", "embedding",
        qs, "qid", "qv", full, "qid", "id", k = 10)
      .as[(Long, Long, Long, Double)].collect()
    assert(rFull.length == 3 && rFull.forall(_._4 == 1.0), rFull.toSeq)
    // an empty candidate set reports recall 0 per query, never drops
    val rNone = Similarity.annRecallReport(emb, "vec_id", "embedding",
        qs, "qid", "qv", full.filter(lit(false)), "qid", "id", k = 10)
      .as[(Long, Long, Long, Double)].collect()
    assert(rNone.length == 3 && rNone.forall(_._4 == 0.0))
    // an approximate tier lands in [0, 1] with the right row count
    val srp = VectorIndex.topKBatch(emb, "vec_id", "embedding", qs,
      "qid", "qv", k = 10, Srp(8))
    val rSrp = Similarity.annRecallReport(emb, "vec_id", "embedding",
        qs, "qid", "qv", srp, "qid", "id", k = 10)
      .as[(Long, Long, Long, Double)].collect()
    assert(rSrp.length == 3 &&
      rSrp.forall(r => r._4 >= 0.0 && r._4 <= 1.0 && r._2 == 10L))
  }

  test("streamed indexes carry metadata: bq and srp drains with " +
      "extraCols serve their filtered probes like one-shot builds") {
    val root = tmp("streamextras")
    val corpus = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding", $"label")
    corpus.write.parquet(s"$root/src")
    val qs = corpus.filter($"vec_id" < 2)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val lbl = corpus.select($"vec_id", $"label")
      .as[(Long, Int)].collect().toMap
    graft.streaming.EventStreams.vectorIndexAvailableNow(spark,
      s"$root/src", "vec_id", $"embedding", s"$root/bq",
      s"$root/ckbq", Binary, extraCols = Seq("label"))
    val bq = VectorIndex.probe(spark, s"$root/bq", qs,
        "qid", "qv", k = 5, Some($"label" === 1))
      .as[(Long, Long, Long)].collect()
    assert(bq.nonEmpty && bq.forall(r => lbl(r._2) == 1))
    graft.streaming.EventStreams.vectorIndexAvailableNow(spark,
      s"$root/src", "vec_id", $"embedding", s"$root/srp",
      s"$root/cksrp", Srp(2), extraCols = Seq("label"))
    val srp = VectorIndex.probe(spark, s"$root/srp",
        qs, "qid", "qv", k = 5, Some($"label" === 1))
      .as[(Long, Long, Double)].collect()
    assert(srp.nonEmpty && srp.forall(r => lbl(r._2) == 1))
    // the IVF and IVF-PQ tiers too (r18 review: the first pass missed
    // them) — model-first init, extras through the drain, filtered
    // probe sees only predicate-matching ids
    Similarity.ivfInit(corpus, "vec_id", "embedding", s"$root/ivf", nCells = 4,
      iters = 2)
    graft.streaming.EventStreams.ivfIndexAvailableNow(spark,
      s"$root/src", "vec_id", $"embedding", s"$root/ivf",
      s"$root/ckivf", extraCols = Seq("label"))
    val ivf = Similarity.ivfProbe(spark, s"$root/ivf", qs, "qid", "qv",
        k = 5, predicate = Some($"label" === 1))
      .as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty && ivf.forall(r => lbl(r._2) == 1))
    Similarity.ivfInit(corpus, "vec_id", "embedding", s"$root/ivfpq",
      IvfTier.Pq(m = 8, nbits = 8), nCells = 4, iters = 2)
    graft.streaming.EventStreams.ivfIndexAvailableNow(spark,
      s"$root/src", "vec_id", $"embedding", s"$root/ivfpq",
      s"$root/ckivfpq", extraCols = Seq("label"))
    val ivfpq = Similarity.ivfProbe(spark, s"$root/ivfpq", qs, "qid",
        "qv", k = 5, predicate = Some($"label" === 1))
      .as[(Long, Long, Double)].collect()
    assert(ivfpq.nonEmpty && ivfpq.forall(r => lbl(r._2) == 1))
  }

  test("index appends refuse a column-set mismatch with the existing " +
      "rows (r18 review: differing extraCols silently strand rows " +
      "from filtered probes)") {
    val corpus = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding", $"label")
    val dir = tmp("bqmismatch") + "/idx"
    VectorIndex.build(corpus.filter($"vec_id" < 100), "vec_id",
      "embedding", dir, Binary, extraCols = Seq("label"))
    // appending WITHOUT the metadata column refuses loudly
    interceptGuard("extraCols must match") {
      VectorIndex.append(corpus.filter($"vec_id" >= 100), "vec_id",
        "embedding", dir, Binary)
    }
    // and with it, proceeds
    VectorIndex.append(corpus.filter($"vec_id" >= 100), "vec_id",
      "embedding", dir, Binary, extraCols = Seq("label"))
    assert(spark.read.parquet(dir).count() == 500L)
    // a codec that disagrees with the persisted rows names the path,
    // the persisted codec and the requested one
    interceptGuard(dir, "holds Binary rows", "refusing to flip it to Int8") {
      VectorIndex.append(corpus.filter($"vec_id" >= 100), "vec_id",
        "embedding", dir, Int8, extraCols = Seq("label"))
    }
    // the batch face too, on the srp layout
    val sdir = tmp("srpmismatch") + "/idx"
    VectorIndex.appendBatch(corpus.filter($"vec_id" < 50), "vec_id",
      "embedding", sdir, 0L, Srp(2), extraCols = Seq("label"))
    interceptGuard("extraCols must match") {
      VectorIndex.appendBatch(corpus.filter($"vec_id" >= 50),
        "vec_id", "embedding", sdir, 1L, Srp(2))
    }
    // a REPLAY of the same batch with the same columns still passes
    VectorIndex.appendBatch(corpus.filter($"vec_id" < 50), "vec_id",
      "embedding", sdir, 0L, Srp(2), extraCols = Seq("label"))
  }

  test("guards name the invoked face: VectorIndex.probe and the " +
      "matryoshka batch faces reject queryIdCol=\"id\" under their " +
      "own names (r17 advice)") {
    val dir = tmp("bqface") + "/idx"
    VectorIndex.build(emb.filter($"vec_id" < 20), "vec_id",
      "embedding", dir, Binary)
    val badQs = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("id"), $"embedding".as("qv"))
    interceptGuard("VectorIndex.probe") {
      VectorIndex.probe(spark, dir, badQs, "id", "qv",
        k = 3, Some(lit(true)))
    }
    interceptGuard("matryoshkaTopKBatch") {
      Similarity.matryoshkaTopKBatch(emb, "vec_id", "embedding",
        badQs, "id", "qv", k = 3, dims = 16)
    }
    interceptGuard("matryoshkaRerankedBatch") {
      Similarity.matryoshkaRerankedBatch(emb, "vec_id", "embedding",
        badQs, "id", "qv", k = 3, pool = 5, dims = 16)
    }
    // the trained IVF probe: both tiers, every guard under its name
    val ivf = tmp("ivfface") + "/idx"
    Similarity.ivfBuild(emb.filter($"vec_id" < 40), "vec_id", "embedding", ivf,
      nCells = 2, iters = 1)
    val ivfpq = tmp("ivfpqface") + "/idx"
    Similarity.ivfBuild(emb.filter($"vec_id" < 40), "vec_id", "embedding",
      ivfpq, IvfTier.Pq(m = 8, nbits = 2), nCells = 2, iters = 1)
    val qs = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    Seq(ivf, ivfpq).foreach { path =>
      interceptGuard("ivfProbe", "queryIdCol") {
        Similarity.ivfProbe(spark, path, badQs, "id", "qv", k = 3)
      }
      interceptGuard("ivfProbe", "k must be positive") {
        Similarity.ivfProbe(spark, path, qs, "qid", "qv", k = 0)
      }
      interceptGuard("ivfProbe", "probes must be >= 1") {
        Similarity.ivfProbe(spark, path, qs, "qid", "qv", k = 3,
          probes = 0)
      }
    }
    // a root without a trained IVF index (here a model-free one)
    interceptGuard("ivfProbe", dir, "no trained IVF index") {
      Similarity.ivfProbe(spark, dir, qs, "qid", "qv", k = 3)
    }
  }

  test("int8 probe with a predicate: predicate on the " +
      "4x-compressed scan, before top-k; post-filtering a truncated " +
      "ranking demonstrably loses rows (r17 verdict #3)") {
    val dir = tmp("i8filt") + "/corpus"
    val corpus = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding", $"label")
    VectorIndex.build(corpus, "vec_id", "embedding", dir, Int8,
      extraCols = Seq("label"))
    val qs = corpus.filter($"vec_id" < 2)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val lbl = corpus.select($"vec_id", $"label")
      .as[(Long, Int)].collect().toMap
    val got = VectorIndex.probe(spark, dir,
        qs, "qid", "qv", k = 5, Some($"label" === 1))
      .as[(Long, Long, Double)].collect()
    assert(got.nonEmpty && got.forall(r => lbl(r._2) == 1))
    // equals the direct ranking post-filtered BEFORE truncation
    val deep = VectorIndex.probe(spark, dir, qs,
        "qid", "qv", k = 100000)
      .as[(Long, Long, Double)].collect()
      .filter(r => lbl(r._2) == 1)
      .groupBy(_._1).view.mapValues(_.sortBy(r => (-r._3, r._2))
        .take(5).toSet).toMap
    got.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.toSet == deep(qid), s"query $qid diverges")
    }
    // the failure mode the filtered face prevents: filtering an
    // already-truncated top-5 keeps fewer rows
    val post = VectorIndex.probe(spark, dir, qs,
        "qid", "qv", k = 5)
      .as[(Long, Long, Double)].collect().count(r => lbl(r._2) == 1)
    assert(post < got.length,
      s"post-filter kept $post; pre-filter ${got.length}")
    // extras ride appends too (the lifecycle carries the metadata)
    VectorIndex.append(
      corpus.filter($"vec_id" === 0L)
        .select(($"vec_id" + 5000000L).as("vec_id"), $"embedding",
          $"label"),
      "vec_id", "embedding", dir, Int8, extraCols = Seq("label"))
    val cols = spark.read.parquet(dir).columns.toSet
    assert(cols == Set("id", "q_vec", "label"))
  }

  test("binary probe with a predicate: predicate on the compressed scan, " +
      "before top-k") {
    val dir = tmp("bqfilt") + "/idx"
    val corpus = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding", $"label")
    VectorIndex.build(corpus, "vec_id", "embedding", dir, Binary,
      extraCols = Seq("label"))
    val qs = corpus.filter($"vec_id" < 2)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val lbl = corpus.select($"vec_id", $"label")
      .as[(Long, Int)].collect().toMap
    val got = VectorIndex.probe(spark, dir, qs, "qid",
        "qv", k = 5, Some($"label" === 1))
      .as[(Long, Long, Long)].collect()
    assert(got.nonEmpty && got.forall(r => lbl(r._2) == 1))
    // equals the direct ranking post-filtered BEFORE truncation
    val deep = VectorIndex.probe(spark, dir, qs, "qid", "qv",
        k = 100000)
      .as[(Long, Long, Long)].collect()
      .filter(r => lbl(r._2) == 1)
      .groupBy(_._1).view.mapValues(_.sortBy(r => (r._3, r._2))
        .take(5).toSet).toMap
    got.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.toSet == deep(qid), s"query $qid diverges")
    }
  }
}
