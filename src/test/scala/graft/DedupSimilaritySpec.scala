package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, IvfTier, Similarity, VectorCodec, VectorIndex}

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank yesterday"), // near-dup
    (4L, "completely different text about spark query engines and distributed shuffles here"),
    (5L, "another unrelated document mentioning parquet files and columnar storage formats"))
    .toDF("id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val out = Dedup.exact(corpus, "id", "text")
      .as[(String, Long, Long)].collect()
    assert(out.length == 4)
    val dupGroup = out.find(_._3 == 2L).get
    assert(dupGroup._2 == 1L) // keep_id = min
  }

  test("native minhash/simhash expressions match the declarative spec") {
    val docs = Tables.documents(spark, sfDir).limit(100)
    val cmp = docs.select(
      Dedup.minhashSignature($"text", 32, 3).as("native_mh"),
      Dedup.minhashSignatureDeclarative($"text", 32, 3).as("decl_mh"),
      Dedup.simhash($"text").as("native_sh"),
      Dedup.simhashDeclarative($"text").as("decl_sh"),
      graft.plans.TextExpressions.word_shingles($"text", 3).as("native_wsh"),
      graft.functions.TextFunctions.shingles($"text", 3).as("decl_wsh"),
      graft.operators.TextAnalysis.charBigrams($"text").as("native_bg"),
      graft.operators.TextAnalysis.charBigramsDeclarative($"text").as("decl_bg"))
    assert(cmp.filter($"native_mh" =!= $"decl_mh" ||
      $"native_sh" =!= $"decl_sh" || $"native_wsh" =!= $"decl_wsh" ||
      $"native_bg" =!= $"decl_bg").isEmpty)
  }

  test("native id_pairs matches the declarative flatten/transform nest") {
    // arrays of every small size incl. null, empty, singleton
    val arrays = Seq(
      Seq.empty[Long], Seq(7L), Seq(1L, 2L), Seq(3L, 5L, 9L),
      (1L to 10L).toSeq).map(Option(_)) :+ Option.empty[Seq[Long]]
    val df = arrays.toDF("ids")
    val decl = flatten(transform($"ids", (a, i) =>
      transform(slice($"ids", i + 2, lit(1000)), b =>
        struct(a.as("id_a"), b.as("id_b")))))
    val cmp = df.select(
      graft.plans.TextExpressions.id_pairs($"ids").as("native"),
      decl.as("decl"))
    // null-safe compare: null input -> both null; sizes + elements equal
    assert(cmp.filter(!($"native" <=> $"decl")).isEmpty)
    val ten = cmp.filter(size($"native") === 45).count()
    assert(ten == 1) // 10 choose 2
  }

  test("native srp_signature matches the declarative spec") {
    val emb = Tables.embeddings(spark, sfDir).limit(100)
    val cmp = emb.select(
      Similarity.srpSignature($"embedding", 8).as("native"),
      Similarity.srpSignatureDeclarative($"embedding", 8).as("decl"))
    assert(cmp.filter($"native" =!= $"decl").isEmpty)
    // and on the tiny in-memory vectors (covers a second dimension)
    val cmp2 = vecs.select(
      Similarity.srpSignature($"embedding", 4).as("native"),
      Similarity.srpSignatureDeclarative($"embedding", 4).as("decl"))
    assert(cmp2.filter($"native" =!= $"decl").isEmpty)
  }

  test("minhash signature: identical texts identical, disjoint differ") {
    val sigs = corpus
      .select($"id", Dedup.minhashSignature($"text", 32, 3).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
    assert(sigs(1L).length == 32)
  }

  test("minhashPairs surfaces exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashPairs(corpus, "id", "text")
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) == 1.0)   // exact dup: all positions agree
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near-dup found
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((4L, 5L)))
  }

  test("incremental minhash: delta probes the persisted index, pruned read") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mhidx-spec")
      .toString
    try {
      Dedup.buildMinhashIndex(corpus, "id", "text", dir)
      val delta = Seq(
        (101L, "the quick brown fox jumps over the lazy dog near the river bank today"), // dup of 1/2
        (102L, "entirely novel sentences about streaming watermarks and stateful joins"))
        .toDF("id", "text")
      val pairs = Dedup.incrementalMinhashPairs(spark, dir, delta, "id", "text")
      val got = pairs.as[(Long, Long, Double)].collect()
      // the duplicate matches BOTH existing copies at est 1.0 ...
      assert(got.filter(_._3 == 1.0).map(p => (p._1, p._2)).toSet
        .intersect(Set((1L, 101L), (2L, 101L))) == Set((1L, 101L), (2L, 101L)))
      // ... and the novel doc matches nothing
      assert(!got.exists(_._2 == 102L))
      // the index read is pruned to the delta's (band, bmod) leaves and
      // the delta side rides a broadcast — corpus side never shuffles
      val plan = pairs.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
      // direct-path probe: the scan's file index holds ONLY the
      // delta's leaf directories (<= 2 sig-bearing docs x 8 bands),
      // never the full partition tree — probe listing cost is
      // independent of the corpus layout
      val nPaths = "InMemoryFileIndex\\((\\d+) paths\\)".r
        .findFirstMatchIn(plan).map(_.group(1).toInt)
      assert(nPaths.exists(_ <= 16), s"paths=$nPaths\n" + plan.take(1200))
      assert(plan.contains("band="), plan.take(1200))
      // same result as running the self-join operator over old ∪ new,
      // restricted to (corpus, delta) pairs
      val full = Dedup.minhashPairs(corpus.unionByName(delta), "id", "text")
        .filter($"id_a" < 100L && $"id_b" >= 100L)
        .as[(Long, Long, Double)].collect().toSet
      assert(got.toSet == full)
    } finally {
      val del: java.io.File => Unit = { f =>
        def go(x: java.io.File): Unit = {
          Option(x.listFiles()).foreach(_.foreach(go)); x.delete(); ()
        }
        go(f)
      }
      del(new java.io.File(dir))
    }
  }

  test("incremental minhash: intra-delta dups caught, broadcast gated") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mhidx-intra")
      .toString
    try {
      Dedup.buildMinhashIndex(corpus, "id", "text", dir)
      val dupText =
        "the quick brown fox jumps over the lazy dog near the river bank today"
      val delta = Seq(
        (101L, dupText), // dup of corpus 1/2 AND of delta 102
        (102L, dupText),
        (103L, "entirely novel sentences about streaming watermarks and stateful joins"))
        .toDF("id", "text")
      val pairs = Dedup.incrementalMinhashPairs(spark, dir, delta, "id", "text")
      val got = pairs.as[(Long, Long, Double)].collect()
      val exact = got.filter(_._3 == 1.0).map(p => (p._1, p._2)).toSet
      // probe leg: both delta copies match both corpus copies ...
      assert(Set((1L, 101L), (1L, 102L), (2L, 101L), (2L, 102L))
        .subsetOf(exact), exact.toString)
      // ... and the intra-delta leg reports the duplicate INSIDE the
      // batch in the same call
      assert(exact.contains((101L, 102L)), exact.toString)
      assert(!got.exists(p => p._1 == 103L || p._2 == 103L))
      // a small delta rides the broadcast hint on the probe join
      assert(pairs.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      // above the size gate the hint is OMITTED (strategy left to
      // AQE/statistics): no join in the logical plan carries one
      val unhinted = Dedup.incrementalMinhashPairs(spark, dir, delta,
        "id", "text", maxBroadcastDeltaRows = 0L)
      val hints = unhinted.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.hint
      }
      assert(hints.nonEmpty &&
        hints.forall(h => h.leftHint.isEmpty && h.rightHint.isEmpty))
      // and the result is identical either way
      assert(unhinted.as[(Long, Long, Double)].collect().toSet == got.toSet)
    } finally {
      def go(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(go)); x.delete(); ()
      }
      go(new java.io.File(dir))
    }
  }

  test("incremental exact dedup: corpus wins, intra-batch chains, nulls") {
    val dir = java.nio.file.Files.createTempDirectory("graft-xidx-spec")
      .toString
    try {
      Dedup.buildExactIndex(corpus, "id", "text", dir)
      val dupText =
        "the quick brown fox jumps over the lazy dog near the river bank today"
      val delta = Seq(
        (101L, Some(dupText)),      // corpus dup -> min corpus id 1
        (102L, Some(dupText)),      // also -> 1 (corpus wins over 101)
        (103L, Some("novel sentences about watermark state and joins")),
        (104L, Some("novel sentences about watermark state and joins")),
        (105L, Option.empty[String])) // null text: never a duplicate
        .toDF("id", "text")
      val out = Dedup.incrementalExactDedup(spark, dir, delta, "id", "text")
      val m = out.select($"id", $"dup_of")
        .as[(Long, Option[Long])].collect().toMap
      assert(m(101L).contains(1L), m.toString)
      assert(m(102L).contains(1L), m.toString) // NOT 101: corpus wins
      assert(m(103L).isEmpty, m.toString)      // genuinely new
      assert(m(104L).contains(103L), m.toString) // intra-batch dup
      assert(m(105L).isEmpty, m.toString)
      // plan shape: index read pruned to hmod= leaves, small delta
      // rides the broadcast hint
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("hmod="), plan.take(1200))
      assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
      // above the size gate no join carries a hint (left to AQE) and
      // the answer is unchanged
      val unhinted = Dedup.incrementalExactDedup(spark, dir, delta,
        "id", "text", maxBroadcastDeltaRows = 0L)
      val hints = unhinted.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.hint
      }
      assert(hints.forall(h => h.leftHint.isEmpty && h.rightHint.isEmpty))
      assert(unhinted.select($"id", $"dup_of")
        .as[(Long, Option[Long])].collect().toMap == m)
      // all-novel delta whose prefix leaves don't exist in the index:
      // the no-leaf branch annotates everything null without reading
      val novel = Seq((201L, Some("completely fresh words only")),
        (202L, Option.empty[String])).toDF("id", "text")
      // (hash prefixes of 5 corpus texts cover <= 5 of 256 leaves; if
      // this novel text happens to collide on a prefix the branch
      // still returns null dup_of via the semi-join miss)
      val nm = Dedup.incrementalExactDedup(spark, dir, novel, "id", "text")
        .select($"id", $"dup_of").as[(Long, Option[Long])].collect().toMap
      assert(nm == Map(201L -> None, 202L -> None), nm.toString)
    } finally {
      def go(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(go)); x.delete(); ()
      }
      go(new java.io.File(dir))
    }
  }

  test("int8 quantization: error bounded, identical vectors exact 1.0") {
    val emb = Tables.embeddings(spark, sfDir).limit(80)
    val qz = Similarity.withInt8Quantized(emb, "embedding")
    // quantized values occupy the full int8 range (scale is right)
    val rng = qz.select(
      max(array_max(transform($"q_vec", x => abs(x.cast("int"))))).as("mx"))
      .as[Int].collect().head
    assert(rng == 127)
    val a = qz.select($"vec_id".as("id_a"), $"embedding".as("v_a"),
      $"q_vec".as("q_a"))
    val b = qz.select($"vec_id".as("id_b"), $"embedding".as("v_b"),
      $"q_vec".as("q_b"))
    val errs = a.join(b, $"id_a" < $"id_b")
      .select(abs(Similarity.quantizedCosine($"q_a", $"q_b") -
        Similarity.cosine($"v_a", $"v_b")).as("err"))
      .agg(max($"err")).as[Double].collect().head
    assert(errs <= 0.02, s"max quantized-cosine error $errs")
    // identical input -> identical quantized vector -> cosine 1 up to
    // float rounding (dot/(sqrt(s)*sqrt(s)) is NOT guaranteed bit-exact
    // — compare rounded, per the quantizedCosine contract)
    val self = qz.limit(1).select($"q_vec".as("q_a"), $"q_vec".as("q_b"))
      .select(Similarity.quantizedCosine($"q_a", $"q_b"))
      .as[Double].collect().head
    assert(math.abs(self - 1.0d) < 1e-6, s"self-cosine $self")
  }

  test("semanticDedup: exact copies collapse to min id, rest untouched") {
    val emb = Tables.embeddings(spark, sfDir)
    val planted = emb.select($"vec_id", $"embedding").unionByName(
      emb.filter($"vec_id" < 5)
        .select(($"vec_id" + 1000000).as("vec_id"), $"embedding"))
    val out = Similarity.semanticDedup(planted, "vec_id", "embedding",
      k = 4, iters = 2, minCos = 0.99)
      .select($"vec_id").as[Long].collect().toSet
    val originals = emb.select($"vec_id").as[Long].collect().toSet
    assert(out == originals) // copies removed, every original kept
  }

  test("semanticDedup derived k: copies collapse with corpus-scaled cells") {
    // k = 0 exercises the SemDeDup corpus-proportional path:
    // kEff = ceil(n / targetCellSize), derived from one corpus count
    val emb = Tables.embeddings(spark, sfDir)
    val planted = emb.select($"vec_id", $"embedding").unionByName(
      emb.filter($"vec_id" < 5)
        .select(($"vec_id" + 1000000).as("vec_id"), $"embedding"))
    val out = Similarity.semanticDedup(planted, "vec_id", "embedding",
      k = 0, iters = 2, minCos = 0.99, targetCellSize = 64)
      .select($"vec_id").as[Long].collect().toSet
    val originals = emb.select($"vec_id").as[Long].collect().toSet
    assert(out == originals) // identical vectors co-cluster at any k
  }

  test("semanticDedup cell-cap observation counts planted overflow") {
    import org.apache.spark.sql.Observation
    // k = 1 puts all rows in ONE cell; 30 originals + 10 planted
    // copies of vec 0 (ids 1M+) against maxBucketSize = 30: the
    // id-ascending cap keeps exactly the originals and evicts exactly
    // the 10 planted copies — which are then EXEMPT from dedup and
    // must SURVIVE in the output (the documented cap-loss semantics),
    // with the observation reporting the overflow loudly.
    val emb = Tables.embeddings(spark, sfDir)
    val originals = emb.filter($"vec_id" < 30)
      .select($"vec_id", $"embedding")
    val planted = originals.unionByName(
      emb.filter($"vec_id" === 0)
        .crossJoin(spark.range(10).select(($"id" + 1000000).as("nid")))
        .select($"nid".as("vec_id"), $"embedding"))
    val obs = Observation("semdedup_cap")
    val out = Similarity.semanticDedup(planted, "vec_id", "embedding",
      k = 1, iters = 1, minCos = 0.99, maxBucketSize = 30,
      capObservation = Some(obs))
      .select($"vec_id").as[Long].collect().toSet
    assert(obs.get("dropped_candidates") == 10L)
    assert(obs.get("largest_bucket") == 40L)
    val allIds = planted.select($"vec_id").as[Long].collect().toSet
    assert(out == allIds) // evicted copies exempt -> nothing removed
  }

  test("int8 at-rest corpus: prequantized scan equals on-the-fly topK") {
    val dir = java.nio.file.Files.createTempDirectory("graft-int8-spec")
      .toString + "/corpus"
    try {
      val emb = Tables.embeddings(spark, sfDir)
      VectorIndex.build(emb, "vec_id", "embedding", dir, VectorCodec.Int8)
      val atRest = Similarity.int8TopKPrequantized(spark, dir, 3L, 15)
        .as[(Long, Double)].collect().toSeq
      val onTheFly = Similarity.int8TopK(emb, "vec_id", "embedding", 3L, 15)
        .as[(Long, Double)].collect().toSeq
      assert(atRest == onTheFly)
    } finally {
      def go(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(go)); x.delete(); ()
      }
      go(new java.io.File(dir).getParentFile)
    }
  }

  test("clusterPairs: chains collapse to one cluster with min-id label") {
    // 1-2, 2-3 chain plus isolated pair 7-8: two clusters
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val out = Dedup.clusterPairs(pairs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("simhash: identical equal; near-dup within few bits; unrelated far") {
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val h = corpus.select($"id", Dedup.simhash($"text").as("h"))
      .as[(Long, Long)].collect().toMap
    assert(h(1L) == h(2L))
    assert(hamming(h(1L), h(3L)) <= 12)
    assert(hamming(h(1L), h(4L)) > 12)
  }

  test("exactJaccardLshBlocked matches rare-shingle Jaccard on clean text") {
    val viaLsh = Dedup.exactJaccardLshBlocked(corpus, "id", "text")
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    val viaBlocking = Dedup.ngramJaccardPairs(corpus, "id", "text",
      shingleN = 3, minJaccard = 0.5, maxDocFreq = 10)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    // every blocked pair is found by LSH with the same exact jaccard
    viaBlocking.foreach { case (k, v) => assert(viaLsh.get(k).contains(v)) }
    assert(viaLsh((1L, 2L)) == 1.0)
  }

  test("exactJaccardLshBlocked keeps recall on low-entropy corpora") {
    // 40 copies of the same text: every shingle has doc-freq 40, so
    // rare-shingle blocking (maxDocFreq=20) finds nothing; LSH blocking
    // still pairs them, with exact jaccard 1.0
    val lowEntropy = (1L to 40L)
      .map(i => (i, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("id", "text")
    assert(Dedup.ngramJaccardPairs(lowEntropy, "id", "text",
      shingleN = 3, minJaccard = 0.5, maxDocFreq = 20).isEmpty)
    val viaLsh = Dedup.exactJaccardLshBlocked(lowEntropy, "id", "text")
    assert(viaLsh.count() > 0)
    assert(viaLsh.filter($"jaccard" =!= 1.0).isEmpty)
  }

  test("ngramJaccardPairs: dup pair scores 1.0, threshold filters rest") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "id", "text",
      shingleN = 3, minJaccard = 0.5, maxDocFreq = 10)
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(!pairs.contains((1L, 4L)))
  }

  test("jaccard entry points release the shingle cache deterministically") {
    // ADVICE r5: Dataset.persist registers in the session CacheManager,
    // which pins a corpus-sized shingle cache per call until an explicit
    // unpersist — GC never releases it. shingleRelation shares via
    // RDD-level localCheckpoint instead (ContextCleaner-tracked), so
    // the CacheManager must stay empty across every entry point.
    Dedup.ngramJaccardPairs(corpus, "id", "text",
      shingleN = 3, minJaccard = 0.5, maxDocFreq = 10).count()
    Dedup.exactJaccardLshBlocked(corpus, "id", "text").count()
    Dedup.nearDedup(corpus, "id", "text", minJaccard = 0.8,
      maxDocFreq = 10).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "shingle relations must never register CacheManager entries")
  }

  test("hotDocFreq tiers are an equivalence law under planted skew") {
    // every doc carries the same stop-shingle ("common filler words in")
    // plus a distinct tail; docs 100/101 are near-dups of each other.
    // With hotDocFreq pulled below the planted key's df the key is
    // classified HOT (broadcast path); with the default it is MID
    // (bounded equi-join path); both must yield identical pairs, and
    // the rare-candidacy contract must still find the planted dup.
    val planted = (1L to 60L).map { i =>
      val tail = if (i >= 59L) "shared rare suffix trigram block alpha"
      else s"unique tail $i words ${i * 7} ${i * 13} ${i * 29}"
      (i, s"common filler words in every document here $tail")
    }.toDF("id", "text")
    def run(hot: Int) =
      Dedup.ngramJaccardPairs(planted, "id", "text", shingleN = 3,
        minJaccard = 0.3, maxDocFreq = 20, hotDocFreq = hot)
        .as[(Long, Long, Double)].collect().toSet
    val viaHot = run(25) // planted key df=60 > 25 -> HOT broadcast path
    val viaMid = run(1 << 16) // df=60 <= 2^16 -> MID equi-join path
    assert(viaHot == viaMid, "hot vs mid classification changed results")
    assert(viaHot.exists(p => p._1 == 59L && p._2 == 60L),
      "planted near-dup pair must survive the hot-key classification")
    // containment twin obeys the same law
    def runC(hot: Int) =
      Dedup.ngramContainmentPairs(planted, "id", "text", shingleN = 3,
        minContainment = 0.3, maxDocFreq = 20, hotDocFreq = hot)
        .as[(Long, Long, Double)].collect().toSet
    assert(runC(25) == runC(1 << 16))
    // misconfiguration (hotDocFreq < maxDocFreq) fails loudly
    intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(planted, "id", "text", maxDocFreq = 20,
        hotDocFreq = 10).count()
    }
  }

  test("candidate machinery plans skew-safe: no Window, hot via broadcast") {
    // the r14 plan audit's 100x exposure was a count-over-window
    // partitioned by shingle (one window group per shingle = one task
    // per stop-shingle). Pin the structural fix: the candidate plan
    // contains NO Window node, classifies hot keys through a broadcast
    // join, and reuses the df aggregation's exchange across the hot/mid
    // branches instead of re-aggregating the corpus per reference.
    val docs = (1L to 50L)
      .map(i => (i, s"every doc shares this exact sentence prefix " +
        s"then diverges ${i} ${i * 3} ${i * 11}"))
      .toDF("id", "text")
    val exploded = docs.select($"id",
      explode(graft.plans.TextExpressions.word_shingles($"text", 3))
        .as("s_raw"))
      .select($"id", xxhash64($"s_raw").as("s"))
    val (cand, stats) = Dedup.rareShingleCandidates(exploded,
      maxDocFreq = 20, hotDocFreq = 30)
    val joined = cand.join(stats.select($"id".as("id_a")), Seq("id_a"))
    joined.collect() // finalize AQE so the executed plan is the real one
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window crept back into:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      "hot-key classification must be a broadcast join")
  }

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(-1.0f, 0.0f, 0.0f)),
    (4L, Array(0.8f, 0.0f, 0.2f)))
    .toDF("vec_id", "embedding")

  test("native nearest_centroid matches the declarative literal argmax") {
    val emb = Tables.embeddings(spark, sfDir).limit(200)
    val vd = $"embedding".cast("array<double>")
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      k = 7, iters = 2)
    val cmp = emb.select(
      graft.plans.TextExpressions.nearest_centroid(vd, cents).as("native"),
      Similarity.nearestCentroidDeclarative(vd, cents).as("decl"))
    assert(cmp.filter($"native" =!= $"decl").isEmpty)
    // tie-break pins to the FIRST max: duplicate the winning centroid
    // and both forms must still agree (first occurrence wins)
    val tied = cents.head +: cents
    val cmpT = emb.select(
      graft.plans.TextExpressions.nearest_centroid(vd, tied).as("native"),
      Similarity.nearestCentroidDeclarative(vd, tied).as("decl"))
    assert(cmpT.filter($"native" =!= $"decl").isEmpty)
    // large k — where the declarative k x dim literal tree stops
    // codegen-compiling — the native form stays inside whole-stage
    // codegen and still agrees with the interpreted spec
    val rnd = new scala.util.Random(7)
    val dim = cents.head.length
    val big = Seq.fill(600)(Seq.fill(dim)(rnd.nextGaussian()))
    val nat = emb.select($"vec_id",
      graft.plans.TextExpressions.nearest_centroid(vd, big).as("cell"))
    // codegen'd nodes print starred ("*(n) Project"); the declarative
    // literal tree at this k would not compile into a stage at all
    val natPlan = nat.queryExecution.executedPlan.toString
    assert(natPlan.contains("*("), natPlan.take(400))
    val decl = emb.select($"vec_id",
      Similarity.nearestCentroidDeclarative(vd, big).as("cell"))
    assert(nat.exceptAll(decl).isEmpty && decl.exceptAll(nat).isEmpty)
  }

  test("cosine: identity 1, orthogonal 0, opposite -1") {
    val c = vecs.filter($"vec_id" === 0L)
      .select(
        Similarity.cosine($"embedding", $"embedding").as("self"),
        Similarity.norm($"embedding").as("n"))
      .collect()(0)
    assert(math.abs(c.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(c.getDouble(1) - 1.0) < 1e-12)
  }

  test("native CosineSim == declarative cosine, bit for bit, all edges") {
    import org.apache.spark.sql.functions._
    // float corpus vectors (the testdata type) + hand edge rows
    val emb = Tables.embeddings(spark, sfDir).limit(200)
      .select($"vec_id", $"embedding")
    val q = emb.filter($"vec_id" === 0L)
      .select($"embedding".as("qv"))
    val both = emb.crossJoin(broadcast(q))
      .select(
        Similarity.cosine($"embedding", $"qv").as("native"),
        Similarity.cosineDeclarative($"embedding", $"qv").as("decl"))
      .collect()
    both.foreach { r =>
      // bit equality, not epsilon: same IEEE ops in the same order
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.toString)
    }
    // edge semantics on double arrays: null array -> 0.0 (both), null
    // element -> 0.0 (both), zero vector -> 0.0 (both), length
    // mismatch with nonzero norms -> NULL (both)
    val edges = Seq(
      (1L, Some(Seq[java.lang.Double](1.0, 2.0)),
        Some(Seq[java.lang.Double](3.0, 4.0))),
      (2L, None, Some(Seq[java.lang.Double](1.0, 1.0))),
      (3L, Some(Seq[java.lang.Double](1.0, null)),
        Some(Seq[java.lang.Double](1.0, 1.0))),
      (4L, Some(Seq[java.lang.Double](0.0, 0.0)),
        Some(Seq[java.lang.Double](1.0, 1.0))),
      (5L, Some(Seq[java.lang.Double](1.0, 2.0, 3.0)),
        Some(Seq[java.lang.Double](1.0, 2.0)))
    ).toDF("id", "a", "b")
    val got = edges.select($"id",
        Similarity.cosine($"a", $"b").as("native"),
        Similarity.cosineDeclarative($"a", $"b").as("decl"))
      .collect()
      .map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2))))).toMap
    got.foreach { case (id, (n, d)) => assert(n == d, s"row $id: $n vs $d") }
    assert(got(2L)._1.contains(0.0) && got(3L)._1.contains(0.0) &&
      got(4L)._1.contains(0.0))
    assert(got(5L)._1.isEmpty, "length mismatch must be NULL")
    // interpreted path (no codegen) agrees too
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = edges.select($"id",
          Similarity.cosine($"a", $"b").as("native"))
        .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
      got.foreach { case (id, (n, _)) => assert(interp(id) == n) }
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("cosineTopK ranks by similarity with id tiebreak") {
    val top = Similarity.cosineTopK(vecs, "vec_id", "embedding", 0L, 3)
      .as[(Long, Double)].collect()
    assert(top.map(_._1).toSeq == Seq(1L, 4L, 2L))
    assert(top(0)._2 > top(1)._2 && top(1)._2 > top(2)._2)
  }

  test("cosineTopKBatch == per-query cosineTopK; broadcast plan") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val batch = Similarity.cosineTopKBatch(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 5)
    val got = batch.collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSet)
      .toMap
    (0L until 3L).foreach { q =>
      val single = Similarity.cosineTopK(emb, "vec_id", "embedding",
          q, k = 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got(q) == single, s"query $q: ${got(q)} vs $single")
    }
    // the query table rides a broadcast; per-query cap plans as a
    // group limit, not a full sort
    val plan = batch.queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), plan.take(600))
    assert(plan.contains("WindowGroupLimit"), plan.take(600))
    intercept[IllegalArgumentException] {
      Similarity.cosineTopKBatch(emb, "vec_id", "embedding",
        queries, "qid", "qv", k = 0)
    }
  }

  test("IVF index: partition-pruned probe equals the in-memory SRP probe") {
    val emb = Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString + "/idx"
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir, nBits = 4)
    // cell directories exist on disk
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("cell=")))
    val qVec = emb.filter($"vec_id" === 0L)
      .select($"embedding").as[Array[Float]].collect()(0)
    // k+1 then drop the query row itself (it lives in its own cell)
    val viaIndex = Similarity.ivfTopK(spark, dir, qVec, k = 11, nBits = 4)
      .filter($"id" =!= 0L).as[(Long, Double)].collect().toSeq.take(10)
    val viaMemory = Similarity.srpTopK(emb, "vec_id", "embedding", 0L,
        k = 11, nBits = 4) // k+1: srpTopK excludes the query row itself
      .as[(Long, Double)].collect().toSeq.take(10)
    assert(viaIndex.map(_._1) == viaMemory.map(_._1))
    // the probe's scan is partition-pruned to the query's cell
    val probe = Similarity.ivfTopK(spark, dir, qVec, k = 10, nBits = 4)
    val scan = probe.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cell"),
      scan.take(500))
  }

  test("ivfCentroidTopKBatch == per-query ivfCentroidTopK; pruned scan") {
    val emb = Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("ivfb").toString +
      "/idx"
    Similarity.ivfBuild(emb, "vec_id", "embedding", dir, nCells = 8, iters = 3)
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    // a query's rows in the 5-query batch equal its rows from a 1-row
    // probe (the batch prunes to the union of every query's cells)
    def byQuery(df: org.apache.spark.sql.DataFrame) = df.collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSeq
        .sortBy { case (id, c) => (-c, id) }).toMap
    Seq(1, 2).foreach { probes =>
      val batch = Similarity.ivfProbe(spark, dir, queries,
        "qid", "qv", k = 10, probes = probes)
      val got = byQuery(batch)
      (0L until 5L).foreach { q =>
        val single = byQuery(Similarity.ivfProbe(spark, dir,
          queries.filter($"qid" === q), "qid", "qv", k = 10,
          probes = probes))(q)
        assert(got(q) == single,
          s"probes=$probes query $q: ${got(q)} vs $single")
      }
      // the index scan is partition-pruned to the probed cells and the
      // query relation rides a broadcast
      val plan = batch.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("cell"),
        plan.take(600))
      assert(plan.contains("Broadcast"), plan.take(600))
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfProbe(spark, dir, queries, "qid", "qv", k = 0)
    }
  }

  // Jobs the replaced batch faces (ivfCentroidTopKBatch, ivfPqTopKBatch
  // and their filtered forms) launched for the same calls on the same
  // data, each call collected: (centroid IVF, IVF-PQ) unfiltered at
  // probes = 2, then both filtered on the rare label 1 at probes = 1,
  // for a 1-row and a 5-row query frame.
  private val batchFaceJobs = Map(1 -> Seq(10, 12, 56, 62),
    5 -> Seq(10, 12, 57, 63))

  test("ivfProbe launches no more jobs than the batch faces it replaced") {
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding", $"label")
    val root = java.nio.file.Files.createTempDirectory("ivfjobs").toString
    Similarity.ivfBuild(emb, "vec_id", "embedding", s"$root/ivf", nCells = 8,
      iters = 3, extraCols = Seq("label"))
    Similarity.ivfBuild(emb, "vec_id", "embedding", s"$root/pq",
      IvfTier.Pq(m = 8, nbits = 8), nCells = 8, iters = 3,
      extraCols = Seq("label"))
    batchFaceJobs.foreach { case (n, prior) =>
      val qs = emb.filter($"vec_id" < n)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      def probe(tier: String, probes: Int,
                pred: Option[org.apache.spark.sql.Column]) =
        Similarity.ivfProbe(spark, s"$root/$tier", qs, "qid", "qv",
          k = 10, probes, pred).collect()
      probe("ivf", 2, None) // first loads stay outside the measured bodies
      val got = Seq(
        jobsLaunchedBy(probe("ivf", 2, None)),
        jobsLaunchedBy(probe("pq", 2, None)),
        jobsLaunchedBy(probe("ivf", 1, Some($"label" === 1))),
        jobsLaunchedBy(probe("pq", 1, Some($"label" === 1))))
      info(s"$n-row frame: $got jobs (batch faces: $prior)")
      assert(got.zip(prior).forall { case (g, p) => g <= p },
        s"$n-row frame: $got jobs, the batch faces launched $prior")
    }
  }

  test("ivfDelete: immediate exclusion; retrain compacts tombstones") {
    val emb = Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("ivfdel")
      .toString + "/idx"
    Similarity.ivfBuild(emb, "vec_id", "embedding", dir, nCells = 8, iters = 3)
    // append an exact copy of vector 0, then tombstone it
    Similarity.ivfAppend(
      emb.filter($"vec_id" === 0L)
        .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding"),
      "vec_id", "embedding", dir)
    val qVec = emb.filter($"vec_id" === 0L)
      .select($"embedding").collect()(0).getSeq[Float](0).toArray
    def topIds(k: Int) = ivfTop(dir, qVec, k, probes = 8).map(_._1).toSet
    assert(topIds(3).contains(1000000L)) // present before the delete
    Similarity.ivfDelete(dir,
      Seq(1000000L).toDF("vec_id"), "vec_id")
    // immediate exclusion, single-query and batch probes alike
    assert(!topIds(25).contains(1000000L))
    val batch = Similarity.ivfProbe(spark, dir,
        emb.filter($"vec_id" < 2)
          .select($"vec_id".as("qid"), $"embedding".as("qv")),
        "qid", "qv", k = 25, probes = 8)
      .collect().map(_.getLong(1)).toSet
    assert(!batch.contains(1000000L))
    // the retrain compacts: tombstones drop from the rewrite, the
    // table clears, and the result equals a one-shot build over the
    // SURVIVORS (same rows -> same hash sample -> same model)
    Similarity.ivfRetrain(spark, dir, nCells = 8, iters = 3)
    assert(!new java.io.File(s"$dir.tombstones").exists())
    assert(!topIds(25).contains(1000000L))
    val fresh = java.nio.file.Files.createTempDirectory("ivfdel2")
      .toString + "/idx"
    Similarity.ivfBuild(emb.select($"vec_id".as("id"), $"embedding".as("v")),
      "id", "v", fresh, nCells = 8, iters = 3)
    val a = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    val b = spark.read.parquet(fresh)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    assert(a == b, s"retrained layout != fresh-over-survivors layout")
  }

  test("centroid IVF: all-cells probe equals brute force; pruned probe") {
    val emb = Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("ivfc").toString + "/idx"
    val cents = Similarity.ivfBuild(emb, "vec_id", "embedding", dir,
      nCells = 8, iters = 3)
    assert(cents.size == 8)
    // centroids are unit-norm (spherical k-means)
    cents.foreach { c =>
      assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9) }
    val qVec = emb.filter($"vec_id" === 0L)
      .select($"embedding").as[Array[Float]].collect()(0)
    // probing EVERY cell must equal exact brute-force top-k
    val all = ivfTop(dir, qVec, k = 11, probes = 8)
      .filter(_._1 != 0L).take(10)
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding", 0L, 10)
      .as[(Long, Double)].collect().toSeq
    assert(all == brute)
    // a planted exact duplicate shares the query's cell: single-probe
    // top-1 must find it at cos 1.0
    val planted = emb.select($"vec_id", $"embedding").unionByName(
      emb.filter($"vec_id" === 0L).select(($"vec_id" + 1000000).as("vec_id"),
        $"embedding"))
    val dir2 = java.nio.file.Files.createTempDirectory("ivfc2").toString + "/idx"
    Similarity.ivfBuild(planted, "vec_id", "embedding", dir2, nCells = 8,
      iters = 3)
    val top1 = ivfTop(dir2, qVec, k = 2, probes = 1)
      .filter(_._1 != 0L).head
    assert(top1 == ((1000000L, 1.0)))
    // the probe's scan is partition-pruned to the probed cells
    val probe = Similarity.ivfProbe(spark, dir,
      emb.filter($"vec_id" === 0L)
        .select($"vec_id".as("qid"), $"embedding".as("qv")),
      "qid", "qv", k = 10, probes = 2)
    val scan = probe.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("PartitionFilters"))
    assert(scan.exists(_.contains("cell")), scan.toString.take(500))
  }

  test("kmeansCentroids: bounded fit sample — unit-norm model, seeds invariant") {
    val emb = Tables.embeddings(spark, sfDir)
    val quarter = math.max(8, (emb.count() / 4).toInt)
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      k = 8, iters = 3, maxFitRows = quarter)
    assert(cents.size == 8)
    cents.foreach { c =>
      assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9) }
    // the k lowest-hash ids are in every sample by construction, so the
    // SEEDS (iters = 0 model) are identical with and without the cap
    val seedsFull = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      k = 8, iters = 0, maxFitRows = 0)
    val seedsSampled = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      k = 8, iters = 0, maxFitRows = quarter)
    assert(seedsFull == seedsSampled)
  }

  test("centroid IVF with sampled fit: planted duplicate still rank-1") {
    val emb = Tables.embeddings(spark, sfDir)
    val planted = emb.select($"vec_id", $"embedding").unionByName(
      emb.filter($"vec_id" === 0L).select(($"vec_id" + 1000000).as("vec_id"),
        $"embedding"))
    val dir = java.nio.file.Files.createTempDirectory("ivfcs").toString + "/idx"
    // fit on ~a quarter of the corpus; assignment still labels everything
    Similarity.ivfBuild(planted, "vec_id", "embedding", dir, nCells = 8,
      iters = 3, maxFitRows = Some(math.max(8, (planted.count() / 4).toInt)))
    val qVec = emb.filter($"vec_id" === 0L)
      .select($"embedding").as[Array[Float]].collect()(0)
    // identical vectors land in the same centroid cell regardless of
    // which rows trained the model, so single-probe top-1 is exact
    val top1 = ivfTop(dir, qVec, k = 2, probes = 1)
      .filter(_._1 != 0L).head
    assert(top1 == ((1000000L, 1.0)))
  }

  test("reliable-checkpoint mode: identical results through df.checkpoint") {
    val baseline = Dedup.ngramJaccardPairs(corpus, "id", "text",
      shingleN = 3, minJaccard = 0.5, maxDocFreq = 10)
      .as[(Long, Long, Double)].collect().toSet
    val ckptDir = java.nio.file.Files.createTempDirectory("reliable-ckpt")
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try {
      val viaReliable = Dedup.ngramJaccardPairs(corpus, "id", "text",
        shingleN = 3, minJaccard = 0.5, maxDocFreq = 10)
        .as[(Long, Long, Double)].collect().toSet
      assert(viaReliable == baseline)
      val clusters = Dedup.clusterPairs(
        Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
      // the mode really routed through reliable checkpoints (recomputable
      // lineage on block loss): checkpoint files exist under the dir
      def anyFile(f: java.io.File): Boolean = {
        val kids = Option(f.listFiles()).getOrElse(Array.empty)
        kids.exists(k => k.isFile || anyFile(k))
      }
      assert(anyFile(ckptDir.toFile),
        "reliable mode must write RDD checkpoint files")
    } finally spark.conf.set("spark.graft.reliableCheckpoint", "false")
  }

  test("srpTopK finds same-cell neighbors deterministically") {
    val a = Similarity.srpTopK(vecs, "vec_id", "embedding", 0L, 3, nBits = 2)
      .as[(Long, Double)].collect().toSeq
    val b = Similarity.srpTopK(vecs, "vec_id", "embedding", 0L, 3, nBits = 2)
      .as[(Long, Double)].collect().toSeq
    assert(a == b)           // deterministic hyperplanes
    assert(a.nonEmpty)       // query's own cell is never empty of itself? no:
                             // at 2 bits the close vectors co-bucket
  }

  test("simhashPairs banding equals brute-force hamming filter") {
    // 120 docs from the real corpus + planted dups: banding with
    // maxHamming < bands guarantees EXACT recall (pigeonhole), so the
    // blocked output must equal the all-pairs popcount filter
    val docs = Tables.documents(spark, sfDir).limit(120)
      .select($"doc_id", $"text")
    val planted = docs.unionByName(docs.filter($"doc_id" < 5)
      .select(($"doc_id" + 5000).as("doc_id"), $"text"))
    val sigs = planted
      .select($"doc_id", Dedup.simhash($"text").as("sig"))
      .as[(Long, Long)].collect()
    val expected = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb)
      if h <= 3
    } yield (a, b, h.toLong)).toSet
    val got = Dedup.simhashPairs(planted, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
    assert(expected.exists(_._3 == 0L)) // planted dups present
  }

  test("embedding near-dup: SRP-blocked equals exact baseline on dups") {
    // planted exact copies (cosine 1.0) + one genuine near-dup pair
    val planted = vecs.unionByName(
      vecs.filter($"vec_id" < 2)
        .select(($"vec_id" + 100).as("vec_id"), $"embedding"))
    val exact = Similarity
      .cosineNeighborPairs(planted, "vec_id", "embedding", minCos = 0.99)
      .as[(Long, Long, Double)].collect().toSet
    val blocked = Similarity
      .srpNeighborPairs(planted, "vec_id", "embedding", minCos = 0.99,
        nBits = 8)
      .as[(Long, Long, Double)].collect().toSet
    // exact copies: (0,100) and (1,101) at cos 1.0; vec 0 vs 1 sit at
    // cos ~0.994 and may or may not co-bucket — assert the dup pairs
    assert(exact.contains((0L, 100L, 1.0)) && exact.contains((1L, 101L, 1.0)),
      exact.toString)
    // exact duplicates always co-bucket, so the blocked result keeps them
    assert(blocked.contains((0L, 100L, 1.0)) &&
      blocked.contains((1L, 101L, 1.0)), blocked.toString)
    assert(blocked.subsetOf(exact)) // blocking only ever DROPS pairs
  }

  test("ngramJaccardPairs upper-bound prune is lossless vs brute force") {
    // random corpus (seeded) with planted near-dups; vocabulary small
    // enough that rare and common shingles both occur, so the prune's
    // common-shingle bound actually engages
    val rnd = new scala.util.Random(7)
    val vocab = Array.tabulate(150)(i => s"w$i")
    val base = (0 until 60).map { i =>
      (i.toLong,
        Seq.fill(8 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.length)))
          .mkString(" "))
    }
    val mutated = base.take(8).map { case (id, text) =>
      val toks = text.split(" ")
      val j = rnd.nextInt(toks.length)
      (id + 1000L, toks.updated(j, vocab(rnd.nextInt(vocab.length)))
        .mkString(" "))
    }
    val docs = (base ++ mutated).toDF("id", "text")
    val minJ = 0.3
    val maxDf = 10

    // driver-side brute force, same shingle semantics as WordShingles
    // (trim, whitespace split, distinct space-joined 3-grams)
    def shset(t: String): Set[String] =
      t.trim.split("\\s+").toSeq.sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    val sets = (base ++ mutated).map { case (id, t) => id -> shset(t) }
      .filter(_._2.nonEmpty)
    val df_ = sets.flatMap(_._2).groupBy(identity).view.mapValues(_.size)
    val expected: Map[(Long, Long), Double] = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      shared = sa intersect sb
      if shared.exists(s => df_(s) >= 2 && df_(s) <= maxDf)
      jac = shared.size.toDouble / (sa ++ sb).size
      if jac >= minJ
    } yield (a, b) -> jac).toMap

    val got = Dedup.ngramJaccardPairs(docs, "id", "text",
        shingleN = 3, minJaccard = minJ, maxDocFreq = maxDf)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got.keySet == expected.keySet,
      s"missing=${expected.keySet -- got.keySet} " +
        s"extra=${got.keySet -- expected.keySet}")
    got.foreach { case (k, v) =>
      assert(math.abs(v - expected(k)) < 5e-4, s"$k: $v vs ${expected(k)}") }
    assert(expected.nonEmpty) // the planted mutations must be found
  }

  test("nearDedup keeps one canonical per cluster with absorbed counts") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog by the river"),
      (2L, "the quick brown fox jumps over the lazy dog by the river"),
      (3L, "the quick brown fox jumps over the lazy dog by the river"),
      (4L, "completely different text about spark query engines and shuffles"),
      (5L, "another unrelated document about parquet and columnar formats"))
      .toDF("id", "text")
    val out = Dedup.nearDedup(docs, "id", "text")
      .as[(Long, Long)].collect().toMap
    // cluster {1,2,3} collapses to min id 1 with 3 members; 4 and 5
    // survive untouched with count 1
    assert(out == Map(1L -> 3L, 4L -> 1L, 5L -> 1L))
  }

  test("nearDedupByQuality keeps the best-quality member, ties to smaller id") {
    val base = "the quick brown fox jumps over the lazy dog by the river"
    val docs = Seq(
      (1L, base), // near-dup cluster {1,2,3}; 2 is the LONGEST
      (2L, base + " extra trailing context words here"),
      (3L, base),
      (4L, "completely different text about spark query engines and shuffles"))
      .toDF("id", "text")
    val byLen = Dedup.nearDedupByQuality(docs, "id", "text",
        length($"text").cast("long"), minJaccard = 0.5)
      .as[(Long, Long)].collect().toMap
    assert(byLen == Map(2L -> 3L, 4L -> 1L), byLen.toString) // quality wins over min-id
    // constant quality: tie-break keeps the smaller id (= nearDedup)
    val tied = Dedup.nearDedupByQuality(docs, "id", "text",
        lit(1L), minJaccard = 0.5)
      .as[(Long, Long)].collect().toMap
    assert(tied == Map(1L -> 3L, 4L -> 1L), tied.toString)
    // NULL quality never beats a scored member
    val nullQ = Dedup.nearDedupByQuality(docs, "id", "text",
        when($"id" === 2L, lit(null).cast("long")).otherwise(length($"text").cast("long")),
        minJaccard = 0.5)
      .as[(Long, Long)].collect().toMap
    assert(!nullQ.contains(2L) && nullQ(4L) == 1L, nullQ.toString)
  }

  test("bucket-cap observation counts dropped candidates on a hot bucket") {
    import org.apache.spark.sql.Observation
    // 40 identical docs: every band bucket holds all 40, so a cap of 8
    // must drop 32 per (band, bucket). With 8 bands: 8 * 32 = 256.
    val hot = (1L to 40L).map(i => (i, "all these documents share the exact same text body"))
      .toDF("id", "text")
    val obs = Observation("minhash_cap")
    val pairs = Dedup.minhashPairs(hot, "id", "text", maxBucketSize = 8,
      capObservation = Some(obs))
    val n = pairs.count()
    assert(obs.get("dropped_candidates") == 256L)
    assert(obs.get("largest_bucket") == 40L)
    // the cap visibly truncates the result: only 8*7/2 pairs survive
    assert(n == 28L)

    // simhash path: identical docs -> identical signature -> one hot
    // bucket per band (4 bands), 40 - 10 = 30 dropped per band
    val obs2 = Observation("simhash_cap")
    Dedup.simhashPairs(hot, "id", "text", maxBucketSize = 10,
      capObservation = Some(obs2)).count()
    assert(obs2.get("dropped_candidates") == 120L)

    // srp path: identical vectors share a cell
    val obs3 = Observation("srp_cap")
    val vecs = (1L to 20L).map(i => (i, Array(1.0f, 2.0f, 3.0f))).toDF("id", "v")
    Similarity.srpNeighborPairs(vecs, "id", "v", minCos = 0.9, nBits = 4,
      maxBucketSize = 5, capObservation = Some(obs3)).count()
    assert(obs3.get("dropped_candidates") == 15L)

    // default path (no observation) still caps, silently but documented
    assert(Dedup.minhashPairs(hot, "id", "text", maxBucketSize = 8).count() == 28L)
  }

  test("sketch expressions stay inside whole-stage codegen") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    // CODEGEN_ONLY + fallback=false: a janino compile error in the
    // generated code THROWS here instead of silently degrading to the
    // interpreted path, so this test pins both plan shape and that the
    // doGenCode output actually compiles and evaluates.
    val prevFactory = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val prevFallback = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val textDf = corpus.select(
        Dedup.minhashSignature($"text", 32, 3).as("mh"),
        Dedup.simhash($"text").as("sh"),
        graft.plans.TextExpressions.word_shingles($"text", 3).as("wsh"),
        graft.plans.TextExpressions.char_bigrams($"text").as("bg"))
      val vecDf = Seq(Tuple1(Array(0.5f, -1.0f, 2.0f)), Tuple1(Array(1f, 1f, 1f)))
        .toDF("v")
        .select(graft.plans.TextExpressions.srp_signature($"v", 8).as("srp"))
      for (df <- Seq(textDf, vecDf)) {
        val plan = df.queryExecution.executedPlan
        val stages = plan.collect { case w: WholeStageCodegenExec => w }
        val sketchNames = Seq("minhash_signature", "simhash64",
          "word_shingles", "char_bigrams", "srp_signature")
        val planStr = plan.toString
        sketchNames.filter(planStr.contains).foreach { name =>
          assert(stages.exists(_.toString.contains(name)),
            s"$name not inside a WholeStageCodegen stage:\n$planStr")
        }
        assert(df.collect().nonEmpty) // forces the generated code to compile+run
      }
    } finally {
      def restore(k: String, v: Option[String]): Unit =
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      restore("spark.sql.codegen.factoryMode", prevFactory)
      restore("spark.sql.codegen.fallback", prevFallback)
    }
  }

  test("fuzzyNamePairs: finds in-block typos, honors the blocking contract") {
    val rows = Seq(
      (1L, "goldenrod lace"),
      (2L, "goldenrod lacy"),  // dist 1, same prefix -> found
      (3L, "goldenrod lace"),  // duplicate VALUE: collapses into id 1's name
      (4L, "Xoldenrod lace"),  // dist 1, DIFFERENT prefix -> out of scope
      (5L, "goldenrod antique"), // same block, dist > 2 -> rejected
      (6L, "golden lace"))     // same block, len gap 3 -> pruned
      .toDF("id", "name")
    val out = graft.operators.Dedup
      .fuzzyNamePairs(rows.toDF(), "name", maxDist = 2, prefixLen = 2)
      .as[(String, String, Long, Long, Long)].collect().toSet
    // one NAME pair; the duplicated spelling shows up as n_a = 2
    assert(out == Set(("goldenrod lace", "goldenrod lacy", 1L, 2L, 1L)))
  }

  test("fuzzyNamePairs: distinct-name matching stays small under duplication") {
    // part at test scale: thousands of rows, few distinct names — the
    // pathological ER input; output must be name-pairs, not row-pairs
    val part = Tables.part(spark, sfDir)
    val out = graft.operators.Dedup.fuzzyNamePairs(part, "p_name")
    val distinctNames = part.select("p_name").distinct().count()
    assert(out.count() <= distinctNames * (distinctNames - 1) / 2)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(600))
  }

  test("knnJoin: k rows per vector, per-row top-k agrees with cosineTopK") {
    import spark.implicits._
    val emb = Tables.load(spark, sfDir, "embeddings")
      .filter($"vec_id" < 50)
    val knn = graft.operators.Similarity.knnJoin(emb, "vec_id", "embedding", k = 4)
    val counts = knn.groupBy($"id").count().as[(Long, Long)].collect()
    assert(counts.length == 50 && counts.forall(_._2 == 4L))
    // the row set for one id is exactly that id's cosineTopK
    val viaKnn = knn.filter($"id" === 7L).orderBy($"rank")
      .select($"neighbor_id", $"cos_sim").as[(Long, Double)].collect().toSeq
    val viaTopK = graft.operators.Similarity
      .cosineTopK(emb, "vec_id", "embedding", queryId = 7L, k = 4)
      .as[(Long, Double)].collect().toSeq
    assert(viaKnn == viaTopK)
    // per-row cap keeps a pre-exchange heap, not a full per-id sort
    val plan = knn.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
  }

  test("semanticContaminationFlags: copies flag, orthogonal don't, nulls safe") {
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f)), // exact copy of bench vector
      (2L, Array(0.99f, 0.14f, 0f)), // near-copy (cos ~ 0.99)
      (3L, Array(0f, 0f, 1f)), // orthogonal to both bench vectors
      (4L, null.asInstanceOf[Array[Float]])
    ).toDF("vec_id", "embedding")
    val bench = Seq((10L, Array(1f, 0f, 0f)), (11L, Array(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticContaminationFlags(corpus, "vec_id",
        "embedding", bench, "embedding", minCos = 0.95)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), r.getLong(2), r.getBoolean(3))).toMap
    assert(out(1L)._2 == 1L && out(1L)._3)
    assert(out(1L)._1.contains(1.0d))
    assert(out(2L)._2 == 1L && out(2L)._3)
    assert(out(3L)._2 == 0L && !out(3L)._3)
    assert(out(3L)._1.exists(c => math.abs(c.asInstanceOf[Double]) < 1e-9))
    assert(out(4L)._1.isEmpty && out(4L)._2 == 0L && !out(4L)._3)
    assert(out.size == 4) // every corpus row reported, null vec included
  }

  test("semanticContaminationFlags: empty benchmark flags nothing, bench broadcasts") {
    val corpus = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val bench = corpus.filter($"vec_id" < 0)
    val out = Similarity.semanticContaminationFlags(corpus, "vec_id",
      "embedding", bench, "embedding", minCos = 0.9).collect()
    assert(out.length == 1 && !out.head.getBoolean(3))
    val plan = Similarity.semanticContaminationFlags(corpus, "vec_id",
        "embedding", corpus, "embedding", minCos = 0.9)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("centerAndNormalize: unit norms, zero-mean corpus, null/degenerate laws") {
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(-1f, 0f)), // mean (0,0): already centered
      (3L, Array(0f, 2f)), (4L, Array(0f, -2f)),
      (5L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding")
    val out = Similarity.centerAndNormalize(vecs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))
        .map(_.asInstanceOf[scala.collection.Seq[Double]])).toMap
    assert(out(5L).isEmpty) // null vector stays null
    // every centered vector is unit-norm
    Seq(1L, 2L, 3L, 4L).foreach { id =>
      val v = out(id).get
      assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9, s"$id: $v")
    }
    assert(out(1L).get == Seq(1.0d, 0.0d)) // zero mean -> direction kept
    // a vector equal to the corpus mean degenerates to NULL, not Inf
    val same = Seq((1L, Array(3f, 3f)), (2L, Array(3f, 3f)))
      .toDF("vec_id", "embedding")
    val deg = Similarity.centerAndNormalize(same, "vec_id", "embedding")
      .collect().map(r => Option(r.get(1)))
    assert(deg.forall(_.isEmpty))
    // corpus mean of the CENTERED output is ~zero per dim
    val e = Tables.embeddings(spark, sfDir)
    val centered = Similarity.centerAndNormalize(e, "vec_id", "embedding")
    val dimMeans = centered.select(posexplode($"centered").as(Seq("pos", "v")))
      .groupBy($"pos").agg(avg($"v").as("m"))
      .agg(max(abs($"m"))).collect().head.getDouble(0)
    assert(dimMeans < 0.05, dimMeans.toString) // centered, up to norm rescale
  }

  test("hardNegativesBlocked equals the exact form on co-bucketing dups") {
    // planted exact copies with shifted labels: the only >= 0.99 pairs,
    // and exact duplicates always co-bucket, so blocked == exact
    val e = Tables.embeddings(spark, sfDir)
    val planted = e.select($"vec_id", $"embedding").unionByName(
        e.filter($"vec_id" < 10)
          .select(($"vec_id" + 1000000).as("vec_id"), $"embedding"))
      .withColumn("label", $"vec_id" % 3)
    val blocked = Similarity.hardNegativesBlocked(planted, "vec_id",
        "embedding", "label", k = 2, minCos = 0.99, maxCos = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    val exact = Similarity.hardNegatives(planted, "vec_id", "embedding",
        "label", k = 2, maxCos = 1.0)
      .filter($"cos_sim" >= 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(blocked == exact, s"blocked ${blocked.size} vs exact ${exact.size}")
    assert(blocked.nonEmpty) // the planted pairs actually qualified
    intercept[IllegalArgumentException] {
      Similarity.hardNegativesBlocked(planted, "vec_id", "embedding",
        "label", 0, 0.99)
    }
  }

  test("hardNegatives: cross-label top-k, near-dup guard, WindowGroupLimit") {
    // label 0: two near-identical vectors (1, 2) + an anchor (0);
    // label 1: a hard negative near the anchor (10), a far one (11),
    // and a too-similar impostor (12, cos ~ 1 vs anchor -> excluded)
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f), 0),
      (1L, Array(0.9f, 0.1f, 0f), 0),
      (2L, Array(0.9f, 0.11f, 0f), 0),
      (10L, Array(0.8f, 0.6f, 0f), 1), // cos(anchor)=0.8
      (11L, Array(0f, 0f, 1f), 1), // orthogonal
      (12L, Array(0.999f, 0.001f, 0f), 1) // cos(anchor)~1 -> guarded out
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(vecs, "vec_id", "embedding",
        "label", k = 2, maxCos = 0.95)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getInt(4)))
    val anchor0 = out.filter(_._1 == 0L).sortBy(_._2)
    // rank 1 = the hard negative 10, never the near-dup impostor 12
    assert(anchor0.head._3 == 10L, anchor0.mkString(","))
    assert(!anchor0.exists(_._3 == 12L), anchor0.mkString(","))
    // neighbors all carry the other label
    assert(out.filter(_._1 == 0L).forall(_._4 == 1))
    assert(out.filter(_._1 == 10L).forall(_._4 == 0))
    val plan = Similarity.hardNegatives(vecs, "vec_id", "embedding",
      "label", k = 2).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
    intercept[IllegalArgumentException] {
      Similarity.hardNegatives(vecs, "vec_id", "embedding", "label", 0)
    }
  }

  test("ngramContainmentPairs: fragment-in-parent found, Jaccard-blind") {
    // parent: 60 distinct tokens; fragment: its tokens 10..21 (12
    // tokens -> 10 trigrams, every one inside the parent)
    val parentToks = (1 to 60).map(i => s"t$i")
    val parent = parentToks.mkString(" ")
    val fragment = parentToks.slice(10, 22).mkString(" ")
    val other = (1 to 40).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, parent), (2L, fragment), (3L, other))
      .toDF("doc_id", "text")
    val cont = Dedup.ngramContainmentPairs(docs, "doc_id", "text",
        shingleN = 3, minContainment = 0.9, maxDocFreq = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // containment of the smaller = 10/10 = 1.0
    assert(cont.toSeq == Seq((1L, 2L, 1.0)), cont.mkString(","))
    // the same pair is INVISIBLE to Jaccard at any usable threshold:
    // 10 / (58 + 10 - 10) ~ 0.17
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, minJaccard = 0.5, maxDocFreq = 20)
      .collect()
    assert(jac.isEmpty, jac.mkString(","))
    // and at a sub-0.17 threshold Jaccard agrees on the exact
    // intersection (shared machinery, shared counts)
    val jacLow = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, minJaccard = 0.1, maxDocFreq = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(jacLow.toSeq ==
      Seq((1L, 2L, math.rint(10.0 / 58.0 * 1e4) / 1e4)),
      jacLow.mkString(","))
  }

  test("dedupByQualityFromPairs: keeps the parent, not the min id") {
    // fragment gets the SMALLER id on purpose: min-id canonicalization
    // (nearDedup) keeps the 12-token fragment and drops its 60-token
    // parent; quality-keeping by token count cannot
    val parentToks = (1 to 60).map(i => s"t$i")
    val docs = Seq(
      (1L, parentToks.slice(10, 22).mkString(" ")), // the fragment
      (2L, parentToks.mkString(" ")),
      (3L, (1 to 40).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramContainmentPairs(docs, "doc_id", "text",
      shingleN = 3, minContainment = 0.9, maxDocFreq = 20)
    val kept = Dedup.dedupByQualityFromPairs(docs, "doc_id", pairs,
        size(split(trim(col("text")), "\\s+")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept == Map(2L -> 2L, 3L -> 1L), kept.toString)
    // the min-id form keeps the fragment — the failure mode this
    // operator exists to avoid
    val minId = Dedup.nearDedup(docs, "doc_id", "text",
        shingleN = 3, minJaccard = 0.1, maxDocFreq = 20)
      .collect().map(_.getLong(0)).toSet
    assert(minId.contains(1L) && !minId.contains(2L), minId.toString)
  }

  test("ivfAppend: append == one-shot assignment; drift summary moves") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfa_spec").toString + "/idx"
    // two tight clusters, 10 vectors each, around e1 and e2
    def jig(i: Int) = 0.02f * (i % 5)
    val base = (0 until 10).map(i =>
      (i.toLong, Array(1f, jig(i), 0f, 0f))) ++
      (10 until 20).map(i => (i.toLong, Array(jig(i), 1f, 0f, 0f)))
    val baseDf = base.toDF("vec_id", "embedding")
    Similarity.ivfBuild(baseDf, "vec_id", "embedding", dir, nCells = 2,
      iters = 4)
    val before = Similarity.ivfDriftSummary(spark, dir).collect()(0)
    assert(before.getLong(0) == 2 && before.getLong(1) == 20, before)
    // delta: two more cluster members + two off-model vectors between
    // the clusters (high residual wherever they land)
    val delta = Seq(
      (100L, Array(1f, 0.01f, 0f, 0f)), (101L, Array(0.01f, 1f, 0f, 0f)),
      (102L, Array(0.7f, 0.7f, 0.1f, 0f)),
      (103L, Array(0.7f, 0.72f, 0f, 0.1f))).toDF("vec_id", "embedding")
    Similarity.ivfAppend(delta, "vec_id", "embedding", dir)
    // law: every row's cell == the argmax-dot assignment against the
    // PERSISTED model, computed independently here — append is
    // indistinguishable from a one-shot build with the same model
    val centroids = spark.read.parquet(dir + ".centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    def assign(v: Array[Float]): Int = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      val vn = v.map(_ / n)
      centroids.toSeq.sortBy(_._1)
        .map { case (ci, c) => ci -> c.zip(vn.map(_.toDouble))
          .map { case (a, b) => a * b }.sum }
        .maxBy { case (ci, s) => (s, -ci) }._1
    }
    val got = spark.read.parquet(dir)
      .select(col("id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val allVecs = base ++ Seq(
      (100L, Array(1f, 0.01f, 0f, 0f)), (101L, Array(0.01f, 1f, 0f, 0f)),
      (102L, Array(0.7f, 0.7f, 0.1f, 0f)),
      (103L, Array(0.7f, 0.72f, 0f, 0.1f)))
    assert(got.size == 24)
    allVecs.foreach { case (id, v) =>
      assert(got(id) == assign(v), s"id $id: ${got(id)} != ${assign(v)}")
    }
    // drift: the off-model vectors raise the index-wide residual, and
    // tight thresholds flip the retrain flag
    val after = Similarity.ivfDriftSummary(spark, dir).collect()(0)
    assert(after.getLong(1) == 24, after)
    assert(after.getDouble(3) > before.getDouble(3),
      s"residual did not grow: $before -> $after")
    val flagged = Similarity.ivfDriftSummary(spark, dir,
      maxSkew = 1.0, maxResidual = 0.0).collect()(0)
    assert(flagged.getBoolean(4), flagged.toString)
    assert(!before.getBoolean(4), before.toString) // defaults: healthy
    // probes see appended members: 100 is in 0's cell at cos ~1
    val q = ivfTop(dir, Array(1f, 0f, 0f, 0f), k = 3).map(_._1)
    assert(q.contains(100L), q.mkString(","))

    // ---- ivfRetrain closes the loop on the same aged index ----
    val retrained = Similarity.ivfRetrain(spark, dir, iters = 4)
    assert(retrained.size == 2, "k <= 0 must keep the model width")
    val idx = spark.read.parquet(dir)
      .select(col("id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(idx.size == 24 && idx.keySet == got.keySet,
      "retrain must preserve every row id")
    // the rewritten layout equals assignment under the NEW persisted
    // model (the append law re-checked through the refit+swap path)
    val newCentroids = spark.read.parquet(dir + ".centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    def assignNew(v: Array[Float]): Int = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      val vn = v.map(_ / n)
      newCentroids.toSeq.sortBy(_._1)
        .map { case (ci, c) => ci -> c.zip(vn.map(_.toDouble))
          .map { case (a, b) => a * b }.sum }
        .maxBy { case (ci, s) => (s, -ci) }._1
    }
    allVecs.foreach { case (id, v) =>
      assert(idx(id) == assignNew(v),
        s"retrained id $id: ${idx(id)} != ${assignNew(v)}")
    }
    // no staging leftovers after the swap
    val parent = new java.io.File(dir).getParentFile
    assert(!parent.list().exists(_.contains(".retrain")),
      parent.list().mkString(","))
    // explicit k overrides the width and still probes coherently
    val re4 = Similarity.ivfRetrain(spark, dir, nCells = 4, iters = 4)
    assert(re4.size == 4)
    assert(spark.read.parquet(dir + ".centroids").count() == 4)
    val q2 = ivfTop(dir, Array(1f, 0f, 0f, 0f), k = 3).map(_._1)
    assert(q2.contains(100L), q2.mkString(","))
  }

  test("hardNegatives: NULL vectors/labels dropped, no fake-orthogonal") {
    // a NULL vector must never surface as a cos_sim 0.0 "orthogonal"
    // negative (cosine()'s zero-denominator guard), and a NULL label
    // must drop the row explicitly, not emergently via the =!= join
    val vecs = Seq(
      (0L, Array(1f, 0f), Some(0)),
      (1L, Array(0f, 1f), Some(1)), // the one real cross-label negative
      (2L, null.asInstanceOf[Array[Float]], Some(1)), // NULL vector
      (3L, Array(0.9f, 0.1f), None) // NULL label
    ).toDF("vec_id", "embedding", "label")
    val exact = Similarity.hardNegatives(vecs, "vec_id", "embedding",
      "label", k = 3, maxCos = 1.0)
    // blocked: SRP cells may or may not co-bucket the survivors (that's
    // its recall contract) — only the NULL-drop property is asserted
    val blocked = Similarity.hardNegativesBlocked(vecs, "vec_id",
      "embedding", "label", k = 3, minCos = -1.0, maxCos = 1.0, nBits = 1)
    for (out <- Seq(exact, blocked)) {
      val rows = out.collect()
        .map(r => (r.getLong(0), r.getLong(3))).toSet
      // anchors and neighbors never include the NULL-vector/-label rows
      assert(rows.flatMap(p => Set(p._1, p._2)).intersect(Set(2L, 3L))
        .isEmpty, rows.toString)
    }
    val exactRows = exact.collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(exactRows == Set((0L, 1L), (1L, 0L)), exactRows.toString)
  }

  test("filtered ANN: predicate inside the probe, widening, batch == " +
      "single; post-filtering demonstrably loses rows") {
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding", $"label")
    // 12 planted copies of vectors 10..21 carry the otherwise-
    // nonexistent label 99, scattered across their vectors' cells
    val corpus = emb.unionByName(
      emb.filter($"vec_id".between(10, 21))
        .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding",
          lit(99).as("label")))
    val dir = java.nio.file.Files.createTempDirectory("ivff")
      .toString + "/idx"
    Similarity.ivfBuild(corpus, "vec_id", "embedding", dir, nCells = 8,
      iters = 3, extraCols = Seq("label"))
    val qVec = emb.filter($"vec_id" === 0L)
      .select($"embedding").collect()(0).getSeq[Float](0).toArray
    // k > matches forces widening to full coverage -> the result IS
    // the brute-force ranking over the label-filtered corpus
    val got = ivfTop(dir, qVec, k = 20, predicate = Some($"label" === 99))
    val brute = corpus.filter($"label" === 99)
      .select($"vec_id".as("id"),
        round(Similarity.cosine($"embedding", typedlit(qVec.toSeq)), 6)
          .as("cos_sim"))
      .orderBy($"cos_sim".desc, $"id")
      .as[(Long, Double)].collect().toSeq
    assert(got == brute, s"filtered probe != brute over filtered corpus")
    assert(got.size == 12)
    // the WRONG order — unfiltered top-k, then filter — surfaces only
    // the planted rows that crack the global top-20
    val wrongN = Similarity.ivfProbe(spark, dir,
        emb.filter($"vec_id" === 0L)
          .select($"vec_id".as("qid"), $"embedding".as("qv")),
        "qid", "qv", k = 20, probes = 8)
      .join(corpus.select($"vec_id".as("id"), $"label"), Seq("id"))
      .filter($"label" === 99).count()
    assert(wrongN < got.size,
      s"post-filtering kept $wrongN rows; planted data should starve it")
    // a non-selective predicate satisfies at the initial width and
    // equals the unfiltered probe exactly
    val all = ivfTop(dir, qVec, k = 10, predicate = Some($"label" >= 0))
    val unfiltered = ivfTop(dir, qVec, k = 10)
    assert(all == unfiltered)
    // a query's rows in a batch equal its rows from a 1-row probe, one
    // selective query widening to full coverage and one satisfied early
    val queries = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    def byQuery(qs: org.apache.spark.sql.DataFrame) =
      Similarity.ivfProbe(spark, dir, qs, "qid", "qv", k = 20,
          predicate = Some($"label" === 99))
        .as[(Long, Long, Double)].collect()
        .groupBy(_._1).view
        .mapValues(_.map(r => (r._2, r._3))
          .sortBy(r => (-r._2, r._1)).toSeq).toMap
    val batch = byQuery(queries)
    (0L until 2L).foreach { qid =>
      val single = byQuery(queries.filter($"qid" === qid))(qid)
      assert(batch(qid) == single, s"query $qid diverges")
    }
  }

  test("ivfDriftSummary: tombstone count and reclaimable fraction") {
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfts")
      .toString + "/idx"
    Similarity.ivfBuild(emb, "vec_id", "embedding", dir, nCells = 4, iters = 3)
    val n = emb.count()
    def summary() = Similarity.ivfDriftSummary(spark, dir).collect()(0)
    val clean = summary()
    assert(clean.getLong(5) == 0L && clean.getDouble(6) == 0.0, clean)
    Similarity.ivfDelete(dir,
      emb.filter($"vec_id" < 3).select($"vec_id"), "vec_id")
    // repeats in a later delete are absorbed by the distinct count
    Similarity.ivfDelete(dir,
      emb.filter($"vec_id" < 2).select($"vec_id"), "vec_id")
    val dirty = summary()
    assert(dirty.getLong(5) == 3L, dirty)
    assert(math.abs(dirty.getDouble(6) - 3.0 / n) < 1e-6, dirty)
    // the retrain-compaction reclaims: tombstones back to zero
    Similarity.ivfRetrain(spark, dir, iters = 3)
    val healed = summary()
    assert(healed.getLong(5) == 0L && healed.getLong(1) == n - 3,
      healed)
  }

  test("versioned retrain: pointer flip, reader grace, retention, " +
      "sticky versioning; appends and deletes land in the live " +
      "generation") {
    // two tight clusters so every retrain is cheap and deterministic
    def jig(i: Int) = 0.02f * (i % 5)
    val base = ((0 until 10).map(i =>
      (i.toLong, Array(1f, jig(i), 0f, 0f))) ++
      (10 until 20).map(i => (i.toLong, Array(jig(i), 1f, 0f, 0f))))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfver")
      .toString + "/idx"
    Similarity.ivfBuild(base, "vec_id", "embedding", dir, nCells = 2,
      iters = 4)
    def files() = Option(new java.io.File(dir).list())
      .map(_.toSet).getOrElse(Set.empty[String])
    def top(k: Int) = ivfTop(dir, Array(1f, 0f, 0f, 0f), k, probes = 2)
      .map(_._1).toSet
    // v1: pointer exists, legacy cell dirs RETAINED as reader grace
    Similarity.ivfRetrain(spark, dir, iters = 4, versioned = true)
    assert(files().contains(".current") && files().contains(".v1"),
      files().toString)
    assert(files().exists(_.startsWith("cell=")), "legacy grace gone")
    assert(top(3).contains(0L))
    // appends resolve to the live generation (legacy dirs unchanged),
    // probes see the new row immediately
    Similarity.ivfAppend(Seq((500L, Array(1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding"), "vec_id", "embedding", dir)
    // ids 0 and 5 are also exactly [1,0,0,0] (jig(0) = jig(5) = 0), so
    // the appended twin ties at cos 1.0 and ranks third by id
    assert(top(3).contains(500L))
    assert(!spark.read.parquet(dir).select($"id")
      .as[Long].collect().contains(500L),
      "append leaked into the legacy layout")
    // deletes tombstone the live generation
    Similarity.ivfDelete(dir, Seq(500L).toDF("vec_id"), "vec_id")
    assert(!top(25).contains(500L))
    // second retrain is versioned WITHOUT the flag (sticky), bumps to
    // v2, keeps v1 as the new grace, and removes the legacy layout
    Similarity.ivfRetrain(spark, dir, iters = 4)
    assert(files().contains(".v2") && files().contains(".v1"),
      files().toString)
    assert(!files().exists(_.startsWith("cell=")),
      "legacy layout should leave at the second publish")
    assert(!new java.io.File(s"$dir.centroids").exists())
    assert(!top(25).contains(500L), "tombstoned row resurfaced")
    // third publish retires v1 (keep n and n-1 only)
    Similarity.ivfRetrain(spark, dir, iters = 4)
    assert(files().contains(".v3") && files().contains(".v2") &&
      !files().contains(".v1"), files().toString)
    assert(top(3).contains(0L))
    // no .retrain staging litter on any versioned path
    assert(!new java.io.File(dir + ".retrain").exists())
  }

  test("binary quantization: batch == per-query; rerank degenerate " +
      "law; planted copies at Hamming 0") {
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
    val planted = emb.unionByName(
      emb.filter($"vec_id" < 4)
        .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding"))
    val queries = planted.filter($"vec_id" < 4)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val batch = VectorIndex.topKBatch(planted, "vec_id", "embedding",
        queries, "qid", "qv", k = 8, VectorCodec.Binary)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(r => (r._2, r._3))
        .sortBy(r => (r._2, r._1)).toSeq).toMap
    (0L until 4L).foreach { qid =>
      val perq = Similarity.bqTopK(planted, "vec_id", "embedding",
          qid, k = 8)
        .as[(Long, Long)].collect().toSeq
      assert(batch(qid) == perq, s"query $qid diverges")
      // the planted exact copy is Hamming 0 and ranks first
      assert(perq.head == (qid + 1000000L, 0L), perq.head.toString)
    }
    // rerank degenerate law: pool >= corpus == the exact batch cosine
    val n = planted.count().toInt
    val rr = Similarity.bqTopKRerankedBatch(planted, "vec_id",
        "embedding", queries, "qid", "qv", k = 6, pool = n)
      .as[(Long, Long, Double)].collect().toSet
    val exact = Similarity.cosineTopKBatch(planted, "vec_id",
        "embedding", queries, "qid", "qv", k = 6)
      .as[(Long, Long, Double)].collect().toSet
    assert(rr == exact, "pool>=corpus rerank != exact batch cosine")
    // a real pool still surfaces the exact copy at cos 1.0 rank-1
    val small = Similarity.bqTopKRerankedBatch(planted, "vec_id",
        "embedding", queries, "qid", "qv", k = 3, pool = 25)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(r => (r._2, r._3))
        .sortBy(r => (-r._2, r._1)).head).toMap
    (0L until 4L).foreach { qid =>
      assert(small(qid) == (qid + 1000000L, 1.0d), small(qid).toString)
    }
    intercept[IllegalArgumentException] {
      VectorIndex.topKBatch(planted, "vec_id", "embedding", queries,
        "qid", "qv", k = 0, VectorCodec.Binary)
    }
    // plan shape: query signatures ride a broadcast and the per-query
    // cap compiles to WindowGroupLimit (per-partition k-heaps)
    val plan = VectorIndex.topKBatch(planted, "vec_id", "embedding",
        queries, "qid", "qv", k = 8, VectorCodec.Binary)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), plan.take(600))
    assert(plan.contains("WindowGroupLimit"), plan.take(600))
  }

  test("matryoshka retrieval: dims >= d == full ranking; funnel " +
      "degenerate law; planted copy survives the funnel") {
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
    val planted = emb.unionByName(
      emb.filter($"vec_id" < 2)
        .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding"))
    val queries = planted.filter($"vec_id" < 2)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    // dims >= d degenerates to the full-dimension batch ranking
    val full = rows(Similarity.cosineTopKBatch(planted, "vec_id",
      "embedding", queries, "qid", "qv", k = 6))
    assert(rows(Similarity.matryoshkaTopKBatch(planted, "vec_id",
      "embedding", queries, "qid", "qv", k = 6, dims = 4096)) == full)
    // funnel degenerate law: pool >= corpus == exact batch cosine
    val n = planted.count().toInt
    assert(rows(Similarity.matryoshkaRerankedBatch(planted, "vec_id",
      "embedding", queries, "qid", "qv", k = 6, pool = n,
      dims = 16)) == full)
    // a real funnel (16 of 64 dims, pool 25) still surfaces the
    // planted copy at cos 1.0 rank-1: identical vectors have
    // identical prefixes, so the copy survives candidate generation
    val funnel = Similarity.matryoshkaRerankedBatch(planted, "vec_id",
        "embedding", queries, "qid", "qv", k = 3, pool = 25, dims = 16)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(r => (r._2, r._3))
        .sortBy(r => (-r._2, r._1)).head).toMap
    (0L until 2L).foreach { qid =>
      assert(funnel(qid) == (qid + 1000000L, 1.0d),
        funnel(qid).toString)
    }
    intercept[IllegalArgumentException] {
      Similarity.matryoshkaTopKBatch(planted, "vec_id", "embedding",
        queries, "qid", "qv", k = 6, dims = 0)
    }
  }

  test("embeddingReport: fixed metric set, planted pathologies " +
      "counted, empty corpus safe") {
    val healthy = Seq(
      (1L, Array(3f, 4f)),               // norm 5
      (2L, Array(0f, 0f)),               // zero vector
      (3L, Array(Float.NaN, 1f)),        // nonfinite
      (4L, Array(3f, 4f)))               // exact dup of 1
      .toDF("vec_id", "embedding")
      .unionByName(Seq(5L).toDF("vec_id")
        .select($"vec_id", lit(null).cast("array<float>").as("embedding")))
    val m = Similarity.embeddingReport(healthy, "vec_id", "embedding")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toMap
    assert(m("n_vecs") == 5.0 && m("n_null") == 1.0, m.toString)
    assert(m("n_nonfinite") == 1.0 && m("n_zero") == 1.0, m.toString)
    assert(m("dim_min") == 2.0 && m("dim_max") == 2.0)
    assert(m("norm_p50") == 5.0, m.toString) // norms: 0, 5, 5, NaN
    // dups: 4 non-null vectors, 3 distinct... NaN-array counts as a
    // value; copies of (3,4) collapse -> 1 - 3/4
    assert(m("exact_dup_frac") == 0.25, m.toString)
    // the metric SET is fixed
    assert(m.keySet == Set("n_vecs", "n_null", "n_nonfinite",
      "dim_min", "dim_max", "n_zero", "norm_avg", "norm_p50",
      "norm_p90", "exact_dup_frac"))
    // empty corpus: same schema, zero/neutral values, nothing throws
    val e = Similarity.embeddingReport(
        healthy.filter($"vec_id" > 100), "vec_id", "embedding")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toMap
    assert(e.keySet == m.keySet)
    assert(e("n_vecs") == 0.0 && e("dim_min") == 0.0 &&
      e("exact_dup_frac") == 0.0, e.toString)
  }

  test("topKBatch(Int8) == per-query int8TopK") {
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
    val planted = emb.unionByName(
      emb.filter($"vec_id" < 3)
        .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding"))
    val queries = planted.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val batch = VectorIndex.topKBatch(planted, "vec_id",
        "embedding", queries, "qid", "qv", k = 8, VectorCodec.Int8)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(r => (r._2, r._3))
        .sortBy(r => (-r._2, r._1)).toSeq).toMap
    (0L until 3L).foreach { qid =>
      val perq = Similarity.int8TopK(planted, "vec_id", "embedding",
          qid, k = 8)
        .as[(Long, Double)].collect().toSeq
      assert(batch(qid) == perq, s"query $qid diverges")
      assert(perq.head == (qid + 1000000L, 1.0d), perq.head.toString)
    }
    intercept[IllegalArgumentException] {
      VectorIndex.topKBatch(planted, "vec_id", "embedding",
        queries, "qid", "qv", k = 0, VectorCodec.Int8)
    }
  }
}
