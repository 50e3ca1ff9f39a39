package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.{IvfTier, Similarity, VectorCodec, VectorIndex}
import graft.operators.VectorCodec.{Binary, Int8, Srp}

/** The one model-free [[VectorIndex]] lifecycle keeps the per-tier
  * faces' costs and on-disk layout: the Spark jobs each step launches,
  * the columns, sidecars and directory names it writes, one `.srpmeta`
  * read per streaming drain, and indexes written in that layout by
  * hand still load. */
class VectorIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb: DataFrame = {
    val e = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding", $"label")
    e.schema // the table's first load infers outside every measured body
    e
  }

  private lazy val qs: DataFrame = emb.filter($"vec_id" < 3)
    .select($"vec_id".as("qid"), $"embedding".as("qv"))

  private def tmp(p: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(p)
    TempDirs.deleteOnExit(dir.toFile)
    dir.toString
  }

  /** How many queries `body` runs that scan a `.srpmeta` sidecar; a
    * fence query, delivered after every earlier one, closes the count. */
  private def srpMetaReads(body: => Any): Int = {
    val fence = "graft_vector_index_spec_fence"
    val reads = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.toString.contains(fence)) fenced.countDown()
        else if (qe.analyzed.collectLeaves().exists {
            case r: LogicalRelation => r.relation match {
              case h: HadoopFsRelation =>
                h.location.rootPaths.exists(_.getName.endsWith(".srpmeta"))
              case _ => false
            }
            case _ => false
          }) reads.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(lit(fence)).collect()
      assert(fenced.await(60, TimeUnit.SECONDS), "the fence query never reached the listener")
      reads.get
    } finally spark.listenerManager.unregister(listener)
  }

  // Jobs each step launched through the per-tier build, append, probe,
  // delete and compact faces this lifecycle replaced, measured on the
  // same steps and data before the change (SCALE.md maps each retired
  // face to its call): (build, append, probe, filtered probe, delete,
  // probe with tombstones, compact).
  private val priorJobs = Map[VectorCodec, Seq[Int]](
    Binary -> Seq(1, 2, 4, 4, 2, 6, 5),
    Int8 -> Seq(1, 2, 4, 4, 2, 6, 5),
    Srp(4) -> Seq(3, 4, 6, 6, 2, 8, 6))

  test("every lifecycle step launches the jobs the per-tier faces did") {
    qs.schema // loads the table outside every measured body
    priorJobs.foreach { case (codec, prior) =>
      val dir = tmp("vijobs") + "/idx"
      def probe(pred: Option[org.apache.spark.sql.Column]) =
        VectorIndex.probe(spark, dir, qs, "qid", "qv", k = 10, pred).collect()
      val got = Seq(
        jobsLaunchedBy(VectorIndex.build(emb.filter($"vec_id" < 300), "vec_id",
          "embedding", dir, codec)),
        jobsLaunchedBy(VectorIndex.append(emb.filter($"vec_id" >= 300), "vec_id",
          "embedding", dir, codec)),
        jobsLaunchedBy(probe(None)),
        jobsLaunchedBy(probe(Some(col("id") % 2 === 0))),
        jobsLaunchedBy(VectorIndex.delete(dir, Seq(5L, 6L).toDF("vec_id"), "vec_id")),
        jobsLaunchedBy(probe(None)),
        jobsLaunchedBy(VectorIndex.compact(spark, dir)))
      assert(got == prior, s"$codec: (build, append, probe, filtered, delete, " +
        "probe with tombstones, compact)")
    }
  }

  test("a rebuild clears the tombstones of the index it replaces") {
    // the query is id 7's own vector under another id: wherever 7 is
    // live it is the best match, for every codec (SRP: the same cell)
    val q = emb.filter($"vec_id" === 7L)
      .select(lit(1000000L).as("qid"), $"embedding".as("qv"))
    Seq[VectorCodec](Binary, Int8, Srp(4)).foreach { codec =>
      val dir = tmp("virebuild") + "/idx"
      val rows = emb.filter($"vec_id" < 300)
      VectorIndex.build(rows, "vec_id", "embedding", dir, codec)
      VectorIndex.delete(dir, Seq(7L).toDF("vec_id"), "vec_id")
      def probed = VectorIndex.probe(spark, dir, q, "qid", "qv", k = 5)
        .select("id").as[Long].collect().toSeq
      assert(!probed.contains(7L), codec.toString)
      VectorIndex.build(rows, "vec_id", "embedding", dir, codec)
      assert(!new java.io.File(s"$dir.tombstones").exists, codec.toString)
      assert(probed.contains(7L), s"$codec: $probed")
    }
    // the trained IVF tiers, probed over every cell: a rebuild drops the
    // old tombstones, and a rebuild over a versioned root (its retrain
    // published .v1 over 300 rows) serves the rebuilt 500 rows
    def live(dir: String) = Similarity.ivfProbe(spark, dir, q, "qid", "qv",
      k = 1000, probes = 4).select("id").as[Long].collect().toSet
    Seq("ivf", "ivfpq").foreach { tier =>
      val dir = tmp("ivfrebuild") + "/idx"
      def build(n: Long): Unit = {
        val rows = emb.filter($"vec_id" < n)
        if (tier == "ivf")
          Similarity.ivfBuild(rows, "vec_id", "embedding", dir, nCells = 4,
            iters = 2)
        else
          Similarity.ivfBuild(rows, "vec_id", "embedding", dir,
            IvfTier.Pq(m = 8, nbits = 4), nCells = 4, iters = 2)
      }
      build(300)
      Similarity.ivfDelete(dir, Seq(7L).toDF("vec_id"), "vec_id")
      assert(!live(dir).contains(7L), tier)
      build(300)
      assert(live(dir).contains(7L), s"$tier: the rebuild kept the tombstones")
      if (tier == "ivf") Similarity.ivfRetrain(spark, dir, iters = 2, versioned = true)
      else Similarity.ivfRetrain(spark, dir, iters = 2, versioned = true,
        corpus = Some(Similarity.RefitCorpus(emb.filter($"vec_id" < 300),
          "vec_id", "embedding")))
      build(500)
      assert(live(dir).size == 500, s"$tier: the rebuild is not what probes read")
    }
  }

  test("the written layout: codec columns, extraCols, sidecars and batch directories") {
    val codecCols = Map[VectorCodec, Seq[String]](
      Binary -> Seq("id", "sig"), Int8 -> Seq("id", "q_vec"), Srp(4) -> Seq("id", "cell", "v"))
    codecCols.foreach { case (codec, cols) =>
      val root = tmp("vilayout")
      val dir = s"$root/idx"
      VectorIndex.build(emb.filter($"vec_id" < 300), "vec_id", "embedding", dir,
        codec, extraCols = Seq("label"))
      assert(spark.read.parquet(dir).columns.toSeq == cols :+ "label", codec.toString)
      VectorIndex.delete(dir, Seq(5L).toDF("vec_id"), "vec_id")
      val sidecars = new java.io.File(root).list().toSet
      assert(sidecars == Set("idx", "idx.tombstones") ++
        (if (codec == Srp(4)) Set("idx.srpmeta") else Set.empty), s"$codec: $sidecars")
      if (codec == Srp(4))
        assert(spark.read.parquet(s"$dir.srpmeta").as[Int].collect().toSeq == Seq(4))
      val bdir = s"$root/batched"
      VectorIndex.appendBatch(emb.filter($"vec_id" < 200), "vec_id", "embedding", bdir, 0L, codec)
      VectorIndex.appendBatch(emb.filter($"vec_id" < 50), "vec_id", "embedding", bdir, 1L, codec)
      def batches = new java.io.File(bdir).list().toSet.filter(_.startsWith("batch="))
      assert(batches == Set("batch=0", "batch=1"), codec.toString)
      assert(spark.read.parquet(bdir).columns.toSeq == cols :+ "batch", codec.toString)
      VectorIndex.compact(spark, bdir)
      assert(batches == Set("batch=-1"), codec.toString)
    }
  }

  test("indexes written in this layout by hand load, probe and append") {
    val root = tmp("vilegacy")
    val base = emb.select($"vec_id".as("id"), $"embedding")
    base.select($"id", Similarity.binarySignature($"embedding").as("sig"))
      .write.parquet(s"$root/bq")
    Similarity.withInt8Quantized(base, "embedding").select($"id", $"q_vec")
      .write.parquet(s"$root/int8")
    base.select($"id", Similarity.srpSignature($"embedding", 4).as("cell"),
        $"embedding".as("v"))
      .repartition($"cell").write.parquet(s"$root/srp")
    spark.range(1).select(lit(4).as("n_bits")).write.parquet(s"$root/srp.srpmeta")
    Seq[(String, VectorCodec)]("bq" -> Binary, "int8" -> Int8, "srp" -> Srp(4))
      .foreach { case (name, codec) =>
        val path = s"$root/$name"
        val probed = VectorIndex.probe(spark, path, qs, "qid", "qv", k = 10)
        val direct = VectorIndex.topKBatch(emb, "vec_id", "embedding", qs, "qid", "qv",
          k = 10, codec)
        assert(probed.columns.toSeq == direct.columns.toSeq, name)
        assert(probed.collect().toSet == direct.collect().toSet, name)
        VectorIndex.append(emb.filter($"vec_id" === 0L)
            .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding"),
          "vec_id", "embedding", path, codec)
        assert(spark.read.parquet(path).count() == 501L, name)
      }
  }

  test("an SRP drain reads .srpmeta once, however many micro-batches it writes") {
    val dir = tmp("vidrain") + "/idx"
    val writer = srpMetaReads {
      val w = VectorIndex.batchWriter(spark, dir, Srp(4), "vec_id", "embedding", Nil)
      w(emb.filter($"vec_id" < 200), 0L)
      w(emb.filter($"vec_id" >= 200), 1L)
    }
    assert(writer == 1, s"two micro-batches read .srpmeta $writer times")
    assert(VectorIndex.srpBits(spark, dir) == 4)
    // a whole drain through the incremental engine, onto the same root
    val root = tmp("vidrainsrc")
    emb.write.parquet(s"$root/src")
    val drain = srpMetaReads(graft.streaming.EventStreams.vectorIndexAvailableNow(spark,
      s"$root/src", "vec_id", $"embedding", dir, s"$root/ck", Srp(4)))
    assert(drain == 1, s"one drain read .srpmeta $drain times")
    // ensure, never overwrite: a drain at another width refuses
    interceptGuard("refusing to flip it to Srp(8)") {
      graft.streaming.EventStreams.vectorIndexAvailableNow(spark,
        s"$root/src", "vec_id", $"embedding", dir, s"$root/ck8", Srp(8))
    }
    assert(VectorIndex.srpBits(spark, dir) == 4)
  }
}
