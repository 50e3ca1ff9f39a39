package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming coverage over the `events` table (engine scope —
  * SURVEY.md §2.9: the reference is batch-only, the 100 TB capability set
  * requires incremental patterns).
  *
  * Each transform takes the streaming DataFrame so the identical logic
  * runs in batch (tested against the batch oracle queries) and in a
  * `readStream` pipeline. Watermarks bound state; `eventTimeWindow` and
  * `sessionize` are the streaming twins of q_event_tumbling /
  * q_event_sessions in the catalog.
  */
object EventStreams {

  /** Schema of the events stream (matches Tables.events output). */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-based streaming source over a directory of event parquet files
    * (one-file-per-trigger batches in tests). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Tumbling event-time window aggregation with a watermark bounding
    * state: counts and value sums per (window, event_type). */
  def eventTimeWindow(events: DataFrame, windowLen: String = "1 hour",
                      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding window variant: 1 h windows sliding by 15 min, so each
    * event lands in exactly 4 overlapping windows — a ratio the
    * q_sliding_window / q_sliding_stream_exec oracles hard-code (their
    * k IN (0..3) window spine); change either duration only together
    * with those oracles. */
  def slidingWindow(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** Built-in session windows (gap-based, 30 min). */
  def sessionWindow(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("sess_start"),
        col("user_id"), col("n_events"))

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double, props: String)
  case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

  /** Custom stateful aggregation: running per-user totals via
    * mapGroupsWithState (the arbitrary-state API the built-in aggs can't
    * express). NoTimeout: a processing-time timeout makes the engine
    * schedule continuous empty micro-batches to evaluate expirations,
    * which spins thousands of no-op stages in a drained stream; state
    * eviction for idle users belongs to an event-time watermark policy
    * in a production deployment. */
  def userRunningTotals(spark: SparkSession,
                        events: Dataset[Event]): Dataset[UserTotals] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserTotals, UserTotals](
        GroupStateTimeout.NoTimeout) {
        case (uid, batch, state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(uid, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          batch.foreach { e => n += 1; tot += e.value }
          val next = UserTotals(uid, n, math.round(tot * 100).toDouble / 100)
          state.update(next)
          next
      }
  }

  case class FunnelRow(user_id: Long,
                       t_signup: Option[java.sql.Timestamp],
                       t_click: Option[java.sql.Timestamp],
                       t_purchase: Option[java.sql.Timestamp],
                       steps_completed: Long)

  /** Streaming face of [[graft.operators.TimeSeries.funnel]] for the
    * signup → click → purchase ladder: per user, GroupState carries the
    * completion times so far; each micro-batch sorts ITS OWN
    * step-matching events by (ts, event_id) and continues the greedy
    * strict-increase fold on top of the carried state. Equal to the
    * batch fold whenever an entity's event time does not regress
    * across micro-batches (in-order landing — and exactly equal for a
    * single-batch drain, which is what the exec gate runs). NoTimeout
    * for the same reason as [[userRunningTotals]]: eviction of stale
    * entities is an event-time watermark policy in production. */
  def funnelStream(spark: SparkSession,
                   events: Dataset[Event]): Dataset[FunnelRow] = {
    import spark.implicits._
    val steps = Vector("signup", "click", "purchase")
    events
      .filter(e => e.ts != null && steps.contains(e.event_type))
      .groupByKey(_.user_id)
      .mapGroupsWithState[Seq[java.sql.Timestamp], FunnelRow](
        GroupStateTimeout.NoTimeout) {
        case (uid, batch, state: GroupState[Seq[java.sql.Timestamp]]) =>
          var times = state.getOption.getOrElse(Seq.empty)
          // java.sql.Timestamp keeps sub-millisecond precision in its
          // nanos field, so order/compare via Instant, not getTime
          val sorted = batch.toSeq.sortBy(e => (e.ts.toInstant, e.event_id))
          sorted.foreach { e =>
            val k = times.size
            if (k < steps.size && e.event_type == steps(k) &&
              (times.isEmpty ||
                e.ts.toInstant.isAfter(times.last.toInstant)))
              times = times :+ e.ts
          }
          state.update(times)
          FunnelRow(uid, times.lift(0), times.lift(1), times.lift(2),
            times.size.toLong)
      }
  }

  /** Streaming exact dedup on event_id within the watermark horizon
    * (`dropDuplicates` keyed on id + event time — Spark keeps id state
    * only as long as the watermark requires). */
  def dedupStream(events: DataFrame, watermark: String = "2 hours",
                  keys: Seq[String] = Seq("event_id")): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream interval join: signups joined to the purchases that
    * follow within `horizon` for the same user. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * each side's state is droppable once the other side's watermark
    * passes the horizon — bounded state, the canonical funnel join. */
  def signupPurchaseJoin(events: DataFrame,
                         horizon: String = "1 hour"): DataFrame = {
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("signup_ts"))
      .withWatermark("signup_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("value"))
      .withWatermark("purchase_ts", "2 hours")
    signups.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") > col("signup_ts") &&
        col("purchase_ts") <= col("signup_ts") + expr(s"interval $horizon"))
      .select(col("user_id"), col("signup_ts"), col("purchase_ts"), col("value"))
  }

  /** Incremental SCD Type-2 maintenance: drain a stream of dimension
    * UPDATES (parquet files landing in `updatesDir`) and fold each
    * micro-batch into a VERSIONED history table at `dimPath` with
    * [[graft.operators.Merge.scd2Apply]] — the streaming face of the
    * batch operator, so CDC feeds keep a warehouse dimension current
    * without a nightly rebuild.
    *
    * Versioning makes foreachBatch idempotent without a table format:
    * batch `b` reads the newest `v=<n>` directory with `n <= b` and
    * writes `v=<b+1>`. A replayed batch re-reads the same base and
    * rewrites the same version deterministically; readers take the
    * newest complete version (`_SUCCESS`-gated). A real deployment
    * would swap in a Delta/Iceberg commit instead — the fold logic is
    * unchanged.
    *
    * Within a micro-batch only the LATEST update per key (by `tsCol`,
    * ties by lexically-greatest attrs) enters history — sub-batch
    * intermediate versions collapse, the standard CDC compaction
    * semantics. Seed `dimPath/v=0` with the initial snapshot before
    * the first call. Returns the newest version number written. */
  def scd2AvailableNow(spark: SparkSession, updatesDir: String,
                       updateSchema: StructType, dimPath: String,
                       checkpointDir: String, key: String,
                       attrs: Seq[String], tsCol: String): Long = {
    // newest COMPLETE version (a v= dir counts only once its _SUCCESS
    // marker exists — a crashed writer's partial directory must never
    // be folded onto, or history silently truncates), optionally capped
    // at `upTo` for base selection
    def newestVersion(upTo: Option[Long]): Option[Long] = {
      val root = new org.apache.hadoop.fs.Path(dimPath)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(root)
        .flatMap { s =>
          val n = s.getPath.getName
          if (n.startsWith("v=")) n.drop(2).toLongOption else None
        }
        .filter(v => upTo.forall(v <= _))
        .sorted(Ordering[Long].reverse)
        // newest first, probe until complete: one _SUCCESS check in the
        // normal case instead of one per historical version
        .find(v => fs.exists(
          new org.apache.hadoop.fs.Path(s"$dimPath/v=$v/_SUCCESS")))
    }
    drainBatches(spark.readStream.schema(updateSchema).parquet(updatesDir),
        checkpointDir) { (batch, batchId) =>
      val base = newestVersion(upTo = Some(batchId)).getOrElse(sys.error(
        s"scd2AvailableNow: no complete base version <= $batchId under " +
          s"$dimPath — seed v=0 with the initial snapshot"))
      val dim = spark.read.parquet(s"$dimPath/v=$base")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(key))
        .orderBy((col(tsCol).desc +: attrs.map(col(_).desc)): _*)
      val collapsed = batch
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      graft.operators.Merge.scd2Apply(dim, collapsed, key, attrs, tsCol)
        .write.mode("overwrite").parquet(s"$dimPath/v=${batchId + 1}")
    }
    newestVersion(upTo = None).getOrElse(0L)
  }

  /** Streaming source over the driver's raw events parquet, robust to
    * the file's `ts` encoding. The driver has shipped the table as both
    * TIMESTAMP(NANOS) (readable only as INT64 under the legacy
    * nanosAsLong conf, which [[graft.Session.local]] sets) and
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ)
    * across rounds; a hard-coded stream schema
    * silently MISREADS the other encoding (declaring `ts: LongType`
    * against a micros file makes the file source hand back the micros
    * physical values as longs — no error, output lands in January 1970).
    * So: probe the schema with a one-off BATCH read of the same files —
    * the single source of truth for what's physically there — declare
    * exactly that to `readStream`, and normalize `ts` with the same
    * branch the batch loader uses ([[graft.Tables.normalizedTs]]), which
    * keeps the two paths incapable of diverging.
    *
    * The driver's table is a single parquet file, which [[fileSource]]
    * stages under `checkpointDir`: pass the checkpoint of the drain that
    * reads this source. */
  def rawEventSource(spark: SparkSession, eventsPath: String,
                     checkpointDir: String): DataFrame = {
    val (src, probed) = fileSource(spark, eventsPath, checkpointDir)
    src.withColumn("ts", graft.Tables.normalizedTs(probed("ts").dataType))
  }

  /** Schema-probed file-stream source over a parquet file or directory.
    * Returns the streaming frame plus the probed schema — a hard-coded
    * stream schema silently MISREADS re-encoded data (the r9 events
    * lesson), so every streaming face probes.
    *
    * The file-source API wants a directory, so a single file is staged
    * into `<checkpointDir>/input` by hard link (copy as the
    * cross-device fallback). The checkpoint's file log names each file
    * it has read by full path, so the staging dir must be the same on
    * every drain of one checkpoint: under a fresh scratch dir per call
    * a second drain failed on the logged path ("Wrong basePath"), and
    * no drain of a single file could resume. The link is remade on
    * every call, so the staged name reads the file as it is now. */
  private[graft] def fileSource(spark: SparkSession, path: String,
                                checkpointDir: String)
      : (DataFrame, StructType) = {
    val f = new java.io.File(path)
    val srcDir = if (f.isFile) {
      val dir = java.nio.file.Paths.get(checkpointDir, "input")
      java.nio.file.Files.createDirectories(dir)
      val staged = dir.resolve(f.getName)
      java.nio.file.Files.deleteIfExists(staged)
      try java.nio.file.Files.createLink(staged, f.toPath)
      catch { case _: Exception =>
        java.nio.file.Files.copy(f.toPath, staged); ()
      }
      dir.toString
    } else path
    val probed = spark.read.parquet(srcDir).schema
    (spark.readStream.schema(probed).parquet(srcDir), probed)
  }

  /** Kill-and-restart execution gate: [[eventTimeWindow]] over the raw
    * events parquet, [[drain]]ed in TWO AvailableNow runs sharing one
    * checkpoint. Half the source rows land as one file, the first drain
    * runs to completion and STOPS (a graceful kill — the query object is
    * gone, the JVM could die here), the other half lands, and a
    * brand-new query RESUMES from the checkpoint. The final
    * complete-mode table must equal the single-run answer: recovery
    * faults are arithmetically visible — lost state store halves the
    * counts, a failed file-source-log recovery doubles the first file's
    * contribution. Until r12 every `*_stream_exec` gate drained in one
    * run, so checkpoint recovery was claimed but never exercised; this
    * is the exercised form (q_event_stream_exec gates it against the
    * DuckDB oracle every round). Halves split by event_id parity, so
    * their time ranges fully interleave — the restart must also accept
    * events earlier than the recovered watermark (complete mode keeps
    * all window state; nothing is droppable). */
  def tumblingRestartDrain(spark: SparkSession, eventsPath: String,
                           checkpointDir: String,
                           sinkName: String = "graft_stream_tumbling_restart")
      : DataFrame = {
    val raw = spark.read.parquet(eventsPath)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-restart-src")
    graft.TempDirs.deleteOnExit(srcDir.toFile)
    val src = srcDir.toString
    raw.filter(pmod(col("event_id"), lit(2)) === 0)
      .coalesce(1).write.mode("append").parquet(src)
    drain(spark, eventTimeWindow(rawEventSource(spark, src, checkpointDir)),
      checkpointDir, sinkName)
    raw.filter(pmod(col("event_id"), lit(2)) === 1)
      .coalesce(1).write.mode("append").parquet(src)
    drain(spark, eventTimeWindow(rawEventSource(spark, src, checkpointDir)),
      checkpointDir, sinkName)
  }

  /** Streaming keep-first paragraph dedup — the ingest-time face of
    * [[graft.operators.CorpusOps.dropRepeatedParagraphs]], built like
    * the URL crawl frontier but with DURABLE state: each micro-batch
    * runs [[graft.operators.CorpusOps.dropRepeatedParagraphsIncrement]]
    * via [[drainBatches]], anti-joining against the persisted
    * first-occurrence table at `seenPath` and appending cleaned docs to
    * `outPath` (disk state rather than dropDuplicates streaming state
    * because the table must outlive the query — a crawl ingests for
    * months — and stay probe-able by the BATCH pipeline too). Both
    * tables follow the per-batch-directory replay-idempotence contract
    * (see the increment's scaladoc — a crashed batch rewrites its own
    * `batch=<id>` dirs, never double-appends). One AvailableNow drain
    * over a fresh seen table reproduces the batch operator exactly
    * (the execution gate); later drains see only new files and drop
    * every paragraph earlier drains recorded. Returns a batch read of
    * `outPath` after the drain (partition column dropped). */
  def paraDedupAvailableNow(spark: SparkSession, docsPath: String,
                            idCol: String,
                            textExpr: org.apache.spark.sql.Column,
                            seenPath: String, outPath: String,
                            checkpointDir: String): DataFrame = {
    val (src, _) = fileSource(spark, docsPath, checkpointDir)
    drainBatches(src.select(col(idCol), textExpr.as("__text")),
        checkpointDir) { (batch, batchId) =>
      graft.operators.CorpusOps.dropRepeatedParagraphsIncrement(
        batch, idCol, "__text", seenPath, outPath, batchId)
    }
    readDrained(spark, outPath,
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(src.schema(idCol),
          StructField("clean_text", StringType),
          StructField("n_paras", LongType),
          StructField("n_removed", LongType)))))
  }

  /** Batch read of a foreachBatch per-batch-directory output table, or
    * the caller's typed empty frame when the drain produced ZERO
    * batches (ADVICE r14: an empty source directory never creates
    * outPath, and a bare read throws path-not-found instead of
    * returning an empty result). Existence goes through the path's
    * Hadoop FileSystem so HDFS/S3 deployments probe the real store. */
  private def readDrained(spark: SparkSession, outPath: String,
                          empty: => DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(outPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) spark.read.parquet(outPath).drop("batch") else empty
  }

  /** Streaming model-based quality filtering — the ingest-time face of
    * [[graft.operators.CorpusOps.nbScore]]: score every arriving
    * document against a BATCH-TRAINED Naive Bayes model (train once on
    * the labeled seed set, then filter the crawl as it lands — the
    * standard split of the DCLM/fastText recipe). Unlike the paragraph
    * frontier there is NO cross-batch state: scoring is per-document
    * given the broadcast model, so results are identical under any
    * batching (spec-pinned), and each batch's (id, pred_label,
    * nb_log_score) rows OVERWRITE their own `outPath/batch=<id>`
    * directory — the replay-idempotence contract of [[drainBatches]]:
    * a crashed-and-replayed batch rewrites identical rows instead of
    * double-appending. Returns a batch read of `outPath` after the
    * drain (partition column dropped). */
  def nbScoreAvailableNow(spark: SparkSession, docsPath: String,
                          idCol: String,
                          textExpr: org.apache.spark.sql.Column,
                          model: DataFrame, outPath: String,
                          checkpointDir: String): DataFrame = {
    val (src, _) = fileSource(spark, docsPath, checkpointDir)
    val docs = src.select(col(idCol), textExpr.as("__text"))
    drainBatches(docs, checkpointDir) { (batch, batchId) =>
      graft.operators.CorpusOps
        .nbScore(batch, model, idCol, "__text")
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
    }
    readDrained(spark, outPath, {
      // an empty static frame through the same scorer yields the exact
      // output schema without touching the (never-created) outPath
      val emptyBatch = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], docs.schema)
      graft.operators.CorpusOps.nbScore(emptyBatch, model, idCol, "__text")
    })
  }

  /** The `(id, __vec[, extraCols])` rows both vector-index drains hand
    * their writer, written once because per-tier copies are how a
    * cross-cutting edit once missed two tiers. `extraCols` ride along,
    * so every tier's FILTERED probes are reachable from streaming
    * ingest. */
  private def vectorSource(spark: SparkSession, vecsPath: String,
                           idCol: String,
                           vecExpr: org.apache.spark.sql.Column,
                           checkpointDir: String,
                           extraCols: Seq[String]): DataFrame =
    fileSource(spark, vecsPath, checkpointDir)._1
      .select(col(idCol) +: vecExpr.as("__vec") +: extraCols.map(col): _*)

  /** Streaming ANN-index ingest — the vector-side twin of the BM25
    * ingest drain ([[graft.operators.CorpusOps.bm25IndexIncrement]]):
    * every arriving embedding lands in the persisted trained IVF index
    * at `indexPath`, of either tier, through
    * [[graft.operators.Similarity.ivfBatchWriter]] (assignment — and
    * for IVF-PQ residual encoding — by the PERSISTED model; fit it first
    * with [[graft.operators.Similarity.ivfInit]]). The writer resolves
    * the root and loads the model once per drain, and again only when a
    * retrain publishes a new generation between micro-batches. Each
    * batch overwrites its own `batch=<id>/cell=<c>` subtree, so replays
    * rewrite rather than double-append and results are
    * batching-invariant: assignment reads no cross-batch state. After
    * the drain the index is immediately probe-able by
    * `Similarity.ivfProbe`, filtered or not — one drain over a corpus
    * probes exactly like a one-shot `Similarity.ivfBuild` under the same
    * model (the execution gates `q_ivf_stream_exec` and
    * `q_ivfpq_stream_exec`); later drains see only new files and extend
    * the index incrementally (spec-pinned). */
  def ivfIndexAvailableNow(spark: SparkSession, vecsPath: String,
                           idCol: String,
                           vecExpr: org.apache.spark.sql.Column,
                           indexPath: String,
                           checkpointDir: String,
                           extraCols: Seq[String] = Nil): Unit =
    drainBatches(vectorSource(spark, vecsPath, idCol, vecExpr,
        checkpointDir, extraCols), checkpointDir)(
      graft.operators.Similarity.ivfBatchWriter(spark, indexPath, idCol,
        "__vec", extraCols))

  /** [[ivfIndexAvailableNow]] on a model-free
    * [[graft.operators.VectorIndex]]: arriving embeddings are encoded
    * by `codec` (a pure per-vector function — binary signature, int8
    * quantization or SRP cell) into per-batch `batch=<id>` subtrees, as
    * [[graft.operators.VectorIndex.appendBatch]] does — replays rewrite
    * identical rows, probes read the encoded rows at rest. An SRP root
    * gets its width ensured (written when empty, never overwritten: a
    * different width refuses loudly) and read ONCE per drain, never per
    * micro-batch. One drain probes exactly like a one-shot
    * [[graft.operators.VectorIndex.build]] (the execution gates
    * `q_bq_stream_exec`, `q_int8_stream_exec`, `q_srp_stream_exec`);
    * `extraCols` ride the rows, so a streamed index serves filtered
    * probes like a one-shot build with metadata. */
  def vectorIndexAvailableNow(spark: SparkSession, vecsPath: String,
                              idCol: String,
                              vecExpr: org.apache.spark.sql.Column,
                              indexPath: String, checkpointDir: String,
                              codec: graft.operators.VectorCodec,
                              extraCols: Seq[String] = Nil): Unit =
    drainBatches(vectorSource(spark, vecsPath, idCol, vecExpr,
        checkpointDir, extraCols), checkpointDir)(
      graft.operators.VectorIndex.batchWriter(spark, indexPath, codec,
        idCol, "__vec", extraCols))

  /** Drain `source` through the incremental engine into the in-memory
    * table `sinkName` and return that table: every row the source holds
    * now (Trigger.AvailableNow), blocking until the drain completes.
    * Each catalog `*_stream_exec` gate composes its batch operator over
    * a [[rawEventSource]] here, so "streaming twin == batch answer" is
    * checked through the real incremental engine.
    *
    * The mode follows the operator:
    *   - aggregations use Complete (the default): at drain time the
    *     watermark still trails max event time, so Append would hold
    *     back the final window(s), while Complete emits the full state,
    *     which is exactly the batch answer;
    *   - dedup and INNER stream-stream joins use Append: their rows emit
    *     on admission and nothing waits on the watermark (holdback
    *     applies to outer joins and aggregations, which must wait to
    *     declare no-match or finality), and dropDuplicates does not
    *     support Complete;
    *   - mapGroupsWithState uses Update, its only fit-for-purpose mode
    *     (Complete is unsupported): each touched group emits the
    *     function's return per micro-batch, so a single-file source,
    *     drained in one micro-batch, leaves one final row per group.
    *
    * The memory sink is bounded by the group/key count, not the event
    * count; unbounded output goes to storage through [[drainBatches]].
    * It resumes a checkpoint only in Complete mode: Spark refuses a
    * second Append or Update drain on one checkpoint. */
  def drain(spark: SparkSession, source: DataFrame, checkpointDir: String,
            sinkName: String,
            mode: OutputMode = OutputMode.Complete()): DataFrame = {
    availableNow(source, checkpointDir)(
      _.outputMode(mode).format("memory").queryName(sinkName))
    spark.table(sinkName)
  }

  /** Drain `source` through the incremental engine, handing each
    * micro-batch and its id to `write` (foreachBatch), blocking until
    * the drain completes. The checkpoint makes a later drain process
    * only the files earlier drains did not.
    *
    * `write` must be replay-idempotent: a micro-batch whose drain failed
    * before the batch committed is handed to the next drain on the same
    * checkpoint again, with the same id and the same rows (spec-pinned).
    * The house contract is a per-batch directory: batch `b` OVERWRITES
    * its own `<out>/batch=<b>`, so a replay replaces its output and
    * never duplicates it. Whatever `write` must open once per drain — a
    * model, a resolved root, an SRP width — its factory opens before
    * the drain starts ([[graft.operators.VectorIndex.batchWriter]]). */
  def drainBatches(source: DataFrame, checkpointDir: String)(
      write: (DataFrame, Long) => Unit): Unit =
    availableNow(source, checkpointDir)(_.foreachBatch(write))

  /** The one AvailableNow run under [[drain]] and [[drainBatches]]:
    * `sink` picks the output, the run blocks until the source is
    * exhausted and rethrows a failed micro-batch's error. */
  private def availableNow(source: DataFrame, checkpointDir: String)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit =
    sink(source.writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", checkpointDir))
      .start().awaitTermination()
}
