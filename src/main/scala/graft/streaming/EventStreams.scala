package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
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

  /** Incremental ETL: drain whatever is in the source now
    * (Trigger.AvailableNow), transform, land parquet partitioned by
    * event_type via an idempotent foreachBatch (batchId-keyed overwrite:
    * re-running a failed batch replaces, never duplicates). Blocks until
    * the drain completes; returns the written path. Checkpoint makes
    * successive calls process only NEW files. */
  def etlAvailableNow(spark: SparkSession, srcDir: String, outDir: String,
                      checkpointDir: String): String = {
    val q = readEventStream(spark, srcDir)
      .withColumn("k_val",
        org.apache.spark.sql.functions.get_json_object(
          org.apache.spark.sql.functions.col("props"), "$.k").cast("long"))
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("event_type")
          .parquet(s"$outDir/batch=$batchId")
      }
      .start()
    q.awaitTermination()
    outDir
  }

  /** Streaming maintenance of a mergeable sketch table — the streaming
    * face of [[graft.operators.Sketches]]: each micro-batch appends
    * per-(hour, event_type) THETA sketches of the batch's user_ids to
    * `sketchDir/batch=<id>`, so ingest keeps the sketch table current
    * and any later distinct-count / set-overlap question merges
    * KB-sized sketch rows ([[graft.operators.Sketches.thetaUnionBy]])
    * instead of rescanning events — at 100 TB the difference between
    * answering from metadata and re-shuffling history.
    *
    * Idempotence without a table format: a replayed batch rewrites ITS
    * OWN `batch=<id>` directory deterministically (same events → same
    * sketch bytes), the same per-batch-directory contract as
    * [[etlAvailableNow]]. Multiple sketches for one (window, type)
    * across batches are fine BY CONSTRUCTION — theta unions are the
    * merge, that is the whole point of a mergeable sketch table.
    * Returns `sketchDir`. */
  def sketchAvailableNow(spark: SparkSession, eventsPath: String,
                         sketchDir: String, checkpointDir: String,
                         lgK: Int = 12): String = {
    import org.apache.spark.sql.functions._
    val q = rawEventSource(spark, eventsPath)
      .select(date_trunc("hour", col("ts")).as("w_start"),
        col("event_type"), col("user_id"))
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.groupBy(col("w_start"), col("event_type"))
          .agg(theta_sketch_agg(col("user_id"), lgK).as("theta"))
          .write.mode("overwrite").parquet(s"$sketchDir/batch=$batchId")
      }
      .start()
    q.awaitTermination()
    sketchDir
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
    val q = spark.readStream.schema(updateSchema).parquet(updatesDir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
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
      .start()
    q.awaitTermination()
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
    * The file-stream source lists a DIRECTORY; the driver's table is a
    * single parquet file, so stage it behind a hardlink (zero-copy; copy
    * as the cross-device fallback) in a scratch dir registered for
    * JVM-exit deletion. */
  def rawEventSource(spark: SparkSession, eventsPath: String): DataFrame = {
    val (src, probed) = fileSource(spark, eventsPath)
    src.withColumn("ts", graft.Tables.normalizedTs(probed("ts").dataType))
  }

  /** Schema-probed file-stream source over a parquet file or directory
    * (the file-source API wants a directory; a single file is staged
    * into a scratch dir by hard link, copy as the cross-device
    * fallback). Returns the streaming frame plus the probed schema —
    * a hard-coded stream schema silently MISREADS re-encoded data (the
    * r9 events lesson), so every streaming face probes. */
  private[graft] def fileSource(spark: SparkSession,
                                path: String): (DataFrame, StructType) = {
    val f = new java.io.File(path)
    val srcDir = if (f.isFile) {
      val dir = java.nio.file.Files.createTempDirectory("graft-stream-src")
      graft.TempDirs.deleteOnExit(dir.toFile)
      val staged = dir.resolve(f.getName)
      try java.nio.file.Files.createLink(staged, f.toPath)
      catch { case _: Exception =>
        java.nio.file.Files.copy(f.toPath, staged); ()
      }
      dir.toString
    } else path
    val probed = spark.read.parquet(srcDir).schema
    (spark.readStream.schema(probed).parquet(srcDir), probed)
  }

  /** Runs [[eventTimeWindow]] as a REAL Structured Streaming query over
    * the raw events parquet: `readStream` file source →
    * `Trigger.AvailableNow` (drain everything currently in the source,
    * then stop) → complete-mode in-memory sink, blocking until the drain
    * finishes, and returns the sink's contents — the execution gate that
    * proves the streaming twin doesn't just compile but produces the
    * batch answer through the incremental engine (mode rationale on
    * [[drainToMemory]]). */
  def tumblingAvailableNow(spark: SparkSession, eventsPath: String,
                           checkpointDir: String,
                           sinkName: String = "graft_stream_tumbling"): DataFrame =
    drainToMemory(spark, eventTimeWindow(rawEventSource(spark, eventsPath)),
      checkpointDir, sinkName)

  /** Kill-and-restart execution gate: [[tumblingAvailableNow]] split
    * into TWO AvailableNow runs sharing one checkpoint. Half the source
    * rows land as one file, the first drain runs to completion and
    * STOPS (a graceful kill — the query object is gone, the JVM could
    * die here), the other half lands, and a brand-new query RESUMES
    * from the checkpoint. The final complete-mode table must equal the
    * single-run answer: recovery faults are arithmetically visible —
    * lost state store halves the counts, a failed file-source-log
    * recovery doubles the first file's contribution. Until r12 every
    * `*_stream_exec` gate drained in one run, so checkpoint recovery
    * was claimed but never exercised; this is the exercised form
    * (q_event_stream_exec gates it against the DuckDB oracle every
    * round). Halves split by event_id parity, so their time ranges
    * fully interleave — the restart must also accept events earlier
    * than the recovered watermark (complete mode keeps all window
    * state; nothing is droppable). */
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
    drainToMemory(spark, eventTimeWindow(rawEventSource(spark, src)),
      checkpointDir, sinkName)
    raw.filter(pmod(col("event_id"), lit(2)) === 1)
      .coalesce(1).write.mode("append").parquet(src)
    drainToMemory(spark, eventTimeWindow(rawEventSource(spark, src)),
      checkpointDir, sinkName)
  }

  /** Runs [[sessionWindow]] (built-in gap-based `session_window` state)
    * through the real incremental engine the same way
    * [[tumblingAvailableNow]] does: `readStream` over the raw events
    * parquet → AvailableNow drain → complete-mode memory sink. Returns
    * the per-(session, user) rows; the catalog gate rolls them up to the
    * per-user (n_sessions, n_events) shape of the q_event_sessions
    * oracle — a plain batch aggregation over the sink table, so the
    * stateful part under test is exactly the session-merge logic. */
  def sessionsAvailableNow(spark: SparkSession, eventsPath: String,
                           checkpointDir: String,
                           sinkName: String = "graft_stream_sessions"): DataFrame =
    drainToMemory(spark, sessionWindow(rawEventSource(spark, eventsPath)),
      checkpointDir, sinkName)

  /** Runs [[slidingWindow]] through the incremental engine the same way
    * — overlapping windows multiply state rows (4 windows per event at
    * 1h/15min), which is exactly the state-growth shape worth pinning
    * against the batch oracle. */
  def slidingAvailableNow(spark: SparkSession, eventsPath: String,
                          checkpointDir: String,
                          sinkName: String = "graft_stream_sliding"): DataFrame =
    drainToMemory(spark, slidingWindow(rawEventSource(spark, eventsPath)),
      checkpointDir, sinkName)

  /** Runs [[dedupStream]] (watermark-bounded `dropDuplicates` state)
    * through the incremental engine, keyed on `keys`, returning only the
    * key columns: WHICH physical row survives for a key is a race
    * between partitions inside a micro-batch, but that exactly one row
    * per key survives is the state contract under test — key columns
    * are the deterministic projection of it. Append mode: dedup emits
    * rows the moment they are admitted (no window to finalize), so
    * unlike the aggregation gates nothing is held back by the trailing
    * watermark. The driver's table is a single file → a single
    * micro-batch, so no key's state can be watermark-evicted mid-drain
    * and the output is one row per distinct key, i.e. SELECT DISTINCT. */
  def dedupAvailableNow(spark: SparkSession, eventsPath: String,
                        checkpointDir: String, keys: Seq[String],
                        sinkName: String = "graft_stream_dedup"): DataFrame =
    drainToMemory(spark,
      dedupStream(rawEventSource(spark, eventsPath), keys = keys)
        .select(keys.map(col): _*),
      checkpointDir, sinkName, OutputMode.Append())

  /** STREAMING URL-level dedup through the incremental engine — the
    * crawl-frontier shape: URLs canonicalize and dedup AS THEY ARRIVE,
    * so a fetcher fed from this stream never re-downloads a resource
    * already seen under another spelling. `urlExpr` derives the raw
    * URL from the source's columns; rows whose URL fails to
    * canonicalize are passed over (a frontier cannot key on NULL —
    * batch [[graft.operators.CorpusOps.urlDedup]] keeps them, which is
    * the right call when ACCOUNTING rather than fetching). Emits the
    * canonical only: which physical row survives a canonical is a
    * partition race, exactly-one-per-canonical is the contract (same
    * rule as [[dedupAvailableNow]]).
    *
    * State = one entry per distinct canonical — a production frontier
    * bounds it with `withWatermark` on crawl time + dropDuplicates
    * within the watermark; this AvailableNow drain over a staged
    * snapshot has no time column, and its state is bounded by the
    * snapshot's distinct count. */
  def urlDedupAvailableNow(spark: SparkSession, docsPath: String,
                           urlExpr: org.apache.spark.sql.Column,
                           checkpointDir: String,
                           sinkName: String = "graft_stream_urldedup"): DataFrame = {
    val (src, _) = fileSource(spark, docsPath)
    drainToMemory(spark,
      src.select(graft.operators.CorpusOps.canonicalUrl(urlExpr)
          .as("canonical_url"))
        .filter(col("canonical_url").isNotNull)
        .dropDuplicates("canonical_url"),
      checkpointDir, sinkName, OutputMode.Append())
  }

  /** Streaming keep-first paragraph dedup — the ingest-time face of
    * [[graft.operators.CorpusOps.dropRepeatedParagraphs]], built like
    * the URL crawl frontier but with DURABLE state: each micro-batch
    * runs [[graft.operators.CorpusOps.dropRepeatedParagraphsIncrement]]
    * via foreachBatch, anti-joining against the persisted
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
    val (src, _) = fileSource(spark, docsPath)
    val q = src.select(col(idCol), textExpr.as("__text"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.CorpusOps.dropRepeatedParagraphsIncrement(
          batch, idCol, "__text", seenPath, outPath, batchId)
      }
      .start()
    q.awaitTermination()
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
    * directory — the house replay-idempotence contract
    * ([[etlAvailableNow]]): a crashed-and-replayed batch rewrites
    * identical rows instead of double-appending. Returns a batch read
    * of `outPath` after the drain (partition column dropped). */
  def nbScoreAvailableNow(spark: SparkSession, docsPath: String,
                          idCol: String,
                          textExpr: org.apache.spark.sql.Column,
                          model: DataFrame, outPath: String,
                          checkpointDir: String): DataFrame = {
    val (src, _) = fileSource(spark, docsPath)
    val q = src.select(col(idCol), textExpr.as("__text"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.CorpusOps
          .nbScore(batch, model, idCol, "__text")
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        ()
      }
      .start()
    q.awaitTermination()
    readDrained(spark, outPath, {
      // an empty static frame through the same scorer yields the exact
      // output schema without touching the (never-created) outPath
      val emptyBatch = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        src.select(col(idCol), textExpr.as("__text")).schema)
      graft.operators.CorpusOps.nbScore(emptyBatch, model, idCol, "__text")
    })
  }

  /** Streaming BM25-index ingest — the crawl-to-searchable-index
    * pipeline: every arriving document's postings land in the
    * persisted [[graft.operators.CorpusOps.buildBm25Index]]-style
    * layout via [[graft.operators.CorpusOps.bm25IndexIncrement]]
    * (per-batch directories on all three tables — postings, df,
    * stats — so replays rewrite rather than double-append; no
    * cross-batch state is read, so results are batching-invariant).
    * After the drain the index is immediately probe-able by
    * [[graft.operators.CorpusOps.bm25TopKIndexed]] — one drain over
    * the whole corpus probes exactly like a one-shot build (the
    * execution gate); later drains see only new files and extend the
    * index incrementally (spec-pinned). */
  def bm25IndexAvailableNow(spark: SparkSession, docsPath: String,
                            idCol: String,
                            textExpr: org.apache.spark.sql.Column,
                            indexPath: String,
                            checkpointDir: String): Unit = {
    val (src, _) = fileSource(spark, docsPath)
    val q = src.select(col(idCol), textExpr.as("__text"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.CorpusOps.bm25IndexIncrement(
          batch, idCol, "__text", indexPath, batchId)
      }
      .start()
    q.awaitTermination()
  }

  /** The shared AvailableNow drain skeleton of the two vector-index
    * ingest faces (trained IVF / the model-free codecs — r18 review:
    * copy-paste variants are why a cross-cutting edit missed two
    * tiers): one file source, `(id, __vec[, extras])` projection, a
    * replay-idempotent per-batch append, await. `extraCols` ride the
    * projection so every tier's FILTERED probes are reachable from
    * streaming ingest. */
  private def drainVectorIndex(spark: SparkSession, vecsPath: String,
                               idCol: String,
                               vecExpr: org.apache.spark.sql.Column,
                               checkpointDir: String,
                               extraCols: Seq[String])(
      append: (DataFrame, Long) => Unit): Unit = {
    val (src, _) = fileSource(spark, vecsPath)
    val q = src.select(col(idCol) +: vecExpr.as("__vec") +:
        extraCols.map(col): _*)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch(append)
      .start()
    q.awaitTermination()
  }

  /** Streaming ANN-index ingest — the vector-side twin of
    * [[bm25IndexAvailableNow]]: every arriving embedding lands in the
    * persisted trained IVF index at `indexPath`, of either tier, via
    * [[graft.operators.Similarity.ivfAppendBatch]] (assignment — and
    * for IVF-PQ residual encoding — by the PERSISTED model; fit it first
    * with [[graft.operators.Similarity.ivfInit]]). Each batch overwrites
    * its own `batch=<id>/cell=<c>` subtree, so replays rewrite rather
    * than double-append and results are batching-invariant: assignment
    * reads no cross-batch state. After the drain the index is
    * immediately probe-able by `Similarity.ivfProbe`, filtered or not —
    * one drain over a corpus probes exactly like a one-shot
    * `Similarity.ivfBuild` under the same model (the execution gates
    * `q_ivf_stream_exec` and `q_ivfpq_stream_exec`); later drains see
    * only new files and extend the index incrementally (spec-pinned). */
  def ivfIndexAvailableNow(spark: SparkSession, vecsPath: String,
                           idCol: String,
                           vecExpr: org.apache.spark.sql.Column,
                           indexPath: String,
                           checkpointDir: String,
                           extraCols: Seq[String] = Nil): Unit =
    drainVectorIndex(spark, vecsPath, idCol, vecExpr, checkpointDir,
      extraCols) { (batch, batchId) =>
      graft.operators.Similarity.ivfAppendBatch(
        batch, idCol, "__vec", indexPath, batchId, extraCols)
    }

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
    drainVectorIndex(spark, vecsPath, idCol, vecExpr, checkpointDir,
      extraCols)(graft.operators.VectorIndex.batchWriter(spark, indexPath,
      codec, idCol, "__vec", extraCols))

  /** Runs [[userRunningTotals]] (mapGroupsWithState — the arbitrary-
    * state API) through the incremental engine. Update mode: custom
    * state emits the function's return per touched group per batch
    * (complete mode is not supported for mapGroupsWithState); the
    * single-file source drains in one batch, so the sink holds exactly
    * one final row per user. The gate projects (user_id, n_events)
    * — the float total is deliberately excluded: the stateful count is
    * the machinery under test, and a JVM-rounded running double vs the
    * oracle's round(sum(value),2) differ in rounding flavor, which
    * would gate rounding trivia, not state correctness (total_value
    * equality with batch is spec-pinned in EventStreamsSpec). */
  def totalsAvailableNow(spark: SparkSession, eventsPath: String,
                         checkpointDir: String,
                         sinkName: String = "graft_stream_totals"): DataFrame = {
    import spark.implicits._
    val src = rawEventSource(spark, eventsPath).as[Event]
    drainToMemory(spark,
      userRunningTotals(spark, src).toDF()
        .select(col("user_id"), col("n_events")),
      checkpointDir, sinkName, OutputMode.Update())
  }

  /** Runs [[funnelStream]] (custom funnel GroupState) through the
    * incremental engine. Update mode (mapGroupsWithState's only
    * fit-for-purpose mode); the single-file source drains in ONE
    * micro-batch, so every user's fold sees its full history sorted —
    * the drained sink holds exactly the batch funnel result and
    * hash-compares against the same iterative-min oracle as
    * q_funnel_ordered. */
  def funnelAvailableNow(spark: SparkSession, eventsPath: String,
                         checkpointDir: String,
                         sinkName: String = "graft_stream_funnel"): DataFrame = {
    import spark.implicits._
    val src = rawEventSource(spark, eventsPath).as[Event]
    drainToMemory(spark, funnelStream(spark, src).toDF(),
      checkpointDir, sinkName, OutputMode.Update())
  }

  /** Runs [[signupPurchaseJoin]] (stream-stream interval join) through
    * the incremental engine. INNER join rows emit as soon as both sides
    * match — append mode holds nothing back (watermark holdback applies
    * to outer joins and aggregations, which must wait to declare
    * no-match/finality) — so an AvailableNow drain yields the complete
    * batch join result and can be oracle-gated exactly. The watermarks
    * still matter: they are what lets the engine EVICT each side's
    * state once the other side's watermark passes the horizon. */
  def joinAvailableNow(spark: SparkSession, eventsPath: String,
                       checkpointDir: String,
                       sinkName: String = "graft_stream_join"): DataFrame =
    drainToMemory(spark,
      signupPurchaseJoin(rawEventSource(spark, eventsPath)),
      checkpointDir, sinkName, OutputMode.Append())

  /** Shared drain: memory sink + AvailableNow trigger, blocking until
    * the source is exhausted. The aggregation gates use Complete mode
    * (not append): at drain time the watermark still trails max event
    * time, so append would hold back the final window(s); complete
    * emits the full state, which is exactly the batch-equivalence
    * property the gates pin. The dedup gate uses Append (its rows emit
    * immediately; dropDuplicates does not support Complete). The memory
    * sink is bounded by the group/key count, not the event count; the
    * production path for unbounded output is [[etlAvailableNow]]'s
    * foreachBatch → parquet. */
  private[graft] def drainToMemory(spark: SparkSession, transformed: DataFrame,
                            checkpointDir: String, sinkName: String,
                            mode: OutputMode = OutputMode.Complete()): DataFrame = {
    val q = transformed
      .writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(sinkName)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(sinkName)
  }
}
