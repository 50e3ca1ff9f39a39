package graft

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.streaming.EventStreams
import graft.operators.{IvfTier, Similarity}

/** Streaming specs: the sf0.001 events parquet drives each streaming
  * query synchronously (file source -> memory sink,
  * processAllAvailable), and windowed results are cross-checked against
  * the identical batch aggregation. */
class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val eventsDir: String = {
    // stage the events file in a directory the file-stream source can list
    val dir = java.nio.file.Files.createTempDirectory("events_stream").toString
    Tables.events(spark, sfDir).write.mode("overwrite").parquet(dir)
    dir
  }

  private def runToMemory(df: org.apache.spark.sql.DataFrame,
                          name: String,
                          mode: String = "append"): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  test("tumbling window stream matches the batch aggregation") {
    val streamed = runToMemory(
      EventStreams.eventTimeWindow(
        EventStreams.readEventStream(spark, eventsDir)),
      "win_out", mode = "complete")
      .select("w_start", "event_type", "n", "sum_value")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet

    val batch = Tables.events(spark, sfDir)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_value"))
      .select($"window.start".as("w_start"), $"event_type", $"n", $"sum_value")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet

    assert(streamed == batch)
  }

  test("kill-and-restart: a new query resumes from the checkpoint, " +
    "processes only the new file, and recovers the window state") {
    val src = java.nio.file.Files.createTempDirectory("restart_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("restart_ckpt").toString
    val ev = Tables.events(spark, sfDir)
    val half = ev.filter(pmod($"event_id", lit(2)) === 0)
    half.coalesce(1).write.mode("append").parquet(src)
    // run 1: drain the first half, then the query object is GONE
    val mid = EventStreams.drain(spark,
      EventStreams.eventTimeWindow(
        EventStreams.rawEventSource(spark, src, ckpt)),
      ckpt, "restart_mid")
    assert(mid.agg(sum($"n")).as[Long].head() == half.count())
    // run 2: land the other half, resume a brand-new query from ckpt
    ev.filter(pmod($"event_id", lit(2)) === 1)
      .coalesce(1).write.mode("append").parquet(src)
    val fin = EventStreams.drain(spark,
      EventStreams.eventTimeWindow(
        EventStreams.rawEventSource(spark, src, ckpt)),
      ckpt, "restart_fin")
      .select("w_start", "event_type", "n", "sum_value")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    // final table equals the single-pass batch answer: lost state would
    // halve the early windows, a replayed first file would double them
    val batch = ev
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_value"))
      .select($"window.start".as("w_start"), $"event_type", $"n",
        $"sum_value")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    assert(fin == batch)
  }

  test("session windows produce per-user sessions") {
    val out = runToMemory(
      EventStreams.sessionWindow(EventStreams.readEventStream(spark, eventsDir)),
      "sess_out", mode = "complete")
    assert(out.count() > 0)
    // every (user, session) has at least one event
    assert(out.filter($"n_events" < 1).isEmpty)
  }

  test("stateful running totals accumulate across triggers") {
    import graft.streaming.EventStreams.{Event, UserTotals}
    val stream = EventStreams.readEventStream(spark, eventsDir).as[Event]
    val totals = EventStreams.userRunningTotals(spark, stream)
    val q = totals.writeStream.outputMode("update")
      .format("memory").queryName("tot_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("tot_out").as[UserTotals].collect()
      .groupBy(_.user_id).map { case (u, rows) => u -> rows.map(_.n_events).max }
    val expected = Tables.events(spark, sfDir)
      .groupBy($"user_id").count()
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("AvailableNow ETL drains the source once and is incremental") {
    val src = java.nio.file.Files.createTempDirectory("etl_src").toString
    val out = java.nio.file.Files.createTempDirectory("etl_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("etl_ckpt").toString
    val ev = Tables.events(spark, sfDir)
    ev.limit(400).write.mode("append").parquet(src)
    def etl(): Unit = EventStreams.drainBatches(
        EventStreams.readEventStream(spark, src).withColumn("k_val",
          get_json_object(col("props"), "$.k").cast("long")), ckpt) {
      (batch, batchId) =>
        batch.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("event_type")
          .parquet(s"$out/batch=$batchId")
    }
    etl()
    val first = spark.read.parquet(s"$out/batch=*").count()
    assert(first == 400)
    // second drain with no new files: no new rows land
    etl()
    assert(spark.read.parquet(s"$out/batch=*").count() == first)
    // partitioned by event_type on disk
    val batchDir = new java.io.File(out).listFiles().head
    assert(batchDir.listFiles().exists(_.getName.startsWith("event_type=")))
  }

  test("stream-stream interval join matches the batch equivalent") {
    val streamed = runToMemory(
      EventStreams.signupPurchaseJoin(
        EventStreams.readEventStream(spark, eventsDir)),
      "ssj_out")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Double)]
      .collect().toSet

    val ev = Tables.events(spark, sfDir)
    val s = ev.filter($"event_type" === "signup")
      .select($"user_id", $"ts".as("signup_ts"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"ts".as("purchase_ts"), $"value")
    val batch = s.join(p, $"user_id" === $"pu" &&
        $"purchase_ts" > $"signup_ts" &&
        $"purchase_ts" <= $"signup_ts" + expr("interval 1 hour"))
      .select($"user_id", $"signup_ts", $"purchase_ts", $"value")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Double)]
      .collect().toSet

    assert(streamed == batch)
    assert(batch.nonEmpty) // the data actually exercises the join
  }

  test("late data beyond the watermark is dropped from append output") {
    import org.apache.spark.sql.functions.{lit => flit}
    val dir = java.nio.file.Files.createTempDirectory("late_src").toString
    val ev = Tables.events(spark, sfDir)
    val maxTs = ev.agg(max($"ts")).collect()(0).getTimestamp(0)

    // batch 1: everything we have
    ev.write.mode("append").parquet(dir)
    val agg = EventStreams.eventTimeWindow(
      EventStreams.readEventStream(spark, dir),
      windowLen = "1 hour", watermark = "2 hours")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      q.processAllAvailable()
      // batch 2: one VERY late event (6h before max) plus one fresh event
      // that pushes the watermark forward
      val late = java.sql.Timestamp.from(maxTs.toInstant.minusSeconds(6 * 3600))
      val fresh = java.sql.Timestamp.from(maxTs.toInstant.plusSeconds(3 * 3600))
      Seq((900001L, late, 1L, "click", 1.0, "{}"),
        (900002L, fresh, 1L, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      // batch 3: another late event, now behind the advanced watermark
      Seq((900003L, late, 2L, "click", 5000.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()

    // the third batch's late event must NOT appear: its window closed
    // when the fresh event advanced the watermark past it
    val lateWindow = spark.table("late_out")
      .filter($"sum_value" >= 5000.0)
    assert(lateWindow.isEmpty)
  }

  test("RocksDB state store produces the same windowed results") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val viaRocks = runToMemory(
        EventStreams.eventTimeWindow(
          EventStreams.readEventStream(spark, eventsDir)),
        "rocks_out", mode = "complete")
        .select("w_start", "event_type", "n", "sum_value")
        .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
      val batch = Tables.events(spark, sfDir)
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_value"))
        .select($"window.start".as("w_start"), $"event_type", $"n", $"sum_value")
        .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
      assert(viaRocks == batch)
    } finally prev match {
      case Some(p) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("AvailableNow tumbling drain over the raw parquet matches batch") {
    // the execution gate's exact path: nanos-typed readStream schema
    // over the driver's events.parquet, AvailableNow trigger, complete-
    // mode memory sink (q_event_stream_exec runs this in Verify)
    val ckpt = java.nio.file.Files.createTempDirectory("an_ckpt").toString
    val streamed = EventStreams.drain(spark,
        EventStreams.eventTimeWindow(EventStreams.rawEventSource(
          spark, s"$sfDir/events.parquet", ckpt)), ckpt, "an_tumbling")
      .select("w_start", "event_type", "n", "sum_value")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    val batch = Tables.events(spark, sfDir)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_value"))
      .select($"window.start".as("w_start"), $"event_type", $"n", $"sum_value")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming dedup drops duplicate event_ids within the watermark") {
    // duplicate the stream directory content to force dups
    val dupDir = java.nio.file.Files.createTempDirectory("events_dup").toString
    val ev = Tables.events(spark, sfDir)
    ev.write.mode("overwrite").parquet(dupDir)
    ev.write.mode("append").parquet(dupDir)
    val out = runToMemory(
      EventStreams.dedupStream(EventStreams.readEventStream(spark, dupDir)),
      "dedup_out")
    val n = out.select("event_id").distinct().count()
    assert(out.count() == n) // no duplicate ids in the output
    assert(n == ev.count())
  }

  test("funnel state carries across micro-batches: a time-split " +
    "two-batch drain equals the batch funnel") {
    // Split events at the median ts into two files and force one
    // micro-batch per file (maxFilesPerTrigger=1): every user's fold
    // pauses mid-history with its GroupState carrying the completed
    // steps, then continues in batch 2 — the carried-state path the
    // single-batch exec gate never exercises. In-order landing (the
    // documented funnelStream contract) holds by the time split.
    val ev = Tables.events(spark, sfDir)
    val cut = ev.selectExpr("percentile_approx(ts, 0.5)").collect()(0)
      .getTimestamp(0)
    val dir = java.nio.file.Files.createTempDirectory("funnel_split").toString
    ev.filter($"ts" <= cut).coalesce(1).write.parquet(s"$dir/b=1")
    ev.filter($"ts" > cut).coalesce(1).write.parquet(s"$dir/b=2")
    // lexicographic file listing drives batch order: stage flat files
    val flat = java.nio.file.Files.createTempDirectory("funnel_flat").toString
    def onePart(sub: String, out: String): Unit = {
      val f = new java.io.File(s"$dir/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(s"$flat/$out"))
    }
    onePart("b=1", "a-first.parquet")
    onePart("b=2", "b-second.parquet")
    // the file source orders batches by modification time (path breaks
    // ties) — make the intended order explicit rather than relying on
    // copy timing
    assert(new java.io.File(s"$flat/a-first.parquet")
      .setLastModified(1000000000000L))
    assert(new java.io.File(s"$flat/b-second.parquet")
      .setLastModified(1000000100000L))
    val src = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(flat).as[EventStreams.Event]
    val streamed = runToMemory(
      EventStreams.funnelStream(spark, src).toDF(), "funnel_2batch",
      mode = "update")
      .groupBy($"user_id") // update mode: keep each user's LAST emit
      .agg(max(struct($"steps_completed", $"t_signup", $"t_click",
        $"t_purchase")).as("s"))
      .select($"user_id", $"s.t_signup", $"s.t_click", $"s.t_purchase",
        $"s.steps_completed")
    val batch = graft.operators.TimeSeries.funnel(ev, "user_id", "ts",
      Seq($"event_type" === "signup", $"event_type" === "click",
        $"event_type" === "purchase"),
      Seq("t_signup", "t_click", "t_purchase"))
    val s = streamed.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val b = batch.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(s.keySet == b.keySet,
      s"entity sets differ: ${(s.keySet diff b.keySet).take(3)} / " +
        s"${(b.keySet diff s.keySet).take(3)}")
    val bad = s.keys.filter(k => s(k) != b(k)).take(3)
    assert(bad.isEmpty, s"mismatch at users $bad: " +
      bad.map(k => s"$k: streamed=${s(k)} batch=${b(k)}").mkString("; "))
  }

  test("funnel batch/stream parity on the equal-timestamp edge: an " +
    "event AT the previous completion time never advances, in BOTH " +
    "implementations") {
    // The greedy-fold law both implementations claim: step i needs time
    // STRICTLY after step i-1's completion. Planted edges:
    //  user 1: click AT the signup instant (no advance), then a later
    //          click (advances), purchase AT that click (no advance)
    //          -> steps_completed = 2
    //  user 2: clean strict ladder -> 3
    //  user 3: signup only, duplicate signup at same instant -> 1
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      EventStreams.Event(1L, ts("2024-01-01 10:00:00"), 1L, "signup", 0, "{}"),
      EventStreams.Event(2L, ts("2024-01-01 10:00:00"), 1L, "click", 0, "{}"),
      EventStreams.Event(3L, ts("2024-01-01 11:00:00"), 1L, "click", 0, "{}"),
      EventStreams.Event(4L, ts("2024-01-01 11:00:00"), 1L, "purchase", 0, "{}"),
      EventStreams.Event(5L, ts("2024-01-02 09:00:00"), 2L, "signup", 0, "{}"),
      EventStreams.Event(6L, ts("2024-01-02 09:30:00"), 2L, "click", 0, "{}"),
      EventStreams.Event(7L, ts("2024-01-02 09:45:00"), 2L, "purchase", 0, "{}"),
      EventStreams.Event(8L, ts("2024-01-03 08:00:00"), 3L, "signup", 0, "{}"),
      EventStreams.Event(9L, ts("2024-01-03 08:00:00"), 3L, "signup", 0, "{}"))
    val dir = java.nio.file.Files.createTempDirectory("funnel_edge")
      .toString + "/events"
    rows.toDF().coalesce(1).write.parquet(dir)
    val batchDf = spark.read.parquet(dir)
    val batch = graft.operators.TimeSeries.funnel(batchDf, "user_id", "ts",
      Seq($"event_type" === "signup", $"event_type" === "click",
        $"event_type" === "purchase"),
      Seq("t_signup", "t_click", "t_purchase"))
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val src = spark.readStream.schema(batchDf.schema).parquet(dir)
      .as[EventStreams.Event]
    val streamed = runToMemory(
      EventStreams.funnelStream(spark, src).toDF(), "funnel_edge_out",
      mode = "update")
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(batch == streamed,
      s"batch=$batch\nstreamed=$streamed")
    // and the law itself, pinned on the planted values
    assert(batch(1L).last == 2L, s"user1: ${batch(1L)}")
    assert(batch(2L).last == 3L)
    assert(batch(3L).last == 1L)
  }

  test("scd2AvailableNow: incremental history equals sequential batch SCD2") {
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("scd2_stream").toString
    val (dimPath, upd, ckpt) = (s"$base/dim", s"$base/upd", s"$base/ckpt")
    def d(s: String) = java.sql.Date.valueOf(s)
    Seq((1L, "A", d("2020-01-01"), Option.empty[java.sql.Date]),
      (3L, "K", d("2020-01-01"), Option.empty[java.sql.Date]))
      .toDF("k", "attr", "valid_from", "valid_to")
      .write.parquet(s"$dimPath/v=0")
    val schema = new StructType()
      .add("k", LongType).add("attr", StringType).add("ts", DateType)

    // first drain: two updates for k=1 in ONE batch (collapse to the
    // latest), plus a brand-new key
    Seq((1L, "B", d("2024-01-01")), (1L, "C", d("2024-02-01")),
      (2L, "N", d("2024-01-15")))
      .toDF("k", "attr", "ts").write.mode("append").parquet(upd)
    val v1 = EventStreams.scd2AvailableNow(spark, upd, schema, dimPath,
      ckpt, "k", Seq("attr"), "ts")
    assert(v1 == 1L)

    // second drain: a no-op re-send for k=2 and a change for k=3
    Seq((2L, "N", d("2024-03-01")), (3L, "K2", d("2024-03-02")))
      .toDF("k", "attr", "ts").write.mode("append").parquet(upd)
    val v2 = EventStreams.scd2AvailableNow(spark, upd, schema, dimPath,
      ckpt, "k", Seq("attr"), "ts")
    assert(v2 == 2L)

    val hist = spark.read.parquet(s"$dimPath/v=$v2")
      .as[(Long, String, java.sql.Date, Option[java.sql.Date])]
      .collect().toSet
    assert(hist == Set(
      (1L, "A", d("2020-01-01"), Option(d("2024-02-01"))),
      (1L, "C", d("2024-02-01"), None), // sub-batch "B" version collapsed
      (2L, "N", d("2024-01-15"), None), // no-op re-send did not churn
      (3L, "K", d("2020-01-01"), Option(d("2024-03-02"))),
      (3L, "K2", d("2024-03-02"), None)))

    // a third drain with no new files writes no new version
    val v3 = EventStreams.scd2AvailableNow(spark, upd, schema, dimPath,
      ckpt, "k", Seq("attr"), "ts")
    assert(v3 == 2L)

    // a crashed writer's PARTIAL version (data file, no _SUCCESS) is
    // never selected — as base nor as the reported newest version
    val partial = new java.io.File(s"$dimPath/v=9")
    partial.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dimPath/v=9/part-00000.parquet"), "junk")
    val v4 = EventStreams.scd2AvailableNow(spark, upd, schema, dimPath,
      ckpt, "k", Seq("attr"), "ts")
    assert(v4 == 2L)
    assert(spark.read.parquet(s"$dimPath/v=$v4").count() == hist.size)
  }

  test("nbScoreAvailableNow: drain == batch scorer under any batching") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_nb_stream").toString
    val labeled = Seq(
      (1L, "alpha beta gamma", "good"), (2L, "alpha beta beta", "good"),
      (3L, "buy pills now", "bad"), (4L, "buy buy cheap", "bad"))
      .toDF("doc_id", "text", "label")
    val model = graft.operators.CorpusOps.trainNbQuality(
      labeled, "doc_id", "text", "label")
    val in1 = Seq((10L, "alpha gamma"), (11L, "cheap pills"))
      .toDF("doc_id", "text")
    in1.coalesce(1).write.parquet(s"$root/in")
    def drain() = EventStreams.nbScoreAvailableNow(spark, s"$root/in",
        "doc_id", col("text"), model, s"$root/out", s"$root/ckpt")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    val out1 = drain()
    val batch1 = graft.operators.CorpusOps.nbScore(
        in1.withColumnRenamed("text", "__text"), model, "doc_id", "__text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(out1 == batch1, s"$out1 vs $batch1")
    assert(out1(10L)._1 == "good" && out1(11L)._1 == "bad", out1.toString)
    // a second drain scores ONLY the new file; stateless scoring means
    // old rows are untouched and new rows equal their batch scores
    Seq((12L, "beta beta beta")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$root/in")
    val out2 = drain()
    assert(out2.keySet == Set(10L, 11L, 12L), out2.toString)
    assert(out2(10L) == out1(10L) && out2(11L) == out1(11L))
    assert(out2(12L)._1 == "good", out2.toString)
  }

  test("zero-batch drains return empty typed frames, not path errors") {
    // ADVICE r14: a drain that processes no new files never creates
    // outPath; the post-drain read must yield an empty frame with the
    // operator's output schema instead of throwing path-not-found.
    // Repro: drain once (advances the checkpoint), then drain again
    // with no new input but a FRESH outPath — zero batches fire.
    val root = java.nio.file.Files
      .createTempDirectory("graft_zero_drain").toString
    Seq((1L, "alpha beta")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$root/in")
    EventStreams.paraDedupAvailableNow(spark, s"$root/in", "doc_id",
      col("text"), s"$root/seen", s"$root/out1", s"$root/ckpt")
    val emptyPara = EventStreams.paraDedupAvailableNow(spark, s"$root/in",
      "doc_id", col("text"), s"$root/seen", s"$root/out2", s"$root/ckpt")
    assert(emptyPara.isEmpty)
    assert(emptyPara.columns.toSeq ==
      Seq("doc_id", "clean_text", "n_paras", "n_removed"))
    val model = graft.operators.CorpusOps.trainNbQuality(
      Seq((1L, "alpha beta", "good"), (2L, "buy pills", "bad"))
        .toDF("doc_id", "text", "label"),
      "doc_id", "text", "label")
    EventStreams.nbScoreAvailableNow(spark, s"$root/in", "doc_id",
      col("text"), model, s"$root/nbout1", s"$root/nbckpt")
    val emptyNb = EventStreams.nbScoreAvailableNow(spark, s"$root/in",
      "doc_id", col("text"), model, s"$root/nbout2", s"$root/nbckpt")
    assert(emptyNb.isEmpty)
    assert(emptyNb.columns.toSeq ==
      Seq("doc_id", "pred_label", "nb_log_score"))
  }

  test("bm25IndexAvailableNow: drain == build; 2nd drain extends; replay") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_bm25_stream").toString
    val docs1 = Seq((1L, "alpha beta alpha"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    docs1.coalesce(1).write.parquet(s"$root/in")
    val qs = Seq((0L, "alpha gamma")).toDF("query_id", "query_text")
    def probe(path: String) = graft.operators.CorpusOps
      .bm25TopKIndexed(spark, path, qs, "query_id", "query_text", k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    def ingest(): Unit = EventStreams.drainBatches(
        EventStreams.fileSource(spark, s"$root/in", s"$root/ckpt")._1
          .select($"doc_id", $"text".as("__text")), s"$root/ckpt") {
      (batch, batchId) => graft.operators.CorpusOps.bm25IndexIncrement(
        batch, "doc_id", "__text", s"$root/idx", batchId)
    }
    ingest()
    // one drain over a fresh index probes exactly like a one-shot build
    graft.operators.CorpusOps.buildBm25Index(docs1, "doc_id", "text",
      s"$root/oneshot")
    assert(probe(s"$root/idx") == probe(s"$root/oneshot"))
    // a second drain sees only the NEW file and EXTENDS the index:
    // probing now equals a one-shot build over the union
    val docs2 = Seq((3L, "gamma gamma delta")).toDF("doc_id", "text")
    docs2.coalesce(1).write.mode("append").parquet(s"$root/in")
    ingest()
    graft.operators.CorpusOps.buildBm25Index(
      docs1.unionByName(docs2), "doc_id", "text", s"$root/oneshot2")
    val extended = probe(s"$root/idx")
    assert(extended == probe(s"$root/oneshot2"), extended.toString)
    // REPLAY idempotence: re-running an already-published batch id
    // rewrites its own directories with identical rows — probes are
    // unchanged, nothing double-appends
    graft.operators.CorpusOps.bm25IndexIncrement(docs2, "doc_id",
      "text", s"$root/idx", batchId = 1L)
    assert(probe(s"$root/idx") == extended)
  }

  test("ivfIndexAvailableNow: drain == one-shot assignment; 2nd drain " +
      "extends; replay; layout guards; retrain preserves batch layout") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_ivf_stream").toString
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
    val half1 = emb.filter($"vec_id" % 2 === 0)
    val half2 = emb.filter($"vec_id" % 2 === 1)
    half1.coalesce(1).write.parquet(s"$root/in")
    // ONE model, fit up front, shared by the streaming index and the
    // flat reference — assignment is a pure function of (vector,
    // model), so the layouts must agree row-for-row
    Seq("idx", "ref").foreach(ix => Similarity.ivfInit(emb, "vec_id",
      "embedding", s"$root/$ix", nCells = 4, iters = 3))
    def cellsOf(path: String) = spark.read.parquet(path)
      .select($"id", $"cell").as[(Long, Int)].collect().toSet
    EventStreams.ivfIndexAvailableNow(spark, s"$root/in", "vec_id",
      col("embedding"), s"$root/idx", s"$root/ckpt")
    Similarity.ivfAppend(half1, "vec_id", "embedding", s"$root/ref")
    assert(cellsOf(s"$root/idx") == cellsOf(s"$root/ref"))
    // probes read the batch layout identically to the flat one
    val qVec = emb.filter($"vec_id" === 0L)
      .select($"embedding").collect()(0).getSeq[Float](0).toArray
    def probe(path: String) = ivfTop(path, qVec, k = 5, probes = 4)
    assert(probe(s"$root/idx") == probe(s"$root/ref"))
    // a second drain sees only the NEW file and extends the index
    half2.coalesce(1).write.mode("append").parquet(s"$root/in")
    EventStreams.ivfIndexAvailableNow(spark, s"$root/in", "vec_id",
      col("embedding"), s"$root/idx", s"$root/ckpt")
    Similarity.ivfAppend(half2, "vec_id", "embedding", s"$root/ref")
    assert(cellsOf(s"$root/idx") == cellsOf(s"$root/ref"))
    // REPLAY idempotence: re-running a published batch id rewrites its
    // own subtree with identical rows — nothing double-appends
    val before = cellsOf(s"$root/idx")
    Similarity.ivfAppendBatch(half2, "vec_id", "embedding",
      s"$root/idx", batchId = 1L)
    assert(cellsOf(s"$root/idx") == before)
    // layout guards: flat append on a batch index, batch append on a
    // flat index, and the reserved fold id all fail loudly
    intercept[IllegalArgumentException] {
      Similarity.ivfAppend(half2, "vec_id", "embedding", s"$root/idx")
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfAppendBatch(half2, "vec_id", "embedding",
        s"$root/ref", batchId = 2L)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfAppendBatch(half2, "vec_id", "embedding",
        s"$root/idx", batchId = -1L)
    }
    // retrain PRESERVES the batch layout (fold -> batch=-1), so the
    // live stream keeps incrementing afterwards
    Similarity.ivfRetrain(spark, s"$root/idx", iters = 3)
    assert(new java.io.File(s"$root/idx", "batch=-1").isDirectory &&
      !new java.io.File(s"$root/idx", "batch=0").exists(),
      new java.io.File(s"$root/idx").list().mkString(","))
    assert(cellsOf(s"$root/idx").map(_._1) == before.map(_._1))
    Similarity.ivfAppendBatch(
      emb.filter($"vec_id" === 0L)
        .select(($"vec_id" + 777000L).as("vec_id"), $"embedding"),
      "vec_id", "embedding", s"$root/idx", batchId = 5L)
    val top = ivfTop(s"$root/idx", qVec, k = 2, probes = 4)
      .map(_._1).toSet
    assert(top == Set(0L, 777000L), top.toString)
  }

  test("ivfPqIndexAvailableNow: drain == one-shot encode; replay; " +
      "compact folds batches and live increments continue") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_stream").toString
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
    val half1 = emb.filter($"vec_id" % 2 === 0)
    val half2 = emb.filter($"vec_id" % 2 === 1)
    half1.coalesce(1).write.parquet(s"$root/in")
    // ONE model pair (coarse + codebooks), fit up front, shared by
    // the streaming index and a flat-append reference
    Similarity.ivfInit(emb, "vec_id", "embedding", s"$root/idx",
      IvfTier.Pq(m = 8, nbits = 8), nCells = 4, iters = 3)
    Similarity.ivfInit(emb, "vec_id", "embedding", s"$root/ref",
      IvfTier.Pq(m = 8, nbits = 8), nCells = 4, iters = 3)
    def codesOf(path: String) = spark.read.parquet(s"$path/codes")
      .select($"id", $"cell", hex($"pq_code").as("c"))
      .as[(Long, Int, String)].collect().toSet
    EventStreams.ivfIndexAvailableNow(spark, s"$root/in", "vec_id",
      col("embedding"), s"$root/idx", s"$root/ckpt")
    Similarity.ivfAppend(half1, "vec_id", "embedding", s"$root/ref")
    assert(codesOf(s"$root/idx") == codesOf(s"$root/ref"))
    // second drain extends with only the new file
    half2.coalesce(1).write.mode("append").parquet(s"$root/in")
    EventStreams.ivfIndexAvailableNow(spark, s"$root/in", "vec_id",
      col("embedding"), s"$root/idx", s"$root/ckpt")
    Similarity.ivfAppend(half2, "vec_id", "embedding", s"$root/ref")
    assert(codesOf(s"$root/idx") == codesOf(s"$root/ref"))
    // replay idempotence
    val before = codesOf(s"$root/idx")
    Similarity.ivfAppendBatch(half2, "vec_id", "embedding",
      s"$root/idx", batchId = 1L)
    assert(codesOf(s"$root/idx") == before)
    // layout guards on the composed index
    intercept[IllegalArgumentException] {
      Similarity.ivfAppend(half2, "vec_id", "embedding", s"$root/idx")
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfAppendBatch(half2, "vec_id", "embedding",
        s"$root/ref", batchId = 2L)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfAppendBatch(half2, "vec_id", "embedding",
        s"$root/idx", batchId = -1L)
    }
    // delete + compact: fold lands in codes/batch=-1 (layout
    // preserved), tombstones clear, survivors verbatim, and a LIVE
    // increment still lands beside the fold and probes
    Similarity.ivfDelete(s"$root/idx",
      Seq(0L).toDF("vec_id"), "vec_id")
    val survivors = before.filter(_._1 != 0L)
    Similarity.ivfCompact(spark, s"$root/idx")
    assert(codesOf(s"$root/idx") == survivors)
    assert(new java.io.File(s"$root/idx/codes", "batch=-1").isDirectory &&
      !new java.io.File(s"$root/idx/codes", "batch=0").exists(),
      new java.io.File(s"$root/idx/codes").list().mkString(","))
    assert(!new java.io.File(s"$root/idx/tombstones").exists())
    Similarity.ivfAppendBatch(
      emb.filter($"vec_id" === 0L)
        .select(($"vec_id" + 777000L).as("vec_id"), $"embedding"),
      "vec_id", "embedding", s"$root/idx", batchId = 7L)
    val qVec = emb.filter($"vec_id" === 0L)
      .select($"embedding").collect()(0).getSeq[Float](0).toArray
    val top = ivfTop(s"$root/idx", qVec, k = 1, probes = 4)
      .map(_._1).toSet
    assert(top == Set(777000L), top.toString)
  }

  test("paraDedupAvailableNow: drain == batch op; 2nd drain suppresses") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_paradedup_stream").toString
    val docs1 = Seq((1L, "A\nB"), (2L, "B\nC")).toDF("doc_id", "text")
    docs1.coalesce(1).write.parquet(s"$root/in")
    def collectOut(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val out1 = collectOut(EventStreams.paraDedupAvailableNow(spark,
      s"$root/in", "doc_id", col("text"),
      s"$root/seen", s"$root/out", s"$root/ckpt"))
    // single drain over a fresh seen table == the batch operator
    val batchRes = collectOut(graft.operators.CorpusOps
      .dropRepeatedParagraphs(docs1, "doc_id", "text"))
    assert(out1 == batchRes, s"$out1 vs $batchRes")
    assert(out1 == Map(
      1L -> (("A\nB", 2L, 0L)),
      2L -> (("C", 2L, 1L))), out1.toString)
    // second drain (same checkpoint) sees only the NEW file; its
    // paragraphs anti-join against the persisted table: B and C drop,
    // only the novel D survives
    Seq((3L, "B\nD\nC")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$root/in")
    val out2 = collectOut(EventStreams.paraDedupAvailableNow(spark,
      s"$root/in", "doc_id", col("text"),
      s"$root/seen", s"$root/out", s"$root/ckpt"))
    assert(out2.keySet == Set(1L, 2L, 3L), out2.toString)
    assert(out2(3L) == (("D", 3L, 2L)), out2.toString)
    assert(out2(1L) == out1(1L) && out2(2L) == out1(2L))
    // the durable table now records every distinct non-blank paragraph
    val seen = spark.read.parquet(s"$root/seen")
      .select("__fp").collect().map(_.getString(0)).toSet
    assert(seen == Set("A", "B", "C", "D"), seen.toString)
    // REPLAY idempotence: re-running an already-published batch id
    // (the crash-recovery path — its seen delta is already on disk)
    // rewrites identical outputs instead of double-appending or
    // wrongly seeing its own firsts as duplicates
    val batchIds = spark.read.parquet(s"$root/out")
      .select("batch").distinct().collect().map(_.getInt(0))
    val replayId = batchIds.max.toLong
    graft.operators.CorpusOps.dropRepeatedParagraphsIncrement(
      Seq((3L, "B\nD\nC")).toDF("doc_id", "text")
        .withColumnRenamed("text", "__text"),
      "doc_id", "__text", s"$root/seen", s"$root/out", replayId)
    val outAfter = collectOut(
      spark.read.parquet(s"$root/out").drop("batch"))
    assert(outAfter == out2, s"replay changed outputs: $outAfter vs $out2")
    val seenAfter = spark.read.parquet(s"$root/seen")
      .select("__fp").collect().map(_.getString(0)).toSeq
    assert(seenAfter.sorted == Seq("A", "B", "C", "D"),
      s"replay duplicated seen rows: $seenAfter")
  }

  test("a second drain of a single parquet file on the same checkpoint " +
      "sees no new rows") {
    // every catalog gate's input is one file, not a directory: the
    // checkpoint's file log names the staged copy, so a drain that
    // resumes the checkpoint must find it at the same path
    val ckpt = java.nio.file.Files.createTempDirectory("single_ckpt").toString
    def rowsDrained(): Long = {
      val n = new java.util.concurrent.atomic.AtomicLong
      EventStreams.drainBatches(EventStreams.rawEventSource(
          spark, s"$sfDir/events.parquet", ckpt), ckpt) { (batch, _) =>
        n.addAndGet(batch.count()); ()
      }
      n.get
    }
    assert(rowsDrained() == Tables.events(spark, sfDir).count())
    assert(rowsDrained() == 0L)
  }

  test("drainBatches: a failed micro-batch surfaces, and the next drain " +
      "on the checkpoint hands the writer the same batch id and rows") {
    // the replay contract every per-batch directory relies on
    val root = java.nio.file.Files.createTempDirectory("replay").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1)
      .write.parquet(s"$root/in")
    val src = spark.readStream.schema("id BIGINT, s STRING")
      .parquet(s"$root/in")
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val handed =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Set[(Long, String)])]
    def drain(): Unit = EventStreams.drainBatches(src, s"$root/ckpt") {
      (batch, batchId) =>
        handed.add(batchId -> batch.as[(Long, String)].collect().toSet)
        if (calls.incrementAndGet() == 1) sys.error("planted writer failure")
    }
    interceptGuard("planted writer failure")(drain())
    drain()
    val got = handed.asScala.toSeq
    assert(got == Seq.fill(2)(0L -> Set((1L, "a"), (2L, "b"))), got.toString)
  }
}
