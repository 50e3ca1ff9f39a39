package graft

import org.apache.spark.sql.functions._

import graft.operators.Sketches

/** Theta / KLL / frequent-items mergeable sketch aggregates
  * ([[graft.plans.SketchAggregates]]).
  *
  * At sf0.001 every sketch is in EXACT mode (distinct counts far below
  * the sketch capacities), so most gates are equalities, not tolerance
  * bands — and the serialize/deserialize/merge path is forced by
  * repartitioning the input so every aggregation crosses a shuffle.
  */
class SketchAggSpec extends SparkSpec {
  import spark.implicits._

  private def events = Tables.events(spark, sfDir)
    .select($"event_type", $"user_id")

  private def userSet(tpe: String): Set[Long] =
    events.filter($"event_type" === tpe).select($"user_id")
      .distinct().as[Long].collect().toSet

  test("theta sketch estimates exact distincts and survives the shuffle") {
    // 16 input partitions -> 16 partial buffers serialized + merged
    val sk = Sketches.thetaByGroup(
      events.repartition(16), "event_type", "user_id")
    val est = sk.select($"event_type",
        theta_sketch_estimate($"theta").as("n"))
      .as[(String, Long)].collect().toMap
    val exact = events.distinct().groupBy($"event_type").count()
      .as[(String, Long)].collect().toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (tpe, n) =>
      assert(est(tpe) == n, s"$tpe: est=${est(tpe)} exact=$n")
    }
  }

  test("theta set algebra matches exact set intersection/difference") {
    val sk = Sketches.thetaByGroup(events, "event_type", "user_id")
    val overlaps = Sketches.thetaOverlap(sk, "event_type")
      .select($"group_a", $"group_b", $"n_common", $"n_only_a")
      .as[(String, String, Long, Long)].collect()
    assert(overlaps.nonEmpty)
    overlaps.foreach { case (a, b, common, onlyA) =>
      val (sa, sb) = (userSet(a), userSet(b))
      assert(common == sa.intersect(sb).size.toLong,
        s"($a,$b) common: $common vs ${sa.intersect(sb).size}")
      assert(onlyA == sa.diff(sb).size.toLong,
        s"($a,$b) onlyA: $onlyA vs ${sa.diff(sb).size}")
    }
  }

  test("persisted theta sketches union across batches without rescan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_theta").toString
    val ev = events.withColumn("half", $"user_id" % 2)
    Sketches.thetaByGroup(ev.filter($"half" === 0), "event_type", "user_id")
      .write.parquet(s"$dir/b=0")
    Sketches.thetaByGroup(ev.filter($"half" === 1), "event_type", "user_id")
      .write.parquet(s"$dir/b=1")
    val merged = Sketches.thetaUnionBy(
        spark.read.parquet(s"$dir/b=*"), "event_type")
      .select($"event_type", theta_sketch_estimate($"theta").as("n"))
      .as[(String, Long)].collect().toMap
    val exact = events.distinct().groupBy($"event_type").count()
      .as[(String, Long)].collect().toMap
    exact.foreach { case (tpe, n) =>
      assert(merged(tpe) == n, s"$tpe: ${merged(tpe)} vs $n")
    }
  }

  test("kll per-batch sketches merge to in-band global quantiles") {
    val li = Tables.lineitem(spark, sfDir)
    val perBatch = li.groupBy($"l_returnflag", $"l_linenumber")
      .agg(kll_sketch_agg_double($"l_extendedprice".cast("double"))
        .as("kll"))
    val merged = Sketches.kllMergeBy(perBatch, "l_returnflag")
      .select($"l_returnflag",
        kll_sketch_get_quantile_double($"kll", lit(0.5)).as("p50"),
        kll_sketch_get_quantile_double($"kll", lit(0.9)).as("p90"))
    val bands = li.groupBy($"l_returnflag").agg(
      expr("percentile(l_extendedprice, 0.45)").as("lo50"),
      expr("percentile(l_extendedprice, 0.55)").as("hi50"),
      expr("percentile(l_extendedprice, 0.85)").as("lo90"),
      expr("percentile(l_extendedprice, 0.95)").as("hi90"))
    val rows = merged.join(bands, "l_returnflag")
      .select($"l_returnflag",
        $"p50".between($"lo50", $"hi50").as("ok50"),
        $"p90".between($"lo90", $"hi90").as("ok90"))
      .as[(String, Boolean, Boolean)].collect()
    assert(rows.length == 3)
    rows.foreach { case (rf, ok50, ok90) =>
      assert(ok50 && ok90, s"$rf out of band")
    }
  }

  test("frequent-items sketch is exact below capacity; order pinned") {
    val docs = Tables.documents(spark, sfDir)
    val toks = docs.select($"source",
      explode(graft.functions.TextFunctions.tokens($"text")).as("token"))
    val perSrc = Sketches.freqByGroup(
      toks.repartition(8), "source", "token")
    val top = Sketches.freqTop(perSrc, k = 5)
      .as[(String, Long)].collect()
    val exact = toks.groupBy($"token").count()
      .orderBy($"count".desc, $"token").limit(5)
      .as[(String, Long)].collect()
    assert(top.toSeq == exact.toSeq, s"top=$top exact=$exact")
  }

  test("stream-maintained sketch table merges to the exact answer") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sks").toString
    graft.streaming.EventStreams.drainBatches(
        graft.streaming.EventStreams.rawEventSource(spark,
            s"$sfDir/events.parquet", s"$dir/ckpt")
          .select(date_trunc("hour", $"ts").as("w_start"), $"event_type",
            $"user_id"), s"$dir/ckpt") { (batch, batchId) =>
      batch.groupBy($"w_start", $"event_type")
        .agg(theta_sketch_agg($"user_id", 12).as("theta"))
        .write.mode("overwrite").parquet(s"$dir/sk/batch=$batchId")
    }
    val merged = spark.read.parquet(s"$dir/sk/batch=*")
      .groupBy($"w_start", $"event_type")
      .agg(theta_union_agg($"theta", 12).as("theta"))
      .select($"w_start", $"event_type",
        theta_sketch_estimate($"theta").as("n"))
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map { case (w, t, n) => (w.toString, t) -> n }.toMap
    val exact = Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", $"ts").as("w_start"), $"event_type")
      .agg(countDistinct($"user_id").as("n"))
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map { case (w, t, n) => (w.toString, t) -> n }.toMap
    assert(merged == exact)
  }

  test("sketch aggregates register for spark.sql and partial-aggregate") {
    graft.plans.SketchAggregates.registerAll(spark)
    events.createOrReplaceTempView("ev_sketch_test")
    // theta is Spark's own SQL registration (built-in since 4.x) …
    val n = spark.sql(
      """SELECT theta_sketch_estimate(theta_sketch_agg(user_id)) AS n
        |FROM ev_sketch_test""".stripMargin)
      .as[Long].collect().head
    val exact = events.select($"user_id").distinct().count()
    assert(n == exact, s"sql est=$n exact=$exact")
    // … the custom frequent-items trio comes from registerAll
    val topSql = spark.sql(
      """SELECT t.item, t.est FROM (
        |  SELECT explode(freq_top_items(freq_merge_agg(fi), 3)) AS t
        |  FROM (SELECT freq_items_agg(event_type) AS fi
        |        FROM ev_sketch_test GROUP BY user_id % 4))""".stripMargin)
      .as[(String, Long)].collect()
    assert(topSql.length == 3 && topSql.map(_._2).sum > 0)
    // TypedImperativeAggregate plans through ObjectHashAggregate with a
    // partial below the exchange: the shuffle carries sketch states
    val plan = Sketches.thetaByGroup(events, "event_type", "user_id")
      .queryExecution.executedPlan.toString
    val exch = plan.indexOf("Exchange")
    assert(exch >= 0, plan.take(500))
    // text below the Exchange = the map-side partial aggregate
    assert(plan.substring(exch).contains("ObjectHashAggregate"),
      plan.take(800))
    assert(plan.take(exch).contains("ObjectHashAggregate"), plan.take(800))
  }
}
