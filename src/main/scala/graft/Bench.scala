package graft

/** Benchmark main: runs the headline queries from [[QueryCatalog]] (or
  * the queries named as arguments) on `SPARK_GRAFT_SF_DIR`, forcing full
  * materialization through the noop sink (a bare `count()` would let
  * Catalyst prune the computed columns), and prints ONE JSON line for
  * the driver.
  *
  * Usage: `sbt "runMain graft.Bench [query ...]"`
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()

    // min-of-5: two rounds of min-of-3 swing adjudication (r7→r8) showed
    // the 3-pass minimum still swinging ±25% on short scheduling-floor
    // queries; SCALE.md's dedicated min-of-5 numbers reproduce run-over-run
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "5").toInt
    val targets =
      if (args.isEmpty) QueryCatalog.all.filter(_.headline)
      else args.toSeq.map(n => QueryCatalog.byName.getOrElse(n,
        sys.error(s"no such query: $n")))

    /** Evict blocks a finished query left in the block manager. The
      * dedup operators eagerly localCheckpoint shared subplans
      * ([[graft.operators.Materialize]]); those RDD blocks are only
      * reclaimed when the JVM GCs the DataFrame and the ContextCleaner
      * notices — until then they pile up across the interleaved pass as
      * heap pressure that lands on whichever query runs NEXT (the r5→r6
      * q_tpch_q3 "drift": +43% with no code change, tracking the growth
      * of checkpoint-bearing neighbors; also the stray "non-existent
      * accumulator" noise when the cleaner races a recompute). Explicit
      * unpersist after each timed run makes per-query cost mean
      * per-QUERY cost. */
    def evictLeakedBlocks(): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))

    // full warm-up pass (every headline query) so JIT/codegen/
    // file-listing costs — and GC pressure left behind by a heavy
    // neighbor — don't land on whichever query runs first after it
    targets.foreach { q =>
      try q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      evictLeakedBlocks()
    }
    // drain warm-up garbage so the first timed queries don't pay for it
    System.gc()
    // `iters` timed passes per query, interleaved at the pass level so a
    // slow neighbor's GC debt spreads across all queries instead of
    // landing on one iteration of one query; per-query we report
    // best-of-N (min: least-noise estimate of the true cost), mean, and
    // stddev so regressions can be told apart from run-to-run variance
    // a query that failed once is condemned (any NaN excludes it from
    // scoring) — don't re-run it in later passes: a query that does 30s
    // of work before throwing would otherwise burn iters×30s of bench
    // wall-clock and churn GC into its interleaved neighbors
    val condemned = scala.collection.mutable.Set.empty[String]
    def timedRun(q: QueryCatalog.Q): (String, Double) = {
      val t0 = System.nanoTime()
      // A query that THROWS must never be scored: the exception fires
      // in milliseconds, and recording that as its time turned broken
      // queries into apparent 80-90% "speedups" (BENCH_r09's four
      // events lines). NaN marks the iteration failed; the query is
      // reported under "failed" and excluded from the total.
      val dt = if (condemned(q.name)) Double.NaN else try {
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
        condemned += q.name
        Double.NaN
      }
      // outside the timed window: isolate neighbors. NOTE measured, do
      // not "improve": adding a System.gc() here as well makes EVERY
      // query ~0.3 s slower at near-zero sd (full G1 collection
      // between queries un-warms the heap — the exact low-sd elevated
      // plateau BENCH_r06 recorded for q_tpch_q3); block eviction
      // alone gives the fast AND stable regime.
      evictLeakedBlocks()
      q.name -> dt
    }
    val samples = (0 until iters).map { pass =>
      // between passes (never inside a timed window): one GC so the
      // ContextCleaner — which only fires when weak refs are processed —
      // drains the pass's broadcast/accumulator backlog; without it a
      // big-heap JVM almost never GCs, the backlog compounds, and later
      // passes degrade 2-3x (measured; the per-QUERY System.gc variant
      // is worse — see the note in timedRun)
      if (pass > 0) { System.gc(); Thread.sleep(2000) }
      targets.map(timedRun)
    }
    // High-variance lines (BENCH_r12: q_peak_concurrency sd 2.70 on
    // mean ~2.1 s, q_range_join sd 0.47 on ~1.0 s — occasional
    // GC/scheduling outliers in the shared JVM): at 5 samples a
    // sub-2x regression hides inside the noise envelope. They get
    // extra timed iterations appended as PARTIAL passes — score()
    // simply skips passes that lack a query — so their min (the line
    // of record) rests on 5 + extraIters draws.
    val noisy = Set("q_peak_concurrency", "q_range_join")
    val extraIters =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_EXTRA_ITERS", "4").toInt
    val extra = (0 until extraIters).map { _ =>
      System.gc(); Thread.sleep(2000)
      targets.filter(q => noisy(q.name)).map(timedRun)
    }
    val allSamples = samples ++ extra
    if (sys.env.contains("SPARK_GRAFT_BENCH_DEBUG"))
      allSamples.zipWithIndex.foreach { case (pass, i) =>
        System.err.println(s"[bench-debug] pass $i: " + pass.map {
          case (n, t) => f"$n=$t%.2f" }.mkString(" "))
      }
    val (failed, results) = score(targets.map(_.name), allSamples)
    failed.foreach(n => System.err.println(s"[bench] EXCLUDED (failed): $n"))
    val qs = results.map { case (k, mn, _, _) => "\"" + k + "\":" + f"$mn%.3f" }
      .mkString("{", ",", "}")
    // Full min/mean/sd stats go to STDERR as a sidecar: the driver
    // captures only the tail of stdout, and r7's line — which carried
    // both this map and the min-map — outgrew that window, truncating
    // the front of the JSON and leaving BENCH_r07.parsed null. The
    // stdout line of record stays minimal: per-query min (the
    // least-noise estimate), total, iters, sf.
    val stats = results.map { case (k, mn, mean, sd) =>
      "\"" + k + "\":" + f"""{"min":$mn%.3f,"mean":$mean%.3f,"sd":$sd%.3f}"""
    }.mkString("{", ",", "}")
    System.err.println(s"""[bench-stats] {"iters":$iters,"extra_iters":$extraIters,"extra_on":${noisy.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},"stats":$stats}""")
    val total = results.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,"failed":$failedJson,"iters":$iters,"sf":"$sfDir"}""")
    spark.stop()
  }

  /** Pure scoring step, factored out so the failure contract is
    * spec-testable: a query with ANY failed (NaN) iteration is excluded
    * from the scored stats and the total, and listed under `failed` — a
    * broken query must produce a visibly smaller result, never a better
    * number (BENCH_r09 recorded instant exceptions as 80-90%
    * "speedups"). Passes may be PARTIAL (the extra-iteration passes for
    * the designated high-variance queries): a pass simply contributes
    * nothing for queries it doesn't carry. Returns (failed names,
    * per-query (name, min, mean, sd)) preserving `names` order. */
  def score(names: Seq[String], samples: Seq[Seq[(String, Double)]])
      : (Seq[String], Seq[(String, Double, Double, Double)]) = {
    val (failed, scored) = names.partition { n =>
      samples.exists(p => p.find(_._1 == n).exists(_._2.isNaN))
    }
    val results = scored.map { n =>
      val ts = samples.flatMap(_.find(_._1 == n).map(_._2))
      val mean = ts.sum / ts.size
      val sd = math.sqrt(ts.map(t => (t - mean) * (t - mean)).sum / ts.size)
      (n, ts.min, mean, sd)
    }
    (failed, results)
  }
}
