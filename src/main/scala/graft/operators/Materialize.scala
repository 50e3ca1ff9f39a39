package graft.operators

import org.apache.spark.sql.DataFrame

/** Plan-sharing materialization with a deployment-mode escape hatch —
  * every multi-reference subtree in the dedup/similarity family routes
  * through here.
  *
  * Default: `localCheckpoint`. Blocks live on executors and the
  * ContextCleaner frees them once the plan is GC'd — leak-free, and the
  * fastest of the seven lifecycle strategies measured in SCALE.md (see
  * [[Dedup]] `shingleRelation` for the sweep). The tradeoff it buys that
  * speed with: localCheckpoint TRUNCATES lineage, so on a real cluster a
  * lost block (executor loss, decommission, dynamic-allocation
  * downscale) fails the query outright instead of recomputing the
  * subtree. local[n] has no executor loss; a 1000-executor job does.
  *
  * Cluster deployments that need replayability set
  * `spark.graft.reliableCheckpoint=true` AND a
  * `SparkContext.setCheckpointDir` (HDFS / object store): shares then go
  * through reliable checkpoints — slower per share (a write+read round
  * trip to distributed storage), but any lost block is re-read, not a
  * query failure. The switch is read per call, so one session can mix
  * modes across jobs.
  */
object Materialize {
  /** Materialize `df` for multi-branch reuse. `eager = true` runs the
    * upstream plan NOW (a job barrier — callers use it when the subtree
    * is large and every downstream reference would re-run it): one job
    * per shuffle stage of `df`'s plan, plus one that fills the blocks.
    * `eager = false` is lazy only past the last exchange: building the
    * share still runs every shuffle stage of `df`'s plan (one job each,
    * so a plan with a `groupBy` is executed up to its final stage right
    * here), and the first consuming job runs that final stage and fills
    * the blocks, which later uses read back. A plan with no exchange
    * launches nothing until it is consumed. MaterializeSpec pins these
    * counts. */
  def apply(df: DataFrame, eager: Boolean): DataFrame = {
    val spark = df.sparkSession
    val reliable = spark.conf.getOption("spark.graft.reliableCheckpoint")
      .exists(_.toBoolean) &&
      spark.sparkContext.getCheckpointDir.isDefined
    if (reliable) df.checkpoint(eager) else df.localCheckpoint(eager)
  }

  /** Scale-adaptive fan-out ahead of CPU-heavy per-row work (tokenize /
    * shingle / hash pipelines): when `df`'s physical plan yields far
    * fewer partitions than the session's parallelism, round-robin
    * repartition to the core count so the per-row work spreads across
    * the cluster instead of serializing on the scan's split count.
    *
    * Why this exists: Parquet splits at ROW-GROUP granularity, so a
    * corpus written as few large row groups (or any unsplittable file —
    * gzip, one-shot ingest output) scans as 1-2 tasks no matter how
    * many cores are idle, and every downstream projection/explode until
    * the first exchange inherits that width. The r20 stage audit
    * measured whole text operators running single-task on a 32-core
    * session for exactly this reason. Repartitioning immediately after
    * such a read is the standard remedy for under-parallel input.
    *
    * Scale safety: the condition is evaluated against the ACTUAL plan —
    * a 100 TB corpus scans as thousands of splits, `parts * 2 >=
    * parallelism` holds, and `df` is returned untouched (no exchange is
    * ever added at scale, where shuffling the payload would dwarf the
    * win). The cost when it does fire is one exchange of rows the
    * caller was about to scan anyway — paid only when at least half the
    * session's cores would otherwise sit idle. Callers are the corpus
    * text operators whose downstream work is order-insensitive
    * (aggregations, joins, sorted collects). */
  def fanOut(df: DataFrame): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val parts = df.queryExecution.toRdd.getNumPartitions
    if (parts * 2 >= parallelism) df else df.repartition(parallelism)
  }

  // A QUARTER-width fanOut variant for many-consumer relations (the
  // sites where full width measurably loses) was built and interleaved-
  // A/B'd in r20: q_ngram_jaccard's shingle checkpoint was SLOWER in
  // 4/4 pairs and curateV2's rewritten-text relation split 5/5 over 10
  // pairs with a sub-noise median delta — the consumer stages' extra
  // task count eats what the spread producer pass saves at every width
  // tried. Removed rather than shipped dark; see OPTIMIZATION_r20.md.
}
