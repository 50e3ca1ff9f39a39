package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.{SketchAggregates => Skc}

/** Mergeable-sketch aggregation — the incremental-analytics pattern a
  * 100 TB store runs on: precompute a small sketch PER PARTITION/BATCH
  * (a binary column, persistable to parquet), then answer queries by
  * MERGING sketches instead of re-scanning data. Distinct counts here
  * use Spark's built-in Apache DataSketches HLL aggregates
  * (`hll_sketch_agg` / `hll_union_agg`), so the sketch bytes are the
  * standard cross-tool DataSketches format.
  *
  * Scale shape: the sketch build is one partial-aggregated scan (the
  * exchange carries one ~2^lgK-byte sketch per group per map task, not
  * rows); every later query over N batches reads N×groups sketch rows —
  * metadata-sized — and never touches the corpus again. An exact
  * `count(DISTINCT)` over the same data re-shuffles every value each
  * time it is asked.
  */
object Sketches {

  /** Per-group HLL distinct sketches of `valueCol` (binary column
    * `hll`, DataSketches format; `lgK` trades 2^lgK bytes for
    * accuracy — 12 ≈ 1.6% RSE). Persist the result per ingest batch;
    * merge with [[hllMergedEstimate]] / [[hllUnionBy]]. */
  def hllByGroup(df: DataFrame, groupCol: String, valueCol: String,
                 lgK: Int = 12): DataFrame =
    df.groupBy(col(groupCol))
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("hll"))

  /** Merge sketch rows (any grouping, any number of batches) into one
    * global distinct estimate. */
  def hllMergedEstimate(sketches: DataFrame,
                        sketchCol: String = "hll"): DataFrame =
    sketches.agg(
      hll_sketch_estimate(hll_union_agg(col(sketchCol))).as("n_est"))

  /** Re-aggregate sketch rows to a coarser grouping (e.g. per-batch ×
    * per-source sketches → per-source), merging instead of rescanning. */
  def hllUnionBy(sketches: DataFrame, groupCol: String,
                 sketchCol: String = "hll"): DataFrame =
    sketches.groupBy(col(groupCol))
      .agg(hll_union_agg(col(sketchCol)).as(sketchCol))

  /** Estimate column for a sketch. */
  def hllEstimate(sketch: Column): Column = hll_sketch_estimate(sketch)

  // ---- Theta: distinct counting WITH set algebra (HLL can only union;
  // theta sketches intersect and difference too, which is what
  // cross-source overlap / contamination questions need at 100 TB:
  // "how many of source A's users/docs also appear in B" without ever
  // joining the raw data — one sketch-build scan per source, then
  // set-algebra over KB-sized sketch rows). Spark 4.1 ships the whole
  // theta menu as BUILT-INS (`theta_sketch_agg` etc., DataSketches
  // format, same library as the HLL pair above) — these helpers are
  // thin composition, no custom expressions (§7.3: built-ins first) ----

  /** Per-group theta distinct sketches of `valueCol` (binary column
    * `theta`, DataSketches compact format). Exact while per-group
    * distincts stay under ~2^lgK; ~1.6% RSE beyond. */
  def thetaByGroup(df: DataFrame, groupCol: String, valueCol: String,
                   lgK: Int = 12): DataFrame =
    df.groupBy(col(groupCol))
      .agg(theta_sketch_agg(col(valueCol), lgK).as("theta"))

  /** Re-aggregate persisted theta sketch rows to a coarser grouping. */
  def thetaUnionBy(sketches: DataFrame, groupCol: String,
                   sketchCol: String = "theta", lgK: Int = 12): DataFrame =
    sketches.groupBy(col(groupCol))
      .agg(theta_union_agg(col(sketchCol), lgK).as(sketchCol))

  /** Pairwise overlap between every two groups' sketches: for each
    * unordered pair (a < b by group key), the estimated |A|, |B|,
    * |A ∩ B| and |A \ B| (longs — the built-in estimate's rounding).
    * The self-join runs over ONE ROW PER GROUP (sketch rows, not
    * data), broadcast — at any corpus scale this is metadata-sized
    * work after the single build scan. */
  def thetaOverlap(sketches: DataFrame, groupCol: String,
                   sketchCol: String = "theta"): DataFrame = {
    val a = sketches.select(col(groupCol).as("group_a"),
      col(sketchCol).as("sk_a"))
    val b = sketches.select(col(groupCol).as("group_b"),
      col(sketchCol).as("sk_b"))
    a.join(broadcast(b), col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"),
        theta_sketch_estimate(col("sk_a")).as("n_a"),
        theta_sketch_estimate(col("sk_b")).as("n_b"),
        theta_sketch_estimate(theta_intersection(col("sk_a"), col("sk_b")))
          .as("n_common"),
        theta_sketch_estimate(theta_difference(col("sk_a"), col("sk_b")))
          .as("n_only_a"))
  }

  // ---- KLL: mergeable rank/quantile sketches. Exact percentile()
  // buffers every group value; a KLL sketch is a few KB with a
  // guaranteed normalized rank error, and per-batch sketches merge
  // into global quantiles without rescanning. Build + quantile are
  // Spark built-ins; the column-of-sketches MERGE aggregate is the one
  // missing piece (`kll_sketch_merge_double` is a two-sketch scalar),
  // supplied by [[graft.plans.KllMergeAgg]] ----

  /** Merge sketch rows to a coarser grouping. */
  def kllMergeBy(sketches: DataFrame, groupCol: String,
                 sketchCol: String = "kll", k: Int = 200): DataFrame =
    sketches.groupBy(col(groupCol))
      .agg(Skc.kll_merge_agg(col(sketchCol), k)
        .as(sketchCol))

  // ---- Frequent items: heavy hitters with Misra-Gries error bounds.
  // Exact top-k by frequency shuffles every distinct item; the sketch
  // caps state at maxMapSize entries per (group x task) and merges ----

  /** Per-group frequent-items sketches of `itemCol` (binary column
    * `fi`). Exact while distincts stay under 0.75 x maxMapSize. */
  def freqByGroup(df: DataFrame, groupCol: String, itemCol: String,
                  maxMapSize: Int = 1024): DataFrame =
    df.groupBy(col(groupCol))
      .agg(Skc.freq_items_agg(col(itemCol), maxMapSize).as("fi"))

  /** Merge all sketch rows and return the global top-k as
    * (item, est) rows, est desc then item asc. */
  def freqTop(sketches: DataFrame, k: Int, sketchCol: String = "fi",
              maxMapSize: Int = 1024): DataFrame =
    sketches.agg(Skc.freq_merge_agg(col(sketchCol), maxMapSize).as(sketchCol))
      .select(explode(Skc.freq_top_items(col(sketchCol), k)).as("t"))
      .select(col("t.item").as("item"), col("t.est").as("est"))
}
