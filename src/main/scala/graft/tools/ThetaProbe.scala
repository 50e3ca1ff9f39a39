package graft.tools

import org.apache.spark.sql.functions._

import graft.Session

/** Scratch: runtime types/values of Spark 4.1's built-in theta/KLL
  * sketch functions (they landed in 4.x; the engine's sketch helpers
  * must ride them, not reimplement them). */
object ThetaProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(4)
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "a"), (2L, "b"), (3L, "b")).toDF("v", "g")
    val sk = df.groupBy($"g").agg(theta_sketch_agg($"v", 12).as("th"))
    sk.select($"g", theta_sketch_estimate($"th").as("est")).printSchema()
    sk.select($"g", theta_sketch_estimate($"th")).show()
    val both = sk.agg(theta_union_agg($"th", 12).as("u"))
      .select(theta_sketch_estimate($"u")).show()
    val ab = sk.filter($"g" === "a").select($"th".as("a"))
      .crossJoin(sk.filter($"g" === "b").select($"th".as("b")))
    ab.select(
      theta_sketch_estimate(theta_intersection($"a", $"b")).as("inter"),
      theta_sketch_estimate(theta_difference($"a", $"b")).as("diff"))
      .show()
    val kll = df.agg(kll_sketch_agg_double($"v".cast("double"), 200).as("k"))
    kll.select(kll_sketch_get_quantile_double($"k", lit(0.5)).as("p50"))
      .printSchema()
    kll.select(kll_sketch_get_quantile_double($"k", lit(0.5))).show()
    // NOTE (the probe's key finding): kll_sketch_merge_double is a
    // TWO-SKETCH SCALAR (binary, binary), not an aggregate — merging a
    // COLUMN of persisted KLL sketches needs graft's KllMergeAgg.
    df.createOrReplaceTempView("t")
    spark.sql("SELECT theta_sketch_estimate(theta_sketch_agg(v)) FROM t").show()
    spark.stop()
  }
}
