package graft

import org.apache.spark.sql.functions._

/** Dev measurement main for BASELINE.md: times the reference's core
  * dataflow (keep-last dedup + old/new diff classification, the
  * Compare.py workload) over an arbitrary orders parquet — used to
  * measure the pandas-vs-spark crossover on identical scaled inputs
  * (see tools/make_scaled_orders.py / tools/pandas_baseline.py).
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/graft_scale"
    val spark = Session.local()
    val cpus = spark.sparkContext.defaultParallelism

    def orders = spark.read.parquet(s"$dir/orders.parquet")

    def keepLast() = operators.DiffEngine
      .keepLast(orders, "o_custkey", "o_orderkey")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))

    def diff() = {
      val o = orders
      val oldq = o.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey").cast("string").as("k"),
          col("o_orderkey").as("ord"),
          col("o_orderpriority").as("prio"), col("o_orderstatus").as("stat"))
      val newq = o.select(col("o_orderkey").cast("string").as("k"),
        when(col("o_orderkey") % 7 === 0, lit("X-MUTATED"))
          .when(col("o_orderkey") % 11 === 0, lit(""))
          .otherwise(col("o_orderpriority")).as("prio"),
        col("o_orderstatus").as("stat"))
      operators.DiffEngine.diff(oldq, newq, "k", "ord", Seq("prio", "stat"))
    }

    // warm-up, then timed (same protocol as Bench)
    keepLast().write.format("noop").mode("overwrite").save()
    diff().write.format("noop").mode("overwrite").save()
    val t0 = System.nanoTime()
    keepLast().write.format("noop").mode("overwrite").save()
    val klSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    diff().write.format("noop").mode("overwrite").save()
    val dSec = (System.nanoTime() - t1) / 1e9
    println(f"""{"sf":"$dir","engine":"spark-local[$cpus]","keep_last_sec":$klSec%.3f,"diff_sec":$dSec%.3f}""")
    spark.stop()
  }
}
