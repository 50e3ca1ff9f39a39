package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Materialize

/** What building a [[Materialize]] share runs before anything consumes
  * it, pinned in Spark jobs and in upstream row evaluations. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  test("a lazy Materialize runs the plan's shuffle stages when it is " +
      "built and fills its blocks on first use") {
    val evaluated = spark.sparkContext.longAccumulator("materialize.rows")
    val touch = udf { (x: Long) => evaluated.add(1); x }.asNondeterministic()
    // a fresh frame per call: a Dataset keeps its adaptive plan, so a
    // second Materialize of the same frame would reuse its shuffle files
    def rows: DataFrame = spark.range(0, 1000, 1, 4).toDF("id")
      .select(touch($"id").as("id"))
    def grouped: DataFrame =
      rows.groupBy(($"id" % 7).as("g")).agg(count(lit(1)).as("n"))
    val shapes: Seq[(String, () => DataFrame, Int)] = Seq(
      ("no exchange", () => rows.select(($"id" * 2).as("x")), 0),
      ("one groupBy", () => grouped, 1),
      ("two groupBys", () => grouped.groupBy(($"n" % 2).as("p"))
        .agg(sum($"n").as("n")), 2))
    shapes.foreach { case (shape, df, shuffles) =>
      evaluated.reset()
      var shared: DataFrame = null
      val built = jobsLaunchedBy { shared = Materialize(df(), eager = false) }
      assert(built == shuffles, s"$shape: building launched $built jobs")
      // the upstream rows run at build time exactly when a shuffle does
      assert(evaluated.value == (if (shuffles > 0) 1000L else 0L), shape)
      // the first use runs the last stage and fills the blocks; the
      // second reads them back without evaluating an upstream row
      assert(jobsLaunchedBy(shared.collect()) == 1, shape)
      assert(evaluated.value == 1000L, shape)
      assert(jobsLaunchedBy(shared.collect()) == 1, shape)
      assert(evaluated.value == 1000L, shape)
      // eager: the same shuffle stages plus the job that fills the blocks
      val eager = jobsLaunchedBy(Materialize(df(), eager = true))
      assert(eager == shuffles + 1, s"$shape: eager build launched $eager jobs")
    }
  }
}
