package graft.pipelines

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.DiffEngine
import graft.sources.excel.ExcelSink

/** The reference's three entry points (SURVEY.md §3) re-expressed as
  * lazy Spark queries over the testdata star schema, with the GUI /
  * wall-clock inputs made explicit parameters (determinism caveat,
  * SURVEY.md §4.2). `c_mktsegment` plays the ministry role.
  */
object Pipelines {

  /** Download.py (SURVEY.md §3.1): scan -> equality filter -> drop
    * columns -> date format -> percent format -> positional Excel write
    * with skip-columns + metadata stamp. Returns (outPath, rowsWritten).
    */
  def download(spark: SparkSession, sfDir: String, segment: String,
               runDate: LocalDate, outDir: String,
               templatePath: Option[String] = None): (String, Long) = {
    val joined = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment") === segment)        // F1
      .drop("c_nationkey", "o_custkey")               // P1
      .withColumn("o_orderdate", dateMdY(col("o_orderdate")))  // S1
      .withColumn("acctbal_pct",                      // S3 analog
        percent(col("c_acctbal") / lit(10000.0)))
      .drop("c_acctbal")
      // O2 explicit order, sorted inside the sink's one partition
      .repartition(1).sortWithinPartitions(col("o_orderkey"))

    val out = templatePath match {
      case Some(t) => ExcelSink.cloneTemplate(t, outDir, segment, runDate) // SNK1
      case None =>
        val safe = segment.map(c => if ("\\/:*?\"<>|".contains(c)) '_' else c)
        s"$outDir/${safe}_${runDate.format(java.time.format.DateTimeFormatter.ofPattern("MM_dd_yyyy"))}.xlsx"
    }
    val n = ExcelSink.writePositional(joined, out,
      startRow = 8,                                   // Download.py:175
      skipSheetCols = Set(3, 5),                      // SNK2 skip contract
      metadata = Seq(("Data Validation", (4, 11),     // SNK4: K4 stamp
        runDate.format(java.time.format.DateTimeFormatter.ofPattern("MM/dd/yyyy")))))
    (out, n)
  }

  val SegmentOrder: Seq[String] =
    Seq("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE")

  /** Upload.py (SURVEY.md §3.2): read once -> filter (one segment |
    * ALL) -> header-matched write in declaration order -> empty guard.
    * The guard reads the written row count, so it costs no job of its
    * own; an empty segment leaves no workbook behind. Returns (outPath,
    * rowsWritten). */
  def upload(spark: SparkSession, sfDir: String, segment: String,
             templatePath: String, outDir: String,
             runDate: LocalDate): (String, Long) = {
    val source = Tables.customer(spark, sfDir)        // read once (Upload.py:123)
    // sorted inside the sink's one partition (see ExcelSink)
    val filtered =
      if (segment == "ALL")
        source.filter(col("c_mktsegment").isin(SegmentOrder: _*))  // F2
          .repartition(1)
          .sortWithinPartitions(array_position(typedLit(SegmentOrder), // O1
            col("c_mktsegment")), col("c_custkey"))
      else source.filter(col("c_mktsegment") === segment)          // F1
        .repartition(1).sortWithinPartitions(col("c_custkey"))
    val out = ExcelSink.cloneTemplate(templatePath, outDir, segment, runDate)
    val n = ExcelSink.writeHeaderMatched(filtered, templatePath, out,
      headerRow = 5, startRow = 6)                    // Upload.py:157-158
    if (n == 0) java.nio.file.Files.delete(java.nio.file.Paths.get(out))
    require(n > 0, s"no rows for segment $segment")                // F4
    (out, n)
  }

  /** Compare.py (SURVEY.md §3.3): two workbooks -> all-string read ->
    * keep-last build -> left-outer + anti diff -> classified long-form
    * result with word-diff runs for selected columns. */
  def compare(spark: SparkSession, q1Path: String, q2Path: String,
              keyCol: String, compareCols: Seq[String],
              wordDiffCols: Set[String] = Set.empty): DataFrame =
    diffOf(spark, q1Path, q2Path, keyCol, compareCols, wordDiffCols, None)

  /** [[compare]]; with `sheetRow`, each diff row also carries, in a
    * column of that name, the Q2 sheet row it came from. */
  private def diffOf(spark: SparkSession, q1Path: String, q2Path: String,
                     keyCol: String, compareCols: Seq[String],
                     wordDiffCols: Set[String], sheetRow: Option[String]): DataFrame = {
    def readAllString(p: String, rowCol: Option[String]): DataFrame = { // SRC2
      val r = spark.read.format("xlsx").option("headerRow", "1")
      rowCol.fold(r)(r.option("rowNumberColumn", _)).load(p)
    }
    val q1 = readAllString(q1Path, None)
      .withColumn("__ord", monotonically_increasing_id()) // explicit order
    val q2 = readAllString(q2Path, sheetRow)
    val diff = DiffEngine.diff(q1, q2, keyCol, "__ord", compareCols, sheetRow)
    if (wordDiffCols.isEmpty) diff
    else diff.withColumn("word_runs",
      when(col("column").isin(wordDiffCols.toSeq: _*) &&
        col("status") === "CHANGED",
        DiffEngine.wordDiff(col("old_value"), col("new_value"))))
  }

  /** Compare + SNK5 presentation: also emits the styled
    * `<q2> (change highlighted).xlsx` copy (CHANGED blue, CLEARED pink,
    * NEW whole-row yellow — reference Compare.py:212-220). The diff
    * carries each row's Q2 sheet row into the sink, so the marks land on
    * the row the diff probed and Q2 is parsed once, by the scan; the
    * returned diff has [[compare]]'s columns. */
  def compareAndHighlight(spark: SparkSession, q1Path: String, q2Path: String,
                          keyCol: String, compareCols: Seq[String],
                          wordDiffCols: Set[String] = Set.empty)
      : (DataFrame, String) = {
    val diff = diffOf(spark, q1Path, q2Path, keyCol, compareCols, wordDiffCols,
      Some(ExcelSink.SheetRowColumn))
    val highlighted = ExcelSink.writeHighlighted(
      q2Path, diff.filter(col("status") =!= "UNCHANGED"), keyCol)
    (diff.drop(ExcelSink.SheetRowColumn), highlighted)
  }
}
