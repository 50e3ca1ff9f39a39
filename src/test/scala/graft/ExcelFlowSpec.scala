package graft

import java.io.File
import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
import org.apache.spark.sql.types._

import graft.operators.DiffEngine
import graft.pipelines.Pipelines
import graft.sources.excel.{ExcelSink, Xlsx}
import XlsxTestUtil.zipPart

/** The Excel flow's output bytes and fixed costs. The sheet part each
  * export writes is pinned byte for byte: the digests were recorded from
  * the exports as they were before their global `orderBy` became a
  * one-partition local sort, so the row order and every cell encoding
  * must come out unchanged. The Spark jobs each flow launches are
  * counted. */
class ExcelFlowSpec extends SparkSpec {

  private def tmpDir: String = {
    val dir = Files.createTempDirectory("excel_flow")
    TempDirs.deleteOnExit(dir.toFile)
    dir.toString
  }

  private val runDate = LocalDate.of(2026, 8, 12)

  /** (length, SHA-256) of a workbook's first sheet part. */
  private def sheetDigest(path: String): (Int, String) = {
    val xml = zipPart(path, "xl/worksheets/sheet1.xml")
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(xml.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (xml.length, sha)
  }

  /** An upload template: headers at row 5, one that matches nothing. */
  private lazy val template: String = {
    val path = s"$tmpDir/template.xlsx"
    val cells = Seq(Xlsx.Cell(5, 2, Xlsx.SStr("C  Name")),
      Xlsx.Cell(5, 4, Xlsx.SStr("C_MKTSEGMENT")),
      Xlsx.Cell(5, 5, Xlsx.SStr("c_acctbal")),
      Xlsx.Cell(5, 6, Xlsx.SStr("No Such Col")))
    val out = new java.io.FileOutputStream(path)
    try Xlsx.write(out, Seq("Sheet1" -> cells.iterator)) finally out.close()
    path
  }

  /** Nulls, pre-1900 dates and datetimes, NaN / ±∞ / −0.0 / subnormal
    * doubles, extreme longs, control characters, XML metacharacters and
    * non-ASCII text (a supplementary character, a no-break space). */
  private def edgeFrame: DataFrame = {
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("d", DateType),
      StructField("ts", TimestampType), StructField("ntz", TimestampNTZType),
      StructField("x", DoubleType), StructField("n", LongType),
      StructField("b", BooleanType), StructField("dec", DecimalType(12, 3))))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def d(s: String) = java.sql.Date.valueOf(s)
    def ntz(s: String) = java.time.LocalDateTime.parse(s)
    val rows = Seq(
      Row(null, null, null, null, null, null, null, null),
      Row("", d("1899-12-31"), ts("1899-06-01 12:00:00"), ntz("1900-02-28T23:59:59"),
        Double.NaN, Long.MaxValue, true, BigDecimal("-0.001")),
      Row("a & <b> \"q\" 'x' ]]>", d("1900-02-28"), ts("1970-01-01 00:00:00"),
        ntz("1900-03-01T00:00:00"), Double.PositiveInfinity, Long.MinValue, false,
        BigDecimal("123456789.125")),
      Row("ctl\u0001\u0007x\ttab\nnl\rcr\u0000", d("1900-03-01"),
        ts("2026-08-12 23:59:59.999"), ntz("2024-02-29T12:34:56.789"),
        Double.NegativeInfinity, 0L, null, BigDecimal("0")),
      Row("\u00fc\u20ac\ud834\udd1e\u00a0nbsp", d("2024-02-29"),
        ts("2000-01-01 00:00:00.000001"), ntz("9999-12-31T23:59:59"),
        -0.0, -1L, true, null),
      Row("plain", d("9999-12-31"), ts("1900-03-01 00:00:00"),
        ntz("1970-01-01T00:00:00"), 4.9e-324, 42L, false, BigDecimal("1.5")))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def loadTables(): Unit = {
    // first loads infer outside every measured body
    Tables.orders(spark, sfDir).schema
    Tables.customer(spark, sfDir).schema
  }

  test("download, upload and an edge-value export write the pinned sheet bytes") {
    val dir = tmpDir
    val (down, downRows) = Pipelines.download(spark, sfDir, "BUILDING", runDate, dir)
    assert(downRows == 342)
    assert(sheetDigest(down) ==
      ((189518, "63a8126ce7df1c152d356b233bae5fee7fce3f44020e8a84de1b8af613ed27e8")))
    val (up, upRows) = Pipelines.upload(spark, sfDir, "ALL", template, s"$dir/up", runDate)
    assert(upRows == 150)
    assert(sheetDigest(up) ==
      ((31465, "0f6cacfbc132c66a0854d9fbe2b155ea17bf23c3169cf4ca5131fc839320088e")))
    val edge = s"$dir/edge.xlsx"
    assert(ExcelSink.writePositional(edgeFrame, edge, startRow = 3,
      skipSheetCols = Set(2)) == 6)
    assert(sheetDigest(edge) ==
      ((2551, "1e9269acd7c004883c384d66d23bbe63ed84769747681c7633179cffceee8298")))
  }

  test("a download launches 3 Spark jobs and an upload of ALL launches 2") {
    // 4 and 4 under a global orderBy: its range partitioning sampled the
    // upstream in a job of its own, and the upload ran one more job for
    // its empty check
    loadTables()
    val dir = tmpDir
    assert(jobsLaunchedBy(Pipelines.download(spark, sfDir, "BUILDING", runDate, dir)) == 3)
    assert(jobsLaunchedBy(
      Pipelines.upload(spark, sfDir, "ALL", template, s"$dir/up", runDate)) == 2)
  }

  test("an upload for a segment with no rows throws and leaves no workbook") {
    loadTables()
    val dir = tmpDir
    val e = intercept[IllegalArgumentException](
      Pipelines.upload(spark, sfDir, "NO SUCH SEGMENT", template, dir, runDate))
    assert(e.getMessage == "requirement failed: no rows for segment NO SUCH SEGMENT")
    assert(new File(dir).list().isEmpty, new File(dir).list().mkString(", "))
  }

  test("compareAndHighlight launches 4 Spark jobs; the highlight sink launches none") {
    val dir = tmpDir
    def book(path: String, rows: Seq[Seq[String]]): Unit = {
      val cells = for ((r, ri) <- rows.zipWithIndex.iterator;
                       (v, ci) <- r.zipWithIndex if v.nonEmpty)
        yield Xlsx.Cell(ri + 1, ci + 1, Xlsx.SStr(v))
      val out = new java.io.FileOutputStream(path)
      try Xlsx.write(out, Seq("Sheet1" -> cells)) finally out.close()
    }
    val (q1, q2) = (s"$dir/q1.xlsx", s"$dir/q2.xlsx")
    book(q1, Seq(Seq("id", "k1", "v"), Seq("1", "a", "x"), Seq("2", "b", "y")))
    book(q2, Seq(Seq("id", "k1", "v"), Seq("1", "b", "x"), Seq("1", "a", "x"),
      Seq("3", "c", "z")))
    assert(jobsLaunchedBy(Pipelines.compareAndHighlight(spark, q1, q2, "id",
      Seq("k1", "v"), Set("v"))) == 4)

    // the sink over a diff already on the driver: its header probe and
    // the highlighted copy run no Spark job
    def reader = spark.read.format("xlsx").option("headerRow", "1")
    val diff = DiffEngine.diff(
      reader.load(q1).withColumn("__ord", monotonically_increasing_id()),
      reader.option("rowNumberColumn", ExcelSink.SheetRowColumn).load(q2),
      "id", "__ord", Seq("k1", "v"), Some(ExcelSink.SheetRowColumn))
      .filter(col("status") =!= "UNCHANGED")
    val local = spark.createDataFrame(diff.collectAsList(), diff.schema)
    assert(local.columns.last == ExcelSink.SheetRowColumn)
    assert(jobsLaunchedBy(ExcelSink.writeHighlighted(q2, local, "id")) == 0)
  }
}
