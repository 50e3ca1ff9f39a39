package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.pipelines.Pipelines
import graft.sources.excel.{ExcelScan, ExcelSink, Xlsx}
import XlsxTestUtil.{cellXf, fillOf, zipPart}

/** Golden end-to-end for the full Compare -> highlight pipeline
  * (reference Compare.py:277-310): a fixture Q1/Q2 workbook pair
  * exercising every change class, with the ENTIRE diff result and the
  * ENTIRE highlighted-workbook cell grid (values + fill colors +
  * rich-text runs) pinned value-by-value. Any behavior drift in the
  * scan, keep-last dedup, classification, word diff, or highlight sink
  * shows up as a concrete golden mismatch. */
class CompareGoldenSpec extends SparkSpec {

  private val dir = Files.createTempDirectory("compare_golden").toString

  // Q1 (old quarter): k5 is duplicated — keep-LAST must win.
  private val q1Rows = Seq(
    Seq("id", "val", "qty", "note"),
    Seq("k1", "alpha beta gamma", "10", "n1"),
    Seq("k2", "same text", "20", "n2"),
    Seq("k3", "to be cleared", "30", "n3"),
    Seq("k5", "dup first", "50", "n5a"),
    Seq("k5", "dup last", "51", "n5b"))

  // Q2 (new quarter): k1 word-change + note change, k3 cleared val,
  // k4 brand new, k5 equals Q1's LAST duplicate. C3 carries a
  // pre-existing green fill that must survive highlighting.
  private val q2Rows = Seq(
    Seq("id", "val", "qty", "note"),
    Seq("k1", "alpha BETA gamma", "10", "n1x"),
    Seq("k2", "same text", "20", "n2"),
    Seq("k3", "", "30", "n3"),
    Seq("k4", "brand new row", "40", "n4"),
    Seq("k5", "dup last", "51", "n5b"))

  private def writeWb(rows: Seq[Seq[String]], path: String,
                      styled: Map[(Int, Int), Int] = Map.empty,
                      fills: Seq[String] = Nil): Unit = {
    val cells = for {
      (row, ri) <- rows.zipWithIndex.iterator
      (v, ci) <- row.zipWithIndex
      if v.nonEmpty || styled.contains((ri + 1, ci + 1))
    } yield Xlsx.Cell(ri + 1, ci + 1, Xlsx.SStr(v),
      styled.getOrElse((ri + 1, ci + 1), 0))
    val out = new java.io.FileOutputStream(path)
    try Xlsx.write(out, Seq("Sheet1" -> cells), fills) finally out.close()
  }

  private lazy val (diff, outPath) = {
    writeWb(q1Rows, s"$dir/g_q1.xlsx")
    writeWb(q2Rows, s"$dir/g_q2.xlsx",
      styled = Map((3, 3) -> 1), fills = Seq("FF00FF00"))
    Pipelines.compareAndHighlight(spark, s"$dir/g_q1.xlsx", s"$dir/g_q2.xlsx",
      "id", Seq("val", "qty", "note"), wordDiffCols = Set("val"))
  }

  test("golden: the full diff DataFrame matches the pinned result") {
    val got = diff
      .select(col("key"), col("column"), col("old_value"), col("new_value"),
        col("status"), col("word_runs"))
      .collect()
      .map { r =>
        val runs = if (r.isNullAt(5)) null
          else r.getSeq[Row](5).map(x => (x.getString(0), x.getBoolean(1)))
        (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
          r.getString(4), runs)
      }.toSet

    val expected: Set[(String, String, String, String, String, Seq[(String, Boolean)])] = Set(
      ("k1", "val", "alpha beta gamma", "alpha BETA gamma", "CHANGED",
        Seq(("alpha", false), ("BETA", true), ("gamma", false))),
      ("k1", "qty", "10", "10", "UNCHANGED", null),
      ("k1", "note", "n1", "n1x", "CHANGED", null), // note not word-diffed
      ("k2", "val", "same text", "same text", "UNCHANGED", null),
      ("k2", "qty", "20", "20", "UNCHANGED", null),
      ("k2", "note", "n2", "n2", "UNCHANGED", null),
      ("k3", "val", "to be cleared", "", "CLEARED", null),
      ("k3", "qty", "30", "30", "UNCHANGED", null),
      ("k3", "note", "n3", "n3", "UNCHANGED", null),
      ("k4", "val", "", "brand new row", "NEW", null),
      ("k4", "qty", "", "40", "NEW", null),
      ("k4", "note", "", "n4", "NEW", null),
      // keep-last: k5's old side is the LAST Q1 duplicate -> UNCHANGED
      ("k5", "val", "dup last", "dup last", "UNCHANGED", null),
      ("k5", "qty", "51", "51", "UNCHANGED", null),
      ("k5", "note", "n5b", "n5b", "UNCHANGED", null))

    assert(got == expected,
      s"missing=${expected -- got}\nextra=${got -- expected}")
  }

  test("golden: highlighted workbook matches the pinned cell grid") {
    assert(outPath.endsWith("g_q2 (change highlighted).xlsx"))
    val sheet = ExcelScan.loadSheet(outPath, None)
    val sheetXml = zipPart(outPath, "xl/worksheets/sheet1.xml")
    val stylesXml = zipPart(outPath, "xl/styles.xml")

    val Blue = "FFADD8E6"; val Pink = "FFFFC0CB"; val Yellow = "FFFFFF00"
    val Green = "FF00FF00"
    // pinned (value, fill) for EVERY cell of the 6x4 grid; values are
    // what the all-string reader surfaces (empty cell -> "")
    val expected: Map[(Int, Int), (String, Option[String])] = Map(
      (1, 1) -> ("id", None), (1, 2) -> ("val", None),
      (1, 3) -> ("qty", None), (1, 4) -> ("note", None),
      (2, 1) -> ("k1", None),
      (2, 2) -> ("alpha BETA gamma", Some(Blue)),   // CHANGED + runs
      (2, 3) -> ("10", None),
      (2, 4) -> ("n1x", Some(Blue)),                // CHANGED, no runs
      (3, 1) -> ("k2", None), (3, 2) -> ("same text", None),
      (3, 3) -> ("20", Some(Green)),                // pre-existing style kept
      (3, 4) -> ("n2", None),
      (4, 1) -> ("k3", None),
      (4, 2) -> ("", Some(Pink)),                   // CLEARED
      (4, 3) -> ("30", None), (4, 4) -> ("n3", None),
      (5, 1) -> ("k4", Some(Yellow)),               // NEW: whole row
      (5, 2) -> ("brand new row", Some(Yellow)),
      (5, 3) -> ("40", Some(Yellow)), (5, 4) -> ("n4", Some(Yellow)),
      (6, 1) -> ("k5", None), (6, 2) -> ("dup last", None),
      (6, 3) -> ("51", None), (6, 4) -> ("n5b", None))

    for (((r, c), (value, fill)) <- expected) {
      val ref = Xlsx.colLetter(c) + r
      assert(sheet(r, c) == value, s"value at $ref")
      assert(fillOf(stylesXml, cellXf(sheetXml, ref)) == fill, s"fill at $ref")
    }

    // pinned rich-text runs for the word-diffed CHANGED cell: tokens
    // joined by single spaces, changed token bold red (Compare.py:96-110)
    assert(sheetXml.contains(
      """<r><t xml:space="preserve">alpha</t></r>""" +
        """<r><rPr><b/><color rgb="FFFF0000"/></rPr>""" +
        """<t xml:space="preserve"> BETA</t></r>""" +
        """<r><t xml:space="preserve"> gamma</t></r>"""))
    // and it is the ONLY rich-text cell in the output
    assert("""<rPr>""".r.findAllIn(sheetXml).size == 1)
  }

  test("golden: a key repeated in the new quarter keeps each row's own marks") {
    // Q1 holds k1=a under id x1; Q2 holds x1 twice: row 2 with k1=b
    // (CHANGED), row 3 with k1=a (UNCHANGED). The marks belong on the
    // row the diff probed (reference Compare.py:174), not on the key's
    // last row
    writeWb(Seq(Seq("id", "k1"), Seq("x1", "a")), s"$dir/dup_q1.xlsx")
    writeWb(Seq(Seq("id", "k1"), Seq("x1", "b"), Seq("x1", "a")), s"$dir/dup_q2.xlsx")
    val (dupDiff, dupOut) = Pipelines.compareAndHighlight(spark,
      s"$dir/dup_q1.xlsx", s"$dir/dup_q2.xlsx", "id", Seq("k1"))
    assert(dupDiff.columns.toSeq == Seq("key", "column", "old_value", "new_value", "status"))
    assert(dupDiff.collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
      r.getString(3), r.getString(4))).toSet == Set(
      ("x1", "k1", "a", "b", "CHANGED"), ("x1", "k1", "a", "a", "UNCHANGED")))
    val sheetXml = zipPart(dupOut, "xl/worksheets/sheet1.xml")
    val stylesXml = zipPart(dupOut, "xl/styles.xml")
    assert(fillOf(stylesXml, cellXf(sheetXml, "B2")) == Some("FFADD8E6"))
    assert(fillOf(stylesXml, cellXf(sheetXml, "B3")).isEmpty)
    assert(fillOf(stylesXml, cellXf(sheetXml, "A2")).isEmpty &&
      fillOf(stylesXml, cellXf(sheetXml, "A3")).isEmpty)
    // the same pair through the sink's keyed path (a diff without sheet
    // rows): a key cannot name one of its two Q2 rows, so the sink
    // refuses instead of painting the key's last row
    val keyed = Pipelines.compare(spark, s"$dir/dup_q1.xlsx",
      s"$dir/dup_q2.xlsx", "id", Seq("k1"))
    assert(!keyed.columns.contains(ExcelSink.SheetRowColumn))
    new java.io.File(dupOut).delete()
    val e = intercept[IllegalArgumentException] {
      ExcelSink.writeHighlighted(s"$dir/dup_q2.xlsx",
        keyed.filter(col("status") =!= "UNCHANGED"), "id")
    }
    assert(e.getMessage.contains("'x1'") &&
      e.getMessage.contains("compareAndHighlight") &&
      e.getMessage.contains("rowNumberColumn"), e.getMessage)
    assert(!new java.io.File(dupOut).exists())
  }
}
