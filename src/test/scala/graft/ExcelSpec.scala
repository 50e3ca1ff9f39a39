package graft

import java.nio.file.Files
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.pipelines.Pipelines
import graft.sources.excel.{ExcelSink, ExcelScan, ExcelOptions, Xlsx}

class ExcelSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir: String =
    Files.createTempDirectory("excel_spec").toString

  import XlsxTestUtil.{cellXf, fillOf, rawParts, zipPart}

  test("xlsx write -> read round-trips strings, numbers, blanks") {
    val dir = tmpDir
    val df = Seq(("a", 1.5, "x"), ("b", 2.0, null), ("c & <d>", 3.25, "z"))
      .toDF("name", "num", "opt")
    val path = s"$dir/rt.xlsx"
    val n = ExcelSink.writePositional(df, path, startRow = 1)
    assert(n == 3)
    val back = spark.read.format("xlsx")
      .option("headerRow", "1").option("header", "false")
      .option("dataStartRow", "1").load(path)
    val rows = back.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.length == 3)
    assert(rows(0) == (("a", "1.5", "x")))
    assert(rows(1)._3 == null)              // null -> '' -> blank -> null
    assert(rows(2)._1 == "c & <d>")         // XML escaping round-trip
  }

  test("positional write skips configured sheet columns (SNK2)") {
    val dir = tmpDir
    val df = Seq((1, 2, 3)).toDF("a", "b", "c")
    val path = s"$dir/skip.xlsx"
    ExcelSink.writePositional(df, path, startRow = 8, startCol = 1,
      skipSheetCols = Set(2, 4))
    val sheet = ExcelScan.loadSheet(path, None)
    assert(sheet(8, 1) == "1.0")
    assert(sheet(8, 2) == "")   // skipped
    assert(sheet(8, 3) == "2.0")
    assert(sheet(8, 4) == "")   // skipped
    assert(sheet(8, 5) == "3.0")
  }

  test("xlsx DSv2 scan prunes columns to the required schema") {
    val dir = tmpDir
    val df = Seq(("a", "b", "c")).toDF("x", "y", "z")
    val path = s"$dir/prune.xlsx"
    ExcelSink.writePositional(df, path, startRow = 2)
    val hdr = df.columns.zipWithIndex.map { case (c, i) =>
      Xlsx.Cell(1, i + 1, Xlsx.SStr(c)) }
    val sheet = ExcelScan.loadSheet(path, None)
    val data = for {
      r <- (2 to sheet.maxRow).iterator; c <- 1 to sheet.maxCol
      if sheet(r, c).nonEmpty
    } yield Xlsx.Cell(r, c, Xlsx.SStr(sheet(r, c)))
    val out = new java.io.FileOutputStream(path)
    try Xlsx.write(out, Seq("Sheet1" -> (hdr.iterator ++ data)))
    finally out.close()

    val narrow = spark.read.format("xlsx").load(path).select("y")
    val scan = narrow.queryExecution.executedPlan.collectLeaves().head.toString
    // DSv2 BatchScan prints its (pruned) output attribute list
    assert(scan.contains("[y#") && !scan.contains("x#") && !scan.contains("z#"),
      scan.take(400))
    assert(narrow.collect().map(_.getString(0)).toSeq == Seq("b"))
  }

  test("metadata cell stamp lands on its own sheet at K4 (SNK4)") {
    val dir = tmpDir
    val path = s"$dir/meta.xlsx"
    ExcelSink.writePositional(Seq((1)).toDF("a"), path,
      metadata = Seq(("Data Validation", (4, 11), "08/12/2026")))
    val sheets = {
      val in = new java.io.FileInputStream(path)
      try Xlsx.read(in) finally in.close()
    }
    val dv = sheets.find(_.name == "Data Validation").get
    assert(dv(4, 11) == "08/12/2026")
  }

  test("header probe: blank-run termination and 500-col cap (SRC3)") {
    val dir = tmpDir
    val path = s"$dir/probe.xlsx"
    // headers with an interior blank, then >10 blanks, then a ghost col
    val cells = (Seq("h1", "h2", "", "h4").zipWithIndex.map { case (h, i) =>
      Xlsx.Cell(1, i + 1, Xlsx.SStr(h))
    } :+ Xlsx.Cell(1, 30, Xlsx.SStr("ghost"))).iterator
    val out = new java.io.FileOutputStream(path)
    try Xlsx.write(out, Seq("S" -> cells)) finally out.close()
    val sheet = ExcelScan.loadSheet(path, None)
    val opts = ExcelOptions(None, headerRow = 1, dataStartRow = 2,
      useHeader = true, blankRunStop = 10, maxCols = 500)
    val headers = ExcelScan.probeHeaders(sheet, opts)
    assert(headers == Seq("h1", "h2", "_c3", "h4"))  // ghost beyond run: dropped
  }

  test("download pipeline: clone-name, row 8 start, K4 stamp (e2e)") {
    val dir = tmpDir
    val (path, n) = Pipelines.download(spark, sfDir, "BUILDING",
      LocalDate.of(2026, 8, 12), dir)
    assert(path.endsWith("BUILDING_08_12_2026.xlsx"))
    assert(n > 0)
    val sheets = { val in = new java.io.FileInputStream(path)
      try Xlsx.read(in) finally in.close() }
    val data = sheets.head
    assert(data(7, 1) == "")                  // nothing above startRow 8
    assert(data(8, 1).nonEmpty)
    assert(data(8, 3) == "" && data(8, 5) == "") // skip columns honored
    val dv = sheets.find(_.name == "Data Validation").get
    assert(dv(4, 11) == "08/12/2026")
    // date column formatted %m-%d-%Y somewhere in row 8
    val row8 = (1 to data.maxCol).map(c => data(8, c))
    assert(row8.exists(_.matches("\\d{2}-\\d{2}-\\d{4}")))
    assert(row8.exists(_.matches("-?\\d+%")))  // percent column
  }

  test("upload pipeline: header-matched write honors template positions") {
    val dir = tmpDir
    // build a template: headers at row 5, cols 2/4/6; fuzzy-case names
    val template = s"$dir/template.xlsx"
    val cells = Seq(
      Xlsx.Cell(5, 2, Xlsx.SStr("C  Name")),      // matches c_name
      Xlsx.Cell(5, 4, Xlsx.SStr("C_MKTSEGMENT")), // matches c_mktsegment
      Xlsx.Cell(5, 6, Xlsx.SStr("No Such Col"))).iterator
    val out = new java.io.FileOutputStream(template)
    try Xlsx.write(out, Seq("Sheet1" -> cells)) finally out.close()

    val (path, n) = Pipelines.upload(spark, sfDir, "ALL", template, dir,
      LocalDate.of(2026, 8, 12))
    assert(path.endsWith("ALL_08_12_2026.xlsx"))
    val sheet = ExcelScan.loadSheet(path, None)
    assert(n > 0)
    assert(sheet(6, 2).nonEmpty)        // c_name under template col 2
    assert(sheet(6, 4).nonEmpty)        // segment under template col 4
    assert(sheet(6, 1) == "" && sheet(6, 3) == "" && sheet(6, 6) == "")
    // O1: ALL-mode block order follows SegmentOrder, not data order
    val segCol = (0 until n.toInt).map(i => sheet(6 + i, 4)).filter(_.nonEmpty)
    val order = segCol.distinct
    assert(order == Pipelines.SegmentOrder.filter(order.contains))
  }

  test("highlighted workbook gets fills for CHANGED/NEW cells (SNK5)") {
    val dir = tmpDir
    val q1 = Seq(("k1", "alpha old"), ("k2", "same")).toDF("id", "val")
    val q2 = Seq(("k1", "alpha new"), ("k2", "same"), ("k3", "added"))
      .toDF("id", "val")
    def writeWb(df: org.apache.spark.sql.DataFrame, p: String): Unit = {
      val hdr = df.columns.zipWithIndex.map { case (c, i) =>
        Xlsx.Cell(1, i + 1, Xlsx.SStr(c)) }
      val rows = df.collect().zipWithIndex.flatMap { case (r, ri) =>
        (0 until r.length).map(ci =>
          Xlsx.Cell(ri + 2, ci + 1, Xlsx.SStr(r.getString(ci)))) }
      val out = new java.io.FileOutputStream(p)
      try Xlsx.write(out, Seq("Sheet1" -> (hdr ++ rows).iterator))
      finally out.close()
    }
    writeWb(q1, s"$dir/h_q1.xlsx"); writeWb(q2, s"$dir/h_q2.xlsx")
    val (diff, outPath) = Pipelines.compareAndHighlight(spark,
      s"$dir/h_q1.xlsx", s"$dir/h_q2.xlsx", "id", Seq("val"),
      wordDiffCols = Set("val"))
    assert(outPath.endsWith("h_q2 (change highlighted).xlsx"))
    assert(diff.filter($"status" === "CHANGED").count() == 1)
    // raw XML: the changed cell (B2) and the NEW row (4) carry style refs,
    // and styles.xml defines the solid fills
    val zf = new java.util.zip.ZipFile(outPath)
    def entry(n: String): String = {
      val in = zf.getInputStream(zf.getEntry(n))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val sheetXml = entry("xl/worksheets/sheet1.xml")
    val stylesXml = entry("xl/styles.xml")
    zf.close()
    // resolve each cell's style ref through cellXfs -> fills to the ARGB
    // (in-place highlighting appends combo xfs after the source's own,
    // so absolute indices are layout-dependent)
    assert(fillOf(stylesXml, cellXf(sheetXml, "B2")) == Some("FFADD8E6")) // CHANGED
    assert(fillOf(stylesXml, cellXf(sheetXml, "A4")) == Some("FFFFFF00")) // NEW row
    assert(fillOf(stylesXml, cellXf(sheetXml, "B4")) == Some("FFFFFF00"))
    assert(cellXf(sheetXml, "B3").isEmpty)             // UNCHANGED unstyled
    // rich-text word runs: unchanged token plain, changed token bold red
    assert(sheetXml.contains(
      """<r><t xml:space="preserve">alpha</t></r>""" +
        """<r><rPr><b/><color rgb="FFFF0000"/></rPr>""" +
        """<t xml:space="preserve"> new</t></r>"""), sheetXml.take(2000))
  }

  test("highlightCopy preserves pre-existing styling, layers fills on top") {
    val dir = tmpDir
    val src = s"$dir/styled.xlsx"
    // source workbook with its own styling: a green-filled cell (A2) and
    // a typed date cell (B2, numFmtId 14)
    val cells = Seq(
      Xlsx.Cell(1, 1, Xlsx.SStr("id")), Xlsx.Cell(1, 2, Xlsx.SStr("when")),
      Xlsx.Cell(2, 1, Xlsx.SStr("k1"), style = 1),
      Xlsx.Cell(2, 2, Xlsx.SDate(Xlsx.dateSerial(LocalDate.of(2026, 3, 5)))),
      Xlsx.Cell(3, 1, Xlsx.SStr("k2")), Xlsx.Cell(3, 2, Xlsx.SStr("plain")))
    val o0 = new java.io.FileOutputStream(src)
    try Xlsx.write(o0, Seq("Sheet1" -> cells.iterator), fills = Seq("FF00FF00"))
    finally o0.close()
    val srcSheetXml = zipPart(src, "xl/worksheets/sheet1.xml")
    val srcA2 = cellXf(srcSheetXml, "A2")

    // highlight the DATE cell as CHANGED (blue)
    val outP = s"$dir/styled_hl.xlsx"
    val o1 = new java.io.FileOutputStream(outP)
    try Xlsx.highlightCopy(src, o1, None, Seq("FFADD8E6"), Map((2, 2) -> 1))
    finally o1.close()

    val sheetXml = zipPart(outP, "xl/worksheets/sheet1.xml")
    val stylesXml = zipPart(outP, "xl/styles.xml")
    // the pre-styled unmarked cell keeps its exact original style index
    // and its green fill still resolves
    assert(cellXf(sheetXml, "A2") == srcA2)
    assert(fillOf(stylesXml, cellXf(sheetXml, "A2")) == Some("FF00FF00"))
    // the marked date cell gets the blue fill AND keeps its date format:
    // the combo xf clones the original (numFmtId 14) with fillId replaced
    assert(fillOf(stylesXml, cellXf(sheetXml, "B2")) == Some("FFADD8E6"))
    val cx = stylesXml.substring(stylesXml.indexOf("<cellXfs"),
      stylesXml.indexOf("</cellXfs>"))
    val xfs = """(?s)<xf\b[^>]*?(?:/>|>.*?</xf>)""".r.findAllIn(cx).toVector
    assert(xfs(cellXf(sheetXml, "B2").get).contains("""numFmtId="14""""))
    // values survive: the date still reads back as a date string
    val back = ExcelScan.loadSheet(outP, None)
    assert(back(2, 2) == "2026-03-05" && back(2, 1) == "k1" &&
      back(3, 2) == "plain")
  }

  test("date cells with a highlight style keep both format and fill") {
    val dir = tmpDir
    val p = s"$dir/datefill.xlsx"
    val cells = Seq(Xlsx.Cell(1, 1,
      Xlsx.SDate(Xlsx.dateSerial(LocalDate.of(2026, 7, 1))), style = 2))
    val o = new java.io.FileOutputStream(p)
    try Xlsx.write(o, Seq("S" -> cells.iterator),
      fills = Seq("FFADD8E6", "FFFFC0CB")) finally o.close()
    val sheetXml = zipPart(p, "xl/worksheets/sheet1.xml")
    val stylesXml = zipPart(p, "xl/styles.xml")
    assert(fillOf(stylesXml, cellXf(sheetXml, "A1")) == Some("FFFFC0CB"))
    val cx = stylesXml.substring(stylesXml.indexOf("<cellXfs"),
      stylesXml.indexOf("</cellXfs>"))
    val xfs = """(?s)<xf\b[^>]*?(?:/>|>.*?</xf>)""".r.findAllIn(cx).toVector
    assert(xfs(cellXf(sheetXml, "A1").get).contains("""numFmtId="14""""))
    assert(Xlsx.read(new java.io.FileInputStream(p)).head(1, 1) == "2026-07-01")
  }

  test("dateSerial refuses pre-1900-03-01 dates instead of corrupting") {
    intercept[IllegalArgumentException] {
      Xlsx.dateSerial(LocalDate.of(1900, 2, 28))
    }
    assert(Xlsx.dateSerial(LocalDate.of(1900, 3, 1)) == 61.0)
  }

  test("pre-1900-03-01 dates degrade per-cell to strings; export survives") {
    // the sink must not let dateSerial throw mid-ZIP (truncated workbook,
    // whole export failed for one legacy placeholder date — ADVICE r5):
    // the offending CELL becomes its ISO string, everything else typed
    val dir = tmpDir
    val df = Seq(
      (java.sql.Date.valueOf("1900-01-01"), "legacy"),
      (java.sql.Date.valueOf("2026-03-14"), "modern")).toDF("d", "s")
    val path = s"$dir/legacy.xlsx"
    assert(ExcelSink.writePositional(df, path, startRow = 1) == 2)
    val sheetXml = zipPart(path, "xl/worksheets/sheet1.xml")
    assert(sheetXml.contains("""t="inlineStr"><is><t xml:space="preserve">1900-01-01"""))
    assert(sheetXml.contains("""<c r="A2" s="1"><v>46095</v></c>"""))
    val sheet = ExcelScan.loadSheet(path, None)
    assert(sheet(1, 1) == "1900-01-01") // string cell
    assert(sheet(2, 1) == "2026-03-14") // typed date cell, formatted back
  }

  test("sheet parts resolve via r:id -> rels, not positional numbering") {
    // externally-produced package where workbook order and part file
    // numbering DISAGREE (Excel keeps part names stable across sheet
    // reorder/delete — ADVICE r5): first sheet "Main" lives in
    // sheet2.xml, second sheet "Other" in sheet1.xml
    val dir = tmpDir
    val path = s"$dir/perm.xlsx"
    val zout = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(path))
    def part(name: String, content: String): Unit = {
      zout.putNextEntry(new java.util.zip.ZipEntry(name))
      zout.write(content.getBytes("UTF-8"))
      zout.closeEntry()
    }
    part("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/></Types>""")
    part("_rels/.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    part("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Main" sheetId="1" r:id="rId9"/><sheet name="Other" sheetId="2" r:id="rId3"/></sheets></workbook>""")
    part("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId9" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/><Relationship Id="rId3" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    part("xl/styles.xml",
      """<?xml version="1.0"?><styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><fills count="2"><fill><patternFill patternType="none"/></fill><fill><patternFill patternType="gray125"/></fill></fills><cellXfs count="1"><xf/></cellXfs></styleSheet>""")
    part("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>other</t></is></c></row></sheetData></worksheet>""")
    part("xl/worksheets/sheet2.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>main</t></is></c></row></sheetData></worksheet>""")
    zout.finish(); zout.close()

    // reader: names associate through rels, not file numbering
    val sheets = Xlsx.read(new java.io.FileInputStream(path))
    assert(sheets.find(_.name == "Main").get(1, 1) == "main")
    assert(sheets.find(_.name == "Other").get(1, 1) == "other")

    // highlighter: patching "Main" must land on sheet2.xml
    val hl = s"$dir/perm_hl.xlsx"
    val os = new java.io.FileOutputStream(hl)
    try Xlsx.highlightCopy(path, os, Some("Main"), Seq("FFFFFF00"),
      Map((1, 1) -> 1))
    finally os.close()
    assert(cellXf(zipPart(hl, "xl/worksheets/sheet2.xml"), "A1").nonEmpty)
    assert(cellXf(zipPart(hl, "xl/worksheets/sheet1.xml"), "A1").isEmpty)
  }

  test("compare pipeline over two workbooks classifies changes (e2e)") {
    val dir = tmpDir
    val q1 = Seq(("k1", "alpha beta"), ("k2", "same")).toDF("id", "val")
    val q2 = Seq(("k1", "alpha GAMMA"), ("k2", "same"), ("k3", "brand new"))
      .toDF("id", "val")
    val p1 = s"$dir/q1.xlsx"; val p2 = s"$dir/q2.xlsx"
    // write with header row so the xlsx reader picks up column names
    def writeWithHeader(df: org.apache.spark.sql.DataFrame, p: String): Unit = {
      val withHdr = ExcelSink.writePositional(df, p, startRow = 2)
      val sheet = ExcelScan.loadSheet(p, None)
      val out = new java.io.FileOutputStream(p)
      val hdr = df.columns.zipWithIndex.map { case (c, i) =>
        Xlsx.Cell(1, i + 1, Xlsx.SStr(c)) }
      val data = for {
        r <- (2 to sheet.maxRow).iterator
        c <- 1 to sheet.maxCol
        if sheet(r, c).nonEmpty
      } yield Xlsx.Cell(r, c, Xlsx.SStr(sheet(r, c)))
      try Xlsx.write(out, Seq("Sheet1" -> (hdr.iterator ++ data)))
      finally out.close()
    }
    writeWithHeader(q1, p1); writeWithHeader(q2, p2)

    val diff = Pipelines.compare(spark, p1, p2, "id", Seq("val"),
      wordDiffCols = Set("val"))
    val byKey = diff.collect().map(r => r.getString(0) -> r.getString(4)).toMap
    assert(byKey("k1") == "CHANGED")
    assert(byKey("k2") == "UNCHANGED")
    assert(byKey("k3") == "NEW")
    val runs = diff.filter($"key" === "k1")
      .select($"word_runs").as[Seq[(String, Boolean)]].collect()(0)
    assert(runs == Seq(("alpha", false), ("GAMMA", true)))
  }

  test("date/timestamp columns write as typed date cells (S11)") {
    val dir = tmpDir
    val df = Seq((
      java.sql.Date.valueOf("2026-03-14"),
      java.sql.Timestamp.valueOf("2026-03-14 15:09:26"),
      "note")).toDF("d", "ts", "s")
    val path = s"$dir/dates.xlsx"
    ExcelSink.writePositional(df, path, startRow = 1)

    // raw XML: serial-number cells carrying the date / datetime number
    // format (reference writes typed dates, Download.py:188-191) —
    // serial 46095 = 2026-03-14 in the 1900 date system
    val zin = new java.util.zip.ZipInputStream(
      new java.io.FileInputStream(path))
    var sheetXml = ""
    var e = zin.getNextEntry
    while (e != null) {
      if (e.getName == "xl/worksheets/sheet1.xml")
        sheetXml = new String(zin.readAllBytes(), "UTF-8")
      e = zin.getNextEntry
    }
    zin.close()
    assert(sheetXml.contains("""<c r="A1" s="1"><v>46095</v></c>"""),
      sheetXml.take(500))
    assert(sheetXml.contains("""<c r="B1" s="2"><v>46095.6"""),
      sheetXml.take(500))

    // the all-string scan surfaces them as rendered dates, not raw
    // serials (openpyxl-style read behavior)
    val sheet = ExcelScan.loadSheet(path, None)
    assert(sheet(1, 1) == "2026-03-14")
    assert(sheet(1, 2) == "2026-03-14 15:09:26")
    assert(sheet(1, 3) == "note")
  }

  // --- partial rels resolution (ADVICE r6): nonstandard part names and
  // --- unresolvable targets must not silently drop sheets ---

  private def rawZip(path: String, entries: Seq[(String, String)],
                     level: Int = java.util.zip.Deflater.DEFAULT_COMPRESSION): Unit = {
    val zout = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(path))
    zout.setLevel(level)
    entries.foreach { case (name, xml) =>
      zout.putNextEntry(new java.util.zip.ZipEntry(name))
      zout.write(xml.getBytes("UTF-8"))
      zout.closeEntry()
    }
    zout.close()
  }

  private def wbXml(names: String*): String = {
    val sheets = names.zipWithIndex.map { case (n, i) =>
      s"""<sheet name="$n" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString
    s"""<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>$sheets</sheets></workbook>"""
  }

  private def relsXml(targets: String*): String = {
    val rels = targets.zipWithIndex.map { case (t, i) =>
      s"""<Relationship Id="rId${i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="$t"/>"""
    }.mkString
    s"""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">$rels</Relationships>"""
  }

  private def sheetXmlWith(text: String): String =
    s"""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>$text</t></is></c></row></sheetData></worksheet>"""

  test("read resolves rels targets with nonstandard part names") {
    val path = s"$tmpDir/nonstd.xlsx"
    rawZip(path, Seq(
      "xl/workbook.xml" -> wbXml("Alpha", "Beta"),
      "xl/_rels/workbook.xml.rels" ->
        relsXml("worksheets/sheet1.xml", "worksheets/data1.xml"),
      "xl/worksheets/sheet1.xml" -> sheetXmlWith("alpha"),
      "xl/worksheets/data1.xml" -> sheetXmlWith("beta")))
    val sheets = { val in = new java.io.FileInputStream(path)
      try Xlsx.read(in) finally in.close() }
    assert(sheets.map(_.name) == Seq("Alpha", "Beta"))
    assert(sheets(1)(1, 1) == "beta")
  }

  test("read falls back positionally for sheets whose rel is unresolvable") {
    val path = s"$tmpDir/partial.xlsx"
    // Beta's rel points at a part that isn't in the package; the sheet
    // must resolve to the positional part at its workbook index, not
    // vanish from the result
    rawZip(path, Seq(
      "xl/workbook.xml" -> wbXml("Alpha", "Beta"),
      "xl/_rels/workbook.xml.rels" ->
        relsXml("worksheets/sheet1.xml", "worksheets/ghost.xml"),
      "xl/worksheets/sheet1.xml" -> sheetXmlWith("alpha"),
      "xl/worksheets/sheet2.xml" -> sheetXmlWith("beta")))
    val sheets = { val in = new java.io.FileInputStream(path)
      try Xlsx.read(in) finally in.close() }
    assert(sheets.map(_.name) == Seq("Alpha", "Beta"))
    assert(sheets(1)(1, 1) == "beta")
  }

  // --- the bounded / row-major read and the linear highlight patch ---

  private val WbRels = Seq(
    "xl/workbook.xml" -> wbXml("Sheet1"),
    "xl/_rels/workbook.xml.rels" -> relsXml("worksheets/sheet1.xml"))

  private def sheetDataXml(rows: String*): String =
    s"""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>${rows.mkString}</sheetData></worksheet>"""

  private def sharedXml(strings: String*): String =
    s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${strings.size}" uniqueCount="${strings.size}">""" +
      strings.map(t => s"<si><t>$t</t></si>").mkString + "</sst>"

  private val PlainStyles =
    """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><fills count="2"><fill><patternFill patternType="none"/></fill><fill><patternFill patternType="gray125"/></fill></fills><cellXfs count="1"><xf/></cellXfs></styleSheet>"""

  private def readAll(path: String): Seq[Xlsx.Sheet] = {
    val in = new java.io.FileInputStream(path)
    try Xlsx.read(in) finally in.close()
  }

  test("cells and rows without r take their position from document order") {
    val path = s"$tmpDir/rless.xlsx"
    val sheetXml = sheetDataXml(
      """<row><c t="inlineStr"><is><t>id</t></is></c><c t="inlineStr"><is><t>val</t></is></c></row>""",
      """<row><c><v>1</v></c><c r="C2"><v>x</v></c><c><v>9</v></c></row>""",
      """<row r="5"><c><v>5</v></c></row>""",
      """<row><c r="B6"><v>6</v></c></row>""")
    rawZip(path, WbRels ++ Seq("xl/styles.xml" -> PlainStyles,
      "xl/worksheets/sheet1.xml" -> sheetXml))
    val sheet = readAll(path).head
    assert(Seq(sheet(1, 1), sheet(1, 2)) == Seq("id", "val"))
    assert(Seq(sheet(2, 1), sheet(2, 2), sheet(2, 3), sheet(2, 4)) ==
      Seq("1", "", "x", "9"))
    assert(sheet(5, 1) == "5" && sheet(6, 2) == "6")
    assert((sheet.maxRow, sheet.maxCol) == ((6, 4)))
    // the header bound counts the same inferred rows
    val header = ExcelScan.loadSheet(path, None, lastRow = 1)
    assert((header.maxRow, header.maxCol) == ((1, 2)) && header(2, 1) == "")
    assert(spark.read.format("xlsx").load(path).schema.fieldNames.toSeq ==
      Seq("id", "val"))
    // the highlight patch resolves the same positions: the r-less A2 and
    // D2 are restyled in place, not duplicated
    val hl = s"$tmpDir/rless_hl.xlsx"
    val os = new java.io.FileOutputStream(hl)
    try Xlsx.highlightCopy(path, os, None, Seq("FFADD8E6"),
      Map((2, 1) -> 1, (2, 4) -> 1))
    finally os.close()
    val outXml = zipPart(hl, "xl/worksheets/sheet1.xml")
    assert("<c\\b".r.findAllIn(outXml).size == "<c\\b".r.findAllIn(sheetXml).size)
    assert(outXml.contains("""<row><c s="1"><v>1</v></c>""") &&
      outXml.contains("""<c s="1"><v>9</v></c></row>"""), outXml)
    assert(readAll(hl).head.cells == sheet.cells)
  }

  test("a shared-string index past the table fails naming the sheet part and cell") {
    val path = s"$tmpDir/sst_range.xlsx"
    rawZip(path, WbRels ++ Seq(
      "xl/sharedStrings.xml" -> sharedXml("id", "val"),
      "xl/worksheets/sheet1.xml" -> sheetDataXml(
        """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>""",
        """<row r="2"><c r="A2" t="s"><v>0</v></c><c r="B2" t="s"><v>5</v></c></row>""")))
    val e = intercept[IllegalArgumentException](readAll(path))
    assert(e.getMessage.contains("xl/worksheets/sheet1.xml cell B2") &&
      e.getMessage.contains("index 5") &&
      e.getMessage.contains("xl/sharedStrings.xml holds 2 entries"), e.getMessage)
  }

  test("a header-bounded probe equals the full-read probe") {
    // headers at row 1 and at row 5 (title rows above), as shared strings
    // and as inline strings; data rows are wider than the header
    def book(path: String, headerRow: Int, shared: Boolean): Unit = {
      val names = Seq("id", "Name", "", "Cost", "Name")
      val strings = mutable.LinkedHashMap[String, Int]()
      def cell(ref: String, v: String): String =
        if (v.isEmpty) ""
        else if (shared)
          s"""<c r="$ref" t="s"><v>${strings.getOrElseUpdate(v, strings.size)}</v></c>"""
        else s"""<c r="$ref" t="inlineStr"><is><t>$v</t></is></c>"""
      def row(r: Int, values: Seq[String]): String =
        s"""<row r="$r">""" + values.zipWithIndex.map { case (v, i) =>
          cell(Xlsx.colLetter(i + 1) + r, v) }.mkString + "</row>"
      val rows = (1 until headerRow).map(r => row(r, Seq(s"title $r"))) ++
        Seq(row(headerRow, names)) ++
        (1 to 30).map(i => row(headerRow + i,
          (1 to 8).map(c => if (c == 3) "" else s"v${i}_$c")))
      val sheetXml = sheetDataXml(rows: _*)
      rawZip(path, WbRels ++ Seq("xl/worksheets/sheet1.xml" -> sheetXml) ++
        (if (shared) Seq("xl/sharedStrings.xml" -> sharedXml(strings.keys.toSeq: _*))
         else Nil))
    }
    for (headerRow <- Seq(1, 5); shared <- Seq(true, false)) {
      val path = s"$tmpDir/hdr_${headerRow}_$shared.xlsx"
      book(path, headerRow, shared)
      val opts = ExcelOptions(None, headerRow = headerRow,
        dataStartRow = headerRow + 1, useHeader = true, blankRunStop = 10,
        maxCols = 500)
      val full = ExcelScan.probeHeaders(ExcelScan.loadSheet(path, None), opts)
      val bounded = ExcelScan.probeHeaders(
        ExcelScan.loadSheet(path, None, lastRow = headerRow), opts)
      assert(full == Seq("id", "Name", "_c3", "Cost", "Name_1"))
      assert(bounded == full, s"headerRow $headerRow shared $shared")
      val df = spark.read.format("xlsx")
        .option("headerRow", headerRow.toString).load(path)
      assert(df.schema == StructType(full.map(StructField(_, StringType))))
      assert(df.count() == 30 && df.select("Name_1").head().getString(0) == "v1_5")
    }
  }

  test("schema inference reads only through the header row") {
    // row 3 holds a malformed shared-string cell: the schema comes from
    // row 1 alone, while the scan still fails loudly on it
    val path = s"$tmpDir/bad_row3.xlsx"
    rawZip(path, WbRels ++ Seq("xl/worksheets/sheet1.xml" -> sheetDataXml(
      """<row r="1"><c r="A1" t="inlineStr"><is><t>a</t></is></c><c r="B1" t="inlineStr"><is><t>b</t></is></c></row>""",
      """<row r="2"><c r="A2"><v>1</v></c><c r="B2"><v>2</v></c></row>""",
      """<row r="3"><c r="A3" t="s"><v>oops</v></c></row>""")))
    val df = spark.read.format("xlsx").load(path)
    assert(df.schema.fieldNames.toSeq == Seq("a", "b"))
    val e = intercept[Exception](df.collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    assert(chain.contains("xl/worksheets/sheet1.xml cell A3") &&
      chain.contains("'oops'"), chain)
  }

  test("highlightCopy patches edge shapes in place and keeps rows ascending") {
    // `<cols>`/`<conditionalFormatting>` (both start with `<c`),
    // self-closing cells and rows, marks on absent cells in present rows
    // and in absent rows, existing rich-text runs, a formula cell and
    // styled cells. The expected parts were recorded from the regex
    // patcher the linear scan replaced, except that the new row 5 now
    // sits between rows 4 and 6 (the regex patcher appended it after
    // row 6, out of the ascending order ECMA-376 requires)
    val sheetXml = Seq(
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><cols><col min="1" max="3" width="14" customWidth="1"/></cols>""",
      """<sheetData>""",
      """<row r="1" spans="1:3"><c r="A1" t="inlineStr"><is><t>id</t></is></c><c r="B1" t="inlineStr"><is><t>val</t></is></c><c r="C1" s="1" t="inlineStr"><is><t>note</t></is></c></row>""",
      """<row r="2" spans="1:3"><c r="A2" t="inlineStr"><is><t>k1</t></is></c><c r="B2" s="1"/><c r="C2" t="inlineStr"><is><t xml:space="preserve">alpha beta</t></is></c></row>""",
      """<row r="3"/>""",
      """<row r="4"><c r="A4" t="inlineStr"><is><t>k3</t></is></c></row>""",
      """<row r="6" ht="20" customHeight="1"><c r="A6" s="2"><v>7</v></c><c r="B6" t="inlineStr"><is><r><t>rich</t></r><r><rPr><b/><color rgb="FF00AA00"/></rPr><t xml:space="preserve"> run</t></r></is></c><c r="C6" s="2"><f>A6*2</f><v>14</v></c></row>""",
      """</sheetData><conditionalFormatting sqref="A1:C6"><cfRule type="cellIs" dxfId="0" priority="1" operator="equal"><formula>0</formula></cfRule></conditionalFormatting></worksheet>""")
      .mkString("\n")
    val stylesXml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        """<fonts count="1"><font><sz val="11"/></font></fonts>""" +
        """<fills count="2"><fill><patternFill patternType="none"/></fill><fill><patternFill patternType="gray125"/></fill></fills>""" +
        """<cellXfs count="3"><xf/><xf numFmtId="14" applyNumberFormat="1"/><xf fontId="0" fillId="0"><alignment wrapText="1"/></xf></cellXfs>""" +
        """</styleSheet>"""
    val src = s"$tmpDir/edge.xlsx"
    // deflated at level 0, so a part the copy re-deflated would differ
    rawZip(src, Seq(
      "xl/workbook.xml" -> wbXml("Edge"),
      "xl/_rels/workbook.xml.rels" -> relsXml("worksheets/sheet1.xml"),
      "xl/styles.xml" -> stylesXml,
      "xl/worksheets/sheet1.xml" -> sheetXml), java.util.zip.Deflater.NO_COMPRESSION)
    val marks = Map((1, 3) -> 2, (2, 2) -> 1, (2, 3) -> 1, (3, 1) -> 3,
      (4, 3) -> 1, (5, 2) -> 3, (6, 2) -> 2, (6, 3) -> 1, (9, 1) -> 2)
    val runsAt = Map((2, 3) -> Seq(("alpha", false), ("gamma", true)),
      (4, 3) -> Seq(("new", true)))
    val hl = s"$tmpDir/edge_hl.xlsx"
    val os = new java.io.FileOutputStream(hl)
    try Xlsx.highlightCopy(src, os, Some("Edge"),
      Seq("FFADD8E6", "FFFFC0CB", "FFFFFF00"), marks, runsAt)
    finally os.close()
    val expectedSheet = Seq(
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""",
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><cols><col min="1" max="3" width="14" customWidth="1"/></cols>""",
        """<sheetData>""",
        """<row r="1" spans="1:3"><c r="A1" t="inlineStr"><is><t>id</t></is></c><c r="B1" t="inlineStr"><is><t>val</t></is></c><c r="C1" t="inlineStr" s="7"><is><t>note</t></is></c></row>""",
        """<row r="2" spans="1:3"><c r="A2" t="inlineStr"><is><t>k1</t></is></c><c r="B2" s="6"/><c r="C2" s="3" t="inlineStr"><is><r><t xml:space="preserve">alpha</t></r><r><rPr><b/><color rgb="FFFF0000"/></rPr><t xml:space="preserve"> gamma</t></r></is></c></row>""",
        """<row r="3"><c r="A3" s="5"/></row>""",
        """<row r="4"><c r="A4" t="inlineStr"><is><t>k3</t></is></c><c r="C4" s="3" t="inlineStr"><is><r><rPr><b/><color rgb="FFFF0000"/></rPr><t xml:space="preserve">new</t></r></is></c></row>""",
        """<row r="5"><c r="B5" s="5"/></row><row r="6" ht="20" customHeight="1"><c r="A6" s="2"><v>7</v></c><c r="B6" t="inlineStr" s="4"><is><r><t>rich</t></r><r><rPr><b/><color rgb="FF00AA00"/></rPr><t xml:space="preserve"> run</t></r></is></c><c r="C6" s="8"><f>A6*2</f><v>14</v></c></row>""",
        """<row r="9"><c r="A9" s="4"/></row></sheetData><conditionalFormatting sqref="A1:C6"><cfRule type="cellIs" dxfId="0" priority="1" operator="equal"><formula>0</formula></cfRule></conditionalFormatting></worksheet>""").mkString("\n")
    val expectedStyles = Seq(
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?><styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><fonts count="1"><font><sz val="11"/></font></fonts><fills count="5"><fill><patternFill patternType="none"/></fill><fill><patternFill patternType="gray125"/></fill><fill><patternFill patternType="solid"><fgColor rgb="FFADD8E6"/><bgColor indexed="64"/></patternFill></fill><fill><patternFill patternType="solid"><fgColor rgb="FFFFC0CB"/><bgColor indexed="64"/></patternFill></fill><fill><patternFill patternType="solid"><fgColor rgb="FFFFFF00"/><bgColor indexed="64"/></patternFill></fill></fills><cellXfs count="9"><xf/><xf numFmtId="14" applyNumberFormat="1"/><xf fontId="0" fillId="0"><alignment wrapText="1"/></xf><xf fillId="2" applyFill="1"/><xf fillId="3" applyFill="1"/><xf fillId="4" applyFill="1"/><xf numFmtId="14" applyNumberFormat="1" fillId="2" applyFill="1"/><xf numFmtId="14" applyNumberFormat="1" fillId="3" applyFill="1"/><xf fontId="0" fillId="2" applyFill="1"><alignment wrapText="1"/></xf></cellXfs></styleSheet>""").mkString("\n")
    val patched = zipPart(hl, "xl/worksheets/sheet1.xml")
    assert(patched == expectedSheet)
    assert(zipPart(hl, "xl/styles.xml") == expectedStyles)
    // every other part is copied with its compressed bytes as they are
    val (srcRaw, hlRaw) = (rawParts(src), rawParts(hl))
    assert(hlRaw.keySet == srcRaw.keySet)
    val untouched = srcRaw.keySet - "xl/worksheets/sheet1.xml" - "xl/styles.xml"
    assert(untouched.nonEmpty && untouched.forall(n => hlRaw(n) == srcRaw(n)),
      untouched.filterNot(n => hlRaw(n) == srcRaw(n)).mkString(", "))
    val rows = """<row r="(\d+)"""".r.findAllMatchIn(patched)
      .map(_.group(1).toInt).toSeq
    assert(rows.nonEmpty && rows.zip(rows.tail).forall { case (a, b) => a < b },
      rows.mkString(","))
  }
}
