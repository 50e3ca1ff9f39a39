package graft.sources.excel

import java.io.{InputStream, OutputStream}
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.commons.compress.archivers.zip.{ZipArchiveEntry, ZipArchiveOutputStream, ZipFile}

/** Minimal xlsx codec built on `java.util.zip`, commons-compress (for
  * raw part copies) and StAX — no spreadsheet library (no POI among the
  * Spark jars). xlsx is a zip of XML parts; we emit inline strings (no
  * sharedStrings table) and parse both inline and shared strings on read.
  *
  * Read model: each sheet part is parsed with one StAX pass straight off
  * its entry stream into a row-major [[Sheet]] (an array of rows, each an
  * array of values by column), tracking `maxRow`/`maxCol` as it goes. A
  * `lastRow` bound stops the pass at the first cell past that row, so a
  * header probe parses only the rows above and at its header. Shared
  * strings are parsed lazily, only as far as the highest index a cell
  * asks for. A file is opened with random access ([[readSheet]], behind
  * `ExcelScan.loadSheet`), so a part is inflated only as far as its
  * parser reads it: a header probe inflates the header, not the package.
  * [[read]] takes a stream, which has no index, and reads it to its end.
  * Cells and rows without an `r` attribute take their position from
  * document order.
  *
  * Patch model: [[highlightCopy]] rewrites one sheet part with two
  * linear index scans (no XML parse, no regex): the first finds which
  * marked cells exist, their style indices and the sheet's last column,
  * the second copies the XML verbatim between the edits it makes. The
  * sheet and styles are the only parts it inflates and re-deflates;
  * every other part is copied with its compressed bytes unchanged.
  *
  * This is the byte-level core; Spark integration lives in
  * [[ExcelTable]] / [[ExcelSink]].
  */
object Xlsx {

  // ---------------------------------------------------------------- write

  private def xmlEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      case c if c >= ' ' || c == '\t' || c == '\n' || c == '\r' => sb.append(c)
      case _ => () // strip control chars xlsx forbids
    }
    sb.toString
  }

  /** Column ordinal (1-based) -> Excel letters. */
  def colLetter(n: Int): String = {
    @annotation.tailrec
    def go(x: Int, acc: String): String =
      if (x <= 0) acc else go((x - 1) / 26, ('A' + (x - 1) % 26).toChar.toString + acc)
    go(n, "")
  }

  /** A cell value with its target 1-based (row, col) and an optional
    * style: 0 = none, 1..n = 1-based index into the `fills` palette
    * passed to [[write]] (ARGB hex strings). */
  final case class Cell(row: Int, col: Int, value: CellValue, style: Int = 0)

  sealed trait CellValue
  final case class SStr(v: String) extends CellValue
  final case class SNum(v: Double) extends CellValue
  final case class SBool(v: Boolean) extends CellValue
  case object SBlank extends CellValue

  /** Date / datetime cells: written as Excel serial numbers with a
    * built-in date number format (numFmtId 14 / 22), the way real
    * spreadsheet writers emit them (reference parity: Download.py:188-191
    * writes typed COM dates, not strings). */
  final case class SDate(serial: Double) extends CellValue
  final case class SDateTime(serial: Double) extends CellValue

  /** Excel's serial epoch in the 1900 date system. Day 1 = 1900-01-01,
    * with the fictitious 1900-02-29 (Lotus bug) folded in by anchoring at
    * 1899-12-30 — correct for all dates >= 1900-03-01, same convention
    * as openpyxl/COM. */
  private val ExcelEpoch = java.time.LocalDate.of(1899, 12, 30)

  /** First date for which the 1899-12-30 anchor is exact (serials for
    * 1900-01-01..1900-02-28 are off by one under this convention). */
  private val MinExactDate = java.time.LocalDate.of(1900, 3, 1)

  /** Whether the 1900 serial system represents `d` exactly — callers
    * that stream cells should check this and degrade to a string cell
    * instead of letting [[dateSerial]] throw mid-write. */
  def isSerialRepresentable(d: java.time.LocalDate): Boolean =
    !d.isBefore(MinExactDate)

  def dateSerial(d: java.time.LocalDate): Double = {
    // refuse rather than silently corrupt: the documented validity
    // window of the Lotus-compatible epoch starts at 1900-03-01
    require(!d.isBefore(MinExactDate),
      s"date $d predates 1900-03-01; the 1900 serial date system cannot " +
        "represent it exactly (Lotus leap-year bug) — write it as a string")
    java.time.temporal.ChronoUnit.DAYS.between(ExcelEpoch, d).toDouble
  }

  def dateTimeSerial(dt: java.time.LocalDateTime): Double =
    dateSerial(dt.toLocalDate) +
      (dt.toLocalTime.toNanoOfDay / 1e9) / 86400.0

  /** Serial -> canonical string for the all-string scan: date-formatted
    * cells read back as `yyyy-MM-dd`, datetime as `yyyy-MM-dd HH:mm:ss`
    * (seconds-rounded) — mirroring how openpyxl surfaces typed date
    * cells as date objects rather than raw serials. */
  def serialToString(serial: Double, withTime: Boolean): String = {
    val days = math.floor(serial).toLong
    val date = ExcelEpoch.plusDays(days)
    if (!withTime) date.toString
    else {
      val secs = math.round((serial - days) * 86400.0)
      val dt = date.atStartOfDay.plusSeconds(secs)
      dt.format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))
    }
  }

  /** Rich-text runs: (token, changed) pairs; changed tokens render in
    * bold red (the reference's word-diff presentation,
    * Compare.py:96-110). Tokens are joined by single spaces. */
  final case class SRuns(runs: Seq[(String, Boolean)]) extends CellValue

  /** Write a single-sheet (plus optional extra sheets) workbook.
    * `sheets` maps sheet name -> iterator of sparse cells, which MUST be
    * grouped by row in ascending row order (cells within a row in
    * ascending col order). Streaming: one pass, constant memory.
    */
  def write(out: OutputStream, sheets: Seq[(String, Iterator[Cell])],
            fills: Seq[String] = Nil): Unit = {
    val zip = new ZipOutputStream(out)
    def part(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes("UTF-8"))
      zip.closeEntry()
    }
    val n = sheets.size
    part("[Content_Types].xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        """<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>""" +
        (1 to n).map(i =>
          s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""")
          .mkString +
        """</Types>""")
    // styles: fill k (1-based in Cell.style) -> cellXf index k; xf 0 =
    // none. Fill ids 0/1 are reserved (none/gray125) per the OOXML spec.
    // After the fill xfs come the built-in date (numFmtId 14) and
    // datetime (numFmtId 22) xfs for unstyled SDate/SDateTime cells,
    // then one (date, datetime) xf pair PER FILL so a date cell that
    // also carries a highlight keeps both its number format and its
    // fill (a date xf that ignored Cell.style would silently drop
    // diff highlights on changed date cells).
    val dateXf = fills.size + 1
    val dateTimeXf = fills.size + 2
    def dateFillXf(style: Int) = fills.size + 2 + (style - 1) * 2 + 1
    def dateTimeFillXf(style: Int) = fills.size + 2 + (style - 1) * 2 + 2
    part("xl/styles.xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        """<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>""" +
        s"""<fills count="${fills.size + 2}">""" +
        """<fill><patternFill patternType="none"/></fill>""" +
        """<fill><patternFill patternType="gray125"/></fill>""" +
        fills.map(argb =>
          s"""<fill><patternFill patternType="solid"><fgColor rgb="$argb"/><bgColor indexed="64"/></patternFill></fill>""")
          .mkString +
        """</fills>""" +
        """<borders count="1"><border/></borders>""" +
        """<cellStyleXfs count="1"><xf/></cellStyleXfs>""" +
        s"""<cellXfs count="${fills.size * 3 + 3}"><xf/>""" +
        fills.indices.map(i =>
          s"""<xf fillId="${i + 2}" applyFill="1"/>""").mkString +
        """<xf numFmtId="14" applyNumberFormat="1"/>""" +
        """<xf numFmtId="22" applyNumberFormat="1"/>""" +
        fills.indices.map(i =>
          s"""<xf numFmtId="14" applyNumberFormat="1" fillId="${i + 2}" applyFill="1"/>""" +
            s"""<xf numFmtId="22" applyNumberFormat="1" fillId="${i + 2}" applyFill="1"/>""").mkString +
        """</cellXfs></styleSheet>""")
    part("_rels/.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
        """</Relationships>""")
    part("xl/workbook.xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
        sheets.zipWithIndex.map { case ((name, _), i) =>
          s"""<sheet name="${xmlEscape(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
        }.mkString +
        """</sheets></workbook>""")
    part("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        (1 to n).map(i =>
          s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""")
          .mkString +
        """</Relationships>""")

    sheets.zipWithIndex.foreach { case ((_, cells), i) =>
      zip.putNextEntry(new ZipEntry(s"xl/worksheets/sheet${i + 1}.xml"))
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(zip, "UTF-8"))
      w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      w.write("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
      var curRow = -1
      cells.foreach { c =>
        if (c.row != curRow) {
          if (curRow != -1) w.write("</row>")
          w.write(s"""<row r="${c.row}">""")
          curRow = c.row
        }
        val ref = colLetter(c.col) + c.row
        val s = if (c.style > 0) s""" s="${c.style}"""" else ""
        c.value match {
          case SStr(v) =>
            w.write(s"""<c r="$ref"$s t="inlineStr"><is><t xml:space="preserve">${xmlEscape(v)}</t></is></c>""")
          case SNum(v) => w.write(s"""<c r="$ref"$s><v>$v</v></c>""")
          case SDate(serial) =>
            val xf = if (c.style > 0) dateFillXf(c.style) else dateXf
            w.write(s"""<c r="$ref" s="$xf"><v>${serial.toLong}</v></c>""")
          case SDateTime(serial) =>
            val xf = if (c.style > 0) dateTimeFillXf(c.style) else dateTimeXf
            w.write(s"""<c r="$ref" s="$xf"><v>$serial</v></c>""")
          case SBool(v) => w.write(s"""<c r="$ref"$s t="b"><v>${if (v) 1 else 0}</v></c>""")
          case SRuns(runs) =>
            w.write(s"""<c r="$ref"$s t="inlineStr"><is>""")
            runs.zipWithIndex.foreach { case ((tok, changed), i) =>
              val text = (if (i > 0) " " else "") + tok
              val pr =
                if (changed) """<rPr><b/><color rgb="FFFF0000"/></rPr>""" else ""
              w.write(s"""<r>$pr<t xml:space="preserve">${xmlEscape(text)}</t></r>""")
            }
            w.write("""</is></c>""")
          case SBlank => w.write(s"""<c r="$ref"$s/>""")
        }
      }
      if (curRow != -1) w.write("</row>")
      w.write("""</sheetData></worksheet>""")
      w.flush()
      zip.closeEntry()
    }
    zip.finish()
  }

  // --------------------------------------------------- highlight-in-place

  /** Copy a source workbook package verbatim, adding highlight `fills`
    * (ARGB) to its styles and applying per-cell edits to ONE sheet:
    * each cell in `marks` gets a cellXf CLONING its original xf with
    * the fill applied on top (fonts, borders, number formats, alignment
    * all survive), and cells in `runsAt` are additionally replaced by
    * bold-red rich-text runs. Every other byte of the package — shared
    * strings, merged cells, column widths, other sheets, themes —
    * passes through untouched: those parts are copied with their
    * compressed bytes as they are, never inflated. This is the
    * reference's mutate-and-save semantic (Compare.py:123-126 opens Q2
    * with styles and saves a copy where only the diff fills are added).
    *
    * `marks` values are 1-based indices into `fills`; `rowMarks` (row ->
    * fill index) fill whole rows, from column 1 through the sheet's last
    * column holding a cell element, and take precedence over `marks` in
    * their rows. Marks on cells
    * with no element in the sheet XML are inserted at the end of their
    * row (ECMA-376 imposes no intra-row order; readers are tolerant);
    * marks in rows with no element become new rows, inserted before the
    * first existing row with a larger number so rows stay in the
    * ascending order ECMA-376 requires (rows past the last existing row
    * go just before `</sheetData>`).
    * A cell replaced by rich text loses a formula if it had one — same
    * as the reference, which overwrites the cell value with diffed
    * text. */
  def highlightCopy(srcPath: String, out: OutputStream,
                    sheetName: Option[String], fills: Seq[String],
                    marks: Map[(Int, Int), Int],
                    runsAt: Map[(Int, Int), Seq[(String, Boolean)]] = Map.empty,
                    rowMarks: Map[Int, Int] = Map.empty): Unit = {
    val zf = ZipFile.builder().setFile(srcPath).get()
    try {
      val names = zf.getEntries.asScala.map(_.getName).filter(readPart).toSet
      val book = new Book(names, n => zf.getInputStream(zf.getEntry(n)))
      // the sheet part resolves exactly as the reader resolves it: via
      // workbook.xml r:id -> workbook.xml.rels Target, NOT by part
      // numbering (Excel keeps part filenames stable when sheets are
      // reordered or deleted, ADVICE r5)
      val (_, sheetPart) = book.sheet(sheetName, srcPath)
      require(book.contains("xl/styles.xml"),
        s"$srcPath has no xl/styles.xml; highlightCopy patches existing styles")

      val sheetXml = book.text(sheetPart)
      val (present, width) = markedCellStyles(sheetXml, marks, rowMarks.keySet)
      val allMarks = marks ++
        (for ((r, f) <- rowMarks; c <- 1 to width) yield (r, c) -> f)
      val styleOf: ((Int, Int)) => Int = rc => present.getOrElse(rc, 0)
      val combos: Seq[(Int, Int)] = allMarks.toSeq
        .map { case (rc, f) => (styleOf(rc), f) }.distinct.sorted
      val (patchedStyles, comboXf) =
        patchStyles(book.text("xl/styles.xml"), fills, combos)
      val patchedSheet = patchSheet(sheetXml,
        rc => comboXf((styleOf(rc), allMarks(rc))), allMarks, present.keySet, runsAt)

      val zout = new ZipArchiveOutputStream(out)
      def deflated(name: String, content: String): Unit = {
        zout.putArchiveEntry(new ZipArchiveEntry(name))
        zout.write(content.getBytes("UTF-8"))
        zout.closeArchiveEntry()
      }
      zf.getEntriesInPhysicalOrder.asScala.filterNot(_.isDirectory).foreach { e =>
        e.getName match {
          case "xl/styles.xml" => deflated(e.getName, patchedStyles)
          case `sheetPart` => deflated(e.getName, patchedSheet)
          case _ => zout.addRawArchiveEntry(e, zf.getRawInputStream(e))
        }
      }
      zout.finish()
    } finally zf.close()
  }

  /** One pass over a sheet's cells: the marked cells that have an element
    * (marked by `marks` or lying in a `rows` row), each with its style
    * index (`s`; 0 when absent), and the sheet's last column holding a
    * cell element (at least 1). */
  private def markedCellStyles(xml: String, marks: Map[(Int, Int), Int],
                               rows: collection.Set[Int]): (Map[(Int, Int), Int], Int) = {
    val cur = new SheetCursor(xml)
    val out = mutable.Map[(Int, Int), Int]()
    var width = 1
    var tok = cur.next()
    while (tok != Done) {
      if (tok == CellElem) {
        if (cur.col > width) width = cur.col
        if (rows.contains(cur.row) || marks.contains((cur.row, cur.col))) {
          val s = cur.attr("s")
          out((cur.row, cur.col)) = if (s == null) 0 else s.toInt
        }
      }
      tok = cur.next()
    }
    (out.toMap, width)
  }

  /** Append `fills` and one cellXf per (original xf, fill) combo to an
    * existing styles.xml; the combo xf is the original xf element with
    * fillId overridden, so every other facet of the original style is
    * retained. Returns the patched XML and combo -> new xf index. */
  private def patchStyles(xml: String, fills: Seq[String],
                          combos: Seq[(Int, Int)]): (String, Map[(Int, Int), Int]) = {
    require(xml.contains("</fills>") && xml.contains("</cellXfs>"),
      "styles.xml lacks fills/cellXfs sections")
    val fillCountRe = """<fills count="(\d+)"""".r
    val oldFillCount = fillCountRe.findFirstMatchIn(xml)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException("fills has no count attr"))
    var x = xml.replaceFirst(s"""<fills count="$oldFillCount"""",
      s"""<fills count="${oldFillCount + fills.size}"""")
    val fillXml = fills.map(argb =>
      s"""<fill><patternFill patternType="solid"><fgColor rgb="$argb"/><bgColor indexed="64"/></patternFill></fill>""")
      .mkString
    x = x.replace("</fills>", fillXml + "</fills>")

    val start = x.indexOf("<cellXfs")
    val tagEnd = x.indexOf('>', start)
    val end = x.indexOf("</cellXfs>")
    require(start >= 0 && end > tagEnd)
    val inner = x.substring(tagEnd + 1, end)
    val xfRe = """(?s)<xf\b[^>]*?(?:/>|>.*?</xf>)""".r
    val xfs = xfRe.findAllIn(inner).toVector
    val newXfs = combos.map { case (orig, fill) =>
      val base = if (orig >= 0 && orig < xfs.size) xfs(orig) else "<xf/>"
      withFillId(base, oldFillCount + fill - 1)
    }
    val comboMap = combos.zipWithIndex
      .map { case (c, i) => c -> (xfs.size + i) }.toMap
    val oldTag = x.substring(start, tagEnd + 1)
    val newTag =
      if (oldTag.contains("count=\""))
        oldTag.replaceAll("""count="\d+"""", s"""count="${xfs.size + combos.size}"""")
      else oldTag
    x = x.substring(0, start) + newTag + inner + newXfs.mkString +
      "</cellXfs>" + x.substring(end + "</cellXfs>".length)
    (x, comboMap)
  }

  /** Clone an `<xf .../>` element with its fillId replaced. */
  private def withFillId(xf: String, fillId: Int): String = {
    val tagEnd = xf.indexOf('>')
    var tag = xf.substring(0, tagEnd)
    val selfClosing = tag.endsWith("/")
    if (selfClosing) tag = tag.dropRight(1)
    tag = tag.replaceAll("""\s+fillId="\d+"""", "")
      .replaceAll("""\s+applyFill="[^"]*"""", "") +
      s""" fillId="$fillId" applyFill="1""""
    tag + (if (selfClosing) "/>" else ">") + xf.substring(tagEnd + 1)
  }

  /** Rewrite a sheet XML in one index scan: marked cells get their new
    * xf (and rich-text replacement where present), marks without a cell
    * element (`marks` minus `present`) are appended inside their row, or,
    * when the row has no element, as a new row in row-number order:
    * before the first existing row with a larger number, else before
    * `</sheetData>`. Everything between edits is copied verbatim. */
  private def patchSheet(xml: String, newXfFor: ((Int, Int)) => Int,
                         marks: Map[(Int, Int), Int], present: Set[(Int, Int)],
                         runsAt: Map[(Int, Int), Seq[(String, Boolean)]]): String = {
    val missingByRow: Map[Int, Seq[(Int, Int)]] =
      (marks.keySet -- present).toSeq.sorted.groupBy(_._1)
    def newCells(r: Int): String = missingByRow(r).map { rc =>
      runsAt.get(rc) match {
        case Some(runs) =>
          richTextCell(colLetter(rc._2) + rc._1, newXfFor(rc), runs)
        case None =>
          s"""<c r="${colLetter(rc._2)}${rc._1}" s="${newXfFor(rc)}"/>"""
      }
    }.mkString
    val out = new java.lang.StringBuilder(xml.length + marks.size * 24)
    var copied = 0 // xml before this index is already in `out`
    def emit(upTo: Int, replacement: String): Unit = {
      out.append(xml, copied, upTo).append(replacement)
    }
    val doneRows = mutable.Set[Int]()
    def newRow(r: Int): String = s"""<row r="$r">${newCells(r)}</row>"""
    val missingRows = missingByRow.keys.toArray.sorted
    var nextMissing = 0 // missingRows before this index are settled
    /** New rows for the not-yet-written missing rows numbered below `r`. */
    def rowsBefore(r: Int): String = {
      val sb = new java.lang.StringBuilder
      while (nextMissing < missingRows.length && missingRows(nextMissing) < r) {
        val m = missingRows(nextMissing)
        if (doneRows.add(m)) sb.append(newRow(m))
        nextMissing += 1
      }
      sb.toString
    }
    val cur = new SheetCursor(xml)
    var tok = cur.next()
    while (tok != Done) {
      val rc = (cur.row, cur.col)
      if (tok == RowOpen && nextMissing < missingRows.length &&
        missingRows(nextMissing) < cur.row) {
        emit(cur.start, rowsBefore(cur.row))
        copied = cur.start
      }
      tok match {
        case CellElem if marks.contains(rc) =>
          val xf = newXfFor(rc)
          emit(cur.start, runsAt.get(rc) match {
            case Some(runs) =>
              richTextCell(Option(cur.ref).getOrElse(colLetter(rc._2) + rc._1), xf, runs)
            case None => setStyleAttr(xml.substring(cur.start, cur.end), xf)
          })
          copied = cur.end
        case RowOpen if cur.selfClosing && missingByRow.contains(cur.row) &&
            doneRows.add(cur.row) =>
          emit(cur.tagEnd - 1, ">" + newCells(cur.row) + "</row>")
          copied = cur.end
        case RowClose if missingByRow.contains(cur.row) &&
            doneRows.add(cur.row) =>
          emit(cur.start, newCells(cur.row))
          copied = cur.start
        case _ =>
      }
      tok = cur.next()
    }
    out.append(xml, copied, xml.length)
    val x = out.toString
    val rowsXml = rowsBefore(Int.MaxValue)
    if (rowsXml.isEmpty) x
    else if (x.contains("</sheetData>"))
      x.replace("</sheetData>", rowsXml + "</sheetData>")
    else x.replace("<sheetData/>", s"<sheetData>$rowsXml</sheetData>")
  }

  private final val Done = 0
  private final val RowOpen = 1
  private final val RowClose = 2
  private final val CellElem = 3

  /** Index scanner over a sheet part's XML for the highlight passes:
    * steps through `<row>` start tags, `</row>` end tags and whole `<c>`
    * elements in document order, giving each its position the way
    * [[parseSheet]] does. An element is a `<c` / `<row` followed by a
    * non-name character; it is self-closing when its start tag ends in
    * `/>` and otherwise runs to the first `</c>` / `</row>`. */
  private final class SheetCursor(xml: String) {
    /** Current element: `[start, end)`, start tag closing at `tagEnd`. */
    var start, tagEnd, end = 0
    var selfClosing = false
    /** Current row (row elements) or cell position (cells). */
    var row, col = 0
    /** The current cell's `r`, null when the cell has none. */
    var ref: String = null
    private var rowNum = 0
    private var pos = 0
    private var cellClose = 0 // memo: first `</c>` past the last search, -1 when none

    /** Advance to the next element: [[RowOpen]], [[RowClose]],
      * [[CellElem]], or [[Done]] at the end of the XML. */
    def next(): Int = {
      while (pos < xml.length) {
        val lt = xml.indexOf('<', pos)
        if (lt < 0) pos = xml.length
        else if (opens(lt, "c")) {
          val gt = xml.indexOf('>', lt + 2)
          if (gt < 0) pos = xml.length
          else {
            selfClosing = xml.charAt(gt - 1) == '/'
            if (!selfClosing && cellClose != -1 && cellClose <= gt)
              cellClose = xml.indexOf("</c>", gt + 1)
            val e = if (selfClosing) gt + 1 else if (cellClose < 0) -1 else cellClose + 4
            if (e < 0) pos = lt + 1 // no end tag: not an element
            else {
              start = lt; tagEnd = gt; end = e; pos = e
              ref = attr("r")
              if (ref == null) { row = rowNum; col += 1 }
              else { val p = refPos(ref); row = refRow(p); col = refCol(p) }
              return CellElem
            }
          }
        } else if (opens(lt, "row")) {
          val gt = xml.indexOf('>', lt + 4)
          if (gt < 0) pos = xml.length
          else {
            selfClosing = xml.charAt(gt - 1) == '/'
            start = lt; tagEnd = gt; end = gt + 1; pos = gt + 1
            val r = attr("r")
            rowNum = if (r == null) rowNum + 1 else rowNumber(r)
            row = rowNum; col = 0
            return RowOpen
          }
        } else if (xml.startsWith("</row>", lt)) {
          start = lt; end = lt + 6; pos = end
          row = rowNum
          return RowClose
        } else pos = lt + 1
      }
      Done
    }

    /** `<name` at `lt`, followed by a character that cannot continue
      * the element name. */
    private def opens(lt: Int, name: String): Boolean = {
      val after = lt + 1 + name.length
      xml.startsWith(name, lt + 1) && after < xml.length && {
        val ch = xml.charAt(after)
        !(Character.isLetterOrDigit(ch) || ch == '_' || ch == '-' ||
          ch == '.' || ch == ':')
      }
    }

    /** Value of attribute `name` on the current start tag, or null. */
    def attr(name: String): String = {
      var i = start + 1
      var found: String = null
      while (found == null && i < tagEnd) {
        if (xml.startsWith(name, i) && Character.isWhitespace(xml.charAt(i - 1))) {
          var j = i + name.length
          while (j < tagEnd && Character.isWhitespace(xml.charAt(j))) j += 1
          if (j < tagEnd && xml.charAt(j) == '=') {
            j += 1
            while (j < tagEnd && Character.isWhitespace(xml.charAt(j))) j += 1
            if (j < tagEnd && (xml.charAt(j) == '"' || xml.charAt(j) == '\'')) {
              val close = xml.indexOf(xml.charAt(j), j + 1)
              if (close > j && close < tagEnd) found = xml.substring(j + 1, close)
            }
          }
        }
        i += 1
      }
      found
    }
  }

  private def setStyleAttr(cellElem: String, xf: Int): String = {
    val tagEnd = cellElem.indexOf('>')
    var tag = cellElem.substring(0, tagEnd)
    val selfClosing = tag.endsWith("/")
    if (selfClosing) tag = tag.dropRight(1)
    tag = tag.replaceAll("""\s+s="\d+"""", "") + s""" s="$xf""""
    tag + (if (selfClosing) "/>" else ">") + cellElem.substring(tagEnd + 1)
  }

  private def richTextCell(ref: String, xf: Int,
                           runs: Seq[(String, Boolean)]): String = {
    val sb = new StringBuilder
    sb.append(s"""<c r="$ref" s="$xf" t="inlineStr"><is>""")
    runs.zipWithIndex.foreach { case ((tok, changed), i) =>
      val text = (if (i > 0) " " else "") + tok
      val pr = if (changed) """<rPr><b/><color rgb="FFFF0000"/></rPr>""" else ""
      sb.append(s"""<r>$pr<t xml:space="preserve">${xmlEscape(text)}</t></r>""")
    }
    sb.append("</is></c>")
    sb.toString
  }

  // ----------------------------------------------------------------- read

  /** One parsed sheet, row-major: `rows(r)(c)` is the non-empty string
    * value at 1-based (r, c), null where the cell is blank or absent.
    * All-string read (reference Compare.py:41-43 `dtype=str`): numeric
    * cells keep their literal XML text. `maxRow`/`maxCol` count only
    * non-empty cells. */
  final class Sheet private[excel] (val name: String,
                                    rows: Array[Array[String]],
                                    val maxRow: Int, val maxCol: Int) {
    def apply(row: Int, col: Int): String =
      if (row < 0 || row >= rows.length || rows(row) == null) ""
      else {
        val r = rows(row)
        if (col < 0 || col >= r.length || r(col) == null) "" else r(col)
      }

    /** Every non-empty cell keyed by (row, col): a view built on each
      * call, not the storage. */
    def cells: Map[(Int, Int), String] = {
      val b = Map.newBuilder[(Int, Int), String]
      for (r <- rows.indices if rows(r) != null; c <- rows(r).indices
           if rows(r)(c) != null) b += (r, c) -> rows(r)(c)
      b.result()
    }
  }

  // ECMA-376 sheet limits; a reference past them is malformed input, and
  // bounding it bounds the row-major arrays
  private final val MaxRows = 1048576
  private final val MaxCols = 16384

  /** Cell reference (`B12`) -> (row << 32 | col), by one char loop. */
  private def refPos(ref: String): Long = {
    var i = 0
    var col = 0
    while (i < ref.length && ref.charAt(i) >= 'A' && ref.charAt(i) <= 'Z' &&
      col <= MaxCols) {
      col = col * 26 + (ref.charAt(i) - 'A' + 1); i += 1
    }
    val digitsFrom = i
    var row = 0L
    while (i < ref.length && ref.charAt(i) >= '0' && ref.charAt(i) <= '9' &&
      row <= MaxRows) {
      row = row * 10 + (ref.charAt(i) - '0'); i += 1
    }
    if (col == 0 || col > MaxCols || i == digitsFrom || i != ref.length ||
      row < 1 || row > MaxRows)
      throw new IllegalArgumentException(s"malformed cell reference '$ref'")
    (row << 32) | col
  }
  private def refRow(pos: Long): Int = (pos >>> 32).toInt
  private def refCol(pos: Long): Int = pos.toInt

  /** A `<row>`'s `r` attribute. */
  private def rowNumber(r: String): Int = {
    val n = r.trim.toIntOption.getOrElse(-1)
    if (n < 1 || n > MaxRows)
      throw new IllegalArgumentException(s"malformed row number r=\"$r\"")
    n
  }

  /** Parse every worksheet (and sharedStrings/styles, if present) up to
    * and including row `lastRow`: parsing of a sheet stops at its first
    * cell past that row, which is sound because ECMA-376 requires rows in
    * ascending order. Shared strings are parsed only as far as the
    * highest index a parsed cell asks for, so a header-only read touches
    * a few `<si>` entries, not the whole table. The stream is read to its
    * end (a zip stream has no index); [[readSheet]] reads a file with
    * random access instead. */
  def read(in: InputStream, lastRow: Int = Int.MaxValue): Seq[Sheet] = {
    val zin = new ZipInputStream(in)
    val parts = mutable.Map[String, Array[Byte]]()
    var e = zin.getNextEntry
    while (e != null) {
      if (readPart(e.getName)) parts(e.getName) = zin.readAllBytes()
      e = zin.getNextEntry
    }
    val book = new Book(parts.keySet, n => new java.io.ByteArrayInputStream(parts(n)))
    book.sheets.map { case (name, part) => book.parse(name, part, lastRow) }
  }

  /** One sheet (the first when `sheetName` is None) of the workbook file
    * at `path`, parsed through row `lastRow`. The package is opened with
    * random access and each part is inflated only as far as its parser
    * reads it: the sheet stops at `lastRow`, shared strings at the
    * highest index asked for, and no other sheet is touched. Closing
    * the file closes every entry stream the parse opened. */
  private[excel] def readSheet(path: String, sheetName: Option[String],
                               lastRow: Int): Sheet = {
    val zf = new java.util.zip.ZipFile(path)
    try {
      val names = zf.stream().iterator().asScala.map(_.getName)
        .filter(readPart).toSet
      val book = new Book(names, n => zf.getInputStream(zf.getEntry(n)))
      val (name, part) = book.sheet(sheetName, path)
      book.parse(name, part, lastRow)
    } finally zf.close()
  }

  /** The parts a read uses: the workbook, its rels, styles, shared
    * strings and ANY sheet part (worksheets AND chartsheets, any part
    * name, so rels Targets with nonstandard filenames still resolve). */
  private def readPart(name: String): Boolean =
    name == "xl/sharedStrings.xml" || name == "xl/workbook.xml" ||
      name == "xl/styles.xml" || name == "xl/_rels/workbook.xml.rels" ||
      name.matches("xl/(work|chart)sheets/[^/]+\\.xml")

  /** A workbook package's [[readPart]]s, each opened on demand. */
  private final class Book(parts: collection.Set[String],
                           open: String => InputStream) {
    private def parsed[T](name: String)(f: InputStream => T): Option[T] =
      if (!parts.contains(name)) None
      else {
        val in = open(name)
        try Some(f(in)) finally in.close()
      }

    private val shared = new SharedStrings(
      if (parts.contains("xl/sharedStrings.xml"))
        Some(() => open("xl/sharedStrings.xml")) else None)
    private lazy val numFmts: Array[Int] =
      parsed("xl/styles.xml")(parseCellXfNumFmts).getOrElse(Array.emptyIntArray)

    /** (sheet name, part) in workbook order. Names associate with parts
      * through r:id + rels (the readers and [[highlightCopy]] share it).
      * When a declared sheet's rel is missing or its Target is not a
      * part here, the sheet falls back to the positional part at its
      * workbook index rather than being dropped (a partially-resolvable
      * rels part must not shrink the result below what positional
      * numbering gives). */
    def sheets: Seq[(String, String)] = {
      // positional candidates: numbered worksheet parts in numeric order,
      // then any other worksheet parts in name order
      def partNum(p: String): Option[Int] =
        p.stripPrefix("xl/worksheets/sheet").stripSuffix(".xml").toIntOption
      val positional: Seq[String] = parts
        .filter(_.startsWith("xl/worksheets/")).toSeq
        .sortBy(p => (partNum(p).isEmpty, partNum(p).getOrElse(0), p))
      val declared = parsed("xl/workbook.xml")(parseSheetEntries).getOrElse(Seq.empty)
      val rels = parsed("xl/_rels/workbook.xml.rels")(parseWorkbookRels)
        .getOrElse(Map.empty[String, String])
      if (declared.nonEmpty)
        declared.zipWithIndex.flatMap { case ((name, rid), i) =>
          rels.get(rid).filter(parts.contains).orElse(positional.lift(i))
            .map(name -> _)
        }
      else positional.zipWithIndex.map { case (p, i) => s"Sheet${i + 1}" -> p }
    }

    /** (name, part) of sheet `sheetName`, the first sheet when None. */
    def sheet(sheetName: Option[String], path: String): (String, String) = {
      val all = sheets
      sheetName match {
        case Some(n) => all.find(_._1 == n).getOrElse(
          throw new IllegalArgumentException(
            s"sheet '$n' not found in $path (have: ${all.map(_._1).mkString(", ")})"))
        case None => all.headOption.getOrElse(
          throw new IllegalArgumentException(s"no sheets in $path"))
      }
    }

    /** Parse sheet `name` at `part` through row `lastRow`. */
    def parse(name: String, part: String, lastRow: Int): Sheet = {
      val in = open(part)
      try parseSheet(name, part, in, shared, numFmts, lastRow) finally in.close()
    }

    /** Part `name` as UTF-8 text. */
    def text(name: String): String =
      parsed(name)(in => new String(in.readAllBytes(), "UTF-8"))
        .getOrElse(throw new IllegalArgumentException(s"missing $name"))

    def contains(name: String): Boolean = parts.contains(name)
  }

  private val xif: XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f
  }

  /** `xl/sharedStrings.xml`, parsed only as far as the highest index
    * asked for, straight off the part's stream (opened on the first
    * lookup). Each `<si>` reads as the concatenation of its `<t>` texts. */
  private final class SharedStrings(open: Option[() => InputStream]) {
    private lazy val r = open.map(o => xif.createXMLStreamReader(o()))
    private val parsed = mutable.ArrayBuffer[String]()
    private val cur = new java.lang.StringBuilder
    private var inSi = false
    private var inT = false

    /** Entry `i`, None when the table holds no such entry. */
    def lift(i: Int): Option[String] = {
      if (parsed.length <= i) r.foreach { r =>
        while (parsed.length <= i && r.hasNext) {
          r.next() match {
            case XMLStreamConstants.START_ELEMENT =>
              r.getLocalName match {
                case "si" => inSi = true; cur.setLength(0)
                case "t" if inSi => inT = true
                case _ =>
              }
            case XMLStreamConstants.CHARACTERS if inT =>
              cur.append(r.getTextCharacters, r.getTextStart, r.getTextLength)
            case XMLStreamConstants.END_ELEMENT =>
              r.getLocalName match {
                case "si" => inSi = false; parsed += cur.toString
                case "t" => inT = false
                case _ =>
              }
            case _ =>
          }
        }
      }
      if (i >= 0 && i < parsed.length) Some(parsed(i)) else None
    }

    /** Entries in the whole table; meaningful once a lookup missed. */
    def size: Int = parsed.length
    def present: Boolean = open.nonEmpty
  }

  /** workbook.xml sheet entries in workbook order: (name, r:id). */
  private def parseSheetEntries(in: InputStream): Seq[(String, String)] = {
    val r = xif.createXMLStreamReader(in)
    val out = mutable.ArrayBuffer[(String, String)]()
    while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet") {
        val name = Option(r.getAttributeValue(null, "name")).getOrElse("")
        // r:id lives in the relationships namespace; match by local name
        // so prefix choice doesn't matter
        val rid = (0 until r.getAttributeCount)
          .find(i => r.getAttributeLocalName(i) == "id" &&
            Option(r.getAttributeNamespace(i)).exists(_.contains("relationships")))
          .map(r.getAttributeValue)
          .getOrElse("")
        out += name -> rid
      }
    }
    out.toSeq
  }

  /** workbook.xml.rels: relationship Id -> resolved part name (Target
    * is workbook-relative, e.g. `worksheets/sheet3.xml`, or
    * package-absolute with a leading `/`). */
  private def parseWorkbookRels(in: InputStream): Map[String, String] = {
    val r = xif.createXMLStreamReader(in)
    val out = mutable.Map[String, String]()
    while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT &&
        r.getLocalName == "Relationship") {
        val id = Option(r.getAttributeValue(null, "Id")).getOrElse("")
        val target = Option(r.getAttributeValue(null, "Target")).getOrElse("")
        val part =
          if (target.startsWith("/")) target.stripPrefix("/")
          else "xl/" + target
        if (id.nonEmpty && target.nonEmpty) out(id) = part
      }
    }
    out.toMap
  }

  /** cellXfs -> numFmtId per xf index (for date-cell detection). */
  private def parseCellXfNumFmts(in: InputStream): Array[Int] = {
    val r = xif.createXMLStreamReader(in)
    val out = mutable.ArrayBuffer[Int]()
    var inCellXfs = false
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "cellXfs" => inCellXfs = true
            case "xf" if inCellXfs =>
              out += Option(r.getAttributeValue(null, "numFmtId"))
                .map(_.toInt).getOrElse(0)
            case _ =>
          }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "cellXfs" =>
          inCellXfs = false
        case _ =>
      }
    }
    out.toArray
  }

  // built-in date/datetime number formats (ECMA-376 §18.8.30): 14-17
  // date-only, 18-21 time, 22 datetime, 45-47 elapsed time
  private def isDateFmt(id: Int) = id >= 14 && id <= 17
  private def isDateTimeFmt(id: Int) = (id >= 18 && id <= 22) ||
    (id >= 45 && id <= 47)

  /** Parse one sheet part through row `lastRow`. A cell's position is
    * its `r`; where `r` is absent (it is optional on both `<c>` and
    * `<row>`) it follows document order: a row is the previous row + 1,
    * a cell the previous cell's column + 1 within its row. */
  private def parseSheet(name: String, part: String, in: InputStream,
                         shared: SharedStrings, numFmts: => Array[Int],
                         lastRow: Int): Sheet = {
    val r = xif.createXMLStreamReader(in)
    var rows = new Array[Array[String]](64)
    var maxRow, maxCol = 0
    def put(row: Int, col: Int, value: String): Unit = {
      if (row >= rows.length)
        rows = java.util.Arrays.copyOf(rows,
          math.max(row + 1, math.min(rows.length * 2, MaxRows + 1)))
      var cells = rows(row)
      if (cells == null) {
        cells = new Array[String](math.max(col + 1, 8)); rows(row) = cells
      } else if (col >= cells.length) {
        cells = java.util.Arrays.copyOf(cells,
          math.max(col + 1, math.min(cells.length * 2, MaxCols + 1)))
        rows(row) = cells
      }
      cells(col) = value
      if (row > maxRow) maxRow = row
      if (col > maxCol) maxCol = col
    }
    var rowNum = 0
    var row, col = 0
    var ref: String = null
    var inCell = false
    var cellType: String = null
    var styleIdx: Int = -1
    var inV = false
    var inIsT = false
    val text = new java.lang.StringBuilder
    def where = s"$part cell ${Option(ref).getOrElse(colLetter(col) + row)}"
    var more = true
    while (more && r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "row" =>
              val n = r.getAttributeValue(null, "r")
              rowNum = if (n == null) rowNum + 1 else rowNumber(n)
              col = 0
            case "c" =>
              ref = r.getAttributeValue(null, "r")
              if (ref == null) { row = rowNum; col += 1 }
              else { val p = refPos(ref); row = refRow(p); col = refCol(p) }
              if (row > lastRow) more = false
              else {
                if (col > MaxCols) throw new IllegalArgumentException(
                  s"$where lies past column $MaxCols")
                inCell = true
                cellType = r.getAttributeValue(null, "t")
                if (cellType == null) cellType = "n"
                val s = r.getAttributeValue(null, "s")
                styleIdx = if (s == null) -1 else s.toInt
                text.setLength(0)
              }
            case "v" => inV = true
            case "t" => inIsT = true
            case _ =>
          }
        case XMLStreamConstants.CHARACTERS if inV || inIsT =>
          text.append(r.getTextCharacters, r.getTextStart, r.getTextLength)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "v" => inV = false
            case "t" => inIsT = false
            case "c" if inCell =>
              inCell = false
              val raw = text.toString
              val fmt = if (styleIdx < 0) 0 else {
                val f = numFmts
                if (styleIdx < f.length) f(styleIdx) else 0
              }
              val value = cellType match {
                case "s" => sharedString(shared, raw, where)
                case "b" => if (raw.trim == "1") "TRUE" else "FALSE"
                // date-formatted numeric cells surface as dates, the way
                // openpyxl hands them to the reference (Compare.py reads
                // date objects, not serials)
                case "n" if raw.nonEmpty && isDateFmt(fmt) =>
                  serialToString(raw.trim.toDouble, withTime = false)
                case "n" if raw.nonEmpty && isDateTimeFmt(fmt) =>
                  serialToString(raw.trim.toDouble, withTime = true)
                case _ => raw
              }
              if (value.nonEmpty) put(row, col, value)
            case _ =>
          }
        case _ =>
      }
    }
    new Sheet(name, rows, maxRow, maxCol)
  }

  /** A `t="s"` cell's value: an index into the shared-string table. An
    * index the table does not hold fails loudly rather than reading as
    * a blank. */
  private def sharedString(shared: SharedStrings, raw: String,
                           where: => String): String = {
    val i = raw.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
      s"$where: shared-string index '$raw' is not an integer"))
    shared.lift(i).getOrElse(throw new IllegalArgumentException(
      s"$where: shared-string index $i is out of range (" +
        (if (shared.present) s"xl/sharedStrings.xml holds ${shared.size} entries"
         else "the package has no xl/sharedStrings.xml") + ")"))
  }
}
