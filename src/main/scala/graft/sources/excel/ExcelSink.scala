package graft.sources.excel

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.operators.SchemaReconciler

/** Excel sink implementing the reference's write modes (SURVEY.md §2.1):
  *
  *   - SNK1 template-clone naming: `<Ministry>_<MM_DD_YYYY>.<ext>`
  *   - SNK2 positional row-writer: cells left-to-right from a start
  *     (row, col), SKIPPING configured sheet-column ordinals; null -> ''
  *   - SNK3 header-matched writer: only columns whose normalized name
  *     intersects the template's headers, at the template's positions
  *   - SNK4 metadata cell (run-date stamp on a second sheet)
  *   - SNK7 row-count report (returned, not printed)
  *
  * A workbook is one file, so the write funnels through a single
  * partition — Excel is a small-export sink by design (SURVEY.md §7.4);
  * the scale path is parquet. Callers that need sheet order sort locally
  * inside that one partition (`repartition(1).sortWithinPartitions`)
  * rather than globally: a global sort's range partitioning runs a
  * sampling job over the whole upstream only to pick bounds for
  * partitions the funnel then drains one by one anyway. `maxRows` guards
  * against accidentally funneling a 100 TB relation into a workbook.
  */
object ExcelSink {

  val DefaultMaxRows = 1000000 // xlsx hard sheet limit (2^20 rows)

  // pre-1900-03-01 dates have no exact 1900-system serial (Lotus bug);
  // degrade the CELL to a string instead of letting dateSerial throw
  // mid-ZIP — an abort there leaves a truncated workbook at the output
  // path, and one legacy placeholder date would fail a whole export
  // (ADVICE r5)
  private def dateCell(d: java.time.LocalDate): Xlsx.CellValue =
    if (Xlsx.isSerialRepresentable(d)) Xlsx.SDate(Xlsx.dateSerial(d))
    else Xlsx.SStr(d.toString)

  private def dateTimeCell(dt: java.time.LocalDateTime): Xlsx.CellValue =
    if (Xlsx.isSerialRepresentable(dt.toLocalDate))
      Xlsx.SDateTime(Xlsx.dateTimeSerial(dt))
    else Xlsx.SStr(dt.format(
      DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")))

  private def cellValue(v: Any): Xlsx.CellValue = v match {
    case null => Xlsx.SStr("") // reference: null -> '' (Download.py:186)
    case s: String => Xlsx.SStr(s)
    // typed date cells (serial + date number format), not strings —
    // reference parity: Download.py:188-191 writes real COM dates
    case t: java.sql.Timestamp => dateTimeCell(t.toLocalDateTime)
    case d: java.sql.Date => dateCell(d.toLocalDate)
    case dt: java.time.LocalDateTime => dateTimeCell(dt)
    case d: java.time.LocalDate => dateCell(d)
    case i: java.time.Instant => dateTimeCell(
      java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC))
    case b: Boolean => Xlsx.SBool(b)
    case n: Number => Xlsx.SNum(n.doubleValue())
    case other => Xlsx.SStr(other.toString)
  }

  /** SNK1: clone a template workbook next to `destDir` under the
    * reference's naming contract. `runDate` is an explicit parameter, not
    * wall-clock (determinism caveat, SURVEY.md §4.2). */
  def cloneTemplate(templatePath: String, destDir: String, token: String,
                    runDate: LocalDate): String = {
    val ext = templatePath.reverse.takeWhile(_ != '.').reverse
    val safe = token.map(c => if ("\\/:*?\"<>|".contains(c)) '_' else c)
    val name = s"${safe}_${runDate.format(DateTimeFormatter.ofPattern("MM_dd_yyyy"))}.$ext"
    val dest = Paths.get(destDir, name)
    Files.createDirectories(dest.getParent)
    Files.copy(Paths.get(templatePath), dest, StandardCopyOption.REPLACE_EXISTING)
    dest.toString
  }

  /** SNK2: positional write. DataFrame column i lands in the i-th
    * NON-SKIPPED sheet column at/after `startCol`, rows from `startRow`.
    * Returns rows written. Single-partition funnel (small-export only).
    */
  def writePositional(df: DataFrame, path: String, sheetName: String = "Sheet1",
                      startRow: Int = 8, startCol: Int = 1,
                      skipSheetCols: Set[Int] = Set.empty,
                      metadata: Seq[(String, (Int, Int), String)] = Nil,
                      maxRows: Int = DefaultMaxRows): Long = {
    // target sheet column for each DF ordinal: skip the configured ones
    val width = df.schema.length
    val targets = Iterator.from(startCol)
      .filterNot(skipSheetCols.contains).take(width).toArray
    writeRows(df, path, sheetName, startRow, targets, metadata, maxRows)
  }

  /** SNK3: header-matched write into a template sheet: the template's
    * header row (at `headerRow`) is probed, source columns are matched by
    * normalized name (+ overrides) and written at the template's column
    * positions from `startRow`. Returns rows written. */
  def writeHeaderMatched(df: DataFrame, templatePath: String, outPath: String,
                         sheetName: String = "Sheet1", headerRow: Int = 5,
                         startRow: Int = 6,
                         overrides: Map[String, String] = Map.empty,
                         maxRows: Int = DefaultMaxRows): Long = {
    val sheet = ExcelScan.loadSheet(templatePath, None, lastRow = headerRow)
    val opts = ExcelOptions(sheet = None, headerRow = headerRow,
      dataStartRow = startRow, useHeader = true, blankRunStop = 10, maxCols = 500)
    val headers = ExcelScan.probeHeaders(sheet, opts)
    // ordered header seq, first occurrence wins when two headers collide
    // after normalization — deterministic, unlike Map.keys iteration
    val headerSeq: Seq[(String, Int)] = headers.zipWithIndex
      .filterNot(_._1.startsWith("_c"))
      .map { case (h, i) => h -> (i + 1) }
      .foldLeft(Vector.empty[(String, Int)]) { (acc, hp) =>
        if (acc.exists(_._1 == hp._1)) acc else acc :+ hp
      }
    val headerPos: Map[String, Int] = headerSeq.toMap
    val matched = SchemaReconciler.matchColumns(
        df.columns.toSeq, headerSeq.map(_._1), overrides)
      // Xlsx.write's contract: cells within a row in ascending col order —
      // sort by target sheet ordinal, not source column order
      .sortBy(m => headerPos(m._2))
    require(matched.nonEmpty,
      "no source columns match the template headers (Upload.py:184-190)")
    val proj = df.selectExpr(matched.map(m => s"`${m._1}`"): _*)
    val targets = matched.map(m => headerPos(m._2)).toArray
    // header row re-emitted so the output is self-describing
    val headerCells = matched.zip(targets).map { case ((_, tgt), c) =>
      Xlsx.Cell(headerRow, c, Xlsx.SStr(tgt))
    }
    writeRows(proj, outPath, sheetName, startRow, targets,
      metadata = Nil, maxRows = maxRows, extraCells = headerCells)
  }

  /** The int column a diff carries to be marked by sheet row: the
    * 1-based Q2 sheet row of each diff row, read by the xlsx source's
    * `rowNumberColumn` option and passed through `DiffEngine.diff`. */
  val SheetRowColumn = "__sheet_row"

  /** SNK5: styled change-highlight sink (reference Compare.py:212-220).
    * Copies the Q2 WORKBOOK PACKAGE into `<q2 stem> (change
    * highlighted).xlsx` with fills applied from a diff result (long
    * form: key, column, status): CHANGED -> blue, CLEARED -> pink,
    * NEW -> whole-row yellow. The copy is in-place-style
    * ([[Xlsx.highlightCopy]]): all pre-existing workbook formatting —
    * fonts, borders, number formats, merges, column widths, other
    * sheets — survives, and each highlighted cell's fill is layered ON
    * TOP of its original style (reference parity: Compare.py:123-126
    * opens Q2 with styles and saves a copy where only diff fills are
    * added). The diff is presentation-scale (it collects to the
    * driver) — the scalable artifact is the diff DataFrame itself.
    *
    * A diff carrying [[SheetRowColumn]] is marked at (that row, the
    * column's header position), the row the diff probed (reference
    * Compare.py:174, `df_idx = r - 2`), so each of a repeated key's rows
    * keeps its own marks; Q2 is read only through its header row. A
    * diff without it is marked by key: Q2 is read in full to map each
    * key to its sheet row, and a key that repeats in Q2 fails the call
    * (its rows cannot be told apart by key).
    * Returns the written path. */
  def writeHighlighted(q2Path: String, diff: DataFrame, keyCol: String,
                       headerRow: Int = 1): String = {
    val header = ExcelScan.loadSheet(q2Path, None, lastRow = headerRow)
    val opts = ExcelOptions(None, headerRow, headerRow + 1, useHeader = true,
      blankRunStop = 10, maxCols = 500)
    val headerPos: Map[String, Int] = ExcelScan.probeHeaders(header, opts)
      .zipWithIndex.map { case (h, i) => h -> (i + 1) }.toMap
    val byRow = diff.columns.contains(SheetRowColumn)
    val rowOf: Row => Option[Int] =
      if (byRow) r => Some(r.getInt(0))
      else {
        val keyIdx = headerPos.getOrElse(keyCol,
          throw new IllegalArgumentException(s"key column '$keyCol' not in header"))
        val sheet = ExcelScan.loadSheet(q2Path, None)
        val rowByKey = ((headerRow + 1) to sheet.maxRow)
          .map(r => sheet(r, keyIdx) -> r).filter(_._1.nonEmpty)
          .foldLeft(Map.empty[String, Int]) { case (m, (key, r)) =>
            m.get(key).foreach { first =>
              throw new IllegalArgumentException(s"writeHighlighted: key " +
                s"'$key' repeats in $q2Path (sheet rows $first and $r), so " +
                "a diff marked by key cannot tell its rows apart; mark by " +
                "sheet row instead: Pipelines.compareAndHighlight, or read " +
                "Q2 with the xlsx source's rowNumberColumn option and pass " +
                s"that column through the diff as $SheetRowColumn")
            }
            m.updated(key, r)
          }
        r => rowByKey.get(r.getString(0))
      }

    val fills = Seq("FFADD8E6" /*1 CHANGED*/ , "FFFFC0CB" /*2 CLEARED*/ ,
      "FFFFFF00" /*3 NEW*/ )
    val styleOf = Map("CHANGED" -> 1, "CLEARED" -> 2, "NEW" -> 3)
    val colField =
      if (diff.columns.contains("col_name")) "col_name" else "column"
    val hasRuns = diff.columns.contains("word_runs")
    val collected = diff
      .select((Seq(if (byRow) col(SheetRowColumn) else col("key").cast("string"),
        col(colField).cast("string"), col("status")) ++
        (if (hasRuns) Seq(col("word_runs")) else Nil)): _*)
      .collect()
    val marks: Map[(Int, Int), Int] = collected
      .flatMap { r =>
        for {
          row <- rowOf(r)
          style <- styleOf.get(r.getString(2))
          colIdx <- headerPos.get(r.getString(1))
        } yield (row, colIdx) -> style
      }.toMap
    // NEW rows get the whole row highlighted (reference Compare.py:179-185);
    // the row-wide NEW fill takes precedence over any cell-level mark
    val newRows: Map[Int, Int] = marks.collect { case ((r, _), 3) => r -> 3 }
    // rich-text word runs for CHANGED cells that carry them (S10) —
    // restricted to cells that actually produce a mark:
    // Xlsx.patchSheet only applies runs for marked cells, so a
    // runs-bearing row with a status outside {CHANGED, CLEARED, NEW}
    // would silently lose its run rendering if left in the map
    // (ADVICE r5: keep the two maps consistent)
    val runsAt: Map[(Int, Int), Seq[(String, Boolean)]] =
      if (!hasRuns) Map.empty
      else collected.flatMap { r =>
        if (r.isNullAt(3)) None
        else for {
          row <- rowOf(r)
          colIdx <- headerPos.get(r.getString(1))
          if marks.contains((row, colIdx)) || newRows.contains(row)
        } yield (row, colIdx) ->
          r.getSeq[Row](3).map(x => (x.getString(0), x.getBoolean(1)))
      }.toMap

    val outPath = q2Path.replaceAll("\\.xlsx$", "") + " (change highlighted).xlsx"
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(outPath))
    try Xlsx.highlightCopy(q2Path, out, Some(header.name), fills, marks, runsAt, newRows)
    finally out.close()
    outPath
  }

  private def writeRows(df: DataFrame, path: String, sheetName: String,
                        startRow: Int, targets: Array[Int],
                        metadata: Seq[(String, (Int, Int), String)],
                        maxRows: Int,
                        extraCells: Seq[Xlsx.Cell] = Nil): Long = {
    // Single-file format -> single writer. toLocalIterator pulls ONE
    // partition at a time through the driver, in partition order. The
    // callers that need a row order sort inside one partition
    // (`repartition(1).sortWithinPartitions`), so the whole export is one
    // fetched partition. Driver memory is the same as under the global
    // range sort this replaced: AQE coalesced that sort's partitions into
    // one for any export below its advisory partition size (every
    // download's result job ran 1 task), and the range sort also paid a
    // sampling job that re-ran the whole upstream. The guard below
    // refuses relations that don't belong in a workbook.
    val rows: Iterator[Row] = df.toLocalIterator().asScala
    var n = 0L
    val cellIter: Iterator[Xlsx.Cell] =
      extraCells.iterator ++ rows.flatMap { r =>
        n += 1
        if (n > maxRows) throw new IllegalStateException(
          s"Excel sink refuses > $maxRows rows; use parquet for large relations")
        val rowIdx = startRow + n.toInt - 1
        // per-cell error context on coercion failure (reference parity:
        // Download.py:195-199 re-raises with row/col attached)
        targets.indices.iterator.map { i =>
          val value =
            try cellValue(r.get(i))
            catch { case e: Exception => throw new IllegalStateException(
              s"cell write failed at sheet row $rowIdx, col ${targets(i)} " +
                s"(source column '${df.columns(i)}'): ${e.getMessage}", e)
            }
          Xlsx.Cell(rowIdx, targets(i), value)
        }
      }
    val sheets = Seq(sheetName -> cellIter) ++
      metadata.groupBy(_._1).toSeq.sortBy(_._1).map { case (s, cells) =>
        s -> cells.sortBy(c => c._2).iterator
          .map { case (_, (row, col), v) => Xlsx.Cell(row, col, Xlsx.SStr(v)) }
      }
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(path))
    try Xlsx.write(out, sheets) finally out.close()
    n
  }

  private implicit class RichJIter[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = new Iterator[T] {
      def hasNext: Boolean = it.hasNext
      def next(): T = it.next()
    }
  }
}
