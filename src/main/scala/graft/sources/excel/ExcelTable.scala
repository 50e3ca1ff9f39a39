package graft.sources.excel

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 Excel reader (`spark.read.format("xlsx")`), implementing
  * the reference's scan semantics (SURVEY.md §2.1):
  *
  *   - SRC2 all-string mode: every column `StringType` (pandas
  *     `dtype=str`, Compare.py:41-43); blank cells -> null
  *   - SRC3 header probe: scan the header row cell-by-cell, stop after
  *     10 consecutive blanks, cap 500 columns (Upload.py:156-172)
  *
  * Options: `path` (one .xlsx file), `sheet` (name, default first),
  * `headerRow` (1-based, default 1), `dataStartRow` (default headerRow+1),
  * `header` ("false" -> synthetic _c1.. names), `rowNumberColumn` (a
  * column name; off by default): appends a non-null int column of that
  * name holding each data row's 1-based sheet row, so a consumer can
  * address the cells a row came from (the Compare flow marks them).
  *
  * Scale note: a workbook is a single zip (no internal split points), so
  * parallelism is per-FILE — a directory of workbooks fans out one
  * partition each. Excel is a small-export/import format; the 100 TB
  * path is parquet, this connector exists for reference parity.
  */
class ExcelTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "xlsx"
  override def supportsExternalMetadata(): Boolean = true

  private def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val single = Option(options.get("path")).toSeq
    val multi = Option(options.get("paths")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val all = (single ++ multi).distinct
    require(all.nonEmpty, "xlsx source requires a path")
    all.flatMap { p =>
      val f = new java.io.File(p.stripPrefix("file:"))
      if (f.isDirectory)
        f.listFiles().toSeq.map(_.getPath).filter(_.endsWith(".xlsx")).sorted
      else Seq(f.getPath)
    }
  }

  /** Reads the first workbook only through `headerRow`: the schema is
    * the header probe, so the rows below it are never parsed here. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = ExcelOptions(options)
    val sheet = ExcelScan.loadSheet(paths(options).head, opts.sheet,
      lastRow = opts.headerRow)
    val headers = ExcelScan.probeHeaders(sheet, opts)
    opts.rowNumberColumn.foreach(c => require(!headers.contains(c),
      s"rowNumberColumn '$c' collides with a header of ${paths(options).head}"))
    StructType(headers.map(h => StructField(h, StringType, nullable = true)) ++
      opts.rowNumberColumn.map(StructField(_, IntegerType, nullable = false)))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new ExcelTable(schema, paths(options), ExcelOptions(options))
  }
}

final case class ExcelOptions(sheet: Option[String], headerRow: Int,
                              dataStartRow: Int, useHeader: Boolean,
                              blankRunStop: Int, maxCols: Int,
                              rowNumberColumn: Option[String] = None)

object ExcelOptions {
  def apply(o: CaseInsensitiveStringMap): ExcelOptions = {
    val headerRow = Option(o.get("headerRow")).map(_.toInt).getOrElse(1)
    ExcelOptions(
      sheet = Option(o.get("sheet")),
      headerRow = headerRow,
      dataStartRow = Option(o.get("dataStartRow")).map(_.toInt)
        .getOrElse(headerRow + 1),
      useHeader = Option(o.get("header")).forall(_.toBoolean),
      blankRunStop = Option(o.get("blankRunStop")).map(_.toInt).getOrElse(10),
      maxCols = Option(o.get("maxCols")).map(_.toInt).getOrElse(500),
      rowNumberColumn = Option(o.get("rowNumberColumn")))
  }
}

class ExcelTable(schema: StructType, paths: Seq[String], opts: ExcelOptions)
    extends Table with SupportsRead {
  override def name(): String = s"xlsx(${paths.mkString(",")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ExcelScanBuilder(schema, paths, opts)
}

class ExcelScanBuilder(schema: StructType, paths: Seq[String], opts: ExcelOptions)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new ExcelScan(schema, required, paths, opts)
}

class ExcelScan(fullSchema: StructType, required: StructType,
                paths: Seq[String], opts: ExcelOptions)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    paths.map(p => ExcelInputPartition(p): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new ExcelReaderFactory(fullSchema, required, opts)
}

final case class ExcelInputPartition(path: String) extends InputPartition

class ExcelReaderFactory(fullSchema: StructType, required: StructType,
                         opts: ExcelOptions)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val path = partition.asInstanceOf[ExcelInputPartition].path
    new PartitionReader[InternalRow] {
      private val sheet = ExcelScan.loadSheet(path, opts.sheet)
      // column ordinal (1-based sheet position) for each required field;
      // 0 for the row-number column
      private val colIndex: Array[Int] = {
        val full = fullSchema.fieldNames.zipWithIndex.toMap
        required.fieldNames.map(n =>
          if (opts.rowNumberColumn.contains(n)) 0 else full(n) + 1)
      }
      private var row = opts.dataStartRow - 1
      private val lastRow = sheet.maxRow
      override def next(): Boolean = { row += 1; row <= lastRow }
      override def get(): InternalRow = {
        val values = new Array[Any](colIndex.length)
        var i = 0
        while (i < colIndex.length) {
          if (colIndex(i) == 0) values(i) = row
          else {
            val v = sheet(row, colIndex(i))
            if (v.nonEmpty) values(i) = UTF8String.fromString(v)
          }
          i += 1
        }
        new GenericInternalRow(values)
      }
      override def close(): Unit = ()
    }
  }
}

object ExcelScan {
  /** One sheet of the workbook at `path` (the first when `sheetName` is
    * None), parsed through row `lastRow`. The package is read with random
    * access ([[Xlsx.readSheet]]): a `lastRow`-bounded probe inflates the
    * sheet only through that row. */
  def loadSheet(path: String, sheetName: Option[String],
                lastRow: Int = Int.MaxValue): Xlsx.Sheet =
    Xlsx.readSheet(path.stripPrefix("file:"), sheetName, lastRow)

  /** SRC3 header probe (Upload.py:156-172): left-to-right scan of the
    * header row, stop after `blankRunStop` consecutive blanks, hard cap
    * `maxCols`; blank-but-within-run positions get synthetic names. */
  def probeHeaders(sheet: Xlsx.Sheet, opts: ExcelOptions): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var blanks = 0
    var c = 1
    while (blanks < opts.blankRunStop && c <= opts.maxCols) {
      val v = sheet(opts.headerRow, c)
      if (v.isEmpty) { blanks += 1; out += s"_c$c" }
      else { blanks = 0; out += (if (opts.useHeader) v else s"_c$c") }
      c += 1
    }
    // drop the trailing blank run
    val trimmed = out.dropRight(blanks)
    // de-duplicate (Spark schemas need unique names)
    val seen = scala.collection.mutable.Map[String, Int]()
    trimmed.toSeq.map { h =>
      val k = seen.getOrElse(h, 0)
      seen(h) = k + 1
      if (k == 0) h else s"${h}_$k"
    }
  }
}
