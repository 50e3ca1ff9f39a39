package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Each table is a single parquet file under `sfDir`. All access goes
  * through here so that scans stay declarative (Catalyst prunes columns
  * and pushes filters into the parquet reader) and so a future move to a
  * partitioned / bucketed layout is a one-line change per table.
  *
  * Every load reads with a pinned schema. The first load of a path
  * infers its parquet schema, which costs one Spark job; later loads
  * reuse it and launch no job. The cached schema is keyed by the path and
  * checked against a fingerprint of what inference depends on: the
  * (path, length, mtime) of every file under the path and the session's
  * parquet type-mapping confs. A regenerated file or a changed conf no
  * longer matches, so the next load infers again.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else if (name == "embeddings") embeddings(spark, sfDir)
    else read(spark, s"$sfDir/$name.parquet")

  /** A path's inferred schema and the fingerprint it was inferred under. */
  private final case class Inferred(fingerprint: Seq[Any], schema: StructType)

  /** One entry per path: bounded by the number of tables read. */
  private val inferred = new ConcurrentHashMap[String, Inferred]()

  /** Session confs that change the schema parquet inference returns. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** The one parquet reader: `path` with its cached schema, inferred
    * again whenever the fingerprint moved. A missing path fingerprints
    * as no files, so inference raises Spark's own path-not-found error. */
  private def read(s: SparkSession, path: String): DataFrame = {
    val fp = fingerprint(s, path)
    val schema = Option(inferred.get(path)).filter(_.fingerprint == fp)
      .getOrElse {
        val fresh = Inferred(fp, s.read.parquet(path).schema)
        inferred.put(path, fresh)
        fresh
      }.schema
    s.read.schema(schema).parquet(path)
  }

  private def fingerprint(s: SparkSession, path: String): Seq[Any] = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val files = if (!fs.exists(p)) Nil else {
      val it = fs.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .toSeq.sorted
    }
    files ++ inferenceConfs.map(s.conf.get)
  }

  /** Register every table as a temp view so `spark.sql` works against
    * the same names the DuckDB oracle uses. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** The driver has generated `events.ts` under two different parquet
    * encodings across rounds — TIMESTAMP(NANOS) (which Spark's reader
    * only accepts as INT64 under the legacy nanosAsLong conf, which
    * [[Session.local]] sets) and
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (which Spark reads as
    * TIMESTAMP_NTZ). Branch on the type the reader actually produced so
    * either encoding — and a future UTC-adjusted one — loads to the same
    * session-zone TIMESTAMP column:
    *  - LongType: nanos file under the legacy conf → truncate to micros
    *    (the same truncation DuckDB applies casting ns to its micro
    *    timestamps, so oracle comparisons agree);
    *  - TimestampNTZType: micros wall-clock → reinterpret in the session
    *    zone (UTC everywhere in this repo), micros preserved bit-for-bit;
    *  - TimestampType: already what downstream expects → pass through.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = read(s, s"$d/events.parquet")
    raw.withColumn("ts", normalizedTs(raw.schema("ts").dataType))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** Normalize an events `ts` column of the given observed type to
    * session-zone TIMESTAMP (see [[events]]); shared with the streaming
    * reader so batch and incremental paths can never diverge.
    *
    * The LongType branch cannot tell a nanos file from a plain-INT64
    * micros file by type alone — and assuming nanos would divide a
    * micros value by 1000 and land in January 1970 with no error (the
    * r9 failure class). So it discriminates by magnitude per value:
    * epoch-nanos for any date after mid-1973 exceed 1e17, while
    * epoch-micros stay below 1e17 until year 5138 — interpret above the
    * threshold as nanos (truncate to micros), below as micros. The
    * codegen'd conditional is per-row but the data is homogeneous per
    * file; the two misread windows (micros dates before 1973, nanos
    * dates after 5138) are outside any plausible event log. */
  def normalizedTs(observed: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{abs, col, expr, timestamp_micros, when}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    observed match {
      case LongType =>
        timestamp_micros(
          when(abs(col("ts")) > 100000000000000000L, expr("ts div 1000"))
            .otherwise(col("ts")))
      case TimestampNTZType   => col("ts").cast("timestamp")
      case _                  => col("ts")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")

  /** Embeddings with the vector column PINNED to `array<float>`
    * regardless of the file's element type. Same defense class as
    * [[events]]: the driver regenerated `events.ts` under a different
    * parquet encoding once (r9 — it silently broke 12 queries), and a
    * future regeneration could just as silently flip `embedding` to
    * `list<double>`, which would crash every `getSeq[Float]` collect
    * (query-vector lookups in the ANN catalog queries) at use time.
    * The cast is a no-op on today's float32 files. */
  def embeddings(s: SparkSession, d: String): DataFrame = {
    val raw = read(s, s"$d/embeddings.parquet")
    raw.withColumn("embedding",
      raw("embedding").cast("array<float>"))
  }
}
