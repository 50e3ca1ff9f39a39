package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Regression pin for the events `ts` schema contract.
  *
  * The driver has regenerated `events.parquet` with different parquet
  * timestamp encodings across rounds — TIMESTAMP(NANOS) through round 8,
  * TIMESTAMP(MICROS, isAdjustedToUTC=false) from round 9's refresh — and
  * the switch silently broke 12 catalog queries plus the streaming gate
  * (which misread micros physical values as nanos longs and emitted
  * January-1970 windows). [[Tables.events]] now branches on the OBSERVED
  * type; this spec writes the same tiny dataset in all three encodings
  * the branch handles and asserts every path loads bit-identical rows,
  * so the next driver-side regeneration cannot break the surface again.
  */
class EventsEncodingSpec extends SparkSpec {

  /** (event_id, micros-since-epoch, user_id, event_type, value, props) —
    * micros chosen non-round so truncation bugs can't hide. */
  private val rows: Seq[(Long, Long, Long, String, Double, String)] = Seq(
    (1L, 1700000000123456L, 10L, "view", 1.5, """{"k":1}"""),
    (2L, 1700000000123457L, 10L, "click", 2.0, """{"k":2}"""),
    (3L, 1700003600000001L, 10L, "buy", 3.25, """{"k":3}"""),
    (4L, 1700000001000000L, 20L, "view", 0.5, """{"k":4}"""),
    (5L, 1700007200999999L, 20L, "view", 4.0, """{"k":5}"""),
    (6L, 1700010800500000L, 30L, "click", 2.5, """{"k":6}"""))

  private def scratch(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    TempDirs.deleteOnExit(dir.toFile)
    dir.toString
  }

  /** Spark-written variant: `ts` as the given Catalyst type (NTZ ⇒
    * parquet timestamp[us] isAdjustedToUTC=false — the round-9+ driver
    * encoding; TimestampType + TIMESTAMP_MICROS output ⇒
    * isAdjustedToUTC=true). Returns the sfDir-shaped parent. */
  private def writeSparkVariant(tsType: DataType): String = {
    val dir = scratch("graft-events-enc")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val data = rows.map { case (id, us, uid, et, v, p) =>
      Row(id, java.time.LocalDateTime.ofEpochSecond(
        us / 1000000L, (us % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC),
        uid, et, v, p)
    }
    val df = spark.createDataFrame(
        spark.sparkContext.parallelize(data, 1),
        schema.copy(fields = schema.fields.updated(1,
          StructField("ts", TimestampNTZType))))
      .withColumn("ts", col("ts").cast(tsType))
    // force micros output for the TimestampType variant, restoring the
    // session default afterwards (the session is shared across suites)
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    dir
  }

  /** Plain-INT64 micros variant (no timestamp annotation): reads back as
    * LongType just like the nanos file under the legacy conf — the case
    * the loader's magnitude discrimination exists for (epoch-micros
    * ≈ 1.7e15 < 1e17 threshold < epoch-nanos ≈ 1.7e18). */
  private def writeLongMicrosVariant(): String = {
    val dir = scratch("graft-events-i64us")
    import spark.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** Hand-written genuine TIMESTAMP(NANOS) parquet — Spark cannot write
    * this encoding, so author it with parquet-java's example writer the
    * way the round-≤8 driver data was shaped. */
  private def writeNanosVariant(): String = {
    val dir = scratch("graft-events-nanos")
    val msg: MessageType = Types.buildMessage()
      .addField(Types.required(INT64).named("event_id"))
      .addField(Types.required(INT64)
        .as(LogicalTypeAnnotation.timestampType(false,
          LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts"))
      .addField(Types.required(INT64).named("user_id"))
      .addField(Types.required(BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("event_type"))
      .addField(Types.required(DOUBLE).named("value"))
      .addField(Types.required(BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("props"))
      .named("events")
    val writer = ExampleParquetWriter
      .builder(new Path(s"$dir/events.parquet"))
      .withType(msg)
      .build()
    val gf = new SimpleGroupFactory(msg)
    try rows.foreach { case (id, us, uid, et, v, p) =>
      val g = gf.newGroup()
      g.add("event_id", id)
      g.add("ts", us * 1000L) // micros → nanos
      g.add("user_id", uid)
      g.add("event_type", et)
      g.add("value", v)
      g.add("props", p)
      writer.write(g)
    } finally writer.close()
    dir
  }

  private def loadCanon(dir: String): Seq[(Long, Long, Long, String, Double, String)] =
    Tables.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4), r.getString(5)))
      .sortBy(_._1).toSeq

  test("Tables.events loads all four ts encodings to identical rows") {
    val expected = rows.sortBy(_._1)
    val ntzDir = writeSparkVariant(TimestampNTZType)      // round-9+ driver
    val utcDir = writeSparkVariant(TimestampType)          // future-proof
    val nanosDir = writeNanosVariant()                     // round-≤8 driver
    val i64usDir = writeLongMicrosVariant()                // magnitude guard
    // pin the physical encodings really are what each variant claims
    assert(spark.read.parquet(s"$ntzDir/events.parquet")
      .schema("ts").dataType == TimestampNTZType)
    assert(spark.read.parquet(s"$utcDir/events.parquet")
      .schema("ts").dataType == TimestampType)
    assert(spark.read.parquet(s"$i64usDir/events.parquet")
      .schema("ts").dataType == LongType)
    assert(loadCanon(ntzDir) == expected, "timestamp[us] NTZ variant")
    assert(loadCanon(utcDir) == expected, "timestamp[us] UTC variant")
    assert(loadCanon(nanosDir) == expected, "TIMESTAMP(NANOS) variant")
    assert(loadCanon(i64usDir) == expected, "plain INT64 micros variant")
    // loaded type is session-zone TIMESTAMP in every case — downstream
    // window/session/as-of logic sees one type regardless of encoding
    Seq(ntzDir, utcDir, nanosDir, i64usDir).foreach { d =>
      assert(Tables.events(spark, d).schema("ts").dataType == TimestampType)
    }
  }

  test("streaming probe reads both driver encodings identically (no 1970s)") {
    // the r9 failure mode: a hard-coded `ts: LongType` stream schema
    // against a micros file read the micros physical values as nanos —
    // no error, windows landed in January 1970. The probe-based source
    // must produce the same tumbling windows from either encoding.
    import graft.streaming.EventStreams
    val ntzDir = writeSparkVariant(TimestampNTZType)
    val nanosDir = writeNanosVariant()
    def drain(dir: String, sink: String) = {
      val ckpt = scratch("graft-enc-ckpt")
      EventStreams.drain(spark, EventStreams.eventTimeWindow(
          EventStreams.rawEventSource(spark, s"$dir/events.parquet", ckpt)),
          ckpt, sink)
        .select(unix_micros(col("w_start")).as("w_us"), col("event_type"),
          col("n"), col("sum_value"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    }
    val fromNtz = drain(ntzDir, "graft_enc_ntz")
    val fromNanos = drain(nanosDir, "graft_enc_nanos")
    assert(fromNtz == fromNanos)
    assert(fromNtz.nonEmpty)
    // windows must be in 2023 (micros epoch ~1.7e15), not 1970
    assert(fromNtz.forall(_._1 > 1600000000000000L),
      s"streaming windows collapsed toward the epoch: $fromNtz")
  }

  test("Tables.embeddings pins array<float> under a double[] regeneration") {
    // the same defense class for the OTHER typed table: a driver
    // regeneration flipping embedding to list<double> would crash every
    // getSeq[Float] query-vector collect at use time. The loader casts
    // to array<float>, so both encodings produce identical ANN results.
    import org.apache.spark.sql.functions._
    val floatDir = "/root/testdata/sf0.001"
    val dblDir = java.nio.file.Files
      .createTempDirectory("graft-emb-enc").toString
    Tables.embeddings(spark, floatDir)
      .withColumn("embedding", col("embedding").cast("array<double>"))
      .write.parquet(s"$dblDir/embeddings.parquet")
    val viaDouble = Tables.embeddings(spark, dblDir)
    assert(viaDouble.schema("embedding").dataType.simpleString
      == "array<float>", viaDouble.schema.treeString)
    // the collect path the catalog's ANN queries use must not throw …
    val q = viaDouble.filter(col("vec_id") === 0L)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
    assert(q.nonEmpty)
    // … and ranking is identical to the float file's
    def top(dir: String) = graft.operators.Similarity
      .cosineTopK(Tables.embeddings(spark, dir), "vec_id", "embedding",
        queryId = 0L, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top(dblDir) == top(floatDir))
  }
}
