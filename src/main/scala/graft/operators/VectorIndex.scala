package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, LongType, StructType}

import Similarity.{binarySignature, cosine, hammingDistance, quantizedCosine,
  srpSignature, withInt8Quantized}

/** How a model-free vector index encodes its rows and meets a query.
  * Each codec's row is a pure function of the vector (SRP's also of
  * its width), so no codec has a model to fit or retrain:
  *
  *   - [[VectorCodec.Binary]]: `(id, sig)` packed sign bits, scored by
  *     Hamming distance ascending (`hamming`) — 32x fewer bytes at rest;
  *   - [[VectorCodec.Int8]]: `(id, q_vec)` symmetric per-vector int8,
  *     scored by quantized cosine descending (`q_cos`) — 4x fewer bytes;
  *   - [[VectorCodec.Srp]]: `(id, cell, v)` SRP bucket plus the float
  *     vector; queries score only their own bucket, by exact cosine
  *     descending (`cos_sim`). `nBits` persists as `<path>.srpmeta`. */
sealed trait VectorCodec {
  /** `(id, <codec columns>[, extraCols])` — the at-rest row. */
  private[operators] def rows(df: DataFrame, idCol: String, vecCol: String,
                              extraCols: Seq[String]): DataFrame
  /** `(__qid, <query columns>)` from `(__qid, __qv)`. */
  private[operators] def queries(q: DataFrame): DataFrame
  /** The join condition beyond self-match exclusion, if any. */
  private[operators] def bucket: Option[Column] = None
  private[operators] def score: Column
  private[operators] def scoreName: String
  private[operators] def ascending: Boolean = false
}

object VectorCodec {
  case object Binary extends VectorCodec {
    private[operators] def rows(df: DataFrame, idCol: String, vecCol: String,
                                extraCols: Seq[String]): DataFrame =
      df.select(col(idCol).as("id") +:
        binarySignature(col(vecCol)).as("sig") +: extraCols.map(col): _*)
    private[operators] def queries(q: DataFrame): DataFrame =
      q.select(col("__qid"), binarySignature(col("__qv")).as("__qsig"))
    private[operators] def score: Column =
      hammingDistance(col("sig"), col("__qsig"))
    private[operators] def scoreName = "hamming"
    override private[operators] def ascending = true
  }

  case object Int8 extends VectorCodec {
    private[operators] def rows(df: DataFrame, idCol: String, vecCol: String,
                                extraCols: Seq[String]): DataFrame =
      withInt8Quantized(df, vecCol)
        .select(col(idCol).as("id") +: col("q_vec") +: extraCols.map(col): _*)
    private[operators] def queries(q: DataFrame): DataFrame =
      withInt8Quantized(q, "__qv").select(col("__qid"), col("q_vec").as("__qvec"))
    private[operators] def score: Column =
      round(quantizedCosine(col("q_vec"), col("__qvec")), 6)
    private[operators] def scoreName = "q_cos"
  }

  final case class Srp(nBits: Int) extends VectorCodec {
    require(nBits >= 1 && nBits <= 63, s"nBits out of 1..63: $nBits")
    private[operators] def rows(df: DataFrame, idCol: String, vecCol: String,
                                extraCols: Seq[String]): DataFrame =
      df.select(col(idCol).as("id") +: srpSignature(col(vecCol), nBits).as("cell") +:
        col(vecCol).as("v") +: extraCols.map(col): _*)
    private[operators] def queries(q: DataFrame): DataFrame =
      q.select(col("__qid"), col("__qv"), srpSignature(col("__qv"), nBits).as("__qcell"))
    override private[operators] def bucket = Some(col("cell") === col("__qcell"))
    private[operators] def score: Column = round(cosine(col("v"), col("__qv")), 6)
    private[operators] def scoreName = "cos_sim"
  }
}

/** The one lifecycle of the model-free vector indexes: build, append,
  * appendBatch, delete, compact and probe, for every [[VectorCodec]].
  *
  * Layout: `(id, <codec columns>[, extraCols])` parquet at `<path>`
  * (flat) or under `batch=<id>` subtrees (the replay-idempotent
  * streaming face), tombstones at `<path>.tombstones`, and for SRP the
  * width at `<path>.srpmeta`. Rows are pure per-vector functions, so
  * append ≡ one-shot build, batches replay by overwrite, deletes are
  * sibling tombstones excluded by every probe at once, and compaction
  * is deletion + latest-batch upsert healing with nothing to refit.
  * `extraCols` ride the rows, so a probe's predicate runs on the
  * compressed scan before scoring. The probe is a full scan (SRP prunes
  * by bucket equality in the join): the compression is the scale story
  * (SCALE.md). Pause ingest across a compact (single maintenance actor).
  *
  * The probe takes no codec: it reads the codec off the index itself
  * (the `.srpmeta` sidecar, else the `sig` / `q_vec` row column), and
  * appends refuse a codec that disagrees with the persisted rows — so
  * a probe or an append can never disagree with the build. */
object VectorIndex {

  /** Encode `df` once and write it at `path`, replacing what was there,
    * tombstones included (a delete of the old rows must not hide the
    * new ones). SRP writes its width first and clusters the rows by cell
    * (parquet min/max stats then skip row groups on single-cell
    * probes). */
  def build(df: DataFrame, idCol: String, vecCol: String, path: String,
            codec: VectorCodec, extraCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val rows = codec.rows(df, idCol, vecCol, extraCols)
    def remove(p: String): Unit = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
    }
    remove(s"$path.tombstones")
    codec match {
      case VectorCodec.Srp(nBits) =>
        writeSrpMeta(spark, path, nBits)
        rows.repartition(col("cell")).write.mode("overwrite").parquet(path)
      case _ =>
        // a root rebuilt under another codec must not keep an SRP width
        remove(metaPath(path))
        rows.write.mode("overwrite").parquet(path)
    }
  }

  /** Encode and append to a flat index (or start one at an empty root). */
  def append(newVecs: DataFrame, idCol: String, vecCol: String, path: String,
             codec: VectorCodec, extraCols: Seq[String] = Nil): Unit =
    write(codec.rows(newVecs, idCol, vecCol, extraCols), path, codec, None,
      "append")(srpBits(newVecs.sparkSession, path))

  /** The replay-idempotent micro-batch face: the batch's rows OVERWRITE
    * their own `batch=<batchId>` subtree, so a replayed batch rewrites
    * identical rows instead of double-appending. `batch=-1` is
    * [[compact]]'s reserved fold target, hence `batchId >= 0`. */
  def appendBatch(batch: DataFrame, idCol: String, vecCol: String,
                  path: String, batchId: Long, codec: VectorCodec,
                  extraCols: Seq[String] = Nil): Unit =
    write(codec.rows(batch, idCol, vecCol, extraCols), path, codec,
      Some(batchId), "appendBatch")(srpBits(batch.sparkSession, path))

  /** [[appendBatch]] for a whole streaming drain. The codec's one-off
    * step runs here, once: an SRP root gets its width ensured (written
    * when the root is empty, never overwritten) and read back ONCE, so
    * the returned per-micro-batch writer launches no metadata job. */
  private[graft] def batchWriter(spark: SparkSession, path: String,
                                 codec: VectorCodec, idCol: String,
                                 vecCol: String, extraCols: Seq[String]
                                ): (DataFrame, Long) => Unit = {
    val bits = codec match {
      case VectorCodec.Srp(nBits) =>
        if (!exists(spark, metaPath(path)) &&
            Similarity.listDataFiles(spark, path).isEmpty)
          writeSrpMeta(spark, path, nBits)
        val persisted = srpBits(spark, path)
        requireCodec("vectorIndexAvailableNow", path,
          VectorCodec.Srp(persisted), codec)
        Some(persisted)
      case _ => None
    }
    (batch, batchId) => write(codec.rows(batch, idCol, vecCol, extraCols),
      path, codec, Some(batchId), "appendBatch")(
      bits.getOrElse(srpBits(spark, path)))
  }

  /** Tombstone ids: they append to `<path>.tombstones` (repeats are
    * harmless), every probe excludes them at once, and the rows stay
    * until [[compact]]. */
  def delete(path: String, ids: DataFrame, idCol: String): Unit =
    ids.select(col(idCol).as("id")).distinct()
      .write.mode("append")
      .parquet(s"$path.tombstones")

  /** Rewrite without tombstoned rows and clear the tombstone table. A
    * batch layout folds every `batch=<id>` subtree into the reserved
    * `batch=-1`, keeping only each id's LATEST batch (the upsert-healing
    * point for re-embedded ids); a flat layout compacts in place. The
    * survivors are materialized before the overwrite. An SRP root stays
    * clustered by cell — known from its sidecar, never from a column
    * name, which a user's extraCols could share — and keeps its
    * `.srpmeta` untouched. */
  def compact(spark: SparkSession, path: String): Unit = {
    val batchLayout = Similarity.ivfHasDirs(spark, path, "batch=")
    val raw = spark.read.parquet(path)
    val tombPath = new org.apache.hadoop.fs.Path(s"$path.tombstones")
    val fs = tombPath.getFileSystem(spark.sessionState.newHadoopConf())
    val survivors = Materialize(
      {
        val deduped =
          if (batchLayout) {
            val latest = raw.groupBy(col("id"))
              .agg(max(col("batch")).as("batch"))
            raw.join(latest, Seq("id", "batch"))
          } else raw
        val keep = raw.columns.toSeq.filterNot(_ == "batch")
        val p = deduped.select(keep.map(col): _*)
        if (fs.exists(tombPath))
          p.join(spark.read.parquet(s"$path.tombstones"), Seq("id"),
            "left_anti")
        else p
      },
      eager = true)
    val clustered =
      if (exists(spark, metaPath(path))) survivors.repartition(col("cell"))
      else survivors
    if (batchLayout) {
      clustered.write.mode("overwrite").parquet(s"$path/batch=-1")
      val root = new org.apache.hadoop.fs.Path(path)
      fs.listStatus(root)
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("batch=") &&
          st.getPath.getName != "batch=-1")
        .foreach(st => fs.delete(st.getPath, true))
    } else
      clustered.write.mode("overwrite").parquet(path)
    fs.delete(tombPath, true)
    ()
  }

  /** Batch top-k over the index at `path`: per query the `k` best live
    * rows, self-match excluded, as (`queryIdCol`, `id`, score) with the
    * codec's score column — `hamming` ascending, `q_cos` or `cos_sim`
    * descending — ties broken by id. Queries encode on the fly (|q|
    * rows); the corpus was encoded once at ingest. `predicate` (over
    * the rows' extraCols) runs on the scan BEFORE scoring and the
    * per-query top-k, so a selective filter never loses the rows a
    * post-filtered truncated ranking would. Per query identical to
    * [[topKBatch]] over the indexed vectors (rows are pure functions). */
  def probe(spark: SparkSession, path: String, queries: DataFrame,
            queryIdCol: String, queryVecCol: String, k: Int,
            predicate: Option[Column] = None): DataFrame = {
    require(k > 0, s"VectorIndex.probe: k must be positive: $k")
    Similarity.requireQueryIdNotReserved(queryIdCol, "VectorIndex.probe")
    val rows = live(spark, path)
    val codec = codecAt(spark, path, Some(rows.schema), srpBits(spark, path))
      .getOrElse(throw new IllegalArgumentException(
        s"VectorIndex.probe: $path holds no model-free vector index " +
          s"(columns ${rows.columns.mkString(", ")})"))
    topK(predicate.fold(rows)(rows.filter), queries, queryIdCol,
      queryVecCol, k, codec)
  }

  /** The index's rows minus tombstoned ids — what every probe reads. */
  private[operators] def live(spark: SparkSession, path: String): DataFrame =
    Similarity.withoutTombstones(spark, path, spark.read.parquet(path))

  /** [[probe]] straight off a float table: encodes the corpus with
    * `codec` in the query (one pass, before the broadcast join), then
    * scores exactly like the probe. */
  def topKBatch(df: DataFrame, idCol: String, vecCol: String,
                queries: DataFrame, queryIdCol: String, queryVecCol: String,
                k: Int, codec: VectorCodec): DataFrame = {
    require(k > 0, s"VectorIndex.topKBatch: k must be positive: $k")
    Similarity.requireQueryIdNotReserved(queryIdCol, "VectorIndex.topKBatch")
    topK(codec.rows(df, idCol, vecCol, Nil), queries, queryIdCol,
      queryVecCol, k, codec)
  }

  /** The shared scoring core: broadcast encoded queries, join (bucket
    * equality for SRP), score, per-query WindowGroupLimit. */
  private def topK(rows: DataFrame, queries: DataFrame, queryIdCol: String,
                   queryVecCol: String, k: Int,
                   codec: VectorCodec): DataFrame = {
    val q = broadcast(codec.queries(queries.select(
      col(queryIdCol).as("__qid"), col(queryVecCol).as("__qv"))))
    val score = col(codec.scoreName)
    val w = Window.partitionBy(col("__qid"))
      .orderBy(if (codec.ascending) score.asc else score.desc, col("id"))
    val notSelf = col("id") =!= col("__qid")
    rows.join(q, codec.bucket.fold(notSelf)(_ && notSelf))
      .select(col("__qid"), col("id"), codec.score.as(codec.scoreName))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("__qid").as(queryIdCol), col("id"), score)
  }

  /** Check `rows` against the index at `path` and write them: flat
    * append, or overwrite of `batch=<id>`. The index's codec and
    * columns come from the one schema read this costs (plus the
    * `.srpmeta` width, `persistedBits`, on an SRP root); a codec or
    * extraCols mismatch fails loudly. An empty root takes the codec as
    * given. */
  private def write(rows: DataFrame, path: String, codec: VectorCodec,
                    batchId: Option[Long], face: String)(
      persistedBits: => Int): Unit = {
    val spark = rows.sparkSession
    batchId match {
      case Some(b) =>
        require(b >= 0,
          s"batchId must be >= 0 (batch=-1 is compact's reserved fold target): $b")
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        require(!fs.exists(p) || !fs.listStatus(p).exists(st =>
            st.isFile && st.getPath.getName.endsWith(".parquet")),
          s"$face: $path has the flat one-shot layout — use append " +
            "(mixing layouts breaks partition discovery)")
      case None =>
        require(!Similarity.ivfHasDirs(spark, path, "batch="),
          s"$face: $path has the streaming batch layout — use appendBatch " +
            "(mixing layouts breaks partition discovery)")
    }
    val schema =
      if (Similarity.listDataFiles(spark, path).isEmpty) None
      else Some(spark.read.parquet(path).schema)
    val persisted = codecAt(spark, path, schema, persistedBits)
    persisted.foreach(requireCodec(face, path, _, codec))
    schema.foreach(requireColumns(face, path, _, rows.columns.toSeq))
    (persisted, codec) match {
      case (None, VectorCodec.Srp(nBits)) => writeSrpMeta(spark, path, nBits)
      case _ =>
    }
    batchId.fold(rows.write.mode("append").parquet(path))(b =>
      rows.write.mode("overwrite").parquet(s"$path/batch=$b"))
  }

  /** Refuse `rows` whose columns differ from the index's (`schema`, as
    * read from its rows). extraCols that differ from the build's would
    * silently corrupt filtered probes: a later batch without the
    * metadata column reads it as null and never matches, and a compact
    * can erase the column for the whole index. The `batch` partition
    * column is layout. Shared with the trained IVF tiers
    * ([[Similarity.ivfAppend]]), which check the columns their rows
    * will carry before the first batch arrives. */
  private[operators] def requireColumns(face: String, path: String,
                                        schema: StructType,
                                        rowCols: Seq[String]): Unit = {
    val existing = schema.fieldNames.toSet - "batch"
    val incoming = rowCols.toSet
    require(existing == incoming,
      s"$face: the index at $path carries columns " +
        existing.toSeq.sorted.mkString("(", ", ", ")") +
        " but the appended rows carry " +
        incoming.toSeq.sorted.mkString("(", ", ", ")") +
        " — extraCols must match the build's exactly")
  }

  private def requireCodec(face: String, path: String,
                           persisted: VectorCodec, codec: VectorCodec): Unit =
    require(persisted == codec,
      s"$face: the index at $path holds $persisted rows — refusing to flip " +
        s"it to $codec (its rows are encoded under $persisted; rebuild with " +
        "VectorIndex.build to change the codec)")

  /** The codec of the rows at `path` (`schema` is theirs, None for an
    * empty root): SRP when the `.srpmeta` sidecar exists (its width
    * read through `srpBits` only then), else Binary or Int8 by the
    * typed `sig` / `q_vec` column, else None. SRP-shaped rows without
    * their sidecar fail loudly: their width is unknowable. */
  private[operators] def codecAt(spark: SparkSession, path: String,
                                 schema: Option[StructType],
                                 srpBits: => Int): Option[VectorCodec] = {
    def has(name: String, elem: DataType): Boolean =
      schema.exists(_.fields.exists(f => f.name == name && (f.dataType match {
        case ArrayType(`elem`, _) => true
        case _ => false
      })))
    if (exists(spark, metaPath(path))) Some(VectorCodec.Srp(srpBits))
    else if (has("sig", LongType)) Some(VectorCodec.Binary)
    else if (has("q_vec", ByteType)) Some(VectorCodec.Int8)
    else {
      require(!schema.exists(s => Set("cell", "v").subsetOf(s.fieldNames.toSet)),
        noSrpMeta(path))
      None
    }
  }

  /** The persisted width of the SRP index at `path`. */
  private[graft] def srpBits(spark: SparkSession, path: String): Int = {
    require(exists(spark, metaPath(path)), noSrpMeta(path))
    spark.read.parquet(metaPath(path)).collect()(0).getInt(0)
  }

  private def metaPath(path: String): String = s"$path.srpmeta"

  private def noSrpMeta(path: String): String =
    s"no SRP index metadata at ${metaPath(path)} — build with " +
      "VectorIndex.build(…, VectorCodec.Srp(nBits)) first"

  private def writeSrpMeta(spark: SparkSession, path: String, nBits: Int): Unit =
    spark.range(1).select(lit(nBits).as("n_bits"))
      .write.mode("overwrite").parquet(metaPath(path))

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }
}
