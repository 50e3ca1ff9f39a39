package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Cross-index operational surface (r16 verdict #6): one call that
  * answers "what lives at this root, and is maintenance due" for
  * every persisted layout this engine writes, without the caller
  * knowing which report to run. */
object IndexOps {

  /** One-call index health report: detects what lives at `root` — a
    * centroid-IVF index, an IVF-PQ index, a BM25 posting index, a
    * model-free vector index (binary, int8 or SRP), or a raw
    * embedding/vector table —
    * resolves VERSIONED roots through their `.current` pointer, and
    * emits that kind's FIXED metric set (never data-dependent) as one
    * long-format relation `(kind, layout, metric, value)`:
    *
    *   - every kind: `generation` (live `.v<N>` number; -1 when the
    *     root is unversioned) — plus the kind's own dials:
    *   - `ivf`: [[Similarity.ivfDriftSummary]]'s row unpivoted
    *     (n_cells, n_vecs, count_skew, mean_residual,
    *     retrain_recommended as 0/1, n_tombstones, tombstone_frac) —
    *     the "retrain due / compact due" dials;
    *   - `ivfpq`: n_cells, n_vecs, count_skew, n_tombstones,
    *     tombstone_frac (occupancy from the code rows — residual
    *     drift is unmeasurable from lossy codes; watch the flat-IVF
    *     twin or re-probe recall instead, the SCALE.md drift recipe);
    *     both trained kinds are resolved as every face of their
    *     lifecycle resolves them ([[Similarity.ivfRootAt]]), and a root
    *     with a model but no rows yet — [[Similarity.ivfInit]] before
    *     the first drain — reports zero counts and null ratios;
    *   - `bm25`: [[CorpusOps.bm25IndexStats]]'s row unpivoted
    *     (n_builds, n_batches, n_tombstones, n_docs, sum_dl, avgdl) —
    *     df_rows growth and n_batches are the "compact due" dials;
    *   - `bq` / `int8` / `srp` (the model-free [[VectorIndex]]
    *     layouts, keyed by the codec read off the index): n_vecs,
    *     n_batches, n_tombstones, tombstone_frac — and for `srp` also
    *     `n_bits` (the persisted signature width) and
    *     `n_cells`/`count_skew` (bucket-occupancy health — the LSH
    *     prune assumes occupancy near n/2^nBits);
    *   - `embeddings` (a raw vector table, no index layout):
    *     [[Similarity.embeddingReport]]'s ingest-health card.
    *
    * `layout` is `flat` | `batch` (how the data tree is organized)
    * or `table` for a raw embedding table. Costs: directory listings,
    * sidecar-table scans, and — for the vector kinds — the same
    * single data-tree pass their standalone reports already pay; run
    * it from the maintenance loop, not per query. */
  def indexReport(spark: SparkSession, root: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    def exists(p: String): Boolean = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(conf).exists(hp)
    }
    def hasDir(dir: String, prefix: String): Boolean = {
      val hp = new org.apache.hadoop.fs.Path(dir)
      val fs = hp.getFileSystem(conf)
      fs.exists(hp) && fs.listStatus(hp).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith(prefix))
    }
    val gen = Similarity.readIndexVersion(spark, root)
    val genRoot = gen.map(n => s"$root/.v$n").getOrElse(root)
    val generation = gen.map(_.toDouble).getOrElse(-1.0d)

    def layoutOf(dataDir: String): String =
      if (hasDir(dataDir, "batch=")) "batch" else "flat"

    /** distinct tombstoned ids that actually intersect the index —
      * the [[Similarity.ivfDriftSummary]] counting rule. */
    def tombstoneCount(tombDir: String, ids: DataFrame): Long =
      if (exists(tombDir))
        spark.read.parquet(tombDir).select(col("id")).distinct()
          .join(ids, Seq("id"), "left_semi").count()
      else 0L

    def emit(kind: String, layout: String,
             metrics: Seq[(String, java.lang.Double)]): DataFrame = {
      import spark.implicits._
      (metrics :+ ("generation" -> java.lang.Double.valueOf(generation)))
        .map { case (m, v) => (kind, layout, m, v) }
        .toDF("kind", "layout", "metric", "value")
    }
    def d(v: Double): java.lang.Double = java.lang.Double.valueOf(v)
    def round6(v: Double): java.lang.Double = d(math.round(v * 1e6) / 1e6)
    def frac(nTomb: Long, nVecs: Long): java.lang.Double =
      if (nVecs > 0) round6(nTomb.toDouble / nVecs) else d(0.0)

    /** (n_cells, n_vecs, max/avg occupancy) of rows carrying `cell`. */
    def occupancy(rows: DataFrame): org.apache.spark.sql.Row =
      rows.groupBy(col("cell")).agg(count(lit(1)).as("n")).agg(
          count(lit(1)).as("n_cells"),
          coalesce(sum(col("n")), lit(0L)).as("n_vecs"),
          (max(col("n")).cast("double") / avg(col("n"))).as("skew"))
        .collect()(0)
    def skew(occ: org.apache.spark.sql.Row): java.lang.Double =
      if (occ.isNullAt(2)) null else round6(occ.getDouble(2))

    val ivf = Similarity.ivfRootAt(spark, root)
    if (ivf.exists(ix => Similarity.listDataFiles(spark, ix.data).isEmpty)) {
      // ---- a trained IVF root with no rows yet: a model-only root
      // (ivfInit, before the first drain) or a crashed build. The
      // report is exactly what an operator runs to find out why an
      // index looks wrong, so it reports zeros and null ratios rather
      // than tripping parquet schema inference (r17 advice)
      val pq = ivf.get.pq
      emit(if (pq) "ivfpq" else "ivf", "flat",
        Seq("n_cells" -> d(0.0), "n_vecs" -> d(0.0), "count_skew" -> null) ++
          (if (pq) Nil
           else Seq("mean_residual" -> null, "retrain_recommended" -> null)) ++
          Seq("n_tombstones" -> d(0.0), "tombstone_frac" -> d(0.0)))
    } else if (ivf.exists(_.pq)) {
      // ---- IVF-PQ: occupancy skew + pending deletes off the codes. An
      // EMPTY codes table (everything tombstoned then compacted) reports
      // zeros and a null skew (the bm25IndexStats hardening rule)
      val ix = ivf.get
      val codes = spark.read.parquet(ix.data)
      val occ = occupancy(codes)
      val nVecs = occ.getLong(1)
      val nTomb = tombstoneCount(ix.tombstones, codes.select(col("id")))
      emit("ivfpq", layoutOf(ix.data), Seq(
        "n_cells" -> d(occ.getLong(0).toDouble),
        "n_vecs" -> d(nVecs.toDouble),
        "count_skew" -> skew(occ),
        "n_tombstones" -> d(nTomb.toDouble),
        "tombstone_frac" -> frac(nTomb, nVecs)))
    } else if (ivf.isDefined) {
      // ---- centroid IVF: the drift summary unpivoted. A zero-vector
      // index aggregates to null n_vecs/skew/residual (sum/max/avg of
      // no rows) — null-safe getters, not primitive NPEs (r17 advice)
      val r = Similarity.ivfDriftSummary(spark, root).collect()(0)
      def od(i: Int): java.lang.Double =
        if (r.isNullAt(i)) null else d(r.getDouble(i))
      emit("ivf", layoutOf(ivf.get.data), Seq(
        "n_cells" -> d(r.getLong(0).toDouble),
        "n_vecs" -> (if (r.isNullAt(1)) d(0.0)
          else d(r.getLong(1).toDouble)),
        "count_skew" -> od(2),
        "mean_residual" -> od(3),
        "retrain_recommended" -> (if (r.isNullAt(4)) null
          else d(if (r.getBoolean(4)) 1.0 else 0.0)),
        "n_tombstones" -> d(r.getLong(5).toDouble),
        "tombstone_frac" -> od(6)))
    } else if (exists(s"$genRoot/postings") || exists(s"$root.df") ||
        hasDir(root, "tmod=")) {
      // ---- BM25: the stats report unpivoted (no posting-leaf scan)
      val r = CorpusOps.bm25IndexStats(spark, root).collect()(0)
      emit("bm25", r.getString(0), Seq(
        "n_builds" -> d(r.getLong(1).toDouble),
        "n_batches" -> d(r.getLong(2).toDouble),
        "n_tombstones" -> d(r.getLong(3).toDouble),
        "n_docs" -> d(r.getLong(4).toDouble),
        "sum_dl" -> d(r.getLong(5).toDouble),
        "avgdl" -> (if (r.isNullAt(6)) null else d(r.getDouble(6)))))
    } else {
      // ---- a model-free vector index (its codec read off the
      // `.srpmeta` sidecar or the row schema, [[VectorIndex]]) — the
      // lifecycle dials, plus SRP's persisted width and bucket
      // occupancy (the prune assumes occupancy near n/2^nBits) — or
      // else a raw embedding table
      val data =
        if (Similarity.listDataFiles(spark, root).isEmpty) None
        else Some(spark.read.parquet(root))
      require(data.nonEmpty || exists(s"$root.srpmeta"),
        s"indexReport: nothing at $root")
      val codec = VectorIndex.codecAt(spark, root, data.map(_.schema),
        VectorIndex.srpBits(spark, root))
      if (codec.nonEmpty) {
        val occ = codec.collect { case _: VectorCodec.Srp => data.map(occupancy) }
          .flatten
        val nVecs = occ.fold(data.fold(0L)(_.count()))(_.getLong(1))
        val nTomb = data.fold(0L)(df =>
          tombstoneCount(s"$root.tombstones", df.select(col("id"))))
        val nBatches = if (data.isEmpty) 0 else {
          val hp = new org.apache.hadoop.fs.Path(root)
          hp.getFileSystem(conf).listStatus(hp).count(st =>
            st.isDirectory && st.getPath.getName.startsWith("batch="))
        }
        val (kind, dials) = codec.get match {
          case VectorCodec.Binary => ("bq", Nil)
          case VectorCodec.Int8 => ("int8", Nil)
          case VectorCodec.Srp(nBits) => ("srp", Seq(
            "n_bits" -> d(nBits.toDouble),
            "n_cells" -> d(occ.fold(0L)(_.getLong(0)).toDouble),
            "count_skew" -> occ.map(skew).orNull))
        }
        emit(kind, if (data.isEmpty) "flat" else layoutOf(root), Seq(
          "n_vecs" -> d(nVecs.toDouble),
          "n_batches" -> d(nBatches.toDouble),
          "n_tombstones" -> d(nTomb.toDouble),
          "tombstone_frac" -> frac(nTomb, nVecs)) ++ dials)
      } else {
        // ---- raw embedding table: the ingest-health data card
        val df = data.get
        val vecCol = df.schema.fields.find(_.dataType match {
          case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
          case _ => false
        }).getOrElse(sys.error(
          s"indexReport: $root is neither a known index layout nor " +
            "a vector table (no float/double-array column)")).name
        val idCol = df.schema.fields
          .find(f => f.name != vecCol && !f.dataType.isInstanceOf[ArrayType])
          .getOrElse(sys.error(
            s"indexReport: no scalar id column beside $vecCol")).name
        val card = Similarity.embeddingReport(df, idCol, vecCol)
        card.select(lit("embeddings").as("kind"), lit("table").as("layout"),
            col("metric"), col("value").cast("double").as("value"))
          .unionByName(emit("embeddings", "table", Nil))
      }
    }
  }
}
