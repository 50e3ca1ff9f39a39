package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Product-quantization natives (Jégou, Douze, Schmid, "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011): the vector
  * dimension is split into `m` subspaces, each subvector is replaced by
  * the index of its nearest per-subspace centroid, and a d-float vector
  * becomes `m` BYTES at rest (d=64 float32 → 8 bytes = 32x). Queries
  * never decode: asymmetric distance computation (ADC) precomputes a
  * per-query lookup table of query-subvector-to-centroid distances and
  * scores each stored code with `m` table lookups — no per-row float
  * math at all.
  *
  * Same native-expression shape as [[NearestCentroid]]: the codebook /
  * LUT rides as a codegen reference object (Seq fields keep case-class
  * structural equality for semanticEquals; the hot loop reads an
  * unboxed mirror built once per task), and `doGenCode` emits a direct
  * `compute` call so PQ scans stay inside whole-stage codegen.
  */
object PqExpressions {

  def pq_encode(c: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    GraftBridge.column(PqEncode(GraftBridge.expression(c), codebooks))

  def pq_adc_dist(c: Column, lut: Seq[Seq[Double]]): Column =
    GraftBridge.column(PqAdcDistance(GraftBridge.expression(c), lut))

  def pq_lut(c: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    GraftBridge.column(PqLut(GraftBridge.expression(c), codebooks))

  def pq_adc_dist_col(code: Column, lut: Column): Column =
    GraftBridge.column(PqAdcDistanceCol(
      GraftBridge.expression(code), GraftBridge.expression(lut)))
}

/** Encode an `array<double>` vector to its `m`-byte PQ code: byte `s`
  * is the index (argmin squared-L2, first-wins on ties) of subspace
  * `s`'s nearest codebook centroid. `codebooks(s)` must share one
  * subspace width; vectors shorter than `m * dsub` read as
  * zero-padded. */
case class PqEncode(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {

  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
    "pq_encode: empty codebook")
  require(codebooks.forall(_.size <= 256),
    s"pq_encode: byte codes need <=256 centroids per subspace")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "pq_encode"

  @transient private lazy val matrix: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  /** Public: called from generated code. */
  def compute(v: ArrayData): Array[Byte] = {
    val n = v.numElements()
    val m = matrix.length
    val dsub = matrix(0)(0).length
    val out = new Array[Byte](m)
    var s = 0
    while (s < m) {
      val cents = matrix(s)
      val base = s * dsub
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < cents.length) {
        val cen = cents(c)
        var d2 = 0.0d
        var i = 0
        while (i < dsub) {
          val x = if (base + i < n) v.getDouble(base + i) else 0.0d
          val diff = x - cen(i)
          d2 += diff * diff
          i += 1
        }
        if (d2 < bestD) { bestD = d2; best = c }
        c += 1
      }
      out(s) = best.toByte
      s += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncode", this, classOf[PqEncode].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(c: Expression): PqEncode =
    copy(child = c)
}

/** ADC score of an `m`-byte PQ code against a per-query lookup table:
  * `sum_s lut(s)(code(s))` — the approximate squared L2 distance from
  * the query to the stored vector when `lut(s)(c) = ||q_s - cen_s_c||²`
  * (built driver-side from the collected query vector; `m x ksub`
  * doubles, constant per query). Codes shorter than the LUT score only
  * their present bytes. */
case class PqAdcDistance(child: Expression, lut: Seq[Seq[Double]])
    extends UnaryExpression {

  require(lut.nonEmpty && lut.forall(_.nonEmpty), "pq_adc_dist: empty LUT")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "pq_adc_dist"

  @transient private lazy val table: Array[Array[Double]] =
    lut.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[Array[Byte]])

  /** Public: called from generated code. */
  def compute(code: Array[Byte]): Double = {
    val m = if (code.length < table.length) code.length else table.length
    var s = 0
    var d = 0.0d
    while (s < m) {
      d += table(s)(code(s) & 0xff)
      s += 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdc", this, classOf[PqAdcDistance].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(c: Expression): PqAdcDistance =
    copy(child = c)
}

/** Build the per-query ADC lookup table FROM A COLUMN — the batch-probe
  * face of the driver-side `Similarity.pqLut`: for an input vector `v`
  * (an L2-normalized query, or a query-minus-centroid cell residual),
  * `lut(s)(c) = ||v_s - cen_s_c||²` with components past `v`'s length
  * read as zero — the EXACT loop `pqLut` runs on the driver, in the
  * same IEEE order, so a batch probe's scores are bit-identical to the
  * per-query path's (law pinned in PqSpec). One `m x ksub` double table
  * per row; queries are few by contract (the table rides a broadcast),
  * so the per-row allocation is never a corpus-scan cost. */
case class PqLut(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {

  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
    "pq_lut: empty codebook")
  require(codebooks.map(_.size).distinct.size == 1,
    "pq_lut: subspaces must share one centroid count (the flat " +
      "output encodes ksub as length / m)")

  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "pq_lut"

  @transient private lazy val matrix: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  /** Public: called from generated code. The table is FLATTENED
    * row-major (`lut(s * ksub + c)`): a nested array<array<double>>
    * would cost the scorer one ArrayData wrapper allocation PER
    * SUBSPACE PER CORPUS ROW (measured 8 M lookups/s on the 500k x
    * 128 batch); the flat layout scores with primitive getDouble
    * reads straight off the UnsafeArrayData. Every subspace shares
    * one ksub, so the scorer recovers the stride as
    * `lut.length / code.length`. */
  def compute(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val m = matrix.length
    val dsub = matrix(0)(0).length
    val ksub = matrix(0).length
    val out = new Array[Double](m * ksub)
    var s = 0
    while (s < m) {
      val cents = matrix(s)
      val base = s * dsub
      var c = 0
      while (c < cents.length) {
        val cen = cents(c)
        var d2 = 0.0d
        var i = 0
        while (i < dsub) {
          val x = if (base + i < n) v.getDouble(base + i) else 0.0d
          val t = x - cen(i)
          d2 += t * t
          i += 1
        }
        out(s * ksub + c) = d2
        c += 1
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqLut", this, classOf[PqLut].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(c: Expression): PqLut =
    copy(child = c)
}

/** [[PqAdcDistance]] with the lookup table as a COLUMN instead of a
  * literal — the batch-probe scorer: the per-query (or per-query-cell)
  * table built by [[PqLut]] meets the corpus codes through a broadcast
  * join, and each (code, lut) pair scores with `m` primitive table
  * reads off the flat row-major layout, no float math and no
  * per-subspace ArrayData wrappers per row. */
case class PqAdcDistanceCol(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_dist_col"

  override def nullSafeEval(code: Any, lut: Any): Any =
    compute(code.asInstanceOf[Array[Byte]], lut.asInstanceOf[ArrayData])

  /** Public: called from generated code. The table is [[PqLut]]'s
    * FLAT row-major layout; the per-subspace stride is
    * `lut.length / m` (every subspace shares one ksub by the PqLut
    * contract), so scoring is `m` primitive getDouble reads. */
  def compute(code: Array[Byte], lut: ArrayData): Double = {
    val m = code.length
    val n = lut.numElements()
    if (m == 0 || n == 0) return 0.0d
    val ksub = n / m
    var s = 0
    var d = 0.0d
    while (s < m) {
      val idx = s * ksub + (code(s) & 0xff)
      if (idx < n) d += lut.getDouble(idx)
      s += 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdcCol", this,
      classOf[PqAdcDistanceCol].getName)
    defineCodeGen(ctx, ev, (c, l) => s"$ref.compute($c, $l)")
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqAdcDistanceCol =
    copy(left = l, right = r)
}
