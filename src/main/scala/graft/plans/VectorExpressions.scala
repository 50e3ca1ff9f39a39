package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Dense-vector natives for the ANN/similarity tier. The declarative
  * cosine ([[graft.operators.Similarity.cosineDeclarative]]:
  * `aggregate(zip_with(a, b, *))` over two `transform` norms) is
  * semantically right but allocates THREE intermediate arrays per pair
  * and walks each input twice — on a brute-force batch leg that is
  * 10^8 pairs of lambda dispatch. [[CosineSim]] fuses the whole thing
  * into one allocation-free JIT'd loop pair per row (the
  * [[SrpSignature]]/[[PqEncode]] native-expression shape) while
  * reproducing the declarative form's exact case analysis and IEEE
  * summation order, so every existing cosine gate stays hash-green.
  */
object VectorExpressions {

  def cosine_sim(a: Column, b: Column): Column =
    GraftBridge.column(
      CosineSim(GraftBridge.expression(a), GraftBridge.expression(b)))

  def binary_signature(v: Column): Column =
    GraftBridge.column(BinarySignature(GraftBridge.expression(v)))

  def hamming_distance(a: Column, b: Column): Column =
    GraftBridge.column(
      HammingDistance(GraftBridge.expression(a), GraftBridge.expression(b)))
}

/** Fused 1-bit sign packing of a numeric-array column into
  * `array<bigint>` (32 sign bits per word) — bit-equal to the
  * declarative [[graft.operators.Similarity
  * .binarySignatureDeclarative]] fold (spec-pinned in
  * DedupSimilaritySpec), including its edge semantics:
  *
  *   - NULL array → NULL; EMPTY array → empty signature,
  *   - a NULL element leaves its bit unset (the declarative `when`
  *     falls through on a null comparison),
  *   - NaN SETS its bit (Spark comparison semantics: NaN > 0 is
  *     true),
  *   - otherwise bit `b` of word `w` is set iff component `32w + b`
  *     is > 0.
  *
  * The declarative fold allocates a 32-element sequence per word and
  * dispatches two lambdas per COMPONENT; at ingest rates (the
  * [[graft.operators.VectorIndex.build]] hot path of a binary index —
  * signatures are computed once per corpus row) this fuses to one branchy
  * integer loop per row, no allocation beyond the output words. */
case class BinarySignature(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, false)
  override def nullable: Boolean = true
  override def prettyName: String = "binary_signature"

  private def elemKind(dt: DataType): Int = dt match {
    case ArrayType(DoubleType, _) => 0
    case ArrayType(FloatType, _) => 1
    case ArrayType(ByteType, _) => 2
    case ArrayType(ShortType, _) => 3
    case ArrayType(IntegerType, _) => 4
    case ArrayType(LongType, _) => 5
    case _ => -1
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemKind(child.dataType) >= 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a numeric-element array input, got " +
        child.dataType.catalogString)

  @transient private lazy val kind = elemKind(child.dataType)

  private def get(v: ArrayData, i: Int): Double = kind match {
    case 0 => v.getDouble(i)
    case 1 => v.getFloat(i).toDouble
    case 2 => v.getByte(i).toDouble
    case 3 => v.getShort(i).toDouble
    case 4 => v.getInt(i).toDouble
    case _ => v.getLong(i).toDouble
  }

  override def eval(input: InternalRow): Any =
    compute(child.eval(input))

  /** Public: called from generated code. */
  def compute(raw: Any): ArrayData = {
    if (raw == null) return null
    val v = raw.asInstanceOf[ArrayData]
    val n = v.numElements()
    val words = new Array[Long]((n + 31) / 32)
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val x = get(v, i)
        // NaN > 0 is TRUE under Spark's comparison ordering — the
        // declarative fold's exact behavior
        if (java.lang.Double.isNaN(x) || x > 0)
          words(i >> 5) |= 1L << (i & 31)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(words)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("binarySignature", this,
      classOf[BinarySignature].getName)
    val c = child.genCode(ctx)
    val out = ctx.freshName("sigWords")
    ev.copy(code =
      code"""
         |${c.code}
         |org.apache.spark.sql.catalyst.util.ArrayData $out =
         |  $ref.compute(${c.isNull} ? null : (Object) ${c.value});
         |boolean ${ev.isNull} = $out == null;
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = $out;
       """.stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): BinarySignature = copy(child = newChild)
}

/** Fused Hamming distance between two packed-signature columns
  * (`array<bigint>`, the [[BinarySignature]] output type) — XOR +
  * popcount accumulated in one JIT'd integer loop per pair, bit-equal
  * to the declarative [[graft.operators.Similarity
  * .hammingDistanceDeclarative]] fold (`aggregate(zip_with(a, b,
  * bit_count(xor)))`, spec-pinned in BqIndexSpec), including its edge
  * semantics:
  *
  *   - a NULL array on either side → NULL (the aggregate of a null
  *     zip_with),
  *   - a LENGTH MISMATCH → NULL (zip_with pads the short side with
  *     nulls; `bit_count(x xor null)` nulls the sum),
  *   - a NULL element on either side → NULL (same route),
  *   - two empty arrays → 0 (an empty fold returns the zero
  *     accumulator),
  *   - otherwise `sum over words of popcount(a[i] xor b[i])`.
  *
  * This is the binary tier's recurring per-(query, row) scorer: with
  * signatures materialized at rest ([[graft.operators.VectorIndex
  * .build]]), every probe pays exactly this expression over the
  * 32x-compressed scan — the declarative fold dispatched two lambdas
  * per WORD there (the [[CosineSim]]/[[BinarySignature]] hot-loop
  * pattern, applied once more). */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "hamming_distance"

  // every integral element type the declarative fold accepted (the
  // CosineSim compatibility rule); the packed-signature layouts are
  // always array<bigint>, but an external caller's int signatures
  // keep working
  private def elemKind(dt: DataType): Int = dt match {
    case ArrayType(ByteType, _) => 2
    case ArrayType(ShortType, _) => 3
    case ArrayType(IntegerType, _) => 4
    case ArrayType(LongType, _) => 5
    case _ => -1
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemKind(left.dataType) >= 0 && elemKind(right.dataType) >= 0)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two integral-element array inputs " +
          s"(packed signatures are array<bigint>), got " +
          s"(${left.dataType.catalogString}, " +
          s"${right.dataType.catalogString})")

  @transient private lazy val leftKind = elemKind(left.dataType)
  @transient private lazy val rightKind = elemKind(right.dataType)
  // Spark coerces bitwiseXOR's operands to the WIDER integral type;
  // bit_count then counts over that type's value SIGN-EXTENDED to
  // long (Long.bitCount semantics) — replicated exactly below
  @transient private lazy val widerKind = math.max(leftKind, rightKind)

  private def get(v: ArrayData, i: Int, kind: Int): Long = kind match {
    case 2 => v.getByte(i).toLong
    case 3 => v.getShort(i).toLong
    case 4 => v.getInt(i).toLong
    case _ => v.getLong(i)
  }

  /** Narrow the long xor to the wider operand type, then sign-extend
    * back — the exact value Spark's `bit_count(x.bitwiseXOR(y))`
    * counts. */
  private def narrowExtend(x: Long): Long = widerKind match {
    case 2 => x.toByte.toLong
    case 3 => x.toShort.toLong
    case 4 => x.toInt.toLong
    case _ => x
  }

  // custom eval, NOT nullSafeEval: the null cases above must flow
  // through one code path so the generated code shares them
  override def eval(input: InternalRow): Any =
    compute(left.eval(input), right.eval(input))

  /** Public: called from generated code. Boxed so the null edges
    * (null input / null element / length mismatch) are representable. */
  def compute(aRaw: Any, bRaw: Any): java.lang.Long = {
    if (aRaw == null || bRaw == null) return null
    val a = aRaw.asInstanceOf[ArrayData]
    val b = bRaw.asInstanceOf[ArrayData]
    val n = a.numElements()
    // zip_with pads the short side with nulls, so ANY length mismatch
    // nulls the declarative sum — including empty-vs-nonempty
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += java.lang.Long.bitCount(narrowExtend(
        get(a, i, leftKind) ^ get(b, i, rightKind)))
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hammingDistance", this,
      classOf[HammingDistance].getName)
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val boxed = ctx.freshName("hamBoxed")
    ev.copy(code =
      code"""
         |${l.code}
         |${r.code}
         |java.lang.Long $boxed = $ref.compute(
         |  ${l.isNull} ? null : (Object) ${l.value},
         |  ${r.isNull} ? null : (Object) ${r.value});
         |boolean ${ev.isNull} = $boxed == null;
         |long ${ev.value} = ${ev.isNull} ? 0L : $boxed.longValue();
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingDistance =
    copy(left = newLeft, right = newRight)
}

/** Fused cosine similarity of two numeric-array columns,
  * bit-equal to the declarative
  * `when(norm(a) * norm(b) > 0, dot(a, b) / (norm(a) * norm(b)))
  * .otherwise(0.0)` composition (spec-pinned in DedupSimilaritySpec),
  * including its edge semantics:
  *
  *   - a NULL array on either side → 0.0 (the declarative `when`
  *     falls through on a null denominator — NOT null),
  *   - a NULL element on either side → 0.0 (same route: the norm
  *     aggregate goes null),
  *   - length mismatch with nonzero norms → NULL (zip_with pads the
  *     short side with nulls, so the dot — and only the dot — is
  *     null),
  *   - a zero/NaN denominator → 0.0,
  *   - otherwise `dot / (sqrt(na) * sqrt(nb))` with every sum
  *     accumulated in ascending index order, elements promoted to
  *     double BEFORE multiplying — the declarative form's exact IEEE
  *     ops, so results are bit-identical.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  // every numeric element type the declarative form's cast("double")
  // accepted — the int8-quantized tier feeds array<tinyint> here
  private def elemKind(dt: DataType): Int = dt match {
    case ArrayType(DoubleType, _) => 0
    case ArrayType(FloatType, _) => 1
    case ArrayType(ByteType, _) => 2
    case ArrayType(ShortType, _) => 3
    case ArrayType(IntegerType, _) => 4
    case ArrayType(LongType, _) => 5
    case _ => -1
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemKind(left.dataType) >= 0 && elemKind(right.dataType) >= 0)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two numeric-element array inputs, got " +
          s"(${left.dataType.catalogString}, " +
          s"${right.dataType.catalogString})")

  @transient private lazy val leftKind = elemKind(left.dataType)
  @transient private lazy val rightKind = elemKind(right.dataType)

  private def get(v: ArrayData, i: Int, kind: Int): Double =
    kind match {
      case 0 => v.getDouble(i)
      case 1 => v.getFloat(i).toDouble
      case 2 => v.getByte(i).toDouble
      case 3 => v.getShort(i).toDouble
      case 4 => v.getInt(i).toDouble
      case _ => v.getLong(i).toDouble
    }

  private val Zero = java.lang.Double.valueOf(0.0d)

  // custom eval, NOT nullSafeEval: a null input array yields 0.0 here
  // (the declarative form's behavior), which nullSafeEval cannot say
  override def eval(input: InternalRow): Any =
    compute(left.eval(input), right.eval(input))

  /** Public: called from generated code. Boxed so the length-mismatch
    * NULL is representable. */
  def compute(aRaw: Any, bRaw: Any): java.lang.Double = {
    if (aRaw == null || bRaw == null) return Zero
    val a = aRaw.asInstanceOf[ArrayData]
    val b = bRaw.asInstanceOf[ArrayData]
    val la = a.numElements()
    val lb = b.numElements()
    var na = 0.0d
    var i = 0
    while (i < la) {
      if (a.isNullAt(i)) return Zero
      val x = get(a, i, leftKind)
      na += x * x
      i += 1
    }
    var nb = 0.0d
    i = 0
    while (i < lb) {
      if (b.isNullAt(i)) return Zero
      val y = get(b, i, rightKind)
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (!(denom > 0)) return Zero
    if (la != lb) return null
    var dot = 0.0d
    i = 0
    while (i < la) {
      dot += get(a, i, leftKind) * get(b, i, rightKind)
      i += 1
    }
    java.lang.Double.valueOf(dot / denom)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cosineSim", this,
      classOf[CosineSim].getName)
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val boxed = ctx.freshName("cosBoxed")
    ev.copy(code =
      code"""
         |${l.code}
         |${r.code}
         |java.lang.Double $boxed = $ref.compute(
         |  ${l.isNull} ? null : (Object) ${l.value},
         |  ${r.isNull} ? null : (Object) ${r.value});
         |boolean ${ev.isNull} = $boxed == null;
         |double ${ev.value} = ${ev.isNull} ? 0.0 : $boxed.doubleValue();
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}
