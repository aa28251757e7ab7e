package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/**
 * Fused cosine kernels the generated code calls (top-level object ⇒ static
 * forwarders ⇒ plain static call in codegen).
 *
 * Why native: the declarative form is THREE higher-order-function trees per
 * pair — `aggregate(zip_with(a,b,*))` for the dot plus one
 * `aggregate(transform(...))` per norm — and HOFs evaluate a lambda per
 * element and allocate the zipped/transformed array per call; the candidate
 * verify of the embedding dedup/ANN family evaluates this once per
 * candidate PAIR, making it the measured hot spot of q29/q30/q42. One fused
 * loop reads each array once, allocates nothing, and runs inside
 * whole-stage codegen.
 *
 * Exactness contract (the oracle gate): bit-identical to the declarative
 * form it replaces. Per-accumulator addition order is the array order the
 * left-fold `aggregate` uses; integer sums are order-free anyway and the
 * double sums replay the same IEEE add sequence; the combine is the same
 * single ops — `d / (sqrt(na) * sqrt(nb))`, zero-norm ⇒ 0.0. Null/length
 * semantics replicate the HOF tree exactly: `zip_with` pads the shorter
 * side with null, which poisons the dot but NOT the norms, so unequal
 * lengths yield null UNLESS a zero norm short-circuits the `when` to 0.0;
 * any null element poisons its sum and nulls the result.
 */
object VecCosineKernel {

  /** Cosine over quantized long vectors (Similarity.intCosine). */
  def intCos(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n == b.numElements()) {
      var sa = 0L; var sb = 0L; var d = 0L
      var i = 0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        val x = a.getLong(i); val y = b.getLong(i)
        sa += x * x; sb += y * y; d += x * y
        i += 1
      }
      val nn = math.sqrt(sa.toDouble) * math.sqrt(sb.toDouble)
      if (nn == 0.0) java.lang.Double.valueOf(0.0)
      else java.lang.Double.valueOf(d.toDouble / nn)
    } else {
      // degenerate (unequal lengths): norms still evaluate over each FULL
      // array; the dot is null — replicate `when(nn === 0, 0).otherwise(null)`
      var sa = 0L; var i = 0
      while (i < n) { if (a.isNullAt(i)) return null; val x = a.getLong(i); sa += x * x; i += 1 }
      var sb = 0L; i = 0
      val m = b.numElements()
      while (i < m) { if (b.isNullAt(i)) return null; val y = b.getLong(i); sb += y * y; i += 1 }
      if (math.sqrt(sa.toDouble) * math.sqrt(sb.toDouble) == 0.0) java.lang.Double.valueOf(0.0)
      else null
    }
  }

  /** Cosine over float/double vectors in double precision
    * (Similarity.cosine): each product is computed on widened doubles and
    * accumulated left-to-right, exactly like the `aggregate` left fold. */
  def floatCos(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n == b.numElements()) {
      var sa = 0.0; var sb = 0.0; var d = 0.0
      var i = 0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
        sa += x * x; sb += y * y; d += x * y
        i += 1
      }
      val nn = math.sqrt(sa) * math.sqrt(sb)
      if (nn == 0.0) java.lang.Double.valueOf(0.0)
      else java.lang.Double.valueOf(d / nn)
    } else {
      var sa = 0.0; var i = 0
      while (i < n) { if (a.isNullAt(i)) return null; val x = a.getFloat(i).toDouble; sa += x * x; i += 1 }
      var sb = 0.0; i = 0
      val m = b.numElements()
      while (i < m) { if (b.isNullAt(i)) return null; val y = b.getFloat(i).toDouble; sb += y * y; i += 1 }
      if (math.sqrt(sa) * math.sqrt(sb) == 0.0) java.lang.Double.valueOf(0.0)
      else null
    }
  }
}

/** Base for the two fused-cosine expressions: nullable double out, kernel
  * dispatch by name (the kernel may return null even on non-null inputs —
  * degenerate length/element cases above). */
abstract class FusedCosine extends BinaryExpression {
  protected def kernel: String // "intCos" | "floatCos"
  protected def requiredElementType: DataType
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  // strict: the kernel reads element slots by physical type — a silently
  // misread array would be a wrong ANSWER, not an error, so reject any
  // other element type at analysis time
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(l, _), ArrayType(r, _))
        if l == requiredElementType && r == requiredElementType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<$requiredElementType> inputs, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val r =
      if (kernel == "intCos") VecCosineKernel.intCos(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
      else VecCosineKernel.floatCos(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (r == null) null else r.doubleValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("cos")
      s"""
         |java.lang.Double $r = graft.functions.VecCosineKernel.$kernel($a, $b);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })
}

/** Fused `intCosine` over quantized `array<long>` vectors. */
case class IntCosine(left: Expression, right: Expression) extends FusedCosine {
  override protected def kernel: String = "intCos"
  override protected def requiredElementType: DataType = LongType
  override def prettyName: String = "int_cosine"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Fused double-precision cosine over `array<float>` vectors. */
case class FloatCosine(left: Expression, right: Expression) extends FusedCosine {
  override protected def kernel: String = "floatCos"
  override protected def requiredElementType: DataType = FloatType
  override def prettyName: String = "float_cosine"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/**
 * Quantize kernel (Similarity.quantize): each component `x` becomes
 * `cast(round(double(x) * scale) as bigint)`, value for value and error for
 * error what the per-element `transform` lambda computed, in one loop that
 * writes a primitive long array and boxes nothing.
 *
 *   - `round` is Spark's HALF_UP rounding of `BigDecimal(d)` (ties away from
 *     zero, NaN and ±Inf unchanged). The fraction of a finite double is
 *     exact, and below 2^52 every x.5 boundary is itself a double, so
 *     rounding the exact value equals rounding its shortest decimal form;
 *     from 2^52 up every double is an integer.
 *   - The cast follows the session's ANSI mode like Spark's Cast: ANSI
 *     raises Spark's CAST_OVERFLOW error unless floor/ceil of the value lie
 *     within [Long.MinValue, Long.MaxValue] as doubles; otherwise the JVM's
 *     saturating double → long conversion (NaN → 0).
 *   - A null element stays null.
 */
object VecQuantizeKernel {

  private def roundHalfUp(d: Double): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else {
      val a = math.abs(d)
      val f = math.floor(a)
      math.copySign(if (a - f >= 0.5) f + 1.0 else f, d)
    }

  private def toLong(r: Double, ansi: Boolean): Long =
    if (!ansi || (math.floor(r) <= Long.MaxValue.toDouble && math.ceil(r) >= Long.MinValue.toDouble)) r.toLong
    else throw GraftBridge.castToLongOverflow(r)

  def quantize(a: ArrayData, isDouble: Boolean, scale: Double, ansi: Boolean): ArrayData = {
    val n = a.numElements()
    val out = UnsafeArrayData.createFreshArray(n, 8)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) out.setNullAt(i)
      else {
        val x = if (isDouble) a.getDouble(i) else a.getFloat(i).toDouble
        out.setLong(i, toLong(roundHalfUp(x * scale), ansi))
      }
      i += 1
    }
    out
  }
}

/** Fused `quantize` over an `array<float>` or `array<double>` vector. The
  * ANSI mode is read from the session when the expression is built, as
  * Spark's Cast reads it. */
case class QuantizeVec(child: Expression, scale: Int, ansi: Boolean = SQLConf.get.ansiEnabled)
    extends UnaryExpression {
  private def isDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def dataType: DataType = child.dataType match {
    case ArrayType(_, containsNull) => ArrayType(LongType, containsNull)
    case _ => ArrayType(LongType)
  }
  override def prettyName: String = "quantize_vec"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> or array<double> input, got ${other.simpleString}")
  }

  override def nullSafeEval(a: Any): Any =
    VecQuantizeKernel.quantize(a.asInstanceOf[ArrayData], isDouble, scale.toDouble, ansi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.VecQuantizeKernel.quantize($a, $isDouble, (double) $scale, $ansi)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object VectorExpressions {
  def quantize(vec: Column, scale: Int): Column =
    GraftBridge.column(QuantizeVec(GraftBridge.expression(vec), scale))
  def int_cosine(a: Column, b: Column): Column =
    GraftBridge.column(IntCosine(GraftBridge.expression(a), GraftBridge.expression(b)))
  def float_cosine(a: Column, b: Column): Column =
    GraftBridge.column(FloatCosine(GraftBridge.expression(a), GraftBridge.expression(b)))
}
