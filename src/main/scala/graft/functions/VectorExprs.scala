package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType}

/** Native codegen dense-vector kernels.
  *
  * The same math written with `aggregate`/`zip_with` higher-order
  * functions runs INTERPRETED — a per-element lambda dispatch that
  * measures ~100× slower than generated Java (see SURVEY §4). These
  * expressions are the ANN/similarity hot path: a plain primitive
  * loop inside whole-stage codegen, no boxing, no lambda, no driver
  * materialization of the vectors (contrast with collecting a
  * broadcast matrix: here the arrays stay in their rows and the loop
  * runs where the row is).
  *
  * Accumulation is in index order, so results are deterministic for
  * a given pair of arrays (double addition is order-dependent across
  * DIFFERENT orders, but the generated loop has one fixed order —
  * and it matches the `aggregate(zip_with(...))` fold order, so
  * swapping the HOFs for these expressions is value-identical).
  */
trait VectorBinaryExpr extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemOf(dt: DataType): Option[DataType] = dt match {
    case ArrayType(FloatType, _)  => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case ArrayType(ByteType, _)   => Some(ByteType) // SQ8 code columns
    case _                        => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemOf(left.dataType), elemOf(right.dataType)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float|double|tinyint> arguments, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }

  /** Interpreted element read as double (null element → 0 vote). */
  protected def elem(arr: ArrayData, i: Int, side: Expression): Double =
    if (arr.isNullAt(i)) 0.0
    else side.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => arr.getFloat(i).toDouble
      case ByteType  => arr.getByte(i).toDouble
      case _         => arr.getDouble(i)
    }

  /** Generated element read as double. */
  protected def elemJava(arr: String, i: String, side: Expression): String =
    side.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case ByteType  => s"(double) $arr.getByte($i)"
      case _         => s"$arr.getDouble($i)"
    }
}

/** `dot_product(a, b)` = Σ a(i)·b(i) over min(len) elements, one
  * generated loop. The primitive every ANN path builds on. */
case class DotProduct(left: Expression, right: Expression)
  extends VectorBinaryExpr {

  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) dot += elem(x, i, left) * elem(y, i, right)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      // 4× unrolled with ONE accumulator: same addition order as the
      // simple loop (and the interpreted eval), so values stay
      // bit-identical — the unroll only trims loop-bound checks and
      // widens the JIT's scheduling window.
      def body(idx: String) =
        s"""if (!$a.isNullAt($idx) && !$b.isNullAt($idx)) {
           |    $dot += ${elemJava(a, idx, left)} * ${elemJava(b, idx, right)};
           |  }""".stripMargin
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |int $i = 0;
         |for (; $i + 4 <= $n; $i += 4) {
         |  ${body(i)}
         |  ${body(s"$i + 1")}
         |  ${body(s"$i + 2")}
         |  ${body(s"$i + 3")}
         |}
         |for (; $i < $n; $i++) {
         |  ${body(i)}
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** `cosine_sim(a, b)` = dot(a,b) / (‖a‖·‖b‖) — dot and BOTH norms in
  * a single generated pass (vs three dot_product calls = three array
  * traversals). Value-identical to
  * `dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b)))` because each of the
  * three accumulators sums in the same index order. */
case class CosineSim(left: Expression, right: Expression)
  extends VectorBinaryExpr {

  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xa = elem(x, i, left)
        val yb = elem(y, i, right)
        dot += xa * yb
        na += xa * xa
        nb += yb * yb
      }
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xa = ctx.freshName("xa")
      val yb = ctx.freshName("yb")
      // 4× unrolled, single accumulator per sum: identical addition
      // order to the simple loop and the interpreted eval (see
      // DotProduct) — bit-stable, just fewer loop-bound checks.
      // Measured NEUTRAL at 64 dims on the ANN queries (join cost
      // dominates); kept because it can only help at wider dims.
      def body(idx: String) =
        s"""if (!$a.isNullAt($idx) && !$b.isNullAt($idx)) {
           |    double $xa = ${elemJava(a, idx, left)};
           |    double $yb = ${elemJava(b, idx, right)};
           |    $dot += $xa * $yb; $na += $xa * $xa; $nb += $yb * $yb;
           |  }""".stripMargin
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |int $i = 0;
         |for (; $i + 4 <= $n; $i += 4) {
         |  ${body(i)}
         |  ${body(s"$i + 1")}
         |  ${body(s"$i + 2")}
         |  ${body(s"$i + 3")}
         |}
         |for (; $i < $n; $i++) {
         |  ${body(i)}
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** The shared evaluator for [[DotProductDec12]] — one ordinary JVM
  * method (not generated source), so every plan instance shares one
  * JIT-hot body. */
object DecDot {
  /** Exact-decimal dot product at scale 12:
    * Σ round_halfup_12(a(i)·b(i)) summed EXACTLY, converted to double
    * via BigDecimal.doubleValue — bit-identical to
    * `sum(cast(a(i)*b(i) as decimal(28,12))).cast("double")` over the
    * exploded products (valueOf = the toString-shortest-repr
    * conversion Spark's double→decimal cast performs; HALF_UP is the
    * cast's rounding; the exact integer sum re-associates freely).
    * A product the cast turns into null is skipped, as `sum` skips
    * it: either element null, a NaN or ±Inf product, or one of 1e16
    * or more in magnitude (past decimal(28,12)'s 16 integer digits;
    * doubles that large are integers, so rounding cannot cross the
    * bound). Returns NaN when no product contributed — `sum`'s null,
    * which [[DotProductDec12]] surfaces as null (an exact decimal sum
    * never converts to NaN, so the sentinel is unambiguous).
    * tag: 0 = double, 1 = float, 2 = byte element reads. */
  def dot12(x: ArrayData, y: ArrayData, tagA: Int, tagB: Int): Double = {
    val n = math.min(x.numElements(), y.numElements())
    def rd(arr: ArrayData, i: Int, tag: Int): Double = tag match {
      case 1 => arr.getFloat(i).toDouble
      case 2 => arr.getByte(i).toDouble
      case _ => arr.getDouble(i)
    }
    var acc = 0L          // unscaled sum at scale 12
    var any = false
    var slow: java.math.BigDecimal = null // exact fallback on overflow
    var i = 0
    while (i < n) {
      val p = if (x.isNullAt(i) || y.isNullAt(i)) Double.NaN
        else rd(x, i, tagA) * rd(y, i, tagB)
      if (math.abs(p) < 1e16) { // false for NaN and ±Inf too
        any = true
        val t = java.math.BigDecimal.valueOf(p)
          .setScale(12, java.math.RoundingMode.HALF_UP)
        if (slow ne null) slow = slow.add(t)
        else {
          // common case: the scale-12 unscaled value fits a long and
          // so does the running sum; any overflow falls back to exact
          // BigDecimal accumulation for the REMAINDER (still exact —
          // integer sums re-associate)
          try acc = java.lang.Math.addExact(acc,
            t.unscaledValue().longValueExact())
          catch { case _: ArithmeticException =>
            slow = new java.math.BigDecimal(
              java.math.BigInteger.valueOf(acc), 12).add(t)
          }
        }
      }
      i += 1
    }
    if (!any) Double.NaN
    else if (slow ne null) slow.doubleValue()
    else new java.math.BigDecimal(
      java.math.BigInteger.valueOf(acc), 12).doubleValue()
  }

  def tagOf(side: Expression): Int =
    side.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => 1
      case ByteType  => 2
      case _         => 0
    }
}

/** `dot_product_dec12(a, b)` — the exact-decimal dot product used by
  * the oracle-pinned cosine paths: per-element products rounded to
  * scale 12 (Spark's double→decimal(28,12) cast semantics), summed
  * exactly, converted once to double. Replaces the
  * posexplode→cast→decimal-sum pipeline (per-element generic rows, a
  * pair-keyed aggregate exchange, BigDecimal buffer churn) with one
  * in-row loop. */
case class DotProductDec12(left: Expression, right: Expression)
  extends VectorBinaryExpr {

  override def prettyName: String = "dot_product_dec12"

  // null when no product contributed, like `sum` over no values
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val d = DecDot.dot12(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], DecDot.tagOf(left), DecDot.tagOf(right))
    if (d.isNaN) null else d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.DecDot.dot12(
         |  $a, $b, ${DecDot.tagOf(left)}, ${DecDot.tagOf(right)});
         |${ev.isNull} = Double.isNaN(${ev.value});
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductDec12 =
    copy(left = newLeft, right = newRight)
}

/** `vec_sub(a, b)` = per-element a(i) − b(i) over min(len) elements,
  * as `array<double>` — the RESIDUAL builder for IVF-PQ (v − coarse
  * centroid) and any delta-vs-model computation, kept codegen so the
  * residual path never drops out of whole-stage compilation the way a
  * `zip_with` lambda would. Null elements read as 0 (same vote rule
  * as the dot/cosine kernels). */
case class VecSub(left: Expression, right: Expression)
  extends VectorBinaryExpr {

  override def prettyName: String = "vec_sub"

  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = elem(x, i, left) - elem(y, i, right)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val tmp = ctx.freshName("tmp")
      def read(arr: String, idx: String, side: Expression) =
        s"($arr.isNullAt($idx) ? 0.0 : ${elemJava(arr, idx, side)})"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double[] $tmp = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $tmp[$i] = ${read(a, i, left)} - ${read(b, i, right)};
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |    .fromPrimitiveArray($tmp);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecSub =
    copy(left = newLeft, right = newRight)
}
