package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Dot product of two float32 vectors, accumulated left-to-right in
  * double — a native codegen'd Catalyst expression.
  *
  * Why an Expression and not a lambda/UDF: the similarity-search and
  * kNN operators evaluate this once per candidate pair (O(n²) pairs at
  * brute-force scale), and Spark's higher-order functions interpret
  * their lambda per element. This compiles to a tight primitive loop
  * inside whole-stage codegen — the difference between an interpreted
  * ~64-step fold and 64 fused multiply-adds per pair.
  *
  * Semantics are pinned for cross-engine parity: `Σ (double)a(i) *
  * (double)b(i)` in index order — bit-identical to DuckDB's
  * `list_aggregate(list_transform(...CAST DOUBLE...), 'sum')` fold.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"FloatVecDot requires array<float> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

/** Dot product of two numeric vectors (any mix of float / long / double
  * elements), accumulated left-to-right in double — codegen'd.
  *
  * Exists for the ANN codebook (AnnCodebook): k-means scoring folds
  * array<long> quantized vectors against array<long> centroid sums, and
  * the pruning stage folds array<float> embeddings against the same
  * centroid sums. A higher-order `aggregate(zip_with(...))` expresses
  * this but interprets its lambda per element — three assignment passes
  * × n×k rows × 64 dims made that seconds per query at sf0.1; this is
  * the same fused multiply-add loop FloatVecDot compiles to.
  *
  * Cross-engine contract: `Σ (double)a(i) * (double)b(i)` in index
  * order — bit-identical to the DuckDB oracle's
  * `list_aggregate(list_transform(list_zip(a, b), CAST ... DOUBLE),
  * 'sum')` fold (same left-to-right double accumulation).
  */
case class DoubleVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType | org.apache.spark.sql.types.LongType |
                   org.apache.spark.sql.types.IntegerType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"DoubleVecDot requires array<float|double|long|int> inputs, got ${left.dataType} / ${right.dataType}")

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  private def get(x: ArrayData, dt: DataType, i: Int): Double = dt match {
    case FloatType => x.getFloat(i).toDouble
    case DoubleType => x.getDouble(i)
    case org.apache.spark.sql.types.LongType => x.getLong(i).toDouble
    case _ => x.getInt(i).toDouble
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (lt, rt) = (elemType(left), elemType(right))
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += get(x, lt, i) * get(y, rt, i); i += 1 }
    acc
  }

  private def genGet(arr: String, dt: DataType, i: String): String = dt match {
    case FloatType => s"((double) $arr.getFloat($i))"
    case DoubleType => s"$arr.getDouble($i)"
    case org.apache.spark.sql.types.LongType => s"((double) $arr.getLong($i))"
    case _ => s"((double) $arr.getInt($i))"
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${genGet(a, elemType(left), i)} * ${genGet(b, elemType(right), i)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DoubleVecDot =
    copy(left = newLeft, right = newRight)
}

/** Count of common elements between two SORTED string arrays (each with
  * distinct elements), via a single merge pass — the verification kernel
  * of the prefix-filtered near-dup join. O(n+m) compiled comparisons per
  * candidate pair, versus array_intersect's per-call hash-set build.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"SortedIntersectCount requires array<string> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (nx, ny) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var c = 0
    while (i < nx && j < ny) {
      val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val cmp = ctx.freshName("cmp")
      s"""
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($cmp == 0) { $c++; $i++; $j++; }
         |  else if ($cmp < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** Σᵢ of the HALF_UP `scale`-dp rounding of aᵢ·bᵢ, summed exactly and
  * returned as the double image of the exact decimal sum — the
  * per-vector decimal-rounded reduction (llm_label_outliers) in one
  * codegen pass per row.
  *
  * Replaces the posexplode → `sum(round(x*m, 12).cast(decimal(18,12)))`
  * re-aggregation: per term it computes the SAME rounding Spark's
  * `Round(double, s)` performs (`BigDecimal.valueOf(p).setScale(s,
  * HALF_UP)` — verified against the Spark 4.1.2 RoundBase bytecode:
  * NaN/Infinity pass `round` unchanged and then cast to decimal as
  * NULL, which `sum` skips, so non-finite products contribute 0 here),
  * accumulates the unscaled longs exactly (= the decimal sum, which is
  * order-free), and converts once at the end exactly as
  * `cast(decimal → double)` does. The round→cast(decimal(18,s))
  * composition is lossless for the |p| < 10^(15-s-?) regime used here:
  * |embedding| < 1 (FixtureSmokeSpec bounds it), so each rounded
  * product has ≤ 13 significant digits — within double's 15-digit
  * faithful round-trip — and the cast recovers the exact s-dp decimal.
  * Overflow of the long accumulator (|Σ| > 9.2·10^6 at s = 12) throws
  * loudly (`Math.addExact` / `longValueExact`) instead of wrapping.
  */
case class RoundedVecDot(left: Expression, right: Expression, scale: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"RoundedVecDot requires array<float|double> inputs, got ${left.dataType} / ${right.dataType}")

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    RoundedVecDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right), scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.RoundedVecDot.dot($a, $b, " +
        s"${isFloat(left)}, ${isFloat(right)}, $scale);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RoundedVecDot =
    copy(left = newLeft, right = newRight)
}

object RoundedVecDot {
  /** round(p, scale) as Spark's Round does it for doubles, as the
    * unscaled long of the scale-dp decimal; non-finite → 0 (the
    * round → cast-to-decimal(NULL) → sum-skips composition). */
  private def term(p: Double, scale: Int): Long =
    if (java.lang.Double.isNaN(p) || java.lang.Double.isInfinite(p)) 0L
    else java.math.BigDecimal.valueOf(p)
      .setScale(scale, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  def dot(x: ArrayData, y: ArrayData, lf: Boolean, rf: Boolean, scale: Int): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val a = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val b = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc = Math.addExact(acc, term(a * b, scale))
      i += 1
    }
    new java.math.BigDecimal(java.math.BigInteger.valueOf(acc), scale).doubleValue()
  }
}

object VectorFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column wrapper: dot(a, b) over array<float> columns, as double. */
  def vecDot(a: Column, b: Column): Column =
    ColumnBridge.column(FloatVecDot(ColumnBridge.expr(a), ColumnBridge.expr(b)))

  /** ||v||₂ as double (exact: sqrt of the pinned-order dot fold). */
  def vecNorm(v: Column): Column = org.apache.spark.sql.functions.sqrt(vecDot(v, v))

  /** |a ∩ b| for sorted distinct string arrays, as int. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCount(ColumnBridge.expr(a), ColumnBridge.expr(b)))

  /** dot(a, b) over numeric arrays of any element mix, as double. */
  def dvecDot(a: Column, b: Column): Column =
    ColumnBridge.column(DoubleVecDot(ColumnBridge.expr(a), ColumnBridge.expr(b)))

  /** Σ round(aᵢ·bᵢ, scale) summed exactly, as double (the decimal-
    * rounded per-vector reduction; see [[RoundedVecDot]]). */
  def roundedVecDot(a: Column, b: Column, scale: Int): Column =
    ColumnBridge.column(RoundedVecDot(ColumnBridge.expr(a), ColumnBridge.expr(b), scale))
}
