package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Fused vector arithmetic for the embedding family (ANN search,
  * near-dup scoring, k-means assignment). The composite
  * `aggregate(zip_with(a, b, (x, y) -> …), 0d, (acc, v) -> acc + v)`
  * allocates a zipped intermediate array per PAIR — at corpus×probe
  * or corpus×centroid volume that is billions of short-lived arrays.
  * These expressions run the identical left-to-right IEEE fold in a
  * tight generated loop with zero allocation, so results are
  * bit-for-bit what the composites produced (same add/multiply
  * order), and every existing DuckDB oracle is unchanged.
  *
  * Inputs: array<float> or array<double> (floats upcast exactly, as
  * the composites' CAST did). Divergence from the composites on
  * malformed input only: length mismatch / null element THROWS
  * instead of null-poisoning — embeddings are fixed-dim and non-null,
  * so a mismatch is corruption worth failing on, not propagating.
  */
object VecMath {

  private def isFloatArr(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  def dotCompute(a: ArrayData, b: ArrayData, aF: Boolean, bF: Boolean): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"vec_dot: length mismatch ${n} vs ${b.numElements()}")
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(s"vec_dot: null element at $i")
      val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bF) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  def sqDistCompute(a: ArrayData, b: ArrayData, aF: Boolean, bF: Boolean): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"vec_sq_dist: length mismatch ${n} vs ${b.numElements()}")
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(s"vec_sq_dist: null element at $i")
      val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bF) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      acc += d * d
      i += 1
    }
    acc
  }

  /** Spark's `round(d, 6)` on a double, bit for bit (RoundBase,
    * HALF_UP; NaN and infinities pass through). */
  def round6(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The engine's one exact argmin: the position in `cents` of the
    * vector with the smallest (round(Σ (aᵢ−cᵢ)², 6), id) — ties to the
    * lowest id, doubles ordered as Spark orders them. -1 when `cents`
    * is empty. */
  def nearestIndex(a: ArrayData, cents: Array[Array[Double]], ids: Array[Long],
      aF: Boolean): Int = {
    val n = a.numElements()
    var best = -1
    var bd = 0.0
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      if (cv.length != n)
        throw new IllegalArgumentException(
          s"vec_nearest_index: length mismatch $n vs ${cv.length}")
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (a.isNullAt(i))
          throw new IllegalArgumentException(s"vec_nearest_index: null element at $i")
        val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
        val d = x - cv(i)
        acc += d * d
        i += 1
      }
      val r = round6(acc)
      val cmp = if (best < 0) -1 else SQLOrderingUtil.compareDoubles(r, bd)
      if (cmp < 0 || (cmp == 0 && ids(c) < ids(best))) { bd = r; best = c }
      c += 1
    }
    best
  }

  import org.apache.spark.sql.graftbridge.Bridge

  /** Σ aᵢ·bᵢ as one codegen'd loop (replaces dot composites). */
  def vec_dot(a: Column, b: Column): Column =
    Bridge.column(VecDot(Bridge.expression(a), Bridge.expression(b)))

  /** The exact nearest-centroid id of every k-means / PQ assignment:
    * the `id` of the `model` row nearest to `a` by
    * (round(vec_sq_dist, 6), id) — ties to the lowest id, the contract
    * every DuckDB oracle replays. `model` is a driver-collected
    * (id, vector) table carried by reference into generated code, so
    * plan size does not grow with k. NULL when the model is empty.
    * A pure map, legal in a streaming projection. */
  def vec_nearest_index(a: Column, model: Seq[(Long, Seq[Double])]): Column =
    Bridge.column(VecNearestIndex(Bridge.expression(a), model))

  /** Σ (aᵢ−bᵢ)² — the k-means assignment metric. */
  def vec_sq_dist(a: Column, b: Column): Column =
    Bridge.column(VecSqDist(Bridge.expression(a), Bridge.expression(b)))

  /** √Σ aᵢ² — L2 norm via the same fold the composites used. */
  def vec_norm(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(vec_dot(a, a))

  private[functions] def floatFlags(l: Expression, r: Expression): (Boolean, Boolean) =
    (isFloatArr(l), isFloatArr(r))

  /** Analysis-time input check shared by the Vec* expressions: every
    * operand must be array<float> or array<double>. Without it a
    * non-array input died with a ClassCastException at plan time and
    * an array<int>/array<long> column was silently read through
    * ArrayData.getDouble over int-packed bytes — garbage, not an
    * error. Now both are clean AnalysisExceptions. */
  private[functions] def checkVecInputs(fname: String,
      ops: Seq[Expression]): TypeCheckResult = {
    ops.zipWithIndex.collectFirst {
      case (e, i) if !e.dataType.isInstanceOf[ArrayType] ||
          (e.dataType.asInstanceOf[ArrayType].elementType != FloatType &&
           e.dataType.asInstanceOf[ArrayType].elementType != DoubleType) =>
        TypeCheckResult.TypeCheckFailure(
          s"$fname requires array<float> or array<double> for argument ${i + 1}, " +
            s"got ${e.dataType.catalogString}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)
  }
}

case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    VecMath.checkVecInputs(prettyName, Seq(left, right))

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (af, bf) = VecMath.floatFlags(left, right)
    VecMath.dotCompute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], af, bf)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (af, bf) = VecMath.floatFlags(left, right)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VecMath.dotCompute($a, $b, $af, $bf);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot"
}

case class VecNearestIndex(child: Expression, model: Seq[(Long, Seq[Double])])
    extends UnaryExpression {

  @transient private lazy val cents: Array[Array[Double]] =
    model.map(_._2.toArray).toArray
  @transient private lazy val ids: Array[Long] = model.map(_._1).toArray
  private def aFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullable: Boolean = true
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    VecMath.checkVecInputs(prettyName, Seq(child))

  override protected def nullSafeEval(a: Any): Any = {
    val i = VecMath.nearestIndex(a.asInstanceOf[ArrayData], cents, ids, aFloat)
    if (i < 0) null else ids(i)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    val idsRef = ctx.addReferenceObj("ids", ids, "long[]")
    val i = ctx.freshName("nearest")
    nullSafeCodeGen(ctx, ev, a => s"""
      int $i = graft.functions.VecMath.nearestIndex($a, $centsRef, $idsRef, $aFloat);
      if ($i < 0) ${ev.isNull} = true;
      else ${ev.value} = $idsRef[$i];""")
  }

  override protected def withNewChildInternal(newChild: Expression): VecNearestIndex =
    copy(child = newChild)

  override def prettyName: String = "vec_nearest_index"
  // keep the model payload out of plan renders
  override def toString: String = s"vec_nearest_index($child, k=${model.length})"
}

case class VecSqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    VecMath.checkVecInputs(prettyName, Seq(left, right))

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (af, bf) = VecMath.floatFlags(left, right)
    VecMath.sqDistCompute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], af, bf)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (af, bf) = VecMath.floatFlags(left, right)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VecMath.sqDistCompute($a, $b, $af, $bf);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecSqDist =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_sq_dist"
}
