package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodegenContext, EmptyBlock, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

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
    * lowest id, doubles ordered as Spark orders them — over every
    * position, or over the positions listed in `cands` (null entries
    * skipped). -1 when there is no candidate. */
  def nearestIndex(a: ArrayData, cents: Array[Array[Double]], ids: Array[Long],
      cands: ArrayData, aF: Boolean): Int = {
    val n = a.numElements()
    val m = if (cands == null) cents.length else cands.numElements()
    var best = -1
    var bd = 0.0
    var k = 0
    while (k < m) {
      if (cands == null || !cands.isNullAt(k)) {
        val c = if (cands == null) k else cands.getInt(k)
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
      }
      k += 1
    }
    best
  }

  /** Indices of the p nearest centroids, ascending by (dist, index) —
    * the IVF multi-probe routing primitive. p is small (≤ centroids),
    * so selection is a bounded insertion pass. */
  def nearestIndices(a: ArrayData, cents: Array[Array[Double]], p: Int,
      aF: Boolean): ArrayData = {
    val n = a.numElements()
    val m = math.min(p, cents.length)
    val bi = new Array[Int](m)
    val bdArr = new Array[Double](m)
    java.util.Arrays.fill(bdArr, Double.MaxValue)
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      if (cv.length != n)
        throw new IllegalArgumentException(
          s"vec_nearest_indices: length mismatch $n vs ${cv.length}")
      val worst = bdArr(m - 1)
      var acc = 0.0
      var i = 0
      while (i < n && acc < worst) { // can't displace once past the worst kept
        val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
        val d = x - cv(i)
        acc += d * d
        i += 1
      }
      if (acc < worst) { // strict < → ties keep the earlier (lower) index
        var j = m - 1
        while (j > 0 && acc < bdArr(j - 1)) {
          bdArr(j) = bdArr(j - 1); bi(j) = bi(j - 1); j -= 1
        }
        bdArr(j) = acc; bi(j) = c
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      bi.map(i => Int.box(i): AnyRef))
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
    * plan size does not grow with k; `candidates` (array<int> of
    * positions in `model`) restricts the scan per row. NULL when the
    * candidate set is empty. A pure map, legal in a streaming
    * projection. */
  def vec_nearest_index(a: Column, model: Seq[(Long, Seq[Double])],
      candidates: Option[Column] = None): Column =
    Bridge.column(VecNearestIndex(Bridge.expression(a), model,
      candidates.map(Bridge.expression)))

  /** Top-p variant (multi-probe IVF routing): array of the p nearest
    * centroid indices, ascending by (dist, index). */
  def vec_nearest_indices(a: Column, centroids: Seq[Seq[Double]], p: Int): Column =
    Bridge.column(VecNearestIndices(Bridge.expression(a), centroids, p))

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

case class VecNearestIndex(child: Expression, model: Seq[(Long, Seq[Double])],
    candidates: Option[Expression])
    extends Expression {

  @transient private lazy val cents: Array[Array[Double]] =
    model.map(_._2.toArray).toArray
  @transient private lazy val ids: Array[Long] = model.map(_._1).toArray
  private def aFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def children: Seq[Expression] = child +: candidates.toSeq
  override def nullable: Boolean = true
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    VecMath.checkVecInputs(prettyName, Seq(child)) match {
      case TypeCheckResult.TypeCheckSuccess => candidates.map(_.dataType) match {
        case Some(t) if !t.isInstanceOf[ArrayType] ||
            t.asInstanceOf[ArrayType].elementType != IntegerType =>
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName candidates must be array<int>, got ${t.catalogString}")
        case _ => TypeCheckResult.TypeCheckSuccess
      }
      case failure => failure
    }

  override def eval(input: InternalRow): Any = {
    val a = child.eval(input)
    val c = candidates.map(_.eval(input))
    if (a == null || c.contains(null)) return null
    val i = VecMath.nearestIndex(a.asInstanceOf[ArrayData], cents, ids,
      c.orNull.asInstanceOf[ArrayData], aFloat)
    if (i < 0) null else ids(i)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = child.genCode(ctx)
    val c = candidates.map(_.genCode(ctx))
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    val idsRef = ctx.addReferenceObj("ids", ids, "long[]")
    val i = ctx.freshName("nearest")
    ev.copy(code = code"""
      ${a.code}
      ${c.fold(EmptyBlock: Block)(_.code)}
      boolean ${ev.isNull} = true;
      long ${ev.value} = -1L;
      if (!${a.isNull} && !${c.fold("false")(_.isNull.toString)}) {
        int $i = graft.functions.VecMath.nearestIndex(${a.value}, $centsRef,
          $idsRef, ${c.fold("null")(_.value.toString)}, $aFloat);
        if ($i >= 0) {
          ${ev.isNull} = false;
          ${ev.value} = $idsRef[$i];
        }
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VecNearestIndex =
    copy(child = newChildren.head, candidates = newChildren.lift(1))

  override def prettyName: String = "vec_nearest_index"
  // keep the model payload out of plan renders
  override def toString: String =
    s"vec_nearest_index($child, k=${model.length}${candidates.fold("")(c => s", $c")})"
}

case class VecNearestIndices(child: Expression, centroids: Seq[Seq[Double]],
    p: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  @transient private lazy val arr: Array[Array[Double]] =
    centroids.map(_.toArray).toArray
  private def aFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult =
    VecMath.checkVecInputs(prettyName, Seq(child))

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)

  override protected def nullSafeEval(a: Any): Any =
    VecMath.nearestIndices(a.asInstanceOf[ArrayData], arr, p, aFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", arr, "double[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.VecMath.nearestIndices($a, $ref, $p, $aFloat);")
  }

  override protected def withNewChildInternal(newChild: Expression): VecNearestIndices =
    copy(child = newChild)

  override def prettyName: String = "vec_nearest_indices"
  override def toString: String =
    s"vec_nearest_indices($child, k=${centroids.length}, p=$p)"
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
