package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

/** The loops behind the vector expressions. Each expression's interpreted
  * `nullSafeEval` and its generated code make the same single call here,
  * so the two paths cannot drift apart: bit-identity between eval and
  * codegen holds by construction. A kernel is compiled once and the JIT
  * treats it as its own method, so it does not grow the `processNext()`
  * of every plan it lands in.
  */
object VectorKernel {
  /** Σ xᵢyᵢ over the shorter length, folded left to right. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  /** Exact Σ xᵢyᵢ over the shorter length. */
  def intDot(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  /** ‖v[base, base + len)‖², folded left to right. */
  private[functions] def sqNorm(v: ArrayData, base: Int, len: Int): Double = {
    var vv = 0.0
    var j = 0
    while (j < len) { val x = v.getDouble(base + j); vv += x * x; j += 1 }
    vv
  }

  /** d² of the slice v[base, base + len) (squared norm `vv`) against
    * centroid row `r` of `flat` (rows of `stride` values):
    * vv − 2·(Σ vⱼcⱼ left to right) + norms(r).
    */
  private[functions] def d2(v: ArrayData, base: Int, len: Int, vv: Double,
                            flat: Array[Double], norms: Array[Double],
                            r: Int, stride: Int): Double = {
    val off = r * stride
    var dot = 0.0
    var i = 0
    while (i < len) { dot += v.getDouble(base + i) * flat(off + i); i += 1 }
    vv - 2.0 * dot + norms(r)
  }

  /** Nearest of centroid rows `first` until `first + k` to the slice
    * v[base, base + len), as an offset from `first`: argmin of [[d2]] by a
    * strict `<` scan, so ties go to the lowest row.
    */
  def argmin(v: ArrayData, base: Int, len: Int, flat: Array[Double],
             norms: Array[Double], first: Int, k: Int, stride: Int): Int = {
    val vv = sqNorm(v, base, len)
    var best = 0
    var bestD2 = Double.PositiveInfinity
    var c = 0
    while (c < k) {
      val d = d2(v, base, len, vv, flat, norms, first + c, stride)
      if (d < bestD2) { bestD2 = d; best = c }
      c += 1
    }
    best
  }

  /** Nearest centroid of a `dim`-wide matrix to v's first `dim` values. */
  def nearestCentroid(v: ArrayData, flat: Array[Double],
                      norms: Array[Double], dim: Int): Int =
    argmin(v, 0, math.min(v.numElements(), dim), flat, norms, 0,
      norms.length, dim)
}

/** Native Catalyst expression for the vector hot path.
  *
  * The similarity operators originally used `zip_with` + `aggregate`
  * higher-order functions; those allocate a lambda frame per element and
  * dominated the benchmark (50s of a 74s total at sf0.1). This expression
  * is one call to the primitive loop [[VectorKernel.dot]] — no
  * per-element allocation, no virtual dispatch — which keeps the same
  * left-to-right accumulation order as the fold it replaces, so results
  * are bit-identical to the previous implementation (and to the DuckDB
  * oracle's `list_dot_product`).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs are array<double> by construction (VectorFunctions.dot callers
  // cast explicitly); no ExpectsInputTypes — that trait is private[sql]
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernel.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernel.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Exact integer dot product over two array<long> columns — the int8
  * quantized-similarity hot path. Same rationale as [[DotProduct]]: the
  * `zip_with` + `aggregate` higher-order form allocates a lambda frame
  * per element; this is one call to [[VectorKernel.intDot]]. Integer
  * addition is associative, so there is no accumulation-order caveat at
  * all — results are exact on any engine.
  */
case class IntDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_int_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernel.intDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorKernel.intDot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Nearest-centroid cell id for a vector, against a centroid matrix that
  * rides along as a REFERENCE OBJECT — not as literal child expressions.
  * It is the one IVF assignment path ([[graft.ext.IvfIndex.fromCentroids]]).
  *
  * This is what keeps IVF assignment inside whole-stage codegen at ANY
  * cell count: folding nCells×dim literals into the plan breaks Janino's
  * 64 KB method limit (measured: `array_min(array(struct...))` projections
  * throw "Code grows beyond 64 KB" at 4096×8 and fall back to interpreted
  * eval at ~370 ns per vector-cell), and even at q64's 16×64 the query
  * ran slower on literals than on this expression. Here the
  * generated code is one call to [[VectorKernel.nearestCentroid]] over
  * `double[]` arrays regardless of nCells: no join, no shuffle, no codegen
  * ceiling.
  *
  * Semantics match the q64 DuckDB oracle bit for bit:
  * d² = v·v − 2·(Σ vᵢcᵢ, folded left-to-right) + ‖c‖² (norms pre-folded
  * left-to-right), argmin by strict `<` scan in cell order = ties to the
  * lowest cell. A null vector gets a null cell.
  */
case class NearestCentroid(child: Expression, flat: Array[Double],
                           norms: Array[Double], dim: Int)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_centroid"

  override def nullSafeEval(input: Any): Any =
    VectorKernel.nearestCentroid(input.asInstanceOf[ArrayData], flat, norms,
      dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("flatCentroids", flat, "double[]")
    val normsRef = ctx.addReferenceObj("centroidNorms", norms, "double[]")
    defineCodeGen(ctx, ev, v => "graft.functions.VectorKernel" +
      s".nearestCentroid($v, $flatRef, $normsRef, $dim)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object VectorFunctions {
  /** Dot product of two array<double> columns (codegen'd primitive loop). */
  def dot(a: Column, b: Column): Column =
    GraftShim.column(DotProduct(
      GraftShim.expression(a), GraftShim.expression(b)))

  /** Exact dot product of two array<long> columns (codegen'd loop). */
  def intDot(a: Column, b: Column): Column =
    GraftShim.column(IntDotProduct(
      GraftShim.expression(a), GraftShim.expression(b)))

  /** Nearest-centroid cell for an array<double> vector column; centroids
    * travel as a broadcast-like reference object inside codegen.
    */
  def nearestCentroid(v: Column, centroids: Seq[Seq[Double]]): Column = {
    val dim = centroids.head.size
    require(centroids.forall(_.size == dim), "ragged centroid matrix")
    val flat = new Array[Double](centroids.size * dim)
    centroids.zipWithIndex.foreach { case (c, i) =>
      c.copyToArray(flat, i * dim)
    }
    // left-to-right fold, as the q64 oracle folds c·c
    val norms = centroids.map(_.foldLeft(0.0)((s, x) => s + x * x)).toArray
    GraftShim.column(NearestCentroid(GraftShim.expression(v), flat, norms, dim))
  }
}
