package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expressions for product quantization: the one encode
  * and ADC path of [[graft.ext.Pq]].
  *
  * Folding the m×k codebook centroids into the plan as literals does not
  * scale: at m=16/k=64 on 64-dim embeddings plan compilation stalls for
  * minutes, and even at m=2/k=16 the literal ADC lookup table grew
  * `processNext()` past Janino's 64 KB method limit on every run. These
  * expressions carry the codebooks as REFERENCE OBJECTS — the generated
  * code is one call into [[PqKernel]] regardless of (m, k), so encode and
  * ADC stay inside whole-stage codegen at any codebook size. Interpreted
  * eval makes the same call, so eval and codegen agree bit for bit by
  * construction.
  *
  * Operation order matches the DuckDB oracles bit for bit: per subspace
  * d² = v·v − 2·(Σ vⱼcⱼ left-to-right) + ‖c‖² (norms pre-folded
  * left-to-right), argmin by strict `<` scan in code order (ties to the
  * lowest code), micro grid = ⌊d²·10⁶ + ½⌋ as long.
  */
object PqMatrix {
  /** Flattened codebooks: flat((s·k + c)·subDim + j) = books(s)(c)(j);
    * norms(s·k + c) = ‖books(s)(c)‖² folded left-to-right. Requires all
    * m books to share one code count k (the packed-layout contract).
    */
  def pack(books: Seq[Seq[Seq[Double]]]): (Array[Double], Array[Double], Int, Int) = {
    require(books.nonEmpty && books.head.nonEmpty, "empty codebooks")
    val k = books.head.size
    require(books.forall(_.size == k),
      s"packed PQ needs uniform code counts; got ${books.map(_.size)}")
    val subDim = books.head.head.size
    require(books.forall(_.forall(_.size == subDim)), "ragged codebooks")
    val m = books.size
    val flat = new Array[Double](m * k * subDim)
    val norms = new Array[Double](m * k)
    for (s <- 0 until m; c <- 0 until k) {
      books(s)(c).copyToArray(flat, (s * k + c) * subDim)
      norms(s * k + c) = books(s)(c).foldLeft(0.0)((a, x) => a + x * x)
    }
    (flat, norms, k, subDim)
  }
}

/** The loops behind the PQ expressions and the driver-side batch LUT.
  * Each expression's interpreted `nullSafeEval` and its generated code
  * make the same single call here (the [[VectorKernel]] shape), and
  * [[graft.ext.Pq.adcKnnPackedBatch]] builds its LUTs with the same
  * [[adcLut]], so every path runs one loop in one order.
  */
object PqKernel {
  /** Valid width of subspace `s`'s slice of an `n`-value vector: the
    * subspace is cut short, or empty, past the vector's end.
    */
  private def width(n: Int, s: Int, subDim: Int): Int =
    math.max(0, math.min(subDim, n - s * subDim))

  /** Nearest code of each of the m subspaces ([[VectorKernel.argmin]] over
    * the subspace's own slice and codebook), as an array<long>.
    */
  def encode(v: ArrayData, flat: Array[Double], norms: Array[Double],
             m: Int, k: Int, subDim: Int): ArrayData = {
    val n = v.numElements()
    val codes = new Array[Long](m)
    var s = 0
    while (s < m) {
      codes(s) = VectorKernel.argmin(v, s * subDim, width(n, s, subDim), flat,
        norms, s * k, k, subDim).toLong
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  /** The flattened ADC lookup table of one query vector:
    * lut(s·k + c) = ⌊d²(v_s, books(s)(c))·10⁶ + ½⌋.
    */
  def adcLut(v: ArrayData, flat: Array[Double], norms: Array[Double],
             m: Int, k: Int, subDim: Int): Array[Long] = {
    val n = v.numElements()
    val lut = new Array[Long](m * k)
    var s = 0
    while (s < m) {
      val base = s * subDim
      val len = width(n, s, subDim)
      val vv = VectorKernel.sqNorm(v, base, len)
      var c = 0
      while (c < k) {
        val d2 = VectorKernel.d2(v, base, len, vv, flat, norms, s * k + c,
          subDim)
        lut(s * k + c) = math.floor(d2 * 1e6 + 0.5).toLong
        c += 1
      }
      s += 1
    }
    lut
  }

  /** Σ_s lut(s·k + codes(s)) over the codes' m subspaces. */
  def adcDist(codes: ArrayData, lut: ArrayData, k: Int): Long = {
    val m = codes.numElements()
    var s = 0
    var d = 0L
    while (s < m) {
      d += lut.getLong(s * k + codes.getLong(s).toInt)
      s += 1
    }
    d
  }

  /** [[adcDist]] against query `qi`'s LUT inside a batch of LUTs laid out
    * one after another, m·k longs each.
    */
  def adcDistBatch(codes: ArrayData, qi: Int, luts: Array[Long], m: Int,
                   k: Int): Long = {
    val base = qi * m * k
    var s = 0
    var d = 0L
    while (s < m) {
      d += luts(base + s * k + codes.getLong(s).toInt)
      s += 1
    }
    d
  }

  /** out(i) = v(perm(i)); an index past v's end is an error. */
  def permute(v: ArrayData, perm: Array[Int]): ArrayData = {
    val n = v.numElements()
    val out = new Array[Double](perm.length)
    var i = 0
    while (i < perm.length) {
      val j = perm(i)
      if (j >= n) throw new ArrayIndexOutOfBoundsException(
        s"permutation index $j out of bounds for vector of $n")
      out(i) = v.getDouble(j)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Per-subspace nearest-code assignment for all m subspaces in ONE
  * codegen'd call ([[PqKernel.encode]]): array<double> vector →
  * array<long> of m codes.
  */
case class PqEncodePacked(child: Expression, flat: Array[Double],
                          norms: Array[Double], m: Int, k: Int,
                          subDim: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  override def nullSafeEval(input: Any): Any =
    PqKernel.encode(input.asInstanceOf[ArrayData], flat, norms, m, k, subDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("pqFlat", flat, "double[]")
    val normsRef = ctx.addReferenceObj("pqNorms", norms, "double[]")
    defineCodeGen(ctx, ev, v => "graft.functions.PqKernel" +
      s".encode($v, $flatRef, $normsRef, $m, $k, $subDim)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodePacked =
    copy(child = newChild)
}

/** Per-query ADC lookup table as ONE flattened array<long>
  * ([[PqKernel.adcLut]]): lut[s·k + c] = ⌊d²(q_s, books(s)(c))·10⁶ + ½⌋.
  * The broadcast payload of the packed ADC scan — m·k longs per query,
  * vectors never leave the query side.
  */
case class PqAdcLutMicro(child: Expression, flat: Array[Double],
                         norms: Array[Double], m: Int, k: Int,
                         subDim: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_pq_adc_lut"

  override def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(PqKernel.adcLut(
      input.asInstanceOf[ArrayData], flat, norms, m, k, subDim))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("pqFlat", flat, "double[]")
    val normsRef = ctx.addReferenceObj("pqNorms", norms, "double[]")
    defineCodeGen(ctx, ev, v =>
      "org.apache.spark.sql.catalyst.expressions.UnsafeArrayData" +
        ".fromPrimitiveArray(graft.functions.PqKernel" +
        s".adcLut($v, $flatRef, $normsRef, $m, $k, $subDim))")
  }

  override protected def withNewChildInternal(newChild: Expression): PqAdcLutMicro =
    copy(child = newChild)
}

/** ADC distance: Σ_s lut[s·k + codes[s]] — exact long sum of the
  * per-subspace micro partials ([[PqKernel.adcDist]]). `left` = codes
  * (array<long>, m entries), `right` = the query's flattened LUT
  * (array<long>, m·k entries).
  */
case class PqAdcDistMicro(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_pq_adc_dist"

  override def nullSafeEval(a: Any, b: Any): Any =
    PqKernel.adcDist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.PqKernel.adcDist($a, $b, $k)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcDistMicro =
    copy(left = newLeft, right = newRight)
}

/** Coordinate permutation of an array<double> vector in ONE pass with
  * the permutation as a reference object. The Column phrasing —
  * `array(perm.map(j => element_at(v, j + 1)))` — re-evaluates the
  * child (typically `cast(embedding AS array<double>)`) once PER
  * ELEMENT: 64 whole-array casts + 64 intermediate allocations per
  * row (the round-18 q338 finding: 0.5 ms/row on a 4096-flop encode).
  * Here the child evaluates once and the permute is a d-step copy
  * ([[PqKernel.permute]]).
  */
case class VecPermute(child: Expression, perm: Array[Int])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_vec_permute"

  override def nullSafeEval(input: Any): Any =
    PqKernel.permute(input.asInstanceOf[ArrayData], perm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val permRef = ctx.addReferenceObj("vecPerm", perm, "int[]")
    defineCodeGen(ctx, ev, v => s"graft.functions.PqKernel.permute($v, $permRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): VecPermute =
    copy(child = newChild)
}

/** ADC distance of one corpus row's codes against query `qi` of a
  * DRIVER-COLLECTED batch LUT (flat layout: luts[qi·m·k + s·k + code];
  * [[PqKernel.adcDistBatch]]). The batch LUT rides as ONE reference
  * object, so the per-query distance fan-out is
  * `explode(sequence(0, B−1))` over the codes row — NO broadcast join,
  * and the encode feeding `codes` is evaluated once per corpus row (the
  * round-18 q338 finding: whole-stage codegen re-evaluated the
  * stream-side encode once per broadcast row, a per-row cost that grew
  * with the query batch).
  */
case class PqAdcDistBatch(left: Expression, right: Expression,
                          luts: Array[Long], m: Int, k: Int)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_pq_adc_dist_batch"

  override def nullSafeEval(a: Any, b: Any): Any =
    PqKernel.adcDistBatch(a.asInstanceOf[ArrayData],
      b.asInstanceOf[Number].intValue(), luts, m, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lutsRef = ctx.addReferenceObj("adcLuts", luts, "long[]")
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.PqKernel.adcDistBatch($a, (int) $b, $lutsRef, $m, $k)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcDistBatch =
    copy(left = newLeft, right = newRight)
}

object PqFunctions {
  /** One-pass coordinate permutation (see [[VecPermute]]). */
  def vecPermute(v: Column, perm: Seq[Int]): Column =
    GraftShim.column(VecPermute(GraftShim.expression(v), perm.toArray))

  /** Batch ADC distance against a driver-collected flat LUT (see
    * [[PqAdcDistBatch]]).
    */
  def pqAdcDistBatch(codes: Column, qi: Column, luts: Array[Long],
                     m: Int, k: Int): Column =
    GraftShim.column(PqAdcDistBatch(GraftShim.expression(codes),
      GraftShim.expression(qi), luts, m, k))

  /** Codes for all m subspaces as array<long> (codegen'd, matrix rides
    * as a reference object).
    */
  def pqCodes(v: Column, books: Seq[Seq[Seq[Double]]]): Column = {
    val (flat, norms, k, subDim) = PqMatrix.pack(books)
    GraftShim.column(PqEncodePacked(GraftShim.expression(v), flat, norms,
      books.size, k, subDim))
  }

  /** Flattened per-query ADC lookup table as array<long> (m·k micro
    * partial distances).
    */
  def pqAdcLut(q: Column, books: Seq[Seq[Seq[Double]]]): Column = {
    val (flat, norms, k, subDim) = PqMatrix.pack(books)
    GraftShim.column(PqAdcLutMicro(GraftShim.expression(q), flat, norms,
      books.size, k, subDim))
  }

  /** Exact integer ADC distance from packed codes + a flattened LUT. */
  def pqAdcDist(codes: Column, lut: Column, k: Int): Column =
    GraftShim.column(PqAdcDistMicro(GraftShim.expression(codes),
      GraftShim.expression(lut), k))
}
