package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The complete winnowing selection — token array → DISTINCT selected
  * fingerprint array — as ONE expression backed by a static kernel.
  *
  * Rationale (measured, round 15b): phrased as Columns, the gram
  * construction and md5 chain is a ~40-node expression tree that
  * predicate pushdown copies into pre-scan Filters, and Janino compiles
  * it in every branch: q358/q359 paid a ~9 s FIXED cost per invocation
  * (sf1/sf0.1 ratio 1.3 on a linear operator = almost all plan
  * overhead). The higher-order window minimum, `transform(sequence(1,
  * n−w+1), i -> array_min(slice(h, i, w)))`, was also QUADRATIC under
  * Catalyst's lambda evaluator (q359 at sf0.1 spent ~7 minutes in it).
  * Collapsing the chain to a single static call makes each plan copy
  * one generated line, and interpreted eval makes the same call, so the
  * two agree by construction. The kernel reproduces
  * `hash60(concat_ws(' ', gram))` bit-exactly (md5 of UTF-8, first 15 hex
  * chars as a 60-bit long — the [[Portable.hash60]] contract the DuckDB
  * oracle mirrors) and takes the window minima in one O(n)
  * monotonic-deque pass ([[WinnowKernel.windowMins]]).
  */
object WinnowKernel {
  /** The minima of all n−w+1 `w`-windows of `h`, in order, by one
    * monotonic-deque pass; one element, the global minimum, when
    * 1 ≤ n < w (the winnowing guarantee extends to short documents);
    * empty when n = 0. This is the contract the DuckDB oracle's
    * list-comprehension phrasing follows.
    */
  def windowMins(h: Array[Long], w: Int): Array[Long] = {
    val ng = h.length
    if (ng == 0) h
    else if (ng < w) Array(h.min)
    else {
      val out = new Array[Long](ng - w + 1)
      val dq = new Array[Int](ng) // deque of indices, values increasing
      var head = 0; var tail = 0; var p = 0
      while (p < ng) {
        val x = h(p)
        while (tail > head && h(dq(tail - 1)) >= x) tail -= 1
        dq(tail) = p; tail += 1
        if (dq(head) <= p - w) head += 1
        if (p >= w - 1) out(p - w + 1) = h(dq(head))
        p += 1
      }
      out
    }
  }

  /** Distinct window minima of the gram hash sequence of `words`. */
  def select(words: ArrayData, n: Int, w: Int): ArrayData = {
    val nw = words.numElements()
    val ng = if (nw >= n) nw - n + 1 else 0
    if (ng == 0)
      return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val md = java.security.MessageDigest.getInstance("MD5")
    val sp = " ".getBytes("UTF-8")
    val h = new Array[Long](ng)
    var i = 0
    while (i < ng) {
      md.reset()
      var j = 0
      while (j < n) {
        if (j > 0) md.update(sp)
        md.update(words.getUTF8String(i + j).getBytes)
        j += 1
      }
      val d = md.digest()
      // first 15 hex chars = top 60 bits of the first 8 bytes
      var acc = 0L
      var b = 0
      while (b < 8) { acc = (acc << 8) | (d(b) & 0xffL); b += 1 }
      h(i) = acc >>> 4
      i += 1
    }
    val mins = windowMins(h, w)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var q = 0
    while (q < mins.length) { seen.add(mins(q)); q += 1 }
    val res = new Array[Long](seen.size())
    val it = seen.iterator()
    var r = 0
    while (it.hasNext) { res(r) = it.next(); r += 1 }
    UnsafeArrayData.fromPrimitiveArray(res)
  }
}

case class WinnowSelect(child: Expression, n: Int, w: Int)
    extends UnaryExpression {
  require(n >= 1 && w >= 1, s"need n, w >= 1; got n=$n w=$w")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow_select"

  override def nullSafeEval(input: Any): Any =
    WinnowKernel.select(input.asInstanceOf[ArrayData], n, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => s"""
       |${ev.value} = graft.functions.WinnowKernel.select($v, $n, $w);
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): WinnowSelect =
    copy(child = newChild)
}

object WinnowFunctions {
  /** Full winnowing selection: token array → distinct selected 60-bit
    * fingerprints, one kernel call (see [[WinnowKernel]]).
    */
  def winnowSelect(words: Column, n: Int, w: Int): Column =
    GraftShim.column(WinnowSelect(GraftShim.expression(words), n, w))
}
