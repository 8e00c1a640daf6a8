package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Delta-gap codec for positional postings — the storage form every
  * compressed positional index uses (the cost model `postings_compress`
  * prices; this is the codec [[graft.sources.IndexStore]] applies on
  * write and undoes on read). Encode/decode are codegen'd kernels, so
  * the index write path (every posting of the corpus) stays inside
  * whole-stage codegen instead of an interpreted zip_with lambda.
  */
object PostingsImpl {
  /** Sorted absolute positions → (first, gap, gap, ...). */
  def deltaEncode(ps: ArrayData): ArrayData = {
    val n = ps.numElements()
    val out = new Array[Long](n)
    var prev = 0L
    var i = 0
    while (i < n) {
      val v = ps.getLong(i)
      out(i) = if (i == 0) v else v - prev
      prev = v
      i += 1
    }
    new GenericArrayData(out)
  }

  /** (first, gap, gap, ...) → sorted absolute positions. */
  def deltaDecode(gs: ArrayData): ArrayData = {
    val n = gs.numElements()
    val out = new Array[Long](n)
    var acc = 0L
    var i = 0
    while (i < n) { acc += gs.getLong(i); out(i) = acc; i += 1 }
    new GenericArrayData(out)
  }

  /** Whether the sorted position lists `ps` hold a CHAIN p0 ∈ ps(0),
    * p1 ∈ ps(1), … with every step p(i) − p(i−1) in [lo, hi] (lo ≤ hi).
    * One merge walk per step: `reach` holds, ascending, the positions
    * of list i that end some chain through lists 0..i, and because the
    * window [p − hi, p − lo] slides forward with p, one pointer into
    * `reach` serves the whole of list i+1. O(Σ|ps(i)|); duplicates and
    * empty lists are fine (an empty list ends the walk false).
    */
  def chain(ps: Array[ArrayData], lo: Long, hi: Long): Boolean = {
    var reach = ps(0).toLongArray()
    var nr = reach.length
    var i = 1
    while (i < ps.length && nr > 0) {
      val next = ps(i)
      val nn = next.numElements()
      val last = i == ps.length - 1
      val out = if (last) null else new Array[Long](nn)
      var no = 0
      var j = 0
      var k = 0
      while (k < nn) {
        val p = next.getLong(k)
        while (j < nr && reach(j) < p - hi) j += 1
        if (j < nr && reach(j) <= p - lo) {
          if (last) return true
          out(no) = p; no += 1
        }
        k += 1
      }
      reach = out; nr = no; i += 1
    }
    nr > 0
  }

  /** [[chain]] over the position lists a per-document `term → sorted
    * positions` map holds for `keys`, in key order; false when any key
    * is absent. The map holds only the query's leaf terms, so the key
    * lookup is a short linear scan.
    */
  def within(m: MapData, keys: Array[UTF8String], lo: Long, hi: Long): Boolean = {
    val ks = m.keyArray()
    val vs = m.valueArray()
    val n = ks.numElements()
    val ps = new Array[ArrayData](keys.length)
    var i = 0
    while (i < keys.length) {
      var j = 0
      while (j < n && !ks.getUTF8String(j).equals(keys(i))) j += 1
      if (j == n || vs.isNullAt(j)) return false
      ps(i) = vs.getArray(j)
      i += 1
    }
    chain(ps, lo, hi)
  }
}

case class DeltaGapEncode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    PostingsImpl.deltaEncode(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.PostingsImpl.deltaEncode($a)")
  override protected def withNewChildInternal(c: Expression): DeltaGapEncode =
    copy(child = c)
  override def prettyName: String = "delta_gap_encode"
}

case class DeltaGapDecode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    PostingsImpl.deltaDecode(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.PostingsImpl.deltaDecode($a)")
  override protected def withNewChildInternal(c: Expression): DeltaGapDecode =
    copy(child = c)
  override def prettyName: String = "delta_gap_decode"
}

/** Codegen'd positional window test ([[PostingsImpl.within]]): the
  * phrase, sloppy-phrase and NEAR leaves of the query evaluator, one
  * kernel call per document over its `term → positions` map.
  */
case class PositionsWithin(child: Expression, keys: Seq[String], lo: Long, hi: Long)
    extends UnaryExpression {
  require(keys.nonEmpty && lo <= hi, s"bad window [$lo, $hi] over ${keys.size} keys")
  private lazy val keyBytes: Array[UTF8String] = keys.map(UTF8String.fromString).toArray
  override def dataType: DataType = BooleanType
  override def nullSafeEval(m: Any): Any =
    PostingsImpl.within(m.asInstanceOf[MapData], keyBytes, lo, hi)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ks = ctx.addReferenceObj("keys", keyBytes, classOf[Array[UTF8String]].getCanonicalName)
    defineCodeGen(ctx, ev, m => s"graft.functions.PostingsImpl.within($m, $ks, ${lo}L, ${hi}L)")
  }
  override protected def withNewChildInternal(c: Expression): PositionsWithin =
    copy(child = c)
  override def prettyName: String = "positions_within"
}

object PostingsFns {
  def deltaEncode(c: Column): Column =
    GraftBridge.column(DeltaGapEncode(GraftBridge.expression(c)))
  def deltaDecode(c: Column): Column =
    GraftBridge.column(DeltaGapDecode(GraftBridge.expression(c)))
  /** Whether the positions map `m` holds a chain over `keys` with
    * every step in [lo, hi] ([[PostingsImpl.chain]]).
    */
  def within(m: Column, keys: Seq[String], lo: Long, hi: Long): Column =
    GraftBridge.column(PositionsWithin(GraftBridge.expression(m), keys, lo, hi))
}
