package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Vector kernels over Array[Float] embedding columns.
  *
  * All folds are strict left-to-right in element order so results are
  * bitwise identical to the DuckDB oracle's
  * `list_reduce(list_prepend(0.0, ...), (a,x) -> a+x)` form — which
  * makes cosine scores exactly comparable across engines without
  * tolerance windows.
  */
object VectorImpl {
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }
  def norm2(a: ArrayData): Double = {
    var s = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) { val v = a.getFloat(i).toDouble; s += v * v; i += 1 }
    s
  }
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val d = dot(a, b)
    val na = math.sqrt(norm2(a))
    val nb = math.sqrt(norm2(b))
    if (na == 0.0 || nb == 0.0) 0.0 else d / (na * nb)
  }
  // Array[Double] twins of dot/norm2 — same strict left-to-right fold,
  // for double-typed weight vectors (e.g. TF-IDF) where a float
  // round-trip could flip a 4dp rounding boundary.
  def dotD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }
  def norm2D(a: ArrayData): Double = {
    var s = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) { val v = a.getDouble(i); s += v * v; i += 1 }
    s
  }

  /** Sparse dot of two term-sorted (term string, w double) struct
    * arrays: a single merge walk — shared terms multiply, the rest
    * skip. Accumulation order is ascending term (deterministic and
    * identical on both engines' sorted representations). The r15
    * cosine-rescore kernel: per candidate pair ONE codegen'd call over
    * the two attached doc vectors, replacing the pair×term join
    * explosion (guide §2.3) — and a native kernel rather than the
    * interpreted `map_zip_with`/`aggregate` lambdas, which measured
    * 3.8× SLOWER than the join they were meant to replace.
    *
    * Terms compare with `binaryCompare` (unsigned UTF-8 bytes, the
    * order `sort_array` gives the vectors), not `compareTo`, which in
    * Spark 4.1 checks a system property and an environment variable on
    * every call before delegating to the same byte compare.
    */
  def sparseDotW(a: ArrayData, b: ArrayData): Double = {
    var i = 0; var j = 0; var s = 0.0
    val na = a.numElements(); val nb = b.numElements()
    while (i < na && j < nb) {
      val sa = a.getStruct(i, 2); val sb = b.getStruct(j, 2)
      val c = sa.getUTF8String(0).binaryCompare(sb.getUTF8String(0))
      if (c == 0) { s += sa.getDouble(1) * sb.getDouble(1); i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    s
  }

  /** Sign-LSH bucket of Charikar's random-hyperplane scheme with the
    * deterministic rational planes r(b,j) = ((709b + 1013j) mod 97 − 48)/48.
    * Term order and grouping — (c/48.0) * x, left-to-right accumulation —
    * match the DuckDB oracle's fold exactly, so bucket assignment is
    * bitwise cross-engine. An empty vector dots to 0 on every plane
    * (no strict positive) → bucket 0.
    */
  def lshBucket(emb: ArrayData, nBits: Int): Long = {
    var bucket = 0L
    val n = emb.numElements()
    var b = 0
    while (b < nBits) {
      var s = 0.0
      var j = 0
      while (j < n) {
        val c = ((b * 709 + j * 1013) % 97 - 48).toDouble / 48.0
        s += c * emb.getFloat(j).toDouble
        j += 1
      }
      if (s > 0.0) bucket |= (1L << b)
      b += 1
    }
    bucket
  }

  /** SQ8 dequantized vector: per element, quantize x to the 8-bit level
    * q = ⌊(x−mn)/(mx−mn)·255 + 0.5⌋ against the per-dimension (mn, mx)
    * arrays, then decode to mn + q/255·(mx−mn) as FLOAT. Every double op
    * is in the oracle's exact order (subtract, divide, scale, add-half,
    * floor; then mn + (q/255)·(mx−mn)), and the final float cast
    * collapses both engines' doubles to the same 32-bit value.
    */
  def sq8Dequant(emb: ArrayData, mns: ArrayData, mxs: ArrayData): ArrayData = {
    val n = emb.numElements()
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      val x = emb.getFloat(i).toDouble
      val mn = mns.getFloat(i).toDouble
      val mx = mxs.getFloat(i).toDouble
      val q = if (mx > mn) math.floor((x - mn) / (mx - mn) * 255.0 + 0.5) else 0.0
      out(i) = (mn + q / 255.0 * (mx - mn)).toFloat
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The PERSISTED-code split of [[sq8Dequant]] (r15 — the quantized
    * serving layout): encode emits the 8-bit level per dimension as
    * one byte (binary column, 1 byte/dim on disk vs 4 for fp32);
    * decode reverses it. decode(encode(x)) is BIT-IDENTICAL to
    * sq8Dequant(x): both compute the same q and the same
    * mn + q/255·(mx−mn) float, so every recall/parity statement about
    * the in-memory SQ8 ranking transfers to the stored-codes ranking
    * verbatim.
    */
  def sq8Encode(emb: ArrayData, mns: ArrayData, mxs: ArrayData): Array[Byte] = {
    val n = emb.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val x = emb.getFloat(i).toDouble
      val mn = mns.getFloat(i).toDouble
      val mx = mxs.getFloat(i).toDouble
      val q = if (mx > mn) math.floor((x - mn) / (mx - mn) * 255.0 + 0.5) else 0.0
      out(i) = q.toInt.toByte // 0..255 wraps to a signed byte; decode masks back
      i += 1
    }
    out
  }

  def sq8Decode(codes: Array[Byte], mns: ArrayData, mxs: ArrayData): ArrayData = {
    val n = codes.length
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      val q = (codes(i) & 0xFF).toDouble
      val mn = mns.getFloat(i).toDouble
      val mx = mxs.getFloat(i).toDouble
      out(i) = (mn + q / 255.0 * (mx - mn)).toFloat
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Codegen'd cosine similarity — a native Catalyst Expression so the
  * k-NN scan stays inside whole-stage codegen (a Scala UDF here would
  * break codegen and serialize rows on the 100 TB hot path).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorImpl.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorImpl.cosine($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

/** Codegen'd raw dot product (sequential left-to-right accumulation —
  * the oracle's fold order). Callers pair it with precomputed norms as
  * `dot / (nmA * nmB)` to get [[CosineSim]]'s exact doubles at a third
  * of the per-pair flops.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorImpl.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorImpl.dot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
  override def prettyName: String = "dot_product"
}

/** [[DotProduct]] over Array[Double] columns. */
case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorImpl.dotD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorImpl.dotD($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProductD =
    copy(left = l, right = r)
  override def prettyName: String = "dot_product_d"
}

/** Codegen'd squared L2 norm. */
case class Norm2(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any): Any =
    VectorImpl.norm2(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorImpl.norm2($a)")
  override protected def withNewChildInternal(c: Expression): Norm2 = copy(child = c)
  override def prettyName: String = "norm2"
}

/** [[Norm2]] over Array[Double] columns. */
case class Norm2D(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any): Any =
    VectorImpl.norm2D(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorImpl.norm2D($a)")
  override protected def withNewChildInternal(c: Expression): Norm2D = copy(child = c)
  override def prettyName: String = "norm2_d"
}

/** Codegen'd sparse term-weight dot ([[VectorImpl.sparseDotW]]) — the
  * per-pair rescore kernel of the tf-idf cosine family.
  */
case class SparseDotW(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorImpl.sparseDotW(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorImpl.sparseDotW($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SparseDotW =
    copy(left = l, right = r)
  override def prettyName: String = "sparse_dot_w"
}

/** Codegen'd sign-LSH bucket assignment — the whole nBits-plane loop in
  * one kernel call, replacing an interpreted `aggregate` lambda per row
  * per hyperplane (the SURVEY §3 no-interpreted-hot-loop rule).
  */
case class LshBucket(child: Expression, nBits: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any): Any =
    VectorImpl.lshBucket(a.asInstanceOf[ArrayData], nBits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorImpl.lshBucket($a, $nBits)")
  override protected def withNewChildInternal(c: Expression): LshBucket = copy(child = c)
  override def prettyName: String = "lsh_bucket"
}

/** Codegen'd SQ8 quantize→dequantize against broadcast per-dimension
  * (mn, mx) arrays — one kernel call per row instead of an interpreted
  * `transform` lambda with per-element `element_at`.
  */
case class Sq8Dequant(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullSafeEval(e: Any, mn: Any, mx: Any): Any =
    VectorImpl.sq8Dequant(e.asInstanceOf[ArrayData],
      mn.asInstanceOf[ArrayData], mx.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (e, mn, mx) => s"graft.functions.VectorImpl.sq8Dequant($e, $mn, $mx)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Sq8Dequant =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "sq8_dequant"
}

/** Codegen'd SQ8 encode: embedding → one byte per dimension (the
  * persisted form of the quantized serving layout; [[Sq8Decode]]
  * reverses it and decode∘encode ≡ [[Sq8Dequant]] bit for bit).
  */
case class Sq8Encode(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def nullSafeEval(e: Any, mn: Any, mx: Any): Any =
    VectorImpl.sq8Encode(e.asInstanceOf[ArrayData],
      mn.asInstanceOf[ArrayData], mx.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (e, mn, mx) => s"graft.functions.VectorImpl.sq8Encode($e, $mn, $mx)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Sq8Encode =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "sq8_encode"
}

/** Codegen'd SQ8 decode: stored byte codes → the dequantized float
  * vector ([[Sq8Encode]]'s inverse up to quantization).
  */
case class Sq8Decode(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullSafeEval(c: Any, mn: Any, mx: Any): Any =
    VectorImpl.sq8Decode(c.asInstanceOf[Array[Byte]],
      mn.asInstanceOf[ArrayData], mx.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, mn, mx) => s"graft.functions.VectorImpl.sq8Decode($c, $mn, $mx)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Sq8Decode =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "sq8_decode"
}

object VectorFns {
  def cosineSim(a: Column, b: Column): Column =
    GraftBridge.column(
      CosineSim(GraftBridge.expression(a), GraftBridge.expression(b)))

  def dot(a: Column, b: Column): Column =
    GraftBridge.column(
      DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))

  def dotD(a: Column, b: Column): Column =
    GraftBridge.column(
      DotProductD(GraftBridge.expression(a), GraftBridge.expression(b)))

  def norm2D(a: Column): Column =
    GraftBridge.column(Norm2D(GraftBridge.expression(a)))

  def norm2(a: Column): Column =
    GraftBridge.column(Norm2(GraftBridge.expression(a)))

  def sparseDotW(a: Column, b: Column): Column =
    GraftBridge.column(
      SparseDotW(GraftBridge.expression(a), GraftBridge.expression(b)))

  def lshBucket(emb: Column, nBits: Int): Column =
    GraftBridge.column(LshBucket(GraftBridge.expression(emb), nBits))

  def sq8Dequant(emb: Column, mns: Column, mxs: Column): Column =
    GraftBridge.column(Sq8Dequant(GraftBridge.expression(emb),
      GraftBridge.expression(mns), GraftBridge.expression(mxs)))

  def sq8Encode(emb: Column, mns: Column, mxs: Column): Column =
    GraftBridge.column(Sq8Encode(GraftBridge.expression(emb),
      GraftBridge.expression(mns), GraftBridge.expression(mxs)))

  def sq8Decode(codes: Column, mns: Column, mxs: Column): Column =
    GraftBridge.column(Sq8Decode(GraftBridge.expression(codes),
      GraftBridge.expression(mns), GraftBridge.expression(mxs)))
}
