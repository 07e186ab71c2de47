package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Product-quantization encode as a native expression: normalize the
  * ARRAY<FLOAT> vector, then per subspace return the argmin-L2 centroid
  * id over the bound codebooks — `codes(s) = argmin_c |c|² − 2·v'_s·c`
  * (the |v'_s|² term is constant across the argmin), ties to the lower
  * id.
  *
  * Why native ([[WinnowSelect]]/[[BpeEncode]] precedent): the same
  * encode as Column algebra materializes S·ks literal-centroid
  * [[FloatDot]] calls under a `least` over ks structs — at the paper's
  * ks=256 that is a 2048-term expression tree which EXCEEDS the janino
  * method limit, so whole-stage codegen fails and every row pays
  * interpreted dispatch over 2048 boxed nodes (measured 34 s for the
  * sf0.1 `ann_pq` scan). This runs the identical arithmetic as three
  * tight primitive loops (norm fold, subspace dots, argmin) —
  * per-vector cost S·ks·d ≈ 16k mult-adds, microseconds — and is pinned
  * BIT-IDENTICAL in VectorSpec to an independent plain-Scala encode with
  * the Column form's rules: same double widening, same fold order, same
  * divide-then-round-to-float normalization, same `dd` expression, same
  * tie rule as `least(struct(dd, c))`.
  *
  * The codebooks ride the expression as a bound constant (ks·S·d floats
  * ≈ 64 KB — shipped once per task with the serialized plan, the
  * [[BpeEncode]] merge-table stance, not a per-row join). They are held
  * as nested IndexedSeq, NOT arrays: case-class equality over arrays is
  * reference-based, so two logically identical encodes would never
  * compare equal and canonicalization/subexpression reuse could not
  * collapse them (r16 ADVICE; BpeEncode's Seq merge table is the same
  * stance). The eval loops read a lazily materialized primitive-array
  * mirror. Input length must be exactly S·d; anything else yields NULL
  * (a fail-loud schema drift signal, matching FloatDot's
  * length-mismatch contract).
  */
case class PqEncode(child: Expression, books: IndexedSeq[IndexedSeq[IndexedSeq[Float]]])
    extends UnaryExpression with CodegenFallback {
  require(books.nonEmpty && books.forall(_.nonEmpty), "PqEncode needs non-empty codebooks")

  private val nSub = books.length
  private val subDim = books(0)(0).length

  // primitive-array mirror for the tight eval loops (built once per task)
  @transient private lazy val booksArr: Array[Array[Array[Float]]] =
    books.map(_.map(_.toArray).toArray).toArray

  // |c|² per (subspace, centroid), precomputed once per task — a
  // sequential double sum in centroid order
  @transient private lazy val cn2: Array[Array[Double]] =
    booksArr.map(_.map(_.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)))

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode"
  // the default case-class toString would print every codebook float
  // into plan strings/explain output
  override def toString: String = s"pq_encode($child)"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_encode requires an ARRAY<FLOAT> argument, got ${t.simpleString}")
  }

  protected override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val dim = a.numElements()
    if (dim != nSub * subDim) return null
    val v = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      if (a.isNullAt(i)) return null
      v(i) = a.getFloat(i)
      i += 1
    }
    // normalization: double fold in array order (FloatDot semantics),
    // sqrt, divide, round to float; a zero-norm vector encodes raw
    var acc = 0.0
    i = 0
    while (i < dim) { acc += v(i).toDouble * v(i).toDouble; i += 1 }
    val nrm = math.sqrt(acc)
    if (nrm > 0.0) {
      i = 0
      while (i < dim) { v(i) = (v(i).toDouble / nrm).toFloat; i += 1 }
    }
    val codes = new Array[Int](nSub)
    var s = 0
    while (s < nSub) {
      val book = booksArr(s)
      val off = s * subDim
      var best = 0
      var bestDd = Double.MaxValue
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var dot = 0.0
        var j = 0
        while (j < subDim) { dot += v(off + j).toDouble * cent(j).toDouble; j += 1 }
        val dd = cn2(s)(c) - 2.0 * dot
        if (dd < bestDd) { bestDd = dd; best = c } // strict <: ties keep the lower id
        c += 1
      }
      codes(s) = best
      s += 1
    }
    ArrayData.toArrayData(codes)
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** The per-query ADC lookup table as a native expression:
  * `lut(s)(c) = q_s · book(s)(c)` over the RAW (un-normalized) query
  * vector — S·ks subspace dots per query row, each the [[FloatDot]]
  * double fold in array order. Same motivation as [[PqEncode]]: the
  * Column form is an S·ks-literal tree (2048 nodes at ks=256) that the
  * driver re-analyzes on every execution — several seconds of pure
  * plan overhead per run for a 10-row query frame (measured: the
  * `ann_pq` keys at 3.8 s when everything data-side was already
  * milliseconds). One opaque node fixes the plan cost; the row cost
  * (16k mult-adds) was never the problem. Bit-identity to a plain-Scala
  * LUT is pinned in VectorSpec. NULL on length mismatch or null
  * elements, as FloatDot. Books as IndexedSeq for structural equality,
  * as [[PqEncode]].
  */
case class PqLut(child: Expression, books: IndexedSeq[IndexedSeq[IndexedSeq[Float]]])
    extends UnaryExpression with CodegenFallback {
  require(books.nonEmpty && books.forall(_.nonEmpty), "PqLut needs non-empty codebooks")

  private val nSub = books.length
  private val subDim = books(0)(0).length

  @transient private lazy val booksArr: Array[Array[Array[Float]]] =
    books.map(_.map(_.toArray).toArray).toArray

  override def dataType: DataType =
    ArrayType(ArrayType(org.apache.spark.sql.types.DoubleType, containsNull = false),
      containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "pq_lut"
  override def toString: String = s"pq_lut($child)"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_lut requires an ARRAY<FLOAT> argument, got ${t.simpleString}")
  }

  protected override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val dim = a.numElements()
    if (dim != nSub * subDim) return null
    val v = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      if (a.isNullAt(i)) return null
      v(i) = a.getFloat(i)
      i += 1
    }
    val lut = new Array[ArrayData](nSub)
    var s = 0
    while (s < nSub) {
      val book = booksArr(s)
      val off = s * subDim
      val row = new Array[Double](book.length)
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var dot = 0.0
        var j = 0
        while (j < subDim) { dot += v(off + j).toDouble * cent(j).toDouble; j += 1 }
        row(c) = dot
        c += 1
      }
      lut(s) = ArrayData.toArrayData(row)
      s += 1
    }
    ArrayData.toArrayData(lut)
  }

  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(child = newChild)
}

object PqEncode {
  private def structural(books: Array[Array[Array[Float]]])
      : IndexedSeq[IndexedSeq[IndexedSeq[Float]]] =
    books.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq

  def pq_encode(vec: Column, books: Array[Array[Array[Float]]]): Column =
    GraftShim.column(PqEncode(GraftShim.expression(vec), structural(books)))

  def pq_lut(vec: Column, books: Array[Array[Array[Float]]]): Column =
    GraftShim.column(PqLut(GraftShim.expression(vec), structural(books)))
}
