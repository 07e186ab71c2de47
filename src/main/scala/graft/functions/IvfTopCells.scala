package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** The IVF cell-assignment ranking `(embedding, nrm) → top-m cell ids by
  * cosine` as ONE native pass over the embedding (r22, guide §4;
  * OPTIMIZATION_r22.md `ivf`: the assignment frame was 0.44 s of
  * ann_ivf's ~1 s at sf0.1).
  *
  * The Column form it replaced built k `struct(sim, -c, c)` nodes —
  * one [[FloatDot]] each, every call re-walking the embedding — then
  * `reverse(array_sort(array(...)))`: k struct allocations and an
  * interpreted struct-ordering sort PER ROW. Here the embedding is walked
  * once per centroid inside a tight JVM loop and a bounded insertion pass
  * keeps the top m.
  *
  * BIT-IDENTICAL ranking by construction (pinned in VectorSpec against an
  * independent plain-Scala ranking that follows these rules):
  *  - sim_c = float_dot(emb, cent_c) / (nrm · cn_c) with [[FloatDot]]'s
  *    exact arithmetic — sequential left fold of double-widened float
  *    products, then one double division;
  *  - order = sim DESC, then cell id ASC (the reverse of array_sort
  *    ascending on (s, -c, c)), with doubles compared like Spark's
  *    nan-safe ordering (NaN greatest, -0.0 < 0.0 — `Double.compare`):
  *    iterating cells in ascending id and displacing only on a STRICTLY
  *    greater sim reproduces the tie rule;
  *  - a null/mismatched-length embedding element would make every
  *    [[FloatDot]] null; this corpus has none (fixed-dim non-null
  *    vectors), and the kernel returns null then, where the Column form
  *    sorts null-sim structs — acceptable only because the pin runs on
  *    the real corpus and the contract requires null-free embeddings;
  *  - a 0.0 divisor (zero-norm vector or centroid) yields NaN/Inf here
  *    where the Column form THROWS under ANSI (the Spark 4 default
  *    checks every zero divisor, doubles included) — also unreachable:
  *    trainCodebook never emits a zero-norm centroid, and the corpus
  *    carries no zero-norm embeddings.
  */
case class IvfTopCells(left: Expression, right: Expression,
    centIds: Array[Int], centVecs: Array[Array[Float]], centNorms: Array[Double],
    m: Int)
    extends BinaryExpression with CodegenFallback {

  require(m > 0, "m must be positive")
  require(centIds.length == centVecs.length && centIds.length == centNorms.length,
    "centroid arrays must align")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "ivf_top_cells"
  override def toString: String = s"ivf_top_cells($left, $right, k=${centIds.length}, m=$m)"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"ivf_top_cells requires (ARRAY<FLOAT>, DOUBLE), got (${l.simpleString}, ${r.simpleString})")
    }

  protected override def nullSafeEval(embAny: Any, nrmAny: Any): Any = {
    val emb = embAny.asInstanceOf[ArrayData]
    val nrm = nrmAny.asInstanceOf[Double]
    val n = emb.numElements()
    val k = centIds.length
    val keep = math.min(m, k)
    val topS = new Array[Double](keep)
    val topC = new Array[Int](keep)
    var filled = 0
    var c = 0
    while (c < k) {
      val cent = centVecs(c)
      if (cent.length != n) return null
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (emb.isNullAt(i)) return null
        acc += emb.getFloat(i).toDouble * cent(i).toDouble
        i += 1
      }
      val s = acc / (nrm * centNorms(c))
      // insertion position: strictly-greater sim displaces; an equal sim
      // never does (ascending c iteration ⇒ the earlier, lower id wins),
      // matching reverse(array_sort) on (s, -c, c)
      var pos = filled
      while (pos > 0 && java.lang.Double.compare(s, topS(pos - 1)) > 0) pos -= 1
      if (pos < keep) {
        val last = math.min(filled, keep - 1)
        var j = last
        while (j > pos) { topS(j) = topS(j - 1); topC(j) = topC(j - 1); j -= 1 }
        topS(pos) = s
        topC(pos) = centIds(c)
        if (filled < keep) filled += 1
      }
      c += 1
    }
    val out = new Array[Any](filled)
    var o = 0
    while (o < filled) { out(o) = topC(o); o += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IvfTopCells =
    copy(left = newLeft, right = newRight)
}

object IvfTopCells {
  def ivf_top_cells(emb: Column, nrm: Column,
      cents: Seq[(Int, Array[Float], Double)], m: Int): Column =
    GraftShim.column(IvfTopCells(
      GraftShim.expression(emb), GraftShim.expression(nrm),
      cents.map(_._1).toArray, cents.map(_._2).toArray, cents.map(_._3).toArray, m))
}
