package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries frequent-items sketch as a mergeable aggregate — the
  * bounded-state scale path for "which items dominate this stream".
  *
  * The buffer holds AT MOST k counters regardless of input size, so
  * map-side partial aggregation reduces every task's slice to <=k
  * (item, est) pairs before the exchange: the shuffle carries
  * |groups| x |tasks| x k rows where an exact `groupBy(item)` must move
  * the ENTIRE distinct-item domain (the full vocabulary — billions of
  * distinct n-grams at 100 TB). Update is the classic stream step
  * (Misra & Gries 1982): increment a live counter, claim a free slot, or
  * decrement ALL k counters when the arrival has no slot (each such round
  * retires k+1 count units, so decrements happen at most n/(k+1) times —
  * amortized O(1) per row). Merge is the mergeable-summaries form
  * (Agarwal, Cormode, Huang, Phillips, Wei, Yi, PODS 2012): add counters
  * pointwise, then subtract the (k+1)-th largest count from every counter
  * and drop the non-positive — the two error terms ADD, so the combined
  * sketch keeps the same bound as a single pass.
  *
  * Guarantees (merge-ORDER-INDEPENDENT, which is what makes the sketch
  * usable under Spark's nondeterministic partial-agg tree — the candidate
  * SET itself may vary between runs, only these bounds may be relied on):
  *   - est(x) <= true(x)                      (never overcounts)
  *   - est(x) >= true(x) - n/(k+1)            (n = group's total rows)
  *   - any x with true(x) > n/(k+1) has est(x) > 0, i.e. IS in the sketch.
  * A deterministic exact answer therefore needs the standard second pass:
  * recount ONLY the <=k candidates exactly (a broadcast semi-join — tiny),
  * then threshold on the exact counts; the superset guarantee makes the
  * candidate restriction lossless. `heavy_hitters` in TextOps is that
  * composition.
  *
  * Values are `java.lang.Long` boxes, NOT scala Long: a Scala-primitive
  * value type would silently unbox an absent key's null to 0 and make
  * `get` unable to signal absence (the r16 BpeEncode rank-map bug).
  */
case class MisraGries(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MisraGries.Buf] {

  require(k > 0, "k must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def prettyName: String = "misra_gries"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"misra_gries requires a STRING item, got ${t.simpleString}")
  }

  // (item, est) pairs sorted by item — est is the LOWER-BOUND estimate
  // documented above, surfaced so callers can assert the error bound;
  // deterministic consumers must recount and use est only as a bound
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("est", LongType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): MisraGries.Buf = new MisraGries.Buf(k)

  override def update(buf: MisraGries.Buf, input: InternalRow): MisraGries.Buf = {
    val v = child.eval(input)
    // null items carry no frequency information; skipping keeps n = the
    // count of NON-NULL rows, which is also what the recount pass counts
    if (v != null) buf.add(v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(buf: MisraGries.Buf, other: MisraGries.Buf): MisraGries.Buf = {
    buf.mergeIn(other)
    buf
  }

  override def eval(buf: MisraGries.Buf): Any = {
    val items = buf.entries.toArray.sortBy(_._1)
    new GenericArrayData(items.map { case (s, c) =>
      InternalRow(UTF8String.fromString(s), c): Any
    })
  }

  override def serialize(buf: MisraGries.Buf): Array[Byte] = {
    val es = buf.entries
    var bytes = 4
    val enc = es.map { case (s, c) =>
      val b = s.getBytes(StandardCharsets.UTF_8); bytes += 4 + b.length + 8; (b, c)
    }
    val bb = ByteBuffer.allocate(bytes)
    bb.putInt(enc.length)
    enc.foreach { case (b, c) => bb.putInt(b.length); bb.put(b); bb.putLong(c) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MisraGries.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new MisraGries.Buf(k)
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val b = new Array[Byte](len); bb.get(b)
      buf.put(new String(b, StandardCharsets.UTF_8), bb.getLong)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGries =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGries =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): MisraGries =
    copy(child = newChildren(0))
}

/** [[MisraGries]] over the code-point n-GRAMS of a STRING column — the
  * candidate pass of `heavy_hitters` without materializing one row (and
  * one array cell) per gram occurrence (r22, guide §2.3 aggregate-before-
  * shuffle + §4 expressions): `explode(char_grams(text, n))` feeding
  * `misra_gries(gram, k)` generates ~1 row per corpus char through the
  * aggregation hash map (OPTIMIZATION_r22.md `hh2`: 0.36 s generate + 0.72 s
  * aggregate of the key's ~1.5 s at sf0.1); here update() walks the text's
  * UTF-8 bytes once per DOCUMENT row and feeds each gram straight into the
  * same <=k-counter buffer. Gram extraction is byte-for-byte
  * [[CharGrams]]' (code-point windows via the UTF-8 lead-byte walk), and
  * buffer/merge/eval are [[MisraGries]]'s verbatim — so the sketch bounds
  * are unchanged, and the candidate set differs from the exploded form's
  * only through stream order, which the bounds are independent of (the
  * superset guarantee is what `heavy_hitters`' exact recount relies on;
  * its OUTPUT is order-independent either way — pinned in QueriesSpec).
  */
case class MisraGriesGrams(
    child: Expression,
    k: Int,
    gramN: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MisraGries.Buf] {

  require(k > 0, "k must be positive")
  require(gramN > 0, "gramN must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def prettyName: String = "misra_gries_grams"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"misra_gries_grams requires a STRING text, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("est", LongType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): MisraGries.Buf = new MisraGries.Buf(k)

  override def update(buf: MisraGries.Buf, input: InternalRow): MisraGries.Buf = {
    val v = child.eval(input)
    if (v != null) {
      val bytes = v.asInstanceOf[UTF8String].getBytes
      // CharGrams' code-point index walk: continuation bytes are 10xxxxxx
      val starts = new Array[Int](bytes.length + 1)
      var m = 0
      var i = 0
      while (i < bytes.length) {
        if ((bytes(i) & 0xC0) != 0x80) { starts(m) = i; m += 1 }
        i += 1
      }
      starts(m) = bytes.length
      var g = 0
      while (g <= m - gramN) {
        buf.add(new String(bytes, starts(g), starts(g + gramN) - starts(g),
          StandardCharsets.UTF_8))
        g += 1
      }
    }
    buf
  }

  override def merge(buf: MisraGries.Buf, other: MisraGries.Buf): MisraGries.Buf = {
    buf.mergeIn(other)
    buf
  }

  override def eval(buf: MisraGries.Buf): Any = {
    val items = buf.entries.toArray.sortBy(_._1)
    new GenericArrayData(items.map { case (s, c) =>
      InternalRow(UTF8String.fromString(s), c): Any
    })
  }

  override def serialize(buf: MisraGries.Buf): Array[Byte] = {
    val es = buf.entries
    var bytes = 4
    val enc = es.map { case (s, c) =>
      val b = s.getBytes(StandardCharsets.UTF_8); bytes += 4 + b.length + 8; (b, c)
    }
    val bb = ByteBuffer.allocate(bytes)
    bb.putInt(enc.length)
    enc.foreach { case (b, c) => bb.putInt(b.length); bb.put(b); bb.putLong(c) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MisraGries.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new MisraGries.Buf(k)
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val b = new Array[Byte](len); bb.get(b)
      buf.put(new String(b, StandardCharsets.UTF_8), bb.getLong)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesGrams =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesGrams =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): MisraGriesGrams =
    copy(child = newChildren(0))
}

object MisraGries {

  /** <=k live counters. */
  final class Buf(val k: Int) {
    private val m = new java.util.HashMap[String, java.lang.Long](k * 2)

    def add(item: String): Unit = {
      val c = m.get(item)
      if (c ne null) m.put(item, java.lang.Long.valueOf(c.longValue() + 1L))
      else if (m.size < k) m.put(item, java.lang.Long.valueOf(1L))
      else {
        // no slot: the arrival and one unit of every counter annihilate
        val it = m.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val nv = e.getValue.longValue() - 1L
          if (nv <= 0L) it.remove() else e.setValue(java.lang.Long.valueOf(nv))
        }
      }
    }

    /** Deserialization fast path: counts are already aggregated. */
    def put(item: String, count: Long): Unit =
      m.put(item, java.lang.Long.valueOf(count))

    def mergeIn(other: Buf): Unit = {
      val it = other.m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = m.get(e.getKey)
        m.put(e.getKey, java.lang.Long.valueOf(
          (if (c eq null) 0L else c.longValue()) + e.getValue.longValue()))
      }
      if (m.size > k) {
        // subtract the (k+1)-th largest count everywhere, drop <=0: at most
        // k counts remain strictly above it (PODS 2012 merge rule)
        val counts = new Array[Long](m.size)
        var i = 0
        val vs = m.values().iterator()
        while (vs.hasNext) { counts(i) = vs.next().longValue(); i += 1 }
        java.util.Arrays.sort(counts)
        val cut = counts(counts.length - (k + 1)) // (k+1)-th largest
        val es = m.entrySet().iterator()
        while (es.hasNext) {
          val e = es.next()
          val nv = e.getValue.longValue() - cut
          if (nv <= 0L) es.remove() else e.setValue(java.lang.Long.valueOf(nv))
        }
      }
    }

    def entries: Seq[(String, Long)] = {
      val out = Seq.newBuilder[(String, Long)]
      val it = m.entrySet().iterator()
      while (it.hasNext) { val e = it.next(); out += ((e.getKey, e.getValue.longValue())) }
      out.result()
    }
  }

  /** Aggregate Column: ARRAY<STRUCT<item,est>> of <=k frequent-item
    * candidates with lower-bound estimates (see guarantee above).
    */
  def misra_gries(item: Column, k: Int): Column =
    GraftShim.column(
      MisraGries(GraftShim.expression(item), k).toAggregateExpression())

  /** Aggregate Column over the code-point `n`-grams of a STRING text
    * column — see [[MisraGriesGrams]].
    */
  def misra_gries_grams(text: Column, k: Int, n: Int): Column =
    GraftShim.column(
      MisraGriesGrams(GraftShim.expression(text), k, n).toAggregateExpression())
}
