package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Computes a k-permutation MinHash signature of a STRING array in one
  * pass: each element is xxhash64'd once, then k seeded integer re-hashes
  * update k running minima.
  *
  * Replaces the expression-only form
  * `transform(sequence(0,k-1), k -> aggregate(shingles, MAX, least(..)))`,
  * whose interpreted higher-order-function dispatch (k x |shingles| boxed
  * lambda calls per row — ~10M at sf0.1) dominated the dedup_minhash
  * stage. One JIT'd loop per row instead. Deterministic (seed 42 like
  * Spark's xxhash64 SQL function, then plane index as the re-hash seed).
  */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires an ARRAY<STRING> argument, got ${other.simpleString}")
  }

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sig = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val b = s.getBytes
        val h0 = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
        var j = 0
        while (j < k) {
          val hj = XXH64.hashLong(h0, j.toLong)
          if (hj < sig(j)) sig(j) = hj
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  def minhash_sig(c: Column, k: Int): Column =
    GraftShim.column(MinHashSig(GraftShim.expression(c), k))

  def minhash_shingle_sig(toks: Column, shingleN: Int, k: Int): Column =
    GraftShim.column(MinHashShingleSig(GraftShim.expression(toks), shingleN, k))
}

/** [[MinHashSig]] over the `shingleN`-token shingles of a TOKEN array,
  * with the shingles built on the fly (r22, guide §4): the Column form
  * `transform(sequence(1, greatest(size(toks)-2, 1)), i ->
  * concat_ws(' ', slice(toks, i, 3)))` materializes every shingle string
  * through interpreted higher-order-function dispatch before the
  * signature kernel hashes and discards it — measured as ~0.27 s of the
  * minhash stage at sf0.1 (OPTIMIZATION_r22.md `mh`), multiplied across the five
  * minhash keys and the streaming ingest gate. Here each shingle's UTF-8
  * bytes are assembled in a reused buffer and hashed in place.
  *
  * BIT-IDENTICAL to `minhash_sig(transform(...), k)` by construction —
  * the hash consumes the same bytes: shingle i (1-based, i ≤
  * max(n−shingleN+1, 1)) is tokens i..min(i+shingleN−1, n) joined by a
  * single 0x20, null tokens skipped without a separator (concat_ws
  * semantics), an empty join hashing as the empty string (concat_ws
  * returns '', never null). Same seed chain (XXH64 seed 42, then plane
  * index). Pinned against the Column-form chain in DedupSpec, and the
  * signature values feed the PERSISTED streaming signature index — bit
  * identity is what keeps old index rows and new probe rows comparable.
  */
case class MinHashShingleSig(child: Expression, shingleN: Int, k: Int)
    extends UnaryExpression with CodegenFallback {

  require(shingleN > 0, "shingleN must be positive")
  require(k > 0, "k must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_shingle_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_shingle_sig requires an ARRAY<STRING> argument, got ${other.simpleString}")
  }

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val numSh = math.max(n - shingleN + 1, 1)
    val sig = Array.fill(k)(Long.MaxValue)
    var buf = new Array[Byte](64)
    var i = 0
    while (i < numSh) {
      var len = 0
      // an explicit first-element flag, NOT len > 0: concat_ws separates
      // every non-null pair, including after an empty-string token
      var first = true
      val end = math.min(i + shingleN, n)
      var t = i
      while (t < end) {
        val s = arr.getUTF8String(t)
        if (s != null) {
          val b = s.getBytes
          val need = len + b.length + 1
          if (need > buf.length) {
            val grown = new Array[Byte](math.max(need, buf.length * 2))
            System.arraycopy(buf, 0, grown, 0, len)
            buf = grown
          }
          if (!first) { buf(len) = ' '; len += 1 }
          System.arraycopy(b, 0, buf, len, b.length)
          len += b.length
          first = false
        }
        t += 1
      }
      val h0 = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, 42L)
      var j = 0
      while (j < k) {
        val hj = XXH64.hashLong(h0, j.toLong)
        if (hj < sig(j)) sig(j) = hj
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashShingleSig =
    copy(child = newChild)
}
