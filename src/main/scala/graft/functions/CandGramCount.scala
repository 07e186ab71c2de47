package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document exact recount of Misra-Gries CANDIDATE n-grams — the
  * second pass of the two-pass heavy-hitters composition
  * (`heavy_hitters`) as one narrow kernel (r21, guide §2.3/§4): the
  * candidate set is metadata-scale (≤ k·|langs| rows) and was already
  * broadcast for the recount join; collecting it instead and probing
  * each document's grams against the per-lang candidate index in-row
  * replaces the CharGrams-array + posexplode + broadcast-join pipeline
  * (one row and one join probe per gram OCCURRENCE — the measured whole
  * cost of the key: r21 stage profile `hh:recount` 1.92 s of `hh:full`
  * 1.92 s at sf0.1, commit b952ce9) with a zero-copy walk that emits ONE
  * row per (doc,
  * candidate-present) pair. The downstream exact aggregation is
  * unchanged in value: summing per-doc counts per (lang, gram) equals
  * counting occurrences per (lang, gram) — QueriesSpec pins identity
  * against the join form, and the key's oracle row is unchanged.
  */
object CandGramCount {

  /** Candidate table in broadcast form: per lang, the candidate grams.
    * The per-executor index maps lang → (gram → slot, gram array).
    */
  final case class CandTable(langs: Array[String], grams: Array[Array[String]]) {
    @transient lazy val index: java.util.HashMap[String,
        (java.util.HashMap[UTF8String, Integer], Array[UTF8String])] = {
      val m = new java.util.HashMap[String,
        (java.util.HashMap[UTF8String, Integer], Array[UTF8String])](langs.length * 2)
      var i = 0
      while (i < langs.length) {
        val gs = grams(i)
        val gm = new java.util.HashMap[UTF8String, Integer](gs.length * 2)
        val ga = new Array[UTF8String](gs.length)
        var j = 0
        while (j < gs.length) {
          ga(j) = UTF8String.fromString(gs(j))
          gm.put(ga(j), Integer.valueOf(j))
          j += 1
        }
        m.put(langs(i), (gm, ga))
        i += 1
      }
      m
    }
  }

  def cand_gram_count(text: Column, lang: Column,
      table: Broadcast[CandTable], n: Int): Column =
    GraftShim.column(CandGramCount(
      GraftShim.expression(text), GraftShim.expression(lang), table, n))
}

/** `(text, lang) → array<struct<gram, cnt>>`: occurrence counts of the
  * broadcast candidate grams of `lang` within `text`'s n-grams (code
  * point windows, the [[CharGrams]] unit). Docs with no candidate
  * occurrence (or a lang with no candidates) return an empty array.
  */
case class CandGramCount(left: Expression, right: Expression,
    table: Broadcast[CandGramCount.CandTable], gramN: Int)
    extends BinaryExpression with CodegenFallback {
  require(gramN >= 1, s"gramN=$gramN must be positive")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("gram", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false))), containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cand_gram_count"
  override def toString: String = s"cand_gram_count($left, $right, n=$gramN)"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cand_gram_count requires (STRING, STRING), got (${l.simpleString}, ${r.simpleString})")
    }

  protected override def nullSafeEval(textAny: Any, langAny: Any): Any = {
    val entry = table.value.index.get(langAny.asInstanceOf[UTF8String].toString)
    if (entry == null) return new GenericArrayData(Array.empty[Any])
    val (gm, ga) = entry
    val bytes = textAny.asInstanceOf[UTF8String].getBytes
    val starts = new Array[Int](bytes.length + 1)
    var m = 0
    var i = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0xC0) != 0x80) { starts(m) = i; m += 1 }
      i += 1
    }
    starts(m) = bytes.length
    val n = gramN
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val counts = new Array[Long](ga.length)
    var any = 0
    var g = 0
    while (g <= m - n) {
      val hit = gm.get(UTF8String.fromBytes(bytes, starts(g), starts(g + n) - starts(g)))
      if (hit != null) {
        if (counts(hit.intValue()) == 0L) any += 1
        counts(hit.intValue()) += 1L
      }
      g += 1
    }
    if (any == 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](any)
    var o = 0
    var c = 0
    while (c < counts.length) {
      if (counts(c) > 0L) {
        val row = new GenericInternalRow(2)
        row.update(0, ga(c))
        row.setLong(1, counts(c))
        out(o) = row
        o += 1
      }
      c += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CandGramCount =
    copy(left = newLeft, right = newRight)
}
