package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One spec per declared operator: every key in SparkEntry.queries must
  * materialize at sf0.001, plus targeted semantic invariants for keys whose
  * correctness is not fully captured by row counts. (Exact value parity vs
  * DuckDB is the driver's gate — scripts/check.py; these are the fast local
  * regression net.)
  */
class QueriesSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // Keys allowed to be empty at this scale (filters that may select nothing).
  private val mayBeEmpty = Set("join_anti", "embed_neardup", "embed_neardup_lsh",
    "dedup_jaccard", "dedup_minhash", "dedup_simhash_pairs")

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name materializes at sf0.001") {
      val df = fn(spark, sfDir)
      assert(df.columns.nonEmpty, "no columns")
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("oracle SQL exists for every key except the declared non-SQL ops") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle == Set("bpe_merges", "bpe_encode", "dedup_minhash", "dedup_simhash", "dedup_simhash_pairs",
      "dedup_clusters_minhash", "dedup_keep_best_minhash", "dedup_clusters_simhash",
      "ann_lsh", "ann_lsh_indexed", "ann_ivf",
      "ann_ivf_indexed", "ann_pq", "ann_pq_indexed", "ann_ivfpq", "ann_ivfpq_indexed",
      "embed_neardup_lsh", "embed_clusters_lsh",
      "multimodal_features", "multimodal_neardup", "multimodal_clusters",
      "near_dup_edit_minhash",
      "chunk_pack", "pack_sequences",
      "dup_spans_winnow", "decontaminate_spans_winnow", "charlm_quality", "quality_buckets",
      "quality_compress", "corpus_curate_full"),
      s"unexpected oracle-less keys: $noOracle")
  }

  test("heavy_hitters: sketch+recount equals the exact full-domain answer (sf0.001 and sf0.01)") {
    // the declared key's correctness rests on the Misra-Gries superset
    // guarantee making the candidate restriction lossless; pin it against
    // an independent exact computation that never sees the sketch
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val out = SparkEntry.queries("heavy_hitters")(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      assert(out.nonEmpty, "no heavy hitters found — threshold degenerate at this SF")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select("lang", "text").collect().map(r => (r.getString(0), r.getString(1)))
      val grams = docs.filter(_._2.length >= 3)
        .flatMap { case (l, t) => (0 to t.length - 3).map(i => (l, t.substring(i, i + 3))) }
      val nByLang = grams.groupBy(_._1).map { case (l, xs) => l -> xs.length.toLong }
      val exact = grams.groupBy(identity).map { case ((l, g), xs) => (l, g, xs.length.toLong) }
        .filter { case (l, _, c) => c * 128L > nByLang(l) }
        .toSeq
      // ranks are per-lang; rebuild them from the exact set
      val exactRanked = exact.groupBy(_._1).toSeq.flatMap { case (l, xs) =>
        xs.sortBy { case (_, g, c) => (-c, g) }.zipWithIndex.map { case ((_, g, c), i) =>
          (l, (i + 1).toLong, g, c, nByLang(l), c * 1000000L / nByLang(l))
        }
      }.sortBy { case (l, r, _, _, _, _) => (l, r) }
      assert(out.toSeq == exactRanked,
        s"sketch+recount diverged from exact at $dir")
      // the sketch genuinely engaged: more distinct grams than k slots
      val distinct = grams.distinct.length
      assert(distinct > 127, s"degenerate test: only $distinct distinct grams")
    }
  }

  /** The r7-r20 broadcast-join recount form of `TextOps.heavyHittersOf`:
    * candidates from the exploded-gram Misra-Gries sketch, exact counts by
    * joining every gram occurrence back onto them. The independent
    * implementation the kernel recount is pinned row-identical against.
    */
  private def heavyHittersJoinFormOf(d: DataFrame): DataFrame = {
    import graft.functions.MisraGries.misra_gries
    import org.apache.spark.sql.expressions.Window
    val k = 127
    val grams = d
      .filter(length(col("text")) >= 3)
      .select(col("lang"),
        explode(graft.functions.CharGrams.char_grams(col("text"), 3)).as("gram"))
    val cand = grams.groupBy("lang")
      .agg(misra_gries(col("gram"), k).as("cands"), count(lit(1)).as("n"))
      .select(col("lang"), col("n"), explode(col("cands")).as("c"))
      .select(col("lang"), col("n"), col("c.item").as("gram"))
    val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("gram"))
    grams.join(broadcast(cand), Seq("lang", "gram"))
      .groupBy("lang", "gram", "n").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * (k + 1) > col("n"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("share_ppm", expr("cnt * 1000000 DIV n"))
      .select("lang", "rank", "gram", "cnt", "n", "share_ppm")
      .orderBy("lang", "rank")
  }

  test("heavy_hitters kernel recount ≡ join-form recount, incl. non-ASCII langs (r21)") {
    import spark.implicits._
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val d = spark.read.parquet(s"$dir/documents.parquet").select("lang", "text")
      val k = graft.operators.TextOps.heavyHittersOf(d).collect().map(_.toSeq).toSeq
      val j = heavyHittersJoinFormOf(d).collect().map(_.toSeq).toSeq
      assert(k == j, s"kernel/join heavy_hitters outputs differ at $dir")
      assert(k.nonEmpty, "pin is vacuous")
    }
    // multi-script fixture: candidate grams with 2-4 byte code points
    val rnd = new scala.util.Random(42)
    val alphabets = Seq("абвг", "日本語中", "😀😁a")
    val docs = (1 to 120).map { i =>
      val a = alphabets(i % 3)
      val nCp = a.codePointCount(0, a.length)
      val t = (0 until 40 + rnd.nextInt(60)).map(_ => new String(Character.toChars(
        a.codePointAt(a.offsetByCodePoints(0, rnd.nextInt(nCp)))))).mkString
      (s"l${i % 3}", t)
    }.toDF("lang", "text")
    val k2 = graft.operators.TextOps.heavyHittersOf(docs).collect().map(_.toSeq).toSeq
    val j2 = heavyHittersJoinFormOf(docs).collect().map(_.toSeq).toSeq
    assert(k2 == j2, s"kernel/join differ on multi-script langs: kernel=${k2.take(3)} join=${j2.take(3)}")
    assert(k2.nonEmpty, "multi-script pin vacuous")
  }

  test("char_grams ≡ the transform/substring Column form ≡ String.codePoints reference, incl. non-ASCII") {
    import graft.functions.CharGrams.char_grams
    import org.apache.spark.sql.functions.{col, expr}
    import spark.implicits._
    // the strings that distinguish byte-, UTF-16-, and code-point-gram
    // semantics: multi-byte UTF-8 (accents, CJK) and supplementary-plane
    // emoji (surrogate PAIRS in UTF-16, one code point each)
    val cases = Seq("", "ab", "abc", "abcd", "héllo wörld", "中文分词测试",
      "a😀b😀c", "😀😁😂")
    for (n <- Seq(1, 2, 3, 5)) {
      val df = cases.toDF("text")
        .select(col("text"), char_grams(col("text"), n).as("native"),
          expr(s"CASE WHEN length(text) >= $n THEN " +
            s"transform(sequence(1, length(text) - ${n - 1}), i -> substring(text, i, $n)) " +
            "ELSE array() END").as("column_form"))
        .collect()
      df.foreach { r =>
        val text = r.getString(0)
        val native = r.getSeq[String](1)
        val columnForm = r.getSeq[String](2)
        val cps = text.codePoints().toArray
        val ref = (0 to cps.length - n).map(i => new String(cps, i, n))
        assert(native == ref, s"native vs codePoints ref for '$text' n=$n")
        assert(native == columnForm, s"native vs Column form for '$text' n=$n")
      }
    }
    // and on the real corpus, the heavy_hitters input: every doc agrees
    val docs3 = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(expr("length(text) >= 3"))
      .select(char_grams(col("text"), 3).as("native"),
        expr("transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))").as("cf"))
      .filter(expr("native <> cf")).count()
    assert(docs3 == 0L, s"$docs3 corpus docs disagree with the Column form")
  }

  test("quality_compress: native deflate ≡ java.util.zip reference on every doc; flags fire exactly where constructed") {
    import org.apache.spark.sql.functions.{col, expr}
    def refDeflate(s: String): Long = {
      val d = new java.util.zip.Deflater(6, false)
      d.setInput(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)); d.finish()
      val buf = new Array[Byte](8192); var n = 0L
      while (!d.finished()) n += d.deflate(buf)
      d.end(); n
    }
    // 1. expression parity with the JVM reference, every doc, both columns
    val out = SparkEntry.queries("quality_compress")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.nonEmpty)
    out.foreach { case (id, nb, db, ppm, _) =>
      val t = texts(id)
      assert(nb == t.getBytes("UTF-8").length.toLong, s"doc $id n_bytes")
      assert(db == refDeflate(t), s"doc $id deflate_bytes diverged from java reference")
      assert(ppm == db * 1000000L / nb, s"doc $id ratio_ppm")
    }
    // 2. natural corpus sits clear of both cut thresholds: only ok/short
    assert(out.map(_._5).toSet.subsetOf(Set("ok", "short")),
      s"natural docs tripped a cut flag: ${out.filter(o => o._5 != "ok" && o._5 != "short").take(3).toSeq}")
    assert(out.count(_._5 == "ok") > 0)
    assert(out.count(_._5 == "short") > 0)
    // 3. constructed frames drive the two cut paths through the same helper
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val printable = (0 until 600).map(_ => (33 + rnd.nextInt(94)).toChar).mkString
    val planted = Seq(
      (1L, "spam boilerplate row " * 40),  // near-pure repetition, >256 B
      (2L, printable),                     // ~6.6 bits/char, barely compresses
      (3L, "tiny"),                        // short
      (4L, texts.maxBy(_._2.length)._2),   // a natural long doc stays ok
      (5L, ""),                            // 0 bytes: guarded DIV, 'short'
      (6L, null.asInstanceOf[String])      // no content at all: 'short'
    ).toDF("doc_id", "text")
    val flags = graft.operators.HygieneOps.withQualityCompress(planted)
      .select(col("doc_id"), col("flag"), col("ratio_ppm")).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(flags(1L)._1 == "repetitive", s"got ${flags(1L)}")
    assert(flags(2L)._1 == "entropy_high", s"got ${flags(2L)}")
    assert(flags(3L)._1 == "short")
    assert(flags(4L)._1 == "ok")
    // empty and null text must flag 'short' with a null ratio — never
    // 'ok', and never an ANSI DIVIDE_BY_ZERO crash
    assert(flags(5L) == (("short", None)), s"got ${flags(5L)}")
    assert(flags(6L) == (("short", None)), s"got ${flags(6L)}")
  }

  test("sample_stratified: exact quota, and the two-phase prune+rank equals the naive full rank") {
    // sf0.01: en has 218 docs (> Cap=50, real downsampling); the other
    // strata are 64-75 docs (also > Cap) — every stratum exercises the
    // quota path, not the take-all degenerate case
    val dir = "/root/testdata/sf0.01"
    val out = SparkEntry.queries("sample_stratified")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // independent ground truth: same squared Karp-Rabin draw (the square
    // is the uniformity mix — the raw fold is digit-count-windowed and a
    // real prune can empty a stratum; see stratifiedSample), naive full
    // sort per stratum (no prune) computed driver-side
    def hv(id: Long): Long = {
      val f = s"strat:$id".foldLeft(0L)((a, c) => (a * 131 + c.toLong) % 1000000007L)
      f * f % 1000000007L
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("lang", "doc_id").collect().map(r => (r.getString(0), r.getLong(1)))
    val truth = docs.groupBy(_._1).toSeq.flatMap { case (lang, rows) =>
      rows.map(_._2).sortBy(id => (hv(id), id)).take(50).zipWithIndex
        .map { case (id, i) => (lang, id, i + 1L) }
    }.toSet
    assert(out.toSet == truth, "two-phase sample differs from naive full rank")
    val quota = out.groupBy(_._1).view.mapValues(_.length)
    docs.groupBy(_._1).foreach { case (lang, rows) =>
      assert(quota.getOrElse(lang, 0) == math.min(50, rows.length),
        s"stratum $lang quota violated")
    }
  }

  test("sample_temperature: α=0 w/ budget 250 equals sample_stratified; α=1 is proportional") {
    val dir = "/root/testdata/sf0.01"
    // α = 0: every stratum weighs 1, so budget 250 over 5 strata gives the
    // same min(50, n) quota as the fixed-cap key — outputs must be identical
    val uniform = graft.operators.TextOps.sampleTemperature(spark, dir, alpha = 0.0, budget = 250L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val strat = SparkEntry.queries("sample_stratified")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(uniform == strat, "α=0 with budget |strata|·Cap must equal the fixed-cap sample")
    // α = 1: quotas proportional to n (floor(budget·n/N), min 1, cap n)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("lang", "doc_id").collect().map(r => (r.getString(0), r.getLong(1)))
    val byLang = docs.groupBy(_._1).view.mapValues(_.length).toMap
    val total = docs.length.toLong
    val prop = graft.operators.TextOps.sampleTemperature(spark, dir, alpha = 1.0, budget = 100L)
      .collect().map(r => r.getString(0)).groupBy(identity).view.mapValues(_.length).toMap
    byLang.foreach { case (lang, n) =>
      val expected = math.min(n.toLong, math.max(1L, 100L * n / total))
      assert(prop.getOrElse(lang, 0) == expected,
        s"α=1 stratum $lang: got ${prop.getOrElse(lang, 0)}, want $expected of $n")
    }
    // and the declared α=0.5 key flattens the mix: the head stratum's share
    // shrinks vs proportional, the tail strata's grow
    val temp = SparkEntry.queries("sample_temperature")(spark, dir)
      .collect().map(r => r.getString(0)).groupBy(identity).view.mapValues(_.length).toMap
    val head = byLang.maxBy(_._2)._1
    assert(temp(head).toDouble / temp.values.sum < prop(head).toDouble / prop.values.sum,
      "α=0.5 must shrink the head language's share relative to α=1")
  }

  test("sample_mixture: exact per-stratum copy totals, repeat factors, and the naive ground truth") {
    // sf0.01 exercises BOTH halves of mixture building: en (n=218, q=180)
    // and de (n=70, q=60) downsample; zh (n=75, q=150) repeats every doc
    // exactly twice (extra=0); fr (n=64, q=120) and es (n=73, q=90) get
    // base=1 plus a deterministic extra subset
    val dir = "/root/testdata/sf0.01"
    val out = SparkEntry.queries("sample_mixture")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // independent driver-side ground truth: same seeded squared draw
    // ("mix:" prefix), naive full sort per stratum, base + extra membership
    def hv(id: Long): Long = {
      val f = s"mix:$id".foldLeft(0L)((a, c) => (a * 131 + c.toLong) % 1000000007L)
      f * f % 1000000007L
    }
    val spec = graft.operators.TextOps.MixtureSpec.toMap
    val budget = graft.operators.TextOps.MixtureBudget
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("lang", "doc_id").collect().map(r => (r.getString(0), r.getLong(1)))
    val truth = docs.groupBy(_._1).toSeq.flatMap { case (lang, rows) =>
      val n = rows.length.toLong
      val q = budget * spec(lang) / 1000L
      val base = q / n
      val extra = q - base * n
      val extraIds = rows.map(_._2).sortBy(id => (hv(id), id)).take(extra.toInt).toSet
      rows.map(_._2).map { id =>
        (lang, id, base + (if (extraIds.contains(id)) 1L else 0L))
      }.filter(_._3 >= 1L)
    }.toSet
    assert(out.toSet == truth, "mixture copy assignment differs from naive ground truth")
    // exact budget conservation: per-stratum sum of copies == q, total == budget
    val perLang = out.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    spec.foreach { case (lang, w) =>
      assert(perLang(lang) == budget * w / 1000L, s"stratum $lang copy total != quota")
    }
    assert(out.map(_._3).sum == budget, "total copies != budget")
    // the repeat-factor half really engaged: zh is exactly 2 copies per doc
    assert(out.filter(_._1 == "zh").forall(_._3 == 2L), "zh must repeat every doc twice")
    // the downsample half really engaged: en keeps 180 of 218 docs
    assert(out.count(_._1 == "en") == 180, "en must downsample to quota")
    // bit-stable across physical partitionings (pure function of the keys)
    val d = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "lang")
    val reparted = graft.operators.TextOps.sampleMixtureOf(
        spark, d.repartition(7), graft.operators.TextOps.MixtureSpec, budget)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(reparted == truth, "mixture must be invariant to input partitioning")
    // trainer handoff: explode copies into the epoch stream and hand to
    // epoch_order — the materialized mix has exactly `budget` examples,
    // each repeated doc under a distinct copy slot
    import org.apache.spark.sql.functions.{col, explode, sequence, lit, concat, lpad}
    val mix = SparkEntry.queries("sample_mixture")(spark, dir)
      .withColumn("copy", explode(sequence(lit(1L), col("n_copies"))))
      .select(concat(col("doc_id"), lit(":"), lpad(col("copy"), 2, "0")).as("doc_id"))
    val ordered = graft.operators.TextOps.epochOrderOf(mix, epoch = 1).collect()
    assert(ordered.length == budget, "exploded mix must have exactly budget examples")
    assert(ordered.map(_.getString(0)).distinct.length == budget,
      "every (doc, copy) slot must be a distinct epoch-stream example")
  }

  test("sample_mixture: a spec language with zero corpus rows fails loudly, never a silent budget shortfall") {
    import spark.implicits._
    val d = Seq((1L, "en"), (2L, "en"), (3L, "fr")).toDF("doc_id", "lang")
    val boom = intercept[Exception] {
      graft.operators.TextOps.sampleMixtureOf(spark, d,
        Seq("en" -> 500L, "de" -> 500L), budget = 4L).collect()
    }
    assert(boom.getMessage.contains("has no corpus rows"),
      s"wrong failure: ${boom.getMessage}")
    // and the same spec over a corpus that HAS the language still works
    val ok = graft.operators.TextOps.sampleMixtureOf(spark,
      d.union(Seq((4L, "de"), (5L, "de")).toDF("doc_id", "lang")),
      Seq("en" -> 500L, "de" -> 500L), budget = 4L)
      .groupBy("lang").agg(org.apache.spark.sql.functions.sum("n_copies").as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ok == Map("en" -> 2L, "de" -> 2L), s"quotas: $ok")
  }

  test("sample_tokens: greedy token-budget prefix equals the naive full-stratum scan") {
    // sf0.01 token totals: en 11757, zh 4143 (> B=4000: real prefix
    // selection); de 3549, fr 3758, es 3958 (< B: the exhausted path —
    // whole stratum kept)
    val dir = "/root/testdata/sf0.01"
    val out = SparkEntry.queries("sample_tokens")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    def hv(id: Long): Long = {
      val f = s"tokb:$id".foldLeft(0L)((a, c) => (a * 131 + c.toLong) % 1000000007L)
      f * f % 1000000007L
    }
    val B = graft.operators.TextOps.TokenBudget
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("lang", "doc_id", "CAST(size(split(text, ' ')) AS LONG) AS n_tok")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val truth = docs.groupBy(_._1).toSeq.flatMap { case (lang, rows) =>
      val ordered = rows.sortBy { case (_, id, _) => (hv(id), id) }
      var cum = 0L
      ordered.zipWithIndex.flatMap { case ((_, id, nt), i) =>
        val before = cum
        cum += nt
        if (before < B) Some((lang, id, nt, i + 1L, cum)) else None
      }
    }.toSet
    assert(out.toSet == truth, "two-phase token-budget sample differs from naive scan")
    // realized totals: the first prefix sum >= B, or the whole stratum
    val tokTotals = docs.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    out.groupBy(_._1).foreach { case (lang, rows) =>
      val realized = rows.map(_._3).sum
      val total = tokTotals(lang)
      if (total < B) {
        assert(realized == total, s"$lang under budget must keep every token")
        assert(rows.size == docs.count(_._1 == lang), s"$lang must keep every doc")
      } else {
        assert(realized >= B, s"$lang realized $realized below budget $B")
        // minimality: dropping the last-selected doc goes back under budget
        val last = rows.maxBy(_._4)
        assert(realized - last._3 < B, s"$lang selection is not the minimal prefix")
      }
    }
    // both paths actually engaged at this SF
    assert(tokTotals.values.exists(_ < B) && tokTotals.values.exists(_ >= B),
      "fixture drifted: sf0.01 no longer exercises both budget paths")
  }

  test("doc_repetition reports single-token docs with null gram signals, not absent") {
    import spark.implicits._
    val d = Seq(
      (1L, "solo"),
      (2L, "two tokens two tokens")
    ).toDF("doc_id", "text")
    val out = graft.operators.HygieneOps.docRepetitionFrame(d).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L),
      "a doc with no 2-grams must still appear in the hygiene report")
    val solo = out.find(_.getLong(0) == 1L).get
    assert(solo.getLong(1) == 1L && solo.getDouble(2) == 0.0)
    assert(solo.isNullAt(3) && solo.isNullAt(4) && solo.isNullAt(5) && solo.isNullAt(6),
      s"gram signals of a gram-less doc must be null: $solo")
    val rep = out.find(_.getLong(0) == 2L).get
    assert(rep.getLong(3) == 3L, s"doc 2 has 3 2-gram instances: $rep")
  }

  test("dedup_lines: planted duplicates removed, clean text has no repeated segments") {
    val out = SparkEntry.queries("dedup_lines")(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (docId, nLines, nKept, nRemoved, clean) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
      assert(nRemoved == nLines - nKept)
      // planting requires >= 12 tokens (shorter docs can't host an
      // aligned duplicate); n_lines counts the PLANTED view's lines, so
      // eligible docs have the extra prepended segment: n_lines >= 2
      if (docId % 7 == 0 && nLines >= 2 && nRemoved == 0)
        fail(s"doc $docId: planted dup not removed (n_lines=$nLines)")
      // re-segment the cleaned text: all 12-token lines must be distinct
      val toks = clean.split(" ")
      val segs = toks.grouped(12).map(_.mkString(" ")).toSeq
      assert(segs.distinct.size == segs.size, s"doc $docId: clean text still repeats a segment")
    }
  }

  test("dedup_lines_global: matches a driver-side ground truth; boilerplate never survives") {
    import graft.operators.HygieneOps
    val original = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // independent ground truth: replant, re-segment, count global line
    // frequency, strip freq >= 3 — all driver-side. (Note the corpus
    // contains exact-duplicate DOCUMENTS by design — dedup_exact's whole
    // reason to exist — so some natural segments legitimately cross the
    // threshold too, not just the planted banner.)
    def segs(t: String): Seq[String] = t.split(" ").grouped(12).map(_.mkString(" ")).toSeq
    val planted = original.map { case (id, t) =>
      id -> (if (id % 4 == 1) HygieneOps.BoilerLine + " " + t else t)
    }
    val freq = planted.values.toSeq.flatMap(segs).groupBy(identity).view.mapValues(_.size)
    val out = SparkEntry.queries("dedup_lines_global")(spark, sfDir).collect()
    assert(out.length == original.size)
    out.foreach { r =>
      val (docId, nLines, nBoiler, clean) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
      val mine = segs(planted(docId))
      val (boiler, kept) = mine.partition(s => freq(s) >= 3)
      assert(nLines == mine.size, s"doc $docId n_lines")
      assert(nBoiler == boiler.size, s"doc $docId: n_boiler $nBoiler vs ${boiler.size}")
      assert(clean == kept.mkString(" "), s"doc $docId: clean text != ground truth")
      if (docId % 4 == 1) assert(nBoiler >= 1, s"doc $docId: planted banner not stripped")
      assert(!clean.contains(HygieneOps.BoilerLine), s"doc $docId: boilerplate survived")
    }
  }

  test("dedup_lines_global broadcast production form is row-identical to the declared key") {
    val dir = "/root/testdata/sf0.01"
    val declared = SparkEntry.queries("dedup_lines_global")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val production = graft.operators.HygieneOps.dedupLinesGlobalBroadcast(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(production == declared,
      "broadcast-sliver strip must equal the full-frequency-join form row for row")
  }

  test("pii_redact: no residual PII shapes, counts follow the planting schedule") {
    val email = graft.operators.HygieneOps.EmailRe.r
    val phone = graft.operators.HygieneOps.PhoneRe.r
    val ip = graft.operators.HygieneOps.IpRe.r
    val out = SparkEntry.queries("pii_redact")(spark, sfDir).collect()
    out.foreach { r =>
      val (docId, nEmail, nPhone, nIp, red) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
      assert(email.findFirstIn(red).isEmpty, s"doc $docId: email survived redaction")
      assert(phone.findFirstIn(red).isEmpty, s"doc $docId: phone survived redaction")
      assert(ip.findFirstIn(red).isEmpty, s"doc $docId: IP survived redaction")
      // the natural corpus is PII-free, so counts equal the planted schedule
      assert(nEmail == (if (docId % 3 == 0) 1 else 0), s"doc $docId email count")
      assert(nPhone == (if (docId % 4 == 0) 1 else 0), s"doc $docId phone count")
      assert(nIp == (if (docId % 5 == 0) 1 else 0), s"doc $docId ip count")
      assert((docId % 3 != 0) || red.contains("<EMAIL>"))
      assert((docId % 4 != 0) || red.contains("<PHONE>"))
      assert((docId % 5 != 0) || red.contains("<IP>"))
    }
  }

  test("corpus_filter_rep: keep implies every gate passed; repetition gate fires somewhere") {
    val out = SparkEntry.queries("corpus_filter_rep")(spark, "/root/testdata/sf0.01").collect()
    out.foreach { r =>
      val (keep, decision) = (r.getBoolean(7), r.getString(6))
      val (nTok, quality, frac, canon) =
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5))
      if (keep) {
        assert(decision == "keep" && canon && nTok >= 20 && quality >= 0.4
          && frac <= graft.operators.HygieneOps.Top2GramMax)
      }
      if (decision == "repetitive") assert(frac > graft.operators.HygieneOps.Top2GramMax)
    }
    val decisions = out.map(_.getString(6)).toSet
    assert(decisions.contains("repetitive"), "repetition gate never fired at sf0.01")
    assert(decisions.contains("keep"))
  }

  // --- driver-side reference BPE (independent of the engine), shared by
  // the bpe_merges and bpe_encode pins ---
  private def refMergeWord(syms: Vector[String], l: String, r: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { out += (l + r); i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Sennrich-style reference BPE trainer over the collected
    * word-frequency table — count ALL adjacent symbol pairs weighted by
    * word freq, merge the (freq desc, left asc, right asc) winner
    * leftmost-greedy non-overlapping, repeat.
    */
  private def refBpeMerges(rounds: Int): Seq[(Long, String, String, Long)] = {
    val wordFreq = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").collect().iterator
      .flatMap(_.getString(0).split(" ")).filter(_.nonEmpty)
      .foldLeft(Map.empty[String, Long])((m, w) => m.updated(w, m.getOrElse(w, 0L) + 1))
    var words: Map[Vector[String], Long] =
      wordFreq.groupMapReduce { case (w, _) => w.split("").toVector } (_._2)(_ + _)
    (1 to rounds).map { rank =>
      val pairs = words.iterator
        .flatMap { case (syms, f) => syms.zip(syms.tail).map(p => p -> f) }
        .foldLeft(Map.empty[(String, String), Long])((m, kv) =>
          m.updated(kv._1, m.getOrElse(kv._1, 0L) + kv._2))
      val ((l, r), pf) = pairs.minBy { case ((l, r), pf) => (-pf, l, r) }
      words = words.groupMapReduce { case (syms, _) => refMergeWord(syms, l, r) } (_._2)(_ + _)
      (rank.toLong, l, r, pf)
    }
  }

  test("bpe_merges equals an independent driver-side reference BPE, merge for merge") {
    val out = SparkEntry.queries("bpe_merges")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.length == 10, s"expected 10 merges, got ${out.length}")
    val expected = refBpeMerges(10)
    assert(out.toSeq == expected, s"merge lists differ:\n got ${out.toSeq}\nwant $expected")
  }

  test("bpe_encode: corpus encoding equals the driver-side reference encoder, doc for doc") {
    val merges = refBpeMerges(10).map(t => (t._2, t._3))
    // in-order single-pass application == classic priority-queue encode
    // iff no merge OUTPUT re-creates a part of an EARLIER merge (only
    // then could a later merge resurrect a pair an earlier pass already
    // consumed) — verify the learned table satisfies it, so the declared
    // semantics are the standard ones, not merely self-consistent
    merges.zipWithIndex.foreach { case ((l, r), k) =>
      merges.take(k).foreach { case (pl, pr) =>
        assert((l + r) != pl && (l + r) != pr,
          s"merge output ${l + r} equals an earlier merge part — in-order encode would diverge")
      }
    }
    val got = SparkEntry.queries("bpe_encode")(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))))
    def encode(w: String): Vector[String] =
      merges.foldLeft(w.split("").toVector) { case (syms, (l, r)) => refMergeWord(syms, l, r) }
    val expected = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
      .map { case (id, text) =>
        val ws = text.split(" ").filter(_.nonEmpty).toVector
        val toks = ws.flatMap(encode)
        val nChars = ws.map(_.length.toLong).sum
        id -> ((ws.length.toLong, nChars, toks.length.toLong, nChars - toks.length,
          toks.take(8).mkString(" ")))
      }.sortBy(_._1)
    assert(got.length == expected.length, s"${got.length} docs vs ${expected.length}")
    got.zip(expected).foreach { case (g, e) =>
      assert(g == e, s"doc ${e._1}: got $g want $e")
    }
    // the learned merges must actually fire: encoding strictly compresses
    assert(got.map(_._2._4).sum > 0, "no merge ever applied — vacuous encoding")
  }

  test("bpe_encode from the persisted merge table is row-identical to inline training") {
    import graft.operators.TextOps
    TextOps.writeMergeTable(spark, sfDir, "bpe_merges_t")
    val fromTable = TextOps.bpeEncodeWithTable(spark, sfDir, "bpe_merges_t").collect().toSeq
    val inline = SparkEntry.queries("bpe_encode")(spark, sfDir).collect().toSeq
    assert(fromTable == inline,
      "the train-once path must encode identically to the inline-training key")
  }

  test("bpe_encode guards: violating merge table and bar-bearing corpus both fail loudly") {
    import graft.operators.TextOps
    import spark.implicits._
    val docs = Seq(1L -> "ab ab").toDF("doc_id", "text")
    // later merge's output ("ab") equals an earlier merge's part → in-order
    // single-pass application would diverge from standard BPE; must refuse
    val ex = intercept[IllegalArgumentException] {
      TextOps.bpeEncodeFrom(docs, Seq(("ab", "c"), ("a", "b")))
    }
    assert(ex.getMessage.contains("single-pass-ordered"),
      s"must name the violated equivalence: ${ex.getMessage}")
    // a bar inside a merge part is not a bpeMerges-trained table
    intercept[IllegalArgumentException] {
      TextOps.bpeEncodeFrom(docs, Seq(("a|", "b")))
    }
    // a bar in the CORPUS (not covered by any trainer guard on the
    // train-once path) fails in-plan at execution, not silently
    val barDocs = Seq(1L -> "oops|bar").toDF("doc_id", "text")
    val planEx = intercept[Exception] {
      TextOps.bpeEncodeFrom(barDocs, Seq(("a", "b"))).collect()
    }
    assert(planEx.getMessage.contains("symbol-boundary bar"),
      s"in-plan guard must fire on a bar-bearing corpus: ${planEx.getMessage}")
    // the happy path still encodes (guard contributes 0 to n_chars)
    val ok = TextOps.bpeEncodeFrom(docs, Seq(("a", "b"))).collect()
    assert(ok.length == 1 && ok(0).getLong(2) == 4L && ok(0).getLong(3) == 2L,
      s"guarded n_chars must be unchanged: ${ok.toSeq}")
  }

  test("BPE string-encoding merge equals the leftmost-greedy reference fold on random symbol runs") {
    // the subtle core of bpe_merges is the claim that non-overlapping
    // left-to-right replace() over the bar-wrapped double-space encoding
    // IS the BPE leftmost-greedy merge — exercise it through Spark's own
    // replace on adversarial inputs (3-symbol alphabet → dense repeats,
    // overlapping pair runs, merged multi-char symbols)
    val rnd = new scala.util.Random(99)
    val cases = (0 until 150).map { i =>
      val alphabet = Seq("a", "b", "ab") // includes a multi-char merged symbol
      val syms = List.fill(1 + rnd.nextInt(10))(alphabet(rnd.nextInt(3)))
      (i, syms, alphabet(rnd.nextInt(3)), alphabet(rnd.nextInt(3)))
    }
    import spark.implicits._
    import org.apache.spark.sql.functions.{call_function, col, concat, lit}
    val df = cases.map { case (i, syms, l, r) =>
      (i, syms.map(s => s"|$s|").mkString("  "), l, r)
    }.toDF("id", "s", "l", "r")
    val merged = df.select(col("id"),
      call_function("replace", col("s"),
        concat(lit("|"), col("l"), lit("|  |"), col("r"), lit("|")),
        concat(lit("|"), col("l"), col("r"), lit("|"))).as("m"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    def refMerge(syms: List[String], l: String, r: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { out += (l + r); i += 2 }
        else { out += syms(i); i += 1 }
      }
      out.toList
    }
    cases.foreach { case (i, syms, l, r) =>
      val got = merged(i).split("  ").toList.map(_.stripPrefix("|").stripSuffix("|"))
      val want = refMerge(syms, l, r)
      assert(got == want, s"case $i: syms=$syms merge=($l,$r): got $got want $want")
    }
  }

  test("native BpeEncode equals the replace-chain form row for row on the trained table") {
    // the declared key now runs the native priority-queue expression;
    // this is the explicit pin that it matches the independent
    // Column-algebra replace-chain implementation on a trained table
    import graft.operators.TextOps
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val merges = refBpeMerges(10).map(t => (t._2, t._3))
    val native = TextOps.bpeEncodeNativeFrom(docs, merges).collect().toSeq
    val chain = TextOps.bpeEncodeFrom(docs, merges).collect().toSeq
    assert(native == chain, "native expression and replace chain must encode identically")
  }

  test("native BpeEncode: adversarial unit cases (repeats, chained merges, ties, non-BMP)") {
    import spark.implicits._
    def enc(text: String, merges: Seq[(String, String)]): (Long, Long, Seq[String]) = {
      val r = Seq(text).toDF("text")
        .select(graft.functions.BpeEncode.bpe_encode(org.apache.spark.sql.functions.col("text"),
          merges).as("e"))
        .select("e.n_words", "e.n_chars", "e.toks").collect()(0)
      (r.getLong(0), r.getLong(1), r.getSeq[String](2))
    }
    // overlapping repeats: leftmost-greedy non-overlapping per rank
    assert(enc("aaaa", Seq(("a", "a"))) == ((1L, 4L, Seq("aa", "aa"))))
    assert(enc("aaa", Seq(("a", "a"))) == ((1L, 3L, Seq("aa", "a"))))
    // a later merge consuming an earlier merge's output (chained vocab)
    assert(enc("abc abc", Seq(("a", "b"), ("ab", "c"))) == ((2L, 6L, Seq("abc", "abc"))))
    // priority inversion: (s,t) outranks (a,s), so "fast" -> f a st
    assert(enc("fast", Seq(("s", "t"), ("a", "s")))._3 == Seq("f", "a", "st"))
    // rank ties across positions resolve leftmost-first
    assert(enc("abab", Seq(("a", "b"), ("ab", "ab"))) == ((1L, 4L, Seq("abab"))))
    // merged symbol then merges again with a following single
    assert(enc("aab", Seq(("a", "a"), ("aa", "b"))) == ((1L, 3L, Seq("aab"))))
    // the sentinel bar is just a character here (no wrapping scheme)
    assert(enc("a|b", Seq(("|", "b"))) == ((1L, 3L, Seq("a", "|b"))))
    // non-BMP symbols are code points, not UTF-16 halves
    val clef = new String(Character.toChars(0x1D11E))
    assert(enc(clef + clef + " x", Seq((clef, clef))) == ((2L, 3L, Seq(clef + clef, "x"))))
    // multiple spaces collapse (empty words skipped), word count honest
    assert(enc("  ab  ba ", Seq(("a", "b")))._1 == 2L)
    assert(enc("  ab  ba ", Seq(("a", "b")))._3 == Seq("ab", "b", "a"))
  }

  /** Driver-side Sennrich trainer over an explicit sequence-frequency
    * map (count all adjacent pairs weighted by frequency, merge the
    * (freq desc, left asc, right asc) winner leftmost-greedy, repeat) —
    * the same count/tie rule the Spark trainer is pinned to at 10 and
    * 64 merges. Stops early when pairs exhaust.
    */
  private def trainMerges(seqFreq: Map[String, Long], nMerges: Int): Seq[(String, String)] = {
    var words = new scala.collection.mutable.HashMap[Vector[String], Long]()
    seqFreq.foreach { case (w, f) =>
      val k = w.split("").toVector
      words.update(k, words.getOrElse(k, 0L) + f)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.length < nMerges && !exhausted) {
      val pairs = new scala.collection.mutable.HashMap[(String, String), Long]()
      words.foreach { case (syms, f) =>
        var i = 0
        while (i + 1 < syms.length) {
          val p = (syms(i), syms(i + 1))
          pairs.update(p, pairs.getOrElse(p, 0L) + f)
          i += 1
        }
      }
      if (pairs.isEmpty) exhausted = true
      else {
        val ((l, r), _) = pairs.minBy { case ((l, r), pf) => (-pf, l, r) }
        merges += ((l, r))
        val nw = new scala.collection.mutable.HashMap[Vector[String], Long]()
        words.foreach { case (syms, f) =>
          val m = refMergeWord(syms, l, r)
          nw.update(m, nw.getOrElse(m, 0L) + f)
        }
        words = nw
      }
    }
    merges.toSeq
  }

  /** Independent priority encoder: repeated linear scan for the
    * min-(rank, position) adjacent pair, ONE merge per step — different
    * mechanics from the expression's heap + linked list.
    */
  private def refPriorityEncode(rank: Map[(String, String), Int])(w: String): Vector[String] = {
    var syms = w.split("").toVector
    var go = true
    while (go && syms.length > 1) {
      var best = -1
      var bestRank = Int.MaxValue
      var i = 0
      while (i + 1 < syms.length) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; best = i }
        i += 1
      }
      if (best < 0) go = false
      else syms = (syms.take(best) :+ (syms(best) + syms(best + 1))) ++ syms.drop(best + 2)
    }
    syms
  }

  test("native BpeEncode serves a 1k+ merge vocabulary, equal to an independent priority encoder") {
    // The synthetic corpus has only 31 distinct words, so WORD-level BPE
    // saturates at 89 merges (every word one symbol) at any SF — a 1k
    // vocabulary must train on longer sequences. Two tables, two pins:
    //  (a) the word-level table TRAINED TO EXHAUSTION (89 merges, the
    //      corpus' full word-level vocabulary);
    //  (b) 1024 merges trained on the same sf0.01 corpus' space-stripped
    //      CHARACTER streams (the modern tokenizer shape — GPT-2-style
    //      byte-level training sees word-boundary-free runs), applied to
    //      the corpus through the native expression.
    // Both compare FULL token sequences against the independent
    // driver-side priority encoder — the scale the replace-chain form
    // structurally cannot reach (1024 chained replaces would not even
    // analyze).
    val sf01 = "/root/testdata/sf0.01"
    val texts = spark.read.parquet(s"$sf01/documents.parquet")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val wordFreq = new scala.collection.mutable.HashMap[String, Long]()
    texts.foreach(_._2.split(" ").filter(_.nonEmpty)
      .foreach(w => wordFreq.update(w, wordFreq.getOrElse(w, 0L) + 1L)))
    val wordTable = trainMerges(wordFreq.toMap, Int.MaxValue)
    assert(wordTable.length == 89,
      s"word-level vocabulary should exhaust at 89 merges, got ${wordTable.length}")
    val charStreams = texts.map { case (_, t) => t.replace(" ", "").take(150) }
      .groupBy(identity).map { case (s, g) => s -> g.length.toLong }
    val charTable = trainMerges(charStreams, 1024)
    assert(charTable.length >= 1024, s"char streams exhausted at ${charTable.length} merges")
    for ((merges, tag) <- Seq((wordTable, "word-89"), (charTable, "char-1024"))) {
      // trained tables satisfy the no-resurrection condition by
      // construction (a merged pair never becomes adjacent again) —
      // check it held, so priority semantics coincide with rank-order
      // passes and the chain-form equivalence argument applies
      val parts = new scala.collection.mutable.HashSet[String]()
      merges.foreach { case (l, r) =>
        assert(!parts.contains(l + r), s"$tag: output ${l + r} re-creates an earlier part")
        parts += l; parts += r
      }
      val rank = merges.zipWithIndex.toMap
      val got = spark.read.parquet(s"$sf01/documents.parquet")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          graft.functions.BpeEncode.bpe_encode(
            org.apache.spark.sql.functions.col("text"), merges).as("e"))
        .select("doc_id", "e.toks").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      var totalToks = 0L
      texts.foreach { case (id, text) =>
        val want = text.split(" ").filter(_.nonEmpty).toVector
          .flatMap(refPriorityEncode(rank))
        assert(got(id) == want,
          s"$tag doc $id: native ${got(id).take(12)} vs reference ${want.take(12)}")
        totalToks += want.length
      }
      // the vocabulary must actually bite: far fewer tokens than chars
      val totalChars = texts.map(_._2.count(_ != ' ').toLong).sum
      assert(totalToks < totalChars / 2,
        s"$tag should compress the corpus well below half its chars " +
          s"($totalToks tokens vs $totalChars chars)")
    }
  }

  test("epoch_order: multi-epoch draws are decorrelated permutations, repartition-stable, and order packed sequences (r15 task 6)") {
    import graft.operators.TextOps
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    def ordering(epoch: Int): Seq[(Long, Long, Long)] =
      TextOps.epochOrderOf(docs, epoch).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val e1 = ordering(1)
    val e2 = ordering(2)
    // the declared key IS epoch 1
    val key = SparkEntry.queries("epoch_order")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(key == e1.sortBy(t => (t._2, t._3)), "declared key must be the epoch-1 draw")
    // each epoch is a valid permutation: every doc exactly once, and
    // within each shard positions are contiguous from 1
    def checkPermutation(e: Seq[(Long, Long, Long)], tag: String): Unit = {
      assert(e.map(_._1).toSet == e1.map(_._1).toSet && e.size == e1.size,
        s"$tag must place every doc exactly once")
      e.groupBy(_._2).foreach { case (shard, g) =>
        assert(g.map(_._3).sorted == (1L to g.size.toLong),
          s"$tag shard $shard positions must be contiguous from 1")
      }
    }
    checkPermutation(e1, "epoch 1")
    checkPermutation(e2, "epoch 2")
    // decorrelation: Spearman rank correlation of the global consumption
    // order (by shard, then pos) near 0 — with n=500 the null sd is
    // ~0.045, so |rho| < 0.15 is a 3-sigma bound that still rules out
    // any systematic carryover between epochs
    def globalRank(e: Seq[(Long, Long, Long)]): Map[Long, Int] =
      e.sortBy(t => (t._2, t._3)).map(_._1).zipWithIndex.toMap
    val (r1, r2) = (globalRank(e1), globalRank(e2))
    val n = r1.size
    val xs = r1.keys.toSeq
    val mean = (n - 1) / 2.0
    val cov = xs.map(id => (r1(id) - mean) * (r2(id) - mean)).sum
    val varr = xs.map(id => (r1(id) - mean) * (r1(id) - mean)).sum
    val rho = cov / varr
    assert(math.abs(rho) < 0.15, s"epochs 1 and 2 correlate: rho=$rho")
    // bit-stability: the draw is a pure function of (epoch, doc_id) —
    // input partitioning must not leak into shard/pos
    val e2b = TextOps.epochOrderOf(docs.repartition(7), 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(e2b.sortBy(_._1) == e2.sortBy(_._1),
      "epoch draw must be identical under any input partitioning")
    // trainer handoff: epoch-order the PACKED training sequences from
    // pack_sequences — every packed sequence gets exactly one
    // consumption slot, deterministically
    val packed = SparkEntry.queries("pack_sequences")(spark, sfDir)
    val seqs = packed.select((col("shard") * 1000000L + col("seq_id")).as("doc_id")).distinct()
    val nSeqs = seqs.count()
    val slots = TextOps.epochOrderOf(seqs, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(slots.size.toLong == nSeqs && slots.map(_._1).distinct.size.toLong == nSeqs,
      "every packed sequence must get exactly one epoch slot")
    slots.groupBy(_._2).foreach { case (shard, g) =>
      assert(g.map(_._3).sorted == (1L to g.size.toLong),
        s"packed-sequence epoch shard $shard must be contiguous")
    }
  }

  test("corpus_curate_full: every production gate fires on the driver corpus; deterministic; decisions legal") {
    // semantics vs the STREAM chain are pinned in StreamingSpec
    // (corpusCurateDecisionsOf mirror test); this pins the DECLARED key:
    // legal decision vocabulary, the expected classes non-empty on the
    // fixture corpus, run-to-run determinism, and keep-row payload rules
    val out = SparkEntry.queries("corpus_curate_full")(spark, sfDir).collect()
    val legal = Set("insert", "short", "quality", "blocked_domain", "skip_dup",
      "lm_tail", "near_dup", "scrubbed", "scrub_gutted")
    val byDecision = out.groupBy(_.getAs[String]("decision"))
    assert(byDecision.keySet.subsetOf(legal), s"illegal decisions: ${byDecision.keySet -- legal}")
    Seq("insert", "skip_dup", "blocked_domain", "lm_tail", "scrubbed").foreach { d =>
      assert(byDecision.contains(d), s"gate '$d' never fired — fixture vacuous " +
        s"(got ${byDecision.view.mapValues(_.length).toMap})")
    }
    // the already-ingested slice lands on an EARLIER structural gate or
    // on skip_dup — never deeper (the hash index catches it before the
    // LM/near-dup/span stages), and never near_dup of itself
    out.filter(r => r.getAs[Long]("doc_id") % 10 == 3).foreach { r =>
      assert(Set("short", "quality", "blocked_domain", "skip_dup")(r.getAs[String]("decision")),
        s"re-arrival of an ingested doc must stop at or before skip_dup: $r")
    }
    // keep rows carry payloads; drop rows carry none
    out.foreach { r =>
      val keep = Set("insert", "scrubbed")(r.getAs[String]("decision"))
      assert((r.getAs[String]("redacted") != null) == keep,
        s"payload presence must equal keep status: $r")
    }
    // scrubbed rows lost exactly their leak mass (code-point accounting
    // is the strip family's; here: redacted ends with the PII-free cut)
    out.filter(_.getAs[String]("decision") == "scrubbed").foreach { r =>
      assert(r.getAs[Long]("leak_chars") >= graft.operators.SpanOps.GramK, s"trivial scrub: $r")
    }
    val again = SparkEntry.queries("corpus_curate_full")(spark, sfDir).collect()
    assert(out.toSeq == again.toSeq, "the declared key must be deterministic run to run")
  }

  test("token_chunk: stride-prefix concatenation reconstructs every document exactly") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = SparkEntry.queries("token_chunk")(spark, sfDir).collect()
    val byDoc = out.groupBy(_.getLong(0))
    assert(byDoc.keySet == docs.keySet, "every document must chunk")
    byDoc.foreach { case (id, rows) =>
      val chunks = rows.sortBy(_.getLong(1)).map(_.getString(3))
      // chunk i's first 40 tokens are tokens [i*40, i*40+40); the final
      // chunk carries the whole tail (n <= lastStart+40 < lastStart+50),
      // so stride prefixes + full last chunk rebuild the document
      val rebuilt = chunks.zipWithIndex.flatMap { case (c, i) =>
        val toks = c.split(" ", -1)
        if (i == chunks.length - 1) toks else toks.take(40)
      }.mkString(" ")
      assert(rebuilt == docs(id), s"doc $id reconstruction failed")
      // window contract: chunk i holds min(50, n - i*40) tokens — full
      // 50-token windows until the document end clips them
      val n = docs(id).split(" ", -1).length
      chunks.zipWithIndex.foreach { case (c, i) =>
        assert(c.split(" ", -1).length == math.min(50, n - i * 40),
          s"doc $id chunk $i window size wrong")
      }
    }
  }

  test("chunk_pack: exactly-once packing, budget respected, offsets contiguous, deterministic") {
    import graft.operators.TextOps
    val budget = TextOps.PackBudget
    val packed = SparkEntry.queries("chunk_pack")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // every token_chunk window packed exactly once
    val chunkKeys = SparkEntry.queries("token_chunk")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(packed.map(p => (p._3, p._4)).toSet == chunkKeys &&
      packed.length == chunkKeys.size, "packing must cover every chunk exactly once")
    // shard assignment honored; per-sequence budget respected; offsets
    // contiguous within each (shard, seq)
    packed.foreach(p => assert(p._1 == p._3 % TextOps.PackShards, s"wrong shard: $p"))
    packed.groupBy(p => (p._1, p._2)).foreach { case (key, rows) =>
      val sorted = rows.sortBy(_._6)
      assert(sorted.map(_._5).sum <= budget, s"sequence $key overflows the budget")
      var expect = 0L
      sorted.foreach { p =>
        assert(p._6 == expect, s"offset gap in $key at $p")
        expect += p._5
      }
    }
    // greedy property: a sequence only ends because the NEXT chunk of
    // its shard would not fit (no premature cuts)
    packed.groupBy(_._1).foreach { case (_, rows) =>
      val seqs = rows.groupBy(_._2).toSeq.sortBy(_._1)
      seqs.sliding(2).foreach {
        case Seq((_, cur), (_, next)) =>
          val firstNext = next.minBy(_._6)
          assert(cur.map(_._5).sum + firstNext._5 > budget,
            s"sequence cut early: ${cur.head._1}/${cur.head._2}")
        case _ =>
      }
    }
    // deterministic: a second run packs identically
    val again = TextOps.chunkPack(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(again.sorted.sameElements(packed.sorted), "packing must be deterministic")
  }

  test("pack_sequences: token conservation per sequence and corpus-wide") {
    val seqs = SparkEntry.queries("pack_sequences")(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(seqs.nonEmpty)
    seqs.foreach { case (key, nChunks, nTok, text) =>
      assert(nChunks >= 1)
      assert(text.split(" ", -1).length.toLong == nTok,
        s"sequence $key text token count != declared n_tok")
    }
    val chunkTotal = SparkEntry.queries("token_chunk")(spark, sfDir)
      .collect().map(_.getLong(2)).sum
    assert(seqs.map(_._3).sum == chunkTotal,
      "corpus token total must be conserved through packing")
  }

  test("corpus_filter: keep implies every gate passed, and both outcomes occur") {
    val rows = SparkEntry.queries("corpus_filter")(spark, sfDir).collect()
    val decisions = rows.map(_.getString(5)).toSet
    assert(decisions.contains("keep") && decisions.size >= 2,
      s"filter is degenerate at this sf: $decisions")
    rows.foreach { r =>
      val (nTok, q, canon, dec, keep) =
        (r.getLong(2), r.getDouble(3), r.getBoolean(4), r.getString(5), r.getBoolean(6))
      assert(keep == (dec == "keep"))
      if (keep) assert(canon && nTok >= 20 && q >= 0.4, s"kept doc fails a gate: $r")
      if (dec == "quality") assert(canon && nTok >= 20 && q < 0.4, s"wrong precedence: $r")
    }
  }

  test("epoch_order: a bijective, deterministic, seed-keyed permutation") {
    val rows = SparkEntry.queries("epoch_order")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.length == nDocs && rows.map(_._1).distinct.length == rows.length,
      "every doc appears exactly once")
    // independent driver-side replay of the seeded squared draw
    def hv(id: Long): Long = {
      val f = s"ep1:$id".foldLeft(0L)((a, c) => (a * 131 + c.toLong) % 1000000007L)
      f * f % 1000000007L
    }
    rows.foreach { case (id, shard, _) =>
      assert(shard == hv(id) % graft.operators.TextOps.EpochShards, s"doc $id shard")
    }
    rows.groupBy(_._2).foreach { case (shard, grp) =>
      assert(grp.map(_._3).sorted.toSeq == (1L to grp.length).toSeq,
        s"shard $shard positions must be contiguous 1..n")
      val byPos = grp.sortBy(_._3).map(_._1).toSeq
      val expect = grp.map(_._1).sortBy(id => (hv(id), id)).toSeq
      assert(byPos == expect, s"shard $shard order must follow the seeded draw")
    }
  }

  test("corpus_stats: the data card reconciles exactly with corpus_filter") {
    val stats = SparkEntry.queries("corpus_stats")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    val filt = SparkEntry.queries("corpus_filter")(spark, sfDir).collect()
    val want = filt.groupBy(r => (r.getString(1), r.getString(5)))
      .map { case (k, rs) => k -> ((rs.length.toLong, rs.map(_.getLong(2)).sum)) }
    assert(stats.keySet == want.keySet, "cell grid must match the filter's decisions")
    want.foreach { case (k, (nd, nt)) =>
      assert(stats(k)._1 == nd && stats(k)._2 == nt, s"cell $k docs/tokens")
    }
    stats.groupBy(_._1._1).foreach { case (lang, cells) =>
      assert(math.abs(cells.values.map(_._3).sum - 1.0) < 1e-9, s"$lang doc_share sums to 1")
      assert(math.abs(cells.values.map(_._4).sum - 1.0) < 1e-9, s"$lang token_share sums to 1")
    }
  }

  test("roundtrip_pipeline reproduces every document") {
    val df = SparkEntry.queries("roundtrip_pipeline")(spark, sfDir)
    assert(df.filter(not(col("ok"))).count() == 0)
  }

  test("validate_filename output contains no rejected path shapes") {
    val df = SparkEntry.queries("validate_filename")(spark, sfDir)
    assert(df.filter(col("path") === "" || col("path").startsWith("/") || col("path").contains("..")).count() == 0)
  }

  test("join_semi + join_anti partition the customer table") {
    val semi = SparkEntry.queries("join_semi")(spark, sfDir).count()
    val anti = SparkEntry.queries("join_anti")(spark, sfDir).count()
    val customers = spark.read.parquet(s"$sfDir/customer.parquet").count()
    assert(semi + anti == customers)
  }

  test("set_ops algebra: intersect <= union; except and intersect partition buyers") {
    val df = SparkEntry.queries("set_ops")(spark, sfDir).groupBy("op").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df("intersect") <= df("union"))
    val buyers = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_custkey").distinct().count()
    assert(df("except") + df("intersect") == buyers)
  }

  test("progress_rate stays in [0, 100] and ends at 100") {
    val df = SparkEntry.queries("progress_rate")(spark, sfDir)
    assert(df.filter(col("rate") < 0 || col("rate") > 100).count() == 0)
    val lastPerUser = df.groupBy("user_id").agg(max("rate").as("m"))
    assert(lastPerUser.filter(col("m") =!= 100).count() == 0)
  }

  test("distinct_count HLL estimate is within 10% of exact per group") {
    val rows = operators.RelationalOps.distinctCountRaw(spark, sfDir)
      .select("event_type", "n_users", "approx_users").collect()
    rows.foreach { r =>
      val exact = r.getLong(1).toDouble
      val approx = r.getLong(2).toDouble
      assert(math.abs(approx - exact) <= exact * 0.1,
        s"${r.getString(0)}: approx $approx vs exact $exact")
    }
  }

  test("knn_cosine similarities lie in [-1, 1]") {
    val df = SparkEntry.queries("knn_cosine")(spark, sfDir)
    assert(df.filter(col("sim") < -1.0 || col("sim") > 1.0).count() == 0)
  }

  test("fmt_size output matches the humanized format shape") {
    val df = SparkEntry.queries("fmt_size")(spark, sfDir)
    val bad = df.filter(not(col("fmt_small").rlike("^[0-9]+(\\.[0-9]{1,2})? (B|KB|MB|GB|TB)$"))).count()
    assert(bad == 0)
  }

  test("ttl_expire marks exactly the users idle >20s before stream end") {
    val df = SparkEntry.queries("ttl_expire")(spark, sfDir)
    // the global max user must not be expired
    assert(df.orderBy(desc("last_ts")).limit(1).filter(col("expired")).count() == 0)
  }

  test("text_normalize: NFC composition, control strip, whitespace collapse — narrow and exact") {
    import graft.operators.HygieneOps
    import spark.implicits._
    val cases = Seq(
      // NFD accents compose: e + U+0301 -> U+00E9 (1 code point)
      (1L, "café now", "café now"),
      // already-NFC text byte-identical (the fast path)
      (2L, "café now", "café now"),
      // C0 controls stripped, TAB collapsed with spaces, edges trimmed
      (3L, "  ab\t\tc  ", "ab c"),
      // LF and CR survive (line structure feeds dedup_lines)
      (4L, "line1\nline2\rline3", "line1\nline2\rline3"),
      // non-BMP passthrough (emoji is already NFC)
      (5L, "ok 😀 done", "ok 😀 done"),
      (6L, "", ""))
    val out = HygieneOps.withTextNormalize(cases.map(c => (c._1, c._2)).toDF("doc_id", "text"))
      .orderBy("doc_id").collect()
    cases.zip(out).foreach { case ((id, _, want), r) =>
      assert(r.getAs[String]("norm_text") == want,
        s"doc $id: got '${r.getAs[String]("norm_text")}', want '$want'")
      assert(r.getAs[Boolean]("changed") == (want != cases(id.toInt - 1)._2))
    }
    // idempotence: normalizing the normalized output is the identity
    val again = HygieneOps.withTextNormalize(
      out.map(r => (r.getLong(0), r.getAs[String]("norm_text"))).toSeq.toDF("doc_id", "text"))
      .orderBy("doc_id").collect()
    again.foreach(r => assert(!r.getAs[Boolean]("changed"),
      s"doc ${r.getLong(0)}: normalization is not idempotent"))
    // the dedup motivation: NFD and NFC spellings hash equal after the pass
    val spellings = Seq((10L, "exposé"), (11L, "exposé")).toDF("doc_id", "text")
    val hashes = HygieneOps.withTextNormalize(spellings)
      .select(md5(col("norm_text"))).distinct().count()
    assert(hashes == 1, "equal-looking spellings must hash equal after normalization")
    // narrow: no shuffle anywhere in the plan
    val plan = HygieneOps.withTextNormalize(spellings).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"normalization must be shuffle-free:\n$plan")
  }
}
