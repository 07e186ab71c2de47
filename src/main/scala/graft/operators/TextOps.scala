package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over `documents`:
  * token statistics, regex token counting, quality scoring, heuristic
  * language ID, fingerprinting, and exact dedup.
  *
  * Scale notes: all per-document math is codegen'd Column algebra over the
  * split token array — a narrow map, no shuffle; only the final grouped
  * stats shuffle (on `lang` or the hash key). At 100 TB these ops are scan-
  * bound, which is as good as it gets.
  */
object TextOps {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")

  /** Stopword list used by quality scoring and language ID. */
  private[graft] val Stop = Seq("the", "a", "of", "and", "to")
  private def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")

  /** Per-language marker-token lists for the n-gram/stopword language-ID
    * heuristic. (The synthetic corpus shares one vocabulary across langs,
    * so accuracy is incidental — the operator shape is what matters.)
    */
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "und", "batch", "hash"),
    "en" -> Seq("the", "a", "window", "order"),
    "es" -> Seq("el", "la", "agg", "merge"),
    "fr" -> Seq("le", "la", "scan", "query"),
    "zh" -> Seq("de", "shi", "join", "row"))

  // ---- queries -----------------------------------------------------------

  private def textStats(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
        avg("n_chars").as("avg_chars"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))
      .orderBy("lang")

  /** Whitespace tokens, regex word tokens, and a BPE-ish subword count. */
  private def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        expr("size(regexp_extract_all(text, '[a-z0-9]+', 0))").cast("long").as("word_tokens"),
        expr("size(regexp_extract_all(text, '[a-z]{1,4}', 0))").cast("long").as("subword_tokens"))
      .orderBy("doc_id")

  /** Appends the raw quality counters + THE composite quality score to any
    * frame with a `text` column — the single definition shared by
    * `text_quality` and `corpus_filter`, so the composed filter cannot
    * drift from the standalone metric. (The DuckDB oracles share the
    * corresponding [[QualityCountersSql]]/[[QualityExprSql]] fragments.)
    * Pure stateless Column algebra, so it applies unchanged to a
    * STREAMING frame (StreamingSpec proves batch/stream parity) — per-doc
    * scoring needs no adaptation to run over a live ingest feed.
    */
  private[graft] def withQualityScore(d: DataFrame): DataFrame =
    d.withColumn("n_tok", size(split(col("text"), " ")))
      .withColumn("n_stop", expr(s"size(filter(split(text, ' '), x -> x IN (${inList(Stop)})))"))
      .withColumn("n_uniq", size(array_distinct(split(col("text"), " "))))
      .withColumn("n_nonspace", length(regexp_replace(col("text"), " ", "")))
      .withColumn("quality",
        (col("n_stop") / col("n_tok")) * 0.25 + (col("n_uniq") / col("n_tok")) * 0.5
          + least((col("n_nonspace") / col("n_tok")) / 10.0, lit(1.0)) * 0.25)

  /** Oracle fragments mirroring [[withQualityScore]]. */
  private[graft] val QualityCountersSql: String =
    s"""SELECT doc_id, lang, n_chars, md5(text) AS h,
       |         len(string_split(text, ' ')) AS n_tok,
       |         len(list_filter(string_split(text, ' '), x -> x IN (${inList(Stop)}))) AS n_stop,
       |         len(list_distinct(string_split(text, ' '))) AS n_uniq,
       |         length(replace(text, ' ', '')) AS n_nonspace
       |  FROM documents""".stripMargin
  private[graft] val QualityExprSql: String =
    "(n_stop / n_tok) * 0.25 + (n_uniq / n_tok) * 0.5 + least((n_nonspace / n_tok) / 10.0, 1.0) * 0.25"

  /** Length / stopword / distinctness ratios + a composite quality score. */
  private def textQuality(spark: SparkSession, sfDir: String): DataFrame =
    withQualityScore(docs(spark, sfDir))
      .select(col("doc_id"), col("n_chars"),
        col("n_tok").cast("long").as("n_tokens"),
        (col("n_nonspace") / col("n_tok")).as("avg_tok_len"),
        (col("n_stop") / col("n_tok")).as("stop_ratio"),
        (col("n_uniq") / col("n_tok")).as("distinct_ratio"),
        col("quality"))
      .orderBy("doc_id")

  /** Marker-token scoring language ID; argmax with alphabetical tie-break. */
  private def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Markers.foldLeft(docs(spark, sfDir).select(col("doc_id"), col("lang"), col("text"))) {
      case (df, (l, ws)) =>
        df.withColumn(s"s_$l",
          expr(s"size(filter(split(text, ' '), x -> x IN (${inList(ws)})))").cast("long"))
    }
    val best = greatest(Markers.map { case (l, _) => col(s"s_$l") }: _*)
    val pred = Markers.foldRight(lit("und"): org.apache.spark.sql.Column) {
      case ((l, _), acc) => when(col(s"s_$l") === best, l).otherwise(acc)
    }
    // foldRight gives earliest (alphabetical) match priority: de,en,es,fr,zh
    scored
      .withColumn("predicted", pred)
      .withColumn("hit", col("predicted") === col("lang"))
      .select(Seq(col("doc_id"), col("lang")) ++ Markers.map { case (l, _) => col(s"s_$l") }
        ++ Seq(col("predicted"), col("hit")): _*)
      .orderBy("doc_id")
  }

  /** Content fingerprints: full/head/tail md5 (hex), a 16-hex-digit key,
    * and a Karp-Rabin polynomial rolling hash (base 131 mod 1e9+7 over the
    * character stream — the incremental-fingerprint primitive; here the
    * full-document fold, computed identically by the DuckDB oracle).
    */
  private def docFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"),
        md5(col("text")).as("fp"),
        substring(md5(col("text")), 1, 16).as("fp16"),
        md5(substring(col("text"), 1, 100)).as("fp_head"),
        md5(expr("substring(text, greatest(length(text) - 99, 1), 100)")).as("fp_tail"),
        expr("aggregate(transform(split(text, ''), c -> ascii(c)), 0L, (a, b) -> (a * 131 + b) % 1000000007)")
          .as("fp_roll"))
      .orderBy("doc_id")

  /** Deterministic hash sampling — the reproducible subsample/shard
    * primitive of a training-data pipeline: a doc is in the sample iff
    * the first hex digit of md5("salt42:" + doc_id) falls in {0,1}
    * (≈ 2/16 = 12.5% expected rate), so membership is a pure function of
    * the key — stable across runs, engines, partitionings and cluster
    * sizes (unlike `DataFrame.sample`, which is seed- and partition-
    * dependent). Reported per language stratum with the realized rate;
    * the filter is a narrow codegen'd map, the only shuffle is the
    * stratum aggregation.
    */
  private def sampleHash(spark: SparkSession, sfDir: String): DataFrame = {
    val inSample =
      substring(md5(concat(lit("salt42:"), col("doc_id").cast("string"))), 1, 1).isin("0", "1")
    docs(spark, sfDir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(inSample, 1L).otherwise(0L)).as("n_sampled"))
      .withColumn("rate", col("n_sampled") / col("n_docs"))
      .orderBy("lang")
  }

  /** Exact-quota stratified sampling — "take exactly `Cap` docs per
    * language", the corpus-balancing primitive of a pretraining mix
    * (downsample the head languages to a fixed budget). The sample is a
    * PURE FUNCTION of the keys: each doc gets a deterministic uniform
    * draw h ∈ [0, M) (Karp-Rabin fold of "strat:"+doc_id, the same
    * base-131 mod 1e9+7 both engines already compute for
    * `doc_fingerprint`), and the stratum's sample is the `Cap` smallest
    * (h, doc_id) — stable across runs, engines and partitionings.
    *
    * The SCALE SHAPE is two-phase, because the naive form — rank every
    * row with a window partitioned by `lang` — funnels entire strata
    * through single reducers (a handful of languages over 100 TB is the
    * worst window skew there is). Instead:
    *   1. per-stratum counts (partial agg, |strata| rows);
    *   2. a NARROW prune `h < ceil(Over·Cap·M/n)` with the thresholds
    *      broadcast back on `lang` — the corpus never shuffles, and the
    *      survivors are ~Over·Cap rows per stratum regardless of corpus
    *      size;
    *   3. the exact rank runs on that bounded residue only.
    * If ≥ Cap rows survive the prune, the residue provably contains the
    * true Cap smallest (any row above the threshold is larger than all
    * of them), so the two-phase result EQUALS the naive full-window
    * rank. The oversample factor makes a shortfall a ~zero-probability
    * event for a uniform h (Chernoff; Over = 4), but NOT an impossible
    * one — and a shortfall would silently shrink the sample — so the
    * assumption is ENFORCED: an in-plan guard fails the query if any
    * stratum's realized sample is smaller than min(Cap, n). The guard is
    * evaluated on the THRESHOLDS side — per-stratum survivor counts
    * left-joined back onto the thresholds frame — so a stratum whose
    * prune left ZERO survivors still fails loudly (a survivor-row-borne
    * guard has no row to ride on there and the stratum would silently
    * vanish). The folded all-zero guard scalar then rides inside the
    * returned `smp_rank` column (coalesced assert_true contributing 0,
    * the `chunk_dedup` idiom) so column pruning can never drop it.
    *
    * COST of the thresholds-side guard: one extra plan branch over the
    * pruned frame (survivor counts can't be derived from the ranked
    * rows — that was exactly the empty-stratum hole). Every branch of
    * this query reads only (doc_id, lang) — column pruning keeps all of
    * them a small fraction of corpus bytes at scale; locally the price
    * is ~0.2 s of fixed job overhead (r9 bench, 0.26 → 0.47 s).
    */
  private def sampleStratified(spark: SparkSession, sfDir: String): DataFrame =
    stratifiedSample(spark, sfDir, quota = least(lit(50L), col("n")), tag = "sample_stratified")

  /** The shared oversample-prune stratified sampler behind
    * [[sampleStratified]] (fixed cap) and [[sampleTemperature]]
    * (n^α-proportional quotas): `quota` is any Column over the
    * per-stratum count frame `(lang, n)` — it must satisfy
    * quota ≤ min(n, Cap-like bound) semantics on its own. Two-phase
    * shape and the thresholds-side quota guard as documented on
    * [[sampleStratified]].
    */
  private def stratifiedSample(
      spark: SparkSession, sfDir: String,
      quota: org.apache.spark.sql.Column, tag: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val M = 1000000007L
    val Over = 4.0
    val d = docs(spark, sfDir)
    val thresholds = d.groupBy("lang").agg(count(lit(1)).as("n"))
      .withColumn("q", quota)
      .withColumn("thresh",
        least(lit(M), ceil(lit(Over) * col("q") * lit(M) / col("n")).cast("long")))
    // The raw fold is a fine FINGERPRINT but a biased DRAW: for a short
    // numeric suffix the constant prefix term P·131^k dominates, so every
    // id of the same digit-count lands in a narrow window of [0, M) and a
    // low threshold can prune a whole stratum to ZERO (caught by the
    // guard in the sf0.1 cross-check, where 4·q < n makes the prune
    // real — at sf0.01 thresh clamps to M and the prune is a no-op).
    // Squaring mod M is the minimal nonlinear mix: a width-w window maps
    // to ~w points spread across the full range (h² spans ≈ 2·h·w ≫ M),
    // stays exactly replayable in DuckDB, and cannot overflow
    // (h < 1e9 ⇒ h² < 1e18 < 2⁶³). Uniformity re-verified empirically:
    // every stratum at sf{0.001,0.01,0.1} keeps ≥ q under both quota
    // shapes with the 4× oversample.
    val fold = expr("aggregate(transform(split(concat('strat:', CAST(doc_id AS STRING)), ''), " +
      "c -> ascii(c)), 0L, (a, b) -> (a * 131 + b) % 1000000007)")
    val pruned = d.select(col("doc_id"), col("lang"), fold.as("f"))
      .select(col("doc_id"), col("lang"), (col("f") * col("f") % lit(M)).as("hv"))
      .join(broadcast(thresholds), "lang")
      .filter(col("hv") < col("thresh"))
    // the quota guard: the prune may only ever leave >= min(q, n)
    // survivors per stratum; fewer means the oversample assumption broke
    // and the "exact quota" contract would silently degrade. Left-joining
    // the survivor counts onto THRESHOLDS makes a zero-survivor stratum
    // produce a (kept=null → 0) row that fails the assert — it cannot
    // silently vanish. The fold to ONE scalar row keeps the guard
    // crossJoin-able into the result without perturbing its cardinality.
    val survivorCounts = pruned.groupBy("lang").agg(count(lit(1)).as("kept"))
    val guard = thresholds.join(survivorCounts, Seq("lang"), "left")
      .select(coalesce(
        assert_true(coalesce(col("kept"), lit(0L)) >= least(col("q"), col("n")),
          concat(lit(s"$tag: stratum "), col("lang"),
            lit(" kept "), coalesce(col("kept"), lit(0L)), lit(" of "), col("n"),
            lit(" rows under the 4x oversample prune — below the quota; raise Over"))
          ).cast("long"),
        lit(0L)).as("g"))
      .agg(sum("g").as("g0")) // all-zero; summing forces every stratum's assert
    val ranked = pruned
      .withColumn("smp_rank",
        row_number().over(Window.partitionBy("lang").orderBy(col("hv"), col("doc_id"))))
    ranked
      .filter(col("smp_rank") <= col("q"))
      .crossJoin(broadcast(guard))
      .select(col("lang"), col("doc_id"),
        (col("smp_rank") + coalesce(col("g0"), lit(0L))).as("smp_rank"))
      .orderBy("lang", "smp_rank")
  }

  /** Temperature-weighted mixture sampling — the pretraining MIXING knob:
    * per-stratum quotas proportional to n^α under a global document
    * budget, α ∈ [0, 1] interpolating between a uniform mix (α = 0:
    * every language gets budget/|strata|) and the natural distribution
    * (α = 1: proportional sampling — no rebalancing). α < 1 upsamples
    * the tail languages relative to their share, the standard remedy for
    * head-language dominance in a multilingual corpus. Same
    * oversample-prune two-phase shape, determinism contract, and
    * thresholds-side quota guard as [[sampleStratified]] — only the
    * quota column differs:
    *
    *   w_s  = floor(n_s^α)  (integer weight),
    *   q_s  = min(n_s, max(1, floor(budget · w_s / Σw)))
    *
    * The weight is FLOORED to an integer so Σw is an exact integer sum —
    * order-independent, identical in both engines (float summation order
    * over strata would not be). For the declared α = 0.5, n^α = sqrt(n)
    * is IEEE-correctly-rounded in both engines, so floor(sqrt(n)) is
    * bit-identical; the quota's one double division budget·w/Σw has its
    * true value ≥ 1/Σw away from any integer it could mis-floor across
    * (magnitudes ≪ 2^52), so the floor is engine-stable too. Arbitrary α
    * goes through pow(), whose last-ulp behavior is libm-specific —
    * callers pinning a non-{0, ½, 1} α trade the oracle guarantee for
    * flexibility (documented, not declared).
    */
  private[graft] def sampleTemperature(
      spark: SparkSession, sfDir: String,
      alpha: Double = 0.5, budget: Long = 200L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // surface the weakened determinism contract at the CALL SITE, not
    // just the doc comment: pow()'s last-ulp behavior is libm-specific,
    // so a non-{0, ½, 1} α loses the cross-engine oracle guarantee
    if (alpha != 0.0 && alpha != 0.5 && alpha != 1.0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"sample_temperature alpha=$alpha uses pow(), whose last-ulp rounding is " +
          "platform-specific: quota boundaries may differ across engines/libms; " +
          "the DuckDB oracle guarantee holds only for alpha in {0, 0.5, 1}")
    val w =
      if (alpha == 0.0) lit(1L)
      else if (alpha == 0.5) floor(sqrt(col("n"))).cast("long")
      else if (alpha == 1.0) col("n")
      else floor(pow(col("n"), lit(alpha))).cast("long")
    val sumW = sum(w).over(Window.partitionBy())
    val quota = least(col("n"),
      greatest(lit(1L), floor((lit(budget) * w) / sumW).cast("long")))
    stratifiedSample(spark, sfDir, quota, tag = "sample_temperature")
  }

  /** The declared mixture spec for [[sampleMixture]]: per-language target
    * weights in PER-MILLE (integer, summing to 1000) so every quota is
    * exact integer arithmetic — no float weight normalization to drift
    * across engines. Both the Spark plan and the DuckDB oracle SQL are
    * generated from THIS value (the `domain_filter` rule-list discipline),
    * so the two engines cannot disagree about the spec.
    */
  private[graft] val MixtureSpec: Seq[(String, Long)] =
    Seq("en" -> 300L, "zh" -> 250L, "fr" -> 200L, "es" -> 150L, "de" -> 100L)

  /** Total mixture budget (documents, pre-repeat) for the declared key. */
  private[graft] val MixtureBudget = 600L

  /** Mixture building with REPEAT FACTORS — the upsampling half of the
    * pretraining mix that `sample_stratified`/`sample_temperature` (pure
    * downsamplers) cannot express: a mixture spec assigns each language a
    * target share of the token budget, and a tail language whose corpus is
    * SMALLER than its target share is repeated (multiple epochs of that
    * source per one epoch of the mix — the standard data-mixture remedy,
    * cf. the sampling-ratio tables of public LLM data recipes). For each
    * stratum with n docs and integer quota q = budget·w/1000:
    *
    *   base  = q div n            (full epochs of the source; 0 when q < n)
    *   extra = q − base·n < n     (one more copy for a deterministic subset)
    *
    * so Σ copies = q EXACTLY. The extra subset is the `extra` smallest
    * (hv, doc_id) under the seeded squared Karp-Rabin draw (`mix:` prefix —
    * same engine-replayable mix as `sample_stratified`, decorrelated by
    * prefix), so membership is a pure function of the key: stable across
    * runs, engines, partitionings, cluster sizes. Output is one row per
    * kept doc with its copy count (`n_copies` ≥ 1); a trainer materializes
    * repeats downstream (explode + `epoch_order` per copy is the handoff —
    * pinned in QueriesSpec).
    *
    * SCALE SHAPE: counts and the spec join are broadcast algebra on
    * |strata| rows; the draw is a narrow codegen'd map; the only rank
    * window runs on the oversample-PRUNED residue, whose size per stratum
    * is ≤ min(n, ~4·extra) ≤ ~4·q — bounded by the stratum's BUDGET
    * share, not the corpus (head strata prune hard because extra ≪ n;
    * upsampled strata satisfy n ≤ q, and a language is only upsampled
    * because its corpus is small). The same thresholds-side quota guard as
    * [[stratifiedSample]] fails loudly if the 4× oversample assumption
    * ever leaves a stratum short (zero-survivor strata included); the
    * guard scalar rides inside `n_copies` so column pruning cannot drop
    * it. The final per-doc copy count is a union + partial-agg'd groupBy
    * on (lang, doc_id) — no full-stratum window anywhere.
    */
  private def sampleMixture(spark: SparkSession, sfDir: String): DataFrame =
    sampleMixtureOf(spark, docs(spark, sfDir), MixtureSpec, MixtureBudget)

  /** The parameterized form behind [[sampleMixture]]: any integer
    * per-mille spec + budget over a (doc_id, lang) frame. */
  private[graft] def sampleMixtureOf(
      spark: SparkSession, d: DataFrame,
      spec: Seq[(String, Long)], budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val M = 1000000007L
    val Over = 4.0
    val specDf = spec.toDF("lang", "w_pm")
    // SPEC-side join, not corpus-side: an inner join keyed off the corpus
    // would silently drop a spec language with zero corpus rows — that
    // stratum's whole budget share vanishing with no error is exactly the
    // shortfall the quota guard below exists to make loud, so the absence
    // itself must fail in-plan too (assert_true rides n, which base/extra
    // consume — column pruning cannot drop it)
    val t = specDf
      .join(d.groupBy("lang").agg(count(lit(1)).as("n")), Seq("lang"), "left")
      .withColumn("n", coalesce(
        assert_true(col("n").isNotNull,
          concat(lit("sample_mixture: spec language "), col("lang"),
            lit(" has no corpus rows — its budget share would silently vanish"))
          ).cast("long"),
        col("n")))
      .withColumn("q", expr(s"($budget * w_pm) div 1000"))
      .withColumn("base", expr("q div n"))
      .withColumn("extra", col("q") - col("base") * col("n"))
      .withColumn("thresh",
        least(lit(M), ceil(lit(Over) * col("extra") * lit(M) / col("n")).cast("long")))
    val fold = expr("aggregate(transform(split(concat('mix:', CAST(doc_id AS STRING)), ''), " +
      "c -> ascii(c)), 0L, (a, b) -> (a * 131 + b) % 1000000007)")
    val pruned = d.select(col("doc_id"), col("lang"), fold.as("f"))
      .select(col("doc_id"), col("lang"), (col("f") * col("f") % lit(M)).as("hv"))
      .join(broadcast(t), "lang")
      .filter(col("hv") < col("thresh"))
    // thresholds-side guard (the stratifiedSample discipline): extra < n by
    // construction, so the prune must leave >= extra survivors per stratum;
    // a zero-survivor stratum still produces a failing (kept=null -> 0) row.
    val survivorCounts = pruned.groupBy("lang").agg(count(lit(1)).as("kept"))
    val guard = t.join(survivorCounts, Seq("lang"), "left")
      .select(coalesce(
        assert_true(coalesce(col("kept"), lit(0L)) >= col("extra"),
          concat(lit("sample_mixture: stratum "), col("lang"),
            lit(" kept "), coalesce(col("kept"), lit(0L)), lit(" of "), col("n"),
            lit(" rows under the 4x oversample prune — below extra quota "),
            col("extra"), lit("; raise Over"))).cast("long"),
        lit(0L)).as("g"))
      .agg(sum("g").as("g0"))
    val extras = pruned
      .withColumn("rnk",
        row_number().over(Window.partitionBy("lang").orderBy(col("hv"), col("doc_id"))))
      .filter(col("rnk") <= col("extra"))
      .select(col("lang"), col("doc_id"), lit(1L).as("c"))
    val basePart = d.select(col("doc_id"), col("lang"))
      .join(broadcast(t.select(col("lang"), col("base"))), "lang")
      .filter(col("base") >= 1L)
      .select(col("lang"), col("doc_id"), col("base").as("c"))
    basePart.unionByName(extras)
      .groupBy("lang", "doc_id").agg(sum("c").as("n_copies"))
      .crossJoin(broadcast(guard))
      .select(col("lang"), col("doc_id"),
        (col("n_copies") + coalesce(col("g0"), lit(0L))).as("n_copies"))
      .orderBy("lang", "doc_id")
  }

  /** Per-language token budget for [[sampleTokens]] (whitespace tokens —
    * the `text_stats` tokenization both engines share). */
  private[graft] val TokenBudget = 4000L

  /** TOKEN-budget stratified sampling — quotas in the unit a pretraining
    * mix is actually specified in: "take B tokens per language", not B
    * documents (document quotas over-weight short-doc languages). The
    * selection is the GREEDY PREFIX of the stratum in deterministic
    * (hv, doc_id) draw order (`tokb:` seeded squared Karp-Rabin — the
    * `sample_stratified` mix): keep every doc whose preceding cumulative
    * token count is still below the budget, so the crossing doc is
    * included and the realized total is the first prefix sum ≥ B (or the
    * whole stratum when it holds fewer than B tokens). Membership is a
    * pure function of the key — stable across runs, engines,
    * partitionings.
    *
    * SCALE SHAPE — the [[stratifiedSample]] oversample-prune idiom
    * generalized from ROW quotas to WEIGHTED quotas: a uniform draw puts
    * the budget boundary at hv ≈ B/T·M (T = stratum tokens), so a narrow
    * prune at `thresh = min(M, ceil(Over·B·M/T))` bounds the residue to
    * ~Over·B TOKENS per stratum — the running-sum window runs on that
    * residue only, bounded by the stratum's BUDGET, not the corpus.
    * Correctness of the rewrite: `hv < thresh` is prefix-closed in the
    * (hv, doc_id) order, so if the residue holds ≥ min(B, T) tokens it
    * contains the true greedy prefix and the two-phase result EQUALS the
    * naive full-stratum scan; that premise is ENFORCED by the same
    * thresholds-side guard as the row-quota samplers (survivor TOKEN
    * sums left-joined onto thresholds, zero-survivor strata fail loudly,
    * the guard scalar rides inside `sel_rank`).
    */
  private def sampleTokens(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val M = 1000000007L
    val Over = 4.0
    val B = TokenBudget
    val d = docs(spark, sfDir).select(col("doc_id"), col("lang"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val t = d.groupBy("lang").agg(sum("n_tok").as("toks"))
      .withColumn("thresh",
        least(lit(M), ceil(lit(Over) * lit(B) * lit(M) / col("toks")).cast("long")))
    val fold = expr("aggregate(transform(split(concat('tokb:', CAST(doc_id AS STRING)), ''), " +
      "c -> ascii(c)), 0L, (a, b) -> (a * 131 + b) % 1000000007)")
    val pruned = d.select(col("doc_id"), col("lang"), col("n_tok"), fold.as("f"))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        (col("f") * col("f") % lit(M)).as("hv"))
      .join(broadcast(t), "lang")
      .filter(col("hv") < col("thresh"))
    val survivorToks = pruned.groupBy("lang").agg(sum("n_tok").as("kept_toks"))
    val guard = t.join(survivorToks, Seq("lang"), "left")
      .select(coalesce(
        assert_true(coalesce(col("kept_toks"), lit(0L)) >= least(lit(B), col("toks")),
          concat(lit("sample_tokens: stratum "), col("lang"),
            lit(" kept "), coalesce(col("kept_toks"), lit(0L)), lit(" of "), col("toks"),
            lit(" tokens under the 4x oversample prune — residue cannot cover the "),
            lit(B), lit("-token budget; raise Over"))).cast("long"),
        lit(0L)).as("g"))
      .agg(sum("g").as("g0"))
    val w = Window.partitionBy("lang").orderBy(col("hv"), col("doc_id"))
    pruned
      .withColumn("cum_tok",
        sum("n_tok").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("sel_rank", row_number().over(w).cast("long"))
      .filter(col("cum_tok") - col("n_tok") < lit(B))
      .crossJoin(broadcast(guard))
      .select(col("lang"), col("doc_id"), col("n_tok"),
        (col("sel_rank") + coalesce(col("g0"), lit(0L))).as("sel_rank"), col("cum_tok"))
      .orderBy("lang", "sel_rank")
  }

  /** Vocabulary frequency analysis — top-5 tokens per language, the
    * vocab-building primitive of a tokenizer pipeline. Computed as a
    * SALTED TWO-PHASE top-k (the same shape `agg_salted` proves for sums):
    * token counts partial-aggregate on (lang, token); phase 1 takes top-5
    * within (lang, salt-of-token) sub-groups — 8 parallel sorts per
    * language over disjoint vocab slices; phase 2 re-ranks the ≤40
    * survivors per language. Any global top-5 token is top-5 in its own
    * salt slice, so the result is IDENTICAL to a direct per-language
    * window — which is exactly what the oracle computes, proving the
    * salted rewrite semantics-preserving. At 100 TB a 100M-token
    * per-language vocab never funnels into one window sort; the salt
    * fan-out bounds each sorted run.
    */
  private def vocabTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs(spark, sfDir)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
      .withColumn("salt", expr("ascii(substring(tok, 1, 1)) % 8"))
    val w1 = Window.partitionBy("lang", "salt").orderBy(col("cnt").desc, col("tok"))
    val w2 = Window.partitionBy("lang").orderBy(col("cnt").desc, col("tok"))
    counts.withColumn("rn1", row_number().over(w1)).filter(col("rn1") <= 5)
      .withColumn("rank", row_number().over(w2).cast("long")).filter(col("rank") <= 5)
      .select("lang", "rank", "tok", "cnt")
      .orderBy("lang", "rank")
  }

  /** Frequent char-trigram profile per language — the lang-ID model
    * builder (the `lang_id` marker table is exactly "the n-grams that
    * dominate each language"; at 100 TB this is how such a profile is
    * trained) — via the TWO-PASS heavy-hitters composition:
    *
    * Pass 1: `misra_gries(gram, k)` per language — a BOUNDED aggregation
    * buffer (<=k counters), so map-side partial aggregation reduces every
    * task to <=k candidates before the exchange; the shuffle carries
    * |langs| x |tasks| x k rows where an exact `groupBy(gram)` must move
    * the whole distinct-gram domain. Pass 2: recount ONLY the candidates
    * exactly (broadcast join of the <=k·|langs| candidate rows against
    * the gram stream — map-side filter, near-empty shuffle) and keep
    * grams with cnt·(k+1) > n. The Misra-Gries superset guarantee (any
    * gram with true share > 1/(k+1) is a candidate) makes the candidate
    * restriction LOSSLESS, so the output equals the exact full-domain
    * answer — which is precisely what the DuckDB oracle computes: an
    * oracle pass IS a witness of the sketch guarantee on this corpus.
    * k = 127 engages the sketch honestly here (377 distinct trigrams per
    * language, so slot eviction and merge-subtraction both fire) while
    * the ~0.78 % threshold keeps a stable multi-row head (top shares
    * ~1.8 %).
    */
  private def heavyHitters(spark: SparkSession, sfDir: String): DataFrame =
    heavyHittersOf(docs(spark, sfDir))

  private[graft] def heavyHittersOf(d: DataFrame): DataFrame = {
    import graft.functions.MisraGries.misra_gries_grams
    import org.apache.spark.sql.expressions.Window
    val spark = d.sparkSession
    val k = 127
    // null langs can never reach the output (the totals join and the
    // join form's recount are both inner equi-joins on lang, which drop
    // nulls) — filter them before the candidate pass so the driver-side
    // lang sort below cannot NPE on a null key (r21 ADVICE)
    //
    // r22 (guide §2.3/§4; OPTIMIZATION_r22.md `hh2`): the candidate pass ran
    // explode(char_grams) → misra_gries(gram), materializing one array
    // cell AND one aggregation-input row per gram occurrence (~1 per
    // corpus char: 0.36 s generate + 0.72 s aggregate of the key's
    // ~1.5 s — paid EAGERLY at construction by the candidate collect).
    // misra_gries_grams walks each doc's bytes once and feeds the same
    // <=k-counter sketch in-row; n = Σ(cp_count − 2) over the filtered
    // docs equals the exploded count(*) exactly (every doc has cp ≥ 3,
    // contributing cp − 2 grams). Sketch bounds are stream-order-
    // independent, so the recount below still yields the exact
    // full-domain answer (QueriesSpec pins output identity vs the join
    // form; the oracle row is unchanged).
    val cand = d
      .filter(col("lang").isNotNull && length(col("text")) >= 3)
      .groupBy("lang")
      .agg(misra_gries_grams(col("text"), k, 3).as("cands"),
        sum(length(col("text")).cast("long") - 2L).as("n"))
      .select(col("lang"), col("n"), explode(col("cands")).as("c"))
      .select(col("lang"), col("n"), col("c.item").as("gram"))
    // r21 recount (guide §2.3/§4): the candidate set is metadata-scale
    // and was already broadcast for the recount join — collect it once
    // (the codebook-collect idiom) and recount per doc through the
    // zero-copy [[graft.functions.CandGramCount]] kernel instead of
    // re-materializing every gram occurrence as a join-probe row
    // (r21 stage profile, commit b952ce9: the join recount was 1.92 s of
    // the key's 1.92 s at sf0.1). Summing per-doc counts per (lang, gram)
    // is the same exact
    // count; the Misra-Gries superset guarantee and the cnt·(k+1) > n
    // filter are untouched, so the output still equals the exact
    // full-domain answer (oracle unchanged; QueriesSpec pins identity
    // against the join form).
    val candRows = cand.collect()
    val byLang = candRows.groupBy(_.getString(0))
    val langs = byLang.keys.toArray.sorted
    val tbl = spark.sparkContext.broadcast(graft.functions.CandGramCount.CandTable(
      langs, langs.map(l => byLang(l).map(_.getString(2)))))
    val langN = spark.createDataFrame(
      spark.sparkContext.parallelize(
        byLang.toSeq.map { case (l, rows) => org.apache.spark.sql.Row(l, rows.head.getLong(1)) }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType))))
    val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("gram"))
    d.filter(col("lang").isNotNull && length(col("text")) >= 3)
      .select(col("lang"),
        explode(graft.functions.CandGramCount.cand_gram_count(
          col("text"), col("lang"), tbl, 3)).as("c"))
      .groupBy(col("lang"), col("c.gram").as("gram"))
      .agg(sum(col("c.cnt")).as("cnt"))
      .join(broadcast(langN), Seq("lang"))
      .filter(col("cnt") * (k + 1) > col("n"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("share_ppm", expr("cnt * 1000000 DIV n"))
      .select("lang", "rank", "gram", "cnt", "n", "share_ppm")
      .orderBy("lang", "rank")
  }

  /** Distributed BPE merge training — TOKENIZER INDUCTION, the step a
    * training-data pipeline runs before any `token_count`-style
    * accounting means anything: learn the first `rounds` byte-pair
    * merges from corpus statistics (Sennrich-style: each round counts
    * all adjacent symbol pairs weighted by word frequency, merges the
    * most frequent pair everywhere, repeats).
    *
    * The SCALE SHAPE is the standard production one: ONE corpus scan
    * builds the distinct-word frequency table (partial-agg'd groupBy —
    * the same `vocab_topk` input), and every training round runs on
    * THAT table (|vocab| rows — millions at 100 TB, trivially
    * partitioned), never the corpus again. Per driver round: a
    * pair-count partial aggregation, a top-(batch+1) via orderBy+limit
    * (planned as TakeOrdered — no global sort), batch+1 collected rows
    * (metadata scale), and a narrow string-replace map applying the
    * accepted merges. Rounds are BATCHED (round 15): up to `batch`
    * pairwise-non-conflicting merges land per round under an exactness
    * rule that keeps the output bit-identical to one-merge-per-round
    * training ([[bpeMergesTrained]]) — the driver-round count, i.e. the
    * cluster-job floor that makes a 32k-merge vocabulary days instead
    * of hours, drops by up to `batch`×. Word-table generations are
    * tracked localCheckpoints with deterministic release (the CC
    * discipline — lineage stays flat across rounds and no generation's
    * blocks strand).
    *
    * Words are encoded as bar-wrapped symbols joined by two spaces
    * (`"bat"` → `"|b|  |a|  |t|"`): the double-space separator makes
    * Java-style left-to-right non-overlapping `replace` EXACTLY the BPE
    * leftmost-greedy merge ("a a a a" merges to "aa aa", the shared-
    * boundary case a single-space encoding gets wrong), and the bars
    * make symbol boundaries unambiguous (`"|a|  |t|"` cannot match
    * inside `"|ba|  |t|"`). The encoding assumes no token contains a
    * bar — ENFORCED in-plan (assert_true riding the freq column, the
    * `chunk_dedup` idiom), since a bar-bearing token would silently
    * corrupt symbol boundaries in a way no downstream check could see.
    *
    * Ties on pair frequency break lexicographically on (left, right) —
    * the UNWRAPPED symbol strings, not their bar-wrapped encoding (fixed
    * round 15: '|' outsorts letters, silently inverting the rule on
    * ties) — fully deterministic across runs/partitionings. No oracle
    * (iterative fixpoint, not ANSI-expressible); QueriesSpec pins the
    * whole merge list against an independent driver-side reference BPE.
    */
  /** Default merge-batch width of the trainer (see [[bpeMergesTrained]]):
    * every batched run is PROVABLY identical to the sequential trainer,
    * so the width is a pure rounds-vs-merges knob with no quality
    * tradeoff. How much it saves depends on how symbol-disjoint the
    * head of the pair distribution is: natural text chains its top
    * pairs through shared letters, so EXACT batching is modest there
    * (BPE_BENCH.json, sf0.01: 90 → 78 driver rounds for 89 merges,
    * identical lists at widths 1/8/32/128), while wider symbol distributions
    * batch fat (PropertySpec's 8-letter corpus). Raising the width
    * never changes output and never adds driver rounds, so the default
    * errs high.
    */
  val MergeBatchDefault = 8

  private[graft] def bpeMerges(
      spark: SparkSession, sfDir: String, rounds: Int = 10,
      batch: Int = MergeBatchDefault): DataFrame =
    bpeMergesOf(spark, docs(spark, sfDir), rounds, batch)

  private[graft] def bpeMergesOf(spark: SparkSession, d: DataFrame,
      rounds: Int, batch: Int = MergeBatchDefault): DataFrame = {
    import spark.implicits._
    bpeMergesTrained(spark, d, rounds, batch)._1
      .toDF("merge_rank", "left", "right", "pair_freq")
      .orderBy("merge_rank")
  }

  /** The trainer core — BATCHED merge rounds (round 15, r14 verdict
    * task 2): each driver round collects the top `batch + 1` pair
    * candidates and applies a PREFIX of them chosen so the result is
    * BIT-IDENTICAL to the sequential (one-merge-per-round) trainer —
    * cutting driver rounds (and so cluster job floors) by up to
    * `batch`× where the pair distribution allows (see
    * [[MergeBatchDefault]] for the measured real-corpus curve).
    * Returns (merges, driver rounds used).
    *
    * Stop-at-first-conflict is MAXIMAL for an exact batcher, not a
    * shortcut: a candidate ranked below the first conflicting pair has
    * count ≤ that pair's, and acceptance needs count STRICTLY above it
    * (the bound below), so skipping the conflict and scanning on can
    * never admit anything — the classic skip-and-continue batcher is
    * inherently approximate.
    *
    * Why the prefix rule is exact (not an approximation): after applying
    * the rank-1 merge, pair counts can only change for pairs SHARING A
    * SYMBOL with it (those only DECREASE — a merge removes adjacencies,
    * never creates ones between existing symbols) or for NEW pairs
    * involving its output symbol (each new pair `(lr, z)` occurrence
    * comes from an old `l r z` run, so its count is bounded by an old
    * pair `(r, z)` that shares a symbol — which, candidates being a
    * rank prefix, is bounded by the first REJECTED candidate's count).
    * So the sequential trainer's next pick is exactly the next accepted
    * candidate provided (a) its symbols are disjoint from every earlier
    * accepted merge's, and (b) its count is STRICTLY above the bound
    * (ties could flip on the lexicographic tie-break, so equality is
    * not kept). One genuine subtlety: if an accepted merge's OUTPUT
    * string equals an already-existing multi-char symbol (two merge
    * paths spelling the same string — "ab"+"c" and "a"+"bc"), pairs
    * involving that symbol can INCREASE, breaking the bound — the
    * trainer tracks all previously created symbol strings driver-side
    * and closes the batch at such a merge (acceptance up to and
    * including it stays exact; the next round recounts). The batch is
    * always a RANK PREFIX — conflicted candidates end the batch, they
    * are not skipped — and the rank-1 candidate is always kept, so
    * progress is guaranteed and `batch = 1` IS the sequential trainer.
    * PropertySpec pins batched ≡ reference-sequential at 64 merges on
    * randomized corpora engineered to hit the collision guard.
    */
  private[graft] def bpeMergesTrained(spark: SparkSession, d: DataFrame,
      rounds: Int, batch: Int,
      driverVocabMax: Int = BpeDriverVocabMax): (Seq[(Long, String, String, Long)], Int) = {
    require(batch >= 1, s"batch must be >= 1, got $batch")
    import org.apache.spark.sql.GraftShim
    val guardedFreq = col("freq") + coalesce(
      assert_true(not(col("w").contains("|")),
        concat(lit("bpe_merges: token '"), col("w"),
          lit("' contains the symbol-boundary bar — encoding would corrupt silently"))
        ).cast("long"),
      lit(0L))
    val raw = d
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(guardedFreq.as("freq"),
        concat(lit("|"), array_join(split(col("w"), ""), "|  |"), lit("|")).as("s"))
    // r22 (guide §1.2 step 1): every training round ran as 2-3 cluster
    // jobs (pair-count + TakeOrdered collect, then a replace projection
    // + localCheckpoint) over the WORD-FREQUENCY table — which is
    // vocabulary-scale, not corpus-scale. When that table fits the
    // collect cap (the codebook/CharLmLiteralMax idiom), collect it once
    // and run EVERY round driver-side: one cluster job total instead of
    // ~3 per round, zero checkpoints. The driver rounds replicate the
    // distributed rounds operation for operation (same pair sums, same
    // UTF-8-binary tie-break, same batch-prefix acceptance via the
    // SHARED acceptBatchPrefix, same left-to-right non-overlapping
    // merge application), so the merge list is bit-identical —
    // PropertySpec pins both paths against the independent sequential
    // reference. Over the cap (a real 100 TB vocabulary), the
    // distributed rounds below run unchanged.
    val vocabRows = raw.limit(driverVocabMax + 1).collect()
    if (vocabRows.length <= driverVocabMax)
      return bpeMergesDriverSide(
        vocabRows.map(r => (r.getLong(0), r.getString(1))), rounds, batch)
    var (words, handle) = GraftShim.localCheckpointTracked(raw)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    // every multi-char symbol string created so far (single chars cannot
    // collide with a ≥2-char merge output) — the collision guard above
    val knownMulti = scala.collection.mutable.Set.empty[String]
    def inner(sym: String): String = sym.stripPrefix("|").stripSuffix("|")
    var driverRounds = 0
    try {
      var exhausted = false
      while (merges.size < rounds && !exhausted) {
        val want = math.min(batch, rounds - merges.size)
        val top = words
          .select(col("freq"), split(col("s"), "  ").as("a"))
          .filter(size(col("a")) >= 2) // sequence(1, 0) would DESCEND, not empty
          .select(col("freq"), explode(expr(
            "transform(sequence(1, size(a) - 1), " +
              "i -> named_struct('l', element_at(a, i), 'r', element_at(a, i + 1)))")).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum("freq").as("pf"))
          // ties order on the UNWRAPPED symbol strings: the bar wrapper
          // is encoding, not content, and '|' (0x7C) sorting above every
          // letter would otherwise rank "|a|" AFTER "|acc|" — the exact
          // inversion of the documented (left, right) lexicographic rule
          // (latent until round 15's 64-merge property corpora hit ties)
          .orderBy(col("pf").desc,
            translate(col("l"), "|", ""), translate(col("r"), "|", ""))
          .limit(want + 1).collect()
        driverRounds += 1
        if (top.isEmpty) exhausted = true
        else {
          val cand = top.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toVector
          val accepted = acceptBatchPrefix(cand, want, knownMulti)
          accepted.foreach { case (l, rr, pf) =>
            merges += ((merges.size + 1L, inner(l), inner(rr), pf))
            knownMulti += (inner(l) + inner(rr))
          }
          // call_function avoids SQL-literal quoting of corpus-derived
          // symbols (replace() is left-to-right non-overlapping = BPE);
          // accepted merges are symbol-disjoint, so the chained replaces
          // commute — applying them in rank order in ONE projection is
          // the sequential application
          val merged = accepted.foldLeft(words) { case (wdf, (l, rr, _)) =>
            wdf.withColumn("s", call_function("replace", col("s"),
              lit(s"$l  $rr"), lit(s"|${inner(l)}${inner(rr)}|")))
          }
          val (w2, h2) = GraftShim.localCheckpointTracked(merged)
          GraftShim.releaseCheckpoint(handle)
          words = w2; handle = h2
        }
      }
    } finally GraftShim.releaseCheckpoint(handle)
    (merges.toSeq, driverRounds)
  }

  /** Cap (word-table rows) under which [[bpeMergesTrained]] collects the
    * word-frequency table and trains every round driver-side. The table
    * is VOCABULARY-scale (distinct whitespace tokens), so test/bench
    * corpora sit orders of magnitude under it; a 100 TB corpus'
    * multi-million-row vocabulary exceeds it and trains through the
    * distributed rounds, which are bit-identical by construction
    * (PropertySpec pins both against the sequential reference).
    */
  val BpeDriverVocabMax = 65536

  /** Greedy batch-prefix acceptance under the exactness rule — shared by
    * the distributed and driver-side trainers so the batching semantics
    * CANNOT drift between them. `cand` is the rank-ordered top
    * `want + 1` candidate list (bar-wrapped symbols); returns the
    * accepted rank prefix.
    *
    * Outputs created THIS batch (`outsSeen`): a second accepted merge
    * spelling the same output would let a new pair collect contributions
    * from both (sum can break the bound), so it closes the batch exactly
    * like a knownMulti collision — likely unreachable under
    * leftmost-greedy global merging (the two spellings of one string
    * cannot coexist as pairs), but the guard is one set lookup and makes
    * the exactness argument unconditional. A stop by the batch cap or
    * the collision guard with unseen candidates remaining uses the next
    * candidate's count as the bound: it bounds whatever sequential
    * recounting could surface.
    */
  private def acceptBatchPrefix(cand: Vector[(String, String, Long)], want: Int,
      knownMulti: scala.collection.Set[String]): Vector[(String, String, Long)] = {
    def inner(sym: String): String = sym.stripPrefix("|").stripSuffix("|")
    var kept = Vector(cand(0))
    var dirty = Set(cand(0)._1, cand(0)._2, "|" + inner(cand(0)._1) + inner(cand(0)._2) + "|")
    var outsSeen = Set(inner(cand(0)._1) + inner(cand(0)._2))
    var open = !knownMulti.contains(inner(cand(0)._1) + inner(cand(0)._2))
    var boundPf: Option[Long] = None
    var i = 1
    while (open && i < cand.length && kept.size < want) {
      val (l, r, pf) = cand(i)
      if (dirty.contains(l) || dirty.contains(r)) { boundPf = Some(pf); open = false }
      else {
        val out = inner(l) + inner(r)
        kept :+= cand(i)
        dirty = dirty + l + r + ("|" + out + "|")
        if (knownMulti.contains(out) || outsSeen.contains(out)) open = false
        outsSeen += out
        i += 1
      }
    }
    if (boundPf.isEmpty && i < cand.length) boundPf = Some(cand(i)._3)
    boundPf match {
      case Some(b) => kept.head +: kept.tail.takeWhile(_._3 > b)
      case None => kept // candidate list globally exhausted
    }
  }

  /** Every training round over the COLLECTED word-frequency table — the
    * within-cap arm of [[bpeMergesTrained]]. Replicates the distributed
    * rounds operation for operation: pair counts are freq sums over
    * adjacent symbol pairs; candidate order is (count desc, unwrapped
    * left, unwrapped right) with strings compared as UTF-8 BINARY
    * (UTF8String.compareTo — Spark's string ordering; Java's
    * UTF-16-code-unit compareTo differs above the BMP); batch acceptance
    * is the shared [[acceptBatchPrefix]]; merge application is the
    * left-to-right non-overlapping adjacent-pair merge (exactly what the
    * double-space `replace` does on the encoded string). Returns
    * (merges, driver rounds), driver rounds counted exactly as the
    * distributed loop counts its collect rounds.
    */
  private def bpeMergesDriverSide(vocab: Array[(Long, String)], rounds: Int,
      batch: Int): (Seq[(Long, String, String, Long)], Int) = {
    import org.apache.spark.unsafe.types.UTF8String
    def inner(sym: String): String = sym.stripPrefix("|").stripSuffix("|")
    def u8(sym: String): UTF8String = UTF8String.fromString(sym.replace("|", ""))
    var words: Array[(Long, Array[String])] =
      vocab.map { case (f, s) => (f, s.split("  ")) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    val knownMulti = scala.collection.mutable.Set.empty[String]
    var driverRounds = 0
    var exhausted = false
    while (merges.size < rounds && !exhausted) {
      val want = math.min(batch, rounds - merges.size)
      val pf = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (f, syms) =>
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          pf.update(k, pf.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      driverRounds += 1
      if (pf.isEmpty) exhausted = true
      else {
        val cand = pf.iterator.map { case ((l, r), c) => (l, r, c) }.toArray
          .sortWith { case ((l1, r1, c1), (l2, r2, c2)) =>
            if (c1 != c2) c1 > c2
            else {
              val cl = u8(l1).compareTo(u8(l2))
              if (cl != 0) cl < 0 else u8(r1).compareTo(u8(r2)) < 0
            }
          }
          .take(want + 1).toVector
        val accepted = acceptBatchPrefix(cand, want, knownMulti)
        accepted.foreach { case (l, rr, c) =>
          merges += ((merges.size + 1L, inner(l), inner(rr), c))
          knownMulti += (inner(l) + inner(rr))
        }
        // rank order, each merge one full left-to-right pass (accepted
        // merges are symbol-disjoint, so the passes commute — same
        // result as the distributed form's chained replaces)
        accepted.foreach { case (l, rr, _) =>
          val out = "|" + inner(l) + inner(rr) + "|"
          words = words.map { case (f, syms) =>
            var hit = false
            var i = 0
            while (!hit && i + 1 < syms.length) {
              if (syms(i) == l && syms(i + 1) == rr) hit = true
              i += 1
            }
            if (!hit) (f, syms)
            else {
              val buf = new scala.collection.mutable.ArrayBuffer[String](syms.length)
              var j = 0
              while (j < syms.length) {
                if (j + 1 < syms.length && syms(j) == l && syms(j + 1) == rr) {
                  buf += out; j += 2
                } else { buf += syms(j); j += 1 }
              }
              (f, buf.toArray)
            }
          }
        }
      }
    }
    (merges.toSeq, driverRounds)
  }

  /** BPE APPLICATION — the other half of the tokenizer: encode every
    * document with the merge table [[bpeMerges]] learned, the step a
    * pretraining pipeline runs at corpus scale once induction is done.
    * Per document: whitespace words → bar-wrapped symbol runs (the same
    * encoding the trainer uses, so train and encode cannot disagree on
    * merge semantics) → the learned merges applied IN RANK ORDER, each as
    * one left-to-right non-overlapping `replace` (= the BPE
    * leftmost-greedy merge, property-tested in QueriesSpec on adversarial
    * symbol runs) → the per-word token runs concatenated in document
    * order.
    *
    * In-order single-pass application equals the classic priority-queue
    * BPE encode whenever no later merge's OUTPUT string equals an earlier
    * merge's PART (only then could a later merge re-create a pair an
    * earlier pass already consumed) — QueriesSpec checks that condition
    * on the learned table and pins the encoding against an independent
    * driver-side encoder.
    *
    * Scale shape: the merge table is 10 collected rows (metadata scale —
    * the [[bpeMerges]] training cost dominates; at 100 TB the table is
    * trained once and reused), folded into the plan as LITERALS riding a
    * narrow per-row map — the corpus is scanned ONCE, nothing shuffles
    * before the output sort, and the whole chain is codegen'd string
    * work. The corpus is bar-free by the trainer's in-plan guard (a
    * bar-bearing token fails `bpe_merges` loudly before it could corrupt
    * this encoding silently).
    *
    * Output per doc: token count after merges, the pre-merge symbol
    * (char) count, merges applied (= chars − tokens, since every merge
    * joins exactly two symbols), and the first 8 tokens — enough to
    * verify the encoding and feed a token-budget planner. No oracle (the
    * merge table comes from the iterative trainer); deterministic, pinned
    * in QueriesSpec.
    */
  private[graft] def bpeEncode(spark: SparkSession, sfDir: String): DataFrame =
    bpeEncodeNativeFrom(docs(spark, sfDir),
      bpeMerges(spark, sfDir).collect().map(r => (r.getString(1), r.getString(2))).toSeq)

  /** The VOCABULARY-SCALE encoding core: one [[graft.functions.BpeEncode]]
    * native-expression pass per document over the rank-ordered merge
    * list — per-doc cost independent of merge count, so a 32k-merge
    * production vocabulary encodes in the same plan shape as the
    * 10-merge key (the replace-chain form's plan grows linearly and
    * dies long before that; see the expression's scaladoc for the
    * priority-queue ≡ in-order-pass equivalence and its pins). Backs
    * the declared key and the persisted-table path; output is
    * row-identical to [[bpeEncodeFrom]] on any trained table
    * (QueriesSpec pins it).
    */
  private[graft] def bpeEncodeNativeFrom(d: DataFrame, merges: Seq[(String, String)]): DataFrame =
    d.select(col("doc_id"),
        graft.functions.BpeEncode.bpe_encode(col("text"), merges).as("e"))
      .select(col("doc_id"),
        col("e.n_words").as("n_words"),
        col("e.n_chars").as("n_chars"),
        size(col("e.toks")).cast("long").as("n_tok"),
        (col("e.n_chars") - size(col("e.toks"))).as("n_merged"),
        array_join(slice(col("e.toks"), 1, 8), " ").as("head_toks"))
      .orderBy("doc_id")

  /** The REPLACE-CHAIN encoding form over an explicit rank-ordered merge
    * list: each merge applied in rank order as one left-to-right
    * non-overlapping codegen'd `replace` over the bar-wrapped symbol
    * run. Retained as the independent Column-algebra implementation the
    * native form is pinned row-identical against (QueriesSpec) — its
    * plan grows linearly with the table, so it serves SMALL tables only;
    * the declared key and the persisted-table path run
    * [[bpeEncodeNativeFrom]], whose cost is vocabulary-independent.
    *
    * Two guards make the train-once path as safe as the inline one:
    * (1) the merge list is validated DRIVER-SIDE (it is already collected,
    * ≤ tens of rows): no later merge's output may equal an earlier
    * merge's part — the exact condition under which single-pass in-order
    * application equals standard priority-queue BPE (see [[bpeEncode]]'s
    * doc). A persisted table from a foreign trainer that violates it
    * fails loudly here instead of silently diverging. (2) the corpus is
    * re-checked bar-free IN-PLAN (assert_true riding `n_chars`, the
    * trainer's own idiom) — the trainer's guard only covered the corpus
    * it trained on, not whatever corpus this encode runs over.
    */
  private[graft] def bpeEncodeFrom(d: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    for (j <- merges.indices; i <- 0 until j) {
      val out = merges(j)._1 + merges(j)._2
      require(merges(i)._1 != out && merges(i)._2 != out,
        s"merge table violates single-pass-ordered BPE equivalence: merge #${j + 1}'s " +
          s"output '$out' equals a part of earlier merge #${i + 1} " +
          s"('${merges(i)._1}', '${merges(i)._2}') — in-order application would " +
          "diverge from standard BPE; retrain with bpeMerges")
    }
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      require(!l.contains("|") && !r.contains("|"),
        s"merge table row #${i + 1} ('$l', '$r') contains the symbol-boundary bar — " +
          "not a bpeMerges-trained table")
    }
    def encodeWord(w: Column): Column =
      merges.foldLeft(concat(lit("|"), array_join(split(w, ""), "|  |"), lit("|"))) {
        case (acc, (l, r)) =>
          call_function("replace", acc, lit(s"|$l|  |$r|"), lit(s"|$l$r|"))
      }
    val barGuard = coalesce(
      assert_true(not(exists(col("ws"), w => w.contains("|"))),
        concat(lit("bpe encode: doc "), col("doc_id").cast("string"),
          lit(" contains the symbol-boundary bar — encoding would corrupt silently"))
      ).cast("long"),
      lit(0L))
    d.select(col("doc_id"),
        filter(split(col("text"), " "), w => length(w) > lit(0)).as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        (aggregate(col("ws"), lit(0L), (a, w) => a + length(w)) + barGuard).as("n_chars"),
        flatten(transform(col("ws"), w => split(encodeWord(w), "  "))).as("toks"))
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        size(col("toks")).cast("long").as("n_tok"),
        (col("n_chars") - size(col("toks"))).as("n_merged"),
        array_join(transform(slice(col("toks"), 1, 8),
          t => translate(t, "|", "")), " ").as("head_toks"))
      .orderBy("doc_id")
  }

  /** Persists the learned merge table — the tokenizer's train-once
    * artifact, the analog of the ANN codebook tables: training
    * ([[bpeMerges]], the expensive iterative scan) runs once, every
    * later encode loads 10 metadata-scale rows instead of retraining.
    */
  def writeMergeTable(spark: SparkSession, sfDir: String, table: String,
      rounds: Int = 10): Unit = {
    IndexTable.clearStaleLocation(spark, table)
    bpeMerges(spark, sfDir, rounds)
      .write.mode("overwrite").format("parquet").saveAsTable(table)
  }

  /** Encodes the corpus with merges loaded from a persisted merge table
    * (rank order restored from `merge_rank`) — row-identical to the
    * inline-training `bpe_encode` key by construction (same
    * [[bpeEncodeNativeFrom]] core; pinned in QueriesSpec). The
    * production train-once path, and the one that serves REAL
    * vocabularies: the native core's per-doc cost does not grow with
    * the table, so this same call works at 32k merges.
    */
  def bpeEncodeWithTable(spark: SparkSession, sfDir: String, table: String): DataFrame =
    bpeEncodeNativeFrom(docs(spark, sfDir),
      spark.table(table).orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq)

  /** Overlapping token-window chunking — the LLM-pretraining document
    * segmentation (context-window packing with overlap so no span is
    * seen only at a boundary), as distinct from `chunk_split`'s
    * byte-protocol framing. Window 50 tokens, stride 40 (10-token
    * overlap): chunk i covers tokens [i·40, i·40+50), chunks emitted
    * while i·40 < n, so the tail chunk is short rather than dropped —
    * integer arithmetic only, `(n + 39) div 40` chunks, identical in
    * both engines. One narrow generator per document (explode of a
    * per-row sequence) — no shuffle at all until the oracle's ORDER BY.
    */
  private def tokenChunk(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(expr("sequence(0, (size(toks) + 39) div 40 - 1)")).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        expr("least(50, size(toks) - chunk_id * 40)").cast("long").as("n_tok"),
        expr("array_join(slice(toks, chunk_id * 40 + 1, 50), ' ')").as("chunk_text"))
      .orderBy("doc_id", "chunk_id")

  /** One packed chunk assignment: which training sequence a chunk landed
    * in and at which token offset.
    */
  private[graft] final case class PackedChunk(
      shard: Long, seq_id: Long, doc_id: Long, chunk_id: Long,
      n_tok: Long, offset: Long)

  /** Greedy sequence PACKING of [[tokenChunk]] windows into fixed
    * token-budget training sequences (512 here) — the step after
    * chunking in a pretraining pipeline: short tails are concatenated
    * into full sequences instead of padded, so the token budget is spent
    * on data, not padding. First-fit in (doc_id, chunk_id) order within
    * each shard: a chunk opens a new sequence when it would overflow the
    * budget. A chunk LARGER than the budget occupies a sequence alone
    * (the standard oversize exception) — unreachable with the default
    * pairing, since [[tokenChunk]] windows cap at 50 tokens < 512.
    *
    * Scale shape: packing is inherently SEQUENTIAL, so it cannot be one
    * big fold — instead the corpus shards by `doc_id % 32` (at 100 TB:
    * thousands of shards), each shard packs independently, and a shard
    * never leaves its partition: `repartition(shard)` then
    * `sortWithinPartitions` then ONE `mapPartitions` pass holding
    * per-shard running state — the documented legitimate mapPartitions
    * slot (imperative per-partition logic no Column algebra expresses).
    * Deterministic: the sort fixes the fold order. No oracle (greedy
    * packing is not ANSI-expressible); invariants in QueriesSpec —
    * exactly-once packing, budget respected, offsets contiguous.
    */
  private[graft] val PackBudget = 512L
  private[graft] val PackShards = 32

  private[graft] def chunkPack(spark: SparkSession, sfDir: String,
      budget: Long = PackBudget, shards: Int = PackShards): DataFrame = {
    import spark.implicits._
    val chunks = tokenChunk(spark, sfDir)
      .select(col("doc_id"), col("chunk_id"), col("n_tok"),
        (col("doc_id") % shards).as("shard"))
    chunks
      .repartition(shards, col("shard"))
      .sortWithinPartitions("shard", "doc_id", "chunk_id")
      .as[(Long, Long, Long, Long)]
      .mapPartitions { it =>
        // per-shard running state; a partition may host several shards
        var shard = -1L
        var seq = 0L
        var used = 0L
        it.map { case (docId, chunkId, nTok, sh) =>
          if (sh != shard) { shard = sh; seq = 0L; used = 0L }
          if (used + nTok > budget && used > 0) { seq += 1; used = 0L }
          val off = used
          used += nTok
          PackedChunk(shard, seq, docId, chunkId, nTok, off)
        }
      }
      .toDF()
      .orderBy("shard", "seq_id", "offset")
  }

  /** The packed TRAINING EXAMPLES themselves: [[chunkPack]] assignments
    * joined back to their chunk texts and concatenated in offset order —
    * one row per (shard, seq_id) with the sequence text, its chunk
    * count, and its exact token count. The assembly is a bounded
    * per-sequence `collect_list` (≤ budget/1 tokens ⇒ ≤ budget chunks —
    * partial-agg'd, massively parallel, the same bounded-group shape as
    * the file sink's reassembly). No oracle (inherits the packing's
    * non-ANSI fold); QueriesSpec pins token conservation — each
    * sequence's whitespace token count equals the sum of its chunks'
    * n_tok, and the corpus total is conserved.
    */
  private[graft] def packSequences(spark: SparkSession, sfDir: String): DataFrame = {
    val packed = chunkPack(spark, sfDir)
    val texts = tokenChunk(spark, sfDir)
      .select(col("doc_id"), col("chunk_id"), col("chunk_text"))
    packed.join(texts, Seq("doc_id", "chunk_id"))
      .groupBy("shard", "seq_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum("n_tok").as("n_tok"),
        array_join(
          transform(array_sort(collect_list(struct(col("offset"), col("chunk_text")))),
            x => x.getField("chunk_text")), " ").as("text"))
      .orderBy("shard", "seq_id")
  }

  /** Chunk-granularity exact dedup — the [[tokenChunk]] ∘ [[dedupExact]]
    * composition pretraining pipelines actually run (dedup at the
    * training-example level: two different documents sharing a window of
    * text collapse at the chunk level even though neither document is a
    * full duplicate). One content hash per chunk, min-(doc_id, chunk_id)
    * canonical per hash — encoded as one bigint key (doc_id·10⁶ +
    * chunk_id) so both engines take the SAME lexicographic minimum
    * without relying on struct-ordering semantics — plus the copy count.
    * The encoding assumes chunk_id < 10⁶ (a 40M-token document) and
    * doc_id < 9.2·10¹² at that width; both engines share the encoding,
    * so the oracle CANNOT catch an overflow — which is why the
    * assumption is ENFORCED at runtime: the guard below fails the query
    * on the first oversize chunk_id instead of decoding a silently
    * corrupted (doc_id, chunk_id). It lives INSIDE the key expression
    * (adding a coalesced assert_true that contributes 0) so column
    * pruning can never drop it.
    * The interior orderBy of the reused chunker is eliminated by
    * Catalyst below the aggregation (EliminateSorts).
    */
  private def chunkDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val guardedChunkId = col("chunk_id") + coalesce(
      assert_true(col("chunk_id") < lit(1000000L),
        concat(lit("chunk_dedup: chunk_id "), col("chunk_id"),
          lit(" >= 1e6 overflows the doc_id*1e6+chunk_id packed key — widen the encoding"))
        ).cast("long"),
      lit(0L))
    tokenChunk(spark, sfDir)
      .withColumn("h", md5(col("chunk_text")))
      .groupBy("h")
      .agg(min(col("doc_id") * lit(1000000L) + guardedChunkId).as("mk"),
        count(lit(1)).as("n_copies"))
      .select(col("h"), expr("mk div 1000000").as("doc_id"),
        (col("mk") % 1000000L).as("chunk_id"), col("n_copies"))
      .orderBy("h")
  }

  /** Per-document top-3 TF-IDF terms over the bounded verification range
    * — the classic corpus-relevance scoring of a text pipeline (keyword
    * extraction, relevance features). TF is the raw in-document term
    * count; IDF is kept as the EXACT RATIONAL (N+1)/(df+1) rather than
    * its logarithm — ln() would hand the comparison to two different
    * libm implementations, while a ratio of identical bigints divides to
    * a bit-identical double in both engines (log is monotone, so the
    * top-k per document is the same set either way). Per-doc ranking is
    * a window partitioned by doc_id: per-partition rows are bounded by a
    * document's distinct token count, so the window is massively
    * parallel with no skew funnel — the safe window shape, unlike the
    * global funnels `vocab_topk` salts around.
    */
  private def tfidfTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(spark, sfDir).filter(col("doc_id") < 300)
    val toks = d.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = toks.select("doc_id", "tok").distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "tok").crossJoin(broadcast(nDocs))
      .withColumn("tfidf", col("tf") * (col("n_docs") + 1) / (col("df") + 1))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("tok"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("doc_id", "rank", "tok", "tf", "df", "tfidf")
      .orderBy("doc_id", "rank")
  }

  /** The composed corpus filter — the end-to-end keep/drop decision a
    * pretraining-data pipeline applies per document, with the drop REASON
    * recorded (what a data auditor actually asks for): exact-dup removal
    * (keep the min-id canonical), minimum length, then the composite
    * quality threshold, in that precedence. Reuses the exact same quality
    * formula as [[textQuality]] and the same canonical rule as
    * [[dedupExact]], so the composition can't drift from its parts.
    *
    * Scale shape: one narrow codegen'd pass computes hash + quality, one
    * partial-agg'd groupBy finds each content-hash's canonical id, one
    * equi-join (both sides partitioned on the hash) tags canonicity —
    * no window, no driver state; the decision CASE is free.
    */
  /** The per-doc decision relation shared by `corpus_filter` (the audit
    * view) and `corpus_stats` (the data-card aggregate) — ONE definition
    * of the dup/short/quality precedence, so the report can never drift
    * from the filter it summarizes. (The DuckDB oracles share the
    * corresponding [[CorpusDecisionsSql]] CTE chain the same way.)
    */
  private[graft] def corpusDecisions(d: DataFrame): DataFrame = {
    val base = withQualityScore(d)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("h"),
        col("n_tok").cast("long").as("n_tokens"), col("quality"))
    val canon = base.groupBy("h").agg(min("doc_id").as("keep_id"))
    base.join(canon, "h")
      .withColumn("is_canonical", col("doc_id") === col("keep_id"))
      .withColumn("decision",
        when(not(col("is_canonical")), "dup")
          .when(col("n_tokens") < 20, "short")
          .when(col("quality") < 0.4, "quality")
          .otherwise("keep"))
  }

  /** Oracle CTE chain mirroring [[corpusDecisions]] (terminal CTE `dec`).
    * Continuation lines must not START with `||` (outer-stripMargin rule).
    */
  private[graft] val CorpusDecisionsSql: String =
    s"""q AS (
       |  $QualityCountersSql),
       |s AS (
       |  SELECT doc_id, lang, h, CAST(n_tok AS BIGINT) AS n_tokens,
       |         $QualityExprSql AS quality
       |  FROM q),
       |c AS (SELECT h, min(doc_id) AS keep_id FROM s GROUP BY h),
       |dec AS (
       |  SELECT s.doc_id, s.lang, s.n_tokens, s.quality,
       |         s.doc_id = c.keep_id AS is_canonical,
       |         CASE WHEN s.doc_id <> c.keep_id THEN 'dup'
       |              WHEN s.n_tokens < 20 THEN 'short'
       |              WHEN s.quality < 0.4 THEN 'quality'
       |              ELSE 'keep' END AS decision
       |  FROM s JOIN c USING (h))""".stripMargin

  private def corpusFilter(spark: SparkSession, sfDir: String): DataFrame =
    corpusDecisions(docs(spark, sfDir))
      .withColumn("keep", col("decision") === "keep")
      .select("doc_id", "lang", "n_tokens", "quality", "is_canonical", "decision", "keep")
      .orderBy("doc_id")

  /** The DATA CARD — the per-(language × decision) mixture report every
    * curation run publishes (docs, tokens, and each cell's share of its
    * language): what survived the gate, what was cut and why, and how the
    * kept token mass is distributed. This is the observability face of
    * [[corpusDecisions]] — same relation, one partial-agg'd groupBy down
    * to |langs × decisions| rows, then a broadcast self-join for the
    * per-language denominators. Scale shape: the corpus is touched once
    * (narrow quality pass + the dedup-hash groupBy the filter already
    * pays); everything after is algebra on a ≤ |langs|·4-row frame.
    */
  private def corpusStats(spark: SparkSession, sfDir: String): DataFrame = {
    val cell = corpusDecisions(docs(spark, sfDir))
      .groupBy("lang", "decision")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
    // denominators fold the CELL frame, not the corpus — one corpus pass
    val tot = cell.groupBy("lang")
      .agg(sum("n_docs").as("lang_docs"), sum("n_tokens").as("lang_tokens"))
    cell.join(broadcast(tot), "lang")
      .select(col("lang"), col("decision"), col("n_docs"), col("n_tokens"),
        (col("n_docs") / col("lang_docs")).as("doc_share"),
        (col("n_tokens") / col("lang_tokens")).as("token_share"))
      .orderBy("lang", "decision")
  }

  /** Deterministic train/val/test assignment — the split primitive of a
    * training pipeline, same device as [[sampleHash]]: the first hex digit
    * of a salted key hash buckets each doc 12/2/2-sixteenths into
    * train/val/test. Assignment is a pure function of the key — a doc
    * lands in the same split on every run, engine, partitioning, and
    * cluster size, and the splits are disjoint & exhaustive by
    * construction. Narrow codegen'd map; no shuffle until the final sort.
    */
  private def shardAssign(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        substring(md5(concat(lit("split42:"), col("doc_id").cast("string"))), 1, 1).as("hx"))
      .withColumn("split",
        when(col("hx").isin("c", "d"), "val")
          .when(col("hx").isin("e", "f"), "test")
          .otherwise("train"))
      .select("doc_id", "lang", "split")
      .orderBy("doc_id")

  /** Epoch-shuffle writer fan-out. Production sets this to (corpus
    * bytes / writer-task budget); 8 keeps the sf-local result readable.
    */
  val EpochShards = 8

  /** Deterministic EPOCH ORDERING — the reproducible global shuffle a
    * training run needs: every epoch consumes the corpus in a fresh
    * pseudo-random order that is a PURE FUNCTION of (seed, doc_id), so a
    * crashed run resumes mid-epoch on any cluster size with the same
    * order, and two data-parallel readers agree without coordination
    * (`DataFrame.sample`/`orderBy(rand)` give neither). The draw is the
    * seeded Karp-Rabin fold squared mod 1e9+7 — the same engine-
    * replayable mix `sample_stratified` uses (the square kills the
    * constant-prefix bias, SURVEY §7.5); the seed lives in the fold
    * prefix (`ep1:`), so epoch 2 is one literal away and completely
    * decorrelated. Output: shard = hv mod [[EpochShards]] (the writer
    * task a doc lands in), pos = the doc's rank within its shard.
    *
    * Scale shape: shard assignment is a narrow codegen'd map; the
    * within-shard rank is a window partitioned by shard — physically
    * exactly the `repartition(shard) + sortWithinPartitions(hv)` a
    * shard writer runs, one linear scan per writer task, no global
    * sort, no driver state. Shard count bounds a task's rows at
    * corpus/[[EpochShards]]: production raises it with the corpus
    * (thousands of shards at 100 TB), which SHRINKS per-task work —
    * the plan has no skew risk because hv is uniform.
    */
  private def epochOrder(spark: SparkSession, sfDir: String): DataFrame =
    epochOrderOf(docs(spark, sfDir), epoch = 1).orderBy("shard", "pos")

  /** The multi-epoch form (r15 verdict task 6): the epoch number IS the
    * seed — it lands in the fold prefix (`ep<N>:`), so each epoch draws
    * a fresh decorrelated permutation while staying a pure function of
    * (epoch, doc_id). The declared key is epoch 1; a training loop calls
    * this per epoch (QueriesSpec pins epoch 2 as a valid permutation,
    * rank-decorrelated from epoch 1, bit-stable across repartitionings,
    * and composable with `pack_sequences` as the trainer handoff).
    */
  private[graft] def epochOrderOf(d: DataFrame, epoch: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val M = 1000000007L
    val fold = expr(s"aggregate(transform(split(concat('ep$epoch:', CAST(doc_id AS STRING)), ''), " +
      "c -> ascii(c)), 0L, (a, b) -> (a * 131 + b) % 1000000007)")
    d.select(col("doc_id"), fold.as("f"))
      .select(col("doc_id"), (col("f") * col("f") % lit(M)).as("hv"))
      .withColumn("shard", pmod(col("hv"), lit(EpochShards.toLong)))
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy(col("hv"), col("doc_id"))).cast("long"))
      .select("doc_id", "shard", "pos")
  }

  /** Exact dedup by content hash: canonical doc + duplicate count. */
  private def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("keep_id")

  /** Incremental corpus merge — the CDC-style ingestion step: an incoming
    * batch (docs re-ingested under NEW ids plus genuinely new docs) is
    * classified by CONTENT hash against the existing corpus AND against
    * itself: `insert` for the batch-canonical copy of unseen content,
    * `skip_dup` (with the existing canonical id) for content the corpus
    * already holds, `dup_in_batch` (with the batch-canonical id) for
    * extra copies arriving in the same batch — the invariant is that
    * every content hash keeps exactly ONE document across base ∪ delta.
    * The delta here is synthesized from the same table (ids <50
    * re-ingested as id+10000, plus ids ≥400 as the new tail) so both
    * engines derive identical inputs.
    *
    * Scale shape: two partial-agg'd groupBys build the corpus and batch
    * hash indexes, hash-partitioned joins classify the delta — at 100 TB
    * the index sides are (hash, id) only, orders smaller than the text.
    */
  private def corpusMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir).select(col("doc_id"), col("text"))
    val delta = d.filter(col("doc_id") < 50)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
      .unionAll(d.filter(col("doc_id") >= 400))
      .select(col("doc_id"), md5(col("text")).as("h"))
    val base = d.filter(col("doc_id") < 400)
      .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("existing_id"))
    val batchCanon = delta.groupBy("h").agg(min("doc_id").as("batch_id"))
    delta.join(base, Seq("h"), "left").join(batchCanon, Seq("h"))
      .select(col("doc_id"), col("h"),
        when(col("existing_id").isNotNull, "skip_dup")
          .when(col("doc_id") =!= col("batch_id"), "dup_in_batch")
          .otherwise("insert").as("action"),
        coalesce(col("existing_id"),
          when(col("doc_id") =!= col("batch_id"), col("batch_id"))).as("existing_id"))
      .orderBy("doc_id")
  }

  // ---- declarations ------------------------------------------------------

  val defs: Map[String, QueryDef] = Map(
    "text_stats" -> QueryDef(textStats,
      Some("""SELECT lang, count(*) AS n_docs,
             |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
             |       avg(n_chars) AS avg_chars,
             |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    "token_count" -> QueryDef(tokenCount,
      Some("""SELECT doc_id,
             |       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
             |       CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS word_tokens,
             |       CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS BIGINT) AS subword_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    "text_quality" -> QueryDef(textQuality,
      Some(s"""WITH q AS (
              |  $QualityCountersSql)
              |SELECT doc_id, n_chars, CAST(n_tok AS BIGINT) AS n_tokens,
              |       n_nonspace / n_tok AS avg_tok_len,
              |       n_stop / n_tok AS stop_ratio,
              |       n_uniq / n_tok AS distinct_ratio,
              |       $QualityExprSql AS quality
              |FROM q ORDER BY doc_id""".stripMargin)),

    "lang_id" -> QueryDef(langId,
      Some {
        val scores = Markers.map { case (l, ws) =>
          s"CAST(len(list_filter(string_split(text, ' '), x -> x IN (${inList(ws)}))) AS BIGINT) AS s_$l"
        }.mkString(",\n             |         ")
        val best = s"greatest(${Markers.map { case (l, _) => s"s_$l" }.mkString(", ")})"
        val pred = Markers.map { case (l, _) => s"WHEN s_$l = $best THEN '$l'" }
          .mkString("CASE ", " ", " ELSE 'und' END")
        s"""WITH s AS (
           |  SELECT doc_id, lang,
           |         $scores
           |  FROM documents)
           |SELECT doc_id, lang, ${Markers.map { case (l, _) => s"s_$l" }.mkString(", ")},
           |       $pred AS predicted,
           |       ($pred) = lang AS hit
           |FROM s ORDER BY doc_id""".stripMargin
      }),

    "heavy_hitters" -> QueryDef(heavyHitters,
      Some("""WITH g AS (
             |  SELECT lang, unnest(list_transform(range(1, len(text) - 1),
             |                      i -> substr(text, i, 3))) AS gram
             |  FROM documents WHERE len(text) >= 3),
             |t AS (SELECT lang, count(*) AS n FROM g GROUP BY 1),
             |c AS (SELECT lang, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
             |h AS (SELECT c.lang, gram, cnt, n FROM c JOIN t USING (lang)
             |      WHERE cnt * 128 > n)
             |SELECT lang,
             |       row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gram) AS rank,
             |       gram, cnt, n, cnt * 1000000 // n AS share_ppm
             |FROM h ORDER BY lang, rank""".stripMargin)),

    "doc_fingerprint" -> QueryDef(docFingerprint,
      Some("""SELECT doc_id, md5(text) AS fp, substring(md5(text), 1, 16) AS fp16,
             |       md5(substring(text, 1, 100)) AS fp_head,
             |       md5(substring(text, greatest(length(text) - 99, 1), 100)) AS fp_tail,
             |       list_reduce(list_prepend(CAST(0 AS BIGINT),
             |         list_transform(string_split(text, ''), c -> ord(c))),
             |         (a, b) -> (a * 131 + b) % 1000000007) AS fp_roll
             |FROM documents ORDER BY doc_id""".stripMargin)),

    "sample_hash" -> QueryDef(sampleHash,
      Some("""SELECT lang, count(*) AS n_docs,
             |       CAST(count(*) FILTER (WHERE substring(md5('salt42:' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')) AS BIGINT) AS n_sampled,
             |       CAST(count(*) FILTER (WHERE substring(md5('salt42:' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')) AS DOUBLE) / count(*) AS rate
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    "sample_stratified" -> QueryDef(sampleStratified,
      Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
             |t AS (SELECT lang, n,
             |        least(1000000007, CAST(ceil(4.0 * 50 * 1000000007 / n) AS BIGINT)) AS thresh
             |      FROM c),
             |h0 AS (SELECT d.doc_id, d.lang,
             |        list_reduce(list_prepend(CAST(0 AS BIGINT),
             |          list_transform(string_split('strat:' || CAST(d.doc_id AS VARCHAR), ''),
             |            ch -> ord(ch))),
             |          (a, b) -> (a * 131 + b) % 1000000007) AS f
             |      FROM documents d),
             |h AS (SELECT doc_id, lang, (f * f) % 1000000007 AS hv FROM h0),
             |p AS (SELECT h.doc_id, h.lang, h.hv FROM h JOIN t USING (lang)
             |      WHERE h.hv < t.thresh),
             |r AS (SELECT lang, doc_id,
             |        row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS smp_rank
             |      FROM p)
             |SELECT lang, doc_id, smp_rank FROM r WHERE smp_rank <= 50
             |ORDER BY lang, smp_rank""".stripMargin)),

    "sample_temperature" -> QueryDef(sampleTemperature(_, _),
      Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
             |w AS (SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS w FROM c),
             |q AS (SELECT lang, n,
             |        least(n, greatest(1,
             |          CAST(floor(200 * w / (SELECT sum(w) FROM w)) AS BIGINT))) AS q
             |      FROM w),
             |t AS (SELECT lang, n, q,
             |        least(1000000007, CAST(ceil(4.0 * q * 1000000007 / n) AS BIGINT)) AS thresh
             |      FROM q),
             |h0 AS (SELECT d.doc_id, d.lang,
             |        list_reduce(list_prepend(CAST(0 AS BIGINT),
             |          list_transform(string_split('strat:' || CAST(d.doc_id AS VARCHAR), ''),
             |            ch -> ord(ch))),
             |          (a, b) -> (a * 131 + b) % 1000000007) AS f
             |      FROM documents d),
             |h AS (SELECT doc_id, lang, (f * f) % 1000000007 AS hv FROM h0),
             |p AS (SELECT h.doc_id, h.lang, h.hv, t.q FROM h JOIN t USING (lang)
             |      WHERE h.hv < t.thresh),
             |r AS (SELECT lang, doc_id, q,
             |        row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS smp_rank
             |      FROM p)
             |SELECT lang, doc_id, smp_rank FROM r WHERE smp_rank <= q
             |ORDER BY lang, smp_rank""".stripMargin)),

    "sample_mixture" -> QueryDef(sampleMixture,
      // the VALUES fragment is generated from MixtureSpec — the Spark plan
      // and this oracle read the SAME Scala value, so the spec cannot drift
      Some(s"""WITH spec(lang, w_pm) AS (VALUES ${MixtureSpec.map { case (l, w) => s"('$l', $w)" }.mkString(", ")}),
             |c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
             |t AS (SELECT c.lang, c.n,
             |        CAST(($MixtureBudget * s.w_pm) // 1000 AS BIGINT) AS q
             |      FROM c JOIN spec s USING (lang)),
             |t2 AS (SELECT lang, n, q, q // n AS base, q - (q // n) * n AS extra FROM t),
             |t3 AS (SELECT lang, n, q, base, extra,
             |        least(1000000007, CAST(ceil(4.0 * extra * 1000000007 / n) AS BIGINT)) AS thresh
             |      FROM t2),
             |h0 AS (SELECT d.doc_id, d.lang,
             |        list_reduce(list_prepend(CAST(0 AS BIGINT),
             |          list_transform(string_split('mix:' || CAST(d.doc_id AS VARCHAR), ''),
             |            ch -> ord(ch))),
             |          (a, b) -> (a * 131 + b) % 1000000007) AS f
             |      FROM documents d),
             |h AS (SELECT doc_id, lang, (f * f) % 1000000007 AS hv FROM h0),
             |p AS (SELECT h.doc_id, h.lang, h.hv FROM h JOIN t3 USING (lang)
             |      WHERE h.hv < t3.thresh),
             |r AS (SELECT lang, doc_id,
             |        row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rnk
             |      FROM p),
             |extras AS (SELECT r.lang, r.doc_id, CAST(1 AS BIGINT) AS c
             |           FROM r JOIN t3 USING (lang) WHERE r.rnk <= t3.extra),
             |bp AS (SELECT d.lang, d.doc_id, CAST(t3.base AS BIGINT) AS c
             |       FROM documents d JOIN t3 USING (lang) WHERE t3.base >= 1),
             |u AS (SELECT lang, doc_id, c FROM bp UNION ALL SELECT lang, doc_id, c FROM extras)
             |SELECT lang, doc_id, CAST(sum(c) AS BIGINT) AS n_copies
             |FROM u GROUP BY lang, doc_id
             |ORDER BY lang, doc_id""".stripMargin)),

    "sample_tokens" -> QueryDef(sampleTokens,
      Some(s"""WITH d AS (SELECT doc_id, lang,
             |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |      FROM documents),
             |c AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS toks FROM d GROUP BY lang),
             |t AS (SELECT lang, toks,
             |        least(1000000007, CAST(ceil(4.0 * $TokenBudget * 1000000007 / toks) AS BIGINT)) AS thresh
             |      FROM c),
             |h0 AS (SELECT d.doc_id, d.lang, d.n_tok,
             |        list_reduce(list_prepend(CAST(0 AS BIGINT),
             |          list_transform(string_split('tokb:' || CAST(d.doc_id AS VARCHAR), ''),
             |            ch -> ord(ch))),
             |          (a, b) -> (a * 131 + b) % 1000000007) AS f
             |      FROM d),
             |h AS (SELECT doc_id, lang, n_tok, (f * f) % 1000000007 AS hv FROM h0),
             |p AS (SELECT h.doc_id, h.lang, h.n_tok, h.hv FROM h JOIN t USING (lang)
             |      WHERE h.hv < t.thresh),
             |r AS (SELECT lang, doc_id, n_tok,
             |        CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY hv, doc_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok,
             |        row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS sel_rank
             |      FROM p)
             |SELECT lang, doc_id, n_tok, sel_rank, cum_tok
             |FROM r WHERE cum_tok - n_tok < $TokenBudget
             |ORDER BY lang, sel_rank""".stripMargin)),

    "vocab_topk" -> QueryDef(vocabTopk,
      Some("""WITH t AS (
             |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
             |c AS (SELECT lang, tok, count(*) AS cnt FROM t GROUP BY 1, 2),
             |r AS (
             |  SELECT lang, tok, cnt,
             |         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS rank
             |  FROM c)
             |SELECT lang, CAST(rank AS BIGINT) AS rank, tok, cnt
             |FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin)),

    "bpe_merges" -> QueryDef(bpeMerges(_, _), None),

    "bpe_encode" -> QueryDef(bpeEncode, None),

    "token_chunk" -> QueryDef(tokenChunk,
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |c AS (
             |  SELECT doc_id, toks,
             |         unnest(generate_series(0, (len(toks) + 39) // 40 - 1)) AS chunk_id
             |  FROM t)
             |SELECT doc_id, chunk_id,
             |       least(50, len(toks) - chunk_id * 40) AS n_tok,
             |       array_to_string(toks[chunk_id*40+1 : chunk_id*40+50], ' ') AS chunk_text
             |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    "chunk_pack" -> QueryDef(chunkPack(_, _), None),

    "pack_sequences" -> QueryDef(packSequences(_, _), None),

    "chunk_dedup" -> QueryDef(chunkDedup,
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |c AS (
             |  SELECT doc_id, toks,
             |         unnest(generate_series(0, (len(toks) + 39) // 40 - 1)) AS chunk_id
             |  FROM t),
             |ch AS (
             |  SELECT doc_id, chunk_id,
             |         array_to_string(toks[chunk_id*40+1 : chunk_id*40+50], ' ') AS chunk_text
             |  FROM c),
             |g AS (
             |  SELECT md5(chunk_text) AS h,
             |         min(doc_id * 1000000 + chunk_id) AS mk,
             |         count(*) AS n_copies
             |  FROM ch GROUP BY 1)
             |SELECT h, mk // 1000000 AS doc_id, mk % 1000000 AS chunk_id, n_copies
             |FROM g ORDER BY h""".stripMargin)),

    "tfidf_topk" -> QueryDef(tfidfTopk,
      Some("""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
             |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
             |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
             |n AS (SELECT count(*) AS n_docs FROM d),
             |scored AS (
             |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
             |         tf.tf * (n.n_docs + 1) / (df.df + 1) AS tfidf
             |  FROM tf JOIN df USING (tok) CROSS JOIN n),
             |r AS (
             |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rank
             |  FROM scored)
             |SELECT doc_id, CAST(rank AS BIGINT) AS rank, tok, tf, df, tfidf
             |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    "corpus_filter" -> QueryDef(corpusFilter,
      Some(s"""WITH $CorpusDecisionsSql
              |SELECT doc_id, lang, n_tokens, quality, is_canonical, decision,
              |       (decision = 'keep') AS keep
              |FROM dec ORDER BY doc_id""".stripMargin)),

    "corpus_stats" -> QueryDef(corpusStats,
      Some(s"""WITH $CorpusDecisionsSql,
              |cell AS (
              |  SELECT lang, decision, count(*) AS n_docs,
              |         CAST(sum(n_tokens) AS BIGINT) AS n_tokens
              |  FROM dec GROUP BY 1, 2),
              |tot AS (
              |  SELECT lang, CAST(sum(n_docs) AS BIGINT) AS lang_docs,
              |         CAST(sum(n_tokens) AS BIGINT) AS lang_tokens
              |  FROM cell GROUP BY 1)
              |SELECT cell.lang, cell.decision, cell.n_docs, cell.n_tokens,
              |       CAST(cell.n_docs AS DOUBLE) / tot.lang_docs AS doc_share,
              |       CAST(cell.n_tokens AS DOUBLE) / tot.lang_tokens AS token_share
              |FROM cell JOIN tot USING (lang)
              |ORDER BY cell.lang, cell.decision""".stripMargin)),

    "epoch_order" -> QueryDef(epochOrder,
      Some("""WITH h0 AS (
             |  SELECT doc_id,
             |         list_reduce(list_prepend(CAST(0 AS BIGINT),
             |           list_transform(string_split('ep1:' || CAST(doc_id AS VARCHAR), ''),
             |             ch -> ord(ch))),
             |           (a, b) -> (a * 131 + b) % 1000000007) AS f
             |  FROM documents),
             |h AS (SELECT doc_id, (f * f) % 1000000007 AS hv FROM h0)
             |SELECT doc_id, hv % 8 AS shard,
             |       CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id)
             |            AS BIGINT) AS pos
             |FROM h ORDER BY shard, pos""".stripMargin)),

    "corpus_merge" -> QueryDef(corpusMerge,
      Some("""WITH delta AS (
             |  SELECT doc_id + 10000 AS doc_id, md5(text) AS h FROM documents WHERE doc_id < 50
             |  UNION ALL
             |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 400),
             |base AS (
             |  SELECT md5(text) AS h, min(doc_id) AS existing_id
             |  FROM documents WHERE doc_id < 400 GROUP BY 1),
             |bc AS (SELECT h, min(doc_id) AS batch_id FROM delta GROUP BY 1)
             |SELECT d.doc_id, d.h,
             |       CASE WHEN b.existing_id IS NOT NULL THEN 'skip_dup'
             |            WHEN d.doc_id <> bc.batch_id THEN 'dup_in_batch'
             |            ELSE 'insert' END AS action,
             |       coalesce(b.existing_id,
             |                CASE WHEN d.doc_id <> bc.batch_id THEN bc.batch_id END) AS existing_id
             |FROM delta d LEFT JOIN base b USING (h) JOIN bc USING (h)
             |ORDER BY d.doc_id""".stripMargin)),

    "shard_assign" -> QueryDef(shardAssign,
      Some("""WITH h AS (
             |  SELECT doc_id, lang,
             |         substring(md5('split42:' || CAST(doc_id AS VARCHAR)), 1, 1) AS hx
             |  FROM documents)
             |SELECT doc_id, lang,
             |       CASE WHEN hx IN ('c', 'd') THEN 'val'
             |            WHEN hx IN ('e', 'f') THEN 'test'
             |            ELSE 'train' END AS split
             |FROM h ORDER BY doc_id""".stripMargin)),

    "dedup_exact" -> QueryDef(dedupExact,
      Some("""SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups
             |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin))
  )
}
