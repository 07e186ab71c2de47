package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-hygiene operators — the C4/Gopher-style WITHIN-document cleaning
  * passes of a pretraining pipeline, plus PII redaction: repetition
  * signals (duplicate-line fraction, top-2-gram fraction), in-document
  * line dedup, a repetition-gated corpus filter, and deterministic
  * regex PII scrubbing.
  *
  * "Line" here is a fixed-width 12-token segment: the synthetic corpus
  * carries no newlines (one physical line per document), so the
  * newline-split C4 notion would be vacuous — the segment view keeps the
  * operator semantics (dedup repeated spans INSIDE one document) honest
  * and exercised. On real data the same operators run over
  * `split(text, '\n')` unchanged.
  *
  * Scale notes: every per-document signal is explode → two-level
  * partial-agg'd groupBy keyed by (doc_id, line|gram) then doc_id — no
  * windows, no skew funnel (per-doc group sizes are bounded by document
  * length), no driver state. The repetition-planted view and the PII
  * decoration are narrow codegen'd maps (the `corpus_merge` idiom:
  * synthesize the interesting input in-plan, identically in both engines,
  * so the oracle verifies the TRANSFORM, not a lucky no-op).
  */
object HygieneOps {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")

  /** Tokens per "line" segment (see class doc). */
  val SegTokens = 12

  /** The repetition-PLANTED corpus view: docs with `doc_id % 7 == 0` get
    * their first 12-token line PREPENDED, so the original opening line
    * recurs as the second segment — a guaranteed exact in-document
    * duplicate with every later segment boundary left intact (an APPEND
    * would misalign the 12-token grid unless n % 12 = 0). The other 6/7
    * of the corpus is untouched, so the dedup keys prove both the
    * removal and the leave-alone path. A doc SHORTER than one segment
    * cannot host an aligned duplicate (its prepended prefix merges into
    * the first segment), so planting also requires ≥ 12 tokens.
    */
  private def planted(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("lang"),
        when(pmod(col("doc_id"), lit(7)) === 0 && size(col("toks")) >= SegTokens,
          concat(array_join(slice(col("toks"), 1, SegTokens), " "), lit(" "), col("text")))
          .otherwise(col("text")).as("text"))

  /** Shared DuckDB fragment mirroring [[planted]]. */
  private val PlantedSql: String =
    s"""SELECT doc_id, lang,
       |         CASE WHEN doc_id % 7 = 0 AND len(string_split(text, ' ')) >= $SegTokens
       |              THEN array_to_string(string_split(text, ' ')[1 : $SegTokens], ' ') || ' ' || text
       |              ELSE text END AS text
       |  FROM documents""".stripMargin

  /** (doc_id, i, line): the 0-indexed 12-token segments of each document.
    * One narrow generator per document (posexplode of a per-row segment
    * array) — no shuffle.
    */
  private def lineView(d: DataFrame): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, (size(toks) + ${SegTokens - 1}) div $SegTokens - 1), " +
            s"i -> array_join(slice(toks, i * $SegTokens + 1, $SegTokens), ' '))"))
          .as(Seq("i", "line")))

  /** DuckDB fragment mirroring [[lineView]] over a CTE named `d`. */
  private val LineViewSql: String =
    s"""SELECT doc_id, i, array_to_string(toks[i * $SegTokens + 1 : i * $SegTokens + $SegTokens], ' ') AS line
       |  FROM (SELECT doc_id, toks, unnest(generate_series(0, (len(toks) + ${SegTokens - 1}) // $SegTokens - 1)) AS i
       |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM d))""".stripMargin

  /** (doc_id, gram): consecutive token 2-grams of each document. */
  private def gramView(d: DataFrame): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(expr("transform(sequence(1, size(toks) - 1), " +
          "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))")).as("gram"))

  /** DuckDB fragment mirroring [[gramView]] over a CTE named `d`. */
  private val GramViewSql: String =
    """SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS gram
      |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
      |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM d WHERE len(string_split(text, ' ')) >= 2))""".stripMargin

  /** Per-document repetition SIGNALS (Gopher §A.1.1-style hygiene
    * counters) over the planted view: duplicate-line fraction (share of
    * line instances that repeat an earlier-or-later identical line),
    * top-2-gram fraction (share of 2-gram instances claimed by the most
    * frequent 2-gram), and duplicate-2-gram fraction. The planted 1/7 of
    * docs surface dup_line_frac > 0; the 2-gram signals are live on the
    * natural text.
    */
  private def docRepetition(spark: SparkSession, sfDir: String): DataFrame =
    docRepetitionFrame(planted(spark, sfDir))

  private[graft] def docRepetitionFrame(d: DataFrame): DataFrame = {
    val lineStats = lineView(d)
      .groupBy("doc_id", "line").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").cast("long").as("n_lines"), count(lit(1)).as("n_uniq_lines"))
    val gramStats = gramView(d)
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").cast("long").as("n_2grams"), max("c").as("top_2gram"),
        count(lit(1)).as("n_uniq_2grams"))
    // LEFT join: a document with fewer than 2 tokens has no 2-grams at
    // all — it must still be reported (with null gram signals), not
    // silently vanish from the hygiene report; nulls propagate through
    // the fraction arithmetic identically in Spark and DuckDB
    lineStats.join(gramStats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        ((col("n_lines") - col("n_uniq_lines")) / col("n_lines")).as("dup_line_frac"),
        col("n_2grams"), col("top_2gram"),
        (col("top_2gram") / col("n_2grams")).as("top_2gram_frac"),
        ((col("n_2grams") - col("n_uniq_2grams")) / col("n_2grams")).as("dup_2gram_frac"))
      .orderBy("doc_id")
  }

  /** Within-document line dedup — the C4 cleaning step itself: duplicate
    * 12-token lines are removed keeping the FIRST occurrence, and the
    * survivors re-concatenate in original order. First-occurrence choice
    * and reassembly are both deterministic: min(position) per (doc,
    * line), then a bounded per-doc `collect_list` sorted by position —
    * the same bounded-group assembly shape as the file sink's
    * reassembly; group size is capped by the document's own line count.
    */
  private def dedupLines(spark: SparkSession, sfDir: String): DataFrame = {
    val firsts = lineView(planted(spark, sfDir))
      .groupBy("doc_id", "line").agg(min("i").as("i"), count(lit(1)).as("c"))
    firsts.groupBy("doc_id")
      .agg(sum("c").cast("long").as("n_lines"), count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("i"), col("line")))),
            x => x.getField("line")), " ").as("clean_text"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        (col("n_lines") - col("n_kept")).as("n_removed"), col("clean_text"))
      .orderBy("doc_id")
  }

  /** The planted cross-document BOILERPLATE line (exactly 12 tokens =
    * one full segment, so prepending it never misaligns the host doc's
    * own segment grid regardless of its length): the nav-menu/cookie-
    * banner analog that C4-style global line dedup exists to strip.
    */
  private[graft] val BoilerLine =
    "subscribe to our newsletter accept cookies terms of service apply here now"

  /** Cross-document line dedup (C4's global rule: a line occurring ≥ 3
    * times ACROSS the corpus is boilerplate and is stripped from every
    * document) — the corpus-frequency sibling of the within-document
    * [[dedupLines]]: nav menus, cookie banners and legal footers repeat
    * across millions of pages, and no per-document pass can see that.
    * The planted view prepends [[BoilerLine]] to docs with
    * `doc_id % 4 == 1` (~n/4 occurrences, far over threshold), so the
    * oracle verifies real stripping; natural 12-token segments of the
    * random corpus never reach frequency 3.
    *
    * Scale shape: one partial-agg'd groupBy builds the line-frequency
    * table, one hash-partitioned equi-join (both sides keyed on the
    * line) tags instances, one bounded per-doc sorted reassembly — the
    * `dedup_exact` cost class, keyed by line instead of doc hash. (A
    * cheaper variant broadcasts only the `freq ≥ 3` sliver — tiny even
    * at 100 TB, boilerplate is rare in DISTINCT lines however common in
    * instances — and left-anti joins it; the inner-join form is kept as
    * the declared key because it is the oracle-exact shape, and AQE
    * converts it to the broadcast form at runtime when the frequency
    * table is small.) The kept segments re-concatenate to EXACTLY the
    * original document for every doc (planted line stripped, untouched
    * docs byte-identical) — pinned in QueriesSpec.
    */
  private def boilerPlanted(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        when(pmod(col("doc_id"), lit(4)) === 1, concat(lit(BoilerLine + " "), col("text")))
          .otherwise(col("text")).as("text"))

  /** Shared per-doc reassembly over a tagged line frame
    * `(doc_id, i, line, is_boiler)` — counts, and the kept lines
    * re-concatenated in position order.
    */
  private def reassembleClean(tagged: DataFrame): DataFrame =
    tagged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_boiler"),
        array_join(
          transform(array_sort(collect_list(
            when(not(col("is_boiler")), struct(col("i"), col("line"))))),
            x => x.getField("line")), " ").as("clean_text"))
      .orderBy("doc_id")

  private def dedupLinesGlobal(spark: SparkSession, sfDir: String): DataFrame = {
    // r22: deliberately LEFT as two generator evaluations. The
    // repartition-by-join-key exchange-sharing idiom (dup_spans_winnow)
    // does not apply: column pruning gives the two consumers DIFFERENT
    // exchange subtrees (the frequency branch prunes doc_id/i), so the
    // repartition only adds an exchange without a reuse (verified on the
    // final adaptive plan), and a localCheckpoint would pin corpus-scale
    // line rows in executor storage to save a 0.12 s re-explode
    // (OPTIMIZATION_r22.md `dlg`) — the wrong trade at 100 TB, where the
    // metadata-scale answer is the broadcast-sliver production form
    // below.
    val l = lineView(boilerPlanted(spark, sfDir))
    val freq = l.groupBy("line").agg(count(lit(1)).as("freq"))
    reassembleClean(l.join(freq, "line").withColumn("is_boiler", col("freq") >= 3))
  }

  /** The distinct BOILERPLATE lines of a corpus (global frequency ≥
    * `minFreq`) — the small side of the production strip: distinct
    * boilerplate lines are rare however common their instances, so this
    * frame broadcasts where the full line-frequency table would not.
    */
  private[graft] def boilerplateLines(d: DataFrame, minFreq: Long = 3L): DataFrame =
    lineView(d).groupBy("line").agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)

  /** PRODUCTION form of [[dedupLinesGlobal]]: tag instances by broadcast
    * left join against ONLY the boilerplate sliver, instead of the
    * declared key's oracle-exact inner join against the FULL frequency
    * table — at 100 TB the full table is corpus-scale (all distinct
    * lines) and that join shuffles every line instance, while the
    * sliver is metadata-scale and ships to the mappers; the corpus's
    * line instances never shuffle before the per-doc reassembly. Output
    * row-identical to the declared key (pinned in QueriesSpec); the
    * broadcast shape pinned in PlanSpec. The sliver would typically be
    * computed once and persisted (it is a corpus property, not a
    * per-query one) — the same amortization story as the ANN indexes.
    */
  private[graft] def stripBoilerplateBroadcast(d: DataFrame, boiler: DataFrame): DataFrame = {
    val tagged = lineView(d)
      .join(broadcast(boiler.select(col("line"), lit(true).as("is_boiler"))), Seq("line"), "left")
      .withColumn("is_boiler", coalesce(col("is_boiler"), lit(false)))
    reassembleClean(tagged)
  }

  /** [[stripBoilerplateBroadcast]] over the same planted view as the
    * declared key — the bench/spec entry for the production form.
    */
  private[graft] def dedupLinesGlobalBroadcast(spark: SparkSession, sfDir: String): DataFrame = {
    val d = boilerPlanted(spark, sfDir)
    stripBoilerplateBroadcast(d, boilerplateLines(d))
  }

  /** Repetition gate threshold: share of 2-gram instances the single most
    * frequent 2-gram may claim before the document counts as repetitive
    * (≈ p95 of the natural corpus — the Gopher-style knob).
    */
  val Top2GramMax = 0.09

  /** [[TextOps]]'s corpus filter with the repetition gate composed into
    * the precedence chain: dup → short → repetitive → quality → keep.
    * Runs on the NATURAL corpus (the 2-gram signal is live there);
    * reuses the exact same quality formula, canonical-dup rule, and
    * 2-gram definition as the standalone keys, so the composition cannot
    * drift from its parts. Docs with < 2 tokens have no 2-grams and
    * count as non-repetitive (left join, frac 0).
    */
  private def corpusFilterRep(spark: SparkSession, sfDir: String): DataFrame = {
    val base = TextOps.withQualityScore(docs(spark, sfDir))
      .select(col("doc_id"), col("lang"), md5(col("text")).as("h"),
        col("n_tok").cast("long").as("n_tokens"), col("quality"))
    val rep = gramView(docs(spark, sfDir))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg((max("c") / sum("c")).as("top_2gram_frac"))
    val canon = base.groupBy("h").agg(min("doc_id").as("keep_id"))
    base.join(canon, "h").join(rep, Seq("doc_id"), "left")
      .withColumn("top_2gram_frac", coalesce(col("top_2gram_frac"), lit(0.0)))
      .withColumn("is_canonical", col("doc_id") === col("keep_id"))
      .withColumn("decision",
        when(not(col("is_canonical")), "dup")
          .when(col("n_tokens") < 20, "short")
          .when(col("top_2gram_frac") > Top2GramMax, "repetitive")
          .when(col("quality") < 0.4, "quality")
          .otherwise("keep"))
      .withColumn("keep", col("decision") === "keep")
      .select("doc_id", "lang", "n_tokens", "quality", "top_2gram_frac",
        "is_canonical", "decision", "keep")
      .orderBy("doc_id")
  }

  // ---- PII redaction -----------------------------------------------------

  /** The three scrub patterns. Each string is valid under BOTH regex
    * engines in play (Java `Pattern` in Spark, RE2 in the DuckDB oracle):
    * character classes, bounded repetition and `\b` word boundaries only —
    * no backreferences, no lookaround.
    */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  val IpRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Deterministic PII redaction — the compliance primitive every corpus
    * pipeline runs before training: emails, NANP-shaped phone numbers
    * and IPv4 literals are counted and replaced by typed placeholders.
    * The synthetic corpus is PII-free, so the interesting inputs are
    * PLANTED in-plan (the `corpus_merge` idiom): docs get an email
    * (doc_id % 3 = 0), a phone (% 4 = 0) and/or an IP (% 5 = 0) appended
    * deterministically from their own id — both engines derive the same
    * decorated text, and the oracle verifies real removals, not a no-op.
    *
    * Scrub order matters and is fixed: email first (its local part may
    * contain phone- or IP-shaped digit runs), then phone, then IP — the
    * placeholders themselves contain no digits, so later passes cannot
    * re-match earlier replacements. Counts are taken on the decorated
    * text BEFORE any replacement. Composition: the `keep` rows of
    * [[corpusFilterRep]] (or `corpus_filter`) would flow through this
    * scrub before sharding — pure narrow Column algebra, so it composes
    * with any of the filter keys and with the streaming ingest path
    * unchanged.
    */
  /** Appends the three PII counts and the `redacted` text to any frame
    * with a `txt` column — pure stateless Column algebra, so it applies
    * unchanged to a STREAMING frame (batch/stream parity pinned in
    * StreamingSpec), the same composition contract as
    * [[TextOps.withQualityScore]]: a live ingest feed scrubs per
    * micro-batch with no state and no adaptation.
    */
  private[graft] def withPiiScrub(d: DataFrame): DataFrame = {
    def countOf(re: String): Column =
      size(regexp_extract_all(col("txt"), lit(re), lit(0))).cast("long")
    d.withColumn("n_email", countOf(EmailRe))
      .withColumn("n_phone", countOf(PhoneRe))
      .withColumn("n_ip", countOf(IpRe))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(col("txt"), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"),
          IpRe, "<IP>"))
  }

  /** The deterministic PII planting suffix (doc_id-keyed email / phone /
    * IP decorations) — the fixture `pii_redact` and `corpus_curate` both
    * append so their redaction stages are non-vacuous on corpora that
    * carry no real PII. One Scala value; [[PiiPlantSuffixSql]] mirrors
    * it for the oracle so the engines cannot drift.
    */
  private[graft] val PiiPlantSuffix: Column = concat(
    when(pmod(col("doc_id"), lit(3)) === 0,
      concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
      .otherwise(lit("")),
    when(pmod(col("doc_id"), lit(4)) === 0,
      concat(lit(" call 415-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      .otherwise(lit("")),
    when(pmod(col("doc_id"), lit(5)) === 0,
      concat(lit(" from 10."), pmod(col("doc_id"), lit(250)).cast("string"),
        lit(".0."), pmod(col("doc_id"), lit(200)).cast("string")))
      .otherwise(lit("")))

  /** DuckDB fragment mirroring [[PiiPlantSuffix]] (concatenate after the
    * base text expression). No line of this fragment may START with `|`
    * or `||` — it is interpolated into templates whose own
    * `stripMargin` would eat the leading bar (`||` → `|`, bitwise-or).
    */
  private[graft] val PiiPlantSuffixSql: String =
    """CASE WHEN doc_id % 3 = 0
      |     THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
      |     ELSE '' END ||
      |CASE WHEN doc_id % 4 = 0
      |     THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |     ELSE '' END ||
      |CASE WHEN doc_id % 5 = 0
      |     THEN ' from 10.' || CAST(doc_id % 250 AS VARCHAR) ||
      |          '.0.' || CAST(doc_id % 200 AS VARCHAR)
      |     ELSE '' END""".stripMargin

  private def piiRedact(spark: SparkSession, sfDir: String): DataFrame =
    withPiiScrub(docs(spark, sfDir)
      .select(col("doc_id"), concat(col("text"), PiiPlantSuffix).as("txt")))
      .select("doc_id", "n_email", "n_phone", "n_ip", "redacted")
      .orderBy("doc_id")

  /** Model-based quality scoring, the CCNet idiom (Wenzek et al. 2020,
    * arXiv:1911.00359): score each document by its mean surprisal under a
    * language model and filter/bucket on the score. CCNet uses a 5-gram
    * KenLM; the container has no LM artifacts, so the model here is the
    * smallest honest stand-in that exercises the identical pipeline
    * shape — an add-one-smoothed char-BIGRAM model trained on the corpus
    * itself:
    *
    *   bits(doc) = (1/n) · Σᵢ −log₂( (c(aᵢbᵢ)+1) / (c(aᵢ)+V) )
    *
    * with c(·) corpus-wide counts, V the distinct-char vocabulary size,
    * and n = len−1 bigram occurrences (docs shorter than 2 chars carry no
    * bigram and are absent by contract). Boilerplate/natural text scores
    * LOW (predictable transitions), junk scores HIGH — the CCNet
    * head/middle/tail bucketing falls out of percentiles over `bits`.
    *
    * Scale notes (100 TB): the MODEL is tiny by construction — at most
    * |charset|² bigram rows — so both model joins are broadcasts and the
    * corpus itself never shuffles; training is one explode → partial-agg'd
    * count (map-side combine collapses each partition to ≤|charset|²
    * partials). Swapping in a real pre-trained LM table changes only the
    * broadcast side (a `(gram, logprob)` table read instead of trained
    * in-plan), exactly like the BPE train-once path
    * ([[TextOps.bpeEncodeWithTable]]).
    *
    * No oracle: the score is a sum of logs, and log parity across libms
    * is not engine-stable (the Num.scala finding; TextOps deliberately
    * compares log ARGUMENTS for the same reason) — spec-verified against
    * an independent driver-side reference instead (CharLmSpec).
    */
  /** `(doc_id, bg)` — one row per char-bigram occurrence. Native
    * one-pass generation: the explode(sequence)+substring form re-scans
    * to the i-th code point per gram — quadratic per doc (the
    * [[graft.functions.CharGrams]] finding; invisible on 540-char test
    * docs, fatal on real 10-100 KB documents).
    */
  private def bigramsOf(d: DataFrame): DataFrame =
    d.filter(length(col("text")) >= 2)
      .select(col("doc_id"),
        explode(graft.functions.CharGrams.char_grams(col("text"), 2)).as("bg"))

  /** Train the bigram model on a corpus: `(bigram counts, context counts,
    * 1-row vocab size)` — at most |charset|² + |charset| + 1 rows total.
    */
  private[graft] def charlmModelOf(d: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val counts = bigramsOf(d).groupBy("bg").agg(count(lit(1)).as("c_bg"))
    val ctx = counts.groupBy(expr("substring(bg, 1, 1)").as("ch")).agg(sum("c_bg").as("c_a"))
    val vocab = d.filter(length(col("text")) >= 1)
      .select(explode(graft.functions.CharGrams.char_grams(col("text"), 1)).as("ch"))
      .agg(countDistinct("ch").as("v"))
    (counts, ctx, vocab)
  }

  /** Score a corpus against a (possibly foreign) trained model. LEFT
    * joins + add-one smoothing make unseen bigrams well-defined —
    * `p = (0+1)/(c_a+V)`, and `1/V` for a wholly unseen context char —
    * so a model trained once scores ANY corpus (the CCNet deployment
    * shape: the model artifact is fixed, the corpus streams past it).
    * On the training corpus itself every lookup hits and this reduces
    * exactly to the inline key (row identity pinned in CharLmSpec).
    */
  private[graft] def charlmScoreAgainst(d: DataFrame,
      counts: DataFrame, ctx: DataFrame, vocab: DataFrame): DataFrame =
    bigramsOf(d)
      .join(broadcast(counts), Seq("bg"), "left")
      .join(broadcast(ctx), expr("substring(bg, 1, 1)") === ctx("ch"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (-Num.dsum(log2((coalesce(col("c_bg"), lit(0L)) + 1) /
          (coalesce(col("c_a"), lit(0L)) + col("v")))) / count(lit(1)))
          .as("bits"))
      .select("doc_id", "n_bigrams", "bits")

  /** Train-and-score in one call — the inline charlm_quality shape. The
    * SCORING pass picks the narrow native form whenever the trained
    * model fits the literal cap (any char-bigram model does): the join
    * form explodes the corpus to one row per bigram and re-aggregates by
    * doc_id — at 100 TB that shuffles a corpus-×-doc-length frame for a
    * quantity computable in-row against a broadcast-sized model. Above
    * the cap (word-level models) it falls back to the join form, which
    * is correct at any size. Both forms are bit-identical (CharLmSpec);
    * output rows are docs with ≥ 1 bigram, either way.
    *
    * TRAINING here is the one-heavy-scan form ([[trainCharLm]]):
    * collecting [[charlmModelOf]]'s three frames separately re-runs the
    * corpus-wide bigram aggregation for `ctx` and a third explode scan
    * for `vocab` — both derivable from the collected bigram counts plus
    * the (filter-only, no-explode) single-char-doc residue. Three heavy
    * scans → one; this was half the r16 charlm wall (verdict task 3).
    * An over-cap-but-exact collect keeps that one-scan economy too: the
    * collected rows become the join-form model frames driver-side
    * (OverCap below) — only a genuine buffer OVERFLOW retrains through
    * [[charlmModelOf]] (r17 review).
    */
  private[graft] def charlmScoreOf(d: DataFrame): DataFrame =
    trainCharLm(d) match {
      case CharLmTrain.Literal(mBg, mA, vv) =>
        withCharLmScore(d, mBg, mA, vv)
          .filter(col("n_bigrams") > 0)
          .select("doc_id", "n_bigrams", "bits")
      case CharLmTrain.OverCap(bgRows, vv) =>
        // the one-scan aggregate already paid the corpus pass and its
        // counts are EXACT — only the literal cap failed, so build the
        // join-form model frames from the collected rows driver-side
        // (≤ MaxBigrams rows, the codebook-collect idiom) instead of
        // re-scanning the corpus three more times through charlmModelOf
        // (r17 review)
        val spark = d.sparkSession
        import spark.implicits._
        val counts = bgRows.toDF("bg", "c_bg")
        val ctx = bgRows.groupMapReduce { case (k, _) =>
          k.substring(0, Character.charCount(k.codePointAt(0)))
        }(_._2)(_ + _).toSeq.toDF("ch", "c_a")
        val vocab = Seq(vv).toDF("v")
        charlmScoreAgainst(d, counts, ctx, vocab)
      case CharLmTrain.Overflowed =>
        // the buffer stopped admitting keys: counts are unreliable by
        // contract — retrain through the any-domain-size explode form
        val (counts, ctx, vocab) = charlmModelOf(d)
        charlmScoreAgainst(d, counts, ctx, vocab)
    }

  /** Outcome of the one-scan trainer: the model as literal maps when it
    * fits the plan-constant cap, the EXACT collected rows when only
    * that cap failed (still a valid broadcast-join model — no corpus
    * re-scan needed), or the overflow signal (counts unreliable,
    * retrain via [[charlmModelOf]]).
    */
  private[graft] sealed trait CharLmTrain
  private[graft] object CharLmTrain {
    final case class Literal(bg: Map[String, Long], a: Map[String, Long],
        v: Long) extends CharLmTrain
    final case class OverCap(bgRows: Seq[(String, Long)], v: Long) extends CharLmTrain
    case object Overflowed extends CharLmTrain
  }

  /** Train the literal-form model with ONE scan: the
    * [[graft.functions.BigramCounts]] aggregate folds every partition
    * straight into a charset²-bounded counter buffer (no explode, no
    * corpus-×-length hash aggregate) and also collects the distinct
    * code points, so `ctx` (the bigram counts re-grouped by first code
    * point) and the vocabulary size both derive driver-side. What
    * [[charlmModelOf]] computes as three corpus scans — counts, ctx,
    * vocab — costs one here; this plus the [[CharLmBitSum]] scoring
    * pass was the whole r16 charlm wall (verdict task 3,
    * CHARLM_BENCH.json). Returns None when the aggregate overflowed its
    * domain bound or the model exceeds [[CharLmLiteralMax]] — the
    * caller falls back to the join form, correct at any size.
    * Value-identity to charlmModelOf's frames is pinned in CharLmSpec.
    */
  private[graft] def trainCharLmDriver(d: DataFrame)
      : Option[(Map[String, Long], Map[String, Long], Long)] = trainCharLm(d) match {
    case CharLmTrain.Literal(bg, a, v) => Some((bg, a, v))
    case _ => None
  }

  /** The one-scan trainer's full outcome — [[trainCharLmDriver]] is the
    * literal-or-nothing view of this; [[charlmScoreOf]] consumes the
    * OverCap case directly so an over-cap-but-exact collect is never
    * thrown away and retrained.
    */
  private[graft] def trainCharLm(d: DataFrame): CharLmTrain = {
    val row = d.agg(graft.functions.BigramCounts.bigram_counts(col("text")).as("m"))
      .selectExpr("m.bgs AS bgs", "m.chars AS chars", "m.overflow AS overflow")
      .collect()(0)
    if (row.getBoolean(2)) CharLmTrain.Overflowed
    else {
      val bgRows = row.getSeq[org.apache.spark.sql.Row](0)
        .map(r => r.getString(0) -> r.getLong(1))
      val v = row.getSeq[String](1).size.toLong
      if (bgRows.length > CharLmLiteralMax) CharLmTrain.OverCap(bgRows, v)
      else {
        val mBg = bgRows.toMap
        val mA = mBg.groupMapReduce { case (k, _) =>
          k.substring(0, Character.charCount(k.codePointAt(0)))
        }(_._2)(_ + _)
        CharLmTrain.Literal(mBg, mA, v)
      }
    }
  }

  /** The NARROW (per-row, shuffle-free) scoring form: the trained model
    * collected into literal maps — legitimate because the model is
    * metadata-bounded (≤ |charset|² rows, the codebook-collect idiom) —
    * and the per-doc surprisal sum computed by ONE native per-row pass
    * ([[graft.functions.CharLmBitSum]]). No explode, no groupBy, no
    * join: a single narrow expression, so it composes with a STREAMING
    * frame per micro-batch unchanged (the `withQualityScore`/
    * `withPiiScrub` composition contract). The expression rounds each
    * term to decimal(18,6) and sums exactly — the SAME rounded terms as
    * [[charlmScoreAgainst]]'s Num.dsum, so the two forms agree
    * bit-for-bit (pinned in CharLmSpec). (The r16 interim was a
    * higher-order `aggregate` fold over `char_grams`: linear in doc
    * size but every term paid ~7 interpreted Catalyst dispatches —
    * charlm_quality 0.41 → 0.91 s on 540-char docs; the native loop
    * removes the interpretation constant while keeping the linearity —
    * r16 verdict task 3, CHARLM_BENCH.json.)
    *
    * Appends `n_bigrams` (0 for docs shorter than 2 chars) and `bits`
    * (null for such docs) to any frame with a `text` column.
    *
    * SIZE LIMIT: the model rides the expression as a plan constant, so
    * this form is for models up to [[CharLmLiteralMax]] entries (any
    * char-bigram model qualifies — a full Unicode corpus charset does
    * not). The cap is ENFORCED at [[collectCharLmModel]]; larger models
    * (word-level, real KenLM tables) use [[charlmScoreAgainst]]'s
    * broadcast-join form — same numbers, one broadcast instead of a
    * constant.
    */
  private[graft] def withCharLmScore(d: DataFrame,
      mBg: Map[String, Long], mA: Map[String, Long], v: Long): DataFrame =
    d.withColumn("n_bigrams",
      greatest(length(col("text")) - 1, lit(0)).cast("long"))
      .withColumn("bits",
        when(col("n_bigrams") > 0,
          -graft.functions.CharLmBitSum.charlm_bitsum(col("text"), mBg, mA, v) /
            col("n_bigrams")))

  /** Ceiling on the literal-map scoring form's model size (entries). Any
    * char-bigram model stays far under it (charset² for a realistic
    * charset); a word-level or KenLM-scale table does NOT — such models
    * must score through the broadcast-join form ([[charlmScoreAgainst]] /
    * [[charlmScoreWithTable]], the default scoring entry), which gives
    * bit-identical numbers at any size. The cap is ENFORCED at
    * [[collectCharLmModel]] so a growing model artifact fails loudly at
    * the collect instead of silently materializing megabytes of literals
    * into every plan (r13 verdict item 6).
    */
  val CharLmLiteralMax = 10000

  /** Collect a trained model into the literal-map form used by
    * [[withCharLmScore]] — driver-side but metadata-bounded (the
    * ANN-codebook collect idiom), and size-guarded: above
    * [[CharLmLiteralMax]] the literal form is the wrong plan and this
    * throws, steering the caller to the join form.
    */
  private[graft] def collectCharLmModel(counts: DataFrame, ctx: DataFrame,
      vocab: DataFrame): (Map[String, Long], Map[String, Long], Long) =
    collectCharLmModelOpt(counts, ctx, vocab).getOrElse(throw new IllegalArgumentException(
      s"charlm model has more than CharLmLiteralMax ($CharLmLiteralMax) bigram rows: " +
        "the literal-map form would materialize the model into every plan — score " +
        "through charlmScoreAgainst / charlmScoreWithTable (broadcast-join form, " +
        "bit-identical) instead"))

  /** [[collectCharLmModel]] that reports over-cap as None instead of
    * throwing — the [[charlmScoreOf]] form-selection probe. The cap
    * check collects `limit(cap+1)` rows, NOT `count()`: one scan decides
    * AND delivers the model when it fits.
    */
  private[graft] def collectCharLmModelOpt(counts: DataFrame, ctx: DataFrame,
      vocab: DataFrame): Option[(Map[String, Long], Map[String, Long], Long)] = {
    val bgRows = counts.limit(CharLmLiteralMax + 1).collect()
    if (bgRows.length > CharLmLiteralMax) None
    else {
      val mBg = bgRows.map(r => r.getString(0) -> r.getLong(1)).toMap
      val mA = ctx.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      Some((mBg, mA, vocab.collect()(0).getLong(0)))
    }
  }

  /** Resolve the PERSISTED model tables into the literal-map form when
    * the artifact fits [[CharLmLiteralMax]] (None above it — the caller
    * keeps the broadcast-join plan), with the emptiness guard FOLDED
    * into the vocab read: the `_ctx` head row both proves the artifact
    * is trained and delivers `v`, so first use costs three
    * metadata-scale jobs, not an extra probe plus three (r17 verdict
    * task 6). The collects are metadata-bounded either way: the bigram
    * read stops at cap+1 rows and `_ctx` is only collected once the cap
    * is known to hold (≤ charset rows for any within-cap model).
    */
  private[graft] def collectCharLmModelFromTables(spark: SparkSession,
      table: String): Option[(Map[String, Long], Map[String, Long], Long)] = {
    val vHead = spark.table(table + "_ctx").select("v").limit(1).collect()
    require(vHead.length == 1,
      s"charlm model table ${table}_ctx is empty — train first (writeCharLmTable)")
    val v = vHead(0).getLong(0)
    val bgRows = spark.table(table).select("bg", "c_bg")
      .limit(CharLmLiteralMax + 1).collect()
    if (bgRows.length > CharLmLiteralMax) None
    else {
      val mBg = bgRows.map(r => r.getString(0) -> r.getLong(1)).toMap
      val mA = spark.table(table + "_ctx").select("ch", "c_a").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      Some((mBg, mA, v))
    }
  }

  /** Persist the trained model as catalog tables (`table` = bigram
    * counts, `table_ctx` = context counts WITH the vocab size stamped on
    * every row) — the KenLM-artifact analog of [[TextOps.writeMergeTable]]:
    * train once on the reference corpus, score everything else against
    * the artifact without retraining.
    */
  def writeCharLmTable(spark: SparkSession, sfDir: String, table: String): Unit =
    writeCharLmTableFrom(spark, docs(spark, sfDir).select("doc_id", "text"), table)

  /** [[writeCharLmTable]] over an explicit reference-corpus frame — the
    * train-on-anything entry (demo corpora, a curated reference slice).
    */
  def writeCharLmTableFrom(spark: SparkSession, d: DataFrame, table: String): Unit = {
    val (counts, ctx, vocab) = charlmModelOf(d)
    // the epoch is the generation stamp, bumped AFTER the data lands (a
    // bump the gate observes must always point at the new counts — the
    // reverse order could cache the OLD model under the NEW epoch and
    // never re-arm): gate JVMs in OTHER processes re-validate this epoch
    // per batch and re-collect on drift
    IndexTable.replace(spark, table, Seq(table + "_ctx")) {
      counts.write.mode("overwrite").format("parquet").saveAsTable(table)
      ctx.crossJoin(vocab).write.mode("overwrite").format("parquet").saveAsTable(table + "_ctx")
      None // a model, not an id-keyed index: no staleness to feed
    }
    // a REBUILD at the same (warehouse, name) must also re-arm THIS
    // JVM's gate cache immediately (CharLmGate r16 ADVICE) — same-JVM
    // writers shouldn't wait a batch for the epoch read to notice
    graft.streaming.CharLmGate.invalidate(spark, table)
  }

  /** Score `sfDir`'s documents against the PERSISTED model — no
    * training pass; the model side is two broadcast table reads. This is
    * the DEFAULT scoring entry: it is correct and bit-identical to the
    * literal form at ANY model size (a real KenLM-scale artifact can
    * only go through here — the literal form is capped at
    * [[CharLmLiteralMax]] and exists for the narrow streaming
    * composition, where the model is by construction charset-bounded).
    */
  def charlmScoreWithTable(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val ctxV = spark.table(table + "_ctx")
    require(ctxV.limit(1).count() == 1,
      s"charlm model table ${table}_ctx is empty — train first (writeCharLmTable)")
    charlmScoreAgainst(docs(spark, sfDir).select("doc_id", "text"),
      spark.table(table), ctxV.select("ch", "c_a"),
      ctxV.select("v").limit(1))
      .orderBy("doc_id")
  }

  // ---- unicode / whitespace normalization (round 14) --------------------

  /** Control characters stripped by [[withTextNormalize]]: C0 controls
    * except TAB/LF/CR (which the whitespace pass owns) plus DEL. Same
    * class literal in the DuckDB oracle.
    */
  private val CtrlRe = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"

  /** The normalization-PLANTED corpus view (the `pii_redact` decoration
    * idiom — the synthetic corpus is clean ASCII, so the dirt is
    * synthesized in-plan, identically in both engines, and the oracle
    * verifies the TRANSFORM): `% 4 == 1` docs gain NFD-decomposed
    * accents (`e` + combining acute U+0301 — composes to `é` under
    * NFC), `% 5 == 2` docs gain a tab run and a BEL control, `% 7 == 3`
    * docs gain doubled spaces and trailing whitespace.
    */
  private def normPlanted(d: DataFrame): DataFrame =
    d.select(col("doc_id"), concat(col("text"),
      when(pmod(col("doc_id"), lit(4)) === 1,
        concat(lit(" cafe"), lit("\u0301"), lit(" expose"), lit("\u0301"), lit("s")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5)) === 2,
        concat(lit("\t\tcols"), lit("\u0007"), lit("end"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 3,
        lit("  doubled  spaces  ")).otherwise(lit(""))).as("text"))

  private val NormPlantedSql: String =
    """SELECT doc_id, text ||
      |  CASE WHEN doc_id % 4 = 1
      |       THEN ' cafe' || chr(769) || ' expose' || chr(769) || 's'
      |       ELSE '' END ||
      |  CASE WHEN doc_id % 5 = 2
      |       THEN chr(9) || chr(9) || 'cols' || chr(7) || 'end'
      |       ELSE '' END ||
      |  CASE WHEN doc_id % 7 = 3
      |       THEN '  doubled  spaces  '
      |       ELSE '' END AS text
      |FROM documents""".stripMargin

  /** Unicode + whitespace normalization — the C4-style canonicalization
    * pass that must run BEFORE any hashing/dedup operator, or
    * equal-looking text (NFD vs NFC accents, doubled spaces) hashes as
    * distinct and every exact-dedup pass silently under-merges: NFC
    * composition ([[graft.functions.NfcNormalize]], the native
    * expression — Spark has no builtin), C0-control strip (TAB excluded
    * — the whitespace pass owns it; LF/CR excluded — line structure
    * feeds `dedup_lines`), space/tab-run collapse, and edge trim.
    * Narrow Column algebra end to end: no shuffle, composes with the
    * streaming gates unchanged.
    */
  private[graft] def withTextNormalize(d: DataFrame): DataFrame =
    d.withColumn("norm_text",
      trim(regexp_replace(
        regexp_replace(
          graft.functions.NfcNormalize.nfc_normalize(col("text")), CtrlRe, ""),
        "[ \\t]+", " ")))
      // length_delta is a CODE-POINT LENGTH DELTA, not a strip count: NFC
      // composition shrinkage (2 code points -> 1) lands in it, and it can
      // go NEGATIVE for NFC-expanding code points (composition exclusions
      // such as U+0958, which NFC decomposes 1 -> 2) — named accordingly
      .withColumn("length_delta",
        (length(col("text")) - length(col("norm_text"))).cast("long"))
      .withColumn("changed", col("norm_text") =!= col("text"))

  private def textNormalize(spark: SparkSession, sfDir: String): DataFrame =
    withTextNormalize(normPlanted(docs(spark, sfDir).select("doc_id", "text")))
      .select("doc_id", "norm_text", "length_delta", "changed")
      .orderBy("doc_id")

  private def charlmQuality(spark: SparkSession, sfDir: String): DataFrame =
    charlmScoreOf(docs(spark, sfDir).select("doc_id", "text")).orderBy("doc_id")

  /** CCNet's head/middle/tail partition: tertile-bucket the corpus by LM
    * score (head = most in-distribution). Thresholds come from
    * `percentile_approx` — a MERGEABLE quantile sketch, so at 100 TB the
    * thresholds are one partial-agg pass (no global sort, no windowed
    * ntile funnel — the `sample_stratified` idiom), broadcast back as a
    * 1-row frame. Bucket bounds hold by construction of the when-chain;
    * tertile sizes are approximate by design (sketch accuracy 10⁻⁴).
    */
  private[graft] def qualityBucketsOf(scored: DataFrame): DataFrame = {
    val th = scored.agg(
      expr("percentile_approx(bits, 0.3333333333333333D, 10000)").as("t1"),
      expr("percentile_approx(bits, 0.6666666666666667D, 10000)").as("t2"))
    scored.crossJoin(broadcast(th))
      .select(col("doc_id"), col("n_bigrams"), col("bits"),
        when(col("bits") <= col("t1"), "head")
          .when(col("bits") <= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  private def qualityBuckets(spark: SparkSession, sfDir: String): DataFrame =
    qualityBucketsOf(charlmScoreOf(docs(spark, sfDir).select("doc_id", "text")))
      .orderBy("doc_id")

  /** Compression-ratio quality signal (the Gopher/MassiveText-family
    * heuristic): deflate the text ([[graft.functions.DeflateSize]], the
    * native expression — zero UDFs) and flag the two untrainable ends:
    *
    *   - `repetitive`   ratio < 0.30 — boilerplate/templated filler that
    *                    LZ77 prices at a fraction of its length; catches
    *                    NEAR-repeats and low-entropy character structure
    *                    that the exact line/n-gram counters of
    *                    `doc_repetition` cannot see
    *   - `entropy_high` ratio ≥ 0.78 — non-language payloads (minified
    *                    blobs, base64, hex dumps) that barely compress
    *   - `short`        n_bytes < 256 — below the LZ window warmup the
    *                    ratio is header-dominated (a 49-byte doc in this
    *                    corpus "compresses" to 1.00) and says nothing;
    *                    flagged, never classified
    *   - `ok`           everything else
    *
    * Thresholds sit well clear of the natural corpus band (long-doc
    * ratios 0.38–0.57 at every SF), so both cut paths are DELIBERATE
    * classifications, not noise — the spec drives them with constructed
    * repetitive/high-entropy frames through this same helper. ratio_ppm
    * is integer (×10⁶ DIV) — no cross-run float drift. Narrow map end to
    * end: no shuffle, composes upstream of `corpus_filter` like the
    * other hygiene signals.
    */
  private[graft] def withQualityCompress(d: DataFrame): DataFrame =
    d.withColumn("n_bytes", expr("octet_length(text)").cast("long"))
      .withColumn("deflate_bytes",
        graft.functions.DeflateSize.deflate_size(col("text")).cast("long"))
      // the division is guarded, not just ordered behind the flag: a
      // projection computes every column for every row, so an unguarded
      // DIV on an empty doc (n_bytes = 0) throws DIVIDE_BY_ZERO under
      // Spark 4's default ANSI mode regardless of the when-chain
      .withColumn("ratio_ppm",
        when(col("n_bytes") > 0, expr("deflate_bytes * 1000000 DIV n_bytes")))
      .withColumn("flag",
        // null text and 0-byte text are 'short' too: no content is the
        // degenerate end of "too little signal", never 'ok'
        when(col("n_bytes").isNull || col("n_bytes") < 256, "short")
          .when(col("ratio_ppm") < 300000, "repetitive")
          .when(col("ratio_ppm") >= 780000, "entropy_high")
          .otherwise("ok"))

  private def qualityCompress(spark: SparkSession, sfDir: String): DataFrame =
    withQualityCompress(docs(spark, sfDir).select("doc_id", "text"))
      .select("doc_id", "n_bytes", "deflate_bytes", "ratio_ppm", "flag")
      .orderBy("doc_id")

  // ---- declarations ------------------------------------------------------

  val defs: Map[String, QueryDef] = Map(
    "text_normalize" -> QueryDef(textNormalize,
      Some(s"""WITH d AS ($NormPlantedSql)
              |SELECT doc_id,
              |       trim(regexp_replace(regexp_replace(nfc_normalize(text),
              |              '$CtrlRe', '', 'g'),
              |            '[ \\t]+', ' ', 'g')) AS norm_text,
              |       length(text) -
              |         length(trim(regexp_replace(regexp_replace(nfc_normalize(text),
              |                  '$CtrlRe', '', 'g'),
              |                '[ \\t]+', ' ', 'g'))) AS length_delta,
              |       trim(regexp_replace(regexp_replace(nfc_normalize(text),
              |              '$CtrlRe', '', 'g'),
              |            '[ \\t]+', ' ', 'g')) <> text AS changed
              |FROM d ORDER BY doc_id""".stripMargin)),

    "charlm_quality" -> QueryDef(charlmQuality, None),

    "quality_buckets" -> QueryDef(qualityBuckets, None),

    "quality_compress" -> QueryDef(qualityCompress, None),

    "doc_repetition" -> QueryDef(docRepetition,
      Some(s"""WITH d AS (
              |  $PlantedSql),
              |l AS (
              |  $LineViewSql),
              |ls AS (
              |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines, count(*) AS n_uniq_lines
              |  FROM (SELECT doc_id, line, count(*) AS c FROM l GROUP BY 1, 2) GROUP BY 1),
              |g AS (
              |  $GramViewSql),
              |gs AS (
              |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams, max(c) AS top_2gram,
              |         count(*) AS n_uniq_2grams
              |  FROM (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2) GROUP BY 1)
              |SELECT ls.doc_id, ls.n_lines,
              |       (ls.n_lines - ls.n_uniq_lines) / ls.n_lines AS dup_line_frac,
              |       gs.n_2grams, gs.top_2gram,
              |       gs.top_2gram / gs.n_2grams AS top_2gram_frac,
              |       (gs.n_2grams - gs.n_uniq_2grams) / gs.n_2grams AS dup_2gram_frac
              |FROM ls LEFT JOIN gs USING (doc_id) ORDER BY doc_id""".stripMargin)),

    "dedup_lines" -> QueryDef(dedupLines,
      Some(s"""WITH d AS (
              |  $PlantedSql),
              |l AS (
              |  $LineViewSql),
              |f AS (
              |  SELECT doc_id, line, min(i) AS i, count(*) AS c FROM l GROUP BY 1, 2),
              |a AS (
              |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines, count(*) AS n_kept,
              |         string_agg(line, ' ' ORDER BY i) AS clean_text
              |  FROM f GROUP BY 1)
              |SELECT doc_id, n_lines, n_kept, n_lines - n_kept AS n_removed, clean_text
              |FROM a ORDER BY doc_id""".stripMargin)),

    "dedup_lines_global" -> QueryDef(dedupLinesGlobal,
      Some(s"""WITH d AS (
              |  SELECT doc_id, lang,
              |         CASE WHEN doc_id % 4 = 1 THEN '$BoilerLine ' || text
              |              ELSE text END AS text
              |  FROM documents),
              |l AS (
              |  $LineViewSql),
              |f AS (SELECT line, count(*) AS freq FROM l GROUP BY 1),
              |t AS (SELECT l.doc_id, l.i, l.line, f.freq >= 3 AS is_boiler
              |      FROM l JOIN f USING (line))
              |SELECT doc_id, count(*) AS n_lines,
              |       CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
              |       coalesce(string_agg(CASE WHEN NOT is_boiler THEN line END, ' ' ORDER BY i), '') AS clean_text
              |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    "corpus_filter_rep" -> QueryDef(corpusFilterRep,
      Some(s"""WITH q AS (
              |  ${TextOps.QualityCountersSql}),
              |s AS (
              |  SELECT doc_id, lang, h, CAST(n_tok AS BIGINT) AS n_tokens,
              |         ${TextOps.QualityExprSql} AS quality
              |  FROM q),
              |d AS (SELECT doc_id, text FROM documents),
              |g AS (
              |  $GramViewSql),
              |rep AS (
              |  SELECT doc_id, max(c) / CAST(sum(c) AS BIGINT) AS top_2gram_frac
              |  FROM (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2) GROUP BY 1),
              |c AS (SELECT h, min(doc_id) AS keep_id FROM s GROUP BY h)
              |SELECT s.doc_id, s.lang, s.n_tokens, s.quality,
              |       coalesce(rep.top_2gram_frac, 0.0) AS top_2gram_frac,
              |       s.doc_id = c.keep_id AS is_canonical,
              |       CASE WHEN s.doc_id <> c.keep_id THEN 'dup'
              |            WHEN s.n_tokens < 20 THEN 'short'
              |            WHEN coalesce(rep.top_2gram_frac, 0.0) > $Top2GramMax THEN 'repetitive'
              |            WHEN s.quality < 0.4 THEN 'quality'
              |            ELSE 'keep' END AS decision,
              |       (s.doc_id = c.keep_id AND s.n_tokens >= 20
              |        AND coalesce(rep.top_2gram_frac, 0.0) <= $Top2GramMax
              |        AND s.quality >= 0.4) AS keep
              |FROM s JOIN c USING (h) LEFT JOIN rep USING (doc_id)
              |ORDER BY s.doc_id""".stripMargin)),

    "pii_redact" -> QueryDef(piiRedact,
      Some(s"""WITH d AS (
              |  SELECT doc_id, text || $PiiPlantSuffixSql AS txt
              |  FROM documents)
              |SELECT doc_id,
              |       CAST(len(regexp_extract_all(txt, '$EmailRe')) AS BIGINT) AS n_email,
              |       CAST(len(regexp_extract_all(txt, '$PhoneRe')) AS BIGINT) AS n_phone,
              |       CAST(len(regexp_extract_all(txt, '$IpRe')) AS BIGINT) AS n_ip,
              |       regexp_replace(regexp_replace(regexp_replace(txt,
              |         '$EmailRe', '<EMAIL>', 'g'),
              |         '$PhoneRe', '<PHONE>', 'g'),
              |         '$IpRe', '<IP>', 'g') AS redacted
              |FROM d ORDER BY doc_id""".stripMargin))
  )
}
