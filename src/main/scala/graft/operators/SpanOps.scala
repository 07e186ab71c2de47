package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Substring-level (sub-document) exact deduplication — the ExactSubstr
  * pass of Lee et al. 2022, "Deduplicating Training Data Makes Language
  * Models Better" (arXiv:2107.06499): find every maximal character span
  * that occurs verbatim more than once in the corpus (across documents or
  * repeated within one), report the spans, and optionally cut them out of
  * the text. Doc-level dedup (dedup_exact / dedup_clusters*) cannot see
  * these — a boilerplate license header shared by thousands of otherwise
  * distinct pages survives every doc-level pass.
  *
  * Reference tie-in: the reference engine's only content-level integrity
  * primitive is the whole-payload MD5 (`utils.cpp` digest of the full
  * file); this family is the sub-payload generalization a training-data
  * pipeline needs.
  *
  * Algorithm (gram-marking, not suffix arrays): slide a K-char window at
  * stride 1; a position is DUPLICATED iff its K-gram occurs at ≥ 2 sites
  * corpus-wide; merge marked positions whose starts are ≤ K apart into
  * maximal spans. A verbatim run of length L ≥ K shared by two sites
  * yields L−K+1 consecutive marked positions at each site, which merge to
  * exactly the [start, start+L) span — i.e. this computes precisely the
  * "duplicated substring of length ≥ K" relation of the paper, with K the
  * paper's length threshold (theirs: 50 BPE tokens; ours: [[GramK]] chars,
  * sized so the synthetic corpus' short docs can still host spans). Suffix
  * arrays (the paper's single-node structure) don't distribute; gram
  * marking is embarrassingly parallel: one generator, one count shuffle,
  * one join, per-doc windows.
  *
  * Scale notes (100 TB): stride-1 grams are ~1 row per corpus char — the
  * declared keys keep them RAW (string gram as the key) so DuckDB can
  * replay the result exactly; the production path is [[dupSpansWinnow]],
  * which cuts the shuffled volume to the winnowing density 2/(w+1) using
  * TRUE window-min winnowing (Schleimer et al. 2003 §4, "Winnowing:
  * Local Algorithms for Document Fingerprinting"): from every window of
  * [[WinnowW]] consecutive gram hashes, select the LEFTMOST minimum —
  * a deliberate deviation from Schleimer §4's rightmost-tie rule
  * ([[graft.functions.WinnowSelect]]'s strict-pop deque keeps the
  * leftmost tie); the guarantee is unaffected because either tie rule
  * is a pure function of window content, but the implemented rule is
  * part of the persisted eval-gram index GEOMETRY — "fixing" it to
  * match the paper would silently desynchronize every stored index
  * from its probes (the [[graft.streaming.SpanGate]] meta table pins
  * it for exactly that reason).
  * Selection is a pure function of the window's CONTENT, so two copies
  * of a duplicated run select the same grams in every window that lies
  * fully inside the run — which gives the DETERMINISTIC recall
  * guarantee of the paper: every duplicated run of length ≥ K+w−1
  * contains a full window, its minimum is selected at BOTH sites, and
  * the run is detected (no probabilistic miss, unlike the r13 0-mod-p
  * selection this replaced). The per-doc interval merge is a
  * `doc_id`-partitioned window — group size bounded by document length,
  * no skew funnel. The one true skew risk — a mega-duplicated gram
  * (universal boilerplate at ≥ 2 sites per million docs) funneling all
  * its sites through one reducer in the mark join — is closed by the
  * `agg_salted` idiom: the dup-gram side (one row per key after the
  * count) fans out over [[MarkSaltN]] salts and the site side joins on
  * (hash, hash₂, salt), so no reducer ever receives more than ~1/16 of
  * any single gram's sites.
  */
object SpanOps {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")

  /** Span gram length — the minimum duplicated-substring length the scan
    * detects (Lee et al.'s length threshold).
    */
  val GramK = 30

  /** Winnowing window width (in gram positions) for the production
    * sibling: expected selection density 2/(w+1) = 1/8, so the mark
    * shuffle carries ~1/8 of the stride-1 volume, and every duplicated
    * run of length ≥ K+w−1 chars (44 at the current constants) is
    * detected deterministically (Schleimer et al. 2003, theorem of §3).
    */
  val WinnowW = 15

  /** Salt fan-out of the dup-gram side in the winnowed mark join (the
    * `agg_salted` idiom): a universal-boilerplate gram's sites spread
    * over this many reducers instead of funneling through one.
    */
  val MarkSaltN = 16

  /** Seed string of the second mark hash (`gh2 = xxhash64(Gh2Seed,
    * gram)`) — one constant feeds both [[winnowSites]] and
    * [[SelectionTag]] so the tag cannot drift from the live scheme.
    */
  private[graft] val Gh2Seed = "winnow-g2"

  /** Full selection-scheme tag: the winnow constants AND the mark-hash
    * scheme, assembled from the LIVE values (gram hash base, fmix64
    * multipliers, tie rule via [[graft.functions.WinnowSelect.schemeTag]];
    * xxhash64 mark hashes and the gh2 seed here). Persisted eval-gram
    * indexes stamp it into their meta table and probes validate it
    * ([[graft.streaming.SpanGate]]): selected sites and mark keys depend
    * on every one of these constants, and a change that slipped past the
    * (gram_k, winnow_w) check would silently desynchronize detection.
    */
  private[graft] def SelectionTag: String =
    s"${graft.functions.WinnowSelect.schemeTag}:gh=xxhash64:gh2=xxhash64('$Gh2Seed')"

  /** Planted cross-doc duplication: docs with `doc_id % 6 == 1` carry a
    * shared license-boilerplate tail (appended, so every original gram
    * boundary is untouched). A constant literal evaluated identically in
    * both engines — the oracle verifies span DETECTION and merging, not a
    * lucky property of the synthetic corpus (which also contains natural
    * near-dup pairs; those are detected too, by both engines alike).
    */
  val Boiler: String =
    " Licensed under the Apache License Version 2.0 you may not use this file except in compliance with the License"

  private[graft] def planted(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(6)) === 1, concat(col("text"), lit(Boiler)))
        .otherwise(col("text")).as("text"))

  /** Shared DuckDB fragment mirroring [[planted]]. */
  private val PlantedSql: String =
    s"""SELECT doc_id,
       |       CASE WHEN doc_id % 6 = 1 THEN text || '$Boiler' ELSE text END AS text
       |FROM documents""".stripMargin

  /** Shared DuckDB CTE chain cutting eval-leak spans from a train CTE:
    * expects CTEs `t (doc_id, text)` (the docs to cut) and
    * `ev (doc_id, text)` (the eval docs) in scope, defines
    * `tg … rebuilt`; callers finish with `t LEFT JOIN rebuilt` (see
    * `decontaminate_strip` / `corpus_curate` — one fragment, so the
    * family's surgeries cannot drift between keys).
    */
  private def stripChainSql: String =
    s"""tg AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos, substring(text, CAST(i AS INT), $GramK) AS gram
       |  FROM t, UNNEST(range(1, greatest(length(text) - ${GramK - 1}, 0) + 1)) AS u(i)
       |  WHERE length(text) >= $GramK),
       |eg AS (
       |  SELECT DISTINCT substring(text, CAST(i AS INT), $GramK) AS gram
       |  FROM ev, UNNEST(range(1, greatest(length(text) - ${GramK - 1}, 0) + 1)) AS u(i)
       |  WHERE length(text) >= $GramK),
       |m AS (SELECT tg.doc_id, tg.pos FROM tg JOIN eg USING (gram)),
       |w AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN pos > coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), -$GramK * 2)
       |                        + $GramK
       |              THEN 1 ELSE 0 END AS new_span
       |  FROM m),
       |isl AS (
       |  SELECT doc_id, pos, sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
       |  FROM w),
       |spans AS (
       |  SELECT doc_id, min(pos) AS span_start, max(pos) + $GramK AS span_end
       |  FROM isl GROUP BY doc_id, span_id),
       |gaps AS (
       |  SELECT doc_id,
       |         coalesce(lag(span_end) OVER (PARTITION BY doc_id ORDER BY span_start), 1) AS gs,
       |         span_start AS ge
       |  FROM spans
       |  UNION ALL
       |  SELECT doc_id, max(span_end), NULL FROM spans GROUP BY doc_id),
       |rebuilt AS (
       |  SELECT gaps.doc_id,
       |         string_agg(
       |           substring(t.text, CAST(gaps.gs AS INT),
       |                     CAST(coalesce(gaps.ge, length(t.text) + 1) - gaps.gs AS INT)),
       |           '' ORDER BY gaps.gs) AS clean_text
       |  FROM gaps JOIN t USING (doc_id) GROUP BY gaps.doc_id)""".stripMargin

  /** All K-gram sites of a `(doc_id, text)` frame as
    * `(doc_id, pos, gram)` — 1-based pos, stride 1, via one native
    * [[graft.functions.CharGrams]] pass + posexplode. The previous
    * explode(sequence)+substring form re-scanned to the pos-th code
    * point per gram — QUADRATIC byte reads per doc (d²/2 for d chars;
    * the `heavy_hitters` finding, here on the engine's two most
    * expensive declared keys). Cost moved, honestly: the gram array
    * materializes below the generator at ~K× the text bytes per row
    * (transient, row-at-a-time) — the winnowed production path
    * ([[winnowSites]], native selection) never pays either.
    */
  private[graft] def gramSites(d: DataFrame): DataFrame =
    d.filter(length(col("text")) >= GramK)
      .select(col("doc_id"),
        posexplode(graft.functions.CharGrams.char_grams(col("text"), GramK)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("gram"))

  /** Merge marked positions into maximal spans. Positions are starts of
    * K-char windows: two marked starts ≤ K apart overlap or touch, so a
    * new span begins exactly when the gap exceeds K. `lag` suffices for
    * the running span end because K is constant and positions ascend —
    * the previous row always holds the furthest end so far.
    */
  private[graft] def mergeSpans(marked: DataFrame,
      extraAggs: Seq[(Column, String)] = Nil): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    marked
      .withColumn("new_span",
        when(col("pos") > coalesce(lag("pos", 1).over(w), lit(Long.MinValue / 2)) + GramK, 1L)
          .otherwise(0L))
      .withColumn("span_id", sum("new_span").over(w))
      .groupBy("doc_id", "span_id")
      .agg(min("pos").as("span_start"),
        Seq((max("pos") + GramK).as("span_end"), count(lit(1)).as("n_grams")) ++
          extraAggs.map { case (c, n) => c.as(n) }: _*)
      .withColumn("span_len", col("span_end") - col("span_start"))
      .select(Seq(col("doc_id"), col("span_start"), col("span_end"), col("span_len"),
        col("n_grams")) ++ extraAggs.map { case (_, n) => col(n) }: _*)
  }

  /** Core: duplicated-span relation of a `(doc_id, text)` frame.
    *
    * SINGLE-PASS form (r21, guide §2.3/§2.4): a per-gram site count as a
    * window over `partitionBy(gram)` marks dup sites in ONE shuffle of
    * the site rows. The r7-r20 shape (groupBy(gram) HAVING count ≥ 2,
    * then a join of the sites back onto the dup sliver) evaluated the
    * K-gram generator TWICE and shuffled the gram strings twice (once as
    * partial-agg keys, once as join keys) — measured 3.88 s vs 1.33 s at
    * sf0.1 (r21 stage profile `dsp2`, commit b952ce9, noop sink). Skew
    * exposure is UNCHANGED: the
    * join form already funneled every site of a hot gram through one
    * reducer partition (equi-join on gram), and WindowExec buffers with
    * graceful spill; the scale-safe production sibling remains the
    * salted winnow form ([[dupSpansWinnowOf]]).
    */
  private[graft] def dupSpansOf(d: DataFrame): DataFrame = {
    val w = Window.partitionBy("gram")
    mergeSpans(gramSites(d)
      .withColumn("n_sites", count(lit(1)).over(w))
      .filter(col("n_sites") >= 2)
      .select("doc_id", "pos"))
  }

  private def dupSpans(spark: SparkSession, sfDir: String): DataFrame =
    dupSpansOf(planted(docs(spark, sfDir))).orderBy("doc_id", "span_start")

  /** Winnow-selected gram sites of a `(doc_id, text)` frame:
    * `(doc_id, pos, gh, gh2)` — the leftmost-minimum gram hash of every
    * width-[[WinnowW]] window of consecutive gram positions (true
    * winnowing, Schleimer et al. 2003 §4; a doc with fewer than w grams
    * gets one whole-doc window so short docs still participate).
    * Selection is the O(chars) native pass of
    * [[graft.functions.WinnowSelect]] — rolling gram hash + monotonic
    * deque, NARROW, one projection — and only the ~2/(w+1)-density
    * selected sites are exploded into rows. No shuffle happens until the
    * dup-count groupBy, which carries 1/8 of the stride-1 volume.
    *
    * The mark key is the PAIR (gh, gh2) = (xxhash64(gram),
    * xxhash64(seed, gram)) — two independently-seeded 64-bit hashes of
    * the selected gram, computed post-explode. Matching on the pair
    * pushes the false-dup probability from a single-hash ~n²/2⁶⁵ to
    * ~n²/2¹²⁹ — still probabilistic (the gram string itself never
    * shuffles, by design), but negligible at any corpus size; the
    * soundness claim below is stated modulo this 128-bit collision.
    */
  private[graft] def winnowSites(d: DataFrame, w: Int = WinnowW): DataFrame =
    d.filter(length(col("text")) >= GramK)
      .select(col("doc_id"), col("text"),
        explode(graft.functions.WinnowSelect.winnow_select(col("text"), GramK, w)).as("p"))
      .select(col("doc_id"), col("p").cast("long").as("pos"),
        expr(s"substring(text, p, $GramK)").as("gram"))
      .select(col("doc_id"), col("pos"), xxhash64(col("gram")).as("gh"),
        xxhash64(lit(Gh2Seed), col("gram")).as("gh2"))

  /** Winnowed production sibling: identical span pipeline, but only
    * winnow-selected gram sites ([[winnowSites]]) enter the count
    * shuffle and the mark join, and the join key is the 16-byte hash
    * pair (gh, gh2), not the gram string (the declared exact key keeps
    * raw grams only so DuckDB can replay it). Guarantees, from selection
    * being a pure function of window content:
    *  - soundness: every winnow-marked site's gram occurs at ≥ 2
    *    selected sites, hence ≥ 2 sites corpus-wide (modulo the
    *    documented 128-bit hash-pair collision), so with the same merge
    *    rule every winnow span is CONTAINED in an exact span — exact
    *    inter-span gaps exceed K, and subsampling only widens gaps, so
    *    spans never bridge;
    *  - recall: DETERMINISTIC — every duplicated run of length
    *    L ≥ K+w−1 contains a window fully inside both copies; its
    *    leftmost-min gram is the same content at both sites, selected
    *    at both, so its count reaches 2 and the run is detected at every
    *    site (the §3 winnowing guarantee; shorter runs may or may not be
    *    caught).
    * The mark join is SALTED: the dup side is one row per (gh, gh2)
    * after the count filter, fanned out over [[MarkSaltN]] salts, and
    * each site carries pmod(xxhash64(doc_id, pos), saltN) — so a
    * universal-boilerplate gram's sites spread over saltN reducers
    * instead of funneling through one (`saltN = 1` is the unsalted
    * plan, used by SpanSpec to pin row identity). SpanSpec pins
    * soundness, the deterministic-recall floor, planted-boilerplate
    * detection, and salted-vs-unsalted row identity; PlanSpec pins the
    * salted shuffle shape.
    */
  private[graft] def dupSpansWinnowOf(d: DataFrame, w: Int = WinnowW,
      saltN: Int = MarkSaltN): DataFrame = {
    // r22 (guide §2.4 — share one exchange): the r21 shape evaluated
    // winnowSites TWICE (once under the dup-count groupBy, once as the
    // join probe side) — two full native-selection generator passes over
    // the corpus. Repartitioning the sites by the SALTED mark key first
    // lets Catalyst reuse that one exchange for both consumers
    // (ReusedExchange: the count aggregation reads it — per-salt partial
    // counts sum to the same n_sites — and the mark join probes it), so
    // the generator runs once and the sites shuffle once. The skew story
    // is untouched: the join still keys on (gh, gh2, salt), the dup side
    // still fans out over the salts, and no reducer sees more than
    // ~1/saltN of a mega-dup gram's sites (PlanSpec pins the salted
    // exchange + join keys; SpanSpec pins salted ≡ unsalted rows).
    val sites = winnowSites(d, w)
      .withColumn("salt",
        pmod(xxhash64(col("doc_id"), col("pos")), lit(saltN.toLong)))
      .repartition(col("gh"), col("gh2"), col("salt"))
    val dup = sites.groupBy("gh", "gh2", "salt").agg(count(lit(1)).as("c"))
      .groupBy("gh", "gh2").agg(sum("c").as("n_sites"))
      .filter(col("n_sites") >= 2)
      .select(col("gh"), col("gh2"),
        explode(sequence(lit(0L), lit((saltN - 1).toLong))).as("salt"))
    mergeSpans(sites.join(dup, Seq("gh", "gh2", "salt")).select("doc_id", "pos"))
  }

  private def dupSpansWinnow(spark: SparkSession, sfDir: String): DataFrame =
    dupSpansWinnowOf(planted(docs(spark, sfDir))).orderBy("doc_id", "span_start")

  /** Cut the duplicated spans out of each document (the "remove all
    * copies" policy — deterministic and order-free; Lee et al. discuss
    * keep-one vs drop-all and use drop-all for ExactSubstr). Spans are
    * disjoint and sorted, so one higher-order fold walks them left to
    * right, emitting the kept gap before each span; the finish lambda
    * emits the tail. No UDF — the fold is a Catalyst `aggregate` over a
    * per-doc array bounded by document length.
    */
  private[graft] def stripSpansOf(d: DataFrame): DataFrame =
    stripWith(d, dupSpansOf(d))

  /** Production sibling: the same cut driven by the WINNOWED span
    * relation — soundness (winnow spans ⊆ exact spans) means it removes
    * a SUBSET of the exact cut's mass, never non-duplicated text; recall
    * follows the winnow guarantee (every duplicated run of length
    * ≥ K+w−1 is cut — deterministically — at every site; shorter runs
    * best-effort).
    */
  private[graft] def stripSpansWinnowOf(d: DataFrame, w: Int = WinnowW): DataFrame =
    stripWith(d, dupSpansWinnowOf(d, w))

  /** `broadcastSpans`: when the span-bearing docs are RARE relative to
    * the corpus — decontamination's case by nature (leaks against a
    * benchmark-sized eval set) — the per-doc span lists broadcast and
    * the corpus TEXT never shuffles for the join; the self-dup strip
    * keeps the default shuffle join (duplicated docs are routinely a
    * double-digit corpus fraction — too big to broadcast).
    */
  /** Rebuild `text` with the sorted disjoint `(span_start, span_end)`
    * structs in the `sp` array column cut out — the per-doc Catalyst
    * fold shared by the offline strips and the streaming scrub gate
    * ([[graft.streaming.SpanGate]]). Expects `text` and `sp` in scope.
    */
  private[graft] def cutSpansFold: Column = expr(
    """aggregate(sp,
      |  named_struct('cur', CAST(1 AS BIGINT), 'acc', CAST('' AS STRING)),
      |  (a, s) -> named_struct(
      |    'cur', s.span_end,
      |    'acc', concat(a.acc,
      |      substring(text, CAST(a.cur AS INT), CAST(s.span_start - a.cur AS INT)))),
      |  a -> concat(a.acc,
      |    substring(text, CAST(a.cur AS INT), length(text) - CAST(a.cur AS INT) + 1)))"""
      .stripMargin)

  private def stripWith(d: DataFrame, spanRel: DataFrame,
      broadcastSpans: Boolean = false): DataFrame = {
    val spans0 = spanRel
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("span_start"), col("span_end")))).as("sp"))
    val spans = if (broadcastSpans) broadcast(spans0) else spans0
    d.join(spans, Seq("doc_id"), "left")
      .withColumn("clean_text",
        when(col("sp").isNull, col("text")).otherwise(cutSpansFold))
      .select(col("doc_id"), col("clean_text"),
        (length(col("text")) - length(col("clean_text"))).cast("long").as("n_removed"))
  }

  private def stripDupSpans(spark: SparkSession, sfDir: String): DataFrame =
    stripSpansOf(planted(docs(spark, sfDir))).orderBy("doc_id")

  /** Per-document duplication report + the threshold drop rule: span
    * count, duplicated char mass, duplicated fraction, and
    * `keep = dup_frac <= 0.5` (curation pipelines drop documents that
    * are mostly duplicated content rather than cutting them — cutting
    * mid-document hurts fluency; cf. Lee et al. §4's removal policies).
    * Span-free docs report zeros and keep. The LEFT join is id-keyed —
    * only ids and span summaries shuffle, never text.
    */
  private[graft] def dupProfileOf(d: DataFrame): DataFrame = {
    val perDoc = dupSpansOf(d)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum("span_len").as("dup_chars"))
    d.select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        (coalesce(col("dup_chars"), lit(0L)) / col("n_chars")).as("dup_frac"),
        (coalesce(col("dup_chars"), lit(0L)) / col("n_chars") <= 0.5).as("keep"))
  }

  private def dupProfile(spark: SparkSession, sfDir: String): DataFrame =
    dupProfileOf(planted(docs(spark, sfDir))).orderBy("doc_id")

  /** Substring-level benchmark decontamination — the char-exact
    * ExactSubstr variant of [[DedupOps]]' token-shingle `decontaminate`
    * (Lee et al. §6.2 run eval-dedup exactly this way): every maximal
    * TRAIN-doc span whose K-grams appear verbatim in the EVAL corpus,
    * with the lexicographically earliest implicated eval coordinate
    * (doc, position) per span. Catches contamination token-shingle
    * overlap misses (sub-token edits, punctuation drift inside an
    * 8-token window) and pinpoints WHERE the leak is ON BOTH SIDES —
    * the train span to cut and the eval span it collides with.
    *
    * Same broadcast contract as `decontaminate`: the eval side is
    * benchmark-sized, so its distinct gram table broadcasts and the
    * train corpus never shuffles for the match — only MATCHED sites (a
    * vanishing fraction) reach the per-doc merge window.
    *
    * Cross-set only by construction: a run shared between two TRAIN docs
    * but absent from eval is NOT reported (pinned in SpanSpec) — that is
    * `dup_spans`' job.
    */
  private[graft] def crossSpansOf(train: DataFrame, eval: DataFrame,
      maxEvalDocs: Int = EvalCollectMaxDocs,
      maxEvalChars: Long = EvalCollectMaxChars): DataFrame =
    // r21 (guide §2.3/§2.4 + §8): the eval gram table was ALREADY
    // driver-collected and shipped by the BroadcastHashJoin; keep that
    // movement but replace the train side's CharGrams-array + posexplode
    // + join-probe + per-doc window merge with ONE narrow zero-copy pass
    // ([[graft.functions.CrossSpanProbe]]): marked sites merge into spans
    // inside the row that owns them, so the train side contributes no
    // exchange at all (the mergeSpans window shuffle disappears). Span
    // boundaries and min-pair attribution replicate mergeSpans exactly —
    // SpanSpec pins row identity against the join form, and the family's
    // oracle rows are unchanged. r22: the eval table is built from a
    // size-GUARDED collect of the raw eval docs (see [[evalGramTable]]);
    // over the caps the retained join form runs instead — lazy,
    // distributed, correct at any eval size.
    evalGramTable(train.sparkSession, eval, maxEvalDocs, maxEvalChars) match {
      case Some(tbl) =>
        train.select(col("doc_id"),
            explode(graft.functions.CrossProbe.cross_span_probe(col("text"), tbl, GramK)).as("s"))
          .select(col("doc_id"), col("s.span_start").as("span_start"),
            col("s.span_end").as("span_end"), col("s.span_len").as("span_len"),
            col("s.n_grams").as("n_grams"), col("s.first_eval").as("first_eval"),
            col("s.first_eval_pos").as("first_eval_pos"))
      case None => crossSpansJoinFormOf(train, eval)
    }

  /** Caps on the eval side the cross-set kernels will driver-collect —
    * generous multiples of any real benchmark suite (the documented
    * broadcast contract: KBs–MBs of text), tiny next to
    * `spark.driver.maxResultSize`. Over either cap the kernels fall back
    * to the retained join forms, which are lazy and correct at any size
    * (r21 verdict task 3: the r21 collects were unguarded — an oversized
    * eval set OOMed the driver where the join form would have spilled).
    */
  private[graft] val EvalCollectMaxDocs = 100000
  private[graft] val EvalCollectMaxChars: Long = 8L << 20

  /** The eval side of the cross-span kernels in broadcast form: per eval
    * gram, the lexicographically earliest (doc_id, pos) eval site — so
    * each reported train span carries not just WHICH eval doc it leaks
    * but WHERE in it, making the report actionable for the benchmark
    * owner (the min pair, not independent mins: the position must belong
    * to the implicated doc).
    *
    * r22 (guide §1.2 step 1 — don't compute what you throw away): the
    * r21 form aggregated the FULL eval gram relation cluster-side
    * (posexplode to ~1 row per eval char carrying a K-char string, one
    * exchange, final agg) and collected that — an eager job ~K× the eval
    * bytes at query-CONSTRUCTION time, re-paid on every invocation even
    * when the action never evaluates the probe (count-only plans prune
    * it). The raw eval docs are ~K× smaller than their gram table:
    * collect THEM (size-guarded), and build gram → min (doc_id, pos) in
    * one driver pass. Replicates gramSites + min(struct(fd, fp)) exactly:
    * docs scan in ascending doc_id order and positions ascend within a
    * doc, so an explicit lexicographic-min compare per gram reproduces
    * the aggregation rule. None above the caps — the caller falls back
    * to the join form.
    */
  private def evalGramTable(spark: SparkSession, eval: DataFrame,
      maxDocs: Int, maxChars: Long)
      : Option[org.apache.spark.broadcast.Broadcast[graft.functions.CrossProbe.GramTable]] = {
    val rows = eval.select("doc_id", "text").limit(maxDocs + 1).collect()
    if (rows.length > maxDocs) return None
    var chars = 0L
    rows.foreach(r => if (!r.isNullAt(1)) chars += r.getString(1).length)
    if (chars > maxChars) return None
    val m = new java.util.HashMap[String, Array[Long]]()
    rows.sortBy(r => if (r.isNullAt(0)) Long.MaxValue else r.getLong(0)).foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val docId = r.getLong(0)
        val s = r.getString(1)
        // char offsets of code point starts (length()/substring() in the
        // distributed form count code points, not Java chars)
        val starts = new Array[Int](s.codePointCount(0, s.length) + 1)
        var cp = 0
        var i = 0
        while (i < s.length) {
          starts(cp) = i; cp += 1; i += Character.charCount(s.codePointAt(i))
        }
        starts(cp) = s.length
        var g = 0
        while (g <= cp - GramK) {
          val gram = s.substring(starts(g), starts(g + GramK))
          val pos = (g + 1).toLong
          val cur = m.get(gram)
          if (cur == null || docId < cur(0) || (docId == cur(0) && pos < cur(1)))
            m.put(gram, Array(docId, pos))
          g += 1
        }
      }
    }
    val grams = new Array[String](m.size)
    val feDoc = new Array[Long](m.size)
    val fePos = new Array[Long](m.size)
    var j = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      grams(j) = e.getKey; feDoc(j) = e.getValue()(0); fePos(j) = e.getValue()(1)
      j += 1
    }
    Some(spark.sparkContext.broadcast(
      graft.functions.CrossProbe.GramTable(grams, feDoc, fePos)))
  }

  /** The r7-r20 join+window form of [[crossSpansOf]] — retained as the
    * independent Column-algebra implementation the kernel is pinned
    * row-identical against (SpanSpec), the `bpeEncodeFrom` stance.
    */
  private[graft] def crossSpansJoinFormOf(train: DataFrame, eval: DataFrame): DataFrame = {
    val evalGrams = gramSites(eval)
      .groupBy("gram")
      .agg(min(struct(col("doc_id").as("fd"), col("pos").as("fp"))).as("fe"))
      .select(col("gram"), col("fe.fd").as("first_eval"), col("fe.fp").as("first_eval_pos"))
    val marked = gramSites(train).join(broadcast(evalGrams), Seq("gram"))
      .select("doc_id", "pos", "first_eval", "first_eval_pos")
    val fe = min(struct(col("first_eval"), col("first_eval_pos")))
    mergeSpans(marked, Seq(
      fe.getField("first_eval") -> "first_eval",
      fe.getField("first_eval_pos") -> "first_eval_pos"))
  }

  /** Declared key: the same `doc_id % 10 = 7` eval slice as
    * `decontaminate`, over the PLANTED corpus — the shared boiler tail
    * guarantees cross-set hits by construction (planted train docs and
    * planted eval docs share it verbatim), alongside the corpus'
    * natural train/eval near-dup leaks.
    */
  private def decontaminateSpans(spark: SparkSession, sfDir: String): DataFrame = {
    val d = planted(docs(spark, sfDir))
    crossSpansOf(d.filter(col("doc_id") % 10 =!= 7), d.filter(col("doc_id") % 10 === 7))
      .orderBy("doc_id", "span_start")
  }

  /** The decontamination REMEDIATION (round 15 — completes the family
    * matrix: detect `decontaminate_spans`, attribute
    * `decontaminate_report`, winnow `decontaminate_spans_winnow`, gate
    * online `SpanGate`, and now CUT): every leaked span removed from its
    * train doc, the flanks spliced — Lee et al. §6.2's eval-dedup applied
    * as surgery rather than the flag-don't-drop report, for pipelines
    * whose policy is "keep the document, lose the leak" (the drop-whole-
    * doc policy is `decontaminate`'s flag + a filter). Same shape as
    * `strip_dup_spans` driven by the CROSS-set relation: the eval gram
    * table broadcasts, the train corpus never shuffles, and the rebuild
    * is the per-doc Catalyst fold (spans are disjoint and sorted by the
    * merge). Caveat, documented not guarded: splicing can in principle
    * mint a NEW K-gram across the seam that coincidentally matches eval
    * — SpanSpec pins zero re-detection on this corpus; a paranoid
    * pipeline iterates strip→detect to fixpoint.
    */
  /** The exact strip over caller-supplied train/eval frames — the
    * reference form the curate composites must agree with doc-by-doc on
    * IDENTICAL inputs (a doc's cut depends only on its own text and the
    * eval set, never on which other train docs survive any filter).
    */
  private[graft] def decontaminateStripOf(train: DataFrame, evalDocs: DataFrame,
      maxEvalDocs: Int = EvalCollectMaxDocs,
      maxEvalChars: Long = EvalCollectMaxChars): DataFrame =
    // r21: the kernel already merges a doc's spans INSIDE the row that
    // owns them (ascending span_start — the order sort_array gave the
    // join form), so the cut needs no groupBy and no join back at all:
    // probe → fold, one narrow pass, zero exchanges contributed by the
    // train side (guide §2.4; the r7-r20 form aggregated the span
    // relation per doc and broadcast-joined it back to the same scan).
    // cutSpansFold over the kernel's EMPTY array returns text unchanged —
    // the left join's null branch, without the join. Row identity vs
    // stripWith(train, crossSpansJoinFormOf(...)) is pinned in SpanSpec.
    // r22: guarded driver-built eval table (see [[evalGramTable]]);
    // over-cap falls back to the retained join form.
    evalGramTable(train.sparkSession, evalDocs, maxEvalDocs, maxEvalChars) match {
      case Some(tbl) =>
        train
          .select(col("doc_id"), col("text"),
            graft.functions.CrossProbe.cross_span_probe(col("text"), tbl, GramK).as("sps"))
          .select(col("doc_id"), col("text"),
            expr("transform(sps, s -> struct(s.span_start AS span_start, s.span_end AS span_end))")
              .as("sp"))
          .select(col("doc_id"), col("text"), cutSpansFold.as("clean_text"))
          .select(col("doc_id"), col("clean_text"),
            (length(col("text")) - length(col("clean_text"))).cast("long").as("n_removed"))
      case None => decontaminateStripJoinFormOf(train, evalDocs)
    }

  /** The r7-r20 aggregate-and-join-back strip — retained as the
    * independent implementation the in-row form is pinned row-identical
    * against (SpanSpec), the `bpeEncodeFrom` stance.
    */
  private[graft] def decontaminateStripJoinFormOf(
      train: DataFrame, evalDocs: DataFrame): DataFrame =
    stripWith(train, crossSpansJoinFormOf(train, evalDocs), broadcastSpans = true)

  private def decontaminateStrip(spark: SparkSession, sfDir: String): DataFrame = {
    val d = planted(docs(spark, sfDir))
    decontaminateStripOf(d.filter(col("doc_id") % 10 =!= 7),
      d.filter(col("doc_id") % 10 === 7))
      .orderBy("doc_id")
  }

  /** The batch PRODUCTION curation composite — the offline mirror of
    * [[graft.streaming.StreamMerge.gatedIngestPipelineProduction]]'s
    * oracle-expressible stages, in the same load-bearing order: quality
    * + length gates, URL-blocklist gate (r15 verdict task 3 — the
    * [[WebOps.withDomainGate]] narrow pass on RAW text, over the
    * URL-decorated corpus so the stage actually bites) and exact dedup
    * on RAW text → decontamination SURGERY on the kept canonical set →
    * PII redaction LAST on the post-surgery text (placeholders must
    * perturb neither the content hashes nor the span grams). Kept docs
    * come out with the final redacted text, the cut mass, and
    * per-category PII counts — what a curation run actually persists.
    * The PII planting suffix is the `pii_redact` fixture
    * ([[HygieneOps.PiiPlantSuffix]], appended post-surgery so the
    * redaction stage is non-vacuous on corpora without real PII); eval
    * set and thresholds are the family's (doc_id % 10 = 7;
    * n_tokens ≥ 20, quality ≥ 0.4 as in `corpus_filter`). Scale shape:
    * narrow quality + URL passes → partial-agg canonical groupBy +
    * equi-join → the broadcast-spans strip (kept text never shuffles
    * for the cut) → narrow regex pass. The NON-oracle stages the stream
    * chain adds (persisted-model LM tail, signature-index near-dup) have
    * their batch mirror in [[corpusCurateDecisionsOf]], spec-pinned
    * decision-identical to the stream.
    */
  private def corpusCurate(spark: SparkSession, sfDir: String): DataFrame = {
    val d = WebOps.decorated(planted(docs(spark, sfDir)))
    val train = d.filter(col("doc_id") % 10 =!= 7)
    val eval = d.filter(col("doc_id") % 10 === 7)
    // r22: `base` feeds both the canonical groupBy and the join back —
    // checkpoint it once so the quality regex + URL gate + md5 pass runs
    // one evaluation (the corpusCurateDecisionsOf discipline)
    val base = WebOps.withDomainGate(TextOps.withQualityScore(train))
      .select(col("doc_id"), col("text"), md5(col("text")).as("h"),
        col("n_tok").cast("long").as("n_tokens"), col("quality"), col("n_blocked"))
      .localCheckpoint()
    val canon = base.groupBy("h").agg(min("doc_id").as("keep_id"))
    val kept = base.join(canon, Seq("h"))
      .filter(col("doc_id") === col("keep_id")
        && col("n_tokens") >= 20 && col("quality") >= 0.4 && col("n_blocked") === 0L)
      .select("doc_id", "text")
    val stripped = decontaminateStripOf(kept, eval)
    HygieneOps.withPiiScrub(stripped.select(col("doc_id"), col("n_removed"),
      concat(col("clean_text"), HygieneOps.PiiPlantSuffix).as("txt")))
      .select(col("doc_id"), col("redacted").as("final_text"), col("n_removed"),
        col("n_email"), col("n_phone"), col("n_ip"))
      .orderBy("doc_id")
  }

  /** The COMPLETE batch mirror of [[graft.streaming.StreamMerge
    * .gatedIngestPipelineProduction]] — every gate, including the two
    * that are NOT oracle-expressible and so live outside the declared
    * `corpus_curate` key: the persisted-model LM tail cut and the
    * signature-index near-dup stage. One decision row per SURVIVING
    * ingest row (within-corpus exact duplicates collapse to their
    * min-id canonical silently, mirroring the stream's watermark dedup,
    * which also emits no row for a dropped duplicate), in the stream's
    * exact attribution order: short → quality → blocked_domain →
    * skip_dup (vs the static hash index) → lm_tail → near_dup →
    * contamination surgery (`scrubbed` / `scrub_gutted`) → PII LAST on
    * keep rows. Decision identity with the stream chain on shared docs
    * and artifacts is pinned in StreamingSpec — the model/gate STAGES
    * themselves are the shared implementations
    * ([[graft.streaming.CharLmGate.withLmDecisions]],
    * [[graft.streaming.DedupGate.combinedFlags]],
    * [[graft.streaming.SpanGate.applyScrub]] over [[crossSpansWinnowOf]]
    * — the batch declaration of the gate's persisted-index probe), so
    * batch and stream cannot drift stage by stage.
    *
    * Scale shape is the stream body's, minus the micro-batch bound:
    * narrow structural gates, broadcast model join, banded-signature
    * probe (broadcast the batch side), broadcast winnow span lists,
    * narrow regex PII pass — the corpus text shuffles only for the
    * canonical groupBy join.
    */
  private[graft] def corpusCurateDecisionsOf(raw: DataFrame,
      evalDocs: DataFrame, baseIndex: DataFrame, sigIndex: DataFrame,
      lmTable: String, maxBits: Double,
      minTokens: Int = 20, minQuality: Double = 0.4): DataFrame = {
    import graft.streaming.{CharLmGate, DedupGate, SpanGate}
    // r22 (guide §1.2 step 1; `ccf2` stage profile, commit b952ce9): the
    // composite's DAG consumes its expensive stages TWICE each — `scored`
    // feeds the canonical groupBy and the join back, `lmDecided` feeds
    // the near-dup probe and the flag join, `deduped` feeds the winnow
    // spans and the scrub join — and every reuse re-ran the whole
    // upstream (quality regex + URL gate + md5 + LM bitsum + minhash
    // banding). Checkpoint each stage once, exactly as the STREAM chain
    // this mirrors pins its per-batch frames between gates
    // (NearDup.pin): one evaluation per stage, blocks read by
    // both consumers. Decision identity is storage-independent
    // (StreamingSpec pins it against the stream chain).
    val scored = WebOps.withDomainGate(TextOps.withQualityScore(raw))
      .withColumn("h", md5(col("text")))
      .localCheckpoint()
    val canon = scored.groupBy("h").agg(min("doc_id").as("canon_id"))
    val decided = scored.join(canon, Seq("h"))
      .filter(col("doc_id") === col("canon_id"))
      .join(baseIndex, Seq("h"), "left")
      .select(col("doc_id"), col("h"),
        col("n_tok").cast("long").as("n_tokens"), col("quality"),
        col("n_urls"), col("n_blocked"),
        when(col("n_tok") < minTokens, "short")
          .when(col("quality") < minQuality, "quality")
          .when(col("n_blocked") > 0, "blocked_domain")
          .when(col("existing_id").isNotNull, "skip_dup")
          .otherwise("insert").as("decision"),
        col("existing_id"), col("text"))
    val lmDecided = CharLmGate.withLmDecisions(decided, lmTable, maxBits)
      .localCheckpoint()
    val inserts = lmDecided.filter(col("decision") === "insert").select("doc_id", "text")
    val flags = DedupGate.combinedFlags(sigIndex, DedupOps.bandedSigs(inserts))
    val deduped = lmDecided.join(flags, Seq("doc_id"), "left")
      .withColumn("decision",
        when(col("dup_of").isNotNull, "near_dup").otherwise(col("decision")))
      .localCheckpoint()
    val still = deduped.filter(col("decision") === "insert").select("doc_id", "text")
    val scrubbed = SpanGate.applyScrub(deduped,
      leakVerdictsOf(crossSpansWinnowOf(still, evalDocs)), minTokens)
    val keep = col("decision").isin("insert", "scrubbed")
    HygieneOps.withPiiScrub(scrubbed.withColumn("txt",
        when(keep, col("text")).otherwise(lit(""))))
      .withColumn("redacted", when(keep, col("redacted")))
      .withColumn("n_email", when(keep, col("n_email")))
      .withColumn("n_phone", when(keep, col("n_phone")))
      .withColumn("n_ip", when(keep, col("n_ip")))
      .drop("text", "txt")
  }

  /** [[corpusCurateDecisionsOf]] as a DECLARED key — the complete
    * production curation chain (structural + blocklist gates, exact
    * dedup vs an "already ingested" base, persisted-model LM tail cut,
    * signature-index near-dup, winnow decontamination surgery, PII
    * last), self-contained over the driver corpus with train-once
    * artifacts built on first use (the `ann_*_indexed` persisted-table
    * precedent). Slices: eval = doc_id % 10 = 7 (the span family's);
    * already-ingested base + signature index + LM reference corpus =
    * doc_id % 10 = 3 of the remainder — so re-arrivals of that slice
    * classify `skip_dup`, natural cross-slice near-dups exercise the
    * signature gate, and the model scores in-distribution text. The LM
    * threshold is the corpus' own exact 0.9 bits-quantile
    * (deterministic — exact percentile over a fixed frame), so the tail
    * cut is non-vacuous at any SF. No oracle (LM scoring and minhash
    * signatures are not ANSI-expressible); decision semantics are
    * pinned against the STREAM chain in StreamingSpec and shape/
    * determinism in QueriesSpec.
    */
  private def corpusCurateFull(spark: SparkSession, sfDir: String): DataFrame = {
    val d = WebOps.decorated(planted(docs(spark, sfDir)))
    val eval = d.filter(col("doc_id") % 10 === 7)
    val raw = d.filter(col("doc_id") % 10 =!= 7)
    val ingested = raw.filter(col("doc_id") % 10 === 3).select("doc_id", "text")
    val sfx = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val lmTable = "graft_curate_lm_" + sfx
    IndexTable.ensure(spark, lmTable + "_ctx")(
      HygieneOps.writeCharLmTableFrom(spark, ingested, lmTable))
    val sigTable = "graft_curate_sig_" + sfx
    IndexTable.ensure(spark, sigTable)(
      graft.streaming.DedupGate.writeSigIndex(spark, ingested, sigTable))
    val baseIndex = ingested.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("existing_id"))
    // threshold pass scores through the NARROW native form whenever the
    // persisted model fits the literal cap (any char-bigram model does) —
    // the join form explodes raw to one row per bigram and re-aggregates
    // per doc for a quantity computable in-row (guide §2.3/§4: the same
    // plan split CharLmGate already makes per batch; both forms are
    // bit-identical by CharLmSpec's decimal-sum pin, and the join form
    // emits only docs with ≥ 1 bigram, which the n_bigrams > 0 filter
    // mirrors, so the percentile input set is row-identical). Over-cap
    // models keep the broadcast-join plan, correct at any size.
    val scoredRaw = HygieneOps.collectCharLmModelFromTables(spark, lmTable) match {
      case Some((bg, a, v)) =>
        HygieneOps.withCharLmScore(raw.select("doc_id", "text"), bg, a, v)
          .filter(col("n_bigrams") > 0)
      case None =>
        val ctxV = spark.table(lmTable + "_ctx")
        HygieneOps.charlmScoreAgainst(raw.select("doc_id", "text"),
          spark.table(lmTable), ctxV.select("ch", "c_a"), ctxV.select("v").limit(1))
    }
    val maxBits = scoredRaw
      .agg(expr("percentile(bits, 0.9)")).collect()(0).getDouble(0)
    corpusCurateDecisionsOf(raw, eval, baseIndex, spark.table(sigTable),
        lmTable, maxBits)
      .select(col("doc_id"), col("decision"), col("n_tokens"), col("quality"),
        col("n_urls"), col("n_blocked"), col("n_bigrams"), col("dup_of"),
        col("sig_match"), col("n_leak_spans"), col("leak_chars"),
        col("redacted"), col("n_email"), col("n_phone"), col("n_ip"))
      .orderBy("doc_id")
  }

  /** The BENCHMARK-OWNER view of the same relation: leak mass attributed
    * per implicated eval doc (each span charges the eval doc its
    * earliest coordinate names) — how many train docs collide with this
    * benchmark item, over how many spans, carrying how many verbatim
    * characters, and the worst single span. The flip side of
    * `decontaminate_spans`' per-train-doc report: the train owner cuts
    * spans, the eval owner retires (or re-splits) the most-leaked items.
    * Pure aggregation over the span relation — same scale shape. As a
    * STANDALONE bench key this recomputes the cross-span relation from
    * scratch (by design — the driver contract is one self-contained
    * frame per key); a real pipeline materializes `decontaminate_spans`
    * once and derives both owner views from the parquet.
    */
  private def decontaminateReport(spark: SparkSession, sfDir: String): DataFrame = {
    val d = planted(docs(spark, sfDir))
    crossSpansOf(d.filter(col("doc_id") % 10 =!= 7), d.filter(col("doc_id") % 10 === 7))
      .groupBy(col("first_eval").as("eval_doc"))
      .agg(countDistinct("doc_id").as("n_train_docs"),
        count(lit(1)).as("n_spans"),
        sum("span_len").as("leaked_chars"),
        max("span_len").as("max_span"))
      .orderBy("eval_doc")
  }

  /** Production OFFLINE cross-set variant: the same decontamination
    * relation computed over WINNOW-SELECTED sites on BOTH sides — the
    * shape for an eval side too big to broadcast raw grams (a giant
    * benchmark suite, or cross-shard train-vs-train checks): 1/8 of the
    * site volume, 16-byte (gh, gh2) keys instead of 30-char gram
    * strings. Cross-corpus winnow sync gives the same deterministic
    * floor as `dup_spans_winnow`: every shared run ≥ K+w−1 chars
    * selects a common gram in both corpora and is reported at the train
    * site (shorter leaks best-effort); soundness (every winnow cross
    * span inside an exact cross span) modulo the documented 128-bit
    * collision. The ONLINE micro-batch form of this exact computation
    * is [[graft.streaming.SpanGate]]; this is its batch declaration.
    */
  private[graft] def crossSpansWinnowOf(train: DataFrame, eval: DataFrame,
      w: Int = WinnowW): DataFrame = {
    val evalSel = winnowSites(eval, w)
      .groupBy("gh", "gh2")
      .agg(min(struct(col("doc_id").as("fd"), col("pos").as("fp"))).as("fe"))
      .select(col("gh"), col("gh2"),
        col("fe.fd").as("first_eval"), col("fe.fp").as("first_eval_pos"))
    val marked = winnowSites(train, w).join(broadcast(evalSel), Seq("gh", "gh2"))
      .select("doc_id", "pos", "first_eval", "first_eval_pos")
    val fe = min(struct(col("first_eval"), col("first_eval_pos")))
    mergeSpans(marked, Seq(
      fe.getField("first_eval") -> "first_eval",
      fe.getField("first_eval_pos") -> "first_eval_pos"))
  }

  /** Per-doc leak verdicts of a leak-span relation (the
    * [[crossSpansWinnowOf]] shape): one row per leaking doc — `sp`, its
    * sorted `(span_start, span_end)` list (the input [[cutSpansFold]]
    * walks), `n_leak_spans`, `leak_chars` and the lexicographically
    * earliest implicated eval `(first_eval, first_eval_pos)`. Shared by
    * the batch curation chain and every streaming span gate
    * ([[graft.streaming.SpanGate]]), so their decisions agree by
    * construction.
    */
  private[graft] def leakVerdictsOf(spans: DataFrame): DataFrame =
    spans.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("span_start"), col("span_end")))).as("sp"),
        count(lit(1)).as("n_leak_spans"),
        sum("span_len").as("leak_chars"),
        min(struct(col("first_eval"), col("first_eval_pos"))).as("fe"))
      .select(col("doc_id"), col("sp"), col("n_leak_spans"), col("leak_chars"),
        col("fe.first_eval").as("first_eval"),
        col("fe.first_eval_pos").as("first_eval_pos"))

  private def decontaminateSpansWinnow(spark: SparkSession, sfDir: String): DataFrame = {
    val d = planted(docs(spark, sfDir))
    crossSpansWinnowOf(d.filter(col("doc_id") % 10 =!= 7), d.filter(col("doc_id") % 10 === 7))
      .orderBy("doc_id", "span_start")
  }

  /** Winnowed REMEDIATION sibling (the [[stripSpansWinnowOf]] pattern
    * applied cross-set): cut the winnow-detected leak spans — for eval
    * suites too big to broadcast raw grams. Inherits the winnow
    * contract: every leak ≥ K+w−1 chars is cut deterministically at
    * every site, shorter leaks best-effort; soundness means it removes
    * a SUBSET of [[decontaminateStrip]]'s mass, never clean text
    * (SpanSpec). Library function, not a declared key — mirroring the
    * self-dup family, where the winnow strip is also spec-pinned
    * composition surface.
    */
  private[graft] def decontaminateStripWinnowOf(train: DataFrame, eval: DataFrame,
      w: Int = WinnowW): DataFrame =
    stripWith(train, crossSpansWinnowOf(train, eval, w), broadcastSpans = true)

  // ---- declarations ------------------------------------------------------

  /** Shared oracle CTE chain up to the span relation (DuckDB). `range` is
    * empty when hi < lo (unlike Spark's `sequence` — SURVEY §7.5), but the
    * length guard is kept anyway so both engines state the same plan.
    */
  private val SpansSqlCte: String =
    s"""WITH d AS ($PlantedSql),
       |g AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos, substring(text, CAST(i AS INT), $GramK) AS gram
       |  FROM d, UNNEST(range(1, greatest(length(text) - ${GramK - 1}, 0) + 1)) AS u(i)
       |  WHERE length(text) >= $GramK),
       |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
       |m AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
       |w AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN pos > coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), -$GramK * 2)
       |                        + $GramK
       |              THEN 1 ELSE 0 END AS new_span
       |  FROM m),
       |isl AS (
       |  SELECT doc_id, pos,
       |         sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
       |  FROM w),
       |spans AS (
       |  SELECT doc_id, min(pos) AS span_start, max(pos) + $GramK AS span_end,
       |         max(pos) + $GramK - min(pos) AS span_len, count(*) AS n_grams
       |  FROM isl GROUP BY doc_id, span_id)""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "dup_spans" -> QueryDef(dupSpans,
      Some(s"""$SpansSqlCte
              |SELECT doc_id, span_start, span_end, span_len, n_grams
              |FROM spans ORDER BY doc_id, span_start""".stripMargin)),

    "strip_dup_spans" -> QueryDef(stripDupSpans,
      Some(s"""$SpansSqlCte,
              |gaps AS (
              |  SELECT doc_id,
              |         coalesce(lag(span_end) OVER (PARTITION BY doc_id ORDER BY span_start), 1) AS gs,
              |         span_start AS ge
              |  FROM spans
              |  UNION ALL
              |  SELECT doc_id, max(span_end), NULL FROM spans GROUP BY doc_id),
              |rebuilt AS (
              |  SELECT gaps.doc_id,
              |         string_agg(
              |           substring(d.text, CAST(gaps.gs AS INT),
              |                     CAST(coalesce(gaps.ge, length(d.text) + 1) - gaps.gs AS INT)),
              |           '' ORDER BY gaps.gs) AS clean_text
              |  FROM gaps JOIN d USING (doc_id) GROUP BY gaps.doc_id)
              |SELECT d.doc_id, coalesce(r.clean_text, d.text) AS clean_text,
              |       length(d.text) - length(coalesce(r.clean_text, d.text)) AS n_removed
              |FROM d LEFT JOIN rebuilt r USING (doc_id)
              |ORDER BY d.doc_id""".stripMargin)),

    "dup_spans_winnow" -> QueryDef(dupSpansWinnow, None),

    "decontaminate_spans" -> QueryDef(decontaminateSpans,
      Some(s"""WITH d AS ($PlantedSql),
              |tg AS (
              |  SELECT doc_id, CAST(i AS BIGINT) AS pos, substring(text, CAST(i AS INT), $GramK) AS gram
              |  FROM d, UNNEST(range(1, greatest(length(text) - ${GramK - 1}, 0) + 1)) AS u(i)
              |  WHERE length(text) >= $GramK AND doc_id % 10 <> 7),
              |eg AS (
              |  SELECT substring(text, CAST(i AS INT), $GramK) AS gram,
              |         min(struct_pack(fd := doc_id, fp := CAST(i AS BIGINT))) AS fe
              |  FROM d, UNNEST(range(1, greatest(length(text) - ${GramK - 1}, 0) + 1)) AS u(i)
              |  WHERE length(text) >= $GramK AND doc_id % 10 = 7
              |  GROUP BY 1),
              |m AS (
              |  SELECT tg.doc_id, tg.pos,
              |         struct_extract(eg.fe, 'fd') AS first_eval,
              |         struct_extract(eg.fe, 'fp') AS first_eval_pos
              |  FROM tg JOIN eg USING (gram)),
              |w AS (
              |  SELECT doc_id, pos, first_eval, first_eval_pos,
              |         CASE WHEN pos > coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), -$GramK * 2)
              |                        + $GramK
              |              THEN 1 ELSE 0 END AS new_span
              |  FROM m),
              |isl AS (
              |  SELECT doc_id, pos, first_eval, first_eval_pos,
              |         sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
              |  FROM w)
              |SELECT doc_id, min(pos) AS span_start, max(pos) + $GramK AS span_end,
              |       max(pos) + $GramK - min(pos) AS span_len, count(*) AS n_grams,
              |       struct_extract(min(struct_pack(fd := first_eval, fp := first_eval_pos)), 'fd') AS first_eval,
              |       struct_extract(min(struct_pack(fd := first_eval, fp := first_eval_pos)), 'fp') AS first_eval_pos
              |FROM isl GROUP BY doc_id, span_id
              |ORDER BY doc_id, span_start""".stripMargin)),

    "decontaminate_report" -> QueryDef(decontaminateReport,
      Some(s"""WITH d AS ($PlantedSql),
              |tg AS (
              |  SELECT doc_id, CAST(i AS BIGINT) AS pos, substring(text, CAST(i AS INT), $GramK) AS gram
              |  FROM d, UNNEST(range(1, greatest(length(text) - ${GramK - 1}, 0) + 1)) AS u(i)
              |  WHERE length(text) >= $GramK AND doc_id % 10 <> 7),
              |eg AS (
              |  SELECT substring(text, CAST(i AS INT), $GramK) AS gram,
              |         min(struct_pack(fd := doc_id, fp := CAST(i AS BIGINT))) AS fe
              |  FROM d, UNNEST(range(1, greatest(length(text) - ${GramK - 1}, 0) + 1)) AS u(i)
              |  WHERE length(text) >= $GramK AND doc_id % 10 = 7
              |  GROUP BY 1),
              |m AS (
              |  SELECT tg.doc_id, tg.pos,
              |         struct_extract(eg.fe, 'fd') AS first_eval,
              |         struct_extract(eg.fe, 'fp') AS first_eval_pos
              |  FROM tg JOIN eg USING (gram)),
              |w AS (
              |  SELECT doc_id, pos, first_eval, first_eval_pos,
              |         CASE WHEN pos > coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), -$GramK * 2)
              |                        + $GramK
              |              THEN 1 ELSE 0 END AS new_span
              |  FROM m),
              |isl AS (
              |  SELECT doc_id, pos, first_eval, first_eval_pos,
              |         sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
              |  FROM w),
              |spans AS (
              |  SELECT doc_id, min(pos) AS span_start, max(pos) + $GramK AS span_end,
              |         max(pos) + $GramK - min(pos) AS span_len,
              |         struct_extract(min(struct_pack(fd := first_eval, fp := first_eval_pos)), 'fd') AS first_eval
              |  FROM isl GROUP BY doc_id, span_id)
              |SELECT first_eval AS eval_doc,
              |       count(DISTINCT doc_id) AS n_train_docs,
              |       count(*) AS n_spans,
              |       CAST(sum(span_len) AS BIGINT) AS leaked_chars,
              |       max(span_len) AS max_span
              |FROM spans GROUP BY first_eval
              |ORDER BY eval_doc""".stripMargin)),

    "decontaminate_spans_winnow" -> QueryDef(decontaminateSpansWinnow, None),

    "decontaminate_strip" -> QueryDef(decontaminateStrip,
      Some(s"""WITH d AS ($PlantedSql),
              |t AS (SELECT doc_id, text FROM d WHERE doc_id % 10 <> 7),
              |ev AS (SELECT doc_id, text FROM d WHERE doc_id % 10 = 7),
              |${stripChainSql}
              |SELECT t.doc_id, coalesce(r.clean_text, t.text) AS clean_text,
              |       length(t.text) - length(coalesce(r.clean_text, t.text)) AS n_removed
              |FROM t LEFT JOIN rebuilt r USING (doc_id)
              |ORDER BY t.doc_id""".stripMargin)),

    "corpus_curate_full" -> QueryDef((s, d) => corpusCurateFull(s, d), None),

    "corpus_curate" -> QueryDef(corpusCurate,
      Some(s"""WITH pl AS ($PlantedSql),
              |d AS (${WebOps.decoratedSqlFrom("pl")}),
              |t0 AS (SELECT doc_id, text FROM d WHERE doc_id % 10 <> 7),
              |ev AS (SELECT doc_id, text FROM d WHERE doc_id % 10 = 7),
              |ub AS (
              |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocked
              |  FROM (
              |    SELECT doc_id, ${Psl.sqlRegistrableDomain("host")} AS domain
              |    FROM (SELECT doc_id, regexp_extract(url, 'https?://([^/]+)', 1) AS host
              |          FROM (SELECT doc_id, unnest(regexp_extract_all(text, '${WebOps.UrlRe}')) AS url
              |                FROM t0)))
              |  WHERE domain IN (SELECT domain FROM (VALUES ${WebOps.blocklistValuesSql}) AS b(domain))
              |  GROUP BY doc_id),
              |cnt AS (
              |  SELECT doc_id, text, md5(text) AS h,
              |         len(string_split(text, ' ')) AS n_tok,
              |         len(list_filter(string_split(text, ' '),
              |             x -> x IN (${TextOps.Stop.map(w => s"'$w'").mkString(", ")}))) AS n_stop,
              |         len(list_distinct(string_split(text, ' '))) AS n_uniq,
              |         length(replace(text, ' ', '')) AS n_nonspace
              |  FROM t0),
              |s AS (
              |  SELECT doc_id, text, h, CAST(n_tok AS BIGINT) AS n_tokens,
              |         ${TextOps.QualityExprSql} AS quality
              |  FROM cnt),
              |c AS (SELECT h, min(doc_id) AS keep_id FROM s GROUP BY h),
              |t AS (
              |  SELECT s.doc_id, s.text FROM s JOIN c USING (h)
              |  LEFT JOIN ub ON s.doc_id = ub.doc_id
              |  WHERE s.doc_id = c.keep_id AND s.n_tokens >= 20 AND s.quality >= 0.4
              |    AND coalesce(ub.n_blocked, 0) = 0),
              |${stripChainSql},
              |r0 AS (
              |  SELECT t.doc_id, coalesce(r.clean_text, t.text) AS clean_text,
              |         length(t.text) - length(coalesce(r.clean_text, t.text)) AS n_removed
              |  FROM t LEFT JOIN rebuilt r USING (doc_id)),
              |p AS (
              |  SELECT doc_id, n_removed,
              |         clean_text || ${HygieneOps.PiiPlantSuffixSql} AS txt
              |  FROM r0)
              |SELECT doc_id,
              |       regexp_replace(regexp_replace(regexp_replace(txt,
              |         '${HygieneOps.EmailRe}', '<EMAIL>', 'g'),
              |         '${HygieneOps.PhoneRe}', '<PHONE>', 'g'),
              |         '${HygieneOps.IpRe}', '<IP>', 'g') AS final_text,
              |       CAST(n_removed AS BIGINT) AS n_removed,
              |       CAST(len(regexp_extract_all(txt, '${HygieneOps.EmailRe}')) AS BIGINT) AS n_email,
              |       CAST(len(regexp_extract_all(txt, '${HygieneOps.PhoneRe}')) AS BIGINT) AS n_phone,
              |       CAST(len(regexp_extract_all(txt, '${HygieneOps.IpRe}')) AS BIGINT) AS n_ip
              |FROM p ORDER BY doc_id""".stripMargin)),

    "dup_profile" -> QueryDef(dupProfile,
      Some(s"""$SpansSqlCte,
              |p AS (
              |  SELECT doc_id, count(*) AS n_spans, CAST(sum(span_len) AS BIGINT) AS dup_chars
              |  FROM spans GROUP BY doc_id)
              |SELECT d.doc_id, length(d.text) AS n_chars,
              |       coalesce(p.n_spans, 0) AS n_spans,
              |       coalesce(p.dup_chars, 0) AS dup_chars,
              |       coalesce(p.dup_chars, 0) / length(d.text) AS dup_frac,
              |       coalesce(p.dup_chars, 0) / length(d.text) <= 0.5 AS keep
              |FROM d LEFT JOIN p USING (doc_id) ORDER BY d.doc_id""".stripMargin))
  )
}
