package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators.{IndexTable, SpanOps}

/** Streaming SPAN-DECONTAMINATION gate: checks each arriving micro-batch
  * of documents for verbatim character runs shared with a PERSISTED
  * eval-corpus fingerprint index and reports the leak spans — the ONLINE
  * form of [[graft.operators.SpanOps]]' `decontaminate_spans` (Lee et
  * al. 2022 ExactSubstr at ingest time), composed from the two halves
  * the r13 verdict named: the winnowed fingerprint selection
  * ([[graft.functions.WinnowSelect]], shared with `dup_spans_winnow`)
  * and the [[DedupGate]] bucketed-index + idempotent-append + epoch
  * machinery.
  *
  * Index layout: one row per winnow-SELECTED eval gram site —
  * `(gh, gh2, eval_doc, eval_pos)` — written as a parquet table
  * BUCKETED BY `gh`, so a batch probe prunes index files via a literal
  * bucket filter (the session must set
  * `spark.sql.sources.bucketing.autoBucketedScan.enabled=false`, as for
  * every other persisted-index probe; asserted in BucketingSpec). The
  * meta table pins (gram_k, winnow_w, base eval-doc count) PLUS the full
  * selection-scheme tag ([[graft.operators.SpanOps.SelectionTag]] —
  * gram-hash base, fmix64 multipliers, leftmost tie rule, xxhash mark
  * seeds): an index written under different constants fails validation
  * instead of silently desynchronizing selection between index and
  * probe.
  *
  * Detection contract — the winnowing guarantee CROSS-CORPUS: batch doc
  * and eval doc run the SAME content-pure selection, so any shared run
  * of length ≥ K+w−1 chars selects at least one common gram in both,
  * and the batch site joins the index on the (gh, gh2) hash pair —
  * deterministic recall at the same floor as the offline keys (shorter
  * leaks best-effort), soundness modulo the documented 128-bit
  * hash-pair collision. Each flagged span carries the lexicographically
  * earliest implicated eval (doc, position), exactly like
  * `decontaminate_spans`.
  *
  * Scale shape (100 TB ingest against benchmark-sized eval sets): the
  * batch side is small by the micro-batch contract; its selected sites
  * are ~chars/8. A sparse batch (≤ [[ProbeLiteralPlanMax]] distinct gram
  * hashes) probes only the buckets its hashes land in via a literal
  * bucket filter — O(batch sites × bucket population); a dense batch
  * hits every bucket anyway, so it skips the (driver-expensive) literal
  * plan and lets the broadcast mark join filter the index scan at
  * hash-lookup speed — O(index), but the index is eval-corpus-sized
  * (benchmarks, not the training corpus), so one scan per micro-batch
  * is bounded. The span merge windows only MATCHED sites per batch doc.
  * Appends (new benchmarks arriving over time) follow the
  * [[graft.operators.IndexTable]] append contract, keyed on eval_doc.
  *
  * Gate body: the span gates ([[spanGateDecisions]],
  * [[spanScrubDecisions]]) and the production chain's span stage run
  * the shared per-trigger core [[NearDup]] with this gate's [[check]]:
  * the batch is pinned once, a trigger with no `insert` row runs no
  * selection or probe and reads neither the index nor its meta, the
  * sites are selected once into a driver-local relation, and the
  * per-doc verdicts come back to the driver, to be joined into the
  * pinned rows by the gate's verdict (the `contaminated` rewrite or the
  * scrub cut). Timings are [[GateStageTimings]].
  */
object SpanGate {

  /** Aliased, not duplicated: an index and its probes must select grams
    * under the same constants or detection silently desynchronizes.
    */
  val GramK: Int = SpanOps.GramK
  val WinnowW: Int = SpanOps.WinnowW

  private[graft] def metaTableFor(table: String): String = table + "_meta"

  /** Winnow-selected gram sites of an eval frame in INDEX layout. */
  private def evalSites(evalDocs: DataFrame): DataFrame =
    SpanOps.winnowSites(evalDocs)
      .select(col("gh"), col("gh2"),
        col("doc_id").as("eval_doc"), col("pos").as("eval_pos"))

  /** Builds (overwrites) the eval-gram fingerprint index from an eval
    * corpus of `(doc_id, text)` rows, plus its validation meta table
    * ([[IndexTable.replace]]).
    */
  def writeEvalGramIndex(spark: SparkSession, evalDocs: DataFrame, table: String,
      nBuckets: Int = 16): Unit =
    IndexTable.replace(spark, table, Seq(metaTableFor(table))) {
      evalSites(evalDocs)
        .write.mode("overwrite").bucketBy(nBuckets, "gh").sortBy("gh")
        .format("parquet").saveAsTable(table)
      val baseN = IndexTable.idCount(spark, table, "eval_doc")
      // sel_tag pins the FULL selection scheme (gram-hash base, fmix64
      // multipliers, tie rule, mark-hash seeds) next to the geometry
      // pair: selected sites depend on all of it, and a constants change
      // that kept (gram_k, winnow_w) would otherwise pass validation and
      // silently desynchronize probes from persisted indexes
      spark.createDataFrame(Seq((GramK, WinnowW, baseN, SpanOps.SelectionTag)))
        .toDF("gram_k", "winnow_w", "base_n", "sel_tag")
        .write.mode("overwrite").format("parquet").saveAsTable(metaTableFor(table))
      Some(baseN)
    }

  private def validateMeta(spark: SparkSession, table: String): Unit = {
    if (spark.catalog.tableExists(metaTableFor(table)))
      spark.catalog.refreshTable(metaTableFor(table))
    val meta = spark.table(metaTableFor(table))
    require(meta.columns.contains("sel_tag"),
      s"eval-gram index $table has a pre-sel_tag meta table — its selection " +
        "scheme cannot be validated; rebuild with writeEvalGramIndex")
    meta.collect().headOption match {
      case Some(r) =>
        require(r.getInt(0) == GramK && r.getInt(1) == WinnowW,
          s"eval-gram index $table was built with (gram_k, winnow_w) = " +
            s"(${r.getInt(0)}, ${r.getInt(1)}), this build expects ($GramK, $WinnowW) — " +
            "mismatched selection constants desynchronize detection; rebuild with " +
            "writeEvalGramIndex")
        require(r.getAs[String]("sel_tag") == SpanOps.SelectionTag,
          s"eval-gram index $table was built under selection scheme " +
            s"'${r.getAs[String]("sel_tag")}', this build selects under " +
            s"'${SpanOps.SelectionTag}' — same geometry, different hash/tie " +
            "constants select DIFFERENT sites; rebuild with writeEvalGramIndex")
      case None => throw new IllegalStateException(
        s"eval-gram index $table has an empty meta table; rebuild with writeEvalGramIndex")
    }
  }

  /** Appends the winnow sites of eval docs not already indexed — the
    * "new benchmark arrived" maintenance path, replay-safe and
    * epoch-guarded by eval_doc ([[IndexTable.appendNovel]]; an eval doc's
    * sites are one row group), written through `insertInto` so appended
    * files keep the bucket spec and probes stay file-pruned.
    * `beganEpoch` pins the epoch captured at the START of a caller's
    * longer read-compute-write span. Returns the number of eval docs
    * actually appended.
    */
  def appendEvalDocsIdempotent(spark: SparkSession, evalDocs: DataFrame,
      table: String, beganEpoch: Option[Long] = None): Long = {
    validateMeta(spark, table)
    IndexTable.appendNovel(spark, table, "eval_doc", evalSites(evalDocs), beganEpoch)(
      _.write.mode("append").insertInto(table))
  }

  /** Ceiling on the number of distinct gram-hash literals a batch probe
    * may build (`graft.spanGate.maxProbeLiterals` to override). A batch
    * doc contributes ~chars/8 selected grams — far denser than the
    * 4-hashes-per-doc [[DedupGate]] probe — so the default cap admits
    * batches up to ~500 KB of insert text; a corpus-sized "batch" fails
    * loudly here (use the offline `decontaminate_spans`).
    */
  val DefaultMaxProbeLiterals = 65536

  /** Ceiling on the number of gh literals actually PLANTED in the probe
    * plan as a bucket filter. Above it the probe switches to a plain
    * index scan filtered by the broadcast mark join — measured on
    * GATE_BENCH: a dense batch selects ~30k distinct gram hashes, and a
    * 30k-literal `isin` costs seconds of DRIVER-side analysis/optimizer
    * time per micro-batch while pruning NOTHING (30k uniform hashes hit
    * every one of the 16 buckets with near certainty — the r14 probe's
    * 3.9 s/batch was this, not executor work). At or below the ceiling
    * the literal filter keeps its real value: a single-doc or trickle
    * probe touches only its own buckets (SelectedBucketsCount pruning,
    * pinned in BucketingSpec).
    */
  val ProbeLiteralPlanMax = 2048

  /** This gate's dense policy at the probe-literal bound in force: the
    * downstream broadcast mark join already restricts matched rows, so a
    * dense batch scans plainly (see [[ProbeLiteralPlanMax]]) — up to the
    * hard contract bound.
    */
  private def probePolicy(spark: SparkSession): IndexProbe.PlainScanUpTo = {
    val bound = IndexProbe.confBound(
      spark, "graft.spanGate.maxProbeLiterals", DefaultMaxProbeLiterals)
    IndexProbe.PlainScanUpTo(bound,
      s"batch produced more than $bound distinct selected gram hashes — the " +
        "micro-batch-is-small probe contract is broken; use smaller triggers, the " +
        "offline decontaminate_spans path, or raise graft.spanGate.maxProbeLiterals")
  }

  /** Leak spans of a batch against the persisted index: one row per
    * maximal contaminated span —
    * `(doc_id, span_start, span_end, span_len, n_grams, first_eval,
    * first_eval_pos)` — the same shape and merge rule as the offline
    * `decontaminate_spans`. The lazy form (plan inspection / one-shot
    * use): the batch's distinct gram hashes are collected, bounded, into
    * the index slice ([[IndexProbe.prunedSlice]]); the gate bodies run
    * the same probe through [[NearDup]].
    */
  def flagLeakSpans(spark: SparkSession, batchDocs: DataFrame, table: String): DataFrame = {
    require(spark eq batchDocs.sparkSession,
      "flagLeakSpans must run on the batch frame's own session (foreachBatch hands a clone)")
    validateMeta(spark, table)
    val sites = SpanOps.winnowSites(batchDocs)
    leakSpans(IndexProbe.prunedSlice(spark, table, sites, "gh", ProbeLiteralPlanMax,
      probePolicy(spark)), sites)
  }

  /** The leak spans of the selected `sites` against the index `slice`. */
  private def leakSpans(slice: DataFrame, sites: DataFrame): DataFrame = {
    // Probe shape (round 15, the r14 "cut the probe cost" task): the
    // batch's selected sites are micro-batch-small BY CONTRACT (the
    // maxProbeLiterals bound above), so they BROADCAST into the pruned
    // index scan — the eval slice is hash-joined in place, never
    // shuffled. The r14 shape instead partial-agg'd the whole slice by
    // (gh, gh2) and sort-merge-joined it against the sites: two slice-
    // sized shuffles per batch, both eliminated here (GATE_BENCH probe
    // median 3.98 s → see span_decontam record). Only MATCHED rows (a
    // batch site × its eval hits) leave the scan, and the post-join
    // per-site argmin collapses the eval fan-out to the lexicographically
    // earliest coordinate — partial-agg'd, so a site hitting many eval
    // sites combines map-side instead of shuffling every hit. The eval
    // doc id is a BIGINT whatever the eval corpus keyed on, so the
    // verdicts keep [[VerdictSchema]].
    val marked = slice
      .join(broadcast(sites), Seq("gh", "gh2"))
      .groupBy("doc_id", "pos")
      .agg(min(struct(col("eval_doc").as("fd"), col("eval_pos").as("fp"))).as("fe"))
      .select(col("doc_id"), col("pos"),
        col("fe.fd").cast("long").as("first_eval"), col("fe.fp").as("first_eval_pos"))
    val fe = min(struct(col("first_eval"), col("first_eval_pos")))
    SpanOps.mergeSpans(marked, Seq(
      fe.getField("first_eval") -> "first_eval",
      fe.getField("first_eval_pos") -> "first_eval_pos"))
  }

  /** The per-doc verdict rows' schema ([[SpanOps.leakVerdictsOf]] over
    * [[leakSpans]]).
    */
  private[streaming] val VerdictSchema = StructType.fromDDL(
    "doc_id BIGINT, sp ARRAY<STRUCT<span_start: BIGINT, span_end: BIGINT>>, " +
      "n_leak_spans BIGINT, leak_chars BIGINT, first_eval BIGINT, first_eval_pos BIGINT")

  /** This gate's [[NearDup.Check]] over `table` for one trigger (the
    * index refreshed and its meta validated): `(doc_id, text)` rows sign
    * into their winnow-selected sites (~chars/8 per doc, so no per-row
    * key bound: every checked batch counts its distinct gram hashes
    * against the probe-literal bound before the sites are collected),
    * keyed by `gh`; the probe is the broadcast mark join, the span merge
    * and the per-doc verdict ([[SpanOps.leakVerdictsOf]]); the eval index
    * never appends from a batch (train docs must not enter it), so the
    * append is a no-op.
    */
  private[streaming] def check(spark: SparkSession, table: String): NearDup.Check = {
    spark.catalog.refreshTable(table)
    validateMeta(spark, table)
    NearDup.Check(table, "gh", Int.MaxValue, ProbeLiteralPlanMax, probePolicy(spark),
      rows => SpanOps.winnowSites(rows.select("doc_id", "text")),
      NearDup.Probe((slice, sites) => SpanOps.leakVerdictsOf(leakSpans(slice, sites)),
        chained = false),
      (_, _) => 0L)
  }

  /** foreachBatch body for a stream of INGEST DECISION rows (the
    * [[StreamMerge]] pipeline shape) — [[NearDup.gate]] with this gate's
    * [[check]]: only rows still decided `insert` are span-checked —
    * short/quality/dup rows are already out and must not pay the
    * selection cost, and a trigger with no insert (every watermark
    * no-data trigger) reads neither the index nor its meta. Contaminated
    * inserts have their decision REWRITTEN to `contaminated` and carry
    * `n_leak_spans`/`leak_chars`/`first_eval`/`first_eval_pos` (the
    * worst span's eval coordinate — lexicographic min); clean rows
    * carry nulls/zeros. The eval index is NEVER appended from the batch
    * path (train docs must not enter the eval index); maintenance goes
    * through [[appendEvalDocsIdempotent]]. `onTimings` gets the batch's
    * [[GateStageTimings]].
    *
    * Replay idempotence: the gate is a pure function of (batch, index) —
    * no state is written per batch, so a replayed batch reproduces its
    * decisions exactly (exactly-once OUTPUT remains the downstream
    * sink's job, as everywhere in this streaming surface).
    */
  private[graft] def spanGateDecisions(table: String,
      onBatch: (DataFrame, Long) => Unit,
      onTimings: GateStageTimings => Unit = _ => ())(batch: DataFrame, batchId: Long): Unit =
    NearDup.gate(check(batch.sparkSession, table), VerdictSchema, decisions = true,
      _.drop("sp")
        .withColumn("decision",
          when(col("n_leak_spans").isNotNull && col("decision") === "insert",
            "contaminated").otherwise(col("decision")))
        .withColumn("n_leak_spans", coalesce(col("n_leak_spans"), lit(0L)))
        .withColumn("leak_chars", coalesce(col("leak_chars"), lit(0L))),
      onBatch, onTimings)(batch, batchId)

  /** [[spanGateDecisions]]' REMEDIATION sibling — the same
    * [[NearDup.gate]] body and [[check]], a different verdict: instead of
    * dropping a contaminated doc, CUT its leak spans and keep the
    * surgery ([[cutLeaks]]) — the online form of the offline
    * `decontaminate_strip` / winnowed-strip policy (Lee et al. §6.2
    * surgery at ingest time). Detection is the identical probe (winnow
    * selection against the persisted eval index), so stream scrub output
    * is BIT-identical to the batch [[graft.operators.SpanOps]] winnowed
    * strip on the same docs and eval set (StreamingSpec pins this).
    * Decision rewrite for `insert` rows with leaks: `scrubbed` (text
    * replaced by the cut rebuild, [[graft.operators.SpanOps.cutSpansFold]]
    * over the broadcast span lists — the batch's own text never
    * shuffles) — or `scrub_gutted` when the surgery leaves fewer than
    * `minTokens` whitespace tokens (a doc that was mostly leak is a stub,
    * not a document; same token measure as the upstream length gate).
    * Clean inserts pass through text-unchanged.
    *
    * Audit caveats, both deliberate: `h` and `n_tokens` remain the
    * INGEST-time values of the original text (`h` is the lineage link
    * to the watermarked dedup and the signature index — recomputing it
    * would orphan both); and the near-dup signature index holds the
    * PRE-scrub signature ([[DedupGate]] appended before the span
    * verdict exists — conservative: future near-dups of the original
    * still flag). `leak_chars` equals the chars removed (spans are
    * disjoint by the merge rule). Replay-idempotent for the same reason
    * as the flag path: pure function of (batch, index), no per-batch
    * state written. The offline strips' seam caveat carries over: the
    * splice can mint grams spanning a cut seam, so a re-probe of
    * scrubbed text is not guaranteed span-free (it IS pinned span-free
    * for the offline exact strip's corpus in SpanSpec; the residue is
    * boundary slivers shorter than the recall floor either way).
    */
  private[graft] def spanScrubDecisions(table: String, minTokens: Int,
      onBatch: (DataFrame, Long) => Unit,
      onTimings: GateStageTimings => Unit = _ => ())(batch: DataFrame, batchId: Long): Unit =
    NearDup.gate(check(batch.sparkSession, table), VerdictSchema, decisions = true,
      cutLeaks(_, minTokens), onBatch, onTimings)(batch, batchId)

  /** [[cutLeaks]] of a decision frame joined with per-doc verdicts
    * ([[SpanOps.leakVerdictsOf]]) — the batch curation chain's form.
    */
  private[graft] def applyScrub(frame: DataFrame, perDoc: DataFrame,
      minTokens: Int): DataFrame =
    cutLeaks(frame.join(broadcast(perDoc), Seq("doc_id"), "left"), minTokens)

  /** Applies the per-doc verdicts a decision frame was left-joined with:
    * cut the leak spans out of still-`insert` rows, rewrite their
    * decision to `scrubbed` / `scrub_gutted`, pass every other row
    * through text-unchanged.
    */
  private[streaming] def cutLeaks(joined: DataFrame, minTokens: Int): DataFrame =
    joined
      .withColumn("text",
        when(col("sp").isNull || col("decision") =!= "insert", col("text"))
          .otherwise(SpanOps.cutSpansFold))
      .withColumn("n_leak_spans", coalesce(col("n_leak_spans"), lit(0L)))
      .withColumn("leak_chars", coalesce(col("leak_chars"), lit(0L)))
      .withColumn("decision",
        when(col("decision") === "insert" && col("n_leak_spans") > 0L,
          when(size(split(col("text"), " ")) < minTokens, "scrub_gutted")
            .otherwise("scrubbed"))
          .otherwise(col("decision")))
      .drop("sp")
}
