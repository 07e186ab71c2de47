package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators.{DedupOps, IndexTable, VectorOps}

/** Streaming near-duplicate INGEST GATE: checks each arriving micro-batch
  * of documents against a persisted MinHash signature index and flags
  * near-dups BEFORE they enter the corpus — the online form of
  * [[DedupOps]]' batch near-dup pipeline, and the text counterpart of the
  * persisted ANN index maintenance in [[VectorOps]] (same bucketed-table +
  * validated-meta + idempotent-append pattern; reference session dedup
  * semantics: `transf_server.cpp:49-131` dedups arriving chunks against
  * per-session state — this is that idea at corpus scope).
  *
  * Index layout: the banded signature rows of [[DedupOps.bandedSigs]]
  * (`doc_id, band_id, bh, sig` — 4 rows per doc), written as a parquet
  * table BUCKETED BY `bh`, so a batch probe prunes index FILES via a
  * literal bucket filter and the probe join is exchange-free on the index
  * side (the session must set
  * `spark.sql.sources.bucketing.autoBucketedScan.enabled=false`, same as
  * the ANN probes — asserted in BucketingSpec).
  *
  * Scale shape (100 TB): each batch touches only the index buckets its
  * band hashes land in — probe cost O(batch × bucket population), never
  * an index scan; the batch side is driver-local and BROADCAST (small by
  * contract). A band collision is only a candidate: the per-pair slot
  * check (≥ [[DedupOps.MinhashVerifySlots]]/16) gates the flag exactly as
  * in the batch clustering path.
  *
  * Dedup policy: NOVEL docs pass the gate and their signatures append to
  * the index (idempotently — replay-safe under foreachBatch's
  * at-least-once contract); flagged docs are annotated, not dropped — the
  * removal decision is the caller's, and their signatures are NOT indexed,
  * keeping one representative per near-dup class at rest.
  *
  * Contract boundaries: [[gateBatch]] checks batch-vs-INDEX only — two
  * near-dup docs arriving in ONE batch both pass (and both index);
  * [[gateBatchWithinAware]] and [[gateDecisions]] (the
  * [[StreamMerge.gatedIngestPipeline]] body) also check each doc against
  * its batch's smaller-id siblings, so one near-dup class indexes one
  * member. The INDEX is replay-stable, the ANNOTATIONS are not fully: a
  * re-delivered doc_id never flags against itself and never re-indexes,
  * but siblings that first arrived together — both novel, both indexed —
  * WILL flag against each other on replay. A sink that drops flagged rows
  * must dedup within the batch upstream or treat `is_dup` on replayed
  * rows as advisory; exactly-once OUTPUT is the downstream sink's job, as
  * everywhere in this streaming surface (the FileSink pattern).
  */
object DedupGate {

  /** Signature geometry — the SAME constants [[DedupOps.bandedSigs]]
    * builds from ([[DedupOps.MinhashSigWidth]] minhash slots in
    * [[DedupOps.MinhashBands]] bands), persisted in the meta table so an
    * index written under an older geometry fails validation instead of
    * silently mixing signature widths. Aliased (not duplicated) so a
    * geometry change in DedupOps cannot leave the gate validating against
    * a stale copy.
    */
  val SigWidth: Int = DedupOps.MinhashSigWidth
  val NBands: Int = DedupOps.MinhashBands

  /** The geometry persisted in, and validated against, the meta table. */
  private val Geometry = Seq("sig_width" -> SigWidth, "n_bands" -> NBands)

  /** Builds (overwrites) the signature index from a seed corpus of
    * `(doc_id, text)` rows, plus its validation meta table
    * ([[NearDup.writeBanded]]).
    */
  def writeSigIndex(spark: SparkSession, docs: DataFrame, table: String,
      nBuckets: Int = 16): Unit =
    NearDup.writeBanded(spark, DedupOps.bandedSigs(docs), table, "bh", nBuckets, Geometry)

  /** In-place rebuild of a signature index FROM ITS OWN ROWS
    * ([[NearDup.rebuildBanded]]) — the rebuild a long-running gate
    * actually performs when [[sigIndexStaleness]] crosses its threshold:
    * a production gate holds signatures, not the original text
    * ([[writeSigIndex]] needs `(doc_id, text)`), so the rebuild must be
    * signature-only.
    */
  def rebuildSigIndex(spark: SparkSession, table: String, nBuckets: Int = 16): Unit =
    rebuildSigIndex(spark, table, nBuckets, failAfterPhase = Int.MaxValue)

  /** Test seam: [[rebuildSigIndex]] crashing after `failAfterPhase`
    * ([[NearDup.rebuildBanded]]).
    */
  private[graft] def rebuildSigIndex(spark: SparkSession, table: String, nBuckets: Int,
      failAfterPhase: Int): Unit = {
    validateMeta(spark, table)
    NearDup.rebuildBanded(spark, table, "bh", nBuckets, Geometry, failAfterPhase)
  }

  /** The persisted (sig_width, n_bands, build-time corpus size) of a
    * signature index; None if the meta table does not exist.
    */
  def loadSigMeta(spark: SparkSession, table: String): Option[(Int, Int, Long)] =
    NearDup.loadMeta(spark, table).map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))

  /** Fraction of the index's documents appended since it was built — the
    * signature-index counterpart of [[VectorOps.lshIndexStaleness]], and
    * the REBUILD TRIGGER a long-running gate needs
    * ([[IndexTable.staleness]]). 1.0 for an index without meta.
    */
  def sigIndexStaleness(spark: SparkSession, table: String): Double =
    IndexTable.staleness(spark, table, "doc_id", loadSigMeta(spark, table).map(_._3))

  private[streaming] def validateMeta(spark: SparkSession, table: String): Unit =
    NearDup.validateGeometry(spark, table, Geometry, "writeSigIndex")

  /** Core verified check of a banded batch against a banded "at rest"
    * side — pure frame logic, unit-testable with synthetic signatures:
    * one row per flagged batch doc, `(doc_id, dup_of, sig_match)`, the
    * highest slot agreement kept ([[NearDup.againstIndex]]).
    */
  private[graft] def checkAgainst(index: DataFrame, batchBanded: DataFrame): DataFrame =
    NearDup.againstIndex(verified, index, batchBanded)

  /** [[checkAgainst]] plus the within-batch check in one verified join
    * ([[NearDup.combined]]). Shared unchanged by
    * `SpanOps.corpusCurateDecisionsOf`.
    */
  private[graft] def combinedFlags(index: DataFrame, banded: DataFrame): DataFrame =
    NearDup.combined(verified, index, banded)

  /** This gate's score: band-colliding pairs on (band_id, bh), verified
    * by per-slot agreement ≥ [[DedupOps.MinhashVerifySlots]].
    */
  private val verified = NearDup.verifiedBy("doc_id", Seq("band_id", "bh"), Seq("sig"),
    "sig_match" -> graft.functions.SlotMatch.slot_match(col("rest_sig"), col("in_sig")),
    col("sig_match") >= DedupOps.MinhashVerifySlots, -col("sig_match")) _

  /** Flags the batch's near-dups against the persisted index — the lazy
    * convenience form ([[NearDup.flagLazily]]): the batch's distinct band
    * hashes are collected (metadata scale: ≤ 4 × batch rows) into a
    * literal filter so the bucketed scan prunes index files before the
    * verify join.
    */
  def flagDuplicates(spark: SparkSession, batchDocs: DataFrame, table: String): DataFrame = {
    require(spark eq batchDocs.sparkSession,
      "flagDuplicates must run on the batch frame's own session (foreachBatch hands a clone)")
    NearDup.flagLazily(check(spark, table, withinBatch = false), batchDocs)
  }

  /** Ceiling on the number of distinct band-hash literals a batch probe
    * may build (overridable via `graft.dedupGate.maxProbeLiterals`). The
    * probe contract assumes micro-batches are SMALL (band hashes ≤
    * [[NBands]] × batch rows — metadata scale); a mis-deployed gate fed a
    * corpus-sized "batch" would otherwise silently build a multi-million
    * element `isin` filter. Failing loudly here is the guard: the fix is
    * smaller triggers (or the batch clustering path), not a bigger bound.
    */
  val DefaultMaxProbeLiterals = 65536

  /** The probe-literal bound in force, with its FailFast message. */
  private def probeBound(spark: SparkSession): (Int, String) = {
    val bound = IndexProbe.confBound(
      spark, "graft.dedupGate.maxProbeLiterals", DefaultMaxProbeLiterals)
    (bound, s"batch produced more than $bound distinct band hashes — the micro-batch-is-small " +
      "probe contract is broken (a literal filter this size would dominate the plan); " +
      "use smaller triggers or the batch dedup path, or raise graft.dedupGate.maxProbeLiterals")
  }

  /** Appends the signatures of docs not already at rest — idempotent by
    * doc_id ([[NearDup.appendBanded]], under the [[IndexTable]] append
    * contract). Returns the number of docs actually appended.
    */
  def appendNewSigsIdempotent(spark: SparkSession, docs: DataFrame, table: String): Long = {
    validateMeta(spark, table)
    val banded = DedupOps.bandedSigs(docs)
    NearDup.appendBanded(spark, table, banded.collect().toSeq, banded.schema)
  }

  /** The flag rows' schema (the [[checkAgainst]] shape). */
  private[streaming] val FlagSchema =
    StructType.fromDDL("doc_id BIGINT, dup_of BIGINT, sig_match INT")

  /** This gate's [[NearDup.Check]] over `table` for one trigger (the
    * index refreshed and validated): `(doc_id, text)` rows minhash into
    * banded signatures, the probe fails fast past the probe-literal
    * bound (`withinBatch`: also against the batch's siblings), unflagged
    * signatures [[NearDup.appendBanded]].
    */
  private[streaming] def check(spark: SparkSession, table: String,
      withinBatch: Boolean): NearDup.Check = {
    validateMeta(spark, table)
    spark.catalog.refreshTable(table)
    val (bound, message) = probeBound(spark)
    NearDup.Check(table, "bh", NBands, bound, IndexProbe.FailFast(message),
      rows => DedupOps.bandedSigs(rows.select("doc_id", "text")),
      NearDup.verifiedProbe(verified, withinBatch),
      (rows, schema) => NearDup.appendBanded(spark, table, rows, schema))
  }

  /** The full gate as a foreachBatch body: flag the batch against the
    * index, hand the annotated batch to `onBatch` (original columns plus
    * `dup_of`/`sig_match`/`is_dup`), then index the novel docs so LATER
    * batches dedup against them. Call from
    * `stream.writeStream.foreachBatch(DedupGate.gateBatch(table, onBatch) _)`.
    * All table reads go through `batch.sparkSession` (foreachBatch hands
    * frames owned by the micro-batch CLONE session), and the relation
    * cache is refreshed before each probe so every batch sees the appends
    * of the previous one. Cost shape: [[NearDup]].
    */
  def gateBatch(table: String,
      onBatch: (DataFrame, Long) => Unit)(batch: DataFrame, batchId: Long): Unit =
    gateCore(table, withinBatch = false, decisions = false, onBatch)(batch, batchId)

  /** [[gateBatch]] with the within-batch blind spot CLOSED
    * ([[combinedFlags]]): of two near-dup siblings in one batch, exactly
    * ONE (the min-id member) indexes and the other flags.
    */
  def gateBatchWithinAware(table: String,
      onBatch: (DataFrame, Long) => Unit)(batch: DataFrame, batchId: Long): Unit =
    gateCore(table, withinBatch = true, decisions = false, onBatch)(batch, batchId)

  /** The one gate body ([[NearDup.gate]]): with `decisions`, only
    * `insert` rows are checked and flagged ones become `near_dup`;
    * otherwise every row is checked and `is_dup` is appended.
    */
  private def gateCore(table: String, withinBatch: Boolean, decisions: Boolean,
      onBatch: (DataFrame, Long) => Unit,
      onTimings: GateStageTimings => Unit = _ => ())(batch: DataFrame, batchId: Long): Unit =
    NearDup.gate(check(batch.sparkSession, table, withinBatch), FlagSchema, decisions,
      out =>
        if (decisions) out.withColumn("decision",
          when(col("dup_of").isNotNull, "near_dup").otherwise(col("decision")))
        else out.withColumn("is_dup", col("dup_of").isNotNull),
      onBatch, onTimings)(batch, batchId)

  /** foreachBatch body for a stream of INGEST DECISION rows (the
    * [[StreamMerge]] pipeline's `(doc_id, …, decision, …, text)` shape):
    * only rows the upstream gates decided to `insert` are near-dup
    * checked — dropped/duplicate rows are already out and must not pay
    * the signature cost or enter the index. Flagged inserts have their
    * decision REWRITTEN to `near_dup` (with `dup_of`/`sig_match`);
    * surviving inserts index. `onBatch` receives every decision row of
    * the batch, annotated, `text` retained — the [[StreamMerge]]
    * compositions decide its fate (the plain pipeline drops it for the
    * audit log; the scrubbed one redacts the final inserts' text first).
    * A trigger with no `insert` row (every watermark no-data trigger)
    * runs no gate job at all — see [[NearDup.gate]].
    */
  private[graft] def gateDecisions(table: String,
      onBatch: (DataFrame, Long) => Unit,
      onTimings: GateStageTimings => Unit = _ => ())(batch: DataFrame, batchId: Long): Unit =
    gateCore(table, withinBatch = true, decisions = true, onBatch, onTimings)(batch, batchId)
}
