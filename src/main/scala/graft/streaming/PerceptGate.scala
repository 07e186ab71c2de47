package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators.{FrameDecoder, AutoFrameDecoder, IndexTable, MultimodalOps}

/** Streaming PERCEPTUAL near-duplicate ingest gate: checks each arriving
  * micro-batch of image-kind payloads against a persisted dHash code
  * index and flags perceptual dups BEFORE they enter the corpus — the
  * online form of [[graft.operators.MultimodalOps]]' batch
  * `multimodal_neardup`, and the missing family-matrix cell (r18
  * verdict task 1): text had online gates for exact (watermarked
  * dedup), near-dup ([[DedupGate]]), contamination ([[SpanGate]]) and
  * quality ([[CharLmGate]]); images had only the batch clustering run,
  * so duplicate images ingested freely between runs. Reference anchor:
  * the nearest-match archetype of `src/ansi.tpp:351-363` (A28) at the
  * raster grain, online.
  *
  * Signatures come from the SAME lean decode pass as the batch keys
  * ([[MultimodalOps.perceptualCodes]]: decode → 65-bin pooled profile →
  * 64-bit dHash, degenerate profiles emit nothing), so online and batch
  * verdicts can never drift. Banding is the SAME 4×16-bit pigeonhole as
  * [[graft.operators.DedupOps.hammingPairsScored]]: a pair within
  * hamming ≤ [[MaxHamming]] (3) disturbs at most 3 bands, so one band
  * always collides exact — candidates come from a (band_id, bk)
  * equi-join against only the index buckets the batch's own band keys
  * touch, then the true `bit_count(xor)` verifies before any flag.
  *
  * Index layout: `(doc_id, band_id, bk, code)` — 4 rows per doc —
  * written as a parquet table BUCKETED BY `bk` (the session must set
  * `spark.sql.sources.bucketing.autoBucketedScan.enabled=false`, same
  * as every other persisted probe; asserted in BucketingSpec). Meta
  * `(n_bands, band_bits, max_hamming, base_n)` validates geometry per
  * batch; the index epoch fences concurrent maintainers exactly like
  * [[DedupGate]]'s index ([[graft.operators.IndexTable]]).
  *
  * Scale shape (100 TB): per batch the index contributes only the
  * buckets the batch's band keys land in; the batch side is signed once
  * into a driver-local relation and BROADCAST (micro-batches are small
  * by contract — [[NearDup]]'s per-trigger core, shared with
  * [[DedupGate]] and [[EmbedGate]]); the probe ships 16 bytes of
  * code per doc — never pixels, never frame arrays (the decode emits
  * `(doc_id, code)` and the payload bytes stay in their arrival
  * partition). One difference from [[DedupGate]]'s probe: band keys
  * live in a CLOSED 16-bit domain, so a dense batch legitimately
  * touches most of it — above [[DefaultMaxProbeLiterals]] distinct
  * keys the probe switches from an `isin` literal bucket filter to a
  * broadcast semi-join (the SpanGate lesson: a many-thousand-literal
  * filter costs seconds of per-batch driver analysis while pruning
  * nothing once every bucket is hit).
  *
  * Dedup policy, contract boundaries, replay semantics: identical to
  * [[DedupGate]] — novel docs index (idempotently, at-least-once-safe),
  * flagged docs are annotated not dropped, [[gateBatch]] is
  * batch-vs-index only, [[gateBatchWithinAware]] also resolves
  * within-batch sibling pairs to the min-id representative, and
  * near-dup siblings that first arrived together will flag against each
  * other on replay (annotations advisory under replay; the INDEX is
  * replay-stable). Degenerate payloads (flat rasters — see
  * [[MultimodalOps.dHashCodeOpt]]) carry no code: never flagged, never
  * indexed, so a flood of icons cannot chain the index into one vacuous
  * near-dup class.
  */
object PerceptGate {

  /** Banding geometry — fixed by the pigeonhole argument (4 × 16-bit
    * bands guarantee recall for hamming ≤ 3) and persisted in the meta
    * table so an index from a different geometry fails validation
    * instead of silently mixing code layouts.
    */
  val NBands = 4
  val BandBits = 16
  val MaxHamming = 3

  private[graft] def metaTableFor(table: String): String = NearDup.metaTableFor(table)

  /** The geometry persisted in, and validated against, the meta table. */
  private val Geometry =
    Seq("n_bands" -> NBands, "band_bits" -> BandBits, "max_hamming" -> MaxHamming)

  /** The 4×16-bit banded rows `(doc_id, band_id, bk, code)` of a
    * `(doc_id, simhash)` code frame ([[MultimodalOps.perceptualCodes]]'
    * output shape) — the same split [[graft.operators.DedupOps
    * .hammingPairsScored]] banding uses, at rest.
    */
  private[graft] def bandedCodes(codes: DataFrame): DataFrame =
    codes.select(col("doc_id"), col("simhash").as("code"),
      explode(expr(
        s"""transform(sequence(0, ${NBands - 1}), j -> struct(j AS band_id,
           |  shiftright(simhash, j * $BandBits) & 65535 AS bk))""".stripMargin)).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.bk"), col("code"))

  /** Builds (overwrites) the code index from a seed corpus of
    * `(doc_id, payload: BINARY)` rows, plus its validation meta table
    * ([[NearDup.writeBanded]]). Docs whose payload yields no code
    * (empty/degenerate profile) are simply absent — they can never flag
    * and never collide.
    */
  def writeCodeIndex(spark: SparkSession, payloads: DataFrame, table: String,
      nBuckets: Int = 16, decoder: FrameDecoder = AutoFrameDecoder): Unit =
    NearDup.writeBanded(spark, bandedCodes(MultimodalOps.perceptualCodes(spark, payloads, decoder)),
      table, "bk", nBuckets, Geometry)

  /** In-place rebuild FROM THE INDEX'S OWN ROWS ([[NearDup.rebuildBanded]],
    * [[DedupGate.rebuildSigIndex]]'s compaction) when
    * [[codeIndexStaleness]] crosses its threshold. Codes are all the
    * index holds, so the rebuild needs no payloads.
    */
  def rebuildCodeIndex(spark: SparkSession, table: String, nBuckets: Int = 16): Unit = {
    validateMeta(spark, table)
    NearDup.rebuildBanded(spark, table, "bk", nBuckets, Geometry)
  }

  /** The persisted geometry + build-time corpus size; None without meta. */
  def loadCodeMeta(spark: SparkSession, table: String): Option[(Int, Int, Int, Long)] =
    NearDup.loadMeta(spark, table).map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))

  /** Fraction of the index's docs appended since it was built — the
    * rebuild trigger, exactly [[DedupGate.sigIndexStaleness]]'s formula
    * ([[IndexTable.staleness]]). 1.0 without meta.
    */
  def codeIndexStaleness(spark: SparkSession, table: String): Double =
    IndexTable.staleness(spark, table, "doc_id", loadCodeMeta(spark, table).map(_._4))

  private[graft] def validateMeta(spark: SparkSession, table: String): Unit =
    NearDup.validateGeometry(spark, table, Geometry, "writeCodeIndex")

  /** Verified hamming check of a banded batch against a banded at-rest
    * side: one row per flagged batch doc, `(doc_id, dup_of, hamming)` —
    * [[DedupGate.checkAgainst]] with `bit_count(xor)` as the score.
    */
  private[graft] def checkAgainst(index: DataFrame, batchBanded: DataFrame): DataFrame =
    NearDup.againstIndex(verified, index, batchBanded)

  /** [[checkAgainst]] plus the within-batch check in one verified join
    * ([[NearDup.combined]]).
    */
  private[graft] def combinedFlags(index: DataFrame, banded: DataFrame): DataFrame =
    NearDup.combined(verified, index, banded)

  /** This gate's score: band-colliding pairs on (band_id, bk), verified
    * by true hamming ≤ [[MaxHamming]].
    */
  private val verified = NearDup.verifiedBy("doc_id", Seq("band_id", "bk"), Seq("code"),
    "hamming" -> expr("bit_count(rest_code ^ in_code)"),
    col("hamming") <= MaxHamming, col("hamming")) _

  /** Above this many distinct batch band keys the probe abandons the
    * `isin` literal bucket filter for a broadcast semi-join: `bk` lives
    * in a CLOSED 65536-value domain, so unlike [[DedupGate]]'s
    * open-domain hashes a dense batch is legal — and a ~10k-literal
    * filter costs seconds of driver analysis per batch while pruning
    * nothing once most buckets are hit (the r15 span-probe lesson).
    */
  val DefaultMaxProbeLiterals = 2048

  /** Flags the batch's perceptual dups against the persisted index —
    * the lazy convenience form ([[NearDup.flagLazily]]).
    */
  def flagDuplicates(spark: SparkSession, payloads: DataFrame, table: String,
      decoder: FrameDecoder = AutoFrameDecoder): DataFrame = {
    require(spark eq payloads.sparkSession,
      "flagDuplicates must run on the batch frame's own session (foreachBatch hands a clone)")
    NearDup.flagLazily(check(spark, table, withinBatch = false, decoder), payloads)
  }

  /** Appends the codes of docs not already at rest — idempotent by
    * doc_id under the epoch guard, the replay-safe foreachBatch form
    * ([[NearDup.appendBanded]], [[DedupGate.appendNewSigsIdempotent]]'s
    * contract). Returns docs actually appended.
    */
  def appendNewCodesIdempotent(spark: SparkSession, payloads: DataFrame, table: String,
      decoder: FrameDecoder = AutoFrameDecoder): Long = {
    validateMeta(spark, table)
    val banded = bandedCodes(MultimodalOps.perceptualCodes(spark, payloads, decoder))
    NearDup.appendBanded(spark, table, banded.collect().toSeq, banded.schema)
  }

  /** The flag rows' schema (the [[checkAgainst]] shape). */
  private[streaming] val FlagSchema =
    StructType.fromDDL("doc_id BIGINT, dup_of BIGINT, hamming INT")

  /** This gate's [[NearDup.Check]] over `table` for one trigger (the
    * index refreshed and validated): `(doc_id, payload)` rows decode and
    * dHash into banded codes (`withinBatch`: checked also against the
    * batch's siblings), unflagged codes [[NearDup.appendBanded]].
    */
  private[streaming] def check(spark: SparkSession, table: String, withinBatch: Boolean,
      decoder: FrameDecoder = AutoFrameDecoder): NearDup.Check = {
    validateMeta(spark, table)
    spark.catalog.refreshTable(table)
    NearDup.Check(table, "bk", NBands, DefaultMaxProbeLiterals, IndexProbe.BroadcastSemiJoin,
      rows => bandedCodes(MultimodalOps.perceptualCodes(spark,
        rows.select("doc_id", "payload"), decoder)),
      NearDup.verifiedProbe(verified, withinBatch),
      (rows, schema) => NearDup.appendBanded(spark, table, rows, schema))
  }

  /** The full gate as a foreachBatch body over `(doc_id, payload, …)`
    * micro-batches: flag against the index, hand the annotated batch
    * (original columns + `dup_of`/`hamming`/`is_dup`) to `onBatch`,
    * index the novel codes. Batch-vs-index only — compose a
    * within-batch dedup upstream or use [[gateBatchWithinAware]].
    */
  def gateBatch(table: String,
      onBatch: (DataFrame, Long) => Unit,
      decoder: FrameDecoder = AutoFrameDecoder)(batch: DataFrame, batchId: Long): Unit =
    gateCore(table, withinBatch = false, onBatch, _ => (), decoder)(batch, batchId)

  /** [[gateBatch]] with the within-batch blind spot closed: sibling
    * dups arriving together index exactly ONE (min-id) member.
    * `onTimings` receives the batch's [[GateStageTimings]].
    */
  def gateBatchWithinAware(table: String,
      onBatch: (DataFrame, Long) => Unit,
      decoder: FrameDecoder = AutoFrameDecoder,
      onTimings: GateStageTimings => Unit = _ => ())(batch: DataFrame, batchId: Long): Unit =
    gateCore(table, withinBatch = true, onBatch, onTimings, decoder)(batch, batchId)

  /** The gate body — [[NearDup.gate]] with this gate's check. */
  private def gateCore(table: String, withinBatch: Boolean,
      onBatch: (DataFrame, Long) => Unit, onTimings: GateStageTimings => Unit,
      decoder: FrameDecoder)(batch: DataFrame, batchId: Long): Unit =
    NearDup.gate(check(batch.sparkSession, table, withinBatch, decoder), FlagSchema,
      decisions = false,
      _.withColumn("is_dup", col("dup_of").isNotNull), onBatch, onTimings)(batch, batchId)
}
