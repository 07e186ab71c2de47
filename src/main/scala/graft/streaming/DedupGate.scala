package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.{DedupOps, VectorOps}

/** Wall-clock seconds per gate stage for ONE micro-batch — the gate's
  * observability record ([[DedupGate.gateDecisions]] / `GateBench`).
  * Stages map 1:1 onto [[DedupGate]]'s `gateCore` body, each ended by an
  * eager action:
  *   - `sigSec`: shingle + minhash + banding of the batch text into a
  *     driver-local relation;
  *   - `probeSec`: the file-pruned index probe + within-batch check +
  *     slot verification (flags collected to the driver) — the number
  *     that must stay FLAT as the index grows, or the bucketed-probe
  *     claim is wrong;
  *   - `sinkSec`: the caller's `onBatch` body over the PINNED batch rows
  *     (the batch plan's one evaluation, before any stage, is in none);
  *   - `appendSec`: the idempotent signature append of unflagged docs.
  * `appended` is the number of docs actually indexed this batch. A
  * trigger with nothing to check (every watermark no-data trigger)
  * reports zero sig/probe/append time: only its sink runs.
  */
final case class GateStageTimings(
    batchId: Long, sigSec: Double, probeSec: Double,
    sinkSec: Double, appendSec: Double, appended: Long)

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

  private[graft] def metaTableFor(table: String): String = table + "_meta"

  /** Builds (overwrites) the signature index from a seed corpus of
    * `(doc_id, text)` rows, plus its validation meta table.
    */
  def writeSigIndex(spark: SparkSession, docs: DataFrame, table: String,
      nBuckets: Int = 16): Unit = {
    VectorOps.clearStaleLocation(spark, table)
    DedupOps.bandedSigs(docs)
      .write.mode("overwrite").bucketBy(nBuckets, "bh").sortBy("bh")
      .format("parquet").saveAsTable(table)
    // base_n from the just-written table, not a second pass over the seed
    // corpus (at index-build scale the corpus scan is the whole cost)
    val baseN = spark.table(table).select("doc_id").distinct().count()
    VectorOps.clearStaleLocation(spark, metaTableFor(table))
    spark.createDataFrame(Seq((SigWidth, NBands, baseN)))
      .toDF("sig_width", "n_bands", "base_n")
      .write.mode("overwrite").format("parquet").saveAsTable(metaTableFor(table))
    // rebuild owns the index: in-flight appenders fail their commit
    graft.operators.IndexEpoch.bumpUnconditional(spark, table)
  }

  /** In-place rebuild of a signature index FROM ITS OWN ROWS — the
    * rebuild a long-running gate actually performs when
    * [[sigIndexStaleness]] crosses its threshold: a production gate
    * holds signatures, not the original text ([[writeSigIndex]] needs
    * `(doc_id, text)`), so the rebuild must be signature-only. Effects:
    *   - every append's file sliver re-buckets into `nBuckets` tidy
    *     sorted files (each idempotent append lands up to `nBuckets` new
    *     small files; hundreds of batches = thousands of files the
    *     probe must open — this is the compaction);
    *   - `nBuckets` can GROW with the corpus, restoring the
    *     O(batch × bucket-population) probe bound the original build
    *     sized for;
    *   - meta `base_n` resets to the current corpus, so staleness reads
    *     0 again;
    *   - the epoch bumps unconditionally — the rebuild owns the index,
    *     in-flight appenders fail their commit ([[graft.operators
    *     .IndexEpoch]]), same as [[writeSigIndex]].
    *
    * Mechanics: Spark cannot overwrite a table from a plan that reads it,
    * so the rows stage through `<table>_rebuild` (bucketed), then write
    * back, then the staging drops. Two sequential writes of the index —
    * the deliberate, restart-safe cost of a rebuild; concurrent
    * maintainers are excluded by the same single-sequential-maintainer
    * contract as the append paths (the epoch guard turns a violation
    * into a loud failure, not corruption).
    */
  def rebuildSigIndex(spark: SparkSession, table: String, nBuckets: Int = 16): Unit = {
    validateMeta(spark, table)
    spark.catalog.refreshTable(table)
    val staging = table + "_rebuild"
    VectorOps.clearStaleLocation(spark, staging)
    spark.table(table).write.mode("overwrite")
      .bucketBy(nBuckets, "bh").sortBy("bh").format("parquet").saveAsTable(staging)
    val baseN = spark.table(staging).select("doc_id").distinct().count()
    spark.table(staging).write.mode("overwrite")
      .bucketBy(nBuckets, "bh").sortBy("bh").format("parquet").saveAsTable(table)
    spark.createDataFrame(Seq((SigWidth, NBands, baseN)))
      .toDF("sig_width", "n_bands", "base_n")
      .write.mode("overwrite").format("parquet").saveAsTable(metaTableFor(table))
    graft.operators.IndexEpoch.bumpUnconditional(spark, table)
    spark.sql(s"DROP TABLE IF EXISTS $staging")
    spark.catalog.refreshTable(table)
  }

  /** The persisted (sig_width, n_bands, build-time corpus size) of a
    * signature index; None if the meta table does not exist.
    */
  def loadSigMeta(spark: SparkSession, table: String): Option[(Int, Int, Long)] =
    if (!spark.catalog.tableExists(metaTableFor(table))) None
    else {
      // gate appends run through the micro-batch clone session — refresh so a
      // monitoring caller on the ORIGINAL session never reads a stale cached
      // file list (the same relation-cache hazard gateCore guards against)
      spark.catalog.refreshTable(metaTableFor(table))
      spark.table(metaTableFor(table)).collect().headOption
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    }

  /** Fraction of the index's documents appended since it was built — the
    * signature-index counterpart of [[VectorOps.lshIndexStaleness]], and
    * the REBUILD TRIGGER a long-running gate needs: appends keep probes
    * correct (geometry is validated per batch), but every appended doc
    * grows the per-band bucket populations the probe scans, degrading the
    * O(batch × bucket) cost bound the bucketed build sized for. Rebuild
    * ([[writeSigIndex]]) re-buckets the grown corpus and resets the base.
    * Returns 1.0 for an index without meta (unconditionally stale).
    */
  def sigIndexStaleness(spark: SparkSession, table: String): Double =
    loadSigMeta(spark, table) match {
      case None | Some((_, _, 0L)) => 1.0
      case Some((_, _, baseN)) =>
        spark.catalog.refreshTable(table) // see loadSigMeta — appends land via the clone session
        val now = spark.table(table).select("doc_id").distinct().count()
        math.max(0.0, (now - baseN).toDouble / baseN)
    }

  private[streaming] def validateMeta(spark: SparkSession, table: String): Unit = {
    // a rebuild may have overwritten the meta through ANOTHER session
    // (driver-side maintenance beside a streaming gate) — refresh, or this
    // session's relation cache serves the replaced file list and the next
    // batch dies on FILE_NOT_EXIST (the loadSigMeta hazard, at the
    // validation site)
    if (spark.catalog.tableExists(metaTableFor(table)))
      spark.catalog.refreshTable(metaTableFor(table))
    spark.table(metaTableFor(table)).collect().headOption match {
      case Some(r) =>
        require(r.getInt(0) == SigWidth && r.getInt(1) == NBands,
          s"index $table was built with geometry (${r.getInt(0)}, ${r.getInt(1)}), " +
            s"this build expects ($SigWidth, $NBands) — mixed signature geometries corrupt " +
            "the probe; rebuild with writeSigIndex")
      case None =>
        throw new IllegalStateException(
          s"index $table has an empty meta table; rebuild with writeSigIndex")
    }
  }

  /** Core verified check of a banded batch against a banded "at rest"
    * side — pure frame logic, unit-testable with synthetic signatures.
    * Both sides are renamed before the join (`rest_doc` / `in_doc`) so
    * every column reference resolves unambiguously (no reliance on
    * groupBy-alias-vs-child resolution order). Returns one row per
    * flagged batch doc: `(doc_id, dup_of, sig_match)` with the strongest
    * match kept (highest slot agreement, ties to the lowest rest-side
    * doc id).
    *
    * Self-matches are excluded (a re-delivered doc must not flag against
    * itself).
    */
  private[graft] def checkAgainst(index: DataFrame, batchBanded: DataFrame): DataFrame =
    strongestVerified(restSide(index), batchBanded, col("rest_doc") =!= col("in_doc"))

  private def restSide(banded: DataFrame): DataFrame =
    banded.select(col("doc_id").as("rest_doc"), col("band_id"), col("bh"), col("sig").as("rest_sig"))

  /** The verified join of both flag forms: `rest` rows colliding with the
    * broadcast batch on (band_id, bh), kept by `keep`, slot-verified.
    */
  private def strongestVerified(rest: DataFrame, batchBanded: DataFrame, keep: Column): DataFrame = {
    val in = batchBanded
      .select(col("doc_id").as("in_doc"), col("band_id"), col("bh"), col("sig").as("in_sig"))
    rest.join(broadcast(in), Seq("band_id", "bh"))
      .filter(keep)
      .withColumn("sig_match",
        graft.functions.SlotMatch.slot_match(col("rest_sig"), col("in_sig")))
      .filter(col("sig_match") >= DedupOps.MinhashVerifySlots)
      .groupBy(col("in_doc").as("doc_id"))
      .agg(min(struct((lit(SigWidth) - col("sig_match")).as("miss"),
        col("rest_doc").as("dup_of"))).as("best"))
      .select(col("doc_id"), col("best.dup_of"),
        (lit(SigWidth) - col("best.miss")).as("sig_match"))
  }

  /** Index flags and within-batch flags in ONE verified join over (index
    * slice ∪ batch): an index row counts against any other doc id (`rest
    * ≠ in`), a batch row only against a LARGER id (`rest < in`, so
    * near-dup siblings arriving together resolve to the min-id member).
    * The strongest match per doc is the [[checkAgainst]] rule over both.
    * In a chain (C≈B≈A, C≉A) a raw `dup_of` may point at a flagged
    * sibling; the gate chases it to the survivor via [[Survivors]].
    * Shared unchanged by `SpanOps.corpusCurateDecisionsOf`.
    */
  private[graft] def combinedFlags(index: DataFrame, banded: DataFrame): DataFrame =
    strongestVerified(
      restSide(index).withColumn("at_rest", lit(true))
        .unionByName(restSide(banded).withColumn("at_rest", lit(false))),
      banded,
      col("rest_doc") < col("in_doc") || (col("at_rest") && col("rest_doc") > col("in_doc")))

  /** Flags the batch's near-dups against the persisted index. The batch's
    * distinct band hashes are collected (metadata scale: ≤ 4 × batch
    * rows) into a literal filter so the bucketed scan prunes index files
    * before the verify join.
    */
  def flagDuplicates(spark: SparkSession, batchDocs: DataFrame, table: String): DataFrame = {
    require(spark eq batchDocs.sparkSession,
      "flagDuplicates must run on the batch frame's own session (foreachBatch hands a clone)")
    validateMeta(spark, table)
    // convenience form: fully LAZY (plan inspection / one-shot use) — the
    // batch signatures evaluate twice (bh collect + verify join), bounded
    // by batch size; gateBatch computes them once, driver-local.
    val banded = DedupOps.bandedSigs(batchDocs)
    checkAgainst(prunedIndexSlice(spark, table, banded), banded)
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

  /** The index slice the batch can possibly collide with: the batch's
    * distinct band hashes as a literal bucket filter (file pruning) —
    * [[IndexProbe.prunedSlice]] with this gate's policy: band hashes
    * are an OPEN domain, so a dense batch fails loudly instead of
    * falling back to a wider scan.
    */
  private[streaming] def prunedIndexSlice(
      spark: SparkSession, table: String, banded: DataFrame): DataFrame = {
    val (bound, message) = probeBound(spark)
    IndexProbe.prunedSlice(spark, table, banded, "bh", bound, IndexProbe.FailFast(message))
  }

  /** Appends the signatures of docs not already at rest — idempotent by
    * doc_id anti-join, the replay-safe form foreachBatch needs (same
    * contract and single-sequential-maintainer assumption as
    * [[VectorOps.appendToLshIndexIdempotent]]). Writes through
    * `insertInto`, so appended files keep the table's bucket spec and
    * probes stay file-pruned after arrival. Returns the number of docs
    * actually appended.
    */
  def appendNewSigsIdempotent(spark: SparkSession, docs: DataFrame, table: String): Long = {
    validateMeta(spark, table)
    appendBandedIdempotent(spark, DedupOps.bandedSigs(docs), table)
  }

  /** [[appendNewSigsIdempotent]] over ALREADY-BANDED rows — the gate's
    * hot path reuses the batch's signatures (meta validation is the
    * caller's, done once per batch). The rows are micro-batch scale, so
    * the replay check runs on the driver: collect `banded`, read back only
    * its doc ids from the index (a literal filter, no `distinct` or
    * shuffle), write the rows whose doc_id is not at rest yet.
    */
  private[streaming] def appendBandedIdempotent(
      spark: SparkSession, banded: DataFrame, table: String): Long = {
    // epoch span start (see [[graft.operators.IndexEpoch]]): before the
    // anti-join reads the at-rest identity set
    val epoch = graft.operators.IndexEpoch.current(spark, table)
    val rows = banded.collect()
    val idIdx = banded.schema.fieldIndex("doc_id")
    val ids = rows.map(_.getLong(idIdx)).distinct
    val atRest =
      if (ids.isEmpty) Set.empty[Long]
      else spark.table(table).select("doc_id").filter(col("doc_id").isin(ids.toIndexedSeq: _*))
        .collect().map(_.getLong(0)).toSet
    val n = ids.count(id => !atRest(id)).toLong
    if (n > 0) {
      graft.operators.IndexEpoch.bump(spark, table, epoch)
      // one writer task: an append adds at most one file per bucket
      spark.createDataFrame(rows.filterNot(r => atRest(r.getLong(idIdx))).toSeq.asJava,
        banded.schema).coalesce(1)
        .write.mode("append").insertInto(table)
      // foreachBatch writes through the micro-batch CLONE session; the
      // caller session's relation cache must not serve the pre-append
      // file list (counts/anti-joins would silently miss the new rows)
      spark.catalog.refreshTable(table)
    }
    n
  }

  /** The full gate as a foreachBatch body: flag the batch against the
    * index, hand the annotated batch to `onBatch` (original columns plus
    * `dup_of`/`sig_match`/`is_dup`), then index the novel docs so LATER
    * batches dedup against them. Call from
    * `stream.writeStream.foreachBatch(DedupGate.gateBatch(table, onBatch) _)`.
    * All table reads go through `batch.sparkSession` (foreachBatch hands
    * frames owned by the micro-batch CLONE session), and the relation
    * cache is refreshed before each probe so every batch sees the appends
    * of the previous one.
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

  /** The flag rows' schema (the [[checkAgainst]] shape). */
  private val FlagSchema = StructType.fromDDL("doc_id BIGINT, dup_of BIGINT, sig_match INT")

  /** The one gate body: with `decisions`, only `insert` rows are checked
    * and flagged ones become `near_dup`; otherwise every row is checked
    * and `is_dup` is appended. Cost shape per batch (timings are
    * driver-side clock reads around each stage's eager action):
    *   - the batch plan evaluates ONCE: a tracked checkpoint pins it and
    *     counts the rows to check in the same job — in a stream, the
    *     trigger's one pass over its stateful operators, so their state
    *     commits on every trigger, data or not;
    *   - with nothing to check (every watermark no-data trigger),
    *     `onBatch` gets the pinned rows with null `dup_of`/`sig_match`
    *     and no signature, probe or append job runs;
    *   - otherwise the text is minhashed ONCE into a driver-local
    *     relation (≤ [[NBands]] rows per doc, after the probe-literal
    *     bound check), the verified flags of the file-pruned probe come
    *     back to the driver, and the novel docs append from the driver.
    * The pinned blocks free before the batch returns — an indefinite
    * stream must not lean on driver-GC-paced block reclamation.
    */
  private def gateCore(table: String, withinBatch: Boolean, decisions: Boolean,
      onBatch: (DataFrame, Long) => Unit,
      onTimings: GateStageTimings => Unit = _ => ())(batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.GraftShim
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val d = if (decisions) batch.schema.fieldIndex("decision") else -1
    val insert = UTF8String.fromString("insert")
    val (rows, rowsRdd, nChecked) = GraftShim.localCheckpointTrackedCount(batch,
      r => d < 0 || (!r.isNullAt(d) && r.getUTF8String(d) == insert))
    try {
      val s = rows.sparkSession
      def sink(flags: Seq[Row]): Double = {
        val joined = rows.join(broadcast(s.createDataFrame(flags.asJava, FlagSchema)),
          Seq("doc_id"), "left")
        val out =
          if (decisions) joined.withColumn("decision",
            when(col("dup_of").isNotNull, "near_dup").otherwise(col("decision")))
          else joined.withColumn("is_dup", col("dup_of").isNotNull)
        timed(onBatch(out, batchId))._2
      }
      if (nChecked == 0) onTimings(GateStageTimings(batchId, 0.0, 0.0, sink(Nil), 0.0, 0L))
      else {
        s.catalog.refreshTable(table)
        validateMeta(s, table)
        val docs = (if (decisions) rows.filter(col("decision") === "insert") else rows)
          .select("doc_id", "text")
        val ((banded, bandedRows), tSig) = timed {
          val sigs = DedupOps.bandedSigs(docs)
          // ≤ NBands distinct band hashes per doc: only a batch that could
          // break the probe bound pays an exact count, before any collect
          val (bound, message) = probeBound(s)
          if (nChecked * NBands > bound &&
              sigs.select("bh").distinct().limit(bound + 1).count() > bound)
            throw new IllegalArgumentException(message)
          val collected = sigs.collect().toSeq
          (s.createDataFrame(collected.asJava, sigs.schema), collected)
        }
        val (flags, tProbe) = timed {
          // bandedSigs rows are (doc_id, band_id, bh, sig), NBands per doc
          val slice = s.table(table)
            .filter(col("bh").isin(bandedRows.map(_.getLong(2)).distinct: _*))
          // chains only form when the batch checks against ITSELF
          if (withinBatch)
            Survivors.chase(combinedFlags(slice, banded).collect().toSeq, 0, 1)
          else checkAgainst(slice, banded).collect().toSeq
        }
        val tSink = sink(flags)
        val flagged = flags.map(_.getLong(0)).toSet
        val (appended, tAppend) = timed(appendBandedIdempotent(s,
          s.createDataFrame(bandedRows.filterNot(r => flagged(r.getLong(0))).asJava,
            banded.schema), table))
        onTimings(GateStageTimings(batchId, tSig, tProbe, tSink, tAppend, appended))
      }
    } finally GraftShim.releaseCheckpoint(rowsRdd)
  }

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
    * runs no gate job at all — see [[gateCore]].
    */
  private[graft] def gateDecisions(table: String,
      onBatch: (DataFrame, Long) => Unit,
      onTimings: GateStageTimings => Unit = _ => ())(batch: DataFrame, batchId: Long): Unit =
    gateCore(table, withinBatch = true, decisions = true, onBatch, onTimings)(batch, batchId)
}
