package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType
import graft.operators.VectorOps
import graft.functions.FloatDot.float_dot
import graft.functions.LshBucket.lsh_bucket

/** Streaming EMBEDDING near-duplicate ingest gate: checks each arriving
  * micro-batch of `(vec_id, embedding)` rows against the PERSISTED LSH
  * signature index ([[VectorOps.writeLshIndex]] /
  * [[VectorOps.writeLshIndexFrom]]) and flags cosine near-dups BEFORE
  * they enter the vector corpus — the online form of the batch
  * `embed_neardup_lsh` key, and the embedding member of the online gate
  * family (exact → watermarked dedup, token near-dup → [[DedupGate]],
  * substring → [[SpanGate]], quality → [[CharLmGate]], perceptual →
  * [[PerceptGate]]; until now an embedding flood reached the ANN index
  * unflagged between batch clustering runs).
  *
  * ONE ARTIFACT, TWO CONSUMERS: the gate probes the SAME bucketed
  * `(vec_id, embedding, nrm, bucket)` table the ANN-search family
  * probes (`ann_lsh_indexed`) and the same table
  * [[VectorOps.lshIndexMaintenance]] appends to — no second index to
  * build, no drift between "what search sees" and "what the gate knows".
  * [[gatedIndexMaintenance]] is therefore `lshIndexMaintenance` upgraded
  * in place: novel vectors append exactly as before (the same
  * [[VectorOps.appendToLshIndexIdempotent]] call — gated and ungated
  * maintenance write byte-identical rows, except zero-norm arrivals,
  * which the gate declines to index at all — see the degenerate policy
  * below), near-dup arrivals are flagged to the caller and kept OUT, so
  * the index stops accumulating duplicate vectors (which would
  * otherwise waste probe candidates and skew every downstream top-k
  * toward the duplicated direction).
  *
  * Candidate rule: EXACT bucket agreement — the same rule as the batch
  * `embed_neardup_lsh` frame (`VectorOps.embedNeardupLshFrame`), so an
  * online verdict is a batch verdict restricted to (arrival, at-rest)
  * pairs; flags are then gated by TRUE cosine ≥ `threshold`, never by
  * the signature alone. Recall is the family's documented probabilistic
  * contract — a pair at cosine s shares all nBits hyperplane signs with
  * probability (1 − θ/π)^nBits ≈ 1 as s → 1 (measured against brute
  * force in DedupSpec) — unlike the minhash/simhash/dHash gates there
  * is no pigeonhole floor, which is the standard LSH trade for
  * gating a continuous similarity. Threshold is a GATE parameter, not
  * an index property: the index stores raw signatures + embeddings, so
  * one index serves ANN search and any number of gate thresholds
  * (default 0.9 — the near-dup regime for real embedding corpora; the
  * declared batch key's 0.3 is that near-random test corpus's far-tail
  * setting).
  *
  * Scale shape (100 TB): the batch side is signed once into a
  * driver-local relation and BROADCAST (micro-batches are small by
  * contract — [[NearDup]]'s per-trigger core, shared with [[DedupGate]]
  * and [[PerceptGate]]); the index contributes only the buckets the
  * batch's own signatures land in (literal bucket filter → FILE pruning
  * under the bucketed layout, or a broadcast semi-join above
  * [[DefaultMaxProbeLiterals]] distinct keys — [[PerceptGate]]'s dense
  * fallback); per-bucket populations are held at ~32 by
  * `VectorOps.bitsFor`, so each probe scans O(|batch| · 32) vectors.
  * A near-dup FLOOD is self-limiting: the first member indexes, every
  * later member flags against it and is kept out, so the hot bucket
  * never grows past the flood's representative — the online analog of
  * the batch frame's hot-bucket star guard.
  *
  * Degenerate policy (the [[graft.operators.MultimodalOps.dHashCodeOpt]]
  * analog, completed r20): a ZERO-NORM embedding carries no direction,
  * so its cosine is 0/0 — and Spark orders NaN ABOVE every number, so
  * an unguarded `sim >= threshold` would flag a zero vector against
  * everything in its bucket. Zero-norm rows are excluded from BOTH
  * probe sides (never flagged, never flagged-against) and are NOT
  * indexed either: all zero vectors hash to the same bucket, so a
  * zero-vector flood — the one duplicate class cosine cannot
  * self-limit — would otherwise grow a dead hot bucket that every
  * probe of that bucket scans. They are instead flagged to the caller
  * via `is_degenerate` (route them to an audit sink like flagged
  * dups); this is the one arrival class where gated and ungated
  * maintenance diverge — the ungated maintainer indexes whatever it is
  * fed.
  *
  * Dedup policy, contract boundaries, replay semantics: identical to
  * [[DedupGate]]/[[PerceptGate]] — novel vectors index (idempotently,
  * at-least-once-safe via the epoch-guarded anti-join append), flagged
  * vectors are annotated not dropped, [[gateBatch]] is batch-vs-index
  * only, [[gateBatchWithinAware]] also resolves within-batch siblings
  * to the surviving representative — `dup_of` chains are chased
  * (A<B<C with C's strongest match B gives BOTH B and C `dup_of` = A,
  * the vector actually at rest; `sim` stays the measured strongest-
  * match similarity), exact in batch-only arrivals because
  * within-batch edges strictly decrease vec_id; under REPLAY (rows
  * already at rest flagging each other) chains can cycle and the chase
  * stops at the cycle edge — annotations are advisory under replay
  * anyway, while the INDEX is replay-stable.
  */
object EmbedGate {

  /** Default cosine flag threshold — the near-dup regime. */
  val DefaultThreshold = 0.9

  /** Above this many distinct batch bucket keys the probe abandons the
    * literal `isin` bucket filter for a broadcast semi-join — the
    * [[PerceptGate.DefaultMaxProbeLiterals]] rationale (a many-thousand
    * literal filter costs seconds of driver analysis while pruning
    * little once most buckets are touched).
    */
  val DefaultMaxProbeLiterals = 2048

  /** The index's signature width, from its meta table — REQUIRED: the
    * gate computes batch signatures itself, and a width mismatch against
    * the at-rest buckets would silently miss every near-dup. Refreshes
    * the meta relation first (a cross-process rebuild may have changed
    * it — the [[CharLmGate]] lesson).
    */
  private[graft] def requireNBits(spark: SparkSession, table: String): Int = {
    val meta = VectorOps.metaTableFor(table)
    if (spark.catalog.tableExists(meta)) spark.catalog.refreshTable(meta)
    VectorOps.loadLshMeta(spark, table).map(_._1).getOrElse(throw new IllegalStateException(
      s"index $table has no meta table, so its signature width cannot be read — " +
        "the gate would probe with a mismatched width; rebuild with writeLshIndex"))
  }

  /** Batch-side signatures `(vec_id, embedding, nrm, bucket)` — the same
    * projection the index holds at rest (`VectorOps.withLshBucket`'s
    * shape), computed with the index's OWN nBits.
    */
  private[graft] def withSigs(batch: DataFrame, nBits: Int): DataFrame =
    batch.select(col("vec_id"), col("embedding"),
      sqrt(float_dot(col("embedding"), col("embedding"))).as("nrm"),
      lsh_bucket(col("embedding"), nBits).as("bucket"))

  /** Verified cosine check of batch signatures against an at-rest side:
    * exact-bucket candidates, true-cosine ≥ `threshold` verify, one row
    * per flagged batch vector `(vec_id, dup_of, sim)` — strongest match
    * kept (highest sim, ties to the lowest at-rest id). A REPLAYED
    * batch's rows are already at rest and never flag against themselves.
    */
  private[graft] def checkAgainst(
      index: DataFrame, batchSigs: DataFrame, threshold: Double): DataFrame =
    NearDup.againstIndex(verified(threshold), index, batchSigs)

  /** [[checkAgainst]] plus the within-batch check in one verified join
    * ([[NearDup.combined]]): siblings arriving together resolve to one
    * surviving (min-id) representative.
    */
  private[graft] def combinedFlags(
      index: DataFrame, sigs: DataFrame, threshold: Double): DataFrame =
    NearDup.combined(verified(threshold), index, sigs)

  /** This gate's score: exact-bucket candidates verified by true cosine
    * ≥ `threshold`. Zero-norm rows are excluded on both sides (see the
    * degenerate policy above — NaN would otherwise flag).
    */
  private def verified(threshold: Double)(
      rest: DataFrame, batch: DataFrame, keep: Column): DataFrame =
    NearDup.verifiedBy("vec_id", Seq("bucket"), Seq("embedding", "nrm"),
      "sim" -> float_dot(col("rest_embedding"), col("in_embedding")) /
        (col("rest_nrm") * col("in_nrm")),
      col("sim") >= threshold, negate(col("sim")))(
      rest.filter(col("nrm") > 0), batch.filter(col("nrm") > 0), keep)

  /** Flags the batch's cosine near-dups against the persisted index —
    * the lazy convenience form ([[NearDup.flagLazily]]). Probe sessions
    * need the documented
    * `spark.sql.sources.bucketing.autoBucketedScan.enabled=false` for
    * the bucket filter to prune files.
    */
  def flagDuplicates(spark: SparkSession, vectors: DataFrame, table: String,
      threshold: Double = DefaultThreshold): DataFrame = {
    require(spark eq vectors.sparkSession,
      "flagDuplicates must run on the batch frame's own session (foreachBatch hands a clone)")
    NearDup.flagLazily(check(spark, table, threshold, withinBatch = false), vectors)
  }

  /** The flag rows' schema (the [[checkAgainst]] shape). */
  private[streaming] val FlagSchema = StructType.fromDDL("vec_id BIGINT, dup_of BIGINT, sim DOUBLE")

  /** This gate's [[NearDup.Check]] over `table` for one trigger: rows
    * sign with the index's own nBits — zero-norm ones are not signed, so
    * they neither flag nor index (see the degenerate policy above) —
    * the probe checks `withinBatch` siblings too when asked, and
    * unflagged novel vectors index through the SAME
    * [[VectorOps.appendToLshIndexIdempotent]] the ungated maintainer
    * uses (one artifact, two consumers).
    */
  private[streaming] def check(spark: SparkSession, table: String,
      threshold: Double, withinBatch: Boolean): NearDup.Check = {
    spark.catalog.refreshTable(table)
    val nBits = requireNBits(spark, table)
    NearDup.Check(table, "bucket", 1, DefaultMaxProbeLiterals, IndexProbe.BroadcastSemiJoin,
      rows => withSigs(rows, nBits).filter(col("nrm") > 0),
      NearDup.verifiedProbe(verified(threshold), withinBatch),
      (rows, schema) => VectorOps.appendToLshIndexIdempotent(spark,
        spark.createDataFrame(rows.asJava, schema).select("vec_id", "embedding"),
        table, nBits))
  }

  /** The full gate as a foreachBatch body over `(vec_id, embedding, …)`
    * micro-batches: flag against the index, hand the annotated batch
    * (original columns + `dup_of`/`sim`/`is_degenerate`/`is_dup`) to
    * `onBatch`, index the novel unflagged vectors ([[check]]).
    * Batch-vs-index only — use [[gateBatchWithinAware]] to also resolve
    * siblings arriving together.
    */
  def gateBatch(table: String,
      onBatch: (DataFrame, Long) => Unit,
      threshold: Double = DefaultThreshold)(batch: DataFrame, batchId: Long): Unit =
    gateCore(table, withinBatch = false, onBatch, threshold, _ => ())(batch, batchId)

  /** [[gateBatch]] with the within-batch blind spot closed: sibling
    * near-dups arriving together index exactly ONE (min-id) member.
    * `onTimings` receives the batch's [[GateStageTimings]].
    */
  def gateBatchWithinAware(table: String,
      onBatch: (DataFrame, Long) => Unit,
      threshold: Double = DefaultThreshold,
      onTimings: GateStageTimings => Unit = _ => ())(batch: DataFrame, batchId: Long): Unit =
    gateCore(table, withinBatch = true, onBatch, threshold, onTimings)(batch, batchId)

  /** The gate body — [[NearDup.gate]] with this gate's check;
    * `is_degenerate` is the zero-norm test of [[withSigs]], evaluated on
    * the pinned rows.
    */
  private def gateCore(table: String, withinBatch: Boolean,
      onBatch: (DataFrame, Long) => Unit, threshold: Double,
      onTimings: GateStageTimings => Unit)(batch: DataFrame, batchId: Long): Unit =
    NearDup.gate(check(batch.sparkSession, table, threshold, withinBatch), FlagSchema,
      decisions = false,
      _.withColumn("is_degenerate",
          sqrt(float_dot(col("embedding"), col("embedding"))) === 0)
        .withColumn("is_dup", col("dup_of").isNotNull),
      onBatch, onTimings)(batch, batchId)

  /** [[VectorOps.lshIndexMaintenance]] upgraded to dedup-aware
    * maintenance — the production composition: wires a `(vec_id,
    * embedding)` stream into per-batch gating, with novel vectors
    * appended through the same idempotent epoch-guarded path (so the
    * artifact stays byte-compatible with the ungated maintainer and
    * with `ann_lsh_indexed`'s probes) and every batch's annotated rows
    * handed to `onBatch` (flagged arrivals carry `dup_of`/`sim` — route
    * them to an audit sink, don't lose them).
    */
  def gatedIndexMaintenance(vectors: DataFrame, table: String,
      onBatch: (DataFrame, Long) => Unit,
      threshold: Double = DefaultThreshold): DataStreamWriter[Row] =
    vectors.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(gateBatchWithinAware(table, onBatch, threshold) _)
}
