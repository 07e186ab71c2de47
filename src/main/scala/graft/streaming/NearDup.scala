package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.IndexTable

/** Wall-clock seconds per gate stage for ONE micro-batch — the record
  * of every streaming gate: the near-dup gates ([[DedupGate]],
  * [[PerceptGate]], [[EmbedGate]]), the span-decontamination gate
  * ([[SpanGate]]) and the production chain's stages (`GateBench` and
  * perfbench read it). Stages map 1:1 onto [[NearDup]]'s per-trigger
  * body, each ended by an eager action:
  *   - `sigSec`: the gate's signing pass into a driver-local relation
  *     (for the span gate, the winnow selection of the batch's sites);
  *   - `probeSec`: the file-pruned index probe + within-batch check +
  *     verification, flags collected — the number that must stay FLAT as
  *     the index grows, or the bucketed-probe claim is wrong;
  *   - `sinkSec`: the caller's `onBatch` over the PINNED batch rows (0
  *     for the production chain's raster and embedding stages, whose
  *     sink is the text gate's);
  *   - `appendSec`: the idempotent append of unflagged signatures (for
  *     the span gate a no-op, ~0: its eval index never appends from a
  *     batch; 0 in the production chain's span stage).
  * `appended` is the number of docs indexed. A trigger with nothing to
  * check (every watermark no-data trigger) reports zero sig, probe and
  * append time.
  */
final case class GateStageTimings(
    batchId: Long, sigSec: Double, probeSec: Double,
    sinkSec: Double, appendSec: Double, appended: Long)

/** The one streaming gate core: text minhash ([[DedupGate]]), raster
  * dHash ([[PerceptGate]]), embedding cosine ([[EmbedGate]]) and eval
  * span decontamination ([[SpanGate]]) run their foreachBatch bodies
  * ([[gate]]) and the production chain's stages ([[run]]) through it,
  * each supplying only what differs as a [[Check]]. Per trigger:
  *   - the batch plan evaluates ONCE: a tracked checkpoint pins it and
  *     counts the rows to check in the same job — in a stream, the
  *     trigger's one pass over its stateful operators, so their state
  *     commits on every trigger; with nothing to check (every watermark
  *     no-data trigger) no sign, probe or append job runs;
  *   - the rows to check are signed ONCE into a driver-local relation;
  *   - the probe reads only the index rows sharing a bucket key with the
  *     batch ([[IndexProbe.sliceOf]]), runs the gate's [[Probe]], and
  *     brings the flags back to the driver;
  *   - the unflagged signatures append from the driver.
  * Every pinned block frees before the batch returns.
  */
private[streaming] object NearDup {

  /** A gate's verified join: `rest` rows (carrying `at_rest`) colliding
    * with the broadcast batch rows `in` on the gate's bucket key, pairs
    * kept by `keep` (over `rest_id`, `in_id`, `at_rest`), scored and
    * filtered by the gate's own measure. One row per flagged batch id:
    * `(id, dup_of, score)`, the strongest match kept, ties to the lowest
    * rest-side id.
    */
  type Verified = (DataFrame, DataFrame, Column) => DataFrame

  /** The verified join each gate's score plugs into: `rest` and
    * broadcast `batch` rows — ids renamed `rest_id`/`in_id`, each
    * `payload` column prefixed `rest_`/`in_` — colliding on `keys`, kept
    * by `keep`, scored as `score` and filtered by `passes`; per batch id
    * the match of lowest `rank` survives, ties to the lowest rest id.
    */
  def verifiedBy(id: String, keys: Seq[String], payload: Seq[String],
      score: (String, Column), passes: Column, rank: Column)(
      rest: DataFrame, batch: DataFrame, keep: Column): DataFrame = {
    def side(df: DataFrame, prefix: String, extra: Column*): DataFrame =
      df.select(Seq(col(id).as(s"${prefix}_id")) ++ keys.map(col) ++
        payload.map(p => col(p).as(s"${prefix}_$p")) ++ extra: _*)
    side(rest, "rest", col("at_rest")).join(broadcast(side(batch, "in")), keys)
      .filter(keep)
      .withColumn(score._1, score._2)
      .filter(passes)
      .groupBy(col("in_id").as(id))
      .agg(min(struct(rank.as("rank"), col("rest_id").as("dup_of"), col(score._1))).as("best"))
      .select(col(id), col("best.dup_of"), col(s"best.${score._1}"))
  }

  /** Flags of `batch` against `index` only; a re-delivered id never
    * flags against itself.
    */
  def againstIndex(verified: Verified, index: DataFrame, batch: DataFrame): DataFrame =
    verified(index.withColumn("at_rest", lit(true)), batch, col("rest_id") =!= col("in_id"))

  /** Index flags and within-batch flags in ONE verified join over (index
    * ∪ batch): an index row counts against any other id (`rest ≠ in`), a
    * batch row only against a LARGER id (`rest < in`, so near-dup
    * siblings arriving together resolve to the min-id member). In a
    * chain (C≈B≈A, C≉A) a raw `dup_of` may point at a flagged sibling;
    * the gates chase it to the survivor via [[Survivors.chase]].
    */
  def combined(verified: Verified, index: DataFrame, batch: DataFrame): DataFrame =
    verified(
      index.withColumn("at_rest", lit(true))
        .unionByName(batch.withColumn("at_rest", lit(false))),
      batch,
      col("rest_id") < col("in_id") || (col("at_rest") && col("rest_id") > col("in_id")))

  /** A gate's probe: `flags` maps the index slice and the driver-local
    * batch signature rows to flag rows, the Long id first, one per
    * flagged id. `chained` when the batch also checks against ITSELF, so
    * a flag's `dup_of` (second column) may point at a flagged sibling and
    * is chased to the survivor on the driver ([[Survivors.chase]]).
    */
  final case class Probe(flags: (DataFrame, DataFrame) => DataFrame, chained: Boolean)

  /** A near-dup gate's probe over its verified score: against the index
    * only, or — `withinBatch` — also against the batch's smaller-id
    * siblings ([[combined]]).
    */
  def verifiedProbe(verified: Verified, withinBatch: Boolean): Probe =
    if (withinBatch) Probe(combined(verified, _, _), chained = true)
    else Probe(againstIndex(verified, _, _), chained = false)

  /** One gate's side of the check, built for one trigger over the
    * batch's session once something is to be checked (each gate's
    * `check` refreshes and validates the index):
    *   - `sign` maps the rows to check to signature rows, the Long id
    *     first, at most `keysPerRow` Long `keyCol` keys per row;
    *   - `literalCap`/`dense` is the probe policy ([[IndexProbe]]);
    *   - `probe` turns the slice and the signatures into flags;
    *   - `append` indexes unflagged signature rows and returns the
    *     number of docs appended.
    */
  final case class Check(
      table: String, keyCol: String, keysPerRow: Int,
      literalCap: Int, dense: IndexProbe.DenseProbePolicy,
      sign: DataFrame => DataFrame, probe: Probe,
      append: (Seq[Row], StructType) => Long)

  /** A check's outcome on the driver: flag rows (chased when the probe
    * is chained), the batch's signature rows, and the stage walls.
    */
  final case class Checked(check: Check, flags: Seq[Row], sigs: Seq[Row],
      sigSchema: StructType, sigSec: Double, probeSec: Double) {
    /** Appends the signatures of the checked rows that did not flag
      * (plus `extra` rows of the same schema); returns the docs appended.
      * With no row left to index the gate's append does not run.
      */
    def append(extra: Seq[Row] = Nil): Long = {
      val flagged = flags.map(_.getLong(0)).toSet
      val rows = sigs.filterNot(r => flagged(r.getLong(0))) ++ extra
      if (rows.isEmpty) 0L else check.append(rows, sigSchema)
    }
  }

  /** The gates' lazy `flagDuplicates` form (plan inspection / one-shot
    * use): `rows` signed, the index sliced by their keys
    * ([[IndexProbe.prunedSlice]] under the gate's policy), probed by a
    * check built against the index only. The signatures evaluate twice
    * (key collect + probe join), bounded by batch size; the gate bodies
    * sign once.
    */
  def flagLazily(c: Check, rows: DataFrame): DataFrame = {
    val signed = c.sign(rows)
    c.probe.flags(IndexProbe.prunedSlice(
      rows.sparkSession, c.table, signed, c.keyCol, c.literalCap, c.dense), signed)
  }

  /** Signs `rows` once, probes: see the object doc. `nRows` is the
    * number of rows to check (the pin's count), which decides whether a
    * gate with a key bound must count its distinct keys before the
    * collect.
    */
  def run(c: Check, rows: DataFrame, nRows: Long): Checked = {
    val s = rows.sparkSession
    val ((sigSchema, sigs), tSig) = timed {
      val signed = c.sign(rows)
      // ≤ keysPerRow keys per row: only a batch that could break the
      // policy's key bound pays an exact count, before any collect
      IndexProbe.keyBound(c.dense, c.literalCap).foreach { case (bound, message) =>
        if (nRows * c.keysPerRow > bound &&
            signed.select(c.keyCol).distinct().limit(bound + 1).count() > bound)
          throw new IllegalArgumentException(message)
      }
      (signed.schema, signed.collect().toSeq)
    }
    val (flags, tProbe) = timed {
      val k = sigSchema.fieldIndex(c.keyCol)
      val keys = sigs.filterNot(_.isNullAt(k)).map(_.getLong(k)).distinct
      if (keys.isEmpty) Nil
      else {
        val slice = IndexProbe.sliceOf(s, c.table, c.keyCol, keys, c.literalCap, c.dense,
          s.createDataFrame(keys.map(Row(_)).asJava,
            StructType(Seq(StructField(c.keyCol, LongType, nullable = false)))))
        val flags = c.probe.flags(slice, s.createDataFrame(sigs.asJava, sigSchema)).collect().toSeq
        if (c.probe.chained) Survivors.chase(flags, 0, 1) else flags
      }
    }
    Checked(c, flags, sigs, sigSchema, tSig, tProbe)
  }

  /** Pins `df` under a tracked localCheckpoint, counting its rows — with
    * `insertsOnly`, its `decision = 'insert'` rows — in the same job.
    */
  def pin(df: DataFrame, insertsOnly: Boolean): (DataFrame, RDD[InternalRow], Long) = {
    val d = if (insertsOnly) df.schema.fieldIndex("decision") else -1
    val insert = UTF8String.fromString("insert")
    GraftShim.localCheckpointTrackedCount(df,
      r => d < 0 || (!r.isNullAt(d) && r.getUTF8String(d) == insert))
  }

  /** `frame` left-joined with the driver-local `flags` rows on the first
    * flag column (the shared id).
    */
  def joinFlags(frame: DataFrame, flags: Seq[Row], flagSchema: StructType): DataFrame =
    frame.join(broadcast(frame.sparkSession.createDataFrame(flags.asJava, flagSchema)),
      Seq(flagSchema.fields(0).name), "left")

  /** The streaming gates' one foreachBatch body: with `decisions`, only
    * `insert` rows are checked; otherwise every row is. `onBatch` gets
    * the pinned rows joined with the flags (`flagSchema`, e.g. `dup_of`
    * and the score; null when unflagged) and finished by `verdict`; the
    * unflagged signatures append after the sink. `check` is built only
    * when something is to be checked — a trigger with nothing to check
    * reads no index and runs no job beyond the pin.
    */
  def gate(check: => Check, flagSchema: StructType, decisions: Boolean,
      verdict: DataFrame => DataFrame, onBatch: (DataFrame, Long) => Unit,
      onTimings: GateStageTimings => Unit)(batch: DataFrame, batchId: Long): Unit = {
    val (rows, rowsRdd, nChecked) = pin(batch, decisions)
    try {
      def sink(flags: Seq[Row]): Double =
        timed(onBatch(verdict(joinFlags(rows, flags, flagSchema)), batchId))._2
      if (nChecked == 0) onTimings(GateStageTimings(batchId, 0.0, 0.0, sink(Nil), 0.0, 0L))
      else {
        val checked = run(check,
          if (decisions) rows.filter(col("decision") === "insert") else rows, nChecked)
        val tSink = sink(checked.flags)
        val (appended, tAppend) = timed(checked.append())
        onTimings(GateStageTimings(
          batchId, checked.sigSec, checked.probeSec, tSink, tAppend, appended))
      }
    } finally GraftShim.releaseCheckpoint(rowsRdd)
  }

  /** Appends the signature rows of ids not already at rest to the banded
    * index `table` (text and raster; the first column is the doc id) —
    * idempotent by id and epoch-guarded ([[IndexTable.guardedAppend]]).
    * The rows are micro-batch scale and on the driver, so the replay
    * check is driver-local rather than [[IndexTable.appendNovel]]'s
    * pinned anti-join: byte-equal duplicate rows drop here (a source
    * that delivers one row twice, or a dual-signed doc whose bands a
    * scrub left untouched, must not index twins), only the batch's ids
    * are read back from the index (a literal filter, no `distinct` or
    * shuffle), and the fresh rows write from the driver in one task (at
    * most one file per bucket). `insertInto` is positional and keeps the
    * table's bucket spec, so `schema` must be the table's column order
    * and probes stay file-pruned after arrival. Returns the docs
    * appended.
    */
  def appendBanded(spark: SparkSession, table: String, rows: Seq[Row], schema: StructType): Long =
    IndexTable.guardedAppend(spark, table) {
      val ids = rows.map(_.getLong(0)).distinct
      val atRest =
        if (ids.isEmpty) Set.empty[Long]
        else spark.table(table).select(schema.fields(0).name)
          .filter(col(schema.fields(0).name).isin(ids: _*))
          .collect().map(_.getLong(0)).toSet
      (ids.count(id => !atRest(id)).toLong, rows.distinct.filterNot(r => atRest(r.getLong(0))))
    } { fresh =>
      spark.createDataFrame(fresh.asJava, schema)
        .coalesce(1).write.mode("append").insertInto(table)
    }

  // ---- the banded index of the text and raster gates: build, rebuild, meta ----

  private[streaming] def metaTableFor(table: String): String = table + "_meta"

  /** Builds (overwrites) a banded index from `banded` rows (doc id
    * first), BUCKETED BY `keyCol` so a probe prunes index files, plus its
    * meta table: the gate's `geometry`, persisted so an index written
    * under another geometry fails validation instead of silently mixing
    * layouts, and `base_n`, the doc count written. Built through
    * [[IndexTable.replace]].
    */
  def writeBanded(spark: SparkSession, banded: DataFrame, table: String, keyCol: String,
      nBuckets: Int, geometry: Seq[(String, Int)]): Unit =
    IndexTable.replace(spark, table, Seq(metaTableFor(table))) {
      banded.write.mode("overwrite").bucketBy(nBuckets, keyCol).sortBy(keyCol)
        .format("parquet").saveAsTable(table)
      val baseN = IndexTable.idCount(spark, table, "doc_id")
      writeMeta(spark, table, geometry, baseN)
      Some(baseN)
    }

  private def stagingTableFor(table: String): String = table + "_rebuild"

  /** In-place rebuild of a banded index FROM ITS OWN ROWS — what a
    * long-running gate runs when its staleness crosses a threshold: the
    * append slivers (up to `nBuckets` small files per append) compact
    * into `nBuckets` sorted files, `nBuckets` may GROW with the corpus
    * (restoring the O(batch × bucket-population) probe bound), `base_n`
    * resets, and the epoch bumps as in [[writeBanded]]. Spark cannot
    * overwrite a table from a plan that reads it, so the rows are written
    * ONCE, into `<table>_rebuild`, by one task per slot; then the table
    * drops and the staging table is renamed into its place
    * ([[finishRebuild]]: the session catalog renames the directory,
    * nothing is rewritten). `base_n` is
    * the epoch's id record ([[IndexTable.recordedIds]]; the staged ids
    * are the table's), counted from the staging table only without one.
    *
    * A crash before the drop leaves the table whole (the next rebuild
    * overwrites the stale staging); a crash between the drop and the
    * rename leaves no table and a complete staging table — a catalog
    * entry only appears once its rows are written — and the next gate
    * check or rebuild ([[validateGeometry]]) finishes the rename. Callers
    * validate the geometry first, so an interrupted swap completes before
    * the table is read. A check that finishes a swap takes the rebuild
    * that began it for dead: the gate and its rebuild are one sequential
    * maintainer, as for the appends, and never run at once.
    * `failAfterPhase` is a test seam: a crash after phase 1 (staged,
    * table untouched) or phase 2 (table dropped, staging not yet
    * renamed).
    */
  def rebuildBanded(spark: SparkSession, table: String, keyCol: String,
      nBuckets: Int, geometry: Seq[(String, Int)], failAfterPhase: Int = Int.MaxValue): Unit = {
    spark.catalog.refreshTable(table)
    val staging = stagingTableFor(table)
    IndexTable.clearStaleLocation(spark, staging)
    // the bucketed scan hands each task whole buckets; coalescing them to
    // one task per slot keeps one file per target bucket when the bucket
    // count holds, at a slot's worth of tasks instead of one per bucket
    spark.table(table).coalesce(spark.sparkContext.defaultParallelism).write.mode("overwrite")
      .bucketBy(nBuckets, keyCol).sortBy(keyCol).format("parquet").saveAsTable(staging)
    if (failAfterPhase <= 1) sys.error("injected crash after phase 1 (staged, table untouched)")
    spark.sql(s"DROP TABLE $table")
    if (failAfterPhase <= 2) sys.error("injected crash after phase 2 (dropped, not renamed)")
    finishRebuild(spark, table, geometry)
  }

  /** The swap of [[rebuildBanded]], and its recovery: when `table` is
    * gone and its staging table is present, renames the staging table
    * into place, writes the meta with `base_n` = the ids at rest, and
    * bumps the epoch with that count recorded ([[IndexTable.replace]]).
    * A no-op while the table exists — one catalog lookup, no job.
    */
  private def finishRebuild(spark: SparkSession, table: String,
      geometry: Seq[(String, Int)]): Unit = {
    val staging = stagingTableFor(table)
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(staging)) {
      IndexTable.replace(spark, table, Nil) {
        val baseN = IndexTable.recordedIds(spark, table)
          .getOrElse(IndexTable.idCount(spark, staging, "doc_id"))
        spark.sql(s"ALTER TABLE $staging RENAME TO $table")
        writeMeta(spark, table, geometry, baseN)
        Some(baseN)
      }
      spark.catalog.refreshTable(table)
    }
  }

  private def writeMeta(spark: SparkSession, table: String,
      geometry: Seq[(String, Int)], baseN: Long): Unit =
    spark.createDataFrame(Seq(Row.fromSeq(geometry.map(_._2) :+ baseN)).asJava,
      StructType(geometry.map(g => StructField(g._1, IntegerType, nullable = false)) :+
        StructField("base_n", LongType, nullable = false)))
      .write.mode("overwrite").format("parquet").saveAsTable(metaTableFor(table))

  /** The meta row (geometry, then `base_n`); None without a meta table.
    * Refreshed first: appends and rebuilds land through OTHER sessions
    * (the micro-batch clone, a driver-side maintainer), and a stale
    * cached file list would serve replaced meta files — FILE_NOT_EXIST
    * on the next batch.
    */
  def loadMeta(spark: SparkSession, table: String): Option[Row] =
    if (!spark.catalog.tableExists(metaTableFor(table))) None
    else {
      spark.catalog.refreshTable(metaTableFor(table))
      spark.table(metaTableFor(table)).collect().headOption
    }

  /** Fails unless the index's meta carries this build's `geometry`;
    * `rebuildWith` names the gate's build call. A rebuild interrupted
    * between its drop and its rename is finished first.
    */
  def validateGeometry(spark: SparkSession, table: String,
      geometry: Seq[(String, Int)], rebuildWith: String): Unit = {
    finishRebuild(spark, table, geometry)
    loadMeta(spark, table) match {
      case Some(r) =>
        val found = geometry.indices.map(r.getInt)
        require(found == geometry.map(_._2),
          s"index $table was built with geometry (${found.mkString(", ")}), this build " +
            s"expects (${geometry.map(_._2).mkString(", ")}) — mixed geometries corrupt " +
            s"the probe; rebuild with $rebuildWith")
      case None =>
        throw new IllegalStateException(
          s"index $table has no meta row; rebuild with $rebuildWith")
    }
  }
}
