package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.{broadcast, col}

/** Right-to-be-forgotten over the persisted artifacts: delete every row
  * belonging to a set of identities from an index/code table, preserving
  * its at-rest layout, under the same single-maintainer epoch discipline
  * as the append paths.
  *
  * A training-data pipeline that persists derived artifacts — near-dup
  * signature indexes ([[graft.streaming.DedupGate]], `doc_id`), winnowed
  * eval-span indexes ([[graft.streaming.SpanGate]], `eval_doc`), ANN
  * bucket/cell/code tables ([[VectorOps]], `vec_id`) — cannot honor a
  * deletion request by dropping the source document alone: the artifacts
  * keep hashes, n-gram sites, and quantized codes derived from the
  * deleted content, and the ANN tables can keep serving the deleted
  * vector as a nearest neighbor. Purge is the lifecycle complement of
  * the idempotent appends. The CONTENT store purges through
  * [[graft.streaming.FileSink.purgeUuids]].
  *
  * Mechanics (plain parquet — no transactional format in this
  * container, see the FileSink port note in SURVEY §2):
  *   - the survivor set stages through `<table>_purge`, then the epoch
  *     check-and-bumps (the serialization point — a conflict discards
  *     only the stale staging), then a 1-row MARKER table
  *     (`<table>_purge_commit`) publishes the intent, then the staging
  *     writes back and the marker and staging drop — the FileSink
  *     manifest discipline adapted to catalog tables. Every crash point
  *     recovers at the next purge entry ([[recover]], which runs BEFORE
  *     any existence check so a table that died mid-overwrite is
  *     restorable): marker present → roll FORWARD (rewrite the live
  *     table from staging — idempotent); staging without marker → roll
  *     BACK (the live table was never touched). The claim-before-marker
  *     order is load-bearing: marker ⟺ the epoch is owned, so recovery
  *     can never roll a survivor set forward over rows a concurrent
  *     maintainer committed during the crashed purge's span. Without
  *     the marker, a crash inside the non-atomic
  *     `saveAsTable(overwrite)` write-back would leave the index
  *     dropped or half-written with the survivors stranded in an
  *     undocumented staging table;
  *   - recovery MUST run before other maintenance resumes (it is the
  *     same single-sequential-maintainer contract every append path
  *     documents): a roll-forward replays the staged survivor set, so
  *     an append that landed between the crash and the recovery would
  *     be lost — the epoch fence makes that ordering violation loud at
  *     the appender's own commit, not silent;
  *   - the table's BUCKETING layout is read from the catalog and
  *     re-applied verbatim — a purge must not silently flatten the
  *     bucket-pruned probe shape the index was built for — and columns
  *     re-select in table order (a `Seq`-based join moves the join key
  *     to column 0);
  *   - ids ride a broadcast anti-join, never an `isin` literal tree
  *     (the plan-scale trap measured on the span-gate probe);
  *   - a purge interleaving another maintainer fails LOUDLY at the
  *     epoch check with the live table untouched ([[IndexTable]]), and
  *     any in-flight appender that began before the purge fails ITS
  *     commit instead of resurrecting purged rows it had already read.
  *
  * What purge deliberately does NOT touch: meta/books/codebook side
  * tables (geometry and quantizers are corpus-level artifacts, not
  * per-doc data — frozen books legitimately outlive any document), and
  * staleness counters (`base_n`) — [[graft.streaming.DedupGate
  * .sigIndexStaleness]] clamps at 0, so a purge under-reads staleness
  * until appends pass the old base; a maintainer whose cumulative purges
  * are material should rebuild, which resets the counter. Nor does it
  * record the ids at rest with its epoch ([[IndexTable]]'s id record):
  * the marker its bump creates stays empty, so the next staleness read
  * scans the index ([[IndexTable.recordedIds]] is None), and appends
  * after it record nothing until the next build. A purge is rare, and
  * one scan after it is simpler than carrying a count through the
  * roll-forward recovery.
  *
  * A purge of ZERO matching rows is a no-op: nothing rewrites, the epoch
  * does not move — so re-issuing a deletion request (the at-least-once
  * delivery every deletion queue has) is idempotent and cheap.
  */
object IndexPurge {

  private[graft] def stagingTableFor(table: String): String = table + "_purge"
  private[graft] def markerTableFor(table: String): String = table + "_purge_commit"

  /** Deletes `ids` (matched on `idCol`) from `table`. Returns the number
    * of rows removed.
    */
  def purge(spark: SparkSession, table: String, idCol: String, ids: Seq[Long]): Long =
    purge(spark, table, idCol, ids, failAfterPhase = Int.MaxValue)

  /** Test seam: `failAfterPhase` injects a crash after phase 1 (staging
    * written, epoch not yet claimed — recovery must roll BACK) or
    * phase 2 (epoch claimed and marker committed, live table untouched —
    * recovery must roll FORWARD). Production callers use the public
    * overload.
    */
  private[graft] def purge(spark: SparkSession, table: String, idCol: String,
      ids: Seq[Long], failAfterPhase: Int): Long = {
    require(ids.nonEmpty, "purge requires at least one id")
    // recovery FIRST: a crash inside the final overwrite leaves the live
    // table dropped or partial — a tableExists check before the
    // roll-forward would wedge every subsequent purge on exactly the
    // crash the marker exists to heal
    recover(spark, table)
    require(spark.catalog.tableExists(table), s"no such table: $table")
    spark.catalog.refreshTable(table)
    val base = spark.table(table)
    require(base.columns.contains(idCol),
      s"$table has no column $idCol (columns: ${base.columns.mkString(", ")})")

    val epoch0 = IndexTable.current(spark, table)
    val idsDf = spark.createDataFrame(ids.distinct.map(Tuple1(_))).toDF(idCol)
    val removed = base.join(broadcast(idsDf), Seq(idCol), "left_semi").count()
    if (removed == 0L) return 0L

    val order = base.columns.toSeq
    val kept = base.join(broadcast(idsDf), Seq(idCol), "left_anti")
      .select(order.map(col): _*)

    // phase 1: survivors staged — live table untouched
    val staging = stagingTableFor(table)
    IndexTable.clearStaleLocation(spark, staging)
    writeLike(spark, table, kept, staging)
    if (failAfterPhase <= 1) sys.error("injected crash after phase 1 (staging, pre-commit)")
    // serialization point BEFORE the commit marker: a concurrent
    // maintainer moving the epoch during our read-stage span fails here
    // with only the (stale) staging to discard — and because the marker
    // can only exist AFTER a successful claim, recovery's roll-forward
    // can never replay a survivor set that lost a race (the
    // marker-then-bump order would let a crash in between roll a stale
    // set over the other maintainer's committed rows, silently)
    try IndexTable.bump(spark, table, epoch0)
    catch {
      case e: java.util.ConcurrentModificationException =>
        spark.sql(s"DROP TABLE IF EXISTS $staging")
        throw e
    }
    // phase 2: commit point — marker present ⟺ the epoch is OURS and the
    // staged set is the one true next state; recovery rolls it forward.
    // The marker RECORDS the claimed epoch: recovery compares it to the
    // live epoch, so an append that committed between a crash and the
    // recovery (legal — it read the post-claim epoch and bumped past it)
    // rolls the now-stale staging BACK instead of silently erasing the
    // appended rows under the roll-forward
    IndexTable.clearStaleLocation(spark, markerTableFor(table))
    spark.createDataFrame(Seq((removed, epoch0 + 1))).toDF("removed", "epoch")
      .write.mode("overwrite").format("parquet").saveAsTable(markerTableFor(table))
    if (failAfterPhase <= 2) sys.error("injected crash after phase 2 (committed, unswapped)")
    writeLike(spark, staging, spark.table(staging), table)
    spark.sql(s"DROP TABLE IF EXISTS ${markerTableFor(table)}")
    spark.sql(s"DROP TABLE IF EXISTS $staging")
    spark.catalog.refreshTable(table)
    removed
  }

  /** Crash recovery, run at every purge entry (callers may also invoke
    * it directly after a crash, BEFORE resuming appends): a committed
    * marker whose recorded epoch still matches the live epoch rolls the
    * staged survivor set forward (idempotent — and it RESTORES a live
    * table that died mid-overwrite, since the staging carries the full
    * survivor set and layout). If the live epoch has MOVED past the
    * marker's, a maintainer legally committed between the crash and this
    * recovery (it read the post-claim epoch and bumped past it), so the
    * staged set is stale: recovery rolls it BACK — the live table was
    * never touched by the crashed purge (an overwrite only happens after
    * the marker, and an appender could only have committed against an
    * intact table), and the caller re-issues the purge against current
    * rows. An uncommitted staging rolls back likewise; an epoch claim
    * without a marker is only a fence (loud for appenders, no data
    * moved). No epoch bump here: a marker can only exist after the
    * crashed purge's own successful claim.
    */
  def recover(spark: SparkSession, table: String): Unit = {
    val staging = stagingTableFor(table)
    val marker = markerTableFor(table)
    if (spark.catalog.tableExists(marker)) {
      require(spark.catalog.tableExists(staging),
        s"purge marker $marker exists without its staging table $staging — " +
          "manual intervention required (the staged survivor set is gone)")
      spark.catalog.refreshTable(marker)
      // a crash between the marker table's creation and its (non-atomic)
      // content write can leave a committed-but-EMPTY marker — surface
      // that as an actionable state, not a bare NoSuchElementException
      val claimed = spark.table(marker).collect().headOption.getOrElse(
        throw new IllegalStateException(
          s"purge marker $marker exists but is EMPTY (crash mid-marker-write) — " +
            s"the claim epoch is unrecoverable from it; inspect $staging vs $table " +
            "manually, then drop the marker (and staging if stale) to re-arm purge"))
        .getLong(1)
      if (IndexTable.current(spark, table) == claimed) {
        spark.catalog.refreshTable(staging)
        writeLike(spark, staging, spark.table(staging), table)
      } else {
        // stale staging: someone committed after the crash; the live
        // table must be intact for that commit to have happened at all
        require(spark.catalog.tableExists(table),
          s"purge marker for $table is stale (epoch moved past ${claimed}) AND the " +
            "live table is missing — manual intervention required")
      }
      spark.sql(s"DROP TABLE IF EXISTS $marker")
      spark.sql(s"DROP TABLE IF EXISTS $staging")
      if (spark.catalog.tableExists(table)) spark.catalog.refreshTable(table)
    } else if (spark.catalog.tableExists(staging)) {
      spark.sql(s"DROP TABLE IF EXISTS $staging")
    }
  }

  /** Writes `df` as `target` carrying `layoutOf`'s catalog bucket spec —
    * the layout rides the STAGING table too, so a roll-forward recovery
    * can restore it even when the live table died mid-overwrite.
    */
  private def writeLike(spark: SparkSession, layoutOf: String,
      df: DataFrame, target: String): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(layoutOf))
    var w = df.write.mode("overwrite").format("parquet")
    meta.bucketSpec.foreach { bs =>
      w = w.bucketBy(bs.numBuckets, bs.bucketColumnNames.head, bs.bucketColumnNames.tail: _*)
      if (bs.sortColumnNames.nonEmpty)
        w = w.sortBy(bs.sortColumnNames.head, bs.sortColumnNames.tail: _*)
    }
    w.saveAsTable(target)
  }
}
