package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` Spark internals, the conventional
  * extension-library pattern: Column <-> catalyst Expression conversion and
  * session-local SQL function registration for custom expressions.
  */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Registers `name` as a temp SQL function backed by `builder`, so the
    * expression is usable from spark.sql / selectExpr strings too.
    */
  def register(spark: SparkSession, name: String, builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "builtin")

  /** The EXACT managed location `saveAsTable(table)` would create for
    * `table` in the session's CURRENT database — delegates to the
    * catalog's own path derivation instead of hand-building
    * `warehouse/<name>`, which diverges under a non-default database.
    */
  def defaultTablePath(spark: SparkSession, table: String): java.net.URI =
    spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(table))

  /** `df` with the bucket spec dropped from every file relation it
    * reads: the scan packs the files into split-sized tasks instead of
    * running one task per bucket, and offers no bucket pruning and no
    * bucketed distribution — for a read that needs neither.
    */
  def withoutBuckets(df: DataFrame): DataFrame = {
    import execution.datasources.{HadoopFsRelation, LogicalRelation}
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session, df.queryExecution.analyzed.transform {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation if r.bucketSpec.isDefined =>
          l.copy(relation = r.copy(bucketSpec = None)(r.sparkSession))
        case _ => l
      }
    })
  }

  /** Eager localCheckpoint that also returns the EXACT checkpointed RDD
    * handle, so iterative callers can `unpersist` a superseded
    * generation's blocks deterministically — `Dataset.localCheckpoint`
    * offers no handle, and diffing the context-global persistent-RDD
    * registry would mis-attribute a concurrent job's RDDs. Mirrors the
    * Dataset.checkpoint internals: `toRdd` rows are buffer-reused
    * UnsafeRows, so they MUST be copied before persisting.
    */
  def localCheckpointTracked(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val rdd = df.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    rdd.count() // eager: materialize blocks + truncate lineage now
    (session.internalCreateDataFrame(rdd, df.schema, isStreaming = false), rdd)
  }

  /** [[localCheckpointTracked]] whose materializing job ALSO folds a
    * per-row predicate count — iterative callers (the connected-components
    * loop) fuse their convergence count into the checkpoint
    * materialization, so each round costs ONE job instead of a
    * materialize job plus a separate count job over the new blocks.
    * The predicate sees the checkpointed row (post-copy), so ordinals
    * match `df.schema`.
    */
  def localCheckpointTrackedCount(df: DataFrame, pred: InternalRow => Boolean)
      : (DataFrame, RDD[InternalRow], Long) = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val rdd = df.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    // runJob materializes the marked blocks (doCheckpoint runs at job end)
    // while each task folds the predicate count over its partition
    val counts = session.sparkContext.runJob(rdd, countFold(pred))
    (session.internalCreateDataFrame(rdd, df.schema, isStreaming = false), rdd, counts.sum)
  }

  /** RELIABLE sibling of [[localCheckpointTrackedCount]] — see
    * [[reliableCheckpointTracked]] for the storage contract.
    */
  def reliableCheckpointTrackedCount(df: DataFrame, pred: InternalRow => Boolean)
      : (DataFrame, RDD[InternalRow], Long) = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    require(session.sparkContext.getCheckpointDir.isDefined,
      "reliable checkpointing needs sparkContext.setCheckpointDir(<replicated storage>) first")
    val rdd = df.queryExecution.toRdd.map(_.copy())
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rdd.checkpoint()
    val counts = session.sparkContext.runJob(rdd, countFold(pred))
    (session.internalCreateDataFrame(rdd, df.schema, isStreaming = false), rdd, counts.sum)
  }

  /** [[localCheckpointTracked]] run as the named SQL execution `name` —
    * query-execution listeners and the SQL UI see the plan it reads, as
    * for any Dataset action — whose materializing job also counts the
    * DISTINCT values of the long column at `ordinal` (null counts as one
    * value). Each task ships its partition's distinct values to the
    * driver, so the fold is sized by the rows pinned: meant for
    * micro-batch-scale frames.
    */
  def localCheckpointTrackedDistinct(df: DataFrame, ordinal: Int, name: String)
      : (DataFrame, RDD[InternalRow], Long) = {
    import org.apache.spark.util.collection.OpenHashSet
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = df.queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some(name)) {
      val rdd = qe.toRdd.map(_.copy())
      rdd.localCheckpoint()
      val parts = session.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
        val ids = new OpenHashSet[Long]
        var sawNull = false
        it.foreach(r => if (r.isNullAt(ordinal)) sawNull = true else ids.add(r.getLong(ordinal)))
        (ids.iterator.toArray, sawNull)
      })
      val ids = new OpenHashSet[Long]
      parts.foreach(_._1.foreach(ids.add))
      val n = ids.size.toLong + (if (parts.exists(_._2)) 1L else 0L)
      (session.internalCreateDataFrame(rdd, df.schema, isStreaming = false), rdd, n)
    }
  }

  private def countFold(pred: InternalRow => Boolean): Iterator[InternalRow] => Long =
    it => {
      var n = 0L
      while (it.hasNext) { if (pred(it.next())) n += 1L }
      n
    }

  /** RELIABLE sibling of [[localCheckpointTracked]]: blocks are persisted
    * for the iterative reads AND written to the context's checkpoint
    * directory, so an executor loss mid-iteration recomputes from
    * replicated storage instead of killing the job (`localCheckpoint`
    * stores raw blocks with no replication and truncates lineage — its
    * documented fault-tolerance gap). The RDD is persisted BEFORE the
    * materializing count so the end-of-job checkpoint write reads the
    * cached blocks rather than recomputing the whole subtree.
    */
  def reliableCheckpointTracked(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    require(session.sparkContext.getCheckpointDir.isDefined,
      "reliable checkpointing needs sparkContext.setCheckpointDir(<replicated storage>) first")
    val rdd = df.queryExecution.toRdd.map(_.copy())
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rdd.checkpoint()
    rdd.count() // eager: materialize + write the reliable checkpoint now
    (session.internalCreateDataFrame(rdd, df.schema, isStreaming = false), rdd)
  }

  /** Frees everything a tracked checkpoint holds: the executor blocks,
    * and (reliable mode) the checkpoint files — ContextCleaner would
    * otherwise delete neither until driver GC / app end.
    */
  def releaseCheckpoint(rdd: RDD[_]): Unit = {
    rdd.getCheckpointFile.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(p, true)
    }
    rdd.unpersist(blocking = false)
  }
}
