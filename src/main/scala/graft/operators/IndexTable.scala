package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions.col

/** The persisted-index protocol, the one module every index family
  * (the banded text and raster indexes, the eval-gram index, the LSH,
  * IVF, PQ and IVF-PQ indexes, the char-LM artifact) builds, measures
  * and appends through. A family keeps only its own encoding and
  * geometry; what is written here is the same for all of them:
  *
  *  - an index is a table plus side tables (`_meta`, `_codebook`,
  *    `_books`, `_emb`, `_ctx`) and an epoch fence (marker files in a
  *    directory beside the table, `<location>.epoch`);
  *  - [[replace]] builds it: stale locations cleared, the family's
  *    writes, then an unconditional epoch bump — the build owns the
  *    index, so any appender that began before it fails its own commit
  *    instead of appending rows signed under replaced geometry;
  *  - [[staleness]] is the rebuild signal: the fraction of distinct ids
  *    at rest beyond the `base_n` the build recorded, which every build
  *    counts from the rows it wrote ([[idCount]]), never from its input;
  *  - [[appendNovel]] is the replay-safe append.
  *
  * ID RECORD. Each time the epoch moves, the distinct ids at rest ride
  * it: the new marker's content is that count (decimal digits and a
  * newline), so [[staleness]] reads one small file instead of scanning
  * the index. [[replace]] records the count its family's build already
  * took; [[guardedAppend]] (and [[appendNovel]] through it) records the
  * prior count plus the novel ids it computed, after the data lands and
  * only when it won the bump. A record that is missing or unreadable —
  * a legacy index, a crash between the bump and the record, a purge
  * ([[IndexPurge]] bumps without one), an id-less artifact — makes
  * [[recordedIds]] None, and [[staleness]] falls back to the
  * [[idCount]] scan, which gives the same answer. The record is only as
  * true as the single-maintainer contract below: a row written to the
  * table outside this module (a direct `insertInto`, a drop and
  * re-create by hand) leaves the record describing rows that are no
  * longer there.
  *
  * EPOCH GUARD. A monotonic epoch, read at the START of an append's
  * read-compute-write span and CHECK-AND-BUMPED immediately before the
  * data write. Every append path has a single-sequential-maintainer
  * contract: the idempotence anti-joins read the at-rest identity set,
  * so two appenders interleaving the same span can each pass the check
  * and land duplicate rows — duplicate probe candidates that silently
  * skew TopK and staleness. The guard makes that contract violation
  * LOUD: the second writer's bump observes the first writer's bump (its
  * snapshot epoch is stale) and throws BEFORE writing any data, leaving
  * the index exactly as the first writer committed it.
  *
  * The epoch is the highest numeric name among the marker files in
  * `<location>.epoch`, the index's default location plus an `.epoch`
  * suffix (0 without a marker). A read is one directory listing and a
  * bump one exclusive create plus one delete, so neither runs a Spark
  * job. The bump creates marker `expected + 1` exclusively:
  * on HDFS and the local file system that create is atomic, so two
  * bumpers starting from the same epoch cannot both win — the loser
  * throws with nothing written. An object store without an atomic
  * exclusive create keeps the weaker contract: a violation is detected
  * loudly when the spans overlap a bump, not prevented. The directory
  * sits BESIDE the index, never inside it: a rebuild's overwrite (or a
  * DROP TABLE) deletes the table directory, and an epoch kept there
  * would restart at 0 and let a stale appender's check pass again. It
  * is not a catalog table, so [[clearStaleLocation]] never clears it.
  *
  * Residual window (documented, not hidden): a writer that BEGINS after
  * another's bump but before its data write becomes visible can still
  * compute a stale anti-join — detection covers spans that overlap a
  * bump, which is every interleaving longer than the sub-second
  * bump-to-write gap. True concurrent maintenance needs a transactional
  * table format (SURVEY §2's FileSink note); until then the contract
  * stays single-maintainer and this guard converts violations from
  * silent corruption to a loud, data-less failure. A legacy index (no
  * marker yet; an `<index>_epoch` parquet table of an older layout is
  * ignored) reads as epoch 0 and gains a marker on its first guarded
  * write.
  *
  * REPLAY SAFETY. foreachBatch is at-least-once: a micro-batch replayed
  * after a failure re-delivers rows whose previous append DID commit.
  * The family's id column is the index's identity, so idempotence is an
  * anti-join against the at-rest ids: replayed rows vanish, genuinely
  * new ones append. Parquet appends commit atomically per job, so
  * probe-the-ids-then-insert composes to exactly-once for one sequential
  * maintainer. Cost is one scan of the index's id column per append —
  * the price of idempotence on a plain parquet table (a transactional
  * format would key a MERGE on the id instead); the at-rest side takes
  * no `distinct`, which would shuffle the whole index every batch.
  *
  * STALE RELATION CACHE. Under foreachBatch an insert executes through
  * the micro-batch CLONE session, which invalidates only the clone's
  * table-relation cache: the caller session's file listing goes stale,
  * and a stale id list would silently re-append a prior batch's rows.
  * The table is refreshed before the identity read and after the write.
  *
  * WITHIN-BATCH DEDUP. An id delivered TWICE within one batch (source
  * re-emission) passes the at-rest anti-join twice, so within-batch
  * identity needs its own dedup. It is the family's: a family with one
  * index row per id passes one row per id (the first occurrence wins,
  * arbitrary among conflicting payloads — a malformed input); a family
  * whose id owns a row group (the eval-gram sites of one eval doc)
  * passes the group, which one job writes, so the anti-join keeps or
  * drops it whole.
  *
  * SINGLE SESSION. [[ensure]] and [[clearStaleLocation]] check, delete
  * and build without atomicity: two sessions sharing one warehouse
  * directory can race, one deleting the location the other is building
  * or reading. Index tables are session-owned derived state here; a
  * shared-metastore deployment needs an external build lock.
  */
object IndexTable {

  /** The marker directory of `table`'s epoch: beside the table's
    * default location, so a rebuild or DROP TABLE of the index keeps it.
    */
  private[graft] def epochDir(spark: SparkSession, table: String): Path = {
    val loc = new Path(GraftShim.defaultTablePath(spark, table))
    new Path(loc.getParent, loc.getName + ".epoch")
  }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The index's current epoch: the highest marker, 0 without one (a
    * legacy index). One directory listing, no Spark job.
    */
  def current(spark: SparkSession, table: String): Long = {
    val dir = epochDir(spark, table)
    val names =
      try fsOf(spark, dir).listStatus(dir).map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Array.empty[String] }
    names.flatMap(_.toLongOption).foldLeft(0L)(math.max)
  }

  /** Check-and-bump: requires the epoch is still `expected` (the value
    * read when the caller's read-compute-write span began) and advances
    * it by creating marker `expected + 1` exclusively. Throws
    * [[java.util.ConcurrentModificationException]] — with no data
    * written by the caller — if another writer bumped in between, or
    * won the exclusive create from the same epoch.
    */
  def bump(spark: SparkSession, table: String, expected: Long): Unit =
    bump(spark, table, expected, () => ())

  /** [[bump]] with a test seam: `beforeClaim` runs between the check and
    * the exclusive create, where a racing bumper would interleave.
    */
  private[graft] def bump(spark: SparkSession, table: String, expected: Long,
      beforeClaim: () => Unit): Unit = {
    def moved(now: Long) = new java.util.ConcurrentModificationException(
      s"index $table epoch moved $expected -> $now during this append's " +
        "read-compute-write span: another maintainer (append or rebuild) committed in " +
        "between, so this append's idempotence anti-join and geometry validation are " +
        "stale. Nothing was written. The index supports ONE sequential maintainer — " +
        "serialize appends, or rebuild if a concurrent write already landed.")
    val now = current(spark, table)
    if (now != expected) throw moved(now)
    beforeClaim()
    val dir = epochDir(spark, table)
    val fs = fsOf(spark, dir)
    fs.mkdirs(dir)
    if (!createExclusive(fs, marker(spark, table, expected + 1)))
      throw moved(current(spark, table))
    fs.delete(marker(spark, table, expected), false)
  }

  private def marker(spark: SparkSession, table: String, epoch: Long): Path =
    new Path(epochDir(spark, table), epoch.toString)

  /** Creates the empty file `p`, false if it exists. The local file
    * system goes through `Files.createFile` (O_CREAT|O_EXCL): Hadoop's
    * local `createNewFile` checks existence and then creates, which two
    * processes can both pass. Elsewhere `createNewFile`, whose create is
    * exclusive on HDFS.
    */
  private def createExclusive(fs: FileSystem, p: Path): Boolean =
    try fs match {
      case local: LocalFileSystem =>
        java.nio.file.Files.createFile(local.pathToFile(p).toPath)
        true
      case _ => fs.createNewFile(p)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: org.apache.hadoop.fs.FileAlreadyExistsException => false
    }

  /** Unconditional bump for REBUILDS (overwrite paths own the index by
    * contract): any in-flight appender that began before the rebuild
    * fails its own commit instead of appending under dead geometry.
    * Returns the new epoch.
    */
  def bumpUnconditional(spark: SparkSession, table: String): Long = {
    val epoch = current(spark, table)
    bump(spark, table, epoch)
    epoch + 1
  }

  /** The distinct ids at rest recorded with `table`'s current epoch;
    * None without a readable record (see the object doc), when only the
    * [[idCount]] scan can tell. One listing and one small read, no Spark
    * job.
    */
  def recordedIds(spark: SparkSession, table: String): Option[Long] =
    recordedIds(spark, table, current(spark, table))

  private def recordedIds(spark: SparkSession, table: String, epoch: Long): Option[Long] = {
    val p = marker(spark, table, epoch)
    val text =
      try Some(fsOf(spark, p) match {
        case local: LocalFileSystem =>
          new String(java.nio.file.Files.readAllBytes(local.pathToFile(p).toPath), UTF_8)
        case fs =>
          val in = fs.open(p)
          try new String(in.readAllBytes(), UTF_8) finally in.close()
      }) catch { case _: java.io.IOException => None }
    // a record cut short by a crash lacks its newline
    text.filter(_.endsWith("\n")).flatMap(_.dropRight(1).toLongOption).filter(_ >= 0)
  }

  /** Writes `ids` into the marker of `epoch`, which the caller's bump
    * created; a marker a later bump already deleted is not re-created.
    */
  private def record(spark: SparkSession, table: String, epoch: Long, ids: Long): Unit = {
    val p = marker(spark, table, epoch)
    val bytes = s"$ids\n".getBytes(UTF_8)
    fsOf(spark, p) match {
      case local: LocalFileSystem =>
        try java.nio.file.Files.write(local.pathToFile(p).toPath, bytes,
          java.nio.file.StandardOpenOption.WRITE,
          java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
        catch { case _: java.nio.file.NoSuchFileException => () }
      case fs =>
        if (fs.exists(p)) {
          val out = fs.create(p, true)
          try out.write(bytes) finally out.close()
        }
    }
  }

  /** Deletes the managed location `saveAsTable(table)` would create when
    * the catalog has NO entry for `table` but a previous JVM left the
    * directory behind (Spark refuses to CREATE over it). The path is the
    * EXACT location the session catalog derives (honoring the current
    * database), and it is a derived table, regenerated from its inputs.
    */
  private[graft] def clearStaleLocation(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table)) {
      val loc = new Path(GraftShim.defaultTablePath(spark, table))
      val fs = fsOf(spark, loc)
      if (fs.exists(loc)) fs.delete(loc, true)
    }

  /** Runs `build` unless `table` already exists in the session catalog,
    * clearing a previous JVM's stale location first.
    */
  def ensure(spark: SparkSession, table: String)(build: => Unit): Unit =
    if (!spark.catalog.tableExists(table)) {
      clearStaleLocation(spark, table)
      build
    }

  /** Builds (overwrites) `table` and its `sides`: clears their stale
    * locations, runs the family's `write`, then bumps the epoch
    * unconditionally — after the data lands, so an epoch a reader
    * observes always points at the new rows — and records with it the
    * distinct ids `write` returns (the `base_n` its family counted; None
    * for an artifact without ids).
    */
  def replace(spark: SparkSession, table: String, sides: Seq[String])(
      write: => Option[Long]): Unit = {
    (table +: sides).foreach(clearStaleLocation(spark, _))
    val ids = write
    val epoch = bumpUnconditional(spark, table)
    ids.foreach(record(spark, table, epoch, _))
  }

  /** Distinct ids at rest in `table` — the `base_n` a build records and
    * the numerator of [[staleness]].
    */
  def idCount(spark: SparkSession, table: String, idCol: String): Long =
    spark.table(table).select(idCol).distinct().count()

  /** Fraction of `table`'s distinct ids added since the build recorded
    * `baseN`: 0 right after a build, the rebuild signal for every frozen
    * geometry or quantizer. 1.0 without a baseline (no meta, or an empty
    * build): unconditionally stale. The ids at rest come from the epoch's
    * record ([[recordedIds]]), or from an [[idCount]] scan without one.
    */
  def staleness(spark: SparkSession, table: String, idCol: String, baseN: Option[Long]): Double =
    baseN match {
      case Some(base) if base > 0 =>
        val ids = recordedIds(spark, table).getOrElse {
          spark.catalog.refreshTable(table) // appends land via the clone session
          idCount(spark, table, idCol)
        }
        math.max(0.0, (ids - base).toDouble / base)
      case _ => 1.0
    }

  /** One epoch-guarded append span: the span starts (or inherits
    * `beganEpoch`, for a caller whose own reads began earlier) BEFORE
    * `novel` reads the at-rest ids; `novel` returns how many ids are new
    * and what `write` needs to land them. Only with a nonzero count is
    * the epoch checked-and-bumped, `write` run, the ids at rest recorded
    * (the span's record plus the count, when the span's epoch had one)
    * and the table refreshed. Returns the count.
    */
  def guardedAppend[A](spark: SparkSession, table: String, beganEpoch: Option[Long] = None)(
      novel: => (Long, A))(write: A => Unit): Long = {
    val epoch = beganEpoch.getOrElse(current(spark, table))
    val (n, fresh) = novel
    if (n > 0) {
      val prior = recordedIds(spark, table, epoch) // the bump deletes its marker
      bump(spark, table, epoch)
      write(fresh)
      prior.foreach(ids => record(spark, table, epoch + 1, ids + n))
      spark.catalog.refreshTable(table)
    }
    n
  }

  /** The replay-safe append: the `rows` whose `idCol` (a bigint) is not
    * yet at rest are pinned once, and their distinct ids counted in the same job;
    * with a nonzero count the epoch is checked-and-bumped and the
    * family's `write` (encode, then `insertInto`, which is positional:
    * the pinned rows keep `rows`' column order) lands them. A fully
    * replayed batch bumps nothing and writes nothing. Returns the ids
    * appended.
    */
  def appendNovel(spark: SparkSession, table: String, idCol: String, rows: DataFrame,
      beganEpoch: Option[Long] = None)(write: DataFrame => Unit): Long = {
    spark.catalog.refreshTable(table)
    var pinned: Option[org.apache.spark.rdd.RDD[_]] = None
    try guardedAppend(spark, table, beganEpoch) {
      val atRest = spark.table(table).select(col(idCol).as("at_rest_id"))
      val (fresh, rdd, n) = GraftShim.localCheckpointTrackedDistinct(
        rows.join(atRest, col(idCol) === col("at_rest_id"), "left_anti"),
        rows.schema.fieldIndex(idCol), "appendNovel")
      pinned = Some(rdd)
      (n, fresh)
    }(write)
    finally pinned.foreach(GraftShim.releaseCheckpoint)
  }
}
