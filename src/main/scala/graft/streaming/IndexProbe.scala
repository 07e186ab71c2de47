package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** THE probe-slice shape shared by every online gate: given a batch's
  * distinct (Long-typed) index keys, slice the persisted index table
  * down to the rows the batch can possibly collide with.
  *
  *   - EMPTY batch → a `limit(0)` slice of the table (never a
  *     hand-built empty schema: downstream flag frames keep the real
  *     column types whatever the corpus keys on, so a sink never sees a
  *     type flip on an intermittently empty micro-batch);
  *   - SPARSE batch (≤ `literalCap` distinct keys) → a literal `isin`
  *     bucket filter, which prunes index FILES under the bucketed
  *     layout (`SelectedBucketsCount` in the plan — BucketingSpec pins
  *     this before and after appends) — unless the keys land in EVERY
  *     bucket of a table bucketed by the key, which no filter can prune:
  *     then the slice is the whole table read UNBUCKETED
  *     ([[GraftShim.withoutBuckets]]), so the scan packs the index files
  *     into split-sized tasks instead of running one task per bucket (what
  *     `autoBucketedScan` would do, were the probe sessions not to turn it
  *     off for the pruning). The bucket ids are computed on
  *     the driver with Spark's own bucket function, bound once; the
  *     planner's bucket-set derivation instead code-generates one
  *     projection PER LITERAL (180–320 ms of planning on a 4-vCPU host
  *     for the ~750 band hashes of a 200-doc text batch, which cover
  *     all 16 buckets). The caller's verified join keys
  *     on the bucket key against a broadcast batch, so the rows a filter
  *     would drop never match and no arm needs the bucketed
  *     distribution; both arms give the same answer, and a wrong bucket
  *     id could only pick the slower one;
  *   - DENSE batch (> `literalCap`) → the gate's declared
  *     [[DenseProbePolicy]], because a many-thousand-literal filter
  *     costs seconds of DRIVER-side analysis/optimizer time per
  *     micro-batch while pruning little once most buckets are touched
  *     (the r15 span-probe lesson, measured at 3.9 s/batch).
  *
  * One implementation instead of four hand-maintained copies
  * ([[DedupGate]]/[[SpanGate]]/[[PerceptGate]]/[[EmbedGate]]) so the
  * next probe lesson lands everywhere at once (r19 verdict task 2);
  * what differs per gate is POLICY, passed in: the literal cap, and
  * what a dense batch means for that key domain.
  */
private[graft] object IndexProbe {

  /** What a probe does when the batch's distinct keys exceed the
    * literal cap — the one place the four gates genuinely differ.
    */
  sealed trait DenseProbePolicy

  /** Fail loudly: the key domain is OPEN (e.g. [[DedupGate]]'s band
    * hashes), so a dense batch means the micro-batch-is-small probe
    * contract is broken and no fallback slice would be cheap — the fix
    * is smaller triggers or the offline path, not a bigger filter.
    */
  final case class FailFast(message: String) extends DenseProbePolicy

  /** Broadcast-semi-join the batch's distinct keys into the scan: legal
    * when the key domain is CLOSED (e.g. [[PerceptGate]]'s 65536-value
    * band keys, [[EmbedGate]]'s 2^nBits buckets), where a dense batch is
    * an expected steady state, not a contract violation.
    */
  case object BroadcastSemiJoin extends DenseProbePolicy

  /** Scan the index plainly up to `hardCap` distinct keys (the caller's
    * downstream broadcast mark join already restricts matched rows —
    * [[SpanGate]]'s shape), failing with `message` above it.
    */
  final case class PlainScanUpTo(hardCap: Int, message: String) extends DenseProbePolicy

  /** The distinct-key bound `dense` enforces, with its failure message:
    * [[FailFast]] at the literal cap, [[PlainScanUpTo]] at its hard cap,
    * [[BroadcastSemiJoin]] none.
    */
  def keyBound(dense: DenseProbePolicy, literalCap: Int): Option[(Int, String)] = dense match {
    case FailFast(msg) => Some((literalCap, msg))
    case PlainScanUpTo(hardCap, msg) => Some((hardCap, msg))
    case BroadcastSemiJoin => None
  }

  /** A gate's probe-literal bound from session conf (`confKey`), falling
    * back to `default` — parse and positivity failures name the key.
    */
  def confBound(spark: SparkSession, confKey: String, default: Int): Int =
    spark.conf.getOption(confKey).map { raw =>
      val parsed = try raw.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$confKey must be a positive integer, got '$raw'")
      }
      require(parsed > 0,
        s"$confKey must be positive, got $parsed — " +
          "a non-positive bound would reject every non-empty batch")
      parsed
    }.getOrElse(default)

  /** The slice of `table` the batch frame `keyed` can collide with on
    * its Long-typed `keyCol` (see the object doc for the
    * sparse/dense/empty shape). The distinct-key collect is bounded:
    * at most `literalCap + 1` keys (enough to detect density) — or
    * `hardCap + 1` under [[PlainScanUpTo]], whose bound must be
    * enforced by counting.
    */
  def prunedSlice(spark: SparkSession, table: String, keyed: DataFrame,
      keyCol: String, literalCap: Int, dense: DenseProbePolicy): DataFrame = {
    require(literalCap > 0, s"literalCap must be positive, got $literalCap")
    val collectCap = math.max(literalCap, keyBound(dense, literalCap).fold(0)(_._1))
    val keys = keyed.select(keyCol).distinct()
      .limit(collectCap + 1).collect().map(_.getLong(0))
    sliceOf(spark, table, keyCol, keys.toIndexedSeq, literalCap, dense,
      keyed.select(keyCol).distinct())
  }

  /** [[prunedSlice]] over distinct keys already on the driver; `allKeys`
    * (the batch's full distinct key set as a frame) is only planned for
    * a dense [[BroadcastSemiJoin]] probe.
    */
  def sliceOf(spark: SparkSession, table: String, keyCol: String, keys: Seq[Long],
      literalCap: Int, dense: DenseProbePolicy, allKeys: => DataFrame): DataFrame = {
    keyBound(dense, literalCap).foreach { case (bound, msg) =>
      if (keys.length > bound) throw new IllegalArgumentException(msg)
    }
    if (keys.isEmpty) spark.table(table).limit(0)
    else if (keys.length <= literalCap) {
      if (coversEveryBucket(spark, table, keyCol, keys)) GraftShim.withoutBuckets(spark.table(table))
      else spark.table(table).filter(col(keyCol).isin(keys: _*))
    } else dense match {
      case BroadcastSemiJoin =>
        spark.table(table).join(broadcast(allKeys), Seq(keyCol), "left_semi")
      case PlainScanUpTo(_, _) => spark.table(table)
      case FailFast(_) =>
        throw new IllegalStateException("unreachable: FailFast handled above")
    }
  }

  /** The buckets the bigint `keys` land in among `nBuckets`, as a
    * bucketed write places them: Spark's `HashPartitioning` partition
    * id (a Murmur3 hash mod `nBuckets`), evaluated without code
    * generation.
    */
  def bucketIds(nBuckets: Int, keys: Seq[Long]): Seq[Int] = {
    val bucketOf = HashPartitioning(Seq(BoundReference(0, LongType, nullable = false)),
      nBuckets).partitionIdExpression
    keys.map(k => bucketOf.eval(InternalRow(k)).asInstanceOf[Int])
  }

  /** Whether `table` is bucketed by `keyCol` alone and `keys` land in
    * every one of its buckets. The bucket spec comes from the catalog,
    * without a job.
    */
  private def coversEveryBucket(spark: SparkSession, table: String, keyCol: String,
      keys: Seq[Long]): Boolean =
    spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(table))
      .bucketSpec
      .filter(spec => spec.bucketColumnNames == Seq(keyCol) && keys.length >= spec.numBuckets)
      .exists(spec => bucketIds(spec.numBuckets, keys).distinct.length == spec.numBuckets)
}
