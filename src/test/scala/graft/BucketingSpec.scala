package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Co-located joins via bucketed tables — the pre-partitioning pattern
  * that removes the join shuffle entirely at scale: both sides written
  * `bucketBy` the join key land partition-aligned, so the join plans with
  * NO Exchange on either side (only per-bucket sorts). At 100 TB this is
  * the difference between shuffling two fact tables and streaming them.
  *
  * This suite's session carries special conf (no auto-broadcast, its own
  * warehouse/metastore), so it is stopped after the suite — later suites
  * must not inherit it through getOrCreate.
  */
class BucketingSpec extends AnyFunSuite with BeforeAndAfterAll {

  override def afterAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-bucketing")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft-warehouse").toString)
      // at sf0.001 everything fits the broadcast threshold and the planner
      // would skip the bucketed path entirely; disable auto-broadcast so
      // the join exercises what bucketing buys at REAL scale (where
      // neither fact side is broadcastable)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      // Spark's DisableUnnecessaryBucketedScan only weighs distribution
      // requirements, not bucket-filter FILE pruning — with it on, a
      // probe's `bucket IN (...)` reads the whole index. Probe sessions
      // must disable it (documented on VectorOps.writeLshIndex).
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      // isolate the derby metastore too, so reruns don't collide
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=${Files.createTempDirectory("graft-metastore")}/db;create=true")
      .getOrCreate()
  }

  // ---- structural plan asserts (r16 ADVICE: matching plan-STRING
  // fragments like "SelectedBucketsCount: 8 out of 8" / "INSET" /
  // "Exchange" is brittle against Spark rendering changes — assert the
  // plan STRUCTURE instead; the dense-probe test below set the pattern)

  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.catalyst.expressions.{In, InSet}
  import org.apache.spark.sql.execution.FileSourceScanExec
  import org.apache.spark.sql.execution.exchange.Exchange
  import PlanTestUtil.flattenPlan

  /** File scans of `table` in df's EXECUTED plan; fails when there are none
    * (a missing scan would make any per-scan assert vacuous).
    */
  private def bucketScansOf(df: DataFrame, table: String): Seq[FileSourceScanExec] = {
    val scans = flattenPlan(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec if s.tableIdentifier.exists(_.table == table) => s
    }
    assert(scans.nonEmpty,
      s"no file scan of table $table in\n${df.queryExecution.executedPlan}")
    scans
  }

  /** The structural fact behind the old `SelectedBucketsCount` string
    * check, made strictly stronger: some scan of `table` is BUCKETED and
    * carries a bucket-pruning set (`optionalBucketSet` defined — exactly
    * the condition under which Spark prints that fragment, now pinned to
    * the right table). With `maxSelected`, the set must also be a GENUINE
    * subset of at most that many buckets — presence alone can be
    * "N out of N" (see the dense-probe test's inverse assert).
    */
  private def assertBucketPruning(df: DataFrame, table: String, what: String,
      maxSelected: Option[Int] = None): Unit = {
    val ok = bucketScansOf(df, table).exists { s =>
      s.relation.bucketSpec.isDefined && s.optionalBucketSet.isDefined &&
        maxSelected.forall { m =>
          val sel = s.optionalBucketSet.get.cardinality()
          sel <= m && sel < s.relation.bucketSpec.get.numBuckets
        }
    }
    assert(ok, s"$what: no bucket-pruned scan of $table" +
      maxSelected.fold("")(m => s" selecting a strict subset of ≤ $m buckets") +
      s" in\n${df.queryExecution.executedPlan}")
  }

  /** Some scan of `table` plants an In/InSet literal filter on `colName` —
    * the sparse probe's pruning source (the structural form of the old
    * `INSET`/`IN (` fragment match).
    */
  private def assertPlantedInFilter(df: DataFrame, table: String, colName: String,
      what: String): Unit = {
    val planted = bucketScansOf(df, table).exists { s =>
      (s.dataFilters ++ s.partitionFilters).exists(_.exists {
        case i: In => i.value.references.exists(_.name == colName)
        case i: InSet => i.child.references.exists(_.name == colName)
        case _ => false
      })
    }
    assert(planted,
      s"$what: no In/InSet literal filter on $colName over $table in\n" +
        df.queryExecution.executedPlan)
  }

  /** No Exchange (shuffle or broadcast) anywhere in the executed plan. */
  private def assertNoExchange(df: DataFrame, what: String): Unit = {
    val ex = flattenPlan(df.queryExecution.executedPlan).filter(_.isInstanceOf[Exchange])
    assert(ex.isEmpty,
      s"$what: expected an exchange-free plan, found ${ex.map(_.nodeName)} in\n" +
        df.queryExecution.executedPlan)
  }

  test("bucketed join on the bucket key plans no exchange on either side") {
    spark.read.parquet(s"$sfDir/orders.parquet")
      .write.mode("overwrite").bucketBy(4, "o_custkey").sortBy("o_custkey")
      .saveAsTable("orders_b")
    spark.read.parquet(s"$sfDir/customer.parquet")
      .write.mode("overwrite").bucketBy(4, "c_custkey").sortBy("c_custkey")
      .saveAsTable("customer_b")

    val joined = spark.table("orders_b")
      .join(spark.table("customer_b"),
        spark.table("orders_b")("o_custkey") === spark.table("customer_b")("c_custkey"))
      .select("o_orderkey", "c_name")
    assertNoExchange(joined, "bucketed join must not shuffle either side")
    assert(flattenPlan(joined.queryExecution.executedPlan).exists {
      case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec => true
      case _: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => true
      case _ => false
    }, s"expected a sort-merge or shuffled-hash join:\n${joined.queryExecution.executedPlan}")
    assert(bucketScansOf(joined, "orders_b").exists(_.bucketedScan) &&
      bucketScansOf(joined, "customer_b").exists(_.bucketedScan),
      s"scan did not use buckets:\n${joined.queryExecution.executedPlan}")

    // and it computes the same rows as the plain shuffled join
    val plain = spark.read.parquet(s"$sfDir/orders.parquet")
      .join(spark.read.parquet(s"$sfDir/customer.parquet"),
        org.apache.spark.sql.functions.expr("o_custkey = c_custkey"))
      .select("o_orderkey", "c_name")
    assert(joined.count() == plain.count())
    assert(joined.exceptAll(plain).isEmpty && plain.exceptAll(joined).isEmpty)
  }

  test("persisted LSH index: single-query probe prunes buckets, no exchange anywhere") {
    import graft.operators.VectorOps
    import org.apache.spark.sql.functions.col
    val nBits = VectorOps.writeLshIndex(spark, sfDir, "lsh_idx", nBuckets = 8)
    val qVec = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
    val probe = VectorOps.probeLshIndex(spark, "lsh_idx", qVec, nBits, k = 3)
    assertBucketPruning(probe, "lsh_idx", "single-query probe")
    assertNoExchange(probe, "single-query probe (scan + TakeOrdered)")
    // the pruned probe returns exactly the brute-force top-3 of the
    // probed buckets (the query's own vector included, sim = 1)
    val got = probe.collect().map(_.getLong(0)).toSeq
    val probes = VectorOps.lshProbesFor(spark, qVec, nBits).toSet
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i).toDouble * b(i).toDouble)
    val qn = math.sqrt(dot(qVec, qVec))
    val want = spark.table("lsh_idx").filter(col("bucket").isin(probes.toSeq: _*))
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .map { case (id, v) => (id, dot(qVec, v) / (qn * math.sqrt(dot(v, v)))) }
      .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1).toSeq
    assert(got == want, s"probe result $got != brute-force-over-probed-buckets $want")
  }

  test("persisted LSH index: batch probe join shuffles ONLY the query side") {
    import graft.operators.VectorOps
    import org.apache.spark.sql.functions.col
    val nBits = VectorOps.writeLshIndex(spark, sfDir, "lsh_idx2", nBuckets = 8)
    // queries come from the RAW parquet (not the bucketed table), so only
    // the bucketed index side can satisfy the join distribution for free
    val q = VectorOps.withLshBucket(
      spark.read.parquet(s"$sfDir/embeddings.parquet").filter(col("vec_id") < 5), nBits)
      .select(col("vec_id").as("q_id"), col("bucket").as("probe"))
    val joined = spark.table("lsh_idx2").join(q, col("bucket") === col("probe"))
    val shuffles = flattenPlan(joined.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.length == 1,
      s"expected exactly one shuffle (query side only), got ${shuffles.length}:\n" +
        joined.queryExecution.executedPlan)
    assert(bucketScansOf(joined, "lsh_idx2").exists(_.bucketedScan),
      s"index side did not use the bucketed scan:\n${joined.queryExecution.executedPlan}")
    // every query matches its own signature row in the index (sanity)
    val hits = joined.filter(col("vec_id") === col("q_id")).count()
    assert(hits == 5, s"each query must at least hit its own bucket row, got $hits")
  }

  test("appending to the LSH index preserves bucketing, pruning, and probe results") {
    import graft.operators.VectorOps
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val nBits = VectorOps.writeLshIndex(spark, sfDir, "lsh_idx3", nBuckets = 8)
    val qVec = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") === 2).select("embedding").head().getSeq[Float](0).toArray
    // append one NEW vector with the query's exact embedding: it lands in
    // the query's own bucket and must surface as a sim-1.0 probe hit
    VectorOps.appendToLshIndex(spark, Seq((999999L, qVec)).toDF("vec_id", "embedding"),
      "lsh_idx3", nBits)
    val probe = VectorOps.probeLshIndex(spark, "lsh_idx3", qVec, nBits, k = 2)
    assertBucketPruning(probe, "lsh_idx3", "probe after append")
    val top = probe.collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(top.map(_._1).toSet.intersect(Set(2L, 999999L)) == Set(2L, 999999L),
      s"appended vector must be probe-visible with sim 1: ${top.toSeq}")
    top.filter(t => t._1 == 2L || t._1 == 999999L).foreach { t =>
      assert(math.abs(t._2 - 1.0) < 1e-6, s"self-sim must be 1: $t")
    }
    // the appended files carry the table's bucket spec: a probe join
    // still plans exchange-free on the index side
    val q = VectorOps.withLshBucket(
      spark.read.parquet(s"$sfDir/embeddings.parquet").filter(col("vec_id") < 5), nBits)
      .select(col("vec_id").as("q_id"), col("bucket").as("probe"))
    val joined = spark.table("lsh_idx3").join(q, col("bucket") === col("probe"))
    val jplan = joined.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(jplan).length == 1,
      s"append broke the bucketed side of the probe join:\n$jplan")
    assert(jplan.contains("Bucketed: true"), s"bucketed scan lost after append:\n$jplan")
    // persisted meta: the built nBits and the staleness baseline
    val Some((metaBits, baseN)) = VectorOps.loadLshMeta(spark, "lsh_idx3")
    assert(metaBits == nBits && baseN > 0)
    val st = VectorOps.lshIndexStaleness(spark, "lsh_idx3")
    assert(math.abs(st - 1.0 / baseN) < 1e-9, s"staleness $st with baseN $baseN")
    // an append with the WRONG signature width must be refused, not
    // silently mixed into the at-rest cells
    val boom = intercept[IllegalArgumentException] {
      VectorOps.appendToLshIndex(spark, Seq((999997L, qVec)).toDF("vec_id", "embedding"),
        "lsh_idx3", nBits + 1)
    }
    assert(boom.getMessage.contains("mixed signature widths"), boom.getMessage)
    // a META-LESS index cannot validate any width at all: appends are
    // refused outright (forcing a rebuild), never silently mixed in
    spark.sql(s"DROP TABLE ${VectorOps.metaTableFor("lsh_idx3")}")
    val noMeta = intercept[IllegalArgumentException] {
      VectorOps.appendToLshIndex(spark, Seq((999996L, qVec)).toDF("vec_id", "embedding"),
        "lsh_idx3", nBits)
    }
    assert(noMeta.getMessage.contains("no meta table"), noMeta.getMessage)
  }

  test("epoch guard: the second of two interleaved index appenders fails loudly, writing nothing") {
    import graft.operators.{IndexTable, VectorOps}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val nBits = VectorOps.writeLshIndex(spark, sfDir, "lsh_idx_epoch", nBuckets = 8)
    val vec = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") === 3).select("embedding").head().getSeq[Float](0).toArray
    // appender A begins its read-compute-write span: captures the epoch
    // (as the idempotent wrapper does before its anti-join read)
    val epochA = IndexTable.current(spark, "lsh_idx_epoch")
    // appender B interleaves a COMPLETE append — epoch bumps
    VectorOps.appendToLshIndexIdempotent(spark,
      Seq((888881L, vec)).toDF("vec_id", "embedding"), "lsh_idx_epoch", nBits)
    val afterB = spark.table("lsh_idx_epoch").count()
    // A commits: its snapshot is stale — must fail loudly, not corrupt
    val boom = intercept[java.util.ConcurrentModificationException] {
      VectorOps.appendToLshIndex(spark,
        Seq((888882L, vec)).toDF("vec_id", "embedding"), "lsh_idx_epoch", nBits,
        beganEpoch = Some(epochA))
    }
    assert(boom.getMessage.contains("ONE sequential maintainer"), boom.getMessage)
    spark.catalog.refreshTable("lsh_idx_epoch")
    assert(spark.table("lsh_idx_epoch").count() == afterB,
      "the failed appender must write no rows")
    // a REBUILD also invalidates an in-flight appender's span
    val epochC = IndexTable.current(spark, "lsh_idx_epoch")
    VectorOps.writeLshIndex(spark, sfDir, "lsh_idx_epoch", nBuckets = 8)
    intercept[java.util.ConcurrentModificationException] {
      VectorOps.appendToLshIndex(spark,
        Seq((888883L, vec)).toDF("vec_id", "embedding"), "lsh_idx_epoch", nBits,
        beganEpoch = Some(epochC))
    }
    // a fresh sequential append still works after both failures
    VectorOps.appendToLshIndexIdempotent(spark,
      Seq((888884L, vec)).toDF("vec_id", "embedding"), "lsh_idx_epoch", nBits)
    spark.catalog.refreshTable("lsh_idx_epoch")
    assert(spark.table("lsh_idx_epoch").filter(col("vec_id") === 888884L).count() == 1)
    // the signature-index append shares the same guard mechanics
    import graft.streaming.DedupGate
    DedupGate.writeSigIndex(spark,
      Seq(1L -> gateText("ep")).toDF("doc_id", "text"), "dedup_gate_epoch", nBuckets = 8)
    val sigEpoch = IndexTable.current(spark, "dedup_gate_epoch")
    DedupGate.appendNewSigsIdempotent(spark,
      Seq(2L -> gateText("ep2")).toDF("doc_id", "text"), "dedup_gate_epoch")
    assert(IndexTable.current(spark, "dedup_gate_epoch") == sigEpoch + 1,
      "a sig append must advance the epoch")
    intercept[java.util.ConcurrentModificationException] {
      IndexTable.bump(spark, "dedup_gate_epoch", sigEpoch)
    }
    // the PQ index takes the same guard: its build bumps the epoch, an
    // append that lands rows bumps it exactly once, a fully replayed
    // append bumps nothing, and an append whose span a rebuild
    // interleaved fails loudly, writing nothing (codes or sidecar)
    val pqTable = "pq_idx_epoch"
    val pqBefore = IndexTable.current(spark, pqTable)
    VectorOps.writePqIndex(spark, sfDir, pqTable)
    val pqBuilt = IndexTable.current(spark, pqTable)
    assert(pqBuilt > pqBefore, "a PQ build must bump the epoch")
    val pqArrival = Seq((888891L, vec.toSeq)).toDF("vec_id", "embedding")
    assert(VectorOps.appendToPqIndexIdempotent(spark, pqArrival, pqTable) == 1L)
    assert(IndexTable.current(spark, pqTable) == pqBuilt + 1,
      "a PQ append that lands rows must bump the epoch exactly once")
    assert(VectorOps.appendToPqIndexIdempotent(spark, pqArrival, pqTable) == 0L)
    assert(IndexTable.current(spark, pqTable) == pqBuilt + 1,
      "a fully replayed PQ append must bump nothing")
    val pqSpan = IndexTable.current(spark, pqTable)
    VectorOps.writePqIndex(spark, sfDir, pqTable)
    val pqRows = spark.table(pqTable).count()
    val pqBoom = intercept[java.util.ConcurrentModificationException] {
      VectorOps.appendToPqIndexIdempotent(spark,
        Seq((888892L, vec.toSeq)).toDF("vec_id", "embedding"), pqTable, beganEpoch = Some(pqSpan))
    }
    assert(pqBoom.getMessage.contains("ONE sequential maintainer"), pqBoom.getMessage)
    spark.catalog.refreshTable(pqTable)
    spark.catalog.refreshTable(VectorOps.embTableFor(pqTable))
    assert(spark.table(pqTable).count() == pqRows, "the failed PQ appender must write no codes")
    assert(spark.table(VectorOps.embTableFor(pqTable)).filter(col("vec_id") === 888892L)
      .count() == 0, "the failed PQ appender must write no sidecar rows")
  }

  test("epoch markers: current, bump and a guardedAppend with nothing new run no Spark job") {
    import spark.implicits._
    import graft.operators.IndexTable
    import graft.streaming.DedupGate
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val t = "epoch_nojob"
    DedupGate.writeSigIndex(spark, Seq(1L -> gateText("nj")).toDF("doc_id", "text"), t, nBuckets = 8)
    // the job group of every job started, in order; marker jobs in their
    // own groups set off the jobs the epoch calls run
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = groups.add(
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    def mark(tag: String): Unit = {
      sc.setJobGroup(tag, tag)
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!groups.contains(tag) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains(tag), s"marker job $tag never arrived")
    }
    sc.addSparkListener(listener)
    val (e, after, n) = try {
      mark("epoch_nojob_before")
      val e = IndexTable.current(spark, t)
      IndexTable.bump(spark, t, e)
      val n = IndexTable.guardedAppend(spark, t)((0L, ())) { _ =>
        fail("an append with nothing new must not write")
      }
      val after = IndexTable.current(spark, t)
      mark("epoch_nojob_after")
      (e, after, n)
    } finally sc.removeSparkListener(listener)
    val between = groups.asScala.toSeq.dropWhile(_ != "epoch_nojob_before")
      .dropWhile(_ == "epoch_nojob_before").takeWhile(_ != "epoch_nojob_after")
    assert(between.isEmpty, s"the epoch calls ran ${between.size} Spark jobs")
    assert(e > 0 && after == e + 1 && n == 0L,
      s"the bump must advance the epoch, the empty append nothing: $e -> $after, $n")
    // an `<index>_epoch` parquet table of the older layout is ignored
    Seq(1L).toDF("id").write.mode("overwrite").format("parquet").saveAsTable("epoch_legacy")
    Seq(7L).toDF("epoch").write.mode("overwrite").format("parquet").saveAsTable("epoch_legacy_epoch")
    assert(IndexTable.current(spark, "epoch_legacy") == 0L, "a legacy index must read epoch 0")
  }

  test("epoch markers: a bump whose exclusive create loses to a racer throws, writing nothing") {
    import spark.implicits._
    import graft.operators.IndexTable
    import graft.streaming.DedupGate
    import org.apache.hadoop.fs.Path
    val t = "epoch_cas"
    DedupGate.writeSigIndex(spark, Seq(1L -> gateText("cas")).toDF("doc_id", "text"), t, nBuckets = 8)
    val e = IndexTable.current(spark, t)
    val dir = IndexTable.epochDir(spark, t)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def markers: Set[String] = fs.listStatus(dir).map(_.getPath.getName).toSet
    val rows = spark.table(t).count()
    // a racer that passed the same check claims e + 1 between this
    // bump's check and its create; the write after the bump never runs
    val boom = intercept[java.util.ConcurrentModificationException] {
      IndexTable.bump(spark, t, e, () => assert(fs.createNewFile(new Path(dir, (e + 1).toString))))
      DedupGate.appendNewSigsIdempotent(spark, Seq(2L -> gateText("cas2")).toDF("doc_id", "text"), t)
    }
    assert(boom.getMessage.contains(s"epoch moved $e -> ${e + 1}") &&
      boom.getMessage.contains("Nothing was written"), boom.getMessage)
    assert(markers == Set(e.toString, (e + 1).toString),
      s"the losing bump must create and delete no marker: $markers")
    assert(IndexTable.current(spark, t) == e + 1, "the racer's epoch stands")
    spark.catalog.refreshTable(t)
    assert(spark.table(t).count() == rows, "the losing appender must write no rows")
  }

  test("epoch markers: the epoch stays monotonic across DROP TABLE of the index and a rebuild") {
    import spark.implicits._
    import graft.operators.IndexTable
    import graft.streaming.DedupGate
    val t = "epoch_aba"
    def build(): Unit = DedupGate.writeSigIndex(spark,
      Seq(1L -> gateText("aba")).toDF("doc_id", "text"), t, nBuckets = 8)
    build()
    assert(DedupGate.appendNewSigsIdempotent(spark,
      Seq(2L -> gateText("aba2")).toDF("doc_id", "text"), t) == 1L)
    // an appender's span begins, then the index is dropped and rebuilt
    val stale = IndexTable.current(spark, t)
    spark.sql(s"DROP TABLE $t")
    assert(IndexTable.current(spark, t) == stale, "dropping the index must keep its epoch")
    build()
    assert(IndexTable.current(spark, t) == stale + 1, "the rebuild must continue the epoch")
    intercept[java.util.ConcurrentModificationException] {
      IndexTable.bump(spark, t, stale)
    }
    // a rebuild onto the same index (the overwrite path) moves it again
    build()
    assert(IndexTable.current(spark, t) == stale + 2)
  }

  /** The staleness formula over a scan of the distinct ids at rest —
    * what every staleness read computed before the epoch carried the
    * count.
    */
  private def scannedStaleness(table: String, idCol: String, baseN: Long): Double = {
    spark.catalog.refreshTable(table)
    math.max(0.0, (spark.table(table).select(idCol).distinct().count() - baseN).toDouble / baseN)
  }

  /** The jobs `body` starts on this thread, counted by a listener on
    * the job group set around it; a marker job in its own group, awaited
    * after the body, makes sure every event has arrived.
    */
  private def jobsOf(tag: String)(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = groups.add(
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, tag)
      try body finally sc.clearJobGroup()
      val done = tag + "_done"
      sc.setJobGroup(done, done)
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!groups.contains(done) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains(done), s"marker job $done never arrived")
    } finally sc.removeSparkListener(listener)
    groups.asScala.count(_ == tag)
  }

  test("id record: every index family's staleness from the epoch's record equals the scan") {
    import spark.implicits._
    import graft.operators.{IndexPurge, IndexTable, VectorOps}
    import graft.streaming.{DedupGate, PerceptGate}
    import org.apache.spark.sql.functions.col
    final case class Family(table: String, idCol: String, staleness: () => Double,
        baseN: () => Long, build: () => Unit, append: Seq[Long] => Long, rebuild: () => Unit)
    def docs(ids: Seq[Long]) = ids.map(i => i -> gateText(s"idr$i")).toDF("doc_id", "text")
    def raster(i: Long) = p5(Array.tabulate(64)(r => (r * (2 * i.toInt + 1) + i.toInt * 53) % 256))
    def rasters(ids: Seq[Long]) = ids.map(i => i -> raster(i)).toDF("doc_id", "payload")
    val vec = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") === 3).select("embedding").head().getSeq[Float](0)
    def vecs(ids: Seq[Long]) = ids.map(i => (i, vec)).toDF("vec_id", "embedding")
    val lshBase = (0L until 8L).map(i => i -> axis(i.toInt).toSeq).toDF("vec_id", "embedding")
    var nBits = 0
    val families = Seq(
      Family("idrec_sig", "doc_id", () => DedupGate.sigIndexStaleness(spark, "idrec_sig"),
        () => DedupGate.loadSigMeta(spark, "idrec_sig").get._3,
        () => DedupGate.writeSigIndex(spark, docs(1L to 8L), "idrec_sig", nBuckets = 8),
        ids => DedupGate.appendNewSigsIdempotent(spark, docs(ids), "idrec_sig"),
        () => DedupGate.rebuildSigIndex(spark, "idrec_sig", nBuckets = 8)),
      Family("idrec_code", "doc_id", () => PerceptGate.codeIndexStaleness(spark, "idrec_code"),
        () => PerceptGate.loadCodeMeta(spark, "idrec_code").get._4,
        () => PerceptGate.writeCodeIndex(spark, rasters(1L to 8L), "idrec_code", nBuckets = 8),
        ids => PerceptGate.appendNewCodesIdempotent(spark, rasters(ids), "idrec_code"),
        () => PerceptGate.rebuildCodeIndex(spark, "idrec_code", nBuckets = 8)),
      Family("idrec_lsh", "vec_id", () => VectorOps.lshIndexStaleness(spark, "idrec_lsh"),
        () => VectorOps.loadLshMeta(spark, "idrec_lsh").get._2,
        () => nBits = VectorOps.writeLshIndexFrom(spark, lshBase, "idrec_lsh", nBuckets = 8),
        ids => VectorOps.appendToLshIndexIdempotent(spark,
          ids.map(i => i -> axis((i % 64).toInt).toSeq).toDF("vec_id", "embedding"),
          "idrec_lsh", nBits),
        () => nBits = VectorOps.writeLshIndexFrom(spark, lshBase, "idrec_lsh", nBuckets = 8)),
      Family("idrec_ivf", "vec_id", () => VectorOps.ivfIndexStaleness(spark, "idrec_ivf"),
        () => VectorOps.loadIvfCodebook(spark, "idrec_ivf")._2,
        () => VectorOps.writeIvfIndex(spark, sfDir, "idrec_ivf", nBuckets = 8): Unit,
        ids => VectorOps.appendToIvfIndexIdempotent(spark, vecs(ids), "idrec_ivf"),
        () => VectorOps.writeIvfIndex(spark, sfDir, "idrec_ivf", nBuckets = 8): Unit),
      Family("idrec_pq", "vec_id", () => VectorOps.pqIndexStaleness(spark, "idrec_pq"),
        () => VectorOps.loadPqBooks(spark, "idrec_pq")._2,
        () => VectorOps.writePqIndex(spark, sfDir, "idrec_pq"),
        ids => VectorOps.appendToPqIndexIdempotent(spark, vecs(ids), "idrec_pq"),
        () => VectorOps.writePqIndex(spark, sfDir, "idrec_pq")))
    // ids above the fixture corpus's vec_ids
    families.foreach { f =>
      def check(step: String, recorded: Boolean): Unit = {
        val st = f.staleness()
        val want = scannedStaleness(f.table, f.idCol, f.baseN())
        assert(math.abs(st - want) < 1e-9, s"${f.table} after $step: record gives $st, scan $want")
        val ids = spark.table(f.table).select(f.idCol).distinct().count()
        val rec = IndexTable.recordedIds(spark, f.table)
        assert(rec == (if (recorded) Some(ids) else None),
          s"${f.table} after $step: record $rec with $ids ids at rest")
      }
      f.build()
      check("build", recorded = true)
      assert(f.append(Seq(900101L, 900102L)) == 2L, s"${f.table}: the append must land two ids")
      check("append", recorded = true)
      assert(f.staleness() > 0.0, s"${f.table}: fixture: the append must read stale")
      assert(f.append(Seq(900101L, 900102L)) == 0L, s"${f.table}: the replay must land nothing")
      check("replayed append", recorded = true)
      f.rebuild()
      check("rebuild", recorded = true)
      assert(f.append(Seq(900103L)) == 1L, s"${f.table}: the append must land one id")
      check("append after rebuild", recorded = true)
      // a purge leaves no record: the next staleness read scans, and the
      // appends after it have no prior count to add to until a build
      assert(IndexPurge.purge(spark, f.table, f.idCol, Seq(900101L, 900103L)) > 0L,
        s"${f.table}: the purge must remove rows")
      check("purge", recorded = false)
      assert(f.append(Seq(900104L)) == 1L, s"${f.table}: the append must land one id")
      check("append after purge", recorded = false)
      f.rebuild()
      check("rebuild after purge", recorded = true)
    }
  }

  test("id record: sigIndexStaleness reads only the meta; without a readable record it scans") {
    import spark.implicits._
    import graft.operators.IndexTable
    import graft.streaming.DedupGate
    val t = "idrec_jobs"
    def docs(ids: Seq[Long]) = ids.map(i => i -> gateText(s"ij$i")).toDF("doc_id", "text")
    DedupGate.writeSigIndex(spark, docs(1L to 10L), t, nBuckets = 8)
    assert(DedupGate.appendNewSigsIdempotent(spark, docs(11L to 14L), t) == 4L)
    var st = 0.0
    val jobs = jobsOf("idrec_jobs_record") { st = DedupGate.sigIndexStaleness(spark, t) }
    assert(math.abs(st - 0.4) < 1e-9, s"4 appends over base 10 must read 0.4: $st")
    assert(jobs == 1, s"staleness from the record must run the meta read alone: $jobs jobs")
    // an empty marker (a crash between bump and record) and a record cut
    // short (no newline) both read as missing: the scan gives the same value
    val markerFile = new java.io.File(IndexTable.epochDir(spark, t).toUri.getPath,
      IndexTable.current(spark, t).toString)
    assert(Files.readString(markerFile.toPath) == "14\n", "the record is the marker's content")
    Seq("", "1").foreach { content =>
      Files.writeString(markerFile.toPath, content)
      assert(IndexTable.recordedIds(spark, t).isEmpty, s"record '$content' must read as missing")
      var scanned = 0.0
      val scanJobs = jobsOf(s"idrec_jobs_scan${content.length}") {
        scanned = DedupGate.sigIndexStaleness(spark, t)
      }
      assert(scanned == st, s"the scan must give the record's value: $scanned vs $st")
      assert(scanJobs > jobs, s"without a record the ids must be scanned: $scanJobs jobs")
    }
    // an append onto a missing record records nothing; the next build does
    assert(DedupGate.appendNewSigsIdempotent(spark, docs(Seq(15L)), t) == 1L)
    assert(IndexTable.recordedIds(spark, t).isEmpty)
    assert(math.abs(DedupGate.sigIndexStaleness(spark, t) - 0.5) < 1e-9)
    DedupGate.rebuildSigIndex(spark, t, nBuckets = 8)
    assert(IndexTable.recordedIds(spark, t) == Some(15L))
  }

  test("persisted IVF index: probing nProbe cells prunes to those cells' files") {
    import graft.operators.VectorOps
    import org.apache.spark.sql.functions.col
    val cents = VectorOps.writeIvfIndex(spark, sfDir, "ivf_idx", nBuckets = 8)
    val qVec = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") === 1).select("embedding").head().getSeq[Float](0).toArray
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i).toDouble * b(i).toDouble)
    // probe cells from the returned codebook — driver-side quantizer math
    val probeCells = cents.map { case (i, arr, nrm) => (i, dot(qVec, arr) / nrm) }
      .sortBy { case (i, s) => (-s, i) }.take(2).map(_._1)
    val probed = spark.table("ivf_idx").filter(col("cell").isin(probeCells: _*))
    // 2 cell literals over 8 buckets: a genuine strict subset is guaranteed
    assertBucketPruning(probed, "ivf_idx", "cell probe", maxSelected = Some(2))
    assert(probed.count() > 0)
    // the query's own vector is assigned to its top cell, so it must be
    // among the probed candidates
    assert(probed.filter(col("vec_id") === 1).count() >= 1)
  }

  test("appending to the IVF index assigns against the FROZEN persisted codebook and stays pruned") {
    import graft.operators.VectorOps
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val cents = VectorOps.writeIvfIndex(spark, sfDir, "ivf_idx2", nBuckets = 8)
    // the persisted codebook is the bit-identical trained quantizer
    val (loaded, baseN) = VectorOps.loadIvfCodebook(spark, "ivf_idx2")
    assert(loaded.map(c => (c._1, c._2.toSeq)) == cents.map(c => (c._1, c._2.toSeq)),
      "persisted codebook must roundtrip bit-identically")
    assert(baseN > 0)
    val qVec = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") === 3).select("embedding").head().getSeq[Float](0).toArray
    // append one NEW vector with vec 3's exact embedding: the frozen
    // quantizer must file it under vec 3's own primary cell
    VectorOps.appendToIvfIndex(spark, Seq((999998L, qVec)).toDF("vec_id", "embedding"),
      "ivf_idx2")
    val primary = spark.table("ivf_idx2")
      .filter(col("vec_id").isin(3L, 999998L) && col("cidx") === 0)
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(primary(3L) == primary(999998L),
      s"appended twin must land in the original's primary cell: $primary")
    // cell-file pruning survives the append (the appended files carry the
    // table's bucket spec)
    val probed = spark.table("ivf_idx2").filter(col("cell") === primary(3L))
    assertBucketPruning(probed, "ivf_idx2", "cell probe after append",
      maxSelected = Some(1))
    assert(probed.filter(col("vec_id") === 999998L).count() >= 1,
      "appended vector must be probe-visible")
    // staleness: exactly one appended vec over the build-time corpus
    val st = VectorOps.ivfIndexStaleness(spark, "ivf_idx2")
    assert(math.abs(st - 1.0 / baseN) < 1e-9, s"staleness $st with baseN $baseN")
  }

  private def gateText(seed: String): String = (1 to 30).map(i => s"${seed}_$i").mkString(" ")

  test("DedupGate: streaming ingest gate flags cross-batch near-dups against the growing index") {
    import spark.implicits._
    import graft.streaming.DedupGate
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    DedupGate.writeSigIndex(spark,
      Seq(1L -> gateText("a"), 2L -> gateText("b"), 3L -> gateText("c")).toDF("doc_id", "text"),
      "dedup_gate_idx", nBuckets = 8)

    val input = MemoryStream[(Long, String)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String)]], spark.sqlContext)
    val seen = new scala.collection.concurrent.TrieMap[Long, (Boolean, Option[Long], Option[Int])]()
    val checkpoint = java.nio.file.Files.createTempDirectory("graft-gate-ckpt").toString
    def phase(batch: Seq[(Long, String)]): Unit = {
      input.addData(batch)
      val q = input.toDS().toDF("doc_id", "text").writeStream
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(DedupGate.gateBatch("dedup_gate_idx", (df, _) =>
          df.collect().foreach { r =>
            seen.put(r.getAs[Long]("doc_id"), (r.getAs[Boolean]("is_dup"),
              Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue()),
              Option(r.getAs[java.lang.Integer]("sig_match")).map(_.intValue())))
          }) _)
        .start()
      q.awaitTermination()
    }
    // batch 1: doc 10 near-dups seed doc 1; doc 11 is novel
    phase(Seq(10L -> gateText("a"), 11L -> gateText("z")))
    // batch 2: doc 12 near-dups doc 11 — only findable via batch 1's append
    phase(Seq(12L -> gateText("z")))

    assert(seen(10L) == ((true, Some(1L), Some(16))), s"10: ${seen.get(10L)}")
    assert(seen(11L) == ((false, None, None)), s"11: ${seen.get(11L)}")
    assert(seen(12L) == ((true, Some(11L), Some(16))), s"12: ${seen.get(12L)}")
    // dedup policy: flagged docs are NOT indexed — one representative per
    // near-dup class at rest
    spark.catalog.refreshTable("dedup_gate_idx")
    val atRest = spark.table("dedup_gate_idx").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(atRest == Set(1L, 2L, 3L, 11L), s"index ids drifted: $atRest")
  }

  test("IndexPurge: right-to-be-forgotten across sig and LSH indexes — semantics, layout, epoch, idempotence") {
    import graft.operators.{IndexTable, IndexPurge, VectorOps}
    import graft.streaming.DedupGate
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.functions.col
    import spark.implicits._

    // --- signature index: the forgotten doc must stop matching ---
    DedupGate.writeSigIndex(spark,
      Seq(1L -> gateText("pa"), 2L -> gateText("pb"), 3L -> gateText("pc"))
        .toDF("doc_id", "text"),
      "purge_sig", nBuckets = 8)
    // flagDuplicates emits MATCH rows only — an absent doc_id is novel
    def flags(): Map[Long, Long] =
      DedupGate.flagDuplicates(spark,
        Seq(21L -> gateText("pa"), 22L -> gateText("pb")).toDF("doc_id", "text"), "purge_sig")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_of")).toMap
    assert(flags() == Map(21L -> 1L, 22L -> 2L))
    val e0 = IndexTable.current(spark, "purge_sig")
    val schemaBefore = spark.table("purge_sig").schema
    val bucketBefore =
      spark.sessionState.catalog.getTableMetadata(TableIdentifier("purge_sig")).bucketSpec
    val removed = IndexPurge.purge(spark, "purge_sig", "doc_id", Seq(1L))
    assert(removed == DedupGate.NBands.toLong, s"doc 1 holds one row per band: $removed")
    // a near-dup of the purged doc is novel now; doc 2's match is intact
    assert(flags() == Map(22L -> 2L))
    // layout survived the rewrite: schema, column order, bucket spec
    assert(spark.table("purge_sig").schema == schemaBefore)
    assert(spark.sessionState.catalog.getTableMetadata(TableIdentifier("purge_sig"))
      .bucketSpec == bucketBefore, "purge must not flatten the bucket layout")
    // the epoch moved exactly once; an appender whose span began before
    // the purge fails its commit instead of resurrecting purged rows
    assert(IndexTable.current(spark, "purge_sig") == e0 + 1)
    intercept[java.util.ConcurrentModificationException] {
      IndexTable.bump(spark, "purge_sig", e0)
    }
    // a re-issued deletion request (at-least-once queues) is a no-op:
    // nothing rewrites, the epoch does not churn
    assert(IndexPurge.purge(spark, "purge_sig", "doc_id", Seq(1L)) == 0L)
    assert(IndexTable.current(spark, "purge_sig") == e0 + 1)

    // --- LSH index: the purged vector must stop being a neighbor ---
    val nBits = VectorOps.writeLshIndex(spark, sfDir, "purge_lsh", nBuckets = 8)
    val qVec = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") === 2).select("embedding").head().getSeq[Float](0).toArray
    val before = VectorOps.probeLshIndex(spark, "purge_lsh", qVec, nBits, k = 1).collect()
    assert(before.head.getLong(0) == 2L, "a vector is its own nearest neighbor pre-purge")
    assert(IndexPurge.purge(spark, "purge_lsh", "vec_id", Seq(2L)) == 1L)
    val after = VectorOps.probeLshIndex(spark, "purge_lsh", qVec, nBits, k = 3)
    assert(!after.collect().map(_.getLong(0)).contains(2L),
      "the ANN index must not keep serving a purged vector")
    // the rewritten index still bucket-prunes the probe
    assertBucketPruning(after, "purge_lsh", "probe after purge")

    // --- PQ code table: the UNBUCKETED artifact exercises the generic
    // layout path; the frozen books are corpus-level and must survive ---
    VectorOps.writePqIndex(spark, sfDir, "purge_pq")
    val codesBefore = spark.table("purge_pq").count()
    val booksBefore = spark.table(VectorOps.pqBooksTableFor("purge_pq")).count()
    assert(VectorOps.purgeFromCodesIndex(spark, "purge_pq", Seq(2L)) == 1L)
    assert(spark.table("purge_pq").count() == codesBefore - 1)
    assert(spark.table("purge_pq").filter(col("vec_id") === 2L).count() == 0)
    assert(spark.table(VectorOps.pqBooksTableFor("purge_pq")).count() == booksBefore,
      "purge must not touch the quantizer books")
    // the embedding sidecar is PER-DOC data (the raw vector): the codes
    // purge must take it too, or the deletion request is only half-honored
    assert(spark.table(VectorOps.embTableFor("purge_pq"))
      .filter(col("vec_id") === 2L).count() == 0,
      "the sidecar must not keep serving a purged embedding")

    // --- crash windows: pre-commit rolls back, post-commit rolls forward ---
    DedupGate.writeSigIndex(spark,
      Seq(5L -> gateText("pw"), 6L -> gateText("px")).toDF("doc_id", "text"),
      "purge_crash", nBuckets = 8)
    val rows0 = spark.table("purge_crash").count()
    intercept[RuntimeException] {
      IndexPurge.purge(spark, "purge_crash", "doc_id", Seq(5L), failAfterPhase = 1)
    }
    // staging orphan, no marker: live table untouched; the next entry's
    // recovery rolls back and the purge completes cleanly
    spark.catalog.refreshTable("purge_crash")
    assert(spark.table("purge_crash").count() == rows0)
    assert(IndexPurge.purge(spark, "purge_crash", "doc_id", Seq(5L)) == DedupGate.NBands.toLong)
    spark.catalog.refreshTable("purge_crash")
    assert(spark.table("purge_crash").filter(col("doc_id") === 5L).count() == 0)
    // post-commit crash: the epoch was claimed and the marker published,
    // but the write-back never ran — the doomed rows are still live
    // until recovery rolls forward
    val ePre = IndexTable.current(spark, "purge_crash")
    intercept[RuntimeException] {
      IndexPurge.purge(spark, "purge_crash", "doc_id", Seq(6L), failAfterPhase = 2)
    }
    spark.catalog.refreshTable("purge_crash")
    assert(spark.table("purge_crash").filter(col("doc_id") === 6L).count() > 0,
      "pre-write-back crash leaves rows; recovery owes the roll-forward")
    // the fence landed WITH the claim (marker ⟺ epoch owned): in-flight
    // appenders already fail, and recovery need not bump again
    assert(IndexTable.current(spark, "purge_crash") == ePre + 1,
      "the epoch claim must precede the commit marker")
    IndexPurge.recover(spark, "purge_crash")
    spark.catalog.refreshTable("purge_crash")
    assert(spark.table("purge_crash").filter(col("doc_id") === 6L).count() == 0,
      "roll-forward must finish the committed purge")
    assert(IndexTable.current(spark, "purge_crash") == ePre + 1,
      "recovery must not move the already-claimed epoch")
    assert(!spark.catalog.tableExists(IndexPurge.markerTableFor("purge_crash")))
    assert(!spark.catalog.tableExists(IndexPurge.stagingTableFor("purge_crash")))
    // the healed table still purges and probes normally
    assert(IndexPurge.purge(spark, "purge_crash", "doc_id", Seq(6L)) == 0L)
    // stale-marker window: an append legally commits BETWEEN the crash
    // and the recovery (it read the post-claim epoch and bumped past it).
    // Recovery must roll the now-stale staging BACK — a roll-forward
    // would silently erase the appended rows
    DedupGate.appendNewSigsIdempotent(spark,
      Seq(8L -> gateText("pq8")).toDF("doc_id", "text"), "purge_crash")
    intercept[RuntimeException] {
      IndexPurge.purge(spark, "purge_crash", "doc_id", Seq(8L), failAfterPhase = 2)
    }
    DedupGate.appendNewSigsIdempotent(spark,
      Seq(9L -> gateText("pq9")).toDF("doc_id", "text"), "purge_crash")
    IndexPurge.recover(spark, "purge_crash")
    spark.catalog.refreshTable("purge_crash")
    assert(spark.table("purge_crash").filter(col("doc_id") === 9L).count() > 0,
      "roll-forward of a stale staging erased a committed append")
    assert(spark.table("purge_crash").filter(col("doc_id") === 8L).count() > 0,
      "stale staging must roll BACK: the crashed purge never reached its write-back")
    assert(!spark.catalog.tableExists(IndexPurge.markerTableFor("purge_crash")))
    // and the re-issued purge completes against the CURRENT rows
    assert(IndexPurge.purge(spark, "purge_crash", "doc_id", Seq(8L)) > 0L)
    spark.catalog.refreshTable("purge_crash")
    assert(spark.table("purge_crash").filter(col("doc_id") === 8L).count() == 0)
    assert(spark.table("purge_crash").filter(col("doc_id") === 9L).count() > 0)

    // the WORST window: the overwrite's drop phase ran and the process
    // died before the recreate — live table GONE, marker + staging the
    // only copies. The next purge entry must restore it (recovery runs
    // before the existence check), not wedge on "no such table"
    DedupGate.writeSigIndex(spark,
      Seq(7L -> gateText("py"), 8L -> gateText("pz")).toDF("doc_id", "text"),
      "purge_crash2", nBuckets = 8)
    intercept[RuntimeException] {
      IndexPurge.purge(spark, "purge_crash2", "doc_id", Seq(7L), failAfterPhase = 2)
    }
    spark.sql("DROP TABLE purge_crash2") // simulate dying mid-saveAsTable(overwrite)
    assert(IndexPurge.purge(spark, "purge_crash2", "doc_id", Seq(7L)) == 0L,
      "entry recovery must restore the dropped table and find doc 7 already purged")
    spark.catalog.refreshTable("purge_crash2")
    assert(spark.table("purge_crash2").filter(col("doc_id") === 8L).count() > 0,
      "the survivor set must be restored from staging")
    assert(spark.table("purge_crash2").filter(col("doc_id") === 7L).count() == 0)

    // --- guard rails ---
    intercept[IllegalArgumentException](IndexPurge.purge(spark, "purge_sig", "doc_id", Nil))
    intercept[IllegalArgumentException](
      IndexPurge.purge(spark, "purge_sig", "no_such_col", Seq(1L)))
  }

  test("DedupGate: probe prunes index buckets; a sub-threshold band collision is not flagged") {
    import spark.implicits._
    import graft.streaming.DedupGate
    DedupGate.writeSigIndex(spark,
      (1L to 40L).map(i => i -> gateText(s"s$i")).toDF("doc_id", "text"),
      "dedup_gate_idx2", nBuckets = 8)
    val probe = DedupGate.flagDuplicates(spark,
      Seq(100L -> gateText("s7")).toDF("doc_id", "text"), "dedup_gate_idx2")
    assertBucketPruning(probe, "dedup_gate_idx2", "gate probe")
    assert(probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq(100L -> 7L))
    // verification layer: a planted band collision agreeing on only 6/16
    // slots is a candidate, never a flag
    val sigA = (1L to 16L).toArray
    val sigB = (1L to 6L).toArray ++ Array.fill(10)(100L)
    val sigC = (21L to 36L).toArray
    val index = Seq((1L, 0, 111L, sigA), (3L, 1, 222L, sigC))
      .toDF("doc_id", "band_id", "bh", "sig")
    val batch = Seq((9L, 0, 111L, sigB), (8L, 1, 222L, sigC))
      .toDF("doc_id", "band_id", "bh", "sig")
    val flags = DedupGate.checkAgainst(index, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(flags == Set((8L, 3L, 16)),
      s"false collision must not flag; true dup must: $flags")
  }

  test("DedupGate: a batch covering every bucket plans no bh literal filter and flags as the literal form") {
    import spark.implicits._
    import graft.operators.DedupOps
    import graft.streaming.{DedupGate, IndexProbe}
    import org.apache.spark.sql.functions.col
    val t = "dedup_gate_cover"
    DedupGate.writeSigIndex(spark,
      (1L to 40L).map(i => i -> gateText(s"cv$i")).toDF("doc_id", "text"), t, nBuckets = 4)
    // copies of six indexed docs, and six novel docs
    val batch = ((1L to 6L).map(i => (100L + i) -> gateText(s"cv${i * 5}")) ++
      (7L to 12L).map(i => (100L + i) -> gateText(s"novel$i"))).toDF("doc_id", "text")
    val keys = DedupOps.bandedSigs(batch).select("bh").distinct().as[Long].collect().toSeq
    assert(IndexProbe.bucketIds(4, keys).toSet == (0 until 4).toSet,
      "fixture: the batch's band hashes must land in every bucket")
    val probe = DedupGate.flagDuplicates(spark, batch, t)
    assert(bucketScansOf(probe, t).forall(s => !s.bucketedScan && s.relation.bucketSpec.isEmpty),
      s"a full-coverage probe must scan unbucketed:\n${probe.queryExecution.executedPlan}")
    val literals = flattenPlan(probe.queryExecution.executedPlan).flatMap(_.expressions)
      .filter(_.exists {
        case i: In => i.value.references.exists(_.name == "bh")
        case i: InSet => i.child.references.exists(_.name == "bh")
        case _ => false
      })
    assert(literals.isEmpty, s"a filter that cannot prune was planted: $literals")
    val literalForm = DedupGate.checkAgainst(
      spark.table(t).filter(col("bh").isin(keys: _*)), DedupOps.bandedSigs(batch))
    assertPlantedInFilter(literalForm, t, "bh", "literal form")
    def flagsOf(df: DataFrame): Set[(Long, Long, Int)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val flags = flagsOf(probe)
    assert(flags == flagsOf(literalForm), s"$flags vs ${flagsOf(literalForm)}")
    assert(flags.map(f => f._1 -> f._2) == (1L to 6L).map(i => (100L + i) -> i * 5).toSet,
      s"each copy must flag against its original: $flags")
  }

  test("DedupGate: a gated batch releases every per-batch checkpoint block") {
    import spark.implicits._
    import graft.streaming.DedupGate
    DedupGate.writeSigIndex(spark,
      Seq(1L -> gateText("a")).toDF("doc_id", "text"), "dedup_gate_idx4", nBuckets = 8)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    DedupGate.gateBatch("dedup_gate_idx4", (df, _) => { df.collect(): Unit })(
      Seq(20L -> gateText("a"), 21L -> gateText("q")).toDF("doc_id", "text"), 0L)
    val leaked = (sc.getPersistentRDDs.keySet -- before).size
    assert(leaked == 0,
      s"gateBatch left $leaked persisted blocks; an indefinite stream would accumulate them")
    // the decision-row gate pins the whole batch: the pin frees too, on a
    // batch with inserts and on one with none (the no-data trigger shape)
    val seen = scala.collection.mutable.Map.empty[Long, String]
    def decisions(rows: Seq[(Long, String, String)]): Unit =
      DedupGate.gateDecisions("dedup_gate_idx4", (df, _) =>
        df.collect().foreach(r => seen(r.getAs[Long]("doc_id")) = r.getAs[String]("decision")))(
        rows.toDF("doc_id", "decision", "text"), 1L)
    decisions(Seq((30L, "insert", gateText("a")), (31L, "short", "tiny"),
      (32L, "insert", gateText("r"))))
    decisions(Seq((33L, "short", "tiny too")))
    assert(seen == Map(30L -> "near_dup", 31L -> "short", 32L -> "insert", 33L -> "short"),
      s"gateDecisions decisions wrong: $seen")
    val leakedDecisions = (sc.getPersistentRDDs.keySet -- before).size
    assert(leakedDecisions == 0,
      s"gateDecisions left $leakedDecisions persisted blocks (the pinned batch frame)")
  }

  test("DedupGate: signature append is replay-safe and stays bucket-pruned") {
    import spark.implicits._
    import graft.streaming.DedupGate
    DedupGate.writeSigIndex(spark,
      Seq(1L -> gateText("a")).toDF("doc_id", "text"), "dedup_gate_idx3", nBuckets = 8)
    val novel = Seq(5L -> gateText("n")).toDF("doc_id", "text")
    assert(DedupGate.appendNewSigsIdempotent(spark, novel, "dedup_gate_idx3") == 1L)
    // replay (foreachBatch at-least-once): the same docs append nothing
    assert(DedupGate.appendNewSigsIdempotent(spark, novel, "dedup_gate_idx3") == 0L)
    val rows = spark.table("dedup_gate_idx3")
    assert(rows.count() == 2L * DedupGate.NBands, "exactly one banded row set per doc")
    // a duplicate of the appended doc is flagged through pruned buckets
    val probe = DedupGate.flagDuplicates(spark,
      Seq(6L -> gateText("n")).toDF("doc_id", "text"), "dedup_gate_idx3")
    assertBucketPruning(probe, "dedup_gate_idx3", "probe after append")
    assert(probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq(6L -> 5L))
    // through the gate: doc 5 re-delivered with DIFFERENT text keeps its
    // original rows (the replay check is by doc_id); only the novel doc 7
    // appends
    def atRest() = {
      spark.catalog.refreshTable("dedup_gate_idx3")
      spark.table("dedup_gate_idx3").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getSeq[Long](3))).toSet
    }
    val before = atRest()
    DedupGate.gateBatchWithinAware("dedup_gate_idx3", (df, _) => { df.collect(): Unit })(
      Seq(5L -> gateText("changed"), 7L -> gateText("fresh")).toDF("doc_id", "text"), 0L)
    val added = atRest() -- before
    assert(added.map(_._1) == Set(7L) && added.size == DedupGate.NBands,
      s"a doc_id at rest must not re-index, the novel doc must: ${added.map(_._1)}")
  }

  test("DedupGate: an empty micro-batch passes the within-aware gate without touching the index") {
    import spark.implicits._
    import graft.streaming.DedupGate
    DedupGate.writeSigIndex(spark,
      Seq(1L -> gateText("em")).toDF("doc_id", "text"), "dedup_gate_empty", nBuckets = 8)
    var rows = -1L
    DedupGate.gateBatchWithinAware("dedup_gate_empty",
      (df, _) => { rows = df.count() })(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), 0L)
    assert(rows == 0L, "empty batch must still reach onBatch, empty")
    assert(spark.table("dedup_gate_empty").select("doc_id").distinct().count() == 1L,
      "empty batch must append nothing")
    // the percept and embed within-aware gates: onBatch gets the empty
    // frame with the annotated schema and column order, the gate itself
    // runs no job beyond pinning the batch (no sign, probe or append),
    // and no persisted RDD survives
    import graft.streaming.{EmbedGate, PerceptGate}
    import graft.operators.VectorOps
    import org.apache.spark.sql.types._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    PerceptGate.writeCodeIndex(spark,
      Seq(1L -> p5(rising)).toDF("doc_id", "payload"), "percept_gate_empty", nBuckets = 8)
    VectorOps.writeLshIndexFrom(spark,
      Seq(1L -> axis(0)).toDF("vec_id", "embedding"), "embed_gate_empty", nBuckets = 8)
    val sc = spark.sparkContext
    val phase = "graft.test.gatePhase"
    val gateJobs = new java.util.concurrent.atomic.AtomicInteger()
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val ended = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        started.incrementAndGet()
        if (Option(e.properties).forall(_.getProperty(phase) != "sink")) gateJobs.incrementAndGet()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = { ended.incrementAndGet(): Unit }
    }
    def quiesce(): Unit = {
      val deadline = System.nanoTime() + 10000000000L
      var last = -1
      while (System.nanoTime() < deadline && !(started.get == ended.get && started.get == last)) {
        last = started.get
        Thread.sleep(150)
      }
    }
    def emptyGate(name: String, expected: Seq[(String, DataType)])(
        gate: ((DataFrame, Long) => Unit) => Unit): Unit = {
      var schema: StructType = null
      var n = -1L
      val before = sc.getPersistentRDDs.keySet
      quiesce()
      gateJobs.set(0)
      gate { (df, _) =>
        sc.setLocalProperty(phase, "sink")
        try { schema = df.schema; n = df.count() } finally sc.setLocalProperty(phase, null)
      }
      quiesce()
      assert(n == 0L, s"$name: empty batch must still reach onBatch, empty")
      assert(schema.fields.toSeq.map(f => (f.name, f.dataType)) == expected,
        s"$name: annotated schema drifted: ${schema.simpleString}")
      assert(gateJobs.get <= 1,
        s"$name: an empty batch may run only the pin job, ran ${gateJobs.get}")
      assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
        s"$name: a persisted RDD survived the batch")
    }
    sc.addSparkListener(listener)
    try {
      emptyGate("percept", Seq("doc_id" -> LongType, "payload" -> BinaryType,
        "dup_of" -> LongType, "hamming" -> IntegerType, "is_dup" -> BooleanType)) { onBatch =>
        PerceptGate.gateBatchWithinAware("percept_gate_empty", onBatch)(
          Seq.empty[(Long, Array[Byte])].toDF("doc_id", "payload"), 0L)
      }
      emptyGate("embed", Seq("vec_id" -> LongType, "embedding" -> ArrayType(FloatType, false),
        "dup_of" -> LongType, "sim" -> DoubleType, "is_degenerate" -> BooleanType,
        "is_dup" -> BooleanType)) { onBatch =>
        EmbedGate.gateBatchWithinAware("embed_gate_empty", onBatch)(
          Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"), 0L)
      }
    } finally sc.removeSparkListener(listener)
    spark.catalog.refreshTable("percept_gate_empty")
    spark.catalog.refreshTable("embed_gate_empty")
    assert(spark.table("percept_gate_empty").select("doc_id").distinct().count() == 1L &&
      spark.table("embed_gate_empty").count() == 1L, "empty batches must append nothing")
  }

  test("DedupGate: a doc delivered twice in one batch indexes one banded row set") {
    import spark.implicits._
    import graft.streaming.DedupGate
    DedupGate.writeSigIndex(spark,
      Seq(1L -> gateText("tw")).toDF("doc_id", "text"), "dedup_gate_twin", nBuckets = 8)
    // at-least-once sources re-emit rows: the same (doc_id, text) twice
    DedupGate.gateBatch("dedup_gate_twin", (df, _) => { df.collect(): Unit })(
      Seq(40L -> gateText("twin"), 40L -> gateText("twin")).toDF("doc_id", "text"), 0L)
    spark.catalog.refreshTable("dedup_gate_twin")
    val rows = spark.table("dedup_gate_twin")
      .filter(org.apache.spark.sql.functions.col("doc_id") === 40L).count()
    assert(rows == DedupGate.NBands.toLong,
      s"the twin rows must index once: $rows rows for ${DedupGate.NBands} bands")
  }

  test("DedupGate: sigIndexStaleness grows with appends and resets on rebuild") {
    import spark.implicits._
    import graft.streaming.DedupGate
    def batch(ids: Seq[Long]) = ids.map(i => i -> gateText(s"st$i")).toDF("doc_id", "text")
    DedupGate.writeSigIndex(spark, batch(1L to 10L), "dedup_gate_stale", nBuckets = 8)
    assert(DedupGate.sigIndexStaleness(spark, "dedup_gate_stale") == 0.0,
      "a freshly built index must be 0-stale")
    assert(DedupGate.appendNewSigsIdempotent(spark, batch(11L to 15L), "dedup_gate_stale") == 5L)
    val s1 = DedupGate.sigIndexStaleness(spark, "dedup_gate_stale")
    assert(math.abs(s1 - 0.5) < 1e-9, s"5 appends over base 10 must read 0.5, got $s1")
    assert(DedupGate.appendNewSigsIdempotent(spark, batch(16L to 18L), "dedup_gate_stale") == 3L)
    val s2 = DedupGate.sigIndexStaleness(spark, "dedup_gate_stale")
    assert(s2 > s1 && math.abs(s2 - 0.8) < 1e-9, s"staleness must grow with appends, got $s2")
    // rebuild over the grown corpus resets the base — the rebuild trigger cycle
    DedupGate.writeSigIndex(spark, batch(1L to 18L), "dedup_gate_stale", nBuckets = 8)
    assert(DedupGate.sigIndexStaleness(spark, "dedup_gate_stale") == 0.0,
      "rebuild must reset staleness")
  }

  test("DedupGate: signature-only in-place rebuild compacts, re-buckets, resets, and fences") {
    import spark.implicits._
    import graft.streaming.DedupGate
    import graft.operators.IndexTable
    def batch(ids: Seq[Long]) = ids.map(i => i -> gateText(s"rb$i")).toDF("doc_id", "text")
    DedupGate.writeSigIndex(spark, batch(1L to 6L), "dedup_gate_rebuild", nBuckets = 8)
    assert(DedupGate.appendNewSigsIdempotent(spark, batch(7L to 14L), "dedup_gate_rebuild") == 8L)
    spark.catalog.refreshTable("dedup_gate_rebuild")
    val rowsBefore = spark.table("dedup_gate_rebuild").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getSeq[Long](3))).toSet
    val filesBefore = spark.table("dedup_gate_rebuild").inputFiles.length
    assert(DedupGate.sigIndexStaleness(spark, "dedup_gate_rebuild") > 1.0,
      "appends past the base must read stale")
    val epochBefore = IndexTable.current(spark, "dedup_gate_rebuild")

    DedupGate.rebuildSigIndex(spark, "dedup_gate_rebuild", nBuckets = 16)

    // row identity: the rebuild moves bytes, it must not change ONE signature
    val rowsAfter = spark.table("dedup_gate_rebuild").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getSeq[Long](3))).toSet
    assert(rowsAfter == rowsBefore, "rebuild changed signature rows")
    // compaction: the append slivers collapse into ≤ nBuckets files
    val filesAfter = spark.table("dedup_gate_rebuild").inputFiles.length
    assert(filesAfter <= 16 && filesAfter < filesBefore,
      s"rebuild must compact append files: $filesBefore -> $filesAfter")
    // staleness base resets to the rebuilt corpus
    assert(DedupGate.sigIndexStaleness(spark, "dedup_gate_rebuild") == 0.0,
      "rebuild must reset staleness")
    // probes still flag and still file-prune on the re-bucketed layout
    val probe = DedupGate.flagDuplicates(spark,
      Seq(100L -> gateText("rb9")).toDF("doc_id", "text"), "dedup_gate_rebuild")
    assertBucketPruning(probe, "dedup_gate_rebuild", "probe after rebuild")
    assert(probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq(100L -> 9L))
    // the staging table does not linger
    assert(!spark.catalog.tableExists("dedup_gate_rebuild_rebuild"),
      "rebuild staging table must be dropped")
    // rebuild owns the index: an appender whose span straddles it fails loudly
    assert(IndexTable.current(spark, "dedup_gate_rebuild") > epochBefore,
      "rebuild must advance the epoch")
    val ex = intercept[java.util.ConcurrentModificationException] {
      IndexTable.bump(spark, "dedup_gate_rebuild", epochBefore)
    }
    assert(ex.getMessage.contains("epoch"), s"stale appender must fail on the epoch: ${ex.getMessage}")
    // and a FRESH append over the rebuilt index works
    assert(DedupGate.appendNewSigsIdempotent(spark, batch(15L to 15L), "dedup_gate_rebuild") == 1L)
  }

  test("DedupGate: a rebuild that crashes between drop and rename is finished by the next check or rebuild") {
    import spark.implicits._
    import graft.operators.IndexTable
    import graft.streaming.DedupGate
    def batch(ids: Seq[Long]) = ids.map(i => i -> gateText(s"cw$i")).toDF("doc_id", "text")
    def rowsOf(t: String) = {
      spark.catalog.refreshTable(t)
      spark.table(t).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getSeq[Long](3))).toSet
    }
    // the finisher: a gate check (the lazy probe builds one) or the next rebuild
    Seq[(String, String => Unit)](
      "check" -> (t => DedupGate.flagDuplicates(spark, batch(Seq(200L)), t).collect(): Unit),
      "rebuild" -> (t => DedupGate.rebuildSigIndex(spark, t, nBuckets = 8))
    ).foreach { case (finisher, finish) =>
      val t = s"dedup_gate_swap_$finisher"
      val staging = t + "_rebuild"
      DedupGate.writeSigIndex(spark, batch(1L to 6L), t, nBuckets = 8)
      assert(DedupGate.appendNewSigsIdempotent(spark, batch(7L to 12L), t) == 6L)
      val rowsBefore = rowsOf(t)
      val epochBefore = IndexTable.current(spark, t)
      // crash after the staged write: the table is untouched
      intercept[RuntimeException](DedupGate.rebuildSigIndex(spark, t, 8, failAfterPhase = 1))
      assert(spark.catalog.tableExists(t) && rowsOf(t) == rowsBefore &&
        IndexTable.current(spark, t) == epochBefore, s"$finisher: a staged crash touched the table")
      // crash after the drop: no table, a complete staging table
      intercept[RuntimeException](DedupGate.rebuildSigIndex(spark, t, 8, failAfterPhase = 2))
      assert(!spark.catalog.tableExists(t) && spark.catalog.tableExists(staging),
        s"$finisher: fixture: the crash must fall between the drop and the rename")
      finish(t)
      assert(spark.catalog.tableExists(t), s"$finisher must restore the table")
      assert(rowsOf(t) == rowsBefore, s"$finisher restored different rows")
      assert(!spark.catalog.tableExists(staging), s"$finisher left the staging table")
      assert(IndexTable.current(spark, t) > epochBefore, s"$finisher must advance the epoch")
      assert(IndexTable.recordedIds(spark, t) == Some(12L) &&
        DedupGate.sigIndexStaleness(spark, t) == 0.0, s"$finisher must reset staleness")
      // the restored index probes and appends as before
      assert(DedupGate.flagDuplicates(spark, batch(Seq(300L)), t).collect().isEmpty)
      assert(DedupGate.appendNewSigsIdempotent(spark, batch(13L to 13L), t) == 1L)
    }
  }

  test("DedupGate: a contract-breaking batch fails loudly at the probe-literal bound") {
    import spark.implicits._
    import graft.streaming.DedupGate
    DedupGate.writeSigIndex(spark,
      Seq(1L -> gateText("pb")).toDF("doc_id", "text"), "dedup_gate_bound", nBuckets = 8)
    spark.conf.set("graft.dedupGate.maxProbeLiterals", "8")
    try {
      // 5 distinct docs × 4 bands ⇒ up to 20 distinct band hashes > 8
      val big = (100L to 104L).map(i => i -> gateText(s"pb$i")).toDF("doc_id", "text")
      val ex = intercept[IllegalArgumentException] {
        DedupGate.flagDuplicates(spark, big, "dedup_gate_bound").collect()
      }
      assert(ex.getMessage.contains("band hashes"),
        s"bound violation must name the contract: ${ex.getMessage}")
      // a conforming batch still probes under the tightened bound
      val ok = DedupGate.flagDuplicates(spark,
        Seq(200L -> gateText("pb")).toDF("doc_id", "text"), "dedup_gate_bound")
      assert(ok.collect().map(_.getLong(1)).toSeq == Seq(1L))

      // the gate body checks the bound on its own driver-local path, and
      // before it collects a banded row: no action whose plan signs the
      // text may be a `collect`, and nothing reaches the sink or the index
      val events = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          events.add((f, qe.analyzed.toString))
        def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        // events arrive asynchronously and in order: a marker action sets
        // off the earlier probes' late events from the gate's own
        spark.range(1).toDF("gate_bound_marker").count()
        var sunk = false
        val ex2 = intercept[IllegalArgumentException] {
          DedupGate.gateBatchWithinAware("dedup_gate_bound", (_, _) => sunk = true)(big, 0L)
        }
        assert(ex2.getMessage.contains("band hashes") && !sunk,
          s"gate bound violation must fail before the sink: ${ex2.getMessage}")
        def gateActions = events.asScala.toSeq
          .dropWhile(e => !e._2.contains("gate_bound_marker")).drop(1)
          .map(e => (e._1, e._2.contains("minhash_shingle_sig")))
        // the signing count that fires the bound is the gate's last action
        val deadline = System.nanoTime() + 10000000000L
        while (!gateActions.contains(("count", true)) && System.nanoTime() < deadline)
          Thread.sleep(50)
        assert(gateActions.contains(("count", true)),
          s"the bound must be checked by a bounded count: $gateActions")
        assert(!gateActions.contains(("collect", true)),
          s"banded rows were collected before the bound fired: $gateActions")
      } finally spark.listenerManager.unregister(listener)
      spark.catalog.refreshTable("dedup_gate_bound")
      assert(spark.table("dedup_gate_bound").select("doc_id").distinct().count() == 1L,
        "a batch over the bound must append nothing")
    } finally spark.conf.unset("graft.dedupGate.maxProbeLiterals")
  }

  test("DedupGate: a malformed or non-positive probe-literal conf fails naming the key") {
    import spark.implicits._
    import graft.streaming.DedupGate
    DedupGate.writeSigIndex(spark,
      Seq(1L -> gateText("pc")).toDF("doc_id", "text"), "dedup_gate_conf", nBuckets = 8)
    val probe = Seq(900L -> gateText("pc")).toDF("doc_id", "text")
    for (bad <- Seq("banana", "0", "-3")) {
      spark.conf.set("graft.dedupGate.maxProbeLiterals", bad)
      try {
        val ex = intercept[IllegalArgumentException] {
          DedupGate.flagDuplicates(spark, probe, "dedup_gate_conf").collect()
        }
        assert(ex.getMessage.contains("graft.dedupGate.maxProbeLiterals"),
          s"error for conf value '$bad' must name the conf key: ${ex.getMessage}")
      } finally spark.conf.unset("graft.dedupGate.maxProbeLiterals")
    }
  }

  test("DedupGate: within-aware gate indexes exactly one of two near-dup siblings arriving together") {
    import spark.implicits._
    import graft.streaming.DedupGate
    DedupGate.writeSigIndex(spark,
      Seq(1L -> gateText("wa")).toDF("doc_id", "text"), "dedup_gate_within", nBuckets = 8)
    val sib = gateText("sib")
    val sibNear = sib.split(" ").init.mkString(" ") + " zz" // last token differs: near-dup
    val batch = Seq(301L -> sib, 302L -> sibNear,
      303L -> gateText("wa"), 304L -> gateText("nov")).toDF("doc_id", "text")
    val seen = scala.collection.mutable.Map.empty[Long, (Boolean, Option[Long])]
    DedupGate.gateBatchWithinAware("dedup_gate_within", (df, _) =>
      df.collect().foreach { r =>
        seen(r.getAs[Long]("doc_id")) = (r.getAs[Boolean]("is_dup"),
          Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue()))
      })(batch, 0L)
    assert(seen(301L) == (false, None), "min-id sibling must survive")
    assert(seen(302L) == (true, Some(301L)), "the larger-id sibling must flag against the smaller")
    assert(seen(303L) == (true, Some(1L)), "index dups must still flag")
    assert(seen(304L) == (false, None), "novel docs must pass")
    val atRest = spark.table("dedup_gate_within").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(atRest == Set(1L, 301L, 304L),
      s"exactly one sibling (the min-id one) must index: $atRest")
  }

  /** Unique aperiodic filler for span-gate fixtures (no K-gram recurs). */
  private def sgFiller(tag: Char, len: Int): String =
    (0 until len).map(i => ('a' + ((i * 7 + tag.toInt * 13) % 26)).toChar)
      .zipWithIndex.map { case (c, i) => if (i % 5 == 0) tag else c }.mkString

  test("SpanGate: eval-gram index probe is file-pruned, leak spans carry eval coordinates") {
    import spark.implicits._
    import graft.operators.SpanOps
    import graft.streaming.SpanGate
    val K = SpanOps.GramK
    val floor = K + SpanOps.WinnowW - 1 // 44: the deterministic detection floor
    val runA = (('A' to 'Z') ++ ('a' to 'r')).mkString // 44 distinct chars
    val runB = (('0' to '9') ++ ('A' to 'Z')).mkString // 36 chars < floor... pad:
    val runB2 = runB + "#$%&+=@^" // 44 distinct chars
    assert(runA.length == floor && runB2.length == floor)
    val evalDocs = Seq(
      9001L -> (sgFiller('p', 50) + runA + sgFiller('q', 40)),
      9002L -> (sgFiller('r', 35) + runB2 + sgFiller('s', 60))).toDF("doc_id", "text")
    SpanGate.writeEvalGramIndex(spark, evalDocs, "span_gate_idx", nBuckets = 8)
    val batch = Seq(
      1L -> (sgFiller('t', 62) + runA + sgFiller('u', 45)), // leaks eval 9001
      2L -> sgFiller('v', 150), // clean
      3L -> (sgFiller('w', 30) + runB2 + sgFiller('x', 33))) // leaks eval 9002
      .toDF("doc_id", "text")
    val flags = SpanGate.flagLeakSpans(spark, batch, "span_gate_idx")
    assertBucketPruning(flags, "span_gate_idx", "eval-gram sparse probe")
    assertPlantedInFilter(flags, "span_gate_idx", "gh",
      "sparse probe must plant the literal gh filter (the pruning source)")
    val rows = flags.collect()
    val byDoc = rows.groupBy(_.getLong(0))
    assert(!byDoc.contains(2L), "clean doc must not flag")
    // doc 1: a span inside [63, 63+44) implicating eval 9001 at pos 51
    val s1 = byDoc(1L)
    assert(s1.exists { r =>
      r.getAs[Long]("span_start") >= 63 && r.getAs[Long]("span_end") <= 63 + floor &&
        r.getAs[Long]("first_eval") == 9001L && r.getAs[Long]("first_eval_pos") >= 51 &&
        r.getAs[Long]("first_eval_pos") + K <= 51 + floor + 1
    }, s"doc 1 leak span wrong: ${s1.toSeq}")
    val s3 = byDoc(3L)
    assert(s3.exists(r => r.getAs[Long]("first_eval") == 9002L), s"doc 3: ${s3.toSeq}")

    // maintenance: a NEW benchmark appends idempotently and becomes probe-visible
    val runC = (('a' to 'z') ++ ('A' to 'R')).mkString
    assert(runC.length == floor)
    val newEval = Seq(9003L -> (sgFiller('y', 42) + runC + sgFiller('z', 55))).toDF("doc_id", "text")
    val probe4 = Seq(4L -> (sgFiller('k', 48) + runC + sgFiller('m', 71))).toDF("doc_id", "text")
    assert(SpanGate.flagLeakSpans(spark, probe4, "span_gate_idx").count() == 0,
      "runC must not flag before its benchmark is indexed")
    assert(SpanGate.appendEvalDocsIdempotent(spark, newEval, "span_gate_idx") == 1L)
    assert(SpanGate.appendEvalDocsIdempotent(spark, newEval, "span_gate_idx") == 0L,
      "replayed append must be a no-op")
    val after = SpanGate.flagLeakSpans(spark, probe4, "span_gate_idx")
    assert(after.collect().exists(_.getAs[Long]("first_eval") == 9003L),
      "appended benchmark must be probe-visible")
    assertBucketPruning(after, "span_gate_idx", "probe after eval append")

    // DENSE batch (> ProbeLiteralPlanMax distinct gram hashes): the
    // probe must NOT plant tens of thousands of gh literals — that was
    // the r14 3.9 s/batch driver-planning cost, and with every bucket
    // hit the literals prune nothing — it switches to the plain index
    // scan filtered by the broadcast mark join (r15)
    val denseText = {
      var x = 12345L
      Array.fill(30000) {
        x = x * 6364136223846793005L + 1442695040888963407L
        ('a' + ((x >>> 33) % 26).toInt).toChar
      }.mkString
    }
    val dense = Seq(5L -> denseText).toDF("doc_id", "text")
    assert(SpanOps.winnowSites(dense).select("gh").distinct().count() >
      SpanGate.ProbeLiteralPlanMax, "dense fixture must exceed the literal-plan ceiling")
    val denseFlags = SpanGate.flagLeakSpans(spark, dense, "span_gate_idx")
    // Assert the STRUCTURAL facts, not plan-string rendering (r15 ADVICE;
    // the shared class-level helpers): the index scan must plant no
    // bucket-pruning subset and no gh literal list — the r14 driver-cost
    // trap — and the mark join must be the broadcast hash join.
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val nodes = flattenPlan(denseFlags.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"dense probe must filter the index scan through the broadcast mark join:\n" +
        denseFlags.queryExecution.executedPlan)
    val idxScans = bucketScansOf(denseFlags, "span_gate_idx")
    idxScans.foreach { s =>
      assert(s.optionalBucketSet.forall(_.cardinality() == 8),
        "dense probe must not plant a bucket-pruning subset (all buckets are hit anyway)")
      val planted = (s.dataFilters ++ s.partitionFilters).exists(_.exists {
        case i: In => i.list.size > 16
        case i: InSet => i.hset.size > 16
        case _ => false
      })
      assert(!planted, "dense probe must not carry the gh literal set in the scan filters")
    }
    assert(denseFlags.count() == 0, "random text must share no 30-gram with the eval docs")
    // rows per eval doc are stable under replay (no duplicate sites)
    spark.catalog.refreshTable("span_gate_idx")
    val siteCounts = spark.table("span_gate_idx").groupBy("eval_doc", "gh", "gh2", "eval_pos")
      .count().filter(org.apache.spark.sql.functions.col("count") > 1).count()
    assert(siteCounts == 0, "idempotent append must never duplicate index rows")

    // epoch guard: an appender whose span a rebuild/append interleaved fails loudly
    val epochA = graft.operators.IndexTable.current(spark, "span_gate_idx")
    SpanGate.appendEvalDocsIdempotent(spark,
      Seq(9004L -> (sgFiller('e', 40) + runC)).toDF("doc_id", "text"), "span_gate_idx")
    val rowsNow = spark.table("span_gate_idx").count()
    val boom = intercept[java.util.ConcurrentModificationException] {
      SpanGate.appendEvalDocsIdempotent(spark,
        Seq(9005L -> (sgFiller('f', 40) + runC)).toDF("doc_id", "text"), "span_gate_idx",
        beganEpoch = Some(epochA))
    }
    assert(boom.getMessage.contains("ONE sequential maintainer"), boom.getMessage)
    spark.catalog.refreshTable("span_gate_idx")
    assert(spark.table("span_gate_idx").count() == rowsNow,
      "the failed appender must write no rows")
    // a geometry-mismatched index fails validation loudly
    spark.createDataFrame(Seq((K + 1, SpanOps.WinnowW, 1L, SpanOps.SelectionTag)))
      .toDF("gram_k", "winnow_w", "base_n", "sel_tag")
      .write.mode("overwrite").format("parquet").saveAsTable("span_gate_idx_meta")
    val bad = intercept[IllegalArgumentException] {
      SpanGate.flagLeakSpans(spark, probe4, "span_gate_idx")
    }
    assert(bad.getMessage.contains("selection constants"), bad.getMessage)
    // same geometry, different selection-scheme tag (hash/tie constants
    // changed) also fails — the r14 advice gap: (gram_k, winnow_w) alone
    // would pass while selected sites silently diverge
    spark.createDataFrame(Seq((K, SpanOps.WinnowW, 1L, "poly31-fmix64(0,0)-tie-rightmost")))
      .toDF("gram_k", "winnow_w", "base_n", "sel_tag")
      .write.mode("overwrite").format("parquet").saveAsTable("span_gate_idx_meta")
    val badTag = intercept[IllegalArgumentException] {
      SpanGate.flagLeakSpans(spark, probe4, "span_gate_idx")
    }
    assert(badTag.getMessage.contains("different hash/tie"), badTag.getMessage)
    // a pre-sel_tag meta table (no tag column) is unverifiable → rebuild
    spark.sql("DROP TABLE span_gate_idx_meta")
    spark.createDataFrame(Seq((K, SpanOps.WinnowW, 1L)))
      .toDF("gram_k", "winnow_w", "base_n")
      .write.mode("overwrite").format("parquet").saveAsTable("span_gate_idx_meta")
    val badCol = intercept[IllegalArgumentException] {
      SpanGate.flagLeakSpans(spark, probe4, "span_gate_idx")
    }
    assert(badCol.getMessage.contains("pre-sel_tag"), badCol.getMessage)
  }

  test("SpanGate: a contract-breaking batch fails at the probe-literal bound, naming the key, before its sites are collected") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    import graft.streaming.SpanGate
    SpanGate.writeEvalGramIndex(spark,
      Seq(9101L -> sgFiller('b', 120)).toDF("doc_id", "text"), "span_gate_bound", nBuckets = 8)
    val big = Seq(11L -> sgFiller('c', 400), 12L -> sgFiller('d', 400)).toDF("doc_id", "text")
    assert(graft.operators.SpanOps.winnowSites(big).select("gh").distinct().count() > 8,
      "fixture vacuous: the batch must select more than 8 distinct gram hashes")
    spark.conf.set("graft.spanGate.maxProbeLiterals", "8")
    // every action this session runs, in order: (name — a marker's own
    // column name for the marker actions —, its plan selects winnow
    // sites, its plan is bounded by a limit)
    val events = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean, Boolean)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        val plan = qe.analyzed.toString
        val marker = "span_bound_marker_\\d+".r.findFirstIn(plan)
        events.add((marker.getOrElse(f), plan.contains("winnow_select"), plan.contains("GlobalLimit")))
      }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    // events arrive asynchronously and in order: marker actions before
    // and after `body` set its events off from every other action's
    var nMarks = 0
    def mark(): String = {
      nMarks += 1
      val m = s"span_bound_marker_$nMarks"
      spark.range(1).toDF(m).count()
      val deadline = System.nanoTime() + 10000000000L
      while (!events.asScala.exists(_._1 == m) && System.nanoTime() < deadline) Thread.sleep(50)
      assert(events.asScala.exists(_._1 == m), s"marker $m never arrived")
      m
    }
    // the winnow-selecting actions `body` ran before the bound fired in it
    def failsAtBound(body: => Unit): Seq[(String, Boolean, Boolean)] = {
      val before = mark()
      val ex = intercept[IllegalArgumentException](body)
      assert(ex.getMessage.contains("graft.spanGate.maxProbeLiterals"),
        s"the bound violation must name the conf key: ${ex.getMessage}")
      val after = mark()
      events.asScala.toSeq.dropWhile(_._1 != before).drop(1).takeWhile(_._1 != after)
        .filter(_._2)
    }
    spark.listenerManager.register(listener)
    try {
      // the lazy form: only its bounded distinct-key collect reads the sites
      val lazyActions = failsAtBound {
        SpanGate.flagLeakSpans(spark, big, "span_gate_bound").collect()
      }
      assert(lazyActions.nonEmpty && lazyActions.forall(_._3),
        s"flagLeakSpans may only read the sites under a limit: $lazyActions")
      // the gate body: a bounded count fires the bound before any collect
      var sunk = false
      val gateActions = failsAtBound {
        SpanGate.spanGateDecisions("span_gate_bound", (_, _) => sunk = true)(
          big.withColumn("decision", lit("insert")), 0L)
      }
      assert(!sunk, "a batch over the bound must not reach the sink")
      assert(gateActions.contains(("count", true, true)),
        s"the gate must check the bound by a bounded count: $gateActions")
      assert(gateActions.forall(_._3),
        s"the gate collected its sites before the bound fired: $gateActions")
      // a conforming batch still probes under the tightened bound
      assert(SpanGate.flagLeakSpans(spark,
        Seq(13L -> sgFiller('e', 50)).toDF("doc_id", "text"), "span_gate_bound").count() == 0L)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.unset("graft.spanGate.maxProbeLiterals")
    }
  }

  test("charlm persisted model scores the training corpus row-identically to the inline key") {
    graft.operators.HygieneOps.writeCharLmTable(spark, sfDir, "charlm_model_b")
    val persisted = graft.operators.HygieneOps
      .charlmScoreWithTable(spark, sfDir, "charlm_model_b").collect()
    val inline = SparkEntry.queries("charlm_quality")(spark, sfDir).collect()
    assert(persisted.length == inline.length && persisted.nonEmpty)
    assert(persisted.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      inline.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq,
      "train-once path must reproduce the inline key exactly")
  }

  // ---- PerceptGate (r19): the perceptual dedup family's ONLINE member ----

  /** P5 grayscale raster, 4 wide × rows.length tall: the AutoFrameDecoder
    * profile is exactly the per-row means — the MultimodalSpec fixture.
    */
  private def p5(rows: Array[Int]): Array[Byte] =
    s"P5\n4 ${rows.length}\n255\n".getBytes("US-ASCII") ++
      rows.flatMap(v => Array.fill(4)(v.toByte))
  /** Rising gradient; its dHash is far (>3) from its reverse. */
  private val rising: Array[Int] = Array.tabulate(64)(r => r * 4)
  private def nearDupOf(rows: Array[Int]): Array[Byte] = {
    val p = rows.clone(); p(31) = (p(31) + 20) % 256; p5(p)
  }

  test("PerceptGate: streaming gate flags cross-batch image dups against the growing index") {
    import spark.implicits._
    import graft.streaming.PerceptGate
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    PerceptGate.writeCodeIndex(spark,
      Seq(1L -> p5(rising)).toDF("doc_id", "payload"), "percept_gate_idx", nBuckets = 8)

    val input = MemoryStream[(Long, Array[Byte])](
      implicitly[org.apache.spark.sql.Encoder[(Long, Array[Byte])]], spark.sqlContext)
    val seen = new scala.collection.concurrent.TrieMap[Long, (Boolean, Option[Long], Option[Int])]()
    val checkpoint = java.nio.file.Files.createTempDirectory("graft-pgate-ckpt").toString
    def phase(batch: Seq[(Long, Array[Byte])]): Unit = {
      input.addData(batch)
      val q = input.toDS().toDF("doc_id", "payload").writeStream
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(PerceptGate.gateBatch("percept_gate_idx", (df, _) =>
          df.collect().foreach { r =>
            seen.put(r.getAs[Long]("doc_id"), (r.getAs[Boolean]("is_dup"),
              Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue()),
              Option(r.getAs[java.lang.Integer]("hamming")).map(_.intValue())))
          }) _)
        .start()
      q.awaitTermination()
    }
    // batch 1: doc 10 is a near-identical raster of seed doc 1; doc 11
    // (the inverted gradient) is novel
    phase(Seq(10L -> nearDupOf(rising), 11L -> p5(rising.reverse)))
    // batch 2: doc 12 near-dups doc 11 — only findable via batch 1's append
    phase(Seq(12L -> nearDupOf(rising.reverse)))

    assert(seen(10L)._1 && seen(10L)._2 == Some(1L) && seen(10L)._3.exists(_ <= 3),
      s"10: ${seen.get(10L)}")
    assert(seen(11L) == ((false, None, None)), s"11: ${seen.get(11L)}")
    assert(seen(12L)._1 && seen(12L)._2 == Some(11L) && seen(12L)._3.exists(_ <= 3),
      s"12: ${seen.get(12L)}")
    // dedup policy: flagged docs are NOT indexed — one representative per
    // perceptual class at rest
    spark.catalog.refreshTable("percept_gate_idx")
    val atRest = spark.table("percept_gate_idx").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(atRest == Set(1L, 11L), s"index ids drifted: $atRest")
  }

  test("PerceptGate: within-batch siblings resolve to one indexed representative; replay appends nothing") {
    import spark.implicits._
    import graft.streaming.PerceptGate
    PerceptGate.writeCodeIndex(spark,
      Seq(1L -> p5(rising)).toDF("doc_id", "payload"), "percept_gate_within", nBuckets = 8)
    // two sibling dups of a NOVEL raster arrive in ONE batch (plus the
    // batch's own copy of an indexed raster)
    val inverted = rising.reverse
    val batch = Seq(
      20L -> p5(inverted), 21L -> nearDupOf(inverted), 30L -> nearDupOf(rising))
      .toDF("doc_id", "payload")
    val seen = scala.collection.mutable.Map[Long, (Boolean, Option[Long])]()
    def run(): Unit = PerceptGate.gateBatchWithinAware("percept_gate_within", (df, _) =>
      df.collect().foreach { r =>
        seen.put(r.getAs[Long]("doc_id"), (r.getAs[Boolean]("is_dup"),
          Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue())))
      })(batch, 0L)
    run()
    assert(seen(20L) == ((false, None)), s"min-id sibling must survive: ${seen.get(20L)}")
    assert(seen(21L) == ((true, Some(20L))), s"larger-id sibling must flag: ${seen.get(21L)}")
    assert(seen(30L) == ((true, Some(1L))), s"index dup must flag: ${seen.get(30L)}")
    spark.catalog.refreshTable("percept_gate_within")
    val ids = spark.table("percept_gate_within").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 20L), s"exactly the min-id sibling indexes: $ids")
    val rows0 = spark.table("percept_gate_within").count()
    assert(rows0 == 2L * PerceptGate.NBands, "one banded row set per indexed doc")
    // replay (foreachBatch at-least-once): the index is replay-stable
    run()
    spark.catalog.refreshTable("percept_gate_within")
    assert(spark.table("percept_gate_within").count() == rows0,
      "replayed batch must append nothing")
  }

  test("PerceptGate: probe prunes index buckets via planted bk literals; verified hamming gates the flag") {
    import spark.implicits._
    import graft.streaming.PerceptGate
    PerceptGate.writeCodeIndex(spark,
      (1L to 8L).map(i => i -> p5(Array.tabulate(64)(r => (r * (2 * i.toInt + 1) + i.toInt * 37) % 256)))
        .toDF("doc_id", "payload"),
      "percept_gate_prune", nBuckets = 8)
    val probe = PerceptGate.flagDuplicates(spark,
      Seq(100L -> p5(Array.tabulate(64)(r => (r * 7 + 3 * 37) % 256))).toDF("doc_id", "payload"),
      "percept_gate_prune")
    assertBucketPruning(probe, "percept_gate_prune", "percept probe")
    assertPlantedInFilter(probe, "percept_gate_prune", "bk", "percept probe")
    val got = probe.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.map(g => (g._1, g._2)).toSeq == Seq(100L -> 3L) && got.forall(_._3 <= 3),
      s"the identical-structure raster must flag with verified hamming <= 3: ${got.toSeq}")
    // verification layer on synthetic banded rows: a band collision with
    // true hamming > 3 is a candidate, never a flag
    val index = Seq((1L, 0, 0x00AAL, 0x00AAL), (3L, 1, 0x0BB0L, 0x0BB00AA0L))
      .toDF("doc_id", "band_id", "bk", "code")
    val batch = Seq((9L, 0, 0x00AAL, 0xFF0F00AAL), (8L, 1, 0x0BB0L, 0x0BB00AA1L))
      .toDF("doc_id", "band_id", "bk", "code")
    val flags = PerceptGate.checkAgainst(index, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(flags == Set((8L, 3L, 1)),
      s"band collision at hamming 12 must not flag; hamming 1 must: $flags")
  }

  test("PerceptGate: degenerate payloads are never flagged and never indexed; gate leaks no blocks") {
    import spark.implicits._
    import graft.streaming.PerceptGate
    PerceptGate.writeCodeIndex(spark,
      Seq(1L -> p5(rising)).toDF("doc_id", "payload"), "percept_gate_degen", nBuckets = 8)
    // a flood of flat icons + one real near-dup; pre-policy the flood
    // would chain at hamming 0
    val flood = (0 until 10).map(i => (50L + i) -> p5(Array.fill(3 + i % 4)(i * 20 % 256)))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var flagged: Set[Long] = null
    PerceptGate.gateBatchWithinAware("percept_gate_degen", (df, _) =>
      flagged = df.filter(org.apache.spark.sql.functions.col("is_dup"))
        .collect().map(_.getAs[Long]("doc_id")).toSet)(
      (flood :+ (90L -> nearDupOf(rising))).toDF("doc_id", "payload"), 0L)
    assert(flagged == Set(90L), s"only the real near-dup flags: $flagged")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "gate must release every per-batch checkpoint block")
    spark.catalog.refreshTable("percept_gate_degen")
    val ids = spark.table("percept_gate_degen").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L), s"degenerate payloads must not index: $ids")
    // empty batch: reaches onBatch empty, touches nothing
    var rows = -1L
    PerceptGate.gateBatchWithinAware("percept_gate_degen",
      (df, _) => { rows = df.count() })(
      Seq.empty[(Long, Array[Byte])].toDF("doc_id", "payload"), 1L)
    assert(rows == 0L, "empty batch must still reach onBatch, empty")
  }

  test("PerceptGate: staleness grows with appends, in-place rebuild compacts/resets/fences") {
    import spark.implicits._
    import graft.streaming.PerceptGate
    import graft.operators.IndexTable
    def raster(i: Long) = p5(Array.tabulate(64)(r => (r * (2 * i.toInt + 1) + i.toInt * 53) % 256))
    def batch(ids: Seq[Long]) = ids.map(i => i -> raster(i)).toDF("doc_id", "payload")
    PerceptGate.writeCodeIndex(spark, batch(1L to 4L), "percept_gate_stale", nBuckets = 8)
    assert(PerceptGate.codeIndexStaleness(spark, "percept_gate_stale") == 0.0)
    assert(PerceptGate.appendNewCodesIdempotent(spark, batch(5L to 6L), "percept_gate_stale") == 2L)
    assert(PerceptGate.appendNewCodesIdempotent(spark, batch(5L to 6L), "percept_gate_stale") == 0L,
      "replayed append must be a no-op")
    val s1 = PerceptGate.codeIndexStaleness(spark, "percept_gate_stale")
    assert(math.abs(s1 - 0.5) < 1e-9, s"2 appends over base 4 must read 0.5: $s1")
    assert(PerceptGate.appendNewCodesIdempotent(spark, batch(7L to 8L), "percept_gate_stale") == 2L)
    val s2 = PerceptGate.codeIndexStaleness(spark, "percept_gate_stale")
    assert(math.abs(s2 - 1.0) < 1e-9, s"staleness must keep growing: $s2")
    val filesBefore = spark.table("percept_gate_stale").inputFiles.length
    val rowsBefore = spark.table("percept_gate_stale").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val epochBefore = IndexTable.current(spark, "percept_gate_stale")
    PerceptGate.rebuildCodeIndex(spark, "percept_gate_stale", nBuckets = 8)
    val rowsAfter = spark.table("percept_gate_stale").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(rowsAfter == rowsBefore, "rebuild changed code rows")
    assert(spark.table("percept_gate_stale").inputFiles.length < filesBefore,
      "rebuild must compact append slivers")
    assert(PerceptGate.codeIndexStaleness(spark, "percept_gate_stale") == 0.0,
      "rebuild must reset staleness")
    assert(!spark.catalog.tableExists("percept_gate_stale_rebuild"),
      "rebuild staging must drop")
    intercept[java.util.ConcurrentModificationException] {
      IndexTable.bump(spark, "percept_gate_stale", epochBefore)
    }
    // geometry validation: a foreign-geometry meta fails loudly
    spark.createDataFrame(Seq((8, 8, 3, 4L)))
      .toDF("n_bands", "band_bits", "max_hamming", "base_n")
      .write.mode("overwrite").format("parquet")
      .saveAsTable(PerceptGate.metaTableFor("percept_gate_stale"))
    val ex = intercept[IllegalArgumentException] {
      PerceptGate.flagDuplicates(spark,
        Seq(100L -> raster(1L)).toDF("doc_id", "payload"), "percept_gate_stale")
    }
    assert(ex.getMessage.contains("geometry"), ex.getMessage)
  }

  // ---- EmbedGate (r19): the embedding dedup family's ONLINE member ----

  /** Axis direction i in dim 64 (the LshBucket hyperplane dim), scaled —
    * a positive scalar multiple has the SAME LSH bucket (hyperplane
    * signs depend only on direction) and cosine exactly 1 with its base,
    * so flag/bucket behavior is deterministic regardless of the seeded
    * hyperplanes.
    */
  private def axis(i: Int, scale: Float = 1f): Array[Float] =
    Array.tabulate(64)(d => if (d == i) scale else 0f)

  test("EmbedGate: streaming gate flags cross-batch cosine dups against the growing LSH index") {
    import spark.implicits._
    import graft.streaming.EmbedGate
    import graft.operators.VectorOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    VectorOps.writeLshIndexFrom(spark,
      (0 to 3).map(i => (i + 1).toLong -> axis(i)).toDF("vec_id", "embedding"),
      "embed_gate_idx", nBuckets = 8)

    val input = MemoryStream[(Long, Array[Float])](
      implicitly[org.apache.spark.sql.Encoder[(Long, Array[Float])]], spark.sqlContext)
    val seen = new scala.collection.concurrent.TrieMap[Long, (Boolean, Option[Long])]()
    val checkpoint = java.nio.file.Files.createTempDirectory("graft-egate-ckpt").toString
    def phase(batch: Seq[(Long, Array[Float])]): Unit = {
      input.addData(batch)
      val q = EmbedGate.gatedIndexMaintenance(
        input.toDS().toDF("vec_id", "embedding"), "embed_gate_idx",
        (df, _) => df.collect().foreach { r =>
          seen.put(r.getAs[Long]("vec_id"), (r.getAs[Boolean]("is_dup"),
            Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue())))
        })
        .option("checkpointLocation", checkpoint)
        .start()
      q.awaitTermination()
    }
    // batch 1: vec 10 is a scaled copy of seed vec 1 (cosine 1); vec 11
    // is a novel direction
    phase(Seq(10L -> axis(0, 2f), 11L -> axis(4)))
    // batch 2: vec 12 duplicates vec 11 — only findable via batch 1's append
    phase(Seq(12L -> axis(4, 3f)))

    assert(seen(10L) == ((true, Some(1L))), s"10: ${seen.get(10L)}")
    assert(seen(11L) == ((false, None)), s"11: ${seen.get(11L)}")
    assert(seen(12L) == ((true, Some(11L))), s"12: ${seen.get(12L)}")
    // dedup policy: flagged vectors are NOT indexed — the ANN index keeps
    // one representative per duplicate direction
    spark.catalog.refreshTable("embed_gate_idx")
    val atRest = spark.table("embed_gate_idx").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(atRest == Set(1L, 2L, 3L, 4L, 11L), s"index ids drifted: $atRest")
    // the artifact stays the standard LSH index shape — the same table
    // ann_lsh_indexed-style probes and the ungated maintainer consume
    assert(spark.table("embed_gate_idx").columns.toSeq ==
      Seq("vec_id", "embedding", "nrm", "bucket"))
  }

  test("EmbedGate: within-batch siblings resolve to one indexed vector; flood self-limits; replay appends nothing") {
    import spark.implicits._
    import graft.streaming.EmbedGate
    import graft.operators.VectorOps
    VectorOps.writeLshIndexFrom(spark,
      Seq(1L -> axis(0)).toDF("vec_id", "embedding"), "embed_gate_within", nBuckets = 8)
    // a FLOOD of one novel direction (70..74) + a dup of an indexed
    // direction, all in ONE batch
    val batch = ((0 until 5).map(i => (70L + i) -> axis(6, 1f + i)) :+ (30L -> axis(0, 5f)))
      .toDF("vec_id", "embedding")
    val seen = scala.collection.mutable.Map[Long, (Boolean, Option[Long])]()
    var timings: graft.streaming.GateStageTimings = null
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def run(): Unit = EmbedGate.gateBatchWithinAware("embed_gate_within", (df, _) =>
      df.collect().foreach { r =>
        seen.put(r.getAs[Long]("vec_id"), (r.getAs[Boolean]("is_dup"),
          Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue())))
      }, onTimings = t => timings = t)(batch, 0L)
    run()
    assert(seen(70L) == ((false, None)), s"min-id flood member must survive: ${seen.get(70L)}")
    (71L to 74L).foreach { i =>
      assert(seen(i) == ((true, Some(70L))), s"flood member $i must flag to the rep: ${seen.get(i)}")
    }
    assert(seen(30L) == ((true, Some(1L))), s"index dup must flag: ${seen.get(30L)}")
    assert(timings.appended == 1L, s"only the flood rep indexes: ${timings}")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "gate must release every per-batch checkpoint block")
    spark.catalog.refreshTable("embed_gate_within")
    val ids = spark.table("embed_gate_within").select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 70L), s"exactly the flood representative indexes: $ids")
    // replay (foreachBatch at-least-once): the index is replay-stable,
    // and a fully-replayed batch appends zero rows
    run()
    assert(timings.appended == 0L, s"replay must append nothing: $timings")
    spark.catalog.refreshTable("embed_gate_within")
    assert(spark.table("embed_gate_within").count() == 2L, "replayed batch must append nothing")
  }

  test("EmbedGate: probe prunes index buckets; true cosine gates the flag; zero-norm never flags") {
    import spark.implicits._
    import graft.streaming.EmbedGate
    import graft.operators.VectorOps
    VectorOps.writeLshIndexFrom(spark,
      (0 to 7).map(i => (i + 1).toLong -> axis(i)).toDF("vec_id", "embedding"),
      "embed_gate_prune", nBuckets = 8)
    // scaled copies of every seed: ≥ 2 distinct buckets, so the sparse
    // probe plants a multi-literal In filter (one bucket would optimize
    // isin to EqualTo and make the planted-filter assert vacuous)
    val probe = EmbedGate.flagDuplicates(spark,
      (0 to 7).map(i => (100L + i) -> axis(i, 2f + i)).toDF("vec_id", "embedding"),
      "embed_gate_prune")
    assertBucketPruning(probe, "embed_gate_prune", "embed probe")
    assertPlantedInFilter(probe, "embed_gate_prune", "bucket", "embed probe")
    val got = probe.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.toSeq == (0 to 7).map(i => (100L + i, i + 1L, 1.0)),
      s"each scaled copy must flag against its base at cosine 1: ${got.toSeq}")
    // verification layer on synthetic sig rows: a bucket collision below
    // the cosine threshold is a candidate, never a flag
    def sig(id: Long, e: Array[Float], bucket: Long) =
      (id, e, math.sqrt(e.map(x => x.toDouble * x).sum), bucket)
    val index = Seq(sig(1L, axis(0), 7L), sig(2L, axis(1), 7L))
      .toDF("vec_id", "embedding", "nrm", "bucket")
    val batch = Seq(sig(9L, axis(0, 2f), 7L), sig(8L, axis(1, -1f), 7L))
      .toDF("vec_id", "embedding", "nrm", "bucket")
    val flags = EmbedGate.checkAgainst(index, batch, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flags == Set(9L -> 1L),
      s"orthogonal/antiparallel bucket collisions must not flag; the parallel pair must: $flags")
    // ZERO-NORM guard: cosine of a zero vector is 0/0 = NaN, and Spark
    // orders NaN above every number — unguarded, `sim >= t` would flag a
    // zero vector against everything in its bucket
    val zidx = Seq(sig(1L, Array.fill(64)(0f), 3L), sig(2L, axis(5), 3L))
      .toDF("vec_id", "embedding", "nrm", "bucket")
    val zbatch = Seq(sig(9L, Array.fill(64)(0f), 3L))
      .toDF("vec_id", "embedding", "nrm", "bucket")
    assert(EmbedGate.checkAgainst(zidx, zbatch, 0.9).isEmpty,
      "zero-norm rows must never flag (NaN cosine)")
    // meta-less index: the gate cannot validate its signature width
    spark.sql("DROP TABLE IF EXISTS embed_gate_prune_meta")
    val ex = intercept[IllegalStateException] {
      EmbedGate.flagDuplicates(spark,
        Seq(101L -> axis(1)).toDF("vec_id", "embedding"), "embed_gate_prune")
    }
    assert(ex.getMessage.contains("meta"), ex.getMessage)
  }

  test("EmbedGate: within-batch dup_of chains resolve to the surviving representative (r19 ADVICE)") {
    import spark.implicits._
    import graft.streaming.EmbedGate
    import graft.operators.VectorOps
    // A < B < C with sim(C,B) > sim(C,A): C's STRONGEST match is B, but
    // B itself flags against A — dup_of must chase to A, the vector
    // actually at rest
    def vec(second: Float): Array[Float] =
      Array.tabulate(64)(d => if (d == 0) 1f else if (d == 1) second else 0f)
    val (a, b, c) = (vec(0f), vec(0.1f), vec(0.18f))
    def cos(x: Array[Float], y: Array[Float]): Double = {
      def dot(p: Array[Float], q: Array[Float]) =
        p.zip(q).map { case (u, v) => u.toDouble * v }.sum
      dot(x, y) / math.sqrt(dot(x, x) * dot(y, y))
    }
    assert(cos(c, b) > cos(c, a) && cos(c, a) > 0.9 && cos(b, a) > 0.9,
      s"fixture vacuous: need a chain with C's strongest match = B " +
        s"(got ${cos(c, b)}, ${cos(c, a)}, ${cos(b, a)})")
    VectorOps.writeLshIndexFrom(spark,
      Seq(1L -> axis(9)).toDF("vec_id", "embedding"), "embed_gate_chain", nBuckets = 8)
    val nBits = VectorOps.loadLshMeta(spark, "embed_gate_chain").get._1
    val batch = Seq(70L -> a, 71L -> b, 72L -> c).toDF("vec_id", "embedding")
    assert(EmbedGate.withSigs(batch, nBits).select("bucket").distinct().count() == 1L,
      "fixture vacuous: the chain must share one LSH bucket")
    val seen = scala.collection.mutable.Map[Long, (Option[Long], Option[Double])]()
    var timings: graft.streaming.GateStageTimings = null
    EmbedGate.gateBatchWithinAware("embed_gate_chain", (df, _) =>
      df.collect().foreach { r =>
        seen.put(r.getAs[Long]("vec_id"),
          (Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue()),
            Option(r.getAs[java.lang.Double]("sim")).map(_.doubleValue())))
      }, onTimings = t => timings = t)(batch, 0L)
    assert(seen(70L)._1.isEmpty, s"the min-id member survives: ${seen.get(70L)}")
    assert(seen(71L)._1.contains(70L), s"B flags to A: ${seen.get(71L)}")
    assert(seen(72L)._1.contains(70L),
      s"C's dup_of must resolve THROUGH its strongest match B to A: ${seen.get(72L)}")
    // sim stays the measured strongest-match similarity (vs B, not A)
    assert(seen(72L)._2.exists(s => math.abs(s - cos(c, b)) < 1e-6),
      s"C's sim must be the strongest-match cosine ${cos(c, b)}: ${seen.get(72L)}")
    assert(timings.appended == 1L, s"only the representative indexes: $timings")
    spark.catalog.refreshTable("embed_gate_chain")
    assert(spark.table("embed_gate_chain").select("vec_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 70L), "exactly A joins the seed at rest")
  }

  test("EmbedGate: zero-norm arrivals are flagged degenerate and never indexed (r19 ADVICE)") {
    import spark.implicits._
    import graft.streaming.EmbedGate
    import graft.operators.VectorOps
    VectorOps.writeLshIndexFrom(spark,
      Seq(1L -> axis(0)).toDF("vec_id", "embedding"), "embed_gate_zero", nBuckets = 8)
    val batch = Seq(80L -> Array.fill(64)(0f), 81L -> axis(3)).toDF("vec_id", "embedding")
    val seen = scala.collection.mutable.Map[Long, (Boolean, Boolean)]()
    var timings: graft.streaming.GateStageTimings = null
    def run(): Unit = EmbedGate.gateBatchWithinAware("embed_gate_zero", (df, _) =>
      df.collect().foreach { r =>
        seen.put(r.getAs[Long]("vec_id"),
          (r.getAs[Boolean]("is_dup"), r.getAs[Boolean]("is_degenerate")))
      }, onTimings = t => timings = t)(batch, 0L)
    run()
    assert(seen(80L) == ((false, true)),
      s"a zero vector is degenerate, not a dup: ${seen.get(80L)}")
    assert(seen(81L) == ((false, false)), s"81: ${seen.get(81L)}")
    assert(timings.appended == 1L, s"only the real vector indexes: $timings")
    spark.catalog.refreshTable("embed_gate_zero")
    val ids = spark.table("embed_gate_zero").select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 81L), s"the zero vector must never reach the index: $ids")
    // a zero-vector FLOOD cannot accumulate: the re-arrival appends nothing
    run()
    assert(timings.appended == 0L && seen(80L)._2,
      s"replayed zero vector: flagged degenerate again, still not indexed: $timings")
    spark.catalog.refreshTable("embed_gate_zero")
    assert(spark.table("embed_gate_zero").count() == 2L)
  }

  test("NearDup: a checked batch with no row left to index reads no epoch and runs no append") {
    import spark.implicits._
    import graft.streaming.{EmbedGate, GateStageTimings, PerceptGate}
    import graft.operators.{IndexTable, VectorOps}
    PerceptGate.writeCodeIndex(spark,
      Seq(1L -> p5(rising)).toDF("doc_id", "payload"), "percept_gate_noappend", nBuckets = 8)
    VectorOps.writeLshIndexFrom(spark,
      Seq(1L -> axis(0)).toDF("vec_id", "embedding"), "embed_gate_noappend", nBuckets = 8)
    // every action this session runs, in order, by its analyzed plan
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        events.add(qe.analyzed.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = events.add(qe.analyzed.toString)
    }
    // the plans of the actions `body` runs: events arrive asynchronously
    // and in order, so marker actions before and after set them off
    def actionsOf(tag: String)(body: => Unit): Seq[String] = {
      def mark(m: String): Unit = {
        spark.range(1).toDF(m).count()
        val deadline = System.nanoTime() + 10000000000L
        while (!events.asScala.exists(_.contains(m)) && System.nanoTime() < deadline)
          Thread.sleep(50)
        assert(events.asScala.exists(_.contains(m)), s"marker $m never arrived")
      }
      mark(tag + "_before")
      body
      mark(tag + "_after")
      events.asScala.toSeq.dropWhile(!_.contains(tag + "_before")).drop(1)
        .takeWhile(!_.contains(tag + "_after"))
    }
    // an epoch read runs no Spark job: a local file system counting the
    // listings of epoch marker directories makes it visible
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    hadoopConf.set("fs.file.impl", classOf[EpochListingCountingFs].getName)
    hadoopConf.setBoolean("fs.file.impl.disable.cache", true)
    EpochListingCountingFs.listings.set(0)
    spark.listenerManager.register(listener)
    try {
      var timings: GateStageTimings = null
      // a copy of the indexed vector (flags) and a zero vector (never
      // signed): nothing is left to index
      val embed = actionsOf("embed_noappend") {
        EmbedGate.gateBatchWithinAware("embed_gate_noappend", (df, _) => { df.collect(): Unit },
          onTimings = t => timings = t)(
          Seq(90L -> axis(0), 91L -> Array.fill(64)(0f)).toDF("vec_id", "embedding"), 0L)
      }
      assert(timings.appended == 0L && timings.probeSec > 0.0,
        s"the batch must be probed and append nothing: $timings")
      assert(embed.exists(_.contains("embed_gate_noappend")), s"fixture vacuous: no probe ran: $embed")
      assert(EpochListingCountingFs.listings.get == 0,
        "an append with nothing to index must not run (it read the epoch)")
      // flat icons dHash to no code: the batch is checked, nothing signs
      PerceptGate.gateBatchWithinAware("percept_gate_noappend", (df, _) => { df.collect(): Unit },
        onTimings = t => timings = t)(
        (0 until 3).map(i => (50L + i) -> p5(Array.fill(3 + i)(i * 20 % 256)))
          .toDF("doc_id", "payload"), 0L)
      assert(timings.appended == 0L, s"flat icons must append nothing: $timings")
      assert(EpochListingCountingFs.listings.get == 0,
        "an append with nothing to index must not run (it read the epoch)")
      assert(IndexTable.current(spark, "percept_gate_noappend") > 0L &&
        EpochListingCountingFs.listings.get > 0,
        "fixture: the counting file system must see an epoch read")
    } finally {
      spark.listenerManager.unregister(listener)
      hadoopConf.unset("fs.file.impl")
      hadoopConf.unset("fs.file.impl.disable.cache")
    }
    spark.catalog.refreshTable("embed_gate_noappend")
    assert(spark.table("embed_gate_noappend").count() == 1L, "the LSH index must be unchanged")
  }

  test("Survivors.chase: chains chase to the terminal id, cycles stop without self-pointers, values survive") {
    import org.apache.spark.sql.Row
    import graft.streaming.Survivors
    // chain C(3)->B(2)->A(1), A unflagged; D(9) points at an at-rest id
    val flags = Seq(Row(3L, 2L, 0.97), Row(2L, 1L, 0.95), Row(9L, 100L, 0.91))
    val r = Survivors.chase(flags, 0, 1)
    assert(r.forall(_.length == 3), "row arity must be preserved exactly")
    val got = r.map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    assert(got(3L) == ((1L, 0.97)), s"chain resolves, value column untouched: $got")
    assert(got(2L) == ((1L, 0.95)) && got(9L) == ((100L, 0.91)), s"$got")
    // replay 2-cycle 5<->9: the walk stops at the re-entry edge and
    // never emits dup_of == own id
    val cyc = Survivors.chase(Seq(Row(5L, 9L, 1.0), Row(9L, 5L, 1.0)), 0, 1)
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(cyc(5L) != 5L && cyc(9L) != 9L, s"no self-pointers under cycles: $cyc")
    // empty flags stay empty
    assert(Survivors.chase(Nil, 0, 1).isEmpty)
  }

  test("PerceptGate: within-batch dup_of chains resolve to the surviving representative (r20)") {
    import spark.implicits._
    import graft.streaming.PerceptGate
    import graft.operators.MultimodalOps
    // on the rising gradient a +20 bump of an isolated row flips exactly
    // one profile bit: X=rising, Y=X+bump(15) (hamming 1), Z=X+bumps
    // (15,40,45,50) (hamming 3 vs Y, 4 vs X) — Z's only flag is Y, and
    // Y itself flags against X, the classic chain
    def bumped(rows: Int*): Array[Byte] = {
      val p = rising.clone(); rows.foreach(r => p(r) = (p(r) + 20) % 256); p5(p)
    }
    val (x, y, z) = (p5(rising), bumped(15), bumped(15, 40, 45, 50))
    val codes = MultimodalOps.perceptualCodes(spark,
      Seq(70L -> x, 71L -> y, 72L -> z).toDF("doc_id", "payload"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def h(a: Long, b: Long) = java.lang.Long.bitCount(codes(a) ^ codes(b))
    assert(h(70L, 71L) <= 3 && h(71L, 72L) <= 3 && h(70L, 72L) > 3,
      s"fixture vacuous: need a chain (got ${h(70L, 71L)}, ${h(71L, 72L)}, ${h(70L, 72L)})")
    PerceptGate.writeCodeIndex(spark,
      Seq(1L -> p5(rising.reverse)).toDF("doc_id", "payload"),
      "percept_gate_chain", nBuckets = 8)
    val seen = scala.collection.mutable.Map[Long, (Option[Long], Option[Int])]()
    var timings: graft.streaming.GateStageTimings = null
    PerceptGate.gateBatchWithinAware("percept_gate_chain", (df, _) =>
      df.collect().foreach { r =>
        seen.put(r.getAs[Long]("doc_id"),
          (Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue()),
            Option(r.getAs[java.lang.Integer]("hamming")).map(_.intValue())))
      }, onTimings = t => timings = t)(
      Seq(70L -> x, 71L -> y, 72L -> z).toDF("doc_id", "payload"), 0L)
    assert(seen(70L)._1.isEmpty, s"the min-id member survives: ${seen.get(70L)}")
    assert(seen(71L)._1.contains(70L), s"Y flags to X: ${seen.get(71L)}")
    assert(seen(72L)._1.contains(70L) && seen(72L)._2.contains(h(71L, 72L)),
      s"Z resolves THROUGH Y to X, hamming stays the strongest-match " +
        s"distance ${h(71L, 72L)}: ${seen.get(72L)}")
    spark.catalog.refreshTable("percept_gate_chain")
    assert(spark.table("percept_gate_chain").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet == Set(1L, 70L),
      "exactly X joins the seed at rest")
  }

  test("purge reaches the r19 gate indexes: a purged identity stops flagging and re-enters through the gate") {
    import spark.implicits._
    import graft.streaming.{EmbedGate, PerceptGate}
    import graft.operators.{IndexPurge, VectorOps}
    import org.apache.spark.sql.functions.col
    // --- percept code index: one doc identity = NBands banded rows ---
    PerceptGate.writeCodeIndex(spark,
      Seq(1L -> p5(rising), 2L -> p5(rising.reverse)).toDF("doc_id", "payload"),
      "purge_percept", nBuckets = 8)
    val pre = PerceptGate.flagDuplicates(spark,
      Seq(50L -> nearDupOf(rising)).toDF("doc_id", "payload"), "purge_percept").collect()
    assert(pre.map(_.getLong(1)).toSeq == Seq(1L), "the copy must flag pre-purge")
    assert(IndexPurge.purge(spark, "purge_percept", "doc_id", Seq(1L)) ==
      PerceptGate.NBands.toLong, "a doc purge removes all its banded rows")
    spark.catalog.refreshTable("purge_percept")
    // the SAME arrival no longer flags — the gate cannot resurrect a
    // purged identity — and it re-enters the index as the new rep
    var pFlagged = -1L
    PerceptGate.gateBatchWithinAware("purge_percept",
      (df, _) => pFlagged = df.filter(col("is_dup")).count())(
      Seq(50L -> nearDupOf(rising)).toDF("doc_id", "payload"), 0L)
    assert(pFlagged == 0L, "purged identity must not flag the re-arrival")
    spark.catalog.refreshTable("purge_percept")
    val pIds = spark.table("purge_percept").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(pIds == Set(2L, 50L), s"re-arrival must index after the purge: $pIds")
    // the purged-and-regrown index still bucket-prunes its probes
    assertBucketPruning(PerceptGate.flagDuplicates(spark,
      Seq(51L -> p5(rising.reverse)).toDF("doc_id", "payload"), "purge_percept"),
      "purge_percept", "percept probe after purge")
    // --- EmbedGate's LSH index: the same story at the vector grain ---
    VectorOps.writeLshIndexFrom(spark,
      Seq(1L -> axis(0), 2L -> axis(1)).toDF("vec_id", "embedding"),
      "purge_embed", nBuckets = 8)
    assert(EmbedGate.flagDuplicates(spark,
      Seq(60L -> axis(0, 2f)).toDF("vec_id", "embedding"), "purge_embed").count() == 1L)
    assert(IndexPurge.purge(spark, "purge_embed", "vec_id", Seq(1L)) == 1L)
    var eFlagged = -1L
    EmbedGate.gateBatchWithinAware("purge_embed",
      (df, _) => eFlagged = df.filter(col("is_dup")).count())(
      Seq(60L -> axis(0, 2f)).toDF("vec_id", "embedding"), 0L)
    assert(eFlagged == 0L, "purged vector must not flag the re-arrival")
    spark.catalog.refreshTable("purge_embed")
    val eIds = spark.table("purge_embed").select("vec_id").collect().map(_.getLong(0)).toSet
    assert(eIds == Set(2L, 60L), s"re-arrival must index after the purge: $eIds")
  }

  test("IndexProbe.prunedSlice: empty/sparse/dense shapes per dense policy (r19 verdict task 2)") {
    import spark.implicits._
    import graft.streaming.IndexProbe
    (0L to 9L).map(k => (k, s"v$k")).toDF("bk", "payload")
      .write.mode("overwrite").format("parquet").saveAsTable("probe_helper_t")
    def slice(keys: Seq[Long], cap: Int, dense: IndexProbe.DenseProbePolicy) =
      IndexProbe.prunedSlice(spark, "probe_helper_t", keys.toDF("bk"), "bk", cap, dense)
    // empty batch: a limit(0) slice that keeps the table's REAL schema
    val empty = slice(Nil, 4, IndexProbe.BroadcastSemiJoin)
    assert(empty.columns.toSeq == Seq("bk", "payload") && empty.count() == 0)
    // sparse: literal filter, only matching rows
    assert(slice(Seq(1L, 3L), 4, IndexProbe.BroadcastSemiJoin)
      .select("bk").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // dense + closed domain: the semi-join slice matches what literals would
    assert(slice(Seq(1L, 2L, 3L, 4L, 5L), 4, IndexProbe.BroadcastSemiJoin)
      .select("bk").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // dense + open domain: the gate's contract message surfaces verbatim
    val ex = intercept[IllegalArgumentException] {
      slice(Seq(1L, 2L, 3L, 4L, 5L), 4, IndexProbe.FailFast("contract broken"))
    }
    assert(ex.getMessage == "contract broken")
    // dense + mark-join caller: plain scan up to the hard cap, fail above it
    assert(slice(Seq(1L, 2L, 3L, 4L, 5L), 4,
      IndexProbe.PlainScanUpTo(8, "too many")).count() == 10)
    val ex2 = intercept[IllegalArgumentException] {
      slice((1L to 9L).toSeq, 4, IndexProbe.PlainScanUpTo(8, "too many"))
    }
    assert(ex2.getMessage == "too many")
  }
}

/** A local file system counting listings of index epoch marker
  * directories (`<location>.epoch`): an epoch read runs no Spark job, so
  * this is how a test sees one.
  */
class EpochListingCountingFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    if (f.getName.endsWith(".epoch")) EpochListingCountingFs.listings.incrementAndGet()
    super.listStatus(f)
  }
}

object EpochListingCountingFs {
  val listings = new java.util.concurrent.atomic.AtomicInteger()
}
