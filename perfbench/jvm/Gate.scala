package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.{DedupGate, GateStageTimings, StreamMerge}

/** The `ingest_gate` workload: `StreamMerge.gatedIngestPipeline` against
  * a persisted `DedupGate` signature index, fed from a `MemoryStream`.
  *
  * Docs come in four kinds, each with the decision its generator
  * expects: novel concatenations of two corpus docs (`insert`, or
  * `near_dup` when the pair happens to resemble an indexed doc), seed
  * docs with their last token dropped (`near_dup`), exact copies of seed
  * docs (`skip_dup`) and short docs (`short`). No text is offered twice,
  * so the within-watermark exact dedup drops nothing and every offered
  * doc gets exactly one decision.
  *
  * Phases: warm-up batches (part of set-up), a closed-loop drain of
  * fixed-size batches with the staleness-triggered index rebuild between
  * them, then an open loop at a fixed offered rate whose arrival schedule
  * does not slow when the gate does.
  */
object Gate {
  val SeedDocs = 250
  val NovelPerBatch = 194
  val MutantsPerBatch = 2
  val ExactPerBatch = 2
  val ShortPerBatch = 2
  /** Batches before the drain, the gate's cold pass: in a fresh JVM the
    * first batches run well below the drain's speed while the JIT
    * compiles the gate's path.
    */
  val WarmupBatches = 3
  /** The index is rebuilt after the second warm-up batch and again after
    * the third drain batch, so the drain's docs/s carries one rebuild.
    */
  val MinDrainBatches = 4
  /** Open-loop offered rate: half the closed-loop drain rate (docs over
    * the drain's wall, index maintenance included), about 37 docs/s when
    * the benchmark was defined (4-core host, local[2]).
    */
  val OfferedDocsPerSec = 18.0
  /** Latency limit stated for the open-loop tail. */
  val LatencyLimitS = 15.0
  val MinTokens = 10
  val MinQuality = 0.05
  val SigTable = "perfbench_gate_sig_idx"

  private type Doc = (Long, String, java.sql.Timestamp)

  /** The seeded doc supply. */
  final class Supply(seedDocs: IndexedSeq[(Long, String)], rest: IndexedSeq[String], seed: Long) {
    private val rnd = new scala.util.Random(seed ^ 0x5DEECE66DL)
    // mutant sources are long seed docs, so that dropping one token keeps
    // the MinHash signature within the gate's flag threshold
    private val longSeeds = rnd.shuffle(seedDocs.filter(_._2.split(" ").length >= 60))
    private val copySeeds = rnd.shuffle(seedDocs)
    private val pairs = rnd.shuffle(for {
      i <- rest.indices; j <- rest.indices if i != j
    } yield (i, j)).iterator
    private var nMutant = 0
    private var nCopy = 0
    private var nShort = 0
    private var nNovel = 0
    val kind = mutable.HashMap.empty[Long, String]

    private def tag(id: Long, k: String): Long = { kind(id) = k; id }

    def novel(): (Long, String) = {
      val (i, j) = pairs.next()
      nNovel += 1
      (tag(5000000L + nNovel, "novel"), rest(i) + " " + rest(j))
    }
    def mutant(): (Long, String) = {
      require(nMutant < longSeeds.size, "mutant supply exhausted")
      val (_, t) = longSeeds(nMutant)
      nMutant += 1
      (tag(1000000L + nMutant, "mutant"), t.substring(0, t.lastIndexOf(' ')))
    }
    def copy(): (Long, String) = {
      require(nCopy < copySeeds.size, "exact-copy supply exhausted")
      val (_, t) = copySeeds(nCopy)
      nCopy += 1
      (tag(2000000L + nCopy, "exact"), t)
    }
    def short(): (Long, String) = {
      nShort += 1
      (tag(3000000L + nShort, "short"), s"tiny doc $nShort")
    }
    /** One closed-loop batch, in a seeded order. */
    def batch(): Seq[(Long, String)] = rnd.shuffle(
      Seq.fill(NovelPerBatch)(novel()) ++ Seq.fill(MutantsPerBatch)(mutant()) ++
        Seq.fill(ExactPerBatch)(copy()) ++ Seq.fill(ShortPerBatch)(short()))
    /** One open-loop arrival, drawn with the batch mix's proportions. */
    def arrival(): (Long, String) = {
      val n = NovelPerBatch + MutantsPerBatch + ExactPerBatch + ShortPerBatch
      val u = rnd.nextInt(n)
      if (u < MutantsPerBatch) mutant()
      else if (u < MutantsPerBatch + ExactPerBatch) copy()
      else if (u < MutantsPerBatch + ExactPerBatch + ShortPerBatch) short()
      else novel()
    }
    def expGap(rate: Double): Double = -math.log(1.0 - rnd.nextDouble()) / rate
  }

  def expected(kind: String, decision: String): Boolean = kind match {
    case "novel" => decision == "insert" || decision == "near_dup"
    case "mutant" => decision == "near_dup"
    case "exact" => decision == "skip_dup"
    case "short" => decision == "short"
    case _ => false
  }

  def run(spark: SparkSession, ctx: Ctx, inDir: String): Map[String, Any] = {
    import spark.implicits._
    val tracer = ctx.tracer
    val probe = ctx.probe
    val corpus = spark.read.parquet(s"$inDir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val order = new scala.util.Random(ctx.seed).shuffle(corpus.toIndexedSeq)
    val (seedDocs, rest) = order.splitAt(SeedDocs)

    // set-up: the signature index and the exact-dup base index
    probe.setOp("setup/index")
    val (baseIdx, indexBuildS) = tracer.span("index_build", "setup/index") {
      DedupGate.writeSigIndex(spark, seedDocs.toDF("doc_id", "text"), SigTable)
      seedDocs.toDF("doc_id", "text")
        .groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("existing_id"))
        .localCheckpoint()
    }
    probe.setOp("")

    val supply = new Supply(seedDocs, rest.map(_._2), ctx.seed)
    val input = MemoryStream[Doc](implicitly[Encoder[Doc]], spark.sqlContext)
    val timings = new ConcurrentLinkedQueue[GateStageTimings]()
    final case class Emit(docId: Long, decision: String, atNs: Long)
    val emitted = new ConcurrentLinkedQueue[Emit]()
    @volatile var offered = 0L
    @volatile var backlogMax = 0L
    @volatile var openLoop = false
    // traced runs force each decision frame's physical plan before the sink
    @volatile var planS = 0.0
    @volatile var planChars = 0L
    val q: StreamingQuery = StreamMerge.gatedIngestPipeline(
      input.toDS().toDF("doc_id", "text", "ts"), baseIdx, SigTable,
      onBatch = (df: DataFrame, _: Long) => {
        if (tracer.enabled) {
          val t0 = System.nanoTime()
          planChars += df.queryExecution.executedPlan.toString.length
          planS += (System.nanoTime() - t0) / 1e9
        }
        val rows = df.select("doc_id", "decision").collect()
        val now = System.nanoTime()
        if (openLoop) backlogMax = math.max(backlogMax, offered - emitted.size)
        rows.foreach(r => emitted.add(Emit(r.getLong(0), r.getString(1), now)))
      },
      minTokens = MinTokens, minQuality = MinQuality,
      onGateTimings = (t: GateStageTimings) => { timings.add(t): Unit })
      .option("checkpointLocation", s"${ctx.runDir}/gate-ckpt")
      .start()

    var tsSec = 100L
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)

    final case class BatchRec(name: String, docs: Int, wallS: Double, maintainS: Double,
        stages: Seq[GateStageTimings], fromMs: Long, toMs: Long, stateRows: Long, indexFiles: Int,
        staleness: Double, rebuilt: Boolean, planS: Double, planChars: Long, cpuS: Double)

    def closedBatch(name: String): BatchRec = {
      val docs = supply.batch()
      tsSec += 1
      val rows = docs.map { case (id, t) => (id, t, at(tsSec)) }
      val before = timings.asScala.map(_.batchId).toSet
      val fromMs = System.currentTimeMillis()
      val cpu0 = Host.cpuS
      planS = 0.0
      planChars = 0L
      var cpuS = 0.0
      val ((wall, toMs, maintS, staleness, files), _) = tracer.span("batch", name) {
        val (_, wall) = tracer.span("trigger", name) {
          offered += rows.size
          input.addData(rows)
          q.processAllAvailable()
        }
        val toMs = System.currentTimeMillis()
        cpuS = Host.cpuS - cpu0
        // the maintenance a production gate runs beside the stream: once
        // appends outgrow the build, rebuild in place. Its jobs carry their
        // own operation label, apart from the trigger's window.
        probe.setOp(s"maintain/$name")
        val ((staleness, files), maintS) = tracer.span("maintain", name) {
          spark.catalog.refreshTable(SigTable)
          val staleness = DedupGate.sigIndexStaleness(spark, SigTable)
          val files = spark.table(SigTable).inputFiles.length
          if (staleness >= 1.0) {
            val docsNow = spark.table(SigTable).select("doc_id").distinct().count()
            DedupGate.rebuildSigIndex(spark, SigTable, math.max(16, math.ceil(docsNow / 250.0).toInt))
          }
          (staleness, files)
        }
        probe.setOp("")
        (wall, toMs, maintS, staleness, files)
      }
      val mine = timings.asScala.toSeq.filterNot(t => before.contains(t.batchId))
      val state = Option(q.lastProgress).map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
      BatchRec(name, rows.size, wall, maintS, mine, fromMs, toMs, state,
        files, staleness, staleness >= 1.0, planS, planChars, cpuS)
    }

    // no heap sample here: its full collections would slow the first
    // drain batch
    val warmups = (0 until WarmupBatches).map(i => closedBatch(s"warmup$i"))

    // closed-loop drain for the measured window
    val drain = mutable.ArrayBuffer.empty[BatchRec]
    val drainStart = System.nanoTime()
    def drainElapsed = (System.nanoTime() - drainStart) / 1e9
    while (drain.size < MinDrainBatches || drainElapsed < ctx.seconds)
      drain += closedBatch(s"drain${drain.size}")
    Heap.sample()

    // traced runs add an open loop of the same length: a generator thread
    // adds each doc at its scheduled arrival, however far behind the gate
    // is. Its per-doc latency is a per-layer metric: with a trigger floor
    // of several seconds, a window this short holds too few triggers for
    // latency to repeat from run to run within an end-to-end bound.
    val openS = if (tracer.enabled) ctx.seconds else 0.0
    val schedule = mutable.ArrayBuffer.empty[(Long, String, Double)] // id, text, due (s)
    var tDue = supply.expGap(OfferedDocsPerSec)
    while (tDue < openS) {
      val (id, text) = supply.arrival()
      schedule += ((id, text, tDue))
      tDue += supply.expGap(OfferedDocsPerSec)
    }
    val openStartNs = System.nanoTime()
    val lateS = mutable.ArrayBuffer.empty[Double]
    val openBase = tsSec + 1
    val gen = new Thread(() => {
      schedule.foreach { case (id, text, due) =>
        val dueNs = openStartNs + (due * 1e9).toLong
        val wait = dueNs - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        lateS.synchronized(lateS += (System.nanoTime() - dueNs) / 1e9)
        offered += 1
        input.addData(Seq((id, text, at(openBase + due.toLong))))
      }
    }, "perfbench-open-loop")
    val (_, openWall) = tracer.span("open_loop", "open") {
      openLoop = true
      gen.start()
      gen.join()
      q.processAllAvailable()
    }
    Heap.sample()
    q.stop()

    // decisions: every offered doc exactly once, with its expected decision
    val byDoc = emitted.asScala.toSeq.groupBy(_.docId)
    val offeredIds = supply.kind.keySet
    val wrong = offeredIds.toSeq.flatMap { id =>
      byDoc.get(id) match {
        case None => Some(s"$id(${supply.kind(id)}): no decision")
        case Some(es) if es.size > 1 => Some(s"$id(${supply.kind(id)}): ${es.size} decisions")
        case Some(Seq(e)) if !expected(supply.kind(id), e.decision) =>
          Some(s"$id(${supply.kind(id)}): ${e.decision}")
        case _ => None
      }
    }
    val decisionCounts = emitted.asScala.toSeq.groupBy(e => (supply.kind.getOrElse(e.docId, "?"), e.decision))
      .map { case ((k, d), es) => s"$k->$d" -> es.size }
    val latencies = schedule.map { case (id, _, due) =>
      byDoc.get(id).map(es => (es.head.atNs - openStartNs) / 1e9 - due)
    }

    if (tracer.enabled) probe.settle()
    spark.catalog.refreshTable(SigTable)
    val indexFiles = spark.table(SigTable).inputFiles.length
    val indexDocs = spark.table(SigTable).select("doc_id").distinct().count()

    def batchMap(b: BatchRec): Map[String, Any] = Map(
      "name" -> b.name, "docs" -> b.docs, "wall_s" -> b.wallS, "maintain_s" -> b.maintainS,
      "docs_per_s" -> b.docs / b.wallS, "cpu_s" -> b.cpuS,
      "triggers" -> b.stages.size, "state_rows" -> b.stateRows,
      "exec" -> (if (tracer.enabled) probe.forWindow(b.fromMs, b.toMs).toMap else null),
      "maintain_exec" -> (if (tracer.enabled) probe.forOp(s"maintain/${b.name}").toMap else null),
      "plan_s" -> b.planS, "plan_chars" -> b.planChars,
      "sig_s" -> b.stages.map(_.sigSec).sum, "probe_s" -> b.stages.map(_.probeSec).sum,
      "append_s" -> b.stages.map(_.appendSec).sum, "sink_s" -> b.stages.map(_.sinkSec).sum,
      "appended" -> b.stages.map(_.appended).sum, "index_files" -> b.indexFiles,
      "staleness" -> b.staleness, "rebuilt" -> b.rebuilt)

    Map(
      "index_build_s" -> indexBuildS,
      "index_build" -> (if (tracer.enabled) probe.forOp("setup/index").toMap else null),
      "warmup" -> warmups.map(batchMap),
      "drain" -> drain.map(batchMap),
      "open_loop" -> Map(
        "offered_docs_per_s" -> OfferedDocsPerSec, "window_s" -> openS, "wall_s" -> openWall,
        "docs" -> schedule.size, "latency_s" -> latencies, "latency_limit_s" -> LatencyLimitS,
        "gen_late_s" -> lateS.toSeq, "backlog_docs_max" -> backlogMax),
      "index" -> Map("files" -> indexFiles, "docs" -> indexDocs,
        "rebuilds" -> (warmups ++ drain).count(_.rebuilt),
        "rebuild_s" -> (warmups ++ drain).filter(_.rebuilt).map(_.maintainS).sum),
      "offered" -> offeredIds.size,
      "wrong" -> wrong.take(50),
      "n_wrong" -> wrong.size,
      "decision_counts" -> decisionCounts,
      "kernels" -> (if (tracer.enabled) Kernels.measure(spark, inDir) else Map.empty))
  }
}
