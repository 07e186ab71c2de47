package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{DedupGate, GateStageTimings, StreamMerge}

/** Throughput record for the flagship streaming composition
  * ([[StreamMerge.gatedIngestPipeline]]): one long-lived query driven
  * batch-by-batch against a GROWING signature index, reporting per-batch
  * docs/s and the gate's per-stage wall timings
  * ([[graft.streaming.GateStageTimings]]).
  *
  * What the record must show (the claims it makes measurable):
  *   - probe cost FLAT on a MAINTAINED index — appends grow bucket
  *     populations and file counts past what the build sized for, so
  *     the bench runs the full maintenance loop: when
  *     [[DedupGate.sigIndexStaleness]] crosses 1.0, an in-place
  *     [[DedupGate.rebuildSigIndex]] compacts the append slivers and
  *     grows the bucket count with the corpus; the summary
  *     `probe_growth` (first-5 vs last-5 batch medians) then reflects
  *     the maintained index, not unbounded decay;
  *   - per-batch cost bounded by BATCH size, not stream history — the
  *     upstream dedup/quality/merge stages are stateless or
  *     watermark-bounded, so `wall` per batch stays level.
  *
  * Batch composition exercises every decision path: ~real novel docs
  * (insert + index), near-dup mutants of seed docs (near_dup via the
  * gate), exact copies of seed docs (skip_dup via the stream-static
  * merge), and too-short docs (short via the quality gate).
  *
  * Stage note: the upstream (exact-dedup + quality + merge) stages are
  * FUSED into the micro-batch plan ahead of the gate — they cannot be
  * timed separately without changing the plan, so the record reports
  * them together as `upstream` = wall − (sig + probe + sink + append).
  *
  * Writes GATE_BENCH.json (per-batch records + summary).
  */
object GateBench {

  val NBatches = 24

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      // micro-batches are small by the gate's contract — 8 shuffle
      // partitions sizes the per-job task floor (and the dedup state
      // store) for batch-sized work instead of corpus-sized work; a
      // production deployment tunes this per trigger size the same way
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft-gate-bench-warehouse").toString)
      // the gate's probes file-prune only with auto-bucketed-scan off
      // (the documented probe-session conf, as in StreamDemo/BucketingSpec)
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    val all = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long"), col("text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val nSeed = math.min(1000, all.length / 2)
    val (seed, rest) = all.splitAt(nSeed)

    val gateTable = "gate_bench_sig_idx"
    DedupGate.writeSigIndex(spark, seed.toSeq.toDF("doc_id", "text"), gateTable)
    // static exact-dup index of the frozen seed corpus, reused every batch
    val baseIdx = seed.toSeq.toDF("doc_id", "text")
      .groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("existing_id"))
      .cache()
    baseIdx.count()

    val NovelPerBatch = 400
    def mutate(text: String): String = {
      val ws = text.split(" ")
      (ws.init :+ "zzqx").mkString(" ")
    }
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // Novel docs are synthesized by CONCATENATING two distinct rest docs
    // (a deterministic (i, i+offset) walk, each pair used once): for
    // SIMILAR-length parents the result shares ~half its shingles with
    // either parent (Jaccard ≈ 0.5, under the ≥12/16-slot flag threshold
    // ≈ 0.75) — an unbounded supply of mostly-novel docs, so batches can
    // be sized to amortize the per-trigger job floor instead of being
    // capped by the corpus row count. The corpus' length skew makes a
    // FRACTION of pairs legitimate near-dups (a pair dominated by one
    // long parent collides with other pairs sharing it) — deliberate:
    // the per-batch near_dup counts then exercise the flag path at
    // realistic rates (~5-12% here, rising as more pairs index) instead
    // of only via the 8 injected mutants.
    def novelText(n: Int): String = {
      val i = n % rest.length
      val o = 1 + n / rest.length
      rest(i)._2 + " " + rest((i + o) % rest.length)._2
    }
    // batch b: synthesized novel docs + 8 near-dup mutants of rotating
    // seed docs + 4 exact seed copies + 3 short docs, ts advancing per batch
    def batchRows(b: Int): Seq[(Long, String, java.sql.Timestamp)] = {
      val ts = at(100L + b)
      val novel = (0 until NovelPerBatch).map { k =>
        (5000000L + b * 1000L + k, novelText(b * NovelPerBatch + k), ts)
      }
      val mutants = (0 until 8).map { i =>
        val (_, t) = seed((b * 8 + i) % seed.length)
        (1000000L + b * 100 + i, mutate(t), ts)
      }
      val exacts = (0 until 4).map { i =>
        val (_, t) = seed((b * 4 + i + 31) % seed.length)
        (2000000L + b * 100 + i, t, ts)
      }
      val shorts = (0 until 3).map(i => (3000000L + b * 100 + i, s"tiny doc $b $i", ts))
      novel ++ mutants ++ exacts ++ shorts
    }
    // Epilogues inject extra docs per batch (contaminated fixtures) under
    // their own id bases; a clash with batchRows' bases would cross-wire
    // the per-doc joins inside the batch SILENTLY. Assert disjointness at
    // every injection site instead of trusting comments about id strides —
    // the r14 scrub-injection clash was exactly a stride edit one comment
    // away from its rationale.
    def withInjected(rows: Seq[(Long, String, java.sql.Timestamp)],
        contam: Seq[(Long, String, java.sql.Timestamp)]): Seq[(Long, String, java.sql.Timestamp)] = {
      val all = rows ++ contam
      require(all.map(_._1).distinct.size == all.size,
        s"injected doc ids clash with generated batch ids: " +
          s"${rows.map(_._1).toSet.intersect(contam.map(_._1).toSet).take(5)}")
      all
    }

    val input = MemoryStream[(Long, String, java.sql.Timestamp)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String, java.sql.Timestamp)]],
      spark.sqlContext)
    val timings = new java.util.concurrent.ConcurrentLinkedQueue[GateStageTimings]()
    val decisionCounts =
      new scala.collection.concurrent.TrieMap[Long, Map[String, Long]]()
    val ckpt = Files.createTempDirectory("graft-gate-bench-ckpt").toString
    val q = StreamMerge.gatedIngestPipeline(
      input.toDS().toDF("doc_id", "text", "ts"), baseIdx, gateTable,
      onBatch = (df: DataFrame, id: Long) => {
        val counts = df.groupBy("decision").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        decisionCounts.put(id, counts): Unit
      },
      // the synthetic corpus scores low on the batch quality formula —
      // thresholds are opened up so the gate (the thing being measured)
      // sees the docs; a few per batch still exercise the short path
      minTokens = 10, minQuality = 0.05,
      onGateTimings = (t: GateStageTimings) => { timings.add(t): Unit })
      .option("checkpointLocation", ckpt)
      .start()

    // one processAllAvailable drains the data micro-batch PLUS the engine's
    // watermark-advance no-data batch (the gate runs on empty batches too,
    // by contract) — so each loop window owns ALL gate invocations that
    // fired inside it, and stage times are summed per window: the empty
    // batch's floor cost is real per-trigger overhead, not noise to drop.
    import scala.jdk.CollectionConverters._
    final case class BatchRec(batch: Int, docs: Int, wall: Double, indexDocsBefore: Long,
        stages: Vector[GateStageTimings], counts: Map[String, Long],
        staleness: Double, indexFiles: Int, rebuildSec: Double)
    val walls = ArrayBuffer.empty[BatchRec]
    for (b <- 0 until NBatches) {
      // appends land via the micro-batch CLONE session — refresh or this
      // session's relation cache serves the seed-time file list forever
      spark.catalog.refreshTable(gateTable)
      val idxBefore = spark.table(gateTable).select("doc_id").distinct().count()
      val rows = batchRows(b)
      val idsBefore = timings.asScala.map(_.batchId).toSet
      val countsBefore = decisionCounts.keySet.toSet
      input.addData(rows)
      val t0 = System.nanoTime()
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      val mine = timings.asScala.toVector
        .filterNot(t => idsBefore.contains(t.batchId)).sortBy(_.batchId)
      val counts = (decisionCounts.keySet.toSet -- countsBefore).toSeq
        .flatMap(decisionCounts.get).flatten
        .groupMapReduce(_._1)(_._2)(_ + _)
      // the maintenance loop a production gate runs beside the stream:
      // when appends have outgrown the build (staleness ≥ 1.0 — bucket
      // populations and file counts past what the build sized for),
      // rebuild in place: compact append slivers, grow the bucket count
      // with the corpus, reset the staleness base
      val staleness = DedupGate.sigIndexStaleness(spark, gateTable)
      val filesBefore = spark.table(gateTable).inputFiles.length
      val rebuildSec = if (staleness >= 1.0) {
        val docsNow = spark.table(gateTable).select("doc_id").distinct().count()
        val nBuckets = math.max(16, math.ceil(docsNow / 250.0).toInt)
        val r0 = System.nanoTime()
        DedupGate.rebuildSigIndex(spark, gateTable, nBuckets)
        (System.nanoTime() - r0) / 1e9
      } else 0.0
      walls += BatchRec(b, rows.size, wall, idxBefore, mine, counts,
        staleness, filesBefore, rebuildSec)
    }
    q.stop()
    require(walls.forall(_.stages.nonEmpty),
      "a loop window saw no gate invocation — batch attribution drifted")

    def f4(d: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, d)
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    // one gate stage's median over a gate's per-batch timings (0 if none)
    def stageMed(ts: Seq[GateStageTimings])(f: GateStageTimings => Double): Double =
      if (ts.isEmpty) 0.0 else median(ts.map(f))
    // raw per-batch walls for each epilogue: medians over 6 batches hide
    // the variance structure (a single GC/host stall can move a median
    // 30-50% between runs — the r16 production-wall ambiguity); the raw
    // vector lets a reader separate a level shift from one bad batch
    def wallsJson(ws: Seq[Double]): String = ws.map(f4).mkString("[", ",", "]")

    val recs = walls.toVector.map { w =>
      val (tSig, tProbe, tSink, tAppend) = (
        w.stages.map(_.sigSec).sum, w.stages.map(_.probeSec).sum,
        w.stages.map(_.sinkSec).sum, w.stages.map(_.appendSec).sum)
      val counts = w.counts
      val gate = tSig + tProbe + tSink + tAppend
      s"""{"batch":${w.batch},"docs":${w.docs},"wall":${f4(w.wall)},""" +
        s""""docs_per_s":${f4(w.docs / w.wall)},"index_docs_before":${w.indexDocsBefore},""" +
        s""""triggers":${w.stages.size},""" +
        s""""sig":${f4(tSig)},"probe":${f4(tProbe)},"sink":${f4(tSink)},""" +
        s""""append":${f4(tAppend)},"upstream":${f4(math.max(0.0, w.wall - gate))},""" +
        s""""appended":${w.stages.map(_.appended).sum},""" +
        s""""insert":${counts.getOrElse("insert", 0L)},"near_dup":${counts.getOrElse("near_dup", 0L)},""" +
        s""""skip_dup":${counts.getOrElse("skip_dup", 0L)},"short":${counts.getOrElse("short", 0L)},""" +
        s""""quality":${counts.getOrElse("quality", 0L)},""" +
        s""""staleness":${f4(w.staleness)},"index_files":${w.indexFiles},""" +
        s""""rebuild":${f4(w.rebuildSec)}}"""
    }
    val probePerWindow = walls.toVector.map(_.stages.map(_.probeSec).sum)
    val probeFirst = median(probePerWindow.take(5))
    val probeLast = median(probePerWindow.takeRight(5))
    val wallMed = median(walls.map(_.wall).toSeq)
    val docsPerS = median(walls.map(w => w.docs / w.wall).toSeq)
    spark.catalog.refreshTable(gateTable)
    val finalIdx = spark.table(gateTable).select("doc_id").distinct().count()
    val nRebuilds = walls.count(_.rebuildSec > 0)
    val summary =
      s"""{"median_wall":${f4(wallMed)},"median_docs_per_s":${f4(docsPerS)},""" +
        s""""probe_first5_med":${f4(probeFirst)},"probe_last5_med":${f4(probeLast)},""" +
        s""""probe_growth":${f4(probeLast / probeFirst)},""" +
        s""""rebuilds":$nRebuilds,"rebuild_total_sec":${f4(walls.map(_.rebuildSec).sum)},""" +
        s""""index_docs_seed":$nSeed,"index_docs_final":$finalIdx,""" +
        s""""index_growth":${f4(finalIdx.toDouble / nSeed)}}"""
    // Hygiene-chain A/B epilogue: the SAME batch generator against a
    // fresh seed-built index, through gatedIngestPipelineHygiene with a
    // LOOSE LM threshold (so the decision mix matches the baseline run
    // and the delta is pure gate cost) — measures what the two NARROW
    // stages (URL blocklist + literal-map LM scoring) add per batch.
    // Fairness: the hygiene run takes HygWarmup UNTIMED warmup batches
    // first, and is compared against the baseline windows AFTER its own
    // first HygWarmup (cold-start) windows — both medians then cover
    // batches [HygWarmup, HygWarmup+HygieneBatches) of a fresh
    // seed-built index, so the index-size regime and per-query warmup
    // count match. Residual bias: the epilogue still runs in a JVM the
    // full baseline loop already warmed (JIT, code/file caches), which
    // FLATTERS overhead_ratio slightly — recorded as warm_jvm_bias in
    // the JSON rather than corrected, since the two runs cannot share a
    // cold JVM without interleaving whole sessions.
    val HygieneBatches = 6
    val HygWarmup = 2
    val (hc, hx, hv) = graft.operators.HygieneOps
      .charlmModelOf(seed.toSeq.toDF("doc_id", "text"))
    val (hmBg, hmA, hvv) = graft.operators.HygieneOps.collectCharLmModel(hc, hx, hv)
    val gateTable2 = "gate_bench_hyg_idx"
    DedupGate.writeSigIndex(spark, seed.toSeq.toDF("doc_id", "text"), gateTable2)
    val input2 = MemoryStream[(Long, String, java.sql.Timestamp)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String, java.sql.Timestamp)]],
      spark.sqlContext)
    val ckpt2 = Files.createTempDirectory("graft-gate-bench-hyg-ckpt").toString
    val q2 = StreamMerge.gatedIngestPipelineHygiene(
      input2.toDS().toDF("doc_id", "text", "ts"), baseIdx, gateTable2,
      (df: DataFrame, _: Long) => {
        df.groupBy("decision").count().collect(): Unit
      },
      hmBg, hmA, hvv, maxBits = 1e9,
      minTokens = 10, minQuality = 0.05)
      .option("checkpointLocation", ckpt2)
      .start()
    val hWalls = ArrayBuffer.empty[Double]
    for (b <- 0 until HygWarmup + HygieneBatches) {
      input2.addData(batchRows(b))
      val t0 = System.nanoTime()
      q2.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      if (b >= HygWarmup) hWalls += wall // first HygWarmup batches are untimed warmup
    }
    q2.stop()
    val hygMed = median(hWalls.toSeq)
    val baseEarlyMed =
      median(walls.slice(HygWarmup, HygWarmup + HygieneBatches).map(_.wall).toSeq)
    val hygiene =
      s"""{"batches":$HygieneBatches,"warmup_batches":$HygWarmup,""" +
        s""""median_wall":${f4(hygMed)},"walls":${wallsJson(hWalls.toSeq)},""" +
        s""""base_win${HygWarmup}to${HygWarmup + HygieneBatches}_median_wall":${f4(baseEarlyMed)},""" +
        s""""overhead_ratio":${f4(hygMed / baseEarlyMed)},"warm_jvm_bias":"epilogue runs in the baseline-warmed JVM; ratio is a mild underestimate"}"""

    // Span-decontamination A/B epilogue (round 14): the SAME batch
    // generator through gatedIngestPipelineDecontam against a fresh
    // seed-built sig index plus an eval-gram index holding a small
    // benchmark slice — measures what the span gate (winnow selection of
    // each batch's inserts + the file-pruned eval probe + the span merge)
    // adds per batch over the same-warmup baseline windows. A few seed
    // docs double as "eval" docs, so a fraction of batch inserts (the
    // concatenation novels built from rest docs sharing runs with eval —
    // none by construction) stay clean while exact-seed copies die
    // upstream as skip_dup; the measured number is the gate's COST, its
    // detection behavior is StreamingSpec's job.
    val evalSlice = rest.takeRight(200).map { case (id, t) => (900000L + id, t) }
    val evalTable = "gate_bench_eval_idx"
    graft.streaming.SpanGate.writeEvalGramIndex(
      spark, evalSlice.toSeq.toDF("doc_id", "text"), evalTable)
    val gateTable3 = "gate_bench_dec_idx"
    DedupGate.writeSigIndex(spark, seed.toSeq.toDF("doc_id", "text"), gateTable3)
    val input3 = MemoryStream[(Long, String, java.sql.Timestamp)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String, java.sql.Timestamp)]],
      spark.sqlContext)
    val ckpt3 = Files.createTempDirectory("graft-gate-bench-dec-ckpt").toString
    val contamCounts = new java.util.concurrent.atomic.AtomicLong(0L)
    val spanTimings =
      new java.util.concurrent.ConcurrentLinkedQueue[GateStageTimings]()
    val q3 = StreamMerge.gatedIngestPipelineDecontam(
      input3.toDS().toDF("doc_id", "text", "ts"), baseIdx, gateTable3, evalTable,
      (df: DataFrame, _: Long) => {
        val c = df.groupBy("decision").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        contamCounts.addAndGet(c.getOrElse("contaminated", 0L)): Unit
      },
      minTokens = 10, minQuality = 0.05,
      onSpanTimings = t => { spanTimings.add(t): Unit })
      .option("checkpointLocation", ckpt3)
      .start()
    val dWalls = ArrayBuffer.empty[Double]
    for (b <- 0 until HygWarmup + HygieneBatches) {
      // eval-sourced contaminated docs injected at a fixed rate: the gate
      // must do real span work, not just empty probes
      val contam = (0 until 4).map { i =>
        val (_, t) = evalSlice((b * 4 + i) % evalSlice.length)
        (4000000L + b * 100 + i, "leading words " + t + " trailing words",
          at(100L + b))
      }
      input3.addData(withInjected(batchRows(b), contam))
      val t0 = System.nanoTime()
      q3.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      if (b >= HygWarmup) dWalls += wall
    }
    q3.stop()
    val decMed = median(dWalls.toSeq)
    val spanT = spanTimings.asScala.toVector
    val decontam =
      s"""{"batches":$HygieneBatches,"warmup_batches":$HygWarmup,""" +
        s""""median_wall":${f4(decMed)},"walls":${wallsJson(dWalls.toSeq)},""" +
        s""""base_win${HygWarmup}to${HygWarmup + HygieneBatches}_median_wall":${f4(baseEarlyMed)},""" +
        s""""overhead_ratio":${f4(decMed / baseEarlyMed)},""" +
        s""""contaminated_total":${contamCounts.get()},""" +
        s""""span_select_med":${f4(stageMed(spanT)(_.sigSec))},""" +
        s""""span_probe_med":${f4(stageMed(spanT)(_.probeSec))},""" +
        s""""span_sink_med":${f4(stageMed(spanT)(_.sinkSec))},""" +
        s""""warm_jvm_bias":"epilogue runs in the baseline-warmed JVM; ratio is a mild underestimate",""" +
        // the decontam stream processes batchRows(b) PLUS 4 injected
        // contaminated docs per batch while the baseline windows ran
        // batchRows(b) alone, so overhead_ratio conflates gate cost with
        // ~4 extra docs/batch of input — recorded, not corrected (the
        // injection is what makes the gate do real span work)
        s""""input_bias":"+4 contaminated docs/batch vs the baseline windows; ratio is a mild overestimate"}"""

    // Span-SCRUB A/B epilogue (round 15): the IDENTICAL generator and
    // contamination injection through the REMEDIATION sibling
    // (gatedIngestPipelineDecontamScrub) — apples-to-apples with the
    // decontam epilogue above (same input volume, same injected docs),
    // so scrub_vs_flag_ratio isolates what the surgery itself adds: the
    // per-doc rebuild fold plus a sink that materializes the
    // post-surgery TEXT of every row (a document sink, not a decision
    // counter — forced via the length sum so column pruning cannot
    // skip the rebuild).
    val gateTable4 = "gate_bench_scrub_idx"
    DedupGate.writeSigIndex(spark, seed.toSeq.toDF("doc_id", "text"), gateTable4)
    val input4 = MemoryStream[(Long, String, java.sql.Timestamp)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String, java.sql.Timestamp)]],
      spark.sqlContext)
    val ckpt4 = Files.createTempDirectory("graft-gate-bench-scrub-ckpt").toString
    val scrubbedTotal = new java.util.concurrent.atomic.AtomicLong(0L)
    val guttedTotal = new java.util.concurrent.atomic.AtomicLong(0L)
    val scrubTimings =
      new java.util.concurrent.ConcurrentLinkedQueue[GateStageTimings]()
    val scrubGateTimings =
      new java.util.concurrent.ConcurrentLinkedQueue[GateStageTimings]()
    val q4 = StreamMerge.gatedIngestPipelineDecontamScrub(
      input4.toDS().toDF("doc_id", "text", "ts"), baseIdx, gateTable4, evalTable,
      (df: DataFrame, _: Long) => {
        val r = df.agg(
          sum(when(col("decision") === "scrubbed", 1L).otherwise(0L)),
          sum(when(col("decision") === "scrub_gutted", 1L).otherwise(0L)),
          sum(length(col("text")))).collect()(0)
        scrubbedTotal.addAndGet(if (r.isNullAt(0)) 0L else r.getLong(0))
        guttedTotal.addAndGet(if (r.isNullAt(1)) 0L else r.getLong(1)): Unit
      },
      minTokens = 10, minQuality = 0.05,
      onGateTimings = t => { scrubGateTimings.add(t): Unit },
      onSpanTimings = t => { scrubTimings.add(t): Unit })
      .option("checkpointLocation", ckpt4)
      .start()
    // PRODUCTION-chain epilogue setup (round 15): the complete stack —
    // persisted-model LM gate + near-dup gate + span scrub + PII
    // redaction — through gatedIngestPipelineProduction with the same
    // generator and injection, measuring what the WHOLE curation chain
    // costs per batch vs the ungated baseline. The LM threshold is set
    // unreachable: the scoring join/agg work is identical at any
    // threshold, and this epilogue measures COST (detection behavior is
    // StreamingSpec's job — the same stance as the injected-contam
    // comment above).
    graft.operators.HygieneOps.writeCharLmTableFrom(
      spark, seed.toSeq.toDF("doc_id", "text"), "gate_bench_lm_model")
    val gateTable5 = "gate_bench_prod_idx"
    DedupGate.writeSigIndex(spark, seed.toSeq.toDF("doc_id", "text"), gateTable5)
    val input5 = MemoryStream[(Long, String, java.sql.Timestamp)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String, java.sql.Timestamp)]],
      spark.sqlContext)
    val ckpt5 = Files.createTempDirectory("graft-gate-bench-prod-ckpt").toString
    val prodKept = new java.util.concurrent.atomic.AtomicLong(0L)
    val prodTimings =
      new java.util.concurrent.ConcurrentLinkedQueue[GateStageTimings]()
    val prodGateTimings =
      new java.util.concurrent.ConcurrentLinkedQueue[GateStageTimings]()
    val prodLmSecs =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
    val q5 = StreamMerge.gatedIngestPipelineProduction(
      input5.toDS().toDF("doc_id", "text", "ts"), baseIdx, gateTable5,
      evalTable, "gate_bench_lm_model", Double.MaxValue,
      (df: DataFrame, _: Long) => {
        // a document sink: force the redacted payload to materialize
        val r = df.agg(
          sum(when(col("decision").isin("insert", "scrubbed"), 1L).otherwise(0L)),
          sum(length(col("redacted")))).collect()(0)
        prodKept.addAndGet(if (r.isNullAt(0)) 0L else r.getLong(0)): Unit
      },
      minTokens = 10, minQuality = 0.05,
      onGateTimings = t => { prodGateTimings.add(t): Unit },
      onSpanTimings = t => { prodTimings.add(t): Unit },
      onLmSec = (b, sec) => { prodLmSecs.add((b, sec)): Unit })
      .option("checkpointLocation", ckpt5)
      .start()

    // INTERLEAVED A/B drive (r16 verdict task 2): scrub-only and
    // production windows alternate batch-by-batch within ONE run, window
    // order swapped every batch — a host burst then lands on ADJACENT
    // windows of BOTH pipelines and cancels in the per-pair ratio. The
    // sequential blocks this replaces showed 30-50% median swings between
    // bit-identical runs (8.58/12.78/9.08 s across three r16 records),
    // which made the level prod/scrub ratio unreadable as evidence.
    // Inputs are IDENTICAL per pair: batchRows(b) + 4 contaminated docs
    // (id bases 6000000L scrub / 7000000L production keep the streams'
    // ids out of every batchRows range — withInjected asserts it).
    val sWalls = ArrayBuffer.empty[Double]
    val pWalls = ArrayBuffer.empty[Double]
    def driveWindow(input: MemoryStream[(Long, String, java.sql.Timestamp)],
        q: org.apache.spark.sql.streaming.StreamingQuery, idBase: Long,
        b: Int): Double = {
      val contam = (0 until 4).map { i =>
        val (_, t) = evalSlice((b * 4 + i) % evalSlice.length)
        (idBase + b * 100 + i, "leading words " + t + " trailing words",
          at(100L + b))
      }
      input.addData(withInjected(batchRows(b), contam))
      val t0 = System.nanoTime()
      q.processAllAvailable()
      (System.nanoTime() - t0) / 1e9
    }
    // the walls exclude the HygWarmup windows; the per-stage timing
    // queues accumulate THROUGH them, so the decomposition medians must
    // drop the same cold-JVM batches or they skew relative to the
    // pair-ratio evidence they decompose (r17 ADVICE). Keyed on the
    // EXACT id set each queue observed during the untimed warmup
    // iterations — a rank-based "first HygWarmup distinct ids" drop
    // misaligns the moment the stream runs an extra or split micro-batch
    // whose callbacks fire inside a timed window (r18 ADVICE).
    val warmIds = scala.collection.mutable.Map.empty[String, Set[Long]]
    def snapWarm(): Unit = {
      warmIds("scrubSpan") = scrubTimings.asScala.map(_.batchId).toSet
      warmIds("scrubGate") = scrubGateTimings.asScala.map(_.batchId).toSet
      warmIds("prodSpan") = prodTimings.asScala.map(_.batchId).toSet
      warmIds("prodGate") = prodGateTimings.asScala.map(_.batchId).toSet
      warmIds("prodLm") = prodLmSecs.asScala.map(_._1).toSet
    }
    def dropWarm[T](v: Vector[T], key: String)(idOf: T => Long): Vector[T] = {
      val warm = warmIds.getOrElse(key, Set.empty)
      v.filterNot(t => warm(idOf(t)))
    }
    for (b <- 0 until HygWarmup + HygieneBatches) {
      val (sw, pw) = if (b % 2 == 0) {
        val s = driveWindow(input4, q4, 6000000L, b)
        val p = driveWindow(input5, q5, 7000000L, b)
        (s, p)
      } else {
        val p = driveWindow(input5, q5, 7000000L, b)
        val s = driveWindow(input4, q4, 6000000L, b)
        (s, p)
      }
      if (b == HygWarmup - 1) snapWarm()
      if (b >= HygWarmup) { sWalls += sw; pWalls += pw }
    }
    q4.stop()
    q5.stop()
    val scrubMed = median(sWalls.toSeq)
    val scrubT = dropWarm(scrubTimings.asScala.toVector, "scrubSpan")(_.batchId)
    val scrub =
      s"""{"batches":$HygieneBatches,"warmup_batches":$HygWarmup,""" +
        s""""median_wall":${f4(scrubMed)},"walls":${wallsJson(sWalls.toSeq)},""" +
        s""""flag_median_wall":${f4(decMed)},""" +
        s""""scrub_vs_flag_ratio":${f4(scrubMed / decMed)},""" +
        s""""scrub_vs_flag_methodology":"CROSS-BLOCK: flag windows ran as an earlier sequential block, scrub windows interleaved with production — a host-level shift between blocks moves this ratio (the r16 lesson); the interleaved prod_vs_scrub pair ratios are the burst-robust number",""" +
        s""""overhead_ratio":${f4(scrubMed / baseEarlyMed)},""" +
        s""""scrubbed_total":${scrubbedTotal.get()},""" +
        s""""gutted_total":${guttedTotal.get()},""" +
        s""""span_select_med":${f4(stageMed(scrubT)(_.sigSec))},""" +
        s""""span_probe_med":${f4(stageMed(scrubT)(_.probeSec))},""" +
        s""""span_sink_med":${f4(stageMed(scrubT)(_.sinkSec))},""" +
        s""""warm_jvm_bias":"windows run interleaved with the production stream in the baseline- and flag-warmed JVM; ratios vs earlier blocks are mild underestimates",""" +
        s""""input_bias":"+4 contaminated docs/batch vs the baseline windows (same as the flag epilogue, so scrub_vs_flag_ratio carries no input bias)"}"""

    val prodMed = median(pWalls.toSeq)
    // burst-robust evidence: each pair's windows ran back-to-back on the
    // same input, so their ratio is insensitive to the level shifts that
    // moved whole sequential blocks; the MEDIAN of pair ratios is the
    // number to read (a single stalled window perturbs one pair only)
    val pairRatios = pWalls.zip(sWalls).map { case (p, s) => p / s }
    val pairMed = median(pairRatios.toSeq)
    // decomposition of the production premium per ADDED gate, from the
    // COMPARABLE stage buckets only: the LM pin is the only added model
    // cost (onLmSec); dual-sign rides the signature append (prod appends
    // novel + resigned, scrub novel only — both pipelines' appendSec
    // wraps appendBandedIdempotent alone, so the delta is clean); PII is
    // fused into the DOCUMENT sink, which is the span timings' sinkSec on
    // both sides. The near-dup gate's sig/probe/sink are NOT cross-
    // pipeline comparable and are deliberately excluded: in the scrub
    // chain gateDecisions' sinkSec wraps the ENTIRE span body
    // (pin+select+probe+surgery+sink) — comparing those buckets
    // mis-attributed the premium in the first r17 record (review
    // finding).
    def qMed(q: java.util.concurrent.ConcurrentLinkedQueue[GateStageTimings],
        key: String, f: GateStageTimings => Double): Double =
      stageMed(dropWarm(q.asScala.toVector, key)(_.batchId))(f)
    val lmMed = {
      val v = dropWarm(prodLmSecs.asScala.toVector, "prodLm")(_._1).map(_._2)
      if (v.isEmpty) 0.0 else median(v)
    }
    val prodSpanT = dropWarm(prodTimings.asScala.toVector, "prodSpan")(_.batchId)
    val decomposition =
      s"""{"lm_pin_med":${f4(lmMed)},""" +
        s""""append_med_prod":${f4(qMed(prodGateTimings, "prodGate", _.appendSec))},""" +
        s""""append_med_scrub":${f4(qMed(scrubGateTimings, "scrubGate", _.appendSec))},""" +
        s""""doc_sink_med_prod":${f4(stageMed(prodSpanT)(_.sinkSec))},""" +
        s""""doc_sink_med_scrub":${f4(stageMed(scrubT)(_.sinkSec))},""" +
        s""""span_select_med_prod":${f4(stageMed(prodSpanT)(_.sigSec))},""" +
        s""""span_select_med_scrub":${f4(stageMed(scrubT)(_.sigSec))},""" +
        s""""span_probe_med_prod":${f4(stageMed(prodSpanT)(_.probeSec))},""" +
        s""""span_probe_med_scrub":${f4(stageMed(scrubT)(_.probeSec))},""" +
        s""""read":"added-gate cost = lm_pin_med (LM) + (append_prod - append_scrub) (dual-sign) + (doc_sink_prod - doc_sink_scrub) (PII on keep rows); span select/probe meds are the shared work and should match"}"""
    val production =
      s"""{"batches":$HygieneBatches,"warmup_batches":$HygWarmup,""" +
        s""""median_wall":${f4(prodMed)},"walls":${wallsJson(pWalls.toSeq)},""" +
        s""""base_win${HygWarmup}to${HygWarmup + HygieneBatches}_median_wall":${f4(baseEarlyMed)},""" +
        s""""overhead_ratio":${f4(prodMed / baseEarlyMed)},""" +
        s""""scrub_only_median_wall":${f4(scrubMed)},""" +
        s""""prod_vs_scrub_ratio":${f4(prodMed / scrubMed)},""" +
        s""""prod_vs_scrub_pair_ratios":${wallsJson(pairRatios.toSeq)},""" +
        s""""prod_vs_scrub_pair_median":${f4(pairMed)},""" +
        s""""decomposition":$decomposition,""" +
        s""""kept_total":${prodKept.get()},""" +
        s""""span_select_med":${f4(stageMed(prodSpanT)(_.sigSec))},""" +
        s""""span_probe_med":${f4(stageMed(prodSpanT)(_.probeSec))},""" +
        s""""span_sink_med":${f4(stageMed(prodSpanT)(_.sinkSec))},""" +
        s""""methodology":"scrub and production windows INTERLEAVED per batch, order alternating — pair ratios cancel host bursts (r16 task 2); read prod_vs_scrub_pair_median",""" +
        s""""input_bias":"+4 contaminated docs/batch vs the baseline windows; same volume as the flag/scrub epilogues"}"""

    // PERCEPTUAL-gate A/B epilogue (round 19): the production chain WITH
    // a persisted dHash code index vs the production chain WITHOUT, both
    // on fresh seed-built artifacts, windows INTERLEAVED per batch with
    // order alternating — the same burst-robust pair-ratio methodology
    // as prod-vs-scrub. ~1/3 of each batch's novel docs are image-kind
    // (doc_id % 3 = 0), so the gate does real decode+band+probe+append
    // work per window; the code index GROWS across windows, which is
    // exactly the regime the probe-cost claim is about. Detection
    // behavior is StreamingSpec/BucketingSpec's job; this measures COST.
    val gateTable6 = "gate_bench_pc_sig_idx"
    val gateTable7 = "gate_bench_pp_sig_idx"
    DedupGate.writeSigIndex(spark, seed.toSeq.toDF("doc_id", "text"), gateTable6)
    DedupGate.writeSigIndex(spark, seed.toSeq.toDF("doc_id", "text"), gateTable7)
    val perceptTable = "gate_bench_percept_codes"
    graft.streaming.PerceptGate.writeCodeIndex(spark,
      seed.toSeq.toDF("doc_id", "text")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text").cast("binary").as("payload")),
      perceptTable)
    val input6 = MemoryStream[(Long, String, java.sql.Timestamp)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String, java.sql.Timestamp)]],
      spark.sqlContext)
    val input7 = MemoryStream[(Long, String, java.sql.Timestamp)](
      implicitly[org.apache.spark.sql.Encoder[(Long, String, java.sql.Timestamp)]],
      spark.sqlContext)
    val ckpt6 = Files.createTempDirectory("graft-gate-bench-pc-ckpt").toString
    val ckpt7 = Files.createTempDirectory("graft-gate-bench-pp-ckpt").toString
    val perceptDups = new java.util.concurrent.atomic.AtomicLong(0L)
    val perceptTimings =
      new java.util.concurrent.ConcurrentLinkedQueue[graft.streaming.GateStageTimings]()
    def prodSink(extra: DataFrame => Unit): (DataFrame, Long) => Unit =
      (df: DataFrame, _: Long) => {
        val r = df.agg(
          sum(when(col("decision").isin("insert", "scrubbed"), 1L).otherwise(0L)),
          sum(length(col("redacted")))).collect()(0)
        if (!r.isNullAt(0)) r.getLong(0): Unit
        extra(df)
      }
    val q6 = StreamMerge.gatedIngestPipelineProduction(
      input6.toDS().toDF("doc_id", "text", "ts"), baseIdx, gateTable6,
      evalTable, "gate_bench_lm_model", Double.MaxValue,
      prodSink(df => perceptDups.addAndGet(
        df.filter(col("decision") === "percept_dup").count()): Unit),
      minTokens = 10, minQuality = 0.05,
      perceptTable = Some(perceptTable),
      onPerceptTimings = t => { perceptTimings.add(t): Unit })
      .option("checkpointLocation", ckpt6)
      .start()
    val q7 = StreamMerge.gatedIngestPipelineProduction(
      input7.toDS().toDF("doc_id", "text", "ts"), baseIdx, gateTable7,
      evalTable, "gate_bench_lm_model", Double.MaxValue,
      prodSink(_ => ()),
      minTokens = 10, minQuality = 0.05)
      .option("checkpointLocation", ckpt7)
      .start()
    val pcWalls = ArrayBuffer.empty[Double]
    val ppWalls = ArrayBuffer.empty[Double]
    for (b <- 0 until HygWarmup + HygieneBatches) {
      val (cw, pw) = if (b % 2 == 0) {
        val c = driveWindow(input6, q6, 8000000L, b)
        val p = driveWindow(input7, q7, 8500000L, b)
        (c, p)
      } else {
        val p = driveWindow(input7, q7, 8500000L, b)
        val c = driveWindow(input6, q6, 8000000L, b)
        (c, p)
      }
      if (b == HygWarmup - 1)
        warmIds("percept") = perceptTimings.asScala.map(_.batchId).toSet
      if (b >= HygWarmup) { pcWalls += cw; ppWalls += pw }
    }
    q6.stop()
    q7.stop()
    val pcMed = median(pcWalls.toSeq)
    val ppMed = median(ppWalls.toSeq)
    val pcPairRatios = pcWalls.zip(ppWalls).map { case (c, p) => c / p }
    val perceptT = dropWarm(perceptTimings.asScala.toVector, "percept")(_.batchId)
    spark.catalog.refreshTable(perceptTable)
    val perceptIdxFinal = spark.table(perceptTable).select("doc_id").distinct().count()
    val percept =
      s"""{"batches":$HygieneBatches,"warmup_batches":$HygWarmup,""" +
        s""""median_wall":${f4(pcMed)},"walls":${wallsJson(pcWalls.toSeq)},""" +
        s""""plain_median_wall":${f4(ppMed)},"plain_walls":${wallsJson(ppWalls.toSeq)},""" +
        s""""percept_vs_plain_pair_ratios":${wallsJson(pcPairRatios.toSeq)},""" +
        s""""percept_vs_plain_pair_median":${f4(median(pcPairRatios.toSeq))},""" +
        s""""code_med":${f4(stageMed(perceptT)(_.sigSec))},"probe_med":${f4(stageMed(perceptT)(_.probeSec))},""" +
        s""""append_med":${f4(stageMed(perceptT)(_.appendSec))},""" +
        s""""appended_total":${perceptT.map(_.appended).sum},""" +
        s""""percept_dups_total":${perceptDups.get()},""" +
        s""""index_docs_final":$perceptIdxFinal,""" +
        s""""methodology":"percept-gated and plain production windows INTERLEAVED per batch on identical inputs, order alternating — read percept_vs_plain_pair_median as the gate's cost; the q6 sink additionally counts percept_dup rows (one extra batch-local count job), a mild overestimate of the gate itself"}"""

    // EMBEDDING-gate A/B epilogue (round 19): GATED vs PLAIN persisted-LSH
    // index maintenance over identical (vec_id, embedding) arrival
    // streams, windows interleaved per batch — the cost record for
    // EmbedGate.gatedIndexMaintenance vs VectorOps.lshIndexMaintenance.
    // Each window lands real holdout vectors plus ~12% injected scaled
    // duplicates of already-indexed directions (cosine exactly 1), so the
    // gate does real sig+probe+flag work and the indexes genuinely
    // DIVERGE: the plain maintainer appends the duplicates, the gated one
    // keeps them out (index_rows_gated < index_rows_plain below is the
    // behavioral witness, not just a timing). Detection correctness is
    // BucketingSpec's job; this measures COST.
    val embAll = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").cast("long"), col("embedding"))
    val embCount = embAll.count()
    val EmbSeedN = math.min(800L, embCount / 2)
    val EmbNovelPerBatch = 448
    val EmbDupsPerBatch = 64
    val embSeedDf = embAll.filter(col("vec_id") < EmbSeedN)
    val egTable = "gate_bench_embed_gated"
    val epTable = "gate_bench_embed_plain"
    graft.operators.VectorOps.writeLshIndexFrom(spark, embSeedDf, egTable)
    val epBits = graft.operators.VectorOps.writeLshIndexFrom(spark, embSeedDf, epTable)
    // arrival supply: PAIR-SUM mixtures of holdout vectors (the embedding
    // analog of novelText's concatenation walk, each (i, i+o) pair used
    // once) — on this near-random corpus parents are near-orthogonal, so
    // a mixture sits at cosine ≈ 0.7 vs either parent and ≈ 0.5 vs a
    // mixture sharing one parent, both under the 0.9 gate threshold —
    // an unbounded mostly-novel supply; flags come from the injected
    // scaled-duplicate directions (cosine exactly 1, ~12% of each batch)
    // the collect is CAPPED at the parents the driven batches can
    // actually draw ((warmup + timed) × novel-per-batch), so the
    // harness's driver footprint stays flat as SF grows (r19 ADVICE) —
    // and with L ≥ the total novel draws, synthVec's offset o stays 1
    val EmbHoldoutCap = (HygWarmup + HygieneBatches) * EmbNovelPerBatch
    val embHoldout = embAll.filter(col("vec_id") >= EmbSeedN)
      .orderBy("vec_id").limit(EmbHoldoutCap)
      .collect().map(r => r.getSeq[Float](1).toArray)
    val embSeedPool = embSeedDf.orderBy("vec_id").limit(512)
      .collect().map(r => r.getSeq[Float](1).toArray)
    def synthVec(n: Int): Array[Float] = {
      val i = n % embHoldout.length
      val o = 1 + n / embHoldout.length
      // "each pair used once" holds only for ORDERED pairs: unordered
      // {i, j} regenerates as (j, o' = L - (j - i)) with the
      // byte-identical sum vector once o reaches L/2 — a silent
      // duplicate in the "novel" supply that would bias the A/B if
      // batch counts or novel-per-batch ever grow (r19 ADVICE)
      require(o < embHoldout.length / 2,
        s"novel-vector supply crossed into duplicate territory: offset $o >= " +
          s"${embHoldout.length}/2 — grow the holdout cap or shrink the batch plan")
      val a = embHoldout(i)
      val c = embHoldout((i + o) % embHoldout.length)
      Array.tabulate(a.length)(d => a(d) + c(d))
    }
    def embBatch(b: Int): Seq[(Long, Array[Float])] = {
      val novel = (0 until EmbNovelPerBatch).map { k =>
        (8000000L + b * 1000L + k, synthVec(b * EmbNovelPerBatch + k))
      }
      val dups = (0 until EmbDupsPerBatch).map { i =>
        val v = embSeedPool((b * EmbDupsPerBatch + i) % embSeedPool.length)
        (9000000L + b * 1000L + i, v.map(_ * 2f))
      }
      novel ++ dups
    }
    val input8 = MemoryStream[(Long, Array[Float])](
      implicitly[org.apache.spark.sql.Encoder[(Long, Array[Float])]], spark.sqlContext)
    val input9 = MemoryStream[(Long, Array[Float])](
      implicitly[org.apache.spark.sql.Encoder[(Long, Array[Float])]], spark.sqlContext)
    val ckpt8 = Files.createTempDirectory("graft-gate-bench-eg-ckpt").toString
    val ckpt9 = Files.createTempDirectory("graft-gate-bench-ep-ckpt").toString
    val embFlagged = new java.util.concurrent.atomic.AtomicLong(0L)
    val embTimings =
      new java.util.concurrent.ConcurrentLinkedQueue[graft.streaming.GateStageTimings]()
    val q8 = input8.toDS().toDF("vec_id", "embedding").writeStream
      .option("checkpointLocation", ckpt8)
      .foreachBatch(graft.streaming.EmbedGate.gateBatchWithinAware(egTable,
        (df, _) => embFlagged.addAndGet(df.filter(col("is_dup")).count()): Unit,
        onTimings = t => { embTimings.add(t): Unit }) _)
      .start()
    val q9 = input9.toDS().toDF("vec_id", "embedding").writeStream
      .option("checkpointLocation", ckpt9)
      .foreachBatch { (df: DataFrame, _: Long) =>
        graft.operators.VectorOps.appendToLshIndexIdempotent(spark, df, epTable, epBits): Unit
      }
      .start()
    def driveEmbWindow(input: MemoryStream[(Long, Array[Float])],
        q: org.apache.spark.sql.streaming.StreamingQuery, b: Int): Double = {
      input.addData(embBatch(b))
      val t0 = System.nanoTime()
      q.processAllAvailable()
      (System.nanoTime() - t0) / 1e9
    }
    val egWalls = ArrayBuffer.empty[Double]
    val epWalls = ArrayBuffer.empty[Double]
    for (b <- 0 until HygWarmup + HygieneBatches) {
      val (gw, pw) = if (b % 2 == 0) {
        val g = driveEmbWindow(input8, q8, b)
        val p = driveEmbWindow(input9, q9, b)
        (g, p)
      } else {
        val p = driveEmbWindow(input9, q9, b)
        val g = driveEmbWindow(input8, q8, b)
        (g, p)
      }
      if (b == HygWarmup - 1)
        warmIds("embed") = embTimings.asScala.map(_.batchId).toSet
      if (b >= HygWarmup) { egWalls += gw; epWalls += pw }
    }
    q8.stop()
    q9.stop()
    val egPairRatios = egWalls.zip(epWalls).map { case (g, p) => g / p }
    val embT = dropWarm(embTimings.asScala.toVector, "embed")(_.batchId)
    spark.catalog.refreshTable(egTable)
    spark.catalog.refreshTable(epTable)
    val egRows = spark.table(egTable).count()
    val epRows = spark.table(epTable).count()
    val embed =
      s"""{"batches":$HygieneBatches,"warmup_batches":$HygWarmup,""" +
        s""""median_wall":${f4(median(egWalls.toSeq))},"walls":${wallsJson(egWalls.toSeq)},""" +
        s""""plain_median_wall":${f4(median(epWalls.toSeq))},"plain_walls":${wallsJson(epWalls.toSeq)},""" +
        s""""gated_vs_plain_pair_ratios":${wallsJson(egPairRatios.toSeq)},""" +
        s""""gated_vs_plain_pair_median":${f4(median(egPairRatios.toSeq))},""" +
        s""""sig_med":${f4(stageMed(embT)(_.sigSec))},"probe_med":${f4(stageMed(embT)(_.probeSec))},""" +
        s""""append_med":${f4(stageMed(embT)(_.appendSec))},""" +
        s""""appended_total":${embT.map(_.appended).sum},""" +
        s""""flagged_total":${embFlagged.get()},""" +
        s""""index_rows_gated":$egRows,"index_rows_plain":$epRows,""" +
        s""""methodology":"gated and plain LSH index maintenance windows INTERLEAVED per batch on identical (vec_id, embedding) inputs (~12% injected scaled duplicates), order alternating — read gated_vs_plain_pair_median as the gate's cost over the bare idempotent append; index_rows_gated < index_rows_plain witnesses the dedup behavior. Scope note: appended_total and the stage medians exclude the warmup batches (dropWarm), while flagged_total and index_rows_* cover ALL windows including warmup — the index math is seed + every window's novel rows. The gated sink additionally counts flagged rows (one extra batch-local count job), a mild overestimate of the gate itself"}"""

    val out =
      s"""{"sf":"$sfDir","n_batches":$NBatches,"per_batch":${recs.mkString("[", ",", "]")},""" +
        s""""summary":$summary,"hygiene":$hygiene,"span_decontam":$decontam,"span_scrub":$scrub,""" +
        s""""production":$production,"percept":$percept,"embed":$embed}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("GATE_BENCH.json"),
      (out + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"GATE_BENCH summary=$summary hygiene=$hygiene span_decontam=$decontam " +
      s"span_scrub=$scrub production=$production percept=$percept embed=$embed")
    spark.stop()
  }
}
