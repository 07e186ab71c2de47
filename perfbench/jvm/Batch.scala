package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The batch workloads: one closed-loop client running every key of a
  * workload in turn. A key's run is timed in two calls into the program:
  * building the query (`SparkEntry.queries(key)(spark, dir)`) and one
  * action that computes every output column. A traced run also forces
  * the physical plan between the two.
  *
  * The cold pass is a job's first run in a fresh JVM: its action writes
  * each key's result as parquet, the output the check reads after the
  * JVM exits. Warm passes time a `noop` write instead (`count()` would let
  * Catalyst prune the columns the kernels compute).
  */
object Batch {

  val Keys: Map[String, Seq[String]] = Map(
    "curate_batch" -> Seq("corpus_curate_full", "dup_spans", "heavy_hitters"),
    "relational_batch" -> Seq("roundtrip_pipeline", "reassemble_ordered", "frame_decode",
      "ack_verify", "window_session", "ttl_expire", "join_multi", "cube_revenue",
      "rollup_revenue", "window_rank", "agg_group", "join_skew", "range_join", "set_ops"))

  /** The input tables each workload's keys read. */
  val Tables: Map[String, Seq[String]] = Map(
    "curate_batch" -> Seq("documents", "embeddings"),
    "relational_batch" -> Data.Tables)

  /** Unmeasured passes after the cold one: the driver-side query build
    * of `corpus_curate_full` runs its JIT-compiled form only from about
    * the third pass on.
    */
  val WarmupPasses = 2
  val MinWarmPasses = 3

  final case class KeyRun(key: String, buildS: Double, planS: Double, executeS: Double,
      planChars: Long, error: Option[String]) {
    def totalS: Double = buildS + planS + executeS
  }

  /** One pass over a workload's keys, with its wall and the JVM's CPU time. */
  final case class Pass(runs: Seq[KeyRun], wallS: Double, cpuS: Double)

  def run(spark: SparkSession, ctx: Ctx, inDir: String): Map[String, Any] = {
    val keys = Keys(ctx.workload)
    val queries = graft.SparkEntry.queries
    val tracer = ctx.tracer
    val probe = ctx.probe
    def outDir(key: String) = s"${ctx.runDir}/out/$key"

    def runKey(pass: String, key: String, action: (String, DataFrame) => Unit): KeyRun = {
      val op = s"$pass/$key"
      var planS = 0.0
      var planChars = 0L
      var buildS = 0.0
      var executeS = 0.0
      val error = try {
        tracer.span("key", op) {
          probe.setOp(s"$op/build")
          val (df, b) = tracer.span("build", op)(queries(key)(spark, inDir))
          buildS = b
          if (tracer.enabled) {
            probe.setOp(s"$op/plan")
            val (chars, p) = tracer.span("plan", op)(df.queryExecution.executedPlan.toString.length)
            planS = p
            planChars = chars.toLong
          }
          probe.setOp(s"$op/exec")
          executeS = tracer.span("execute", op)(action(key, df))._2
        }
        None
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $key failed: $e")
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally probe.setOp("")
      KeyRun(key, buildS, planS, executeS, planChars, error)
    }

    def pass(name: String)(action: (String, DataFrame) => Unit): Pass = {
      val cpu0 = Host.cpuS
      val (runs, wall) = tracer.span("pass", name)(keys.map(runKey(name, _, action)))
      Pass(runs, wall, Host.cpuS - cpu0)
    }

    val cold = pass("cold")((key, df) => df.write.mode("overwrite").parquet(outDir(key)))
    Heap.sample()

    val warmups = (0 until WarmupPasses).map(i =>
      pass(s"warmup$i")((_, df) => df.write.format("noop").mode("overwrite").save()))

    // warm passes for the measured window; once the minimum has run, a
    // pass that would end past the window is not started
    val warm = mutable.ArrayBuffer.empty[Pass]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    while (warm.size < MinWarmPasses || elapsed + warm.map(_.wallS).min <= ctx.seconds)
      warm += pass(s"warm${warm.size}")((_, df) => df.write.format("noop").mode("overwrite").save())
    Heap.sample()

    if (tracer.enabled) probe.settle()
    def keyRecord(k: KeyRun, passName: String): Map[String, Any] = {
      val base = Map[String, Any]("key" -> k.key, "build_s" -> k.buildS,
        "execute_s" -> k.executeS, "total_s" -> k.totalS, "error" -> k.error)
      if (!tracer.enabled) base
      else {
        val op = s"$passName/${k.key}"
        base ++ Map("plan_s" -> k.planS, "plan_chars" -> k.planChars,
          "build" -> probe.forOp(s"$op/build").toMap, "exec" -> probe.forOp(s"$op/exec").toMap)
      }
    }
    def passRecord(p: Pass, name: String): Map[String, Any] =
      Map("name" -> name, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
        "keys" -> p.runs.map(keyRecord(_, name)))

    Map(
      "keys" -> keys,
      "cold" -> passRecord(cold, "cold"),
      "warmup" -> warmups.zipWithIndex.map { case (p, i) => passRecord(p, s"warmup$i") },
      "warm" -> warm.zipWithIndex.map { case (p, i) => passRecord(p, s"warm$i") },
      "checks" -> cold.runs.map(k => k.key -> (k.error match {
        case None => Map("path" -> outDir(k.key))
        case Some(e) => Map("error" -> e)
      })).toMap,
      "oracle_sql" -> graft.SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) },
      "kernels" -> (if (tracer.enabled) Kernels.measure(spark, inDir) else Map.empty))
  }
}
