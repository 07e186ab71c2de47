package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What every workload runner receives. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
    val runDir: String, val tracer: Tracer, val probe: Probe)

/** One run of one workload in a fresh JVM. Writes the raw run record as
  * JSON to `--record`; `run.py` turns it into metrics and checks.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --cpus N --run-dir DIR --record FILE
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cpus = opts("cpus").toInt
    val runDir = opts("run-dir")
    require(workload == "ingest_gate" || Batch.Keys.contains(workload), s"unknown workload $workload")

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$runDir/checkpoints")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(trace)
    val probe = Probe.attach(spark)
    val ctx = new Ctx(workload, seed, seconds, runDir, tracer, probe)

    // input materialisation, timed several times into fresh directories
    val tables = Batch.Tables.getOrElse(workload, Seq("documents", "embeddings"))
    Data.rows // generated once, outside the timed set-ups
    val materialiseS = (0 until SetupReps).map { i =>
      probe.setOp(s"setup/input$i")
      tracer.span("materialise", s"setup/input$i")(
        Data.materialise(spark, s"$runDir/input$i", seed, tables))._2
    }
    probe.setOp("")
    val inDir = s"$runDir/input${SetupReps - 1}"
    Heap.sample()

    val (body, error) = try {
      val r = if (workload == "ingest_gate") Gate.run(spark, ctx, inDir) else Batch.run(spark, ctx, inDir)
      (r, None)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        (Map.empty[String, Any], Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"))
    }

    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.driver") ||
        k == "spark.local.dir"
    }
    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "error" -> error,
      "config" -> Map(
        "master" -> spark.sparkContext.master, "cpus" -> cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "spark_version" -> spark.version,
        "graft_extensions_installed" ->
          conf.get("spark.sql.extensions").exists(_.contains("graft.GraftExtensions")),
        "confs" -> scala.collection.immutable.ListMap(conf.toSeq.sortBy(_._1): _*)),
      "setup" -> Map("session_s" -> sessionS, "materialise_s" -> materialiseS),
      "heap_peak_mb" -> Heap.peakMb,
      "body" -> body,
      "spans" -> (if (trace) tracer.records else Nil))
    spark.stop()
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(opts("record")), record)
  }
}
