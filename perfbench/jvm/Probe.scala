package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Execution-layer counters, summed over the jobs of one operation. */
final case class ExecStats(
    jobs: Long = 0, tasks: Long = 0, taskRunS: Double = 0, taskCpuS: Double = 0,
    gcS: Double = 0, shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
    resultBytes: Long = 0, inputBytes: Long = 0, inputRows: Long = 0,
    broadcastBytes: Long = 0, skewMax: Double = 1.0) {
  def toMap: Map[String, Any] = Map("jobs" -> jobs, "tasks" -> tasks,
    "task_run_s" -> taskRunS, "task_cpu_s" -> taskCpuS, "gc_s" -> gcS,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "result_bytes" -> resultBytes, "input_bytes" -> inputBytes,
    "input_rows" -> inputRows, "broadcast_bytes" -> broadcastBytes, "stage_skew_max" -> skewMax)
}

/** Records what Spark ran, through the public listener APIs only. Jobs
  * are attributed to the operation named by the [[OpProperty]] local
  * property of the thread that submitted them, and carry their submit
  * time, so work from threads that did not set the property (a
  * streaming query's own thread) can be attributed by time window.
  * Listener events arrive asynchronously: call [[settle]] before reading.
  */
final class Probe(spark: SparkSession) extends SparkListener {
  import Probe._

  private final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shufW = 0L; var shufR = 0L; var spill = 0L; var result = 0L
    var inBytes = 0L; var inRows = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  private final case class JobRec(op: String, submitMs: Long, stages: Seq[Int], execId: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val broadcastAccums = mutable.HashMap.empty[Long, Long] // accumulator -> execution
  private val broadcastBytes = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
  @volatile private var jobsEnded = 0L

  def setOp(op: String): Unit = spark.sparkContext.setLocalProperty(OpProperty, op)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(OpProperty))).getOrElse("")
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = JobRec(op, e.time, e.stageIds, exec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shufW += m.shuffleWriteMetrics.bytesWritten
      s.shufR += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.result += m.resultSize
      s.inBytes += m.inputMetrics.bytesRead
      s.inRows += m.inputMetrics.recordsRead
      s.taskMs += m.executorRunTime
    }
  }

  private def noteBroadcasts(exec: Long, info: SparkPlanInfo): Unit = {
    if (info.nodeName.contains("BroadcastExchange"))
      info.metrics.filter(_.name == "data size").foreach(mi => broadcastAccums(mi.accumulatorId) = exec)
    info.children.foreach(noteBroadcasts(exec, _))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => noteBroadcasts(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => noteBroadcasts(u.executionId, u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) =>
          broadcastAccums.get(id).foreach(ex => broadcastBytes(ex) += v)
        }
      case _ =>
    }
  }

  /** Waits until every started job has reported its end and the event
    * queue has been quiet for a moment.
    */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    while (System.nanoTime() < deadline) {
      val started = synchronized(jobs.size.toLong)
      if (started == jobsEnded && started == last) return
      last = started
      Thread.sleep(150)
    }
  }

  private def stats(sel: JobRec => Boolean): ExecStats = synchronized {
    val js = jobs.values.filter(sel).toSeq
    val st = js.flatMap(_.stages).distinct.flatMap(stages.get)
    val skew = st.filter(_.taskMs.size >= 2).map { s =>
      val sorted = s.taskMs.sorted
      val med = math.max(1L, sorted(sorted.size / 2))
      sorted.last.toDouble / med
    }
    val execs = js.map(_.execId).filter(_ >= 0).distinct
    ExecStats(js.size, st.map(_.tasks).sum, st.map(_.runMs).sum / 1e3, st.map(_.cpuNs).sum / 1e9,
      st.map(_.gcMs).sum / 1e3, st.map(_.shufW).sum, st.map(_.shufR).sum, st.map(_.spill).sum,
      st.map(_.result).sum, st.map(_.inBytes).sum, st.map(_.inRows).sum,
      execs.map(broadcastBytes).sum, if (skew.isEmpty) 1.0 else skew.max)
  }

  /** Stats of the jobs submitted under operation label `op`. */
  def forOp(op: String): ExecStats = stats(_.op == op)

  /** Stats of the unlabelled jobs (those of a streaming query's own
    * thread) submitted in the wall-clock window [fromMs, toMs).
    */
  def forWindow(fromMs: Long, toMs: Long): ExecStats =
    stats(j => j.op.isEmpty && j.submitMs >= fromMs && j.submitMs < toMs)
}

object Probe {
  val OpProperty = "perfbench.op"

  def attach(spark: SparkSession): Probe = {
    val p = new Probe(spark)
    spark.sparkContext.addSparkListener(p)
    p
  }
}

/** One traced interval: a layer boundary crossed by the benchmark. */
final case class Span(id: Int, name: String, parent: Int, op: String, startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, it only times. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(-1)
  val t0: Long = System.nanoTime()

  /** Runs `body` as span `name` under the innermost open span, and
    * returns its result with its wall seconds.
    */
  def span[A](name: String, op: String)(body: => A): (A, Double) = {
    val start = System.nanoTime()
    if (!enabled) {
      val a = body
      (a, (System.nanoTime() - start) / 1e9)
    } else {
      val id = spans.size
      spans += Span(id, name, stack.head, op, start, start)
      stack = id :: stack
      try {
        val a = body
        val end = System.nanoTime()
        (a, (end - start) / 1e9)
      } finally {
        spans(id) = spans(id).copy(endNs = System.nanoTime())
        stack = stack.tail
      }
    }
  }

  /** Spans with their self time: duration minus the union of their
    * children's intervals.
    */
  def records: Seq[Map[String, Any]] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, hi), (a, b)) =>
          val from = math.max(a, hi)
          (if (b > from) acc + (b - from) else acc, math.max(hi, b))
        }._1
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "self_s" -> (s.endNs - s.startNs - covered) / 1e9)
    }
  }
}

/** The JVM's CPU time, in seconds since an arbitrary origin. Beside a
  * wall time it tells a slower host (more CPU for the same work) from
  * waiting.
  */
object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS: Double = os.getProcessCpuTime / 1e9
}

object Heap {
  private var peak = 0L

  /** Collects garbage and records the heap in use after it. The pause
    * between two collections lets Spark's cleaner release the blocks of
    * broadcasts and checkpoints the first collection found unreachable.
    */
  def sample(): Long = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak = math.max(peak, used)
    used
  }

  def peakMb: Double = peak / 1048576.0
}
