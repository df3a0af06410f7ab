package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer recorder of the traced run. Everything is observed from
  * outside the program: a SparkListener (jobs, stages, tasks, AQE
  * re-plans), a QueryExecutionListener (Catalyst phase times of the
  * executions an op runs internally; an op that forces its own plan phases
  * reports those instead), a StreamingQueryListener (micro-batch
  * phase times and state rows) and the JVM's MXBeans. Events are buffered
  * as they arrive on the listener bus; [[take]] drains the bus and returns
  * the totals since the previous take, so each op sees exactly its own. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val jobStart = mutable.Map[Int, (Long, String)]()
  private val jobSpans = mutable.ArrayBuffer[(Long, Long, String)]()
  private val acc = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val stateRows = mutable.Map[java.util.UUID, Long]()

  private def add(k: String, v: Double): Unit = acc(k) = acc(k) + v

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val phase = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseProp)))
        .getOrElse("exec")
      jobStart(e.jobId) = (e.time, phase)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, phase) => jobSpans += ((t0, e.time, phase)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized { add("scheduler.stages", 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      add("scheduler.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_ms", m.executorRunTime.toDouble)
        add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
        acc("exec.task_max_ms") = math.max(acc("exec.task_max_ms"), m.executorRunTime.toDouble)
        add("exec.input_mb", m.inputMetrics.bytesRead / MB)
        add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
        add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
        add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / MB)
        add("exec.gc_ms", m.jvmGCTime.toDouble)
        add("exec.result_mb", m.resultSize / MB)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate =>
        Trace.this.synchronized { add("catalyst.aqe_replans", 1) }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit = Trace.this.synchronized {
      val p = qe.tracker.phases
      def ms(name: String) = p.get(name).map(_.durationMs.toDouble).getOrElse(0.0)
      add("catalyst.analyze_ms", ms("analysis"))
      add("catalyst.optimize_ms", ms("optimization"))
      add("catalyst.plan_ms", ms("planning"))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
        if (d.contains("addBatch")) {
          add("streaming.batches", 1)
          add("streaming.batch_ms", d.getOrElse("triggerExecution", 0.0))
          add("streaming.planning_ms", d.getOrElse("queryPlanning", 0.0))
          add("streaming.addbatch_ms", d("addBatch"))
          add("streaming.commit_ms",
            d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0))
          stateRows(p.id) = p.stateOperators.map(_.numRowsTotal).sum
        }
      }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean
  private def gcMs: Double = gcBeans.map(_.getCollectionTime.toDouble).sum
  private def jitMs: Double = jit.getTotalCompilationTime.toDouble

  private var gc0 = 0.0
  private var jit0 = 0.0
  private var cg0 = 0L

  /** Drops everything recorded so far (the harness's own untimed jobs). */
  def reset(): Unit = {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    synchronized { jobStart.clear(); jobSpans.clear(); acc.clear() }
    gc0 = gcMs; jit0 = jitMs; cg0 = PerfbenchBridge.codegenCompiles
  }

  /** Runs `body` with every job it submits tagged as `phase`. */
  def phase[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(PhaseProp, name)
    try body finally sc.setLocalProperty(PhaseProp, null)
  }

  /** The layer totals of the op that ran since the last [[reset]]. */
  def take(wallMs: Double): Map[String, Double] = {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    val out = synchronized {
      val spans = jobSpans.toSeq
      val jobMs = unionMs(spans.map(s => (s._1, s._2)))
      val m = acc.toMap ++ Map(
        "scheduler.jobs" -> spans.size.toDouble,
        "queries.build_jobs" -> spans.count(_._3 == "build").toDouble,
        "scheduler.job_ms" -> jobMs,
        "scheduler.driver_ms" -> math.max(0.0, wallMs - jobMs),
        "streaming.state_rows" -> stateRows.values.sum.toDouble)
      jobSpans.clear(); acc.clear()
      m
    }
    val g = gcMs; val j = jitMs; val cg = PerfbenchBridge.codegenCompiles
    val r = out ++ Map("jvm.gc_ms" -> (g - gc0), "jvm.jit_ms" -> (j - jit0),
      "catalyst.codegen_compiles" -> (cg - cg0).toDouble)
    gc0 = g; jit0 = j; cg0 = cg
    r
  }
}

object Trace {
  val PhaseProp = "perfbench.phase"
  val MB = 1024.0 * 1024.0

  /** Every per-layer metric, in report order. */
  val layerMetrics: Seq[String] = Seq(
    "queries.build_ms", "queries.build_jobs", "api.build_ms",
    "catalyst.analyze_ms", "catalyst.optimize_ms", "catalyst.plan_ms", "catalyst.aqe_replans",
    "catalyst.codegen_compiles",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.job_ms",
    "scheduler.driver_ms",
    "exec.task_ms", "exec.task_cpu_ms", "exec.task_max_ms", "exec.slot_busy", "exec.input_mb",
    "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb", "exec.gc_ms",
    "exec.result_mb",
    "state.written_mb", "state.files_written", "state.write_amp", "state.segments",
    "state.dir_mb", "state.compactions", "state.cache_hit_ratio",
    "streaming.batches", "streaming.batch_ms", "streaming.planning_ms",
    "streaming.addbatch_ms", "streaming.commit_ms", "streaming.state_rows",
    "jvm.gc_ms", "jvm.jit_ms", "jvm.heap_peak_mb")

  /** Metrics that are ratios or gauges rather than per-op sums: they are
    * recomputed from their parts over a set of ops instead of averaged. */
  private val derived = Set("exec.slot_busy", "state.write_amp", "state.cache_hit_ratio",
    "state.segments", "state.dir_mb", "streaming.state_rows", "jvm.heap_peak_mb")

  /** Total length of the union of [start, end] intervals. */
  def unionMs(spans: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- spans.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** Per-op means of the summed metrics over `ops`, plus the ratios and
    * the last value of each gauge. */
  def summarize(ops: Seq[Map[String, Double]], slots: Int, heapPeakMb: Double): Map[String, Double] = {
    def sum(k: String) = ops.map(_.getOrElse(k, 0.0)).sum
    val n = math.max(1, ops.size).toDouble
    val means = layerMetrics.filterNot(derived).map(k => k -> sum(k) / n).toMap
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    def last(k: String) = ops.reverseIterator.flatMap(_.get(k)).nextOption().getOrElse(0.0)
    means ++ Map(
      "exec.slot_busy" -> ratio(sum("exec.task_ms"), sum("scheduler.job_ms") * slots),
      "state.write_amp" -> ratio(sum("state.written_mb"), sum("state.ingested_mb")),
      "state.cache_hit_ratio" -> ratio(sum("state.cache_hits"), sum("state.serves")),
      "state.segments" -> last("state.segments"),
      "state.dir_mb" -> last("state.dir_mb"),
      "streaming.state_rows" -> last("streaming.state_rows"),
      "jvm.heap_peak_mb" -> heapPeakMb)
  }

  /** Heap pools' summed peak usage since the last [[resetHeapPeak]]. */
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed.toDouble).sum / MB

  def resetHeapPeak(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())
}
