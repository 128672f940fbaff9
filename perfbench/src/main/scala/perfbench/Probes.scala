package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** A timed span of the traced run: workload → micro-batch or query → phase. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long,
    endMs: Long)

/** In-memory span recorder, written out once at the end of a run. */
final class Trace {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)

  def add(parent: Int, name: String, startMs: Long, endMs: Long): Int =
    synchronized {
      val id = ids.incrementAndGet()
      spans += Span(id, parent, name, startMs, endMs)
      id
    }

  def size: Int = synchronized(spans.size)

  def write(file: Path): Unit = synchronized {
    Util.writeLines(file, spans.map(s => Util.json(Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs))))
  }
}

/** Progress of every streaming query of a session, from the public
  * listener surface.
  */
final class ProgressLog extends StreamingQueryListener {
  private val all = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    all.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Progress delivered so far for query `id`. */
  def seen(id: java.util.UUID): Seq[StreamingQueryProgress] =
    all.asScala.filter(_.id == id).toSeq

  /** Progress of `q` in batch order, once the listener has seen its last
    * batch (listener delivery is asynchronous).
    */
  def of(q: StreamingQuery): Seq[StreamingQueryProgress] = {
    val last = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    val deadline = Util.nowMs() + 20000L
    while (!seen(q.id).exists(_.batchId >= last) && Util.nowMs() < deadline)
      Thread.sleep(20)
    seen(q.id).sortBy(_.batchId)
  }
}

/** The traced run's session-wide probes; absent in an untraced run. */
final class Probes(exec: Option[ExecProbe], plan: Option[PlanProbe]) {
  def planProbe: Option[PlanProbe] = plan

  def metrics(wallS: Double): Map[String, Double] =
    exec.fold(Map.empty[String, Double])(_.metrics(wallS)) ++
      plan.fold(Map.empty[String, Double])(p => Map(
        "catalyst.analysis_s" -> p.seconds("analysis"),
        "catalyst.optimization_s" -> p.seconds("optimization"),
        "catalyst.planning_s" -> p.seconds("planning")))
}

object Probes {
  def attach(spark: SparkSession, traced: Boolean): Probes =
    if (!traced) new Probes(None, None)
    else {
      val e = new ExecProbe
      spark.sparkContext.addSparkListener(e)
      val p = new PlanProbe
      spark.listenerManager.register(p)
      new Probes(Some(e), Some(p))
    }
}

object ProgressLog {
  def register(spark: SparkSession): ProgressLog = {
    val l = new ProgressLog
    spark.streams.addListener(l)
    l
  }

  def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  def dur(p: StreamingQueryProgress, key: String): Long =
    Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)

  /** Batch end: start plus the whole trigger's duration. */
  def endMs(p: StreamingQueryProgress): Long =
    startMs(p) + dur(p, "triggerExecution")
}

/** Executor-side work of everything the session runs, from one
  * `SparkListener`.
  */
final class ExecProbe extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val runMs, cpuNs, gcMs, shWriteBytes, shWriteNs, shReadBytes, fetchWaitMs,
    spillBytes, peakExecMem = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shWriteNs.addAndGet(m.shuffleWriteMetrics.writeTime)
      shReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  /** Waits until task-end delivery has gone quiet, then reads the totals. */
  def metrics(wallS: Double): Map[String, Double] = {
    var seen = -1L
    val deadline = Util.nowMs() + 5000L
    while (tasks.get != seen && Util.nowMs() < deadline) {
      seen = tasks.get
      Thread.sleep(200)
    }
    val mb = 1024.0 * 1024.0
    Map(
      "exec.jobs" -> jobs.get.toDouble,
      "exec.stages" -> stages.get.toDouble,
      "exec.tasks" -> tasks.get.toDouble,
      "exec.task_run_s" -> runMs.get / 1e3,
      "exec.task_cpu_s" -> cpuNs.get / 1e9,
      "exec.gc_s" -> gcMs.get / 1e3,
      "exec.shuffle_write_mb" -> shWriteBytes.get / mb,
      "exec.shuffle_write_s" -> shWriteNs.get / 1e9,
      "exec.shuffle_read_mb" -> shReadBytes.get / mb,
      "exec.fetch_wait_s" -> fetchWaitMs.get / 1e3,
      "exec.spill_mb" -> spillBytes.get / mb,
      "exec.peak_exec_mem_mb" -> peakExecMem.get / mb,
      "exec.sched_bound" ->
        (if (wallS > 0) 1.0 - runMs.get / 1e3 / (Util.cores * wallS) else 0.0))
  }
}

/** Catalyst phase times of every executed batch query, from
  * `QueryPlanningTracker`. Streaming micro-batches do not reach this
  * listener; their planning time is `queryPlanning` in query progress.
  */
final class PlanProbe extends QueryExecutionListener {
  /** Per executed query: phase name → (start, end) in epoch ms. */
  private val seen = new ConcurrentLinkedQueue[Map[String, (Long, Long)]]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    seen.add(qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) })
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def all: Seq[Map[String, (Long, Long)]] = seen.asScala.toSeq

  def seconds(phase: String): Double =
    all.flatMap(_.get(phase)).map { case (a, b) => b - a }.sum / 1e3
}
