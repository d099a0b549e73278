package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval: an op, a client or pass, or one Spark job. Times are
  * epoch microseconds; `parent` is the span that caused this one.
  */
final case class Span(id: String, parent: String, name: String, start: Long, end: Long)

/** The per-layer collector's state, one per JVM. Spark's listener bus and
  * the QueryExecutionListener feed it; the benchmark reads it between
  * measurement windows. Counters are keyed by job group, which the
  * benchmark sets to the id of the op span that runs the job.
  */
object Trace {
  private val groups = mutable.HashMap[String, mutable.HashMap[String, Double]]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val jobStart = mutable.HashMap[Int, (Long, String)]()
  private val spans = mutable.ArrayBuffer[Span]()
  private val blocks = mutable.HashMap[String, Long]()
  private var cachedNow = 0L
  private var cachedPeak = 0L
  @volatile private var jobsStarted = 0L
  @volatile private var jobsEnded = 0L

  def epochMicros(): Long = System.currentTimeMillis() * 1000L

  private def add(group: String, key: String, x: Double): Unit = synchronized {
    val m = groups.getOrElseUpdate(group, mutable.HashMap[String, Double]())
    m(key) = m.getOrElse(key, 0.0) + x
  }

  def record(s: Span): Unit = synchronized { spans += s }

  def jobStarted(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    jobStart(e.jobId) = (e.time * 1000L, g)
    jobsStarted += 1
    add(g, "jobs", 1)
  }

  def jobEnded(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, g) =>
      spans += Span(s"job-${e.jobId}", g, "job", t0, e.time * 1000L)
    }
    jobsEnded += 1
  }

  def stageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = synchronized(stageGroup.getOrElse(e.stageInfo.stageId, ""))
    add(g, "stages", 1)
  }

  def taskEnded(e: SparkListenerTaskEnd): Unit = {
    val g = synchronized(stageGroup.getOrElse(e.stageId, ""))
    add(g, "tasks", 1)
    if (!e.taskInfo.successful) add(g, "failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add(g, "task_run_s", m.executorRunTime / 1e3)
      add(g, "task_cpu_s", m.executorCpuTime / 1e9)
      add(g, "task_deser_s", m.executorDeserializeTime / 1e3)
      add(g, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(g, "shuffle_records_written", m.shuffleWriteMetrics.recordsWritten.toDouble)
      add(g, "shuffle_write_s", m.shuffleWriteMetrics.writeTime / 1e9)
      add(g, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(g, "shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add(g, "spill_memory_bytes", m.memoryBytesSpilled.toDouble)
      add(g, "spill_disk_bytes", m.diskBytesSpilled.toDouble)
      add(g, "input_bytes", m.inputMetrics.bytesRead.toDouble)
      add(g, "input_rows", m.inputMetrics.recordsRead.toDouble)
      add(g, "output_bytes", m.outputMetrics.bytesWritten.toDouble)
      add(g, "output_rows", m.outputMetrics.recordsWritten.toDouble)
    }
  }

  def blockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val id = info.blockId.name
    cachedNow -= blocks.remove(id).getOrElse(0L)
    if (info.storageLevel.isValid) {
      val size = info.memSize + info.diskSize
      blocks(id) = size
      cachedNow += size
      cachedPeak = math.max(cachedPeak, cachedNow)
      add("", "blocks_written", 1)
    }
  }

  def queryExecuted(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    for (p <- Seq("analysis", "optimization", "planning"))
      add("", s"${p}_s", phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0))
    add("", "query_executions", 1)
  }

  /** Block until every job that has started has also ended: the bus
    * delivers a job's task events before its end event, so the counters
    * are then complete for the jobs of a finished window.
    */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobsEnded < jobsStarted && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    Thread.sleep(100) // SQL execution-end events trail the job end
  }

  /** Take and reset everything recorded so far. */
  def take(): (Map[String, Map[String, Double]], Seq[Span], Long) = synchronized {
    val g = groups.map { case (k, v) => k -> v.toMap }.toMap
    val s = spans.toList
    val peak = cachedPeak
    groups.clear(); spans.clear()
    cachedPeak = cachedNow
    (g, s, peak)
  }

  /** Process-wide counters that only grow: codegen, GC and JIT. */
  def processCounters(): Map[String, Double] = {
    val ct = CodegenMetrics.METRIC_COMPILATION_TIME
    val src = CodegenMetrics.METRIC_SOURCE_CODE_SIZE
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Map(
      "codegen_compiles" -> ct.getCount.toDouble,
      // the histograms keep a sample, not a sum: count × sample mean
      "codegen_compile_s" -> ct.getCount * ct.getSnapshot.getMean / 1e3,
      "codegen_source_kb" -> src.getCount * src.getSnapshot.getMean / 1024,
      "gc_s" -> gcs.map(_.getCollectionTime.max(0L)).sum / 1e3,
      "gc_count" -> gcs.map(_.getCollectionCount.max(0L)).sum.toDouble,
      "jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3)
  }
}

/** Spark-side hooks of the collector. Register with
  * `SparkContext.addSparkListener`, or name it in `spark.extraListeners`;
  * in the latter case it writes what it saw to the file named by the
  * `perfbench.trace.out` system property when the application ends.
  */
class Collector extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.jobStarted(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.jobEnded(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.stageCompleted(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.taskEnded(e)
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Trace.blockUpdated(e)

  private var appStart = 0L
  override def onApplicationStart(e: SparkListenerApplicationStart): Unit =
    appStart = e.time * 1000L

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    sys.props.get("perfbench.trace.out").foreach { out =>
      val (groups, spans, peak) = Trace.take()
      val root = sys.props.getOrElse("perfbench.trace.span", "app")
      val json = Json.obj(
        "app_span" -> Json.Raw(Json.obj("start" -> appStart, "end" -> e.time * 1000L)),
        "spans" -> spans.map(s => Json.span(if (s.parent.isEmpty) s.copy(parent = root) else s)),
        "counters" -> Layers.sum(groups.values),
        "cached_bytes_peak" -> peak,
        "process" -> Trace.processCounters())
      Files.write(Paths.get(out), json.getBytes(UTF_8))
    }
}

/** SQL-side hook: query-planning phase times of every executed query. */
class QeListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Trace.queryExecuted(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Trace.queryExecuted(qe)
}

/** Marks when the SparkContext of a `graft.Run` process is up: Spark
  * builds `spark.extraListeners` while it brings the context up, and this
  * one writes the time to the file named by `perfbench.ready.out`.
  */
class SessionProbe extends SparkListener {
  sys.props.get("perfbench.ready.out").foreach { out =>
    Files.write(Paths.get(out), System.currentTimeMillis().toString.getBytes(UTF_8))
  }
}

object Layers {
  def sum(groups: Iterable[Map[String, Double]]): Map[String, Double] =
    groups.flatten.groupMapReduce(_._1)(_._2)(_ + _)
}
