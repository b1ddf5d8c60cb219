package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: `parent` is the enclosing driver span, or -1 for a span
  * reported by a listener, whose parent is resolved afterwards by time
  * containment. Times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, name: String, req: Int,
                      startMs: Double, endMs: Double,
                      counts: Map[String, Long] = Map.empty)

/** In-memory span recorder for the single driver thread. Disabled (the
  * default), it only runs the body, so an untraced operation pays nothing
  * but a branch. */
final class Tracer {
  @volatile var enabled: Boolean = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble
  /** Request or step number the next spans belong to. */
  var req: Int = 0

  def nowMs(): Double = msBase + (System.nanoTime() - nanoBase) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val before = Counters.read()
      val start = nowMs()
      try body
      finally {
        val end = nowMs()
        stack = stack.tail
        spans.synchronized {
          spans += Span(id, parent, name, req, start, end, Counters.delta(before))
        }
      }
    }

  /** A span reported by a listener thread. */
  def external(name: String, startMs: Double, endMs: Double): Unit =
    spans.synchronized {
      externals += 1
      spans += Span(-externals, -1, name, 0, startMs, endMs)
    }
  private var externals = 0

  def all: Seq[Span] = spans.synchronized(spans.toList)
}

/** Spark's process-wide codegen and file-listing counters, read around
  * each traced call. */
object Counters {
  import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}

  def read(): Map[String, Long] = Map(
    "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    "tables.files_discovered" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
    "tables.file_cache_hits" -> HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount)

  def delta(before: Map[String, Long]): Map[String, Long] = {
    val now = read()
    now.map { case (k, v) => k -> (v - before(k)) }
  }

  /** Mean compile time of the codegen histogram: Spark keeps no sum, so
    * compile milliseconds are estimated as compiles x this mean. */
  def compileMeanMs(): Double =
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
}

/** Job spans plus stage and task totals from the scheduler. */
final class SchedulerListener(tracer: Tracer) extends SparkListener {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val totals = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def add(k: String, v: Long): Unit = totals.merge(k, v, (a, b) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val start = Option(jobStarts.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
    tracer.external("exec.job", start.toDouble, e.time.toDouble)
    add("exec.jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    add("exec.stages", 1)
    if (m != null) {
      add("exec.task_run_ms", m.executorRunTime)
      add("exec.task_cpu_ns", m.executorCpuTime)
      add("exec.gc_ms", m.jvmGCTime)
      add("exec.input_bytes", m.inputMetrics.bytesRead)
      add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("exec.spill_bytes", m.diskBytesSpilled)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = add("exec.tasks", 1)

  def snapshot(): Map[String, Long] =
    totals.asScala.map { case (k, v) => k -> v.longValue }.toMap
}

/** Planning-phase spans and graft rule time from each finished query's
  * `QueryPlanningTracker`. */
final class PlanningListener(tracer: Tracer) extends QueryExecutionListener {
  val graftRulesNs = new java.util.concurrent.atomic.LongAdder
  private val graftRules = Seq("TextIndexRewrite", "TokenSearchRewrite")

  private def record(qe: QueryExecution): Unit = {
    qe.tracker.phases.foreach { case (phase, s) =>
      tracer.external(s"catalyst.$phase", s.startTimeMs.toDouble, s.endTimeMs.toDouble)
    }
    qe.tracker.rules.foreach { case (rule, s) =>
      if (graftRules.exists(rule.contains)) graftRulesNs.add(s.totalTimeNs)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** The traced run's instruments, switched on around one operation at a
  * time so that traced and untraced operations can alternate in one
  * window. Before the listeners are attached and before they are
  * detached, the listener bus is drained, so they see the events of the
  * traced operation and of nothing else. The driver JVM's GC and JIT time
  * and its heap peak are taken over the traced operations only. */
final class Probe(spark: SparkSession, tracer: Tracer) {
  val sched = new SchedulerListener(tracer)
  val planning = new PlanningListener(tracer)
  private val listeners =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
  private var jvm = Map("gc_ms" -> 0.0, "jit_ms" -> 0.0)
  private var heapPeakMb = 0.0

  def apply[T](body: => T): T = {
    ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(sched)
    listeners.register(planning)
    val jvm0 = Jvm.read()
    Jvm.resetPeaks()
    tracer.enabled = true
    try body
    finally {
      tracer.enabled = false
      val d = Jvm.delta(jvm0)
      jvm = jvm.map { case (k, v) => k -> (v + d(k)) }
      heapPeakMb = math.max(heapPeakMb, d("heap_peak_mb"))
      ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
      spark.sparkContext.removeSparkListener(sched)
      listeners.unregister(planning)
    }
  }

  def jvmTotals: Map[String, Double] = jvm + ("heap_peak_mb" -> heapPeakMb)
}
