package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{LongAccumulator, LongAdder}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Reference O23 (index.py:113-144): the crawler keeps a structured
  * journal of what it tried, explored and rejected. The engine analogue
  * is a SparkListener that attributes executor task metrics to the
  * currently-running named query: tasks, input records/bytes, shuffle
  * read/write bytes, output records — the numbers an operator would
  * page through to see WHERE a query spent its I/O.
  *
  * Also journals the ENVIRONMENT-vs-PLAN adjudication metrics (r7: a
  * handful of unchanged-plan queries tripled only in the driver
  * context): per-query JVM GC time, executor run/CPU time, peak
  * execution memory, and the driver heap at query start. A query whose
  * gc_time_ms rivals its run time — or whose wall clock dwarfs its
  * executor run time — was inflated by the box, not its plan.
  *
  * Metrics arrive on the async listener bus, so totals are eventually
  * consistent; callers either drain the listener bus (Bench) or poll
  * (spec). Thread-safe via LongAdder/LongAccumulator cells. */
class QueryJournal extends SparkListener {

  final class Cells {
    val tasks = new LongAdder
    val inputRecords = new LongAdder
    val inputBytes = new LongAdder
    val shuffleReadBytes = new LongAdder
    val shuffleWriteBytes = new LongAdder
    val outputRecords = new LongAdder
    val gcTimeMs = new LongAdder
    val runTimeMs = new LongAdder
    val cpuTimeNs = new LongAdder
    val peakExecMemory = new LongAccumulator(Math.max(_, _), 0L)
    val memSpilledBytes = new LongAdder
    val diskSpilledBytes = new LongAdder
    // driver heap in use when the query was tagged (set once by start)
    @volatile var driverHeapStartMb: Long = -1L
  }

  @volatile private var current: String = "(untagged)"
  private val cells = new ConcurrentHashMap[String, Cells]()

  private def cellsFor(name: String): Cells =
    cells.computeIfAbsent(name, _ => new Cells)

  /** Tag subsequent task metrics with this query name; snapshots the
    * driver heap so the journal records the heap pressure each query
    * STARTED under (a monotone ramp across 134 queries implicates
    * accumulated driver state; a flat line clears it). */
  def start(name: String): Unit = {
    current = name
    val rt = Runtime.getRuntime
    cellsFor(name).driverHeapStartMb =
      (rt.totalMemory - rt.freeMemory) >> 20
  }

  /** Drop all accumulated metrics (e.g. between bench sweeps). */
  def reset(): Unit = cells.clear()

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
    val tm = ev.taskMetrics
    if (tm != null) {
      val c = cellsFor(current)
      c.tasks.add(1)
      c.inputRecords.add(tm.inputMetrics.recordsRead)
      c.inputBytes.add(tm.inputMetrics.bytesRead)
      c.shuffleReadBytes.add(tm.shuffleReadMetrics.totalBytesRead)
      c.shuffleWriteBytes.add(tm.shuffleWriteMetrics.bytesWritten)
      c.outputRecords.add(tm.outputMetrics.recordsWritten)
      c.gcTimeMs.add(tm.jvmGCTime)
      c.runTimeMs.add(tm.executorRunTime)
      c.cpuTimeNs.add(tm.executorCpuTime)
      c.peakExecMemory.accumulate(tm.peakExecutionMemory)
      c.memSpilledBytes.add(tm.memoryBytesSpilled)
      c.diskSpilledBytes.add(tm.diskBytesSpilled)
    }
  }

  final case class Entry(
    tasks: Long, inputRecords: Long, inputBytes: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, outputRecords: Long,
    gcTimeMs: Long, runTimeMs: Long, cpuTimeMs: Long,
    peakExecMemory: Long, driverHeapStartMb: Long,
    memSpilledBytes: Long, diskSpilledBytes: Long)

  def snapshot: Map[String, Entry] = {
    val b = Map.newBuilder[String, Entry]
    cells.forEach { (k, c) =>
      b += k -> Entry(c.tasks.sum, c.inputRecords.sum, c.inputBytes.sum,
        c.shuffleReadBytes.sum, c.shuffleWriteBytes.sum,
        c.outputRecords.sum, c.gcTimeMs.sum, c.runTimeMs.sum,
        c.cpuTimeNs.sum / 1000000L, c.peakExecMemory.get,
        c.driverHeapStartMb, c.memSpilledBytes.sum, c.diskSpilledBytes.sum)
    }
    b.result()
  }

  /** One JSON object per line, sorted by query name. */
  def toJsonLines: String =
    snapshot.toSeq.sortBy(_._1).map { case (name, e) =>
      s"""{"query":"$name","tasks":${e.tasks},"input_records":${e.inputRecords},""" +
        s""""input_bytes":${e.inputBytes},"shuffle_read_bytes":${e.shuffleReadBytes},""" +
        s""""shuffle_write_bytes":${e.shuffleWriteBytes},"output_records":${e.outputRecords},""" +
        s""""gc_time_ms":${e.gcTimeMs},"run_time_ms":${e.runTimeMs},""" +
        s""""cpu_time_ms":${e.cpuTimeMs},"peak_exec_memory":${e.peakExecMemory},""" +
        s""""driver_heap_start_mb":${e.driverHeapStartMb},""" +
        s""""mem_spilled_bytes":${e.memSpilledBytes},""" +
        s""""disk_spilled_bytes":${e.diskSpilledBytes}}"""
    }.mkString("", "\n", "\n")
}
