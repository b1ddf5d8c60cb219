package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.rules.RuleExecutor

import scala.collection.concurrent.TrieMap

import graft.Harness

/** Drill-down views of registered queries, one mode per question:
  *
  *   - `explain` — the formatted static physical plan (the plan PlanGate
  *     audits), to check scaladoc'd plan claims: broadcasts where
  *     promised, filters pushed to the scan, no stray shuffles.
  *   - `jobs` — per-job wall clock of a warm run, the companion to
  *     [[QueryJournal]] (which attributes task metrics but not job
  *     boundaries): iterative operators hide their cost structure inside
  *     a single bench number; one line per Spark job shows the expensive
  *     round.
  *   - `rules` — the Catalyst rule-time census over one untimed-warm-up
  *     sweep: `RuleExecutor.dumpTimeSpent`, the cumulative per-rule wall
  *     time of the analyzer and optimizer, so planning-cost work is chosen
  *     from measurement.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<corpus> runMain graft.tools.Inspect
  * <explain|jobs|rules> [query ...]` (all registered queries when none
  * are named). */
object Inspect {
  private def reportFailure(tag: String)(r: (String, Either[Throwable, Any])): Unit =
    r match {
      case (name, Left(e)) => println(s"[$tag] $name failed: ${e.getMessage}")
      case _ =>
    }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    require(Set("explain", "jobs", "rules")(mode),
      "usage: Inspect <explain|jobs|rules> [query ...]")
    val only = args.drop(1).toSet
    val unknown = only -- graft.SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to the corpus directory (or synth:<nDocs>)"))
    val spark =
      if (mode == "explain") Harness.session(Harness.audit: _*) else Harness.session()
    mode match {
      case "explain" =>
        Harness.eachQuery(spark, sfDir, only) { (name, fn) =>
          println(s"===== $name =====")
          try fn(spark, sfDir).explain("formatted")
          catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
        }

      case "jobs" =>
        val starts = TrieMap.empty[Int, (Long, String)]
        val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onJobStart(js: SparkListenerJobStart): Unit = {
            val stages = js.stageInfos.map(si => s"${si.name.takeWhile(_ != '\n')}[${si.numTasks}]")
              .mkString(" | ")
            starts.put(js.jobId, (js.time, stages))
          }
          override def onJobEnd(je: SparkListenerJobEnd): Unit =
            starts.remove(je.jobId).foreach { case (t0, desc) =>
              lines.add(f"job ${je.jobId}%3d  ${(je.time - t0) / 1e3}%8.3f s  $desc")
            }
        })
        Harness.eachQuery(spark, sfDir, only) { (name, fn) =>
          // warm (JIT/codegen), then profile the steady-state run
          fn(spark, sfDir).count()
          Harness.afterQuery(spark)
          org.apache.spark.ListenerBusDrain.waitUntilEmpty(spark.sparkContext)
          lines.clear()
          val t0 = System.nanoTime()
          val n = fn(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          org.apache.spark.ListenerBusDrain.waitUntilEmpty(spark.sparkContext)
          lines.forEach(l => println(l))
          println(f"TOTAL $dt%8.3f s  rows=$n  query=$name  sf=$sfDir")
        }.foreach(reportFailure("jobs"))

      case "rules" =>
        // untimed warm-up then reset, so JIT/classloading noise does not
        // ride the census
        Harness.warmup(spark, sfDir)
        RuleExecutor.resetMetrics()
        val t0 = System.nanoTime()
        Harness.eachQuery(spark, sfDir, only)((_, fn) => fn(spark, sfDir).count())
          .foreach(reportFailure("ruletime"))
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"SWEEP $dt%.1f s")
        println(RuleExecutor.dumpTimeSpent())
    }
    spark.stop()
  }
}
