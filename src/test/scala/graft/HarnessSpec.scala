package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one session factory's configuration without building a
  * session: Bench, Verify and PlanGate share the base confs, and plan
  * audits differ from what Bench runs only in AQE. */
class HarnessSpec extends AnyFunSuite {

  test("audit overrides differ from the base confs only in spark.sql.adaptive.enabled") {
    val base = Harness.confs()
    val audit = Harness.confs(Harness.audit: _*)
    val changed = (audit.toSet diff base.toSet) ++ (base.toSet diff audit.toSet)
    assert(changed.map(_._1) == Set("spark.sql.adaptive.enabled"), changed)
    assert(audit("spark.sql.adaptive.enabled") == "false")
  }

  test("every base conf Bench set is present, at local[cpus]") {
    val cpus = Harness.cpus.toString
    val bench = Map(
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "4000",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.constraintPropagation.enabled" -> "false")
    val base = Harness.confs()
    bench.foreach { case (k, v) => assert(base.get(k).contains(v), k) }
    assert(Harness.master == s"local[$cpus]")
  }
}
