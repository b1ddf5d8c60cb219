package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan-shape REGRESSION GATE — the automated form of the BASELINE.md
  * audit table that used to be diffed by eye: the committed
  * machine-readable audit (`tools/plan_audit.tsv`, one line per query:
  * shuffles, broadcasts, scans, sorts, codegen spans) is the contract,
  * and this main recomputes every query's static physical plan and
  * FAILS (exit 1) when a query's shuffle or scan count GREW versus the
  * committed audit, or when a query is missing from it — both the
  * "someone unpersisted a shared frame" and the "new query never got
  * audited" regressions. Shrinking counts and broadcast/sort/span
  * drift only WARN: those move legitimately with plan improvements,
  * and the committed file is regenerated (--write) whenever an
  * intentional change lands.
  *
  * Usage:
  *   runMain graft.tools.PlanGate            # compare vs committed, exit 1 on growth
  *   runMain graft.tools.PlanGate --write    # regenerate tools/plan_audit.tsv
  *
  * The comparator ([[violations]]) is a pure function so the spec can
  * pin the red path on an injected regression without building 260+
  * plans. */
object PlanGate {
  final case class Shape(shuffles: Int, broadcasts: Int, scans: Int,
                         sorts: Int, spans: Int) {
    def tsv: String = s"$shuffles\t$broadcasts\t$scans\t$sorts\t$spans"
  }

  /** Count the operators that matter for the 100 TB story off the
    * executed-plan string (string-level counting is stable under AQE
    * wrapping; the audit runs with AQE off for the planner's static
    * worst case). */
  def shapeOf(plan: String): Shape = {
    def n(p: String) = p.r.findAllIn(plan).length
    val spans = "\\*\\((\\d+)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size
    Shape(n("Exchange (?:hash|range|SinglePartition)"), n("BroadcastExchange"),
      n("Scan parquet"), n("\\bSort \\["), spans)
  }

  /** Gate logic: (hard violations, soft warnings). A query present in
    * the committed audit but absent from the current run is a warning
    * (it was REMOVED from the registry — regenerate); a query still
    * registered whose plan THREW (`failedToPlan`) is a hard violation —
    * a query that no longer plans is the worst regression this gate
    * exists to catch, and must never degrade into the soft
    * "no longer registered" path. */
  def violations(committed: Map[String, Shape],
                 current: Map[String, Shape],
                 failedToPlan: Map[String, String] = Map.empty)
      : (Seq[String], Seq[String]) = {
    val hard = Seq.newBuilder[String]
    val soft = Seq.newBuilder[String]
    failedToPlan.toSeq.sortBy(_._1).foreach { case (q, msg) =>
      hard += s"$q: registered but failed to plan — $msg"
    }
    // registry-vs-audit COUNT mismatch is hard in BOTH directions: a
    // registered-but-unaudited query is caught per-name below, but a
    // STALE audit row (query removed, audit kept) only warned — between
    // a registry edit and the next --write, the committed audit must
    // be set-identical to what the registry plans, or the gate is
    // auditing a different engine than the one shipping.
    val registered = current.size + failedToPlan.size
    if (committed.size != registered)
      hard += s"audit row count ${committed.size} != registered query count " +
        s"$registered — regenerate with --write"
    current.toSeq.sortBy(_._1).foreach { case (q, cur) =>
      committed.get(q) match {
        case None =>
          hard += s"$q: not in committed audit — regenerate with --write"
        case Some(c) =>
          if (cur.shuffles > c.shuffles)
            hard += s"$q: shuffles grew ${c.shuffles} -> ${cur.shuffles}"
          if (cur.scans > c.scans)
            hard += s"$q: scans grew ${c.scans} -> ${cur.scans}"
          if (cur != c && cur.shuffles <= c.shuffles && cur.scans <= c.scans)
            soft += s"$q: shape drift ${c.tsv} -> ${cur.tsv} (ok; --write to adopt)"
      }
    }
    (committed.keySet -- current.keySet -- failedToPlan.keySet)
      .toSeq.sorted.foreach { q =>
        soft += s"$q: in committed audit but no longer registered (--write to drop)"
      }
    (hard.result(), soft.result())
  }

  /** Parse the committed audit, naming the offending line (1-based, as
    * committed) on a truncated or non-numeric entry instead of leaking
    * an ArrayIndexOutOfBounds from split(). */
  def parseTsv(lines: Iterator[String]): Map[String, Shape] =
    lines.zipWithIndex
      .map { case (l, i) => (l.trim, i + 1) }
      .filter { case (l, _) => l.nonEmpty && !l.startsWith("#") }
      .map { case (l, ln) =>
        val f = l.split("\t")
        if (f.length != 6)
          throw new IllegalArgumentException(
            s"$auditPath line $ln: expected 6 tab-separated fields, got ${f.length}: '$l'")
        try f(0) -> Shape(f(1).toInt, f(2).toInt, f(3).toInt, f(4).toInt, f(5).toInt)
        catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"$auditPath line $ln: non-numeric shape field: '$l'")
        }
      }.toMap

  val auditPath = "tools/plan_audit.tsv"

  /** (planned shapes, registered-but-failed-to-plan → message). Failures
    * are returned, not dropped: a registered query whose plan now throws
    * must reach [[violations]] as a hard violation, not vanish into the
    * soft "no longer registered" warning. */
  def currentShapes(spark: SparkSession, sfDir: String)
      : (Map[String, Shape], Map[String, String]) = {
    val rs = graft.Harness.eachQuery(spark, sfDir) { (_, fn) =>
      shapeOf(fn(spark, sfDir).queryExecution.executedPlan.toString)
    }
    val failed = rs.collect { case (name, Left(e)) =>
      System.err.println(s"[plangate] $name plan failed: ${e.getMessage}")
      name -> s"${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    (rs.collect { case (name, Right(s)) => name -> s }.toMap, failed.toMap)
  }

  def main(args: Array[String]): Unit = {
    val write = args.contains("--write")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Harness.session(graft.Harness.audit: _*)
    val (current, failed) = currentShapes(spark, sfDir)
    spark.stop()
    if (write && failed.nonEmpty) {
      // never bake a broken registry into the contract file
      failed.toSeq.sortBy(_._1).foreach { case (q, m) =>
        println(s"[plangate] FAIL $q: failed to plan — $m")
      }
      println(s"[plangate] refusing --write with ${failed.size} unplannable queries")
      sys.exit(1)
    }
    if (write) {
      val body = "# query\tshuffles\tbroadcasts\tscans\tsorts\tspans\n" +
        current.toSeq.sortBy(_._1)
          .map { case (q, s) => s"$q\t${s.tsv}" }.mkString("", "\n", "\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(auditPath),
        body.getBytes("UTF-8"))
      println(s"[plangate] wrote ${current.size} entries to $auditPath")
    } else {
      val committed = parseTsv(
        scala.io.Source.fromFile(auditPath)("UTF-8").getLines())
      val (hard, soft) = violations(committed, current, failed)
      soft.foreach(w => println(s"[plangate] WARN $w"))
      hard.foreach(v => println(s"[plangate] FAIL $v"))
      if (hard.nonEmpty) {
        println(s"[plangate] ${hard.size} plan regressions vs $auditPath")
        sys.exit(1)
      }
      println(s"[plangate] OK: ${current.size} queries within the committed audit")
    }
  }
}
