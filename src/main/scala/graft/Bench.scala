package graft
import java.nio.file.{Files, Paths}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // O23 journal: per-query task metrics (input/shuffle/output volume)
    val journal = new graft.tools.QueryJournal
    spark.sparkContext.addSparkListener(journal)
    Harness.warmup(spark, sfDir)
    // failed queries report -1 (a best-of-two minimum of a time-to-throw
    // would otherwise read as a deceptively fast success)
    // optional args: query names to bench (all when empty — the driver
    // passes none)
    val only = args.toSet
    // per-query state (persisted intermediates, index registrations) is
    // released after each query, outside its timed interval
    def sweep(): Map[String, Double] =
      Harness.eachQuery(spark, sfDir, only) { (name, fn) =>
        journal.start(name)
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }.map { case (name, r) => name -> r.getOrElse(-1.0) }.toMap
    // three sweeps, best-of per query: single-run numbers on this box
    // vary ±30-40% (occasional 3x outliers) from GC/JIT/IO interference,
    // and the minimum over three is a materially tighter estimate of the
    // true cost than over two (r4's driver ran four sweeps, so the
    // runtime budget allows it)
    val first = sweep()
    Thread.sleep(500)
    val second = sweep()
    // journal reports the final (steady-state) sweep only — without the
    // reset the sweeps accumulate and every volume reads multiplied
    Thread.sleep(500)
    journal.reset()
    val third = sweep()
    val results = first.map { case (k, v) =>
      val ws = Seq(v, second(k), third(k))
      k -> (if (ws.exists(_ < 0)) -1.0 else ws.min)
    }
    val failed = results.collect { case (k, v) if v < 0 => k }.toSeq.sorted
    // per-query seconds rounded to 1 ms in the PRINTED line only — at
    // ~95 queries the full-precision line outgrew the driver's log-tail
    // window (BENCH r5/r6 both record parsed:null); the file copy keeps
    // full precision
    def ms3(v: Double): String =
      if (v < 0) "-1.0" else (math.rint(v * 1000) / 1000).toString
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qs3 = results.map { case (k, v) => s"\"" + k + "\":" + ms3(v) }
      .mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.values.filter(_ >= 0).sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"failed":$fs,"queries":$qs,"sf":"$sfDir"}"""
    Files.writeString(Paths.get("bench_out.json"), json)
    // rounded per-query line FIRST, short total-only line LAST: the
    // driver's tail window always contains the final short line whole,
    // and usually the rounded long line too — round 2's full-precision
    // single line got truncated into an unparseable BENCH json
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"failed":$fs,"queries":$qs3,"sf":"$sfDir"}""")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"sf":"$sfDir"}""")
    org.apache.spark.ListenerBusDrain.waitUntilEmpty(spark.sparkContext)
    // runtime-plan adjudications (e.g. the rel_skew_null_bucket AQE
    // skew-split count) ride along with the task metrics
    Files.writeString(Paths.get("bench_journal.jsonl"),
      journal.toJsonLines + graft.tools.SkewEvidence.toJsonLines)
    spark.stop()
  }
}
