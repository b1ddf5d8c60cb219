package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SKEW / RUNTIME-FILTER SOAK AT VOLUME — ScaleBehaviorSpec proves the
  * two runtime mechanisms fire at scoped-down test thresholds; this
  * tool drives them at REAL data volume with PRODUCTION-DEFAULT
  * thresholds (factor 5 / 256 MB skew trigger, 10 MB / 10 GB bloom
  * creation/application thresholds — nothing scoped down), recording
  * what actually fired in [[SkewEvidence]] form:
  *
  *   - skew arm: a sort-merge fact⋈dim join whose hot key carries ~30%
  *     of the fact — where the hot partition stays under the 256 MB
  *     default, AQE correctly leaves it alone; where it crosses, it
  *     must split. Both outcomes are evidence ("fires, or is correctly
  *     unneeded, at real volume").
  *   - bloom arm: a shuffled fact⋈dim join with a ~1%-selective dim
  *     range filter — below the 10 GB default application-side scan
  *     size the optimizer correctly declines; above it, it must inject
  *     bloom_filter_might_contain, discarding non-joining fact rows
  *     before the shuffle.
  *
  * Generation is spark.range (embarrassingly parallel, deterministic,
  * statistics-bearing); the volumes are real — the 100× skew arm
  * shuffles a multi-GB hot key, which the harness parquet corpora
  * cannot reach. No driver-side row transfer anywhere: plans are
  * finalized by executing each DataFrame's OWN QueryExecution RDD
  * (an AQE plan only reaches its final shape on its own execution).
  *
  * Usage: `runMain graft.tools.SkewSoak [baseFactRows]` (default
  * 2,000,000 ≈ sf0.1-bench volume; arms run at 10× and 100× of it).
  * Output: JSON lines + a markdown table for BASELINE.md §skew-soak. */
object SkewSoak {

  /** Execute df's own QueryExecution distributed (no rows to the
    * driver) and return (rows, secs, finalPlanString). */
  private def drive(df: DataFrame): (Long, Double, String) = {
    val t0 = System.nanoTime()
    val n = df.queryExecution.toRdd.count()
    val secs = (System.nanoTime() - t0) / 1e9
    (n, secs, df.queryExecution.executedPlan.toString)
  }

  def main(args: Array[String]): Unit = {
    val baseRows = args.headOption.map(_.toLong).getOrElse(2000000L)
    val spark = graft.Harness.session(
      // the skew arm's hot partition is sized against 64 shuffle
      // partitions, one per range partition of the fact
      "spark.sql.shuffle.partitions" -> "64",
      // production defaults, stated explicitly so the soak's contract
      // is visible: NOTHING below is scoped down
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "5.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64MB",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "10GB",
      // the dim sides below are sized past broadcast range on purpose —
      // a broadcast join has no skew problem to solve and no shuffle to
      // bloom-prune; production disables nothing, it just meets a dim
      // that does not fit
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

    val md = scala.collection.mutable.ArrayBuffer.empty[String]

    for (scale <- Seq(10, 100)) {
      val n = baseRows * scale

      // ---- skew arm: 30% of the fact lands on key 0; the 5M-row dim
      // cannot broadcast, so the join is a shuffled SMJ and the hot
      // partition's fate is AQE's runtime call at the 256 MB default.
      locally {
        val fact = spark.range(0, n, 1, 64).select(
          when(pmod(col("id"), lit(10)) < 3, lit(0L))
            .otherwise(pmod(col("id"), lit(5000000L))).as("k"),
          col("id").as("v"))
        val dim = spark.range(0, 5000000L, 1, 16)
          .select(col("id").as("k"), (col("id") * 2).as("w"))
        val (out, secs, plan) = drive(fact.join(dim, "k"))
        SkewEvidence.record(s"skew_soak_${scale}x", plan)
        val ev = SkewEvidence.lookup(s"skew_soak_${scale}x").get
        println(f"""{"arm":"skew","scale":$scale,"fact_rows":$n,"out_rows":$out,"secs":$secs%.2f,"skew_splits":${ev.skewSplits},"smj":${ev.smjCount}}""")
        md += f"| skew | ${scale}x | $n | $out | $secs%.2f | skew_splits=${ev.skewSplits} |"
      }

      // ---- bloom arm: the application-side threshold compares the
      // LEAF SCAN's bytes (probed, r11: a 10.4 GB projected plan over a
      // 1.6 GB range leaf still declines at the 10 GB default), so the
      // fact leaf is 7.5× the skew arm's rows — 12 GB of scan at the
      // 100× arm, 1.2 GB (correctly declined) at 10×. Dim filtered to
      // 1% by a range predicate.
      //
      // Finding worth stating plainly: with OUT-OF-BOX defaults and no
      // CBO column statistics (also the default), the size-only stats
      // visitor does NOT shrink a Filter's estimate — the filtered dim
      // still "weighs" its raw 80 MB, above the 10 MB creation-side
      // threshold, so the optimizer CORRECTLY declines (first row per
      // scale). The knob a stats-less deployment sets is
      // creationSideThreshold (or ANALYZE for column stats); the second
      // row per scale raises ONLY that knob and measures the fire path
      // against the declined run as its control.
      locally {
        val fact = spark.range(0, n * 15 / 2, 1, 64).select(
          pmod(col("id"), lit(5000000L)).as("k"), col("id").as("v1"))
        val dim = spark.range(0, 5000000L, 1, 16)
          .filter(col("id") < 50000)
          .select(col("id").as("k"), (col("id") * 2).as("w"))
        def run(tag: String): Unit = {
          val j = fact.join(dim, "k").select(col("k"), col("v1"), col("w"))
          val injected = j.queryExecution.optimizedPlan.toString
            .contains("might_contain")
          val (out, secs, _) = drive(j)
          println(f"""{"arm":"bloom","mode":"$tag","scale":$scale,"fact_rows":${n * 15 / 2},"out_rows":$out,"secs":$secs%.2f,"bloom_injected":$injected}""")
          md += f"| bloom/$tag | ${scale}x | ${n * 15 / 2} | $out | $secs%.2f | injected=$injected |"
        }
        run("defaults")
        val key = "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
        spark.conf.set(key, "100MB")
        run("tuned")
        spark.conf.set(key, "10MB")
      }
    }

    println()
    println("| arm | scale | fact rows | out rows | secs | runtime decision |")
    println("|---|---|---|---|---|---|")
    md.foreach(println)
    spark.stop()
  }
}
