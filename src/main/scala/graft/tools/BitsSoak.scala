package graft.tools

import graft.operators.SimilarityOps

/** autoBits VALIDATION ABOVE THE MEASURED RANGE — the committed
  * sim_bits_sweep oracle prices 4 vs 6 bits on the 500-vector sf0.01
  * corpus; the bits ≈ log₂(N/32) formula was extrapolated past that.
  * This soak validates it at two scales of the synthetic corpus:
  *
  *   - occupancy arm (100× volume, 200k vectors → formula picks 13
  *     bits): bucket-occupancy distribution and candidate volume at
  *     the formula's choice ±1 bit, computed ANALYTICALLY from bucket
  *     counts (Σ C(|b|,2)) — the raw pair join is deliberately
  *     unrunnable here (tight clusters keep it quadratic at any
  *     width, which is why knnGraph salt-splits; the capped_pairs
  *     column prices what the capped build actually materializes).
  *     Bit widths ≥19 would require ≥16M vectors (32·2¹⁹) — beyond any
  *     local corpus; 13±1 at 200k vectors is the deepest locally
  *     honest point.
  *   - trade arm (10× volume, 20k vectors → formula picks 10 bits):
  *     the FULL bitsSweep (materialized cross-table candidate pairs +
  *     brute-truth recall@10) at 9/10/11 bits — the measured
  *     recall-vs-volume trade at the formula's choice ±1.
  *
  * Usage: `runMain graft.tools.BitsSoak [occDocs] [tradeDocs]`
  * (defaults 500000, 50000). Output: JSON-ish rows + markdown for
  * BASELINE.md §bits-soak. */
object BitsSoak {
  def main(args: Array[String]): Unit = {
    val occDocs = args.headOption.map(_.toLong).getOrElse(500000L)
    val tradeDocs = args.drop(1).headOption.map(_.toLong).getOrElse(50000L)
    val spark = graft.Harness.session()

    def autoFor(sfDir: String): Int = {
      val n = graft.Tables.load(spark, sfDir, "embeddings").count()
      val bits = SimilarityOps.autoBits(n)
      println(s"corpus $sfDir: n=$n, autoBits=$bits")
      bits
    }

    val occDir = s"synth:$occDocs"
    val occAuto = autoFor(occDir)
    println(s"\n== occupancy at $occDir, bits ${occAuto - 1}/${occAuto}/${occAuto + 1} ==")
    println("| bits | n_buckets | max_bucket | p50 | p99 | raw pairs | capped pairs |")
    println("|---|---|---|---|---|---|---|")
    (occAuto - 1 to occAuto + 1).foreach { bits =>
      val r = SimilarityOps.bucketOccupancy(spark, occDir, 8, bits).first()
      println(s"| $bits | ${r.getLong(1)} | ${r.getLong(2)} | ${r.getDouble(3)} | ${r.getDouble(4)} | ${r.getLong(5)} | ${r.getLong(6)} |")
      spark.catalog.clearCache()
    }

    val tradeDir = s"synth:$tradeDocs"
    val tradeAuto = autoFor(tradeDir)
    println(s"\n== recall/volume trade at $tradeDir, bits ${tradeAuto - 1}/${tradeAuto}/${tradeAuto + 1} ==")
    val sweep = SimilarityOps.bitsSweep(spark, tradeDir, 8,
      Seq(tradeAuto - 1, tradeAuto, tradeAuto + 1)).collect()
    spark.catalog.clearCache()
    println("| bits | n_buckets | max_bucket | cand_pairs | hits | possible | recall |")
    println("|---|---|---|---|---|---|---|")
    sweep.foreach { r =>
      println(s"| ${r.getLong(0)} | ${r.getLong(1)} | ${r.getLong(2)} | ${r.getLong(3)} | ${r.getLong(4)} | ${r.getLong(5)} | ${r.getDouble(6)} |")
    }
    spark.stop()
  }
}
