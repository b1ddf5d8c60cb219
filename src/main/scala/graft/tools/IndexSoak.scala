package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.TextIndexCatalog

/** INCREMENTAL TEXT-INDEX MAINTENANCE SOAK — the cost evidence for the
  * manifest/delta path in [[TextIndexCatalog.ensureIndex]]: the full
  * rebuild's growth is measured (ScaleSoak art_inverted_index), but the
  * claim that an APPEND costs ∝ delta size, not corpus size, was only
  * functionally spec-pinned until r11. This soak builds a real on-disk
  * corpus at 1× and 10× sf0.1 volume, appends the SAME fixed-size delta
  * to each, and times ensure* for both variants (base tf+positions
  * postings, stemmed postings):
  *
  *   delta cost ∝ delta size  ⟺  delta_secs(10×) ≈ delta_secs(1×),
  *                                while full_secs grows with the corpus
  *
  * plus the integrity half of the claim: after the delta append, the
  * served index is CHECKSUM-IDENTICAL to postings built from scratch
  * over the combined corpus (distributed checksum — never a collect).
  *
  * Usage: `runMain graft.tools.IndexSoak [baseDocs] [mult] [deltaDocs]
  * [reps]` (defaults 5000, 10, 500, 2; wall times are min-of-reps via
  * rebuilt corpora). Output: JSON lines + a markdown table for
  * BASELINE.md §index-soak. */
object IndexSoak {

  /** Order-insensitive distributed checksum of a postings frame:
    * (bit_xor, count) of xxhash64 over every (term, doc_id, tf,
    * positions) row — xor is order-free and overflow-free under ANSI,
    * and postings rows are distinct by the index contract, so equal
    * multisets ⟺ equal (xor, count). Spark-side only: both arms hash
    * in the same engine, so this compares CONTENT, not formatting. */
  private def checksum(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(col("term"), col("doc_id"), col("tf"),
        col("positions").cast("string")).as("h"))
      .agg(expr("bit_xor(h)"), count(lit(1))).first()
    (r.getLong(0), r.getLong(1))
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.map(_.toLong).getOrElse(5000L)
    val mult = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val deltaDocs = args.drop(2).headOption.map(_.toLong).getOrElse(500L)
    val reps = args.drop(3).headOption.map(_.toInt).getOrElse(2)
    val spark = graft.Harness.session()

    // (variant, scale) -> (fullSecs, deltaSecs, deltaFiles, checksumOk)
    val results = scala.collection.mutable.LinkedHashMap
      .empty[(String, Int), (Double, Double, Int, Boolean)]

    for (scale <- Seq(1, mult)) {
      val n = base * scale
      for ((variant, ensure) <- Seq(
        "base" -> ((sf: String) => TextIndexCatalog.ensureIndex(spark, sf)),
        "stemmed" -> ((sf: String) => TextIndexCatalog.ensureStemmedIndex(spark, sf)))) {
        var fullMin = Double.MaxValue
        var deltaMin = Double.MaxValue
        var deltaFiles = 0
        var checksumOk = true
        (1 to reps).foreach { rep =>
          // a fresh corpus directory per rep: min-of-N cold timings with
          // no manifest or index state surviving between reps
          val sf = java.nio.file.Files
            .createTempDirectory(s"graft-index-soak-$variant-$n-").toString
          val docsDir = s"$sf/documents.parquet"
          // the scan-time synthetic twin, LANDED as a real multi-file
          // parquet table (the delta path needs real data files to
          // manifest) — 32 files like a production partitioned write
          graft.Tables.synthTable(spark, "documents", n, 32)
            .write.mode("overwrite").parquet(docsDir)
          graft.Harness.reset(spark, sf)
          val t0 = System.nanoTime()
          val idx = ensure(sf)
          fullMin = math.min(fullMin, (System.nanoTime() - t0) / 1e9)
          // fixed-size APPEND — the same deltaDocs at every scale, so a
          // delta cost tracking corpus size would show up as a 10×
          // deltaSecs gap; ids continue past the base corpus
          graft.Tables.synthTable(spark, "documents", n + deltaDocs, 1)
            .filter(col("doc_id") >= n)
            .write.mode("append").parquet(docsDir)
          val t1 = System.nanoTime()
          ensure(sf)
          deltaMin = math.min(deltaMin, (System.nanoTime() - t1) / 1e9)
          deltaFiles = TextIndexCatalog.lastBuild.size
          require(deltaFiles > 0, "append did not take the delta path")
          // integrity: the delta-appended index equals a from-scratch
          // build over the combined corpus (base variant carries
          // tf+positions; the stemmed layout is (term, doc_id) only)
          if (rep == 1 && variant == "base") {
            val served = checksum(spark.read.parquet(idx))
            val scratch = checksum(
              TextIndexCatalog.postingsOf(spark.read.parquet(docsDir)))
            checksumOk = served == scratch
          }
          spark.catalog.clearCache()
        }
        results((variant, scale)) = (fullMin, deltaMin, deltaFiles, checksumOk)
        println(f"""{"variant":"$variant","n_docs":$n,"full_secs":$fullMin%.3f,"delta_secs":$deltaMin%.3f,"delta_files":$deltaFiles,"checksum_ok":$checksumOk}""")
      }
    }

    println()
    println(s"| variant | full 1x s | full ${mult}x s | delta 1x s | delta ${mult}x s | delta ratio ${mult}x/1x | checksum |")
    println("|---|---|---|---|---|---|---|")
    Seq("base", "stemmed").foreach { v =>
      val (f1, d1, _, ok1) = results((v, 1))
      val (fm, dm, _, okm) = results((v, mult))
      println(f"| $v | $f1%.2f | $fm%.2f | $d1%.2f | $dm%.2f | ${dm / d1}%.2f | ${if (ok1 && okm) "identical" else "MISMATCH"} |")
    }
    spark.stop()
  }
}
