package graft.perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{ArticleOps, DedupOps, SimilarityOps, TextOps}
import graft.plans.TextIndexCatalog

/** One benchmark run in one JVM: set up, measure a workload for a fixed
  * time, check its outputs, and write raw samples, spans and counters
  * as JSON for `perfbench/run.py`, which turns them into metrics.
  *
  * Arguments (all `--name value`): workload (search | ingest), corpus
  * (parquet directory), requests (search request file), seconds, trace
  * (0 | 1), seed, work (scratch directory for outputs and results).
  *
  * With trace 1 every timed operation runs twice in a row, once traced
  * and once untraced: the traced operations give the per-layer numbers
  * and each pair gives the tracing overhead on the same input. The order
  * within a pair alternates from pair to pair, starting from the seed's
  * parity, so that a JVM still speeding up favours neither side. */
object Main {
  final case class Op(kind: String, ms: Double, ok: Boolean, traced: Boolean = false)

  /** Set-ups per run, each after a full reset; `setup_s` takes their
    * median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = new File(a("work"))
    val sfDir = new File(a("corpus")).getAbsolutePath
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val seed = a("seed").toInt
    val out = mutable.LinkedHashMap.empty[String, Any]

    val t0 = System.nanoTime()
    val spark = session(work)
    out("session_start_s") = (System.nanoTime() - t0) / 1e9
    out("env") = env(spark)
    val tracer = new Tracer
    val w: Workload = a("workload") match {
      case "search" => new Search(spark, sfDir, a("requests"), tracer)
      case "ingest" => new Ingest(spark, sfDir, new File(work, "curated").getAbsolutePath,
        tracer)
      case other => sys.error(s"unknown workload $other")
    }
    try {
      out("setup_reps_s") = (1 to SetupReps).map { _ =>
        val s = System.nanoTime()
        w.setup()
        (System.nanoTime() - s) / 1e9
      }
      if (traced) {
        val probe = new Probe(spark, tracer)
        val ops = window(seconds) { i =>
          def plain = w.op(i)
          def probed = probe(w.op(i)).copy(traced = true)
          if ((i + seed) % 2 == 0) Seq(plain, probed) else Seq(probed, plain)
        }
        out("ops") = ops.map(opJson)
        out("jvm") = probe.jvmTotals
        out("scheduler") = probe.sched.snapshot()
        out("graft_rules_ns") = probe.planning.graftRulesNs.sum()
        out("codegen_compile_mean_ms") = Counters.compileMeanMs()
        out("spans") = tracer.all.map(s => Map(
          "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "counts" -> s.counts))
      } else {
        out("ops") = window(seconds)(i => Seq(w.op(i))).map(opJson)
      }
      out("retained_heap_mb") = Jvm.retainedHeapMb()
      out("detail") = w.detail()
      out("check") = w.check(new File(work, "check").getAbsolutePath)
    } finally {
      json.writeValue(new File(work, "result.json"), out)
      spark.stop()
    }
  }

  /** Rounds of timed operations, numbered from 0, until `seconds` have
    * passed: at least one round, and a round starts only when the last
    * one says it ends in time. */
  def window(seconds: Double)(round: Int => Seq[Op]): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var lastNs = 0L
    var i = 0
    while (ops.isEmpty || System.nanoTime() + lastNs < deadline) {
      val s = System.nanoTime()
      ops ++= round(i)
      lastNs = System.nanoTime() - s
      i += 1
    }
    ops.toSeq
  }

  /** Writes the result file. Non-finite doubles are written as the bare
    * `NaN` and `Infinity` tokens, which the runner's JSON reader takes. */
  private val json = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()

  private def opJson(o: Op) =
    Map("kind" -> o.kind, "ms" -> o.ms, "ok" -> o.ok, "traced" -> o.traced)

  /** The engine setup of `graft.Bench`, at local[nproc]. */
  def session(work: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def env(spark: SparkSession): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "master" -> spark.sparkContext.master,
    "confs" -> spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") && !k.endsWith(".dir") }.toSeq.sorted.toMap,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
    "jdk" -> System.getProperty("java.runtime.version"),
    "spark" -> spark.version)

  /** Every session catalog and on-disk store the engine keeps for a
    * corpus, reset through the engine's own seams. */
  def reset(spark: SparkSession, sfDir: String): Unit = {
    TextIndexCatalog.clear()
    TextIndexCatalog.purgeDirs(sfDir)
    DedupOps.clearDedupCache()
    DedupOps.clearPublishedTables()
    DedupOps.purgePublishedStore(spark, sfDir)
    TextOps.clearLmCache()
    TextOps.purgeLmStore(sfDir)
    SimilarityOps.clearKnnIndexCache()
    SimilarityOps.purgeKnnStore(sfDir)
    spark.catalog.clearCache()
  }

  /** Store directories under the engine's store roots, as
    * path -> (bytes, newest modification time). */
  def stores(extra: String*): Map[String, (Long, Long)] = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val roots = Seq("graft-text-index", "graft-frame-store").map(new File(tmp, _))
    val dirs = roots.flatMap(r => Option(r.listFiles).toSeq.flatten) ++
      extra.map(new File(_)).filter(_.exists)
    dirs.map { d =>
      val files = Files.walk(d.toPath).iterator().asScala.map(_.toFile)
        .filter(_.isFile).toSeq
      d.getPath -> (files.map(_.length).sum, files.map(_.lastModified).foldLeft(0L)(math.max))
    }.toMap
  }

  def indexBytes(): Long = stores().collect {
    case (k, (b, _)) if k.contains("graft-text-index") => b }.sum

  /** Stores built (new or changed) and served (present before, unchanged
    * after) between two listings. */
  def storeEvents(before: Map[String, (Long, Long)],
                  after: Map[String, (Long, Long)]): (Seq[String], Seq[String]) = {
    val built = after.keys.filter(k => !before.get(k).contains(after(k))).toSeq.sorted
    val served = after.keys.filter(k => before.get(k).contains(after(k))).toSeq.sorted
    (built, served)
  }

  /** Median of five `ensureIndex` calls on an index that is up to date:
    * the cost every indexed request pays to be served. */
  def ensureServeMs(spark: SparkSession, sfDir: String): Double =
    (1 to 5).map { _ =>
      val s = System.nanoTime()
      TextIndexCatalog.ensureIndex(spark, sfDir)
      (System.nanoTime() - s) / 1e6
    }.sorted.apply(2)

  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.iterator.zipWithIndex.foreach { case (r, i) =>
      if (i > 0) md.update('\n'.toByte)
      md.update(r.toSeq.map(v => if (v == null) "\\N" else v.toString)
        .mkString("\t").getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

trait Workload {
  /** One untimed set-up; called several times, after a reset each time. */
  def setup(): Unit
  /** One timed operation on input `i` (a request, or a cold pass); the
    * same `i` gives the same input. */
  def op(i: Int): Main.Op
  def detail(): Map[String, Any]
  /** Untimed output check; mismatches and errors are listed in the
    * result and counted as failures by the runner. */
  def check(dir: String): Map[String, Any]
}

final case class Req(kind: String, terms: Seq[String]) {
  def key: String = kind + ":" + terms.mkString(" ")
}

/** Closed-loop keyword search over a warm, indexed corpus: one client,
  * each request built, planned, run and collected before the next. */
final class Search(spark: SparkSession, sfDir: String, requestFile: String,
                   tracer: Tracer) extends Workload {
  private val reqs: IndexedSeq[Req] =
    scala.io.Source.fromFile(requestFile, "UTF-8").getLines().map { l =>
      val Array(k, t) = l.split("\t", 2)
      Req(k, t.split(" ").toSeq)
    }.toIndexedSeq
  /** request key -> digest of the first index-served answer */
  private val served = mutable.LinkedHashMap.empty[String, (String, Int)]
  private var indexPath = ""
  private var indexBuildS = 0.0
  private var indexReads = 0
  private var setupStores = Map.empty[String, (Long, Long)]

  private def build(r: Req, indexed: Boolean): DataFrame = r.kind match {
    case "keyword" => ArticleOps.searchKeyword(spark, sfDir, r.terms.head)
    case "any" => ArticleOps.searchAnyKeyword(spark, sfDir, r.terms)
    case "bm25" =>
      if (indexed) ArticleOps.searchBm25Indexed(spark, sfDir, r.terms)
      else ArticleOps.searchBm25(spark, sfDir, r.terms)
    case "phrase" =>
      if (indexed) ArticleOps.searchPhraseIndexed(spark, sfDir, r.terms.mkString(" "))
      else ArticleOps.searchPhrase(spark, sfDir, r.terms.mkString(" "))
    case "snippet" =>
      if (indexed) ArticleOps.searchSnippetIndexed(spark, sfDir, r.terms.head)
      else ArticleOps.searchSnippet(spark, sfDir, r.terms.head)
  }

  def setup(): Unit = {
    Main.reset(spark, sfDir)
    val t0 = System.nanoTime()
    indexPath = TextIndexCatalog.ensureIndex(spark, sfDir)
    indexBuildS = (System.nanoTime() - t0) / 1e9
    // warm every request type's plan, codegen and JIT on requests the
    // timed loop does not start with
    reqs.takeRight(5).foreach(r => build(r, indexed = true).collect())
    setupStores = Main.stores()
  }

  def op(i: Int): Main.Op = {
    val r = reqs(i % reqs.size)
    tracer.req = i + 1
    val t0 = System.nanoTime()
    val rows = try {
      Some(tracer.span("request") {
        val df = tracer.span("operators.build")(build(r, indexed = true))
        if (tracer.enabled && readsIndex(df)) indexReads += 1
        tracer.span("action")(df.collect())
      })
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] ${r.key} failed: $e")
      None
    }
    val ms = (System.nanoTime() - t0) / 1e6
    rows.foreach(rs => if (!served.contains(r.key))
      served(r.key) = (Main.digest(rs), rs.length))
    Main.Op(r.kind, ms, rows.isDefined)
  }

  /** Whether the optimized plan scans the registered postings. */
  private def readsIndex(df: DataFrame): Boolean = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.optimizedPlan.collectLeaves().exists {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.exists(_.toString.stripPrefix("file:") == indexPath)
        case _ => false
      }
      case _ => false
    }
  }

  /** Stores built and served are those of the measurement, between the
    * end of the last set-up and now. */
  def detail(): Map[String, Any] = {
    val (built, storesServed) = Main.storeEvents(setupStores, Main.stores())
    Map(
      "index_bytes" -> Main.indexBytes(),
      "index_build_s" -> indexBuildS,
      "ensure_ms" -> Main.ensureServeMs(spark, sfDir),
      "index_reads" -> indexReads,
      "stores_built" -> built,
      "stores_served" -> storesServed)
  }

  /** The runner compares every distinct request's index-served digest
    * with DuckDB. The first `scanChecks` distinct requests of each type
    * are also answered here by the scan path, with the index
    * unregistered: a scan costs a full request, so checking all of them
    * would outlast the measurement. */
  def check(dir: String): Map[String, Any] = {
    TextIndexCatalog.clear()
    val scanChecks = 1
    val scanned = mutable.Map.empty[String, Int].withDefaultValue(0)
    val results = served.map { case (key, (d, n)) =>
      val Array(kind, terms) = key.split(":", 2)
      val r = Req(kind, terms.split(" ").toSeq)
      val scan =
        if (scanned(kind) >= scanChecks) None
        else {
          scanned(kind) += 1
          Some(try Main.digest(build(r, indexed = false).collect())
            catch { case e: Exception => s"error: $e" })
        }
      Map("type" -> kind, "terms" -> r.terms, "digest" -> d, "rows" -> n,
        "scan_digest" -> scan)
    }
    Map("search" -> results.toSeq)
  }
}

/** Cold batch ingest: every catalog and store reset, then the corpus
  * taken through cleanse, field extraction, quality, near- and
  * semantic-duplicate removal, the text index build and a parquet write
  * of the curated articles. */
final class Ingest(spark: SparkSession, sfDir: String, curatedDir: String,
                   tracer: Tracer) extends Workload {
  private val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def noop(df: => DataFrame): Unit = {
    val d = tracer.span("operators.build")(df)
    tracer.span("action")(d.write.format("noop").mode("overwrite").save())
  }

  private def curated: DataFrame = {
    val kept = DedupOps.dedupSurvivors(spark, sfDir).filter(col("is_kept") === 1L)
      .select("doc_id")
    ArticleOps.extractArticleFields(spark, sfDir)
      .join(TextOps.qualityScore(spark, sfDir).select("doc_id", "quality_score"), "doc_id")
      .join(kept, Seq("doc_id"), "left_semi")
  }

  /** The pipeline's steps, in order, as (metric name, body). */
  private val steps: Seq[(String, () => Unit)] = Seq(
    "cleanse" -> (() => noop(ArticleOps.cleanseText(spark, sfDir))),
    "extract" -> (() => noop(ArticleOps.extractArticleFields(spark, sfDir))),
    "quality" -> (() => {
      noop(TextOps.gopherRules(spark, sfDir)); noop(TextOps.qualityScore(spark, sfDir)) }),
    "near_dup" -> (() => {
      noop(DedupOps.minhashLsh(spark, sfDir)); noop(DedupOps.dedupSurvivors(spark, sfDir)) }),
    "semantic_dup" -> (() => noop(SimilarityOps.semanticDedup(spark, sfDir))),
    "index" -> (() => tracer.span("action")(TextIndexCatalog.ensureIndex(spark, sfDir))),
    "store" -> (() => {
      val d = tracer.span("operators.build")(curated)
      tracer.span("action")(d.write.mode("overwrite").parquet(curatedDir))
    }))

  /** Reset every catalog and store, including the curated output. */
  private def reset(): Unit = {
    Main.reset(spark, sfDir)
    Option(new File(curatedDir).listFiles).foreach(_.foreach(_.delete()))
    new File(curatedDir).delete()
  }

  private def coldPass(): (Double, Map[String, Double]) = {
    val t0 = System.nanoTime()
    val stepS = steps.zipWithIndex.map { case ((name, body), i) =>
      tracer.req = i + 1
      val s = System.nanoTime()
      tracer.span(s"ingest.$name")(body())
      name -> (System.nanoTime() - s) / 1e9
    }.toMap
    ((System.nanoTime() - t0) / 1e9, stepS)
  }

  /** A full cold pass over the measured corpus: the JIT warms on the
    * sizes the timed passes see. */
  def setup(): Unit = {
    reset()
    coldPass()
  }

  /** Every pass reads the same corpus, so `i` only numbers it. */
  def op(i: Int): Main.Op = {
    reset()
    val before = Main.stores(curatedDir)
    val res = try Some(coldPass())
      catch { case e: Exception =>
        System.err.println(s"[perfbench] ingest pass $i failed: $e")
        None
      }
    val after = Main.stores(curatedDir)
    val (built, served) = Main.storeEvents(before, after)
    // a cold pass that served a store was not cold: flag it, do not time it
    val cold = served.isEmpty
    res.foreach { case (wall, stepS) =>
      passes += Map("wall_s" -> wall, "steps_s" -> stepS, "cold" -> cold,
        "traced" -> tracer.enabled, "stores_built" -> built, "stores_served" -> served,
        "bytes_written" -> built.map(after(_)._1).sum)
    }
    Main.Op("pass", res.map(_._1 * 1000).getOrElse(0.0), res.isDefined && cold)
  }

  def detail(): Map[String, Any] = Map(
    "passes" -> passes.toSeq,
    "index_bytes" -> Main.indexBytes(),
    "ensure_ms" -> Main.ensureServeMs(spark, sfDir))

  /** Every step output with an oracle entry except `dd_pipeline_survivors`,
    * whose DuckDB oracle (connected components in SQL) alone takes longer
    * than the measurement. */
  def check(dir: String): Map[String, Any] = {
    val outputs = Seq(
      "art_cleanse_text" -> (() => ArticleOps.cleanseText(spark, sfDir)),
      "art_extract_fields" -> (() => ArticleOps.extractArticleFields(spark, sfDir)),
      "txt_gopher_rules" -> (() => TextOps.gopherRules(spark, sfDir)),
      "txt_quality" -> (() => TextOps.qualityScore(spark, sfDir)),
      "dd_minhash_lsh" -> (() => DedupOps.minhashLsh(spark, sfDir)),
      "dd_semantic" -> (() => SimilarityOps.semanticDedup(spark, sfDir)))
    val written = outputs.map { case (name, df) =>
      name -> (try {
        df().coalesce(1).write.mode("overwrite").parquet(s"$dir/$name"); "ok"
      } catch { case e: Exception => s"error: $e" })
    }
    Map("oracle" -> written.map { case (name, status) =>
      Map("name" -> name, "status" -> status, "sql" -> graft.SparkEntry.oracleSql(name))
    })
  }
}

/** Driver JVM counters: GC and JIT time, heap peaks, retained heap. */
object Jvm {
  import java.lang.management.{ManagementFactory, MemoryType}

  def read(): Map[String, Double] = Map(
    "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum,
    "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble)

  def delta(before: Map[String, Double]): Map[String, Double] =
    read().map { case (k, v) => k -> (v - before(k)) } +
      ("heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Heap in use after forced full GCs, repeated until the reading stops
    * falling: Spark's ContextCleaner releases weakly reachable broadcasts
    * and shuffles only after a collection has noticed them. */
  def retainedHeapMb(): Double = {
    def usedAfterGc(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var best = usedAfterGc()
    var rounds = 1
    var now = usedAfterGc()
    while (now < best * 0.99 && rounds < 6) {
      best = now
      now = usedAfterGc()
      rounds += 1
    }
    math.min(best, now)
  }
}
