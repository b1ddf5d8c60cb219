package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one harness every main runs on: one session factory, one
  * per-query runner and one cold-reset seam, so Bench, Verify, PlanGate,
  * the inspection tool and the soaks plan and run queries under the same
  * engine configuration. */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** Local cores: `SPARK_GRAFT_CPUS` when set, else every available
    * processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def master: String = s"local[$cpus]"

  /** The engine configuration Bench times and Verify checks, with
    * `overrides` on top. */
  def confs(overrides: (String, String)*): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.ui.enabled" -> "false",
    // the whole-stage-codegen cache (static conf, default 100 entries)
    // thrashes across the suite's codegen stages × 3 sweeps: every sweep
    // would recompile every stage. Sized to hold every stage of the full
    // suite so sweeps 2/3 compile nothing.
    "spark.sql.codegen.cache.maxEntries" -> "4000",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.constraintPropagation.enabled" -> "false") ++ overrides

  /** Plan audits read the planner's static worst-case shape: AQE wraps
    * unexecuted plans and hides codegen spans. */
  val audit: Seq[(String, String)] = Seq("spark.sql.adaptive.enabled" -> "false")

  /** The only session builder in the program. */
  def session(overrides: (String, String)*): SparkSession = {
    val b = SparkSession.builder().master(master)
    confs(overrides: _*).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed JIT/codegen warm-up: the first timed query otherwise pays
    * seconds of classloading and whole-stage-codegen compilation that
    * have nothing to do with the query itself. */
  def warmup(spark: SparkSession, sfDir: String): Unit =
    try Tables.lineitem(spark, sfDir).limit(1000)
      .groupBy("l_returnflag").count().count()
    catch { case _: Throwable => }

  /** Runs `body` on every registered query (those named in `only`, all
    * when it is empty), handing it the name and the unbuilt query so a
    * timed interval can cover frame construction. A throw fails that
    * query only. [[afterQuery]] runs after each one. */
  def eachQuery[T](spark: SparkSession, sfDir: String,
                   only: Set[String] = Set.empty)
                  (body: (String, Query) => T): Seq[(String, Either[Throwable, T])] =
    SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
        val r = try Right(body(name, fn)) catch { case e: Throwable => Left(e) }
        afterQuery(spark)
        name -> r
      }

  /** Per-query state: queries persist intermediates, and an index
    * registration would switch a later search query to the index-join
    * plan, so each query's plan stays order-independent. */
  def afterQuery(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.plans.TextIndexCatalog.clear()
  }

  /** The full cold seam: every session catalog, the relation memo and
    * every on-disk store the engine keeps for `sfDir`. */
  def reset(spark: SparkSession, sfDir: String): Unit = {
    import graft.operators.{DedupOps, SimilarityOps, TextOps}
    Tables.clear()
    SimilarityOps.clearKnnIndexCache()
    SimilarityOps.purgeKnnStore(sfDir)
    TextOps.clearLmCache()
    TextOps.purgeLmStore(sfDir)
    DedupOps.clearDedupCache()
    DedupOps.clearPublishedTables()
    DedupOps.purgePublishedStore(spark, sfDir)
    graft.plans.TextIndexCatalog.purgeDirs(sfDir)
    afterQuery(spark)
  }
}
