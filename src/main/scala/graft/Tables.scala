package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. All reads go through here so
  * every query benefits from the same scan (parquet column pruning +
  * predicate pushdown happen automatically once the plan is declarative).
  *
  * At 100 TB these would be partitioned/bucketed tables behind a catalog;
  * the API shape (name -> DataFrame) is the same either way.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    sfDir match {
      case SynthDir(n, p) =>
        val parts = Option(p).map(_.toInt)
          .getOrElse(spark.sparkContext.defaultParallelism)
        synthTable(spark, name, n.toLong, parts)
      case _ => resolved(spark, s"$sfDir/$name.parquet")
    }

  /** The one resolved-relation memo: `spark.read.parquet(path)` pays
    * DataSource resolution — file listing, a schema-inference job over
    * the parquet footers, relation construction — on EVERY call, and
    * the rule-time census priced that at ~78 ms/query across the suite
    * (ResolveDataSource was 21.9 s of the 34.6 s total Catalyst time
    * per bench sweep, r15). A catalog table resolves once and serves the
    * cached relation; this memo is that catalog behaviour for every
    * path the engine reads: the driver tables, the postings indexes, the
    * durable frame stores and the media landing zones. It caches the
    * resolved DataFrame HANDLE (logical plan + schema + file index) —
    * never rows or results; analysis, optimization and planning still
    * run per query, and every action still scans the files.
    *
    * Staleness: keyed by session (a DataFrame is session-bound) and by
    * path, validated against the name:length:mtime listing fingerprint
    * [[rowCount]] uses, so a directory rewritten or appended to (a
    * rebuilt or delta-appended index writes new part files) re-resolves
    * and replaces the entry instead of serving a stale file index. The
    * fingerprint is one driver-side listStatus per call — microseconds
    * against the ~50-100 ms resolution it replaces.
    *
    * A plan spliced into an ALREADY-ANALYZED plan (an optimizer rule's
    * rewrite) must re-bind the memoized relation with fresh attribute
    * ids (`LogicalRelation.newInstance`): every serve hands out the same
    * ids, and the analyzer's self-join deduplication has already run. */
  private[graft] def resolved(spark: SparkSession, path: String): DataFrame =
    resolved(spark, path, listing(spark, path)._2)(spark.read.parquet(path))

  /** [[resolved]] with the caller's staleness key `fp` and `load` in
    * place of the listing fingerprint and the parquet read. */
  private[graft] def resolved(spark: SparkSession, key: String, fp: Long)
                             (load: => DataFrame): DataFrame = {
    val perSession = relationCache.synchronized {
      // cached DataFrames strongly reference their SparkSession, so the
      // weak keying alone never collects stopped sessions (r15 advice);
      // evict them explicitly while holding the monitor
      val it = relationCache.entrySet().iterator()
      while (it.hasNext)
        if (it.next().getKey.sparkContext.isStopped) it.remove()
      var m = relationCache.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[String, (Long, DataFrame)]
        relationCache.put(spark, m)
      }
      m
    }
    perSession.get(key) match {
      case Some((`fp`, df)) => df
      case _ =>
        val df = load
        perSession.put(key, (fp, df))
        df
    }
  }

  /** Weak-keyed by session: a stopped session's cached relations must
    * never be served to a new session (a DataFrame is bound to the
    * session that resolved it), and the entry must not pin the old
    * session in memory across a long test JVM. */
  private val relationCache = new java.util.WeakHashMap[
    SparkSession,
    scala.collection.concurrent.TrieMap[String, (Long, DataFrame)]]

  /** Drops the relation memo and the row-count cache: the cold seam. */
  private[graft] def clear(): Unit = {
    relationCache.synchronized(relationCache.clear())
    rowCountCache.clear()
  }

  /** The data files under `path`, recursively (a partitioned or nested
    * layout must be seen, not silently skipped; '_' and '.' prefixes are
    * sidecar conventions such as _SUCCESS and .crc, never data), with
    * their name:length:mtime fingerprint — the staleness key shared by
    * [[resolved]] and [[rowCount]]. */
  private def listing(spark: SparkSession, path: String)
      : (Seq[org.apache.hadoop.fs.FileStatus], Long) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles(p: org.apache.hadoop.fs.Path)
        : Iterator[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).iterator
        .filter(s => !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .flatMap(s => if (s.isDirectory) dataFiles(s.getPath) else Iterator(s))
    val files =
      if (fs.getFileStatus(root).isDirectory) dataFiles(root).toSeq
      else Seq(fs.getFileStatus(root))
    (files, files.iterator
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime).hashCode())
      .foldLeft(files.size.toLong)((a, h) => a * 1000003L + h))
  }

  /** `sfDir = "synth:<nDocs>[:<partitions>]"` swaps the parquet corpus
    * for a SCAN-TIME synthetic twin — the scale-soak seam: corpus size
    * becomes a config constant, nothing hits storage, and any
    * registered query runs unmodified at 10×/100× sf0.1 volume
    * (`runMain graft.tools.ScaleSoak`). Generation is embarrassingly
    * parallel (spark.range partitions own id ranges) and DETERMINISTIC,
    * so two runs at the same N see byte-identical data. */
  private val SynthDir = "^synth:(\\d+)(?::(\\d+))?$".r

  /** Synthetic twins statistically shaped like the driver tables the
    * soak families read: `documents` draws 40-69 words (mean ~54, the
    * sf0.1 mean) from the same ~40-word vocabulary family the real
    * generator uses — small vocab is what gives the corpus natural
    * shingle overlap, the load profile the dedup ladder exists for —
    * and `embeddings` are 64-dim float vectors clustered on 8 label
    * centroids with per-vector noise, so LSH/IVF bucketing has real
    * structure to find. Seeded near-dups are NOT generated here:
    * DedupOps.corpus / SimilarityOps.embCorpus seed them over any base
    * table, synthetic or parquet. Only the two soak tables exist —
    * asking for a TPC-H table under synth: is an error by design. */
  private[graft] def synthTable(spark: SparkSession, name: String,
                                nDocs: Long, parts: Int): DataFrame = name match {
    case "documents" =>
      val vocab = Seq("spark", "batch", "part", "line", "column", "order",
        "small", "sort", "vector", "scan", "fast", "query", "agg", "slow",
        "value", "filter", "customer", "stream", "join", "shuffle", "cache",
        "disk", "memory", "node", "task", "stage", "row", "group", "key",
        "hash", "range", "merge", "index", "store", "read", "write", "plan",
        "cost", "skew", "limit")
      spark.range(0, nDocs, 1, parts).select(
        col("id").as("doc_id"),
        // Two load-bearing generator properties, both learned the hard
        // way in the r10 soaks:
        // (1) word choice needs a REAL mixing hash of (id, position) —
        //     any affine formula mod a small vocab aliases docs into
        //     exact/rotation-dup cliques (id ≡ id' mod 40 ⇒ identical
        //     text) and the corpus degenerates into millions of false
        //     near-dup pairs; xxhash64 is codegen'd and structure-free.
        // (2) the vocabulary must GROW with the corpus (Heaps' law,
        //     V ≈ K·n^0.5): a FIXED 40-word vocab at 600k docs makes
        //     every shingle hot (df ~ N/64k) and the exact-Jaccard
        //     prefix join quadratic — the 100× soak ground for 30+ min
        //     on what real open-vocabulary text never produces. The mix
        //     below is Zipf-flavored: ~30% of tokens from the 40-word
        //     hot head (keeps skew/hot-shingle stress real), the rest
        //     from a ~37·√N synthetic tail, so rarest-first prefix
        //     filters operate in the regime SSJoin assumes.
        array_join(transform(
          sequence(lit(0L), lit(39L) + pmod(col("id") * 13L, lit(30L))),
          i => {
            val pick = xxhash64(col("id"), i)
            val word = xxhash64(col("id"), i, lit(1L))
            when(pmod(pick, lit(10L)) < 3L,
              element_at(typedLit(vocab),
                pmod(word, lit(vocab.size.toLong)).cast("int") + 1))
              .otherwise(concat(lit("w"),
                pmod(word, lit(math.max(40L,
                  (37.0 * math.sqrt(nDocs.toDouble)).toLong)))))
          }), " ").as("text"),
        element_at(typedLit(Seq("en", "de", "fr")),
          pmod(col("id"), lit(3L)).cast("int") + 1).as("lang"),
        concat(lit("src"), pmod(col("id"), lit(5L))).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    case "embeddings" =>
      val nVecs = math.max(1L, nDocs * 2L / 5L) // the sf0.1 docs:vecs ratio
      spark.range(0, nVecs, 1, parts).select(
        col("id").as("vec_id"),
        transform(sequence(lit(1L), lit(64L)), i =>
          ((pmod(pmod(col("id"), lit(8L)) * 2654435761L + i * 40503L,
            lit(2000L)) / 1000.0 - 1.0) +
           (pmod(col("id") * 1000003L + i * 7919L,
            lit(400L)) / 1000.0 - 0.2)).cast("float")).as("embedding"),
        pmod(col("id"), lit(8L)).cast("int").as("label"))
    case other =>
      sys.error(s"synth: tables exist only for documents/embeddings, got $other")
  }

  /** Input-split starvation guard for CPU-bound derivations (shingle /
    * signature / token computation): the local test tables are tiny
    * single-row-group parquet files, so their scans plan 1-3 tasks and a
    * 32-core session idles through the heaviest narrow stage of a text
    * query. When the scan's estimated split count is below the session's
    * default parallelism, insert ONE hash exchange ahead of the
    * expensive projection; when the scan already yields >= cores splits
    * (any real table at cluster scale), this is the identity — no
    * exchange is ever added, so nothing extra moves at 100 TB.
    *
    * The split count is ESTIMATED from the scan's file metadata with the
    * same packing math Spark itself uses (`FilePartition.maxSplitBytes`:
    * bytes-per-core vs open cost vs maxPartitionBytes) — the earlier
    * `df.rdd.getNumPartitions` probe forced full physical planning and
    * RDD lineage instantiation per call (and reported the pre-AQE count).
    * File listings come from the relation's FileIndex, which caches them,
    * so the estimate is a driver-side arithmetic pass over cached
    * metadata. Plans with no file-scan leaves (in-memory test fixtures)
    * get the identity: the starvation guard exists for file scans. */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val est = estimatedScanSplits(df)
    // hash-partition on a caller-named cheap key: plain round-robin
    // repartition() sorts every row before distributing (Spark's
    // retry-determinism guard, spark.sql.execution.sortBeforeRepartition)
    // which is pure overhead on wide text rows
    if (est.exists(_ < target)) df.repartition(target, key) else df
  }

  /** Estimated number of scan splits Spark would plan for `df`'s file
    * leaves, from file sizes only (no physical planning). Mirrors
    * `FilePartition.maxSplitBytes`: splits are at most
    * `maxPartitionBytes`, at least `openCostInBytes`, targeting
    * total/defaultParallelism bytes per core. None when the plan has no
    * file-scan leaf. */
  private[graft] def estimatedScanSplits(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val conf = df.sparkSession.sessionState.conf
    val parallelism = df.sparkSession.sparkContext.defaultParallelism.toLong
    val openCost = conf.filesOpenCostInBytes
    val maxPB = conf.filesMaxPartitionBytes
    val rels = df.queryExecution.analyzed.collectLeaves().collect {
      case lr: LogicalRelation => lr.relation
    }.collect { case fs: HadoopFsRelation => fs }
    if (rels.isEmpty) None
    else Some(rels.map { fs =>
      val sizes = fs.location.listFiles(Nil, Nil)
        .flatMap(_.files).map(_.getLen).filter(_ > 0)
      val bytesPerCore =
        sizes.map(_ + openCost).sum / math.max(1L, parallelism)
      val maxSplit = math.min(maxPB, math.max(openCost, bytesPerCore))
      math.max(1L, sizes.map(s => (s + maxSplit - 1) / maxSplit).sum)
    }.max)
  }

  def region(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "lineitem")
  /** `events.parquet` stores `ts` as INT64 TIMESTAMP(NANOS), which Spark's
    * parquet reader rejects unless the session sets
    * `spark.sql.legacy.parquet.nanosAsLong=true` — every entry point
    * (Verify/Bench/EntrySmoke/test fixtures) sets it at SparkSession
    * creation; this loader must not mutate session conf as a side effect
    * (it would leak into later reads and race under concurrency).
    * Nanos read as long are floor-divided to microseconds — the same
    * truncation DuckDB applies when it coerces nanos to its
    * micro-precision TIMESTAMP, so oracle values match.
    *
    * Newer driver data instead writes `ts` as parquet TIMESTAMP(MICROS)
    * without a timezone annotation, which Spark 4 reads as
    * TIMESTAMP_NTZ; every entry point pins the session timezone to UTC,
    * so casting that wall-clock to the session-zoned TIMESTAMP is
    * value-identical to the old nanos path (and to DuckDB, whose naive
    * TIMESTAMP is the same wall-clock). Normalizing here keeps the whole
    * engine — and its `unix_micros`/window arithmetic — on one
    * timestamp type regardless of which generation of data it reads. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = load(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** DRIVER-SIDE row count of a table — the count a catalog/manifest
    * already knows, so index-sizing decisions ([[graft.operators
    * .SimilarityOps]]'s autoBits) never pay a full-scan `count()` job
    * just to pick a parameter. `synth:` corpora know it analytically
    * (the generators above are `spark.range`-shaped); parquet tables
    * read it from file FOOTERS (row counts are parquet block metadata
    * — the same numbers a Hive/Delta catalog serves from its
    * manifest), summed driver-side and cached per path for the
    * session. Zero Spark jobs either way. Exactness matters: the
    * committed kNN oracles render `autoBits` from `count(*)`, so this
    * must equal the scan count — footer totals are exact by the
    * parquet spec (every writer records block row counts). */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long = sfDir match {
    case SynthDir(n, _) => name match {
      case "documents"  => n.toLong
      case "embeddings" => math.max(1L, n.toLong * 2L / 5L) // mirror synthTable
      case other => sys.error(s"synth: tables exist only for documents/embeddings, got $other")
    }
    case _ =>
      val path = s"$sfDir/$name.parquet"
      // validated on the listing fingerprint, keyed by path: a table
      // rewritten in-session must re-read footers, not serve the stale
      // sum — and the rewrite must EVICT the prior entry, not leave it
      // beside the new one (fingerprint-embedding keys grow without
      // bound across long soak sessions of repeated publishes)
      val (files, fp) = listing(spark, path)
      rowCountCache.get(path) match {
        case Some((`fp`, n)) => n
        case _ =>
          val conf = spark.sessionState.newHadoopConf()
          val n = files.iterator.map { s =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(s, conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRecordCount finally r.close()
          }.sum
          rowCountCache.put(path, (fp, n))
          n
      }
  }

  private val rowCountCache =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]
}
