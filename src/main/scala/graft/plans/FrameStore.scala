package graft.plans

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable DERIVED-FRAME store — the on-disk layer under the session
  * catalogs ([[TextIndexCatalog]]'s manifest discipline factored for
  * reuse): an expensive derived frame (the LM's scored per-doc table,
  * the kNN graph's edge list) is written ONCE per corpus snapshot
  * under a content-addressed directory carrying a `_manifest` of its
  * source data files (relative-path:length:mtime, recursive, hidden
  * components skipped), and every later invocation — another query,
  * a fresh JVM, the next soak rep — SERVES the parquet instead of
  * rebuilding. localCheckpoint blocks die with their executors; a
  * written table survives sessions and clusters (the publishSignatures
  * argument applied to every expensive derived frame, r13 verdict #5).
  * In production the directory is an object-store prefix and the
  * manifest comparison is a catalog snapshot-id check.
  *
  * Serve-vs-rebuild is introspectable ([[lastAction]]) so specs and
  * soak rows can PROVE an overlay was served, not silently rebuilt. */
object FrameStore {
  @volatile private[graft] var lastAction: String = ""

  private def root = new java.io.File(
    sys.props("java.io.tmpdir"), "graft-frame-store")

  private[graft] def dirFor(key: String): String = {
    val h = java.security.MessageDigest.getInstance("SHA-1")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    new java.io.File(root, h).getAbsolutePath
  }

  /** Source fingerprint entries for (sfDir, table): recursive
    * name:length:mtime rows, or a constant entry for immutable
    * `synth:` corpora (the TextIndexCatalog rule — deterministic for a
    * given N, no file ever exists). */
  private[graft] def sourceEntries(spark: SparkSession, sfDir: String,
                                   table: String): Seq[String] = {
    if (sfDir.startsWith("synth:")) return Seq(s"$sfDir/$table:immutable")
    val p = new Path(s"$sfDir/$table.parquet")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val st = fs.getFileStatus(p)
    if (!st.isDirectory)
      return Seq(s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
    val rootUri = p.toUri
    val out = Seq.newBuilder[String]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val s = it.next()
      val rel = rootUri.relativize(s.getPath.toUri).getPath
      val hidden = rel.split("/")
        .exists(seg => seg.startsWith("_") || seg.startsWith("."))
      if (!hidden) out += s"$rel:${s.getLen}:${s.getModificationTime}"
    }
    out.result().sorted
  }

  private[graft] def readManifest(fs: FileSystem, dir: Path): Seq[String] = {
    val m = new Path(dir, "_manifest")
    if (!fs.exists(m)) return Seq.empty
    val in = fs.open(m)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  private[graft] def writeManifest(fs: FileSystem, dir: Path,
                                   entries: Seq[String]): Unit = {
    val out = fs.create(new Path(dir, "_manifest"), true)
    try out.write(entries.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  // per-key build locks: the dedupCache lesson (r13 advice) applied
  // from the start — concurrent builds of UNRELATED frames must not
  // serialize behind one global monitor
  private val keyLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Serve the frame off disk when its manifest matches the current
    * source fingerprint; otherwise run `build`, overwrite the
    * directory, then commit the manifest. Build-then-manifest ordering
    * makes a crash between the two a plain rebuild on the next call,
    * never a stale serve. The returned frame is the parquet read
    * either way, so serve and rebuild hand consumers the identical
    * plan shape. */
  def serveOrBuild(spark: SparkSession, key: String, entries: Seq[String])
                  (build: => DataFrame): DataFrame =
    keyLocks.getOrElseUpdate(key, new Object).synchronized {
      val dir = dirFor(key)
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (readManifest(fs, p) == entries) {
        lastAction = s"served:$key"
      } else {
        build.write.mode("overwrite").parquet(dir)
        writeManifest(fs, p, entries)
        lastAction = s"rebuilt:$key"
      }
      graft.Tables.resolved(spark, dir)
    }

  /** Cold-soak seam: delete the stored frame for `key`. */
  private[graft] def purge(key: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    val d = new java.io.File(dirFor(key))
    if (d.exists) rm(d)
  }
}
