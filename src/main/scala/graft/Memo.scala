package graft

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-corpus artifacts built once and reused: the dedup family's
  * band, pair, token-set, cluster-label, gram and SimHash tables, the
  * corpus counts that size kernels, and the on-disk band, vector and
  * curation stores.
  *
  * A corpus pass such as the MinHash signature pass or the CC loop is
  * the dominant cost of every key that reads it, and several keys read
  * each one, some under both inputs of a self-join. A real pipeline
  * materializes such a table once next to the corpus; the memo is that
  * shape in one application, and the store dirs are its cross-process
  * form. Reuse is only sound while the input is unchanged, so this one
  * object decides what identifies an artifact, when it is stale and
  * when it dies:
  *
  *  - **Key.** `(applicationId, name, path)`, where `path` is the
  *    input table the artifact is built from. Each entry records that
  *    table's [[Tables.fingerprint]] (every data file's relative path,
  *    size, ns mtime and inode). A lookup whose fingerprint differs —
  *    the corpus was rewritten in place, even by a same-size `cp -p` —
  *    rebuilds the entry and unpersists the frame it replaces. A path
  *    that cannot be fingerprinted (a non-local URI) is keyed by path
  *    alone.
  *  - **Frames** come back in their storage form (`persist` for most,
  *    the CC kernel's own checkpoint for labels); the memo runs one
  *    eager `count()` so the pass runs exactly once, under the caller's
  *    timing, and keeps the row count as the table's size bound.
  *  - **Eviction.** One listener per application drops that
  *    application's entries when it ends, so a JVM that creates several
  *    sessions (a test runner, a driver restarting contexts) holds no
  *    frames of stopped sessions.
  *  - **Stores.** [[storeDir]] names an on-disk artifact dir from the
  *    same fingerprint plus the kernel constants baked into the
  *    artifact, and [[atomicArtifact]] publishes into it, so a
  *    regenerated corpus or a changed constant never serves a stale
  *    store and a reader never sees a partial one.
  */
object Memo {

  /** One memoized artifact: the fingerprint of the input it was built
    * from, its frame (none for a count) and its row count.
    */
  private[graft] final case class Entry(fingerprint: String, frame: Option[DataFrame],
      rows: Long)

  private[graft] val entries = TrieMap.empty[(String, String, String), Entry]
  private val hooked = TrieMap.empty[String, Unit]

  /** The frame `name` built from the table at `path`, and its row count. */
  def frame(spark: SparkSession, name: String, path: String)(build: => DataFrame)
      : (DataFrame, Long) = {
    val e = memo(spark, name, path) { fp =>
      val df = build
      Entry(fp, Some(df), df.count())
    }
    (e.frame.get, e.rows)
  }

  /** The count `name` over the table at `path`. */
  def count(spark: SparkSession, name: String, path: String)(n: => Long): Long =
    memo(spark, name, path)(Entry(_, None, n)).rows

  private def memo(spark: SparkSession, name: String, path: String)
      (build: String => Entry): Entry = {
    val app = spark.sparkContext.applicationId
    if (hooked.putIfAbsent(app, ()).isEmpty)
      spark.sparkContext.addSparkListener(new EvictionListener(app))
    val fp = Tables.fingerprint(path).getOrElse("")
    val key = (app, name, path)
    entries.get(key) match {
      case Some(e) if e.fingerprint == fp => e
      case stale =>
        // Released before the rebuild: the CacheManager matches cached
        // frames by plan, and the old and new plans over one path are
        // the same plan, so the rebuild would otherwise serve the old
        // cached rows.
        stale.foreach { e => entries.remove(key, e); release(e) }
        val e = build(fp)
        entries.put(key, e).foreach(release)
        e
    }
  }

  private def release(e: Entry): Unit =
    e.frame.foreach(df => try df.unpersist(blocking = false) catch { case NonFatal(_) => () })

  /** Drop (and unpersist) every entry of one application. */
  private[graft] def evict(appId: String): Unit =
    entries.keys.filter(_._1 == appId).foreach(k => entries.remove(k).foreach(release))

  /** Evicts its application's entries when the application ends. */
  private[graft] final class EvictionListener(appId: String) extends SparkListener {
    override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
      evict(appId)
      hooked.remove(appId)
      ()
    }
  }

  /** A 16-hex key over the tables at `paths` (canonical path and
    * fingerprint each) and `constants`.
    */
  def key(paths: Seq[String], constants: String = ""): String =
    Tables.sha256(paths.flatMap(p =>
      Seq(new java.io.File(p).getCanonicalPath, Tables.fingerprint(p).getOrElse(""))) :+
      constants).take(16)

  /** `<root>/<prefix>-<key>`: the store dir of an artifact built from
    * the table at `path` under the kernel `constants`.
    */
  def storeDir(root: String, prefix: String, path: String, constants: String): String =
    s"$root/$prefix-${key(Seq(path), constants)}"

  /** Write-once publication of `<dir>/<name>`, safe for concurrent
    * builders and readers: `write` produces `<scratch>/<name>` (with
    * its `_SUCCESS`) in a private scratch dir inside `dir`, then one
    * `ATOMIC_MOVE` rename publishes it. A reader sees the complete
    * artifact or nothing; when two builders race, the loser's rename
    * fails against the published dir and its scratch copy is
    * discarded. A published artifact (its `_SUCCESS` exists) is never
    * rewritten. On an object store the same contract comes from the
    * committer, which is why the write goes through a directory rename
    * and not a file-by-file copy.
    */
  def atomicArtifact(dir: String, name: String)(write: String => Unit): Unit = {
    val target = new java.io.File(dir, name)
    if (new java.io.File(target, "_SUCCESS").exists()) return
    new java.io.File(dir).mkdirs()
    val scratch = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(dir), ".tmp-").toFile
    try {
      write(scratch.toString)
      try java.nio.file.Files.move(
        new java.io.File(scratch, name).toPath, target.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: java.nio.file.FileSystemException =>
          // Lost the publish race iff a COMPLETE artifact now exists;
          // anything else is a real failure and must surface.
          if (!new java.io.File(target, "_SUCCESS").exists()) throw e
      }
      ()
    } finally graft.streaming.Streams.deleteRecursively(scratch.toString)
  }
}
