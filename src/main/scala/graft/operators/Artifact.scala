package graft.operators

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Publish-once protocol for persisted derived artifacts (cluster
  * labels, IVF indexes, shingle relations).
  *
  * The naive `if (!exists) write(path)` is a non-atomic
  * check-then-write: two concurrent consumers can both miss the
  * completeness marker and overwrite the same path while a third
  * reads it, observing a partial directory. [[ensure]] builds through
  * [[Publish]] (stage into a hidden sibling, swap in on success) and
  * adds what a build-once artifact needs on top:
  *
  *   - in-process, a per-path lock serializes builders, so a parallel
  *     query runner (q69/q90/q125 all ensuring the same labels) builds
  *     once instead of three times;
  *   - a loser of a cross-process race finds the artifact complete
  *     after its build and discards its own copy — the artifacts are
  *     deterministic, so whichever build won is bit-identical;
  *   - an INCOMPLETE destination (a crashed or pre-protocol writer's
  *     partial files) is replaced like any prior generation.
  */
object Artifact {
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** True when `path` holds a complete single-directory artifact
    * (Spark's `_SUCCESS` marker is only written on job commit).
    *
    * A successful check doubles as the reader's freshness trace:
    * parquet SCANS never update any mtime, so sweep staleness keyed on
    * write mtimes alone could reclaim a directory another JVM resolved
    * long ago and is reading right now. Every resolve touches
    * `_graft_read` (a Spark-invisible underscore file), which
    * [[newestMtime]] folds into the sweep's quiet-window test — "stale"
    * means nothing has written OR RESOLVED the artifact for the whole
    * window. Consumers resolve immediately before each read, so the
    * residual race is a single query outliving the 24 h window.
    */
  def complete(path: String): Boolean = {
    val ok = new File(path, "_SUCCESS").exists()
    if (ok) touchReadMarker(path)
    ok
  }

  private def touchReadMarker(path: String): Unit =
    try {
      val m = new File(path, "_graft_read")
      if (!m.createNewFile()) { m.setLastModified(System.currentTimeMillis()); () }
    } catch { case _: Exception => () }

  /** Ensure a complete artifact exists at `path`: if `isComplete(path)`
    * is false, run `build(tmp)` against a [[Publish]] staging dir and
    * swap it into place. Safe under concurrent callers in this JVM
    * (per-path lock) and across JVMs (a loser that finds the artifact
    * complete drops its own build).
    */
  def ensure(path: String, isComplete: String => Boolean = complete)
            (build: String => Unit): Unit = {
    if (isComplete(path)) return
    val lock = locks.computeIfAbsent(path, _ => new Object)
    lock.synchronized {
      if (isComplete(path)) return
      val conf = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .fold(new org.apache.hadoop.conf.Configuration())(_.sessionState.newHadoopConf())
      Publish.stageAndSwap(conf, Seq(path), isComplete) { staged =>
        build(staged.head)
        // builds that assemble the directory by hand (moving bare
        // part-files) produce no _SUCCESS marker, so `complete` would
        // stay false forever and every resolve would rebuild and
        // re-publish. The build ran to completion, so the directory IS
        // complete — stamp it if the writer didn't.
        val dir = new Path(staged.head)
        val fs = dir.getFileSystem(conf)
        if (fs.isDirectory(dir)) { fs.createNewFile(new Path(dir, "_SUCCESS")); () }
      }
    }
  }

  /** [[ensure]] for an artifact whose correctness depends on build
    * parameters the path alone cannot prove (shingle width,
    * thresholds, a source tag): `meta` lands as the artifact's
    * parameter sidecar inside the staged directory, so the same swap
    * publishes it with the data, and a directory whose sidecar is
    * absent or disagrees (a pre-sidecar or mislabeled generation)
    * reads as incomplete and is rebuilt rather than trusted.
    */
  private[graft] def ensureWithMeta(path: String, meta: Map[String, String])
                                    (build: String => Unit): Unit =
    ensure(path, p => complete(p) && metaMatches(p, meta)) { tmp =>
      build(tmp)
      writeMeta(tmp, meta)
    }

  /** URI-capable directory-existence check via the Hadoop FileSystem
    * API — for operators whose data I/O is already `spark.read` /
    * `spark.write` (the streaming near-dup archive, the inverted-
    * index appender) and therefore accepts hdfs:// / s3a:// paths:
    * a `java.io.File` check there would silently report "absent" for
    * every remote path, making the caller treat a populated archive
    * as empty.
    */
  def hadoopDirExists(spark: org.apache.spark.sql.SparkSession,
                      path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(p) && fs.getFileStatus(p).isDirectory
  }

  /** Reclaim SUPERSEDED artifact generations. Artifact paths are keyed
    * on their source data (size+mtime tag), so every regeneration of
    * the testdata strands the previous generation's directories
    * forever — three rounds of regeneration left three full
    * generations under /tmp. Callers that know their family prefix
    * (e.g. `graft_shingles_`) invoke this after ensuring the current
    * generation; any sibling of `keep` that shares the prefix and has
    * been quiet for `staleMs` is deleted.
    *
    * Safety: artifacts are deterministic pure functions of their
    * source, so a mistaken delete self-heals for FUTURE consumers (the
    * next ensure rebuilds); the stale window protects LIVE ones. A
    * writer's commits keep mtimes fresh by themselves; readers keep
    * the window open via the `_graft_read` marker [[complete]] touches
    * on every resolve — file scans alone would not move any mtime, and
    * a reader in another JVM (absent from this process's keep-set)
    * would otherwise have the directory deleted mid-query. Current-
    * generation dirs for OTHER corpora (sf0.001 vs sf0.1 carry
    * different tags) are protected by the caller passing every path it
    * knows to be live — and by the marker-refreshed window for readers
    * the caller cannot see.
    */
  def sweep(parentDir: String, familyPrefix: String, keep: Set[String],
            staleMs: Long = 24L * 60 * 60 * 1000): Unit = {
    val keepNames = keep.map(p => new File(p).getName)
    val now = System.currentTimeMillis()
    Option(new File(parentDir).listFiles()).getOrElse(Array.empty)
      .filter { f =>
        f.getName.startsWith(familyPrefix) &&
          !keepNames.exists(k => f.getName.startsWith(k)) &&
          now - newestMtime(f) > staleMs
      }
      .foreach(deleteRecursively)
  }

  /** Parameter-tuple sidecar (`_graft_meta.json`) of
    * [[ensureWithMeta]]. Spark's file listing ignores `_`-prefixed
    * files, so the sidecar never pollutes the parquet scan. Flat
    * string map, written before publish so the sidecar is covered by
    * the same atomic rename as the data.
    */
  private def writeMeta(dir: String, meta: Map[String, String]): Unit = {
    val body = meta.toSeq.sorted
      .map { case (k, v) => s"  ${jstr(k)}: ${jstr(v)}" }
      .mkString("{\n", ",\n", "\n}\n")
    Files.write(Paths.get(dir, "_graft_meta.json"), body.getBytes("UTF-8"))
  }

  /** The sidecar's flat string map, or None when absent (pre-sidecar
    * artifact generations — callers treat those as incomplete so
    * `ensure` rebuilds them with provenance).
    */
  def readMeta(dir: String): Option[Map[String, String]] = {
    val f = new File(dir, "_graft_meta.json")
    if (!f.isFile) None
    else {
      val text = new String(Files.readAllBytes(f.toPath), "UTF-8")
      val Pair = """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
      Some(Pair.findAllMatchIn(text)
        .map(m => junescape(m.group(1)) -> junescape(m.group(2))).toMap)
    }
  }

  /** True when the sidecar exists and carries every (k, v) of `meta`. */
  def metaMatches(dir: String, meta: Map[String, String]): Boolean =
    readMeta(dir).exists(m => meta.forall { case (k, v) => m.get(k).contains(v) })

  private def jstr(s: String): String = graft.tools.Json.str(s)

  private def junescape(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s(i) == '\\' && i + 1 < s.length) {
        s(i + 1) match {
          case 'n' => b += '\n'; i += 2
          case 'r' => b += '\r'; i += 2
          case 't' => b += '\t'; i += 2
          case 'u' if i + 5 < s.length =>
            b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case c => b += c; i += 2
        }
      } else { b += s(i); i += 1 }
    }
    b.toString
  }

  private def newestMtime(f: File): Long = {
    val children =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty) else Array.empty[File]
    (f.lastModified() +: children.map(newestMtime)).max
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
