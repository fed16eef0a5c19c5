package graft.operators

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{concat, lit, raise_error}

/** The one publish path for persisted state — pipeline checkpoints,
  * vector indexes, stream-state generations, compaction folds.
  *
  * Contract of [[dirs]] (and its one-target forms [[dir]] /
  * [[parquet]]):
  *
  *  1. **Stage.** Each target directory is written into a hidden
  *     sibling `.<name>.stage-<id>` (same parent, same filesystem).
  *     Spark's file listing skips every `.`-prefixed name, so a staged
  *     generation is invisible to readers of the parent — also next to
  *     `batch=<id>` / `__cid=<c>` partition directories, where a
  *     `_`-prefixed name containing `=` would be discovered as data.
  *     Nothing reads the staging path, so a write may read the
  *     generation it replaces without materializing it first.
  *  2. **Swap, only after every staged write of the call succeeded.**
  *     Per target: move the old generation aside to `.<name>.old-<id>`,
  *     rename the staged directory in, delete the old generation. No
  *     rename ever lands on an existing path (Hadoop's `rename` would
  *     move the source INTO it), and every rename's result is checked.
  *     A target the write left unstaged is untouched. Targets swap one
  *     after another: each is atomic, the call as a whole is not. A
  *     swapped target's memoized relations are dropped
  *     ([[graft.Tables.forget]]), so the session re-lists it.
  *  3. **Guards.** An in-row guard is a [[raise]] whose text starts
  *     with [[Sentinel]]. A guard fired anywhere inside the write —
  *     in any job it runs — surfaces as an `IllegalArgumentException`
  *     whose message is exactly the guard's text (the innermost cause
  *     carrying the sentinel, without Spark's job-abort wrapper); any
  *     other failure propagates unchanged. Either way nothing is
  *     swapped and every prior generation stays readable,
  *     byte-identical. When several guards fire in one write, which
  *     one is reported is unspecified.
  *  4. **Repair.** Each call first repairs its targets' debris: a swap
  *     interrupted after the old generation moved aside is completed
  *     (its staged directory renamed in) or, without one, rolled back;
  *     a leftover `.old-*` beside a present target is deleted; staged
  *     directories quiet for [[StaleMs]] are dead builders' and are
  *     deleted (a live writer in another process keeps its tree's
  *     mtimes fresh).
  *
  * Single writer per target, except through [[Artifact.ensure]],
  * which adds a per-path lock and cross-process loser handling. I/O is
  * the Hadoop FileSystem throughout, so `hdfs://` and `s3a://` targets
  * publish the same way (an object store's rename is a copy, so its
  * swap is atomic per target only where the store's rename is).
  *
  * Partition-level rewrites ([[partitions]]) use Spark's dynamic
  * partition overwrite, which stages in `.spark-staging-*` and swaps
  * the written partitions at job commit.
  */
object Publish {
  val Sentinel = "GRAFT_GUARD:"
  val StaleMs: Long = 30L * 60 * 1000

  /** An in-row guard: raises `text` behind the [[Sentinel]]. Use as
    * `when(violated, Publish.raise(text)).otherwise(value)`.
    */
  def raise(text: Column): Column = raise_error(concat(lit(Sentinel), text))

  def parquet(df: DataFrame, target: String): Unit =
    dir(df.sparkSession, target)(df.write.parquet(_))

  def dir(spark: SparkSession, target: String)(write: String => Unit): Unit =
    dirs(spark, Seq(target))(staged => write(staged.head))

  /** Stage `write` (handed one staging path per target, in order),
    * then swap every staged target into place.
    */
  def dirs(spark: SparkSession, targets: Seq[String])
          (write: Seq[String] => Unit): Unit =
    stageAndSwap(spark.sessionState.newHadoopConf(), targets, _ => false)(write)

  /** Rewrite only the `cols` partitions present in `df` (dynamic
    * partition overwrite); every other partition stays byte-identical.
    * The target's memoized relations are dropped as after a swap.
    */
  def partitions(df: DataFrame, target: String, cols: String*): Unit = {
    guarded(df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(cols: _*).parquet(target))
    graft.Tables.forget(target)
  }

  /** Run `body`, rethrowing a fired guard as described in step 3. */
  def guarded[A](body: => A): A =
    try body catch {
      case e: Throwable => throw guardText(e).fold(e)(new IllegalArgumentException(_, e))
    }

  /** The innermost guard text in `e`'s cause chain, if any. */
  private[graft] def guardText(e: Throwable): Option[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .flatMap(c => Option(c.getMessage)).filter(_.contains(Sentinel))
      .toSeq.lastOption.map { m =>
        val t = m.substring(m.indexOf(Sentinel) + Sentinel.length)
        t.indexOf(" SQLSTATE:") match {
          case -1 => t.trim
          case i => t.substring(0, i).trim
        }
      }

  /** [[dirs]] on an explicit Hadoop configuration; a target for which
    * `keep` holds after the write is left as it is (the staged copy
    * is dropped) — [[Artifact.ensure]]'s cross-process loser rule.
    */
  private[operators] def stageAndSwap(conf: Configuration, targets: Seq[String],
                                      keep: String => Boolean)
                                     (write: Seq[String] => Unit): Unit = {
    val id = UUID.randomUUID().toString.take(8)
    val ts = targets.map(new Path(_))
    val fss = ts.map(_.getFileSystem(conf))
    ts.zip(fss).foreach { case (t, fs) => repair(fs, t.getParent, Some(t.getName)) }
    val staged = ts.map(hidden(_, "stage", id))
    try {
      guarded(write(staged.map(_.toString)))
      ts.indices.foreach { i =>
        if (fss(i).exists(staged(i)) && !keep(targets(i))) {
          swap(fss(i), staged(i), ts(i), hidden(ts(i), "old", id))
          graft.Tables.forget(targets(i))
        }
      }
    } finally staged.zip(fss).foreach { case (s, fs) => fs.delete(s, true) }
  }

  private def swap(fs: FileSystem, staged: Path, target: Path, old: Path): Unit = {
    val hadOld = fs.exists(target)
    if (hadOld) check(fs.rename(target, old), s"move $target aside to $old")
    if (!fs.rename(staged, target)) {
      if (hadOld) fs.rename(old, target)
      throw new java.io.IOException(s"publish: rename $staged -> $target failed")
    }
    if (hadOld) fs.delete(old, true)
  }

  private val Debris = """\.(.+)\.(stage|old)-([0-9a-f]+)""".r

  /** Repair the publish debris in `parent` (step 4), for one target
    * name or for every target that has any.
    */
  private[graft] def repair(fs: FileSystem, parent: Path,
                            only: Option[String] = None): Unit =
    if (parent != null && fs.exists(parent)) {
      val debris = fs.listStatus(parent).toSeq.map(_.getPath.getName).collect {
        case n @ Debris(t, kind, id) if only.forall(_ == t) => (t, kind, id, n)
      }
      debris.filter(_._2 == "old").foreach { case (t, _, id, n) =>
        val target = new Path(parent, t)
        val staged = new Path(parent, s".$t.stage-$id")
        val old = new Path(parent, n)
        if (!fs.exists(target))
          check(fs.rename(if (fs.exists(staged)) staged else old, target),
            s"repair $target")
        fs.delete(old, true)
      }
      val now = System.currentTimeMillis()
      debris.filter(_._2 == "stage").map(d => new Path(parent, d._4))
        .filter(p => fs.exists(p) && now - newestMtime(fs, p) > StaleMs)
        .foreach(fs.delete(_, true))
    }

  private def hidden(target: Path, kind: String, id: String): Path =
    new Path(target.getParent, s".${target.getName}.$kind-$id")

  private def newestMtime(fs: FileSystem, p: Path): Long = {
    var m = fs.getFileStatus(p).getModificationTime
    val it = fs.listFiles(p, true)
    while (it.hasNext) m = math.max(m, it.next().getModificationTime)
    m
  }

  private def check(ok: Boolean, what: String): Unit =
    if (!ok) throw new java.io.IOException(s"publish: could not $what")
}
