package graft.operators

import java.util.UUID
import java.util.concurrent.{ExecutionException, Executors}

import scala.util.{Failure, Try}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{col, concat, format_string, lit, raise_error}

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
  * the written partitions at job commit. Appends ([[append]]) are not
  * staged: they add files to a live table, with every guard riding
  * the write job, so a fired guard lands nothing.
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

  /** Append `rows` as new files of `table` (partitioned by
    * `partitionBy`) — the one append path of the persisted indexes.
    * `rows` is `batch` encoded under the table's frozen state, its
    * in-row guards already in place; the append adds the shared one:
    * ids of `batch` already in `table` raise (a replayed batch would
    * duplicate rows and every serve path could return one id twice).
    * Appending to a table that does not exist yet creates it (nothing
    * to clash with). `who` prefixes the guard text.
    */
  def append(rows: DataFrame, batch: DataFrame, table: String, idName: String,
             who: String, partitionBy: String*): Unit = {
    val spark = rows.sparkSession
    val out =
      if (!Artifact.hadoopDirExists(spark, table)) rows
      else withGuardRows(rows, batch.select(col(idName))
          .join(readTable(spark, table).select(col(idName)), Seq(idName), "left_semi"),
        format_string(s"$who: batch re-ingests indexed $idName %s — id spaces " +
          "must be disjoint", col(idName).cast("string")))
    guarded(out.write.mode("append").partitionBy(partitionBy: _*).parquet(table))
  }

  /** The parquet table at `dir`, which may be a staged generation
    * (step 1) a build reads back before the swap. Spark skips a
    * `.`-prefixed root path by name and logs `All paths were ignored`
    * (it still reads it), so such a root is read through its listed
    * data children, with `dir` as the partition base path (a glob
    * would log a metadata-lookup warning instead).
    */
  private[graft] def readTable(spark: SparkSession, dir: String): DataFrame = {
    val root = new Path(dir)
    if (!root.getName.startsWith(".")) spark.read.parquet(dir)
    else {
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val data = fs.listStatus(root).map(_.getPath.getName).filterNot(n =>
        n.startsWith(".") || n.startsWith("_") && !n.contains("="))
      spark.read.option("basePath", dir).parquet(data.map(n => s"$dir/$n").toSeq: _*)
    }
  }

  /** The rows of every generation of the generation-tagged table `dir`
    * (`dir/batch=<gen>`) except generation `bid`'s, without the
    * `batch` column — the archive a stream-state trigger or an
    * incremental batch probes. Excluding its own generation is what
    * makes a retry safe: a caller that crashed after appending
    * generation `bid` and re-runs must not dedup its batch against its
    * own rows. `absent` is the relation before the first generation
    * exists; a table without `batch=` partitions raises (`who`
    * prefixes the text), since it could not exclude a retry's own
    * append.
    */
  private[graft] def priorGenerations(spark: SparkSession, dir: String, bid: Long,
                                      who: String)(absent: => DataFrame): DataFrame =
    if (!Artifact.hadoopDirExists(spark, dir)) absent
    else {
      val all = spark.read.parquet(dir)
      require(all.columns.contains("batch"),
        s"$who: archive at $dir is not generation-tagged (no batch= partition) " +
          "— a flat archive cannot exclude a retry's own append; re-seed it as " +
          "batch=<generation> directories")
      all.filter(col("batch") =!= bid).drop("batch")
    }

  /** The file count of one generation written for `batch`: its
    * input-split count, at least 1. The state relations are tiny next
    * to the batch text and the cached aggregates they come from hold
    * shuffle-width partitions, so a write at that width lands
    * near-empty files every later archive read re-opens; the input
    * split count is the honest size signal at any scale.
    */
  private[graft] def generationWidth(batch: DataFrame): Int =
    math.max(1, batch.rdd.getNumPartitions)

  /** `out` plus one raising row per row of `violations` (zero rows
    * unless violated): the guard fires DURING the write, before it
    * commits. Ids only flow through `violations` — the payload never
    * shuffles on a guard's account.
    */
  private[graft] def withGuardRows(out: DataFrame, violations: DataFrame,
                                   text: Column): DataFrame = {
    val cols = out.schema.fields.zipWithIndex.map { case (f, i) =>
      (if (i == 0) raise(text) else lit(null)).cast(f.dataType).as(f.name)
    }
    out.unionByName(violations.select(cols.toSeq: _*))
  }

  /** Run `writes` at once, each on a pool thread under the caller's
    * active session and thread-local properties (job group and
    * description, SQL root execution id) — the capture Spark's own
    * broadcasts make (`SQLExecution.withThreadLocalCaptured`). A bare
    * pool thread keeps the properties it inherited from whichever
    * query created it, and its jobs are attributed to that query.
    * EVERY write is awaited before the first failure rethrows: one
    * still running while [[dirs]] cleans up after the failure would be
    * a zombie writer on a deleted staging path.
    */
  private[graft] def concurrently(spark: SparkSession)(writes: (() => Unit)*): Unit = {
    val running = writes.map(w => SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], writers)(w()))
    running.map(f => Try(f.get())).foreach {
      case Failure(e: ExecutionException) => throw e.getCause
      case Failure(e) => throw e
      case _ =>
    }
  }

  /** The threads [[concurrently]] runs writes on (idle ones expire). */
  private lazy val writers = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-concurrent-write")
    t.setDaemon(true)
    t
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
