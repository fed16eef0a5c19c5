package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Publish

/** Table-maintenance file layout — the jobs that keep a 100 TB
  * parquet corpus scannable:
  *
  *  - **compaction**: streaming/incremental ingest leaves thousands
  *    of KB-sized files; scan cost is then dominated by per-file
  *    open/footer overhead and the driver's file listing. Compaction
  *    rewrites a directory into ~targetBytes files.
  *  - **clustered write**: `partitionBy` on a low-cardinality column
  *    gives directory-level partition PRUNING; sorting within
  *    partitions by a scan predicate column tightens parquet
  *    row-group min/max bounds so selective scans skip pages
  *    (data skipping) — the poor-man's Z-order for one sort key.
  *
  * Reference scope: the reference checkpoints steps as single CSV
  * files (/root/reference/x2.2.py:361-405, reloaded at 249-256) —
  * file-layout management is a no-op at
  * that scale and a first-class operator at this one.
  *
  * Both are one distributed write job; the only driver-side values
  * are the directory's total byte size (from the file listing the
  * write needs anyway) and the target file count.
  */
object Compaction {

  /** Total on-disk bytes of a parquet directory (driver-side listing
    * — the same listing any scan performs).
    */
  def dirBytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      else f.length()
    walk(new java.io.File(dir))
  }

  /** Rewrite `inDir` (parquet) into `outDir` as ~`targetBytes`-sized
    * files. Returns the file count written. Uses `coalesce` — a
    * NARROW repartitioning (no shuffle): tasks read several input
    * files and write one output each.
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
              targetBytes: Long): Int = {
    val n = math.max(1, math.ceil(dirBytes(inDir).toDouble / targetBytes).toInt)
    Publish.parquet(spark.read.parquet(inDir).coalesce(n), outDir)
    parquetFiles(outDir).size
  }

  /** Directory-partitioned, sorted-within-partition write:
    * `partitionBy(partCol)` pruning + tight `sortCol` row-group
    * bounds. Hash-repartitioning on the partition column sends each
    * partition value to one task → one sorted file per partition
    * directory (AQE splits a skewed value across tasks, giving that
    * directory several files, each still sorted).
    */
  def clusteredWrite(df: DataFrame, outDir: String, partCol: String,
                     sortCol: String): Unit =
    Publish.dir(df.sparkSession, outDir)(df.repartition(col(partCol))
      .sortWithinPartitions(col(partCol), col(sortCol))
      .write.partitionBy(partCol).parquet(_))

  /** Z-value of two numeric columns: each is range-normalized to 16
    * bits against the relation's own [min, max] (a 1-row broadcast
    * aggregate — no data-dependent window), then bit-interleaved with
    * the standard mask-spread ladder. Rows close in BOTH dimensions
    * get close z-values, so range-partitioning + sorting by z gives
    * every file a tight bounding BOX — a 2-D predicate prunes files
    * on either or both dimensions, where a linear sort key prunes on
    * one only. Pure integer column arithmetic: deterministic on any
    * engine/partitioning.
    */
  def zValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
             loA: org.apache.spark.sql.Column, hiA: org.apache.spark.sql.Column,
             loB: org.apache.spark.sql.Column, hiB: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    def norm16(v: org.apache.spark.sql.Column, lo: org.apache.spark.sql.Column,
               hi: org.apache.spark.sql.Column) =
      when(hi === lo, lit(0L)).otherwise(
        ((v.cast("double") - lo) / (hi - lo) * 65535.0).cast("long"))
    def spread(x: org.apache.spark.sql.Column) = {
      val s8 = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
      val s4 = s8.bitwiseOR(shiftleft(s8, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val s2 = s4.bitwiseOR(shiftleft(s4, 2)).bitwiseAND(lit(0x33333333L))
      s2.bitwiseOR(shiftleft(s2, 1)).bitwiseAND(lit(0x55555555L))
    }
    spread(norm16(a, loA, hiA)).bitwiseOR(shiftleft(spread(norm16(b, loB, hiB)), 1))
  }

  /** Z-order clustered write: range-partition and sort by the
    * interleaved z-value of two scan-predicate columns, so selective
    * predicates on EITHER column (or a box on both) skip most files
    * via parquet min/max stats. The column bounds come from one
    * 1-row aggregate joined back as a broadcast — two scans total,
    * no window, no driver-side data beyond the bounds row.
    */
  def zOrderedWrite(df: DataFrame, outDir: String, colA: String,
                    colB: String, numFiles: Int): Unit = {
    val bounds = df.agg(
      min(col(colA)).as("__loa"), max(col(colA)).as("__hia"),
      min(col(colB)).as("__lob"), max(col(colB)).as("__hib"))
    Publish.parquet(df.crossJoin(broadcast(bounds))
      .withColumn("__z", zValue(col(colA), col(colB),
        col("__loa"), col("__hia"), col("__lob"), col("__hib")))
      .drop("__loa", "__hia", "__lob", "__hib")
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z"), outDir)
  }

  // ---------------- streaming batch=<id> compaction ----------------

  /** Fold COMMITTED `batch=<id>` generations of a streaming index
    * directory (the [[graft.streaming.StreamOps]] postings / near-dup
    * / SQ8-code sinks, which land one directory per trigger, forever)
    * into a single base generation `batch=-<g>` — the job that stops
    * the one-dir-per-trigger layout from becoming the small-file
    * death at production cadence.
    *
    * Correctness contract:
    *  - **Only batches ≤ `upTo` fold.** `upTo` must be the stream's
    *    committed frontier ([[graft.streaming.StreamOps
    *    .committedFrontier]]): a committed batch can never be
    *    replayed (the checkpoint skips it), so folding it can never
    *    race a retry's `batch=<id>` publish. The one possibly-
    *    uncommitted generation stays in place for its retry.
    *  - **The read is unchanged, bit for bit.** Batch data files never
    *    contain the `batch` column (it is directory-encoded), so the
    *    fold is a plain read-union-rewrite; the base generation's
    *    NEGATIVE id keeps every consumer filter working (`batch =!=
    *    bid` archive reads exclude real generations only; a base id
    *    never collides with a trigger id).
    *  - **Crash-safe via a fold manifest.** The folded directory NAMES
    *    are written INSIDE the new base before [[Publish]] swaps it in,
    *    so the manifest commits with the data; the delete half is an
    *    idempotent replay of the manifest ([[repairBatchCompaction]],
    *    run again at the start of every compaction). A crash after
    *    the swap leaves duplicates visible only until the next
    *    repair — run `repairBatchCompaction` before serving reads if
    *    a compaction may have died.
    *  - **Single maintainer.** Run between triggers (the maintenance
    *    window); two concurrent compactions of one directory are not
    *    supported.
    *
    * Returns the new base generation id, or None when no committed
    * generation was available to fold. I/O is Hadoop-FS throughout
    * (the sinks accept remote stateDirs; a java.io.File fold would
    * silently skip them).
    */
  def compactBatches(spark: SparkSession, dir: String, upTo: Long,
                     targetBytes: Long = 128L << 20): Option[Long] = {
    repairBatchCompaction(spark, dir)
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return None
    val gens = batchGens(fs, root)
    val foldable = gens.filter { case (id, _) => id < 0 || id <= upTo }
    // nothing new: no committed positive generation to fold
    if (!foldable.exists(_._1 >= 0)) return None
    val newGen = math.min(gens.map(_._1).min, 0L) - 1L
    val bytes = foldable.map { case (_, p) =>
      fs.getContentSummary(p).getLength
    }.sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    Publish.dir(spark, s"$dir/batch=$newGen") { staged =>
      spark.read.parquet(foldable.map(_._2.toString): _*)
        .coalesce(n).write.parquet(staged)
      // the manifest rides the same swap as the data
      val manifest = foldable.map(_._2.getName).sorted.mkString("", "\n", "\n")
      val out = fs.create(new Path(staged, "_graft_folded"), true)
      try out.write(manifest.getBytes("UTF-8")) finally out.close()
    }
    // the delete half — an idempotent manifest replay
    repairBatchCompaction(spark, dir)
    Some(newGen)
  }

  /** Replay any committed-but-unfinished fold: delete directories a
    * base generation's `_graft_folded` manifest names (they were
    * folded into that base; a crash between the base's swap and the
    * deletes leaves them visible as duplicates), and repair the
    * [[Publish]] debris of folds that never swapped in. Idempotent;
    * safe to run before any read of the directory.
    */
  def repairBatchCompaction(spark: SparkSession, dir: String): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    Publish.repair(fs, root)
    batchGens(fs, root).filter(_._1 < 0).foreach { case (_, base) =>
      val m = new Path(base, "_graft_folded")
      if (fs.exists(m)) {
        val in = fs.open(m)
        val names =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
          finally in.close()
        names.filter(_.nonEmpty).foreach { name =>
          val victim = new Path(root, name)
          if (fs.exists(victim)) { fs.delete(victim, true); () }
        }
      }
    }
  }

  private def batchGens(fs: FileSystem, root: Path): Seq[(Long, Path)] = {
    val Gen = """batch=(-?\d+)""".r
    fs.listStatus(root).toSeq.collect {
      case st if st.isDirectory =>
        st.getPath.getName match {
          case Gen(id) => Some(id.toLong -> st.getPath)
          case _ => None
        }
    }.flatten
  }

  def parquetFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Nil
    walk(new java.io.File(dir))
  }

  // ---------------- flat-append compaction ----------------

  /** Fold the FLAT-append directories `mode("append")` accumulates
    * one file set per append (the [[graft.operators.Similarity]]
    * SQ8/PQ/IVF-SQ8 code tables and [[graft.operators.InvertedIndex
    * .appendPostings]] — layouts with no `batch=` generations for
    * [[compactBatches]] to fold): every LEAF directory (no child
    * directories) holding more than one data file is republished
    * through [[Publish]] as ~`targetBytes` files, its non-data files
    * (`_SUCCESS`, sidecars) carried over. Partitioned tables (`__cid=`
    * lists) compact leaf by leaf, so partition directories, their
    * names, and the rows inside each are untouched as relations — the
    * read is row-identical before and after (CompactionSpec pins the
    * full content) and a leaf already at one file is SKIPPED
    * (byte-identical, never rewritten — an IVF-SQ8 list untouched
    * since its build keeps its bytes).
    *
    * Crash safety is the [[Publish]] swap's, per leaf: a fold that
    * dies before its swap leaves only invisible staging debris, and
    * one that dies mid-swap is completed by [[repairAppendCompaction]]
    * (run here first; safe before any read). Keep a single maintainer
    * per directory (the compactBatches contract). Returns the number
    * of leaves folded. I/O is Hadoop-FS throughout (remote table
    * paths).
    */
  def compactAppends(spark: SparkSession, dir: String,
                     targetBytes: Long = 128L << 20): Int = {
    repairAppendCompaction(spark, dir)
    val root = new Path(dir)
    val conf = spark.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return 0
    dataLeaves(fs, root).count { case (leaf, entries) =>
      val (files, rest) = entries.partition(st => isData(st.getPath.getName))
      files.size > 1 && {
        val bytes = files.map(_.getLen).sum
        val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
        Publish.dir(spark, leaf.toString) { staged =>
          // read the files explicitly: a leaf under a partitioned root
          // must fold WITHOUT resolving partition columns (the files
          // themselves never carry them)
          spark.read.parquet(files.map(_.getPath.toString): _*)
            .coalesce(n).write.parquet(staged)
          rest.foreach { st =>
            val dst = new Path(staged, st.getPath.getName)
            if (!fs.exists(dst)) FileUtil.copy(fs, st.getPath, fs, dst, false, conf)
          }
        }
        true
      }
    }
  }

  /** Repair the [[Publish]] debris of interrupted [[compactAppends]]
    * leaf folds of `dir` itself or anywhere under it. Idempotent;
    * safe before any read.
    */
  def repairAppendCompaction(spark: SparkSession, dir: String): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    Publish.repair(fs, root.getParent, Some(root.getName))
    def walk(p: Path): Unit = {
      Publish.repair(fs, p)
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory && visibleDir(st.getPath.getName)) walk(st.getPath)
      }
    }
    if (fs.exists(root)) walk(root)
  }

  private def isData(n: String) =
    n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")

  // Spark's hidden-path rule: a "_"-prefixed DIRECTORY is still data
  // when it is a partition dir (contains "=", e.g. "__cid=3")
  private def visibleDir(n: String) =
    n.contains("=") || (!n.startsWith("_") && !n.startsWith("."))

  /** Every directory under `root` (root included) that has no child
    * directories and directly holds visible parquet data files, with
    * all of its file entries.
    */
  private def dataLeaves(fs: FileSystem, root: Path): Seq[(Path, Seq[FileStatus])] = {
    val entries = fs.listStatus(root).toSeq
    val (dirs, files) = entries.partition(_.isDirectory)
    val here =
      if (dirs.isEmpty && files.exists(st => isData(st.getPath.getName)))
        Seq(root -> files)
      else Nil
    here ++ dirs.filter(st => visibleDir(st.getPath.getName))
      .flatMap(st => dataLeaves(fs, st.getPath))
  }
}
