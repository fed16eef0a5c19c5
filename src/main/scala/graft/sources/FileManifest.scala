package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level statistics manifest + stats-pruned scans — the
  * table-format data-skipping discipline (what Iceberg manifests /
  * Delta file stats do) as plain relations over a plain parquet
  * directory. `Compaction.clusteredWrite`/`zorderWrite` give each
  * file a TIGHT value range; the manifest records per-file min/max
  * per column, and a selective scan consults the manifest FIRST,
  * reading only the files whose interval can intersect the
  * predicate.
  *
  * Why it matters at 100 TB: directory `partitionBy` prunes on the
  * partition column only; row-group min/max inside parquet footers
  * prune pages but every file is still OPENED. The manifest prunes at
  * the FILE level before any footer is touched, on any stats column —
  * the difference between listing 10⁶ files and reading 10² of them
  * for a point-range query.
  *
  * Planner-state contract: the pruned file LIST is driver-side —
  * manifest-sized, the same class of state any query planner holds
  * (file listings, partition indexes). The manifest itself builds as
  * ONE distributed aggregation keyed on `input_file_name()` and can
  * be persisted next to the data like any artifact; data rows never
  * reach the driver.
  *
  * Correctness contract (the q161 oracle): a stats-pruned scan is
  * EXACTLY equivalent to the unpruned filter — a file whose
  * [min, max] interval misses the predicate range cannot contain a
  * matching row. Reference scope: single-CSV checkpoints
  * (/root/reference/x2.2.py:361-405) make skipping a no-op at that
  * scale; it is a first-class operator at this one.
  */
object FileManifest {

  /** Per-file (min, max, rows, non-null values) stats for `cols` over
    * a parquet layout: one scan, one agg keyed on the file name.
    * Columns come back as `file, n_rows, min_<c>, max_<c>, vals_<c>...`.
    * `vals_<c>` is the NON-NULL count (Iceberg's `value_counts`
    * discipline): a range predicate on `c` never matches a NULL, so
    * any metadata fast path must count values, not rows.
    */
  def build(spark: SparkSession, dir: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty)
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        count(col(c)).as(s"vals_$c")))
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
  }

  /** Scan `dir` for rows with `lo <= c <= hi`, reading ONLY files the
    * manifest admits (interval overlap: max_c >= lo AND min_c <= hi;
    * all-null files carry null stats and are skipped — they cannot
    * match a range predicate). The residual filter still applies —
    * skipping is an optimization, never the filter itself.
    */
  def prunedScan(spark: SparkSession, dir: String, manifest: DataFrame,
                 c: String, lo: Any, hi: Any): DataFrame =
    prunedScanRanges(spark, dir, manifest, Seq((c, lo, hi)))

  /** Multi-range form: admit a file only when EVERY predicate range
    * intersects its interval — over a z-ordered layout
    * (`Compaction.zorderWrite` gives each file a tight bounding BOX)
    * a 2-D box predicate prunes on both dimensions at once, which a
    * single linear sort key cannot.
    */
  def prunedScanRanges(spark: SparkSession, dir: String, manifest: DataFrame,
                       ranges: Seq[(String, Any, Any)]): DataFrame = {
    require(ranges.nonEmpty)
    val admitted = manifest.filter(admission(ranges))
      .select("file").collect().map(_.getString(0))
    val residual = ranges.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi) }.reduce(_ && _)
    if (admitted.isEmpty)
      spark.read.parquet(dir).filter(lit(false)) // keep the schema
    else
      spark.read.parquet(admitted.toIndexedSeq: _*).filter(residual)
  }

  private def admission(ranges: Seq[(String, Any, Any)])
      : org.apache.spark.sql.Column =
    ranges.map { case (c, lo, hi) =>
      col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi)
    }.reduce(_ && _)

  /** Range COUNT answered from the manifest: files whose interval is
    * FULLY CONTAINED in [lo, hi] contribute their `n_rows` without
    * being opened (pure metadata); only BOUNDARY files — admitted but
    * not contained — are scanned and residual-filtered. On a
    * range-clustered layout a wide range touches two boundary files
    * no matter how many files the corpus spans: the metadata-count
    * optimization every table format's `count(*) WHERE` fast path
    * performs. Returns (count, boundaryFilesScanned) so callers can
    * assert the fast path actually engaged.
    */
  def prunedCount(spark: SparkSession, dir: String, manifest: DataFrame,
                  c: String, lo: Any, hi: Any): (Long, Int) = {
    val contained = col(s"min_$c") >= lit(lo) && col(s"max_$c") <= lit(hi)
    // contained files contribute their NON-NULL value count, not
    // n_rows: NULLs in c never satisfy lo <= c <= hi, so counting
    // rows would overcount exactly the nulls a real scan excludes
    val stats = manifest
      .agg(coalesce(sum(when(contained, col(s"vals_$c"))), lit(0L)).as("full"),
        collect_list(when(admission(Seq((c, lo, hi))) && !contained,
          col("file"))).as("boundary"))
      .head()
    val full = stats.getLong(0)
    val boundary = stats.getSeq[String](1)
    val partial =
      if (boundary.isEmpty) 0L
      else spark.read.parquet(boundary: _*)
        .filter(col(c) >= lit(lo) && col(c) <= lit(hi)).count()
    (full + partial, boundary.size)
  }

  /** Transparent manifest-pruned scan: builds-or-resolves the
    * PERSISTED per-file stats manifest for `dir` and returns the
    * stats-pruned scan for `ranges` — callers no longer thread the
    * manifest relation by hand. The manifest is an Artifact like the
    * IVF index: built once, atomically published, verified on resolve.
    */
  def scan(spark: SparkSession, dir: String, ranges: Seq[(String, Any, Any)],
           manifestPath: String): DataFrame = {
    val m = ensureManifest(spark, dir, ranges.map(_._1).distinct, manifestPath)
    prunedScanRanges(spark, dir, m, ranges)
  }

  /** Build-or-resolve the persisted manifest artifact for `cols` over
    * `dir`. The parameter sidecar pins the stats column set, the stats
    * schema version, AND a size+mtime tag of the source directory — a
    * manifest built before the data was rewritten (or under the old
    * row-count-only schema) reads as incomplete and rebuilds, rather
    * than silently admitting the wrong files.
    */
  def ensureManifest(spark: SparkSession, dir: String, cols: Seq[String],
                     manifestPath: String): DataFrame = {
    import graft.operators.Artifact
    val meta = Map("kind" -> "file-stats-manifest", "v" -> "2",
      "cols" -> cols.sorted.mkString(","),
      "source" -> sourceTag(dir))
    Artifact.ensureWithMeta(manifestPath, meta)(
      build(spark, dir, cols).write.mode("overwrite").parquet(_))
    spark.read.parquet(manifestPath)
  }

  /** Size + newest-mtime + name-set fingerprint of the data
    * directory — the freshness discipline every artifact path in
    * this repo keys on, plus the file NAMES: a rewrite can land
    * within mtime granularity with an unchanged total byte size, but
    * Spark part-file names carry fresh job UUIDs, so folding names
    * into the tag catches same-size same-tick rewrites too.
    */
  private def sourceTag(dir: String): String = {
    def stat(f: java.io.File): (Long, Long, Long) =
      if (f.isDirectory) {
        val kids = Option(f.listFiles()).getOrElse(Array.empty)
          // _-prefixed bookkeeping (_SUCCESS, _graft_read) moves on
          // reads; only data files should invalidate the manifest
          .filterNot(_.getName.startsWith("_")).map(stat)
        // the name fold is a SUM — listFiles() order is unspecified,
        // and an order-dependent combiner would re-tag (and rebuild)
        // on a mere listing-order change
        (kids.map(_._1).sum, (0L +: kids.map(_._2).toSeq).max,
          f.getName.hashCode.toLong + kids.map(_._3).sum)
      } else (f.length(), f.lastModified(), f.getName.hashCode.toLong)
    val (len, mtime, names) = stat(new java.io.File(dir))
    s"$len-$mtime-$names"
  }

  /** How many files the manifest admits — the skipping evidence
    * (specs assert admitted < total on clustered layouts).
    */
  def admittedCount(manifest: DataFrame, c: String, lo: Any, hi: Any): Long =
    admittedCountRanges(manifest, Seq((c, lo, hi)))

  def admittedCountRanges(manifest: DataFrame,
                          ranges: Seq[(String, Any, Any)]): Long =
    manifest.filter(admission(ranges)).count()
}
