package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.sources.Compaction

class CompactionSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$name").toFile
    d.deleteOnExit(); d.getAbsolutePath
  }

  test("compact: many small files -> few, content identical") {
    val t = Tables(spark, sfDir)
    val src = tmp("frag")
    t.documents.repartition(32).write.mode("overwrite").parquet(src)
    val nIn = Compaction.parquetFiles(src).size
    assert(nIn >= 16, s"fixture should be fragmented, got $nIn files")
    val out = tmp("compacted")
    val nOut = Compaction.compact(spark, src, out, targetBytes = 512L * 1024 * 1024)
    assert(nOut == 1, s"sf0.001 documents fit one target file, got $nOut")
    val a = spark.read.parquet(src).orderBy("doc_id").collect().toSeq
    val b = spark.read.parquet(out).orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("clusteredWrite: partition pruning + sorted files") {
    val t = Tables(spark, sfDir)
    val out = tmp("clustered")
    Compaction.clusteredWrite(t.documents, out, "lang", "n_chars")
    val back = spark.read.parquet(out)
    // round-trip integrity
    assert(back.count() == t.documents.count())
    // a lang-filtered scan prunes to that partition's directory only
    val filtered = back.filter(col("lang") === "en")
    filtered.collect()
    val scan = (filtered.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collectLeaves().collectFirst { case s: FileSourceScanExec => s }.get
    assert(scan.metrics("numFiles").value <=
      Compaction.parquetFiles(s"$out/lang=en").size,
      s"pruned scan read ${scan.metrics("numFiles").value} files; " +
        s"partition has ${Compaction.parquetFiles(s"$out/lang=en").size}")
    // rows inside each file are sorted by the cluster key
    val perFile = back.select(col("n_chars"),
        input_file_name().as("f"))
      .withColumn("prev", lag("n_chars", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("f")
          .orderBy(monotonically_increasing_id())))
    // read order within a parquet file IS row order; check monotone
    val violations = perFile.filter(col("prev").isNotNull && col("prev") > col("n_chars")).count()
    assert(violations == 0, s"$violations out-of-order rows within files")
  }

  test("zOrderedWrite: files carry tight boxes in BOTH dimensions") {
    import spark.implicits._
    // a 64x64 grid: under a LINEAR sort by x, every file spans the
    // full y range; under z-order both per-file ranges shrink
    val grid = (0 until 64).flatMap(x => (0 until 64).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
    val nFiles = 16
    val zDir = tmp("zorder")
    Compaction.zOrderedWrite(grid, zDir, "x", "y", nFiles)
    val linDir = tmp("linear")
    grid.repartitionByRange(nFiles, col("x")).sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(linDir)
    def fileBoxes(dir: String) =
      spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg(min("x").as("xlo"), max("x").as("xhi"),
          min("y").as("ylo"), max("y").as("yhi"))
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // box predicate: x in [0,15] AND y in [0,15] (1/16 of the grid)
    def touching(boxes: Seq[(Long, Long, Long, Long)]) =
      boxes.count { case (xlo, xhi, ylo, yhi) =>
        xlo <= 15 && xhi >= 0 && ylo <= 15 && yhi >= 0 }
    val z = fileBoxes(zDir).toSeq
    val lin = fileBoxes(linDir).toSeq
    // linear layout: the box predicate's x-range covers 1/4 of the
    // files, and each of those spans ALL y → no y pruning. Z-order
    // must touch strictly fewer files than linear.
    assert(touching(z) < touching(lin),
      s"z-order touched ${touching(z)} files vs linear ${touching(lin)}")
    // and every z file's box must not span the whole grid in both dims
    assert(z.forall { case (xlo, xhi, ylo, yhi) =>
      (xhi - xlo) < 63 || (yhi - ylo) < 63 },
      "a z-ordered file spans the full range in both dimensions")
  }

  test("FileManifest box prune over a z-ordered layout beats the 1-D prune") {
    import spark.implicits._
    import graft.sources.FileManifest
    val grid = (0 until 64).flatMap(x => (0 until 64).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
    val zDir = tmp("zmanifest")
    Compaction.zOrderedWrite(grid, zDir, "x", "y", 16)
    val m = FileManifest.build(spark, zDir, Seq("x", "y"))
    val box = Seq(("x", 0L, 15L), ("y", 0L, 15L))
    val boxAdmit = FileManifest.admittedCountRanges(m, box)
    val xAdmit = FileManifest.admittedCount(m, "x", 0L, 15L)
    // the y-range constraint must prune more files than x alone
    assert(boxAdmit < xAdmit, s"box=$boxAdmit x-only=$xAdmit")
    // and the box-pruned scan is value-identical to the plain filter
    val got = FileManifest.prunedScanRanges(spark, zDir, m, box)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (0L to 15L).flatMap(x => (0L to 15L).map(y => (x, y))).toSet
    assert(got == want)
  }

  test("FileManifest: stats are per-file exact; pruned scan ≡ unpruned filter; skipping real") {
    import graft.sources.FileManifest
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest").toString
    val df = spark.range(1000).select(col("id"),
      (col("id") % 7).as("k"))
    df.repartitionByRange(5, col("id")).sortWithinPartitions(col("id"))
      .write.mode("overwrite").parquet(dir)
    val m = FileManifest.build(spark, dir, Seq("id"))
    val rows = m.collect()
    assert(rows.length == 5 && rows.map(_.getAs[Long]("n_rows")).sum == 1000)
    // per-file intervals are disjoint and tile [0, 999] (range layout)
    val ivs = rows.map(r => (r.getAs[Long]("min_id"), r.getAs[Long]("max_id")))
      .sortBy(_._1)
    assert(ivs.head._1 == 0 && ivs.last._2 == 999)
    ivs.sliding(2).foreach { case Array((_, hi), (lo, _)) => assert(hi < lo) }
    // narrow predicate admits strictly fewer files than total
    val admitted = FileManifest.admittedCount(m, "id", 100, 150)
    assert(admitted >= 1 && admitted < 5, s"admitted=$admitted")
    // and the pruned scan is value-identical to the plain filter
    val pruned = FileManifest.prunedScan(spark, dir, m, "id", 100, 150)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(pruned == (100L to 150L))
    // empty admission: schema survives, zero rows
    val none = FileManifest.prunedScan(spark, dir, m, "id", 5000, 6000)
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "k"))
    // metadata count: a mid-range over a disjoint range tiling scans
    // at most the two boundary files; the count is exact regardless
    val (n, scanned) = FileManifest.prunedCount(spark, dir, m, "id", 100, 699)
    assert(n == 600 && scanned <= 2, s"n=$n scanned=$scanned")
    // full range: every file fully contained, NOTHING scanned
    val (all, zero) = FileManifest.prunedCount(spark, dir, m, "id", 0, 999)
    assert(all == 1000 && zero == 0)
    // empty range: no contribution either way
    val (nothing, _) = FileManifest.prunedCount(spark, dir, m, "id", 5000, 6000)
    assert(nothing == 0)
  }

  test("FileManifest.prunedCount: null-bearing stats column counts values, not rows") {
    import graft.sources.FileManifest
    val dir = tmp("nullmanifest")
    // every 3rd value of c is NULL; files range-clustered on c so a
    // wide range fully CONTAINS interior files — the metadata fast
    // path must contribute their non-null count, not n_rows
    val df = spark.range(1000).select(col("id"),
      when(col("id") % 3 =!= 0, col("id")).as("c"))
    df.repartitionByRange(5, col("id")).sortWithinPartitions(col("id"))
      .write.mode("overwrite").parquet(dir)
    val m = FileManifest.build(spark, dir, Seq("c"))
    // sanity: the manifest carries value counts below row counts
    val stats = m.agg(sum("n_rows"), sum("vals_c")).head()
    assert(stats.getLong(0) == 1000 && stats.getLong(1) < 1000)
    val (n, scanned) = FileManifest.prunedCount(spark, dir, m, "c", 0L, 999L)
    val real = spark.read.parquet(dir)
      .filter(col("c").between(0L, 999L)).count()
    assert(n == real, s"metadata count $n != real scan $real")
    // the fast path actually engaged: interior files were not opened
    assert(scanned < 5, s"scanned=$scanned of 5 files")
    // narrower range crossing file boundaries stays exact too
    val (n2, _) = FileManifest.prunedCount(spark, dir, m, "c", 100L, 699L)
    val real2 = spark.read.parquet(dir)
      .filter(col("c").between(100L, 699L)).count()
    assert(n2 == real2, s"metadata count $n2 != real scan $real2")
  }

  test("FileManifest.scan: transparent artifact-backed prune, rebuilt when source changes") {
    import graft.sources.FileManifest
    val dir = tmp("scanwrap")
    val mPath = s"$dir-manifest"
    spark.range(1000).select(col("id"), (col("id") % 7).as("k"))
      .repartitionByRange(5, col("id")).sortWithinPartitions(col("id"))
      .write.mode("overwrite").parquet(dir)
    val got = FileManifest.scan(spark, dir, Seq(("id", 100L, 150L)), mPath)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (100L to 150L))
    // the manifest persisted as a complete artifact with its sidecar
    assert(graft.operators.Artifact.complete(mPath))
    val meta = graft.operators.Artifact.readMeta(mPath).get
    assert(meta("kind") == "file-stats-manifest" && meta("cols") == "id")
    // second scan resolves the SAME artifact (no rebuild: mtime stable)
    def newestData(p: String): Long =
      Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
        .filterNot(_.getName.startsWith("_")).map(_.lastModified()).max
    val t0 = newestData(mPath)
    val again = FileManifest.scan(spark, dir, Seq(("id", 100L, 150L)), mPath)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(again == (100L to 150L) && newestData(mPath) == t0,
      "second scan must resolve, not rebuild, the manifest")
    // rewriting the source data invalidates the sidecar's source tag:
    // the next scan rebuilds and answers over the NEW data
    Thread.sleep(1100) // ensure a distinct mtime second
    spark.range(2000).select(col("id"), (col("id") % 7).as("k"))
      .repartitionByRange(5, col("id")).sortWithinPartitions(col("id"))
      .write.mode("overwrite").parquet(dir)
    val wide = FileManifest.scan(spark, dir, Seq(("id", 1500L, 1600L)), mPath)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(wide == (1500L to 1600L),
      "stale manifest served after source rewrite")
  }

  test("compactAppends: flat and partitioned append layouts fold in place; rows identical; single-file leaves byte-identical") {
    import graft.operators.Similarity
    val emb = Tables(spark, sfDir).embeddings
      .select(col("vec_id"), col("embedding"))
    // --- flat layout: SQ8 code table after three appends ---
    val idx = tmp("sq8app") + "/idx"
    Similarity.buildSq8Index(emb, "vec_id", "embedding", idx)
    // appended batches re-use the corpus's vectors under fresh ids:
    // id-disjoint, and inside the frozen scales by construction
    (1 to 3).foreach { r =>
      Similarity.appendSq8Index(spark, idx,
        emb.select((col("vec_id") + lit(r * 1000000L)).as("vec_id"),
          col("embedding")), "vec_id", "embedding")
    }
    // canonical row text via to_json: binary columns render base64,
    // not JVM object identity
    def rows(p: String): Seq[String] = {
      val df = spark.read.parquet(p)
      df.select(to_json(struct(df.columns.map(col): _*)).as("j"))
        .collect().map(_.getString(0)).sorted.toSeq
    }
    def sig(p: String): Map[String, String] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      Compaction.parquetFiles(p).map { f =>
        md.reset()
        f.getPath -> md.digest(
            java.nio.file.Files.readAllBytes(f.toPath))
          .map("%02x".format(_)).mkString
      }.toMap
    }
    val beforeRows = rows(s"$idx/codes")
    val beforeFiles = Compaction.parquetFiles(s"$idx/codes").size
    assert(beforeFiles >= 4, s"append fixture not fragmented: $beforeFiles")
    val scalesSig = sig(s"$idx/scales")
    val folded = Compaction.compactAppends(spark, s"$idx/codes")
    assert(folded == 1, s"one flat leaf expected, folded $folded")
    assert(rows(s"$idx/codes") == beforeRows,
      "fold changed the code relation")
    assert(Compaction.parquetFiles(s"$idx/codes").size == 1,
      "fold did not collapse the file count")
    // the single-file sidecar leaf is skipped byte-identically
    Compaction.compactAppends(spark, idx)
    assert(sig(s"$idx/scales") == scalesSig, "fold rewrote a 1-file leaf")
    // idempotent: nothing left to fold
    assert(Compaction.compactAppends(spark, s"$idx/codes") == 0)
    // --- partitioned layout: IVF-SQ8 lists fold leaf by leaf ---
    val cidx = tmp("ivfsq8app") + "/idx"
    Similarity.buildIvfSq8Index(emb, "vec_id", "embedding",
      nlist = 4, cidx)
    Similarity.appendIvfSq8Index(spark, cidx,
      emb.select((col("vec_id") + lit(1000000L)).as("vec_id"),
        col("embedding")), "vec_id", "embedding")
    val beforeC = rows(s"$cidx/codes")
    val nLeafFiles = Compaction.parquetFiles(s"$cidx/codes").size
    Compaction.compactAppends(spark, s"$cidx/codes")
    assert(rows(s"$cidx/codes") == beforeC,
      "partitioned fold changed the relation (partition column included)")
    assert(Compaction.parquetFiles(s"$cidx/codes").size < nLeafFiles,
      "partitioned fold collapsed nothing")
  }

  test("compactAppends crash repair: committed fold completes, uncommitted debris discarded") {
    val leafDir = tmp("foldrepair") + "/leaf"
    val leaf = new org.apache.hadoop.fs.Path(leafDir)
    val parent = leaf.getParent
    val fs = leaf.getFileSystem(spark.sessionState.newHadoopConf())
    // two visible data files
    spark.range(0, 50).coalesce(1).write.mode("append").parquet(leafDir)
    spark.range(50, 100).coalesce(1).write.mode("append").parquet(leafDir)
    val olds = Compaction.parquetFiles(leafDir).map(_.getName).sorted
    assert(olds.size == 2)
    // a COMMITTED fold that crashed mid-swap: the compacted leaf is
    // staged and the old leaf already moved aside, nothing renamed in
    spark.range(0, 100).coalesce(1).write
      .parquet(s"$parent/.leaf.stage-0000c0de")
    assert(fs.rename(leaf, new org.apache.hadoop.fs.Path(parent, ".leaf.old-0000c0de")))
    // an UNCOMMITTED build (staged, never swapped) of a dead builder —
    // pure debris once quiet past the stale window
    val dead = s"$parent/.leaf.stage-0000dead"
    spark.range(0, 7).coalesce(1).write.parquet(dead)
    val old = System.currentTimeMillis() - 2 * graft.operators.Publish.StaleMs
    Compaction.parquetFiles(dead).foreach(f => require(f.setLastModified(old)))
    new java.io.File(dead).listFiles().foreach(f => require(f.setLastModified(old)))
    require(new java.io.File(dead).setLastModified(old))
    Compaction.repairAppendCompaction(spark, leafDir)
    assert(spark.read.parquet(leafDir).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == (0L until 100L),
      "repair did not complete the committed fold")
    assert(Compaction.parquetFiles(leafDir).map(_.getName)
      .forall(n => !olds.contains(n)), "folded old files survive")
    assert(Option(new java.io.File(parent.toUri.getPath).listFiles()).get
      .forall(f => !f.getName.startsWith(".leaf.")),
      "fold dirs not cleaned up")
    // repair is idempotent
    Compaction.repairAppendCompaction(spark, leafDir)
    assert(spark.read.parquet(leafDir).count() == 100L)
  }
}
