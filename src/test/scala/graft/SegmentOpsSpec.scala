package graft

import org.apache.spark.sql.functions._

import graft.operators.SegmentOps

class SegmentOpsSpec extends SparkSpec {
  import spark.implicits._

  // 2-token segments: doc 1 = [a b][c d][a b], doc 2 = [a b][x y],
  // doc 3 = [c d][z z]. First occurrences: (1,0) "a b", (1,1) "c d",
  // (1,2) dropped (dup of (1,0)), (2,0) dropped, (2,1) "x y",
  // (3,0) dropped, (3,1) "z z".
  private val corpus = Seq(
    (1L, "a b c d a b"),
    (2L, "a b x y"),
    (3L, "c d z z")).toDF("doc_id", "text")

  test("tokenSegments: non-overlapping windows with position order") {
    val segs = SegmentOps.tokenSegments(corpus, "doc_id", col("text"), 2)
      .orderBy("doc_id", "seg").as[(Long, Long, String)].collect()
    assert(segs.toSeq == Seq(
      (1L, 0L, "a b"), (1L, 1L, "c d"), (1L, 2L, "a b"),
      (2L, 0L, "a b"), (2L, 1L, "x y"),
      (3L, 0L, "c d"), (3L, 1L, "z z")))
  }

  test("dedupSegments: keep-first across the corpus, rebuild in position order") {
    val out = SegmentOps.dedupSegments(corpus, "doc_id", col("text"), 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    assert(out.toSeq == Seq(
      (1L, 2L, 1L, "a b c d"),
      (2L, 1L, 1L, "x y"),
      (3L, 1L, 1L, "z z")))
  }

  test("dedupSegments keeps fully-stripped documents with empty text") {
    val twice = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val out = SegmentOps.dedupSegments(twice, "doc_id", col("text"), 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    assert(out.toSeq == Seq((1L, 1L, 0L, "a b"), (2L, 0L, 1L, "")))
  }

  test("dedupSegments is deterministic under repartitioning") {
    val shuffled = corpus.repartition(7, col("text"))
    val a = SegmentOps.dedupSegments(corpus, "doc_id", col("text"), 2)
      .orderBy("doc_id").collect().toSeq
    val b = SegmentOps.dedupSegments(shuffled, "doc_id", col("text"), 2)
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  // Domain d1 has 2 docs, both containing "a b" (df=2, frac 1.0);
  // d2 has one doc with "a b" (frac 0.5 there — below the 0.6 gate,
  // so the SAME segment survives in d2: frequency is per-domain).
  test("stripBoilerplate: per-domain frequency gate with >= semantics") {
    val docs = Seq(
      (1L, "d1", "a b p q"),
      (2L, "d1", "a b r s"),
      (3L, "d2", "a b t u"),
      (4L, "d2", "v w t u")).toDF("doc_id", "dom", "text")
    val out = SegmentOps.stripBoilerplate(docs, "doc_id", col("text"), "dom", 2, 0.6)
      .orderBy("doc_id").as[(Long, String, Long, Long, String)].collect()
    // d1: "a b" df=2/2=1.0 >= 0.6 -> dropped from docs 1,2.
    // d2: "a b" df=1/2=0.5 < 0.6 kept; "t u" df=2/2=1.0 -> dropped.
    assert(out.toSeq == Seq(
      (1L, "d1", 1L, 1L, "p q"),
      (2L, "d1", 1L, 1L, "r s"),
      (3L, "d2", 1L, 1L, "a b"),
      (4L, "d2", 1L, 1L, "v w")))
  }

  test("stripBoilerplate boundary: frac exactly at the gate drops") {
    val docs = Seq(
      (1L, "d", "a b"),
      (2L, "d", "a b"),
      (3L, "d", "x y"),
      (4L, "d", "p q")).toDF("doc_id", "dom", "text")
    // "a b" df=2, nd=4, frac 0.5 — with maxDocFrac=0.5 it must drop.
    val out = SegmentOps.stripBoilerplate(docs, "doc_id", col("text"), "dom", 2, 0.5)
      .orderBy("doc_id").as[(Long, String, Long, Long, String)].collect()
    assert(out.map(r => (r._1, r._5)).toSeq ==
      Seq((1L, ""), (2L, ""), (3L, "x y"), (4L, "p q")))
  }

  test("dedupSegmentsCdc: a prefix-shifted duplicated span is caught; fixed windows miss it") {
    // doc 2 repeats doc 1's span shifted by ONE word — the dominant
    // crawl-duplication mode fixed-stride windows structurally miss
    val span = (0 until 60).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, span), (2L, "zzz " + span)).toDF("doc_id", "text")
    // fixed stride: every window of doc 2 is offset by one token and
    // (the words being distinct) no window matches — nothing dropped
    val fixed = SegmentOps.dedupSegments(docs, "doc_id", col("text"), 4)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    assert(fixed(1)._3 == 0L,
      s"fixed-stride unexpectedly caught the shifted span: ${fixed(1)}")
    // CDC boundaries depend on word VALUES: only doc 2's first chunk
    // (the one carrying the inserted prefix) differs; every later
    // chunk is identical to doc 1's and is dropped
    val cdc = SegmentOps.dedupSegmentsCdc(docs, "doc_id", col("text"), 64)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    val (a, b) = (cdc(0), cdc(1))
    assert(a._3 == 0L, s"doc 1 must keep everything: $a")
    assert(b._2 == 1L, s"doc 2 should keep exactly its prefix chunk: $b")
    assert(b._3 > 0L && b._4.startsWith("zzz"))
    // deterministic under repartitioning
    val rep = SegmentOps.dedupSegmentsCdc(docs.repartition(5), "doc_id",
        col("text"), 64)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    assert(rep.toSeq == cdc.toSeq)
  }

  test("dedupSegmentsCdcIncremental: cross-archive shifted dup caught; generations append-only; crash-after-append retry byte-identical") {
    val span = (0 until 60).map(i => s"w$i").mkString(" ")
    val hist = Seq((1L, span)).toDF("doc_id", "text")
    // batch: a one-word-shifted re-publication of the ARCHIVED doc
    // (cross batch/archive through the shift), a within-batch twin
    // pair, and a fresh doc
    val other = (0 until 40).map(i => s"v$i").mkString(" ")
    val batch = Seq(
      (10L, "zzz " + span),
      (11L, other),
      (12L, other),
      (13L, "q r s t")).toDF("doc_id", "text")
    val scratch = java.nio.file.Files
      .createTempDirectory("cdcinc").toString
    val arch = s"$scratch/archive"
    SegmentOps.bootstrapCdcChunkArchive(hist, "doc_id", col("text"), 64, arch)
    // per-file md5s over the whole generation tree (path → sig) for
    // the untouched-generations claim, and per-DIRECTORY sorted
    // content multisets for the retry claim (an overwrite rewrites
    // writer-UUID file NAMES even when every byte is reproduced)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).flatMap(walk).toSeq
      else Seq(f)
    def md5Of(f: java.io.File): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(java.nio.file.Files.readAllBytes(f.toPath))
        .map("%02x".format(_)).mkString
    }
    def fileSigs(): Map[String, String] =
      walk(new java.io.File(arch)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> md5Of(f)).toMap
    def contentSig(): Map[String, Seq[String]] =
      walk(new java.io.File(arch)).filter(_.getName.endsWith(".parquet"))
        .groupBy(_.getParentFile.getPath)
        .map { case (d, fs) => d -> fs.map(md5Of).sorted.toSeq }
    def archSet(): Set[String] = spark.read.parquet(arch)
      .select(col("chunk_md5")).as[String].collect().toSet
    val preSigs = fileSigs()
    val archSetBefore = archSet()
    def run(bid: Long) = SegmentOps.dedupSegmentsCdcIncremental(
        batch, "doc_id", col("text"), 64, arch, batchId = bid)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    val out = run(0L)
    // shifted re-publication of ARCHIVED content: only the prefix
    // chunk survives, every re-aligned interior chunk drops
    assert(out(0)._2 == 1L && out(0)._3 > 0L &&
      out(0)._4.startsWith("zzz"), s"cross-archive dup missed: ${out(0)}")
    // within-batch twins keep-first among archive-fresh content
    assert(out(1)._3 == 0L, s"doc 11 is batch-first: ${out(1)}")
    assert(out(2)._2 == 0L && out(2)._4 == "",
      s"doc 12 duplicates doc 11: ${out(2)}")
    assert(out(3)._4 == "q r s t")
    // archive: pre-existing generations byte-identical, accumulated
    // set equals a rebuild over history ∪ batch
    val postSigs = fileSigs()
    preSigs.foreach { case (p, sig) =>
      assert(postSigs.get(p).contains(sig), s"append rewrote $p") }
    val rebuilt = SegmentOps.cdcChunkArchive(
        hist.unionByName(batch), "doc_id", col("text"), 64)
      .as[String].collect().toSet
    assert(archSet() == rebuilt, "appended archive != union rebuild")
    assert(archSetBefore.subsetOf(archSet()))
    // ---- the at-least-once retry: the caller crashed AFTER its
    // append and re-runs the SAME generation. The archive read must
    // exclude generation 0 (a flat append would anti-join the batch's
    // own fingerprints: n_kept=0 everywhere, silently), the output
    // must equal the first run's, and the archive content must be
    // reproduced byte-identically (modulo writer-UUID names).
    val contentBefore = contentSig()
    val retry = run(0L)
    assert(retry.toSeq == out.toSeq,
      s"retry diverged: ${retry.toSeq} != ${out.toSeq}")
    assert(contentSig() == contentBefore, "retry changed archive content")
    // a second identical batch under a NEW generation: everything
    // archived now, nothing kept fresh — and the archive set does
    // not grow (the new generation is empty)
    val out2 = SegmentOps.dedupSegmentsCdcIncremental(batch, "doc_id",
        col("text"), 64, arch, batchId = 1L)
      .agg(sum(col("n_kept"))).as[Long].head()
    assert(out2 == 0L, s"re-submitted batch kept $out2 chunks")
    assert(archSet() == rebuilt, "re-submitted batch grew the archive")
    // loud error on a missing archive
    val e = intercept[IllegalArgumentException](
      SegmentOps.dedupSegmentsCdcIncremental(batch, "doc_id",
        col("text"), 64, s"$scratch/nope", batchId = 2L))
    assert(e.getMessage.contains("bootstrapCdcChunkArchive"))
    // loud error on a FLAT (untagged) archive — the layout that made
    // retries silently wrong; and on a reserved negative generation
    val flat = s"$scratch/flat"
    SegmentOps.cdcChunkArchive(hist, "doc_id", col("text"), 64)
      .write.mode("overwrite").parquet(flat)
    val e2 = intercept[IllegalArgumentException](
      SegmentOps.dedupSegmentsCdcIncremental(batch, "doc_id",
        col("text"), 64, flat, batchId = 0L))
    assert(e2.getMessage.contains("not") &&
      e2.getMessage.contains("generation-tagged"))
    val e3 = intercept[IllegalArgumentException](
      SegmentOps.dedupSegmentsCdcIncremental(batch, "doc_id",
        col("text"), 64, arch, batchId = -1L))
    assert(e3.getMessage.contains("batchId must be >= 0"))
  }

  test("dedupSegmentsCdcIncremental with an empty bootstrap archive degenerates to dedupSegmentsCdc") {
    val span = (0 until 60).map(i => s"w$i").mkString(" ")
    val other = (0 until 40).map(i => s"v$i").mkString(" ")
    // within-batch duplication only: a shifted copy, a twin pair
    val batch = Seq(
      (10L, span),
      (11L, "zzz " + span),
      (12L, other),
      (13L, other),
      (14L, "q r s t")).toDF("doc_id", "text")
    val arch = java.nio.file.Files
      .createTempDirectory("cdcempty").toString + "/archive"
    SegmentOps.bootstrapCdcChunkArchive(batch.limit(0), "doc_id", col("text"), 64, arch)
    assert(spark.read.parquet(arch).count() == 0L)
    val inc = SegmentOps.dedupSegmentsCdcIncremental(batch, "doc_id",
        col("text"), 64, arch, batchId = 0L)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    val full = SegmentOps.dedupSegmentsCdc(batch, "doc_id", col("text"), 64)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(inc == full, s"incremental $inc != batch $full")
    assert(full.map(_._3).sum > 0L, s"nothing dropped: $full")
  }

  test("cdcSegmentsBatch: streamed generations equal the sequential incremental fold; replay byte-identical") {
    import graft.streaming.StreamOps
    val span = (0 until 60).map(i => s"w$i").mkString(" ")
    val other = (0 until 40).map(i => s"v$i").mkString(" ")
    val b0 = Seq((1L, span), (2L, other)).toDF("doc_id", "text")
    // batch 1 re-publishes batch 0's span behind a one-word shift
    // (cross-BATCH through the shift), plus a fresh doc
    val b1 = Seq((10L, "zzz " + span), (11L, "q r s t"))
      .toDF("doc_id", "text")
    val state = java.nio.file.Files
      .createTempDirectory("cdcstream").toString + "/state"
    StreamOps.cdcSegmentsBatch(b0, 0L, state, "doc_id", "text", 64)
    StreamOps.cdcSegmentsBatch(b1, 1L, state, "doc_id", "text", 64)
    // content signature: per generation dir, the SORTED multiset of
    // file md5s — an overwrite rewrites writer-UUID file NAMES even
    // when every byte of content is reproduced
    def sig(p: String): Map[String, Seq[String]] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).flatMap(walk).toSeq
        else Seq(f)
      walk(new java.io.File(p)).filter(_.getName.endsWith(".parquet"))
        .groupBy(_.getParentFile.getPath)
        .map { case (d, fs) =>
          d -> fs.map { f =>
            val md = java.security.MessageDigest.getInstance("MD5")
            md.digest(java.nio.file.Files.readAllBytes(f.toPath))
              .map("%02x".format(_)).mkString
          }.sorted.toSeq
        }
    }
    val before = sig(state)
    // at-least-once retry of the committed batch 1: content-identical
    StreamOps.cdcSegmentsBatch(b1, 1L, state, "doc_id", "text", 64)
    assert(sig(state) == before, "replay changed streamed state content")
    // streamed clean rows for batch 1 equal the sequential
    // incremental fold over the same archive
    val arch2 = java.nio.file.Files
      .createTempDirectory("cdcstream2").toString + "/archive"
    SegmentOps.bootstrapCdcChunkArchive(b0, "doc_id", col("text"), 64, arch2)
    val seq1 = SegmentOps.dedupSegmentsCdcIncremental(b1, "doc_id",
        col("text"), 64, arch2, batchId = 0L)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    val got1 = spark.read.parquet(s"$state/clean/batch=1")
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got1 == seq1, s"streamed $got1 != sequential $seq1")
    // the cross-batch shifted dup was caught: doc 10 keeps only its
    // prefix chunk
    assert(got1.head._1 == 10L && got1.head._2 == 1L && got1.head._3 > 0L)
    // batch 0 dedups against nothing (empty-archive fallback)
    val got0 = spark.read.parquet(s"$state/clean/batch=0")
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got0.forall(_._3 == 0L), s"batch 0 dropped chunks: $got0")
  }
}
