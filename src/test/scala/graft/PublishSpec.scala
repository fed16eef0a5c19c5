package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Publish, Similarity}
import graft.streaming.StreamOps

/** The [[Publish]] contract at every persisted entry point: a fired
  * in-row guard and an injected task failure (input rows that raise a
  * non-guard error) must each leave the prior generation readable,
  * every file byte-identical (md5), and surface as documented — a
  * guard as an `IllegalArgumentException` carrying exactly its text,
  * any other failure unchanged.
  */
class PublishSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))
  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    .select(col("doc_id"), col("text"))

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_publish_$name").toString

  /** Every file under `dir`, hidden ones included, with its md5. */
  private def tree(dir: String): Map[String, String] = {
    val root = Paths.get(dir)
    val md = java.security.MessageDigest.getInstance("MD5")
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p: Path =>
      root.relativize(p).toString ->
        md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
    }.toMap finally s.close()
  }

  private def rowCount(path: String): Long = spark.read.parquet(path).count()

  /** Input rows that raise a NON-guard error once a job reads `c`. */
  private def poisoned(df: DataFrame, c: String): DataFrame =
    df.withColumn(c, when(col(c).isNotNull,
      raise_error(lit("injected task failure"))).otherwise(col(c)))

  private def withNullVec(df: DataFrame, offset: Long): DataFrame =
    df.unionByName(df.limit(1).select((col("vec_id") + offset).as("vec_id"),
      lit(null).cast(df.schema("embedding").dataType).as("embedding")))

  private def fresh(df: DataFrame, offset: Long): DataFrame =
    df.withColumn("vec_id", col("vec_id") + offset)

  /** Run `fault` over the state under `dir`: it must fail — with
    * exactly the guard text `guard` matches, or (None) with a non-guard
    * error — and leave every file byte-identical and each of
    * `readable`'s relations reading its prior row count.
    */
  private def faultKeepsPrior(dir: String, readable: Seq[String],
                              guard: Option[Regex])(fault: => Unit): Unit = {
    val before = tree(dir)
    val counts = readable.map(rowCount)
    val e = intercept[Throwable](fault)
    guard match {
      case Some(re) =>
        assert(e.isInstanceOf[IllegalArgumentException], s"not a guard: $e")
        assert(re.pattern.matcher(e.getMessage).matches(),
          s"guard message is not exactly the guard text: ${e.getMessage}")
      case None =>
        assert(!e.isInstanceOf[IllegalArgumentException] &&
          Publish.guardText(e).isEmpty, s"task failure rewrapped: $e")
    }
    assert(tree(dir) == before, "a failed publish changed the prior generation")
    assert(readable.map(rowCount) == counts)
  }

  private def exactly(text: String): Option[Regex] = Some(Regex.quote(text).r)

  private def nullGuard(who: String): Option[Regex] =
    exactly(s"$who: a NULL embedding has no nearest cell — drop or embed it first")

  /** The in-row width guard of an encoder under frozen state. */
  private def widthGuard(who: String, dim: Int, codes: Int): Option[Regex] =
    exactly(s"$who: a vector has dimension $dim but the index codes $codes — " +
      "not the same embedding space")

  private def narrow(df: DataFrame): DataFrame =
    df.withColumn("embedding", slice(col("embedding"), 1, 8))

  test("a guard surfaces as exactly its text; an unrelated failure naming an old marker is not rewrapped") {
    val target = tmp("guard") + "/t"
    val e = intercept[IllegalArgumentException](
      Publish.parquet(spark.range(10).select(when(col("id") === 3,
        Publish.raise(lit("row 3 is bad"))).otherwise(col("id")).as("id")), target))
    assert(e.getMessage == "row 3 is bad")
    assert(!new java.io.File(target).exists())
    // a path naming a marker the substring matchers used to key on
    val dir = tmp("marker") + "/batch re-delivers"
    val u = intercept[Throwable](Publish.parquet(spark.range(10)
      .select(when(col("id") === 3, raise_error(lit("re-delivers codes would clip")))
        .otherwise(col("id")).as("id")), dir))
    assert(!u.isInstanceOf[IllegalArgumentException], s"rewrapped: $u")
    // a successful publish replaces the prior generation whole
    Publish.parquet(spark.range(5).toDF(), target)
    Publish.parquet(spark.range(7).toDF(), target)
    assert(rowCount(target) == 7L)
    assert(new java.io.File(target).getParentFile.listFiles()
      .forall(!_.getName.startsWith(".t.")), "publish left debris")
  }

  test("a path republished in-session is re-resolved through Tables, not served stale") {
    val dir = tmp("memo")
    val path = s"$dir/region.parquet"
    Publish.parquet(spark.range(3).toDF("r_regionkey"), path)
    assert(Tables(spark, dir).region.count() == 3L)
    Publish.parquet(spark.range(5).toDF("r_regionkey"), path)
    assert(Tables(spark, dir).region.count() == 5L)
  }

  test("IVF build / append / list rebuild keep the prior generation on a guard or task failure") {
    val idx = tmp("ivf") + "/idx"
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", nlist = 4, idx)
    val rels = Seq(s"$idx/vectors", s"$idx/centroids", s"$idx/stats")
    faultKeepsPrior(idx, rels, nullGuard("buildIvfIndex"))(
      Similarity.buildIvfIndex(withNullVec(emb, 100000L), "vec_id", "embedding", 4, idx))
    faultKeepsPrior(idx, rels, None)(
      Similarity.buildIvfIndex(poisoned(emb, "embedding"), "vec_id", "embedding", 4, idx))
    faultKeepsPrior(idx, rels, nullGuard("appendIvfIndex"))(
      Similarity.appendIvfIndex(spark, idx, withNullVec(fresh(emb, 200000L), 100000L),
        "vec_id", "embedding"))
    faultKeepsPrior(idx, rels, None)(Similarity.appendIvfIndex(spark, idx,
      poisoned(fresh(emb, 200000L), "embedding"), "vec_id", "embedding"))
    faultKeepsPrior(idx, rels, widthGuard("appendIvfIndex", 8, 64))(Similarity
      .appendIvfIndex(spark, idx, narrow(fresh(emb, 200000L)), "vec_id", "embedding"))
    faultKeepsPrior(idx, rels, Some(("appendIvfIndex: batch re-ingests indexed vec_id " +
        "\\d+ — id spaces must be disjoint").r))(
      Similarity.appendIvfIndex(spark, idx, emb, "vec_id", "embedding"))
    // the list rebuild's only input is the index: a corrupt file in a
    // flagged list fails its tasks
    Files.writeString(Paths.get(s"$idx/vectors/__cid=1/part-corrupt.parquet"), "x")
    faultKeepsPrior(idx, Seq(s"$idx/centroids", s"$idx/stats"), None)(
      Similarity.rebuildIvfLists(spark, idx, "vec_id", "embedding", Seq(1)))
  }

  test("PQ build / append / subspace rebuild keep the prior generation on a guard or task failure") {
    val idx = tmp("pq") + "/idx"
    Similarity.buildPqIndex(emb, "vec_id", "embedding", numSub = 8, k = 16, idx)
    val rels = Seq(s"$idx/codes", s"$idx/codebooks", s"$idx/stats")
    faultKeepsPrior(idx, rels, nullGuard("buildPqIndex"))(Similarity.buildPqIndex(
      withNullVec(emb, 100000L), "vec_id", "embedding", 8, 16, idx))
    faultKeepsPrior(idx, rels, None)(Similarity.buildPqIndex(
      poisoned(emb, "embedding"), "vec_id", "embedding", 8, 16, idx))
    faultKeepsPrior(idx, rels, exactly("appendPqIndex: a vector has dimension 8 but " +
        "the index codes 64 — not the same embedding space"))(
      Similarity.appendPqIndex(spark, idx, fresh(emb, 200000L)
        .withColumn("embedding", slice(col("embedding"), 1, 8)), "vec_id", "embedding"))
    faultKeepsPrior(idx, rels, None)(Similarity.appendPqIndex(spark, idx,
      poisoned(fresh(emb, 200000L), "embedding"), "vec_id", "embedding"))
    faultKeepsPrior(idx, rels, exactly("rebuildPqSubspaces: indexed id 0 absent from " +
        "the embeddings relation — pass the same corpus the index codes"))(
      Similarity.rebuildPqSubspaces(spark, idx, emb.filter(col("vec_id") =!= 0L),
        "vec_id", "embedding", Seq(0)))
    faultKeepsPrior(idx, rels, None)(Similarity.rebuildPqSubspaces(spark, idx,
      poisoned(emb, "embedding"), "vec_id", "embedding", Seq(0)))
  }

  test("SQ8 build-over / append keep the prior generation on a guard or task failure") {
    val idx = tmp("sq8") + "/idx"
    Similarity.buildSq8Index(emb, "vec_id", "embedding", idx)
    val rels = Seq(s"$idx/codes", s"$idx/scales")
    faultKeepsPrior(idx, rels, None)(Similarity.buildSq8Index(
      poisoned(emb, "embedding"), "vec_id", "embedding", idx))
    // the build codes through the tier's guards too: a NULL vector
    // would land a NULL code row, a ragged one a zero-filled code
    faultKeepsPrior(idx, rels, nullGuard("buildSq8Index"))(Similarity.buildSq8Index(
      withNullVec(emb, 100000L), "vec_id", "embedding", idx))
    faultKeepsPrior(idx, rels, widthGuard("buildSq8Index", 8, 64))(Similarity
      .buildSq8Index(emb.withColumn("embedding", when(col("vec_id") === 3L,
        slice(col("embedding"), 1, 8)).otherwise(col("embedding"))),
        "vec_id", "embedding", idx))
    faultKeepsPrior(idx, rels, Some(
        "appendSq8Index: a vector's \\|x_\\d+\\| = \\S+ exceeds the frozen scale \\S+ — codes would clip; rebuild the index over the union instead".r))(
      Similarity.appendSq8Index(spark, idx, fresh(emb, 200000L).withColumn("embedding",
        transform(col("embedding"), x => x * 1000.0f)), "vec_id", "embedding"))
    faultKeepsPrior(idx, rels, None)(Similarity.appendSq8Index(spark, idx,
      poisoned(fresh(emb, 200000L), "embedding"), "vec_id", "embedding"))
    faultKeepsPrior(idx, rels, widthGuard("appendSq8Index", 8, 64))(Similarity
      .appendSq8Index(spark, idx, narrow(fresh(emb, 200000L)), "vec_id", "embedding"))
  }

  test("IVF-SQ8 build / append / list rebuild keep the prior generation; a NULL vector is rejected, never a NULL list") {
    val idx = tmp("ivfsq8") + "/idx"
    Similarity.buildIvfSq8Index(emb, "vec_id", "embedding", nlist = 4, idx)
    val rels = Seq(s"$idx/codes", s"$idx/centroids", s"$idx/scales")
    faultKeepsPrior(idx, rels, nullGuard("buildIvfSq8Index"))(Similarity.buildIvfSq8Index(
      withNullVec(emb, 100000L), "vec_id", "embedding", 4, idx))
    faultKeepsPrior(idx, rels, None)(Similarity.buildIvfSq8Index(
      poisoned(emb, "embedding"), "vec_id", "embedding", 4, idx))
    faultKeepsPrior(idx, rels, nullGuard("appendIvfSq8Index"))(
      Similarity.appendIvfSq8Index(spark, idx,
        withNullVec(fresh(emb, 200000L), 100000L), "vec_id", "embedding"))
    faultKeepsPrior(idx, rels, None)(Similarity.appendIvfSq8Index(spark, idx,
      poisoned(fresh(emb, 200000L), "embedding"), "vec_id", "embedding"))
    faultKeepsPrior(idx, rels, widthGuard("appendIvfSq8Index", 8, 64))(Similarity
      .appendIvfSq8Index(spark, idx, narrow(fresh(emb, 200000L)), "vec_id", "embedding"))
    assert(new java.io.File(s"$idx/codes").list().forall(!_.contains("DEFAULT")),
      "a NULL vector landed in a default list partition")
    Files.writeString(Paths.get(s"$idx/codes/__cid=1/part-corrupt.parquet"), "x")
    faultKeepsPrior(idx, Seq(s"$idx/centroids", s"$idx/scales"), None)(
      Similarity.rebuildIvfSq8Lists(spark, idx, "vec_id", Seq(1)))
  }

  test("binary build over an existing index, append and re-bin keep the prior generation") {
    val idx = tmp("bin") + "/idx"
    Similarity.buildBinaryIndex(emb, "vec_id", "embedding", idx)
    val rels = Seq(s"$idx/codes", s"$idx/thresholds")
    val ragged = emb.withColumn("embedding",
      when(col("vec_id") === 3L, slice(col("embedding"), 1, 8)).otherwise(col("embedding")))
    faultKeepsPrior(idx, rels, exactly("binThresholds: 1 vector(s) shorter than 64 " +
        "dimensions — ragged embedding corpus"))(
      Similarity.buildBinaryIndex(ragged, "vec_id", "embedding", idx))
    faultKeepsPrior(idx, rels, None)(Similarity.buildBinaryIndex(
      poisoned(emb, "embedding"), "vec_id", "embedding", idx))
    faultKeepsPrior(idx, rels, exactly("appendBinaryIndex: a vector has dimension 8 " +
        "but the index codes 64 — not the same embedding space"))(
      Similarity.appendBinaryIndex(spark, idx, fresh(emb, 200000L)
        .withColumn("embedding", slice(col("embedding"), 1, 8)), "vec_id", "embedding"))
    faultKeepsPrior(idx, rels, None)(Similarity.appendBinaryIndex(spark, idx,
      poisoned(fresh(emb, 200000L), "embedding"), "vec_id", "embedding"))
    faultKeepsPrior(idx, rels, exactly("rebinBinaryIndex: corpus and code table " +
        "disagree on id 0 — re-bin from exactly the corpus the index serves"))(
      Similarity.rebinBinaryIndex(spark, idx, emb.filter(col("vec_id") =!= 0L),
        "vec_id", "embedding"))
    faultKeepsPrior(idx, rels, None)(Similarity.rebinBinaryIndex(spark, idx,
      poisoned(emb, "embedding"), "vec_id", "embedding"))
  }

  test("ensure completes every index tier: a part missing its _SUCCESS is rebuilt, a complete index is left byte-identical") {
    val tiers = Seq[(String, Seq[String], String => Unit)](
      ("ivf", Seq("vectors", "centroids", "stats"),
        Similarity.ensureIvfIndex(emb, "vec_id", "embedding", 4, _)),
      ("pq", Seq("codes", "codebooks", "stats"),
        Similarity.ensurePqIndex(emb, "vec_id", "embedding", 8, 16, _)),
      ("sq8", Seq("codes", "scales"),
        Similarity.ensureSq8Index(emb, "vec_id", "embedding", _)),
      ("ivfsq8", Seq("codes", "centroids", "scales"),
        Similarity.ensureIvfSq8Index(emb, "vec_id", "embedding", 4, _)),
      ("bin", Seq("codes", "thresholds"),
        Similarity.ensureBinaryIndex(emb, "vec_id", "embedding", _)))
    tiers.foreach { case (name, parts, ensure) =>
      val idx = tmp(s"ensure_$name") + "/idx"
      ensure(idx)
      parts.foreach { part =>
        val marker = Paths.get(idx, part, "_SUCCESS")
        Files.delete(marker)
        ensure(idx)
        assert(Files.exists(marker), s"$name: ensure left $part incomplete")
        // a completeness check also touches each part's empty read marker
        assert(parts.forall(d => graft.operators.Artifact.complete(s"$idx/$d")),
          s"$name: a part is incomplete after rebuilding $part")
        val before = tree(idx)
        ensure(idx)
        assert(tree(idx) == before, s"$name: ensure over a complete index changed it")
      }
    }
  }

  test("a replayed sink trigger keeps its committed batch=<bid> generation on a guard or task failure") {
    val b0 = emb.filter(col("vec_id") % 2 === 0)
    // SQ8 codes: a replay whose batch now clips trips the guard
    val sq8 = tmp("sq8sink") + "/idx"
    Similarity.initSq8Scales(emb, "embedding", sq8)
    val scales = Similarity.readSq8Scales(spark, sq8)
    StreamOps.sq8IngestBatch(b0, 0L, sq8, "vec_id", "embedding", scales)
    faultKeepsPrior(sq8, Seq(s"$sq8/codes"), Some(
        "sq8CodesSink batch 0: a vector's \\|x_\\d+\\| = \\S+ exceeds the frozen scale \\S+ — codes would clip; rebuild the index over the union instead".r))(
      StreamOps.sq8IngestBatch(b0.withColumn("embedding",
        transform(col("embedding"), x => x * 1000.0f)), 0L, sq8, "vec_id", "embedding", scales))
    faultKeepsPrior(sq8, Seq(s"$sq8/codes"), None)(StreamOps.sq8IngestBatch(
      poisoned(b0, "embedding"), 0L, sq8, "vec_id", "embedding", scales))
    faultKeepsPrior(sq8, Seq(s"$sq8/codes"), widthGuard("sq8CodesSink batch 0", 8, 64))(
      StreamOps.sq8IngestBatch(narrow(b0), 0L, sq8, "vec_id", "embedding", scales))
    // binary codes: a replay from another embedding space
    val bin = tmp("binsink") + "/idx"
    Similarity.initBinThresholds(emb, "embedding", bin)
    val thr = Similarity.readBinThresholds(spark, bin)
    StreamOps.binIngestBatch(b0, 0L, bin, "vec_id", "embedding", thr)
    faultKeepsPrior(bin, Seq(s"$bin/codes"), exactly("binCodesSink batch 0: a vector " +
        "has dimension 8 but the index codes 64 — not the same embedding space"))(
      StreamOps.binIngestBatch(b0.withColumn("embedding", slice(col("embedding"), 1, 8)),
        0L, bin, "vec_id", "embedding", thr))
    faultKeepsPrior(bin, Seq(s"$bin/codes"), None)(StreamOps.binIngestBatch(
      poisoned(b0, "embedding"), 0L, bin, "vec_id", "embedding", thr))
    // near-dup state, postings and curation carry no guard: task failures
    val d0 = docs.filter(col("doc_id") % 2 === 0)
    val nd = tmp("ndsink")
    StreamOps.neardupBatch(d0, 0L, nd, "doc_id", "text", 0.6, 32, 8, 3)
    faultKeepsPrior(nd, Seq("pairs", "shingles", "bands").map(d => s"$nd/$d"), None)(
      StreamOps.neardupBatch(poisoned(d0, "text"), 0L, nd, "doc_id", "text", 0.6, 32, 8, 3))
    val post = tmp("postings")
    StreamOps.postingsBatch(d0, 0L, post, "doc_id", "text")
    faultKeepsPrior(post, Seq(post), None)(
      StreamOps.postingsBatch(poisoned(d0, "text"), 0L, post, "doc_id", "text"))
    val cur = tmp("curation")
    val vecs = docs.select(col("doc_id"), array((0 until 8).map(d =>
      (sin(col("doc_id") * (d + 1)) * 0.5f).cast("float")): _*).as("vec"))
    Similarity.initSq8Scales(vecs, "vec", s"$cur/sq8")
    val curScales = Similarity.readSq8Scales(spark, s"$cur/sq8")
    def curate(b: DataFrame, v: DataFrame = vecs) = StreamOps.curateBatch(b, 0L, v,
      cur, "doc_id", "text", "vec", Seq("data"), "[X]", 0.6, 32, 8, 3, curScales)
    curate(d0)
    val curRels = Seq("curated", "sq8/codes", "fp", "shingles", "bands").map(d => s"$cur/$d")
    faultKeepsPrior(cur, curRels, None)(curate(poisoned(d0, "text")))
    // the survivors' vectors code through the SQ8 guarded encoder: a
    // ragged one is rejected, never coded at its own width
    faultKeepsPrior(cur, curRels, widthGuard("curationSink batch 0", 4, 8))(curate(d0,
      vecs.withColumn("vec", when(col("doc_id") % 4 === 0, slice(col("vec"), 1, 4))
        .otherwise(col("vec")))))
  }

  test("upsert, flat and bucketed SCD-2 keep the prior snapshot on a task failure") {
    val upd = Seq((1L, 1L, "a"), (2L, 1L, "b"), (3L, 2L, "c")).toDF("k", "v", "p")
    val bad = Seq((1L, 5L, "x"), (4L, 5L, "y")).toDF("k", "v", "p")
      .withColumn("p", raise_error(lit("injected task failure")).cast("string"))
    val up = tmp("upsert") + "/snap"
    StreamOps.upsertBatch(upd, up, "k", "v")
    faultKeepsPrior(up, Seq(up), None)(StreamOps.upsertBatch(bad, up, "k", "v"))
    val flat = tmp("scd2") + "/hist"
    StreamOps.scd2Batch(upd, flat, "k", "v")
    faultKeepsPrior(flat, Seq(flat), None)(StreamOps.scd2Batch(bad, flat, "k", "v"))
    val buck = tmp("scd2b") + "/hist"
    StreamOps.scd2Batch(upd, buck, "k", "v", Some(4))
    faultKeepsPrior(buck, Seq(buck), None)(StreamOps.scd2Batch(bad, buck, "k", "v", Some(4)))
  }

  test("the compactIndex fold and a Checkpointed step keep their prior state on a task failure") {
    val idx = tmp("fold")
    val d0 = docs.filter(col("doc_id") % 2 === 0)
    StreamOps.postingsBatch(d0, 0L, idx, "doc_id", "text")
    StreamOps.postingsBatch(docs.filter(col("doc_id") % 2 === 1), 1L, idx, "doc_id", "text")
    // a corrupt file in a committed generation fails the fold's tasks
    Files.writeString(Paths.get(s"$idx/batch=1/part-corrupt.parquet"), "x")
    faultKeepsPrior(idx, Seq(s"$idx/batch=0"), None)(
      graft.sources.Compaction.compactBatches(spark, idx, upTo = 1L))
    // checkpointed pipeline: a corrupt input table fails the first step
    val data = tmp("ckptdata")
    new java.io.File(sfDir).listFiles().foreach(f =>
      Files.copy(f.toPath, Paths.get(data, f.getName)))
    val ckpt = tmp("ckpt")
    pipelines.Checkpointed.relatedCandidates(spark, data, ckpt).collect()
    Files.writeString(Paths.get(data, "lineitem.parquet"), "x")
    faultKeepsPrior(ckpt, Seq("s1_facts", "s6_merged").map(
        pipelines.Checkpointed.stepPath(ckpt, _)), None)(
      pipelines.Checkpointed.relatedCandidates(spark, data, ckpt).collect())
  }
}
