package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.pipelines.Repurpose

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("entry (flagship) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("candidateParts respects the set-difference invariant (A−B)∩B=∅") {
    val t = Tables(spark, sfDir)
    val candidates = Repurpose.candidateParts(spark, sfDir)
    // parts the BUILDING segment already buys
    val dd = t.lineitem
      .join(t.orders, col("o_orderkey") === col("l_orderkey"))
      .join(t.customer, col("c_custkey") === col("o_custkey"))
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("l_partkey").as("p_partkey")).distinct()
    assert(candidates.join(dd, Seq("p_partkey"), "left_semi").count() == 0)
  }

  test("relatedCandidates excludes all main-segment parts") {
    val t = Tables(spark, sfDir)
    val rel = Repurpose.relatedCandidates(spark, sfDir)
    val mainParts = t.lineitem
      .join(t.orders, col("o_orderkey") === col("l_orderkey"))
      .join(t.customer, col("c_custkey") === col("o_custkey"))
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("l_partkey").as("p_partkey")).distinct()
    assert(rel.join(mainParts, Seq("p_partkey"), "left_semi").count() == 0)
  }

  test("every declared oracle has a matching query (driver contract)") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("registry: 256 records, uniquely named q<NN>_<slug>, one oracle each") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 256)
    assert(names.distinct.size == names.size,
      s"duplicate names: ${names.diff(names.distinct)}")
    val malformed = names.filterNot(_.matches("q\\d+_[a-z0-9_]+"))
    assert(malformed.isEmpty, s"malformed names: $malformed")
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
  }

  test("registry: every SelfCheck key prefix names exactly one query") {
    val files = new java.io.File("src/main/scala/graft/registry").listFiles()
      .filter(_.getName.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "no registry sources")
    val text = files.map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString finally src.close()
    }.mkString("\n")
    val calls = "SelfCheck\\.(?:once|every)\\(".r.findAllMatchIn(text).size
    val prefixes = "SelfCheck\\.(?:once|every)\\(s?\"(q\\d+)/".r
      .findAllMatchIn(text).map(_.group(1)).toSeq
    assert(calls > 0 && prefixes.size == calls,
      s"$calls SelfCheck calls, ${prefixes.size} with a literal qNN/ key")
    val names = SparkEntry.registry.map(_.name)
    prefixes.distinct.foreach { p =>
      withClue(p)(assert(names.count(_.startsWith(p + "_")) == 1))
    }
  }

  test("registry: no oracle text renders a null (shared texts initialized first)") {
    val nulls = SparkEntry.registry
      .filter(q => "\\bnull\\b".r.findFirstIn(q.oracle).isDefined).map(_.name)
    assert(nulls.isEmpty, s"oracles containing null: $nulls")
  }

  test("all queries run on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      withClue(name)(assert(n >= 0))
    }
  }

  test("perceptual image hash: known bit pattern, banding completeness, brute equality") {
    import spark.implicits._
    // 64-pixel image with gray(j) = 3j (all three channels = j):
    // singleton blocks, mean block index boundary at 32 — bits 0-31
    // clear, bits 32-63 set (ties at block 31.5 resolve strictly)
    val rgb = Array.tabulate(16 * 4 * 3)(i => (i / 3).toByte)
    val one = Seq((0L, "image",
      graft.functions.MediaCodec.encodeBmp(16, 4, rgb), 16, 4))
      .toDF("media_id", "kind", "payload", "width", "height")
    val h = Multimodal.imageHashes(spark, one).as[(Long, Long, Long)].head()
    assert(h == ((0L, 0L, 0xFFFFFFFFL)), s"unexpected hash $h")
    // banding: hamming <= 3 pairs always found, a 4-bit spread missed
    // by construction is impossible — but hamming 4 fails the verify
    val base = (7L, 12345L, 67890L)
    val flip3 = (8L, base._2 ^ 7L, base._3) // 3 bits, band 0
    val flip4 = (9L, base._2 ^ 0x10001L, base._3 ^ 0x10001L) // 1 bit/band
    val hs = Seq(base, flip3, flip4).toDF("media_id", "h1", "h2")
    val got = Multimodal.imageNearDups(hs, maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((7L, 8L)))
    // real corpus: banded pairs equal the brute-force all-pairs join
    val media = Multimodal.mediaFromDocuments(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    val hashes = Multimodal.imageHashes(spark, media)
    val banded = Multimodal.imageNearDups(hashes, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    val l = hashes.select(col("media_id").as("id_a"), col("h1").as("a1"),
      col("h2").as("a2"))
    val r = hashes.select(col("media_id").as("id_b"), col("h1").as("b1"),
      col("h2").as("b2"))
    val brute = l.join(r, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (bit_count(col("a1").bitwiseXOR(col("b1"))) +
          bit_count(col("a2").bitwiseXOR(col("b2")))).cast("int").as("hamming"))
      .filter(col("hamming") <= 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(banded == brute)
    // clone storm: every fingerprint duplicated under a shifted id —
    // the contraction path must equal the (now intra-heavy) brute
    // join, clones pairing at hamming 0
    val doubled = hashes.unionByName(
      hashes.select((col("media_id") + 1000000L).as("media_id"),
        col("h1"), col("h2")))
    val bandedD = Multimodal.hammingNearDups(doubled, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    val ld = doubled.select(col("media_id").as("id_a"), col("h1").as("a1"),
      col("h2").as("a2"))
    val rd = doubled.select(col("media_id").as("id_b"), col("h1").as("b1"),
      col("h2").as("b2"))
    val bruteD = ld.join(rd, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (bit_count(col("a1").bitwiseXOR(col("b1"))) +
          bit_count(col("a2").bitwiseXOR(col("b2")))).cast("int").as("hamming"))
      .filter(col("hamming") <= 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(bandedD == bruteD)
    assert(bandedD.exists { case (a, b, h) => h == 0 && b == a + 1000000L })
  }

  test("perceptual audio hash: known energy envelope and brute equality") {
    import spark.implicits._
    // 128 samples: silent first half, amplitude-100 second half —
    // energy mean 50, so exactly bits 32-63 set
    val samples = Array.tabulate(128)(i => if (i < 64) 0.toShort else 100.toShort)
    val one = Seq((1L, "audio",
      graft.functions.MediaCodec.encodeWav(8000, samples), 0, 0))
      .toDF("media_id", "kind", "payload", "width", "height")
    val h = Multimodal.audioHashes(spark, one).as[(Long, Long, Long)].head()
    assert(h == ((1L, 0L, 0xFFFFFFFFL)), s"unexpected audio hash $h")
    val media = Multimodal.mediaFromDocuments(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    val hashes = Multimodal.audioHashes(spark, media)
    val banded = Multimodal.hammingNearDups(hashes, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    val l = hashes.select(col("media_id").as("id_a"), col("h1").as("a1"),
      col("h2").as("a2"))
    val r = hashes.select(col("media_id").as("id_b"), col("h1").as("b1"),
      col("h2").as("b2"))
    val brute = l.join(r, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (bit_count(col("a1").bitwiseXOR(col("b1"))) +
          bit_count(col("a2").bitwiseXOR(col("b2")))).cast("int").as("hamming"))
      .filter(col("hamming") <= 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(banded == brute)
  }

  test("video near-dups: shared-frame pairing equals set intersections") {
    import spark.implicits._
    val media = Multimodal.mediaFromDocuments(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    val fh = Multimodal.videoFrameHashes(spark, media)
    val sets = fh.select("media_id", "h1", "h2").distinct()
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (id, rs) => id -> rs.map(r => (r._2, r._3)).toSet }
    val ids = sets.keys.toSeq.sorted
    val expect = (for {
      i <- ids; jd <- ids if i < jd
      n = (sets(i) intersect sets(jd)).size if n >= 2
    } yield (i, jd, n.toLong)).toSet
    val got = Multimodal.videoNearDups(fh, minShared = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expect)
    assert(got.nonEmpty, "fixture should plant videos with shared frames")
    // stop-fingerprint cap: frames present in more videos than the cap
    // carry no pairing evidence — equality with the filtered recompute
    val freq = sets.toSeq.flatMap { case (id, s) => s.map(_ -> id) }
      .groupBy(_._1).map { case (h, xs) => h -> xs.size.toLong }
    val cap = 3L
    val expectCapped = (for {
      i <- ids; jd <- ids if i < jd
      n = (sets(i) intersect sets(jd)).count(h => freq(h) <= cap) if n >= 2
    } yield (i, jd, n.toLong)).toSet
    val gotCapped = Multimodal.videoNearDups(fh, minShared = 2,
        maxFrameFreq = cap)
      .as[(Long, Long, Long)].collect().toSet
    assert(gotCapped == expectCapped)
  }

  test("multimodal resize and frame sampling keep the batch contract") {
    val media = Multimodal.mediaFromDocuments(
      spark.read.parquet(s"$sfDir/documents.parquet")).limit(50)
    val resized = Multimodal.resize(media, stride = 4)
    val cmp = media.select(col("media_id"), length(col("payload")).as("orig"))
      .join(resized.select(col("media_id"), length(col("payload")).as("small"),
        col("width")), "media_id")
    // payload shrinks (stride-4 keeps ~1/16 of image pixels, 1/4 of
    // audio samples; fixed headers survive) and stays a valid container
    assert(cmp.filter(col("small") >= col("orig")).count() == 0)
    assert(cmp.filter(col("width") < 0).count() == 0)
    val refeats = Multimodal.decodeFeatures(spark, resized)
    assert(refeats.filter(col("n_units") < 1).count() == 0)
    val frames = Multimodal.sampleFrames(media, everyN = 2)
    assert(frames.count() > 0)
    // every sampled frame is a self-contained 4x4 BMP, frame_no even
    assert(frames.filter(length(col("frame")) =!=
      graft.functions.MediaCodec.bmpSize(4, 4)).count() == 0)
    assert(frames.filter(col("frame_no") % 2 =!= 0).count() == 0)
  }

  test("two-level nested expand (J7: drug -> mechanisms -> targets)") {
    // mechanismsOfAction.rows[].targets[] shape from the reference
    // (/root/reference/opentargets_query_targets_for_drug.py:37-40):
    // double explode flattens both levels; counts must multiply out
    val df = spark.createDataFrame(Seq(
      ("CHEMBL690", Seq((("inhibitor"), Seq("T1", "T2")), (("agonist"), Seq("T3")))),
      ("CHEMBL25", Seq((("acetylator"), Seq("T4", "T5", "T6"))))
    )).toDF("drug_id", "mechanisms")
    val flat = df
      .select(col("drug_id"), explode(col("mechanisms")).as("m"))
      .select(col("drug_id"), col("m._1").as("mechanism"), explode(col("m._2")).as("target_id"))
    assert(flat.count() == 6)
    assert(flat.filter(col("drug_id") === "CHEMBL690").count() == 3)
    val cols = flat.columns.toSeq
    assert(cols == Seq("drug_id", "mechanism", "target_id"))
  }

  test("multimodal decode pipeline: schema, determinism, batch shape") {
    val media = Multimodal.mediaFromDocuments(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    val feats = Multimodal.decodeFeatures(spark, media)
    val rows = feats.orderBy("media_id").limit(5).collect()
    assert(rows.forall(_.feature.length == Multimodal.FeatureDim))
    assert(rows.forall(r => r.frame_count >= 1 && r.n_bytes > 0))
    // deterministic across partitionings
    val a = feats.select("media_id", "n_bytes").orderBy("media_id").collect().toSeq
    val b = Multimodal.decodeFeatures(spark, media.repartition(7))
      .select("media_id", "n_bytes").orderBy("media_id").collect().toSeq
    assert(a == b)
  }
}
