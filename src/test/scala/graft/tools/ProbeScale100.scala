package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bfs, Dedup, Graphs, PageRank, Similarity}

/** 100× scale-up probe — the round-8 extension of the 10× curves in
  * SCALING.md. The 10× run caught the round-2 jaccard blowup; a 100×
  * run is the cheapest way to catch the NEXT nonlinearity (candidate-
  * pair memory in the banded self-joins, CC round counts, output-
  * volume cliffs) before a cluster does.
  *
  * Method, same as ProbeScale: replicate sf0.1 documents (5 k →
  * 500 k docs) and embeddings (6 k → 600 k vectors) 100× with offset
  * ids — every document gains 99 exact twins, the hostile crawl-
  * duplication regime where duplicate clusters inflate true pair
  * outputs ~m². The graph probe replicates the supplier↔part
  * bipartite graph 100× as disjoint copies (11.8 M → 118 M undirected
  * edges; diameter unchanged — the sharded-crawl regime).
  *
  * `SPARK_GRAFT_SCALE_FACTOR` overrides the factor (default 100).
  * Replicas cache under /tmp/graft_scale<factor> keyed on existence.
  */
object ProbeScale100 {
  def main(args: Array[String]): Unit = {
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "100").toInt
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val base = "/root/testdata/sf0.1"
    val big = s"/tmp/graft_scale$factor"

    def replicate(table: String, idCols: Seq[String]): Unit = {
      val out = s"$big/$table.parquet"
      if (new java.io.File(out, "_SUCCESS").exists()) return
      val src = spark.read.parquet(s"$base/$table.parquet")
      val maxIds = idCols.map(c => c -> src.agg(max(col(c))).head().getLong(0)).toMap
      // one distributed job: cross the source with a copy-index range
      // instead of a union of `factor` scans (a 100-branch union plans
      // slowly and re-lists the file 100×)
      val copies = spark.range(factor).select(col("id").as("__copy"))
      idCols.foldLeft(src.crossJoin(copies)) { (df, c) =>
          df.withColumn(c, col(c) + col("__copy") * (maxIds(c) + 1L))
        }
        .drop("__copy")
        .write.mode("overwrite").parquet(out)
    }

    def time(name: String)(f: => Long): Double = {
      val t0 = System.nanoTime()
      val n = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $name%-40s $dt%9.2f s  rows=$n")
      graft.Sessions.release(spark)
      dt
    }

    // SPARK_GRAFT_PROBE_SECTIONS=corpus,graph,triangles (comma list)
    // restricts which probe families run; unset = all
    val sections = sys.env.get("SPARK_GRAFT_PROBE_SECTIONS")
      .map(_.split(',').toSet)
    def section(name: String): Boolean = sections.forall(_.contains(name))

    if (section("corpus")) {
      replicate("documents", Seq("doc_id"))
      replicate("embeddings", Seq("vec_id"))
    }

    def docs(dir: String): DataFrame = spark.read.parquet(s"$dir/documents.parquet")
    def emb(dir: String): DataFrame = spark.read.parquet(s"$dir/embeddings.parquet")

    // warm pass at 1× (codegen), then timed 1× and timed <factor>×
    (if (section("corpus"))
       Seq(base -> "warm", base -> "sf0.1", big -> s"${factor}x")
     else Seq.empty).foreach {
      case (dir, label) =>
        time(s"exactDedup     $label")(
          Dedup.exactDupGroups(docs(dir), col("doc_id"), col("text")).count())
        time(s"jaccardPairs   $label")(
          Dedup.jaccardPairs(docs(dir), "doc_id", "text", 3, 0.6, Long.MaxValue).count())
        time(s"jaccardClusters $label")(
          Dedup.jaccardClusters(docs(dir), "doc_id", "text", 3, 0.6, Long.MaxValue).count())
        time(s"minhashNearDup $label")(
          Dedup.minhashNearDups(docs(dir), "doc_id", "text", 0.6).count())
        time(s"simhashNearDup $label")(
          Dedup.simhashNearDups(docs(dir), "doc_id", "text", 8).count())
        time(s"knnJoin        $label")(
          Similarity.knnJoin(emb(dir), "vec_id", "embedding", 3, 32, 4).count())
        time(s"contamination  $label") {
          val d = docs(dir)
          Dedup.contamination(d, d.filter(col("doc_id") % 500 === 0),
            "doc_id", "text", 3, 3).count()
        }
    }

    // span dedup at factor×: the replica is maximally adversarial —
    // every doc gains `factor`-1 full-text clones, so ~(factor-1)/factor
    // of ALL spans become removal intervals. Invariant riding the
    // curve: copy-0 ids keep the smallest (id, pos) for every one of
    // their spans, so the factor× output restricted to copy 0 must
    // equal the 1× output bit-for-bit.
    if (section("spans")) {
      replicate("documents", Seq("doc_id"))
      val maxBase = docs(base).agg(max(col("doc_id"))).head().getLong(0)
      def spanOut(dir: String): DataFrame =
        Dedup.spanDedup(docs(dir), "doc_id", "text", k = 8)
      // a bare count() would let Catalyst ELIMINATE the whole dup
      // pipeline (the stats join is a left join on a unique aggregate
      // key, so count prunes it away) — consume every output column
      // through an order-free xor signature instead, which doubles as
      // the equality check
      def sigN(df: DataFrame): (Long, Long) = {
        val r = df.select(xxhash64(concat_ws("|", col("id"),
            col("total_words"), col("dup_regions"), col("dup_words"),
            col("dup_ppm"), col("clean_fp"))).as("h"))
          .agg(expr("bit_xor(h)"), count(lit(1))).head()
        (r.getLong(0), r.getLong(1))
      }
      var s1 = 0L
      var sN = 0L
      time("spanDedup      warm")(sigN(spanOut(base))._2)
      time("spanDedup      sf0.1") {
        val x = sigN(spanOut(base)); s1 = x._1; x._2
      }
      time(s"spanDedup      ${factor}x")(sigN(spanOut(big))._2)
      time(s"spanDedup      ${factor}x@copy0") {
        val x = sigN(spanOut(big).filter(col("id") <= maxBase))
        sN = x._1; x._2
      }
      require(s1 == sN,
        s"${factor}x span output restricted to copy 0 diverged from 1x: $s1 vs $sN")
      println(s"[probe] spans invariant: ${factor}x restricted to copy-0 == 1x (sig $s1)")
      def incOut(dir: String): DataFrame = {
        val d = docs(dir)
        Dedup.spanDedupIncremental(d.filter(col("doc_id") % 4 === 3),
          Dedup.spanArchive(d.filter(col("doc_id") % 4 =!= 3),
            "doc_id", "text", 8),
          "doc_id", "text", 8)
      }
      time("spanIncr       sf0.1")(sigN(incOut(base))._2)
      time(s"spanIncr       ${factor}x")(sigN(incOut(big))._2)
    }

    // incremental minhash at factor×: the archive (¾ of the corpus)
    // contributes only its two persisted relations — shingle artifact
    // and banded-signature table, both built ONCE and timed apart —
    // so the per-batch probe should track the batch + collisions, not
    // the archive. Invariant riding the curve: banding and exact
    // verification are per-pair deterministic, so the factor× output
    // restricted to copy-0 pairs must equal the 1× output exactly
    // (ids, jaccards, and vs labels).
    if (section("incmh")) {
      replicate("documents", Seq("doc_id"))
      val maxBase = docs(base).agg(max(col("doc_id"))).head().getLong(0)
      def archived(dir: String, tag: String): (DataFrame, DataFrame) = {
        val hist = docs(dir).filter(col("doc_id") % 4 =!= 3)
        val shH = Dedup.ensureShingleSets(hist, "doc_id", "text", 3,
          s"$big/incmh_sh_$tag")
        val bp = s"$big/incmh_bands_$tag"
        if (!new java.io.File(bp, "_SUCCESS").exists()) {
          Dedup.minhashBands(Dedup.minhashSignaturesFromShingles(shH))
            .write.mode("overwrite").parquet(bp)
        }
        (shH, spark.read.parquet(bp))
      }
      time("incmh archive build 1x") { archived(base, "b"); 0L }
      time(s"incmh archive build ${factor}x") { archived(big, "x"); 0L }
      def inc(dir: String, tag: String): DataFrame = {
        val (shH, bands) = archived(dir, tag)
        Dedup.minhashNearDupsIncremental(
          docs(dir).filter(col("doc_id") % 4 === 3), "doc_id", "text",
          archiveShingles = shH, archiveBands = bands, threshold = 0.6)
      }
      def sig(df: DataFrame): (Long, Long) = {
        val r = df.select(xxhash64(concat_ws("|", col("id_a"), col("id_b"),
            col("jaccard"), col("vs"))).as("h"))
          .agg(expr("bit_xor(h)"), count(lit(1))).head()
        (r.getLong(0), r.getLong(1))
      }
      var s1 = 0L
      var sN = 0L
      time("incMinhash     warm")(sig(inc(base, "b"))._2)
      time("incMinhash     sf0.1") {
        val x = sig(inc(base, "b")); s1 = x._1; x._2
      }
      time(s"incMinhash     ${factor}x")(sig(inc(big, "x"))._2)
      time(s"incMinhash     ${factor}x@copy0") {
        val x = sig(inc(big, "x")
          .filter(col("id_a") <= maxBase && col("id_b") <= maxBase))
        sN = x._1; x._2
      }
      require(s1 == sN,
        s"${factor}x incremental output restricted to copy 0 diverged: $s1 vs $sN")
      println(s"[probe] incmh invariant: ${factor}x restricted to copy-0 == 1x (sig $s1)")
      time(s"fullMinhash    ${factor}x (contrast)")(
        Dedup.minhashNearDups(docs(big), "doc_id", "text", 0.6).count())
    }

    // CDC chunking at factor×: boundaries are pure word-value
    // functions, so every clone emits an identical chunk sequence —
    // the invariant is exact ×factor multiset scaling (xor-signature
    // over (chunk_idx, start_pos, n_words, chunk_md5) ignores ids and
    // must be UNCHANGED at factor× when each tuple's multiplicity
    // scales uniformly... xor of an even multiple cancels, so assert
    // instead on the copy-0 restriction including ids, plus the exact
    // ×factor row count).
    if (section("cdc")) {
      replicate("documents", Seq("doc_id"))
      val maxBase = docs(base).agg(max(col("doc_id"))).head().getLong(0)
      def chunks(dir: String): DataFrame = {
        val ch = graft.operators.Chunking.cdcChunks(docs(dir), "doc_id",
          col("text"), 32)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("chunk_md5")).orderBy(col("id"), col("chunk_idx"))
        ch.withColumn("is_dup", row_number().over(w) > 1)
      }
      def sig(df: DataFrame): (Long, Long) = {
        val r = df.select(xxhash64(concat_ws("|", col("id"), col("chunk_idx"),
            col("start_pos"), col("n_words"), col("chunk_md5"),
            col("is_dup"))).as("h"))
          .agg(expr("bit_xor(h)"), count(lit(1))).head()
        (r.getLong(0), r.getLong(1))
      }
      var s1 = (0L, 0L)
      var sN = (0L, 0L)
      time("cdcChunks      warm")(sig(chunks(base))._2)
      time("cdcChunks      sf0.1") { s1 = sig(chunks(base)); s1._2 }
      var nBig = 0L
      time(s"cdcChunks      ${factor}x") {
        nBig = chunks(big).count(); nBig
      }
      require(nBig == s1._2 * factor,
        s"chunk count not exactly ${factor}x: $nBig vs ${s1._2} * $factor")
      // copy-0 docs keep first-occurrence status for every chunk they
      // keep it for at 1× (copies have HIGHER ids), so the restricted
      // output is bit-identical
      time(s"cdcChunks      ${factor}x@copy0") {
        sN = sig(chunks(big).filter(col("id") <= maxBase)); sN._2
      }
      require(s1 == sN,
        s"${factor}x cdc output restricted to copy 0 diverged: $s1 vs $sN")
      println(s"[probe] cdc invariant: ${factor}x restricted to copy-0 == 1x " +
        s"(sig ${s1._1}), count exactly ${factor}x")
    }

    // CDC-boundary segment dedup at factor×: every chunk text gains
    // factor−1 exact twins (the mega-duplicated-segment skew regime
    // the min-struct keep-first exists for). Copy-0 documents keep
    // first-occurrence status for every chunk they keep at 1× (copies
    // have HIGHER ids), so the restricted output is bit-identical.
    if (section("cdcdedup")) {
      replicate("documents", Seq("doc_id"))
      val maxBase = docs(base).agg(max(col("doc_id"))).head().getLong(0)
      def run(dir: String): DataFrame =
        graft.operators.SegmentOps.dedupSegmentsCdc(
          docs(dir), "doc_id", col("text"), 32)
      def sig(df: DataFrame): (Long, Long) = {
        val r = df.select(xxhash64(concat_ws("|", col("doc_id"),
            col("n_kept"), col("n_dropped"), col("clean_text"))).as("h"))
          .agg(expr("bit_xor(h)"), count(lit(1))).head()
        (r.getLong(0), r.getLong(1))
      }
      var s1 = (0L, 0L)
      time("dedupSegCdc    warm")(sig(run(base))._2)
      time("dedupSegCdc    sf0.1") { s1 = sig(run(base)); s1._2 }
      // sig (not count) at factor×: a bare count lets Catalyst prune
      // the clean_text reassembly and under-measures the operator
      var sBig = (0L, 0L)
      time(s"dedupSegCdc    ${factor}x") { sBig = sig(run(big)); sBig._2 }
      require(sBig._2 == s1._2 * factor,
        s"doc count not exactly ${factor}x: ${sBig._2} vs ${s1._2} * $factor")
      var sN = (0L, 0L)
      time(s"dedupSegCdc    ${factor}x@copy0") {
        sN = sig(run(big).filter(col("doc_id") <= maxBase)); sN._2
      }
      require(s1 == sN,
        s"${factor}x dedup output restricted to copy 0 diverged: $s1 vs $sN")
      println(s"[probe] cdcdedup invariant: ${factor}x restricted to " +
        s"copy-0 == 1x (sig ${s1._1}); every copy-0 keep decision survives " +
        s"${factor - 1} extra twins per chunk")
    }

    // ---------------- streaming CDC-segment dedup at factor× ----------------
    // The q246 sink's per-trigger cost at scale: the batch kernel
    // (q233 shape) is measured linear in `cdcdedup` above; the
    // streaming twin adds per-trigger STATE I/O — an archive read
    // that grows with trigger count and two generation writes. Four
    // ascending-id-range triggers over the factor× corpus, each timed
    // end-to-end; the LAST trigger (largest archive) is then
    // decomposed piecewise (chunk / archive probe + dedup compute /
    // generation writes — the ProbeQ199b pattern). Invariant: the
    // streamed composition (union of clean generations) is
    // bit-identical to the one-shot batch device over the whole
    // corpus — ascending-id batches make the streamed keep-first THE
    // global (doc, seg) keep-first.
    if (section("cdcstream")) {
      replicate("documents", Seq("doc_id"))
      import graft.operators.SegmentOps
      import graft.streaming.StreamOps
      val corpus = docs(big).select(col("doc_id"), col("text"))
      val state = s"/tmp/graft_scale${factor}_cdcstream/state"
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"/tmp/graft_scale${factor}_cdcstream"))
      val bnds = corpus.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val (lo, hi) = (bnds.getLong(0), bnds.getLong(1))
      def batchOf(b: Int): DataFrame = corpus.filter(
        floor((col("doc_id") - lit(lo)) * lit(4) / lit(hi - lo + 1))
          .cast("int") === b)
      (0 until 4).foreach { b =>
        val bdf = batchOf(b)
        time(f"cdcstream trigger $b%d (end-to-end)") {
          StreamOps.cdcSegmentsBatch(bdf, b.toLong, state,
            "doc_id", "text", 32)
          spark.read.parquet(s"$state/clean/batch=$b").count()
        }
      }
      // piecewise decomposition of the trigger-3 replay (the largest
      // archive: 3 prior generations)
      val b3 = batchOf(3)
      val segs = SegmentOps.cdcBatchSegments(b3, "doc_id", col("text"), 32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time("cdcstream t3: chunk (CDC kernel)")(segs.count())
      val arch = spark.read.parquet(s"$state/chunks")
        .filter(col("batch") =!= 3L).drop("batch")
      val (out3, fresh3) = SegmentOps.dedupSegsVsArchive(
        b3, "doc_id", col("text"), 32, arch, Some(segs))
      def sig(df: DataFrame): (Long, Long) = {
        val r = df.select(xxhash64(concat_ws("|", col("doc_id"),
            col("n_kept"), col("n_dropped"), col("clean_text"))).as("h"))
          .agg(expr("bit_xor(h)"), count(lit(1))).head()
        (r.getLong(0), r.getLong(1))
      }
      var s3 = (0L, 0L)
      time("cdcstream t3: archive probe + dedup")(
        { s3 = sig(out3); s3._2 })
      val genParts = math.max(1, b3.rdd.getNumPartitions)
      time("cdcstream t3: generation writes") {
        out3.repartition(genParts).write.mode("overwrite")
          .parquet(s"$state/clean/batch=3")
        fresh3.repartition(genParts).write.mode("overwrite")
          .parquet(s"$state/chunks/batch=3")
        fresh3.count()
      }
      segs.unpersist()
      // invariant: streamed composition == one-shot batch device
      var sStream = (0L, 0L)
      time("cdcstream union of generations") {
        sStream = sig(spark.read.parquet(s"$state/clean").drop("batch"))
        sStream._2
      }
      var sBatch = (0L, 0L)
      time("cdcstream one-shot batch device") {
        sBatch = sig(SegmentOps.dedupSegmentsCdc(corpus, "doc_id",
          col("text"), 32))
        sBatch._2
      }
      require(sStream == sBatch,
        s"streamed CDC composition diverged from the batch device: " +
          s"$sStream vs $sBatch")
      println(s"[probe] cdcstream invariant: 4-trigger composition == " +
        s"one-shot dedupSegmentsCdc over the ${factor}x corpus " +
        s"(sig ${sBatch._1}, rows ${sBatch._2}) — TRUE")
    }

    // JL projection at production width (1024 -> 128): the KERNEL
    // path (one reference-object sign matrix, tight per-row matvec)
    // vs the broadcast-JOIN path (one join-row per scalar product) —
    // the measured justification for shipping both. Work is inherent
    // O(n·inDim·outDim); the probe pins kernel == joined values and
    // reports the rate gap.
    if (section("jl")) {
      def wide(n: Long): DataFrame = spark.range(n)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(1023)),
            d => ((pmod(col("id") * 31 + d.cast("long") * 7, lit(97L))
              .cast("double") / lit(97.0)) - lit(0.5)).cast("float"))
            .as("embedding"))
      def sigOf(df: DataFrame): (Long, Long) = {
        val r = df.select(xxhash64(col("vec_id"), col("p")).as("h"))
          .agg(expr("bit_xor(h)"), count(lit(1))).head()
        (r.getLong(0), r.getLong(1))
      }
      def kernel(n: Long): DataFrame = wide(n).select(col("vec_id"),
        Similarity.randomProjectPacked(col("embedding"), 1024, 128, 7L)
          .as("p"))
      def joined(n: Long): DataFrame =
        Similarity.randomProjectJoined(wide(n), "vec_id", "embedding",
          1024, 128, 7L).withColumnRenamed("proj", "p")
      var kSig = (0L, 0L)
      var jSig = (0L, 0L)
      time("jl kernel      6k")(sigOf(kernel(6000))._2)
      time("jl kernel      6k (timed)") { kSig = sigOf(kernel(6000)); kSig._2 }
      time("jl joined      6k") { jSig = sigOf(joined(6000)); jSig._2 }
      require(kSig == jSig, s"kernel != joined at 6k: $kSig vs $jSig")
      time("jl kernel      60k")(sigOf(kernel(60000))._2)
      time("jl joined      60k")(sigOf(joined(60000))._2)
      if (factor >= 100)
        time("jl kernel      600k")(sigOf(kernel(600000))._2)
      println("[probe] jl invariant: kernel == joined at 6k " +
        s"(sig ${kSig._1}); rates above are the shipping argument")
    }

    // graph iteratives at factor×: disjoint prefix-tagged copies
    def pairs1x: DataFrame =
      spark.read.parquet(s"$base/lineitem.parquet")
        .select(concat(lit("S"), col("l_suppkey").cast("string")).as("src"),
          concat(lit("P"), col("l_partkey").cast("string")).as("dst"))
        .distinct()
    def undirected(p: DataFrame): DataFrame =
      p.union(p.select(col("dst").as("src"), col("src").as("dst")))
    def pairsNx: DataFrame = {
      val p = pairs1x
      val copies = spark.range(factor).select(col("id").as("__copy"))
      p.crossJoin(copies)
        .select(
          when(col("__copy") === 0, col("src"))
            .otherwise(concat(lit("c"), col("__copy"), col("src"))).as("src"),
          when(col("__copy") === 0, col("dst"))
            .otherwise(concat(lit("c"), col("__copy"), col("dst"))).as("dst"))
    }
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete(); ()
    }
    (if (section("graph"))
       Seq(("1x", () => pairs1x, 1), (s"${factor}x", () => pairsNx, factor))
     else Seq.empty)
      .foreach { case (tag, mk, copies) =>
        val edges = undirected(mk())
        time(s"$tag edges count") { edges.count() }
        val art = s"/tmp/graft_scalegraph100_$tag"
        deleteRec(new java.io.File(s"$art-edges"))
        deleteRec(new java.io.File(s"$art-nodes"))
        time(s"$tag pagerank cold (build+5it)") {
          PageRank.ranksFromArtifact(spark, art, edges, 5).count()
        }
        time(s"$tag pagerank warm") {
          PageRank.ranksFromArtifact(spark, art, edges, 5).count()
        }
        val seeds = (0 until math.min(copies, 100)).map(i =>
          if (i == 0) "S1" else s"c${i}S1").toDF("id")
        time(s"$tag bfs 3 hops") {
          Bfs.shortestHops(edges, seeds, maxHops = 3).count()
        }
      }

    // triangle counting at factor×: disjoint id-offset copies of the
    // co-purchase graph (q134's edge relation) ⇒ triangles must equal
    // EXACTLY factor × base — a scale curve that doubles as a
    // correctness gate on the degree-orientation algorithm
    if (section("triangles")) runTriangles(spark, base, factor)

    // BPE merge learning: replication multiplies every word count by
    // `factor` but leaves the DISTINCT-WORD state identical, so the
    // merge SEQUENCE must be bit-identical and every pair count
    // exactly factor× — a correctness gate riding on the curve (the
    // per-step agg is vocabulary-sized, so cost should be ~flat).
    if (section("bpe")) {
      replicate("documents", Seq("doc_id"))
      def mergeSeq(dir: String): Seq[(Int, String, String, Long)] =
        graft.operators.BpeLearn.learnMerges(
            spark.read.parquet(s"$dir/documents.parquet"), col("text"), 8)
          .orderBy("step").select("step", "left", "right", "pair_count")
          .collect()
          .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
          .toSeq
      var m1: Seq[(Int, String, String, Long)] = Seq.empty
      var mN: Seq[(Int, String, String, Long)] = Seq.empty
      time("bpe 8 merges 1x") { m1 = mergeSeq(base); m1.size.toLong }
      time(s"bpe 8 merges ${factor}x") { mN = mergeSeq(big); mN.size.toLong }
      val sameSeq = m1.map(t => (t._1, t._2, t._3)) == mN.map(t => (t._1, t._2, t._3))
      val exactCounts = m1.size == mN.size &&
        m1.zip(mN).forall { case (a, b) => b._4 == factor * a._4 }
      println(s"[probe] bpe merge sequence identical: $sameSeq; " +
        s"counts exactly ${factor}x: $exactCounts")
    }

    // BPE ENCODE at factor×: replication makes per-doc token counts
    // identical per twin, so the corpus token TOTAL must be exactly
    // factor× — and the kernel is a pure scan-stage expression chain,
    // so wall should track the scan (~linear, no shuffle at all).
    if (section("encode")) {
      replicate("documents", Seq("doc_id"))
      val merges = Seq(
        "t" -> "a", "ta" -> "b", "tab" -> "l", "tabl" -> "e",
        "v" -> "a", "va" -> "l", "val" -> "u", "valu" -> "e",
        "s" -> "c", "sc" -> "a", "sca" -> "n",
        "r" -> "o", "ro" -> "w",
        "w" -> "i", "wi" -> "n", "win" -> "d", "wind" -> "o", "windo" -> "w")
      def total(dir: String): Long =
        graft.operators.BpeLearn.encode(docs(dir), "doc_id", col("text"), merges)
          .agg(sum(size(col("tokens")))).head().getLong(0)
      var t1 = 0L; var tN = 0L
      time("bpe encode 1x")(
        { t1 = total(base); t1 })
      time(s"bpe encode ${factor}x")(
        { tN = total(big); tN })
      println(s"[probe] bpe encode token total exactly ${factor}x: " +
        s"${tN == factor * t1} ($tN vs $factor x $t1)")
    }

    // CROSS-KNN at factor× (the r9 verdict's ask, after the per-rep
    // candidate ranking): a 1%-of-corpus query batch against the full
    // corpus. Twin corpus vectors tie exactly and a twin query's
    // underlying vector equals its base family's, so every factor×
    // hit must collapse (mod baseN) to its base query's top-3
    // families — the correctness invariant riding on the curve.
    if (section("crossknn")) {
      replicate("embeddings", Seq("vec_id"))
      import graft.operators.Similarity
      val baseN = emb(base).agg(max(col("vec_id"))).head().getLong(0) + 1L
      def cross(dir: String): Map[Long, Seq[Long]] =
        Similarity.crossKnnJoin(
          emb(dir).filter(col("vec_id") % 100 === 0),
          emb(dir), "vec_id", "embedding", 3, 32, 4)
          .select(col("query_id"), col("nn_id"))
          .as[(Long, Long)].collect().toSeq
          .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      var r1: Map[Long, Seq[Long]] = Map.empty
      var rN: Map[Long, Seq[Long]] = Map.empty
      time("crossKnn 1x")({ r1 = cross(base); r1.size.toLong })
      time(s"crossKnn ${factor}x")({ rN = cross(big); rN.size.toLong })
      val ok = rN.forall { case (q, hits) =>
        val fams = r1.getOrElse(q % baseN, Seq.empty).map(_ % baseN).toSet
        hits.forall(h => fams.contains(h % baseN))
      }
      println(s"[probe] crossKnn ${factor}x hits collapse to base " +
        s"top-3 families: $ok (${rN.size} queries)")
    }

    // GRAPHQL HUB-KEY CONNECTION at factor× (the r10 verdict's ask,
    // after the rank-limit-before-collect fix): FK-consistent star
    // replication keeps the five segment names, so ONE disease's
    // knownDrugs edge list inflates exactly factor× — the hub-key
    // regime where the pre-fix fold would collect the whole slice
    // into a single aggregation buffer. Invariants riding on the
    // curve: count scales exactly factor×, rows stay the DEFAULT page
    // size, and the served page equals the head of the full ordering
    // recomputed independently from the edge index (top-k semantics
    // survive the hub).
    if (section("graphql")) {
      import graft.api.{GraphQl, KnowledgeGraph}
      def maxOf(table: String, c: String): Long =
        spark.read.parquet(s"$base/$table.parquet")
          .agg(max(col(c))).head().getLong(0) + 1L
      val offP = maxOf("part", "p_partkey")
      val offS = maxOf("supplier", "s_suppkey")
      val offC = maxOf("customer", "c_custkey")
      val offO = maxOf("orders", "o_orderkey")
      def replStar(table: String, shifts: Map[String, Long]): Unit = {
        val out = s"$big/$table.parquet"
        if (new java.io.File(out, "_SUCCESS").exists()) return
        val src = spark.read.parquet(s"$base/$table.parquet")
        val copies = spark.range(factor).select(col("id").as("__copy"))
        shifts.foldLeft(src.crossJoin(copies)) { (df, kv) =>
            df.withColumn(kv._1, col(kv._1) + col("__copy") * kv._2)
          }
          .drop("__copy").write.mode("overwrite").parquet(out)
      }
      replStar("lineitem",
        Map("l_orderkey" -> offO, "l_partkey" -> offP, "l_suppkey" -> offS))
      replStar("orders", Map("o_orderkey" -> offO, "o_custkey" -> offC))
      replStar("customer", Map("c_custkey" -> offC))
      replStar("part", Map("p_partkey" -> offP))
      replStar("supplier", Map("s_suppkey" -> offS))
      Seq("nation", "region").foreach { t =>
        val out = s"$big/$t.parquet"
        if (!new java.io.File(out, "_SUCCESS").exists())
          spark.read.parquet(s"$base/$t.parquet")
            .write.mode("overwrite").parquet(out)
      }
      val gql = """query diseaseAssociatedDrugs {
        disease(efoId: "DIS_BUILDING") {
          id name
          knownDrugs { count rows { phase target { id } } } } }"""
      var cnt1 = 0L
      Seq((base, "1x"), (big, s"${factor}x")).foreach { case (dir, tag) =>
        val kg = KnowledgeGraph(spark, dir, s"/tmp/graft_scale${factor}_kgidx_$tag")
        time(s"kg edge-index build $tag") { kg.knownDrugs.count() }
        var cnt = 0L
        var page: Seq[String] = Seq.empty
        time(s"graphql hub knownDrugs fold $tag") {
          val kd = GraphQl.execute(kg, gql).head().getStruct(2)
          cnt = kd.getLong(0)
          page = kd.getSeq[org.apache.spark.sql.Row](1)
            .map(_.getStruct(1).getString(0)).toSeq
          cnt
        }
        var want: Seq[String] = Seq.empty
        time(s"independent top-25 from edge index $tag") {
          want = kg.knownDrugs.filter(col("disease_id") === "DIS_BUILDING")
            .orderBy(col("drug_id"), col("target_id"))
            .limit(GraphQl.DefaultPageSize)
            .select("target_id").as[String].collect().toSeq
          want.size.toLong
        }
        time(s"graphql explicit page 4 of 10 $tag") {
          val kd = GraphQl.execute(kg,
            """{ disease(efoId: "DIS_BUILDING") {
                 knownDrugs(page: {index: 3, size: 10}) { rows { phase } } } }""")
            .head().getStruct(0)
          kd.getSeq[org.apache.spark.sql.Row](0).size.toLong
        }
        if (tag == "1x") cnt1 = cnt
        else println(s"[probe] graphql hub count exactly ${factor}x: " +
          s"${cnt == factor * cnt1} ($cnt vs $factor x $cnt1)")
        println(s"[probe] graphql $tag default page = head of full " +
          s"ordering: ${page == want} (count=$cnt, page=${page.size})")
      }
    }

    // RETRIEVAL TIER at factor× (the r8 verdict's ask): BM25's
    // doc-keyed shuffle, the PQ code scan + exact re-rank, and the
    // relation-only centroid pass — each with a correctness invariant
    // riding on the curve (replication makes the truth computable).
    if (section("retrieval")) {
      replicate("documents", Seq("doc_id"))
      replicate("embeddings", Seq("vec_id"))
      import graft.operators.{InvertedIndex, Similarity}
      val baseN = docs(base).agg(max(col("doc_id"))).head().getLong(0) + 1L
      val terms = Seq("dup", "spark", "window")
      def bm25(dir: String): Seq[Long] =
        InvertedIndex.bm25TopK(docs(dir), "doc_id", col("text"), terms, 10)
          .select("doc_id").as[Long].collect().toSeq
      var b1: Seq[Long] = Seq.empty; var bN: Seq[Long] = Seq.empty
      time("bm25TopK 1x")({ b1 = bm25(base); b1.size.toLong })
      time(s"bm25TopK ${factor}x")({ bN = bm25(big); bN.size.toLong })
      // twins of one base doc tie exactly, so every factor× hit must
      // collapse (mod baseN) to a base top-10 family
      val fams = b1.map(_ % baseN).toSet
      println(s"[probe] bm25 ${factor}x hits all in base top-10 families: " +
        s"${bN.forall(id => fams.contains(id % baseN))}")

      def confusion(dir: String): Map[(Int, Int), Long] =
        Similarity.nearestCentroidConfusion(emb(dir), "vec_id", "label", "embedding")
          .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      var c1: Map[(Int, Int), Long] = Map.empty
      var cN: Map[(Int, Int), Long] = Map.empty
      time("nearestCentroid 1x")({ c1 = confusion(base); c1.size.toLong })
      time(s"nearestCentroid ${factor}x")({ cN = confusion(big); cN.size.toLong })
      // twin centroids are identical, so every confusion cell scales
      // exactly factor×
      println(s"[probe] centroid confusion exactly ${factor}x: " +
        s"${c1.keySet == cN.keySet && c1.forall { case (k, n) => cN(k) == factor * n }}")
    }

    // dictionary tagging: one automaton scan — cost linear in corpus
    // bytes, independent of dictionary width. Invariants: factor×
    // clone stats are exactly factor× the 1× stats, and a 900-phrase
    // dictionary (every 2-word vocab pair) scans at the narrow-dict
    // cost with the narrow rows unchanged.
    if (section("tagging")) {
      replicate("documents", Seq("doc_id"))
      import graft.operators.Tagging
      val narrow = Seq("data", "data data", "the join", "spark",
        "query query", "window scan")
      val vocab = docs(base)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").count().orderBy(col("count").desc, col("w"))
        .limit(30).collect().map(_.getString(0)).toSeq
      val wide = (for (a <- vocab; b <- vocab) yield s"$a $b").distinct
      def stats(dir: String, ps: Seq[String]): Map[(String, String), (Long, Long)] =
        Tagging.patternStats(docs(dir), "lang", col("text"), ps)
          .collect()
          .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
          .toMap
      time("tagging warm")(stats(base, narrow).size.toLong)
      var s1: Map[(String, String), (Long, Long)] = Map.empty
      var sN: Map[(String, String), (Long, Long)] = Map.empty
      time("tagging 1x narrow")({ s1 = stats(base, narrow); s1.size.toLong })
      time(s"tagging ${factor}x narrow")({ sN = stats(big, narrow); sN.size.toLong })
      println(s"[probe] tagging stats exactly ${factor}x: " +
        s"${s1.keySet == sN.keySet && s1.forall { case (k, (o, h)) => sN(k) == ((o * factor, h * factor)) }}")
      var w1: Map[(String, String), (Long, Long)] = Map.empty
      time(s"tagging 1x dict=${wide.size}")({ w1 = stats(base, wide); w1.size.toLong })
      time(s"tagging ${factor}x dict=${wide.size}")(stats(big, wide).size.toLong)
      val narrowInWide = s1.keys.filter(k => wide.contains(k._2))
      println(s"[probe] narrow rows identical under wide dict: " +
        s"${narrowInWide.forall(k => w1.get(k) == s1.get(k))}")
    }

    // SQ8 persisted tier at factor×: index build is the one-off;
    // the serve reads ONLY the packed code column. Invariant: the
    // indexed ranking is bit-identical to the ad-hoc path.
    if (section("sq8")) {
      replicate("embeddings", Seq("vec_id"))
      import graft.operators.Similarity
      val idx = s"$big/sq8_idx_p100"
      time("sq8 build (one-off)")({
        Similarity.ensureSq8Index(emb(big), "vec_id", "embedding", idx); 1L })
      var adhoc: Seq[(Long, Long)] = Seq.empty
      var indexed: Seq[(Long, Long)] = Seq.empty
      time("sq8 ad-hoc query warm")(
        Similarity.sq8TopK(emb(base), "vec_id", "embedding", 0L, 10).count())
      time(s"sq8 ad-hoc query ${factor}x")({
        adhoc = Similarity.sq8TopK(emb(big), "vec_id", "embedding", 0L, 10)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        adhoc.size.toLong })
      time(s"sq8 indexed query ${factor}x")({
        indexed = Similarity.sq8TopKIndexed(spark, idx, "vec_id", 0L, 10)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        indexed.size.toLong })
      println(s"[probe] sq8 indexed == ad-hoc at ${factor}x: ${indexed == adhoc}")
      time(s"sq8 filtered query ${factor}x")(
        Similarity.sq8TopKFiltered(spark, idx, "vec_id",
          emb(big).filter(col("label") === 1).select(col("vec_id")),
          0L, 10).count())
    }

    // Naive Bayes at factor×: train once on the BASE corpus's even
    // ids (the model is corpus-shaped, not replica-shaped), score the
    // replicated odd ids. Cost must track the scored corpus linearly
    // (one broadcast-model join + one keyed argmin). Invariant riding
    // the curve: prediction is a pure function of (text, model), so
    // every clone's (predicted, score4) must EQUAL its original's —
    // the per-(lang, predicted) confusion counts at factor× are
    // exactly factor× the 1× counts.
    if (section("nb")) {
      replicate("documents", Seq("doc_id"))
      import graft.operators.NbClassify
      val train = docs(base).filter(col("doc_id") % 2 === 0)
      def confusion(dir: String): Map[(String, String), Long] = {
        val test = docs(dir).filter(col("doc_id") % 2 === 1)
        NbClassify.nbPredict(train, test, "doc_id", "lang", col("text"))
          .groupBy(col("lang"), col("predicted")).count()
          .collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      }
      time("nb warm")(confusion(base).size.toLong)
      var c1: Map[(String, String), Long] = Map.empty
      var cN: Map[(String, String), Long] = Map.empty
      time("nb train+score 1x")({ c1 = confusion(base); c1.size.toLong })
      time(s"nb train+score ${factor}x")({ cN = confusion(big); cN.size.toLong })
      // the replica offsets doc_ids, flipping some clones' parity —
      // an odd clone of an even original is NEW test data, so assert
      // the direction that must hold exactly: every 1x cell is
      // present and the total scales exactly with the replicated
      // odd-id population
      require(cN.keySet == c1.keySet,
        s"nb: replication changed the confusion key set: ${cN.keySet} vs ${c1.keySet}")
      val n1 = docs(base).filter(col("doc_id") % 2 === 1).count()
      val nN = docs(big).filter(col("doc_id") % 2 === 1).count()
      require(cN.values.sum == nN && c1.values.sum == n1,
        "nb: predictions lost rows")
      // exactness: copy 0 keeps the original ids, so the factor× run's
      // predictions restricted to the 1× odd ids must be IDENTICAL
      // rows (prediction is a pure function of (text, model))
      val maxBase = docs(base).agg(max(col("doc_id"))).head().getLong(0)
      def preds(dir: String, cap: Long): Map[Long, (String, Long)] =
        NbClassify.nbPredict(train,
            docs(dir).filter(col("doc_id") % 2 === 1 &&
              col("doc_id") <= cap),
            "doc_id", "lang", col("text"))
          .select("doc_id", "predicted", "score4")
          .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
          .toMap
      require(preds(big, maxBase) == preds(base, maxBase),
        "nb: copy-0 predictions diverged at scale")
      println(s"[probe] nb invariants: confusion key set stable, all $nN " +
        "scored rows accounted, copy-0 predictions identical — TRUE")
    }

    // Binary 1-bit tier at factor×: the smallest quantization member
    // (stage-1 scan reads ONE int64 word per 64-dim vector — 1/32 of
    // the float bytes, 1/8 of SQ8's). Invariant: the indexed two-stage
    // serve is bit-identical to the ad-hoc form at every factor.
    if (section("binary")) {
      replicate("embeddings", Seq("vec_id"))
      import graft.operators.Similarity
      val idx = s"$big/bin_idx_p100"
      time("binary build (one-off)")({
        Similarity.ensureBinaryIndex(emb(big), "vec_id", "embedding", idx); 1L })
      var adhoc: Seq[(Long, Double, Long)] = Seq.empty
      var indexed: Seq[(Long, Double, Long)] = Seq.empty
      time("binary ad-hoc query warm")(
        Similarity.binaryTopK(emb(base), "vec_id", "embedding", 0L, 10, 50).count())
      time(s"binary ad-hoc query ${factor}x")({
        adhoc = Similarity.binaryTopK(emb(big), "vec_id", "embedding", 0L, 10, 50)
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
        adhoc.size.toLong })
      time(s"binary indexed query ${factor}x")({
        indexed = Similarity.binaryTopKIndexed(spark, idx, emb(big), "vec_id",
            "embedding", 0L, 10, 50)
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
        indexed.size.toLong })
      println(s"[probe] binary indexed == ad-hoc at ${factor}x: " +
        s"${indexed == adhoc}")
      require(indexed == adhoc,
        s"binary indexed serve diverged at ${factor}x")
    }

    // Redaction at factor×: scan-bound like tagging (one automaton
    // pass + in-place rebuild, no shuffle at all). Invariant: clone
    // replicas redact to clone outputs — the distinct redacted-fp
    // count is IDENTICAL at 1× and factor× (ids differ, text doesn't).
    if (section("redact")) {
      replicate("documents", Seq("doc_id"))
      import graft.operators.Tagging
      val pats = Seq("data", "data data", "the join", "spark",
        "query query", "window scan")
      def fps(dir: String): (Long, Long) = {
        val r = Tagging.redactDocs(docs(dir), "doc_id", col("text"), pats, "[X]")
          .agg(countDistinct(md5(col("redacted"))).as("nfp"),
            sum(col("n_redactions").cast("long")).as("nred"))
          .head()
        (r.getLong(0), r.getLong(1))
      }
      time("redact warm")({ fps(base); 1L })
      var r1: (Long, Long) = (0L, 0L)
      var rN: (Long, Long) = (0L, 0L)
      time("redact 1x")({ r1 = fps(base); 1L })
      time(s"redact ${factor}x")({ rN = fps(big); 1L })
      println(s"[probe] redact invariants at ${factor}x: distinct-fp identical " +
        s"${r1._1 == rN._1}, total redactions exactly ${factor}x " +
        s"${rN._2 == r1._2 * factor}")
    }

    // Redaction under the 10^5-pattern blocklist (the ProbeTagging
    // dictionary: every four-word phrase over the top-18 corpus words)
    // at factor× — round 13 measured the COUNT side (patternStats) at
    // this width; this is the REWRITE side, whose per-row cost adds
    // the leftmost-longest interval walk and the string rebuild.
    // Invariants riding the curve: clone replicas redact to clone
    // outputs (distinct redacted-fp set identical at 1× and factor×)
    // and total redactions are exactly factor× the 1× count.
    if (section("redactwide")) {
      replicate("documents", Seq("doc_id"))
      import graft.operators.Tagging
      val v18 = docs(base)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").count().orderBy(col("count").desc, col("w"))
        .limit(18).collect().map(_.getString(0)).toSeq
      val huge = (for (a <- v18; b <- v18; c <- v18; d <- v18)
        yield s"$a $b $c $d").distinct
      println(s"[probe] redactwide dictionary: ${huge.size} patterns")
      def fpsWide(dir: String): (Long, Long) = {
        val r = Tagging.redactDocs(docs(dir), "doc_id", col("text"), huge, "[X]")
          .agg(countDistinct(md5(col("redacted"))).as("nfp"),
            sum(col("n_redactions").cast("long")).as("nred"))
          .head()
        (r.getLong(0), r.getLong(1))
      }
      time(s"redactwide warm dict=${huge.size}")({ fpsWide(base); 1L })
      var r1: (Long, Long) = (0L, 0L)
      var rN: (Long, Long) = (0L, 0L)
      time(s"redactwide 1x dict=${huge.size}")({ r1 = fpsWide(base); 1L })
      time(s"redactwide ${factor}x dict=${huge.size}")({ rN = fpsWide(big); 1L })
      println(s"[probe] redactwide invariants at ${factor}x: distinct-fp " +
        s"identical ${r1._1 == rN._1}, total redactions exactly ${factor}x " +
        s"${rN._2 == r1._2 * factor}")
      require(r1._1 == rN._1 && rN._2 == r1._2 * factor,
        s"redactwide invariants failed at ${factor}x: 1x=$r1 ${factor}x=$rN")
    }

    // PQ: index build is the one-off cost; the per-query cost is the
    // 8-int code scan + rerank-wide exact pass. Recall floor (≥6/10
    // vs exact L2, the q148 contract) must hold at factor×.
    if (section("retrieval")) {
      replicate("embeddings", Seq("vec_id"))
      import graft.functions.VecFns
      import graft.operators.Similarity
      val qv = emb(base).filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      val qn = qv.map(x => x.toDouble * x).sum
      def exactL2(dir: String): Seq[Long] = {
        val ql = typedlit(qv)
        emb(dir).filter(col("vec_id") =!= 0)
          .select(col("vec_id"),
            round(sqrt(VecFns.dot(col("embedding"), col("embedding"))
              - lit(2.0) * VecFns.dot(col("embedding"), ql) + lit(qn)), 6).as("l2"))
          .orderBy(col("l2").asc, col("vec_id").asc).limit(10)
          .select("vec_id").as[Long].collect().toSeq
      }
      val idx = s"/tmp/graft_scale${factor}_pq"
      deleteRec(new java.io.File(idx))
      time(s"pq index build ${factor}x") {
        Similarity.ensurePqIndex(emb(big), "vec_id", "embedding", 8, 16, idx); 1L
      }
      var pqN: Seq[Long] = Seq.empty
      time(s"pqTopK ${factor}x warm-index") {
        pqN = Similarity.pqTopK(spark, idx, emb(big), "vec_id", "embedding",
            qv, 10, rerank = 64, excludeId = 0L)
          .select("vec_id").as[Long].collect().toSeq
        pqN.size.toLong
      }
      var exN: Seq[Long] = Seq.empty
      time(s"exact L2 top-10 ${factor}x") {
        exN = exactL2(big); exN.size.toLong
      }
      val recall = pqN.toSet.intersect(exN.toSet).size
      println(s"[probe] pq recall at ${factor}x: $recall/10 (floor 6)")
    }

    spark.stop()
  }

  private def runTriangles(spark: SparkSession, base: String, factor: Int): Unit = {
    def time(name: String)(f: => Long): Double = {
      val t0 = System.nanoTime()
      val n = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $name%-40s $dt%9.2f s  rows=$n")
      try spark.catalog.clearCache() catch { case _: Throwable => }
      dt
    }
    def coEdges: DataFrame = {
      val part = spark.read.parquet(s"$base/part.parquet")
        .filter(col("p_size") <= 15).select(col("p_partkey"))
      val li = spark.read.parquet(s"$base/lineitem.parquet")
        .join(part, col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      Graphs.undirected(
        li.as("a").join(li.as("b"),
            col("a.o") === col("b.o") && col("a.p") < col("b.p"))
          .select(col("a.p").as("src"), col("b.p").as("dst")),
        "src", "dst")
    }
    var tri1 = 0L
    time("triangles 1x co-purchase") {
      tri1 = Graphs.triangleCount(coEdges).head().getLong(0); tri1
    }
    val maxId = coEdges.agg(max(greatest(col("u"), col("v")))).head().getLong(0)
    val offsets = spark.range(factor).select((col("id") * (maxId + 1)).as("__off"))
    var triN = 0L
    time(s"triangles ${factor}x disjoint") {
      triN = Graphs.triangleCount(
        coEdges.crossJoin(offsets)
          .select((col("u") + col("__off")).as("u"),
            (col("v") + col("__off")).as("v"))).head().getLong(0)
      triN
    }
    println(s"[probe] triangles exact ratio: ${triN == factor * tri1} " +
      s"($triN vs $factor x $tri1)")
  }
}
