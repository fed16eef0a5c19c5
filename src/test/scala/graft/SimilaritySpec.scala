package graft

import org.apache.spark.sql.functions._

import graft.functions.VecFns
import graft.operators.{Publish, Similarity}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private lazy val qvec: Array[Float] =
    emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray

  test("native cosine kernel agrees with the HOF composition") {
    val q = typedlit(qvec)
    val diff = emb.select(
      (VecFns.cosine(col("embedding"), q) - VecFns.cosineHof(col("embedding"), q))
        .as("d"))
      .agg(max(abs(col("d")))).as[Double].head()
    assert(diff < 1e-12, s"kernels disagree by $diff")
  }

  test("cosine of a vector with itself is 1") {
    val v = typedlit(qvec)
    val c = emb.limit(1).select(VecFns.cosine(v, v)).as[Double].head()
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("brute-force top-k is ordered and bounded") {
    val top = Similarity.bruteTopK(emb, "vec_id", "embedding", qvec, 10, excludeId = 0L)
      .as[(Long, Double)].collect()
    assert(top.length == 10)
    assert(top.map(_._2).toSeq == top.map(_._2).sorted(Ordering[Double].reverse).toSeq)
    assert(!top.map(_._1).contains(0L))
  }

  test("ANN top-k results are a high-recall subset of brute-force top-k") {
    val brute = Similarity.bruteTopK(emb, "vec_id", "embedding", qvec, 10, excludeId = 0L)
      .as[(Long, Double)].collect().map(_._1).toSet
    val ann = Similarity.annTopK(emb, "vec_id", "embedding", qvec, 10,
      numBits = 16, probeHamming = 6, excludeId = 0L)
      .as[(Long, Double)].collect().map(_._1).toSet
    // sf0.001 embeddings are weakly clustered (top cosine ≈ 0.4), the
    // hard regime for sign-LSH; recall here is deterministically 5/10
    // at probe radius 6. The tradeoff knob is probeHamming.
    assert((brute intersect ann).size >= 5, s"ANN recall ${(brute intersect ann).size}/10")
  }

  test("IVF top-k: exact within probed cells, decent recall vs brute") {
    val brute = Similarity.bruteTopK(emb, "vec_id", "embedding", qvec, 10, excludeId = 0L)
      .as[(Long, Double)].collect().map(_._1).toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", qvec, 10,
      nlist = 16, nprobe = 8, excludeId = 0L)
      .as[(Long, Double)].collect()
    assert(ivf.length == 10)
    // ordered desc, deterministic
    assert(ivf.map(_._2).toSeq == ivf.map(_._2).sorted(Ordering[Double].reverse).toSeq)
    val recall = (brute intersect ivf.map(_._1).toSet).size
    assert(recall >= 4, s"IVF recall $recall/10")
  }

  test("indexed IVF equals ad-hoc IVF and scans only probed partitions") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivf_spec").toString
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", nlist = 16, idx)
    val indexed = Similarity.ivfTopKIndexed(spark, idx, "vec_id", "embedding",
      qvec, 10, nprobe = 4, excludeId = 0L)
    val adhoc = Similarity.ivfTopK(emb, "vec_id", "embedding", qvec, 10,
      nlist = 16, nprobe = 4, excludeId = 0L)
    assert(indexed.as[(Long, Double)].collect().toSeq ==
      adhoc.as[(Long, Double)].collect().toSeq)
    // the probe filter must prune at directory level: the scan reads
    // nprobe of the nlist partitions, not the whole corpus
    indexed.collect()
    val scan = indexed.queryExecution.executedPlan.toString()
    assert(scan.contains("PartitionFilters"), s"no partition filter in:\n$scan")
    val pruned = "PartitionCount: (\\d+)".r.findFirstMatchIn(
      indexed.queryExecution.optimizedPlan.toString() + "\n" +
        indexed.queryExecution.executedPlan.toString())
    pruned.foreach(m => assert(m.group(1).toInt <= 4, s"scanned ${m.group(1)} partitions"))
  }

  test("appendIvfIndex: history untouched, batch assigned to nearest existing centroid") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_append_spec").toString + "/idx"
    val hist = emb.filter(col("vec_id") % 4 =!= 3)
    val batch = emb.filter(col("vec_id") % 4 === 3)
    Similarity.buildIvfIndex(hist, "vec_id", "embedding", nlist = 8, dir)
    val before = spark.read.parquet(s"$dir/vectors")
      .select("vec_id", "__cid").as[(Long, Int)].collect().toSet
    Similarity.appendIvfIndex(spark, dir, batch, "vec_id", "embedding")
    val after = spark.read.parquet(s"$dir/vectors")
      .select("vec_id", "__cid").as[(Long, Int)].collect().toSet
    // pre-append rows are bit-untouched; every corpus row present once
    assert(after.filter(r => r._1 % 4 != 3) == before)
    assert(after.size == emb.count())
    // every appended row sits in its argmax-cosine list under the
    // HISTORY-trained centroids (ties: max cid, mirroring nearestCid)
    val cents = spark.read.parquet(s"$dir/centroids")
    val expected = batch.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        struct(VecFns.cosine(col("embedding"), col("centroid")).as("s"),
          col("cid")).as("sc"))
      .groupBy("vec_id").agg(max(col("sc")).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"))
      .as[(Long, Int)].collect().toSet
    assert(after.filter(r => r._1 % 4 == 3) == expected)
    // the query path sees appended vectors through the same pruning
    val got = Similarity.ivfTopKIndexed(spark, dir, "vec_id", "embedding",
      qvec, k = emb.count().toInt, nprobe = 8, excludeId = 0L)
    assert(got.count() == emb.count() - 1, "full probe must see every vector")
  }

  test("hyperplane signature is deterministic across partitionings") {
    val a = emb.select(col("vec_id"), VecFns.hyperplaneSig(col("embedding")).as("s"))
      .orderBy("vec_id").collect().toSeq
    val b = emb.repartition(5)
      .select(col("vec_id"), VecFns.hyperplaneSig(col("embedding")).as("s"))
      .orderBy("vec_id").collect().toSeq
    assert(a == b)
  }

  test("knnJoin returns at most k neighbors per id, no self-pairs") {
    val knn = Similarity.knnJoin(emb.limit(100), "vec_id", "embedding", k = 3)
    val counts = knn.groupBy("id").agg(count(lit(1)).as("n"))
    assert(counts.filter(col("n") > 3).count() == 0)
    assert(knn.filter(col("id") === col("nn_id")).count() == 0)
  }

  test("hot signature band: AQE skew-splits knnJoin's band join, results stay exact") {
    // adversarial corpus for the VECTOR band join: 400 DISTINCT
    // vectors that are positive scalings of one direction — scaling
    // never flips a hyperplane sign, so every one carries the
    // IDENTICAL 16-bit signature and all four (band, bh) buckets are
    // maximally hot, while contraction cannot help (no two vectors
    // are equal). The clone discipline (DedupSpec's case) defends the
    // equal-vector corpus; THIS is the residual skew the band join
    // itself must survive via AQE, same as minhashCandidates.
    val base = qvec
    val hot = (0L until 400L).map { i =>
      (i, base.map(x => x * (1.0f + i * 0.001f)).toSeq)
    }
    // planted distinct tail so the join has non-hot keys too
    val rng = new scala.util.Random(7)
    val rest = (10000L until 10040L).map { i =>
      (i, Array.fill(base.length)(rng.nextFloat() - 0.5f).toSeq)
    }
    val skewed = (hot ++ rest).toDF("vec_id", "embedding")
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize",
      "spark.sql.adaptive.forceOptimizeSkewedJoin")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      // scale AQE's skew thresholds down to fixture size (at 100 TB
      // the defaults engage on the same shape) and force the
      // sort-merge path a real corpus would take
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1KB")
      conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      val knn = Similarity.knnJoin(skewed, "vec_id", "embedding", k = 3)
        .select("id", "nn_id", "cosine")
      val rows = knn.collect()
      val plan = knn.queryExecution.executedPlan.toString()
      assert(plan.contains("skew=true"),
        s"AQE did not skew-split the vector band join:\n${plan.take(3000)}")
      // exact under skew: parallel vectors have pairwise cosine 1.0,
      // so each hot member's top-3 (cosine desc, nn_id asc) is the 3
      // lowest OTHER hot ids, at cosine 1.0 after rounding
      val byId = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1)
      (0L until 400L).foreach { i =>
        val got = byId(i).map(m => (m._2, m._3)).sortBy(_._1).toSeq
        val want = (0L until 400L).filter(_ != i).take(3).map(j => (j, 1.0))
        assert(got == want, s"hot member $i: $got != $want")
      }
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("knnJoin vector contraction equals the uncontracted band join on clones") {
    // every vector cloned 3×: the regime where the uncontracted banded
    // self-join is quadratic in clone-cluster size. The reference is
    // the pre-contraction pipeline: band every row, self-join, exact
    // cosine, per-id top-k window.
    val base = emb.limit(200).select(col("vec_id"), col("embedding"))
    val emb3 = base
      .unionByName(base.select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
      .unionByName(base.select((col("vec_id") + 2000000).as("vec_id"), col("embedding")))
    val k = 3; val numBits = 16; val bands = 4; val seed = 42L
    val w = numBits / bands
    val mask = (1L << w) - 1L
    val sigged = emb3.select(col("vec_id").as("id"), col("embedding").as("v"),
      VecFns.hyperplaneSig(col("embedding"), numBits, seed).as("sig"))
    val banded = sigged.select(col("id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * w).bitwiseAND(lit(mask)).as("bh"))
      }: _*)).as("b"))
      .select(col("id"), col("b.band"), col("b.bh"))
    val vecs = sigged.select(col("id"), col("v"))
    val pairs = banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col("l.id") =!= col("r.id"))
      .select(col("l.id").as("id"), col("r.id").as("nn_id"))
      .distinct()
      .join(vecs.select(col("id"), col("v").as("va")), "id")
      .join(vecs.select(col("id").as("nn_id"), col("v").as("vb")), "nn_id")
      .withColumn("cosine", round(VecFns.cosine(col("va"), col("vb")), 6))
      .drop("va", "vb")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("cosine").desc, col("nn_id").asc)
    // explicit select: the USING joins moved the key columns to the
    // front, and the tuple decode is positional
    val reference = pairs.withColumn("__rn", row_number().over(win))
      .filter(col("__rn") <= k)
      .select(col("id"), col("nn_id"), col("cosine"))
      .as[(Long, Long, Double)].collect().toSet
    val contracted = Similarity.knnJoin(emb3, "vec_id", "embedding", k,
        numBits, bands, seed)
      .select(col("id"), col("nn_id"), col("cosine"))
      .as[(Long, Long, Double)].collect().toSet
    assert(contracted == reference)
    assert(contracted.nonEmpty)
  }

  test("crossKnnJoin contraction equals the uncontracted form on clones") {
    val qs0 = emb.limit(300).filter(col("vec_id") % 10 === 0)
    val corpus0 = emb.limit(300).filter(col("vec_id") % 10 =!= 0)
    // clone the corpus 3× and queries 2×
    val corpus3 = corpus0.select(col("vec_id"), col("embedding"))
      .unionByName(corpus0.select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
      .unionByName(corpus0.select((col("vec_id") + 2000000).as("vec_id"), col("embedding")))
    val qs2 = qs0.select(col("vec_id"), col("embedding"))
      .unionByName(qs0.select((col("vec_id") + 5000000).as("vec_id"), col("embedding")))
    val k = 2; val numBits = 16; val bands = 4; val seed = 42L
    val w = numBits / bands
    val mask = (1L << w) - 1L
    def sigged(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id").as("id"), col("embedding").as("v"),
        VecFns.hyperplaneSig(col("embedding"), numBits, seed).as("sig"))
    def bandedOf(df: org.apache.spark.sql.DataFrame) = sigged(df).select(col("id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * w).bitwiseAND(lit(mask)).as("bh"))
      }: _*)).as("b"))
      .select(col("id"), col("b.band"), col("b.bh"))
    val pairs = bandedOf(qs2).as("l")
      .join(bandedOf(corpus3).as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh"))
      .select(col("l.id").as("query_id"), col("r.id").as("nn_id"))
      .distinct()
      .join(sigged(qs2).select(col("id").as("query_id"), col("v").as("va")), "query_id")
      .join(sigged(corpus3).select(col("id").as("nn_id"), col("v").as("vb")), "nn_id")
      .withColumn("cosine", round(VecFns.cosine(col("va"), col("vb")), 6))
      .drop("va", "vb")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("nn_id").asc)
    val reference = pairs.withColumn("__rn", row_number().over(win))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("nn_id"), col("cosine"))
      .as[(Long, Long, Double)].collect().toSet
    val contracted = Similarity.crossKnnJoin(qs2, corpus3, "vec_id", "embedding",
        k, numBits, bands, seed)
      .select(col("query_id"), col("nn_id"), col("cosine"))
      .as[(Long, Long, Double)].collect().toSet
    assert(contracted == reference)
    assert(contracted.nonEmpty)
  }

  test("crossKnnJoin keeps sides apart, bounds k, and is partition-stable") {
    val qs = emb.filter(col("vec_id") % 10 === 0)
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val knn = Similarity.crossKnnJoin(qs, corpus, "vec_id", "embedding", k = 2)
    assert(knn.groupBy("query_id").agg(count(lit(1)).as("n"))
      .filter(col("n") > 2).count() == 0)
    assert(knn.filter(col("query_id") % 10 =!= 0).count() == 0)
    assert(knn.filter(col("nn_id") % 10 === 0).count() == 0)
    val again = Similarity.crossKnnJoin(qs.repartition(7), corpus.repartition(3),
      "vec_id", "embedding", k = 2)
    assert(knn.orderBy("query_id", "nn_id").collect().toSeq ==
      again.orderBy("query_id", "nn_id").collect().toSeq)
  }

  test("label centroids cover every (label, dim) with bounded values") {
    val c = Similarity.labelCentroids(emb, "label", "embedding")
    val labels = emb.select("label").distinct().count()
    assert(c.count() == labels * 64)
    assert(c.filter(abs(col("centroid")) > 1.0).count() == 0)
  }

  test("semanticDedup contraction equals the uncontracted sweep on clones + zero vectors") {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val base = emb.orderBy("vec_id").limit(150)
      .select(col("vec_id"), col("embedding"))
    // clone 3× and plant a clone-group of ZERO vectors (self-cosine 0:
    // clones must NOT drop each other there — the rep-level rule's
    // only branch point)
    val zeros = Seq(800000L, 800001L, 800002L)
      .toDF("vec_id")
      .withColumn("embedding", typedlit(Array.fill(dim)(0.0f)))
    val corpus = base
      .unionByName(base.select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
      .unionByName(base.select((col("vec_id") + 2000000).as("vec_id"), col("embedding")))
      .unionByName(zeros)
    val tau = 0.35; val nlist = 8
    // uncontracted reference: same centroids (training is untouched),
    // full pairwise within-cid sweep
    val contracted = Similarity.semanticDedup(corpus, "vec_id", "embedding",
        tau, nlist)
      .as[(Long, Int)].collect().toSet
    val referenceKept = {
      // recompute with the pre-round-8 shape: assign every ROW, drop b
      // iff some same-cid a < b is within tau
      val assigned = Similarity.semanticDedup(corpus, "vec_id", "embedding",
        tau = 2.0, nlist) // tau=2.0 drops nothing: yields (id, cid) for all
      val withV = assigned.join(
        corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      val dropped = withV.select(col("cid"), col("vec_id").as("id_a"), col("embedding").as("va"))
        .join(withV.select(col("cid"), col("vec_id").as("id_b"), col("embedding").as("vb")),
          Seq("cid"))
        .filter(col("id_a") < col("id_b"))
        .filter(round(graft.functions.VecFns.cosine(col("va"), col("vb")), 6) >= tau)
        .select(col("id_b").as("vec_id")).distinct()
      withV.join(dropped, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("cid"))
        .as[(Long, Int)].collect().toSet
    }
    assert(contracted == referenceKept)
    // the zero-vector clones never threaten each other: all three
    // survive unless a same-cid zero... cosine(0, x) = 0 < tau, so all
    // three must be in the survivor set
    assert(Seq(800000L, 800001L, 800002L).forall(id =>
      contracted.exists(_._1 == id)))
  }

  test("semanticDedup: survivors partition the corpus and obey the tau invariant") {
    val tau = 0.35
    val kept = Similarity.semanticDedup(emb, "vec_id", "embedding",
      tau = tau, nlist = 8)
    val n = emb.count(); val k = kept.count()
    assert(k >= 1 && k <= n)
    assert(kept.join(emb, Seq("vec_id"), "left_anti").count() == 0,
      "survivors are drawn from the corpus")
    assert(kept.select("vec_id").distinct().count() == k, "no duplicate survivors")
    // the greedy invariant: no two survivors of one cluster within tau
    val kv = kept.join(emb, Seq("vec_id"))
      .select(col("cid"), col("vec_id"), col("embedding"))
    val close = kv.select(col("cid"), col("vec_id").as("id_a"), col("embedding").as("ea"))
      .join(kv.select(col("cid"), col("vec_id").as("id_b"), col("embedding").as("eb")),
        Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(VecFns.cosine(col("ea"), col("eb")), 6) >= tau)
      .count()
    assert(close == 0, s"$close surviving same-cluster pairs within tau")
    // every dropped id has a smaller-id same-cluster witness within tau
    val all = emb.select(col("vec_id"), col("embedding"))
    val dropped = all.join(kept, Seq("vec_id"), "left_anti")
    val witnessed = dropped.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
      .join(all.select(col("vec_id").as("id_a"), col("embedding").as("ea")),
        col("id_a") < col("id_b"))
      .filter(round(VecFns.cosine(col("ea"), col("eb")), 6) >= tau)
      .select("id_b").distinct().count()
    assert(witnessed == n - k,
      "every dropped vector is within tau of some smaller-id vector")
    // re-evaluating the same plan yields the same survivor set
    val again = Similarity.semanticDedup(emb, "vec_id", "embedding",
      tau = tau, nlist = 8)
    assert(kept.orderBy("vec_id").collect().toSeq ==
      again.orderBy("vec_id").collect().toSeq)
  }

  test("PQ: rerank = n degenerates to the exact L2 scan") {
    // when every code row survives the ADC cut, the re-rank IS the
    // brute scan — the PQ result must EQUAL exact top-k, not merely
    // approximate it
    val dir = java.nio.file.Files.createTempDirectory("pqspec").toString
    val n = emb.count().toInt
    Similarity.buildPqIndex(emb, "vec_id", "embedding", numSub = 8, k = 16,
      s"$dir/idx")
    val got = Similarity.pqTopK(spark, s"$dir/idx", emb, "vec_id", "embedding",
        qvec, kOut = 10, rerank = n, excludeId = 0L)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val qn = qvec.map(x => x.toDouble * x).sum
    val exact = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), round(sqrt(
        VecFns.dot(col("embedding"), col("embedding"))
          - lit(2.0) * VecFns.dot(col("embedding"), typedlit(qvec)) + lit(qn)), 6)
        .as("l2"))
      .orderBy(col("l2").asc, col("vec_id").asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == exact)
  }

  test("PQ: codes are byte-ranged, encoding is deterministic across partitionings") {
    val books = Similarity.trainPqCodebooks(emb, "vec_id", "embedding", 8, 16)
    assert(books.size == 8 && books.forall(_.size == 16) &&
      books.forall(_.forall(_.length == 8)))
    def codesOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), Similarity.pqEncode(col("embedding"), books).as("c"))
        .orderBy("vec_id").as[(Long, Seq[Int])].collect().toSeq
    val a = codesOf(emb)
    val b = codesOf(emb.repartition(7))
    assert(a == b)
    assert(a.forall(_._2.forall(c => c >= 0 && c < 16)))
  }

  test("ivfDriftReport: fresh index is clean; a distribution-shifted append trips the receiving lists") {
    val dir = java.nio.file.Files.createTempDirectory("ivfdrift").toString + "/idx"
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", nlist = 16, dir)
    val fresh = Similarity.ivfDriftReport(spark, dir, "embedding").collect()
    assert(fresh.nonEmpty)
    assert(fresh.forall(!_.getBoolean(6)),
      s"fresh index flagged drift: ${fresh.filter(_.getBoolean(6)).toSeq}")
    // deltas are exactly zero on an untouched index (same rows, same
    // fixed-point agg as the build baseline)
    assert(fresh.forall(_.getLong(5) == 0L))
    // a NEW DATA MODE: every vector pushed hard along dim 0 crowds
    // into whichever frozen centroid points that way — occupancy
    // and/or residual must flag the receiving lists
    val shifted = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"),
        (x, i) => when(i === 0, x + lit(8.0f)).otherwise(x)).as("embedding"))
    Similarity.appendIvfIndex(spark, dir, shifted, "vec_id", "embedding")
    val rep = Similarity.ivfDriftReport(spark, dir, "embedding").collect()
    val flagged = rep.filter(_.getBoolean(6))
    assert(flagged.nonEmpty, s"shifted append not flagged: ${rep.toSeq}")
    // every flagged list actually received appends; unflagged lists
    // kept their baseline residual
    assert(flagged.forall(r => r.getLong(2) > r.getLong(1)),
      "a flagged list received no appends")
    // the report accounts for every indexed row
    assert(rep.map(_.getLong(2)).sum == emb.count() * 2)
  }

  test("SQ8 codes are int8-bounded and reconstruct within one step") {
    val scales = Similarity.sq8Scales(emb, "embedding")
    assert(scales.forall(_ >= 0.0))
    val rows = emb.select(
      Similarity.sq8Quantize(col("embedding"), scales).as("c"),
      col("embedding").cast("array<double>").as("x")).collect()
    for (r <- rows) {
      val c = r.getSeq[Long](0); val x = r.getSeq[Double](1)
      c.indices.foreach { d =>
        assert(math.abs(c(d)) <= 127, s"code out of int8 range: ${c(d)}")
        if (scales(d) > 0)
          assert(math.abs(c(d) * scales(d) / 127.0 - x(d)) <=
            scales(d) / 127.0 + 1e-12)
      }
    }
  }

  test("SQ8 top-k equals an explode-join recomputation; repartition-invariant") {
    val got = Similarity.sq8TopK(emb, "vec_id", "embedding", 0L, 10)
      .as[(Long, Long)].collect().toSeq
    assert(got.length == 10)
    val scales = Similarity.sq8Scales(emb, "embedding")
    val codes = emb.select(col("vec_id"),
      posexplode(Similarity.sq8Quantize(col("embedding"), scales))
        .as(Seq("dim", "code")))
    val q = codes.filter(col("vec_id") === 0)
      .select(col("dim"), col("code").as("qc"))
    val ref = codes.filter(col("vec_id") =!= 0).join(q, "dim")
      .groupBy("vec_id").agg(sum(col("code") * col("qc")).as("qscore"))
      .orderBy(col("qscore").desc, col("vec_id")).limit(10)
      .as[(Long, Long)].collect().toSeq
    assert(got == ref)
    val got2 = Similarity.sq8TopK(emb.repartition(7), "vec_id", "embedding", 0L, 10)
      .as[(Long, Long)].collect().toSeq
    assert(got2 == got)
  }

  test("SQ8 persisted index: indexed ranking is bit-identical to the ad-hoc form; scan is code-only") {
    val dir = java.nio.file.Files.createTempDirectory("sq8spec").toString + "/idx"
    Similarity.ensureSq8Index(emb, "vec_id", "embedding", dir)
    val adhoc = Similarity.sq8TopK(emb, "vec_id", "embedding", 0L, 10)
      .as[(Long, Long)].collect().toSeq
    val indexed = Similarity.sq8TopKIndexed(spark, dir, "vec_id", 0L, 10)
      .as[(Long, Long)].collect().toSeq
    assert(indexed == adhoc, s"indexed $indexed != ad-hoc $adhoc")
    // scales sidecar round-trips exactly
    assert(Similarity.readSq8Scales(spark, dir).toSeq ==
      Similarity.sq8Scales(emb, "embedding").toSeq)
    // the serving scan reads ONLY the code table — the float vector
    // column must appear nowhere in the plan (the 1/4-bytes claim)
    val plan = Similarity.sq8TopKIndexed(spark, dir, "vec_id", 0L, 10)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("embedding"),
      s"indexed scan touches the float tier:\n${plan.take(1500)}")
    // absent query ids fail loudly, not empty
    val e = intercept[IllegalArgumentException] {
      Similarity.sq8TopKIndexed(spark, dir, "vec_id", -999L, 5)
    }
    assert(e.getMessage.contains("not in index"))
  }

  test("SQ8 append: frozen-scale coding is bit-identical to coding the union; clipping batches rejected") {
    val dir = java.nio.file.Files.createTempDirectory("sq8append").toString + "/idx"
    Similarity.ensureSq8Index(emb, "vec_id", "embedding", dir)
    val scales = Similarity.readSq8Scales(spark, dir)
    // an in-range batch (scaled-down clones, fresh ids): appends as
    // exactly the direct quantization under the FROZEN scales
    val batch = emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x * 0.5f).as("embedding"))
    Similarity.appendSq8Index(spark, dir, batch, "vec_id", "embedding")
    assert(Similarity.readSq8Scales(spark, dir).toSeq == scales.toSeq,
      "append touched the scales sidecar")
    val got = spark.read.parquet(s"$dir/codes")
      .filter(col("vec_id") >= 100000L)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val want = batch.select(col("vec_id"),
        graft.functions.VecFns.packInt8(
          Similarity.sq8Quantize(col("embedding"), scales)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(got == want)
    // a batch that would clip the frozen scales is rejected loudly
    // BEFORE any file is written (fresh id — the clip guard is the
    // single violation under test; the id guard has its own case)
    val hot = emb.filter(col("vec_id") === 0).select(
      (col("vec_id") + 900000L).as("vec_id"),
      transform(col("embedding"), x => x * 1000.0f).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.appendSq8Index(spark, dir, hot, "vec_id", "embedding")
    }
    assert(e.getMessage.contains("codes would clip"))
    assert(spark.read.parquet(s"$dir/codes")
      .filter(col("vec_id") >= 100000L).count() == 50,
      "rejected append left partial files")
    // a replayed batch (ids already in the code table) is rejected
    // loudly — silent duplication would let every serve path return
    // the same nn_id twice
    val replay = intercept[IllegalArgumentException] {
      Similarity.appendSq8Index(spark, dir, batch, "vec_id", "embedding")
    }
    assert(replay.getMessage.contains("id spaces must be disjoint"))
    assert(spark.read.parquet(s"$dir/codes")
      .filter(col("vec_id") >= 100000L).count() == 50,
      "rejected replay left partial files")
  }

  test("SQ8 retrieve+rerank: full-width rerank equals brute cosine top-k; k<=rerank enforced") {
    val dir = java.nio.file.Files.createTempDirectory("sq8rr").toString + "/idx"
    Similarity.ensureSq8Index(emb, "vec_id", "embedding", dir)
    val n = emb.count().toInt
    // with rerank = the whole corpus, stage 1 is a no-op filter and
    // the re-rank must reproduce the exact brute-force cosine top-k
    val got = Similarity.sq8TopKReranked(spark, dir, emb, "vec_id", "embedding",
        0L, k = 10, rerank = n - 1)
      .select("vec_id", "cosine").as[(Long, Double)].collect().toSeq
    val brute = Similarity.bruteTopK(emb, "vec_id", "embedding", qvec, 10,
        excludeId = 0L)
      .as[(Long, Double)].collect().toSeq
    assert(got == brute, s"rerank diverged from brute: $got vs $brute")
    // a narrow rerank still returns k rows in rounded-cosine order
    val narrow = Similarity.sq8TopKReranked(spark, dir, emb, "vec_id",
        "embedding", 0L, k = 5, rerank = 20)
      .select("cosine").as[Double].collect().toSeq
    assert(narrow.length == 5 &&
      narrow == narrow.sorted(Ordering[Double].reverse))
    intercept[IllegalArgumentException] {
      Similarity.sq8TopKReranked(spark, dir, emb, "vec_id", "embedding",
        0L, k = 10, rerank = 5)
    }
  }

  test("IVF-SQ8 composed index: full probe degenerates to the exact SQ8 ranking; pruned scan stays in probed lists") {
    val dir = java.nio.file.Files.createTempDirectory("ivfsq8").toString + "/idx"
    Similarity.ensureIvfSq8Index(emb, "vec_id", "embedding", nlist = 16, dir)
    // nprobe = nlist means no pruning at all: the composed ranking
    // must equal the ad-hoc full-corpus SQ8 ranking bit for bit
    val full = Similarity.ivfSq8TopK(spark, dir, "vec_id", qvec, 10,
        nprobe = 16, excludeId = 0L)
      .as[(Long, Long)].collect().toSeq
    val adhoc = Similarity.sq8TopK(emb, "vec_id", "embedding", 0L, 10)
      .as[(Long, Long)].collect().toSeq
    assert(full == adhoc, s"full-probe composed ranking != sq8TopK: $full vs $adhoc")
    // a pruned query only returns ids from the probed partitions, and
    // its scores are per-rank dominated by the unpruned ranking
    val pruned = Similarity.ivfSq8TopK(spark, dir, "vec_id", qvec, 10,
        nprobe = 2, excludeId = 0L)
      .as[(Long, Long)].collect().toSeq
    assert(pruned.nonEmpty && pruned.size <= 10)
    pruned.map(_._2).zip(adhoc.map(_._2)).foreach { case (p, f) =>
      assert(p <= f, s"pruned score $p beats unpruned $f")
    }
    val codes = spark.read.parquet(s"$dir/codes")
    val prunedIds = pruned.map(_._1).toSet
    val allIds = codes.select("vec_id").as[Long].collect().toSet
    assert(prunedIds.subsetOf(allIds))
    // the code table stores binary codes, not floats
    assert(!codes.schema.fieldNames.contains("embedding"))
  }

  test("SQ8 filtered search: pre-filter semantics match a filtered explode-join recompute") {
    val dir = java.nio.file.Files.createTempDirectory("sq8filt").toString + "/idx"
    Similarity.ensureSq8Index(emb, "vec_id", "embedding", dir)
    val ids1 = emb.filter(col("label") === 1).select(col("vec_id"))
    val got = Similarity.sq8TopKFiltered(spark, dir, "vec_id", ids1, 0L, 10)
      .as[(Long, Long)].collect().toSeq
    // reference: quantize under the CORPUS scales, rank only label-1
    val scales = Similarity.sq8Scales(emb, "embedding")
    val codes = emb.select(col("vec_id"), col("label"),
      posexplode(Similarity.sq8Quantize(col("embedding"), scales))
        .as(Seq("dim", "code")))
    val q = codes.filter(col("vec_id") === 0)
      .select(col("dim"), col("code").as("qc"))
    val ref = codes.filter(col("vec_id") =!= 0 && col("label") === 1)
      .join(q, "dim")
      .groupBy("vec_id").agg(sum(col("code") * col("qc")).as("qscore"))
      .orderBy(col("qscore").desc, col("vec_id")).limit(10)
      .as[(Long, Long)].collect().toSeq
    assert(got == ref, s"filtered ranking diverged: $got vs $ref")
    val lbl = emb.select(col("vec_id"), col("label"))
      .as[(Long, Int)].collect().toMap
    assert(got.forall { case (id, _) => lbl(id) == 1 })
  }

  test("IVF-SQ8 append: frozen-sidecar coding equals a union rebuild; clipping rejected") {
    val dir = java.nio.file.Files.createTempDirectory("ivfsq8app").toString + "/idx"
    Similarity.ensureIvfSq8Index(emb, "vec_id", "embedding", nlist = 16, dir)
    val before = spark.read.parquet(s"$dir/codes").count()
    val batch = emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x * 0.5f).as("embedding"))
    Similarity.appendIvfSq8Index(spark, dir, batch, "vec_id", "embedding")
    val codes = spark.read.parquet(s"$dir/codes")
    assert(codes.count() == before + 50)
    // appended rows carry the same (cid, codes) a from-scratch pass
    // under the SAME sidecars would produce
    val cents = spark.read.parquet(s"$dir/centroids")
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Float](1).toArray).toSeq
    val scales = Similarity.readSq8Scales(spark, dir)
    val want = batch.select(col("vec_id"),
        graft.functions.VecFns.packInt8(
          Similarity.sq8Quantize(col("embedding"), scales)).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val got = codes.filter(col("vec_id") >= 100000L)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(got == want)
    assert(cents.size == 16)
    // a full-probe query sees the appended rows (their halved vectors
    // never outrank vec 0's own neighborhood top-1, but membership in
    // the scanned relation is what the partition append must provide)
    val ids = Similarity.ivfSq8TopK(spark, dir, "vec_id", qvec,
        k = codes.count().toInt - 1, nprobe = 16, excludeId = 0L)
      .select("vec_id").as[Long].collect().toSet
    assert(got.keySet.subsetOf(ids))
    // fresh id: the clip guard is the single violation under test
    val hot = emb.filter(col("vec_id") === 0).select(
      (col("vec_id") + 900000L).as("vec_id"),
      transform(col("embedding"), x => x * 1000.0f).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.appendIvfSq8Index(spark, dir, hot, "vec_id", "embedding")
    }
    assert(e.getMessage.contains("codes would clip"))
    // replayed ids rejected (the appendSq8Index / appendPostings rule)
    val replay = intercept[IllegalArgumentException] {
      Similarity.appendIvfSq8Index(spark, dir, batch, "vec_id", "embedding")
    }
    assert(replay.getMessage.contains("id spaces must be disjoint"))
    // an external query whose |x_d| exceeds the frozen scale would
    // code outside int8 — rejected loudly, never byte-wrapped
    val hotQ = qvec.map(_ * 1000.0f)
    val wrap = intercept[IllegalArgumentException] {
      Similarity.ivfSq8TopK(spark, dir, "vec_id", hotQ, 5, nprobe = 16)
    }
    assert(wrap.getMessage.contains("outside int8"))
  }

  test("SQ8 batch serve: per-probe groups equal single-probe indexed queries; absent probes loud") {
    val dir = java.nio.file.Files.createTempDirectory("sq8batch").toString + "/idx"
    Similarity.ensureSq8Index(emb, "vec_id", "embedding", dir)
    val probes = Seq(0L, 7L, 13L)
    val got = Similarity.sq8TopKBatch(spark, dir, "vec_id", probes, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(t => (-t._3, t._2)).map(t => (t._2, t._3)).toSeq).toMap
    probes.foreach { q =>
      val single = Similarity.sq8TopKIndexed(spark, dir, "vec_id", q, 4)
        .as[(Long, Long)].collect().toSeq
      assert(got(q) == single, s"batch group $q != single query: ${got(q)} vs $single")
    }
    val e = intercept[IllegalArgumentException] {
      Similarity.sq8TopKBatch(spark, dir, "vec_id", Seq(0L, -42L), k = 2)
    }
    assert(e.getMessage.contains("probe ids"))
    intercept[IllegalArgumentException] {
      Similarity.sq8TopKBatch(spark, dir, "vec_id",
        (0L until Similarity.MaxSq8Batch + 1L).toSeq, k = 2)
    }
  }

  test("SQ8 pack/dot kernels: exact with negatives; loud on range and width violations") {
    import graft.functions.VecFns
    val packed = Seq((1L, Seq(1L, -127L, 127L)), (2L, Seq(0L, 5L, -3L)))
      .toDF("id", "c").select(col("id"), VecFns.packInt8(col("c")).as("b"))
    val d = packed.as("x").crossJoin(packed.as("y"))
      .filter(col("x.id") === 1 && col("y.id") === 2)
      .select(VecFns.sq8Dot(col("x.b"), col("y.b"))).head().getLong(0)
    assert(d == 1L * 0 + -127L * 5 + 127L * -3, s"dot $d")
    val range = intercept[Exception] {
      Seq(Seq(128L)).toDF("c").select(VecFns.packInt8(col("c"))).collect()
    }
    assert(range.getMessage != null && findCause(range, "outside int8"),
      s"range violation not loud: $range")
    val width = intercept[Exception] {
      Seq((Seq(1L, 2L), Seq(1L, 2L, 3L))).toDF("a", "b")
        .select(VecFns.sq8Dot(VecFns.packInt8(col("a")),
          VecFns.packInt8(col("b")))).collect()
    }
    assert(findCause(width, "width mismatch"), s"width violation not loud: $width")
  }

  private def findCause(e: Throwable, needle: String): Boolean = {
    var t: Throwable = e
    while (t != null) {
      if (String.valueOf(t.getMessage).contains(needle)) return true
      t = t.getCause
    }
    false
  }

  test("negative mining: labels differ; per-probe rows match the filtered batch scan") {
    val probes = emb.filter(col("vec_id") % 100 === 0)
    val got = Similarity.negativeMining(probes, emb, "vec_id", "embedding",
      "label", 3).collect()
    val plab = probes.select(col("vec_id"), col("label"))
      .as[(Long, Int)].collect().toMap
    got.foreach(r => assert(r.getInt(2) != plab(r.getLong(0)),
      s"probe ${r.getLong(0)} mined a same-label negative"))
    for ((qid, ql) <- plab) {
      val ref = Similarity.bruteTopKBatch(
          probes.filter(col("vec_id") === qid),
          emb.filter(col("label") =!= ql), "vec_id", "embedding", 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val g = got.filter(_.getLong(0) == qid)
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
      assert(g == ref, s"probe $qid mismatch")
    }
  }

  test("PQ ADC scan has useful recall on the fixture corpus") {
    val dir = java.nio.file.Files.createTempDirectory("pqspec2").toString
    Similarity.buildPqIndex(emb, "vec_id", "embedding", 8, 16, s"$dir/idx")
    val got = Similarity.pqTopK(spark, s"$dir/idx", emb, "vec_id", "embedding",
        qvec, kOut = 10, rerank = 50, excludeId = 0L)
      .collect().map(_.getLong(0)).toSet
    val qn = qvec.map(x => x.toDouble * x).sum
    val exact = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), (VecFns.dot(col("embedding"), col("embedding"))
        - lit(2.0) * VecFns.dot(col("embedding"), typedlit(qvec)) + lit(qn)).as("d"))
      .orderBy(col("d").asc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSet
    assert(exact.intersect(got).size >= 5)
  }

  test("mmrTopK defers an exact clone of the top pick (hand case)") {
    // q = (1,0); id1 = (1,0) rel 1e6, id9 = its exact clone, id2 =
    // (0.8,0.6) rel 800000 with sim(id2,id1) = 800000 exactly. Greedy:
    // pick1 = id1 (rel tie with id9 -> smaller id); pick2 ties at
    // score 0 between id9 (1e6 - 1e6) and id2 (800000 - 800000) ->
    // smaller id wins: the DIVERSE id2 ranks above the clone.
    val df = Seq(
      (1L, Array(1.0f, 0.0f)),
      (9L, Array(1.0f, 0.0f)),
      (2L, Array(0.8f, 0.6f))).toDF("vec_id", "embedding")
    val got = Similarity.mmrTopK(df, "vec_id", "embedding",
        Array(1.0f, 0.0f), k = 3, poolN = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1, 1L, 1000000L, 1000000L),
      (2, 2L, 800000L, 0L),
      (3, 9L, 1000000L, 0L)))
  }

  test("mmrTopK pool cut restricts selection to the poolN most relevant") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f)),
      (9L, Array(1.0f, 0.0f)),
      (2L, Array(0.8f, 0.6f))).toDF("vec_id", "embedding")
    val got = Similarity.mmrTopK(df, "vec_id", "embedding",
        Array(1.0f, 0.0f), k = 2, poolN = 2)
      .collect().map(_.getLong(1)).toSeq
    // pool by rel desc, id asc = {1, 9}; id2 never enters
    assert(got == Seq(1L, 9L))
  }

  test("negative mining: NULL labels never pair, on either side") {
    // c3 (NULL label) is closest to probe p1 but must never surface;
    // the NULL-label probe p2 mines nothing at all
    val corpus = Seq(
      (11L, Array(1.0f, 0.0f), "a"),
      (12L, Array(0.6f, 0.8f), "b"),
      (13L, Array(0.99f, 0.14f), null)).toDF("vec_id", "embedding", "label")
    val probes = Seq(
      (1L, Array(1.0f, 0.0f), "a"),
      (2L, Array(1.0f, 0.0f), null)).toDF("vec_id", "embedding", "label")
    val got = Similarity.negativeMining(probes, corpus, "vec_id", "embedding",
        "label", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 12L)),
      s"NULL-label rows leaked into the mined negatives: $got")
    // the documented workaround: an explicit sentinel label opts
    // unlabeled corpus rows back in
    val sentinel = Similarity.negativeMining(probes.filter(col("vec_id") === 1),
        corpus.withColumn("label", coalesce(col("label"), lit("__unlabeled"))),
        "vec_id", "embedding", "label", 3)
      .collect().map(_.getLong(1)).toSet
    assert(sentinel == Set(12L, 13L))
  }

  test("mmrTopK rejects a pool above MaxMmrPool loudly") {
    val e = intercept[IllegalArgumentException] {
      Similarity.mmrTopK(emb, "vec_id", "embedding", qvec,
        k = 5, poolN = Similarity.MaxMmrPool + 1)
    }
    assert(e.getMessage.contains("MaxMmrPool"))
    // the boundary itself is accepted (pool caps at corpus size)
    assert(Similarity.mmrTopK(emb.limit(3), "vec_id", "embedding", qvec,
      k = 1, poolN = Similarity.MaxMmrPool).count() == 1)
  }

  test("mmrTopK caps at corpus size and is deterministic on the fixture") {
    val small = emb.limit(2)
    assert(Similarity.mmrTopK(small, "vec_id", "embedding", qvec,
      k = 5, poolN = 5).count() == 2)
    def run(): Seq[(Int, Long, Long, Long)] =
      Similarity.mmrTopK(emb, "vec_id", "embedding", qvec, k = 5,
          poolN = 16, excludeId = 0L)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(run() == run())
  }

  test("binary codes: packing matches a per-dim bit recompute; width and partitioning invariant") {
    val thr = Similarity.binThresholds(emb, "embedding")
    val dim = emb.select(size(col("embedding"))).as[Int].head()
    assert(thr.length == dim)
    val codes = emb.select(col("vec_id"),
        Similarity.binQuantize(col("embedding"), thr).as("code"))
    assert(codes.select(size(col("code"))).distinct().as[Int].collect().toSeq ==
      Seq((dim + 63) / 64))
    // hamming over packed words == per-dimension bit-difference count
    val q = emb.filter(col("vec_id") === 0)
      .select(Similarity.binQuantize(col("embedding"), thr)).head().getSeq[Long](0)
    val packed = codes
      .select(col("vec_id"), Similarity.binHamming(col("code"), typedlit(q)).as("h"))
      .as[(Long, Long)].collect().toMap
    val perDim = emb.select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("d", "x")))
      .withColumn("bit", when(col("x") > element_at(typedlit(thr.toSeq),
        col("d") + 1), 1L).otherwise(0L))
      .groupBy("vec_id").agg(collect_list(struct(col("d"), col("bit"))).as("bs"))
      .as[(Long, Seq[(Int, Long)])].collect()
      .map { case (id, bs) =>
        val bits = bs.sortBy(_._1).map(_._2)
        val qBits = (0 until dim).map(d => (q(d / 64) >>> (d % 64)) & 1L)
        id -> bits.zip(qBits).count { case (a, b) => a != b }.toLong
      }.toMap
    assert(packed == perDim)
    // deterministic across partitionings
    val thr2 = Similarity.binThresholds(emb.repartition(7), "embedding")
    assert(thr2.toSeq == thr.toSeq)
  }

  test("binary two-stage serve: full-width rerank equals brute cosine top-k; indexed bit-identical to ad-hoc") {
    val n = emb.count().toInt
    val got = Similarity.binaryTopK(emb, "vec_id", "embedding", 0L,
        k = 10, rerank = n - 1)
      .select("vec_id", "cosine").as[(Long, Double)].collect().toSeq
    val brute = Similarity.bruteTopK(emb, "vec_id", "embedding", qvec, 10,
        excludeId = 0L)
      .as[(Long, Double)].collect().toSeq
    assert(got == brute, s"full-width rerank diverged from brute: $got vs $brute")
    val dir = java.nio.file.Files.createTempDirectory("binspec").toString + "/idx"
    Similarity.ensureBinaryIndex(emb, "vec_id", "embedding", dir)
    assert(Similarity.readBinThresholds(spark, dir).toSeq ==
      Similarity.binThresholds(emb, "embedding").toSeq)
    val adhoc = Similarity.binaryTopK(emb, "vec_id", "embedding", 0L, 10, 50)
      .as[(Long, Double, Long)].collect().toSeq
    val indexed = Similarity.binaryTopKIndexed(spark, dir, emb, "vec_id",
        "embedding", 0L, 10, 50)
      .as[(Long, Double, Long)].collect().toSeq
    assert(indexed == adhoc, s"indexed $indexed != ad-hoc $adhoc")
    // recall floor, deterministic on the fixture: sf0.001 embeddings
    // are weakly clustered (top cosine ≈ 0.4 — the annTopK note), the
    // hostile regime for 1-bit codes; rerank width is the repair knob
    // (the full-width assertion above proves the mechanism exact).
    val recall = (brute.map(_._1).toSet & adhoc.map(_._1).toSet).size
    assert(recall >= 3, s"binary stage-1 recall $recall/10 at rerank=50")
    // absent query ids fail loudly, not empty
    val e = intercept[IllegalArgumentException] {
      Similarity.binaryTopKIndexed(spark, dir, emb, "vec_id", "embedding",
        -999L, 5, 10)
    }
    assert(e.getMessage.contains("not in index"))
    intercept[IllegalArgumentException] {
      Similarity.binaryTopK(emb, "vec_id", "embedding", 0L, k = 10, rerank = 5)
    }
  }

  test("JL projection: engine output equals an independent local recompute; deterministic; useful recall") {
    val dim = 64; val out = 16; val seed = 7L
    // independent local recompute of one vector's projection (md5
    // sign device + 1e-6 quantization, reimplemented here from the
    // definition, not by calling the operator's helper)
    def sign(d: Int, j: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"jl_${seed}_${d}_${j}".getBytes("UTF-8"))
      val hex = "%02x".format(h(0)).charAt(0)
      if ("02468ace".indexOf(hex) >= 0) 1L else -1L
    }
    def projLocal(v: Array[Float]): Seq[Long] = {
      val q = v.map(x => math.round(x.toDouble * 1e6))
      (0 until out).map(j => (0 until dim).map(d => q(d) * sign(d, j)).sum)
    }
    val got = emb.filter(col("vec_id") === 0)
      .select(Similarity.randomProject(col("embedding"), dim, out, seed))
      .head().getSeq[Long](0)
    assert(got == projLocal(qvec), s"projection mismatch: $got")
    // deterministic across partitionings
    def top(): Seq[(Long, Long)] =
      Similarity.projectedTopK(emb.repartition(7), "vec_id", "embedding",
        dim, out, seed, 0L, 10).as[(Long, Long)].collect().toSeq
    val t1 = top()
    assert(t1 == top())
    assert(t1.map(_._2) == t1.map(_._2).sorted)
    // JL fidelity on the fixture, measured the way the tier is USED:
    // a 50-wide projected candidate cut + exact cosine re-rank (the
    // q228 shape). The RAW projected top-10 order is scrambled at
    // 64->16 (ε≈0.57 — measured 1/10 here; that is JL math on weakly-
    // clustered data, not a bug), which is exactly why the product is
    // the candidate-generator composition.
    val cands = Similarity.projectedTopK(emb, "vec_id", "embedding",
        dim, out, seed, 0L, 50)
      .select("vec_id").as[Long].collect().toSet
    val brute = Similarity.bruteTopK(emb, "vec_id", "embedding", qvec, 10,
      excludeId = 0L).as[(Long, Double)].collect().map(_._1).toSet
    val recall = (brute & cands).size
    assert(recall >= 5, s"reranked-window recall $recall/10 at 64->16, width 50")
  }

  test("binary append: frozen-threshold coding bit-identical to direct quantization; dim mismatch and replay rejected") {
    val dir = java.nio.file.Files.createTempDirectory("binappend").toString + "/idx"
    Similarity.ensureBinaryIndex(emb, "vec_id", "embedding", dir)
    val thr = Similarity.readBinThresholds(spark, dir)
    val batch = emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x * 2.0f).as("embedding"))
    Similarity.appendBinaryIndex(spark, dir, batch, "vec_id", "embedding")
    assert(Similarity.readBinThresholds(spark, dir).toSeq == thr.toSeq,
      "append touched the thresholds sidecar")
    val got = spark.read.parquet(s"$dir/codes")
      .filter(col("vec_id") >= 100000L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val want = batch.select(col("vec_id"),
        Similarity.binQuantize(col("embedding"), thr).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got == want)
    // a batch from a different embedding space is rejected loudly
    // (fresh ids — the dim guard is the single violation under test)
    val narrow = batch.select((col("vec_id") + 800000L).as("vec_id"),
      slice(col("embedding"), 1, 8).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.appendBinaryIndex(spark, dir, narrow, "vec_id", "embedding")
    }
    assert(e.getMessage.contains("not the same embedding space"))
    // a replayed batch is rejected loudly
    val replay = intercept[IllegalArgumentException] {
      Similarity.appendBinaryIndex(spark, dir, batch, "vec_id", "embedding")
    }
    assert(replay.getMessage.contains("id spaces must be disjoint"))
    assert(spark.read.parquet(s"$dir/codes")
      .filter(col("vec_id") >= 100000L).count() == 50,
      "rejected append left partial files")
  }

  /** Path -> md5 for every parquet data file under a directory tree —
    * the byte-identity witness the maintenance-path specs pin.
    */
  private def dirSig(p: String): Map[String, String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).flatMap(walk).toSeq
      else Seq(f)
    walk(new java.io.File(p)).filter(_.getName.endsWith(".parquet")).map { f =>
      val md = java.security.MessageDigest.getInstance("MD5")
      f.getPath ->
        md.digest(java.nio.file.Files.readAllBytes(f.toPath))
          .map("%02x".format(_)).mkString
    }.toMap
  }

  test("PQ append: frozen-codebook coding equals a union rebuild; pre-append files untouched; mismatches rejected") {
    val dir = java.nio.file.Files.createTempDirectory("pqappend").toString + "/idx"
    val baseE = emb.filter(col("vec_id") % 4 =!= 3)
    val batch = emb.filter(col("vec_id") % 4 === 3)
    Similarity.buildPqIndex(baseE, "vec_id", "embedding", numSub = 8, k = 16, dir)
    val booksBefore = spark.read.parquet(s"$dir/codebooks")
      .collect().map(_.toString).sorted.toSeq
    val sigBefore = dirSig(s"$dir/codes")
    Similarity.appendPqIndex(spark, dir, batch, "vec_id", "embedding")
    // the codebook sidecar is untouched
    assert(spark.read.parquet(s"$dir/codebooks")
      .collect().map(_.toString).sorted.toSeq == booksBefore,
      "append touched the codebooks sidecar")
    // pre-append code files are byte-identical — append only ADDS
    val sigAfter = dirSig(s"$dir/codes")
    assert(sigBefore.forall { case (p, h) => sigAfter.get(p).contains(h) },
      "append rewrote a pre-existing code file")
    assert(sigAfter.size > sigBefore.size, "append added no files")
    // the appended table equals encoding the UNION under the frozen
    // codebooks — pqEncode is a pure function of (vector, books)
    val books = Similarity.readPqCodebooks(spark, dir)
    val got = spark.read.parquet(s"$dir/codes")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val want = emb.select(col("vec_id"),
        Similarity.pqEncode(col("embedding"), books).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got == want)
    // the serve path works off the appended index and can surface an
    // appended id
    val q3 = emb.filter(col("vec_id") === 3).select("embedding")
      .head().getSeq[Float](0).toArray
    val served = Similarity.pqTopK(spark, dir, emb, "vec_id", "embedding",
      q3, kOut = 10, rerank = 100, excludeId = 3L).collect()
    assert(served.length == 10)
    // a batch from a different embedding space is rejected loudly
    val wide = batch.select((col("vec_id") + 500000L).as("vec_id"),
      concat(col("embedding"), array(lit(0.0f))).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.appendPqIndex(spark, dir, wide, "vec_id", "embedding")
    }
    assert(e.getMessage.contains("not the same embedding space"))
    // a replayed batch is rejected loudly
    val replay = intercept[IllegalArgumentException] {
      Similarity.appendPqIndex(spark, dir, batch, "vec_id", "embedding")
    }
    assert(replay.getMessage.contains("id spaces must be disjoint"))
    assert(dirSig(s"$dir/codes") == sigAfter,
      "rejected appends left partial files")
  }

  test("rebuildIvfLists: only flagged directories rewritten; members conserved; drift report comes back clean") {
    val dir = java.nio.file.Files.createTempDirectory("ivfreb").toString + "/idx"
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", nlist = 16, dir)
    // the q213 drift fixture: a shifted mode crowds into frozen lists
    val shifted = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"),
        (x, i) => when(i === 0, x + lit(8.0f)).otherwise(x)).as("embedding"))
    Similarity.appendIvfIndex(spark, dir, shifted, "vec_id", "embedding")
    val flagged = Similarity.ivfDriftReport(spark, dir, "embedding")
      .filter(col("drifted")).select(col("cid").cast("int"))
      .as[Int].collect().toSeq.sorted
    assert(flagged.nonEmpty)
    val allCids = Similarity.ivfDriftReport(spark, dir, "embedding")
      .select(col("cid").cast("int")).as[Int].collect().toSet
    val untouchedSigs = (allCids -- flagged.toSet).map { c =>
      c -> dirSig(s"$dir/vectors/__cid=$c")
    }.toMap
    val flaggedIdsBefore = spark.read.parquet(s"$dir/vectors")
      .filter(col("__cid").isin(flagged: _*))
      .select("vec_id").as[Long].collect().toSet
    val centsBefore = spark.read.parquet(s"$dir/centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    Similarity.rebuildIvfLists(spark, dir, "vec_id", "embedding", flagged)
    // untouched list files byte-identical
    untouchedSigs.foreach { case (c, sig) =>
      assert(dirSig(s"$dir/vectors/__cid=$c") == sig,
        s"rebuild touched unflagged list $c")
    }
    // flagged members conserved: same id set, redistributed among the
    // retrained slots (reused flagged cids + appended split cids) only
    val after = spark.read.parquet(s"$dir/vectors")
    val untouchedCids = (allCids -- flagged.toSet).toSeq
    val rebuiltIdsAfter = after
      .filter(!col("__cid").isin(untouchedCids: _*))
      .select("vec_id").as[Long].collect().toSet
    assert(rebuiltIdsAfter == flaggedIdsBefore,
      "rebuild moved members into (or out of) untouched lists")
    assert(after.count() == emb.count() * 2)
    // unflagged centroids unchanged; flagged slots retrained in place
    // (same nlist — probing geometry preserved)
    val centsAfter = spark.read.parquet(s"$dir/centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    assert(centsAfter.keySet == centsBefore.keySet)
    (allCids -- flagged.toSet).foreach(c =>
      assert(centsAfter(c) == centsBefore(c), s"unflagged centroid $c moved"))
    // farthest-point seeding separates the modes: the drift mass and
    // the base members do NOT all collapse into one retrained slot
    val sizes = after.filter(!col("__cid").isin(untouchedCids: _*))
      .groupBy("__cid").count().select("count").as[Long].collect()
    assert(sizes.sum == flaggedIdsBefore.size)
    assert(flagged.size == 1 || sizes.max < flaggedIdsBefore.size,
      s"the rebuild left ALL flagged mass in one list: ${sizes.toSeq}")
    // the drift report re-baselines: nothing flagged afterwards
    val rep2 = Similarity.ivfDriftReport(spark, dir, "embedding")
      .filter(col("drifted")).collect()
    assert(rep2.isEmpty, s"post-rebuild drift flags: ${rep2.toSeq}")
    // serve path still returns k rows for a drifted-mode query
    val qd = shifted.filter(col("vec_id") === 1000000L).select("embedding")
      .head().getSeq[Float](0).toArray
    assert(Similarity.ivfTopKIndexed(spark, dir, "vec_id", "embedding",
      qd, k = 10, nprobe = 4, excludeId = 1000000L).count() == 10)
    // loud argument errors
    intercept[IllegalArgumentException](
      Similarity.rebuildIvfLists(spark, dir, "vec_id", "embedding", Seq.empty))
    intercept[IllegalArgumentException](
      Similarity.rebuildIvfLists(spark, dir, "vec_id", "embedding", Seq(99)))
    intercept[IllegalArgumentException](
      Similarity.rebuildIvfLists(spark, dir, "vec_id", "embedding", Seq(1, 1)))
    // the RebuildSlotCap guard: farthestSeeds runs slots−1 sequential
    // driver scans — a mass-drift caller gets the "rebuild instead"
    // message, never a 200-job loop
    val members = spark.read.parquet(s"$dir/vectors")
      .filter(col("__cid").isin(flagged: _*)).count()
    if (members > Similarity.RebuildSlotCap) {
      val capped = intercept[IllegalArgumentException](
        Similarity.rebuildIvfLists(spark, dir, "vec_id", "embedding",
          flagged, splitTo = Some(Similarity.RebuildSlotCap + 1)))
      assert(capped.getMessage.contains("full rebuild") &&
        capped.getMessage.contains("ensureIvfIndex"))
    } else fail(s"fixture too small to exercise the slot cap ($members)")
  }

  test("rebuildIvfSq8Lists: codes invariant, untouched lists byte-identical, serve recall preserved") {
    val dir = java.nio.file.Files.createTempDirectory("ivfsq8reb")
      .toString + "/idx"
    Similarity.buildIvfSq8Index(emb, "vec_id", "embedding", nlist = 16, dir)
    val allCids = spark.read.parquet(s"$dir/codes")
      .select(col("__cid").cast("int")).distinct().as[Int].collect().toSet
    val flagged = spark.read.parquet(s"$dir/codes")
      .groupBy(col("__cid")).count()
      .orderBy(col("count").desc, col("__cid").asc).limit(2)
      .select(col("__cid")).as[Int].collect().toSeq
    val untouchedSigs = (allCids -- flagged.toSet).map { c =>
      c -> dirSig(s"$dir/codes/__cid=$c")
    }.toMap
    // the code BYTES are invariant under the rebuild (frozen scales —
    // only list membership moves): snapshot every flagged member's code
    val codesBefore = spark.read.parquet(s"$dir/codes")
      .filter(col("__cid").isin(flagged: _*))
      .select(col("vec_id"), hex(col("codes")).as("h"))
      .as[(Long, String)].collect().toMap
    val scalesBefore = spark.read.parquet(s"$dir/scales").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val servedBefore = Similarity.ivfSq8TopK(spark, dir, "vec_id", qvec,
      k = 10, nprobe = 16, excludeId = 0L)
      .select("vec_id").as[Long].collect().toSeq
    Similarity.rebuildIvfSq8Lists(spark, dir, "vec_id", flagged)
    untouchedSigs.foreach { case (c, sig) =>
      assert(dirSig(s"$dir/codes/__cid=$c") == sig,
        s"rebuild touched unflagged list $c")
    }
    val after = spark.read.parquet(s"$dir/codes")
    assert(after.count() == emb.count())
    val codesAfter = after
      .filter(!col("__cid").isin((allCids -- flagged.toSet).toSeq: _*))
      .select(col("vec_id"), hex(col("codes")).as("h"))
      .as[(Long, String)].collect().toMap
    assert(codesAfter == codesBefore,
      "rebuild changed code bytes or moved members across the boundary")
    // scales sidecar untouched (re-code under frozen scales = identity)
    val scalesAfter = spark.read.parquet(s"$dir/scales").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(scalesAfter == scalesBefore)
    // full-probe serve is EXACT over the codes, so it must be
    // id-identical before and after the rebuild (membership moved,
    // content didn't)
    val servedAfter = Similarity.ivfSq8TopK(spark, dir, "vec_id", qvec,
      k = 10, nprobe = spark.read.parquet(s"$dir/centroids").count().toInt,
      excludeId = 0L).select("vec_id").as[Long].collect().toSeq
    assert(servedAfter == servedBefore,
      s"full-probe serve changed: $servedBefore -> $servedAfter")
    // loud guards share the rebuildIvfLists discipline
    intercept[IllegalArgumentException](
      Similarity.rebuildIvfSq8Lists(spark, dir, "vec_id", Seq.empty))
    intercept[IllegalArgumentException](
      Similarity.rebuildIvfSq8Lists(spark, dir, "vec_id", Seq(999)))
    if (codesBefore.size > Similarity.RebuildSlotCap) {
      val capped = intercept[IllegalArgumentException](
        Similarity.rebuildIvfSq8Lists(spark, dir, "vec_id", flagged,
          splitTo = Some(Similarity.RebuildSlotCap + 1)))
      assert(capped.getMessage.contains("full rebuild"))
    }
  }

  test("rebinBinaryIndex: drift-flagged index reads exactly-zero after re-bin; id-set mismatch rejected") {
    val dir = java.nio.file.Files.createTempDirectory("binrebin")
      .toString + "/idx"
    val build = emb.filter(col("vec_id") % 4 =!= 3)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    Similarity.buildBinaryIndex(build, "vec_id", "embedding", dir)
    val grown = emb
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      .unionByName(emb.filter(col("vec_id") % 4 === 3)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding").cast("array<double>"),
            (x, i) => when(i === 0, x + lit(8.0)).otherwise(x))
            .as("embedding")))
    Similarity.appendBinaryIndex(spark, dir,
      grown.join(build.select("vec_id"), Seq("vec_id"), "left_anti"),
      "vec_id", "embedding")
    val flaggedDims = Similarity.binDriftReport(spark, dir, grown, "embedding")
      .filter(col("drifted")).select("dim").as[Long].collect().toSeq
    assert(flaggedDims == Seq(0L), s"drift fixture flags: $flaggedDims")
    // a corpus that lost or gained rows is rejected before any write
    val e1 = intercept[IllegalArgumentException](
      Similarity.rebinBinaryIndex(spark, dir,
        grown.filter(col("vec_id") =!= 1L), "vec_id", "embedding"))
    assert(e1.getMessage.contains("disagree"))
    val thrBefore = Similarity.readBinThresholds(spark, dir).toSeq
    assert(spark.read.parquet(s"$dir/codes").count() == grown.count(),
      "rejected rebin mutated the code table")
    assert(Similarity.readBinThresholds(spark, dir).toSeq == thrBefore,
      "rejected rebin mutated the thresholds sidecar")
    Similarity.rebinBinaryIndex(spark, dir, grown, "vec_id", "embedding")
    // the report reads EXACTLY zero per dim — thresholds re-baselined
    val post = Similarity.binDriftReport(spark, dir, grown, "embedding")
      .select(col("delta"), col("drifted")).collect()
    assert(post.forall(r => r.getDouble(0) == 0.0 && !r.getBoolean(1)),
      s"post-rebin drift: ${post.toSeq}")
    // codes really re-coded: the rebuilt code table equals a fresh
    // build over the grown corpus (pure function of vector+thresholds)
    val dir2 = java.nio.file.Files.createTempDirectory("binrebin2")
      .toString + "/idx"
    Similarity.buildBinaryIndex(grown, "vec_id", "embedding", dir2)
    val a = spark.read.parquet(s"$dir/codes")
      .select(col("vec_id"), col("code")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val b = spark.read.parquet(s"$dir2/codes")
      .select(col("vec_id"), col("code")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(a == b, "re-binned codes differ from a fresh build")
    // serve path healthy on the re-binned index (float corpus view —
    // the serve join reads the vector column as array<float>)
    val grownF = grown.select(col("vec_id"),
      col("embedding").cast("array<float>").as("embedding"))
    assert(Similarity.binaryTopKIndexed(spark, dir, grownF,
      "vec_id", "embedding", queryId = 0L, k = 5, rerank = 50).count() == 5)
  }

  test("rebuildIvfLists: an empty retrained slot's stale directory is removed (Hadoop FS, not java.io.File)") {
    // all flagged members IDENTICAL: every retrained seed ties, the
    // whole mass lands in the highest slot (the split cid), and the
    // reused flagged slot captures NOTHING — dynamic overwrite leaves
    // its directory stale, and a serve-path scan would keep reading
    // the reassigned members out of it unless the cleanup really
    // deletes (via the Hadoop FS API with a required result — a
    // java.io.File delete silently no-ops on remote indexPaths)
    val a = Array.fill(8)(1.0f)
    val b = Array.tabulate(8)(i => if (i < 4) 1.0f else -1.0f)
    // modes interleaved across ids so the build's lowest-id seeding
    // picks one seed per mode and the two lists really separate
    val rows = (1L to 8L).map(i => (i, if (i % 2 == 1) a.toSeq else b.toSeq))
    val df = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>")
        .as("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("ivfstale")
      .toString + "/idx"
    Similarity.buildIvfIndex(df, "vec_id", "embedding", nlist = 2, dir)
    // which list holds the b-mode (4 identical members)?
    val bcid = spark.read.parquet(s"$dir/vectors")
      .filter(col("vec_id") === 2L).select("__cid").head().getInt(0)
    val staleDir = new java.io.File(s"$dir/vectors/__cid=$bcid")
    assert(staleDir.isDirectory)
    Similarity.rebuildIvfLists(spark, dir, "vec_id", "embedding",
      Seq(bcid), splitTo = Some(2))
    assert(!staleDir.exists,
      "empty retrained slot's stale directory survived the rebuild")
    // the stale members moved, none lost, none duplicated
    val after = spark.read.parquet(s"$dir/vectors")
    assert(after.count() == 8)
    assert(after.filter(col("__cid") === bcid).count() == 0)
    assert(after.filter(col("vec_id") % 2 === 0).select("__cid")
      .distinct().count() == 1)
  }

  test("pqDriftReport: fresh index clean and delta-zero; a shifted mode flags exactly its subspace") {
    val dir = java.nio.file.Files.createTempDirectory("pqdrift").toString + "/idx"
    Similarity.buildPqIndex(emb, "vec_id", "embedding", numSub = 8, k = 16, dir)
    val fresh = Similarity.pqDriftReport(spark, dir, emb, "embedding").collect()
    assert(fresh.length == 8)
    assert(fresh.forall(!_.getBoolean(6)), s"fresh flags: ${fresh.toSeq}")
    // the recomputation is engine-exact: deltas are exactly zero on
    // the build corpus
    assert(fresh.forall(_.getLong(5) == 0L))
    // a shifted mode on dim 0: subspace 0's frozen cells no longer
    // tile the data; the other subspaces see duplicated values (same
    // mean error, 2x occupancy — under the 4x gate)
    val shifted = emb.select(col("vec_id"), col("embedding"))
      .unionByName(emb.select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(8.0f)).otherwise(x)).as("embedding")))
    val rep = Similarity.pqDriftReport(spark, dir, shifted, "embedding")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rep(0L).getBoolean(6), s"subspace 0 not flagged: $rep")
    (1L to 7L).foreach { s =>
      assert(!rep(s).getBoolean(6) && rep(s).getLong(5) == 0L,
        s"untouched subspace $s moved: ${rep(s)}")
    }
  }

  test("rebuildPqSubspaces: flagged subspace retrained, unflagged codes and cells value-identical, drift clean after; guards loud") {
    val dir = java.nio.file.Files.createTempDirectory("pqreb").toString + "/idx"
    Similarity.buildPqIndex(emb, "vec_id", "embedding", numSub = 8, k = 16, dir)
    // a shifted mode on dim 0 arrives via the append path: subspace
    // 0's frozen cells no longer tile the data (the pqDriftReport
    // fixture, with the index brought along)
    val shifted = emb.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"),
        (x, i) => when(i === 0, x + lit(8.0f)).otherwise(x)).as("embedding"))
    Similarity.appendPqIndex(spark, dir, shifted, "vec_id", "embedding")
    val grown = emb.select(col("vec_id"), col("embedding"))
      .unionByName(shifted)
    val preRep = Similarity.pqDriftReport(spark, dir, grown, "embedding")
      .collect().map(r => r.getLong(0) -> r).toMap
    val flagged = preRep.collect { case (s, r) if r.getBoolean(6) => s }.toSeq
    assert(flagged == Seq(0L), s"fixture drift: $flagged")
    val residPre = preRep(0L).getLong(4) // resid_now_e6 under frozen cells
    val codesBefore = spark.read.parquet(s"$dir/codes")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val booksBefore = Similarity.readPqCodebooks(spark, dir)
    Similarity.rebuildPqSubspaces(spark, dir, grown, "vec_id", "embedding",
      Seq(0))
    // unflagged subspaces: codebook cells AND code values bit-identical
    val booksAfter = Similarity.readPqCodebooks(spark, dir)
    (1 until 8).foreach { s =>
      assert(booksAfter(s).map(_.toSeq) == booksBefore(s).map(_.toSeq),
        s"rebuild moved unflagged subspace $s's cells")
    }
    assert(booksAfter(0).map(_.toSeq) != booksBefore(0).map(_.toSeq),
      "flagged subspace's cells did not retrain")
    val codesAfter = spark.read.parquet(s"$dir/codes")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codesAfter.keySet == codesBefore.keySet, "rebuild changed the id set")
    codesBefore.foreach { case (id, cs) =>
      assert(codesAfter(id).drop(1) == cs.drop(1),
        s"unflagged code values moved for id $id")
    }
    // drift report comes back clean: flagged row re-baselined
    // (delta exactly zero — baseline and report measure the same
    // corpus under the same cells), unflagged rows untouched
    val rep = Similarity.pqDriftReport(spark, dir, grown, "embedding")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!rep(0L).getBoolean(6) && rep(0L).getLong(5) == 0L,
      s"rebuilt subspace still drifted: ${rep(0L)}")
    (1L to 7L).foreach { s =>
      assert(!rep(s).getBoolean(6), s"unflagged subspace $s flagged: ${rep(s)}")
    }
    // the retrained cells actually help: ADC quantization error in
    // the flagged subspace shrank vs the frozen cells (a Lloyd step
    // from the frozen seeds is monotone in SSE, and the +8 mode makes
    // the improvement large)
    val residPost = spark.read.parquet(s"$dir/stats")
      .filter(col("sub") === 0).select(col("resid_build_e6")).as[Long].head()
    assert(residPost < residPre,
      s"retrain did not reduce sub-0 quantization error: $residPre -> $residPost")
    // serve path off the partially rebuilt index: exact re-rank keeps
    // recall against brute force
    val q0 = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val exact = grown.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), round(sqrt(
        graft.functions.VecFns.dot(col("embedding"), col("embedding"))
          - lit(2.0) * graft.functions.VecFns.dot(col("embedding"), typedlit(q0))
          + lit(q0.map(x => x.toDouble * x).sum)), 6).as("l2"))
      .orderBy(col("l2").asc, col("vec_id").asc).limit(10)
      .select("vec_id").as[Long].collect().toSet
    val served = Similarity.pqTopK(spark, dir, grown, "vec_id", "embedding",
        q0, kOut = 10, rerank = 100, excludeId = 0L)
      .select("vec_id").as[Long].collect().toSet
    assert((served & exact).size >= 6,
      s"post-rebuild recall collapsed: ${(served & exact).size}/10")
    // guards: unknown / duplicate subs, wrong corpus coverage, wrong dim
    val eU = intercept[IllegalArgumentException](
      Similarity.rebuildPqSubspaces(spark, dir, grown, "vec_id", "embedding",
        Seq(99)))
    assert(eU.getMessage.contains("unknown sub"))
    val eD = intercept[IllegalArgumentException](
      Similarity.rebuildPqSubspaces(spark, dir, grown, "vec_id", "embedding",
        Seq(0, 0)))
    assert(eD.getMessage.contains("duplicate subs"))
    val eM = intercept[IllegalArgumentException](
      Similarity.rebuildPqSubspaces(spark, dir,
        grown.filter(col("vec_id") < 1000000L), "vec_id", "embedding", Seq(0)))
    assert(eM.getMessage.contains("absent from the"))
    val eX = intercept[IllegalArgumentException](
      Similarity.rebuildPqSubspaces(spark, dir,
        grown.unionByName(emb.select((col("vec_id") + 5000000L).as("vec_id"),
          col("embedding"))), "vec_id", "embedding", Seq(0)))
    assert(eX.getMessage.contains("append first"))
    val eW = intercept[IllegalArgumentException](
      Similarity.rebuildPqSubspaces(spark, dir,
        grown.select(col("vec_id"),
          concat(col("embedding"), array(lit(0.0f))).as("embedding")),
        "vec_id", "embedding", Seq(0)))
    assert(eW.getMessage.contains("not the same embedding space"))
  }

  test("binDriftReport: frozen thresholds vs a shifted corpus — exact arithmetic, per-dim flags") {
    val dir = java.nio.file.Files.createTempDirectory("bindrift").toString + "/idx"
    Similarity.buildBinaryIndex(emb, "vec_id", "embedding", dir)
    val fresh = Similarity.binDriftReport(spark, dir, emb, "embedding").collect()
    assert(fresh.length == 64)
    assert(fresh.forall(!_.getBoolean(5)), s"fresh flags: ${fresh.toSeq}")
    // midpoints are order-independent IEEE ops: delta is EXACTLY zero
    assert(fresh.forall(_.getDouble(4) == 0.0))
    val shifted = emb.select(col("vec_id"), col("embedding"))
      .unionByName(emb.select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(8.0f)).otherwise(x)).as("embedding")))
    val rep = Similarity.binDriftReport(spark, dir, shifted, "embedding")
      .collect()
    assert(rep.head.getBoolean(5), s"dim 0 not flagged: ${rep.head}")
    assert(rep.drop(1).forall(!_.getBoolean(5)),
      "an unshifted dimension flagged")
    // ragged corpora rejected loudly
    val ragged = intercept[IllegalArgumentException](
      Similarity.binDriftReport(spark, dir,
        emb.select(col("vec_id"), slice(col("embedding"), 1, 8).as("embedding")),
        "embedding"))
    assert(ragged.getMessage.contains("ragged"))
  }

  test("JL width guard: literal cap fires loudly; joined variant equals the literal path and runs at production width") {
    // above the cap the literal path is rejected with the remedy
    val e = intercept[IllegalArgumentException](
      Similarity.randomProject(col("embedding"), 1024, 128, seed = 7L))
    assert(e.getMessage.contains("randomProjectJoined"))
    // at a width both paths run, values are IDENTICAL (same md5 sign
    // device, same fixed-point quantization)
    val lit64 = emb.select(col("vec_id"),
        Similarity.randomProject(col("embedding"), 64, 16, 7L).as("proj"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val joined = Similarity.randomProjectJoined(emb, "vec_id", "embedding",
        64, 16, 7L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(joined == lit64)
    // the per-row KERNEL form is identical too (three-path equality)
    val packed = emb.select(col("vec_id"),
        Similarity.randomProjectPacked(col("embedding"), 64, 16, 7L).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(packed == lit64)
    // production width 1024 -> 128: a synthetic wide corpus projects
    // without plan blowup, deterministically across partitionings
    val wide = spark.range(30).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(1023)),
        d => ((pmod(col("id") * 31 + d.cast("long") * 7, lit(97L))
          .cast("double") / lit(97.0)) - lit(0.5)).cast("float"))
        .as("embedding"))
    def run(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      Similarity.randomProjectJoined(df, "vec_id", "embedding",
          1024, 128, 7L)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val p1 = run(wide)
    assert(p1.size == 30 && p1.values.forall(_.size == 128))
    assert(run(wide.repartition(7)) == p1)
    // the kernel agrees at production width too
    val kp = wide.select(col("vec_id"),
        Similarity.randomProjectPacked(col("embedding"), 1024, 128, 7L)
          .as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(kp == p1)
    // the kernel rejects a ragged row loudly
    val rk = intercept[org.apache.spark.SparkException](
      emb.select(Similarity.randomProjectPacked(col("embedding"),
        32, 8, 7L)).collect())
    assert(rk.getMessage.contains("ragged") ||
      Option(rk.getCause).exists(_.getMessage.contains("ragged")))
    // ragged corpus rejected loudly
    val ragged = intercept[IllegalArgumentException](
      Similarity.randomProjectJoined(emb, "vec_id", "embedding", 32, 8, 7L))
    assert(ragged.getMessage.contains("ragged"))
  }

  test("fused nearest-cell kernels are bit-identical to the expression forms, ties included") {
    // real centroids plus an exact DUPLICATE of cell 0 at the end, so
    // tie rows exist by construction and the tie rules are exercised
    val cents0: Seq[Array[Float]] = emb.orderBy(col("vec_id")).limit(7)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray).toSeq
    val cents = cents0 :+ cents0.head.clone()
    def sq(c: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i).toDouble * c(i); i += 1 }
      s
    }
    // the pre-kernel expression forms, verbatim
    def exprCid(v: org.apache.spark.sql.Column) =
      array_max(array(cents.zipWithIndex.map { case (c, i) =>
        struct(VecFns.cosine(v, typedlit(c)).as("s"), lit(i).as("cid"))
      }: _*)).getField("cid")
    def exprCode(v: org.apache.spark.sql.Column) =
      array_min(array(cents.zipWithIndex.map { case (c, i) =>
        struct((lit(sq(c)) - lit(2.0) * VecFns.dot(v, typedlit(c))).as("d"),
          lit(i).as("code"))
      }: _*)).getField("code")
    // whole corpus, float AND double element types
    Seq(col("embedding"), col("embedding").cast("array<double>"))
      .foreach { v =>
        val diverged = emb.select(col("vec_id"),
            exprCid(v).as("cid_e"),
            VecFns.nearestCid(v, cents).as("cid_k"),
            exprCode(v).as("code_e"),
            VecFns.nearestCodeL2(v, cents).as("code_k"))
          .filter(col("cid_e") =!= col("cid_k") ||
            col("code_e") =!= col("code_k"))
          .limit(5).collect()
        assert(diverged.isEmpty,
          s"kernel/expression divergence: ${diverged.mkString("; ")}")
      }
    // the duplicate cell is an exact tie for its own vector: L2 keeps
    // the LOWEST code (array_min rule), cosine the HIGHEST cid
    // (array_max rule) — and both match the expression forms
    val tieV = typedlit(cents.head)
    val tie = emb.limit(1).select(
      VecFns.nearestCid(tieV, cents).as("cid_k"),
      VecFns.nearestCodeL2(tieV, cents).as("code_k"),
      exprCid(tieV).as("cid_e"), exprCode(tieV).as("code_e")).head()
    assert(tie.getInt(0) == tie.getInt(2) && tie.getInt(1) == tie.getInt(3),
      s"tie rules diverge: $tie")
    assert(tie.getInt(1) == 0, "L2 tie must keep the lowest code")
    assert(tie.getInt(0) == cents.size - 1,
      "cosine tie must keep the highest cid")
  }

  test("a NULL vector: the fused kernels return NULL, the nearest-cell index writes reject it") {
    val cents: Seq[Array[Float]] = emb.orderBy(col("vec_id")).limit(4)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray).toSeq
    val nullVec = lit(null).cast(emb.schema("embedding").dataType)
    Seq(nullVec, nullVec.cast("array<double>")).foreach { v =>
      val r = emb.limit(1)
        .select(VecFns.nearestCid(v, cents), VecFns.nearestCodeL2(v, cents)).head()
      assert(r.isNullAt(0) && r.isNullAt(1), s"kernels on a NULL vector: $r")
    }
    // IVF, IVF-SQ8 and PQ build and append raise the guard in-row:
    // exactly its text, carried behind the GRAFT_GUARD: sentinel
    def rejects(who: String)(write: => Unit): Unit = {
      val text = s"$who: a NULL embedding has no nearest cell — drop or embed it first"
      val e = intercept[IllegalArgumentException](write)
      assert(e.getMessage == text)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => Option(c.getMessage).exists(_.contains(Publish.Sentinel + text))),
        s"$who: not raised through the guard sentinel")
    }
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val withNull = vecs.unionByName(vecs.limit(1)
      .select((col("vec_id") + 100000L).as("vec_id"), nullVec.as("embedding")))
    val batch = withNull.withColumn("vec_id", col("vec_id") + 200000L)
    val dir = java.nio.file.Files.createTempDirectory("graft_nullvec").toString
    val (ivf, ivfSq8, pq) = (s"$dir/ivf", s"$dir/ivfsq8", s"$dir/pq")
    rejects("buildIvfIndex")(
      Similarity.buildIvfIndex(withNull, "vec_id", "embedding", 4, ivf))
    rejects("buildIvfSq8Index")(
      Similarity.buildIvfSq8Index(withNull, "vec_id", "embedding", 4, ivfSq8))
    rejects("buildPqIndex")(
      Similarity.buildPqIndex(withNull, "vec_id", "embedding", 8, 16, pq))
    Similarity.buildIvfIndex(vecs, "vec_id", "embedding", 4, ivf)
    Similarity.buildIvfSq8Index(vecs, "vec_id", "embedding", 4, ivfSq8)
    Similarity.buildPqIndex(vecs, "vec_id", "embedding", 8, 16, pq)
    rejects("appendIvfIndex")(
      Similarity.appendIvfIndex(spark, ivf, batch, "vec_id", "embedding"))
    rejects("appendIvfSq8Index")(
      Similarity.appendIvfSq8Index(spark, ivfSq8, batch, "vec_id", "embedding"))
    rejects("appendPqIndex")(
      Similarity.appendPqIndex(spark, pq, batch, "vec_id", "embedding"))
  }
}
