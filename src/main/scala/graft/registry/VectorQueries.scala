package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VecFns
import graft.operators.{Artifact, InvertedIndex, Quantize, Retrieval, Similarity}

import Support._
import graft.Sessions.materialized

/** Vectors and ANN: brute-force cosine, the LSH / IVF / PQ / SQ8 /
  * binary / IVF-SQ8 indexes with their lifecycle (append, drift,
  * rebuild), JL projection, semantic dedup and hybrid retrieval.
  */
private[graft] object VectorQueries {

  def all: Seq[Query] = Seq(
    // ---------------- similarity: brute-force cosine top-k ----------------
    Query("q33_cosine_topk", (s, dir) => {
      val emb = t(s, dir).embeddings
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      Similarity.bruteTopK(emb, "vec_id", "embedding", q, 10, excludeId = 0L)
    }, oracle =
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             CAST(q.embedding AS DOUBLE[])), 6) AS cosine
         FROM embeddings e, q WHERE e.vec_id <> 0
         ORDER BY cosine DESC, e.vec_id LIMIT 10"""),

    // ---------------- similarity: ANN via hyperplane LSH (FULL-oracle envelope) ----------------
    // The q91/q105 envelope: the hashed rows are the EXACT brute-force
    // cosine top-10 (DuckDB-recomputable — the q33 relation) plus the
    // ANN guarantee pinned TRUE: the LSH-pruned scan recovered at
    // least 3 of the true top-10 (the documented floor on these
    // weakly-clustered synthetic vectors; measured 5/10 at every SF).
    // The verdict is a plan-fused semi-join count, checked on the
    // full corpus at every execution — not a once-per-JVM self-check.
    Query("q34_ann_topk", (s, dir) => {
      val emb = t(s, dir).embeddings
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val brute = Similarity.bruteTopK(emb, "vec_id", "embedding", q, 10,
        excludeId = 0L)
      val ann = Similarity.annTopK(emb, "vec_id", "embedding", q, 10,
          numBits = 16, probeHamming = 6, excludeId = 0L)
        .select(col("vec_id"))
      val verdict = brute.select(col("vec_id"))
        .join(ann, Seq("vec_id"), "left_semi")
        .agg((count(lit(1)) >= 3L).as("ann_recall_ok"))
      brute.crossJoin(broadcast(verdict))
        .select(col("vec_id"), col("cosine"), col("ann_recall_ok"))
        .orderBy(col("cosine").desc, col("vec_id"))
    }, oracle =
      // ANN envelope: the exact brute-force top-10 recomputed (the q33
      // relation), the LSH recall-floor verdict pinned TRUE
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             CAST(q.embedding AS DOUBLE[])), 6) AS cosine,
           TRUE AS ann_recall_ok
         FROM embeddings e, q WHERE e.vec_id <> 0
         ORDER BY cosine DESC, e.vec_id LIMIT 10"""),

    // ---------------- similarity: IVF ANN via persisted index (FULL-oracle envelope) ----------------
    // Build-once, query-many: the index is the corpus partitioned by
    // its coarse-quantizer assignment; the query scans nprobe/nlist
    // of the partitions (directory pruning), never recomputing the
    // assignment. Envelope row (the q34 pattern): the exact brute
    // top-10 keyed-hash-identical to DuckDB, with the pruned scan's
    // recall floor (>= 6/10, measured 9-10/10 at every SF) pinned
    // TRUE by a plan-fused semi-join count on every execution.
    Query("q50_ivf_topk", (s, dir) => {
      val emb = t(s, dir).embeddings
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val idx = fixturePath("ivf", dir, "embeddings")
      Similarity.ensureIvfIndex(emb, "vec_id", "embedding", nlist = 16, idx)
      ivfRecallEnvelope(s, emb, q, idx)
    }, oracle =
      // IVF envelope: same exact top-10, the pruned-scan recall floor
      // pinned TRUE
      SqlIvfEnvelope),

    // ---------------- similarity: per-label centroids ----------------
    Query("q35_label_centroids", (s, dir) => {
      Similarity.labelCentroids(t(s, dir).embeddings, "label", "embedding")
        .orderBy("label", "dim")
    }, oracle =
      """SELECT label, dim, round(avg(CAST(x AS DOUBLE)), 6) AS centroid
         FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
             unnest(embedding) AS x FROM embeddings)
         GROUP BY label, dim ORDER BY label, dim"""),

    // ---------------- similarity: LSH KNN join (rows-only) ----------------
    Query("q36_knn_join", (s, dir) => {
      // Self-check (sf0.001 fixture): structural contract — at most k
      // neighbors per id, no self-pairs, and every reported cosine
      // matches an exact recomputation from the vectors (catches any
      // wiring/banding bug even though LSH recall itself is
      // data-dependent on the weakly-clustered fixture).
      if (SelfCheck.fixtureExists) SelfCheck.once("q36/fixture") {
        val emb = t(s, SelfCheck.FixtureDir).embeddings
        val knn = Similarity.knnJoin(emb, "vec_id", "embedding", k = 3,
          numBits = 32, bands = 4)
        val overK = knn.groupBy("id").agg(count(lit(1)).as("n"))
          .filter(col("n") > 3).count()
        require(overK == 0, s"q36 $overK ids exceed k=3 neighbors")
        require(knn.filter(col("id") === col("nn_id")).count() == 0,
          "q36 self-pairs present")
        val va = emb.select(col("vec_id").as("id"), col("embedding").as("ea"))
        val vb = emb.select(col("vec_id").as("nn_id"), col("embedding").as("eb"))
        val bad = knn.join(va, "id").join(vb, "nn_id")
          .filter(abs(col("cosine") - round(VecFns.cosine(col("ea"), col("eb")), 6))
            > 1e-9).count()
        require(bad == 0, s"q36 $bad pairs with wrong cosine values")
        SelfCheck.note(s"k-bound (≤3 per id), no self-pairs, and all " +
          s"${knn.count()} reported cosines match exact recomputation")
      }
      // FULL-oracle envelope (the q34 pattern generalized to a JOIN):
      // hashed rows are the EXACT top-3 for a deterministic 1-in-50
      // audit sample of query ids (DuckDB-recomputable — one broadcast
      // batch scan, linear in the corpus), with the LSH join's recall
      // over that sample pinned >= 10% as a plan-fused verdict
      // (measured 20-30% at every SF on these weakly-clustered
      // synthetic vectors — ≥2× margin). The full banded knnJoin still
      // executes on every run — it feeds the verdict — so the bench
      // keeps measuring the operator itself.
      // 8-bit bands (64 sig bits / 8 bands): ~n/256 per bucket keeps
      // the candidate self-join near-linear; 8 bands instead of 4
      // doubles the recall at the same per-bucket size.
      // the audit sample is CAPPED (id < 6400 ∧ id ≡ 0 mod 50 ⇒ ≤128
      // probes at ANY corpus size — a no-op at test SFs where max id
      // < 6400): an uncapped 1-in-50 sample would make the exact side
      // n²/50 at data scale instead of a bounded-×-n broadcast scan
      val emb = t(s, dir).embeddings
      val ann = Similarity.knnJoin(emb, "vec_id", "embedding", k = 3,
        numBits = 64, bands = 8)
      val audit = col("vec_id") % 50 === 0 && col("vec_id") < 6400
      val exact = Similarity.bruteTopKBatch(
        emb.filter(audit), emb, "vec_id", "embedding", 3)
      val annSample = ann.filter(col("id") % 50 === 0 && col("id") < 6400)
        .select(col("id").as("query_id"), col("nn_id"))
      val verdict = hitFloorVerdict(exact, annSample, floor = 0.1)
      exact.crossJoin(broadcast(verdict))
        .select(col("query_id").as("id"), col("nn_id"), col("cosine"),
          col("ann_recall_ok"))
        .orderBy(col("id"), col("cosine").desc, col("nn_id"))
    }, oracle =
      // KNN-join envelope: exact top-3 for the 1-in-50 audit sample of
      // query ids, the banded join's sample recall pinned TRUE
      """WITH s AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
                    WHERE vec_id % 50 = 0 AND vec_id < 6400),
         d AS (
           SELECT s.qid, e.vec_id AS nn_id,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
               CAST(s.qe AS DOUBLE[])), 6) AS cosine
           FROM s, embeddings e WHERE e.vec_id <> s.qid),
         r AS (
           SELECT qid, nn_id, cosine,
             row_number() OVER (PARTITION BY qid
               ORDER BY cosine DESC, nn_id) AS rn
           FROM d)
         SELECT CAST(qid AS BIGINT) AS id, CAST(nn_id AS BIGINT) AS nn_id,
           cosine, TRUE AS ann_recall_ok
         FROM r WHERE rn <= 3 ORDER BY id, cosine DESC, nn_id"""),

    // ---------------- embedding-cosine near-dup pairs (exact baseline) ----------------
    // O(n²) broadcast nested-loop BY DESIGN: this is the exact oracle
    // baseline for the scale path, q36 (Similarity.knnJoin — banded
    // LSH, near-linear). The row-count guard makes it impossible to
    // run the quadratic form on corpus-scale data by accident.
    Query("q44_embedding_neardups", (s, dir) => {
      // deterministic third-slice: this is the exact all-pairs BASELINE
      // (the production path is q36's banded knnJoin) — registering it
      // over a capped slice keeps the quadratic oracle honest without
      // the quadratic dominating the bench (pair count drops 9×)
      val emb = t(s, dir).embeddings.select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") % 3 === 0)
      val n = emb.count()
      require(n <= 100000,
        s"q44 is the exact O(n²) baseline (n=$n): at corpus scale use " +
          "Similarity.knnJoin (q36_knn_join), the banded-LSH production path")
      val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
      val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
      a.join(broadcast(b), col("id_a") < col("id_b"))
        .withColumn("cosine", round(VecFns.cosine(col("ea"), col("eb")), 6))
        .filter(col("cosine") >= 0.35)
        .select(col("id_a"), col("id_b"), col("cosine"))
        .orderBy("id_a", "id_b")
    }, oracle =
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
           CAST(b.embedding AS DOUBLE[])), 6) AS cosine
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE a.vec_id % 3 = 0 AND b.vec_id % 3 = 0
           AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
         ORDER BY id_a, id_b"""),

    // ---------------- int8 embedding quantization report ----------------
    Query("q73_vec_quantize", (s, dir) => {
      Quantize.int8Report(t(s, dir).embeddings, "label", "embedding")
        .orderBy("label")
    }, oracle =
      """WITH q AS (
           SELECT vec_id, label,
             list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
               x -> abs(x)), 'max') / 127.0 AS scale
           FROM embeddings),
         e AS (
           SELECT q.vec_id, q.label, q.scale,
             CASE WHEN q.scale > 0 THEN
               list_aggregate(list_transform(CAST(em.embedding AS DOUBLE[]),
                 x -> abs(x - floor(x / q.scale + 0.5) * q.scale)), 'avg')
             ELSE 0.0 END AS mean_err
           FROM q JOIN embeddings em ON q.vec_id = em.vec_id)
         SELECT label, round(avg(mean_err), 6) AS avg_err,
           round(max(scale), 6) AS max_scale, count(*) AS n
         FROM e GROUP BY label ORDER BY label"""),

    // ---------------- Matryoshka head: truncate-and-renormalize ----------------
    Query("q82_matryoshka", (s, dir) => {
      val d16 = slice(col("embedding").cast("array<double>"), 1, 16)
      def pin6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
      t(s, dir).embeddings.select(col("vec_id"),
          pin6(VecFns.normHof(col("embedding"))).as("norm_full"),
          pin6(VecFns.normHof(d16)).as("norm16"),
          pin6(element_at(VecFns.matryoshka(col("embedding"), 16), 1)).as("c1_norm"))
        .orderBy("vec_id")
    }, oracle =
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings),
         m AS (SELECT vec_id, e, list_slice(e, 1, 16) AS e16 FROM v)
         SELECT vec_id,
           floor(sqrt(list_aggregate(list_transform(e, x -> x*x), 'sum'))
             * 1e6 + 0.5)/1e6 AS norm_full,
           floor(sqrt(list_aggregate(list_transform(e16, x -> x*x), 'sum'))
             * 1e6 + 0.5)/1e6 AS norm16,
           floor(e16[1]/sqrt(list_aggregate(list_transform(e16, x -> x*x), 'sum'))
             * 1e6 + 0.5)/1e6 AS c1_norm
         FROM m ORDER BY vec_id"""),

    // ---------------- batch retrieval: query table × corpus top-k ----------------
    // The serving shape: a batch of probe vectors retrieves top-k
    // corpus neighbors through shared LSH bands — no corpus self-join.
    Query("q88_cross_knn", (s, dir) => {
      // Self-check (sf0.001 fixture): structural contract — ≤ k rows
      // per query, every neighbor drawn from the corpus side only,
      // and reported cosines match exact recomputation.
      if (SelfCheck.fixtureExists) SelfCheck.once("q88/fixture") {
        val emb = t(s, SelfCheck.FixtureDir).embeddings
        val qs = emb.filter(col("vec_id") % 10 === 0)
        val corpus = emb.filter(col("vec_id") % 10 =!= 0)
        val knn = Similarity.crossKnnJoin(qs, corpus, "vec_id", "embedding",
          k = 3, numBits = 32, bands = 4)
        val overK = knn.groupBy("query_id").agg(count(lit(1)).as("n"))
          .filter(col("n") > 3).count()
        require(overK == 0, s"q88 $overK queries exceed k=3 neighbors")
        require(knn.filter(col("query_id") % 10 =!= 0).count() == 0 &&
          knn.filter(col("nn_id") % 10 === 0).count() == 0,
          "q88 sides leaked across the query/corpus split")
        val va = qs.select(col("vec_id").as("query_id"), col("embedding").as("ea"))
        val vb = corpus.select(col("vec_id").as("nn_id"), col("embedding").as("eb"))
        val bad = knn.join(va, "query_id").join(vb, "nn_id")
          .filter(abs(col("cosine") - round(VecFns.cosine(col("ea"), col("eb")), 6))
            > 1e-9).count()
        require(bad == 0, s"q88 $bad pairs with wrong cosine values")
        SelfCheck.note(s"k-bound (≤3 per query), no side leaks across the " +
          s"query/corpus split, all ${knn.count()} cosines match exact recomputation")
      }
      // FULL-oracle envelope (q36's pattern; here the probe batch IS
      // the whole query side, so nothing is sampled): hashed rows are
      // the exact top-3 per probe vector (one broadcast batch scan),
      // the banded retrieval's recall over them pinned >= 10% as a
      // plan-fused verdict (measured 27-33% at every SF) computed from
      // the crossKnnJoin that still executes on every run.
      // probe batch capped like q36's audit sample (≤128 probes at any
      // corpus size; a no-op at test SFs) — the serving batch is a
      // bounded input, the corpus is the thing that scales
      val emb = t(s, dir).embeddings
      val probes = emb.filter(col("vec_id") % 100 === 0 && col("vec_id") < 12800)
      val corpus = emb.filter(col("vec_id") % 100 =!= 0)
      val ann = Similarity.crossKnnJoin(probes, corpus,
        "vec_id", "embedding", k = 3, numBits = 64, bands = 8)
      val exact = Similarity.bruteTopKBatch(probes, corpus,
        "vec_id", "embedding", 3)
      val verdict = hitFloorVerdict(exact, ann, floor = 0.1)
      exact.crossJoin(broadcast(verdict))
        .select(col("query_id"), col("nn_id"), col("cosine"),
          col("ann_recall_ok"))
        .orderBy(col("query_id"), col("cosine").desc, col("nn_id"))
    }, oracle =
      // cross-KNN envelope: exact top-3 per probe vector over the corpus
      // side, the banded retrieval's recall pinned TRUE
      """WITH s AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
                    WHERE vec_id % 100 = 0 AND vec_id < 12800),
         c AS (SELECT vec_id, embedding FROM embeddings
               WHERE vec_id % 100 <> 0),
         d AS (
           SELECT s.qid, c.vec_id AS nn_id,
             round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
               CAST(s.qe AS DOUBLE[])), 6) AS cosine
           FROM s, c),
         r AS (
           SELECT qid, nn_id, cosine,
             row_number() OVER (PARTITION BY qid
               ORDER BY cosine DESC, nn_id) AS rn
           FROM d)
         SELECT CAST(qid AS BIGINT) AS query_id, CAST(nn_id AS BIGINT) AS nn_id,
           cosine, TRUE AS ann_recall_ok
         FROM r WHERE rn <= 3 ORDER BY query_id, cosine DESC, nn_id"""),

    // ---------------- SemDeDup: cluster-bounded semantic dedup ----------------
    // Prune near-identical embeddings without an all-pairs scan: the
    // coarse quantizer bounds the quadratic sweep to within-cluster
    // pairs (k-means is not SQL-expressible → rows-only; the greedy
    // keep-lowest-id invariant is checked in-query instead).
    Query("q92_semantic_dedup", (s, dir) => {
      // Self-check (sf0.001 fixture): (a) survivors are a subset that
      // partitions the corpus with the dropped set; (b) the invariant
      // — no two SURVIVORS of one cluster within tau — holds exactly.
      if (SelfCheck.fixtureExists) SelfCheck.once("q92/fixture") {
        val emb = t(s, SelfCheck.FixtureDir).embeddings
        val kept = Similarity.semanticDedup(emb, "vec_id", "embedding",
          tau = 0.35, nlist = 8)
        val nAll = emb.count(); val nKept = kept.count()
        require(nKept >= 1 && nKept <= nAll, "q92 survivor count out of range")
        require(kept.join(emb, Seq("vec_id"), "left_anti").count() == 0,
          "q92 survivors contain ids not in the corpus")
        val kv = kept.join(emb, Seq("vec_id"))
          .select(col("cid"), col("vec_id"), col("embedding"))
        val close = kv.select(col("cid"), col("vec_id").as("id_a"), col("embedding").as("ea"))
          .join(kv.select(col("cid"), col("vec_id").as("id_b"), col("embedding").as("eb")),
            Seq("cid"))
          .filter(col("id_a") < col("id_b"))
          .filter(round(VecFns.cosine(col("ea"), col("eb")), 6) >= 0.35)
          .count()
        require(close == 0, s"q92 $close surviving same-cluster pairs within tau")
        SelfCheck.note(s"$nKept/$nAll survivors, all drawn from the corpus; " +
          "no surviving same-cluster pair within tau=0.35")
      }
      // FULL-oracle envelope (the q32 pattern): cluster ids and the
      // survivor set depend on engine-float k-means centroids (not
      // SQL-recomputable), so the hashed row carries the corpus size
      // the oracle recomputes plus the GUARANTEES pinned TRUE — both
      // fixture invariants, re-proved as distributed joins over the
      // FULL corpus at every SF: survivors ⊆ corpus with a sane
      // count, and no two survivors of one cluster within tau (the
      // SemDeDup contract). The sf0.001 fixture block above stays as
      // the decomposition-independent ground truth.
      val emb = t(s, dir).embeddings
      val kept = materialized(Similarity.semanticDedup(
        emb, "vec_id", "embedding", tau = 0.35, nlist = 16))
      val kv = kept.join(emb, Seq("vec_id"))
        .select(col("cid"), col("vec_id"), col("embedding"))
      kept.join(emb.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .agg(count(lit(1)).as("__alien"))
        .crossJoin(kept.agg(count(lit(1)).as("__k")))
        .crossJoin(emb.agg(count(lit(1)).as("__n")))
        .crossJoin(kv.select(col("cid"), col("vec_id").as("id_a"),
            col("embedding").as("ea"))
          .join(kv.select(col("cid"), col("vec_id").as("id_b"),
            col("embedding").as("eb")), Seq("cid"))
          .filter(col("id_a") < col("id_b"))
          .filter(round(VecFns.cosine(col("ea"), col("eb")), 6) >= 0.35)
          .agg(count(lit(1)).as("__close")))
        .select(col("__n").as("n_vecs"),
          (col("__alien") === 0L && col("__k") >= 1L &&
            col("__k") <= col("__n")).as("survivors_in_corpus"),
          (col("__close") === 0L).as("no_close_survivors"))
    }, oracle =
      // SemDeDup envelope: cluster ids / survivors ride engine-float
      // k-means centroids, so the oracle pins the GUARANTEES — survivors
      // drawn from the corpus with a sane count, and no two survivors of
      // one cluster within tau — plus the corpus size it audited
      """SELECT CAST(count(*) AS BIGINT) AS n_vecs,
           TRUE AS survivors_in_corpus, TRUE AS no_close_survivors
         FROM embeddings"""),

    // ---------------- hybrid retrieval: BM25 ⊕ cosine via RRF ----------------
    // doc 0 plays the query (its text terms drive the lexical list,
    // its embedding the semantic list) and is excluded from both
    // sides; the fused top-10 is the rows a RAG pipeline would fetch.
    Query("q138_rrf_hybrid", (s, dir) => {
      val docs = t(s, dir).documents.filter(col("doc_id") =!= 0)
      val lex = InvertedIndex.bm25TopK(docs, "doc_id", col("text"),
        Seq("dup", "spark", "window"), k = 50)
        .select(col("doc_id"), col("bm25").as("score"))
      val emb = t(s, dir).embeddings
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val sem = Similarity.bruteTopK(emb, "vec_id", "embedding", q, 50, excludeId = 0L)
        .select(col("vec_id").as("doc_id"), col("cosine").as("score"))
      Retrieval.rrf(Seq(lex, sem), "doc_id", "score", k = 10)
    }, oracle =
      s"""WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents WHERE doc_id <> 0),
         $SqlBm25Contrib,
         lex AS (SELECT doc_id, CAST(sum(c) AS DOUBLE)/1e10 AS score
           FROM contrib GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 50),
         q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         sem AS (SELECT e.vec_id AS doc_id,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
               CAST(q.embedding AS DOUBLE[])), 6) AS score
           FROM embeddings e, q WHERE e.vec_id <> 0
           ORDER BY score DESC, e.vec_id LIMIT 50),
         ranked AS (
           SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
           FROM lex
           UNION ALL
           SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
           FROM sem),
         fused AS (
           SELECT doc_id,
             sum(CAST(floor(1e9/(60 + rk)) AS BIGINT)) AS fp,
             count(*) AS n_lists
           FROM ranked GROUP BY doc_id)
         SELECT doc_id, n_lists, CAST(fp AS DOUBLE)/1e9 AS rrf
         FROM fused ORDER BY rrf DESC, doc_id LIMIT 10"""),

    // ---------------- nearest-centroid classification audit ----------------
    Query("q139_nearest_centroid", (s, dir) =>
      Similarity.nearestCentroidConfusion(t(s, dir).embeddings,
        "vec_id", "label", "embedding")
        .orderBy("true_label", "pred"), oracle =
      """WITH cent AS (
           SELECT label AS pred, dim, round(avg(CAST(x AS DOUBLE)), 6) AS c
           FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
               unnest(embedding) AS x FROM embeddings)
           GROUP BY pred, dim),
         vec AS (SELECT vec_id, label AS true_label,
             generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
         d AS (SELECT v.vec_id, v.true_label, cent.pred,
             sum(CAST(floor((v.x - cent.c)*(v.x - cent.c)*1e8 + 0.5e0) AS BIGINT))
               AS dist_fp
           FROM vec v JOIN cent USING (dim) GROUP BY 1, 2, 3),
         best AS (SELECT vec_id, true_label, pred,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist_fp, pred) AS rn
           FROM d)
         SELECT true_label, pred, count(*) AS n FROM best WHERE rn = 1
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    // ---------------- PQ-compressed ANN (FULL-oracle envelope) ----------------
    // The 100 TB vector layout: the query scans the 8-int code table
    // (a persisted artifact), re-ranks only `rerank` full vectors.
    // Envelope row (the q34/q50 pattern): the hashed rows are the
    // EXACT L2 top-10 (DuckDB recomputes via list_distance) plus two
    // guarantees pinned TRUE on every execution — recall floor
    // (>= 6/10 of the true neighbors surfaced by the ADC scan) and
    // domination (the approximate path can only MISS neighbors,
    // never beat the exact i-th distance). Rankings align via sorted-
    // array folds (10-row aggregations — no unpartitioned window).
    Query("q148_pq_topk", (s, dir) => {
      val emb = t(s, dir).embeddings
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val idx = fixturePath("pq", dir, "embeddings")
      Similarity.ensurePqIndex(emb, "vec_id", "embedding", numSub = 8, k = 16, idx)
      pqEnvelope(s, idx, emb, q, "pq_recall_ok", "pq_dominated_ok")
        .select(col("vec_id"), col("l2"), col("pq_recall_ok"),
          col("pq_dominated_ok"))
        .orderBy(col("l2").asc, col("vec_id"))
    }, oracle =
      // PQ envelope: the exact L2 top-10 recomputed via list_distance,
      // recall-floor and per-rank domination verdicts pinned TRUE
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id,
           round(list_distance(CAST(e.embedding AS DOUBLE[]),
             CAST(q.embedding AS DOUBLE[])), 6) AS l2,
           TRUE AS pq_recall_ok, TRUE AS pq_dominated_ok
         FROM embeddings e, q WHERE e.vec_id <> 0
         ORDER BY l2 ASC, e.vec_id LIMIT 10"""),

    // ---------------- incremental IVF index append ----------------
    // The vector-store maintenance path: 3/4 of the embeddings built
    // the persisted inverted file; the remaining quarter arrives as a
    // batch and is APPENDED — assigned to the existing centroids,
    // landed as new files in the matching list partitions, no retrain
    // and no rewrite (Similarity.appendIvfIndex; spec pins appended ≡
    // rebuilt-with-same-centroids and history bit-untouched). The
    // whole lifecycle runs inside one atomic artifact publish, so the
    // query is idempotent. Envelope oracle (q50's pattern): rows are
    // the exact brute-force top-10 over the FULL corpus; the verdict
    // pins the appended index's recall floor under history-trained
    // centroids.
    Query("q186_ivf_append", (s, dir) => {
      val emb = t(s, dir).embeddings
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val idx = fixturePath("ivfapp", dir, "embeddings")
      Similarity.ensureIndex(idx, Similarity.IvfTier) { tmp =>
        Similarity.buildIvfIndex(emb.filter(col("vec_id") % 4 =!= 3),
          "vec_id", "embedding", nlist = 16, tmp)
        Similarity.appendIvfIndex(s, tmp,
          emb.filter(col("vec_id") % 4 === 3), "vec_id", "embedding")
      }
      ivfRecallEnvelope(s, emb, q, idx)
    }, oracle =
      SqlIvfEnvelope),

    // ---------------- SQ8 scalar-quantized similarity (FULL oracle, bit-exact) ----------------
    // The fourth ANN tier, and the only one that needs NO recall
    // envelope: per-dimension symmetric int8 quantization (scale_d =
    // corpus max|x_d|, code = round(x·127/scale)) and an EXACT int64
    // dot-product ranking over the codes. Every step is either a
    // single correctly-rounded IEEE op on shared doubles or integer
    // arithmetic, so DuckDB reproduces scores bit-for-bit — no
    // 6-decimal coarsening anywhere. Served from the PERSISTED code
    // table since round 13 (the IVF/PQ artifact discipline): codes
    // packed one byte per dimension (binary column), scales as a
    // dim-sized sidecar — the ranking scan reads 1/4 the bytes of the
    // float vectors AND never touches them (the query's own codes
    // come from the code table). Bit-identical to the ad-hoc
    // sq8TopK (SimilaritySpec pins it), so the oracle is unchanged.
    Query("q197_sq8_topk", (s, dir) => {
      val idx = fixturePath("sq8", dir, "embeddings")
      Similarity.ensureSq8Index(t(s, dir).embeddings, "vec_id", "embedding", idx)
      Similarity.sq8TopKIndexed(s, idx, "vec_id", queryId = 0L, k = 10)
    }, oracle =
      // SQ8: replay the quantization (round is half-away-from-zero in
      // both engines) and the integer dot product — bit-exact, no
      // rounding coarsening
      SqlSq8TopK),

    // ---------------- contrastive hard-negative mining (FULL oracle) ----------------
    // The training-pipeline retrieval shape contrastive learners need:
    // for each probe, the top-3 highest-cosine corpus vectors with a
    // DIFFERENT label ("close in embedding space, wrong class").
    // Exact over the probe batch — broadcast probes × one corpus scan
    // (linear; the q36/q88 batch geometry), ranked on the rounded
    // cosine for a cross-engine-stable cut.
    Query("q198_negative_mining", (s, dir) => {
      // probe batch capped (≤128 at any corpus size; no-op at test SFs)
      val emb = t(s, dir).embeddings
      Similarity.negativeMining(
          emb.filter(col("vec_id") % 100 === 0 && col("vec_id") < 12800), emb,
          "vec_id", "embedding", "label", k = 3)
        .orderBy(col("query_id"), col("cosine").desc, col("nn_id"))
    }, oracle =
      """WITH s AS (SELECT vec_id AS qid, embedding AS qe, label AS ql
                    FROM embeddings
                    WHERE vec_id % 100 = 0 AND vec_id < 12800),
         d AS (
           SELECT s.qid, e.vec_id AS nn_id, e.label AS neg_label,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
               CAST(s.qe AS DOUBLE[])), 6) AS cosine
           FROM s, embeddings e
           WHERE e.vec_id <> s.qid AND e.label <> s.ql),
         r AS (
           SELECT qid, nn_id, neg_label, cosine,
             row_number() OVER (PARTITION BY qid
               ORDER BY cosine DESC, nn_id) AS rn
           FROM d)
         SELECT CAST(qid AS BIGINT) AS query_id, CAST(nn_id AS BIGINT) AS nn_id,
           neg_label, cosine
         FROM r WHERE rn <= 3 ORDER BY query_id, cosine DESC, nn_id"""),

    // ---------------- MMR diversified retrieval ----------------
    // Maximal Marginal Relevance over the q33 query: greedy top-5
    // from a 32-candidate pool, λ=1/2 (ordering ≡ rel − maxSim, both
    // ×1e6 longs — fully integer, so the oracle replays the greedy
    // picks EXACTLY as five unrolled argmax layers). Distributed
    // work: one corpus scan (pool) + one poolN² sim job; the greedy
    // loop runs over parameter-sized driver state.
    Query("q201_mmr_rerank", (s, dir) => {
      val emb = t(s, dir).embeddings
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      Similarity.mmrTopK(emb, "vec_id", "embedding", q, k = 5, poolN = 32,
          excludeId = 0L)
        .orderBy("rank")
    }, oracle =
      // MMR λ=1/2 is fully integer (×1e6 rel/sim longs), so the greedy
      // selection replays EXACTLY as five unrolled argmax layers over
      // the same 32-candidate pool
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         cand AS (
           SELECT e.vec_id AS id,
             CAST(round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
               CAST(q.qe AS DOUBLE[])) * 1000000) AS BIGINT) AS rel,
             e.embedding AS v
           FROM embeddings e, q WHERE e.vec_id <> 0
           ORDER BY rel DESC, e.vec_id LIMIT 32),
         sim AS (
           SELECT a.id AS ia, b.id AS ib,
             CAST(round(list_cosine_similarity(CAST(a.v AS DOUBLE[]),
               CAST(b.v AS DOUBLE[])) * 1000000) AS BIGINT) AS s
           FROM cand a JOIN cand b ON a.id <> b.id),
         s1 AS (SELECT id, rel, rel AS score FROM cand ORDER BY rel DESC, id LIMIT 1),
         p1 AS (SELECT id FROM s1),
         s2 AS (SELECT c.id, c.rel, c.rel - max(m.s) AS score
           FROM cand c JOIN sim m ON m.ia = c.id AND m.ib IN (SELECT id FROM p1)
           WHERE c.id NOT IN (SELECT id FROM p1)
           GROUP BY c.id, c.rel ORDER BY score DESC, c.id LIMIT 1),
         p2 AS (SELECT id FROM p1 UNION ALL SELECT id FROM s2),
         s3 AS (SELECT c.id, c.rel, c.rel - max(m.s) AS score
           FROM cand c JOIN sim m ON m.ia = c.id AND m.ib IN (SELECT id FROM p2)
           WHERE c.id NOT IN (SELECT id FROM p2)
           GROUP BY c.id, c.rel ORDER BY score DESC, c.id LIMIT 1),
         p3 AS (SELECT id FROM p2 UNION ALL SELECT id FROM s3),
         s4 AS (SELECT c.id, c.rel, c.rel - max(m.s) AS score
           FROM cand c JOIN sim m ON m.ia = c.id AND m.ib IN (SELECT id FROM p3)
           WHERE c.id NOT IN (SELECT id FROM p3)
           GROUP BY c.id, c.rel ORDER BY score DESC, c.id LIMIT 1),
         p4 AS (SELECT id FROM p3 UNION ALL SELECT id FROM s4),
         s5 AS (SELECT c.id, c.rel, c.rel - max(m.s) AS score
           FROM cand c JOIN sim m ON m.ia = c.id AND m.ib IN (SELECT id FROM p4)
           WHERE c.id NOT IN (SELECT id FROM p4)
           GROUP BY c.id, c.rel ORDER BY score DESC, c.id LIMIT 1)
         SELECT * FROM (
           SELECT 1 AS rank, id AS vec_id, rel AS rel_i6, score AS mmr_i6 FROM s1
           UNION ALL SELECT 2, id, rel, score FROM s2
           UNION ALL SELECT 3, id, rel, score FROM s3
           UNION ALL SELECT 4, id, rel, score FROM s4
           UNION ALL SELECT 5, id, rel, score FROM s5) ORDER BY rank"""),

    // ---------------- SQ8 retrieve + exact re-rank (FULL oracle) ----------------
    // The production two-stage serve on the persisted SQ8 tier:
    // stage 1 reads ONLY the packed code column (top-50 by exact
    // int64 code dot), stage 2 re-ranks those 50 rows by rounded
    // float cosine. Deterministic end to end — both stages replay in
    // SQL, so unlike the PQ/IVF rerank shapes this needs no recall
    // envelope: the quantized candidate stage is exact over the
    // codes, and the re-rank repairs quantization for the final
    // ordering.
    Query("q206_sq8_rerank", (s, dir) => {
      val idx = fixturePath("sq8", dir, "embeddings")
      val emb = t(s, dir).embeddings
      Similarity.ensureSq8Index(emb, "vec_id", "embedding", idx)
      Similarity.sq8TopKReranked(s, idx, emb, "vec_id", "embedding",
        queryId = 0L, k = 10, rerank = 50)
    }, oracle =
      // two-stage serve: q197's code-dot stage feeding an exact rounded
      // cosine re-rank — both stages deterministic, replayed verbatim
      s"""WITH $SqlEmbeddingDims,
         $SqlSq8Codes,
         q AS (SELECT dim, code AS qc FROM c WHERE vec_id = 0),
         s1 AS (
           SELECT c.vec_id, CAST(sum(c.code * q.qc) AS BIGINT) AS qscore
           FROM c JOIN q ON c.dim = q.dim
           WHERE c.vec_id <> 0
           GROUP BY c.vec_id
           ORDER BY qscore DESC, c.vec_id LIMIT 50),
         qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         SELECT s1.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             CAST(qv.qe AS DOUBLE[])), 6) AS cosine,
           s1.qscore
         FROM s1 JOIN embeddings e ON e.vec_id = s1.vec_id CROSS JOIN qv
         ORDER BY cosine DESC, s1.vec_id LIMIT 10"""),

    // ---------------- IVF × SQ8 composed index (FULL-oracle envelope) ----------------
    // The FAISS-IVFSQ layout: code table partitioned by coarse-
    // quantizer list (directory pruning) storing ONLY packed 1-byte
    // codes — a query reads (nprobe/nlist) × 1/4 of the float corpus
    // bytes. The served index has undergone a PARTIAL LIST REBUILD
    // (its two most-occupied lists retrained from the persisted codes
    // under the frozen scales — the composed-tier maintenance path,
    // inside the one-time artifact publish), so the oracle also pins
    // that a rebuilt composed index serves correctly. Envelope keyed
    // on SQ8's OWN metric (stronger than the q50 brute-cosine form):
    // the hashed rows are the UNPRUNED full-corpus SQ8 top-10 —
    // bit-exact in DuckDB, q197's replay — plus two pruning
    // guarantees pinned TRUE: recall floor (the probed lists recover
    // >= 6/10 of the unpruned ranking) and per-rank domination
    // (pruning can only LOSE candidates — the pruned i-th score never
    // beats the unpruned i-th score).
    Query("q207_ivfsq8_topk", (s, dir) => {
      val emb = t(s, dir).embeddings
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val idx = fixturePath("ivfsq8r", dir, "embeddings")
      Artifact.ensure(idx) { tmp =>
        Similarity.buildIvfSq8Index(emb, "vec_id", "embedding",
          nlist = 16, tmp)
        // retrain the two most-occupied lists in place — the codes
        // are invariant (frozen scales); only list membership moves
        val top2 = s.read.parquet(s"$tmp/codes")
          .groupBy(col("__cid")).count()
          .orderBy(col("count").desc, col("__cid").asc).limit(2)
          .select(col("__cid")).collect().map(_.getInt(0)).toSeq
        Similarity.rebuildIvfSq8Lists(s, tmp, "vec_id", top2)
      }
      val full = Similarity.sq8TopK(emb, "vec_id", "embedding", 0L, 10)
      val pruned = Similarity.ivfSq8TopK(s, idx, "vec_id", q, 10,
        nprobe = 4, excludeId = 0L)
      val recall = full.select(col("vec_id"))
        .join(pruned.select(col("vec_id")), Seq("vec_id"), "left_semi")
        .agg((count(lit(1)) >= 6L).as("ivfsq8_recall_ok"))
      def ranked(df: DataFrame, prefix: String): DataFrame =
        df.agg(sort_array(collect_list(struct((-col("qscore")).as("__s"),
            col("vec_id").as("__id")))).as("a"))
          .select(posexplode(col("a")).as(Seq("rk", "r")))
          .select(col("rk"), (-col("r.__s")).as(s"${prefix}_s"))
      val dominated = ranked(full, "fu").join(ranked(pruned, "pr"), Seq("rk"), "left")
        .agg(coalesce(every(coalesce(col("pr_s") <= col("fu_s"), lit(true))),
          lit(true)).as("ivfsq8_dominated_ok"))
      full.crossJoin(broadcast(recall)).crossJoin(broadcast(dominated))
        .select(col("vec_id"), col("qscore"),
          col("ivfsq8_recall_ok"), col("ivfsq8_dominated_ok"))
        .orderBy(col("qscore").desc, col("vec_id"))
    }, oracle =
      // IVF-SQ8 envelope: the UNPRUNED SQ8 ranking replayed bit-exactly
      // (q197's device), the two pruning guarantees pinned TRUE
      s"""WITH $SqlEmbeddingDims,
         $SqlSq8Codes,
         q AS (SELECT dim, code AS qc FROM c WHERE vec_id = 0)
         SELECT c.vec_id, CAST(sum(c.code * q.qc) AS BIGINT) AS qscore,
           TRUE AS ivfsq8_recall_ok, TRUE AS ivfsq8_dominated_ok
         FROM c JOIN q ON c.dim = q.dim
         WHERE c.vec_id <> 0
         GROUP BY c.vec_id
         ORDER BY qscore DESC, c.vec_id LIMIT 10"""),

    // ---------------- filtered vector search (FULL oracle) ----------------
    // The filtered-ANN shape every vector store needs, as a
    // PRE-filter: the SQ8 code scan semi-joins the predicate's id set
    // BEFORE ranking — exact top-k over the filtered corpus, always
    // filled when survivors exist (post-filtering an unfiltered top-k
    // both under-fills and loses the best filtered candidates).
    // Deterministic integer ranking end to end → bit-exact oracle
    // (q197's replay + the label predicate). The query vector itself
    // is label-0's vec 0 — querying ACROSS categories, the normal
    // query-by-example case.
    Query("q208_sq8_filtered", (s, dir) => {
      val emb = t(s, dir).embeddings
      val idx = fixturePath("sq8", dir, "embeddings")
      Similarity.ensureSq8Index(emb, "vec_id", "embedding", idx)
      Similarity.sq8TopKFiltered(s, idx, "vec_id",
        emb.filter(col("label") === 1).select(col("vec_id")),
        queryId = 0L, k = 10)
    }, oracle =
      // filtered search: the same bit-exact code ranking restricted to
      // the predicate's id set (pre-filter semantics)
      s"""WITH $SqlEmbeddingDims,
         $SqlSq8Codes,
         q AS (SELECT dim, code AS qc FROM c WHERE vec_id = 0)
         SELECT c.vec_id, CAST(sum(c.code * q.qc) AS BIGINT) AS qscore
         FROM c JOIN q ON c.dim = q.dim
         JOIN embeddings e ON e.vec_id = c.vec_id
         WHERE c.vec_id <> 0 AND e.label = 1
         GROUP BY c.vec_id
         ORDER BY qscore DESC, c.vec_id LIMIT 10"""),

    // ---------------- SQ8 batch serve (FULL oracle) ----------------
    // The q88/q198 broadcast-batch geometry on the code tier: four
    // probe ids' codes broadcast from the code table, ONE code-column
    // scan, per-probe top-5 via a rank window (WindowGroupLimit keeps
    // the cut map-side). Exact integer ranking — the oracle replays
    // the quantization, the pairwise code dots, and the rank cut.
    Query("q211_sq8_batch", (s, dir) => {
      val idx = fixturePath("sq8", dir, "embeddings")
      Similarity.ensureSq8Index(t(s, dir).embeddings, "vec_id", "embedding", idx)
      Similarity.sq8TopKBatch(s, idx, "vec_id",
          probeIds = Seq(0L, 7L, 13L, 21L), k = 5)
        .orderBy(col("query_id"), col("qscore").desc, col("nn_id"))
    }, oracle =
      // batch serve: q197's quantization device crossed with the probe
      // set, per-probe rank cut — all integer, bit-exact
      s"""WITH $SqlEmbeddingDims,
         $SqlSq8Codes,
         q AS (SELECT vec_id AS query_id, dim, code AS qc FROM c
               WHERE vec_id IN (0, 7, 13, 21)),
         sc AS (
           SELECT q.query_id, c.vec_id AS nn_id,
             CAST(sum(c.code * q.qc) AS BIGINT) AS qscore
           FROM c JOIN q ON c.dim = q.dim AND c.vec_id <> q.query_id
           GROUP BY q.query_id, c.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY qscore DESC, nn_id) AS rn FROM sc)
         SELECT query_id, nn_id, qscore FROM r WHERE rn <= 5
         ORDER BY query_id, qscore DESC, nn_id"""),

    // ---------------- IVF centroid-drift report ----------------
    // The rebuild trigger appendIvfIndex's scaladoc promised: per-list
    // occupancy + mean residual vs the build-time baseline sidecar,
    // one vectors-table scan, list-count-sized output. Two lifecycles
    // measured: the corpus's own fresh index (every delta exactly 0 —
    // the report must NOT cry wolf) and a drifted lifecycle where a
    // distribution-shifted clone batch (dim 0 pushed hard — a new data
    // mode) appends under frozen centroids. Envelope oracle (the
    // q91/q105 pattern): row counts are DuckDB-computable, the
    // report's guarantees ride as pinned-TRUE verdicts.
    Query("q213_ivf_drift", (s, dir) => {
      val emb = t(s, dir).embeddings
      val fresh = fixturePath("ivf", dir, "embeddings")
      Similarity.ensureIvfIndex(emb, "vec_id", "embedding", nlist = 16, fresh)
      val ap = fixturePath("ivfdrift", dir, "embeddings")
      Artifact.ensure(ap) { tmp =>
        Similarity.buildIvfIndex(emb, "vec_id", "embedding", nlist = 16, tmp)
        Similarity.appendIvfIndex(s, tmp,
          emb.select((col("vec_id") + 1000000L).as("vec_id"),
            transform(col("embedding"),
              (x, i) => when(i === 0, x + lit(8.0f)).otherwise(x))
              .as("embedding")),
          "vec_id", "embedding")
      }
      val freshV = Similarity.ivfDriftReport(s, fresh, "embedding")
        .agg(sum(col("n_now")).as("n_fresh"),
          (sum(when(col("drifted"), 1L).otherwise(0L)) === 0L)
            .as("fresh_clean"))
      val apV = Similarity.ivfDriftReport(s, ap, "embedding")
        .agg(sum(col("n_now")).as("n_drifted_index"),
          (sum(when(col("drifted"), 1L).otherwise(0L)) > 0L)
            .as("drift_flagged"),
          (sum(when(col("drifted") && col("n_now") <= col("n_build"), 1L)
            .otherwise(0L)) === 0L).as("flagged_have_appends"))
      freshV.crossJoin(apV)
        .select(col("n_fresh"), col("n_drifted_index"), col("fresh_clean"),
          col("drift_flagged"), col("flagged_have_appends"))
    }, oracle =
      // drift report envelope: row accounting is DuckDB-computable
      // (every indexed row appears in exactly one list), the report's
      // guarantees ride as pinned-TRUE verdicts — fresh index clean,
      // shifted append flagged, every flagged list actually received
      // appends
      """SELECT
           CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_fresh,
           CAST(2 * (SELECT count(*) FROM embeddings) AS BIGINT)
             AS n_drifted_index,
           TRUE AS fresh_clean, TRUE AS drift_flagged,
           TRUE AS flagged_have_appends"""),

    // ---------------- binary (1-bit) quantization: two-stage serve (FULL oracle) ----------------
    // The smallest quantization tier (float -> SQ8 -> PQ -> 1-bit):
    // per-dimension midpoint binarization packs 64 dims into ONE
    // int64 word, stage 1 ranks by Hamming distance (xor+popcount,
    // all codegen'd built-ins), stage 2 re-ranks the top-50 by exact
    // rounded cosine — the q206 shape at 1/8 of SQ8's scan bytes.
    // Deterministic end to end (midpoint thresholds are order-
    // independent min/max stats; bits are exact double comparisons;
    // Hamming is integer math), so the full serve replays in SQL
    // with no recall envelope.
    Query("q217_binary_rerank", (s, dir) => {
      Similarity.binaryTopK(t(s, dir).embeddings, "vec_id", "embedding",
        queryId = 0L, k = 10, rerank = 50)
    }, oracle =
      // binary 1-bit tier: thresholds (order-independent midpoints),
      // bits, Hamming candidate cut, exact cosine re-rank — the whole
      // two-stage serve replayed; q218 carries it verbatim (the indexed
      // form is spec-pinned bit-identical to the ad-hoc one)
      SqlBinaryTwoStage),

    // ---------------- binary tier: persisted-index serve (FULL oracle) ----------------
    // The production half: codes + thresholds persist once
    // (ensureBinaryIndex, atomic under the Artifact protocol), stage 1
    // reads ONLY the packed int64 code column — 1/32 of the float
    // bytes — and the floats are touched just for the 50-row re-rank.
    // Quantization is a pure function of (vector, thresholds), so the
    // indexed serve is BIT-IDENTICAL to q217's ad-hoc form
    // (spec-pinned); the oracle is q217's verbatim.
    Query("q218_binary_indexed", (s, dir) => {
      val emb = t(s, dir).embeddings
      val idx = fixturePath("binq", dir, "embeddings")
      Similarity.ensureBinaryIndex(emb, "vec_id", "embedding", idx)
      Similarity.binaryTopKIndexed(s, idx, emb, "vec_id", "embedding",
        queryId = 0L, k = 10, rerank = 50)
    }, oracle = SqlBinaryTwoStage),

    // ---------------- quantization funnel capstone ----------------
    // The production serving funnel the tier family exists for,
    // composed end to end: stage 1 cuts the corpus to 200 candidates
    // by 1-bit Hamming (1/32 of the float bytes), stage 2 re-cuts to
    // 50 by the exact int64 SQ8 code dot (1/4 bytes, restricted to
    // stage 1's survivors), stage 3 ranks the final 10 by exact
    // rounded cosine. Every stage is deterministic (order-independent
    // sidecar stats, integer candidate math, rounded float final), so
    // the whole three-tier funnel replays in SQL — a FULL oracle over
    // a composition most vector stores can't even explain.
    Query("q226_quant_funnel", (s, dir) => {
      val emb = t(s, dir).embeddings
      val thr = Similarity.binThresholds(emb, "embedding")
      val scales = Similarity.sq8Scales(emb, "embedding")
      val q0 = emb.filter(col("vec_id") === 0)
        .select(Similarity.binQuantize(col("embedding"), thr).as("b"),
          Similarity.sq8Quantize(col("embedding"), scales).as("s"),
          col("embedding"))
        .head()
      val qBin = q0.getSeq[Long](0)
      val qSq8 = q0.getSeq[Long](1).toArray
      val qv = q0.getSeq[Float](2).toArray
      val s1 = emb.filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          Similarity.binHamming(Similarity.binQuantize(col("embedding"), thr),
            typedlit(qBin)).as("hamming"))
        .orderBy(col("hamming").asc, col("vec_id").asc)
        .limit(200)
      val s2 = emb.join(broadcast(s1), "vec_id")
        .select(col("vec_id"), col("hamming"),
          aggregate(zip_with(Similarity.sq8Quantize(col("embedding"), scales),
              typedlit(qSq8), (a, b) => a * b),
            lit(0L), (acc, v) => acc + v).as("qscore"))
        .orderBy(col("qscore").desc, col("vec_id").asc)
        .limit(50)
      emb.join(broadcast(s2), "vec_id")
        .select(col("vec_id"),
          round(VecFns.cosine(col("embedding"), typedlit(qv)), 6).as("cosine"),
          col("qscore"), col("hamming"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(10)
    }, oracle =
      // the three-tier funnel: 1-bit Hamming cut -> SQ8 code-dot cut ->
      // exact cosine final, replayed stage by stage
      s"""WITH $SqlEmbeddingDims,
         t AS (SELECT dim, (min(x) + max(x)) / 2 AS thr FROM d GROUP BY dim),
         b AS (SELECT vec_id, d.dim,
                 CASE WHEN x > thr THEN 1 ELSE 0 END AS bit
               FROM d JOIN t ON d.dim = t.dim),
         qb AS (SELECT dim, bit AS v FROM b WHERE vec_id = 0),
         m AS (SELECT dim, max(abs(x)) AS mx FROM d GROUP BY dim),
         c AS (SELECT vec_id, d.dim,
                 CASE WHEN mx > 0 THEN CAST(round(x * 127.0 / mx) AS BIGINT)
                      ELSE 0 END AS code
               FROM d JOIN m ON d.dim = m.dim),
         qc AS (SELECT dim, code AS v FROM c WHERE vec_id = 0),
         s1 AS (SELECT b.vec_id,
                  CAST(sum(CASE WHEN b.bit <> qb.v THEN 1 ELSE 0 END) AS BIGINT)
                    AS hamming
                FROM b JOIN qb ON b.dim = qb.dim
                WHERE b.vec_id <> 0
                GROUP BY b.vec_id
                ORDER BY hamming ASC, b.vec_id LIMIT 200),
         s2 AS (SELECT c.vec_id, s1.hamming,
                  CAST(sum(c.code * qc.v) AS BIGINT) AS qscore
                FROM c JOIN qc ON c.dim = qc.dim
                JOIN s1 ON s1.vec_id = c.vec_id
                GROUP BY c.vec_id, s1.hamming
                ORDER BY qscore DESC, c.vec_id LIMIT 50),
         qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         SELECT s2.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             CAST(qv.qe AS DOUBLE[])), 6) AS cosine,
           s2.qscore, s2.hamming
         FROM s2 JOIN embeddings e ON e.vec_id = s2.vec_id CROSS JOIN qv
         ORDER BY cosine DESC, s2.vec_id LIMIT 10"""),

    // ---------------- JL random projection + re-rank (FULL oracle) ----------------
    // The embedding-width reducer a 100 TB ANN tier runs before
    // quantizing: a dense ±1 JL matrix from the md5 sign device
    // (engine-identical digests — the "random" matrix replays in
    // SQL), inputs quantized to 1e-6 fixed point so every projected
    // coordinate is an exact integer dot. Used the only way a 4×
    // width cut is honest — as a CANDIDATE GENERATOR: stage 1 cuts to
    // 50 by integer L2 in the 16-dim space (at 64→16, ε≈0.57 fully
    // scrambles a top-10 ORDER on weakly-clustered data, which is why
    // the raw projected ranking is not the product), stage 2 re-ranks
    // by exact rounded cosine. Deterministic end to end.
    Query("q228_jl_projection", (s, dir) => {
      val emb = t(s, dir).embeddings
      val cands = Similarity.projectedTopK(emb, "vec_id", "embedding",
        inDim = 64, outDim = 16, seed = 7L, queryId = 0L, k = 50)
      val qv = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      emb.join(broadcast(cands), "vec_id")
        .select(col("vec_id"),
          round(VecFns.cosine(col("embedding"), typedlit(qv)), 6).as("cosine"),
          col("pl2"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(10)
    }, oracle =
      // JL projection: the md5 sign matrix, the 1e-6 input quantization,
      // and the integer projected-space L2 ranking all replayed
      s"""WITH $SqlEmbeddingDims,
         $SqlJlSigns,
         p AS (SELECT vec_id, j, CAST(sum(q * sgn) AS BIGINT) AS pj
               FROM vq JOIN s USING (dim) GROUP BY 1, 2),
         qp AS (SELECT j, pj AS qj FROM p WHERE vec_id = 0),
         dist AS (SELECT p.vec_id,
                    CAST(sum((pj - qj) * (pj - qj)) AS BIGINT) AS pl2
                  FROM p JOIN qp USING (j)
                  WHERE p.vec_id <> 0 GROUP BY 1
                  ORDER BY pl2 ASC, p.vec_id LIMIT 50),
         qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         SELECT dist.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
             CAST(qv.qe AS DOUBLE[])), 6) AS cosine,
           dist.pl2
         FROM dist JOIN embeddings e ON e.vec_id = dist.vec_id CROSS JOIN qv
         ORDER BY cosine DESC, dist.vec_id LIMIT 10"""),

    // ---------------- incremental PQ index append ----------------
    // The last ANN tier to gain a maintenance path: 3/4 of the
    // embeddings train the codebooks and build the code table; the
    // remaining quarter APPENDS under the frozen codebook sidecar
    // (Similarity.appendPqIndex — spec pins appended ≡ rebuilt with
    // the same codebooks, pre-append files byte-untouched). The whole
    // lifecycle runs inside one atomic artifact publish, so the query
    // is idempotent. Envelope oracle (q148's pattern): rows are the
    // exact L2 top-10 over the FULL corpus; verdicts pin the appended
    // index's ADC recall floor and exact-re-rank domination.
    Query("q234_pq_append_serve", (s, dir) => {
      val emb = t(s, dir).embeddings
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val idx = fixturePath("pqapp", dir, "embeddings")
      Similarity.ensureIndex(idx, Similarity.PqTier) { tmp =>
        Similarity.buildPqIndex(emb.filter(col("vec_id") % 4 =!= 3),
          "vec_id", "embedding", numSub = 8, k = 16, tmp)
        Similarity.appendPqIndex(s, tmp,
          emb.filter(col("vec_id") % 4 === 3), "vec_id", "embedding")
      }
      pqEnvelope(s, idx, emb, q, "pq_append_recall_ok", "pq_recall_dominated_ok")
        .select(col("vec_id"), col("l2"), col("pq_append_recall_ok"),
          col("pq_recall_dominated_ok"))
        .orderBy(col("l2").asc, col("vec_id"))
    }, oracle =
      // PQ append serve: exact L2 top-10 rows (q148's device) with the
      // appended-index guarantees pinned TRUE
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id,
           round(list_distance(CAST(e.embedding AS DOUBLE[]),
             CAST(q.embedding AS DOUBLE[])), 6) AS l2,
           TRUE AS pq_append_recall_ok, TRUE AS pq_recall_dominated_ok
         FROM embeddings e, q WHERE e.vec_id <> 0
         ORDER BY l2 ASC, e.vec_id LIMIT 10"""),

    // ---------------- PQ codebook-drift report ----------------
    // The q213 lifecycle one tier over: a fresh PQ index reports
    // exactly-zero per-subspace error deltas (the recomputation is
    // engine-exact), and a corpus grown by a dim-0-shifted mode flags
    // subspace 0 ALONE — the shifted dimension lives in the first
    // subspace, and duplicated values leave the other subspaces'
    // mean error untouched. Envelope oracle (verdicts pinned TRUE,
    // n accounted).
    Query("q237_pq_drift", (s, dir) => {
      val emb = t(s, dir).embeddings
      val idx = fixturePath("pq", dir, "embeddings")
      Similarity.ensurePqIndex(emb, "vec_id", "embedding",
        numSub = 8, k = 16, idx)
      val freshV = Similarity.pqDriftReport(s, idx, emb, "embedding")
        .agg(sum(col("n_now")).as("n_fresh"),
          (sum(when(col("drifted"), 1L).otherwise(0L)) === 0L)
            .as("fresh_clean"),
          (sum(abs(col("resid_delta_e6"))) === 0L).as("fresh_delta_zero"))
      val shifted = emb.select(col("vec_id"), col("embedding"))
        .unionByName(emb.select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, x + lit(8.0f)).otherwise(x))
            .as("embedding")))
      val driftV = Similarity.pqDriftReport(s, idx, shifted, "embedding")
        .agg((sum(when(col("drifted"), 1L).otherwise(0L)) === 1L)
            .as("one_sub_flagged"),
          (max(when(col("drifted"), col("sub"))) === 0L)
            .as("flagged_is_shifted_sub"))
      freshV.crossJoin(driftV)
        .select(col("n_fresh"), col("fresh_clean"), col("fresh_delta_zero"),
          col("one_sub_flagged"), col("flagged_is_shifted_sub"))
    }, oracle =
      // PQ drift lifecycle: verdicts pinned TRUE, corpus accounted
      // (n_fresh = 8 subspaces x corpus)
      """SELECT CAST(count(*) * 8 AS BIGINT) AS n_fresh,
           TRUE AS fresh_clean, TRUE AS fresh_delta_zero,
           TRUE AS one_sub_flagged, TRUE AS flagged_is_shifted_sub
         FROM embeddings"""),

    // ---------------- binary threshold-drift report ----------------
    // FULL oracle, unlike the k-means tiers: thresholds are
    // order-independent midpoints, so DuckDB re-derives the BUILD
    // side's sidecar from the build subset and the report's every
    // value replays — per-dim frozen threshold vs the grown corpus's
    // midpoint (the appended quarter shifted on dim 0 in DOUBLE
    // precision, both engines computing the identical IEEE values).
    Query("q238_bin_drift", (s, dir) => {
      val emb = t(s, dir).embeddings.select(col("vec_id"), col("embedding"))
      val idx = fixturePath("binb", dir, "embeddings")
      Similarity.ensureIndex(idx, Similarity.BinaryTier) { tmp =>
        Similarity.buildBinaryIndex(emb.filter(col("vec_id") % 4 =!= 3),
          "vec_id", "embedding", tmp)
      }
      val current = emb
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
        .unionByName(emb.filter(col("vec_id") % 4 === 3)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            transform(col("embedding").cast("array<double>"),
              (x, i) => when(i === 0, x + lit(8.0)).otherwise(x))
              .as("embedding")))
      Similarity.binDriftReport(s, idx, current, "embedding")
        .select(col("dim"), round(col("thr"), 6).as("thr"),
          round(col("mid_now"), 6).as("mid_now"),
          col("delta"), col("drifted"))
        .orderBy("dim")
    }, oracle =
      // binary threshold drift: the build sidecar re-derived from the
      // build subset; every report value replayed in exact arithmetic
      """WITH build AS (
           SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
           FROM embeddings WHERE vec_id % 4 <> 3),
         thr AS (
           SELECT dim, (min(x) + max(x)) / 2 AS t FROM build GROUP BY dim),
         cur0 AS (
           SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
           FROM embeddings
           UNION ALL
           SELECT dim, CASE WHEN dim = 0 THEN x + 8.0 ELSE x END
           FROM (
             SELECT generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS x
             FROM embeddings WHERE vec_id % 4 = 3)),
         now AS (
           SELECT dim, (min(x) + max(x)) / 2 AS mid,
             max(x) - min(x) AS rng
           FROM cur0 GROUP BY dim)
         SELECT CAST(n.dim AS BIGINT) AS dim,
           round(t.t, 6) AS thr, round(n.mid, 6) AS mid_now,
           round(abs(n.mid - t.t), 6) AS delta,
           round(abs(n.mid - t.t), 6) > round(n.rng * 0.25, 6) AS drifted
         FROM now n JOIN thr t ON t.dim = n.dim
         ORDER BY dim"""),

    // ---------------- JL kernel, SQL-pinned ----------------
    // The production JL path (Similarity.randomProjectPacked — the
    // sign matrix as ONE reference object riding a custom expression,
    // per-row integer matvec, measured 24-104x the joined form at
    // production width, SCALING.md r15) hash-compared COORDINATE BY
    // COORDINATE against the md5 sign device replayed in SQL — the
    // strongest statement that the fast kernel computes exactly the
    // operator it replaces (q228 pins the literal path to the same
    // device; SimilaritySpec pins all three paths pairwise).
    Query("q239_jl_kernel", (s, dir) =>
      t(s, dir).embeddings.select(col("vec_id"),
          posexplode(Similarity.randomProjectPacked(col("embedding"),
            64, 16, 7L)).as(Seq("j", "p")))
        .select(col("vec_id"), col("j").cast("long").as("j"), col("p"))
        .orderBy("vec_id", "j"), oracle =
      // the kernel's every projected coordinate vs the md5 sign device
      // (q228's quantization idiom)
      s"""WITH $SqlEmbeddingDims,
         $SqlJlSigns
         SELECT vec_id, CAST(j AS BIGINT) AS j,
           CAST(sum(q * sgn) AS BIGINT) AS p
         FROM vq JOIN s USING (dim) GROUP BY 1, 2 ORDER BY 1, 2"""),

    // ---------------- binary re-bin lifecycle ----------------
    // q237's pattern on the binary tier, with the REMEDY in the loop:
    // fresh index reads clean (exact-zero deltas), a dim-0-shifted
    // appended mode flags dim 0, then rebinBinaryIndex freezes new
    // midpoints + re-codes in one scan each — and the report reads
    // exactly-zero again. FULL oracle end to end (q238's property:
    // every value is order-independent IEEE min/max arithmetic, so
    // DuckDB replays all three lifecycle states bit-exactly —
    // including the REBUILT thresholds). Scratch index per call: the
    // rebin mutates it, so no artifact reuse.
    Query("q245_bin_rebin", (s, dir) => {
      val emb = t(s, dir).embeddings.select(col("vec_id"), col("embedding"))
      val scratch = scratchDir("q245")
      val idx = s"$scratch/idx"
      val build = emb.filter(col("vec_id") % 4 =!= 3)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
      Similarity.buildBinaryIndex(build, "vec_id", "embedding", idx)
      val grown = emb
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
        .unionByName(emb.filter(col("vec_id") % 4 === 3)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            transform(col("embedding").cast("array<double>"),
              (x, i) => when(i === 0, x + lit(8.0)).otherwise(x))
              .as("embedding")))
      // report plans embed the threshold sidecar as literals at call
      // time, so each lifecycle state's report is immune to the later
      // mutation
      val r0 = Similarity.binDriftReport(s, idx, build, "embedding")
        .select(col("dim"), col("delta").as("delta_fresh"),
          col("drifted").as("drifted_fresh"))
      // bring the code table to the grown corpus under the FROZEN
      // thresholds (the append path), then measure the drift
      Similarity.appendBinaryIndex(s, idx,
        grown.join(build.select("vec_id"), Seq("vec_id"), "left_anti"),
        "vec_id", "embedding")
      val r1 = Similarity.binDriftReport(s, idx, grown, "embedding")
        .select(col("dim"), round(col("thr"), 6).as("thr_frozen"),
          col("delta").as("delta_drift"),
          col("drifted").as("drifted_drift"))
      Similarity.rebinBinaryIndex(s, idx, grown, "vec_id", "embedding")
      val r2 = Similarity.binDriftReport(s, idx, grown, "embedding")
        .select(col("dim"), round(col("thr"), 6).as("thr_rebinned"),
          col("delta").as("delta_rebinned"),
          col("drifted").as("drifted_rebinned"))
      r0.join(r1, "dim").join(r2, "dim").orderBy("dim")
    }, oracle =
      // binary re-bin lifecycle: all three states' thresholds, deltas,
      // and verdicts replayed in exact IEEE min/max arithmetic
      """WITH bex AS (
           SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
           FROM embeddings WHERE vec_id % 4 <> 3),
         thrb AS (
           SELECT dim, (min(x) + max(x)) / 2 AS t,
             max(x) - min(x) AS rng0
           FROM bex GROUP BY dim),
         gex AS (
           SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
           FROM embeddings
           UNION ALL
           SELECT dim, CASE WHEN dim = 0 THEN x + 8.0 ELSE x END
           FROM (
             SELECT generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS x
             FROM embeddings WHERE vec_id % 4 = 3)),
         mid AS (
           SELECT dim, (min(x) + max(x)) / 2 AS m,
             max(x) - min(x) AS rng
           FROM gex GROUP BY dim)
         SELECT CAST(b.dim AS BIGINT) AS dim,
           round(abs(b.t - b.t), 6) AS delta_fresh,
           round(abs(b.t - b.t), 6) > round(b.rng0 * 0.25, 6)
             AS drifted_fresh,
           round(b.t, 6) AS thr_frozen,
           round(abs(m.m - b.t), 6) AS delta_drift,
           round(abs(m.m - b.t), 6) > round(m.rng * 0.25, 6)
             AS drifted_drift,
           round(m.m, 6) AS thr_rebinned,
           round(abs(m.m - m.m), 6) AS delta_rebinned,
           round(abs(m.m - m.m), 6) > round(m.rng * 0.25, 6)
             AS drifted_rebinned
         FROM thrb b JOIN mid m ON m.dim = b.dim
         ORDER BY dim"""),

    // ---------------- partial PQ rebuild lifecycle ----------------
    // The last maintenance asymmetry closed: q245's lifecycle shape
    // on the PQ tier. Fresh build → dim-0-shifted append (subspace 0
    // flags, the q237 fixture brought along as an INDEX mutation) →
    // rebuildPqSubspaces retrains ONLY subspace 0 (frozen cells seed
    // their own retrain; the other 7 codebooks and every unflagged
    // code VALUE stay bit-identical — verdict-pinned) → the drift
    // report reads clean, the flagged subspace's quantization error
    // shrank, and the serve path still exact-dominates off the
    // partially rebuilt index (q234's device). Exact rows: the L2
    // top-10 over the grown corpus, shift done in DOUBLE on both
    // sides (the q238 IEEE discipline). Scratch index per call: the
    // rebuild mutates it.
    Query("q247_pq_rebuild", (s, dir) => {
      // quarter-corpus fixture: the lifecycle (train → shifted append
      // → one-subspace flag → partial rebuild → serve) needs a
      // representative corpus, not the whole table — 16-cell Lloyd
      // converges identically in character at 1/4 width and the +8.0
      // shift dwarfs the quantization scale, while the per-rep bench
      // cost drops ~4× (the full-width wall-time finding lives in
      // ProbeMaintain `pqrebuild` / SCALING.md, where it belongs)
      val emb = t(s, dir).embeddings.select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") % 4 === 0)
      val scratch = scratchDir("q247")
      val idx = s"$scratch/idx"
      Similarity.buildPqIndex(emb, "vec_id", "embedding",
        numSub = 8, k = 16, idx)
      val shiftedD = emb.select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding").cast("array<double>"),
          (x, i) => when(i === 0, x + lit(8.0)).otherwise(x))
          .as("embedding"))
      val shiftedF = shiftedD.select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
      Similarity.appendPqIndex(s, idx, shiftedF, "vec_id", "embedding")
      val grownF = emb.unionByName(shiftedF)
      val pre = Similarity.pqDriftReport(s, idx, grownF, "embedding")
        .agg((sum(when(col("drifted"), 1L).otherwise(0L)) === 1L)
            .as("one_sub_flagged"),
          (max(when(col("drifted"), col("sub"))) === 0L)
            .as("flagged_is_shifted_sub"),
          max(when(col("sub") === 0L, col("resid_now_e6"))).as("__pre"))
        .head()
      def tailSum(): Long = s.read.parquet(s"$idx/codes")
        .agg(sum(pmod(xxhash64(col("vec_id"),
          to_json(slice(col("codes"), 2, 7))), lit(1000000007L))))
        .head().getLong(0)
      val tailPre = tailSum()
      Similarity.rebuildPqSubspaces(s, idx, grownF, "vec_id", "embedding",
        Seq(0))
      val tailPost = tailSum()
      val post = Similarity.pqDriftReport(s, idx, grownF, "embedding")
        .agg((sum(when(col("drifted"), 1L).otherwise(0L)) === 0L)
            .as("clean_after"),
          (sum(when(col("sub") === 0L, abs(col("resid_delta_e6")))
            .otherwise(lit(0L))) === 0L).as("rebuilt_delta_zero"))
        .head()
      val residPost = s.read.parquet(s"$idx/stats")
        .filter(col("sub") === 0)
        .select(col("resid_build_e6")).head().getLong(0)
      val q0 = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val grownD = emb
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
        .unionByName(shiftedD)
      pqEnvelope(s, idx, grownD, q0, "pq_recall_ok", "pq_dominated_ok")
        .select(col("vec_id"), col("l2"),
          lit(pre.getBoolean(0)).as("one_sub_flagged"),
          lit(pre.getBoolean(1)).as("flagged_is_shifted_sub"),
          lit(post.getBoolean(0)).as("clean_after"),
          lit(post.getBoolean(1)).as("rebuilt_delta_zero"),
          lit(residPost < pre.getLong(2)).as("resid_improved"),
          lit(tailPre == tailPost).as("tail_codes_invariant"),
          col("pq_recall_ok"), col("pq_dominated_ok"))
        .orderBy(col("l2").asc, col("vec_id"))
    }, oracle =
      // partial PQ rebuild lifecycle: exact L2 top-10 over the grown
      // corpus (shift replayed in DOUBLE, the q238 discipline; rows the
      // q234 device), rebuild guarantees as pinned-TRUE verdicts
      """WITH ed AS (
           SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
           FROM embeddings WHERE vec_id % 4 = 0),
         grown AS (
           SELECT vec_id, dim, x FROM ed
           UNION ALL
           SELECT vec_id + 1000000, dim,
             CASE WHEN dim = 1 THEN x + 8.0 ELSE x END
           FROM ed),
         qd AS (SELECT dim, x AS qx FROM ed WHERE vec_id = 0),
         gl AS (
           SELECT vec_id, list(x ORDER BY dim) AS v FROM grown
           GROUP BY vec_id),
         ql AS (SELECT list(qx ORDER BY dim) AS qv FROM qd)
         SELECT g.vec_id,
           round(list_distance(g.v, q.qv), 6) AS l2,
           TRUE AS one_sub_flagged, TRUE AS flagged_is_shifted_sub,
           TRUE AS clean_after, TRUE AS rebuilt_delta_zero,
           TRUE AS resid_improved, TRUE AS tail_codes_invariant,
           TRUE AS pq_recall_ok, TRUE AS pq_dominated_ok
         FROM gl g, ql q WHERE g.vec_id <> 0
         ORDER BY l2 ASC, g.vec_id LIMIT 10"""),
  )

  /** The IVF envelope's rows (q50, q186): the exact brute top-10 of `q`
    * over `emb` beside the index's recall verdict — the IVF scan of
    * `idx` (nprobe 4) recovers at least 6 of those 10.
    */
  private def ivfRecallEnvelope(s: SparkSession, emb: DataFrame, q: Array[Float],
                                idx: String): DataFrame = {
    val brute = Similarity.bruteTopK(emb, "vec_id", "embedding", q, 10,
      excludeId = 0L)
    val ivf = Similarity.ivfTopKIndexed(s, idx, "vec_id", "embedding", q, 10,
        nprobe = 4, excludeId = 0L)
      .select(col("vec_id"))
    val verdict = brute.select(col("vec_id"))
      .join(ivf, Seq("vec_id"), "left_semi")
      .agg((count(lit(1)) >= 6L).as("ivf_recall_ok"))
    brute.crossJoin(broadcast(verdict))
      .select(col("vec_id"), col("cosine"), col("ivf_recall_ok"))
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** The PQ envelope (q148, q234, q247): the exact L2 top-10 of `q` over
    * `emb` (id 0 excluded), crossed with two one-row verdicts over the
    * PQ serve of `idx` — `recallOk`, at least 6 of the 10 recovered, and
    * `dominatedOk`, no PQ rank beats the exact distance at that rank.
    * Rankings align through sorted-array folds (10-row aggregations, no
    * unpartitioned window).
    */
  private def pqEnvelope(s: SparkSession, idx: String, emb: DataFrame,
                         q: Array[Float], recallOk: String,
                         dominatedOk: String): DataFrame = {
    val exact = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), round(sqrt(
        VecFns.dot(col("embedding"), col("embedding"))
          - lit(2.0) * VecFns.dot(col("embedding"), typedlit(q))
          + lit(q.map(x => x.toDouble * x).sum)), 6).as("l2"))
      .orderBy(col("l2").asc, col("vec_id").asc).limit(10)
    val pq = Similarity.pqTopK(s, idx, emb, "vec_id", "embedding", q, 10,
      rerank = 100, excludeId = 0L)
    def ranked(df: DataFrame, prefix: String): DataFrame =
      df.agg(sort_array(collect_list(struct(col("l2").as("__d"),
          col("vec_id").as("__id")))).as("a"))
        .select(posexplode(col("a")).as(Seq("rk", "r")))
        .select(col("rk"), col("r.__d").as(s"${prefix}_d"))
    val dominated = ranked(exact, "ex").join(ranked(pq, "pq"), Seq("rk"))
      .agg(coalesce(every(col("pq_d") >= col("ex_d") - 1e-9), lit(true))
        .as(dominatedOk))
    val recall = exact.select(col("vec_id"))
      .join(pq.select(col("vec_id")), Seq("vec_id"), "left_semi")
      .agg((count(lit(1)) >= 6L).as(recallOk))
    exact.crossJoin(broadcast(recall)).crossJoin(broadcast(dominated))
  }
}
