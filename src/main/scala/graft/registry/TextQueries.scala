package graft
package registry

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TextFns
import graft.operators.{Artifact, Bloom, Chunking, Dedup, FreqSketch, InvertedIndex,
  Mixing, NbClassify, SegmentOps, Tagging, TextMetrics, UnigramLm}

import Support._
import graft.Sessions.materialized

/** Text and dedup: corpus statistics, tokenizers (BPE, unigram LM),
  * quality and language ID, PII and dictionary redaction, sampling and
  * mixing, exact / near / fuzzy / span / segment dedup and
  * decontamination, and the inverted index with BM25.
  */
private[graft] object TextQueries {

  def all: Seq[Query] = Seq(
    // ---------------- text: language stats ----------------
    Query("q24_lang_stats", (s, dir) => {
      t(s, dir).documents.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), round(avg(col("n_chars")), 4).as("avg_chars"))
        .orderBy("lang")
    }, oracle =
      """SELECT lang, count(*) AS n_docs, round(avg(n_chars),4) AS avg_chars
         FROM documents GROUP BY lang ORDER BY lang"""),

    // ---------------- text: token counting ----------------
    Query("q25_token_counts", (s, dir) => {
      t(s, dir).documents
        .select(col("doc_id"), TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id, len(string_split(text,' ')) AS n_tokens
         FROM documents ORDER BY doc_id"""),

    // ---------------- text: quality scoring facets ----------------
    Query("q26_quality", (s, dir) => {
      t(s, dir).documents
        .select(col("doc_id"),
          TextFns.tokenCount(col("text")).cast("long").as("n_tokens"),
          round(TextFns.distinctTokenRatio(col("text")), 4).as("diversity"),
          (TextFns.tokenCount(col("text")).between(20, 1000) &&
            TextFns.distinctTokenRatio(col("text")) > 0.3).as("is_quality"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id, len(string_split(text,' ')) AS n_tokens,
         round(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
           / len(string_split(text,' ')),4) AS diversity,
         (len(string_split(text,' ')) BETWEEN 20 AND 1000
          AND CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
            / len(string_split(text,' ')) > 0.3) AS is_quality
         FROM documents ORDER BY doc_id"""),

    // ---------------- text: language ID heuristic ----------------
    // Deterministic marker-token argmax — fully oracle-backed (the
    // DuckDB twin mirrors the distinct-intersection scoring and the
    // earlier-language tie-break as a cascading CASE). Self-check
    // additionally asserts the heuristic carries real signal —
    // accuracy vs the labeled lang column well above the 1-in-5
    // chance floor (measured ~0.41 on the synthetic corpus).
    Query("q27_langid", (s, dir) => {
      SelfCheck.once(s"q27/$dir") {
        val acc = t(s, dir).documents
          .agg(avg(when(TextFns.langId(col("text")) === col("lang"), 1.0)
            .otherwise(0.0)))
          .head().getDouble(0)
        require(acc >= 0.3, f"q27 langid accuracy $acc%.3f below 0.3 floor")
        SelfCheck.note(f"langid accuracy $acc%.3f vs gold labels (floor 0.3)")
      }
      t(s, dir).documents
        .select(col("doc_id"), col("lang"), TextFns.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id")
    }, oracle =
      """WITH toks AS (
           SELECT doc_id, lang, string_split(lower(text), ' ') AS tk
           FROM documents),
         sc AS (
           SELECT doc_id, lang,
             len(list_intersect(tk, ['the','a','and','of','to','in','is'])) AS s_en,
             len(list_intersect(tk, ['der','die','das','und','ist','nicht','ein'])) AS s_de,
             len(list_intersect(tk, ['el','la','los','las','es','una','que'])) AS s_es,
             len(list_intersect(tk, ['le','la','les','et','est','une','dans'])) AS s_fr,
             len(list_intersect(tk, ['的','了','是','我','不'])) AS s_zh
           FROM toks)
         SELECT doc_id, lang,
           CASE
             WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
             WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
             WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
             WHEN s_fr >= s_zh THEN 'fr'
             ELSE 'zh' END AS pred_lang
         FROM sc ORDER BY doc_id"""),

    // ---------------- text: document fingerprint ----------------
    Query("q28_fingerprints", (s, dir) => {
      t(s, dir).documents
        .select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
         FROM documents ORDER BY doc_id"""),

    // ---------------- dedup: exact groups ----------------
    Query("q29_exact_dedup", (s, dir) => {
      Dedup.exactDupGroups(t(s, dir).documents, col("doc_id"), col("text"))
        .select(col("fp"), col("canonical_id"), col("n_dups"))
        .orderBy("canonical_id")
    }, oracle =
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp,
         min(doc_id) AS canonical_id, count(*) AS n_dups
         FROM documents GROUP BY fp ORDER BY canonical_id"""),

    // ---------------- dedup: exact n-gram Jaccard pairs ----------------
    Query("q30_jaccard_pairs", (s, dir) => {
      Dedup.jaccardPairs(t(s, dir).documents, "doc_id", "text",
        n = JaccardShingleN, threshold = 0.6, maxShingleFreq = Long.MaxValue,
        shingles = Some(sharedShingles(s, dir)))
        .orderBy("id_a", "id_b")
    }, oracle =
      s"""WITH $SqlDocShingles,
         $SqlShingleOverlap
         SELECT id_a, id_b,
           round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
         FROM inter
         JOIN sz sa ON sa.doc_id = id_a
         JOIN sz sb ON sb.doc_id = id_b
         WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.6
         ORDER BY id_a, id_b"""),

    // ---------------- dedup: MinHash + LSH (FULL-oracle envelope) ----------------
    // The q91/q105 envelope pattern: the hashed rows are the EXACT
    // Jaccard>=t pair set (DuckDB-recomputable — the q30 relation,
    // same shared-shingle artifact) plus two verdict booleans the
    // oracle pins TRUE: subset_of_exact (every LSH-emitted pair is a
    // true pair — candidate verification is exact, so false positives
    // are impossible) and recall_ok (LSH recovered >= 80% of the
    // exact pairs). Both verdicts are distributed anti-/semi-join
    // counts over the FULL corpus at every SF — not fixture-limited.
    // The sf0.001 brute-force fixture SelfCheck stays as independent
    // ground truth for the exact side itself.
    Query("q31_minhash_neardups", (s, dir) => {
      if (SelfCheck.fixtureExists) SelfCheck.once("q31/fixture") {
        val docs = t(s, SelfCheck.FixtureDir).documents
        val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.6, Long.MaxValue)
          .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val mh = Dedup.minhashNearDups(docs, "doc_id", "text", 0.6)
          .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        require((mh diff exact).isEmpty,
          s"q31 false positives: ${(mh diff exact).take(5)}")
        require(exact.isEmpty || (mh intersect exact).size >= exact.size * 0.8,
          s"q31 recall ${(mh intersect exact).size}/${exact.size} below 0.8")
        SelfCheck.note(s"subset of exact holds (0 false positives); " +
          s"recall ${(mh intersect exact).size}/${exact.size} (floor 0.8)")
      }
      // the LSH pair relation is near-dup-sized but feeds three
      // consumers — materialize once so the banded join kernel runs a
      // single time, not per consumer; the exact side reads the
      // persisted pair artifact (standing pipeline state — its three
      // consumers are three scans of a tiny parquet)
      val exact = sharedPairs(s, dir)
      val mh = materialized(Dedup.minhashNearDups(t(s, dir).documents, "doc_id", "text",
          threshold = 0.6, shingleN = JaccardShingleN,
          shingles = Some(sharedShingles(s, dir)))
        .select(col("id_a"), col("id_b")))
      val exKeys = exact.select(col("id_a"), col("id_b"))
      val verdict = subsetRecallVerdict(mh, exKeys, floor = 0.8)
      exact.crossJoin(broadcast(verdict))
        .select(col("id_a"), col("id_b"), col("jaccard"),
          col("subset_of_exact"), col("recall_ok"))
        .orderBy("id_a", "id_b")
    }, oracle =
      // LSH envelope (the q91/q105 pattern): the exact Jaccard>=0.6
      // pair set recomputed (the q30 relation) keyed-hash-identical,
      // with the LSH guarantees — subset-of-exact (verification
      // exactness) and the 0.8 recall floor — pinned TRUE
      SqlJaccardEnvelope),

    // ---------------- dedup: SimHash (FULL-oracle envelope) ----------------
    // SimHash values are engine hashes (not SQL-recomputable), so the
    // envelope hashes the GUARANTEES: one verdict row whose n_docs the
    // oracle recomputes and whose booleans it pins TRUE —
    // subset_of_ham8 (every emitted pair's hamming, RE-derived from
    // the per-doc simhash relation, matches the emitted value and is
    // <= 8: verification exactness) and complete_ham3 (no hamming<=3
    // pair is missed, cross-checked against an INDEPENDENT 8×8-bit
    // band decomposition of the same hashes, which the banding
    // theorem makes complete for hamming<=7 ⊇ 3). Both checks are
    // distributed joins over the FULL corpus at every SF; the
    // sf0.001 brute-force fixture SelfCheck stays as the
    // decomposition-independent ground truth.
    Query("q32_simhash_neardups", (s, dir) => {
      if (SelfCheck.fixtureExists) SelfCheck.once("q32/fixture") {
        val docs = t(s, SelfCheck.FixtureDir).documents
        val sh = Dedup.simhash64(docs, "doc_id", col("text"))
        val a = sh.select(col("doc_id").as("id_a"), col("simhash").as("ha"))
        val b = sh.select(col("doc_id").as("id_b"), col("simhash").as("hb"))
        def brute(maxHam: Int) = a.join(b, col("id_a") < col("id_b"))
          .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= maxHam)
          .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val banded = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 8)
          .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val b8 = brute(8); val b3 = brute(3)
        require((banded diff b8).isEmpty, "q32 banded pairs beyond hamming 8")
        require((b3 diff banded).isEmpty, "q32 banding missed a hamming<=3 pair")
        SelfCheck.note(s"banded ${banded.size} pairs ⊆ brute hamming≤8 " +
          s"(${b8.size}); all ${b3.size} hamming≤3 pairs recovered (banding theorem)")
      }
      val docs = t(s, dir).documents
      // ONE simhash pass (the token-explode aggregation is the
      // query's dominant scan) shared by the banded run, the recheck
      // join, and the independent 8-band completeness run
      val sh = materialized(Dedup.simhash64(docs, "doc_id", col("text")))
      // the banded pair relation feeds two consumers (recheck +
      // completeness anti-join) — materialize so the band join runs once
      val banded = materialized(
        Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 8,
          hashes = Some(sh)))
      // subset/exactness: re-derive each emitted pair's hamming from
      // the per-doc hash relation and demand agreement and the <= 8
      // bound (empty output ⇒ vacuously true via coalesce)
      val rechecked = banded
        .join(sh.select(col("doc_id").as("id_a"), col("simhash").as("ha")), "id_a")
        .join(sh.select(col("doc_id").as("id_b"), col("simhash").as("hb")), "id_b")
        .agg(coalesce(every(
          bit_count(col("ha").bitwiseXOR(col("hb"))) === col("hamming") &&
            col("hamming") <= 8), lit(true)).as("subset_of_ham8"))
      // completeness: the independent 8-band decomposition is complete
      // for hamming<=7; none of its hamming<=3 pairs may be missing
      // from the 4-band output
      val missed = Dedup.simhashNearDups(docs, "doc_id", "text",
          maxHamming = 3, bands = 8, hashes = Some(sh))
        .select(col("id_a"), col("id_b"))
        .join(banded.select(col("id_a"), col("id_b")),
          Seq("id_a", "id_b"), "left_anti")
        .agg((count(lit(1)) === 0L).as("complete_ham3"))
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(rechecked))
        .crossJoin(broadcast(missed))
        .select(col("n_docs"), col("subset_of_ham8"), col("complete_ham3"))
    }, oracle =
      // SimHash envelope: hashes are engine-internal, so the oracle pins
      // the GUARANTEES — verification exactness (subset of hamming<=8,
      // re-derived values agree) and banding-theorem completeness for
      // hamming<=3 (cross-checked against the independent 8×8-bit
      // decomposition) — plus the corpus size it audited
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
           TRUE AS subset_of_ham8, TRUE AS complete_ham3
         FROM documents"""),

    // ---------------- BPE-ish subword token counting ----------------
    Query("q45_subword_counts", (s, dir) => {
      t(s, dir).documents
        .select(col("doc_id"),
          size(TextFns.subwordTokens(col("text"))).cast("long").as("n_subtokens"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
         CAST(len(regexp_extract_all(text,
           '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_subtokens
         FROM documents ORDER BY doc_id"""),

    // ---------------- decontamination: corpus × benchmark n-gram overlap ----------------
    // The training-pipeline gate that keeps evaluation data out of the
    // corpus: every (doc, benchmark doc) pair sharing >= 3 distinct
    // 3-gram shingles. Benchmark side broadcast — one linear scan of
    // the corpus, no self-join.
    Query("q65_contamination", (s, dir) => {
      val docs = t(s, dir).documents
      val bench = docs.filter(col("doc_id") % 50 === 0)
      // the benchmark is drawn from the corpus, so BOTH sides read the
      // shared shingle artifact — the bench side is a filter over it
      val sh = sharedShingles(s, dir)
      Dedup.contamination(docs, bench, "doc_id", "text",
        n = JaccardShingleN, minShared = 3,
        docShingles = Some(sh),
        benchShingles = Some(sh.filter(col("id") % 50 === 0)))
        .orderBy("doc_id", "bench_id")
    }, oracle =
      s"""WITH $SqlDocShingles,
         bex AS (SELECT doc_id AS bench_id, g FROM ex WHERE doc_id % 50 = 0)
         SELECT e.doc_id, b.bench_id, count(*) AS n_shared
         FROM ex e JOIN bex b ON e.g = b.g AND e.doc_id <> b.bench_id
         GROUP BY 1, 2 HAVING count(*) >= 3
         ORDER BY doc_id, bench_id"""),

    // ---------------- PII scrubbing (emails/phones → typed tokens) ----------------
    // The synthetic corpus carries no PII, so the query plants a
    // deterministic email+phone per doc, then counts and redacts —
    // the oracle recomputes both, so the regex passes must agree
    // byte-for-byte across engines.
    Query("q66_pii_redaction", (s, dir) => {
      t(s, dir).documents
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or 555-123-4567 now")).as("text2"))
        .select(col("doc_id"),
          TextFns.emailCount(col("text2")).cast("long").as("n_emails"),
          md5(TextFns.redactPii(col("text2"))).as("redacted_fp"))
        .orderBy("doc_id")
    }, oracle =
      """WITH aug AS (
           SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@example.com or 555-123-4567 now' AS text2
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text2,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           md5(regexp_replace(regexp_replace(text2,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '[PHONE]', 'g')) AS redacted_fp
         FROM aug ORDER BY doc_id"""),

    // ---------------- deterministic hash-based sampling ----------------
    // Reproducible across engines, retries, and partitionings (unlike
    // rand() sampling): keep rows whose md5(key) starts with 0/1/2 —
    // a 3/16 stratified-auditable sample.
    Query("q67_hash_sample", (s, dir) => {
      t(s, dir).documents
        .filter(TextFns.hashSample(col("doc_id"), Seq("0", "1", "2")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("lang")
    }, oracle =
      """SELECT lang, count(*) AS n_sampled, count(DISTINCT doc_id) AS n_docs
         FROM documents
         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2')
         GROUP BY lang ORDER BY lang"""),

    // ---------------- sequence packing into fixed token budgets ----------------
    // Documents → 2048-token training sequences over 8 parallel
    // packing streams; one window cumsum, no driver loop. Output is
    // the per-bin fill profile.
    Query("q68_sequence_packing", (s, dir) => {
      val assigned = graft.operators.Packing.packGreedy(
        t(s, dir).documents
          .select(col("doc_id"), TextFns.tokenCount(col("text")).as("nt")),
        col("doc_id"), col("nt"), buckets = 8, budgetTokens = 2048L)
      assigned.groupBy(col("bucket"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("bucket", "bin")
    }, oracle =
      """WITH sized AS (
           SELECT doc_id, doc_id % 8 AS bucket,
             len(string_split(text, ' ')) AS n_tokens
           FROM documents),
         cum AS (
           SELECT *, sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
           FROM sized)
         SELECT bucket, CAST(floor((c - n_tokens) / 2048.0) AS BIGINT) AS bin,
           count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         FROM cum GROUP BY bucket, bin
         ORDER BY bucket, bin"""),

    // ---------------- dedup-cluster resolution (connected components) ----------------
    // Near-dup pairs → components → canonical doc per cluster: the
    // step that turns "A≈B, B≈C" into "keep A". Iterative min-label
    // propagation (two shuffles per round, no driver-side graph); the
    // oracle recomputes the same components with a recursive CTE.
    Query("q69_dup_clusters", (s, dir) => {
      // contracted CC: components over cluster representatives, labels
      // expanded to members — never materializes the O(m²) member-pair
      // relation the oracle's recursive CTE walks. Built once and
      // persisted: q90 (corpus pruning) consumes the same relation.
      jaccardLabels(s, dir).orderBy("id")
    }, oracle =
      s"""WITH RECURSIVE $SqlDocShingles,
         $SqlShingleOverlap,
         $SqlJaccardPairs,
         $SqlPairComponents
         SELECT id, min(lbl) AS canonical_id FROM reach
         GROUP BY id ORDER BY id"""),

    // ---------------- top terms per language (explode + windowed top-k) ----------------
    Query("q46_top_terms", (s, dir) => {
      val toks = t(s, dir).documents
        .select(col("lang"), explode(TextFns.tokens(col("text"))).as("token"))
        .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("token").asc)
      toks.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("lang"), col("token"), col("n"), col("rk"))
        .orderBy("lang", "rk")
    }, oracle =
      """SELECT lang, token, n, rk FROM (
           SELECT lang, token, n, row_number() OVER
             (PARTITION BY lang ORDER BY n DESC, token) AS rk
           FROM (SELECT lang, token, count(*) AS n
                 FROM (SELECT lang, unnest(string_split(text,' ')) AS token
                       FROM documents)
                 GROUP BY lang, token))
         WHERE rk <= 5 ORDER BY lang, rk"""),

    // ---------------- intra-doc repetition metrics (Gopher-style quality) ----------------
    Query("q70_repetition", (s, dir) => {
      TextMetrics.ngramRepetition(t(s, dir).documents, "doc_id", col("text"), n = 2)
        .orderBy("doc_id")
    }, oracle =
      """WITH norm AS (
           SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS nt
           FROM documents),
         toks AS (
           SELECT doc_id, unnest(string_split(nt, ' ')) AS tok,
             generate_subscripts(string_split(nt, ' '), 1) AS ord
           FROM norm),
         grams AS (
           SELECT doc_id,
             tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY ord) AS g
           FROM toks QUALIFY g IS NOT NULL),
         counts AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2)
         SELECT doc_id, round(max(c)*1.0/sum(c), 6) AS top2_frac,
           round(sum(CASE WHEN c >= 2 THEN c ELSE 0 END)*1.0/sum(c), 6) AS dup2_frac,
           CAST(sum(c) AS BIGINT) AS n_grams
         FROM counts GROUP BY doc_id ORDER BY doc_id"""),

    // ---------------- domain-mixture resampling (deterministic per-source rates) ----------------
    // Target mixture: src{i} keeps (i%4)*4+4 sixteenths (25/50/75/100%)
    // — the rate formula is mirrored arithmetically in the oracle.
    Query("q71_domain_mix", (s, dir) => {
      val rates = (0 until 20).map(i => s"src$i" -> ((i % 4) * 4 + 4)).toMap
      Mixing.domainMix(t(s, dir).documents, col("doc_id"), col("source"), rates)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFns.tokenCount(col("text")).cast("long")).as("n_tokens"))
        .orderBy("source")
    }, oracle =
      """SELECT source, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         FROM documents
         WHERE strpos('0123456789abcdef',
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
           < (CAST(regexp_extract(source, '\d+') AS INT) % 4) * 4 + 4
         GROUP BY source ORDER BY source"""),

    // ---------------- sliding-window chunking (context-length training windows) ----------------
    Query("q72_chunking", (s, dir) => {
      Chunking.slidingChunks(t(s, dir).documents, "doc_id", col("text"),
          chunkSize = 64, stride = 32)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    }, oracle =
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS nt
           FROM documents),
         starts AS (
           SELECT doc_id, nt, unnest(generate_series(0, nt - 1, 32)) AS st
           FROM t),
         chunks AS (
           SELECT s.doc_id, CAST(s.st / 32 AS BIGINT) AS chunk_idx,
             list_slice(t.toks, s.st + 1, least(s.st + 64, s.nt)) AS ctoks
           FROM starts s JOIN t ON s.doc_id = t.doc_id)
         SELECT doc_id, chunk_idx, CAST(len(ctoks) AS BIGINT) AS chunk_tokens,
           md5(array_to_string(ctoks, ' ')) AS chunk_md5
         FROM chunks ORDER BY doc_id, chunk_idx"""),

    // ---------------- TF-IDF keyword per document ----------------
    Query("q80_tfidf_top_term", (s, dir) => {
      TextMetrics.tfidfTop1(t(s, dir).documents, "doc_id", col("text"))
        .orderBy("doc_id")
    }, oracle =
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text,' ')) AS token FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1,2),
         df AS (SELECT token, count(*) AS dfreq FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.token,
             round(tf.tf * ln((n.n_docs + 1.0)/(df.dfreq + 1.0)), 6) AS score
           FROM tf JOIN df USING (token) CROSS JOIN n),
         rk AS (SELECT doc_id, token, score, row_number() OVER
             (PARTITION BY doc_id ORDER BY score DESC, token) AS rk
           FROM scored)
         SELECT doc_id, token, score FROM rk WHERE rk = 1 ORDER BY doc_id"""),

    // ---------------- corpus-LM quality: mean unigram surprisal ----------------
    Query("q84_unigram_surprisal", (s, dir) => {
      TextMetrics.unigramSurprisal(t(s, dir).documents, "doc_id", col("text"))
        .orderBy("doc_id")
    }, oracle =
      s"""WITH $SqlUnigramLogProbs,
         per AS (SELECT doc_id, sum(lp4) AS slp, count(*) AS nt
           FROM tok JOIN lp USING (token) GROUP BY doc_id)
         SELECT doc_id, nt AS n_tokens,
           floor(CAST(slp AS DOUBLE)/(1e4*nt)*1e6 + 0.5)/1e6 AS avg_surprisal
         FROM per ORDER BY doc_id"""),

    // ---------------- frequent-items sketch: approx top terms per language ----------------
    // approx_top_k tracks a bounded item set (constant memory per
    // group at any corpus size) — the sketch complement of q46's
    // exact windowed top-k. Self-check: the deterministic exact top-1
    // token of every language must appear among the sketch's top 5,
    // and its sketched count must equal the exact count. Sketch
    // output order on tied counts is engine-specific → rows-only.
    // approx_top_k under a FULL-oracle exactness envelope: with
    // maxItemsTracked far above the vocabulary the sketch tracks
    // every item exactly, so its returned set must CONTAIN the exact
    // top-5 per language WITH exact counts — asserted under the
    // driver's hash, not just in-query: rows are keyed by the
    // DuckDB-computable exact top-5 and carry the sketch's count
    // (sketch_n), which the oracle pins to n_exact. k=50 buffer: a
    // tie GROUP at the rank-5 count can only evict an exact-top-5
    // token from the sketch's returned set if more than 50 tokens
    // share counts >= the boundary count — far past any plausible
    // head-of-distribution tie in this corpus (k rows are
    // parameter-sized either way).
    Query("q91_approx_top_terms", (s, dir) => {
      val toks = t(s, dir).documents
        .select(col("lang"), explode(TextFns.tokens(col("text"))).as("token"))
      val approx = toks.groupBy(col("lang"))
        .agg(expr("approx_top_k(token, 50, 100000)").as("top"))
        .select(col("lang"), explode(col("top")).as("e"))
        .select(col("lang"), col("e.item").as("token"),
          col("e.count").cast("long").as("sketch_n"))
      val exact = toks.groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).as("n_exact"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_exact").desc, col("token").asc)
      exact.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .join(approx, Seq("lang", "token"), "left")
        .select(col("lang"), col("rk"), col("token"), col("n_exact"),
          col("sketch_n"))
        .orderBy("lang", "rk")
    }, oracle =
      // the sketch's returned set must contain the exact top-5 with
      // exact counts (maxItemsTracked >> vocabulary): sketch_n == n_exact
      """WITH toks AS (SELECT lang, unnest(string_split(text,' ')) AS token
             FROM documents),
         exact AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS n_exact
             FROM toks GROUP BY lang, token),
         top AS (SELECT lang, token, n_exact,
             CAST(row_number() OVER (PARTITION BY lang
               ORDER BY n_exact DESC, token) AS BIGINT) AS rk
           FROM exact)
         SELECT lang, rk, token, n_exact, n_exact AS sketch_n
         FROM top WHERE rk <= 5 ORDER BY lang, rk"""),

    // ---------------- near-dup-pruned corpus: keep one doc per cluster ----------------
    // The consuming end of the dedup family: resolve near-dup
    // clusters, drop every non-canonical member, report the surviving
    // corpus per language. At scale this is the step that actually
    // shrinks the training set (the cluster labels are the q69
    // relation; pruning is one anti-join).
    Query("q90_neardup_prune", (s, dir) => {
      val docs = t(s, dir).documents
      val labels = jaccardLabels(s, dir)
      val drop = labels.filter(col("id") =!= col("canonical_id"))
        .select(col("id").as("doc_id"))
      docs.join(drop, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"))
        .orderBy("lang")
    }, oracle =
      s"""WITH RECURSIVE $SqlDocShingles,
         $SqlShingleOverlap,
         $SqlJaccardPairs,
         $SqlPairComponents,
         labels AS (SELECT id, min(lbl) AS canonical_id FROM reach GROUP BY id),
         dropped AS (SELECT id FROM labels WHERE id <> canonical_id)
         SELECT lang, count(*) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS kept_chars
         FROM documents d ANTI JOIN dropped x ON d.doc_id = x.id
         GROUP BY lang ORDER BY lang"""),

    // ---------------- incremental dedup: new batch vs archive fingerprints ----------------
    // Even doc_ids play the archive (only their fingerprint column
    // crosses the boundary), odd ids the incoming batch.
    Query("q89_incremental_dedup", (s, dir) => {
      val docs = t(s, dir).documents
      val seen = docs.filter(col("doc_id") % 2 === 0)
        .select(TextFns.fingerprint(col("text")).as("fp")).distinct()
      Dedup.dedupIncremental(docs.filter(col("doc_id") % 2 =!= 0), seen,
          "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("fp"))
        .orderBy("doc_id")
    }, oracle =
      """WITH fp AS (
           SELECT doc_id, lang, md5(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
           FROM documents),
         seen AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0),
         batch AS (SELECT * FROM fp WHERE doc_id % 2 <> 0)
         SELECT doc_id, lang, fp FROM (
           SELECT b.doc_id, b.lang, b.fp, row_number() OVER
             (PARTITION BY b.fp ORDER BY b.doc_id) AS rn
           FROM batch b ANTI JOIN seen s ON b.fp = s.fp)
         WHERE rn = 1 ORDER BY doc_id"""),

    // ---------------- curriculum binning: per-language length deciles ----------------
    Query("q85_length_deciles", (s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars"), col("doc_id"))
      t(s, dir).documents
        .select(col("lang"), col("n_chars"),
          ntile(10).over(w).cast("long").as("decile"))
        .groupBy(col("lang"), col("decile"))
        .agg(count(lit(1)).as("n"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("lang", "decile")
    }, oracle =
      """SELECT lang, decile, count(*) AS n,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
         FROM (SELECT lang, n_chars,
                 CAST(ntile(10) OVER (PARTITION BY lang
                   ORDER BY n_chars, doc_id) AS BIGINT) AS decile
               FROM documents)
         GROUP BY lang, decile ORDER BY lang, decile"""),

    // ---------------- deterministic epoch shuffle + sharding ----------------
    Query("q93_epoch_shuffle", (s, dir) => {
      Mixing.epochShuffle(t(s, dir).documents.select(col("doc_id"), col("lang")),
          col("doc_id"), epoch = 1, numShards = 8)
        .select(col("doc_id"), col("lang"),
          col("shard").cast("long").as("shard"), col("pos").cast("long").as("pos"))
        .orderBy("shard", "pos")
    }, oracle =
      """WITH s AS (
           SELECT doc_id, lang,
             md5('1:' || CAST(doc_id AS VARCHAR)) AS ord
           FROM documents),
         b AS (
           SELECT doc_id, lang, ord,
             (16*(strpos('0123456789abcdef', substr(md5(ord),1,1))-1)
               + (strpos('0123456789abcdef', substr(md5(ord),2,1))-1)) % 8
               AS shard
           FROM s)
         SELECT doc_id, lang, CAST(shard AS BIGINT) AS shard,
           CAST(row_number() OVER
             (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT) AS pos
         FROM b ORDER BY shard, pos"""),

    // ---------------- temperature-based domain mixture (α = 0.5) ----------------
    Query("q94_temperature_mix", (s, dir) => {
      Mixing.temperatureMix(t(s, dir).documents, col("doc_id"), col("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"))
        .orderBy("lang")
    }, oracle =
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         m AS (SELECT min(n) AS n_min FROM c),
         r AS (SELECT lang,
             CAST(floor(sqrt(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE)) * 256)
               AS INT) AS keep256
           FROM c, m),
         g AS (
           SELECT d.lang, d.n_chars,
             16*(strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)),1,1))-1)
              + (strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)),2,1))-1) AS bucket,
             keep256
           FROM documents d JOIN r USING (lang))
         SELECT lang, count(*) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS kept_chars
         FROM g WHERE bucket < keep256
         GROUP BY lang ORDER BY lang"""),

    // ---------------- vocabulary coverage: per-doc OOV rate ----------------
    Query("q95_oov_rate", (s, dir) => {
      TextMetrics.oovRate(t(s, dir).documents, "doc_id", col("text"),
          vocabSize = 24)
        .orderBy("doc_id")
    }, oracle =
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS token
           FROM documents),
         vc AS (
           SELECT token FROM (
             SELECT token, count(*) AS c FROM tok GROUP BY token
             ORDER BY c DESC, token ASC LIMIT 24)),
         j AS (
           SELECT t.doc_id, (v.token IS NOT NULL) AS iv
           FROM tok t LEFT JOIN vc v ON t.token = v.token)
         SELECT doc_id, count(*) AS n_tokens,
           CAST(sum(CASE WHEN iv THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
           round(CAST(sum(CASE WHEN iv THEN 0 ELSE 1 END) AS DOUBLE)
             / count(*), 6) AS oov_frac
         FROM j GROUP BY doc_id ORDER BY doc_id"""),

    // ---------------- per-class cap: deterministic hash-rank quota ----------------
    Query("q96_label_cap", (s, dir) => {
      Mixing.capPerGroup(t(s, dir).embeddings.select(col("vec_id"), col("label")),
          col("vec_id"), col("label"), cap = 20)
        .select(col("vec_id"), col("label"))
        .orderBy("label", "vec_id")
    }, oracle =
      """SELECT vec_id, label FROM (
           SELECT vec_id, label, row_number() OVER (
             PARTITION BY label
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
           FROM embeddings)
         WHERE rk <= 20 ORDER BY label, vec_id"""),

    // ---------------- sub-document dedup: corpus-wide duplicate segments ----------------
    Query("q98_segment_dedup", (s, dir) => {
      SegmentOps.dedupSegments(t(s, dir).documents, "doc_id", col("text"), segTokens = 3)
        .select(col("doc_id"), col("n_kept"), col("n_dropped"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    }, oracle =
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
         t AS (SELECT doc_id, unnest(range(1, len(toks)+1)) AS ord, toks FROM d),
         tok AS (SELECT doc_id, ord, toks[ord] AS tok FROM t),
         segs AS (SELECT doc_id, (ord-1)//3 AS seg,
             string_agg(tok, ' ' ORDER BY ord) AS seg_text
           FROM tok GROUP BY doc_id, (ord-1)//3),
         mk AS (SELECT doc_id, seg, seg_text, row_number() OVER
             (PARTITION BY seg_text ORDER BY doc_id, seg) AS rn FROM segs),
         rb AS (SELECT doc_id,
             sum(CASE WHEN rn=1 THEN 1 ELSE 0 END) AS n_kept,
             sum(CASE WHEN rn<>1 THEN 1 ELSE 0 END) AS n_dropped,
             string_agg(CASE WHEN rn=1 THEN seg_text END, ' ' ORDER BY seg)
               AS clean_text
           FROM mk GROUP BY doc_id)
         SELECT d2.doc_id, CAST(coalesce(n_kept,0) AS BIGINT) AS n_kept,
           CAST(coalesce(n_dropped,0) AS BIGINT) AS n_dropped,
           md5(coalesce(clean_text, '')) AS clean_md5
         FROM documents d2 LEFT JOIN rb ON d2.doc_id = rb.doc_id
         ORDER BY d2.doc_id"""),

    // ---------------- per-domain boilerplate stripping ----------------
    Query("q99_boilerplate_strip", (s, dir) => {
      SegmentOps.stripBoilerplate(t(s, dir).documents, "doc_id", col("text"),
          "source", segTokens = 2, maxDocFrac = 0.12)
        .select(col("doc_id"), col("source"), col("n_kept"), col("n_dropped"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    }, oracle =
      """WITH d AS (SELECT doc_id, source, string_split(text,' ') AS toks
           FROM documents),
         t AS (SELECT doc_id, source, unnest(range(1, len(toks)+1)) AS ord, toks
           FROM d),
         tok AS (SELECT doc_id, source, ord, toks[ord] AS tok FROM t),
         segs AS (SELECT doc_id, source, (ord-1)//2 AS seg,
             string_agg(tok, ' ' ORDER BY ord) AS seg_text
           FROM tok GROUP BY doc_id, source, (ord-1)//2),
         nd AS (SELECT source, count(DISTINCT doc_id) AS n_docs
           FROM documents GROUP BY source),
         freq AS (SELECT source, seg_text, count(DISTINCT doc_id) AS df
           FROM segs GROUP BY source, seg_text),
         chrome AS (SELECT f.source, f.seg_text FROM freq f
           JOIN nd ON f.source = nd.source
           WHERE CAST(df AS DOUBLE) >= CAST(n_docs AS DOUBLE) * 0.12),
         mk AS (SELECT s.doc_id, s.source, s.seg, s.seg_text,
             (c.seg_text IS NOT NULL) AS is_chrome
           FROM segs s LEFT JOIN chrome c
             ON s.source = c.source AND s.seg_text = c.seg_text)
         SELECT doc_id, source,
           CAST(sum(CASE WHEN is_chrome THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN is_chrome THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           md5(coalesce(string_agg(CASE WHEN NOT is_chrome THEN seg_text END,
             ' ' ORDER BY seg), '')) AS clean_md5
         FROM mk GROUP BY doc_id, source ORDER BY doc_id"""),

    // ---------------- count-min heavy hitters (sketch family) ----------------
    // count-min heavy hitters under a FULL-oracle bound envelope:
    // the estimates themselves are sketch-internal (DuckDB cannot
    // reproduce them), but their GUARANTEES are SQL rows — exact ≤
    // est (always, by construction) and est ≤ exact + ceil(eps·N)
    // (the accuracy contract) ride under the driver's hash as
    // envelope booleans next to the DuckDB-recomputed exact top-20.
    Query("q105_cms_heavy_hitters", (s, dir) => {
      val toks = t(s, dir).documents
        .select(explode(split(col("text"), " ")).as("token"))
      // N for the eps·N slack comes from the sketch's own stream
      // length — no second corpus scan
      val (top, total) = FreqSketch.estimateTopKWithTotal(toks,
        col("token"), 20, eps = 0.001, confidence = 0.99, seed = 42)
      val slack = math.ceil(0.001 * total).toLong
      top
        .select(col("item").as("token"), col("exact_n").as("n_exact"),
          (col("est_n") >= col("exact_n")).as("cms_lower_ok"),
          (col("est_n") <= col("exact_n") + lit(slack)).as("cms_upper_ok"))
        .orderBy(col("n_exact").desc, col("token").asc)
    }, oracle =
      // the CMS envelope: both bound booleans must be TRUE for every
      // exact top-20 token; the exact counts are recomputed here
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token
             FROM documents)
         SELECT token, n_exact, TRUE AS cms_lower_ok, TRUE AS cms_upper_ok
         FROM (SELECT token, CAST(count(*) AS BIGINT) AS n_exact FROM toks
               GROUP BY token ORDER BY n_exact DESC, token LIMIT 20)
         ORDER BY n_exact DESC, token"""),

    // ---------------- inverted-index construction ----------------
    Query("q107_inverted_index", (s, dir) => {
      InvertedIndex.build(t(s, dir).documents, "doc_id", col("text"))
        .orderBy("term", "doc_id")
    }, oracle =
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
         t AS (SELECT doc_id, unnest(range(1, len(toks)+1)) AS ord, toks FROM d),
         tok AS (SELECT doc_id, ord-1 AS pos, toks[ord] AS term FROM t)
         SELECT term, doc_id, count(*) AS tf,
           string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS positions
         FROM tok GROUP BY term, doc_id ORDER BY term, doc_id"""),

    // ---------------- index-backed boolean search ----------------
    Query("q108_index_search", (s, dir) => {
      val postings = InvertedIndex.build(t(s, dir).documents, "doc_id", col("text"))
      InvertedIndex.searchAll(postings, "doc_id", Seq("spark", "window"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id FROM documents
         WHERE list_contains(string_split(text,' '), 'spark')
           AND list_contains(string_split(text,' '), 'window')
         ORDER BY doc_id"""),

    // ---------------- Bloom-prefiltered incremental dedup ----------------
    Query("q113_bloom_prefilter", (s, dir) => {
      // Same archive/batch split as q89; the Bloom pre-filter must be
      // output-invisible (no false negatives), so the full DuckDB
      // oracle is the PLAIN anti-join — the strongest possible check
      // of the bloom path.
      val docs = t(s, dir).documents
      val archive = docs.filter(col("doc_id") % 2 === 0)
        .select(TextFns.fingerprint(col("text")).as("fp")).distinct()
      val batch = docs.filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp"))
      Bloom.prefilteredAntiJoin(batch, "fp", archive, "fp",
          mBits = 1L << 20, k = 5)
        .select(col("doc_id"), col("fp")).orderBy("doc_id")
    }, oracle =
      """WITH fp AS (
           SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
           FROM documents),
         archive AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0),
         batch AS (SELECT doc_id, fp FROM fp WHERE doc_id % 2 <> 0)
         SELECT doc_id, fp FROM batch b ANTI JOIN archive a ON b.fp = a.fp
         ORDER BY doc_id"""),

    // ---------------- edit-distance similarity join ----------------
    Query("q115_edit_neardups", (s, dir) => {
      // length-blocked exact Levenshtein join on a bounded slice
      // (p_size = 1); oracle is the NAIVE all-pairs join — proves the
      // blocking lossless end-to-end
      val names = t(s, dir).part.filter(col("p_size") === 1)
        .select(col("p_partkey"), col("p_name"))
      graft.operators.EditJoin.editSimilarityJoin(names, "p_partkey", "p_name", 3)
        .orderBy("id_a", "id_b")
    }, oracle =
      """WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_size = 1)
         SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           levenshtein(a.p_name, b.p_name) AS dist
         FROM p a JOIN p b ON a.p_partkey < b.p_partkey
         WHERE levenshtein(a.p_name, b.p_name) <= 3
         ORDER BY id_a, id_b"""),

    // ---------------- entity resolution capstone ----------------
    Query("q121_entity_resolution", (s, dir) => {
      // fuzzy blocking (lossless length-binned edit join) → connected
      // components → min-id canonical entity + its name: the
      // record-linkage pipeline as a composition of three registered
      // operators, oracle-checked end-to-end
      val names = t(s, dir).part.filter(col("p_size") === 1)
        .select(col("p_partkey"), col("p_name"))
      val pairs = graft.operators.EditJoin
        .editSimilarityJoin(names, "p_partkey", "p_name", 3)
        .select(col("id_a"), col("id_b"))
      val labels = Dedup.dupClusters(pairs)
      names.join(labels, names("p_partkey") === labels("id"), "left")
        .select(col("p_partkey"),
          coalesce(col("canonical_id"), col("p_partkey")).as("entity_id"))
        .join(names.select(col("p_partkey").as("entity_id"),
          col("p_name").as("canonical_name")), Seq("entity_id"))
        .select(col("p_partkey"), col("entity_id"), col("canonical_name"))
        .orderBy("p_partkey")
    }, oracle =
      s"""WITH RECURSIVE p AS (
           SELECT p_partkey, p_name FROM part WHERE p_size = 1),
         pairs AS (
           SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
           FROM p a JOIN p b ON a.p_partkey < b.p_partkey
           WHERE levenshtein(a.p_name, b.p_name) <= 3),
         $SqlPairComponents,
         labels AS (SELECT id, min(lbl) AS canonical_id FROM reach GROUP BY id)
         SELECT p.p_partkey,
           coalesce(l.canonical_id, p.p_partkey) AS entity_id,
           c.p_name AS canonical_name
         FROM p LEFT JOIN labels l ON l.id = p.p_partkey
         JOIN p c ON c.p_partkey = coalesce(l.canonical_id, p.p_partkey)
         ORDER BY p.p_partkey"""),

    // ---------------- BM25 ranked retrieval over the inverted index ----------------
    // 'dup' is the corpus's one rare token (df 25/500 at sf0.01), so
    // the idf weighting actually decides the ranking; the flat-df
    // terms contribute mostly length normalization.
    Query("q137_bm25_topk", (s, dir) =>
      InvertedIndex.bm25TopK(t(s, dir).documents, "doc_id", col("text"),
        Seq("dup", "spark", "window"), k = 10), oracle =
      SqlBm25TopK),

    // ---------------- fuzzy dimension linkage (Jaro-Winkler) ----------------
    // Probe × small-dimension linkage: every customer scored against
    // the broadcast supplier names, best match kept via one partial-
    // aggregable min(struct) — no per-customer window shuffle. The
    // (1-jw, s_name) struct ordering IS (jw desc, s_name asc):
    // 1-x is monotone and the jw grid (1e-6 after rounding) is 10
    // orders coarser than double rounding error.
    Query("q140_jaro_linkage", (s, dir) => {
      // the broadcast cross join inherits the PROBE side's
      // partitioning, and a dimension-sized parquet file is one
      // partition — which would run all |C|×|S| scorings on one core
      // (measured 43 s at sf0.1). Spread the probe first; at cluster
      // scale the probe is already many-partitioned and this is a
      // no-op-sized shuffle either way.
      val c = t(s, dir).customer.select(col("c_custkey"), col("c_name"))
        .repartition(s.sparkContext.defaultParallelism)
      val sup = t(s, dir).supplier.select(col("s_name"))
      val best = c.crossJoin(broadcast(sup))
        .withColumn("jw", round(TextFns.jaroWinkler(col("c_name"), col("s_name")), 6))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(min(struct((lit(1.0) - col("jw")).as("ljw"),
          col("s_name").as("sn"), col("jw").as("j"))).as("b"))
        .select(col("c_custkey"), col("c_name"),
          col("b.sn").as("best_supplier"), col("b.j").as("jw"))
      best.orderBy("c_custkey")
    }, oracle =
      """WITH scored AS (
           SELECT c.c_custkey, c.c_name, s.s_name,
             round(jaro_winkler_similarity(c.c_name, s.s_name), 6) AS jw
           FROM customer c CROSS JOIN supplier s),
         best AS (
           SELECT c_custkey, c_name, s_name, jw,
             row_number() OVER (PARTITION BY c_custkey
               ORDER BY jw DESC, s_name) AS rn
           FROM scored)
         SELECT c_custkey, c_name, s_name AS best_supplier, jw
         FROM best WHERE rn = 1 ORDER BY c_custkey"""),

    // ---------------- bigram-LM fluency scoring ----------------
    Query("q142_bigram_surprisal", (s, dir) =>
      TextMetrics.bigramSurprisal(t(s, dir).documents, "doc_id", col("text"))
        .orderBy("doc_id"), oracle =
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         bg AS (
           SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i + 1] AS bg
           FROM toks, unnest(range(1, len(t))) AS u(i)),
         pair AS (SELECT w1, bg, count(*) AS c FROM bg GROUP BY 1, 2),
         head AS (SELECT w1, sum(c) AS h FROM pair GROUP BY 1),
         lp AS (SELECT bg,
             CAST(floor(-ln(CAST(c AS DOUBLE)/h)*1e4 + 0.5) AS BIGINT) AS lp4
           FROM pair JOIN head USING (w1)),
         per AS (SELECT doc_id, sum(lp4) AS slp, count(*) AS nb
           FROM bg JOIN lp USING (bg) GROUP BY doc_id)
         SELECT doc_id, nb AS n_bigrams,
           floor(CAST(slp AS DOUBLE)/(1e4*nb)*1e6 + 0.5)/1e6 AS avg_surprisal
         FROM per ORDER BY doc_id"""),

    // ---------------- distributed BPE vocabulary learning ----------------
    // Iterative argmax loop (like PageRank's iterations) — and since
    // round 13 a FULL-oracle row: the training loop itself replays in
    // DuckDB as 12 unrolled argmax CTE layers (bpeLearnOracleSql — the
    // q201 greedy-unroll device; all-integer, bit-exact). The two
    // self-checks stay as independent evidence: (a) fixture equality
    // against a sequential in-JVM BPE reference — the full merge
    // SEQUENCE must match exactly; (b) at every scale, the argmax pair
    // count is provably non-increasing step-over-step (a merged
    // token's new pairs inherit at most the merged pair's count), so a
    // violation means the loop state corrupted.
    Query("q144_bpe_merges", (s, dir) => {
      if (SelfCheck.fixtureExists) SelfCheck.once("q144/fixture") {
        val fx = t(s, SelfCheck.FixtureDir).documents
        val got = graft.operators.BpeLearn
          .learnMerges(fx, col("text"), numMerges = 8)
          .select("step", "left", "right", "pair_count")
          .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
        val words = fx.select(explode(TextFns.tokens(col("text"))).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy("w").count()
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        val want = graft.operators.BpeLearn.learnMergesLocal(words, numMerges = 8)
        require(got == want,
          s"q144 distributed merges diverge from the sequential reference:\n$got\nvs\n$want")
        SelfCheck.note(s"fixture merge sequence (8 steps) identical to sequential BPE")
      }
      val m = graft.operators.BpeLearn
        .learnMerges(t(s, dir).documents, col("text"), numMerges = 12)
      SelfCheck.every(s"q144/$dir") {
        val counts = m.orderBy("step").select("pair_count")
          .collect().map(_.getLong(0)).toSeq
        val bad = counts.zip(counts.drop(1)).count { case (a, b) => b > a }
        require(bad == 0, s"q144 pair counts increased step-over-step: $counts")
        SelfCheck.note(s"12 merge steps, counts non-increasing " +
          s"(${counts.headOption.getOrElse(-1L)} → ${counts.lastOption.getOrElse(-1L)})")
      }
      // step as BIGINT on both sides (the driver's hash is dtype-exact)
      m.select(col("step").cast("long").as("step"), col("left"),
          col("right"), col("merged"), col("pair_count"))
        .orderBy("step")
    }, oracle =
      // the BPE training loop itself, re-learned inside DuckDB as 12
      // unrolled argmax layers (all-integer — bit-exact, no envelope)
      bpeLearnOracleSql(steps = 12)),

    // ---------------- token-budget corpus cut ----------------
    // Spend a 4000-token budget per language in deterministic md5
    // priority order (q125 computes budgets; this cuts the corpus to
    // them — the last step of training-mix assembly).
    Query("q145_token_budget", (s, dir) =>
      Mixing.tokenBudgetSample(t(s, dir).documents, col("lang"), col("doc_id"),
        TextFns.tokenCount(col("text")), budget = 4000L)
        .orderBy("id"), oracle =
      """WITH d AS (SELECT doc_id AS id, lang AS grp,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
         c AS (SELECT id, grp, n_tok,
             CAST(coalesce(sum(n_tok) OVER (PARTITION BY grp
               ORDER BY md5(CAST(id AS VARCHAR)), id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
           FROM d)
         SELECT id, grp, n_tok, cum_before FROM c
         WHERE cum_before < 4000 ORDER BY id"""),

    // ---------------- per-language domain drift (KL divergence) ----------------
    Query("q149_domain_kl", (s, dir) =>
      TextMetrics.domainKl(t(s, dir).documents, "lang", col("text"))
        .orderBy("lang"), oracle =
      """WITH tok AS (
           SELECT lang AS g, unnest(string_split(text, ' ')) AS token
           FROM documents),
         gl AS (SELECT g, token, count(*) AS nl FROM tok GROUP BY 1, 2),
         gn AS (SELECT g, sum(nl) AS ntot FROM gl GROUP BY 1),
         cv AS (SELECT token, sum(nl) AS c FROM gl GROUP BY 1),
         n AS (SELECT sum(c) AS n FROM cv),
         lr AS (SELECT g, nl, ntot,
             CAST(floor(ln(CAST(nl AS DOUBLE) * n.n
               / (CAST(ntot AS DOUBLE) * c)) * 1e4 + 0.5e0) AS BIGINT) AS lr4
           FROM gl JOIN gn USING (g) JOIN cv USING (token) CROSS JOIN n),
         agg AS (SELECT g, sum(nl * lr4) AS fp, max(ntot) AS ntot
           FROM lr GROUP BY g)
         SELECT g AS lang, CAST(ntot AS BIGINT) AS n_tokens,
           floor(CAST(fp AS DOUBLE) / (1e4 * ntot) * 1e6 + 0.5e0) / 1e6 AS kl
         FROM agg ORDER BY lang"""),

    // ---------------- BPE encode: tokenize with a merge table ----------------
    // The APPLY half of the q144 tokenizer: a pinned 18-merge table
    // (vocabulary-shaped chains like t→ta→tab→table) applied in
    // priority order by pure replace()-chain expressions in the scan
    // stage; output is per-doc word and subword-token counts. The
    // fixture self-check pins the distributed kernel against the
    // sequential greedy encoder word by word.
    Query("q151_bpe_encode", (s, dir) => {
      if (SelfCheck.fixtureExists) SelfCheck.once("q151/fixture") {
        val docs = t(s, SelfCheck.FixtureDir).documents
        val words = docs.select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) > 0).distinct()
          .collect().map(_.getString(0)).toSeq.sorted
        // one Spark job over the distinct vocabulary (each word is its
        // own single-word doc), compared word-by-word with the
        // sequential greedy reference
        import scala.jdk.CollectionConverters._
        val wordsDf = s.createDataFrame(
          words.zipWithIndex.map { case (w, i) =>
            org.apache.spark.sql.Row(i.toLong, w) }.asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("text",
              org.apache.spark.sql.types.StringType))))
        val viaSpark = graft.operators.BpeLearn
          .encode(wordsDf, "doc_id", col("text"), BpeMerges)
          .select(col("doc_id"), col("tokens"))
          .collect()
          .map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
        words.zipWithIndex.foreach { case (w, i) =>
          val want = graft.operators.BpeLearn.encodeLocal(w, BpeMerges)
          require(viaSpark(i.toLong) == want,
            s"q151 encode('$w') = ${viaSpark(i.toLong)}, sequential reference = $want")
        }
        SelfCheck.note(s"BPE encode ≡ sequential greedy on all " +
          s"${words.size} fixture vocabulary words")
      }
      graft.operators.BpeLearn
        .encode(t(s, dir).documents, "doc_id", col("text"), BpeMerges)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(size(col("tokens"))).as("n_tokens"))
        .orderBy("doc_id")
    }, oracle = {
      // the replace()-chain mirror of BpeLearn.encode: two passes per
      // merge, generated from the same pinned table
      val enc = BpeMerges.foldLeft(
        "' ' || array_to_string(string_split(wd, ''), ' ') || ' '") {
        case (sql, (a, b)) =>
          val pat = s"' $a $b '"; val rep = s"' ${a + b} '"
          s"replace(replace($sql, $pat, $rep), $pat, $rep)"
      }
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS wd
           FROM documents),
         f AS (SELECT doc_id, wd FROM w WHERE len(wd) > 0),
         e AS (SELECT doc_id,
             CAST(len(string_split(trim($enc), ' ')) AS BIGINT) AS nt
           FROM f)
         SELECT doc_id, count(*) AS n_words,
           CAST(sum(nt) AS BIGINT) AS n_tokens
         FROM e GROUP BY doc_id ORDER BY doc_id"""
    }),

    // ---------------- duplicated-span removal (exact substring dedup) ----------------
    // Lee et al. 2022's span-dedup semantics as relational algebra
    // (no suffix array): every 8-word span occurring more than once
    // in the corpus is removed everywhere but its globally first
    // occurrence (keep-first min (doc_id, pos)); contiguous removals
    // merge into maximal regions (RangeJoin.mergeIntervals). FULL
    // oracle: DuckDB replays span hashing (md5 of the space-joined
    // words), the keep-first window, the island fold, and the
    // cleaned-text md5 — every emitted number and fingerprint is
    // engine-exact.
    Query("q180_span_dedup", (s, dir) => {
      Dedup.spanDedup(t(s, dir).documents, "doc_id", "text", k = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }, oracle =
      // the oracle replays the whole span-dedup pipeline: md5 8-gram
      // span keys, keep-first via a (doc_id, pos) window rank per key,
      // the q168-style island fold (maxGap=1: touching spans are one
      // region), and the cleaned-text md5 rebuilt by dropping words
      // whose position falls in a removed region
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                      md5(array_to_string(ws[i:i+7], ' ')) AS h
               FROM w, unnest(range(1, len(ws) - 6)) AS t(i)),
         m AS (SELECT doc_id, pos,
                      count(*) OVER (PARTITION BY h) AS n_occ,
                      row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
               FROM g),
         iv AS (SELECT doc_id, pos AS s, pos + 7 AS e
                FROM m WHERE n_occ > 1 AND rn > 1),
         $SqlIslandMerge
         ORDER BY w.doc_id"""),

    // ---------------- incremental span dedup (batch vs archive) ----------------
    // The continuous-pipeline form: 3/4 of the corpus is history
    // whose spans live in a compact hash archive; the remaining
    // quarter arrives as a batch. Archived span content is removed
    // outright (history is canonical), archive-fresh content
    // keep-firsts within the batch. Full oracle: DuckDB replays the
    // archive probe (NOT EXISTS), the fresh-rank window, and the
    // same island fold + cleaned-md5 tail as q180.
    Query("q181_span_dedup_incremental", (s, dir) => {
      val docs = t(s, dir).documents
      val history = docs.filter(col("doc_id") % 4 =!= 3)
      val batch = docs.filter(col("doc_id") % 4 === 3)
      Dedup.spanDedupIncremental(batch,
          Dedup.spanArchive(history, "doc_id", "text", k = 8),
          "doc_id", "text", k = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }, oracle =
      // q180's pipeline with the archive probe spliced in: history
      // spans (doc_id % 4 <> 3) form the hash archive; batch
      // occurrences in the archive are removed outright, the rest
      // keep-first within the batch
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                      md5(array_to_string(ws[i:i+7], ' ')) AS h
               FROM w, unnest(range(1, len(ws) - 6)) AS t(i)),
         arch AS (SELECT DISTINCT h FROM g WHERE doc_id % 4 <> 3),
         b AS (SELECT * FROM g WHERE doc_id % 4 = 3),
         hits AS (SELECT doc_id, pos AS s, pos + 7 AS e FROM b
                  WHERE EXISTS (SELECT 1 FROM arch a WHERE a.h = b.h)),
         fresh AS (SELECT * FROM b
                   WHERE NOT EXISTS (SELECT 1 FROM arch a WHERE a.h = b.h)),
         f2 AS (SELECT doc_id, pos,
                       count(*) OVER (PARTITION BY h) AS n_occ,
                       row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
                FROM fresh),
         iv AS (SELECT * FROM hits
                UNION ALL
                SELECT doc_id, pos, pos + 7 FROM f2 WHERE n_occ > 1 AND rn > 1),
         $SqlIslandMerge
         WHERE w.doc_id % 4 = 3
         ORDER BY w.doc_id"""),

    // ---------------- fuzzy decontamination (containment gate) ----------------
    // The normalized-overlap complement of q65's absolute shared-count
    // gate: exact shingle-set Jaccard AND containment |A∩B|/|B| per
    // (doc, benchmark) pair, flagging on containment — the metric
    // that catches a long document embedding a short benchmark item
    // verbatim (containment 1.0, Jaccard ≈ 0). Benchmark drawn from
    // the corpus, so both sides filter the one persisted shingle
    // artifact; the benchmark side broadcasts — one linear corpus
    // scan, exact answer, no LSH recall loss. FULL oracle: DuckDB
    // recomputes raw-string shingle sets and both ratios. Threshold
    // 0.05 is set for the synthetic corpus's overlap profile (10
    // flagged pairs at sf0.01, nearest below-cut value 0.047619 —
    // no boundary-tie risk); real pipelines run 0.5+.
    Query("q182_fuzzy_contamination", (s, dir) => {
      val docs = t(s, dir).documents
      val bench = docs.filter(col("doc_id") % 50 === 0)
      val sh = sharedShingles(s, dir)
      Dedup.contaminationFuzzy(docs, bench, "doc_id", "text",
        n = JaccardShingleN, minContainment = 0.05,
        docShingles = Some(sh),
        benchShingles = Some(sh.filter(col("id") % 50 === 0)))
        .orderBy("doc_id", "bench_id")
    }, oracle =
      s"""WITH $SqlDocShingles,
         sz AS (SELECT doc_id, len(s) AS n FROM sh),
         bex AS (SELECT doc_id AS bench_id, g FROM ex WHERE doc_id % 50 = 0),
         inter AS (
           SELECT e.doc_id, b.bench_id, count(*) AS ic
           FROM ex e JOIN bex b ON e.g = b.g AND e.doc_id <> b.bench_id
           GROUP BY 1, 2)
         SELECT i.doc_id, i.bench_id, CAST(i.ic AS BIGINT) AS n_shared,
           round(CAST(i.ic AS DOUBLE) / (sa.n + sb.n - i.ic), 6) AS jaccard,
           round(CAST(i.ic AS DOUBLE) / sb.n, 6) AS containment
         FROM inter i
         JOIN sz sa ON sa.doc_id = i.doc_id
         JOIN sz sb ON sb.doc_id = i.bench_id
         WHERE round(CAST(i.ic AS DOUBLE) / sb.n, 6) >= 0.05
         ORDER BY i.doc_id, i.bench_id"""),

    // ---------------- incremental near-dup (batch vs archive LSH) ----------------
    // The continuous-pipeline member of the minhash family (q89 exact
    // / q181 spans / this fuzzy): 3/4 of the corpus is history whose
    // state is two persisted relations — the shingle artifact and a
    // compact banded-signature table — and the batch quarter is
    // banded against that state, never re-banding or self-joining the
    // archive. Envelope oracle (the q31 pattern): rows are keyed on
    // the DuckDB-recomputable EXACT batch-touching pair set with its
    // jaccard and partner class, and the LSH guarantees ride as
    // booleans the oracle pins TRUE — subset-of-exact on (keys,
    // jaccard, vs) (exact verification: zero false positives, exact
    // values, correct classification) and the 0.8 recall floor.
    Query("q183_incremental_neardups", (s, dir) => {
      val docs = t(s, dir).documents
      val sh = sharedShingles(s, dir)
      val shHist = sh.filter(col("id") % 4 =!= 3)
      val batch = docs.filter(col("doc_id") % 4 === 3)
      val archBands = Dedup.minhashBands(
        Dedup.minhashSignaturesFromShingles(shHist, k = 32,
          shingleN = JaccardShingleN))
      val shBatch = sh.filter(col("id") % 4 === 3)
      val inc = materialized(Dedup.minhashNearDupsIncremental(batch, "doc_id", "text",
          archiveShingles = shHist, archiveBands = archBands,
          threshold = 0.6, k = 32, bands = 8, shingleN = JaccardShingleN,
          batchShingles = Some(shBatch))
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"),
          col("jaccard"), col("vs")))
      // exact side: the persisted pair artifact filtered to
      // batch-touching pairs (standing pipeline state). When it was
      // computed live, ONE filtered self-PPJoin beat the split form
      // (jaccardJoin(batch, hist) + jaccardPairs(batch)): 7 s vs
      // 9-11 s at sf0.1 — two PPJoin pipelines pay two freq tables
      // and four ranked-prefix aggregations (SCALING.md)
      val exact = materialized(sharedPairs(s, dir)
        .filter(col("id_a") % 4 === 3 || col("id_b") % 4 === 3)
        .withColumn("vs", when(col("id_a") % 4 === 3 && col("id_b") % 4 === 3,
          lit("batch")).otherwise(lit("archive"))))
      val verdict = inc
        .join(exact, Seq("id_a", "id_b", "jaccard", "vs"), "left_anti")
        .agg(count(lit(1)).as("__fp"))
        .crossJoin(inc.join(exact.select("id_a", "id_b"),
            Seq("id_a", "id_b"), "left_semi")
          .agg(count(lit(1)).as("__hit")))
        .crossJoin(exact.agg(count(lit(1)).as("__n")))
        .select((col("__fp") === 0L).as("subset_of_exact"),
          (col("__n") === 0L || col("__hit") >= col("__n") * 0.8).as("recall_ok"))
      exact.crossJoin(broadcast(verdict))
        .select(col("id_a"), col("id_b"), col("jaccard"), col("vs"),
          col("subset_of_exact"), col("recall_ok"))
        .orderBy("id_a", "id_b")
    }, oracle =
      s"""WITH $SqlDocShingles,
         $SqlShingleOverlap,
         sel AS (
           SELECT id_a, id_b,
             round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
           FROM inter
           JOIN sz sa ON sa.doc_id = id_a
           JOIN sz sb ON sb.doc_id = id_b
           WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.6
             AND (id_a % 4 = 3 OR id_b % 4 = 3))
         SELECT id_a, id_b, jaccard,
           CASE WHEN id_a % 4 = 3 AND id_b % 4 = 3
                THEN 'batch' ELSE 'archive' END AS vs,
           TRUE AS subset_of_exact, TRUE AS recall_ok
         FROM sel ORDER BY id_a, id_b"""),

    // ---------------- PPS weighted subsampling (token-weighted) ----------------
    // Deterministic Poisson sample with per-row inclusion probability
    // ∝ token count at expected fraction 1/4 — every TOKEN equally
    // likely to survive the cut, the compute-matched thinning rule
    // ([[Mixing.weightedSample]]). FULL oracle: the gate uses only
    // IEEE +,×,÷ over md5-digit uniforms and exact integer totals,
    // all correctly rounded, so DuckDB replays the acceptance
    // decision bit-for-bit.
    Query("q184_weighted_sample", (s, dir) => {
      val docs = t(s, dir).documents
      val w = size(split(col("text"), " ")).cast("long")
      Mixing.weightedSample(docs, col("doc_id"), w, 1, 4)
        .select(col("doc_id"), w.as("n_tok"),
          round(col("p_keep"), 6).as("p_keep"))
        .orderBy("doc_id")
    }, oracle =
      """WITH w AS (
           SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM documents),
         t AS (
           SELECT CAST(sum(n_tok) AS BIGINT) AS tw,
             CAST(count(*) AS BIGINT) AS n
           FROM w)
         SELECT doc_id, n_tok,
           round(least(CAST(1 AS DOUBLE),
             CAST(1 AS DOUBLE) / 4 * n * n_tok / tw), 6) AS p_keep
         FROM w, t
         WHERE tw > 0
           AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
               / CAST(4503599627370496 AS DOUBLE)
             < least(CAST(1 AS DOUBLE),
                 CAST(1 AS DOUBLE) / 4 * n * n_tok / tw)
         ORDER BY doc_id"""),

    // ---------------- content-defined chunking (gear-style CDC) ----------------
    // Shift-robust chunk boundaries from word VALUES (md5 bucket <
    // 32/256 ⇒ expected ~8-word chunks): an insertion re-chunks only
    // its own chunk, so chunk identity — and therefore chunk-level
    // dedup — survives edits that shift every downstream position.
    // Output marks each chunk occurrence whose content already
    // appeared earlier in global (doc, chunk) order, the keep-first
    // rule chunk-store dedup applies. FULL oracle: DuckDB replays the
    // boundary flags, the prefix-count window, the ordered chunk
    // re-assembly, and the first-occurrence window.
    Query("q185_cdc_chunks", (s, dir) => {
      val ch = Chunking.cdcChunks(t(s, dir).documents, "doc_id",
        col("text"), boundary256 = 32)
      val firstW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("chunk_md5")).orderBy(col("id"), col("chunk_idx"))
      ch.withColumn("is_dup", row_number().over(firstW) > 1)
        .select(col("id").as("doc_id"), col("chunk_idx"),
          col("start_pos"), col("n_words"), col("chunk_md5"), col("is_dup"))
        .orderBy("doc_id", "chunk_idx")
    }, oracle =
      s"""WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         $SqlWordChunks,
         ch AS (
           SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
             CAST(min(pos) AS BIGINT) AS start_pos,
             CAST(count(*) AS BIGINT) AS n_words,
             md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_md5
           FROM cid GROUP BY doc_id, ci)
         SELECT doc_id, chunk_idx, start_pos, n_words, chunk_md5,
           row_number() OVER (PARTITION BY chunk_md5
             ORDER BY doc_id, chunk_idx) > 1 AS is_dup
         FROM ch ORDER BY doc_id, chunk_idx"""),

    // ---------------- two-relation jaccard join (cross-corpus) ----------------
    // The exact set-similarity JOIN: batch quarter × history
    // three-quarters at Jaccard ≥ 0.5, prefix/length/positional
    // filtered under ONE shared (df, shingle) order — neither side is
    // self-joined, so the archive costs its prefix scan, never its
    // quadratic interior (the cross-corpus sweep: new crawl ×
    // curated corpus, plagiarism detection). Both sides filter the
    // one persisted shingle artifact. FULL oracle: DuckDB recomputes
    // the cross pair set from raw-string shingles.
    Query("q187_jaccard_join", (s, dir) => {
      val docs = t(s, dir).documents
      val sh = sharedShingles(s, dir)
      Dedup.jaccardJoin(docs.filter(col("doc_id") % 4 === 3),
          docs.filter(col("doc_id") % 4 =!= 3), "doc_id", "text",
          n = JaccardShingleN, threshold = 0.5,
          maxShingleFreq = Long.MaxValue,
          leftShingles = Some(sh.filter(col("id") % 4 === 3)),
          rightShingles = Some(sh.filter(col("id") % 4 =!= 3)))
        .orderBy("id_l", "id_r")
    }, oracle =
      s"""WITH $SqlDocShingles,
         sz AS (SELECT doc_id, len(s) AS n FROM sh),
         inter AS (
           SELECT l.doc_id AS id_l, r.doc_id AS id_r, count(*) AS i
           FROM ex l JOIN ex r ON l.g = r.g
             AND l.doc_id % 4 = 3 AND r.doc_id % 4 <> 3
           GROUP BY 1, 2)
         SELECT id_l, id_r,
           round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
         FROM inter
         JOIN sz sa ON sa.doc_id = id_l
         JOIN sz sb ON sb.doc_id = id_r
         WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.5
         ORDER BY id_l, id_r"""),

    // ---------------- incremental search-index append ----------------
    // The retrieval member of the incremental family, and the one
    // whose append is EXACT by construction: posting rows are
    // per-document, and every BM25 statistic derives from the
    // postings relation at query time, so the appended index answers
    // bit-identically to a rebuild over the union (spec-pinned).
    // Build-then-append runs inside one atomic artifact publish;
    // the query replays q137's ranking over the appended index and
    // carries q137's FULL oracle (full-corpus BM25 in SQL).
    Query("q194_index_append", (s, dir) => {
      val docs = t(s, dir).documents
      val idx = fixturePath("postidx", dir, "documents")
      Artifact.ensure(idx) { tmp =>
        InvertedIndex.build(docs.filter(col("doc_id") % 4 =!= 3),
            "doc_id", col("text"))
          .write.parquet(tmp)
        InvertedIndex.appendPostings(tmp,
          docs.filter(col("doc_id") % 4 === 3), "doc_id", col("text"))
      }
      InvertedIndex.bm25TopKIndexed(s.read.parquet(idx), "doc_id",
        Seq("dup", "spark", "window"), k = 10)
    }, oracle =
      SqlBm25TopK),

    // ---------------- per-group PPS weighted sampling ----------------
    // q184's gate with PER-LANGUAGE normalization: every language is
    // thinned to the same expected quarter while inclusion odds inside
    // a language still scale with token count — the grouped form the
    // global normalizer can't express (a token-heavy language would
    // otherwise eat the whole budget). Same engine-exact IEEE gate;
    // the totals relation is one row per language and broadcasts.
    Query("q193_weighted_sample_grouped", (s, dir) => {
      val docs = t(s, dir).documents
      val w = size(split(col("text"), " ")).cast("long")
      Mixing.weightedSamplePerGroup(docs, col("doc_id"), col("lang"), w, 1, 4)
        .select(col("doc_id"), col("lang"), w.as("n_tok"),
          round(col("p_keep"), 6).as("p_keep"))
        .orderBy("doc_id")
    }, oracle =
      """WITH w AS (
           SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM documents),
         t AS (
           SELECT lang, CAST(sum(n_tok) AS BIGINT) AS tw,
             CAST(count(*) AS BIGINT) AS n
           FROM w GROUP BY lang)
         SELECT w.doc_id, w.lang, w.n_tok,
           round(least(CAST(1 AS DOUBLE),
             CAST(1 AS DOUBLE) / 4 * n * n_tok / tw), 6) AS p_keep
         FROM w JOIN t ON w.lang IS NOT DISTINCT FROM t.lang
         WHERE tw > 0
           AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
               / CAST(4503599627370496 AS DOUBLE)
             < least(CAST(1 AS DOUBLE),
                 CAST(1 AS DOUBLE) / 4 * n * n_tok / tw)
         ORDER BY doc_id"""),

    // ---------------- incremental cluster resolution ----------------
    // The last step of continuous dedup: the archive's PERSISTED
    // label table (its standing state — an ensureClusterLabels
    // artifact over the history three-quarters) folds in the batch's
    // new pair relation via Dedup.dupClustersIncremental: archived
    // components contract to star edges, so the update graph is
    // archive-members + new-pairs, never the historical pair
    // relation. FULL oracle: the updated labels must equal the
    // from-scratch connected components over the ENTIRE corpus's
    // exact pair set (the q69 recursive-CTE oracle at t=0.6).
    Query("q191_incremental_clusters", (s, dir) => {
      val docs = t(s, dir).documents
      val sh = sharedShingles(s, dir)
      val oldLabels = Dedup.ensureClusterLabels(
        docs.filter(col("doc_id") % 4 =!= 3), "doc_id", "text",
        n = JaccardShingleN, threshold = 0.6,
        maxShingleFreq = Long.MaxValue,
        fixturePath("archlabels", dir, "documents"),
        shingles = Some(sh.filter(col("id") % 4 =!= 3)))
      // batch-touching exact pairs from the persisted pair artifact
      // (when computed live, one filtered self-PPJoin beat the split
      // jaccardJoin+jaccardPairs form 8-8.5 s vs 11-12 s at sf0.1 —
      // SCALING.md has both experiments)
      val newPairs = sharedPairs(s, dir)
        .filter(col("id_a") % 4 === 3 || col("id_b") % 4 === 3)
      Dedup.dupClustersIncremental(newPairs, oldLabels).orderBy("id")
    }, oracle =
      s"""WITH RECURSIVE $SqlDocShingles,
         $SqlShingleOverlap,
         $SqlJaccardPairs,
         $SqlPairComponents
         SELECT id, min(lbl) AS canonical_id FROM reach
         GROUP BY id ORDER BY id"""),

    // ---------------- unigram-LM vocabulary learning (hard-EM) ----------------
    // The SentencePiece-family counterpart of q144's BPE: seed from
    // frequent substrings, then Viterbi-EM rounds over the
    // distinct-word relation (codegen kernel segmentation + one keyed
    // agg per round; driver state = the vocab itself). Since round 13
    // a FULL-oracle row: the whole hard-EM loop — seed, three Viterbi
    // forward-DP + backtrack rounds, prune, re-estimate — replays in
    // DuckDB as unrolled recursive-CTE layers (unigramLearnOracleSql),
    // so (piece, cost_micro, n_uses) is recomputed end-to-end from raw
    // text. The self-checks stay as independent evidence: (a) fixture
    // equality against the sequential in-JVM reference — vocab, costs,
    // use-counts AND the EM cost trace must match exactly — and (b) at
    // every scale the hard-EM guarantee: corpus Viterbi cost
    // non-increasing round over round.
    Query("q171_unigram_learn", (s, dir) => {
      if (SelfCheck.fixtureExists) SelfCheck.once("q171/fixture") {
        val fx = t(s, SelfCheck.FixtureDir).documents
        val (gotDf, gotTrace) = UnigramLm.learnVocabWithTrace(
          fx, col("text"), vocabSize = 80, maxPieceLen = 4, iters = 3)
        val got = gotDf.collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
        val wf = UnigramLm.distinctWords(fx, col("text"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
        val (want, wantTrace) = UnigramLm.learnVocabLocal(
          wf, vocabSize = 80, maxPieceLen = 4, iters = 3)
        require(got == want.sortBy(_._1) && gotTrace == wantTrace,
          s"q171 distributed EM diverges from the sequential reference:\n$got\nvs\n$want")
        SelfCheck.note(s"fixture vocab (${got.size} pieces) + EM trace " +
          "identical to sequential Viterbi-EM")
      }
      val (m, trace) = UnigramLm.learnVocabWithTrace(
        t(s, dir).documents, col("text"), vocabSize = 200, maxPieceLen = 4, iters = 3)
      SelfCheck.every(s"q171/$dir") {
        val bad = trace.zip(trace.drop(1)).count { case (a, b) => b > a }
        require(bad == 0, s"q171 EM corpus cost increased: $trace")
        SelfCheck.note(s"corpus Viterbi cost ${trace.head} → ${trace.last} " +
          s"micro-nats over ${trace.size} rounds, non-increasing")
      }
      m.orderBy(col("n_uses").desc, col("piece"))
    }, oracle =
      // the whole hard-EM training loop re-run inside DuckDB: seed,
      // three unrolled Viterbi-DP + backtrack + prune + re-estimate
      // layers (recursive CTEs carrying per-position candidate lists)
      unigramLearnOracleSql(vocabSize = 200,
        maxLen = 4, iters = 3, unkCost = UnigramLm.UnkCostMicro)),

    // ---------------- greedy subword encode (WordPiece inference) ----------------
    // Tokenize with the pinned fixture-learned piece set: longest
    // match at each position, single-char fallback — an in-task
    // aggregate fold, and a FULL oracle row: DuckDB replays the same
    // DP as a recursive CTE over (word, position) states.
    Query("q172_unigram_encode", (s, dir) => {
      if (SelfCheck.fixtureExists) SelfCheck.once("q172/fixture") {
        val fx = t(s, SelfCheck.FixtureDir).documents
        val learned = UnigramLm.learnVocab(fx, col("text"),
            vocabSize = 80, maxPieceLen = 4, iters = 3)
          .filter(length(col("piece")) > 1)
          .select("piece").collect().map(_.getString(0)).toSet
        require(learned == UnigramPieces.toSet,
          s"q172 pinned piece set drifted from the fixture-learned vocab: " +
            s"learned=${learned.toSeq.sorted} pinned=${UnigramPieces.sorted}")
        SelfCheck.note(s"pinned piece set ≡ fixture-learned unigram vocab " +
          s"(${UnigramPieces.size} multi-char pieces)")
      }
      val words = UnigramLm.distinctWords(t(s, dir).documents, col("text"))
      UnigramLm.encodeWords(words, UnigramPieces, maxLen = 4).orderBy("w")
    }, oracle = {
      // the oracle replays the greedy longest-match DP as a recursive
      // CTE over (word, position) states — one step per consumed piece,
      // LATERAL argmax = longest vocab piece matching at the position,
      // single-char fallback rides the UNION ALL arm
      val values = UnigramPieces.map(p => s"('$p')").mkString(", ")
      s"""WITH RECURSIVE v(piece, plen) AS (
           SELECT piece, CAST(len(piece) AS INT)
           FROM (VALUES $values) t(piece)),
         words AS (SELECT DISTINCT w FROM (
             SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           WHERE len(w) > 0),
         seg AS (
           SELECT w, 0 AS pos, CAST('' AS VARCHAR) AS toks FROM words
           UNION ALL
           SELECT s.w, s.pos + best.plen,
             CASE WHEN s.toks = '' THEN best.piece
                  ELSE s.toks || ' ' || best.piece END
           FROM seg s, LATERAL (
             SELECT piece, plen FROM (
               SELECT piece, plen FROM v
               WHERE substr(s.w, s.pos + 1, plen) = piece
               UNION ALL SELECT substr(s.w, s.pos + 1, 1), 1)
             ORDER BY plen DESC, piece LIMIT 1) best
           WHERE s.pos < len(s.w))
         SELECT w, toks FROM seg WHERE pos = len(w) ORDER BY w"""
    }),

    // ---------------- deterministic corpus split assignment ----------------
    // Reproducible train/val/test by md5 bucket (80/10/10 in 256ths):
    // a pure projection of the key — stable under corpus growth,
    // repartitioning, and engines — audited per (lang, split).
    Query("q174_split_assign", (s, dir) =>
      t(s, dir).documents
        .select(col("lang"),
          Mixing.splitAssign(col("doc_id"),
            Seq(("train", 204), ("val", 26), ("test", 26))).as("split"),
          TextFns.tokenCount(col("text")).cast("long").as("ntok"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
        .orderBy("lang", "split"), oracle =
      """WITH d AS (SELECT lang,
             16*(strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)),1,1))-1)
               + (strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)),2,1))-1) AS b,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
           FROM documents)
         SELECT lang,
           CASE WHEN b < 204 THEN 'train'
                WHEN b < 230 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens
         FROM d GROUP BY 1, 2 ORDER BY lang, split"""),

    // ---------------- dictionary tagging (Aho-Corasick) ----------------
    // The blocklist/topic-phrase scanner: N patterns matched in ONE
    // automaton pass per document (codegen expression, dictionary
    // rides the plan as model-sized state) instead of N contains()
    // scans. ALL occurrences counted, overlapping included ("data
    // data" twice in "data data data") — the semantics a positional
    // SQL scan replays exactly and replace()-counting gets wrong. The
    // dictionary mixes single words, phrases, and a pattern that is a
    // strict substring of another (exercising the automaton's output
    // links: every "data data" hit also hits "data" twice).
    Query("q200_dictionary_tag", (s, dir) => {
      Tagging.patternStats(t(s, dir).documents, "lang", col("text"), DictPatterns)
        .orderBy("lang", "pattern")
    }, oracle =
      // all-occurrence (overlapping) multi-pattern counts: the
      // recursive step advances one char past each hit's START, so
      // self-overlapping hits are found; rows = occurrences
      s"""WITH RECURSIVE
         pats(pattern) AS (VALUES ('data'),('data data'),('the join'),
           ('spark'),('query query'),('window scan')),
         $SqlDictMatches,
         occ AS (SELECT doc_id, lang, pattern, count(*) AS n
                 FROM m GROUP BY 1, 2, 3)
         SELECT lang, pattern, CAST(sum(n) AS BIGINT) AS occurrences,
           CAST(count(*) AS BIGINT) AS docs_with_hit
         FROM occ GROUP BY 1, 2 ORDER BY 1, 2"""),

    // ---------------- perplexity-band pruning ----------------
    // The standard LM-data curation step: score every document with
    // corpus-LM mean surprisal (q84's engine-exact fixed-point
    // metric) and keep the middle band per language — the low tail is
    // boilerplate/repetition, the high tail is noise. Band edges are
    // EXACT rank positions under a total order (surprisal, doc_id) —
    // the q176 rank-selection discipline, replayable in SQL; at
    // data scale the rank windows swap for approx quantile cuts (the
    // q83 pattern) with the same downstream shape.
    Query("q203_perplexity_prune", (s, dir) => {
      val docs = t(s, dir).documents
      val sur = TextMetrics.unigramSurprisal(docs, "doc_id", col("text"))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      val byLang = Window.partitionBy(col("lang"))
      val ranked = sur
        .withColumn("__rn", row_number().over(
          byLang.orderBy(col("avg_surprisal").asc, col("doc_id").asc)))
        .withColumn("__n", count(lit(1)).over(byLang))
      ranked
        .filter(col("__rn") > floor(col("__n") * 0.25).cast("long") &&
          col("__rn") <= floor(col("__n") * 0.75).cast("long"))
        .groupBy(col("lang"))
        .agg(max(col("__n")).as("n_total"), count(lit(1)).as("n_kept"),
          sum(col("n_tokens")).as("kept_tokens"),
          min(col("avg_surprisal")).as("band_lo"),
          max(col("avg_surprisal")).as("band_hi"))
        .orderBy("lang")
    }, oracle =
      // perplexity pruning = the q84 surprisal replay + exact rank-band
      // selection per language
      s"""WITH $SqlUnigramLogProbs,
         per AS (SELECT doc_id, sum(lp4) AS slp, count(*) AS nt
           FROM tok JOIN lp USING (token) GROUP BY doc_id),
         sc AS (SELECT p.doc_id, d.lang, p.nt,
             floor(CAST(slp AS DOUBLE)/(1e4*nt)*1e6 + 0.5)/1e6 AS avg_surprisal
           FROM per p JOIN documents d USING (doc_id)),
         r AS (SELECT *, row_number() OVER (PARTITION BY lang
               ORDER BY avg_surprisal, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
           FROM sc),
         k AS (SELECT * FROM r
           WHERE rn > CAST(floor(n*0.25) AS BIGINT)
             AND rn <= CAST(floor(n*0.75) AS BIGINT))
         SELECT lang, CAST(max(n) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(nt) AS BIGINT) AS kept_tokens,
           min(avg_surprisal) AS band_lo, max(avg_surprisal) AS band_hi
         FROM k GROUP BY lang ORDER BY lang"""),

    // ---------------- perplexity-band pruning, approx twin ----------------
    // The DATA-SCALE path of q203 (whose exact per-language rank
    // window sorts each language on one reducer — Zipf-skewed at
    // 100 TB): band edges from ONE un-sorted partial-aggregable
    // percentile_approx pass (#languages-sized output, broadcast
    // back), filter in the scan stage. No sort, no window — the
    // q170→q179 exact/approx split, PlanAuditSpec-pinned. Envelope
    // oracle: the hashed rows are the exact per-language totals plus
    // the GK-sketch guarantee pinned TRUE per language — each edge's
    // VALUE-RANK RANGE [#(< edge)+1, #(<= edge)] must intersect the
    // target rank ± n/accuracy (tie-robust: a clone plateau at an
    // edge widens the value's own rank range, not the error bound).
    Query("q204_perplexity_prune_approx", (s, dir) => {
      val docs = t(s, dir).documents
      val acc = 10000
      val sur = materialized(
        TextMetrics.unigramSurprisal(docs, "doc_id", col("text"))
          .join(docs.select(col("doc_id"), col("lang")), "doc_id"))
      val edges = TextMetrics.approxBandEdges(sur, "lang", "avg_surprisal",
        0.25, 0.75, acc)
      val sv = col("avg_surprisal")
      def rankOk(q: Double, below: Column, atOrBelow: Column) = {
        val tol = col("n_total").cast("double") / acc + 1.0
        val target = col("n_total").cast("double") * q
        (below.cast("double") <= target + tol) &&
          (atOrBelow.cast("double") >= target - tol)
      }
      sur.join(broadcast(edges), "lang")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(sv < col("edge_lo"), 1L).otherwise(0L)).as("__blo"),
          sum(when(sv <= col("edge_lo"), 1L).otherwise(0L)).as("__alo"),
          sum(when(sv < col("edge_hi"), 1L).otherwise(0L)).as("__bhi"),
          sum(when(sv <= col("edge_hi"), 1L).otherwise(0L)).as("__ahi"),
          max(col("edge_lo")).as("__elo"), max(col("edge_hi")).as("__ehi"))
        .select(col("lang"), col("n_total"),
          rankOk(0.25, col("__blo"), col("__alo")).as("lo_rank_ok"),
          rankOk(0.75, col("__bhi"), col("__ahi")).as("hi_rank_ok"),
          (col("__elo") <= col("__ehi")).as("band_ordered"))
        .orderBy("lang")
    }, oracle =
      // approx-band envelope (the q179 device): the exact per-language
      // totals recomputed, the GK-sketch rank guarantees pinned TRUE
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text,' ')) AS token FROM documents),
         per AS (SELECT doc_id, count(*) AS nt FROM tok GROUP BY doc_id),
         sc AS (SELECT p.doc_id, d.lang FROM per p JOIN documents d USING (doc_id))
         SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
           TRUE AS lo_rank_ok, TRUE AS hi_rank_ok, TRUE AS band_ordered
         FROM sc GROUP BY lang ORDER BY lang"""),

    // ---------------- dictionary redaction (FULL oracle) ----------------
    // The WRITE side of q200's tagging: every dictionary match
    // replaced by a token under leftmost-longest non-overlapping
    // selection (the standard PII-scrub rule — "data data" wins over
    // "data" at the same start, matches inside a consumed span are
    // skipped). One automaton pass per row; the oracle replays the
    // whole pipeline — all-occurrence match starts (q200's recursive
    // device), the greedy selection (list-filter cursor recursion,
    // the q171 list-state discipline), and the per-segment string
    // rebuild — down to the md5 of every redacted document.
    Query("q209_dictionary_redact", (s, dir) => {
      Tagging.redactDocs(t(s, dir).documents, "doc_id", col("text"),
          DictPatterns, token = "[X]")
        .select(col("doc_id"), col("n_redactions").cast("long").as("n_redactions"),
          md5(col("redacted")).as("redacted_fp"),
          length(col("redacted")).cast("long").as("n_chars_redacted"))
        .orderBy("doc_id")
    }, oracle = {
      // redaction: all-occurrence match starts (q200's recursive
      // device) → greedy leftmost-longest selection as a list-state
      // cursor recursion (q171's discipline: no correlated subqueries
      // inside the recursive member) → per-segment string rebuild via
      // lag + ordered string_agg — md5-exact per document
      val vals = DictPatterns.map(p => s"('$p')").mkString(",")
      s"""WITH RECURSIVE
         pats(pattern) AS (VALUES $vals),
         m(doc_id, pattern, pos) AS (
           SELECT d.doc_id, p.pattern, strpos(d.text, p.pattern)
           FROM documents d CROSS JOIN pats p
           WHERE strpos(d.text, p.pattern) > 0
           UNION ALL
           SELECT m.doc_id, m.pattern,
             m.pos + strpos(substr(d.text, m.pos + 1), m.pattern)
           FROM m JOIN documents d ON d.doc_id = m.doc_id
           WHERE strpos(substr(d.text, m.pos + 1), m.pattern) > 0),
         $SqlDictRedaction
         SELECT d.doc_id,
           CAST(coalesce(r.n_red, 0) AS BIGINT) AS n_redactions,
           md5(coalesce(r.redacted, d.text)) AS redacted_fp,
           CAST(len(coalesce(r.redacted, d.text)) AS BIGINT) AS n_chars_redacted
         FROM documents d LEFT JOIN red r ON r.doc_id = d.doc_id
         ORDER BY d.doc_id"""
    }),

    // ---------------- Naive Bayes language ID (trained classifier, FULL oracle) ----------------
    // The fastText-class lang-ID gate as pure relational algebra:
    // train on the even-id half (two keyed aggs -> model RELATIONS,
    // zero driver state), score the odd-id half (broadcast model
    // join + integer fixed-point log-prob sums — the surprisal
    // exactness device), argmin per doc with (score, label) ties.
    // Like the BPE/unigram-LM learners, training itself replays in
    // SQL, so the trained model's every prediction is a full oracle.
    Query("q219_nb_langid", (s, dir) => {
      val d = t(s, dir).documents
      NbClassify.nbPredict(d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1), "doc_id", "lang", col("text"))
    }, oracle =
      // Naive Bayes: training (two keyed aggs) AND inference replayed —
      // Laplace-smoothed log-probs quantized to 1e-4 fixed point before
      // any per-document sum (the surprisal exactness device)
      SqlNbPredict),

    // ---------------- incremental NB model maintenance (FULL oracle) ----------------
    // The index family's maintenance story applied to a MODEL: NB's
    // sufficient statistics are additive counts, so the persisted
    // model is count relations in batch=<gen> generations — appending
    // a labeled batch writes one new generation, and predicting from
    // the accumulated table is BIT-IDENTICAL to retraining on the
    // union (sum of per-generation counts = counts over the union).
    // Here: generation 0 = doc_id % 4 == 0, generation 1 = % 4 == 2;
    // their union is exactly q219's even-id train split, so the
    // oracle is q219's VERBATIM.
    Query("q227_nb_incremental", (s, dir) => {
      val d = t(s, dir).documents
      val model = fixturePath("nbmodel", dir, "documents")
      Artifact.ensure(model) { tmp =>
        NbClassify.buildNbModel(d.filter(col("doc_id") % 4 === 0),
          "lang", col("text"), tmp)
        NbClassify.appendNbModel(d.filter(col("doc_id") % 4 === 2),
          "lang", col("text"), tmp, gen = 1L)
      }
      NbClassify.nbPredictIndexed(s, model,
        d.filter(col("doc_id") % 2 === 1), "doc_id", "lang", col("text"))
    }, oracle =
      // incremental NB: the two generations' summed counts equal the
      // union's counts, so the oracle is q219's verbatim
      SqlNbPredict),

    // ---------------- Naive Bayes evaluation report (FULL oracle) ----------------
    // The confusion matrix + per-class fractions a classifier gate
    // ships with: one keyed agg over q219's predictions + a
    // per-actual-class window total.
    Query("q220_nb_confusion", (s, dir) => {
      val d = t(s, dir).documents
      NbClassify.nbConfusion(
        NbClassify.nbPredict(d.filter(col("doc_id") % 2 === 0),
          d.filter(col("doc_id") % 2 === 1), "doc_id", "lang", col("text")),
        "lang")
    }, oracle =
      s"""WITH $SqlNbScores,
         best AS (SELECT doc_id, c AS predicted,
                    row_number() OVER (PARTITION BY doc_id
                      ORDER BY score4 ASC, c ASC) AS rn
                  FROM sc),
         pred AS (SELECT te.lang AS actual, b.predicted
                  FROM te JOIN best b ON b.doc_id = te.doc_id AND b.rn = 1),
         cells AS (SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n
                   FROM pred GROUP BY 1, 2)
         SELECT actual, predicted, n,
           CAST(sum(n) OVER (PARTITION BY actual) AS BIGINT) AS class_n,
           round(CAST(n AS DOUBLE)
             / sum(n) OVER (PARTITION BY actual), 6) AS frac
         FROM cells ORDER BY actual, predicted"""),

    // ---------------- near-dup point-serve lookup (FULL-oracle envelope) ----------------
    // The online-QUERY member of the near-dup family — "find THIS
    // document's near-dups" against the standing archive, what a
    // dedup service answers per request (self-join q31 / incremental
    // q183 / streaming q199 cover the batch forms). Bounded probe
    // batch banded under the archive's own parameters, ONE broadcast
    // band join (the archive is never re-banded or self-joined),
    // exact-Jaccard verification. Envelope: rows are the EXACT
    // (probe, neighbor) pairs off the persisted pair artifact
    // (both orientations — a probe can be either end), verdicts
    // pinned TRUE: the lookup output is a SUBSET of exact (the
    // verify stage is exact) with the q31 recall floor.
    Query("q230_neardup_lookup", (s, dir) => {
      val docs = t(s, dir).documents
      // stride 40: a probe set that intersects the pair relation at
      // BOTH driver scales (sf0.01: 13 probes, >= 1 hit; sf0.1: 125
      // probes — under the serving cap — with 12 hits)
      val probes = docs.filter(col("doc_id") % 40 === 0)
      val sh = sharedShingles(s, dir)
      val archBands = materialized(Dedup.minhashBands(
        Dedup.minhashSignaturesFromShingles(sh, k = 32,
          shingleN = JaccardShingleN)))
      val got = materialized(Dedup.nearDupLookup(probes, "doc_id", "text",
        sh, archBands, threshold = 0.6, shingleN = JaccardShingleN))
      val exact = sharedPairs(s, dir)
      val pid = probes.select(col("doc_id").as("__p"))
      val exLookup = materialized(
        exact.join(pid, col("id_a") === col("__p"), "left_semi")
          .select(col("id_a").as("probe_id"), col("id_b").as("doc_id"),
            col("jaccard"))
        .unionByName(
          exact.join(pid, col("id_b") === col("__p"), "left_semi")
            .select(col("id_b").as("probe_id"), col("id_a").as("doc_id"),
              col("jaccard"))))
      val verdict = subsetRecallVerdict(
        got.select(col("probe_id").as("id_a"), col("doc_id").as("id_b")),
        exLookup.select(col("probe_id").as("id_a"), col("doc_id").as("id_b")),
        floor = 0.8)
      exLookup.crossJoin(broadcast(verdict))
        .select(col("probe_id"), col("doc_id"), col("jaccard"),
          col("subset_of_exact"), col("recall_ok"))
        .orderBy("probe_id", "doc_id")
    }, oracle =
      // point-serve lookup envelope: the exact pair relation (q31's
      // device) restricted to probe ends, both orientations; the
      // lookup's subset/recall verdicts ride pinned TRUE
      s"""WITH $SqlDocShingles,
         $SqlShingleOverlap,
         pairs AS (
           SELECT id_a, id_b,
             round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
           FROM inter
           JOIN sz sa ON sa.doc_id = id_a
           JOIN sz sb ON sb.doc_id = id_b
           WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.6),
         pr AS (SELECT doc_id AS p FROM documents WHERE doc_id % 40 = 0)
         SELECT u.probe_id, u.doc_id, u.jaccard,
           TRUE AS subset_of_exact, TRUE AS recall_ok
         FROM (SELECT id_a AS probe_id, id_b AS doc_id, jaccard
                 FROM pairs JOIN pr ON id_a = p
               UNION ALL
               SELECT id_b AS probe_id, id_a AS doc_id, jaccard
                 FROM pairs JOIN pr ON id_b = p) u
         ORDER BY probe_id, doc_id"""),

    // ---------------- CDC-boundary segment dedup ----------------
    // q98's alignment-robust twin: a repeated span SHIFTED between
    // documents (here, every document re-ingested behind a one-word
    // prefix — the crawl re-publication mode) defeats fixed-stride
    // segmentation entirely, but content-defined boundaries re-align
    // after the first chunk, so all interior chunks dedup away
    // (SegmentOpsSpec pins the contrast). FULL oracle: DuckDB replays
    // the CDC device (q185), the fingerprint keep-first, and the
    // position-ordered reassembly.
    Query("q233_cdc_segment_dedup", (s, dir) => {
      val docs = t(s, dir).documents.select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(docs.select(
        (col("doc_id") + lit(1000000L)).as("doc_id"),
        concat(lit("zq "), col("text")).as("text")))
      SegmentOps.dedupSegmentsCdc(corpus, "doc_id", col("text"),
          boundary256 = 32)
        .select(col("doc_id"), col("n_kept"), col("n_dropped"),
          md5(col("clean_text")).as("clean_fp"))
        .orderBy("doc_id")
    }, oracle =
      // CDC segment dedup over the corpus + its prefix-shifted twin:
      // boundary flags -> prefix-count window -> chunk fingerprints ->
      // keep-first by (doc, seg) -> position-ordered reassembly
      s"""WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, 'zq ' || text FROM documents),
         toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM corpus),
         $SqlWordChunks,
         ch AS (
           SELECT doc_id, CAST(ci AS BIGINT) AS seg,
             string_agg(w, ' ' ORDER BY pos) AS ctext,
             md5(string_agg(w, ' ' ORDER BY pos)) AS cmd5
           FROM cid GROUP BY doc_id, ci),
         keepf AS (
           SELECT doc_id, seg, ctext,
             row_number() OVER (PARTITION BY cmd5
               ORDER BY doc_id, seg) AS rn
           FROM ch)
         SELECT doc_id,
           CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dropped,
           md5(COALESCE(string_agg(ctext, ' ' ORDER BY seg)
             FILTER (WHERE rn = 1), '')) AS clean_fp
         FROM keepf GROUP BY doc_id ORDER BY doc_id"""),

    // ---------------- incremental CDC-segment dedup ----------------
    // q233's archive twin (q181 is the fixed-stride incremental
    // form): history's chunk FINGERPRINTS live in a persisted
    // archive; the batch carries fresh quarter docs PLUS one-word-
    // shifted re-publications of history docs — the cross-
    // batch/archive duplication mode fixed strides structurally
    // miss. Archived chunk content drops outright (history is
    // canonical, caught through the shift because CDC boundaries
    // re-align); archive-fresh content keep-firsts within the batch.
    // The operator also lands the batch's novel fingerprints as its
    // own archive GENERATION (batch=0 here; pre-existing generations
    // byte-identical, retry overwrite-idempotent — spec-pinned in
    // SegmentOpsSpec); scratch archive per call, so the append
    // never poisons a later rep. FULL oracle: DuckDB replays the CDC
    // device, the archive probe, the fresh keep-first, and the
    // reassembly fingerprint.
    Query("q244_cdc_dedup_incremental", (s, dir) => {
      val docs = t(s, dir).documents.select(col("doc_id"), col("text"))
      val history = docs.filter(col("doc_id") % 4 =!= 3)
      val batch = docs.filter(col("doc_id") % 4 === 3)
        .unionByName(history.filter(col("doc_id") % 8 === 0).select(
          (col("doc_id") + lit(1000000L)).as("doc_id"),
          concat(lit("zq "), col("text")).as("text")))
      val scratch = scratchDir("q244")
      val archPath = s"$scratch/chunk_archive"
      SegmentOps.bootstrapCdcChunkArchive(history, "doc_id", col("text"),
        boundary256 = 32, archPath)
      SegmentOps.dedupSegmentsCdcIncremental(batch, "doc_id",
          col("text"), boundary256 = 32, archPath, batchId = 0L)
        .select(col("doc_id"), col("n_kept"), col("n_dropped"),
          md5(col("clean_text")).as("clean_fp"))
        .orderBy("doc_id")
    }, oracle =
      // incremental CDC-segment dedup: archive probe + fresh keep-first
      // + reassembly, all replayed (q233's CTE chain with a side tag)
      """WITH corpus AS (
           SELECT 'h' AS side, doc_id, text FROM documents
           WHERE doc_id % 4 <> 3
           UNION ALL
           SELECT 'b', doc_id, text FROM documents WHERE doc_id % 4 = 3
           UNION ALL
           SELECT 'b', doc_id + 1000000, 'zq ' || text FROM documents
           WHERE doc_id % 4 <> 3 AND doc_id % 8 = 0),
         toks AS (
           SELECT side, doc_id, string_split(text, ' ') AS ts FROM corpus),
         wds0 AS (
           SELECT side, doc_id, unnest(range(1, len(ts)+1)) AS pos, ts
           FROM toks),
         wds AS (
           SELECT side, doc_id, CAST(pos AS BIGINT) AS pos, ts[pos] AS w
           FROM wds0),
         flg AS (
           SELECT side, doc_id, pos, w,
             CASE WHEN ('0x' || substr(md5(w), 1, 2))::BIGINT < 32
                  THEN 1 ELSE 0 END AS b
           FROM wds),
         cid AS (
           SELECT side, doc_id, pos, w,
             COALESCE(sum(b) OVER (PARTITION BY side, doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ci
           FROM flg),
         ch AS (
           SELECT side, doc_id, CAST(ci AS BIGINT) AS seg,
             string_agg(w, ' ' ORDER BY pos) AS ctext,
             md5(string_agg(w, ' ' ORDER BY pos)) AS cmd5
           FROM cid GROUP BY side, doc_id, ci),
         arch AS (SELECT DISTINCT cmd5 FROM ch WHERE side = 'h'),
         bch AS (SELECT doc_id, seg, ctext, cmd5 FROM ch WHERE side = 'b'),
         fresh AS (
           SELECT doc_id, seg, ctext,
             row_number() OVER (PARTITION BY cmd5
               ORDER BY doc_id, seg) AS rn
           FROM bch b
           WHERE NOT EXISTS (SELECT 1 FROM arch a WHERE a.cmd5 = b.cmd5)),
         m AS (
           SELECT doc_id, seg, ctext, rn = 1 AS kept FROM fresh
           UNION ALL
           SELECT doc_id, seg, ctext, FALSE FROM bch b
           WHERE EXISTS (SELECT 1 FROM arch a WHERE a.cmd5 = b.cmd5))
         SELECT doc_id,
           CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (WHERE NOT kept) AS BIGINT) AS n_dropped,
           md5(COALESCE(string_agg(ctext, ' ' ORDER BY seg)
             FILTER (WHERE kept), '')) AS clean_fp
         FROM m GROUP BY doc_id ORDER BY doc_id"""),

    // ---------------- split leakage audit ----------------
    // The eval-contamination check a training pipeline runs after
    // splitting: near-duplicate pairs (the corpus's standing exact-
    // pair artifact at the q31 threshold) labeled with each end's
    // md5 split (the q174 assignment) — a pair crossing train/test is
    // leaked eval signal. One artifact read + two key-projection
    // joins; both devices are engine-exact, so the whole audit
    // replays in SQL. The crossing column makes the leak rows
    // self-describing.
    Query("q202_split_leakage", (s, dir) => {
      val shares = Seq("train" -> 204, "val" -> 26, "test" -> 26)
      val sp = t(s, dir).documents.select(col("doc_id"),
        Mixing.splitAssign(col("doc_id"), shares).as("split"))
      sharedPairs(s, dir).select(col("id_a"), col("id_b"))
        .join(sp.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
        .join(sp.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
        .select(least(col("sa"), col("sb")).as("split_a"),
          greatest(col("sa"), col("sb")).as("split_b"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("crossing", col("split_a") =!= col("split_b"))
        .orderBy("split_a", "split_b")
    }, oracle =
      // leakage audit = the q31 exact-pair device + the q174 md5-split
      // device, joined — both engine-exact
      s"""WITH $SqlDocShingles,
         $SqlShingleOverlap,
         prs AS (
           SELECT id_a, id_b FROM inter
           JOIN sz sa ON sa.doc_id = id_a
           JOIN sz sb ON sb.doc_id = id_b
           WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.6),
         spl AS (
           SELECT doc_id,
             CASE WHEN b < 204 THEN 'train'
                  WHEN b < 230 THEN 'val' ELSE 'test' END AS split
           FROM (SELECT doc_id,
               16*(strpos('0123456789abcdef',
                     substr(md5(CAST(doc_id AS VARCHAR)),1,1))-1)
                 + (strpos('0123456789abcdef',
                     substr(md5(CAST(doc_id AS VARCHAR)),2,1))-1) AS b
             FROM documents)),
         lab AS (
           SELECT least(a.split, b.split) AS split_a,
             greatest(a.split, b.split) AS split_b
           FROM prs JOIN spl a ON a.doc_id = prs.id_a
           JOIN spl b ON b.doc_id = prs.id_b)
         SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs,
           split_a <> split_b AS crossing
         FROM lab GROUP BY 1, 2 ORDER BY 1, 2"""),
  )
}
