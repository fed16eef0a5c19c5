package graft
package registry

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.{Artifact, Dedup, InvertedIndex, Mixing, Multimodal, Publish,
  Quality, Tagging}
import graft.pipelines.{Checkpointed, Repurpose}
import graft.sources.{CsvIO, JsonlIO}

import Support._

/** Pipelines, IO and profiling: the candidate-drug pipelines and their
  * checkpoint resume, CSV / JSONL / ORC round-trips, compaction and
  * file manifests, multimodal decode and perceptual dedup, the
  * capstones, quality gates and table profiles.
  */
private[graft] object PipelineQueries {

  /** The documents table range-clustered on n_chars (8 files, each a
    * tight n_chars interval) — the layout q161's skip scan and q162's
    * manifest count both read.
    */
  private def ensureRangeClustered(s: SparkSession, dir: String): String = {
    val path = fixturePath("rangeclust", dir, "documents")
    Artifact.ensure(path) { tmp =>
      t(s, dir).documents
        .repartitionByRange(8, col("n_chars"))
        .sortWithinPartitions(col("n_chars"))
        .write.parquet(tmp)
    }
    path
  }

  def all: Seq[Query] = Seq(
    // ---------------- §3.1 pipeline: candidate parts ----------------
    Query("q22_candidate_parts", (s, dir) => Repurpose.candidateParts(s, dir), oracle =
      """WITH seg AS (
           SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           WHERE c_mktsegment = 'BUILDING'),
         target_suppliers AS (
           SELECT DISTINCT l_suppkey FROM seg WHERE l_quantity >= 45),
         dtd AS (
           SELECT DISTINCT l_partkey FROM lineitem
           WHERE l_suppkey IN (SELECT l_suppkey FROM target_suppliers)),
         dd AS (SELECT DISTINCT l_partkey FROM seg)
         SELECT d.l_partkey AS p_partkey, p_name
         FROM dtd d LEFT JOIN part ON p_partkey = d.l_partkey
         WHERE d.l_partkey NOT IN (SELECT l_partkey FROM dd)
         ORDER BY p_partkey"""),

    // ---------------- §3.2 pipeline: related candidates + phase-2 merge ----------------
    Query("q23_related_candidates", (s, dir) => Repurpose.relatedCandidates(s, dir), oracle =
      """WITH facts AS (
           SELECT l_partkey, l_suppkey, l_quantity, o_custkey, c_mktsegment
           FROM lineitem
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey),
         mains AS (SELECT * FROM facts WHERE c_mktsegment = 'BUILDING'),
         main_targets AS (
           SELECT DISTINCT l_partkey FROM mains WHERE l_quantity >= 45),
         others AS (SELECT * FROM facts WHERE c_mktsegment <> 'BUILDING'),
         related_customers AS (
           SELECT DISTINCT o_custkey FROM others
           WHERE l_partkey IN (SELECT l_partkey FROM main_targets)),
         related_lines AS (
           SELECT * FROM others
           WHERE o_custkey IN (SELECT o_custkey FROM related_customers)),
         candidates AS (
           SELECT DISTINCT l_partkey FROM related_lines
           EXCEPT SELECT DISTINCT l_partkey FROM mains)
         SELECT l_partkey AS p_partkey,
           count(DISTINCT o_custkey) AS n_related_customers,
           count(DISTINCT l_suppkey) AS n_suppliers
         FROM related_lines
         WHERE l_partkey IN (SELECT l_partkey FROM candidates)
         GROUP BY l_partkey ORDER BY p_partkey"""),

    // ---------------- multimodal: binary payload pipeline ----------------
    Query("q37_media_features", (s, dir) => {
      val media = Multimodal.mediaFromDocuments(t(s, dir).documents)
      Multimodal.decodeFeatures(s, media).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"), col("frame_count"))
        .orderBy("media_id")
    }, oracle =
      """SELECT doc_id AS media_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
           WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         CAST(CASE CAST(doc_id % 3 AS INT)
           WHEN 0 THEN 54 + 48 * greatest(1, octet_length(encode(text)) // 48)
           WHEN 1 THEN 44 + 2 * greatest(1, octet_length(encode(text)) // 2)
           ELSE 102 * greatest(1, octet_length(encode(text)) // 48)
           END AS BIGINT) AS n_bytes,
         CAST(CASE WHEN CAST(doc_id % 3 AS INT) = 2
           THEN greatest(1, octet_length(encode(text)) // 48)
           ELSE 1 END AS INT) AS frame_count
         FROM documents ORDER BY media_id"""),

    // ---------------- multimodal: real container decode ----------------
    // The payloads are genuine BMP / WAV / concatenated-BMP binaries;
    // the query parses them (magic, LE headers, row padding, RIFF
    // chunk walk) and reports integer-exact stats over the DECODED
    // pixels/samples. The oracle recomputes the same stats straight
    // from the source byte stream — it matches only if encode→decode
    // round-trips bit-exactly AND the stats are computed over the
    // true decoded values. ORACLE PRECONDITION: the oracle indexes
    // CHARACTERS (substr/unicode) while Spark encodes UTF-8 BYTES, so
    // the differential check is valid only on ASCII corpora (the
    // generated documents table is — verified octet_length==length at
    // every SF). The Spark side itself is byte-correct for any input.
    Query("q124_media_decode", (s, dir) => {
      val docs = t(s, dir).documents
      // Assert the oracle's validity preconditions instead of assuming
      // them: (a) ASCII — the oracle indexes characters, Spark bytes;
      // (b) every doc is >= 2 bytes — an empty text yields no px/smp
      // rows in the oracle (the doc would vanish from its result) and
      // a 1-byte audio payload would read unicode('') = -1 into sum_b.
      SelfCheck.once(s"q124/$dir") {
        // coalesce: over ZERO rows sum/min are SQL NULL and the getters
        // would NPE instead of reporting the real problem
        val r = docs.agg(
          coalesce(sum(when(octet_length(col("text")) =!= length(col("text")), 1)
            .otherwise(0)), lit(0L)).as("non_ascii"),
          coalesce(min(octet_length(col("text"))), lit(0)).as("min_bytes"),
          count(lit(1)).as("n_docs")).head()
        require(r.getLong(2) > 0L, "q124 precondition: documents table is empty")
        require(r.getLong(0) == 0L,
          "q124 oracle precondition violated: non-ASCII documents present")
        require(r.getInt(1) >= 2,
          s"q124 oracle precondition violated: min doc length ${r.get(1)} < 2 bytes")
        SelfCheck.note(s"oracle preconditions over ${r.getLong(2)} docs: " +
          s"0 non-ASCII, min doc length ${r.getInt(1)} ≥ 2 bytes")
      }
      val media = Multimodal.mediaFromDocuments(docs)
      Multimodal.decodeFeatures(s, media).toDF()
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          col("n_units"), col("sum_a"), col("sum_b"), col("sum_c"))
        .orderBy("media_id")
    }, oracle =
      """WITH src AS (
           SELECT doc_id, text, octet_length(encode(text)) AS len
           FROM documents),
         pxi AS (
           SELECT doc_id, len, text,
             unnest(range(1, least(len, 48 * greatest(1, len // 48)) + 1)) AS i
           FROM src WHERE doc_id % 3 IN (0, 2)),
         px AS (
           SELECT doc_id, len, CAST(i AS INT) AS i,
             unicode(substr(text, CAST(i AS INT), 1)) AS v
           FROM pxi),
         img AS (
           SELECT doc_id AS media_id,
             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' ELSE 'video' END AS kind,
             CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 16 ELSE 4 END AS INT) AS width,
             CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0
               THEN greatest(1, len // 48) ELSE 4 END AS INT) AS height,
             CAST(16 * greatest(1, len // 48) AS BIGINT) AS n_units,
             CAST(coalesce(sum(CASE WHEN (i - 1) % 3 = 0 THEN v END), 0) AS BIGINT) AS sum_a,
             CAST(coalesce(sum(CASE WHEN (i - 1) % 3 = 1 THEN v END), 0) AS BIGINT) AS sum_b,
             CAST(coalesce(sum(CASE WHEN (i - 1) % 3 = 2 THEN v END), 0) AS BIGINT) AS sum_c
           FROM px GROUP BY doc_id, len),
         smpj AS (
           SELECT doc_id, len, text,
             unnest(range(0, greatest(1, len // 2))) AS j
           FROM src WHERE doc_id % 3 = 1),
         smp AS (
           SELECT doc_id, len,
             unicode(substr(text, CAST(2 * j + 1 AS INT), 1))
               + 256 * unicode(substr(text, CAST(2 * j + 2 AS INT), 1))
               - CASE WHEN unicode(substr(text, CAST(2 * j + 2 AS INT), 1)) >= 128
                      THEN 65536 ELSE 0 END AS sv
           FROM smpj),
         aud AS (
           SELECT doc_id AS media_id, 'audio' AS kind,
             CAST(0 AS INT) AS width, CAST(0 AS INT) AS height,
             CAST(greatest(1, len // 2) AS BIGINT) AS n_units,
             CAST(sum(sv) AS BIGINT) AS sum_a,
             CAST(sum(abs(sv)) AS BIGINT) AS sum_b,
             CAST(sum(CASE WHEN sv < 0 THEN 1 ELSE 0 END) AS BIGINT) AS sum_c
           FROM smp GROUP BY doc_id, len)
         SELECT * FROM img UNION ALL SELECT * FROM aud
         ORDER BY media_id"""),

    // ---------------- capstone: full training-corpus preparation ----------------
    // The complete pre-training data flow in one relation: near-dup
    // pruning via the SHARED cluster-label artifact (the q69/q90
    // relation — built once, consumed here a third time), benchmark
    // decontamination, benchmark-holdout removal, and quality gating,
    // rolled up to the per-language token budget a mixing step would
    // consume. Contamination is computed on the full corpus (a doc's
    // contamination status is independent of dedup survival), so the
    // drops compose as two anti-joins — each linear, keyed shuffles.
    Query("q125_training_corpus", (s, dir) => {
      val docs = t(s, dir).documents
      val labels = jaccardLabels(s, dir)
      val dupDrop = labels.filter(col("id") =!= col("canonical_id"))
        .select(col("id").as("doc_id"))
      val bench = docs.filter(col("doc_id") % 50 === 0)
      val sh = sharedShingles(s, dir)
      val contamDrop = Dedup.contamination(docs, bench, "doc_id", "text",
          n = JaccardShingleN, minShared = 3, docShingles = Some(sh),
          benchShingles = Some(sh.filter(col("id") % 50 === 0)))
        .select(col("doc_id")).distinct()
      docs.join(dupDrop, Seq("doc_id"), "left_anti")
        .join(contamDrop, Seq("doc_id"), "left_anti")
        .filter(col("doc_id") % 50 =!= 0)
        .filter(TextFns.tokenCount(col("text")).between(10, 1000) &&
          TextFns.distinctTokenRatio(col("text")) > 0.2)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs_kept"),
          sum(TextFns.tokenCount(col("text")).cast("long")).as("total_tokens"))
        .orderBy("lang")
    }, oracle =
      """WITH RECURSIVE toks AS (
           SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS ts
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(ts)-1),
             i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
           FROM toks WHERE len(ts) >= 3),
         ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         inter AS (
           SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS i
           FROM ex l JOIN ex r ON l.g = r.g AND l.doc_id < r.doc_id
           GROUP BY 1, 2),
         sz AS (SELECT doc_id, len(s) AS n FROM sh),
         pairs AS (
           SELECT id_a, id_b FROM inter
           JOIN sz sa ON sa.doc_id = id_a
           JOIN sz sb ON sb.doc_id = id_b
           WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.6),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
         reach(id, lbl) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst),
         labels AS (SELECT id, min(lbl) AS canonical_id FROM reach GROUP BY id),
         dup_drop AS (SELECT id FROM labels WHERE id <> canonical_id),
         bex AS (SELECT doc_id AS bench_id, g FROM ex WHERE doc_id % 50 = 0),
         contam AS (
           SELECT DISTINCT doc_id FROM (
             SELECT e.doc_id, b.bench_id
             FROM ex e JOIN bex b ON e.g = b.g AND e.doc_id <> b.bench_id
             GROUP BY 1, 2 HAVING count(*) >= 3)),
         kept AS (
           SELECT * FROM documents
           WHERE doc_id NOT IN (SELECT id FROM dup_drop)
             AND doc_id NOT IN (SELECT doc_id FROM contam)
             AND doc_id % 50 <> 0
             AND len(string_split(text,' ')) BETWEEN 10 AND 1000
             AND CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
               / len(string_split(text,' ')) > 0.2)
         SELECT lang, count(*) AS docs_kept,
           CAST(sum(len(string_split(text,' '))) AS BIGINT) AS total_tokens
         FROM kept GROUP BY lang ORDER BY lang"""),

    // ---------------- capstone: training-corpus prep pipeline ----------------
    // language gate → quality gate → exact-dedup keep-first → per-lang
    // corpus stats: the composed shape of a pretraining data-prep job
    Query("q51_corpus_prep", (s, dir) => {
      val docs = t(s, dir).documents
      val gated = docs
        .filter(col("lang").isin("en", "de", "es", "fr", "zh"))
        .filter(TextFns.tokenCount(col("text")).between(10, 1000) &&
          TextFns.distinctTokenRatio(col("text")) > 0.2)
      val kept = gated.join(
        gated.groupBy(TextFns.fingerprint(col("text")).as("fp"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id"),
        Seq("doc_id"), "left_semi")
      kept.groupBy(col("lang"))
        .agg(count(lit(1)).as("docs_kept"),
          sum(TextFns.tokenCount(col("text")).cast("long")).as("total_tokens"),
          round(avg(col("n_chars")), 4).as("avg_chars"))
        .orderBy("lang")
    }, oracle =
      """WITH gated AS (
           SELECT * FROM documents
           WHERE lang IN ('en','de','es','fr','zh')
             AND len(string_split(text,' ')) BETWEEN 10 AND 1000
             AND CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
               / len(string_split(text,' ')) > 0.2),
         kept AS (
           SELECT * FROM gated WHERE doc_id IN (
             SELECT min(doc_id) FROM gated
             GROUP BY md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))))
         SELECT lang, count(*) AS docs_kept,
           CAST(sum(len(string_split(text,' '))) AS BIGINT) AS total_tokens,
           round(avg(n_chars),4) AS avg_chars
         FROM kept GROUP BY lang ORDER BY lang"""),

    // ---------------- S6/S7 CSV checkpoint round-trip ----------------
    // The reference checkpoints every step to CSV and reloads it
    // (the reference's x2.2.py:361-405). Write a real step with
    // CsvIO, read it back with an explicit schema, aggregate — the
    // oracle is the same aggregation over the direct (un-checkpointed)
    // query, so the round-trip must be lossless.
    Query("q57_csv_roundtrip", (s, dir) => {
      val step = t(s, dir).orders.filter(col("o_totalprice") > 40000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      val path = fixturePath("csv_step", dir, "orders")
      CsvIO.write(step, path)
      val back = CsvIO.read(s, path, Some(org.apache.spark.sql.types.StructType.fromDDL(
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING")))
      back.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderstatus")
    }, oracle =
      """SELECT o_orderstatus, count(*) AS n,
           count(DISTINCT o_custkey) AS n_cust
         FROM orders WHERE o_totalprice > 40000
         GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // ---------------- JSONL checkpoint round-trip (S6/S7 in LLM interchange form) ----------------
    Query("q97_jsonl_roundtrip", (s, dir) => {
      val step = t(s, dir).documents.filter(col("n_chars") > 200)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val path = fixturePath("jsonl_step", dir, "documents")
      JsonlIO.write(step, path)
      val back = JsonlIO.read(s, path, org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, source STRING, n_chars BIGINT"))
      back.groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("source")
    }, oracle =
      """SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents WHERE n_chars > 200
         GROUP BY source ORDER BY source"""),

    // ---------------- small-file compaction round-trip ----------------
    Query("q106_compaction_roundtrip", (s, dir) => {
      val docs = t(s, dir).documents.select(col("doc_id"), col("lang"), col("n_chars"))
      val frag = fixturePath("frag", dir, "documents")
      val comp = fixturePath("compact", dir, "documents")
      if (!new java.io.File(comp).isDirectory) {
        Publish.parquet(docs.repartition(16), frag)
        graft.sources.Compaction.compact(s, frag, comp, 512L * 1024 * 1024)
      }
      s.read.parquet(comp).groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }, oracle =
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY lang ORDER BY lang"""),

    // ---------------- data-quality audit ----------------
    Query("q118_quality_audit", (s, dir) => {
      import Quality.RowCheck
      val tt = t(s, dir)
      // all lineitem row checks fuse into ONE scan+agg; same for orders
      val li = Quality.rowChecks(tt.lineitem, Seq(
        RowCheck("not_null", "l_quantity", col("l_quantity").isNotNull),
        RowCheck("range", "l_quantity", col("l_quantity").between(1, 50)),
        RowCheck("range", "l_discount", col("l_discount").between(0, 0.1)),
        RowCheck("accepted", "l_returnflag", col("l_returnflag").isin("A", "N", "R"))))
      val ord = Quality.rowChecks(tt.orders, Seq(
        RowCheck("not_null", "o_custkey", col("o_custkey").isNotNull),
        RowCheck("accepted", "o_orderstatus", col("o_orderstatus").isin("F", "O", "P"))))
      val uniq = Quality.uniqueCheck(tt.orders, "unique", Seq("o_orderkey"))
        .unionByName(Quality.uniqueCheck(tt.lineitem, "unique",
          Seq("l_orderkey", "l_linenumber")))
      val refs = Quality.refCheck(tt.lineitem, "l_orderkey",
          tt.orders, "o_orderkey", "ref")
        .unionByName(Quality.refCheck(tt.orders, "o_custkey",
          tt.customer, "c_custkey", "ref"))
      li.unionByName(ord).unionByName(uniq).unionByName(refs)
        .orderBy("check_name", "subject")
    }, oracle =
      """SELECT 'not_null' AS check_name, 'l_quantity' AS subject,
           CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
           count(*) AS total FROM lineitem
         UNION ALL
         SELECT 'range', 'l_quantity',
           CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS BIGINT),
           count(*) FROM lineitem
         UNION ALL
         SELECT 'range', 'l_discount',
           CAST(sum(CASE WHEN l_discount BETWEEN 0 AND 0.1 THEN 0 ELSE 1 END) AS BIGINT),
           count(*) FROM lineitem
         UNION ALL
         SELECT 'accepted', 'l_returnflag',
           CAST(sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END) AS BIGINT),
           count(*) FROM lineitem
         UNION ALL
         SELECT 'not_null', 'o_custkey',
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(*) FROM orders
         UNION ALL
         SELECT 'accepted', 'o_orderstatus',
           CAST(sum(CASE WHEN o_orderstatus IN ('F','O','P') THEN 0 ELSE 1 END) AS BIGINT),
           count(*) FROM orders
         UNION ALL
         SELECT 'unique', 'o_orderkey',
           count(*) - count(DISTINCT o_orderkey), count(*) FROM orders
         UNION ALL
         SELECT 'unique', 'l_orderkey,l_linenumber',
           count(*) - (SELECT count(*) FROM
             (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)),
           count(*) FROM lineitem
         UNION ALL
         SELECT 'ref', 'l_orderkey->o_orderkey',
           (SELECT count(*) FROM lineitem l ANTI JOIN orders o
              ON l.l_orderkey = o.o_orderkey),
           count(*) FROM lineitem
         UNION ALL
         SELECT 'ref', 'o_custkey->c_custkey',
           (SELECT count(*) FROM orders x ANTI JOIN customer c
              ON x.o_custkey = c.c_custkey),
           count(*) FROM orders
         ORDER BY check_name, subject"""),

    // ---------------- checkpoint-resume lifecycle: x2.2 reload branch ----------------
    // The last reference LIFECYCLE: phase 1 checkpoints its hand-off
    // relations to CSV once per corpus; every execution of this query
    // is the reload branch — resume from the CSV checkpoints (S6/S7)
    // and run the phase-2 fan-outs + target merge (x2.2.py:249-341).
    // Same star-schema mapping as q22/q23.
    Query("q126_resume_phase2", (s, dir) =>
      Checkpointed.phase2(s, dir,
        fixturePath("x2ckpt", dir, "lineitem", "orders", "customer")), oracle =
      """WITH facts AS (
           SELECT l_partkey, l_suppkey, o_custkey,
             (c_mktsegment = 'BUILDING') AS is_main,
             max(CASE WHEN l_quantity >= 45.0 THEN 1 ELSE 0 END) AS any_hi
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2, 3, 4),
         main_targets AS (
           SELECT DISTINCT l_partkey FROM facts WHERE is_main AND any_hi = 1),
         related_customers AS (
           SELECT DISTINCT o_custkey FROM facts
           WHERE NOT is_main
             AND l_partkey IN (SELECT l_partkey FROM main_targets)),
         related_lines AS (
           SELECT * FROM facts WHERE NOT is_main
             AND o_custkey IN (SELECT o_custkey FROM related_customers)),
         candidates AS (
           SELECT DISTINCT l_partkey FROM related_lines
           EXCEPT
           SELECT DISTINCT l_partkey FROM facts WHERE is_main),
         pf AS (
           SELECT DISTINCT l.l_partkey, l.l_suppkey, o.o_custkey
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         rdt AS (
           SELECT DISTINCT o_custkey AS disease_id, l_suppkey AS target_id
           FROM pf
           WHERE o_custkey IN (SELECT o_custkey FROM related_customers)),
         cdt AS (
           SELECT DISTINCT l_partkey AS drug_id, l_suppkey AS target_id
           FROM pf
           WHERE l_partkey IN (SELECT l_partkey FROM candidates))
         SELECT r.target_id, r.disease_id, c.drug_id
         FROM rdt r JOIN cdt c ON r.target_id = c.target_id
         ORDER BY r.target_id, r.disease_id, c.drug_id"""),

    // ---------------- corpus-curation capstone ----------------
    // The full training-data curation pipeline as ONE composition of
    // four registered operators — quality gate (q26 rule) → exact
    // dedup keep-first (q29) → per-language token budget (q145) →
    // epoch-shuffled shard layout (q93) — oracle-checked end to end.
    // Every stage is a deterministic hash/window discipline, so the
    // whole pipeline is reproducible run-over-run and engine-over-
    // engine: the property a 100 TB curation run actually needs.
    Query("q156_curation_capstone", (s, dir) => {
      val docs = t(s, dir).documents
      val quality = docs.filter(
        TextFns.tokenCount(col("text")).between(20, 1000) &&
          TextFns.distinctTokenRatio(col("text")) > 0.3)
      val deduped = Dedup.dedupExact(quality, "doc_id", "text")
      val kept = Mixing.tokenBudgetSample(deduped, col("lang"), col("doc_id"),
        TextFns.tokenCount(col("text")), budget = 3000)
      Mixing.epochShuffle(
          kept.select(col("id").as("doc_id"), col("grp").as("lang"),
            col("n_tok")),
          col("doc_id"), epoch = 1, numShards = 4)
        .select(col("doc_id"), col("lang"), col("n_tok"),
          col("shard").cast("long").as("shard"),
          col("pos").cast("long").as("pos"))
        .orderBy("shard", "pos")
    }, oracle =
      // the four stage conventions chained verbatim: q26 gate → q29
      // fingerprint keep-first → q145 budget window → q93 shard fold
      """WITH q AS (
           SELECT doc_id, lang, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM documents
           WHERE len(string_split(text, ' ')) BETWEEN 20 AND 1000
             AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) > 0.3),
         d AS (
           SELECT doc_id, lang, n_tok FROM q
           WHERE doc_id IN (
             SELECT min(doc_id) FROM q
             GROUP BY md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))))),
         c AS (
           SELECT doc_id, lang, n_tok,
             coalesce(sum(n_tok) OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
           FROM d),
         k AS (SELECT doc_id, lang, n_tok FROM c WHERE cum < 3000),
         s AS (
           SELECT doc_id, lang, n_tok,
             md5('1:' || CAST(doc_id AS VARCHAR)) AS ord
           FROM k),
         b AS (
           SELECT doc_id, lang, n_tok, ord,
             (16*(strpos('0123456789abcdef', substr(md5(ord),1,1))-1)
               + (strpos('0123456789abcdef', substr(md5(ord),2,1))-1)) % 4
               AS shard
           FROM s)
         SELECT doc_id, lang, n_tok, CAST(shard AS BIGINT) AS shard,
           CAST(row_number() OVER
             (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT) AS pos
         FROM b ORDER BY shard, pos"""),

    // ---------------- expectations gate with quarantine ----------------
    // The write-audit-publish split: rows passing every check publish,
    // rows failing ANY land in quarantine with a `failed_checks`
    // evidence column. Output = the quarantine side + the publish-side
    // count riding along as a constant column, so BOTH sides are under
    // the hash.
    Query("q159_quarantine", (s, dir) => {
      import Quality.RowCheck
      val checks = Seq(
        RowCheck("qty_le_30", "l_quantity", col("l_quantity") <= 30),
        RowCheck("disc_le_05", "l_discount", col("l_discount") <= 0.05),
        RowCheck("price_pos", "l_extendedprice", col("l_extendedprice") > 0))
      val (pass, quar) = Quality.quarantine(t(s, dir).lineitem, checks)
      val nPass = pass.agg(count(lit(1)).as("n_pass"))
      quar.select(col("l_orderkey"), col("l_linenumber"), col("failed_checks"))
        .crossJoin(broadcast(nPass))
        .orderBy("l_orderkey", "l_linenumber")
    }, oracle =
      """WITH f AS (
           SELECT l_orderkey, l_linenumber,
             l_quantity <= 30 AS ok1,
             l_discount <= 0.05 AS ok2,
             l_extendedprice > 0 AS ok3
           FROM lineitem)
         SELECT l_orderkey, l_linenumber,
           concat_ws(',',
             CASE WHEN NOT ok1 THEN 'qty_le_30' END,
             CASE WHEN NOT ok2 THEN 'disc_le_05' END,
             CASE WHEN NOT ok3 THEN 'price_pos' END) AS failed_checks,
           (SELECT count(*) FROM f WHERE ok1 AND ok2 AND ok3) AS n_pass
         FROM f WHERE NOT (ok1 AND ok2 AND ok3)
         ORDER BY l_orderkey, l_linenumber"""),

    // ---------------- ORC storage roundtrip ----------------
    // second columnar format next to parquet (q106/q97 cover
    // compaction/JSONL): write-once ORC artifact, read back with
    // predicates — the plan audit asserts they reach the ORC scan
    Query("q160_orc_roundtrip", (s, dir) => {
      val path = fixturePath("orc", dir, "documents")
      Artifact.ensure(path) { tmp =>
        t(s, dir).documents.write.orc(tmp)
      }
      s.read.orc(path)
        .filter(col("lang") === "en" && col("n_chars") > 500)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }, oracle =
      // the roundtrip IS the check: ORC-written rows must read back
      // byte-identical to the parquet the oracle scans
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE lang = 'en' AND n_chars > 500
         ORDER BY doc_id"""),

    // ---------------- file-stats manifest + skip scan ----------------
    // The table-format data-skipping discipline: a range-clustered
    // layout gives each file a tight n_chars interval, the manifest
    // records per-file min/max, and the scan reads ONLY admitted
    // files. Oracle = the plain filter (skipping must be invisible in
    // the result); the in-query invariant asserts files were actually
    // skipped and the pruned result equals the unpruned one.
    Query("q161_manifest_skip", (s, dir) => {
      import graft.sources.FileManifest
      val path = ensureRangeClustered(s, dir)
      // the manifest is itself a persisted artifact (built once,
      // source-tagged sidecar): the scan below resolves it instead of
      // re-aggregating per-file stats on every query
      val manifest =
        FileManifest.ensureManifest(s, path, Seq("n_chars"), s"$path-manifest")
      SelfCheck.every(s"q161/$dir") {
        val total = manifest.count()
        val admitted = FileManifest.admittedCount(manifest, "n_chars", 200, 260)
        require(admitted < total && admitted >= 1,
          s"q161 no skipping: admitted $admitted of $total files")
        val pruned = FileManifest
          .prunedScan(s, path, manifest, "n_chars", 200, 260).count()
        val full = s.read.parquet(path)
          .filter(col("n_chars").between(200, 260)).count()
        require(pruned == full, s"q161 pruned $pruned != full $full")
        SelfCheck.note(s"skip scan read $admitted of $total files; " +
          s"pruned rows == unpruned rows ($full)")
      }
      // prune with the manifest already resolved above — calling
      // FileManifest.scan here would resolve the artifact a second
      // time per query (scan() is the one-call form for callers that
      // don't hold the manifest; CompactionSpec covers it)
      FileManifest.prunedScan(s, path, manifest, "n_chars", 200, 260)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }, oracle =
      // skipping must be invisible in the result: the oracle is the
      // plain unpruned filter
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE n_chars BETWEEN 200 AND 260
         ORDER BY doc_id"""),

    // ---------------- metadata count (manifest fast path) ----------------
    // count(*) WHERE range answered FROM the manifest: fully-contained
    // files contribute n_rows without being opened; only the (≤2 on a
    // range tiling) boundary files are scanned. This is a metadata
    // operation by design — the count resolves at planning time like
    // SHOW STATS, and the oracle proves it exact against the full scan.
    Query("q162_manifest_count", (s, dir) => {
      import graft.sources.FileManifest
      val path = ensureRangeClustered(s, dir)
      val manifest =
        FileManifest.ensureManifest(s, path, Seq("n_chars"), s"$path-manifest")
      val (n, boundary) = FileManifest
        .prunedCount(s, path, manifest, "n_chars", 100, 400)
      SelfCheck.every(s"q162/$dir") {
        require(boundary <= 2,
          s"q162 boundary files $boundary > 2 on a range tiling")
        SelfCheck.note(s"metadata count scanned only $boundary boundary " +
          s"file(s) of 8; n=$n")
      }
      import scala.jdk.CollectionConverters._
      s.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(n)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_rows",
            org.apache.spark.sql.types.LongType))))
    }, oracle =
      // the metadata count must equal the full scan's count exactly
      """SELECT CAST(count(*) AS BIGINT) AS n_rows FROM documents
         WHERE n_chars BETWEEN 100 AND 400"""),

    // ---------------- exact column profiler ----------------
    // ANALYZE-TABLE in one aggregation job: all four columns' exact
    // null/distinct/min/max ride a single 1-row agg (Catalyst's
    // Expand multi-distinct rewrite — one scan) exploded to long form.
    Query("q170_profile", (s, dir) =>
      Quality.profile(t(s, dir).orders,
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("column_name"), oracle =
      """SELECT 'o_custkey' AS column_name, count(*) AS n_rows,
           count(*) - count(o_custkey) AS n_null,
           count(DISTINCT o_custkey) AS n_distinct,
           CAST(min(o_custkey) AS VARCHAR) AS min_val,
           CAST(max(o_custkey) AS VARCHAR) AS max_val
         FROM orders
         UNION ALL
         SELECT 'o_orderkey', count(*), count(*) - count(o_orderkey),
           count(DISTINCT o_orderkey),
           CAST(min(o_orderkey) AS VARCHAR), CAST(max(o_orderkey) AS VARCHAR)
         FROM orders
         UNION ALL
         SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority),
           min(o_orderpriority), max(o_orderpriority)
         FROM orders
         UNION ALL
         SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus),
           min(o_orderstatus), max(o_orderstatus)
         FROM orders
         ORDER BY column_name"""),

    // ---------------- approx column profiler (envelope) ----------------
    // The data-scale twin of q170: HLL distinct estimates in ONE
    // un-replicated scan (no Expand — PlanAuditSpec pins the shape)
    // where the exact profiler's multi-distinct replicates the scan
    // 5×. Envelope oracle (the q87 gate): the hashed rows are the
    // EXACT profile plus a verdict that each estimate sits within the
    // documented 3·rsd band (rsd 0.05 → 15%, floor of ±1 for the
    // tiny-cardinality columns where HLL is exact anyway).
    Query("q179_profile_approx", (s, dir) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority")
      val exact = Quality.profile(t(s, dir).orders, cols)
      val approx = Quality.profileApprox(t(s, dir).orders, cols, rsd = 0.05)
        .select(col("column_name"), col("n_distinct_approx"))
      exact.join(broadcast(approx), "column_name")
        .select(col("column_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_val"), col("max_val"),
          (abs(col("n_distinct_approx") - col("n_distinct")).cast("double") <=
            greatest(col("n_distinct") * 0.15, lit(1.0)))
            .as("approx_within_3rsd"))
        .orderBy("column_name")
    }, oracle =
      // HLL-profile envelope: the exact profile recomputed, the
      // estimate-in-band verdict pinned TRUE on every column row
      """SELECT 'o_custkey' AS column_name, count(*) AS n_rows,
           count(*) - count(o_custkey) AS n_null,
           count(DISTINCT o_custkey) AS n_distinct,
           CAST(min(o_custkey) AS VARCHAR) AS min_val,
           CAST(max(o_custkey) AS VARCHAR) AS max_val,
           TRUE AS approx_within_3rsd
         FROM orders
         UNION ALL
         SELECT 'o_orderkey', count(*), count(*) - count(o_orderkey),
           count(DISTINCT o_orderkey),
           CAST(min(o_orderkey) AS VARCHAR), CAST(max(o_orderkey) AS VARCHAR),
           TRUE
         FROM orders
         UNION ALL
         SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority),
           min(o_orderpriority), max(o_orderpriority), TRUE
         FROM orders
         UNION ALL
         SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus),
           min(o_orderstatus), max(o_orderstatus), TRUE
         FROM orders
         ORDER BY column_name"""),

    // ---------------- perceptual image dedup (blocked-mean aHash) ----------------
    // Content hashes (q29) split two images differing in one pixel
    // into unrelated buckets; the perceptual fingerprint buckets
    // 64-block mean-threshold bits so near-identical images land
    // within a small hamming distance. The REAL decode path feeds it
    // (BMP parse per row); near-dup partners come from the 4×16-bit
    // banded self-join (complete for hamming ≤ 3). FULL oracle:
    // every bit of every hash AND the partner counts are replayed in
    // DuckDB from the source text bytes — integer cross-product
    // mean compares, no floats anywhere.
    Query("q188_image_phash", (s, dir) => {
      val media = Multimodal.mediaFromDocuments(t(s, dir).documents)
      val hashes = Multimodal.imageHashes(s, media)
      val pairs = Multimodal.imageNearDups(hashes, maxHamming = 3)
      val parts = pairs.select(col("id_a").as("media_id"))
        .unionByName(pairs.select(col("id_b").as("media_id")))
        .groupBy("media_id").agg(count(lit(1)).as("n_neardups"))
      hashes.join(parts, Seq("media_id"), "left")
        .select(col("media_id"), col("h1"), col("h2"),
          coalesce(col("n_neardups"), lit(0L)).as("n_neardups"))
        .orderBy("media_id")
    }, oracle =
      """WITH src AS (
           SELECT doc_id, text, octet_length(encode(text)) AS len,
             greatest(1, octet_length(encode(text)) // 48) AS h
           FROM documents WHERE doc_id % 3 = 0),
         pxj AS (
           SELECT doc_id, len, text, 16 * h AS n,
             unnest(range(0, 16 * h)) AS j
           FROM src),
         g AS (
           SELECT doc_id, n, CAST(j AS BIGINT) AS j,
             (CASE WHEN 3*j+1 <= least(len, CAST(n*3 AS BIGINT))
                   THEN unicode(substr(text, CAST(3*j+1 AS INT), 1)) ELSE 0 END
            + CASE WHEN 3*j+2 <= least(len, CAST(n*3 AS BIGINT))
                   THEN unicode(substr(text, CAST(3*j+2 AS INT), 1)) ELSE 0 END
            + CASE WHEN 3*j+3 <= least(len, CAST(n*3 AS BIGINT))
                   THEN unicode(substr(text, CAST(3*j+3 AS INT), 1)) ELSE 0 END
             ) AS gray
           FROM pxj),
         nb AS (SELECT doc_id, max(n) AS n, CAST(sum(gray) AS BIGINT) AS tot
                FROM g GROUP BY 1),
         blk AS (SELECT doc_id, (j * 64) // n AS b,
                   CAST(sum(gray) AS BIGINT) AS bs,
                   CAST(count(*) AS BIGINT) AS bn
                 FROM g GROUP BY 1, 2),
         bits AS (
           SELECT blk.doc_id, CAST(b AS BIGINT) AS b,
             CASE WHEN bs * nb.n > nb.tot * bn THEN 1 ELSE 0 END AS bit
           FROM blk JOIN nb ON blk.doc_id = nb.doc_id),
         hsh AS (
           SELECT doc_id,
             CAST(coalesce(sum(CASE WHEN b < 32
               THEN bit * (1::BIGINT << CAST(b AS INT)) END), 0) AS BIGINT) AS h1,
             CAST(coalesce(sum(CASE WHEN b >= 32
               THEN bit * (1::BIGINT << CAST(b - 32 AS INT)) END), 0) AS BIGINT) AS h2
           FROM bits GROUP BY 1),
         prs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2)) <= 3),
         cnt AS (
           SELECT doc_id, count(*) AS nd
           FROM (SELECT id_a AS doc_id FROM prs
                 UNION ALL SELECT id_b FROM prs)
           GROUP BY 1)
         SELECT h.doc_id AS media_id, h1, h2,
           CAST(coalesce(c.nd, 0) AS BIGINT) AS n_neardups
         FROM hsh h LEFT JOIN cnt c ON h.doc_id = c.doc_id
         ORDER BY media_id"""),

    // ---------------- continuous-ingest capstone ----------------
    // The round's incremental family composed as ONE batch-ingest
    // pipeline, every gate archive-shaped: the batch quarter (1) drops
    // exact duplicates against the archive's fingerprint table
    // (keep-first within the batch), (2) drops near-duplicates of
    // archived content via the two-relation PPJoin (exact, never
    // self-joining the archive), (3) drops benchmark leaks by the
    // containment gate, then (4) thins survivors with the PPS
    // token-weighted sample at expected fraction 1/2 (totals over the
    // survivors). Every stage is engine-exact, so the FULL pipeline
    // replays as one DuckDB query — gates compose by anti-joins over
    // independently-computed per-pair flags, which is also why the
    // stages can run in any order without changing the kept set.
    Query("q189_ingest_capstone", (s, dir) => {
      val docs = t(s, dir).documents
      val sh = sharedShingles(s, dir)
      val batch = docs.filter(col("doc_id") % 4 === 3)
      val archive = docs.filter(col("doc_id") % 4 =!= 3)
      val shBatch = sh.filter(col("id") % 4 === 3)
      val seen = archive.select(TextFns.fingerprint(col("text")).as("fp"))
        .distinct()
      val s1 = Dedup.dedupIncremental(batch, seen, "doc_id", "text")
        .select("doc_id")
      // batch ids with an archived near-dup partner, read off the
      // shared pair artifact (q187 benches the live two-relation
      // PPJoin that this gate is semantically equal to — spec-pinned)
      val nearFlag = sharedPairs(s, dir)
        .filter((col("id_a") % 4 === 3) =!= (col("id_b") % 4 === 3))
        .select(when(col("id_a") % 4 === 3, col("id_a"))
          .otherwise(col("id_b")).as("doc_id"))
        .distinct()
      val contFlag = Dedup.contaminationFuzzy(batch,
          docs.filter(col("doc_id") % 50 === 0), "doc_id", "text",
          n = JaccardShingleN, minContainment = 0.5,
          docShingles = Some(shBatch),
          benchShingles = Some(sh.filter(col("id") % 50 === 0)))
        .select("doc_id").distinct()
      val survivors = batch
        .join(s1, Seq("doc_id"), "left_semi")
        .join(nearFlag, Seq("doc_id"), "left_anti")
        .join(contFlag, Seq("doc_id"), "left_anti")
      val w = size(split(col("text"), " ")).cast("long")
      Mixing.weightedSample(survivors, col("doc_id"), w, 1, 2)
        .select(col("doc_id"), col("lang"), w.as("n_tok"),
          round(col("p_keep"), 6).as("p_keep"))
        .orderBy("doc_id")
    }, oracle =
      """WITH fpt AS (
           SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
           FROM documents),
         seen AS (SELECT DISTINCT fp FROM fpt WHERE doc_id % 4 <> 3),
         s1 AS (
           SELECT doc_id FROM (
             SELECT b.doc_id, row_number() OVER
               (PARTITION BY b.fp ORDER BY b.doc_id) AS rn
             FROM (SELECT * FROM fpt WHERE doc_id % 4 = 3) b
             ANTI JOIN seen s ON b.fp = s.fp)
           WHERE rn = 1),
         toks AS (
           SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS ts
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(ts)-1),
             i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
           FROM toks WHERE len(ts) >= 3),
         ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         sz AS (SELECT doc_id, len(s) AS n FROM sh),
         ninter AS (
           SELECT l.doc_id AS id_l, r.doc_id AS id_r, count(*) AS i
           FROM ex l JOIN ex r ON l.g = r.g
             AND l.doc_id % 4 = 3 AND r.doc_id % 4 <> 3
           GROUP BY 1, 2),
         near AS (
           SELECT DISTINCT id_l AS doc_id
           FROM ninter
           JOIN sz sa ON sa.doc_id = id_l
           JOIN sz sb ON sb.doc_id = id_r
           WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.6),
         bex AS (SELECT doc_id AS bench_id, g FROM ex WHERE doc_id % 50 = 0),
         cinter AS (
           SELECT e.doc_id, b.bench_id, count(*) AS ic
           FROM ex e JOIN bex b ON e.g = b.g AND e.doc_id <> b.bench_id
           WHERE e.doc_id % 4 = 3
           GROUP BY 1, 2),
         cont AS (
           SELECT DISTINCT c.doc_id
           FROM cinter c JOIN sz sb ON sb.doc_id = c.bench_id
           WHERE round(CAST(c.ic AS DOUBLE) / sb.n, 6) >= 0.5),
         sv AS (
           SELECT d.doc_id, d.lang,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
           FROM documents d
           JOIN s1 ON d.doc_id = s1.doc_id
           ANTI JOIN near ON d.doc_id = near.doc_id
           ANTI JOIN cont ON d.doc_id = cont.doc_id),
         t AS (
           SELECT CAST(sum(n_tok) AS BIGINT) AS tw,
             CAST(count(*) AS BIGINT) AS n
           FROM sv)
         SELECT doc_id, lang, n_tok,
           round(least(CAST(1 AS DOUBLE),
             CAST(1 AS DOUBLE) / 2 * n * n_tok / tw), 6) AS p_keep
         FROM sv, t
         WHERE tw > 0
           AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
               / CAST(4503599627370496 AS DOUBLE)
             < least(CAST(1 AS DOUBLE),
                 CAST(1 AS DOUBLE) / 2 * n * n_tok / tw)
         ORDER BY doc_id"""),

    // ---------------- video near-dup (shared frame fingerprints) ----------------
    // The third perceptual modality: every frame gets the q188
    // blocked-mean fingerprint independently, and two videos pair
    // when their DISTINCT frame-fingerprint sets share ≥ 2 entries —
    // the keyframe-overlap scheme, robust to re-cuts/frame drops
    // where a whole-stream hash is not. One fingerprint-keyed
    // equality self-join (the q65 shape — bucketed, never all-pairs).
    // FULL oracle: DuckDB rebuilds every frame's pixels from the
    // source bytes and replays fingerprints, sets, and pair counts.
    Query("q192_video_neardups", (s, dir) => {
      val media = Multimodal.mediaFromDocuments(t(s, dir).documents)
      Multimodal.videoNearDups(
          Multimodal.videoFrameHashes(s, media), minShared = 2)
        .orderBy("id_a", "id_b")
    }, oracle =
      """WITH src AS (
           SELECT doc_id, text, octet_length(encode(text)) AS len,
             greatest(1, octet_length(encode(text)) // 48) AS nf
           FROM documents WHERE doc_id % 3 = 2),
         fr AS (SELECT doc_id, len, text, unnest(range(0, nf)) AS f FROM src),
         px AS (
           SELECT doc_id, CAST(f AS BIGINT) AS f, len, text,
             unnest(range(0, 16)) AS j
           FROM fr),
         g AS (
           SELECT doc_id, f, CAST(j AS BIGINT) AS j,
             (CASE WHEN 48*f + 3*j + 1 <= len THEN
                unicode(substr(text, CAST(48*f + 3*j + 1 AS INT), 1)) ELSE 0 END
            + CASE WHEN 48*f + 3*j + 2 <= len THEN
                unicode(substr(text, CAST(48*f + 3*j + 2 AS INT), 1)) ELSE 0 END
            + CASE WHEN 48*f + 3*j + 3 <= len THEN
                unicode(substr(text, CAST(48*f + 3*j + 3 AS INT), 1)) ELSE 0 END
             ) AS gray
           FROM px),
         tot AS (SELECT doc_id, f, CAST(sum(gray) AS BIGINT) AS tot
                 FROM g GROUP BY 1, 2),
         bits AS (
           SELECT g.doc_id, g.f, 4 * j AS b,
             CASE WHEN gray * 16 > tot THEN 1 ELSE 0 END AS bit
           FROM g JOIN tot ON g.doc_id = tot.doc_id AND g.f = tot.f),
         hsh AS (
           SELECT doc_id, f,
             CAST(coalesce(sum(CASE WHEN b < 32
               THEN bit * (1::BIGINT << CAST(b AS INT)) END), 0) AS BIGINT) AS h1,
             CAST(coalesce(sum(CASE WHEN b >= 32
               THEN bit * (1::BIGINT << CAST(b - 32 AS INT)) END), 0) AS BIGINT) AS h2
           FROM bits GROUP BY 1, 2),
         fsets AS (SELECT DISTINCT doc_id, h1, h2 FROM hsh)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*) AS n_shared
         FROM fsets a JOIN fsets b
           ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 2
         ORDER BY id_a, id_b"""),

    // ---------------- perceptual audio dedup (energy-envelope hash) ----------------
    // q188's rule over the audio modality: 64 blocked-mean bits over
    // the decoded samples' ABSOLUTE amplitudes (the energy envelope),
    // same integer cross-product compares, same two-halves packing,
    // same banded hamming pairing (shared `hammingNearDups`). FULL
    // oracle: DuckDB rebuilds each 16-bit signed sample from the
    // source bytes (the q124 reconstruction), then every hash bit and
    // partner count.
    Query("q190_audio_phash", (s, dir) => {
      val media = Multimodal.mediaFromDocuments(t(s, dir).documents)
      val hashes = Multimodal.audioHashes(s, media)
      val pairs = Multimodal.hammingNearDups(hashes, maxHamming = 3)
      val parts = pairs.select(col("id_a").as("media_id"))
        .unionByName(pairs.select(col("id_b").as("media_id")))
        .groupBy("media_id").agg(count(lit(1)).as("n_neardups"))
      hashes.join(parts, Seq("media_id"), "left")
        .select(col("media_id"), col("h1"), col("h2"),
          coalesce(col("n_neardups"), lit(0L)).as("n_neardups"))
        .orderBy("media_id")
    }, oracle =
      """WITH src AS (
           SELECT doc_id, text, octet_length(encode(text)) AS len,
             greatest(1, octet_length(encode(text)) // 2) AS n
           FROM documents WHERE doc_id % 3 = 1),
         smpj AS (
           SELECT doc_id, len, text, n, unnest(range(0, n)) AS j FROM src),
         smp AS (
           SELECT doc_id, n, CAST(j AS BIGINT) AS j,
             abs(unicode(substr(text, CAST(2*j+1 AS INT), 1))
               + 256 * unicode(substr(text, CAST(2*j+2 AS INT), 1))
               - CASE WHEN unicode(substr(text, CAST(2*j+2 AS INT), 1)) >= 128
                      THEN 65536 ELSE 0 END) AS e
           FROM smpj),
         nb AS (SELECT doc_id, max(n) AS n, CAST(sum(e) AS BIGINT) AS tot
                FROM smp GROUP BY 1),
         blk AS (SELECT doc_id, (j * 64) // n AS b,
                   CAST(sum(e) AS BIGINT) AS bs,
                   CAST(count(*) AS BIGINT) AS bn
                 FROM smp GROUP BY 1, 2),
         bits AS (
           SELECT blk.doc_id, CAST(b AS BIGINT) AS b,
             CASE WHEN bs * nb.n > nb.tot * bn THEN 1 ELSE 0 END AS bit
           FROM blk JOIN nb ON blk.doc_id = nb.doc_id),
         hsh AS (
           SELECT doc_id,
             CAST(coalesce(sum(CASE WHEN b < 32
               THEN bit * (1::BIGINT << CAST(b AS INT)) END), 0) AS BIGINT) AS h1,
             CAST(coalesce(sum(CASE WHEN b >= 32
               THEN bit * (1::BIGINT << CAST(b - 32 AS INT)) END), 0) AS BIGINT) AS h2
           FROM bits GROUP BY 1),
         prs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2)) <= 3),
         cnt AS (
           SELECT doc_id, count(*) AS nd
           FROM (SELECT id_a AS doc_id FROM prs
                 UNION ALL SELECT id_b FROM prs)
           GROUP BY 1)
         SELECT h.doc_id AS media_id, h1, h2,
           CAST(coalesce(c.nd, 0) AS BIGINT) AS n_neardups
         FROM hsh h LEFT JOIN cnt c ON h.doc_id = c.doc_id
         ORDER BY media_id"""),

    // ---------------- schema-evolution merged read ----------------
    // A 100 TB lake has generations of writers: the fixture holds two
    // parquet generations of the documents table IN ONE DIRECTORY —
    // gen-1 (even doc_ids) written before `n_chars` existed, gen-2
    // (odd) with it. `mergeSchema` reconciles the file schemas at
    // scan time; gen-1 rows surface NULL n_chars, and the per-lang
    // audit must equal the oracle's recompute from the unsplit source
    // (null-aware counts/sums prove the union semantics exact).
    Query("q177_schema_evolution", (s, dir) => {
      val src = fixturePath("schemaevo", dir, "documents")
      Artifact.ensure(src) { tmp =>
        val d = t(s, dir).documents
        landFiles(tmp,
          "gen1" -> d.filter(col("doc_id") % 2 === 0)
            .select(col("doc_id"), col("lang")),
          "gen2" -> d.filter(col("doc_id") % 2 === 1)
            .select(col("doc_id"), col("lang"), col("n_chars")))
      }
      s.read.option("mergeSchema", "true").parquet(src)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), count(col("n_chars")).as("n_with"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }, oracle =
      // the oracle recomputes the two-generation union from the
      // UNSPLIT source: merged-read rows missing n_chars are exactly
      // the even doc_ids
      """SELECT lang, count(*) AS n,
           count(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS n_with,
           CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT)
             AS sum_chars
         FROM documents GROUP BY lang ORDER BY lang"""),

    // ---------------- corpus datasheet (capstone, FULL oracle) ----------------
    // The per-language data card a training-data platform publishes
    // with every corpus release — one wide report composing the
    // board's exact devices: volume (docs/tokens/chars), exact-dup
    // pressure (distinct md5 fingerprints, the q29 device), the q26
    // quality gate pass count, md5 split balance (the q174 device),
    // and blocklist exposure (total q200-dictionary occurrences).
    // Every facet is integer/string-exact, so the WHOLE datasheet
    // replays as one DuckDB query. Two scans: the main aggregate and
    // the automaton pass.
    Query("q210_corpus_datasheet", (s, dir) => {
      val docs = t(s, dir).documents
      val sp = Mixing.splitAssign(col("doc_id"),
        Seq("train" -> 204, "val" -> 26, "test" -> 26))
      val isQ = TextFns.tokenCount(col("text")).between(20, 1000) &&
        TextFns.distinctTokenRatio(col("text")) > 0.3
      val main = docs.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(TextFns.tokenCount(col("text")).cast("long")).as("n_tokens"),
        sum(length(col("text")).cast("long")).as("sum_chars"),
        countDistinct(TextFns.fingerprint(col("text"))).as("__nfp"),
        sum(when(isQ, 1L).otherwise(0L)).as("n_quality"),
        sum(when(sp === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(sp === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(sp === "test", 1L).otherwise(0L)).as("n_test"))
      val tags = Tagging.patternStats(docs, "lang", col("text"), DictPatterns)
        .groupBy(col("lang"))
        .agg(sum(col("occurrences")).as("blocklist_hits"))
      main.join(broadcast(tags), Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("n_tokens"), col("sum_chars"),
          (col("n_docs") - col("__nfp")).as("n_exact_dups"),
          col("n_quality"), col("n_train"), col("n_val"), col("n_test"),
          coalesce(col("blocklist_hits"), lit(0L)).as("blocklist_hits"))
        .orderBy("lang")
    }, oracle = {
      // the datasheet replays as ONE query: q200's recursive tag device
      // per lang + q174's md5 split buckets + the q29 fingerprint and
      // q26 gate rules, all integer/string-exact
      val vals = DictPatterns.map(p => s"('$p')").mkString(",")
      s"""WITH RECURSIVE
         pats(pattern) AS (VALUES $vals),
         m(doc_id, lang, pattern, pos) AS (
           SELECT d.doc_id, d.lang, p.pattern, strpos(d.text, p.pattern)
           FROM documents d CROSS JOIN pats p
           WHERE strpos(d.text, p.pattern) > 0
           UNION ALL
           SELECT m.doc_id, m.lang, m.pattern,
             m.pos + strpos(substr(d.text, m.pos + 1), m.pattern)
           FROM m JOIN documents d ON d.doc_id = m.doc_id
           WHERE strpos(substr(d.text, m.pos + 1), m.pattern) > 0),
         tg AS (SELECT lang, CAST(count(*) AS BIGINT) AS blocklist_hits
                FROM m GROUP BY lang),
         d AS (
           SELECT lang, text, string_split(text, ' ') AS ts,
             md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp,
             16*(strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)),1,1))-1)
               + (strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)),2,1))-1) AS b
           FROM documents),
         a AS (
           SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(ts)) AS BIGINT) AS n_tokens,
             CAST(sum(len(text)) AS BIGINT) AS sum_chars,
             CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dups,
             CAST(sum(CASE WHEN len(ts) BETWEEN 20 AND 1000
               AND CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) > 0.3
               THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
             CAST(sum(CASE WHEN b < 204 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
             CAST(sum(CASE WHEN b >= 204 AND b < 230 THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
             CAST(sum(CASE WHEN b >= 230 THEN 1 ELSE 0 END) AS BIGINT) AS n_test
           FROM d GROUP BY lang)
         SELECT a.lang, a.n_docs, a.n_tokens, a.sum_chars, a.n_exact_dups,
           a.n_quality, a.n_train, a.n_val, a.n_test,
           CAST(coalesce(t.blocklist_hits, 0) AS BIGINT) AS blocklist_hits
         FROM a LEFT JOIN tg t USING (lang) ORDER BY a.lang"""
    }),

    // ---------------- ORC source/sink round-trip ----------------
    // The q97 JSONL device on Spark's OTHER native columnar format:
    // write a filtered projection as ORC, read it back, aggregate —
    // the oracle recomputes from the parquet source, so the row
    // values prove the ORC write+read preserved every row and value.
    Query("q224_orc_roundtrip", (s, dir) => {
      val step = t(s, dir).documents.filter(col("n_chars") > 200)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val path = fixturePath("orc_step", dir, "documents")
      graft.sources.OrcIO.write(step, path)
      graft.sources.OrcIO.read(s, path)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("source")
    }, oracle =
      // the q97 device on the ORC round-trip: the oracle recomputes
      // from the parquet source
      """SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents WHERE n_chars > 200
         GROUP BY source ORDER BY source"""),

    // ---------------- flat-append compaction (fold path on the board) ----------------
    // The round-17 small-file fold (`Compaction.compactAppends`) under
    // a full oracle: a postings base + three appendPostings
    // generations (the flat mode("append") layout the incremental
    // family accumulates) fold in place, then the FOLDED directory
    // serves q194's ranked BM25 answer — so the oracle hash-checks
    // the fold's row fidelity end-to-end, and the envelope pins the
    // fold's two contracts in-plan: row-identity (symmetric exceptAll
    // against the pre-fold relation, counted to zero) and file-count
    // collapse.
    Query("q254_compact_fold", (s, dir) => {
      // half-corpus fixture: the fold contract (row identity + file
      // collapse over a base + three append generations) is
      // corpus-size-independent; halving bounds the per-rep rebuild
      val docs = t(s, dir).documents.filter(col("doc_id") % 2 === 0)
      val scratch = java.nio.file.Files
        .createTempDirectory("graft_q254").toString
      val idx = s"$scratch/idx"
      InvertedIndex.build(docs.filter(col("doc_id") % 4 === 0),
          "doc_id", col("text"))
        .write.parquet(idx)
      InvertedIndex.appendPostings(idx,
        docs.filter(col("doc_id") % 4 === 1), "doc_id", col("text"))
      InvertedIndex.appendPostings(idx,
        docs.filter(col("doc_id") % 4 === 2), "doc_id", col("text"))
      InvertedIndex.appendPostings(idx,
        docs.filter(col("doc_id") % 4 === 3), "doc_id", col("text"))
      val before = s.read.parquet(idx).localCheckpoint(true)
      val nBefore = graft.sources.Compaction.parquetFiles(idx).size
      graft.sources.Compaction.compactAppends(s, idx,
        targetBytes = 64L << 20)
      val nAfter = graft.sources.Compaction.parquetFiles(idx).size
      val after = s.read.parquet(idx)
      val verdict = before.exceptAll(after).agg(count(lit(1)).as("__a"))
        .crossJoin(after.exceptAll(before).agg(count(lit(1)).as("__b")))
        .select(((col("__a") === 0L) && (col("__b") === 0L))
            .as("folded_identical"),
          lit(nAfter < nBefore).as("files_collapsed"))
      InvertedIndex.bm25TopKIndexed(after, "doc_id",
          Seq("dup", "spark", "window"), k = 10)
        .crossJoin(broadcast(verdict))
    }, oracle =
      // the q194 full-corpus BM25 relation (the fold must not change a
      // single posting row), plus the fold contracts pinned TRUE
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents WHERE doc_id % 2 = 0),
         post AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM post GROUP BY 1),
         stats AS (SELECT count(*) AS nd,
             CAST(sum(dl) AS DOUBLE)/count(*) AS avgdl FROM dl),
         idf AS (SELECT term, avgdl,
             CAST(floor(ln((nd - df + 0.5e0)/(df + 0.5e0) + 1.0e0)*1e4 + 0.5e0)
               AS BIGINT) AS idf4
           FROM (SELECT term, count(*) AS df FROM post
                 WHERE term IN ('dup','spark','window') GROUP BY 1)
           CROSS JOIN stats),
         contrib AS (
           SELECT p.doc_id,
             i.idf4 * CAST(floor(p.tf*2.2e0/(p.tf + 1.2e0*(0.25e0 + 0.75e0*d.dl/i.avgdl))
               *1e6 + 0.5e0) AS BIGINT) AS c
           FROM post p JOIN dl d USING (doc_id) JOIN idf i USING (term)
           WHERE p.term IN ('dup','spark','window'))
         SELECT doc_id, count(*) AS n_terms, CAST(sum(c) AS DOUBLE)/1e10 AS bm25,
           TRUE AS folded_identical, TRUE AS files_collapsed
         FROM contrib GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10"""),

    // ---------------- table profiling (ingest gate) ----------------
    // One-pass per-column profile of the documents corpus: null
    // counts, EXACT distincts (one Expand + one shuffle — never a
    // per-column pass), native-typed min/max rendered to string.
    // The first operator of a trustworthy ingest DAG; `exact=false`
    // is the HLL scale knob (no oracle there — this row checks the
    // exact contract).
    Query("q255_profile_table", (s, dir) =>
      graft.operators.Profiling.profileTable(t(s, dir).documents,
        Seq("doc_id", "lang", "n_chars", "source", "text")), oracle =
      // per-column profile re-derived column by column (the engine does
      // it in ONE aggregation; the oracle's 5-way union is the check,
      // not the plan)
      """SELECT * FROM (
           SELECT 'doc_id' AS col_name, count(*) AS n_rows,
             count(*) - count(doc_id) AS n_null,
             count(DISTINCT doc_id) AS n_distinct,
             CAST(min(doc_id) AS VARCHAR) AS min_s,
             CAST(max(doc_id) AS VARCHAR) AS max_s FROM documents
           UNION ALL
           SELECT 'lang', count(*), count(*) - count(lang),
             count(DISTINCT lang), CAST(min(lang) AS VARCHAR),
             CAST(max(lang) AS VARCHAR) FROM documents
           UNION ALL
           SELECT 'n_chars', count(*), count(*) - count(n_chars),
             count(DISTINCT n_chars), CAST(min(n_chars) AS VARCHAR),
             CAST(max(n_chars) AS VARCHAR) FROM documents
           UNION ALL
           SELECT 'source', count(*), count(*) - count(source),
             count(DISTINCT source), CAST(min(source) AS VARCHAR),
             CAST(max(source) AS VARCHAR) FROM documents
           UNION ALL
           SELECT 'text', count(*), count(*) - count(text),
             count(DISTINCT text), CAST(min(text) AS VARCHAR),
             CAST(max(text) AS VARCHAR) FROM documents)
         ORDER BY col_name"""),

    // the profile as a GATE: reference profile vs a corrupted
    // candidate ingest (10% nulled lang, range-capped n_chars) —
    // the two corrupted columns must flag `drifted`, the other three
    // must pass clean; catalog-cost diff over two one-pass profiles
    Query("q256_profile_drift_gate", (s, dir) => {
      val docs = t(s, dir).documents
      val cols = Seq("doc_id", "lang", "n_chars", "source", "text")
      val a = graft.operators.Profiling.profileTable(docs, cols)
      val corrupted = docs
        .withColumn("lang", when(col("doc_id") % 10 === 0,
          lit(null).cast("string")).otherwise(col("lang")))
        .withColumn("n_chars", least(col("n_chars"), lit(100L)))
      val b = graft.operators.Profiling.profileTable(corrupted, cols)
      graft.operators.Profiling.profileDiff(a, b)
    }, oracle =
      // both profiles replayed column by column, then the gate's
      // rounded-rate / ratio / range arithmetic verbatim
      """WITH corr AS (
           SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN NULL ELSE lang END AS lang,
             least(n_chars, 100) AS n_chars, source, text
           FROM documents),
         pa AS (
           SELECT 'doc_id' AS col_name, count(*) AS n_rows,
             count(*) - count(doc_id) AS n_null,
             count(DISTINCT doc_id) AS n_distinct,
             CAST(min(doc_id) AS VARCHAR) AS min_s,
             CAST(max(doc_id) AS VARCHAR) AS max_s FROM documents
           UNION ALL
           SELECT 'lang', count(*), count(*) - count(lang),
             count(DISTINCT lang), CAST(min(lang) AS VARCHAR),
             CAST(max(lang) AS VARCHAR) FROM documents
           UNION ALL
           SELECT 'n_chars', count(*), count(*) - count(n_chars),
             count(DISTINCT n_chars), CAST(min(n_chars) AS VARCHAR),
             CAST(max(n_chars) AS VARCHAR) FROM documents
           UNION ALL
           SELECT 'source', count(*), count(*) - count(source),
             count(DISTINCT source), CAST(min(source) AS VARCHAR),
             CAST(max(source) AS VARCHAR) FROM documents
           UNION ALL
           SELECT 'text', count(*), count(*) - count(text),
             count(DISTINCT text), CAST(min(text) AS VARCHAR),
             CAST(max(text) AS VARCHAR) FROM documents),
         pb AS (
           SELECT 'doc_id' AS col_name, count(*) AS n_rows,
             count(*) - count(doc_id) AS n_null,
             count(DISTINCT doc_id) AS n_distinct,
             CAST(min(doc_id) AS VARCHAR) AS min_s,
             CAST(max(doc_id) AS VARCHAR) AS max_s FROM corr
           UNION ALL
           SELECT 'lang', count(*), count(*) - count(lang),
             count(DISTINCT lang), CAST(min(lang) AS VARCHAR),
             CAST(max(lang) AS VARCHAR) FROM corr
           UNION ALL
           SELECT 'n_chars', count(*), count(*) - count(n_chars),
             count(DISTINCT n_chars), CAST(min(n_chars) AS VARCHAR),
             CAST(max(n_chars) AS VARCHAR) FROM corr
           UNION ALL
           SELECT 'source', count(*), count(*) - count(source),
             count(DISTINCT source), CAST(min(source) AS VARCHAR),
             CAST(max(source) AS VARCHAR) FROM corr
           UNION ALL
           SELECT 'text', count(*), count(*) - count(text),
             count(DISTINCT text), CAST(min(text) AS VARCHAR),
             CAST(max(text) AS VARCHAR) FROM corr),
         d AS (
           SELECT pa.col_name, 'common' AS status,
             round(CAST(pa.n_null AS DOUBLE)/pa.n_rows, 6) AS null_rate_a,
             round(CAST(pb.n_null AS DOUBLE)/pb.n_rows, 6) AS null_rate_b,
             round(CAST(pb.n_distinct AS DOUBLE)/pa.n_distinct, 6)
               AS distinct_ratio,
             (pa.min_s IS DISTINCT FROM pb.min_s)
               OR (pa.max_s IS DISTINCT FROM pb.max_s) AS range_changed
           FROM pa JOIN pb USING (col_name))
         SELECT col_name, status, null_rate_a, null_rate_b,
           distinct_ratio, range_changed,
           (abs(null_rate_b - null_rate_a) > 0.01
             OR distinct_ratio > 2.0 OR distinct_ratio < 0.5
             OR range_changed) AS drifted
         FROM d ORDER BY col_name"""),
  )
}
