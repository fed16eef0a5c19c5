package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Deduplication operators for the training-data-pipeline surface:
  * exact, MinHash+LSH, SimHash, and exact n-gram Jaccard.
  *
  * Scale design (100 TB):
  *  - Signatures (minhash/simhash) are computed with codegen'd
  *    higher-order functions or a single partial-aggregated shuffle —
  *    never a UDF, never a collect.
  *  - Candidate generation is band-bucketed (LSH): the self-join runs
  *    on (band, bandHash) keys so the shuffle moves signatures, not
  *    documents, and skewed buckets stay bounded by band width.
  *  - Exact verification joins text back ONLY for candidate pairs
  *    (a tiny fraction of n²).
  *
  * Batch, incremental and lookup forms are one probe-versus-archive
  * computation, so each step they share is written once:
  * [[shingleSets]] (a width-checked pre-built relation or a fresh
  * build) and [[repSets]] (exact-duplicate contraction); the LSH
  * bucket join [[bucketPairs]] and the PPJoin prefix join
  * [[prefixCandidates]] (the self form is the two-sided form over one
  * relation, pairs `l.id < r.id`); the exact Jaccard [[verified]];
  * the member expansions [[expandPairs]] (both sides of a self join)
  * and [[expandSide]] (one side); the span keep-first
  * [[laterOccurrences]]; and the parameter-sidecar artifact
  * [[ensureJaccard]] over [[Artifact.ensureWithMeta]].
  */
object Dedup {
  import graft.Sessions.materialized

  /** Exact duplicate groups by normalized-text hash; keeps the
    * smallest id as the canonical representative (deterministic —
    * SURVEY.md §7.4 rule).
    */
  def exactDupGroups(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.groupBy(TextFns.fingerprint(text).as("fp"))
      .agg(min(id).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** Distinct documents under exact (normalized) equality — keeps the
    * min-id row per fingerprint.
    */
  def dedupExact(docs: DataFrame, idName: String, textName: String): DataFrame = {
    val keep = docs.groupBy(TextFns.fingerprint(col(textName)).as("fp"))
      .agg(min(col(idName)).as(idName))
      .select(idName)
    docs.join(keep, Seq(idName), "left_semi")
  }

  /** MinHash signatures as `k` salted-xxhash64 minima over word
    * `shingleN`-shingles: explode + ONE keyed aggregation with k
    * `min` columns (full map-side partial agg). The aggregation is
    * deliberate — besides being the classic scalable shape, the
    * HashAggregate exec materializes the signature columns, so
    * downstream band hashing references real columns instead of
    * Catalyst inlining the whole signature expression into every
    * element_at (which blew codegen up ~200× in the HOF variant).
    * Returns (id, sig array<long>); shingle-less docs drop out.
    */
  def minhashSignatures(docs: DataFrame, id: Column, text: Column,
                        k: Int = 32, shingleN: Int = 3): DataFrame =
    sigsFromShingleSets(
      hashedShingleSets(docs.select(id.as("doc"), text.as("txt")),
        "doc", "txt", shingleN), k)

  /** Signatures from a pre-built shingle relation (the persisted
    * [[ensureShingleSets]] artifact) — lets archive state derive from
    * the one shingle scan instead of re-shingling the corpus. Width
    * provenance is enforced like every other consumer of the
    * contract.
    */
  def minhashSignaturesFromShingles(shingles: DataFrame, k: Int = 32,
                                    shingleN: Int = 3): DataFrame =
    sigsFromShingleSets(requireShingleN(shingles, shingleN), k)

  /** k salted-xxhash64 minima over a (id, sh array) relation — the
    * single definition both the public signature API and the near-dup
    * pipeline share (min over the distinct set equals min over raw
    * shingles).
    */
  private def sigsFromShingleSets(sh: DataFrame, k: Int): DataFrame = {
    val exploded = sh.select(col("id"), explode(col("sh")).as("g"))
    val mins = (0 until k).map(i => min(xxhash64(lit(i), col("g"))).as(s"m$i"))
    exploded.groupBy(col("id")).agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH banding: (band, bandHash) per signature slice. bands*rows
    * must equal k. Same-bucket pairs are the near-dup candidates.
    *
    * Hot-bucket skew: a boilerplate-heavy corpus puts thousands of
    * documents in the SAME (band, bh) bucket, making the self-join
    * key quadratically hot. The guards, in order: (1) contract exact
    * duplicates before signatures where the pipeline allows (the
    * jaccard path does — a boilerplate cluster becomes ONE node);
    * (2) AQE skew-join splitting bounds max-task input at
    * advisoryPartitionSizeInBytes by splitting the hot partition and
    * replicating the matching side — verified by DedupSpec's
    * adversarial hot-bucket case, which asserts the final adaptive
    * plan shows SortMergeJoin(skew=true) with exact output.
    */
  /** The banded-signature relation (id, band, bh) — one row per
    * document per band. This IS the archive state of the incremental
    * near-dup pipeline ([[minhashNearDupsIncremental]]): compact
    * (`bands` longs per document regardless of text size), cheap to
    * append, and probing it never re-bands or self-joins the archive.
    * (k, bands) ride the `bh` column as field metadata — the same
    * provenance contract as the shingle relations — so a consumer can
    * reject an archive banded under different parameters instead of
    * silently finding nothing.
    */
  def minhashBands(sigged: DataFrame, k: Int = 32, bands: Int = 8): DataFrame = {
    require(k % bands == 0, s"bands $bands must divide k $k")
    val r = k / bands
    val bandCols = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((lit(b) +: (0 until r).map(j => element_at(col("sig"), b * r + j + 1))): _*)
          .as("bh"))
    }: _*)
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(MinhashKKey, k.toLong).putLong(MinhashBandsKey, bands.toLong)
      .build()
    sigged.select(col("id"), explode(bandCols).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.bh").as("bh", md))
  }

  private def requireBandParams(rel: DataFrame, k: Int, bands: Int): DataFrame = {
    val md = rel.schema.find(_.name == "bh").map(_.metadata)
      .getOrElse(org.apache.spark.sql.types.Metadata.empty)
    require(md.contains(MinhashKKey) && md.contains(MinhashBandsKey),
      "band relation carries no (k, bands) provenance metadata — " +
        "build it with Dedup.minhashBands")
    val (gk, gb) = (md.getLong(MinhashKKey), md.getLong(MinhashBandsKey))
    require(gk == k && gb == bands,
      s"band relation was built with k=$gk bands=$gb, consumer expects k=$k bands=$bands")
    rel
  }

  def minhashCandidates(sigged: DataFrame, k: Int = 32, bands: Int = 8): DataFrame =
    bandSelfCandidates(minhashBands(sigged, k, bands))

  /** Same-bucket candidate pairs (id_a < id_b) within one banded
    * relation (id, band, bh) — shared with consumers that already hold
    * the band relation (the incremental near-dup path, where the banded
    * batch is computed once and ALSO appended as archive state).
    */
  private def bandSelfCandidates(banded: DataFrame): DataFrame =
    bucketPairs(banded, banded, col("l.id") < col("r.id"))(
      col("l.id").as("id_a"), col("r.id").as("id_b"))

  /** Distinct `out` over the same-bucket rows of two banded relations
    * (id, band, bh, ...) aliased `l` and `r` — the one LSH candidate
    * join of the family (minhash self, batch × archive and lookup;
    * simhash). `cond` is the pair predicate on top of the bucket
    * match (`l.id < r.id` for a self join).
    */
  private def bucketPairs(l: DataFrame, r: DataFrame, cond: Column)
                         (out: Column*): DataFrame =
    l.as("l").join(r.as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") && cond)
      .select(out: _*)
      .distinct()

  /** MinHash near-dup pairs with EXACT shingle-Jaccard verification
    * of candidates. Returns (id_a, id_b, jaccard) for pairs at or
    * above `threshold`.
    *
    * Runs over cluster REPRESENTATIVES (one doc per identical shingle
    * set) and expands after — output-identical to the uncontracted
    * form, because identical sets yield identical signatures: a
    * member pair shares an LSH bucket iff its rep pair does, its
    * verified Jaccard equals the rep pair's, and intra-cluster pairs
    * (identical sigs ⇒ every band collides; Jaccard exactly 1.0 ≥
    * any valid threshold) are always emitted by both forms. Without
    * the contraction the banded self-join is quadratic in duplicate-
    * cluster size — measured 70× wall-clock at 100× replication
    * (SCALING.md round 8) while the contracted jaccard path stayed
    * flat.
    */
  def minhashNearDups(docs: DataFrame, idName: String, textName: String,
                      threshold: Double = 0.6, k: Int = 32, bands: Int = 8,
                      shingleN: Int = 3,
                      shingles: Option[DataFrame] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0)
    // One persisted shingle-set relation feeds the signature
    // aggregation AND both verification sides (min over the distinct
    // set equals min over raw shingles) — without it the shingling
    // runs three times per query. Hashed-long shingles: Jaccard
    // values and minhash collision statistics are preserved w.h.p.,
    // at a fraction of the construction cost. A caller holding the
    // persisted ensureShingleSets relation (same corpus, same
    // shingleN — the jaccardPairs CONTRACT) skips the shingling scan.
    // cloned corpus: the reps are materialized by contractBy;
    // clone-free: they project straight off the shingle cache — either
    // way each consumer below re-reads a cache, no second persist
    val (sh, members0) = repSets(materialized(
      shingleSets(docs, idName, textName, shingleN, shingles)))
    val members = members0.map(materialized)
    val cands = minhashCandidates(sigsFromShingleSets(sh, k), k, bands)
    expandPairs(verified(cands, sh, sh, threshold), members,
      intraValue = lit(1.0), valueName = "jaccard")
  }

  /** Incremental near-dup detection: from a NEW batch, every
    * near-duplicate pair against the historical archive plus the
    * batch-internal pairs — the continuous counterpart of
    * [[minhashNearDups]], completing the incremental family
    * ([[dedupIncremental]] exact, [[spanDedupIncremental]] spans).
    * Returns (id_a = batch id, id_b = partner id, jaccard, vs) with
    * `vs` ∈ {archive, batch}; batch-internal pairs orient id_a <
    * id_b. Batch and archive id spaces must be disjoint (the archive
    * is by definition already-ingested history).
    *
    * The archive contributes exactly its two persisted relations and
    * is touched by nothing else: the banded-signature table
    * ([[minhashBands]] — `bands` longs per historical doc) keyed by
    * the batch's rep bands, and the shingle-set relation joined only
    * against the candidates that survive banding (a candidate-sized
    * broadcast join — the scan is one linear read of the shingle
    * relation, its OUTPUT candidate-sized; an id-bucketed archive
    * layout would prune the read too). The archive is never
    * re-shingled, re-signed, re-banded, or self-joined — per batch
    * the CPU work is O(batch + collisions) plus that one stored-
    * relation scan, which is what keeps a continuously-fed 100 TB
    * corpus affordable. Both archive
    * relations carry provenance metadata (shingle width; k/bands) and
    * mismatched parameters are rejected loudly. Exact-duplicate
    * clusters inside the batch contract to representatives before any
    * candidate join (identical shingle sets ⇒ identical signatures ⇒
    * identical band keys and identical exact Jaccard, so the
    * expansion is output-identical); candidates are verified with
    * EXACT shingle Jaccard, so emitted pairs are never false
    * positives — banding costs recall only.
    */
  def minhashNearDupsIncremental(batch: DataFrame, idName: String,
                                 textName: String,
                                 archiveShingles: DataFrame,
                                 archiveBands: DataFrame,
                                 threshold: Double = 0.6, k: Int = 32,
                                 bands: Int = 8, shingleN: Int = 3,
                                 batchShingles: Option[DataFrame] = None,
                                 batchBands: Option[DataFrame] = None)
      : DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0)
    val shA = requireShingleN(archiveShingles, shingleN)
    val bandsA = requireBandParams(archiveBands, k, bands)
    val (reps, members0) = repSets(materialized(
      shingleSets(batch, idName, textName, shingleN, batchShingles)))
    val members = members0.map(materialized)
    // `batchBands` contract: exactly `minhashBands(
    // minhashSignaturesFromShingles(shB, k, shingleN), k, bands)` for
    // the SAME batch relation — enforced via the (k, bands) provenance
    // metadata like the archive side. A caller that must append the
    // batch's bands as the archive's next generation anyway (the
    // streaming sink) computes them ONCE and both sides share; the
    // rep slice is a semi-join, sound because identical shingle sets
    // produce identical band rows.
    val repBands = batchBands match {
      case Some(bb) => requireBandParams(bb, k, bands)
        .join(reps.select(col("id")), Seq("id"), "left_semi")
      case None => minhashBands(sigsFromShingleSets(reps, k), k, bands)
    }
    // batch × archive: rep bands keyed against the archive band
    // table. One-sided expansion: every batch clone of a rep inherits
    // the rep's archive partners and exact jaccard (identical shingle
    // sets); the archive side is not contracted — it is state, not
    // input
    val crossCands = bucketPairs(repBands, bandsA, lit(true))(
      col("l.id").as("id_a"), col("r.id").as("id_b"))
    val crossAll = expandSide(verified(crossCands, reps, shA, threshold),
      members, "id_a")
    // batch-internal: the standard self path over the same rep bands
    val selfAll = expandPairs(
      verified(bandSelfCandidates(repBands), reps, reps, threshold),
      members, intraValue = lit(1.0), valueName = "jaccard")
    crossAll.withColumn("vs", lit("archive"))
      .unionByName(selfAll.withColumn("vs", lit("batch")))
  }

  /** Point-serve near-dup LOOKUP — "find this document's near-dups
    * NOW" against the standing archive: the online-QUERY member of
    * the near-dup family (self-join [[minhashNearDups]], incremental
    * [[minhashNearDupsIncremental]], and the streaming sink cover the
    * batch/ingest forms; this is what a dedup SERVICE answers per
    * request). Probes are a bounded batch (≤ `maxProbes`, rejected
    * loudly — the broadcast-probe geometry of the serving family):
    * each probe shingles + bands under the archive's own (k, bands)
    * parameters (provenance-checked), candidate ids come from ONE
    * broadcast equi-join of the probe bands against the archive band
    * table — the archive is never re-banded, never self-joined, and a
    * bucketed band table prunes to the probes' buckets — and
    * survivors verify by EXACT Jaccard against the archive shingle
    * sets. Output: (probe_id, doc_id, jaccard) at ≥ threshold, the
    * probe's own archived row excluded. Linear in the candidate set,
    * constant in the corpus beyond the band-bucket touch.
    */
  def nearDupLookup(probes: DataFrame, idName: String, textName: String,
                    archiveShingles: DataFrame, archiveBands: DataFrame,
                    threshold: Double = 0.6, k: Int = 32, bands: Int = 8,
                    shingleN: Int = 3, maxProbes: Int = 128): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0)
    val shA = requireShingleN(archiveShingles, shingleN)
    val bandsA = requireBandParams(archiveBands, k, bands)
    val nProbes = probes.count()
    require(nProbes <= maxProbes,
      s"nearDupLookup serves bounded probe batches: got $nProbes probes, " +
        s"cap $maxProbes — loop batches or raise maxProbes deliberately")
    val shP = shingleSets(probes, idName, textName, shingleN, None)
    val pBands = minhashBands(sigsFromShingleSets(shP, k), k, bands)
    val cands = bucketPairs(broadcast(pBands), bandsA, col("l.id") =!= col("r.id"))(
      col("l.id").as("probe_id"), col("r.id").as("doc_id"))
    verified(cands, broadcast(shP), shA, threshold)
  }

  /** Incremental ingestion dedup: from a NEW batch, keep only
    * documents whose content fingerprint is (a) not in the historical
    * `seenFps` set and (b) first within the batch itself
    * (deterministic min-id winner per fingerprint). The continuous
    * counterpart of [[dedupExact]]: the archive contributes only its
    * fingerprint column — at 100 TB the history relation is a compact
    * fingerprint table, the anti-join is a keyed shuffle (or
    * broadcast when the history is small), and the batch-local
    * keep-first is one window over the batch. Composes with
    * `StreamOps.dedupStream` (stream gate for the hot horizon, this
    * for the archive boundary).
    */
  def dedupIncremental(newDocs: DataFrame, seenFps: DataFrame,
                       idName: String, textName: String): DataFrame = {
    val fp = newDocs.withColumn("fp", TextFns.fingerprint(col(textName)))
    val fresh = fp.join(seenFps.select(col("fp")), Seq("fp"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col(idName).asc)
    fresh.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** 64-bit SimHash over whitespace tokens. explode + one keyed
    * shuffle with full partial aggregation (map-side combine), then
    * bit assembly from the 64 signed sums — scalable and
    * deterministic. Duplicate tokens intentionally weigh in (term
    * frequency weighting).
    */
  def simhash64(docs: DataFrame, idName: String, text: Column): DataFrame = {
    val tok = docs.select(col(idName), explode(TextFns.tokens(TextFns.normText(text))).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val sums = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"s$j")
    }
    val agg = tok.groupBy(col(idName)).agg(sums.head, sums.tail: _*)
    val sim = (0 until 64).foldLeft(lit(0L)) { (acc, j) =>
      acc.bitwiseOR(when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
    }
    agg.select(col(idName), sim.as("simhash"))
  }

  /** SimHash near-dup pairs: `bands`×(64/bands)-bit band bucketing —
    * by pigeonhole, any pair within Hamming distance `bands - 1`
    * shares at least one exact band (the default 4×16 split is
    * COMPLETE for hamming <= 3) — then exact Hamming verification
    * with bit_count(xor). Hot-band skew is bounded the same way as
    * [[minhashCandidates]] (AQE skew split; DedupSpec adversarial
    * case covers this join too). A second `bands` decomposition of
    * the same hashes gives an independent completeness cross-check
    * (the q32 envelope verdict: 8×8 banding is complete for
    * hamming <= 7, a superset of the 4×16 guarantee).
    *
    * Runs over representatives of identical SIMHASH VALUES and expands
    * after — output-identical to the uncontracted form: equal hashes
    * band identically (a member pair is a candidate iff its rep pair
    * is), hamming(x, y) = hamming(rep(x), rep(y)), and same-hash pairs
    * are hamming 0 ≤ any maxHamming, always emitted by both forms.
    * Exact duplicates (and near-dups that happen to collide) form
    * same-hash clusters, which made the uncontracted band join
    * quadratic in cluster size — the 100× probe's 391 s row
    * (SCALING.md round 8).
    */
  def simhashNearDups(docs: DataFrame, idName: String, textName: String,
                      maxHamming: Int = 3, bands: Int = 4,
                      hashes: Option[DataFrame] = None): DataFrame = {
    require(maxHamming >= 0)
    require(bands >= 2 && 64 % bands == 0,
      s"bands $bands must divide 64 (and be >= 2)")
    val bandBits = 64 / bands
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1L
    // `hashes` contract: exactly `simhash64(docs, idName,
    // col(textName))` for the SAME corpus (there are no free
    // parameters — the hash is a fixed function of the text), letting
    // a caller that consumes the per-doc hash relation anyway (the
    // q32 envelope re-derives each emitted pair's hamming and runs a
    // second independent band decomposition) pay the token-explode
    // aggregation once instead of per consumer. An unpersisted
    // relation is materialized here like the internal build.
    val shAll = hashes match {
      case Some(h) if h.storageLevel != org.apache.spark.storage.StorageLevel.NONE => h
      case Some(h) => materialized(h)
      case None => materialized(simhash64(docs, idName, col(textName)))
    }
    val (groups, members0) = contractBy(shAll, idName, "simhash")
    val sh = groups.select(col("rid").as("id"), col("simhash"))
    val members = members0.map(materialized)
    val banded = sh.select(
      col("id"), col("simhash"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(mask)).as("bh"))
      }: _*)).as("b"))
      .select(col("id"), col("simhash"), col("b.band"), col("b.bh"))
    val repPairs = bucketPairs(banded, banded, col("l.id") < col("r.id"))(
        col("l.id").as("id_a"), col("r.id").as("id_b"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
    expandPairs(repPairs, members, intraValue = lit(0), valueName = "hamming")
  }

  /** Exact n-gram Jaccard similar pairs with PREFIX FILTERING
    * (PPJoin-style): for Jaccard >= t, two sets must share a shingle
    * within each other's first ⌊(1-t)·|d|⌋+1 shingles when both are
    * ordered by ascending global frequency — so the quadratic
    * shingle-join runs only over those prefixes (rare shingles),
    * never over the hot stop-shingles that dominate df² cost.
    * Candidates are then verified with an exact array-intersect
    * Jaccard, so the output is IDENTICAL to the naive all-pairs join
    * (the DuckDB oracle) — no false negatives, by the prefix-filter
    * theorem. This is the property that keeps the operator viable at
    * corpus scale: shuffle volume follows prefix size, not document
    * frequency skew.
    *
    * CONTRACT for the optional `shingles` relation (here and on
    * [[jaccardClusters]]/[[ensureClusterLabels]]/[[contamination]]):
    * it must be exactly `hashedShingleSets(docs, idName, textName, n)`
    * for the SAME corpus and the SAME `n` as this call — i.e. the
    * relation [[ensureShingleSets]] persists under its `-n$n`-keyed
    * path. The contract is ENFORCED: every relation the API builds
    * carries its shingle width as field metadata on `sh` (which
    * survives persist, parquet round-trips, and filters), and every
    * consumer of a pre-built relation requires that width to match
    * its own `n` — a mismatched or provenance-less relation throws
    * instead of silently producing (and, via ensureClusterLabels,
    * persisting) wrong results. The persisted artifacts additionally
    * carry a `_graft_meta.json` parameter sidecar verified on
    * resolve.
    */
  def jaccardPairs(docs: DataFrame, idName: String, textName: String,
                   n: Int = 3, threshold: Double = 0.5,
                   maxShingleFreq: Long = Long.MaxValue,
                   shingles: Option[DataFrame] = None): DataFrame = {
    val (repPairs, members) = jaccardRepPairs(docs, idName, textName, n,
      threshold, maxShingleFreq, shingles)
    // (shingle-width contract on `shingles` checked in jaccardRepPairs)
    expandPairs(repPairs, members, intraValue = lit(1.0), valueName = "jaccard")
  }

  /** Two-relation exact set-similarity join: every (left doc, right
    * doc) pair whose word-shingle Jaccard reaches `threshold`, as
    * (id_l, id_r, jaccard) — the CROSS-corpus member of the jaccard
    * family (new crawl × curated corpus, batch × archive,
    * plagiarism/citation sweeps). Same PPJoin machinery as
    * [[jaccardPairs]] — prefix, length, and positional filters over a
    * SHARED global (df, shingle) order (document frequencies summed
    * across both sides so both prefixes rank identically) — but the
    * candidate join pairs left prefixes with right prefixes only:
    * neither side is ever self-joined, so a huge archive costs its
    * prefix scan, not its quadratic interior. Exact-duplicate clusters
    * contract per side and expand cross-wise (no intra pairs — the
    * sides are different relations). Id spaces are independent; if
    * the same document appears on both sides its self-pair is emitted
    * at jaccard 1.0 like any other qualifying pair (filter on
    * id_l =!= id_r for the q183-style split of one corpus).
    * `maxShingleFreq` keeps [[jaccardPairs]]' stop-shingle semantics
    * with df counted across BOTH relations.
    */
  def jaccardJoin(left: DataFrame, right: DataFrame,
                  idName: String, textName: String,
                  n: Int = 3, threshold: Double = 0.5,
                  maxShingleFreq: Long = Long.MaxValue,
                  leftShingles: Option[DataFrame] = None,
                  rightShingles: Option[DataFrame] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0)
    def side(df: DataFrame, pre: Option[DataFrame]) = {
      val (reps, members) = repSets(shingleSets(df, idName, textName, n, pre))
      (reps, members.map(materialized))
    }
    val (repL, memL) = side(left, leftShingles)
    val (repR, memR) = side(right, rightShingles)
    val cands = prefixCandidates(repL, Some(repR), threshold, maxShingleFreq,
      "id_l", "id_r")
    // cross-wise expansion: each side's clones inherit the rep pair's
    // exact jaccard; no intra pairs across two distinct relations
    expandSide(expandSide(verified(cands, repL, repR, threshold), memL, "id_l"),
      memR, "id_r")
  }

  /** Collapse rows with IDENTICAL `keyCol` values to one representative
    * (the minimum id), returning (reps, members): reps carries one row
    * per distinct key with the representative's id, members maps every
    * original id to its representative. The shared contraction step of
    * the whole near-dup family — a crawl-scale corpus is dominated by
    * exact-duplicate clusters, and every banded/prefix candidate join
    * degrades quadratically in cluster size without it (measured: the
    * round-2 jaccard 65× blowup at 10×, and round 8's minhash 70× /
    * simhash hot-bucket blowups at 100×).
    *
    * ADAPTIVE: `members` is None when every key is unique — the
    * clone-free corpus (e.g. anything downstream of [[dedupExact]]),
    * where rep ≡ row and the membership/expansion joins would be pure
    * identity shuffles. Callers skip them entirely, so the
    * quadratic-proofing costs nothing when there is nothing to
    * contract. The detection probe is one limit-1 read of the groups
    * aggregate, which is materialized here because it IS the rep
    * relation every caller consumes repeatedly.
    */
  private[operators] def contractBy(rows: DataFrame, idName: String, keyCol: String)
      : (DataFrame, Option[DataFrame]) = {
    // Clone detection is ONE 1-row aggregate — no persist, no groupBy
    // materialization, no separate probe job. The r8 form materialized
    // the groups relation (persist + count + limit-1 probe = two extra
    // jobs and a cache entry) even on a clone-free corpus, and the
    // driver bench billed exactly that overhead to the EditJoin pair
    // (q115 0.8→3.5 s, q121 2.1→6.6 s r7→r8). countDistinct drops
    // NULL keys, so NULLs are accounted separately: groupBy treats all
    // NULL keys as ONE group, hence >1 null-keyed rows ARE a clone
    // group.
    val probe = rows.agg(count(lit(1)).as("n"),
      countDistinct(col(keyCol)).as("nd"),
      count(when(col(keyCol).isNull, lit(1))).as("nnull")).head()
    val (n, nd, nnull) = (probe.getLong(0), probe.getLong(1), probe.getLong(2))
    if (nnull <= 1 && n - nnull == nd) {
      // clone-free: rep ≡ row. groups is a pure projection of the
      // input — downstream consumers re-read the (pruned, codegen'd)
      // source scan instead of a cache; no membership or expansion
      // join will run (members = None).
      (rows.select(col(idName).as("rid"), col(keyCol), lit(1L).as("gsize")), None)
    } else {
      // cloned corpus: build and materialize the rep relation — it IS
      // the relation every caller consumes repeatedly, and the
      // contraction saves quadratic candidate work downstream.
      val groups = materialized(rows.groupBy(col(keyCol))
        .agg(min(col(idName)).as("rid"), count(lit(1)).as("gsize")))
      val members = Some(rows.select(col(idName).as("mid"), col(keyCol))
        .join(groups.select(col(keyCol), col("rid")), Seq(keyCol))
        .select(col("rid"), col("mid")))
      (groups, members)
    }
  }

  /** Expand rep-level similar pairs back to member pairs: cross pairs
    * inherit the representatives' measure, intra-cluster pairs (whose
    * members are identical under the contraction key) get
    * `intraValue`. Members derive via joins, never collect_list — a
    * boilerplate page with millions of twins must not become one giant
    * array on one reducer. Output is IDENTICAL to the uncontracted
    * join: identical inputs have identical signatures/prefixes, so a
    * member pair is a candidate iff its rep pair is, and its measure
    * equals the rep measure (exactly `intraValue` within a cluster).
    * `members = None` (the clone-free corpus, [[contractBy]]) means
    * rep pairs ARE member pairs: no expansion joins, no intra pairs.
    */
  private[operators] def expandPairs(repPairs: DataFrame, members: Option[DataFrame],
                                     intraValue: Column, valueName: String): DataFrame =
    members match {
      case None => repPairs
      case Some(mem) =>
        val cross = repPairs
          .join(mem.select(col("rid").as("id_a"), col("mid").as("ma")), "id_a")
          .join(mem.select(col("rid").as("id_b"), col("mid").as("mb")), "id_b")
          .select(least(col("ma"), col("mb")).as("id_a"),
            greatest(col("ma"), col("mb")).as("id_b"), col(valueName))
        val intra = mem.as("x").join(mem.as("y"),
            col("x.rid") === col("y.rid") && col("x.mid") < col("y.mid"))
          .select(col("x.mid").as("id_a"), col("y.mid").as("id_b"),
            intraValue.as(valueName))
        cross.unionByName(intra)
    }

  /** One-sided member expansion: every clone of a `side`
    * representative inherits the rep's pairs and measure (identical
    * inputs), the other columns unchanged — the cross-relation
    * counterpart of [[expandPairs]] (no intra pairs: the other side is
    * a different relation). `members = None` passes `pairs` through.
    */
  private def expandSide(pairs: DataFrame, members: Option[DataFrame],
                         side: String): DataFrame =
    members.fold(pairs) { m =>
      pairs.join(m.select(col("rid").as(side), col("mid")), side)
        .select(pairs.columns.toSeq.map(c =>
          if (c == side) col("mid").as(c) else col(c)): _*)
    }

  /** The (id, sh) shingle sets of `docs`: the caller's pre-built
    * relation `pre` (width-checked; a persisted parquet artifact — the
    * ensureShingleSets contract — is already its own materialization,
    * so re-reading the scan per consumer is cheaper than a
    * persist+count round trip over it) or a fresh, materialized
    * [[hashedShingleSets]] build. The sets feed several consumers
    * (frequency table, prefix ranking or signatures, both verification
    * sides); without materialization Catalyst recomputes the shingling
    * per consumer — measured 4× the dominant cost of the whole query.
    */
  private def shingleSets(docs: DataFrame, idName: String, textName: String,
                          n: Int, pre: Option[DataFrame]): DataFrame =
    pre.map(requireShingleN(_, n)).getOrElse(
      materialized(hashedShingleSets(docs, idName, textName, n)))

  /** [[contractBy]] over a shingle relation: the representative sets
    * (id, sh, gsize) and the rep → member map. Cloned corpus: the reps
    * are materialized by contractBy; clone-free: they project off the
    * shingle relation, so consumers re-read its cache either way.
    */
  private def repSets(sh: DataFrame): (DataFrame, Option[DataFrame]) = {
    val (groups, members) = contractBy(sh, "id", "sh")
    (groups.select(col("rid").as("id"), col("sh"), col("gsize")), members)
  }

  /** Exact shingle-Jaccard verification of candidate pairs: `cands`'
    * two id columns (a, b) joined to the (id, sh) sets of `left` and
    * `right`, kept at or above `threshold` as (a, b, jaccard) — the one
    * verify of the family. The union size is |A| + |B| − |A∩B|: the
    * sets are distinct and non-empty ([[hashedShingleSets]] drops
    * shingle-less documents, [[requireShingleN]] admits only its
    * relations), so it equals `size(array_union)` without building the
    * union; the `uni > 0` guard keeps an empty pair at 0.
    */
  private def verified(cands: DataFrame, left: DataFrame, right: DataFrame,
                       threshold: Double): DataFrame = {
    val (a, b) = (cands.columns(0), cands.columns(1))
    val inter = size(array_intersect(col("__sh_a"), col("__sh_b"))).cast("double")
    val uni = (size(col("__sh_a")) + size(col("__sh_b"))).cast("double") - inter
    cands.join(left.select(col("id").as(a), col("sh").as("__sh_a")), a)
      .join(right.select(col("id").as(b), col("sh").as("__sh_b")), b)
      .withColumn("jaccard", round(when(uni > 0, inter / uni).otherwise(lit(0.0)), 6))
      .filter(col("jaccard") >= threshold)
      .select(col(a), col(b), col("jaccard"))
  }

  /** PPJoin candidate pairs (a, b) between representative sets
    * (id, sh, gsize): `right = None` is the self form — `left` against
    * itself, pairs `l.id < r.id`. For Jaccard >= t two sets must share
    * a shingle within each other's prefixes when both are ordered by
    * ascending global frequency, so the quadratic shingle join runs
    * only over those prefixes (rare shingles), never over the hot
    * stop-shingles that dominate df² cost. The frequency table is ONE
    * table over both sides: the prefix filter is only exact when both
    * sides slice their prefixes under the same total order.
    */
  private def prefixCandidates(left: DataFrame, right: Option[DataFrame],
                               threshold: Double, maxShingleFreq: Long,
                               a: String, b: String): DataFrame = {
    def exploded(rep: DataFrame) = rep.select(col("id"),
      size(col("sh")).as("nsh"), col("gsize"), explode(col("sh")).as("g"))
    val exL = exploded(left)
    val exR = right.map(exploded)
    // df counts DOCUMENTS (sum of group sizes), not representatives,
    // so the maxShingleFreq stop-shingle cap keeps its caller-facing
    // semantics on duplicate-heavy corpora
    val freq = exR.fold(exL)(r => exL.select(col("g"), col("gsize"))
        .unionByName(r.select(col("g"), col("gsize"))))
      .groupBy("g").agg(sum(col("gsize")).as("df"))
      .filter(col("df") <= maxShingleFreq)
    // order shingles per doc by (global df asc, shingle asc); keep the
    // prefix that any qualifying pair must intersect. One keyed
    // aggregation (sort inside each small per-doc group, slice) —
    // same single exchange as a row_number window but no
    // partition-wide sort of the whole shingle relation.
    // prefix length = |d| - ⌈t·|d|⌉ + 1 (the exact PPJoin bound). The
    // naive float form floor((1-t)·|d|)+1 undercounts when 1-t rounds
    // DOWN in binary (t=0.9: 1-t = 0.09999..., a 19-shingle doc got
    // prefix 1 instead of 2 → missed pairs); the epsilon nudge before
    // ceil can only lengthen the prefix, which keeps exactness.
    val plen = (col("nsh") - ceil(lit(threshold) * col("nsh") - lit(1e-9)) + 1)
      .cast("int")
    def ranked(ex: DataFrame) = ex.join(freq, Seq("g"))
      .groupBy(col("id"))
      .agg(first(col("nsh")).as("nsh"),
        sort_array(collect_list(struct(col("df"), col("g")))).as("arr"))
      .select(col("id"), col("nsh"),
        posexplode(slice(col("arr"), lit(1), plen)))
      .select(col("id"), col("nsh"), col("pos"), col("col.g").as("g"))
    val rankedL = ranked(exL)
    // PPJoin's candidate-time prunes on top of the prefix filter —
    // both are exact (no false negatives), both cut the dominant cost
    // (candidate volume into distinct + verification; measured 299 K
    // candidates for 241 true pairs at sf0.1 with the prefix filter
    // alone):
    //  * length filter: Jaccard >= t forces t·|a| <= |b| <= |a|/t;
    //  * positional filter: a true pair's FIRST common shingle in the
    //    global (df, g) order sits at 0-based prefix positions
    //    (pa, pb), and every common shingle lies in the suffixes from
    //    there, so overlap <= min(|a|-pa, |b|-pb); overlap >= α =
    //    ⌈t/(1+t)·(|a|+|b|)⌉ must still be reachable. Keeping a pair
    //    when ANY matching occurrence passes is a superset of classic
    //    PPJoin's candidates (which checks only the first match), so
    //    exactness is preserved without tracking which match was
    //    first. The ε nudge before ceil keeps α from rounding UP past
    //    the true rational bound (same convention as plen above — an
    //    overestimated α would drop true pairs).
    val alpha = ceil(lit(threshold / (1 + threshold)) *
      (col("l.nsh") + col("r.nsh")) - lit(1e-9))
    rankedL.as("l").join(exR.fold(rankedL)(ranked).as("r"),
        col("l.g") === col("r.g") &&
          right.fold(col("l.id") < col("r.id"))(_ => lit(true)) &&
          col("r.nsh").cast("double") >= lit(threshold) * col("l.nsh") &&
          col("l.nsh").cast("double") >= lit(threshold) * col("r.nsh") &&
          least(col("l.nsh") - col("l.pos"), col("r.nsh") - col("r.pos"))
            .cast("double") >= alpha)
      .select(col("l.id").as(a), col("r.id").as(b))
      .distinct()
  }

  /** The contracted form of [[jaccardPairs]]: similar pairs over
    * cluster REPRESENTATIVES (one doc per identical shingle set),
    * plus the rep→member expansion map. Callers that only need
    * component structure (cluster resolution) consume this directly —
    * the expanded member-pair relation is O(m²) per exact-duplicate
    * cluster, which a crawl-scale corpus cannot afford to materialize.
    *
    * Collapsing identical shingle SETS to one representative before
    * pairing matters because a crawl-scale corpus is dominated by
    * exact-duplicate clusters and the prefix-filter join degrades
    * quadratically in cluster size (every member shares every prefix
    * shingle — measured 65× blowup on a 10×-replicated corpus).
    * Shingles are the hashedShingleSets longs: set cardinalities — and
    * therefore every Jaccard value — are preserved (injective w.h.p.,
    * ~n²/2⁶⁵ collision odds), and the joins compare 8-byte longs.
    */
  private def jaccardRepPairs(docs: DataFrame, idName: String, textName: String,
                              n: Int, threshold: Double, maxShingleFreq: Long,
                              shingles: Option[DataFrame] = None)
      : (DataFrame, Option[DataFrame]) = {
    require(threshold > 0.0 && threshold <= 1.0)
    val (sh, members) = repSets(shingleSets(docs, idName, textName, n, shingles))
    val cands = prefixCandidates(sh, None, threshold, maxShingleFreq, "id_a", "id_b")
    (verified(cands, sh, sh, threshold), members)
  }

  /** Near-dup cluster resolution straight from documents: jaccard
    * similarity graph → connected components → (id, canonical_id),
    * identical to `dupClusters(jaccardPairs(...))` but WITHOUT ever
    * materializing the expanded member-pair relation: components are
    * computed over cluster representatives (strictly fewer nodes and
    * edges — a boilerplate cluster of m exact twins contributes m²/2
    * expanded pairs but ONE contracted node), then labels expand to
    * members with a single join. Correctness: every representative is
    * its group's minimum id, so the min label over a rep-component
    * equals the min member id over the corresponding expanded
    * component.
    */
  def jaccardClusters(docs: DataFrame, idName: String, textName: String,
                      n: Int = 3, threshold: Double = 0.5,
                      maxShingleFreq: Long = Long.MaxValue,
                      shingles: Option[DataFrame] = None): DataFrame = {
    val (repPairs0, members0) = jaccardRepPairs(docs, idName, textName, n,
      threshold, maxShingleFreq, shingles)
    // both relations feed two consumers below (and dupClusters
    // re-reads the pair relation when building its edge set): without
    // materialization the candidate+verification join — the expensive
    // stage — runs twice
    val repPairs = materialized(repPairs0)
    val members = members0.map(materialized)
    // contracted node set = reps in a similar pair + reps of exact-dup
    // groups (their members are pairwise connected even with no cross
    // edges); singleton reps without pairs are their own (excluded)
    // component, matching the expanded-pair node set. Clone-free
    // corpus (members None): rep ≡ doc, so the node set is just the
    // paired reps and the labels need no member expansion.
    val pairedReps = repPairs.select(col("id_a").as("rid"))
      .unionByName(repPairs.select(col("id_b").as("rid"))).distinct()
    val nodes = members match {
      case Some(m) =>
        val multiReps = m.groupBy(col("rid"))
          .agg(count(lit(1)).as("m")).filter(col("m") > 1).select("rid")
        pairedReps.unionByName(multiReps).distinct()
      case None => pairedReps
    }
    val repLabels = dupClusters(repPairs)
      .withColumnRenamed("id", "rid")
    val labels = nodes.join(repLabels, Seq("rid"), "left")
      .select(col("rid"),
        coalesce(col("canonical_id"), col("rid")).as("canonical_id"))
    members match {
      case Some(m) => m.join(labels, Seq("rid"))
        .select(col("mid").as("id"), col("canonical_id"))
      case None => labels.select(col("rid").as("id"), col("canonical_id"))
    }
  }

  /** Build-once persisted exact-pair artifact — the same discipline
    * as the shingle and cluster-label artifacts, one level up: the
    * Jaccard-threshold pair relation is a pure function of (corpus,
    * n, threshold, maxShingleFreq) and is the standing state of a
    * continuous dedup pipeline (envelope oracles key on it, cluster
    * maintenance folds batches into it, reporting reads it). Keyed
    * and verified like [[ensureClusterLabels]] ([[ensureJaccard]]).
    */
  def ensureJaccardPairs(docs: DataFrame, idName: String, textName: String,
                         n: Int, threshold: Double, maxShingleFreq: Long,
                         path: String,
                         shingles: Option[DataFrame] = None): DataFrame =
    ensureJaccard(docs, "jaccard-pairs", n, threshold, maxShingleFreq, path)(
      jaccardPairs(docs, idName, textName, n, threshold, maxShingleFreq, shingles))

  /** Build-once persisted cluster-label artifact (the
    * `Similarity.ensureIvfIndex` pattern applied to dedup): the
    * jaccard-cluster label relation `(id, canonical_id)` is a pure
    * function of the corpus and the parameters, and EVERY consumer of
    * the dedup family needs it — cluster reporting, corpus pruning,
    * canonical-doc joins. Computing it once and persisting it keyed on
    * the input turns N consumers × one expensive prefix-join+CC into
    * one build + N parquet scans. At 100 TB the label relation is the
    * natural pipeline checkpoint between "dedup analysis" and "corpus
    * rewrite" jobs; locally it removes the cross-query recompute that
    * dominated the round-3 bench (q69 built the labels, q90 rebuilt
    * the identical relation from scratch).
    *
    * The caller supplies the path (tagged with the source data's
    * size+mtime upstream, so regenerated inputs rebuild rather than
    * serve stale labels). Safe because `jaccardClusters` is
    * deterministic: the persisted rows are bit-identical to a fresh
    * computation.
    */
  def ensureClusterLabels(docs: DataFrame, idName: String, textName: String,
                          n: Int, threshold: Double, maxShingleFreq: Long,
                          path: String,
                          shingles: Option[DataFrame] = None): DataFrame =
    ensureJaccard(docs, "jaccard-cluster-labels", n, threshold, maxShingleFreq, path)(
      jaccardClusters(docs, idName, textName, n, threshold, maxShingleFreq, shingles))

  /** The persisted `kind` relation `rel` of a Jaccard-threshold build
    * at `path` tagged with its parameter tuple. The caller's path tags
    * the SOURCE data; the tuple must also be part of the key, or tuning
    * (n, threshold, ...) would silently serve a relation computed under
    * the old settings. The same tuple is the artifact's verified
    * sidecar, so a renamed or mislabeled directory cannot serve it
    * either.
    */
  private def ensureJaccard(docs: DataFrame, kind: String, n: Int,
                            threshold: Double, maxShingleFreq: Long,
                            path: String)(rel: => DataFrame): DataFrame = {
    val full = s"$path-n$n-t${(threshold * 1e6).toLong}-f$maxShingleFreq"
    Artifact.ensureWithMeta(full, Map("kind" -> kind, "n" -> n.toString,
      "threshold" -> threshold.toString,
      "maxShingleFreq" -> maxShingleFreq.toString))(rel.write.parquet(_))
    docs.sparkSession.read.parquet(full)
  }

  /** Build-once persisted hashed-shingle relation `(id, sh)` — the
    * shared INPUT of the whole n-gram family (jaccard pair/cluster
    * builds, decontamination, the capstone corpus prep). Shingling is
    * the family's dominant CPU stage and a pure function of
    * (corpus, n), so it is the natural first checkpoint of a 100 TB
    * pipeline: tokenize/shingle once when the corpus lands, then every
    * downstream dedup/decontamination job is a parquet scan of the
    * hash relation instead of a re-scan of the raw text. Keyed on the
    * caller's source-tagged path + n (same contract as
    * [[ensureClusterLabels]]); published atomically, with its
    * parameter sidecar, via [[Artifact.ensureWithMeta]].
    */
  def ensureShingleSets(docs: DataFrame, idName: String, textName: String,
                        n: Int, path: String): DataFrame = {
    val full = s"$path-n$n"
    Artifact.ensureWithMeta(full, Map("kind" -> "shingle-sets", "n" -> n.toString))(
      hashedShingleSets(docs, idName, textName, n).write.parquet(_))
    // the field-metadata check proves the parquet round-trip preserved
    // the width tag — the relation this returns is accepted by every
    // consumer of the contract
    requireShingleN(docs.sparkSession.read.parquet(full), n)
  }

  /** Benchmark-contamination check — the decontamination gate of a
    * training pipeline: flag every (corpus doc, benchmark doc) pair
    * sharing at least `minShared` distinct word n-gram shingles.
    * Shingle-join shape: a fixed-size benchmark side auto-broadcasts
    * (AQE), making the check one scan of the corpus — no corpus-side
    * self-join, which is what keeps decontamination linear at
    * 100 TB.
    */
  def contamination(docs: DataFrame, benchmark: DataFrame,
                    idName: String, textName: String,
                    n: Int = 3, minShared: Int = 2,
                    docShingles: Option[DataFrame] = None,
                    benchShingles: Option[DataFrame] = None): DataFrame = {
    // hashed shingles on BOTH sides (the join key must live in one
    // domain): shared-shingle COUNTS are preserved under the injective-
    // w.h.p. hash, so minShared semantics are unchanged — and a caller
    // holding the persisted ensureShingleSets relation skips the
    // re-shingle entirely (a benchmark drawn from the corpus is just a
    // filter over the same artifact)
    def exploded(df: DataFrame, pre: Option[DataFrame], as: String) =
      pre.map(requireShingleN(_, n))
        .getOrElse(hashedShingleSets(df, idName, textName, n))
        .select(col("id").as(as), explode(col("sh")).as("g"))
    // no explicit broadcast hint: a FIXED benchmark (the usual case)
    // auto-broadcasts under AQE, while a benchmark that grows with
    // the corpus falls back to a shuffle join instead of blowing the
    // broadcast limit
    exploded(docs, docShingles, "doc_id_c")
      .join(exploded(benchmark, benchShingles, "bench_id"), Seq("g"))
      .filter(col("doc_id_c") =!= col("bench_id"))
      .groupBy(col("doc_id_c"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .withColumnRenamed("doc_id_c", idName)
  }

  /** Fuzzy benchmark decontamination — the normalized-overlap gate:
    * for every (corpus doc, benchmark doc) pair sharing at least one
    * word n-gram shingle, the exact shingle-set overlap as BOTH
    * Jaccard and CONTAINMENT |A∩B|/|B| (fraction of the benchmark
    * item the doc covers), keeping pairs at or above
    * `minContainment`. Containment is the decontamination-correct
    * metric: a long document that embeds a short benchmark item
    * verbatim has containment 1.0 but near-zero Jaccard — an
    * absolute shared count ([[contamination]]) or a Jaccard threshold
    * both under-flag exactly the leaks that matter. Rounding is
    * applied BEFORE the threshold compare on both engines so the
    * boundary is bit-stable.
    *
    * Scale shape: same as [[contamination]] — hashed shingles on both
    * sides (counts and set sizes preserved under the injective-w.h.p.
    * hash), the fixed-size benchmark side auto-broadcasts under AQE,
    * so the check is ONE linear corpus scan with a map-side-combined
    * pair count; no corpus self-join and no LSH recall loss — the
    * answer is exact, which a candidate-generating sketch can't give.
    * Per-pair counts are bounded by the benchmark item's shingle
    * count, so no group blows up on a hot document.
    */
  def contaminationFuzzy(docs: DataFrame, benchmark: DataFrame,
                         idName: String, textName: String,
                         n: Int = 3, minContainment: Double = 0.5,
                         docShingles: Option[DataFrame] = None,
                         benchShingles: Option[DataFrame] = None): DataFrame = {
    require(minContainment > 0.0 && minContainment <= 1.0,
      s"minContainment $minContainment must be in (0, 1]")
    def rel(df: DataFrame, pre: Option[DataFrame]) =
      pre.map(requireShingleN(_, n))
        .getOrElse(hashedShingleSets(df, idName, textName, n))
    val d = rel(docs, docShingles).select(col("id").as("doc_id_c"),
      size(col("sh")).cast("long").as("n_doc"), explode(col("sh")).as("g"))
    val b = rel(benchmark, benchShingles).select(col("id").as("bench_id"),
      size(col("sh")).cast("long").as("n_bench"), explode(col("sh")).as("g"))
    // set sizes ride the explode as group keys (functionally dependent
    // on the ids) — no second join back to a sizes relation
    d.join(b, Seq("g"))
      .filter(col("doc_id_c") =!= col("bench_id"))
      .groupBy(col("doc_id_c"), col("bench_id"), col("n_doc"), col("n_bench"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("jaccard", round(col("n_shared").cast("double") /
        (col("n_doc") + col("n_bench") - col("n_shared")), 6))
      .withColumn("containment",
        round(col("n_shared").cast("double") / col("n_bench"), 6))
      .filter(col("containment") >= minContainment)
      .select(col("doc_id_c").as(idName), col("bench_id"),
        col("n_shared"), col("jaccard"), col("containment"))
  }

  /** Dedup-cluster resolution: collapse a pair relation (id_a, id_b)
    * — e.g. the output of any near-dup operator — into connected
    * components, labeling every member with the component's minimum
    * id (the canonical document). This is the step that turns "A≈B,
    * B≈C" pairs into "keep A, drop B and C".
    *
    * Algorithm: iterative min-label propagation — each round joins
    * the label relation with the (symmetrized) edge relation and
    * keeps the minimum of a node's own label and its neighbors'
    * labels, until a fixed point. Rounds = component diameter (near-
    * dup clusters are shallow); every round is two distributed
    * hash-shuffles with map-side partial min — the standard
    * large-scale CC shape, no driver-side graph. The driver loop only
    * checks a per-round convergence COUNT (a scalar), and each round
    * materializes its label relation so lineage stays flat.
    */
  /** Incremental dedup-cluster resolution: fold a NEW pair relation
    * into an existing (id, canonical_id) label archive — the last
    * step of a continuous dedup pipeline (q183 finds the batch's
    * pairs; this turns them into updated canonical assignments).
    * Archived components CONTRACT to star edges (member →
    * canonical), the new pairs connect stars and fresh ids, and
    * [[dupClusters]] runs over a graph of size archive-members +
    * new-pairs — the historical PAIR relation, which at corpus scale
    * dwarfs the label table, is never touched or re-derived, and star
    * components have diameter ≤ 2 so the propagation converges in a
    * round or two. Output is EXACTLY `dupClusters(allPairs)` for the
    * ids appearing in either relation (spec-pinned): every old member
    * stays connected to its component through its star edge, so
    * merged components carry the true global minimum id. Archived
    * SINGLETONS (canonical_id == id, never paired) contribute no
    * edges; they re-enter only if a new pair touches them, which is
    * also exactly the full run's node set.
    */
  def dupClustersIncremental(newPairs: DataFrame, oldLabels: DataFrame,
                             maxIters: Int = 25): DataFrame = {
    val stars = oldLabels.filter(col("id") =!= col("canonical_id"))
      .select(col("id").as("id_a"), col("canonical_id").as("id_b"))
    dupClusters(stars.unionByName(newPairs.select(col("id_a"), col("id_b"))),
      maxIters)
  }

  def dupClusters(pairs: DataFrame, maxIters: Int = 25,
                  localSolveMaxEdges: Long = 4L * 1024 * 1024): DataFrame = {
    // symmetrized + SELF-LOOPS: with (v, v) edges, a node's own label
    // flows through the same neighbor join as everyone else's, so
    // each round is one join + one aggregation — no union of the
    // label relation with itself (which both doubles the plan and
    // trips Catalyst's union constraint rewrite on checkpointed
    // branches)
    val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    // materialized pre-partitioned on dst (the per-round join key):
    // the cached relation's partitioning survives, so each propagation
    // round shuffles only the label side — the PageRank/BFS pattern
    val edges = materialized(
      sym.unionByName(sym.select(col("src"), col("src").as("dst")))
        .distinct().repartition(col("dst")))
    // Small-graph fast path: once the (contracted) edge relation fits
    // one task, a single-partition union-find beats the distributed
    // loop outright — each loop round costs two cluster-wide
    // shuffles + a checkpoint, pure overhead on a graph this size.
    // This is the standard endgame of large-scale CC (iterate/contract
    // while big, solve locally once small); the loop below remains the
    // path for graphs above the threshold, and the cutoff is on the
    // EDGE relation the loop would iterate on, not the input corpus.
    // ~4M edges ≈ 64 MB in one task. The count is served from the
    // materialized cache. Long-typed ids only; anything else loops.
    val longIds = edges.schema.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (longIds && edges.count() <= localSolveMaxEdges) {
      // eager checkpoint: consumers re-read materialized rows, so the
      // edge cache is unreachable and safe to release (same contract
      // as the loop's checkpointed labels)
      val out = unionFindSolve(edges).localCheckpoint(true)
      edges.unpersist()
      return out
    }
    // localCheckpoint (not just persist) per round: each round's plan
    // references the previous round's MULTIPLE times (the union and
    // the pointer-jump self-join), so an un-truncated lineage grows
    // exponentially and Catalyst analysis itself becomes the
    // bottleneck by ~round 7. Checkpointing flattens the plan to the
    // materialized rows — the standard shape for iterative
    // algorithms.
    var labels =
      edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("canonical_id"))
        .localCheckpoint(true)
    // Convergence check: min-propagation only ever DECREASES a label,
    // so the label sum is strictly monotone until the fixed point —
    // "no label changed" ⇔ "the sum is unchanged". One decimal
    // aggregate over the (checkpointed) label relation per round,
    // instead of a join of consecutive rounds. DECIMAL(38,0) keeps the
    // sum exact out to ~1e19 rows of 63-bit ids.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("canonical_id").cast("decimal(38,0)"))).head()
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    var prevSum = labelSum(labels)
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val propagated = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .select(col("src").as("id"), col("canonical_id"))
        .groupBy(col("id")).agg(min(col("canonical_id")).as("canonical_id"))
      // pointer jumping: lbl(id) := lbl(lbl(id)). Combined with the
      // one-hop neighbor min above, the propagation distance roughly
      // DOUBLES per round, so convergence is O(log diameter) — a
      // 30-deep version-drift chain resolves in ~5 rounds instead of
      // 29 (plain one-hop propagation needs O(diameter) rounds and
      // would blow the round cap on long chains). Every label is
      // itself a node id of the same component, so the self-join
      // always matches; the coalesce is belt-and-braces.
      val next = propagated.as("x")
        .join(propagated.select(col("id").as("p_id"),
          col("canonical_id").as("p_lbl")).as("p"),
          col("x.canonical_id") === col("p_id"), "left")
        .select(col("x.id").as("id"),
          coalesce(col("p_lbl"), col("x.canonical_id")).as("canonical_id"))
        .localCheckpoint(true)
      val nextSum = labelSum(next)
      labels.unpersist()
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      it += 1
    }
    require(converged, s"dupClusters did not converge in $maxIters rounds")
    // the returned labels are checkpointed (lineage truncated), so the
    // edge cache is no longer reachable from them — release it rather
    // than leaving one persisted relation per CC invocation behind
    edges.unpersist()
    labels
  }

  /** Per-doc sorted distinct 64-bit shingle hashes via the native
    * one-pass kernel (`TextFns.shingleHashes` / TextExprs.scala) — no
    * shingle strings, no interpreted HOF lambdas. Space-joined
    * shingle strings are injective in the token n-tuple (tokens
    * cannot contain the separator), so the hash domain preserves
    * every set CARDINALITY — and therefore every Jaccard value and
    * minhash statistic — w.h.p. (~n²/2⁶⁵ collision odds, the same
    * contract the string path accepted when it hashed its shingles).
    * Measured ~10× cheaper than the lookahead-regex string form;
    * shingle CONSTRUCTION, not joining, dominated the whole jaccard
    * family's cost.
    */
  private[graft] def hashedShingleSets(docs: DataFrame, idName: String,
                                       textName: String, n: Int): DataFrame = {
    val slots = docs.sparkSession.sparkContext.defaultParallelism
    val balanced =
      if (docs.rdd.getNumPartitions < slots) docs.repartition(slots) else docs
    // the shingle width rides on the column as field metadata: it
    // survives persist, filters, and the parquet round-trip of
    // ensureShingleSets, so every consumer of a pre-built relation can
    // verify provenance instead of trusting the caller (see the
    // CONTRACT on jaccardPairs)
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(ShingleNKey, n.toLong).build()
    balanced.select(col(idName).as("id"),
        TextFns.shingleHashes(col(textName), n).as("sh", md))
      .filter(size(col("sh")) > 0)
  }

  private[graft] val ShingleNKey = "graft.shingle_n"
  private[graft] val MinhashKKey = "graft.minhash_k"
  private[graft] val MinhashBandsKey = "graft.minhash_bands"

  /** Enforce the pre-built-shingle-relation contract: the relation
    * must carry `ShingleNKey` field metadata equal to the consumer's
    * own `n`. Absent metadata means unknown provenance — rebuilt
    * through [[hashedShingleSets]]/[[ensureShingleSets]] it is always
    * present — and is rejected rather than trusted, because a width
    * mismatch silently changes every Jaccard value downstream.
    */
  private def requireShingleN(rel: DataFrame, n: Int): DataFrame = {
    val fld = rel.schema.fields.find(_.name == "sh").getOrElse(
      throw new IllegalArgumentException(
        "pre-built shingle relation has no 'sh' column; expected the " +
          "(id, sh) shape hashedShingleSets produces"))
    require(fld.metadata.contains(ShingleNKey),
      "pre-built shingle relation carries no shingle-width metadata " +
        s"($ShingleNKey); build it with Dedup.ensureShingleSets / " +
        "hashedShingleSets so provenance is verifiable")
    val got = fld.metadata.getLong(ShingleNKey)
    require(got == n,
      s"pre-built shingle relation was built with n=$got but this call " +
        s"requires n=$n — a width mismatch silently corrupts every " +
        "Jaccard value, so it is rejected")
    rel
  }

  /** One-task min-root union-find over a symmetrized (src, dst) edge
    * relation that fits a single partition. Attaching the larger root
    * under the smaller keeps every tree's root equal to its
    * component's minimum id, so the labeling is identical to the
    * distributed min-propagation loop and independent of edge arrival
    * order. Path compression keeps find amortized near-constant.
    */
  private def unionFindSolve(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          if (!parent.contains(a)) parent.update(a, a)
          if (!parent.contains(b)) parent.update(b, b)
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent.update(rb, ra)
          else if (rb < ra) parent.update(ra, rb)
        }
        val ids = parent.keys.toArray
        ids.iterator.map(id => (id, find(id)))
      }
      .toDF("id", "canonical_id")
  }

  // ----------------------------------------------------------------
  // Cross-document duplicated-SPAN removal (exact substring dedup)
  // ----------------------------------------------------------------

  /** Every k-word span of every document as (id, pos, h): `pos` is
    * the 1-based word index of the span start and `h` = md5 of the
    * space-joined k words — an engine-portable exact-content key (the
    * repo's md5-determinism convention), so an oracle can replay span
    * identity bit-for-bit. Documents shorter than k words contribute
    * nothing. One projection + explode, no shuffle; output is linear
    * in corpus token count (≈ one row per word — the inverted-index
    * scale class).
    */
  def spanHashes(docs: DataFrame, idName: String, textName: String,
                 k: Int): DataFrame = {
    require(k >= 2, s"span width k=$k must be >= 2")
    docs.select(col(idName).as("id"),
        posexplode(TextFns.wordSpanMd5(col(textName), k)).as(Seq("p0", "h")))
      .select(col("id"), (col("p0") + lit(1)).cast("long").as("pos"), col("h"))
  }

  /** The declarative form of `spanHashes`'s kernel — interpreted HOF,
    * ~10× slower, kept as the equivalence reference for specs.
    */
  private[graft] def spanHashesHof(docs: DataFrame, idName: String,
                                   textName: String, k: Int): DataFrame = {
    val ws = split(col(textName), " ")
    // sequence() flips to a descending step when size < k would make
    // the upper bound < 1, so short docs need the explicit empty arm
    val hashes = when(size(ws) >= k,
        transform(sequence(lit(1), size(ws) - lit(k - 1)),
          i => md5(concat_ws(" ", slice(ws, i, lit(k))))))
      .otherwise(array().cast("array<string>"))
    docs.select(col(idName).as("id"), posexplode(hashes).as(Seq("p0", "h")))
      .select(col("id"), (col("p0") + lit(1)).cast("long").as("pos"), col("h"))
  }

  /** Exact duplicated-substring dedup over word k-grams — the
    * span-granular counterpart of `dedupExact` (the "remove repeated
    * passages, keep otherwise-unique documents" discipline of
    * training-data curation, cf. Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499,
    * re-expressed as relational algebra instead of a suffix array):
    * any k-word span whose content occurs more than once in the
    * corpus — in another document OR again in the same one — is a
    * duplicate everywhere except its globally first occurrence
    * (min (id, pos): keep-first, the §7.4 determinism rule at span
    * granularity, so the canonical copy of every passage survives
    * somewhere). Duplicate occurrences become word intervals
    * [pos, pos+k-1]; per document, intervals covering a contiguous
    * word range merge into maximal removed REGIONS
    * (`RangeJoin.mergeIntervals`, maxGap=1 — touching spans are one
    * region). One output row per document:
    *
    *   id, total_words, dup_regions, dup_words,
    *   dup_ppm  = total_words == 0 ? 0
    *            : floor(1e6 * dup_words / total_words)   (fixed point)
    *   clean_fp = md5 of the document with removed-region words
    *              dropped.
    *
    * Scale (100 TB): the span relation is token-count-linear; the
    * duplicate-group aggregation is ONE partial-aggregable keyed
    * shuffle on h; marking non-first occurrences is an equi-join on h
    * (AQE splits a boilerplate-hash skew); region merging and the
    * final stats are per-document windows/aggs whose state is bounded
    * by document length. Nothing quadratic, nothing driver-side. The
    * corpus is scanned twice (span build feeds both the group agg and
    * the join-back) — recompute over persist, the same trade the
    * minhash family makes. Contrast `minhashNearDups`: that DETECTS
    * mostly-duplicate documents; this surgically removes repeated
    * passages (boilerplate, licenses, quoted chunks) from documents
    * that are otherwise unique.
    */
  def spanDedup(docs: DataFrame, idName: String, textName: String,
                k: Int = 8): DataFrame = {
    spanRemovalOutput(docs, idName, textName,
      laterOccurrences(spanHashes(docs, idName, textName, k), k))
  }

  /** Batch-over-archive duplicated-span removal — `dedupIncremental`
    * at span granularity, for the continuous-pipeline shape where the
    * corpus arrives in batches and rescanning history per batch is
    * off the table. `archiveHashes` is the compact distinct span-hash
    * relation persisted between batches (`spanArchive` builds it; at
    * 100 TB it is the span-level fingerprint table — hashes only,
    * never text). A batch span occurrence is removed if its content
    * was seen in ANY prior batch (archive membership — history is
    * canonical regardless of id order) or earlier in THIS batch
    * (keep-first min (id, pos) among the archive-fresh occurrences).
    * With history ids below batch ids this equals `spanDedup` over
    * history ∪ batch restricted to the batch rows (spec-pinned);
    * with an empty archive it degenerates to `spanDedup(batch)`.
    * Same output shape as `spanDedup`. The archive probe is a
    * semi/anti join pair on h — linear, broadcastable when the
    * archive fits, a plain shuffled join (or a Bloom prefilter, the
    * q113 discipline) when it does not.
    */
  def spanDedupIncremental(batch: DataFrame, archiveHashes: DataFrame,
                           idName: String, textName: String,
                           k: Int = 8): DataFrame = {
    val spans = spanHashes(batch, idName, textName, k)
    val arch = archiveHashes.select(col("h"))
    val archived = spanIntervals(spans.join(arch, Seq("h"), "left_semi"), k)
    spanRemovalOutput(batch, idName, textName, archived.unionByName(
      laterOccurrences(spans.join(arch, Seq("h"), "left_anti"), k)))
  }

  /** Distinct span hashes of a corpus — the compact relation a
    * continuous pipeline persists between batches (the q89
    * fingerprint-table discipline at span granularity).
    */
  def spanArchive(docs: DataFrame, idName: String, textName: String,
                  k: Int): DataFrame =
    spanHashes(docs, idName, textName, k).select(col("h")).distinct()

  /** Every occurrence of a span content in `spans` but its first —
    * keep-first `min (id, pos)` per hash, one partial-aggregable keyed
    * shuffle — as removal intervals.
    */
  private def laterOccurrences(spans: DataFrame, k: Int): DataFrame = {
    val groups = spans.groupBy(col("h"))
      .agg(min(struct(col("id"), col("pos"))).as("keeper"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
    spanIntervals(spans.join(groups, Seq("h"))
      .filter(struct(col("id"), col("pos")) =!= col("keeper")), k)
  }

  /** Span occurrences (id, pos) as word intervals (id, s, e). */
  private def spanIntervals(occ: DataFrame, k: Int): DataFrame =
    occ.select(col("id"), col("pos").as("s"), (col("pos") + lit(k - 1)).as("e"))

  /** Shared tail of the span-dedup family: removal occurrences
    * (id, s, e) → merged contiguous regions → one stats + cleaned-md5
    * row per input document.
    */
  private def spanRemovalOutput(docs: DataFrame, idName: String,
                                textName: String,
                                losers: DataFrame): DataFrame = {
    val regions = RangeJoin.mergeIntervals(losers, "id", "s", "e", maxGap = 1L)
    val perDoc = regions.groupBy(col("id"))
      .agg(count(lit(1)).as("dup_regions"),
        sum(col("island_end") - col("island_start") + lit(1)).as("dup_words"),
        sort_array(collect_list(struct(col("island_start").as("s"),
          col("island_end").as("e")))).as("ivs"))
    val ws = split(col(textName), " ")
    val emptyIvs = array().cast("array<struct<s:bigint,e:bigint>>")
    val keptPositions = filter(
      sequence(lit(1), size(col("ws"))),
      i => !exists(col("ivs"),
        v => i.cast("long") >= v("s") && i.cast("long") <= v("e")))
    docs.select(col(idName).as("id"), ws.as("ws"))
      .join(perDoc, Seq("id"), "left")
      .withColumn("ivs", coalesce(col("ivs"), emptyIvs))
      .select(col("id"),
        size(col("ws")).cast("long").as("total_words"),
        coalesce(col("dup_regions"), lit(0L)).as("dup_regions"),
        coalesce(col("dup_words"), lit(0L)).as("dup_words"),
        when(size(col("ws")) === 0, lit(0L))
          .otherwise(expr("coalesce(dup_words, 0L) * 1000000L div cast(size(ws) as long)"))
          .as("dup_ppm"),
        md5(concat_ws(" ",
          transform(keptPositions, i => element_at(col("ws"), i)))).as("clean_fp"))
  }
}
