package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sub-document (segment-level) dedup and boilerplate removal — the
  * CCNet/RefinedWeb-style cleaning passes that operate on spans
  * WITHIN documents rather than whole documents:
  *
  *  - corpus-wide duplicate-segment removal: a repeated span (licence
  *    header, navigation chrome, quoted reply) is kept only at its
  *    first occurrence and stripped everywhere else;
  *  - per-domain boilerplate stripping: a segment that appears in
  *    more than a fraction of a domain's documents is template
  *    chrome, not content, and is dropped from all of them.
  *
  * Reference scope: the reference engine dedups whole rows only
  * (python sets over ids — /root/reference/candidate_drugs.py:151-152);
  * sub-document granularity is part of the north-star LLM-pipeline
  * surface (SURVEY.md §2 extensions), where exact-dup removal at the
  * document level misses the dominant crawl-duplication mode.
  *
  * Segments are non-overlapping `segTokens`-token windows (documents
  * here are single-line, so "paragraph" boundaries are token windows;
  * on real corpora the same operators run on `split(text, "\n")`
  * lines). Segmentation reuses `Chunking.slidingChunks` with
  * stride == size: sequence+slice inside one projection, zero
  * shuffle — the expansion stays inside the scan's tasks.
  *
  * Scale shape (100 TB): the segment relation is ~tokens/W rows.
  * Keep-first uses `min(struct(doc, seg))` per segment text — a
  * partially-aggregable keyed agg (map-side combine), NOT a
  * `row_number` window, so a segment duplicated across millions of
  * documents (the hostile boilerplate case) never concentrates its
  * occurrences in one task. Reassembly is one keyed agg back on the
  * document id. Nothing is quadratic; no driver-side state.
  *
  * Every keep-first variant — fixed windows, CDC chunks, and CDC
  * chunks against a generation-tagged archive — is one step,
  * [[keepFirst]] (the `min(struct(doc, seg))` mark, with an optional
  * archive anti-join), and every operator here ends in the one
  * rebuild tail [[rebuilt]] (kept/dropped counts and the surviving
  * segments rejoined in position order). The archive is read through
  * [[Publish.priorGenerations]] and written at
  * [[Publish.generationWidth]], like the streaming triggers'.
  */
object SegmentOps {

  /** One row per (doc, segment): non-overlapping `segTokens`-token
    * windows. Columns: idName, `seg` (0-based window index),
    * `seg_text`. Shuffle-free.
    */
  def tokenSegments(docs: DataFrame, idName: String, text: Column,
                    segTokens: Int): DataFrame =
    Chunking.slidingChunks(docs, idName, text, segTokens, segTokens)
      .select(col(idName), col("chunk_idx").as("seg"),
        col("chunk_text").as("seg_text"))

  /** Corpus-wide duplicate-segment removal, keep-first. The FIRST
    * occurrence of each distinct segment text — ordered by
    * (doc, seg position) — survives; every later occurrence (in the
    * same document or any other) is stripped. Returns one row per
    * input document: idName, `n_kept`, `n_dropped`, `clean_text`
    * (surviving segments rejoined in position order; empty string if
    * nothing survives — the document row is kept either way so the
    * output is total over the input).
    */
  def dedupSegments(docs: DataFrame, idName: String, text: Column,
                    segTokens: Int): DataFrame =
    keepFirst(docs, tokenSegments(docs, idName, text, segTokens), idName,
      "seg_text")._1

  /** ALIGNMENT-ROBUST duplicate-segment removal: segments are
    * content-defined chunks ([[Chunking.cdcChunks]]) instead of
    * fixed-stride windows, so a repeated span that is SHIFTED between
    * documents (a one-word prefix, an inserted sentence) still
    * produces identical interior chunks and is caught —
    * [[dedupSegments]]'s fixed windows structurally miss any shift
    * that is not a multiple of the stride (spec-pinned on a
    * prefix-shift fixture). Keep-first is keyed on the chunk
    * FINGERPRINT (the md5 the CDC relation already carries) via the
    * same partial-aggregable `min(struct(doc, seg))` device — the
    * shuffle moves 32-hex keys, never the chunk texts of a
    * mega-duplicated span. Returns the [[dedupSegments]] shape:
    * one row per input document (idName, n_kept, n_dropped,
    * clean_text — surviving chunks rejoined in position order).
    */
  def dedupSegmentsCdc(docs: DataFrame, idName: String, text: Column,
                       boundary256: Int): DataFrame =
    keepFirst(docs, cdcBatchSegments(docs, idName, text, boundary256), idName,
      "chunk_md5")._1

  /** Distinct CDC-chunk fingerprints of a corpus — the compact state
    * a continuous pipeline persists between batches (the q89
    * fingerprint-table discipline at chunk granularity: 32-hex md5s
    * only, never chunk texts). [[bootstrapCdcChunkArchive]] writes it
    * in the generation-tagged layout [[dedupSegmentsCdcIncremental]]
    * requires.
    */
  def cdcChunkArchive(docs: DataFrame, idName: String, text: Column,
                      boundary256: Int): DataFrame =
    Chunking.cdcChunks(docs, idName, text, boundary256)
      .select(col("chunk_md5")).distinct()

  /** Seed a generation-tagged chunk-fingerprint archive from history:
    * [[cdcChunkArchive]] lands in `archivePath/batch=-1` — the BASE
    * generation, negative by the [[graft.sources.Compaction
    * .compactBatches]] convention so incremental generations (>= 0)
    * never collide with it and a later compaction can fold into a
    * fresh base below it.
    */
  def bootstrapCdcChunkArchive(docs: DataFrame, idName: String,
                               text: Column, boundary256: Int,
                               archivePath: String): Unit = {
    Publish.parquet(cdcChunkArchive(docs, idName, text, boundary256),
      s"$archivePath/batch=-1")
  }

  /** Batch-over-archive [[dedupSegmentsCdc]] — the continuous-
    * pipeline form, where history's chunk fingerprints live in a
    * persisted archive ([[cdcChunkArchive]] bootstraps it) and each
    * arriving batch dedups against it WITHOUT rescanning history's
    * text. A batch chunk whose fingerprint is archived is dropped
    * outright (history is canonical); archive-fresh chunks keep-first
    * within the batch (the same partial-aggregable `min(struct)`
    * device). Because chunks are content-defined, a span duplicated
    * ACROSS batch and archive is caught even when the re-publication
    * SHIFTED it — the alignment mode fixed strides structurally miss.
    *
    * The archive is GENERATION-TAGGED (`archivePath/batch=<gen>`;
    * [[bootstrapCdcChunkArchive]] seeds `batch=-1`), and each call
    * names its own generation via `batchId`. That identity is what
    * makes the call RETRY-SAFE under at-least-once orchestration —
    * the [[graft.streaming.StreamOps]] neardupBatch/cdcSegmentsBatch
    * contract: (1) the archive read EXCLUDES generation `batchId`, so
    * a caller that crashed AFTER its append and re-runs does not
    * anti-join the batch's own just-appended fingerprints (the flat-
    * append failure mode: `fresh` empties and every document silently
    * reports n_kept=0); (2) the dedup output is computed against that
    * pre-append view and materialized (localCheckpoint — the shared
    * chunk relation is released before the caller consumes it);
    * (3) the novel fingerprints replace `batch=<batchId>` through
    * [[Publish]] — a retry reproduces byte-identical
    * content; a NEW batch must use a fresh id. Pre-existing
    * generations stay byte-identical (spec-pinned), and the archive
    * equals `cdcChunkArchive(history ∪ batch)` as a set afterwards.
    * The layout is [[graft.sources.Compaction.compactBatches]]'
    * `batch=` convention, so high-cadence appends have a fold path
    * (generations collapse into a negative base the `=!= batchId`
    * exclusion can never match). The archive probe is one semi/anti
    * join pair on the 32-hex key — linear, broadcastable when the
    * archive fits, a plain shuffled join (or a Bloom prefilter, the
    * q113 discipline) when it does not. Returns the
    * [[dedupSegmentsCdc]] shape: one row per batch document.
    */
  def dedupSegmentsCdcIncremental(batch: DataFrame, idName: String,
                                  text: Column, boundary256: Int,
                                  archivePath: String,
                                  batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    require(batchId >= 0,
      s"dedupSegmentsCdcIncremental: batchId must be >= 0, got $batchId " +
        "— negative generations are reserved for the bootstrap base " +
        "and compaction folds")
    val arch = Publish.priorGenerations(spark, archivePath, batchId,
        "dedupSegmentsCdcIncremental") {
      throw new IllegalArgumentException(
        s"dedupSegmentsCdcIncremental: no chunk archive at $archivePath — " +
          "bootstrap it with bootstrapCdcChunkArchive (cdcChunkArchive " +
          "over history, generation-tagged)")
    }.select(col("chunk_md5"))
    // chunk ONCE and share: both consumers below re-read the chunk
    // relation, and the CDC chunker (explode + per-doc window) is the
    // batch's dominant cost. Built before the checkpoint job, whose
    // keep-first aggregate and marking join read it from concurrent
    // stages.
    val segs = graft.Sessions.materialized(cdcBatchSegments(batch, idName, text, boundary256))
    val (out0, freshMd5) =
      dedupSegsVsArchive(batch, idName, text, boundary256, arch, Some(segs))
    val out = out0.localCheckpoint(true)
    Publish.parquet(freshMd5.repartition(Publish.generationWidth(batch)),
      s"$archivePath/batch=$batchId")
    segs.unpersist()
    out
  }

  /** One batch's CDC-chunk relation in the dedup family's shape:
    * (idName, seg, chunk_md5, seg_text).
    */
  private[graft] def cdcBatchSegments(batch: DataFrame, idName: String,
                                      text: Column,
                                      boundary256: Int): DataFrame =
    Chunking.cdcChunks(batch, idName, text, boundary256, withText = true)
      .select(col("id").as(idName), col("chunk_idx").as("seg"),
        col("chunk_md5"), col("chunk_text").as("seg_text"))

  /** The batch-vs-archive core [[dedupSegmentsCdcIncremental]] and
    * the streaming sink share: given the archive's fingerprint
    * relation, returns (per-document dedup output, the batch's NOVEL
    * distinct fingerprints) — both LAZY; the caller owns
    * materialization order relative to its archive mutation.
    * `segsOpt` is the batchShingles contract one family over: both
    * returned relations consume the chunk relation, so a caller that
    * materializes both should chunk ONCE, persist, and pass it in
    * (exactly `tokenSegments`' CDC shape: idName, seg, chunk_md5,
    * seg_text — [[cdcBatchSegments]] builds it).
    */
  private[graft] def dedupSegsVsArchive(batch: DataFrame, idName: String,
                                        text: Column, boundary256: Int,
                                        arch: DataFrame,
                                        segsOpt: Option[DataFrame] = None)
      : (DataFrame, DataFrame) =
    keepFirst(batch, segsOpt.getOrElse(
      cdcBatchSegments(batch, idName, text, boundary256)), idName, "chunk_md5",
      Some(arch))

  /** Keep-first over the segment relation `segs` (idName, seg, `key`,
    * seg_text) of `docs`: the FIRST occurrence of each `key` — ordered
    * by (doc, seg position) — survives, every later one is dropped.
    * The first occurrence is a keyed min over a packed (doc, seg)
    * struct — partial-aggregable, skew-safe under mega-duplicated
    * segments (vs a row_number window, which would sort every
    * occurrence of the hottest segment in one task). With an
    * `archive` of `key`s, an archived key is dropped outright (history
    * is canonical) and keep-first runs over the archive-fresh
    * occurrences. Returns ([[rebuilt]] per document of `docs`, the
    * distinct fresh keys).
    */
  private def keepFirst(docs: DataFrame, segs: DataFrame, idName: String,
                        key: String, archive: Option[DataFrame] = None)
      : (DataFrame, DataFrame) = {
    val fresh = archive.fold(segs)(a =>
      segs.join(a.select(col(key)), Seq(key), "left_anti"))
    val first = fresh
      .groupBy(col(key))
      .agg(min(struct(col(idName), col("seg"))).as("__first"))
    val isFirst =
      col("__first")(idName) === col(idName) && col("__first")("seg") === col("seg")
    // with an archive `first` holds archive-FRESH keys only, so one
    // left join classifies every segment: no entry → archived
    // (dropped), entry → kept iff this occurrence is the first one
    val marked = archive.fold(segs.join(first, key).withColumn("__kept", isFirst))(_ =>
      segs.join(first, Seq(key), "left")
        .withColumn("__kept", col("__first").isNotNull && isFirst))
    val out = docs.select(col(idName))
      .join(rebuilt(marked, col(idName)), Seq(idName), "left")
      .select(col(idName),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
    (out, fresh.select(col(key)).distinct())
  }

  /** The family's rebuild tail: per `keys` group of a `__kept`-marked
    * segment relation, `n_kept`, `n_dropped` and `clean_text` (the
    * kept segments rejoined in position order).
    */
  private def rebuilt(marked: DataFrame, keys: Column*): DataFrame =
    marked
      .groupBy(keys: _*)
      .agg(
        sum(when(col("__kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__kept"), 0L).otherwise(1L)).as("n_dropped"),
        concat_ws(" ",
          transform(
            sort_array(collect_list(when(col("__kept"), struct(col("seg"), col("seg_text"))))),
            x => x("seg_text"))).as("clean_text"))

  /** Per-domain boilerplate stripping: a segment text that occurs in
    * >= `maxDocFrac` of a domain's documents is template chrome and
    * is dropped from every document of that domain (frequency is
    * counted per domain — the same segment may be content in one
    * domain and chrome in another). Returns one row per document:
    * idName, domain (under its input column name), `n_kept`,
    * `n_dropped`, `clean_text`.
    *
    * The doc-frequency agg is count(distinct doc) per (domain,
    * segment) — two-level partial agg; the domain sizes relation is
    * domain-cardinality-sized and broadcast into the gate join.
    */
  def stripBoilerplate(docs: DataFrame, idName: String, text: Column,
                       domName: String, segTokens: Int,
                       maxDocFrac: Double): DataFrame = {
    val segs = tokenSegments(docs, idName, text, segTokens)
      .join(docs.select(col(idName), col(domName).as("__dom")), Seq(idName))
    val domSize = docs.groupBy(col(domName).as("__dom"))
      .agg(countDistinct(col(idName)).as("__nd"))
    val freq = segs.groupBy(col("__dom"), col("seg_text"))
      .agg(countDistinct(col(idName)).as("__df"))
    val chrome = freq.join(broadcast(domSize), "__dom")
      .filter(col("__df") >= col("__nd") * maxDocFrac)
      .select(col("__dom"), col("seg_text"), lit(true).as("__chrome"))
    val marked = segs.join(chrome, Seq("__dom", "seg_text"), "left")
      .withColumn("__kept", col("__chrome").isNull)
    rebuilt(marked, col(idName), col("__dom"))
      .select(col(idName), col("__dom").as(domName),
        col("n_kept"), col("n_dropped"), col("clean_text"))
  }
}
