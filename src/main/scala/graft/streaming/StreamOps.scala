package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.operators.Publish

/** Structured Streaming surface. The reference has no streaming
  * (SURVEY.md §2.10); this is north-star capability: the same events
  * schema processed as an unbounded stream with event-time semantics.
  * Every transform here also runs on a batch DataFrame (Spark's
  * unified model), which is how the specs exercise them
  * deterministically alongside MemoryStream runs.
  *
  * The stream-state sinks share their steps, each written once:
  *  - [[sink]] starts a checkpointed `foreachBatch` query; each
  *    micro-batch runs one trigger body under [[withTriggerWidth]];
  *  - a frozen sidecar (SQ8 scales, binary thresholds, centroids) is
  *    read once, when the sink starts, and handed to every trigger
  *    ([[sq8CodesSink]], [[frozenCentroids]]);
  *  - a trigger's archive is [[Publish.priorGenerations]] (every
  *    `batch=<gen>` but its own);
  *  - a trigger with several state relations ends in
  *    [[writeGenerations]]: shared relations built one at a time, the
  *    `batch=<bid>` writes fanned out under one [[Publish.dirs]];
  *  - [[compactIndex]] folds committed generations into one base.
  */
object StreamOps {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Int)
  case class Session(user_id: Long, session_start: Timestamp,
                     session_end: Timestamp, n_events: Int)

  /** Run `body` with `spark.sql.shuffle.partitions` = n, restoring
    * the previous width afterwards (error-safe). For STATEFUL
    * streaming queries this conf is the STATE-STORE-COUNT knob: a
    * stream-stream join maintains four stores per partition (an agg
    * one), each committing delta + snapshot files per micro-batch,
    * and the count is frozen from this conf at the query's FIRST run
    * — the checkpoint carries it thereafter. It must therefore be
    * sized to the query's state-cardinality budget (aggregate state
    * bytes / executor memory at 100 TB; a handful of partitions for
    * a small-key-space join), never inherited silently from the
    * session's relational shuffle width. Measured (ProbeStateParts,
    * sf0.1): the q136 interval join at 32 inherited partitions =
    * 128 stores for a 371-row result, 6.6-8.0 s; at 8 partitions
    * 3.2 s; at 4, 2.4 s — pure store-commit overhead, bit-identical
    * results. Scan-side parallelism is unaffected (input splits, not
    * shuffle width).
    *
    * SCOPE: the override mutates the SESSION-global conf for the
    * whole `body` window, so any query PLANNED concurrently on the
    * same SparkSession (another thread calling an action while a
    * wrapped stream awaits termination) silently inherits the
    * narrowed width for its relational shuffles. Callers must treat
    * the wrapped window as single-planner — the repo's drivers do
    * (one query at a time) — or clone the session
    * (`spark.newSession()`) and build the stream's DataFrames FROM
    * the clone so the override is scoped to the clone's state;
    * wrapping alone cannot re-scope DataFrames already bound to the
    * shared session.
    */
  def withStatePartitions[A](spark: org.apache.spark.sql.SparkSession,
                             n: Int)(body: => A): A = {
    require(n >= 1, s"state partitions must be positive, got $n")
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** The generation step every stream-state trigger ends with: each
    * `gens` row set (target → rows, a `batch=<bid>` directory each) is
    * staged and swapped under ONE [[Publish.dirs]] call, so a fired
    * guard or failed write publishes none of them.
    *
    * `shared` are the relations several writes read, persisted by the
    * caller, in dependency order. Each is BUILT ALONE before any write
    * that reads it starts: by its own generation write when it is one
    * of the rows (coalesced to the generation width — the cached
    * partitions fold, nothing recomputes), else by a count. Two
    * concurrent jobs over an unbuilt cache do not compute it twice —
    * the later task waits on the block's write lock, then reads the
    * block — but that holds a task slot idle and logs `Block … already
    * exists`; and a nested cache built concurrently with its inner one
    * can hang the trigger when the inner build fails (Spark's
    * CachedRDDBuilder re-caches dependents under its own lock).
    *
    * The other writes then run concurrently, each repartitioned to the
    * generation width (a coalesce would pull their compute into that
    * few tasks): Spark schedules concurrent jobs FIFO, so the later
    * ones back-fill the earlier ones' task tails (guide §2.6). EVERY
    * write is awaited before the first failure rethrows: propagating
    * out of a foreachBatch body while a sibling write still runs would
    * let Structured Streaming replay the batch against a zombie writer
    * on the same staging path. Last, the shared relations are
    * released.
    */
  private def writeGenerations(batch: DataFrame, shared: Seq[DataFrame],
                               gens: (String, DataFrame)*): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val width = Publish.generationWidth(batch)
    try Publish.dirs(batch.sparkSession, gens.map(_._1)) { staged =>
      val (own, rest) = gens.map(_._2).zip(staged)
        .partition { case (rows, _) => shared.exists(_ eq rows) }
      shared.foreach { rel =>
        own.find(_._1 eq rel) match {
          case Some((_, at)) => rel.coalesce(width).write.parquet(at)
          case None => rel.count()
        }
      }
      rest.map { case (rows, at) => Future(rows.repartition(width).write.parquet(at)) }
        .map(f => scala.util.Try(Await.result(f, scala.concurrent.duration.Duration.Inf)))
        .collectFirst { case scala.util.Failure(e) => throw e }
      ()
    } finally shared.foreach(_.unpersist())
  }

  /** Run a foreachBatch trigger body with the RELATIONAL shuffle width
    * sized to the trigger's own input volume instead of the session
    * constant: width = the micro-batch's input-split count, clamped to
    * [1, session width]. The input-split count is the honest size
    * signal at any scale (the same signal the generation writes
    * already use): a bench-SF trigger reads one file and gets width 1;
    * a 100 TB trigger has thousands of splits and keeps the session
    * width. Rationale (optimization guide §2.2/§2.4): streaming
    * micro-batch plans run with AQE disabled, and the trigger bodies
    * persist intermediate relations (shingles, bands, survivors)
    * whose cached plans pin whatever width they were planned at —
    * `canChangeCachedPlanOutputPartitioning=true` (the Sessions.tuned
    * default since round 17) cannot help a plan AQE never touches, so
    * every downstream job of the trigger otherwise launches
    * session-width near-empty tasks. Measured (ProbeTrigW, sf0.1,
    * local[32]): q199's 4-trigger replay 11.2-11.6 s at width 32 →
    * 6.7-7.8 s at width 1, identical results. Results are
    * width-independent by construction — the bodies' aggregations are
    * commutative, their windows are keyed, and their state writes
    * size file counts from the input-split count, not the shuffle
    * width. Same single-planner scope contract as
    * [[withStatePartitions]].
    */
  private[graft] def withTriggerWidth[A](batch: DataFrame)(body: => A): A = {
    val spark = batch.sparkSession
    val session =
      try spark.conf.get("spark.sql.shuffle.partitions").toInt
      catch { case _: NumberFormatException => Int.MaxValue }
    val w = math.min(Publish.generationWidth(batch), math.max(session, 1))
    withStatePartitions(spark, w)(body)
  }

  /** Tumbling event-time window counts with a watermark: late events
    * beyond 1 hour are dropped and state is bounded — the property
    * that keeps the aggregation memory O(open windows) at any scale.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding-window variant (1 hour window, 15 min slide). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Streaming exact dedup — the "never ship the same document
    * twice" gate of a continuous ingestion pipeline. State is keyed
    * on the dedup columns and RECLAIMED as the watermark advances
    * (`dropDuplicatesWithinWatermark`), so memory stays bounded by
    * the duplicate-arrival horizon instead of growing with the
    * corpus — the property that makes streaming dedup viable at all
    * at 100 TB/day ingest. Duplicates separated by more than the
    * watermark delay are the batch dedup's job (run both: stream for
    * the hot path, periodic exact dedup for the archive).
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermarkDelay: String = "1 hour",
                  tsCol: String = "ts"): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-static enrichment: join each micro-batch against a
    * (slowly-changing) dimension table — the "attach user/source
    * metadata at ingest" step of a continuous pipeline. Stateless on
    * the stream side: Spark re-plans the static side per micro-batch
    * (a small dimension broadcasts; a huge one falls back to a
    * shuffled join), so no streaming state accumulates at any rate.
    * Left join keeps unmatched events flowing rather than silently
    * dropping them at the gate.
    */
  def enrichStream(events: DataFrame, dim: DataFrame,
                   key: String): DataFrame =
    events.join(dim, Seq(key), "left")

  /** Deterministic sampling/mixing gate on a stream: the SAME
    * md5-bucket filter as the batch `Mixing.domainMix`, applied per
    * micro-batch. Stateless and engine-deterministic, so a replayed
    * or re-partitioned stream keeps exactly the same rows — the
    * property that makes the gate idempotent under at-least-once
    * delivery (a retried batch re-selects identical rows).
    */
  def mixStream(events: DataFrame, key: org.apache.spark.sql.Column,
                domain: org.apache.spark.sql.Column,
                rates: Map[String, Int],
                defaultSixteenths: Int = 16): DataFrame =
    graft.operators.Mixing.domainMix(events, key, domain, rates,
      defaultSixteenths)

  /** Epoch µs of a Timestamp, sub-ms fraction included (`getTime`
    * alone truncates to ms — a gap that straddles the threshold by
    * sub-ms would then land on the wrong side of the batch twin).
    */
  private def usOf(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def tsOfUs(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Stateful sessionization via flatMapGroupsWithState: sessions
    * close after `gapSeconds` of user inactivity (event-time timeout,
    * so state is reclaimed as the watermark advances). Emits closed
    * sessions only — the streaming twin of `Funnel.sessionize`
    * (StreamOpsSpec pins the agreement on real events): µs-exact gap
    * arithmetic, a gap of exactly `gapSeconds` stays in-session,
    * ties broken by event_id.
    */
  def sessionize(spark: SparkSession, events: Dataset[Event],
                 gapSeconds: Long = 1800L): Dataset[Session] = {
    import spark.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, tsOfUs(s.start), tsOfUs(s.last), s.n))
          } else {
            val sorted = rows.toSeq.sortBy(e => (usOf(e.ts), e.event_id))
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = usOf(e.ts)
              cur match {
                case Some(s) if t - s.last <= gapSeconds * 1000000L =>
                  cur = Some(s.copy(last = t, n = s.n + 1))
                case Some(s) =>
                  closed ::= Session(userId, tsOfUs(s.start), tsOfUs(s.last), s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // timeout registers in ms — ceil so a sub-ms remainder
              // never fires the timeout EARLY (before last + gap)
              state.setTimeoutTimestamp(
                math.floorDiv(s.last + gapSeconds * 1000000L + 999L, 1000L))
            }
            closed.reverseIterator
          }
      }
  }

  /** Stream-stream INTERVAL JOIN: each anchor-stream row matched to
    * every event-stream row with the same key whose timestamp falls
    * in [anchorTs − windowSec, anchorTs], bounds inclusive (the
    * "all clicks within the hour before this purchase" shape — the
    * ALL-matches complement of `AsofJoin.asofBackward`'s latest-only
    * batch twin). Column names must be pre-disambiguated (both sides
    * of a stream-stream join surface their columns flat).
    *
    * Both sides get event-time watermarks; with the time-range
    * condition Spark derives a state-retention bound from them, so
    * join state is evicted as the watermark advances instead of
    * accumulating forever — THE property that makes a stream-stream
    * join runnable indefinitely. `watermarkDelay` trades completeness
    * against state: the default here is sized past the test corpus's
    * whole span so replay is exact; a production deployment sets it
    * to its real out-of-orderness bound.
    */
  def intervalJoin(anchors: DataFrame, events: DataFrame,
                   anchorKey: String, eventKey: String,
                   anchorTs: String, eventTs: String,
                   windowSec: Long,
                   watermarkDelay: String = "40 days"): DataFrame = {
    val a = anchors.withWatermark(anchorTs, watermarkDelay)
    val e = events.withWatermark(eventTs, watermarkDelay)
    a.join(e, col(anchorKey) === col(eventKey) &&
      col(eventTs) >= col(anchorTs) - expr(s"interval $windowSec seconds") &&
      col(eventTs) <= col(anchorTs))
  }

  /** Continuous snapshot maintenance: apply a stream of row updates
    * as SCD-1 upserts into a parquet snapshot via `foreachBatch` —
    * the streaming face of `operators.Upsert.scd1` (what a MERGE
    * sink does in table-format engines). Each micro-batch is first
    * collapsed to last-wins per key (highest `versionCol`, key
    * tiebreak on arrival nondeterminism is impossible since version
    * ordering is total per key by contract), then full-outer-merged
    * into the snapshot.
    *
    * Delivery semantics: `foreachBatch` is at-least-once on retry —
    * and this apply is IDEMPOTENT (re-merging the same collapsed
    * batch is a fixed point), so the snapshot is exactly-once in
    * effect. The merged snapshot publishes through [[Publish]]: it is
    * staged beside the target, so the merge reads the snapshot it
    * replaces without materializing it first.
    */
  def upsertBatch(batch: DataFrame, targetDir: String, key: String,
                  versionCol: String): Unit = {
    if (batch.isEmpty) return
    withTriggerWidth(batch) {
    val spark = batch.sparkSession
    val collapsed = collapseLastWins(batch, key, versionCol)
    // Hadoop-FS snapshot detection, not java.io.File: on a remote
    // targetDir a local check reads "absent" and the merge would
    // SILENTLY REPLACE the whole history with this batch
    val merged =
      if (snapshotEntries(spark, targetDir).exists(_.endsWith(".parquet")))
        graft.operators.Upsert.scd1(spark.read.parquet(targetDir), collapsed, key)
      else collapsed
    Publish.parquet(merged, targetDir)
    }
  }

  /** Last-wins collapse of a micro-batch: one row per key, highest
    * `versionCol`. Version ordering is total per key BY CONTRACT
    * (both batch appliers document it), but a source that violates
    * the contract — duplicate (key, version) rows with different
    * payloads — must still collapse DETERMINISTICALLY or the
    * fixed-point/exactly-once argument silently breaks on retry. The
    * window therefore tie-breaks on every payload column (descending,
    * name-sorted): any total order works, it only has to be the SAME
    * one on every delivery. Payload columns must be orderable
    * (no MapType) — true of every snapshot schema these sinks serve.
    */
  private def collapseLastWins(batch: DataFrame, key: String,
                               versionCol: String): DataFrame = {
    val tiebreak = batch.columns.filter(c => c != key && c != versionCol)
      .sorted.toSeq.map(col(_).desc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col(versionCol).desc +: tiebreak: _*)
    batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Start `frame` on a checkpointed `foreachBatch` sink: `perBatch`
    * runs once per micro-batch with the batch id; no `trigger` keeps
    * Spark's default micro-batch trigger.
    */
  private def sink(frame: DataFrame, checkpointDir: String,
                   trigger: Option[Trigger],
                   mode: OutputMode)
                  (perBatch: (DataFrame, Long) => Unit)
      : StreamingQuery = {
    val w = frame.writeStream.outputMode(mode)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(perBatch)
    trigger.fold(w)(w.trigger).start()
  }

  /** Streaming search-index maintenance: each micro-batch of
    * documents becomes posting rows (`InvertedIndex.build`) written
    * into its OWN `batch=<id>` directory with overwrite semantics —
    * so a retried batch replaces its previous attempt instead of
    * double-counting term frequencies, turning `foreachBatch`'s
    * at-least-once delivery into an exactly-once index effect. Per-
    * document posting rows are disjoint across documents, so after N
    * batches the directory reads back (drop the `batch` partition
    * column) as EXACTLY `InvertedIndex.build` over everything
    * ingested — the streaming twin of [[graft.operators.InvertedIndex
    * .appendPostings]], inheriting its exact-rebuild guarantee. The
    * caller's source must partition documents across batches
    * (re-delivering a document in two DIFFERENT batches would
    * duplicate its rows — the same id-disjointness contract as the
    * batch append).
    */
  def postingsSink(docs: DataFrame, indexDir: String, idName: String,
                   textName: String, checkpointDir: String,
                   trigger: Option[Trigger] = None)
      : StreamingQuery = {
    sink(docs, checkpointDir, trigger, OutputMode.Append()) { (batch, bid) =>
      postingsBatch(batch, bid, indexDir, idName, textName)
    }
  }

  /** One trigger of [[postingsSink]], idempotent under replay. */
  private[graft] def postingsBatch(batch: DataFrame, bid: Long, indexDir: String,
                                   idName: String, textName: String): Unit =
    withTriggerWidth(batch) {
      Publish.parquet(graft.operators.InvertedIndex.build(
        batch, idName, col(textName)), s"$indexDir/batch=$bid")
    }

  /** Streaming SQ8 vector ingest — the [[postingsSink]] discipline on
    * the code tier, completing the continuous-ingest family's VECTOR
    * member (q195 = index, q199 = near-dup, this = embeddings): every
    * micro-batch quantizes under the FROZEN scales sidecar at
    * `indexPath/scales` (written by the planning pass,
    * [[graft.operators.Similarity.initSq8Scales]], before the stream
    * starts) and lands its packed codes in its own `batch=<id>`
    * directory with OVERWRITE semantics — at-least-once foreachBatch
    * retries replace rather than duplicate, the exactly-once index
    * effect. Each batch codes through the SQ8 tier's guarded encoder,
    * the one `appendSq8Index` uses (a NULL vector, one of another
    * width, or one that would clip fails loudly instead of corrupting
    * rankings); because quantization is a pure function of (vector,
    * scales), the accumulated code table is BIT-IDENTICAL to a batch build
    * over everything ingested under the same scales (spec-pinned;
    * q212 serves it through `sq8TopKIndexed` against q197's oracle).
    *
    * The scales sidecar is FROZEN before the stream starts (the
    * planning-pass contract), so the sink reads it once, here, and
    * hands it to every trigger — a stream restart re-reads, a
    * mid-stream rewrite is forbidden by the contract either way. The
    * other frozen-sidecar sinks resolve theirs the same way.
    */
  def sq8CodesSink(embeddings: DataFrame, indexPath: String, idName: String,
                   vecName: String, checkpointDir: String,
                   trigger: Option[Trigger] = None): StreamingQuery = {
    val scales = graft.operators.Similarity
      .readSq8Scales(embeddings.sparkSession, indexPath)
    sink(embeddings, checkpointDir, trigger, OutputMode.Append()) { (batch, bid) =>
      sq8IngestBatch(batch, bid, indexPath, idName, vecName, scales)
    }
  }

  /** One trigger of [[sq8CodesSink]] under the frozen `scales`,
    * idempotent under replay: writes only this batch's own directory.
    * The encoder's guards ride the write itself as in-row raises —
    * they fire before anything commits, as a loud
    * `IllegalArgumentException`.
    */
  private[graft] def sq8IngestBatch(batch: DataFrame, bid: Long,
                                    indexPath: String, idName: String,
                                    vecName: String, scales: Array[Double]): Unit =
    withTriggerWidth(batch) {
      Publish.parquet(graft.operators.Similarity.sq8Codes(batch, idName, vecName,
        scales, s"sq8CodesSink batch $bid"), s"$indexPath/codes/batch=$bid")
    }

  /** Streaming BINARY-code ingest — the 1-bit tier's member of the
    * continuous-ingest family (the [[sq8CodesSink]] discipline one
    * tier smaller): thresholds are frozen by a planning pass
    * ([[graft.operators.Similarity.initBinThresholds]]) before any
    * batch arrives, each micro-batch binarizes against that sidecar
    * and lands its packed int64 words in its own `codes/batch=<id>`
    * directory with overwrite semantics — at-least-once retries
    * replace, never double-count. Binarization is a pure function of
    * (vector, thresholds), so the accumulated table is BIT-IDENTICAL
    * to a batch build (StreamOpsSpec).
    */
  def binCodesSink(embeddings: DataFrame, indexPath: String, idName: String,
                   vecName: String, checkpointDir: String,
                   trigger: Option[Trigger] = None): StreamingQuery = {
    val thr = graft.operators.Similarity
      .readBinThresholds(embeddings.sparkSession, indexPath)
    sink(embeddings, checkpointDir, trigger, OutputMode.Append()) { (batch, bid) =>
      binIngestBatch(batch, bid, indexPath, idName, vecName, thr)
    }
  }

  /** One trigger of [[binCodesSink]] under the frozen thresholds `thr`,
    * idempotent under replay. No clip hazard at 1 bit — the binary
    * tier's guarded encoder (the one `appendBinaryIndex` uses) rejects
    * a NULL vector and one from a different embedding space, riding
    * the write itself as in-row raises; they fire before anything
    * commits, as a loud `IllegalArgumentException`.
    */
  private[graft] def binIngestBatch(batch: DataFrame, bid: Long,
                                    indexPath: String, idName: String,
                                    vecName: String, thr: Array[Double]): Unit =
    withTriggerWidth(batch) {
      Publish.parquet(graft.operators.Similarity.binCodes(batch, idName, vecName,
        thr, s"binCodesSink batch $bid"), s"$indexPath/codes/batch=$bid")
    }

  /** Streaming near-dup maintenance — the continuous-ingest fold of
    * [[graft.operators.Dedup.minhashNearDupsIncremental]]: each
    * micro-batch is banded against the persisted minhash archive
    * (per-doc shingle sets + banded signatures under `stateDir`), its
    * near-dup pairs land in `pairs/batch=<id>`, and the batch's own
    * two relations are appended as the archive's next generation
    * (`shingles/batch=<id>`, `bands/batch=<id>`). Every per-batch
    * effect is an OVERWRITE of its batch directory, so at-least-once
    * foreachBatch retries replace rather than double-count (the
    * [[postingsSink]] discipline), and the archive reads EXCLUDE the
    * batch's own generation, so a batch never bands against itself —
    * not in the first run (the read precedes the append) and not in a
    * replay of a partially-committed trigger (see [[neardupBatch]]).
    *
    * Equivalence contract (StreamOpsSpec): signatures, bands, and the
    * exact-Jaccard verification are deterministic functions of the
    * shingle sets, so "shares a band" is the same predicate evaluated
    * batch-vs-archive or in a one-shot self-join — with the source
    * partitioning documents across batches, the accumulated pair set
    * (orientation normalized) EQUALS `Dedup.minhashNearDups` over
    * everything ingested, each pair emitted exactly once, in the
    * trigger where its later side arrived.
    */
  def neardupSink(docs: DataFrame, stateDir: String, idName: String,
                  textName: String, checkpointDir: String,
                  trigger: Option[Trigger] = None,
                  threshold: Double = 0.6, k: Int = 32, bands: Int = 8,
                  shingleN: Int = 3)
      : StreamingQuery = {
    sink(docs, checkpointDir, trigger, OutputMode.Append()) { (batch, bid) =>
      neardupBatch(batch, bid, stateDir, idName, textName,
        threshold, k, bands, shingleN)
    }
  }

  /** Streaming CDC-segment dedup — the continuous-ingest member of
    * the alignment-robust family ([[graft.operators.SegmentOps
    * .dedupSegmentsCdc]] batch / `dedupSegmentsCdcIncremental`
    * archive / this): documents arrive in micro-batches; each batch's
    * content-defined chunks drop where their FINGERPRINT was seen in
    * any PRIOR batch (history canonical — caught across batches even
    * through an alignment shift, the mode fixed strides miss) and
    * keep-first within the batch; cleaned per-document rows land in
    * `stateDir/clean/batch=<id>`, the batch's novel fingerprints in
    * `stateDir/chunks/batch=<id>` — the archive state the next
    * trigger probes (32-hex md5s only, never chunk text). After a
    * bounded replay, the accumulated clean rows equal the SEQUENTIAL
    * incremental fold — a global keep-first in (batch, doc, position)
    * order, which is exactly what the q246 oracle replays in SQL.
    */
  def cdcSegmentsSink(docs: DataFrame, stateDir: String, idName: String,
                      textName: String, checkpointDir: String,
                      trigger: Option[Trigger] = None,
                      boundary256: Int = 32)
      : StreamingQuery = {
    sink(docs, checkpointDir, trigger, OutputMode.Append()) { (batch, bid) =>
      cdcSegmentsBatch(batch, bid, stateDir, idName, textName, boundary256)
    }
  }

  /** One trigger of [[cdcSegmentsSink]], idempotent under replay (the
    * [[neardupBatch]] contract): the archive read EXCLUDES generation
    * `bid` (a retry that already appended its own fingerprints must
    * not dedup the batch against itself), falls back to an empty
    * relation before the first generation exists, and both effects
    * overwrite this batch's own directories — re-running any prefix
    * reproduces byte-identical state. Generation writes are sized to
    * the trigger's input partitioning (the neardupBatch small-file
    * rule).
    */
  private[graft] def cdcSegmentsBatch(batch: DataFrame, bid: Long,
                                      stateDir: String, idName: String,
                                      textName: String,
                                      boundary256: Int): Unit =
      withTriggerWidth(batch) {
    import graft.operators.SegmentOps
    val spark = batch.sparkSession
    val fpDir = s"$stateDir/chunks"
    val arch = Publish.priorGenerations(spark, fpDir, bid, "cdcSegmentsBatch")(
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL("chunk_md5 STRING")))
    // chunk ONCE and share across both effect jobs (the CDC chunker is
    // the trigger's dominant cost)
    val segs = SegmentOps.cdcBatchSegments(
        batch, idName, col(textName), boundary256)
      .persist(MEMORY_AND_DISK)
    val (out, freshMd5) = SegmentOps.dedupSegsVsArchive(
      batch, idName, col(textName), boundary256, arch, Some(segs))
    writeGenerations(batch, Seq(segs),
      s"$stateDir/clean/batch=$bid" -> out, s"$fpDir/batch=$bid" -> freshMd5)
  }

  /** Streaming SemDeDup — the continuous-ingest member of the
    * SEMANTIC dedup family (q92 is the batch device): vectors arrive
    * in micro-batches, assign to the FROZEN centroid sidecar
    * [[graft.operators.Similarity.initSemanticCentroids]] planted
    * before the stream (the q212 frozen-scales discipline), and a
    * batch vector drops when an archived same-cluster vector — from
    * ANY prior batch, dropped ones included (the q216 all-ingested
    * discipline) — is within `tau` cosine, or a smaller-id same-
    * cluster batch-mate is. Survivors land in
    * `stateDir/kept/batch=<id>`, the batch's (id, cid, vector) rows
    * in `stateDir/vecs/batch=<id>` — the archive the next trigger
    * probes. With ascending-id batches (the backlog contract) the
    * accumulated survivors EQUAL the frozen-centroid batch device
    * over everything ingested ([[graft.operators.Similarity
    * .semanticDedupVsArchive]]'s domination argument; spec-pinned).
    */
  def semanticDedupSink(vecs: DataFrame, stateDir: String, idName: String,
                        vecName: String, checkpointDir: String,
                        trigger: Option[Trigger] = None,
                        tau: Double = 0.35): StreamingQuery = {
    val cents = frozenCentroids(vecs.sparkSession, stateDir)
    sink(vecs, checkpointDir, trigger, OutputMode.Append()) { (batch, bid) =>
      semanticDedupBatch(batch, bid, stateDir, idName, vecName, tau, cents)
    }
  }

  /** The centroid sidecar [[semanticDedupSink]] resolves once (the
    * [[sq8CodesSink]] rationale) — loud when the planning pass
    * ([[graft.operators.Similarity.initSemanticCentroids]]) never ran.
    */
  private[graft] def frozenCentroids(spark: SparkSession,
                                     stateDir: String): Seq[Array[Float]] = {
    require(graft.operators.Artifact.hadoopDirExists(spark, s"$stateDir/centroids"),
      s"semanticDedupBatch: no centroid sidecar at $stateDir/centroids — " +
        "run initSemanticCentroids over the planning corpus before the stream")
    graft.operators.Similarity.readCentroids(spark, stateDir)
  }

  /** One trigger of [[semanticDedupSink]] under the frozen centroids
    * `cents`, idempotent under replay (the [[neardupBatch]] contract):
    * the archive read EXCLUDES generation `bid`, falls back to an empty
    * relation before the first generation exists, and both effects
    * overwrite this batch's own directories — re-running any prefix
    * reproduces byte-identical state. A batch that re-delivers an
    * ALREADY-ARCHIVED id under a new generation is rejected loudly (the
    * appendPostings discipline): it would double-archive the vector
    * and silently drop its re-delivery as a self-duplicate.
    */
  private[graft] def semanticDedupBatch(batch: DataFrame, bid: Long,
                                        stateDir: String, idName: String,
                                        vecName: String, tau: Double,
                                        cents: Seq[Array[Float]]): Unit =
      withTriggerWidth(batch) {
    import graft.operators.Similarity
    val spark = batch.sparkSession
    val vecsDir = s"$stateDir/vecs"
    val arch = Publish.priorGenerations(spark, vecsDir, bid, "semanticDedupBatch")(
      batch.select(col(idName).as("id"), col(vecName).as("v"))
        .withColumn("cid", lit(0))
        .select(col("id"), col("cid"), col("v")).limit(0))
    // assign ONCE and share across both effect jobs (the nearest-
    // centroid pass otherwise runs in the kept write AND the
    // archive-rows write)
    val rowsShared = Similarity.assignToCentroids(batch, idName, vecName,
        cents)
      .persist(MEMORY_AND_DISK)
    val (kept, rows) = Similarity.semanticDedupVsArchive(
      batch, idName, vecName, tau, cents, arch, Some(rowsShared))
    // id-clash guard folded into BOTH state writes: ids only through
    // the semi join, so the payload never shuffles on its account, and
    // any clash row raises DURING the staged writes, before either
    // generation is published
    val clashIds = rowsShared.select(col("id"))
      .join(arch.select(col("id")), Seq("id"), "left_semi")
    def withClashGuard(df: DataFrame): DataFrame = Publish.withGuardRows(df, clashIds,
      format_string(s"semanticDedupBatch: batch $bid re-delivers already-ingested " +
        "id %s — generations' id spaces must be disjoint (a retry " +
        "reuses its OWN batch id)", col("id").cast("string")))
    writeGenerations(batch, Seq(rowsShared),
      s"$vecsDir/batch=$bid" -> withClashGuard(rows),
      s"$stateDir/kept/batch=$bid" -> withClashGuard(kept))
  }

  /** One trigger of [[neardupSink]], idempotent under replay: the
    * archive reads EXCLUDE generation `bid` (an at-least-once retry
    * that already appended its own shingles/bands must not band the
    * batch against itself — self-pairs would poison the accumulated
    * set permanently), each archive side falls back to an empty
    * relation independently (a crash BETWEEN the shingles and bands
    * writes must not strand the retry on a missing directory), and
    * every effect is an overwrite of this batch's own directories.
    * Re-running any prefix of the effects therefore reproduces
    * byte-identical state — the exactly-once contract StreamOpsSpec
    * pins by replaying a committed batch.
    */
  private[graft] def neardupBatch(batch: DataFrame, bid: Long,
                                  stateDir: String, idName: String,
                                  textName: String, threshold: Double,
                                  k: Int, bands: Int, shingleN: Int): Unit =
      withTriggerWidth(batch) {
    import graft.operators.Dedup
    val spark = batch.sparkSession
    val shB = Dedup.hashedShingleSets(batch, idName, textName, shingleN)
      .persist(MEMORY_AND_DISK)
    // the batch's banded signatures are BOTH this trigger's probe
    // side and the archive's next generation — compute the k-min
    // aggregation once and share (batchBands contract)
    val bdB = Dedup.minhashBands(
        Dedup.minhashSignaturesFromShingles(shB, k, shingleN), k, bands)
      .persist(MEMORY_AND_DISK)
    val shDir = s"$stateDir/shingles"
    val bdDir = s"$stateDir/bands"
    val archSh = Publish.priorGenerations(spark, shDir, bid, "neardupBatch")(shB.limit(0))
    val archBd = Publish.priorGenerations(spark, bdDir, bid, "neardupBatch")(bdB.limit(0))
    // State generations write at the TRIGGER's input partitioning
    // ([[Publish.generationWidth]]), not spark.sql.shuffle.partitions:
    // an uncoalesced write lands (shuffle partitions × relations ×
    // triggers) near-empty files that every LATER trigger's archive
    // read re-opens — measured ~25% of the whole replay at bench SF.
    // shB's write builds the cache bdB reads, bdB's the one the pair
    // verify probes ([[writeGenerations]])
    writeGenerations(batch, Seq(shB, bdB),
      s"$stateDir/pairs/batch=$bid" -> Dedup.minhashNearDupsIncremental(batch,
        idName, textName, archSh, archBd, threshold, k, bands, shingleN,
        batchShingles = Some(shB), batchBands = Some(bdB)),
      s"$shDir/batch=$bid" -> shB, s"$bdDir/batch=$bid" -> bdB)
  }

  /** The stream's committed frontier: the highest batch id whose
    * trigger fully committed (checkpoint `commits/<id>` present), or
    * −1 before any commit. Batch ids at or below it can NEVER be
    * replayed — the property [[compactIndex]] needs to fold their
    * `batch=<id>` directories safely (an uncommitted trigger's
    * directory must stay in place for its retry's overwrite).
    */
  def committedFrontier(spark: SparkSession, checkpointDir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$checkpointDir/commits")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) -1L
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit))
      .foldLeft(-1L)((m, n) => math.max(m, n.toLong))
  }

  /** Committed-batch-aware compaction of a streaming sink's
    * one-directory-per-trigger layout ([[postingsSink]],
    * [[sq8CodesSink]], and each [[neardupSink]] state relation): fold
    * every generation the checkpoint has committed into a single base
    * generation via [[graft.sources.Compaction.compactBatches]] —
    * the maintenance job that keeps the index scannable at production
    * trigger cadence (without it, scan cost degrades linearly in
    * trigger COUNT from per-file open/footer overhead, not in data).
    * The read is bit-identical before and after (StreamOpsSpec), the
    * possibly-uncommitted tail generation is never touched, and a
    * crashed compaction is repaired by the manifest replay on the
    * next call. Run between triggers (foreachBatch sinks are idle
    * between micro-batches — schedule it like any table-maintenance
    * job).
    */
  def compactIndex(spark: SparkSession, indexDir: String,
                   checkpointDir: String,
                   targetBytes: Long = 128L << 20): Option[Long] =
    graft.sources.Compaction.compactBatches(spark, indexDir,
      committedFrontier(spark, checkpointDir), targetBytes)

  /** Streaming curation — q189's stream twin and the composition a
    * production ingest actually runs, one foreachBatch pipeline over
    * the incremental family:
    *
    *   1. exact-dedup gate: [[graft.operators.Dedup.dedupIncremental]]
    *      against the accumulated fingerprint archive (anti-join +
    *      within-batch keep-first),
    *   2. near-dup gate: [[graft.operators.Dedup
    *      .minhashNearDupsIncremental]] against the accumulated
    *      shingle/band archive — a document drops when it near-dups a
    *      SMALLER-id document (its pairs' later side; the source must
    *      deliver batches in ascending id order, the backlog contract,
    *      so smaller-id ≡ earlier-ingested),
    *   3. redaction: [[graft.operators.Tagging.redactDocs]] over the
    *      survivors (leftmost-longest, the q209 semantics),
    *   4. SQ8 codes: survivors' embeddings quantize under the FROZEN
    *      scales sidecar at `stateDir/sq8/scales` (written by the
    *      planning pass before the stream — the q212 discipline)
    *      through the SQ8 tier's guarded encoder — a NULL, ragged or
    *      clipping vector fails the trigger — and land packed, with
    *      an int64 code-sum column the oracle replays.
    *
    * Every per-batch effect is an OVERWRITE of this batch's own
    * `batch=<id>` directories and every archive read EXCLUDES the
    * batch's own generation, so an at-least-once retry reproduces
    * byte-identical state (the [[neardupBatch]] idempotence argument;
    * StreamOpsSpec replays a committed batch). The gates reference
    * ALL ingested documents — dropped ones included (a duplicate of a
    * dropped document is still a duplicate) — which is what makes the
    * accumulated survivor set equal to the batch device over the
    * whole corpus (the q216 oracle).
    *
    * `embeddings` is the static vector side keyed by `idName` (the
    * stream-static join discipline — re-planned per micro-batch).
    */
  def curationSink(docs: DataFrame, embeddings: DataFrame, stateDir: String,
                   idName: String, textName: String, vecName: String,
                   patterns: Seq[String], token: String,
                   checkpointDir: String,
                   trigger: Option[Trigger] = None,
                   threshold: Double = 0.6, k: Int = 32, bands: Int = 8,
                   shingleN: Int = 3): StreamingQuery = {
    val scales = graft.operators.Similarity
      .readSq8Scales(docs.sparkSession, s"$stateDir/sq8")
    sink(docs, checkpointDir, trigger, OutputMode.Append()) { (batch, bid) =>
      curateBatch(batch, bid, embeddings, stateDir, idName, textName,
        vecName, patterns, token, threshold, k, bands, shingleN, scales)
    }
  }

  /** One trigger of [[curationSink]] under the frozen SQ8 `scales`,
    * idempotent under replay.
    */
  private[graft] def curateBatch(batch: DataFrame, bid: Long,
                                 embeddings: DataFrame, stateDir: String,
                                 idName: String, textName: String,
                                 vecName: String, patterns: Seq[String],
                                 token: String, threshold: Double,
                                 k: Int, bands: Int, shingleN: Int,
                                 scales: Array[Double]): Unit =
      withTriggerWidth(batch) {
    import graft.operators.{Dedup, Similarity, Tagging}
    val spark = batch.sparkSession
    val shB = Dedup.hashedShingleSets(batch, idName, textName, shingleN)
      .persist(MEMORY_AND_DISK)
    val bdB = Dedup.minhashBands(
        Dedup.minhashSignaturesFromShingles(shB, k, shingleN), k, bands)
      .persist(MEMORY_AND_DISK)
    val fpB = batch.select(
      graft.functions.TextFns.fingerprint(col(textName)).as("fp")).distinct()
    def arch(dir: String, emptyRel: DataFrame): DataFrame =
      Publish.priorGenerations(spark, dir, bid, "curationSink")(emptyRel)
    // gate 1: exact dedup vs the accumulated fingerprint archive
    val s1 = Dedup.dedupIncremental(batch,
        arch(s"$stateDir/fp", fpB.limit(0)), idName, textName)
      .select(col(idName))
    // gate 2: near-dup vs the accumulated shingle/band archive; the
    // pair's GREATER id drops (ascending-id ingest ⇒ later side)
    val archSh = arch(s"$stateDir/shingles", shB.limit(0))
    val archBd = arch(s"$stateDir/bands", bdB.limit(0))
    val ndDrop = Dedup.minhashNearDupsIncremental(batch, idName, textName,
        archSh, archBd, threshold, k, bands, shingleN,
        batchShingles = Some(shB), batchBands = Some(bdB))
      .select(greatest(col("id_a"), col("id_b")).as(idName)).distinct()
    val survivors = batch
      .join(s1, Seq(idName), "left_semi")
      .join(ndDrop, Seq(idName), "left_anti")
      .persist(MEMORY_AND_DISK)
    // 3+4 over the survivors — redaction, and SQ8 codes of their vectors
    // under the frozen scales — plus the archive appends of ALL batch
    // documents' fingerprint and shingle state (gates reference dropped
    // documents too)
    val q = Similarity.sq8Quantize(col(vecName), scales)
    val codes = Similarity.frozenVecs(survivors.select(col(idName))
        .join(embeddings, Seq(idName)), vecName, scales.length,
        s"curationSink batch $bid", Some(scales))
      .select(col(idName), graft.functions.VecFns.packInt8(q).as("codes"),
        aggregate(q, lit(0L), (a, x) => a + x).as("code_sum"))
    def at(rel: String) = s"$stateDir/$rel/batch=$bid"
    writeGenerations(batch, Seq(shB, bdB, survivors),
      at("curated") -> Tagging.redactDocs(survivors, idName, col(textName),
        patterns, token),
      at("sq8/codes") -> codes, at("fp") -> fpB, at("shingles") -> shB,
      at("bands") -> bdB)
  }

  /** The streaming query wiring for [[upsertBatch]]. */
  def upsertSink(updates: DataFrame, targetDir: String, key: String,
                 versionCol: String, checkpointDir: String)
      : StreamingQuery =
    sink(updates, checkpointDir, None, OutputMode.Update()) { (batch, _) =>
      upsertBatch(batch, targetDir, key, versionCol)
    }

  /** Micro-batch SCD-2 maintenance: each batch is collapsed last-wins
    * per key (highest `versionCol`), STALE rows are dropped (a row
    * whose version is <= its key's current open-row version is older
    * information — out-of-order delivery must never make an older
    * payload current), and the survivors fold into the versioned
    * history with PARTIAL-snapshot semantics
    * (`Upsert.scd2Apply(closeMissing = false)` — a batch never
    * asserts the absence of keys it didn't carry), with the batch's
    * max surviving version as `asOf`, clamped to the history frontier
    * (a late batch can still carry NEW keys; opening them below the
    * frontier could invert a re-inserted key's interval order). The
    * history after N in-order batches equals N sequential batch-mode
    * partial applies over the same splits — the agreement
    * StreamOpsSpec pins. Re-applying a batch is a fixed point (its
    * versions are no longer above the open rows', so every row drops
    * and the write is skipped), so at-least-once `foreachBatch`
    * delivery yields an exactly-once history.
    *
    * Scale contract: with `historyBuckets = None` every batch
    * rewrites the WHOLE history — fine for dimension-scale histories
    * (the read-merge-overwrite a MERGE compiles to), wrong for a
    * fact-scale one. `historyBuckets = Some(n)` lays the history out
    * partitioned by a key-hash bucket: a batch reads ONLY the bucket
    * directories its keys touch (partition pruning on the batch's
    * distinct bucket list — parameter-sized planner state) and
    * dynamically overwrites only those, leaving every untouched
    * bucket's files byte-identical. Per-batch cost then scales with
    * the batch's key spread, not the history size.
    */
  def scd2Batch(batch: DataFrame, targetDir: String, key: String,
                versionCol: String, historyBuckets: Option[Int] = None): Unit = {
    // no isEmpty pre-flight job: emptiness rides the stats aggregate
    // every non-empty trigger pays anyway (foldInto's count / openAll's
    // count — both skip the write at zero), saving one job round-trip
    // per trigger
    withTriggerWidth(batch) {
    val spark = batch.sparkSession
    val collapsed = collapseLastWins(batch, key, versionCol)
    // Hadoop-FS listing, not java.io.File (the upsertBatch hazard:
    // a remote history would read "absent" and be silently replaced)
    val entries = snapshotEntries(spark, targetDir)
    val flatHistory = entries.exists(_.endsWith(".parquet"))
    val bucketedHistory = entries.exists(_.startsWith("__b="))
    historyBuckets match {
      case None =>
        require(!bucketedHistory, s"$targetDir holds a bucket-partitioned " +
          "history — pass its historyBuckets")
        val merged =
          if (flatHistory)
            foldInto(spark.read.parquet(targetDir), collapsed, key, versionCol)
          else openAll(collapsed, versionCol)
        merged.foreach { case (m, _) => Publish.parquet(m, targetDir) }
      case Some(n) =>
        require(n > 0, s"historyBuckets must be positive, got $n")
        require(!flatHistory, s"$targetDir holds an unpartitioned history " +
          s"— it cannot be maintained with historyBuckets=$n")
        val bucket = pmod(hash(col(key)), lit(n)).cast("int")
        val merged =
          if (bucketedHistory) {
            // the batch's distinct bucket list: <= n values by
            // construction — planner state, like a partition index
            val touched = collapsed.select(bucket.as("__b")).distinct()
              .collect().map(_.getInt(0)).toSeq
            val slice = spark.read.parquet(targetDir)
              .filter(col("__b").isin(touched: _*)).drop("__b")
            // the GLOBAL frontier lives in a sidecar (running max of
            // applied asOf values): the touched slice alone would
            // understate it — a late batch touching only fresh
            // buckets would open NEW keys below the frontier, making
            // the bucketed history diverge from the flat layout's
            foldInto(slice, collapsed, key, versionCol,
              readFrontier(spark, targetDir))
          } else openAll(collapsed, versionCol)
        merged.foreach { case (m, asOf) =>
          Publish.partitions(m.withColumn("__b", bucket), targetDir, "__b")
          writeFrontier(spark, targetDir, asOf)
        }
    }
    }
  }

  /** First batch: every collapsed row opens at the batch max. None =
    * the batch was empty (count and max ride ONE aggregate — the
    * former isEmpty pre-flight job) and there is nothing to write.
    */
  private def openAll(collapsed: DataFrame,
                      versionCol: String): Option[(DataFrame, Long)] = {
    val r = collapsed
      .agg(count(lit(1)).as("__c"), max(col(versionCol)).as("__m")).head()
    if (r.getLong(0) == 0L) None
    else {
      val batchMax = r.getLong(1)
      Some((collapsed
        .withColumn("valid_from", lit(batchMax))
        .withColumn("valid_to", lit(null).cast("long")), batchMax))
    }
  }

  /** Drop stale rows, clamp asOf, apply. None = every row was stale —
    * the history is already correct and the write is skipped.
    * `floorFrontier` lets a bucketed caller supply the GLOBAL
    * frontier (the read slice only sees the touched buckets').
    */
  private def foldInto(history: DataFrame, collapsed: DataFrame,
                       key: String, versionCol: String,
                       floorFrontier: Long = Long.MinValue)
      : Option[(DataFrame, Long)] = {
    val open = history.filter(col("valid_to").isNull)
      .select(col(key), col(versionCol).as("__open_v"))
    val fresh = collapsed.join(open, Seq(key), "left")
      .filter(col("__open_v").isNull || col(versionCol) > col("__open_v"))
      .drop("__open_v")
    // fresh-batch stats AND the history frontier in ONE driver
    // round-trip (two independent 1-row aggregates crossJoined — the
    // serial form paid two jobs per trigger)
    val stats = fresh.agg(count(lit(1)).as("__c"), max(col(versionCol)).as("__m"))
      .crossJoin(history.agg(max(col("valid_from")).as("__f")))
      .head()
    if (stats.getLong(0) == 0L) None
    else {
      val batchMax = stats.getLong(1)
      // asOf monotonicity guard: stale PER-KEY rows are already gone,
      // but a late batch can still open NEW keys; clamping to the
      // frontier keeps re-inserted keys' intervals in history order.
      val frontier = Option(stats.get(2)).map(_.asInstanceOf[Long])
        .getOrElse(Long.MinValue)
      val asOf = math.max(batchMax, math.max(frontier, floorFrontier))
      Some((graft.operators.Upsert.scd2Apply(history,
        fresh, key, asOf, closeMissing = false), asOf))
    }
  }

  /** The bucketed history's global-frontier sidecar: a running max of
    * applied asOf values, equal to the flat layout's
    * max(valid_from). ABSENT or GARBLED reads degrade to MinValue —
    * that clamp merely weakens (same as a crash between data and
    * sidecar writes), never corrupts: per-key ordering is protected
    * by the stale-version drop regardless. Genuine FS failures
    * (remote outage, permission) PROPAGATE and fail the batch: a
    * transient IO error swallowed into MinValue would silently open
    * keys below the true frontier — exactly the bucketed-history
    * divergence the clamp exists to prevent (loud-failure discipline,
    * the dropStaleListDirs contract).
    */
  private def readFrontier(spark: SparkSession, targetDir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$targetDir/_graft_frontier")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Long.MinValue
    else {
      val body =
        try {
          val in = fs.open(p)
          try Some(scala.io.Source.fromInputStream(in, "UTF-8")
            .mkString.trim)
          finally in.close()
        } catch {
          // deleted between exists and open — the absence case
          case _: java.io.FileNotFoundException => None
        }
      try body.fold(Long.MinValue)(_.toLong)
      catch {
        // a torn/garbled sidecar is the crash-between-writes case:
        // weaken the clamp, do not fail the batch
        case _: NumberFormatException => Long.MinValue
      }
    }
  }

  private def writeFrontier(spark: SparkSession, targetDir: String,
                            asOf: Long): Unit = {
    val cur = readFrontier(spark, targetDir)
    if (asOf > cur) {
      val p = new org.apache.hadoop.fs.Path(s"$targetDir/_graft_frontier")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val out = fs.create(p, true)
      try out.write(asOf.toString.getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Hadoop-FS child-name listing of a snapshot directory (empty when
    * absent) — the existence primitive every snapshot sink shares,
    * URI-capable like all the I/O around it.
    */
  private def snapshotEntries(spark: SparkSession,
                              targetDir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(targetDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
  }

  /** The streaming query wiring for [[scd2Batch]]. `trigger` defaults
    * to the continuous micro-batch default; pass
    * `Trigger.AvailableNow()` for a bounded replay (the q150 oracle
    * row drives a 4-file backlog through it one file per batch).
    * `historyBuckets` selects the bucket-partitioned history layout —
    * see the [[scd2Batch]] scale contract.
    */
  def scd2Sink(updates: DataFrame, targetDir: String, key: String,
               versionCol: String, checkpointDir: String,
               trigger: Option[Trigger] = None,
               historyBuckets: Option[Int] = None)
      : StreamingQuery = {
    sink(updates, checkpointDir, trigger, OutputMode.Update()) { (batch, _) =>
      scd2Batch(batch, targetDir, key, versionCol, historyBuckets)
    }
  }
}
