package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.TextFns
import graft.operators.{Artifact, InvertedIndex, Similarity}
import graft.streaming.StreamOps

import Support._

/** Structured Streaming: each row replays a persisted file backlog
  * (or the normalized events artifact) through a real sink, and the
  * batch recompute is its oracle. The rows share their steps, each
  * written once:
  *  - [[replay]]: a fresh scratch directory (the row's earlier one
  *    removed), the backlog streamed into the row's sink with its
  *    checkpoint under the scratch, run to the end of the backlog;
  *  - [[streamToMemory]]: the memory-sink runner of q131/q136;
  *  - [[requireGenerations]]: the committed `batch=` generation count,
  *    a directory listing;
  *  - [[fold]]: a state relation's committed generations compacted
  *    into one base generation, loud when nothing folded.
  */
private[graft] object StreamingQueries {

  /** Persisted exact curation-survivor set — fingerprint keep-first
    * minus near-dup later-side drops (off [[sharedPairs]]): the batch
    * "device" q216's gate-equivalence verdict compares the streamed
    * survivor set against. Standing pipeline state like the shingle
    * and pair artifacts — built ONCE per corpus generation, so the
    * benched stream replay pays two anti-joins against a cached
    * relation instead of recomputing a corpus-wide fingerprint window
    * every rep (the round-14 `weak` flag on q216's bench billing).
    */
  private def sharedCurationExact(s: SparkSession, dir: String): DataFrame = {
    val path = fixturePath("cursurv", dir, "documents")
    Artifact.ensure(path) { tmp =>
      val docs = t(s, dir).documents
      val fpW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fp")).orderBy(col("doc_id"))
      val fpKeep = docs
        .select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp"))
        .withColumn("__rn", row_number().over(fpW))
        .filter(col("__rn") === 1).select(col("doc_id"))
      val ndDrop = sharedPairs(s, dir)
        .select(greatest(col("id_a"), col("id_b")).as("doc_id")).distinct()
      fpKeep.join(ndDrop, Seq("doc_id"), "left_anti").write.parquet(tmp)
    }
    s.read.parquet(path)
  }

  /** The events table as a persisted parquet artifact: `Tables.events`
    * normalizes storage encodings at the table boundary, readStream
    * has no such hook, so the artifact IS the stream's boundary.
    */
  private def ensureEventsSource(s: SparkSession, dir: String): String = {
    val src = fixturePath("streamsrc", dir, "events")
    Artifact.ensure(src)(t(s, dir).events.write.parquet(_))
    src
  }

  /** Persisted file backlog of fixture family `prefix` (tagged on
    * `table`): `batches` land as `b1.parquet`, `b2.parquet`, … in
    * replay order ([[Support.landFiles]]).
    */
  private def ensureBacklog(dir: String, prefix: String, table: String)
                           (batches: => Seq[DataFrame]): String = {
    val src = fixturePath(prefix, dir, table)
    Artifact.ensure(src) { tmp =>
      landFiles(tmp, batches.zipWithIndex.map { case (b, i) => s"b${i + 1}" -> b }: _*)
    }
    src
  }

  /** `rows` cut into `n` ascending equal-width ranges of `idCol`: the
    * bucket is floor((id-lo)*n/(hi-lo+1))+1 over the 1-row min/max
    * bounds, so an oracle reconstructs the same batches without a
    * global sort.
    */
  private def idRanges(rows: DataFrame, idCol: String, n: Int): Seq[DataFrame] = {
    val bounds = rows.agg(min(col(idCol)), max(col(idCol))).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    (1 to n).map(b => rows.filter((floor((col(idCol) - lit(lo)) * lit(n)
      / lit(hi - lo + 1)) + lit(1)).cast("int") === b))
  }

  /** 4-file document backlog in doc_id order — the shared SOURCE for
    * the streaming document twins (q195 index maintenance, q199
    * near-dup maintenance, q216 curation, q246 CDC-segment dedup).
    */
  private def ensureDocBacklog(s: SparkSession, dir: String): String =
    ensureBacklog(dir, "postsrc", "documents")(idRanges(
      t(s, dir).documents.select(col("doc_id"), col("text")), "doc_id", 4))

  /** 4-file EMBEDDINGS backlog in vec_id order — the vector-ingest
    * source for the streaming SQ8 and binary twins (q212, q225).
    */
  private def ensureEmbBacklog(s: SparkSession, dir: String): String =
    ensureBacklog(dir, "embbacklog", "embeddings")(idRanges(
      t(s, dir).embeddings.select(col("vec_id"), col("embedding")), "vec_id", 4))

  /** 4-file SEMANTIC-DEDUP backlog: three ascending vec_id-range
    * terciles of the embeddings corpus, then a fourth batch of EXACT
    * CLONES (vec_id%8==0 under +1000000 ids) — the guaranteed
    * cross-batch duplication fixture (same vector → same cluster,
    * cosine 1.0). Ascending ids across files is the backlog contract
    * the incremental gates require.
    */
  private def ensureSemBacklog(s: SparkSession, dir: String): String =
    ensureBacklog(dir, "sembacklog", "embeddings") {
      val e = t(s, dir).embeddings.select(col("vec_id"), col("embedding"))
      idRanges(e, "vec_id", 3) :+ e.filter(col("vec_id") % 8 === 0)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding"))
    }

  /** 4-file versioned update backlog for the SCD-2 stream twins (q150
    * flat, q166 bucketed): orders keyed by customer, version = order
    * key, batches = equal-width version ranges.
    */
  private def ensureScd2Backlog(s: SparkSession, dir: String): String =
    ensureBacklog(dir, "scd2srcw", "orders")(idRanges(
      t(s, dir).orders.select(col("o_custkey").as("id"),
        col("o_totalprice").as("price"), col("o_orderkey").as("v")), "v", 4))

  /** A stream over the parquet files at `src`, its schema read from
    * them; `perTrigger` files per micro-batch when given.
    */
  private def fileStream(s: SparkSession, src: String,
                         perTrigger: Option[Int] = None): DataFrame = {
    val r = s.readStream.schema(s.read.parquet(src).schema)
    perTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n)).parquet(src)
  }

  /** Start a stream under the AvailableNow trigger and wait until it
    * has drained everything present at its start.
    */
  private def runToEnd(start: Trigger => StreamingQuery): Unit =
    start(Trigger.AvailableNow()).awaitTermination()

  /** The memory-sink runner: `rows` (a stream) into memory table
    * `name` in output `mode`, read back. The memory sink holds only
    * the result rows on the driver; the production shape swaps it for
    * a parquet/Kafka sink. A previous invocation's stream under the
    * same name is stopped first (AvailableNow terminates it; belt and
    * braces for error paths). State partitions are sized to the
    * rows' key space, not the session's relational shuffle width: the
    * store count is frozen from this conf at first run, and 32
    * inherited stores for a dozen-key aggregation are pure commit
    * overhead ([[StreamOps.withStatePartitions]]).
    */
  private def streamToMemory(s: SparkSession, name: String, mode: String)
                            (rows: DataFrame): DataFrame = {
    s.streams.active.filter(_.name == name).foreach(_.stop())
    StreamOps.withStatePartitions(s, 8) {
      runToEnd(rows.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(_).start())
    }
    s.table(name)
  }

  /** One backlog replay of registry row `row` (`q<NN>`): its scratch
    * directory, holding the sink's state and its checkpoint.
    */
  private final case class Replay(row: String, dir: String) {
    def ckpt: String = s"$dir/ckpt"
  }

  /** The replay step of every backlog row, in a fresh
    * [[Support.scratchDir]] per invocation — the fold must replay from
    * scratch to be comparable run over run. The backlog at `src`
    * streams `perTrigger` files per micro-batch into the sink `start`
    * builds — handed the stream, the replay and the trigger — and runs
    * to its end.
    */
  private def replay(s: SparkSession, row: String, src: String, perTrigger: Int = 1)
                    (start: (DataFrame, Replay, Option[Trigger]) => StreamingQuery)
      : Replay = {
    val r = Replay(row, scratchDir(row))
    val stream = fileStream(s, src, Some(perTrigger))
    runToEnd(t => start(stream, r, Some(t)))
    r
  }

  /** The number of `prefix`-named directories in `dir` — a listing,
    * no Spark job.
    */
  private def dirsNamed(dir: String, prefix: String): Int =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .count(f => f.isDirectory && f.getName.startsWith(prefix))

  /** Require `n` generations of the replay's relation `rel`, counted as
    * `batch=` DIRECTORIES, not distinct row values: a trigger whose
    * slice wrote no rows still lands an (empty) generation directory.
    */
  private def requireGenerations(r: Replay, rel: String, n: Int): Int = {
    val nb = dirsNamed(s"${r.dir}/$rel", "batch=")
    require(nb == n, s"${r.row} expected $n ingested batches, got $nb")
    nb
  }

  /** Table maintenance: fold the committed generations of the replay's
    * relation `rel` into one base generation, loud when nothing folded.
    */
  private def fold(s: SparkSession, r: Replay, rel: String): Unit = {
    val folded = StreamOps.compactIndex(s, s"${r.dir}/$rel", r.ckpt)
    require(folded.contains(-1L), s"${r.row} $rel compaction did not fold: $folded")
  }

  /** The q150/q166 replay: the versioned update backlog folded into a
    * flat or key-bucketed SCD-2 history, read back.
    */
  private def scd2Replay(s: SparkSession, dir: String, row: String,
                         historyBuckets: Option[Int]): (Replay, DataFrame) = {
    val r = replay(s, row, ensureScd2Backlog(s, dir))((updates, r, now) =>
      StreamOps.scd2Sink(updates, s"${r.dir}/history", "id", "v", r.ckpt, now,
        historyBuckets))
    (r, s.read.parquet(s"${r.dir}/history")
      .select(col("id"), col("price"), col("v"),
        col("valid_from"), col("valid_to"))
      .orderBy("id", "valid_from"))
  }

  /** The q150/q166 oracle: reconstructs the SCD-2 stream fold with
    * windows — same equal-width batch split over the orderkey min/max
    * bounds, per-(key,batch) last-wins winner, per-batch asOf = max
    * version, every appearance is a change row (versions are unique
    * and ride in the payload), valid_to = the key's next appearance's
    * asOf (NULL = still open).
    */
  private val SqlStreamScd2 =
      """WITH bounds AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi
             FROM orders),
         u AS (SELECT o_custkey AS id, o_totalprice AS price,
             o_orderkey AS v,
             CAST(floor(((o_orderkey - lo) * 4.0) / (hi - lo + 1))
               AS BIGINT) + 1 AS b
           FROM orders CROSS JOIN bounds),
         a AS (SELECT b, CAST(max(v) AS BIGINT) AS asof FROM u GROUP BY b),
         w AS (SELECT id, b, price, v FROM (
             SELECT id, b, price, v,
               row_number() OVER (PARTITION BY id, b ORDER BY v DESC) AS rn
             FROM u) WHERE rn = 1)
         SELECT w.id, w.price, CAST(w.v AS BIGINT) AS v,
           a.asof AS valid_from,
           lead(a.asof) OVER (PARTITION BY w.id ORDER BY w.b) AS valid_to
         FROM w JOIN a USING (b)
         ORDER BY id, valid_from"""

  def all: Seq[Query] = Seq(
    // ---------------- §2.10 streaming: batch-twin oracle parity ----------------
    // The windowed-aggregation path run as a REAL stream — file
    // source, AvailableNow trigger, complete-mode windowed agg into a
    // memory sink — must hash-match q20's batch oracle. Event-time
    // tumbling hour windows with the same decimal money-sum, so the
    // only difference from q20 is the execution model. The memory
    // sink holds only the AGGREGATED result (≤ hours × event types
    // rows) on the driver — the production shape swaps it for a
    // parquet/Kafka sink; everything upstream is distributed.
    // The stream reads a once-per-corpus normalized parquet artifact
    // (Tables.events normalizes storage encodings at the table
    // boundary; readStream has no such hook, so the artifact IS the
    // boundary).
    Query("q131_stream_hourly", (s, dir) => {
      streamToMemory(s, "graft_stream_hourly", "complete")(
          fileStream(s, ensureEventsSource(s, dir))
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value")))
        .select(col("window.start").cast("long").as("hour_ts"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("hour_ts", "event_type")
    }, oracle =
      // streaming batch-twin: the stream replays the same events, so
      // q20's batch aggregation IS the oracle (hour window start ≡
      // date_trunc hour for hour-aligned tumbling windows)
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
         event_type, count(*) AS n,
         CAST(round(sum(CAST(value AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type"""),

    // ---------------- §2.10 stream-stream interval join ----------------
    // every click within the hour BEFORE each purchase, as a real
    // stream-stream join (two file-source streams over the normalized
    // events artifact, event-time watermarks, append sink) — the
    // all-matches streaming twin of q122's latest-only attribution.
    // The memory sink holds only the matched id pairs (33 at sf0.01);
    // production swaps it for a parquet/Kafka sink.
    Query("q136_stream_interval_join", (s, dir) => {
      val src = ensureEventsSource(s, dir)
      val purchases = fileStream(s, src).filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts").as("p_ts"))
      val clicks = fileStream(s, src).filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"),
          col("user_id").as("c_user"), col("ts").as("c_ts"))
      // a stream-stream join keeps FOUR state stores per partition
      // (the runner's 8 state partitions, not the session's 32: 128
      // stores for a 371-row result measured 2-3x the row's cost in
      // pure store commits, ProbeStateParts)
      streamToMemory(s, "graft_stream_interval", "append")(
          StreamOps.intervalJoin(purchases, clicks, "p_user", "c_user",
            "p_ts", "c_ts", windowSec = 3600L)
            .select(col("purchase_id"), col("click_id")))
        .orderBy("purchase_id", "click_id")
    }, oracle =
      // stream-stream interval join: the batch inequality join IS the
      // oracle (µs-exact interval arithmetic in both engines)
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id
         FROM events p JOIN events c
           ON p.event_type = 'purchase' AND c.event_type = 'click'
          AND c.user_id = p.user_id
          AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
         ORDER BY purchase_id, click_id"""),

    // ---------------- streaming SCD-2 history (driver-surface oracle) ----------------
    // A versioned update stream (orders keyed by customer, version =
    // order key) replayed through a real FILE source one file per
    // micro-batch, folded into a parquet history by the scd2Sink /
    // scd2Batch pair. Batch splits are EQUAL-WIDTH buckets of the
    // version range — floor((v-lo)*4/(hi-lo+1))+1 over the 1-row
    // min/max bounds, so both engines reconstruct the same four
    // batches WITHOUT a global sort (the previous ntile(4) over an
    // unpartitioned window moved all orders to one partition — the
    // exact anti-pattern the engine refuses elsewhere). Every
    // per-batch winner is a change row (versions are unique, and the
    // version rides in the payload), valid_from = its batch's max
    // version, valid_to = the key's next appearance (partial
    // semantics: unobserved keys ride open). Exercises
    // collapse-last-wins, close+open, insert, ride-through, and the
    // multi-batch replay end to end.
    Query("q150_stream_scd2", (s, dir) => {
      scd2Replay(s, dir, "q150", historyBuckets = None)._2
    }, oracle = SqlStreamScd2),

    // ---------------- bucketed SCD-2 history (layout invariance) ----------------
    // The q150 replay folded into a KEY-BUCKET-PARTITIONED history
    // (historyBuckets=8): per batch only the touched bucket
    // directories rewrite (the fact-scale layout — see the scd2Batch
    // scale contract), and the resulting history must be VALUE-
    // IDENTICAL to the flat layout's — same oracle SQL as q150, so
    // the layout choice is proven invisible under the driver's hash.
    Query("q166_stream_scd2_bucketed", (s, dir) => {
      val (r, history) = scd2Replay(s, dir, "q166", historyBuckets = Some(8))
      SelfCheck.every(s"q166/$dir") {
        val dirs = dirsNamed(s"${r.dir}/history", "__b=")
        require(dirs >= 1 && dirs <= 8,
          s"q166 expected a bucket-partitioned history, found $dirs dirs")
        SelfCheck.note(s"history laid out in $dirs key-hash bucket dirs; " +
          "values hash-equal to the flat q150 layout")
      }
      history
    }, oracle =
      // IDENTICAL to the q150 oracle: the bucket-partitioned layout must
      // be value-invisible — same fold, same batches, same history
      SqlStreamScd2),

    // ---------------- streaming near-dup maintenance ----------------
    // q183's stream twin, completing the continuous-ingest streaming
    // family (q195 = index member, this = near-dup member): the
    // 4-file backlog replays one file per trigger, each micro-batch
    // bands against the persisted minhash archive and then APPENDS
    // ITSELF as the archive's next generation (per-batch overwrite
    // dirs — exactly-once effects under at-least-once foreachBatch).
    // Banding predicates are deterministic functions of shingle sets,
    // so the accumulated pair set equals the one-shot corpus operator
    // (StreamOpsSpec pins the equality on a fixture stream); here the
    // envelope carries q31's FULL oracle — rows keyed on the exact
    // pair artifact, stream-accumulated subset/recall verdicts pinned
    // TRUE.
    Query("q199_stream_neardups", (s, dir) => {
      val r = replay(s, "q199", ensureDocBacklog(s, dir))((docs, r, now) =>
        StreamOps.neardupSink(docs, s"${r.dir}/state", "doc_id", "text", r.ckpt,
          now, threshold = 0.6, shingleN = JaccardShingleN))
      SelfCheck.every(s"q199/$dir") {
        val nb = requireGenerations(r, "state/pairs", 4)
        SelfCheck.note(s"near-dup pairs accumulated across $nb micro-batches, " +
          "then every state relation compacted into one base generation; " +
          "subset/recall verdicts vs the exact pair artifact ride the row")
      }
      // table maintenance: the pair relation (the one the read below
      // goes through) folds its 4 committed generations per run; the
      // archive's shingles/bands fold ONCE per session (the q216
      // billing discipline — their fold feeds nothing downstream of
      // this query, and the same compactBatches path is already
      // benched per-rep through pairs here and through the
      // q195/q212/q225 sinks; re-folding them per rep billed ~2 s of
      // pure redundancy to the board's top row)
      fold(s, r, "state/pairs")
      SelfCheck.once(s"q199/statefold/$dir") {
        Seq("shingles", "bands").foreach(rel => fold(s, r, s"state/$rel"))
        SelfCheck.note("archive shingle/band generations folded to one " +
          "base generation each; the pair fold runs per-rep on the " +
          "read path")
      }
      val acc = s.read.parquet(s"${r.dir}/state/pairs")
      val pairs = acc.select(
          least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b")).distinct()
      val exact = sharedPairs(s, dir)
      val exKeys = exact.select(col("id_a"), col("id_b"))
      val verdict = subsetRecallVerdict(pairs, exKeys, floor = 0.8)
      exact.crossJoin(broadcast(verdict))
        .select(col("id_a"), col("id_b"), col("jaccard"),
          col("subset_of_exact"), col("recall_ok"))
        .orderBy("id_a", "id_b")
    }, oracle =
      // stream near-dup envelope = q31's oracle: rows are the exact
      // pair relation, the stream-accumulated LSH verdicts pinned TRUE
      SqlJaccardEnvelope),

    // ---------------- streaming search-index maintenance ----------------
    // q194's stream twin: the corpus arrives as a 4-file backlog, one
    // file per trigger, and each micro-batch's postings land in their
    // own batch=<id> directory with overwrite semantics (retries
    // replace, never double-count — exactly-once index effect under
    // at-least-once foreachBatch). After the replay the directory IS
    // the full corpus's posting relation, so the ranked answer
    // carries q137's full-corpus BM25 oracle.
    Query("q195_stream_index", (s, dir) => {
      val r = replay(s, "q195", ensureDocBacklog(s, dir))((docs, r, now) =>
        StreamOps.postingsSink(docs, s"${r.dir}/idx", "doc_id", "text", r.ckpt, now))
      SelfCheck.every(s"q195/$dir") {
        val nb = requireGenerations(r, "idx", 4)
        SelfCheck.note(s"index accumulated across $nb micro-batch dirs, " +
          "then compacted into one base generation; ranked answer " +
          "oracle-matched against the full corpus")
      }
      // table maintenance: fold the 4 committed trigger dirs into ONE
      // base generation (the small-file fix at production cadence) —
      // the oracle-matched read below goes THROUGH the compacted index
      fold(s, r, "idx")
      InvertedIndex.bm25TopKIndexed(
        s.read.parquet(s"${r.dir}/idx").drop("batch"), "doc_id",
        Seq("dup", "spark", "window"), k = 10)
    }, oracle =
      SqlBm25TopK),

    // ---------------- streaming SQ8 vector ingest ----------------
    // The continuous-ingest family's VECTOR member (q195 = index,
    // q199 = near-dup): embeddings arrive as a 4-file backlog, one
    // file per trigger; the planning pass froze the scales sidecar,
    // each micro-batch lands packed codes in its own batch=<id>
    // directory (overwrite — retries replace, the q195 exactly-once
    // discipline), and after the replay the accumulated code table is
    // BIT-IDENTICAL to the batch-built index, so serving through
    // sq8TopKIndexed carries q197's bit-exact oracle verbatim.
    Query("q212_stream_sq8_ingest", (s, dir) => {
      val r = replay(s, "q212", ensureEmbBacklog(s, dir)) { (embs, r, now) =>
        Similarity.initSq8Scales(t(s, dir).embeddings, "embedding", s"${r.dir}/idx")
        StreamOps.sq8CodesSink(embs, s"${r.dir}/idx", "vec_id", "embedding",
          r.ckpt, now)
      }
      SelfCheck.every(s"q212/$dir") {
        val nb = requireGenerations(r, "idx/codes", 4)
        SelfCheck.note(s"code table accumulated across $nb micro-batch " +
          "dirs, then compacted into one base generation; served top-k " +
          "carries q197's bit-exact oracle")
      }
      // table maintenance: fold the 4 committed trigger dirs into one
      // base generation; the bit-exact serve below reads THROUGH it
      fold(s, r, "idx/codes")
      Similarity.sq8TopKIndexed(s, s"${r.dir}/idx", "vec_id", queryId = 0L, k = 10)
    }, oracle =
      // the streamed code table is bit-identical to the batch build
      // under the same frozen scales → the same oracle verbatim
      SqlSq8TopK),

    // ---------------- streaming curation capstone ----------------
    // q189's stream twin — ONE foreachBatch pipeline composing the
    // incremental family the way a production ingest actually runs:
    // archive fingerprint anti-join → incremental near-dup gate →
    // redaction → SQ8 codes, every per-batch effect an overwrite of
    // its own batch=<id> directory (replay-idempotent; StreamOpsSpec
    // replays a committed batch byte-identically). Because the
    // backlog delivers ascending-id batches and every gate references
    // ALL ingested documents, the accumulated survivor set equals the
    // q189-style batch device over the whole corpus, so the row
    // payload (redaction fingerprints + code sums) carries a FULL
    // oracle; the gate-equivalence booleans ride the row pinned TRUE.
    Query("q216_stream_curation", (s, dir) => {
      val emb = t(s, dir).embeddings
        .select(col("vec_id").as("doc_id"), col("embedding"))
      // two files per trigger: the multi-batch accumulation (batch 2's
      // gates referencing batch 1's state) is exercised with HALF the
      // per-trigger fixed cost — q199 keeps the 4-trigger form, and
      // StreamOpsSpec carries the per-batch replay rigor; this row's
      // job is the end-to-end pipeline under a full oracle (the r14
      // bench flagged its cost class, not its plan)
      val r = replay(s, "q216", ensureDocBacklog(s, dir), perTrigger = 2) {
          (docs, r, now) =>
        Similarity.initSq8Scales(emb, "embedding", s"${r.dir}/state/sq8")
        StreamOps.curationSink(docs, emb, s"${r.dir}/state", "doc_id", "text",
          "embedding", DictPatterns, token = "[X]", r.ckpt, now,
          threshold = 0.6, shingleN = JaccardShingleN)
      }
      SelfCheck.every(s"q216/$dir") {
        val nb = requireGenerations(r, "state/curated", 2)
        SelfCheck.note(s"curation pipeline ran $nb micro-batches; " +
          "survivor payload carries the q189-device full oracle")
      }
      val cur = s.read.parquet(s"${r.dir}/state/curated").drop("batch")
      val codes = s.read.parquet(s"${r.dir}/state/sq8/codes").drop("batch")
        .select(col("doc_id"), col("code_sum"))
      val rows = cur.join(codes, Seq("doc_id"), "left")
      // gate-equivalence verdict vs the exact batch device — read off
      // the PERSISTED survivor artifact ([[sharedCurationExact]]:
      // fp keep-first ∖ exact-pair later-side drop, built once per
      // corpus generation), so the benched replay pays two anti-joins
      // against a cached relation, never the corpus-wide fingerprint
      // window per rep. Plan-fused 1-row booleans, pinned TRUE.
      val exact = sharedCurationExact(s, dir)
      val verdict = rows.select(col("doc_id"))
        .join(exact, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("__extra"))
        .crossJoin(exact.join(rows.select(col("doc_id")),
            Seq("doc_id"), "left_anti")
          .agg(count(lit(1)).as("__miss")))
        .select((col("__extra") === 0L).as("no_extra_survivors"),
          (col("__miss") === 0L).as("exact_survivors_kept"))
      rows.crossJoin(broadcast(verdict))
        .select(col("doc_id"),
          col("n_redactions").cast("long").as("n_redactions"),
          md5(col("redacted")).as("redacted_fp"),
          col("code_sum"),
          col("no_extra_survivors"), col("exact_survivors_kept"))
        .orderBy("doc_id")
    }, oracle = {
      // streaming curation capstone: ascending-id batches make the
      // accumulated state equal the batch device over the whole corpus
      // — fp keep-first (q189 device) + exact-pair later-side drop
      // (q202 device) pick the survivors; the q209 redaction device and
      // the q211 quantization device replay the payload; the gate
      // booleans are pinned TRUE
      val vals = DictPatterns.map(p => s"('$p')").mkString(",")
      s"""WITH RECURSIVE
         fpt AS (
           SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
           FROM documents),
         fpkeep AS (
           SELECT doc_id FROM (
             SELECT doc_id, row_number() OVER
               (PARTITION BY fp ORDER BY doc_id) AS rn
             FROM fpt)
           WHERE rn = 1),
         $SqlDocTokens,
         shng AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(ts)-1),
             i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
           FROM toks WHERE len(ts) >= 3),
         ex AS (SELECT doc_id, unnest(s) AS g FROM shng),
         inter AS (
           SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS i
           FROM ex l JOIN ex r ON l.g = r.g AND l.doc_id < r.doc_id
           GROUP BY 1, 2),
         sz AS (SELECT doc_id, len(s) AS n FROM shng),
         prs AS (
           SELECT id_a, id_b FROM inter
           JOIN sz sa ON sa.doc_id = id_a
           JOIN sz sb ON sb.doc_id = id_b
           WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.6),
         nddrop AS (SELECT DISTINCT greatest(id_a, id_b) AS doc_id FROM prs),
         surv AS (
           SELECT f.doc_id FROM fpkeep f
           ANTI JOIN nddrop n ON f.doc_id = n.doc_id),
         pats(pattern) AS (VALUES $vals),
         m(doc_id, pattern, pos) AS (
           SELECT d.doc_id, p.pattern, strpos(d.text, p.pattern)
           FROM documents d JOIN surv sv ON sv.doc_id = d.doc_id
           CROSS JOIN pats p
           WHERE strpos(d.text, p.pattern) > 0
           UNION ALL
           SELECT m.doc_id, m.pattern,
             m.pos + strpos(substr(d.text, m.pos + 1), m.pattern)
           FROM m JOIN documents d ON d.doc_id = m.doc_id
           WHERE strpos(substr(d.text, m.pos + 1), m.pattern) > 0),
         $SqlDictRedaction,
         d2 AS (
           SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
           FROM embeddings),
         mx AS (SELECT dim, max(abs(x)) AS mxv FROM d2 GROUP BY dim),
         cs AS (
           SELECT vec_id, CAST(sum(
             CASE WHEN mxv > 0 THEN CAST(round(x * 127.0 / mxv) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS code_sum
           FROM d2 JOIN mx ON d2.dim = mx.dim GROUP BY vec_id)
         SELECT sv.doc_id,
           CAST(coalesce(r.n_red, 0) AS BIGINT) AS n_redactions,
           md5(coalesce(r.redacted, d.text)) AS redacted_fp,
           cs.code_sum,
           TRUE AS no_extra_survivors, TRUE AS exact_survivors_kept
         FROM surv sv
         JOIN documents d ON d.doc_id = sv.doc_id
         LEFT JOIN red r ON r.doc_id = sv.doc_id
         LEFT JOIN cs ON cs.vec_id = sv.doc_id
         ORDER BY sv.doc_id"""
    }),

    // ---------------- streaming binary-code ingest ----------------
    // The 1-bit tier's continuous-ingest member (q212's device one
    // tier smaller): thresholds frozen by a planning pass, 4
    // micro-batches land packed codes in their own batch= dirs, the
    // committed generations fold into one base generation, and the
    // served two-stage top-k reads THROUGH the compacted streamed
    // table — binarization is pure-function-of-(vector, thresholds),
    // so the serve carries q217's bit-exact oracle VERBATIM.
    Query("q225_stream_binary_ingest", (s, dir) => {
      val emb = t(s, dir).embeddings
      val r = replay(s, "q225", ensureEmbBacklog(s, dir)) { (embs, r, now) =>
        Similarity.initBinThresholds(emb, "embedding", s"${r.dir}/idx")
        StreamOps.binCodesSink(embs, s"${r.dir}/idx", "vec_id", "embedding",
          r.ckpt, now)
      }
      SelfCheck.every(s"q225/$dir") {
        val nb = requireGenerations(r, "idx/codes", 4)
        SelfCheck.note(s"binary code table accumulated across $nb " +
          "micro-batch dirs, compacted, then served q217's oracle")
      }
      fold(s, r, "idx/codes")
      Similarity.binaryTopKIndexed(s, s"${r.dir}/idx", emb, "vec_id", "embedding",
        queryId = 0L, k = 10, rerank = 50)
    }, oracle =
      // streamed binary ingest: binarization is pure-function-of-
      // (vector, frozen thresholds), so the compacted streamed table
      // serves q217's oracle VERBATIM
      SqlBinaryTwoStage),

    // ---------------- streaming CDC-segment dedup ----------------
    // The alignment-robust family's continuous-ingest member (q233
    // batch / q244 incremental / this), on the q195/q199 backlog
    // device: 4 files, one per trigger; each batch's content-defined
    // chunks drop where their fingerprint was seen in ANY prior
    // batch and keep-first within the batch; per-batch cleaned rows
    // and novel-fingerprint generations land exactly-once (overwrite
    // own-generation). FULL oracle: the streamed composition equals
    // a GLOBAL keep-first in (batch, doc, position) order — DuckDB
    // replays the backlog's id-range bucketing, the CDC device, and
    // the ordered keep-first in one window.
    Query("q246_stream_cdc_dedup", (s, dir) => {
      val r = replay(s, "q246", ensureDocBacklog(s, dir))((docs, r, now) =>
        StreamOps.cdcSegmentsSink(docs, s"${r.dir}/state", "doc_id", "text",
          r.ckpt, now, boundary256 = 32))
      SelfCheck.every(s"q246/$dir") {
        requireGenerations(r, "state/clean", 4)
        SelfCheck.note("cleaned rows accumulated across 4 triggers, " +
          "folded to one base generation; streamed composition ≡ the " +
          "oracle's global (batch, doc, position) keep-first")
      }
      // table maintenance: the clean relation (the read path) folds
      // per run; the fingerprint archive folds once per session (the
      // q199 billing discipline)
      fold(s, r, "state/clean")
      SelfCheck.once(s"q246/statefold/$dir")(fold(s, r, "state/chunks"))
      s.read.parquet(s"${r.dir}/state/clean").drop("batch")
        .select(col("doc_id"), col("n_kept"), col("n_dropped"),
          md5(col("clean_text")).as("clean_fp"))
        .orderBy("doc_id")
    }, oracle =
      // streaming CDC-segment dedup: the 4-trigger composition equals
      // one global keep-first in (batch, doc, position) order — the
      // backlog's id-range bucketing + q233's CDC chain + one window
      """WITH bounds AS (
           SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
         d AS (
           SELECT doc_id, text,
             CAST(floor((doc_id - lo) * 4.0 / (hi - lo + 1)) AS BIGINT) + 1
               AS b
           FROM documents, bounds),
         toks AS (SELECT b, doc_id, string_split(text, ' ') AS ts FROM d),
         wds0 AS (
           SELECT b, doc_id, unnest(range(1, len(ts)+1)) AS pos, ts
           FROM toks),
         wds AS (
           SELECT b, doc_id, CAST(pos AS BIGINT) AS pos, ts[pos] AS w
           FROM wds0),
         flg AS (
           SELECT b, doc_id, pos, w,
             CASE WHEN ('0x' || substr(md5(w), 1, 2))::BIGINT < 32
                  THEN 1 ELSE 0 END AS bb
           FROM wds),
         cid AS (
           SELECT b, doc_id, pos, w,
             COALESCE(sum(bb) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ci
           FROM flg),
         ch AS (
           SELECT b, doc_id, CAST(ci AS BIGINT) AS seg,
             string_agg(w, ' ' ORDER BY pos) AS ctext,
             md5(string_agg(w, ' ' ORDER BY pos)) AS cmd5
           FROM cid GROUP BY b, doc_id, ci),
         keepf AS (
           SELECT doc_id, seg, ctext,
             row_number() OVER (PARTITION BY cmd5
               ORDER BY b, doc_id, seg) AS rn
           FROM ch)
         SELECT doc_id,
           CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dropped,
           md5(COALESCE(string_agg(ctext, ' ' ORDER BY seg)
             FILTER (WHERE rn = 1), '')) AS clean_fp
         FROM keepf GROUP BY doc_id ORDER BY doc_id"""),

    // ---------------- streaming semantic dedup ----------------
    // SemDeDup's continuous-ingest member (q92 batch / this), closing
    // the family's last batch-only asymmetry: vectors arrive in 4
    // ascending-id micro-batches (three corpus terciles + a batch of
    // EXACT CLONES under later ids — the guaranteed cross-batch
    // duplication mode); a planning pass froze the centroid sidecar;
    // each batch assigns to the FROZEN clusters and drops against the
    // ALL-INGESTED archive (q216's discipline — a duplicate of a
    // dropped vector is still a duplicate). Per-batch effects
    // overwrite their own batch= generations (replay-idempotent,
    // spec-pinned). Verdicts are ENGINE-COMPUTED, oracle-pinned TRUE:
    // the accumulated survivor set EQUALS the frozen-centroid batch
    // device over everything ingested (exact set equality — the
    // semanticDedupVsArchive domination argument), and every clone
    // was caught across batches. Rows: per-batch ingest accounting
    // (the oracle replays the tercile bucketing and the clone count).
    Query("q248_stream_semantic_dedup", (s, dir) => {
      val src = ensureSemBacklog(s, dir)
      val corpus = s.read.parquet(src)
      val r = replay(s, "q248", src) { (vecs, r, now) =>
        Similarity.initSemanticCentroids(corpus, "vec_id", "embedding",
          nlist = 16, s"${r.dir}/state")
        StreamOps.semanticDedupSink(vecs, s"${r.dir}/state", "vec_id",
          "embedding", r.ckpt, now, tau = 0.35)
      }
      val state = s"${r.dir}/state"
      val kept = s.read.parquet(s"$state/kept").select(col("vec_id"))
      val cents = Similarity.readCentroids(s, state)
      val want = Similarity.semanticDedupFrozen(corpus, "vec_id",
        "embedding", tau = 0.35, cents).select(col("vec_id"))
      // set equality in ONE job: both sides are id-unique by
      // construction (survivor sets), so a full-outer join with a
      // null-on-either-side probe decides kept == want — the two-
      // except form computed the batch device TWICE (measured
      // ProbeQ248: 3.5-3.8 s of a ~10 s row; this form ~1.8 s),
      // guide §1.2 "don't compute things you throw away"
      val composition = kept.withColumn("__k", lit(1))
        .join(want.withColumn("__w", lit(1)), Seq("vec_id"), "full_outer")
        .filter(col("__k").isNull || col("__w").isNull)
        .isEmpty
      val cloneKept = kept.filter(col("vec_id") >= 1000000L).count()
      val nClones = corpus.filter(col("vec_id") >= 1000000L).count()
      SelfCheck.every(s"q248/$dir") {
        requireGenerations(r, "state/vecs", 4)
        require(composition, "q248 streamed survivors != batch device")
        SelfCheck.note(s"4 micro-batches; survivors equal the frozen " +
          s"batch device exactly; $nClones cross-batch clones all caught")
      }
      s.read.parquet(s"$state/vecs")
        .groupBy(col("batch").cast("long").as("batch"))
        .agg(count(lit(1)).as("n_in"))
        .select(col("batch"), col("n_in"),
          lit(composition).as("composition_exact"),
          lit(cloneKept == 0L && nClones > 0L).as("cross_batch_dups_caught"))
        .orderBy("batch")
    }, oracle =
      // streaming semantic dedup: per-batch ingest accounting (the
      // backlog's tercile bucketing + the clone batch, replayed), the
      // engine-computed equality/catch verdicts pinned TRUE
      """WITH bounds AS (
           SELECT min(vec_id) AS lo, max(vec_id) AS hi FROM embeddings),
         b AS (
           SELECT CAST(floor((e.vec_id - lo) * 3.0 / (hi - lo + 1))
             AS BIGINT) AS batch
           FROM embeddings e, bounds),
         orig AS (SELECT batch, count(*) AS n_in FROM b GROUP BY batch),
         cl AS (
           SELECT CAST(3 AS BIGINT) AS batch, count(*) AS n_in
           FROM embeddings WHERE vec_id % 8 = 0)
         SELECT batch, CAST(n_in AS BIGINT) AS n_in,
           TRUE AS composition_exact, TRUE AS cross_batch_dups_caught
         FROM (SELECT * FROM orig UNION ALL SELECT * FROM cl)
         ORDER BY batch"""),
  )
}
