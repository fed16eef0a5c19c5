package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamOps
import graft.streaming.StreamOps.{Event, Session}

class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, sec: Long, user: Long, typ: String = "click"): Event =
    Event(id, new Timestamp(sec * 1000L), user, typ, 1.0)

  test("hourlyCounts over MemoryStream matches the batch run") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val events = Seq(
      ev(1, 100, 1), ev(2, 200, 1), ev(3, 3700, 2), ev(4, 3800, 2, "error"),
      ev(5, 7300, 1))
    input.addData(events)
    val q = StreamOps.hourlyCounts(input.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Append()).start()
    // advance watermark far enough to close all windows
    input.addData(Seq(ev(99, 100000, 9)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hourly")
      .select("window_start", "event_type", "n")
      .as[(Timestamp, String, Long)].collect().toSet
    val batch = StreamOps.hourlyCounts(events.toDF())
      .select("window_start", "event_type", "n")
      .as[(Timestamp, String, Long)].collect().toSet
    assert(batch.subsetOf(streamed))
    assert(streamed.exists(_._2 == "error"))
  }

  test("postingsSink accumulates an index equal to the batch build") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val dir = java.nio.file.Files
      .createTempDirectory("graft_streamidx_spec").toString
    val q = StreamOps.postingsSink(
      input.toDF().toDF("doc_id", "text"),
      s"$dir/idx", "doc_id", "text", s"$dir/ckpt")
    input.addData(Seq((1L, "a b a c"), (2L, "b c")))
    q.processAllAvailable()
    input.addData(Seq((3L, "a a a"), (4L, "c d")))
    q.processAllAvailable()
    q.stop()
    val all = Seq((1L, "a b a c"), (2L, "b c"), (3L, "a a a"), (4L, "c d"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("term", "doc_id", "tf", "positions")
        .as[(String, Long, Long, String)].collect().toSet
    val streamed = spark.read.parquet(s"$dir/idx")
    assert(streamed.select("batch").distinct().count() == 2,
      "two micro-batches should land in two index dirs")
    assert(rows(streamed.drop("batch")) ==
      rows(graft.operators.InvertedIndex.build(all, "doc_id", col("text"))))
    // retry idempotence: re-writing a batch's directory replaces it —
    // the sink's overwrite mode, simulated directly
    graft.operators.InvertedIndex.build(
        Seq((1L, "a b a c"), (2L, "b c")).toDF("doc_id", "text"),
        "doc_id", col("text"))
      .write.mode("overwrite").parquet(s"$dir/idx/batch=0")
    assert(rows(spark.read.parquet(s"$dir/idx").drop("batch")) ==
      rows(graft.operators.InvertedIndex.build(all, "doc_id", col("text"))))
  }

  test("compactIndex folds committed batch dirs; read bit-identical; crash repaired; tail generation untouched") {
    implicit val sc = spark.sqlContext
    import graft.sources.Compaction
    val input = MemoryStream[(Long, String)]
    val dir = java.nio.file.Files
      .createTempDirectory("graft_compact_spec").toString
    val idx = s"$dir/idx"
    val q = StreamOps.postingsSink(
      input.toDF().toDF("doc_id", "text"),
      idx, "doc_id", "text", s"$dir/ckpt")
    input.addData(Seq((1L, "a b a c"), (2L, "b c")))
    q.processAllAvailable()
    input.addData(Seq((3L, "a a a"), (4L, "c d")))
    q.processAllAvailable()
    def rows() = spark.read.parquet(idx).drop("batch")
      .select("term", "doc_id", "tf", "positions")
      .as[(String, Long, Long, String)].collect().toSet
    def gens() = new java.io.File(idx).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName.stripPrefix("batch=").toLong).toSet
    val before = rows()
    assert(gens() == Set(0L, 1L))
    assert(StreamOps.committedFrontier(spark, s"$dir/ckpt") == 1L)
    // fold both committed generations into base -1: read unchanged
    assert(StreamOps.compactIndex(spark, idx, s"$dir/ckpt") == Some(-1L))
    assert(gens() == Set(-1L), s"expected base only, got ${gens()}")
    assert(rows() == before, "compaction changed the read")
    // the stream continues against the SAME checkpoint: the next
    // trigger lands batch=2 alongside the base
    input.addData(Seq((5L, "d e"), (6L, "e e a")))
    q.processAllAvailable()
    q.stop()
    assert(gens() == Set(-1L, 2L))
    val all = Seq((1L, "a b a c"), (2L, "b c"), (3L, "a a a"), (4L, "c d"),
      (5L, "d e"), (6L, "e e a")).toDF("doc_id", "text")
    val full = graft.operators.InvertedIndex.build(all, "doc_id", col("text"))
      .select("term", "doc_id", "tf", "positions")
      .as[(String, Long, Long, String)].collect().toSet
    assert(rows() == full)
    // a frontier BELOW the tail generation never touches it (the
    // possibly-uncommitted trigger keeps its dir for retry overwrite)
    assert(Compaction.compactBatches(spark, idx, upTo = 1L).isEmpty)
    assert(gens() == Set(-1L, 2L))
    // second compaction folds base + batch=2 into base -2
    assert(StreamOps.compactIndex(spark, idx, s"$dir/ckpt") == Some(-2L))
    assert(gens() == Set(-2L))
    assert(rows() == full, "second compaction changed the read")
    // crash simulation: a folded dir resurrected AFTER the base's
    // rename (= crash between rename and deletes) reads as duplicates
    // until the manifest replay removes it
    graft.operators.InvertedIndex.build(
        Seq((5L, "d e"), (6L, "e e a")).toDF("doc_id", "text"),
        "doc_id", col("text"))
      .write.mode("overwrite").parquet(s"$idx/batch=2")
    assert(spark.read.parquet(idx).count() > full.size,
      "resurrected dir should read as duplicates before repair")
    Compaction.repairBatchCompaction(spark, idx)
    assert(gens() == Set(-2L))
    assert(rows() == full, "manifest replay did not restore the read")
  }

  test("neardupSink accumulates exactly the one-shot near-dup pair set") {
    implicit val sc = spark.sqlContext
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val parts = docs.grouped(docs.length / 3 + 1).toSeq
    assert(parts.size == 3)
    val input = MemoryStream[(Long, String)]
    val dir = java.nio.file.Files
      .createTempDirectory("graft_streamnd_spec").toString
    val q = graft.streaming.StreamOps.neardupSink(
      input.toDF().toDF("doc_id", "text"),
      s"$dir/state", "doc_id", "text", s"$dir/ckpt")
    parts.foreach { p => input.addData(p.toSeq); q.processAllAvailable() }
    q.stop()
    val acc = spark.read.parquet(s"$dir/state/pairs")
    assert(acc.select("batch").distinct().count() == 3,
      "three micro-batches should land in three pair dirs")
    val got = acc.select(
        least($"id_a", $"id_b"), greatest($"id_a", $"id_b"), $"jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val ref = graft.operators.Dedup.minhashNearDups(
        docs.toSeq.toDF("doc_id", "text"), "doc_id", "text", 0.6)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map(t => (math.min(t._1, t._2), math.max(t._1, t._2), t._3)).toSet
    assert(ref.nonEmpty, "fixture corpus should contain near-dup pairs")
    assert(got == ref,
      s"stream-accumulated pairs diverge: extra=${(got diff ref).take(3)} " +
        s"missing=${(ref diff got).take(3)}")

    // exactly-once under at-least-once delivery: replay the LAST
    // committed batch (its shingles/bands generation is already in
    // the archive — the worst case, where a naive archive read would
    // band the batch against itself and poison the pair set with
    // (x,x) self-pairs). The replay must leave every state directory
    // value-identical.
    def stateSnapshot(): (Set[(Long, Long, Double)], Long, Long) = (
      spark.read.parquet(s"$dir/state/pairs")
        .select(least($"id_a", $"id_b"), greatest($"id_a", $"id_b"), $"jaccard")
        .as[(Long, Long, Double)].collect().toSet,
      spark.read.parquet(s"$dir/state/shingles").count(),
      spark.read.parquet(s"$dir/state/bands").count())
    val before = stateSnapshot()
    graft.streaming.StreamOps.neardupBatch(
      parts.last.toSeq.toDF("doc_id", "text"), bid = 2L,
      s"$dir/state", "doc_id", "text",
      threshold = 0.6, k = 32, bands = 8, shingleN = 3)
    assert(stateSnapshot() == before,
      "replaying a committed batch changed the accumulated state")
  }

  test("neardupBatch: every job of a trigger carries the caller's job group") {
    // the pair and state writes run concurrently on pool threads; each
    // must run under the calling trigger's local properties, not those
    // of whichever query first created the thread
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_ndgroup_spec").toString
    def groupsOf(group: String, bid: Long, rows: Seq[(Long, String)]): Seq[String] = {
      org.apache.spark.graftbridge.Listeners.drain(sc)
      seen.clear()
      sc.setJobGroup(group, group)
      try StreamOps.neardupBatch(rows.toDF("doc_id", "text"), bid, s"$dir/state",
        "doc_id", "text", threshold = 0.6, k = 32, bands = 8, shingleN = 3)
      finally sc.clearJobGroup()
      org.apache.spark.graftbridge.Listeners.drain(sc)
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq
    }
    sc.addSparkListener(listener)
    try {
      val a = groupsOf("ndgroup-a", 0L, Seq(1L -> "the quick brown fox jumps over the dog",
        2L -> "completely unrelated text about shuffles"))
      val b = groupsOf("ndgroup-b", 1L, Seq(3L -> "the quick brown fox jumps over the dog",
        4L -> "another unrelated note about parquet footers"))
      assert(a.nonEmpty && a.forall(_ == "ndgroup-a"), s"first trigger's job groups: $a")
      assert(b.nonEmpty && b.forall(_ == "ndgroup-b"), s"second trigger's job groups: $b")
    } finally sc.removeSparkListener(listener)
  }

  test("neardup state compaction mid-ingest: later batches band against the base generation; replay idempotent") {
    implicit val sc = spark.sqlContext
    val mk = (id: Long, t: String) => (id, t)
    // cross-batch near-dups by construction: 1~7 (parts 1 and 3) and
    // 3~5 (parts 2 and 3 via part 2's archive generation)
    val texts = Map(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "completely unrelated text about spark shuffle partitions",
      3L -> "streaming compaction folds committed batch directories safely",
      4L -> "another unrelated document mentioning parquet footers",
      5L -> "streaming compaction folds committed batch directories safely",
      6L -> "yet more filler text with nothing shared across documents",
      7L -> "the quick brown fox jumps over the lazy dog again and again",
      8L -> "final unrelated row to pad the third micro batch")
    val parts = Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L, 6L, 7L, 8L))
      .map(_.map(id => mk(id, texts(id))))
    val input = MemoryStream[(Long, String)]
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ndcompact_spec").toString
    val q = StreamOps.neardupSink(
      input.toDF().toDF("doc_id", "text"),
      s"$dir/state", "doc_id", "text", s"$dir/ckpt")
    input.addData(parts(0)); q.processAllAvailable()
    input.addData(parts(1)); q.processAllAvailable()
    // maintenance window between triggers: fold both committed
    // generations of every state relation into a base generation
    Seq("pairs", "shingles", "bands").foreach { rel =>
      assert(StreamOps.compactIndex(spark, s"$dir/state/$rel",
        s"$dir/ckpt") == Some(-1L), s"$rel did not compact")
    }
    input.addData(parts(2)); q.processAllAvailable()
    q.stop()
    def pairSet() = spark.read.parquet(s"$dir/state/pairs")
      .select(least($"id_a", $"id_b"), greatest($"id_a", $"id_b"), $"jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val got = pairSet()
    val ref = graft.operators.Dedup.minhashNearDups(
        texts.toSeq.toDF("doc_id", "text"), "doc_id", "text", 0.6)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map(t => (math.min(t._1, t._2), math.max(t._1, t._2), t._3)).toSet
    assert(got.map(p => (p._1, p._2)).contains((1L, 7L)),
      "the cross-compaction pair (1,7) must band against the BASE generation")
    assert(got == ref,
      s"post-compaction accumulation diverged: extra=${got diff ref} " +
        s"missing=${ref diff got}")
    // replaying the last batch AFTER compaction: the archive read is
    // base(-1) + its own excluded generation — state stays identical
    val shinglesN = spark.read.parquet(s"$dir/state/shingles").count()
    StreamOps.neardupBatch(parts(2).toDF("doc_id", "text"), bid = 2L,
      s"$dir/state", "doc_id", "text",
      threshold = 0.6, k = 32, bands = 8, shingleN = 3)
    assert(pairSet() == got, "replay after compaction changed the pairs")
    assert(spark.read.parquet(s"$dir/state/shingles").count() == shinglesN)
  }

  test("curationSink: accumulated survivors equal the batch device; replay idempotent") {
    implicit val sc = spark.sqlContext
    import graft.operators.{Dedup, Similarity, Tagging}
    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog data again",
      2L -> "completely unrelated text about spark shuffle partitions",
      3L -> "streaming compaction folds committed batch directories safely",
      4L -> "the quick brown fox jumps over the lazy dog data again", // exact dup of 1
      5L -> "streaming compaction folds committed batch directories owly", // near dup of 3
      6L -> "yet more filler text with nothing shared across documents data")
    val docs = texts.toDF("doc_id", "text")
    // embeddings keyed by doc_id (deterministic synthetic vectors)
    val emb = docs.select(col("doc_id"),
      array((0 until 8).map(d =>
        (sin(col("doc_id") * (d + 1)) * 0.5f).cast("float")): _*).as("vec"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_curation_spec").toString
    Similarity.initSq8Scales(emb, "vec", s"$dir/state/sq8")
    val parts = Seq(Seq(0, 1), Seq(2, 3), Seq(4, 5)).map(_.map(texts))
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.curationSink(input.toDF().toDF("doc_id", "text"),
      emb, s"$dir/state", "doc_id", "text", "vec",
      patterns = Seq("data", "owly"), token = "[X]",
      checkpointDir = s"$dir/ckpt")
    parts.foreach { p => input.addData(p); q.processAllAvailable() }
    q.stop()
    def curated() = spark.read.parquet(s"$dir/state/curated")
      .select("doc_id", "redacted", "n_redactions")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    val got = curated()
    // batch device: fp keep-first (4 drops as 1's exact dup) and the
    // exact near-dup gate (5 drops as 3's near dup: jaccard >= 0.6)
    val exactPairs = Dedup.minhashNearDups(docs, "doc_id", "text", 0.6)
    assert(exactPairs.count() >= 1, "fixture needs a near-dup pair")
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 6L),
      s"survivors diverge from the batch device: ${got.map(_._1)}")
    // redaction applied (docs 1 and 6 contain 'data')
    val byId = got.map(g => g._1 -> g).toMap
    assert(byId(1L)._2.contains("[X]") && byId(1L)._3 == 1L)
    assert(byId(6L)._3 == 1L)
    assert(byId(2L)._3 == 0L)
    // codes exist for every survivor, none for dropped docs, and the
    // code_sum replays the quantization under the frozen scales
    val codes = spark.read.parquet(s"$dir/state/sq8/codes")
      .select("doc_id", "code_sum").as[(Long, Long)].collect().toMap
    assert(codes.keySet == Set(1L, 2L, 3L, 6L))
    val scales = Similarity.readSq8Scales(spark, s"$dir/state/sq8")
    val want = emb.filter(col("doc_id").isin(1L, 2L, 3L, 6L))
      .select(col("doc_id"), aggregate(
        Similarity.sq8Quantize(col("vec"), scales), lit(0L), (a, x) => a + x)
        .as("s")).as[(Long, Long)].collect().toMap
    assert(codes == want)
    // at-least-once retry of the LAST committed batch: byte-identical
    def snap() = (curated(),
      spark.read.parquet(s"$dir/state/fp").count(),
      spark.read.parquet(s"$dir/state/shingles").count(),
      spark.read.parquet(s"$dir/state/sq8/codes").count())
    val before = snap()
    StreamOps.curateBatch(parts(2).toDF("doc_id", "text"), bid = 2L,
      emb, s"$dir/state", "doc_id", "text", "vec",
      Seq("data", "owly"), "[X]", 0.6, 32, 8, 3, scales)
    assert(snap() == before, "replaying a committed batch changed the state")
  }

  test("dedupStream drops within-watermark duplicates across batches") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    // event_id is the dedup key; id 1 arrives three times across two
    // batches, id 2 twice in one batch
    input.addData(Seq(ev(1, 1000, 1), ev(1, 1001, 1), ev(2, 1002, 2)))
    val q = StreamOps.dedupStream(input.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    input.addData(Seq(ev(1, 1005, 1), ev(2, 1006, 2), ev(3, 1007, 3)))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("deduped").as[Event].collect()
    assert(out.map(_.event_id).sorted.toSeq == Seq(1L, 2L, 3L),
      s"expected one row per id, got ${out.toSeq.sortBy(_.event_id)}")
  }

  test("enrichStream attaches static dimension rows per micro-batch") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val q = StreamOps.enrichStream(input.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    input.addData(Seq(ev(1, 100, 1), ev(2, 200, 2), ev(3, 300, 7)))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("enriched")
      .select("event_id", "tier").as[(Long, Option[String])]
      .collect().toMap
    assert(out == Map(1L -> Some("gold"), 2L -> Some("silver"), 3L -> None))
  }

  test("mixStream keeps exactly the batch gate's rows on a stream") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val events = (1L to 200L).map(i => ev(i, 100 + i, i % 5))
    input.addData(events)
    val rates = Map("click" -> 8)
    val q = StreamOps.mixStream(input.toDF(), col("event_id"),
        col("event_type"), rates)
      .writeStream.format("memory").queryName("mixed")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("mixed").as[Event].collect().map(_.event_id).toSet
    val batch = graft.operators.Mixing.domainMix(events.toDF(),
        col("event_id"), col("event_type"), rates)
      .as[Event].collect().map(_.event_id).toSet
    assert(streamed == batch && streamed.nonEmpty && streamed.size < 200)
  }

  test("sessionize closes sessions on gap and on timeout") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    // user 1: two sessions separated by > 30 min; user 2: one session
    // (times start at 1000s — a ts equal to the initial watermark of 0
    // is dropped by the strict late-row filter)
    input.addData(Seq(ev(1, 1000, 1), ev(2, 1060, 1), ev(3, 5000, 1), ev(4, 1010, 2)))
    val q = StreamOps.sessionize(spark, input.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    input.addData(Seq(ev(9, 100000, 3)))  // watermark push
    q.processAllAvailable()
    input.addData(Seq(ev(10, 200000, 3))) // second push times out stragglers
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sessions").as[Session].collect()
    info(s"sessions emitted: ${out.toSeq.sortBy(s => (s.user_id, s.session_start.getTime))}")
    val u1 = out.filter(_.user_id == 1).sortBy(_.session_start.getTime)
    assert(u1.length == 2)
    assert(u1(0).n_events == 2 && u1(1).n_events == 1)
    assert(out.count(_.user_id == 2) == 1)
  }

  test("sessionize: stream output equals Funnel.sessionize on real events") {
    implicit val sc = spark.sqlContext
    // the whole sf0.001 events table through the stateful stream; one
    // sentinel event per user far past every real session closes the
    // trailing sessions by ARRIVAL (their own sentinel sessions stay
    // open and unemitted, filtered by start time below)
    val real = Tables(spark, sfDir).events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[Event].collect().toSeq
    val sentinelTs = new Timestamp(real.map(_.ts.getTime).max + 3L * 3600 * 1000)
    val sentinels = real.map(_.user_id).distinct
      .map(u => Event(-u, sentinelTs, u, "sentinel", 0.0))
    val input = MemoryStream[Event]
    input.addData(real)
    val q = StreamOps.sessionize(spark, input.toDS())
      .writeStream.format("memory").queryName("agree_sessions")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    input.addData(sentinels)
    q.processAllAvailable()
    q.stop()
    def us(t: Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val streamed = spark.table("agree_sessions").as[Session].collect()
      .filter(_.session_start.before(sentinelTs))
      .map(s => (s.user_id, us(s.session_start), us(s.session_end),
        s.n_events.toLong))
      .sorted.toSeq
    val batch = graft.operators.Funnel.sessionize(Tables(spark, sfDir).events,
        col("user_id"), col("ts"), col("event_id"), gapSec = 1800L)
      .select(col("user"), col("start_us"), col("end_us"), col("n_events"))
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("intervalJoin matches a sequential double loop on boundary-heavy data") {
    implicit val sc = spark.sqlContext
    // anchors and events with offsets clustered at ±window edges —
    // both inclusive bounds must match an independent O(n²) reference
    val winSec = 60L
    val winUs = winSec * 1000000L
    val rnd = new scala.util.Random(8L)
    val base = 1000000000L
    val anchors = (1 to 120).map(i =>
      (1000L + i, (i % 7).toLong, base + rnd.nextInt(40) * 30000000L))
    val eventsR = (1 to 300).map { i =>
      val a = anchors(rnd.nextInt(anchors.length))
      val off = rnd.nextInt(5) match {
        case 0 => -winUs - 1
        case 1 => -winUs
        case 2 => 0L
        case 3 => 1L
        case _ => -rnd.nextInt(winUs.toInt).toLong
      }
      (5000L + i, a._2, a._3 + off)
    }
    val aDf = anchors.toDF("aid", "ak", "aus")
      .withColumn("ats", timestamp_micros(col("aus")))
      .drop("aus")
    val eDf = eventsR.toDF("eid", "ek", "eus")
      .withColumn("ets", timestamp_micros(col("eus")))
      .drop("eus")
    val aStream = MemoryStream[(Long, Long, Long)]
    val eStream = MemoryStream[(Long, Long, Long)]
    aStream.addData(anchors)
    eStream.addData(eventsR)
    def shape(s: MemoryStream[(Long, Long, Long)], id: String, k: String,
              ts: String) =
      s.toDF().select(col("_1").as(id), col("_2").as(k),
        timestamp_micros(col("_3")).as(ts))
    val q = StreamOps.intervalJoin(
        shape(aStream, "aid", "ak", "ats"), shape(eStream, "eid", "ek", "ets"),
        "ak", "ek", "ats", "ets", winSec)
      .select(col("aid"), col("eid"))
      .writeStream.format("memory").queryName("interval_rand")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("interval_rand").as[(Long, Long)].collect().sorted.toSeq
    val want = (for {
      a <- anchors; e <- eventsR
      if a._2 == e._2 && e._3 >= a._3 - winUs && e._3 <= a._3
    } yield (a._1, e._1)).sorted
    assert(got.nonEmpty && got == want)
  }

  test("intervalJoin: stream output equals the batch inequality join") {
    implicit val sc = spark.sqlContext
    val ev = Tables(spark, sfDir).events
    val input = MemoryStream[Event]
    input.addData(ev.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value")).as[Event].collect().toSeq)
    val anchors = input.toDF().filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("p_ts"))
    val events = input.toDF().filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("c_user"), col("ts").as("c_ts"))
    val q = StreamOps.intervalJoin(anchors, events,
        "p_user", "c_user", "p_ts", "c_ts", windowSec = 3600L)
      .select(col("purchase_id"), col("click_id"))
      .writeStream.format("memory").queryName("interval_pairs")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("interval_pairs")
      .as[(Long, Long)].collect().sorted.toSeq
    val batch = ev.as("p").filter(col("p.event_type") === "purchase")
      .join(ev.as("c"), col("c.event_type") === "click" &&
        col("c.user_id") === col("p.user_id") &&
        col("c.ts") >= col("p.ts") - expr("interval 1 hour") &&
        col("c.ts") <= col("p.ts"))
      .select(col("p.event_id"), col("c.event_id"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("upsertSink maintains an SCD-1 snapshot across micro-batches") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toFile
    val target = s"${dir.getAbsolutePath}/snapshot"
    val ckpt = s"${dir.getAbsolutePath}/ckpt"
    val input = MemoryStream[(Long, String, Long)]
    val updates = input.toDF().toDF("id", "name", "version")
    val q = StreamOps.upsertSink(updates, target, "id", "version", ckpt)
    // batch 1: two inserts (id=2 arrives twice — version 2 must win)
    input.addData(Seq((1L, "a", 1L), (2L, "b", 1L), (2L, "b2", 2L)))
    q.processAllAvailable()
    // batch 2: update id=1, insert id=3
    input.addData(Seq((1L, "a2", 3L), (3L, "c", 1L)))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(target).orderBy("id")
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((1L, "a2", 3L), (2L, "b2", 2L), (3L, "c", 1L)))
    // idempotence: re-applying the last batch is a fixed point
    StreamOps.upsertBatch(Seq((1L, "a2", 3L), (3L, "c", 1L)).toDF("id", "name", "version"),
      target, "id", "version")
    val again = spark.read.parquet(target).orderBy("id")
      .as[(Long, String, Long)].collect().toSeq
    assert(again == got)
  }

  test("scd2Sink maintains a versioned history across micro-batches") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2").toFile
    val target = s"${dir.getAbsolutePath}/history"
    val ckpt = s"${dir.getAbsolutePath}/ckpt"
    val input = MemoryStream[(Long, String, Long)]
    val updates = input.toDF().toDF("id", "name", "version")
    val q = StreamOps.scd2Sink(updates, target, "id", "version", ckpt)
    // batch 1 (asOf=2): id=1 and id=2 appear; id=2's version 2 wins
    input.addData(Seq((1L, "a", 1L), (2L, "b", 1L), (2L, "b2", 2L)))
    q.processAllAvailable()
    // batch 2 (asOf=4): id=1 changes (old row must CLOSE at 4),
    // id=3 inserts, id=2 is unobserved — partial semantics keep it open
    input.addData(Seq((1L, "a2", 4L), (3L, "c", 3L)))
    q.processAllAvailable()
    q.stop()
    def rows = spark.read.parquet(target)
      .orderBy("id", "valid_from")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4))).toSeq
    val got = rows
    assert(got == Seq(
      (1L, "a", 1L, 2L, 4L),    // closed when the value changed
      (1L, "a2", 4L, 4L, -1L),  // new open row
      (2L, "b2", 2L, 2L, -1L),  // unobserved in batch 2: still open
      (3L, "c", 3L, 4L, -1L)))
    // agreement: the stream history equals sequential batch-mode
    // partial applies over the same splits
    val b1 = Seq((1L, "a", 1L), (2L, "b2", 2L)).toDF("id", "name", "version")
      .withColumn("valid_from", lit(2L))
      .withColumn("valid_to", lit(null).cast("long"))
    val b2 = Seq((1L, "a2", 4L), (3L, "c", 3L)).toDF("id", "name", "version")
    val seq2 = graft.operators.Upsert
      .scd2Apply(b1, b2, "id", asOf = 4L, closeMissing = false)
      .orderBy("id", "valid_from")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4))).toSeq
    assert(seq2 == got)
    // idempotence: re-running the last batch against the history is a
    // fixed point (at-least-once delivery yields exactly-once effect)
    StreamOps.scd2Batch(
      Seq((1L, "a2", 4L), (3L, "c", 3L)).toDF("id", "name", "version"),
      target, "id", "version")
    assert(rows == got)
  }

  test("scd2Batch: stale per-key versions drop; late NEW keys clamp to the frontier") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2late").toFile
    val target = s"${dir.getAbsolutePath}/history"
    // history frontier at version 100
    StreamOps.scd2Batch(Seq((1L, "a", 100L)).toDF("id", "name", "version"),
      target, "id", "version")
    // out-of-order batch: id=1 @50 is OLDER than its open row (v=100)
    // — stale data must never become current, the row drops; id=2 @50
    // is genuinely new information and applies, its open row clamped
    // to the frontier so intervals stay in history order
    StreamOps.scd2Batch(
      Seq((1L, "b", 50L), (2L, "c", 50L)).toDF("id", "name", "version"),
      target, "id", "version")
    val rows = spark.read.parquet(target)
      .orderBy("id", "valid_from")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4))).toSeq
    assert(rows == Seq((1L, "a", 100L, -1L), (2L, "c", 100L, -1L)))
    rows.foreach { case (_, _, from, to) => assert(to == -1L || to >= from) }
    // an all-stale batch is a no-op that skips the write entirely
    val before = new java.io.File(target).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified()).toSeq
    StreamOps.scd2Batch(Seq((1L, "z", 99L)).toDF("id", "name", "version"),
      target, "id", "version")
    val after = new java.io.File(target).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified()).toSeq
    assert(after == before, "all-stale batch must not rewrite the history")
  }

  test("scd2Batch(historyBuckets): only touched buckets rewrite; untouched files byte-identical") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2bkt").toFile
    val target = s"${dir.getAbsolutePath}/history"
    val n = 8
    // seed 64 keys across the 8 buckets
    StreamOps.scd2Batch(
      (1L to 64L).map(k => (k, s"v$k", 1L)).toDF("id", "name", "version"),
      target, "id", "version", historyBuckets = Some(n))
    val bucketDirs = new java.io.File(target).listFiles()
      .filter(_.getName.startsWith("__b=")).map(_.getName).sorted.toSeq
    assert(bucketDirs.nonEmpty && bucketDirs.size <= n)
    def bucketBytes(b: String): Map[String, Seq[Byte]] =
      new java.io.File(target, b).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName ->
          java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    val before = bucketDirs.map(b => b -> bucketBytes(b)).toMap
    // one key updates: exactly its bucket is touched
    val touchedB = spark.range(1).select(
      pmod(hash(lit(7L)), lit(n))).head().getInt(0)
    StreamOps.scd2Batch(Seq((7L, "v7b", 2L)).toDF("id", "name", "version"),
      target, "id", "version", historyBuckets = Some(n))
    bucketDirs.filterNot(_ == s"__b=$touchedB").foreach { b =>
      assert(bucketBytes(b) == before(b),
        s"untouched bucket $b was rewritten")
    }
    // the touched bucket now carries the closed + new open rows
    val k7 = spark.read.parquet(target).filter(col("id") === 7L)
      .orderBy("valid_from")
      .collect().map(r => (r.getString(1), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSeq
    assert(k7 == Seq(("v7", 1L, 2L), ("v7b", 2L, -1L)))
    // every other key's current value is intact
    assert(spark.read.parquet(target)
      .filter(col("valid_to").isNull).count() == 64L)
    // layout-mismatch guards are targeted errors
    val e1 = intercept[IllegalArgumentException] {
      StreamOps.scd2Batch(Seq((1L, "x", 9L)).toDF("id", "name", "version"),
        target, "id", "version")
    }
    assert(e1.getMessage.contains("bucket-partitioned"))
  }

  test("scd2Batch(historyBuckets): late NEW key in an untouched bucket clamps to the GLOBAL frontier") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2gf").toFile
    val target = s"${dir.getAbsolutePath}/history"
    val n = 8
    def b(k: Long): Int =
      spark.range(1).select(pmod(hash(lit(k)), lit(n))).head().getInt(0)
    // a key hashing to a DIFFERENT bucket than key 1's: the late
    // batch below touches only that bucket, whose slice knows
    // nothing of the version-100 frontier — the sidecar must supply
    // it or the bucketed layout diverges from the flat one
    val k2 = (2L to 64L).find(k => b(k) != b(1L)).get
    StreamOps.scd2Batch(Seq((1L, "a", 100L)).toDF("id", "name", "version"),
      target, "id", "version", historyBuckets = Some(n))
    StreamOps.scd2Batch(Seq((k2, "c", 50L)).toDF("id", "name", "version"),
      target, "id", "version", historyBuckets = Some(n))
    val rows = spark.read.parquet(target)
      .orderBy("id", "valid_from")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSeq
    // flat-layout equivalence: the new key opens at valid_from = 100
    // (the global frontier), exactly as the flat layout would place it
    assert(rows == Seq((1L, "a", 100L, -1L), (k2, "c", 100L, -1L)))
  }

  test("last-wins collapse is deterministic under duplicate (key, version) rows") {
    import spark.implicits._
    // contract violation: same key+version, different payloads — the
    // collapse must still pick the SAME winner on every delivery
    // (payload-desc tie-break), or retries break the fixed point
    val rowsA = Seq((1L, "x", 5L), (1L, "y", 5L), (1L, "z", 5L))
    def apply(rows: Seq[(Long, String, Long)]): Seq[(Long, String, Long)] = {
      val dir = java.nio.file.Files.createTempDirectory("graft_ties").toFile
      val t = s"${dir.getAbsolutePath}/snap"
      StreamOps.upsertBatch(rows.toDF("id", "name", "version"), t, "id", "version")
      spark.read.parquet(t).as[(Long, String, Long)].collect().toSeq
    }
    val winners = Seq(rowsA, rowsA.reverse, rowsA.sortBy(_._2)).map(apply)
    assert(winners.distinct.size == 1)
    assert(winners.head == Seq((1L, "z", 5L))) // payload desc: "z" wins
  }

  test("sq8CodesSink: streamed code table is bit-identical to the batch build; replay is idempotent") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val idx = java.nio.file.Files.createTempDirectory("sq8stream").toString + "/idx"
    // planning pass freezes the scales; two "micro-batches" ingested
    // through the per-trigger fold directly (the sink is a thin
    // foreachBatch wrapper around it)
    Similarity.initSq8Scales(emb, "embedding", idx)
    val scales = Similarity.readSq8Scales(spark, idx)
    val b1 = emb.filter(col("vec_id") % 2 === 0)
    val b2 = emb.filter(col("vec_id") % 2 === 1)
    StreamOps.sq8IngestBatch(b1, 0L, idx, "vec_id", "embedding", scales)
    StreamOps.sq8IngestBatch(b2, 1L, idx, "vec_id", "embedding", scales)
    def table(): Map[Long, Seq[Byte]] =
      spark.read.parquet(s"$idx/codes")
        .select("vec_id", "codes")
        .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val streamed = table()
    // bit-identity with a batch build (same corpus -> same scales)
    val bdir = java.nio.file.Files.createTempDirectory("sq8batchref").toString + "/idx"
    Similarity.buildSq8Index(emb, "vec_id", "embedding", bdir)
    val batch = spark.read.parquet(s"$bdir/codes")
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(streamed == batch)
    // an at-least-once REPLAY of a committed trigger overwrites its
    // own directory and leaves the table byte-identical
    StreamOps.sq8IngestBatch(b2, 1L, idx, "vec_id", "embedding", scales)
    assert(table() == streamed, "replaying a committed batch changed the table")
    // the served ranking through the streamed table equals the
    // batch-index serve
    val got = Similarity.sq8TopKIndexed(spark, idx, "vec_id", 0L, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = Similarity.sq8TopKIndexed(spark, bdir, "vec_id", 0L, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want)
    // a batch outside the frozen scales is rejected loudly
    val hot = b1.limit(1).select(col("vec_id"),
      transform(col("embedding"), x => x * 1000.0f).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      StreamOps.sq8IngestBatch(hot, 2L, idx, "vec_id", "embedding", scales)
    }
    assert(e.getMessage.contains("codes would clip"))
  }

  test("semanticDedupBatch: streamed survivors equal the frozen batch device; cross-batch dup caught; replay idempotent; guards loud") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // exact clones under LATER ids — guaranteed cross-batch semantic
    // duplicates (same vector -> same cid, cosine 1.0)
    val clones = emb.filter(col("vec_id") % 8 === 0)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding"))
    val corpus = emb.unionByName(clones)
    val state = java.nio.file.Files
      .createTempDirectory("semstream").toString + "/state"
    Similarity.initSemanticCentroids(corpus, "vec_id", "embedding", 8, state)
    val mid = emb.agg(avg(col("vec_id"))).head().getDouble(0).toLong
    val b0 = emb.filter(col("vec_id") < mid)
    val b1 = emb.filter(col("vec_id") >= mid)
    val frozen = StreamOps.frozenCentroids(spark, state)
    StreamOps.semanticDedupBatch(b0, 0L, state, "vec_id", "embedding", 0.35, frozen)
    StreamOps.semanticDedupBatch(b1, 1L, state, "vec_id", "embedding", 0.35, frozen)
    StreamOps.semanticDedupBatch(clones, 2L, state, "vec_id", "embedding", 0.35, frozen)
    def kept(): Set[Long] = spark.read.parquet(s"$state/kept")
      .select("vec_id").as[Long].collect().toSet
    val streamed = kept()
    // the accumulated survivor set EQUALS the frozen-centroid batch
    // device over everything ingested
    val cents = Similarity.readCentroids(spark, state)
    val want = Similarity.semanticDedupFrozen(corpus, "vec_id", "embedding",
        0.35, cents)
      .select("vec_id").as[Long].collect().toSet
    assert(streamed == want,
      s"streamed != batch device: extra=${streamed -- want} missing=${want -- streamed}")
    // every clone arrived AFTER its original was archived: all caught
    assert(streamed.forall(_ < 1000000L),
      s"cross-batch clones survived: ${streamed.filter(_ >= 1000000L)}")
    // at-least-once replay of the committed last batch: state
    // content-identical (overwrite-own-generation)
    def sig(p: String): Map[String, Seq[String]] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).flatMap(walk).toSeq
        else Seq(f)
      walk(new java.io.File(p)).filter(_.getName.endsWith(".parquet"))
        .groupBy(_.getParentFile.getPath)
        .map { case (d, fs) =>
          d -> fs.map { f =>
            val md = java.security.MessageDigest.getInstance("MD5")
            md.digest(java.nio.file.Files.readAllBytes(f.toPath))
              .map("%02x".format(_)).mkString
          }.sorted.toSeq
        }
    }
    val before = sig(state)
    StreamOps.semanticDedupBatch(clones, 2L, state, "vec_id", "embedding", 0.35, frozen)
    assert(sig(state) == before, "replay changed streamed state content")
    assert(kept() == streamed)
    // a re-delivered id under a NEW generation is rejected loudly
    val eC = intercept[IllegalArgumentException](
      StreamOps.semanticDedupBatch(clones, 3L, state, "vec_id", "embedding",
        0.35, frozen))
    assert(eC.getMessage.contains("re-delivers"))
    // a stream without its planning pass is rejected loudly
    val none = java.nio.file.Files.createTempDirectory("semnone").toString + "/s"
    val eM = intercept[IllegalArgumentException](
      StreamOps.semanticDedupBatch(b0, 0L, none, "vec_id", "embedding", 0.35,
        StreamOps.frozenCentroids(spark, none)))
    assert(eM.getMessage.contains("initSemanticCentroids"))
  }

  test("sq8/binary/semantic-dedup/CDC sinks over a 2-file backlog accumulate the state of direct trigger calls") {
    import graft.operators.Similarity
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val now = Some(Trigger.AvailableNow())
    // one row per sink: input and id, the state relations compared, the
    // planning pass planting the frozen sidecar, the sink started at
    // (state, checkpoint), and one direct trigger call at state
    case class Sink(name: String, input: DataFrame, id: String, rels: Seq[String],
                    plant: String => Unit,
                    start: (DataFrame, String, String) => StreamingQuery,
                    trigger: (DataFrame, Long, String) => Unit)
    val sinks = Seq(
      Sink("sq8CodesSink", emb, "vec_id", Seq("codes"),
        Similarity.initSq8Scales(emb, "embedding", _),
        StreamOps.sq8CodesSink(_, _, "vec_id", "embedding", _, now),
        (b, bid, st) => StreamOps.sq8IngestBatch(b, bid, st, "vec_id", "embedding",
          Similarity.readSq8Scales(spark, st))),
      Sink("binCodesSink", emb, "vec_id", Seq("codes"),
        Similarity.initBinThresholds(emb, "embedding", _),
        StreamOps.binCodesSink(_, _, "vec_id", "embedding", _, now),
        (b, bid, st) => StreamOps.binIngestBatch(b, bid, st, "vec_id", "embedding",
          Similarity.readBinThresholds(spark, st))),
      Sink("semanticDedupSink", emb, "vec_id", Seq("vecs", "kept"),
        Similarity.initSemanticCentroids(emb, "vec_id", "embedding", 8, _),
        StreamOps.semanticDedupSink(_, _, "vec_id", "embedding", _, now),
        (b, bid, st) => StreamOps.semanticDedupBatch(b, bid, st, "vec_id", "embedding",
          0.35, StreamOps.frozenCentroids(spark, st))),
      Sink("cdcSegmentsSink", docs, "doc_id", Seq("clean", "chunks"), _ => (),
        StreamOps.cdcSegmentsSink(_, _, "doc_id", "text", _, now),
        (b, bid, st) => StreamOps.cdcSegmentsBatch(b, bid, st, "doc_id", "text", 32)))
    sinks.foreach { k =>
      val root = java.nio.file.Files.createTempDirectory(s"sink_${k.name}").toString
      val mid = k.input.agg(avg(col(k.id))).head().getDouble(0)
      val batches = Seq(k.input.filter(col(k.id) < mid), k.input.filter(col(k.id) >= mid))
      graft.registry.Support.landFiles(s"$root/src",
        batches.zipWithIndex.map { case (b, i) => s"b${i + 1}" -> b }: _*)
      // one planted sidecar, copied: both sides code under the same one
      new java.io.File(s"$root/streamed").mkdirs()
      k.plant(s"$root/streamed")
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"$root/streamed"), new java.io.File(s"$root/direct"))
      k.start(spark.readStream.schema(k.input.schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$root/src"), s"$root/streamed", s"$root/ckpt").awaitTermination()
      batches.zipWithIndex.foreach { case (b, bid) => k.trigger(b, bid.toLong, s"$root/direct") }
      k.rels.foreach { rel =>
        def rows(side: String) = spark.read.parquet(s"$root/$side/$rel").collect()
          .map(_.toSeq.map { case a: Array[Byte] => a.toSeq; case v => v }).toSet
        val streamed = rows("streamed")
        assert(streamed.nonEmpty && streamed == rows("direct"),
          s"${k.name}: streamed $rel differs from direct trigger calls")
      }
    }
  }

  test("binCodesSink: streamed code table is bit-identical to the batch build; replay idempotent; dim mismatch loud") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val idx = java.nio.file.Files.createTempDirectory("binstream").toString + "/idx"
    Similarity.initBinThresholds(emb, "embedding", idx)
    val thr = Similarity.readBinThresholds(spark, idx)
    val b1 = emb.filter(col("vec_id") % 2 === 0)
    val b2 = emb.filter(col("vec_id") % 2 === 1)
    StreamOps.binIngestBatch(b1, 0L, idx, "vec_id", "embedding", thr)
    StreamOps.binIngestBatch(b2, 1L, idx, "vec_id", "embedding", thr)
    def table(): Map[Long, Seq[Long]] =
      spark.read.parquet(s"$idx/codes")
        .select("vec_id", "code")
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val streamed = table()
    val bdir = java.nio.file.Files.createTempDirectory("binbatchref").toString + "/idx"
    Similarity.buildBinaryIndex(emb, "vec_id", "embedding", bdir)
    val batch = spark.read.parquet(s"$bdir/codes")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(streamed == batch)
    // replaying a committed trigger overwrites its own directory only
    StreamOps.binIngestBatch(b2, 1L, idx, "vec_id", "embedding", thr)
    assert(table() == streamed, "replaying a committed batch changed the table")
    // the served two-stage ranking through the streamed table equals
    // the batch-index serve
    val got = Similarity.binaryTopKIndexed(spark, idx, emb, "vec_id",
        "embedding", 0L, 10, 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val want = Similarity.binaryTopKIndexed(spark, bdir, emb, "vec_id",
        "embedding", 0L, 10, 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got == want)
    // a batch from a different embedding space is rejected loudly
    val narrow = b1.limit(1).select(col("vec_id"),
      slice(col("embedding"), 1, 8).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      StreamOps.binIngestBatch(narrow, 2L, idx, "vec_id", "embedding", thr)
    }
    assert(e.getMessage.contains("not the same embedding space"))
  }

  test("withStatePartitions: scoped width, error-safe restore, loud guard") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val inside = StreamOps.withStatePartitions(spark, 5) {
      spark.conf.get(key)
    }
    assert(inside == "5")
    assert(spark.conf.get(key) == before, "width not restored")
    // restore happens even when the body throws
    intercept[RuntimeException](
      StreamOps.withStatePartitions(spark, 3) {
        throw new RuntimeException("boom")
      })
    assert(spark.conf.get(key) == before, "width not restored after throw")
    intercept[IllegalArgumentException](
      StreamOps.withStatePartitions(spark, 0)(()))
  }

  test("withTriggerWidth: width = input-split count, clamped to the session width") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    def widthFor(parts: Int): Int = {
      val batch = spark.range(0, 1000, 1, parts).toDF("id")
      StreamOps.withTriggerWidth(batch)(spark.conf.get(key).toInt)
    }
    // tiny batch: one split -> width 1 (the near-empty-task fix)
    assert(widthFor(1) == 1)
    // mid batch (under the session width): width tracks the split
    // count exactly
    val session = before.toInt
    val mid = math.max(1, session / 2)
    assert(widthFor(mid) == mid)
    // wide batch (more splits than the session width): CLAMPED to the
    // session width — a 100 TB trigger keeps the session's shuffle
    // width, it never explodes past it
    assert(widthFor(session * 2) == session,
      s"wide batch must clamp to the session width $session")
    assert(spark.conf.get(key) == before, "width not restored")
  }
}
