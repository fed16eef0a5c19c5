package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables
import graft.operators.Similarity
import graft.streaming.StreamOps

/** `ingest`: writes beside reads. Three long-running streams, each fed
  * one micro-batch file per trigger by the client:
  *
  *  - documents through `StreamOps.neardupSink`,
  *  - embeddings through `StreamOps.sq8CodesSink` (scales frozen in
  *    set-up over the corpus),
  *  - orders-derived SCD-2 updates through `StreamOps.scd2Sink` with a
  *    bucketed history.
  *
  * An op is one commit round: for each sink in the round's seeded order,
  * land its next file and wait until the stream has committed it. The
  * three sinks differ several-fold in trigger cost, so a round, not a
  * single trigger, is the unit whose latency distribution is unimodal.
  * After each round the client runs seeded `Similarity.sq8TopKIndexed`
  * searches against what the last commit published. After the window
  * every state relation is folded with `StreamOps.compactIndex`.
  */
final class Ingest(ctx: RunCtx) extends Workload {
  import Ingest._

  private val plan = ctx.plan
  private val rounds: Vector[Seq[(String, String)]] =
    plan.get("ingest_rounds").elements().asScala.map(_.elements().asScala
      .map(t => (t.get(0).asText, t.get(1).asText)).toSeq).toVector
  private val searchDraws: Vector[Seq[Double]] =
    plan.get("ingest_searches").elements().asScala
      .map(_.elements().asScala.map(_.asDouble).toSeq).toVector
  private val embIds: Map[String, Array[Long]] =
    plan.get("ingest_emb_ids").properties().asScala
      .map(e => e.getKey -> e.getValue.elements().asScala.map(_.asLong).toArray).toMap
  private val fileRows: Map[String, Long] =
    plan.get("ingest_rows").properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap

  private var spark: SparkSession = _
  private var root: String = _
  private var queries: Map[String, StreamingQuery] = Map.empty
  private var cursor = 0
  private val pending = mutable.Queue.empty[Op]
  private val landed = mutable.ArrayBuffer.empty[(String, String)]
  /** each trigger's land-to-commit time, by sink */
  private val triggerMs = mutable.ArrayBuffer.empty[(String, Double)]
  private val ingestedIds = mutable.ArrayBuffer.empty[Long]
  private val searches = mutable.ArrayBuffer.empty[Search]
  private val layerNotes = mutable.ArrayBuffer.empty[Map[String, Double]]

  private def idx = s"$root/idx"
  private def state = s"$root/state"
  private def history = s"$root/history"
  private def ckpt(kind: String) = s"$root/ckpt/$kind"
  private def src(kind: String) = s"$root/src/$kind"

  override def teardown(): Unit = {
    queries.values.foreach(_.stop())
    queries = Map.empty
  }

  def setup(session: SparkSession, rep: Int): Unit = {
    spark = session
    root = s"${ctx.workDir}/ingest-$rep"
    cursor = 0
    landed.clear(); triggerMs.clear(); ingestedIds.clear(); searches.clear(); pending.clear()
    Kinds.foreach(k => new File(src(k)).mkdirs())
    val tr = ctx.trace
    tr.span("Similarity.initSq8Scales") {
      Similarity.initSq8Scales(Tables(spark, ctx.corpus(rep)).embeddings, "embedding", idx)
    }
    queries = tr.span("StreamOps.start") {
      def stream(kind: String) = spark.readStream.schema(Schemas(kind))
        .option("maxFilesPerTrigger", 1).parquet(src(kind))
      Map(
        "docs" -> StreamOps.neardupSink(stream("docs"), state, "doc_id", "text",
          ckpt("docs"), threshold = Threshold, shingleN = 3),
        "embs" -> StreamOps.sq8CodesSink(stream("embs"), idx, "vec_id",
          "embedding", ckpt("embs")),
        "orders" -> StreamOps.scd2Sink(stream("orders"), history, "id", "v",
          ckpt("orders"), historyBuckets = Some(8)))
    }
  }

  /** The schedule's first WarmRounds rounds, each with one search: the
    * first timed round is otherwise still measurably warming up.
    */
  def warmUp(): Unit = {
    (0 until WarmRounds).foreach { i =>
      commitRound(i)
      search(searchDraws(i).head)
    }
    cursor = WarmRounds
  }

  /** Land one file of every kind, each committed before the next lands. */
  private def commitRound(i: Int): Long = rounds(i).map { case (kind, file) =>
    val from = new File(s"${ctx.inDir}/ingest/$kind/$file")
    // land atomically: the file source skips names starting with '.'
    val tmp = new File(src(kind), s".$file")
    java.nio.file.Files.copy(from.toPath, tmp.toPath)
    java.nio.file.Files.move(tmp.toPath, new File(src(kind), file).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val t0 = System.nanoTime()
    queries(kind).processAllAvailable()
    triggerMs += kind -> (System.nanoTime() - t0) / 1e6
    landed += kind -> file
    if (kind == "embs") ingestedIds ++= embIds(file)
    fileRows(s"$kind/$file")
  }.sum

  private def search(u: Double): Long = {
    val q = ingestedIds((u * ingestedIds.size).toInt)
    val res = ctx.trace.span("Similarity.search") {
      Similarity.sq8TopKIndexed(spark, idx, "vec_id", q, K).collect()
    }
    val traced = ctx.trace.on
    searches += Search(q, landed.count(_._1 == "embs"),
      res.map(r => (r.getLong(0), r.getLong(1))).toSeq,
      if (traced) dirStats(s"$idx/codes")._2 else -1L,
      if (traced) ingestedIds.size.toLong else -1L)
    res.length.toLong
  }

  /** A round ends once its searches have run. */
  override def roundDone: Boolean = pending.isEmpty
  /** Rounds are few and slow; three give a median that one slow round
    * cannot move.
    */
  override def minRounds: Int = 3

  def next(): Option[Op] =
    if (pending.nonEmpty) Some(pending.dequeue())
    else if (cursor >= rounds.size) None
    else {
      val i = cursor
      cursor += 1
      searchDraws(i).foreach { u =>
        pending.enqueue(Op("search", f"$u%.6f", () => search(u), search = true))
      }
      Some(Op("round", s"round-$i", () => {
        val before = if (ctx.trace.on) Some(dirStats(root)) else None
        val n = commitRound(i)
        before.foreach { case (b0, f0) =>
          val (b1, f1) = dirStats(root)
          layerNotes += Map("op" -> i.toDouble, "bytes" -> (b1 - b0).toDouble,
            "files" -> (f1 - f0).toDouble, "landed" -> rounds(i).size.toDouble,
            "in_bytes" -> rounds(i).map { case (k, f) => new File(src(k), f).length }.sum.toDouble)
        }
        n
      }))
    }

  def finish(session: SparkSession): Map[String, Double] = {
    queries.values.foreach(_.processAllAvailable())
    teardown()
    val inBytes = landed.map { case (k, f) => new File(src(k), f).length }.sum.toDouble
    // ---- maintenance: fold every committed generation -----------------
    val folds = Seq(s"$idx/codes" -> ckpt("embs")) ++
      Seq("pairs", "shingles", "bands").map(r => s"$state/$r" -> ckpt("docs"))
    val before = folds.map { case (d, _) => dirStats(d) }
    val t0 = System.nanoTime()
    folds.foreach { case (d, c) => StreamOps.compactIndex(spark, d, c) }
    val foldMs = (System.nanoTime() - t0) / 1e6
    val after = folds.map { case (d, _) => dirStats(d) }
    val onDisk = Seq(idx, state, history).map(d => dirStats(d)._1).sum.toDouble

    // ---- checks (untimed) -----------------------------------------------
    val refIdx = s"$root/ref"
    val corpusEmb = Tables(spark, ctx.corpus(0)).embeddings
    Similarity.buildSq8Index(corpusEmb, "vec_id", "embedding", refIdx)
    val ref = spark.read.parquet(s"$refIdx/codes")
    val streamed = spark.read.parquet(s"$idx/codes").select("vec_id", "codes")
    val nStreamed = streamed.count()
    val nDistinct = streamed.select("vec_id").distinct().count()
    val codeMismatch = streamed.join(ref.withColumnRenamed("codes", "ref"), Seq("vec_id"), "left")
      .filter(col("ref").isNull || col("codes") =!= col("ref")).count()
    ref.write.mode("overwrite").parquet(s"${ctx.outDir}/sq8_ref")
    spark.read.parquet(s"$state/pairs").select("id_a", "id_b", "jaccard")
      .write.mode("overwrite").parquet(s"${ctx.outDir}/neardup_pairs")
    spark.read.parquet(history).select("id", "price", "v", "valid_from", "valid_to")
      .write.mode("overwrite").parquet(s"${ctx.outDir}/scd2_history")
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    Workload.writeLines(s"${ctx.outDir}/ingest_landed.jsonl", landed.map { case (k, f) =>
      m.writeValueAsString(m.createArrayNode().add(k).add(f)) })
    Workload.writeLines(s"${ctx.outDir}/searches.jsonl", searches.map { s =>
      val o = m.createObjectNode(); o.put("q", s.q); o.put("emb_files", s.embFiles)
      o.put("files", s.files); o.put("index_rows", s.indexRows)
      val a = o.putArray("res")
      s.res.foreach { case (id, sc) => a.addArray().add(id).add(sc) }
      m.writeValueAsString(o)
    })
    Workload.writeLines(s"${ctx.outDir}/trigger_io.jsonl", layerNotes.map { n =>
      val o = m.createObjectNode(); n.foreach { case (k, v) => o.put(k, v) }
      m.writeValueAsString(o)
    })
    Map(
      "sq8_rows" -> nStreamed.toDouble, "sq8_distinct_ids" -> nDistinct.toDouble,
      "sq8_expected_rows" -> ingestedIds.size.toDouble,
      "sq8_code_mismatch" -> codeMismatch.toDouble,
      "Compaction.fold_ms" -> foldMs,
      "Compaction.bytes_rewritten" -> after.map(_._1).sum.toDouble,
      "Compaction.files_before" -> before.map(_._2).sum.toDouble,
      "Compaction.files_after" -> after.map(_._2).sum.toDouble,
      "Compaction.space_amp" -> onDisk / math.max(1.0, inBytes),
      "input_bytes" -> inBytes) ++
      triggerMs.drop(WarmRounds * Kinds.size).groupBy(_._1).map { case (k, ts) =>
        s"trigger_ms.$k" -> ts.map(_._2).sum / ts.size }
  }
}

object Ingest {
  /** query id, emb files landed at search time, result (id, score), and
    * when tracing the index files and rows the search scanned (else -1)
    */
  final case class Search(q: Long, embFiles: Int, res: Seq[(Long, Long)],
                          files: Long, indexRows: Long)

  val Kinds = Seq("docs", "embs", "orders")
  val WarmRounds = 2
  val K = 10
  val Threshold = 0.6
  val Schemas: Map[String, org.apache.spark.sql.types.StructType] = Map(
    "docs" -> "doc_id BIGINT, text STRING",
    "embs" -> "vec_id BIGINT, embedding ARRAY<FLOAT>",
    "orders" -> "id BIGINT, price DOUBLE, v BIGINT"
  ).map { case (k, ddl) => k -> org.apache.spark.sql.types.StructType.fromDDL(ddl) }

  /** (bytes, data files) under a directory, metadata files excluded. */
  def dirStats(dir: String): (Long, Long) = {
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
    files.foldLeft((0L, 0L)) { case ((b, n), f) =>
      if (f.isDirectory) { val (b2, n2) = dirStats(f.getPath); (b + b2, n + n2) }
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) (b, n)
      else (b + f.length, n + 1)
    }
  }
}
