package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import com.sun.management.GarbageCollectionNotificationInfo

import graft.Sessions

/** The benchmark process: set up a workload several times, run its
  * closed loop for a fixed window, then write `result.json` (op
  * latencies, set-up times, heap, per-layer numbers) for the launcher,
  * which checks the outputs and prints the metric line.
  *
  * Usage: Main <workload> <inDir> <outDir> <workDir> <seconds> <trace 0|1>
  *             <cpus> <setups>
  */
object Main {
  final case class Done(tag: String, key: String, ms: Double, rows: Long,
                        ok: Boolean, search: Boolean, error: String)

  def main(args: Array[String]): Unit = {
    val Array(name, inDir, outDir, workDir, secondsS, traceS, cpusS, setupsS) = args
    val seconds = secondsS.toDouble
    val cpus = cpusS.toInt
    val trace = new Trace(traceS == "1")
    val plan = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$inDir/plan.json"))
    val ctx = RunCtx(inDir, outDir, workDir, plan, trace)
    val workload: Workload = name match {
      case "kg-lookup" => new KgLookup(ctx)
      case "ingest" => new Ingest(ctx)
    }
    val os = ManagementFactory.getOperatingSystemMXBean
    val load0 = os.getSystemLoadAverage

    // ---- set-up, repeated on a fresh session and fresh artifact dirs --
    var spark: SparkSession = null
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionMs = mutable.ArrayBuffer.empty[Double]
    for (rep <- 0 until setupsS.toInt) {
      if (spark != null) { workload.teardown(); spark.stop() }
      val t0 = trace.nowMs
      spark = Sessions.tuned(SparkSession.builder()
          .master(s"local[$cpus]")
          .config("spark.sql.shuffle.partitions", cpus.toString)
          .config("spark.ui.enabled", "false")
          .config("spark.sql.session.timeZone", "UTC"))
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      sessionMs += trace.nowMs - t0
      workload.setup(spark, rep)
      setupS += (trace.nowMs - t0) / 1e3
    }
    val wu0 = trace.nowMs
    workload.warmUp()
    val warmUpS = (trace.nowMs - wu0) / 1e3
    val setupSpans = trace.spans.toVector

    // ---- timed window: one client, closed loop -------------------------
    // A traced run spends the first 40% of its window untraced, so the
    // tracing overhead is measured in the same process.
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Double = gcBeans.map(_.getCollectionTime.toDouble).sum
    // heap in use after each collection the JVM runs in the window;
    // heap_peak_mb is the largest. One full collection before the window
    // starts it from the live heap (set-up garbage gone); none is forced
    // inside it.
    val heapPeak = new HeapPeak
    System.gc()
    var rounds = 0
    val tracing = trace.on
    trace.on = false
    val done = mutable.ArrayBuffer.empty[Done]
    val layerRows = mutable.ArrayBuffer.empty[(Int, Map[String, Double])]
    heapPeak.armed = true
    val w0 = trace.nowMs
    val windowMs = seconds * 1000
    val tracedFrom = if (tracing) w0 + 0.4 * windowMs else Double.MaxValue
    var untracedOps = 0
    // the window closes at the first round boundary after `seconds`, and
    // not before the workload's minimum number of rounds
    def nextOp(): Option[Op] =
      if (trace.nowMs - w0 >= windowMs && workload.roundDone &&
          rounds >= workload.minRounds) None
      else workload.next()
    var op = nextOp()
    while (op.isDefined) {
      val o = op.get
      if (tracing && !trace.on && trace.nowMs >= tracedFrom) {
        trace.on = true
        trace.attach(spark)
        untracedOps = done.size
      }
      trace.opId = done.size
      val cg0 = if (trace.on) org.apache.spark.perfbench.SparkInternals.codegenTotals() else (0L, 0.0)
      val gc0 = gcMs
      val s = trace.nowMs
      val (rows, err) =
        try (o.run(), "")
        catch { case e: Throwable =>
          (0L, Option(e.getMessage).getOrElse(e.toString).linesIterator.take(1).mkString.take(300))
        }
      val e = trace.nowMs
      done += Done(o.tag, o.key, e - s, rows, err.isEmpty, o.search, err)
      if (trace.on) {
        trace.drain(spark)
        val cg1 = org.apache.spark.perfbench.SparkInternals.codegenTotals()
        layerRows += done.size - 1 -> Layers.account(trace, done.size - 1, s, e,
          o.search, cg1._1 - cg0._1, cg1._2 - cg0._2, gcMs - gc0)
      }
      if (workload.roundDone) rounds += 1
      op = nextOp()
    }
    val windowWallMs = trace.nowMs - w0
    heapPeak.armed = false
    // live heap once the window has closed: cached blocks and broadcasts
    // are released asynchronously, so the least of three full collections
    // 200 ms apart
    val liveMb = (1 to 3).map { _ =>
      Thread.sleep(200); System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    trace.on = false
    val extra = workload.finish(spark)
    val load1 = os.getSystemLoadAverage

    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = json.createObjectNode()
    root.put("workload", name)
    root.put("window_ms", windowWallMs)
    root.put("window_start_ms", w0)
    root.put("heap_peak_mb", heapPeak.peakMb)
    root.put("heap_live_mb", liveMb)
    root.put("window_gcs", heapPeak.count)
    root.put("load_start", load0); root.put("load_end", load1)
    root.put("untraced_ops", if (tracing) untracedOps else done.size)
    val st = root.putArray("setup_s"); setupS.foreach(st.add(_))
    root.put("warmup_s", warmUpS)
    val sm = root.putArray("session_ms"); sessionMs.foreach(sm.add(_))
    val ops = root.putArray("ops")
    done.foreach { d =>
      val n = ops.addObject()
      n.put("tag", d.tag); n.put("key", d.key); n.put("ms", d.ms)
      n.put("rows", d.rows); n.put("ok", d.ok)
      n.put("search", d.search); if (!d.ok) n.put("error", d.error)
    }
    val ex = root.putObject("extra")
    extra.foreach { case (k, v) => ex.put(k, v) }
    if (tracing) {
      val lr = root.putArray("layers")
      layerRows.foreach { case (i, m) =>
        val n = lr.addObject(); n.put("op", i)
        m.foreach { case (k, v) => n.put(k, v) }
      }
      val sp = root.putObject("setup_layers")
      Layers.setup(setupSpans, sessionMs.toSeq).foreach { case (k, v) => sp.put(k, v) }
      Workload.writeLines(s"$outDir/spans.jsonl", trace.spans.map { s =>
        json.writeValueAsString(json.createObjectNode()
          .put("name", s.name).put("start", s.start).put("end", s.end)
          .put("parent", s.parent).put("op", s.op))
      })
    }
    json.writeValue(new java.io.File(s"$outDir/result.json"), root)
    workload.teardown()
    spark.stop()
  }
}

/** Heap in use after every garbage collection while `armed`, from the
  * JVM's GC notifications; `peakMb` is the largest. Nothing is forced:
  * the collections are the ones the workload causes.
  */
final class HeapPeak extends NotificationListener {
  @volatile var armed = false
  private val peak = new AtomicLong(0L)
  private val gcs = new AtomicLong(0L)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case b: NotificationEmitter => b.addNotificationListener(this, null, null)
    case _ =>
  }

  def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(used, math.max(_, _))
      gcs.incrementAndGet()
    }

  def peakMb: Double = peak.get / 1048576.0
  def count: Long = gcs.get
}
