package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A client-side span around one public graft call. Times are epoch
  * milliseconds (fractional), the clock Spark's own events use.
  */
final case class Span(name: String, start: Double, end: Double,
                      parent: Int, op: Int)

/** Per-layer tracing for one benchmark process.
  *
  * Off (the default) it costs one branch per call site. On, it keeps
  * every span in memory and registers a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener whose events are
  * bucketed into ops by time window: the client is a single closed-loop
  * thread, so at most one op is in flight and every event inside an
  * op's window belongs to it.
  */
final class Trace(var on: Boolean) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var opId: Int = -1

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = spans.size
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = nowMs
      try body
      finally {
        spans(id) = Span(name, t0, nowMs, parent, opId)
        stack = stack.tail
      }
    }

  // ---- listener side ------------------------------------------------
  import Trace._

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val qes = new ConcurrentLinkedQueue[Qe]()
  val progress = new ConcurrentLinkedQueue[Progress]()

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, e.time.toDouble)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(s => jobs.add(Job(s, e.time.toDouble)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.add(Stage(
        i.completionTime.getOrElse(System.currentTimeMillis()).toDouble,
        i.numTasks, m.executorRunTime.toDouble,
        m.executorCpuTime / 1e6, m.jvmGCTime.toDouble,
        (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead).toDouble,
        m.shuffleWriteMetrics.bytesWritten.toDouble,
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
        m.inputMetrics.recordsRead.toDouble, m.inputMetrics.bytesRead.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val ti = e.taskInfo
      val m = e.taskMetrics
      val delay = if (m == null) 0.0 else math.max(0L,
        ti.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - ti.gettingResultTime).toDouble
      tasks.add(Task(ti.finishTime.toDouble, delay, ti.failed))
    }
  }

  private object qeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = qes.add(Qe(
      System.currentTimeMillis().toDouble,
      qe.tracker.phases.map { case (k, p) =>
        k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble) }))
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) progress.add(Progress(
        java.time.Instant.parse(e.progress.timestamp).toEpochMilli.toDouble,
        System.currentTimeMillis().toDouble,
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap))
  }

  /** Attach the listeners to the session. */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def drain(spark: SparkSession): Unit = if (on)
    org.apache.spark.perfbench.SparkInternals.drainListenerBus(spark.sparkContext)

  /** Remove and return the events that ended inside [from, to]. */
  def take[T](q: ConcurrentLinkedQueue[T], end: T => Double,
              from: Double, to: Double): Seq[T] = {
    val out = q.asScala.filter { x => val t = end(x); t >= from - 1 && t <= to + 1 }.toSeq
    out.foreach(q.remove)
    out
  }
}

object Trace {
  final case class Job(start: Double, end: Double)
  final case class Stage(end: Double, tasks: Int, runMs: Double,
                         cpuMs: Double, gcMs: Double, shRead: Double,
                         shWrite: Double, spill: Double, rowsIn: Double,
                         bytesIn: Double)
  final case class Task(end: Double, schedDelayMs: Double, failed: Boolean)
  final case class Qe(end: Double, phases: Map[String, (Double, Double)])
  final case class Progress(start: Double, end: Double, durations: Map[String, Double])

  /** Measure of the union of intervals, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (a, b) => total += b - a }
    total
  }

  /** Self time per layer over [lo, hi]: each instant goes to the first
    * layer (in the given priority order) active at that instant.
    */
  def selfTimes(layers: Seq[(String, Seq[(Double, Double)])],
                lo: Double, hi: Double): Map[String, Double] = {
    var covered = Seq.empty[(Double, Double)]
    layers.map { case (name, iv) =>
      val before = unionMs(covered, lo, hi)
      covered = covered ++ iv
      name -> (unionMs(covered, lo, hi) - before)
    }.toMap
  }
}
