package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The relation memo ([[Tables.resolved]]) does not keep a stopped
  * session alive. Stopping a session stops the JVM's one SparkContext —
  * the suite's shared one — so the scenario runs in a child JVM
  * ([[TablesMemoStopCheck]]) on this JVM's classpath and options; the
  * suite's own session is never touched.
  */
class TablesMemoSpec extends SparkSpec {

  test("a miss drops the memo entries of a stopped session; a hit does not look") {
    val opts = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Xms") ||
        a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++ opts ++
      Seq("-cp", sys.props("java.class.path"), "graft.TablesMemoStopCheck",
        s"$sfDir/region.parquet")
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream, "UTF-8").getLines().toList
    assert(p.waitFor(300, TimeUnit.SECONDS) && p.exitValue() == 0, out.takeRight(40).mkString("\n"))
    val verdict = out.filter(_.startsWith("[stopcheck]"))
    assert(verdict == Seq("[stopcheck] hit-after-stop=true evicted-after-miss=true"),
      out.takeRight(40).mkString("\n"))
  }
}

/** Child-JVM body of [[TablesMemoSpec]]: resolve `args(0)` in a
  * session, stop it, show the stopped session's entry still served on
  * a hit, resolve once from a new session (a miss), then show the
  * stopped session's entry gone — its next lookup is a miss that
  * re-resolves (or fails on the stopped context) instead of the
  * memoized relation.
  */
object TablesMemoStopCheck {
  def main(args: Array[String]): Unit = {
    val path = args(0)
    def session(): SparkSession = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val old = session()
    old.sparkContext.setLogLevel("ERROR")
    val memoized = Tables.resolved(old, path)
    old.stop()
    val hit = Tables.resolved(old, path) eq memoized
    val fresh = session()
    fresh.sparkContext.setLogLevel("ERROR")
    Tables.resolved(fresh, path).count()
    val evicted = scala.util.Try(Tables.resolved(old, path)).toOption.forall(_ ne memoized)
    println(s"[stopcheck] hit-after-stop=$hit evicted-after-miss=$evicted")
    fresh.stop()
  }
}
