package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.api.{ClientApi, GraphQl, KnowledgeGraph}

/** The compiled-class cache [[Sessions.tuned]] sizes holds the
  * knowledge-graph request path: once every request kind has run,
  * requests for other ids compile nothing. The cache is JVM-wide and
  * sized when the JVM first generates code, and the suite's shared
  * session is not built through [[Sessions.tuned]], so the scenario
  * runs in a child JVM ([[CodegenCacheCheck]]) on this JVM's classpath
  * and options (the [[TablesMemoSpec]] pattern).
  */
class CodegenCacheSpec extends SparkSpec {

  test("a second pass of the kg request kinds, other ids, compiles no class") {
    val opts = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Xms") ||
        a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++ opts ++
      Seq("-cp", sys.props("java.class.path"), "graft.CodegenCacheCheck", sfDir)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream, "UTF-8").getLines().toList
    assert(p.waitFor(600, TimeUnit.SECONDS) && p.exitValue() == 0, out.takeRight(40).mkString("\n"))
    val verdict = out.filter(_.startsWith("[codegen]"))
    assert(verdict.size == 1, out.takeRight(40).mkString("\n"))
    val Seq(first, second) = "\\d+".r.findAllIn(verdict.head).map(_.toInt).toSeq
    assert(first > 0, s"the first pass compiled nothing: ${verdict.head}")
    assert(second == 0, s"the second pass recompiled: ${verdict.head}")
  }
}

/** Child-JVM body of [[CodegenCacheSpec]]: over the corpus at
  * `args(0)`, run the kg-lookup request kinds — five GraphQL documents
  * with an `$id` variable, the ClientApi first-target chain and the
  * registry rows q153 and q165 — once with one set of ids and again
  * with another, each answer collected as JSON rows, and print how
  * many classes each pass compiled.
  */
object CodegenCacheCheck {
  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Sessions.tuned(SparkSession.builder().master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val index = java.nio.file.Files.createTempDirectory("graft_codegen_check")
    import KgLookupDocs.json
    def pass(ids: Map[String, String]): Long = {
      val c0 = compiled
      val kg = KnowledgeGraph(spark, dir, s"$index/kgidx")
      KgLookupDocs.all.foreach(d =>
        json(GraphQl.execute(kg, d.text, Map("id" -> ids(d.kind)))))
      json(ClientApi.getDrugFirstTarget(kg, Seq(ids("drug")).toDF("id")).orderBy("id"))
      Seq("q153_", "q165_").foreach(p => json(SparkEntry.queries(
        SparkEntry.queries.keys.filter(_.startsWith(p)).min)(spark, dir)))
      compiled - c0
    }
    val first = pass(Map("disease" -> "DIS_HOUSEHOLD", "target" -> "TGT_7", "drug" -> "DRG_3"))
    val second = pass(Map("disease" -> "DIS_BUILDING", "target" -> "TGT_11", "drug" -> "DRG_5"))
    println(s"[codegen] first-pass=$first second-pass=$second")
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(index.toFile)
  }
}
