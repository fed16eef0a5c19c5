package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Pre-execution plans of registry rows, normalised so that two runs
  * of one tree print the same text and a change's dump can be diffed
  * against its parent's row by row.
  *
  * Usage:
  *   Test/runMain graft.tools.DumpPlan <outDir> [prefix...]
  *     one `<outDir>/<row>.txt` per registry row whose name starts with
  *     a prefix (every row when none is given): the optimized logical
  *     plan and the physical plan as planned, before adaptive execution
  *     re-plans it — no broadcast side or stage id picked at run time.
  *     The corpus is `SPARK_GRAFT_SF_DIR` (default sf0.01).
  *   Test/runMain graft.tools.DumpPlan --compare <dirA> <dirB>
  *     one line per row: `same`, `DIFF` or the side it is missing from,
  *     then the counts.
  */
object DumpPlan {
  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("--compare", a, b) => compare(a, b)
    case out +: prefixes if !out.startsWith("--") => dump(out, prefixes)
    case _ => sys.error("usage: DumpPlan <outDir> [prefix...] | DumpPlan --compare <dirA> <dirB>")
  }

  private def dump(outDir: String, prefixes: Seq[String]): Unit = {
    // whole scan locations: the default cut at 100 characters falls at
    // a point that moves with the tmpdir's length
    val spark = graft.Sessions.tuned(SparkSession.builder().master("local[8]")
        .config("spark.sql.maxMetadataStringLength", Int.MaxValue.toString)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    Files.createDirectories(Paths.get(outDir))
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.isEmpty || prefixes.exists(n.startsWith) }
      .foreach { case (name, build) =>
        // a row that fails to build still gets its file, so a compare
        // shows the failure instead of a missing row
        val text = normalise(try plans(build(spark, dir)) catch {
          case e: Exception => s"== Build failed ==\n$e\n" })
        Files.write(Paths.get(outDir, s"$name.txt"), text.getBytes("UTF-8"))
        println(s"[dumpplan] $name -> $outDir/$name.txt")
        graft.Sessions.release(spark)
      }
    spark.stop()
  }

  /** The optimized logical plan and the pre-execution physical plan. */
  private def plans(df: DataFrame): String = {
    val qe = df.queryExecution
    val physical = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    s"== Optimized Logical Plan ==\n${qe.optimizedPlan}\n" +
      s"== Physical Plan ==\n$physical\n"
  }

  private val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toString

  /** The parts of a plan's text that change run to run but not with
    * the plan: expression and exchange ids, numbered `__` aliases,
    * source line numbers, and the per-corpus tags and random suffixes
    * of scratch and fixture paths under the tmpdir.
    */
  private def normalise(plan: String): String = Seq(
    """#\d+L?""" -> "#N",
    """plan_id=\d+""" -> "plan_id=N",
    """\.scala:\d+""" -> ".scala:N",
    """\b(__[A-Za-z_]*[A-Za-z_])\d+\b""" -> "$1N",
    (java.util.regex.Pattern.quote(tmp) + """/graft_([a-z0-9]+)_[0-9a-f]+""") -> "<tmp>/graft_$1_*",
    (java.util.regex.Pattern.quote(tmp) + """/([A-Za-z_]+)\d{6,}""") -> "<tmp>/$1*",
    java.util.regex.Pattern.quote(tmp) -> "<tmp>"
  ).foldLeft(plan) { case (s, (re, to)) => s.replaceAll(re, to) }

  private def compare(a: String, b: String): Unit = {
    def rows(d: String): Map[String, String] =
      Files.list(Paths.get(d)).iterator().asScala.map(_.toFile)
        .filter(_.getName.endsWith(".txt"))
        .map(f => f.getName.stripSuffix(".txt") -> new String(Files.readAllBytes(f.toPath), "UTF-8"))
        .toMap
    val (ra, rb) = (rows(a), rows(b))
    val verdicts = (ra.keySet ++ rb.keySet).toSeq.sorted.map { n =>
      val v = (ra.get(n), rb.get(n)) match {
        case (Some(x), Some(y)) => if (x == y) "same" else "DIFF"
        case (Some(_), None) => s"only in $a"
        case _ => s"only in $b"
      }
      println(s"[dumpplan] $n $v")
      v
    }
    println(s"[dumpplan] ${verdicts.count(_ == "same")} same, " +
      s"${verdicts.count(_ == "DIFF")} differ, ${verdicts.count(_.startsWith("only"))} on one side")
  }
}
