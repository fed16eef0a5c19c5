package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated name prefixes — dump only
    // matching queries (local iteration; the driver passes 2 args)
    val only = args.drop(2).headOption.map(_.split(',').toSeq)
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // identical engine posture to Bench via the shared Sessions.tuned
    // defaults — correctness is measured under the exact configuration
    // the bench times (see Sessions for the per-flag rationale)
    val spark = Sessions.tuned(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the per-query release loop unpersists locally-checkpointed RDDs
    // on purpose; silence RDD.unpersist's per-block lineage warning
    // (see Bench for rationale)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries that persist intermediates (dedup shingle relations)
      // must not pin the heap for the rest of the run
      Sessions.release(spark)
    }
    import graft.tools.Json.{str => q}
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Evidence for the `no_oracle` rows: every in-query invariant that
    // ran in this JVM, with pass/fail and the measured values, so a
    // CORRECTNESS consumer can distinguish "not expressible in DuckDB"
    // from "never verified". Check keys are `qNN/...`; resolve the
    // prefix to the full registered query name for joinability with
    // the per-query records.
    val qnames = SparkEntry.queries.keys.toSeq
    val inv = SparkEntry.invariantEvidence.map { case (key, passed, measured, err) =>
      val prefix = key.takeWhile(_ != '/')
      val qn = qnames.find(_.startsWith(prefix + "_")).getOrElse(prefix)
      s"""  {"query": ${q(qn)}, "check": ${q(key)}, "passed": $passed, """ +
        s""""measured": ${q(measured)}, "error": ${q(err)}}"""
    }
    Files.writeString(Paths.get(s"$outDir/invariants.json"),
      inv.mkString("[\n", ",\n", "\n]\n"))
    spark.stop()
  }
}
