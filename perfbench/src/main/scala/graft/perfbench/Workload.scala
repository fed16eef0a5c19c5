package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_json}

/** One timed operation of a closed loop. `run` returns the rows it
  * produced (or ingested); `tag` groups ops that share a template.
  */
final case class Op(tag: String, key: String, run: () => Long,
                    search: Boolean = false)

/** A workload drives graft through its public entry points only.
  *
  * `setup` is called once per set-up repetition on a fresh session and
  * fresh artifact directories; it builds every artifact and index the
  * timed ops read, so no op pays a first-touch build. `warmUp` runs
  * once, after the last repetition, and runs every kind of op once so
  * the window starts warm. `next` yields ops until the seeded plan runs
  * out. `finish` runs after the timed window: it writes the outputs the
  * checker compares and returns the workload's own extra numbers.
  */
trait Workload {
  def setup(spark: SparkSession, rep: Int): Unit
  def warmUp(): Unit
  def next(): Option[Op]
  def finish(spark: SparkSession): Map[String, Double]
  /** True between rounds of the plan; the window only closes there. */
  def roundDone: Boolean = true
  /** Rounds the window holds at least: a median needs several samples. */
  def minRounds: Int = 2
  /** Stop whatever the last `setup` started, before its session stops. */
  def teardown(): Unit = ()
}

/** Paths and plan of one run, as laid out by the launcher. */
final case class RunCtx(inDir: String, outDir: String, workDir: String,
                        plan: com.fasterxml.jackson.databind.JsonNode, trace: Trace) {
  /** The corpus copy a set-up repetition reads (hard links, one
    * directory per repetition, so file-keyed artifacts never carry
    * over from one repetition to the next).
    */
  def corpus(rep: Int): String = s"$inDir/corpus-$rep"
}

object Workload {
  /** Collect a result as JSON text rows, the way `Graft.graphqlJson`
    * renders the GraphQL `data` object for a client.
    */
  def jsonRows(df: DataFrame): Array[String] =
    df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("j"))
      .collect().map(_.getString(0))

  def writeLines(path: String, lines: Iterable[String]): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}
