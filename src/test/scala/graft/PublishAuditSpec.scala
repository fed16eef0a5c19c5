package graft

import org.scalatest.funsuite.AnyFunSuite

/** Persisted state has ONE publish path ([[graft.operators.Publish]]):
  * no main-source file may destroy a target before its replacement is
  * complete (`mode("overwrite")`, `SaveMode.Overwrite`) or hand-roll a
  * rename protocol. User-facing writers, whose contract is a plain
  * overwrite of a caller's path, the query registry's fixture-landing
  * support file and the Bench and Verify mains are allowlisted by
  * name. Appends likewise go through one helper,
  * [[graft.operators.Publish.append]]. This keeps the single mechanism
  * from forking again. The dedup family's shared steps — the eager
  * `materialized`, the exact Jaccard verify, the segment keep-first
  * and the prior-generation archive filter — are pinned to one
  * definition each the same way, as are the streaming family's replay
  * runner and centroid-sidecar resolve, the registry's scratch
  * directory rule and its shared oracle steps.
  */
class PublishAuditSpec extends AnyFunSuite {

  private val srcDir = new java.io.File("src/main/scala")

  private val allowed = Set("Publish.scala", "CsvIO.scala", "JsonlIO.scala",
    "OrcIO.scala", "Bucketing.scala", "FileManifest.scala", "Support.scala",
    "Bench.scala", "Verify.scala")

  private val Forbidden =
    """mode\("overwrite"\)|SaveMode\.Overwrite|\.rename\(|Files\.move\(|\.renameTo\(""".r

  private def scalaFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f) else Nil

  /** `file:line: text` of every main-source line outside `allowed`
    * that `pattern` matches.
    */
  private def offenders(pattern: scala.util.matching.Regex,
                        allowed: String => Boolean): Seq[String] = {
    val files = scalaFiles(srcDir)
    assert(files.exists(_.getName == "Publish.scala"), s"no sources under $srcDir")
    for {
      file <- files if !allowed(file.getName)
      (line, n) <- {
        val src = scala.io.Source.fromFile(file, "UTF-8")
        try src.getLines().toList.zipWithIndex finally src.close()
      }
      if pattern.findFirstIn(line).isDefined
    } yield s"${file.getPath}:${n + 1}: ${line.trim}"
  }

  test("no overwrite or hand-rolled rename outside the publish helper") {
    val bad = offenders(Forbidden, allowed)
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("no append outside the shared append helper") {
    val bad = offenders("""\.mode\("append"\)|SaveMode\.Append""".r, _ == "Publish.scala")
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("each shared step of the dedup family is written once") {
    def once(pattern: String, in: String => Boolean = _ => true): Unit = {
      val hits = offenders(java.util.regex.Pattern.quote(pattern).r, f => !in(f))
      assert(hits.size == 1, s"expected one `$pattern`:\n" + hits.mkString("\n"))
    }
    once("def materialized")
    once("""array_intersect(col("""", _ == "Dedup.scala")
    once("min(struct(col(", _ == "SegmentOps.scala")
    once("""col("batch") =!=""")
    // the streaming family: one replay runner, one centroid-sidecar
    // resolve, and StreamOps' guards only through the shared guard-row
    // helper
    once("awaitTermination()", _ == "StreamingQueries.scala")
    once("centroid sidecar at")
    val raised = offenders(java.util.regex.Pattern.quote("Publish.raise(").r,
      _ != "StreamOps.scala")
    assert(raised.isEmpty, raised.mkString("\n"))
  }

  test("each shared oracle step of the registry is written once") {
    // the DuckDB texts several oracles share are Support fragments that
    // each oracle composes; a step's defining text, and each shared
    // builder step, appears once under graft/registry
    val registry = new java.io.File(srcDir, "graft/registry").getPath
    Seq(
      "string_split(trim(regexp_replace(regexp_replace(", // document tokens
      "reach(id, lbl) AS (", // connected components
      "ln((nd - df + 0.5e0)", // BM25 idf
      "sum(q) OVER (PARTITION BY p)", // KG association score
      "CASE WHEN bs * nb.n > nb.tot * bn", // media hash bits
      "md5('jl_7_'", // JL sign matrix
      "list_filter(ms, x -> x.s >= cur)", // leftmost-longest redaction
      "lp0 AS (SELECT c", // Naive Bayes scores
      "count(DISTINCT doc_id) AS n_distinct", // column profile
      "count(*) AS c FROM tok GROUP BY 1", // unigram log-probs
      """as("ivf_recall_ok")""", // IVF recall envelope
      """agg(count(lit(1)).as("n_neardups"))""" // media near-dup counts
    ).foreach { text =>
      val hits = offenders(java.util.regex.Pattern.quote(text).r, _ => false)
        .filter(_.startsWith(registry))
      assert(hits.size == 1, s"expected one `$text` under $registry:\n" + hits.mkString("\n"))
    }
  }

  test("every registry row's scratch directory comes from one rule") {
    // Support.scratchDir: a row's earlier scratch is removed before its
    // next one is made, so repeated runs leave one directory per row
    val made = offenders(java.util.regex.Pattern.quote("createTempDirectory").r, _ => false)
      .filter(_.startsWith(new java.io.File(srcDir, "graft/registry").getPath))
    assert(made.size == 1 && made.head.contains("Support.scala"),
      "expected one `createTempDirectory`, in Support.scala:\n" + made.mkString("\n"))
  }
}
