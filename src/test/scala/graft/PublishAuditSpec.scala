package graft

import org.scalatest.funsuite.AnyFunSuite

/** Persisted state has ONE publish path ([[graft.operators.Publish]]):
  * no main-source file may destroy a target before its replacement is
  * complete (`mode("overwrite")`, `SaveMode.Overwrite`) or hand-roll a
  * rename protocol. User-facing writers, whose contract is a plain
  * overwrite of a caller's path, the query registry's fixture-landing
  * support file and the Bench and Verify mains are allowlisted by
  * name. This keeps the single mechanism from forking again.
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

  test("no overwrite or hand-rolled rename outside the publish helper") {
    val files = scalaFiles(srcDir)
    assert(files.exists(_.getName == "Publish.scala"), s"no sources under $srcDir")
    val bad = for {
      file <- files if !allowed(file.getName)
      (line, n) <- {
        val src = scala.io.Source.fromFile(file, "UTF-8")
        try src.getLines().toList.zipWithIndex finally src.close()
      }
      if Forbidden.findFirstIn(line).isDefined
    } yield s"${file.getPath}:${n + 1}: ${line.trim}"
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
