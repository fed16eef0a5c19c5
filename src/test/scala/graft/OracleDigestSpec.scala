package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Every registry row's DuckDB oracle text, pinned byte for byte: a
  * refactor of the registry (shared SQL fragments, moved rows) must
  * leave each `SparkEntry.oracleSql` text exactly as it was. The pins
  * are SHA-256 digests, one `<digest>  <row>` line per row, in
  * `src/test/resources/oracle_sql.sha256`. When an oracle changes on
  * purpose, rewrite the file with
  * `sbt "Test/runMain graft.OracleDigestSpec"` and commit it with the
  * change.
  */
class OracleDigestSpec extends AnyFunSuite {
  import OracleDigestSpec._

  test("every oracle text is byte-identical to its pinned digest") {
    val pinned = read()
    val now = digests
    val changed = (pinned.keySet ++ now.keySet).toSeq.sorted
      .filter(n => pinned.get(n) != now.get(n))
      .map(n => now.get(n).fold(s"removed: $n")(d => s"$d  $n"))
    assert(changed.isEmpty, s"${changed.size} oracle texts differ from $File " +
      s"(new digest lines below; refresh the file only for an intended change):\n" +
      changed.mkString("\n"))
  }
}

object OracleDigestSpec {
  val File = "src/test/resources/oracle_sql.sha256"

  /** Row name → hex SHA-256 of its oracle text's UTF-8 bytes. */
  def digests: Map[String, String] = SparkEntry.oracleSql.map { case (name, sql) =>
    val md = java.security.MessageDigest.getInstance("SHA-256")
    name -> md.digest(sql.getBytes(UTF_8)).map(b => f"${b & 0xff}%02x").mkString
  }

  private def read(): Map[String, String] =
    Files.readAllLines(Paths.get(File), UTF_8).toArray(Array.empty[String]).toSeq
      .filter(_.nonEmpty).map { line =>
        val Array(digest, name) = line.split("  ", 2)
        name -> digest
      }.toMap

  /** Rewrites the pin file from the current tree. */
  def main(args: Array[String]): Unit = {
    val text = digests.toSeq.sortBy(_._1).map { case (n, d) => s"$d  $n\n" }.mkString
    Files.createDirectories(Paths.get(File).getParent)
    Files.write(Paths.get(File), text.getBytes(UTF_8))
    println(s"wrote ${digests.size} digests to $File")
  }
}
