package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Artifact

/** Publish-once protocol: these tests need no SparkSession — a build
  * is simulated by writing files (including the `_SUCCESS` marker
  * Spark's committer would write) into the temp dir the protocol
  * hands out.
  */
class ArtifactSpec extends AnyFunSuite {

  private def freshPath(name: String): String = {
    val dir = Files.createTempDirectory("artifact-spec").toFile
    new File(dir, name).getAbsolutePath
  }

  private def fakeBuild(marker: String)(tmp: String): Unit = {
    val d = new File(tmp)
    require(d.mkdirs() || d.isDirectory)
    Files.writeString(new File(d, "part-00000").toPath, marker)
    Files.writeString(new File(d, "_SUCCESS").toPath, "")
  }

  private def read(path: String): String =
    Files.readString(new File(path, "part-00000").toPath)

  test("ensure builds once, publishes atomically, and later calls are no-ops") {
    val path = freshPath("a")
    var builds = 0
    Artifact.ensure(path) { tmp => builds += 1; fakeBuild("v1")(tmp) }
    assert(Artifact.complete(path) && read(path) == "v1")
    Artifact.ensure(path) { tmp => builds += 1; fakeBuild("v2")(tmp) }
    assert(builds == 1, "complete artifact was rebuilt")
    assert(read(path) == "v1")
  }

  test("a hand-assembled build (no _SUCCESS of its own) is stamped complete") {
    // fixture builds that move bare part-files produce no _SUCCESS, so
    // without the post-build stamp every resolve would see the artifact
    // incomplete and take the delete-then-republish path — wasted
    // rebuilds, and a cross-JVM reader could lose the dir mid-read
    val path = freshPath("h")
    var builds = 0
    def bareBuild(tmp: String): Unit = {
      builds += 1
      val d = new File(tmp)
      require(d.mkdirs() || d.isDirectory)
      Files.writeString(new File(d, "b1.parquet").toPath, "bare")
    }
    Artifact.ensure(path)(bareBuild)
    assert(new File(path, "_SUCCESS").exists(), "post-build stamp missing")
    assert(Artifact.complete(path))
    Artifact.ensure(path)(bareBuild)
    assert(builds == 1, "stamped artifact was rebuilt")
  }

  test("a stale INCOMPLETE destination is replaced, not a permanent wedge") {
    // a crashed or pre-protocol writer left partial files without the
    // completeness marker: ensure must self-heal (the atomic move onto
    // a non-empty dir throws; the recovery path deletes the debris)
    val path = freshPath("b")
    val stale = new File(path)
    require(stale.mkdirs())
    Files.writeString(new File(stale, "part-00000").toPath, "partial")
    assert(!Artifact.complete(path))
    Artifact.ensure(path)(fakeBuild("good"))
    assert(Artifact.complete(path) && read(path) == "good")
  }

  test("orphan .inprogress-* temp dirs from dead builders are reclaimed") {
    val path = freshPath("c")
    val orphan = new File(new File(path).getParentFile, ".c.stage-deadbeef")
    require(orphan.mkdirs())
    val part = new File(orphan, "part-00000")
    Files.writeString(part.toPath, "zombie")
    // a dead builder's tree is STALE (nothing touched it for longer
    // than any live build runs) — backdate every mtime past the
    // sweep threshold
    val old = System.currentTimeMillis() - 2L * 60 * 60 * 1000
    require(orphan.setLastModified(old) && part.setLastModified(old))
    Artifact.ensure(path)(fakeBuild("live"))
    assert(Artifact.complete(path) && read(path) == "live")
    assert(!orphan.exists(), "orphan temp dir not swept")
  }

  test("a FRESH .inprogress-* dir (live cross-process builder) is NOT swept") {
    val path = freshPath("c2")
    // recent mtime = another process could be mid-build right now;
    // deleting it would yank the staging dir out from under its write
    val live = new File(new File(path).getParentFile, ".c2.stage-cafef00d")
    require(live.mkdirs())
    Files.writeString(new File(live, "part-00000").toPath, "concurrent")
    Artifact.ensure(path)(fakeBuild("mine"))
    assert(Artifact.complete(path) && read(path) == "mine")
    assert(live.exists(), "sweep deleted a live builder's temp dir")
    // cleanup so later runs' stale sweep isn't what this test leaks
    Files.walk(live.toPath).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
  }

  test("sweep reclaims stale superseded generations, keeps live + fresh dirs") {
    val parent = Files.createTempDirectory("artifact-sweep").toFile
    def mk(name: String, ageMs: Long): File = {
      val d = new File(parent, name)
      require(d.mkdirs())
      val p = new File(d, "part-00000")
      Files.writeString(p.toPath, name)
      val t = System.currentTimeMillis() - ageMs
      require(d.setLastModified(t) && p.setLastModified(t))
      d
    }
    val hour = 60L * 60 * 1000
    val keptLive  = mk("graft_shingles_aaaa-n3", 48 * hour) // in keep-set: old but live
    val staleOld  = mk("graft_shingles_bbbb-n3", 48 * hour) // superseded → swept
    val freshOther = mk("graft_shingles_cccc-n3", 1 * hour) // fresh: could be another process's
    val otherFam  = mk("graft_ivf_dddd", 48 * hour)         // different family → untouched
    Artifact.sweep(parent.getAbsolutePath, "graft_shingles_",
      keep = Set(new File(parent, "graft_shingles_aaaa").getAbsolutePath),
      staleMs = 24 * hour)
    assert(keptLive.exists(), "keep-set dir was swept")
    assert(!staleOld.exists(), "stale superseded generation survived")
    assert(freshOther.exists(), "fresh dir inside the stale window was swept")
    assert(otherFam.exists(), "sweep crossed family prefixes")
  }

  test("a resolve by a foreign reader keeps an old artifact out of the sweep") {
    // the ADVICE race: a >window-old artifact is being read by a JVM
    // whose path is absent from this process's keep-set. Scans don't
    // move mtimes, but the reader's complete() resolve touches the
    // read marker, which the quiet-window test folds in.
    val parent = Files.createTempDirectory("artifact-readmark").toFile
    val d = new File(parent, "graft_shingles_eeee-n3")
    require(d.mkdirs())
    val p = new File(d, "part-00000")
    Files.writeString(p.toPath, "old-but-read")
    Files.writeString(new File(d, "_SUCCESS").toPath, "")
    val hour = 60L * 60 * 1000
    val old = System.currentTimeMillis() - 48 * hour
    d.listFiles().foreach(f => require(f.setLastModified(old)))
    require(d.setLastModified(old))
    assert(Artifact.complete(d.getAbsolutePath)) // the foreign reader's resolve
    Artifact.sweep(parent.getAbsolutePath, "graft_shingles_",
      keep = Set.empty, staleMs = 24 * hour)
    assert(d.exists(), "sweep deleted an artifact a live reader just resolved")
  }

  test("concurrent in-process ensures build exactly once") {
    val path = freshPath("d")
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 8).map { _ =>
      new Thread(() => Artifact.ensure(path) { tmp =>
        builds.incrementAndGet(); fakeBuild("once")(tmp)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(builds.get() == 1 && Artifact.complete(path) && read(path) == "once")
  }
}
