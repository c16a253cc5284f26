package graft.pipeline

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The commit half of the one inc-dir protocol shared by every store. */
class IncDirsSpec extends AnyFunSuite {

  private def names(dir: Path): Seq[String] = {
    val it = Files.list(dir)
    try it.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally it.close()
  }

  test("commit publishes inc-k by rename and returns the closure's value") {
    val base = Files.createTempDirectory("graft-incdirs-commit")
    val (dir, v) = IncDirs.commit(base.toString, 1, "test store") { tmp =>
      Files.writeString(Paths.get(tmp, "part"), "staged")
      42
    }
    assert(v == 42 && dir == s"$base/inc-1")
    assert(names(base) == Seq("inc-1"))
    assert(Files.readString(Paths.get(dir, "part")) == "staged")
  }

  test("a lost commit race fails loudly and deletes the loser's staging dir") {
    val base = Files.createTempDirectory("graft-incdirs-race")
    val e = intercept[IllegalStateException] {
      IncDirs.commit(base.toString, 1, "test store") { tmp =>
        Files.createDirectories(Paths.get(tmp, "stage"))
        Files.writeString(Paths.get(tmp, "stage", "part"), "staged")
        // a concurrent appender publishes inc-1 while this one is writing
        Files.createDirectories(base.resolve("inc-1"))
      }
    }
    assert(e.getMessage.contains("lost a commit race") && e.getMessage.contains("inc-1"))
    assert(e.getSuppressed.isEmpty)
    // the winner's dir survives untouched; no inc-1.tmp-* is left behind
    assert(names(base) == Seq("inc-1"))
    assert(names(base.resolve("inc-1")).isEmpty)
  }
}
