package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine's operators choose every physical shape from what they count,
  * never from a JVM-global `-D` property: such a knob changes plans behind
  * the back of every spec, oracle and benchmark. This scans the main sources
  * for the ways a JVM property is read and fails on any hit outside the
  * allow-list, which holds only deployment settings. */
class NoSystemPropertySpec extends AnyFunSuite {

  private val Reads =
    """sys\.props|System\.getProperty|Long\.getLong|Integer\.getInteger|Boolean\.getBoolean""".r

  /** (file name, trimmed source line) pairs that may read a property. */
  private val Allowed = Set(
    // spark-submit sets the master; the CLI defaults it only when absent
    "Main.scala" -> """if (sys.props.contains("spark.master"))""")

  test("src/main/scala reads no system property outside the allow-list") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 20, s"only ${files.size} sources found under $root")
    val hits = for {
      f: Path <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if Reads.findFirstIn(line).isDefined
      if !Allowed.contains(f.getFileName.toString -> line.trim)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("system property read outside the allow-list:\n", "\n", ""))
  }
}
