package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-tree guards: every entry point builds its session from
  * graft.Session, and the retired bench env knobs stay retired.
  */
class SourceGuardSpec extends AnyFunSuite {
  private lazy val src: File =
    Iterator.iterate(new File(sys.props("user.dir")).getAbsoluteFile)(
      _.getParentFile)
      .takeWhile(_ != null)
      .map(new File(_, "src"))
      .find(d => new File(d, "main/scala/graft").isDirectory)
      .getOrElse(fail("src/ not found above " + sys.props("user.dir")))

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
  }

  /** Files with `needle` on any line, or with `codeOnly` on a line that
    * is not a comment (so scaladoc may still show a usage).
    */
  private def filesContaining(dir: File, needle: String,
      codeOnly: Boolean = false): Seq[String] =
    Files.walk(dir.toPath).iterator.asScala
      .filter(p => Files.isRegularFile(p))
      .filter(p => Files.readAllLines(p).asScala.exists(l =>
        l.contains(needle) && !(codeOnly && isComment(l))))
      .map(p => src.toPath.relativize(p).toString)
      .toSeq.sorted

  test("SparkSession.builder appears in src/main/scala only in graft/Session.scala") {
    assert(filesContaining(new File(src, "main/scala"), "SparkSession.builder",
      codeOnly = true) == Seq("main/scala/graft/Session.scala"))
  }

  test("retired bench knobs are read nowhere under src/") {
    for (knob <- Seq("SPARK_GRAFT_PROFILE", "SPARK_GRAFT_CODEGEN_CACHE"))
      assert(filesContaining(src, knob)
        .filterNot(_.endsWith("SourceGuardSpec.scala")).isEmpty, knob)
  }
}
