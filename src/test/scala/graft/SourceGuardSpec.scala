package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-tree guards: every entry point builds its session from
  * graft.Session, the retired bench env knobs stay retired, and the ANN
  * index keeps its one writer (the versioned ops behind one sink
  * builder) and its one store (graft.index.IndexStore, CAS-only).
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

  test("AnnServing starts one writeStream and never rewrites what it reads") {
    val code = Files.readAllLines(
      new File(src, "main/scala/graft/streaming/AnnServing.scala").toPath)
      .asScala.filterNot(isComment)
    for (w <- Seq("refreshByPath", "truncateLineage", "partitionOverwriteMode"))
      assert(!code.exists(_.contains(w)), w)
    assert(code.map(".writeStream".r.findAllIn(_).size).sum == 1)
  }

  test("NewsStream.startAllSinks starts one writeStream") {
    val code = Files.readAllLines(
      new File(src, "main/scala/graft/streaming/NewsStream.scala").toPath)
      .asScala.filterNot(isComment).mkString("\n")
    val body = code.drop(code.indexOf("def startAllSinks("))
    assert(".writeStream".r.findAllIn(body.take(body.indexOf("\n  def "))).size == 1)
  }

  test("the retired in-place ANN ops and per-scorer sinks are named nowhere under src/") {
    val retired = Seq("applyUpsertBatch", "applyDeleteBatch", "applyRebalance",
      "applyRetrainEpochIfDue", "fullDedup", "startMaintenanceSink",
      "startDeleteSink", "startAutoMaintainSink", "startSelfHealingSink",
      "scoreBatchLabelAware", "startLabelAwareServingSink", "startServingSink",
      "startBqServingSink", "startSqServingSink", "startAdaptiveServingSink",
      "viewCodes", "startFanOutSink", "publishOrConflict",
      "maintain_versioned_cas")
    val word = ("\\b(" + retired.mkString("|") + ")\\b").r
    val hits = Files.walk(src.toPath).iterator.asScala
      .filter(p => Files.isRegularFile(p) &&
        !p.toString.endsWith("SourceGuardSpec.scala"))
      .flatMap(p => Files.readAllLines(p).asScala
        .flatMap(word.findAllIn(_)).map(src.toPath.relativize(p) + ": " + _))
      .toSeq
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no op takes a cas flag: the only cas parameter left is casPublish") {
    val flag = "\\bcas\\s*[:=]".r
    val hits = Files.walk(new File(src, "main/scala").toPath).iterator.asScala
      .filter(p => Files.isRegularFile(p))
      .flatMap(p => Files.readAllLines(p).asScala.filterNot(isComment)
        .filter(l => flag.findFirstIn(l).isDefined)
        .map(src.toPath.relativize(p) + ": " + _.trim))
      .toSeq
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("MANIFEST.json is named in src/main code only in graft/index/IndexStore.scala") {
    assert(filesContaining(new File(src, "main/scala"), "MANIFEST.json",
      codeOnly = true) == Seq("main/scala/graft/index/IndexStore.scala"))
  }
}
