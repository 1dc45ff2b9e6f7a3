package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-tree guards: every entry point builds its session from
  * graft.Session, the retired bench env knobs stay retired, the ANN
  * index keeps its one writer (the versioned ops behind one sink
  * builder) and its one store (graft.index.IndexStore, CAS-only), the
  * `file:` FileSystem and FileContext classes are set in one place (so
  * Spark's stock checkpoint manager writes every checkpoint, and the
  * retired local manager stays retired), per-batch values reach
  * generated code only through graft.functions.PerBatch, the grouped
  * top-k has one path (graft.plans.GroupedTopK, self-registered), and the
  * news stream runs one Spark job per micro-batch (no cache, no
  * FileStreamSink write job).
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

  /** `file: name` for every whole-word use of a `retired` name under
    * src/ outside this spec (with `codeOnly`, on non-comment lines only)
    */
  private def namedUnderSrc(retired: Seq[String],
      codeOnly: Boolean = false): Seq[String] = {
    val word = ("\\b(" + retired.mkString("|") + ")\\b").r
    Files.walk(src.toPath).iterator.asScala
      .filter(p => Files.isRegularFile(p) &&
        !p.toString.endsWith("SourceGuardSpec.scala"))
      .flatMap(p => Files.readAllLines(p).asScala
        .filterNot(l => codeOnly && isComment(l))
        .flatMap(word.findAllIn(_)).map(src.toPath.relativize(p) + ": " + _))
      .toSeq
  }

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

  test("the news stream's sinks cache no micro-batch and build no FileStreamSink") {
    // one job per micro-batch: a cache is a second job (and a session
    // clone), Spark's file sink a write job with the Hadoop conf per task
    val banned = "\\.persist\\(|\\.cache\\(|new\\s+FileStreamSink\\b(?!Log)".r
    val hits = Seq("NewsStream.scala", "DriverJsonSink.scala").flatMap(f =>
      Files.readAllLines(new File(src, s"main/scala/graft/streaming/$f").toPath)
        .asScala.filterNot(isComment)
        .filter(l => banned.findFirstIn(l).isDefined).map(f + ": " + _.trim))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the retired in-place ANN ops and per-scorer sinks are named nowhere under src/") {
    val retired = Seq("applyUpsertBatch", "applyDeleteBatch", "applyRebalance",
      "applyRetrainEpochIfDue", "fullDedup", "startMaintenanceSink",
      "startDeleteSink", "startAutoMaintainSink", "startSelfHealingSink",
      "scoreBatchLabelAware", "startLabelAwareServingSink", "startServingSink",
      "startBqServingSink", "startSqServingSink", "startAdaptiveServingSink",
      "viewCodes", "startFanOutSink", "publishOrConflict",
      "maintain_versioned_cas", "LocalCheckpointFileManager",
      "checkpointFileManagerClass")
    val hits = namedUnderSrc(retired)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the retired top-k mechanisms are named in no code line under src/") {
    // code-only: a comment may still give the measured reason one went
    val hits = namedUnderSrc(Seq("TopKByAgg", "TopKAgg", "TopKTermAgg",
      "WindowTopKRewrite", "injectPlannerStrategy", "injectOptimizerRule"),
      codeOnly = true)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("GroupedTopKPlan is built in src/main only in graft/plans/GroupedTopK.scala") {
    assert(filesContaining(new File(src, "main/scala"), "GroupedTopKPlan(",
      codeOnly = true) == Seq("main/scala/graft/plans/GroupedTopK.scala"))
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

  test("fs.file.impl is named in src/main code only under graft/fs") {
    assert(filesContaining(new File(src, "main/scala"), "fs.file.impl",
      codeOnly = true) == Seq("main/scala/graft/fs/NioLocalFileSystem.scala"))
  }

  test("fs.AbstractFileSystem.file.impl is named in src/main code only under graft/fs") {
    assert(filesContaining(new File(src, "main/scala"), "fs.AbstractFileSystem.file.impl",
      codeOnly = true) == Seq("main/scala/graft/fs/NioLocalFileSystem.scala"))
  }

  test("no streaming sink or pipeline stage inlines a per-batch value") {
    // bare, not PerBatch.lit(...)
    val inlined = "(?<![.\\w])(current_timestamp\\(|lit\\((batchId|ver)\\))".r
    val hits = Seq("streaming", "pipeline").flatMap(d =>
      Files.walk(new File(src, s"main/scala/graft/$d").toPath).iterator.asScala
        .filter(p => Files.isRegularFile(p))
        .flatMap(p => Files.readAllLines(p).asScala.filterNot(isComment)
          .filter(l => inlined.findFirstIn(l).isDefined)
          .map(src.toPath.relativize(p) + ": " + _.trim)))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
