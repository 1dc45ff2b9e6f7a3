package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{LocalCheckpointFileManager, NewsStream}
import graft.streaming.LocalCheckpointFileManager.ConfKey

/** LocalCheckpointFileManager keeps the stock manager's contract: atomic
  * publish, no-overwrite collisions as Hadoop's FileAlreadyExistsException,
  * no temp file left behind, non-local schemes through Hadoop, and
  * checkpoints that restart across the two managers in both directions.
  */
class LocalCheckpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(prefix: String): NioPath = Files.createTempDirectory(prefix)

  private def manager(dir: NioPath): CheckpointFileManager =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def write(fm: CheckpointFileManager, p: Path, s: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSet

  /** Hadoop's `.<name>.crc` sidecars (not Spark's own `<name>.crc`
    * state-file checksums, which both managers write).
    */
  private def crcFiles(root: String): Seq[NioPath] =
    Files.walk(new File(root).toPath).iterator.asScala.filter { p =>
      val n = p.getFileName.toString
      n.startsWith(".") && n.endsWith(".crc")
    }.toSeq

  test("no-overwrite onto an existing file throws Hadoop's FileAlreadyExistsException") {
    val dir = tmp("lcfm_nooverwrite")
    val fm = manager(dir)
    val f = new Path(dir.toUri.toString, "0")
    write(fm, f, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, f, "second", overwrite = false))
    assert(read(fm, f) == "first")
    assert(names(dir) == Set("0"))
  }

  test("overwrite replaces the content and removes a stale .crc") {
    val dir = tmp("lcfm_overwrite")
    val f = new Path(dir.toUri.toString, "1")
    // Hadoop's checksummed local filesystem leaves `.1.crc` beside the file
    val out = f.getFileSystem(new Configuration()).create(f)
    out.write("old content".getBytes(UTF_8))
    out.close()
    assert(names(dir) == Set("1", ".1.crc"))
    val fm = manager(dir)
    write(fm, f, "new", overwrite = true)
    assert(names(dir) == Set("1"))
    assert(read(fm, f) == "new")
  }

  test("cancel() leaves no temp file and no destination") {
    val dir = tmp("lcfm_cancel")
    val fm = manager(dir)
    val out = fm.createAtomic(new Path(dir.toUri.toString, "2"), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("a non-file scheme is handled by the stock manager") {
    val dir = tmp("lcfm_viewfs")
    val conf = new Configuration()
    conf.set("fs.viewfs.mounttable.ck.link./data", dir.toUri.toString)
    val root = new Path("viewfs://ck/data")
    val fm = new LocalCheckpointFileManager(root, conf)
    val f = new Path(root, "3")
    write(fm, f, "via hadoop", overwrite = false)
    assert(read(fm, f) == "via hadoop")
    assert(new String(Files.readAllBytes(dir.resolve("3")), UTF_8) == "via hadoop")
    // java.nio has no viewfs provider: only Hadoop's path writes here,
    // and only the checksummed filesystem leaves the `.3.crc`
    assert(names(dir) == Set("3", ".3.crc"))
    intercept[FileAlreadyExistsException](write(fm, f, "again", overwrite = false))
  }

  /** Checkpoint a deduplicating JSON-sink query under `first`, land more
    * files (one a re-landing of already-seen ids), restart under `second`.
    */
  private def restartAcross(first: SparkSession, second: SparkSession): (String, Long) = {
    val in = tmp("lcfm_in").toString
    val ck = tmp("lcfm_ck").toString
    val out = tmp("lcfm_out").toString
    def start(s: SparkSession) = NewsStream.pipeline(s, in).dropDuplicates("id")
      .writeStream.format("json").outputMode("append")
      .option("path", s"$out/json")
      .option("checkpointLocation", s"$ck/q")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 5)
    val q1 = start(first)
    try q1.processAllAvailable() finally q1.stop()
    val firstCrcs = crcFiles(ck).size
    NewsStream.writeSampleBatch(in, batchId = 1, rows = 3)
    Files.copy(new File(in, "batch_00000.json").toPath, new File(in, "again.json").toPath)
    val q2 = start(second)
    try q2.processAllAvailable() finally q2.stop()
    val rows = spark.read.json(s"$out/json")
    assert(rows.count() == 8)
    assert(rows.select("id").distinct().count() == 8)
    (ck, firstCrcs)
  }

  private def session(manager: Class[_]): SparkSession = {
    val s = spark.newSession()
    s.conf.set(ConfKey, manager.getName)
    s
  }

  test("a stock-manager checkpoint restarts under the local manager, and back") {
    val stock = session(classOf[FileContextBasedCheckpointFileManager])
    val local = session(classOf[LocalCheckpointFileManager])
    val (_, stockCrcs) = restartAcross(stock, local)
    assert(stockCrcs > 0, "the stock manager's checkpoint should carry .crc files")
    val (ck, localCrcs) = restartAcross(local, stock)
    assert(localCrcs == 0)
    assert(crcFiles(ck).nonEmpty)
  }
}
