package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.{Callable, CountDownLatch, Executors}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.fs.{NioLocalFs, NioRawLocalFs}
import graft.fs.NioLocalFileSystem.FcImplKey
import graft.streaming.NewsStream

/** Spark's stock checkpoint manager on the nio FileContext
  * (`graft.fs.NioLocalFs`) keeps the commit contract exactly-once
  * restarts rest on: a no-overwrite collision is Hadoop's
  * FileAlreadyExistsException and exactly one of several racing writers
  * wins, an overwrite replaces a file and its `.crc` together, a stale
  * `.crc` blocks no commit, a cancelled write leaves nothing, and
  * checkpoints written with no Hadoop `.crc` or by stock `LocalFs`
  * restart on it, and back.
  */
class LocalCheckpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(prefix: String): NioPath = Files.createTempDirectory(prefix)

  /** The stock manager over `dir`, with `fc` as the `file:` FileContext. */
  private def manager(dir: NioPath, fc: Class[_] = classOf[NioLocalFs]): CheckpointFileManager = {
    val conf = new Configuration()
    conf.set(FcImplKey, fc.getName)
    new FileContextBasedCheckpointFileManager(new Path(dir.toUri), conf)
  }

  private def write(fm: CheckpointFileManager, p: Path, s: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  /** Through `ChecksumFs`, so verified against the file's `.crc`. */
  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSet

  /** Hadoop's `.<name>.crc` sidecars (not Spark's own `<name>.crc`
    * state-file checksums).
    */
  private def crcFiles(root: String): Seq[NioPath] =
    Files.walk(new File(root).toPath).iterator.asScala.filter { p =>
      val n = p.getFileName.toString
      n.startsWith(".") && n.endsWith(".crc")
    }.toSeq

  test("no-overwrite onto an existing file throws Hadoop's FileAlreadyExistsException") {
    val dir = tmp("fcck_nooverwrite")
    val fm = manager(dir)
    val f = new Path(dir.toUri.toString, "0")
    write(fm, f, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, f, "second", overwrite = false))
    assert(names(dir).contains(".0.crc"))
    assert(read(fm, f) == "first")
    // stock Spark leaves the losing temp file and its `.crc`;
    // HDFSMetadataLog lists only numeric names
    val left = names(dir) -- Set("0", ".0.crc")
    assert(left.size == 2 && left.forall(n =>
      n.startsWith(".") && (n.endsWith(".tmp") || n.endsWith(".tmp.crc"))), left)
    // a `.crc` left without its file does not block the next commit
    Files.delete(dir.resolve("0"))
    write(fm, f, "third", overwrite = false)
    assert(read(fm, f) == "third")
  }

  test("racing no-overwrite commits: exactly one writer wins each round") {
    val dir = tmp("fcck_race")
    val fm = manager(dir)
    val writers = 4
    val pool = Executors.newFixedThreadPool(writers)
    try for (round <- 0 until 200) {
      val f = new Path(dir.toUri.toString, round.toString)
      val go = new CountDownLatch(1)
      val tries = (0 until writers).map { w =>
        pool.submit(new Callable[Boolean] {
          def call(): Boolean = {
            go.await()
            try { write(fm, f, s"writer $w", overwrite = false); true }
            catch { case _: FileAlreadyExistsException => false }
          }
        })
      }
      go.countDown()
      val won = tries.indices.filter(tries(_).get)
      assert(won.size == 1, s"round $round: winners $won")
      assert(read(fm, f) == s"writer ${won.head}", s"round $round")
    } finally pool.shutdownNow()
  }

  test("overwrite replaces the content and removes a stale .crc") {
    val dir = tmp("fcck_overwrite")
    val f = new Path(dir.toUri.toString, "1")
    write(manager(dir, classOf[LocalFs]), f, "old content", overwrite = false)
    assert(names(dir) == Set("1", ".1.crc"))
    val stale = Files.readAllBytes(dir.resolve(".1.crc"))
    val fm = manager(dir)
    write(fm, f, "new", overwrite = true)
    assert(names(dir) == Set("1", ".1.crc"))
    assert(!Files.readAllBytes(dir.resolve(".1.crc")).sameElements(stale))
    assert(read(fm, f) == "new")
  }

  test("cancel() leaves no temp file and no destination") {
    val dir = tmp("fcck_cancel")
    val fm = manager(dir)
    val out = fm.createAtomic(new Path(dir.toUri.toString, "2"), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty)
  }

  /** Checkpoint a deduplicating JSON-sink query under each session in
    * turn, landing one more file before each start (after the first, also
    * a re-landing of already-seen ids); every row lands exactly once.
    * Returns the checkpoint root and its `.crc` count after the first.
    */
  private def restartAcross(sessions: SparkSession*): (String, Int) = {
    val in = tmp("fcck_in").toString
    val ck = tmp("fcck_ck").toString
    val out = tmp("fcck_out").toString
    def start(s: SparkSession) = NewsStream.pipeline(s, in).dropDuplicates("id")
      .writeStream.format("json").outputMode("append")
      .option("path", s"$out/json")
      .option("checkpointLocation", s"$ck/q")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    var firstCrcs = -1
    for ((s, i) <- sessions.zipWithIndex) {
      NewsStream.writeSampleBatch(in, batchId = i, rows = 5 - i)
      if (i > 0) Files.copy(new File(in, "batch_00000.json").toPath,
        new File(in, s"again_$i.json").toPath)
      val q = start(s)
      try q.processAllAvailable() finally q.stop()
      if (i == 0) firstCrcs = crcFiles(ck).size
    }
    val rows = spark.read.json(s"$out/json")
    val want = sessions.indices.map(5 - _).sum
    assert(rows.count() == want)
    assert(rows.select("id").distinct().count() == want)
    (ck, firstCrcs)
  }

  private def session(fc: Class[_]): SparkSession = {
    val s = spark.newSession()
    s.conf.set(FcImplKey, fc.getName)
    s
  }

  test("checkpoints without .crc or from stock LocalFs restart on nio, and back") {
    val nio = session(classOf[NioLocalFs])
    // the raw side alone writes no `.crc`, the retired nio manager's layout
    val (rawCk, rawCrcs) = restartAcross(session(classOf[NioRawLocalFs]), nio)
    assert(rawCrcs == 0)
    assert(crcFiles(rawCk).nonEmpty)
    val stock = session(classOf[LocalFs])
    val (_, stockCrcs) = restartAcross(stock, nio, stock)
    assert(stockCrcs > 0, "stock LocalFs should leave .crc files")
  }
}
