package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.fs.{NioLocalFileSystem, NioRawLocalFileSystem}
import graft.fs.NioLocalFileSystem.{ImplKey, NoCacheKey}
import graft.queries.EmbQueries
import graft.streaming.{AnnServing, LocalCheckpointFileManager, NewsStream}
import graft.streaming.LocalCheckpointFileManager.ConfKey

/** Where LocalCheckpointFileManager gets installed: by the session preset,
  * and by the sink starters (NewsStream's and the one ANN sink builder)
  * on sessions the engine did not build, never
  * over a manager the session already names. Only the stock manager
  * leaves Hadoop's `.<name>.crc` files in a local checkpoint, which
  * tells the two apart. The same hook routes `file:` part files through
  * NioLocalFileSystem; Hadoop's per-class FileSystem statistics tell
  * which class wrote them.
  */
class CheckpointInstallSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Local = classOf[LocalCheckpointFileManager].getName
  private val Nio = classOf[NioLocalFileSystem].getName
  private val Stock = classOf[LocalFileSystem].getName

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** Hadoop's `.<name>.crc` sidecars in a checkpoint tree. */
  private def crcCount(root: String): Long =
    Files.walk(new File(root).toPath).iterator.asScala.count { p =>
      val n = p.getFileName.toString
      n.startsWith(".") && n.endsWith(".crc")
    }

  /** Drain one sample file through the four sinks; the checkpoint root. */
  private def drainAllSinks(s: SparkSession, table: String): String = {
    val in = tmp("install_in")
    val ck = tmp("install_ck")
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 6)
    NewsStream.startAllSinks(NewsStream.pipeline(s, in), tmp("install_out"), ck,
      Trigger.AvailableNow(), memoryTable = table).foreach(_.awaitTermination())
    assert(s.table(table).count() == 6)
    ck
  }

  /** Bytes written so far through `file:` filesystems of class `c`. */
  private def written(c: Class[_ <: FileSystem]): Long =
    FileSystem.getStatistics("file", c).getBytesWritten

  /** The bytes of the JSON sink's part files and their `.crc` sidecars. */
  private def partBytes(out: String): Long =
    Files.walk(new File(out, "stream_json").toPath).iterator.asScala
      .filter(p => Files.isRegularFile(p) && !p.toString.contains("_spark_metadata"))
      .map(Files.size).sum

  /** `body` on a new session in the situation of a session the preset did
    * not build: the context's Hadoop conf names no `file:` class, and the
    * JVM's cached `file:` instance is the stock one. The preset's cached
    * instance is restored afterwards.
    */
  private def foreignSession[T](body: SparkSession => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    val root = java.net.URI.create("file:///")
    assert(hc.get(ImplKey) == Nio)
    FileSystem.get(root, hc).close() // drops the cached instance
    hc.unset(ImplKey)
    try {
      assert(!FileSystem.get(root, hc).isInstanceOf[NioLocalFileSystem])
      body(spark.newSession())
    } finally {
      FileSystem.get(root, hc).close()
      hc.set(ImplKey, Nio)
      assert(FileSystem.get(root, hc).isInstanceOf[NioLocalFileSystem])
    }
  }

  test("Session.builder makes NioLocalFileSystem the cached file: class") {
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get(ImplKey) == Nio)
    assert(new org.apache.hadoop.fs.Path("file:///").getFileSystem(hc)
      .isInstanceOf[NioLocalFileSystem])
  }

  test("startAllSinks writes part files through nio on a session without the preset") {
    foreignSession { s =>
      val in = tmp("foreign_in")
      val out = tmp("foreign_out")
      NewsStream.writeSampleBatch(in, batchId = 0, rows = 6)
      val nio0 = written(classOf[NioRawLocalFileSystem])
      NewsStream.startAllSinks(NewsStream.pipeline(s, in), out, tmp("foreign_ck"),
        Trigger.AvailableNow(), memoryTable = "t_install_foreign")
        .foreach(q => assert(q.awaitTermination(120000)))
      assert(s.read.json(s"$out/stream_json").count() == 6)
      assert(partBytes(out) > 0)
      assert(written(classOf[NioRawLocalFileSystem]) - nio0 >= partBytes(out))
      assert(s.conf.get(ImplKey) == Nio && s.conf.get(NoCacheKey) == "true")
    }
  }

  test("a file: class the session already names is kept") {
    val s = spark.newSession()
    s.conf.set(ImplKey, Stock)
    drainAllSinks(s, "t_install_fs_user")
    assert(s.conf.get(ImplKey) == Stock)
    assert(s.conf.getOption(NoCacheKey).isEmpty)
  }

  test("a JSON sink written under the stock filesystem restarts under nio, rows exactly once") {
    val in = tmp("fsrestart_in")
    val out = tmp("fsrestart_out")
    val ck = tmp("fsrestart_ck")
    def drain(s: SparkSession): Unit =
      NewsStream.startAllSinks(NewsStream.pipeline(s, in), out, ck,
        Trigger.AvailableNow(), memoryTable = "t_install_fs_restart")
        .foreach(q => assert(q.awaitTermination(120000)))
    val stock = spark.newSession()
    stock.conf.set(ImplKey, Stock)
    stock.conf.set(NoCacheKey, "true")
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 6)
    val (raw0, nio0) = (written(classOf[RawLocalFileSystem]),
      written(classOf[NioRawLocalFileSystem]))
    drain(stock)
    assert(written(classOf[RawLocalFileSystem]) - raw0 >= partBytes(out))
    assert(written(classOf[NioRawLocalFileSystem]) == nio0)
    val stockBytes = partBytes(out)
    NewsStream.writeSampleBatch(in, batchId = 1, rows = 5)
    drain(spark.newSession())
    assert(written(classOf[NioRawLocalFileSystem]) - nio0 >= partBytes(out) - stockBytes)
    val ids = spark.read.json(s"$out/stream_json").select("id").collect().map(_.getString(0))
    assert(ids.length == 11 && ids.distinct.length == 11)
  }

  test("Session.builder names the local manager; raw writeStream queries use it") {
    assert(spark.conf.get(ConfKey) == Local)
    val in = tmp("preset_in")
    val ck = tmp("preset_ck")
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 4)
    val q = NewsStream.pipeline(spark, in).writeStream.format("noop")
      .option("checkpointLocation", ck).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(new File(ck, "commits/0").isFile)
    assert(crcCount(ck) == 0)
  }

  test("startAllSinks installs the local manager on a session without the preset") {
    val s = spark.newSession()
    s.conf.unset(ConfKey)
    assert(s.conf.getOption(ConfKey).isEmpty)
    val ck = drainAllSinks(s, "t_install_unset")
    assert(s.conf.get(ConfKey) == Local)
    assert(crcCount(ck) == 0)
  }

  test("a manager the session already names is kept") {
    val stock = classOf[FileContextBasedCheckpointFileManager].getName
    val s = spark.newSession()
    s.conf.set(ConfKey, stock)
    val ck = drainAllSinks(s, "t_install_user")
    assert(s.conf.get(ConfKey) == stock)
    assert(crcCount(ck) > 0)
  }

  test("startPublishedServingSink installs the local manager on a session without the preset") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val dir = TestSpark.sf0001
    val idx = EmbQueries.ensureServedIndex(spark, dir)
    val root = tmp("install_ann")
    spark.read.parquet(s"$idx/codes").write.partitionBy("cell")
      .parquet(s"$root/codes_v1")
    spark.read.parquet(s"$idx/centroids").write.parquet(s"$root/centroids_v1")
    spark.read.parquet(s"$idx/codebook").write.parquet(s"$root/codebook")
    index.IndexStore.publishVersion(spark, root, 1,
      s"$root/centroids_v1", s"$root/codes_v1")
    val vectorsPath = s"$dir/embeddings.parquet"
    val v = spark.read.parquet(vectorsPath).filter(col("vec_id") === 7)
      .select("embedding").collect()(0).getSeq[Float](0)
    val in = tmp("install_ann_in")
    Files.write(new File(in, "q7.json").toPath,
      s"""{"qid":7,"qvec":[${v.mkString(",")}]}\n""".getBytes("UTF-8"))

    val s = spark.newSession()
    s.conf.unset(ConfKey)
    val out = tmp("install_ann_out")
    val ck = tmp("install_ann_ck")
    val schema = StructType(Seq(StructField("qid", LongType),
      StructField("qvec", ArrayType(DoubleType))))
    assert(AnnServing.startPublishedServingSink(
      s.readStream.schema(schema).json(in), root, vectorsPath, out, ck)
      .awaitTermination(120000))
    assert(s.conf.get(ConfKey) == Local)
    assert(new File(ck, "commits/0").isFile)
    assert(crcCount(ck) == 0)
    assert(s.read.parquet(out).count() == 5)
  }
}
