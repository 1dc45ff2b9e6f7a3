package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.fs.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.fs.NioLocalFileSystem.{FcImplKey, ImplKey, NoCacheKey}
import graft.queries.EmbQueries
import graft.streaming.{AnnServing, NewsStream}

/** Where the nio filesystem gets installed on both Hadoop APIs: by the
  * session preset, and by the sink starters (NewsStream's and the one
  * ANN sink builder) on sessions the engine did not build, never over a
  * class the session already names. `fs.file.impl` carries the part
  * files; `fs.AbstractFileSystem.file.impl` carries every checkpoint
  * file, which Spark's stock checkpoint manager writes through
  * FileContext. Hadoop's per-class FileSystem statistics tell which
  * class wrote the part files. They do not count FileContext writes
  * (`DelegateToFileSystem` swaps in its per-URI statistics), so the
  * checkpoint's `.crc` sidecars and the processes forked on its paths
  * tell the FileContext classes apart: only the nio one is checksummed
  * and forks nothing.
  */
class CheckpointInstallSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Nio = classOf[NioLocalFileSystem].getName
  private val NioFc = classOf[NioLocalFs].getName
  private val Stock = classOf[LocalFileSystem].getName

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** The commands of the processes `body` starts that name a path under
    * `root` (JFR `jdk.ProcessStart`). Without libhadoop, stock Hadoop
    * local filesystems fork a `chmod` for each file they create and a
    * `readlink` per stock FileContext rename; the nio ones fork none.
    */
  private def forksUnder[T](root: String)(body: => T): (T, Seq[String]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val r = try body finally rec.stop()
    val f = Files.createTempFile("install_forks", ".jfr")
    try {
      rec.dump(f)
      (r, RecordingFile.readAllEvents(f).asScala.map(_.getString("command"))
        .filter(_.contains(root)).toSeq)
    } finally { rec.close(); Files.delete(f) }
  }

  /** Drain one sample file through the four sinks into checkpoint `ck`. */
  private def drainAllSinks(s: SparkSession, table: String, ck: String): Unit = {
    val in = tmp("install_in")
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 6)
    NewsStream.startAllSinks(NewsStream.pipeline(s, in), tmp("install_out"), ck,
      Trigger.AvailableNow(), memoryTable = table).foreach(_.awaitTermination())
    assert(s.table(table).count() == 6)
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
    * not build: the context's Hadoop conf names no `file:` FileSystem
    * class and only `core-default.xml` names the `file:` FileContext
    * class, and the JVM's cached `file:` instance is the stock one. The
    * preset's keys and cached instance are restored afterwards.
    */
  private def foreignSession[T](body: SparkSession => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    val root = java.net.URI.create("file:///")
    assert(hc.get(ImplKey) == Nio && hc.get(FcImplKey) == NioFc)
    FileSystem.get(root, hc).close() // drops the cached instance
    hc.unset(ImplKey)
    hc.unset(FcImplKey)
    hc.reloadConfiguration() // core-default.xml's stock LocalFs is back
    try {
      assert(!FileSystem.get(root, hc).isInstanceOf[NioLocalFileSystem])
      assert(hc.get(FcImplKey) == classOf[LocalFs].getName)
      assert(hc.getPropertySources(FcImplKey).toSeq == Seq("core-default.xml"))
      body(spark.newSession())
    } finally {
      FileSystem.get(root, hc).close()
      hc.set(ImplKey, Nio)
      hc.set(FcImplKey, NioFc)
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
    drainAllSinks(s, "t_install_fs_user", tmp("install_ck"))
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

  test("Session.builder names NioLocalFs; raw writeStream queries use it") {
    assert(spark.sparkContext.hadoopConfiguration.get(FcImplKey) == NioFc)
    val in = tmp("preset_in")
    val ck = tmp("preset_ck")
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 4)
    val (_, forks) = forksUnder(ck) {
      NewsStream.pipeline(spark, in).writeStream.format("noop")
        .option("checkpointLocation", ck).trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    // checksummed (a ChecksumFs wrote it) and fork-free (the nio one)
    assert(new File(ck, "commits/0").isFile && new File(ck, "commits/.0.crc").isFile)
    assert(forks.isEmpty, forks)
  }

  test("startAllSinks installs NioLocalFs on a session without the preset") {
    foreignSession { s =>
      val ck = tmp("install_ck")
      val (_, forks) = forksUnder(ck)(drainAllSinks(s, "t_install_fc_foreign", ck))
      assert(s.conf.get(FcImplKey) == NioFc)
      assert(new File(ck, "json/commits/.0.crc").isFile)
      assert(forks.isEmpty, forks)
    }
  }

  test("a FileContext class the session already names is kept") {
    val s = spark.newSession()
    s.conf.set(FcImplKey, classOf[LocalFs].getName)
    val ck = tmp("install_ck")
    val (_, forks) = forksUnder(ck)(drainAllSinks(s, "t_install_fc_user", ck))
    assert(s.conf.get(FcImplKey) == classOf[LocalFs].getName)
    assert(new File(ck, "json/commits/.0.crc").isFile)
    if (!NativeCodeLoader.isNativeCodeLoaded)
      assert(forks.exists(_.startsWith("chmod")), forks)
  }

  test("startPublishedServingSink installs NioLocalFs on a foreign session") {
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

    foreignSession { s =>
      val out = tmp("install_ann_out")
      val ck = tmp("install_ann_ck")
      val schema = StructType(Seq(StructField("qid", LongType),
        StructField("qvec", ArrayType(DoubleType))))
      val (done, forks) = forksUnder(ck)(AnnServing.startPublishedServingSink(
        s.readStream.schema(schema).json(in), root, vectorsPath, out, ck)
        .awaitTermination(120000))
      assert(done)
      assert(s.conf.get(FcImplKey) == NioFc)
      assert(new File(ck, "commits/0").isFile && new File(ck, "commits/.0.crc").isFile)
      assert(forks.isEmpty, forks)
      assert(s.read.parquet(out).count() == 5)
    }
  }
}
