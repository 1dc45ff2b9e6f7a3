package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.EmbQueries
import graft.streaming.{AnnServing, LocalCheckpointFileManager, NewsStream}
import graft.streaming.LocalCheckpointFileManager.ConfKey

/** Where LocalCheckpointFileManager gets installed: by the session preset,
  * and by the sink starters (NewsStream's and the one ANN sink builder)
  * on sessions the engine did not build, never
  * over a manager the session already names. Only the stock manager
  * leaves Hadoop's `.<name>.crc` files in a local checkpoint, which
  * tells the two apart.
  */
class CheckpointInstallSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Local = classOf[LocalCheckpointFileManager].getName

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
