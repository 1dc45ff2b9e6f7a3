package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (spark_guide.md:
  * one SparkSession per suite, lazy).
  */
object TestSpark {
  lazy val spark: SparkSession = Session.start(Session.builder(4)
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString))

  lazy val sf0001 = "/root/testdata/sf0.001"
}
