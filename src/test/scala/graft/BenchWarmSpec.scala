package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The bench's codegen warm must fail loudly: every builder that throws
  * over the WarmData twin tables is returned by name and reported on
  * stderr, and the warm leaves no warm-dir lineage behind in
  * CacheRegistry.
  */
class BenchWarmSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("warm reports only the throwing builder; no warm-dir state survives") {
    @volatile var warmDir: String = null
    @volatile var tracked: DataFrame = null
    val ok = Q("warm_ok", (s, dir) => {
      warmDir = dir
      CacheRegistry.memo("warm_ok", s, dir) {
        tracked = CacheRegistry.track(s,
          s.read.parquet(s"$dir/documents.parquet").groupBy("lang").count())
        tracked
      }
    }, None)
    val bad = Q("warm_bad",
      (_, _) => throw new IllegalStateException("boom\nsecond line"), None)

    val err = new ByteArrayOutputStream
    val oldErr = System.err
    System.setErr(new PrintStream(err, true, "UTF-8"))
    val failed =
      try WarmData.warm(spark, Seq(ok, bad))
      finally System.setErr(oldErr)

    assert(failed == Seq("warm_bad"))
    val log = err.toString("UTF-8")
    assert(log.contains("[bench] warm warm_bad failed: boom"), log)
    assert(!log.contains("second line"), log)
    assert(!log.contains("warm_ok"), log)

    assert(warmDir != null, "the working builder never ran")
    assert(CacheRegistry.get("warm_ok", spark, warmDir).isEmpty)
    assert(tracked.storageLevel == StorageLevel.NONE)
    assert(!new java.io.File(warmDir).exists)
  }
}
