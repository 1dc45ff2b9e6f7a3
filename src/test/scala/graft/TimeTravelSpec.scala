package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** TIME-TRAVEL reads of the versioned ANN index
  * (AnnServing.scoreBatchAtVersion over EmbQueries.readManifestAt):
  * because versions are logical and artifact dirs immutable, serving
  * at a historical version after later maintenance must return that
  * version's EXACT answers — pinned here by capturing the live answers
  * at each version as the chain advances and replaying them all from
  * the final tree. GC bounds the horizon: an expired version fails
  * loudly in the resolve, never serves a partially-deleted index.
  */
class TimeTravelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  test("historical versions serve their exact answers; GC expires the horizon loudly") {
    val idx = queries.EmbQueries.ensureServedIndex(spark, dir)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val full = spark.read.parquet(s"$idx/codes")
    import spark.implicits._

    val root = tmp("tt_root")
    full.write.partitionBy("cell").parquet(s"$root/codes_v1")
    spark.read.parquet(s"$idx/centroids").write.parquet(s"$root/centroids_v1")
    spark.read.parquet(s"$idx/codebook").write.parquet(s"$root/codebook")
    index.IndexStore.publishVersion(spark, root, 1,
      s"$root/centroids_v1", s"$root/codes_v1")

    // upsert rows: clones of the biggest cell's members, far ids —
    // v2 adds them, so v1 and v2 answers genuinely differ
    val topCell = full.groupBy("cell").count()
      .orderBy(col("count").desc, col("cell")).collect()(0).getInt(0)
    val rows = full.filter(col("cell") === topCell)
      .select("vec_id").join(emb, "vec_id")
      .select("vec_id", "embedding", "label")
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0) + 3000000L, r.getSeq[Float](1), r.getInt(2)))
    val aug = tmp("tt_vecs")
    emb.select("vec_id", "embedding", "label").unionByName(
      spark.createDataset(rows.toSeq)
        .toDF("vec_id", "embedding", "label")
        .select(col("vec_id"), col("embedding").cast("array<float>"),
          col("label")))
      .write.parquet(s"$aug/embeddings.parquet")
    val augPath = s"$aug/embeddings.parquet"
    val batch = spark.createDataset(rows.toSeq)
      .toDF("vec_id", "embedding", "label")
    val anchors = emb.filter(col("vec_id").isin(1L, 2L, 3L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    anchors.persist().count()
    try {

    def servedAt(v: Int): Seq[(Long, Int, Long, Double)] =
      streaming.AnnServing
        .scoreBatchAtVersion(spark, root, v, augPath, anchors)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSeq.sorted

    // capture each version's answers AS IT IS PUBLISHED
    val atV1 = servedAt(1)
    assert(streaming.AnnServing
      .applyUpsertBatchVersioned(spark, root, batch) == rows.length.toLong)
    val atV2 = servedAt(2)
    // the chain genuinely advanced: v2's view carries the new rows
    // (top-k for these anchors may or may not shift — the pin below is
    // bit-equality per version, not inequality across versions)
    val k1 = index.IndexStore.readManifestAt(spark, root, 1)._2
    val k2 = index.IndexStore.readManifestAt(spark, root, 2)._2
    assert(index.IndexStore.readSegments(spark, k2).count() ==
      index.IndexStore.readSegments(spark, k1).count() + rows.length)
    val moved = streaming.AnnServing
      .applyRebalanceVersioned(spark, root, augPath)
    assert(moved > 0, "skew workload must trip the rebalance")
    val atV3 = servedAt(3)

    // time travel from the FINAL tree: every historical version still
    // serves its captured answers bit-for-bit
    assert(servedAt(1) == atV1, "v1 answers drifted after maintenance")
    assert(servedAt(2) == atV2, "v2 answers drifted after maintenance")
    assert(servedAt(3) == atV3)
    // the travel read at the published version IS the live read
    val (vLive, centLive, codesLive) =
      index.IndexStore.readManifest(spark, root)
    assert(vLive == 3)
    assert(index.IndexStore.readManifestAt(spark, root, 3) ==
      ((centLive, codesLive)))

    // GC to keep=1 retains only the published newest; the expired
    // horizon fails in the resolve with the version named
    assert(index.IndexStore.gcVersions(spark, root, keep = 1) > 0)
    assert(servedAt(3) == atV3, "GC must not touch the live version")
    val e = intercept[RuntimeException] { servedAt(1) }
    assert(e.getMessage.contains("version 1") &&
      e.getMessage.contains("expired"), e.getMessage)
    } finally anchors.unpersist() // shared session: later suites assert nothing stays pinned
  }
}
