package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.index.IndexStore

/** Sustained throughput of the STREAMING ANN serving path — a staged
  * backlog of query-vector NDJSON files drained with
  * Trigger.AvailableNow through AnnServing.startScoringSink against
  * the persisted IVF+PQ index — in query vectors/second. The index
  * build is staged before the clock starts (it is the offline
  * artifact); the measured window covers exactly what an online
  * retrieval deployment pays per batch: source listing, the broadcast
  * centroid probe, the per-batch ADC table, the directory-pruned code
  * scan, the exact rerank, and the parquet answer append.
  *
  * A 4th arg selects the channel, i.e. the per-batch scorer:
  * `ivfpq` (default) scores with scoreBatch; `bq` with scoreBatchBq
  * (the 1-bit Hamming first stage over the persisted bitsig/ artifact
  * + exact rerank); `adaptive` / `adaptive_rare` with
  * scoreBatchAdaptive under the broad (~10%, pruned-scan arm) and rare
  * (~1.4%, exact-prefilter arm) predicates — pricing both sides of the
  * selectivity switch. The maintenance channels stage a backlog of NEW
  * vectors (corpus vectors under fresh ids) and drain it through
  * startVersionedSelfHealingSink against a published copy of the
  * index, in vectors/second: `maintain_versioned` (the full
  * self-healing chain; every publish is the store's compare-and-swap
  * commit) and `maintain_upsert_cadence` (the side-table refresh
  * cadence).
  *
  * Usage: runMain graft.AnnServingBench [sfDir] [nQueries] [nFiles]
  *   [ivfpq|bq|adaptive|adaptive_rare|maintain_versioned|
  *    maintain_upsert_cadence]
  */
object AnnServingBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nQ = args.drop(1).headOption.map(_.toInt).getOrElse(2000)
    val nFiles = args.drop(2).headOption.map(_.toInt).getOrElse(8)
    val channel = args.drop(3).headOption.getOrElse("ivfpq")
    val spark = Session.start()

    // offline: the served index + the query backlog (vectors cycled
    // from the corpus itself, qids disjoint from vec_ids so no
    // self-exclusion interplay)
    val idx = queries.EmbQueries.ensureServedIndex(spark, sfDir)
    val vectorsPath = s"$sfDir/embeddings.parquet"
    if (channel == "maintain_versioned") {
      maintainVersioned(spark, idx, sfDir, nQ, nFiles); return
    }
    if (channel == "maintain_upsert_cadence") {
      maintainUpsertCadence(spark, idx, sfDir, nQ, nFiles); return
    }
    val dir = Files.createTempDirectory("ann_tp").toFile
    val inDir = new java.io.File(dir, "in"); inDir.mkdirs()
    val emb = spark.read.parquet(vectorsPath)
    val nVec = emb.count()
    emb.select(col("vec_id"), col("embedding"))
      .crossJoin(spark.range((nQ + nVec - 1) / nVec).select(col("id").as("rep")))
      .filter(col("vec_id") + col("rep") * nVec < nQ)
      .select((col("vec_id") + col("rep") * nVec + lit(1000000000L))
        .as("qid"),
        col("embedding").as("qvec"))
      .repartition(nFiles)
      .write.mode("overwrite").json(inDir.getAbsolutePath)
    val staged = spark.read.json(inDir.getAbsolutePath).count()

    val schema = StructType(Seq(
      StructField("qid", LongType),
      StructField("qvec", ArrayType(DoubleType))))
    val outDir = new java.io.File(dir, "out").getAbsolutePath
    val ckpt = new java.io.File(dir, "ck").getAbsolutePath

    val t0 = System.nanoTime()
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", math.max(1, nFiles / 4))
      .json(inDir.getAbsolutePath)
    val q = streaming.AnnServing.startScoringSink(src, outDir, ckpt) { b =>
      import streaming.AnnServing._
      val s = b.sparkSession
      val vectors = s.read.parquet(vectorsPath)
      val lbl = col("label") === queries.EmbQueries.FilteredLabel
      channel match {
        case "bq" => scoreBatchBq(s, idx, vectors, b)
        // the adaptive channels price the two arms of the
        // selectivity switch: broad (~10%) routes every batch to the
        // pruned filtered scan, rare (~1.4%) to exact pre-filter
        case "adaptive" => scoreBatchAdaptive(s, idx, vectors, b, lbl)
        case "adaptive_rare" => scoreBatchAdaptive(s, idx, vectors, b,
          lbl && col("vec_id") % 7 === 0)
        case _ => scoreBatch(s, idx, vectors, b)
      }
    }
    val drained = q.awaitTermination(600000)
    val sec = (System.nanoTime() - t0) / 1e9
    val answered = spark.read.parquet(outDir)
      .select("qid").distinct().count()
    // a timed-out stream or a partial backlog must FAIL loudly, not
    // print a plausible-looking queries/sec over whatever drained
    val error =
      if (!drained) "\"awaitTermination timed out\""
      else if (answered != staged)
        s""""answered $answered of $staged staged queries""""
      else "null"
    println(
      s"""{"metric":"ann_serving_throughput","unit":"queries_per_sec","channel":"$channel","value":${f"${answered / sec}%.1f"},"n_queries":$answered,"staged":$staged,"sec":${f"$sec%.2f"},"error":$error,"sf":"$sfDir"}""")
    CacheRegistry.clear(spark)
    spark.stop()
    if (error != "null") System.exit(1)
  }

  /** Stage `fresh` as `nFiles` JSON part files; the staged count. The
    * file source takes the oldest files first, and part files written in
    * parallel tie or finish in a different order each run, so their
    * modification times are set to follow the part index: the same
    * vectors share a micro-batch, and so the drain does the same
    * maintenance, on every run.
    */
  private def stageJson(fresh: DataFrame, inDir: java.io.File,
      nFiles: Int): Long = {
    fresh.repartition(nFiles).write.mode("overwrite")
      .json(inDir.getAbsolutePath)
    val t0 = System.currentTimeMillis() / 1000 * 1000 - nFiles * 1000L
    inDir.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) => f.setLastModified(t0 + i * 1000L) }
    fresh.sparkSession.read.json(inDir.getAbsolutePath).count()
  }

  /** The `maintain_versioned` channel: sustained index-maintenance
    * throughput. A published v1 copy of the served index takes the
    * mutations (the shared artifact keeps serving everything else); the
    * arriving vectors are corpus vectors under fresh ids (they assign
    * into the existing geometry, concentrating the biggest cells — the
    * skew-driving workload), staged in the id-keyed vector store the
    * rebalance and the epoch read. They drain through
    * startVersionedSelfHealingSink (upsert, split, epoch, compaction,
    * retention GC, the per-advance depth-table refresh). Reports the
    * final published version and segment count beside the rate.
    */
  private def maintainVersioned(
      spark: SparkSession,
      idx: String,
      sfDir: String,
      nQ: Int,
      nFiles: Int): Unit = {
    val dir = Files.createTempDirectory("ann_maint_ver").toFile
    val work = new java.io.File(dir, "ix").getAbsolutePath
    val full = spark.read.parquet(s"$idx/codes")
    full.write.partitionBy("cell").parquet(s"$work/codes_v1")
    spark.read.parquet(s"$idx/centroids")
      .write.parquet(s"$work/centroids_v1")
    spark.read.parquet(s"$idx/codebook").write.parquet(s"$work/codebook")
    IndexStore.publishVersion(spark, work, 1,
      s"$work/centroids_v1", s"$work/codes_v1")
    val cellsBefore = spark.read.parquet(s"$work/centroids_v1").count()

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val nVec = emb.count()
    val fresh = emb
      .crossJoin(spark.range((nQ + nVec - 1) / nVec)
        .select(col("id").as("rep")))
      .filter(col("vec_id") + col("rep") * nVec < nQ)
      .select((col("vec_id") + col("rep") * nVec + lit(1000000000L))
        .as("vec_id"),
        col("embedding"), col("label"))
    val aug = new java.io.File(dir, "vecs").getAbsolutePath
    emb.select("vec_id", "embedding", "label").unionByName(fresh)
      .write.parquet(aug)
    val inDir = new java.io.File(dir, "in")
    val staged = stageJson(fresh, inDir, nFiles)

    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType)),
      StructField("label", LongType)))
    val depths = new java.io.File(dir, "depths.parquet").getAbsolutePath
    val t0 = System.nanoTime()
    val q = streaming.AnnServing.startVersionedSelfHealingSink(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", math.max(1, nFiles / 4))
        .json(inDir.getAbsolutePath),
      work, aug, new java.io.File(dir, "ck").getAbsolutePath,
      depthsPath = Some(depths))
    val drained = q.awaitTermination(600000)
    val sec = (System.nanoTime() - t0) / 1e9
    val (ver, centPath, codesPath) =
      IndexStore.readManifest(spark, work)
    val applied = IndexStore.readSegments(spark, codesPath)
      .filter(col("vec_id") >= 1000000000L).count()
    val cellsAfter = spark.read.parquet(centPath).count()
    val nSegs = IndexStore.segments(codesPath).size
    val error =
      if (!drained) "\"awaitTermination timed out\""
      else if (applied != staged)
        s""""applied $applied of $staged staged vectors""""
      else "null"
    println(
      s"""{"metric":"ann_maintain_throughput","unit":"vectors_per_sec","channel":"maintain_versioned","value":${f"${applied / sec}%.1f"},"n_vectors":$applied,"staged":$staged,"cells_before":$cellsBefore,"cells_after":$cellsAfter,"final_version":$ver,"final_segments":$nSegs,"sec":${f"$sec%.2f"},"error":$error,"sf":"$sfDir"}""")
    CacheRegistry.clear(spark)
    spark.stop()
    if (error != "null") System.exit(1)
  }

  /** The `maintain_upsert_cadence` channel: the STEADY-STATE price of
    * the depth-table refresh cadence. The SAME upsert-only backlog
    * (consolidation disabled via an untrippable skew threshold — the
    * ingest-heavy regime a 100 TB stream lives in) drains through
    * startVersionedSelfHealingSink twice: EAGER (refreshEveryVersions
    * = 1 — round 12's behavior, the O(corpus) exact-truth pass on
    * every mutating batch) vs CADENCE (= 8). The wall-clock delta is
    * exactly the per-batch corpus scans the cadence removed; both
    * runs still derive on their first batch and on the compaction
    * batch (a consolidating advance), so the tables never go missing.
    */
  private def maintainUpsertCadence(
      spark: SparkSession,
      idx: String,
      sfDir: String,
      nQ: Int,
      nFiles: Int): Unit = {
    val dir = Files.createTempDirectory("ann_maint_cad").toFile
    val full = spark.read.parquet(s"$idx/codes")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val nVec = emb.count()
    val fresh = emb
      .crossJoin(spark.range((nQ + nVec - 1) / nVec)
        .select(col("id").as("rep")))
      .filter(col("vec_id") + col("rep") * nVec < nQ)
      .select((col("vec_id") + col("rep") * nVec + lit(1000000000L))
        .as("vec_id"),
        col("embedding"), col("label"))
    val aug = new java.io.File(dir, "vecs").getAbsolutePath
    emb.select("vec_id", "embedding", "label").unionByName(fresh)
      .write.parquet(aug)
    val inDir = new java.io.File(dir, "in")
    val staged = stageJson(fresh, inDir, nFiles)
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType)),
      StructField("label", LongType)))

    def run(tag: String, refreshEvery: Int): (Double, Long, Int) = {
      val work = new java.io.File(dir, s"ix_$tag").getAbsolutePath
      full.write.partitionBy("cell").parquet(s"$work/codes_v1")
      spark.read.parquet(s"$idx/centroids")
        .write.parquet(s"$work/centroids_v1")
      spark.read.parquet(s"$idx/codebook").write.parquet(s"$work/codebook")
      IndexStore.publishVersion(spark, work, 1,
        s"$work/centroids_v1", s"$work/codes_v1")
      val depths = new java.io.File(dir, s"depths_$tag").getAbsolutePath
      val t0 = System.nanoTime()
      val q = streaming.AnnServing.startVersionedSelfHealingSink(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .json(inDir.getAbsolutePath),
        work, aug, new java.io.File(dir, s"ck_$tag").getAbsolutePath,
        depthsPath = Some(depths),
        refreshEveryVersions = refreshEvery,
        // consolidation disabled: pure upsert-only advances
        num = 1 << 20, den = 1)
      val drained = q.awaitTermination(600000)
      val sec = (System.nanoTime() - t0) / 1e9
      val (ver, _, codesPath) =
        IndexStore.readManifest(spark, work)
      val applied = IndexStore.readSegments(spark, codesPath)
        .filter(col("vec_id") >= 1000000000L).count()
      if (!drained || applied != staged)
        sys.error(s"$tag run incomplete: drained=$drained " +
          s"applied=$applied staged=$staged")
      (sec, applied, ver)
    }
    val (secEager, _, vEager) = run("eager", 1)
    val (secCad, applied, vCad) = run("cadence", 8)
    println(
      s"""{"metric":"ann_maintain_throughput","unit":"vectors_per_sec","channel":"maintain_upsert_cadence","value":${f"${applied / secCad}%.1f"},"value_eager":${f"${applied / secEager}%.1f"},"sec_cadence":${f"$secCad%.2f"},"sec_eager":${f"$secEager%.2f"},"n_vectors":$applied,"staged":$staged,"final_version_eager":$vEager,"final_version_cadence":$vCad,"error":null,"sf":"$sfDir"}""")
    CacheRegistry.clear(spark)
    spark.stop()
  }
}
