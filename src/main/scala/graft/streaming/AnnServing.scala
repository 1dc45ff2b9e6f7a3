package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.DecimalType

import graft.fs.NioLocalFileSystem
import graft.functions.PerBatch
import graft.index.IndexStore

/** Streaming ANN serving: score a micro-batched stream of query vectors
  * against the PERSISTED IVF+PQ index (the self-contained layout
  * EmbQueries.servedCodes writes — centroids/ + codebook/ + codes/
  * partitioned by cell) inside foreachBatch. This is the online-
  * retrieval path of the serving-ops lifecycle: the batch queries
  * (emb_ivfpq_served / _upsert / _delete) prove build and maintenance;
  * this module proves the index answers a LIVE query stream, and keeps
  * it current through the versioned ops at the bottom — the index's
  * only writer (see THE ONE INDEX WRITER). Every ANN stream starts
  * through one sink builder, foreachBatchSink.
  *
  * Per-batch plan, for a micro-batch of B query vectors against an
  * index of kk cells (kk = 8 here; O(sqrt N) cells at scale):
  *   1. PROBE — batch x centroids (B*kk rows, centroid side broadcast
  *      by size), rank per query, keep nprobe cells each. The distinct
  *      probed-cell list (<= B*nprobe values) becomes a partition
  *      filter, so step 3 never lists unprobed cell directories.
  *   2. ADC — batch subvectors x codebook (B * PqSub * PqK rows),
  *      broadcast: the classic asymmetric-distance table, rebuilt per
  *      batch because it depends only on the incoming queries.
  *   3. SHORTLIST — directory-pruned scan of the probed cells' code
  *      rows, joined to the broadcast per-query probe map (restricting
  *      each query to ITS cells) and the broadcast ADC table; sum of
  *      per-subspace partial distances, row_number per query, keep
  *      shortN. The scan reads 8-byte code rows, never float vectors.
  *   4. RERANK — fetch the <= B*shortN true vectors (broadcast semi-
  *      join against the vector table; at 100 TB this fetch is a
  *      point-lookup against a row-keyed store, the scan here is the
  *      local stand-in) and order by exact cosine.
  *
  * Every step is identical arithmetic to emb_ivfpq_served (same
  * kernels, same rounding, same tiebreaks), so for the same query
  * vector the stream answer equals the batch answer row-for-row —
  * StreamingSpec pins that equality.
  */
object AnnServing {

  /** Score ONE micro-batch of query vectors against the served index.
    *
    * @param batch   (qid BIGINT, qvec ARRAY<FLOAT>) query vectors;
    *                a corpus vec_id arriving as qid never matches
    *                itself (the emb_ivfpq_served self-exclusion)
    * @param vectors the true-vector table (vec_id, embedding) used for
    *                the exact rerank
    * @param codeFilter optional metadata predicate over the inlined
    *                attribute columns of the code rows (e.g.
    *                `col("label") === 3` — filtered vector search).
    *                Applied INSIDE the directory-pruned code scan,
    *                BEFORE the shortN cut, so the shortlist is never
    *                starved by post-filtering; batch twin:
    *                emb_ivfpq_filtered.
    * @return (qid, rank, vec_id, sim) — top-k per query, rank 1-based
    */
  def scoreBatch(
      spark: SparkSession,
      indexDir: String,
      vectors: DataFrame,
      batch: DataFrame,
      k: Int = 5,
      nprobe: Int = 2,
      shortN: Int = graft.queries.EmbQueries.IvfPqShortN,
      codeFilter: Option[Column] = None,
      excludeIds: Option[DataFrame] = None): DataFrame =
    scoreBatchAt(spark, s"$indexDir/centroids", s"$indexDir/codes",
      s"$indexDir/codebook", vectors, batch, k, nprobe, shortN,
      codeFilter, excludeIds)

  /** Selectivity-ADAPTIVE filtered scoring — the streaming twin of
    * emb_filtered_adaptive's strategy switch, per micro-batch: when
    * the metadata predicate qualifies at most 1/20 of the index, the
    * answer is EXACT brute-force cosine over just the qualifying rows
    * (both cheaper and better than starving an ANN shortlist inside
    * sparse geometry); otherwise it is the filtered pruned scan
    * (scoreBatch + codeFilter). The two .count() calls are plan-time
    * statistics gathering (the bounded-driver-action convention of the
    * probed-cells collect — at 100 TB a stats-store lookup); the
    * estimate only picks which correct-by-its-own-contract arm runs.
    * StreamingSpec pins both arms row-identical to the batch query's
    * matching scenario.
    *
    * @return (qid, rank, vec_id, sim, strategy) — top-k per query
    */
  def scoreBatchAdaptive(
      spark: SparkSession,
      indexDir: String,
      vectors: DataFrame,
      batch: DataFrame,
      pred: Column,
      k: Int = 5,
      nprobe: Int = 2,
      shortN: Int = graft.queries.EmbQueries.IvfPqShortN): DataFrame = {
    val codes = spark.read.parquet(s"$indexDir/codes")
    val n = codes.filter(col("vec_id") =!= 0).count()
    val nm = codes.filter(col("vec_id") =!= 0 && pred).count()
    if (nm * 20 <= n) {
      val q = batch.select(col("qid").cast("long").as("qid"),
        col("qvec").cast("array<float>").as("qvec"))
      // qualifying ids come from the CODE rows (attribute inlined) so
      // the exact arm's universe is exactly the served index's; the
      // vec_id-0 sentinel is excluded here for the same reason it is
      // excluded from n/nm above — one universe convention for both
      // the stats and the candidate set
      val ids = codes.filter(col("vec_id") =!= 0 && pred).select("vec_id")
      val wRank = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("vec_id"))
      vectors.join(broadcast(ids), Seq("vec_id"), "left_semi")
        .crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(graft.queries.EmbQueries.cosine(col("embedding"),
            col("qvec")), 6).as("sim"))
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= k)
        .select(col("qid"), col("rank"), col("vec_id"), col("sim"))
        .withColumn("strategy", lit("exact_prefilter"))
    } else {
      scoreBatch(spark, indexDir, vectors, batch, k, nprobe, shortN,
        codeFilter = Some(pred))
        .withColumn("strategy", lit("pruned_scan"))
    }
  }

  /** LABEL-AWARE scoring — the per-slice operating point SERVED: each
    * query probes at ITS OWN label's depth, read from the (a_label,
    * np) side table the repair derives (emb_label_nprobe_repair);
    * queries whose label has no entry fall back to the global
    * nprobe=2 point. The read is the IVF exact-rerank flavor (probe
    * the query's top-np cells off the index centroids, fetch the
    * probed cells' true vectors, exact rounded cosine, top-k) —
    * identical arithmetic to the batch emb_label_aware_serving, which
    * StreamingSpec pins row-identical for the anchor queries. At
    * 100 TB the depth table is one broadcast row per label; each
    * query's cost scales with its OWN depth — the point of per-slice
    * repair over raising the global knob.
    *
    * The index artifact paths are resolved explicitly — the
    * EPOCH-CONSISTENT form: the published-manifest
    * sink passes the manifest's current centroid/code paths, so the
    * index served always matches the epoch the (label -> nprobe) side
    * table was derived against (emb_label_nprobe_repair derives off
    * the same manifest). codesPath may be a comma-separated segment
    * list. `indexVersion` pairs the depth read with the serving
    * version: the newest derived table at or below it is served (see
    * readSideTable — consolidating advances re-derive in-batch, so a
    * lagging table is upsert-only-lagged and still valid), a table
    * newer than the version (rollback) is never paired, and when no
    * eligible table exists every label falls back to the global
    * nprobe=2 (the cross-process epoch-consistency contract;
    * single-process flat tables pass None and read whole).
    *
    * @param batch      (qid BIGINT, qvec ARRAY<FLOAT>, qlabel INT)
    * @param depthsPath parquet side table (a_label INT, np INT)
    * @return (qid, rank, vec_id, sim) — top-k per query, rank 1-based
    */
  def scoreBatchLabelAwareAt(
      spark: SparkSession,
      centroidsPath: String,
      codesPath: String,
      vectorsPath: String,
      depthsPath: String,
      batch: DataFrame,
      k: Int = 5,
      indexVersion: Option[Int] = None): DataFrame = {
    val empty = {
      import spark.implicits._
      Seq.empty[(Long, Int, Long, Double)]
        .toDF("qid", "rank", "vec_id", "sim")
    }
    val q = batch.select(col("qid").cast("long").as("qid"),
      col("qvec").cast("array<float>").as("qvec"),
      col("qlabel").cast("int").as("qlabel"))
    if (q.isEmpty) return empty
    // the per-label depth side table — label-keyed first() read (the
    // rebalancedNear broadcast convention: bounded AND key-unique),
    // pinned to the serving index version when one is given
    val depths = readSideTable(spark, depthsPath, indexVersion)
      .select(col("a_label").as("qlabel"), col("np").cast("int").as("np"))
      .groupBy("qlabel").agg(first(col("np")).as("np"))
    val cent = spark.read.parquet(centroidsPath)
      .select(col("c_label").as("clab"), col("cvec"))
      .groupBy("clab").agg(first(col("cvec")).as("cvec"))
    // per-query centroid ranks (B x kk rows), cut to the query's own
    // depth — the ivfRanked ordering contract (NULLS LAST, label tie)
    val wC = Window.partitionBy(col("qid"))
      .orderBy(col("d2").asc_nulls_last, col("clab"))
    val qr = q.crossJoin(broadcast(cent))
      .withColumn("d2",
        graft.functions.VecL2Sq.column(col("qvec"), col("cvec")))
      .withColumn("arn", row_number().over(wC))
      .join(broadcast(depths), Seq("qlabel"), "left")
      .filter(col("arn") <= coalesce(col("np"), lit(2)))
      .select(col("qid"), col("qvec"), col("clab").as("cell"))
    // pruned candidate fetch: only the probed cells' rows, exact rerank
    val codes = IndexStore.readSegments(spark, codesPath)
      .select(col("vec_id"), col("cell"))
    val wR = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    codes.join(broadcast(qr), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .join(spark.read.parquet(vectorsPath)
        .select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(graft.queries.EmbQueries.cosine(col("embedding"),
          col("qvec")), 6).as("sim"))
      .filter(col("sim").isNotNull)
      .withColumn("rank", row_number().over(wR))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), col("sim"))
  }

  /** Score ONE micro-batch of query vectors against the persisted
    * 1-bit BINARY-QUANTIZATION signature artifact (`bitsig/` — the
    * 16-byte (vec_id, h1, h2) rows emb_ivfpq_served's build stages) —
    * the streaming rung of the quantization ladder's cheapest channel,
    * completing the ladder's streaming half (IVF+PQ was the only rung
    * AnnServing served before this).
    *
    * Per-batch plan, for B query vectors against N signatures:
    *   1. SIGN — only the B query vectors touch floats: their
    *      signatures are packed live by the native SignBits kernel
    *      (the same kernel the artifact was built with) and broadcast.
    *   2. HAMMING — one float-free scan of the signature table
    *      (1/32 the corpus at 100 TB) x the broadcast query
    *      signatures: two XORs + two popcounts per (candidate, query)
    *      pair, row_number per query, keep shortN. Self-exclusion is
    *      per query (a corpus vec_id arriving as qid never matches
    *      itself — the emb_bq_served convention).
    *   3. RERANK — fetch the <= B*shortN true vectors and order by
    *      exact rounded cosine, vec_id tiebreak.
    * Identical arithmetic to the batch emb_bq_served (same kernel,
    * same rounding, same tiebreaks) — StreamingSpec pins the row
    * equality for the same query vector.
    *
    * @return (qid, rank, vec_id, hd, sim) — top-k per query, rank
    *         1-based, hd the first-stage Hamming distance
    */
  def scoreBatchBq(
      spark: SparkSession,
      indexDir: String,
      vectors: DataFrame,
      batch: DataFrame,
      k: Int = 5,
      shortN: Int = 20): DataFrame = {
    val empty = {
      import spark.implicits._
      Seq.empty[(Long, Int, Long, Long, Double)]
        .toDF("qid", "rank", "vec_id", "hd", "sim")
    }
    val q = batch.select(col("qid").cast("long").as("qid"),
      col("qvec").cast("array<float>").as("qvec"))
    if (q.isEmpty) return empty

    // 1. SIGN — live signatures for the queries only
    val qsig = q.select(col("qid"),
      graft.functions.SignBits.column(col("qvec")).as("hs"))
      .select(col("qid"),
        element_at(col("hs"), 1).as("q1"),
        element_at(col("hs"), 2).as("q2"))

    // 2. HAMMING over the persisted signature scan
    val wShort = Window.partitionBy(col("qid"))
      .orderBy(col("hd"), col("vec_id"))
    val short = spark.read.parquet(s"$indexDir/bitsig")
      .crossJoin(broadcast(qsig))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        expr("CAST(bit_count(h1 ^ q1) + bit_count(h2 ^ q2) AS BIGINT)")
          .as("hd"))
      .withColumn("rn", row_number().over(wShort))
      .filter(col("rn") <= shortN)
      .select("qid", "vec_id", "hd")

    // 3. RERANK — exact cosine over the fetched true vectors
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    vectors.join(broadcast(short), Seq("vec_id"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("vec_id"), col("hd"),
        round(graft.queries.EmbQueries.cosine(col("embedding"),
          col("qvec")), 6).as("sim"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), col("hd"),
        col("sim"))
  }

  /** VERSIONED streaming serving — the online half of the blue/green
    * publish story (emb_ivfpq_published): the sink re-resolves
    * MANIFEST.json at EVERY micro-batch, so publishing a new index
    * version (one atomic manifest rename) takes effect under live
    * traffic without touching the serving topology, and a rollback is
    * just as instant. Each answered row carries the version that
    * served it — the audit column a production swap needs. Artifact
    * dirs are immutable (versions are logical), so a batch mid-flight
    * when the swap lands still reads a consistent index: it resolved
    * its paths once, at batch start.
    */
  def startPublishedServingSink(
      stream: DataFrame,
      manifestRoot: String,
      vectorsPath: String,
      outDir: String,
      checkpoint: String,
      k: Int = 5,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startScoringSink(stream, outDir, checkpoint, trigger) { batch =>
      val s = batch.sparkSession
      val (ver, centPath, codesPath) =
        IndexStore.readManifest(s, manifestRoot)
      scoreBatchAt(s, centPath, codesPath,
        s"$manifestRoot/codebook", s.read.parquet(vectorsPath),
        batch, k)
        .withColumn("version", PerBatch.lit(ver))
    }

  /** The one sink builder every ANN stream runs through: `body` gets
    * each micro-batch and its id inside foreachBatch, checkpointed at
    * `checkpoint`. `NioLocalFileSystem.install` first routes the
    * session's checkpoint and part files through the fork-free `file:`
    * classes, unless it already names its own.
    */
  private[graft] def foreachBatchSink(
      stream: DataFrame,
      checkpoint: String,
      trigger: Trigger)(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    NioLocalFileSystem.install(stream.sparkSession)
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(body)
      .start()
  }

  /** The streaming server: scores each micro-batch of query vectors
    * with `score` and appends its answer rows (plus the batch id) to
    * `outDir` as parquet. A scorer opens its index and vector table
    * per batch from their on-disk layout — no session-memoized state
    * crosses the boundary, which is what makes the same code runnable
    * in a separate serving process. Any scoreBatch* read fits, e.g.
    * `b => scoreBatchBq(b.sparkSession, idx, vectors, b)`.
    */
  def startScoringSink(
      stream: DataFrame,
      outDir: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow())(
      score: DataFrame => DataFrame): StreamingQuery =
    foreachBatchSink(stream, checkpoint, trigger) { (batch, batchId) =>
      score(batch).withColumn("batch_id", PerBatch.lit(batchId))
        .write.mode("append").parquet(outDir)
    }

  /** [[scoreBatch]] with the three artifact paths resolved explicitly —
    * the published sink passes manifest-resolved paths; scoreBatch
    * delegates here with the as-built index layout.
    *
    * Runs the four-step per-batch plan of the object doc (PROBE, ADC,
    * SHORTLIST, RERANK); codeFilter (filtered search) applies in the
    * SHORTLIST scan, BEFORE the cut.
    */
  def scoreBatchAt(
      spark: SparkSession,
      centroidsPath: String,
      codesPath: String,
      codebookPath: String,
      vectors: DataFrame,
      batch: DataFrame,
      k: Int = 5,
      nprobe: Int = 2,
      shortN: Int = graft.queries.EmbQueries.IvfPqShortN,
      codeFilter: Option[Column] = None,
      excludeIds: Option[DataFrame] = None): DataFrame = {
    import graft.queries.EmbQueries.{PqDim, PqSub}
    val empty = {
      import spark.implicits._
      Seq.empty[(Long, Int, Long, Double)]
        .toDF("qid", "rank", "vec_id", "sim")
    }
    val q = batch.select(col("qid").cast("long").as("qid"),
      col("qvec").cast("array<float>").as("qvec"))
    if (q.isEmpty) return empty

    // 1. PROBE — same kernel, same (d2 NULLS LAST, label) tiebreak as
    // the batch path's ivfRanked
    val cent = spark.read.parquet(centroidsPath)
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("d2").asc_nulls_last, col("c_label"))
    val probe = q.crossJoin(broadcast(cent))
      .select(col("qid"), col("c_label"),
        graft.functions.VecL2Sq.column(col("qvec"), col("cvec"))
          .as("d2"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("c_label").as("cell"))
    val probedCells = probe.select("cell").distinct()
      .collect().map(_.getInt(0))
    if (probedCells.isEmpty) return empty

    // 2. ADC — per-query subvectors x disk codebook, rounded at 6 dp
    // exactly like the batch path's pqAdc
    val cb = spark.read.parquet(codebookPath)
    val qsub = q.select(col("qid"),
      posexplode(array((0 until PqSub).map(j =>
        slice(col("qvec"), j * PqDim + 1, PqDim)): _*)).as(Seq("j", "sv")))
    val adc = qsub.join(broadcast(cb), Seq("j"))
      .select(col("qid"), col("j"), col("cid"),
        round(graft.functions.VecL2Sq.column(col("sv"), col("cvec")), 6)
          .as("pd"))

    // 3. SHORTLIST — directory-pruned code scan, per-query cells
    val wShort = Window.partitionBy(col("qid"))
      .orderBy(col("pq_d2"), col("vec_id"))
    // excludeIds (streaming SOFT-DELETE): the serving process's
    // delete-log rides as a broadcast anti-join on the pruned scan,
    // BEFORE the shortN cut — the emb_ivfpq_soft_delete semantics,
    // online (tombstoned ids never surface while compaction is
    // pending); batch twin pinned in StreamingSpec
    // codesPath may be a comma-separated SEGMENT list (the versioned
    // maintenance manifest form) — all segments are cell-partitioned,
    // so the probed-cell filter still prunes directories per segment
    val masked = excludeIds.foldLeft(
      codeFilter.foldLeft(
        IndexStore.readSegments(spark, codesPath)
          .filter(col("cell").isin(probedCells.map(Int.box): _*)))(_.filter(_)))(
      (d, t) => d.join(broadcast(t.select("vec_id")),
        Seq("vec_id"), "left_anti"))
    val short = masked
      .join(broadcast(probe), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        posexplode(col("codes")).as(Seq("j", "cid")))
      .join(broadcast(adc), Seq("qid", "j", "cid"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("pd").cast(DecimalType(18, 6))).cast("double")
        .as("pq_d2"))
      .withColumn("rn", row_number().over(wShort))
      .filter(col("rn") <= shortN)
      .select("qid", "vec_id")

    // 4. RERANK — exact cosine over the fetched true vectors
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    vectors.join(broadcast(short), Seq("vec_id"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        round(graft.queries.EmbQueries.cosine(col("embedding"),
          col("qvec")), 6).as("sim"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), col("sim"))
  }

  /** TIME-TRAVEL serve: [[scoreBatchAt]] against the artifact paths a
    * HISTORICAL version's immutable log entry records — not the
    * published manifest. Because versions are logical and their dirs
    * immutable (blue/green publish never rewrites an earlier
    * version's files), serving at version v after any amount of later
    * maintenance returns v's exact historical answers — the
    * before/after read an index regression investigation or an A/B of
    * two operating epochs needs, at zero storage cost beyond what the
    * version log already retains. The horizon is GC retention:
    * an expired version fails loudly in the resolve
    * ([[IndexStore.readManifestAt]]), never serves a
    * partially-deleted index.
    */
  def scoreBatchAtVersion(
      spark: SparkSession,
      root: String,
      version: Int,
      vectorsPath: String,
      batch: DataFrame,
      k: Int = 5,
      nprobe: Int = 2,
      shortN: Int = graft.queries.EmbQueries.IvfPqShortN): DataFrame = {
    val (centPath, codesPath) =
      IndexStore.readManifestAt(spark, root, version)
    scoreBatchAt(spark, centPath, codesPath, s"$root/codebook",
      spark.read.parquet(vectorsPath), batch, k, nprobe, shortN)
  }

  /** Score ONE micro-batch of query vectors against the persisted
    * int8-SQ code artifact (`sq/` — per-vector scale + 64 int8 codes,
    * 16x less scan bandwidth than float32): the SQ rung of the
    * streaming quantization ladder. Only the B query vectors quantize
    * live (the same sqCodes arithmetic the artifact was built with,
    * broadcast); the scan is one float-free pass of the code table
    * with the codegen'd IntDot kernel per (candidate, query) pair and
    * a per-query row_number cut. Identical arithmetic to the batch
    * emb_sq_served — StreamingSpec pins the row equality.
    *
    * @return (qid, rank, vec_id, qdot, approx_dot) — top-k per query
    */
  def scoreBatchSq(
      spark: SparkSession,
      indexDir: String,
      batch: DataFrame,
      k: Int = 5): DataFrame = {
    import graft.queries.EmbQueries.SqScale
    val empty = {
      import spark.implicits._
      Seq.empty[(Long, Int, Long, Long, Double)]
        .toDF("qid", "rank", "vec_id", "qdot", "approx_dot")
    }
    val q = batch.select(col("qid").cast("long").as("qid"),
      col("qvec").cast("array<float>").as("qvec"))
    if (q.isEmpty) return empty
    val qrows = broadcast(graft.queries.EmbQueries.sqCodes(
      q.select(col("qid").as("vec_id"), col("qvec").as("embedding")))
      .select(col("vec_id").as("qid"), col("code").as("qcode"),
        col("ma").as("qma")))
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("approx_dot").desc, col("vec_id"))
    spark.read.parquet(s"$indexDir/sq")
      .crossJoin(qrows)
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        graft.functions.IntDot.column(col("code"), col("qcode"))
          .as("qdot"),
        col("ma"), col("qma"))
      .select(col("qid"), col("vec_id"), col("qdot"),
        round(col("qdot").cast("double") * col("ma") * col("qma") /
          lit((SqScale * SqScale).toDouble), 6).as("approx_dot"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), col("qdot"),
        col("approx_dot"))
  }

  /** EPOCH-CONSISTENT label-aware serving: the
    * [[startPublishedServingSink]] shape for the per-slice read —
    * MANIFEST.json re-resolves per micro-batch and the depth side
    * table read is PAIRED with that resolved version (versioned
    * subdirs, newest-at-or-below — see readSideTable), so a new
    * epoch's publish and its re-derived repair table take effect
    * together, a rollback can never pair with a future table, and an
    * upsert-only cadence gap keeps serving the last valid table
    * instead of defaults. Each answered row carries the serving
    * version.
    */
  def startPublishedLabelAwareServingSink(
      stream: DataFrame,
      manifestRoot: String,
      vectorsPath: String,
      depthsPath: String,
      outDir: String,
      checkpoint: String,
      k: Int = 5,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startScoringSink(stream, outDir, checkpoint, trigger) { batch =>
      val s = batch.sparkSession
      val (ver, centPath, codesPath) =
        IndexStore.readManifest(s, manifestRoot)
      scoreBatchLabelAwareAt(s, centPath, codesPath, vectorsPath,
        depthsPath, batch, k, indexVersion = Some(ver))
        .withColumn("version", PerBatch.lit(ver))
    }

  // ------------------------------------------------------------------
  // THE ONE INDEX WRITER. Every change to an ANN index after its build
  // is a versioned op below (upsert, rebalance, retrain epoch, delete,
  // compaction). Each op is a build closure run through
  // graft.index.IndexStore.commitCas, the store's one forward commit:
  // the closure reads the published View, writes version v+1's fresh
  // dirs (View.next — named with the writer's attempt tag) and returns
  // the (centroids, codes) v+1 records, or None when there is nothing
  // to publish; the commit is a compare-and-swap claim of slot v+1 plus
  // one atomic manifest rename. A concurrent writer on the same root is
  // a detected conflict: the loser's fresh dirs are deleted and the op
  // rebases in place on the winner's view (within commitCas's attempt
  // bound), never a lost update. Nothing writes into an as-built index
  // dir after EmbQueries.ensureServedIndex creates it, so the
  // unversioned readers above (scoreBatch, scoreBatchBq, scoreBatchSq,
  // scoreBatchAdaptive) read an immutable artifact, and a maintained
  // index is served from its manifest (startPublishedServingSink,
  // scoreBatchAt).
  //
  // Layout under `root`: the IndexStore manifest + version log, the
  // centroids_v<v>.<tag>/ dirs, code SEGMENT dirs, and the global
  // codebook/ (maintenance never retrains it). The manifest's `codes`
  // field is an ordered list of immutable segment dirs
  // (IndexStore.segments splits it).
  //
  // Why this shape has no torn-index window and no overwrite-recache
  // hazard BY CONSTRUCTION:
  //   1. every write lands in a FRESH dir that no manifest references
  //      yet; the publish is one atomic rename. A crash at any point
  //      leaves the old version serving intact; the orphan v_next dirs
  //      are overwritten by a same-driver replay (same version and tag
  //      re-derive from the unchanged manifest), and a restarted
  //      driver's sink sweeps the aged ones (gcStrayAttemptDirs);
  //   2. no plan ever reads a path an op replaces, so there is no
  //      stale file listing to refresh, no recached plan to defend
  //      against and no lineage to cut before a write.
  //
  // Cost classes, stated honestly for 100 TB:
  //   - upsert: O(batch) — one new segment dir + one manifest rename;
  //     the full-view dedup scan is the id-keyed point-lookup's local
  //     stand-in;
  //   - rebalance / epoch: corpus-proportional consolidation (the
  //     epoch IS a corpus pass), with segment-list compaction as a
  //     free side effect;
  //   - delete: consolidation here (simplest correct blue/green form);
  //     at scale the partition-local alternative is tombstone segments
  //     + the serving-time excludeIds mask (already implemented) with
  //     compaction deferred to the next consolidation op.
  //
  // Replay semantics (foreachBatch redelivery after a crash, BEFORE
  // or AFTER the publish): every op re-derives its inputs from the
  // manifest's CURRENT view. A pre-publish replay recomputes and
  // republishes the same version; a replay after a restart rolls the
  // crashed driver's claim forward and rebases on it. Post-publish,
  // upsert and delete are strictly IDEMPOTENT (the dedup/anti-join
  // finds nothing — zero rows, no publish); rebalance and the epoch
  // are CONVERGING maintenance decisions, not no-ops — a replay
  // re-measures the published view's health and may legitimately act
  // again (e.g. a post-epoch state whose dominant region still trips
  // the skew rule), publishing a strictly newer consistent version.
  // Redelivery therefore never corrupts state; it can only advance
  // maintenance. With a replayable source and this idempotent sink, a
  // maintenance stream is exactly-once in the Structured Streaming
  // sense.
  // ------------------------------------------------------------------

  /** Normalize an arriving upsert micro-batch to the index row shape:
    * (vec_id LONG, embedding ARRAY&lt;FLOAT&gt;, label INT — NULL when
    * the batch carries no label column; attribute inlining keeps the
    * filterable metadata beside the codes).
    */
  private def normalizeUpsertBatch(batch: DataFrame): DataFrame =
    batch.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<float>").as("embedding"),
      (if (batch.columns.contains("label")) col("label")
       else lit(null)).cast("int").as("label"))

  /** Assign + PQ-encode one normalized batch against explicit artifact
    * paths: nearest-centroid cell and per-subspace codebook argmin,
    * both unrounded L2² with NULLS LAST and smallest-id tiebreaks (the
    * batch path's pqArgmin convention), so a streamed upsert encodes
    * exactly as the batch build does.
    *
    * @return (vec_id, codes, label, cell)
    */
  private def encodeBatch(
      spark: SparkSession,
      b: DataFrame,
      centroidsPath: String,
      codebookPath: String): DataFrame = {
    import graft.queries.EmbQueries.{PqDim, PqSub}
    val cent = spark.read.parquet(centroidsPath)
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("d2").asc_nulls_last, col("c_label"))
    val assign = b.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("c_label"),
        graft.functions.VecL2Sq.column(col("embedding"), col("cvec"))
          .as("d2"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("c_label").as("cell"))
    val cb = spark.read.parquet(codebookPath)
    val sub = b.select(col("vec_id"),
      posexplode(array((0 until PqSub).map(j =>
        slice(col("embedding"), j * PqDim + 1, PqDim)): _*))
        .as(Seq("j", "sv")))
    // same argmin as the batch path's pqArgmin: unrounded L2², NULLS
    // LAST, cid tiebreak
    val wCode = Window.partitionBy(col("vec_id"), col("j"))
      .orderBy(col("d2").asc_nulls_last, col("cid"))
    val codes = sub.join(broadcast(cb), Seq("j"))
      .withColumn("d2",
        graft.functions.VecL2Sq.column(col("sv"), col("cvec")))
      .withColumn("rn", row_number().over(wCode))
      .filter(col("rn") === 1)
      .groupBy("vec_id")
      .agg(transform(
        array_sort(collect_list(struct(col("j"), col("cid")))),
        x => x.getField("cid")).as("codes"))
    codes.join(assign, "vec_id")
      .join(b.select(col("vec_id"), col("label")), "vec_id")
  }

  // ------------------------------------------------------------------
  // Versioned SIDE TABLES (per-label depth / budget operating points).
  // Each derivation writes to a FRESH hive-style subdir
  // `<path>/index_version=<v>` — never overwriting the dir a
  // concurrent serving process may be mid-read on (the round-12
  // cross-process hazard: flat overwrite + lazy read could pair a new
  // index version with old depths or hit a half-written dir). Readers
  // filter on the index_version PARTITION column for the manifest
  // version they resolved; a missing version degrades to the default
  // operating point (never a stale pairing, never a torn read).
  // ------------------------------------------------------------------

  /** Versions present in a versioned side table dir, ascending;
    * empty when the dir is absent. Driver-side FS metadata only.
    */
  private[graft] def listSideTableVersions(
      spark: SparkSession, path: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    val re = "^index_version=(\\d+)$".r
    fs.listStatus(p).toSeq
      .flatMap(st => re.findFirstMatchIn(st.getPath.getName)
        .map(_.group(1).toInt))
      .sorted
  }

  /** Retire all but the newest `keep` versions of a side table — the
    * table is |labels| rows per version, but an unattended stream
    * derives one per maintenance advance, so the dir needs the same
    * retention discipline as the version log. A reader on a pruned
    * (rolled-back) version degrades to the default operating point.
    */
  private def pruneSideTable(
      spark: SparkSession, path: String, keep: Int = 3): Unit = {
    val vs = listSideTableVersions(spark, path)
    if (vs.size <= keep) return
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    vs.dropRight(keep).foreach(v => fs.delete(
      new org.apache.hadoop.fs.Path(s"$path/index_version=$v"), true))
  }

  /** Read a per-label side table paired to a resolved index version:
    * the NEWEST derived version that is <= `indexVersion` is served
    * (one bounded agg — the table is |labels| x versions rows, and
    * filtering happens BEFORE the label-keyed read, so versions never
    * mix). Why <= and not ==: consolidating advances (rebalance /
    * epoch / compaction — the moves that invalidate a table) re-derive
    * IN THE SAME BATCH, so a table lagging the manifest is lagged by
    * upsert-only advances and remains valid for serving; exact-match
    * pinning would throw it away and serve defaults through every
    * cadence gap. A table NEWER than the resolved version (rollback in
    * progress) is never served — no future pairing; when nothing <=
    * the resolved version exists, the frame is empty and every label
    * falls back to its default operating point downstream. With None,
    * the newest derived version is served. A legacy FLAT table (no
    * index_version column — e.g. a hand-staged repair decision) passes
    * through whole.
    */
  private def readSideTable(
      spark: SparkSession,
      path: String,
      indexVersion: Option[Int]): DataFrame = {
    val raw = spark.read.parquet(path)
    if (!raw.columns.contains("index_version")) raw
    else {
      val eligible = indexVersion
        .map(v => raw.filter(col("index_version") <= v)).getOrElse(raw)
      val m = eligible.agg(max(col("index_version"))).collect()(0)
      if (m.isNullAt(0)) raw.filter(lit(false))
      else eligible.filter(col("index_version") === m.getInt(0))
    }
  }

  /** VERSIONED upsert: encode the batch against the published
    * centroids (encodeBatch — the batch build's arithmetic, so a
    * streamed index converges ROW-IDENTICAL to the batch-built one
    * over the same vectors), dedup against the published view, write
    * the fresh rows as ONE new immutable segment, publish version+1
    * whose segment list is the old list plus the new dir. O(batch) data
    * written; the manifest rename is the only mutation of shared state.
    * Under a concurrent writer the encode/dedup/segment-write re-runs
    * against the racer's published view (the dedup makes the rebase
    * idempotent under id overlap).
    *
    * @return number of index rows the new version adds (0 = no new
    *         version published)
    */
  def applyUpsertBatchVersioned(
      spark: SparkSession,
      root: String,
      batch: DataFrame): Long = {
    val b = normalizeUpsertBatch(batch)
    if (b.isEmpty) return 0L
    var inserted = 0L
    IndexStore.commitCas(spark, root) { view =>
      val rows = encodeBatch(spark, b, view.centroids, s"$root/codebook")
        .persist()
      rows.count()
      // full-view dedup: maintenance can change centroids between
      // batches, so a replayed id may assign to a different cell than
      // the one its indexed row lives in (at 100 TB a point-lookup
      // against the id-keyed store; the 1-column scan of the 8-byte
      // code segments is the local stand-in)
      val dupIds = IndexStore.readSegments(spark, view.codes)
        .join(broadcast(rows.select("vec_id")), Seq("vec_id"), "left_semi")
        .select("vec_id").distinct()
      val fresh = rows
        .join(broadcast(dupIds), Seq("vec_id"), "left_anti").persist()
      inserted = fresh.count()
      val out =
        if (inserted > 0) {
          // overwrite: a crash-retry of the SAME batch re-derives the
          // same version number from the unchanged manifest and
          // rewrites the orphan dir cleanly
          val seg = view.next("codes_up")
          fresh.write.mode("overwrite").partitionBy("cell").parquet(seg)
          Some((view.centroids, (view.segments :+ seg).mkString(",")))
        } else None
      fresh.unpersist()
      rows.unpersist()
      out
    }
    inserted
  }

  /** VERSIONED cell rebalance: same overgrown-cell detection and
    * order-pinned split arithmetic as the batch emb_ivfpq_rebalance
    * (integer fair-share threshold; seed A = min vec_id, seed B =
    * farthest-from-A with NULLS LAST + id tie, strictly-closer rows
    * move; snap6/mean6 centroid re-derivation for the split
    * memberships only). Skew detection is one count-by-cell over the
    * 8-byte code segments — at 100 TB the store's partition
    * statistics. The result is a CONSOLIDATED new codes segment + a
    * new centroid dir published as version+1 — never a rewrite of
    * anything the current version serves. Consolidation also compacts
    * the upsert segment list back to one dir.
    *
    * @return rows moved into new cells (0 = balanced, nothing
    *         published)
    */
  def applyRebalanceVersioned(
      spark: SparkSession,
      root: String,
      vectorsPath: String,
      num: Int = graft.queries.EmbQueries.RebalanceNum,
      den: Int = graft.queries.EmbQueries.RebalanceDen): Long = {
    var nMoved = 0L
    IndexStore.commitCas(spark, root) { view =>
      nMoved = 0L
      val codes = IndexStore.readSegments(spark, view.codes)
      val szRows = codes.groupBy("cell").agg(count(lit(1)).as("n"))
        .collect()
      val nCells = szRows.length.toLong
      val total = szRows.map(_.getLong(1)).sum
      val overgrown = szRows
        .filter(r => den * r.getLong(1) * nCells > num * total)
        .map(_.getInt(0)).sorted
      if (overgrown.isEmpty) None
      else {
        val cent = spark.read.parquet(view.centroids)
        val maxLabel = cent.agg(max(col("c_label"))).collect()(0).getInt(0)
        val newId: Map[Int, Int] = overgrown.zipWithIndex
          .map { case (c, i) => c -> (maxLabel + i + 1) }.toMap
        val ogCols = overgrown.map(Int.box).toSeq

        val vecs = spark.read.parquet(vectorsPath)
          .select(col("vec_id"), col("embedding").cast("array<float>")
            .as("mvec"))
        // LEFT join + strict-inequality move rule: a row whose vector is
        // missing from the store (store lag, partial restore) keeps NULL
        // distances and stays in its cell — an inner join would silently
        // DROP it from the consolidated segment. Seed A = the cell's
        // smallest vec_id that HAS a vector; a cell of only vectorless
        // rows gets no seed and moves nothing
        val mem = codes.filter(col("cell").isin(ogCols: _*))
          .join(vecs, Seq("vec_id"), "left")
        val seedAV = mem.filter(col("mvec").isNotNull)
          .groupBy("cell").agg(min(col("vec_id")).as("avid"))
          .join(vecs.select(col("vec_id").as("avid"),
            col("mvec").as("avec")), "avid")
          .select("cell", "avec")
        val dA = mem.join(broadcast(seedAV), Seq("cell"), "left")
          .withColumn("d2a",
            graft.functions.VecL2Sq.column(col("mvec"), col("avec")))
        val wB = Window.partitionBy(col("cell"))
          .orderBy(col("d2a").desc_nulls_last, col("vec_id"))
        val seedBV = dA.withColumn("rn", row_number().over(wB))
          .filter(col("rn") === 1)
          .select(col("cell"), col("mvec").as("bvec"))
        val moved = dA.join(broadcast(seedBV), "cell")
          .withColumn("d2b",
            graft.functions.VecL2Sq.column(col("mvec"), col("bvec")))
          .select(col("vec_id"), col("codes"), col("label"),
            when(col("d2b") < col("d2a"),
              element_at(typedLit(newId), col("cell")))
              .otherwise(col("cell")).as("cell"),
            col("mvec"))
        nMoved = moved.filter(col("cell") > maxLabel).count()

        // consolidated v+1 codes: split memberships + untouched cells —
        // reads only the IMMUTABLE old segments, writes only fresh dirs
        val codesNext = view.next("codes")
        val centNext = view.next("centroids")
        moved.select("vec_id", "codes", "label", "cell")
          .unionByName(codes.filter(!col("cell").isin(ogCols: _*))
            .select("vec_id", "codes", "label", "cell"))
          .write.mode("overwrite").partitionBy("cell").parquet(codesNext)
        val splitCent = moved
          .select(col("cell"), posexplode(col("mvec")).as(Seq("dim", "v")))
          .withColumn("vi", graft.queries.EmbQueries.snap6(col("v")))
          .groupBy("cell", "dim")
          .agg(expr(graft.queries.EmbQueries.mean6Expr("vi")).as("cv"))
          .groupBy("cell")
          .agg(transform(
            array_sort(collect_list(struct(col("dim"), col("cv")))),
            x => x.getField("cv")).as("cvec"))
          .select(col("cell").as("c_label"), col("cvec"))
        // an overgrown cell whose rows are ALL vectorless contributes no
        // mean (posexplode drops NULL mvec) yet keeps its rows in
        // codesNext — without its OLD centroid it would become
        // unreachable by probing (the all-vectorless rescue the epoch
        // does via its live/left_anti union)
        val rescued = cent.filter(col("c_label").isin(ogCols: _*))
          .join(splitCent.select("c_label"), Seq("c_label"), "left_anti")
        splitCent
          .unionByName(rescued)
          .unionByName(cent.filter(!col("c_label").isin(ogCols: _*)))
          .write.mode("overwrite").parquet(centNext)
        Some((centNext, codesNext))
      }
    }
    nMoved
  }

  /** VERSIONED retrain-when-due — the streaming form of the batch
    * emb_retrain_decision -> emb_ivfpq_retrain chain: measure the
    * published view's health off its OWN artifacts (one argmin pass
    * for drift, one bounded group-by for skew — the exact integer
    * rules emb_retrain_decision pins), and when either trips, run ONE
    * full Lloyd epoch: M-step re-means every cell from its current
    * membership (snap6/mean6 — ivfCentroids' arithmetic), E-step
    * reassigns every vectored row to its nearest new centroid
    * (NULL-distance rows keep their cell, and an all-vectorless cell
    * keeps its OLD centroid), emptied cells prune. The epoch is
    * published as a consolidated version+1; it reads only immutable
    * published segments and writes only unpublished dirs, so no plan
    * it runs reads a path it writes.
    *
    * @return (ran, misplacedBefore) — ran=false means both health
    *         rules passed and nothing was published
    */
  def applyRetrainEpochIfDueVersioned(
      spark: SparkSession,
      root: String,
      vectorsPath: String,
      num: Int = graft.queries.EmbQueries.RebalanceNum,
      den: Int = graft.queries.EmbQueries.RebalanceDen): (Boolean, Long) = {
    var mis = 0L
    val published = IndexStore.commitCas(spark, root) { view =>
      val codes = IndexStore.readSegments(spark, view.codes)
      val centRaw = spark.read.parquet(view.centroids)
      val cent = centRaw
        .select(col("c_label").as("clab"), col("cvec"))
        .groupBy("clab").agg(first(col("cvec")).as("cvec"))
      val vecs = spark.read.parquet(vectorsPath)
        .select(col("vec_id"),
          col("embedding").cast("array<float>").as("mvec"))
      val szRows = codes.groupBy("cell").agg(count(lit(1)).as("cn"))
        .collect()
      val nCells = szRows.length.toLong
      val total = szRows.map(_.getLong(1)).sum
      val maxCell = if (szRows.isEmpty) 0L else szRows.map(_.getLong(1)).max
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("d2").asc_nulls_last, col("clab"))
      mis = codes.select("vec_id", "cell")
        .join(vecs, Seq("vec_id"), "left")
        .crossJoin(broadcast(cent))
        .withColumn("d2",
          graft.functions.VecL2Sq.column(col("mvec"), col("cvec")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .filter(col("d2").isNotNull && col("clab") =!= col("cell"))
        .count()
      val skew = den.toLong * maxCell * nCells > num.toLong * total
      val drift = total > 0 && mis * 10 >= total
      if (!(skew || drift)) None
      else {
        // M-step: per-cell means over the current memberships
        val cent3 = codes.select("vec_id", "cell")
          .join(vecs, Seq("vec_id"))
          .select(col("cell"), posexplode(col("mvec")).as(Seq("dim", "v")))
          .withColumn("vi", graft.queries.EmbQueries.snap6(col("v")))
          .groupBy("cell", "dim")
          .agg(expr(graft.queries.EmbQueries.mean6Expr("vi")).as("cv"))
          .groupBy("cell")
          .agg(transform(
            array_sort(collect_list(struct(col("dim"), col("cv")))),
            x => x.getField("cv")).as("cvec"))
          .select(col("cell").as("c_label"), col("cvec"))
        val cent3B = cent3
          .select(col("c_label").as("nlab"), col("cvec").as("ncvec"))
        // E-step: reassign every vectored row; NULL distance keeps cell
        val wE = Window.partitionBy(col("vec_id"))
          .orderBy(col("nd2").asc_nulls_last, col("nlab"))
        val asg = codes
          .join(vecs, Seq("vec_id"), "left")
          .crossJoin(broadcast(cent3B))
          .withColumn("nd2",
            graft.functions.VecL2Sq.column(col("mvec"), col("ncvec")))
          .withColumn("rn", row_number().over(wE))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("codes"), col("label"),
            when(col("nd2").isNotNull, col("nlab"))
              .otherwise(col("cell")).as("cell"))
        val codesNext = view.next("codes")
        val centNext = view.next("centroids")
        asg.write.mode("overwrite").partitionBy("cell").parquet(codesNext)
        // final centroids read back off the WRITTEN codes (a fresh dir —
        // reading it is safe): epoch means for surviving cells, plus the
        // old centroid for any all-vectorless cell the means pass missed
        val live = spark.read.parquet(codesNext)
          .select(col("cell").as("c_label")).distinct()
        cent3.join(live, Seq("c_label"), "left_semi")
          .unionByName(centRaw
            .join(live, Seq("c_label"), "left_semi")
            .join(cent3.select("c_label"), Seq("c_label"), "left_anti"))
          .write.mode("overwrite").parquet(centNext)
        Some((centNext, codesNext))
      }
    }
    (published.nonEmpty, mis)
  }

  /** VERSIONED delete: survivors of the published view minus the
    * tombstoned ids, consolidated into a version+1 segment (emptied
    * cells simply never appear — no explicit directory drop, no
    * dynamic-overwrite machinery). Blue/green correctness first; the
    * scale-path alternative for high-rate deletes is the serving-time
    * excludeIds mask with compaction deferred to the next
    * consolidation (both already exist).
    *
    * @return number of index rows the new version removes
    */
  def applyDeleteBatchVersioned(
      spark: SparkSession,
      root: String,
      batch: DataFrame): Long = {
    val ids = batch.select(col("vec_id").cast("long").as("vec_id"))
      .distinct()
    if (ids.isEmpty) return 0L
    var removed = 0L
    IndexStore.commitCas(spark, root) { view =>
      val codes = IndexStore.readSegments(spark, view.codes)
      removed = codes.join(broadcast(ids), Seq("vec_id"), "left_semi")
        .count()
      if (removed == 0L) None
      else {
        val codesNext = view.next("codes")
        codes.join(broadcast(ids), Seq("vec_id"), "left_anti")
          .write.mode("overwrite").partitionBy("cell").parquet(codesNext)
        Some((view.centroids, codesNext))
      }
    }
    removed
  }

  /** SIZE-TIERED SEGMENT COMPACTION when due: an upsert-only version
    * chain grows the manifest's segment list one dir per batch — each
    * segment is O(batch) to write but every read lists and unions all
    * of them, so an unattended ingest stream needs a compaction rung
    * the way a log-structured store does. When the published list
    * exceeds `maxSegments`, only the SMALLEST (n - maxSegments + 1)
    * segments by on-disk bytes rewrite into one merged segment; every
    * other segment dir is carried into version+1 UNTOUCHED (segments
    * are vec_id-disjoint by the upsert anti-join, so any subset merges
    * safely and order is immaterial). Cost is O(merged bytes) — the
    * LSM invariant a 100 TB upsert stream needs: the big base segment
    * is never rewritten just because the tail of small upsert segments
    * grew, where the round-12 form re-paid O(index) per trigger. Same
    * blue/green mechanics: fresh merged dir, one atomic manifest
    * rename, expired versions GC-able; rebalance and the epoch still
    * fully consolidate as a side effect of their own corpus passes.
    *
    * @return true iff a compacted version was published
    */
  def applyCompactionIfDue(
      spark: SparkSession,
      root: String,
      maxSegments: Int = 8): Boolean =
    IndexStore.commitCas(spark, root) { view =>
      val segs = view.segments
      if (segs.size <= maxSegments) None
      else {
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val bySize = segs
          .map(p => (p, fs.getContentSummary(
            new org.apache.hadoop.fs.Path(p)).getLength))
          .sortBy { case (p, bytes) => (bytes, p) }
        val nMerge = segs.size - maxSegments + 1
        val merge = bySize.take(nMerge).map(_._1)
        val kept = segs.filterNot(merge.toSet) // manifest order preserved
        val codesNext = view.next("codes")
        IndexStore.readSegments(spark, merge.mkString(","))
          .write.mode("overwrite").partitionBy("cell").parquet(codesNext)
        Some((view.centroids, (kept :+ codesNext).mkString(",")))
      }
    }.nonEmpty

  /** Re-derive the (label -> nprobe) serving side table against the
    * manifest's CURRENT version — the post-epoch refresh that keeps
    * label-aware serving epoch-consistent (a depth table derived
    * against one epoch and served against another is stale by
    * construction; the engine's own post-epoch audit proves per-label
    * recall moves under an epoch). Same derivation as the batch
    * emb_label_nprobe_repair: anchors = vec_id &lt; 8 of the vector
    * table, ONE candidate scan to depth 4 with the anchor cell-rank
    * carried (each depth a predicate, never a re-scan), exact pooled
    * truth, chosen = the minimum depth in {2,3,4} meeting the 0.4
    * floor (unreachable slices get the max-budget depth 4 — the
    * serving fallback; the batch query is where floor_met stays
    * honest). Writes (a_label, np) to the FRESH subdir
    * `outPath/index_version=&lt;v&gt;` (the versioned side-table
    * convention — see readSideTable: a concurrent serving process
    * filtering on its own manifest version can never pair a new index
    * with old depths or read a half-overwritten dir), and prunes
    * subdirs beyond the newest 3.
    *
    * @return the index version the depths were derived against
    */
  def deriveLabelDepths(
      spark: SparkSession,
      root: String,
      vectorsPath: String,
      outPath: String): Int = {
    val (ver, centPath, codesPath) =
      IndexStore.readManifest(spark, root)
    val e = spark.read.parquet(vectorsPath)
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"),
        col("label"))
    val anchors = broadcast(e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("a_id"),
        coalesce(col("label").cast("int"), lit(-2)).as("a_label"),
        col("embedding").as("av")))
    val cent = spark.read.parquet(centPath)
      .select(col("c_label").as("label"), col("cvec"))
      .groupBy("label").agg(first(col("cvec")).as("cvec"))
    val wA = Window.partitionBy("a_id")
      .orderBy(col("d2").asc_nulls_last, col("label"))
    val aRank4 = broadcast(anchors.crossJoin(broadcast(cent))
      .withColumn("d2",
        graft.functions.VecL2Sq.column(col("av"), col("cvec")))
      .withColumn("arn", row_number().over(wA))
      .filter(col("arn") <= 4)
      .select(col("a_id"), col("label").as("cell"), col("arn")))
    val cells = IndexStore.readSegments(spark, codesPath)
      .select(col("vec_id"), col("cell"))
    import spark.implicits._
    val ns = Seq(2, 3, 4).toDF("np")
    val sims0 = e.select(col("vec_id"), col("embedding"))
      .join(cells, "vec_id")
      .join(aRank4, "cell")
      .join(anchors, "a_id")
      .filter(col("vec_id") =!= col("a_id"))
      .select(col("a_id"), col("a_label"), col("arn"), col("vec_id"),
        round(graft.queries.EmbQueries.cosine(col("embedding"),
          col("av")), 6).as("sim"))
      .filter(col("sim").isNotNull)
    val wP = Window.partitionBy("np", "a_id")
      .orderBy(col("sim").desc, col("vec_id"))
    val t5 = sims0.join(broadcast(ns), col("arn") <= col("np"))
      .withColumn("r", row_number().over(wP))
      .filter(col("r") <= 5)
      .select("np", "a_id", "a_label", "vec_id")
    val wE = Window.partitionBy("a_id")
      .orderBy(col("es").desc, col("vec_id"))
    val exact5 = e.select(col("vec_id"), col("embedding"))
      .crossJoin(anchors)
      .filter(col("vec_id") =!= col("a_id"))
      .select(col("a_id"), col("a_label"), col("vec_id"),
        round(graft.queries.EmbQueries.cosine(col("embedding"),
          col("av")), 6).as("es"))
      .filter(col("es").isNotNull)
      .withColumn("r", row_number().over(wE))
      .filter(col("r") <= 5)
      .select("a_id", "a_label", "vec_id")
    val hits = t5.join(exact5, Seq("a_id", "vec_id"), "left_semi")
      .groupBy("np", "a_label").agg(count(lit(1)).as("n_hits"))
    val truth = exact5.groupBy("a_label")
      .agg(count(lit(1)).as("n_truth"))
    truth.crossJoin(broadcast(ns))
      .join(hits, Seq("np", "a_label"), "left")
      .select(col("np"), col("a_label"), col("n_truth"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .groupBy("a_label")
      .agg(coalesce(min(when(col("n_hits") * 10 >= col("n_truth") * 4,
        col("np"))), lit(4)).cast("int").as("np"))
      .write.mode("overwrite").parquet(s"$outPath/index_version=$ver")
    pruneSideTable(spark, outPath)
    ver
  }

  /** Re-derive the COMBINED-LEVER (label -> nprobe x shortN) serving
    * side table against the manifest's CURRENT version — the streaming
    * twin of the batch emb_label_shortn_repair decision, by
    * construction: the derivation body is the SAME code
    * (EmbQueries.labelBudgetCore), pointed at this manifest's
    * centroids/segments and the root's global codebook, so the batch
    * repair and the streaming refresh can never disagree on a combo.
    * Writes (a_label, np, sn) to `outPath/index_version=&lt;v&gt;`
    * (the versioned side-table convention) with the batch query's
    * fallback encoding: a label whose grid meets no floor gets the
    * full budget (6, 40). Costs one depth-6 ADC scan + one 8-anchor
    * exact pass — the [[deriveLabelDepths]] class, priced identically.
    *
    * @return the index version the budgets were derived against
    */
  def deriveLabelBudgets(
      spark: SparkSession,
      root: String,
      vectorsPath: String,
      outPath: String): Int = {
    val (ver, centPath, codesPath) =
      IndexStore.readManifest(spark, root)
    val vectors = spark.read.parquet(vectorsPath)
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"),
        col("label"))
    val codebook = spark.read.parquet(s"$root/codebook")
    val (_, _, _, chosen) = graft.queries.EmbQueries.labelBudgetCore(
      spark, centPath, codesPath, codebook, vectors)
    chosen.select(col("a_label"),
        floor(coalesce(col("combo"), lit(6040)) / 1000.0)
          .cast("int").as("np"),
        (coalesce(col("combo"), lit(6040)) % 1000).cast("int").as("sn"))
      .write.mode("overwrite").parquet(s"$outPath/index_version=$ver")
    pruneSideTable(spark, outPath)
    ver
  }

  /** BUDGET-AWARE scoring — the streaming serve of the combined-lever
    * operating point (emb_label_budget_serving's arithmetic, online):
    * each query probes to ITS label's chosen nprobe AND shortlists to
    * ITS label's chosen shortN, both read from the (a_label, np, sn)
    * side table [[deriveLabelBudgets]] maintains (newest version at or
    * below the serving version — readSideTable). Unseen labels (and
    * every label when no eligible table version exists) serve at the
    * full budget (6, 40) — the same honest fallback the batch repair
    * row flags. Read plan per batch of B queries: probe B x centroids to
    * depth 6 cut per-query, ONE directory-pruned ADC scan of the
    * probed cells (8-byte codes, never vectors), per-query shortlist
    * heap, exact rerank of &lt;= B*sn fetched vectors — every frame
    * that crosses a join is broadcast-bounded by B and the grid.
    *
    * @param batch (qid BIGINT, qvec ARRAY&lt;FLOAT&gt;, qlabel INT)
    * @return (qid, nprobe, shortn, rank, vec_id, sim), rank 1-based
    */
  def scoreBatchBudgetAwareAt(
      spark: SparkSession,
      centroidsPath: String,
      codesPath: String,
      codebookPath: String,
      vectorsPath: String,
      budgetsPath: String,
      batch: DataFrame,
      k: Int = 5,
      indexVersion: Option[Int] = None): DataFrame = {
    import graft.queries.EmbQueries.{PqDim, PqSub}
    val empty = {
      import spark.implicits._
      Seq.empty[(Long, Int, Int, Int, Long, Double)]
        .toDF("qid", "nprobe", "shortn", "rank", "vec_id", "sim")
    }
    val q = batch.select(col("qid").cast("long").as("qid"),
      col("qvec").cast("array<float>").as("qvec"),
      col("qlabel").cast("int").as("qlabel"))
    if (q.isEmpty) return empty
    // per-query (np, sn) — label-keyed first() read of the side table
    // pinned to the serving version, full-budget fallback
    val budgets = readSideTable(spark, budgetsPath, indexVersion)
      .select(col("a_label").as("qlabel"),
        col("np").cast("int").as("np"), col("sn").cast("int").as("sn"))
      .groupBy("qlabel")
      .agg(first(col("np")).as("np"), first(col("sn")).as("sn"))
    val qb = q.select("qid", "qlabel")
      .join(broadcast(budgets), Seq("qlabel"), "left")
      .select(col("qid"),
        coalesce(col("np"), lit(6)).as("np_c"),
        coalesce(col("sn"), lit(40)).as("sn_c"))
    // probe to each query's OWN depth — same kernel and (d2 NULLS
    // LAST, label) tiebreak as the batch aRank6
    val cent = spark.read.parquet(centroidsPath)
      .select(col("c_label").as("clab"), col("cvec"))
      .groupBy("clab").agg(first(col("cvec")).as("cvec"))
    val wC = Window.partitionBy(col("qid"))
      .orderBy(col("d2").asc_nulls_last, col("clab"))
    val probe = q.crossJoin(broadcast(cent))
      .withColumn("d2",
        graft.functions.VecL2Sq.column(col("qvec"), col("cvec")))
      .withColumn("arn", row_number().over(wC))
      .filter(col("arn") <= 6)
      .join(broadcast(qb), Seq("qid"))
      .filter(col("arn") <= col("np_c"))
      .select(col("qid"), col("clab").as("cell"), col("sn_c"))
    val probedCells = probe.select("cell").distinct()
      .collect().map(_.getInt(0))
    if (probedCells.isEmpty) return empty
    // ADC table per query (B x PqSub x PqK, broadcast)
    val cb = spark.read.parquet(codebookPath)
    val qsub = q.select(col("qid"),
      posexplode(array((0 until PqSub).map(j =>
        slice(col("qvec"), j * PqDim + 1, PqDim)): _*)).as(Seq("j", "sv")))
    val adc = qsub.join(broadcast(cb), Seq("j"))
      .select(col("qid"), col("j"), col("cid"),
        round(graft.functions.VecL2Sq.column(col("sv"), col("cvec")), 6)
          .as("pd"))
    // ONE pruned code scan; per-query shortlist cut at ITS sn
    val wShort = Window.partitionBy(col("qid"))
      .orderBy(col("pq_d2"), col("vec_id"))
    val short = IndexStore.readSegments(spark, codesPath)
      .filter(col("cell").isin(probedCells.map(Int.box): _*))
      .join(broadcast(probe), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("sn_c"), col("vec_id"),
        posexplode(col("codes")).as(Seq("j", "cid")))
      .join(broadcast(adc), Seq("qid", "j", "cid"))
      .groupBy("qid", "sn_c", "vec_id")
      .agg(sum(col("pd").cast(DecimalType(18, 6))).cast("double")
        .as("pq_d2"))
      .withColumn("srn", row_number().over(wShort))
      .filter(col("srn") <= col("sn_c"))
      .select("qid", "vec_id")
    // exact rerank; audit columns carry the served operating point
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    spark.read.parquet(vectorsPath)
      .select(col("vec_id"), col("embedding"))
      .join(broadcast(short), Seq("vec_id"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        round(graft.queries.EmbQueries.cosine(col("embedding"),
          col("qvec")), 6).as("sim"))
      .filter(col("sim").isNotNull)
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .join(broadcast(qb), Seq("qid"))
      .select(col("qid"), col("np_c").as("nprobe"),
        col("sn_c").as("shortn"), col("rank"), col("vec_id"), col("sim"))
  }

  /** EPOCH-CONSISTENT budget-aware serving — the streaming consumer of
    * the combined-lever operating point ([[startPublishedLabelAwareServingSink]]
    * one lever up): MANIFEST.json re-resolves per micro-batch and the
    * budget side table read is paired with that resolved version
    * (newest-at-or-below — readSideTable), so the index served and the
    * (nprobe x shortN) combos probing it always belong to the same
    * epoch lineage; a rollback never pairs with a future table, and
    * when no eligible table exists every label serves the full (6, 40)
    * budget — over-spend, never a stale pairing. Each answered row
    * carries the serving version.
    */
  def startPublishedBudgetAwareServingSink(
      stream: DataFrame,
      manifestRoot: String,
      vectorsPath: String,
      budgetsPath: String,
      outDir: String,
      checkpoint: String,
      k: Int = 5,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startScoringSink(stream, outDir, checkpoint, trigger) { batch =>
      val s = batch.sparkSession
      val (ver, centPath, codesPath) =
        IndexStore.readManifest(s, manifestRoot)
      scoreBatchBudgetAwareAt(s, centPath, codesPath,
        s"$manifestRoot/codebook", vectorsPath, budgetsPath, batch, k,
        indexVersion = Some(ver))
        .withColumn("version", PerBatch.lit(ver))
    }

  /** The self-healing maintenance sink: each micro-batch of arriving
    * (vec_id, embedding[, label]) rows is upserted, then the index is
    * rebalanced if the batch pushed a cell over the skew threshold,
    * retrained by one epoch if a health rule trips, and its segment
    * list compacted when due — serve / upsert / rebalance / retrain,
    * unattended, every step a published version — plus retention GC:
    * each
    * micro-batch leaves the index a chain of immutable versions with
    * the newest published, rollback-able to `keepVersions` deep, and
    * serving (startPublishedServingSink re-resolves the manifest per
    * batch) never observes an intermediate state. When `depthsPath` /
    * `budgetsPath` are given, the per-label serving side tables
    * ((label -> nprobe) via [[deriveLabelDepths]]; (label -> nprobe x
    * shortN) via [[deriveLabelBudgets]]) refresh against the NEW
    * version on a VERSION-CLASS CADENCE: a consolidating advance
    * (rebalance / retrain epoch / compaction — the ops that move
    * centroids or memberships, where a stale table is WRONG, not just
    * drifted) re-derives in the SAME batch; plain upsert-only advances
    * (new rows shift candidate sets only marginally) re-derive lazily,
    * once `refreshEveryVersions` upsert advances accumulate since the
    * last derivation. The cadence is restart-safe with NO extra state:
    * the side table's own newest index_version subdir says how far
    * behind it is. This keeps the O(corpus) exact-truth pass out of
    * the steady-state upsert path — the per-batch cost an ingest-heavy
    * stream at 100 TB cannot pay — while epoch-class moves keep the
    * same-batch consistency guarantee. The retention step also sweeps
    * aged stray attempt dirs and manifest temp files a crashed driver
    * left behind (IndexStore.gcStrayAttemptDirs, default grace).
    *
    * Every op commits by compare-and-swap, so a zombie twin of this sink
    * (a failed-over driver's old instance still holding the foreachBatch
    * open) is a detected conflict and a rebase, never a lost update.
    * `casPublish` is ignored; it stays for callers that still pass it.
    */
  def startVersionedSelfHealingSink(
      stream: DataFrame,
      root: String,
      vectorsPath: String,
      checkpoint: String,
      keepVersions: Int = 3,
      depthsPath: Option[String] = None,
      budgetsPath: Option[String] = None,
      refreshEveryVersions: Int = 4,
      maxSegments: Int = 8,
      num: Int = graft.queries.EmbQueries.RebalanceNum,
      den: Int = graft.queries.EmbQueries.RebalanceDen,
      casPublish: Boolean = false,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    foreachBatchSink(stream, checkpoint, trigger) { (batch, _) =>
      val s = batch.sparkSession
      val v0 = IndexStore.readManifest(s, root)._1
      applyUpsertBatchVersioned(s, root, batch)
      val vUpsert = IndexStore.readManifest(s, root)._1
      applyRebalanceVersioned(s, root, vectorsPath, num, den)
      applyRetrainEpochIfDueVersioned(s, root, vectorsPath, num, den)
      applyCompactionIfDue(s, root, maxSegments)
      val vEnd = IndexStore.readManifest(s, root)._1
      val consolidated = vEnd > vUpsert
      def due(path: String): Boolean = {
        if (vEnd == v0) return false          // nothing moved
        if (consolidated) return true         // epoch-class advance
        // upsert-only advance: refresh once enough versions lag the
        // newest derived table (derived-version bookkeeping IS the
        // side table's own dir listing — restart-safe for free)
        val derived = listSideTableVersions(s, path)
        derived.isEmpty || vEnd - derived.max >= refreshEveryVersions
      }
      depthsPath.foreach(dp =>
        if (due(dp)) deriveLabelDepths(s, root, vectorsPath, dp))
      budgetsPath.foreach(bp =>
        if (due(bp)) deriveLabelBudgets(s, root, vectorsPath, bp))
      IndexStore.gcVersions(s, root, keepVersions)
      IndexStore.gcStrayAttemptDirs(s, root)
    }
}
