package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The VERSIONED streaming maintenance contract (AnnServing
  * applyUpsertBatchVersioned / applyRebalanceVersioned /
  * applyRetrainEpochIfDueVersioned routed through the blue/green
  * manifest):
  *   1. TWIN EQUALITY — on matched inputs (a v1 root of the as-built
  *      index) the versioned rebalance and epoch publish views
  *      row-identical (codes AND centroids) to the oracle-checked batch
  *      emb_ivfpq_rebalance / emb_ivfpq_retrain artifacts; on the skew
  *      workload, which has no batch twin, the split seeds, moves and
  *      snap6/mean6 centroids are recomputed from raw artifacts;
  *   2. IMMUTABILITY — publishing later versions moves no bytes of
  *      earlier versions' artifact dirs (EmbPublishSpec's pin, here
  *      across maintenance ops);
  *   3. KILL-MID-EPOCH — unpublished v-next dirs (the crash window) are
  *      invisible: the manifest keeps serving the old version
  *      row-identically, and the re-run op overwrites the orphan dir
  *      and publishes cleanly;
  *   4. REPLAY IDEMPOTENCE — re-delivering the same batch/ops after the
  *      publish changes nothing (no new version);
  *   5. ROLLBACK + GC — an older version republished serves its exact
  *      old answers; gcVersions keeps the published + newest versions'
  *      segments and serving survives the GC;
  *   6. INDEPENDENT POST-CHECK — after the epoch, zero vectored rows
  *      sit outside their nearest published centroid (drift recomputed
  *      here from raw artifacts, not via the op's own code paths).
  *   7. SINK TWIN — startVersionedSelfHealingSink through a real
  *      stream produces the same published view as the direct calls.
  */
class EmbVersionedMaintenanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def filesOf(d: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(d)).map(f => f.getAbsolutePath -> f.length())
      .toMap
  }

  /** skew workload: clones of the biggest cell's members (the
    * StreamingSpec self-healing recipe) — drives rebalance AND epoch
    */
  private def skewRows(full: org.apache.spark.sql.DataFrame,
      emb: org.apache.spark.sql.DataFrame)
      : Array[(Long, Seq[Float], Int)] = {
    val topCell = full.groupBy("cell").count()
      .orderBy(col("count").desc, col("cell")).collect()(0).getInt(0)
    full.filter(col("cell") === topCell)
      .select("vec_id").join(emb, "vec_id")
      .select("vec_id", "embedding", "label")
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0) + 3000000L, r.getSeq[Float](1), r.getInt(2)))
  }

  private def codesKey(d: org.apache.spark.sql.DataFrame) = d.select(
    col("vec_id"), col("cell"), col("label"),
    array_join(transform(col("codes"), c => c.cast("string")), ",")
      .as("cs"))

  private def centKey(d: org.apache.spark.sql.DataFrame) = d.select(
    col("c_label"),
    array_join(transform(col("cvec"), c => c.cast("string")), ","))

  private def servedAnswers(root: String, vecsPath: String,
      batch: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long, Double)] = {
    val (_, centPath, codesPath) =
      queries.EmbQueries.readManifest(spark, root)
    graft.streaming.AnnServing.scoreBatchAt(spark, centPath, codesPath,
      s"$root/codebook", spark.read.parquet(vecsPath), batch)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted
  }

  test("versioned maintenance: twin equality, immutability, crash window, rollback, GC") {
    val idx = queries.EmbQueries.ensureServedIndex(spark, dir)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val full = spark.read.parquet(s"$idx/codes")
    val rows = skewRows(full, emb)
    import spark.implicits._
    val aug = tmp("ann_ver_vecs")
    emb.select("vec_id", "embedding", "label").unionByName(
      spark.createDataset(rows.toSeq)
        .toDF("vec_id", "embedding", "label")
        .select(col("vec_id"), col("embedding").cast("array<float>"),
          col("label")))
      .write.parquet(s"$aug/embeddings.parquet")
    val augPath = s"$aug/embeddings.parquet"
    val batch = spark.createDataset(rows.toSeq)
      .toDF("vec_id", "embedding", "label")

    // versioned root: v1 = the as-built artifacts, published
    val vroot = tmp("ann_ver")
    full.write.partitionBy("cell").parquet(s"$vroot/codes_v1")
    spark.read.parquet(s"$idx/centroids")
      .write.parquet(s"$vroot/centroids_v1")
    spark.read.parquet(s"$idx/codebook").write.parquet(s"$vroot/codebook")
    queries.EmbQueries.publishVersion(spark, vroot, 1,
      s"$vroot/centroids_v1", s"$vroot/codes_v1")

    // anchor query batch: three real vectors
    val anchors = emb.filter(col("vec_id").isin(1L, 2L, 3L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    anchors.persist().count()

    // 1) versioned UPSERT: O(batch) segment + manifest v2
    val v1Cent = filesOf(s"$vroot/centroids_v1")
    val v1Codes = filesOf(s"$vroot/codes_v1")
    val nUp = graft.streaming.AnnServing
      .applyUpsertBatchVersioned(spark, vroot, batch)
    assert(nUp == rows.length.toLong, s"upsert appended $nUp")
    val (v2, c2, k2) = queries.EmbQueries.readManifest(spark, vroot)
    assert(v2 == 2 && c2.endsWith("centroids_v1"))
    assert(k2 == s"$vroot/codes_v1,$vroot/codes_up_v2", k2)
    // v1 artifacts untouched by the publish (immutability)
    assert(filesOf(s"$vroot/codes_v1") == v1Codes)
    assert(filesOf(s"$vroot/centroids_v1") == v1Cent)
    val answersV2 = servedAnswers(vroot, augPath, anchors)

    // 2) CRASH WINDOW: an orphan unpublished v3 dir (a torn write of
    // the NEXT version) is invisible — manifest and answers unchanged
    spark.range(5).selectExpr("id AS vec_id", "array(1,2) AS codes",
      "CAST(id AS INT) AS label", "CAST(id AS INT) AS cell")
      .write.partitionBy("cell").parquet(s"$vroot/codes_v3")
    assert(queries.EmbQueries.readManifest(spark, vroot)._1 == 2)
    assert(servedAnswers(vroot, augPath, anchors) == answersV2,
      "an unpublished dir changed serving")

    // 3) versioned REBALANCE: overwrites the orphan dir, publishes v3
    val movedV = graft.streaming.AnnServing
      .applyRebalanceVersioned(spark, vroot, augPath)
    assert(movedV > 0, "workload did not skew the index")
    val (v3, _, k3) = queries.EmbQueries.readManifest(spark, vroot)
    assert(v3 == 3 && k3 == s"$vroot/codes_v3", k3)

    // 4) versioned EPOCH when due -> v4
    val (ranV, _) = graft.streaming.AnnServing
      .applyRetrainEpochIfDueVersioned(spark, vroot, augPath)
    assert(ranV, "health rules did not trip")
    assert(queries.EmbQueries.readManifest(spark, vroot)._1 == 4)

    // 5) REPLAY IDEMPOTENCE (upsert/delete — the dedup guarantee): a
    // redelivered batch appends nothing and publishes nothing.
    // Rebalance/epoch replays are converging maintenance decisions,
    // not no-ops (a post-epoch state can legitimately still trip the
    // skew rule) — so they are NOT re-run here, keeping the chain on
    // the one-pass history the recomputation below replays.
    assert(graft.streaming.AnnServing
      .applyUpsertBatchVersioned(spark, vroot, batch) == 0L)
    assert(graft.streaming.AnnServing
      .applyDeleteBatchVersioned(spark, vroot,
        spark.range(9000000L, 9000005L).toDF("vec_id")) == 0L,
      "deleting absent ids published a version")
    assert(queries.EmbQueries.readManifest(spark, vroot)._1 == 4,
      "a replayed no-op published a version")

    // 6a) TWIN EQUALITY vs the oracle-checked batch artifacts, on
    // matched inputs: a v1 root of the as-built index, rebalanced
    // against the corpus store, publishes exactly emb_ivfpq_rebalance's
    // codes_reb / centroids_reb; the epoch over that (its skew rule
    // forced to trip with num/den = 0/1, as the batch chain always
    // runs it) publishes exactly emb_ivfpq_retrain's codes_rt /
    // centroids_rt
    Registry.byName("emb_ivfpq_retrain").build(spark, dir).collect()
    val broot = tmp("ann_ver_batch")
    full.write.partitionBy("cell").parquet(s"$broot/codes_v1")
    spark.read.parquet(s"$idx/centroids")
      .write.parquet(s"$broot/centroids_v1")
    spark.read.parquet(s"$idx/codebook").write.parquet(s"$broot/codebook")
    queries.EmbQueries.publishVersion(spark, broot, 1,
      s"$broot/centroids_v1", s"$broot/codes_v1")
    def assertPublishes(root: String, codesDir: String, centDir: String)
        : Unit = {
      val (_, c, k) = queries.EmbQueries.readManifest(spark, root)
      val (pk, bk) = (codesKey(queries.EmbQueries.readSegments(spark, k)),
        codesKey(spark.read.parquet(codesDir)))
      assert(pk.exceptAll(bk).isEmpty && bk.exceptAll(pk).isEmpty,
        s"published codes != $codesDir")
      val (pc, bc) = (centKey(spark.read.parquet(c)),
        centKey(spark.read.parquet(centDir)))
      assert(pc.exceptAll(bc).isEmpty && bc.exceptAll(pc).isEmpty,
        s"published centroids != $centDir")
    }
    assert(graft.streaming.AnnServing.applyRebalanceVersioned(
      spark, broot, s"$dir/embeddings.parquet") > 0)
    assertPublishes(broot, s"$idx/codes_reb", s"$idx/centroids_reb")
    assert(graft.streaming.AnnServing.applyRetrainEpochIfDueVersioned(
      spark, broot, s"$dir/embeddings.parquet", num = 0, den = 1)._1)
    assertPublishes(broot, s"$idx/codes_rt", s"$idx/centroids_rt")

    // 6b) the skew chain has no batch twin (its clones are not in the
    // corpus), so its rebalance (v2 -> v3) and epoch (v3 -> v4) are
    // recomputed here from the versions' raw artifacts
    def viewAt(v: Int) = {
      val (c, k) = queries.EmbQueries.readManifestAt(spark, vroot, v)
      (queries.EmbQueries.readSegments(spark, k), spark.read.parquet(c))
    }
    val (codes2, cent2) = viewAt(2)
    val (codes3, cent3) = viewAt(3)
    val (codes4, cent4) = viewAt(4)
    val mvecs = spark.read.parquet(augPath)
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("mvec"))
    // both ops only move rows between cells: payloads never change
    val payload = (d: org.apache.spark.sql.DataFrame) =>
      codesKey(d).drop("cell")
    for (d <- Seq(codes3, codes4))
      assert(payload(d).exceptAll(payload(codes2)).isEmpty &&
        payload(codes2).exceptAll(payload(d)).isEmpty)
    // overgrown v2 cells by the integer fair-share rule; new ids
    // follow the max label in overgrown-cell order
    val sz2 = codes2.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val og = sz2.collect { case (c, n) if
        queries.EmbQueries.RebalanceDen * n * sz2.size >
          queries.EmbQueries.RebalanceNum * sz2.values.sum => c }
      .toSeq.sorted
    assert(og.nonEmpty, "skew workload left no overgrown cell")
    val maxLabel2 = cent2.agg(max(col("c_label"))).collect()(0).getInt(0)
    val newIdOf = og.zipWithIndex
      .map { case (c, i) => c -> (maxLabel2 + i + 1) }.toMap
    // seed A = smallest vectored id of the cell, seed B = farthest
    // from A (NULLS LAST, smallest-id tie); a row moves to the new id
    // iff it is STRICTLY closer to B
    val mem = codes2.filter(col("cell").isin(og.map(Int.box): _*))
      .select("vec_id", "cell").join(mvecs, Seq("vec_id"), "left")
    val seedA = mem.filter(col("mvec").isNotNull)
      .groupBy("cell").agg(min(col("vec_id")).as("a_id"))
      .join(mvecs.select(col("vec_id").as("a_id"), col("mvec").as("av")),
        "a_id")
    val distA = mem.join(seedA, Seq("cell"), "left")
      .withColumn("da", graft.functions.VecL2Sq.column(col("mvec"),
        col("av")))
    val seedB = distA.withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("cell")
          .orderBy(col("da").desc_nulls_last, col("vec_id"))))
      .filter(col("r") === 1).select(col("cell"), col("mvec").as("bv"))
    val split = distA.join(seedB, "cell")
      .select(col("vec_id"), when(
        graft.functions.VecL2Sq.column(col("mvec"), col("bv")) <
          col("da"), element_at(typedLit(newIdOf), col("cell")))
        .otherwise(col("cell")).as("cell"))
    val expect3 = codes2.filter(!col("cell").isin(og.map(Int.box): _*))
      .select("vec_id", "cell").unionByName(split)
    val got3 = codes3.select("vec_id", "cell")
    assert(expect3.exceptAll(got3).isEmpty && got3.exceptAll(expect3).isEmpty,
      "rebalance moves differ from the recomputed seeds")
    // v3 centroids: snap6/mean6 of the split cells' v3 memberships,
    // every other cell's v2 centroid carried unchanged
    def means(codes: org.apache.spark.sql.DataFrame) = codes
      .select("vec_id", "cell").join(mvecs, "vec_id")
      .select(col("cell"), posexplode(col("mvec")).as(Seq("dim", "v")))
      .withColumn("vi", queries.EmbQueries.snap6(col("v")))
      .groupBy("cell", "dim")
      .agg(expr(queries.EmbQueries.mean6Expr("vi")).as("cv"))
      .groupBy("cell")
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("cv")))),
        x => x.getField("cv")).as("cvec"))
      .select(col("cell").as("c_label"), col("cvec"))
    val splitCells = (og ++ newIdOf.values).map(Int.box)
    val expectCent3 = centKey(means(codes3)
      .filter(col("c_label").isin(splitCells: _*))
      .unionByName(cent2.filter(!col("c_label").isin(og.map(Int.box): _*))))
    assert(expectCent3.exceptAll(centKey(cent3)).isEmpty &&
      centKey(cent3).exceptAll(expectCent3).isEmpty,
      "split centroids differ from the recomputed means")
    // v4 centroids: the epoch's M-step — means of the v3 memberships,
    // for the cells still live in v4 (step 7 then checks the E-step)
    val expectCent4 = centKey(means(codes3).join(
      codes4.select(col("cell").as("c_label")).distinct(), "c_label"))
    assert(expectCent4.exceptAll(centKey(cent4)).isEmpty &&
      centKey(cent4).exceptAll(expectCent4).isEmpty,
      "epoch centroids differ from the recomputed M-step")
    val (_, cPub, kPub) = queries.EmbQueries.readManifest(spark, vroot)
    val vCodes = queries.EmbQueries.readSegments(spark, kPub)
    val vCent = spark.read.parquet(cPub)

    // 7) INDEPENDENT POST-CHECK: zero vectored rows outside their
    // nearest published centroid (recomputed from raw artifacts)
    val cent = vCent.select(col("c_label").as("clab"), col("cvec"))
      .groupBy("clab").agg(first(col("cvec")).as("cvec"))
    val vecs = spark.read.parquet(augPath)
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("mvec"))
    val wN = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("d2").asc_nulls_last, col("clab"))
    val misAfter = vCodes.select("vec_id", "cell")
      .join(vecs, Seq("vec_id"), "left")
      .crossJoin(broadcast(cent))
      .withColumn("d2",
        graft.functions.VecL2Sq.column(col("mvec"), col("cvec")))
      .withColumn("rn", row_number().over(wN))
      .filter(col("rn") === 1)
      .filter(col("d2").isNotNull && col("clab") =!= col("cell"))
      .count()
    assert(misAfter == 0, s"epoch left $misAfter misplaced rows")

    // 8) ROLLBACK: republish v2 -> the upsert-era answers, exactly;
    // then back to v4
    val answersV4 = servedAnswers(vroot, augPath, anchors)
    queries.EmbQueries.publishVersion(spark, vroot, 2,
      s"$vroot/centroids_v1", s"$vroot/codes_v1,$vroot/codes_up_v2")
    assert(servedAnswers(vroot, augPath, anchors) == answersV2,
      "rollback did not restore the old version's answers")
    queries.EmbQueries.publishVersion(spark, vroot, 4, cPub, kPub)
    assert(servedAnswers(vroot, augPath, anchors) == answersV4)

    // 9) GC keep=1: published v4 retained, earlier exclusive segments
    // deleted, serving intact
    val deleted = queries.EmbQueries.gcVersions(spark, vroot, keep = 1)
    assert(deleted > 0)
    assert(!new java.io.File(s"$vroot/codes_up_v2").exists(),
      "expired upsert segment survived GC")
    assert(servedAnswers(vroot, augPath, anchors) == answersV4,
      "GC broke serving")
    anchors.unpersist()
    ()
  }

  test("versioned self-healing sink equals the direct-call versioned chain") {
    import org.apache.spark.sql.types._
    val idx = queries.EmbQueries.ensureServedIndex(spark, dir)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val full = spark.read.parquet(s"$idx/codes")
    val rows = skewRows(full, emb)
    import spark.implicits._
    val aug = tmp("ann_vsink_vecs")
    emb.select("vec_id", "embedding", "label").unionByName(
      spark.createDataset(rows.toSeq)
        .toDF("vec_id", "embedding", "label")
        .select(col("vec_id"), col("embedding").cast("array<float>"),
          col("label")))
      .write.parquet(s"$aug/embeddings.parquet")
    val augPath = s"$aug/embeddings.parquet"

    val sroot = tmp("ann_vsink")
    val droot = tmp("ann_vsink_direct")
    Seq(sroot, droot).foreach { r =>
      full.write.partitionBy("cell").parquet(s"$r/codes_v1")
      spark.read.parquet(s"$idx/centroids")
        .write.parquet(s"$r/centroids_v1")
      spark.read.parquet(s"$idx/codebook").write.parquet(s"$r/codebook")
      queries.EmbQueries.publishVersion(spark, r, 1,
        s"$r/centroids_v1", s"$r/codes_v1")
    }

    val in = tmp("ann_vsink_in")
    val sb = new StringBuilder
    rows.foreach { case (id, v, l) =>
      sb.append(
        s"""{"vec_id":$id,"embedding":[${v.mkString(",")}],"label":$l}\n""")
    }
    Files.write(java.nio.file.Paths.get(in, "a.json"),
      sb.toString.getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType)),
      StructField("label", IntegerType)))
    val depthsPath = tmp("ann_vsink_depths") + "/depths.parquet"
    val q = graft.streaming.AnnServing.startVersionedSelfHealingSink(
      spark.readStream.schema(schema).json(in),
      sroot, augPath, tmp("ann_vsink_ckpt"),
      depthsPath = Some(depthsPath))
    assert(q.awaitTermination(120000))

    val batch = spark.createDataset(rows.toSeq)
      .toDF("vec_id", "embedding", "label")
    graft.streaming.AnnServing
      .applyUpsertBatchVersioned(spark, droot, batch)
    graft.streaming.AnnServing
      .applyRebalanceVersioned(spark, droot, augPath)
    val (ran, _) = graft.streaming.AnnServing
      .applyRetrainEpochIfDueVersioned(spark, droot, augPath)
    assert(ran)
    queries.EmbQueries.gcVersions(spark, droot, keep = 3)

    val (vs, cs, ks) = queries.EmbQueries.readManifest(spark, sroot)
    val (vd, cd, kd) = queries.EmbQueries.readManifest(spark, droot)
    assert(vs == vd, s"sink published v$vs, direct v$vd")
    val sC = queries.EmbQueries.readSegments(spark, ks)
    val dC = queries.EmbQueries.readSegments(spark, kd)
    assert(codesKey(sC).exceptAll(codesKey(dC)).isEmpty)
    assert(codesKey(dC).exceptAll(codesKey(sC)).isEmpty)
    assert(centKey(spark.read.parquet(cs))
      .exceptAll(centKey(spark.read.parquet(cd))).isEmpty)
    assert(centKey(spark.read.parquet(cd))
      .exceptAll(centKey(spark.read.parquet(cs))).isEmpty)

    // EPOCH-CONSISTENT DEPTHS: the sink refreshed the (label -> np)
    // side table against the version it published — same version
    // stamp, and row-identical to a direct derivation against the
    // sink's final manifest
    val depths = spark.read.parquet(depthsPath)
    assert(depths.filter(col("index_version") =!= vs).count() == 0,
      "depth table derived against a different version than published")
    val directDepths = tmp("ann_vsink_depths2") + "/d.parquet"
    val dv = graft.streaming.AnnServing.deriveLabelDepths(
      spark, sroot, augPath, directDepths)
    assert(dv == vs)
    val dkey = (d: org.apache.spark.sql.DataFrame) =>
      d.select("a_label", "np", "index_version")
    assert(dkey(depths)
      .exceptAll(dkey(spark.read.parquet(directDepths))).isEmpty)
    assert(dkey(spark.read.parquet(directDepths))
      .exceptAll(dkey(depths)).isEmpty)
    ()
  }

  test("upsert-only chain grows one segment per batch; compaction collapses it losslessly") {
    val idx = queries.EmbQueries.ensureServedIndex(spark, dir)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val full = spark.read.parquet(s"$idx/codes")
    val vroot = tmp("ann_compact")
    full.write.partitionBy("cell").parquet(s"$vroot/codes_v1")
    spark.read.parquet(s"$idx/centroids")
      .write.parquet(s"$vroot/centroids_v1")
    spark.read.parquet(s"$idx/codebook").write.parquet(s"$vroot/codebook")
    queries.EmbQueries.publishVersion(spark, vroot, 1,
      s"$vroot/centroids_v1", s"$vroot/codes_v1")

    // three tiny disjoint upserts: one clone of vectors 1..3 each —
    // far below the skew threshold, so nothing consolidates on its own
    import spark.implicits._
    (1 to 3).foreach { k =>
      val batch = emb.filter(col("vec_id") === k.toLong)
        .select((col("vec_id") + lit(5000000L * k)).as("vec_id"),
          col("embedding"), col("label"))
      assert(graft.streaming.AnnServing
        .applyUpsertBatchVersioned(spark, vroot, batch) == 1L)
    }
    val (v4, _, k4) = queries.EmbQueries.readManifest(spark, vroot)
    assert(v4 == 4 && k4.split(',').length == 4,
      s"expected 4 segments after 3 upserts, got $k4")
    val before = queries.EmbQueries.readSegments(spark, k4)
    val nBefore = before.count()
    val keyBefore = codesKey(before).collect().map(_.toString).sorted
    // fingerprint of the big base segment's data files — size-tiered
    // compaction must carry it UNTOUCHED (the LSM invariant: merging
    // the small upsert tail never re-pays the base segment's bytes)
    def fileKey(dir: String): Seq[(String, Long, Long)] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      val b = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Long)]
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet"))
          b += ((st.getPath.toString, st.getLen,
            st.getModificationTime))
      }
      b.sortBy(_._1).toSeq
    }
    val baseBefore = fileKey(s"$vroot/codes_v1")

    // under the threshold: a no-op; over it: a size-TIERED publish —
    // only the smallest (4 - 3 + 1) = 2 upsert segments merge, the
    // base and one upsert segment carry over untouched
    assert(!graft.streaming.AnnServing
      .applyCompactionIfDue(spark, vroot, maxSegments = 4))
    assert(graft.streaming.AnnServing
      .applyCompactionIfDue(spark, vroot, maxSegments = 3))
    val (v5, _, k5) = queries.EmbQueries.readManifest(spark, vroot)
    val segs5 = k5.split(',').toSeq
    assert(v5 == 5 && segs5.length == 3, k5)
    assert(segs5.contains(s"$vroot/codes_v1"),
      s"tiered compaction rewrote the big base segment: $k5")
    assert(fileKey(s"$vroot/codes_v1") == baseBefore,
      "base segment files changed across a tiered compaction")
    val after = queries.EmbQueries.readSegments(spark, k5)
    assert(after.count() == nBefore)
    assert(codesKey(after).collect().map(_.toString).sorted
      .sameElements(keyBefore), "compaction changed the row set")
    // and the segmented version remains rollback-able until GC
    queries.EmbQueries.publishVersion(spark, vroot, 4,
      s"$vroot/centroids_v1", k4)
    assert(queries.EmbQueries
      .readSegments(spark,
        queries.EmbQueries.readManifest(spark, vroot)._3)
      .count() == nBefore)
    ()
  }

  test("versioned sink restart from checkpoint resumes incrementally and matches the per-batch twin") {
    import org.apache.spark.sql.types._
    val idx = queries.EmbQueries.ensureServedIndex(spark, dir)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val full = spark.read.parquet(s"$idx/codes")
    val cells = full.groupBy("cell").count()
      .orderBy(col("count").desc, col("cell")).collect()
    val topCell = cells(0).getInt(0)
    val sndCell = cells(1).getInt(0)
    def clonesOf(cell: Int, off: Long): Array[(Long, Seq[Float], Int)] =
      full.filter(col("cell") === cell)
        .select("vec_id").join(emb, "vec_id")
        .select("vec_id", "embedding", "label")
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0) + off, r.getSeq[Float](1), r.getInt(2)))
    val batchA = clonesOf(topCell, 3000000L)
    val batchB = clonesOf(sndCell, 4000000L)
    import spark.implicits._
    val aug = tmp("ann_restart_vecs")
    emb.select("vec_id", "embedding", "label").unionByName(
      spark.createDataset((batchA ++ batchB).toSeq)
        .toDF("vec_id", "embedding", "label")
        .select(col("vec_id"), col("embedding").cast("array<float>"),
          col("label")))
      .write.parquet(s"$aug/embeddings.parquet")
    val augPath = s"$aug/embeddings.parquet"

    val sroot = tmp("ann_restart")
    val droot = tmp("ann_restart_direct")
    Seq(sroot, droot).foreach { r =>
      full.write.partitionBy("cell").parquet(s"$r/codes_v1")
      spark.read.parquet(s"$idx/centroids")
        .write.parquet(s"$r/centroids_v1")
      spark.read.parquet(s"$idx/codebook").write.parquet(s"$r/codebook")
      queries.EmbQueries.publishVersion(spark, r, 1,
        s"$r/centroids_v1", s"$r/codes_v1")
    }
    def writeFile(in: String, name: String,
        rows: Array[(Long, Seq[Float], Int)]): Unit = {
      val sb = new StringBuilder
      rows.foreach { case (id, v, l) => sb.append(
        s"""{"vec_id":$id,"embedding":[${v.mkString(",")}],"label":$l}\n""")
      }
      Files.write(java.nio.file.Paths.get(in, name),
        sb.toString.getBytes("UTF-8"))
    }
    val in = tmp("ann_restart_in")
    val ckpt = tmp("ann_restart_ckpt")
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType)),
      StructField("label", IntegerType)))
    def runSink(): Unit = {
      val q = graft.streaming.AnnServing.startVersionedSelfHealingSink(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).json(in),
        sroot, augPath, ckpt)
      assert(q.awaitTermination(120000))
    }
    // batch A drains, the sink STOPS (AvailableNow) — the "kill";
    // the restart with the same checkpoint must process ONLY batch B
    writeFile(in, "a.json", batchA)
    runSink()
    val vMid = queries.EmbQueries.readManifest(spark, sroot)._1
    assert(vMid > 1, "batch A published nothing")
    writeFile(in, "b.json", batchB)
    runSink()

    // twin: the same chain called directly, one call set per batch
    Seq(batchA, batchB).foreach { rows =>
      val b = spark.createDataset(rows.toSeq)
        .toDF("vec_id", "embedding", "label")
      graft.streaming.AnnServing.applyUpsertBatchVersioned(spark, droot, b)
      graft.streaming.AnnServing.applyRebalanceVersioned(
        spark, droot, augPath)
      graft.streaming.AnnServing.applyRetrainEpochIfDueVersioned(
        spark, droot, augPath)
      graft.streaming.AnnServing.applyCompactionIfDue(spark, droot, 8)
      queries.EmbQueries.gcVersions(spark, droot, 3)
    }
    val (vs, cs, ks) = queries.EmbQueries.readManifest(spark, sroot)
    val (vd, cd, kd) = queries.EmbQueries.readManifest(spark, droot)
    assert(vs == vd, s"restart chain published v$vs, twin v$vd")
    val sC = queries.EmbQueries.readSegments(spark, ks)
    val dC = queries.EmbQueries.readSegments(spark, kd)
    assert(codesKey(sC).exceptAll(codesKey(dC)).isEmpty)
    assert(codesKey(dC).exceptAll(codesKey(sC)).isEmpty)
    assert(centKey(spark.read.parquet(cs))
      .exceptAll(centKey(spark.read.parquet(cd))).isEmpty)
    assert(centKey(spark.read.parquet(cd))
      .exceptAll(centKey(spark.read.parquet(cs))).isEmpty)
    // no replay duplicates across the restart
    assert(sC.groupBy("vec_id").count().filter(col("count") > 1)
      .count() == 0)
    ()
  }

  test("side-table refresh cadence: upsert-only advances skip the corpus pass, consolidating advances refresh in-batch") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    // a SYNTHETIC perfectly-balanced, fully-converged index (the real
    // sf0.001 geometry trips the tight 10/9 skew rule on its own, so
    // its every batch is consolidating — useless for observing the
    // upsert-only cadence): 4 orthogonal block centroids in 64 dims,
    // 30 vectors per cell sitting EXACTLY on their centroid — zero
    // drift, zero skew, k-means at its fixed point by construction.
    val root = tmp("ann_cadence")
    def blockVec(c: Int): Seq[Float] =
      (0 until 64).map(i => if (i / 16 == c) 1.0f else 0.0f)
    val baseRows = (0 until 120).map(i =>
      (i.toLong, blockVec(i % 4), i % 4))
    Seq((0, blockVec(0)), (1, blockVec(1)), (2, blockVec(2)),
      (3, blockVec(3)))
      .toDF("c_label", "cvec").write.parquet(s"$root/centroids_v1")
    // 16-entry constant-vector codebook per subspace: all-0 and all-1
    // subvectors encode distinctly and deterministically
    (for (j <- 0 until 8; cid <- 0 until 16)
      yield (j, cid, Seq.fill(8)(cid / 8.0f)))
      .toDF("j", "cid", "cvec").write.parquet(s"$root/codebook")
    // bootstrap: publish ONE hand-encoded seed row, then push the
    // remaining 119 through the REAL versioned upsert so every base
    // row's codes come from encodeBatch itself (consistency for free)
    Seq((0L, Seq(8, 8, 0, 0, 0, 0, 0, 0), 0, 0))
      .toDF("vec_id", "codes", "label", "cell")
      .write.partitionBy("cell").parquet(s"$root/codes_v1")
    queries.EmbQueries.publishVersion(spark, root, 1,
      s"$root/centroids_v1", s"$root/codes_v1")
    assert(graft.streaming.AnnServing.applyUpsertBatchVersioned(
      spark, root, baseRows.drop(1)
        .toDF("vec_id", "embedding", "label")) == 119L)
    val vQ = queries.EmbQueries.readManifest(spark, root)._1
    assert(vQ == 2)

    // the vector store: base + the upsert clones + the skew clones
    def clone(off: Long, c: Int): (Long, Seq[Float], Int) =
      (off, blockVec(c), c)
    val skew = (0 until 30).map(i => clone(8000000L + i, 1))
    val aug = tmp("ann_cad_vecs")
    (baseRows ++ Seq(clone(6000000L, 0), clone(7000000L, 0)) ++ skew)
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"),
        col("label"))
      .write.parquet(s"$aug/embeddings.parquet")
    val augPath = s"$aug/embeddings.parquet"

    def writeFile(in: String, name: String,
        rows: Seq[(Long, Seq[Float], Int)]): Unit = {
      val sb = new StringBuilder
      rows.foreach { case (id, v, l) => sb.append(
        s"""{"vec_id":$id,"embedding":[${v.mkString(",")}],"label":$l}\n""")
      }
      Files.write(java.nio.file.Paths.get(in, name),
        sb.toString.getBytes("UTF-8"))
    }
    val in = tmp("ann_cad_in")
    val ckpt = tmp("ann_cad_ckpt")
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType)),
      StructField("label", IntegerType)))
    val depths = tmp("ann_cad_depths") + "/depths.parquet"
    val budgets = tmp("ann_cad_budgets") + "/budgets.parquet"
    def runSink(): Unit = {
      val q = graft.streaming.AnnServing.startVersionedSelfHealingSink(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).json(in),
        root, augPath, ckpt,
        depthsPath = Some(depths), budgetsPath = Some(budgets),
        refreshEveryVersions = 3)
      assert(q.awaitTermination(180000))
    }

    // two upsert-only micro-batches: vQ -> vQ+1 -> vQ+2 (31/32 rows in
    // cell 0 vs 30 elsewhere — under the 10/9 rule, and zero drift, so
    // neither batch consolidates). The FIRST mutating batch derives
    // (no table exists yet); the second is an upsert-only advance 1
    // version behind — UNDER the cadence, so it must NOT re-run the
    // exact-truth corpus pass
    writeFile(in, "a.json", Seq(clone(6000000L, 0)))
    writeFile(in, "b.json", Seq(clone(7000000L, 0)))
    runSink()
    assert(queries.EmbQueries.readManifest(spark, root)._1 == vQ + 2,
      "upsert-only batches consolidated — quiescence assumption broke")
    assert(graft.streaming.AnnServing
      .listSideTableVersions(spark, depths) == Seq(vQ + 1),
      "upsert-only advance re-derived the depth table under cadence")
    assert(graft.streaming.AnnServing
      .listSideTableVersions(spark, budgets) == Seq(vQ + 1))

    // a skew batch (30 clones into cell 1) consolidates (rebalance)
    // — an epoch-class advance must refresh BOTH tables in the same
    // batch, at the new published version
    writeFile(in, "c.json", skew.toSeq)
    runSink()
    val vEnd = queries.EmbQueries.readManifest(spark, root)._1
    assert(vEnd > vQ + 3,
      "skew batch published no consolidating advance")
    assert(graft.streaming.AnnServing
      .listSideTableVersions(spark, depths).max == vEnd,
      "consolidating advance did not refresh depths in-batch")
    assert(graft.streaming.AnnServing
      .listSideTableVersions(spark, budgets).max == vEnd)
    // content sanity: the derived tables hold one operating point per
    // anchor label, inside the grids
    val dRows = spark.read.parquet(depths)
      .filter(col("index_version") === vEnd).collect()
    assert(dRows.nonEmpty && dRows.forall(r =>
      Set(2, 3, 4)(r.getAs[Int]("np"))))
    val bRows = spark.read.parquet(budgets)
      .filter(col("index_version") === vEnd).collect()
    assert(bRows.nonEmpty && bRows.forall(r =>
      Set(2, 3, 4, 5, 6)(r.getAs[Int]("np")) &&
        Set(10, 20, 40)(r.getAs[Int]("sn"))))
    ()
  }

  test("post-rollback fork publish preserves the orphan record; GC reclaims fork-only dirs") {
    val root = tmp("ann_orphan")
    def mkdir(name: String): String = {
      val d = new java.io.File(root, name)
      d.mkdirs()
      Files.write(d.toPath.resolve("part-0.parquet"),
        Array[Byte](1, 2, 3))
      d.getAbsolutePath
    }
    val c1 = mkdir("centroids_v1"); val k1 = mkdir("codes_v1")
    val c2 = mkdir("centroids_v2"); val k2 = mkdir("codes_v2")
    queries.EmbQueries.publishVersion(spark, root, 1, c1, k1)
    queries.EmbQueries.publishVersion(spark, root, 2, c2, k2)
    // rollback to v1 (same-content rewrite of VERSION.1.json — no
    // orphan), then the next maintenance op reuses version number 2
    // with DIFFERENT artifacts: the abandoned fork
    queries.EmbQueries.publishVersion(spark, root, 1, c1, k1)
    val c2b = mkdir("centroids_v2b"); val k2b = mkdir("codes_v2b")
    queries.EmbQueries.publishVersion(spark, root, 2, c2b, k2b)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ex(p: String): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(p))
    assert(ex(s"$root/VERSION.2.orphan.0.json"),
      "fork publish overwrote the old VERSION.2.json without a record")
    // the fork's dirs are in the GC plan even while few versions exist
    val (retained, _, deletable) =
      queries.EmbQueries.gcPlan(spark, root, keep = 2)
    assert(retained == Seq(1, 2))
    assert(deletable.toSet == Set(c2, k2),
      s"fork-only dirs missing from the plan: $deletable")
    assert(queries.EmbQueries.gcVersions(spark, root, keep = 2) == 2)
    assert(!ex(c2) && !ex(k2), "fork dirs leaked")
    assert(!ex(s"$root/VERSION.2.orphan.0.json"), "orphan log leaked")
    // the live lineage is untouched
    assert(ex(c1) && ex(k1) && ex(c2b) && ex(k2b))
    val (v, cp, kp) = queries.EmbQueries.readManifest(spark, root)
    assert(v == 2 && cp == c2b && kp == k2b)
    ()
  }

  test("rebalance rescues the centroid of an overgrown all-vectorless cell") {
    import spark.implicits._
    val root = tmp("ann_rescue")
    // cell 0: 10 rows with NO vectors in the store (tombstoned /
    // vectorless ingest) — overgrown under 10/9 fair share; cell 1:
    // one vectored row
    val codes = ((0 until 10).map(i =>
        (9000L + i, Seq(0, 0), 7, 0)) :+ ((1L, Seq(1, 1), 7, 1)))
      .toDF("vec_id", "codes", "label", "cell")
    codes.write.partitionBy("cell").parquet(s"$root/codes_v1")
    val cents = Seq((0, Seq(0.25f, 0.25f)), (1, Seq(0.75f, 0.75f)))
      .toDF("c_label", "cvec")
    cents.write.parquet(s"$root/centroids_v1")
    queries.EmbQueries.publishVersion(spark, root, 1,
      s"$root/centroids_v1", s"$root/codes_v1")
    val vecs = tmp("ann_rescue_vecs") + "/v.parquet"
    Seq((1L, Seq(0.75f, 0.75f), 7))
      .toDF("vec_id", "embedding", "label").write.parquet(vecs)

    val moved = graft.streaming.AnnServing
      .applyRebalanceVersioned(spark, root, vecs)
    assert(moved == 0L, "vectorless rows must keep their cell")
    val (v, cp, kp) = queries.EmbQueries.readManifest(spark, root)
    assert(v == 2, "overgrown detection must still publish v2")
    // every row survived, cell memberships unchanged
    val after = queries.EmbQueries.readSegments(spark, kp)
    assert(after.filter(col("cell") === 0).count() == 10)
    assert(after.filter(col("cell") === 1).count() == 1)
    // THE RESCUE: cell 0 (all-vectorless, overgrown) kept its OLD
    // centroid — without it those 10 rows would be unreachable by any
    // probe of the published centroids
    val cAfter = spark.read.parquet(cp)
      .select(col("c_label"), col("cvec")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    assert(cAfter.contains(0),
      "overgrown all-vectorless cell lost its centroid")
    assert(cAfter(0) == Seq(0.25f, 0.25f))
    ()
  }
}
