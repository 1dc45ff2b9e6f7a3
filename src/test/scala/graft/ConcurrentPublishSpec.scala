package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.IndexStore

/** The optimistic-concurrency (CAS) commit of the versioned ANN index
  * store (IndexStore.publishVersionCas / commitCas / rollbackTo):
  *   1. LOST-UPDATE DETECTION — two writers that both built against
  *      base v race for the v+1 slot; exactly one wins, the loser gets
  *      a Conflict return (never a silent orphan) and its rebase lands
  *      both updates;
  *   2. CRASH-RETRY REPLAY — a claim written by a writer that died
  *      before the manifest swap is completed idempotently by its own
  *      retry (same content -> proceed);
  *   3. ROLL-FORWARD HELPING — a conflict loser finding the manifest
  *      still at its base COMPLETES the abandoned winner's commit from
  *      the claim body (the claim IS the full next manifest), then
  *      rebases onto it — no livelock behind a dead writer, and the
  *      dead writer's work is PUBLISHED, not discarded; the helper
  *      swaps through its own temp file, never a claimant's;
  *   4. EAGER FORK RETIREMENT — rollbackTo orphans every logged
  *      version above the target, so the next CAS commit's slot is
  *      free and a dead lineage can never masquerade as an in-flight
  *      claim; the orphan records keep the fork's dirs GC-visible;
  *   5. TORN-CLAIM SAFETY — a claim that does not parse as the
  *      expected version is surfaced as an error, never published;
  *   6. OP WIRING — every versioned op commits through commitCas: the
  *      chain publishes the oracle-checked batch artifacts, and under a
  *      simulated abandoned racer an op rolls the racer forward, drops
  *      its own lost attempt dirs and lands its rows exactly once on
  *      top;
  *   7. STRAY SWEEP — the maintenance sink's retention step removes
  *      aged, unreferenced attempt dirs and manifest temp files.
  */
class ConcurrentPublishSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def fsOf(root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def ex(p: String): Boolean =
    fsOf(p).exists(new org.apache.hadoop.fs.Path(p))

  private def write(p: String, body: String): Unit = {
    val fs = fsOf(p)
    val o = fs.create(new org.apache.hadoop.fs.Path(p), true)
    o.write(body.getBytes("UTF-8"))
    o.close()
  }

  /** marker artifact dir (the EmbVersionedMaintenanceSpec lineage-test
    * convention: CAS is pure manifest arithmetic, dirs only need to
    * exist)
    */
  private def mkdir(root: String, name: String): String = {
    val p = s"$root/$name"
    fsOf(root).mkdirs(new org.apache.hadoop.fs.Path(p))
    write(s"$p/marker", name)
    p
  }

  private def body(v: Int, c: String, k: String): String =
    s"""{"version":$v,"centroids":"$c","codes":"$k"}\n"""

  test("same-base race: one winner, detected loser, rebase lands both") {
    val root = tmp("cas_race")
    val c1 = mkdir(root, "cent_v1"); val k1 = mkdir(root, "codes_v1")
    assert(IndexStore.publishVersionCas(spark, root, 0, c1, k1))
    // writers A and B both read base 1 and build their own v2
    val cA = mkdir(root, "cent_v2a"); val kA = mkdir(root, "codes_v2a")
    val cB = mkdir(root, "cent_v2b"); val kB = mkdir(root, "codes_v2b")
    assert(IndexStore.publishVersionCas(spark, root, 1, cA, kA),
      "first same-base writer must win")
    assert(!IndexStore.publishVersionCas(spark, root, 1, cB, kB),
      "second same-base writer must see the conflict")
    // A's commit is live; B wrote NOTHING (no orphan record, no
    // manifest change — B holds its artifacts and knows to rebase)
    val (v2, c2, k2) = IndexStore.readManifest(spark, root)
    assert((v2, c2, k2) == ((2, cA, kA)))
    assert(!ex(s"$root/VERSION.2.orphan.0.json"),
      "a DETECTED conflict must not write an orphan record")
    // B rebases through commitCas: its build sees A's published state
    var sawBase = -1
    val vB = IndexStore.commitCas(spark, root) { view =>
      sawBase = view.version
      assert((view.centroids, view.codes) == ((cA, kA)),
        "rebase must build on the winner")
      Some((cB, kB))
    }
    assert(vB.contains(3) && sawBase == 2)
    assert(IndexStore.readManifest(spark, root) == ((3, cB, kB)))
    // both lineages logged — nothing lost
    assert(IndexStore.readManifestAt(spark, root, 2) == ((cA, kA)))
    assert(IndexStore.readManifestAt(spark, root, 3) == ((cB, kB)))
  }

  test("crash-retry replay: a claimed-but-unswapped commit completes idempotently") {
    val root = tmp("cas_replay")
    val c1 = mkdir(root, "cent_v1"); val k1 = mkdir(root, "codes_v1")
    assert(IndexStore.publishVersionCas(spark, root, 0, c1, k1))
    val c2 = mkdir(root, "cent_v2"); val k2 = mkdir(root, "codes_v2")
    // simulate: the writer claimed the v2 slot, then died before the
    // manifest swap
    write(s"$root/VERSION.2.json", body(2, c2, k2))
    assert(IndexStore.readManifest(spark, root)._1 == 1,
      "claim alone must not publish")
    // the writer's retry replays the SAME commit — proceeds
    assert(IndexStore.publishVersionCas(spark, root, 1, c2, k2))
    assert(IndexStore.readManifest(spark, root) == ((2, c2, k2)))
    // a FULL post-success replay is a stale-base no-op (the op layer's
    // dedup handles re-delivered data; the publish layer refuses)
    assert(!IndexStore.publishVersionCas(spark, root, 1, c2, k2))
    assert(IndexStore.readManifest(spark, root) == ((2, c2, k2)))
  }

  test("roll-forward helping: a loser completes the abandoned winner's commit") {
    val root = tmp("cas_helping")
    val c1 = mkdir(root, "cent_v1"); val k1 = mkdir(root, "codes_v1")
    assert(IndexStore.publishVersionCas(spark, root, 0, c1, k1))
    // an abandoned winner: claimed v2, died before the swap
    val cW = mkdir(root, "cent_v2_won"); val kW = mkdir(root, "codes_v2_won")
    write(s"$root/VERSION.2.json", body(2, cW, kW))
    // a second writer commits through commitCas: attempt 1 conflicts,
    // rolls the winner forward, attempt 2 rebases on top of it
    val cL = mkdir(root, "cent_v3"); val kL = mkdir(root, "codes_v3")
    val bases = scala.collection.mutable.ArrayBuffer.empty[Int]
    val v = IndexStore.commitCas(spark, root) { view =>
      bases += view.version
      Some((cL, kL))
    }
    assert(v.contains(3), s"loser must land at 3, got $v")
    assert(bases.toSeq == Seq(1, 2),
      s"expected conflict-then-rebase, saw bases $bases")
    // the dead winner's work is PUBLISHED as v2, not discarded
    assert(IndexStore.readManifestAt(spark, root, 2) == ((cW, kW)))
    assert(IndexStore.readManifest(spark, root) == ((3, cL, kL)))
  }

  test("rollbackTo retires forks eagerly; the next CAS slot is free; GC sees the fork dirs") {
    val root = tmp("cas_rollback")
    val c1 = mkdir(root, "cent_v1"); val k1 = mkdir(root, "codes_v1")
    val c2 = mkdir(root, "cent_v2"); val k2 = mkdir(root, "codes_v2")
    val c3 = mkdir(root, "cent_v3"); val k3 = mkdir(root, "codes_v3")
    assert(IndexStore.publishVersionCas(spark, root, 0, c1, k1))
    assert(IndexStore.publishVersionCas(spark, root, 1, c2, k2))
    assert(IndexStore.publishVersionCas(spark, root, 2, c3, k3))
    IndexStore.rollbackTo(spark, root, 1)
    assert(IndexStore.readManifest(spark, root) == ((1, c1, k1)))
    // forks 2 and 3 retired to orphan records, slots free
    assert(!ex(s"$root/VERSION.2.json") && !ex(s"$root/VERSION.3.json"))
    assert(ex(s"$root/VERSION.2.orphan.0.json") &&
      ex(s"$root/VERSION.3.orphan.0.json"))
    // the next CAS commit proceeds on the freed slot — no dead-fork
    // squatting, no roll-forward of an abandoned lineage
    val c2n = mkdir(root, "cent_v2_new"); val k2n = mkdir(root, "codes_v2_new")
    val v = IndexStore.commitCas(spark, root) { view =>
      assert(view.version == 1 && view.centroids == c1 && view.codes == k1)
      Some((c2n, k2n))
    }
    assert(v.contains(2))
    assert(IndexStore.readManifest(spark, root) == ((2, c2n, k2n)))
    // the fork dirs stay GC-visible through the orphan records
    val (_, _, deletable) = IndexStore.gcPlan(spark, root, keep = 2)
    assert(deletable.toSet == Set(c2, k2, c3, k3),
      s"fork dirs missing from the GC plan: $deletable")
    assert(IndexStore.gcVersions(spark, root, keep = 2) == 4)
    assert(!ex(c2) && !ex(k2) && !ex(c3) && !ex(k3), "fork dirs leaked")
    assert(ex(c1) && ex(k1) && ex(c2n) && ex(k2n))
  }

  test("a torn claim surfaces as an error, never as a published manifest") {
    val root = tmp("cas_torn")
    val c1 = mkdir(root, "cent_v1"); val k1 = mkdir(root, "codes_v1")
    assert(IndexStore.publishVersionCas(spark, root, 0, c1, k1))
    write(s"$root/VERSION.2.json", """{"version":2,"cent""")
    val c2 = mkdir(root, "cent_v2"); val k2 = mkdir(root, "codes_v2")
    val e = intercept[RuntimeException] {
      IndexStore.commitCas(spark, root)(_ => Some((c2, k2)))
    }
    assert(e.getMessage.contains("torn"), e.getMessage)
    assert(IndexStore.readManifest(spark, root) == ((1, c1, k1)),
      "a torn claim must never reach the manifest")
  }

  test("foreign manifest temp file survives a roll-forward") {
    val root = tmp("cas_tmp")
    val c1 = mkdir(root, "cent_v1"); val k1 = mkdir(root, "codes_v1")
    assert(IndexStore.publishVersionCas(spark, root, 0, c1, k1))
    val c2 = mkdir(root, "cent_v2"); val k2 = mkdir(root, "codes_v2")
    write(s"$root/VERSION.2.json", body(2, c2, k2))
    // a live claimant mid-swap: its temp file holds a partial manifest
    val marker = "partial manifest of a live claimant"
    write(s"$root/MANIFEST.2.tmp", marker)
    IndexStore.rollForwardClaim(spark, root, base = 1)
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(root, "MANIFEST.2.tmp")), "UTF-8") == marker,
      "the roll-forward helper rewrote another writer's temp file")
    assert(IndexStore.readManifest(spark, root) == ((2, c2, k2)))
  }

  /** A published v1 root over `codes` with the as-built index's
    * centroids and codebook.
    */
  private def mkRoot(idx: String, codes: org.apache.spark.sql.DataFrame)
      : String = {
    val r = tmp("cas_root")
    codes.write.partitionBy("cell").parquet(s"$r/codes_v1")
    spark.read.parquet(s"$idx/centroids").write.parquet(s"$r/centroids_v1")
    spark.read.parquet(s"$idx/codebook").write.parquet(s"$r/codebook")
    IndexStore.publishVersion(spark, r, 1,
      s"$r/centroids_v1", s"$r/codes_v1")
    r
  }

  private def codesKey(d: org.apache.spark.sql.DataFrame) = d.select(
    col("vec_id"), col("cell"), col("label"),
    array_join(transform(col("codes"), c => c.cast("string")), ",")
      .as("cs"))

  private def centKey(d: org.apache.spark.sql.DataFrame) = d.select(
    col("c_label"),
    array_join(transform(col("cvec"), c => c.cast("string")), ","))

  /** The published view equals the given artifacts row for row. */
  private def assertPublishes(root: String,
      codes: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame, what: String): Unit = {
    val (_, c, k) = IndexStore.readManifest(spark, root)
    val (pk, bk) = (codesKey(IndexStore.readSegments(spark, k)),
      codesKey(codes))
    assert(pk.exceptAll(bk).isEmpty && bk.exceptAll(pk).isEmpty,
      s"published codes != $what")
    val (pc, bc) = (centKey(spark.read.parquet(c)), centKey(cent))
    assert(pc.exceptAll(bc).isEmpty && bc.exceptAll(pc).isEmpty,
      s"published centroids != $what")
  }

  test("upsert rebuilds the as-built index; a dead racer is rolled forward") {
    val dir = "/root/testdata/sf0.001"
    val idx = queries.EmbQueries.ensureServedIndex(spark, dir)
    val full = spark.read.parquet(s"$idx/codes")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    import spark.implicits._
    // v1 lacks five as-built rows; the upsert brings them back
    val slice = full.select("vec_id").orderBy("vec_id").limit(5)
      .collect().map(_.getLong(0))
    val batch = emb.filter(col("vec_id").isin(slice.map(Long.box): _*))
      .select("vec_id", "embedding", "label")
    val root = mkRoot(idx, full.filter(!col("vec_id").isin(
      slice.map(Long.box): _*)))
    assert(streaming.AnnServing
      .applyUpsertBatchVersioned(spark, root, batch) == 5L)
    val (v2, c2, k2) = IndexStore.readManifest(spark, root)
    assert(v2 == 2)
    // the new segment is an attempt dir of this writer
    assert(k2 == s"$root/codes_v1,$root/codes_up_v2." +
      IndexStore.attemptTag(spark), k2)
    // row-identical to the as-built index emb_ivfpq_served reads
    assertPublishes(root, full, spark.read.parquet(s"$idx/centroids"),
      "the as-built index")
    // replay idempotence: all rows present now
    assert(streaming.AnnServing
      .applyUpsertBatchVersioned(spark, root, batch) == 0L)
    assert(IndexStore.readManifest(spark, root)._1 == 2,
      "an all-dup replay must not publish an empty advance")

    // abandoned racer: another sink claimed v3 (content = v2's view
    // under a consolidated alias dir) and died before the swap
    val fs = fsOf(root)
    val alias = s"$root/codes_racer_v3"
    IndexStore.readSegments(spark, k2)
      .write.partitionBy("cell").parquet(alias)
    write(s"$root/VERSION.3.json", body(3, c2, alias))
    val batchRows = emb.filter(col("vec_id").isin(slice.map(Long.box): _*))
      .orderBy("vec_id").select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0) + 7000000L, r.getSeq[Float](1), r.getInt(2)))
    val batch2 = spark.createDataset(batchRows.toSeq)
      .toDF("vec_id", "embedding", "label")
    val n2 = streaming.AnnServing
      .applyUpsertBatchVersioned(spark, root, batch2)
    assert(n2 == 5L)
    val (vF, _, kF) = IndexStore.readManifest(spark, root)
    assert(vF == 4, s"racer rolled forward to 3, ours lands at 4: $vF")
    assert(IndexStore.readManifestAt(spark, root, 3)._2 == alias,
      "the dead racer's commit must be published, not discarded")
    val view = IndexStore.readSegments(spark, kF)
    assert(view.filter(col("vec_id") >= 7000000L).count() == 5L,
      "the upsert batch landed exactly once")
    assert(view.select("vec_id").distinct().count() == view.count(),
      "no duplicate ids after the rebase")
    // the failed first attempt's segment was cleaned up on rebase —
    // no unreferenced dir left behind (attempt dirs are tag-suffixed)
    val leftover = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("codes_up_v3"))
    assert(leftover.isEmpty,
      s"rebase left conflicted attempt dirs behind: ${leftover.toSeq}")
  }

  test("consolidating op under a racer: rolls it forward, cleans up, rebases") {
    val dir = "/root/testdata/sf0.001"
    val idx = queries.EmbQueries.ensureServedIndex(spark, dir)
    val full = spark.read.parquet(s"$idx/codes")
    val root = mkRoot(idx, full)
    val victims = full.select("vec_id").orderBy("vec_id").limit(3)

    // an abandoned racer's claim squats slot 2 (valid content: the
    // same view under an alias dir)
    val alias = s"$root/codes_racer_v2"
    full.write.partitionBy("cell").parquet(alias)
    write(s"$root/VERSION.2.json", body(2, s"$root/centroids_v1", alias))

    // one op call: the lost first attempt rolls the racer forward and
    // the op rebases in place on it
    val removed = streaming.AnnServing
      .applyDeleteBatchVersioned(spark, root, victims)
    assert(removed == 3L)
    // the racer was rolled forward, not discarded
    assert(IndexStore.readManifestAt(spark, root, 2)._2 == alias)
    // this writer's conflicted attempt dir was cleaned
    val stray = fsOf(root).listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName)
      .filter(n => n.startsWith("codes_v2") && n.contains("."))
    assert(stray.isEmpty, s"conflicted attempt dirs left: ${stray.toSeq}")
    val (v3, _, k3) = IndexStore.readManifest(spark, root)
    assert(v3 == 3)
    assert(IndexStore.readSegments(spark, k3)
      .join(victims, Seq("vec_id"), "left_semi").count() == 0L,
      "tombstoned ids survived the rebased delete")
  }

  test("CAS maintenance chain publishes the oracle-checked batch artifacts") {
    val dir = "/root/testdata/sf0.001"
    val idx = queries.EmbQueries.ensureServedIndex(spark, dir)
    // the batch chain's rebalanced and retrained artifacts (the
    // EmbVersionedMaintenanceSpec twin-equality convention)
    Registry.byName("emb_ivfpq_retrain").build(spark, dir).collect()
    val full = spark.read.parquet(s"$idx/codes")
    val vecs = s"$dir/embeddings.parquet"
    val emb = spark.read.parquet(vecs)
    val slice = full.select("vec_id").orderBy("vec_id").limit(5)
      .collect().map(_.getLong(0))
    val sliceCol = col("vec_id").isin(slice.map(Long.box): _*)
    val root = mkRoot(idx, full.filter(!sliceCol))
    def publishes(codes: String, cent: String, what: String) =
      assertPublishes(root, spark.read.parquet(codes),
        spark.read.parquet(cent), what)

    // upsert (v2: two segments) then compaction (v3: one) rebuild the
    // as-built index
    assert(streaming.AnnServing.applyUpsertBatchVersioned(spark, root,
      emb.filter(sliceCol).select("vec_id", "embedding", "label")) == 5L)
    assert(streaming.AnnServing
      .applyCompactionIfDue(spark, root, maxSegments = 1))
    val (v3, _, k3) = IndexStore.readManifest(spark, root)
    assert(v3 == 3 && IndexStore.segments(k3).size == 1, k3)
    publishes(s"$idx/codes", s"$idx/centroids", "the as-built index")
    // rebalance (v4) = emb_ivfpq_rebalance; epoch (v5, skew rule forced
    // with num/den = 0/1 as the batch chain runs it) = emb_ivfpq_retrain
    assert(streaming.AnnServing.applyRebalanceVersioned(spark, root, vecs) > 0)
    publishes(s"$idx/codes_reb", s"$idx/centroids_reb", "codes_reb")
    assert(streaming.AnnServing.applyRetrainEpochIfDueVersioned(
      spark, root, vecs, num = 0, den = 1)._1)
    publishes(s"$idx/codes_rt", s"$idx/centroids_rt", "codes_rt")
    // delete (v6) = the retrained artifacts minus the tombstones
    assert(streaming.AnnServing.applyDeleteBatchVersioned(spark, root,
      full.select("vec_id").filter(sliceCol)) == 5L)
    assertPublishes(root,
      spark.read.parquet(s"$idx/codes_rt").filter(!sliceCol),
      spark.read.parquet(s"$idx/centroids_rt"), "codes_rt minus deletes")
    assert(IndexStore.readManifest(spark, root)._1 == 6)
  }

  test("gcStrayAttemptDirs sweeps only unreferenced, aged attempt dirs") {
    val root = tmp("cas_stray")
    val c1 = mkdir(root, "cent_v1"); val k1 = mkdir(root, "codes_v1")
    assert(IndexStore.publishVersionCas(spark, root, 0, c1, k1))
    // a REFERENCED tag-suffixed dir (published under CAS): must survive
    val c2 = mkdir(root, "centroids_v2.app-1")
    val k2 = mkdir(root, "codes_v2.app-1")
    assert(IndexStore.publishVersionCas(spark, root, 1, c2, k2))
    // a stray from a pre-claim crash: unreferenced, any age
    val dead = mkdir(root, "codes_v3.dead-writer")
    // a non-attempt dir (no tag suffix) is out of scope even if stray
    mkdir(root, "codes_orphanish")
    // grace window protects fresh dirs
    assert(IndexStore.gcStrayAttemptDirs(spark, root,
      graceMs = 3600 * 1000L) == 0)
    assert(ex(dead))
    // aged out (grace 0): only the dead writer's dir goes
    assert(IndexStore.gcStrayAttemptDirs(spark, root,
      graceMs = 0L) == 1)
    assert(!ex(dead), "stray attempt dir survived the sweep")
    assert(ex(c2) && ex(k2), "a referenced attempt dir was swept")
    assert(ex(s"$root/codes_orphanish"), "non-attempt dir was swept")
  }

  test("the maintenance sink sweeps aged stray attempts, keeps fresh ones") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // a tiny balanced, converged index: two cells, one row each, every
    // vector on its centroid — the sink's ops all find nothing to do
    val root = tmp("cas_sweep")
    Seq((1L, Seq(0, 0), 7, 0), (2L, Seq(1, 1), 7, 1))
      .toDF("vec_id", "codes", "label", "cell")
      .write.partitionBy("cell").parquet(s"$root/codes_v1")
    Seq((0, Seq(0.25f, 0.25f)), (1, Seq(0.75f, 0.75f)))
      .toDF("c_label", "cvec").write.parquet(s"$root/centroids_v1")
    IndexStore.publishVersion(spark, root, 1,
      s"$root/centroids_v1", s"$root/codes_v1")
    val vecs = tmp("cas_sweep_vecs") + "/v.parquet"
    Seq((1L, Seq(0.25f, 0.25f), 7), (2L, Seq(0.75f, 0.75f), 7))
      .toDF("vec_id", "embedding", "label").write.parquet(vecs)
    // what a driver that crashed before its claim leaves behind
    val aged = mkdir(root, "codes_up_v2.dead-driver")
    val fresh = mkdir(root, "codes_up_v2.live-driver")
    write(s"$root/MANIFEST.2.dead-driver.tmp", "torn")
    val old = System.currentTimeMillis() - 7L * 3600 * 1000
    Seq(aged, s"$root/MANIFEST.2.dead-driver.tmp")
      .foreach(p => assert(new java.io.File(p).setLastModified(old)))

    // one sink batch (an empty file: nothing to upsert)
    val in = tmp("cas_sweep_in")
    Files.write(java.nio.file.Paths.get(in, "a.json"), Array.emptyByteArray)
    val ckpt = tmp("cas_sweep_ckpt")
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType)),
      StructField("label", IntegerType)))
    assert(streaming.AnnServing.startVersionedSelfHealingSink(
      spark.readStream.schema(schema).json(in), root, vecs, ckpt)
      .awaitTermination(120000))
    assert(new java.io.File(ckpt, "commits/0").isFile, "no sink batch ran")
    assert(IndexStore.readManifest(spark, root)._1 == 1)
    assert(!ex(aged), "aged stray attempt dir survived the sink batch")
    assert(!ex(s"$root/MANIFEST.2.dead-driver.tmp"),
      "aged manifest temp file survived the sink batch")
    assert(ex(fresh), "a fresh attempt dir was swept inside its grace")
    assert(ex(s"$root/codes_v1") && ex(s"$root/centroids_v1"))
  }
}
