package graft

import org.scalatest.funsuite.AnyFunSuite

/** emb_ivfpq_published's blue/green contract:
  *   1. the publish history ends at v3 (the retrained epoch) and the
  *      query's answer carries that version;
  *   2. versions are LOGICAL — publishing v3 moves no bytes: the v1
  *      AND v2 artifact directories keep their exact file sets;
  *   3. rollback = republishing v1's manifest, after which the SAME
  *      query serves the as-built index row-identically to
  *      emb_ivfpq_served (plus version 1);
  *   4. the swap is a single manifest rename: no .tmp residue, and
  *      the manifest parses to the paths it was published with.
  */
class EmbPublishSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def indexRoot: String = {
    val h = java.lang.Integer.toHexString(dir.hashCode & 0x7fffffff)
    val pid = ProcessHandle.current().pid()
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_ivfpq_${pid}_$h").toString
  }

  private def filesOf(sub: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(indexRoot, sub))
      .map(f => f.getAbsolutePath -> f.length()).toMap
  }

  test("blue/green publish: v3 served, v1/v2 immutable, atomic rollback") {
    val rows = Registry.byName("emb_ivfpq_published").build(spark, dir)
      .collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getAs[Int]("version") == 3))

    val root = indexRoot
    val (v, centPath, codesPath) =
      index.IndexStore.readManifest(spark, root)
    assert(v == 3)
    assert(centPath.endsWith("centroids_rt"))
    assert(codesPath.endsWith("codes_rt"))
    // no torn/temporary manifest state left behind
    val residue = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(n => n.startsWith("MANIFEST") && n != "MANIFEST.json")
    assert(residue.isEmpty, s"manifest residue: ${residue.toSeq}")

    // v1 and v2 artifacts untouched by building/publishing v3 (logical
    // versions move no bytes): snapshot, republish v3, re-snapshot
    val v1CodesBefore = filesOf("codes")
    val v1CentBefore = filesOf("centroids")
    val v2CodesBefore = filesOf("codes_reb")
    val v2CentBefore = filesOf("centroids_reb")
    index.IndexStore.publishVersion(spark, root, 3,
      s"$root/centroids_rt", s"$root/codes_rt")
    assert(filesOf("codes") == v1CodesBefore)
    assert(filesOf("centroids") == v1CentBefore)
    assert(filesOf("codes_reb") == v2CodesBefore)
    assert(filesOf("centroids_reb") == v2CentBefore)

    // ROLLBACK: republish v1; the same query now serves the as-built
    // index, row-identical to emb_ivfpq_served
    index.IndexStore.publishVersion(spark, root, 1,
      s"$root/centroids", s"$root/codes")
    val (v1, c1, k1) = index.IndexStore.readManifest(spark, root)
    assert(v1 == 1 && c1.endsWith("centroids") && k1.endsWith("codes"))
    val rolled = Registry.byName("emb_ivfpq_published").build(spark, dir)
      .collect()
    assert(rolled.forall(_.getAs[Int]("version") == 1))
    val served = Registry.byName("emb_ivfpq_served").build(spark, dir)
      .select("vec_id", "sim").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rolledPairs = rolled
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    assert(rolledPairs == served, s"rolled=$rolledPairs served=$served")

    // leave the published state at v3 — the oracle's pinned version
    index.IndexStore.publishVersion(spark, root, 3,
      s"$root/centroids_rt", s"$root/codes_rt")
    assert(index.IndexStore.readManifest(spark, root)._1 == 3)
  }

  test("version GC: expired-only dirs deleted, shared/retained/external kept") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_gc").toString
    def mkDir(name: String): String = {
      val p = s"$root/$name"
      spark.range(2).write.mode("overwrite").parquet(p)
      p
    }
    val v1c = mkDir("cent_v1")
    val v1k = mkDir("codes_v1")
    val v2c = mkDir("cent_v2")
    val sharedK = mkDir("codes_shared") // v2 and v3 share the codes dir
    val v3c = mkDir("cent_v3")
    val ext = "/definitely/external/artifacts" // outside root: never offered
    index.IndexStore.publishVersion(spark, root, 1, v1c, v1k)
    index.IndexStore.publishVersion(spark, root, 2, v2c, sharedK)
    index.IndexStore.publishVersion(spark, root, 3, v3c, sharedK)
    index.IndexStore.publishVersion(spark, root, 4, v3c, ext)

    // keep 3 => only v1 expires; its two dirs are the whole plan
    val (retained, expired, dirs) =
      index.IndexStore.gcPlan(spark, root, keep = 3)
    assert(retained == Seq(2, 3, 4) && expired == Seq(1))
    assert(dirs.toSet == Set(v1c, v1k), s"plan: $dirs")

    val deleted = index.IndexStore.gcVersions(spark, root, keep = 3)
    assert(deleted == 2)
    assert(!new java.io.File(v1c).exists() && !new java.io.File(v1k).exists())
    // shared + retained dirs untouched, manifest still the published v4
    assert(new java.io.File(sharedK).exists() && new java.io.File(v2c).exists())
    assert(index.IndexStore.readManifest(spark, root)._1 == 4)
    assert(index.IndexStore.listVersions(spark, root).map(_._1) ==
      Seq(2, 3, 4))

    // keep 2 => v2 expires; sharedK survives (v3 still references it)
    val (_, exp2, dirs2) = index.IndexStore.gcPlan(spark, root, keep = 2)
    assert(exp2 == Seq(2) && dirs2 == Seq(v2c), s"plan2: $dirs2")
    index.IndexStore.gcVersions(spark, root, keep = 2)
    assert(new java.io.File(sharedK).exists() && !new java.io.File(v2c).exists())

    // keep 1 => v3 expires; its cent dir is shared with v4 (kept) and
    // the external codes path is never offered for deletion
    val (_, exp3, dirs3) = index.IndexStore.gcPlan(spark, root, keep = 1)
    assert(exp3 == Seq(3) && dirs3 == Seq(sharedK), s"plan3: $dirs3")

    // more retained than published: a provable no-op
    val (r4, e4, d4) = index.IndexStore.gcPlan(spark, root, keep = 10)
    assert(r4 == Seq(3, 4) && e4.isEmpty && d4.isEmpty)

    // ROLLBACK + GC: republish v3 (an OLD version — the live manifest
    // now points behind the newest log entry). keep=1 retains the
    // newest (v4) AND the published v3 — nothing the live manifest
    // references is ever offered for deletion, and gcVersions leaves
    // serving intact
    index.IndexStore.publishVersion(spark, root, 3, v3c, sharedK)
    assert(index.IndexStore.readManifest(spark, root)._1 == 3)
    val (r5, e5, d5) = index.IndexStore.gcPlan(spark, root, keep = 1)
    assert(r5 == Seq(3, 4) && e5.isEmpty && d5.isEmpty,
      s"rollback GC must retain the published version: $r5 $e5 $d5")
    index.IndexStore.gcVersions(spark, root, keep = 1)
    assert(new java.io.File(sharedK).exists() &&
      new java.io.File(v3c).exists())
    val (_, cRoll, kRoll) = index.IndexStore.readManifest(spark, root)
    assert(new java.io.File(cRoll).exists() &&
      new java.io.File(kRoll).exists(),
      "GC after rollback deleted dirs the live manifest points at")
  }
}
