package graft

import org.scalatest.funsuite.AnyFunSuite

/** emb_ivfpq_retrain's epoch contract, asserted at the FILE level like
  * EmbRebalanceSpec (the plan can't show what a write touched):
  *   1. the epoch REASSIGNS, it never edits rows: the retrained
  *      index's (vec_id, codes, label) set is identical to the
  *      rebalanced index's — the PQ codebook is global and the vector
  *      set unchanged, so re-encoding must be the identity;
  *   2. the v2 artifact directories (codes_reb / centroids_reb) keep
  *      their exact file sets across the epoch — building v3 reads
  *      them, never writes them;
  *   3. the manifest's final state is v3 pointing at the retrained
  *      artifacts, and the old epoch stays rollback-able: republishing
  *      v2 flips the served version back, republishing v3 restores it
  *      (one atomic rename each way, no residue);
  *   4. the accounting row is internally consistent and matches an
  *      independent re-derivation of the movement count from the two
  *      artifacts; a completed epoch measures ZERO misplaced rows;
  *   5. every published centroid serves at least one row and every
  *      stored cell has a centroid (no dead probe targets — the prune
  *      step's contract).
  */
class EmbRetrainSpec extends AnyFunSuite {
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

  test("retrain epoch: membership-only rewrite, v2 immutable, v3 published") {
    import org.apache.spark.sql.functions._

    // stage the pre-epoch state (rebalanced artifacts), snapshot v2.
    // If another suite already ran the epoch in this JVM the snapshot
    // is post-epoch — the assertion then degrades to "the retrain
    // query's build performs no further v2 write", which is the same
    // immutability claim going forward.
    Registry.byName("emb_ivfpq_rebalance").build(spark, dir).collect()
    val v2CodesBefore = filesOf("codes_reb")
    val v2CentBefore = filesOf("centroids_reb")
    assert(v2CodesBefore.nonEmpty, "rebalanced artifacts missing")

    val row = Registry.byName("emb_ivfpq_retrain").build(spark, dir)
      .collect()(0)

    // (2) v2 untouched by the epoch
    assert(filesOf("codes_reb") == v2CodesBefore)
    assert(filesOf("centroids_reb") == v2CentBefore)

    val root = indexRoot
    // (3) manifest final state + rollback both ways
    val (v, centPath, codesPath) =
      index.IndexStore.readManifest(spark, root)
    assert(v == 3 && centPath.endsWith("centroids_rt") &&
      codesPath.endsWith("codes_rt"))
    index.IndexStore.publishVersion(spark, root, 2,
      s"$root/centroids_reb", s"$root/codes_reb")
    assert(index.IndexStore.readManifest(spark, root)._1 == 2)
    index.IndexStore.publishVersion(spark, root, 3,
      s"$root/centroids_rt", s"$root/codes_rt")
    val (v3, c3, k3) = index.IndexStore.readManifest(spark, root)
    assert(v3 == 3 && c3.endsWith("centroids_rt") &&
      k3.endsWith("codes_rt"))
    val residue = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(n => n.startsWith("MANIFEST") && n != "MANIFEST.json")
    assert(residue.isEmpty, s"manifest residue: ${residue.toSeq}")

    // (1) the epoch moved membership only: identical row payloads
    val reb = spark.read.parquet(s"$root/codes_reb")
      .select(col("vec_id"), col("codes"), col("label"))
    val rt = spark.read.parquet(s"$root/codes_rt")
      .select(col("vec_id"), col("codes"), col("label"))
    assert(rt.exceptAll(reb).isEmpty && reb.exceptAll(rt).isEmpty,
      "retrain edited row payloads beyond the cell column")

    // (4) accounting consistency + independent movement re-derivation
    val nMovedIndep = spark.read.parquet(s"$root/codes_rt")
      .select(col("vec_id"), col("cell").as("c3"))
      .join(spark.read.parquet(s"$root/codes_reb")
        .select(col("vec_id"), col("cell").as("c2")), "vec_id")
      .filter(col("c3") =!= col("c2")).count()
    assert(row.getAs[Long]("n_moved") == nMovedIndep)
    assert(row.getAs[Int]("version_published") == 3)
    assert(row.getAs[Long]("misplaced_after") == 0L,
      "a completed epoch must measure zero drift")
    assert(row.getAs[Long]("n_cells_after") ==
      spark.read.parquet(s"$root/centroids_rt_all").count() -
        row.getAs[Long]("n_cells_pruned"))
    val nb = row.getAs[Long]("n_hits_before")
    val na = row.getAs[Long]("n_hits_after")
    assert(nb >= 0 && nb <= 5 && na >= 0 && na <= 5)
    assert(row.getAs[Long]("recall_pct_after") == na * 20)

    // (5) no dead probe targets either direction
    val liveCells = spark.read.parquet(s"$root/codes_rt")
      .select(col("cell")).distinct()
    val cent = spark.read.parquet(s"$root/centroids_rt")
      .select(col("c_label").as("cell"))
    assert(cent.exceptAll(liveCells).isEmpty,
      "published centroid with no member rows (prune failed)")
    assert(liveCells.exceptAll(cent).isEmpty,
      "stored cell with no centroid (probe can never reach it)")
  }
}
