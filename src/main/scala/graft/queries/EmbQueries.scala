package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.TextFns.{cleanSql, tokensSql}

/** Similarity search over the `embeddings` table (ArrayType(FloatType),
  * 64-dim). Brute-force cosine is the exact baseline: at 100 TB the same
  * plan holds — the query vector is a broadcast scalar, the scan is
  * narrow (no shuffle), and top-k is TakeOrderedAndProject (per-partition
  * heap + driver merge), so cost is one pass over the data. The
  * LSH-bucketed scale path lives in DedupQueries/graft.ops (round 2+).
  *
  * All float math is widened to double element-wise IN ARRAY ORDER so
  * Spark and the DuckDB oracle sum identically; outputs are rounded.
  */
object EmbQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "embeddings")

  /** sum of a[i]*b[i] accumulated in double, left-to-right — the native
    * codegen'd kernel (graft.functions.VecDot); identical order/width to
    * the aggregate(zip_with(...)) fold the oracle SQL expresses, so
    * results stay bit-for-bit (VectorKernelsSpec pins it)
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VecDot.column(a, b)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** zero-norm inputs yield 0.0 (ANSI division would throw; the DuckDB
    * twin's x/0 would yield NULL). One-pass fused kernel — the three
    * sums accumulate independently in array order, bit-identical to the
    * compose-of-dots form the oracle expresses.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VecCosine.column(a, b)

  /** Every native vector kernel (VecDot/VecCosine/VecL2Sq) follows the
    * same off-contract convention: NULL when the two lengths differ or
    * any element is NULL, 0.0 for two empty vectors, and otherwise a
    * fold over the COMMON length (a ragged vector against an
    * equally-ragged one computes a real short sum). DuckDB's bare
    * list_sum over a fixed range(1, 65) instead SKIPS the NULL terms
    * and returns a partial sum — the silent cross-engine divergence
    * class the LshSig twin guards against. Every SQL distance fold
    * therefore goes through this helper, which mirrors the kernel
    * semantics exactly: pairwise length guard, null-element guard,
    * empty-pair zero, dynamic-length fold.
    */
  private def strictFold(a: String, b: String, term: String): String =
    s"""(CASE WHEN len($a) <> len($b)
       |    OR len(list_filter($a, x -> x IS NULL)) > 0
       |    OR len(list_filter($b, x -> x IS NULL)) > 0 THEN NULL
       |  WHEN len($a) = 0 THEN 0.0
       |  ELSE list_sum(list_transform(range(1, len($a) + 1), i -> $term))
       |  END)""".stripMargin

  /** DuckDB twins — explicit fold, not list_cosine_similarity, so the
    * accumulation order/width provably matches the Spark side.
    */
  def dotSql(a: String, b: String): String =
    strictFold(a, b, s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)")

  /** the VecL2Sq twin: same guard convention as [[dotSql]] */
  def l2Sql(a: String, b: String): String =
    strictFold(a, b,
      s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * " +
        s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))")
  def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  /** rounded safe cosine, matching the Spark-side zero-norm convention */
  def cosSql(a: String, b: String): String =
    s"round(CASE WHEN ${normSql(a)} * ${normSql(b)} = 0 THEN 0.0 " +
      s"ELSE ${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)}) END, 6)"

  /** ULP-IMMUNE 6-dp mean — the replacement for `round(avg(v), 6)` on
    * embedding-valued doubles. round(avg(double)) is order-dependent:
    * each engine's partial-aggregation order can land the mean one ulp
    * either side of a 5e-7 rounding boundary and flip the 6th dp (the
    * bug that hash-failed emb_drift_by_label in round 4 — every
    * centroid/codebook here shares that exposure, and a codebook flip
    * cascades into every assignment-derived query). Exact form: each
    * value snaps to the 1e-6 grid first (one IEEE multiply + half-away
    * round of the SAME double on both engines — deterministic; ties
    * can't occur at the non-dyadic 5e-11 boundary), the sum/count are
    * exact int64, the grid mean is a half-away-from-zero integer
    * division written out longhand, and the result maps back to double
    * exactly (one correctly-rounded division of identical integers).
    * Null-safe like avg: count(vi) skips null padding, empty groups
    * yield NULL. [[mean6Expr]] is the Spark aggregate-expression form
    * over a pre-snapped `vi` column, [[mean6Sql]] the DuckDB twin, and
    * [[snap6]]/[[snap6Sql]] the per-value grid snap.
    */
  private[graft] def snap6(v: Column): Column =
    round(v.cast("double") * 1e6, 0).cast("long")
  private[graft] def snap6Sql(v: String): String =
    s"CAST(round(CAST($v AS DOUBLE) * 1e6, 0) AS BIGINT)"
  // The grid sums accumulate as DECIMAL(38,0) (Spark) / HUGEINT
  // (DuckDB, its native sum(BIGINT) type): a plain int64 `2*sum(vi)`
  // would WRAP SILENTLY under non-ANSI Spark once a group gathers
  // ~4.6e12 unit-magnitude 1e6-grid values — exactly the 100 TB regime
  // these queries claim exactness for — while the oracle side errored.
  // Decimal overflow instead yields NULL (loud in any hash compare),
  // and the values are bit-identical to the int64 path wherever that
  // path didn't wrap. `div` (IntegralDivide) accepts decimal inputs and
  // still returns BIGINT.
  private[graft] def mean6Expr(vi: String): String =
    s"""CASE WHEN count($vi) = 0 THEN CAST(NULL AS DOUBLE)
       |ELSE CAST(CASE WHEN sum($vi) >= 0
       |  THEN (2 * sum(CAST($vi AS DECIMAL(19,0))) + count($vi))
       |    div (2 * count($vi))
       |  ELSE -((-2 * sum(CAST($vi AS DECIMAL(19,0))) + count($vi))
       |    div (2 * count($vi))) END
       |  AS DOUBLE) / 1e6 END""".stripMargin
  private[graft] def mean6Sql(vi: String): String =
    s"""CASE WHEN count($vi) = 0 THEN CAST(NULL AS DOUBLE)
       |ELSE CAST(CASE WHEN sum($vi) >= 0
       |  THEN (2 * sum($vi) + count($vi))
       |    // (2 * count($vi))
       |  ELSE -((-2 * sum($vi) + count($vi))
       |    // (2 * count($vi))) END
       |  AS DOUBLE) / 1e6 END""".stripMargin

  /** Sign-LSH signature shared by the ANN query and the embedding
    * near-dup pair query: SigBits fixed integer hyperplanes, banded into
    * SigBands bands for candidate generation (a truly-similar pair
    * agrees on at least one full band with high probability; candidate
    * volume is ~n²/2^SigBandBits per band, never O(n²)).
    *
    * The hyperplane weight at (dim i, plane j) is
    * ((i*73 + j*151 + i*j*31) % 997) % 5 - 2 — the i*j cross term is
    * what keeps hyperplanes distinct for EVERY j: any weight pattern
    * affine in j modulo m repeats with period m (the round-1 formula
    * (i*7 + j*13) % 5 made planes j and j+5 identical, collapsing the
    * "8-bit" bucket to 32 effective buckets).
    *
    * SigBits derives from the kernel (LshSig.Bits = 32, 2x16-bit bands
    * -> 65,536 keys per band; round 2 ran 16 bits / 2x8 bands = 256
    * keys) — candidate volume per band is ~n²/2^SigBandBits, so wider
    * bands are what keep the candidate stage linear as the corpus
    * grows. Bit 31 makes signatures negative half the time; every band
    * extraction masks after shifting, so the sign bit is harmless.
    */
  val SigBits: Int = graft.functions.LshSig.Bits
  val SigBands = 2
  val SigBandBits: Int = SigBits / SigBands // 16 -> 65,536 keys per band
  val SigBandMask: Int = (1 << SigBandBits) - 1

  /** native codegen'd kernel (graft.functions.LshSig) — all SigBits
    * plane dots in one pass; same weights/order as signatureSql below
    */
  def signature(v: Column): Column = graft.functions.LshSig.column(v)

  def signatureSql(v: String): String = {
    def dotJSql(j: Int): String =
      s"list_sum(list_transform(range(1, 65), i -> CAST($v[i] AS DOUBLE) * " +
        s"CAST(((i * ${73 + j * 31} + ${j * 151}) % 997) % 5 - 2 AS DOUBLE)))"
    val sig = (0 until SigBits).map(j =>
      s"(CASE WHEN ${dotJSql(j)} >= 0 THEN ${1 << j} ELSE 0 END)")
      .mkString(" + ")
    // mirror the kernel's strict 64-dim contract (LshSig.sig null-poisons
    // ragged or null-element vectors); off-contract inputs must be NULL on
    // BOTH engines, not a DuckDB-only partial signature
    s"(CASE WHEN len($v) <> ${graft.functions.LshSig.Dims} OR " +
      s"len(list_filter($v, x -> x IS NULL)) > 0 THEN NULL ELSE $sig END)"
  }

  def bandOf(c: Column, b: Int): Column =
    shiftright(c, SigBandBits * b).bitwiseAND(lit(SigBandMask))
  def bandOfSql(c: String, b: Int): String =
    s"(($c >> ${SigBandBits * b}) & $SigBandMask)"

  /** ANN probing layout: the SAME 32-bit signature read as 4x8-bit
    * bands. Pair MINING wants precision (2x16 above: candidate volume
    * ~n²/65,536 — the linear-at-scale argument), but single-query ANN
    * wants recall: a query shares a full 16-bit band with almost
    * nothing, while 4 chances at an 8-bit match yield ~4n/256
    * candidates — a 1.5 % scan instead of a miss. One signature, two
    * read patterns; no second hashing pass.
    */
  val AnnBands = 4
  val AnnBandBits: Int = SigBits / AnnBands // 8 -> 256 keys per band
  val AnnBandMask: Int = (1 << AnnBandBits) - 1
  def annBandOf(c: Column, b: Int): Column =
    shiftright(c, AnnBandBits * b).bitwiseAND(lit(AnnBandMask))
  def annBandOfSql(c: String, b: Int): String =
    s"(($c >> ${AnnBandBits * b}) & $AnnBandMask)"

  /** k-means MINIMUM cluster count (emb_kmeans / emb_semantic_dedup);
    * the effective count is max(K, n div KDiv) — see kmeansRanked
    */
  private val K = 8

  /** √n divisor for the effective cluster count: kk = max(K,
    * floor(sqrt(n)) div KSqrtDiv) — the textbook IVF sizing (nlist ≈
    * √n), which BALANCES the two costs that pull K in opposite
    * directions: assignment work is n·kk and within-cluster pair work
    * is ~n²/kk, so kk ∝ √n makes both n^1.5 (a fixed kk leaves pairs
    * quadratic — the 30x probe measured emb_eval_contamination at
    * 24.7 s; kk ∝ n leaves assignment quadratic — measured 32.5 s on
    * emb_kmeans). At every pinned oracle scale (n ≤ 2000,
    * √2000/6 = 7 < 8) the effective count stays K, so hashes there are
    * unchanged. IEEE sqrt is correctly rounded, so both engines compute
    * the same integer. At 10⁹+ vectors a deployment additionally
    * indexes the CENTROID lookup itself (ANN over kk centroids) — the
    * composition emb_ivfpq_ann already demonstrates.
    */
  private val KSqrtDiv = 6

  /** product quantization (emb_pq_ann): PqSub x PqDim = 64 dims, PqK
    * codebook entries per subspace. MUST sit above qs — the oracle
    * strings interpolate these eagerly during object init, and a
    * forward val reference reads 0 (same trap as K above).
    */
  private[graft] val PqSub = 8
  private[graft] val PqDim = 8
  private val PqK = 16

  /** IVF+PQ serving shape (emb_ivfpq_ann): ADC shortlist size before
    * the exact rerank — the "refine" knob of a production ANN server.
    */
  private[graft] val IvfPqShortN = 20

  /** nDCG position discounts 1/log2(pos+1) for pos 1..5, as FIXED
    * micro-integer literals (round(1e6/log2(pos+1))): both engines
    * consume the same constants, so the metric never computes a
    * runtime log2 (whose final ulp is engine-specific).
    */
  private val NdcgDiscMicro = Seq(1000000L, 630930L, 500000L, 430677L, 386853L)

  /** ideal DCG@5 in micro units: all five positions relevant */
  private val NdcgIdcgMicro = NdcgDiscMicro.sum

  /** exact cosine top-5 for the query vector — the ground truth ranking
    * emb_recall_eval, emb_ndcg_eval and emb_rrf_rank_quality all
    * measure against. Memoized + persisted per (session, dir) like the
    * other three channel top-5s: each is a bounded 5-row frame whose
    * lineage is a full corpus scan, and the three eval queries consume
    * all four channels — without the memo every eval re-materializes
    * every channel (4 corpus scans x 3 evals). Warmed in [[warmShared]].
    */
  private def exactTop5(s: SparkSession, d: String): DataFrame =
    graft.CacheRegistry.memo("emb_exact_top5", s, d)(
      graft.CacheRegistry.track(s, {
        val e = emb(s, d)
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv")))
        e.filter(col("vec_id") =!= 0)
          .crossJoin(qv)
          .select(col("vec_id"),
            round(cosine(col("embedding"), col("qv")), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(5)
      }))

  /** IVF-flavored ANN (emb_ivf_ann, reused by emb_recall_eval): coarse
    * codebook = per-label centroids (rounded so both engines agree
    * bit-for-bit), inverted lists = cell assignment by nearest
    * centroid, probe = the query's 2 nearest cells. Search touches
    * only ~2/10 of the corpus; at scale the codebook grows and the
    * plan shape is unchanged (centroids broadcast, one narrow scan +
    * cell-filtered top-k).
    */
  /** shared IVF assignment lineage: every vector ranked against the
    * per-label centroid codebook (rn = 1 is its cell). Consumed by
    * ivfTop5 (search), emb_recall_eval (via ivfSql) and
    * emb_cell_balance (index health).
    */
  /** the IVF coarse codebook (c_label, cvec): per-label rounded
    * centroids — shared by ivfRanked (assignment/search) and the
    * persisted serving index build (emb_ivfpq_served writes exactly
    * this frame as the index's centroid table)
    */
  private def ivfCentroids(s: SparkSession, d: String): DataFrame =
    emb(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("vi", snap6(col("v")))
      .groupBy("label", "dim")
      .agg(expr(mean6Expr("vi")).as("cv"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cv")))),
        x => x.getField("cv")).as("cvec"))
      .withColumnRenamed("label", "c_label") // avoid clash with e.label

  private def ivfRanked(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    // codebook: label -> rounded centroid vector
    val cent = ivfCentroids(s, d)
    // cell assignment: nearest centroid per vector (tie -> low label)
    val dists = e.crossJoin(broadcast(cent))
      .withColumn("d2", // codegen'd kernel, same in-order double fold
        graft.functions.VecL2Sq.column(col("embedding"), col("cvec")))
    // NULLS LAST: see pqArgmin — a NULL distance must never win argmin
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("d2").asc_nulls_last, col("c_label"))
    dists.withColumn("rn", row_number().over(w))
  }

  /** LSH top-5 for the query vector (emb_lsh_ann; reused by
    * emb_ndcg_eval): band-bucketed candidates, exact cosine on the
    * bounded candidate set only.
    */
  private def lshTop5(s: SparkSession, d: String): DataFrame =
    graft.CacheRegistry.memo("emb_lsh_top5", s, d)(
      graft.CacheRegistry.track(s, {
        val e = emb(s, d)
        val withSig = e.withColumn("sig", signature(col("embedding")))
        val qRow = broadcast(withSig.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"), col("sig").as("qsig")))
        val anyBand = (0 until AnnBands).map(b =>
          annBandOf(col("sig"), b) === annBandOf(col("qsig"), b))
          .reduce(_ || _)
        withSig.crossJoin(qRow)
          .filter(col("vec_id") =!= 0 && anyBand)
          .select(col("vec_id"),
            round(cosine(col("embedding"), col("qv")), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(5)
      }))

  /** DuckDB twin of [[lshTop5]] — a complete WITH...SELECT, nestable
    * as a parenthesized subquery (emb_ndcg_eval does)
    */
  private lazy val lshSql: String = {
    val anyBand = (0 until AnnBands).map(b =>
      s"${annBandOfSql("sig", b)} = ${annBandOfSql("qsig", b)}").mkString(" OR ")
    s"""WITH b AS (
       |  SELECT vec_id, embedding, ${signatureSql("embedding")} AS sig
       |  FROM embeddings
       |), q AS (SELECT embedding AS qv, sig AS qsig FROM b WHERE vec_id = 0)
       |SELECT vec_id, ${cosSql("embedding", "qv")} AS sim
       |FROM b, q WHERE vec_id <> 0 AND ($anyBand)
       |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin
  }

  /** Memoized NARROW assignment slice (vec_id, c_label, d2, rn <= 2):
    * the rn=1 rows are every vector's cell + its centroid distance
    * (the per-cell radius input), rn=2 the runner-up (the 2-cell probe
    * when vec 0 is the query). Shared by the IVF compositions added
    * in round 10 (emb_range_search, emb_maxsim_ivf, emb_maxsim_recall)
    * so the corpus x centroid fold runs ONCE per (session, dir) —
    * narrow on purpose: embeddings are NOT persisted here; consumers
    * join the vector table back for only the cells they scan (at
    * 100 TB this frame is the index's assignment table and the join
    * is the pruned fetch). Warmed in [[warmShared]]; outside the warm,
    * emb_maxsim_ivf is the alphabetically-first consumer and carries
    * the one-time fold.
    */
  private def ivfAssign(s: SparkSession, d: String): DataFrame =
    graft.CacheRegistry.memo("emb_ivf_assign", s, d)(
      graft.CacheRegistry.track(s,
        ivfRanked(s, d).filter(col("rn") <= 2)
          .select(col("vec_id"), col("c_label"), col("d2"), col("rn"))))

  private def ivfTop5(s: SparkSession, d: String): DataFrame =
    graft.CacheRegistry.memo("emb_ivf_top5", s, d)(
      graft.CacheRegistry.track(s, {
        val e = emb(s, d)
        val ranked = ivfRanked(s, d)
        val cells = ranked.filter(col("rn") === 1)
          .select(col("vec_id"), col("c_label").as("cell"))
        // probe: the query vector's 2 nearest cells
        val qCells = broadcast(ranked
          .filter(col("vec_id") === 0 && col("rn") <= 2)
          .select(col("c_label").as("cell")))
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv")))
        e.join(cells, "vec_id")
          .join(qCells, "cell")
          .filter(col("vec_id") =!= 0)
          .crossJoin(qv)
          .select(col("vec_id"),
            round(cosine(col("embedding"), col("qv")), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(5)
      }))

  /** shared CTE chain of [[ivfRanked]] + the cell assignment — the SQL
    * twin every IVF consumer composes over
    */
  private def ivfCellsCte: String =
    s"""expl AS (
       |  SELECT label, CAST(i - 1 AS INT) AS dim,
       |    ${snap6Sql("embedding[i]")} AS vi
       |  FROM embeddings CROSS JOIN range(1, 65) r(i)
       |), cdim AS (
       |  SELECT label, dim, ${mean6Sql("vi")} AS cv
       |  FROM expl GROUP BY 1, 2
       |), cent AS (
       |  SELECT label,
       |    list_transform(list_sort(list(struct_pack(dim := dim, cv := cv))), x -> x.cv) AS cvec
       |  FROM cdim GROUP BY label
       |), dists AS (
       |  SELECT e.vec_id, c.label,
       |    ${l2Sql("e.embedding", "c.cvec")} AS d2
       |  FROM embeddings e CROSS JOIN cent c
       |), ranked AS (
       |  SELECT vec_id, label,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, label) AS rn
       |  FROM dists
       |), cells AS (
       |  SELECT vec_id, label AS cell FROM ranked WHERE rn = 1
       |)""".stripMargin

  /** DuckDB twin of [[ivfTop5]] — a complete WITH...SELECT, nestable as
    * a parenthesized subquery (emb_recall_eval does)
    */
  private def ivfSql: String =
    s"""WITH $ivfCellsCte, qcells AS (
       |  SELECT label AS cell FROM ranked WHERE vec_id = 0 AND rn <= 2
       |), qv AS (
       |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
       |)
       |SELECT e.vec_id, ${cosSql("e.embedding", "qv.qv")} AS sim
       |FROM embeddings e
       |JOIN cells ON cells.vec_id = e.vec_id
       |JOIN qcells ON qcells.cell = cells.cell
       |CROSS JOIN qv
       |WHERE e.vec_id <> 0
       |ORDER BY sim DESC, e.vec_id LIMIT 5""".stripMargin

  /** hybrid-retrieval constants (emb_hybrid_rrf): corpus-vocabulary
    * query terms, channel depth, and the standard RRF smoothing
    * constant K = 60. Declared BEFORE qs — the Q records capture them
    * at object init.
    */
  val HybridTerms: Seq[String] = Seq("table", "hash", "merge", "sort")
  val HybridTopN = 50
  val HybridRrfK = 60

  /** emb_mrl_recall: how many leading dims the truncated rank uses */
  val MrlDim = 16

  /** emb_ivfpq_filtered: the metadata predicate value — production
    * vector search is almost never unfiltered ("top-k similar WHERE
    * label = 3"); label 3 exists at every sf and in the edge set
    */
  val FilteredLabel = 3

  /** emb_ivfpq_filtered_miss: a label NO corpus row carries — pins the
    * empty-filtered-result path (empty shortlist -> empty rerank ->
    * zero rows) against the oracle at every gate
    */
  val FilteredMissLabel = 99

  /** emb_ivfpq_rebalance threshold: a cell is overgrown when its
    * population exceeds 10/9 of the fair share — integer
    * cross-multiplied as 9·n·n_cells > 10·total, the emb_cell_balance
    * form. The 2x health flag never fires on the near-balanced
    * testdata; the rebalance op takes its trigger threshold as a
    * tuning parameter, and the pinned 10/9 exercises real splits at
    * every sf while the edge set exercises the zero-overgrown no-op
    * path.
    */
  val RebalanceNum = 10
  val RebalanceDen = 9

  /** emb_range_search: the squared-L2 radius (6-dp literal so the
    * boundary compare is a rounded-vs-literal test in both engines);
    * ~5% of the pinned corpus falls inside it.
    */
  val RangeR2 = 1.6

  /** emb_sq_ann: symmetric int8 quantization range (q ∈ [-127, 127]) */
  val SqScale = 127

  val qs: Seq[Q] = Seq(
    // L2 norm per vector — exercises the array math end to end
    Q(
      "emb_norms",
      (s, d) =>
        emb(s, d)
          .select(col("vec_id"), round(norm2(col("embedding")), 6).as("l2"))
          .orderBy("vec_id"),
      Some(
        s"""SELECT vec_id, round(${normSql("embedding")}, 6) AS l2
           |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // Brute-force cosine top-10 neighbours of vec_id=0
    Q(
      "emb_knn_cosine",
      (s, d) => {
        val e = emb(s, d)
        val query = broadcast(
          e.filter(col("vec_id") === 0).select(col("embedding").as("qv")))
        e.filter(col("vec_id") =!= 0)
          .crossJoin(query)
          .select(col("vec_id"),
            round(cosine(col("embedding"), col("qv")), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(10)
      },
      Some(
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
           |SELECT vec_id, ${cosSql("embedding", "qv")} AS sim
           |FROM embeddings, q WHERE vec_id <> 0
           |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)),

    // HARD-NEGATIVE mining — the training-data read contrastive
    // embedding training runs per anchor: the top-3 most-similar
    // vectors whose label DIFFERS from the anchor's (similar-but-wrong
    // is exactly what the loss needs). 3 anchors (vec_id < 3) in one
    // pass: anchors broadcast, one corpus scan scores all pairs, the
    // label-mismatch filter runs BEFORE the rank so the heap only holds
    // negatives, per-anchor top-3 via a rank window partitioned by
    // anchor — never a global sort. At scale this is the same
    // broadcast-anchor-batch shape a mining job runs per shard.
    Q(
      "emb_hard_negatives",
      (s, d) => {
        val e = emb(s, d)
        val anchors = broadcast(e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("a_id"), col("label").as("a_label"),
            col("embedding").as("av")))
        val w = Window.partitionBy("a_id")
          .orderBy(col("sim").desc, col("neg_id"))
        e.filter(col("vec_id") >= 3)
          .crossJoin(anchors)
          .filter(col("label") =!= col("a_label"))
          .select(col("a_id"), col("a_label"),
            col("vec_id").as("neg_id"), col("label").as("neg_label"),
            round(cosine(col("embedding"), col("av")), 6).as("sim"))
          .filter(col("sim").isNotNull)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select("a_id", "a_label", "rk", "neg_id", "neg_label", "sim")
          .orderBy("a_id", "rk")
      },
      Some(
        s"""WITH a AS (
           |  SELECT vec_id AS a_id, label AS a_label, embedding AS av
           |  FROM embeddings WHERE vec_id < 3
           |), scored AS (
           |  SELECT a.a_id, a.a_label, e.vec_id AS neg_id,
           |    e.label AS neg_label,
           |    ${cosSql("e.embedding", "a.av")} AS sim
           |  FROM embeddings e CROSS JOIN a
           |  WHERE e.vec_id >= 3 AND e.label <> a.a_label
           |), r AS (
           |  SELECT *, row_number() OVER (PARTITION BY a_id
           |    ORDER BY sim DESC, neg_id) AS rk
           |  FROM scored WHERE sim IS NOT NULL)
           |SELECT a_id, a_label, rk, neg_id, neg_label, sim
           |FROM r WHERE rk <= 3 ORDER BY a_id, rk""".stripMargin)),

    // Per-label centroid: elementwise mean via posexplode — the shuffle is
    // on (label, dim), 64 * n_labels cells regardless of row count, so the
    // reduction is fully partial-aggregated at any scale
    Q(
      "emb_centroid_by_label",
      (s, d) =>
        emb(s, d)
          .select(col("label"), posexplode(col("embedding"))
            .as(Seq("dim", "v")))
          .withColumn("vi", snap6(col("v")))
          .groupBy("label", "dim")
          .agg(expr(mean6Expr("vi")).as("centroid_v"))
          .orderBy("label", "dim"),
      Some(
        s"""SELECT label, dim, ${mean6Sql("vi")} AS centroid_v
           |FROM (SELECT label, CAST(i - 1 AS INT) AS dim,
           |        ${snap6Sql("embedding[i]")} AS vi
           |      FROM embeddings CROSS JOIN range(1, 65) r(i))
           |GROUP BY 1, 2 ORDER BY label, dim""".stripMargin)),

    // LSH-bucketed approximate NN — the scale path for similarity search.
    // SigBits deterministic integer hyperplanes hash each vector to a
    // sign signature; a vector is a candidate iff it shares at least one
    // AnnBandBits-bit band with the query (the recall-first 4x8 read of
    // the signature — see annBandOf), so the expensive cosine runs on
    // ~AnnBands/2^AnnBandBits of the corpus. Fully oracle-checkable
    // because the hyperplanes are a fixed arithmetic pattern, not RNG.
    Q("emb_lsh_ann", (s, d) => lshTop5(s, d), Some(lshSql)),

    // Label-count sanity aggregate (cheap groupBy for the ANN surface)
    Q(
      "emb_count_by_label",
      (s, d) =>
        emb(s, d).groupBy("label").agg(count(lit(1)).as("n"))
          .orderBy("label"),
      Some("SELECT label, count(*) AS n FROM embeddings GROUP BY 1 ORDER BY label")),

    // IVF-flavored ANN: coarse codebook = per-label centroids (rounded
    // so both engines agree bit-for-bit), inverted lists = cell
    // assignment by nearest centroid, probe = the query's 2 nearest
    // cells. Search touches only ~2/10 of the corpus; at scale the
    // codebook grows and the plan shape is unchanged (centroids
    // broadcast, one narrow scan + cell-filtered top-k).
    Q("emb_ivf_ann", (s, d) => ivfTop5(s, d), Some(ivfSql)),

    // ANN index EVALUATION: recall@5 of the IVF probe against the exact
    // brute-force top-5 for the same query vector — the measurement a
    // pipeline runs when tuning nprobe/codebook size. Both sides are
    // bounded 5-row frames (TakeOrderedAndProject outputs); the overlap
    // is a semi-join of 5 x 5 ids and all arithmetic is integer until
    // the final exact division.
    Q(
      "emb_recall_eval",
      (s, d) => {
        val exact = exactTop5(s, d).select("vec_id")
        val approx = ivfTop5(s, d).select("vec_id")
        exact.join(approx, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_overlap"))
          .select(lit(5).as("k"), col("n_overlap"),
            round(col("n_overlap").cast("double") / 5, 6).as("recall_at_k"))
      },
      Some(
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |exact AS (
           |  SELECT vec_id FROM (
           |    SELECT vec_id, ${cosSql("embedding", "qv")} AS sim
           |    FROM embeddings, q WHERE vec_id <> 0
           |    ORDER BY sim DESC, vec_id LIMIT 5)
           |), approx AS (
           |  SELECT vec_id FROM ($ivfSql) ivf
           |)
           |SELECT 5 AS k, count(*) AS n_overlap,
           |  round(CAST(count(*) AS DOUBLE) / 5, 6) AS recall_at_k
           |FROM exact JOIN approx USING (vec_id)""".stripMargin)),

    // Grouped ANN: top-3 neighbours for EACH of 5 query vectors in one
    // pass through the GroupedTopK operator (a k-row heap per q_id
    // below the exchange), then row_number over the <= 3 survivors per
    // q_id for the rank. Oracle = row_number window over the same cross
    // join.
    Q(
      "emb_multi_knn",
      (s, d) => {
        val e = emb(s, d)
        val qs = broadcast(e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("qv")))
        val scored = e.filter(col("vec_id") >= 5)
          .crossJoin(qs)
          .select(col("q_id"),
            round(cosine(col("embedding"), col("qv")), 6).as("sim"),
            col("vec_id"))
          // off-contract vectors score NULL (kernel convention); the
          // oracle drops them rather than ranking them last
          .filter(col("sim").isNotNull)
        val byRank = Window.partitionBy("q_id")
          .orderBy(col("sim").desc, col("vec_id"))
        graft.plans.GroupedTopK(
          scored, Seq("q_id"), Seq(scored("sim").desc, scored("vec_id")), 3)
          .select(col("q_id"), row_number().over(byRank).as("rk"),
            col("vec_id").as("neighbor_id"), col("sim"))
          .orderBy("q_id", "rk")
      },
      Some(
        s"""WITH q AS (
           |  SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5
           |), scored AS (
           |  SELECT q.q_id, e.vec_id, ${cosSql("e.embedding", "q.qv")} AS sim
           |  FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 5
           |), r AS (
           |  SELECT q_id, vec_id, sim,
           |    row_number() OVER (PARTITION BY q_id
           |                       ORDER BY sim DESC, vec_id) AS rk
           |  FROM scored WHERE sim IS NOT NULL)
           |SELECT q_id, rk, vec_id AS neighbor_id, sim
           |FROM r WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin)),

    // Embedding-cosine near-dup: top-10 most-similar pairs among
    // band-colocated vectors — the banded (never O(n²)) form of
    // embedding dedup, sharing the LSH signature with emb_lsh_ann.
    // Candidates come from an equality join on (band, key); a pair is
    // kept only in its FIRST matching band (earlier band keys must
    // differ), so no distinct pass is needed across bands.
    Q(
      "emb_near_dup_pairs",
      (s, d) => nearDupPairs(s, d),
      Some(nearDupPairsSql)),

    // Semantic duplicate CLUSTERS: the same ConnectedComponents operator
    // the token-level dedup uses (dedup_cc_clusters), here over the
    // embedding near-dup pair graph — pairwise vector similarity closed
    // into transitive groups. Consumes the persisted 10-row pair set, so
    // the expensive banding lineage is shared, not rebuilt.
    Q(
      "emb_cc_clusters",
      (s, d) => {
        val w = Window.partitionBy("cluster_id")
        graft.CacheRegistry.memo("emb_cc_labels", s, d)(
          graft.operators.ConnectedComponents.run(
            nearDupPairs(s, d).select(col("a_id"), col("b_id"))))
          .select(col("id").as("vec_id"), col("cluster_id"))
          .withColumn("n_members", count(lit(1)).over(w))
          .orderBy("vec_id")
      },
      Some(
        s"""WITH RECURSIVE pairs AS (
           |  $nearDupPairsSql
           |), edges AS (
           |  SELECT a_id AS u, b_id AS v FROM pairs
           |  UNION
           |  SELECT b_id, a_id FROM pairs
           |), nodes AS (
           |  SELECT DISTINCT u AS id FROM edges
           |), reach(id, lab) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.id
           |), comp AS (
           |  SELECT id AS vec_id, min(lab) AS cluster_id FROM reach GROUP BY id
           |)
           |SELECT vec_id, cluster_id,
           |  count(*) OVER (PARTITION BY cluster_id) AS n_members
           |FROM comp ORDER BY vec_id""".stripMargin)),

    // Cross-modal verification: the embedding near-dup candidates above
    // cross-checked against the TEXT of the same corpus (doc_id ==
    // vec_id): token-bigram jaccard per pair. The production dedup
    // workflow — cheap vector candidates, content-level confirmation.
    // Scale shape: the pair set is a persisted 10-row frame, its id set
    // is broadcast-semi-joined into the documents scan BEFORE any
    // tokenize/bigram work, and the pair set itself broadcasts into both
    // lookups — the text stage costs one pruned scan plus array work on
    // <= 2*pairs rows, scaling with candidates, never with the corpus.
    Q(
      "emb_text_crosscheck",
      (s, d) => {
        import graft.functions.TextFns._
        val pairs = nearDupPairs(s, d)
        val candIds = pairs.select(col("a_id").as("doc_id"))
          .unionByName(pairs.select(col("b_id").as("doc_id"))).distinct()
        val grams = Tables.t(s, d, "documents")
          .join(broadcast(candIds), Seq("doc_id"), "left_semi")
          .select(col("doc_id"),
            graft.functions.NormTokens.column(col("text")).as("tok"))
          .select(col("doc_id"),
            array_distinct(when(size(col("tok")) >= 2,
              transform(sequence(lit(1), size(col("tok")) - 1), i =>
                concat_ws(" ", element_at(col("tok"), i),
                  element_at(col("tok"), i + 1))))
              .otherwise(col("tok"))).as("g"))
        broadcast(pairs)
          .join(grams.select(col("doc_id").as("a_id"), col("g").as("ga")), "a_id")
          .join(grams.select(col("doc_id").as("b_id"), col("g").as("gb")), "b_id")
          .withColumn("inter", size(array_intersect(col("ga"), col("gb"))))
          .withColumn("text_jaccard",
            col("inter").cast("double") /
              greatest(size(col("ga")) + size(col("gb")) - col("inter"), lit(1)))
          .select(col("a_id"), col("b_id"), col("sim"),
            round(col("text_jaccard"), 6).as("text_jaccard"))
          .orderBy("a_id", "b_id")
      },
      Some(
        s"""WITH pairs AS (
           |  $nearDupPairsSql
           |), cleaned AS (
           |  SELECT doc_id, ${cleanSql("text")} AS text_clean FROM documents
           |), toksrc AS (
           |  SELECT doc_id, ${tokensSql("text_clean")} AS tok FROM cleaned
           |), grams AS (
           |  SELECT doc_id,
           |    list_distinct(CASE WHEN len(tok) >= 2
           |      THEN list_transform(range(1, len(tok)),
           |             i -> tok[i] || ' ' || tok[i+1])
           |      ELSE tok END) AS g
           |  FROM toksrc
           |), j AS (
           |  SELECT p.a_id, p.b_id, p.sim,
           |    len(list_filter(ga.g, x -> list_contains(gb.g, x))) AS inter,
           |    len(ga.g) AS la, len(gb.g) AS lb
           |  FROM pairs p
           |  JOIN grams ga ON ga.doc_id = p.a_id
           |  JOIN grams gb ON gb.doc_id = p.b_id
           |)
           |SELECT a_id, b_id, sim,
           |  round(CAST(inter AS DOUBLE) / greatest(la + lb - inter, 1), 6)
           |    AS text_jaccard
           |FROM j ORDER BY a_id, b_id""".stripMargin)),

    // K-means over the embedding corpus (K=8, deterministic seeding with
    // vec_id 0..7, two Lloyd rounds) — the clustering stage of semantic
    // dedup / corpus curation. Everything is oracle-exact by
    // construction: init centroids and per-round means are rounded to 6
    // decimals on BOTH engines before any distance compare, distances
    // are the same in-order double fold as the VecL2Sq kernel, and
    // argmin ties break on cluster id. Scale shape: centroids are K x 64
    // values — broadcast; each round is one narrow crossJoin pass plus
    // one (cluster, dim)-cell aggregation whose output size is K x 64
    // regardless of corpus size. (A production loop would iterate to
    // convergence with the K x 64 codebook collected per round, exactly
    // like MLlib; two fixed rounds keep the lineage SQL-reproducible.)
    Q(
      "emb_kmeans",
      (s, d) =>
        kmeansFinal(s, d)
          .select(col("vec_id"), col("cluster"), round(col("d2"), 6).as("d2"))
          .orderBy("vec_id"),
      Some(s"""$kmeansCte
           |SELECT vec_id, cid AS cluster, round(d2, 6) AS d2
           |FROM a2 WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    // SemDeDup-style semantic dedup: within each k-means cluster the
    // lowest-vec_id member is the representative; every other member is
    // DROPPED when its cosine to the representative clears the
    // threshold (near-duplicate semantics by meaning, not bytes).
    // Reuses the memoized+persisted k-means assignment (500 small rows)
    // — the second consumer reads materialized rows, and the per-cluster
    // representative join is a broadcast of K rows, so the corpus is
    // scanned once. Emits every vector's verdict, so the oracle checks
    // keeps AND drops.
    Q(
      "emb_semantic_dedup",
      (s, d) => {
        val e = emb(s, d)
        val assign = kmeansAssign(s, d)
        val reps = broadcast(
          assign.groupBy(col("cluster")).agg(min(col("vec_id")).as("rep_id"))
            .join(e.select(col("vec_id").as("rep_id"),
              col("embedding").as("rep_v")), Seq("rep_id")))
        e.join(assign, Seq("vec_id"))
          .join(reps, Seq("cluster"))
          .withColumn("sim_to_rep",
            round(cosine(col("embedding"), col("rep_v")), 6))
          .withColumn("drop",
            col("vec_id") =!= col("rep_id") && col("sim_to_rep") >= 0.2)
          .select(col("vec_id"), col("cluster"), col("rep_id"),
            col("sim_to_rep"), col("drop"))
          .orderBy("vec_id")
      },
      Some(s"""$kmeansCte, assign AS (
           |  SELECT vec_id, cid AS cluster FROM a2 WHERE rn = 1
           |), reps AS (
           |  SELECT a.cluster, min(a.vec_id) AS rep_id
           |  FROM assign a GROUP BY a.cluster
           |), repv AS (
           |  SELECT r.cluster, r.rep_id, e.embedding AS rep_v
           |  FROM reps r JOIN embeddings e ON e.vec_id = r.rep_id
           |)
           |SELECT a.vec_id, a.cluster, rv.rep_id,
           |  ${cosSql("e.embedding", "rv.rep_v")} AS sim_to_rep,
           |  (a.vec_id <> rv.rep_id AND
           |   ${cosSql("e.embedding", "rv.rep_v")} >= 0.2) AS "drop"
           |FROM assign a
           |JOIN embeddings e ON e.vec_id = a.vec_id
           |JOIN repv rv ON rv.cluster = a.cluster
           |ORDER BY a.vec_id""".stripMargin)),

    // Product-quantization ANN (the FAISS IVFADC companion to emb_ivf_ann):
    // 64 dims split into 8 subspaces x 8 dims; each subspace gets a
    // 16-entry codebook (same seeded-Lloyd-round recipe as emb_kmeans,
    // centroids rounded so both engines agree bit-for-bit), so every
    // vector compresses to 8 one-byte codes — 32:1 vs float32. Search is
    // asymmetric distance: the query's 8 x 16 partial-distance table is
    // tiny and broadcast, and the scan touches only the CODES, never the
    // vectors. Partial distances are rounded then decimal-summed, so the
    // 8-way addition is order-independent across engines. At 100 TB this
    // is the memory story that makes ANN feasible at all: the code table
    // is ~1/32 the corpus, one narrow pass, top-k via per-partition heap.
    Q(
      "emb_pq_ann",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        // codebook/codes/ADC come from the shared memoized PQ lineage
        // (pqCodebook/pqCodes/pqAdc) — byte-identical to what the
        // IVF+PQ serving query probes
        pqCodes(s, d).join(broadcast(pqAdc(s, d)), Seq("j", "cid"))
          .groupBy("vec_id")
          .agg(sum(col("pd").cast(DecimalType(18, 6))).cast("double")
            .as("pq_d2"))
          .orderBy(col("pq_d2"), col("vec_id"))
          .limit(5)
      },
      Some(
        s"""WITH $pqCte
           |SELECT k.vec_id,
           |  CAST(sum(CAST(a.pd AS DECIMAL(18,6))) AS DOUBLE) AS pq_d2
           |FROM codes k JOIN adc a ON a.j = k.j AND a.cid = k.cid
           |GROUP BY k.vec_id
           |ORDER BY pq_d2, k.vec_id LIMIT 5""".stripMargin)),

    // PQ DISTORTION report — the index-quality eval the two PQ serving
    // queries imply but never measure: per subspace, the reconstruction
    // error (L2² between each vector's subvector and its assigned
    // codebook entry — the quantity PQ training minimizes and the
    // direct driver of ADC ranking error). The report a pipeline reads
    // before trusting a codebook on a new corpus (a drifted subspace
    // shows up as an outlier row here long before recall@k moves).
    // EXACTNESS: each per-vector error is the shared rounded L2 kernel;
    // the sum is an order-independent DECIMAL(18,6) accumulation cast
    // back to double (the pq_d2 convention), the mean a single exact
    // division rounded at 6 dp, the max a selection. Scale shape: one
    // narrow pass over the memoized code table joined to the broadcast
    // codebook + the subvector split of the corpus — one partial-agg'd
    // shuffle on the 8-row subspace key; nothing quadratic.
    Q(
      "emb_pq_distortion",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val sub = pqSubspaces(emb(s, d).select("vec_id", "embedding"))
        pqCodes(s, d).join(sub, Seq("vec_id", "j"))
          .join(broadcast(pqCodebook(s, d)), Seq("j", "cid"))
          .withColumn("err",
            round(graft.functions.VecL2Sq.column(col("sv"), col("cvec")),
              6))
          .groupBy("j")
          .agg(count(lit(1)).as("n_vecs"),
            sum(col("err").cast(DecimalType(18, 6))).cast("double")
              .as("sum_err"),
            max(col("err")).as("max_err"))
          .select(col("j"), col("n_vecs"), col("sum_err"),
            round(col("sum_err") / col("n_vecs"), 6).as("mean_err"),
            col("max_err"))
          .orderBy("j")
      },
      Some(
        s"""WITH $pqCte
           |SELECT k.j, count(*) AS n_vecs,
           |  CAST(sum(CAST(round(${l2Sql("s.sv", "c.cvec")}, 6)
           |    AS DECIMAL(18,6))) AS DOUBLE) AS sum_err,
           |  round(CAST(sum(CAST(round(${l2Sql("s.sv", "c.cvec")}, 6)
           |    AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mean_err,
           |  max(round(${l2Sql("s.sv", "c.cvec")}, 6)) AS max_err
           |FROM codes k
           |JOIN sub s ON s.vec_id = k.vec_id AND s.j = k.j
           |JOIN c1 c ON c.j = k.j AND c.cid = k.cid
           |GROUP BY 1 ORDER BY k.j""".stripMargin)),

    // IVF+PQ END-TO-END — the production ANN serving read that composes
    // the coarse index (emb_ivf_ann) with the compressed fine index
    // (emb_pq_ann): probe the query's 2 nearest cells, ADC-score only
    // the 8-byte code rows inside probed cells, shortlist the best
    // IvfPqShortN by quantized distance, exact-rerank that bounded
    // shortlist by true cosine. The float corpus is touched exactly
    // IvfPqShortN times, the scan itself reads codes only — the memory
    // and I/O story that makes 100 TB ANN serveable. Recall of this
    // exact operating point is measured by emb_ivfpq_recall.
    Q("emb_ivfpq_ann", (s, d) => ivfpqTop5(s, d), Some(ivfpqSql)),

    // Recall@5 of the IVF+PQ serving read against the exact brute-force
    // top-5 — the tuning evidence for the (nprobe=2, shortlist=20)
    // operating point, next to emb_recall_eval (IVF-only) and the
    // nprobe/band sweeps. Integer recall (n_hits x 20) keeps the
    // quality axis exact; both sides are bounded 5-row frames.
    Q(
      "emb_ivfpq_recall",
      (s, d) => {
        val e = emb(s, d)
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv")))
        val exact = e.filter(col("vec_id") =!= 0)
          .crossJoin(qv)
          .select(col("vec_id"),
            round(cosine(col("embedding"), col("qv")), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(5)
          .select("vec_id")
        val approx = ivfpqTop5(s, d).select("vec_id")
        exact.join(approx, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(5).as("k"), lit(IvfPqShortN).as("n_short"),
            col("n_hits"), (col("n_hits") * 20).as("recall_pct"))
      },
      Some(
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |exact AS (
           |  SELECT vec_id FROM (
           |    SELECT vec_id, ${cosSql("embedding", "qv")} AS sim
           |    FROM embeddings, q WHERE vec_id <> 0
           |    ORDER BY sim DESC, vec_id LIMIT 5)
           |), approx AS (
           |  SELECT vec_id FROM ($ivfpqSql) ivfpq
           |)
           |SELECT 5 AS k, $IvfPqShortN AS n_short,
           |  count(*) AS n_hits,
           |  count(*) * 20 AS recall_pct
           |FROM exact JOIN approx USING (vec_id)""".stripMargin)),

    // IVF+PQ served FROM THE PERSISTED INDEX — emb_ivfpq_ann's plan
    // recomputes cells and codes per query; this one reads the on-disk
    // layout a server actually deploys (servedCodes: codes/ partitioned
    // by cell, centroids/ beside it) and must return the identical
    // top-5 (same oracle). The read path: (1) rank the CENTROID TABLE
    // against the query vector — kk bounded rows, collected to the
    // driver exactly like a real ANN server's in-memory codebook (the
    // bounded-collect precedent of MMR/Gram); (2) scan ONLY the probed
    // cells' files — the cell IN (…) predicate is a PartitionFilter
    // (directory pruning, PlanSpec-pinned), so unprobed cells are never
    // even listed; (3) ADC-score the 8-byte code rows in the pruned
    // scan, shortlist IvfPqShortN; (4) exact-rerank the shortlist
    // against broadcast-joined true vectors. At 100 TB: the index is
    // ~1/32 the corpus, the probe reads ~nprobe/kk of its files, and
    // the float corpus is touched exactly IvfPqShortN times.
    Q(
      "emb_ivfpq_served",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val codes = servedCodes(s, d) // forces the one-time index write
        val cent = s.read.parquet(s"${indexPath(d)}/centroids")
        val e = emb(s, d)
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv")))
        // same kernel, same (d2 NULLS LAST, label) order as ivfRanked's
        // rn <= 2 probe — identical cells by construction
        val probed = cent.crossJoin(qv)
          .select(col("c_label"),
            graft.functions.VecL2Sq.column(col("qv"), col("cvec"))
              .as("d2"))
          .orderBy(col("d2").asc_nulls_last, col("c_label"))
          .limit(2)
          .collect().map(_.getInt(0))
        val short = codes
          .filter(col("cell").isin(probed.map(Int.box): _*) &&
            col("vec_id") =!= 0)
          .select(col("vec_id"),
            posexplode(col("codes")).as(Seq("j", "cid")))
          .join(broadcast(pqAdc(s, d)), Seq("j", "cid"))
          .groupBy("vec_id")
          .agg(sum(col("pd").cast(DecimalType(18, 6))).cast("double")
            .as("pq_d2"))
          .orderBy(col("pq_d2"), col("vec_id"))
          .limit(IvfPqShortN)
        e.join(broadcast(short), "vec_id")
          .crossJoin(qv)
          .select(col("vec_id"), col("pq_d2"),
            round(cosine(col("embedding"), col("qv")), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(5)
      },
      Some(ivfpqSql)),

    // INCREMENTAL index maintenance — the serving-ops step
    // emb_ivfpq_served implies but did not prove: upsert a new batch of
    // vectors into the PERSISTED index without rebuilding it. The base
    // index (all vectors minus the ~10% batch) is the offline artifact;
    // the query applies the upsert (assign batch vectors to EXISTING
    // cells, encode with the EXISTING codebook, append code rows to
    // only the affected cell partitions) and then re-checks recall@5 of
    // the UPDATED index against the exact ranking, reporting the batch
    // accounting alongside. Batch-proportional: corpus read once
    // batch-filtered, centroids + codebook broadcast, untouched cell
    // directories never written (EmbUpsertSpec asserts the file sets).
    // Oracle exactness: assignment and encoding reuse the full index's
    // own arithmetic, so updated == full served index row-for-row and
    // the recall equals emb_ivfpq_recall's — the oracle recomputes it
    // from the same ivfpq SQL plus relational batch stats.
    Q(
      "emb_ivfpq_upsert",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val updated = upsertApplied(s, d)
        val cent = s.read.parquet(s"${indexPath(d)}/centroids")
        val e = emb(s, d)
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv")))
        // identical read path to emb_ivfpq_served, on the updated index
        val probed = cent.crossJoin(qv)
          .select(col("c_label"),
            graft.functions.VecL2Sq.column(col("qv"), col("cvec"))
              .as("d2"))
          .orderBy(col("d2").asc_nulls_last, col("c_label"))
          .limit(2)
          .collect().map(_.getInt(0))
        val short = updated
          .filter(col("cell").isin(probed.map(Int.box): _*) &&
            col("vec_id") =!= 0)
          .select(col("vec_id"),
            posexplode(col("codes")).as(Seq("j", "cid")))
          .join(broadcast(pqAdc(s, d)), Seq("j", "cid"))
          .groupBy("vec_id")
          .agg(sum(col("pd").cast(DecimalType(18, 6))).cast("double")
            .as("pq_d2"))
          .orderBy(col("pq_d2"), col("vec_id"))
          .limit(IvfPqShortN)
        val top5 = e.join(broadcast(short), "vec_id")
          .crossJoin(qv)
          .select(col("vec_id"),
            round(cosine(col("embedding"), col("qv")), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(5)
        val hits = top5
          .join(broadcast(exactTop5(s, d).select("vec_id")), "vec_id")
          .agg(count(lit(1)).as("n_hits"))
        // batch accounting measured off the UPDATED ARTIFACT itself —
        // proves the appended rows are really in the index
        updated
          .agg(count(lit(1)).as("n_index_rows"),
            coalesce(sum(when(upsertBatchPred, 1L).otherwise(0L)),
              lit(0L)).as("n_batch"),
            countDistinct(when(upsertBatchPred, col("cell")))
              .as("n_cells_touched"))
          .crossJoin(broadcast(hits))
          .select(
            (col("n_index_rows") - col("n_batch")).as("n_base"),
            col("n_batch"), col("n_cells_touched"),
            lit(5).as("k"), col("n_hits"),
            (col("n_hits") * 20).as("recall_pct"))
      },
      Some(
        s"""WITH $ivfCellsCte, q AS (
           |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
           |), exact AS (
           |  SELECT vec_id FROM (
           |    SELECT vec_id, ${cosSql("embedding", "qv")} AS sim
           |    FROM embeddings, q WHERE vec_id <> 0
           |    ORDER BY sim DESC, vec_id LIMIT 5)
           |), approx AS (
           |  SELECT vec_id FROM ($ivfpqSql) ivfpq
           |), hits AS (
           |  SELECT count(*) AS n_hits FROM exact JOIN approx USING (vec_id)
           |), tot AS (SELECT count(*) AS n FROM embeddings),
           |bat AS (
           |  SELECT count(*) AS n_batch FROM embeddings
           |  WHERE vec_id % 10 = 3 AND vec_id <> 0
           |), tc AS (
           |  SELECT count(DISTINCT cell) AS n_cells_touched FROM cells
           |  WHERE vec_id % 10 = 3 AND vec_id <> 0
           |)
           |SELECT CAST(tot.n - bat.n_batch AS BIGINT) AS n_base,
           |  CAST(bat.n_batch AS BIGINT) AS n_batch,
           |  CAST(tc.n_cells_touched AS BIGINT) AS n_cells_touched,
           |  5 AS k, CAST(hits.n_hits AS BIGINT) AS n_hits,
           |  CAST(hits.n_hits * 20 AS BIGINT) AS recall_pct
           |FROM tot, bat, tc, hits""".stripMargin)),

    // DELETE/COMPACT — the inverse of emb_ivfpq_upsert and the last
    // serving-ops lifecycle step (build -> serve -> upsert -> delete/
    // compact): tombstone a deterministic ~10% slice (vec_id%10==7,
    // disjoint from the upsert batch) out of the PERSISTED index with
    // partition-local compaction (only the cells holding tombstoned
    // rows are rewritten, under dynamic partition overwrite; fully-
    // emptied cell dirs are dropped — see deleteApplied), then serve
    // a query from the compacted index and re-check recall@5 against
    // the exact ranking of the REMAINING corpus. The proof obligations
    // are measured off the artifact itself: n_residual_deleted counts
    // tombstoned ids still present in the compacted index (must be 0)
    // and n_deleted_surfaced counts them in the served top-5 (must be
    // 0) — deleted ids never surface. Oracle exactness: survivors keep
    // their existing codes, so the post-delete shortlist equals the
    // full-index shortlist with tombstoned ids filtered — a pure SQL
    // predicate on the shared ivfpq CTE chain. EmbDeleteSpec asserts
    // the file-level contract (untouched cells byte-identical,
    // row-identity with full-minus-deleted).
    Q(
      "emb_ivfpq_delete",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val updated = deleteApplied(s, d)
        val cent = s.read.parquet(s"${indexPath(d)}/centroids")
        val e = emb(s, d)
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv")))
        // identical read path to emb_ivfpq_served, on the compacted
        // index — directory-pruned probe of the top-2 cells
        val probed = cent.crossJoin(qv)
          .select(col("c_label"),
            graft.functions.VecL2Sq.column(col("qv"), col("cvec"))
              .as("d2"))
          .orderBy(col("d2").asc_nulls_last, col("c_label"))
          .limit(2)
          .collect().map(_.getInt(0))
        val short = updated
          .filter(col("cell").isin(probed.map(Int.box): _*) &&
            col("vec_id") =!= 0)
          .select(col("vec_id"),
            posexplode(col("codes")).as(Seq("j", "cid")))
          .join(broadcast(pqAdc(s, d)), Seq("j", "cid"))
          .groupBy("vec_id")
          .agg(sum(col("pd").cast(DecimalType(18, 6))).cast("double")
            .as("pq_d2"))
          .orderBy(col("pq_d2"), col("vec_id"))
          .limit(IvfPqShortN)
        val top5 = e.join(broadcast(short), "vec_id")
          .crossJoin(qv)
          .select(col("vec_id"),
            round(cosine(col("embedding"), col("qv")), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(5)
        // exact top-5 of the REMAINING corpus (the full-corpus
        // exactTop5 memo may rank a deleted id — recompute filtered)
        val exact = e.filter(!deleteTombPred && col("vec_id") =!= 0)
          .crossJoin(qv)
          .select(col("vec_id"),
            round(cosine(col("embedding"), col("qv")), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(5)
        val hits = top5
          .join(broadcast(exact.select("vec_id")), "vec_id")
          .agg(count(lit(1)).as("n_hits"))
        val surfaced = top5
          .agg(coalesce(sum(when(deleteTombPred, 1L).otherwise(0L)),
            lit(0L)).as("n_deleted_surfaced"))
        // tombstone accounting off the pristine full-index twin
        val delStats = s.read.parquet(s"${indexPath(d)}/codes")
          .agg(
            coalesce(sum(when(deleteTombPred, 1L).otherwise(0L)),
              lit(0L)).as("n_deleted"),
            countDistinct(when(deleteTombPred, col("cell")))
              .as("n_cells_touched"))
        // residual + row count measured off the COMPACTED ARTIFACT —
        // proves the tombstoned rows are really gone from the index
        updated
          .agg(count(lit(1)).as("n_index_rows"),
            coalesce(sum(when(deleteTombPred, 1L).otherwise(0L)),
              lit(0L)).as("n_residual_deleted"))
          .crossJoin(broadcast(delStats))
          .crossJoin(broadcast(hits))
          .crossJoin(broadcast(surfaced))
          .select(col("n_index_rows"), col("n_deleted"),
            col("n_cells_touched"), col("n_residual_deleted"),
            lit(5).as("k"), col("n_hits"),
            (col("n_hits") * 20).as("recall_pct"),
            col("n_deleted_surfaced"))
      },
      Some(
        s"""WITH $ivfCellsCte, $pqCte, qcells AS (
           |  SELECT label AS cell FROM ranked WHERE vec_id = 0 AND rn <= 2
           |), qv AS (
           |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
           |), shortl AS (
           |  SELECT k.vec_id,
           |    CAST(sum(CAST(a.pd AS DECIMAL(18,6))) AS DOUBLE) AS pq_d2
           |  FROM codes k
           |  JOIN cells cl ON cl.vec_id = k.vec_id
           |  JOIN qcells qc ON qc.cell = cl.cell
           |  JOIN adc a ON a.j = k.j AND a.cid = k.cid
           |  WHERE k.vec_id <> 0 AND k.vec_id % 10 <> 7
           |  GROUP BY k.vec_id
           |  ORDER BY pq_d2, k.vec_id LIMIT $IvfPqShortN
           |), approx AS (
           |  SELECT e.vec_id, ${cosSql("e.embedding", "qv.qv")} AS sim
           |  FROM embeddings e JOIN shortl sl ON sl.vec_id = e.vec_id
           |  CROSS JOIN qv
           |  ORDER BY sim DESC, e.vec_id LIMIT 5
           |), exact AS (
           |  SELECT vec_id FROM (
           |    SELECT e.vec_id, ${cosSql("e.embedding", "qv.qv")} AS sim
           |    FROM embeddings e CROSS JOIN qv
           |    WHERE e.vec_id <> 0 AND e.vec_id % 10 <> 7
           |    ORDER BY sim DESC, e.vec_id LIMIT 5)
           |), hits AS (
           |  SELECT count(*) AS n_hits FROM exact JOIN approx USING (vec_id)
           |), tot AS (SELECT count(*) AS n FROM embeddings),
           |del AS (
           |  SELECT count(*) AS n_del, count(DISTINCT cell) AS nct
           |  FROM cells WHERE vec_id % 10 = 7 AND vec_id <> 0
           |), surf AS (
           |  SELECT count(*) AS n_surf FROM approx
           |  WHERE vec_id % 10 = 7 AND vec_id <> 0
           |)
           |SELECT CAST(tot.n - del.n_del AS BIGINT) AS n_index_rows,
           |  CAST(del.n_del AS BIGINT) AS n_deleted,
           |  CAST(del.nct AS BIGINT) AS n_cells_touched,
           |  CAST(0 AS BIGINT) AS n_residual_deleted,
           |  5 AS k, CAST(hits.n_hits AS BIGINT) AS n_hits,
           |  CAST(hits.n_hits * 20 AS BIGINT) AS recall_pct,
           |  CAST(surf.n_surf AS BIGINT) AS n_deleted_surfaced
           |FROM tot, del, hits, surf""".stripMargin)),

    // FILTERED vector search — the most common production retrieval
    // shape the plain serving read lacks: "top-k similar WHERE
    // label = 3". The metadata column is INLINED in the served code
    // rows (servedCodes writes it beside the codes — the attribute-
    // beside-code layout), so the predicate is a pushed data filter
    // INSIDE the directory-pruned code scan, applied BEFORE the shortN
    // cut: the shortlist holds IvfPqShortN qualifying candidates, never
    // a post-filtered (starved) remnant of the unfiltered shortlist.
    // At 100 TB: same pruned-scan cost as emb_ivfpq_served — the
    // filter adds zero I/O (the scan already reads the 8-byte rows)
    // and strictly shrinks the ADC work; no join against a
    // corpus-sized attribute table anywhere.
    Q(
      "emb_ivfpq_filtered",
      (s, d) => filteredServed(s, d, FilteredLabel),
      Some(filteredSql(FilteredLabel))),

    // the empty-result twin: a label no corpus row carries. The
    // shortlist is empty, the rerank is empty, the answer is ZERO rows
    // — matching the oracle's zero rows — rather than an error or a
    // fallback to unfiltered results.
    Q(
      "emb_ivfpq_filtered_miss",
      (s, d) => filteredServed(s, d, FilteredMissLabel),
      Some(filteredSql(FilteredMissLabel))),

    // Recall@5 of the filtered serving read against the EXACT filtered
    // top-5 (brute-force cosine restricted to the predicate) — the
    // quality evidence for predicate-inside-shortlist: n_exact is the
    // filtered candidate depth actually available, n_hits the overlap.
    // Integer recall (n_hits x 20), the emb_ivfpq_recall convention.
    Q(
      "emb_ivfpq_filtered_recall",
      (s, d) => {
        val e = emb(s, d)
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv")))
        val exact = e.filter(col("vec_id") =!= 0 &&
            col("label") === FilteredLabel)
          .crossJoin(qv)
          .select(col("vec_id"),
            round(cosine(col("embedding"), col("qv")), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(5)
          .select("vec_id")
        val approx = filteredServed(s, d, FilteredLabel).select("vec_id")
        val hits = exact.join(approx, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
        exact.agg(count(lit(1)).as("n_exact"))
          .crossJoin(broadcast(hits))
          .select(lit(5).as("k"), lit(FilteredLabel).as("label"),
            col("n_exact"), col("n_hits"),
            (col("n_hits") * 20).as("recall_pct"))
      },
      Some(
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |exact AS (
           |  SELECT vec_id FROM (
           |    SELECT vec_id, ${cosSql("embedding", "qv")} AS sim
           |    FROM embeddings, q
           |    WHERE vec_id <> 0 AND label = $FilteredLabel
           |    ORDER BY sim DESC, vec_id LIMIT 5)
           |), approx AS (
           |  SELECT vec_id FROM (${filteredSql(FilteredLabel)})
           |), ne AS (SELECT count(*) AS n_exact FROM exact),
           |hits AS (
           |  SELECT count(*) AS n_hits FROM exact JOIN approx USING (vec_id)
           |)
           |SELECT 5 AS k, $FilteredLabel AS label,
           |  ne.n_exact, hits.n_hits,
           |  hits.n_hits * 20 AS recall_pct
           |FROM ne, hits""".stripMargin)),

    // CELL REBALANCE/RETRAIN — the maintenance op that completes the
    // index-lifecycle story (build -> serve -> upsert -> delete ->
    // REBALANCE): sustained upserts never retrain (the serving-ops
    // contract), so cells skew; this op splits ONLY the overgrown
    // cells (threshold off emb_cell_balance's integer fair-share
    // form), rewrites ONLY their partitions (dynamic overwrite,
    // untouched dirs byte-identical — EmbRebalanceSpec), re-derives
    // centroids for ONLY the split memberships, then serves a query
    // from the rebalanced index and re-checks recall@5. Accounting is
    // measured off the artifacts themselves: n_rows_moved counts rows
    // now living in the new (post-maxLabel) cells of the rewritten
    // index; n_cells_after counts the rewritten centroid table.
    // Oracle exactness: the 2-seed split is fully order-pinned (min
    // vec_id seed, farthest-point seed with NULLS LAST + id ties,
    // strict-inequality move rule), centroid means reuse the snap6 +
    // integer-mean arithmetic, and PQ codes are cell-independent — so
    // the post-split serve is a pure SQL recomputation.
    Q(
      "emb_ivfpq_rebalance",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val updated = rebalanceApplied(s, d)
        val root = indexPath(d)
        val cent2 = s.read.parquet(s"$root/centroids_reb")
        val centOrig = s.read.parquet(s"$root/centroids")
        val maxLabel = centOrig.agg(max(col("c_label")))
          .collect()(0).getInt(0)
        val e = emb(s, d)
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv")))
        // identical read path to emb_ivfpq_served, over the REBALANCED
        // centroid set and the rewritten partitions
        val probed = cent2.crossJoin(qv)
          .select(col("c_label"),
            graft.functions.VecL2Sq.column(col("qv"), col("cvec"))
              .as("d2"))
          .orderBy(col("d2").asc_nulls_last, col("c_label"))
          .limit(2)
          .collect().map(_.getInt(0))
        val short = updated
          .filter(col("cell").isin(probed.map(Int.box): _*) &&
            col("vec_id") =!= 0)
          .select(col("vec_id"),
            posexplode(col("codes")).as(Seq("j", "cid")))
          .join(broadcast(pqAdc(s, d)), Seq("j", "cid"))
          .groupBy("vec_id")
          .agg(sum(col("pd").cast(DecimalType(18, 6))).cast("double")
            .as("pq_d2"))
          .orderBy(col("pq_d2"), col("vec_id"))
          .limit(IvfPqShortN)
        val top5 = e.join(broadcast(short), "vec_id")
          .crossJoin(qv)
          .select(col("vec_id"),
            round(cosine(col("embedding"), col("qv")), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(5)
        val hits = top5
          .join(broadcast(exactTop5(s, d).select("vec_id")), "vec_id")
          .agg(count(lit(1)).as("n_hits"))
        // split accounting off the rewritten artifact
        val stats = updated.agg(
          coalesce(sum(when(col("cell") > maxLabel, 1L)), lit(0L))
            .as("n_rows_moved"),
          countDistinct(when(col("cell") > maxLabel, col("cell")))
            .as("n_overgrown"))
        centOrig.agg(count(lit(1)).as("n_cells_before"))
          .crossJoin(broadcast(cent2.agg(count(lit(1))
            .as("n_cells_after"))))
          .crossJoin(broadcast(stats))
          .crossJoin(broadcast(hits))
          .select(col("n_cells_before"), col("n_overgrown"),
            col("n_cells_after"), col("n_rows_moved"),
            lit(5).as("k"), col("n_hits"),
            (col("n_hits") * 20).as("recall_pct"))
      },
      Some(
        s"""WITH $ivfCellsCte, $pqCte, $rebalanceServeCte, exact AS (
           |  SELECT vec_id FROM (
           |    SELECT vec_id, ${cosSql("embedding", "qv")} AS sim
           |    FROM embeddings, qv2 WHERE vec_id <> 0
           |    ORDER BY sim DESC, vec_id LIMIT 5)
           |), hits AS (
           |  SELECT count(*) AS n_hits FROM exact
           |  JOIN approx USING (vec_id)
           |), nmv AS (
           |  SELECT count(*) AS n_rows_moved
           |  FROM asg CROSS JOIN mx WHERE cell > maxl
           |), nog AS (SELECT count(*) AS n_overgrown FROM og),
           |ncb AS (SELECT count(*) AS n_cells_before FROM cent)
           |SELECT ncb.n_cells_before, nog.n_overgrown,
           |  ncb.n_cells_before + nog.n_overgrown AS n_cells_after,
           |  nmv.n_rows_moved,
           |  5 AS k, hits.n_hits, hits.n_hits * 20 AS recall_pct
           |FROM ncb, nog, nmv, hits""".stripMargin)),

    // SOFT-DELETE serving — the answer a production index gives in the
    // window BETWEEN a delete request and the compaction that
    // physically removes the rows (emb_ivfpq_delete): the tombstone
    // set rides as a SMALL SIDE TABLE (broadcast anti-join against the
    // shortlist scan, applied BEFORE the shortN cut so the shortlist
    // is never starved), the index files stay untouched, and no
    // tombstoned id can surface. Same slice as the hard delete
    // (deleteTombPred), so this query is the "before compaction" twin
    // of emb_ivfpq_delete's "after" — both must answer identically,
    // which the shared oracle shape makes checkable. At 100 TB the
    // tombstone table is the index's delete-log (tiny, broadcast);
    // serving cost is the unfiltered read plus one broadcast hash
    // anti-join on the pruned code rows.
    Q(
      "emb_ivfpq_soft_delete",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val codes = servedCodes(s, d)
        val cent = s.read.parquet(s"${indexPath(d)}/centroids")
        val e = emb(s, d)
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv")))
        // the delete-log side table (at scale: the index's tombstone
        // log, never derived from the corpus)
        val tombs = broadcast(e.filter(deleteTombPred).select("vec_id"))
        val probed = cent.crossJoin(qv)
          .select(col("c_label"),
            graft.functions.VecL2Sq.column(col("qv"), col("cvec"))
              .as("d2"))
          .orderBy(col("d2").asc_nulls_last, col("c_label"))
          .limit(2)
          .collect().map(_.getInt(0))
        val short = codes
          .filter(col("cell").isin(probed.map(Int.box): _*) &&
            col("vec_id") =!= 0)
          .join(tombs, Seq("vec_id"), "left_anti")
          .select(col("vec_id"),
            posexplode(col("codes")).as(Seq("j", "cid")))
          .join(broadcast(pqAdc(s, d)), Seq("j", "cid"))
          .groupBy("vec_id")
          .agg(sum(col("pd").cast(DecimalType(18, 6))).cast("double")
            .as("pq_d2"))
          .orderBy(col("pq_d2"), col("vec_id"))
          .limit(IvfPqShortN)
        e.join(broadcast(short), "vec_id")
          .crossJoin(qv)
          .select(col("vec_id"),
            round(cosine(col("embedding"), col("qv")), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(5)
      },
      Some(
        s"""WITH $ivfCellsCte, $pqCte, qcells AS (
           |  SELECT label AS cell FROM ranked WHERE vec_id = 0 AND rn <= 2
           |), qv AS (
           |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
           |), shortl AS (
           |  SELECT k.vec_id,
           |    CAST(sum(CAST(a.pd AS DECIMAL(18,6))) AS DOUBLE) AS pq_d2
           |  FROM codes k
           |  JOIN cells cl ON cl.vec_id = k.vec_id
           |  JOIN qcells qc ON qc.cell = cl.cell
           |  JOIN adc a ON a.j = k.j AND a.cid = k.cid
           |  WHERE k.vec_id <> 0
           |    AND NOT (k.vec_id % 10 = 7 AND k.vec_id <> 0)
           |  GROUP BY k.vec_id
           |  ORDER BY pq_d2, k.vec_id LIMIT $IvfPqShortN
           |)
           |SELECT e.vec_id,
           |  round(${cosSql("e.embedding", "qv.qv")}, 6) AS sim
           |FROM embeddings e
           |JOIN shortl sl ON sl.vec_id = e.vec_id
           |CROSS JOIN qv
           |ORDER BY sim DESC, e.vec_id LIMIT 5""".stripMargin)),

    // LATE-INTERACTION multi-vector retrieval (ColBERT-style max-sim,
    // Khattab & Zaharia, SIGIR'20): a "document" is a GROUP of chunk
    // vectors (gid = vec_id div 10 over the pinned corpus — the
    // stand-in for a chunked-document embedding table), and the
    // document's score against the query is the MAX cosine over its
    // members. Retrieval returns the top-5 documents with the member
    // that achieved the max (the matched chunk — what a RAG pipeline
    // highlights). Plan shape: one narrow scan x broadcast query
    // vector, a gid-KEYED window for the per-group argmax (never a
    // global window), TakeOrdered for the final 5. At 100 TB the
    // max-sim scan composes with any first-stage ANN shortlist (run
    // per-member ANN, group, max) — this query pins the exact scoring
    // semantics that composition must preserve. Query's own group
    // (gid 0) is excluded, the self-exclusion convention.
    Q(
      "emb_maxsim_topk",
      (s, d) => {
        val e = emb(s, d)
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv")))
        val wG = Window.partitionBy(col("gid"))
          .orderBy(col("sim").desc, col("vec_id"))
        e.filter(col("vec_id") =!= 0)
          .crossJoin(qv)
          .select(expr("vec_id div 10").as("gid"),
            col("vec_id"),
            round(cosine(col("embedding"), col("qv")), 6).as("sim"))
          .filter(col("gid") =!= 0)
          .withColumn("rn", row_number().over(wG))
          .filter(col("rn") === 1)
          .select(col("gid"), col("vec_id").as("best_vec_id"),
            col("sim").as("best_sim"))
          .orderBy(col("best_sim").desc, col("gid"))
          .limit(5)
      },
      Some(
        s"""WITH qv AS (
           |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
           |), scored AS (
           |  SELECT CAST(e.vec_id // 10 AS BIGINT) AS gid, e.vec_id,
           |    round(${cosSql("e.embedding", "qv.qv")}, 6) AS sim
           |  FROM embeddings e CROSS JOIN qv
           |  WHERE e.vec_id <> 0 AND e.vec_id // 10 <> 0
           |), best AS (
           |  SELECT gid, vec_id AS best_vec_id, sim AS best_sim FROM (
           |    SELECT *, row_number() OVER (PARTITION BY gid
           |      ORDER BY sim DESC, vec_id) AS rn
           |    FROM scored) WHERE rn = 1
           |)
           |SELECT gid, best_vec_id, best_sim FROM best
           |ORDER BY best_sim DESC, gid LIMIT 5""".stripMargin)),

    // BLUE/GREEN versioned serving — the deployment shape every
    // production index swap uses: versions are logical manifests over
    // IMMUTABLE artifact directories (v1 = the as-built index, v2 =
    // the rebalanced one, v3 = the retrained epoch — no bytes copied),
    // the swap is one atomic MANIFEST.json rename, and the server
    // resolves its centroid/code paths from the manifest at read time.
    // This query publishes v1 -> v2 -> v3 (once per session) and
    // serves the PUBLISHED version — so its answer equals the
    // retrained serve, plus the version column proving which index
    // answered. Rollback = republishing an earlier manifest
    // (EmbPublishSpec walks swap atomicity, old-version immutability
    // across a publish, and rollback). At 100 TB the manifest read is
    // one tiny FS open; everything else prices exactly like
    // emb_ivfpq_served.
    Q(
      "emb_ivfpq_published",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        publishedOnce(s, d)
        val root = indexPath(d)
        val (ver, centPath, codesPath) = readManifest(s, root)
        val cent2 = s.read.parquet(centPath)
        // segment-list tolerant (the versioned streaming maintenance
        // manifest form); the batch publish chain stays single-segment
        val codes2 = readSegments(s, codesPath)
        val e = emb(s, d)
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv")))
        val probed = cent2.crossJoin(qv)
          .select(col("c_label"),
            graft.functions.VecL2Sq.column(col("qv"), col("cvec"))
              .as("d2"))
          .orderBy(col("d2").asc_nulls_last, col("c_label"))
          .limit(2)
          .collect().map(_.getInt(0))
        val short = codes2
          .filter(col("cell").isin(probed.map(Int.box): _*) &&
            col("vec_id") =!= 0)
          .select(col("vec_id"),
            posexplode(col("codes")).as(Seq("j", "cid")))
          .join(broadcast(pqAdc(s, d)), Seq("j", "cid"))
          .groupBy("vec_id")
          .agg(sum(col("pd").cast(DecimalType(18, 6))).cast("double")
            .as("pq_d2"))
          .orderBy(col("pq_d2"), col("vec_id"))
          .limit(IvfPqShortN)
        e.join(broadcast(short), "vec_id")
          .crossJoin(qv)
          .select(lit(ver).as("version"), col("vec_id"),
            round(cosine(col("embedding"), col("qv")), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(5)
      },
      Some(
        s"""WITH $ivfCellsCte, $pqCte, $rebalanceServeCte, $retrainCte
           |SELECT 3 AS version, vec_id, sim FROM approx3
           |ORDER BY sim DESC, vec_id""".stripMargin)),

    // RETRAIN EXECUTION + EPOCH ACCOUNTING — the act
    // emb_retrain_decision exists to trigger, completing the index-ops
    // lifecycle: one full Lloyd epoch over the current (post-rebalance)
    // state (M-step re-means every cell from its ACTUAL membership,
    // E-step reassigns every row, emptied cells prune — retrainApplied),
    // published as v3 through the SAME blue/green manifest the earlier
    // versions used, with v2 still rollback-able (EmbRetrainSpec walks
    // both). The accounting row prices the epoch: how many rows moved,
    // the drift it cured (misplaced_before -> misplaced_after, which a
    // completed epoch provably zeroes — the engine MEASURES it off the
    // written artifacts, the oracle recomputes it from lineage), and
    // recall@5 on both sides of the epoch against the same exact
    // top-5 (the emb_ivfpq_recall accounting convention). Cost is
    // corpus-proportional BY DESIGN — the one index op that is; the
    // epoch itself is charged to the publish chain's first touch
    // (SCALE.md documents the attribution), this query's own timer
    // covers the accounting scans.
    Q(
      "emb_ivfpq_retrain",
      (s, d) => {
        publishedOnce(s, d)
        val root = indexPath(d)
        val (ver, _, _) = readManifest(s, root)
        val cent2 = s.read.parquet(s"$root/centroids_reb")
        val cent3a = s.read.parquet(s"$root/centroids_rt_all")
        val cent3 = s.read.parquet(s"$root/centroids_rt")
        val codes2 = s.read.parquet(s"$root/codes_reb")
        val codes3 = retrainApplied(s, d)
        // epoch movement, measured off the two written artifacts
        val mv = codes3.select(col("vec_id"), col("cell").as("cell3"))
          .join(codes2.select(col("vec_id"), col("cell").as("cell2")),
            Seq("vec_id"))
          .agg(coalesce(sum(when(col("cell3") =!= col("cell2"), 1L)),
            lit(0L)).cast("long").as("n_moved"))
        // drift before (the fsck's misplaced measurement) and after
        // (argmin over the PUBLISHED pruned centroids vs stored cells —
        // a completed epoch must measure zero)
        val mb = rebalancedNear(s, d)
          .filter(col("label") =!= col("cell"))
          .agg(count(lit(1)).cast("long").as("misplaced_before"))
        val ma = nearestAssign(s, d,
            codes3.select(col("vec_id"), col("cell")),
            s"$root/centroids_rt")
          .filter(col("label") =!= col("cell"))
          .agg(count(lit(1)).cast("long").as("misplaced_after"))
        // recall@5 on both sides of the epoch, same machinery each side
        val exact = exactTop5(s, d).select("vec_id")
        val hb = servedTop5At(s, d, cent2, codes2)
          .join(broadcast(exact), "vec_id")
          .agg(count(lit(1)).cast("long").as("n_hits_before"))
        val ha = servedTop5At(s, d, cent3, codes3)
          .join(broadcast(exact), "vec_id")
          .agg(count(lit(1)).cast("long").as("n_hits_after"))
        val cb = cent2.agg(count(lit(1)).cast("long").as("n_cells_before"))
        val caAll = cent3a.agg(count(lit(1)).cast("long").as("n_cells_all"))
        val ca = cent3.agg(count(lit(1)).cast("long").as("n_cells_after"))
        cb.crossJoin(broadcast(caAll))
          .crossJoin(broadcast(ca))
          .crossJoin(broadcast(mv))
          .crossJoin(broadcast(mb))
          .crossJoin(broadcast(ma))
          .crossJoin(broadcast(hb))
          .crossJoin(broadcast(ha))
          .select(lit(ver).as("version_published"),
            col("n_cells_before"),
            (col("n_cells_all") - col("n_cells_after"))
              .cast("long").as("n_cells_pruned"),
            col("n_cells_after"), col("n_moved"),
            col("misplaced_before"), col("misplaced_after"),
            col("n_hits_before"),
            (col("n_hits_before") * 20).cast("long")
              .as("recall_pct_before"),
            col("n_hits_after"),
            (col("n_hits_after") * 20).cast("long")
              .as("recall_pct_after"))
      },
      Some(
        s"""WITH $ivfCellsCte, $pqCte, $rebalanceServeCte,
           |$rebalancedNpCte, $retrainCte, np3k AS (
           |  SELECT c3.vec_id, c3.cell AS stored, ct.label,
           |    row_number() OVER (PARTITION BY c3.vec_id
           |      ORDER BY ${l2Sql("e.embedding", "ct.cvec")} NULLS LAST,
           |        ct.label) AS rn
           |  FROM cells3 c3 JOIN embeddings e USING (vec_id)
           |  CROSS JOIN cent3 ct
           |), exact AS (
           |  SELECT vec_id FROM (
           |    SELECT vec_id, ${cosSql("embedding", "qv")} AS sim
           |    FROM embeddings, qv2 WHERE vec_id <> 0
           |    ORDER BY sim DESC, vec_id LIMIT 5)
           |), hb AS (
           |  SELECT count(*) AS n_hits_before FROM exact
           |  JOIN approx USING (vec_id)
           |), ha AS (
           |  SELECT count(*) AS n_hits_after FROM exact
           |  JOIN approx3 USING (vec_id)
           |), mb AS (
           |  SELECT count(*) AS misplaced_before FROM np
           |  WHERE rn = 1 AND label <> stored
           |), ma AS (
           |  SELECT count(*) AS misplaced_after FROM np3k
           |  WHERE rn = 1 AND label <> stored
           |), mv AS (
           |  SELECT count(*) AS n_moved FROM np3
           |  WHERE rn = 1 AND label <> stored
           |), cb AS (SELECT count(*) AS n_cells_before FROM cent2),
           |caa AS (SELECT count(*) AS n_cells_all FROM cent3a),
           |ca AS (SELECT count(*) AS n_cells_after FROM cent3)
           |SELECT 3 AS version_published,
           |  CAST(cb.n_cells_before AS BIGINT) AS n_cells_before,
           |  CAST(caa.n_cells_all - ca.n_cells_after AS BIGINT)
           |    AS n_cells_pruned,
           |  CAST(ca.n_cells_after AS BIGINT) AS n_cells_after,
           |  CAST(mv.n_moved AS BIGINT) AS n_moved,
           |  CAST(mb.misplaced_before AS BIGINT) AS misplaced_before,
           |  CAST(ma.misplaced_after AS BIGINT) AS misplaced_after,
           |  CAST(hb.n_hits_before AS BIGINT) AS n_hits_before,
           |  CAST(hb.n_hits_before * 20 AS BIGINT) AS recall_pct_before,
           |  CAST(ha.n_hits_after AS BIGINT) AS n_hits_after,
           |  CAST(ha.n_hits_after * 20 AS BIGINT) AS recall_pct_after
           |FROM cb, caa, ca, mv, mb, ma, hb, ha""".stripMargin)),

    // emb_maxsim_topk's SCALE PATH, composed: first-stage IVF pruning
    // (the query's 2 nearest cells — the same probe emb_ivf_ann
    // serves), THEN the per-document max-sim scoring over only the
    // probed cells' members. The exact-semantics twin above scans the
    // corpus; this one scans ~nprobe/kk of it and must preserve the
    // scoring semantics on the candidates it sees — top-5 documents by
    // best surviving chunk. (A document whose best chunk lives outside
    // the probed cells can rank by a weaker chunk or drop out — the
    // standard first-stage-recall trade every late-interaction system
    // makes; emb_maxsim_topk is the exact reference to eval against.)
    Q(
      "emb_maxsim_ivf",
      (s, d) => {
        val e = emb(s, d)
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv")))
        val assign = ivfAssign(s, d)
        // the 2-cell probe: the query's own cell + runner-up come from
        // the memoized ranking slice (rn <= 2 of vec 0)
        val probed = assign
          .filter(col("vec_id") === 0 && col("rn") <= 2)
          .select(col("c_label")).collect().map(_.getInt(0))
        val wG = Window.partitionBy(col("gid"))
          .orderBy(col("sim").desc, col("vec_id"))
        assign.filter(col("rn") === 1 &&
            col("c_label").isin(probed.map(Int.box): _*) &&
            col("vec_id") =!= 0)
          .select("vec_id")
          .join(e, "vec_id") // pruned fetch of only the probed members
          .crossJoin(qv)
          .select(expr("vec_id div 10").as("gid"), col("vec_id"),
            round(cosine(col("embedding"), col("qv")), 6).as("sim"))
          .filter(col("gid") =!= 0)
          .withColumn("rn", row_number().over(wG))
          .filter(col("rn") === 1)
          .select(col("gid"), col("vec_id").as("best_vec_id"),
            col("sim").as("best_sim"))
          .orderBy(col("best_sim").desc, col("gid"))
          .limit(5)
      },
      Some(
        s"""WITH $ivfCellsCte, qcells AS (
           |  SELECT label AS cell FROM ranked WHERE vec_id = 0 AND rn <= 2
           |), qv AS (
           |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
           |), scored AS (
           |  SELECT CAST(e.vec_id // 10 AS BIGINT) AS gid, e.vec_id,
           |    round(${cosSql("e.embedding", "qv.qv")}, 6) AS sim
           |  FROM embeddings e
           |  JOIN cells cl ON cl.vec_id = e.vec_id
           |  JOIN qcells qc ON qc.cell = cl.cell
           |  CROSS JOIN qv
           |  WHERE e.vec_id <> 0 AND e.vec_id // 10 <> 0
           |), best AS (
           |  SELECT gid, vec_id AS best_vec_id, sim AS best_sim FROM (
           |    SELECT *, row_number() OVER (PARTITION BY gid
           |      ORDER BY sim DESC, vec_id) AS rn
           |    FROM scored) WHERE rn = 1
           |)
           |SELECT gid, best_vec_id, best_sim FROM best
           |ORDER BY best_sim DESC, gid LIMIT 5""".stripMargin)),

    // recall@5 of the IVF-pruned max-sim against the exact max-sim —
    // the eval row the composition implies (the emb_ivfpq_recall
    // convention: same k, same accounting columns, so the
    // late-interaction path evals on the same scale as the
    // single-vector ladder). This is the number that prices the
    // first-stage-recall trade emb_maxsim_ivf documents.
    Q(
      "emb_maxsim_recall",
      (s, d) => {
        val e = emb(s, d)
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv")))
        val wG = Window.partitionBy(col("gid"))
          .orderBy(col("sim").desc, col("vec_id"))
        def top5(src: DataFrame): DataFrame = src
          .crossJoin(qv)
          .select(expr("vec_id div 10").as("gid"), col("vec_id"),
            round(cosine(col("embedding"), col("qv")), 6).as("sim"))
          .filter(col("gid") =!= 0)
          .withColumn("rn", row_number().over(wG))
          .filter(col("rn") === 1)
          .orderBy(col("sim").desc, col("gid"))
          .limit(5)
          .select("gid")
        val exact = top5(e.filter(col("vec_id") =!= 0))
        val assign = ivfAssign(s, d)
        val probed = assign
          .filter(col("vec_id") === 0 && col("rn") <= 2)
          .select(col("c_label")).collect().map(_.getInt(0))
        val pruned = top5(
          assign.filter(col("rn") === 1 &&
            col("c_label").isin(probed.map(Int.box): _*) &&
            col("vec_id") =!= 0)
            .select("vec_id").join(e, "vec_id"))
        exact.join(broadcast(pruned), Seq("gid"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(5).as("k"), col("n_hits"),
            (col("n_hits") * 20).as("recall_pct"))
      },
      Some(
        s"""WITH $ivfCellsCte, qcells AS (
           |  SELECT label AS cell FROM ranked WHERE vec_id = 0 AND rn <= 2
           |), qv AS (
           |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
           |), sall AS (
           |  SELECT CAST(e.vec_id // 10 AS BIGINT) AS gid, e.vec_id,
           |    round(${cosSql("e.embedding", "qv.qv")}, 6) AS sim
           |  FROM embeddings e CROSS JOIN qv
           |  WHERE e.vec_id <> 0 AND e.vec_id // 10 <> 0
           |), bexact AS (
           |  SELECT gid FROM (
           |    SELECT gid, sim, row_number() OVER (PARTITION BY gid
           |      ORDER BY sim DESC, vec_id) AS rn
           |    FROM sall) WHERE rn = 1
           |  ORDER BY sim DESC, gid LIMIT 5
           |), spruned AS (
           |  SELECT s.* FROM sall s
           |  JOIN cells cl ON cl.vec_id = s.vec_id
           |  JOIN qcells qc ON qc.cell = cl.cell
           |), bpruned AS (
           |  SELECT gid FROM (
           |    SELECT gid, sim, row_number() OVER (PARTITION BY gid
           |      ORDER BY sim DESC, vec_id) AS rn
           |    FROM spruned) WHERE rn = 1
           |  ORDER BY sim DESC, gid LIMIT 5
           |)
           |SELECT 5 AS k, count(*) AS n_hits, count(*) * 20 AS recall_pct
           |FROM bexact JOIN bpruned USING (gid)""".stripMargin)),

    // RANGE (radius) search — the vector-store query shape top-k
    // cannot express: ALL vectors within squared-L2 RangeR2 of the
    // query ("everything this similar", dedup candidate pulls, policy
    // screens). EXACT result with LOSSLESS cell pruning: per cell the
    // index keeps max member-to-centroid distance r (index metadata
    // maintained at build; recomputed here off the memoized
    // assignment), and the triangle inequality drops every cell whose
    // lower bound |q-c| - r exceeds the radius — the pruning decides
    // only which cells are SCANNED, never which rows pass, so the
    // answer equals the oracle's full scan while touching the same
    // pruned directories the top-k serve touches. The bound carries a
    // 1e-6 slack so a boundary ulp can only UNDER-prune (scan one
    // extra cell), never drop a hit. At 100 TB: centroid+radius table
    // broadcast (index metadata), pruned cell scan, one rounded
    // distance per survivor.
    Q(
      "emb_range_search",
      (s, d) => {
        val e = emb(s, d)
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv")))
        val assign = ivfAssign(s, d).filter(col("rn") === 1)
        val radius = assign.groupBy(col("c_label").as("cell"))
          .agg(max(sqrt(col("d2"))).as("r"))
        val qd = ivfCentroids(s, d).crossJoin(qv)
          .select(col("c_label").as("cell"),
            sqrt(graft.functions.VecL2Sq.column(col("qv"), col("cvec")))
              .as("qdist"))
        // keep a cell unless its lower bound provably exceeds the
        // radius; NULL geometry (ragged/zero vectors) is kept — safety
        // over pruning
        val kept = qd.join(radius, Seq("cell"), "left")
          .filter(col("qdist").isNull || col("r").isNull ||
            col("qdist") - col("r") <=
              lit(math.sqrt(RangeR2) + 1e-6))
          .select("cell").collect().map(_.getInt(0))
        assign.filter(col("c_label").isin(kept.map(Int.box): _*) &&
            col("vec_id") =!= 0)
          .select("vec_id")
          .join(e, "vec_id") // pruned fetch of only the kept members
          .crossJoin(qv)
          .select(col("vec_id"),
            round(graft.functions.VecL2Sq
              .column(col("embedding"), col("qv")), 6).as("d2"))
          .filter(col("d2") <= RangeR2)
          .orderBy(col("d2"), col("vec_id"))
      },
      Some(
        s"""WITH qv AS (
           |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
           |), sc AS (
           |  SELECT e.vec_id,
           |    round(${l2Sql("e.embedding", "qv.qv")}, 6) AS d2
           |  FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> 0
           |)
           |SELECT vec_id, d2 FROM sc WHERE d2 <= $RangeR2
           |ORDER BY d2, vec_id""".stripMargin)),

    // nDCG@5 of every ANN method against the exact ranking — the rank-
    // aware retrieval metric that recall@k (emb_recall_eval /
    // emb_ivfpq_recall) cannot express: recall treats "right ids, wrong
    // order" as perfect; nDCG discounts each hit by its position
    // (Järvelin & Kekäläinen, TOIS'02). One row per method (exact as
    // the =1.0 sanity row, ivf, ivfpq, lsh), binary relevance against
    // the exact top-5. EXACTNESS: the log2 discounts are FIXED micro-
    // integer literals shared by both engines (never a runtime log2,
    // whose last ulp is engine-specific), so DCG is an integer dot
    // product and nDCG an integer division — exact end-to-end. Each
    // method's list is a bounded 5-row TakeOrderedAndProject output;
    // the re-rank windows sort 5 rows (PlanSpec global-window
    // whitelist member).
    Q(
      "emb_ndcg_eval",
      (s, d) => {
        val exact = exactTop5(s, d)
        val exactIds = broadcast(
          exact.select(col("vec_id")).withColumn("rel", lit(1L)))
        val discArr = array(NdcgDiscMicro.map(lit): _*)
        def row(ranked: DataFrame, method: String): DataFrame =
          ranked.select(col("vec_id"), col("sim"))
            .withColumn("pos", row_number().over(
              Window.orderBy(col("sim").desc, col("vec_id"))))
            .join(exactIds, Seq("vec_id"), "left_outer")
            .groupBy()
            // coalesce the global-agg sum: an EMPTY ranked list (LSH
            // with no band match on a degenerate corpus) must report
            // dcg 0, matching the oracle's method-list LEFT JOIN —
            // not a NULL row the oracle's GROUP BY would drop.
            .agg(coalesce(sum(coalesce(col("rel"), lit(0L)) *
              element_at(discArr, col("pos"))), lit(0L)).as("dcg_micro"))
            .select(lit(method).as("method"),
              col("dcg_micro"),
              expr(s"CAST((dcg_micro * 1000000) div $NdcgIdcgMicro" +
                " AS BIGINT)").as("ndcg_micro"))
        row(exact, "exact")
          .unionByName(row(ivfTop5(s, d), "ivf"))
          .unionByName(row(ivfpqTop5(s, d), "ivfpq"))
          .unionByName(row(lshTop5(s, d), "lsh"))
          .orderBy("method")
      },
      Some {
        val discRows = NdcgDiscMicro.zipWithIndex
          .map { case (m, i) => s"(${i + 1}, $m)" }.mkString(", ")
        s"""WITH q AS (
           |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
           |), exact5 AS (
           |  SELECT vec_id, sim,
           |    row_number() OVER (ORDER BY sim DESC, vec_id) AS pos
           |  FROM (
           |    SELECT vec_id, ${cosSql("embedding", "qv")} AS sim
           |    FROM embeddings, q WHERE vec_id <> 0
           |    ORDER BY sim DESC, vec_id LIMIT 5)
           |), disc(pos, dm) AS (
           |  VALUES $discRows
           |), scored AS (
           |  SELECT 'exact' AS method, vec_id, pos FROM exact5
           |  UNION ALL
           |  SELECT 'ivf' AS method, vec_id,
           |    row_number() OVER (ORDER BY sim DESC, vec_id) AS pos
           |  FROM ($ivfSql) r
           |  UNION ALL
           |  SELECT 'ivfpq' AS method, vec_id,
           |    row_number() OVER (ORDER BY sim DESC, vec_id) AS pos
           |  FROM ($ivfpqSql) r
           |  UNION ALL
           |  SELECT 'lsh' AS method, vec_id,
           |    row_number() OVER (ORDER BY sim DESC, vec_id) AS pos
           |  FROM ($lshSql) r
           |), j AS (
           |  SELECT s.method,
           |    d.dm * (CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
           |      AS dm
           |  FROM scored s JOIN disc d USING (pos)
           |  LEFT JOIN (SELECT vec_id FROM exact5) e ON e.vec_id = s.vec_id
           |), methods(method) AS (
           |  VALUES ('exact'), ('ivf'), ('ivfpq'), ('lsh')
           |)
           |SELECT m.method,
           |  CAST(coalesce(sum(dm), 0) AS BIGINT) AS dcg_micro,
           |  CAST((coalesce(sum(dm), 0) * 1000000) // $NdcgIdcgMicro
           |    AS BIGINT) AS ndcg_micro
           |FROM methods m LEFT JOIN j ON j.method = m.method
           |GROUP BY m.method ORDER BY m.method""".stripMargin
      }),

    // HYBRID retrieval (the RAG serving shape): a keyword channel and a
    // vector channel each produce a bounded ranked list, fused by
    // reciprocal-rank fusion (Cormack et al., SIGIR'09):
    // rrf(d) = sum over channels of 1/(K + rank_ch(d)), K = 60.
    // Scale shape: each channel reduces the corpus with
    // TakeOrderedAndProject (per-partition heaps, top-N rows cross to
    // the driver merge) BEFORE any ranking window runs — the
    // unpartitioned row_number sorts <= N pre-reduced rows in one task,
    // never the corpus; the fusion join is N x N row frames. Rank
    // arithmetic is integer; the RRF terms are the same IEEE double ops
    // in the same order on both engines, rounded at 9 dp. The keyword
    // channel scores distinct-token overlap with the query terms
    // (integer, exact); the vector channel reuses the broadcast-query
    // cosine of emb_knn_cosine. doc_id doubles as vec_id (1:1 aligned
    // tables); the query doc (id 0) is excluded from both channels.
    Q("emb_hybrid_rrf", (s, d) => hybridFused(s, d), Some(hybridFusedSql)),

    // RANKING-QUALITY metric for the hybrid retrieval read — the eval a
    // RAG stack runs over its fused ranking: with the exact cosine
    // top-5 as the relevance oracle, score emb_hybrid_rrf's fused
    // top-10 by MRR and a harmonic-discount nDCG. Exactness: ranks are
    // integers over a bounded 10-row frame; the harmonic DCG uses the
    // lcm(1..10) = 2520 scaling (2520/r is an exact integer for every
    // rank r <= 10), so DCG and the ideal DCG (2520·(1+1/2+..+1/5)
    // = 5754) are exact BIGINTs and above_half is a cross-multiplied
    // integer compare — the log2 discount would hinge on libm rounding,
    // the harmonic one never leaves integer arithmetic. Plan shape:
    // top-N x top-N only (10-row fused frame joined to a broadcast
    // 5-row relevance set); the corpus is touched exactly twice, both
    // times through TakeOrderedAndProject heaps.
    Q(
      "emb_rrf_rank_quality",
      (s, d) => {
        val fusedRanked = hybridFused(s, d)
          .withColumn("r", row_number().over(
            Window.orderBy(col("rrf").desc, col("doc_id"))))
        // relevance oracle = the memoized exact-cosine top-5 (identical
        // rounding and tie order; doc_id doubles as vec_id)
        val rel = exactTop5(s, d)
          .select(col("vec_id").as("doc_id"), lit(1).as("rel"))
        fusedRanked.join(broadcast(rel), Seq("doc_id"), "left")
          .agg(
            count(lit(1)).as("n_ranked"),
            sum(coalesce(col("rel"), lit(0))).as("n_rel_in_top10"),
            min(when(col("rel") === 1, col("r"))).as("first_rel_rank"),
            coalesce(sum(when(col("rel") === 1, expr("2520 div r"))),
              lit(0L)).as("hdcg_2520"))
          .select(col("n_ranked"), col("n_rel_in_top10"),
            col("first_rel_rank"),
            round(coalesce(lit(1.0) / col("first_rel_rank"), lit(0.0)), 6)
              .as("mrr"),
            col("hdcg_2520"), lit(5754L).as("idcg_2520"),
            round(col("hdcg_2520").cast("double") / 5754, 6).as("ndcg_h"),
            (col("hdcg_2520") * 2 > 5754).as("above_half"))
      },
      Some(
        s"""WITH f AS (SELECT * FROM ($hybridFusedSql) t),
           |rr AS (
           |  SELECT doc_id,
           |    row_number() OVER (ORDER BY rrf DESC, doc_id) AS r
           |  FROM f
           |), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |rel AS (
           |  SELECT vec_id AS doc_id FROM embeddings, q WHERE vec_id <> 0
           |  ORDER BY ${cosSql("embedding", "qv")} DESC, vec_id LIMIT 5
           |), m AS (
           |  SELECT rr.r,
           |    CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
           |  FROM rr LEFT JOIN rel USING (doc_id)
           |)
           |SELECT count(*) AS n_ranked,
           |  CAST(sum(rel) AS BIGINT) AS n_rel_in_top10,
           |  CAST(min(CASE WHEN rel = 1 THEN r END) AS INT)
           |    AS first_rel_rank,
           |  round(coalesce(
           |    CAST(1.0 AS DOUBLE) / min(CASE WHEN rel = 1 THEN r END),
           |    0), 6) AS mrr,
           |  CAST(coalesce(sum(CASE WHEN rel = 1 THEN 2520 // r END), 0)
           |    AS BIGINT) AS hdcg_2520,
           |  CAST(5754 AS BIGINT) AS idcg_2520,
           |  round(CAST(coalesce(sum(CASE WHEN rel = 1 THEN 2520 // r END),
           |    0) AS DOUBLE) / 5754, 6) AS ndcg_h,
           |  coalesce(sum(CASE WHEN rel = 1 THEN 2520 // r END), 0) * 2
           |    > 5754 AS above_half
           |FROM m""".stripMargin)),

    // Embedding DRIFT between deterministic halves (vec_id parity stands
    // in for a train/serve or week-over-week split): per label, the
    // squared-L2 distance between the two halves' per-dim centroids —
    // the distribution-shift monitor a vector pipeline runs before
    // trusting an index or a model refresh. Exactness: EVERY step is
    // integer arithmetic. Each value is scaled to a 1e-10-grid integer
    // first (the float->double product v*1e10 is the same IEEE double on
    // both engines, and both round ties away from zero; a binary
    // fraction can never tie at a non-dyadic 5e-11 boundary anyway), the
    // per-(label,dim,half) SUM and COUNT are exact int64, and the
    // 6-dp-scaled mean is a half-away-from-zero integer division
    // written out longhand ((2s+D) div 2D on the sign-normalized
    // numerator) — round(avg(double)) was provably ulp-unstable here:
    // a mean within one ulp of a 5e-7 boundary rounded opposite ways on
    // Spark vs DuckDB and flipped the hash. Shape: one scan, one
    // partial-agg'd shuffle on (label, dim), a |labels|-row re-agg —
    // the corpus never moves twice.
    Q(
      "emb_drift_by_label",
      (s, d) => {
        val m6 = (sc: String, n: String) =>
          s"""CASE WHEN $sc >= 0 THEN (2 * $sc + $n * 10000) div (2 * $n * 10000)
             |ELSE -((-2 * $sc + $n * 10000) div (2 * $n * 10000)) END""".stripMargin
        // sa/sb accumulate as DECIMAL(38,0): at the 1e10 grid an int64
        // `2*sum` wraps silently past ~4.6e8 values per (label, dim) —
        // decimal overflow is NULL (loud), and values match the int64
        // path bit-for-bit below that. The oracle's sum is HUGEINT
        // natively (DuckDB sum(BIGINT)), so both sides are wrap-proof.
        val cent = emb(s, d)
          .select(col("label"), (col("vec_id") % 2).as("half"),
            posexplode(col("embedding")).as(Seq("dim", "v")))
          .withColumn("vi",
            round(col("v").cast("double") * 1e10, 0).cast("long"))
          .groupBy("label", "dim")
          .agg(
            sum(when(col("half") === 0, col("vi")).cast("decimal(19,0)"))
              .as("sa"),
            count(when(col("half") === 0, lit(1))).as("na"),
            sum(when(col("half") === 1, col("vi")).cast("decimal(19,0)"))
              .as("sb"),
            count(when(col("half") === 1, lit(1))).as("nb"))
          .select(col("label"),
            expr(m6("sa", "na")).cast("long").as("ma6"),
            expr(m6("sb", "nb")).cast("long").as("mb6"))
        cent.groupBy("label")
          .agg(sum((col("ma6") - col("mb6")) * (col("ma6") - col("mb6")))
            .as("drift_sq_um"))
          .orderBy("label")
      },
      Some(
        """WITH scaled AS (
          |  -- parallel unnest, NOT range(1,65): posexplode emits nothing
          |  -- for a short vector's missing dims, and the half-counts
          |  -- below must not count a fixed range's NULL padding rows
          |  SELECT label, vec_id % 2 AS half, CAST(i - 1 AS INT) AS dim,
          |    CAST(round(CAST(v AS DOUBLE) * 1e10, 0) AS BIGINT) AS vi
          |  FROM (SELECT label, vec_id, unnest(embedding) AS v,
          |          generate_subscripts(embedding, 1) AS i
          |        FROM embeddings)
          |), cent AS (
          |  -- sa/sb stay HUGEINT (DuckDB's native sum(BIGINT)) — the
          |  -- BIGINT cap would error at the scale the Spark side now
          |  -- survives via decimal accumulation
          |  SELECT label, dim,
          |    sum(CASE WHEN half = 0 THEN vi END) AS sa,
          |    CAST(count(CASE WHEN half = 0 THEN 1 END) AS BIGINT) AS na,
          |    sum(CASE WHEN half = 1 THEN vi END) AS sb,
          |    CAST(count(CASE WHEN half = 1 THEN 1 END) AS BIGINT) AS nb
          |  FROM scaled GROUP BY 1, 2
          |), m AS (
          |  SELECT label,
          |    CASE WHEN sa >= 0 THEN (2 * sa + na * 10000) // (2 * na * 10000)
          |      ELSE -((-2 * sa + na * 10000) // (2 * na * 10000)) END AS ma6,
          |    CASE WHEN sb >= 0 THEN (2 * sb + nb * 10000) // (2 * nb * 10000)
          |      ELSE -((-2 * sb + nb * 10000) // (2 * nb * 10000)) END AS mb6
          |  FROM cent
          |)
          |SELECT label,
          |  CAST(sum((ma6 - mb6) * (ma6 - mb6)) AS BIGINT) AS drift_sq_um
          |FROM m GROUP BY label ORDER BY label""".stripMargin)),

    // IVF index health: per-cell population plus a balance flag (no
    // cell holds more than 2x the fair share). A skewed cell makes
    // probe cost unpredictable — this is the audit that decides whether
    // the codebook needs re-training. All integer arithmetic
    // (n · n_cells <= 2 · total cross-multiplies the fair-share ratio);
    // reuses the SAME assignment lineage as emb_ivf_ann/emb_recall_eval
    // on both engines, so the audit can never drift from the index it
    // audits.
    Q(
      "emb_cell_balance",
      (s, d) => {
        val cells = ivfRanked(s, d).filter(col("rn") === 1)
          .select(col("vec_id"), col("c_label").as("cell"))
        val sz = cells.groupBy("cell").agg(count(lit(1)).as("n_vectors"))
        val tot = sz.agg(count(lit(1)).as("n_cells"),
          sum(col("n_vectors")).cast("long").as("total"))
        sz.crossJoin(broadcast(tot))
          .select(col("cell"), col("n_vectors"),
            (col("n_vectors") * col("n_cells") <= lit(2) * col("total"))
              .as("balanced"))
          .orderBy("cell")
      },
      Some(
        s"""WITH $ivfCellsCte, cellsz AS (
           |  SELECT cell, count(*) AS n_vectors FROM cells GROUP BY 1
           |), tot AS (
           |  SELECT count(*) AS n_cells,
           |    CAST(sum(n_vectors) AS BIGINT) AS total
           |  FROM cellsz
           |)
           |SELECT cell, n_vectors,
           |  n_vectors * n_cells <= 2 * total AS balanced
           |FROM cellsz CROSS JOIN tot ORDER BY cell""".stripMargin)),

    // Matryoshka-style dimension-truncation evaluation: recall@5 of
    // cosine over only the FIRST MrlDim dims vs the full-width exact
    // top-5 — the measurement that decides whether a cheaper truncated
    // index (4x less scan bandwidth, 4x smaller cache footprint) is
    // good enough to serve first-stage retrieval at 100 TB. Same
    // bounded 5x5 semi-join shape as emb_recall_eval; both channels are
    // broadcast-query narrow scans + TakeOrderedAndProject. BOTH
    // channels rank only strict-contract vectors (exactly 64 non-null
    // floats, the emb_sq_ann/LshSig convention): without the filter a
    // ragged 32-dim vector — NULL under the full-width kernel guard,
    // hence invisible to the exact channel — would slice to a clean
    // 16-dim prefix, score in the truncated channel, displace a real
    // neighbor, and depress recall for reasons unrelated to truncation
    // quality.
    Q(
      "emb_mrl_recall",
      (s, d) => {
        val e = emb(s, d)
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv")))
        val scored = e.filter(col("vec_id") =!= 0)
          .filter(size(col("embedding")) === 64 &&
            !exists(col("embedding"), x => x.isNull))
          .crossJoin(qv)
        val exact = scored
          .select(col("vec_id"),
            round(cosine(col("embedding"), col("qv")), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(5).select("vec_id")
        val trunc = scored
          .select(col("vec_id"),
            round(cosine(slice(col("embedding"), 1, MrlDim),
              slice(col("qv"), 1, MrlDim)), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(5).select("vec_id")
        exact.join(trunc, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_overlap"))
          .select(lit(5).as("k"), lit(MrlDim).as("dims"), col("n_overlap"),
            round(col("n_overlap").cast("double") / 5, 6).as("recall_at_k"))
      },
      Some(
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |base AS (
           |  SELECT vec_id, embedding FROM embeddings
           |  WHERE vec_id <> 0 AND len(embedding) = 64
           |    AND len(list_filter(embedding, x -> x IS NULL)) = 0
           |), exact AS (
           |  SELECT vec_id FROM (
           |    SELECT vec_id, ${cosSql("embedding", "qv")} AS sim
           |    FROM base, q
           |    ORDER BY sim DESC, vec_id LIMIT 5)
           |), trunc AS (
           |  SELECT vec_id FROM (
           |    SELECT vec_id,
           |      ${cosSql(s"(embedding[1:$MrlDim])", s"(qv[1:$MrlDim])")} AS sim
           |    FROM base, q
           |    ORDER BY sim DESC, vec_id LIMIT 5)
           |)
           |SELECT 5 AS k, $MrlDim AS dims, count(*) AS n_overlap,
           |  round(CAST(count(*) AS DOUBLE) / 5, 6) AS recall_at_k
           |FROM exact JOIN trunc USING (vec_id)""".stripMargin)),

    // Scalar (int8) quantization ANN — the third quantization family
    // next to IVF (emb_ivf_ann) and PQ (emb_pq_ann): each vector stores
    // a per-vector max-abs scale + 64 int8 codes (16x less scan
    // bandwidth than float32), search is an exact INTEGER dot product
    // over codes reconstructed by two scale multiplies. All ranking
    // arithmetic is integer-exact or a fixed-order IEEE product, so
    // Spark and DuckDB agree bit-for-bit. Off-contract vectors (ragged
    // or null-element) are excluded from the index by the same strict
    // 64-dim contract as LshSig. At scale the codes are materialized
    // once; here quantization fuses into the one narrow scan
    // (broadcast query row, TakeOrderedAndProject top-k, no shuffle).
    Q(
      "emb_sq_ann",
      (s, d) => sqApproxDots(emb(s, d))
        .orderBy(col("approx_dot").desc, col("vec_id"))
        .limit(5),
      Some(
        s"""WITH $sqCodesCte
           |SELECT vec_id, qdot, approx_dot FROM ($sqDotsSql)
           |ORDER BY approx_dot DESC, vec_id LIMIT 5""".stripMargin)),

    // the SQ channel served FROM THE PERSISTED ARTIFACT — emb_sq_ann
    // fuses quantize+dot into the float scan (SqQDot); this one reads
    // the 16x-narrower sq/ code table the index build stages (the
    // emb_bq_served convention: identical answer, same oracle), so the
    // serve never touches floats — the bandwidth claim the SQ rung
    // makes at 100 TB. The integer code dot is the codegen'd IntDot
    // kernel (the aggregate(zip_with(...)) HOF form evaluates
    // interpreted per element — the round-6 lesson); only the query
    // row quantizes live. With this, every persisted rung of the
    // quantization ladder (SQ, PQ, IVF+PQ, BQ) serves from its
    // artifact.
    Q(
      "emb_sq_served",
      (s, d) => {
        servedCodes(s, d) // forces the one-time index write
        val sq = s.read.parquet(s"${indexPath(d)}/sq")
        val e = emb(s, d)
        val qrow = broadcast(sqCodes(e.filter(col("vec_id") === 0))
          .select(col("code").as("qcode"), col("ma").as("qma")))
        sq.filter(col("vec_id") =!= 0)
          .crossJoin(qrow)
          .select(col("vec_id"),
            graft.functions.IntDot.column(col("code"), col("qcode"))
              .as("qdot"),
            col("ma"), col("qma"))
          .select(col("vec_id"), col("qdot"),
            round(col("qdot").cast("double") * col("ma") * col("qma") /
              lit((SqScale * SqScale).toDouble), 6).as("approx_dot"))
          .orderBy(col("approx_dot").desc, col("vec_id"))
          .limit(5)
      },
      Some(
        s"""WITH $sqCodesCte
           |SELECT vec_id, qdot, approx_dot FROM ($sqDotsSql)
           |ORDER BY approx_dot DESC, vec_id LIMIT 5""".stripMargin)),

    // Two-stage quantized search — THE production ANN serving shape:
    // stage 1 scans only the int8 codes (16x less bandwidth than
    // float32) and keeps a top-20 shortlist via TakeOrderedAndProject;
    // stage 2 re-ranks ONLY the shortlist with the exact float cosine.
    // The full-precision vectors are touched for 20 rows regardless of
    // corpus size — at 100 TB the codes live in their own compact
    // column/file set, the shortlist ids broadcast back into the
    // vector lookup (a semi-join on a 20-row side), and the expensive
    // math never sees the corpus. Exactness: stage 1 is the integer
    // code dot of emb_sq_ann (shared lineage), stage 2 the round-6
    // cosine of emb_knn_cosine, every ordering vec_id-tiebroken.
    Q(
      "emb_twostage_rerank",
      (s, d) => {
        val e = emb(s, d)
        val short = sqApproxDots(e)
          .orderBy(col("approx_dot").desc, col("vec_id"))
          .limit(20)
          .select("vec_id")
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv")))
        e.join(broadcast(short), "vec_id")
          .crossJoin(qv)
          .select(col("vec_id"),
            round(cosine(col("embedding"), col("qv")), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(5)
      },
      Some(
        s"""WITH $sqCodesCte, short AS (
           |  SELECT vec_id FROM ($sqDotsSql)
           |  ORDER BY approx_dot DESC, vec_id LIMIT 20
           |), qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
           |SELECT e.vec_id, ${cosSql("e.embedding", "qv.qv")} AS sim
           |FROM embeddings e
           |JOIN short ON short.vec_id = e.vec_id
           |CROSS JOIN qv
           |ORDER BY sim DESC, e.vec_id LIMIT 5""".stripMargin)),

    // BINARY quantization ANN — the last rung of the quantization
    // ladder this engine serves (float32 brute force -> int8 SQ -> PQ
    // -> IVF+PQ -> 1 bit/dim): each 64-dim vector collapses to its
    // sign bitmap packed into two BIGINT halves (bits 0..31 / 32..63 —
    // two halves so neither engine ever shifts into the int64 sign
    // bit), 256:1 vs float32. First-stage ranking is Hamming distance
    // (two XORs + two popcounts per candidate — the cheapest filter a
    // vector store runs, and the memory-bandwidth story at 100 TB: the
    // signature table is 1/32 the corpus and never touches floats);
    // the top-20 shortlist is exact-reranked by true cosine, the
    // emb_twostage_rerank convention. All integer until the final
    // rounded cosine; a missing dimension (ragged vector) reads as
    // bit 0 in BOTH engines (NULL comparison -> false branch / CASE
    // ELSE). Ties break on vec_id everywhere.
    Q("emb_bq_ann", (s, d) => bqTop5(s, d), Some(bqSql)),

    // the bq channel served FROM THE PERSISTED ARTIFACT — emb_bq_ann
    // computes signatures inside its scan (touching floats);
    // this one reads the 16-byte bitsig/ rows the index build staged
    // (emb_ivfpq_served's convention: identical answer, same oracle),
    // which is the float-free first-stage scan the channel's 100 TB
    // story actually claims. Only the query vector's signature is
    // computed live.
    Q(
      "emb_bq_served",
      (s, d) => {
        servedCodes(s, d) // forces the one-time index write
        bqRank(s, d, s.read.parquet(s"${indexPath(d)}/bitsig"))
      },
      Some(bqSql)),

    // recall@5 of the binary-quantization channel against the exact
    // ranking — the eval row the bq serving query implies (the
    // emb_ivfpq_recall convention: same exact top-5, same accounting
    // columns, so the ladder's rungs compare on one scale).
    Q(
      "emb_bq_recall",
      (s, d) => {
        exactTop5(s, d).select("vec_id")
          .join(bqTop5(s, d).select("vec_id"), Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(5).as("k"), lit(20).as("n_short"),
            col("n_hits"), (col("n_hits") * 20).as("recall_pct"))
      },
      Some(
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |exact AS (
           |  SELECT vec_id FROM (
           |    SELECT vec_id, ${cosSql("embedding", "qv")} AS sim
           |    FROM embeddings, q WHERE vec_id <> 0
           |    ORDER BY sim DESC, vec_id LIMIT 5)
           |), approx AS (
           |  SELECT vec_id FROM ($bqSql)
           |)
           |SELECT 5 AS k, 20 AS n_short,
           |  count(*) AS n_hits,
           |  count(*) * 20 AS recall_pct
           |FROM exact JOIN approx USING (vec_id)""".stripMargin)),

    // Exact ROC-AUC of centroid proximity as a label-0 retriever — the
    // eval a pipeline runs to ask "does this embedding space separate
    // class X at all?". The score is the (round-6) squared-L2 distance
    // to the label-0 centroid, SMALLER = more positive — the same
    // float-vs-double VecL2Sq kernel the IVF assignment uses (VecCosine
    // reads both sides as float and would misread the double centroid).
    // AUC is computed as the Mann-Whitney rank statistic: rank every
    // vector by (d2 DESC, vec_id) — farthest first, so higher rank =
    // closer; the vec_id tie-break replaces the tie-averaged textbook
    // form deterministically — then
    // AUC = (Σ ranks(pos) − n_pos(n_pos+1)/2) / (n_pos·n_neg). Both
    // numerator and denominator are carried ×2 so everything stays in
    // BIGINT (no integer-division pitfalls on either engine); the only
    // float is the final rounded division. better_than_chance is the
    // cross-multiplied integer form of AUC > 0.5. Scale shape: centroid
    // is a (dim)-keyed partial agg broadcast back; scoring is one
    // narrow scan; the global rank is the RANGE-PARTITIONED form (the
    // standard distributed ranking): repartitionByRange on the sort key
    // + in-partition sort + monotonically_increasing_id for local
    // positions, then per-partition (count, min-id) rows — one tiny row
    // per partition — broadcast back as rank offsets. No WindowExec
    // anywhere (PlanSpec pins this), so no "moving all data to a single
    // partition" collapse at any scale; every stage is bounded by one
    // partition's share of the corpus. (Rounds ≤5 used a global
    // Window.orderBy — the textbook scale-killer this replaces.)
    Q(
      "emb_auc_centroid",
      (s, d) => {
        val e = emb(s, d)
        val cent0 = e.filter(col("label") === 0)
          .select(posexplode(col("embedding")).as(Seq("dim", "v")))
          .withColumn("vi", snap6(col("v")))
          .groupBy("dim")
          .agg(expr(mean6Expr("vi")).as("cv"))
          .agg(transform(
            array_sort(collect_list(struct(col("dim"), col("cv")))),
            x => x.getField("cv")).as("cvec"))
        val scored = e.crossJoin(broadcast(cent0))
          .select(col("vec_id"),
            when(col("label") === 0, 1L).otherwise(0L).as("pos"),
            round(graft.functions.VecL2Sq.column(
              col("embedding"), col("cvec")), 6).as("d2"))
        // Distributed rank by (d2 DESC, vec_id): contiguous key ranges
        // per partition, ids assigned in the in-partition sort order
        // (monotonically_increasing_id evaluates above the sort in the
        // same stage), so global_rank = (mid − first_mid_of_partition)
        // + (rows in all earlier partitions) + 1. The per-partition
        // stats frame is ≤ shuffle.partitions rows, so the offset
        // prefix-sum runs as a broadcast self-join, not a window.
        // Determinism: range boundaries are sampled with fixed seeds, so
        // the two consumers of `ranked` (stats + join) see identical
        // pid/mid assignments — and the FINAL statistic is partition-
        // independent anyway.
        val ranked = scored
          .repartitionByRange(col("d2").desc, col("vec_id"))
          .sortWithinPartitions(col("d2").desc, col("vec_id"))
          .select(col("vec_id"), col("pos"),
            spark_partition_id().as("pid"),
            monotonically_increasing_id().as("mid"))
        val stats = ranked.groupBy("pid")
          .agg(count(lit(1)).as("cnt"), min(col("mid")).as("mid0"))
        val offsets = stats.as("a")
          .join(broadcast(stats.select(col("pid").as("p2"),
            col("cnt").as("c2"))), col("p2") < col("a.pid"), "left")
          .groupBy(col("a.pid").as("pid"), col("a.mid0").as("mid0"))
          .agg(coalesce(sum(col("c2")), lit(0L)).as("off"))
        ranked.join(broadcast(offsets), "pid")
          .withColumn("r", col("mid") - col("mid0") + col("off") + 1L)
          .agg(sum(col("pos")).as("n_pos"),
            sum(lit(1L) - col("pos")).as("n_neg"),
            sum(when(col("pos") === 1L, col("r"))).as("rank_sum"))
          .select(col("n_pos"), col("n_neg"),
            (col("rank_sum") * 2 - col("n_pos") * (col("n_pos") + 1))
              .as("auc_num2"),
            (col("n_pos") * col("n_neg") * 2).as("auc_den2"))
          .select(col("n_pos"), col("n_neg"), col("auc_num2"),
            col("auc_den2"),
            round(col("auc_num2").cast("double") / col("auc_den2"), 6)
              .as("auc"),
            (col("auc_num2") > col("n_pos") * col("n_neg"))
              .as("better_than_chance"))
      },
      Some(
        s"""WITH c0 AS (
           |  SELECT dim, ${mean6Sql("vi")} AS cv
           |  FROM (SELECT CAST(i - 1 AS INT) AS dim,
           |          ${snap6Sql("embedding[i]")} AS vi
           |        FROM embeddings CROSS JOIN range(1, 65) r(i)
           |        WHERE label = 0)
           |  GROUP BY 1
           |), cent AS (
           |  SELECT list_transform(
           |    list_sort(list(struct_pack(dim := dim, cv := cv))),
           |    x -> x.cv) AS cvec
           |  FROM c0
           |), scored AS (
           |  SELECT vec_id, CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos,
           |    round(${l2Sql("embedding", "cvec")}, 6) AS d2
           |  FROM embeddings CROSS JOIN cent
           |), ranked AS (
           |  SELECT pos,
           |    CAST(row_number() OVER (ORDER BY d2 DESC, vec_id) AS BIGINT)
           |      AS r
           |  FROM scored
           |), agg AS (
           |  SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
           |    CAST(sum(1 - pos) AS BIGINT) AS n_neg,
           |    CAST(sum(CASE WHEN pos = 1 THEN r END) AS BIGINT) AS rank_sum
           |  FROM ranked
           |)
           |SELECT n_pos, n_neg,
           |  rank_sum * 2 - n_pos * (n_pos + 1) AS auc_num2,
           |  n_pos * n_neg * 2 AS auc_den2,
           |  round(CAST(rank_sum * 2 - n_pos * (n_pos + 1) AS DOUBLE)
           |    / (n_pos * n_neg * 2), 6) AS auc,
           |  rank_sum * 2 - n_pos * (n_pos + 1) > n_pos * n_neg
           |    AS better_than_chance
           |FROM agg""".stripMargin)),

    // MMR (maximal marginal relevance) diversity re-rank — the step a
    // RAG stack runs AFTER retrieval: from the top-12 cosine candidates,
    // greedily pick 4 where each pick maximizes
    // relevance − max-similarity-to-already-picked (λ = 0.5, so the
    // λ·rel − (1−λ)·maxsim tradeoff reduces to the difference). The
    // greedy recurrence is inherently iterative; with bounded k it
    // unrolls into 4 argmax steps over the persisted 12-row candidate
    // set (CacheRegistry — every step reuses materialized rows, the
    // corpus is scanned once by the candidate top-k). The oracle
    // unrolls the same recurrence as chained CTEs (the ev_pagerank
    // pattern). Exactness: rel and pairwise sims are the same
    // round-6 cosines as emb_knn_cosine, the MMR score is one
    // subtraction of identical doubles, and every argmax carries the
    // vec_id tiebreak — bit-identical picks cross-engine.
    Q(
      "emb_mmr_rerank",
      (s, d) => {
        val e = emb(s, d)
        val query = broadcast(
          e.filter(col("vec_id") === 0).select(col("embedding").as("qv")))
        val cands = graft.CacheRegistry.memo("emb_mmr_cands", s, d)(
          graft.CacheRegistry.track(s,
            e.filter(col("vec_id") =!= 0)
              .crossJoin(query)
              .select(col("vec_id"), col("embedding"),
                round(cosine(col("embedding"), col("qv")), 6).as("rel"))
              .orderBy(col("rel").desc, col("vec_id"))
              .limit(12)))
        // memoized like cands: the three greedy iterations below each
        // reference this frame, and un-persisted the lazy plan would
        // embed the 12x12 crossJoin subtree once PER iteration (~2.4 s
        // of replanning/re-execution at sf0.1 for a 132-row matrix)
        val sims = graft.CacheRegistry.memo("emb_mmr_sims", s, d)(
          graft.CacheRegistry.track(s, cands
            .select(col("vec_id").as("a_id"), col("embedding").as("av"))
            .crossJoin(cands
              .select(col("vec_id").as("b_id"), col("embedding").as("bv")))
            .filter(col("a_id") =!= col("b_id"))
            .select(col("a_id"), col("b_id"),
              round(cosine(col("av"), col("bv")), 6).as("sim"))))
        // The greedy selection runs on the DRIVER over the two collected
        // bounded frames (12 candidates + 132 sims — post-aggregation
        // scalars, the cms precedent): the earlier lazy-DataFrame loop
        // planned 9 joins over the same 12 persisted rows and cost
        // ~2.2 s of pure planning/scheduling at ANY scale factor. The
        // distributed work (shortlist scan, pairwise cosines) is
        // unchanged; only the O(k²) recurrence moves in-process.
        // Ordering mirrors the DataFrame form exactly: desc NULLS LAST,
        // vec_id ascending tie-break; mmr is the same IEEE double
        // subtraction of the two round-6 values.
        val candRows = cands.collect()
          .map(r => (r.getAs[Long]("vec_id"),
            Option(r.getAs[java.lang.Double]("rel")).map(_.doubleValue)))
        val simMap = sims.collect().flatMap { r =>
          Option(r.getAs[java.lang.Double]("sim")).map(sv =>
            (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) -> sv.doubleValue)
        }.toMap
        def best(xs: Seq[(Long, Option[Double])]): Option[(Long, Option[Double])] =
          xs.sortBy { case (id, v) =>
            (v.isEmpty, v.map(-_).getOrElse(0.0), id)
          }.headOption
        val pickedBuf =
          scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Option[Double], Option[Double])]
        var remaining = candRows.toSeq
        best(remaining).foreach { case (id, rel) =>
          pickedBuf += ((1, id, rel, rel)); remaining = remaining.filterNot(_._1 == id)
        }
        for (k <- 2 to 4 if remaining.nonEmpty) {
          val pickedIds = pickedBuf.map(_._2)
          val scored = remaining.map { case (id, rel) =>
            val ms = pickedIds.flatMap(p => simMap.get((id, p)))
            val mmr = for (r <- rel; m <- ms.maxOption) yield r - m
            (id, rel, mmr)
          }
          best(scored.map(t => (t._1, t._3))).foreach { case (id, _) =>
            val t = scored.find(_._1 == id).get
            pickedBuf += ((k, t._1, t._2, t._3))
            remaining = remaining.filterNot(_._1 == id)
          }
        }
        val rows = pickedBuf.map { case (k, id, rel, mmr) =>
          org.apache.spark.sql.Row(k, id,
            rel.map(Double.box).orNull, mmr.map(Double.box).orNull)
        }
        s.createDataFrame(
          s.sparkContext.parallelize(rows.toSeq, 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("pick",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("vec_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("rel",
              org.apache.spark.sql.types.DoubleType),
            org.apache.spark.sql.types.StructField("mmr",
              org.apache.spark.sql.types.DoubleType))))
      },
      Some(mmrSql)),

    // Per-label OUTLIER vectors — the top-3 farthest members from each
    // label's centroid, the audit that surfaces mislabeled or corrupt
    // embeddings before a centroid/index refresh trusts them. EVERY
    // step is exact integer arithmetic (the emb_drift_by_label
    // contract): values snap to a 1e-6 grid, the centroid is a
    // half-away-from-zero integer division of exact int64 sums, and
    // distances are exact integer sums of squares — so the ranking has
    // no float boundary to flip cross-engine (vec_id breaks exact
    // ties). Shape at scale: one explode pass, one partial-agg'd
    // shuffle on (label, dim) for the |labels|·|dims|-row centroid
    // table (broadcast back), one re-agg per vector, and the per-label
    // top-3 runs through the custom GroupedTopK operator — partial
    // per-partition heaps, so at most 3 rows per label cross the final
    // exchange.
    Q(
      "emb_centroid_outliers",
      (s, d) => {
        val ex = emb(s, d)
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("dim", "v")))
          .withColumn("vi",
            round(col("v").cast("double") * 1e6, 0).cast("long"))
        val cent = ex.groupBy("label", "dim")
          .agg(sum(col("vi")).as("sc"), count(lit(1)).as("n"))
          .select(col("label"), col("dim"),
            expr("""CASE WHEN sc >= 0 THEN (2 * sc + n) div (2 * n)
                   |ELSE -((-2 * sc + n) div (2 * n)) END""".stripMargin)
              .cast("long").as("c6"))
        val d2 = ex.join(broadcast(cent), Seq("label", "dim"))
          .groupBy("vec_id", "label")
          .agg(sum((col("vi") - col("c6")) * (col("vi") - col("c6")))
            .as("dist_sq_um"))
        graft.plans.GroupedTopK(d2, Seq("label"),
          Seq(d2("dist_sq_um").desc, d2("vec_id")), k = 3)
          .select(col("label"), col("vec_id"), col("dist_sq_um"))
          .orderBy("label", "vec_id")
      },
      Some(
        """WITH ex AS (
          |  -- parallel unnest, NOT range(1,65): posexplode emits nothing
          |  -- for a short vector's missing dims, so the oracle must not
          |  -- either (a fixed range pads NULL rows that count(*) counts)
          |  SELECT vec_id, label, CAST(i - 1 AS INT) AS dim,
          |    CAST(round(CAST(v AS DOUBLE) * 1e6, 0) AS BIGINT) AS vi
          |  FROM (SELECT vec_id, label, unnest(embedding) AS v,
          |          generate_subscripts(embedding, 1) AS i
          |        FROM embeddings)
          |), cent AS (
          |  SELECT label, dim,
          |    CASE WHEN sum(vi) >= 0
          |      THEN (2 * CAST(sum(vi) AS BIGINT) + count(*))
          |        // (2 * count(*))
          |      ELSE -((-2 * CAST(sum(vi) AS BIGINT) + count(*))
          |        // (2 * count(*))) END AS c6
          |  FROM ex GROUP BY 1, 2
          |), d2 AS (
          |  SELECT vec_id, ex.label,
          |    CAST(sum((vi - c6) * (vi - c6)) AS BIGINT) AS dist_sq_um
          |  FROM ex JOIN cent USING (label, dim)
          |  GROUP BY 1, 2
          |)
          |SELECT label, vec_id, dist_sq_um
          |FROM d2
          |QUALIFY row_number()
          |  OVER (PARTITION BY label ORDER BY dist_sq_um DESC, vec_id) <= 3
          |ORDER BY label, vec_id""".stripMargin)),

    // IVF PROBE SWEEP — the recall-vs-cost tuning curve an index
    // operator actually reads before fixing nprobe: for each probe
    // depth 1..3, the candidate count (cost axis) and recall@5 against
    // the exact brute-force top-5 (quality axis). emb_recall_eval
    // measures the one shipped operating point (nprobe=2); this is the
    // curve around it. The expensive work happens ONCE: the cosine pass
    // runs over the union of the 3 probed cells (qrn <= 3, persisted),
    // and each sweep point is a bounded top-5 + count over that frame —
    // never a re-scan. Same shared ivfRanked assignment lineage as
    // emb_ivf_ann / emb_cell_balance on both engines, so the sweep can
    // never drift from the index it tunes. recall_pct = n_hits·20 keeps
    // the quality axis integer-exact.
    Q(
      "emb_ivf_probe_sweep",
      (s, d) => {
        val e = emb(s, d)
        val ranked = ivfRanked(s, d)
        val cells = ranked.filter(col("rn") === 1)
          .select(col("vec_id"), col("c_label").as("cell"))
        val qRank = broadcast(ranked.filter(col("vec_id") === 0)
          .select(col("c_label").as("cell"), col("rn").as("qrn")))
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv")))
        val sims = graft.CacheRegistry.track(s,
          e.join(cells, "vec_id").join(qRank, "cell")
            .filter(col("vec_id") =!= 0 && col("qrn") <= 3)
            .crossJoin(qv)
            .select(col("vec_id"), col("qrn"),
              round(cosine(col("embedding"), col("qv")), 6).as("sim")))
        val exact5 = e.filter(col("vec_id") =!= 0).crossJoin(qv)
          .select(col("vec_id"),
            round(cosine(col("embedding"), col("qv")), 6).as("es"))
          .orderBy(col("es").desc, col("vec_id")).limit(5)
          .select("vec_id")
        // ONE plan for all 3 depths (r13; was a 3-branch union that
        // re-read the persisted sims frame and re-joined exact5 per
        // depth — the emb_operating_grid collapse): each candidate
        // fans out to the depths that include it, counts and ranked
        // top-5 hits come from one grouped pass each, and the 3-row
        // depth spine left-join keeps empty depths at 0 (the oracle's
        // LEFT-join spine, verbatim). row_number over the total
        // (sim desc, vec_id) order equals the former orderBy.limit(5).
        import s.implicits._
        val probes = Seq(1, 2, 3).toDF("nprobe")
        val fan = sims
          .withColumn("nprobe", explode(sequence(col("qrn"), lit(3))))
        val cand = fan.groupBy("nprobe")
          .agg(count(lit(1)).as("n_candidates"))
        val wP = Window.partitionBy("nprobe")
          .orderBy(col("sim").desc, col("vec_id"))
        val hits = fan.withColumn("r", row_number().over(wP))
          .filter(col("r") <= 5)
          .join(exact5, "vec_id")
          .groupBy("nprobe").agg(count(lit(1)).as("n_hits"))
        probes.join(cand, Seq("nprobe"), "left")
          .join(hits, Seq("nprobe"), "left")
          .select(col("nprobe"),
            coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            (coalesce(col("n_hits"), lit(0L)) * 20).as("recall_pct"))
          .orderBy("nprobe")
      },
      Some(
        s"""WITH $ivfCellsCte, qrank AS (
           |  SELECT label AS cell, rn AS qrn FROM ranked WHERE vec_id = 0
           |), qv AS (
           |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
           |), sims AS (
           |  SELECT e.vec_id, q.qrn,
           |    ${cosSql("e.embedding", "qv.qv")} AS sim
           |  FROM embeddings e
           |  JOIN cells c ON c.vec_id = e.vec_id
           |  JOIN qrank q ON q.cell = c.cell
           |  CROSS JOIN qv
           |  WHERE e.vec_id <> 0 AND q.qrn <= 3
           |), exact5 AS (
           |  SELECT e.vec_id FROM embeddings e CROSS JOIN qv
           |  WHERE e.vec_id <> 0
           |  ORDER BY ${cosSql("e.embedding", "qv.qv")} DESC, e.vec_id
           |  LIMIT 5
           |), probes AS (
           |  SELECT unnest([1, 2, 3]) AS nprobe
           |), top5 AS (
           |  SELECT p.nprobe, s.vec_id,
           |    row_number() OVER (PARTITION BY p.nprobe
           |      ORDER BY s.sim DESC, s.vec_id) AS r
           |  FROM probes p JOIN sims s ON s.qrn <= p.nprobe
           |), cand AS (
           |  -- LEFT joins from the depth spine: the Spark side's global
           |  -- aggregates emit a row even for an empty depth, so the
           |  -- oracle must too (count(col) over no matches -> 0)
           |  SELECT p.nprobe, count(s.vec_id) AS n_candidates
           |  FROM probes p LEFT JOIN sims s ON s.qrn <= p.nprobe GROUP BY 1
           |), hits AS (
           |  SELECT t.nprobe, count(e.vec_id) AS n_hits
           |  FROM top5 t LEFT JOIN exact5 e USING (vec_id)
           |  WHERE t.r <= 5 GROUP BY 1
           |)
           |SELECT CAST(c.nprobe AS INT) AS nprobe,
           |  CAST(c.n_candidates AS BIGINT) AS n_candidates,
           |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           |  CAST(coalesce(h.n_hits, 0) * 20 AS BIGINT) AS recall_pct
           |FROM cand c LEFT JOIN hits h USING (nprobe)
           |ORDER BY nprobe""".stripMargin)),

    // LSH BAND-DEPTH SWEEP — the banding twin of emb_ivf_probe_sweep:
    // for each probe depth b = 1..4, the candidate volume and exact
    // recall@5 when a vector qualifies by sharing any of the FIRST b
    // 8-bit bands with the query. This is the curve that justifies the
    // 4x8 recall-first ANN read of the 32-bit signature (vs the 2x16
    // precision-first pair-mining read — see the SigBits scaladoc). The
    // cosine pass runs ONCE over the union of all four bands'
    // candidates, tagged with each vector's minimal matching band;
    // every sweep point is a bounded top-5 over that persisted frame.
    // Ragged/null vectors have NULL signatures on both engines (the
    // LshSig strict contract) and drop out identically.
    Q(
      "emb_lsh_band_sweep",
      (s, d) => {
        val e = emb(s, d)
        val withSig = e.withColumn("sig", signature(col("embedding")))
        val qRow = broadcast(withSig.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"), col("sig").as("qsig")))
        // minimal matching band index (null = no band matches)
        val mbCol = (0 until AnnBands).reverse
          .foldLeft(lit(null).cast("int")) { (acc, b) =>
            when(annBandOf(col("sig"), b) === annBandOf(col("qsig"), b),
              lit(b)).otherwise(acc)
          }
        val sims = graft.CacheRegistry.track(s,
          withSig.crossJoin(qRow)
            .filter(col("vec_id") =!= 0)
            .withColumn("mb", mbCol)
            .filter(col("mb").isNotNull)
            .select(col("vec_id"), col("mb"),
              round(cosine(col("embedding"), col("qv")), 6).as("sim")))
        val exact5 = e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(e.filter(col("vec_id") === 0)
            .select(col("embedding").as("q2"))))
          .select(col("vec_id"),
            round(cosine(col("embedding"), col("q2")), 6).as("es"))
          .orderBy(col("es").desc, col("vec_id")).limit(5)
          .select("vec_id")
        val rows = (1 to AnnBands).map { b =>
          val candb = sims.filter(col("mb") < b)
          val nc = candb.agg(count(lit(1)).as("n_candidates"))
          val nh = candb.orderBy(col("sim").desc, col("vec_id")).limit(5)
            .join(exact5, "vec_id").agg(count(lit(1)).as("n_hits"))
          nc.crossJoin(nh).select(lit(b).as("n_bands"),
            col("n_candidates"), col("n_hits"),
            (col("n_hits") * 20).as("recall_pct"))
        }
        rows.reduce(_ unionByName _).orderBy("n_bands")
      },
      Some {
        val mbSql = (0 until AnnBands).map(b =>
          s"WHEN ${annBandOfSql("b.sig", b)} = ${annBandOfSql("q.qsig", b)} THEN $b")
          .mkString("CASE ", " ", " ELSE NULL END")
        s"""WITH b AS (
           |  SELECT vec_id, embedding, ${signatureSql("embedding")} AS sig
           |  FROM embeddings
           |), q AS (
           |  SELECT embedding AS qv, sig AS qsig FROM b WHERE vec_id = 0
           |), m AS (
           |  SELECT b.vec_id, $mbSql AS mb,
           |    ${cosSql("b.embedding", "q.qv")} AS sim
           |  FROM b CROSS JOIN q WHERE b.vec_id <> 0
           |), sims AS (
           |  SELECT vec_id, mb, sim FROM m WHERE mb IS NOT NULL
           |), exact5 AS (
           |  SELECT bb.vec_id FROM b bb CROSS JOIN q
           |  WHERE bb.vec_id <> 0
           |  ORDER BY ${cosSql("bb.embedding", "q.qv")} DESC, bb.vec_id
           |  LIMIT 5
           |), depths AS (
           |  SELECT unnest([1, 2, 3, 4]) AS n_bands
           |), top5 AS (
           |  SELECT d.n_bands, s.vec_id,
           |    row_number() OVER (PARTITION BY d.n_bands
           |      ORDER BY s.sim DESC, s.vec_id) AS r
           |  FROM depths d JOIN sims s ON s.mb < d.n_bands
           |), cand AS (
           |  SELECT d.n_bands, count(s.vec_id) AS n_candidates
           |  FROM depths d LEFT JOIN sims s ON s.mb < d.n_bands GROUP BY 1
           |), hits AS (
           |  SELECT t.n_bands, count(e.vec_id) AS n_hits
           |  FROM top5 t LEFT JOIN exact5 e USING (vec_id)
           |  WHERE t.r <= 5 GROUP BY 1
           |)
           |SELECT CAST(c.n_bands AS INT) AS n_bands,
           |  CAST(c.n_candidates AS BIGINT) AS n_candidates,
           |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           |  CAST(coalesce(h.n_hits, 0) * 20 AS BIGINT) AS recall_pct
           |FROM cand c LEFT JOIN hits h USING (n_bands)
           |ORDER BY n_bands""".stripMargin
      }),

    // Per-dimension variance profile — which coordinates of the
    // embedding actually carry signal. This is the measurement behind
    // the MRL-truncation choice (emb_mrl_recall tests a prefix; this
    // query shows whether the prefix dims are the high-variance ones)
    // and behind PCA/feature-pruning decisions. Exact cross-engine: on
    // the 1e6 grid, n*Σv² - (Σv)² is an integer; sums accumulate as
    // DECIMAL(38,0)/HUGEINT (wrap-proof, loud past any overflow), and
    // the OUTPUT is the sample variance at grid scale — numerator div
    // (n·(n−1)) — because the raw numerator grows as n²·grid² and
    // leaves BIGINT near ~50k vectors (the 30x embeddings probe threw
    // CAST_OVERFLOW on the previous var_num contract; the variance
    // itself is corpus-size-bounded ~grid², so var_um2 fits BIGINT at
    // ANY n while staying an exact integral division on both engines).
    // The mean is the shared exact grid-mean division. Shape at scale:
    // posexplode then ONE partial-agg'd shuffle on dim — reducer state
    // is |dims| cells regardless of corpus size.
    Q(
      "emb_dim_variance",
      (s, d) =>
        emb(s, d)
          .select(posexplode(col("embedding")).as(Seq("dim", "v")))
          .withColumn("vi", snap6(col("v")))
          .groupBy("dim")
          .agg(
            count(col("vi")).as("n"),
            sum(col("vi").cast("decimal(19,0)")).as("s1"),
            sum((col("vi") * col("vi")).cast("decimal(38,0)")).as("s2"),
            expr(mean6Expr("vi")).as("mean_v"))
          .select(col("dim"), col("n"), col("mean_v"),
            when(col("n") < 2, lit(null).cast("long"))
              .otherwise(expr(
                """CAST((CAST(n AS DECIMAL(38,0)) * s2 - s1 * s1)
                  | DIV (CAST(n AS DECIMAL(19,0)) * (n - 1)) AS BIGINT)"""
                  .stripMargin)).as("var_um2"))
          .orderBy("dim"),
      Some(
        s"""WITH scaled AS (
           |  SELECT CAST(i - 1 AS INT) AS dim,
           |    ${snap6Sql("v")} AS vi
           |  FROM (SELECT unnest(embedding) AS v,
           |          generate_subscripts(embedding, 1) AS i
           |        FROM embeddings)
           |)
           |SELECT dim, count(vi) AS n, ${mean6Sql("vi")} AS mean_v,
           |  CASE WHEN count(vi) < 2 THEN NULL
           |    ELSE CAST((count(vi) * sum(vi * vi) - sum(vi) * sum(vi))
           |      // (count(vi) * (count(vi) - 1)) AS BIGINT) END
           |    AS var_um2
           |FROM scaled GROUP BY dim ORDER BY dim""".stripMargin)),

    // Top correlated dimension pairs — the off-diagonal of the exact
    // integer second-moment (Gram/covariance) matrix, the measurement
    // behind whitening/PCA/rotation decisions the way emb_dim_variance
    // is behind truncation. Exact: per pair (i<j) on the 1e6 grid,
    // cov_num = n*Σxy − Σx·Σy is an integer; the driver-side products
    // go through BigInt with a loud .longValueExact. Input is the
    // strict 64-dim no-null contract (the sqCodes/LshSig convention),
    // enforced identically in the oracle. Shape at scale: ONE pass
    // through [[graft.functions.GramAgg]] — each partition folds its
    // rows into a fixed (64 + 2016)-cell long buffer, the exchange
    // moves partitions × 1 buffers, and the top-20 selection runs on
    // the driver over the 2016 matrix cells (a post-aggregation
    // scalar). The first form of this query exploded dims²/2 structs
    // per row (10M rows through a hash agg at sf0.1, 7.5 s measured);
    // the aggregator is the same arithmetic with no row expansion.
    Q(
      "emb_covariance_topk",
      (s, d) => {
        val g = gramBuffer(s, d)
        val n = g.getAs[Long]("n")
        val sArr = g.getAs[scala.collection.Seq[Long]]("s")
        val pArr = g.getAs[scala.collection.Seq[Long]]("p")
        val D = graft.functions.GramAgg.D
        val cells =
          if (n == 0) Seq.empty
          else for {
            i <- 0 until D; j <- (i + 1) until D
          } yield {
            val k = graft.functions.GramAgg.pairIndex(i, j)
            val cov = (BigInt(n) * pArr(k) - BigInt(sArr(i)) * sArr(j))
              .bigInteger.longValueExact
            org.apache.spark.sql.Row(i, j, n, cov)
          }
        val top = cells
          .sortBy(r => (-math.abs(r.getLong(3)), r.getInt(0), r.getInt(1)))
          .take(20)
        s.createDataFrame(
          s.sparkContext.parallelize(top, 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("i",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("j",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("n",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("cov_num",
              org.apache.spark.sql.types.LongType))))
      },
      Some(
        """WITH strict AS (
          |  SELECT list_transform(embedding,
          |    x -> CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT)) AS v
          |  FROM embeddings
          |  WHERE len(embedding) = 64
          |    AND len(list_filter(embedding, x -> x IS NULL)) = 0
          |), nn AS (SELECT count(*) AS n FROM strict),
          |p AS (
          |  SELECT i.i AS i, j.j AS j, sum(v[i.i + 1] * v[j.j + 1]) AS sxy
          |  FROM strict, range(0, 64) i(i), range(0, 64) j(j)
          |  WHERE i.i < j.j GROUP BY 1, 2
          |), s AS (
          |  SELECT i.i AS dim, sum(v[i.i + 1]) AS sd
          |  FROM strict, range(0, 64) i(i) GROUP BY 1
          |)
          |SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j,
          |  nn.n AS n,
          |  CAST(nn.n * p.sxy - si.sd * sj.sd AS BIGINT) AS cov_num
          |FROM p CROSS JOIN nn
          |JOIN s si ON si.dim = p.i
          |JOIN s sj ON sj.dim = p.j
          |ORDER BY abs(cov_num) DESC, i, j LIMIT 20""".stripMargin)),

    // Top principal component by POWER ITERATION over the exact
    // integer covariance matrix — the PCA direction behind the
    // whitening / rotation / MRL-ordering decisions emb_covariance_topk
    // and emb_dim_variance measure pairwise. Exactness is the point:
    // the covariance numerators C = n·Σxy − Σx·Σy come from the shared
    // GramAgg buffer (integers on the 1e6 grid), the iteration runs
    // v ← C·v three times from the all-ones start, and between
    // iterations every entry is truncated toward zero to 10 significant
    // digits (divide by 10^(digits−10)) — a DOCUMENTED deterministic
    // rescale both engines reproduce digit-for-digit, chosen so every
    // intermediate fits HUGEINT (|w| ≤ 64·|C|max·1e10 ≈ 1e31 « 1.7e38)
    // and the final ppm numerator (v·1e6) stays under 1e38. Loadings
    // are emitted as integer ppm of the max-|v| component, so NO float
    // exists anywhere in the lineage. Three fixed steps are the
    // deterministic-contract form (production iterates to a tolerance);
    // an all-zero iterate (n ≤ 1, or a zero matrix) degrades to ppm=0
    // identically on both engines. Scale shape: the corpus cost is the
    // one memoized GramAgg pass (fixed buffer, partial-agg'd); the
    // iteration itself is 64x64 driver-side arithmetic — a
    // post-aggregation scalar like the count-min/freq-items reads.
    Q(
      "emb_pca_power_iteration",
      (s, d) => {
        val D = graft.functions.GramAgg.D
        val g = gramBuffer(s, d)
        val n = g.getAs[Long]("n")
        val sv = g.getAs[scala.collection.Seq[Long]]("s")
        val pv = g.getAs[scala.collection.Seq[Long]]("p")
        val qv = g.getAs[scala.collection.Seq[Long]]("q")
        val C = Array.tabulate(D, D) { (i, j) =>
          if (i == j) BigInt(n) * qv(i) - BigInt(sv(i)) * sv(i)
          else {
            val k = graft.functions.GramAgg
              .pairIndex(math.min(i, j), math.max(i, j))
            BigInt(n) * pv(k) - BigInt(sv(i)) * sv(j)
          }
        }
        // BigInt / truncates toward zero — the oracle mirrors with the
        // sign-split floor-div; rescale keeps 10 significant digits
        def step(v: Array[BigInt]): Array[BigInt] = {
          val w = Array.tabulate(D)(i =>
            (0 until D).map(j => C(i)(j) * v(j)).sum)
          val maxAbs = w.map(_.abs).max
          val gDiv =
            if (maxAbs == 0) BigInt(1)
            else BigInt(10).pow(math.max(0, maxAbs.toString.length - 10))
          w.map(_ / gDiv)
        }
        val v3 = step(step(step(Array.fill(D)(BigInt(1)))))
        val ma = v3.map(_.abs).max
        val rows = (0 until D).map { i =>
          val ppm = if (ma == 0) 0L else ((v3(i) * 1000000) / ma).toLong
          org.apache.spark.sql.Row(i, ppm)
        }
        s.createDataFrame(
          s.sparkContext.parallelize(rows, 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("dim",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("loading_ppm",
              org.apache.spark.sql.types.LongType))))
          .orderBy("dim")
      },
      Some(
        """WITH strict AS (
          |  SELECT list_transform(embedding,
          |    x -> CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT)) AS v
          |  FROM embeddings
          |  WHERE len(embedding) = 64
          |    AND len(list_filter(embedding, x -> x IS NULL)) = 0
          |), nn AS (SELECT count(*) AS n FROM strict),
          |sums AS (
          |  SELECT i.i AS dim, coalesce(sum(v[i.i + 1]), 0) AS sd
          |  FROM range(0, 64) i(i) LEFT JOIN strict ON true GROUP BY 1
          |), prods AS (
          |  SELECT i.i AS i, j.j AS j,
          |    coalesce(sum(CAST(v[i.i + 1] AS HUGEINT) * v[j.j + 1]), 0)
          |      AS sxy
          |  FROM range(0, 64) i(i) JOIN range(0, 64) j(j) ON i.i <= j.j
          |  LEFT JOIN strict ON true GROUP BY 1, 2
          |), ctri AS (
          |  SELECT p.i, p.j,
          |    CAST(nn.n AS HUGEINT) * p.sxy
          |      - CAST(si.sd AS HUGEINT) * sj.sd AS cij
          |  FROM prods p CROSS JOIN nn
          |  JOIN sums si ON si.dim = p.i JOIN sums sj ON sj.dim = p.j
          |), cf AS (
          |  SELECT i, j, cij FROM ctri
          |  UNION ALL SELECT j, i, cij FROM ctri WHERE i <> j
          |), v0 AS (SELECT i.i AS i, CAST(1 AS HUGEINT) AS vi
          |          FROM range(0, 64) i(i)),
          |w1 AS (SELECT cf.i, sum(cf.cij * v0.vi) AS wi
          |       FROM cf JOIN v0 ON v0.i = cf.j GROUP BY 1),
          |g1 AS (SELECT CAST('1' || repeat('0', greatest(
          |         len(CAST(max(abs(wi)) AS VARCHAR)) - 10, 0)) AS HUGEINT)
          |         AS gd FROM w1),
          |v1 AS (SELECT i, CASE WHEN wi < 0 THEN -((-wi) // gd)
          |         ELSE wi // gd END AS vi FROM w1, g1),
          |w2 AS (SELECT cf.i, sum(cf.cij * v1.vi) AS wi
          |       FROM cf JOIN v1 ON v1.i = cf.j GROUP BY 1),
          |g2 AS (SELECT CAST('1' || repeat('0', greatest(
          |         len(CAST(max(abs(wi)) AS VARCHAR)) - 10, 0)) AS HUGEINT)
          |         AS gd FROM w2),
          |v2 AS (SELECT i, CASE WHEN wi < 0 THEN -((-wi) // gd)
          |         ELSE wi // gd END AS vi FROM w2, g2),
          |w3 AS (SELECT cf.i, sum(cf.cij * v2.vi) AS wi
          |       FROM cf JOIN v2 ON v2.i = cf.j GROUP BY 1),
          |g3 AS (SELECT CAST('1' || repeat('0', greatest(
          |         len(CAST(max(abs(wi)) AS VARCHAR)) - 10, 0)) AS HUGEINT)
          |         AS gd FROM w3),
          |v3 AS (SELECT i, CASE WHEN wi < 0 THEN -((-wi) // gd)
          |         ELSE wi // gd END AS vi FROM w3, g3),
          |m AS (SELECT max(abs(vi)) AS ma FROM v3)
          |SELECT CAST(v3.i AS INT) AS dim,
          |  CAST(CASE WHEN m.ma = 0 THEN 0
          |       WHEN vi < 0 THEN -((-vi * 1000000) // m.ma)
          |       ELSE (vi * 1000000) // m.ma END AS BIGINT) AS loading_ppm
          |FROM v3, m ORDER BY dim""".stripMargin)),

    // Per-cluster SILHOUETTE (centroid form) — the clustering-quality
    // eval a curation pipeline runs after k-means before trusting the
    // clusters for SemDeDup / IVF / stratification: for each vector,
    // a = distance to its own centroid, b = distance to the nearest
    // OTHER centroid (the rn=2 row of the shared ranked-assignment
    // lineage), s = (b − a) / max(a, b) ∈ [−1, 1]; the query emits each
    // cluster's member count and mean s. The O(n·k²)-pair textbook
    // silhouette is replaced by the O(n·k) centroid form — the only one
    // that exists at corpus scale. Exactness: a and b are the same
    // bit-identical kernel L2²s the green emb_kmeans query ranks (so
    // sqrt and the ratio are identical doubles cross-engine); per-point
    // s snaps to the 1e6 grid and the cluster mean is the integer-exact
    // mean6 form. Both-zero distances (a point ON two centroids)
    // define s = 0 on both engines. Scale shape: broadcast K-row
    // codebook, one narrow scan, one |K|-group partial agg — no
    // corpus shuffle beyond the groupBy.
    Q(
      "emb_kmeans_silhouette",
      (s, d) => {
        // a/b pivot as ONE conditional agg on vec_id — the ranking
        // window already partitioned by vec_id, so this reuses that
        // exchange (no self-join, no second shuffle)
        val p = kmeansRanked(s, d).filter(col("rn") <= 2)
          .groupBy("vec_id")
          .agg(
            max(when(col("rn") === 1, col("cid"))).as("cluster"),
            max(when(col("rn") === 1, sqrt(col("d2")))).as("sa"),
            max(when(col("rn") === 2, sqrt(col("d2")))).as("sb"))
        p.withColumn("vi", snap6(
            when(greatest(col("sa"), col("sb")) === 0.0, lit(0.0))
              .otherwise((col("sb") - col("sa")) /
                greatest(col("sa"), col("sb")))))
          .groupBy("cluster")
          .agg(count(lit(1)).as("n_members"),
            expr(mean6Expr("vi")).as("sil_mean"))
          .orderBy("cluster")
      },
      Some {
        val siExpr = "CASE WHEN greatest(sa, sb) = 0.0 THEN 0.0 " +
          "ELSE (sb - sa) / greatest(sa, sb) END"
        s"""$kmeansCte, p AS (
           |  SELECT vec_id,
           |    max(CASE WHEN rn = 1 THEN cid END) AS cluster,
           |    max(CASE WHEN rn = 1 THEN sqrt(d2) END) AS sa,
           |    max(CASE WHEN rn = 2 THEN sqrt(d2) END) AS sb
           |  FROM a2 WHERE rn <= 2 GROUP BY vec_id
           |), sil AS (
           |  SELECT cluster, ${snap6Sql(siExpr)} AS vi FROM p)
           |SELECT cluster, count(*) AS n_members,
           |  ${mean6Sql("vi")} AS sil_mean
           |FROM sil GROUP BY cluster ORDER BY cluster""".stripMargin
      }),

    // Embedding-space EVAL-SET CONTAMINATION screen — the semantic
    // complement of the n-gram decontaminators (doc_decontaminate,
    // doc_eval_overlap_13gram): a paraphrased eval question shares no
    // 13-gram with its train-set leak, but its embedding sits next to
    // it. Method is SemDeDup's cluster trick applied CROSS-set: only
    // train × eval pairs inside the same k-means cluster are scored
    // (the documented recall trade — a leak whose mates cross a cluster
    // boundary is missed, exactly as in the SemDeDup paper), so pair
    // volume is Σ_c |train_c|·|eval_c|, never |train|·|eval|. The eval
    // side (the deterministic vec_id % 17 pseudo-holdout) broadcasts;
    // the corpus is scanned once, never shuffled. Output is the top-10
    // most-suspect pairs — the human-review queue a real screen feeds.
    Q(
      "emb_eval_contamination",
      (s, d) => {
        val assign = kmeansAssign(s, d)
        val e = emb(s, d).select("vec_id", "embedding")
        val withC = e.join(assign, Seq("vec_id"))
        val evalSide = withC.filter(col("vec_id") % 17 === 0)
          .select(col("cluster"), col("vec_id").as("eval_id"),
            col("embedding").as("evv"))
        val trainSide = withC.filter(col("vec_id") % 17 =!= 0)
          .select(col("cluster"), col("vec_id").as("train_id"),
            col("embedding").as("tvv"))
        trainSide.join(broadcast(evalSide), Seq("cluster"))
          .select(col("cluster"), col("train_id"), col("eval_id"),
            round(cosine(col("tvv"), col("evv")), 6).as("sim"))
          .orderBy(col("sim").desc, col("train_id"), col("eval_id"))
          .limit(10)
      },
      Some(
        s"""$kmeansCte, asg AS (
           |  SELECT vec_id, cid AS cluster FROM a2 WHERE rn = 1
           |), ev AS (
           |  SELECT asg.cluster, e.vec_id AS eval_id, e.embedding AS evv
           |  FROM embeddings e JOIN asg ON asg.vec_id = e.vec_id
           |  WHERE e.vec_id % 17 = 0
           |), tr AS (
           |  SELECT asg.cluster, e.vec_id AS train_id, e.embedding AS tvv
           |  FROM embeddings e JOIN asg ON asg.vec_id = e.vec_id
           |  WHERE e.vec_id % 17 <> 0
           |)
           |SELECT tr.cluster, train_id, eval_id,
           |  round(${cosSql("tr.tvv", "ev.evv")}, 6) AS sim
           |FROM tr JOIN ev ON ev.cluster = tr.cluster
           |ORDER BY sim DESC, train_id, eval_id LIMIT 10""".stripMargin)),

    // ANISOTROPY — mean pairwise cosine per label (and corpus-wide, the
    // label = -1 row): the embedding-health diagnostic behind the
    // "representation collapse" checks a training pipeline runs on its
    // encoder output (Ethayarajh 2019's anisotropy measure). The naive
    // definition is O(n²·d) pair work; this computes it EXACTLY in one
    // O(n·d) scan via the sum-vector identity
    //   Σ_{i≠j} v̂_i·v̂_j = ‖Σ_i v̂_i‖² − Σ_i ‖v̂_i‖²
    // over snap6-gridded unit vectors: each component snaps to the 1e-6
    // grid (deterministic on both engines), the per-(label, dim) grid
    // sums are DECIMAL-exact, and the final division is one correctly-
    // rounded op over identical integers — so the metric is defined on
    // the grid and cross-engine exact by construction. The shuffle is
    // 64·|labels| cells regardless of corpus size (fully partial-agg'd);
    // at 100 TB this is the only anisotropy plan that terminates.
    // Zero-norm and off-contract (null-element) vectors are excluded at
    // the source, same convention as every cosine consumer.
    Q("emb_anisotropy", (s, d) => anisotropy(s, d), Some(anisotropySql)),

    // NPROBE AUTOTUNE — the offline tuning job an IVF index operator
    // actually runs: sweep nprobe over a validation sample of anchors
    // (vec_id < 8), measure recall@5 of the probed-cell search against
    // brute-force ground truth PER ANCHOR, and pick the smallest nprobe
    // whose pooled recall clears the 40% target (integer-exact
    // predicate: sum_hits·100 ≥ n_total·40 — no float threshold; the
    // target sits where the pick is a real decision on this corpus,
    // i.e. an interior depth, not the max). Differs
    // from emb_ivf_probe_sweep (one query's curve) in being the
    // MULTI-anchor decision procedure: anchors and their probed-cell
    // ranks broadcast, ONE corpus scan scores every (anchor, candidate)
    // pair in any probed cell, each sweep depth is a bounded window over
    // that persisted frame, and the brute-force ground truth — the
    // deliberate offline price of tuning — runs once over
    // |sample|·|corpus| pairs, never corpus². At 100 TB the sample stays
    // fixed-size, so the tuning cost scales with the corpus only through
    // the one ground-truth scan.
    Q("emb_nprobe_autotune",
      (s, d) => nprobeAutotune(s, d), Some(nprobeAutotuneSql)),

    // SELECTIVITY-ADAPTIVE filtered search — the strategy switch every
    // production vector store runs in front of a filtered query
    // (pre-filter vs in-scan-filter): when the metadata predicate is
    // highly selective, brute-force EXACT search over just the
    // qualifying rows is both cheaper and better than the ANN read
    // (the shortlist would drown in non-qualifying geometry); when the
    // predicate is loose, the directory-pruned filtered IVF+PQ scan
    // (emb_ivfpq_filtered's read) wins. The switch is stats-driven —
    // qualifying-row count vs a 5% crossover, integer predicate
    // nm·20 ≤ n — and both decisions fire in one result: the 'rare'
    // scenario (conjunctive predicate, ~1.4% selective) routes to
    // exact_prefilter, the 'broad' one (label = 3, ~10%) to
    // pruned_scan. At 100 TB the counts come from table statistics
    // rather than a scan; correctness never depends on the estimate
    // (it only picks which correct-by-its-own-contract arm runs), which
    // is exactly why engines can afford approximate stats here.
    Q("emb_filtered_adaptive",
      (s, d) => filteredAdaptive(s, d), Some(filteredAdaptiveSql)),

    // SHORTLIST-DEPTH SWEEP — the second IVF+PQ serving knob beside
    // nprobe (emb_nprobe_autotune): how recall@5 responds to the ADC
    // shortlist budget (the rerank's true-vector fetch count, the
    // knob that prices the rerank stage). The ADC-scored probed frame
    // is computed ONCE and persisted; each sweep point is a bounded
    // TakeOrdered cut + 5-row rerank + semi-join — never a re-scan and
    // never a global window over the scored frame. Together with the
    // nprobe sweep this spans the full (nprobe, shortN) operating
    // grid an index operator tunes.
    Q(
      "emb_shortn_sweep",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val e = emb(s, d)
        val ranked = ivfRanked(s, d)
        val cells = ranked.filter(col("rn") === 1)
          .select(col("vec_id"), col("c_label").as("cell"))
        val qCells = broadcast(ranked
          .filter(col("vec_id") === 0 && col("rn") <= 2)
          .select(col("c_label").as("cell")))
        val probedIds = cells.join(qCells, "cell")
          .filter(col("vec_id") =!= 0).select("vec_id")
        val adcScored = graft.CacheRegistry.track(s,
          pqCodes(s, d)
            .join(probedIds, Seq("vec_id"), "left_semi")
            .join(broadcast(pqAdc(s, d)), Seq("j", "cid"))
            .groupBy("vec_id")
            .agg(sum(col("pd").cast(DecimalType(18, 6))).cast("double")
              .as("pq_d2")))
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv")))
        val exact5 = e.filter(col("vec_id") =!= 0).crossJoin(qv)
          .select(col("vec_id"),
            round(cosine(col("embedding"), col("qv")), 6).as("es"))
          .orderBy(col("es").desc, col("vec_id")).limit(5)
          .select("vec_id")
        // ONE plan for all 3 sweep points (r13; was a 3-branch union —
        // same collapse as emb_operating_grid, see its comment): fan
        // the persisted scored frame out to the budgets, rank inside
        // each (short_n) partition (bounded, never a global window),
        // rerank once, semi-join exact5 once, left-join the sweep
        // frame to keep zero-hit points. row_number over the total
        // (pq_d2|sim, vec_id) order is bit-identical to the former
        // orderBy().limit(n) cuts.
        import s.implicits._
        val ns = Seq(5, 10, 20).toDF("short_n")
        val wShort = Window.partitionBy("short_n")
          .orderBy(col("pq_d2"), col("vec_id"))
        val wRerank = Window.partitionBy("short_n")
          .orderBy(col("sim").desc, col("vec_id"))
        val short = adcScored
          .withColumn("short_n",
            explode(array(lit(5), lit(10), lit(20))))
          .withColumn("r", row_number().over(wShort))
          .filter(col("r") <= col("short_n"))
          .select("short_n", "vec_id")
        val rr = short.join(e, "vec_id").crossJoin(qv)
          .select(col("short_n"), col("vec_id"),
            round(cosine(col("embedding"), col("qv")), 6).as("sim"))
          .withColumn("rk", row_number().over(wRerank))
          .filter(col("rk") <= 5)
        val h = rr.join(exact5, Seq("vec_id"), "left_semi")
          .groupBy("short_n").agg(count(lit(1)).as("n_hits"))
        ns.join(h, Seq("short_n"), "left")
          .select(col("short_n"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            (coalesce(col("n_hits"), lit(0L)) * 20).as("recall_pct"))
          .orderBy("short_n")
      },
      Some(
        s"""WITH $ivfCellsCte, $pqCte, qcells AS (
           |  SELECT label AS cell FROM ranked WHERE vec_id = 0 AND rn <= 2
           |), qv AS (
           |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
           |), sc AS (
           |  SELECT k.vec_id,
           |    CAST(sum(CAST(a.pd AS DECIMAL(18,6))) AS DOUBLE) AS pq_d2
           |  FROM codes k
           |  JOIN cells cl ON cl.vec_id = k.vec_id
           |  JOIN qcells qc ON qc.cell = cl.cell
           |  JOIN adc a ON a.j = k.j AND a.cid = k.cid
           |  WHERE k.vec_id <> 0
           |  GROUP BY k.vec_id
           |), sr AS (
           |  SELECT vec_id,
           |    row_number() OVER (ORDER BY pq_d2, vec_id) AS r
           |  FROM sc
           |), ns AS (
           |  SELECT unnest([5, 10, 20]) AS short_n
           |), rr AS (
           |  SELECT n.short_n, e.vec_id,
           |    row_number() OVER (PARTITION BY n.short_n
           |      ORDER BY ${cosSql("e.embedding", "qv.qv")} DESC,
           |        e.vec_id) AS rk
           |  FROM ns n
           |  JOIN sr ON sr.r <= n.short_n
           |  JOIN embeddings e ON e.vec_id = sr.vec_id
           |  CROSS JOIN qv
           |), exact5 AS (
           |  SELECT vec_id FROM (
           |    SELECT e.vec_id, ${cosSql("e.embedding", "qv.qv")} AS es
           |    FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> 0
           |    ORDER BY es DESC, e.vec_id LIMIT 5)
           |), h AS (
           |  SELECT t5.short_n, t5.vec_id
           |  FROM (SELECT short_n, vec_id FROM rr WHERE rk <= 5) t5
           |  JOIN exact5 USING (vec_id)
           |)
           |SELECT CAST(n.short_n AS INT) AS short_n,
           |  CAST(count(h.vec_id) AS BIGINT) AS n_hits,
           |  CAST(count(h.vec_id) * 20 AS BIGINT) AS recall_pct
           |FROM ns n LEFT JOIN h ON h.short_n = n.short_n
           |GROUP BY n.short_n ORDER BY short_n""".stripMargin)),

    // RECALL FAIRNESS BY SLICE — does the IVF index serve every
    // metadata slice equally? A coarse quantizer trained on the whole
    // corpus can under-serve minority regions (their vectors share
    // cells with a dominant neighborhood, so a fixed probe depth
    // recovers fewer of their true neighbors) — the retrieval-equity
    // audit a production search team runs per segment. Reuses the
    // autotune's 8-anchor machinery at the serving operating point
    // (nprobe = 2): per ANCHOR LABEL, pooled hits vs ground truth.
    // Same one-scan candidate frame + one |sample|·|corpus| exact
    // pass; output is |anchor labels| rows.
    Q(
      "emb_recall_by_label",
      (s, d) => {
        val e = emb(s, d)
        val ranked = ivfRanked(s, d)
        val cells = ranked.filter(col("rn") === 1)
          .select(col("vec_id"), col("c_label").as("cell"))
        val anchors = broadcast(e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("a_id"),
            coalesce(col("label").cast("int"), lit(-2)).as("a_label"),
            col("embedding").as("av")))
        val aRank = broadcast(ranked
          .filter(col("vec_id") < 8 && col("rn") <= 2)
          .select(col("vec_id").as("a_id"), col("c_label").as("cell")))
        val wP = Window.partitionBy("a_id")
          .orderBy(col("sim").desc, col("vec_id"))
        val top5 = e.join(cells, "vec_id")
          .join(aRank, "cell")
          .join(anchors, "a_id")
          .filter(col("vec_id") =!= col("a_id"))
          .select(col("a_id"), col("a_label"), col("vec_id"),
            round(cosine(col("embedding"), col("av")), 6).as("sim"))
          .filter(col("sim").isNotNull)
          .withColumn("r", row_number().over(wP))
          .filter(col("r") <= 5)
          .select("a_id", "a_label", "vec_id")
        val wE = Window.partitionBy("a_id")
          .orderBy(col("es").desc, col("vec_id"))
        val exact5 = e.crossJoin(anchors)
          .filter(col("vec_id") =!= col("a_id"))
          .select(col("a_id"), col("a_label"), col("vec_id"),
            round(cosine(col("embedding"), col("av")), 6).as("es"))
          .filter(col("es").isNotNull)
          .withColumn("r", row_number().over(wE))
          .filter(col("r") <= 5)
          .select("a_id", "a_label", "vec_id")
        val hits = top5.join(exact5, Seq("a_id", "vec_id"), "left_semi")
          .groupBy("a_label").agg(count(lit(1)).as("n_hits"))
        exact5.groupBy("a_label")
          .agg(count(lit(1)).as("n_truth"),
            countDistinct(col("a_id")).as("n_anchors"))
          .join(hits, Seq("a_label"), "left")
          .select(col("a_label"), col("n_anchors"), col("n_truth"),
            coalesce(col("n_hits"), lit(0L)).cast("long").as("n_hits"),
            round(coalesce(col("n_hits"), lit(0L)).cast("double") /
              col("n_truth"), 6).as("recall_at_5"))
          .orderBy("a_label")
      },
      Some(
        s"""WITH $ivfCellsCte, anch AS (
           |  SELECT vec_id AS a_id,
           |    coalesce(CAST(label AS INT), -2) AS a_label,
           |    embedding AS av
           |  FROM embeddings WHERE vec_id < 8
           |), arank AS (
           |  SELECT vec_id AS a_id, label AS cell
           |  FROM ranked WHERE vec_id < 8 AND rn <= 2
           |), sims0 AS (
           |  SELECT ar.a_id, a.a_label, e.vec_id,
           |    ${cosSql("e.embedding", "a.av")} AS sim
           |  FROM embeddings e
           |  JOIN cells c ON c.vec_id = e.vec_id
           |  JOIN arank ar ON ar.cell = c.cell
           |  JOIN anch a ON a.a_id = ar.a_id
           |  WHERE e.vec_id <> ar.a_id
           |), t5 AS (
           |  SELECT a_id, a_label, vec_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY a_id
           |      ORDER BY sim DESC, vec_id) AS r
           |    FROM sims0 WHERE sim IS NOT NULL) WHERE r <= 5
           |), ex0 AS (
           |  SELECT a.a_id, a.a_label, e.vec_id,
           |    ${cosSql("e.embedding", "a.av")} AS es
           |  FROM embeddings e CROSS JOIN anch a
           |  WHERE e.vec_id <> a.a_id
           |), e5 AS (
           |  SELECT a_id, a_label, vec_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY a_id
           |      ORDER BY es DESC, vec_id) AS r
           |    FROM ex0 WHERE es IS NOT NULL) WHERE r <= 5
           |), hits AS (
           |  SELECT t5.a_label, count(*) AS n_hits
           |  FROM t5 JOIN e5 USING (a_id, vec_id) GROUP BY 1
           |), truth AS (
           |  SELECT a_label, count(*) AS n_truth,
           |    count(DISTINCT a_id) AS n_anchors
           |  FROM e5 GROUP BY 1
           |)
           |SELECT t.a_label,
           |  CAST(t.n_anchors AS BIGINT) AS n_anchors,
           |  CAST(t.n_truth AS BIGINT) AS n_truth,
           |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / t.n_truth, 6)
           |    AS recall_at_5
           |FROM truth t LEFT JOIN hits h USING (a_label)
           |ORDER BY a_label""".stripMargin)),

    // PER-SLICE RECALL REPAIR — acting on the inequity
    // emb_recall_by_label MEASURES (recall@5 spanning 0.2-0.6 across
    // anchor labels at the fixed nprobe=2 operating point): for each
    // label slice, the MINIMUM probe depth in {2,3,4} that lifts its
    // pooled recall@5 to the 0.4 floor, priced off ONE candidate scan
    // (anchor cell-ranks to depth 4 carried as a column; each depth is
    // a predicate over the same frame, never a re-scan — the
    // operating-grid convention applied per slice). Output per label:
    // the nprobe=2 baseline, the chosen per-slice depth, the repaired
    // recall, and whether the floor is reachable within the budget
    // (floor_met = false surfaces slices that need a bigger lever —
    // shortN, or index retraining — not silently the max depth). The
    // floor test is the integer cross-multiplication
    // n_hits*10 >= n_truth*4. At 100 TB this is the per-segment
    // serving config a search team ships: a tiny (label -> nprobe)
    // side table, derived offline exactly like this.
    Q(
      "emb_label_nprobe_repair",
      (s, d) => {
        val (_, rec, chosen, ver) = labelRepairFrames(s, d)
        val base = rec.filter(col("np") === 2)
          .select(col("a_label"), col("n_anchors"), col("n_truth"),
            col("n_hits").as("base_n_hits"))
        val repaired = rec.select(col("np").as("np_r"),
          col("a_label"), col("n_hits").as("rep_n_hits"))
        base.join(chosen, "a_label")
          .join(repaired,
            col("np_r") === coalesce(col("np_ok"), lit(4)) &&
              repaired("a_label") === base("a_label"))
          .select(lit(ver).as("index_version"),
            base("a_label"), col("n_anchors"), col("n_truth"),
            col("base_n_hits"),
            round(col("base_n_hits").cast("double") / col("n_truth"), 6)
              .as("base_recall"),
            coalesce(col("np_ok"), lit(4)).cast("int")
              .as("nprobe_chosen"),
            col("rep_n_hits"),
            round(col("rep_n_hits").cast("double") / col("n_truth"), 6)
              .as("rep_recall"),
            col("np_ok").isNotNull.as("floor_met"))
          .orderBy("a_label")
      },
      Some(
        s"""WITH $ivfCellsCte, $pqCte, $rebalanceServeCte, $retrainCte,
           |$labelRepairCte
           |SELECT 3 AS index_version, b.a_label,
           |  CAST(b.n_anchors AS BIGINT) AS n_anchors,
           |  CAST(b.n_truth AS BIGINT) AS n_truth,
           |  CAST(b.n_hits AS BIGINT) AS base_n_hits,
           |  round(CAST(b.n_hits AS DOUBLE) / b.n_truth, 6)
           |    AS base_recall,
           |  CAST(coalesce(ch.np_ok, 4) AS INT) AS nprobe_chosen,
           |  CAST(rc.n_hits AS BIGINT) AS rep_n_hits,
           |  round(CAST(rc.n_hits AS DOUBLE) / rc.n_truth, 6)
           |    AS rep_recall,
           |  (ch.np_ok IS NOT NULL) AS floor_met
           |FROM rec b
           |JOIN ch ON ch.a_label = b.a_label
           |JOIN rec rc ON rc.a_label = b.a_label
           |  AND rc.np = coalesce(ch.np_ok, 4)
           |WHERE b.np = 2
           |ORDER BY b.a_label""".stripMargin)),

    // LABEL-AWARE SERVING — the repair's decision CONSUMED: each query
    // probes at ITS label's chosen depth (the per-segment (label ->
    // nprobe) side table emb_label_nprobe_repair derives), so the
    // 0.2-recall slices get their deeper probe and the healthy slices
    // keep paying for 2 cells. The serve is one predicate over the
    // SAME depth-4 candidate frame (arn <= the query's own depth — no
    // per-depth re-scan), then a per-query top-5. This is the read
    // path the side table exists for; the streaming twin
    // (AnnServing.scoreBatchLabelAwareAt) is pinned row-identical in
    // StreamingSpec. At 100 TB: the depth table is a broadcast row per
    // label; serving cost scales with each query's OWN depth — the
    // whole point of repairing per-slice instead of raising the
    // global knob.
    Q(
      "emb_label_aware_serving",
      (s, d) => {
        val (sims0, _, chosen, _) = labelRepairFrames(s, d)
        val wQ = Window.partitionBy("a_id")
          .orderBy(col("sim").desc, col("vec_id"))
        sims0
          .join(broadcast(chosen
            .select(col("a_label"),
              coalesce(col("np_ok"), lit(4)).cast("int").as("np"))),
            "a_label")
          .filter(col("arn") <= col("np"))
          .withColumn("rank", row_number().over(wQ))
          .filter(col("rank") <= 5)
          .select(col("a_id"), col("a_label"), col("np").as("nprobe"),
            col("rank"), col("vec_id"), col("sim"))
          .orderBy("a_id", "rank")
      },
      Some(
        s"""WITH $ivfCellsCte, $pqCte, $rebalanceServeCte, $retrainCte,
           |$labelRepairCte
           |SELECT a_id, a_label, nprobe, rank, vec_id, sim FROM (
           |  SELECT s.a_id, s.a_label,
           |    CAST(coalesce(ch.np_ok, 4) AS INT) AS nprobe,
           |    row_number() OVER (PARTITION BY s.a_id
           |      ORDER BY s.sim DESC, s.vec_id) AS rank,
           |    s.vec_id, s.sim
           |  FROM sims0 s
           |  JOIN ch ON ch.a_label = s.a_label
           |  WHERE s.arn <= coalesce(ch.np_ok, 4)
           |    AND s.sim IS NOT NULL)
           |WHERE rank <= 5 ORDER BY a_id, rank""".stripMargin)),

    // COMBINED-LEVER REPAIR — the (nprobe x shortN) grid PER LABEL
    // over the published index's PQ serving read: the bigger budget a
    // slice gets when per-label nprobe alone cannot reach the floor.
    // emb_label_nprobe_repair prices the EXACT-rerank read (recall is
    // upper-bounded by cell coverage at depth <= 4); this query prices
    // the production PQ read where deeper probes are affordable
    // BECAUSE shortN caps the true-vector fetches — probe up to 6
    // cells of 8-byte codes, shortlist {10,20,40} by ADC, exact-rerank
    // only the shortlist. One depth-6 candidate ADC scan (anchor
    // cell-rank carried; every (np, sn) grid point is a predicate +
    // rank cut over the same frame, never a re-scan — the
    // operating-grid convention per slice). Chosen combo = the
    // CHEAPEST (min np first — scan cost dominates at 100 TB — then
    // min sn) meeting the 0.4 pooled floor; a label no combo can lift
    // reports floor_met=false with the full-budget (np=6, sn=40) row
    // as the honest evidence. Epoch-consistent like the repair: every
    // artifact resolves from the manifest's current version.
    Q(
      "emb_label_shortn_repair",
      (s, d) => {
        val (_, _, rec, chosen, ver) = labelBudgetFrames(s, d)
        val base = rec.filter(col("np") === 2 && col("sn") === 20)
          .select(col("a_label"), col("n_anchors"), col("n_truth"),
            col("n_hits").as("base_n_hits"))
        val rep = broadcast(
          rec.select(col("np").as("np_r"), col("sn").as("sn_r"),
            col("a_label"), col("n_hits").as("rep_n_hits")))
        base.join(broadcast(chosen), "a_label")
          .withColumn("np_c",
            floor(coalesce(col("combo"), lit(6040)) / 1000.0).cast("int"))
          .withColumn("sn_c",
            (coalesce(col("combo"), lit(6040)) % 1000).cast("int"))
          .join(rep,
            col("np_r") === col("np_c") && col("sn_r") === col("sn_c") &&
              rep("a_label") === base("a_label"))
          .select(lit(ver).as("index_version"),
            base("a_label"), col("n_anchors"), col("n_truth"),
            col("base_n_hits"),
            round(col("base_n_hits").cast("double") / col("n_truth"), 6)
              .as("base_recall"),
            col("np_c").as("nprobe_chosen"),
            col("sn_c").as("shortn_chosen"),
            col("rep_n_hits"),
            round(col("rep_n_hits").cast("double") / col("n_truth"), 6)
              .as("rep_recall"),
            col("combo").isNotNull.as("floor_met"))
          .orderBy("a_label")
      },
      Some(
        s"""WITH $ivfCellsCte, $pqCte, $rebalanceServeCte, $retrainCte,
           |$labelBudgetCte
           |SELECT 3 AS index_version, b.a_label,
           |  CAST(b.n_anchors AS BIGINT) AS n_anchors,
           |  CAST(b.n_truth AS BIGINT) AS n_truth,
           |  CAST(b.n_hits AS BIGINT) AS base_n_hits,
           |  round(CAST(b.n_hits AS DOUBLE) / b.n_truth, 6)
           |    AS base_recall,
           |  CAST(floor(coalesce(c.combo, 6040) / 1000.0) AS INT)
           |    AS nprobe_chosen,
           |  CAST(coalesce(c.combo, 6040) % 1000 AS INT)
           |    AS shortn_chosen,
           |  CAST(r.n_hits AS BIGINT) AS rep_n_hits,
           |  round(CAST(r.n_hits AS DOUBLE) / r.n_truth, 6)
           |    AS rep_recall,
           |  (c.combo IS NOT NULL) AS floor_met
           |FROM recg b
           |JOIN chg c ON c.a_label = b.a_label
           |JOIN recg r ON r.a_label = b.a_label
           |  AND r.np = CAST(floor(coalesce(c.combo, 6040) / 1000.0)
           |    AS INT)
           |  AND r.sn = CAST(coalesce(c.combo, 6040) % 1000 AS INT)
           |WHERE b.np = 2 AND b.sn = 20
           |ORDER BY b.a_label""".stripMargin)),

    // BUDGET-AWARE SERVING — the combined-lever repair's decision
    // CONSUMED (the emb_label_aware_serving pattern one lever up):
    // each anchor query is served through the PQ read at ITS label's
    // chosen (nprobe, shortN) — probe to the chosen depth (a predicate
    // over the shared depth-6 candidate frame), shortlist to the
    // chosen budget by ADC rank, exact-rerank the shortlist, top-5.
    // Labels whose grid had no floor-meeting combo serve at the full
    // budget (6, 40) — the same honest fallback the repair row
    // flags. One window per stage, both partitioned per query; at
    // 100 TB the combo table is a broadcast row per label and each
    // query pays its OWN probe depth and fetch budget — the point of
    // budget repair over raising either global knob.
    Q(
      "emb_label_budget_serving",
      (s, d) => {
        val (anchors, scored, _, chosen, _) = labelBudgetFrames(s, d)
        val combos = broadcast(chosen
          .select(col("a_label"),
            floor(coalesce(col("combo"), lit(6040)) / 1000.0)
              .cast("int").as("np_c"),
            (coalesce(col("combo"), lit(6040)) % 1000)
              .cast("int").as("sn_c")))
        val wS = Window.partitionBy("a_id")
          .orderBy(col("pq_d2"), col("vec_id"))
        val bshort = scored
          .join(anchors.select(col("a_id"), col("a_label")), "a_id")
          .join(combos, "a_label")
          .filter(col("arn") <= col("np_c"))
          .withColumn("srn", row_number().over(wS))
          .filter(col("srn") <= col("sn_c"))
          .select("a_id", "vec_id", "np_c", "sn_c")
        val wR = Window.partitionBy("a_id")
          .orderBy(col("sim").desc, col("vec_id"))
        bshort
          .join(emb(s, d).select(col("vec_id"), col("embedding")),
            "vec_id")
          .join(anchors, "a_id")
          .select(col("a_id"), col("a_label"),
            col("np_c").as("nprobe"), col("sn_c").as("shortn"),
            col("vec_id"),
            round(cosine(col("embedding"), col("av")), 6).as("sim"))
          .filter(col("sim").isNotNull)
          .withColumn("rank", row_number().over(wR))
          .filter(col("rank") <= 5)
          .select("a_id", "a_label", "nprobe", "shortn", "rank",
            "vec_id", "sim")
          .orderBy("a_id", "rank")
      },
      Some(
        s"""WITH $ivfCellsCte, $pqCte, $rebalanceServeCte, $retrainCte,
           |$labelBudgetCte, combos AS (
           |  SELECT a_label,
           |    CAST(floor(coalesce(combo, 6040) / 1000.0) AS INT)
           |      AS np_c,
           |    CAST(coalesce(combo, 6040) % 1000 AS INT) AS sn_c
           |  FROM chg
           |), bshort AS (
           |  SELECT a_id, vec_id, np_c, sn_c FROM (
           |    SELECT s.a_id, s.vec_id, c2.np_c, c2.sn_c,
           |      row_number() OVER (PARTITION BY s.a_id
           |        ORDER BY s.pq_d2, s.vec_id) AS srn
           |    FROM scored s
           |    JOIN anch a ON a.a_id = s.a_id
           |    JOIN combos c2 ON c2.a_label = a.a_label
           |    WHERE s.arn <= c2.np_c)
           |  WHERE srn <= sn_c
           |), bserve AS (
           |  SELECT b.a_id, a.a_label, b.np_c, b.sn_c, e.vec_id,
           |    ${cosSql("e.embedding", "a.av")} AS sim
           |  FROM bshort b JOIN embeddings e USING (vec_id)
           |  JOIN anch a ON a.a_id = b.a_id
           |)
           |SELECT a_id, a_label, nprobe, shortn, rank, vec_id, sim
           |FROM (
           |  SELECT a_id, a_label, np_c AS nprobe, sn_c AS shortn,
           |    vec_id, sim, row_number() OVER (PARTITION BY a_id
           |      ORDER BY sim DESC, vec_id) AS rank
           |  FROM bserve WHERE sim IS NOT NULL)
           |WHERE rank <= 5 ORDER BY a_id, rank""".stripMargin)),

    // POST-EPOCH FAIRNESS RE-AUDIT — emb_recall_by_label re-run
    // against the RETRAINED (v3) index: per anchor label, pooled
    // recall@5 at the same nprobe=2 operating point, with cells and
    // centroids read from the epoch's published artifacts
    // (codes_rt / centroids_rt) instead of the v1 lineage. Reading
    // this beside emb_recall_by_label answers whether the epoch moved
    // slice equity (the audits exist to drive — and then evaluate —
    // the acts: rebalance, repair, retrain). Same shape: one
    // candidate scan over the anchors' probed cells + one
    // |anchors|·|corpus| exact pass; output is |anchor labels| rows.
    Q(
      "emb_retrain_recall_by_label",
      (s, d) => {
        val codes3 = retrainApplied(s, d)
        val root = indexPath(d)
        val e = emb(s, d)
        val anchors = broadcast(e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("a_id"),
            coalesce(col("label").cast("int"), lit(-2)).as("a_label"),
            col("embedding").as("av")))
        // v3 centroid table, label-keyed first() read (the bounded
        // broadcast convention)
        val cent3 = s.read.parquet(s"$root/centroids_rt")
          .select(col("c_label").as("label"), col("cvec"))
          .groupBy("label").agg(first(col("cvec")).as("cvec"))
        val wA = Window.partitionBy("a_id")
          .orderBy(col("d2").asc_nulls_last, col("label"))
        val aRank = anchors.crossJoin(broadcast(cent3))
          .withColumn("d2",
            graft.functions.VecL2Sq.column(col("av"), col("cvec")))
          .withColumn("rn", row_number().over(wA))
          .filter(col("rn") <= 2)
          .select(col("a_id"), col("label").as("cell"))
        val wP = Window.partitionBy("a_id")
          .orderBy(col("sim").desc, col("vec_id"))
        val top5 = e.join(codes3.select("vec_id", "cell"), "vec_id")
          .join(broadcast(aRank), "cell")
          .join(anchors, "a_id")
          .filter(col("vec_id") =!= col("a_id"))
          .select(col("a_id"), col("a_label"), col("vec_id"),
            round(cosine(col("embedding"), col("av")), 6).as("sim"))
          .filter(col("sim").isNotNull)
          .withColumn("r", row_number().over(wP))
          .filter(col("r") <= 5)
          .select("a_id", "a_label", "vec_id")
        val wE = Window.partitionBy("a_id")
          .orderBy(col("es").desc, col("vec_id"))
        val exact5 = e.crossJoin(anchors)
          .filter(col("vec_id") =!= col("a_id"))
          .select(col("a_id"), col("a_label"), col("vec_id"),
            round(cosine(col("embedding"), col("av")), 6).as("es"))
          .filter(col("es").isNotNull)
          .withColumn("r", row_number().over(wE))
          .filter(col("r") <= 5)
          .select("a_id", "a_label", "vec_id")
        val hits = top5.join(exact5, Seq("a_id", "vec_id"), "left_semi")
          .groupBy("a_label").agg(count(lit(1)).as("n_hits"))
        exact5.groupBy("a_label")
          .agg(count(lit(1)).as("n_truth"),
            countDistinct(col("a_id")).as("n_anchors"))
          .join(hits, Seq("a_label"), "left")
          .select(col("a_label"), col("n_anchors"), col("n_truth"),
            coalesce(col("n_hits"), lit(0L)).cast("long").as("n_hits"),
            round(coalesce(col("n_hits"), lit(0L)).cast("double") /
              col("n_truth"), 6).as("recall_at_5"))
          .orderBy("a_label")
      },
      Some(
        s"""WITH $ivfCellsCte, $pqCte, $rebalanceServeCte, $retrainCte,
           |anch AS (
           |  SELECT vec_id AS a_id,
           |    coalesce(CAST(label AS INT), -2) AS a_label,
           |    embedding AS av
           |  FROM embeddings WHERE vec_id < 8
           |), ar3 AS (
           |  SELECT a_id, cell FROM (
           |    SELECT a.a_id, c.label AS cell, row_number() OVER (
           |      PARTITION BY a.a_id
           |      ORDER BY ${l2Sql("a.av", "c.cvec")} NULLS LAST,
           |        c.label) AS rn
           |    FROM anch a CROSS JOIN cent3 c) WHERE rn <= 2
           |), sims3 AS (
           |  SELECT ar.a_id, a.a_label, e.vec_id,
           |    ${cosSql("e.embedding", "a.av")} AS sim
           |  FROM embeddings e
           |  JOIN cells3 c ON c.vec_id = e.vec_id
           |  JOIN ar3 ar ON ar.cell = c.cell
           |  JOIN anch a ON a.a_id = ar.a_id
           |  WHERE e.vec_id <> ar.a_id
           |), t53 AS (
           |  SELECT a_id, a_label, vec_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY a_id
           |      ORDER BY sim DESC, vec_id) AS r
           |    FROM sims3 WHERE sim IS NOT NULL) WHERE r <= 5
           |), ex0 AS (
           |  SELECT a.a_id, a.a_label, e.vec_id,
           |    ${cosSql("e.embedding", "a.av")} AS es
           |  FROM embeddings e CROSS JOIN anch a
           |  WHERE e.vec_id <> a.a_id
           |), e5 AS (
           |  SELECT a_id, a_label, vec_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY a_id
           |      ORDER BY es DESC, vec_id) AS r
           |    FROM ex0 WHERE es IS NOT NULL) WHERE r <= 5
           |), hits AS (
           |  SELECT t53.a_label, count(*) AS n_hits
           |  FROM t53 JOIN e5 USING (a_id, vec_id) GROUP BY 1
           |), truth AS (
           |  SELECT a_label, count(*) AS n_truth,
           |    count(DISTINCT a_id) AS n_anchors
           |  FROM e5 GROUP BY 1
           |)
           |SELECT t.a_label,
           |  CAST(t.n_anchors AS BIGINT) AS n_anchors,
           |  CAST(t.n_truth AS BIGINT) AS n_truth,
           |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / t.n_truth, 6)
           |    AS recall_at_5
           |FROM truth t LEFT JOIN hits h USING (a_label)
           |ORDER BY a_label""".stripMargin)),

    // OPERATING GRID — the (nprobe x shortN) interaction the two axis
    // sweeps cannot show alone: emb_nprobe_autotune finds recall
    // climbing with probe depth and emb_shortn_sweep finds it flat in
    // rerank budget AT nprobe=2 — this grid answers whether the budget
    // starts binding once deeper probes supply more candidates (the
    // question an operator actually asks before raising either knob;
    // both cost money at 100 TB — probes scan more cells, budget
    // fetches more true vectors). One persisted (qrn, vec_id, pq_d2)
    // ADC frame over the 3-deep probed cells; each of the 9 grid
    // points is a bounded filter + TakeOrdered + 5-row rerank +
    // semi-join — never a re-scan, never a global window.
    Q(
      "emb_operating_grid",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val e = emb(s, d)
        val ranked = ivfRanked(s, d)
        val cells = ranked.filter(col("rn") === 1)
          .select(col("vec_id"), col("c_label").as("cell"))
        val qRank = broadcast(ranked
          .filter(col("vec_id") === 0 && col("rn") <= 3)
          .select(col("c_label").as("cell"), col("rn").as("qrn")))
        val adcScored = graft.CacheRegistry.track(s,
          pqCodes(s, d)
            .join(cells.join(qRank, "cell")
              .filter(col("vec_id") =!= 0)
              .select("vec_id", "qrn"), "vec_id")
            .join(broadcast(pqAdc(s, d)), Seq("j", "cid"))
            .groupBy("vec_id", "qrn")
            .agg(sum(col("pd").cast(DecimalType(18, 6))).cast("double")
              .as("pq_d2")))
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv")))
        val exact5 = e.filter(col("vec_id") =!= 0).crossJoin(qv)
          .select(col("vec_id"),
            round(cosine(col("embedding"), col("qv")), 6).as("es"))
          .orderBy(col("es").desc, col("vec_id")).limit(5)
          .select("vec_id")
        // ONE plan for all 9 grid points (r13; was a 9-branch union
        // that re-embedded the ADC lineage and recomputed exact5 per
        // branch — 288 Exchanges, plans/r13/emb_operating_grid_before):
        // each scored row fans out to the probe depths that include it
        // (explode(sequence(qrn, 3)) — an equi fan-out, no theta join),
        // then to the 3 shortlist budgets; per-point shortlist and
        // rerank are rank windows PARTITIONED by the grid point
        // (bounded frames), exact5 is built and semi-joined once, and
        // the 9-row grid left-join restores zero-hit points — exactly
        // the oracle CTE's shape. Ordering (pq_d2|sim, vec_id) is
        // total, so row_number <= n is bit-identical to the former
        // orderBy().limit(n) cuts.
        import s.implicits._
        val gridPts = Seq(1, 2, 3).flatMap(p =>
          Seq(5, 10, 20).map(n => (p, n)))
        val grid = gridPts.toDF("nprobe", "short_n")
        val wShort = Window.partitionBy("nprobe")
          .orderBy(col("pq_d2"), col("vec_id"))
        val wRerank = Window.partitionBy("nprobe", "short_n")
          .orderBy(col("sim").desc, col("vec_id"))
        val short = adcScored
          .withColumn("nprobe", explode(sequence(col("qrn"), lit(3))))
          .withColumn("r", row_number().over(wShort))
          .withColumn("short_n",
            explode(array(lit(5), lit(10), lit(20))))
          .filter(col("r") <= col("short_n"))
          .select("nprobe", "short_n", "vec_id")
        val rr = short.join(e, "vec_id").crossJoin(qv)
          .select(col("nprobe"), col("short_n"), col("vec_id"),
            round(cosine(col("embedding"), col("qv")), 6).as("sim"))
          .withColumn("rk", row_number().over(wRerank))
          .filter(col("rk") <= 5)
        val h = rr.join(exact5, Seq("vec_id"), "left_semi")
          .groupBy("nprobe", "short_n").agg(count(lit(1)).as("n_hits"))
        grid.join(h, Seq("nprobe", "short_n"), "left")
          .select(col("nprobe"), col("short_n"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            (coalesce(col("n_hits"), lit(0L)) * 20).as("recall_pct"))
          .orderBy("nprobe", "short_n")
      },
      Some(
        s"""WITH $ivfCellsCte, $pqCte, qrank AS (
           |  SELECT label AS cell, rn AS qrn FROM ranked
           |  WHERE vec_id = 0 AND rn <= 3
           |), qv AS (
           |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
           |), sc AS (
           |  SELECT k.vec_id, q.qrn,
           |    CAST(sum(CAST(a.pd AS DECIMAL(18,6))) AS DOUBLE) AS pq_d2
           |  FROM codes k
           |  JOIN cells cl ON cl.vec_id = k.vec_id
           |  JOIN qrank q ON q.cell = cl.cell
           |  JOIN adc a ON a.j = k.j AND a.cid = k.cid
           |  WHERE k.vec_id <> 0
           |  GROUP BY k.vec_id, q.qrn
           |), grid AS (
           |  SELECT p.nprobe, n.short_n
           |  FROM (SELECT unnest([1, 2, 3]) AS nprobe) p
           |  CROSS JOIN (SELECT unnest([5, 10, 20]) AS short_n) n
           |), sr AS (
           |  SELECT g.nprobe, g.short_n, s.vec_id,
           |    row_number() OVER (PARTITION BY g.nprobe, g.short_n
           |      ORDER BY s.pq_d2, s.vec_id) AS r
           |  FROM grid g JOIN sc s ON s.qrn <= g.nprobe
           |), rr AS (
           |  SELECT t.nprobe, t.short_n, e.vec_id,
           |    row_number() OVER (PARTITION BY t.nprobe, t.short_n
           |      ORDER BY ${cosSql("e.embedding", "qv.qv")} DESC,
           |        e.vec_id) AS rk
           |  FROM sr t
           |  JOIN embeddings e ON e.vec_id = t.vec_id
           |  CROSS JOIN qv
           |  WHERE t.r <= t.short_n
           |), exact5 AS (
           |  SELECT vec_id FROM (
           |    SELECT e.vec_id, ${cosSql("e.embedding", "qv.qv")} AS es
           |    FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> 0
           |    ORDER BY es DESC, e.vec_id LIMIT 5)
           |), h AS (
           |  SELECT t5.nprobe, t5.short_n
           |  FROM (SELECT nprobe, short_n, vec_id FROM rr WHERE rk <= 5) t5
           |  JOIN exact5 USING (vec_id)
           |)
           |SELECT CAST(g.nprobe AS INT) AS nprobe,
           |  CAST(g.short_n AS INT) AS short_n,
           |  CAST(count(h.nprobe) AS BIGINT) AS n_hits,
           |  CAST(count(h.nprobe) * 20 AS BIGINT) AS recall_pct
           |FROM grid g LEFT JOIN h
           |  ON h.nprobe = g.nprobe AND h.short_n = g.short_n
           |GROUP BY g.nprobe, g.short_n
           |ORDER BY nprobe, short_n""".stripMargin)),

    // INDEX INTEGRITY FSCK — the consistency audit an index operator
    // schedules against the POST-MAINTENANCE artifacts (here the
    // rebalanced codes_reb/centroids_reb pair, the index whose
    // assignment is least trivially correct): referential checks
    // (dangling code rows, unindexed vectors, code cells without a
    // centroid, centroids with no rows, duplicate centroid labels)
    // plus the one check that is legitimately NONZERO —
    // misplaced_rows, rows whose stored cell is no longer their
    // nearest centroid. The 2-seed split deliberately moves rows by
    // the A/B rule rather than re-running a Voronoi assignment (the
    // serving contract tolerates it, recall is re-checked); this
    // query QUANTIFIES that drift, the number a maintenance scheduler
    // watches to decide when a full retrain is due. Every count is
    // measured off the on-disk artifact while the oracle re-derives
    // the same state from lineage — so artifact corruption or drift
    // from the declared maintenance semantics fails the gate, which
    // is exactly what an fsck is for. Scale: hash joins on vec_id/
    // cell; the argmin fold is corpus x |centroids| with the centroid
    // side a broadcast label-keyed aggregate (the ivfRanked shape).
    Q("emb_index_integrity",
      (s, d) => indexIntegrity(s, d), Some(indexIntegritySql)),

    // RETRAIN DECISION — the procedure that consumes the fsck: a
    // full retrain is expensive (it invalidates every cell assignment
    // and all serving caches), so the scheduler triggers it from two
    // integer-exact health signals of the POST-maintenance index:
    // residual skew (a cell still over the RebalanceNum/RebalanceDen
    // fair-share bound after splitting — splitting alone stopped
    // containing growth) and assignment drift (>= 10% of rows no
    // longer live in their nearest-centroid cell — the 2-seed splits
    // have accumulated enough Voronoi error that probe-based recall
    // is at risk). Emits the signals AND the decision, so the row is
    // the audit log entry a scheduler writes. Same frames as
    // emb_index_integrity / emb_cell_balance — signals can never
    // disagree with the fsck they summarize.
    Q("emb_retrain_decision",
      (s, d) => retrainDecision(s, d), Some(retrainDecisionSql)),

    // PQ CODE-USAGE HEALTH — the codebook diagnostic beside
    // emb_pq_distortion: per subspace, how many codebook entries the
    // corpus actually uses and how concentrated usage is (max_code_n).
    // Dead entries waste quantization bits (the index pays for 2^b
    // codes and uses fewer); a dominant code means the subspace
    // carries almost no signal — both are retrain-the-codebook
    // signals. Two-level integer aggregation: (j, cid) counts then a
    // per-j rollup — PqSub·PqK cells max, one pass over the memoized
    // code table, never the float corpus.
    Q(
      "emb_pq_code_usage",
      (s, d) =>
        pqCodes(s, d)
          .groupBy("j", "cid")
          .agg(count(lit(1)).as("n"))
          .groupBy("j")
          .agg(count(lit(1)).as("n_codes_used"),
            coalesce(sum(col("n")), lit(0L)).cast("long").as("n_rows"),
            coalesce(max(col("n")), lit(0L)).cast("long")
              .as("max_code_n"))
          .orderBy("j"),
      Some(
        s"""WITH $pqCte, u AS (
           |  SELECT j, cid, count(*) AS n FROM codes GROUP BY 1, 2
           |)
           |SELECT CAST(j AS INT) AS j, count(*) AS n_codes_used,
           |  CAST(sum(n) AS BIGINT) AS n_rows,
           |  CAST(max(n) AS BIGINT) AS max_code_n
           |FROM u GROUP BY j ORDER BY j""".stripMargin))
  )


  // ---- scalar-quantization lineage (emb_sq_ann + emb_twostage_rerank)

  /** per-vector max-abs scale + 64 int8 codes; off-contract vectors
    * (ragged or null-element, the LshSig convention) are excluded from
    * the index. Shared by emb_sq_ann and the two-stage re-ranker so the
    * quantizer can never drift between the index and its consumers.
    */
  private[graft] def sqCodes(e: DataFrame): DataFrame =
    e.withColumn("ma",
        when(size(col("embedding")) === 64 &&
          !exists(col("embedding"), x => x.isNull),
          array_max(transform(col("embedding"),
            x => abs(x.cast("double"))))))
      .withColumn("code",
        when(col("ma").isNull, lit(null))
          .when(col("ma") === 0d,
            transform(col("embedding"), _ => lit(0)))
          .otherwise(transform(col("embedding"),
            x => round(x.cast("double") * SqScale / col("ma"), 0)
              .cast("int"))))
      .filter(col("code").isNotNull)
      .select(col("vec_id"), col("ma"), col("code"))

  /** integer code dot of every non-query vector against the broadcast
    * query row, reconstructed to approx_dot by two scale multiplies —
    * exact-integer ranking arithmetic, fixed-order IEEE reconstruction.
    * The corpus side quantizes AND dots in one codegen'd pass (SqQDot /
    * SqMaxAbs kernels — no code array ever materializes); only the
    * 1-row query side still quantizes through the column-form
    * [[sqCodes]], whose per-element semantics the kernels replicate
    * bit-for-bit (VectorKernelsSpec pins the equality; the earlier
    * transform+zip_with+aggregate chain evaluated interpreted and cost
    * ~2.5 s/query at sf0.1, BENCH_r06).
    */
  private def sqApproxDots(e: DataFrame): DataFrame = {
    // vec_id pre-filter INSIDE the quantizer lineage: CombineFilters
    // keeps child conjuncts first, so the one-row cut runs before the
    // interpreted HOF quantizer CASE. The previous post-filter order
    // evaluated that chain on EVERY corpus row of the build-side scan —
    // measured 18 s of a 19 s query at a 60k-vector probe, invisible at
    // 2k vectors.
    val qrow = broadcast(sqCodes(e.filter(col("vec_id") === 0))
      .select(col("code").as("qcode"), col("ma").as("qma")))
    // The off-contract exclusion filters on SqMaxAbs of the CORPUS side
    // only — the equivalent set (SqQDot is NULL exactly when the
    // corpus-side maxAbs is, since the broadcast qcode is always the
    // valid 64-int row or absent). A filter on qdot itself references
    // BOTH join sides, and Catalyst then plants it as the
    // BroadcastNestedLoopJoin CONDITION — evaluated interpreted per row
    // and recomputed again in the projection: measured 21 s vs ~2 s at
    // a 60k-vector probe. Left-side-only, it pushes to the scan and
    // stays codegen'd.
    e.filter(col("vec_id") =!= 0 &&
        graft.functions.SqMaxAbs.column(col("embedding")).isNotNull)
      .crossJoin(qrow)
      .select(col("vec_id"),
        graft.functions.SqMaxAbs.column(col("embedding")).as("ma"),
        col("qma"),
        graft.functions.SqQDot.column(col("embedding"), col("qcode"))
          .as("qdot"))
      .select(col("vec_id"), col("qdot"),
        round(col("qdot").cast("double") * col("ma") * col("qma") /
          lit((SqScale * SqScale).toDouble), 6).as("approx_dot"))
  }

  /** DuckDB twin of [[sqCodes]]: b (scale) + c (codes) + q (query row)
    * CTE bodies, composable after a WITH
    */
  private def sqCodesCte: String =
    s"""b AS (
       |  SELECT vec_id, embedding,
       |    CASE WHEN len(embedding) = 64
       |          AND len(list_filter(embedding, x -> x IS NULL)) = 0
       |         THEN list_max(list_transform(embedding,
       |                x -> abs(CAST(x AS DOUBLE))))
       |    END AS ma
       |  FROM embeddings
       |), c AS (
       |  SELECT vec_id, ma,
       |    CASE WHEN ma IS NULL THEN NULL
       |         WHEN ma = 0 THEN list_transform(embedding, x -> 0)
       |         ELSE list_transform(embedding,
       |           x -> CAST(round(CAST(x AS DOUBLE) * $SqScale / ma)
       |                  AS INT))
       |    END AS code
       |  FROM b WHERE ma IS NOT NULL
       |), q AS (SELECT code AS qcode, ma AS qma FROM c WHERE vec_id = 0)""".stripMargin

  /** DuckDB twin of [[sqApproxDots]] — a complete SELECT over c/q,
    * nestable as a parenthesized subquery
    */
  private def sqDotsSql: String =
    s"""SELECT vec_id, qdot,
       |  round(CAST(qdot AS DOUBLE) * ma * qma / ${SqScale * SqScale}.0, 6)
       |    AS approx_dot
       |FROM (
       |  SELECT c.vec_id, c.ma, q.qma,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> CAST(c.code[i] AS BIGINT) * q.qcode[i])) AS BIGINT)
       |      AS qdot
       |  FROM c CROSS JOIN q WHERE c.vec_id <> 0
       |)""".stripMargin

  // ---- product-quantization lineage (emb_pq_ann) ---------------------

  /** one row per (vector, subspace): the 8-dim subvector */
  private def pqSubspaces(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      posexplode(array((0 until PqSub).map(j =>
        slice(col("embedding"), j * PqDim + 1, PqDim)): _*)).as(Seq("j", "sv")))

  /** trained PQ codebook (j, cid, cvec): deterministic seed (first PqK
    * vectors' subvectors, rounded) + one Lloyd round of ulp-immune grid
    * means. Memoized + persisted (PqSub x PqK tiny rows) and SHARED by
    * emb_pq_ann and emb_ivfpq_ann, so the index the IVF+PQ serving
    * query probes is byte-identical to the one the PQ query measures.
    */
  private def pqCodebook(s: SparkSession, d: String): DataFrame =
    graft.CacheRegistry.memo("emb_pq_codebook", s, d)(
      graft.CacheRegistry.track(s, {
        val sub = pqSubspaces(emb(s, d).select("vec_id", "embedding"))
        val c0 = sub.filter(col("vec_id") < PqK)
          .select(col("j"), col("vec_id").cast("int").as("cid"),
            transform(col("sv"), v => round(v.cast("double"), 6)).as("cvec"))
        pqArgmin(sub, c0).select(col("j"), col("cid"), col("sv"))
          .select(col("j"), col("cid"),
            posexplode(col("sv")).as(Seq("dim", "v")))
          .withColumn("vi", snap6(col("v")))
          .groupBy("j", "cid", "dim")
          .agg(expr(mean6Expr("vi")).as("cv"))
          .groupBy("j", "cid")
          .agg(transform(
            array_sort(collect_list(struct(col("dim"), col("cv")))),
            x => x.getField("cv")).as("cvec"))
      }))

  /** PQ code table (vec_id, j, cid) — the ONLY thing a PQ search scan
    * reads (~1/32 the float corpus); memoized + persisted, shared by
    * emb_pq_ann and emb_ivfpq_ann.
    */
  private def pqCodes(s: SparkSession, d: String): DataFrame =
    graft.CacheRegistry.memo("emb_pq_codes", s, d)(
      graft.CacheRegistry.track(s,
        pqArgmin(pqSubspaces(emb(s, d).select("vec_id", "embedding")),
          pqCodebook(s, d))
          .select(col("vec_id"), col("j"), col("cid"))))

  /** Materialize the shared memoized PQ lineage (codebook + code table)
    * outside any single query's timer — same contract as
    * DedupQueries.warmShared: emb_pq_ann, emb_ivfpq_ann and
    * emb_ivfpq_recall all consume these persisted frames, and without
    * the warm whichever runs first alphabetically absorbs the one-time
    * codebook train + corpus encode. Bench calls this in its warm phase
    * and reports the time in shared_warm_sec; Verify does not.
    */
  def warmShared(s: SparkSession, dir: String): Unit = {
    // r14: independent build chains run CONCURRENTLY (guide §2.6; the
    // DedupQueries.warmShared rationale). The side-effecting on-disk
    // index chain stays strictly sequential inside ONE chain (its
    // builders rewrite directories the next one copies); cross-chain
    // memo races are plan-level only and the side-effecting builders
    // additionally hold their memoExactlyOnce per-key locks.
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    graft.Par.run(Seq(
      () => {
        noop(pqCodes(s, dir))
        // the on-disk IVF+PQ index (emb_ivfpq_served): an offline build
        // in production, so its one-time write is shared-warm cost, not
        // the serving read's
        noop(servedCodes(s, dir))
        // the pre-batch base index of the upsert scenario — likewise an
        // offline artifact; emb_ivfpq_upsert's own timer covers only the
        // upsert it performs on top of this state
        noop(upsertBase(s, dir))
        // the delete scenario's working copy of the served index —
        // emb_ivfpq_delete's own timer covers the tombstone compaction
        // it performs on top of this state (first touch; later
        // iterations serve reads — see the Bench first-iteration note
        // in SCALE.md). Forced WITHOUT a noop scan of the returned
        // frame: if the compaction already ran this session (a
        // plan-guard suite walking every query triggers it), the
        // frame's file listing is stale by design — the dir was
        // rewritten — and scanning it would chase deleted part files
        deleteBase(s, dir)
        // the rebalance scenario's working copy — same contract as
        // deleteBase: plain call, no noop scan (a prior rebalance this
        // session rewrote the dir, making the memoized listing stale by
        // design)
        rebalanceBase(s, dir)
        ()
      },
      () => {
        // the shared GramAgg second-moment pass (emb_covariance_topk +
        // emb_pca_power_iteration) — without this, whichever consumer
        // runs first alphabetically absorbs the one corpus fold
        gramBuffer(s, dir)
        // the narrow assignment slice the IVF compositions share
        // (emb_range_search / emb_maxsim_ivf / emb_maxsim_recall)
        noop(ivfAssign(s, dir))
        ()
      },
      () => {
        // the four ANN channel top-5s — each a 5-row frame over a
        // corpus scan, consumed by its own serving query plus the three
        // eval queries (recall / nDCG / RRF quality)
        noop(exactTop5(s, dir))
        noop(ivfTop5(s, dir))
        noop(ivfpqTop5(s, dir))
        noop(lshTop5(s, dir))
      },
      () => {
        // the per-label operating-point decision tables (r13): each is
        // the bounded side table a production serving tier stages
        // offline and two queries consume (repair derives it, serving
        // reads it) — the labelRepairFrames/labelBudgetFrames memos.
        // Un-warmed, the alphabetically-first consumer of each pair
        // absorbed the candidate scan + exact-truth pass the pair
        // shares. Sequential within the chain: the two share the
        // candidate-scan/exact-truth lineage.
        val (_, rec, chosen, _) = labelRepairFrames(s, dir)
        noop(rec)
        noop(chosen)
        val (_, scored, rec2, chosen2, _) = labelBudgetFrames(s, dir)
        noop(scored)
        noop(rec2)
        noop(chosen2)
      }))
    ()
  }

  /** The exact integer second-moment buffer over the strict 64-dim
    * corpus — ONE GramAgg pass (n, per-dim sums s, upper-triangle
    * products p, diagonal squares q), memoized + persisted per
    * (session, dir) and shared by emb_covariance_topk and
    * emb_pca_power_iteration so the covariance both read can never
    * drift. The 1-row frame is the persisted unit; consumers collect it
    * (a post-aggregation scalar, the cms/freq-items precedent).
    */
  private def gramBuffer(s: SparkSession, d: String)
      : org.apache.spark.sql.Row = {
    val df = graft.CacheRegistry.memo("emb_gram", s, d) {
      val gram = udaf(new graft.functions.GramAgg(),
        ExpressionEncoder[Array[Double]]())
      // float -> double widening is lossless per element, and a
      // double-element testdata regen makes the cast a no-op
      graft.CacheRegistry.track(s,
        emb(s, d)
          .filter(size(col("embedding")) === 64 &&
            !exists(col("embedding"), x => x.isNull))
          .select("embedding")
          .agg(gram(col("embedding").cast("array<double>")).as("g")))
    }
    df.collect()(0).getAs[org.apache.spark.sql.Row]("g")
  }

  /** on-disk IVF+PQ serving index location per (JVM, input dir) — the
    * pid component keeps concurrent JVMs from racing overwrite-vs-read
    * on a shared /tmp path (the FormatQueries.scratch convention); the
    * dir is deleted at JVM exit
    */
  private[graft] def indexPath(dir: String): String = {
    val h = java.lang.Integer.toHexString(dir.hashCode & 0x7fffffff)
    val pid = ProcessHandle.current().pid()
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_ivfpq_${pid}_$h").toString
  }

  /** The PERSISTED IVF+PQ serving index, written once per (session,
    * dir): `centroids/` is the coarse codebook (c_label, cvec — the
    * exact ivfCentroids frame), `codes/` is one row per vector with its
    * PqSub packed codes, hive-PARTITIONED BY CELL so a probe reads only
    * the probed cells' directories (file pruning, not a data filter).
    * This is the layout story emb_ivfpq_ann's in-memory composition
    * implies: at 100 TB the code table is ~1/32 the corpus and a
    * 2-of-kk-cell probe lists ~2/kk of its files — the rest of the
    * index is never opened. Returns the codes reader; memoized so the
    * build cost is paid once (Bench charges it to shared_warm_sec).
    */
  private def servedCodes(s: SparkSession, d: String): DataFrame =
    graft.CacheRegistry.memoExactlyOnce("emb_served_index", s, d) {
      val path = indexPath(d)
      // the pid in the name means no later JVM reads it: delete it when
      // this one exits
      sys.addShutdownHook(
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path)))
      ivfCentroids(s, d).write.mode("overwrite")
        .parquet(s"$path/centroids")
      // the trained PQ codebook persists beside the index so the served
      // layout is SELF-CONTAINED — an online-retrieval process (the
      // streaming ANN server, AnnServing) opens centroids/ + codebook/
      // + codes/ and needs none of this session's memoized state
      pqCodebook(s, d).write.mode("overwrite")
        .parquet(s"$path/codebook")
      // the 1-bit sign-bitmap channel's signature table (16 bytes per
      // vector) — the artifact that makes emb_bq_served's first stage
      // a float-free scan, the claim the bq channel makes at 100 TB
      bqSigs(emb(s, d)).write.mode("overwrite")
        .parquet(s"$path/bitsig")
      // the int8-SQ channel's code table (scale + 64 codes per vector,
      // 16x less scan bandwidth than float32) — emb_sq_served's
      // float-free scan; emb_sq_ann keeps the fused in-scan twin
      sqCodes(emb(s, d)).write.mode("overwrite")
        .parquet(s"$path/sq")
      val cells = ivfRanked(s, d).filter(col("rn") === 1)
        .select(col("vec_id"), col("c_label").as("cell"))
      pqCodes(s, d)
        .groupBy("vec_id")
        // sorted by j (struct ordering), so codes[j] is subspace j's code
        .agg(transform(
          array_sort(collect_list(struct(col("j"), col("cid")))),
          x => x.getField("cid")).as("codes"))
        .join(cells, "vec_id")
        // ATTRIBUTE INLINING: the filterable metadata column rides in
        // the code rows (the production layout for filtered vector
        // search — FAISS/Vespa-style attribute-beside-code), so a
        // metadata predicate is a pushed data filter INSIDE the
        // directory-pruned code scan, never a join against a
        // corpus-sized attribute table (emb_ivfpq_filtered reads it)
        .join(emb(s, d).select(col("vec_id"), col("label")), "vec_id")
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$path/codes")
      s.read.parquet(s"$path/codes")
    }

  /** Force the served index (centroids/ + codebook/ + codes/) onto disk
    * and return its directory — the entry point the streaming ANN
    * server ([[graft.streaming.AnnServing]]) opens. Exactly-once per
    * (session, dir) like every index build.
    */
  private[graft] def ensureServedIndex(s: SparkSession, d: String): String = {
    servedCodes(s, d)
    indexPath(d)
  }

  /** The filtered serving read (emb_ivfpq_filtered / _miss): identical
    * to emb_ivfpq_served's four steps — probe, pruned code scan, ADC
    * shortlist, exact rerank — with the metadata predicate
    * `label = lbl` applied to the code rows INSIDE the pruned scan,
    * BEFORE the shortN cut. The label column is read from the code
    * rows themselves (attribute inlining — servedCodes writes it), so
    * the plan is scan(PartitionFilters: cell IN probed,
    * PushedFilters: label = lbl) with no attribute join.
    */
  private def filteredServed(
      s: SparkSession, d: String, lbl: Int): DataFrame =
    filteredServedBy(s, d, col("label") === lbl)

  /** predicate-generic form of the filtered serving read — the
    * adaptive op routes arbitrary metadata predicates here (they
    * evaluate over the code rows: label is inlined, vec_id is the key)
    */
  private def filteredServedBy(
      s: SparkSession, d: String, pred: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val codes = servedCodes(s, d)
    val cent = s.read.parquet(s"${indexPath(d)}/centroids")
    val e = emb(s, d)
    val qv = broadcast(e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv")))
    // probe is UNfiltered by design: cells are geometry, the predicate
    // is metadata — filtering cells would skip regions whose qualifying
    // rows live behind non-qualifying neighbors
    val probed = cent.crossJoin(qv)
      .select(col("c_label"),
        graft.functions.VecL2Sq.column(col("qv"), col("cvec"))
          .as("d2"))
      .orderBy(col("d2").asc_nulls_last, col("c_label"))
      .limit(2)
      .collect().map(_.getInt(0))
    val short = codes
      .filter(col("cell").isin(probed.map(Int.box): _*) &&
        col("vec_id") =!= 0 && pred)
      .select(col("vec_id"),
        posexplode(col("codes")).as(Seq("j", "cid")))
      .join(broadcast(pqAdc(s, d)), Seq("j", "cid"))
      .groupBy("vec_id")
      .agg(sum(col("pd").cast(DecimalType(18, 6))).cast("double")
        .as("pq_d2"))
      .orderBy(col("pq_d2"), col("vec_id"))
      .limit(IvfPqShortN)
    e.join(broadcast(short), "vec_id")
      .crossJoin(qv)
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("qv")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(5)
  }

  /** DuckDB twin of [[filteredServed]] — complete WITH...SELECT,
    * nestable as a parenthesized subquery (emb_ivfpq_filtered_recall
    * does). The oracle joins embeddings for the label (it has no
    * served layout); the engine reads the inlined column.
    */
  private def filteredSql(lbl: Int): String =
    s"""WITH $ivfCellsCte, $pqCte, qcells AS (
       |  SELECT label AS cell FROM ranked WHERE vec_id = 0 AND rn <= 2
       |), qv AS (
       |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
       |), shortl AS (
       |  SELECT k.vec_id,
       |    CAST(sum(CAST(a.pd AS DECIMAL(18,6))) AS DOUBLE) AS pq_d2
       |  FROM codes k
       |  JOIN cells cl ON cl.vec_id = k.vec_id
       |  JOIN qcells qc ON qc.cell = cl.cell
       |  JOIN embeddings m ON m.vec_id = k.vec_id
       |  JOIN adc a ON a.j = k.j AND a.cid = k.cid
       |  WHERE k.vec_id <> 0 AND m.label = $lbl
       |  GROUP BY k.vec_id
       |  ORDER BY pq_d2, k.vec_id LIMIT $IvfPqShortN
       |)
       |SELECT e.vec_id, e.label,
       |  round(${cosSql("e.embedding", "qv.qv")}, 6) AS sim
       |FROM embeddings e
       |JOIN shortl sl ON sl.vec_id = e.vec_id
       |CROSS JOIN qv
       |ORDER BY sim DESC, e.vec_id LIMIT 5""".stripMargin

  /** The adaptive filtered search (emb_filtered_adaptive) — see the Q
    * scaladoc. The two .count() calls per scenario are plan-time
    * statistics gathering (the bounded-driver-action convention of the
    * probed-cell collect); the chosen arm is then a single declarative
    * plan. Arms share the exact ordering/rounding contracts of their
    * standalone queries (exact = emb_ivfpq_filtered_recall's ground-
    * truth arm, pruned = filteredServedBy).
    */
  private def filteredAdaptive(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val n = e.filter(col("vec_id") =!= 0).count()
    val qv = broadcast(e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv")))
    def exactArm(pred: Column): DataFrame =
      e.filter(col("vec_id") =!= 0 && pred)
        .crossJoin(qv)
        .select(col("vec_id"),
          round(cosine(col("embedding"), col("qv")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(5)
    val scenarios = Seq(
      ("broad", col("label") === FilteredLabel),
      ("rare",
        col("label") === FilteredLabel && col("vec_id") % 7 === 0))
    scenarios.map { case (nm, pred) =>
      val nMatch = e.filter(col("vec_id") =!= 0 && pred).count()
      val (strategy, arm) =
        if (nMatch * 20 <= n) ("exact_prefilter", exactArm(pred))
        else ("pruned_scan",
          filteredServedBy(s, d, pred).select("vec_id", "sim"))
      arm.select(lit(nm).as("scenario"), lit(strategy).as("strategy"),
        col("vec_id"), col("sim"))
    }.reduce(_ unionByName _)
      .orderBy(col("scenario"), col("sim").desc, col("vec_id"))
  }

  /** DuckDB twin of [[filteredAdaptive]]: all four arms are expressed,
    * the pick CTE re-derives the same integer crossover decision, and
    * the join keeps only the chosen arm per scenario — the oracle
    * COMPUTES the decision, never assumes it.
    */
  private def filteredAdaptiveSql: String = {
    // scenario predicates as STRUCTURED data rendered per table alias —
    // a naive post-hoc token replace ("label" -> "m.label") would
    // silently corrupt any future predicate containing those tokens in
    // other contexts (e.g. a column named relabel)
    def rareSqlAt(q: String): String =
      s"${q}label = $FilteredLabel AND ${q}vec_id % 7 = 0"
    def broadSqlAt(q: String): String = s"${q}label = $FilteredLabel"
    val rareSql = rareSqlAt("")
    val broadSql = broadSqlAt("")
    def exArm(pred: String): String =
      s"""SELECT vec_id, sim FROM (
         |    SELECT vec_id, ${cosSql("embedding", "qv.qv")} AS sim
         |    FROM embeddings, qv
         |    WHERE vec_id <> 0 AND $pred
         |    ORDER BY sim DESC, vec_id LIMIT 5) x""".stripMargin
    def shArm(pred: String): String =
      s"""SELECT k.vec_id,
         |    CAST(sum(CAST(a.pd AS DECIMAL(18,6))) AS DOUBLE) AS pq_d2
         |  FROM codes k
         |  JOIN cells cl ON cl.vec_id = k.vec_id
         |  JOIN qcells qc ON qc.cell = cl.cell
         |  JOIN embeddings m ON m.vec_id = k.vec_id
         |  JOIN adc a ON a.j = k.j AND a.cid = k.cid
         |  WHERE k.vec_id <> 0 AND $pred
         |  GROUP BY k.vec_id
         |  ORDER BY pq_d2, k.vec_id LIMIT $IvfPqShortN""".stripMargin
    def prArm(sh: String): String =
      s"""SELECT e.vec_id,
         |    round(${cosSql("e.embedding", "qv.qv")}, 6) AS sim
         |  FROM embeddings e
         |  JOIN $sh sl ON sl.vec_id = e.vec_id
         |  CROSS JOIN qv
         |  ORDER BY sim DESC, e.vec_id LIMIT 5""".stripMargin
    s"""WITH $ivfCellsCte, $pqCte, qcells AS (
       |  SELECT label AS cell FROM ranked WHERE vec_id = 0 AND rn <= 2
       |), qv AS (
       |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
       |), stat AS (
       |  SELECT
       |    (SELECT count(*) FROM embeddings WHERE vec_id <> 0) AS n,
       |    (SELECT count(*) FROM embeddings
       |      WHERE vec_id <> 0 AND $broadSql) AS nm_broad,
       |    (SELECT count(*) FROM embeddings
       |      WHERE vec_id <> 0 AND $rareSql) AS nm_rare
       |), ex_broad AS (
       |  ${exArm(broadSql)}
       |), ex_rare AS (
       |  ${exArm(rareSql)}
       |), sh_broad AS (
       |  ${shArm(broadSqlAt("m."))}
       |), pr_broad AS (
       |  ${prArm("sh_broad")}
       |), sh_rare AS (
       |  ${shArm(rareSqlAt("m."))}
       |), pr_rare AS (
       |  ${prArm("sh_rare")}
       |), pick AS (
       |  SELECT 'broad' AS scenario, CASE WHEN nm_broad * 20 <= n
       |    THEN 'exact_prefilter' ELSE 'pruned_scan' END AS strategy
       |  FROM stat
       |  UNION ALL
       |  SELECT 'rare', CASE WHEN nm_rare * 20 <= n
       |    THEN 'exact_prefilter' ELSE 'pruned_scan' END
       |  FROM stat
       |), arms AS (
       |  SELECT 'broad' AS scenario, 'exact_prefilter' AS strategy,
       |    vec_id, sim FROM ex_broad
       |  UNION ALL
       |  SELECT 'broad', 'pruned_scan', vec_id, sim FROM pr_broad
       |  UNION ALL
       |  SELECT 'rare', 'exact_prefilter', vec_id, sim FROM ex_rare
       |  UNION ALL
       |  SELECT 'rare', 'pruned_scan', vec_id, sim FROM pr_rare
       |)
       |SELECT a.scenario, a.strategy, a.vec_id, a.sim
       |FROM arms a JOIN pick p USING (scenario, strategy)
       |ORDER BY scenario, sim DESC, vec_id""".stripMargin
  }

  /** The index fsck (emb_index_integrity) — see the Q scaladoc. The
    * centroid side of the argmin is re-keyed through a label-keyed
    * first() aggregate: it broadcasts as a provably bounded frame (the
    * suite's BNLJ convention) AND enforces key uniqueness — the
    * duplicate check measures the raw artifact separately.
    */
  /** nearest-centroid re-assignment of every rebalanced-index row
    * (rn = 1 of the row x centroid argmin, NULLS LAST + label
    * tiebreak) — shared by the fsck and the retrain decision
    */
  private def rebalancedNear(s: SparkSession, d: String): DataFrame =
    nearestAssign(s, d, rebalanceApplied(s, d).select("vec_id", "cell"),
      s"${indexPath(d)}/centroids_reb")

  /** Nearest-centroid assignment of `cells` (vec_id, cell = stored)
    * against the centroid artifact at `centPath`: rn = 1 of the
    * row x centroid argmin (NULLS LAST + label tiebreak — pqArgmin's
    * convention). The centroid side re-keys through a label-keyed
    * first() aggregate: provably bounded for the BNLJ guard AND
    * key-unique. Shared by the fsck, the retrain decision
    * ([[rebalancedNear]]) and the retrain epoch's E-step / post-check.
    */
  private def nearestAssign(
      s: SparkSession, d: String,
      cells: DataFrame, centPath: String): DataFrame = {
    val cent = s.read.parquet(centPath)
      .select(col("c_label").as("label"), col("cvec"))
      .groupBy("label").agg(first(col("cvec")).as("cvec"))
    val e = emb(s, d).select(col("vec_id"), col("embedding"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("d2").asc_nulls_last, col("label"))
    cells.join(e, Seq("vec_id"))
      .crossJoin(broadcast(cent))
      .withColumn("d2",
        graft.functions.VecL2Sq.column(col("embedding"), col("cvec")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
  }

  /** the [[rebalancedNear]] DuckDB twin, composed over cells2/cent2 of
    * [[rebalanceServeCte]] — shared by the fsck and retrain oracles
    */
  private def rebalancedNpCte: String =
    s"""np AS (
       |  SELECT c2.vec_id, c2.cell AS stored, ct.label,
       |    row_number() OVER (PARTITION BY c2.vec_id
       |      ORDER BY ${l2Sql("e.embedding", "ct.cvec")} NULLS LAST,
       |        ct.label) AS rn
       |  FROM cells2 c2 JOIN embeddings e USING (vec_id)
       |  CROSS JOIN cent2 ct
       |)""".stripMargin

  private def indexIntegrity(s: SparkSession, d: String): DataFrame = {
    val codes = rebalanceApplied(s, d).select("vec_id", "cell")
    val centRaw = s.read.parquet(s"${indexPath(d)}/centroids_reb")
    val cent = centRaw
      .select(col("c_label").as("label"), col("cvec"))
      .groupBy("label").agg(first(col("cvec")).as("cvec"))
    val e = emb(s, d).select(col("vec_id"), col("embedding"))
    // ONE full-outer pass per key space instead of paired anti joins,
    // and one stacked row set instead of a 6-branch union (r13): the
    // former shape re-read codes/centroids per check and paid ~45
    // stages for six 1-row aggregates. vec_id is unique on both sides
    // and label/cell are pre-distinct, so the outer-join null counts
    // ARE the anti-join counts.
    val vecChecks = codes.select(col("vec_id"), lit(1).as("in_c"))
      .join(e.select(col("vec_id"), lit(1).as("in_e")),
        Seq("vec_id"), "full_outer")
      .agg(coalesce(sum(when(col("in_e").isNull, 1L)), lit(0L))
        .cast("long").as("dangling"),
        coalesce(sum(when(col("in_c").isNull, 1L)), lit(0L))
          .cast("long").as("unindexed"))
    val cellChecks = codes.select(col("cell")).distinct()
      .select(col("cell"), lit(1).as("in_codes"))
      .join(cent.select(col("label").as("cell"), lit(1).as("in_cent")),
        Seq("cell"), "full_outer")
      .agg(coalesce(sum(when(col("in_cent").isNull, 1L)), lit(0L))
        .cast("long").as("missing"),
        coalesce(sum(when(col("in_codes").isNull, 1L)), lit(0L))
          .cast("long").as("empty"))
    val dup = centRaw
      .agg((count(lit(1)) - countDistinct(col("c_label"))).cast("long")
        .as("dup"))
    val misplaced = rebalancedNear(s, d)
      .filter(col("label") =!= col("cell"))
      .agg(count(lit(1)).cast("long").as("misplaced"))
    vecChecks.crossJoin(broadcast(cellChecks))
      .crossJoin(broadcast(dup))
      .crossJoin(broadcast(misplaced))
      .selectExpr(
        """stack(6,
          |  'dangling_codes', dangling,
          |  'duplicate_centroid_labels', dup,
          |  'empty_centroids', empty,
          |  'misplaced_rows', misplaced,
          |  'missing_cell_centroids', missing,
          |  'unindexed_vectors', unindexed)
          |AS (check_name, n)""".stripMargin)
      .orderBy("check_name")
  }

  /** DuckDB twin of [[indexIntegrity]] — re-derives the rebalanced
    * state from lineage (cells2/cent2 of [[rebalanceServeCte]]) and
    * runs the same six checks, same NULLS-LAST + label-tiebreak argmin.
    */
  private def indexIntegritySql: String =
    s"""WITH $ivfCellsCte, $pqCte, $rebalanceServeCte, cc AS (
       |  SELECT DISTINCT cell FROM cells2
       |), $rebalancedNpCte
       |SELECT check_name, n FROM (
       |  SELECT 'dangling_codes' AS check_name, CAST((
       |    SELECT count(*) FROM cells2 c LEFT JOIN embeddings e
       |    USING (vec_id) WHERE e.vec_id IS NULL) AS BIGINT) AS n
       |  UNION ALL
       |  SELECT 'unindexed_vectors', CAST((
       |    SELECT count(*) FROM embeddings e LEFT JOIN cells2 c
       |    USING (vec_id) WHERE c.vec_id IS NULL) AS BIGINT)
       |  UNION ALL
       |  SELECT 'duplicate_centroid_labels', CAST((
       |    SELECT count(*) - count(DISTINCT label) FROM cent2)
       |    AS BIGINT)
       |  UNION ALL
       |  SELECT 'missing_cell_centroids', CAST((
       |    SELECT count(*) FROM cc LEFT JOIN cent2 ct
       |    ON ct.label = cc.cell WHERE ct.label IS NULL) AS BIGINT)
       |  UNION ALL
       |  SELECT 'empty_centroids', CAST((
       |    SELECT count(*) FROM cent2 ct LEFT JOIN cc
       |    ON cc.cell = ct.label WHERE cc.cell IS NULL) AS BIGINT)
       |  UNION ALL
       |  SELECT 'misplaced_rows', CAST((
       |    SELECT count(*) FROM np
       |    WHERE rn = 1 AND label <> stored) AS BIGINT)
       |) ORDER BY check_name""".stripMargin

  /** The retrain decision (emb_retrain_decision) — see the Q scaladoc.
    * Both thresholds are integer cross-multiplications; the empty
    * index never demands a retrain (n_rows > 0 guards the drift rate).
    */
  private def retrainDecision(s: SparkSession, d: String): DataFrame = {
    val codes = rebalanceApplied(s, d).select("vec_id", "cell")
    val st = codes.groupBy("cell").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).cast("long").as("n_cells"),
        coalesce(sum(col("n")), lit(0L)).cast("long").as("n_rows"),
        coalesce(max(col("n")), lit(0L)).cast("long").as("max_cell_n"))
    val mis = rebalancedNear(s, d)
      .filter(col("label") =!= col("cell"))
      .agg(count(lit(1)).cast("long").as("n_misplaced"))
    val skew = lit(RebalanceDen) * col("max_cell_n") * col("n_cells") >
      lit(RebalanceNum) * col("n_rows")
    val drift = col("n_rows") > 0 &&
      col("n_misplaced") * 10 >= col("n_rows")
    st.crossJoin(broadcast(mis))
      .select(col("n_rows"), col("n_cells"), col("max_cell_n"),
        col("n_misplaced"),
        skew.as("skew_over_threshold"),
        drift.as("drift_over_threshold"),
        (skew || drift).as("retrain_due"))
  }

  /** DuckDB twin of [[retrainDecision]] — same lineage-derived
    * cells2/cent2 state, same integer thresholds
    */
  private def retrainDecisionSql: String =
    s"""WITH $ivfCellsCte, $pqCte, $rebalanceServeCte, $rebalancedNpCte,
       |sz AS (SELECT cell, count(*) AS n FROM cells2 GROUP BY 1),
       |st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_cells,
       |    CAST(coalesce(sum(n), 0) AS BIGINT) AS n_rows,
       |    CAST(coalesce(max(n), 0) AS BIGINT) AS max_cell_n
       |  FROM sz
       |), m AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_misplaced FROM np
       |  WHERE rn = 1 AND label <> stored
       |)
       |SELECT n_rows, n_cells, max_cell_n, n_misplaced,
       |  ($RebalanceDen * max_cell_n * n_cells >
       |    $RebalanceNum * n_rows) AS skew_over_threshold,
       |  (n_rows > 0 AND n_misplaced * 10 >= n_rows)
       |    AS drift_over_threshold,
       |  (($RebalanceDen * max_cell_n * n_cells >
       |     $RebalanceNum * n_rows)
       |   OR (n_rows > 0 AND n_misplaced * 10 >= n_rows))
       |    AS retrain_due
       |FROM st CROSS JOIN m""".stripMargin

  /** the "new batch" slice of the upsert scenario (emb_ivfpq_upsert):
    * a deterministic ~10% of the corpus, the dedup_incremental_batch
    * convention of simulating an arriving batch out of the pinned
    * testdata. Excludes vec_id 0 (the query vector is never "new").
    */
  private val upsertBatchPred: Column =
    col("vec_id") % 10 === 3 && col("vec_id") =!= 0

  /** The BASE index of the upsert scenario — the served layout with the
    * batch rows absent, i.e. the index as it stood BEFORE the batch
    * arrived. An offline artifact like servedCodes itself (one write
    * per session+dir, warmed in [[warmShared]]); the upsert query's
    * own cost starts from this on-disk state.
    */
  private def upsertBase(s: SparkSession, d: String): DataFrame =
    graft.CacheRegistry.memoExactlyOnce("emb_upsert_base", s, d) {
      servedCodes(s, d) // centroids + full codes on disk first
      val path = s"${indexPath(d)}/codes_upsert"
      s.read.parquet(s"${indexPath(d)}/codes")
        .filter(!upsertBatchPred)
        .write.mode("overwrite").partitionBy("cell").parquet(path)
      s.read.parquet(path)
    }

  /** Apply the upsert: assign the batch vectors to their nearest
    * EXISTING centroid (centroids are not retrained — the serving-ops
    * contract), encode them with the EXISTING PQ codebook, and APPEND
    * the new code rows to the base index — partitionBy(cell) append
    * writes files only under the cells the batch lands in; untouched
    * cell directories keep their exact base file set
    * (EmbUpsertSpec asserts both). Batch-proportional by construction:
    * the corpus is read once filtered to the batch (at 100 TB the
    * batch arrives as its own table; the filter simulates that), the
    * centroid/codebook sides are broadcast, and nothing corpus-sized
    * recomputes. Because assignment and encoding reuse ivfRanked's
    * exact (d2 NULLS LAST, label) order and pqArgmin, the updated
    * index is row-identical to the full served index — which is what
    * makes the recall re-check oracle-exact.
    */
  private def upsertApplied(s: SparkSession, d: String): DataFrame =
    graft.CacheRegistry.memoExactlyOnce("emb_upsert_applied", s, d) {
      upsertBase(s, d)
      val path = s"${indexPath(d)}/codes_upsert"
      val batch = emb(s, d).filter(upsertBatchPred)
        .select("vec_id", "embedding")
      val cent = broadcast(s.read.parquet(s"${indexPath(d)}/centroids"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("d2").asc_nulls_last, col("c_label"))
      val assign = batch.crossJoin(cent)
        .withColumn("d2",
          graft.functions.VecL2Sq.column(col("embedding"), col("cvec")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("c_label").as("cell"))
      val bcodes = pqArgmin(pqSubspaces(batch), pqCodebook(s, d))
        .select(col("vec_id"), col("j"), col("cid"))
        .groupBy("vec_id")
        .agg(transform(
          array_sort(collect_list(struct(col("j"), col("cid")))),
          x => x.getField("cid")).as("codes"))
      // the batch's metadata column rides along (attribute inlining —
      // see servedCodes), keeping the appended rows schema-identical
      // to the built index
      val blabels = emb(s, d).filter(upsertBatchPred)
        .select(col("vec_id"), col("label"))
      bcodes.join(assign, "vec_id").join(blabels, "vec_id")
        .write.mode("append").partitionBy("cell").parquet(path)
      s.read.parquet(path)
    }

  /** the tombstoned slice of the delete scenario (emb_ivfpq_delete):
    * a deterministic ~10% of the corpus, disjoint by construction from
    * the upsert batch (%10==3) so the two maintenance scenarios never
    * interact. vec_id 0 (the query vector) is never deleted.
    */
  private val deleteTombPred: Column =
    col("vec_id") % 10 === 7 && col("vec_id") =!= 0

  /** The delete scenario's WORKING COPY of the served index
    * (`codes_del/`). The copy exists only so the original `codes/`
    * stays intact for the other serving queries in the same session —
    * a production compactor rewrites the live index in place (or
    * swaps segments); the copy's one-time cost is shared-warm, never
    * the delete query's.
    */
  private def deleteBase(s: SparkSession, d: String): DataFrame =
    graft.CacheRegistry.memoExactlyOnce("emb_delete_base", s, d) {
      servedCodes(s, d)
      val path = s"${indexPath(d)}/codes_del"
      s.read.parquet(s"${indexPath(d)}/codes")
        .write.mode("overwrite").partitionBy("cell").parquet(path)
      s.read.parquet(path)
    }

  /** Apply the delete: tombstone the slice out of the PERSISTED index
    * with partition-local compaction — the inverse of [[upsertApplied]]
    * and the last step of the serving-ops lifecycle (build -> serve ->
    * upsert -> delete/compact). Shape:
    *   1. derive the touched-cell set from the tombstones (bounded by
    *      the number of cells; at 100 TB the tombstones arrive as an id
    *      table joined to the cell map — the predicate simulates that);
    *   2. re-read ONLY the touched cells (the cell IN (...) predicate
    *      is a PartitionFilter — unprobed cell dirs are never listed),
    *      drop tombstoned rows, and rewrite under DYNAMIC partition
    *      overwrite, so untouched cell directories keep their exact
    *      base file set (EmbDeleteSpec asserts the file sets). The
    *      survivor read comes from the pristine `codes/` twin, never
    *      the path being overwritten (self-overwrite is rejected by
    *      the FileSource writer).
    *   3. drop any cell directory whose rows were ALL tombstoned:
    *      dynamic overwrite writes no partition for an empty cell and
    *      would otherwise keep serving the old files — the explicit
    *      dir removal is the compaction step a segment store runs.
    * Batch-proportional: one pruned read of the touched cells, nothing
    * corpus-sized recomputes, untouched cells untouched. Build runs
    * exactly once per (session, dir) — memoExactlyOnce, because the
    * rewrite is a filesystem side effect.
    */
  private def deleteApplied(s: SparkSession, d: String): DataFrame =
    graft.CacheRegistry.memoExactlyOnce("emb_delete_applied", s, d) {
      deleteBase(s, d)
      val path = s"${indexPath(d)}/codes_del"
      val full = s.read.parquet(s"${indexPath(d)}/codes")
      val touched = full.filter(deleteTombPred)
        .select("cell").distinct().collect().map(_.getInt(0))
      if (touched.nonEmpty) {
        val touchedCols = touched.map(Int.box).toSeq
        val survivors = full
          .filter(col("cell").isin(touchedCols: _*) && !deleteTombPred)
        survivors.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("cell").parquet(path)
        val kept = survivors.select("cell").distinct()
          .collect().map(_.getInt(0)).toSet
        val emptied = touched.filterNot(kept)
        if (emptied.nonEmpty) {
          // resolve the FS from the index path's scheme (s3a/hdfs
          // stores), never the default filesystem
          val fs = new org.apache.hadoop.fs.Path(path)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          emptied.foreach { c =>
            fs.delete(new org.apache.hadoop.fs.Path(s"$path/cell=$c"),
              true)
          }
        }
        // the rewrite invalidated every earlier listing of this dir
        // (deleteBase's memoized frame included) — drop the session's
        // FileStatusCache entries so no stale handle chases deleted
        // part files
        s.catalog.refreshByPath(path)
      }
      s.read.parquet(path)
    }

  /** Shared oracle CTE chain of the REBALANCED index's serve: overgrown
    * detection (csz/ct/og), the order-pinned 2-seed split (mx/nid/mem/
    * sa/da/sb/asg), the post-split cell map (cells2) and centroid set
    * (sexpl/scdim/scent/cent2), and the served read over them (qv2/pr/
    * shortl/approx — approx is the top-5). Composes after
    * [[ivfCellsCte]] + [[pqCte]]; consumed by emb_ivfpq_rebalance
    * (plus its accounting CTEs) and emb_ivfpq_published (which serves
    * the published version = the rebalanced artifacts).
    */
  private lazy val rebalanceServeCte: String =
    s"""csz AS (
       |  SELECT cell, count(*) AS n FROM cells GROUP BY 1
       |), ct AS (
       |  SELECT count(*) AS n_cells, CAST(sum(n) AS BIGINT) AS total
       |  FROM csz
       |), og AS (
       |  SELECT cell FROM csz CROSS JOIN ct
       |  WHERE $RebalanceDen * n * n_cells > $RebalanceNum * total
       |), mx AS (SELECT max(label) AS maxl FROM cent),
       |nid AS (
       |  SELECT cell,
       |    maxl + CAST(row_number() OVER (ORDER BY cell) AS INT)
       |      AS new_cell
       |  FROM og CROSS JOIN mx
       |), mem AS (
       |  SELECT c.cell, c.vec_id, e.embedding
       |  FROM cells c JOIN og USING (cell)
       |  JOIN embeddings e ON e.vec_id = c.vec_id
       |), sa AS (SELECT cell, min(vec_id) AS avid FROM mem GROUP BY 1),
       |da AS (
       |  SELECT m.cell, m.vec_id, m.embedding,
       |    ${l2Sql("m.embedding", "av.embedding")} AS d2a
       |  FROM mem m JOIN sa ON sa.cell = m.cell
       |  JOIN embeddings av ON av.vec_id = sa.avid
       |), sb AS (
       |  SELECT cell, vec_id AS bvid FROM (
       |    SELECT cell, vec_id,
       |      row_number() OVER (PARTITION BY cell
       |        ORDER BY d2a DESC NULLS LAST, vec_id) AS rn
       |    FROM da) WHERE rn = 1
       |), asg AS (
       |  SELECT d.vec_id,
       |    CASE WHEN ${l2Sql("d.embedding", "bv.embedding")} < d.d2a
       |      THEN n.new_cell ELSE d.cell END AS cell
       |  FROM da d JOIN sb ON sb.cell = d.cell
       |  JOIN embeddings bv ON bv.vec_id = sb.bvid
       |  JOIN nid n ON n.cell = d.cell
       |), cells2 AS (
       |  SELECT vec_id, cell FROM cells
       |  WHERE cell NOT IN (SELECT cell FROM og)
       |  UNION ALL SELECT vec_id, cell FROM asg
       |), sexpl AS (
       |  SELECT a.cell, CAST(i - 1 AS INT) AS dim,
       |    ${snap6Sql("e.embedding[i]")} AS vi
       |  FROM asg a JOIN embeddings e USING (vec_id)
       |  CROSS JOIN range(1, 65) r(i)
       |), scdim AS (
       |  SELECT cell, dim, ${mean6Sql("vi")} AS cv
       |  FROM sexpl GROUP BY 1, 2
       |), scent AS (
       |  SELECT cell AS label,
       |    list_transform(list_sort(list(struct_pack(dim := dim, cv := cv))), x -> x.cv) AS cvec
       |  FROM scdim GROUP BY cell
       |), cent2 AS (
       |  SELECT label, cvec FROM cent
       |  WHERE label NOT IN (SELECT cell FROM og)
       |  UNION ALL SELECT label, cvec FROM scent
       |), qv2 AS (
       |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
       |), pr AS (
       |  SELECT label AS cell FROM (
       |    SELECT c.label, row_number() OVER (
       |      ORDER BY ${l2Sql("qv2.qv", "c.cvec")} NULLS LAST,
       |        c.label) AS rn
       |    FROM cent2 c CROSS JOIN qv2) WHERE rn <= 2
       |), shortl AS (
       |  SELECT k.vec_id,
       |    CAST(sum(CAST(a.pd AS DECIMAL(18,6))) AS DOUBLE) AS pq_d2
       |  FROM codes k
       |  JOIN cells2 cl ON cl.vec_id = k.vec_id
       |  JOIN pr ON pr.cell = cl.cell
       |  JOIN adc a ON a.j = k.j AND a.cid = k.cid
       |  WHERE k.vec_id <> 0
       |  GROUP BY k.vec_id
       |  ORDER BY pq_d2, k.vec_id LIMIT $IvfPqShortN
       |), approx AS (
       |  SELECT e.vec_id, ${cosSql("e.embedding", "qv2.qv")} AS sim
       |  FROM embeddings e JOIN shortl sl ON sl.vec_id = e.vec_id
       |  CROSS JOIN qv2
       |  ORDER BY sim DESC, e.vec_id LIMIT 5
       |)""".stripMargin

  /** The rebalance scenario's WORKING COPY of the served index
    * (`codes_reb/`) — the deleteBase convention: the copy exists so
    * the original `codes/` stays pristine for the other serving
    * queries; its one-time cost is shared-warm, never the rebalance
    * query's.
    */
  private def rebalanceBase(s: SparkSession, d: String): DataFrame =
    graft.CacheRegistry.memoExactlyOnce("emb_rebalance_base", s, d) {
      servedCodes(s, d)
      val path = s"${indexPath(d)}/codes_reb"
      s.read.parquet(s"${indexPath(d)}/codes")
        .write.mode("overwrite").partitionBy("cell").parquet(path)
      s.read.parquet(path)
    }

  /** Apply the CELL REBALANCE — the maintenance step the serving-ops
    * contract leaves open: sustained upserts never retrain (correct
    * for serving), so cells skew over time; this op splits ONLY the
    * overgrown cells (population > RebalanceNum/RebalanceDen of the
    * fair share, measured off the artifact) and re-derives centroids
    * for ONLY the split memberships. Per overgrown cell C:
    *   1. seed A = C's smallest vec_id; seed B = the member farthest
    *      from A (exact L2², NULLS LAST, smallest-id tie) — the
    *      deterministic 2-seed split a local re-kmeans would start
    *      from, fully order-pinned so the oracle reproduces it;
    *   2. members strictly closer to B move to a NEW cell id
    *      (maxLabel + rank of C); ties and NULL distances stay in C,
    *      so C never empties (seed A stays by construction);
    *   3. the touched rows are rewritten under DYNAMIC partition
    *      overwrite (survivor rows read from the pristine `codes/`
    *      twin, never the path being overwritten) — untouched cell
    *      directories keep their exact file set (EmbRebalanceSpec);
    *   4. centroids_reb = untouched centroid rows + the snap6/mean6
    *      means of each split half's members (ivfCentroids'
    *      arithmetic), so the probe ranks the post-split geometry.
    * PQ codes are cell-independent (one global codebook) — moved rows
    * keep their codes; only the partition column changes. Batch-
    * proportional: one pruned read of the overgrown cells, an
    * id-keyed fetch of their vectors (at 100 TB a point-lookup
    * against the row-keyed store — the rerank convention), nothing
    * corpus-sized. Exactly-once per (session, dir): the rewrite is a
    * filesystem side effect.
    */
  private def rebalanceApplied(s: SparkSession, d: String): DataFrame =
    graft.CacheRegistry.memoExactlyOnce("emb_rebalance_applied", s, d) {
      rebalanceBase(s, d)
      val root = indexPath(d)
      val path = s"$root/codes_reb"
      val centPath = s"$root/centroids_reb"
      // overgrown detection off the artifact (the pristine twin has
      // identical rows): bounded collect — one row per cell
      val full = s.read.parquet(s"$root/codes")
      val szRows = full.groupBy("cell").agg(count(lit(1)).as("n"))
        .collect()
      val nCells = szRows.length.toLong
      val total = szRows.map(_.getLong(1)).sum
      val overgrown = szRows
        .filter(r => RebalanceDen * r.getLong(1) * nCells >
          RebalanceNum * total)
        .map(_.getInt(0)).sorted
      val cent = s.read.parquet(s"$root/centroids")
      if (overgrown.isEmpty) {
        // no cell over threshold: the index is already balanced — the
        // op is a no-op and the post-state equals the pre-state
        cent.write.mode("overwrite").parquet(centPath)
        s.read.parquet(path)
      } else {
        val maxLabel = cent.agg(max(col("c_label")))
          .collect()(0).getInt(0)
        val newId: Map[Int, Int] = overgrown.zipWithIndex
          .map { case (c, i) => c -> (maxLabel + i + 1) }.toMap
        val ogCols = overgrown.map(Int.box).toSeq
        val e = emb(s, d)
        // members of the overgrown cells with their true vectors
        val mem = full.filter(col("cell").isin(ogCols: _*))
          .select(col("vec_id"), col("codes"), col("label"), col("cell"))
          .join(e.select(col("vec_id"), col("embedding").as("mvec")),
            "vec_id")
        val seedAV = mem.groupBy("cell").agg(min(col("vec_id")).as("avid"))
          .join(e.select(col("vec_id").as("avid"),
            col("embedding").as("avec")), "avid")
          .select("cell", "avec")
        val dA = mem.join(broadcast(seedAV), "cell")
          .withColumn("d2a",
            graft.functions.VecL2Sq.column(col("mvec"), col("avec")))
        // seed B: farthest from A — DESC NULLS LAST, smallest-id tie
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
          .persist()
        moved.count()
        // dynamic overwrite: partitions written = the overgrown cells
        // (stay-half) + the new cell ids (split-half); untouched cell
        // dirs keep their exact file set. The write plan reads the
        // pristine codes/ twin — never the path it overwrites.
        moved.select("vec_id", "codes", "label", "cell")
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("cell").parquet(path)
        // re-derived centroids for ONLY the split memberships —
        // ivfCentroids' exact snap6 + integer-mean arithmetic
        val splitCent = moved
          .select(col("cell"),
            posexplode(col("mvec")).as(Seq("dim", "v")))
          .withColumn("vi", snap6(col("v")))
          .groupBy("cell", "dim")
          .agg(expr(mean6Expr("vi")).as("cv"))
          .groupBy("cell")
          .agg(transform(
            array_sort(collect_list(struct(col("dim"), col("cv")))),
            x => x.getField("cv")).as("cvec"))
          .select(col("cell").as("c_label"), col("cvec"))
        cent.filter(!col("c_label").isin(ogCols: _*))
          .unionByName(splitCent)
          .write.mode("overwrite").parquet(centPath)
        moved.unpersist()
        // the rewrite invalidated earlier listings of codes_reb
        s.catalog.refreshByPath(path)
        s.read.parquet(path)
      }
    }

  /** RETRAIN EXECUTION — the act [[retrainDecision]] exists to
    * trigger: one full Lloyd epoch over the CURRENT (post-rebalance)
    * index state, producing the v3 artifact pair the blue/green
    * manifest then publishes.
    *   M-step: every cell's centroid re-derives from its ACTUAL
    *     current membership (snap6 grid + mean6 integer mean —
    *     ivfCentroids' exact arithmetic), written to
    *     `centroids_rt_all`. This differs from the rebalance, which
    *     re-derived only the split halves: after sustained maintenance
    *     the untouched cells' centroids have drifted from their
    *     memberships too, and the epoch re-grounds all of them.
    *   E-step: every indexed row reassigns to its nearest new
    *     centroid ([[nearestAssign]] — NULLS LAST, label tiebreak,
    *     reading the WRITTEN artifact back through the label-keyed
    *     broadcast convention), and the rows land in `codes_rt`
    *     partitioned by their new cell. Rows with NO signal (vector
    *     missing from the embeddings table, or nearest distance NULL)
    *     KEEP their stored cell — the same keep-cell convention the
    *     streaming epoch and applyRebalanceVersioned document, so batch and
    *     streaming epochs can never diverge on degenerate rows. PQ codes ride UNCHANGED: the
    *     codebook is global (cell-independent) and the vector set is
    *     unchanged by rebalance, so re-encoding would reproduce the
    *     same codes byte-for-byte — membership is the only thing an
    *     epoch over an unchanged corpus can move.
    *   Prune: centroids whose cell emptied in the E-step drop from the
    *     final `centroids_rt` (a dead cell would be probe-able but
    *     unreadable — the fsck's empty_centroids smell); pruning
    *     cannot change any assignment, because a pruned centroid was
    *     by definition nobody's nearest.
    * Cost is legitimately CORPUS-PROPORTIONAL — the one index op that
    * is (one membership scan for means + one argmin pass + one
    * partitioned rewrite); at 100 TB this is the scheduled offline
    * epoch, never a serving-path cost. Exactly-once per (session,
    * dir); the v2 artifacts (`codes_reb`/`centroids_reb`) are never
    * opened for write — EmbRetrainSpec asserts them byte-identical
    * across the epoch.
    */
  private def retrainApplied(s: SparkSession, d: String): DataFrame =
    graft.CacheRegistry.memoExactlyOnce("emb_retrain_applied", s, d) {
      rebalanceApplied(s, d)
      val root = indexPath(d)
      val reb = s.read.parquet(s"$root/codes_reb")
      val e = emb(s, d).select(col("vec_id"), col("embedding"))
      // M-step: per-cell means over the CURRENT memberships
      reb.select(col("vec_id"), col("cell"))
        .join(e, Seq("vec_id"))
        .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .withColumn("vi", snap6(col("v")))
        .groupBy("cell", "dim")
        .agg(expr(mean6Expr("vi")).as("cv"))
        .groupBy("cell")
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("cv")))),
          x => x.getField("cv")).as("cvec"))
        .select(col("cell").as("c_label"), col("cvec"))
        .write.mode("overwrite").parquet(s"$root/centroids_rt_all")
      // E-step: reassign every indexed row to its nearest new centroid.
      // KEEP-CELL on no-signal rows (the documented convention of the
      // streaming epoch and applyRebalanceVersioned): an index row
      // whose vector is missing or whose nearest distance is NULL keeps
      // its stored cell — the inner-join form would silently DROP
      // missing-vector rows from codes_rt and send NULL-embedding rows
      // to the min-label centroid via the NULLS-LAST tiebreak.
      val near = nearestAssign(s, d, reb.select(col("vec_id"), col("cell")),
        s"$root/centroids_rt_all")
        .select(col("vec_id"),
          when(col("d2").isNull, lit(null).cast("int"))
            .otherwise(col("label")).as("nlabel"))
      val asg = reb.select(col("vec_id"), col("cell"))
        .join(near, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("nlabel"), col("cell")).as("cell"))
      reb.select(col("vec_id"), col("codes"), col("label"))
        .join(asg, Seq("vec_id"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$root/codes_rt")
      // prune emptied cells from the published centroid table
      val live = s.read.parquet(s"$root/codes_rt")
        .select(col("cell").as("c_label")).distinct()
      s.read.parquet(s"$root/centroids_rt_all")
        .join(live, Seq("c_label"), "left_semi")
        .write.mode("overwrite").parquet(s"$root/centroids_rt")
      s.read.parquet(s"$root/codes_rt")
    }

  /** The IVF+PQ serving read (probe 2 cells -> pruned code scan -> ADC
    * shortlist -> exact rerank, the emb_ivfpq_served shape) over an
    * ARBITRARY (centroids, codes) artifact pair — the epoch-generic
    * form the retrain accounting uses to price recall@5 on BOTH sides
    * of the epoch with identical machinery.
    */
  private def servedTop5At(
      s: SparkSession, d: String,
      cent: DataFrame, codes: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = emb(s, d)
    val qv = broadcast(e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv")))
    val probed = cent.crossJoin(qv)
      .select(col("c_label"),
        graft.functions.VecL2Sq.column(col("qv"), col("cvec")).as("d2"))
      .orderBy(col("d2").asc_nulls_last, col("c_label"))
      .limit(2)
      .collect().map(_.getInt(0))
    val short = codes
      .filter(col("cell").isin(probed.map(Int.box): _*) &&
        col("vec_id") =!= 0)
      .select(col("vec_id"),
        posexplode(col("codes")).as(Seq("j", "cid")))
      .join(broadcast(pqAdc(s, d)), Seq("j", "cid"))
      .groupBy("vec_id")
      .agg(sum(col("pd").cast(DecimalType(18, 6))).cast("double")
        .as("pq_d2"))
      .orderBy(col("pq_d2"), col("vec_id"))
      .limit(IvfPqShortN)
    e.join(broadcast(short), "vec_id")
      .crossJoin(qv)
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("qv")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(5)
  }

  /** DuckDB twin of the retrain epoch, composed OVER
    * [[rebalanceServeCte]]'s cells2/cent2 state: cent3a = M-step means
    * of the current memberships, np3/cells3 = E-step argmin
    * reassignment, cent3 = the pruned published centroid table, and
    * pr3/shortl3/approx3 = the serving read over the retrained index
    * (the [[rebalanceServeCte]] approx shape, one epoch later).
    */
  private lazy val retrainCte: String =
    s"""r3expl AS (
       |  SELECT c2.cell, CAST(i - 1 AS INT) AS dim,
       |    ${snap6Sql("e.embedding[i]")} AS vi
       |  FROM cells2 c2 JOIN embeddings e USING (vec_id)
       |  CROSS JOIN range(1, 65) r(i)
       |), r3dim AS (
       |  SELECT cell, dim, ${mean6Sql("vi")} AS cv
       |  FROM r3expl GROUP BY 1, 2
       |), cent3a AS (
       |  SELECT cell AS label,
       |    list_transform(list_sort(list(struct_pack(dim := dim, cv := cv))), x -> x.cv) AS cvec
       |  FROM r3dim GROUP BY cell
       |), np3 AS (
       |  SELECT c2.vec_id, c2.cell AS stored, ct.label,
       |    ${l2Sql("e.embedding", "ct.cvec")} AS d2,
       |    row_number() OVER (PARTITION BY c2.vec_id
       |      ORDER BY ${l2Sql("e.embedding", "ct.cvec")} NULLS LAST,
       |        ct.label) AS rn
       |  FROM cells2 c2 LEFT JOIN embeddings e USING (vec_id)
       |  CROSS JOIN cent3a ct
       |), cells3 AS (
       |  SELECT vec_id,
       |    CASE WHEN d2 IS NULL THEN stored ELSE label END AS cell
       |  FROM np3 WHERE rn = 1
       |), cent3 AS (
       |  SELECT label, cvec FROM cent3a
       |  WHERE label IN (SELECT DISTINCT cell FROM cells3)
       |), pr3 AS (
       |  SELECT label AS cell FROM (
       |    SELECT c.label, row_number() OVER (
       |      ORDER BY ${l2Sql("qv2.qv", "c.cvec")} NULLS LAST,
       |        c.label) AS rn
       |    FROM cent3 c CROSS JOIN qv2) WHERE rn <= 2
       |), shortl3 AS (
       |  SELECT k.vec_id,
       |    CAST(sum(CAST(a.pd AS DECIMAL(18,6))) AS DOUBLE) AS pq_d2
       |  FROM codes k
       |  JOIN cells3 cl ON cl.vec_id = k.vec_id
       |  JOIN pr3 ON pr3.cell = cl.cell
       |  JOIN adc a ON a.j = k.j AND a.cid = k.cid
       |  WHERE k.vec_id <> 0
       |  GROUP BY k.vec_id
       |  ORDER BY pq_d2, k.vec_id LIMIT $IvfPqShortN
       |), approx3 AS (
       |  SELECT e.vec_id, ${cosSql("e.embedding", "qv2.qv")} AS sim
       |  FROM embeddings e JOIN shortl3 sl ON sl.vec_id = e.vec_id
       |  CROSS JOIN qv2
       |  ORDER BY sim DESC, e.vec_id LIMIT 5
       |)""".stripMargin

  /** Shared lineage of the per-label repair family
    * (emb_label_nprobe_repair derives the per-slice operating point;
    * emb_label_aware_serving SERVES it), derived against the
    * manifest's CURRENT published version (publishedOnce -> v3, the
    * retrained epoch) — NOT the v1 build lineage: the engine's own
    * post-epoch audit (emb_retrain_recall_by_label) proves per-label
    * recall MOVES under an epoch, so a depth table derived against one
    * epoch and served against another is stale by construction; here
    * the derivation, the serving query, and the streaming sink all
    * resolve the same manifest. Shape: ONE candidate scan to the max
    * depth (anchor cell-ranks carried as a column — every depth is a
    * predicate over the same frame, never a re-scan), the exact
    * per-anchor truth, the per-(depth, label) recall ledger, and the
    * chosen minimum depth meeting the 0.4 floor (NULL = unreachable
    * within the budget).
    *
    * @return (sims0, rec, chosen, version): candidate sims with arn;
    *         the (np, a_label, n_truth, n_anchors, n_hits) ledger;
    *         (a_label, np_ok); and the index version served
    */
  private def labelRepairFrames(
      s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame, Int) = {
    import s.implicits._
    publishedOnce(s, d)
    val (ver, centPath, codesPath) = readManifest(s, indexPath(d))
    val e = emb(s, d)
    val cells = readSegments(s, codesPath)
      .select(col("vec_id"), col("cell"))
    // published centroid table, label-keyed first() read (the bounded
    // broadcast convention)
    val cent = s.read.parquet(centPath)
      .select(col("c_label").as("label"), col("cvec"))
      .groupBy("label").agg(first(col("cvec")).as("cvec"))
    val anchors = broadcast(e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("a_id"),
        coalesce(col("label").cast("int"), lit(-2)).as("a_label"),
        col("embedding").as("av")))
    // anchor cells to the MAX candidate depth against the CURRENT
    // centroids, rank carried (NULLS LAST, label tiebreak)
    val wA = Window.partitionBy("a_id")
      .orderBy(col("d2").asc_nulls_last, col("label"))
    val aRank4 = broadcast(anchors.crossJoin(broadcast(cent))
      .withColumn("d2",
        graft.functions.VecL2Sq.column(col("av"), col("cvec")))
      .withColumn("arn", row_number().over(wA))
      .filter(col("arn") <= 4)
      .select(col("a_id"), col("label").as("cell"), col("arn")))
    val ns = Seq(2, 3, 4).toDF("np")
    // ONE candidate scan; every depth is a predicate over it
    val sims0 = e.join(cells, "vec_id")
      .join(aRank4, "cell")
      .join(anchors, "a_id")
      .filter(col("vec_id") =!= col("a_id"))
      .select(col("a_id"), col("a_label"), col("arn"), col("vec_id"),
        round(cosine(col("embedding"), col("av")), 6).as("sim"))
      .filter(col("sim").isNotNull)
    val wP = Window.partitionBy("np", "a_id")
      .orderBy(col("sim").desc, col("vec_id"))
    val t5 = sims0.join(broadcast(ns), col("arn") <= col("np"))
      .withColumn("r", row_number().over(wP))
      .filter(col("r") <= 5)
      .select("np", "a_id", "a_label", "vec_id")
    val wE = Window.partitionBy("a_id")
      .orderBy(col("es").desc, col("vec_id"))
    val exact5 = e.crossJoin(anchors)
      .filter(col("vec_id") =!= col("a_id"))
      .select(col("a_id"), col("a_label"), col("vec_id"),
        round(cosine(col("embedding"), col("av")), 6).as("es"))
      .filter(col("es").isNotNull)
      .withColumn("r", row_number().over(wE))
      .filter(col("r") <= 5)
      .select("a_id", "a_label", "vec_id")
    val hits = t5.join(exact5, Seq("a_id", "vec_id"), "left_semi")
      .groupBy("np", "a_label").agg(count(lit(1)).as("n_hits"))
    val truth = exact5.groupBy("a_label")
      .agg(count(lit(1)).as("n_truth"),
        countDistinct(col("a_id")).as("n_anchors"))
    // the 3-row np LocalRelation is the broadcast build side (the
    // BNLJ bounded-frame convention — truth is a_label-keyed and
    // small, but only provably-bounded shapes may build)
    // rec/chosen are BOUNDED (3 x |anchor labels| and |anchor labels|
    // rows) and consumed by two queries (emb_label_nprobe_repair
    // derives, emb_label_aware_serving serves) — memoized + persisted
    // per (session, dir) like every two-consumer bounded lineage
    // (r13): the second consumer reads the materialized ledger instead
    // of re-running the candidate scan + exact-truth pass, and
    // decision-vs-serve drift is impossible by construction (same
    // rows, not just same plan).
    val rec = graft.CacheRegistry.memo("emb_label_rec", s, d)(
      graft.CacheRegistry.track(s,
        truth.crossJoin(broadcast(ns))
          .join(hits, Seq("np", "a_label"), "left")
          .select(col("np"), col("a_label"), col("n_truth"),
            col("n_anchors"),
            coalesce(col("n_hits"), lit(0L)).cast("long").as("n_hits"))))
    val chosen = graft.CacheRegistry.memo("emb_label_chosen", s, d)(
      rec.groupBy("a_label")
        .agg(min(when(col("n_hits") * 10 >= col("n_truth") * 4,
          col("np"))).as("np_ok")))
    (sims0, rec, chosen, ver)
  }

  /** DuckDB twin of [[labelRepairFrames]] — the CTE chain both repair
    * oracles compose over. Epoch-consistent: anchors rank against the
    * PUBLISHED (v3) centroid table `cent3` and candidates come from
    * the published memberships `cells3`, so the full retrain chain
    * ([[ivfCellsCte]], [[pqCte]], [[rebalanceServeCte]],
    * [[retrainCte]]) must be in scope.
    */
  private lazy val labelRepairCte: String =
    s"""anch AS (
       |  SELECT vec_id AS a_id,
       |    coalesce(CAST(label AS INT), -2) AS a_label,
       |    embedding AS av
       |  FROM embeddings WHERE vec_id < 8
       |), arank4 AS (
       |  SELECT a_id, cell, arn FROM (
       |    SELECT a.a_id, c.label AS cell, row_number() OVER (
       |      PARTITION BY a.a_id
       |      ORDER BY ${l2Sql("a.av", "c.cvec")} NULLS LAST,
       |        c.label) AS arn
       |    FROM anch a CROSS JOIN cent3 c) WHERE arn <= 4
       |), ns AS (SELECT unnest([2, 3, 4]) AS np),
       |sims0 AS (
       |  SELECT ar.a_id, a.a_label, ar.arn, e.vec_id,
       |    ${cosSql("e.embedding", "a.av")} AS sim
       |  FROM embeddings e
       |  JOIN cells3 c ON c.vec_id = e.vec_id
       |  JOIN arank4 ar ON ar.cell = c.cell
       |  JOIN anch a ON a.a_id = ar.a_id
       |  WHERE e.vec_id <> ar.a_id
       |), t5 AS (
       |  SELECT np, a_id, a_label, vec_id FROM (
       |    SELECT n.np, s.*, row_number() OVER (
       |      PARTITION BY n.np, s.a_id
       |      ORDER BY s.sim DESC, s.vec_id) AS r
       |    FROM sims0 s JOIN ns n ON s.arn <= n.np
       |    WHERE s.sim IS NOT NULL) WHERE r <= 5
       |), ex0 AS (
       |  SELECT a.a_id, a.a_label, e.vec_id,
       |    ${cosSql("e.embedding", "a.av")} AS es
       |  FROM embeddings e CROSS JOIN anch a
       |  WHERE e.vec_id <> a.a_id
       |), e5 AS (
       |  SELECT a_id, a_label, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY a_id
       |      ORDER BY es DESC, vec_id) AS r
       |    FROM ex0 WHERE es IS NOT NULL) WHERE r <= 5
       |), hits AS (
       |  SELECT t5.np, t5.a_label, count(*) AS n_hits
       |  FROM t5 JOIN e5 USING (a_id, vec_id) GROUP BY 1, 2
       |), truth AS (
       |  SELECT a_label, count(*) AS n_truth,
       |    count(DISTINCT a_id) AS n_anchors
       |  FROM e5 GROUP BY 1
       |), rec AS (
       |  SELECT n.np, t.a_label, t.n_truth, t.n_anchors,
       |    CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits
       |  FROM ns n CROSS JOIN truth t
       |  LEFT JOIN hits h ON h.np = n.np AND h.a_label = t.a_label
       |), ch AS (
       |  SELECT a_label,
       |    min(CASE WHEN n_hits * 10 >= n_truth * 4
       |      THEN np END) AS np_ok
       |  FROM rec GROUP BY 1
       |)""".stripMargin

  /** DuckDB twin of [[labelBudgetFrames]] — the CTE chain the budget
    * repair AND the budget serving oracles compose over (needs the
    * full retrain chain in scope, like [[labelRepairCte]]).
    */
  private lazy val labelBudgetCte: String =
    s"""anch AS (
       |  SELECT vec_id AS a_id,
       |    coalesce(CAST(label AS INT), -2) AS a_label,
       |    embedding AS av
       |  FROM embeddings WHERE vec_id < 8
       |), arank6 AS (
       |  SELECT a_id, cell, arn FROM (
       |    SELECT a.a_id, c.label AS cell, row_number() OVER (
       |      PARTITION BY a.a_id
       |      ORDER BY ${l2Sql("a.av", "c.cvec")} NULLS LAST,
       |        c.label) AS arn
       |    FROM anch a CROSS JOIN cent3 c) WHERE arn <= 6
       |), aadc AS (
       |  SELECT q.vec_id AS a_id, c.j, c.cid,
       |    round(${l2Sql("q.sv", "c.cvec")}, 6) AS pd
       |  FROM c1 c JOIN sub q ON q.j = c.j AND q.vec_id < 8
       |), scored AS (
       |  SELECT ar.a_id, ar.arn, k.vec_id,
       |    CAST(sum(CAST(ad.pd AS DECIMAL(18,6))) AS DOUBLE) AS pq_d2
       |  FROM codes k
       |  JOIN cells3 c ON c.vec_id = k.vec_id
       |  JOIN arank6 ar ON ar.cell = c.cell
       |  JOIN aadc ad ON ad.a_id = ar.a_id AND ad.j = k.j
       |    AND ad.cid = k.cid
       |  WHERE k.vec_id <> ar.a_id
       |  GROUP BY 1, 2, 3
       |), nsg AS (SELECT unnest([2, 3, 4, 5, 6]) AS np),
       |sng AS (SELECT unnest([10, 20, 40]) AS sn),
       |shortr AS (
       |  SELECT n.np, s.a_id, s.vec_id,
       |    row_number() OVER (PARTITION BY n.np, s.a_id
       |      ORDER BY s.pq_d2, s.vec_id) AS srn
       |  FROM scored s JOIN nsg n ON s.arn <= n.np
       |), shortlg AS (
       |  SELECT sr.np, g.sn, sr.a_id, sr.vec_id
       |  FROM shortr sr JOIN sng g ON sr.srn <= g.sn
       |), simsg AS (
       |  SELECT sl.np, sl.sn, sl.a_id, a.a_label, e.vec_id,
       |    ${cosSql("e.embedding", "a.av")} AS sim
       |  FROM shortlg sl JOIN embeddings e USING (vec_id)
       |  JOIN anch a ON a.a_id = sl.a_id
       |), t5g AS (
       |  SELECT np, sn, a_id, a_label, vec_id FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY np, sn, a_id
       |      ORDER BY sim DESC, vec_id) AS r
       |    FROM simsg WHERE sim IS NOT NULL) WHERE r <= 5
       |), ex0 AS (
       |  SELECT a.a_id, a.a_label, e.vec_id,
       |    ${cosSql("e.embedding", "a.av")} AS es
       |  FROM embeddings e CROSS JOIN anch a
       |  WHERE e.vec_id <> a.a_id
       |), e5 AS (
       |  SELECT a_id, a_label, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY a_id
       |      ORDER BY es DESC, vec_id) AS r
       |    FROM ex0 WHERE es IS NOT NULL) WHERE r <= 5
       |), hitsg AS (
       |  SELECT t.np, t.sn, t.a_label, count(*) AS n_hits
       |  FROM t5g t JOIN e5 USING (a_id, vec_id) GROUP BY 1, 2, 3
       |), truthg AS (
       |  SELECT a_label, count(*) AS n_truth,
       |    count(DISTINCT a_id) AS n_anchors
       |  FROM e5 GROUP BY 1
       |), recg AS (
       |  SELECT n.np, g.sn, t.a_label, t.n_truth, t.n_anchors,
       |    CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits
       |  FROM nsg n CROSS JOIN sng g CROSS JOIN truthg t
       |  LEFT JOIN hitsg h ON h.np = n.np AND h.sn = g.sn
       |    AND h.a_label = t.a_label
       |), chg AS (
       |  SELECT a_label,
       |    min(CASE WHEN n_hits * 10 >= n_truth * 4
       |      THEN np * 1000 + sn END) AS combo
       |  FROM recg GROUP BY 1
       |)""".stripMargin

  /** Shared lineage of the COMBINED-LEVER budget family
    * (emb_label_shortn_repair derives the per-label (nprobe, shortN)
    * operating point; emb_label_budget_serving SERVES it) — the
    * labelRepairFrames pattern one lever up, epoch-consistent against
    * the manifest's current version: ONE depth-6 candidate ADC scan
    * with the anchor cell-rank carried, the exact truth, the
    * per-(np, sn, label) recall ledger over the 5x3 grid, and the
    * cheapest floor-meeting combo (min np first — scan cost dominates
    * at 100 TB — then min sn, encoded np*1000+sn; NULL = no combo
    * lifts the slice).
    *
    * @return (anchors, scored, rec, chosen, version)
    */
  private def labelBudgetFrames(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, Int) = {
    publishedOnce(s, d)
    val (ver, centPath, codesPath) = readManifest(s, indexPath(d))
    // Memoized per (session, dir) — r13: the two batch consumers
    // (emb_label_shortn_repair derives, emb_label_budget_serving
    // serves) each re-ran the depth-6 ADC scan + exact-truth pass;
    // now the second reads the materialized frames. scored is bounded
    // (probed candidates only, the adcScored persist convention), rec
    // is 15 x |labels| rows. `lazy` keeps the core derivation from
    // running at all on a full memo hit. The streaming twin
    // (AnnServing.deriveLabelBudgets) still calls labelBudgetCore
    // directly against its own manifest — unaffected.
    lazy val core =
      labelBudgetCore(s, centPath, codesPath, pqCodebook(s, d), emb(s, d))
    val anchors = graft.CacheRegistry.memo("emb_budget_anchors", s, d)(
      core._1)
    val scored = graft.CacheRegistry.memo("emb_budget_scored", s, d)(
      graft.CacheRegistry.track(s, core._2))
    val rec = graft.CacheRegistry.memo("emb_budget_rec", s, d)(
      graft.CacheRegistry.track(s, core._3))
    val chosen = graft.CacheRegistry.memo("emb_budget_chosen", s, d)(
      core._4)
    (anchors, scored, rec, chosen, ver)
  }

  /** The derivation body of [[labelBudgetFrames]], parameterized on
    * the index artifacts so the STREAMING maintenance loop can derive
    * the same (label -> nprobe x shortN) table against any manifest
    * (AnnServing.deriveLabelBudgets) — batch repair and streaming
    * refresh share one construction by reference, so their decisions
    * can never drift (the labelBudgetFrames sharing convention, one
    * module boundary up).
    */
  private[graft] def labelBudgetCore(
      s: SparkSession,
      centPath: String,
      codesPath: String,
      codebook: DataFrame,
      vectors: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.DecimalType
    import s.implicits._
    val e = vectors
    val anchors = broadcast(e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("a_id"),
        coalesce(col("label").cast("int"), lit(-2)).as("a_label"),
        col("embedding").as("av")))
    val cent = s.read.parquet(centPath)
      .select(col("c_label").as("label"), col("cvec"))
      .groupBy("label").agg(first(col("cvec")).as("cvec"))
    val wA = Window.partitionBy("a_id")
      .orderBy(col("d2").asc_nulls_last, col("label"))
    val aRank6 = broadcast(anchors.crossJoin(broadcast(cent))
      .withColumn("d2",
        graft.functions.VecL2Sq.column(col("av"), col("cvec")))
      .withColumn("arn", row_number().over(wA))
      .filter(col("arn") <= 6)
      .select(col("a_id"), col("label").as("cell"), col("arn")))
    // per-anchor ADC table (8 anchors x PqSub x PqK — broadcast)
    val aSub = anchors.select(col("a_id").as("qa"),
      posexplode(array((0 until PqSub).map(j =>
        slice(col("av"), j * PqDim + 1, PqDim)): _*))
        .as(Seq("qj", "qsv")))
    val aadc = codebook
      .join(broadcast(aSub), col("j") === col("qj"))
      .select(col("qa").as("a_id"), col("j"), col("cid"),
        round(graft.functions.VecL2Sq.column(col("qsv"), col("cvec")),
          6).as("pd"))
    // ONE ADC pass over the depth-6 candidates, rank carried
    val scored = readSegments(s, codesPath)
      .join(broadcast(aRank6), Seq("cell"))
      .filter(col("vec_id") =!= col("a_id"))
      .select(col("a_id"), col("arn"), col("vec_id"),
        posexplode(col("codes")).as(Seq("j", "cid")))
      .join(broadcast(aadc), Seq("a_id", "j", "cid"))
      .groupBy("a_id", "arn", "vec_id")
      .agg(sum(col("pd").cast(DecimalType(18, 6))).cast("double")
        .as("pq_d2"))
    val ns = Seq(2, 3, 4, 5, 6).toDF("np")
    val sns = Seq(10, 20, 40).toDF("sn")
    val wS = Window.partitionBy("np", "a_id")
      .orderBy(col("pq_d2"), col("vec_id"))
    val shortl = scored.join(broadcast(ns), col("arn") <= col("np"))
      .withColumn("srn", row_number().over(wS))
      .join(broadcast(sns), col("srn") <= col("sn"))
      .select("np", "sn", "a_id", "vec_id")
    val wR = Window.partitionBy("np", "sn", "a_id")
      .orderBy(col("sim").desc, col("vec_id"))
    val t5 = shortl
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
      .join(anchors, "a_id")
      .select(col("np"), col("sn"), col("a_id"), col("a_label"),
        col("vec_id"),
        round(cosine(col("embedding"), col("av")), 6).as("sim"))
      .filter(col("sim").isNotNull)
      .withColumn("r", row_number().over(wR))
      .filter(col("r") <= 5)
      .select("np", "sn", "a_id", "a_label", "vec_id")
    val wE = Window.partitionBy("a_id")
      .orderBy(col("es").desc, col("vec_id"))
    val exact5 = e.crossJoin(anchors)
      .filter(col("vec_id") =!= col("a_id"))
      .select(col("a_id"), col("a_label"), col("vec_id"),
        round(cosine(col("embedding"), col("av")), 6).as("es"))
      .filter(col("es").isNotNull)
      .withColumn("r", row_number().over(wE))
      .filter(col("r") <= 5)
      .select("a_id", "a_label", "vec_id")
    // every frame below is grid-bounded (|labels| x 15 rows at most)
    // — broadcast explicitly so no bounded join ever plans a
    // sort-merge
    val hits = t5
      .join(broadcast(exact5), Seq("a_id", "vec_id"), "left_semi")
      .groupBy("np", "sn", "a_label").agg(count(lit(1)).as("n_hits"))
    val truth = exact5.groupBy("a_label")
      .agg(count(lit(1)).as("n_truth"),
        countDistinct(col("a_id")).as("n_anchors"))
    val rec = truth.crossJoin(broadcast(ns)).crossJoin(broadcast(sns))
      .join(broadcast(hits), Seq("np", "sn", "a_label"), "left")
      .select(col("np"), col("sn"), col("a_label"), col("n_truth"),
        col("n_anchors"),
        coalesce(col("n_hits"), lit(0L)).cast("long").as("n_hits"))
    // cheapest floor-meeting combo, scan cost first: np*1000 + sn
    val chosen = rec.groupBy("a_label")
      .agg(min(when(col("n_hits") * 10 >= col("n_truth") * 4,
        col("np") * 1000 + col("sn"))).as("combo"))
    (anchors, scored, rec, chosen)
  }

  // The versioned index store lives in graft.index.IndexStore; these
  // forwarders keep the names perfbench and the batch queries call.
  private[graft] def publishVersion(
      s: SparkSession, root: String, version: Int,
      centroids: String, codes: String): Unit =
    graft.index.IndexStore.publishVersion(s, root, version, centroids, codes)

  private[graft] def readManifest(
      s: SparkSession, root: String): (Int, String, String) =
    graft.index.IndexStore.readManifest(s, root)

  private[graft] def readSegments(s: SparkSession, csv: String): DataFrame =
    graft.index.IndexStore.readSegments(s, csv)

  /** The publish history of the served index, run once per
    * (session, dir): v1 = the as-built artifacts, v2 = the rebalanced
    * artifacts, v3 = the retrained epoch (all already on disk and
    * immutable — no bytes move at publish time). The final state is v3
    * published — the complete lifecycle ending: build -> rebalance ->
    * retrain, each version one atomic manifest rename ahead of the
    * last and each earlier version still rollback-able (EmbPublishSpec
    * walks swap atomicity and rollback on a scratch root;
    * EmbRetrainSpec asserts the real manifest's final state and the
    * v2 artifacts' immutability across the epoch).
    */
  private def publishedOnce(s: SparkSession, d: String): Unit = {
    graft.CacheRegistry.memoExactlyOnce("emb_index_publish", s, d) {
      retrainApplied(s, d) // v3 artifacts (v1/v2 via its lineage)
      val root = indexPath(d)
      publishVersion(s, root, 1, s"$root/centroids", s"$root/codes")
      publishVersion(s, root, 2, s"$root/centroids_reb", s"$root/codes_reb")
      publishVersion(s, root, 3, s"$root/centroids_rt", s"$root/codes_rt")
      s.range(1).toDF("published")
    }
    ()
  }

  /** query ADC table (j, cid, pd): the query subvector against every
    * codebook entry — bounded PqSub x PqK rows, built per query vector
    */
  private def pqAdc(s: SparkSession, d: String): DataFrame = {
    val qsub = pqSubspaces(emb(s, d).select("vec_id", "embedding"))
      .filter(col("vec_id") === 0)
      .select(col("j").as("qj"), col("sv").as("qsv"))
    pqCodebook(s, d).join(broadcast(qsub), col("j") === col("qj"))
      .select(col("j"), col("cid"),
        round(graft.functions.VecL2Sq.column(col("qsv"), col("cvec")), 6)
          .as("pd"))
  }

  /** nearest codebook entry per (vector, subspace); cb = (j, cid, cvec)
    * broadcast, ties break on cid — the kernel L2² is the same in-order
    * double fold the oracle's list_sum expresses
    */
  private def pqArgmin(sub: DataFrame, cb: DataFrame): DataFrame = {
    // NULLS LAST explicitly: Spark windows default to NULLS FIRST on
    // asc, DuckDB to NULLS LAST — an off-contract codebook entry (NULL
    // distance, e.g. seeded from a ragged vector) would otherwise rank
    // FIRST here and collapse every vector's code onto it
    val w = Window.partitionBy(col("vec_id"), col("j"))
      .orderBy(col("d2").asc_nulls_last, col("cid"))
    sub.join(broadcast(cb), Seq("j"))
      .withColumn("d2",
        graft.functions.VecL2Sq.column(col("sv"), col("cvec")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
  }

  /** DuckDB twin of the PQ lineage (codebook + codes + query ADC), the
    * CTE chain emb_pq_ann and emb_ivfpq_ann both compose over:
    * sub/c0/d1/a1/m1/cd/c1 train the codebook, `codes` encodes the
    * corpus, `adc` is the query distance table. No name clash with
    * [[ivfCellsCte]], so the two chains concatenate under one WITH.
    */
  private lazy val pqCte: String =
    s"""sub AS (
       |  SELECT vec_id, j, embedding[j*$PqDim+1 : j*$PqDim+$PqDim] AS sv
       |  FROM embeddings CROSS JOIN range(0, $PqSub) r(j)
       |), c0 AS (
       |  SELECT j, CAST(vec_id AS INT) AS cid,
       |    list_transform(sv, v -> round(CAST(v AS DOUBLE), 6)) AS cvec
       |  FROM sub WHERE vec_id < $PqK
       |), d1 AS (
       |  SELECT s.vec_id, s.j, s.sv, c.cid, ${l2Sql("s.sv", "c.cvec")} AS d2
       |  FROM sub s JOIN c0 c ON c.j = s.j
       |), a1 AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id, j
       |                              ORDER BY d2, cid) AS rn
       |  FROM d1
       |), m1 AS (
       |  SELECT j, cid, sv FROM a1 WHERE rn = 1
       |), cd AS (
       |  SELECT j, cid, dim, ${mean6Sql("vi")} AS cv
       |  FROM (SELECT j, cid, CAST(i - 1 AS INT) AS dim,
       |          ${snap6Sql("sv[i]")} AS vi
       |        FROM m1 CROSS JOIN range(1, ${PqDim + 1}) r(i))
       |  GROUP BY 1, 2, 3
       |), c1 AS (
       |  SELECT j, cid,
       |    list_transform(list_sort(list(struct_pack(dim := dim, cv := cv))),
       |      x -> x.cv) AS cvec
       |  FROM cd GROUP BY j, cid
       |), d2t AS (
       |  SELECT s.vec_id, s.j, c.cid, ${l2Sql("s.sv", "c.cvec")} AS d2
       |  FROM sub s JOIN c1 c ON c.j = s.j
       |), codes AS (
       |  SELECT vec_id, j, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
       |                                ORDER BY d2, cid) AS rn
       |    FROM d2t) WHERE rn = 1
       |), adc AS (
       |  SELECT c.j, c.cid, round(${l2Sql("q.sv", "c.cvec")}, 6) AS pd
       |  FROM c1 c JOIN sub q ON q.j = c.j AND q.vec_id = 0
       |)""".stripMargin

  /** IVF+PQ end-to-end serving read (emb_ivfpq_ann): probe the query's
    * 2 nearest IVF cells, ADC-score ONLY the code rows inside probed
    * cells (the float corpus is never touched at scan time), shortlist
    * the best IvfPqShortN by ADC distance, then exact-rerank the
    * shortlist by true cosine — the production ANN serving shape that
    * composes the two index paths emb_ivf_ann and emb_pq_ann prove
    * separately. At 100 TB: centroids + codebook + ADC table broadcast,
    * the scan reads (cell-pruned) 8-byte code rows, and only
    * IvfPqShortN full vectors are ever fetched for the rerank.
    */
  /** BINARY quantization ANN (emb_bq_ann) — the last rung of the
    * quantization ladder this engine serves (float32 brute force ->
    * int8 SQ -> PQ -> IVF+PQ -> 1 bit/dim): each 64-dim vector
    * collapses to its sign bitmap packed into two BIGINT halves (bits
    * 0..31 / 32..63 — two halves so neither engine ever shifts into
    * the int64 sign bit), 256:1 vs float32. First-stage ranking is
    * Hamming distance (two XORs + two popcounts per candidate — the
    * cheapest filter a vector store runs, and the memory-bandwidth
    * story at 100 TB: the signature table is 1/32 the corpus and never
    * touches floats); the top-20 shortlist is exact-reranked by true
    * cosine, the emb_twostage_rerank convention. All integer until the
    * final rounded cosine; a missing dimension (ragged vector) reads
    * as bit 0 in BOTH engines (try_element_at NULL -> false branch /
    * out-of-range NULL -> CASE ELSE; ANSI element_at would THROW past
    * the array end — caught by the edge gate). Ties break on vec_id
    * everywhere.
    */
  /** sign-bitmap signature frame (vec_id, h1, h2) over any
    * (vec_id, embedding) input — shared by the on-the-fly query
    * (bqTop5), the served-index build (the bitsig/ artifact) and the
    * served read's query-side signature. The packing is the native
    * codegen'd SignBits kernel (one pass, whole-stage-codegen
    * friendly); the equivalent aggregate(transform(sequence(...)))
    * SQL form evaluates higher-order functions interpreted per element
    * and lives on only as VectorKernelsSpec's equality pin.
    */
  private def bqSigs(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      graft.functions.SignBits.column(col("embedding")).as("hs"))
      .select(col("vec_id"),
        element_at(col("hs"), 1).as("h1"),
        element_at(col("hs"), 2).as("h2"))

  /** Hamming shortlist + exact rerank over a given signature frame —
    * the serving read emb_bq_ann (signatures computed in the scan) and
    * emb_bq_served (signatures read from the persisted bitsig/
    * artifact) share verbatim.
    */
  private def bqRank(s: SparkSession, d: String, bq: DataFrame): DataFrame = {
    val e = emb(s, d)
    val qsig = broadcast(bqSigs(e.filter(col("vec_id") === 0))
      .select(col("h1").as("q1"), col("h2").as("q2")))
    val short = bq.filter(col("vec_id") =!= 0)
      .crossJoin(qsig)
      .select(col("vec_id"),
        expr("CAST(bit_count(h1 ^ q1) + bit_count(h2 ^ q2) AS BIGINT)")
          .as("hd"))
      .orderBy(col("hd"), col("vec_id"))
      .limit(20)
    val qv = broadcast(e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv")))
    e.join(broadcast(short), "vec_id")
      .crossJoin(qv)
      .select(col("vec_id"), col("hd"),
        round(cosine(col("embedding"), col("qv")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(5)
  }

  private def bqTop5(s: SparkSession, d: String): DataFrame =
    bqRank(s, d, bqSigs(emb(s, d)))

  /** DuckDB twin of [[bqTop5]] — complete WITH...SELECT, nestable as a
    * parenthesized subquery (emb_bq_recall does)
    */
  private lazy val bqSql: String =
    s"""WITH bq AS (
       |  SELECT vec_id,
       |    CAST(list_aggregate(list_transform(range(1, 33), i ->
       |      CASE WHEN embedding[i] > 0
       |        THEN (CAST(1 AS BIGINT) << (i - 1))
       |        ELSE CAST(0 AS BIGINT) END), 'sum') AS BIGINT) AS h1,
       |    CAST(list_aggregate(list_transform(range(33, 65), i ->
       |      CASE WHEN embedding[i] > 0
       |        THEN (CAST(1 AS BIGINT) << (i - 33))
       |        ELSE CAST(0 AS BIGINT) END), 'sum') AS BIGINT) AS h2
       |  FROM embeddings
       |), qs AS (
       |  SELECT h1 AS q1, h2 AS q2 FROM bq WHERE vec_id = 0
       |), shortb AS (
       |  SELECT b.vec_id,
       |    CAST(bit_count(xor(b.h1, q1)) + bit_count(xor(b.h2, q2))
       |      AS BIGINT) AS hd
       |  FROM bq b CROSS JOIN qs WHERE b.vec_id <> 0
       |  ORDER BY hd, b.vec_id LIMIT 20
       |), qvb AS (
       |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
       |)
       |SELECT e.vec_id, s.hd,
       |  round(${cosSql("e.embedding", "qvb.qv")}, 6) AS sim
       |FROM embeddings e
       |JOIN shortb s ON s.vec_id = e.vec_id
       |CROSS JOIN qvb
       |ORDER BY sim DESC, e.vec_id LIMIT 5""".stripMargin

  private def ivfpqTop5(s: SparkSession, d: String): DataFrame =
    graft.CacheRegistry.memo("emb_ivfpq_top5", s, d)(
      graft.CacheRegistry.track(s, {
        import org.apache.spark.sql.types.DecimalType
        val e = emb(s, d)
        val ranked = ivfRanked(s, d)
        val cells = ranked.filter(col("rn") === 1)
          .select(col("vec_id"), col("c_label").as("cell"))
        val qCells = broadcast(ranked
          .filter(col("vec_id") === 0 && col("rn") <= 2)
          .select(col("c_label").as("cell")))
        // prune FIRST: broadcast the 2 probed cells into the assignment
        // to get the probed id set (~nprobe/n_cells of the corpus),
        // then semi-join the code table against it. codes x probed-ids
        // is the one corpus-sized join and it shuffles on vec_id — the
        // co-located (bucketable) key — never on the 8x-larger
        // (vec_id, j) grain.
        val probedIds = cells.join(qCells, "cell")
          .filter(col("vec_id") =!= 0).select("vec_id")
        val short = pqCodes(s, d)
          .join(probedIds, Seq("vec_id"), "left_semi")
          .join(broadcast(pqAdc(s, d)), Seq("j", "cid"))
          .groupBy("vec_id")
          .agg(sum(col("pd").cast(DecimalType(18, 6))).cast("double")
            .as("pq_d2"))
          .orderBy(col("pq_d2"), col("vec_id"))
          .limit(IvfPqShortN)
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv")))
        e.join(broadcast(short), "vec_id")
          .crossJoin(qv)
          .select(col("vec_id"), col("pq_d2"),
            round(cosine(col("embedding"), col("qv")), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(5)
      }))

  /** DuckDB twin of [[ivfpqTop5]] — nestable as a parenthesized
    * subquery (emb_ivfpq_recall does)
    */
  private lazy val ivfpqSql: String =
    s"""WITH $ivfCellsCte, $pqCte, qcells AS (
       |  SELECT label AS cell FROM ranked WHERE vec_id = 0 AND rn <= 2
       |), qv AS (
       |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
       |), shortl AS (
       |  SELECT k.vec_id,
       |    CAST(sum(CAST(a.pd AS DECIMAL(18,6))) AS DOUBLE) AS pq_d2
       |  FROM codes k
       |  JOIN cells cl ON cl.vec_id = k.vec_id
       |  JOIN qcells qc ON qc.cell = cl.cell
       |  JOIN adc a ON a.j = k.j AND a.cid = k.cid
       |  WHERE k.vec_id <> 0
       |  GROUP BY k.vec_id
       |  ORDER BY pq_d2, k.vec_id LIMIT $IvfPqShortN
       |)
       |SELECT e.vec_id, s.pq_d2, ${cosSql("e.embedding", "qv.qv")} AS sim
       |FROM embeddings e JOIN shortl s ON s.vec_id = e.vec_id
       |CROSS JOIN qv
       |ORDER BY sim DESC, e.vec_id LIMIT 5""".stripMargin

  /** hybrid keyword+vector retrieval fused by RRF (emb_hybrid_rrf), the
    * bounded (doc_id, rrf) top-10 — extracted so emb_rrf_rank_quality
    * scores the EXACT ranking the serving query returns. Each channel
    * reduces the corpus via TakeOrderedAndProject before any rank
    * window; the fusion is a full-outer join of two <= HybridTopN-row
    * frames.
    */
  private def hybridFused(s: SparkSession, d: String): DataFrame = {
    val kwTop = Tables.t(s, d, "documents")
      .filter(col("doc_id") =!= 0)
      .select(col("doc_id"),
        graft.functions.NormTokens.column(col("text")).as("tok"))
      .select(col("doc_id"),
        size(array_intersect(array_distinct(col("tok")),
          array(HybridTerms.map(lit): _*))).as("kw_score"))
      .filter(col("kw_score") > 0)
      .orderBy(col("kw_score").desc, col("doc_id"))
      .limit(HybridTopN)
    val kwRank = kwTop
      .withColumn("rk", row_number().over(
        Window.orderBy(col("kw_score").desc, col("doc_id"))))
      .select("doc_id", "rk")
    val e = emb(s, d)
    val query = broadcast(
      e.filter(col("vec_id") === 0).select(col("embedding").as("qv")))
    val vTop = e.filter(col("vec_id") =!= 0)
      .crossJoin(query)
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("qv")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(HybridTopN)
    val vRank = vTop
      .withColumn("rv", row_number().over(
        Window.orderBy(col("sim").desc, col("vec_id"))))
      .select(col("vec_id").as("doc_id"), col("rv"))
    kwRank.join(vRank, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(
          coalesce(lit(1.0) / (lit(HybridRrfK) + col("rk")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(HybridRrfK) + col("rv")), lit(0.0)),
          9).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  /** DuckDB twin of [[hybridFused]] — a complete WITH...SELECT,
    * nestable as a parenthesized subquery (emb_rrf_rank_quality does)
    */
  private lazy val hybridFusedSql: String = {
    val termsSql = HybridTerms.map(t => s"'$t'").mkString("[", ", ", "]")
    s"""WITH cleaned AS (
       |  SELECT doc_id, ${cleanSql("text")} AS text_clean FROM documents
       |), toksrc AS (
       |  SELECT doc_id, ${tokensSql("text_clean")} AS tok FROM cleaned
       |), kw0 AS (
       |  SELECT doc_id,
       |    len(list_intersect(list_distinct(tok), $termsSql)) AS kw_score
       |  FROM toksrc WHERE doc_id <> 0
       |), kwtop AS (
       |  SELECT doc_id, kw_score FROM kw0 WHERE kw_score > 0
       |  ORDER BY kw_score DESC, doc_id LIMIT $HybridTopN
       |), kwr AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY kw_score DESC, doc_id) AS rk
       |  FROM kwtop
       |), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |v0 AS (
       |  SELECT vec_id, ${cosSql("embedding", "qv")} AS sim
       |  FROM embeddings, q WHERE vec_id <> 0
       |), vtop AS (
       |  SELECT vec_id, sim FROM v0
       |  ORDER BY sim DESC, vec_id LIMIT $HybridTopN
       |), vr AS (
       |  SELECT vec_id,
       |    row_number() OVER (ORDER BY sim DESC, vec_id) AS rv
       |  FROM vtop
       |)
       |SELECT coalesce(k.doc_id, v.vec_id) AS doc_id,
       |  round(coalesce(CAST(1.0 AS DOUBLE) / ($HybridRrfK + rk), 0) +
       |        coalesce(CAST(1.0 AS DOUBLE) / ($HybridRrfK + rv), 0), 9) AS rrf
       |FROM kwr k FULL JOIN vr v ON v.vec_id = k.doc_id
       |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin
  }

  // ---- k-means lineage (emb_kmeans + emb_semantic_dedup) -------------
  // (cluster count K lives ABOVE qs: the oracle strings interpolate it
  // eagerly during object init, and a forward val reference reads 0)

  /** nearest centroid per vector: broadcast K-row codebook, kernel L2²,
    * argmin with (d2, cid) tie-break
    */
  private def nearest(e: DataFrame, cent: DataFrame): DataFrame =
    nearestRanked(e, cent).filter(col("rn") === 1)

  /** all K centroid distances per vector, ranked (rn=1 nearest) — the
    * rn=2 row is silhouette's "second-best cluster" distance
    */
  private def nearestRanked(e: DataFrame, cent: DataFrame): DataFrame = {
    // NULLS LAST: see pqArgmin — a NULL distance must never win argmin
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("d2").asc_nulls_last, col("cid"))
    e.crossJoin(broadcast(cent))
      .withColumn("d2",
        graft.functions.VecL2Sq.column(col("embedding"), col("cvec")))
      .withColumn("rn", row_number().over(w))
  }

  /** K x 64 codebook from member vectors: ulp-immune per-dim means */
  private def centroidsOf(members: DataFrame): DataFrame =
    members
      .select(col("cid"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("vi", snap6(col("v")))
      .groupBy("cid", "dim")
      .agg(expr(mean6Expr("vi")).as("cv"))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cv")))),
        x => x.getField("cv")).as("cvec"))

  /** final-round distances to ALL K centroids, ranked per vector
    * (rn = 1 is the assignment; rn = 2 the silhouette "b" cluster)
    */
  private def kmeansRanked(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d).select("vec_id", "embedding")
    // ADAPTIVE cluster count — kk = max(K, √n div KSqrtDiv); see the
    // KSqrtDiv scaladoc for the balance argument and probe numbers. The
    // oracle computes the same expression (kmeansCte's scalar subquery).
    val kRow = broadcast(e.agg(
      expr(s"greatest($K, CAST(floor(sqrt(count(1))) AS BIGINT)" +
        s" div $KSqrtDiv)").as("kk")))
    val cent0 = e.crossJoin(kRow).filter(col("vec_id") < col("kk"))
      .select(col("vec_id").cast("int").as("cid"),
        transform(col("embedding"), v => round(v.cast("double"), 6)).as("cvec"))
    val round1 = nearest(e, cent0).select(col("cid"), col("embedding"))
    nearestRanked(e, centroidsOf(round1))
  }

  /** final-round assignment rows (vec_id, embedding, cluster=cid, d2) */
  private def kmeansFinal(s: SparkSession, d: String): DataFrame =
    kmeansRanked(s, d).filter(col("rn") === 1)
      .select(col("vec_id"), col("cid").as("cluster"), col("d2"))

  /** memoized + persisted (vec_id, cluster) — shared by emb_kmeans and
    * emb_semantic_dedup; 2 small columns per vector, released via
    * CacheRegistry.clear
    */
  private def kmeansAssign(s: SparkSession, d: String): DataFrame =
    graft.CacheRegistry.memo("emb_kmeans_assign", s, d)(
      graft.CacheRegistry.track(s,
        kmeansFinal(s, d).select("vec_id", "cluster")))

  /** DuckDB twin of [[kmeansFinal]]: c0 seeds, one reassignment, final
    * ranked distances in `a2` (consumers read `WHERE rn = 1`)
    */
  private def kmeansCte: String = {
    def l2(a: String, b: String): String = l2Sql(a, b)
    s"""WITH c0 AS (
       |  SELECT CAST(vec_id AS INT) AS cid,
       |    list_transform(embedding, v -> round(CAST(v AS DOUBLE), 6)) AS cvec
       |  FROM embeddings
       |  WHERE vec_id < (SELECT greatest($K,
       |      CAST(floor(sqrt(count(*))) AS BIGINT) // $KSqrtDiv)
       |    FROM embeddings)
       |), d1 AS (
       |  SELECT e.vec_id, e.embedding, c.cid,
       |    ${l2("e.embedding", "c.cvec")} AS d2
       |  FROM embeddings e CROSS JOIN c0 c
       |), a1 AS (
       |  SELECT vec_id, embedding, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |  FROM d1
       |), m1 AS (
       |  SELECT cid, embedding FROM a1 WHERE rn = 1
       |), cd AS (
       |  SELECT cid, dim, ${mean6Sql("vi")} AS cv
       |  FROM (SELECT cid, CAST(i - 1 AS INT) AS dim,
       |          ${snap6Sql("embedding[i]")} AS vi
       |        FROM m1 CROSS JOIN range(1, 65) r(i))
       |  GROUP BY 1, 2
       |), c1 AS (
       |  SELECT cid,
       |    list_transform(list_sort(list(struct_pack(dim := dim, cv := cv))),
       |      x -> x.cv) AS cvec
       |  FROM cd GROUP BY cid
       |), d2t AS (
       |  SELECT e.vec_id, c.cid,
       |    ${l2("e.embedding", "c.cvec")} AS d2
       |  FROM embeddings e CROSS JOIN c1 c
       |), a2 AS (
       |  SELECT vec_id, cid, d2,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |  FROM d2t
       |)""".stripMargin
  }

  /** top-10 most-similar band-colocated pairs (shared by the near-dup
    * query and the cross-modal check) — memoized per (session, dir) AND
    * persisted: the bounded 10-row result is materialized once, so the
    * second consumer reuses rows, not just a plan (each write action
    * re-plans its own lineage, so plan sharing alone reuses nothing).
    * Input dirs are assumed immutable for the cache lifetime; the
    * harness releases storage via CacheRegistry.clear.
    */
  private def nearDupPairs(s: SparkSession, d: String): DataFrame =
    graft.CacheRegistry.memo("emb_near_dup_pairs", s, d)(
      graft.CacheRegistry.track(s, buildNearDupPairs(s, d)))

  private def buildNearDupPairs(s: SparkSession, d: String): DataFrame = {
    val withSig = emb(s, d)
      .withColumn("sig", signature(col("embedding")))
    val bands = withSig.select(col("vec_id"), col("sig"), col("embedding"),
      posexplode(array((0 until SigBands).map(b =>
        bandOf(col("sig"), b)): _*)).as(Seq("band", "key")))
    val a = bands.select(col("band"), col("key"),
      col("vec_id").as("a_id"), col("sig").as("sa"), col("embedding").as("ea"))
    val b = bands.select(col("band"), col("key"),
      col("vec_id").as("b_id"), col("sig").as("sb"), col("embedding").as("eb"))
    val firstMatch = (0 until SigBands).map { i =>
      (0 until i).map(j => bandOf(col("sa"), j) =!= bandOf(col("sb"), j))
        .foldLeft(col("band") === i)(_ && _)
    }.reduce(_ || _)
    a.join(b, Seq("band", "key"))
      .filter(col("a_id") < col("b_id") && firstMatch)
      .select(col("a_id"), col("b_id"),
        round(cosine(col("ea"), col("eb")), 6).as("sim"))
      .orderBy(col("sim").desc, col("a_id"), col("b_id"))
      .limit(10)
  }

  // lazy: referenced from the qs initializer above — a plain val would
  // be a null forward reference at object init
  private lazy val nearDupPairsSql: String = {
    val bandsSql = (0 until SigBands).map(b =>
      s"SELECT vec_id, embedding, sig, $b AS band, ${bandOfSql("sig", b)} AS key FROM b")
      .mkString("\n  UNION ALL\n  ")
    val firstMatchSql = (0 until SigBands).map { i =>
      val earlier = (0 until i).map(j =>
        s"${bandOfSql("x.sig", j)} <> ${bandOfSql("y.sig", j)}")
      (s"x.band = $i" +: earlier).mkString("(", " AND ", ")")
    }.mkString("(", " OR ", ")")
    s"""WITH b AS (
       |  SELECT vec_id, embedding, ${signatureSql("embedding")} AS sig
       |  FROM embeddings
       |), bands AS (
       |  $bandsSql
       |)
       |SELECT x.vec_id AS a_id, y.vec_id AS b_id,
       |  ${cosSql("x.embedding", "y.embedding")} AS sim
       |FROM bands x JOIN bands y
       |  ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id
       |WHERE $firstMatchSql
       |ORDER BY sim DESC, a_id, b_id LIMIT 10""".stripMargin
  }

  /** emb_mmr_rerank oracle: the greedy recurrence unrolled as chained
    * CTEs p1..p4 (lazy: referenced from the qs initializer above)
    */
  private lazy val mmrSql: String = {
    def pickedUnion(k: Int): String =
      (1 until k).map(i => s"SELECT vec_id FROM p$i").mkString(" UNION ALL ")
    val steps = (2 to 4).map { k =>
      s"""p$k AS (
         |  SELECT c.vec_id, c.rel, c.rel - max(s.sim) AS mmr, $k AS pick
         |  FROM cands c JOIN sims s ON s.a_id = c.vec_id
         |  WHERE s.b_id IN (${pickedUnion(k)})
         |    AND c.vec_id NOT IN (${pickedUnion(k)})
         |  GROUP BY c.vec_id, c.rel
         |  ORDER BY mmr DESC, c.vec_id LIMIT 1
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |cands AS (
       |  SELECT vec_id, embedding, ${cosSql("embedding", "qv")} AS rel
       |  FROM embeddings, q WHERE vec_id <> 0
       |  ORDER BY rel DESC, vec_id LIMIT 12
       |), sims AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    ${cosSql("a.embedding", "b.embedding")} AS sim
       |  FROM cands a JOIN cands b ON a.vec_id <> b.vec_id
       |), p1 AS (
       |  SELECT vec_id, rel, rel AS mmr, 1 AS pick
       |  FROM cands ORDER BY rel DESC, vec_id LIMIT 1
       |), $steps
       |SELECT pick, vec_id, rel, mmr FROM (
       |  SELECT * FROM p1 UNION ALL SELECT * FROM p2
       |  UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4)
       |ORDER BY pick""".stripMargin
  }

  // ---- anisotropy (emb_anisotropy)

  /** The O(n·d) exact mean-pairwise-cosine frame — see the Q scaladoc.
    * Stage 1 snaps each unit-vector component to the 1e-6 grid and
    * reduces to 64·|labels| (sum, sum-of-squares, count) cells; stage 2
    * unions in the corpus-wide (-1) spine by re-summing the per-label
    * cells (64·|labels| rows — never a second corpus scan); stage 3
    * applies the identity per label. Null labels fold into a -2 group so
    * the terminal ORDER BY key is never null-ordered (Spark sorts nulls
    * first ASC, DuckDB last — the cross-engine row-order trap).
    */
  private def anisotropy(s: SparkSession, d: String): DataFrame = {
    val unit = emb(s, d)
      .withColumn("lbl", coalesce(col("label").cast("int"), lit(-2)))
      .withColumn("nrm", norm2(col("embedding")))
      .filter(col("nrm") > 0)
      .select(col("lbl"), col("nrm"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("vi", snap6(col("v") / col("nrm")))
    val perDim = unit.groupBy("lbl", "dim")
      .agg(sum(col("vi").cast("decimal(38,0)")).as("sd"),
        sum((col("vi") * col("vi")).cast("decimal(38,0)")).as("qd"),
        count(col("vi")).as("nd"))
    val allDim = perDim.groupBy("dim")
      .agg(sum(col("sd")).as("sd"), sum(col("qd")).as("qd"),
        sum(col("nd")).as("nd"))
      .withColumn("lbl", lit(-1))
    perDim.select("lbl", "dim", "sd", "qd", "nd")
      .unionByName(allDim.select("lbl", "dim", "sd", "qd", "nd"))
      .groupBy("lbl")
      .agg(sum(col("sd") * col("sd")).as("normsq"),
        sum(col("qd")).as("selfsq"),
        max(col("nd")).as("n_vecs"))
      .filter(col("n_vecs") >= 2)
      .select(col("lbl").as("label"),
        col("n_vecs").cast("long").as("n_vecs"),
        round((col("normsq") - col("selfsq")).cast("double") /
          ((col("n_vecs") * (col("n_vecs") - 1)).cast("double") * lit(1e12)),
          6).as("avg_pair_cos"))
      .orderBy("label")
  }

  /** DuckDB twin of [[anisotropy]] — sum(BIGINT) is HUGEINT (exact, the
    * decimal path's twin); the ragged-vector convention matches the
    * Spark side by construction: embedding[i] beyond a short vector's
    * length is NULL → vi NULL → skipped by sum/count, exactly as
    * posexplode simply emits fewer rows.
    */
  private def anisotropySql: String =
    s"""WITH nv0 AS (
       |  SELECT coalesce(CAST(label AS INT), -2) AS lbl, embedding,
       |    ${normSql("embedding")} AS nrm
       |  FROM embeddings
       |), nv AS (SELECT * FROM nv0 WHERE nrm > 0
       |), expl AS (
       |  SELECT lbl, CAST(i - 1 AS INT) AS dim,
       |    ${snap6Sql("CAST(embedding[i] AS DOUBLE) / nrm")} AS vi
       |  FROM nv CROSS JOIN range(1, 65) r(i)
       |), perdim AS (
       |  SELECT lbl, dim, sum(vi) AS sd, sum(vi * vi) AS qd,
       |    count(vi) AS nd
       |  FROM expl GROUP BY 1, 2
       |), uni AS (
       |  SELECT lbl, dim, sd, qd, nd FROM perdim
       |  UNION ALL
       |  SELECT -1 AS lbl, dim, sum(sd) AS sd, sum(qd) AS qd,
       |    sum(nd) AS nd
       |  FROM perdim GROUP BY 2
       |), lab AS (
       |  SELECT lbl, sum(sd * sd) AS normsq, sum(qd) AS selfsq,
       |    max(nd) AS n_vecs
       |  FROM uni GROUP BY 1
       |)
       |SELECT CAST(lbl AS INT) AS label, CAST(n_vecs AS BIGINT) AS n_vecs,
       |  round(CAST(normsq - selfsq AS DOUBLE) /
       |    (CAST(n_vecs * (n_vecs - 1) AS DOUBLE) * 1e12), 6)
       |    AS avg_pair_cos
       |FROM lab WHERE n_vecs >= 2 ORDER BY label""".stripMargin

  // ---- nprobe autotune (emb_nprobe_autotune)

  /** Multi-anchor nprobe sweep + pick — see the Q scaladoc. The probed-
    * candidate sims frame is persisted once and re-windowed per depth;
    * ground truth is the one |sample|·|corpus| pass. Off-contract
    * anchors or candidates score NULL cosine (kernel convention) and
    * are dropped before any rank, and an anchor with no valid
    * neighbours simply contributes nothing to n_total (n_anchors counts
    * anchors WITH ground truth). The empty-corpus guard keeps the
    * division explicit-NULL on both engines.
    */
  private def nprobeAutotune(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val ranked = ivfRanked(s, d)
    val cells = ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("c_label").as("cell"))
    val anchors = broadcast(e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("a_id"), col("embedding").as("av")))
    val aRank = broadcast(ranked.filter(col("vec_id") < 8 && col("rn") <= 3)
      .select(col("vec_id").as("a_id"), col("c_label").as("cell"),
        col("rn").as("qrn")))
    val sims = graft.CacheRegistry.track(s,
      e.join(cells, "vec_id")
        .join(aRank, "cell")
        .join(anchors, "a_id")
        .filter(col("vec_id") =!= col("a_id"))
        .select(col("a_id"), col("qrn"), col("vec_id"),
          round(cosine(col("embedding"), col("av")), 6).as("sim"))
        .filter(col("sim").isNotNull))
    val wE = Window.partitionBy("a_id").orderBy(col("es").desc, col("vec_id"))
    val exact5 = e.crossJoin(anchors)
      .filter(col("vec_id") =!= col("a_id"))
      .select(col("a_id"), col("vec_id"),
        round(cosine(col("embedding"), col("av")), 6).as("es"))
      .filter(col("es").isNotNull)
      .withColumn("r", row_number().over(wE))
      .filter(col("r") <= 5)
      .select("a_id", "vec_id")
    val na = broadcast(
      exact5.agg(countDistinct(col("a_id")).as("n_anchors")))
    // ONE plan for all 3 depths (r13; was a 3-branch union re-reading
    // the persisted sims frame per depth — the emb_operating_grid
    // collapse): fan each candidate to its covering depths, rank per
    // (depth, anchor), one semi join, one grouped count; the 3-row
    // depth spine left-join keeps empty depths at 0 (the Spark global
    // aggregates always emitted a row — the oracle's LEFT-join spine
    // already mirrors this).
    import s.implicits._
    val probes = Seq(1, 2, 3).toDF("nprobe")
    val wP = Window.partitionBy("nprobe", "a_id")
      .orderBy(col("sim").desc, col("vec_id"))
    val curve = probes
      .join(sims.withColumn("nprobe",
          explode(sequence(col("qrn"), lit(3))))
        .withColumn("r", row_number().over(wP))
        .filter(col("r") <= 5)
        .select("nprobe", "a_id", "vec_id")
        .join(exact5, Seq("a_id", "vec_id"), "left_semi")
        .groupBy("nprobe").agg(count(lit(1)).as("sum_hits")),
        Seq("nprobe"), "left")
      .select(col("nprobe"),
        coalesce(col("sum_hits"), lit(0L)).as("sum_hits"))
      .crossJoin(na)
      .withColumn("n_total", col("n_anchors") * 5)
    val chosen = broadcast(curve
      .filter(col("sum_hits") * 100 >= col("n_total") * 40)
      .agg(min(col("nprobe")).as("chosen_nprobe")))
    curve.crossJoin(chosen)
      .select(col("nprobe"),
        col("sum_hits").cast("long").as("sum_hits"),
        col("n_total").cast("long").as("n_total"),
        when(col("n_total") === 0, lit(null).cast("double"))
          .otherwise(round(
            col("sum_hits").cast("double") / col("n_total"), 6))
          .as("recall_at_5"),
        coalesce(col("nprobe") === col("chosen_nprobe"), lit(false))
          .as("chosen"))
      .orderBy("nprobe")
  }

  /** DuckDB twin of [[nprobeAutotune]] — the LEFT-join depth spine
    * mirrors the Spark side's always-emitting global aggregates (an
    * empty depth counts 0, never drops its row).
    */
  private def nprobeAutotuneSql: String =
    s"""WITH $ivfCellsCte, anch AS (
       |  SELECT vec_id AS a_id, embedding AS av
       |  FROM embeddings WHERE vec_id < 8
       |), arank AS (
       |  SELECT vec_id AS a_id, label AS cell, rn AS qrn
       |  FROM ranked WHERE vec_id < 8 AND rn <= 3
       |), sims0 AS (
       |  SELECT ar.a_id, ar.qrn, e.vec_id,
       |    ${cosSql("e.embedding", "a.av")} AS sim
       |  FROM embeddings e
       |  JOIN cells c ON c.vec_id = e.vec_id
       |  JOIN arank ar ON ar.cell = c.cell
       |  JOIN anch a ON a.a_id = ar.a_id
       |  WHERE e.vec_id <> ar.a_id
       |), sims AS (SELECT * FROM sims0 WHERE sim IS NOT NULL
       |), ex0 AS (
       |  SELECT a.a_id, e.vec_id,
       |    ${cosSql("e.embedding", "a.av")} AS es
       |  FROM embeddings e CROSS JOIN anch a
       |  WHERE e.vec_id <> a.a_id
       |), ex1 AS (SELECT * FROM ex0 WHERE es IS NOT NULL
       |), exact5 AS (
       |  SELECT a_id, vec_id FROM (
       |    SELECT a_id, vec_id, row_number() OVER (PARTITION BY a_id
       |      ORDER BY es DESC, vec_id) AS r
       |    FROM ex1) WHERE r <= 5
       |), na AS (
       |  SELECT count(DISTINCT a_id) AS n_anchors FROM exact5
       |), probes AS (
       |  SELECT unnest([1, 2, 3]) AS nprobe
       |), top5 AS (
       |  SELECT p.nprobe, s.a_id, s.vec_id,
       |    row_number() OVER (PARTITION BY p.nprobe, s.a_id
       |      ORDER BY s.sim DESC, s.vec_id) AS r
       |  FROM probes p JOIN sims s ON s.qrn <= p.nprobe
       |), hit5 AS (
       |  SELECT t.nprobe FROM top5 t
       |  JOIN exact5 e USING (a_id, vec_id) WHERE t.r <= 5
       |), curve AS (
       |  SELECT p.nprobe, count(h.nprobe) AS sum_hits,
       |    na.n_anchors * 5 AS n_total
       |  FROM probes p
       |  LEFT JOIN hit5 h ON h.nprobe = p.nprobe
       |  CROSS JOIN na
       |  GROUP BY p.nprobe, na.n_anchors
       |), ch AS (
       |  SELECT min(nprobe) AS chosen_nprobe FROM curve
       |  WHERE sum_hits * 100 >= n_total * 40
       |)
       |SELECT CAST(c.nprobe AS INT) AS nprobe,
       |  CAST(c.sum_hits AS BIGINT) AS sum_hits,
       |  CAST(c.n_total AS BIGINT) AS n_total,
       |  CASE WHEN c.n_total = 0 THEN NULL
       |    ELSE round(CAST(c.sum_hits AS DOUBLE) / c.n_total, 6) END
       |    AS recall_at_5,
       |  coalesce(c.nprobe = ch.chosen_nprobe, FALSE) AS chosen
       |FROM curve c CROSS JOIN ch ORDER BY nprobe""".stripMargin
}
