package graft

import org.apache.spark.sql.functions.{concat, lit, when}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guard: the properties SCALE.md claims must stay
  * visible in the executed plans. Bench seconds vary with box load;
  * these assertions are the stable perf signal.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def plan(name: String): String =
    stripInitialPlans(Registry.byName(name).build(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString)

  /** A materialized AQE subtree (e.g. a shared InMemoryRelation some
    * earlier query already executed, isFinalPlan=true) prints BOTH a
    * "== Final Plan ==" and an "== Initial Plan ==" section — the same
    * physical operators TWICE. Drop each initial-plan section (the
    * marker line plus every deeper-indented line under it), or every
    * node-count assertion here becomes sensitive to which test
    * happened to materialize a shared cache first.
    */
  private def stripInitialPlans(p: String): String = {
    def contentIdx(l: String): Int = l.indexWhere(c => !" :+|-".contains(c))
    val out = new StringBuilder
    var skip = -1
    p.split("\n", -1).foreach { l =>
      val ci = contentIdx(l)
      // section content prints at the SAME content index as its marker
      // (the "+- " of "+- == Initial Plan ==" becomes "   " on child
      // lines), so >= — the section is AdaptiveSparkPlan's last child,
      // nothing legitimate follows at that exact level
      if (skip >= 0 && (ci < 0 || ci >= skip)) () // inside a skipped section
      else {
        skip = -1
        if (ci >= 0 && l.startsWith("== Initial Plan ==", ci)) skip = ci
        else { out.append(l); out.append('\n') }
      }
    }
    out.toString
  }

  test("star_q5: all dimension joins broadcast") {
    val p = plan("star_q5_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p.take(400))
    assert(!p.contains("SortMergeJoin"))
  }

  test("top-k queries plan TakeOrderedAndProject, not a global sort") {
    assert(plan("doc_topk_longest").contains("TakeOrderedAndProject"))
    assert(plan("ev_topk_recent").contains("TakeOrderedAndProject"))
    assert(plan("emb_knn_cosine").contains("TakeOrderedAndProject"))
  }

  test("hybrid RRF: both channels heap-reduce before any rank window") {
    val p = plan("emb_hybrid_rrf")
    // one TakeOrderedAndProject per channel plus the final fusion top-10:
    // the corpus never feeds a Window or a global Sort directly
    assert("TakeOrderedAndProject".r.findAllIn(p).size == 3, p.take(900))
    // the rank windows exist but sit ABOVE the bounded channel results
    // (their single-partition sort touches <= HybridTopN rows); the scan
    // side of each channel must not flow into a Window without passing a
    // TakeOrderedAndProject — approximated here by asserting no Exchange
    // feeds a Window from a FileScan-rooted subtree bigger than top-N:
    // the plan has exactly 2 Window nodes, both downstream of the TOPs
    assert("Window".r.findAllIn(p).size >= 2, p.take(900))
  }

  test("aggregations are partial+final (map-side combine)") {
    assert(plan("star_q1_pricing").contains("partial_sum"))
    assert(plan("doc_sentiment_counts").contains("partial_count"))
  }

  test("predicates reach the parquet scan") {
    val p = plan("star_filter_pushdown")
    assert(p.contains("StartsWith") && p.contains("IN (F,O)"), p.take(600))
  }

  test("salted agg is genuinely two-phase") {
    val p = plan("ev_salted_agg")
    assert("HashAggregate".r.findAllIn(p).size == 4, p.take(400))
  }

  test("column pruning: sentiment counts scan reads only text") {
    val p = plan("doc_sentiment_counts")
    assert(p.contains("ReadSchema: struct<text:string>"), p.take(600))
  }

  test("hash-split scan reads only the key column") {
    val p = plan("doc_hash_split_counts")
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"), p.take(600))
  }

  test("contamination check is one scan, no join") {
    val p = plan("dedup_split_contamination")
    assert(!p.contains("Join"), p.take(600))
    assert("FileScan".r.findAllIn(p).size == 1, p.take(600))
  }

  test("crosscheck prunes the text side to candidate ids via broadcast joins") {
    // the round-2 tail: this query once bigrammed the WHOLE corpus to
    // verify 10 pairs. The pinned shape: the documents scan feeds a
    // broadcast LEFT SEMI join on the candidate id set BEFORE any
    // tokenize/bigram work, and the pair set broadcasts into the final
    // lookups — so the text stage scales with candidates, not corpus
    val p = plan("emb_text_crosscheck")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("minhash verify stage prunes to banded candidates via a semi join") {
    val p = plan("dedup_minhash_pairs")
    assert(p.contains("LeftSemi"), p.take(800))
    // the corpus-wide signature pass runs the fused kernel, never the
    // interpreted shingle transform (which only touches candidate rows)
    assert(p.contains("graft_minhash16_shingle"), p.take(800))
  }

  test("doc_profile plans a two-level distinct agg, never an Expand") {
    val p = plan("doc_profile")
    assert(!p.contains("Expand"), p.take(800))
    assert(p.contains("partial_count(distinct") ||
      p.contains("count(distinct"), p.take(800))
  }

  test("star_above_avg_orders_win scans orders exactly once") {
    // the correlated twin pays three fact scans (Catalyst decorrelates
    // each scalar subquery into its own month aggregate + join); the
    // window form is pinned to one scan + one month-key exchange
    val p = plan("star_above_avg_orders_win")
    assert("FileScan".r.findAllIn(p).size == 1, p.take(800))
    assert(!p.contains("Join"), p.take(800))
    // and the correlated twin really is the decorrelation exercise —
    // r14: the two scalar subqueries folded into ONE correlated LATERAL
    // subquery over a pre-derived month column, so Catalyst synthesizes
    // one month domain + one month aggregate joined back: three fact
    // scans (spine + domain + aggregate), down from four, and both
    // joins broadcast (no SortMergeJoin, no fact-side sort)
    val corr = plan("star_above_avg_orders")
    assert("FileScan".r.findAllIn(corr).size == 3, corr.take(800))
    assert(!corr.contains("SortMergeJoin"), corr.take(800))
  }

  test("13-gram decontamination broadcasts the eval gram set") {
    // the corpus side must never shuffle: the only join is a broadcast
    // of the (small) benchmark gram set into the train-side explode
    val p = plan("doc_eval_overlap_13gram")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("centroid outliers: GroupedTopK bounds the per-label ranking") {
    val p = plan("emb_centroid_outliers")
    assert(p.contains("GroupedTopK"), p.take(800))
    // the centroid table broadcasts back; the corpus-sized explode never
    // sort-merge-joins
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("multi-knn: GroupedTopK, no typed aggregate") {
    val p = plan("emb_multi_knn")
    assert(p.contains("GroupedTopKFinal"), p.take(1200))
    for (typed <- Seq("AppendColumns", "DeserializeToObject", "ObjectHashAggregate"))
      assert(!p.contains(typed), s"$typed\n${p.take(1200)}")
  }

  test("pii density is scan + one aggregation, no join") {
    val p = plan("doc_pii_density")
    assert(!p.contains("Join"), p.take(600))
    assert("FileScan".r.findAllIn(p).size == 1, p.take(600))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      p.take(600))
  }

  test("ev_zorder_layout scan reads only the two dimension columns") {
    val p = plan("ev_zorder_layout")
    // shape-agnostic on ts's physical type (the testdata has shipped ts as
    // raw nanos bigint, NTZ micros, and UTC micros across regenerations):
    // assert the pruning itself — exactly ts + user_id reach the scan
    val read = "ReadSchema: struct<(.*?)>".r.findFirstMatchIn(p)
      .map(_.group(1)).getOrElse("")
    val cols = read.split(",").map(_.takeWhile(_ != ':').trim).toSet
    assert(cols == Set("ts", "user_id"), s"ReadSchema was <$read>")
    assert(p.contains("partial_min"), p.take(800))
  }

  test("doc_bpe_merge_ranks: pair explode runs over the vocab, not the stream") {
    val p = plan("doc_bpe_merge_ranks")
    // top-down: pair Generate ABOVE the tf exchange, token Generate below —
    // the corpus-sized explode is the token one; the pair explode must see
    // only the post-shuffle distinct vocabulary
    val iPairGen = p.indexOf("Generate")
    val iExchange = p.indexOf("Exchange hashpartitioning(t#", iPairGen)
    val iTokGen = p.indexOf("Generate", iExchange)
    assert(iPairGen >= 0 && iExchange > iPairGen && iTokGen > iExchange,
      p.take(1200))
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
    assert(p.contains("partial_count"), p.take(400))
  }

  test("token lineages run the one-pass kernel, no regex in the hot path") {
    Seq("doc_fingerprint", "doc_token_count", "dedup_exact_stats").foreach { q =>
      val p = plan(q)
      assert(p.contains("graft_norm_tokens"), s"$q: ${p.take(400)}")
      assert(!p.contains("regexp_replace"), s"$q: ${p.take(400)}")
    }
  }

  test("dim filter prunes fact PARTITIONS at runtime (dynamic partition pruning)") {
    // The static pruning twin lives in BucketingSpec (literal predicate ->
    // PartitionFilters). This pins the RUNTIME variant a star join needs at
    // 100 TB: the fact side is partition-laid-out on the join key, the dim
    // filter is only known after planning, and Catalyst must inject a
    // dynamicpruningexpression into the fact scan so only dim-surviving
    // partitions are read — without it, a 1%-selective dim filter still
    // scans 100% of the fact layout.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    spark.range(20000).select(($"id" % 20).as("k"), $"id".as("v"))
      .write.partitionBy("k").mode("overwrite").parquet(s"$dir/fact")
    spark.range(20).select($"id".as("k"), concat(lit("n"), $"id").as("name"))
      .write.mode("overwrite").parquet(s"$dir/dim")
    val joined = spark.read.parquet(s"$dir/fact")
      .join(spark.read.parquet(s"$dir/dim").filter($"name" === "n3"), "k")
    joined.queryExecution.toRdd.count()
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruningexpression"), p.take(1200))
  }

  test("selective join side injects a runtime bloom filter into the big scan") {
    // Shuffle joins where neither side broadcasts still shouldn't ship the
    // whole big side: a bloom filter built from the selective side's keys
    // filters the big side MAP-SIDE, before its shuffle write. Thresholds
    // forced so the local toy takes the path a 100 TB shuffle join would.
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.range(50000).select($"id".as("k"), $"id".as("w"))
        .write.mode("overwrite").parquet(s"$dir/fact")
      val fact = spark.read.parquet(s"$dir/fact")
      val selective = spark.read.parquet(s"$dir/fact")
        .filter($"w" % 1000 === 0).select($"k".as("k2"))
      val p = fact.join(selective, $"k" === $"k2")
        .queryExecution.executedPlan.toString
      assert(p.contains("bloom_filter_agg"), p.take(1200))
      assert(p.contains("might_contain"), p.take(1200))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("AQE splits a skewed fact-fact sort-merge join at runtime") {
    // Complements the salted-agg pattern: for JOIN skew you don't salt by
    // hand — you let AQE's OptimizeSkewedJoin split the oversized
    // partition. Thresholds are forced low so a local[..] toy exhibits
    // what a 100 TB hot key would.
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // hot key 0 carries 50k of 60k left rows; right side is uniform
      val left = spark.range(60000)
        .select(when($"id" < 50000, 0L).otherwise($"id").as("k"),
          $"id".as("lv"))
      val right = spark.range(10000).select(($"id" % 100).as("k"),
        $"id".as("rv"))
      val joined = left.join(right, "k")
      // execute THIS QueryExecution (a .write/.count would plan its own),
      // so the adaptive plan below is the final, post-runtime-replan one
      joined.queryExecution.toRdd.count()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), p.take(1500))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("anomaly windows: AQE reuses the bucket stage — events scanned once") {
    // The 3-number global stat derives from the SAME bucket-count
    // aggregate the output rows come from; at plan time the subtree
    // appears twice, and AQE must dedupe the shuffle stage at runtime so
    // the corpus is scanned and window-aggregated exactly once.
    val df = Registry.byName("ev_anomaly_windows")
      .build(spark, TestSpark.sf0001)
    df.queryExecution.toRdd.count()
    val full = df.queryExecution.executedPlan.toString
    // toString prints "== Final Plan ==" then "== Initial Plan =="; only
    // the final section reflects what actually ran
    val p = full.substring(0, math.max(full.indexOf("== Initial Plan =="), 0)
      match { case 0 => full.length; case i => i })
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      p.take(1500))
    assert("FileScan".r.findAllIn(p).size == 1, p.take(1500))
  }

  test("transition matrix: one user_id exchange feeds the sequence window") {
    val p = plan("ev_transition_matrix")
    // the per-user ordering shuffle happens once; the (from, to) agg is
    // partial-agg'd so the second exchange moves |event_type|^2 rows
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      p.take(1500))
    assert(p.contains("Window"), p.take(1500))
    assert(p.contains("partial_count"), p.take(1500))
  }

  test("quality gate is scan-speed: one scan, only the final sort exchanges") {
    val p = plan("doc_quality_gate")
    assert("FileScan".r.findAllIn(p).size == 1, p.take(1200))
    // the single Exchange is the output ORDER BY's range partitioning —
    // every signal (incl. all four language counts) is a narrow map
    assert("Exchange".r.findAllIn(p).size == 1, p.take(1200))
    assert(p.contains("rangepartitioning"), p.take(1200))
  }

  test("drift monitor: both half-centroids from ONE scan via conditional aggs") {
    val p = plan("emb_drift_by_label")
    assert("FileScan".r.findAllIn(p).size == 1, p.take(1200))
    assert(p.contains("partial_"), p.take(1200))
  }

  test("weighted sample: one scan, one lang shuffle, no join") {
    val p = plan("doc_weighted_sample")
    // cum_before and w_total are frames over the SAME lang partitioning;
    // the probe index explodes per row — no second lineage, no join
    assert("FileScan".r.findAllIn(p).size == 1, p.take(1200))
    assert("hashpartitioning\\(lang".r.findAllIn(p).size == 1, p.take(1200))
    assert(!p.contains("Join"), p.take(1200))
  }

  test("inverted index: distinct-per-doc explode, partial term agg, pruned scan") {
    val p = plan("doc_inverted_index")
    // blow-up bounded by unique terms per doc: array_distinct runs
    // UNDER the Generate (explode), never after it
    val gen = p.indexOf("Generate")
    val dis = p.indexOf("array_distinct")
    assert(gen >= 0 && dis >= 0 && dis > gen, p.take(1500))
    // collect_list aggregates partially (ObjectHashAggregate) before the
    // term shuffle, and the scan reads only (doc_id, text)
    assert(p.contains("ObjectHashAggregate"), p.take(1500))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      p.take(1500))
  }

  test("ORC round trip: the n_chars predicate reaches the ORC scan") {
    val p = plan("doc_orc_roundtrip")
    assert(p.toLowerCase.contains("orc"), p.take(1200))
    // stripe/row-group stats skip: both the null guard and the range
    // predicate are pushed, not evaluated row-by-row above the scan
    assert(p.contains("GreaterThanOrEqual(n_chars,200)"), p.take(1200))
  }

  test("partitioned scan: lang IN (…) prunes at the directory level") {
    val p = plan("doc_partitioned_scan")
    // the filter shows up as a NON-EMPTY PartitionFilters list on the
    // scan (directory pruning — files of other languages are never
    // listed), NOT as a data Filter above it. [^\]]* keeps the match
    // inside the bracket: a greedy .* would sail past an empty
    // "PartitionFilters: []" to the 'lang' in PushedFilters/ReadSchema
    // on the same line and pass with pruning entirely absent.
    assert("PartitionFilters: \\[[^\\]]*lang".r.findFirstIn(p).isDefined,
      p.take(1200))
    assert(!p.contains("PushedFilters: [In(lang"), p.take(1200))
  }

  test("correlated subqueries decorrelate to aggregate + join, no per-row re-scan") {
    val p = plan("star_above_avg_orders")
    // DecorrelateInnerQuery: the correlated LATERAL subquery becomes ONE
    // month-level aggregate joined back — never a nested-loop re-scan
    // (r14: was two separate decorrelated scalar subqueries = two
    // aggregates + two joins; the fold halves the aggregate exchanges)
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1200))
    assert("Join".r.findAllIn(p).size >= 1, p.take(1200))
  }

  test("SQ ANN: broadcast query row + top-k heap, no shuffle of the corpus") {
    val p = plan("emb_sq_ann")
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin"), p.take(1200))
  }

  test("MRL recall: both channels heap-reduce via TakeOrderedAndProject") {
    val p = plan("emb_mrl_recall")
    assert("TakeOrderedAndProject".r.findAllIn(p).size == 2, p.take(1200))
  }

  test("BQ ANN: Hamming shortlist heap-reduces, rerank joins broadcast") {
    val p = plan("emb_bq_ann")
    // shortlist top-20 by Hamming AND final top-5 by cosine are both
    // TakeOrderedAndProject heaps — the corpus never feeds a global
    // Sort; the signature/query joins are broadcast, never shuffled
    assert("TakeOrderedAndProject".r.findAllIn(p).size == 2, p.take(1200))
    assert(!p.contains("SortMergeJoin"), p.take(1200))
  }

  test("PQ distortion: codebook broadcast, one subspace-keyed agg") {
    val p = plan("emb_pq_distortion")
    // the (j, cid) codebook join must broadcast (PqSub x PqK rows) —
    // a shuffled join here would exchange the corpus-sized code table
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin"), p.take(1200))
  }

  test("bigram surprisal: model joins stay key-local, one doc rollup") {
    val p = plan("doc_bigram_surprisal")
    // no cartesian anywhere (the scalar V rides a broadcast), and the
    // final per-doc rollup is a partial+final hash aggregate
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1200))
  }

  test("pagerank recurrence is driver-side; result is a bounded local relation") {
    // r13 (the MMR convention): build() runs the distributed edge/node
    // builders (persisted, |types|-bounded), collects them, folds the
    // 3 integer iterations in-process, and returns a |types|-row local
    // relation — the unrolled join/agg form paid ~8 exchanges of 32
    // near-empty tasks per iteration over the same bounded rows.
    val p = plan("ev_pagerank")
    assert(!p.contains("Join"), p.take(900))
    assert(!p.contains("Exchange") || p.contains("rangepartitioning"),
      p.take(900))
    assert(!p.contains("FileScan"), p.take(900))
  }

  test("HLL merge: day sketches partial-agg'd, exact side expand-free") {
    val p = plan("ev_hll_partial_merge")
    // the countDistinct-beside-sketch trap would plan an Expand
    // (row duplication); the two-level distinct agg + separate sketch
    // lineages must not
    assert(!p.contains("Expand"), p.take(900))
    assert(p.contains("hll_sketch_agg") || p.contains("HllSketchAgg"),
      p.take(900))
  }

  test("BM25: broadcast stat row + scoring scan + top-10 heap") {
    val p = plan("doc_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(900))
    // the 5-number stats frame reaches the scoring scan as a broadcast
    // (1-row cross join), never a shuffle of the corpus
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p.take(900))
    assert(!p.contains("SortMergeJoin"), p.take(900))
  }

  test("fuzzy pairs: equi-join on the blocking key, never a cross product") {
    val p = plan("dedup_fuzzy_pairs")
    assert(!p.contains("CartesianProduct"), p.take(900))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(900))
  }

  test("compaction plan: window + agg only, no join anywhere") {
    val p = plan("doc_compaction_plan")
    assert(!p.contains("Join"), p.take(900))
    assert(p.contains("partial_count"), p.take(900))
  }

  test("unpivot melts via Expand over pre-aggregated nation rows") {
    val p = plan("star_unpivot_nation")
    assert(p.contains("Expand"), p.take(900))
    assert(p.contains("partial_count"), p.take(900))
  }

  test("MMR: greedy recurrence is driver-side; result is a bounded local relation") {
    // build() runs the distributed shortlist + pairwise-cosine jobs
    // (persisted, bounded at 12 rows / 132 sims) and folds the greedy
    // selection in-process; the returned frame must be the 4-row local
    // relation — the unrolled lazy-join form cost ~2.2 s of planning
    // over the same 12 persisted rows at any scale factor
    val p = plan("emb_mmr_rerank")
    assert(!p.contains("Join"), p.take(900))
    assert(!p.contains("Exchange"), p.take(900))
  }

  test("gap fill: spine explode + one fill window, no cross product") {
    val p = plan("ev_gap_fill")
    assert(p.contains("Generate"), p.take(900)) // sequence explode
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(900))
  }

  test("grouping sets expand once into a partial-agg'd hash agg, no cube blowup") {
    val p = plan("star_grouping_sets")
    // ONE Expand (4 projections — the declared sets, not cube's 2^n)
    assert("Expand".r.findAllIn(p).size == 1, p.take(900))
    assert(p.contains("partial_count"), p.take(900))
  }

  test("nation share: window runs over the nation aggregate, dims broadcast") {
    val p = plan("star_nation_share")
    // fact side: one orders⋈customer shuffle join is acceptable, but the
    // dimension joins must broadcast and the Window must sit above the
    // aggregate (the plan's windows sort |nations| rows, not orders)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(1200))
    assert(p.contains("Window"), p.take(900))
    assert(p.contains("partial_sum"), p.take(900))
  }

  test("ntile quartiles: one event_type exchange feeds the ranking window") {
    val p = plan("ev_ntile_quartiles")
    // the window's partitionBy and the downstream groupBy share the
    // event_type hash partitioning: exactly one exchange on the fact
    // stream (plus AQE readers), then window + partial agg reuse it
    assert(p.contains("Window"), p.take(900))
    assert(p.contains("partial_count"), p.take(900))
  }

  test("candidate-verify stages tokenize AFTER the semi-join prune") {
    // Catalyst does not push a LeftSemi below a Project, so the prune
    // must be built below the tokenize projection explicitly (toksFor):
    // every semi-join's LEFT subtree must be tokenize-free — the
    // corpus-wide signature branch may tokenize, the verify branch
    // tokenizes only survivors.
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    for (q <- Seq("dedup_containment", "dedup_cc_canonical")) {
      // optimize the ANALYZED plan directly: queryExecution.optimizedPlan
      // runs withCachedData first, and once an earlier test in the shared
      // session persist-marks the query's shared frame, an
      // InMemoryRelation replaces the subtree holding the semi-join —
      // the assertion is about the COLD plan shape, so bypass the cache
      // substitution instead of depending on suite order
      val lp = spark.sessionState.optimizer.execute(
        Registry.byName(q).build(spark, TestSpark.sf0001)
          .queryExecution.analyzed)
      val semis = lp.collect { case j: Join if j.joinType == LeftSemi => j }
      assert(semis.nonEmpty, s"$q: expected a semi-join prune")
      for (j <- semis)
        assert(!j.left.toString.contains("graft_norm_tokens"),
          s"$q: tokenize runs below its semi-join prune")
    }
  }

  test("triangles/clustering run on the bounded edge list, corpus shuffles once") {
    for (q <- Seq("ev_triangle_count", "ev_clustering_coeff")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q: ${p.take(900)}")
    }
  }

  test("Q13 distribution: outer join + both aggs partial+final") {
    val p = plan("star_cust_order_dist")
    assert(p.contains("LeftOuter"), p.take(900))
    // per-customer count and the count-of-counts both map-side combine
    assert("partial_count".r.findAllIn(p).size >= 2, p.take(900))
  }

  test("Q15 top supplier: scalar max and supplier dim broadcast back") {
    val p = plan("star_top_supplier")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(900))
    assert(!p.contains("SortMergeJoin"), p.take(900))
    // the shipdate window reaches the lineitem scan
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(900))
  }

  test("two-stage rerank: code-scan heap + shortlist heap, vectors joined broadcast") {
    val p = plan("emb_twostage_rerank")
    // stage-1 top-20 over codes and stage-2 top-5 over the shortlist
    assert("TakeOrderedAndProject".r.findAllIn(p).size == 2, p.take(900))
    // the full-precision vector lookup is a broadcast join of the
    // 20-row shortlist — the corpus-side vectors never shuffle
    assert(p.contains("BroadcastHashJoin"), p.take(900))
    assert(!p.contains("SortMergeJoin"), p.take(900))
  }

  test("prefix Jaccard: corpus-sized join sides shuffle, never broadcast") {
    val p = plan("dedup_prefix_jaccard")
    // the prefix table and the gram-array table are corpus-sized;
    // Catalyst's under-estimate beneath Generate(explode) once planned
    // them as broadcasts (OOM at the 30x probe — SCALE.md round-7
    // section). The pair join and both verify joins must be
    // shuffle-hash; the only broadcast allowed is none at all.
    assert("ShuffledHashJoin".r.findAllIn(p).size >= 3, p.take(1200))
    assert(!p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("IVF+PQ served: probe prunes the persisted index at the directory level") {
    val p = plan("emb_ivfpq_served")
    // the cell IN (…) probe must land as a PartitionFilter on the index
    // scan (only the probed cells' directories are listed — the 100 TB
    // read story), never as a data Filter above it ([^\]]* keeps the
    // match inside the bracket, the doc_partitioned_scan convention)
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(p).isDefined,
      p.take(1500))
    assert(!p.contains("PushedFilters: [In(cell"), p.take(1500))
    // shortlist + rerank both heap-reduce; the rerank joins the bounded
    // shortlist broadcast — the float corpus never shuffles
    assert("TakeOrderedAndProject".r.findAllIn(p).size == 2, p.take(900))
    assert(p.contains("BroadcastHashJoin"), p.take(900))
    assert(!p.contains("SortMergeJoin"), p.take(900))
  }

  test("filtered ANN: metadata predicate pushed INSIDE the pruned code scan") {
    val p = plan("emb_ivfpq_filtered")
    // directory pruning still intact (cell IN probed as PartitionFilter)
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(p).isDefined,
      p.take(1500))
    // the label predicate reaches the SAME scan as a pushed data filter
    // (attribute inlining) — applied before the shortN cut, and never a
    // join against a corpus-sized attribute table
    assert(p.contains(
      s"EqualTo(label,${queries.EmbQueries.FilteredLabel})"), p.take(1500))
    assert("TakeOrderedAndProject".r.findAllIn(p).size == 2, p.take(900))
    assert(!p.contains("SortMergeJoin"), p.take(900))
  }

  test("KS drift and passage rewrite: window pipelines, no join anywhere") {
    for (q <- Seq("ev_ks_drift", "dedup_passage_rewrite")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q: ${p.take(900)}")
      assert("FileScan".r.findAllIn(p).size == 1, s"$q: ${p.take(900)}")
    }
  }

  test("conversion window: semi join on user key, never a cross product") {
    val p = plan("ev_conversion_window")
    assert(p.contains("LeftSemi"), p.take(900))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin") ||
      // the two 1-row count frames may combine via a BNLJ — that's the
      // bounded final row, not the semi join; the semi join itself must
      // be keyed
      p.contains("LeftSemi"), p.take(900))
  }

  test("attribution rolls up the as-of join, channels bounded") {
    val p = plan("ev_attribution_last_touch")
    // the as-of core: a keyed join (no nested loop) + keep-latest window
    assert(!p.contains("CartesianProduct"), p.take(900))
    assert(p.contains("Window"), p.take(900))
    assert(p.contains("partial_count"), p.take(900))
  }

  test("growth curve and join-size audit: single scan, partial aggs, no real join") {
    for (q <- Seq("ev_new_users_curve", "ev_selfjoin_size_audit")) {
      val p = plan(q)
      assert("FileScan".r.findAllIn(p).size == 1, s"$q: ${p.take(900)}")
      assert(p.contains("partial_count") || p.contains("partial_min"),
        s"$q: ${p.take(900)}")
    }
    // the self-join SIZE is computed analytically — no Join node at all
    assert(!plan("ev_selfjoin_size_audit").contains("Join"))
  }

  test("skew audit: 1-row stat broadcast + top-20 heap") {
    val p = plan("ev_skew_audit")
    assert(p.contains("TakeOrderedAndProject"), p.take(900))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(900)) // 1-row side
  }

  test("Q22 idle-rich: scalar stat broadcast + anti join on the key projection") {
    val p = plan("star_idle_rich_customers")
    assert(p.contains("LeftAnti"), p.take(900))
    // the 1-row balance stat broadcasts; the orders side is pruned to
    // the single join-key column at the scan
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(900))
    assert(p.contains("ReadSchema: struct<o_custkey:bigint>"), p.take(900))
  }

  test("IVM: one scan, one lang shuffle, no join — deltas via explode") {
    val p = plan("doc_ivm_lang_counts")
    assert(!p.contains("Join"), p.take(900))
    assert("FileScan".r.findAllIn(p).size == 1, p.take(900))
    assert(p.contains("partial_sum"), p.take(900))
  }

  test("cross-surprisal: reference side aggregated before the token join") {
    val p = plan("doc_cross_surprisal")
    // the per-token join's build side is the vocabulary-sized reference
    // term-frequency aggregate, never raw reference tokens
    assert(p.contains("partial_count"), p.take(900))
    assert(!p.contains("CartesianProduct"), p.take(900))
  }

  test("AUC: centroid broadcast into one scoring scan") {
    val df = Registry.byName("emb_auc_centroid")
      .build(spark, TestSpark.sf0001)
    // execute THIS QueryExecution so the adaptive plan below is final —
    // stage reuse only materializes at runtime
    df.queryExecution.toRdd.count()
    val full = df.queryExecution.executedPlan.toString
    val p = full.substring(0, math.max(full.indexOf("== Initial Plan =="), 0)
      match { case 0 => full.length; case i => i })
    assert(p.contains("partial_avg") || p.contains("partial_sum"),
      p.take(900))
    // the global rank is range-partitioned + offset-joined — NO window
    // at all, so the r5 "moving all data to a single partition"
    // WindowExec can never reappear in this plan
    assert(!p.contains("Window"), p.take(900))
    assert(p.contains("rangepartitioning(d2"), p.take(900))
    // the scoring lineage behind the range exchange runs once; the
    // stats and rank consumers share the materialized stage
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
      p.contains("TableCacheQueryStage"), p.take(1500))
  }

  test("skew split join: hot keys broadcast, cold tail anti-routed, one union") {
    val p = plan("ev_skew_split_join")
    // the hot-key set and the hot dim slice broadcast; the fact stream
    // is routed by LeftAnti (cold) / LeftSemi (hot) against that set and
    // recombined by a single Union under the final partial+final agg. No
    // cartesian anywhere, and the scans stay 3-column pruned.
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(900))
    assert(p.contains("LeftAnti") && p.contains("LeftSemi"), p.take(900))
    assert("Union".r.findAllIn(p).size == 1, p.take(900))
    assert(p.contains("partial_count"), p.take(900))
    assert(!p.contains("CartesianProduct"), p.take(900))
  }

  test("HLL rollup: fine sketches materialize once, coarser grains merge them") {
    val p = plan("ev_hll_rollup")
    // the (day, type) sketch table is persisted (InMemoryRelation /
    // cached stage) and BOTH coarser grains aggregate hll_union_agg over
    // it — partial'd, so the exchange moves merged registers, not rows
    // BOTH grain branches read the cached sketch table (2 cached scans);
    // every partial_hll_sketch_agg occurrence in the string is the
    // cached relation's child plan reprinted under its InMemoryTableScan,
    // so sketch builds == cached scans ⇔ no branch re-sketches raw events
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(1200))
    assert("partial_hll_union_agg".r.findAllIn(p).size >= 2, p.take(1200))
    assert("partial_hll_sketch_agg".r.findAllIn(p).size <=
      "InMemoryTableScan".r.findAllIn(p).size, p.take(1200))
  }

  test("temperature mix: one shuffle to lang grain, stat frame broadcast") {
    val p = plan("doc_temperature_mix")
    // 1-column pruned scan, partial+final count to |lang| rows, the
    // 2-number stat frame broadcast back; integral div end-to-end (the
    // plan must carry div, never a double divide)
    assert(p.contains("ReadSchema: struct<lang:string>"), p.take(900))
    assert(p.contains("partial_count"), p.take(900))
    assert(p.contains("BroadcastExchange"), p.take(900))
    assert(p.contains(" div "), p.take(900))
  }

  test("silhouette: rank bounded by WindowGroupLimit, pivot reuses the window exchange") {
    val p = plan("emb_kmeans_silhouette")
    // the per-vector centroid ranking is cut to rn<=2 BEFORE the
    // exchange (partial+final WindowGroupLimit — Spark's rank-limit
    // pushdown), the a/b pivot is a conditional agg on vec_id sitting
    // directly on the window's partitioning (no self-join, no second
    // vec_id shuffle), and the K-row codebook broadcasts
    assert(p.contains("WindowGroupLimit"), p.take(900))
    assert(p.contains("partial_max"), p.take(900))
    assert(p.contains("BroadcastExchange"), p.take(900))
    assert(!p.contains("SortMergeJoin"), p.take(900))
  }

  test("eval contamination: cached assignment reused, eval side broadcast, heap top-10") {
    val p = plan("emb_eval_contamination")
    // both sides read the memoized kmeans assignment (cached scans),
    // the cluster join broadcasts, and the suspect queue heap-reduces
    // via TakeOrderedAndProject — the corpus is never globally sorted
    assert(p.contains("InMemoryTableScan"), p.take(1200))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(1200))
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
  }

  test("IVF+PQ serving read: ADC broadcast, probed semi-join, bounded heaps") {
    val p = plan("emb_ivfpq_ann")
    // ADC table and probed-cell set broadcast into their joins; both
    // the ADC shortlist cut and the final rerank reduce via
    // per-partition heaps. (The codes x probed-ids corpus join MAY
    // sort-merge — on vec_id, the co-located key, the right shape at
    // scale — but it must be a semi-join, not a widening inner.)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(1200))
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2, p.take(1200))
    assert(p.contains("LeftSemi"), p.take(1200))
  }

  test("label-aware serving: broadcast depth table, heap-bounded top-5, no sort-merge") {
    val p = plan("emb_label_aware_serving")
    // the CORPUS path joins broadcast (depth side table, anchor frame,
    // cell assignment — 4+ BroadcastHashJoins); any sort-merge may only
    // appear between the post-aggregation recall-ledger frames
    // (label-cardinality rows, never corpus) while the depth is
    // derived; the per-query top-5 reduces via the WindowGroupLimit
    // per-partition heap before the rank window, so no query's full
    // candidate list is ever globally sorted
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(1500))
    assert(p.contains("WindowGroupLimit"), p.take(1500))
    // no sort-merge on a corpus key: embedding-table vec_id joins and
    // the cell-assignment join must all be broadcast
    assert(!"SortMergeJoin \\[vec_id".r.findFirstIn(p).isDefined &&
      !"SortMergeJoin \\[cell".r.findFirstIn(p).isDefined, p.take(1500))
  }

  test("span savings: one-pass shared-hash window, band agg partial") {
    val p = plan("dedup_span_savings")
    // r14: the shared-window-hash decision is a min/max window
    // aggregate over the hash partition (ONE corpus tokenize pass) —
    // the old groupBy + LeftSemi probe embedded the tokenize + explode
    // lineage on both sides and ran the corpus pass twice. The band
    // aggregate still partial-aggs before its exchange and no
    // corpus-keyed sort-merge join appears.
    assert(p.contains("Window"), p.take(1500))
    assert(!p.contains("LeftSemi"), p.take(1500))
    assert(p.contains("partial_count"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("exact median: range-partitioned selection, no window, no sort-merge") {
    val p = plan("ev_value_median_exact")
    // the distributed-selection claim: global rank comes from a range
    // exchange + per-partition offsets, never a WindowExec (which
    // would collapse to one partition) and never percentile()'s
    // single-reducer value collection
    assert(!p.contains("Window"), p.take(900))
    assert(p.contains("rangepartitioning(vi"), p.take(900))
    assert(!p.contains("percentile"), p.take(900))
    assert(!p.contains("SortMergeJoin"), p.take(900))
  }

  test("hist quantile merge: two-level aggregation, windows keyed by type") {
    val p = plan("ev_hist_quantile_merge")
    // stage-1 partials (type, pid, bin) then the merge (type, bin):
    // both hash aggregates partial+final, and every window carries a
    // partition spec (the suite-wide global-window guard double-checks)
    assert(p.contains("partial_count"), p.take(900))
    assert(p.contains("partial_sum"), p.take(900))
    assert(p.contains("Window"), p.take(900))
    assert(!p.contains("CartesianProduct"), p.take(900))
  }

  test("suite-wide: global windows only ever sort bounded frames (pinned set)") {
    // A partition-less WindowExec collapses its input to ONE partition —
    // the textbook scale-killer (emb_auc_centroid shipped one through
    // round 5). This guard walks every registered query's physical plan
    // and pins the exact set allowed to plan one; each member's global
    // window provably sorts a bounded frame, never the corpus:
    //   doc_sentiment_pct     — |labels| rows (<= 3) post-aggregation
    //   doc_vocab_coverage    — running share over the bounded top-term set
    //   ev_ks_drift           — binned ECDF, bounded by the value range
    //   ev_new_users_curve    — running sum over the day domain
    //   emb_hybrid_rrf        — rank over TakeOrderedAndProject top-50s
    //   emb_rrf_rank_quality  — inherits both + rank over the fused top-10
    //   emb_ndcg_eval         — position re-rank over four 5-row
    //                           TakeOrderedAndProject outputs
    // Adding a new global window anywhere else fails here and must be
    // consciously whitelisted (or range-partitioned like emb_auc).
    import org.apache.spark.sql.execution.window.WindowExec
    val allowed = Set("doc_sentiment_pct", "doc_vocab_coverage",
      "ev_ks_drift", "ev_new_users_curve", "emb_hybrid_rrf",
      "emb_rrf_rank_quality", "emb_ndcg_eval")
    val hits = Registry.all.flatMap { q =>
      // sparkPlan (pre-AQE) so WindowExec nodes are directly collectable
      val p = q.build(spark, TestSpark.sf0001).queryExecution.sparkPlan
      val n = p.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }.size
      if (n > 0) Some(q.name) else None
    }.toSet
    assert(hits == allowed,
      s"unexpected global windows: ${(hits -- allowed).toSeq.sorted}; " +
        s"stale whitelist entries: ${(allowed -- hits).toSeq.sorted}")
  }

  test("suite-wide: Expand only ever multiplies bounded inputs (pinned set)") {
    // ExpandExec multiplies every input row by its projection count —
    // rollup/cube/grouping-sets legitimately pay it, and multi-distinct
    // aggregates are silently rewritten into it (star_q21's original
    // two-countDistinct form planned an Expand x3 over the joined fact
    // rows and went 6x super-linear at the 30x star probe before the
    // two-level rewrite removed it). This guard walks every registered
    // query's physical plan and pins the exact set allowed to Expand;
    // each member multiplies a provably pre-aggregated or dimension-
    // bounded input, never raw fact rows:
    //   star_rollup / star_cube / star_grouping_sets — grouping-set
    //     lattices over the (returnflag, linestatus) / nation grains:
    //     fixed multiplier = |grouping sets| (<= 4), partial-agg'd
    //     before any exchange
    //   star_unpivot_nation — unpivot IS an Expand by definition; the
    //     multiplier is the fixed unpivoted column count over
    //     dimension-bounded (per-nation aggregate) rows
    //   ev_sliding_10min — window(slide < duration) assigns each event
    //     to duration/slide = 2 overlapping windows via Expand x2, the
    //     standard sliding-window plan; multiplier fixed at 2
    // Adding Expand anywhere else (usually by writing two distinct
    // aggregates into one agg) fails here and must be consciously
    // whitelisted or rewritten two-level like Q21.
    import org.apache.spark.sql.execution.ExpandExec
    val allowed = Set("star_rollup", "star_cube", "star_grouping_sets",
      "star_unpivot_nation", "ev_sliding_10min")
    val hits = Registry.all.flatMap { q =>
      val p = q.build(spark, TestSpark.sf0001).queryExecution.sparkPlan
      val n = p.collect { case e: ExpandExec => e }.size
      if (n > 0) Some(q.name) else None
    }.toSet
    assert(hits == allowed,
      s"unexpected Expand: ${(hits -- allowed).toSeq.sorted}; " +
        s"stale whitelist entries: ${(allowed -- hits).toSeq.sorted}")
  }

  test("suite-wide: nested-loop joins only ever build bounded frames") {
    // A BroadcastNestedLoopJoin with a corpus-sized build side is the
    // quiet cousin of the cartesian product — every row of the stream
    // side scans the whole build array. The suite's ~50 BNLJs are all
    // deliberate 1-row/stat/query-frame crosses; this guard proves the
    // property SEMANTICALLY instead of pinning 50 names: each build
    // side must match one of the repo's bounded conventions —
    //   (a) a global (grouping-key-free) aggregate — exactly 1 row;
    //   (b) a Limit / TakeOrderedAndProject / literal LocalRelation;
    //   (c) the query-frame convention: a pushed point/range filter on
    //       vec_id with a small literal (<= 9 query vectors);
    //   (d) the bounded-domain aggregate convention: an aggregate
    //       keyed ONLY on label / cluster-id / partition-id /
    //       event_type columns — |labels|, k (√n cluster count),
    //       |partitions|, or the event-type taxonomy (ev_welch_ttest's
    //       pair frame), never corpus rows;
    //   (e) the ground-truth block convention: a pushed doc_id < N
    //       (N <= 999) literal filter — the deliberately bounded
    //       all-pairs baselines the recall evals compare against
    //       (SCALE.md documents these as NOT the scale path);
    //   (f) the seed-frame convention: a nested BNLJ whose condition
    //       compares vec_id against a 1-row scalar (vec_id < kk, the
    //       √n k-means seed count) — output is kk rows by definition.
    // CartesianProduct is banned outright, everywhere.
    import org.apache.spark.sql.execution.joins.{
      BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.{
      GlobalLimitExec, LocalTableScanExec, SparkPlan,
      TakeOrderedAndProjectExec}
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val vecIdFrame =
      "\\((vec_id#\\d+L? (=|<) \\d|doc_id#\\d+L? < \\d{1,3})\\)".r
    // Walk DOWN only through nodes that cannot increase cardinality
    // (project/filter/sort/exchange wrappers): a bounded node buried
    // under a join or generate does NOT bound the build side, so a
    // corpus-sized `fact.crossJoin(oneRowStats)` build correctly fails
    // even though it contains a global aggregate somewhere below.
    import org.apache.spark.sql.execution.{
      FilterExec, ProjectExec, SortExec, UnaryExecNode}
    import org.apache.spark.sql.execution.exchange.Exchange
    val boundedKeys = Seq("label#", "cid#", "pid#", "event_type#")
    val seedFrame = "vec_id#\\d+L? < \\w+#\\d+L?".r
    def boundedBuild(p: SparkPlan): Boolean = p match {
      case a: BaseAggregateExec if a.groupingExpressions.isEmpty => true
      case a: BaseAggregateExec
          if a.groupingExpressions.forall(g =>
            boundedKeys.exists(g.toString.startsWith)) =>
        true
      case _: LocalTableScanExec => true
      case _: TakeOrderedAndProjectExec => true
      case _: GlobalLimitExec => true
      case f: FilterExec
          if vecIdFrame.findFirstIn(f.condition.toString).isDefined =>
        true
      case j: BroadcastNestedLoopJoinExec
          if j.condition.exists(c =>
            seedFrame.findFirstIn(c.toString).isDefined) =>
        true
      // cardinality-preserving / -reducing wrappers: recurse
      case u @ (_: ProjectExec | _: FilterExec | _: SortExec |
          _: Exchange) =>
        boundedBuild(u.asInstanceOf[UnaryExecNode].child)
      case u: UnaryExecNode
          if u.getClass.getSimpleName.contains("Limit") =>
        true
      // anything else (scan, join, generate, union, ...) is unbounded
      case _ => false
    }
    val offenders = Registry.all.flatMap { q =>
      val p = q.build(spark, TestSpark.sf0001).queryExecution.sparkPlan
      val bad = p.collect {
        case _: CartesianProductExec => "cartesian"
        case j: BroadcastNestedLoopJoinExec
            if !boundedBuild(j.buildSide match {
              case BuildLeft => j.left
              case BuildRight => j.right
            }) =>
          "unbounded-bnlj"
      }
      if (bad.nonEmpty) Some(q.name -> bad.distinct.mkString("+")) else None
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("Q6: all three predicates push to the parquet scan, 4-column read") {
    val p = plan("star_q6_forecast_revenue")
    // shipdate range, discount bounds, and quantity bound all reach the
    // scan stage (the PushedFilters list is elided in toString, so the
    // bounds are asserted via the scan-adjacent Filter + the pushdown
    // list's visible prefix)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(1600))
    assert(p.contains(">= 0.05)") && p.contains("<= 0.07)"), p.take(1600))
    assert(p.contains("< 24.0)"), p.take(1600))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"))
  }

  test("Q21 rewrite: one lineitem pass, no self-join, no distinct Expand") {
    val p = plan("star_q21_sole_late_supplier")
    // the textbook EXISTS/NOT-EXISTS form needs three lineitem reads;
    // the aggregate rewrite reads it once (plus orders + the supplier
    // dim) and never self-joins lineitem
    assert("FileScan parquet".r.findAllIn(p).size == 3, p.take(1200))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, p.take(1200))
    // the pair level already de-duplicates suppliers, so no
    // countDistinct survives to plan an Expand — the 30x star probe
    // measured the Expand form 6x super-linear before this pin
    assert(!p.contains("Expand"), p.take(1200))
    assert(p.contains("partial_count"), p.take(1200))
  }

  test("Q17: correlated per-part average is a window, not a self-join") {
    val p = plan("star_q17_small_qty_revenue")
    assert(p.contains("Window"), p.take(1200))
    // exactly one lineitem scan + the brand-key broadcast side — the
    // per-part stats never come from re-joining lineitem to itself
    assert("FileScan parquet".r.findAllIn(p).size == 2, p.take(1200))
    assert(p.contains("LeftSemi"), p.take(1200))
  }

  test("Q10: customer enrichment joins the per-custkey aggregate, not facts") {
    val p = plan("star_q10_returned_revenue")
    // revenue aggregate (partial+final) sits BELOW the customer join;
    // the returnflag filter reaches the lineitem scan
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)")
      || p.contains("EqualTo(l_returnflag,R)"), p.take(1600))
    assert(p.contains("partial_sum"), p.take(1600))
    assert(p.contains("TakeOrderedAndProject"), p.take(1600))
  }

  test("dim variance: one scan, one partial-agg'd dim shuffle, no join") {
    val p = plan("emb_dim_variance")
    assert("FileScan".r.findAllIn(p).size == 1, p.take(900))
    assert(p.contains("partial_sum"), p.take(900))
    assert(!p.contains("Join"), p.take(900))
  }

  test("decayed counts: 1-row max-ts broadcast, partial-agg'd type shuffle") {
    val p = plan("ev_decayed_counts")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(900)) // 1-row mx
    assert(p.contains("partial_count"), p.take(900))
    assert(!p.contains("SortMergeJoin"), p.take(900))
  }

  test("MG verdict: summary side broadcast into the exact-count check") {
    // build() runs the MG pass itself (two small jobs); the returned
    // verification frame must broadcast the <= k-entry summary, never
    // shuffle it against the vocabulary
    val p = plan("doc_mg_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"), p.take(900))
    assert(p.contains("partial_count"), p.take(900))
    assert(!p.contains("SortMergeJoin"), p.take(900))
  }

  test("covariance top-k: one GramAgg pass, result is a bounded local relation") {
    // build() folds the corpus through the fixed-buffer Gram aggregator
    // (post-aggregation scalar); the returned frame must be the bounded
    // 20-row local relation — no join, no shuffle, no row expansion
    val p = plan("emb_covariance_topk")
    assert(!p.contains("Join"), p.take(900))
    assert(!p.contains("Exchange"), p.take(900))
    assert(!p.contains("Generate"), p.take(900)) // no explode anywhere
  }

  test("HLL intersection: sketch scans partial-agg, scalars cross via broadcast") {
    val p = plan("ev_hll_intersection")
    // every crossJoin side is a 1-row aggregate; no real join shape
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(900))
    assert(!p.contains("SortMergeJoin"), p.take(900))
    assert(!p.contains("CartesianProduct"), p.take(900))
  }

  test("winnowing selection: one scan, doc_id-only hash exchanges, no join") {
    val p = plan("dedup_winnow_fingerprints")
    // frame-min + gram-count windows and the per-doc aggregates all ride
    // the doc_id partitioning; the only hash exchanges in the plan (also
    // inside the memoized InMemoryRelation, whose cached plan prints in
    // the same dump) cluster on doc_id
    val ex = "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(p).toSeq
    assert(ex.nonEmpty && ex.forall(_.contains("doc_id")), ex.mkString("; "))
    assert(p.contains("Window"), p.take(600))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(900))
    assert("FileScan parquet".r.findAllIn(p).size <= 1, p.take(900))
  }

  test("winnowing pairs: bucket-capped equi-join, never a cartesian") {
    val p = plan("dedup_winnow_shared_pairs")
    // the [2, MaxBucket] cap is a sel_h-partitioned count window; the
    // pair stage is an equi-join on sel_h — an uncapped or key-less
    // formulation would surface as a nested-loop/cartesian here
    assert(p.contains("Window"), p.take(600))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(900))
  }

  test("SCD-2 history: one scan, one doc_id window chain, no join") {
    val p = plan("doc_scd2_history")
    val ex = "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(p).toSeq
    assert(ex.nonEmpty && ex.forall(_.contains("doc_id")), ex.mkString("; "))
    assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(900))
    assert(!p.contains("Join"), p.take(900))
  }

  test("OHLC bars: one scan, one (bucket, type) exchange for both windows") {
    val p = plan("ev_ohlc_bars")
    val ex = "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(p).toSeq
    // the ascending row_number window, the partition-count window, and
    // the final agg all cluster on (bucket_s, event_type): exactly one
    // data exchange, and no descending twin sort exists
    assert(ex.size == 1 && ex.head.contains("bucket_s") &&
      ex.head.contains("event_type"), ex.mkString("; "))
    assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(900))
    assert(!p.contains("Join"), p.take(900))
  }

  test("winsorized stats: percentile bounds broadcast back, no shuffle join") {
    val p = plan("ev_value_winsorized")
    assert(p.contains("BroadcastHashJoin"), p.take(900))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(900))
  }

  test("pipeline funnel: partitioned windows, broadcast decontam probe") {
    val p = plan("doc_pipeline_funnel")
    // the two rank/cumsum windows are keyed ((fp,q3) and lang) — the
    // suite-wide global-window guard would catch a partition-less one;
    // the decontamination stage is the broadcast semi probe, and the
    // 7-row unpivot is a Generate (stack), never an Expand
    assert(p.contains("LeftSemi"), p.take(1200))
    assert("BroadcastExchange".r.findAllIn(p).size >= 1, p.take(1200))
    assert(p.contains("Generate"), p.take(1200))
    assert(!p.contains("Expand") && !p.contains("CartesianProduct"),
      p.take(1200))
  }

  test("Q2: part filter semi-joins before the agg, per-part min is a window") {
    val p = plan("star_q2_min_cost_supplier")
    // the correlated min becomes one l_partkey window over the filtered
    // (part,supp) aggregate — no second aggregate, no min-match self-join
    assert(p.contains("Window"), p.take(1200))
    assert(p.contains("LeftSemi"), p.take(1200))
    assert(!p.contains("SortMergeJoin"), p.take(1200))
    // lineitem once + part twice (semi filter + final name lookup) +
    // supplier/nation/region broadcast chain
    assert("FileScan parquet".r.findAllIn(p).size == 6, p.take(1200))
  }

  test("Q11: region suppliers semi-join the fact, total crosses as 1 row") {
    val p = plan("star_q11_important_stock")
    assert(p.contains("LeftSemi"), p.take(1200))
    assert(p.contains("partial_sum"), p.take(1200))
    // the grand total joins back as a 1-row identity broadcast — never
    // a shuffled or cartesian form
    assert(p.contains("IdentityBroadcastMode"), p.take(1200))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(1200))
  }

  test("Q13: zero-order customers survive via LeftOuter, aggs are two-level") {
    val p = plan("star_q13_order_distribution")
    assert(p.contains("LeftOuter"), p.take(1200))
    assert(p.contains("partial_count"), p.take(1200))
    // the distribution re-agg shuffles on c_count only after the
    // per-custkey partial, never the raw join output
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p.take(1200))
  }

  test("Q15: the max side reuses the revenue exchange — one lineitem scan") {
    val df = Registry.byName("star_q15_top_supplier")
      .build(spark, TestSpark.sf0001)
    df.collect() // AQE stage reuse is a runtime decision; force the run
    // the adaptive plan string appends the pre-adaptive "Initial Plan"
    // (which always shows both scans) — assert on the final section only
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("ReusedExchange"), p.take(1500))
    assert("FileScan parquet \\[l_suppkey".r.findAllIn(p).size == 1,
      p.take(1500))
  }

  test("Q22: pool stats cross as 1 row, dormancy is a pruned anti join") {
    val p = plan("star_q22_dormant_customers")
    assert(p.contains("LeftAnti"), p.take(1200))
    assert(p.contains("IdentityBroadcastMode"), p.take(1200))
    // the nationkey IN-set and the orderdate bound both reach their scans
    assert(p.contains("In(c_nationkey") || p.contains("c_nationkey#"),
      p.take(1200))
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p.take(1600))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }
}
