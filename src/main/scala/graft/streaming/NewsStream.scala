package graft.streaming

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.streaming.sources.{MemoryPlan, MemorySink}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.fs.NioLocalFileSystem
import graft.pipeline.NewsPipeline
import graft.schema.NewsArticle

/** row/state shapes for the hamming-tolerant streaming near-dup */
private[streaming] case class FpBandRow(
    id: String, event_ts: java.sql.Timestamp, fp: Long, band: Int, key: Long)
private[streaming] case class BandVerdict(
    id: String, event_ts: java.sql.Timestamp, fp: Long, dup: Boolean)
/** one band-bucket state entry: fingerprint + its event-time millis */
private[streaming] case class BandEntry(fp: Long, tsMs: Long)
/** The band stage of the hamming-tolerant near-dup as a Spark 4
  * StatefulProcessor (transformWithState): state per (band, key) bucket
  * is the list of fingerprints seen inside the watermark; an arrival is
  * flagged dup when any bucket entry is within hamming
  * SimHashBands.MaxHamming. Event-time timers expire whole buckets once
  * the watermark passes their newest entry + delay. transformWithState
  * (unlike flatMapGroupsWithState) declares its output event-time
  * column, so the downstream consensus aggregation chains without
  * disabling any correctness check — the reason this API replaced the
  * FMGWS form here. Requires the RocksDB state store provider.
  */
private[streaming] class BandDedupProcessor(delayMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      (Int, Long), FpBandRow, BandVerdict] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var bucket: ListState[BandEntry] = _
  /** expiry of the ONE pending cleanup timer for this bucket — tracked so
    * each batch can delete-then-advance it instead of piling up a fresh
    * timer per batch (state-store bloat on hot keys)
    */
  @transient private var timerAt: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    bucket = getHandle.getListState[BandEntry]("bucket",
      org.apache.spark.sql.Encoders.product[BandEntry], TTLConfig.NONE)
    timerAt = getHandle.getValueState[Long]("timerAt",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: (Int, Long), rows: Iterator[FpBandRow],
      timerValues: TimerValues): Iterator[BandVerdict] = {
    // prune entries the watermark has passed, then test each arrival
    // against the survivors (and earlier same-batch rows, in
    // deterministic keep-first order)
    val wm = timerValues.getCurrentWatermarkInMs()
    var entries = bucket.get().filter(_.tsMs >= wm).toList
    val out = rows.toSeq.sortBy(r => (r.event_ts.getTime, r.id)).map { r =>
      val dup = entries.exists(e =>
        java.lang.Long.bitCount(e.fp ^ r.fp) <= graft.functions.SimHashBands.MaxHamming)
      entries = BandEntry(r.fp, r.event_ts.getTime) :: entries
      BandVerdict(r.id, r.event_ts, r.fp, dup)
    }
    bucket.put(entries.toArray)
    // one live timer per bucket: advance (delete + re-register) rather
    // than stacking a new timer every batch — a hot key would otherwise
    // accumulate one pending timer per micro-batch until each expires
    val expiry = entries.map(_.tsMs).max + delayMs
    if (!timerAt.exists()) {
      getHandle.registerTimer(expiry)
      timerAt.update(expiry)
    } else if (expiry > timerAt.get()) {
      getHandle.deleteTimer(timerAt.get())
      getHandle.registerTimer(expiry)
      timerAt.update(expiry)
    }
    out.iterator
  }

  override def handleExpiredTimer(key: (Int, Long), timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[BandVerdict] = {
    val wm = timerValues.getCurrentWatermarkInMs()
    val live = bucket.get().filter(_.tsMs >= wm).toArray
    timerAt.clear() // the fired timer is gone; next batch re-registers
    if (live.isEmpty) bucket.clear()
    else {
      bucket.put(live)
      // entries the watermark hasn't reached yet still need a cleanup pass
      val expiry = live.map(_.tsMs).max + delayMs
      getHandle.registerTimer(expiry)
      timerAt.update(expiry)
    }
    Iterator.empty
  }
}

/** Structured Streaming surface (SURVEY.md §2.1 S1/S6, §2.2 K1–K4,
  * §2.7): file-directory NDJSON source → the shared NewsPipeline
  * lineage → the reference's four sinks, 10 s processing-time trigger,
  * checkpointed.
  *
  * Scale note: the reference starts four independent queries over one
  * lineage, so each article is listed, parsed, cleaned and scored four
  * times (streaming_pipeline.py:196–241). `startAllSinks` keeps the four
  * sinks but feeds them from ONE query: each micro-batch is computed
  * and collected once, by one Spark job, and its rows go to the JSON
  * sink (written on the driver, committed to Spark's `_spark_metadata`
  * log) and to Spark's memory sink, both idempotent by batch id, so
  * replay stays exactly-once (SURVEY.md §7.3.5).
  *
  * Every sink starter calls `NioLocalFileSystem.install` first, so
  * sessions the engine did not build also write checkpoint files (through
  * Spark's stock manager) and JSON part files fork-free, with Hadoop's
  * `.crc` sidecars, unless the session names its own `file:` classes.
  * `processing_time` comes from `graft.functions.PerBatch`, so a
  * steady stream compiles its generated code once, not per micro-batch.
  */
object NewsStream {

  /** S1: watched-directory NDJSON source with explicit schema. */
  def source(spark: SparkSession, inputDir: String): DataFrame =
    spark.readStream.schema(NewsArticle.schema).json(inputDir)

  def pipeline(spark: SparkSession, inputDir: String): DataFrame =
    NewsPipeline.transform(source(spark, inputDir))

  private val TriggerInterval = "10 seconds"

  /** K1–K4: the reference's four sinks, fed by one streaming query named
    * `memoryTable` (the returned Seq's only element; a second live
    * pipeline on the same table fails to start). Each micro-batch runs
    * one Spark job, a `collect()`; from its rows, in order: the JSON
    * sink writes and commits its part file ([[DriverJsonSink]]: the same
    * `_spark_metadata` log and JSON lines as a `format("json")` query;
    * it comes first because it is the durable sink); Spark's
    * `MemorySink` takes them, read as the temp view `memoryTable`; the
    * console block (K1: `Batch: N` and 5 untruncated rows) and K4's
    * guard, count, 3-row sample and per-label count print. Both sinks
    * skip a batch id they already hold, so a replayed batch is not
    * written twice. The checkpoint is `$checkpointRoot/json`, where the
    * four-query layout kept the JSON sink's, so a restart from that
    * layout resumes its JSON batch ids. `trigger` overridable so tests
    * can use AvailableNow.
    *
    * Scale trade-off: `MemorySink` already holds every row on the driver,
    * so the JSON encoding moves from N write tasks onto the stream
    * thread, and the batch is neither cached nor shipped to a second
    * job. On 4 cores a 4,000-row backlog trigger still drained faster
    * this way than through `FileStreamSink`'s write job (which also
    * ships the session's whole Hadoop conf inside every task); a batch
    * too large for the driver is too large for `MemorySink` first.
    */
  def startAllSinks(
      df: DataFrame,
      outputDir: String,
      checkpointRoot: String,
      trigger: Trigger = Trigger.ProcessingTime(TriggerInterval),
      memoryTable: String = "news_sentiment"): Seq[StreamingQuery] = {
    val spark = df.sparkSession
    // before the sinks: the JSON sink builds its Hadoop conf, and with it
    // both `file:` classes, when it is built
    NioLocalFileSystem.install(spark)
    val json = new DriverJsonSink(spark, s"$outputDir/stream_json", df.schema)
    val memory = new MemorySink
    val header = df.schema.fieldNames.toSeq
    val label = df.schema.fieldIndex("sentiment")
    val query = df.writeStream
      .queryName(memoryTable).outputMode("append")
      .option("checkpointLocation", s"$checkpointRoot/json")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val rows = batch.collect()
        json.addBatch(batchId, rows)
        memory.write(batchId, needTruncate = false, rows)
        println("-------------------------------------------")
        println(s"Batch: $batchId")
        println("-------------------------------------------")
        showRows(header, rows, 5)
        // K4 (streaming_pipeline.py:75–95): guard, count, sample,
        // group-count
        if (rows.nonEmpty) {
          println(s"[batch $batchId] ${rows.length} rows")
          showRows(header, rows, 3)
          val counts = rows.groupBy(r => String.valueOf(r.get(label)))
            .toArray.sortBy(_._1).map { case (l, rs) => Row(l, rs.length) }
          showRows(Seq("sentiment", "count"), counts, counts.length)
        }
        ()
      }
      .start()
    GraftSqlBridge.ofRows(spark,
      MemoryPlan(memory, DataTypeUtils.toAttributes(df.schema)))
      .createOrReplaceTempView(memoryTable)
    Seq(query)
  }

  /** `Dataset.show(n, truncate = false)`'s table for rows already on the
    * driver, so the console and K4 prints run no plan and no job.
    */
  private def showRows(header: Seq[String], rows: Array[Row], n: Int): Unit = {
    val cells = header +: rows.take(n).toSeq.map(_.toSeq.map(String.valueOf))
    val widths = header.indices.map(i => math.max(3, cells.map(_(i).length).max))
    val rule = widths.map("-" * _).mkString("+", "+", "+")
    def line(r: Seq[String]): String =
      r.zip(widths).map { case (c, w) => c.padTo(w, ' ') }.mkString("|", "|", "|")
    val more = if (rows.length > n) Seq(s"only showing top $n rows") else Nil
    println((Seq(rule, line(cells.head), rule) ++ cells.tail.map(line) ++
      (rule +: more)).mkString("", "\n", "\n"))
  }

  /** Beyond-reference stream (SURVEY.md §2.7 gap + §7.1(7)): event-time
    * tumbling window counts with a watermark bounding state.
    */
  def windowedSentimentCounts(df: DataFrame): DataFrame =
    df.withColumn("event_ts", try_to_timestamp(col("publishedAt")))
      .filter(col("event_ts").isNotNull)
      .withWatermark("event_ts", "10 minutes")
      .groupBy(window(col("event_ts"), "5 minutes"), col("sentiment"))
      .agg(count(lit(1)).as("n"))

  /** Beyond-reference: per-window TRENDING rank — the streaming twin of
    * the batch `ev_window_topk_types`. Rank windows are not a
    * streaming-supported operation, so the topology is the production
    * one: the watermarked windowed count (stateful, append mode — only
    * CLOSED windows ever flow downstream) feeds a foreachBatch stage
    * that applies THIS batch function, ranking within each delivered
    * window. Per batch the input is bounded (|labels| rows per closed
    * window), so the rank window partitioned by w_start never sorts
    * more than one window's label counts — at any stream rate.
    */
  def trendingPerWindow(closedCounts: DataFrame, k: Int = 1): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("w_start")
      .orderBy(col("n").desc, col("sentiment"))
    closedCounts
      .select(col("window.start").as("w_start"), col("sentiment"), col("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** Beyond-reference: DECAYED "trending now" leaderboard — the
    * streaming twin of the batch `ev_decayed_counts`. Fold a set of
    * CLOSED windowed counts (the append-mode output
    * `windowedSentimentCounts` delivers, accumulated via foreachBatch /
    * the upsert sink) into one score per label where a window aged by
    * `halflifeWindows` windows contributes at half weight:
    * score = Σ n(w) · 2^-(age_windows div halflifeWindows), ages
    * relative to the NEWEST closed window. The weights are dyadic
    * rationals materialized as integer 2^(40 - bucket) (clamped at 40,
    * the ev_decayed_counts convention), summed as DECIMAL — exact under
    * any fold/merge order, so re-running the fold over replayed state
    * reproduces identical scores (the determinism the upsert-replay
    * machinery needs). Per fold the input is |closed windows| × |labels|
    * rows — bounded state, never the stream.
    */
  def decayedTrendingTotals(closedCounts: DataFrame,
      windowSec: Long = 300L, halflifeWindows: Int = 2): DataFrame = {
    val base = closedCounts.select(
      col("window.start").cast("long").as("ws"),
      col("sentiment"), col("n"))
    val mx = broadcast(base.agg(max(col("ws")).as("mxs")))
    base.crossJoin(mx)
      .withColumn("b",
        least(expr(s"((mxs - ws) div $windowSec) div $halflifeWindows"),
          lit(40L)))
      .withColumn("w40",
        expr("shiftleft(1L, cast(40 - b as int))").cast("decimal(19,0)"))
      .groupBy("sentiment")
      .agg(
        sum(col("w40") * col("n").cast("decimal(19,0)"))
          .cast("decimal(38,0)").cast("long").as("score_w40"),
        sum(col("n")).as("n_total"))
      .orderBy(col("score_w40").desc, col("sentiment"))
  }

  /** Beyond-reference: DISTINCT sources per tumbling window — the
    * streaming twin of the batch `ev_window_distinct_users` (same
    * two-level shape: dedup on (window, key) first, then a plain
    * windowed count). Planned as CHAINED stateful operators —
    * dropDuplicates over (window, lang) with its state bounded by the
    * watermark, feeding a windowed count whose groups finalize in
    * append mode once the watermark passes. The dedup level is exactly
    * the state a per-window HLL sketch would replace at higher
    * cardinalities (the ev_hll_partial_merge trade, streaming form).
    */
  def windowedDistinctLangs(df: DataFrame): DataFrame =
    df.withColumn("event_ts", try_to_timestamp(col("publishedAt")))
      .filter(col("event_ts").isNotNull && col("lang").isNotNull)
      .withWatermark("event_ts", "10 minutes")
      .select(window(col("event_ts"), "5 minutes").as("w"), col("lang"))
      .dropDuplicates("w", "lang")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_langs"))
      .select(col("w.start").as("w_start"), col("n_langs"))

  /** Beyond-reference: per-window DISTRIBUTION drift monitor — the
    * streaming twin of the batch `ev_ks_drift`: compare each tumbling
    * window's language mix against a static reference distribution and
    * flag windows whose L1 share distance exceeds 1/2. All drift
    * arithmetic is cross-multiplied integers (shares are num/shareDen
    * rationals, the deviation is Σ|n·D − num·total| plus the missing
    * reference mass (D − Σ_observed num)·total, and the flag is
    * 2·l1 > total·D) — no float ever. Plan: windowed count (stateful) →
    * stateless broadcast join with the reference shares → second
    * windowed aggregation chained via window_time (Spark's
    * multiple-stateful-operator support); both stateful levels are
    * watermark-bounded and finalize in append mode. The collected
    * per-label parts list is bounded by |labels|, never rows.
    */
  def windowedLangDrift(df: DataFrame, refShares: DataFrame,
      shareDen: Long = 16L): DataFrame = {
    val counts = df
      .withColumn("event_ts", try_to_timestamp(col("publishedAt")))
      .filter(col("event_ts").isNotNull && col("lang").isNotNull)
      .withWatermark("event_ts", "10 minutes")
      .groupBy(window(col("event_ts"), "5 minutes").as("w"), col("lang"))
      .agg(count(lit(1)).as("n"))
    counts
      .join(broadcast(refShares), Seq("lang"), "left_outer")
      .select(col("w"), col("n"),
        coalesce(col("share_num"), lit(0L)).as("num"))
      .groupBy(window(window_time(col("w")), "5 minutes").as("w2"))
      .agg(sum(col("n")).as("n_total"),
        sum(col("num")).as("obs_num"),
        collect_list(struct(col("n"), col("num"))).as("parts"))
      .select(col("w2").getField("start").as("w_start"), col("n_total"),
        (aggregate(col("parts"), lit(0L), (acc, x) =>
          acc + abs(x.getField("n") * shareDen -
            x.getField("num") * col("n_total"))) +
          (lit(shareDen) - col("obs_num")) * col("n_total")).as("l1_num"))
      .select(col("w_start"), col("n_total"), col("l1_num"),
        (col("l1_num") * 2 > col("n_total") * shareDen).as("drift"))
  }

  /** Beyond-reference: windowed A/B experiment counts — the stateful
    * half of the streaming twin of the batch `ev_ab_report` conversion
    * lens (and `ev_ab_conversion_ztest`). Arms split by title-hash
    * parity (the user split a stream without user ids affords);
    * "conversion" = positive sentiment. Watermarked tumbling windows in
    * append mode, so only CLOSED windows ever reach the z² stage.
    */
  def windowedAbCounts(df: DataFrame): DataFrame =
    df.withColumn("event_ts", try_to_timestamp(col("publishedAt")))
      .filter(col("event_ts").isNotNull && col("title").isNotNull)
      .withColumn("arm", pmod(xxhash64(col("title")), lit(2)))
      .withWatermark("event_ts", "10 minutes")
      .groupBy(window(col("event_ts"), "5 minutes").as("w"), col("arm"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("sentiment") === "positive", 1L)
          .otherwise(0L)), lit(0L)).as("conv"))

  /** The z² half: applied per foreachBatch over the CLOSED windowed arm
    * counts (the trendingPerWindow topology — rank/pivot math is not a
    * streaming-supported op, so it runs as a bounded batch function on
    * the append-mode output; per batch the input is <= 2 arm rows per
    * closed window). The statistic is the batch lens's EXACT integer
    * chain — ((ca·nb − cb·na)²·(na+nb)·1000) div
    * (na·nb·(ca+cb)·(na+nb−ca−cb)), truncating division at milli
    * scale, NULL on a degenerate pool (one-arm window / nobody /
    * everybody converts), significant at z² >= 3.842 as an integer
    * compare. StreamingSpec pins equality against an independent
    * BigInt re-derivation over the same closed windows.
    */
  def abZtestPerWindow(closedCounts: DataFrame): DataFrame =
    closedCounts
      .select(col("w.start").as("w_start"), col("arm"), col("n"),
        col("conv"))
      .groupBy("w_start")
      .agg(
        coalesce(sum(when(col("arm") === 0, col("n"))), lit(0L))
          .cast("decimal(19,0)").as("na"),
        coalesce(sum(when(col("arm") === 1, col("n"))), lit(0L))
          .cast("decimal(19,0)").as("nb"),
        coalesce(sum(when(col("arm") === 0, col("conv"))), lit(0L))
          .cast("decimal(19,0)").as("ca"),
        coalesce(sum(when(col("arm") === 1, col("conv"))), lit(0L))
          .cast("decimal(19,0)").as("cb"))
      .select(col("w_start"),
        col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"),
        col("ca").cast("long").as("conv_a"),
        col("cb").cast("long").as("conv_b"),
        expr("""CAST(((ca * nb - cb * na) * (ca * nb - cb * na)
            * (na + nb) * 1000)
            div nullif(na * nb * (ca + cb)
              * (na + nb - ca - cb), 0) AS BIGINT)""").as("z2_milli"))
      .withColumn("significant_5pct",
        coalesce(col("z2_milli") >= 3842, lit(false)))

  /** Beyond-reference: gap-based SESSION windows over the stream — the
    * native stateful session operator (merging session state per key,
    * watermark-bounded), the streaming twin of the batch `ev_sessionize`
    * query. Sessions are keyed per sentiment label: articles closer
    * than the gap extend the session; a session emits once the
    * watermark passes its end.
    */
  def sessionizedCounts(df: DataFrame, gap: String = "5 minutes"): DataFrame =
    df.withColumn("event_ts", try_to_timestamp(col("publishedAt")))
      .filter(col("event_ts").isNotNull)
      .withWatermark("event_ts", "10 minutes")
      .groupBy(col("sentiment"), session_window(col("event_ts"), gap).as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("sentiment"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n"))

  /** Beyond-reference: streaming dedup by title with bounded state —
    * fixes the reference's unbounded dashboard-side dedup hazard
    * (SURVEY.md §7.3.6).
    */
  def dedupByTitleWithinWatermark(df: DataFrame): DataFrame =
    df.withColumn("event_ts", try_to_timestamp(col("publishedAt")))
      .filter(col("event_ts").isNotNull)
      .withWatermark("event_ts", "30 minutes")
      .dropDuplicatesWithinWatermark("title")

  /** Beyond-reference: streaming NEAR-dup dedup — drops articles whose
    * cleaned token multiset has the same 64-bit SimHash fingerprint as
    * one already seen inside the watermark (catches re-syndications that
    * reorder or lightly rewrap the same words, which the exact title
    * dedup above misses). The fingerprint is the codegen'd SimHash64
    * kernel, so the scorer adds a narrow per-row column — no extra
    * shuffle beyond dropDuplicates' own state store, and state is
    * watermark-bounded like every stateful op here.
    */
  def dedupBySimhashWithinWatermark(df: DataFrame): DataFrame =
    df.withColumn("event_ts", try_to_timestamp(col("publishedAt")))
      .filter(col("event_ts").isNotNull)
      .withColumn("content_simhash",
        graft.functions.SimHash64.column(
          graft.functions.TextFns.tokens(graft.functions.TextFns.clean(
            concat_ws(" ", col("title"), col("description"))))))
      .withWatermark("event_ts", "30 minutes")
      .dropDuplicatesWithinWatermark("content_simhash")

  /** Beyond-reference: HAMMING-TOLERANT streaming near-dup dedup — the
    * streaming twin of the batch `dedup_simhash_pairs` semantics. The
    * exact variant above only drops identical fingerprints; a
    * 1-bit-different rewrite (the case SimHash exists for) passes
    * through it. Here an article is suppressed when ANY of its
    * SimHashBands.Bands 16-bit band buckets has seen, inside the
    * watermark, a fingerprint within hamming SimHashBands.MaxHamming —
    * the same pigeonhole banding as the batch query (a near-dup at
    * hamming <= 3 MUST share a band, so band-keyed state finds every
    * one without O(n²) comparisons; state per bucket only holds
    * fingerprints that collide on 16 bits, so buckets stay tiny).
    *
    * Two stateful stages: a band-keyed transformWithState
    * StatefulProcessor ([[BandDedupProcessor]]) emits a
    * per-band verdict, then a per-article event-time aggregation keeps
    * articles no band flagged. Both stages are watermark-bounded
    * (event-time timeout prunes band buckets; the consensus agg
    * finalizes once the watermark passes the article's event time —
    * delayed emission is the price of cross-band consensus, the exact
    * variant above emits immediately).
    */
  def dedupNearSimhashWithinWatermark(df: DataFrame,
      delayMs: Long = 30L * 60 * 1000): DataFrame =
    dedupNearFingerprint(
      df.withColumn("event_ts", try_to_timestamp(col("publishedAt")))
        .filter(col("event_ts").isNotNull)
        .withColumn("fp",
          graft.functions.SimHash64.column(
            graft.functions.TextFns.tokens(graft.functions.TextFns.clean(
              concat_ws(" ", col("title"), col("description"))))))
        .select("id", "event_ts", "fp"),
      delayMs)

  /** Core of the hamming-tolerant near-dup (also the unit-test surface):
    * input carries (id string, event_ts timestamp, fp bigint). Output =
    * surviving (id, event_ts, fp), emitted once the watermark passes
    * event_ts. Within a batch, earlier (event_ts, id) order wins — the
    * keep-first convention of every dedup surface here.
    *
    * The band stage is a transformWithState StatefulProcessor
    * ([[BandDedupProcessor]]) using the event-time-column variant, so
    * the downstream consensus aggregation is an OFFICIALLY supported
    * stateful chain (flatMapGroupsWithState would trip Spark's
    * conservative global-watermark pattern check). Requires the RocksDB
    * state store provider
    * (`spark.sql.streaming.stateStore.providerClass =
    * org.apache.spark.sql.execution.streaming.state
    * .RocksDBStateStoreProvider`) — transformWithState's backing store,
    * and the production-grade choice at scale anyway.
    */
  def dedupNearFingerprint(fpDf: DataFrame, delayMs: Long): DataFrame = {
    import graft.functions.SimHashBands._
    val spark = fpDf.sparkSession
    import spark.implicits._
    val bands = fpDf
      .withWatermark("event_ts", s"$delayMs milliseconds")
      .select(col("id"), col("event_ts"), col("fp"),
        posexplode(array((0 until Bands).map(b =>
          shiftright(col("fp"), BandBits * b).bitwiseAND(lit(BandMask))): _*))
          .as(Seq("band", "key")))
    val verdicts = bands.as[FpBandRow]
      .groupByKey(r => (r.band, r.key))
      .transformWithState(new BandDedupProcessor(delayMs),
        "event_ts", org.apache.spark.sql.streaming.OutputMode.Append)
    // cross-band consensus: an article survives iff NO band flagged it.
    // transformWithState's event-time-column variant already carries the
    // watermark on event_ts (re-declaring it is an error), so grouping
    // on that column finalizes each article in append mode once the
    // watermark passes it.
    verdicts.toDF()
      .groupBy(col("id"), col("event_ts"), col("fp"))
      .agg(max(col("dup")).as("dup"))
      .filter(!col("dup"))
      .select("id", "event_ts", "fp")
  }

  /** Beyond-reference: stream-static enrichment join — the streaming
    * articles joined to a static dimension (e.g. per-source metadata).
    * Catalyst broadcasts the static side into every micro-batch: no
    * shuffle of the stream, and the join works in append mode with no
    * watermark requirement (unlike stream-stream joins).
    */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
      key: String = "sentiment"): DataFrame =
    stream.join(
      org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  /** Beyond-reference: watermarked stream-stream inner join — e.g.
    * matching a corrections/updates stream to the original articles by
    * title within a bounded event-time window. Both sides carry
    * watermarks and the join predicate bounds event-time distance, so
    * state is evictable (the unbounded-state hazard of naive
    * stream-stream joins). Output columns: title, left id, right id,
    * and both event times.
    */
  def joinStreamsWithinWindow(
      left: DataFrame, right: DataFrame,
      watermark: String = "30 minutes",
      maxLagSeconds: Long = 600): DataFrame = {
    val l = left
      .withColumn("l_ts", try_to_timestamp(col("publishedAt")))
      .filter(col("l_ts").isNotNull)
      .withWatermark("l_ts", watermark)
      .select(col("title"), col("id").as("l_id"), col("l_ts"))
    val r = right
      .withColumn("r_ts", try_to_timestamp(col("publishedAt")))
      .filter(col("r_ts").isNotNull)
      .withWatermark("r_ts", watermark)
      .select(col("title").as("r_title"), col("id").as("r_id"), col("r_ts"))
    l.join(r,
      col("title") === col("r_title") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $maxLagSeconds seconds"))
      .select("title", "l_id", "r_id", "l_ts", "r_ts")
  }

  /** Left-outer variant: articles with no correction within the lag
    * window are EMITTED WITH NULLS once the watermark passes their join
    * window (unlike the inner join, which emits matches immediately) —
    * the "unmatched after timeout" pattern.
    */
  def joinStreamsLeftOuter(
      left: DataFrame, right: DataFrame,
      watermark: String = "30 minutes",
      maxLagSeconds: Long = 600): DataFrame = {
    val l = left
      .withColumn("l_ts", try_to_timestamp(col("publishedAt")))
      .filter(col("l_ts").isNotNull)
      .withWatermark("l_ts", watermark)
      .select(col("title"), col("id").as("l_id"), col("l_ts"))
    val r = right
      .withColumn("r_ts", try_to_timestamp(col("publishedAt")))
      .filter(col("r_ts").isNotNull)
      .withWatermark("r_ts", watermark)
      .select(col("title").as("r_title"), col("id").as("r_id"), col("r_ts"))
    l.join(r,
      col("title") === col("r_title") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $maxLagSeconds seconds"),
      "left_outer")
      .select("title", "l_id", "r_id", "l_ts", "r_ts")
  }

  /** Beyond-reference: arbitrary stateful processing via
    * mapGroupsWithState — cumulative per-sentiment totals maintained in
    * the state store across micro-batches (the custom-state API surface
    * SURVEY.md §2.7 notes the reference recomputes per batch instead).
    */
  def runningSentimentTotals(df: DataFrame): org.apache.spark.sql.Dataset[(String, Long)] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("sentiment")).as[String]
      .groupByKey(identity)
      .mapGroupsWithState[Long, (String, Long)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[String],
            state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          (key, total)
      }
  }

  // ---- streaming MERGE/upsert sink -----------------------------------

  /** Streaming SCD-1 upsert sink — the streaming twin of the batch
    * `doc_upsert_merge` query: each micro-batch merges into a versioned
    * parquet snapshot (keep-latest per key), the pattern that maintains
    * a serving corpus from a re-crawl stream without a transactional
    * table format. Exactly-once story (the foreachBatch contract —
    * batchId is replay-stable, sinks must be idempotent by it):
    *
    *  - snapshot `v=<batchId>` is derived ONLY from the previous
    *    committed snapshot + this batch, then the `_latest` pointer file
    *    is committed by atomic rename — readers always see a complete
    *    snapshot;
    *  - a replayed batch whose id is <= the committed pointer is
    *    SKIPPED (already applied); a replay after a crash between
    *    snapshot write and pointer commit recomputes the same snapshot
    *    deterministically and overwrites it.
    *
    * At scale the anti-join+union rewrite costs one key-shuffle per
    * side per batch (zero with a bucketed snapshot layout), and
    * snapshot versions are pruned to the trailing `KeepVersions`.
    * `version` must order a key's revisions (and be unique per key
    * within a batch); ties are not defended.
    */
  val KeepVersions = 3

  private def latestPath(stateDir: String) = s"$stateDir/_latest"

  /** committed snapshot id, if any (hadoop FS — works on HDFS/S3A/local) */
  def committedVersion(spark: SparkSession, stateDir: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(latestPath(stateDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim.toLong)
      finally in.close()
    }
  }

  /** current merged state (empty iff no batch has committed yet) */
  def readUpsertState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    committedVersion(spark, stateDir).map(v =>
      spark.read.parquet(s"$stateDir/v=$v"))

  /** time travel: the state as of snapshot `version`, while it is still
    * inside the KeepVersions retention window. Reading a pruned (or
    * never-committed) version throws — callers see a missing-path
    * error, never a silently-wrong newer snapshot.
    */
  def readUpsertStateAt(spark: SparkSession, stateDir: String,
      version: Long): DataFrame =
    spark.read.parquet(s"$stateDir/v=$version")

  /** CDC changelog between two retained snapshots: one row per changed
    * key with op ∈ insert | update | delete (delete = tombstoned in
    * between). The diff is a full-outer join on the key — two bounded
    * snapshot scans, one key shuffle each, independent of how many
    * batches separate the versions; `update` compares the version
    * column only (values are whatever the key's newest revision wrote).
    */
  def upsertChanges(spark: SparkSession, stateDir: String, fromV: Long,
      toV: Long, key: String, version: String): DataFrame = {
    val a = readUpsertStateAt(spark, stateDir, fromV)
      .select(col(key).as("k"), col(version).as("v_from"))
    val b = readUpsertStateAt(spark, stateDir, toV)
      .select(col(key).as("k"), col(version).as("v_to"))
    a.join(b, Seq("k"), "full_outer")
      .withColumn("op",
        when(col("v_from").isNull, "insert")
          .when(col("v_to").isNull, "delete")
          .when(col("v_from") =!= col("v_to"), "update"))
      .filter(col("op").isNotNull)
      .select(col("k").as(key), col("op"), col("v_from"), col("v_to"))
  }

  /** one micro-batch's merge — public so tests (and backfills) can drive
    * it without a stream.
    *
    * `tombstone`: optional boolean column marking delete requests (the
    * GDPR/right-to-be-forgotten path). A key whose NEWEST revision in
    * the batch is a tombstone is REMOVED from the snapshot — the
    * anti-join already evicts its old row, the tombstone row itself is
    * simply not re-inserted (and the flag column never enters the
    * state schema). Delete-then-reinsert across batches works because
    * each batch is applied in order; delete + reinsert inside ONE
    * batch resolves by `version` like any other revision pair.
    */
  def upsertBatch(batch: DataFrame, stateDir: String, key: String,
      version: String, batchId: Long,
      tombstone: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val committed = committedVersion(spark, stateDir)
    if (committed.exists(_ >= batchId)) return // replay of an applied batch
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key).orderBy(col(version).desc_nulls_last)
    val newest = batch
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val upserts = tombstone match {
      case Some(t) =>
        newest.filter(!coalesce(col(t), lit(false))).drop(t)
      case None => newest
    }
    val merged = committed match {
      case Some(v) =>
        spark.read.parquet(s"$stateDir/v=$v")
          .join(newest.select(key), Seq(key), "left_anti")
          .unionByName(upserts)
      case None => upserts
    }
    merged.write.mode("overwrite").parquet(s"$stateDir/v=$batchId")
    // commit the pointer by atomic rename, then prune old snapshots
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(latestPath(stateDir))
    val tmp = new org.apache.hadoop.fs.Path(s"$stateDir/_latest.tmp")
    val fs = dst.getFileSystem(conf)
    val out = fs.create(tmp, true)
    try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, conf)
      .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    val dir = new org.apache.hadoop.fs.Path(stateDir)
    fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("v=") &&
        n.stripPrefix("v=").toLong <= batchId - KeepVersions)
        fs.delete(st.getPath, true)
    }
  }

  def startUpsertSink(
      df: DataFrame,
      stateDir: String,
      checkpoint: String,
      key: String = "id",
      version: String = "publishedAt",
      tombstone: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime(TriggerInterval)): StreamingQuery = {
    NioLocalFileSystem.install(df.sparkSession)
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertBatch(batch, stateDir, key, version, batchId, tombstone)
      }
      .start()
  }

  /** S6: sample-stream generator — drops NDJSON batch files into the
    * watched dir (driver-side utility; the reference fetches from GNews,
    * we synthesize deterministic articles instead — zero egress).
    */
  def writeSampleBatch(dir: String, batchId: Int, rows: Int): Unit = {
    Files.createDirectories(Paths.get(dir))
    val sb = new StringBuilder
    (0 until rows).foreach { i =>
      val id = batchId * 10000 + i
      val tone =
        if (i % 3 == 0) "great success story"
        else if (i % 3 == 1) "terrible crisis failure"
        else "routine market update"
      sb.append(
        s"""{"id":"$id","title":"headline $id","description":"$tone number $id!","url":"https://example.invalid/$id","publishedAt":"2024-01-01T00:${f"${batchId % 60}%02d"}:${f"${i % 60}%02d"}Z","lang":"en","fetched_at":"2024-01-01T00:00:00"}""")
      sb.append('\n')
    }
    Files.write(Paths.get(dir, f"batch_${batchId}%05d.json"),
      sb.toString.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }
}
