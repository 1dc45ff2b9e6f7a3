package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.NewsStream

/** Structured Streaming behavior: file source → pipeline → sinks, plus
  * the beyond-reference watermarked window and bounded-state dedup
  * (SURVEY.md §5.4).
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** A versioned ANN root at `root` whose published v1 is `codes` over
    * the as-built index's centroids and codebook.
    */
  private def publishedV1(root: String, idx: String,
      codes: org.apache.spark.sql.DataFrame): String = {
    codes.write.partitionBy("cell").parquet(s"$root/codes_v1")
    spark.read.parquet(s"$idx/centroids").write.parquet(s"$root/centroids_v1")
    spark.read.parquet(s"$idx/codebook").write.parquet(s"$root/codebook")
    index.IndexStore.publishVersion(spark, root, 1,
      s"$root/centroids_v1", s"$root/codes_v1")
    root
  }

  /** The code rows / centroids the root's manifest publishes. */
  private def publishedCodes(root: String) = index.IndexStore
    .readSegments(spark, index.IndexStore.readManifest(spark, root)._3)
  private def publishedCent(root: String) = spark.read.parquet(
    index.IndexStore.readManifest(spark, root)._2)

  /** Upsert / delete micro-batches through the ANN sink builder. */
  private def upsertSink(stream: org.apache.spark.sql.DataFrame,
      root: String, ckpt: String) =
    graft.streaming.AnnServing.foreachBatchSink(stream, ckpt,
      Trigger.AvailableNow()) { (b, _) =>
      graft.streaming.AnnServing.applyUpsertBatchVersioned(
        b.sparkSession, root, b)
      ()
    }
  private def deleteSink(stream: org.apache.spark.sql.DataFrame,
      root: String, ckpt: String) =
    graft.streaming.AnnServing.foreachBatchSink(stream, ckpt,
      Trigger.AvailableNow()) { (b, _) =>
      graft.streaming.AnnServing.applyDeleteBatchVersioned(
        b.sparkSession, root, b)
      ()
    }

  test("file source -> pipeline -> memory sink, incremental batches") {
    val in = tmp("stream_in")
    val ckpt = tmp("stream_ckpt")
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 9)
    val q = NewsStream.pipeline(spark, in).writeStream
      .format("memory").queryName("t_mem").outputMode("append")
      .option("checkpointLocation", s"$ckpt/mem")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("t_mem").count() == 9)
      // second file lands -> next micro-batch picks up ONLY the delta
      NewsStream.writeSampleBatch(in, batchId = 1, rows = 6)
      q.processAllAvailable()
      assert(spark.table("t_mem").count() == 15)
      val labels = spark.table("t_mem").groupBy("sentiment").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // generator writes 1/3 positive, 1/3 negative, 1/3 neutral text
      assert(labels("Positive") == 5 && labels("Negative") == 5 &&
        labels("Neutral") == 5)
    } finally q.stop()
  }

  test("foreachBatch fan-out sink writes json once per batch") {
    val in = tmp("fan_in")
    val outDir = tmp("fan_out")
    val ckpt = tmp("fan_ckpt")
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 6)
    val qs = NewsStream.startAllSinks(
      NewsStream.pipeline(spark, in), outDir, ckpt,
      Trigger.ProcessingTime("1 second"), memoryTable = "t_fan")
    try {
      assert(qs.size == 1)
      qs.foreach(_.processAllAvailable())
      val written = spark.read.json(s"$outDir/stream_json")
      assert(written.count() == 6)
      assert(written.columns.contains("sentiment"))
    } finally qs.foreach(_.stop())
  }

  test("Trigger.AvailableNow drains the backlog, stops itself, resumes incrementally") {
    // the batch-backfill shape: process everything currently in the
    // directory, then terminate — no long-running query to babysit. A
    // later run against the SAME checkpoint picks up only newer files,
    // which is the scheduled nightly-catchup pattern at scale (the
    // checkpoint, not a human, decides what is new).
    val in = tmp("an_in")
    val out = tmp("an_out")
    val ckpt = tmp("an_ckpt")
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 9)
    NewsStream.writeSampleBatch(in, batchId = 1, rows = 6)
    def runOnce(): Unit = {
      val q = NewsStream.pipeline(spark, in).writeStream
        .format("json").option("path", out)
        .option("checkpointLocation", s"$ckpt/an")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      // AvailableNow must self-terminate once the backlog is drained
      assert(q.awaitTermination(120000), "query did not self-terminate")
    }
    runOnce()
    assert(spark.read.json(out).count() == 15)
    NewsStream.writeSampleBatch(in, batchId = 2, rows = 6)
    runOnce()
    // only the delta was reprocessed; earlier output is untouched
    assert(spark.read.json(out).count() == 21)
  }

  test("session windows merge across batches and close past the watermark") {
    val in = tmp("sess_in")
    val ckpt = tmp("sess_ckpt")
    // batch 0: events at 00:00:00..02; batch 2: events at 00:02:00..02 —
    // within the 5-min gap of batch 0's events, so per sentiment the two
    // batches must MERGE into one session of n=2 (i % 3 fixes sentiment)
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 3)
    NewsStream.writeSampleBatch(in, batchId = 2, rows = 3)
    val agg = NewsStream.sessionizedCounts(NewsStream.pipeline(spark, in))
    val q = agg.writeStream.format("memory").queryName("t_sess")
      .outputMode("append")
      .option("checkpointLocation", s"$ckpt/sess")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    try {
      q.processAllAvailable()
      // watermark still trails: no session closed yet
      assert(spark.table("t_sess").count() == 0)
      // 00:30 event -> watermark 00:20 -> sessions (ending 00:07:02) close
      NewsStream.writeSampleBatch(in, batchId = 30, rows = 1)
      q.processAllAvailable()
      q.processAllAvailable()
      val rows = spark.table("t_sess")
        .select(col("sentiment"), col("session_start").cast("string"),
          col("session_end").cast("string"), col("n"))
        .collect()
      assert(rows.length == 3, rows.mkString("; "))
      assert(rows.forall(_.getLong(3) == 2), rows.mkString("; "))
      // merged session: starts at batch 0's event, ends gap after batch 2's
      assert(rows.forall(_.getString(1).startsWith("2024-01-01 00:00:0")))
      assert(rows.forall(_.getString(2).startsWith("2024-01-01 00:07:0")))
    } finally q.stop()
  }

  test("session state survives checkpoint recovery; late rows cannot reopen closed sessions") {
    val in = tmp("sessrec_in")
    val out = tmp("sessrec_out")
    val ckpt = tmp("sessrec_ckpt")
    // file sink, not memory: the memory sink cannot recover from a
    // checkpoint (the recovery IS what this test pins)
    def start() = NewsStream.sessionizedCounts(NewsStream.pipeline(spark, in))
      .writeStream.format("json").option("path", out)
      .outputMode("append")
      .option("checkpointLocation", s"$ckpt/sess")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    def emitted() = spark.read
      .schema("sentiment STRING, session_start TIMESTAMP, " +
        "session_end TIMESTAMP, n BIGINT")
      .json(out)
    // run 1: open three sessions (00:00:00..02, one per sentiment) and
    // STOP — their state lives only in the checkpointed state store now
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 3)
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(emitted().count() == 0) // watermark trails
    } finally q1.stop()
    // run 2 against the SAME checkpoint: batch 2 (00:02:00..02) must
    // MERGE into the RECOVERED sessions (within the 5-min gap), and
    // batch 30 pushes the watermark to 00:20, closing them
    NewsStream.writeSampleBatch(in, batchId = 2, rows = 3)
    NewsStream.writeSampleBatch(in, batchId = 30, rows = 1)
    val q2 = start()
    try {
      q2.processAllAvailable()
      q2.processAllAvailable()
      val rows = emitted()
        .select(col("sentiment"), col("session_start").cast("string"),
          col("n"))
        .collect()
      // n=2 per sentiment, session_start from PRE-RESTART batch 0: the
      // merge across the restart is only possible via recovered state
      assert(rows.length == 3, rows.mkString("; "))
      assert(rows.forall(_.getLong(2) == 2), rows.mkString("; "))
      assert(rows.forall(_.getString(1).startsWith("2024-01-01 00:00:0")),
        rows.mkString("; "))
      // a late replay of batch 1 (00:01:xx, far behind the 00:20
      // watermark) must be DROPPED — emitted sessions are immutable in
      // append mode, so reopening one would double-count downstream
      NewsStream.writeSampleBatch(in, batchId = 1, rows = 3)
      q2.processAllAvailable()
      q2.processAllAvailable()
      assert(emitted().count() == 3, emitted().collect().mkString("; "))
    } finally q2.stop()
  }

  test("watermarked tumbling window emits closed windows in append mode") {
    val in = tmp("win_in")
    val ckpt = tmp("win_ckpt")
    // batch 0: events at minute 0..8 (publishedAt from the generator is
    // 2024-01-01T00:<batch>:<i>)
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 9)
    val agg = NewsStream.windowedSentimentCounts(
      NewsStream.pipeline(spark, in))
    val q = agg.writeStream.format("memory").queryName("t_win")
      .outputMode("append")
      .option("checkpointLocation", s"$ckpt/win")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    try {
      q.processAllAvailable()
      // nothing closed yet: watermark is still max(ts)-10min
      assert(spark.table("t_win").count() == 0)
      // batch 30 pushes event time to 00:30 -> watermark 00:20 -> the
      // 00:00/00:05 windows close and emit
      NewsStream.writeSampleBatch(in, batchId = 30, rows = 3)
      q.processAllAvailable()
      q.processAllAvailable()
      val closed = spark.table("t_win")
        .select(col("window.start").cast("string").as("s"), col("n"))
        .collect()
      assert(closed.nonEmpty)
      assert(closed.map(_.getString(0)).forall(_ < "2024-01-01 00:20:00"))
    } finally q.stop()
  }

  test("trending rank over closed windows via foreachBatch") {
    val in = tmp("trend_in")
    val ckpt = tmp("trend_ckpt")
    // batch 0 fills the 00:00 window; the generator assigns sentiments
    // deterministically, so the top label is reproducible
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 9)
    val agg = NewsStream.windowedSentimentCounts(
      NewsStream.pipeline(spark, in))
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, String, Long, Int)]())
    val q = agg.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$ckpt/trend")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        NewsStream.trendingPerWindow(batch, k = 1).collect().foreach(r =>
          got.add((r.getAs[java.sql.Timestamp]("w_start").toString,
            r.getAs[String]("sentiment"), r.getAs[Long]("n"),
            r.getAs[Int]("rk"))))
        ()
      }
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    try {
      q.processAllAvailable()
      // push the watermark past the 00:00 window so it closes
      NewsStream.writeSampleBatch(in, batchId = 30, rows = 3)
      q.processAllAvailable()
      q.processAllAvailable()
      val rows = got.toArray(Array.empty[(String, String, Long, Int)])
      assert(rows.nonEmpty, "no closed window was ranked")
      // exactly one top-1 row per closed window, every rank is 1, and
      // the winner's count must be the max the full batch table shows
      assert(rows.map(_._1).distinct.length == rows.length, rows.toSeq)
      assert(rows.forall(_._4 == 1), rows.toSeq)
      assert(rows.forall(_._3 >= 1), rows.toSeq)
    } finally q.stop()
  }

  test("windowed A/B z-test over closed windows == the batch lens arithmetic") {
    val in = tmp("ab_in")
    val ckpt = tmp("ab_ckpt")
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 9)
    NewsStream.writeSampleBatch(in, batchId = 5, rows = 7)
    // topology under test: stateful windowed arm counts -> foreachBatch z²
    val agg = NewsStream.windowedAbCounts(NewsStream.pipeline(spark, in))
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, Long, Long, Long, Long,
        Option[Long], Boolean)]())
    val q = agg.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$ckpt/ab")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        NewsStream.abZtestPerWindow(batch).collect().foreach(r =>
          got.add((r.getAs[java.sql.Timestamp]("w_start").toString
            .stripSuffix(".0"),
            r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
            r.getAs[Long]("conv_a"), r.getAs[Long]("conv_b"),
            if (r.isNullAt(r.fieldIndex("z2_milli"))) None
            else Some(r.getAs[Long]("z2_milli")),
            r.getAs[Boolean]("significant_5pct"))))
        ()
      }
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    // reference run: the same closed arm counts into a memory sink
    val q2 = NewsStream.windowedAbCounts(NewsStream.pipeline(spark, in))
      .writeStream.format("memory").queryName("t_ab_counts")
      .outputMode("append")
      .option("checkpointLocation", s"$ckpt/ab_counts")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    try {
      q.processAllAvailable(); q2.processAllAvailable()
      // push the watermark past the filled windows so they close
      NewsStream.writeSampleBatch(in, batchId = 30, rows = 3)
      q.processAllAvailable(); q.processAllAvailable()
      q2.processAllAvailable(); q2.processAllAvailable()
      val rows = got.toArray(
        Array.empty[(String, Long, Long, Long, Long, Option[Long], Boolean)])
      assert(rows.nonEmpty, "no closed window was scored")
      assert(rows.map(_._1).distinct.length == rows.length, rows.toSeq)
      // independent BigInt re-derivation of the batch lens over the
      // same closed windows (the StatsQueriesSpec convention)
      val counts = spark.table("t_ab_counts")
        .select(col("w.start").cast("string").as("s"), col("arm"),
          col("n"), col("conv"))
        .collect()
        .groupBy(_.getString(0))
        .map { case (w, rs) =>
          def pick(a: Int, f: String): BigInt = BigInt(
            rs.find(_.getAs[Long]("arm") == a)
              .map(_.getAs[Long](f)).getOrElse(0L))
          w -> (pick(0, "n"), pick(1, "n"), pick(0, "conv"),
            pick(1, "conv"))
        }
      rows.foreach { case (w, nA, nB, cA, cB, z2, sig) =>
        val (na, nb, ca, cb) = counts(w)
        assert((na, nb, ca, cb) ==
          (BigInt(nA), BigInt(nB), BigInt(cA), BigInt(cB)), w)
        val den = na * nb * (ca + cb) * (na + nb - ca - cb)
        val want =
          if (den == 0) None
          else Some(((ca * nb - cb * na).pow(2) * (na + nb) * 1000 / den)
            .toLong)
        assert(z2 == want, s"$w z2=$z2 want=$want")
        assert(sig == want.exists(_ >= 3842), w)
      }
      // the deterministic sample must exercise a real two-arm window
      assert(rows.exists(r => r._2 > 0 && r._3 > 0), rows.toSeq)
    } finally { q.stop(); q2.stop() }
  }

  test("chained dedup + windowed agg counts distinct langs per window") {
    val in = tmp("wdl_in")
    val ckpt = tmp("wdl_ckpt")
    def article(id: String, ts: String, lang: String): String =
      s"""{"id":"$id","title":"t$id","description":"d","url":"u","publishedAt":"$ts","lang":"$lang","fetched_at":"f"}"""
    // window 00:00-00:05 -> langs {en, fr, de} (en repeated: must dedup);
    // window 00:05-00:10 -> langs {en, es}
    val rows = Seq(
      article("a", "2024-01-01T00:00:10Z", "en"),
      article("b", "2024-01-01T00:01:00Z", "fr"),
      article("c", "2024-01-01T00:02:00Z", "en"),
      article("d", "2024-01-01T00:03:00Z", "de"),
      article("e", "2024-01-01T00:04:00Z", "en"),
      article("f", "2024-01-01T00:05:30Z", "en"),
      article("g", "2024-01-01T00:07:00Z", "es"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "b0.json"),
      (rows.mkString("\n") + "\n").getBytes("UTF-8"))
    val agg = NewsStream.windowedDistinctLangs(NewsStream.source(spark, in))
    val q = agg.writeStream.format("memory").queryName("t_wdl")
      .outputMode("append")
      .option("checkpointLocation", s"$ckpt/w")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("t_wdl").count() == 0) // nothing closed yet
      // push the watermark past both windows
      java.nio.file.Files.write(java.nio.file.Paths.get(in, "b1.json"),
        (article("z", "2024-01-01T00:30:00Z", "en") + "\n").getBytes("UTF-8"))
      q.processAllAvailable()
      q.processAllAvailable()
      val closed = spark.table("t_wdl")
        .select(col("w_start").cast("string").as("s"), col("n_langs"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(closed == Map(
        "2024-01-01 00:00:00" -> 3L,
        "2024-01-01 00:05:00" -> 2L), closed.toString)
    } finally q.stop()
  }

  test("windowed drift monitor flags the off-reference window, integer-exact") {
    val in = tmp("drift_in")
    val ckpt = tmp("drift_ckpt")
    def article(id: String, ts: String, lang: String): String =
      s"""{"id":"$id","title":"t$id","description":"d","url":"u","publishedAt":"$ts","lang":"$lang","fetched_at":"f"}"""
    // reference mix: en 8/16, fr 4/16, de 4/16.
    // window 00:00-00:05 matches it exactly (2 en, 1 fr, 1 de) -> l1 = 0;
    // window 00:05-00:10 is all-es (a label with no reference mass) ->
    // observed deviation 4*16 + missing reference mass 16*4 = 128 over
    // total*D = 64 -> L1 share distance 2.0 -> drift
    val rows = Seq(
      article("a", "2024-01-01T00:00:10Z", "en"),
      article("b", "2024-01-01T00:01:00Z", "en"),
      article("c", "2024-01-01T00:02:00Z", "fr"),
      article("d", "2024-01-01T00:03:00Z", "de"),
      article("e", "2024-01-01T00:05:30Z", "es"),
      article("f", "2024-01-01T00:06:00Z", "es"),
      article("g", "2024-01-01T00:07:00Z", "es"),
      article("h", "2024-01-01T00:08:00Z", "es"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "b0.json"),
      (rows.mkString("\n") + "\n").getBytes("UTF-8"))
    val ref = spark.createDataFrame(Seq(
      ("en", 8L), ("fr", 4L), ("de", 4L))).toDF("lang", "share_num")
    val agg = NewsStream.windowedLangDrift(
      NewsStream.source(spark, in), ref)
    val q = agg.writeStream.format("memory").queryName("t_drift")
      .outputMode("append")
      .option("checkpointLocation", s"$ckpt/w")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("t_drift").count() == 0) // nothing closed yet
      java.nio.file.Files.write(java.nio.file.Paths.get(in, "b1.json"),
        (article("z", "2024-01-01T00:30:00Z", "en") + "\n").getBytes("UTF-8"))
      q.processAllAvailable()
      q.processAllAvailable()
      val closed = spark.table("t_drift")
        .select(col("w_start").cast("string").as("s"),
          col("n_total"), col("l1_num"), col("drift"))
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
      assert(closed == Map(
        "2024-01-01 00:00:00" -> ((4L, 0L, false)),
        "2024-01-01 00:05:00" -> ((4L, 128L, true))), closed.toString)
    } finally q.stop()
  }

  test("late rows behind the watermark are dropped and surface in metrics") {
    val in = tmp("late_in")
    val ckpt = tmp("late_ckpt")
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 5)
    val agg = NewsStream.windowedSentimentCounts(
      NewsStream.pipeline(spark, in))
    val q = agg.writeStream.format("memory").queryName("t_late")
      .outputMode("append")
      .option("checkpointLocation", s"$ckpt/w")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    try {
      q.processAllAvailable()
      // advance event time to 00:40 -> committed watermark 00:30
      NewsStream.writeSampleBatch(in, batchId = 40, rows = 3)
      q.processAllAvailable()
      q.processAllAvailable()
      // rows at 00:05 arrive AFTER the watermark passed them: the
      // stateful operator must drop them (not resurrect a closed
      // window) and account for them in the progress metrics — the
      // observability signal an operator pages on when upstream
      // lateness exceeds the watermark budget
      NewsStream.writeSampleBatch(in, batchId = 5, rows = 4)
      q.processAllAvailable()
      q.processAllAvailable()
      // numRowsDroppedByWatermark counts rows reaching the STATE
      // operator: the 4 late input rows partial-aggregate map-side into
      // 3 (window, sentiment) groups (tones cycle P/N/X/P) before the
      // watermark check, so 3 is the exact expected drop count
      val dropped = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      assert(dropped >= 3, s"expected >=3 late groups dropped, got $dropped")
      // and no 00:05 window re-emits after the late arrivals
      val reEmitted = spark.table("t_late")
        .select(col("window.start").cast("string").as("s"))
        .collect().map(_.getString(0))
        .count(_ == "2024-01-01 00:05:00")
      assert(reEmitted <= 1, s"00:05 window emitted $reEmitted times")
    } finally q.stop()
  }

  test("checkpoint recovery: restarted query resumes from committed offsets") {
    val in = tmp("ckpt_in")
    val ckpt = tmp("ckpt_root")
    val out = tmp("ckpt_out")
    // memory sink refuses checkpoint recovery — the file sink is the
    // recovery-capable one, so exactly-once is asserted on its output
    def startJson() = NewsStream.pipeline(spark, in).writeStream
      .format("json").outputMode("append")
      .option("path", s"$out/json")
      .option("checkpointLocation", s"$ckpt/q")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 5)
    val q1 = startJson()
    try {
      q1.processAllAvailable()
      assert(spark.read.json(s"$out/json").count() == 5)
    } finally q1.stop()
    // new data lands while the query is down
    NewsStream.writeSampleBatch(in, batchId = 1, rows = 3)
    // restart from the SAME checkpoint: only the unseen file replays —
    // 8 total rows, not 13 (no reprocessing), exactly-once preserved
    val q2 = startJson()
    try {
      q2.processAllAvailable()
      val rows = spark.read.json(s"$out/json")
      assert(rows.count() == 8)
      assert(rows.select("id").distinct().count() == 8)
    } finally q2.stop()
  }

  test("all four reference sinks run concurrently over one lineage") {
    val in = tmp("allsinks_in")
    val out = tmp("allsinks_out")
    val ckpt = tmp("allsinks_ckpt")
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 6)
    val qs = NewsStream.startAllSinks(
      NewsStream.pipeline(spark, in), out, ckpt,
      Trigger.ProcessingTime("1 second"), memoryTable = "t_all")
    try {
      qs.foreach(_.processAllAvailable())
      assert(qs.forall(_.isActive))
      assert(spark.table("t_all").count() == 6)
      assert(spark.read.json(s"$out/stream_json").count() == 6)
    } finally qs.foreach(_.stop())
  }

  /** Drain `in` through the four sinks once, with AvailableNow. */
  private def drainAllSinks(in: String, out: String, ckpt: String,
      table: String): Unit =
    NewsStream.startAllSinks(NewsStream.pipeline(spark, in), out, ckpt,
      Trigger.AvailableNow(), memoryTable = table)
      .foreach(q => assert(q.awaitTermination(120000), "drain did not end"))

  /** The JSON sink's rows, through its `_spark_metadata` log, with
    * processing_time read back as the timestamp the pipeline stamps.
    */
  private def jsonSinkRows(out: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    spark.read.schema(StructType(pipeline.NewsPipeline.processedSchema.map(f =>
      if (f.name == "processing_time") f.copy(dataType = TimestampType) else f)))
      .json(s"$out/stream_json")
  }

  /** `_spark_metadata` entry name -> content (Hadoop's hidden `.crc`
    * sidecars skipped; the log itself lists only numeric names).
    */
  private def sinkLog(out: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    Files.list(java.nio.file.Paths.get(out, "stream_json", "_spark_metadata"))
      .iterator.asScala.filterNot(_.getFileName.toString.startsWith("."))
      .map(p => p.getFileName.toString ->
        new String(Files.readAllBytes(p), "UTF-8")).toMap
  }

  test("startAllSinks reads each article once per micro-batch") {
    import java.util.concurrent.ConcurrentHashMap
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler._
    val in = tmp("once_in")
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 6)
    // the job group (a streaming query's run id) of each job and stage,
    // and the input records each stage's tasks read
    val jobGroup = new ConcurrentHashMap[Int, String]
    val stageGroup = new ConcurrentHashMap[Int, String]
    val read = new ConcurrentHashMap[Int, java.lang.Long]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        jobGroup.put(e.jobId, g)
        e.stageIds.foreach(stageGroup.put(_, g))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => read.merge(e.stageId,
          m.inputMetrics.recordsRead, (a, b) => a + b))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val qs = NewsStream.startAllSinks(NewsStream.pipeline(spark, in),
        tmp("once_out"), tmp("once_ck"), Trigger.AvailableNow(),
        memoryTable = "t_once")
      qs.foreach(_.awaitTermination(120000))
      org.apache.spark.sql.GraftSqlBridge.waitListenersEmpty(
        spark.sparkContext, 60000)
      val runs = qs.map(_.runId.toString).toSet
      // one batch, one job: the collect; the JSON sink, the memory sink,
      // console and K4 all take the collected rows
      assert(jobGroup.values.asScala.count(runs) == 1)
      // the 6 file records, once (four queries read the file 4 times)
      val recordsRead = read.asScala.collect {
        case (stage, n) if runs(stageGroup.getOrDefault(stage, "")) => n.longValue
      }.sum
      assert(recordsRead == 6)
      assert(qs.flatMap(_.recentProgress).map(_.numInputRows).sum == 6)
      assert(spark.table("t_once").count() == 6)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("startAllSinks: the JSON sink and the memory table hold identical rows") {
    val in = tmp("same_in")
    val out = tmp("same_out")
    val ckpt = tmp("same_ck")
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 6)
    NewsStream.writeSampleBatch(in, batchId = 1, rows = 5)
    val qs = NewsStream.startAllSinks(NewsStream.pipeline(spark, in), out,
      ckpt, Trigger.ProcessingTime("1 second"), memoryTable = "t_same")
    try {
      qs.foreach(_.processAllAvailable())
      NewsStream.writeSampleBatch(in, batchId = 2, rows = 4)
      qs.foreach(_.processAllAvailable())
    } finally qs.foreach(_.stop())
    val json = jsonSinkRows(out)
    val jsonRows = json.collect()
    val memRows = spark.table("t_same").select(json.columns.map(col): _*).collect()
    assert(jsonRows.length == 15 && memRows.length == 15)
    assert(jsonRows.toSet == memRows.toSet)
  }

  test("startAllSinks: a replayed batch leaves the JSON rows and sink log unchanged") {
    val in = tmp("replay_in")
    val out = tmp("replay_out")
    val ckpt = tmp("replay_ck")
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 6)
    drainAllSinks(in, out, ckpt, "t_replay")
    NewsStream.writeSampleBatch(in, batchId = 1, rows = 5)
    drainAllSinks(in, out, ckpt, "t_replay")
    val rows = jsonSinkRows(out).collect().toSet
    val log = sinkLog(out)
    assert(rows.size == 11 && log.keySet == Set("0", "1"))
    // the last batch's output is committed but its trigger is not: the
    // restart runs batch 1 again and both Spark sinks see its id again
    java.nio.file.Files.delete(java.nio.file.Paths.get(ckpt, "json", "commits", "1"))
    drainAllSinks(in, out, ckpt, "t_replay")
    assert(new java.io.File(ckpt, "json/commits/1").isFile)
    assert(jsonSinkRows(out).collect().toSet == rows)
    assert(sinkLog(out) == log)
    // the replay wrote no part file either: every one on disk is logged
    assert(partFiles(out) == logEntries(out).values.flatten.map(_._1).toSet)
    assert(spark.table("t_replay").count() == 5)
  }

  /** The JSON sink's `_spark_metadata` log: batch id -> each entry's
    * (file, size, action).
    */
  private def logEntries(out: String)
      : Map[Long, Seq[(java.nio.file.Path, Long, String)]] = {
    def field(entry: String, name: String): String =
      ("\"" + name + "\":\"?([^\",}]*)").r.findFirstMatchIn(entry).get.group(1)
    sinkLog(out).map { case (n, content) =>
      val lines = content.linesIterator.toSeq
      assert(lines.head == "v1", s"$n: ${lines.head}")
      n.toLong -> lines.tail.map(e => (
        java.nio.file.Paths.get(new java.net.URI(field(e, "path"))),
        field(e, "size").toLong, field(e, "action")))
    }
  }

  /** The JSON sink's part files on disk (`.crc` sidecars skipped). */
  private def partFiles(out: String): Set[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    Files.list(java.nio.file.Paths.get(out, "stream_json")).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
      .toSet
  }

  test("startAllSinks' JSON sink writes and logs what a format(\"json\") query does") {
    import scala.jdk.CollectionConverters._
    val in = tmp("parity_in")
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 7)
    NewsStream.writeSampleBatch(in, batchId = 1, rows = 5)
    // a file whose every article the non-empty filter drops
    Files.write(java.nio.file.Paths.get(in, "batch_filtered.json"), Seq(
      """{"id":"e0","title":"t0","description":"","lang":"en"}""",
      """{"id":"e1","title":"t1","description":null,"lang":"en"}""").asJava)
    // one file per batch, in this order: kept, kept, all filtered
    val t0 = System.currentTimeMillis() - 60000
    Seq("batch_00000.json", "batch_00001.json", "batch_filtered.json")
      .zipWithIndex.foreach { case (f, i) => Files.setLastModifiedTime(
        java.nio.file.Paths.get(in, f),
        java.nio.file.attribute.FileTime.fromMillis(t0 + i * 1000L)) }
    def src = pipeline.NewsPipeline.transform(spark.readStream
      .schema(schema.NewsArticle.schema).option("maxFilesPerTrigger", 1).json(in))
    val stock = tmp("parity_stock")
    assert(src.writeStream.format("json").outputMode("append")
      .option("path", s"$stock/stream_json")
      .option("checkpointLocation", tmp("parity_stock_ck"))
      .trigger(Trigger.AvailableNow()).start().awaitTermination(120000))
    val out = tmp("parity_out")
    NewsStream.startAllSinks(src, out, tmp("parity_ck"), Trigger.AvailableNow(),
      memoryTable = "t_parity").foreach(q => assert(q.awaitTermination(120000)))

    // every logged file is an `add` of the file's whole length
    for (dir <- Seq(stock, out); (_, p, size, action) <- logEntries(dir).toSeq
        .flatMap { case (n, es) => es.map(e => (n, e._1, e._2, e._3)) }) {
      assert(action == "add", p)
      assert(size == Files.size(p), p)
    }
    // the same log shape: per batch, one file, and the all-filtered
    // batch's is empty
    def shape(dir: String) = logEntries(dir).toSeq.sortBy(_._1)
      .map { case (n, es) => n -> es.map(_._2 == 0) }
    assert(shape(stock) == Seq(0L -> Seq(false), 1L -> Seq(false), 2L -> Seq(true)))
    assert(shape(out) == shape(stock))
    // the same lines, processing_time's digits aside
    val stamp = "\"processing_time\":\"([^\"]*)\"".r
    def lines(dir: String): Seq[String] = logEntries(dir).values.flatten.toSeq
      .flatMap(e => Files.readAllLines(e._1).asScala)
      .map(l => stamp.replaceAllIn(l, m => scala.util.matching.Regex.quoteReplacement(
        "\"processing_time\":\"" + m.group(1).replaceAll("\\d", "9") + "\"")))
      .sorted
    assert(lines(stock).length == 12)
    assert(lines(stock).forall(stamp.findFirstIn(_).isDefined))
    assert(lines(out) == lines(stock))
  }

  test("startAllSinks: a failed JSON write leaves its batch out of the memory table") {
    val in = tmp("jsonfail_in")
    val out = tmp("jsonfail_out")
    val q = NewsStream.startAllSinks(NewsStream.pipeline(spark, in), out,
      tmp("jsonfail_ck"), Trigger.ProcessingTime(0), memoryTable = "t_jsonfail").head
    try {
      // the sink's directory becomes a file: its next write cannot land
      val dir = new java.io.File(out, "stream_json")
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
      Files.write(dir.toPath, Array[Byte](1))
      NewsStream.writeSampleBatch(in, batchId = 0, rows = 6)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.processAllAvailable())
    } finally q.stop()
    // the JSON sink is the durable one: the memory sink never ran ahead
    assert(spark.table("t_jsonfail").count() == 0)
  }

  test("startAllSinks resumes the four-query layout's JSON checkpoint") {
    val in = tmp("layout_in")
    val out = tmp("layout_out")
    val ckpt = tmp("layout_ck")
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 6)
    // the JSON query of the four-query layout, alone
    assert(NewsStream.pipeline(spark, in).writeStream.format("json")
      .outputMode("append")
      .option("path", s"$out/stream_json")
      .option("checkpointLocation", s"$ckpt/json")
      .trigger(Trigger.AvailableNow()).start().awaitTermination(120000))
    NewsStream.writeSampleBatch(in, batchId = 1, rows = 5)
    drainAllSinks(in, out, ckpt, "t_layout")
    val ids = jsonSinkRows(out).select("id").collect().map(_.getString(0))
    assert(ids.length == 11 && ids.distinct.length == 11)
    assert(sinkLog(out).keySet == Set("0", "1"))
    assert(spark.table("t_layout").count() == 5)
  }

  test("startAllSinks compiles no generated code after the first micro-batch") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val in = tmp("codegen_in")
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 6)
    val q = NewsStream.startAllSinks(NewsStream.pipeline(spark, in),
      tmp("codegen_out"), tmp("codegen_ck"), Trigger.ProcessingTime(0),
      memoryTable = "t_codegen").head
    try {
      q.processAllAvailable()
      val afterFirst = compiled
      for (b <- 1 to 3) {
        NewsStream.writeSampleBatch(in, batchId = b, rows = 6)
        q.processAllAvailable()
      }
      assert(q.lastProgress.batchId >= 3)
      assert(compiled == afterFirst)
    } finally q.stop()
    assert(spark.table("t_codegen").count() == 24)
  }

  test("startAllSinks stamps each micro-batch's rows with that batch's timestamp") {
    import scala.jdk.CollectionConverters._
    val in = tmp("stamp_in")
    val ckpt = tmp("stamp_ck")
    (0 until 3).foreach(b => NewsStream.writeSampleBatch(in, batchId = b, rows = 6))
    val src = spark.readStream.schema(schema.NewsArticle.schema)
      .option("maxFilesPerTrigger", 1).json(in)
    NewsStream.startAllSinks(pipeline.NewsPipeline.transform(src),
      tmp("stamp_out"), ckpt, Trigger.AvailableNow(), memoryTable = "t_stamp")
      .foreach(q => assert(q.awaitTermination(120000)))
    def logLines(dir: String, batch: Int): Seq[String] = Files.readAllLines(
      java.nio.file.Paths.get(ckpt, "json", dir, batch.toString)).asScala.toSeq
    // per batch: its timestamp (offset log) and its one input file's
    // sample-batch number (source log)
    val batches = (0 until 3).map { b =>
      val ts = "\"batchTimestampMs\":(\\d+)".r
        .findFirstMatchIn(logLines("offsets", b)(1)).get.group(1).toLong
      val file = "batch_(\\d+)\\.json".r
        .findFirstMatchIn(logLines("sources/0", b)(1)).get.group(1).toInt
      file -> ts
    }.toMap
    assert(batches.size == 3 && batches.values.toSet.size == 3)
    val stamps = spark.table("t_stamp")
      .select(col("id"), col("processing_time")).collect()
      .groupBy(_.getString(0).toInt / 10000)
      .map { case (file, rows) =>
        file -> rows.map(_.getTimestamp(1).getTime).toSet }
    assert(stamps == batches.map { case (file, ts) => file -> Set(ts) })
  }

  test("watermarked stream-stream join matches rows within the time bound") {
    val inL = tmp("ssj_l")
    val inR = tmp("ssj_r")
    val ckpt = tmp("ssj_ckpt")
    // same batchId => identical titles; generator stamps publishedAt
    // minute = batchId, second = row index, so matching rows are seconds
    // apart (within the 600 s bound)
    NewsStream.writeSampleBatch(inL, batchId = 0, rows = 4)
    NewsStream.writeSampleBatch(inR, batchId = 0, rows = 4)
    val joined = NewsStream.joinStreamsWithinWindow(
      NewsStream.source(spark, inL), NewsStream.source(spark, inR))
    val q = joined.writeStream.format("memory").queryName("t_ssj")
      .outputMode("append")
      .option("checkpointLocation", s"$ckpt/j")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.table("t_ssj").collect()
      assert(rows.length == 4) // each title matches its twin exactly once
      assert(rows.forall(r => r.getAs[String]("l_id") == r.getAs[String]("r_id")))
      // a right-side row with a MATCHING title but 40 minutes later is
      // outside the 600 s lag bound -> no new matches
      java.nio.file.Files.write(
        java.nio.file.Paths.get(inR, "late.json"),
        ("""{"id":"late","title":"headline 0","description":"x","url":"u",""" +
          """"publishedAt":"2024-01-01T00:40:00Z","lang":"en","fetched_at":"f"}""" + "\n")
          .getBytes("UTF-8"))
      q.processAllAvailable()
      assert(spark.table("t_ssj").count() == 4)
    } finally q.stop()
  }

  test("left-outer stream-stream join emits unmatched rows after watermark") {
    val inL = tmp("ssjo_l")
    val inR = tmp("ssjo_r")
    val ckpt = tmp("ssjo_ckpt")
    NewsStream.writeSampleBatch(inL, batchId = 0, rows = 2) // titles 0,1
    // right side matches only title 0
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inR))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(inR, "r0.json"),
      ("""{"id":"m","title":"headline 0","description":"x","url":"u",""" +
        """"publishedAt":"2024-01-01T00:01:00Z","lang":"en","fetched_at":"f"}""" + "\n")
        .getBytes("UTF-8"))
    val joined = NewsStream.joinStreamsLeftOuter(
      NewsStream.source(spark, inL), NewsStream.source(spark, inR))
    val q = joined.writeStream.format("memory").queryName("t_ssjo")
      .outputMode("append")
      .option("checkpointLocation", s"$ckpt/j")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    try {
      q.processAllAvailable()
      // matched row emits promptly; the unmatched one must wait
      val matched = spark.table("t_ssjo")
        .collect().map(r => r.getAs[String]("l_id") ->
          Option(r.getAs[String]("r_id"))).toMap
      assert(matched("0").contains("m"))
      assert(!matched.contains("1")) // still held in state
      // advance event time far past watermark + lag on BOTH sides
      NewsStream.writeSampleBatch(inL, batchId = 50, rows = 1)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(inR, "r_late.json"),
        ("""{"id":"w","title":"zzz","description":"x","url":"u",""" +
          """"publishedAt":"2024-01-01T00:50:00Z","lang":"en","fetched_at":"f"}""" + "\n")
          .getBytes("UTF-8"))
      q.processAllAvailable()
      q.processAllAvailable()
      val after = spark.table("t_ssjo")
        .collect().map(r => r.getAs[String]("l_id") ->
          Option(r.getAs[String]("r_id"))).toMap
      assert(after("1").isEmpty, after.toString) // emitted with NULL r_id
    } finally q.stop()
  }

  test("stream-static broadcast enrichment join") {
    import spark.implicits._
    val in = tmp("enrich_in")
    val ckpt = tmp("enrich_ckpt")
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 6)
    val dim = Seq(("Positive", 1), ("Negative", -1), ("Neutral", 0))
      .toDF("sentiment", "score_sign")
    val enriched = NewsStream.enrichWithDim(
      NewsStream.pipeline(spark, in), dim)
    val q = enriched.writeStream.format("memory").queryName("t_enrich")
      .outputMode("append")
      .option("checkpointLocation", s"$ckpt/e")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.table("t_enrich")
        .select("sentiment", "score_sign").distinct().collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(rows == Map("Positive" -> 1, "Negative" -> -1, "Neutral" -> 0))
    } finally q.stop()
  }

  test("mapGroupsWithState accumulates totals across micro-batches") {
    val in = tmp("state_in")
    val ckpt = tmp("state_ckpt")
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 6) // 2 of each label
    val totals = NewsStream.runningSentimentTotals(
      NewsStream.pipeline(spark, in))
    val q = totals.toDF("sentiment", "total").writeStream
      .format("memory").queryName("t_state").outputMode("update")
      .option("checkpointLocation", s"$ckpt/st")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    try {
      q.processAllAvailable()
      val after1 = spark.table("t_state").groupBy("sentiment")
        .agg(max("total")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(after1 == Map("Positive" -> 2, "Negative" -> 2, "Neutral" -> 2))
      NewsStream.writeSampleBatch(in, batchId = 1, rows = 6)
      q.processAllAvailable()
      // state persisted: totals are cumulative, not per-batch
      val after2 = spark.table("t_state").groupBy("sentiment")
        .agg(max("total")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(after2 == Map("Positive" -> 4, "Negative" -> 4, "Neutral" -> 4))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark bounds state and dedups titles") {
    val in = tmp("dd_in")
    val ckpt = tmp("dd_ckpt")
    // same batchId twice => identical titles in two files
    NewsStream.writeSampleBatch(in, batchId = 5, rows = 4)
    val dd = NewsStream.dedupByTitleWithinWatermark(
      NewsStream.pipeline(spark, in))
    val q = dd.writeStream.format("memory").queryName("t_dd")
      .outputMode("append")
      .option("checkpointLocation", s"$ckpt/dd")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("t_dd").count() == 4)
      // duplicate titles arrive within the watermark -> suppressed
      val dup = new java.io.File(in, "batch_dup.json")
      val src = new java.io.File(in, "batch_00005.json")
      Files.copy(src.toPath, dup.toPath)
      q.processAllAvailable()
      assert(spark.table("t_dd").count() == 4)
    } finally q.stop()
  }

  test("simhash dedup state survives a checkpoint restart") {
    val in = tmp("sdr_in")
    val ckpt = tmp("sdr_ckpt")
    val out = tmp("sdr_out")
    def art(id: String, title: String, sec: Int) =
      s"""{"id":"$id","title":"$title","description":"steady body text","url":"u$id","publishedAt":"2024-01-01T10:00:${f"$sec%02d"}Z","lang":"en","fetched_at":"2024-01-01T10:05:00"}"""
    def start() = NewsStream.dedupBySimhashWithinWatermark(
      NewsStream.pipeline(spark, in)).writeStream
      .format("json").outputMode("append")
      .option("path", s"$out/json")
      .option("checkpointLocation", s"$ckpt/q")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    Files.write(new java.io.File(in, "b0.json").toPath, Seq(
      art("1", "Alpha story", 1),
      art("2", "Beta story", 2)).mkString("\n").getBytes("UTF-8"))
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(spark.read.json(s"$out/json").count() == 2)
    } finally q1.stop()
    // while down: a near-dup of an ALREADY-SEEN article (reordered
    // words) plus a genuinely new one
    Files.write(new java.io.File(in, "b1.json").toPath, Seq(
      art("3", "story Alpha", 3), // same token multiset as id=1
      art("4", "Gamma story", 4)).mkString("\n").getBytes("UTF-8"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val ids = spark.read.json(s"$out/json").select("id").collect()
        .map(_.getString(0)).toSet
      // dedup state was restored from the checkpoint: the near-dup of a
      // PRE-restart article is still suppressed
      assert(ids == Set("1", "2", "4"), ids)
    } finally q2.stop()
  }

  // ---- hamming-tolerant near-dup (dedupNearFingerprint core) ---------

  private val fpSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "id STRING, event_ts TIMESTAMP, fp BIGINT")

  private def fpRow(id: String, hms: String, fp: Long): String =
    s"""{"id":"$id","event_ts":"2024-01-01T$hms:00Z","fp":$fp}"""

  private def startNearDedup(in: String, ckpt: String, table: String,
      delayMs: Long) = {
    val src = spark.readStream.schema(fpSchema).json(in)
    NewsStream.dedupNearFingerprint(src, delayMs).writeStream
      .format("memory").queryName(table).outputMode("append")
      .option("checkpointLocation", s"$ckpt/q")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
  }

  /** transformWithState requires the RocksDB state store provider (its
    * backing store, and the production-grade choice anyway); scope it to
    * these tests so the rest of the suite keeps the default provider.
    */
  private def withChainedStatefulOps[A](body: => A): A = {
    val k = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  private val F = 0x0123456789abcdefL

  test("near-dup dedup suppresses 1-bit and 2-bit perturbed fingerprints, keeps far ones") {
    withChainedStatefulOps {
    val in = tmp("nd_in")
    val ckpt = tmp("nd_ckpt")
    // batch 1: original, a 1-bit rewrite, a 2-bit rewrite (both must be
    // suppressed — the exact-match dedup would pass them), a far
    // fingerprint (kept), and an exact dup (kept-first applies)
    Files.write(new java.io.File(in, "b0.json").toPath, Seq(
      fpRow("orig", "10:00", F),
      fpRow("near1", "10:01", F ^ 1L),                      // hamming 1
      fpRow("near2", "10:02", F ^ 0x8000000000000001L),     // hamming 2
      fpRow("far", "10:03", 0x1111111111111111L),
      fpRow("exact", "10:04", F)                            // hamming 0
    ).mkString("\n").getBytes("UTF-8"))
    val q = startNearDedup(in, ckpt, "t_nd", delayMs = 10L * 60 * 1000)
    try {
      q.processAllAvailable()
      // nothing finalizes until the watermark passes the events
      Files.write(new java.io.File(in, "b1.json").toPath, Seq(
        fpRow("flush", "10:30", 4L)).mkString("\n").getBytes("UTF-8"))
      q.processAllAvailable()
      val ids = spark.table("t_nd").select("id").collect()
        .map(_.getString(0)).toSet
      assert(ids == Set("orig", "far"), ids)
    } finally q.stop()
    }
  }

  test("near-dup band state survives a checkpoint restart") {
    withChainedStatefulOps {
    val in = tmp("ndr_in")
    val ckpt = tmp("ndr_ckpt")
    val out = tmp("ndr_out")
    // memory sink refuses checkpoint recovery — the file sink is the
    // restart surface
    def start() = NewsStream.dedupNearFingerprint(
      spark.readStream.schema(fpSchema).json(in), delayMs = 10L * 60 * 1000)
      .writeStream.format("json").outputMode("append")
      .option("path", s"$out/json")
      .option("checkpointLocation", s"$ckpt/q")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    Files.write(new java.io.File(in, "b0.json").toPath, Seq(
      fpRow("orig", "10:00", F),
      fpRow("other", "10:04", 0x1111111111111111L)
    ).mkString("\n").getBytes("UTF-8"))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // while down: a 1-bit near-dup of a PRE-restart article, a genuinely
    // new fingerprint, and a late flush row to advance the watermark
    Files.write(new java.io.File(in, "b1.json").toPath, Seq(
      fpRow("near", "10:03", F ^ 2L),
      fpRow("new", "10:05", 0x7777777777777777L),
      fpRow("flush", "10:30", 4L)
    ).mkString("\n").getBytes("UTF-8"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val ids = spark.read.schema(fpSchema).json(s"$out/json")
        .select("id").collect().map(_.getString(0)).toSet
      // band state was restored: the near-dup of a pre-restart article
      // is suppressed even though the original arrived before the stop
      assert(ids == Set("orig", "other", "new"), ids)
    } finally q2.stop()
    }
  }

  test("simhash dedup drops reordered same-content articles, keeps others") {
    val in = tmp("sd_in")
    val ckpt = tmp("sd_ckpt")
    def art(id: String, title: String, desc: String) =
      s"""{"id":"$id","title":"$title","description":"$desc","url":"u$id","publishedAt":"2024-01-01T10:00:0${id.last}Z","lang":"en","fetched_at":"2024-01-01T10:05:00"}"""
    Files.write(new java.io.File(in, "b0.json").toPath, Seq(
      art("1", "Markets rally on strong earnings", "growth beats forecasts"),
      // same words, different order + different title case/punct =>
      // identical cleaned token MULTISET => identical simhash => dropped
      art("2", "on strong earnings MARKETS rally!", "forecasts beats growth"),
      // genuinely different content => kept
      art("3", "Storm hits the coast", "heavy rain expected")
    ).mkString("\n").getBytes("UTF-8"))
    val dd = NewsStream.dedupBySimhashWithinWatermark(
      NewsStream.pipeline(spark, in))
    val q = dd.writeStream.format("memory").queryName("t_sd")
      .outputMode("append")
      .option("checkpointLocation", s"$ckpt/sd")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    try {
      q.processAllAvailable()
      val ids = spark.table("t_sd").select("id").collect()
        .map(_.getString(0)).toSet
      assert(ids.size == 2 && ids.contains("3"), ids)
      assert(ids("1") || ids("2")) // exactly one of the near-dups survives
    } finally q.stop()
  }

  test("upsert sink: keep-latest merge, replay idempotence, snapshot prune") {
    import spark.implicits._
    val state = tmp("ups_state")
    def df(rows: (String, String, String)*) =
      rows.toDF("id", "publishedAt", "body")
    // batch 0: two keys
    NewsStream.upsertBatch(df(
      ("a", "2024-01-01T00:00:00Z", "a v1"),
      ("b", "2024-01-01T00:00:00Z", "b v1")), state, "id", "publishedAt", 0L)
    // batch 1: b revised (two revisions in ONE batch — newest must win),
    // c new
    NewsStream.upsertBatch(df(
      ("b", "2024-01-02T00:00:00Z", "b v2"),
      ("b", "2024-01-03T00:00:00Z", "b v3"),
      ("c", "2024-01-01T00:00:00Z", "c v1")), state, "id", "publishedAt", 1L)
    def snapshot(): Map[String, String] =
      NewsStream.readUpsertState(spark, state).get
        .collect().map(r => r.getAs[String]("id") ->
          r.getAs[String]("body")).toMap
    val after1 = snapshot()
    assert(after1 == Map("a" -> "a v1", "b" -> "b v3", "c" -> "c v1"), after1)
    // replay of an already-committed batch is a no-op (foreachBatch
    // redelivery after restart)
    NewsStream.upsertBatch(df(
      ("b", "2024-01-09T00:00:00Z", "b ghost")), state, "id",
      "publishedAt", 1L)
    assert(snapshot() == after1)
    assert(NewsStream.committedVersion(spark, state).contains(1L))
    // batches 2..4: enough versions that snapshot 0 and 1 get pruned
    (2L to 4L).foreach(i =>
      NewsStream.upsertBatch(df(
        ("a", s"2024-01-0${i + 3}T00:00:00Z", s"a v$i")), state, "id",
        "publishedAt", i))
    assert(snapshot() ==
      Map("a" -> "a v4", "b" -> "b v3", "c" -> "c v1"))
    val vs = new java.io.File(state).list().filter(_.startsWith("v="))
    assert(vs.sorted.toSeq == Seq("v=2", "v=3", "v=4"), vs.toSeq)

    // batch 5: tombstone delete of b (GDPR path) + normal upsert of d —
    // b leaves the snapshot, the flag column never enters the schema
    val del = Seq(
      ("b", "2024-01-10T00:00:00Z", "ignored", true),
      ("d", "2024-01-10T00:00:00Z", "d v1", false))
      .toDF("id", "publishedAt", "body", "deleted")
    NewsStream.upsertBatch(del, state, "id", "publishedAt", 5L,
      tombstone = Some("deleted"))
    val after5 = NewsStream.readUpsertState(spark, state).get
    assert(!after5.columns.contains("deleted"))
    assert(snapshot() ==
      Map("a" -> "a v4", "c" -> "c v1", "d" -> "d v1"))

    // time travel: snapshot 4 (still retained) shows b before its delete
    val at4 = NewsStream.readUpsertStateAt(spark, state, 4L)
      .collect().map(r => r.getAs[String]("id") ->
        r.getAs[String]("body")).toMap
    assert(at4 == Map("a" -> "a v4", "b" -> "b v3", "c" -> "c v1"), at4)
    // a pruned snapshot must throw, never silently serve another version
    intercept[Exception] {
      NewsStream.readUpsertStateAt(spark, state, 1L).collect()
    }

    // CDC diff 4 -> 5: d inserted, b deleted, a/c unchanged
    val changes = NewsStream
      .upsertChanges(spark, state, 4L, 5L, "id", "publishedAt")
      .collect().map(r => r.getAs[String]("id") ->
        r.getAs[String]("op")).toMap
    assert(changes == Map("d" -> "insert", "b" -> "delete"), changes)

    // and through a real streaming query: file source -> pipeline ->
    // upsert sink, AvailableNow
    val in = tmp("ups_in")
    val ckpt = tmp("ups_ckpt")
    val state2 = tmp("ups_state2")
    NewsStream.writeSampleBatch(in, batchId = 0, rows = 5)
    val q = NewsStream.startUpsertSink(
      NewsStream.pipeline(spark, in), state2, ckpt,
      trigger = Trigger.AvailableNow())
    try q.awaitTermination(60000) finally q.stop()
    val st = NewsStream.readUpsertState(spark, state2).get
    assert(st.count() == 5)
    assert(st.select("id").distinct().count() == 5)
    assert(st.columns.contains("sentiment"))
  }

  test("decayed trending fold: exact dyadic scores over closed windows") {
    // three closed 5-min windows; halflife = 1 window => ages 2, 1, 0
    // decay as weights 2^38, 2^39, 2^40 relative to the newest window
    val rows = Seq(
      ("2024-01-01 00:00:00", "Positive", 3L),
      ("2024-01-01 00:05:00", "Positive", 1L),
      ("2024-01-01 00:10:00", "Negative", 2L),
      ("2024-01-01 00:10:00", "Positive", 1L))
    val df = spark.createDataFrame(rows).toDF("ws", "sentiment", "n")
      .select(struct(to_timestamp(col("ws")).as("start")).as("window"),
        col("sentiment"), col("n"))
    val out = NewsStream
      .decayedTrendingTotals(df, windowSec = 300L, halflifeWindows = 1)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    val pos = 3L * (1L << 38) + (1L << 39) + (1L << 40) // 9 * 2^38
    val neg = 2L * (1L << 40)                           // 8 * 2^38
    assert(out == Seq(("Positive", pos, 5L), ("Negative", neg, 2L)), out)
    // fold determinism under replay: re-running over the same closed
    // state reproduces identical scores bit-for-bit
    val again = NewsStream
      .decayedTrendingTotals(df, windowSec = 300L, halflifeWindows = 1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(again == out)
  }

  test("streaming ANN serving equals the batch served answer per vector") {
    import org.apache.spark.sql.types._
    val dir = "/root/testdata/sf0.001"
    // the persisted index the server opens (centroids/codebook/codes)
    val idx = queries.EmbQueries.ensureServedIndex(spark, dir)
    val vectorsPath = s"$dir/embeddings.parquet"

    // stream input: one query vector per NDJSON file -> one per micro-
    // batch (maxFilesPerTrigger=1). qid 0 is emb_ivfpq_served's own
    // query vector — the equality pin; qid 7 is a second corpus vector
    // exercising a different probe path.
    val emb = spark.read.parquet(vectorsPath)
    def vecJson(qid: Long): String = {
      val v = emb.filter(col("vec_id") === qid)
        .select("embedding").collect()(0).getSeq[Float](0)
      // Float.toString is shortest-roundtrip: double-parse + float-cast
      // on the read side reproduces the exact float
      s"""{"qid":$qid,"qvec":[${v.mkString(",")}]}"""
    }
    val in = tmp("ann_in")
    Files.write(java.nio.file.Paths.get(in, "q0.json"),
      (vecJson(0L) + "\n").getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(in, "q7.json"),
      (vecJson(7L) + "\n").getBytes("UTF-8"))

    val schema = StructType(Seq(
      StructField("qid", LongType),
      StructField("qvec", ArrayType(DoubleType))))
    val out = tmp("ann_out")
    def serve(out: String, ckpt: String) =
      graft.streaming.AnnServing.startScoringSink(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .json(in), out, ckpt) { b =>
        graft.streaming.AnnServing.scoreBatch(b.sparkSession, idx,
          b.sparkSession.read.parquet(vectorsPath), b)
      }
    serve(out, tmp("ann_ckpt")).awaitTermination(120000)

    val res = spark.read.parquet(out)
    // two micro-batches, each with a full top-5
    assert(res.select("batch_id").distinct().count() == 2)
    val byQid = res.collect()
      .groupBy(_.getAs[Long]("qid")).view.mapValues(_.sortBy(_.getAs[Int]("rank")))

    // qid 0: row-identical to emb_ivfpq_served's (vec_id, sim) answer
    val served = Registry.byName("emb_ivfpq_served").build(spark, dir)
      .select("vec_id", "sim").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val streamed0 = byQid(0L)
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    assert(streamed0 == served, s"stream=$streamed0 batch=$served")

    // qid 7: full top-5, never itself, sims non-increasing
    val s7 = byQid(7L)
    assert(s7.length == 5)
    assert(s7.forall(_.getAs[Long]("vec_id") != 7L))
    val sims7 = s7.map(_.getAs[Double]("sim")).toSeq
    assert(sims7 == sims7.sorted.reverse)

    // replay determinism: a fresh stream over the same input (new
    // checkpoint, new sink) reproduces identical rows
    val out2 = tmp("ann_out2")
    serve(out2, tmp("ann_ckpt2")).awaitTermination(120000)
    val a = res.orderBy("qid", "rank")
      .collect().map(_.toString).toSeq
    val b = spark.read.parquet(out2).orderBy("qid", "rank")
      .collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("filtered streaming ANN equals the batch filtered serving read") {
    val dir = "/root/testdata/sf0.001"
    val idx = queries.EmbQueries.ensureServedIndex(spark, dir)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // the codeFilter predicate reads the attribute column INLINED in
    // the code rows — same semantics as emb_ivfpq_filtered (qid 0 is
    // its query vector, so self-exclusion matches vec_id <> 0)
    val lbl = queries.EmbQueries.FilteredLabel
    val streamed = graft.streaming.AnnServing
      .scoreBatch(spark, idx, emb, probe,
        codeFilter = Some(col("label") === lbl))
      .select("vec_id", "sim").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batch = Registry.byName("emb_ivfpq_filtered").build(spark, dir)
      .select("vec_id", "sim").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    // the miss label answers EMPTY, not unfiltered fallback
    val miss = graft.streaming.AnnServing
      .scoreBatch(spark, idx, emb, probe,
        codeFilter = Some(col("label") === 99))
    assert(miss.isEmpty)

    // streaming SOFT-DELETE: the delete-log side table masked into the
    // scan answers row-identically to the batch emb_ivfpq_soft_delete
    val tombs = emb
      .filter(col("vec_id") % 10 === 7 && col("vec_id") =!= 0)
      .select("vec_id")
    val soft = graft.streaming.AnnServing
      .scoreBatch(spark, idx, emb, probe, excludeIds = Some(tombs))
      .collect().sortBy(_.getAs[Int]("rank"))
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    val softBatch = Registry.byName("emb_ivfpq_soft_delete")
      .build(spark, dir)
      .select("vec_id", "sim").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(soft == softBatch, s"stream=$soft batch=$softBatch")
    assert(soft.forall(_._1 % 10 != 7), "a tombstoned id surfaced")
  }

  test("adaptive serving SINK drains a staged backlog checkpoint-correctly") {
    import org.apache.spark.sql.types._
    val dir = "/root/testdata/sf0.001"
    val idx = queries.EmbQueries.ensureServedIndex(spark, dir)
    val vectorsPath = s"$dir/embeddings.parquet"
    val emb = spark.read.parquet(vectorsPath)
    def vecJson(qid: Long): String = {
      val v = emb.filter(col("vec_id") === qid)
        .select("embedding").collect()(0).getSeq[Float](0)
      s"""{"qid":$qid,"qvec":[${v.mkString(",")}]}"""
    }
    val in = tmp("adapt_in")
    Files.write(java.nio.file.Paths.get(in, "q0.json"),
      (vecJson(0L) + "\n").getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(in, "q7.json"),
      (vecJson(7L) + "\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("qid", LongType),
      StructField("qvec", ArrayType(DoubleType))))
    val out = tmp("adapt_out")
    val lbl = queries.EmbQueries.FilteredLabel
    val q = graft.streaming.AnnServing.startScoringSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .json(in), out, tmp("adapt_ckpt")) { b =>
      graft.streaming.AnnServing.scoreBatchAdaptive(b.sparkSession, idx,
        b.sparkSession.read.parquet(vectorsPath), b, col("label") === lbl)
    }
    assert(q.awaitTermination(120000))
    val res = spark.read.parquet(out)
    // both files drained as separate micro-batches, both arms labeled
    assert(res.select("batch_id").distinct().count() == 2)
    assert(res.select("strategy").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("pruned_scan"))
    // qid 0's rows == the one-shot scoreBatchAdaptive answer
    val direct = graft.streaming.AnnServing
      .scoreBatchAdaptive(spark, idx, emb,
        emb.filter(col("vec_id") === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        col("label") === lbl)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    val sunk0 = res.filter(col("qid") === 0).orderBy("rank").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    assert(sunk0 == direct, s"sink=$sunk0 direct=$direct")
  }

  test("adaptive streaming ANN matches the batch adaptive query, both arms") {
    val dir = "/root/testdata/sf0.001"
    val idx = queries.EmbQueries.ensureServedIndex(spark, dir)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val lbl = queries.EmbQueries.FilteredLabel
    val batchRows = Registry.byName("emb_filtered_adaptive")
      .build(spark, dir)
      .collect()
      .groupBy(_.getString(0)) // scenario
      .map { case (sc, rs) =>
        sc -> rs.map(r =>
          (r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
      }
    def streamed(pred: org.apache.spark.sql.Column) =
      graft.streaming.AnnServing
        .scoreBatchAdaptive(spark, idx, emb, probe, pred)
        .orderBy(col("sim").desc, col("vec_id"))
        .collect()
        .map(r => (r.getAs[String]("strategy"), r.getAs[Long]("vec_id"),
          r.getAs[Double]("sim"))).toSeq
    // rare predicate (~1.4% selective): routed to the exact arm
    val rare = streamed(col("label") === lbl && col("vec_id") % 7 === 0)
    assert(rare == batchRows("rare"), s"rare: $rare != ${batchRows("rare")}")
    // broad predicate (~10%): routed to the pruned ANN scan
    val broad = streamed(col("label") === lbl)
    assert(broad == batchRows("broad"),
      s"broad: $broad != ${batchRows("broad")}")
    assert(rare.forall(_._1 == "exact_prefilter"))
    assert(broad.forall(_._1 == "pruned_scan"))
  }

  test("streaming bq serving equals the batch bq served answer") {
    import org.apache.spark.sql.types._
    val dir = "/root/testdata/sf0.001"
    // ensureServedIndex stages bitsig/ beside centroids/codebook/codes
    val idx = queries.EmbQueries.ensureServedIndex(spark, dir)
    val vectorsPath = s"$dir/embeddings.parquet"
    val emb = spark.read.parquet(vectorsPath)
    def vecJson(qid: Long): String = {
      val v = emb.filter(col("vec_id") === qid)
        .select("embedding").collect()(0).getSeq[Float](0)
      s"""{"qid":$qid,"qvec":[${v.mkString(",")}]}"""
    }
    val in = tmp("bq_in")
    Files.write(java.nio.file.Paths.get(in, "q0.json"),
      (vecJson(0L) + "\n").getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(in, "q7.json"),
      (vecJson(7L) + "\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("qid", LongType),
      StructField("qvec", ArrayType(DoubleType))))
    val out = tmp("bq_out")
    val q = graft.streaming.AnnServing.startScoringSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .json(in), out, tmp("bq_ckpt")) { b =>
      graft.streaming.AnnServing.scoreBatchBq(b.sparkSession, idx,
        b.sparkSession.read.parquet(vectorsPath), b)
    }
    assert(q.awaitTermination(120000))

    val res = spark.read.parquet(out)
    assert(res.select("batch_id").distinct().count() == 2)
    val byQid = res.collect()
      .groupBy(_.getAs[Long]("qid"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank")))

    // qid 0: row-identical to emb_bq_served's (vec_id, hd, sim) answer
    val served = Registry.byName("emb_bq_served").build(spark, dir)
      .select("vec_id", "hd", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val streamed0 = byQid(0L).map(r => (r.getAs[Long]("vec_id"),
      r.getAs[Long]("hd"), r.getAs[Double]("sim"))).toSeq
    assert(streamed0 == served, s"stream=$streamed0 batch=$served")

    // qid 7: full top-5, never itself, sims non-increasing, hd sane
    val s7 = byQid(7L)
    assert(s7.length == 5)
    assert(s7.forall(_.getAs[Long]("vec_id") != 7L))
    val sims7 = s7.map(_.getAs[Double]("sim")).toSeq
    assert(sims7 == sims7.sorted.reverse)
    assert(s7.forall(r => (0L to 64L).contains(r.getAs[Long]("hd"))))

    // empty batch answers the typed empty frame, not a crash
    val none = graft.streaming.AnnServing.scoreBatchBq(
      spark, idx, emb, emb.filter(col("vec_id") === -1)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")))
    assert(none.isEmpty)
    assert(none.columns.toSeq ==
      Seq("qid", "rank", "vec_id", "hd", "sim"))
  }

  test("streaming index maintenance converges to the batch-built index") {
    import org.apache.spark.sql.types._
    val dir = "/root/testdata/sf0.001"
    val idx = queries.EmbQueries.ensureServedIndex(spark, dir)
    val vectorsPath = s"$dir/embeddings.parquet"
    val emb = spark.read.parquet(vectorsPath)
    val batchPred = col("vec_id") % 10 === 3 && col("vec_id") =!= 0

    // a published v1 root with the batch slice absent (centroids and
    // codebook copied — maintenance reuses them, never retrains)
    val full = spark.read.parquet(s"$idx/codes")
    val work = publishedV1(tmp("ann_maint"), idx, full.filter(!batchPred))

    // the missing slice arrives as TWO micro-batches (one file each)
    val in = tmp("ann_maint_in")
    def dump(name: String, pred: org.apache.spark.sql.Column): Unit = {
      val sb = new StringBuilder
      emb.filter(pred).select("vec_id", "embedding", "label").collect()
        .foreach { r =>
          val v = r.getSeq[Float](1)
          sb.append(
            s"""{"vec_id":${r.getLong(0)},"embedding":[${v.mkString(",")}],"label":${r.getInt(2)}}""")
          sb.append('\n')
        }
      Files.write(java.nio.file.Paths.get(in, name),
        sb.toString.getBytes("UTF-8"))
    }
    dump("b0.json", col("vec_id") % 20 === 3 && col("vec_id") =!= 0)
    dump("b1.json", col("vec_id") % 20 === 13)

    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType)),
      StructField("label", IntegerType)))
    val q = upsertSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .json(in),
      work, tmp("ann_maint_ckpt"))
    assert(q.awaitTermination(120000))
    // one published upsert version per micro-batch
    assert(index.IndexStore.readManifest(spark, work)._1 == 3)

    // 1. the maintained index is row-identical to the batch-built full
    // served index — same cells, same codes, same inlined attribute,
    // nothing lost or invented
    val maintained = publishedCodes(work)
    val key = (d: org.apache.spark.sql.DataFrame) => d.select(
      col("vec_id"), col("cell"), col("label"),
      array_join(transform(col("codes"), c => c.cast("string")), ",")
        .as("cs"))
    assert(key(full).exceptAll(key(maintained)).isEmpty)
    assert(key(maintained).exceptAll(key(full)).isEmpty)

    // 2. a query served from the maintained index equals the answer
    // from the batch-built index
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val (_, centPath, codesPath) =
      index.IndexStore.readManifest(spark, work)
    val answerWork = graft.streaming.AnnServing
      .scoreBatchAt(spark, centPath, codesPath, s"$work/codebook",
        spark.read.parquet(vectorsPath), probe)
      .collect().map(_.toString).toSeq
    val answerIdx = graft.streaming.AnnServing
      .scoreBatch(spark, idx, spark.read.parquet(vectorsPath), probe)
      .collect().map(_.toString).toSeq
    assert(answerWork == answerIdx)

    // 3. IDEMPOTENCE: replaying an already-applied batch (the
    // foreachBatch failure-replay scenario) appends nothing and
    // publishes nothing — the anti-join against the published view's
    // ids rejects every re-arriving row
    val replay = emb.filter(batchPred).select("vec_id", "embedding")
    val appended = graft.streaming.AnnServing
      .applyUpsertBatchVersioned(spark, work, replay)
    assert(appended == 0L, s"replay appended $appended rows")
    assert(index.IndexStore.readManifest(spark, work)._1 == 3,
      "a replayed batch published a version")
    val afterReplay = publishedCodes(work)
    assert(key(afterReplay).exceptAll(key(full)).isEmpty)
    assert(key(full).exceptAll(key(afterReplay)).isEmpty)
  }

  test("versioned serving swaps the index under a checkpointed stream") {
    import org.apache.spark.sql.types._
    val dir = "/root/testdata/sf0.001"
    // stage the versioned artifacts and the publish history (ends v3)
    Registry.byName("emb_ivfpq_published").build(spark, dir).collect()
    val root = {
      val h = java.lang.Integer.toHexString(dir.hashCode & 0x7fffffff)
      val pid = ProcessHandle.current().pid()
      java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_ivfpq_${pid}_$h").toString
    }
    val vectorsPath = s"$dir/embeddings.parquet"
    val emb = spark.read.parquet(vectorsPath)
    def vecJson(qid: Long): String = {
      val v = emb.filter(col("vec_id") === qid)
        .select("embedding").collect()(0).getSeq[Float](0)
      s"""{"qid":$qid,"qvec":[${v.mkString(",")}]}"""
    }
    val in = tmp("pub_in")
    val out = tmp("pub_out")
    val ckpt = tmp("pub_ckpt")
    val schema = StructType(Seq(
      StructField("qid", LongType),
      StructField("qvec", ArrayType(DoubleType))))
    def runSink(): Unit = {
      val q = graft.streaming.AnnServing.startPublishedServingSink(
        spark.readStream.schema(schema).json(in),
        root, vectorsPath, out, ckpt)
      assert(q.awaitTermination(120000))
    }

    // serve qid 0 under the OLD version
    index.IndexStore.publishVersion(spark, root, 1,
      s"$root/centroids", s"$root/codes")
    Files.write(java.nio.file.Paths.get(in, "q0.json"),
      (vecJson(0L) + "\n").getBytes("UTF-8"))
    runSink()

    // SWAP under the same checkpointed stream, then serve qid 7
    index.IndexStore.publishVersion(spark, root, 2,
      s"$root/centroids_reb", s"$root/codes_reb")
    Files.write(java.nio.file.Paths.get(in, "q7.json"),
      (vecJson(7L) + "\n").getBytes("UTF-8"))
    runSink()

    val res = spark.read.parquet(out).collect()
      .groupBy(_.getAs[Long]("qid"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank")))

    // qid 0 answered by v1 and row-identical to the batch served read
    val r0 = res(0L)
    assert(r0.forall(_.getAs[Int]("version") == 1))
    val served = Registry.byName("emb_ivfpq_served").build(spark, dir)
      .select("vec_id", "sim").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(r0.map(r => (r.getAs[Long]("vec_id"),
      r.getAs[Double]("sim"))).toSeq == served)

    // qid 7 answered by v2 — the swap took effect with no topology
    // change — and equals a direct read of the v2 artifacts
    val r7 = res(7L)
    assert(r7.forall(_.getAs[Int]("version") == 2))
    val probe7 = emb.filter(col("vec_id") === 7)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val direct7 = graft.streaming.AnnServing.scoreBatchAt(
      spark, s"$root/centroids_reb", s"$root/codes_reb",
      s"$root/codebook", emb, probe7)
      .collect().sortBy(_.getAs[Int]("rank"))
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    assert(r7.map(r => (r.getAs[Long]("vec_id"),
      r.getAs[Double]("sim"))).toSeq == direct7)

    // restore the lifecycle's final published state (v3 — the
    // retrained epoch) so later consumers of the shared manifest see
    // the canonical ending
    index.IndexStore.publishVersion(spark, root, 3,
      s"$root/centroids_rt", s"$root/codes_rt")
  }

  test("streaming sq serving equals the batch sq served answer") {
    import org.apache.spark.sql.types._
    val dir = "/root/testdata/sf0.001"
    val idx = queries.EmbQueries.ensureServedIndex(spark, dir)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    def vecJson(qid: Long): String = {
      val v = emb.filter(col("vec_id") === qid)
        .select("embedding").collect()(0).getSeq[Float](0)
      s"""{"qid":$qid,"qvec":[${v.mkString(",")}]}"""
    }
    val in = tmp("sq_in")
    Files.write(java.nio.file.Paths.get(in, "q0.json"),
      (vecJson(0L) + "\n").getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(in, "q7.json"),
      (vecJson(7L) + "\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("qid", LongType),
      StructField("qvec", ArrayType(DoubleType))))
    val out = tmp("sq_out")
    val q = graft.streaming.AnnServing.startScoringSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .json(in), out, tmp("sq_ckpt")) { b =>
      graft.streaming.AnnServing.scoreBatchSq(b.sparkSession, idx, b)
    }
    assert(q.awaitTermination(120000))

    val res = spark.read.parquet(out)
    assert(res.select("batch_id").distinct().count() == 2)
    val byQid = res.collect()
      .groupBy(_.getAs[Long]("qid"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank")))

    // qid 0: row-identical to emb_sq_served's (vec_id, qdot,
    // approx_dot) answer
    val served = Registry.byName("emb_sq_served").build(spark, dir)
      .select("vec_id", "qdot", "approx_dot").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val streamed0 = byQid(0L).map(r => (r.getAs[Long]("vec_id"),
      r.getAs[Long]("qdot"), r.getAs[Double]("approx_dot"))).toSeq
    assert(streamed0 == served, s"stream=$streamed0 batch=$served")

    // qid 7: full top-5, never itself, approx_dot non-increasing
    val s7 = byQid(7L)
    assert(s7.length == 5)
    assert(s7.forall(_.getAs[Long]("vec_id") != 7L))
    val d7 = s7.map(_.getAs[Double]("approx_dot")).toSeq
    assert(d7 == d7.sorted.reverse)

    // empty batch: typed empty frame, not a crash
    val none = graft.streaming.AnnServing.scoreBatchSq(
      spark, idx, emb.filter(col("vec_id") === -1)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")))
    assert(none.isEmpty)
    assert(none.columns.toSeq ==
      Seq("qid", "rank", "vec_id", "qdot", "approx_dot"))
  }

  test("label-aware streaming serving equals the batch per-slice serve") {
    import org.apache.spark.sql.types._
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // the (label -> nprobe) side table is the repair decision itself —
    // v3-derived (the repair resolves the published manifest), so the
    // sink below must serve the SAME manifest for row-identity: the
    // epoch-consistency contract
    val depthsPath = tmp("las_depths") + "/depths.parquet"
    Registry.byName("emb_label_nprobe_repair").build(spark, dir)
      .select(col("a_label"), col("nprobe_chosen").as("np"))
      .write.mode("overwrite").parquet(depthsPath)
    val root = queries.EmbQueries.indexPath(dir)
    val (ver, centPath, codesPath) =
      index.IndexStore.readManifest(spark, root)
    assert(ver == 3, s"repair must publish/serve the v3 epoch, got v$ver")
    // stream every anchor (vec_id < 8) with its label — the same
    // query universe the batch emb_label_aware_serving answers
    val anchors = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"),
        coalesce(col("label").cast("int"), lit(-2)).as("a_label"),
        col("embedding")).collect()
    val in = tmp("las_in")
    anchors.foreach { r =>
      val qid = r.getAs[Long]("vec_id")
      val v = r.getSeq[Float](2)
      Files.write(java.nio.file.Paths.get(in, s"q$qid.json"),
        (s"""{"qid":$qid,"qlabel":${r.getAs[Int]("a_label")},""" +
          s""""qvec":[${v.mkString(",")}]}""" + "\n").getBytes("UTF-8"))
    }
    val schema = StructType(Seq(
      StructField("qid", LongType),
      StructField("qlabel", IntegerType),
      StructField("qvec", ArrayType(DoubleType))))
    val out = tmp("las_out")
    val q = graft.streaming.AnnServing.startPublishedLabelAwareServingSink(
      spark.readStream.schema(schema).json(in),
      root, s"$dir/embeddings.parquet", depthsPath, out,
      tmp("las_ckpt"))
    assert(q.awaitTermination(120000))
    // every answered row carries the serving version = the repair's
    assert(spark.read.parquet(out)
      .filter(col("version") =!= 3).count() == 0)

    // row-identical to the batch per-slice serve for every anchor
    val batch = Registry.byName("emb_label_aware_serving")
      .build(spark, dir).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq.sorted
    val streamed = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq.sorted
    assert(streamed == batch,
      s"stream(${streamed.size}) != batch(${batch.size})")

    // a query whose label has no depth entry falls back to nprobe=2
    // and still answers (never crashes, never over-probes)
    val fallback = graft.streaming.AnnServing.scoreBatchLabelAwareAt(
      spark, centPath, codesPath, s"$dir/embeddings.parquet", depthsPath,
      emb.filter(col("vec_id") === 9)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          lit(999).as("qlabel")))
    assert(fallback.count() == 5)

    // empty batch: typed empty frame, not a crash
    val none = graft.streaming.AnnServing.scoreBatchLabelAwareAt(
      spark, centPath, codesPath, s"$dir/embeddings.parquet", depthsPath,
      emb.filter(col("vec_id") === -1)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          lit(0).as("qlabel")))
    assert(none.isEmpty)
    assert(none.columns.toSeq == Seq("qid", "rank", "vec_id", "sim"))
  }

  test("budget-aware streaming serving equals the batch combined-lever serve") {
    import org.apache.spark.sql.types._
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // publish the v3 lineage and capture the batch repair's decisions
    val repair = Registry.byName("emb_label_shortn_repair")
      .build(spark, dir)
      .select(col("a_label"), col("nprobe_chosen"), col("shortn_chosen"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq.sorted
    val root = queries.EmbQueries.indexPath(dir)
    val budgetsPath = tmp("bas_budgets") + "/budgets.parquet"
    val bver = graft.streaming.AnnServing.deriveLabelBudgets(
      spark, root, s"$dir/embeddings.parquet", budgetsPath)
    assert(bver == 3, s"repair must publish/serve the v3 epoch, got v$bver")
    // DECISION twin: the streaming derivation (shared labelBudgetCore)
    // lands on exactly the combos the batch repair chose
    val derived = spark.read.parquet(budgetsPath)
      .select(col("a_label"), col("np"), col("sn"), col("index_version"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSeq.sorted
    assert(derived.map(t => (t._1, t._2, t._3)) == repair,
      s"derived=$derived repair=$repair")
    assert(derived.forall(_._4 == 3))

    // stream every anchor with its label through the published sink
    val anchors = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"),
        coalesce(col("label").cast("int"), lit(-2)).as("a_label"),
        col("embedding")).collect()
    val in = tmp("bas_in")
    anchors.foreach { r =>
      val qid = r.getAs[Long]("vec_id")
      val v = r.getSeq[Float](2)
      Files.write(java.nio.file.Paths.get(in, s"q$qid.json"),
        (s"""{"qid":$qid,"qlabel":${r.getAs[Int]("a_label")},""" +
          s""""qvec":[${v.mkString(",")}]}""" + "\n").getBytes("UTF-8"))
    }
    val schema = StructType(Seq(
      StructField("qid", LongType),
      StructField("qlabel", IntegerType),
      StructField("qvec", ArrayType(DoubleType))))
    val out = tmp("bas_out")
    val q = graft.streaming.AnnServing.startPublishedBudgetAwareServingSink(
      spark.readStream.schema(schema).json(in),
      root, s"$dir/embeddings.parquet", budgetsPath, out,
      tmp("bas_ckpt"))
    assert(q.awaitTermination(120000))
    assert(spark.read.parquet(out)
      .filter(col("version") =!= 3).count() == 0)

    // SERVE twin: row-identical to emb_label_budget_serving for every
    // anchor, INCLUDING the (nprobe, shortn) each row was served at
    val batch = Registry.byName("emb_label_budget_serving")
      .build(spark, dir).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Int]("nprobe"),
        r.getAs[Int]("shortn"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq.sorted
    val streamed = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("nprobe"),
        r.getAs[Int]("shortn"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq.sorted
    assert(streamed == batch,
      s"stream(${streamed.size}) != batch(${batch.size})")

    // a query whose label has no budget row serves at the FULL budget
    // (6, 40) — the batch repair's own fallback — and still answers
    val (_, centPath, codesPath) =
      index.IndexStore.readManifest(spark, root)
    val fallback = graft.streaming.AnnServing.scoreBatchBudgetAwareAt(
      spark, centPath, codesPath, s"$root/codebook",
      s"$dir/embeddings.parquet", budgetsPath,
      emb.filter(col("vec_id") === 9)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          lit(999).as("qlabel")),
      indexVersion = Some(3)).collect()
    assert(fallback.length == 5)
    assert(fallback.forall(r => r.getAs[Int]("nprobe") == 6 &&
      r.getAs[Int]("shortn") == 40))

    // a manifest AHEAD of the table (upsert-only lag — consolidating
    // advances re-derive in-batch, so lag is always upsert-only)
    // serves the newest table at or below it: label 0 still gets ITS
    // chosen combo, not the fallback
    val c0 = derived.find(_._1 == 0).get
    val ahead = graft.streaming.AnnServing.scoreBatchBudgetAwareAt(
      spark, centPath, codesPath, s"$root/codebook",
      s"$dir/embeddings.parquet", budgetsPath,
      emb.filter(col("vec_id") === 9)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          lit(0).as("qlabel")),
      indexVersion = Some(99)).collect()
    assert(ahead.length == 5)
    assert(ahead.forall(r => r.getAs[Int]("nprobe") == c0._2 &&
      r.getAs[Int]("shortn") == c0._3))

    // a manifest BELOW every derived table (rollback in progress)
    // never pairs with a future table — full-budget fallback
    val rolled = graft.streaming.AnnServing.scoreBatchBudgetAwareAt(
      spark, centPath, codesPath, s"$root/codebook",
      s"$dir/embeddings.parquet", budgetsPath,
      emb.filter(col("vec_id") === 9)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          lit(0).as("qlabel")),
      indexVersion = Some(2)).collect()
    assert(rolled.length == 5)
    assert(rolled.forall(r => r.getAs[Int]("nprobe") == 6 &&
      r.getAs[Int]("shortn") == 40))

    // empty batch: typed empty frame, not a crash
    val none = graft.streaming.AnnServing.scoreBatchBudgetAwareAt(
      spark, centPath, codesPath, s"$root/codebook",
      s"$dir/embeddings.parquet", budgetsPath,
      emb.filter(col("vec_id") === -1)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          lit(0).as("qlabel")))
    assert(none.isEmpty)
    assert(none.columns.toSeq ==
      Seq("qid", "nprobe", "shortn", "rank", "vec_id", "sim"))
  }

  test("streaming auto-maintenance upserts then splits skewed cells") {
    import org.apache.spark.sql.types._
    val dir = "/root/testdata/sf0.001"
    val idx = queries.EmbQueries.ensureServedIndex(spark, dir)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val full = spark.read.parquet(s"$idx/codes")
    val maxLabel0 = full.agg(max(col("cell"))).collect()(0).getInt(0)

    // skew workload: copies of the BIGGEST cell's member vectors under
    // fresh ids — identical vectors assign to the same cell, so the
    // stream drives that cell over the fair-share threshold
    val topCell = full.groupBy("cell").count()
      .orderBy(col("count").desc, col("cell")).collect()(0).getInt(0)
    val memberRows = full.filter(col("cell") === topCell)
      .select("vec_id").join(emb, "vec_id")
      .select("vec_id", "embedding", "label")
      .orderBy("vec_id").collect()
    val (halfA, halfB) = memberRows.zipWithIndex.partition(_._2 % 2 == 0)
    def newRows(src: Array[(org.apache.spark.sql.Row, Int)], off: Long) =
      src.map { case (r, _) =>
        (r.getLong(0) + off, r.getSeq[Float](1), r.getInt(2))
      }
    val rowsA = newRows(halfA, 1000000L)
    val rowsB = newRows(halfB, 2000000L)

    // the id-keyed vector store must hold the arriving vectors too —
    // the maintenance contract (rebalance fetches true vectors)
    val aug = tmp("ann_auto_vecs")
    import spark.implicits._
    val augDf = emb.select("vec_id", "embedding", "label").unionByName(
      spark.createDataset(rowsA.toSeq ++ rowsB.toSeq)
        .toDF("vec_id", "embedding", "label")
        .select(col("vec_id"), col("embedding").cast("array<float>"),
          col("label")))
    augDf.write.parquet(s"$aug/embeddings.parquet")
    val augPath = s"$aug/embeddings.parquet"

    // working root + a twin for the direct-call equality pin
    val work = publishedV1(tmp("ann_auto"), idx, full)
    val twin = publishedV1(tmp("ann_auto_twin"), idx, full)

    // ONE micro-batch through the sink (order-deterministic) ...
    val in = tmp("ann_auto_in")
    val sb = new StringBuilder
    rowsA.foreach { case (id, v, l) =>
      sb.append(
        s"""{"vec_id":$id,"embedding":[${v.mkString(",")}],"label":$l}\n""")
    }
    Files.write(java.nio.file.Paths.get(in, "a.json"),
      sb.toString.getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType)),
      StructField("label", IntegerType)))
    val q = graft.streaming.AnnServing.startVersionedSelfHealingSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .json(in),
      work, augPath, tmp("ann_auto_ckpt"))
    assert(q.awaitTermination(120000))

    // ... equals the same maintenance chain called directly on the twin
    def batchDf(rows: Array[(Long, Seq[Float], Int)]) =
      spark.createDataset(rows.toSeq)
        .toDF("vec_id", "embedding", "label")
    graft.streaming.AnnServing.applyUpsertBatchVersioned(
      spark, twin, batchDf(rowsA))
    graft.streaming.AnnServing.applyRebalanceVersioned(spark, twin, augPath)
    graft.streaming.AnnServing
      .applyRetrainEpochIfDueVersioned(spark, twin, augPath)
    assert(index.IndexStore.readManifest(spark, work)._1 ==
      index.IndexStore.readManifest(spark, twin)._1)
    val key = (d: org.apache.spark.sql.DataFrame) => d.select(
      col("vec_id"), col("cell"), col("label"),
      array_join(transform(col("codes"), c => c.cast("string")), ",")
        .as("cs"))
    assert(key(publishedCodes(work))
      .exceptAll(key(publishedCodes(twin))).isEmpty)
    assert(key(publishedCodes(twin))
      .exceptAll(key(publishedCodes(work))).isEmpty)
    val ckey = (d: org.apache.spark.sql.DataFrame) => d.select(
      col("c_label"),
      array_join(transform(col("cvec"), c => c.cast("string")), ","))
    assert(ckey(publishedCent(work)).exceptAll(ckey(publishedCent(twin)))
      .isEmpty)
    assert(ckey(publishedCent(twin)).exceptAll(ckey(publishedCent(work)))
      .isEmpty)

    // the skewed cell split: a post-maxLabel cell exists and is
    // non-empty, and every row that moved kept its PQ codes
    val afterA = publishedCodes(work)
    assert(afterA.filter(col("cell") > maxLabel0).count() > 0,
      "no split happened — workload did not skew the index")
    val codeKey = (d: org.apache.spark.sql.DataFrame) => d.select(
      col("vec_id"),
      array_join(transform(col("codes"), c => c.cast("string")), ",")
        .as("cs"))
    assert(codeKey(full).exceptAll(
      codeKey(afterA.filter(col("vec_id") < 1000000L))).isEmpty,
      "a pre-existing row lost or changed its codes in the split")

    // second round DIRECT: upsert against the POST-SPLIT centroids,
    // then rebalance again
    graft.streaming.AnnServing.applyUpsertBatchVersioned(
      spark, work, batchDf(rowsB))
    graft.streaming.AnnServing.applyRebalanceVersioned(spark, work, augPath)

    // replay the full workload: the full-view dedup rejects every
    // re-arriving id even though centroids changed since they were
    // first applied, and nothing is published
    val vBefore = index.IndexStore.readManifest(spark, work)._1
    val appended = graft.streaming.AnnServing.applyUpsertBatchVersioned(
      spark, work, batchDf(rowsA ++ rowsB))
    assert(appended == 0L, s"replay appended $appended rows")
    assert(index.IndexStore.readManifest(spark, work)._1 == vBefore)

    // integrity: every base id + every new id present exactly once,
    // and each new id carries its source member's exact codes (same
    // vector, same codebook -> same deterministic encoding)
    val fin = publishedCodes(work)
    assert(fin.count() == full.count() + rowsA.length + rowsB.length)
    assert(fin.groupBy("vec_id").count().filter(col("count") > 1)
      .count() == 0)
    val srcCodes = codeKey(full).withColumnRenamed("cs", "src_cs")
    val newJoined = codeKey(fin.filter(col("vec_id") >= 1000000L))
      .withColumn("src_id",
        when(col("vec_id") >= 2000000L, col("vec_id") - 2000000L)
          .otherwise(col("vec_id") - 1000000L))
      .join(srcCodes.withColumnRenamed("vec_id", "src_id"), "src_id")
    assert(newJoined.filter(col("cs") =!= col("src_cs")).count() == 0,
      "an upserted copy encoded differently from its source vector")
  }

  test("self-healing sink publishes the epoch when health rules trip") {
    import org.apache.spark.sql.types._
    val dir = "/root/testdata/sf0.001"
    val idx = queries.EmbQueries.ensureServedIndex(spark, dir)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val full = spark.read.parquet(s"$idx/codes")

    // same skew workload as the auto-maintain test: clones of the
    // biggest cell's members drive that cell over the threshold; the
    // post-rebalance state still trips the skew rule (single split
    // leaves the region dominant), so the epoch must run
    val topCell = full.groupBy("cell").count()
      .orderBy(col("count").desc, col("cell")).collect()(0).getInt(0)
    val memberRows = full.filter(col("cell") === topCell)
      .select("vec_id").join(emb, "vec_id")
      .select("vec_id", "embedding", "label")
      .orderBy("vec_id").collect()
    val rows = memberRows.map { r =>
      (r.getLong(0) + 3000000L, r.getSeq[Float](1), r.getInt(2))
    }
    import spark.implicits._
    val aug = tmp("ann_heal_vecs")
    emb.select("vec_id", "embedding", "label").unionByName(
      spark.createDataset(rows.toSeq)
        .toDF("vec_id", "embedding", "label")
        .select(col("vec_id"), col("embedding").cast("array<float>"),
          col("label")))
      .write.parquet(s"$aug/embeddings.parquet")
    val augPath = s"$aug/embeddings.parquet"

    val work = publishedV1(tmp("ann_heal"), idx, full)
    val twin = publishedV1(tmp("ann_heal_twin"), idx, full)

    val in = tmp("ann_heal_in")
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
    val q = graft.streaming.AnnServing.startVersionedSelfHealingSink(
      spark.readStream.schema(schema).json(in),
      work, augPath, tmp("ann_heal_ckpt"))
    assert(q.awaitTermination(120000))

    // twin: the same chain called directly — the trigger must fire
    val batch = spark.createDataset(rows.toSeq)
      .toDF("vec_id", "embedding", "label")
    graft.streaming.AnnServing.applyUpsertBatchVersioned(spark, twin, batch)
    val nUpserted = publishedCodes(twin).count()
    graft.streaming.AnnServing.applyRebalanceVersioned(spark, twin, augPath)
    val (ran, misBefore) = graft.streaming.AnnServing
      .applyRetrainEpochIfDueVersioned(spark, twin, augPath)
    assert(ran, "health rules did not trip on the skew workload")

    // sink state == direct-call state (codes AND centroids)
    val key = (d: org.apache.spark.sql.DataFrame) => d.select(
      col("vec_id"), col("cell"), col("label"),
      array_join(transform(col("codes"), c => c.cast("string")), ",")
        .as("cs"))
    assert(key(publishedCodes(work))
      .exceptAll(key(publishedCodes(twin))).isEmpty)
    assert(key(publishedCodes(twin))
      .exceptAll(key(publishedCodes(work))).isEmpty)
    val ckey = (d: org.apache.spark.sql.DataFrame) => d.select(
      col("c_label"),
      array_join(transform(col("cvec"), c => c.cast("string")), ","))
    assert(ckey(publishedCent(work)).exceptAll(ckey(publishedCent(twin)))
      .isEmpty)
    assert(ckey(publishedCent(twin)).exceptAll(ckey(publishedCent(work)))
      .isEmpty)

    // the epoch CURED the drift: zero vectored rows sit outside their
    // nearest post-epoch centroid (recomputed independently here)
    val cent = publishedCent(work)
      .select(col("c_label").as("clab"), col("cvec"))
      .groupBy("clab").agg(first(col("cvec")).as("cvec"))
    val vecs = spark.read.parquet(augPath)
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("mvec"))
    val wN = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("d2").asc_nulls_last, col("clab"))
    val misAfter = publishedCodes(work).select("vec_id", "cell")
      .join(vecs, Seq("vec_id"), "left")
      .crossJoin(broadcast(cent))
      .withColumn("d2",
        graft.functions.VecL2Sq.column(col("mvec"), col("cvec")))
      .withColumn("rn", row_number().over(wN))
      .filter(col("rn") === 1)
      .filter(col("d2").isNotNull && col("clab") =!= col("cell"))
      .count()
    assert(misAfter == 0L, s"epoch left $misAfter misplaced rows")
    assert(misBefore >= 0L)

    // payloads preserved: every (vec_id, codes, label) of the
    // post-upsert state survives the epoch (membership-only rewrite)
    assert(nUpserted == full.count() + rows.length)
    assert(key(publishedCodes(work)).count() == nUpserted)
  }

  test("rebalance keeps index rows whose vectors are missing from the store") {
    // the left-join contract: the split consolidates an overgrown
    // cell's rows into the next version with exactly the rows it
    // computed — if the vector store lacks some indexed ids (store lag,
    // partial restore), those rows must stay in place, not vanish
    val dir = "/root/testdata/sf0.001"
    val idx = queries.EmbQueries.ensureServedIndex(spark, dir)
    val full = spark.read.parquet(s"$idx/codes")
    val work = publishedV1(tmp("ann_gap"), idx, full)
    // a vector store MISSING every third id
    val gap = tmp("ann_gap_vecs")
    spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") % 3 =!= 0 || col("vec_id") === 0)
      .write.parquet(s"$gap/embeddings.parquet")

    val moved = graft.streaming.AnnServing.applyRebalanceVersioned(
      spark, work, s"$gap/embeddings.parquet")
    assert(index.IndexStore.readManifest(spark, work)._1 == 2)

    val after = publishedCodes(work)
    // nothing lost, nothing invented — only `cell` may differ
    val key = (d: org.apache.spark.sql.DataFrame) => d.select(
      col("vec_id"), col("label"),
      array_join(transform(col("codes"), c => c.cast("string")), ",")
        .as("cs"))
    assert(key(full).exceptAll(key(after)).isEmpty)
    assert(key(after).exceptAll(key(full)).isEmpty)
    // vectorless ids specifically: all still present, all in their
    // ORIGINAL cells (NULL distances never satisfy the move rule)
    val vecless = full.filter(col("vec_id") % 3 === 0 &&
      col("vec_id") =!= 0).select(col("vec_id"), col("cell").as("c0"))
    val placed = after.select(col("vec_id"), col("cell").as("c1"))
    val movedVecless = vecless.join(placed, "vec_id")
      .filter(col("c0") =!= col("c1")).count()
    assert(movedVecless == 0, "a vectorless row changed cells")
    // and the split still did real work on the rows that HAVE vectors
    assert(moved > 0, "no row moved — the gap store starved the split")
  }

  test("streaming delete publishes a compacted version") {
    import org.apache.spark.sql.types._
    val dir = "/root/testdata/sf0.001"
    val idx = queries.EmbQueries.ensureServedIndex(spark, dir)
    val vectorsPath = s"$dir/embeddings.parquet"
    val tombPred = col("vec_id") % 10 === 7 && col("vec_id") =!= 0

    // published root of the FULL index + a batch-filtered reference
    // index in the as-built layout
    val full = spark.read.parquet(s"$idx/codes")
    val work = publishedV1(tmp("ann_del"), idx, full)
    val ref = tmp("ann_del_ref")
    full.filter(!tombPred).write.partitionBy("cell")
      .parquet(s"$ref/codes")
    spark.read.parquet(s"$idx/centroids").write.parquet(s"$ref/centroids")
    spark.read.parquet(s"$idx/codebook").write.parquet(s"$ref/codebook")

    // a segment dir's parquet files with their sizes, and that of
    // every segment dir the published version references
    def parquetFiles(seg: String): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(seg)).iterator.asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(f => f.toString -> Files.size(f)).toMap
    }
    def segmentFiles(): Map[String, Map[String, Long]] =
      index.IndexStore.readManifest(spark, work)._3.split(',').toSeq
        .map(seg => seg -> parquetFiles(seg)).toMap

    // tombstones arrive as TWO micro-batches of {vec_id} rows, the
    // second after a restart of the same checkpointed sink
    val in = tmp("ann_del_in")
    val ckpt = tmp("ann_del_ckpt")
    def dump(name: String, pred: org.apache.spark.sql.Column): Unit = {
      val sb = new StringBuilder
      spark.read.parquet(s"$dir/embeddings.parquet").filter(pred)
        .select("vec_id").collect()
        .foreach { r => sb.append(s"""{"vec_id":${r.getLong(0)}}\n""") }
      Files.write(java.nio.file.Paths.get(in, name),
        sb.toString.getBytes("UTF-8"))
    }
    val schema = StructType(Seq(StructField("vec_id", LongType)))
    def drain(): Unit = assert(deleteSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .json(in), work, ckpt).awaitTermination(120000))
    val filesV1 = segmentFiles()
    dump("t0.json", col("vec_id") % 20 === 7 && col("vec_id") =!= 0)
    drain()
    assert(index.IndexStore.readManifest(spark, work)._1 == 2)
    val filesV2 = segmentFiles()
    dump("t1.json", col("vec_id") % 20 === 17)
    drain()
    assert(index.IndexStore.readManifest(spark, work)._1 == 3)

    // 1. row-identical to full-minus-tombstoned, no tombstone survives
    val compacted = publishedCodes(work)
    val key = (d: org.apache.spark.sql.DataFrame) => d.select(
      col("vec_id"), col("cell"),
      array_join(transform(col("codes"), c => c.cast("string")), ",")
        .as("cs"))
    assert(key(full.filter(!tombPred)).exceptAll(key(compacted)).isEmpty)
    assert(key(compacted).exceptAll(key(full.filter(!tombPred))).isEmpty)
    assert(compacted.filter(tombPred).count() == 0)

    // 2. the previous versions' segment dirs keep their file set:
    // each delete wrote a fresh segment and published it, touching
    // nothing an earlier version serves
    for ((before, label) <- Seq(filesV1 -> "v1", filesV2 -> "v2")) {
      assert(before.values.forall(_.nonEmpty), s"$label has no files")
      before.foreach { case (seg, files) =>
        assert(parquetFiles(seg) == files,
          s"$label segment $seg was rewritten")
      }
    }

    // 3. the compacted index serves the same answer as the reference
    // twin built by a direct batch filter, and never a deleted id
    val emb = spark.read.parquet(vectorsPath)
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val (_, centPath, codesPath) =
      index.IndexStore.readManifest(spark, work)
    val aw = graft.streaming.AnnServing
      .scoreBatchAt(spark, centPath, codesPath, s"$work/codebook", emb,
        probe)
      .collect()
    val ar = graft.streaming.AnnServing.scoreBatch(spark, ref, emb, probe)
      .collect()
    assert(aw.map(_.toString).toSeq == ar.map(_.toString).toSeq)
    assert(aw.forall(r => !(r.getAs[Long]("vec_id") % 10 == 7)))
  }

  test("streaming lifecycle: upsert then delete compose on one index") {
    import org.apache.spark.sql.types._
    val dir = "/root/testdata/sf0.001"
    val idx = queries.EmbQueries.ensureServedIndex(spark, dir)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val upPred = col("vec_id") % 10 === 3 && col("vec_id") =!= 0
    val delPred = col("vec_id") % 10 === 7 && col("vec_id") =!= 0

    // the published root starts WITHOUT the upsert slice; the stream
    // first adds it back (maintenance), then tombstones the delete
    // slice — the end state must equal full MINUS deleted, built
    // through two different sinks over the same root
    val full = spark.read.parquet(s"$idx/codes")
    val work = publishedV1(tmp("ann_life"), idx, full.filter(!upPred))

    val upIn = tmp("ann_life_up")
    locally {
      val sb = new StringBuilder
      emb.filter(upPred).select("vec_id", "embedding").collect()
        .foreach { r =>
          val v = r.getSeq[Float](1)
          sb.append(
            s"""{"vec_id":${r.getLong(0)},"embedding":[${v.mkString(",")}]}""")
          sb.append('\n')
        }
      Files.write(java.nio.file.Paths.get(upIn, "b0.json"),
        sb.toString.getBytes("UTF-8"))
    }
    val upSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType))))
    assert(upsertSink(spark.readStream.schema(upSchema).json(upIn),
      work, tmp("ann_life_ck1")).awaitTermination(120000))

    val delIn = tmp("ann_life_del")
    locally {
      val sb = new StringBuilder
      emb.filter(delPred).select("vec_id").collect()
        .foreach { r => sb.append(s"""{"vec_id":${r.getLong(0)}}\n""") }
      Files.write(java.nio.file.Paths.get(delIn, "t0.json"),
        sb.toString.getBytes("UTF-8"))
    }
    assert(deleteSink(spark.readStream.schema(
        StructType(Seq(StructField("vec_id", LongType)))).json(delIn),
      work, tmp("ann_life_ck2")).awaitTermination(120000))
    assert(index.IndexStore.readManifest(spark, work)._1 == 3)

    val end = publishedCodes(work)
    val key = (d: org.apache.spark.sql.DataFrame) => d.select(
      col("vec_id"), col("cell"),
      array_join(transform(col("codes"), c => c.cast("string")), ",")
        .as("cs"))
    val expect = key(full.filter(!delPred))
    assert(expect.exceptAll(key(end)).isEmpty)
    assert(key(end).exceptAll(expect).isEmpty)
  }
}
