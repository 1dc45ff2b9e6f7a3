package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.NewsPipeline
import graft.schema.NewsArticle
import graft.streaming.NewsStream

/** news_stream: the reference's four-sink lineage (`NewsStream.pipeline`
  * -> `startAllSinks`) fed by NDJSON files, in two phases of one run.
  *
  * Backlog: a staged backlog drains through the four sinks with
  * AvailableNow and a per-trigger file limit, `Drains` times, each timed
  * from start to the last sink done. Per-row work dominates: parse, clean,
  * score, write.
  *
  * Steady: open loop; one generator thread lands a file every
  * `SteadyIntervalMs` at a fixed article rate, sinks on ProcessingTime(0),
  * for the run's seconds. Per-batch fixed cost dominates. A file's latency
  * runs from its due time to the commit of the JSON-sink batch holding it
  * (the sink's `_spark_metadata` entry).
  */
object NewsBench {
  val SteadyIntervalMs = 80
  val SteadyArticlesPerFile = 200
  val BacklogFiles = 16
  val BacklogArticlesPerFile = 1000
  val BacklogFilesPerTrigger = 4
  val Drains = 3
  val Sinks = Seq("console", "json", "memory", "foreach")
  val ProgressKeys = Seq("latestOffset" -> "latest_offset",
    "getBatch" -> "get_batch", "queryPlanning" -> "query_planning",
    "addBatch" -> "add_batch", "walCommit" -> "wal_commit",
    "commitOffsets" -> "commit_offsets", "triggerExecution" -> "trigger")
  private val Checked = Seq("id", "polarity", "sentiment", "sentiment_confidence")
  private val BacklogTable = "news_sentiment_backlog"

  final class Stage(val spark: SparkSession, val root: Path) {
    val staged: Path = root.resolve("staged")
    val in: String = root.resolve("in").toString
    val backlog: String = root.resolve("backlog").toString
    var queries: Seq[StreamingQuery] = Nil
  }

  private def dispose(st: Stage): Unit = {
    Common.stop(st.spark)
    Common.deleteTree(st.root)
  }

  private def startSinks(st: Stage, src: DataFrame, run: String,
      trigger: Trigger, table: String): Seq[StreamingQuery] =
    NewsStream.startAllSinks(src, st.root.resolve(s"out$run").toString,
      st.root.resolve(s"ck$run").toString, trigger, table)

  def run(ctx: Ctx, res: Result, trace: Option[Trace]): Unit = {
    val nFiles = math.max(1, (ctx.seconds * 1000 / SteadyIntervalMs).round.toInt)
    val names = (0 until nFiles).map(i => f"f$i%06d.json")
    val backlogNames = (0 until BacklogFiles).map(i => f"b$i%04d.json")
    val st = Common.repeatedSetup(3, res) { () =>
      val root = Paths.get(ctx.dir("news"))
      Common.deleteTree(root)
      Files.createDirectories(root.resolve("in"))
      val st = new Stage(Common.session(ctx.cores), root)
      val gen = new ArticleGen(ctx.seed)
      backlogNames.zipWithIndex.foreach { case (n, i) =>
        gen.file(Paths.get(st.backlog, n), s"b${ctx.seed}-$i", BacklogArticlesPerFile)
      }
      names.zipWithIndex.foreach { case (n, i) =>
        gen.file(st.staged.resolve(n), s"s${ctx.seed}-$i", SteadyArticlesPerFile)
      }
      // warm-up: one small drain of the backlog lineage in its own dirs,
      // and one landed file through the steady sinks' first batch
      val warmIn = st.root.resolve("warm_in")
      gen.file(warmIn.resolve("warm.json"), s"v${ctx.seed}", 200)
      startSinks(st, drainSource(st.spark, warmIn.toString), "_warm",
        Trigger.AvailableNow(), BacklogTable).foreach(_.awaitTermination())
      gen.file(st.staged.resolve("warm.json"), s"w${ctx.seed}", SteadyArticlesPerFile)
      Common.land(st.staged.resolve("warm.json"), st.in)
      st.queries = startSinks(st, NewsStream.pipeline(st.spark, st.in), "",
        Trigger.ProcessingTime(0), "news_sentiment")
      st.queries.foreach(_.processAllAvailable())
      st
    }(dispose)
    trace.foreach(_.attach(st.spark))
    val w0 = System.nanoTime()

    // backlog phase
    val rates = (0 until Drains).map { d =>
      if (d > 0) {
        Common.deleteTree(st.root.resolve(s"out_b${d - 1}"))
        Common.deleteTree(st.root.resolve(s"ck_b${d - 1}"))
      }
      val n0 = System.nanoTime()
      startSinks(st, drainSource(st.spark, st.backlog), s"_b$d",
        Trigger.AvailableNow(), BacklogTable).foreach(_.awaitTermination())
      BacklogFiles.toDouble * BacklogArticlesPerFile / Common.secsSince(n0)
    }
    res.info("drain_articles_per_s") = rates.map(r => f"$r%.0f").mkString(",")
    res.e2e("throughput_per_s") = (Common.median(rates), "1/s")
    res.named("articles_per_s") = (Common.median(rates), "1/s")

    // steady phase
    val due = new Array[Long](nFiles)
    val late = new Array[Long](nFiles)
    val t0 = Common.nowMs + 20
    val gen = new Thread(() => {
      names.indices.foreach { i =>
        due(i) = t0 + i.toLong * SteadyIntervalMs
        val wait = due(i) - Common.nowMs
        if (wait > 0) Thread.sleep(wait)
        Common.land(st.staged.resolve(names(i)), st.in)
        late(i) = Common.nowMs - due(i)
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    res.info("window_s") = f"${Common.secsSince(w0)}%.3f"

    st.queries.foreach(_.processAllAvailable())
    val byName = Sinks.zip(st.queries).toMap
    trace.foreach { tr =>
      tr.drain(st.spark)
      Sinks.foreach(k => tr.streamLayers(res, s"streaming.$k", byName.get(k).map(_.id), ProgressKeys))
    }
    st.queries.foreach(_.stop())

    val batchOf = Common.batchOfFile(st.root.resolve("ck/json").toString)
    val commit = Common.commitTimes(st.root.resolve("out/stream_json/_spark_metadata").toString)
    val committed = names.indices.map(i => batchOf.get(names(i)).flatMap(commit.get))
    names.indices.foreach { i =>
      res.check(committed(i).isDefined, s"news.latency: ${names(i)} never committed by the JSON sink")
    }
    val lat = names.indices.flatMap(i => committed(i).map(ms => (ms - due(i)).toDouble))
    if (lat.nonEmpty) {
      res.e2e("latency_p50_ms") = (Common.quantile(lat, 0.5), "ms")
      res.e2e("latency_p95_ms") = (Common.quantile(lat, 0.95), "ms")
      res.named("latency_p50_ms") = res.e2e("latency_p50_ms")
      res.named("latency_p95_ms") = res.e2e("latency_p95_ms")
    }
    res.info("latency_samples") = lat.size.toString
    res.info("offered_articles_per_s") = f"${SteadyArticlesPerFile * 1000.0 / SteadyIntervalMs}%.1f"

    if (ctx.trace) {
      res.layer("generator.late_ms_max", late.max.toDouble, "ms")
      // files landed but not yet in a committed JSON-sink batch, at each landing
      val landed = names.indices.map(i => due(i) + late(i))
      val done = committed.flatten
      res.layer("streaming.backlog_files_max", landed.map(t =>
        landed.count(_ <= t) - done.count(_ <= t)).max.toDouble, "count")
    }

    def withheld(ns: Seq[String]): Seq[String] =
      ns.filterNot(n => ctx.canary == "withhold_file" && n == ns.last)
    checkSinks(st, st.in, withheld("warm.json" +: names), "", "news_sentiment", res)
    checkSinks(st, st.backlog, withheld(backlogNames), s"_b${Drains - 1}", BacklogTable, res)
    if (ctx.trace) pipelineLayers(st, res)
    dispose(st)
  }

  private def drainSource(s: SparkSession, dir: String): DataFrame =
    NewsPipeline.transform(s.readStream.schema(NewsArticle.schema)
      .option("maxFilesPerTrigger", BacklogFilesPerTrigger).json(dir))

  /** Every landed article is in the JSON sink and the memory table exactly
    * once, with the id, polarity, label and confidence that the same lineage
    * gives as one batch job over the same files.
    */
  private def checkSinks(st: Stage, dir: String, landed: Seq[String], run: String,
      table: String, res: Result): Unit = {
    val s = st.spark
    def rows(df: DataFrame): Seq[String] =
      df.select(Checked.map(col): _*).collect().map(_.mkString("|")).toSeq
    val paths = landed.map(n => Paths.get(dir, n).toString)
    val expected = rows(NewsPipeline.transform(
      s.read.schema(NewsArticle.schema).json(paths: _*)))
    val want = expected.groupBy(identity).view.mapValues(_.size).toMap
    res.attempted += expected.size
    val json = s.read.schema(NewsPipeline.processedSchema)
      .json(st.root.resolve(s"out$run/stream_json").toString)
    Seq("json" -> json, "memory" -> s.table(table)).foreach { case (sink, df) =>
      val got = rows(df)
      val ids = got.map(_.takeWhile(_ != '|'))
      val dups = ids.size - ids.distinct.size
      val have = got.groupBy(identity).view.mapValues(_.size).toMap
      val missing = want.map { case (r, n) => math.max(0, n - have.getOrElse(r, 0)) }.sum
      val extra = have.map { case (r, n) => math.max(0, n - want.getOrElse(r, 0)) }.sum
      res.failed += dups + missing + extra
      val at = s"news.$sink${if (run.isEmpty) "" else " (backlog)"}"
      res.check(dups == 0, s"$at: $dups article ids appear more than once")
      res.check(missing == 0, s"$at: $missing expected rows missing or different")
      res.check(extra == 0, s"$at: $extra rows not in the expected set")
    }
  }

  // ---------------------------------------------------- pipeline (traced)

  /** Per-stage cost of the lineage as batch jobs over the staged backlog:
    * each figure is a prefix run ending at that stage. Then the same full
    * job at one core, and the scorer alone on the cleaned texts.
    */
  private def pipelineLayers(st: Stage, res: Result): Unit = {
    val s = st.spark
    def raw(sp: SparkSession) = sp.read.schema(NewsArticle.schema).json(st.backlog)
    def timeNoop(df: => DataFrame): Double = {
      val t = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      Common.secsSince(t) * 1000
    }
    val articles = BacklogFiles.toDouble * BacklogArticlesPerFile
    res.layer("pipeline.parse_ms", timeNoop(NewsPipeline.project(raw(s))), "ms")
    res.layer("pipeline.clean_ms",
      timeNoop(NewsPipeline.clean(NewsPipeline.project(raw(s)))), "ms")
    res.layer("pipeline.score_ms", timeNoop(NewsPipeline.score(
      NewsPipeline.filterNonEmpty(NewsPipeline.clean(NewsPipeline.project(raw(s)))))), "ms")
    def fullJob(sp: SparkSession, out: String): Double = {
      val t = System.nanoTime()
      NewsPipeline.transform(raw(sp)).write.mode("overwrite").json(out)
      Common.secsSince(t)
    }
    val writeSec = fullJob(s, st.root.resolve("batch_out").toString)
    res.layer("pipeline.write_ms", writeSec * 1000, "ms")
    res.layer("pipeline.batch_articles_per_s", articles / writeSec, "1/s")
    val kept = s.read.json(st.root.resolve("batch_out").toString).count()
    res.layer("pipeline.rows_kept_ratio", kept / articles, "ratio")

    val texts = NewsPipeline.clean(NewsPipeline.project(raw(s)))
      .select(concat_ws(" ", col("title_clean"), col("text_clean")))
      .limit(20000).collect().map(_.getString(0))
    var sink = 0.0f
    texts.foreach(t => sink += graft.sentiment.Sentiment.polarity(t))
    var n = 0L
    val t = System.nanoTime()
    while (Common.secsSince(t) < 0.5) {
      texts.foreach(x => sink += graft.sentiment.Sentiment.polarity(x))
      n += texts.length
    }
    res.layer("sentiment.polarity_ns_per_article", (System.nanoTime() - t).toDouble / n, "ns")
    res.info("polarity_checksum") = sink.toString

    Common.stop(s)
    val one = SparkSession.builder().master("local[1]").appName("perfbench-1")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .getOrCreate()
    val oneSec = fullJob(one, st.root.resolve("batch_out_1").toString)
    res.layer("pipeline.single_thread_articles_per_s", articles / oneSec, "1/s")
    one.stop()
  }
}
