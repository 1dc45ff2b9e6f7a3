package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.NewsPipeline
import graft.schema.NewsArticle

/** Golden-file parity for the full news pipeline over the FIXTURES.md §A
  * variant set: nominal rows, null/empty/whitespace/punctuation-only
  * descriptions, non-ASCII, duplicate titles, missing columns, malformed
  * JSON, unparseable timestamps.
  */
class NewsPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val fixture: String = {
    val dir = Files.createTempDirectory("news_fixture").toFile
    val f = new java.io.File(dir, "articles.json")
    val lines = Seq(
      // nominal positive / negative / neutral
      """{"id":"1","title":"Markets rally","description":"great success story","url":"u1","publishedAt":"2024-01-01T10:00:00Z","lang":"en","fetched_at":"2024-01-01T10:05:00"}""",
      """{"id":"2","title":"Storm damage","description":"terrible crisis failure","url":"u2","publishedAt":"2024-01-01T10:01:00Z","lang":"en","fetched_at":"2024-01-01T10:05:00"}""",
      """{"id":"3","title":"Weather report","description":"routine market update","url":"u3","publishedAt":"2024-01-01T10:02:00Z","lang":"en","fetched_at":"2024-01-01T10:05:00"}""",
      // null description -> cleaned to '' -> filtered
      """{"id":"4","title":"No body","description":null,"url":"u4","publishedAt":"2024-01-01T10:03:00Z","lang":"en","fetched_at":"2024-01-01T10:05:00"}""",
      // empty description -> filtered
      """{"id":"5","title":"Empty body","description":"","url":"u5","publishedAt":"2024-01-01T10:04:00Z","lang":"en","fetched_at":"2024-01-01T10:05:00"}""",
      // whitespace-only -> filtered (trim semantics, work.py:147)
      """{"id":"6","title":"Blank body","description":"   ","url":"u6","publishedAt":"2024-01-01T10:05:00Z","lang":"en","fetched_at":"2024-01-01T10:05:00"}""",
      // punctuation/digits only -> cleans to whitespace -> filtered
      """{"id":"7","title":"Numbers","description":"1234!!! ???","url":"u7","publishedAt":"2024-01-01T10:06:00Z","lang":"en","fetched_at":"2024-01-01T10:05:00"}""",
      // non-ASCII strips to the ASCII letters
      """{"id":"8","title":"Unicode","description":"très good café","url":"u8","publishedAt":"2024-01-01T10:07:00Z","lang":"fr","fetched_at":"2024-01-01T10:05:00"}""",
      // duplicate title of id=1 (dedup surface)
      """{"id":"9","title":"Markets rally","description":"great success story","url":"u9","publishedAt":"2024-01-01T10:08:00Z","lang":"en","fetched_at":"2024-01-01T10:05:00"}""",
      // missing columns entirely (repair: absent -> null)
      """{"id":"10","title":"Sparse"}""",
      // malformed JSON line (DROPMALFORMED-style skip)
      """{"id":"11","title":"Broken",""",
      // unparseable timestamp (parse-at-edge => null, errors=coerce)
      """{"id":"12","title":"Bad ts","description":"good news","url":"u12","publishedAt":"not-a-date","lang":"en","fetched_at":"also-bad"}"""
    )
    Files.write(f.toPath, String.join("\n", lines: _*).getBytes("UTF-8"))
    f.getAbsolutePath
  }

  private lazy val out =
    NewsPipeline.transform(
      spark.read.schema(NewsArticle.schema).json(fixture))

  test("observe collects pipeline metrics in the SAME pass as the action") {
    val obsIn = org.apache.spark.sql.Observation("ingest")
    val obsOut = org.apache.spark.sql.Observation("scored")
    val observed = NewsPipeline.transformObserved(
      spark.read.schema(NewsArticle.schema).json(fixture), obsIn, obsOut)
    // ONE action drives the lineage; Observation.get then holds the
    // metrics without any second scan of the input
    assert(observed.count() == 6)
    val in = obsIn.get
    val outM = obsOut.get
    // PERMISSIVE ingest keeps the malformed line as an all-null row at
    // this point (it dies in filterNonEmpty), so ingest sees all 12
    assert(in("rows_in") == 12L)
    assert(outM("rows_kept") == 6L)
    assert(outM("n_negative") == 1L) // id=2 only
    // polarity sum rides back double-exact; the golden labels test pins
    // per-row values, here we only need "metrics came from the real rows"
    assert(outM("polarity_sum").asInstanceOf[Double].abs > 0.0)
  }

  test("filter drops null/empty/whitespace/punct-only and malformed rows") {
    val ids = out.select("id").collect().map(_.getString(0)).toSet
    assert(ids == Set("1", "2", "3", "8", "9", "12"))
  }

  test("golden labels and confidences") {
    val m = out.select("id", "polarity", "sentiment", "sentiment_confidence")
      .collect().map(r => r.getString(0) ->
        (r.getFloat(1), r.getString(2), r.getString(3))).toMap
    assert(m("1")._2 == "Positive" && m("1")._3 == "High") // 0.7
    assert(m("2")._2 == "Negative" && m("2")._3 == "High") // -0.733
    assert(m("3") == ((0.0f, "Neutral", "Low")))
    // "très good café" cleans to "trs good caf" => good alone = 0.7
    assert(math.abs(m("8")._1 - 0.7f) < 1e-6 && m("8")._2 == "Positive")
    assert(m("9") == m("1")) // duplicate scores identically
    // title feeds combined_text too: "bad ts" + "good news" => bad(-0.7)
    // cancels good(0.7) => 0.0 Neutral; bad timestamps don't break scoring
    assert(m("12") == ((0.0f, "Neutral", "Low")))
  }

  test("cleaning produces only lowercase letters and whitespace") {
    val cleaned = NewsPipeline.clean(NewsPipeline.project(
      spark.read.schema(NewsArticle.schema).json(fixture)))
    val bad = cleaned
      .filter(col("text_clean").rlike("[^a-z\\s]") ||
        col("title_clean").rlike("[^a-z\\s]"))
      .count()
    assert(bad == 0)
  }

  test("redaction rewrites emails, URLs, then digit runs, in that order") {
    import spark.implicits._
    val rows = Seq(
      "contact bob.smith+x@example.invalid now",
      "see https://example.invalid/a?b=1 today",
      "call 555 0100 x42",
      "mixed a1@b.c https://d.e/2 f3",
      "clean words only",
      null.asInstanceOf[String], // NULL normalizes to ''
      "")
      .toDF("text")
      .select(graft.functions.TextFns.redact(col("text")).as("r"))
      .collect().map(_.getString(0))
    assert(rows(0) == "contact <EMAIL> now")
    assert(rows(1) == "see <URL> today")
    assert(rows(2) == "call <NUM> <NUM> x<NUM>")
    // the email/URL placeholders must survive digit redaction, and the
    // email match must win over the URL/digit matches inside it
    assert(rows(3) == "mixed <EMAIL> <URL> f<NUM>")
    assert(rows(4) == "clean words only")
    assert(rows(5) == "" && rows(6) == "")
  }

  test("timestamp parse-at-edge coerces bad values to null") {
    // Spark 4 ANSI mode: to_timestamp THROWS on malformed input;
    // try_to_timestamp is the errors="coerce" equivalent
    val parsed = out
      .withColumn("pub_ts", try_to_timestamp(col("publishedAt")))
      .select("id", "pub_ts").collect()
      .map(r => r.getString(0) -> r.get(1)).toMap
    assert(parsed("1") != null)
    assert(parsed("12") == null)
  }

  test("runOnce writes csv+json sinks with the reference's columns") {
    val outDir = Files.createTempDirectory("news_out").toFile.getAbsolutePath
    val res = NewsPipeline.runOnce(spark, fixture, outDir)
    assert(res.columns.toSeq == Seq("id", "title", "description", "url",
      "publishedAt", "fetched_at", "processing_time", "polarity",
      "sentiment", "sentiment_confidence"))
    val csv = spark.read.option("header", "true").csv(s"$outDir/csv")
    assert(csv.count() == 6)
    val json = spark.read.json(s"$outDir/json")
    assert(json.count() == 6)

    // typed round-trip through the explicit-schema CSV source: every
    // value the pipeline computed survives the write→read cycle
    // losslessly (float polarity included — shortest-repr parsing)
    val back = graft.sources.NewsSources.readProcessedCsv(
      spark, s"$outDir/csv")
    assert(back.schema == NewsPipeline.processedSchema)
    val got = back
      .select("id", "polarity", "sentiment", "sentiment_confidence")
      .collect().map(r => (r.getString(0), r.getFloat(1),
        r.getString(2), r.getString(3))).toSet
    val want = res
      .select("id", "polarity", "sentiment", "sentiment_confidence")
      .collect().map(r => (r.getString(0), r.getFloat(1),
        r.getString(2), r.getString(3))).toSet
    assert(got == want)
  }

  test("runOnce stamps one processing_time, the same in the csv and json sinks") {
    val outDir = Files.createTempDirectory("news_stamp").toFile.getAbsolutePath
    val before = System.currentTimeMillis() / 1000 * 1000
    NewsPipeline.runOnce(spark, fixture, outDir)
    val after = System.currentTimeMillis()
    def stamps(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("processing_time").distinct().collect().map(_.getString(0)).toSeq
    val csv = stamps(spark.read.option("header", "true").csv(s"$outDir/csv"))
    assert(csv.size == 1)
    assert(stamps(spark.read.json(s"$outDir/json")) == csv)
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val ts = fmt.parse(csv.head).getTime
    assert(ts >= before && ts <= after)
  }

  test("reference-fixture golden parity: 10-article run end to end") {
    // Modeled on the reference's committed golden set (news_data.json ->
    // sentiment_output/sentiment_results.csv + consolidated.json: 10
    // articles in, 10 rows out, CSV + NDJSON mirrors). Polarity values
    // are pinned against THIS engine's lexicon (SURVEY.md §5.2: TextBlob
    // numeric parity is impossible without its lexicon); thresholds and
    // shape are the reference's.
    val fixture = getClass.getResource("/news_fixture.ndjson").getPath
    val outDir = Files.createTempDirectory("news_golden").toFile.getAbsolutePath
    val res = NewsPipeline.runOnce(spark, fixture, outDir)

    val golden = Map(
      "a1f0" -> ((0.375f, "Positive", "Medium")),
      "b2e1" -> ((-0.6f, "Negative", "High")),
      "c3d2" -> ((0.0f, "Neutral", "Low")),
      "d4c3" -> ((-0.35f, "Negative", "Medium")),
      "e5b4" -> ((0.48f, "Positive", "Medium")),
      "f6a5" -> ((0.15f, "Positive", "Low")),
      "0797" -> ((-0.64f, "Negative", "High")),
      "1888" -> ((0.26666668f, "Positive", "Medium")),
      "2979" -> ((0.26666668f, "Positive", "Medium")),
      "3a6a" -> ((-0.075f, "Neutral", "Low")))
    val got = res
      .select("id", "polarity", "sentiment", "sentiment_confidence")
      .collect().map(r => r.getString(0) ->
        ((r.getFloat(1), r.getString(2), r.getString(3)))).toMap
    assert(got == golden)

    // CSV sink: one file (reference's single consolidated CSV), pinned
    // header order, 10 data rows
    val csvFiles = new java.io.File(s"$outDir/csv").listFiles
      .filter(_.getName.endsWith(".csv"))
    assert(csvFiles.length == 1)
    val lines = Files.readAllLines(csvFiles.head.toPath)
    assert(lines.get(0) == "id,title,description,url,publishedAt," +
      "fetched_at,processing_time,polarity,sentiment,sentiment_confidence")
    assert(lines.size == 11)

    // NDJSON sink mirrors the same 10 rows (consolidated.json shape)
    val json = spark.read.json(s"$outDir/json")
    assert(json.count() == 10)
    val jsonLabels = json.select("id", "sentiment").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(jsonLabels == golden.map { case (k, (_, s, _)) => k -> s })
  }
}
