package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.NewsArticle
import graft.sentiment.Sentiment

/** The reference's batch/streaming lineage as composable
  * `DataFrame => DataFrame` stages (SURVEY.md §7.1 modules 2–4). One code
  * path serves both `spark.read` and `spark.readStream` — Structured
  * Streaming's core design point (§3.2 note).
  *
  * Stage order matters for performance: the cheap non-empty filter runs
  * BEFORE the sentiment UDF, because Catalyst will not push predicates
  * through an opaque UDF (reference does the same deliberately,
  * streaming_pipeline.py:131–133 before 136–151; SURVEY.md §4).
  */
object NewsPipeline {

  /** P1: projection + processing-time stamp (streaming_pipeline.py:111,
    * 114–121). `processing_time` is `current_timestamp()`: one value per
    * micro-batch in a stream, one per query in a batch job. It goes
    * through [[graft.functions.PerBatch]], so generated code reads the
    * batch's timestamp instead of inlining it, and a stream compiles its
    * whole-stage code once rather than once per micro-batch.
    */
  def project(df: DataFrame): DataFrame =
    df.select(col("id"), col("title"), col("description"), col("url"),
        col("publishedAt"), col("fetched_at"))
      .withColumn("processing_time", graft.functions.PerBatch.now)

  /** P3: clean title/description (streaming_pipeline.py:122–128) —
    * delegates to the oracle-checked TextFns.clean so the regex can
    * never diverge between the news pipeline and the query surface.
    */
  def clean(df: DataFrame): DataFrame =
    df.withColumn("title_clean",
        graft.functions.TextFns.clean(coalesce(col("title"), lit(""))))
      .withColumn("text_clean",
        graft.functions.TextFns.clean(coalesce(col("description"), lit(""))))

  /** F1: drop null/blank cleaned text (streaming_pipeline.py:131–133;
    * trim variant = the stricter pandas semantics, work.py:147).
    */
  def filterNonEmpty(df: DataFrame): DataFrame =
    df.filter(col("text_clean").isNotNull && trim(col("text_clean")) =!= "")

  /** C1 + U1 + U2 + C2: combine, score, label, confidence
    * (streaming_pipeline.py:136–151).
    */
  def score(df: DataFrame): DataFrame =
    df.withColumn("combined_text",
        concat_ws(" ", col("title_clean"), col("text_clean")))
      .withColumn("polarity", Sentiment.polarityUdf(col("combined_text")))
      .withColumn("sentiment", Sentiment.label(col("polarity")))
      .withColumn("sentiment_confidence",
        Sentiment.confidence(col("polarity")))

  /** P2: final projection (streaming_pipeline.py:154–165). */
  def finalProject(df: DataFrame): DataFrame =
    df.select("id", "title", "description", "url", "publishedAt",
      "fetched_at", "processing_time", "polarity", "sentiment",
      "sentiment_confidence")

  /** Schema of the final projection as written by the CSV/JSON sinks
    * (processing_time is formatted to string at write time) — the
    * contract NewsSources.readProcessedCsv reloads against.
    */
  lazy val processedSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("id", StringType),
      StructField("title", StringType),
      StructField("description", StringType),
      StructField("url", StringType),
      StructField("publishedAt", StringType),
      StructField("fetched_at", StringType),
      StructField("processing_time", StringType),
      // FloatType: the scorer pins the reference's FloatType output;
      // a float's shortest decimal repr round-trips exactly to the
      // same float, while a Double read would re-parse to a different
      // wider value
      StructField("polarity", FloatType),
      StructField("sentiment", StringType),
      StructField("sentiment_confidence", StringType)))
  }

  /** Full lineage, batch or streaming. */
  def transform(df: DataFrame): DataFrame =
    finalProject(score(filterNonEmpty(clean(project(df)))))

  /** Full lineage with SINGLE-PASS pipeline metrics: `observe` nodes at
    * ingest and at the scored output collect row counts, the drop count
    * and the polarity sum DURING whatever action the caller runs (a
    * write, a count) — no second scan, no extra shuffle; the metrics
    * ride the task results back to the driver. This is how a 100 TB
    * write job reports "rows in / rows dropped / mean polarity" without
    * re-reading 100 TB: `Observation.get` blocks until the action
    * finishes and a data-quality gate can assert on the values before
    * publishing the output. Works identically under streaming, where
    * the named observations surface per-batch in
    * `StreamingQueryProgress.observedMetrics`.
    */
  def transformObserved(df: DataFrame,
      obsIn: org.apache.spark.sql.Observation,
      obsOut: org.apache.spark.sql.Observation): DataFrame = {
    val in = project(df).observe(obsIn, count(lit(1)).as("rows_in"))
    val scored = score(filterNonEmpty(clean(in)))
    finalProject(scored).observe(obsOut,
      count(lit(1)).as("rows_kept"),
      sum(col("polarity").cast("double")).as("polarity_sum"),
      count(when(col("sentiment") === "Negative", 1)).as("n_negative"))
  }

  /** X1 batch entry (work.py's `process → analyze → write` run,
    * §3.2): NDJSON in, CSV + NDJSON out. coalesce(1) mirrors the
    * reference's single-file outputs (K5/K6) — drop it for real
    * multi-file scale-out.
    */
  def runOnce(spark: SparkSession, inputPath: String, outputDir: String,
      singleFile: Boolean = true): DataFrame = {
    val raw = spark.read.schema(NewsArticle.schema).json(inputPath)
    val out = transform(raw)
    val w = (if (singleFile) out.coalesce(1) else out)
      .withColumn("processing_time",
        date_format(col("processing_time"), "yyyy-MM-dd HH:mm:ss"))
    // persist: otherwise the two sink writes each re-execute the lineage
    // (2x scan + UDF) AND re-evaluate processing_time, leaving the csv
    // and json "mirror" outputs with different processing_time values
    w.persist()
    try {
      w.write.mode("overwrite").option("header", "true")
        .csv(s"$outputDir/csv")
      w.write.mode("overwrite").json(s"$outputDir/json")
    } finally w.unpersist()
    out
  }
}
