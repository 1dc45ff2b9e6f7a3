package graft.queries

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{CacheRegistry, Q, Tables}

/** Storage-format surface: the engine's non-parquet batch formats and
  * physical-layout features, exercised end-to-end (write the corpus in
  * the target layout, read it back, aggregate) so the DuckDB oracle —
  * which always reads the original parquet — checks the whole round
  * trip bit-for-bit.
  *
  * Scale notes:
  *  - Both writes are narrow per-partition encodes (no shuffle); at
  *    100 TB they parallelize with the input partitioning.
  *  - The materialized copy is memoized per (session, sfDir) through
  *    [[CacheRegistry.memo]] so a verify+bench cycle pays the write
  *    once, mirroring how a real deployment materializes a layout once
  *    and serves many queries from it.
  *  - The ORC read pushes the n_chars predicate into the ORC scan
  *    (stripe/row-group statistics skip — same contract as the parquet
  *    PushedFilters audit in PlanSpec).
  *  - The partitioned read prunes to the two requested lang=…
  *    directories at PLAN time (PartitionFilters, no data files of
  *    other languages are even listed), which is the layout that turns
  *    a 100 TB full scan into a per-language slice.
  */
object FormatQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")

  private val scratchDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** scratch location per (JVM, format tag, input dir) — written once
    * per session (CacheRegistry.memo), reused by later consumers. The
    * pid component keeps concurrent JVMs (a test run beside a
    * bench/verify run on one box) from racing overwrite-vs-read on a
    * shared /tmp path; it also means no later JVM reads the dir, so it
    * is deleted when this one exits (one hook per path).
    */
  private def scratch(tag: String, dir: String): String = {
    val h = java.lang.Integer.toHexString(dir.hashCode & 0x7fffffff)
    val pid = ProcessHandle.current().pid()
    val path = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_fmt_${pid}_${tag}_$h").toString
    if (scratchDirs.add(path)) sys.addShutdownHook(
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path)))
    path
  }

  /** documents re-materialized as ORC, once per (session, dir) */
  private def orcDocs(s: SparkSession, dir: String): DataFrame =
    CacheRegistry.memo("fmt_orc", s, dir) {
      val path = scratch("orc", dir)
      docs(s, dir).write.mode("overwrite").orc(path)
      s.read.orc(path)
    }

  /** documents re-materialized as quoted CSV (the reference's K5 sink
    * format), once per (session, dir). Text is null-normalized to ''
    * BEFORE the write — CSV cannot round-trip the null-vs-empty-string
    * distinction without bespoke sentinels (write nullValue '' and
    * read nullValue '' collapse both to null), and '' is the engine's
    * established null-normalization for text anyway (TextFns.clean).
    * multiLine handles embedded newlines the quoted writer emits;
    * header carries the schema names, the explicit read schema the
    * types (CSV inference would widen doc_id to int on a small file).
    */
  private def csvDocs(s: SparkSession, dir: String): DataFrame =
    CacheRegistry.memo("fmt_csv", s, dir) {
      val path = scratch("csv", dir)
      docs(s, dir)
        .select(col("doc_id"), col("lang"), col("source"),
          coalesce(col("text"), lit("")).as("text"))
        .write.mode("overwrite")
        .option("header", "true").option("escape", "\"")
        // the WRITER trims field whitespace by default (the reader does
        // not) — whitespace-only docs must survive the trip
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path)
      s.read
        .schema("doc_id BIGINT, lang STRING, source STRING, text STRING")
        .option("header", "true").option("escape", "\"")
        .option("multiLine", "true")
        .csv(path)
    }

  /** documents re-materialized as JSON-lines (the reference's primary
    * interchange format — NDJSON end to end), once per (session, dir).
    * Unlike CSV, JSON must round-trip the null-vs-empty-string
    * distinction (null fields are simply omitted per line and read
    * back as null; '' survives as ""), so text is NOT normalized here
    * — the distinction itself is under test. Explicit read schema:
    * inference on a small drop would widen/narrow types.
    */
  private def jsonlDocs(s: SparkSession, dir: String): DataFrame =
    CacheRegistry.memo("fmt_jsonl", s, dir) {
      val path = scratch("jsonl", dir)
      docs(s, dir)
        .select("doc_id", "lang", "source", "text")
        .write.mode("overwrite").json(path)
      s.read
        .schema("doc_id BIGINT, lang STRING, source STRING, text STRING")
        .json(path)
    }

  /** documents re-materialized hive-partitioned by lang, once per
    * (session, dir)
    */
  private def langPartitionedDocs(s: SparkSession, dir: String): DataFrame =
    CacheRegistry.memo("fmt_part", s, dir) {
      val path = scratch("part", dir)
      docs(s, dir).write.mode("overwrite").partitionBy("lang").parquet(path)
      s.read.parquet(path)
    }

  val qs: Seq[Q] = Seq(
    // ORC round trip: parquet -> ORC writer -> ORC reader (predicate
    // pushed to the ORC scan) -> aggregate. Hash-matching the oracle's
    // parquet-side aggregate proves the format conversion is lossless
    // for every column the aggregate touches.
    Q(
      "doc_orc_roundtrip",
      (s, d) =>
        orcDocs(s, d)
          .filter(col("n_chars") >= 200)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
          .orderBy("lang"),
      Some(
        """SELECT lang, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS chars
          |FROM documents WHERE n_chars >= 200
          |GROUP BY lang ORDER BY lang""".stripMargin)),

    // CSV round trip — the reference's actual sink format (work.py's
    // sentiment_results.csv), under its two classic traps: quoting
    // (embedded quotes/commas/newlines must survive the quoted writer +
    // multiLine reader) and the null-vs-empty collapse (text is
    // null-normalized to '' before the write; the oracle mirrors with
    // coalesce). Per-doc character length is the checksum: any
    // mis-quoted split or truncation shifts it.
    Q(
      "doc_csv_roundtrip",
      (s, d) =>
        csvDocs(s, d)
          .select(col("doc_id"), col("lang"),
            length(coalesce(col("text"), lit(""))).as("text_chars"))
          .orderBy("doc_id"),
      Some(
        """SELECT doc_id, lang,
          |  len(coalesce(text, '')) AS text_chars
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // JSON-lines round trip — the reference's NDJSON interchange
    // (news_data.json -> consolidated.json), under ITS classic traps:
    // unicode escapes, embedded quotes/newlines (escaped, one record
    // per line), and null-vs-empty — which JSON, unlike CSV, must
    // PRESERVE (null text stays null, '' stays ''). The nullable
    // per-doc char length is the checksum for both.
    Q(
      "doc_jsonl_roundtrip",
      (s, d) =>
        jsonlDocs(s, d)
          .select(col("doc_id"), col("lang"),
            length(col("text")).as("text_chars"),
            (col("text") <=> lit("")).as("is_empty"),
            col("text").isNull.as("is_null"))
          .orderBy("doc_id"),
      Some(
        """SELECT doc_id, lang, len(text) AS text_chars,
          |  coalesce(text = '', false) AS is_empty,
          |  text IS NULL AS is_null
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // Partition-pruned scan: the lang IN (…) filter resolves against
    // the directory layout, so only the en/zh partition files are read
    // (PlanSpec pins PartitionFilters + the pruned InMemoryFileIndex).
    // The round trip also checks partitionBy's column-to-directory
    // encode/decode (lang leaves the data files and comes back from
    // the path).
    Q(
      "doc_partitioned_scan",
      (s, d) =>
        langPartitionedDocs(s, d)
          .filter(col("lang").isin("en", "zh"))
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
          .orderBy("lang", "source"),
      Some(
        """SELECT lang, source, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS chars
          |FROM documents WHERE lang IN ('en', 'zh')
          |GROUP BY lang, source ORDER BY lang, source""".stripMargin)),

    // Schema evolution via mergeSchema: two parquet drops of the same
    // corpus written under DIFFERENT schemas — drop v1 is the "old
    // crawler" (doc_id, text, lang), drop v2 the current one with
    // source/n_chars added — read back as ONE table with
    // mergeSchema=true, old rows null-extended. This is how a
    // long-lived 100 TB corpus actually looks on disk (nobody rewrites
    // history when a column is added); the merged read costs one
    // footer-union at planning, zero data rewrite. The NULL source
    // group in the output is exactly the old-drop row population —
    // the evolution itself is what the oracle hashes, not just the
    // aggregate.
    Q(
      "doc_schema_evolution",
      (s, d) => {
        val merged = CacheRegistry.memo("fmt_evo", s, d) {
          val base = scratch("evo", d)
          val bucket = abs(coalesce(col("doc_id"), lit(0L))) % 2
          docs(s, d).filter(bucket === 0)
            .select("doc_id", "text", "lang")
            .write.mode("overwrite").parquet(s"$base/v1")
          docs(s, d).filter(bucket === 1)
            .select("doc_id", "text", "lang", "source", "n_chars")
            .write.mode("overwrite").parquet(s"$base/v2")
          s.read.option("mergeSchema", "true")
            .parquet(s"$base/v1", s"$base/v2")
        }
        merged.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            count(col("n_chars")).as("n_with_chars"),
            sum(col("n_chars")).as("chars"))
          .orderBy(col("source").asc_nulls_first)
      },
      Some(
        """WITH m AS (
          |  SELECT doc_id, text, lang,
          |    CAST(NULL AS VARCHAR) AS source,
          |    CAST(NULL AS BIGINT) AS n_chars
          |  FROM documents WHERE abs(coalesce(doc_id, 0)) % 2 = 0
          |  UNION ALL
          |  SELECT doc_id, text, lang, source, n_chars
          |  FROM documents WHERE abs(coalesce(doc_id, 0)) % 2 = 1
          |)
          |SELECT source, count(*) AS n_docs,
          |  count(n_chars) AS n_with_chars,
          |  CAST(sum(n_chars) AS BIGINT) AS chars
          |FROM m GROUP BY 1 ORDER BY source NULLS FIRST""".stripMargin)),

    // Dynamic partition overwrite — the idempotent-backfill primitive
    // of a partitioned corpus: rewrite ONE language's partition (here a
    // re-crawl of lang=en that dropped every doc_id % 3 == 0) and prove
    // every other partition is untouched, byte-for-byte, via per-lang
    // counts AND a doc_id checksum. partitionOverwriteMode=dynamic is
    // what makes the overwrite replace only the partitions present in
    // the incoming frame — STATIC mode (the default) would silently
    // DELETE every other language, the classic backfill catastrophe;
    // this query is the regression test a 100 TB lake runs before
    // trusting a writer with that switch. NULL langs land in the
    // default partition and read back as NULL, unharmed by the en
    // rewrite. The layout is memoized per (session, dir) like every
    // format materialization; the rewrite itself is a narrow
    // per-partition encode, no shuffle.
    Q(
      "doc_partition_overwrite",
      (s, d) => {
        val table = CacheRegistry.memo("fmt_dpo", s, d) {
          val path = scratch("dpo", d)
          docs(s, d).write.mode("overwrite")
            .partitionBy("lang").parquet(path)
          docs(s, d)
            .filter(col("lang") === "en" && !(col("doc_id") % 3 === 0))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("lang").parquet(path)
          s.read.parquet(path)
        }
        table.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            // DECIMAL(38,0) accumulate then narrow: a Long sum would
            // silently wrap at ~1e12 x 1e12-magnitude ids while the
            // oracle's HUGEINT stays exact; overflow now NULLs loudly
            sum(col("doc_id").cast("decimal(38,0)")).cast("long")
              .as("id_checksum"))
          .orderBy(col("lang").asc_nulls_first)
      },
      Some(
        """WITH m AS (
          |  SELECT lang, doc_id FROM documents
          |  WHERE lang IS NULL OR lang <> 'en'
          |  UNION ALL
          |  SELECT lang, doc_id FROM documents
          |  WHERE lang = 'en' AND doc_id % 3 <> 0
          |)
          |SELECT lang, count(*) AS n_docs,
          |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
          |FROM m GROUP BY 1 ORDER BY lang NULLS FIRST""".stripMargin)))
}
