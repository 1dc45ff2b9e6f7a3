package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end demo of the pure-SQL surface: a user who attaches
  * `spark.sql.extensions=graft.GraftExtensions` (here: the in-JVM
  * `withExtensions` equivalent, see `withExtSession`) and never
  * touches the Scala API gets the whole engine from `spark.sql(...)`:
  * native sentiment scoring, fingerprint/signature functions and vector
  * kernels. The extensions inject functions only, so the row_number
  * top-k idiom plans as Spark's WindowGroupLimit with or without them.
  * Each SQL result is checked against the DataFrame-API path (or plain
  * session) computing the same thing.
  */
class SqlSurfaceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** fresh extensions session on the shared context (never stopped;
    * active/default restored). With active + default cleared the builder
    * makes a NEW session on the live SparkContext instead of handing back
    * the shared one. The config-string form of spark.sql.extensions only
    * loads when a SparkContext is created, so on a reused context the
    * class must arrive via withExtensions, the same GraftExtensions code
    * path a fresh cluster session gets from config.
    */
  private def withExtSession[A](f: SparkSession => A): A = {
    spark.sparkContext
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .appName("graft-sql-surface")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try f(s2)
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prior.foreach(SparkSession.setDefaultSession)
      prior.foreach(SparkSession.setActiveSession)
    }
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  test("sentiment dashboard aggregate in pure SQL matches the DataFrame path") {
    withExtSession { s =>
      s.sql(
        s"CREATE OR REPLACE TEMP VIEW news AS SELECT * FROM " +
          s"parquet.`${TestSpark.sf0001}/documents.parquet`")
      // the reference's dashboard group-by, written the way a SQL-only
      // user would: native scorer + the published CASE thresholds
      val sql = s.sql(
        """WITH scored AS (
          |  SELECT doc_id, graft_polarity(text) AS polarity FROM news
          |)
          |SELECT
          |  CASE WHEN polarity > 0.1 THEN 'Positive'
          |       WHEN polarity < -0.1 THEN 'Negative'
          |       ELSE 'Neutral' END AS sentiment,
          |  count(*) AS n
          |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin)
      // DataFrame-API twin in the same session, via the same native
      // expression exposed as a Column
      val p = org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.PolarityScore(
          org.apache.spark.sql.GraftSqlBridge.expression(col("text"))))
      val api = s.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
        .select(graft.functions.TextFns.label(p).as("sentiment"))
        .groupBy("sentiment").agg(count(lit(1)).as("n"))
        .orderBy("sentiment")
      assert(rows(sql) == rows(api))
      assert(rows(sql).map(_.head).toSet.subsetOf(
        Set[Any]("Positive", "Negative", "Neutral")))
      // the native expression must stay inside whole-stage codegen (the
      // `*(n)` spans in the plan string) — a SQL user pays zero
      // interpretation overhead on the scan: graft_polarity sits inside
      // the same codegen stage as the scan projection + partial agg
      val plan = sql.queryExecution.executedPlan.toString
      assert(plan.contains("*(1) Project [graft_polarity"), plan.take(2000))
    }
  }

  test("SQL keep-first idiom: WindowGroupLimit, same rows with or without extensions") {
    // the standard SQL keep-first-per-fingerprint idiom; GraftExtensions
    // injects functions only, so it plans as Spark's WindowGroupLimit in
    // both sessions and returns the same rows
    val idiom =
      """SELECT doc_id, fp FROM (
        |  SELECT doc_id, fp,
        |         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM fps) WHERE rn <= 1""".stripMargin
    def keepFirst(s: SparkSession): (Seq[Seq[Any]], String) = {
      val dedup = s.sql(idiom)
      dedup.queryExecution.toRdd.count() // finalize adaptive plan
      (rows(dedup.orderBy("doc_id")), dedup.queryExecution.executedPlan.toString)
    }
    val withExt = withExtSession { s =>
      s.sql(
        s"CREATE OR REPLACE TEMP VIEW news AS SELECT * FROM " +
          s"parquet.`${TestSpark.sf0001}/documents.parquet`")
      // tokenization in pure SQL (same clean/split/filter as TextFns)
      s.sql(
        """CREATE OR REPLACE TEMP VIEW fps AS
          |SELECT doc_id, graft_simhash64(
          |  filter(split(lower(regexp_replace(coalesce(text, ''),
          |                                    '[^a-zA-Z\\s]', '')),
          |               '\\s+'), x -> x <> '')) AS fp
          |FROM news""".stripMargin)
      keepFirst(s)
    }
    // a plain session on the shared context: fingerprints via the
    // DataFrame API, the same idiom in SQL
    val plain = spark.newSession()
    plain.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select(col("doc_id"), org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.SimHash64(
          org.apache.spark.sql.GraftSqlBridge.expression(
            graft.functions.TextFns.tokens(
              graft.functions.TextFns.clean(col("text")))))).as("fp"))
      .createOrReplaceTempView("fps")
    val without = keepFirst(plain)
    for ((_, plan) <- Seq(withExt, without)) {
      assert(plan.contains("WindowGroupLimit"), plan.take(800))
      assert(!plan.contains("GroupedTopK"), plan.take(800))
    }
    assert(withExt._1.nonEmpty)
    assert(withExt._1 == without._1)
  }

  test("round-6 kernels are SQL-callable: bpe runs + quantized dot") {
    withExtSession { s =>
      s.sql(s"CREATE OR REPLACE TEMP VIEW docs6 AS SELECT * FROM " +
        s"parquet.`${TestSpark.sf0001}/documents.parquet`")
      val bpe = s.sql(
        """SELECT doc_id, graft_bpe_runs(lower(text)) AS n_bpe
          |FROM docs6 ORDER BY doc_id LIMIT 5""".stripMargin).collect()
      assert(bpe.length == 5 && bpe.forall(!_.isNullAt(1)))
      s.sql(s"CREATE OR REPLACE TEMP VIEW emb6 AS SELECT * FROM " +
        s"parquet.`${TestSpark.sf0001}/embeddings.parquet`")
      // quantize the probe in SQL, dot the corpus against it in SQL —
      // the full int8 scan expressible without any Scala
      val dots = s.sql(
        """WITH probe AS (
          |  SELECT transform(embedding,
          |    x -> CAST(round(CAST(x AS DOUBLE) * 127 /
          |           graft_sq_maxabs(embedding), 0) AS INT)) AS qcode
          |  FROM emb6 WHERE vec_id = 0
          |)
          |SELECT vec_id, graft_sq_qdot(embedding, qcode) AS qdot
          |FROM emb6 CROSS JOIN probe WHERE vec_id <> 0
          |ORDER BY qdot DESC, vec_id LIMIT 5""".stripMargin).collect()
      assert(dots.length == 5 && dots.forall(!_.isNullAt(1)))
    }
  }

  test("merge kernels are SQL-callable and equal size(array_intersect)") {
    withExtSession { s =>
      val rows = s.sql(
        """SELECT
          |  graft_sorted_intersect_size(
          |    array('a','b','c'), array('b','c','d')) AS ks,
          |  graft_sorted_intersect_size_long(
          |    array(1L, 2L, 3L), array(2L, 3L, 9L)) AS kl,
          |  size(array_intersect(array('a','b','c'), array('b','c','d')))
          |    AS es""".stripMargin).collect()
      assert(rows(0).getInt(0) == 2 && rows(0).getInt(1) == 2 &&
        rows(0).getInt(2) == 2)
    }
  }

  test("vector similarity search in pure SQL matches the kernel column API") {
    withExtSession { s =>
      s.sql(
        s"CREATE OR REPLACE TEMP VIEW emb AS SELECT * FROM " +
          s"parquet.`${TestSpark.sf0001}/embeddings.parquet`")
      // brute-force cosine top-5 around one probe vector, SQL only
      val sql = s.sql(
        """WITH probe AS (
          |  SELECT embedding AS pv FROM emb WHERE vec_id = 0
          |)
          |SELECT vec_id, round(graft_cosine(embedding, pv), 6) AS sim
          |FROM emb CROSS JOIN probe
          |WHERE vec_id <> 0
          |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin)
      val embDf = s.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
      val probe = embDf.filter(col("vec_id") === 0)
        .select(col("embedding").as("pv"))
      val api = embDf.crossJoin(broadcast(probe))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), round(
          org.apache.spark.sql.GraftSqlBridge.column(
            graft.functions.VecCosine(
              org.apache.spark.sql.GraftSqlBridge.expression(col("embedding")),
              org.apache.spark.sql.GraftSqlBridge.expression(col("pv")))),
          6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(5)
      assert(rows(sql) == rows(api))
      assert(rows(sql).size == 5)
    }
  }
}
