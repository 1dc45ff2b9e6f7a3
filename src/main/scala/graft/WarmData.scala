package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Synthetic twin tables for the bench's codegen/JIT warm phase.
  *
  * Purpose: Bench warms generated-code classes by running the REAL query
  * builders against a synthetic dir (the round-6 convention, previously
  * a hand-picked 9-query list). The warm must never touch a measured
  * input — no parquet footer or OS page cache of the benchmark tables
  * may be pre-warmed outside a query's own timing — so the twin tables
  * are generated here from scratch, deterministically (id-derived
  * expressions only, no rand()).
  *
  * Schemas are EXACT copies of TESTDATA.md's tables (names, types,
  * timestamp_ntz physical shape) so every builder resolves and plans the
  * same operator tree it plans over the measured dir and the codegen
  * cache hits on the measured run. Value domains mirror the generator's
  * (status/priority/type vocabularies, date windows the queries filter
  * on, shared token runs for the span/dedup families) so plan branches
  * don't degenerate to empty — but the VALUES are unrelated to the
  * measured data; nothing computed here can leak into a result.
  */
object WarmData {

  def write(s: SparkSession, dir: String): Unit = {
    val pool = Seq("the", "fast", "key", "order", "sort", "table", "scan",
      "merge", "part", "window", "small", "hash", "join", "group", "query",
      "row", "data", "slow", "filter", "customer", "line", "batch", "value",
      "spark")
    val poolArr = array(pool.map(lit): _*)

    // documents: 16 id-derived tokens + a 13-token boilerplate tail on
    // every third doc (shared >= 12-token runs keep the span/window
    // families' shared-hash branches non-empty); content seeded by
    // id % 101 so exact-dup groups exist for the fingerprint passes
    s.range(500)
      .select(col("id").as("doc_id"),
        concat(
          array_join(transform(sequence(lit(0), lit(15)), i =>
            element_at(poolArr,
              (((col("id") % 101) * 7 + i * 3) % 24 + 1).cast("int"))), " "),
          when(col("id") % 3 === 0,
            lit(" alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu"))
            .otherwise(lit(""))).as("text"),
        element_at(array(lit("en"), lit("fr"), lit("es"), lit("zh"),
          lit("de")), (col("id") % 5 + 1).cast("int")).as("lang"),
        concat(lit("src"), (col("id") % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // embeddings: 64-dim deterministic floats; id % 7 buckets give
    // near-duplicate vectors for the ANN/near-dup branches
    s.range(500)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)), j =>
          (sin((col("id") % 7) * 0.37 + j * 0.11) +
            col("id") * 0.0001).cast("float")).as("embedding"),
        (col("id") % 10).cast("int").as("label"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // events: NTZ micros like the measured shape; 5 event types, k-prop
    s.range(1000)
      .select(col("id").as("event_id"),
        expr("timestamp_ntz'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0, id*97)")
          .as("ts"),
        (col("id") % 20).as("user_id"),
        element_at(array(lit("click"), lit("purchase"), lit("error"),
          lit("signup"), lit("view")), (col("id") % 5 + 1).cast("int"))
          .as("event_type"),
        round((col("id") % 977) * 0.37, 2).as("value"),
        concat(lit("{\"k\": "), (col("id") % 100).cast("string"), lit("}"))
          .as("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")

    s.range(5)
      .select(col("id").cast("int").as("r_regionkey"),
        element_at(array(lit("AMERICA"), lit("ASIA"), lit("EUROPE"),
          lit("AFRICA"), lit("MIDDLE EAST")), (col("id") + 1).cast("int"))
          .as("r_name"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/region.parquet")

    s.range(25)
      .select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
        (col("id") % 5).cast("int").as("n_regionkey"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/nation.parquet")

    s.range(150)
      .select(col("id").as("c_custkey"),
        concat(lit("Customer#"), col("id").cast("string")).as("c_name"),
        (col("id") % 25).cast("int").as("c_nationkey"),
        round((col("id") * 37 % 10000) - 500 + 0.5, 2).as("c_acctbal"),
        element_at(array(lit("BUILDING"), lit("AUTOMOBILE"), lit("MACHINERY"),
          lit("HOUSEHOLD"), lit("FURNITURE")), (col("id") % 5 + 1).cast("int"))
          .as("c_mktsegment"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")

    s.range(10)
      .select(col("id").as("s_suppkey"),
        concat(lit("Supplier#"), col("id").cast("string")).as("s_name"),
        (col("id") % 25).cast("int").as("s_nationkey"),
        round(col("id") * 911 % 9000 + 0.25, 2).as("s_acctbal"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/supplier.parquet")

    s.range(200)
      .select(col("id").as("p_partkey"),
        concat(element_at(array(lit("cold"), lit("small"), lit("large"),
          lit("blue"), lit("red")), (col("id") % 5 + 1).cast("int")),
          lit(" "),
          element_at(array(lit("widget"), lit("bolt"), lit("rod")),
            (col("id") % 3 + 1).cast("int"))).as("p_name"),
        concat(lit("Brand#"), (col("id") % 25 + 1).cast("string"))
          .as("p_brand"),
        element_at(array(lit("PROMO"), lit("ECONOMY"), lit("MEDIUM"),
          lit("SMALL"), lit("LARGE"), lit("STANDARD")),
          (col("id") % 6 + 1).cast("int")).as("p_type"),
        (col("id") % 50 + 1).cast("int").as("p_size"),
        round(col("id") * 13 % 2000 + 900 + 0.75, 2).as("p_retailprice"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/part.parquet")

    s.range(1500)
      .select(col("id").as("o_orderkey"),
        (col("id") % 150).as("o_custkey"),
        element_at(array(lit("O"), lit("F"), lit("P")),
          (col("id") % 3 + 1).cast("int")).as("o_orderstatus"),
        round(col("id") * 91 % 300000 + 1000 + 0.5, 2).as("o_totalprice"),
        expr("timestamp_ntz'1996-01-01 00:00:00' + make_interval(0,0,0, CAST(id * 7 % 1200 AS INT))")
          .as("o_orderdate"),
        element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
          lit("4-NOT SPECIFIED"), lit("5-LOW")),
          (col("id") % 5 + 1).cast("int")).as("o_orderpriority"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")

    s.range(6000)
      .select(col("id")) // lateness: every 4th line ships >90d after order
      .select(col("id"),
        (col("id") % 1500).as("l_orderkey"),
        (col("id") % 200).as("l_partkey"),
        (col("id") % 10).as("l_suppkey"),
        (col("id") % 7 + 1).cast("int").as("l_linenumber"),
        (col("id") % 50 + 1).cast("double").as("l_quantity"),
        round(col("id") * 17 % 90000 + 900 + 0.25, 2).as("l_extendedprice"),
        ((col("id") % 11) / 100.0).as("l_discount"),
        ((col("id") % 9) / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (col("id") % 3 + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("O"), lit("F")),
          (col("id") % 2 + 1).cast("int")).as("l_linestatus"),
        expr("timestamp_ntz'1996-01-01 00:00:00' + make_interval(0,0,0, CAST((id * 7) % 1200 + (id % 4) * 40 AS INT))")
          .as("l_shipdate"))
      .drop("id")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    ()
  }

  /** The bench's codegen warm: run every builder in `qs` over freshly
    * written twin tables in a temp dir, then drop every warm-dir lineage
    * from [[CacheRegistry]] and delete the dir. Returns the names of the
    * builders that threw, each also reported on stderr.
    *
    * r14: the warm covers EVERY registered query, not a hand-picked few
    * — a query's repeat run is ~0.45x its first run and the delta is
    * Janino compile + JIT of its generated classes (results are never
    * cached; the measured run still computes everything from the sfDir
    * parquet). The twin tables carry the full 10-table schema so every
    * builder plans the same operator tree it plans over sfDir and the
    * suite-sized codegen cache ([[Session.CodegenCacheEntries]]) hits.
    *
    * The runs are round-robined over a small driver pool (§2.6 — the
    * tiny-data runs are latency-bound, untimed, and independent;
    * shared-memo races are plan-level and the side-effecting index
    * builders hold their exactly-once locks).
    */
  def warm(spark: SparkSession, qs: Seq[Q]): Seq[String] = {
    val dir = java.nio.file.Files.createTempDirectory("graft-bench-warm")
      .toFile
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]
    try {
      write(spark, dir.getAbsolutePath)
      Par.run(qs.sortBy(_.name).zipWithIndex.groupBy(_._2 % 8).values.toSeq
        .map { grp => () =>
          grp.foreach { case (q, _) =>
            try q.build(spark, dir.getAbsolutePath)
              .write.format("noop").mode("overwrite").save()
            catch { case e: Throwable =>
              failed.add(q.name)
              val msg = Option(e.getMessage).getOrElse(e.toString)
              System.err.println(s"[bench] warm ${q.name} failed: " +
                msg.linesIterator.nextOption().getOrElse(""))
            }
          }
        })
    } finally {
      CacheRegistry.clear(spark) // release warm-dir persists/memos
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
    import scala.jdk.CollectionConverters._
    failed.asScala.toSeq.sorted
  }
}
