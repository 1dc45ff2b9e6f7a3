package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}
import graft.functions.Num._

/** Event-time query surface over the `events` table — the windowing /
  * watermark semantics SURVEY.md §2.7 + §7.1(7) call for. Batch forms are
  * here (oracle-checkable); the streaming forms of the same plans live in
  * graft.streaming and are exercised by ScalaTest.
  *
  * Timestamp convention: events.ts is parquet TIMESTAMP(NANOS); Spark
  * truncates to micros while DuckDB keeps nanos, so every output exposes
  * time as epoch SECONDS (bigint) and oracle SQL derives the same value
  * from the nano timestamp. At 100 TB the bucketed aggregates here are
  * partial-agg friendly: one shuffle on (bucket, key), no sort.
  */
object EventQueries {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)

  /** epoch seconds from the (micro-truncated) Spark timestamp */
  private def epochS(c: org.apache.spark.sql.Column) = c.cast("long")

  /** ev_pagerank fixed-point scale: ranks sum to ~1e9 (minus dangling
    * leak), keeping every BIGINT product well inside 2^63 at test SF.
    * Declared BEFORE qs — the oracle string interpolates it eagerly at
    * object init (a forward val reference would read 0).
    */
  val PrScale = 1000000000L

  /** per-iteration teleport mass (15% of PrScale), precomputed so no
    * engine multiplies INT32 literals
    */
  val PrTele: Long = PrScale * 15 / 100

  /** Consecutive-event transitions per user -> (from_type, to_type, n):
    * THE single definition of the transition graph, shared by
    * ev_transition_matrix and ev_pagerank (with its SQL twin below) so
    * the two queries can never drift. dropNullTypes: the PageRank graph
    * excludes null-typed events entirely (a NULL node is meaningless);
    * the matrix keeps them (a null from_type surfaces as a row, the
    * reference-faithful behavior).
    */
  private def transitions(s: SparkSession, d: String,
      dropNullTypes: Boolean): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val base = ev(s, d)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
    val src =
      if (dropNullTypes) base.filter(col("event_type").isNotNull) else base
    src.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** DuckDB twin of [[transitions]]: the ev_us/seq/edges CTE chain */
  private def transitionsSqlCtes(dropNullTypes: Boolean): String = {
    val nullf =
      if (dropNullTypes) "\n    AND event_type IS NOT NULL" else ""
    s"""ev_us AS (
       |  SELECT event_id, user_id, event_type,
       |    make_timestamp(epoch_us(ts)) AS ts
       |  FROM events
       |  WHERE user_id IS NOT NULL AND ts IS NOT NULL$nullf),
       |seq AS (
       |  SELECT event_type AS from_type,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS to_type
       |  FROM ev_us),
       |edges AS (
       |  SELECT from_type, to_type, count(*) AS n
       |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)""".stripMargin
  }

  val qs: Seq[Q] = Seq(
    // G2 over events: counts + exact decimal sums per type
    Q(
      "ev_count_by_type",
      (s, d) =>
        ev(s, d).groupBy("event_type")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .orderBy("event_type"),
      Some(
        s"""SELECT event_type, count(*) AS n, ${dsumSql("value")} AS sum_value
           |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // G5: latest event per the whole table (streamlit_app.py:162 analogue)
    Q(
      "ev_latest",
      (s, d) =>
        ev(s, d).agg(
          epochS(max(col("ts"))).as("max_ts_s"),
          count(lit(1)).as("n")),
      Some(
        """SELECT CAST(floor(epoch(max(ts))) AS BIGINT) AS max_ts_s, count(*) AS n
          |FROM events""".stripMargin)),

    // Tumbling 5-minute event-time window (batch form of the §7 streaming
    // surface): window().start == time_bucket in DuckDB
    Q(
      "ev_tumbling_5min",
      (s, d) =>
        // ts IS NOT NULL pinned in BOTH engines: Spark's window()
        // silently DROPS null-ts rows while DuckDB's time_bucket emits
        // a NULL bucket group — an event with no time belongs to no
        // window, stated rather than engine-defaulted (edge-gate class)
        ev(s, d)
          .filter(col("ts").isNotNull)
          .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .select(
            epochS(col("w.start")).as("bucket_s"),
            col("event_type"), col("n"), col("sum_value"))
          .orderBy("bucket_s", "event_type"),
      Some(
        s"""SELECT
           |  CAST(floor(epoch(time_bucket(INTERVAL '5 minutes', ts))) AS BIGINT) AS bucket_s,
           |  event_type, count(*) AS n, ${dsumSql("value")} AS sum_value
           |FROM events WHERE ts IS NOT NULL
           |GROUP BY 1, 2 ORDER BY bucket_s, event_type""".stripMargin)),

    // OHLC bars — the open/high/low/close + volume candlestick
    // aggregate every time-series store serves (financial ticks,
    // telemetry gauges), per hour per event_type. Open/close are
    // FIRST/LAST-by-event-time selections with the (ts, event_id)
    // collision-free tie-break: a row_number window ranks each
    // (bucket, type) partition once, close reuses the SAME partition
    // count (rn == cnt) so the descending twin window — and its second
    // sort — never exists. All four OHLC values are carried, never
    // computed, so doubles are bit-exact cross-engine; volume is the
    // decimal-exact dsum. Scale shape: one (bucket, type) exchange
    // shared by the window pair and the final agg; partitions are
    // bounded by events-per-hour-per-type (the same granularity every
    // windowed query here shuffles on), output |buckets|x|types|.
    Q(
      "ev_ohlc_bars",
      (s, d) => {
        val w = Window.partitionBy("bucket_s", "event_type")
          .orderBy(col("ts"), col("event_id"))
        val wb = Window.partitionBy("bucket_s", "event_type")
        ev(s, d)
          .filter(col("ts").isNotNull && col("event_type").isNotNull &&
            col("value").isNotNull)
          .select(
            (epochS(col("ts")) - (epochS(col("ts")) % 3600)).as("bucket_s"),
            col("event_type"), col("ts"), col("event_id"), col("value"))
          .withColumn("rn", row_number().over(w))
          .withColumn("cnt", count(lit(1)).over(wb))
          .groupBy("bucket_s", "event_type")
          .agg(
            max(when(col("rn") === 1, col("value"))).as("open_v"),
            max(col("value")).as("high_v"),
            min(col("value")).as("low_v"),
            max(when(col("rn") === col("cnt"), col("value"))).as("close_v"),
            count(lit(1)).as("n_events"),
            dsum(col("value")).as("volume"))
          .orderBy("bucket_s", "event_type")
      },
      Some(
        s"""WITH e AS (
           |  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS es,
           |    event_type, ts, event_id, value
           |  FROM events
           |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
           |    AND value IS NOT NULL
           |), b AS (
           |  SELECT es - (es % 3600) AS bucket_s, event_type, value,
           |    row_number() OVER (PARTITION BY es - (es % 3600), event_type
           |      ORDER BY ts, event_id) AS rn,
           |    count(*) OVER (PARTITION BY es - (es % 3600), event_type)
           |      AS cnt
           |  FROM e
           |)
           |SELECT bucket_s, event_type,
           |  max(CASE WHEN rn = 1 THEN value END) AS open_v,
           |  max(value) AS high_v,
           |  min(value) AS low_v,
           |  max(CASE WHEN rn = cnt THEN value END) AS close_v,
           |  count(*) AS n_events,
           |  ${dsumSql("value")} AS volume
           |FROM b GROUP BY 1, 2 ORDER BY bucket_s, event_type""".stripMargin)),

    // Sliding 10-minute window, 5-minute slide: each event lands in two
    // windows; DuckDB twin = union of the two tumbling phases
    Q(
      "ev_sliding_10min",
      (s, d) =>
        // ts IS NOT NULL pinned both sides (the ev_tumbling_5min note)
        ev(s, d)
          .filter(col("ts").isNotNull)
          .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
          .agg(count(lit(1)).as("n"))
          .select(epochS(col("w.start")).as("bucket_s"), col("n"))
          .orderBy("bucket_s"),
      Some(
        """WITH phased AS (
          |  -- an event at t falls in the two 10-min windows starting at
          |  -- floor5(t) and floor5(t) - 5min
          |  SELECT CAST(floor(epoch(time_bucket(INTERVAL '5 minutes', ts))) AS BIGINT) AS bucket_s
          |  FROM events WHERE ts IS NOT NULL
          |  UNION ALL
          |  SELECT CAST(floor(epoch(time_bucket(INTERVAL '5 minutes', ts))) AS BIGINT) - 300
          |  FROM events WHERE ts IS NOT NULL)
          |SELECT bucket_s, count(*) AS n FROM phased
          |GROUP BY 1 ORDER BY bucket_s""".stripMargin)),

    // Windowed TRENDING top-k: the top-2 event types per 1-hour
    // tumbling window — the dashboard "what's hot right now" aggregate.
    // Scale shape: one partial-agg'd shuffle on (window, type), then a
    // rank window PARTITIONED BY the bucket (each partition holds
    // |event_types| rows — never a global sort), bounded 2-rows-per-
    // bucket output. Null ts / null type rows are excluded on both
    // sides so rank tie-breaks can never hit the engines' opposite
    // null-ordering defaults.
    Q(
      "ev_window_topk_types",
      (s, d) => {
        val w = Window.partitionBy("bucket_s")
          .orderBy(col("n").desc, col("event_type"))
        ev(s, d)
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(epochS(col("w.start")).as("bucket_s"),
            col("event_type"), col("n"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 2)
          .orderBy("bucket_s", "rk")
      },
      Some(
        """WITH b AS (
          |  SELECT CAST(floor(epoch(time_bucket(INTERVAL '1 hour', ts))) AS BIGINT) AS bucket_s,
          |    event_type, count(*) AS n
          |  FROM events
          |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
          |  GROUP BY 1, 2
          |), r AS (
          |  SELECT *, row_number() OVER (PARTITION BY bucket_s
          |    ORDER BY n DESC, event_type) AS rk
          |  FROM b)
          |SELECT bucket_s, event_type, n, rk
          |FROM r WHERE rk <= 2 ORDER BY bucket_s, rk""".stripMargin)),

    // C4/C7 analogue + JSON path: parse the props JSON column
    Q(
      "ev_json_extract",
      (s, d) =>
        ev(s, d)
          .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
          .groupBy("k").agg(count(lit(1)).as("n"))
          .orderBy(asc_nulls_first("k")),
      Some(
        """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, count(*) AS n
          |FROM events GROUP BY 1 ORDER BY k NULLS FIRST""".stripMargin)),

    // O1 + L1 on events: top-20 most recent (TakeOrderedAndProject)
    Q(
      "ev_topk_recent",
      (s, d) =>
        ev(s, d)
          .select(col("event_id"), epochS(col("ts")).as("ts_s"),
            col("event_type"))
          .orderBy(col("ts_s").desc, col("event_id"))
          .limit(20),
      Some(
        """SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_type
          |FROM events ORDER BY ts_s DESC, event_id LIMIT 20""".stripMargin)),

    // Window function: per-user running total ordered by time (analytic
    // surface the reference lacks; SURVEY §7.1(7))
    Q(
      "ev_running_sum",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev(s, d)
          .filter(col("user_id") < 5)
          .withColumn("running_n", count(lit(1)).over(w))
          .select("event_id", "user_id", "running_n")
          .orderBy("event_id")
      },
      Some(
        """SELECT event_id, user_id,
          |  count(*) OVER (PARTITION BY user_id
          |                 ORDER BY make_timestamp(epoch_us(ts)), event_id
          |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
          |FROM events WHERE user_id < 5 ORDER BY event_id""".stripMargin)),

    // Skew-mitigation pattern: salted two-phase aggregation. Phase 1
    // aggregates on (key, salt) so a hot key spreads over 8 reducers;
    // phase 2 combines the partials. Decimal partial sums make the
    // two-phase result bit-identical to the direct aggregation, which is
    // exactly what the oracle computes.
    Q(
      "ev_salted_agg",
      (s, d) =>
        ev(s, d)
          .withColumn("salt", pmod(col("event_id"), lit(8)))
          .groupBy("event_type", "salt")
          .agg(count(lit(1)).as("pn"),
            sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
              .as("ps"))
          .groupBy("event_type")
          .agg(sum(col("pn")).as("n"),
            sum(col("ps")).cast("double").as("sum_value"))
          .orderBy("event_type"),
      Some(
        s"""SELECT event_type, count(*) AS n, ${dsumSql("value")} AS sum_value
           |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // RANGE-frame window: per-user sliding 10-minute sum anchored at
    // each event (epoch-second ORDER BY so both engines frame identically)
    Q(
      "ev_range_window",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"))
          .rangeBetween(-600, 0)
        ev(s, d)
          .filter(col("user_id") < 5)
          .withColumn("ts_s", epochS(col("ts")))
          .withColumn("w_sum",
            sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
              .over(w).cast("double"))
          .select("event_id", "user_id", "w_sum")
          .orderBy("event_id")
      },
      Some(
        """WITH e AS (
          |  SELECT event_id, user_id, value,
          |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
          |  FROM events WHERE user_id < 5)
          |SELECT event_id, user_id,
          |  CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (
          |    PARTITION BY user_id ORDER BY ts_s
          |    RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) AS DOUBLE) AS w_sum
          |FROM e ORDER BY event_id""".stripMargin)),

    // argmax-per-group: each user's highest-value event, deterministic
    // tie-break on event_id
    Q(
      "ev_top_event_per_user",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("value").desc, col("event_id"))
        ev(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("user_id", "event_id", "value", "event_type")
          .orderBy("user_id")
      },
      Some(
        """WITH r AS (
          |  SELECT user_id, event_id, value, event_type,
          |    row_number() OVER (PARTITION BY user_id
          |                       ORDER BY value DESC, event_id) AS rn
          |  FROM events)
          |SELECT user_id, event_id, value, event_type
          |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // Grouped top-k through the CUSTOM CATALYST OPERATOR
    // (graft.plans.GroupedTopK: LogicalPlan + SparkStrategy + two-phase
    // SparkPlan). Same answer as the row_number() window form the oracle
    // uses. Spark plans that form as partial + final WindowGroupLimit,
    // whose partial phase sorts each whole map partition; the operator
    // keeps a 3-row heap per group instead. On 4 cores (local[4], noop
    // sink, median of 10 alternating reps), 1M rows in 5 groups took
    // 315 ms against 671 ms, and this query over 1M events (10x sf0.1)
    // 270 ms against 1,479 ms; the window form won none of either 10.
    // GroupedTopKSpec pins plan shape and window-parity.
    Q(
      "ev_grouped_topk",
      (s, d) => {
        val e = ev(s, d).select("event_type", "event_id", "value")
        graft.plans.GroupedTopK(
          e, Seq("event_type"), Seq(e("value").desc, e("event_id")), k = 3)
          .orderBy("event_type", "event_id")
      },
      Some(
        """WITH r AS (
          |  SELECT event_type, event_id, value,
          |    row_number() OVER (PARTITION BY event_type
          |                       ORDER BY value DESC, event_id) AS rn
          |  FROM events)
          |SELECT event_type, event_id, value
          |FROM r WHERE rn <= 3 ORDER BY event_type, event_id""".stripMargin)),

    // Strict-sequence funnel (view -> click -> purchase): a user counts
    // for step k only with an event AT OR AFTER their step-(k-1) entry
    // time — the standard product-analytics conversion query. Shape:
    // ONE events scan feeds three per-user conditional min-aggregates;
    // every groupBy/join keys on user_id, so a cluster run reuses one
    // hash partitioning across the whole chain (no re-shuffle between
    // steps), and each step's frame is one row per surviving user.
    Q(
      "ev_funnel",
      (s, d) => {
        val base = ev(s, d)
          .select(col("user_id"), col("event_type"),
            epochS(col("ts")).as("ts_s"))
        val s1 = base.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts_s")).as("t1"))
        val s2 = base.filter(col("event_type") === "click")
          .join(s1, "user_id")
          .filter(col("ts_s") >= col("t1"))
          .groupBy("user_id").agg(min(col("ts_s")).as("t2"))
        val s3 = base.filter(col("event_type") === "purchase")
          .join(s2, "user_id")
          .filter(col("ts_s") >= col("t2"))
          .groupBy("user_id").agg(min(col("ts_s")).as("t3"))
        s1.agg(count(lit(1)).as("n_view"))
          .crossJoin(s2.agg(count(lit(1)).as("n_click")))
          .crossJoin(s3.agg(count(lit(1)).as("n_purchase")))
      },
      Some(
        """WITH base AS (
          |  SELECT user_id, event_type,
          |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
          |  FROM events
          |), s1 AS (
          |  SELECT user_id, min(ts_s) AS t1 FROM base
          |  WHERE event_type = 'view' GROUP BY 1
          |), s2 AS (
          |  SELECT b.user_id, min(b.ts_s) AS t2
          |  FROM base b JOIN s1 USING (user_id)
          |  WHERE b.event_type = 'click' AND b.ts_s >= s1.t1 GROUP BY 1
          |), s3 AS (
          |  SELECT b.user_id, min(b.ts_s) AS t3
          |  FROM base b JOIN s2 USING (user_id)
          |  WHERE b.event_type = 'purchase' AND b.ts_s >= s2.t2 GROUP BY 1
          |)
          |SELECT (SELECT count(*) FROM s1) AS n_view,
          |  (SELECT count(*) FROM s2) AS n_click,
          |  (SELECT count(*) FROM s3) AS n_purchase""".stripMargin)),

    // Retention cohorts: users grouped by their FIRST-seen epoch-day,
    // counted on each later active day as an offset from it — the
    // standard cohort-retention triangle. Day buckets are integer
    // epoch-second division (micro/nano truncation can't move a day
    // boundary), so every value is exact on both engines. Scale shape:
    // the first-seen agg and the activity join both key on user_id —
    // one partitioning reused across the two stages — and the final
    // (cohort_day, day_offset) agg is a single-column countDistinct
    // (two-level plan, no Expand). NULL user/ts rows are excluded
    // explicitly, identically on both engines.
    Q(
      "ev_retention_cohorts",
      (s, d) => {
        val days = ev(s, d)
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"),
            expr("CAST(ts AS LONG) div 86400").as("day"))
        val cohorts = days.groupBy("user_id")
          .agg(min(col("day")).as("cohort_day"))
        days.join(cohorts, "user_id")
          .groupBy(col("cohort_day"),
            (col("day") - col("cohort_day")).as("day_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort_day", "day_offset")
      },
      Some(
        """WITH days AS (
          |  SELECT user_id,
          |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
          |), coh AS (
          |  SELECT user_id, min(day) AS cohort_day FROM days GROUP BY 1
          |)
          |SELECT cohort_day, d.day - cohort_day AS day_offset,
          |  count(DISTINCT d.user_id) AS n_users
          |FROM days d JOIN coh USING (user_id)
          |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin)),

    // Z-order layout audit: every event mapped onto the 32-bit Morton
    // curve over (user_id, epoch-second) 16-bit keys, then aggregated
    // per top-8-bit z-range. Each output row is one would-be file of a
    // z-ordered write (`repartitionByRange(zorder32).sortWithinPartitions`)
    // and its min/max per dimension IS the file-stats footer a scan
    // would prune on — tight u/t ranges per bucket are the locality the
    // layout exists to buy. Pure codegen'd bit arithmetic; the oracle
    // replays identical masks and shifts.
    Q(
      "ev_zorder_layout",
      (s, d) => {
        import graft.functions.ZOrder
        // both layout dimensions pinned NOT NULL on both engines: a
        // row with no (user, time) key has no z-value, and the NULL
        // z_bucket group would sort nulls-first in Spark vs nulls-last
        // in DuckDB (a z-ordered write routes such rows to a separate
        // null partition — outside this layout audit's scope)
        ev(s, d)
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(
            col("user_id").bitwiseAND(lit(0xFFFFL)).as("u"),
            epochS(col("ts")).bitwiseAND(lit(0xFFFFL)).as("t"))
          .withColumn("z", ZOrder.zorder32(col("u"), col("t")))
          .groupBy(shiftright(col("z"), 24).as("z_bucket"))
          .agg(
            count(lit(1)).as("n"),
            min(col("u")).as("u_min"), max(col("u")).as("u_max"),
            min(col("t")).as("t_min"), max(col("t")).as("t_max"))
          .orderBy("z_bucket")
      },
      Some {
        import graft.functions.ZOrder
        s"""WITH dims AS (
           |  SELECT user_id & 65535 AS u,
           |    CAST(floor(epoch(ts)) AS BIGINT) & 65535 AS t
           |  FROM events
           |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
           |), zv AS (
           |  SELECT u, t, ${ZOrder.zorder32Sql("u", "t")} AS z FROM dims
           |)
           |SELECT z >> 24 AS z_bucket, count(*) AS n,
           |  min(u) AS u_min, max(u) AS u_max,
           |  min(t) AS t_min, max(t) AS t_max
           |FROM zv GROUP BY 1 ORDER BY z_bucket""".stripMargin
      }),

    // Distribution stats per type: exact decimal sum, min/max (exact),
    // and a ULP-IMMUNE sample stddev. stddev_samp's variance
    // accumulation is merge-order-dependent (the emb_drift_by_label
    // round-4 bug class), so the moments are computed EXACTLY instead:
    // values snap to a 1e-6 grid (one deterministic IEEE multiply +
    // half-away round), Σv is exact int64, Σv² exact DECIMAL(38,0)/
    // HUGEINT, and var = (n·Σv² − (Σv)²)/(n(n−1)) — an exact
    // non-negative rational by Cauchy–Schwarz — converts to double
    // through single correctly-rounded ops (cast, divide, sqrt), so
    // both engines see identical bits. n<2 yields NULL like
    // stddev_samp.
    Q(
      "ev_value_stats",
      (s, d) =>
        ev(s, d)
          .withColumn("vi",
            round(col("value").cast("double") * 1e6, 0).cast("long"))
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            min(col("value")).as("min_v"),
            max(col("value")).as("max_v"),
            dsum(col("value")).as("sum_v"),
            // s1 decimal like s2: an int64 Σvi wraps silently at
            // ~4.6e12 unit-magnitude values per type (ADVICE r5);
            // decimal overflow is NULL — loud — and bit-identical below
            sum(col("vi").cast("decimal(19,0)")).as("s1"),
            sum(col("vi").cast("decimal(19,0)") *
              col("vi").cast("decimal(19,0)")).as("s2"))
          .select(col("event_type"), col("n"), col("min_v"), col("max_v"),
            col("sum_v"),
            when(col("n") < 2, lit(null).cast("double"))
              // round at scale 0 on the 1e6-scaled sd, THEN divide:
              // scale-0 round is provably identical cross-engine
              // (shortest-repr ".5" only at true dyadic ties, where
              // HALF_UP and std::round both go away from zero), whereas
              // round(x/1e6, 6) lets the division nudge x across a
              // 5e-7 boundary differently per engine (ADVICE r5)
              .otherwise(round(
                sqrt((col("n").cast("decimal(12,0)") * col("s2") -
                  col("s1") * col("s1")).cast("double") /
                  (col("n") * (col("n") - 1)).cast("double")), 0) / 1e6)
              .as("sd_v"))
          .orderBy("event_type"),
      Some(
        s"""SELECT event_type, count(*) AS n,
           |  min(value) AS min_v, max(value) AS max_v,
           |  ${dsumSql("value")} AS sum_v,
           |  CASE WHEN count(*) < 2 THEN NULL
           |    ELSE round(sqrt(
           |      CAST(count(*) * sum(CAST(vi AS HUGEINT) * vi)
           |        - CAST(sum(vi) AS HUGEINT) * CAST(sum(vi) AS HUGEINT)
           |        AS DOUBLE)
           |      / CAST(count(*) * (count(*) - 1) AS DOUBLE)), 0) / 1e6
           |    END AS sd_v
           |FROM (SELECT event_type, value,
           |        CAST(round(CAST(value AS DOUBLE) * 1e6, 0) AS BIGINT)
           |          AS vi
           |      FROM events)
           |GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // Simple linear regression (value vs time) per event type — the
    // drift-line statistic behind "is this metric trending", computed
    // EXACTLY: x is epoch seconds centered on a fixed 2024-01-01
    // literal, y is the 1e6-grid value, all four moments accumulate as
    // DECIMAL(38,0)/HUGEINT (overflow is NULL — loud), and the closed-
    // form slope (n·Σxy−Σx·Σy)/(n·Σxx−Σx²) and intercept
    // (Σy·Σxx−Σx·Σxy)/den are emitted by INTEGER truncating division
    // at nano/micro scale — identical `div`/`//` semantics cross-
    // engine, never a rounded double (the sd_v precedent). One scan,
    // one partial-agg'd shuffle. Headroom: with centered x ≤ 2.6e6 s
    // the 38-digit numerators hold to ~1e9 rows PER GROUP; beyond
    // that, re-center x per group (a second pass) before widening —
    // the NULL makes the need visible rather than silently wrapping.
    // Degenerate groups (n<2 or constant x) emit NULL via nullif(den).
    Q(
      "ev_linreg_by_type",
      (s, d) => {
        val base = ev(s, d)
          .filter(col("ts").isNotNull && col("value").isNotNull)
          .select(col("event_type"),
            (epochS(col("ts")) - lit(1704067200L))
              .cast("decimal(19,0)").as("x"),
            round(col("value").cast("double") * 1e6, 0).cast("long")
              .cast("decimal(19,0)").as("y"))
        base.groupBy("event_type")
          .agg(count(lit(1)).cast("decimal(19,0)").as("n"),
            sum(col("x")).cast("decimal(38,0)").as("sx"),
            sum(col("y")).cast("decimal(38,0)").as("sy"),
            sum(col("x") * col("x")).cast("decimal(38,0)").as("sxx"),
            sum(col("x") * col("y")).cast("decimal(38,0)").as("sxy"))
          .select(col("event_type"), col("n").cast("long").as("n"),
            (col("n") * col("sxy") - col("sx") * col("sy")).as("num_s"),
            (col("n") * col("sxx") - col("sx") * col("sx")).as("den"),
            (col("sy") * col("sxx") - col("sx") * col("sxy")).as("num_i"))
          .select(col("event_type"), col("n"),
            expr("CAST((num_s * 1000) div nullif(den, 0) AS BIGINT)")
              .as("slope_nano"),
            expr("CAST(num_i div nullif(den, 0) AS BIGINT)")
              .as("intercept_micro"))
          .orderBy("event_type")
      },
      Some(
        """WITH base AS (
          |  SELECT event_type,
          |    CAST(floor(epoch(ts)) AS BIGINT) - 1704067200 AS x,
          |    CAST(round(CAST(value AS DOUBLE) * 1e6, 0) AS BIGINT) AS y
          |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
          |), m AS (
          |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
          |    CAST(sum(x) AS HUGEINT) AS sx,
          |    CAST(sum(y) AS HUGEINT) AS sy,
          |    sum(CAST(x AS HUGEINT) * x) AS sxx,
          |    sum(CAST(x AS HUGEINT) * y) AS sxy
          |  FROM base GROUP BY 1
          |)
          |SELECT event_type, CAST(n AS BIGINT) AS n,
          |  CAST((1000 * (n * sxy - sx * sy))
          |    // nullif(n * sxx - sx * sx, 0) AS BIGINT) AS slope_nano,
          |  CAST((sy * sxx - sx * sxy)
          |    // nullif(n * sxx - sx * sx, 0) AS BIGINT) AS intercept_micro
          |FROM m ORDER BY event_type""".stripMargin)),

    // Welch two-sample t-test between every pair of event types — the
    // A/B-experiment readout (unequal variances, unequal n). No float
    // sneaks in before the last step: values snap to the 1e6 grid, the
    // three moments (n, Σy, Σy²) accumulate as DECIMAL(38,0)/HUGEINT,
    // and t² is emitted by STAGED truncating integer division —
    // variance at 1e12 scale ((nQ−S²) div (n(n−1))), standard-error²
    // as var div n summed across arms, mean-diff at micro scale — the
    // identical `div`/`//` chain on both engines (ev_linreg_by_type
    // precedent; every operand here is non-negative except the mean
    // diff, which is only ever squared). significant_5pct compares the
    // milli-scaled t² against 3842 (1.96² = 3.8416), an integer
    // compare. Scale shape: ONE partial-agg'd shuffle to a
    // type-domain-sized frame, then a self-join on that tiny frame —
    // pairs are |types|², never row-scaled. Headroom: nQ ≤ 38 digits
    // holds to ~2e10 rows per arm at |value| ≤ 500; overflow is a loud
    // NULL (ANSI decimal), never a wrap.
    Q(
      "ev_welch_ttest",
      (s, d) => {
        val m = ev(s, d)
          .filter(col("value").isNotNull)
          .select(col("event_type"),
            round(col("value").cast("double") * 1e6, 0).cast("long")
              .cast("decimal(19,0)").as("y"))
          .groupBy("event_type")
          .agg(count(lit(1)).cast("decimal(19,0)").as("n"),
            sum(col("y")).cast("decimal(38,0)").as("sy"),
            sum(col("y") * col("y")).cast("decimal(38,0)").as("q"))
          .select(col("event_type"), col("n"), col("sy"),
            expr("""CAST((n * q - sy * sy)
                    div nullif(n * (n - 1), 0) AS DECIMAL(38,0))""")
              .as("var_e12"))
        val a = m.select(col("event_type").as("type_a"),
          col("n").as("na"), col("sy").as("sa"), col("var_e12").as("va"))
        val b = m.select(col("event_type").as("type_b"),
          col("n").as("nb"), col("sy").as("sb"), col("var_e12").as("vb"))
        a.join(b, col("type_a") < col("type_b"))
          .select(col("type_a"), col("type_b"),
            col("na").cast("long").as("n_a"),
            col("nb").cast("long").as("n_b"),
            expr("CAST(sa div na - sb div nb AS BIGINT)")
              .as("mean_diff_micro"),
            // Spark `div` emits BIGINT; the squared mean-diff * 1000
            // would be 64-bit and wraps past |diff| ~ 9.6e7 micro —
            // well inside the |value| <= 500 envelope. Re-widen each
            // quotient to DECIMAL(38,0) BEFORE subtract/square so the
            // numerator mirrors the oracle's all-HUGEINT chain and
            // overflow stays a loud ANSI NULL, never a wrap.
            expr("""CAST(((CAST(sa div na AS DECIMAL(38,0))
                  - CAST(sb div nb AS DECIMAL(38,0)))
                * (CAST(sa div na AS DECIMAL(38,0))
                  - CAST(sb div nb AS DECIMAL(38,0))) * 1000)
                div nullif(va div na + vb div nb, 0) AS BIGINT)""")
              .as("t2_milli"))
          .withColumn("significant_5pct",
            coalesce(col("t2_milli") >= 3842, lit(false)))
          .orderBy("type_a", "type_b")
      },
      Some(
        """WITH m AS (
          |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
          |    CAST(sum(y) AS HUGEINT) AS sy,
          |    sum(CAST(y AS HUGEINT) * y) AS q
          |  FROM (SELECT event_type,
          |          CAST(round(CAST(value AS DOUBLE) * 1e6, 0) AS BIGINT)
          |            AS y
          |        FROM events WHERE value IS NOT NULL)
          |  GROUP BY 1
          |), v AS (
          |  SELECT event_type, n, sy,
          |    (n * q - sy * sy) // nullif(n * (n - 1), 0) AS var_e12
          |  FROM m
          |)
          |SELECT a.event_type AS type_a, b.event_type AS type_b,
          |  CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
          |  CAST(a.sy // a.n - b.sy // b.n AS BIGINT) AS mean_diff_micro,
          |  CAST(((a.sy // a.n - b.sy // b.n)
          |      * (a.sy // a.n - b.sy // b.n) * 1000)
          |    // nullif(a.var_e12 // a.n + b.var_e12 // b.n, 0) AS BIGINT)
          |    AS t2_milli,
          |  coalesce(((a.sy // a.n - b.sy // b.n)
          |      * (a.sy // a.n - b.sy // b.n) * 1000)
          |    // nullif(a.var_e12 // a.n + b.var_e12 // b.n, 0) >= 3842,
          |    FALSE) AS significant_5pct
          |FROM v a JOIN v b ON a.event_type < b.event_type
          |ORDER BY type_a, type_b""".stripMargin)),

    // CUSUM changepoint scan per event type — "which day did this
    // metric shift" over daily value sums, the classic mean-shift
    // detector. All-integer: with per-day (n_i, S_i) and per-type
    // totals (N, T), the cumulative deviation C_k = Σ_{i≤k}(S_i·N −
    // T·n_i) is N × (running sum − expected share) — exact
    // DECIMAL(38,0); the reported magnitude renormalizes by div N back
    // to micro-value units. Days bucket as epoch_day = epoch_seconds
    // div 86400 — pure integer, no calendar/timezone surface at all.
    // The argmax day resolves by (max |C_k|, then earliest day): a
    // groupBy max + semi-join-back, both on the days×types-sized daily
    // frame, never row-scaled. Scale shape: one partial-agg'd shuffle
    // to daily grain, a per-type window over day order (bounded
    // running sum), and type-sized joins after that.
    Q(
      "ev_cusum_changepoint",
      (s, d) => {
        val daily = ev(s, d)
          .filter(col("ts").isNotNull && col("value").isNotNull &&
            col("event_type").isNotNull)
          .select(col("event_type"),
            (epochS(col("ts")) / 86400L).cast("long").as("epoch_day"),
            round(col("value").cast("double") * 1e6, 0).cast("long")
              .cast("decimal(19,0)").as("y"))
          .groupBy("event_type", "epoch_day")
          .agg(count(lit(1)).cast("decimal(19,0)").as("ni"),
            sum(col("y")).cast("decimal(38,0)").as("si"))
        val tw = Window.partitionBy("event_type")
        val cw = Window.partitionBy("event_type").orderBy("epoch_day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cusum = daily
          .withColumn("nn", sum(col("ni")).over(tw).cast("decimal(19,0)"))
          .withColumn("tt", sum(col("si")).over(tw).cast("decimal(38,0)"))
          .withColumn("ck",
            abs(sum(col("si") * col("nn") - col("tt") * col("ni")).over(cw))
              .cast("decimal(38,0)"))
        val peak = cusum.groupBy("event_type")
          .agg(max(col("ck")).as("mk"), count(lit(1)).as("n_days"))
        cusum.join(peak, "event_type")
          .filter(col("ck") === col("mk"))
          .groupBy(col("event_type"), col("n_days"),
            expr("CAST(mk div nn AS BIGINT)").as("max_cusum_micro"))
          .agg(min(col("epoch_day")).as("changepoint_day"))
          .select(col("event_type"), col("n_days"),
            col("changepoint_day"), col("max_cusum_micro"))
          .orderBy("event_type")
      },
      Some(
        """WITH daily AS (
          |  SELECT event_type,
          |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS epoch_day,
          |    CAST(count(*) AS HUGEINT) AS ni,
          |    CAST(sum(CAST(round(CAST(value AS DOUBLE) * 1e6, 0)
          |      AS BIGINT)) AS HUGEINT) AS si
          |  FROM events
          |  WHERE ts IS NOT NULL AND value IS NOT NULL
          |    AND event_type IS NOT NULL
          |  GROUP BY 1, 2
          |), tot AS (
          |  SELECT event_type, sum(ni) AS nn, sum(si) AS tt
          |  FROM daily GROUP BY 1
          |), cusum AS (
          |  SELECT d.event_type, d.epoch_day, t.nn,
          |    abs(sum(d.si * t.nn - t.tt * d.ni)
          |      OVER (PARTITION BY d.event_type ORDER BY d.epoch_day
          |            ROWS UNBOUNDED PRECEDING)) AS ck
          |  FROM daily d JOIN tot t ON d.event_type = t.event_type
          |), peak AS (
          |  SELECT event_type, max(ck) AS mk, count(*) AS n_days
          |  FROM cusum GROUP BY 1
          |)
          |SELECT c.event_type, p.n_days,
          |  min(c.epoch_day) AS changepoint_day,
          |  CAST(p.mk // c.nn AS BIGINT) AS max_cusum_micro
          |FROM cusum c JOIN peak p
          |  ON c.event_type = p.event_type AND c.ck = p.mk
          |GROUP BY 1, 2, 4
          |ORDER BY c.event_type""".stripMargin)),

    // Lag-1 autocorrelation of DAILY EVENT COUNTS per type — "is
    // yesterday predictive of today", the seasonality/burstiness
    // readout. Pairs (x_t, x_{t+1}) form by an equi-join on
    // (type, epoch_day + 1) — calendar-gap days simply produce no
    // pair (documented; the gap-fill-to-zero variant is ev_gap_fill's
    // shape composed here if wanted). Pearson r over the pairs uses
    // exact integer moments; the ONLY float step is the final
    // num/sqrt(dx·dy), which rounds at scale 0 on the 1e6-scaled
    // numerator BEFORE the divide (the sd_v precedent: scale-0
    // round of a double is cross-engine stable, 6-dp round of a
    // quotient is not). Daily counts keep every moment far inside
    // 2^53 up to ~9e6 daily events per type per day at 10k days —
    // beyond that the counts themselves need the decimal widening,
    // and the doubles here would need the same rework.
    Q(
      "ev_autocorr_daily",
      (s, d) => {
        val daily = ev(s, d)
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .groupBy(col("event_type"),
            (epochS(col("ts")) / 86400L).cast("long").as("epoch_day"))
          .agg(count(lit(1)).as("x"))
        val nxt = daily.select(col("event_type"),
          (col("epoch_day") - 1).as("epoch_day"), col("x").as("x1"))
        val pairs = daily.join(nxt, Seq("event_type", "epoch_day"))
        pairs.groupBy("event_type")
          .agg(count(lit(1)).as("m"),
            sum(col("x")).as("sx"), sum(col("x1")).as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("x1") * col("x1")).as("syy"),
            sum(col("x") * col("x1")).as("sxy"))
          .select(col("event_type"), col("m").as("n_pairs"),
            (col("m") * col("sxy") - col("sx") * col("sy")).as("num"),
            (col("m") * col("sxx") - col("sx") * col("sx")).as("dx"),
            (col("m") * col("syy") - col("sy") * col("sy")).as("dy"))
          .select(col("event_type"), col("n_pairs"),
            when(col("dx") <= 0 || col("dy") <= 0,
              lit(null).cast("double"))
              .otherwise(round(col("num").cast("double") * 1e6 /
                sqrt(col("dx").cast("double") * col("dy").cast("double")),
                0) / 1e6)
              .as("r1"))
          .orderBy("event_type")
      },
      Some(
        """WITH daily AS (
          |  SELECT event_type,
          |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS epoch_day,
          |    count(*) AS x
          |  FROM events
          |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
          |  GROUP BY 1, 2
          |), pairs AS (
          |  SELECT a.event_type, a.x, b.x AS x1
          |  FROM daily a JOIN daily b
          |    ON a.event_type = b.event_type
          |    AND b.epoch_day = a.epoch_day + 1
          |), mom AS (
          |  SELECT event_type, count(*) AS m,
          |    sum(x) AS sx, sum(x1) AS sy,
          |    sum(x * x) AS sxx, sum(x1 * x1) AS syy,
          |    sum(x * x1) AS sxy
          |  FROM pairs GROUP BY 1
          |)
          |SELECT event_type, m AS n_pairs,
          |  CASE WHEN m * sxx - sx * sx <= 0 OR m * syy - sy * sy <= 0
          |    THEN NULL
          |    ELSE round(CAST(m * sxy - sx * sy AS DOUBLE) * 1e6
          |      / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
          |           * CAST(m * syy - sy * sy AS DOUBLE)), 0) / 1e6
          |    END AS r1
          |FROM mom ORDER BY event_type""".stripMargin)),

    // Mergeable fixed-bin histogram quantile — the deterministic,
    // engine-independent cousin of the approx_percentile sketch (whose
    // registers are engine-private, forcing ev_value_percentiles_approx
    // into an envelope check). Stage 1 builds per-INPUT-PARTITION
    // partial histograms (groupBy event_type, spark_partition_id, bin),
    // stage 2 merges them by plain summation — the mergeable-summary
    // property made visible in the plan, hll_partial_merge's pattern
    // for quantiles. Because counts are associative the merged
    // histogram is bit-identical however the input was split, so the
    // DuckDB oracle just builds the histogram directly. The p50
    // estimate interpolates uniformly inside the k-th-rank bin in pure
    // integer arithmetic (midpoint convention, truncating div); the
    // exact interpolated percentile rides alongside so the sketch
    // error is visible in the output. Bins = value div 8 (units), so
    // the cumulative window per type is bounded by the VALUE RANGE
    // (~62 bins here), never row count. Negative values would bucket
    // by truncation on both engines — consistent cross-engine, though
    // a floor-binning refinement would tighten the estimate there.
    Q(
      "ev_hist_quantile_merge",
      (s, d) => {
        val binw = 8000000L // 8 value-units at the 1e6 micro grid
        val partial = ev(s, d)
          .filter(col("value").isNotNull && col("event_type").isNotNull)
          .select(col("event_type"),
            round(col("value").cast("double") * 1e6, 0).cast("long")
              .as("vi"),
            spark_partition_id().as("pid"))
          .select(col("event_type"), expr(s"vi div $binw").as("bin"),
            col("pid"))
          .groupBy("event_type", "pid", "bin")
          .agg(count(lit(1)).as("pc"))
        // counts ride as DECIMAL(38,0) through the interpolation: the
        // binw * (2j - 1) product would silently wrap 64-bit Long at
        // ~1e12 rows per bin while the oracle's HUGEINT stays exact —
        // the silent-divergence-at-scale class the suite bans
        val merged = partial.groupBy("event_type", "bin")
          .agg(sum(col("pc")).cast("decimal(38,0)").as("c"))
        val tw = Window.partitionBy("event_type")
        val cw = Window.partitionBy("event_type").orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val est = merged
          .withColumn("n", sum(col("c")).over(tw).cast("decimal(38,0)"))
          .withColumn("cum", sum(col("c")).over(cw).cast("decimal(38,0)"))
          .withColumn("k",
            expr("CAST((n + 1) div 2 AS DECIMAL(38,0))"))
          .filter(col("cum") - col("c") < col("k") &&
            col("cum") >= col("k"))
          .select(col("event_type"), col("n").cast("long").as("n"),
            expr(s"""CAST(bin * $binw +
                (CAST($binw AS DECIMAL(38,0)) * (2 * (k - (cum - c)) - 1))
                div (2 * c) AS BIGINT)""")
              .as("est_p50_micro"))
        val exact = ev(s, d)
          .filter(col("value").isNotNull && col("event_type").isNotNull)
          .select(col("event_type"), col("value"),
            round(col("value").cast("double") * 1e6, 0).cast("long")
              .as("vi"))
          .groupBy("event_type")
          .agg(round(expr("percentile(value, 0.5)"), 6).as("exact_p50"),
            countDistinct(expr(s"vi div $binw")).as("n_bins"))
        est.join(exact, "event_type")
          .select(col("event_type"), col("n"), col("n_bins"),
            col("est_p50_micro"), col("exact_p50"))
          .orderBy("event_type")
      },
      Some(
        """WITH v AS (
          |  SELECT event_type,
          |    CAST(round(CAST(value AS DOUBLE) * 1e6, 0) AS BIGINT) AS vi,
          |    value
          |  FROM events
          |  WHERE value IS NOT NULL AND event_type IS NOT NULL
          |), h AS (
          |  SELECT event_type, vi // 8000000 AS bin, count(*) AS c
          |  FROM v GROUP BY 1, 2
          |), cum AS (
          |  SELECT event_type, bin, c,
          |    sum(c) OVER (PARTITION BY event_type) AS n,
          |    sum(c) OVER (PARTITION BY event_type ORDER BY bin
          |                 ROWS UNBOUNDED PRECEDING) AS cum
          |  FROM h
          |), est AS (
          |  SELECT event_type, CAST(n AS BIGINT) AS n,
          |    CAST(bin * 8000000 +
          |      (8000000 * (2 * ((n + 1) // 2 - (cum - c)) - 1))
          |        // (2 * c) AS BIGINT) AS est_p50_micro
          |  FROM cum
          |  WHERE cum - c < (n + 1) // 2 AND cum >= (n + 1) // 2
          |), ex AS (
          |  SELECT event_type,
          |    round(quantile_cont(value, 0.5), 6) AS exact_p50,
          |    count(DISTINCT vi // 8000000) AS n_bins
          |  FROM v GROUP BY 1
          |)
          |SELECT e.event_type, e.n, x.n_bins, e.est_p50_micro, x.exact_p50
          |FROM est e JOIN ex x USING (event_type)
          |ORDER BY event_type""".stripMargin)),

    // EXACT global median by distributed selection — the answer to
    // "exact percentile at 100 TB" that neither the sort-based
    // `percentile` aggregate (all values through one reducer) nor a
    // global rank window (one-partition collapse) survives. The
    // emb_auc_centroid range-partitioned ranking: repartitionByRange on
    // the value + in-partition sort + per-partition (count, min-id)
    // offsets broadcast back, global rank = local position + offset;
    // then keep ONLY the two middle order statistics. Both middles are
    // emitted as exact micro-grid integers — an even-count median
    // average would round; the two order statistics never do. Ties may
    // straddle partition boundaries, which is fine: order STATISTICS
    // are invariant to which duplicate lands at which rank.
    Q(
      "ev_value_median_exact",
      (s, d) => {
        val v = ev(s, d)
          .filter(col("value").isNotNull)
          .select(round(col("value").cast("double") * 1e6, 0)
            .cast("long").as("vi"))
        val nf = v.agg(count(lit(1)).as("n"))
        val ranked = v
          .repartitionByRange(col("vi"))
          .sortWithinPartitions(col("vi"))
          .select(col("vi"), spark_partition_id().as("pid"),
            monotonically_increasing_id().as("mid"))
        val stats = ranked.groupBy("pid")
          .agg(count(lit(1)).as("cnt"), min(col("mid")).as("mid0"))
        val offsets = stats.as("a")
          .join(broadcast(stats.select(col("pid").as("p2"),
            col("cnt").as("c2"))), col("p2") < col("a.pid"), "left")
          .groupBy(col("a.pid").as("pid"), col("a.mid0").as("mid0"))
          .agg(coalesce(sum(col("c2")), lit(0L)).as("off"))
        val sel = ranked.join(broadcast(offsets), "pid")
          .withColumn("r", col("mid") - col("mid0") + col("off") + 1L)
          .crossJoin(broadcast(nf))
          .filter(col("r") === expr("(n + 1) div 2") ||
            col("r") === expr("n div 2 + 1"))
          .agg(
            max(when(col("r") === expr("(n + 1) div 2"), col("vi")))
              .as("median_lo_micro"),
            max(when(col("r") === expr("n div 2 + 1"), col("vi")))
              .as("median_hi_micro"))
        nf.crossJoin(broadcast(sel))
          .select(col("n"), col("median_lo_micro"), col("median_hi_micro"))
      },
      Some(
        """WITH v AS (
          |  SELECT CAST(round(CAST(value AS DOUBLE) * 1e6, 0) AS BIGINT)
          |    AS vi
          |  FROM events WHERE value IS NOT NULL
          |), s AS (
          |  SELECT vi, row_number() OVER (ORDER BY vi) AS r FROM v
          |)
          |SELECT (SELECT count(*) FROM v) AS n,
          |  (SELECT vi FROM s, (SELECT count(*) AS n FROM v)
          |   WHERE r = (n + 1) // 2) AS median_lo_micro,
          |  (SELECT vi FROM s, (SELECT count(*) AS n FROM v)
          |   WHERE r = n // 2 + 1) AS median_hi_micro""".stripMargin)),

    // Two-proportion z-test on conversion — the discrete twin of
    // ev_welch_ttest: users hash-split into arms by user_id parity (a
    // deterministic assignment both engines share), conversion = "at
    // least 14 purchase events" (this corpus gives EVERY user a
    // purchase — median ~14 — so the ≥1 form is degenerate; 14 splits
    // the population), pooled z² carried as ONE exact
    // rational: z² = (c1·n2 − c2·n1)²·(n1+n2) /
    // (n1·n2·(c1+c2)·(n1+n2−c1−c2)), emitted by a single truncating
    // division at milli scale. Degenerate pools (nobody / everybody
    // converted, an empty arm) emit NULL via nullif. Headroom: the
    // numerator stays inside DECIMAL(38,0) to ~1e8 users per arm;
    // beyond that it NULLs loudly (ANSI decimal), never wraps. One
    // user-keyed partial-agg'd shuffle to per-user rows, then ONE
    // conditional global aggregate — no arm self-join at all.
    Q(
      "ev_ab_conversion_ztest",
      (s, d) => {
        val perUser = ev(s, d)
          .filter(col("user_id").isNotNull)
          .groupBy(col("user_id"))
          .agg(when(count(when(col("event_type") === "purchase", 1))
            >= 14, 1L).otherwise(0L).as("converted"))
          .select((col("user_id") % 2).as("arm"), col("converted"))
        perUser
          .agg(
            count(when(col("arm") === 0, 1)).cast("decimal(19,0)")
              .as("na"),
            count(when(col("arm") === 1, 1)).cast("decimal(19,0)")
              .as("nb"),
            coalesce(sum(when(col("arm") === 0, col("converted"))), lit(0L))
              .cast("decimal(19,0)").as("ca"),
            coalesce(sum(when(col("arm") === 1, col("converted"))), lit(0L))
              .cast("decimal(19,0)").as("cb"))
          .select(
            col("na").cast("long").as("n_a"),
            col("nb").cast("long").as("n_b"),
            col("ca").cast("long").as("conv_a"),
            col("cb").cast("long").as("conv_b"),
            expr("""CAST(((ca * nb - cb * na) * (ca * nb - cb * na)
                * (na + nb) * 1000)
                div nullif(na * nb * (ca + cb)
                  * (na + nb - ca - cb), 0) AS BIGINT)""")
              .as("z2_milli"))
          .withColumn("significant_5pct",
            coalesce(col("z2_milli") >= 3842, lit(false)))
      },
      Some(
        """WITH pu AS (
          |  SELECT user_id % 2 AS arm,
          |    CASE WHEN count(CASE WHEN event_type = 'purchase' THEN 1
          |      END) >= 14 THEN 1 ELSE 0 END AS converted
          |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
          |), m AS (
          |  SELECT
          |    CAST(count(CASE WHEN arm = 0 THEN 1 END) AS HUGEINT) AS na,
          |    CAST(count(CASE WHEN arm = 1 THEN 1 END) AS HUGEINT) AS nb,
          |    CAST(coalesce(sum(CASE WHEN arm = 0 THEN converted END), 0)
          |      AS HUGEINT) AS ca,
          |    CAST(coalesce(sum(CASE WHEN arm = 1 THEN converted END), 0)
          |      AS HUGEINT) AS cb
          |  FROM pu
          |)
          |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
          |  CAST(ca AS BIGINT) AS conv_a, CAST(cb AS BIGINT) AS conv_b,
          |  CAST(((ca * nb - cb * na) * (ca * nb - cb * na)
          |      * (na + nb) * 1000)
          |    // nullif(na * nb * (ca + cb)
          |      * (na + nb - ca - cb), 0) AS BIGINT) AS z2_milli,
          |  coalesce(((ca * nb - cb * na) * (ca * nb - cb * na)
          |      * (na + nb) * 1000)
          |    // nullif(na * nb * (ca + cb)
          |      * (na + nb - ca - cb), 0) >= 3842, FALSE)
          |    AS significant_5pct
          |FROM m""".stripMargin)),

    // Mann-Whitney U (Wilcoxon rank-sum) between click and purchase
    // values — the NONPARAMETRIC two-sample test beside ev_welch_ttest
    // (parametric) and ev_ab_conversion_ztest (proportions). Exact
    // midranks with the tie correction, no float until nothing is left
    // to round: per DISTINCT grid value the midrank rides ×2
    // (2·cum_before + c + 1), U rides ×2, and the tie-corrected
    // z² = (U2−n1n2)²·3·N(N−1) / (n1n2·((N+1)N(N−1)−ΣT)) emits by one
    // truncating division at milli scale. The cumulative count BEFORE
    // each distinct value is a DISTRIBUTED PREFIX SUM — range-partition
    // the distinct-value frame on vi, run the running sum per partition
    // (a pid-keyed window, never partition-less), add broadcast
    // per-partition offsets: the ev_value_median_exact machinery turned
    // from selection to prefix aggregation. Headroom: the z² numerator
    // holds to ~1e8 rows per arm in DECIMAL(38,0); past that it NULLs
    // loudly. Scale shape: one partial-agg'd shuffle to the distinct
    // value grid (bounded by value-range × 1e6, not row count), one
    // range exchange of that grid, bounded offset frames.
    Q(
      "ev_mann_whitney",
      (s, d) => {
        val byv = ev(s, d)
          .filter(col("value").isNotNull &&
            col("event_type").isin("click", "purchase"))
          .select(
            round(col("value").cast("double") * 1e6, 0).cast("long")
              .as("vi"),
            when(col("event_type") === "click", 1L).otherwise(0L)
              .as("is1"))
          .groupBy("vi")
          .agg(sum(col("is1")).as("c1"),
            sum(lit(1L) - col("is1")).as("c2"))
          .withColumn("c", col("c1") + col("c2"))
        val part = byv
          .repartitionByRange(col("vi"))
          .sortWithinPartitions(col("vi"))
          .withColumn("pid", spark_partition_id())
        val pw = Window.partitionBy("pid").orderBy("vi")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val local = part.withColumn("lcum", sum(col("c")).over(pw))
        val ptot = part.groupBy("pid").agg(sum(col("c")).as("pc"))
        val off = ptot.as("a")
          .join(broadcast(ptot.select(col("pid").as("p2"),
            col("pc").as("pc2"))), col("p2") < col("a.pid"), "left")
          .groupBy(col("a.pid").as("pid"))
          .agg(coalesce(sum(col("pc2")), lit(0L)).as("off"))
        local.join(broadcast(off), "pid")
          .select(col("c1"), col("c2"), col("c"),
            // midrank ×2 of this distinct value's tie block
            (lit(2L) * (col("off") + col("lcum") - col("c")) +
              col("c") + 1L).cast("decimal(38,0)").as("rank2"))
          .agg(
            sum(col("c1")).cast("decimal(19,0)").as("n1"),
            sum(col("c2")).cast("decimal(19,0)").as("n2"),
            sum(col("c1").cast("decimal(19,0)") * col("rank2"))
              .cast("decimal(38,0)").as("r1x2"),
            sum(col("c").cast("decimal(19,0)") * col("c") * col("c") -
              col("c")).cast("decimal(38,0)").as("ties"))
          .select(
            col("n1").cast("long").as("n_click"),
            col("n2").cast("long").as("n_purchase"),
            expr("CAST(r1x2 - n1 * (n1 + 1) AS BIGINT)").as("u2"),
            expr("""CAST(((r1x2 - n1 * (n1 + 1) - n1 * n2)
                * (r1x2 - n1 * (n1 + 1) - n1 * n2)
                * 3 * (n1 + n2) * (n1 + n2 - 1) * 1000)
                div nullif(n1 * n2 *
                  ((n1 + n2 + 1) * (n1 + n2) * (n1 + n2 - 1) - ties), 0)
                AS BIGINT)""").as("z2_milli"))
          .withColumn("significant_5pct",
            coalesce(col("z2_milli") >= 3842, lit(false)))
      },
      Some(
        """WITH pool AS (
          |  SELECT CAST(round(CAST(value AS DOUBLE) * 1e6, 0) AS BIGINT)
          |      AS vi,
          |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
          |  FROM events
          |  WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
          |), byv AS (
          |  SELECT vi, CAST(sum(is1) AS HUGEINT) AS c1,
          |    CAST(sum(1 - is1) AS HUGEINT) AS c2,
          |    CAST(count(*) AS HUGEINT) AS c
          |  FROM pool GROUP BY 1
          |), r AS (
          |  SELECT c1, c2, c,
          |    2 * (sum(c) OVER (ORDER BY vi ROWS UNBOUNDED PRECEDING) - c)
          |      + c + 1 AS rank2
          |  FROM byv
          |), m AS (
          |  SELECT sum(c1) AS n1, sum(c2) AS n2,
          |    sum(c1 * rank2) AS r1x2,
          |    sum(c * c * c - c) AS ties
          |  FROM r
          |)
          |SELECT CAST(n1 AS BIGINT) AS n_click,
          |  CAST(n2 AS BIGINT) AS n_purchase,
          |  CAST(r1x2 - n1 * (n1 + 1) AS BIGINT) AS u2,
          |  CAST(((r1x2 - n1 * (n1 + 1) - n1 * n2)
          |      * (r1x2 - n1 * (n1 + 1) - n1 * n2)
          |      * 3 * (n1 + n2) * (n1 + n2 - 1) * 1000)
          |    // nullif(n1 * n2 *
          |      ((n1 + n2 + 1) * (n1 + n2) * (n1 + n2 - 1) - ties), 0)
          |    AS BIGINT) AS z2_milli,
          |  coalesce(((r1x2 - n1 * (n1 + 1) - n1 * n2)
          |      * (r1x2 - n1 * (n1 + 1) - n1 * n2)
          |      * 3 * (n1 + n2) * (n1 + n2 - 1) * 1000)
          |    // nullif(n1 * n2 *
          |      ((n1 + n2 + 1) * (n1 + n2) * (n1 + n2 - 1) - ties), 0)
          |    >= 3842, FALSE) AS significant_5pct
          |FROM m""".stripMargin)),

    // The A/B experiment READOUT — the events-side capstone
    // composition (doc_pipeline_funnel's role for the statistics
    // block): ONE experiment (arms by user_id parity), THREE lenses in
    // one table — conversion z² (proportions), Welch t² on the event
    // values (parametric means), Mann-Whitney z² on the same values
    // (nonparametric ranks) — each all-integer with a single milli
    // truncating division, exactly the arithmetic of its standalone
    // query (ev_ab_conversion_ztest / ev_welch_ttest / ev_mann_whitney
    // remain the canonical per-statistic forms; this row composes
    // their machinery against a common arm split, the report a real
    // experimentation platform renders). Three bounded aggregates
    // union to three rows; the rank lens reuses the distributed
    // prefix-sum over the distinct-value grid.
    Q(
      "ev_ab_report",
      (s, d) => {
        val base = ev(s, d)
          .filter(col("user_id").isNotNull)
          .select(col("user_id"), (col("user_id") % 2).as("arm"),
            col("event_type"), col("value"))
        // lens 1: conversion (>= 14 purchases, the corpus median rule)
        val conv = base
          .groupBy("user_id", "arm")
          .agg(when(count(when(col("event_type") === "purchase", 1))
            >= 14, 1L).otherwise(0L).as("cv"))
          .agg(
            count(when(col("arm") === 0, 1)).cast("decimal(19,0)")
              .as("na"),
            count(when(col("arm") === 1, 1)).cast("decimal(19,0)")
              .as("nb"),
            coalesce(sum(when(col("arm") === 0, col("cv"))), lit(0L))
              .cast("decimal(19,0)").as("ca"),
            coalesce(sum(when(col("arm") === 1, col("cv"))), lit(0L))
              .cast("decimal(19,0)").as("cb"))
          .select(lit("conversion").as("metric"),
            col("na").cast("long").as("n_a"),
            col("nb").cast("long").as("n_b"),
            expr("""CAST(((ca * nb - cb * na) * (ca * nb - cb * na)
                * (na + nb) * 1000)
                div nullif(na * nb * (ca + cb)
                  * (na + nb - ca - cb), 0) AS BIGINT)""")
              .as("stat_milli"))
        // lens 2: Welch t² on per-event values between arms
        val vals = base.filter(col("value").isNotNull)
          .select(col("arm"),
            round(col("value").cast("double") * 1e6, 0).cast("long")
              .cast("decimal(19,0)").as("y"))
        val welch = vals
          .agg(
            count(when(col("arm") === 0, 1)).cast("decimal(19,0)")
              .as("na"),
            count(when(col("arm") === 1, 1)).cast("decimal(19,0)")
              .as("nb"),
            coalesce(sum(when(col("arm") === 0, col("y"))),
              lit(0).cast("decimal(38,0)")).as("sa"),
            coalesce(sum(when(col("arm") === 1, col("y"))),
              lit(0).cast("decimal(38,0)")).as("sb"),
            coalesce(sum(when(col("arm") === 0, col("y") * col("y"))),
              lit(0).cast("decimal(38,0)")).as("qa"),
            coalesce(sum(when(col("arm") === 1, col("y") * col("y"))),
              lit(0).cast("decimal(38,0)")).as("qb"))
          .select(lit("mean_value").as("metric"),
            col("na").cast("long").as("n_a"),
            col("nb").cast("long").as("n_b"),
            // Same DECIMAL(38,0) re-widening as ev_welch_ttest (the
            // squared mean-diff wraps in BIGINT past ~9.6e7 micro),
            // plus nullif guards on na/nb: an empty arm (every user
            // one parity) must emit NULL like the conversion lens and
            // the oracle, not throw ANSI DIVIDE_BY_ZERO.
            expr("""CAST(((CAST(sa div nullif(na, 0) AS DECIMAL(38,0))
                  - CAST(sb div nullif(nb, 0) AS DECIMAL(38,0)))
                * (CAST(sa div nullif(na, 0) AS DECIMAL(38,0))
                  - CAST(sb div nullif(nb, 0) AS DECIMAL(38,0))) * 1000)
                div nullif(
                  ((na * qa - sa * sa) div nullif(na * (na - 1), 0))
                    div nullif(na, 0)
                  + ((nb * qb - sb * sb) div nullif(nb * (nb - 1), 0))
                    div nullif(nb, 0), 0) AS BIGINT)""")
              .as("stat_milli"))
        // lens 3: Mann-Whitney z² on the same values (midranks over
        // the distinct grid, distributed prefix sum for cum-before)
        val byv = vals
          .select(col("y").cast("long").as("vi"),
            when(col("arm") === 0, 1L).otherwise(0L).as("is1"))
          .groupBy("vi")
          .agg(sum(col("is1")).as("c1"),
            sum(lit(1L) - col("is1")).as("c2"))
          .withColumn("c", col("c1") + col("c2"))
        val part = byv
          .repartitionByRange(col("vi"))
          .sortWithinPartitions(col("vi"))
          .withColumn("pid", spark_partition_id())
        val pw = Window.partitionBy("pid").orderBy("vi")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val ptot = part.groupBy("pid").agg(sum(col("c")).as("pc"))
        val off = ptot.as("a")
          .join(broadcast(ptot.select(col("pid").as("p2"),
            col("pc").as("pc2"))), col("p2") < col("a.pid"), "left")
          .groupBy(col("a.pid").as("pid"))
          .agg(coalesce(sum(col("pc2")), lit(0L)).as("off"))
        val mw = part.withColumn("lcum", sum(col("c")).over(pw))
          .join(broadcast(off), "pid")
          .select(col("c1"), col("c2"), col("c"),
            (lit(2L) * (col("off") + col("lcum") - col("c")) +
              col("c") + 1L).cast("decimal(38,0)").as("rank2"))
          .agg(
            sum(col("c1")).cast("decimal(19,0)").as("n1"),
            sum(col("c2")).cast("decimal(19,0)").as("n2"),
            sum(col("c1").cast("decimal(19,0)") * col("rank2"))
              .cast("decimal(38,0)").as("r1x2"),
            sum(col("c").cast("decimal(19,0)") * col("c") * col("c") -
              col("c")).cast("decimal(38,0)").as("ties"))
          .select(lit("rank_sum").as("metric"),
            col("n1").cast("long").as("n_a"),
            col("n2").cast("long").as("n_b"),
            expr("""CAST(((r1x2 - n1 * (n1 + 1) - n1 * n2)
                * (r1x2 - n1 * (n1 + 1) - n1 * n2)
                * 3 * (n1 + n2) * (n1 + n2 - 1) * 1000)
                div nullif(n1 * n2 *
                  ((n1 + n2 + 1) * (n1 + n2) * (n1 + n2 - 1) - ties), 0)
                AS BIGINT)""").as("stat_milli"))
        conv.unionByName(welch).unionByName(mw)
          .withColumn("significant_5pct",
            coalesce(col("stat_milli") >= 3842, lit(false)))
          .orderBy("metric")
      },
      Some(
        """WITH base AS (
          |  SELECT user_id, user_id % 2 AS arm, event_type, value
          |  FROM events WHERE user_id IS NOT NULL
          |), pu AS (
          |  SELECT arm,
          |    CASE WHEN count(CASE WHEN event_type = 'purchase' THEN 1
          |      END) >= 14 THEN 1 ELSE 0 END AS cv
          |  FROM base GROUP BY user_id, arm
          |), convm AS (
          |  SELECT CAST(count(CASE WHEN arm = 0 THEN 1 END) AS HUGEINT)
          |      AS na,
          |    CAST(count(CASE WHEN arm = 1 THEN 1 END) AS HUGEINT) AS nb,
          |    CAST(coalesce(sum(CASE WHEN arm = 0 THEN cv END), 0)
          |      AS HUGEINT) AS ca,
          |    CAST(coalesce(sum(CASE WHEN arm = 1 THEN cv END), 0)
          |      AS HUGEINT) AS cb
          |  FROM pu
          |), conv AS (
          |  SELECT 'conversion' AS metric, CAST(na AS BIGINT) AS n_a,
          |    CAST(nb AS BIGINT) AS n_b,
          |    CAST(((ca * nb - cb * na) * (ca * nb - cb * na)
          |        * (na + nb) * 1000)
          |      // nullif(na * nb * (ca + cb)
          |        * (na + nb - ca - cb), 0) AS BIGINT) AS stat_milli
          |  FROM convm
          |), vals AS (
          |  SELECT arm,
          |    CAST(round(CAST(value AS DOUBLE) * 1e6, 0) AS BIGINT) AS y
          |  FROM base WHERE value IS NOT NULL
          |), wm AS (
          |  SELECT
          |    CAST(count(CASE WHEN arm = 0 THEN 1 END) AS HUGEINT) AS na,
          |    CAST(count(CASE WHEN arm = 1 THEN 1 END) AS HUGEINT) AS nb,
          |    CAST(coalesce(sum(CASE WHEN arm = 0 THEN y END), 0)
          |      AS HUGEINT) AS sa,
          |    CAST(coalesce(sum(CASE WHEN arm = 1 THEN y END), 0)
          |      AS HUGEINT) AS sb,
          |    CAST(coalesce(sum(CASE WHEN arm = 0
          |      THEN CAST(y AS HUGEINT) * y END), 0) AS HUGEINT) AS qa,
          |    CAST(coalesce(sum(CASE WHEN arm = 1
          |      THEN CAST(y AS HUGEINT) * y END), 0) AS HUGEINT) AS qb
          |  FROM vals
          |), welch AS (
          |  SELECT 'mean_value' AS metric, CAST(na AS BIGINT) AS n_a,
          |    CAST(nb AS BIGINT) AS n_b,
          |    CAST(((sa // nullif(na, 0) - sb // nullif(nb, 0))
          |        * (sa // nullif(na, 0) - sb // nullif(nb, 0)) * 1000)
          |      // nullif(
          |        ((na * qa - sa * sa) // nullif(na * (na - 1), 0))
          |          // nullif(na, 0)
          |        + ((nb * qb - sb * sb) // nullif(nb * (nb - 1), 0))
          |          // nullif(nb, 0), 0) AS BIGINT) AS stat_milli
          |  FROM wm
          |), byv AS (
          |  SELECT y AS vi,
          |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS HUGEINT)
          |      AS c1,
          |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS HUGEINT)
          |      AS c2,
          |    CAST(count(*) AS HUGEINT) AS c
          |  FROM vals GROUP BY 1
          |), rr AS (
          |  SELECT c1, c2, c,
          |    2 * (sum(c) OVER (ORDER BY vi ROWS UNBOUNDED PRECEDING) - c)
          |      + c + 1 AS rank2
          |  FROM byv
          |), mm AS (
          |  SELECT sum(c1) AS n1, sum(c2) AS n2,
          |    sum(c1 * rank2) AS r1x2, sum(c * c * c - c) AS ties
          |  FROM rr
          |), mw AS (
          |  SELECT 'rank_sum' AS metric, CAST(n1 AS BIGINT) AS n_a,
          |    CAST(n2 AS BIGINT) AS n_b,
          |    CAST(((r1x2 - n1 * (n1 + 1) - n1 * n2)
          |        * (r1x2 - n1 * (n1 + 1) - n1 * n2)
          |        * 3 * (n1 + n2) * (n1 + n2 - 1) * 1000)
          |      // nullif(n1 * n2 *
          |        ((n1 + n2 + 1) * (n1 + n2) * (n1 + n2 - 1) - ties), 0)
          |      AS BIGINT) AS stat_milli
          |  FROM mm
          |), u AS (
          |  SELECT * FROM conv UNION ALL
          |  SELECT * FROM welch UNION ALL
          |  SELECT * FROM mw
          |)
          |SELECT metric, n_a, n_b, stat_milli,
          |  coalesce(stat_milli >= 3842, FALSE) AS significant_5pct
          |FROM u ORDER BY metric""".stripMargin)),

    // Forecast-quality eval: seasonal-naive (x̂_t = x_{t-7}) vs naive
    // (x̂_t = x_{t-1}) MAE on daily event counts per type — the
    // baseline pair every capacity/traffic forecasting system reports
    // before anything fancier earns its keep. Counts are integers, so
    // MAE is an exact rational emitted at micro scale by one
    // truncating division; seasonal_better is the cross-multiplied
    // integer compare of the two rationals (sum7·n1 < sum1·n7), no
    // float anywhere. Lag pairs form by equi-joins on (type, day−k)
    // over the days×types daily frame — calendar-gap days simply
    // produce no pair (the ev_autocorr_daily convention).
    Q(
      "ev_seasonal_naive_mae",
      (s, d) => {
        val daily = ev(s, d)
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .groupBy(col("event_type"),
            (epochS(col("ts")) / 86400L).cast("long").as("epoch_day"))
          .agg(count(lit(1)).as("x"))
        def lagged(k: Int) = daily.select(col("event_type"),
          (col("epoch_day") - k).as("epoch_day"), col("x").as("xh"))
        // absolute-error sums as DECIMAL(38,0): sae * 1e6 would wrap
        // 64-bit Long at ~9e12 total absolute error while the oracle's
        // HUGEINT stays exact (the silent-divergence class)
        def err(k: Int, tag: String) = daily
          .join(lagged(k), Seq("event_type", "epoch_day"))
          .groupBy("event_type")
          .agg(count(lit(1)).cast("decimal(19,0)").as(s"n$tag"),
            sum(abs(col("x") - col("xh"))).cast("decimal(38,0)")
              .as(s"sae$tag"))
        err(7, "7").join(err(1, "1"), "event_type")
          .select(col("event_type"),
            col("n7").cast("long").as("n7"),
            expr("CAST((sae7 * 1000000) div n7 AS BIGINT)")
              .as("mae7_micro"),
            col("n1").cast("long").as("n1"),
            expr("CAST((sae1 * 1000000) div n1 AS BIGINT)")
              .as("mae1_micro"),
            (col("sae7") * col("n1") < col("sae1") * col("n7"))
              .as("seasonal_better"))
          .orderBy("event_type")
      },
      Some(
        """WITH daily AS (
          |  SELECT event_type,
          |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS epoch_day,
          |    count(*) AS x
          |  FROM events
          |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
          |  GROUP BY 1, 2
          |), e7 AS (
          |  SELECT a.event_type, count(*) AS n7,
          |    sum(abs(a.x - b.x)) AS sae7
          |  FROM daily a JOIN daily b
          |    ON a.event_type = b.event_type
          |    AND b.epoch_day = a.epoch_day - 7
          |  GROUP BY 1
          |), e1 AS (
          |  SELECT a.event_type, count(*) AS n1,
          |    sum(abs(a.x - b.x)) AS sae1
          |  FROM daily a JOIN daily b
          |    ON a.event_type = b.event_type
          |    AND b.epoch_day = a.epoch_day - 1
          |  GROUP BY 1
          |)
          |SELECT e7.event_type, n7,
          |  CAST((sae7 * 1000000) // n7 AS BIGINT) AS mae7_micro,
          |  n1, CAST((sae1 * 1000000) // n1 AS BIGINT) AS mae1_micro,
          |  sae7 * n1 < sae1 * n7 AS seasonal_better
          |FROM e7 JOIN e1 USING (event_type)
          |ORDER BY event_type""".stripMargin)),

    // Exact interpolated percentiles (the reference has no percentile
    // surface at all — SURVEY §2.5 negative finding); Spark `percentile`
    // and DuckDB `quantile_cont` share the standard interpolation
    Q(
      "ev_value_percentiles",
      (s, d) =>
        ev(s, d).groupBy("event_type")
          .agg(
            round(expr("percentile(value, 0.5)"), 6).as("p50"),
            round(expr("percentile(value, 0.95)"), 6).as("p95"))
          .orderBy("event_type"),
      Some(
        """SELECT event_type,
          |  round(quantile_cont(value, 0.5), 6) AS p50,
          |  round(quantile_cont(value, 0.95), 6) AS p95
          |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // approx_percentile (KLL-style sketch) — the 100 TB path where the
    // sort-based exact `percentile` above stops scaling. The sketch
    // value is engine-specific, so the checkable contract is the RANK
    // error bound, checked in rank space: the returned value's rank
    // interval [n_lt+1, n_le] must overlap [q·n − (0.01·n + 1),
    // q·n + (0.01·n + 1)]. The first cut compared VALUES against the
    // interpolated [q−0.01, q+0.01] percentile envelope, which is
    // unsound for small tight groups — a 5-row group with ~0.01-spaced
    // values has NO member inside the interpolated p94..p96 window
    // (the sketch can only return members), which the round-8 edge
    // corpus's hi_pos/hi_neg types caught. The +1 element of slack
    // covers rank-convention boundaries; the sketch's own error at
    // accuracy 10000 is 1e-4·n, far inside the checked 0.01·n.
    Q(
      "ev_value_percentiles_approx",
      (s, d) => {
        val ap = ev(s, d).groupBy("event_type")
          .agg( // array form: ONE sketch pass for both quantiles
            expr("approx_percentile(value, array(0.5, 0.95), 10000)")
              .as("ap"))
          .select(col("event_type"),
            element_at(col("ap"), 1).as("ap50"),
            element_at(col("ap"), 2).as("ap95"))
        def inBounds(q: Double, lt: org.apache.spark.sql.Column,
            le: org.apache.spark.sql.Column,
            n: org.apache.spark.sql.Column) =
          coalesce(
            lt <= lit(q) * n + (lit(0.01) * n + 1) &&
              le >= lit(q) * n - (lit(0.01) * n + 1),
            lit(true)) // all-NULL group: NULL sketch, vacuous contract
        // null-SAFE join back to the sketch frame: ap groups by the
        // same key, but a plain equi-join would drop a NULL event_type
        // group (null keys never equi-join) while the oracle's GROUP BY
        // emits it — latent row-count divergence if a corpus ever
        // carries NULL event_type
        ev(s, d)
          .join(broadcast(ap.withColumnRenamed("event_type", "ap_et")),
            col("event_type") <=> col("ap_et"))
          .groupBy("event_type")
          .agg(count(col("value")).as("n"),
            count(when(col("value") < col("ap50"), 1)).as("lt50"),
            count(when(col("value") <= col("ap50"), 1)).as("le50"),
            count(when(col("value") < col("ap95"), 1)).as("lt95"),
            count(when(col("value") <= col("ap95"), 1)).as("le95"))
          .select(col("event_type"),
            inBounds(0.50, col("lt50"), col("le50"), col("n"))
              .as("p50_in_bounds"),
            inBounds(0.95, col("lt95"), col("le95"), col("n"))
              .as("p95_in_bounds"))
          .orderBy("event_type")
      },
      Some(
        """SELECT event_type, true AS p50_in_bounds, true AS p95_in_bounds
          |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // Winsorized (percentile-clipped) robust stats — the outlier
    // treatment a metrics/training-signal pipeline applies before
    // averaging heavy-tailed values: clip at the exact interpolated
    // [p05, p95] and report how much mass moved. Bounds round at 4 dp
    // so the DECIMAL(18,4) sum grid represents them EXACTLY (a 6-dp
    // bound would round again inside the decimal cast — a fresh
    // cross-engine boundary; a 4-dp-rounded double sits ~1e-13 from
    // its grid point, never at a cast tie). Clipped values are then
    // least/greatest SELECTIONS of carried doubles or that exact
    // bound, so both sums are order-independent decimal sums. Scale
    // shape: the bounds aggregate is the sort-based exact percentile
    // (its 100 TB sketch replacement is ev_value_percentiles_approx's
    // documented path), broadcast back as a |types|-row join; one
    // corpus scan + one partial-agg'd type shuffle after that.
    Q(
      "ev_value_winsorized",
      (s, d) => {
        val b = ev(s, d).filter(col("value").isNotNull)
          .groupBy("event_type")
          .agg(round(expr("percentile(value, 0.05)"), 4).as("p05"),
            round(expr("percentile(value, 0.95)"), 4).as("p95"))
        ev(s, d).filter(col("value").isNotNull)
          .join(broadcast(b), "event_type")
          .withColumn("w",
            least(greatest(col("value"), col("p05")), col("p95")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            max(col("p05")).as("p05"),
            max(col("p95")).as("p95"),
            count(when(col("value") < col("p05"), 1)).as("n_clip_low"),
            count(when(col("value") > col("p95"), 1)).as("n_clip_high"),
            dsum(col("value")).as("sum_raw"),
            dsum(col("w")).as("sum_winsor"))
          .orderBy("event_type")
      },
      Some(
        s"""WITH v AS (
           |  SELECT event_type, value FROM events WHERE value IS NOT NULL
           |), b AS (
           |  SELECT event_type,
           |    round(quantile_cont(value, 0.05), 4) AS p05,
           |    round(quantile_cont(value, 0.95), 4) AS p95
           |  FROM v GROUP BY 1
           |)
           |SELECT v.event_type, count(*) AS n, p05, p95,
           |  count(CASE WHEN value < p05 THEN 1 END) AS n_clip_low,
           |  count(CASE WHEN value > p95 THEN 1 END) AS n_clip_high,
           |  ${dsumSql("value")} AS sum_raw,
           |  ${dsumSql("least(greatest(value, p05), p95)")} AS sum_winsor
           |FROM v JOIN b USING (event_type)
           |GROUP BY v.event_type, p05, p95
           |ORDER BY event_type""".stripMargin)),

    // AS-OF join (an operator Spark lacks natively), expressed by
    // composing built-ins per the preference order: bounded range join
    // (same user, click within 1 h BEFORE the purchase) + row_number
    // keep-latest. The time bound keeps the range join's fan-out
    // proportional to events-per-hour-per-user, not the full history —
    // the same bound a custom as-of SparkPlan would exploit.
    Q(
      "ev_asof_join",
      (s, d) => {
        val e = ev(s, d)
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id"),
            col("ts").as("p_ts"))
        val clicks = e.filter(col("event_type") === "click")
          .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
            col("ts").as("c_ts"))
        graft.operators.AsOfJoin.asOf(purchases, clicks,
            leftKey = "user_id", rightKey = "c_user",
            leftId = "p_id", leftTs = "p_ts", rightTs = "c_ts",
            tolerance = "1 HOUR", rightTie = "c_id")
          .select(col("p_id"), col("user_id"), col("c_id"),
            epochS(col("p_ts")).as("p_ts_s"), epochS(col("c_ts")).as("c_ts_s"))
          .orderBy("p_id")
      },
      Some(
        """WITH ev_us AS (
          |  SELECT event_id, user_id, event_type,
          |         make_timestamp(epoch_us(ts)) AS ts
          |  FROM events),
          |p AS (
          |  SELECT event_id AS p_id, user_id, ts AS p_ts
          |  FROM ev_us WHERE event_type = 'purchase'),
          |c AS (
          |  SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts
          |  FROM ev_us WHERE event_type = 'click'),
          |j AS (
          |  SELECT p.p_id, p.user_id, c.c_id, p.p_ts, c.c_ts,
          |    row_number() OVER (PARTITION BY p.p_id
          |                       ORDER BY c.c_ts DESC, c.c_id) AS rn
          |  FROM p JOIN c
          |    ON p.user_id = c.c_user
          |   AND c.c_ts <= p.p_ts
          |   AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR)
          |SELECT p_id, user_id, c_id,
          |  CAST(floor(epoch(p_ts)) AS BIGINT) AS p_ts_s,
          |  CAST(floor(epoch(c_ts)) AS BIGINT) AS c_ts_s
          |FROM j WHERE rn = 1 ORDER BY p_id""".stripMargin)),

    // Pure range join (no equality key) via the banded RangeJoin
    // operator: overlapping value bands against the event stream. The
    // naive predicate would plan BroadcastNestedLoopJoin — O(n*m) when
    // both sides grow; banding turns it into a hash join on the band id
    // (RangeJoinSpec pins both the equivalence and the plan shapes).
    Q(
      "ev_value_range_join",
      (s, d) => {
        val bands = s.range(20).select(col("id").as("range_id"),
          (col("id") * lit(5)).cast("double").as("lo"),
          (col("id") * lit(5)).cast("double") + 7.5).toDF(
          "range_id", "lo", "hi")
        graft.operators.RangeJoin
          .bucketed(ev(s, d).select(col("value")), bands,
            "value", "lo", "hi", width = 5.0)
          .groupBy("range_id").agg(count(lit(1)).as("n"))
          .orderBy("range_id")
      },
      Some(
        """WITH bands AS (
          |  SELECT i AS range_id, i * 5.0 AS lo, i * 5.0 + 7.5 AS hi
          |  FROM range(20) r(i))
          |SELECT range_id, count(*) AS n
          |FROM events e JOIN bands b ON e.value >= b.lo AND e.value <= b.hi
          |GROUP BY 1 ORDER BY range_id""".stripMargin)),

    // Exact distinct (oracle-checkable twin of the approx query below)
    Q(
      "ev_distinct_users",
      (s, d) =>
        ev(s, d).agg(countDistinct(col("user_id")).as("n_users")),
      Some("SELECT count(DISTINCT user_id) AS n_users FROM events")),

    // approx_count_distinct: the HLL estimate itself is engine-specific,
    // so the checkable contract is the ERROR BOUND — emit the exact twin
    // plus a boolean pinning |approx-exact|/exact <= 5%, which the
    // oracle can hash-match instead of a rows-only pass. The sketch runs
    // at rsd=0.01 (one standard deviation = 1%), giving the 5σ headroom
    // the boolean needs to hold at EVERY scale factor — at the default
    // rsd=0.05 the bound is a coin flip (observed failing at sf0.1).
    // Shape: pre-aggregate to distinct user_ids (partial-agg'd, one
    // shuffle), then count + ONE HLL over the distinct set — mixing
    // countDistinct with another aggregate in one agg plans an Expand
    // (row duplication) that cost 5 s at sf0.1 for a 0.2 s question.
    Q(
      "ev_approx_distinct_users",
      (s, d) =>
        ev(s, d)
          // NULL user_ids must not count as a distinct user: the oracle's
          // count(DISTINCT …) and approx_count_distinct both skip NULLs,
          // but the count(lit(1)) over the distinct set below would not.
          .filter(col("user_id").isNotNull)
          .select("user_id").distinct()
          .agg(
            count(lit(1)).as("n_exact"),
            approx_count_distinct(col("user_id"), 0.01).as("approx"))
          .select(col("n_exact"),
            (abs(col("approx") - col("n_exact")).cast("double") /
              col("n_exact") <= 0.05).as("within_5pct")),
      Some(
        """SELECT count(DISTINCT user_id) AS n_exact, true AS within_5pct
          |FROM events""".stripMargin)),

    // Count-min sketch point lookups: like the HLL/quantile/Bloom
    // sketches, the sketch content is engine-specific, so the checkable
    // contract is the pair of CMS guarantees per key: estimate >= exact
    // (one-sided error, always true) and estimate <= exact + eps*N
    // (holds with prob >= confidence; deterministic here under the fixed
    // seed, and comfortably true — width 2/eps = 2000 cells vs a handful
    // of distinct event types). Scale shape: the sketch is a mergeable
    // partial aggregate (per-partition sketches combine associatively —
    // the same one-pass/one-shuffle shape as the exact agg), the driver
    // holds only the w*d counter grid, and the probe side is O(#distinct
    // types). N comes from the sketch's own totalCount — no extra scan.
    Q(
      "ev_count_min",
      (s, d) => {
        val eps = 0.001
        val e = ev(s, d).filter(col("event_type").isNotNull)
        val skBytes = e
          .agg(count_min_sketch(col("event_type"),
            lit(eps), lit(0.99), lit(42)).as("sk"))
          .collect()(0).getAs[Array[Byte]]("sk")
        val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(skBytes))
        val bound = eps * cms.totalCount()
        val exact = e.groupBy("event_type").agg(count(lit(1)).as("n_exact"))
          .collect().toSeq
        import scala.jdk.CollectionConverters._
        val out = exact.map { r =>
          val t = r.getString(0); val n = r.getLong(1)
          val est = cms.estimateCount(t)
          org.apache.spark.sql.Row(t, n, est >= n, est <= n + bound)
        }
        s.createDataFrame(out.asJava, org.apache.spark.sql.types.StructType(
          Seq(
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n_exact",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("lower_ok",
              org.apache.spark.sql.types.BooleanType),
            org.apache.spark.sql.types.StructField("upper_ok",
              org.apache.spark.sql.types.BooleanType))))
          .orderBy("event_type")
      },
      Some(
        """SELECT event_type, count(*) AS n_exact,
          |  TRUE AS lower_ok, TRUE AS upper_ok
          |FROM events WHERE event_type IS NOT NULL
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // C7: timestamp display formatting (streamlit_app.py:157,164)
    Q(
      "ev_time_format",
      (s, d) =>
        ev(s, d)
          .filter(col("event_id") < 50)
          .select(col("event_id"),
            date_format(col("ts"), "HH:mm:ss").as("hms"))
          .orderBy("event_id"),
      Some(
        """SELECT event_id, strftime(ts, '%H:%M:%S') AS hms
          |FROM events WHERE event_id < 50 ORDER BY event_id""".stripMargin)),

    // Session windows (30-min gap) via Spark's native session_window;
    // DuckDB twin = classic gaps-and-islands over lag(). Spark's session
    // state is a built-in stateful op in streaming and a single shuffle
    // on user_id in batch — no custom operator needed.
    Q(
      "ev_sessionize",
      (s, d) =>
        // ts IS NOT NULL pinned both sides: Spark's session_window
        // silently drops null-ts rows while the oracle's lag chain
        // would rank them nulls-last (a session can't start at an
        // unknown time — stated, not engine-defaulted)
        ev(s, d)
          .filter(col("ts").isNotNull)
          .groupBy(col("user_id"),
            session_window(col("ts"), "30 minutes").as("w"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"), epochS(col("w.start")).as("session_start_s"),
            col("n_events"))
          .orderBy("user_id", "session_start_s"),
      Some(
        """WITH ev_us AS (
          |  -- truncate to MICROseconds first: Spark reads the nano
          |  -- timestamps micro-truncated, so gap/order math must match
          |  SELECT event_id, user_id, make_timestamp(epoch_us(ts)) AS ts
          |  FROM events WHERE ts IS NOT NULL),
          |o AS (
          |  SELECT user_id, ts,
          |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
          |  FROM ev_us),
          |flagged AS (
          |  SELECT user_id, ts,
          |    -- strict > : probed empirically — Spark's session_window
          |    -- MERGES two events exactly gap-duration apart (an event at
          |    -- the previous window's end extends the session)
          |    CASE WHEN prev_ts IS NULL
          |           OR ts - prev_ts > INTERVAL '30 minutes' THEN 1
          |         ELSE 0 END AS new_session
          |  FROM o),
          |ids AS (
          |  SELECT user_id, ts,
          |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          |  FROM flagged)
          |SELECT user_id,
          |  CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_s,
          |  count(*) AS n_events
          |FROM ids GROUP BY user_id, sid
          |ORDER BY user_id, session_start_s""".stripMargin)),

    // USER-ACTIVITY CONCENTRATION — the Pareto profile behind every
    // per-user partitioning decision (and the skew forecast for
    // user-keyed shuffles): per power-of-two activity band
    // (bucket = ⌊log2 events⌋ via the dyadic bin-length trick — pure
    // integer, no float log), how many users sit there and what share
    // of ALL events they carry. A heavy top band is the advance
    // warning for the salting/AQE-skew machinery ev_salted_agg and
    // ev_skew_split_join exercise. One partial-agg'd per-user count,
    // then a ≤64-bucket rollup crossed with the 1-row total.
    Q(
      "ev_user_activity_pareto",
      (s, d) => {
        val perUser = ev(s, d)
          .filter(col("user_id").isNotNull)
          .groupBy("user_id").agg(count(lit(1)).as("n"))
        val tot = perUser.agg(
          coalesce(sum(col("n")), lit(0L)).cast("long").as("total"))
        perUser
          .withColumn("bucket", (length(bin(col("n"))) - 1).cast("int"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_users"),
            sum(col("n")).cast("long").as("n_events"))
          .crossJoin(broadcast(tot))
          .select(col("bucket"), col("n_users"), col("n_events"),
            when(col("total") === 0, lit(null).cast("double"))
              .otherwise(round(
                col("n_events").cast("double") / col("total"), 6))
              .as("event_share"))
          .orderBy("bucket")
      },
      Some(
        """WITH pu AS (
          |  SELECT user_id, count(*) AS n FROM events
          |  WHERE user_id IS NOT NULL GROUP BY 1
          |), tot AS (
          |  SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS total FROM pu
          |), b AS (
          |  SELECT CAST(length(bin(n)) - 1 AS INT) AS bucket,
          |    count(*) AS n_users, CAST(sum(n) AS BIGINT) AS n_events
          |  FROM pu GROUP BY 1
          |)
          |SELECT b.bucket, b.n_users, b.n_events,
          |  CASE WHEN tot.total = 0 THEN NULL
          |    ELSE round(CAST(b.n_events AS DOUBLE) / tot.total, 6) END
          |    AS event_share
          |FROM b CROSS JOIN tot ORDER BY bucket""".stripMargin)),

    // DAU/WAU STICKINESS — the engagement ratio product analytics
    // tracks daily (what share of the weekly audience shows up on a
    // given day). Exact, and shaped for scale WITHOUT a rolling
    // window over the corpus: the corpus reduces once to distinct
    // (epoch-day, user) pairs; each pair then contributes to the 7
    // trailing days it keeps the user "weekly-active" for via a
    // 7-element sequence explode (an EQUI-shuffle on day — never a
    // range self-join, never a global window); the inner join back to
    // observed days drops the ghost days past the data's edge. Day is
    // the integer epoch-day (ev_new_users_curve's convention), immune
    // to date/tz divergence.
    Q(
      "ev_stickiness",
      (s, d) => {
        val du = ev(s, d)
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(expr("CAST(ts AS LONG) div 86400").as("day"),
            col("user_id"))
          .distinct()
        val dau = du.groupBy("day").agg(count(lit(1)).as("dau"))
        val wau = du
          .select(explode(sequence(col("day"), col("day") + 6))
            .as("day"), col("user_id"))
          .groupBy("day")
          .agg(countDistinct(col("user_id")).as("wau"))
        dau.join(wau, "day")
          .select(col("day"), col("dau"), col("wau"),
            round(col("dau").cast("double") / col("wau"), 6)
              .as("stickiness"))
          .orderBy("day")
      },
      Some(
        """WITH du AS (
          |  SELECT DISTINCT
          |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
          |    user_id
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
          |), dau AS (
          |  SELECT day, count(*) AS dau FROM du GROUP BY 1
          |), contrib AS (
          |  SELECT du.day + i AS day, du.user_id
          |  FROM du CROSS JOIN range(0, 7) r(i)
          |), wau AS (
          |  SELECT day, count(DISTINCT user_id) AS wau
          |  FROM contrib GROUP BY 1
          |)
          |SELECT dau.day, CAST(dau.dau AS BIGINT) AS dau,
          |  CAST(wau.wau AS BIGINT) AS wau,
          |  round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
          |FROM dau JOIN wau USING (day)
          |ORDER BY day""".stripMargin)),

    // SESSION-TIMEOUT CALIBRATION SWEEP — the curve behind the 30-minute
    // constant ev_sessionize hard-codes: for each candidate gap (5 min /
    // 30 min / 60 min), the session count, and events-per-session the
    // corpus would yield. n_sessions(gap) = Σ_user (first event + gaps
    // strictly over the threshold) — the same strict-> convention
    // session_window's merge behavior forces on the oracle above, in
    // exact integer microseconds. ONE per-user lag window pass computes
    // the deltas; every gap is then just a predicate over the same
    // delta column inside ONE global aggregate (never a per-gap
    // re-scan), stacked to 3 rows.
    Q(
      "ev_session_gap_sweep",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        // ts IS NOT NULL pinned in BOTH engines: Spark windows order
        // ASC nulls-FIRST, DuckDB nulls-LAST, so a null-ts event mixed
        // into a user's frame would shift lag adjacency differently
        // cross-engine (a session can't start at an unknown time anyway)
        val d0 = ev(s, d).filter(col("ts").isNotNull)
          .withColumn("cur_us", expr("unix_micros(ts)"))
          .withColumn("prev_us", lag(col("cur_us"), 1).over(w))
        def starts(gapS: Long) =
          sum(when(col("prev_us").isNull ||
            col("cur_us") - col("prev_us") > gapS * 1000000L, 1L)
            .otherwise(0L)).cast("long")
        d0.agg(count(lit(1)).cast("long").as("n_events"),
          starts(300L).as("s0"), starts(1800L).as("s1"),
          starts(3600L).as("s2"))
          .selectExpr(
            """stack(3,
              |  300,  s0, n_events,
              |  1800, s1, n_events,
              |  3600, s2, n_events)
              |AS (gap_s, n_sessions, n_events)""".stripMargin)
          .select(col("gap_s"), col("n_sessions"), col("n_events"),
            when(col("n_sessions") === 0, lit(null).cast("double"))
              .otherwise(round(col("n_events").cast("double") /
                col("n_sessions"), 6)).as("events_per_session"))
          .orderBy("gap_s")
      },
      Some(
        """WITH ev_us AS (
          |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events
          |  WHERE ts IS NOT NULL
          |), o AS (
          |  SELECT user_id, us,
          |    lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
          |      AS prev_us
          |  FROM ev_us
          |), a AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_events,
          |    CAST(coalesce(sum(CASE WHEN prev_us IS NULL
          |      OR us - prev_us > 300000000 THEN 1 END), 0) AS BIGINT)
          |      AS s0,
          |    CAST(coalesce(sum(CASE WHEN prev_us IS NULL
          |      OR us - prev_us > 1800000000 THEN 1 END), 0) AS BIGINT)
          |      AS s1,
          |    CAST(coalesce(sum(CASE WHEN prev_us IS NULL
          |      OR us - prev_us > 3600000000 THEN 1 END), 0) AS BIGINT)
          |      AS s2
          |  FROM o
          |)
          |SELECT CAST(gap_s AS INT) AS gap_s, n_sessions, n_events,
          |  CASE WHEN n_sessions = 0 THEN NULL
          |    ELSE round(CAST(n_events AS DOUBLE) / n_sessions, 6) END
          |    AS events_per_session
          |FROM (
          |  SELECT 300 AS gap_s, s0 AS n_sessions, n_events FROM a
          |  UNION ALL SELECT 1800, s1, n_events FROM a
          |  UNION ALL SELECT 3600, s2, n_events FROM a)
          |ORDER BY gap_s""".stripMargin)),

    // First-order Markov transition matrix over per-user event sequences
    // — the user-journey summary behind "what do users do after a
    // click?". lead() within the user_id partition (one shuffle, the
    // same user_id partitioning every sequence query reuses), then a
    // count per (from, to) pair — at 100 TB the transition matrix is
    // |event_type|² rows regardless of corpus size, so the second agg
    // shuffles almost nothing. Ordering ties are resolved by event_id on
    // BOTH engines at MICROsecond timestamps (Spark reads the nano
    // parquet micro-truncated; DuckDB must truncate before ordering or
    // sub-micro neighbors could swap).
    Q(
      "ev_transition_matrix",
      (s, d) => transitions(s, d, dropNullTypes = false)
        .orderBy("from_type", "to_type"),
      Some(
        s"""WITH ${transitionsSqlCtes(dropNullTypes = false)}
           |SELECT from_type, to_type, n FROM edges
           |ORDER BY from_type, to_type""".stripMargin)),

    // Windowed anomaly detection: tumbling 5-min event counts flagged
    // when they exceed mean + 3 sigma (sample stddev) over all windows.
    // The 3-sigma test is evaluated as a cross-multiplied INTEGER
    // comparison — (nW − S)²(W−1) > 9·W(W·SS − S²) with S=Σn, SS=Σn²,
    // W=#windows — so both engines decide each flag exactly, with no
    // float sqrt/division at the boundary. DECIMAL(38,0)/HUGEINT keeps
    // the squared terms exact far past any realistic corpus (n up to
    // ~1e12 events/window stays inside 38 digits). Shape at scale: one
    // scan → partial-agg'd bucket counts, a 3-number global stat
    // broadcast back over the bucket rows — the corpus never shuffles
    // twice, and the flag evaluation is a narrow map.
    Q(
      "ev_anomaly_windows",
      (s, d) => {
        // ts IS NOT NULL pinned both sides (the ev_tumbling_5min note)
        val buckets = ev(s, d)
          .filter(col("ts").isNotNull)
          .groupBy(window(col("ts"), "5 minutes").as("w"))
          .agg(count(lit(1)).as("n"))
          .select(epochS(col("w.start")).as("bucket_s"),
            col("n").cast("decimal(38,0)").as("n"))
        val stats = buckets.agg(
          count(lit(1)).cast("decimal(38,0)").as("w_cnt"),
          sum(col("n")).cast("decimal(38,0)").as("s"),
          sum(col("n") * col("n")).cast("decimal(38,0)").as("ss"))
        buckets.crossJoin(broadcast(stats))
          .select(col("bucket_s"), col("n").cast("long").as("n"),
            ((col("n") * col("w_cnt") - col("s")) *
              (col("n") * col("w_cnt") - col("s")) *
              (col("w_cnt") - lit(1)) >
              lit(9) * col("w_cnt") *
                (col("w_cnt") * col("ss") - col("s") * col("s")))
              .as("is_anomaly"))
          .orderBy("bucket_s")
      },
      Some(
        """WITH b AS (
          |  SELECT CAST(floor(epoch(time_bucket(INTERVAL '5 minutes', ts)))
          |      AS BIGINT) AS bucket_s,
          |    CAST(count(*) AS HUGEINT) AS n
          |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
          |st AS (
          |  SELECT CAST(count(*) AS HUGEINT) AS w_cnt,
          |    CAST(sum(n) AS HUGEINT) AS s,
          |    CAST(sum(n * n) AS HUGEINT) AS ss
          |  FROM b)
          |SELECT bucket_s, CAST(n AS BIGINT) AS n,
          |  (n * w_cnt - s) * (n * w_cnt - s) * (w_cnt - 1)
          |    > 9 * w_cnt * (w_cnt * ss - s * s) AS is_anomaly
          |FROM b CROSS JOIN st ORDER BY bucket_s""".stripMargin)),

    // User-lifetime distribution: users bucketed by ACTIVE DAYS with
    // event volume and the longest first-to-last span per bucket — the
    // engagement-depth profile behind retention analysis. The
    // active-day count deliberately avoids the countDistinct-plus-
    // aggregates Expand (the doc_profile lesson): a (user_id, day)
    // pre-aggregate feeds a user_id rollup — two partial-agg'd shuffles
    // on progressively coarser keys, all-integer outputs.
    Q(
      "ev_user_lifetime_stats",
      (s, d) => {
        val byDay = ev(s, d)
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .groupBy(col("user_id"),
            expr("CAST(ts AS LONG) div 86400").as("day"))
          .agg(count(lit(1)).as("n"),
            epochS(min(col("ts"))).as("f"), epochS(max(col("ts"))).as("l"))
        val perUser = byDay.groupBy("user_id")
          .agg(count(lit(1)).as("active_days"),
            sum(col("n")).cast("long").as("n_events"),
            min(col("f")).as("first_s"), max(col("l")).as("last_s"))
        perUser.groupBy("active_days")
          .agg(count(lit(1)).as("n_users"),
            sum(col("n_events")).cast("long").as("sum_events"),
            max(col("last_s") - col("first_s")).as("max_span_s"))
          .orderBy("active_days")
      },
      Some(
        """WITH by_day AS (
          |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
          |    count(*) AS n,
          |    CAST(floor(epoch(min(ts))) AS BIGINT) AS f,
          |    CAST(floor(epoch(max(ts))) AS BIGINT) AS l
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
          |  GROUP BY 1, 2),
          |per_user AS (
          |  SELECT user_id, count(*) AS active_days,
          |    CAST(sum(n) AS BIGINT) AS n_events,
          |    min(f) AS first_s, max(l) AS last_s
          |  FROM by_day GROUP BY 1)
          |SELECT active_days, count(*) AS n_users,
          |  CAST(sum(n_events) AS BIGINT) AS sum_events,
          |  max(last_s - first_s) AS max_span_s
          |FROM per_user GROUP BY 1 ORDER BY active_days""".stripMargin)),

    // PageRank over the event-type transition graph (weighted, damping
    // 0.85, 3 power iterations) — the PageRank-style quality weighting a
    // corpus-curation pipeline applies to a link graph, demonstrated on
    // the graph this schema actually carries. All arithmetic is INTEGER:
    // ranks live on a 1e9 fixed-point scale and every division is a
    // floor div of positives (Spark `div` == DuckDB `//`), so the three
    // iterations are bit-exact across engines — float PageRank would
    // diverge in the sum order. Scale shape: ONE corpus scan builds the
    // edge list (the transition-matrix lineage — |types|² rows at any
    // corpus size); each iteration is then a join over the tiny
    // node/edge frames, independent of corpus size. Rank mass leaked by
    // dangling nodes (no out-edges) is not redistributed — identical on
    // both engines, standard simplification. At web-graph edge counts
    // the BIGINT products would move to DECIMAL(38,0) (the
    // ev_anomaly_windows pattern); the plan shape is unchanged.
    Q(
      "ev_pagerank",
      (s, d) => {
        val S = PrScale
        // edge list + node set are |types|-bounded: persist them (via
        // the releasable CacheRegistry) so the three iterations join
        // materialized rows — without this every iteration would
        // re-scan the corpus through the window lineage
        val edges = graft.CacheRegistry.memo("ev_pr_edges", s, d)(
          graft.CacheRegistry.track(s,
            transitions(s, d, dropNullTypes = true)))
        val nodes = graft.CacheRegistry.memo("ev_pr_nodes", s, d)(
          graft.CacheRegistry.track(s, ev(s, d)
            .filter(col("event_type").isNotNull)
            .select(col("event_type").as("node")).distinct()))
        // The 3 integer iterations run DRIVER-SIDE over the collected
        // |types|-bounded edge list (r13) — the MMR precedent
        // (PlanSpec: "greedy recurrence is driver-side; result is a
        // bounded local relation"): event types are a bounded
        // vocabulary at any corpus size, so edges are |types|^2 rows
        // and the collect is the documented bounded-frame exception.
        // The former per-iteration join/agg chain paid ~8 exchanges of
        // 32 near-empty tasks each per step. Same arithmetic as the
        // oracle: all values non-negative, so Scala's truncating Long
        // division equals Spark's `div` and DuckDB's `//` here; the
        // per-node contribution sum accumulates in ascending
        // (from_type, to_type) order for determinism (Long addition is
        // associative anyway — order is belt and braces).
        val em = edges
          .join(edges.groupBy("from_type").agg(sum(col("n")).as("outn")),
            "from_type")
          .select("from_type", "to_type", "n", "outn")
          .collect()
          .map(r0 => (r0.getString(0), r0.getString(1), r0.getLong(2),
            r0.getLong(3)))
          .sortBy(t => (t._1, t._2))
        val ns = nodes.collect().map(_.getString(0)).sorted
        val nCnt = ns.length.toLong
        var rank: Map[String, Long] =
          ns.iterator.map(_ -> S / nCnt).toMap
        for (_ <- 1 to 3) {
          val contrib =
            scala.collection.mutable.LinkedHashMap.empty[String, Long]
          em.foreach { case (from, to, n, outn) =>
            contrib(to) =
              contrib.getOrElse(to, 0L) + (rank(from) * n) / outn
          }
          rank = ns.iterator.map(n0 =>
            n0 -> (PrTele / nCnt +
              contrib.getOrElse(n0, 0L) * 85 / 100)).toMap
        }
        import s.implicits._
        ns.toSeq.map(n0 => (n0, rank(n0))).toDF("node", "r")
          .orderBy("node")
      },
      Some {
        val S = PrScale
        def it(prev: String, name: String): String =
          s"""$name AS (
             |  SELECT n.node,
             |    $PrTele // c.n_cnt
             |      + (coalesce(s.contrib, 0) * 85) // 100 AS r
             |  FROM nodes n CROSS JOIN cnt c
             |  LEFT JOIN (
             |    SELECT e.to_type AS node,
             |      CAST(sum((r.r * e.n) // w.outn) AS BIGINT) AS contrib
             |    FROM edges e
             |    JOIN outw w ON w.from_type = e.from_type
             |    JOIN $prev r ON r.node = e.from_type
             |    GROUP BY 1) s ON s.node = n.node
             |)""".stripMargin
        s"""WITH ${transitionsSqlCtes(dropNullTypes = true)},
           |nodes AS (
           |  SELECT DISTINCT event_type AS node FROM events
           |  WHERE event_type IS NOT NULL),
           |cnt AS (SELECT count(*) AS n_cnt FROM nodes),
           |outw AS (SELECT from_type, sum(n) AS outn FROM edges GROUP BY 1),
           |r0 AS (SELECT node, $S // c.n_cnt AS r FROM nodes CROSS JOIN cnt c),
           |${it("r0", "it1")},
           |${it("it1", "it2")},
           |${it("it2", "it3")}
           |SELECT node, CAST(r AS BIGINT) AS r FROM it3 ORDER BY node""".stripMargin
      }),

    // percent_rank/cume_dist-style distribution position, emitted as
    // EXACT rationals (rank-1, n-1) instead of the float the built-ins
    // return — (rank-1)/(n-1) IS percent_rank, and the division is the
    // only engine-divergent step, so it stays unevaluated. The ordering
    // key (value, event_id) is collision-free, making row_number
    // deterministic cross-engine where rank/dense_rank over raw doubles
    // would hinge on tie semantics. One shuffle on event_type + an
    // in-partition sort — the same cost envelope as any ranking window;
    // the % 199 probe keeps the OUTPUT bounded while every row still
    // pays its ranking (the realistic monitoring shape: sample the
    // positions, not the sort). top_decile is the cross-multiplied
    // integer form of percent_rank >= 0.9.
    Q(
      "ev_percent_rank",
      (s, d) => {
        val w = Window.partitionBy("event_type")
          .orderBy(col("value"), col("event_id"))
        ev(s, d)
          .filter(col("event_type").isNotNull && col("value").isNotNull)
          .withColumn("rk", row_number().over(w))
          .withColumn("n",
            count(lit(1)).over(Window.partitionBy("event_type")))
          .filter(col("event_id") % 199 === 0)
          .select(col("event_id"), col("event_type"),
            (col("rk") - 1).cast("long").as("pr_num"),
            (col("n") - 1).cast("long").as("pr_den"),
            ((col("rk") - 1) * 10L >= (col("n") - 1) * 9L).as("top_decile"))
          .orderBy("event_id")
      },
      Some(
        """WITH r AS (
          |  SELECT event_id, event_type,
          |    CAST(row_number() OVER (PARTITION BY event_type
          |      ORDER BY value, event_id) AS BIGINT) - 1 AS pr_num,
          |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) - 1
          |      AS pr_den
          |  FROM events
          |  WHERE event_type IS NOT NULL AND value IS NOT NULL
          |)
          |SELECT event_id, event_type, pr_num, pr_den,
          |  pr_num * 10 >= pr_den * 9 AS top_decile
          |FROM r WHERE event_id % 199 = 0 ORDER BY event_id""".stripMargin))
    ,

    // Time-series gap fill + forward fill (resample-to-hourly): the
    // dashboard/feature-store shape — a dense per-user hourly spine
    // over each user's own active span, observed hours carry
    // max(value), silent hours carry the last observation forward.
    // Exactness: the hour key is integer DIV of epoch seconds, the
    // carried value is max() + last_value(IGNORE NULLS) — comparisons
    // and carries only, no arithmetic on doubles, so both engines emit
    // bit-identical values. Scale shape: the corpus-sized work is one
    // partial-agg'd (user, hour) shuffle; the spine explodes
    // sequence(h0, h1) from the per-user span aggregate (rows ∝ active
    // span, independent of event volume) and the fill is one
    // in-partition ordered window per user — repartitionByRange on
    // user would make it write-path friendly. The % 50 probe bounds
    // the audited user set the same way ev_percent_rank's probe does.
    Q(
      "ev_gap_fill",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("h")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val hourly = ev(s, d)
          .filter(col("user_id").isNotNull && col("ts").isNotNull &&
            col("user_id") % 50 === 0)
          .select(col("user_id"), epochS(col("ts")).as("es"), col("value"))
          .groupBy(col("user_id"), expr("es DIV 3600").as("h"))
          .agg(max(col("value")).as("v"))
        val spine = hourly.groupBy("user_id")
          .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
          .select(col("user_id"),
            explode(sequence(col("h0"), col("h1"))).as("h"))
        spine.join(hourly, Seq("user_id", "h"), "left")
          .select(col("user_id"), col("h"),
            col("v").isNotNull.as("observed"),
            last(col("v"), ignoreNulls = true).over(w).as("v_fill"))
          .orderBy("user_id", "h")
      },
      Some(
        """WITH hourly AS (
          |  SELECT user_id,
          |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
          |    max(value) AS v
          |  FROM events
          |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
          |    AND user_id % 50 = 0
          |  GROUP BY 1, 2
          |), spine AS (
          |  SELECT user_id, unnest(range(h0, h1 + 1)) AS h
          |  FROM (SELECT user_id, min(h) AS h0, max(h) AS h1
          |        FROM hourly GROUP BY 1)
          |)
          |SELECT s.user_id, s.h, v IS NOT NULL AS observed,
          |  last_value(v IGNORE NULLS) OVER (
          |    PARTITION BY s.user_id ORDER BY s.h
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill
          |FROM spine s LEFT JOIN hourly USING (user_id, h)
          |ORDER BY user_id, h""".stripMargin))
    ,

    // Mergeable-sketch partial aggregation — THE 100 TB distinct-count
    // pattern: per-day HLL sketches (what a daily ingest job would
    // persist next to its partition) union-merged into the period-wide
    // estimate, so the monthly rollup touches |days| sketch blobs, not
    // the raw corpus. Two oracle-checkable invariants ride along:
    //  - merge associativity: HLL union is register-wise max, so the
    //    merged per-day sketches estimate EXACTLY equals the single
    //    global sketch built in one pass (same lgK, same hash) —
    //    the property that makes the sketch re-aggregable at all;
    //  - the 5 % accuracy bound vs the exact distinct count (computed
    //    expand-free via a two-level distinct-then-count agg), with
    //    lgK=12's ~1.6 % RSE giving the bound 3σ headroom at any sf.
    // The estimates themselves are datasketches-internal, so the hash
    // compare carries the exact count + the two booleans.
    Q(
      "ev_hll_partial_merge",
      (s, d) => {
        val e = ev(s, d).filter(col("user_id").isNotNull)
          .select(col("user_id"), epochS(col("ts")).as("es"))
        val daily = e.groupBy(expr("es DIV 86400").as("day"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
        val merged = daily
          .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
            .as("est_merged"))
        val single = e
          .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
            .as("est_single"))
        val exact = e.select("user_id").distinct()
          .agg(count(lit(1)).as("n_exact"))
        exact.crossJoin(merged).crossJoin(single)
          .select(col("n_exact"),
            (col("est_merged") === col("est_single"))
              .as("merge_equals_single"),
            (abs(col("est_merged") - col("n_exact")) * 20L <=
              col("n_exact")).as("within_5pct"))
      },
      Some(
        """SELECT count(*) AS n_exact,
          |  TRUE AS merge_equals_single,
          |  TRUE AS within_5pct
          |FROM (SELECT DISTINCT user_id FROM events
          |      WHERE user_id IS NOT NULL)""".stripMargin))
    ,

    // Distinct users per tumbling hour — the DAU/WAU shape. Planned as
    // a TWO-LEVEL agg: distinct (bucket, user) partial-agg'd first,
    // then counted per bucket — never countDistinct-inside-groupBy,
    // whose per-group hash sets resist map-side combine (and whose
    // multi-agg form Expands). Both shuffles partial-aggregate; at
    // 100 TB the first level is also exactly the pre-aggregation a
    // daily HLL sketch job would replace (see ev_hll_partial_merge for
    // that trade).
    Q(
      "ev_window_distinct_users",
      (s, d) =>
        // ts IS NOT NULL pinned both sides (the ev_tumbling_5min note)
        ev(s, d)
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(window(col("ts"), "1 hour").as("w"), col("user_id"))
          .select(epochS(col("w.start")).as("bucket_s"), col("user_id"))
          .distinct()
          .groupBy("bucket_s")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("bucket_s"),
      Some(
        """SELECT
          |  CAST(floor(epoch(time_bucket(INTERVAL '1 hour', ts))) AS BIGINT)
          |    AS bucket_s,
          |  count(DISTINCT user_id) AS n_users
          |FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
          |GROUP BY 1 ORDER BY bucket_s""".stripMargin)),

    // Triangle counting over the undirected event-type transition
    // graph — the graph-analytics step beyond per-node (PageRank) and
    // per-component (ConnectedComponents) measures: triangles are the
    // building block of clustering coefficients / community density.
    // Edges come from the SAME shared transition builder as
    // ev_transition_matrix/ev_pagerank (one definition, no drift),
    // normalized to u < v; the classic a<b<c three-way self-join then
    // counts each triangle exactly once. The corpus-sized work is the
    // one transition shuffle; the joins run on the |types|²-bounded
    // edge list. At real graph scale the same query orders vertices by
    // degree instead of id (the standard compact-join trick) — shape
    // unchanged.
    Q(
      "ev_triangle_count",
      (s, d) => {
        val edges = transitions(s, d, dropNullTypes = true)
          .select(least(col("from_type"), col("to_type")).as("u"),
            greatest(col("from_type"), col("to_type")).as("v"))
          .filter(col("u") =!= col("v"))
          .distinct()
        val e1 = edges.select(col("u").as("a"), col("v").as("b"))
        val e2 = edges.select(col("u").as("b"), col("v").as("c"))
        val e3 = edges.select(col("u").as("a"), col("v").as("c"))
        e1.join(e2, "b").join(e3, Seq("a", "c"))
          .select(col("a"), col("b"), col("c"))
          .orderBy("a", "b", "c")
      },
      Some(
        s"""WITH ${transitionsSqlCtes(dropNullTypes = true)},
           |uedges AS (
           |  SELECT DISTINCT least(from_type, to_type) AS u,
           |    greatest(from_type, to_type) AS v
           |  FROM edges WHERE from_type <> to_type
           |)
           |SELECT e1.u AS a, e1.v AS b, e2.v AS c
           |FROM uedges e1
           |JOIN uedges e2 ON e2.u = e1.v
           |JOIN uedges e3 ON e3.u = e1.u AND e3.v = e2.v
           |ORDER BY a, b, c""".stripMargin)),

    // Local clustering coefficient per node of the same undirected
    // transition graph: cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)),
    // emitted as the EXACT rational (cc_num, cc_den) — the
    // ev_percent_rank convention — because the division is the only
    // engine-divergent step. Triangle membership comes from exploding
    // the a<b<c triangle list (each triangle credits all 3 corners);
    // degree from exploding the edge list. Scale: corpus-sized work is
    // the one shared transition shuffle (same lineage as
    // ev_triangle_count / ev_pagerank); everything downstream runs on
    // the |types|²-bounded edge list. Isolated-by-filter nodes with
    // deg < 2 emit cc_den = 0 (coefficient undefined) rather than
    // being dropped — the honest monitoring output.
    Q(
      "ev_clustering_coeff",
      (s, d) => {
        val edges = transitions(s, d, dropNullTypes = true)
          .select(least(col("from_type"), col("to_type")).as("u"),
            greatest(col("from_type"), col("to_type")).as("v"))
          .filter(col("u") =!= col("v"))
          .distinct()
        val e1 = edges.select(col("u").as("a"), col("v").as("b"))
        val e2 = edges.select(col("u").as("b"), col("v").as("c"))
        val e3 = edges.select(col("u").as("a"), col("v").as("c"))
        val tris = e1.join(e2, "b").join(e3, Seq("a", "c"))
        val triPerNode = tris.select(col("a").as("node"))
          .unionAll(tris.select(col("b").as("node")))
          .unionAll(tris.select(col("c").as("node")))
          .groupBy("node").agg(count(lit(1)).as("n_tri"))
        val deg = edges.select(col("u").as("node"))
          .unionAll(edges.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
        deg.join(triPerNode, Seq("node"), "left")
          .select(col("node"),
            (coalesce(col("n_tri"), lit(0L)) * 2).cast("long").as("cc_num"),
            (col("deg") * (col("deg") - 1)).cast("long").as("cc_den"))
          .orderBy("node")
      },
      Some(
        s"""WITH ${transitionsSqlCtes(dropNullTypes = true)},
           |uedges AS (
           |  SELECT DISTINCT least(from_type, to_type) AS u,
           |    greatest(from_type, to_type) AS v
           |  FROM edges WHERE from_type <> to_type
           |),
           |tris AS (
           |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
           |  FROM uedges e1
           |  JOIN uedges e2 ON e2.u = e1.v
           |  JOIN uedges e3 ON e3.u = e1.u AND e3.v = e2.v
           |),
           |node_tri AS (
           |  SELECT node, count(*) AS n_tri FROM (
           |    SELECT a AS node FROM tris
           |    UNION ALL SELECT b FROM tris
           |    UNION ALL SELECT c FROM tris)
           |  GROUP BY node
           |),
           |degs AS (
           |  SELECT node, count(*) AS deg FROM (
           |    SELECT u AS node FROM uedges
           |    UNION ALL SELECT v FROM uedges)
           |  GROUP BY node
           |)
           |SELECT d.node,
           |  CAST(coalesce(t.n_tri, 0) * 2 AS BIGINT) AS cc_num,
           |  CAST(d.deg * (d.deg - 1) AS BIGINT) AS cc_den
           |FROM degs d LEFT JOIN node_tri t USING (node)
           |ORDER BY node""".stripMargin)),

    // ntile quartiles: equal-frequency bucketing per event_type — the
    // feature-binning / SLA-banding shape. ntile over the
    // collision-free (value, event_id) order is deterministic
    // cross-engine (both engines give the first n mod 4 buckets the
    // extra row); per-(type, quartile) output is count + min/max value
    // — selections, never arithmetic, so the doubles pass through
    // bit-identical. One shuffle on event_type with an in-partition
    // sort, then a tiny 4·|types| agg: the standard ranking-window
    // cost envelope. At 100 TB the same binning is served by
    // ev_value_percentiles_approx's sketch cutpoints instead of a full
    // sort — this is the exact twin that validates those cutpoints.
    Q(
      "ev_ntile_quartiles",
      (s, d) => {
        val w = Window.partitionBy("event_type")
          .orderBy(col("value"), col("event_id"))
        ev(s, d)
          .filter(col("event_type").isNotNull && col("value").isNotNull)
          .withColumn("q", ntile(4).over(w))
          .groupBy("event_type", "q")
          .agg(count(lit(1)).as("n"),
            min(col("value")).as("lo"), max(col("value")).as("hi"))
          .orderBy("event_type", "q")
      },
      Some(
        """SELECT event_type,
          |  CAST(ntile AS INT) AS q, count(*) AS n,
          |  min(value) AS lo, max(value) AS hi
          |FROM (
          |  SELECT event_type, value,
          |    ntile(4) OVER (PARTITION BY event_type
          |      ORDER BY value, event_id) AS ntile
          |  FROM events
          |  WHERE event_type IS NOT NULL AND value IS NOT NULL)
          |GROUP BY event_type, q
          |ORDER BY event_type, q""".stripMargin)),

    // Two-sample Kolmogorov–Smirnov drift check: does the value
    // distribution of 'purchase' events differ from 'view' events?
    // (The same statistic monitors feature drift between a training
    // snapshot and fresh data.) D = max_v |F1(v) − F2(v)| over a BINNED
    // ECDF — values floor to whole units first, which (a) bounds the
    // ECDF support by the value RANGE rather than the row count, so the
    // cumulative window sorts a few hundred bins at any corpus size,
    // and (b) is the standard scale concession (exact per-row ECDFs
    // need a full sort at 100 TB; the binned D lower-bounds the exact
    // one). Exactness: both engines floor the SAME stored double, and
    // D is carried as the cross-multiplied integer pair
    // (d_num, n1·n2) — |c1·n2 − c2·n1| — so the max and the drift flag
    // (D > 0.1 ⟺ 10·d_num > n1·n2) never touch a float; only the
    // reported ks statistic is a final rounded division. Scale shape:
    // one scan, one partial-agg'd (bin) shuffle, a window over the
    // bounded bin set, a 1-row reduce.
    Q(
      "ev_ks_drift",
      (s, d) => {
        val binned = ev(s, d)
          .filter(col("value").isNotNull &&
            col("event_type").isin("view", "purchase"))
          .select(floor(col("value")).cast("long").as("bin"),
            when(col("event_type") === "view", 1L).otherwise(0L).as("is1"))
        val perBin = binned.groupBy("bin")
          .agg(sum(col("is1")).as("c1"), sum(lit(1L) - col("is1")).as("c2"))
        val w = Window.orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        perBin
          .select(
            sum(col("c1")).over(w).as("cum1"),
            sum(col("c2")).over(w).as("cum2"),
            sum(col("c1")).over(wAll).as("n1"),
            sum(col("c2")).over(wAll).as("n2"))
          .select(col("n1"), col("n2"),
            abs(col("cum1") * col("n2") - col("cum2") * col("n1"))
              .as("diff"))
          .groupBy("n1", "n2")
          .agg(max(col("diff")).as("d_num"))
          .select(col("n1"), col("n2"), col("d_num"),
            (col("n1") * col("n2")).as("d_den"),
            // one sample empty -> the statistic is undefined, not an
            // ANSI division error (the edge gate's empty-type corpus)
            when(col("n1") * col("n2") > 0,
              round(col("d_num").cast("double") /
                (col("n1") * col("n2")), 6)).as("ks"),
            (col("d_num") * 10 > col("n1") * col("n2")).as("drift"))
      },
      Some(
        """WITH binned AS (
          |  SELECT CAST(floor(value) AS BIGINT) AS bin,
          |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is1
          |  FROM events
          |  WHERE value IS NOT NULL AND event_type IN ('view', 'purchase')
          |), per_bin AS (
          |  SELECT bin, CAST(sum(is1) AS BIGINT) AS c1,
          |    CAST(sum(1 - is1) AS BIGINT) AS c2
          |  FROM binned GROUP BY bin
          |), cum AS (
          |  SELECT
          |    CAST(sum(c1) OVER (ORDER BY bin
          |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1,
          |    CAST(sum(c2) OVER (ORDER BY bin
          |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2,
          |    CAST(sum(c1) OVER () AS BIGINT) AS n1,
          |    CAST(sum(c2) OVER () AS BIGINT) AS n2
          |  FROM per_bin
          |)
          |SELECT n1, n2, max(abs(cum1 * n2 - cum2 * n1)) AS d_num,
          |  n1 * n2 AS d_den,
          |  CASE WHEN n1 * n2 > 0 THEN
          |    round(CAST(max(abs(cum1 * n2 - cum2 * n1)) AS DOUBLE)
          |      / (n1 * n2), 6) END AS ks,
          |  max(abs(cum1 * n2 - cum2 * n1)) * 10 > n1 * n2 AS drift
          |FROM cum
          |GROUP BY n1, n2""".stripMargin)),

    // Time-BOUND conversion funnel: which clicks convert to a purchase
    // within 30 minutes? ev_funnel's strict sequence has no deadline —
    // this is the conversion-window form product analytics actually
    // reports. Per-click existence is a LEFT SEMI join on user_id with
    // the (0, 1800 s] band as join predicates — one user-keyed shuffle,
    // fan-out bounded by purchases-per-user-per-window (the AsOfJoin
    // tolerance argument); the two 1-row counts broadcast into the
    // final row. The rate guards the empty-click case the same way
    // ev_ks_drift guards its empty sample.
    Q(
      "ev_conversion_window",
      (s, d) => {
        val base = ev(s, d)
          .filter(col("user_id").isNotNull)
          .select(col("user_id"), col("event_type"),
            epochS(col("ts")).as("ts_s"))
        val clicks = base.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts_s"))
        val purch = base.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts_s").as("p_ts"))
        val converted = clicks.join(purch,
            col("user_id") === col("p_user") &&
              col("p_ts") > col("ts_s") &&
              col("p_ts") <= col("ts_s") + 1800,
            "left_semi")
        clicks.agg(count(lit(1)).as("n_clicks"))
          .crossJoin(broadcast(
            converted.agg(count(lit(1)).as("n_converted"))))
          .select(col("n_clicks"), col("n_converted"),
            when(col("n_clicks") > 0,
              round(col("n_converted").cast("double") /
                col("n_clicks"), 6)).as("conv_rate"))
      },
      Some(
        """WITH base AS (
          |  SELECT user_id, event_type,
          |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
          |  FROM events WHERE user_id IS NOT NULL
          |), clicks AS (
          |  SELECT user_id, ts_s FROM base WHERE event_type = 'click'
          |), purch AS (
          |  SELECT user_id, ts_s FROM base WHERE event_type = 'purchase'
          |), conv AS (
          |  SELECT count(*) AS n_converted FROM clicks c
          |  WHERE EXISTS (SELECT 1 FROM purch p
          |                WHERE p.user_id = c.user_id
          |                  AND p.ts_s > c.ts_s
          |                  AND p.ts_s <= c.ts_s + 1800)
          |)
          |SELECT (SELECT count(*) FROM clicks) AS n_clicks, n_converted,
          |  CASE WHEN (SELECT count(*) FROM clicks) > 0 THEN
          |    round(CAST(n_converted AS DOUBLE)
          |      / (SELECT count(*) FROM clicks), 6) END AS conv_rate
          |FROM conv""".stripMargin)),

    // Last-touch ATTRIBUTION report — the aggregate consumer of the
    // as-of join operator: every purchase is attributed to the LATEST
    // preceding non-purchase event of the same user within 1 hour
    // (graft.operators.AsOfJoin — same bounded range join + keep-latest
    // window as ev_asof_join, here with all channels competing and the
    // channel read off the winning row), then revenue rolls up per
    // channel. Purchase value is decimal-summed (order-independent
    // under AQE). Scale: the as-of fan-out is bounded by
    // events-per-user-per-hour; the rollup output is |channels| rows.
    Q(
      "ev_attribution_last_touch",
      (s, d) => {
        val e = ev(s, d).filter(col("user_id").isNotNull)
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id"),
            col("ts").as("p_ts"), col("value").as("p_value"))
        val touches = e.filter(col("event_type") =!= "purchase" &&
            col("event_type").isNotNull)
          .select(col("event_id").as("t_id"), col("user_id").as("t_user"),
            col("ts").as("t_ts"), col("event_type").as("channel"))
        graft.operators.AsOfJoin.asOf(purchases, touches,
            leftKey = "user_id", rightKey = "t_user",
            leftId = "p_id", leftTs = "p_ts", rightTs = "t_ts",
            tolerance = "1 HOUR", rightTie = "t_id")
          .groupBy("channel")
          .agg(count(lit(1)).as("n_attributed"),
            dsum(col("p_value")).as("revenue"))
          .orderBy("channel")
      },
      Some(
        s"""WITH ev_us AS (
           |  SELECT event_id, user_id, event_type, value,
           |         make_timestamp(epoch_us(ts)) AS ts
           |  FROM events WHERE user_id IS NOT NULL),
           |p AS (
           |  SELECT event_id AS p_id, user_id, ts AS p_ts, value AS p_value
           |  FROM ev_us WHERE event_type = 'purchase'),
           |t AS (
           |  SELECT event_id AS t_id, user_id AS t_user, ts AS t_ts,
           |         event_type AS channel
           |  FROM ev_us
           |  WHERE event_type <> 'purchase' AND event_type IS NOT NULL),
           |j AS (
           |  SELECT p.p_id, p.p_value, t.channel,
           |    row_number() OVER (PARTITION BY p.p_id
           |      ORDER BY t.t_ts DESC, t.t_id) AS rn
           |  FROM p JOIN t
           |    ON p.user_id = t.t_user
           |   AND t.t_ts <= p.p_ts
           |   AND t.t_ts >= p.p_ts - INTERVAL 1 HOUR)
           |SELECT channel, count(*) AS n_attributed,
           |  ${dsumSql("p_value")} AS revenue
           |FROM j WHERE rn = 1
           |GROUP BY channel ORDER BY channel""".stripMargin)),

    // New-user growth curve: first-seen day per user, daily signups,
    // and the cumulative user count — the growth-accounting twin of
    // ev_retention_cohorts (which slices the SAME first-seen lineage by
    // offset). Scale shape: two partial-agg'd shuffles (user_id, then
    // day); the cumulative window sorts the bounded day domain, never
    // rows. All integer.
    Q(
      "ev_new_users_curve",
      (s, d) => {
        val firstSeen = ev(s, d)
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"),
            expr("CAST(ts AS LONG) div 86400").as("day"))
          .groupBy("user_id").agg(min(col("day")).as("day"))
        val w = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        firstSeen.groupBy("day")
          .agg(count(lit(1)).as("new_users"))
          .withColumn("cum_users", sum(col("new_users")).over(w))
          .orderBy("day")
      },
      Some(
        """WITH days AS (
          |  SELECT user_id,
          |    min(CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS day
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
          |  GROUP BY user_id
          |), daily AS (
          |  SELECT day, count(*) AS new_users FROM days GROUP BY day
          |)
          |SELECT day, new_users,
          |  CAST(sum(new_users) OVER (ORDER BY day
          |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
          |FROM daily ORDER BY day""".stripMargin)),

    // Shuffle-key skew AUDIT — the detector that justifies the salting
    // mitigation ev_salted_agg demonstrates: per-user event counts vs
    // the uniform fair share, skew factor as the EXACT rational
    // (n·n_keys, total), hot = more than 4x fair share by
    // cross-multiplied integers. Top-20 keys by count (event_id
    // tie-break impossible: user_id is unique per group). Scale shape:
    // one partial-agg'd user shuffle; the global (n_keys, total) pair
    // is a 1-row broadcast; top-20 is TakeOrderedAndProject.
    Q(
      "ev_skew_audit",
      (s, d) => {
        val perKey = ev(s, d)
          .filter(col("user_id").isNotNull)
          .groupBy("user_id").agg(count(lit(1)).as("n"))
        val tot = perKey.agg(count(lit(1)).as("n_keys"),
          sum(col("n")).as("total"))
        perKey.crossJoin(broadcast(tot))
          .select(col("user_id"), col("n"),
            round(col("n").cast("double") * col("n_keys") / col("total"), 6)
              .as("skew_factor"),
            (col("n") * col("n_keys") > col("total") * 4).as("hot"))
          .orderBy(col("n").desc, col("user_id"))
          .limit(20)
      },
      Some(
        """WITH per_key AS (
          |  SELECT user_id, count(*) AS n FROM events
          |  WHERE user_id IS NOT NULL GROUP BY user_id
          |), tot AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
          |    CAST(sum(n) AS BIGINT) AS total
          |  FROM per_key
          |)
          |SELECT user_id, n,
          |  round(CAST(n AS DOUBLE) * n_keys / total, 6) AS skew_factor,
          |  n * n_keys > total * 4 AS hot
          |FROM per_key CROSS JOIN tot
          |ORDER BY n DESC, user_id LIMIT 20""".stripMargin)),

    // Join-cardinality estimation audit (the planner's problem, run as
    // a query): the exact self-join size on user_id is Σ c(u)² — never
    // materialized, computed analytically from the per-key counts —
    // against the textbook uniform-assumption estimate |R|²/d. Under
    // skew the uniform estimate UNDERSHOOTS (Cauchy–Schwarz:
    // Σc² ≥ n²/d with equality iff uniform); the underestimate flag is
    // the cross-multiplied exact·d > n² and the ratio is the only
    // float, rounded. This is the statistic AQE's runtime re-planning
    // exists to correct. Scale: one partial-agg'd user shuffle, 1-row
    // output; c² stays < 2^63 for any per-key count < 3e9 — past ~3e9
    // total rows the n² pair moves to DECIMAL(38,0)/HUGEINT (the
    // ev_anomaly_windows convention), shape unchanged.
    Q(
      "ev_selfjoin_size_audit",
      (s, d) => {
        val perKey = ev(s, d)
          .filter(col("user_id").isNotNull)
          .groupBy("user_id").agg(count(lit(1)).as("c"))
        perKey.agg(
            sum(col("c")).as("n_rows"),
            count(lit(1)).as("n_keys"),
            sum(col("c") * col("c")).as("exact_size"))
          .select(col("n_rows"), col("n_keys"), col("exact_size"),
            (col("n_rows") * col("n_rows")).as("est_num"),
            (col("exact_size") * col("n_keys") >
              col("n_rows") * col("n_rows")).as("underestimated"),
            round(col("exact_size").cast("double") * col("n_keys") /
              (col("n_rows") * col("n_rows")), 6).as("skew_ratio"))
      },
      Some(
        """WITH per_key AS (
          |  SELECT user_id, CAST(count(*) AS BIGINT) AS c FROM events
          |  WHERE user_id IS NOT NULL GROUP BY user_id
          |), agg AS (
          |  SELECT CAST(sum(c) AS BIGINT) AS n_rows,
          |    CAST(count(*) AS BIGINT) AS n_keys,
          |    CAST(sum(c * c) AS BIGINT) AS exact_size
          |  FROM per_key
          |)
          |SELECT n_rows, n_keys, exact_size,
          |  n_rows * n_rows AS est_num,
          |  exact_size * n_keys > n_rows * n_rows AS underestimated,
          |  round(CAST(exact_size AS DOUBLE) * n_keys
          |    / (n_rows * n_rows), 6) AS skew_ratio
          |FROM agg""".stripMargin)),

    // Exact distinct users per type via the dense-bitmap aggregate
    // (functions/BitmapAgg.scala) — the third point on the repo's
    // distinct-count spectrum: countDistinct (exact, Expand-rewritten),
    // approx_count_distinct (HLL, mergeable, ±rsd), and THIS (exact AND
    // mergeable: map tasks OR 192-byte bitmaps instead of shipping one
    // row per distinct id). The popcount runs post-aggregation over
    // |types| rows. Scale: buffer = maxId/8 bytes per group — dense
    // domains only (users here are 0..N dense); sparse/unbounded ids
    // want roaring compression or the HLL twin instead.
    Q(
      "ev_bitmap_distinct",
      (s, d) => {
        val bitmap = udaf(new graft.functions.BitmapBuildAgg())
        ev(s, d)
          .filter(col("user_id").isNotNull)
          .groupBy("event_type")
          .agg(bitmap(col("user_id")).as("bm"))
          .select(col("event_type"),
            aggregate(col("bm"), lit(0L),
              (acc, w) => acc + bit_count(w).cast("long")).as("n_users"))
          .orderBy("event_type")
      },
      Some(
        """SELECT event_type, count(DISTINCT user_id) AS n_users
          |FROM events WHERE user_id IS NOT NULL
          |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Bitmap SET ALGEBRA on aggregates: exact |click ∩ purchase|,
    // |click ∪ purchase| and Jaccard from the two group bitmaps alone —
    // no re-scan, no self-join of the fact table (the classic
    // segment-overlap question a bitmap index answers for free). The
    // two 1-row bitmap aggregates cross-join (1×1), then zip_with
    // AND/OR + popcount. The oracle has to re-touch the rows twice
    // (INTERSECT of two DISTINCT subqueries); at scale the bitmap form
    // reads the fact table once, ships 2 bitmaps, and the overlap math
    // is O(maxId/64) on one executor.
    Q(
      "ev_bitmap_overlap",
      (s, d) => {
        val bitmap = udaf(new graft.functions.BitmapBuildAgg())
        def bm(ty: String, alias: String) =
          ev(s, d).filter(col("user_id").isNotNull &&
            col("event_type") === ty)
            .agg(bitmap(col("user_id")).as(alias))
        def pop(c: org.apache.spark.sql.Column) =
          aggregate(c, lit(0L), (acc, w) => acc + bit_count(w).cast("long"))
        // zip_with pads the shorter array with nulls — coalesce to 0
        def band(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          zip_with(a, b, (x, y) =>
            coalesce(x, lit(0L)).bitwiseAND(coalesce(y, lit(0L))))
        def bor(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          zip_with(a, b, (x, y) =>
            coalesce(x, lit(0L)).bitwiseOR(coalesce(y, lit(0L))))
        bm("click", "a").crossJoin(bm("purchase", "b"))
          .select(
            pop(band(col("a"), col("b"))).as("n_both"),
            pop(bor(col("a"), col("b"))).as("n_either"),
            round(pop(band(col("a"), col("b"))).cast("double") /
              pop(bor(col("a"), col("b"))), 6).as("jaccard"))
      },
      Some(
        """WITH a AS (SELECT DISTINCT user_id FROM events
          |           WHERE user_id IS NOT NULL AND event_type = 'click'),
          |     b AS (SELECT DISTINCT user_id FROM events
          |           WHERE user_id IS NOT NULL AND event_type = 'purchase'),
          |     i AS (SELECT count(*) AS n_both
          |           FROM (SELECT * FROM a INTERSECT SELECT * FROM b)),
          |     u AS (SELECT count(*) AS n_either
          |           FROM (SELECT * FROM a UNION SELECT * FROM b))
          |SELECT n_both, n_either,
          |  round(CAST(n_both AS DOUBLE) / n_either, 6) AS jaccard
          |FROM i, u""".stripMargin)),

    // Exponentially time-decayed leaderboard — the "trending now" score
    // a live dashboard ranks by (recent events count fully, old events
    // fade with a 1-hour half-life). Exact cross-engine: the decay
    // weight is the DYADIC rational 2^-(age div halflife), materialized
    // as the integer 2^(40 - bucket) with buckets clamped to 40 (a
    // 2^-40 tail weight is below any ranking significance; both engines
    // clamp identically). Weights sum as DECIMAL(38,0)/HUGEINT —
    // order-independent, wrap-proof (the final BIGINT cast NULLs loudly
    // past 2^63). Shape at scale: one broadcast 1-row max-ts frame, one
    // partial-agg'd groupBy — the same cost as a plain count-by-type.
    Q(
      "ev_decayed_counts",
      (s, d) => {
        val mx = broadcast(
          ev(s, d).filter(col("ts").isNotNull)
            .agg(epochS(max(col("ts"))).as("mx")))
        ev(s, d)
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .crossJoin(mx)
          .withColumn("b",
            least(expr("(mx - CAST(ts AS LONG)) div 3600"), lit(40L)))
          .withColumn("w",
            expr("shiftleft(1L, cast(40 - b as int))")
              .cast("decimal(19,0)"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("w")).cast("decimal(38,0)").cast("long")
              .as("decayed_w40"))
          .orderBy(col("decayed_w40").desc, col("event_type"))
      },
      Some(
        """WITH mx AS (
          |  SELECT CAST(floor(epoch(max(ts))) AS BIGINT) AS mx
          |  FROM events WHERE ts IS NOT NULL)
          |SELECT event_type, count(*) AS n,
          |  CAST(sum(CAST((1::BIGINT << CAST(40 - LEAST(
          |      (mx - CAST(floor(epoch(ts)) AS BIGINT)) // 3600, 40)
          |    AS INT)) AS HUGEINT)) AS BIGINT) AS decayed_w40
          |FROM events, mx
          |WHERE ts IS NOT NULL AND event_type IS NOT NULL
          |GROUP BY event_type
          |ORDER BY decayed_w40 DESC, event_type""".stripMargin)),

    // HLL set algebra at its limit: |A ∩ B| by inclusion-exclusion over
    // three sketches (|A| + |B| - |A ∪ B|). Unlike union (lossless HLL
    // merge, ev_hll_partial_merge), intersection has NO mergeable sketch
    // form — the subtraction compounds the three estimation errors and
    // can even go negative for small overlaps, which is why the gate is
    // the wider |est - exact| <= 10% of (|A| + |B|) rather than union's
    // 5%-of-exact. The checkable contract is the error bound (sketch
    // internals are engine-specific); the exact twin comes from the
    // same distinct sets the bitmap query proves. At 100 TB all three
    // sketches build in one pass each side and the driver holds three
    // 4 KB registers — the exact twin is the thing this replaces.
    Q(
      "ev_hll_intersection",
      (s, d) => {
        val e = ev(s, d).filter(col("user_id").isNotNull)
        def users(ty: String) =
          e.filter(col("event_type") === ty).select("user_id")
        val nA = users("click").distinct().agg(count(lit(1)).as("n_click"))
        val nB = users("purchase").distinct()
          .agg(count(lit(1)).as("n_purchase"))
        val nBoth = users("click")
          .join(users("purchase").distinct()
            .withColumnRenamed("user_id", "u2"),
            col("user_id") === col("u2"), "left_semi")
          .distinct().agg(count(lit(1)).as("n_both_exact"))
        val skA = users("click")
          .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
            .as("est_a"))
        val skB = users("purchase")
          .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
            .as("est_b"))
        val skU = e.filter(col("event_type").isin("click", "purchase"))
          .select("user_id")
          .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
            .as("est_u"))
        nA.crossJoin(nB).crossJoin(nBoth)
          .crossJoin(skA).crossJoin(skB).crossJoin(skU)
          .select(col("n_click"), col("n_purchase"), col("n_both_exact"),
            (abs(col("est_a") + col("est_b") - col("est_u") -
              col("n_both_exact")) * 10 <=
              col("n_click") + col("n_purchase")).as("ie_within_10pct"))
      },
      Some(
        """WITH a AS (SELECT DISTINCT user_id FROM events
          |           WHERE user_id IS NOT NULL AND event_type = 'click'),
          |     b AS (SELECT DISTINCT user_id FROM events
          |           WHERE user_id IS NOT NULL AND event_type = 'purchase')
          |SELECT (SELECT count(*) FROM a) AS n_click,
          |  (SELECT count(*) FROM b) AS n_purchase,
          |  (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
          |    AS n_both_exact,
          |  TRUE AS ie_within_10pct""".stripMargin)),

    // Hot-key SPLIT join — the production mitigation for join-key skew
    // (the join-side sibling of ev_salted_agg's two-phase aggregation,
    // and the remedy the ev_skew_audit detector justifies). The fact
    // stream joins a per-user dimension; keys above the hot threshold
    // are routed through a BROADCAST join (no shuffle ever sees a hot
    // key's row volume), the long cold tail through the ordinary
    // shuffle join. Results are provably identical to the plain join —
    // the oracle IS the plain join — because the two routes partition
    // the key space. Scale shape: the hot-key set is tiny by
    // definition (keys whose row count exceeds a constant threshold),
    // so hot dim rows broadcast; the cold route shuffles rows whose
    // per-key cardinality is bounded by the threshold — no reducer
    // ever receives a hot key's full row set. AQE's skew-join split
    // handles moderate skew automatically; this is the explicit form
    // for the catastrophic case (a null-like sentinel key, a bot
    // user) where even a split partition floods its reducers. At
    // 100 TB the dimension is a stored table; here it derives from the
    // same events scan (min/count per user), which Catalyst plans once
    // and reuses across the hot/cold branches.
    Q(
      "ev_skew_split_join",
      (s, d) => {
        val HotN = 75L
        val fact = ev(s, d)
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), col("event_type"),
            epochS(col("ts")).as("es"))
        val dim = fact.groupBy("user_id")
          .agg(min(col("es")).as("first_s"), count(lit(1)).as("n_u"))
        val hot = dim.filter(col("n_u") > HotN).select("user_id")
        val cold = fact.join(hot, Seq("user_id"), "left_anti")
          .join(dim, Seq("user_id"))
          .withColumn("is_hot", lit(false))
        val hotJoined = fact.join(broadcast(hot), Seq("user_id"), "left_semi")
          .join(broadcast(dim.join(hot, Seq("user_id"), "left_semi")),
            Seq("user_id"))
          .withColumn("is_hot", lit(true))
        cold.unionByName(hotJoined)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            count(when(col("is_hot"), 1)).as("n_hot"),
            // decimal sum: ages are bounded by the table's time span,
            // but Σ over a 100 TB type partition can pass 2^63 — wrap
            // must be loud (NULL), not silent
            sum((col("es") - col("first_s")).cast("decimal(19,0)"))
              .cast("decimal(38,0)").cast("long").as("sum_age_s"))
          .orderBy("event_type")
      },
      Some(
        """WITH f AS (
          |  SELECT user_id, event_type,
          |    CAST(floor(epoch(ts)) AS BIGINT) AS es
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
          |dim AS (
          |  SELECT user_id, min(es) AS first_s, count(*) AS n_u
          |  FROM f GROUP BY 1)
          |SELECT f.event_type, count(*) AS n,
          |  count(CASE WHEN dim.n_u > 75 THEN 1 END) AS n_hot,
          |  CAST(sum(CAST(f.es - dim.first_s AS HUGEINT)) AS BIGINT)
          |    AS sum_age_s
          |FROM f JOIN dim USING (user_id)
          |GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // HLL ROLLUP — distinct-user counts served at three grains from ONE
    // set of fine sketches: build (day × type) HLL sketches in a single
    // pass, then answer the day grain and the global grain by MERGING
    // those sketches (hll_union_agg), never rescanning raw events. This
    // is the pre-aggregated-cube pattern for COUNT DISTINCT — the one
    // aggregate a roll-up table can't store additively — and the reason
    // sketch mergeability (ev_hll_partial_merge proves it) matters: at
    // 100 TB the fine sketch table is millions of 4 KB registers, and
    // every coarser grain is a sketch-merge over it, a ~10⁶× cheaper
    // read than the distinct-scan it replaces. Contract (sketch
    // estimates are engine-internal): per-grain estimates land within
    // 5% of the exact twin — emitted per day plus one global row,
    // exact counts carried alongside.
    Q(
      "ev_hll_rollup",
      (s, d) => {
        val e = ev(s, d)
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(expr("CAST(ts AS LONG) DIV 86400").as("day"),
            col("event_type"), col("user_id"))
        // the fine sketch table is materialized ONCE (memo + persist —
        // it IS the stored rollup table at scale, |days|·|types| rows of
        // 4 KB registers); both coarser grains below merge from it
        // rather than re-sketching raw events
        val fine = graft.CacheRegistry.memo("ev_hll_fine", s, d)(
          graft.CacheRegistry.track(s,
            e.groupBy("day", "event_type")
              .agg(hll_sketch_agg(col("user_id")).as("sk"))))
        val estDay = fine.groupBy("day")
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        val exactDay = e.select("day", "user_id").distinct()
          .groupBy("day").agg(count(lit(1)).as("n_exact"))
        val dayRows = exactDay.join(estDay, Seq("day"))
          .select(lit("day").as("grain"), col("day").as("key"),
            col("n_exact"),
            (abs(col("est") - col("n_exact")) * 20L <= col("n_exact"))
              .as("within_5pct"))
        val estAll = fine
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        val exactAll = e.select("user_id").distinct()
          .agg(count(lit(1)).as("n_exact"))
        val allRow = exactAll.crossJoin(estAll)
          .select(lit("total").as("grain"), lit(-1L).as("key"),
            col("n_exact"),
            (abs(col("est") - col("n_exact")) * 20L <= col("n_exact"))
              .as("within_5pct"))
        dayRows.unionByName(allRow).orderBy("grain", "key")
      },
      Some(
        """WITH e AS (
          |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
          |    user_id
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
          |SELECT 'day' AS grain, day AS key,
          |  count(DISTINCT user_id) AS n_exact, TRUE AS within_5pct
          |FROM e GROUP BY day
          |UNION ALL
          |SELECT 'total' AS grain, -1 AS key,
          |  count(DISTINCT user_id) AS n_exact, TRUE AS within_5pct
          |FROM e
          |ORDER BY grain, key""".stripMargin))
  )
}
