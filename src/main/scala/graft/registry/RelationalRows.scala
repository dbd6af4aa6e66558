package graft.registry

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators._
import graft.streaming.Streams

import Artifacts._

/** Relational rows over the TPC-H and events fixtures: aggregation,
  * joins, windows, set ops, JSON.
  */
private[graft] object RelationalRows {

  val rows: Seq[Declared] = Seq(
    // ---- E6 (batch twin): tumbling-window event rollup ---------------
    Declared("events_window", (s, dir) =>
      Streams.eventsWindowAgg(events(s, dir))
        .orderBy("window_start", "event_type"),
      // exact decimal sums mirror Streams.eventsWindowAgg; avg uses the
      // FLOOR(x*1e6+0.5)/1e6 construction because engine ROUND builtins
      // disagree on near-half binary doubles
      oracle = """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  FLOOR(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6 AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- E6: SLIDING windows (1h window, 30m slide) ------------------
    Declared("events_sliding", (s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("window_start", "event_type"),
      // each event lands in exactly two 1h/30m sliding windows: starts at
      // time_bucket(30m, ts) and 30 minutes earlier.
      oracle = """WITH cand AS (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) - k.s * INTERVAL '30 minutes' AS ws,
        |         event_type, value
        |  FROM events CROSS JOIN (VALUES (0), (1)) k(s)
        |)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM cand GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- E6: gap sessionization --------------------------------------
    Declared("sessionize", (s, dir) =>
      Streams.sessionStats(events(s, dir), gapMinutes = 30, tieCols = Seq("event_id"))
        .orderBy("user_id"),
      oracle = """WITH s AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |),
        |g AS (
        |  SELECT user_id,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM s
        |),
        |c AS (SELECT user_id, session_seq, COUNT(*) AS n_events FROM g GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_sessions, ROUND(AVG(n_events), 6) AS avg_events_per_session
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin),

    // ---- set ops: purchasers who hit no errors (day-1 slice) ---------
    Declared("events_setops", (s, dir) => {
      val e = events(s, dir).filter(col("ts") < to_timestamp(lit("2024-01-02 00:00:00")))
      e.filter(col("event_type") === "purchase").select("user_id").distinct()
        .except(e.filter(col("event_type") === "error").select("user_id").distinct())
        .orderBy("user_id")
    },
      oracle = """SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-02 00:00:00'
        |EXCEPT
        |SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-02 00:00:00'
        |ORDER BY user_id""".stripMargin),

    // ---- O15 over events: JSON prop extraction -----------------------
    Declared("json_props", (s, dir) =>
      events(s, dir).select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id"),
      oracle = """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin),

    // ---- relational: grouped aggregation (TPC-H Q1 shape) ------------
    Declared("q1_agg", (s, dir) =>
      Tables.lineitem(s, dir).groupBy("l_returnflag", "l_linestatus")
        .agg(
          // exact decimal sums; quantities are integral (fixture invariant,
          // checked at every sf) → BIGINT; price surfaces as DOUBLE
          sum(col("l_quantity").cast("decimal(18,2)")).cast("bigint").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          // avg from the EXACT decimal sum + floor-based rounding: both the
          // summation order and the engines' ROUND builtins would otherwise
          // diverge at half boundaries
          (floor(sum(col("l_discount").cast("decimal(18,6)")).cast("double") / count(lit(1))
            * 1e6 + 0.5) / 1e6).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      oracle = """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  FLOOR(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6 AS avg_disc,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- relational: broadcast join + agg ----------------------------
    Declared("join_agg", (s, dir) =>
      Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy("c_mktsegment"),
      oracle = """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- relational: cube grouping sets ------------------------------
    Declared("cube_agg", (s, dir) =>
      Tables.lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("bigint").as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      oracle = """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // ---- relational: exact interpolated median -----------------------
    Declared("median_agg", (s, dir) =>
      Tables.lineitem(s, dir).groupBy("l_returnflag")
        .agg(round(expr("percentile(l_extendedprice, 0.5)"), 6).as("median_price"),
          round(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"))
        .orderBy("l_returnflag"),
      oracle = """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS median_price,
        |  ROUND(quantile_cont(l_quantity, 0.5), 6) AS median_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // ---- relational (round-13): quantile sketch parity ---------------
    // The order-statistics twin of approx_distinct: exact interpolated
    // percentiles (hash-checked) + a flag that the approx_percentile
    // sketch landed within 1% of each. At 100 TB the sketch (bounded
    // memory, one pass, mergeable buffers) is the per-build monitor and
    // the exact form is the rare audit — this row is the parity evidence.
    Declared("approx_quantiles", (s, dir) =>
      Tables.lineitem(s, dir).agg(
          expr("percentile(l_extendedprice, 0.5)").as("__e50"),
          expr("percentile(l_extendedprice, 0.9)").as("__e90"),
          expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("__a50"),
          expr("approx_percentile(l_extendedprice, 0.9, 10000)").as("__a90"))
        .select(
          round(col("__e50"), 6).as("p50_exact"),
          round(col("__e90"), 6).as("p90_exact"),
          (abs(col("__a50") - col("__e50")) <= col("__e50") * 0.01).as("p50_ok"),
          (abs(col("__a90") - col("__e90")) <= col("__e90") * 0.01).as("p90_ok")),
      // Exact percentiles recomputed (quantile_cont == Spark's interpolated
      // percentile — proven by median_agg); the sketch verdicts are pinned
      // constant TRUE.
      oracle = """SELECT
        |  ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50_exact,
        |  ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90_exact,
        |  TRUE AS p50_ok, TRUE AS p90_ok
        |FROM lineitem""".stripMargin),

    // ---- relational: value binning / histogram -----------------------
    Declared("price_histogram", (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("bucket_total"))
        .orderBy("bucket"),
      oracle = """SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS bucket_total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- scalar string function library ------------------------------
    Declared("string_funcs", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
          upper(col("lang")).as("lang_up"),
          lpad(col("source"), 8, "_").as("src_pad"),
          reverse(col("lang")).as("lang_rev"),
          regexp_replace(col("source"), "src", "s").as("src_short"),
          // concat (null-propagating) matches SQL || — concat_ws would
          // silently skip NULLs and diverge from the oracle
          concat(col("lang"), lit("|"), col("source")).as("combo"))
        .orderBy("doc_id"),
      oracle = """SELECT doc_id, upper(lang) AS lang_up, lpad(source, 8, '_') AS src_pad,
        |  reverse(lang) AS lang_rev, regexp_replace(source, 'src', 's', 'g') AS src_short,
        |  lang || '|' || source AS combo
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- relational: per-group top-n window --------------------------
    Declared("window_topn", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir).filter(col("o_custkey") < 50)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    },
      oracle = """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |FROM orders WHERE o_custkey < 50
        |QUALIFY rn <= 3 ORDER BY o_custkey, rn""".stripMargin),

    // ---- as-of join (backward, per user): click ← latest purchase ----
    Declared("asof_join", (s, dir) => {
      val e = events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      // One row per (user, ts): were duplicate same-instant purchases ever
      // present, both this engine and DuckDB's ASOF would make an arbitrary
      // pick — pre-aggregating to MAX(value) pins the semantics on BOTH
      // sides (mirrored GROUP BY in the oracle).
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts").as("p_ts"))
        .agg(max(col("value")).as("purchase_value"))
      TemporalJoins.asofJoin(clicks, purchases,
          keyCol = "user_id", leftTs = "ts", rightTs = "p_ts",
          rightPayload = Seq("purchase_value"))
        .select("event_id", "user_id", "purchase_value")
        .orderBy("event_id")
    },
      // CAST(ts AS TIMESTAMP) truncates DuckDB's TIMESTAMP_NS to the same
      // microsecond precision Spark reads (Tables.events) — boundary
      // comparisons are then precision-identical by construction.
      oracle = """SELECT l.event_id, l.user_id, r.value AS purchase_value
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |      WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(value) AS value
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin),

    // ---- range join (bucketized equi): clicks within 1h of purchase --
    Declared("range_join", (s, dir) => {
      val e = events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("c_us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts")) + 3600000000L).as("end_us"))
      TemporalJoins.rangeJoin(clicks, purchases, "c_us", "start_us", "end_us",
          bucketWidth = 3600000000L, extraKeys = Seq("user_id"))
        .groupBy("event_id").agg(count(lit(1)).as("n_clicks"))
        .orderBy("event_id")
    },
      oracle = """SELECT p.event_id, COUNT(*) AS n_clicks
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |      WHERE event_type = 'purchase') p
        |JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |      WHERE event_type = 'click') c
        |  ON c.user_id = p.user_id AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
        |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin),

    // ---- relational: rollup (grouping sets) --------------------------
    Declared("rollup_agg", (s, dir) =>
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("bigint").as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      oracle = """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // ---- relational: distinct aggregation ----------------------------
    Declared("distinct_agg", (s, dir) =>
      Tables.lineitem(s, dir).groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy("l_returnflag"),
      oracle = """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
  )
}
