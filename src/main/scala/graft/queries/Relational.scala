package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational operator inventory over the driver's synthetic star schema.
  *
  * Each query is a second expression of one operator family from
  * SURVEY.md §2 (cited per query), stated over `lineitem`/`orders`/... so
  * the driver can hash-compare against a DuckDB oracle. Every aggregate
  * over doubles is rounded (2 decimals) so float summation order can never
  * flip the hash; every result carries a total ORDER BY on a unique key so
  * row order is deterministic on both engines.
  *
  * Scale notes (100 TB stance):
  *  - filters/projections stay in `Column` expressions → parquet pushdown
  *    and column pruning are visible in `PushedFilters`/`ReadSchema`;
  *  - small dimensions (region/nation/customer/supplier/part at TPC-H
  *    ratios) are explicitly `broadcast()` so the fact never shuffles for
  *    them; fact-to-fact joins (lineitem⋈orders) shuffle on the join key
  *    once and AQE coalesces post-shuffle partitions;
  *  - aggregates are plain `groupBy` → Catalyst plans partial (map-side)
  *    + final hash aggregation, no driver-side collection anywhere.
  */
object Relational extends OpsModule {

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  private def cust(s: SparkSession, d: String) = Tables.customer(s, d)
  private def supp(s: SparkSession, d: String) = Tables.supplier(s, d)
  private def ev(s: SparkSession, d: String) = Tables.events(s, d)

  private def r2(c: Column): Column = round(c, 2)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1/A2 + P3-style date filter (reference: flat models' watermark +
    // validation_photo_gaps.sql:17-30 aggregates). TPC-H Q1 shape.
    "q1_agg" -> ((s, d) =>
      li(s, d)
        .filter(col("l_shipdate") <= to_timestamp(lit("1997-12-31")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          r2(sum("l_quantity")).as("sum_qty"),
          r2(sum("l_extendedprice")).as("sum_base_price"),
          r2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_price"),
          r2(avg("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // P1-P4: projection + predicate, both pushed to the parquet scan.
    "q2_filter_project" -> ((s, d) =>
      ord(s, d)
        .filter(col("o_orderstatus") === "O" && col("o_totalprice") > 100000.0)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")),

    // J3: 3-way join, dims broadcast, fact-fact sort-merge/shuffle-hash.
    // customer is LINEAR in SF (unlike region/nation), so its broadcast is
    // size-gated: pinned while it fits, shuffle join once it doesn't.
    "q3_join_agg" -> ((s, d) =>
      li(s, d)
        .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(graft.ops.AutoBroadcast.sizeGate(cust(s, d)),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          r2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("c_mktsegment")),

    // J2: anti-join (reference: validation_photo_gaps.sql:54-59) —
    // customers with no finished order (anti side pre-filtered, like the
    // gap view's per-sol actuals).
    "q4_anti_join" -> ((s, d) =>
      cust(s, d)
        .join(ord(s, d).filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")),

    // W2: partitioned ROW_NUMBER (reference: dim_coordinate.sql:7-8);
    // unique (o_orderdate, o_orderkey) ordering keeps ties impossible.
    "q5_window_rownum" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      ord(s, d)
        .withColumn("order_seq", row_number().over(w))
        .filter(col("order_seq") <= 3)
        .select("o_custkey", "o_orderkey", "o_orderdate", "order_seq")
        .orderBy("o_custkey", "o_orderkey")
    }),

    // P6/P7: CASE bucketing + set-membership (reference: fact_path.sql:20-29,
    // dim_cameras.sql:16-33).
    "q6_case_bucket" -> ((s, d) =>
      ord(s, d)
        .withColumn("price_tier",
          when(col("o_totalprice") < 50000.0, "small")
            .when(col("o_totalprice") < 150000.0, "medium")
            .otherwise("large"))
        .withColumn("is_urgent",
          col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("price_tier", "is_urgent")
        .agg(count(lit(1)).as("n_orders"), r2(avg("o_totalprice")).as("avg_price"))
        .orderBy("price_tier", "is_urgent")),

    // P9: regex group extraction + cast (reference:
    // camera_travel_correlation.sql:15).
    "q7_regex_extract" -> ((s, d) =>
      ord(s, d)
        .withColumn("priority_rank",
          regexp_extract(col("o_orderpriority"), "^([0-9]+)-", 1).cast("int"))
        .groupBy("priority_rank")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("priority_rank")),

    // P10: BETWEEN as a value (reference: taken_during_travel,
    // camera_travel_correlation.sql:33) — shipped within 90 days of order.
    "q8_between_flag" -> ((s, d) =>
      li(s, d)
        .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
        .withColumn("shipped_fast",
          col("l_shipdate").between(col("o_orderdate"),
            col("o_orderdate") + expr("INTERVAL 90 DAYS")))
        .groupBy("shipped_fast")
        .agg(count(lit(1)).as("n_items"))
        .orderBy("shipped_fast")),

    // A2: conditional-sum pivot (reference: daily_activity.sql:14-17).
    "q9_conditional_pivot" -> ((s, d) =>
      li(s, d)
        .groupBy("l_returnflag")
        .agg(
          sum(when(col("l_linestatus") === "O", 1).otherwise(0)).as("open_items"),
          sum(when(col("l_linestatus") === "F", 1).otherwise(0)).as("finished_items"),
          r2(sum(when(col("l_linestatus") === "O", col("l_quantity")).otherwise(0.0))).as("open_qty"))
        .orderBy("l_returnflag")),

    // A3: GROUP BY as DISTINCT (reference: dim_cameras.sql:38-41).
    "q10_distinct" -> ((s, d) =>
      ord(s, d)
        .join(graft.ops.AutoBroadcast.sizeGate(cust(s, d)),
          col("o_custkey") === col("c_custkey"))
        .select("c_mktsegment", "o_orderpriority")
        .distinct()
        .orderBy("c_mktsegment", "o_orderpriority")),

    // A6: dense range materialization (reference: snowflake.py:94 dense sol
    // range) — all months between first and last order date, with counts;
    // months with zero orders survive via left join + coalesce (P8).
    "q11_dense_range" -> ((s, d) => {
      val o = ord(s, d).withColumn("order_month", date_trunc("month", col("o_orderdate")))
      val bounds = o.agg(min("order_month").as("lo"), max("order_month").as("hi"))
      val months = bounds.select(
        explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 MONTH"))).as("order_month"))
      val counts = o.groupBy("order_month").agg(count(lit(1)).as("n_orders"))
      months.join(counts, Seq("order_month"), "left")
        .select(col("order_month"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy("order_month")
    }),

    // O1+O2: top-k (reference: ORDER BY sol + LIMIT 200 made deterministic
    // per SURVEY §7.3).
    "q12_topk" -> ((s, d) =>
      ord(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)),

    // §2.8: union of heterogenous sources (reference: batch assembly concat).
    "q13_union" -> ((s, d) =>
      cust(s, d).select(col("c_custkey").as("entity_id"), lit("customer").as("kind"),
          r2(col("c_acctbal")).as("acctbal"))
        .unionByName(
          supp(s, d).select(col("s_suppkey").as("entity_id"), lit("supplier").as("kind"),
            r2(col("s_acctbal")).as("acctbal")))
        .orderBy("kind", "entity_id")),

    // J4+P8: left join + COALESCE defaulting (reference:
    // daily_activity.sql:12-13,18-25) — every order keeps a row even with
    // no lineitems.
    "q14_left_coalesce" -> ((s, d) =>
      ord(s, d)
        .join(li(s, d), col("o_orderkey") === col("l_orderkey"), "left")
        .groupBy("o_orderkey")
        .agg(
          coalesce(r2(sum("l_quantity")), lit(0.0)).as("total_qty"),
          count(col("l_linenumber")).as("n_items"))
        .orderBy("o_orderkey")),

    // A1: COUNT + COUNT(DISTINCT) (reference: validation_photo_gaps.sql:17-30).
    "q15_count_distinct" -> ((s, d) =>
      ord(s, d)
        .groupBy("o_orderpriority")
        .agg(
          countDistinct("o_custkey").as("n_customers"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")),

    // Event-time tumbling aggregation (batch form of the §2.10 stream shape).
    "q16_events_hourly" -> ((s, d) =>
      ev(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), r2(sum("value")).as("total_value"))
        .orderBy("hour", "event_type")),

    // P13: JSON parse of a dynamic payload column (reference:
    // parse_json at flat_photo_response.sql:26).
    "q17_json_extract" -> ((s, d) =>
      ev(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("event_type")
        .agg(r2(avg("k")).as("avg_k"), max("k").as("max_k"))
        .orderBy("event_type")),

    // The streaming windowed-aggregation operator run in batch mode: the
    // SAME EventStreams.windowedCounts definition powers the live stream
    // (append mode, watermark-bounded state) and this oracle-checked query.
    "q18_stream_window" -> ((s, d) =>
      graft.streaming.EventStreams.windowedCounts(
        ev(s, d).select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")))
        .orderBy("window_start", "event_type")),

    // Session windows in batch mode — the oracle re-derives the same
    // sessions with the islands-and-gaps idiom (new session when the gap
    // to the previous event reaches 30 min; end = last event + gap).
    "q19_session_window" -> ((s, d) =>
      graft.streaming.EventStreams.sessionWindows(
        ev(s, d).select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")))
        .orderBy("user_id", "session_start")),

    // HLL approximate distinct — the 100 TB path for COUNT(DISTINCT):
    // mergeable fixed-size sketches instead of the exact path's per-group
    // expansion shuffle. Deliberately has NO DuckDB oracle (HLL registers
    // are implementation-specific; the driver records a rows-only check);
    // QueriesSpec bounds its relative error against the exact count.
    // HLL++ sketch vs exact distinct. The sketch value itself can't be
    // oracle-checked (DuckDB's approx_count_distinct is a different
    // algorithm), but Spark's HLL merge is a per-register max —
    // commutative and associative — so the approx value is deterministic
    // for fixed data regardless of partition order, and the RELATIVE
    // ERROR check is a stable, hashable assertion: rsd=0.02 is one
    // standard deviation, so |approx-exact| <= 10% (5 sigma) must hold.
    // The oracle asserts the same columns with the flag literally true,
    // turning what was a rows-only check into a full hash-compare.
    "q20_approx_distinct" -> ((s, d) =>
      li(s, d)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
          countDistinct(col("l_orderkey")).as("exact_orders"),
          count(lit(1)).as("n_items"))
        .select(col("l_returnflag"), col("exact_orders"), col("n_items"),
          (abs(col("approx_orders") - col("exact_orders")) <=
            col("exact_orders") * 0.10).as("approx_within_10pct"))
        .orderBy("l_returnflag")),

    // lag/lead analytics: hour-over-hour event-count delta
    "q21_lag_delta" -> ((s, d) => {
      val hourly = ev(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      val w = Window.partitionBy("event_type").orderBy("hour")
      hourly
        .withColumn("prev_n", lag("n_events", 1).over(w))
        .withColumn("delta", col("n_events") - coalesce(col("prev_n"), lit(0L)))
        .orderBy("event_type", "hour")
    }),

    // ROLLUP grouping sets: subtotals per (returnflag, linestatus), per
    // returnflag, and grand total in one pass
    "q22_rollup" -> ((s, d) =>
      li(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_items"), r2(sum("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // CUBE grouping sets: all four grouping combinations in one pass
    "q26_cube" -> ((s, d) =>
      li(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_items"), r2(avg("l_discount")).as("avg_disc"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // statistical aggregates: spread and linear association per group
    "q27_stats" -> ((s, d) =>
      li(s, d)
        .groupBy("l_returnflag")
        .agg(
          r2(stddev_samp(col("l_quantity"))).as("sd_qty"),
          r2(var_samp(col("l_quantity"))).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"))
        .orderBy("l_returnflag")),

    // exact percentiles (sort-based, linear interpolation — matches
    // DuckDB's quantile_cont); the approximate sibling at scale is
    // percentile_approx, which like HLL has no cross-engine oracle
    "q25_percentile" -> ((s, d) =>
      ev(s, d)
        .groupBy("event_type")
        .agg(
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.95)"), 6).as("p95"),
          round(max("value"), 6).as("p100"))
        .orderBy("event_type")),

    // bucketized range join: error events landing inside any user's
    // first-hour activity window (a pure interval containment — no equi
    // key — that would otherwise plan as a nested-loop join)
    "q24_range_join" -> ((s, d) => {
      val evts = ev(s, d)
      val intervals = evts.groupBy(col("user_id").as("window_user"))
        .agg(min(unix_timestamp(col("ts"))).as("lo"))
        .withColumn("hi", col("lo") + 3600L)
      val errors = evts.filter(col("event_type") === "error")
        .select(col("event_id"), unix_timestamp(col("ts")).as("err_sec"))
      graft.ops.RangeJoin.pointInInterval(errors, "err_sec",
          intervals, "lo", "hi", bucketWidth = 600L)
        .select("event_id", "err_sec", "window_user", "lo", "hi")
        .orderBy("event_id", "window_user")
    }),

    // explicit window frames: 7-row moving average and running total of
    // daily order value — the ROWS BETWEEN frame spec, distinct from the
    // rank/lag family already covered
    "q37_moving_window" -> ((s, d) => {
      val daily = ord(s, d)
        .groupBy(to_date(col("o_orderdate")).as("order_day"))
        .agg(round(sum("o_totalprice"), 2).as("day_value"))
      val w = Window.orderBy("order_day")
      daily
        .withColumn("running_total",
          round(sum("day_value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2))
        .withColumn("ma7",
          round(avg("day_value").over(w.rowsBetween(-6, 0)), 2))
        .orderBy("order_day")
    }),

    // distribution-rank window family: ntile / percent_rank / cume_dist
    // (the rank/lag/frame families are covered by q5/q21/q37; this closes
    // the remaining ANSI window-function group). Ties broken by orderkey
    // so ntile's bucket assignment is deterministic on both engines.
    "q38_rank_family" -> ((s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      ord(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pct_rank", round(percent_rank().over(w), 6))
        .withColumn("cume", round(cume_dist().over(w), 6))
        .withColumn("top_order", first_value(col("o_orderkey")).over(w))
        .drop("o_totalprice")
        .orderBy("o_orderkey")
    }),

    // arbitrary GROUPING SETS (beyond q22's ROLLUP / q26's CUBE): a
    // hand-picked lattice subset, with grouping() flags disambiguating
    // "NULL because aggregated away" from a genuine NULL group value.
    // One Expand + one aggregate — no per-set re-scan.
    "q39_grouping_sets" -> ((s, d) =>
      li(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq.empty[Column]),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).as("g_flag"),
          grouping(col("l_linestatus")).as("g_status"),
          count(lit(1)).as("n_items"),
          r2(sum("l_quantity")).as("sum_qty"))
        .orderBy(col("g_flag"), col("g_status"),
          col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // cohort retention over the event stream: cohort = a user's first
    // active day; cell (cohort_date, day_offset) counts users from that
    // cohort active that many days later — the canonical product-analytics
    // rollup. Scale shape: both aggregations key on user_id, so the
    // cohort frame and the activity frame co-partition and the join
    // reuses the exchange; every measure is an integer count.
    "q40_retention" -> ((s, d) => {
      val e = ev(s, d)
      val first = e.groupBy("user_id").agg(to_date(min("ts")).as("cohort_date"))
      val act = e.select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      first.join(act, "user_id")
        .groupBy(col("cohort_date"),
          datediff(col("d"), col("cohort_date")).cast("long").as("day_offset"))
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort_date", "day_offset")
    }),

    // wide→long reshaping with the native unpivot (melt) operator — the
    // inverse of q35's pivot, run over a dense day × event_type count
    // grid so absent combinations surface as explicit zero rows. unpivot
    // is a row-local Expand (no shuffle, no UDTF).
    "q41_unpivot" -> ((s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val wide = ev(s, d)
        .groupBy(to_date(col("ts")).as("d"))
        .pivot("event_type", types).count().na.fill(0L)
      wide.unpivot(Array(col("d")), types.map(col).toArray, "event_type", "n_events")
        .orderBy("d", "event_type")
    }),

    // RANGE window frame — the value-based sibling of q37's ROWS frames:
    // the trailing window covers a 4-DAY interval, not 4 rows, so gaps in
    // the day grid (forced by the selective filter) shrink the sum. All
    // measures are integer counts.
    "q42_range_frame" -> ((s, d) => {
      val daily = ev(s, d)
        .filter(col("value") >= 250)
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
            .cast("long").as("day_num"))
        .agg(count(lit(1)).as("n_events"))
      val w = Window.partitionBy("event_type").orderBy(col("day_num"))
        .rangeBetween(-3, Window.currentRow)
      daily.withColumn("n_4day", sum("n_events").over(w))
        .orderBy("event_type", "day_num")
    }),

    // correlated LATERAL subquery with ORDER BY + LIMIT — top-k-per-key
    // expressed as the SQL-standard lateral join (Catalyst rewrites the
    // correlation to a DomainJoin) instead of q5's window + filter
    "q43_lateral_topk" -> ((s, d) => {
      graft.SqlSurface.registerTables(s, d)
      s.sql(
        """SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS price
          |FROM customer c,
          |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
          |         WHERE o.o_custkey = c.c_custkey
          |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
          |ORDER BY c.c_custkey, t.o_orderkey""".stripMargin)
    }),

    // recursive CTE (Spark 4.x UnionLoop): 2-hop reachability with path
    // counts over the co-purchase graph — the iterative-traversal class
    // (hierarchies, BOM explosion, graph closure) expressed in SQL; the
    // oracle runs the single-text form. Spark-side shape: UnionLoop
    // re-evaluates its CTEs on EVERY recursion level (the explain shows
    // the lineitem self-join inside the loop), so the edge table is
    // materialized ONCE via localCheckpoint + temp view and the recursion
    // runs over the view — identical semantics. At sf0.1 the wall time is
    // materialization-bound either way (2.4M edges), but at 100 TB the
    // once-vs-per-level edge build is the difference that matters.
    "q44_recursive_cte" -> ((s, d) => {
      graft.SqlSurface.registerTables(s, d)
      // r13 (guide §2.3): the edge table used to be a lineitem SELF-JOIN
      // on l_orderkey — two corpus scans and a fan-out join whose map
      // side inherits the SCAN's parallelism (3 open-cost-floored splits
      // on the one small file — 2.4 s of the query's wall in one
      // 3-task stage). Same DISTINCT pair set from ONE scan: per-order
      // distinct partkey sets (map-side partial collect_set, the
      // aggregate-before-shuffle move), pairs exploded AFTER the
      // exchange at full shuffle parallelism. At 100 TB the self-join
      // shuffles the full row fan-out; this shuffles one set row per
      // order. Edge set identical (oracle-checked end to end).
      s.sql("""SELECT DISTINCT src, dst
               FROM (SELECT collect_set(l_partkey) AS ks
                     FROM lineitem GROUP BY l_orderkey) t
               LATERAL VIEW explode(ks) e1 AS src
               LATERAL VIEW explode(ks) e2 AS dst
               WHERE NOT src = dst""")
        .localCheckpoint()
        .createOrReplaceTempView("copurchase_edges")
      s.sql("""WITH RECURSIVE
               seed AS (SELECT min(l_partkey) AS p FROM lineitem),
               reach(part, hop) AS (
                 SELECT p, 0 FROM seed
                 UNION ALL
                 SELECT /*+ BROADCAST(r) */ e.dst, r.hop + 1
                 FROM reach r JOIN copurchase_edges e ON e.src = r.part
                 WHERE r.hop < 2)
               SELECT part, min(hop) AS min_hops, count(*) AS n_paths
               FROM reach GROUP BY part ORDER BY part""")
    }),

    // linear interpolation over day-grid gaps: densify with
    // sequence+explode, carry the nearest real observation from each side
    // with IGNORE NULLS window folds, interpolate proportionally. The
    // gap-fill half of the as-of family (q23 carries last-known-value;
    // this reconstructs between observations). Grid days are integers and
    // the interpolation is a single per-row expression — deterministic.
    "q45_interpolate" -> ((s, d) => {
      val daily = ev(s, d)
        .filter(col("value") >= 250)
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
            .cast("long").as("day_num"))
        .agg(count(lit(1)).as("n_events"))
      val grid = daily.groupBy("event_type")
        .agg(min("day_num").as("lo"), max("day_num").as("hi"))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"))).as("day_num"))
      val joined = grid.join(daily, Seq("event_type", "day_num"), "left")
      val wPrev = Window.partitionBy("event_type").orderBy("day_num")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy("event_type").orderBy("day_num")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      joined
        .withColumn("prev_v", last("n_events", ignoreNulls = true).over(wPrev))
        .withColumn("prev_d",
          last(when(col("n_events").isNotNull, col("day_num")), ignoreNulls = true)
            .over(wPrev))
        .withColumn("next_v", first("n_events", ignoreNulls = true).over(wNext))
        .withColumn("next_d",
          first(when(col("n_events").isNotNull, col("day_num")), ignoreNulls = true)
            .over(wNext))
        .withColumn("n_interp", round(
          when(col("n_events").isNotNull, col("n_events").cast("double"))
            .when(col("next_d") === col("prev_d"), col("prev_v").cast("double"))
            .otherwise(col("prev_v") +
              ((col("next_v") - col("prev_v")) * (col("day_num") - col("prev_d"))) /
                (col("next_d") - col("prev_d"))), 6))
        .withColumn("is_observed", col("n_events").isNotNull.cast("int"))
        .select("event_type", "day_num", "n_interp", "is_observed")
        .orderBy("event_type", "day_num")
    }),

    // bag-semantics set operations — q36's distinct INTERSECT/EXCEPT kept
    // one copy per value; the ALL variants preserve multiplicity
    // (difference/minimum of per-value counts), which is what reconciling
    // two fact extracts actually needs
    "q59_setops_all" -> ((s, d) => {
      val urgent = ord(s, d).filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey")
      val filled = ord(s, d).filter(col("o_orderstatus") === "F")
        .select("o_custkey")
      val exAll = urgent.exceptAll(filled)
        .groupBy("o_custkey").agg(count(lit(1)).as("n"))
        .withColumn("op", lit("except_all"))
      val inAll = urgent.intersectAll(filled)
        .groupBy("o_custkey").agg(count(lit(1)).as("n"))
        .withColumn("op", lit("intersect_all"))
      exAll.unionByName(inAll)
        .groupBy("op").agg(count(lit(1)).as("n_custkeys"), sum("n").as("n_rows"))
        .orderBy("op")
    }),

    // Spark 4 VARIANT for truly-dynamic JSON — the reference stores
    // `manifest.value:photos::variant` (flat_manifest_response.sql:17) and
    // parse_json payloads (flat_photo_response.sql:26); q17's fixed-schema
    // from_json covers the stable case, this covers HETEROGENEOUS payloads
    // whose keys differ per row: parse_json once into a variant column,
    // then typed variant_get path extraction where absent paths are null
    // (try_variant_get), including a nested object and an array index.
    // The inner variant_get on the real props column exercises variant on
    // table data; the per-kind payload makes the key-set row-dependent.
    "q60_variant" -> ((s, d) => {
      val k = variant_get(parse_json(col("props")), "$.k", "int")
      val payload = when(col("event_type") === "purchase",
          concat(lit("{\"kind\":\"purchase\",\"item\":{\"id\":"), k,
            lit("},\"qty\":"), col("event_id") % 5, lit("}")))
        .when(col("event_type") === "error",
          concat(lit("{\"kind\":\"error\",\"code\":"), k, lit("}")))
        .otherwise(lit("{\"kind\":\"other\",\"tags\":[\"alpha\",\"beta\"]}"))
      ev(s, d)
        .withColumn("v", parse_json(payload))
        .select(
          variant_get(col("v"), "$.kind", "string").as("kind"),
          try_variant_get(col("v"), "$.qty", "int").as("qty"),
          try_variant_get(col("v"), "$.code", "int").as("code"),
          try_variant_get(col("v"), "$.item.id", "int").as("item_id"),
          try_variant_get(col("v"), "$.tags[1]", "string").as("tag2"))
        .groupBy("kind")
        .agg(
          count(lit(1)).as("n"),
          sum("qty").as("qty_sum"),
          max("code").as("max_code"),
          max("item_id").as("max_item"),
          max("tag2").as("tag2"))
        .orderBy("kind")
    }),

    // GROUP BY ALL — the modern SQL shorthand (grouped by every
    // non-aggregate select item); one text on both engines
    "q58_group_by_all" -> ((s, d) => {
      graft.SqlSurface.registerTables(s, d)
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |       round(sum(l_quantity), 2) AS qty
          |FROM lineitem GROUP BY ALL
          |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    }),

    // higher-order array functions as first-class query surface (the
    // same transform/filter/aggregate family the vector ops build on):
    // per order, the sorted quantity list and three HOF folds over it.
    // collect_list alone is partitioning-ordered — sort_array makes it
    // deterministic; the left-fold sum then runs in sorted order on both
    // engines.
    "q57_array_hof" -> ((s, d) =>
      li(s, d).groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_quantity"))).as("qs"))
        .select(col("l_orderkey"),
          size(col("qs")).as("n_items"),
          size(filter(col("qs"), q => q > 25)).as("n_big"),
          round(aggregate(col("qs"), lit(0.0), (acc, q) => acc + q), 2)
            .as("total_qty"),
          exists(col("qs"), q => q > 45).cast("int").as("has_jumbo"))
        .orderBy("l_orderkey")),

    // null-safe equality join (<=> / IS NOT DISTINCT FROM): the join
    // flavor where NULL keys MATCH each other — required when a nullable
    // derived key partitions both sides and the null bucket must
    // reconcile, not silently drop (a plain = join loses it)
    "q56_null_safe_join" -> ((s, d) => {
      def side(parity: Int, n: String) = ord(s, d)
        .filter(col("o_orderkey") % 2 === parity)
        .groupBy(nullif(col("o_orderpriority"), lit("5-LOW")).as(s"k_$parity"))
        .agg(count(lit(1)).as(n))
      side(0, "n_even").join(side(1, "n_odd"),
          col("k_0") <=> col("k_1"), "inner")
        .select(col("k_0").as("priority_key"), col("n_even"), col("n_odd"))
        .orderBy(col("priority_key").asc_nulls_first)
    }),

    // market-basket co-occurrence: part pairs appearing in the same order,
    // ranked by support — text PMI's (td_pmi_pairs) retail sibling. Pair
    // generation is ROW-LOCAL: baskets collect into a sorted array and
    // the i<j pairs expand via nested transforms — no self-join, one
    // basket shuffle, and the quadratic fan-out is bounded per basket
    // (sorted array ⟹ part_a < part_b by construction).
    "q54_basket_pairs" -> ((s, d) => {
      // collect_set dedups inside the one basket aggregation — a separate
      // distinct would add a second full shuffle of the fact
      val baskets = li(s, d)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      baskets
        .select(explode(flatten(transform(col("parts"), (x, i) =>
          transform(slice(col("parts"), i + 2, size(col("parts"))),
            y => struct(x.as("part_a"), y.as("part_b")))))).as("p"))
        .groupBy(col("p.part_a").as("part_a"), col("p.part_b").as("part_b"))
        .agg(count(lit(1)).as("support"))
        .orderBy(col("support").desc, col("part_a"), col("part_b"))
        .limit(20)
    }),

    // sequence analytics: per-customer order-priority transition counts
    // (the Markov-transition rollup). lag over the per-customer order
    // sequence — one shuffle on the entity key, ties broken by orderkey.
    "q55_order_transitions" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      ord(s, d)
        .withColumn("prev_priority", lag("o_orderpriority", 1).over(w))
        .filter(col("prev_priority").isNotNull)
        .groupBy(col("prev_priority"), col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n_transitions"))
        .orderBy("prev_priority", "priority")
    }),

    // conversion funnel over the event stream: per first-view cohort day,
    // how many viewers purchased within the hour. The retention query's
    // (q40) sibling — two user-grain aggregations co-partitioned on
    // user_id, integer counts, one interval comparison.
    "q53_conversion" -> ((s, d) => {
      val e = ev(s, d)
      val firstView = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("fv"))
      val firstPurchase = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"))
        .join(firstView, "user_id")
        .filter(col("pts") > col("fv"))
        .groupBy("user_id").agg(min("pts").as("fp"))
      firstView.join(firstPurchase, Seq("user_id"), "left")
        .groupBy(to_date(col("fv")).as("cohort_date"))
        .agg(count(lit(1)).as("n_viewers"),
          sum(when(col("fp") <= col("fv") + expr("INTERVAL 1 HOUR"), 1L)
            .otherwise(0L)).as("n_converted"))
        .withColumn("conv_rate", round(
          col("n_converted").cast("double") / col("n_viewers"), 6))
        .orderBy("cohort_date")
    }),

    // ANSI FILTER clause on aggregates — the standard syntax behind the
    // SUM(CASE...) pivots (A2); one SQL text serves both engines
    "q52_filter_clause" -> ((s, d) => {
      graft.SqlSurface.registerTables(s, d)
      s.sql(
        """SELECT o_orderstatus, count(*) AS n_orders,
          |       count(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
          |       round(avg(o_totalprice)
          |             FILTER (WHERE o_orderpriority = '1-URGENT'), 2) AS avg_urgent
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),

    // date/time function family — a surface the reference has NONE of
    // (SURVEY §2.2: "no date arithmetic anywhere"): truncation, parts,
    // month-end, interval arithmetic, day spans, all on the month grain
    "q51_date_funcs" -> ((s, d) =>
      ord(s, d).groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("month"))
        .agg(count(lit(1)).as("n"),
          year(min("o_orderdate")).as("yr"),
          quarter(min("o_orderdate")).as("qtr"),
          last_day(to_date(min("o_orderdate"))).as("month_end"))
        .withColumn("next_month", add_months(col("month"), 1))
        .withColumn("days_in_month",
          datediff(col("month_end"), col("month")) + 1)
        .orderBy("month")),

    // transcendental/math function family parity: sin/cos/sqrt/exp/pow/
    // atan2/log10 through rounded aggregates — the numeric-library
    // surface every analytics engine must agree on (JVM Math vs C libm
    // differ at most in the last ulp, far inside the rounding)
    "q50_math_funcs" -> ((s, d) =>
      ev(s, d).groupBy("event_type").agg(
        round(sum(sin(radians(col("value")))), 6).as("sum_sin"),
        round(sum(cos(radians(col("value")))), 6).as("sum_cos"),
        round(avg(sqrt(abs(col("value")))), 6).as("avg_sqrt"),
        round(avg(exp(col("value") / 100)), 6).as("avg_exp"),
        round(max(pow(col("value"), lit(1.5))), 6).as("max_pow"),
        round(avg(atan2(col("value"), lit(100.0))), 6).as("avg_atan2"),
        round(avg(log10(col("value") + 1)), 6).as("avg_log10"))
        .orderBy("event_type")),

    // data-quality expectations: N row rules in ONE scan (conditional
    // sums), uniqueness via distinct count, referential integrity via one
    // left join — the publish gate a batch passes before it lands
    "q49_expectations" -> ((s, d) => {
      import graft.ops.Expectations._
      val l = li(s, d)
      val rowReport = checkRows(l, Seq(
        Rule("qty_positive", col("l_quantity") <= 0),
        Rule("discount_in_unit_range",
          col("l_discount") < 0 || col("l_discount") > 1),
        Rule("shipdate_present", col("l_shipdate").isNull),
        Rule("tax_nonnegative", col("l_tax") < 0)))
      val pkReport = checkUnique(ord(s, d), "orders_pk_unique", Seq("o_orderkey"))
      val fkReport = checkReferential(l, ord(s, d), "lineitem_fk_orders",
        "l_orderkey", "o_orderkey")
      rowReport.unionByName(pkReport).unionByName(fkReport).orderBy("rule")
    }),

    // FULL OUTER join — the one join flavor the rest of the surface
    // doesn't exercise: per-nation customer vs supplier presence, keeping
    // nations that have either side only (coalesced keys + zero-filled
    // counts). Both inputs pre-aggregate to nation grain, so the outer
    // join is dimension-sized.
    "q48_full_outer" -> ((s, d) => {
      val c = cust(s, d).groupBy(col("c_nationkey").as("ck"))
        .agg(count(lit(1)).as("n_customers"))
      val p = supp(s, d).groupBy(col("s_nationkey").as("sk"))
        .agg(count(lit(1)).as("n_suppliers"))
      c.join(p, col("ck") === col("sk"), "full_outer")
        .select(coalesce(col("ck"), col("sk")).as("nationkey"),
          coalesce(col("n_customers"), lit(0L)).as("n_customers"),
          coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
        .orderBy("nationkey")
    }),

    // custom TypedImperativeAggregate: deterministic bounded value sample
    // per group (k smallest distinct) — collect_set's shuffle-safe,
    // size-bounded replacement; the buffer ships ≤k strings per partition
    "q47_bounded_distinct" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      ord(s, d).groupBy("o_orderstatus")
        .agg(expr("array_join(bounded_distinct(o_orderpriority, 3), ',')")
          .as("sample_priorities"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus")
    }),

    // robust statistics: per-group winsorization — clip to the group's
    // [p5, p95] band, then average. The exact grouped percentiles come
    // from one pass (q25's operator); the clip itself is a broadcast join
    // of a |groups|-row bounds table back onto the fact, so the second
    // pass never shuffles the fact either.
    "q46_winsorize" -> ((s, d) => {
      val l = li(s, d)
      val bounds = l.groupBy("l_returnflag").agg(
        expr("percentile(l_extendedprice, 0.05)").as("lo"),
        expr("percentile(l_extendedprice, 0.95)").as("hi"))
      l.join(broadcast(bounds), "l_returnflag")
        .withColumn("clipped",
          least(greatest(col("l_extendedprice"), col("lo")), col("hi")))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          r2(avg("l_extendedprice")).as("raw_avg"),
          r2(avg("clipped")).as("winsorized_avg"),
          r2(min("lo")).as("p05"), r2(max("hi")).as("p95"))
        .orderBy("l_returnflag")
    }),

    // dynamic pivot: order counts per status x priority; values pinned so
    // the column set (and the oracle's) is stable
    "q35_pivot" -> ((s, d) =>
      ord(s, d).groupBy("o_orderstatus")
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .count().na.fill(0L)
        .orderBy("o_orderstatus")),

    // set-operation completeness beyond q13's UNION: INTERSECT and EXCEPT
    // with their SQL bag/distinct semantics
    "q36_setops" -> ((s, d) => {
      val urgent = ord(s, d).filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey")
      val filled = ord(s, d).filter(col("o_orderstatus") === "F")
        .select("o_custkey")
      val both = urgent.intersect(filled)
        .withColumn("relation", lit("urgent_and_filled"))
      val urgentOnly = urgent.except(filled)
        .withColumn("relation", lit("urgent_never_filled"))
      both.unionByName(urgentOnly)
        .groupBy("relation").agg(count(lit(1)).as("n_customers"))
        .orderBy("relation")
    }),

    // left-semi join: customers WITH at least one urgent order — J-family
    // completeness (q4 covers anti; this is the EXISTS-shaped positive)
    "q32_semi_join" -> ((s, d) =>
      cust(s, d).join(
          ord(s, d).filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")),

    // scalar subquery + correlated EXISTS through the SQL surface: the
    // planner features (subquery rewrite to joins) exercised via
    // spark.sql over registered views — the dbt-user path end to end
    "q33_scalar_subquery" -> ((s, d) => {
      graft.SqlSurface.registerTables(s, d)
      s.sql(
        """SELECT o_orderpriority, count(*) AS n_big
          |FROM orders
          |WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM orders)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),

    "q34_exists_correlated" -> ((s, d) => {
      graft.SqlSurface.registerTables(s, d)
      s.sql(
        """SELECT c_mktsegment, count(*) AS n_customers
          |FROM customer c
          |WHERE EXISTS (SELECT 1 FROM orders o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_orderstatus = 'F')
          |  AND NOT EXISTS (SELECT 1 FROM orders o2
          |                  WHERE o2.o_custkey = c.c_custkey
          |                    AND o2.o_orderpriority = '1-URGENT')
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    }),

    // Morton / Z-order key over two order dimensions — the derived
    // layout key is pure integer arithmetic, verified value-for-value
    "q31_zorder_key" -> ((s, d) =>
      ord(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          graft.ops.ZOrder.zorderKey(
            col("o_orderkey").cast("int").bitwiseAND(lit(0xffff)),
            col("o_custkey").cast("int").bitwiseAND(lit(0xffff))).as("z_key"))
        .orderBy("o_orderkey")),

    // single-pass column profiling over orders (multi-distinct via Expand)
    "q30_profile" -> ((s, d) =>
      graft.ops.Profile.profile(ord(s, d),
        Seq("o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate"))
        .orderBy("column")),

    // Approximate percentile (GK/QuantileSummaries sketch — the 100 TB
    // quantile path) checked the same way as the HLL query: the sketch
    // guarantees rank error <= 1/accuracy (1% here), so the approx p50
    // must land between the exact 45th and 55th percentiles — a 5x
    // margin that holds across merge orders. The oracle asserts the
    // exact quantile and the bound flag literally true.
    "q29_approx_percentile" -> ((s, d) =>
      ev(s, d).groupBy("event_type").agg(
        round(expr("percentile(value, 0.5)"), 6).as("exact_p50"),
        count(lit(1)).as("n_events"),
        expr("approx_percentile(value, 0.5, 100)").as("ap"),
        expr("percentile(value, 0.45)").as("lo45"),
        expr("percentile(value, 0.55)").as("hi55"))
        .select(col("event_type"), col("exact_p50"), col("n_events"),
          (col("ap") >= col("lo45") && col("ap") <= col("hi55")).as("approx_within_bound"))
        .orderBy("event_type")),

    // native (custom SparkPlan) range join, keyed: each user's error
    // events inside that user's own first-hour window. Same semantics as
    // an equi-join + BETWEEN filter — which is exactly what the oracle
    // runs — but executed by graft's sweep-merge RangeJoinExec.
    "q28_range_join_native" -> ((s, d) => {
      val evts = ev(s, d)
      val intervals = evts.groupBy(col("user_id").as("window_user"))
        .agg(min(unix_timestamp(col("ts"))).as("lo"))
        .withColumn("hi", col("lo") + 3600L)
      val errors = evts.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), unix_timestamp(col("ts")).as("err_sec"))
      graft.plans.NativeRangeJoin.pointInInterval(errors, "err_sec",
          intervals, "lo", "hi", keys = Seq(("user_id", "window_user")))
        .select("event_id", "err_sec", "user_id", "lo", "hi")
        .orderBy("event_id")
    }),

    // as-of join: for every click, the user's most recent earlier error —
    // verified against DuckDB's native ASOF LEFT JOIN
    "q23_asof_join" -> ((s, d) => {
      val evts = ev(s, d).select("event_id", "user_id", "ts", "event_type")
      val clicks = evts.filter(col("event_type") === "click").drop("event_type")
      val errors = evts.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("err_ts"),
          col("event_id").as("last_error_id"))
      graft.ops.AsOf.joinAsOf(clicks, errors, Seq("user_id"), "ts", "err_ts")
        .orderBy("event_id")
    }),

    // forward as-of with tolerance: next error AFTER each click, nulled
    // beyond the hour — merge_asof(direction='forward', tolerance) as a
    // one-shuffle window composition; right side pre-deduped on (key, ts)
    // so the winner is deterministic in any engine
    "q68_asof_forward" -> ((s, d) => {
      val evts = ev(s, d).select("event_id", "user_id", "ts", "event_type")
      val clicks = evts.filter(col("event_type") === "click").drop("event_type")
      val errors = evts.filter(col("event_type") === "error")
        .groupBy(col("user_id"), col("ts").as("next_err_ts"))
        .agg(min("event_id").as("next_error_id"))
      graft.ops.AsOf.joinAsOfForward(clicks, errors, Seq("user_id"),
          "ts", "next_err_ts", toleranceSec = Some(3600L))
        .orderBy("event_id")
    }),

    // key-skew diagnostic: topN heaviest user_ids with share + cumulative
    // share - the pre-flight check before committing a 100 TB shuffle on
    // this key (see graft.ops.Skew.skewReport)
    "q71_skew_report" -> ((s, d) =>
      graft.ops.Skew.skewReport(ev(s, d), Seq("user_id"), topN = 10)
        .orderBy("rk")),

    // Spark 4 listagg: ORDERED string aggregation (the reporting-surface
    // op warehouses call LISTAGG/STRING_AGG); the WITHIN GROUP order
    // makes the concatenation deterministic in any engine
    "q70_listagg" -> ((s, d) => {
      graft.SqlSurface.registerTables(s, d)
      s.sql("""SELECT r.r_name AS region,
               listagg(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name)
                 AS nations,
               count(*) AS n_nations
               FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
               GROUP BY r.r_name ORDER BY region""")
    }),

    // nearest as-of: closest error either side of each click, exact ties
    // backward — both candidates from two frames over ONE sorted window
    "q69_asof_nearest" -> ((s, d) => {
      val evts = ev(s, d).select("event_id", "user_id", "ts", "event_type")
      val clicks = evts.filter(col("event_type") === "click").drop("event_type")
      val errors = evts.filter(col("event_type") === "error")
        .groupBy(col("user_id"), col("ts").as("near_err_ts"))
        .agg(min("event_id").as("near_error_id"))
      graft.ops.AsOf.joinAsOfNearest(clicks, errors, Seq("user_id"),
          "ts", "near_err_ts")
        .orderBy("event_id")
    }),

    // SCD type-2 reconstruction from a change log (the dbt `snapshot`
    // materialization's check strategy, one-shot form): collapse runs of
    // equal consecutive states per entity (gaps-and-islands), then close
    // each island with the next island's start. Two windows over ONE
    // shuffle on the entity key — the same partitioning serves both.
    "q61_scd2" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts")
      ev(s, d)
        .select(col("user_id"), col("event_type").as("state"), col("ts"))
        // the STRUCT wrapper keeps "no previous row" (null struct from
        // lag) distinguishable from "previous state was NULL" (non-null
        // struct holding a null field), and <=> makes a NULL state a
        // tracked value, so a change to or from NULL opens a version on
        // corpora with NULL tracked columns, not just this one
        .withColumn("prev_state", lag(struct(col("state")), 1).over(w))
        .filter(col("prev_state").isNull ||
          !(col("prev_state") <=> struct(col("state"))))
        .drop("prev_state")
        .withColumn("valid_to", lead("ts", 1).over(w))
        .select(col("user_id"), col("state"), col("ts").as("valid_from"),
          col("valid_to"), col("valid_to").isNull.as("is_current"))
        .orderBy("user_id", "valid_from")
    }),

    // the read side of SCD2: every entity's state AS OF an instant —
    // half-open interval containment [valid_from, valid_to) over the
    // q61 history. Same single entity-key shuffle; the containment
    // filter is two comparisons per version row, and at scale prunes
    // via min/max stats when the history is clustered by valid_from.
    "q62_scd2_asof" -> ((s, d) => {
      val asOf = lit("2024-01-15 00:00:00").cast("timestamp")
      val w = Window.partitionBy("user_id").orderBy("ts")
      ev(s, d)
        .select(col("user_id"), col("event_type").as("state"), col("ts"))
        .withColumn("prev_state", lag(struct(col("state")), 1).over(w))
        .filter(col("prev_state").isNull ||
          !(col("prev_state") <=> struct(col("state"))))
        .withColumn("valid_to", lead("ts", 1).over(w))
        .filter(col("ts") <= asOf &&
          (col("valid_to").isNull || col("valid_to") > asOf))
        .select(col("user_id"), col("state"), col("ts").as("valid_from"))
        .orderBy("user_id")
    }),

    // J3 at full TPC-H Q5 depth: 6-table join — region→nation pre-joined
    // and broadcast (constant-size), supplier broadcast (100·SF rows,
    // size-gated), customer size-gated, and ONE fact-fact shuffle
    // (lineitem⋈orders on orderkey). The local-supplier predicate
    // (s_nationkey = c_nationkey) rides the supplier join as a second
    // equi-key, so no post-join filter materializes the mismatched rows.
    // This is the shape Catalyst's join reorder + AQE must keep optimal
    // at 100 TB: every dimension hop is broadcast, the single big shuffle
    // is on the fact key.
    "q63_deep_join" -> ((s, d) => {
      val asiaNations = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      ord(s, d)
        .join(graft.ops.AutoBroadcast.sizeGate(
          cust(s, d).join(broadcast(asiaNations),
            col("c_nationkey") === col("n_nationkey"))
            .select("c_custkey", "c_nationkey", "n_name")),
          col("o_custkey") === col("c_custkey"))
        .join(li(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(graft.ops.AutoBroadcast.sizeGate(supp(s, d)),
          col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .groupBy("n_name")
        .agg(
          r2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),

    // Iterative graph op (beyond reference): PageRank over the undirected
    // customer–supplier trade graph (an edge when a customer's order has
    // a line supplied by that supplier). Pregel-as-DataFrame: per round,
    // ONE shuffle of the edge list keyed by dst aggregates incoming
    // rank/degree contributions; the rank frame is 2 narrow columns and
    // localCheckpoint'd so lineage stays flat (same iterative-plan
    // discipline as Embeddings.kmeansTrain / TextOps.bpeTrain). Rounds
    // are the only sequential element; per-round driver traffic is zero.
    // At 100 TB the edge list is the only big frame, and it shuffles on
    // dst exactly once per round — degree is precomputed, never a window.
    // Undirected ⇒ no dangling mass; ranks scaled by N for 6dp stability.
    "q64_pagerank" -> ((s, d) => {
      // node ids: customer → 2k, supplier → 2k+1 (disjoint, engine-stable)
      val fwd = ord(s, d)
        .join(li(s, d), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val edges = fwd.unionByName(
          fwd.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint()
      val rank = graft.ops.Graph.pageRank(edges, PrIters, PrDamping)
      pr_out(rank)
    }),

    // W1+P-style composite (beyond reference): bounded-window EWMA per
    // user — the position-weighted frame a plain windowed sum cannot
    // express. The frame's value list (≤ EwmaW elements by construction)
    // is weighted via the same left-fold dot the embedding ops use
    // (proven bit-parity with DuckDB's list_dot_product); the weight
    // normalizer uses the geometric-series closed form, so no second
    // fold. One user-keyed shuffle; frames never exceed EwmaW elements,
    // so state per row is bounded at any history length — the reason to
    // prefer a bounded EWMA over the recursive infinite-history form,
    // which would need a sequential scan per user.
    "q65_ewma" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-(EwmaW - 1), Window.currentRow)
      ev(s, d).filter(col("event_type") === "purchase")
        .withColumn("vals", collect_list("value").over(w))
        .withColumn("wts", transform(sequence(lit(1), size(col("vals"))),
          i => pow(lit(EwmaDecay),
            size(col("vals")).cast("double") - i.cast("double"))))
        .withColumn("ewma", round(
          aggregate(zip_with(col("vals"), col("wts"), (x, y) => x * y),
            lit(0.0), (acc, v) => acc + v) /
            ((lit(1.0) - pow(lit(EwmaDecay),
              size(col("vals")).cast("double"))) / lit(1.0 - EwmaDecay)), 6))
        .select("event_id", "user_id", "ts", "value", "ewma")
        .orderBy("event_id")
    }),

    // manual skew-salted join surfaced as a query: ops.Skew.saltedJoin
    // spreads each orders row over 8 salted reducers (whole-row-hash
    // salt, small side replicated 8×), then aggregates per market
    // segment — row-for-row identical to the plain join, which is
    // exactly what the oracle checks. The knob for the key-skew case
    // AQE's sort-merge splitter can't reach (hash-partitioned upstream,
    // or one hot key overwhelming a single build side).
    "q66_salted_join" -> ((s, d) => {
      val joined = graft.ops.Skew.saltedJoin(
        ord(s, d).withColumnRenamed("o_custkey", "c_custkey"),
        cust(s, d).select("c_custkey", "c_mktsegment"),
        Seq("c_custkey"), saltFactor = 8)
      joined.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total_price"))
        .orderBy("c_mktsegment")
    }),

    // Kaplan–Meier survival over signup→first-purchase delay: users
    // without a purchase are right-censored at the corpus horizon.
    // Per-user firsts are one keyed aggregation; everything after runs
    // on the DAY-GRID duration table (≤ horizon-days rows — state
    // bounded regardless of user count): risk sets as total − prefix
    // sum, the KM product as exp of a prefix sum of logs. The
    // single-partition windows are over that bounded grid, never the
    // user table.
    "q67_survival" -> ((s, d) => {
      val e = ev(s, d)
      val su = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(to_date(col("ts"))).as("d0"))
      val pu = e.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min(to_date(col("ts"))).as("dp"))
      val horizon = e.agg(max(to_date(col("ts"))).as("dmax"))
      val users = su.join(pu, Seq("user_id"), "left")
        .crossJoin(broadcast(horizon))
        .withColumn("event", col("dp").isNotNull && !(col("dp") < col("d0")))
        .withColumn("dur",
          when(col("event"), datediff(col("dp"), col("d0")))
            .otherwise(datediff(col("dmax"), col("d0"))))
      val tab = users.groupBy("dur")
        .agg(sum(when(col("event"), 1L).otherwise(0L)).as("n_events"),
          count(lit(1)).as("n_total"))
      val wPrev = Window.orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      tab
        .withColumn("n_risk", sum("n_total").over(wAll) -
          coalesce(sum("n_total").over(wPrev), lit(0L)))
        .withColumn("survival", round(exp(sum(
          log(lit(1.0) - col("n_events").cast("double") / col("n_risk")))
          .over(wCum)), 6))
        .filter(col("n_events") > 0)
        .select(col("dur").as("day"), col("n_events"), col("n_risk"),
          col("survival"))
        .orderBy("day")
    })
  )

  /** EWMA frame width + decay (q65_ewma) — shared with the oracle. */
  /** One SQL text for BOTH engines (Spark executes it via UnionLoop;
    * DuckDB runs it verbatim as the oracle): 2-hop reachability with path
    * multiplicity from the minimum part over the co-purchase edge set.
    * UNION ALL + a depth guard is the portable recursion contract —
    * hop < 2 bounds the loop at 3 levels in any engine. */
  private[queries] val RecursiveReachSql =
    """WITH RECURSIVE edges AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey),
      |seed AS (SELECT min(l_partkey) AS p FROM lineitem),
      |reach(part, hop) AS (
      |  SELECT p, 0 FROM seed
      |  UNION ALL
      |  SELECT e.dst, r.hop + 1
      |  FROM reach r JOIN edges e ON e.src = r.part
      |  WHERE r.hop < 2)
      |SELECT part, min(hop) AS min_hops, count(*) AS n_paths
      |FROM reach GROUP BY part ORDER BY part""".stripMargin

  private val EwmaW = 20
  private val EwmaDecay = 0.9

  private def pr_out(rank: org.apache.spark.sql.DataFrame) =
      rank.select(col("node"),
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("kind"),
          floor(col("node") / 2).as("entity_key"),
          col("deg").as("degree"),
          round(col("rank") * col("n_nodes"), 6).as("rank_x_n"))
        .orderBy("node")

  /** PageRank loop constants — shared with the unrolled DuckDB oracle. */
  private val PrIters = 4
  private val PrDamping = 0.85

  val oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
         round(avg(l_quantity), 2) AS avg_qty,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1997-12-31'
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q2_filter_project" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
         FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 100000
         ORDER BY o_orderkey""",
    "q3_join_agg" ->
      """SELECT c_mktsegment,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
         count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",
    "q4_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
         ORDER BY c_custkey""",
    "q5_window_rownum" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, order_seq FROM (
           SELECT o_custkey, o_orderkey, o_orderdate,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey) AS order_seq
           FROM orders) t
         WHERE order_seq <= 3 ORDER BY o_custkey, o_orderkey""",
    "q6_case_bucket" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                     WHEN o_totalprice < 150000 THEN 'medium'
                     ELSE 'large' END AS price_tier,
                o_orderpriority IN ('1-URGENT', '2-HIGH') AS is_urgent,
                count(*) AS n_orders,
                round(avg(o_totalprice), 2) AS avg_price
         FROM orders GROUP BY 1, 2 ORDER BY 1, 2""",
    "q7_regex_extract" ->
      """SELECT CAST(regexp_extract(o_orderpriority, '^([0-9]+)-', 1) AS INT) AS priority_rank,
                count(*) AS n_orders
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q8_between_flag" ->
      """SELECT l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 90 DAY AS shipped_fast,
                count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY 1""",
    "q9_conditional_pivot" ->
      """SELECT l_returnflag,
                CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS open_items,
                CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS finished_items,
                round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END), 2) AS open_qty
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q10_distinct" ->
      """SELECT DISTINCT c_mktsegment, o_orderpriority
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY 1, 2""",
    "q11_dense_range" ->
      """WITH o AS (SELECT date_trunc('month', o_orderdate) AS order_month FROM orders),
           bounds AS (SELECT min(order_month) AS lo, max(order_month) AS hi FROM o),
           months AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS order_month FROM bounds),
           counts AS (SELECT order_month, count(*) AS n_orders FROM o GROUP BY 1)
         SELECT m.order_month, coalesce(c.n_orders, 0) AS n_orders
         FROM months m LEFT JOIN counts c USING (order_month)
         ORDER BY 1""",
    "q12_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    "q13_union" ->
      """SELECT entity_id, kind, acctbal FROM (
           SELECT c_custkey AS entity_id, 'customer' AS kind, round(c_acctbal, 2) AS acctbal FROM customer
           UNION ALL
           SELECT s_suppkey AS entity_id, 'supplier' AS kind, round(s_acctbal, 2) AS acctbal FROM supplier)
         ORDER BY kind, entity_id""",
    "q14_left_coalesce" ->
      """SELECT o_orderkey,
                coalesce(round(sum(l_quantity), 2), 0) AS total_qty,
                count(l_linenumber) AS n_items
         FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY 1 ORDER BY 1""",
    "q15_count_distinct" ->
      """SELECT o_orderpriority,
                count(DISTINCT o_custkey) AS n_customers,
                count(*) AS n_orders
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q16_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
                count(*) AS n_events, round(sum(value), 2) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q17_json_extract" ->
      """SELECT event_type,
                round(avg(CAST(props->>'$.k' AS INT)), 2) AS avg_k,
                max(CAST(props->>'$.k' AS INT)) AS max_k
         FROM events GROUP BY 1 ORDER BY 1""",
    "q18_stream_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
                count(*) AS n_events, round(sum(value), 6) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q20_approx_distinct" ->
      """SELECT l_returnflag,
                count(DISTINCT l_orderkey) AS exact_orders,
                count(*) AS n_items,
                true AS approx_within_10pct
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q21_lag_delta" ->
      """WITH hourly AS (
           SELECT date_trunc('hour', ts) AS hour, event_type,
                  count(*) AS n_events
           FROM events GROUP BY 1, 2)
         SELECT hour, event_type, n_events,
                lag(n_events) OVER (PARTITION BY event_type ORDER BY hour) AS prev_n,
                n_events - coalesce(
                  lag(n_events) OVER (PARTITION BY event_type ORDER BY hour), 0) AS delta
         FROM hourly ORDER BY event_type, hour""",
    "q38_rank_family" ->
      """SELECT o_orderkey, o_orderpriority,
                ntile(4) OVER w AS quartile,
                round(percent_rank() OVER w, 6) AS pct_rank,
                round(cume_dist() OVER w, 6) AS cume,
                first_value(o_orderkey) OVER w AS top_order
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice DESC, o_orderkey ASC)
         ORDER BY o_orderkey""",
    "q39_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(grouping(l_returnflag) AS TINYINT) AS g_flag,
                CAST(grouping(l_linestatus) AS TINYINT) AS g_status,
                count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                 (l_linestatus), ())
         ORDER BY g_flag, g_status,
                  l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "q40_retention" ->
      """WITH first AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort_date
                        FROM events GROUP BY user_id),
         act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
         SELECT f.cohort_date,
                datediff('day', f.cohort_date, a.d) AS day_offset,
                count(DISTINCT a.user_id) AS n_users
         FROM first f JOIN act a USING (user_id)
         GROUP BY 1, 2 ORDER BY cohort_date, day_offset""",
    "q41_unpivot" ->
      """WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
         types AS (SELECT unnest(['click','error','purchase','signup','view'])
                     AS event_type),
         c AS (SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS n
               FROM events GROUP BY 1, 2)
         SELECT days.d, types.event_type, coalesce(c.n, 0) AS n_events
         FROM days CROSS JOIN types
         LEFT JOIN c ON c.d = days.d AND c.event_type = types.event_type
         ORDER BY days.d, types.event_type""",
    "q59_setops_all" ->
      """WITH urgent AS (SELECT o_custkey FROM orders
                         WHERE o_orderpriority = '1-URGENT'),
         filled AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
         ex AS (SELECT o_custkey, count(*) AS n FROM
                  (SELECT o_custkey FROM urgent EXCEPT ALL
                   SELECT o_custkey FROM filled) GROUP BY 1),
         ia AS (SELECT o_custkey, count(*) AS n FROM
                  (SELECT o_custkey FROM urgent INTERSECT ALL
                   SELECT o_custkey FROM filled) GROUP BY 1)
         SELECT op, n_custkeys, n_rows FROM (
           SELECT 'except_all' AS op, count(*) AS n_custkeys,
                  CAST(sum(n) AS BIGINT) AS n_rows FROM ex
           UNION ALL
           SELECT 'intersect_all', count(*), CAST(sum(n) AS BIGINT) FROM ia)
         ORDER BY op""",
    "q60_variant" ->
      """WITH built AS (
           SELECT CASE
             WHEN event_type = 'purchase' THEN
               '{"kind":"purchase","item":{"id":' || CAST(props->>'$.k' AS INT)
                 || '},"qty":' || (event_id % 5) || '}'
             WHEN event_type = 'error' THEN
               '{"kind":"error","code":' || CAST(props->>'$.k' AS INT) || '}'
             ELSE '{"kind":"other","tags":["alpha","beta"]}' END AS payload
           FROM events)
         SELECT json_extract_string(payload, '$.kind') AS kind,
                count(*) AS n,
                CAST(sum(CAST(payload->>'$.qty' AS INT)) AS BIGINT) AS qty_sum,
                max(CAST(payload->>'$.code' AS INT)) AS max_code,
                max(CAST(payload->>'$.item.id' AS INT)) AS max_item,
                max(json_extract_string(payload, '$.tags[1]')) AS tag2
         FROM built GROUP BY 1 ORDER BY 1""",
    "q58_group_by_all" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
                round(sum(l_quantity), 2) AS qty
         FROM lineitem GROUP BY ALL
         ORDER BY l_returnflag, l_linestatus""",
    "q57_array_hof" ->
      """SELECT l_orderkey,
                CAST(len(qs) AS INT) AS n_items,
                CAST(len(list_filter(qs, q -> q > 25)) AS INT) AS n_big,
                round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), qs),
                      (acc, q) -> acc + q), 2) AS total_qty,
                CAST(len(list_filter(qs, q -> q > 45)) > 0 AS INT) AS has_jumbo
         FROM (SELECT l_orderkey, list_sort(list(l_quantity)) AS qs
               FROM lineitem GROUP BY 1)
         ORDER BY l_orderkey""",
    "q56_null_safe_join" ->
      """WITH a AS (SELECT nullif(o_orderpriority, '5-LOW') AS k,
                           count(*) AS n_even
                    FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1),
         b AS (SELECT nullif(o_orderpriority, '5-LOW') AS k,
                      count(*) AS n_odd
               FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1)
         SELECT a.k AS priority_key, a.n_even, b.n_odd
         FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
         ORDER BY priority_key ASC NULLS FIRST""",
    "q54_basket_pairs" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
         SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                count(*) AS support
         FROM items a JOIN items b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         GROUP BY 1, 2
         ORDER BY support DESC, part_a, part_b LIMIT 20""",
    "q55_order_transitions" ->
      """WITH seq AS (
           SELECT o_custkey, o_orderpriority,
                  lag(o_orderpriority) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_priority
           FROM orders)
         SELECT prev_priority, o_orderpriority AS priority,
                count(*) AS n_transitions
         FROM seq WHERE prev_priority IS NOT NULL
         GROUP BY 1, 2 ORDER BY prev_priority, priority""",
    "q53_conversion" ->
      """WITH fv AS (SELECT user_id, min(ts) AS fv FROM events
                     WHERE event_type = 'view' GROUP BY user_id),
         fp AS (SELECT e.user_id, min(e.ts) AS fp
                FROM events e JOIN fv USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > fv.fv
                GROUP BY e.user_id)
         SELECT CAST(fv.fv AS DATE) AS cohort_date,
                count(*) AS n_viewers,
                CAST(sum(CASE WHEN fp.fp <= fv.fv + INTERVAL 1 HOUR
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
                round(CAST(sum(CASE WHEN fp.fp <= fv.fv + INTERVAL 1 HOUR
                            THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
                  AS conv_rate
         FROM fv LEFT JOIN fp USING (user_id)
         GROUP BY 1 ORDER BY cohort_date""",
    "q52_filter_clause" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
                count(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
                round(avg(o_totalprice)
                      FILTER (WHERE o_orderpriority = '1-URGENT'), 2) AS avg_urgent
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q51_date_funcs" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                count(*) AS n,
                CAST(year(min(o_orderdate)) AS INT) AS yr,
                CAST(quarter(min(o_orderdate)) AS INT) AS qtr,
                last_day(CAST(min(o_orderdate) AS DATE)) AS month_end,
                CAST(CAST(date_trunc('month', o_orderdate) AS DATE)
                     + INTERVAL 1 MONTH AS DATE) AS next_month,
                CAST(datediff('day', CAST(date_trunc('month', o_orderdate) AS DATE),
                     last_day(CAST(min(o_orderdate) AS DATE))) AS INT) + 1
                  AS days_in_month
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q50_math_funcs" ->
      """SELECT event_type,
                round(sum(sin(radians(value))), 6) AS sum_sin,
                round(sum(cos(radians(value))), 6) AS sum_cos,
                round(avg(sqrt(abs(value))), 6) AS avg_sqrt,
                round(avg(exp(value / 100)), 6) AS avg_exp,
                round(max(pow(value, 1.5)), 6) AS max_pow,
                round(avg(atan2(value, 100.0)), 6) AS avg_atan2,
                round(avg(log10(value + 1)), 6) AS avg_log10
         FROM events GROUP BY 1 ORDER BY 1""",
    "q49_expectations" ->
      """WITH rowr AS (
           SELECT count(*) AS n_checked,
                  CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS qty_positive,
                  CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS discount_in_unit_range,
                  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS shipdate_present,
                  CAST(sum(CASE WHEN l_tax < 0 THEN 1 ELSE 0 END) AS BIGINT) AS tax_nonnegative
           FROM lineitem),
         pk AS (SELECT count(*) AS n_checked,
                       count(*) - count(DISTINCT o_orderkey) AS n_violations
                FROM orders),
         fk AS (SELECT count(*) AS n_checked,
                       CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
                FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
                  ON l.l_orderkey = o.o_orderkey)
         SELECT * FROM (
           SELECT 'qty_positive' AS rule, qty_positive AS n_violations,
                  n_checked, qty_positive = 0 AS passed FROM rowr
           UNION ALL
           SELECT 'discount_in_unit_range', discount_in_unit_range, n_checked,
                  discount_in_unit_range = 0 FROM rowr
           UNION ALL
           SELECT 'shipdate_present', shipdate_present, n_checked,
                  shipdate_present = 0 FROM rowr
           UNION ALL
           SELECT 'tax_nonnegative', tax_nonnegative, n_checked,
                  tax_nonnegative = 0 FROM rowr
           UNION ALL
           SELECT 'orders_pk_unique', n_violations, n_checked,
                  n_violations = 0 FROM pk
           UNION ALL
           SELECT 'lineitem_fk_orders', n_violations, n_checked,
                  n_violations = 0 FROM fk)
         ORDER BY rule""",
    "q48_full_outer" ->
      """WITH c AS (SELECT c_nationkey AS ck, count(*) AS n_customers
                    FROM customer GROUP BY 1),
         p AS (SELECT s_nationkey AS sk, count(*) AS n_suppliers
               FROM supplier GROUP BY 1)
         SELECT coalesce(ck, sk) AS nationkey,
                coalesce(n_customers, 0) AS n_customers,
                coalesce(n_suppliers, 0) AS n_suppliers
         FROM c FULL OUTER JOIN p ON ck = sk
         ORDER BY nationkey""",
    "q47_bounded_distinct" ->
      """SELECT o_orderstatus,
                array_to_string(
                  list_sort(list_distinct(list(o_orderpriority)))[1:3], ',')
                  AS sample_priorities,
                count(*) AS n_orders
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q46_winsorize" ->
      """WITH b AS (SELECT l_returnflag,
                           quantile_cont(l_extendedprice, 0.05) AS lo,
                           quantile_cont(l_extendedprice, 0.95) AS hi
                    FROM lineitem GROUP BY 1)
         SELECT l.l_returnflag, count(*) AS n_items,
                round(avg(l_extendedprice), 2) AS raw_avg,
                round(avg(least(greatest(l_extendedprice, lo), hi)), 2)
                  AS winsorized_avg,
                round(min(lo), 2) AS p05, round(max(hi), 2) AS p95
         FROM lineitem l JOIN b USING (l_returnflag)
         GROUP BY 1 ORDER BY 1""",
    "q43_lateral_topk" ->
      """SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS price
         FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
         ORDER BY c.c_custkey, t.o_orderkey""",
    "q44_recursive_cte" -> RecursiveReachSql,
    "q45_interpolate" ->
      """WITH daily AS (
           SELECT event_type,
                  datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day_num,
                  count(*) AS n_events
           FROM events WHERE value >= 250 GROUP BY 1, 2),
         grid AS (
           SELECT event_type,
                  unnest(generate_series(min(day_num), max(day_num))) AS day_num
           FROM daily GROUP BY event_type),
         j AS (SELECT g.event_type, g.day_num, d.n_events
               FROM grid g LEFT JOIN daily d USING (event_type, day_num)),
         w AS (
           SELECT event_type, day_num, n_events,
             last_value(n_events IGNORE NULLS) OVER
               (PARTITION BY event_type ORDER BY day_num
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
             last_value(CASE WHEN n_events IS NOT NULL THEN day_num END
                        IGNORE NULLS) OVER
               (PARTITION BY event_type ORDER BY day_num
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_d,
             first_value(n_events IGNORE NULLS) OVER
               (PARTITION BY event_type ORDER BY day_num
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
             first_value(CASE WHEN n_events IS NOT NULL THEN day_num END
                         IGNORE NULLS) OVER
               (PARTITION BY event_type ORDER BY day_num
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
           FROM j)
         SELECT event_type, day_num,
                round(CASE WHEN n_events IS NOT NULL THEN CAST(n_events AS DOUBLE)
                           WHEN next_d = prev_d THEN CAST(prev_v AS DOUBLE)
                           ELSE prev_v + ((next_v - prev_v) * (day_num - prev_d))
                                / (next_d - prev_d)
                      END, 6) AS n_interp,
                CAST(n_events IS NOT NULL AS INT) AS is_observed
         FROM w ORDER BY event_type, day_num""",
    "q42_range_frame" ->
      """WITH daily AS (
           SELECT event_type,
                  datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day_num,
                  count(*) AS n_events
           FROM events WHERE value >= 250 GROUP BY 1, 2)
         SELECT event_type, day_num, n_events,
                CAST(sum(n_events) OVER (PARTITION BY event_type ORDER BY day_num
                  RANGE BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_4day
         FROM daily ORDER BY event_type, day_num""",
    "q22_rollup" ->
      """SELECT l_returnflag, l_linestatus,
                count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem
         GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "q26_cube" ->
      """SELECT l_returnflag, l_linestatus,
                count(*) AS n_items, round(avg(l_discount), 2) AS avg_disc
         FROM lineitem
         GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "q27_stats" ->
      """SELECT l_returnflag,
                round(stddev_samp(l_quantity), 2) AS sd_qty,
                round(var_samp(l_quantity), 2) AS var_qty,
                round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q25_percentile" ->
      """SELECT event_type,
                round(quantile_cont(value, 0.5), 6) AS p50,
                round(quantile_cont(value, 0.95), 6) AS p95,
                round(max(value), 6) AS p100
         FROM events GROUP BY 1 ORDER BY 1""",
    "q24_range_join" ->
      """WITH intervals AS (
           SELECT user_id AS window_user,
                  CAST(floor(epoch(min(ts))) AS BIGINT) AS lo,
                  CAST(floor(epoch(min(ts))) AS BIGINT) + 3600 AS hi
           FROM events GROUP BY user_id),
         errors AS (
           SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS err_sec
           FROM events WHERE event_type = 'error')
         SELECT e.event_id, e.err_sec, i.window_user, i.lo, i.hi
         FROM errors e JOIN intervals i ON e.err_sec BETWEEN i.lo AND i.hi
         ORDER BY e.event_id, i.window_user""",
    "q37_moving_window" ->
      """WITH daily AS (
           SELECT CAST(o_orderdate AS DATE) AS order_day,
                  round(sum(o_totalprice), 2) AS day_value
           FROM orders GROUP BY 1)
         SELECT order_day, day_value,
                round(sum(day_value) OVER (ORDER BY order_day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
                round(avg(day_value) OVER (ORDER BY order_day
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS ma7
         FROM daily ORDER BY order_day""",
    "q35_pivot" ->
      """SELECT o_orderstatus,
                CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS "1-URGENT",
                CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS "2-HIGH",
                CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS "3-MEDIUM",
                CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS "4-NOT SPECIFIED",
                CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS "5-LOW"
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q36_setops" ->
      """WITH urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
            filled AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
            both_rel AS (SELECT o_custkey, 'urgent_and_filled' AS relation
                         FROM (SELECT * FROM urgent INTERSECT SELECT * FROM filled)),
            only_rel AS (SELECT o_custkey, 'urgent_never_filled' AS relation
                         FROM (SELECT * FROM urgent EXCEPT SELECT * FROM filled))
         SELECT relation, count(*) AS n_customers
         FROM (SELECT * FROM both_rel UNION ALL SELECT * FROM only_rel)
         GROUP BY relation ORDER BY relation""",
    "q32_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment
         FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "q33_scalar_subquery" ->
      """SELECT o_orderpriority, count(*) AS n_big
         FROM orders
         WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM orders)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q34_exists_correlated" ->
      """SELECT c_mktsegment, count(*) AS n_customers
         FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
           AND NOT EXISTS (SELECT 1 FROM orders o2
                           WHERE o2.o_custkey = c.c_custkey
                             AND o2.o_orderpriority = '1-URGENT')
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q31_zorder_key" ->
      s"""SELECT o_orderkey, o_custkey,
                 ${graft.ops.ZOrder.zorderKeySql(
                   "(o_orderkey & 65535)", "(o_custkey & 65535)")} AS z_key
          FROM orders ORDER BY o_orderkey""",
    "q30_profile" ->
      """SELECT * FROM (
           SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
                  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                  count(DISTINCT o_orderkey) AS n_distinct FROM orders
           UNION ALL
           SELECT 'o_custkey', count(*),
                  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  count(DISTINCT o_custkey) FROM orders
           UNION ALL
           SELECT 'o_orderpriority', count(*),
                  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  count(DISTINCT o_orderpriority) FROM orders
           UNION ALL
           SELECT 'o_orderdate', count(*),
                  CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  count(DISTINCT o_orderdate) FROM orders)
         ORDER BY "column"""",
    "q29_approx_percentile" ->
      """SELECT event_type,
                round(quantile_cont(value, 0.5), 6) AS exact_p50,
                count(*) AS n_events,
                true AS approx_within_bound
         FROM events GROUP BY 1 ORDER BY 1""",
    "q28_range_join_native" ->
      """WITH intervals AS (
           SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS lo,
                  CAST(floor(epoch(min(ts))) AS BIGINT) + 3600 AS hi
           FROM events GROUP BY user_id),
         errors AS (
           SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS err_sec
           FROM events WHERE event_type = 'error')
         SELECT e.event_id, e.err_sec, e.user_id, i.lo, i.hi
         FROM errors e JOIN intervals i
           ON e.user_id = i.user_id AND e.err_sec BETWEEN i.lo AND i.hi
         ORDER BY e.event_id""",
    "q23_asof_join" ->
      """WITH clicks AS (
           SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
         errors AS (
           SELECT user_id, ts AS err_ts, event_id AS last_error_id
           FROM events WHERE event_type = 'error')
         SELECT c.event_id, c.user_id, c.ts, e.err_ts, e.last_error_id
         FROM clicks c ASOF LEFT JOIN errors e
           ON c.user_id = e.user_id AND c.ts >= e.err_ts
         ORDER BY c.event_id""",
    // forward direction with a microsecond-exact tolerance mask
    "q68_asof_forward" ->
      """WITH clicks AS (
           SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
         errs AS (
           SELECT user_id, ts AS next_err_ts, min(event_id) AS next_error_id
           FROM events WHERE event_type = 'error' GROUP BY user_id, ts)
         SELECT c.event_id, c.user_id, c.ts,
                CASE WHEN e.next_err_ts IS NOT NULL
                          AND epoch_us(e.next_err_ts) - epoch_us(c.ts)
                              <= 3600000000
                     THEN e.next_err_ts END AS next_err_ts,
                CASE WHEN e.next_err_ts IS NOT NULL
                          AND epoch_us(e.next_err_ts) - epoch_us(c.ts)
                              <= 3600000000
                     THEN e.next_error_id END AS next_error_id
         FROM clicks c ASOF LEFT JOIN errs e
           ON c.user_id = e.user_id AND c.ts <= e.next_err_ts
         ORDER BY c.event_id""",
    "q71_skew_report" ->
      """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS cnt
                    FROM events GROUP BY user_id),
         t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_rows,
                      CAST(count(*) AS BIGINT) AS n_keys FROM c),
         r AS (SELECT key, cnt, row_number() OVER (ORDER BY cnt DESC, key) AS rk
               FROM c)
         SELECT r.rk, r.key, CAST(r.cnt AS BIGINT) AS cnt, t.n_keys,
                round(CAST(r.cnt AS DOUBLE) / t.total_rows, 6) AS share,
                round(CAST(sum(r.cnt) OVER (ORDER BY r.rk
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                  / t.total_rows, 6) AS cum_share
         FROM r CROSS JOIN t WHERE r.rk <= 10 ORDER BY r.rk""",

    "q70_listagg" ->
      """SELECT r.r_name AS region,
                string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
                count(*) AS n_nations
         FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
         GROUP BY r.r_name ORDER BY region""",
    // nearest = choose between the backward and forward ASOF matches by
    // microsecond distance, exact ties backward — the Spark side's rule
    "q69_asof_nearest" ->
      """WITH clicks AS (
           SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
         errs AS (
           SELECT user_id, ts AS ets, min(event_id) AS eid
           FROM events WHERE event_type = 'error' GROUP BY user_id, ts),
         b AS (SELECT c.event_id, e.ets AS bts, e.eid AS bid
               FROM clicks c ASOF LEFT JOIN errs e
                 ON c.user_id = e.user_id AND c.ts >= e.ets),
         f AS (SELECT c.event_id, e.ets AS fts, e.eid AS fid
               FROM clicks c ASOF LEFT JOIN errs e
                 ON c.user_id = e.user_id AND c.ts <= e.ets)
         SELECT c.event_id, c.user_id, c.ts,
                CASE WHEN chooseb THEN bts ELSE fts END AS near_err_ts,
                CASE WHEN chooseb THEN bid ELSE fid END AS near_error_id,
                CASE WHEN bts IS NULL AND fts IS NULL THEN NULL
                     WHEN chooseb THEN 'backward' ELSE 'forward' END
                  AS matched_dir
         FROM (SELECT c.event_id, c.user_id, c.ts, b.bts, b.bid, f.fts, f.fid,
                      (f.fts IS NULL OR (b.bts IS NOT NULL AND
                        epoch_us(c.ts) - epoch_us(b.bts)
                          <= epoch_us(f.fts) - epoch_us(c.ts))) AS chooseb
               FROM clicks c JOIN b USING (event_id) JOIN f USING (event_id)) c
         ORDER BY c.event_id""",
    "q19_session_window" ->
      """WITH marked AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         numbered AS (
           SELECT user_id, ts, value,
                  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts) AS sess_id
           FROM marked)
         SELECT user_id,
                min(ts) AS session_start,
                max(ts) + INTERVAL 30 MINUTE AS session_end,
                count(*) AS n_events,
                round(sum(value), 6) AS total_value
         FROM numbered GROUP BY user_id, sess_id
         ORDER BY user_id, session_start""",
    "q61_scd2" ->
      """WITH marked AS (
           SELECT user_id, event_type AS state, ts,
                  lag(ROW(event_type)) OVER (PARTITION BY user_id ORDER BY ts)
                    AS prev_state
           FROM events),
         islands AS (
           SELECT user_id, state, ts FROM marked
           WHERE prev_state IS NULL
              OR prev_state IS DISTINCT FROM ROW(state))
         SELECT user_id, state, ts AS valid_from,
                lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
                (lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL)
                  AS is_current
         FROM islands
         ORDER BY user_id, valid_from""",
    "q62_scd2_asof" ->
      """WITH marked AS (
           SELECT user_id, event_type AS state, ts,
                  lag(ROW(event_type)) OVER (PARTITION BY user_id ORDER BY ts)
                    AS prev_state
           FROM events),
         islands AS (
           SELECT user_id, state, ts FROM marked
           WHERE prev_state IS NULL
              OR prev_state IS DISTINCT FROM ROW(state)),
         hist AS (
           SELECT user_id, state, ts,
                  lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
           FROM islands)
         SELECT user_id, state, ts AS valid_from
         FROM hist
         WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
           AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00')
         ORDER BY user_id""",
    "q63_deep_join" ->
      """SELECT n_name,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
         count(*) AS n_items
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         JOIN orders ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         WHERE r_name = 'ASIA'
         GROUP BY 1 ORDER BY 1""",
    "q64_pagerank" -> {
      // unrolled Pregel rounds; float literals forced to DOUBLE (e0) so
      // both engines do the identical IEEE arithmetic
      val rounds = (1 to PrIters).map { r =>
        s"""r$r AS (
             SELECT d.node, d.deg, d.n_nodes,
                    (1e0 - ${PrDamping}e0) / d.n_nodes +
                      ${PrDamping}e0 * coalesce(c.in_rank, 0e0) AS rank
             FROM r${r - 1} d LEFT JOIN (
               SELECT e.dst AS node, sum(r.rank / r.deg) AS in_rank
               FROM edges e JOIN r${r - 1} r ON r.node = e.src
               GROUP BY 1) c USING (node))"""
      }.mkString(",\n")
      s"""WITH fwd AS (
            SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          edges AS (SELECT src, dst FROM fwd
                    UNION ALL SELECT dst AS src, src AS dst FROM fwd),
          deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
          nn AS (SELECT count(*) AS n_nodes FROM deg),
          r0 AS (SELECT node, deg, n_nodes, 1e0 / n_nodes AS rank
                 FROM deg, nn),
          $rounds
          SELECT node,
                 CASE WHEN node % 2 = 0 THEN 'customer'
                      ELSE 'supplier' END AS kind,
                 node // 2 AS entity_key,
                 deg AS degree,
                 round(rank * n_nodes, 6) AS rank_x_n
          FROM r$PrIters ORDER BY node"""
    },
    "q65_ewma" ->
      s"""WITH p AS (
            SELECT event_id, user_id, ts, value FROM events
            WHERE event_type = 'purchase'),
          fr AS (
            SELECT event_id, user_id, ts, value,
                   list(value) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id
                     ROWS BETWEEN ${EwmaW - 1} PRECEDING AND CURRENT ROW)
                     AS vals
            FROM p),
          wt AS (
            SELECT *, list_transform(generate_series(1, len(vals)),
                     i -> pow(${EwmaDecay}e0,
                              CAST(len(vals) - i AS DOUBLE))) AS wts
            FROM fr)
          SELECT event_id, user_id, ts, value,
                 round(list_dot_product(vals, wts) /
                       ((1e0 - pow(${EwmaDecay}e0, CAST(len(vals) AS DOUBLE)))
                        / (1e0 - ${EwmaDecay}e0)), 6) AS ewma
          FROM wt ORDER BY event_id""",

    // the oracle is the PLAIN join — the salted plan must be
    // row-for-row identical to it
    "q66_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
                round(sum(o_totalprice), 2) AS total_price
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q67_survival" ->
      """WITH su AS (SELECT user_id, min(CAST(ts AS DATE)) AS d0
                     FROM events WHERE event_type = 'signup'
                     GROUP BY user_id),
          pu AS (SELECT user_id, min(CAST(ts AS DATE)) AS dp
                 FROM events WHERE event_type = 'purchase'
                 GROUP BY user_id),
          hz AS (SELECT max(CAST(ts AS DATE)) AS dmax FROM events),
          users AS (SELECT su.user_id,
                      (dp IS NOT NULL AND NOT dp < d0) AS event,
                      CASE WHEN dp IS NOT NULL AND NOT dp < d0
                           THEN date_diff('day', d0, dp)
                           ELSE date_diff('day', d0, dmax) END AS dur
                    FROM su LEFT JOIN pu USING (user_id) CROSS JOIN hz),
          tab AS (SELECT dur,
                    CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_events,
                    count(*) AS n_total
                  FROM users GROUP BY dur),
          r AS (SELECT dur, n_events, n_total,
                  CAST(sum(n_total) OVER () AS BIGINT) -
                  CAST(coalesce(sum(n_total) OVER (ORDER BY dur
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_risk
                FROM tab),
          s AS (SELECT dur, n_events, n_risk,
                  round(exp(sum(ln(1.0 - CAST(n_events AS DOUBLE) / n_risk))
                    OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW)), 6) AS survival
                FROM r)
          SELECT CAST(dur AS INT) AS day, n_events, n_risk, survival
          FROM s WHERE n_events > 0 ORDER BY day"""
  )

  /** Plan-audit tags beside the registrations (see [[PlanTag]]). */
  override val planTags: Map[String, PlanTag] = Map(
    "q71_skew_report" -> PlanTag(bnlj = Some(
      "key-count total rides the plan as a ONE-ROW broadcast aggregate (map-side literal attach)")),
    "q67_survival" -> PlanTag(bnlj = Some(
      "1-row corpus-horizon attach (max ts) onto the per-user firsts")))
}
