package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.TripFeatures
import graft.operators.Relational
import graft.operators.Relational.{centsSum, moneySum}

/** The relational operator suite — SURVEY.md §2.2-§2.6 re-expressed over
  * the driver's synthetic tables, each with a DuckDB oracle.
  *
  * Scale notes are attached per query: joins against fixed-size dims are
  * broadcast; fact-fact joins shuffle on their keys and rely on AQE for
  * skew; scalar statistics travel via one-row broadcast joins, never a
  * driver collect.
  */
object RelationalQueries {

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  val all: Seq[(String, Q)] = Seq(

    // ---------------------------------------------------------------- A1-A3
    // TPC-H-Q1-shaped pricing summary: scan → filter (pushed to parquet) →
    // partial+final hash agg on 2 low-cardinality keys. At 100 TB this is a
    // near-perfect map-side-combine plan: 6 running aggregates, tiny shuffle.
    "q01_pricing_summary" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "lineitem")
          .filter($"l_shipdate" < lit("2001-01-01").cast("timestamp"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            (centsSum($"l_quantity") / 100.0).as("sum_qty"),
            moneySum($"l_extendedprice").as("sum_base_price"),
            (sum(round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 100)
              .cast("long")) / 100.0).as("sum_disc_price"),
            round(avg($"l_quantity"), 6).as("avg_qty"),
            round(avg($"l_extendedprice"), 6).as("avg_price"),
            count(lit(1)).as("count_order"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_qty,
        CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_base_price,
        CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_disc_price,
        round(avg(l_quantity),6) AS avg_qty,
        round(avg(l_extendedprice),6) AS avg_price,
        count(*) AS count_order
        FROM lineitem WHERE l_shipdate < TIMESTAMP '2001-01-01'
        GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""),
      "A2/A3 grouped multi-aggregate (dashboard §2.5) on the lineitem fact"),

    // ------------------------------------------------------------------ A4
    // Top-k by frequency (value_counts().head(10), 1_EDA_Dashboard.py:62).
    // groupBy+count is partial-aggregated map-side; the global top-10 is a
    // TakeOrderedAndProject — no full sort at scale.
    "q02_topk_parts" -> Q(
      (s, d) => {
        import s.implicits._
        Relational.topKByCount(t(s, d, "lineitem"), Seq($"l_partkey"), 10)
      },
      Some("""SELECT l_partkey, count(*) AS cnt FROM lineitem
        GROUP BY l_partkey ORDER BY cnt DESC, l_partkey LIMIT 10"""),
      "A4 top-k by frequency with deterministic tie-break"),

    // -------------------------------------------------------------- J1 + A6
    // Broadcast equi-join against the part dim (J1 analog of the taxi-zone
    // join, 1_EDA_Dashboard.py:26-29) + grouped multi-agg.
    "q03_join_brand_revenue" -> Q(
      (s, d) => {
        import s.implicits._
        val li = t(s, d, "lineitem")
        val p = t(s, d, "part")
        li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
          .groupBy($"p_brand")
          .agg(
            (sum(round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 100)
              .cast("long")) / 100.0).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy($"p_brand")
      },
      Some("""SELECT p_brand,
        CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT)/100.0 AS revenue,
        count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand ORDER BY p_brand"""),
      "J1 broadcast dim join + A6 grouped multi-aggregate"),

    // -------------------------------------------------------------- J2 + A6
    // Fact-to-fact shuffle join (orders⋈customer on custkey) + broadcast
    // nation dim — the two-hop J1/J2 pattern. customer is NOT broadcast:
    // it scales with SF (15M rows at sf1000), so the join shuffles on the
    // key and AQE picks broadcast only when the build side is small.
    "q04_orders_by_nation" -> Q(
      (s, d) => {
        import s.implicits._
        val o = t(s, d, "orders")
        val c = t(s, d, "customer")
        val n = t(s, d, "nation")
        o.join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy($"n_name")
          .agg(count(lit(1)).as("n_orders"),
               moneySum($"o_totalprice").as("total_price"))
          .orderBy($"n_name")
      },
      Some("""SELECT n_name, count(*) AS n_orders,
        CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)/100.0 AS total_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_name"""),
      "J1/J2 two-hop join: shuffle join on scaling key + broadcast dim"),

    // ------------------------------------------------------------------ P4
    // Three-valued-logic filter parity (`!= 0` silently drops NULLs,
    // sparkConsumer.py:97). Nulls synthesized via nullif since the
    // synthetic tables are null-free.
    "q05_filter_null_semantics" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "lineitem")
          .withColumn("disc_n", nullif($"l_discount", lit(0.0)))
          .filter($"disc_n" =!= 0.01)
          .agg(count(lit(1)).as("n_rows"),
               count($"disc_n").as("n_disc"),
               round(min($"disc_n"), 6).as("min_d"),
               round(max($"disc_n"), 6).as("max_d"))
      },
      Some("""SELECT count(*) AS n_rows, count(disc_n) AS n_disc,
        round(min(disc_n),6) AS min_d, round(max(disc_n),6) AS max_d
        FROM (SELECT nullif(l_discount, 0.0) AS disc_n FROM lineitem)
        WHERE disc_n <> 0.01"""),
      "P4 filter with three-valued-logic null drop"),

    // ------------------------------------------------------------------ P5
    // Null-impute + cast chain (sparkML.py:58-64) as coalesce(cast, 0).
    "q06_impute_cast" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "customer")
          .select(
            $"c_custkey",
            coalesce(when($"c_acctbal" < 0, lit(null)).otherwise($"c_acctbal")
              .cast("double"), lit(0.0)).as("bal_imputed"),
            $"c_nationkey".cast("string").as("nation_str"))
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey,
        coalesce(CAST(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS DOUBLE), 0.0) AS bal_imputed,
        CAST(c_nationkey AS VARCHAR) AS nation_str
        FROM customer ORDER BY c_custkey"""),
      "P5 per-column null-to-zero impute + cast"),

    // ------------------------------------------------------------- P8 + A13
    // IQR outlier filter: quantile bounds via one aggregate, re-attached by
    // broadcast — no collect, scales to any row count.
    "q07_iqr_filter" -> Q(
      (s, d) => {
        import s.implicits._
        // r18: domainBounded — cents of a bounded money domain; the
        // engine's one-pass value-histogram path (identical results)
        Relational.iqrFilter(t(s, d, "lineitem"), "l_extendedprice", domainBounded = true)
          .agg(count(lit(1)).as("n_kept"),
               moneySum($"l_extendedprice").as("sum_kept"),
               round(avg($"l_extendedprice"), 6).as("avg_kept"))
      },
      Some("""WITH b AS (SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
                    quantile_cont(l_extendedprice, 0.75) AS q3 FROM lineitem)
        SELECT count(*) AS n_kept,
        CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_kept,
        round(avg(l_extendedprice),6) AS avg_kept
        FROM lineitem, b
        WHERE l_extendedprice >= q1 - 1.5*(q3-q1) AND l_extendedprice <= q3 + 1.5*(q3-q1)"""),
      "P8 IQR outlier filter via broadcast quantile bounds"),

    // ----------------------------------------------------------------- A15
    // 50-bin equal-width histogram (px.histogram parity).
    "q08_histogram" -> Q(
      (s, d) => Relational.histogram(t(s, d, "lineitem"), "l_extendedprice", 50),
      Some("""SELECT CASE WHEN mn = mx THEN 0
          ELSE CAST(least(floor((l_extendedprice - mn) / ((mx - mn) / 50)), 49) AS BIGINT) END AS bucket,
        count(*) AS cnt
        FROM lineitem, (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx FROM lineitem)
        GROUP BY bucket ORDER BY bucket"""),
      "A15 equal-width histogram, bounds via broadcast"),

    // ----------------------------------------------------- A13 + A14 + A17
    // describe(): count/mean/std/min/quartiles/max with exact interpolating
    // percentiles (matches DuckDB quantile_cont bit-for-bit modulo the
    // rounding guard).
    "q09_summary_stats" -> Q(
      // r18: domainBounded — money cents; one-pass quartile path
      (s, d) => Relational.summaryStats(t(s, d, "lineitem"), "l_extendedprice",
        domainBounded = true),
      Some("""SELECT count(l_extendedprice) AS n,
        round(avg(l_extendedprice),6) AS mean,
        round(stddev_samp(l_extendedprice),6) AS sd,
        min(l_extendedprice) AS mn,
        round(quantile_cont(l_extendedprice,0.25),6) AS q1,
        round(quantile_cont(l_extendedprice,0.5),6) AS median,
        round(quantile_cont(l_extendedprice,0.75),6) AS q3,
        max(l_extendedprice) AS mx
        FROM lineitem"""),
      "A13/A14/A17 exact quantiles, stddev, describe"),

    // ----------------------------------------------------------------- A12
    // Argmax per group as a rank-1 window (the §2.6 window-capability form
    // of the dashboard's idxmax).
    "q10_argmax_per_segment" -> Q(
      (s, d) => {
        import s.implicits._
        Relational.argmaxPerGroup(t(s, d, "customer"),
            $"c_mktsegment", $"c_acctbal", $"c_custkey")
          .select($"c_mktsegment", $"c_custkey", round($"c_acctbal", 2).as("acctbal"))
          .orderBy($"c_mktsegment")
      },
      Some("""SELECT c_mktsegment, c_custkey, round(c_acctbal,2) AS acctbal
        FROM (SELECT *, row_number() OVER (PARTITION BY c_mktsegment
              ORDER BY c_acctbal DESC, c_custkey) AS rn FROM customer)
        WHERE rn = 1 ORDER BY c_mktsegment"""),
      "A12 argmax per group via row_number window"),

    // ----------------------------------------------------------------- A10
    "q11_distinct_years" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "orders").select(year($"o_orderdate").as("y")).distinct().orderBy($"y")
      },
      Some("""SELECT DISTINCT CAST(year(o_orderdate) AS INTEGER) AS y
        FROM orders ORDER BY y"""),
      "A10 distinct + sort over a derived date part"),

    // ----------------------------------------------------------------- A16
    // Per-column null profile in a single pass (df.isnull().sum() parity).
    "q12_null_profile" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "lineitem")
          .select(nullif($"l_discount", lit(0.0)).as("disc"),
                  nullif($"l_tax", lit(0.0)).as("tax"),
                  $"l_quantity")
          .agg(count(lit(1)).as("n_rows"),
               sum($"disc".isNull.cast("long")).as("nulls_disc"),
               sum($"tax".isNull.cast("long")).as("nulls_tax"),
               sum($"l_quantity".isNull.cast("long")).as("nulls_qty"))
      },
      Some("""SELECT count(*) AS n_rows,
        CAST(sum(CASE WHEN nullif(l_discount,0.0) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_disc,
        CAST(sum(CASE WHEN nullif(l_tax,0.0) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_tax,
        CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_qty
        FROM lineitem"""),
      "A16 single-pass null-count profile"),

    // ----------------------------------------------------------------- A18
    // Ratio of sums on exact cent-quantized integer sums — fully
    // order-independent, so bit-identical across engines.
    "q13_ratio_of_sums" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "lineitem")
          .agg((centsSum($"l_discount" * $"l_extendedprice") /
                centsSum($"l_extendedprice") * 100).as("discount_pct"))
      },
      Some("""SELECT CAST(sum(CAST(round(l_discount*l_extendedprice*100) AS BIGINT)) AS BIGINT)
        / CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) * 100 AS discount_pct
        FROM lineitem"""),
      "A18 overall ratio of sums (tip% parity shape)"),

    // ----------------------------------------------------------------- A19
    // Regression metrics as relational aggregates: the mean-predictor
    // RMSE/MAE/R² identity (RegressionEvaluator parity, sparkML.py:103-122).
    "q14_regression_metrics" -> Q(
      (s, d) => {
        import s.implicits._
        val o = t(s, d, "orders")
        val m = o.agg(avg($"o_totalprice").as("mu"))
        o.crossJoin(broadcast(m))
          .agg(round(sqrt(avg(pow($"o_totalprice" - $"mu", 2))), 4).as("rmse"),
               round(avg(abs($"o_totalprice" - $"mu")), 4).as("mae"))
      },
      Some("""WITH m AS (SELECT avg(o_totalprice) AS mu FROM orders)
        SELECT round(sqrt(avg((o_totalprice-mu)*(o_totalprice-mu))),4) AS rmse,
        round(avg(abs(o_totalprice-mu)),4) AS mae
        FROM orders, m"""),
      "A19 RMSE/MAE as plain aggregates"),

    // ---------------------------------------------------------------- semi
    "q15_semi_join" -> Q(
      (s, d) => {
        import s.implicits._
        val c = t(s, d, "customer")
        val big = t(s, d, "orders").filter($"o_totalprice" > 450000).select($"o_custkey")
        c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
          .select($"c_custkey", $"c_mktsegment")
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey, c_mktsegment FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)
        ORDER BY c_custkey"""),
      "left-semi join (EXISTS) — capability extension per SURVEY §2.4"),

    // ---------------------------------------------------------------- anti
    "q16_anti_join" -> Q(
      (s, d) => {
        import s.implicits._
        val c = t(s, d, "customer")
        val big = t(s, d, "orders").filter($"o_totalprice" > 490000).select($"o_custkey")
        c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
          .agg(count(lit(1)).as("n_without"),
               moneySum($"c_acctbal").as("bal_sum"))
      },
      Some("""SELECT count(*) AS n_without,
        CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT)/100.0 AS bal_sum
        FROM customer WHERE c_custkey NOT IN
        (SELECT o_custkey FROM orders WHERE o_totalprice > 490000)"""),
      "left-anti join (NOT EXISTS) — capability extension"),

    // -------------------------------------------------------------- set ops
    "q17_set_ops" -> Q(
      (s, d) => {
        import s.implicits._
        val a = t(s, d, "customer").select($"c_nationkey".as("k")).distinct()
        val b = t(s, d, "supplier").select($"s_nationkey".as("k")).distinct()
        val u = a.union(b).distinct().agg(count(lit(1)).as("n")).select(lit("union").as("op"), $"n")
        val i = a.intersect(b).agg(count(lit(1)).as("n")).select(lit("intersect").as("op"), $"n")
        val e = a.except(b).agg(count(lit(1)).as("n")).select(lit("except").as("op"), $"n")
        u.union(i).union(e).orderBy($"op")
      },
      Some("""SELECT op, n FROM (
        SELECT 'union' AS op, count(*) AS n FROM (SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey FROM supplier)
        UNION ALL SELECT 'intersect', count(*) FROM (SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey FROM supplier)
        UNION ALL SELECT 'except', count(*) FROM (SELECT c_nationkey AS k FROM customer EXCEPT SELECT s_nationkey FROM supplier)
        ) ORDER BY op"""),
      "union/intersect/except — capability extension per SURVEY §2.6"),

    // ------------------------------------------------------------- lag/lead
    // Sessionized inter-event gaps per user: shuffle once on user_id, sort
    // within partitions, single window pass — the scalable form of
    // sequential per-entity analytics.
    "q18_event_gaps" -> Q(
      (s, d) => {
        import s.implicits._
        val e = t(s, d, "events")
        val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
        e.withColumn("prev_ts", lag($"ts", 1).over(w))
          .withColumn("gap_s", unix_timestamp($"ts") - unix_timestamp($"prev_ts"))
          .filter($"gap_s".isNotNull)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_gaps"), round(avg($"gap_s"), 4).as("avg_gap_s"))
          .orderBy($"event_type")
      },
      Some("""WITH g AS (SELECT event_type,
          CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER (
            PARTITION BY user_id ORDER BY date_trunc('microseconds', ts), event_id))) AS BIGINT) AS gap_s
        FROM events)
        SELECT event_type, count(*) AS n_gaps, round(avg(gap_s),4) AS avg_gap_s
        FROM g WHERE gap_s IS NOT NULL GROUP BY event_type ORDER BY event_type"""),
      "lag window over per-user event sequences — capability extension"),

    // ------------------------------------------------------------- E7 + A5
    // Time-of-day bucketing (native when-chain, no UDF) + grouped mean —
    // the reference's flagship enrichment as one codegen'd stage.
    "q19_time_of_day" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "events")
          .withColumn("tod", TripFeatures.timeOfDay(hour($"ts")))
          .groupBy($"tod")
          .agg(count(lit(1)).as("n"), round(avg($"value"), 6).as("avg_value"))
          .orderBy($"tod")
      },
      Some("""SELECT CASE WHEN hour(ts) >= 6 AND hour(ts) < 12 THEN 'morning'
          WHEN hour(ts) >= 12 AND hour(ts) < 16 THEN 'afternoon'
          WHEN hour(ts) >= 16 AND hour(ts) < 22 THEN 'evening'
          ELSE 'late night' END AS tod,
        count(*) AS n, round(avg(value),6) AS avg_value
        FROM events GROUP BY tod ORDER BY tod"""),
      "E7 time-of-day when-chain + A5 grouped mean"),

    // ------------------------------------------------------------ E11 + A6
    // Day-name grouping with Monday-first ordering (pandas weekday parity).
    "q20_by_day_name" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "events")
          .groupBy(TripFeatures.dayName($"ts").as("day_name"),
                   TripFeatures.pandasWeekday($"ts").as("dow"))
          .agg(count(lit(1)).as("n"), round(avg($"value"), 6).as("avg_value"))
          .orderBy($"dow")
      },
      Some("""SELECT dayname(ts) AS day_name,
        CAST((dayofweek(ts) + 6) % 7 AS INTEGER) AS dow,
        count(*) AS n, round(avg(value),6) AS avg_value
        FROM events GROUP BY day_name, dow ORDER BY dow"""),
      "E4/E11 day-of-week naming with explicit sort key"),

    // ------------------------------------------------------------- E9 + A4
    // Top-10 supplier-nation → customer-nation routes: the E9 concat + A4
    // top-k over a 4-way join (TPC-H Q7 shape). Dims broadcast; the two
    // fact-fact joins shuffle on orderkey/custkey.
    "q21_route_topk" -> Q(
      (s, d) => {
        import s.implicits._
        val li = t(s, d, "lineitem")
        val o = t(s, d, "orders")
        val c = t(s, d, "customer")
        val sup = t(s, d, "supplier")
        val n1 = t(s, d, "nation").select($"n_nationkey".as("sn_key"), $"n_name".as("sn_name"))
        val n2 = t(s, d, "nation").select($"n_nationkey".as("cn_key"), $"n_name".as("cn_name"))
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
          .join(broadcast(n1), sup("s_nationkey") === n1("sn_key"))
          .join(broadcast(n2), c("c_nationkey") === n2("cn_key"))
          .select(concat($"sn_name", lit(" to "), $"cn_name").as("route"))
          .groupBy($"route")
          .agg(count(lit(1)).as("cnt"))
          .orderBy($"cnt".desc, $"route".asc)
          .limit(10)
      },
      Some("""SELECT sn.n_name || ' to ' || cn.n_name AS route, count(*) AS cnt
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        GROUP BY route ORDER BY cnt DESC, route LIMIT 10"""),
      "E9 route concat + A4 top-k over a 4-way join"),

    // ----------------------------------------------------------------- E10
    "q22_decode_map" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "events")
          .withColumn("type_name",
            when($"event_type" === "click", "Click")
              .when($"event_type" === "view", "View")
              .when($"event_type" === "purchase", "Purchase")
              .when($"event_type" === "signup", "Sign Up")
              .when($"event_type" === "error", "Error")
              .otherwise("Other"))
          .groupBy($"type_name")
          .agg(count(lit(1)).as("n"))
          .orderBy($"type_name")
      },
      Some("""SELECT CASE event_type WHEN 'click' THEN 'Click' WHEN 'view' THEN 'View'
          WHEN 'purchase' THEN 'Purchase' WHEN 'signup' THEN 'Sign Up'
          WHEN 'error' THEN 'Error' ELSE 'Other' END AS type_name, count(*) AS n
        FROM events GROUP BY type_name ORDER BY type_name"""),
      "E10 categorical decode map (payment_type parity shape)"),

    // ------------------------------------------------------- E2-analog math
    // Date arithmetic across a join: avg order→ship latency per priority.
    "q23_ship_latency" -> Q(
      (s, d) => {
        import s.implicits._
        val li = t(s, d, "lineitem")
        val o = t(s, d, "orders")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .groupBy($"o_orderpriority")
          .agg(round(avg(datediff($"l_shipdate", $"o_orderdate")), 6).as("avg_ship_days"),
               count(lit(1)).as("n"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
        round(avg(date_diff('day', o_orderdate, l_shipdate)),6) AS avg_ship_days,
        count(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      "E2-analog duration arithmetic over a shuffle join"),

    // ----------------------------------------------------------------- A11
    "q24_column_means" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "lineitem").agg(
          round(avg($"l_quantity"), 6).as("avg_qty"),
          round(avg($"l_extendedprice"), 6).as("avg_price"),
          round(avg($"l_discount"), 6).as("avg_discount"),
          round(avg($"l_tax"), 6).as("avg_tax"),
          moneySum($"l_extendedprice").as("sum_price"))
      },
      Some("""SELECT round(avg(l_quantity),6) AS avg_qty,
        round(avg(l_extendedprice),6) AS avg_price,
        round(avg(l_discount),6) AS avg_discount,
        round(avg(l_tax),6) AS avg_tax,
        CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_price
        FROM lineitem"""),
      "A11 mean-of-column-set single-row aggregate"),

    // --------------------------------------------------------------- rollup
    // Grouping-set capability (absent in the reference, §2.5 note): rollup
    // with null group labels made explicit for deterministic ordering.
    "q25_rollup" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "lineitem")
          .rollup($"l_returnflag", $"l_linestatus")
          .agg(count(lit(1)).as("n"), (centsSum($"l_quantity") / 100.0).as("sum_qty"))
          .select(coalesce($"l_returnflag", lit("ALL")).as("rf"),
                  coalesce($"l_linestatus", lit("ALL")).as("ls"),
                  $"n", $"sum_qty")
          .orderBy($"rf", $"ls")
      },
      Some("""SELECT coalesce(l_returnflag,'ALL') AS rf, coalesce(l_linestatus,'ALL') AS ls,
        count(*) AS n,
        CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_qty
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY rf, ls"""),
      "rollup grouping sets — capability extension"),

    // -------------------------------------------------------------- P1/E14
    // JSON decode on real data: events.props carries {"k": int}. The
    // reference's from_json ingest (sparkConsumer.py:66) in point form.
    "q26_json_extract" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "events")
          .select(get_json_object($"props", "$.k").cast("int").as("k"), $"value")
          .groupBy(($"k" % 10).as("k_mod"))
          .agg(count(lit(1)).as("n"), round(avg($"value"), 6).as("avg_value"))
          // pin null placement: Spark defaults NULLS FIRST, DuckDB NULLS
          // LAST — a props row without "k" would silently break row-order
          // parity under the defaults
          .orderBy($"k_mod".asc_nulls_last)
      },
      Some("""SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
        count(*) AS n, round(avg(value),6) AS avg_value
        FROM events GROUP BY k_mod ORDER BY k_mod NULLS LAST"""),
      "P1 JSON field decode + aggregate"),

    // ------------------------------------------------------------- window()
    // Tumbling event-time window as a *batch* plan — the identical
    // groupBy(window(...)) works under readStream with a watermark (see
    // graft.streaming.StreamPipeline); oracled here via date_trunc.
    "q27_tumbling_window" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "events")
          .groupBy(window($"ts", "1 day").getField("start").as("day"), $"event_type")
          .agg(count(lit(1)).as("n"), (centsSum($"value") / 100.0).as("sum_value"))
          .orderBy($"day", $"event_type")
      },
      Some("""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type, count(*) AS n,
        CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_value
        FROM events GROUP BY day, event_type ORDER BY day, event_type"""),
      "streaming-shaped tumbling window aggregate (batch-checked)"),

    // ---------------------------------------------------------- E13/E12 mix
    // Derived per-row ratios then grouped: value-per-k spend rate by hour.
    "q28_hourly_rate" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "events")
          .withColumn("h", hour($"ts"))
          .withColumn("rate", TripFeatures.zeroGuardedRatio($"value", $"user_id" % 100))
          .groupBy($"h")
          .agg(count(lit(1)).as("n"), round(avg($"rate"), 6).as("avg_rate"))
          .orderBy($"h")
      },
      Some("""SELECT CAST(hour(ts) AS INTEGER) AS h, count(*) AS n,
        round(avg(CASE WHEN user_id % 100 = 0 THEN 0.0 ELSE value / (user_id % 100) END),6) AS avg_rate
        FROM events GROUP BY h ORDER BY h"""),
      "E6/E12 zero-guarded ratio + hourly grouping"),

    // -------------------------------------------------------- session window
    // Session windows (30-min gap) per user — Spark's session_window in a
    // batch plan; the identical grouping runs under readStream with a
    // watermark. Oracled via the gaps-and-islands identity.
    "q29_session_window" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "events")
          .groupBy(session_window($"ts", "30 minutes"), $"user_id")
          .agg(count(lit(1)).as("n_events"))
          .agg(count(lit(1)).as("n_sessions"),
               round(avg($"n_events"), 6).as("avg_events_per_session"),
               max($"n_events").as("max_events"))
      },
      Some("""WITH o AS (SELECT user_id, ts, event_id,
          CASE WHEN epoch(date_trunc('microseconds', ts))
                 - epoch(date_trunc('microseconds', lag(ts) OVER (
                     PARTITION BY user_id ORDER BY date_trunc('microseconds', ts), event_id))) >= 1800
               OR lag(ts) OVER (PARTITION BY user_id ORDER BY date_trunc('microseconds', ts), event_id) IS NULL
          THEN 1 ELSE 0 END AS new_session
        FROM events),
        sess AS (SELECT user_id, sum(new_session) OVER (
            PARTITION BY user_id ORDER BY date_trunc('microseconds', ts), event_id
            ROWS UNBOUNDED PRECEDING) AS session_id
          FROM o),
        counts AS (SELECT user_id, session_id, count(*) AS n_events
          FROM sess GROUP BY user_id, session_id)
        SELECT count(*) AS n_sessions,
          round(avg(n_events),6) AS avg_events_per_session,
          max(n_events) AS max_events
        FROM counts"""),
      "session windows (gap-based) — streaming-shaped, batch-checked"),

    // ------------------------------------------------------------ UDF surface
    // The same time-of-day logic as q19 but through a *registered Scala
    // UDF* — the §2.7 capability demo. Deliberately the only UDF in the
    // suite: the when-chain form (q19) stays in codegen, this one shows
    // the escape hatch exists. Same oracle as the native form.
    "q49_udf_time_of_day" -> Q(
      (s, d) => {
        import s.implicits._
        val todUdf = udf((h: Int) =>
          if (h >= 6 && h < 12) "morning"
          else if (h >= 12 && h < 16) "afternoon"
          else if (h >= 16 && h < 22) "evening"
          else "late night")
        t(s, d, "events")
          .withColumn("tod", todUdf(hour($"ts")))
          .groupBy($"tod")
          .agg(count(lit(1)).as("n"), round(avg($"value"), 6).as("avg_value"))
          .orderBy($"tod")
      },
      Some("""SELECT CASE WHEN hour(ts) >= 6 AND hour(ts) < 12 THEN 'morning'
          WHEN hour(ts) >= 12 AND hour(ts) < 16 THEN 'afternoon'
          WHEN hour(ts) >= 16 AND hour(ts) < 22 THEN 'evening'
          ELSE 'late night' END AS tod,
        count(*) AS n, round(avg(value),6) AS avg_value
        FROM events GROUP BY tod ORDER BY tod"""),
      "registered Scala UDF variant of E7 (capability surface)"),

    // -------------------------------------------------------- K1/E14/P1 parity
    // Producer-serialization round trip without a broker: every order row
    // → JSON message (ISO-8601 timestamps, kafkaProducer.py DateTimeEncoder
    // parity) → strict from_json decode → aggregates over the *recovered*
    // values. The oracle computes the same aggregates from the raw table,
    // so any serialization loss would hash-mismatch.
    "q50_kafka_json_roundtrip" -> Q(
      (s, d) => {
        import org.apache.spark.sql.types._
        import s.implicits._
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_totalprice", DoubleType),
          StructField("o_orderdate", StringType),
          StructField("o_orderpriority", StringType)))
        val json = graft.io.Sinks.toKafkaJson(
          t(s, d, "orders")
            // single-row-group fixture scan -> spread the to_json/from_json
            // round-trip (the dominant per-row cost) across cores
            .transform(graft.operators.Relational.spread(_, $"o_orderkey"))
            .select($"o_orderkey", $"o_totalprice", $"o_orderdate", $"o_orderpriority"))
        graft.streaming.StreamPipeline.decodeJson(json, schema)
          .agg(count(lit(1)).as("n"),
               countDistinct($"o_orderkey").as("n_keys"),
               moneySum($"o_totalprice").as("total"),
               min($"o_orderdate").as("min_date_iso"))
      },
      Some("""SELECT count(*) AS n, count(DISTINCT o_orderkey) AS n_keys,
        CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)/100.0 AS total,
        strftime(min(o_orderdate), '%Y-%m-%dT%H:%M:%S') AS min_date_iso
        FROM orders"""),
      "K1/E14/P1 producer JSON round-trip, loss checked by aggregate parity"),

    // ---------------------------------------------------------------- E8+A5
    // The dashboard's *second* time-of-day bucketing (different cutpoints,
    // 1_EDA_Dashboard.py:84-96) with its fixed category presentation order
    // ([Morning, Afternoon, Evening, Night] — the pandas reindex).
    "q51_timeofday_dashboard" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "events")
          .withColumn("tod", TripFeatures.timeOfDayDashboard(hour($"ts")))
          .groupBy($"tod")
          .agg(round(avg($"value"), 6).as("avg_value"), count(lit(1)).as("n"))
          .withColumn("tod_order",
            when($"tod" === "Morning", 0).when($"tod" === "Afternoon", 1)
              .when($"tod" === "Evening", 2).otherwise(3))
          .orderBy($"tod_order")
      },
      Some("""WITH b AS (SELECT CASE WHEN hour(ts) >= 5 AND hour(ts) < 12 THEN 'Morning'
          WHEN hour(ts) >= 12 AND hour(ts) < 17 THEN 'Afternoon'
          WHEN hour(ts) >= 17 AND hour(ts) < 21 THEN 'Evening'
          ELSE 'Night' END AS tod, value FROM events)
        SELECT tod, round(avg(value),6) AS avg_value, count(*) AS n,
          CAST(CASE tod WHEN 'Morning' THEN 0 WHEN 'Afternoon' THEN 1
            WHEN 'Evening' THEN 2 ELSE 3 END AS INTEGER) AS tod_order
        FROM b GROUP BY tod ORDER BY tod_order"""),
      "E8 dashboard bucketing with fixed category order (A5 reindex parity)"),

    // -------------------------------------------------------- sliding window
    // Overlapping 1h windows sliding every 30min — each event lands in two
    // windows. Same groupBy(window(...)) runs streaming under a watermark;
    // oracled via the two-shifted-buckets identity (Spark and DuckDB both
    // align buckets to epoch-divisible boundaries).
    "q52_sliding_window" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "events")
          .groupBy(window($"ts", "1 hour", "30 minutes"), $"event_type")
          .agg(count(lit(1)).as("n"))
          .select($"window.start".as("win_start"), $"event_type", $"n")
          .orderBy($"win_start", $"event_type")
      },
      Some("""WITH b AS (
          SELECT CAST(time_bucket(INTERVAL '30 minutes', ts) AS TIMESTAMP) AS win_start, event_type FROM events
          UNION ALL
          SELECT CAST(time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS TIMESTAMP), event_type FROM events)
        SELECT win_start, event_type, count(*) AS n
        FROM b GROUP BY win_start, event_type ORDER BY win_start, event_type"""),
      "sliding event-time window (streaming-shaped, batch-checked)"),

    // --------------------------------------------------------------- as-of
    // Click→purchase attribution: for every purchase, the user's most
    // recent click at-or-before it. Spark-side: the union+window as-of
    // composition (operators.AsOf); oracle: DuckDB's native ASOF JOIN.
    "q53_asof_attribution" -> Q(
      (s, d) => {
        import s.implicits._
        val e = t(s, d, "events")
        val purchases = e.filter($"event_type" === "purchase")
          .select($"event_id", $"user_id", $"ts")
        val clicks = e.filter($"event_type" === "click")
          .select($"event_id".as("click_event_id"), $"user_id", $"ts".as("click_ts"))
        graft.operators.AsOf.asOfJoin(purchases, clicks, "user_id", "ts", "click_ts")
          .select($"event_id".as("purchase_id"),
                  $"right_click_event_id".as("attributed_click_id"))
          .orderBy($"purchase_id")
      },
      Some("""SELECT p.event_id AS purchase_id, c.event_id AS attributed_click_id
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
        ORDER BY purchase_id"""),
      "as-of join (union+window composition) vs DuckDB native ASOF"),

    // ------------------------------------------------------------ range join
    // Same-user event pairs within a 1-hour window, counted by type pair.
    // Spark-side: bucketized equi-join (operators.RangeJoin) — no per-key
    // cartesian; oracle: DuckDB's inequality join (IEJoin).
    "q54_range_join" -> Q(
      (s, d) => {
        import s.implicits._
        val e = t(s, d, "events")
          .select($"event_id", $"user_id", $"ts", $"event_type")
        graft.operators.RangeJoin
          .selfPairsWithin(e, "user_id", "event_id", "ts", 3600, Seq("event_type"))
          .groupBy($"a_event_type", $"b_event_type")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy($"a_event_type", $"b_event_type")
      },
      Some("""SELECT a.event_type AS a_event_type, b.event_type AS b_event_type,
          count(*) AS n_pairs
        FROM events a JOIN events b
          ON a.user_id = b.user_id AND a.event_id < b.event_id
          AND abs(CAST(floor(epoch(a.ts)) AS BIGINT) - CAST(floor(epoch(b.ts)) AS BIGINT)) <= 3600
        GROUP BY a_event_type, b_event_type
        ORDER BY a_event_type, b_event_type"""),
      "range join via bucketized equi-join vs DuckDB IEJoin"),

    // ------------------------------------------------------------------ cube
    // Full CUBE over two dimensions (q25 covers ROLLUP): all four
    // grouping-set combinations, null labels made explicit.
    "q55_cube" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "orders")
          .cube($"o_orderstatus", $"o_orderpriority")
          .agg(count(lit(1)).as("n"), moneySum($"o_totalprice").as("total"))
          .select(coalesce($"o_orderstatus", lit("ALL")).as("status"),
                  coalesce($"o_orderpriority", lit("ALL")).as("priority"),
                  $"n", $"total")
          .orderBy($"status", $"priority")
      },
      Some("""SELECT coalesce(o_orderstatus,'ALL') AS status,
        coalesce(o_orderpriority,'ALL') AS priority, count(*) AS n,
        CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)/100.0 AS total
        FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY status, priority"""),
      "CUBE grouping sets — capability extension per SURVEY §2.5"),

    // ------------------------------------------------- CDC current state
    // Latest-wins state materialization from a change log (SCD Type 1 /
    // the batch face of an upsert sink): treating `events` as per-user
    // changes, the current state is the rank-1 row of a (ts DESC,
    // event_id DESC) window per key plus lifetime counters. One shuffle
    // on the key; at 100 TB this is the standard "compact the log into a
    // snapshot" job, and the same window works incrementally inside
    // foreachBatch (new batch UNION old snapshot → same rank-1). DuckDB
    // orders ts at microsecond truncation to match Spark's µs timestamps
    // (q18 precedent); epochs are floored to whole seconds in the output.
    "q80_cdc_latest_state" -> Q(
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
        t(s, d, "events")
          .withColumn("rn", row_number().over(w))
          .withColumn("n_events", count(lit(1)).over(Window.partitionBy($"user_id")))
          .filter($"rn" === 1 && $"user_id" < 40)
          .select($"user_id",
            unix_timestamp($"ts").as("last_epoch"),
            $"event_type".as("last_type"),
            round($"value", 2).as("last_value"),
            $"n_events")
          .orderBy($"user_id")
      },
      Some("""SELECT user_id,
          CAST(floor(epoch(ts)) AS BIGINT) AS last_epoch,
          event_type AS last_type, round(value, 2) AS last_value, n_events
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id
              ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC) AS rn,
            count(*) OVER (PARTITION BY user_id) AS n_events
          FROM events)
        WHERE rn = 1 AND user_id < 40 ORDER BY user_id"""),
      "CDC log -> latest-wins current-state snapshot per key"),

    // ---------------------------------------------- SCD Type 2 intervals
    // Slowly-changing-dimension history: each change opens an effective
    // interval [ts, next-change ts); the open row is flagged current.
    // lead() over the per-key change sequence — one shuffle, no
    // self-join. Bounded to a fixed key range so the checked output is
    // SF-stable; the operator itself is unbounded.
    "q81_scd2_intervals" -> Q(
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
        t(s, d, "events")
          .filter($"user_id" < 5)
          .select($"user_id", $"event_id", $"event_type",
            unix_timestamp($"ts").as("valid_from"),
            unix_timestamp(lead($"ts", 1).over(w)).as("valid_to"))
          .withColumn("is_current", $"valid_to".isNull.cast("int"))
          .orderBy($"user_id", $"valid_from", $"event_id")
      },
      Some("""SELECT user_id, event_id, event_type,
          CAST(floor(epoch(ts)) AS BIGINT) AS valid_from,
          CAST(floor(epoch(lead(ts, 1) OVER (PARTITION BY user_id
            ORDER BY date_trunc('microseconds', ts), event_id))) AS BIGINT) AS valid_to,
          CAST(lead(ts, 1) OVER (PARTITION BY user_id
            ORDER BY date_trunc('microseconds', ts), event_id) IS NULL AS INTEGER) AS is_current
        FROM events WHERE user_id < 5
        ORDER BY user_id, valid_from, event_id"""),
      "SCD Type 2 effective-interval history from a change log"),

    // ------------------------------------------------------ funnel analysis
    // Ordered conversion funnel view → click → purchase: each stage's
    // entry time is the min event time at-or-after the previous stage's,
    // computed as three stacked unordered windows over the SAME user
    // partitioning — one exchange, no sorts, no self-joins; the funnel
    // reduces to per-user non-null counts. Chained min-after-min is the
    // declarative form of the sequential scan a funnel engine does.
    "q84_funnel" -> Q(
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id")
        val staged = t(s, d, "events")
          .withColumn("v", min(when($"event_type" === "view", $"ts")).over(w))
          .withColumn("c", min(when($"event_type" === "click" && $"ts" >= $"v", $"ts")).over(w))
          .withColumn("p", min(when($"event_type" === "purchase" && $"ts" >= $"c", $"ts")).over(w))
        staged.groupBy($"user_id")
          .agg(min($"v").as("v"), min($"c").as("c"), min($"p").as("p"))
          .agg(count(lit(1)).as("n_users"),
               count($"v").as("n_viewed"),
               count($"c").as("n_clicked_after_view"),
               count($"p").as("n_purchased_after_click"))
      },
      Some("""WITH s1 AS (SELECT user_id, ts, event_type,
            min(CASE WHEN event_type = 'view' THEN ts END)
              OVER (PARTITION BY user_id) AS v
          FROM events),
        s2 AS (SELECT user_id, ts, event_type, v,
            min(CASE WHEN event_type = 'click' AND ts >= v THEN ts END)
              OVER (PARTITION BY user_id) AS c
          FROM s1),
        s3 AS (SELECT user_id, v, c,
            min(CASE WHEN event_type = 'purchase' AND ts >= c THEN ts END)
              OVER (PARTITION BY user_id) AS p
          FROM s2),
        u AS (SELECT user_id, min(v) AS v, min(c) AS c, min(p) AS p
          FROM s3 GROUP BY user_id)
        SELECT count(*) AS n_users, count(v) AS n_viewed,
          count(c) AS n_clicked_after_view,
          count(p) AS n_purchased_after_click
        FROM u"""),
      "ordered conversion funnel via stacked per-user min-after windows"),

    // ------------------------------------------------------ cohort retention
    // Weekly cohort retention: cohort = a user's first active week;
    // retention cell (cohort, offset) counts users active `offset` weeks
    // later. distinct (user, week) activity → per-user min (cohort) →
    // one co-partitioned join back → count per cell. Every stage
    // shuffles on user_id or the tiny cell key.
    "q85_cohort_retention" -> Q(
      (s, d) => {
        import s.implicits._
        val weeks = t(s, d, "events")
          .select($"user_id",
            floor(datediff($"ts".cast("date"), lit("2024-01-01").cast("date")) / 7.0)
              .cast("int").as("wk"))
          .distinct()
        val cohorts = weeks.groupBy($"user_id").agg(min($"wk").as("cohort_wk"))
        weeks.join(cohorts, "user_id")
          .groupBy($"cohort_wk", ($"wk" - $"cohort_wk").as("week_offset"))
          .agg(countDistinct($"user_id").as("n_users"))
          .orderBy($"cohort_wk", $"week_offset")
      },
      Some("""WITH weeks AS (SELECT DISTINCT user_id,
            CAST(floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7.0)
              AS INTEGER) AS wk
          FROM events),
        cohorts AS (SELECT user_id, min(wk) AS cohort_wk FROM weeks GROUP BY user_id)
        SELECT cohort_wk, CAST(wk - cohort_wk AS INTEGER) AS week_offset,
          count(DISTINCT user_id) AS n_users
        FROM weeks JOIN cohorts USING (user_id)
        GROUP BY cohort_wk, week_offset ORDER BY cohort_wk, week_offset"""),
      "weekly cohort retention matrix from first-active-week cohorts"),

    // ------------------------------------- SCD2 with run-length collapse
    // The [[graft.operators.Incremental.scd2]] build: unlike q81 (every
    // event opens an interval), this is the Kimball dimension-history
    // semantics — consecutive rows whose tracked attribute did NOT
    // change collapse into one version, and each version's valid_to
    // stitches to the NEXT CHANGE's ordinal (NULL = current). The
    // attribute compare is null-safe (`<=>` / IS DISTINCT FROM): x →
    // NULL → x is two real changes. Ordinals travel as epoch
    // microseconds so both engines order and render identically.
    "q219_scd2_collapse" -> Q(
      (s, d) => {
        import s.implicits._
        val base = t(s, d, "events").filter($"user_id" < 8)
          .select($"user_id",
            // ts is TIMESTAMP_NTZ; the session runs UTC (the q80/q81
            // unix_timestamp↔epoch parity), so the cast is the identity
            unix_micros($"ts".cast("timestamp")).as("ord_us"),
            $"event_id", $"event_type")
        graft.operators.Incremental
          .scd2(base, "user_id", "ord_us", "event_id", "event_type")
          .orderBy($"user_id", $"version")
      },
      Some("""WITH base AS (SELECT user_id, epoch_us(ts) AS ord_us,
            event_id, event_type
          FROM events WHERE user_id < 8),
        marked AS (SELECT *, lag(event_type) OVER w AS prev,
            row_number() OVER w AS rn
          FROM base
          WINDOW w AS (PARTITION BY user_id ORDER BY ord_us, event_id)),
        changes AS (SELECT * FROM marked
          WHERE rn = 1 OR event_type IS DISTINCT FROM prev)
        SELECT user_id, event_type,
          CAST(row_number() OVER w2 AS INTEGER) AS version,
          ord_us AS valid_from,
          lead(ord_us, 1) OVER w2 AS valid_to,
          CAST(lead(ord_us, 1) OVER w2 IS NULL AS INTEGER) AS is_current
        FROM changes
        WINDOW w2 AS (PARTITION BY user_id ORDER BY ord_us, event_id)
        ORDER BY user_id, version"""),
      "Kimball SCD Type 2: change-collapsed versioned dimension history")
  )
}
