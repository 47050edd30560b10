package graft.queries

import graft.Tables
import graft.functions.ProductAgg.product_agg
import graft.marketviz.{Analytics, IndexCalculator}
import graft.operators.CoreOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2's operator inventory, one named query per operator family,
  * recast onto the harness testdata (FIXTURES.md §A).
  *
  * The paper's faces (q01, q03, q06, q11, q15, q45) call `graft.marketviz.*`,
  * the code a user calls and the benchmark times; this object only maps
  * the testdata onto its roles. [[paperIndex]] maps lineitem onto `stocks`:
  *  - date = the `l_shipdate` day;
  *  - ticker = `struct(l_orderkey, l_linenumber)`: struct order is
  *    field-wise, so the cap tiebreak is the oracle's numeric
  *    `ORDER BY l_orderkey, l_linenumber` (the `lid` string would put
  *    "10-1" before "9-1"); the composition is mapped back to `lid`;
  *  - market_cap = `l_extendedprice`, the oracle's ranking key;
  *  - share_price = `l_extendedprice` rounded to cents, the oracle's
  *    quantization: the index Σ at scale 4 is then 100x the oracle's
  *    integer Σ of cents, and both divide down to the same double.
  *
  * Operator IDs in each query's comment refer to SURVEY.md §2.
  */
object ParityQueries {

  /** Constituent count for the index queries (reference K=100,
    * `constants.py:1`; scaled to the testdata's ~2-25 rows/day). */
  private val K = 10

  private def day(c: Column): Column = to_date(c)

  /** Shared projection: lineitem with day + unique line id. */
  private def li(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(
      day(col("l_shipdate")).as("d"),
      concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("lid"),
      col("l_orderkey"), col("l_linenumber"), col("l_suppkey"), col("l_partkey"),
      col("l_extendedprice"), col("l_discount"), col("l_quantity"))

  private val liRankedSql =
    """WITH r AS (
      |  SELECT CAST(l_shipdate AS DATE) AS d,
      |         CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS lid,
      |         l_orderkey, l_linenumber, l_extendedprice,
      |         row_number() OVER (PARTITION BY CAST(l_shipdate AS DATE)
      |                            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
      |  FROM lineitem)""".stripMargin

  /** The paper's index ([[IndexCalculator.computeIndex]]) over lineitem
    * under the role map in the header: `(date, index_value, composition)`
    * with the composition as rank-ordered `lid` strings. */
  private def paperIndex(s: SparkSession, dir: String): DataFrame = {
    val stocks = Tables.lineitem(s, dir).select(
      day(col("l_shipdate")).as("date"),
      struct(col("l_orderkey"), col("l_linenumber")).as("ticker"),
      (round(col("l_extendedprice") * 100) / 100).as("share_price"),
      col("l_extendedprice").as("market_cap"))
    IndexCalculator.computeIndex(stocks, K).withColumn("composition",
      transform(col("composition"),
        t => concat_ws("-", t.getField("l_orderkey"), t.getField("l_linenumber"))))
  }

  /** q01/q11's row shape: `d`, the index value, the composition joined. */
  private def indexRows(index: DataFrame): DataFrame =
    index.select(col("date").as("d"), col("index_value"),
      array_join(col("composition"), ",").as("composition"))

  private val indexDailySql =
    s"""$liRankedSql
      |SELECT d,
      |       (CAST(SUM(CAST(round((l_extendedprice) * 100) AS DECIMAL(30,0))) AS DOUBLE) / 100) / $K AS index_value,
      |       string_agg(lid, ',' ORDER BY rn) AS composition
      |FROM r WHERE rn <= $K GROUP BY d""".stripMargin

  private val dayCompositionSql =
    s"""$liRankedSql, comp AS (
      |  SELECT d, list(lid ORDER BY rn) AS arr FROM r WHERE rn <= $K GROUP BY d)""".stripMargin

  val all: Seq[Q] = Seq(

    // W2 + A1 + A3: the flagship — per-day top-K index, Σ/K index value
    // (constant divisor, `equal_weight_index.py:47`), rank-ordered
    // composition.
    Q("q01_index_daily", (s, dir) => indexRows(paperIndex(s, dir)), Some(indexDailySql)),

    // W1: latest row per group (top-1 by recency, total order).
    Q("q02_latest_per_group",
      (s, dir) =>
        CoreOps.latestPerGroup(
          li(s, dir).select("l_suppkey", "d", "l_orderkey", "l_linenumber", "l_extendedprice"),
          Seq(col("l_suppkey")),
          // (l_orderkey, l_linenumber) is NOT unique in the testdata, so
          // price joins the tiebreak chain to keep the top-1 deterministic.
          Seq(col("d").desc, col("l_orderkey").desc, col("l_linenumber").desc,
            col("l_extendedprice").desc))
        .select(col("l_suppkey"), col("d").as("latest_day"),
          col("l_extendedprice").as("latest_price")),
      Some("""WITH r AS (
        |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d, l_extendedprice,
        |         row_number() OVER (PARTITION BY l_suppkey
        |           ORDER BY CAST(l_shipdate AS DATE) DESC, l_orderkey DESC, l_linenumber DESC,
        |                    l_extendedprice DESC) AS rn
        |  FROM lineitem)
        |SELECT l_suppkey, d AS latest_day, l_extendedprice AS latest_price
        |FROM r WHERE rn = 1""".stripMargin)),

    // W3 + W4: the paper's daily and cumulative percent returns
    // (Analytics.summaryMetrics) over exact daily order totals.
    Q("q03_daily_returns",
      (s, dir) => {
        val daily = Tables.orders(s, dir)
          .groupBy(day(col("o_orderdate")).as("date"))
          .agg(CoreOps.exactSum(col("o_totalprice"), 2).as("index_value"))
        Analytics.summaryMetrics(daily).select(col("date").as("d"),
          col("index_value").as("total"),
          round(col("daily_return"), 8).as("daily_return"),
          round(col("cumulative_return"), 8).as("cum_return"))
      },
      Some("""WITH dly AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |         (CAST(SUM(CAST(round((o_totalprice) * 100) AS DECIMAL(30,0))) AS DOUBLE) / 100) AS total
        |  FROM orders GROUP BY 1)
        |SELECT d, total,
        |  round((total - lag(total) OVER (ORDER BY d)) / lag(total) OVER (ORDER BY d) * 100, 8) AS daily_return,
        |  round((total - first_value(total) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |        / first_value(total) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100, 8) AS cum_return
        |FROM dly""".stripMargin)),

    // A2/W5: windowed product via the native ProductAgg (rolling 11-row
    // frame keeps magnitudes bounded; exact running cumprod is exercised in
    // the MarketViz ingest + its unit tests).
    Q("q04_window_product",
      (s, dir) => {
        // Duplicate (l_orderkey, l_linenumber) pairs exist; l_discount in
        // the order keeps each row's sliding frame deterministic.
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("d"), col("l_orderkey"), col("l_linenumber"), col("l_discount"))
          .rowsBetween(-10, Window.currentRow)
        li(s, dir)
          .select("l_suppkey", "d", "l_orderkey", "l_linenumber", "l_discount")
          .withColumn("rolling_factor",
            round(product_agg(lit(1.0) + col("l_discount")).over(w), 6))
          .drop("l_discount")
      },
      Some("""SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d, l_orderkey, l_linenumber,
        |  round(product(1.0 + l_discount) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY CAST(l_shipdate AS DATE), l_orderkey, l_linenumber, l_discount
        |    ROWS BETWEEN 10 PRECEDING AND CURRENT ROW), 6) AS rolling_factor
        |FROM lineitem""".stripMargin)),

    // W6: day-over-day set inequality on per-day distinct supplier sets.
    Q("q05_set_change_dates",
      (s, dir) => {
        val daySets = li(s, dir).select(col("d"), col("l_suppkey")).distinct()
          .groupBy(col("d")).agg(sort_array(collect_set(col("l_suppkey"))).as("s"))
        CoreOps.lagSetDiff(daySets.withColumnRenamed("s", "arr"), Nil, Seq(col("d")), col("arr"))
          .filter(col("prev").isNotNull && col("arr") =!= col("prev"))
          .select(col("d"),
            size(col("added")).cast("long").as("n_added"),
            size(col("removed")).cast("long").as("n_removed"))
      },
      Some("""WITH s AS (
        |  SELECT CAST(l_shipdate AS DATE) AS d, list_sort(list(DISTINCT l_suppkey)) AS st
        |  FROM lineitem GROUP BY 1),
        |w AS (SELECT d, st, lag(st) OVER (ORDER BY d) AS prev FROM s)
        |SELECT d,
        |  len(list_filter(st, x -> NOT list_contains(prev, x))) AS n_added,
        |  len(list_filter(prev, x -> NOT list_contains(st, x))) AS n_removed
        |FROM w WHERE prev IS NOT NULL AND st <> prev""".stripMargin)),

    // W7: order-preserving +(added) , -(removed) change strings over the
    // rank-ordered compositions (Analytics.compositionChanges); "-" for
    // unchanged and the first day.
    Q("q06_composition_diff",
      (s, dir) =>
        Analytics.compositionChanges(paperIndex(s, dir)).withColumnRenamed("date", "d"),
      Some(s"""$dayCompositionSql,
        |w AS (SELECT d, arr, lag(arr) OVER (ORDER BY d) AS prev FROM comp),
        |diff AS (
        |  SELECT d,
        |    list_filter(arr, x -> NOT list_contains(prev, x)) AS added,
        |    list_filter(prev, x -> NOT list_contains(arr, x)) AS removed
        |  FROM w)
        |SELECT d,
        |  CASE WHEN added IS NULL OR removed IS NULL THEN '-'
        |       WHEN len(added) = 0 AND len(removed) = 0 THEN '-'
        |       ELSE '+(' || array_to_string(added, ', ') || ') , -(' || array_to_string(removed, ', ') || ')'
        |  END AS composition_changes
        |FROM diff""".stripMargin)),

    // J4: bounded backward as-of lookup (5-day holiday fallback,
    // `dashboard.py:328-343`) — latest event per user at-or-before a probe.
    Q("q07_asof_lookup",
      (s, dir) =>
        CoreOps.asOfBackward(Tables.events(s, dir),
          part = Seq(col("user_id")),
          ts = col("ts"),
          probe = lit("2024-01-04 00:00:00").cast("timestamp"),
          maxBack = expr("INTERVAL 2 DAYS"),
          order = Seq(col("ts").desc, col("event_id").desc))
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("value").as("last_value")),
      Some("""WITH f AS (
        |  SELECT user_id, event_id, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-04 00:00:00'
        |    AND ts > TIMESTAMP '2024-01-04 00:00:00' - INTERVAL 2 DAY)
        |SELECT user_id, event_id AS last_event_id, value AS last_value
        |FROM f WHERE rn = 1""".stripMargin)),

    // J1/J2: broadcast dim joins — revenue per nation (dims are tiny: hash
    // join with no shuffle on the fact side beyond the final agg).
    Q("q08_revenue_by_nation",
      (s, dir) =>
        li(s, dir)
          .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(
            CoreOps.exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
            count(lit(1)).as("n_items")),
      Some("""SELECT n_name,
        |  (CAST(SUM(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS DECIMAL(30,0))) AS DOUBLE) / 10000) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin)),

    // Multi-fact drill: lineitem ⋈ orders ⋈ customer ⋈ nation — the
    // 4-table join-planning surface q08's dim-only chain doesn't touch.
    // The two FACT joins shuffle on their keys (orderkey, then custkey)
    // and Catalyst reorders nothing away; the nation dim broadcasts; the
    // final (nation, segment) rollup exchanges 25×5 cells. Revenue sums
    // exact through DECIMAL — partition-parallel Σ equals DuckDB's
    // serial one bit-for-bit.
    Q("q69_segment_revenue",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
          .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, dir)
            .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment")),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, dir)),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"), col("c_mktsegment"))
          .agg(
            CoreOps.exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
              .as("revenue"),
            count(lit(1)).as("n_items")),
      Some("""SELECT n_name, c_mktsegment,
        |  (CAST(SUM(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS DECIMAL(30,0))) AS DOUBLE) / 10000) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name, c_mktsegment""".stripMargin)),

    // Cohort RETENTION over the event stream: users grouped by first-
    // activity week, distinct active users per (cohort, weeks-since) —
    // the time-offset cross-grain the funnel (q68) and windowed counts
    // (q59) don't cover. Cohort assignment rides a user_id window (one
    // exchange, the q68 pattern); the retention grid is a second
    // exchange of (cohort, offset, user) ids via the two-phase distinct
    // aggregate. Weeks are date_trunc Mondays in both engines, so the
    // day-diff is an exact multiple of 7 and the /7 division is exact.
    Q("q70_cohort_retention",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
        Tables.events(s, dir)
          .select(col("user_id"),
            date_trunc("week", col("ts")).cast("date").as("wk"))
          .withColumn("cohort_week", min(col("wk")).over(w))
          .groupBy(col("cohort_week"),
            (datediff(col("wk"), col("cohort_week")) / 7).cast("long")
              .as("weeks_since"))
          .agg(countDistinct(col("user_id")).as("n_active"))
      },
      Some("""WITH e AS (
        |  SELECT user_id,
        |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
        |  FROM events),
        |c AS (
        |  SELECT user_id, wk,
        |    min(wk) OVER (PARTITION BY user_id) AS cohort_week
        |  FROM e)
        |SELECT cohort_week,
        |  CAST(date_diff('day', cohort_week, wk) / 7 AS BIGINT) AS weeks_since,
        |  count(DISTINCT user_id) AS n_active
        |FROM c GROUP BY 1, 2""".stripMargin)),

    // A4: top-k + OTHERS bucket (collapses the reference's N+1 loop,
    // `dashboard.py:108-119`). The top-3 comes from orderBy+limit
    // (TakeOrderedAndProject — per-partition top-3, then a 3-row merge)
    // broadcast back as the bucket map, NOT from
    // row_number().over(Window.orderBy(...)): that global rank window
    // funnels every supplier aggregate through ONE task, which is the
    // plan that dies when the supplier relation grows 100×. AQE reuses
    // the agg's exchange between the two consumers of `rev`.
    Q("q09_others_bucket",
      (s, dir) => {
        val rev = li(s, dir)
          .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_suppkey"), col("s_name"))
          .agg(CoreOps.exactSum(col("l_extendedprice"), 2).as("rev"))
        val top3 = rev.orderBy(col("rev").desc, col("s_suppkey")).limit(3)
          .select(col("s_suppkey").as("__top_key"))
        rev
          .join(broadcast(top3), col("s_suppkey") === col("__top_key"), "left")
          .withColumn("bucket",
            when(col("__top_key").isNotNull, col("s_name")).otherwise(lit("OTHERS")))
          .groupBy(col("bucket"))
          .agg(CoreOps.exactSum(col("rev"), 2).as("total_rev"),
            count(lit(1)).as("n_suppliers"))
      },
      Some("""WITH rev AS (
        |  SELECT s_suppkey, s_name,
        |         (CAST(SUM(CAST(round((l_extendedprice) * 100) AS DECIMAL(30,0))) AS DOUBLE) / 100) AS rev
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY s_suppkey, s_name),
        |rk AS (SELECT *, row_number() OVER (ORDER BY rev DESC, s_suppkey) AS rk FROM rev)
        |SELECT CASE WHEN rk <= 3 THEN s_name ELSE 'OTHERS' END AS bucket,
        |       (CAST(SUM(CAST(round((rev) * 100) AS DECIMAL(30,0))) AS DOUBLE) / 100) AS total_rev,
        |       count(*) AS n_suppliers
        |FROM rk GROUP BY 1""".stripMargin)),

    // W8: ratio-to-total (pie share) with an exact decimal total. The
    // total is a scalar aggregate cross-joined back as a broadcast, NOT
    // `sum().over(Window.partitionBy())`: the empty-partition window
    // collapses the whole relation onto one task to compute a single
    // number, where the agg+broadcast shape keeps every stage parallel
    // (same exact decimal sum, bit-identical shares).
    Q("q10_ratio_to_total",
      (s, dir) => {
        val rev = li(s, dir).groupBy(col("l_suppkey"))
          .agg(CoreOps.exactSum(col("l_extendedprice"), 2).as("rev"))
        val total = rev.agg(
          sum(col("rev").cast(org.apache.spark.sql.types.DecimalType(30, 2)))
            .cast("double").as("__total"))
        rev.crossJoin(broadcast(total))
          .select(col("l_suppkey"), col("rev"),
            round(col("rev") / col("__total"), 8).as("share"))
      },
      Some("""WITH rev AS (
        |  SELECT l_suppkey,
        |         (CAST(SUM(CAST(round((l_extendedprice) * 100) AS DECIMAL(30,0))) AS DOUBLE) / 100) AS rev
        |  FROM lineitem GROUP BY 1)
        |SELECT l_suppkey, rev,
        |  round(rev / (CAST(SUM(CAST(round((rev) * 100) AS DECIMAL(30,0))) OVER () AS DOUBLE) / 100), 8) AS share
        |FROM rev""".stripMargin)),

    // P7/P9: point lookup on the computed index (IndexCalculator.indexAtDate)
    // — the date filter prunes before the window (pushed through the
    // partition key to the scan).
    Q("q11_point_lookup",
      (s, dir) => indexRows(IndexCalculator.indexAtDate(paperIndex(s, dir),
        java.sql.Date.valueOf("1998-03-15"))),
      Some(s"""$liRankedSql
        |SELECT d,
        |       (CAST(SUM(CAST(round((l_extendedprice) * 100) AS DECIMAL(30,0))) AS DOUBLE) / 100) / $K AS index_value,
        |       string_agg(lid, ',' ORDER BY rn) AS composition
        |FROM r WHERE rn <= $K AND d = DATE '1998-03-15' GROUP BY d""".stripMargin)),

    // P8/O1: equality filter + sort (pushed filter, passthrough values).
    Q("q12_filter_sort",
      (s, dir) =>
        li(s, dir).filter(col("l_suppkey") === 3)
          .select(col("d"), col("lid"), col("l_extendedprice"))
          .orderBy(col("d"), col("lid")),
      Some("""SELECT CAST(l_shipdate AS DATE) AS d,
        |  CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS lid,
        |  l_extendedprice
        |FROM lineitem WHERE l_suppkey = 3""".stripMargin)),

    // O3: tail-N — last 30 days of exact daily totals (TakeOrderedAndProject).
    Q("q13_tail_days",
      (s, dir) =>
        Tables.orders(s, dir)
          .groupBy(day(col("o_orderdate")).as("d"))
          .agg(CoreOps.exactSum(col("o_totalprice"), 2).as("total"))
          .orderBy(col("d").desc).limit(30),
      Some("""SELECT CAST(o_orderdate AS DATE) AS d,
        |       (CAST(SUM(CAST(round((o_totalprice) * 100) AS DECIMAL(30,0))) AS DOUBLE) / 100) AS total
        |FROM orders GROUP BY 1 ORDER BY d DESC LIMIT 30""".stripMargin)),

    // O4/O6: global top-K with total order (TakeOrderedAndProject — no
    // global sort materialization).
    Q("q14_topk_global",
      (s, dir) =>
        li(s, dir).select(col("lid"), col("l_extendedprice"))
          .orderBy(col("l_extendedprice").desc, col("lid")).limit(50),
      Some("""SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS lid,
        |       l_extendedprice
        |FROM lineitem ORDER BY l_extendedprice DESC, lid LIMIT 50""".stripMargin)),

    // O5: array slice — head-k / rest split of the composition array
    // (`dashboard.py:91-92`).
    Q("q15_array_slice",
      (s, dir) =>
        paperIndex(s, dir).select(col("date").as("d"),
          array_join(slice(col("composition"), 1, 3), ",").as("top3"),
          greatest(size(col("composition")) - 3, lit(0)).cast("long").as("n_rest")),
      Some(s"""$dayCompositionSql
        |SELECT d, array_to_string(arr[1:3], ',') AS top3,
        |       greatest(len(arr) - 3, 0) AS n_rest
        |FROM comp""".stripMargin)),

    // 2.8 scalar surface: string normalize/format + date format/aggregate.
    Q("q16_month_rollup",
      (s, dir) =>
        Tables.orders(s, dir)
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          .agg(count(lit(1)).as("n_orders"),
            min(day(col("o_orderdate"))).as("first_day"),
            max(day(col("o_orderdate"))).as("last_day"),
            CoreOps.exactSum(col("o_totalprice"), 2).as("total"))
          .withColumn("label",
            format_string("%s: %d orders", col("month"), col("n_orders"))),
      Some("""SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
        |  count(*) AS n_orders,
        |  min(CAST(o_orderdate AS DATE)) AS first_day,
        |  max(CAST(o_orderdate AS DATE)) AS last_day,
        |  (CAST(SUM(CAST(round((o_totalprice) * 100) AS DECIMAL(30,0))) AS DOUBLE) / 100) AS total,
        |  format('{}: {} orders', strftime(CAST(o_orderdate AS DATE), '%Y-%m'), count(*)) AS label
        |FROM orders GROUP BY 1""".stripMargin)),

    // Date sequence + explode (`app.py:22`): calendar spine with activity
    // counts per month — gap detection over a generated date dimension.
    Q("q17_calendar_gaps",
      (s, dir) => {
        val daily = Tables.orders(s, dir)
          .groupBy(day(col("o_orderdate")).as("d")).agg(count(lit(1)).as("n"))
        val cal = Tables.orders(s, dir)
          .agg(min(day(col("o_orderdate"))).as("lo"), max(day(col("o_orderdate"))).as("hi"))
          .select(explode(sequence(col("lo"), col("hi"))).as("d"))
        cal.join(daily, Seq("d"), "left")
          .groupBy(date_format(col("d"), "yyyy-MM").as("month"))
          .agg(count(lit(1)).as("n_days"), count(col("n")).as("n_active_days"))
      },
      Some("""WITH bounds AS (
        |  SELECT CAST(min(o_orderdate) AS DATE) AS lo, CAST(max(o_orderdate) AS DATE) AS hi FROM orders),
        |cal AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d FROM bounds),
        |daily AS (SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n FROM orders GROUP BY 1)
        |SELECT strftime(cal.d, '%Y-%m') AS month, count(*) AS n_days,
        |       count(daily.n) AS n_active_days
        |FROM cal LEFT JOIN daily USING (d) GROUP BY 1""".stripMargin)),

    // S6/S7: INSERT OR REPLACE last-write-wins — newest state per key.
    Q("q18_upsert_lastwins",
      (s, dir) =>
        CoreOps.latestPerGroup(Tables.events(s, dir),
          Seq(col("user_id"), col("event_type")),
          Seq(col("ts").desc, col("event_id").desc))
        .select(col("user_id"), col("event_type"),
          col("event_id").as("last_event_id"), col("value").as("last_value")),
      Some("""WITH r AS (
        |  SELECT user_id, event_type, event_id, value,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_type, event_id AS last_event_id, value AS last_value
        |FROM r WHERE rn = 1""".stripMargin)),

    // S1-style JSON navigation: extract from the props JSON column + agg.
    Q("q19_json_extract",
      (s, dir) =>
        Tables.events(s, dir)
          .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy(col("event_type"))
          .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"),
            round(sum(col("k")) / count(col("k")), 8).as("avg_k")),
      Some("""SELECT event_type,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(json_extract_string(props, '$.k')) AS n_k,
        |  round(CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
        |        / count(json_extract_string(props, '$.k')), 8) AS avg_k
        |FROM events GROUP BY event_type""".stripMargin)),

    // The dashboard stat tiles (dashboard.py:146-156): latest value of the
    // daily series, absolute change and percent return vs the prior day —
    // `Analytics.statistics` verbatim over an exact-decimal daily total
    // (all downstream arithmetic is deterministic IEEE, no rounding
    // needed for the cross-engine hash).
    Q("q38_stat_tiles",
      (s, dir) => {
        val series = Tables.orders(s, dir)
          .groupBy(day(col("o_orderdate")).as("date"))
          .agg(CoreOps.exactSum(col("o_totalprice"), 2).as("index_value"))
        graft.marketviz.Analytics.statistics(series)
      },
      Some("""WITH dly AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |         (CAST(SUM(CAST(round((o_totalprice) * 100) AS DECIMAL(30,0))) AS DOUBLE) / 100) AS v
        |  FROM orders GROUP BY 1),
        |r AS (SELECT d, v, lag(v) OVER (ORDER BY d) AS prev FROM dly)
        |SELECT v AS current_value, v - prev AS daily_change,
        |       (v - prev) / prev * 100 AS daily_return
        |FROM r ORDER BY d DESC LIMIT 1""".stripMargin)),

    // Event sessionization via session_window (gap-based event-time
    // sessions; identical code shape works under readStream + watermark —
    // the batch face is the oracle-checkable one). Session end = last
    // event + gap; an event landing exactly at the previous session's end
    // opens a NEW session (half-open windows) — the oracle's >= mirrors
    // that.
    Q("q43_sessionize",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
          .agg(count(lit(1)).as("n_events"),
            CoreOps.exactSum(col("value"), 2).as("session_value"))
          .select(col("user_id"), col("w.start").as("session_start"),
            col("w.end").as("session_end"), col("n_events"), col("session_value")),
      Some("""WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |m AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |            >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |s AS (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events,
        |  (CAST(SUM(CAST(round((value) * 100) AS DECIMAL(30,0))) AS DOUBLE) / 100) AS session_value
        |FROM s GROUP BY user_id, sid""".stripMargin)),

    // The tumbling-window face of the streaming surface (one code path
    // for stream and batch — StreamsSpec proves stream ≡ batch; this is
    // the batch face under the oracle). Epoch-aligned 1-hour windows =
    // date_trunc; the value sum routes through DECIMAL so aggregation
    // order can't move the result.
    Q("q59_windowed_counts",
      (s, dir) =>
        graft.streaming.Streams.windowedTypeCounts(Tables.events(s, dir)),
      Some("""WITH e AS (
        |  SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events)
        |SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n,
        |  (CAST(SUM(CAST(round((value) * 100) AS DECIMAL(30,0))) AS DOUBLE) / 100) AS total_value
        |FROM e GROUP BY 1, 2""".stripMargin)),

    // S2 + P4 + P10 in one projection: character-translate normalization
    // ('/'→'-' in the reference, exercised here on the name's '#'→'-'),
    // conditional value replace (the 0→1 split fix-up shape), and
    // unit-scale + round. Round to 5 dp: a 2-decimal acctbal scaled by
    // 1000 has exactly 5 decimals, so the round is an identity in exact
    // arithmetic and no representable IEEE value can land on a rounding
    // tie — Spark's HALF_UP and DuckDB's double rounding agree
    // bit-for-bit (a 2-dp round here WOULD tie on whole-dollar balances
    // ending in 5).
    Q("q44_scalar_normalize",
      (s, dir) =>
        Tables.supplier(s, dir).select(
          col("s_suppkey"),
          translate(col("s_name"), "#", "-").as("norm_name"),
          when(col("s_acctbal") < 0, lit(0.0)).otherwise(col("s_acctbal")).as("bal_floor"),
          round(col("s_acctbal") / 1000, 5).as("bal_k")),
      Some("""SELECT s_suppkey,
        |  replace(s_name, '#', '-') AS norm_name,
        |  CASE WHEN s_acctbal < 0 THEN 0.0 ELSE s_acctbal END AS bal_floor,
        |  round(s_acctbal / 1000, 5) AS bal_k
        |FROM supplier""".stripMargin)),

    // S9 export alignment: the xlsx Composition-Changes sheet's diff —
    // computed on the REVERSED frame by the reference (dashboard.py:372 →
    // :217), so labels land with +/- inverted against the PREVIOUS date
    // and the pad '-' on the oldest row (Analytics.exportChange, the
    // column Exports.changesSheet reads; golden index_data.xlsx sheet 3).
    // Same plan as q06 with the roles swapped — the oracle proves the
    // inversion, not just the diff.
    Q("q45_changes_export",
      (s, dir) =>
        Analytics.compositionDiff(paperIndex(s, dir))
          .select(col("date").as("d"), Analytics.exportChange.as("composition_changes")),
      Some(s"""$dayCompositionSql,
        |w AS (SELECT d, arr, lag(arr) OVER (ORDER BY d) AS prev FROM comp),
        |diff AS (
        |  SELECT d,
        |    list_filter(prev, x -> NOT list_contains(arr, x)) AS lbl_added,
        |    list_filter(arr, x -> NOT list_contains(prev, x)) AS lbl_removed
        |  FROM w)
        |SELECT d,
        |  CASE WHEN lbl_added IS NULL OR lbl_removed IS NULL THEN '-'
        |       WHEN len(lbl_added) = 0 AND len(lbl_removed) = 0 THEN '-'
        |       ELSE '+(' || array_to_string(lbl_added, ', ') || ') , -(' || array_to_string(lbl_removed, ', ') || ')'
        |  END AS composition_changes
        |FROM diff""".stripMargin)),

    // S4 drop-mode: the scalar-dim join's DROP semantics — tickers absent
    // from the shares dim fall out of the result (the inner join inside
    // Ingest.splitAdjust, mirroring stock_data_fetcher.py:59-62's
    // per-ticker skip). The dim deliberately misses every third supplier;
    // stock_splits = 0 keeps the cumulative split factor at exactly 1.0,
    // so market_cap = price × shares bit-for-bit in both engines. The
    // RAISE mode of the same operator (requireShares = true) is
    // assert_true-based and spec-only (MarketVizSpec) — not
    // oracle-expressible.
    Q("q48_drop_missing_dim",
      (s, dir) => {
        val raw = Tables.lineitem(s, dir).select(
          col("l_suppkey").as("ticker"),
          day(col("l_shipdate")).as("date"),
          col("l_extendedprice").as("close"),
          lit(0.0).as("stock_splits"))
        val dim = Tables.supplier(s, dir)
          .filter(col("s_suppkey") % 3 =!= 0)
          .select(col("s_suppkey").as("ticker"),
            col("s_acctbal").as("shares_outstanding"))
        graft.marketviz.Ingest.splitAdjust(raw, dim)
      },
      Some("""SELECT l.l_suppkey AS ticker,
        |  CAST(l.l_shipdate AS DATE) AS date,
        |  l.l_extendedprice AS share_price,
        |  l.l_extendedprice * s.s_acctbal AS market_cap,
        |  s.s_acctbal AS effective_shares_outstanding
        |FROM lineitem l
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_suppkey % 3 <> 0""".stripMargin))
  )
}
