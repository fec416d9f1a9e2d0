package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Star-schema build + denormalized wide view (SURVEY.md §2.A7/A8, §2.C).
  *
  * The reference materializes fact + 3 dims in MySQL
  * (`/root/reference/sql/data_modeling.sql`) and layers a 4-way LEFT-join
  * view over them (`/root/reference/sql/wide_table.sql:4-36`). Here the
  * same shape is a lazy DataFrame: Catalyst re-analyzes the join tree per
  * query exactly like MySQL re-evaluates the view, and AQE/broadcast hints
  * pick the physical join.
  *
  * Scale notes (100 TB): `lineitem ⋈ orders` is the one genuinely large
  * join — it shuffles on the order key (sort-merge at scale, and both
  * sides can be bucketed on the key to eliminate the exchange entirely).
  * `supplier`/`customer`/`nation` are dimensions and explicitly
  * `broadcast()`-hinted, reproducing the reference's "every join is a
  * small-dimension lookup" property (SURVEY.md §2.C conclusion), so no
  * dimension ever shuffles the fact table.
  */
object StarSchema {
  import Tables._

  /** The flight-analog fact: lineitem enriched with its order header.
    * Role mapping per FIXTURES.md §A: DepDel15 ≈ (l_discount > 0.05),
    * delay minutes ≈ l_extendedprice * l_tax, Is_Cancelled ≈
    * (o_orderstatus = 'F'), month ≈ month(o_orderdate). */
  def fact(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir).join(orders(s, dir),
      col("l_orderkey") === col("o_orderkey"), "left")

  /** A8 — the denormalized wide view (`v_flight_performance_analysis`
    * analog). Role-playing dim: `nation` joined twice — once through the
    * customer (origin) and once through the supplier (dest) — mirroring
    * dim_airports origin/dest at `/root/reference/sql/wide_table.sql:31-34`;
    * plus the calendar dim joined on date_key (the reference's 4th dim
    * join, `/root/reference/sql/wide_table.sql:35-36`) supplying `month`.
    * All four dims are broadcast — the fact table never shuffles for a
    * dimension lookup.
    *
    * Every join is an N:1 LEFT lookup, so one whose columns a query never
    * reads is dropped by [[graft.plans.UnreadLookupJoinRule]] (the
    * `orders`, `supplier`, `customer` and `nation` keys are verified
    * unique by [[Tables]]). The generated calendar is not a `Tables`
    * table and is never dropped by that rule. What the dashboard queries
    * keep:
    *   - q12 (airline list): `supplier` only;
    *   - q13 (filtered KPI cards) and q20 (top-10 rows): `orders`,
    *     `supplier` and the calendar; `customer` and both `nation` roles
    *     go;
    *   - q01 (the whole view) keeps all five. */
  def wideView(s: SparkSession, dir: String): DataFrame = {
    val nat = nation(s, dir)
    // Generated calendar dim (the standard DW practice): a date-range
    // sequence needs no fact scan, no distinct shuffle, and broadcasts at
    // a few thousand rows — where a fact-derived dim would re-scan orders
    // on every query using the view. The range must cover the fact's date
    // domain (testdata spans 1995..2001; widen CalStart/CalEnd for other
    // datasets — uncovered dates fall out of the left join as NULL month,
    // exactly like a missing dim row).
    val cal = s.range(1).select(explode(sequence(
        to_date(lit(CalStart)), to_date(lit(CalEnd)))).as("cal_date"))
      .withColumn("cal_month", month(col("cal_date")))
    fact(s, dir)
      .join(broadcast(supplier(s, dir)), col("l_suppkey") === col("s_suppkey"), "left")
      .join(broadcast(customer(s, dir)), col("o_custkey") === col("c_custkey"), "left")
      .join(broadcast(nat.select(col("n_nationkey").as("o_nkey"),
        col("n_name").as("origin_city"))), col("c_nationkey") === col("o_nkey"), "left")
      .join(broadcast(nat.select(col("n_nationkey").as("d_nkey"),
        col("n_name").as("dest_city"))), col("s_nationkey") === col("d_nkey"), "left")
      .join(broadcast(cal),
        col("o_orderdate").cast("date") === col("cal_date"), "left")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("s_name").as("airline_name"),
        col("o_orderdate").cast("date").as("date_key"),
        col("cal_month").as("month"),
        col("origin_city"), col("dest_city"),
        when(col("l_discount") > 0.05, 1).otherwise(0).as("dep_del15"),
        (col("l_extendedprice") * col("l_tax")).as("delay_minutes"),
        when(col("o_orderstatus") === "F", 1).otherwise(0).as("is_cancelled"),
        col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"))
  }

  /** Generated-calendar coverage window for the wide view's date dim. */
  val CalStart = "1990-01-01"
  val CalEnd = "2010-12-31"

  /** Equivalent ANSI-SQL body of [[wideView]] for the DuckDB oracle —
    * mirrors the 4-dim join shape including the calendar dim. */
  val wideViewSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  s_name AS airline_name,
      |  CAST(o_orderdate AS DATE) AS date_key,
      |  cal.cal_month AS month,
      |  n1.n_name AS origin_city, n2.n_name AS dest_city,
      |  CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS dep_del15,
      |  l_extendedprice * l_tax AS delay_minutes,
      |  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_cancelled,
      |  l_quantity, l_extendedprice, l_discount, l_tax,
      |  l_returnflag, l_linestatus
      |FROM lineitem
      |LEFT JOIN orders   ON l_orderkey = o_orderkey
      |LEFT JOIN supplier ON l_suppkey = s_suppkey
      |LEFT JOIN customer ON o_custkey = c_custkey
      |LEFT JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |LEFT JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |LEFT JOIN (SELECT CAST(d AS DATE) AS cal_date,
      |             CAST(month(d) AS INTEGER) AS cal_month
      |           FROM (SELECT unnest(generate_series(DATE '1990-01-01',
      |             DATE '2010-12-31', INTERVAL 1 DAY)) AS d)) cal
      |  ON CAST(o_orderdate AS DATE) = cal.cal_date""".stripMargin

  /** G1 + D3 — dimension build by UNION-distinct of the two airport roles
    * (`/root/reference/sql/data_modeling.sql:8-16`): origin-side keys come
    * through customers, dest-side through suppliers; the same nation showing
    * up in both roles dedups, exactly like the same IATA code appearing as
    * Origin and Dest. Spark `union` is UNION ALL, so the explicit
    * `.distinct()` reproduces SQL UNION semantics. */
  def dimAirports(s: SparkSession, dir: String): DataFrame = {
    val o = customer(s, dir).select(col("c_nationkey").as("airport_key"))
    val d = supplier(s, dir).select(col("s_nationkey").as("airport_key"))
    o.union(d).distinct()
      .join(broadcast(nation(s, dir)), col("airport_key") === col("n_nationkey"))
      .select(col("airport_key"), col("n_name").as("city"),
        col("n_regionkey").as("state_key"))
  }

  /** F0a + D3 — dim_calendar analog: DISTINCT dates with derived attributes,
    * ordered (`/root/reference/sql/data_modeling.sql:30-48`). ISO
    * day-of-week (Mon=1..Sun=7); weekend = Sat/Sun, the reference's
    * `DayOfWeek >= 6` boundary (`/root/reference/src/data_cleaning.py:103`). */
  def dimCalendar(s: SparkSession, dir: String): DataFrame = {
    val isoDow = ((dayofweek(col("date_key")) + 5) % 7) + 1
    orders(s, dir)
      .select(col("o_orderdate").cast("date").as("date_key")).distinct()
      .select(
        col("date_key"),
        year(col("date_key")).as("year"),
        month(col("date_key")).as("month"),
        dayofmonth(col("date_key")).as("day_of_month"),
        isoDow.as("day_of_week"),
        Cleaning.isWeekend(isoDow).as("is_weekend"))
      .orderBy("date_key")
  }

  /** Multi-way OLAP join rollup (the TPC-H Q5 shape): revenue by nation
    * for one region and one order-date year —
    * `lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region`, five tables,
    * three cardinality classes.
    *
    * Scale shape: declared as a flat join tree and left to Catalyst —
    * the date filter pushes into the orders scan and the region filter
    * prunes nation rows BEFORE any fact row moves; `nation`/`region`
    * are explicit broadcasts (a dim lookup must never shuffle the
    * fact); `lineitem ⋈ orders` and `⋈ customer` shuffle on their keys
    * (sort-merge at scale, bucketable). Revenue is the per-row double
    * product summed exactly ([[Aggregates.sumExact]]) so the rollup is
    * partition-order-deterministic. */
  def regionalRevenue(s: SparkSession, dir: String, regionName: String,
      yr: Int): DataFrame =
    lineitem(s, dir)
      .join(orders(s, dir).filter(year(col("o_orderdate")) === yr),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, dir).filter(col("r_name") === regionName)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(
        Aggregates.sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
        count(lit(1)).as("n_items"))

  /** Oracle spelling of [[regionalRevenue]]. */
  def regionalRevenueSql(regionName: String, yr: Int): String =
    s"""SELECT n_name,
       |  ${Aggregates.sumExactSql("l_extendedprice * (1.0 - l_discount)")}
       |    AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation   ON c_nationkey = n_nationkey
       |JOIN region   ON n_regionkey = r_regionkey
       |WHERE r_name = '$regionName'
       |  AND EXTRACT(year FROM o_orderdate) = $yr
       |GROUP BY n_name""".stripMargin
}
