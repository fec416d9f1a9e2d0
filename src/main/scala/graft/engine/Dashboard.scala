package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The dashboard query tier (SURVEY.md §2.B5, §3 entry point 3): the
  * reference re-runs pandas masks + per-chart group-bys on every widget
  * interaction (`/root/reference/src/app.py:83-170`). Here each chart is a
  * parameterized lazy plan over the two pre-aggregated rollups; Spark
  * pushes the IN-list filters down to the (tiny) aggregate inputs — or, if
  * the rollups are materialized to parquet, into the scan itself.
  */
object Dashboard {

  /** B5 — the master conjunctive IN-list filter
    * (`/root/reference/src/app.py:83-87`). Empty selection = no filter on
    * that attribute, matching the dashboard's select-all default. */
  def masterFilter(months: Seq[Int], airlines: Seq[String])(df: DataFrame): DataFrame = {
    val byMonth = if (months.isEmpty) df else df.filter(col("month").isin(months: _*))
    if (airlines.isEmpty) byMonth
    else byMonth.filter(col("airline_name").isin(airlines: _*))
  }

  /** Chart plans over the filtered rollups, exactly the reference
    * dashboard's per-chart pandas group-bys (`src/app.py:94-168`). The
    * ranking, trend and delay-pie charts are [[Aggregates.ranking]],
    * [[Aggregates.trend]] and [[Aggregates.delayAttribution]] themselves. */
  def kpiCards(filteredAirlineMonthly: DataFrame): DataFrame =
    Aggregates.kpis(filteredAirlineMonthly)

  def geoMap(filteredAirportPerf: DataFrame, coords: DataFrame): DataFrame =
    Aggregates.geoAggregate(Aggregates.withCoords(filteredAirportPerf, coords))
}
