package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.engine.{Sinks, StarSchema, Tables}
import graft.plans.UnreadLookupJoinRule

/** Unread LEFT lookup joins over a key `Tables` verified unique are
  * dropped — same rows as with the rule excluded — and every join whose
  * key is unverified, duplicated, read through another loader or whose
  * columns are read is kept. */
class UnreadLookupJoinRuleSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def withoutRule[A](body: => A): A = withConf(
    "spark.sql.optimizer.excludedRules" -> UnreadLookupJoinRule.ruleName)(body)

  /** The AQE-final physical plan after one run. */
  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def joins(p: SparkPlan): Int = collect(p) { case j: BaseJoinExec => j }.size

  /** The table names (`<name>.parquet`) the plan scans. */
  private def scanned(p: SparkPlan): Set[String] = collect(p) {
    case f: FileSourceScanExec =>
      f.relation.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
  }.flatten.toSet

  /** A scratch copy of `sf`'s wide-view tables whose `supplier` is the
    * given frame, written by Spark. */
  private def scratchStar(s: SparkSession, name: String,
      supplier: DataFrame): String = {
    val dir = s"${Sinks.scratch}/lookup-rule-$name"
    Files.createDirectories(Paths.get(dir))
    Seq("lineitem", "orders", "customer", "nation").foreach { t =>
      Files.copy(Paths.get(s"$sf/$t.parquet"), Paths.get(s"$dir/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    supplier.coalesce(1).write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    dir
  }

  /** `supplier` plus a second row for a supplier key lineitem uses. */
  private def duplicatedSupplier(s: SparkSession): DataFrame = {
    val sup = Tables.supplier(s, sf)
    val k = Tables.lineitem(s, sf).select("l_suppkey").head().getLong(0)
    sup.union(sup.filter(col("s_suppkey") === k))
  }

  test("AQE-final plans: q12 keeps one join, q13/q20 scan no customer or nation") {
    val q12 = finalPlan(SparkEntry.queries("q12_distinct_airlines")(spark, sf))
    assert(joins(q12) == 1, s"q12 joins:\n$q12")
    assert(!scanned(q12).contains("orders"), s"q12 scans orders:\n$q12")
    for (q <- Seq("q13_filtered_kpis", "q20_limit10")) {
      val p = finalPlan(SparkEntry.queries(q)(spark, sf))
      assert(scanned(p).intersect(Set("customer", "nation")).isEmpty, s"$q:\n$p")
      assert(scanned(p).contains("supplier"), s"$q lost a read lookup:\n$p")
    }
    val excluded = withoutRule {
      finalPlan(SparkEntry.queries("q12_distinct_airlines")(spark, sf))
    }
    assert(joins(excluded) == 2 && scanned(excluded).contains("orders"),
      s"excludedRules did not switch the rule off:\n$excluded")
  }

  test("results are identical with the rule excluded") {
    for (q <- Seq("q02_airline_monthly", "q12_distinct_airlines",
        "q13_filtered_kpis", "q15_union_counts", "q19_weighted_mean",
        "q20_limit10", "q21_sql_view")) {
      def rows() = SparkEntry.queries(q)(spark, sf).collect().map(_.toString).toSeq
      val got = rows()
      val expected = withoutRule(rows())
      assert(expected.nonEmpty, s"$q returned no rows")
      assert(got == expected, s"$q differs with the rule")
    }
  }

  test("a supplier copy with a duplicated key keeps its join and its row count") {
    val dir = scratchStar(spark, "dup", duplicatedSupplier(spark))
    val p = finalPlan(StarSchema.wideView(spark, dir).groupBy().count())
    assert(scanned(p).contains("supplier"), s"duplicated key eliminated:\n$p")
    assert(!scanned(p).contains("customer"), s"verified lookups kept:\n$p")
    val n = StarSchema.wideView(spark, dir).count()
    val expected = withoutRule(StarSchema.wideView(spark, dir).count())
    assert(n == expected)
    assert(n > Tables.lineitem(spark, dir).count(), "the duplicate must match a lineitem")
  }

  test("overwriting a verified table with a duplicate re-verifies it") {
    val dir = scratchStar(spark, "overwrite", Tables.supplier(spark, sf))
    def plan() = finalPlan(StarSchema.wideView(spark, dir).groupBy().count())
    assert(!scanned(plan()).contains("supplier"), "unique copy kept its join")
    duplicatedSupplier(spark).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/supplier.parquet")
    assert(scanned(plan()).contains("supplier"), "stale verification served")
    assert(StarSchema.wideView(spark, dir).count() ==
      withoutRule(StarSchema.wideView(spark, dir).count()))
  }

  test("a join whose right-side column is read is kept") {
    val p = finalPlan(StarSchema.wideView(spark, sf).select("l_orderkey", "airline_name"))
    assert(scanned(p).contains("supplier"), s"read lookup dropped:\n$p")
    assert(!scanned(p).contains("customer"), s"unread lookup kept:\n$p")
  }

  test("the same table read through plain spark.read.parquet is never eliminated") {
    Tables.supplier(spark, sf) // the same files, verified through Tables
    val li = Tables.lineitem(spark, sf)
    def lookup(sup: DataFrame) = finalPlan(li
      .join(sup, col("l_suppkey") === col("s_suppkey"), "left")
      .select("l_orderkey"))
    assert(!scanned(lookup(Tables.supplier(spark, sf))).contains("supplier"))
    val plain = lookup(spark.read.parquet(s"$sf/supplier.parquet"))
    assert(scanned(plain).contains("supplier"), s"plain read eliminated:\n$plain")
  }

  test("files with overlapping key ranges are checked exactly across files") {
    val dir = s"${Sinks.scratch}/lookup-rule-overlap"
    val sup = Tables.supplier(spark, sf)
    val nation = Tables.nation(spark, sf)
    val even = nation.filter(col("n_nationkey") % 2 === 0)
    // Two files whose key ranges interleave: even keys, then `second`.
    def write(second: DataFrame): Unit = {
      even.coalesce(1).write.mode("overwrite").parquet(s"$dir/nation.parquet")
      second.coalesce(1).write.mode("append").parquet(s"$dir/nation.parquet")
    }
    def lookupKept(): Boolean = scanned(finalPlan(sup
      .join(Tables.table(spark, dir, "nation"),
        col("s_nationkey") === col("n_nationkey"), "left")
      .select("s_suppkey"))).contains("nation")
    val odd = nation.filter(col("n_nationkey") % 2 === 1)
    write(odd)
    assert(!lookupKept(), "unique keys across two files not verified")
    write(odd.union(nation.filter(col("n_nationkey") === 0)))
    assert(lookupKept(), "a duplicate across files was declared unique")
  }
}
