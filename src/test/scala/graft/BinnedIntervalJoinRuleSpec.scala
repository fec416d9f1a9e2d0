package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The injected optimizer rule must turn naive timestamp range joins
  * into binned equi-joins — same rows, no nested loop — and must leave
  * every other join shape alone. */
class BinnedIntervalJoinRuleSpec extends SparkSpec {

  private def points(s: SparkSession): DataFrame = {
    import s.implicits._
    val rng = new scala.util.Random(11)
    (0 until 300).map(i => (i.toLong, rng.nextLong(500000000L)))
      .toDF("pid", "us")
      .select(col("pid"), timestamp_micros(col("us")).as("ts"))
  }

  private def intervals(s: SparkSession): DataFrame = {
    import s.implicits._
    val rng = new scala.util.Random(12)
    (0 until 40).map { i =>
      val st = rng.nextLong(500000000L)
      (1000L + i, st, st + rng.nextLong(40000000L))
    }.toDF("iid", "s_us", "e_us")
      .select(col("iid"), timestamp_micros(col("s_us")).as("w_start"),
        timestamp_micros(col("e_us")).as("w_end"))
  }

  private def rangeJoin(s: SparkSession): DataFrame =
    points(s).join(intervals(s),
      col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .select("pid", "iid")

  private val BinSeconds = "spark.graft.intervalJoin.binSeconds"
  private val MaxBins = "spark.graft.intervalJoin.maxBinsPerInterval"

  /** `body` with the rule disabled: the nested-loop baseline. */
  private def naive[A](body: => A): A =
    withConf("spark.graft.intervalJoin.enabled" -> "false")(body)

  test("naive range join plans as a binned equi-join under the rule") {
    withConf(BinSeconds -> "13") {
      val df = rangeJoin(spark)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"range join still a nested loop:\n$plan")
      assert(df.queryExecution.optimizedPlan.toString.contains("_graft_pbin"),
        "rewrite did not fire")
    }
  }

  test("rule rewrite returns exactly the nested-loop join's rows") {
    def pairs() = rangeJoin(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val expected = naive(pairs())
    val got = withConf(BinSeconds -> "13")(pairs())
    assert(got.sameElements(expected))
    assert(expected.nonEmpty, "fixture must produce matches")
  }

  test("enabled=false leaves the naive plan alone") {
    naive {
      val df = rangeJoin(spark)
      assert(!df.queryExecution.optimizedPlan.toString.contains("_graft_pbin"),
        "rewrite fired while disabled")
    }
  }

  test("an interval exploding past maxBinsPerInterval raises, loudly and actionably") {
    // 13 s bins against up-to-40 s spans → up to ~4 bins per interval;
    // a cap of 1 makes any multi-bin interval trip the guard.
    withConf(BinSeconds -> "13", MaxBins -> "1") {
      val e = intercept[Exception] { rangeJoin(spark).collect() }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      val msg = messages(e).mkString("\n")
      assert(msg.contains("binSeconds") && msg.contains("maxBinsPerInterval"),
        s"error not actionable:\n$msg")
    }
  }

  test("intervals within the cap pass the guard unchanged") {
    val expected = naive(rangeJoin(spark).count())
    withConf(BinSeconds -> "13", MaxBins -> "4096") {
      assert(rangeJoin(spark).count() == expected)
    }
  }

  test("a BinSecondsTag on the Join survives into a fresh QueryExecution") {
    // No conf set → default 3600 s. The tag must win, and must still
    // win for an action that builds a NEW QueryExecution on top of the
    // tagged Dataset (what Bench's count() and Verify's write do) —
    // the failure mode of a query-scoped conf window, whose width only
    // reaches optimizer runs inside the window.
    val df = rangeJoin(spark)
    df.queryExecution.analyzed.foreach {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.isDefined =>
        j.setTagValue(graft.plans.BinnedIntervalJoinRule.BinSecondsTag, 17L)
      case _ =>
    }
    val fresh = df.groupBy().count()
    val optimized = fresh.queryExecution.optimizedPlan.toString
    assert(optimized.contains("17000000"),
      s"tagged 17 s width missing from re-optimized plan:\n$optimized")
    assert(!optimized.contains("3600000000"),
      "default width used despite tag")
    assert(fresh.collect().head.getLong(0) ==
      naive(rangeJoin(spark).count()), "tagged plan changed results")
  }

  test("equi-joins and non-range joins are left untouched") {
    import spark.implicits._
    val a = Seq((1L, 10L)).toDF("k", "va")
    val b = Seq((1L, 20L)).toDF("k2", "vb")
    val equi = a.join(b, col("k") === col("k2"))
    assert(!equi.queryExecution.optimizedPlan.toString.contains("_graft_"),
      "rule must skip equi-joins")
    val nonTs = a.join(b, col("va") >= col("k2") && col("va") < col("vb"))
    assert(!nonTs.queryExecution.optimizedPlan.toString.contains("_graft_"),
      "rule must skip non-timestamp ranges")
  }
}
