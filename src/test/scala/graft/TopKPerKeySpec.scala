package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.TopKPerKey

/** The custom physical top-k operator must return exactly the window
  * row_number ≤ k rows while never planning a Window or a full sort. */
class TopKPerKeySpec extends SparkSpec {

  // Dense ties: 5 keys × values from 0..9, so heap evictions, equal
  // values and sub-k groups all occur.
  private def data(s: SparkSession): DataFrame = {
    import s.implicits._
    val rng = new scala.util.Random(23)
    ((0 until 400).map(i =>
      (rng.nextInt(5).toLong, rng.nextInt(10).toLong, i.toLong)) :+
      ((99L, 1L, 9999L))) // a single-row key (group smaller than k)
      .toDF("k", "v", "id")
  }

  test("custom exec == window row_number top-k, ties included") {
    val df = data(spark)
    val got = TopKPerKey.topK(df, 3, Seq("k"),
      Seq("v" -> false, "id" -> true)).select("k", "v", "id")
    val w = Window.partitionBy("k").orderBy(col("v").desc, col("id").asc)
    val want = df.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3).select("k", "v", "id")
    assert(got.exceptAll(want).count() == 0)
    assert(want.exceptAll(got).count() == 0)
    assert(got.count() == want.count())
  }

  test("plans as partial + final heap, no Window, no full-data sort") {
    val df = TopKPerKey.topK(data(spark), 3, Seq("k"),
      Seq("v" -> false, "id" -> true))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal"),
      s"expected both phases:\n$p")
    assert(!p.contains("Window"), s"window leaked into:\n$p")
    // The exchange must sit BETWEEN final and partial (map-side
    // reduction happens before the shuffle, as with partial aggs).
    val iFinal = p.indexOf("TopKPerKeyFinal")
    val iEx = p.indexOf("Exchange")
    val iPartial = p.indexOf("TopKPerKeyPartial")
    assert(iFinal < iEx && iEx < iPartial,
      s"phases not split around the exchange:\n$p")
    // The ONLY sort is the final phase's key sort of the k-bounded
    // exchange output (what makes reduce-side state O(k)); nothing
    // below the exchange — i.e. over the full input — may sort.
    val sorts = "Sort ".r.findAllMatchIn(p).map(_.start).toList
    assert(sorts.nonEmpty, s"expected the final phase's key sort:\n$p")
    assert(sorts.forall(i => iFinal < i && i < iEx),
      s"sort outside the final-over-exchange slot:\n$p")
  }

  test("partial-phase flush (tiny thresholds) still matches the window spelling") {
    // 2-key budget against 5 live keys forces a flush roughly every
    // other row; a flushed key re-emits for later rows, so >k rows per
    // key cross the exchange and the final phase must re-reduce them.
    withConf(TopKPerKey.PartialMaxKeysConf -> "2") {
      val df = data(spark)
      val raw = TopKPerKey.topK(df, 3, Seq("k"),
        Seq("v" -> false, "id" -> true))
      val got = raw.select("k", "v", "id")
      val w = Window.partitionBy("k").orderBy(col("v").desc, col("id").asc)
      val want = df.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3).select("k", "v", "id")
      assert(got.exceptAll(want).count() == 0)
      assert(want.exceptAll(got).count() == 0)
      // The threshold must have actually forced flushes (the numFlushes
      // SQL metric on the partial phase), or this test proves nothing.
      raw.collect()
      // Walk through the AQE wrappers: AdaptiveSparkPlanExec AND
      // completed QueryStageExec nodes are leaves to collect(), so a
      // plain traversal never reaches the executed partial node.
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
        case q: QueryStageExec => p +: allNodes(q.plan)
        case _ => p +: p.children.flatMap(allNodes)
      }
      val flushed = allNodes(raw.queryExecution.executedPlan).collect {
        case e: graft.plans.TopKPerKeyExec if e.partial =>
          e.metrics("numFlushes").value
      }.sum
      assert(flushed > 0, "tiny key budget never flushed the partial map")
    }
  }

  test("byte-budget flush path also matches") {
    withConf(TopKPerKey.PartialMaxBytesConf -> "256") {
      val df = data(spark)
      val got = TopKPerKey.topK(df, 2, Seq("k"), Seq("id" -> true))
      val w = Window.partitionBy("k").orderBy(col("id").asc)
      val want = df.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 2).drop("rn")
      assert(got.exceptAll(want).count() == 0)
      assert(want.exceptAll(got).count() == 0)
    }
  }

  test("float keys group by SQL value equality (-0.0 == 0.0, one NaN)") {
    import spark.implicits._
    val df = Seq((0.0, 1L), (-0.0, 2L), (0.0, 3L), (1.5, 4L),
      (Double.NaN, 5L), (Double.NaN, 6L))
      .toDF("k", "id")
    val got = TopKPerKey.topK(df, 1, Seq("k"), Seq("id" -> true))
    // One winner per VALUE-distinct key: {0.0, 1.5, NaN} → ids 1, 4, 5.
    assert(got.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 4L, 5L))
  }

  test("column names resolve case-insensitively like the rest of the session") {
    val got = TopKPerKey.topK(data(spark), 2, Seq("K"), Seq("V" -> false, "ID" -> true))
    assert(got.count() == 5 * 2 + 1) // 5 full keys × 2 + the singleton
  }

  test("downstream operations compose over the custom node") {
    val agg = TopKPerKey.topK(data(spark), 2, Seq("k"),
      Seq("v" -> false, "id" -> true))
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv"))
    val rows = agg.orderBy("k").collect()
    // Every multi-row key keeps exactly 2; the singleton keeps 1.
    assert(rows.filter(_.getLong(0) != 99L).forall(_.getLong(1) == 2L))
    assert(rows.find(_.getLong(0) == 99L).get.getLong(1) == 1L)
  }
}
