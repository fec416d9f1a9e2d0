package graft

import org.apache.spark.sql.functions._

import graft.engine.{Caches, Tables}
import graft.operators.Pipeline

/** [[Bench.measure]], the one measured query run every main shares: a
  * failure is visible, every cache the run registered is released, and
  * the pipeline stage seconds ride on the run's own record. */
class MeasureSpec extends SparkSpec {

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a failing build reads sec -1 with its error and leaves no persisted RDDs") {
    val before = persisted
    val r = Bench.measure(spark) {
      Caches.materialized(spark.range(100).toDF("id"))
      throw new IllegalStateException("planted build failure")
    }()
    assert(r.sec == -1.0)
    assert(r.err.exists(_.contains("planted build failure")), r.err)
    assert(persisted == before)
  }

  test("a materialized barrier in the frame is released after the run") {
    val before = persisted
    var during = Set.empty[Int]
    val r = Bench.measure(spark)(
      Caches.materialized(spark.range(1000).toDF("id"))
        .filter(col("id") % 7 === 0)) { df =>
      assert(df.count() == 143)
      during = persisted
    }
    assert(r.err.isEmpty && r.sec >= 0, r)
    assert(during.size > before.size, "the barrier persisted during the run")
    assert(persisted == before)
  }

  test("a pipeline body's stage seconds land in RunStats.stages, taken once") {
    val r = Bench.measure(spark)(
      Pipeline.fullCuration(Tables.documents(spark, sf)))()
    assert(r.err.isEmpty, r.err)
    assert(r.stages.map(_._1) == Seq("1_extract_gate", "2_survivors",
      "3_dedup_pairs", "4_dedup_survivors", "5_classify",
      "6_classifier_keep", "7_budget", "8_final_select", "9_pack"),
      s"unexpected stage set: ${r.stages}")
    assert(r.stages.forall(_._2 >= 0.0))
    assert(Pipeline.takeStageSeconds().isEmpty)
  }
}
