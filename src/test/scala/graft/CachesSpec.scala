package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, udf}

import graft.engine.Caches

/** [[Caches.truncated]], the one plan-truncation primitive: rows and
  * barrier count, the `LogicalRDD` leaf, cache reuse under a caller
  * that already forced its plan, and release back to the baseline. */
class CachesSpec extends SparkSpec {

  test("truncated: same rows and count, one LogicalRDD leaf, upstream runs once, release restores") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val calls = spark.sparkContext.longAccumulator("caches-spec-udf-calls")
    val bump = udf { (x: Long) => calls.add(1); x * 7 % 11 }
    val n = 1000L
    val in = spark.range(0, n, 1, 4)
      .select(col("id"), bump(col("id")).as("v"))
    // Force the input's physical plan BEFORE truncation: its cache
    // substitution is then fixed without the cache, so only a fresh plan
    // over the persisted frame reads the cached rows.
    in.queryExecution.executedPlan
    val (t, count) = Caches.truncated(in)

    // (a) rows and count.
    assert(count == n)
    val expected = (0L until n).map(i => (i, i * 7 % 11)).toSet
    def rows(): Seq[(Long, Long)] =
      t.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val first = rows()
    assert(first.size == n && first.toSet == expected)
    assert(t.schema == in.schema)

    // (b) the analyzed plan is a single LogicalRDD leaf.
    t.queryExecution.analyzed match {
      case _: LogicalRDD =>
      case other => fail(s"expected a LogicalRDD leaf, got:\n$other")
    }

    // (c) the upstream UDF ran exactly once per row: in the barrier,
    // never again for either action over the truncated frame.
    assert(rows().toSet == expected)
    assert(calls.value == n,
      s"upstream recomputed: ${calls.value} UDF calls for $n rows")

    // (d) release drops the cache back to the baseline.
    assert(spark.sparkContext.getPersistentRDDs.keySet != before)
    Caches.release()
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }
}
