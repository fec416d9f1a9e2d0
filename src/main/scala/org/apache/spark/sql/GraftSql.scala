package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between `Column` and Catalyst `Expression` for this library's
  * native expressions. Spark 4 made `Column` representation-opaque (it
  * wraps a ColumnNode, not an Expression) and gated the converters as
  * `private[sql]`, so libraries shipping custom codegen'd expressions
  * need this one-file shim in the `org.apache.spark.sql` package — the
  * same approach used by typed-DataFrame libraries built on Spark
  * internals. Everything else in this repo lives under `graft.*`. */
object GraftSql {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over a hand-built logical plan (for the library's custom
    * operators) — `Dataset.ofRows` is `private[sql]` in Spark 4. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Rebase a (cached, materialized) frame on its physical RDD: the
    * returned frame's logical plan is a single `LogicalRDD` leaf, its
    * data the cache-backed row stream. This is `Dataset.checkpoint`'s
    * construction minus the checkpoint itself — the RDD keeps normal
    * resilient lineage, so evicted blocks recompute.
    *
    * Iterative algorithms MUST rebase each round's loop variable like
    * this. Building round r+1 on round r's DataFrame keeps the full
    * Catalyst lineage, and a self-joining round grows the tree 4^rounds;
    * substituting the `InMemoryRelation` is NOT enough either, because an
    * IMR leaf embeds the physical plan that built it, and per-action
    * plan-string generation (UI/listener events) walks that shared DAG
    * as a TREE — observed as the driver burning minutes in
    * `generateTreeString` by round ~8 while zero tasks run. Only an
    * RDD-leaf plan is O(1) for analysis AND explain.
    *
    * FRESH-PLAN RULE: the RDD comes from a new `QueryExecution` over
    * `df`'s logical plan, never from `df.queryExecution` itself. Cache
    * substitution (`withCachedData`) is fixed the first time a plan is
    * forced; a caller that forced `df`'s plan before `persist` would
    * otherwise get an RDD that ignores the cache, and every consumer
    * would silently recompute the whole upstream stage.
    *
    * Rows are copied defensively: columnar-scan iterators reuse row
    * buffers, and `LogicalRDD` consumers assume owned rows (same reason
    * `Dataset.checkpoint` copies). `internalCreateDataFrame` is
    * `private[sql]`, hence exposed here. */
  def rddPinned(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val fresh = ofRows(spark, df.queryExecution.logical)
    spark.internalCreateDataFrame(
      fresh.queryExecution.toRdd.map(_.copy()), df.schema)
  }

  /** Canonicalize float/double bit patterns (-0.0 → 0.0, NaN → one NaN)
    * so byte-wise grouping/partitioning matches SQL value equality. The
    * optimizer applies this to built-in Aggregate/Window/Join keys
    * (`NormalizeFloatingNumbers`); custom operators grouping by raw
    * `UnsafeRow` bytes must apply it to their own keys. Non-float types
    * pass through unchanged. `private[sql]`, hence exposed here. */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)
}
