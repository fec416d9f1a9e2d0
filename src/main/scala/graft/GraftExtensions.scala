package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{TextKernels, VectorExpressions}
import graft.plans.{BinnedIntervalJoinRule, UnreadLookupJoinRule}

/** SQL surface for the library's native kernels + its optimizer rules.
  *
  * `SparkSession.builder().withExtensions(new GraftExtensions)` — or
  * `--conf spark.sql.extensions=graft.GraftExtensions` on an existing
  * deployment — injects [[graft.plans.BinnedIntervalJoinRule]] (naive
  * timestamp range joins re-planned as binned equi-joins instead of
  * nested loops) and [[graft.plans.UnreadLookupJoinRule]] (unread LEFT
  * lookup joins over a verified key dropped) and registers the custom Catalyst expressions as plain
  * SQL functions, so `spark.sql` users (and SQL views like q21's) get
  * the same codegen'd kernels the DataFrame API uses:
  *
  * {{{
  *   SELECT simhash64(text)                          -- 64-bit SimHash
  *   SELECT word_shingles(text, 3)                   -- n-gram shingles
  *   SELECT poly_fingerprint(text)                   -- rolling hash
  *   SELECT marker_hits(text, array('the','a'))      -- tokens ∈ set
  *   SELECT sorted_intersect_count(a, b)             -- |a ∩ b|, sorted arrays
  *   SELECT vector_dot(e1, e2)                       -- float-vector dot
  * }}}
  *
  * Scalar parameters (`n`, the marker word set) must be foldable
  * literals — they are baked into the expression at plan time exactly as
  * the DataFrame API does. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, clazz: Class[_]): ExpressionInfo =
    new ExpressionInfo(clazz.getCanonicalName, name)

  private def foldedInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a foldable literal")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
  }

  private def foldedStrings(e: Expression, what: String): Seq[String] = {
    require(e.foldable, s"$what must be a foldable array<string> literal")
    e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        a.toObjectArray(org.apache.spark.sql.types.StringType)
          .map(_.toString).toIndexedSeq
      case other => throw new IllegalArgumentException(
        s"$what must be an array<string> literal, got $other")
    }
  }

  private def arity(args: Seq[Expression], n: Int, name: String): Unit =
    require(args.length == n, s"$name expects $n argument(s), got ${args.length}")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Timestamp range joins (no equi-key → BroadcastNestedLoopJoin)
    // re-planned as binned equi-joins; see BinnedIntervalJoinRule.
    ext.injectOptimizerRule(_ => BinnedIntervalJoinRule)

    // LEFT lookup joins over a verified unique key that nothing reads
    // are dropped; see UnreadLookupJoinRule.
    ext.injectOptimizerRule(_ => UnreadLookupJoinRule)

    // Physical planning for the TopKPerKey logical node (bounded-heap
    // partial/final ranking instead of a full shuffle + sort).
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)

    ext.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", classOf[TextKernels.SimhashExpr]),
      (args: Seq[Expression]) => {
        arity(args, 1, "simhash64")
        TextKernels.SimhashExpr(args.head)
      }))

    ext.injectFunction((FunctionIdentifier("word_shingles"),
      info("word_shingles", classOf[TextKernels.ShinglesExpr]),
      (args: Seq[Expression]) => {
        arity(args, 2, "word_shingles")
        TextKernels.ShinglesExpr(args.head, foldedInt(args(1), "shingle size"))
      }))

    ext.injectFunction((FunctionIdentifier("poly_fingerprint"),
      info("poly_fingerprint", classOf[TextKernels.PolyFingerprintExpr]),
      (args: Seq[Expression]) => {
        arity(args, 1, "poly_fingerprint")
        TextKernels.PolyFingerprintExpr(args.head)
      }))

    ext.injectFunction((FunctionIdentifier("marker_hits"),
      info("marker_hits", classOf[TextKernels.MarkerHitsExpr]),
      (args: Seq[Expression]) => {
        arity(args, 2, "marker_hits")
        TextKernels.MarkerHitsExpr(args.head,
          foldedStrings(args(1), "marker word set"))
      }))

    ext.injectFunction((FunctionIdentifier("sorted_intersect_count"),
      info("sorted_intersect_count", classOf[TextKernels.SortedIntersectExpr]),
      (args: Seq[Expression]) => {
        arity(args, 2, "sorted_intersect_count")
        TextKernels.SortedIntersectExpr(args.head, args(1))
      }))

    ext.injectFunction((FunctionIdentifier("vector_dot"),
      info("vector_dot", classOf[VectorExpressions.DotProductExpr]),
      (args: Seq[Expression]) => {
        arity(args, 2, "vector_dot")
        VectorExpressions.DotProductExpr(args.head, args(1))
      }))

    ext.injectFunction((FunctionIdentifier("vector_max_abs"),
      info("vector_max_abs", classOf[VectorExpressions.MaxAbsExpr]),
      (args: Seq[Expression]) => {
        arity(args, 1, "vector_max_abs")
        VectorExpressions.MaxAbsExpr(args.head)
      }))

    ext.injectFunction((FunctionIdentifier("vector_quantize"),
      info("vector_quantize", classOf[VectorExpressions.QuantizeExpr]),
      (args: Seq[Expression]) => {
        arity(args, 2, "vector_quantize")
        VectorExpressions.QuantizeExpr(args.head, args(1))
      }))
  }
}
