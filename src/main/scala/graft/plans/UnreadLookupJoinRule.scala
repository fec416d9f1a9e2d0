package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.engine.Tables

/** Optimizer rule: drop LEFT lookup joins whose columns nothing reads.
  *
  * A LEFT join against a side that holds at most one row per join key
  * keeps every left row exactly once, so when nothing above the join
  * reads a right-side column the join changes no row and can go. Spark's
  * `EliminateOuterJoin` already drops such joins under a grouping-only
  * aggregate, and where the right side's `distinctKeys` cover the join
  * keys; a parquet relation has no distinct keys, so the wide view's dimension lookups
  * ([[graft.engine.StarSchema.wideView]]) were all broadcast and probed
  * on every query, read or not.
  *
  * Rewrites `Project(_, Join(left, right, LeftOuter, cond))` to
  * `Project(_, left)` when
  *   - the project reads only `left`'s columns;
  *   - `right` is a chain of Project/Filter over a relation whose key
  *     [[graft.engine.Tables]] verified unique over exactly the files the
  *     relation's own file index lists ([[Tables.verifiedKey]]);
  *   - a conjunct of `cond` is `leftExpr = key`, with `key` that verified
  *     key carried through the chain (renames included). Further conjuncts
  *     can only drop matches, never add them.
  * `=` never matches a NULL key, so NULL keys on the right are harmless;
  * `<=>` would match them and is not accepted.
  *
  * Under the operator-optimization batch's fixed point, column pruning
  * after one elimination unblocks the next: dropping the destination
  * `nation` lookup stops `s_nationkey` being read, and so on down the
  * chain. Registered by [[graft.GraftExtensions]]; compare results with
  * it off through `spark.sql.optimizer.excludedRules`. */
object UnreadLookupJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan transformUp {
    case p @ Project(_, Join(left, right, LeftOuter, Some(cond), _))
        if p.references.subsetOf(left.outputSet) && isLookup(left, right, cond) =>
      p.copy(child = left)
  }

  private def isLookup(left: LogicalPlan, right: LogicalPlan,
      cond: Expression): Boolean = {
    val keys = uniqueKeys(right)
    def lookup(l: Expression, r: Expression) = r match {
      case a: Attribute => keys.contains(a) && l.references.subsetOf(left.outputSet)
      case _ => false
    }
    keys.nonEmpty && splitConjunctivePredicates(cond).exists {
      case EqualTo(a, b) => lookup(a, b) || lookup(b, a)
      case _ => false
    }
  }

  /** The output attributes of a Project/Filter chain that carry its
    * relation's verified key: at most one row per value. */
  private def uniqueKeys(plan: LogicalPlan): AttributeSet = plan match {
    case Filter(_, child) => uniqueKeys(child)
    case Project(list, child) =>
      val keys = uniqueKeys(child)
      AttributeSet(list.collect {
        case a: Attribute if keys.contains(a) => a
        case al @ Alias(a: Attribute, _) if keys.contains(a) => al.toAttribute
      })
    case r @ LogicalRelation(fs: HadoopFsRelation, _, _, false, _) =>
      AttributeSet(Tables.verifiedKey(fs.location).toSeq
        .flatMap(k => r.output.find(_.name == k)))
    case _ => AttributeSet.empty
  }
}
