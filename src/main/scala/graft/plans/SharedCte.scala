package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, PredicateHelper, ScalarSubquery}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, CTERelationDef, CTERelationRef, Filter, Join, LogicalPlan, UnaryNode, UnionLoop}
import org.apache.spark.sql.catalyst.rules.Rule

/** A heavy WITH query that the statement references more than once is
  * planned and run once (docs/OPERATIONS.md §6).
  *
  * Spark inlines every deterministic CTE however often it is referenced
  * (`InlineCTE.shouldInline`). Only a kept CTE takes Spark's shared path:
  * the references' filters are pushed into the definition as their
  * disjunction, every reference becomes the same shuffle
  * (`ReplaceCTERefWithRepartition`), and exchange reuse runs it once.
  * The gate is structural, with no conf key: at least two references, a
  * `Join` or an `Aggregate` in the definition, and no scalar subquery
  * reading it. The three rules are injected by `GraftExtensions`.
  */
object SharedCte {

  /** Post-hoc resolution: wraps a qualifying definition's child in a
    * [[SharedCteBarrier]], which `InlineCTE` takes for nondeterministic. */
  object Keep extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = {
      val refs = plan.collectWithSubqueries { case r: CTERelationRef => r.cteId }
      if (refs.isEmpty) plan
      else {
        val refCount = refs.groupBy(identity).view.mapValues(_.size).toMap
        val inScalar = readByScalarSubqueries(plan)
        plan.transformDownWithSubqueries {
          case d: CTERelationDef if refCount.getOrElse(d.id, 0) >= 2 &&
              !inScalar(d.id) && heavy(d) =>
            d.copy(child = SharedCteBarrier(d.child))
        }
      }
    }

    private def heavy(d: CTERelationDef): Boolean =
      !d.child.isInstanceOf[SharedCteBarrier] && !d.child.isStreaming &&
        d.child.exists { case _: Join | _: Aggregate => true; case _ => false } &&
        !d.child.exists {
          case _: UnionLoop => true
          case r: CTERelationRef => r.cteId == d.id
          case _ => false
        }

    /** CTEs a scalar subquery reads, directly or through other CTEs.
      * `MergeScalarSubqueries` hoists merged scalar subqueries into a new
      * top-level WITH above the one defining a kept CTE they read, where
      * `ReplaceCTERefWithRepartition` fails on the unknown reference. */
    private def readByScalarSubqueries(plan: LogicalPlan): Set[Long] = {
      def refsIn(p: LogicalPlan): Set[Long] =
        p.collectWithSubqueries { case r: CTERelationRef => r.cteId }.toSet
      val defs = plan.collectWithSubqueries { case d: CTERelationDef => d.id -> refsIn(d.child) }.toMap
      def close(ids: Set[Long]): Set[Long] = {
        val next = ids ++ ids.flatMap(defs.getOrElse(_, Set.empty[Long]))
        if (next == ids) ids else close(next)
      }
      close(plan.collectWithSubqueries { case p =>
        p.expressions.flatMap(_.collect { case s: ScalarSubquery => refsIn(s.plan) }).flatten
      }.flatten.toSet)
    }
  }

  /** Operator optimization, after `Inline CTE`: removes the barrier, also
    * from the plan the CTE pushdown rule keeps to rebuild from. */
  object Release extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
      case SharedCteBarrier(child) => child
      case d @ CTERelationDef(_, _, Some((original, preds)), _, _)
          if original.exists(_.isInstanceOf[SharedCteBarrier]) =>
        d.copy(originalPlanWithPredicates = Some((apply(original), preds)))
    }
  }

  /** Pre-CBO, once: Spark pushes the references' disjunction below a kept
    * definition's aggregate only whole, so q75's `d_year = 2000 OR
    * (d_year = 1999 AND sales_cnt <> 0)` would aggregate every year. This
    * pushes the implied grouping-key part (`d_year = 2000 OR d_year =
    * 1999`) below it; running once, it cannot cycle with the pushdown. */
  object NarrowByGroupingKeys extends Rule[LogicalPlan] with PredicateHelper {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformWithSubqueries {
      case d: CTERelationDef => d.copy(child = d.child.transformDown {
        case f @ Filter(cond, agg: Aggregate) if cond.deterministic =>
          val keys = AttributeSet(agg.aggregateExpressions.collect {
            case a: Attribute if agg.groupingExpressions.exists(_.semanticEquals(a)) => a
          })
          extractPredicatesWithinOutputSet(cond, keys)
            .filterNot(w => splitConjunctivePredicates(cond).exists(_.semanticEquals(w)))
            .map(w => f.copy(child = agg.copy(child = Filter(w, agg.child))))
            .getOrElse(f)
      })
    }
  }
}

/** Marks a CTE definition that `InlineCTE` must keep; see [[SharedCte]]. */
case class SharedCteBarrier(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def deterministic: Boolean = false
  override protected def withNewChildInternal(newChild: LogicalPlan): SharedCteBarrier =
    copy(child = newChild)
}
