package graft.plans

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeMap,
  EqualTo, Expression, IsNotNull, NamedExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, Join,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{AGGREGATE, JOIN}

/** Several aggregates over one input, joined back on their grouping keys,
  * computed in ONE pass — the reference's MapAggregator contract (one
  * per-cell partial state carrying every reducer, then one combiner;
  * SURVEY.md D, O5). Without it `r.count().join(r.sum(x), keys)` plans two
  * Aggregates that each re-run the whole input (for aggregate-by-geometry:
  * cover build, cell explode, cell join and raycast refine, once each).
  *
  * Matches an `Inner` join whose sides are both `Aggregate`s (seen through
  * an attribute-only `Project`, so the left-deep chains of
  * `a.join(b, keys).join(c, keys)` collapse bottom-up) when
  *   - their children compute the same rows from the same deterministic
  *     input (see [[mergePlans]]),
  *   - their grouping expressions are semantically equal, in order, and
  *   - the join condition is exactly one equality per grouping key between
  *     the two sides' outputs of that key, in either orientation.
  * The join becomes one Aggregate carrying both aggregate lists. It keeps
  * the join's output attributes: a right-side key output becomes an alias
  * of the left key with the right key's exprId. Grouping keys are unique
  * per side, so each left group meets at most its own right group; the
  * only rows the join dropped are NULL-key groups, hence the `isnotnull`
  * filter under the merged Aggregate on keys its input may leave NULL.
  * Keys whose join equality is not a bare `=` (Catalyst wraps
  * floating-point keys in normalisation) do not match and keep their join,
  * and so does a side with a DISTINCT aggregate (see [[hasDistinct]]).
  *
  * Once installed (by [[install]], which [[graft.api.Reducer.on]] calls)
  * the rule applies to EVERY query of that session, Reducer or not, so a
  * query may plan differently after some earlier query made a Reducer.
  *
  * The gain rests on one property: re-running the input costs more than
  * the aggregation the merge may slow down. Merged, a hash-aggregatable
  * list (count, decimal sum) and an object one (a KLL sketch) run as ONE
  * ObjectHashAggregate, which turns sort-based beyond 128 groups per task
  * (`spark.sql.objectHashAggregate.sortBased.fallbackThreshold`); Spark's
  * `MergeScalarSubqueries` refuses such mixed merges for that reason. Over
  * a spatial join the input dominates (measured on the `geo_aggregate`
  * benchmark); over a cheap scan the merge is unmeasured.
  *
  * The rule runs in the optimizer's user batch, after column pruning, so
  * the two children are no longer identical: each projects the columns
  * its own aggregates need. [[mergePlans]] therefore merges them as
  * Spark's `MergeScalarSubqueries` does, walking both sides together.
  * Pruning folds projections into a `LocalRelation`'s data, so two sides
  * over a local relation that keep different columns do not match.
  */
object MergeKeyedAggregates extends Rule[LogicalPlan] with PredicateHelper {

  /** Adds the rule to `spark`'s extra optimizations unless it is there. */
  def install(spark: SparkSession): Unit = synchronized {
    val ex = spark.experimental
    if (!ex.extraOptimizations.contains(this)) ex.extraOptimizations = ex.extraOptimizations :+ this
  }

  def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsAllPatterns(JOIN, AGGREGATE)) {
      case j @ Join(l, r, Inner, Some(cond), _) if !j.isStreaming =>
        (for {
          la <- aggregateOf(l)
          ra <- aggregateOf(r)
          merged <- mergeAggregates(la, ra, cond)
        } yield merged).getOrElse(j)
    }

  /** An Aggregate, or an attribute-only Project of one narrowed to the
    * outputs it keeps (same attributes, same order).
    */
  private def aggregateOf(p: LogicalPlan): Option[Aggregate] = p match {
    case a: Aggregate => Some(a)
    case Project(list, a: Aggregate)
        if list.forall(_.isInstanceOf[Attribute]) && list.map(_.exprId).distinct.length == list.length =>
      val byId = a.aggregateExpressions.map(e => e.exprId -> e).toMap
      Some(a.copy(aggregateExpressions = list.map(x => byId(x.exprId))))
    case _ => None
  }

  /** The optimizer rewrites several DISTINCT sets into one Aggregate before
    * this rule runs; a merge that builds a second set would reach physical
    * planning unrewritten, which refuses it.
    */
  private def hasDistinct(a: Aggregate): Boolean =
    a.aggregateExpressions.exists(_.exists {
      case e: AggregateExpression => e.isDistinct
      case _ => false
    })

  private def unalias(e: Expression): Expression = e match { case Alias(c, _) => c; case x => x }

  /** Index of the grouping expression `out` passes through unchanged. */
  private def keyIndex(a: Aggregate, out: NamedExpression): Option[Int] =
    Some(a.groupingExpressions.indexWhere(_.semanticEquals(unalias(out)))).filter(_ >= 0)

  private def mergeAggregates(la: Aggregate, ra: Aggregate, cond: Expression): Option[Aggregate] = {
    val n = la.groupingExpressions.length
    val deterministic = Seq(la, ra).forall(_.find(_.expressions.exists(!_.deterministic)).isEmpty)
    if (n == 0 || la.hint.isDefined || ra.hint.isDefined || !deterministic ||
        hasDistinct(la) || hasDistinct(ra)) return None
    val lOut = AttributeMap(la.aggregateExpressions.map(e => e.toAttribute -> e))
    val rOut = AttributeMap(ra.aggregateExpressions.map(e => e.toAttribute -> e))
    // grouping-key index of each conjunct, which must equate that key on both sides
    val joined = splitConjunctivePredicates(cond).map {
      case EqualTo(a: Attribute, b: Attribute) =>
        val (x, y) = if (lOut.contains(a)) (a, b) else (b, a)
        for {
          le <- lOut.get(x); re <- rOut.get(y)
          i <- keyIndex(la, le); k <- keyIndex(ra, re) if i == k
        } yield i
      case _ => None
    }
    if (joined.exists(_.isEmpty) || joined.flatten.sorted != (0 until n)) return None
    val (lIn, lTested) = keyedInput(la)
    val (rIn, rTested) = keyedInput(ra)
    for {
      (child, rMap) <- mergePlans(lIn, rIn)
      if ra.groupingExpressions.length == n &&
        ra.groupingExpressions.zip(la.groupingExpressions)
          .forall { case (r, l) => mapAttributes(r, rMap).semanticEquals(l) }
    } yield {
      val rightOut = ra.aggregateExpressions.map { e =>
        mapAttributes(e, rMap) match {
          case a: Attribute if a.exprId != e.exprId => Alias(a, e.name)(e.exprId, e.qualifier)
          case m => m
        }
      }
      val tested = lTested ++ rTested.map(mapAttributes(_, rMap))
      val nullable = la.groupingExpressions.filter(g =>
        (g.nullable || tested.exists(_.semanticEquals(g))) && !child.constraints.contains(IsNotNull(g)))
      val input = if (nullable.isEmpty) child else Filter(nullable.map(IsNotNull).reduce(And), child)
      Aggregate(la.groupingExpressions, la.aggregateExpressions ++ rightOut, input)
    }
  }

  /** `a`'s input less a top Filter that only drops NULL grouping keys (a
    * merged Aggregate's own, or one Catalyst inferred from the join), and
    * the keys it tests: the merged Aggregate drops those groups again.
    */
  private def keyedInput(a: Aggregate): (LogicalPlan, Seq[Expression]) = a.child match {
    case Filter(cond, c) =>
      val tested = splitConjunctivePredicates(cond).map {
        case IsNotNull(e) if a.groupingExpressions.exists(_.semanticEquals(e)) => Some(e)
        case _ => None
      }
      if (tested.forall(_.isDefined)) (c, tested.flatten) else (a.child, Nil)
    case c => (c, Nil)
  }

  private def mapAttributes[T <: Expression](e: T, m: AttributeMap[Attribute]): T =
    e.transform { case a: Attribute => m.getOrElse(a, a) }.asInstanceOf[T]

  /** Merges `r` into `l`: a plan computing the rows of both, whose output
    * holds all of `l`'s attributes, plus where each of `r`'s output
    * attributes is found in it. None when the two may differ in rows.
    * Projects take the union of their lists; Filter, Join and Generate
    * must agree after mapping; anything else must be the same result.
    */
  private def mergePlans(l: LogicalPlan, r: LogicalPlan)
      : Option[(LogicalPlan, AttributeMap[Attribute])] =
    if (l.sameResult(r)) Some(l -> AttributeMap(r.output.zip(l.output)))
    else (l, r) match {
      case (lp: Project, rp: Project) => mergeProjects(lp.projectList, lp.child, rp.projectList, rp.child)
      case (lp: Project, _) => mergeProjects(lp.projectList, lp.child, r.output, r)
      case (_, rp: Project) => mergeProjects(l.output, l, rp.projectList, rp.child)
      case (lf: Filter, rf: Filter) =>
        mergePlans(lf.child, rf.child).collect {
          case (child, m) if same(mapAttributes(rf.condition, m), lf.condition) =>
            lf.copy(child = child) -> m
        }
      case (lj: Join, rj: Join) if lj.joinType == rj.joinType && lj.hint == rj.hint =>
        for {
          (left, lm) <- mergePlans(lj.left, rj.left)
          (right, rm) <- mergePlans(lj.right, rj.right)
          m = AttributeMap(lm.toSeq ++ rm.toSeq)
          if rj.condition.map(c => mapAttributes(c, m).canonicalized) == lj.condition.map(_.canonicalized)
        } yield lj.copy(left = left, right = right) -> m
      case (lg: Generate, rg: Generate) if lg.outer == rg.outer =>
        mergePlans(lg.child, rg.child).collect {
          case (child, m) if same(mapAttributes(rg.generator, m), lg.generator) &&
              lg.generatorOutput.length == rg.generatorOutput.length =>
            // keep each child column that either side still needs
            val needed = (lg.requiredChildOutput ++ rg.requiredChildOutput.map(a => m.getOrElse(a, a))).toSet
            val unrequired = child.output.indices.filterNot(i => needed.contains(child.output(i)))
            lg.copy(unrequiredChildIndex = unrequired, child = child) ->
              AttributeMap(m.toSeq ++ rg.generatorOutput.zip(lg.generatorOutput))
        }
      case _ => None
    }

  private def same(a: Expression, b: Expression): Boolean = a.canonicalized == b.canonicalized

  /** `lList` over `lChild` and `rList` over `rChild` as one Project: `lList`
    * then each mapped `rList` entry that no entry already computes.
    */
  private def mergeProjects(lList: Seq[NamedExpression], lChild: LogicalPlan,
                            rList: Seq[NamedExpression], rChild: LogicalPlan)
      : Option[(LogicalPlan, AttributeMap[Attribute])] =
    mergePlans(lChild, rChild).flatMap { case (child, m) =>
      val list = ArrayBuffer[NamedExpression](lList: _*)
      val rMap = AttributeMap(rList.map { e =>
        val mapped = mapAttributes(e, m)
        // prefer the entry of the same name, so conditions above that name
        // it still match after mapping
        val hits = list.filter(x => unalias(x).semanticEquals(unalias(mapped)))
        e.toAttribute -> hits.find(_.name == e.name).orElse(hits.headOption)
          .getOrElse { list += mapped; mapped }.toAttribute
      })
      if (list.map(_.exprId).distinct.length != list.length) None
      else Some(Project(list.toSeq, child) -> rMap)
    }
}
