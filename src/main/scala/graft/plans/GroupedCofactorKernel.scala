package graft.plans

import graft.agg.{CofactorAggregate, ColumnarCofactor, SumTriple, ToCofactor, TripleCodec}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnionExec}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DateType, DecimalType, DoubleType, FloatType}

/**
 * Planner strategy routing a SQL/DataFrame cofactor aggregate —
 * `sum_to_triple`/`sum_to_nb_agg` over 0–4 group keys — through the
 * columnar kernel: the same partial aggregate `Graft.cofactorGrouped`
 * runs (one columnar scan, per-group buffers per partition, no
 * ColumnarToRow). With this strategy installed, `spark.sql("SELECT k,
 * sum_to_triple(x, y, c) FROM t GROUP BY k")` plans as Spark's own
 * `sum_triple` final aggregate over an exchange over one
 * [[GroupedKernelPartialExec]] leaf when every gate passes —
 * distributed like any aggregate, so it serves grouped cofactors that
 * feed a join as well as those that are the answer. Zero keys (`df.agg(
 * sum_to_triple(...))`, the q02 shape) are the degenerate case: one
 * partial row per scan partition under a single-partition exchange.
 * Two to four keys (`GROUP BY source, lang` — the standard curation
 * cut) ride the same Long label channel with probed per-key byte
 * budgets ([[graft.agg.ColumnarCofactor.CatPackedKeys]]).
 *
 * Opt-in via `spark.experimental.extraStrategies`, the same per-session
 * convention as [[FactorizeCofactorRule]] — NOT registered globally by
 * `Graft.register`, because the library's own row-aggregate parity
 * tests and the bench's row-aggregate measurement rows construct
 * exactly this shape on purpose and must keep planning the default.
 *
 * Gates (any failure returns Nil — the default aggregation plans):
 *  - 0–4 grouping expressions, all plain int/long/string attributes;
 *  - the aggregate list is group keys (possibly aliased, possibly a
 *    subset) plus exactly one plain [[CofactorAggregate]] over
 *    attribute children (no DISTINCT, no FILTER);
 *  - child output names are unambiguous (the kernel binds by name);
 *  - [[GroupedKernelPartial.gate]] accepts: a harvestable bare/filtered
 *    scan and, with keys, [[graft.Graft.groupedKernelGate]]'s key
 *    width/cardinality/buffer-byte caps and a probed NULL-row bound
 *    ≤ ~10% of the table.
 *
 * Zero keys: the aggregate's CAPTURED cat-cardinality cap rides into
 * the kernel (an explicit non-default cap throws — or not —
 * identically on both routes), and a `withColumn("y", year(ts))`
 * Project under the aggregate (the shipyear idiom) is looked through:
 * the alias becomes the kernel's own CatYear spec — same calendar
 * rule, no Project in the way of the harvest. No NULL remainder is
 * needed: the row aggregate and the kernel share the skip-any-NULL-row
 * contract exactly, and the empty input is the empty triple on both
 * routes.
 *
 * With keys, NULL-bearing data keeps the fast route via a
 * NULL-REMAINDER branch: SQL keeps a NULL-key group, and a group whose
 * rows all carry a NULL input still appears with an empty triple —
 * both shapes the kernel's skip-any-NULL-row contract drops. But those
 * are EXACTLY the rows the kernel skips, so the remainder `any key IS
 * NULL OR any input IS NULL` (a filter-pushed scan over the small
 * NULL-bearing fraction) is lifted row by row with `to_cofactor` and
 * unioned under the same final `sum_triple`. A NULL-input row lifts to
 * NULL, which `sum_triple` skips, so it contributes nothing on either
 * path and the merge is exact; a group whose merged triple is NULL gets
 * the empty triple of its arity, as the default plan gives it. Past the
 * gate's ~10% bound the remainder is no longer small and the default
 * plan wins.
 *
 * The probe job runs at PLANNING time (first action or explain); it is
 * fixed-memory, one scan, and memoized per (plan, columns, file
 * snapshot), so repeated queries over the same tables pay it once.
 */
case class GroupedCofactorStrategy(session: SparkSession) extends SparkStrategy {

  def apply(plan: LogicalPlan): Seq[SparkPlan] =
    GroupedKernelPartial.declineOnFailure("GroupedCofactorStrategy")(applyUnsafe(plan))

  private def applyUnsafe(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case agg @ Aggregate(groupExprs, projList, child, _)
        if groupExprs.size <= 4 &&
          groupExprs.forall(_.isInstanceOf[AttributeReference]) &&
          projList.count(isPlainCofactor) == 1 &&
          projList.forall(e => isPlainCofactor(e) ||
            groupExprs.exists(k => isGroupRef(e, k.asInstanceOf[AttributeReference]))) =>
      val keys = groupExprs.map(_.asInstanceOf[AttributeReference])
      val ae = projList.collectFirst {
        case Alias(a @ AggregateExpression(_: CofactorAggregate, _, false, None, _), _) => a
      }.get
      val cof = ae.aggregateFunction.asInstanceOf[CofactorAggregate]
      // an explicit non-default cat-cardinality cap on a GROUPED
      // aggregate means the user pinned ROW-aggregate guard semantics
      // (per-group cat maps, group keys exempt); the kernel's single
      // cap also guards the label channel, so the routes would
      // diverge — default plan
      if (keys.nonEmpty && cof.maxCategories != CofactorAggregate.confMaxCategories()) return Nil
      if (!cof.children.forall(_.isInstanceOf[AttributeReference])) return Nil
      val inputs = cof.children.map(_.asInstanceOf[AttributeReference])
      // resolve each aggregate input through an optional attrs+year
      // Project (zero keys only): (underlying name, isYear). Any other
      // computed column refuses the route.
      val (scanChild, resolveOf): (LogicalPlan, Map[ExprId, (String, Boolean)]) = child match {
        case p: Project if keys.isEmpty && p.projectList.forall {
              case _: AttributeReference => true
              case Alias(y: Year, _) => yearAttr(y).isDefined
              case Alias(_: AttributeReference, _) => true
              case _ => false
            } =>
          (p.child, p.projectList.map {
            case a: AttributeReference => a.exprId -> (a.name, false)
            case al @ Alias(y: Year, _) => al.exprId -> (yearAttr(y).get.name, true)
            case al @ Alias(a: AttributeReference, _) => al.exprId -> (a.name, false)
          }.toMap)
        case other =>
          (other, other.output.map(a => a.exprId -> (a.name, false)).toMap)
      }
      // name-unambiguous child: the kernel entry points bind by name
      val names = scanChild.output.map(_.name.toLowerCase(java.util.Locale.ROOT))
      if (names.distinct.size != names.size) return Nil
      if (!inputs.forall(a => resolveOf.contains(a.exprId))) return Nil
      // split by the aggregate's own num/cat rule so the kernel computes
      // the identical triple layout; a year() alias is int-typed, so it
      // can only land in cat position
      val (numAttrs, catAttrs) = inputs.partition(a => a.dataType match {
        case DoubleType | FloatType | _: DecimalType => true
        case _ => false
      })
      val num = numAttrs.map(a => resolveOf(a.exprId)._1)
      val cat = catAttrs.map { a =>
        val (n, isYear) = resolveOf(a.exprId)
        if (isYear) ColumnarCofactor.CatYear(n) else ColumnarCofactor.CatCol(n)
      }
      val df = ColumnBridge.ofRows(session, scanChild)
      val nullUB = GroupedKernelPartial.gate(df, keys.map(_.name), num, cat, cof.nbMode,
          moments = false) match {
        case Some((_, ub)) => ub
        case None => return Nil
      }
      val t = AttributeReference("__t", cof.dataType, nullable = false)()
      val partial = GroupedKernelPartialExec(keys :+ t, keys.map(_.name), num, cat, Nil,
        cof.nbMode, cof.maxCategories, withNulls = nullUB > 0)(scanChild, session)
      val input =
        if (nullUB == 0L) partial
        else {
          // the NULL remainder: exactly the rows the kernel skips
          val nullCond = (keys ++ cof.children).map(e => IsNull(e): Expression).reduce(Or(_, _))
          UnionExec(Seq(partial, planLater(Project(
            keys :+ Alias(ToCofactor(cof.children, cof.nbMode), t.name)(),
            Filter(nullCond, child)))))
        }
      // a group whose rows all carry a NULL input merges to NULL, and so
      // does an ungrouped aggregate over no rows; the default plan gives
      // both the empty triple of this arity
      val empty = TripleCodec.emptyLiteral(num.size, cat.size, cof.nbMode)
      val merged = SumTriple(t, maxCategories = cof.maxCategories)
      val result = projList.map {
        case a @ Alias(_: AggregateExpression, name) =>
          Alias(Coalesce(Seq(merged.toAggregateExpression(), empty)), name)(
            exprId = a.exprId, qualifier = a.qualifier, explicitMetadata = a.explicitMetadata,
            nonInheritableMetadataKeys = a.nonInheritableMetadataKeys)
        case keyRef => keyRef
      }
      GroupedKernelPartial.plan(agg, result, input)
    case _ => Nil
  }

  // `functions.year(ts)` analyzes to Year(Cast(ts AS DATE)) — the
  // session-tz cast-to-date + calendar year is exactly CatYear's
  // TIMESTAMP rule (pinned by the cofactor_columnar parity spec), so
  // the cast unwraps to the underlying attribute
  private def yearAttr(y: Year): Option[AttributeReference] = y.child match {
    case a: AttributeReference => Some(a)
    case c: Cast if c.dataType == DateType =>
      c.child match {
        case a: AttributeReference => Some(a)
        case _ => None
      }
    case _ => None
  }

  private def isPlainCofactor(ne: NamedExpression): Boolean = ne match {
    case Alias(AggregateExpression(_: CofactorAggregate, _, false, None, _), _) => true
    case _ => false
  }
  /** The group key itself, bare or aliased (`SELECT k AS g …`). */
  private def isGroupRef(ne: NamedExpression, k: AttributeReference): Boolean = ne match {
    case a: AttributeReference => a.exprId == k.exprId
    case Alias(a: AttributeReference, _) => a.exprId == k.exprId
    case _ => false
  }
}
