package graft.plans

import graft.agg.ColumnarCofactor
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, NamedExpression}
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.aggregate.AggUtils
import org.apache.spark.sql.graft.ColumnBridge

/**
 * Leaf of every SQL kernel route, flat or grouped: the columnar kernel
 * over `childLogical` as a PARTIAL aggregate
 * ([[graft.agg.ColumnarCofactor.groupedPartials]]) — one
 * `(keys…, __t)` row per group per scan partition, for 0–4 keys (zero
 * keys: one `(__t)` row per scan partition). The strategies put Spark's
 * own exchange and a `sum_triple` final aggregate above it
 * ([[GroupedKernelPartial.plan]]), so the groups stay distributed: a
 * grouped aggregate that feeds a join, or has millions of groups, keeps
 * the join's parallelism and never passes through the driver.
 *
 * `num` are the numeric input columns the gate probes; with `derived`
 * empty they are also the kernel's columns (the cofactor route), else
 * the kernel computes one derived column per [[NumIR]] over them (the
 * moments route). `cat` carries the cofactor route's categorical specs
 * (the flat route's `year()` look-through is a
 * [[graft.agg.ColumnarCofactor.CatYear]]). `withNulls` records whether
 * the plan carries the cofactor route's NULL-remainder branch.
 *
 * The gate re-runs at execution (memoized probe — no extra scan), so a
 * data rewrite between planning and execution fails loudly instead of
 * silently diverging from SQL semantics; NULLs appearing in data the
 * plan took as NULL-free are such a rewrite.
 */
case class GroupedKernelPartialExec(
    output: Seq[Attribute], keys: Seq[String], num: Seq[String],
    cat: Seq[ColumnarCofactor.CatSpec], derived: Seq[NumIR], nb: Boolean, maxCat: Int,
    withNulls: Boolean)(
    // both transient and OUTSIDE the product: the physical tree is
    // serialized into task closures by parent stages, and a LogicalPlan
    // drags a non-serializable file index along — the kernel only needs
    // them driver-side in doExecute
    @transient private val childLogical: LogicalPlan,
    @transient private val spark: SparkSession) extends LeafExecNode {

  override def otherCopyArgs: Seq[AnyRef] = Seq(childLogical, spark)

  protected override def doExecute(): RDD[InternalRow] = {
    val df = ColumnBridge.ofRows(spark, childLogical)
    def regressed = throw new IllegalStateException(
      "kernel route regressed between planning and execution " +
      "(input rewritten in place?) — re-run the query to re-plan")
    val (ls, nullUB) = GroupedKernelPartial.gate(df, keys, num, cat, nb, moments = derived.nonEmpty)
      .getOrElse(regressed)
    if (nullUB > 0 && !withNulls) regressed
    val nums =
      if (derived.isEmpty) num.map(ColumnarCofactor.NumCol)
      else MomentsEval.numSpecs(num, derived)
    ColumnarCofactor.groupedPartials(df, nums, cat, ls, output.init.map(_.dataType), nb, maxCat)
      .getOrElse(throw new IllegalStateException(
        "kernel harvest refused a plan the gate accepted"))
  }
}

private[plans] object GroupedKernelPartial {

  /** The kernel gate of the SQL routes: the label spec (None for zero
    * keys) plus the NULL-row bound, or None. 1–4 keys take
    * [[graft.Graft.groupedKernelGate]] with its NULL probe. Zero keys
    * need a harvestable scan; the flat cofactor route shares the
    * kernel's skip-any-NULL-row contract, so it needs nothing more
    * (bound 0), while the `moments` route's bound comes from
    * [[MomentsEval.probedNullUB]]. */
  def gate(df: DataFrame, keys: Seq[String], num: Seq[String], cat: Seq[ColumnarCofactor.CatSpec],
           nb: Boolean, moments: Boolean): Option[(Option[ColumnarCofactor.CatSpec], Long)] =
    if (keys.nonEmpty)
      graft.Graft.groupedKernelGate(df, keys, num, cat.flatMap(_.inputs), nb, maxGroups = -1,
        probeNulls = true).map { case (ls, ub) => (Some(ls), ub) }
    else if (!ColumnarCofactor.canHarvest(df, num.map(ColumnarCofactor.NumCol), cat)) None
    else Some((None, if (moments) MomentsEval.probedNullUB(df, num) else 0L))

  /** Spark's own aggregate plan — partial aggregate, exchange on the
    * keys (a single-partition exchange for zero keys), final aggregate —
    * for `agg` with its output list replaced by `result`, over the
    * physical `input`. `result` keeps the exprIds of `agg.output`, so
    * parent operators bind unchanged. */
  def plan(agg: Aggregate, result: Seq[NamedExpression], input: SparkPlan): Seq[SparkPlan] =
    PhysicalAggregation.unapply(agg.copy(aggregateExpressions = result)).toSeq.flatMap {
      case (groupingExprs, aggExprs, resultExprs, _) =>
        AggUtils.planAggregateWithoutDistinct(groupingExprs, aggExprs, resultExprs, input)
    }

  /** Plan with `plan(session)`, declining on any non-fatal throw:
    * planning-time jobs (gate probes, harvest compilation) must never
    * fail PLANNING — transient IO, a column name `col()` cannot re-parse
    * (dots), a shape the probe did not foresee. The throwable is logged
    * at WARN with the strategy's name, and the always-correct default
    * plan runs. */
  def declineOnFailure(strategy: String)(plan: => Seq[SparkPlan]): Seq[SparkPlan] =
    try plan
    catch {
      case scala.util.control.NonFatal(e) =>
        log.warn(s"$strategy declined the kernel route; the default plan runs", e)
        Nil
    }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
}
