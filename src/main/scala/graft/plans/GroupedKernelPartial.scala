package graft.plans

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
 * Leaf of both grouped SQL kernel routes: the grouped columnar kernel
 * over `childLogical` as a PARTIAL aggregate
 * ([[graft.agg.ColumnarCofactor.groupedPartials]]) — one
 * `(keys…, __t)` row per group per scan partition. The strategies put
 * Spark's own exchange and a `sum_triple` final aggregate above it
 * ([[GroupedKernelPartial.plan]]), so the groups stay distributed: a
 * grouped aggregate that feeds a join, or has millions of groups, keeps
 * the join's parallelism and never passes through the driver.
 *
 * `num` are the numeric input columns the gate probes; with `derived`
 * empty they are also the kernel's columns (the cofactor route), else
 * the kernel computes one derived column per [[NumIR]] over them (the
 * moments route). `withNulls` records whether the plan carries the
 * cofactor route's NULL-remainder branch.
 *
 * The gate re-runs at execution (memoized probe — no extra scan), so a
 * data rewrite between planning and execution fails loudly instead of
 * silently diverging from SQL semantics; NULLs appearing in data the
 * plan took as NULL-free are such a rewrite.
 */
case class GroupedKernelPartialExec(
    output: Seq[Attribute], keys: Seq[String], num: Seq[String], cat: Seq[String],
    derived: Seq[NumIR], nb: Boolean, maxCat: Int, withNulls: Boolean)(
    // both transient and OUTSIDE the product: the physical tree is
    // serialized into task closures by parent stages, and a LogicalPlan
    // drags a non-serializable file index along — the kernel only needs
    // them driver-side in doExecute
    @transient private val childLogical: LogicalPlan,
    @transient private val spark: SparkSession) extends LeafExecNode {

  override def otherCopyArgs: Seq[AnyRef] = Seq(childLogical, spark)

  protected override def doExecute(): RDD[InternalRow] = {
    import graft.agg.ColumnarCofactor
    val df = ColumnBridge.ofRows(spark, childLogical)
    def regressed = throw new IllegalStateException(
      "grouped kernel route regressed between planning and execution " +
      "(input rewritten in place?) — re-run the query to re-plan")
    val (ls, nullUB) = GroupedKernelPartial.gate(df, keys, num, cat, nb).getOrElse(regressed)
    if (nullUB > 0 && !withNulls) regressed
    val nums =
      if (derived.isEmpty) num.map(ColumnarCofactor.NumCol)
      else MomentsEval.numSpecs(num, derived)
    ColumnarCofactor.groupedPartials(df, nums, cat.map(ColumnarCofactor.CatCol), ls,
        output.init.map(_.dataType), nb, maxCat)
      .getOrElse(throw new IllegalStateException(
        "grouped kernel harvest refused a plan the gate accepted"))
  }
}

private[plans] object GroupedKernelPartial {

  /** The grouped kernel gate of the SQL routes: the label spec plus the
    * probed NULL-row bound, or None. One key takes
    * [[graft.Graft.groupedKernelGate]], 2–4 keys
    * [[graft.Graft.groupedKernelGateMulti]]. */
  def gate(df: DataFrame, keys: Seq[String], num: Seq[String], cat: Seq[String],
           nb: Boolean): Option[(graft.agg.ColumnarCofactor.CatSpec, Long)] =
    if (keys.size == 1)
      graft.Graft.groupedKernelGate(df, keys.head, num, cat, nb, maxGroups = -1, probeNulls = true)
    else
      graft.Graft.groupedKernelGateMulti(df, keys, num, cat, nb, maxGroups = -1, probeNulls = true)

  /** Spark's own aggregate plan — partial aggregate, exchange on the
    * keys, final aggregate — for `agg` with its output list replaced by
    * `result`, over the physical `input`. `result` keeps the exprIds of
    * `agg.output`, so parent operators bind unchanged. */
  def plan(agg: Aggregate, result: Seq[NamedExpression], input: SparkPlan): Seq[SparkPlan] =
    PhysicalAggregation.unapply(agg.copy(aggregateExpressions = result)).toSeq.flatMap {
      case (groupingExprs, aggExprs, resultExprs, _) =>
        AggUtils.planAggregateWithoutDistinct(groupingExprs, aggExprs, resultExprs, input)
    }
}
