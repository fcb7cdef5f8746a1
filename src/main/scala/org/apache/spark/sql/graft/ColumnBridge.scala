package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column↔Expression converters — the one
  * place graft needs a Column wrapping a custom Expression that cannot
  * be built through `call_function` (a
  * [[graft.functions.BroadcastArrayData]] carries a live Broadcast
  * handle, which has no literal/child-expression encoding). Lives in an
  * `org.apache.spark.sql` subpackage solely for access; keep it to the
  * two pass-throughs below. */
object ColumnBridge {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** DataFrame over an already-analyzed logical plan (`private[sql]`
    * `Dataset.ofRows`) — the planner-strategy path needs to hand a
    * matched Aggregate's CHILD back to library entry points that take
    * DataFrames ([[graft.Graft.groupedKernelGate]], the columnar
    * kernel), and there is no public constructor from a LogicalPlan. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** DataFrame over an internal-row RDD with the given schema (the
    * `private[sql]` `internalCreateDataFrame`) — the grouped kernel's
    * partial rows, which `graft.Graft.cofactorGrouped` merges with an
    * ordinary aggregate. */
  def ofInternalRows(spark: org.apache.spark.sql.SparkSession,
                     rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                     schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** Rebuild `origin` as a DataFrame over an already-materialized
    * internal-row RDD of about `sizeInBytes`, CARRYING the executed
    * plan's `outputPartitioning`/ordering (via the `private[sql]`
    * `LogicalRDD.fromDataset` rewrite) — the layout-preserving
    * checkpoint for `graft.Graft.checkpoint`. The public
    * `localCheckpoint` API discards both (its LogicalRDD reports
    * `UnknownPartitioning`; see
    * `graft.tools.CheckpointPartitioningProbe`). `sizeInBytes` replaces
    * the origin plan's estimate as the leaf's statistics. */
  def datasetOverRdd(origin: org.apache.spark.sql.DataFrame,
                     rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                     sizeInBytes: BigInt): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
    import org.apache.spark.sql.execution.LogicalRDD
    val cds = origin.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val qe = cds.queryExecution
    // `LogicalRDD.fromDataset` reads `executedPlan.outputPartitioning`
    // directly — under AQE that is the `AdaptiveSparkPlanExec` WRAPPER,
    // which does not override outputPartitioning and reports
    // `UnknownPartitioning` even when its (post-execution, final) inner
    // plan is hash-clustered. Strip the wrapper first; the caller has
    // already executed the plan, so the inner plan is final.
    val physical = qe.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => firstLeaf(c.partitionings.head)
      case other => other
    }
    val (_, constraints) =
      LogicalRDD.rewriteStatsAndConstraints(cds.logicalPlan, qe.optimizedPlan)
    org.apache.spark.sql.classic.Dataset.ofRows(cds.sparkSession,
      LogicalRDD(cds.logicalPlan.output, rdd,
        firstLeaf(physical.outputPartitioning), physical.outputOrdering,
        isStreaming = false)(cds.sparkSession,
        Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(sizeInBytes)), constraints))
  }
}
