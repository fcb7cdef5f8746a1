package org.apache.spark.sql.graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastMode, BroadcastPartitioning, Partitioning}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

/** The build side of a broadcast hash join served from
  * [[graft.plans.KeptBroadcast]]: a broadcast an earlier query built
  * from the same data. Its partitioning is the join's own
  * `BroadcastDistribution`, so `EnsureRequirements` adds no exchange and
  * the query runs no broadcast job. Lives in an `org.apache.spark.sql`
  * subpackage because `doExecuteBroadcast` is `protected[sql]`. */
case class KeptBroadcastExec(output: Seq[Attribute], mode: BroadcastMode,
                             relation: Broadcast[Any]) extends LeafExecNode {
  override def outputPartitioning: Partitioning = BroadcastPartitioning(mode)

  protected override def doExecute(): RDD[InternalRow] =
    throw new UnsupportedOperationException("KeptBroadcast is a broadcast build side only")

  override protected[sql] def doExecuteBroadcast[T](): Broadcast[T] =
    relation.asInstanceOf[Broadcast[T]]
}

/** A build side not kept yet: Spark's own `BroadcastExchangeExec` over
  * `child` builds the broadcast, and `keep` stores it once it is built
  * (a failed build throws and stores nothing). */
case class KeepBroadcastExec(mode: BroadcastMode, child: SparkPlan)(
    @transient private val keep: Broadcast[Any] => Unit) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = BroadcastPartitioning(mode)
  override def otherCopyArgs: Seq[AnyRef] = Seq(keep)

  protected override def doExecute(): RDD[InternalRow] =
    throw new UnsupportedOperationException("KeepBroadcast is a broadcast build side only")

  @transient private lazy val built: Broadcast[Any] = {
    val b = BroadcastExchangeExec(mode, child).executeBroadcast[Any]()
    keep(b)
    b
  }

  override protected[sql] def doExecuteBroadcast[T](): Broadcast[T] = built.asInstanceOf[Broadcast[T]]

  override protected def withNewChildInternal(newChild: SparkPlan): KeepBroadcastExec =
    copy(child = newChild)(keep)
}
