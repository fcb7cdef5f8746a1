package graft.plans

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.optimizer.{BuildRight, JoinSelectionHelper}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, BroadcastMode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.graft.{KeepBroadcastExec, KeptBroadcastExec}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{Metadata, MetadataBuilder}

/**
 * Broadcast build sides kept across queries: the MICE setup's dim
 * joins ([[graft.mice.MiceJoin]]) broadcast an unchanged dim once per
 * `SparkContext`, not once per call.
 *
 * Opt-in: a join whose build side outputs a column carrying [[mark]]
 * metadata (MICE's dim match markers) is planned by [[Strategy]]. The
 * join stays Spark's own `BroadcastHashJoinExec`, chosen exactly when
 * `JoinSelection` would broadcast that side; only its build side
 * changes. On a hit it is a [[KeptBroadcastExec]] leaf; on a miss a
 * [[KeepBroadcastExec]] builds the broadcast with Spark's own
 * `BroadcastExchangeExec` and stores it. Attribute metadata survives
 * every optimizer rewrite of the dim side (a local dim's projection
 * folded into a new `LocalRelation` included), and a session planning
 * without this strategy (its `extraStrategies` reset) plans the marked
 * join as any other: the mark is a plain `true` column.
 *
 * Key: the build side's canonicalized optimized plan, the broadcast
 * mode (the bound join keys) and the snapshot fingerprint, under
 * [[graft.sources.ProbeMemo]]'s validity rule — only file, local
 * relation and range leaves are kept, so a dim over any other source
 * (DSv2, JDBC, a checkpoint) is broadcast again by every query.
 *
 * Scope: one bounded LRU per `SparkContext`; a new context starts
 * empty, so a restarted context is never served a dead broadcast. An
 * entry is evicted by dropping the reference, never by `destroy`: a
 * lazy plan returned earlier may still read the broadcast, and Spark's
 * ContextCleaner frees it once nothing does.
 */
object KeptBroadcast {
  private val MarkKey = "graft.keptBroadcast"

  /** Metadata that opts a join's build side into the memo. */
  val mark: Metadata = new MetadataBuilder().putBoolean(MarkKey, true).build()

  private val MaxEntries = 64

  private type Key = (LogicalPlan, BroadcastMode, Long)

  private final class Memo(val sc: SparkContext) {
    val entries = java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[Key, Broadcast[Any]](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[Key, Broadcast[Any]]): Boolean =
          this.size() > MaxEntries
      })
  }

  private var current: Memo = _

  private def memo(sc: SparkContext): Memo = synchronized {
    if (current == null || (current.sc ne sc)) current = new Memo(sc)
    current
  }

  /** Drop every kept broadcast ([[graft.ml.Factorized.clearProbeCache]]). */
  def clear(): Unit = synchronized { current = null }

  /** Plans a marked equi-join that `JoinSelection` would broadcast on
    * its right side; every other plan is left to Spark. */
  final case class Strategy(spark: SparkSession) extends SparkStrategy
      with JoinSelectionHelper {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case j: Join if j.hint == JoinHint.NONE && j.right.output.exists(_.metadata.contains(MarkKey)) =>
        j match {
          case ExtractEquiJoinKeys(joinType, leftKeys, rightKeys, cond, _, left, right, _)
              if getBroadcastBuildSide(j, hintOnly = false, SQLConf.get).contains(BuildRight) =>
            graft.sources.ProbeMemo.fingerprint(right).map { fp =>
              val join = BroadcastHashJoinExec(leftKeys, rightKeys, joinType, BuildRight, cond,
                planLater(left), planLater(right))
              val BroadcastDistribution(mode) = join.requiredChildDistribution(1)
              val key: Key = (right.canonicalized, mode.canonicalized, fp)
              val entries = memo(spark.sparkContext).entries
              val build = Option(entries.get(key)) match {
                case Some(kept) => KeptBroadcastExec(right.output, mode, kept)
                case None => KeepBroadcastExec(mode, planLater(right))(b => entries.put(key, b))
              }
              join.copy(right = build)
            }.toSeq
          case _ => Nil
        }
      case _ => Nil
    }
  }
}
