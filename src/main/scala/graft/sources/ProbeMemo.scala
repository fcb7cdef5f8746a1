package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Range}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/**
 * The one memo behind every planning-time probe scan (rows per key, hot
 * keys, grouped shape, NULL counts, dim-key uniqueness, string
 * dictionaries, parquet footers). A repeat call over the same logical
 * input and the same data snapshot returns the stored result without
 * scanning; no entry can outlive a change to the data it describes.
 *
 * Key: (canonicalized analyzed plan, probe tag, snapshot fingerprint).
 * Canonicalized plans normalize expression ids, so two reads of the same
 * files with the same projection share an entry regardless of session or
 * DataFrame identity.
 *
 * Validity rule: a result is stored only when every leaf of the analyzed
 * plan can be fingerprinted — a file `LogicalRelation` (its file count
 * and an order-insensitive hash of each file's path, length and
 * modification time), a `LocalRelation` or a `Range` (their canonical
 * plan carries the data). Any other source (DSv2, JDBC, Hive, a
 * checkpointed RDD) can change under an identical plan, so it is
 * re-probed on every call. A probe that throws is never stored. An
 * in-place rewrite that keeps every name, length and modification time
 * is the one change the fingerprint can alias: call
 * [[graft.ml.Factorized.clearProbeCache]] after one.
 *
 * Each instance is a synchronized access-order LRU of `maxEntries`
 * entries — a leak bound for a long-lived service probing many distinct
 * inputs, not a working-set size.
 */
final class ProbeMemo[V](maxEntries: Int) {
  private type Key = (LogicalPlan, String, Long)

  private val entries = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Key, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Key, V]): Boolean =
        this.size() > maxEntries
    })

  ProbeMemo.instances.add(this)

  /** `probe`'s result for `df`, from the memo when `df`'s plan, `tag` and
    * data snapshot match a stored entry. `probe` must not return null. */
  def apply(df: DataFrame, tag: String)(probe: => V): V = {
    val analyzed = df.queryExecution.analyzed
    ProbeMemo.fingerprint(analyzed) match {
      case None => probe
      case Some(fp) =>
        val key = (analyzed.canonicalized, tag, fp)
        Option(entries.get(key)).getOrElse {
          val v = probe
          entries.put(key, v)
          v
        }
    }
  }

  def clear(): Unit = entries.clear()

  def size: Int = entries.size()
}

object ProbeMemo {
  private val instances = new java.util.concurrent.CopyOnWriteArrayList[ProbeMemo[_]]()

  /** Drop every stored probe result of every memo. */
  def clearAll(): Unit = instances.forEach(_.clear())

  /** The snapshot fingerprint of `plan`'s leaves, or None when some leaf
    * is a source that cannot be fingerprinted. Driver-side listing
    * metadata only (the file index's `FileStatus`es): nothing is
    * scanned. */
  private[graft] def fingerprint(plan: LogicalPlan): Option[Long] =
    plan.collectLeaves().foldLeft(Option(17L)) {
      case (Some(h), LogicalRelation(fs: HadoopFsRelation, _, _, _, _)) =>
        val files = fs.location.listFiles(Nil, Nil).flatMap(_.files)
        Some((h * 31 + files.length) * 31 + scala.util.hashing.MurmurHash3.unorderedHash(
          files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))))
      case (h, _: LocalRelation | _: Range) => h
      case _ => None
    }
}
