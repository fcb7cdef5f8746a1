package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/**
 * Footer-statistics null proof for the flat kernel routes — the fix
 * for the round-19 open question ("a cold one-shot `SELECT count(*),
 * sum(x) FROM t` pays probe + kernel = 2 scans vs the default's 1").
 *
 * Parquet writers record a per-row-group, per-column `null_count` in
 * the file footer. Reading footers is DRIVER-SIDE METADATA IO (a few
 * KB per file, the same footers Spark reads to plan the scan), so at
 * 100 TB it costs thousands of small reads instead of a full data
 * scan. The planner only needs a yes/no: "can any referenced column
 * hold a NULL?" — `ZeroNulls` proves the route safe with no scan,
 * `HasNulls` declines it with no scan, and `Unknown` (non-parquet
 * relation, stats missing, too many files, any IO hiccup) falls back
 * to the existing memoized probe scan.
 *
 * Soundness with filters: footer counts are per-FILE, i.e. an upper
 * bound on any filtered subset — zero on the file proves zero after
 * any filter, so `ZeroNulls` is always safe. The converse is not
 * exact, so when the plan carries a Filter a positive footer count is
 * reported as `Unknown` (the scan probe counts post-filter rows and
 * may still admit the route); on a bare scan a positive count is an
 * exact `HasNulls` decline.
 */
object ParquetNullStats {

  sealed trait Verdict
  case object ZeroNulls extends Verdict
  case object HasNulls extends Verdict
  case object Unknown extends Verdict

  /** Footer-read budget: past this many files the metadata pass is no
    * longer obviously cheaper than folding the probe into the next
    * scan — fall back to the memoized probe. Overridable for tests. */
  private def maxFiles: Int =
    Integer.getInteger("graft.parquet.nullStats.maxFiles", 4096).intValue()

  /** Footer verdicts per (plan, cols, filter flag, data snapshot). */
  private val verdicts = new ProbeMemo[Verdict](256)

  /** Can any of `cols` hold a NULL in the data behind `df`? Footer
    * metadata only — never scans. */
  def verdict(df: DataFrame, cols: Seq[String]): Verdict =
    try verdictUnsafe(df, cols)
    catch { case scala.util.control.NonFatal(_) => Unknown }

  private def verdictUnsafe(df: DataFrame, cols: Seq[String]): Verdict = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    val relations = leaves.map {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
          if fs.fileFormat.isInstanceOf[ParquetFileFormat] => fs
      case _ => return Unknown
    }
    if (relations.isEmpty) return Unknown
    val filtered = df.queryExecution.optimizedPlan.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Filter => true
      case _ => false
    }
    val files = relations.flatMap(_.location.inputFiles)
    if (files.isEmpty || files.length > maxFiles) return Unknown
    val want = cols.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    verdicts(df, want.toSeq.sorted.mkString("\u0001") + (if (filtered) ":f" else "")) {
      footerNulls(df.sparkSession.sparkContext.hadoopConfiguration, files, want) match {
        case None => Unknown
        case Some(0L) => ZeroNulls
        case Some(_) if filtered => Unknown // post-filter nulls may still be zero
        case Some(_) => HasNulls
      }
    }
  }

  /** Total footer `null_count` of `want` over `files`; None when some
    * footer lacks the statistic or the column. */
  private def footerNulls(conf: org.apache.hadoop.conf.Configuration, files: Seq[String],
                          want: Set[String]): Option[Long] = {
    var total = 0L
    files.foreach { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val seen = scala.collection.mutable.Set.empty[String]
        reader.getFooter.getBlocks.forEach { block =>
          block.getColumns.forEach { cc =>
            val name = cc.getPath.toDotString.toLowerCase(java.util.Locale.ROOT)
            if (want.contains(name)) {
              seen += name
              val st = cc.getStatistics
              if (st == null || !st.isNumNullsSet) return None
              total += st.getNumNulls
            }
          }
        }
        // a referenced column absent from the footer (schema-evolved
        // file: the reader fills it with NULLs) cannot be proven clean
        if (seen != want) return None
      } finally reader.close()
    }
    Some(total)
  }
}
