package graft.mice

import graft.Graft
import graft.ml.{Lda, LinReg}
import graft.ring.Triple
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * MICE — Multiple Imputation by Chained Equations — over DataFrames,
 * re-expressing the reference's three variants
 * (imputation/algorithms/imputation_base.cpp, imputation_low.cpp,
 * imputation_high.cpp) Spark-first:
 *
 *  - `baseline`: per column per iteration, aggregate a cofactor triple
 *    over the rows where that column is observed, train, impute
 *    (imputation_base.cpp:6-146).
 *  - `partitioned` (the low/high delta algebra): split rows into the
 *    fully-observed stratum (which never changes — its triple is
 *    computed ONCE, the "static cofactor" of imputation_high.cpp:20-35)
 *    and the incomplete stratum; per column, the observed-rows triple is
 *    `static + triple(incomplete) − delta(rows where col missing)` via
 *    ring subtraction (imputation_low.cpp:85-110) — no filtered rescan
 *    of the big stratum, ever.
 *  - [[MiceJoin.imputeChainedOverStar]] is the MICE-high variant over a
 *    star join: the complete stratum's star triple is computed once,
 *    and each column step trains on it plus one masked aggregate over
 *    the dim-joined incomplete stratum.
 *
 * The reference's O(1) physical column swap (duckdb_imputation.patch)
 * is unnecessary on immutable DataFrames: `withColumn` + one
 * `localCheckpoint` per iteration bounds both lineage and job count.
 */
object Mice {

  /**
   * @param contCols    continuous feature columns (DoubleType after cast)
   * @param catCols     categorical feature columns (IntegerType)
   * @param imputeCont  subset of contCols with missing values to impute
   * @param imputeCat   subset of catCols with missing values to impute
   * @param iterations  MICE rounds (reference demo uses 5, main.cpp:74)
   * @param stochastic  add N(0, σ̂²) noise to continuous imputations
   *                    (`linreg_predict(add_noise=true)`, regression.cpp:493-504)
   * @param catModel    model for categorical columns: "lda" (reference
   *                    baseline, imputation_base.cpp:46) or "nb"
   *                    (Gaussian+categorical Naive Bayes)
   */
  final case class Config(
      contCols: Seq[String],
      catCols: Seq[String],
      imputeCont: Seq[String],
      imputeCat: Seq[String],
      iterations: Int = 5,
      lambda: Double = 0.0,
      shrinkage: Double = 0.0,
      stochastic: Boolean = false,
      seed: Long = 42L,
      catModel: String = "lda")

  private[mice] def flag(c: String) = s"${c}__isnull"

  /** Per-phase wall-clock accumulator mirroring the reference's timers
    * (prepare / partition / cofactor / delta / train / impute-update;
    * imputation_base.cpp:11-12, imputation_low.cpp:35-186) so BENCH
    * numbers are phase-comparable. */
  final class Timings {
    val totals = scala.collection.mutable.LinkedHashMap[String, Double]()
    private[mice] def time[T](phase: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try f finally totals(phase) = totals.getOrElse(phase, 0.0) + (System.nanoTime() - t0) / 1e9
    }
    override def toString: String =
      totals.map { case (k, v) => f"$k=$v%.3fs" }.mkString("{", ", ", "}")
  }
  private val noTimings = new Timings

  /** Mean/mode initialization + observation flags
    * (init_baseline, partition.cpp:671-719): [[fill]] over [[flagged]],
    * with the means and modes from one job ([[initStats]]). */
  private[mice] def prepare(df: DataFrame, cfg: Config): DataFrame = {
    val f = flagged(df, cfg)
    fill(f, cfg, initStats(f, cfg))
  }

  /** `df` with the feature casts and one observation flag per imputed
    * column, the imputed columns not yet filled. */
  private[mice] def flagged(df: DataFrame, cfg: Config): DataFrame = {
    var out = df
    for (c <- cfg.contCols) out = out.withColumn(c, col(c).cast("double"))
    for (c <- cfg.catCols) out = out.withColumn(c, col(c).cast("int"))
    for (c <- cfg.imputeCont ++ cfg.imputeCat) out = out.withColumn(flag(c), col(c).isNull)
    out
  }

  /** Each imputed column's missing cells filled with its mean (continuous)
    * or mode (categorical) — a lazy projection. */
  private[mice] def fill(df: DataFrame, cfg: Config, init: InitStats): DataFrame = {
    var out = df
    for ((c, m) <- cfg.imputeCont.zip(init.means)) out = out.withColumn(c, coalesce(col(c), lit(m)))
    for ((c, m) <- cfg.imputeCat.zip(init.modes)) out = out.withColumn(c, coalesce(col(c), lit(m)))
    out
  }

  /** [[InitStats]] over every row of a [[flagged]] frame in ONE job
    * ([[Graft.foldPartitions]]); none without an imputed column. */
  private[mice] def initStats(flaggedDf: DataFrame, cfg: Config): InitStats = {
    val init = new InitStats(cfg.imputeCont.size, cfg.imputeCat.size)
    if (cfg.imputeCont.nonEmpty || cfg.imputeCat.nonEmpty)
      Graft.foldPartitions(flaggedDf.select((cfg.imputeCont ++ cfg.imputeCat).map(col): _*)) { rows =>
        val s = new InitStats(cfg.imputeCont.size, cfg.imputeCat.size)
        rows.foreach(s.add(_, 0))
        s
      }.foreach(init.merge)
    init
  }

  /** The mean/mode init's inputs, folded row by row: the observed count
    * and sum of each continuous column (fields `from until from + cont`,
    * doubles) and the observed count per category of each categorical
    * one (the next `cat` fields, ints). NULL cells are skipped, as
    * `avg` and `mode` skip them. Partials merge in partition order. */
  private[graft] final class InitStats(cont: Int, cat: Int) extends Serializable {
    private val n = new Array[Long](cont)
    private val sum = new Array[Double](cont)
    private val counts = Array.fill(cat)(scala.collection.mutable.LongMap.empty[Long])

    def add(r: org.apache.spark.sql.catalyst.InternalRow, from: Int): Unit = {
      var i = 0
      while (i < cont) {
        if (!r.isNullAt(from + i)) { n(i) += 1; sum(i) += r.getDouble(from + i) }
        i += 1
      }
      var j = 0
      while (j < cat) {
        if (!r.isNullAt(from + cont + j)) {
          val v = r.getInt(from + cont + j).toLong
          counts(j)(v) = counts(j).getOrElse(v, 0L) + 1
        }
        j += 1
      }
    }

    def merge(o: InitStats): Unit = {
      for (i <- 0 until cont) { n(i) += o.n(i); sum(i) += o.sum(i) }
      for (j <- 0 until cat; (v, c) <- o.counts(j)) counts(j)(v) = counts(j).getOrElse(v, 0L) + c
    }

    /** Observed means; 0.0 for a column with no observed cell. */
    def means: Seq[Double] = (0 until cont).map(i => if (n(i) == 0) 0.0 else sum(i) / n(i))

    /** Most frequent categories, the LOWEST on a tie (partition-count
      * independent); 0 for a column with no observed cell. */
    def modes: Seq[Int] = counts.toSeq.map(m =>
      if (m.isEmpty) 0 else m.toSeq.minBy { case (v, c) => (-c, v) }._1.toInt)
  }

  /** True when imputing `c` trains Naive Bayes (which needs per-class
    * aggregates rather than the single full triple). */
  private def usesNb(cfg: Config, c: String): Boolean =
    !cfg.imputeCont.contains(c) && cfg.catModel == "nb"

  /** One train+impute step for one column. `observed` is the cofactor
    * triple over the rows where `c` is observed (the LinReg/LDA training
    * input); `nbPerClass` carries the per-class NB aggregates over those
    * same rows when `c` trains Naive Bayes (the reference trains on every
    * row where the column is observed, imputation_base.cpp:21-34).
    * `cur` is the stratum being imputed. */
  private def imputeColumn(cur: DataFrame, cfg: Config, c: String, observed: => Triple,
                           nbPerClass: Option[Seq[(Int, Triple)]],
                           iter: Int, tm: Timings): DataFrame = {
    val isCont = cfg.imputeCont.contains(c)
    val pred: Column = tm.time("train") {
      if (isCont) {
        val label = cfg.contCols.indexOf(c)
        val model = LinReg.train(observed, label, cfg.lambda)
        LinReg.predict(model,
          cfg.contCols.filterNot(_ == c).map(col),
          cfg.catCols.map(col),
          addNoise = cfg.stochastic, seed = cfg.seed + iter * 131 + label)
      } else if (cfg.catModel == "nb") {
        val model = graft.ml.NaiveBayes.train(nbPerClass.getOrElse(
          sys.error(s"NB impute step for $c was given no per-class aggregates")))
        graft.ml.NaiveBayes.predict(model,
          cfg.contCols.map(col),
          cfg.catCols.filterNot(_ == c).map(col))
      } else {
        val label = cfg.catCols.indexOf(c)
        val model = Lda.train(observed, label, cfg.shrinkage)
        Lda.predict(model,
          cfg.contCols.map(col),
          cfg.catCols.filterNot(_ == c).map(col))
      }
    }
    cur.withColumn(c, when(col(flag(c)), pred).otherwise(col(c)))
  }

  /** Baseline MICE (imputation_base.cpp): full filtered rescan per column. */
  def baseline(df: DataFrame, cfg: Config, tm: Timings = noTimings): DataFrame = {
    var cur = tm.time("prepare")(prepare(df, cfg).transform(Graft.checkpoint))
    var lastCp = cur
    val order = cfg.imputeCat ++ cfg.imputeCont // categorical first (imputation_base.cpp:19,89)
    for (iter <- 1 to cfg.iterations) {
      for (c <- order) {
        // NB columns never read the full triple — skip that scan for them
        lazy val observed = tm.time("cofactor")(
          Graft.cofactor(cur.filter(!col(flag(c))), cfg.contCols, cfg.catCols))
        val nbPc =
          if (usesNb(cfg, c)) Some(tm.time("cofactor")(Graft.cofactorPerClass(
            cur.filter(!col(flag(c))), cfg.contCols, cfg.catCols.filterNot(_ == c),
            label = c, nb = true)))
          else None
        cur = imputeColumn(cur, cfg, c, observed, nbPc, iter, tm)
      }
      // bound lineage + per-column job cost — except after the LAST
      // iteration, whose generation is returned un-materialized (the
      // caller's single consumption pays the pass; the prior
      // generation's blocks stay live inside the returned plan and are
      // released by the caller's traversal-based dropCheckpoint)
      if (iter < cfg.iterations) {
        cur = tm.time("impute_update")(cur.transform(Graft.checkpoint))
        Graft.dropCheckpoint(lastCp) // superseded: cur materialized eagerly above
        lastCp = cur
      }
    }
    cur.drop((cfg.imputeCont ++ cfg.imputeCat).map(flag): _*)
  }

  /**
   * Partitioned MICE with delta-triple ring algebra (low/high variants):
   * the fully-observed stratum is aggregated once and cached; per-column
   * work touches only the incomplete stratum.
   */
  def partitioned(df: DataFrame, cfg: Config, tm: Timings = noTimings): DataFrame = {
    val prepared = prepare(df, cfg)
    val imputed = cfg.imputeCont ++ cfg.imputeCat
    val anyNull = imputed.map(c => col(flag(c))).reduce(_ || _)

    val (complete, incomplete0) = tm.time("partition")(
      (prepared.filter(!anyNull).transform(Graft.checkpoint),
       prepared.filter(anyNull).transform(Graft.checkpoint)))
    var incomplete = incomplete0
    var lastCp = incomplete0

    val order = cfg.imputeCat ++ cfg.imputeCont
    // static cofactor over the never-changing stratum (imputation_high.cpp:20-35).
    // (Fusing this with iteration 1's full+delta into one masked scan of
    // the pre-split frame was tried and REVERTED: the fused scan re-reads
    // parquet and re-evaluates the whole prepare expression chain, while
    // these split scans read already-materialized checkpoint blocks —
    // measured 1.05 → 1.40 s on the mice_1round shape, sf0.1 local[32].)
    val staticTriple = tm.time("cofactor_static")(
      Graft.cofactor(complete, cfg.contCols, cfg.catCols))
    // NB needs per-class aggregates; the complete stratum's never change
    // either (every complete row has the label observed), so each NB
    // column's static per-class aggregates are computed exactly once and
    // reused every iteration — the same static+delta treatment the full
    // triple gets, restoring the delta algebra for the NB path
    val nbStatic = scala.collection.mutable.Map[String, Seq[(Int, Triple)]]()

    for (iter <- 1 to cfg.iterations) {
      // ONE scan of the (small) incomplete stratum yields this round's
      // full triple AND the first column's delta — the delta predicates
      // all read the same frame, so they fuse into a single aggregation
      // job (Graft.cofactorMasked) instead of per-column rescans.
      // (Recomputing full each round also stops float drift from the
      // incremental adds below accumulating across iterations.)
      val head = tm.time("cofactor_delta")(Graft.cofactorMasked(
        incomplete, cfg.contCols, cfg.catCols,
        Seq(None, Some(col(flag(order.head))))))
      var full = Triple.add(staticTriple, head(0))
      // delta = rows where c is missing (imputation_low.cpp:85-108)
      var delta = head(1)
      for ((c, ci) <- order.zipWithIndex) {
        // observed = full − delta by ring subtraction (imputation_low.cpp:110)
        val observed = Triple.subtract(full, delta)
        // NB trains on ALL observed rows (complete ∪ incomplete-observed):
        // static per-class aggregates over `complete` (computed once, see
        // nbStatic) ring-added to a scan of only the incomplete stratum
        val nbPc =
          if (usesNb(cfg, c)) {
            val static = nbStatic.getOrElseUpdate(c, tm.time("cofactor_static")(
              Graft.cofactorPerClass(complete, cfg.contCols,
                cfg.catCols.filterNot(_ == c), label = c, nb = true)))
            val inc = tm.time("cofactor_delta")(Graft.cofactorPerClass(
              incomplete.filter(!col(flag(c))), cfg.contCols,
              cfg.catCols.filterNot(_ == c), label = c, nb = true))
            Some(Triple.addPerClass(static, inc))
          } else None
        incomplete = imputeColumn(incomplete, cfg, c, observed, nbPc, iter, tm)
        // full := observed + recomputed delta over the freshly imputed
        // rows (imputation_low.cpp:188-194) so later columns in this
        // round train against up-to-date values. Both that refresh and
        // the NEXT column's delta read the just-imputed frame — one
        // fused scan answers both. After the LAST column the refreshed
        // full is never read again (the next iteration rebuilds it from
        // a fresh scan, and the loop ends) — that trailing scan was
        // pure dead work and is skipped.
        if (ci < order.length - 1) {
          val pair = tm.time("cofactor_delta")(Graft.cofactorMasked(
            incomplete, cfg.contCols, cfg.catCols,
            Seq(Some(col(flag(c))), Some(col(flag(order(ci + 1)))))))
          full = Triple.add(observed, pair(0))
          delta = pair(1)
        }
      }
      val next = tm.time("impute_update")(incomplete.transform(Graft.checkpoint))
      Graft.dropCheckpoint(lastCp) // the previous iteration's incomplete blocks
      lastCp = next
      incomplete = next
    }
    complete.unionByName(incomplete).drop(imputed.map(flag): _*)
  }
}
