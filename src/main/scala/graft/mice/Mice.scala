package graft.mice

import graft.Graft
import graft.ml.{Lda, LinReg, NaiveBayes}
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
 *  - `partitioned` (MICE-high, imputation_high.cpp:20-35): the fully
 *    observed stratum never changes, so its "static cofactor" is folded
 *    ONCE, in the setup job that also yields the mean/mode init and
 *    stores the incomplete stratum; each column step trains on
 *    `static + triple(incomplete rows with the column observed)`, one
 *    masked aggregate over the small stratum, never a rescan of the big
 *    one.
 *  - [[MiceJoin.imputeChainedOverStar]] is the same MICE-high loop over a
 *    star join: `partitioned` is that loop with no dims.
 *
 * Both drivers and the loop share one train-and-predict step
 * ([[imputeColumn]]): a NULL prediction keeps the cell's current value.
 *
 * The reference's O(1) physical column swap (duckdb_imputation.patch)
 * is unnecessary on immutable DataFrames: `withColumn` + one
 * `localCheckpoint` per iteration bounds both lineage and job count.
 */
object Mice {

  /**
   * @param contCols    continuous feature columns (read as doubles)
   * @param catCols     categorical feature columns (read as ints)
   * @param imputeCont  subset of contCols with missing values to impute
   *                    (returned as DoubleType)
   * @param imputeCat   subset of catCols with missing values to impute
   *                    (returned as IntegerType); every other column
   *                    comes back with its input type and values
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
    * (prepare / partition / cofactor / train / impute_update;
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

  /** `df` with the imputed columns cast and one observation flag per
    * imputed column, the imputed columns not yet filled. The other
    * features keep their input types: every triple and every predictor
    * casts what it reads, and a round trip through a double would
    * change a long above 2^53 or a wide decimal. */
  private[mice] def flagged(df: DataFrame, cfg: Config): DataFrame = {
    var out = df
    for (c <- cfg.imputeCont) out = out.withColumn(c, col(c).cast("double"))
    for (c <- cfg.imputeCat) out = out.withColumn(c, col(c).cast("int"))
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
  private[mice] def usesNb(cfg: Config, c: String): Boolean =
    !cfg.imputeCont.contains(c) && cfg.catModel == "nb"

  /** Train column `c`'s model and return its prediction. `num`/`cat` are
    * the training triples' numeric and categorical blocks, in order, and
    * the prediction reads the same columns minus `c`. `observed` is the
    * cofactor triple over the rows where `c` is observed (the LinReg/LDA
    * input); `nbPerClass` is the per-class aggregates over those same
    * rows, read only when `c` trains Naive Bayes (the reference trains on
    * every row where the column is observed, imputation_base.cpp:21-34).
    * Whichever is read is evaluated before the `train` timer starts. */
  private[mice] def predict(cfg: Config, c: String, num: Seq[String], cat: Seq[String],
                            normalize: Boolean, iter: Int, tm: Timings)(
      observed: => Triple, nbPerClass: => Seq[(Int, Triple)]): Column =
    if (cfg.imputeCont.contains(c)) {
      val t = observed
      tm.time("train")(LinReg.predict(LinReg.train(t, num.indexOf(c), cfg.lambda, normalize = normalize),
        num.filterNot(_ == c).map(col), cat.map(col), addNoise = cfg.stochastic,
        seed = cfg.seed + iter * 131 + num.indexOf(c)))
    } else if (usesNb(cfg, c)) {
      val pc = nbPerClass
      tm.time("train")(NaiveBayes.predict(NaiveBayes.train(pc),
        num.map(col), cat.filterNot(_ == c).map(col)))
    } else {
      val t = observed
      tm.time("train")(Lda.predict(Lda.train(t, cat.indexOf(c), cfg.shrinkage, normalize = normalize),
        num.map(col), cat.filterNot(_ == c).map(col)))
    }

  /** One train-and-predict step, shared by [[baseline]] and the MICE-high
    * loop: [[predict]] written into `cur`'s column `c` on the rows where
    * `c` was missing and `guard` holds. A NULL prediction (a NULL numeric
    * feature) keeps the current value, so no imputed cell turns NULL. */
  private[mice] def imputeColumn(cur: DataFrame, cfg: Config, c: String,
                                 num: Seq[String], cat: Seq[String], normalize: Boolean,
                                 guard: Column, iter: Int, tm: Timings)(
      observed: => Triple, nbPerClass: => Seq[(Int, Triple)]): DataFrame = {
    val pred = predict(cfg, c, num, cat, normalize, iter, tm)(observed, nbPerClass)
    cur.withColumn(c, when(col(flag(c)) && guard, coalesce(pred, col(c))).otherwise(col(c)))
  }

  /** Baseline MICE (imputation_base.cpp): full filtered rescan per column. */
  def baseline(df: DataFrame, cfg: Config, tm: Timings = noTimings): DataFrame = {
    var cur = tm.time("prepare")(prepare(df, cfg).transform(Graft.checkpoint))
    var lastCp = cur
    val order = cfg.imputeCat ++ cfg.imputeCont // categorical first (imputation_base.cpp:19,89)
    for (iter <- 1 to cfg.iterations) {
      for (c <- order) {
        val obs = cur.filter(!col(flag(c)))
        cur = imputeColumn(cur, cfg, c, cfg.contCols, cfg.catCols, normalize = false, lit(true), iter, tm)(
          tm.time("cofactor")(Graft.cofactor(obs, cfg.contCols, cfg.catCols)),
          tm.time("cofactor")(Graft.cofactorPerClass(obs, cfg.contCols, cfg.catCols.filterNot(_ == c),
            label = c, nb = true)))
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
   * Partitioned MICE, the MICE-high variant (imputation_high.cpp:20-35):
   * the star chain's loop ([[MiceJoin.imputeChainedOverStar]]) over a
   * star with no dims. One setup job yields the complete stratum's static
   * triple, the mean/mode init and the stored incomplete stratum; each
   * column step trains on `static + cofactorMasked(incomplete, ¬flag_c)`,
   * one job; each non-final iteration checkpoints the stratum. Trains as
   * [[baseline]] does (`normalize = false`).
   */
  def partitioned(df: DataFrame, cfg: Config, tm: Timings = noTimings): DataFrame =
    MiceJoin.imputeHigh(df, Nil, cfg, normalize = false, tm)
}
