package graft

import graft.mice.{Mice, MiceJoin}
import graft.ml.Factorized.StarDim
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Flight-style multi-table imputation ([[graft.mice.MiceJoin]]): the
  * model trains FACTORIZED over fact ⋈ dim; on exactly-linear data the
  * imputed values must reproduce the generating function, and they must
  * agree with training over the materialized join (the q09 factorized ==
  * materialized identity, at MICE's service). */
class MiceJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // one MICE round for one continuous column: the chained loop with
  // `target` the one imputed column and one iteration
  def oneRoundStar(fact: org.apache.spark.sql.DataFrame, dims: Seq[StarDim], target: String,
                   factNum: Seq[String], lambda: Double = 0.0,
                   tm: Mice.Timings = new Mice.Timings): org.apache.spark.sql.DataFrame =
    MiceJoin.imputeChainedOverStar(fact, dims, MiceJoin.ChainConfig(factNum = target +: factNum,
      factCat = Seq(), dimNum = Seq(), imputeCont = Seq(target), iterations = 1, lambda = lambda), tm)

  def oneRoundJoin(fact: org.apache.spark.sql.DataFrame, dim: org.apache.spark.sql.DataFrame,
                   key: String, target: String, factNum: Seq[String], dimNum: Seq[String],
                   lambda: Double = 0.0,
                   tm: Mice.Timings = new Mice.Timings): org.apache.spark.sql.DataFrame =
    MiceJoin.imputeChainedOverJoin(fact, dim, key, MiceJoin.ChainConfig(factNum = target +: factNum,
      factCat = Seq(), dimNum = dimNum, imputeCont = Seq(target), iterations = 1, lambda = lambda), tm)

  // y = 2 + 3*x1 + 0.5*x2 EXACTLY — imputation must recover it exactly
  val dim = Seq.tabulate(40)(k => (k.toLong, k * 1.5 - 10.0)).toDF("k", "x2")
  def fact = Seq.tabulate(400) { i =>
    val k = i % 40
    val x1 = (i % 17).toDouble - 8
    val x2 = k * 1.5 - 10.0
    val y = 2.0 + 3.0 * x1 + 0.5 * x2
    (i.toLong, k.toLong, x1, y, i % 5 == 0)
  }.toDF("id", "k", "x1", "yTrue", "miss")
    .withColumn("y", when($"miss", lit(null)).otherwise($"yTrue"))
    .repartition(4)

  test("imputed values recover an exactly-linear fact~fact+dim relation") {
    val tm = new Mice.Timings
    val done = oneRoundJoin(fact, dim, key = "k", target = "y",
      factNum = Seq("x1"), dimNum = Seq("x2"), tm = tm)
    assert(done.count() == 400)
    assert(done.filter($"y".isNull).count() == 0)
    val maxErr = done.filter($"miss")
      .select(max(abs($"y" - $"yTrue"))).head.getDouble(0)
    assert(maxErr < 1e-6, s"imputation should be exact on linear data, max err $maxErr")
    // the one setup job (the static triple) and the training ran
    assert(tm.totals.contains("partition") && tm.totals.contains("train"))
  }

  // y = 2 + 3*x1 + 0.5*d1 - 1.5*d2 EXACTLY, features in TWO dims
  val dimA = Seq.tabulate(40)(k => (k.toLong, k * 1.5 - 10.0)).toDF("ka", "d1")
  val dimB = Seq.tabulate(25)(k => (k.toLong, k * 0.8 + 2.0)).toDF("kb", "d2")
  def starFact = Seq.tabulate(400) { i =>
    val ka = i % 40; val kb = i % 25
    val x1 = (i % 17).toDouble - 8
    val y = 2.0 + 3.0 * x1 + 0.5 * (ka * 1.5 - 10.0) - 1.5 * (kb * 0.8 + 2.0)
    (i.toLong, ka.toLong, kb.toLong, x1, y, i % 5 == 0)
  }.toDF("id", "ka", "kb", "x1", "yTrue", "miss")
    .withColumn("y", when($"miss", lit(null)).otherwise($"yTrue"))
    .repartition(4)

  test("star impute (2 dims) recovers an exactly-linear relation and matches the materialized train") {
    val dims = Seq(StarDim(dimA, "ka", Seq("d1")), StarDim(dimB, "kb", Seq("d2")))
    val done = oneRoundStar(starFact, dims, target = "y", factNum = Seq("x1"))
    assert(done.count() == 400 && done.filter($"y".isNull).count() == 0)
    val maxErr = done.filter($"miss")
      .select(max(abs($"y" - $"yTrue"))).head.getDouble(0)
    assert(maxErr < 1e-6, s"star imputation should be exact, max err $maxErr")
    // a duplicated key in EITHER dim must fail loudly (imputation
    // left-joins must not fan out fact rows)
    val dupB = dimB.union(Seq((3L, 99.0)).toDF("kb", "d2"))
    val ex = intercept[IllegalArgumentException] {
      oneRoundStar(starFact,
        Seq(StarDim(dimA, "ka", Seq("d1")), StarDim(dupB, "kb", Seq("d2"))),
        target = "y", factNum = Seq("x1"))
    }
    assert(ex.getMessage.contains("unique"))
    // the failing probe must NOT have been memoized: the same duplicated
    // dim fails again (only passing verdicts are cached, r21)
    val ex2 = intercept[IllegalArgumentException] {
      oneRoundStar(starFact,
        Seq(StarDim(dimA, "ka", Seq("d1")), StarDim(dupB, "kb", Seq("d2"))),
        target = "y", factNum = Seq("x1"))
    }
    assert(ex2.getMessage.contains("unique"))
  }

  test("star impute with a CATEGORICAL dim feature recovers per-category offsets exactly") {
    import graft.ml.Factorized.StarDim
    // y = 2 + 3*x1 + 0.5*d1 + eff(c2) EXACTLY — c2 is a 3-level
    // categorical carried by dim B, so the regression's one-hot block
    // must flow through the chained star cofactor AND the predictor
    val dimA = Seq.tabulate(40)(k => (k.toLong, k * 1.5 - 10.0)).toDF("ka", "d1")
    val dimB = Seq.tabulate(25)(k => (k.toLong, k % 3)).toDF("kb", "c2")
    def eff(c: Int): Double = c match { case 0 => -2.0; case 1 => 0.5; case _ => 4.0 }
    val starFact = Seq.tabulate(400) { i =>
      val ka = i % 40; val kb = i % 25
      val x1 = (i % 17).toDouble - 8
      val y = 2.0 + 3.0 * x1 + 0.5 * (ka * 1.5 - 10.0) + eff(kb % 3)
      (i.toLong, ka.toLong, kb.toLong, x1, y, i % 5 == 0)
    }.toDF("id", "ka", "kb", "x1", "yTrue", "miss")
      .withColumn("y", when($"miss", lit(null)).otherwise($"yTrue"))
      .repartition(4)
    val dims = Seq(StarDim(dimA, "ka", num = Seq("d1")),
      StarDim(dimB, "kb", cat = Seq("c2")))
    val done = oneRoundStar(starFact, dims, target = "y", factNum = Seq("x1"))
    assert(done.count() == 400 && done.filter($"y".isNull).count() == 0)
    val maxErr = done.filter($"miss")
      .select(max(abs($"y" - $"yTrue"))).head.getDouble(0)
    assert(maxErr < 1e-6, s"categorical-dim star imputation should be exact, max err $maxErr")
  }

  test("factorized training == training over the materialized join") {
    val observed = fact.filter(!$"miss")
    val tFact = graft.ml.Factorized.cofactorOverJoin(
      observed, dim, "k", Seq("y", "x1"), Seq(), Seq("x2"), Seq())
    val tMat = Graft.cofactor(observed.join(dim, "k"), Seq("y", "x1", "x2"), Seq())
    assert(tFact.approxEquals(tMat, 1e-9))
    val (mF, mM) = (graft.ml.LinReg.train(tFact, 0), graft.ml.LinReg.train(tMat, 0))
    assert(math.abs(mF.intercept - mM.intercept) < 1e-9)
    assert(mF.numCoef.zip(mM.numCoef).forall { case (a, b) => math.abs(a - b) < 1e-9 })
  }

  test("MICE over catalog-BUCKETED tables == MICE over raw frames (bucketize-once pattern)") {
    // the 100 TB shape: fact and dim bucketized once on the join key,
    // every column-step's training join rides the bucketed co-located
    // tier via hashJoinIfSafe with no API change — results must be
    // IDENTICAL to the raw-frame run (the tier only changes the plan)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      graft.sources.Tables.writeBucketed(fact, "mice_fact_bkt", "k", 8)
      graft.sources.Tables.writeBucketed(dim, "mice_dim_bkt", "k", 8)
      val tm = new Mice.Timings
      val bucketed = oneRoundJoin(
        spark.table("mice_fact_bkt"), spark.table("mice_dim_bkt"),
        key = "k", target = "y", factNum = Seq("x1"), dimNum = Seq("x2"), tm = tm)
      val raw = oneRoundJoin(fact, dim, key = "k", target = "y",
        factNum = Seq("x1"), dimNum = Seq("x2"), tm = new Mice.Timings)
      val joined = bucketed.select($"id", $"y".as("yB"))
        .join(raw.select($"id", $"y".as("yR")), "id")
      assert(joined.count() == 400)
      val maxDiff = joined.select(max(abs($"yB" - $"yR"))).head.getDouble(0)
      assert(maxDiff < 1e-9, s"bucketed MICE diverged from raw: $maxDiff")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
      spark.sql("DROP TABLE IF EXISTS mice_fact_bkt")
      spark.sql("DROP TABLE IF EXISTS mice_dim_bkt")
    }
  }

  test("chained 2-column MICE over the join == Mice.baseline on the materialized join") {
    // two imputed fact columns (one continuous, one CATEGORICAL via the
    // LDA path) + a dim feature; the chained-over-join loop must
    // reproduce baseline MICE run on the wide join, column for column
    val rng = new scala.util.Random(3)
    val dim2 = Seq.tabulate(30)(k => (k.toLong, k * 0.7 - 9.0)).toDF("k", "d1")
    val base = Seq.tabulate(600) { i =>
      val k = i % 30
      val x = rng.nextGaussian() * 2
      val d1 = k * 0.7 - 9.0
      val y = 1.5 + 2.0 * x + 0.8 * d1 + rng.nextGaussian() * 0.1
      val c = if (y + rng.nextGaussian() * 0.5 > 1.5) 1 else 0
      (i.toLong, k.toLong, x, y, c, i % 7 == 0, i % 11 == 3)
    }.toDF("id", "k", "x", "yT", "cT", "missY", "missC")
      .withColumn("y", when($"missY", lit(null)).otherwise($"yT"))
      .withColumn("c", when($"missC", lit(null)).otherwise($"cT"))
      .repartition(4)

    val cfg = MiceJoin.ChainConfig(
      factNum = Seq("y", "x"), factCat = Seq("c"),
      dimNum = Seq("d1"), imputeCont = Seq("y"), imputeCat = Seq("c"),
      iterations = 2, normalize = false)
    val chained = MiceJoin.imputeChainedOverJoin(base, dim2, "k", cfg)

    val mat = base.join(dim2, "k")
    val bCfg = Mice.Config(
      contCols = Seq("y", "x", "d1"), catCols = Seq("c"),
      imputeCont = Seq("y"), imputeCat = Seq("c"), iterations = 2)
    val baseline = Mice.baseline(mat, bCfg)

    val joined = chained.select($"id", $"y".as("yJ"), $"c".as("cJ"))
      .join(baseline.select($"id", $"y".as("yB"), $"c".as("cB")), "id")
    assert(joined.count() == 600)
    val maxY = joined.select(max(abs($"yJ" - $"yB"))).head.getDouble(0)
    assert(maxY < 1e-6, s"continuous chain diverged from baseline: max |Δy| = $maxY")
    val catDiff = joined.filter($"cJ" =!= $"cB").count()
    assert(catDiff == 0, s"LDA chain diverged from baseline on $catDiff rows")
  }

  test("chained 2-column MICE over a 2-dim STAR == Mice.baseline on the materialized star join") {
    import graft.ml.Factorized.StarDim
    val rng = new scala.util.Random(11)
    val dimA = Seq.tabulate(30)(k => (k.toLong, k * 0.7 - 9.0)).toDF("ka", "d1")
    val dimB = Seq.tabulate(20)(k => (k.toLong, k * 1.3 + 4.0)).toDF("kb", "d2")
    val base = Seq.tabulate(600) { i =>
      val ka = i % 30; val kb = i % 20
      val x = rng.nextGaussian() * 2
      val d1 = ka * 0.7 - 9.0; val d2 = kb * 1.3 + 4.0
      val y = 1.5 + 2.0 * x + 0.8 * d1 - 0.4 * d2 + rng.nextGaussian() * 0.1
      val c = if (y + rng.nextGaussian() * 0.5 > 1.0) 1 else 0
      (i.toLong, ka.toLong, kb.toLong, x, y, c, i % 7 == 0, i % 11 == 3)
    }.toDF("id", "ka", "kb", "x", "yT", "cT", "missY", "missC")
      .withColumn("y", when($"missY", lit(null)).otherwise($"yT"))
      .withColumn("c", when($"missC", lit(null)).otherwise($"cT"))
      .repartition(4)
    val dims = Seq(StarDim(dimA, "ka", Seq("d1")), StarDim(dimB, "kb", Seq("d2")))
    val cfg = MiceJoin.ChainConfig(
      factNum = Seq("y", "x"), factCat = Seq("c"),
      dimNum = Seq(), dimCat = Seq(), imputeCont = Seq("y"), imputeCat = Seq("c"),
      iterations = 2, normalize = false)
    val chained = MiceJoin.imputeChainedOverStar(base, dims, cfg)

    val mat = base.join(dimA, "ka").join(dimB, "kb")
    val bCfg = Mice.Config(
      contCols = Seq("y", "x", "d1", "d2"), catCols = Seq("c"),
      imputeCont = Seq("y"), imputeCat = Seq("c"), iterations = 2)
    val baseline = Mice.baseline(mat, bCfg)

    val joined = chained.select($"id", $"y".as("yJ"), $"c".as("cJ"))
      .join(baseline.select($"id", $"y".as("yB"), $"c".as("cB")), "id")
    assert(joined.count() == 600)
    val maxY = joined.select(max(abs($"yJ" - $"yB"))).head.getDouble(0)
    assert(maxY < 1e-6, s"continuous star chain diverged from baseline: max |Δy| = $maxY")
    assert(joined.filter($"cJ" =!= $"cB").count() == 0, "LDA star chain diverged from baseline")
    // declaring dim features in ChainConfig (single-join style) must be
    // rejected in the star overload — they belong on the StarDims
    val ex = intercept[IllegalArgumentException] {
      MiceJoin.imputeChainedOverStar(base, dims, cfg.copy(dimNum = Seq("d1")))
    }
    assert(ex.getMessage.contains("StarDim"))
  }

  test("non-stochastic chain reaches a fixed point") {
    val dim2 = Seq.tabulate(30)(k => (k.toLong, k * 0.7 - 9.0)).toDF("k", "d1")
    val rng = new scala.util.Random(5)
    val base = Seq.tabulate(500) { i =>
      val k = i % 30
      val x = rng.nextGaussian() * 2
      val y = 1.0 + 1.2 * x + 0.5 * (k * 0.7 - 9.0) + rng.nextGaussian() * 0.05
      val z = -2.0 + 0.7 * y + rng.nextGaussian() * 0.05
      (i.toLong, k.toLong, x, y, z, i % 6 == 0, i % 9 == 2)
    }.toDF("id", "k", "x", "yT", "zT", "missY", "missZ")
      .withColumn("y", when($"missY", lit(null)).otherwise($"yT"))
      .withColumn("z", when($"missZ", lit(null)).otherwise($"zT"))
    def run(iters: Int) = MiceJoin.imputeChainedOverJoin(base, dim2, "k",
      MiceJoin.ChainConfig(factNum = Seq("y", "z", "x"), factCat = Seq(),
        dimNum = Seq("d1"), imputeCont = Seq("y", "z"), iterations = iters))
    val at6 = run(6).select($"id", $"y".as("y6"), $"z".as("z6"))
    val at7 = run(7).select($"id", $"y".as("y7"), $"z".as("z7"))
    val d = at6.join(at7, "id")
      .select(max(abs($"y6" - $"y7") + abs($"z6" - $"z7"))).head.getDouble(0)
    assert(d < 1e-8, s"chain had not converged by iteration 6: extra-iteration delta $d")
  }

  /** Four imputed columns with OVERLAPPING missing patterns (rows
    * missing in several columns at once) plus one dim feature. */
  def fourColumnData = {
    val dim2 = Seq.tabulate(30)(k => (k.toLong, k * 0.7 - 9.0)).toDF("k", "d1")
    val rng = new scala.util.Random(17)
    val base = Seq.tabulate(900) { i =>
      val k = i % 30
      val x = rng.nextGaussian() * 2
      val d1 = k * 0.7 - 9.0
      val y = 1.0 + 1.2 * x + 0.5 * d1 + rng.nextGaussian() * 0.05
      val z = -2.0 + 0.7 * y + rng.nextGaussian() * 0.05
      val w = 0.3 * x - 0.2 * z + rng.nextGaussian() * 0.05
      val v = 0.9 - 0.4 * w + 0.1 * y + rng.nextGaussian() * 0.05
      (i.toLong, k.toLong, x, y, z, w, v,
        i % 5 == 0, i % 7 == 0, i % 6 == 0, i % 11 == 0)
    }.toDF("id", "k", "x", "yT", "zT", "wT", "vT", "mY", "mZ", "mW", "mV")
      .withColumn("y", when($"mY", lit(null)).otherwise($"yT"))
      .withColumn("z", when($"mZ", lit(null)).otherwise($"zT"))
      .withColumn("w", when($"mW", lit(null)).otherwise($"wT"))
      .withColumn("v", when($"mV", lit(null)).otherwise($"vT"))
      .select($"id", $"k", $"x", $"y", $"z", $"w", $"v")
    (base, dim2)
  }
  def fourColumnConfig(iterations: Int) =
    MiceJoin.ChainConfig(factNum = Seq("y", "z", "w", "v", "x"), factCat = Seq(),
      dimNum = Seq("d1"), imputeCont = Seq("y", "z", "w", "v"),
      iterations = iterations, normalize = false)

  test("chained 4-column MICE (overlapping strata) == baseline on the materialized join") {
    // rows missing in several columns train and update inside the one
    // incomplete stratum, column by column, under the parity gate
    val (base, dim2) = fourColumnData
    val chained = MiceJoin.imputeChainedOverJoin(base, dim2, "k", fourColumnConfig(3))
    val bCfg = Mice.Config(
      contCols = Seq("y", "z", "w", "v", "x", "d1"), catCols = Seq(),
      imputeCont = Seq("y", "z", "w", "v"), imputeCat = Seq(), iterations = 3)
    val baseline = Mice.baseline(base.join(dim2, "k"), bCfg)
    val joined = chained.select($"id", $"y".as("yJ"), $"z".as("zJ"), $"w".as("wJ"), $"v".as("vJ"))
      .join(baseline.select($"id", $"y".as("yB"), $"z".as("zB"), $"w".as("wB"), $"v".as("vB")), "id")
    assert(joined.count() == 900)
    val maxD = joined.select(max(
      abs($"yJ" - $"yB") + abs($"zJ" - $"zB") + abs($"wJ" - $"wB") + abs($"vJ" - $"vB")
    )).head.getDouble(0)
    assert(maxD < 1e-6, s"4-column chain diverged from baseline: max Σ|Δ| = $maxD")
  }

  test("bounded work: each extra iteration runs the same jobs and tasks, few jobs per column step") {
    // Counted on the 4-column data: J(n) = setup + (n-1)·I + final, so
    // J(2)-J(1) is what iteration 1 costs once it stops being final and
    // J(3)-J(2) is what iteration 2 costs — equal when no iteration
    // grows the working set. The caller's write is counted too.
    val (base, dim2) = fourColumnData
    def run(iterations: Int): (Long, Long) = org.apache.spark.graft.JobCounter(spark.sparkContext) {
      val out = MiceJoin.imputeChainedOverJoin(base, dim2, "k", fourColumnConfig(iterations))
      out.write.format("noop").mode("overwrite").save()
      Graft.dropCheckpoint(out)
    }
    run(1) // warm the memoized dim probes
    val Seq(j1, j2, j3) = (1 to 3).map(run)
    info(s"(jobs, tasks) at 1, 2, 3 iterations: $j1, $j2, $j3")
    val (iter2, iter3) = ((j2._1 - j1._1, j2._2 - j1._2), (j3._1 - j2._1, j3._2 - j2._2))
    assert(iter3 == iter2, s"(jobs, tasks): iteration 2 ran $iter2, iteration 3 ran $iter3")
    // an extra iteration costs one masked triple per imputed column
    // (one job each) plus the iteration's checkpoint. Measured on
    // local[4]: 6, 11, 16 jobs (28, 48, 68 tasks), the dim's broadcast
    // kept — 5 jobs and 20 tasks per iteration
    val imputed = 4
    assert(iter2._1 == imputed + 1,
      s"iteration 2 ran ${iter2._1} jobs, expected $imputed column steps + 1 checkpoint")
  }

  /** A 2-dim star with two overlapping imputed columns (y continuous,
    * z continuous), orphan keys in both dims, NULL fact keys, and a
    * NULL dim feature: (fact, dimA, dimB). */
  def starWithOrphans = {
    val rng = new scala.util.Random(29)
    val dimA = Seq.tabulate(30)(k => (k.toLong, k * 0.7 - 9.0, if (k == 6) None else Some(k * 0.1)))
      .toDF("ka", "d1", "d3")
    val dimB = Seq.tabulate(20)(k => (k.toLong, k * 1.3 + 4.0)).toDF("kb", "d2")
    val rows = Seq.tabulate(700) { i =>
      val ka: Option[Long] = if (i % 61 == 5) None else Some(if (i % 47 == 1) 999L else (i % 30).toLong)
      val kb: Option[Long] = if (i % 53 == 7) None else Some(if (i % 43 == 2) 999L else (i % 20).toLong)
      val x = rng.nextGaussian() * 2
      val y = 1.5 + 2.0 * x + 0.3 * ka.getOrElse(0L) + rng.nextGaussian() * 0.1
      val z = -1.0 + 0.6 * y + 0.1 * kb.getOrElse(0L) + rng.nextGaussian() * 0.1
      (i.toLong, ka, kb, x, if (i % 7 == 0) None else Some(y), if (i % 9 == 2) None else Some(z))
    }
    (rows.toDF("id", "ka", "kb", "x", "y", "z"), dimA, dimB)
  }

  test("the setup job's static triple == the cofactor of the complete stratum's star join") {
    // the one setup job folds the complete, fully matched rows of the
    // left-joined fact; the reference joins the complete fact rows
    // INNER with both dims and folds them with Graft.cofactor
    val (fact, dimA, dimB) = starWithOrphans
    val flagged = fact.withColumn("y__isnull", $"y".isNull).withColumn("z__isnull", $"z".isNull)
    val joined = flagged
      .join(dimA.withColumn("mA", lit(true)), Seq("ka"), "left")
      .join(dimB.withColumn("mB", lit(true)), Seq("kb"), "left")
    val anyFlag = $"y__isnull" || $"z__isnull"
    val num = Seq("y", "z", "x", "d1", "d3", "d2")
    val cfg = Mice.Config(contCols = Seq("y", "z", "x"), catCols = Seq(),
      imputeCont = Seq("y", "z"), imputeCat = Seq())
    for (keep <- Seq(Seq("y__isnull", "z__isnull"), Seq())) { // stored stratum, and fold only
      val (static, _, init, stored) = MiceJoin.setup(joined, num, Seq(),
        !anyFlag && $"mA".isNotNull && $"mB".isNotNull, cfg, keep)
      val want = Graft.cofactor(
        fact.filter($"y".isNotNull && $"z".isNotNull).join(dimA, "ka").join(dimB, "kb"), num, Seq())
      assert(static.n == want.n && static.n > 0, s"n ${static.n} vs ${want.n}")
      assert(static.approxEquals(want, 1e-9), s"static triple diverged from the star join's")
      val (meanY, meanZ) = fact.select(avg($"y"), avg($"z")).as[(Double, Double)].head
      assert(math.abs(init.means(0) - meanY) < 1e-9 && math.abs(init.means(1) - meanZ) < 1e-9,
        s"init means ${init.means} vs ($meanY, $meanZ)")
      assert(stored.map(_.count()) ==
        (if (keep.isEmpty) None else Some(fact.filter($"y".isNull || $"z".isNull).count())))
      stored.foreach(Graft.dropCheckpoint)
    }
  }

  test("orphan and NULL-keyed fact rows with an observed target count in the mean init") {
    // rows whose key is NULL or misses a dim never train, but the init
    // is the mean over every FACT row: a missing orphan keeps exactly
    // avg(y) over the fact, both with one imputed column (no stored
    // stratum) and with two, over a narrow fact and over a wide one
    // (checkpointed before the setup join)
    val (narrow, dimA, dimB) = starWithOrphans
    val dims = Seq(StarDim(dimA, "ka", Seq("d1", "d3")), StarDim(dimB, "kb", Seq("d2")))
    val (meanY, meanZ) = narrow.select(avg($"y"), avg($"z")).as[(Double, Double)].head
    val orphanMissing = ($"ka".isNull || $"ka" === 999L || $"kb".isNull || $"kb" === 999L) && $"y".isNull
    assert(narrow.filter(orphanMissing).count() > 0 &&
      narrow.filter(($"ka".isNull || $"kb" === 999L) && $"y".isNotNull).count() > 0)
    for (impute <- Seq(Seq("y"), Seq("y", "z")); fact <- Seq(narrow, narrow.distinct())) {
      val out = MiceJoin.imputeChainedOverStar(fact, dims,
        MiceJoin.ChainConfig(factNum = Seq("y", "z", "x"), factCat = Seq(), dimNum = Seq(),
          imputeCont = impute, iterations = 2, normalize = false))
      val got = out.join(fact.filter(orphanMissing).select($"id"), "id").select($"y").collect()
      assert(got.nonEmpty && got.forall(r => math.abs(r.getDouble(0) - meanY) < 1e-9),
        s"imputing $impute: orphan rows must keep the fact-row mean $meanY, got ${got.map(_.get(0)).toSeq}")
      if (impute.contains("z")) {
        val orphanZ = out.join(fact.filter($"ka".isNull && $"z".isNull).select($"id"), "id")
          .select($"z").as[Double].collect()
        assert(orphanZ.forall(v => math.abs(v - meanZ) < 1e-9), s"z orphans: ${orphanZ.toSeq} vs $meanZ")
      }
      Graft.dropCheckpoint(out)
    }
    // without broadcasts the setup's left joins take hashJoinIfSafe's
    // shuffled-hash tier: the same imputed values
    def imputed(): Map[Long, (Double, Double)] = {
      val out = MiceJoin.imputeChainedOverStar(narrow, dims,
        MiceJoin.ChainConfig(factNum = Seq("y", "z", "x"), factCat = Seq(), dimNum = Seq(),
          imputeCont = Seq("y", "z"), iterations = 2, normalize = false))
      try out.select($"id", $"y", $"z").as[(Long, Double, Double)].collect()
        .map { case (id, y, z) => id -> (y, z) }.toMap
      finally Graft.dropCheckpoint(out)
    }
    val broadcast = imputed()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val shuffled = try imputed() finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
    assert(shuffled.keySet == broadcast.keySet && broadcast.size == 700)
    val maxD = broadcast.map { case (id, (y, z)) =>
      math.abs(y - shuffled(id)._1) + math.abs(z - shuffled(id)._2) }.max
    assert(maxD < 1e-9, s"shuffled setup join diverged from the broadcast one: $maxD")
  }

  /** [[starWithOrphans]] written to parquet and read back, as a caller
    * reads its tables: (fact, dimA, dimB). */
  def parquetStar(prefix: String) = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    val (fact, dimA, dimB) = starWithOrphans
    fact.write.parquet(s"$dir/fact")
    dimA.write.parquet(s"$dir/dimA")
    dimB.write.parquet(s"$dir/dimB")
    (spark.read.parquet(s"$dir/fact"), spark.read.parquet(s"$dir/dimA"), spark.read.parquet(s"$dir/dimB"))
  }

  /** The two-column chain over a [[starWithOrphans]]-shaped star. */
  def twoColumnStar(fact: org.apache.spark.sql.DataFrame, dimA: org.apache.spark.sql.DataFrame,
                    dimB: org.apache.spark.sql.DataFrame, iterations: Int) =
    MiceJoin.imputeChainedOverStar(fact,
      Seq(StarDim(dimA, "ka", Seq("d1", "d3")), StarDim(dimB, "kb", Seq("d2"))),
      MiceJoin.ChainConfig(factNum = Seq("y", "z", "x"), factCat = Seq(), dimNum = Seq(),
        imputeCont = Seq("y", "z"), iterations = iterations))

  test("warm star chain runs D + 1 + C·I + (I − 1) + 1 jobs") {
    // D broadcasts of the dims not kept yet, the one setup job (static
    // triple, mean init and incomplete stratum), C column steps per
    // iteration, one checkpoint per non-final iteration, and the
    // caller's write. Parquet dims are kept across calls: D = 0 warm
    val (in, dimA, dimB) = parquetStar("graft-star-jobs")
    def run(iterations: Int): Long = org.apache.spark.graft.JobCounter(spark.sparkContext) {
      val out = twoColumnStar(in, dimA, dimB, iterations)
      out.write.format("noop").mode("overwrite").save()
      Graft.dropCheckpoint(out)
    }._1
    run(1) // warm the memoized unique-key probes and keep both broadcasts
    val c = 2
    for (i <- 1 to 3) {
      val jobs = run(i)
      assert(jobs == 1 + c * i + (i - 1) + 1, s"$i iterations ran $jobs jobs")
    }

    // a DSv2 dim is never kept (D = 1 on every call, beside its
    // re-probed unique key), so a row added between calls shows: fact
    // key 99 has no dim row in the first call and one in the second
    BufferSource.rows.clear()
    (0 until 20).foreach(k => BufferSource.rows.add((k.toLong, k * 0.5)))
    val live = spark.read.format(classOf[BufferSource].getName).load()
    val rng = new scala.util.Random(31)
    val fact = Seq.tabulate(300) { i =>
      val k = if (i % 50 == 3) 99 else i % 20
      val x = (i % 13) - 6.0
      val y = 1.0 + 2.0 * x + 3.0 * (if (k == 99) 7.0 else k * 0.5)
      (i.toLong, k.toLong, x, y, -1.0 + 0.5 * y + x + rng.nextGaussian() * 0.3, i % 4 == 3, i % 7 == 1)
    }.toDF("id", "k", "x", "yT", "zT", "missY", "missZ")
      .withColumn("y", when($"missY", lit(null)).otherwise($"yT"))
      .withColumn("z", when($"missZ", lit(null)).otherwise($"zT"))
    def call() = MiceJoin.imputeChainedOverJoin(fact, live, "k",
      MiceJoin.ChainConfig(factNum = Seq("y", "z", "x"), factCat = Seq(), dimNum = Seq("v"),
        imputeCont = Seq("y", "z"), iterations = 1, normalize = false))
    // |imputed − true y| over the missing-y rows of key 99
    def err(out: org.apache.spark.sql.DataFrame) =
      out.filter($"k" === 99 && $"missY").select(max(abs($"y" - $"yT"))).head.getDouble(0)
    val probeJobs = org.apache.spark.graft.JobCounter(spark.sparkContext)(
      MiceJoin.requireUniqueKey(live, "k"))._1
    var first: org.apache.spark.sql.DataFrame = null
    val jobs = org.apache.spark.graft.JobCounter(spark.sparkContext) {
      first = call()
      first.write.format("noop").mode("overwrite").save()
    }._1
    assert(jobs == probeJobs + 1 + 1 + c + 0 + 1, s"a call over the DSv2 dim ran $jobs jobs")
    assert(err(first) > 1e-3, "key 99 has no dim row yet: its rows keep the mean")
    Graft.dropCheckpoint(first)
    BufferSource.rows.add((99L, 7.0))
    val out = call()
    assert(err(out) < 1e-6, s"the dim row added between calls was not seen: ${err(out)}")
    Graft.dropCheckpoint(out)
  }

  test("the setup computes each fact partition once") {
    // one pass stores the incomplete stratum and folds every row: the
    // setup job reads each fact row once (the warm call's other jobs
    // read the stored stratum)
    val (in, dimA, dimB) = parquetStar("graft-star-pass")
    def run() = org.apache.spark.graft.JobCounter.recordsRead(spark.sparkContext) {
      Graft.dropCheckpoint(twoColumnStar(in, dimA, dimB, 1))
    }
    run() // keep the dim broadcasts
    val perJob = run()
    assert(perJob.max == in.count(), s"records read per job: $perJob")
  }

  test("a star stores its stratum and its iteration checkpoint deserialized") {
    // the stored stratum is sized from the fact side, each generation
    // reports the bytes it stored, and both are far below 1 GB
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.storage.StorageLevel
    val (fact, dimA, dimB) = starWithOrphans
    for (iterations <- Seq(1, 2)) { // the stratum, then the iteration-1 checkpoint
      val out = twoColumnStar(fact, dimA, dimB, iterations)
      val levels = out.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.getStorageLevel }
      assert(levels.nonEmpty && levels.forall(_ == StorageLevel.MEMORY_AND_DISK),
        s"$iterations iteration(s) stored at $levels")
      Graft.dropCheckpoint(out)
    }
  }

  test("a dim rewritten to new files gives the cold result") {
    import org.apache.spark.sql.Row
    val dir = java.nio.file.Files.createTempDirectory("graft-dim-rewrite").toString
    val (fact, dimA, dimB) = starWithOrphans
    dimB.write.parquet(s"$dir/dimB")
    def result(b: org.apache.spark.sql.DataFrame): Seq[Row] = {
      val out = twoColumnStar(fact, dimA, b, 1)
      val rows = out.select("id", "y", "z").orderBy("id").collect().toSeq
      Graft.dropCheckpoint(out)
      rows
    }
    val first = result(spark.read.parquet(s"$dir/dimB"))
    dimB.withColumn("d2", $"d2" * 2.0 - 1.0).write.mode("overwrite").parquet(s"$dir/dimB")
    val rewritten = result(spark.read.parquet(s"$dir/dimB"))
    graft.ml.Factorized.clearProbeCache()
    val cold = result(spark.read.parquet(s"$dir/dimB"))
    assert(rewritten == cold, "a rewritten dim was served the old broadcast")
    assert(rewritten != first)
  }

  test("a stopped and restarted SparkContext is never served a dead broadcast") {
    // one context per JVM: the check runs in its own JVM
    val dir = java.nio.file.Files.createTempDirectory("graft-restart").toString
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++ jvm ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.KeptBroadcastRestartCheck", dir)
    val log = new StringBuilder
    val exit = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(
      l => log.append(l).append('\n'), l => if (!l.contains(" INFO ")) log.append(l).append('\n')))
    assert(exit == 0, s"restart check failed:\n${log.toString.takeRight(4000)}")
  }

  test("incomplete-stratum training keeps inner-join semantics: orphans and NULL dim features") {
    import graft.ml.Factorized.StarDim
    // dim A carries d1 and a categorical c2 that is NULL for key 4; dim
    // B carries no feature, so only its match marker can tell its
    // orphans apart. Orphans (no match in A or in B) have y observed and
    // z missing: they sit in the incomplete stratum, and must neither
    // train y's model nor take a prediction for z.
    val rng = new scala.util.Random(23)
    def eff(c: Option[Int]): Double = c.fold(0.0)(v => Seq(-1.0, 0.5, 2.0)(v))
    val dimA = Seq.tabulate(30)(k => (k.toLong, k * 0.7 - 9.0, Option(k % 3).filter(_ => k != 4)))
      .toDF("ka", "d1", "c2")
    val dimB = Seq.tabulate(20)(_.toLong).toDF("kb")
    val rows = Seq.tabulate(600) { i =>
      val ka = if (i % 50 == 1) 999 else i % 30
      val kb = if (i % 50 == 2) 999 else i % 20
      val x = rng.nextGaussian() * 2
      val d1 = ka * 0.7 - 9.0
      val c2 = if (ka == 4 || ka == 999) None else Some(ka % 3)
      val y = 1.5 + 2.0 * x + 0.8 * d1 + eff(c2) + rng.nextGaussian() * 0.1
      val z = -1.0 + 0.6 * y + 0.5 * x + rng.nextGaussian() * 0.1
      val orphan = ka == 999 || kb == 999
      (i.toLong, ka.toLong, kb.toLong, x, y, z, !orphan && i % 7 == 0, orphan || i % 9 == 2)
    }
    val base = rows.toDF("id", "ka", "kb", "x", "yT", "zT", "missY", "missZ")
      .withColumn("y", when($"missY", lit(null)).otherwise($"yT"))
      .withColumn("z", when($"missZ", lit(null)).otherwise($"zT"))
      .repartition(4)
    val cfg = MiceJoin.ChainConfig(factNum = Seq("y", "z", "x"), factCat = Seq(),
      dimNum = Seq(), imputeCont = Seq("y", "z"), iterations = 2, normalize = false)
    val chained = MiceJoin.imputeChainedOverStar(base,
      Seq(StarDim(dimA, "ka", Seq("d1"), Seq("c2")), StarDim(dimB, "kb")), cfg)
      .select($"id", $"y".as("yJ"), $"z".as("zJ"))
      .join(base.select($"id", $"ka", $"kb", $"y", $"z"), "id")
    assert(chained.count() == 600)

    val baseline = Mice.baseline(base.join(dimA, "ka").join(dimB, "kb"),
      Mice.Config(contCols = Seq("y", "z", "x", "d1"), catCols = Seq("c2"),
        imputeCont = Seq("y", "z"), imputeCat = Seq(), iterations = 2))
    val matched = chained.join(dimA.filter($"c2".isNotNull).select("ka"), "ka")
      .join(dimB, "kb")
      .join(baseline.select($"id", $"y".as("yB"), $"z".as("zB")), "id")
    assert(matched.count() == 600 - 24 - 20, "every matched row with its features must be compared")
    val maxD = matched.select(max(abs($"yJ" - $"yB") + abs($"zJ" - $"zB"))).head.getDouble(0)
    assert(maxD < 1e-6, s"incomplete-stratum training diverged from the inner-joined baseline: $maxD")

    // rows with no match, or with the NULL c2, keep their values: the
    // observed ones unchanged, the missing ones at the mean init
    val (meanY, meanZ) = base.select(avg($"y"), avg($"z")).as[(Double, Double)].head
    val kept = chained.filter($"ka" === 999 || $"kb" === 999 || $"ka" === 4)
      .select(max(abs($"yJ" - coalesce($"y", lit(meanY))) + abs($"zJ" - coalesce($"z", lit(meanZ)))))
      .head.getDouble(0)
    assert(kept < 1e-9, s"orphan or NULL-feature rows changed: $kept")
  }

  test("unique-key verdicts are memoized for file and local dims only") {
    // a non-file source can gain a duplicate key under the same plan:
    // its verdict must be re-probed, so the second check throws
    BufferSource.rows.clear()
    BufferSource.rows.add((1L, 1.0))
    BufferSource.rows.add((2L, 2.0))
    val live = spark.read.format(classOf[BufferSource].getName).load()
    MiceJoin.requireUniqueKey(live, "k")
    BufferSource.rows.add((2L, 3.0))
    val ex = intercept[IllegalArgumentException](MiceJoin.requireUniqueKey(live, "k"))
    assert(ex.getMessage.contains("unique"))
    // a parquet dim keeps its memoized verdict: the repeat check runs no job
    val dir = java.nio.file.Files.createTempDirectory("graft-unique").resolve("dim").toString
    Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v").write.parquet(dir)
    val pq = spark.read.parquet(dir)
    MiceJoin.requireUniqueKey(pq, "k")
    val (jobs, _) = org.apache.spark.graft.JobCounter(spark.sparkContext)(
      MiceJoin.requireUniqueKey(pq, "k"))
    assert(jobs == 0, s"the parquet dim was re-probed ($jobs jobs)")
  }

  test("an in-place rewrite with the same names and sizes is a new snapshot") {
    // the fingerprint reads each file's modification time: a dim
    // rewritten in place with the same file names and lengths but a
    // duplicated key is probed again, not served the memoized pass
    import java.nio.file.{Files, Path, StandardCopyOption}
    val root = Files.createTempDirectory("graft-inplace")
    def write(rows: Seq[(Long, Double)], name: String): Path = {
      val dir = root.resolve(name)
      // plain, uncompressed and without page checksums: the length
      // depends on the row count alone
      rows.toDF("k", "v").coalesce(1).write.option("parquet.enable.dictionary", "false")
        .option("parquet.page.write-checksum.enabled", "false")
        .option("compression", "none").parquet(dir.toString)
      dir
    }
    def part(dir: Path): Path =
      Files.list(dir).iterator.asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    val dim = write(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)), "dim")
    val dup = write(Seq((1L, 1.0), (1L, 2.0), (3L, 3.0)), "dup") // same min and max
    val (target, source) = (part(dim), part(dup))
    assert(Files.size(target) == Files.size(source), "the rewrite must keep the file's length")
    MiceJoin.requireUniqueKey(spark.read.parquet(dim.toString), "k")
    val mtime = Files.getLastModifiedTime(target).toMillis
    def crc(p: Path) = p.resolveSibling(s".${p.getFileName}.crc")
    Files.copy(source, target, StandardCopyOption.REPLACE_EXISTING)
    Files.copy(crc(source), crc(target), StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(target, java.nio.file.attribute.FileTime.fromMillis(mtime + 2000))
    val ex = intercept[IllegalArgumentException](
      MiceJoin.requireUniqueKey(spark.read.parquet(dim.toString), "k"))
    assert(ex.getMessage.contains("unique"))
  }

  test("missing row without a dim match falls back to the observed mean") {
    val orphan = Seq((999L, 999L, 1.0, null.asInstanceOf[java.lang.Double], true))
      .toDF("id", "k", "x1", "yTrue", "miss")
      .withColumn("y", lit(null).cast("double"))
      .select("id", "k", "x1", "yTrue", "miss", "y")
    val done = oneRoundJoin(
      fact.select("id", "k", "x1", "yTrue", "miss", "y").unionByName(orphan),
      dim, key = "k", target = "y", factNum = Seq("x1"), dimNum = Seq("x2"))
    val mean = fact.filter(!$"miss").select(avg($"y")).head.getDouble(0)
    val got = done.filter($"id" === 999L).select($"y").head.getDouble(0)
    assert(math.abs(got - mean) < 1e-9, s"orphan row should get the observed mean, got $got vs $mean")
  }

  test("a missing orphan gets the mean over every observed target, orphans included") {
    // an OBSERVED orphan (y set, key unmatched) never trains, but its y
    // counts in the mean init the missing orphan keeps
    val orphans = Seq((998L, 998L, 1.0, 500.0, false, Some(500.0)), (999L, 999L, 1.0, 0.0, true, None))
      .toDF("id", "k", "x1", "yTrue", "miss", "y")
    val in = fact.select("id", "k", "x1", "yTrue", "miss", "y").unionByName(orphans)
    val done = oneRoundJoin(in, dim, key = "k", target = "y",
      factNum = Seq("x1"), dimNum = Seq("x2"))
    val mean = in.select(avg($"y")).head.getDouble(0)
    val got = done.filter($"id" === 999L).select($"y").head.getDouble(0)
    assert(math.abs(got - mean) < 1e-9, s"missing orphan: $got, want the mean over every observed y $mean")
    assert(done.filter($"id" === 998L).select($"y").head.getDouble(0) == 500.0)
    // the observed orphan does not train: matched rows stay exact
    val maxErr = done.filter($"miss" && $"id" < 998L)
      .select(max(abs($"y" - $"yTrue"))).head.getDouble(0)
    assert(maxErr < 1e-6, s"matched rows: max err $maxErr")
  }

  test("one round keeps the input's schema: an int feature stays an int") {
    val in = fact.withColumn("x1", $"x1".cast("int"))
    val done = oneRoundJoin(in, dim, key = "k", target = "y",
      factNum = Seq("x1"), dimNum = Seq("x2"))
    assert(done.schema == in.schema, s"${done.schema.treeString} vs ${in.schema.treeString}")
    assert(done.filter($"y".isNull).count() == 0)
  }

  test("one round hands every feature back bit-exact: a long above 2^53, a decimal(38,18)") {
    // training reads each feature as a double; a round trip of the
    // column itself through a double would change both
    val in = fact
      .withColumn("big", lit((1L << 53) + 1) + $"id" * 2)
      .withColumn("dec", ($"id" + lit(BigDecimal("0.123456789012345678"))).cast("decimal(38,18)"))
    val done = oneRoundJoin(in, dim, key = "k", target = "y",
      factNum = Seq("x1", "big", "dec"), dimNum = Seq("x2"), lambda = 1e-6)
    assert(done.schema == in.schema, s"${done.schema.treeString} vs ${in.schema.treeString}")
    val both = done.as("o").join(in.as("i"), "id")
    assert(both.count() == 400)
    val changed = both.filter($"o.big" =!= $"i.big" || $"o.dec" =!= $"i.dec" ||
      $"o.x1" =!= $"i.x1" || ($"i.y".isNotNull && $"o.y" =!= $"i.y")).count()
    assert(changed == 0, s"$changed rows came back with a changed feature or observed target")
    assert(done.filter($"y".isNull).count() == 0)
  }

  test("warm one-round star call: the setup query and the caller's, nothing stored") {
    // the setup job folds the training triple and the mean init over
    // the fact left-joined with both dims; the update is a lazy
    // projection of that join, which the caller's write runs with the
    // kept broadcasts
    import org.apache.spark.sql.execution.LogicalRDD
    val (fact, dims) = (starFact, Seq(StarDim(dimA, "ka", Seq("d1")), StarDim(dimB, "kb", Seq("d2"))))
    def run() = org.apache.spark.graft.JobCounter.jobProperties(spark.sparkContext) {
      val out = oneRoundStar(fact, dims, target = "y", factNum = Seq("x1"))
      assert(out.queryExecution.analyzed.collect { case l: LogicalRDD => l }.isEmpty,
        "one round must store nothing")
      out.write.format("noop").mode("overwrite").save()
    }
    run() // warm the memoized unique-key probes and keep both broadcasts
    val jobs = run()
    val queries = jobs.map(p => Option(p.getProperty("spark.sql.execution.id"))).distinct
    assert(queries.size == 2 && queries.forall(_.isDefined),
      s"a warm one-round call ran ${jobs.size} jobs under executions $queries")
    // measured on local[4]: 5 jobs, the fact's repartition and the fold
    // or write in each query; neither query broadcasts a dim (9 jobs
    // when each query broadcast both)
    assert(jobs.size == 5, s"a warm one-round call ran ${jobs.size} jobs")
  }

  test("orphan row with a CATEGORICAL dim feature gets the mean, not a silent class-0 block") {
    import graft.ml.Factorized.StarDim
    // target depends on a categorical dim feature; the orphan's key has
    // no dim row, so its one-hot block is undefined — without the
    // explicit null-feature fallback, LinReg's unseen-category coalesce
    // would one-hot it to all-zero and impute a biased model value
    val rng = new scala.util.Random(5)
    val catDim = Seq.tabulate(40)(k => (k.toLong, k % 3)).toDF("k", "c")
    val rows = Seq.tabulate(400) { i =>
      val k = (i % 40).toLong
      val x = rng.nextGaussian()
      val y = 2.0 * x + Seq(0.0, 5.0, -3.0)((i % 40) % 3) + 10.0
      (i.toLong, k, x, y, i % 5 == 0)
    }
    val f = rows.toDF("id", "k", "x1", "yTrue", "miss")
      .withColumn("y", when($"miss", lit(null)).otherwise($"yTrue"))
    val orphan = Seq((999L, 999L, 0.0, 0.0, true)).toDF("id", "k", "x1", "yTrue", "miss")
      .withColumn("y", lit(null).cast("double"))
    val done = oneRoundStar(f.unionByName(orphan),
      Seq(StarDim(catDim, "k", Seq(), Seq("c"))),
      target = "y", factNum = Seq("x1"))
    val mean = f.filter(!$"miss").select(avg($"y")).head.getDouble(0)
    val got = done.filter($"id" === 999L).select($"y").head.getDouble(0)
    assert(math.abs(got - mean) < 1e-9,
      s"orphan with categorical dim feature must fall back to the mean: $got vs $mean")
  }

  test("chained star: orphan row KEEPS its value instead of taking a class-0 prediction") {
    import graft.ml.Factorized.StarDim
    val rng = new scala.util.Random(11)
    val catDim = Seq.tabulate(30)(k => (k.toLong, k % 2)).toDF("k", "c")
    val rows = Seq.tabulate(300) { i =>
      val k = (i % 30).toLong
      val x = rng.nextGaussian()
      (i.toLong, k, x, 3.0 * x + ((i % 30) % 2) * 4.0, i % 4 == 0)
    }
    val f = rows.toDF("id", "k", "x1", "yTrue", "miss")
      .withColumn("y", when($"miss", lit(null)).otherwise($"yTrue"))
      .select("id", "k", "x1", "y")
    val orphan = Seq((999L, 999L, 0.25)).toDF("id", "k", "x1")
      .withColumn("y", lit(null).cast("double"))
    val done = MiceJoin.imputeChainedOverStar(f.unionByName(orphan),
      Seq(StarDim(catDim, "k", Seq(), Seq("c"))),
      MiceJoin.ChainConfig(factNum = Seq("x1", "y"), factCat = Seq(),
        dimNum = Seq(), imputeCont = Seq("y"), iterations = 2))
    // the orphan keeps its initialized value = the observed mean (the
    // chained keep-your-value contract), never a class-0 model output
    val mean = f.filter($"y".isNotNull).select(avg($"y")).head.getDouble(0)
    val got = done.filter($"id" === 999L).select($"y").head.getDouble(0)
    assert(math.abs(got - mean) < 1e-9,
      s"chained orphan must keep its mean-initialized value: $got vs $mean")
  }

  test("NULL-keyed dim rows do not abort the unique-key probe") {
    // two NULL-keyed dim rows: an equi-join can never match them, so the
    // unique-key probe must not treat them as a duplicated key
    val dimWithNulls = dim.unionByName(Seq(
      (null.asInstanceOf[java.lang.Long], 1.0), (null.asInstanceOf[java.lang.Long], 2.0))
      .toDF("k", "x2"))
    val done = oneRoundJoin(fact, dimWithNulls, "k",
      target = "y", factNum = Seq("x1"), dimNum = Seq("x2"))
    assert(done.filter($"y".isNull).count() == 0)
  }

  test("final-step consumed checkpoints stay live until the caller releases the returned plan") {
    // The FINAL iteration's incomplete stratum is intentionally NOT
    // checkpointed: the checkpoint it reads (the previous iteration's)
    // must therefore stay persisted inside the returned lazy plan —
    // unpersisting it at the final step would make the caller's single
    // consumption recompute the stratum's update chain through every
    // previously dropped generation.
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.storage.StorageLevel
    val rng = new scala.util.Random(7)
    val dim2 = Seq.tabulate(30)(k => (k.toLong, k * 0.7 - 9.0)).toDF("k", "d1")
    val base = Seq.tabulate(600) { i =>
      val k = i % 30
      val x = rng.nextGaussian() * 2
      val y = 1.5 + 2.0 * x + 0.8 * (k * 0.7 - 9.0) + rng.nextGaussian() * 0.1
      val c = if (y > 1.5) 1 else 0
      (i.toLong, k.toLong, x, y, c, i % 7 == 0, i % 11 == 3)
    }.toDF("id", "k", "x", "yT", "cT", "missY", "missC")
      .withColumn("y", when($"missY", lit(null)).otherwise($"yT"))
      .withColumn("c", when($"missC", lit(null)).otherwise($"cT"))
      .repartition(4)
    val chained = MiceJoin.imputeChainedOverJoin(base, dim2, "k",
      MiceJoin.ChainConfig(factNum = Seq("y", "x"), factCat = Seq("c"),
        dimNum = Seq("d1"), imputeCont = Seq("y"), imputeCat = Seq("c"),
        iterations = 2, normalize = false))
    val leaves = chained.queryExecution.analyzed.collect { case l: LogicalRDD => l }
    assert(leaves.nonEmpty, "the chained plan must reference checkpointed generations")
    leaves.foreach { l =>
      assert(l.rdd.getStorageLevel != StorageLevel.NONE,
        s"generation RDD ${l.rdd.id} was unpersisted before the caller consumed the plan")
    }
    assert(chained.count() == 600)
    // ... and the caller's traversal-based release frees exactly those blocks
    Graft.dropCheckpoint(chained)
    leaves.foreach { l =>
      assert(l.rdd.getStorageLevel == StorageLevel.NONE,
        s"Graft.dropCheckpoint(result) must release generation RDD ${l.rdd.id}")
    }
  }
}
