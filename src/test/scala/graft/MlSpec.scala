package graft

import breeze.linalg.{pinv, DenseMatrix, DenseVector}
import graft.ml._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * ML-layer parity: training on the cofactor triple must equal training
 * on the raw data matrix (the reference's core claim — the triple is a
 * sufficient statistic; SURVEY §2.2). The "oracle" side below computes
 * X'X / class means / covariances directly from the materialized
 * one-hot-encoded rows in Breeze, independently of the ring code.
 */
class MlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // deterministic synthetic data: y = 3 + 2a - b + effect(c) + eps
  val rng = new scala.util.Random(123)
  val catEffect = Map(0 -> 0.0, 1 -> 5.0, 2 -> -2.0)
  val rows: Seq[(Double, Double, Double, Int)] = Seq.tabulate(300) { _ =>
    val a = rng.nextDouble() * 10 - 5
    val b = rng.nextDouble() * 4
    val c = rng.nextInt(3)
    val y = 3.0 + 2.0 * a - 1.0 * b + catEffect(c) + rng.nextGaussian() * 0.5
    (y, a, b, c)
  }

  def df = rows.toDF("y", "a", "b", "c").repartition(4)

  test("linreg on triple == closed-form OLS on raw one-hot matrix") {
    val t = Graft.cofactor(df, Seq("y", "a", "b"), Seq("c"))
    val m = LinReg.train(t, label = 0)

    // oracle: build X = [1, a, b, 1hot(c)] directly, minimum-norm OLS
    val x = DenseMatrix(rows.map { case (_, a, b, c) =>
      Array(1.0, a, b, if (c == 0) 1.0 else 0.0, if (c == 1) 1.0 else 0.0, if (c == 2) 1.0 else 0.0)
    }: _*)
    val y = DenseVector(rows.map(_._1).toArray)
    val theta = graft.ml.MlMath.pinvCut(x.t * x) * (x.t * y)

    assert(math.abs(m.intercept - theta(0)) < 1e-6)
    assert(math.abs(m.numCoef(0) - theta(1)) < 1e-6)
    assert(math.abs(m.numCoef(1) - theta(2)) < 1e-6)
    for (c <- 0 to 2) assert(math.abs(m.catCoef(0)(c) - theta(3 + c)) < 1e-6)
    // predictions recover the generating model to noise level
    val pred = df.withColumn("p", LinReg.predict(m, Seq($"a", $"b"), Seq($"c")))
      .select(sqrt(avg(pow($"p" - $"y", 2))).as("rmse")).head.getDouble(0)
    assert(pred < 0.6, s"rmse $pred")
  }

  test("linreg ridge path and variance") {
    val t = Graft.cofactor(df, Seq("y", "a", "b"), Seq("c"))
    val m = LinReg.train(t, label = 0, lambda = 1e-6)
    assert(math.abs(m.numCoef(0) - 2.0) < 0.05)
    assert(m.sigma2 > 0.1 && m.sigma2 < 0.5, s"sigma2 ${m.sigma2}") // true noise var 0.25
  }

  // classification data: 3 well-separated Gaussian classes + 1 correlated cat feature
  val clsRows: Seq[(Double, Double, Int, Int)] = Seq.tabulate(450) { i =>
    val cls = i % 3
    val f1 = rng.nextGaussian() + cls * 6.0
    val f2 = rng.nextGaussian() - cls * 4.0
    val cf = if (rng.nextDouble() < 0.8) cls else rng.nextInt(3) // noisy copy of class
    (f1, f2, cf, cls)
  }
  def clsDf = clsRows.toDF("f1", "f2", "cf", "cls").repartition(4)

  test("LDA: class means from triple == raw means; high train accuracy") {
    val t = Graft.cofactor(clsDf, Seq("f1", "f2"), Seq("cf", "cls"))
    val m = Lda.train(t, label = 1) // cls is 2nd cat col
    assert(m.classes.toSeq == Seq(0, 1, 2))
    val acc = clsDf.withColumn("p", Lda.predict(m, Seq($"f1", $"f2"), Seq($"cf")))
      .select(avg(when($"p" === $"cls", 1.0).otherwise(0.0))).head.getDouble(0)
    assert(acc > 0.98, s"LDA accuracy $acc")

    // parity: Spark-side predict equals driver-side predict on the same rows
    clsDf.withColumn("p", Lda.predict(m, Seq($"f1", $"f2"), Seq($"cf")))
      .select("f1", "f2", "cf", "p").limit(50).collect().foreach { r =>
        assert(r.getInt(3) == Lda.predictValue(m, Array(r.getDouble(0), r.getDouble(1)), Array(r.getInt(2))))
      }
  }

  test("QDA from per-class triples: high train accuracy") {
    val perClass = Graft.cofactorPerClass(clsDf, Seq("f1", "f2"), Seq("cf", "cls"), label = "cls")
    // drop the label col from each class triple: features are f1,f2,cf only
    val featTriples = Graft.cofactorPerClass(clsDf, Seq("f1", "f2"), Seq("cf"), label = "cls")
    assert(perClass.map(_._1).sorted.toSeq == Seq(0, 1, 2))
    val m = Qda.train(featTriples)
    val acc = clsDf.withColumn("p", Qda.predict(m, Seq($"f1", $"f2"), Seq($"cf")))
      .select(avg(when($"p" === $"cls", 1.0).otherwise(0.0))).head.getDouble(0)
    assert(acc > 0.98, s"QDA accuracy $acc")
  }

  test("QDA normalize: standardized training folds back to equivalent raw-space predictions") {
    val featTriples = Graft.cofactorPerClass(clsDf, Seq("f1", "f2"), Seq(), label = "cls")
    val (m1, m2) = (Qda.train(featTriples), Qda.train(featTriples, normalize = true))
    clsRows.take(100).foreach { case (f1, f2, _, _) =>
      assert(Qda.predictValue(m1, Array(f1, f2), Array()) ==
        Qda.predictValue(m2, Array(f1, f2), Array()))
    }
  }

  test("NB from per-class NB aggregates: accuracy + unseen-category zeroing") {
    val perClass = Graft.cofactorPerClass(clsDf, Seq("f1", "f2"), Seq("cf"), label = "cls", nb = true)
    val m = NaiveBayes.train(perClass)
    // NB aggregates carry diagonal quad only
    assert(m.means(0).length == 2 && m.vars(0).length == 2)
    val acc = clsDf.withColumn("p", NaiveBayes.predict(m, Seq($"f1", $"f2"), Seq($"cf")))
      .select(avg(when($"p" === $"cls", 1.0).otherwise(0.0))).head.getDouble(0)
    assert(acc > 0.98, s"NB accuracy $acc")
    // per-class mean parity vs raw
    val rawMean0 = clsRows.filter(_._4 == 0).map(_._1)
    assert(math.abs(m.means(0)(0) - rawMean0.sum / rawMean0.size) < 1e-9)
    // unseen category: still classifies (all classes -inf on that feature → fall back to first max)
    val p = NaiveBayes.predictValue(m, Array(0.0, 0.0), Array(99))
    assert(m.classes.contains(p))
  }

  test("pure-Column predict matches the driver loop on unseen categories too") {
    val mL = Lda.train(Graft.cofactor(clsDf, Seq("f1", "f2"), Seq("cf", "cls")), label = 1)
    val mN = NaiveBayes.train(
      Graft.cofactorPerClass(clsDf, Seq("f1", "f2"), Seq("cf"), label = "cls", nb = true))
    // category 99/42 never seen in training: LDA scores an all-zero block,
    // NB zeroes every class (falls back to the first class) — the Column
    // expressions must reproduce both behaviors exactly
    val odd = Seq((1.2, -0.5, 99), (7.0, -3.0, 42), (0.3, 0.1, 0)).toDF("f1", "f2", "cf")
    odd.withColumn("pl", Lda.predict(mL, Seq($"f1", $"f2"), Seq($"cf")))
      .withColumn("pn", NaiveBayes.predict(mN, Seq($"f1", $"f2"), Seq($"cf")))
      .collect().foreach { r =>
        val (f1, f2, cf) = (r.getDouble(0), r.getDouble(1), r.getInt(2))
        assert(r.getInt(3) == Lda.predictValue(mL, Array(f1, f2), Array(cf)))
        assert(r.getInt(4) == NaiveBayes.predictValue(mN, Array(f1, f2), Array(cf)))
      }

    // QDA with TWO categorical features: the pure-Column scoring expands
    // diagonal, numeric×one-hot, AND nested cat×cat cross lookups — all
    // must reproduce the driver loop, unseen categories included
    val two = clsDf.withColumn("cg", (($"cf" + $"cls") % 2).cast("int"))
    val mQ = Qda.train(Graft.cofactorPerClass(two, Seq("f1", "f2"), Seq("cf", "cg"), label = "cls"))
    val probe = Seq((1.2, -0.5, 99, 0), (7.0, -3.0, 1, 1), (0.3, 0.1, 0, 7), (-2.0, 4.0, 2, 0))
      .toDF("f1", "f2", "cf", "cg")
    probe.withColumn("pq", Qda.predict(mQ, Seq($"f1", $"f2"), Seq($"cf", $"cg")))
      .collect().foreach { r =>
        val (f1, f2, cf, cg) = (r.getDouble(0), r.getDouble(1), r.getInt(2), r.getInt(3))
        assert(r.getInt(4) == Qda.predictValue(mQ, Array(f1, f2), Array(cf, cg)),
          s"QDA column/loop mismatch at ($f1,$f2,$cf,$cg)")
      }
  }

  test("gradient-descent trainer converges to the exact-solve optimum (reference solver parity)") {
    val t = Graft.cofactor(df, Seq("y", "a", "b"), Seq("c"))
    val exact = LinReg.train(t, label = 0, lambda = 1e-4)
    val gd = LinReg.trainGD(t, label = 0, lambda = 1e-4, maxIters = 20000)
    assert(math.abs(exact.numCoef(0) - gd.numCoef(0)) < 1e-5, s"${exact.numCoef(0)} vs ${gd.numCoef(0)}")
    assert(math.abs(exact.numCoef(1) - gd.numCoef(1)) < 1e-5)
    // predictions agree (intercept/one-hot split may differ along near-null directions)
    rows.take(30).foreach { case (_, a, b, c) =>
      val p1 = exact.intercept + exact.numCoef(0) * a + exact.numCoef(1) * b + exact.catCoef(0)(c)
      val p2 = gd.intercept + gd.numCoef(0) * a + gd.numCoef(1) * b + gd.catCoef(0)(c)
      assert(math.abs(p1 - p2) < 1e-4, s"$p1 vs $p2")
    }
  }

  test("normalize: OLS predictions invariant at lambda=0; ridge optimum changes; LDA invariant") {
    val t = Graft.cofactor(df, Seq("y", "a", "b"), Seq("c"))
    val plain = LinReg.train(t, label = 0)
    val normed = LinReg.train(t, label = 0, normalize = true)
    // identified parameters (continuous coefs) match; the intercept/one-hot
    // split is not identified under collinearity, so compare predictions
    for (i <- plain.numCoef.indices)
      assert(math.abs(plain.numCoef(i) - normed.numCoef(i)) < 1e-6)
    rows.take(50).foreach { case (_, a, b, c) =>
      val p1 = plain.intercept + plain.numCoef(0) * a + plain.numCoef(1) * b + plain.catCoef(0)(c)
      val p2 = normed.intercept + normed.numCoef(0) * a + normed.numCoef(1) * b + normed.catCoef(0)(c)
      assert(math.abs(p1 - p2) < 1e-6, s"$p1 vs $p2")
    }
    // with ridge, standardization changes the penalty geometry → different coefs
    val r1 = LinReg.train(t, label = 0, lambda = 0.5)
    val r2 = LinReg.train(t, label = 0, lambda = 0.5, normalize = true)
    assert(math.abs(r1.numCoef(0) - r2.numCoef(0)) > 1e-9)
    // LDA: shrinkage=0 scores are affine-invariant → same predictions
    val tc = Graft.cofactor(clsDf, Seq("f1", "f2"), Seq("cls"))
    val (m1, m2) = (Lda.train(tc, 0), Lda.train(tc, 0, normalize = true))
    val sample = clsRows.take(100)
    val p1 = sample.map { case (f1, f2, _, _) => Lda.predictValue(m1, Array(f1, f2), Array()) }
    val p2 = sample.map { case (f1, f2, _, _) => Lda.predictValue(m2, Array(f1, f2), Array()) }
    assert(p1 == p2)
  }

  test("factorized training over a join == training over the materialized join") {
    // two relations sharing a key; the fact side has the label
    val dim = Seq.tabulate(50)(k => (k, k * 0.5 + 1.0, k % 4)).toDF("k", "dprice", "dcat")
    val fact = rows.zipWithIndex.map { case ((y, a, b, c), i) => (i % 50, y, a) }
      .toDF("k", "y", "a")
    val t = graft.ml.Factorized.cofactorOverJoin(
      fact, dim, "k", Seq("y", "a"), Seq(), Seq("dprice"), Seq("dcat"))
    val mat = fact.join(dim, "k")
    val tMat = Graft.cofactor(mat, Seq("y", "a", "dprice"), Seq("dcat"))
    assert(t.approxEquals(tMat, 1e-9), "factorized cofactor != materialized")
    val mFact = LinReg.train(t, label = 0)
    val mMat = LinReg.train(tMat, label = 0)
    for (i <- mFact.numCoef.indices)
      assert(math.abs(mFact.numCoef(i) - mMat.numCoef(i)) < 1e-8)

    // adaptive variant: both branches produce the same triple — here the
    // fact side has ~8 rows/key (factorizes), but with a high threshold
    // it must fall back to the fused-over-join plan and still agree
    val tAdaptFact = graft.ml.Factorized.cofactorOverJoinAdaptive(
      fact, dim, "k", Seq("y", "a"), Seq(), Seq("dprice"), Seq("dcat"), minRowsPerKey = 2.0)
    val tAdaptPlain = graft.ml.Factorized.cofactorOverJoinAdaptive(
      fact, dim, "k", Seq("y", "a"), Seq(), Seq("dprice"), Seq("dcat"), minRowsPerKey = 1e9)
    assert(tAdaptFact.approxEquals(tMat, 1e-9))
    assert(tAdaptPlain.approxEquals(tMat, 1e-9))

    // disjoint keys → empty join must yield the zero triple, not NPE
    val tEmpty = graft.ml.Factorized.cofactorOverJoin(
      fact.filter($"k" < 0), dim, "k", Seq("y", "a"), Seq(), Seq("dprice"), Seq("dcat"))
    assert(tEmpty.n == 0 && tEmpty.numCols == 3 && tEmpty.catCols == 1)
  }

  test("star cofactor (2 dims, chained ring products) == materialized 3-way join") {
    import graft.ml.Factorized.StarDim
    // fact with TWO distinct join keys; dim features continuous AND
    // categorical; ~6 fact rows per (k1,k2) combo so the chain factorizes
    val fact = rows.zipWithIndex.map { case ((y, a, _, c), i) => (i % 10, i % 5, y, a, c) }
      .toDF("k1", "k2", "y", "a", "c")
    val dim1 = Seq.tabulate(10)(k => (k, k * 0.5 + 1.0, k % 3)).toDF("k1", "d1p", "d1c")
    val dim2 = Seq.tabulate(5)(k => (k, k * 2.0 - 3.0)).toDF("k2", "d2p")
    val dims = Seq(StarDim(dim1, "k1", Seq("d1p"), Seq("d1c")),
                   StarDim(dim2, "k2", Seq("d2p")))
    val mat = fact.join(dim1, "k1").join(dim2, "k2")
    val tMat = Graft.cofactor(mat, Seq("y", "a", "d1p", "d2p"), Seq("c", "d1c"))
    // pinned factorized chain, probed-adaptive (combos repeat), and
    // pinned materialized fallback must all agree with the fused 3-way
    val tChain = graft.ml.Factorized.cofactorOverStar(
      fact, Seq("y", "a"), Seq("c"), dims, minRowsPerKey = 0.0)
    val tAdapt = graft.ml.Factorized.cofactorOverStar(
      fact, Seq("y", "a"), Seq("c"), dims, minRowsPerKey = 2.0)
    val tFall = graft.ml.Factorized.cofactorOverStar(
      fact, Seq("y", "a"), Seq("c"), dims, minRowsPerKey = Double.MaxValue)
    assert(tChain.approxEquals(tMat, 1e-9), s"star chain != materialized")
    assert(tAdapt.approxEquals(tMat, 1e-9))
    assert(tFall.approxEquals(tMat, 1e-9))
    // training over the star == training over the materialized join
    val mStar = graft.ml.Factorized.linRegOverStar(
      fact, Seq("y", "a"), Seq("c"), dims, label = 0)
    val mMat = LinReg.train(tMat, label = 0)
    for (i <- mStar.numCoef.indices)
      assert(math.abs(mStar.numCoef(i) - mMat.numCoef(i)) < 1e-8)

    // a MULTIPLICATIVE dim (repeated keys): the materialized join fans
    // out; the chain must reproduce exactly that fan-out's cofactor
    val dim2m = Seq.tabulate(15)(i => (i % 5, i * 1.5 - 2.0)).toDF("k2", "d2p")
    val dimsM = Seq(StarDim(dim1, "k1", Seq("d1p"), Seq("d1c")),
                    StarDim(dim2m, "k2", Seq("d2p")))
    val tMatM = Graft.cofactor(fact.join(dim1, "k1").join(dim2m, "k2"),
      Seq("y", "a", "d1p", "d2p"), Seq("c", "d1c"))
    val tChainM = graft.ml.Factorized.cofactorOverStar(
      fact, Seq("y", "a"), Seq("c"), dimsM, minRowsPerKey = 0.0)
    assert(tChainM.approxEquals(tMatM, 1e-9), "multiplicative-dim chain != materialized")
    // the probe must choose the chain here even though the FACT side is
    // made near-unique: dim2m repeats 3×/key, and materializing would
    // explode |fact|·3 — any multiplicative side forces factorization
    val factU = rows.zipWithIndex.map { case ((y, a, _, c), i) => (i, i % 5, y, a, c) }
      .toDF("k1", "k2", "y", "a", "c")
    val dim1U = Seq.tabulate(300)(k => (k, k * 0.5 + 1.0, k % 3)).toDF("k1", "d1p", "d1c")
    val tAdaptM = graft.ml.Factorized.cofactorOverStar(
      factU, Seq("y", "a"), Seq("c"),
      Seq(StarDim(dim1U, "k1", Seq("d1p"), Seq("d1c")), StarDim(dim2m, "k2", Seq("d2p"))),
      minRowsPerKey = 2.0)
    val tMatU = Graft.cofactor(factU.join(dim1U, "k1").join(dim2m, "k2"),
      Seq("y", "a", "d1p", "d2p"), Seq("c", "d1c"))
    assert(tAdaptM.approxEquals(tMatU, 1e-9))
    // declaring the MULTIPLICATIVE dim first makes the mixed routing
    // (unique dim folded into the fact, multiplicative dim aggregated)
    // build the blocks out of declared order — the result must come back
    // permuted to the declared [fact ++ dim-in-order] layout
    val tMixedOrder = graft.ml.Factorized.cofactorOverStar(
      factU, Seq("y", "a"), Seq("c"),
      Seq(StarDim(dim2m, "k2", Seq("d2p")), StarDim(dim1U, "k1", Seq("d1p"), Seq("d1c"))),
      minRowsPerKey = 2.0)
    val tMatU2 = Graft.cofactor(factU.join(dim2m, "k2").join(dim1U, "k1"),
      Seq("y", "a", "d2p", "d1p"), Seq("c", "d1c"))
    assert(tMixedOrder.approxEquals(tMatU2, 1e-9),
      "mixed routing must permute blocks back to the declared dim order")

    // disjoint keys in ONE dim → empty star → zero triple of full arity
    val tEmpty = graft.ml.Factorized.cofactorOverStar(
      fact, Seq("y", "a"), Seq("c"),
      Seq(StarDim(dim1.filter($"k1" < 0), "k1", Seq("d1p"), Seq("d1c")),
          StarDim(dim2, "k2", Seq("d2p"))), minRowsPerKey = 0.0)
    assert(tEmpty.n == 0 && tEmpty.numCols == 4 && tEmpty.catCols == 2)
    // numeric-only star fallback folds one Graft.cofactor over the materialized star
    val tNum = graft.ml.Factorized.cofactorOverStar(
      fact, Seq("y", "a"), Seq(),
      Seq(StarDim(dim1.drop("d1c"), "k1", Seq("d1p")), StarDim(dim2, "k2", Seq("d2p"))),
      minRowsPerKey = Double.MaxValue)
    val tNumMat = Graft.cofactor(fact.join(dim1, "k1").join(dim2, "k2"),
      Seq("y", "a", "d1p", "d2p"), Nil)
    assert(tNum.approxEquals(tNumMat, 1e-9))
  }

  test("numeric-only adaptive join fallback == factorized branch") {
    // the numeric-only ADAPTIVE fallback folds Graft.cofactor over the
    // materialized join and must agree with the factorized branch
    val dim = Seq.tabulate(20)(k => (k, k * 0.5 + 1.0)).toDF("k", "dprice")
    val fact = rows.zipWithIndex.map { case ((y, a, _, _), i) => (i % 20, y, a) }
      .toDF("k", "y", "a")
    val viaFallback = graft.ml.Factorized.cofactorOverJoinAdaptive(
      fact, dim, "k", Seq("y", "a"), Seq(), Seq("dprice"), Seq(), minRowsPerKey = 1e9)
    val viaFactorized = graft.ml.Factorized.cofactorOverJoin(
      fact, dim, "k", Seq("y", "a"), Seq(), Seq("dprice"), Seq())
    assert(viaFallback.approxEquals(viaFactorized, 1e-9))
  }

  test("skew-robust SHJ: a hot build key routes to the salted join with exact parity") {
    // cap tiny so the partition-to-fit tier engages on toy data; one
    // key holds 2000 of the dim's 2500 rows — its build alone exceeds
    // the cap, so plain partition-to-fit SHJ would concentrate one
    // non-spillable build no matter the partition count. Broadcast is
    // off: the toy dim fits the broadcast threshold, which would take
    // the plain join before any SHJ tier
    spark.conf.set("spark.graft.shj.maxBuildPartitionBytes", "8192")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val hotDim = (Seq.tabulate(2000)(i => (0, i * 0.01)) ++
        Seq.tabulate(500)(i => (i + 1, i * 0.1))).toDF("k", "dprice")
      val fact = Seq.tabulate(3000)(i => (i % 501, i * 1.0, (i % 7).toDouble))
        .toDF("k", "y", "a")
      val joined = graft.ml.Factorized.hashJoinIfSafe(fact, hotDim, Seq("k"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("__salt"), s"hot key must take the salted tier:\n$plan")
      val viaSalted = Graft.cofactor(joined, Seq("y", "a", "dprice"), Nil)
      val plain = Graft.cofactor(fact.join(hotDim, "k"), Seq("y", "a", "dprice"), Nil)
      assert(viaSalted.approxEquals(plain, 1e-9),
        s"salted join changed the cofactor: $viaSalted vs $plain")
      assert(viaSalted.n == plain.n && viaSalted.n > 10000, s"n=${viaSalted.n}")
      // without the hot key the same tier keeps the plain co-partitioned
      // SHJ (no salt column anywhere in the plan)
      val uniDim = Seq.tabulate(2500)(i => (i, i * 0.01)).toDF("k", "dprice")
      val juni = graft.ml.Factorized.hashJoinIfSafe(fact, uniDim, Seq("k"))
      val puni = juni.queryExecution.optimizedPlan.toString
      assert(!puni.contains("__salt"), s"uniform keys must not salt:\n$puni")
      val viaUni = Graft.cofactor(juni, Seq("y", "a", "dprice"), Nil)
      val plainUni = Graft.cofactor(fact.join(uniDim, "k"), Seq("y", "a", "dprice"), Nil)
      assert(viaUni.approxEquals(plainUni, 1e-9))
    } finally {
      spark.conf.unset("spark.graft.shj.maxBuildPartitionBytes")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("skew tier guards: __salt-bearing inputs refuse salting; 'count' key column survives") {
    spark.conf.set("spark.graft.shj.maxBuildPartitionBytes", "8192")
    try {
      // an input already carrying __salt must NOT be silently overwritten
      // and dropped — the tier surrenders to the spill-capable join and
      // the user's column survives with its values intact
      val hotDim = (Seq.tabulate(2000)(i => (0, i * 0.01, i)) ++
        Seq.tabulate(500)(i => (i + 1, i * 0.1, -i))).toDF("k", "dprice", "__salt")
      val fact = Seq.tabulate(3000)(i => (i % 501, i * 1.0)).toDF("k", "y")
      val joined = graft.ml.Factorized.hashJoinIfSafe(fact, hotDim, Seq("k"))
      assert(joined.columns.contains("__salt"), "user __salt column must survive")
      val got = joined.agg(sum(col("__salt"))).head.getLong(0)
      val want = fact.join(hotDim, "k").agg(sum(col("__salt"))).head.getLong(0)
      assert(got == want, s"__salt values corrupted: $got vs $want")
      // a join-key column literally named "count" must not break the
      // hot-key probe's grouped count
      val cDim = (Seq.tabulate(2000)(i => (0, i * 0.01)) ++
        Seq.tabulate(500)(i => (i + 1, i * 0.1))).toDF("count", "dprice")
      val cFact = Seq.tabulate(3000)(i => (i % 501, i * 1.0)).toDF("count", "y")
      val cJoined = graft.ml.Factorized.hashJoinIfSafe(cFact, cDim, Seq("count"))
      val t = Graft.cofactor(cJoined, Seq("y", "dprice"), Nil)
      val ref = Graft.cofactor(cFact.join(cDim, "count"), Seq("y", "dprice"), Nil)
      assert(t.approxEquals(ref, 1e-9))
    } finally spark.conf.unset("spark.graft.shj.maxBuildPartitionBytes")
  }

  test("adaptive pins: Double.MaxValue routes fallback with zero probe scans") {
    graft.ml.Factorized.clearProbeCache()
    val dim = Seq.tabulate(200)(i => (i, i * 0.1)).toDF("k", "d")
    val fact = Seq.tabulate(1000)(i => (i % 200, i * 1.0)).toDF("k", "y")
    val t = graft.ml.Factorized.cofactorOverJoinAdaptive(
      fact, dim, "k", Seq("y"), Seq(), Seq("d"), Seq(), minRowsPerKey = Double.MaxValue)
    val ref = Graft.cofactor(fact.join(dim, "k"), Seq("y", "d"), Nil)
    assert(t.approxEquals(ref, 1e-9))
    assert(graft.ml.Factorized.probeCacheSize == 0,
      "the MaxValue pin must not run probe scans")
  }

  test("star: duplicate feature names rejected even on the 1-dim delegation") {
    val dim = Seq.tabulate(50)(i => (i, i * 0.1)).toDF("k", "price")
    val fact = Seq.tabulate(500)(i => (i % 50, i * 1.0)).toDF("k", "price")
    val ex = intercept[IllegalArgumentException] {
      graft.ml.Factorized.cofactorOverStar(fact, Seq("price"), Seq(),
        Seq(graft.ml.Factorized.StarDim(dim, "k", Seq("price"), Seq())))
    }
    assert(ex.getMessage.contains("distinct"))
  }

  test("bucketed co-located tier: no exchange, exact parity, hot-key veto intact") {
    // cap tiny so tier 1 (build fits at the session's partition count)
    // fails and the UN-bucketed join would take the partition-to-fit
    // REPARTITION tier; bucketed inputs must instead keep the scan's own
    // hash partitioning — zero exchanges in the executed plan
    val dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.graft.shj.maxBuildPartitionBytes", "4096")
    try {
      val liRaw = spark.read.parquet(s"$dir/lineitem.parquet")
        .select($"l_orderkey", $"l_quantity")
      val ordRaw = spark.read.parquet(s"$dir/orders.parquet")
        .select($"o_orderkey", $"o_totalprice")
      graft.sources.Tables.writeBucketed(liRaw, "mls_li_bkt", "l_orderkey", 64)
      graft.sources.Tables.writeBucketed(ordRaw, "mls_ord_bkt", "o_orderkey", 64)
      val liB = spark.table("mls_li_bkt").select($"l_orderkey".as("k"), $"l_quantity")
      val ordB = spark.table("mls_ord_bkt").select($"o_orderkey".as("k"), $"o_totalprice")
      val j = graft.ml.Factorized.hashJoinIfSafe(liB, ordB, Seq("k"),
        leftRows = Some(liRaw.count()), rightRows = Some(ordRaw.count()))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin"), s"expected SHJ:\n$plan")
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      val viaBucketed = Graft.cofactor(j, Seq("l_quantity", "o_totalprice"), Nil)
      val plain = Graft.cofactor(
        liRaw.join(ordRaw, $"l_orderkey" === $"o_orderkey"),
        Seq("l_quantity", "o_totalprice"), Nil)
      assert(viaBucketed.approxEquals(plain, 1e-9) && viaBucketed.n > 1000,
        s"bucketed tier changed the cofactor: $viaBucketed vs $plain")

      // one side UN-bucketed: the tier must refuse (the planner would
      // insert an exchange) and fall through to partition-to-fit — the
      // plan shuffles, the numbers still agree
      val jHalf = graft.ml.Factorized.hashJoinIfSafe(
        liRaw.select($"l_orderkey".as("k"), $"l_quantity"), ordB, Seq("k"),
        leftRows = Some(liRaw.count()), rightRows = Some(ordRaw.count()))
      val planHalf = jHalf.queryExecution.executedPlan.toString
      assert(planHalf.contains("Exchange"),
        s"half-bucketed join cannot be co-located:\n$planHalf")
      assert(Graft.cofactor(jHalf, Seq("l_quantity", "o_totalprice"), Nil)
        .approxEquals(plain, 1e-9))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
      spark.conf.unset("spark.graft.shj.maxBuildPartitionBytes")
      spark.sql("DROP TABLE IF EXISTS mls_li_bkt")
      spark.sql("DROP TABLE IF EXISTS mls_ord_bkt")
    }
  }

  test("mismatched bucket counts: co-located iff the engine's coalescing is enabled") {
    // build side (orders) bucketed 8, probe side (lineitem) 16: with
    // coalesceBucketsInJoin the planner coalesces the probe 16 → 8
    // (stream-side coalesce, ratio 2 ≤ maxBucketRatio) and the tier
    // keeps the exchange-free plan; with it off the same join must
    // fall through to partition-to-fit (exchanges present), parity both
    val dir = "/root/testdata/sf0.001"
    val coalesceKey = "spark.sql.bucketing.coalesceBucketsInJoin.enabled"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.graft.shj.maxBuildPartitionBytes", "32768")
    try {
      val liRaw = spark.read.parquet(s"$dir/lineitem.parquet")
        .select($"l_orderkey", $"l_quantity")
      val ordRaw = spark.read.parquet(s"$dir/orders.parquet")
        .select($"o_orderkey", $"o_totalprice")
      graft.sources.Tables.writeBucketed(liRaw, "mm_li_bkt", "l_orderkey", 16)
      graft.sources.Tables.writeBucketed(ordRaw, "mm_ord_bkt", "o_orderkey", 8)
      def join() = graft.ml.Factorized.hashJoinIfSafe(
        spark.table("mm_li_bkt").select($"l_orderkey".as("k"), $"l_quantity"),
        spark.table("mm_ord_bkt").select($"o_orderkey".as("k"), $"o_totalprice"),
        Seq("k"), leftRows = Some(liRaw.count()), rightRows = Some(ordRaw.count()))
      val plain = Graft.cofactor(
        liRaw.join(ordRaw, $"l_orderkey" === $"o_orderkey"),
        Seq("l_quantity", "o_totalprice"), Nil)

      spark.conf.set(coalesceKey, "true")
      val jOn = join()
      val planOn = jOn.queryExecution.executedPlan.toString
      assert(!planOn.contains("Exchange"),
        s"coalesced mismatched buckets must not shuffle:\n$planOn")
      assert(Graft.cofactor(jOn, Seq("l_quantity", "o_totalprice"), Nil)
        .approxEquals(plain, 1e-9))

      spark.conf.set(coalesceKey, "false")
      val jOff = join()
      val planOff = jOff.queryExecution.executedPlan.toString
      assert(planOff.contains("Exchange"),
        s"without coalescing, mismatched buckets cannot co-locate:\n$planOff")
      assert(Graft.cofactor(jOff, Seq("l_quantity", "o_totalprice"), Nil)
        .approxEquals(plain, 1e-9))
    } finally {
      spark.conf.unset(coalesceKey)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
      spark.conf.unset("spark.graft.shj.maxBuildPartitionBytes")
      spark.sql("DROP TABLE IF EXISTS mm_li_bkt")
      spark.sql("DROP TABLE IF EXISTS mm_ord_bkt")
    }
  }

  test("hot-key detector: exact counts for planted hot keys, empty on near-unique, refusals") {
    // planted hot key (3000 rows of k=7) among 2000 unique keys, spread
    // over 8 partitions so the local threshold (capRows/P = 125) bites
    val hotDf = (Seq.tabulate(3000)(i => (7L, i * 1.0)) ++
      Seq.tabulate(2000)(i => (i + 100L, i * 1.0))).toDF("k", "v").repartition(8)
    val h = graft.ml.Factorized.hotKeyCounts(hotDf, Seq("k"), 1000L)
    assert(h.isDefined)
    assert(h.get.length == 1 && h.get.head.getLong(0) == 7L && h.get.head.getLong(1) == 3000L,
      s"expected exactly (7, 3000), got ${h.get.toSeq}")
    // near-unique side: pass 1 finds no candidates, pass 2 never runs
    val uniq = Seq.tabulate(5000)(i => (i.toLong, i * 1.0)).toDF("k", "v").repartition(8)
    val h2 = graft.ml.Factorized.hotKeyCounts(uniq, Seq("k"), 1000L)
    assert(h2.isDefined && h2.get.isEmpty)
    // refusal shapes route the caller to the grouped top-65 scan
    assert(graft.ml.Factorized.hotKeyCounts(hotDf, Seq("k", "v"), 1000L).isEmpty)
    assert(graft.ml.Factorized.hotKeyCounts(
      hotDf.withColumn("s", col("k").cast("string")), Seq("s"), 1000L).isEmpty)
    // post-scan refusal (5000 uniques all pass thrLocal=1 → candidate
    // flood): None, and STABLY None on the memoized re-ask — the salted
    // tier re-asks right after the cap veto
    assert(graft.ml.Factorized.hotKeyCounts(uniq, Seq("k"), 1L).isEmpty)
    assert(graft.ml.Factorized.hotKeyCounts(uniq, Seq("k"), 1L).isEmpty)
  }

  test("MgSummary: heavy keys survive decrement sweeps with sound counters") {
    // 20k unique keys force ~hundreds of decrement sweeps at cap 64; the
    // planted heavy key (2000 adds) must still qualify at its true
    // count, and the unique sea must NOT (counter + sweeps ≪ 2000)
    val m = new graft.ml.Factorized.MgSummary(64)
    var i = 0
    while (i < 20000) {
      m.add(1000000L + i)
      if (i % 10 == 0) m.add(7L)
      i += 1
    }
    val cand = m.candidateArray(2000L, maxOut = 1024)
    assert(cand != null && cand.contains(7L),
      s"heavy key must survive: ${if (cand == null) "null" else cand.toSeq}")
    assert(cand.length <= 8, s"unique sea must not qualify: ${cand.toSeq}")
  }

  test("bucketed on a non-join column: the gate sees the shuffle through AQE and refuses") {
    // both sides ARE bucketed (the tier's pre-qualifier passes) but on a
    // column other than the join key, so EnsureRequirements inserts
    // exchanges. Under AQE the executed plan is an AdaptiveSparkPlanExec
    // LEAF — a plain plan.exists{case _: ShuffleExchangeLike => true}
    // returns false (the trap, pinned below), while the tier's stripped
    // gate must see the exchange and fall through to partition-to-fit.
    val dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.graft.shj.maxBuildPartitionBytes", "4096")
    try {
      val liRaw = spark.read.parquet(s"$dir/lineitem.parquet")
        .select($"l_orderkey", $"l_quantity", $"l_partkey")
      val ordRaw = spark.read.parquet(s"$dir/orders.parquet")
        .select($"o_orderkey", $"o_totalprice", $"o_custkey")
      graft.sources.Tables.writeBucketed(liRaw, "mis_li_bkt", "l_partkey", 16)
      graft.sources.Tables.writeBucketed(ordRaw, "mis_ord_bkt", "o_custkey", 16)
      val liB = spark.table("mis_li_bkt").select($"l_orderkey".as("k"), $"l_quantity")
      val ordB = spark.table("mis_ord_bkt").select($"o_orderkey".as("k"), $"o_totalprice")

      // the trap, pinned: the hinted join planned without repartition
      // DOES shuffle, but an un-stripped exists() cannot see it
      val probe = liB.hint("shuffle_hash").join(ordB, Seq("k"))
      val ep = probe.queryExecution.executedPlan
      assert(ep.isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec],
        "AQE wrapper expected — if AQE is off this pin is vacuous")
      val naive = ep.exists {
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => true
        case _ => false
      }
      assert(!naive, "exists() now sees through AQE — the stripped gate may be redundant")
      assert(graft.ml.Factorized.hasShuffleExchange(ep),
        "the stripped gate must see the exchange behind the AQE wrapper")

      // end to end: the tier refuses, the join still runs (repartition
      // tier, exchanges present) and the numbers agree with a plain join
      val j = graft.ml.Factorized.hashJoinIfSafe(liB, ordB, Seq("k"),
        leftRows = Some(liRaw.count()), rightRows = Some(ordRaw.count()))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("Exchange"), s"mis-bucketed join cannot be co-located:\n$plan")
      val viaTier = Graft.cofactor(j, Seq("l_quantity", "o_totalprice"), Nil)
      val plain = Graft.cofactor(
        liRaw.join(ordRaw, $"l_orderkey" === $"o_orderkey"),
        Seq("l_quantity", "o_totalprice"), Nil)
      assert(viaTier.approxEquals(plain, 1e-9),
        s"mis-bucketed fall-through changed the cofactor: $viaTier vs $plain")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
      spark.conf.unset("spark.graft.shj.maxBuildPartitionBytes")
      spark.sql("DROP TABLE IF EXISTS mis_li_bkt")
      spark.sql("DROP TABLE IF EXISTS mis_ord_bkt")
    }
  }

  test("bucketed tier yields to the salted route when a bucket's hot key exceeds the cap") {
    // both sides bucketed, but one build key holds 2000 rows — its
    // bucket alone blows the cap no matter the bucket count, so the
    // bucketed shortcut must NOT engage; the salted tier takes over
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.graft.shj.maxBuildPartitionBytes", "8192")
    try {
      val hotDim = (Seq.tabulate(2000)(i => (0, i * 0.01)) ++
        Seq.tabulate(500)(i => (i + 1, i * 0.1))).toDF("k", "dprice")
      val fact = Seq.tabulate(3000)(i => (i % 501, i * 1.0, (i % 7).toDouble))
        .toDF("k", "y", "a")
      graft.sources.Tables.writeBucketed(hotDim, "mls_hot_bkt", "k", 16)
      graft.sources.Tables.writeBucketed(fact, "mls_fact_bkt", "k", 16)
      val j = graft.ml.Factorized.hashJoinIfSafe(
        spark.table("mls_fact_bkt"), spark.table("mls_hot_bkt"), Seq("k"))
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("__salt"), s"hot bucketed key must still salt:\n$plan")
      val viaSalted = Graft.cofactor(j, Seq("y", "a", "dprice"), Nil)
      val plain = Graft.cofactor(fact.join(hotDim, "k"), Seq("y", "a", "dprice"), Nil)
      assert(viaSalted.approxEquals(plain, 1e-9),
        s"salted-over-bucketed changed the cofactor: $viaSalted vs $plain")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
      spark.conf.unset("spark.graft.shj.maxBuildPartitionBytes")
      spark.sql("DROP TABLE IF EXISTS mls_hot_bkt")
      spark.sql("DROP TABLE IF EXISTS mls_fact_bkt")
    }
  }

  test("adaptive probe decision is memoized per (canonicalized plan, key)") {
    // freshly-built but logically identical inputs must HIT the memo
    // (canonicalized plans normalize expression ids), so a repeat call
    // pays zero probe scans; a logically different input must MISS it
    def dim = Seq.tabulate(50)(k => (k, k * 0.5 + 1.0, k % 4)).toDF("k", "dprice", "dcat")
    def fact = rows.zipWithIndex.map { case ((y, a, b, c), i) => (i % 50, y, a) }
      .toDF("k", "y", "a")
    graft.ml.Factorized.clearProbeCache()
    val t1 = graft.ml.Factorized.cofactorOverJoinAdaptive(
      fact, dim, "k", Seq("y", "a"), Seq(), Seq("dprice"), Seq("dcat"), minRowsPerKey = 2.0)
    val n1 = graft.ml.Factorized.probeCacheSize
    assert(n1 >= 1, "first call must populate the probe memo")
    val t2 = graft.ml.Factorized.cofactorOverJoinAdaptive(
      fact, dim, "k", Seq("y", "a"), Seq(), Seq("dprice"), Seq("dcat"), minRowsPerKey = 2.0)
    assert(graft.ml.Factorized.probeCacheSize == n1,
      "rebuilt-but-identical inputs must hit the memo, not re-probe")
    assert(t1.approxEquals(t2, 1e-12))
    // vary the RIGHT side — it is always probed first (the left probe
    // short-circuits away when the right side is near-unique, as here)
    val t3 = graft.ml.Factorized.cofactorOverJoinAdaptive(
      fact, dim.filter($"k" =!= 7), "k", Seq("y", "a"), Seq(), Seq("dprice"), Seq("dcat"),
      minRowsPerKey = 2.0)
    assert(graft.ml.Factorized.probeCacheSize > n1,
      "a logically different input must take its own probe")
    assert(!t3.approxEquals(t1, 1e-12))
  }

  test("numeric-only factorized join == cofactor over materialized join") {
    val dim = Seq.tabulate(20)(k => (k, k * 0.5 + 1.0)).toDF("k", "dprice")
    val fact = rows.zipWithIndex.map { case ((y, a, _, _), i) => (i % 20, y, a) }
      .toDF("k", "y", "a")
    def chain(f: org.apache.spark.sql.DataFrame, d: org.apache.spark.sql.DataFrame) =
      graft.ml.Factorized.cofactorOverJoin(f, d, "k", Seq("y", "a"), Seq(), Seq("dprice"), Seq())
    val viaChain = chain(fact, dim)
    val plain = Graft.cofactor(fact.join(dim, "k"), Seq("y", "a", "dprice"), Nil)
    assert(viaChain.approxEquals(plain, 1e-9), s"chain $viaChain != materialized $plain")
    // null semantics: a joined row drops iff any numeric column on either
    // side is null — per-side nulls must match the materialized filter
    val factN = fact.withColumn("y", when($"k" === 3, lit(null)).otherwise($"y"))
    val dimN = dim.withColumn("dprice", when($"k" === 7, lit(null)).otherwise($"dprice"))
    val nChain = chain(factN, dimN)
    val nPlain = Graft.cofactor(factN.join(dimN, "k"), Seq("y", "a", "dprice"), Nil)
    assert(nChain.approxEquals(nPlain, 1e-9))
    assert(nChain.n < viaChain.n, "null injection must have dropped rows")
    // empty join → zero triple of the combined arity
    assert(chain(fact.filter($"k" > 100), dim) == graft.ring.Triple.zero(3, 0))
  }

  test("bare session: the chain's numeric-only sides plan no ObjectHashAggregate") {
    // the chain applies the declarative rewrite itself, so a session
    // with no graft optimizer rule or strategy installed still plans
    // numeric-only side aggregates as codegen'd SUMs; a categorical
    // column keeps its side on the ring-object aggregate
    import graft.ml.Factorized.{chainFrame, StarDim}
    val (savedO, savedS) = (spark.experimental.extraOptimizations, spark.experimental.extraStrategies)
    spark.experimental.extraOptimizations = Nil
    spark.experimental.extraStrategies = Nil
    try {
      val dim = Seq.tabulate(20)(k => (k, k * 0.5 + 1.0, k % 3)).toDF("k", "dprice", "dcat")
      val fact = rows.zipWithIndex.map { case ((y, a, _, _), i) => (i % 20, y, a) }
        .toDF("k", "y", "a")
      def plan(dimCat: Seq[String]) = chainFrame(fact, Seq("y", "a"), Seq(),
        Seq(StarDim(dim, "k", Seq("dprice"), dimCat))).queryExecution.executedPlan.toString
      val numeric = plan(Seq())
      assert(!numeric.contains("ObjectHashAggregate"), s"numeric-only chain:\n$numeric")
      val mixed = plan(Seq("dcat"))
      assert(mixed.contains("ObjectHashAggregate"), s"chain with a categorical side:\n$mixed")
    } finally {
      spark.experimental.extraOptimizations = savedO
      spark.experimental.extraStrategies = savedS
    }
  }

  test("shuffle-hash hint is size-guarded: SHJ under the cap, spillable SMJ over it") {
    def dim = Seq.tabulate(50)(k => (k, k * 0.5)).toDF("k", "dprice")
    def fact = rows.zipWithIndex.map { case ((y, a, _, _), i) => (i % 50, y, a) }
      .toDF("k", "y", "a")
    // disable broadcast so the choice under test is SHJ vs SMJ
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val under = graft.ml.Factorized.hashJoinIfSafe(fact, dim, Seq("k"))
      assert(under.queryExecution.executedPlan.toString.contains("ShuffledHashJoin"),
        "tiny build side under the cap must take the hinted shuffled hash join")
      // a zero cap models a build partition that cannot fit task memory:
      // the hint must vanish (SHJ cannot spill its build) leaving SMJ
      spark.conf.set("spark.graft.shj.maxBuildPartitionBytes", "0")
      val over = graft.ml.Factorized.hashJoinIfSafe(fact, dim, Seq("k"))
      val plan = over.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
        s"over-cap build must fall back to sort-merge join, got:\n$plan")
      // results identical either way
      assert(under.count() == over.count())
      spark.conf.unset("spark.graft.shj.maxBuildPartitionBytes")
      // exact-rows evidence outranks the optimizer's estimate: a probed
      // row count implying a build past the cap at the session partition
      // count must NOT hint at that count (the sf100 OOM shape: ~3 B/row
      // compressed estimate vs ~45 B/row in-memory hash build). Instead
      // the join partitions-to-fit: both sides repartitioned by key so
      // every hash build stays cap-bounded, hint intact
      val refit = graft.ml.Factorized.hashJoinIfSafe(
        fact, dim, Seq("k"),
        leftRows = Some(2_000_000_000L), rightRows = Some(2_000_000_000L))
      val rplan = refit.queryExecution.executedPlan.toString
      assert(rplan.contains("ShuffledHashJoin") && rplan.contains("REPARTITION_BY_NUM"),
        s"over-cap build must partition-to-fit, keeping the hash join:\n$rplan")
      // past the 4096-partition guardrail the spill-capable SMJ remains
      val vetoed = graft.ml.Factorized.hashJoinIfSafe(
        fact, dim, Seq("k"),
        leftRows = Some(40_000_000_000L), rightRows = Some(40_000_000_000L))
      val vplan = vetoed.queryExecution.executedPlan.toString
      assert(vplan.contains("SortMergeJoin") && !vplan.contains("ShuffledHashJoin"),
        s"past the partition guardrail the join must stay sort-merge, got:\n$vplan")
    } finally {
      spark.conf.unset("spark.graft.shj.maxBuildPartitionBytes")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("LDA on triple == LDA trained from raw scatter matrices (parity)") {
    val t = Graft.cofactor(clsDf, Seq("f1", "f2"), Seq("cls"))
    val m = Lda.train(t, label = 0, shrinkage = 0.0)
    // oracle: features are just (f1, f2); compute pooled covariance directly
    val byClass = clsRows.groupBy(_._4)
    val n = clsRows.size.toDouble
    val mus = byClass.map { case (c, rs) =>
      c -> DenseVector(rs.map(_._1).sum / rs.size, rs.map(_._2).sum / rs.size)
    }
    val s = DenseMatrix.zeros[Double](2, 2)
    clsRows.foreach { case (f1, f2, _, c) =>
      val d = DenseVector(f1, f2) - mus(c)
      s += d * d.t
    }
    val cov = s / n
    val sInv = pinv(cov)
    for (c <- 0 to 2) {
      val expected = sInv * mus(c)
      val got = m.coef(m.classes.indexOf(c))
      assert(math.abs(expected(0) - got(0)) < 1e-6 && math.abs(expected(1) - got(1)) < 1e-6,
        s"class $c coef ${got.toSeq} vs ${expected}")
    }
  }
}
