package graft

import graft.mice.Mice
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

case class MiceR(id: Int, a: Double, b: Double, c: Int, bTrue: Double, cTrue: Int,
                 bMiss: Boolean, cMiss: Boolean)

/** End-to-end MICE on synthetic data with seeded MCAR nulls (fixture F5
  * semantics: 20% missing, 5 iterations, main.cpp:52-75): output must be
  * complete and beat mean/mode imputation; both variants must agree. */
class MiceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // correlated data so regression-based imputation can beat the mean
  val rng = new scala.util.Random(31)
  val rows: Seq[MiceR] = Seq.tabulate(600) { i =>
    val a = rng.nextGaussian() * 2 + 10
    val c = if (a > 10) 1 else 0
    val b = 3.0 * a + (if (c == 1) 4.0 else -4.0) + rng.nextGaussian() * 0.8
    MiceR(i, a, b, c, b, c, rng.nextDouble() < 0.2, rng.nextDouble() < 0.2)
  }

  def withNulls = rows.toDF()
    .withColumn("b", when($"bMiss", lit(null)).otherwise($"b"))
    .withColumn("c", when($"cMiss", lit(null)).otherwise($"c"))
    .repartition(4)

  val cfg = Mice.Config(
    contCols = Seq("a", "b"), catCols = Seq("c"),
    imputeCont = Seq("b"), imputeCat = Seq("c"), iterations = 3)

  def quality(out: org.apache.spark.sql.DataFrame): (Double, Double) = {
    val m = out.filter($"bMiss")
      .select(sqrt(avg(pow($"b" - $"bTrue", 2))).as("rmse")).head.getDouble(0)
    val acc = out.filter($"cMiss")
      .select(avg(when($"c" === $"cTrue", 1.0).otherwise(0.0))).head.getDouble(0)
    (m, acc)
  }

  test("baseline MICE: complete output, beats mean/mode imputation") {
    val out = Mice.baseline(withNulls, cfg).cache()
    assert(out.filter($"b".isNull || $"c".isNull).count() == 0)
    val meanRmse = {
      val mean = withNulls.agg(avg($"b")).head.getDouble(0)
      withNulls.filter($"bMiss")
        .select(sqrt(avg(pow(lit(mean) - $"bTrue", 2)))).head.getDouble(0)
    }
    val modeAcc = {
      val mode0 = withNulls.groupBy($"c").count().orderBy(desc("count")).head.getInt(0)
      withNulls.filter($"cMiss")
        .select(avg(when(lit(mode0) === $"cTrue", 1.0).otherwise(0.0))).head.getDouble(0)
    }
    val (rmse, acc) = quality(out)
    assert(rmse < meanRmse * 0.5, s"rmse $rmse vs mean-imputation $meanRmse")
    assert(acc > modeAcc, s"accuracy $acc vs mode $modeAcc")
    assert(acc > 0.9, s"accuracy $acc")
  }

  test("partitioned (delta-algebra) MICE matches baseline quality") {
    val out = Mice.partitioned(withNulls, cfg).cache()
    assert(out.count() == 600)
    assert(out.filter($"b".isNull || $"c".isNull).count() == 0)
    val (rmse, acc) = quality(out)
    assert(rmse < 2.0, s"rmse $rmse")
    assert(acc > 0.9, s"accuracy $acc")
    // the two variants train on the same observed row sets → near-identical imputations
    val base = Mice.baseline(withNulls, cfg).select($"id", $"b".as("b1"))
    val diff = out.select($"id", $"b".as("b2")).join(base, "id")
      .select(max(abs($"b1" - $"b2"))).head.getDouble(0)
    assert(diff < 1e-6, s"max divergence $diff")
  }

  test("catModel=nb imputes categoricals via per-class NB aggregates") {
    val out = Mice.baseline(withNulls, cfg.copy(catModel = "nb")).cache()
    assert(out.filter($"c".isNull).count() == 0)
    val (_, acc) = quality(out)
    assert(acc > 0.85, s"NB-imputation accuracy $acc")
  }

  test("partitioned catModel=nb trains on ALL observed rows and matches baseline") {
    // regression: partitioned used to feed the NB per-class aggregation only
    // the incomplete stratum, silently excluding the fully-observed rows the
    // reference trains on (imputation_base.cpp:21-34)
    val nbCfg = cfg.copy(catModel = "nb")
    val part = Mice.partitioned(withNulls, nbCfg).cache()
    assert(part.filter($"c".isNull).count() == 0)
    val (_, accP) = quality(part)
    val base = Mice.baseline(withNulls, nbCfg).select($"id", $"c".as("cBase"))
    val agree = part.select($"id", $"c".as("cPart")).join(base, "id")
      .select(avg(when($"cPart" === $"cBase", 1.0).otherwise(0.0))).head.getDouble(0)
    assert(agree > 0.99, s"partitioned-vs-baseline NB agreement $agree")
    assert(accP > 0.85, s"partitioned NB accuracy $accP")
  }

  test("stochastic imputation adds calibrated noise") {
    val out = Mice.baseline(withNulls, cfg.copy(stochastic = true)).cache()
    assert(out.filter($"b".isNull).count() == 0)
    val (rmse, _) = quality(out)
    // noisy but still far better than mean imputation (sd(b) ~ 7)
    assert(rmse < 3.0, s"stochastic rmse $rmse")
  }

  test("cofactorMasked: one fused scan equals the separate filtered scans, exactly") {
    // the MICE delta loops' scan fusion (r20): every masked triple must
    // match its filtered-rescan twin value for value — same rows, same
    // per-partition accumulation order
    val df = withNulls.withColumn("b", coalesce($"b", lit(0.0)))
      .withColumn("c", coalesce($"c", lit(0)))
      .withColumn("f1", $"id" % 3 === 0)
      .withColumn("f2", $"id" % 2 === 0)
      .localCheckpoint()
    val num = Seq("a", "b"); val cat = Seq("c")
    for (nb <- Seq(false, true)) {
      val fused = Graft.cofactorMasked(df, num, cat,
        Seq(None, Some($"f1"), Some($"f2"), Some($"f1" && !$"f2")), nb = nb)
      val sep = Seq(
        Graft.cofactor(df, num, cat, nb = nb),
        Graft.cofactor(df.filter($"f1"), num, cat, nb = nb),
        Graft.cofactor(df.filter($"f2"), num, cat, nb = nb),
        Graft.cofactor(df.filter($"f1" && !$"f2"), num, cat, nb = nb))
      fused.zip(sep).zipWithIndex.foreach { case ((m, s), i) =>
        assert(m.n == s.n, s"[$i nb=$nb] n ${m.n} != ${s.n}")
        assert(m.lin.sameElements(s.lin), s"[$i nb=$nb] lin")
        assert(m.quad.sameElements(s.quad), s"[$i nb=$nb] quad")
        assert(m.linCat.sameElements(s.linCat), s"[$i nb=$nb] linCat")
      }
    }
    // a predicate matching nothing yields the empty (zero) triple
    val none = Graft.cofactorMasked(df, num, cat, Seq(Some(lit(false))))
    assert(none.head.n == 0)
  }

  test("partitioned bounded work: each extra iteration runs one job per column plus its checkpoint") {
    // J(n) = set-up + n·I + (n − 1) + write: every non-final iteration
    // is checkpointed, so J(2)-J(1) and J(3)-J(2) are each one
    // iteration — one masked triple per column and the checkpoint. The
    // setup is one job (static triple, NB per-class statics, init,
    // stored incomplete stratum), with LDA or Naive Bayes for `c`. The
    // caller's write is counted.
    val in = withNulls.localCheckpoint()
    for (model <- Seq("lda", "nb")) {
      def run(iterations: Int): (Long, Long) = org.apache.spark.graft.JobCounter(spark.sparkContext) {
        val out = Mice.partitioned(in, cfg.copy(iterations = iterations, catModel = model))
        out.write.format("noop").mode("overwrite").save()
        Graft.dropCheckpoint(out)
      }
      run(1) // warm up
      val Seq(j1, j2, j3) = (1 to 3).map(run)
      info(s"$model: (jobs, tasks) at 1, 2, 3 iterations: $j1, $j2, $j3")
      val (iter2, iter3) = ((j2._1 - j1._1, j2._2 - j1._2), (j3._1 - j2._1, j3._2 - j2._2))
      assert(iter3 == iter2, s"$model (jobs, tasks): iteration 2 ran $iter2, iteration 3 ran $iter3")
      // measured on local[4]: 4, 7, 10 jobs (20, 32, 44 tasks) — 3 jobs
      // per iteration over the 4-partition incomplete stratum, 4 tasks each
      val columns = cfg.imputeCont.size + cfg.imputeCat.size
      assert(iter2 == (columns + 1, 4L * (columns + 1)),
        s"$model (jobs, tasks) per extra iteration: $iter2")
      assert(j1._1 == 1 + columns + 1 && j2._1 == 1 + 2 * columns + 1 + 1,
        s"$model warm calls ran ${j1._1} and ${j2._1} jobs at 1 and 2 iterations")
    }
  }

  test("the setup job's NB statics == cofactorPerClass over the complete rows") {
    val nbCfg = cfg.copy(catModel = "nb")
    val flagged = withNulls.withColumn("c", $"c".cast("int"))
      .withColumn("b__isnull", $"b".isNull).withColumn("c__isnull", $"c".isNull)
    val complete = !$"b__isnull" && !$"c__isnull"
    val (_, nb, _, _) = graft.mice.MiceJoin.setup(flagged, nbCfg.contCols, nbCfg.catCols,
      complete, nbCfg, keep = Seq())
    val want = Graft.cofactorPerClass(flagged.filter(complete), nbCfg.contCols, Seq(), label = "c", nb = true)
    assert(nb.keySet == Set("c") && nb("c").map(_._1) == want.map(_._1) && want.nonEmpty)
    nb("c").zip(want).foreach { case ((l, got), (_, w)) =>
      assert(got.approxEquals(w, 1e-12), s"class $l: $got vs $w")
    }
    val lda = graft.mice.MiceJoin.setup(flagged, cfg.contCols, cfg.catCols, complete, cfg, keep = Seq())._2
    assert(lda.isEmpty, "an LDA column folds no per-class statics")
  }

  test("dropCheckpoint(result) leaves a checkpoint the caller passed in readable") {
    // a narrow input is read in place, so its checkpoint is one of the
    // result's leaves; only the loop's own generations are released
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.storage.StorageLevel
    val in = withNulls.localCheckpoint()
    val inRdd = in.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }.head
    val out = Mice.partitioned(in, cfg.copy(iterations = 2))
    assert(out.queryExecution.analyzed.exists {
      case l: LogicalRDD => l.rdd.id == inRdd.id
      case _ => false
    }, "the result must read the narrow input in place")
    val own = out.queryExecution.analyzed.collect {
      case l: LogicalRDD if l.rdd.id != inRdd.id => l.rdd
    }
    assert(own.nonEmpty, "two iterations must leave a generation in the result")
    assert(out.count() == rows.size)
    Graft.dropCheckpoint(out)
    own.foreach(r => assert(r.getStorageLevel == StorageLevel.NONE, s"generation ${r.id} not released"))
    assert(inRdd.getStorageLevel != StorageLevel.NONE, "the caller's checkpoint was released")
    assert(in.count() == rows.size && in.filter($"b".isNull).count() == rows.count(_.bMiss))
  }

  test("no imputed column: partitioned returns the cast input, as baseline does") {
    val none = cfg.copy(imputeCont = Seq(), imputeCat = Seq())
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.orderBy($"id").collect().toSeq
    val base = Mice.baseline(withNulls, none)
    val part = Mice.partitioned(withNulls, none)
    assert(part.columns.toSeq == base.columns.toSeq)
    assert(rowsOf(part) == rowsOf(base))
    assert(part.filter($"b".isNull).count() == rows.count(_.bMiss))
    Seq(base, part).foreach(Graft.dropCheckpoint)
  }

  test("a NULL feature's NULL prediction never reaches an imputed cell") {
    // row 0 has `a` NULL and `b` missing: b's regression over `a` predicts
    // NULL there, and the step keeps the mean init instead
    val in = withNulls
      .withColumn("a", when($"id" === 0, lit(null)).otherwise($"a"))
      .withColumn("b", when($"id" === 0, lit(null)).otherwise($"b"))
    for ((name, out) <- Seq("baseline" -> Mice.baseline(in, cfg), "partitioned" -> Mice.partitioned(in, cfg))) {
      val nulls = out.filter($"b".isNull).count()
      assert(nulls == 0, s"$name left $nulls NULL cells in b")
      Graft.dropCheckpoint(out)
    }
  }

  test("mode init: a tied categorical column imputes its lowest tied value at any partition count") {
    // 5 and 2 are each observed 40 times, 9 twenty times; the 5s come
    // first, so "first seen" and "lowest" disagree. Zero iterations
    // return the mean/mode-initialized frame as it is
    val vals = Seq.fill(40)(5) ++ Seq.fill(40)(2) ++ Seq.fill(20)(9)
    val df = (vals.map(Option(_)) ++ Seq.fill(10)(None)).zipWithIndex
      .map { case (c, i) => (i, i * 0.5, c) }.toDF("id", "a", "c")
    for (parts <- Seq(1, 7)) {
      val out = Mice.baseline(df.repartition(parts), Mice.Config(contCols = Seq("a"),
        catCols = Seq("c"), imputeCont = Seq(), imputeCat = Seq("c"), iterations = 0))
      val filled = out.filter($"id" >= 100).select($"c").as[Int].collect().toSet
      assert(filled == Set(2), s"$parts partitions: missing cells got $filled, want the lowest tied mode 2")
      Graft.dropCheckpoint(out)
    }
  }

  test("baseline warm call: one init job, its checkpoint, C·I steps, I − 1 checkpoints, the write") {
    // the mean/mode init is one fold job, not agg(…).head()'s two
    val in = withNulls.localCheckpoint()
    def run(iterations: Int): Long = org.apache.spark.graft.JobCounter(spark.sparkContext) {
      val out = Mice.baseline(in, cfg.copy(iterations = iterations))
      out.write.format("noop").mode("overwrite").save()
      Graft.dropCheckpoint(out)
    }._1
    run(1) // warm up
    val columns = cfg.imputeCont.size + cfg.imputeCat.size
    for (i <- 1 to 2) {
      val jobs = run(i)
      assert(jobs == 2 + columns * i + (i - 1) + 1, s"$i iterations ran $jobs jobs")
    }
  }

  test("dropCheckpoint unpersists exactly the plan's checkpoint RDD") {
    // the MICE loops free each superseded working-set checkpoint
    // deterministically — columns × iterations copies of the fact would
    // otherwise sit in executor storage until the async cleaner runs
    val df = Seq(1, 2, 3).toDF("a").localCheckpoint()
    val id = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.head
    assert(spark.sparkContext.getPersistentRDDs.contains(id),
      "localCheckpoint must register a persistent RDD")
    Graft.dropCheckpoint(df)
    assert(!spark.sparkContext.getPersistentRDDs.contains(id),
      "dropCheckpoint must unregister the checkpoint's RDD")
  }
}
