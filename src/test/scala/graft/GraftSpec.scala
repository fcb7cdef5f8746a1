package graft

import graft.ml.Factorized
import graft.ring.Triple
import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The eager contract of the triple API: `Graft.cofactor`,
  * `cofactorMasked` and `cofactorPerClass` each run ONE Spark job and
  * match the `sum_to_triple` aggregate, on the row route (a
  * checkpointed frame the columnar kernel cannot harvest) and on the
  * kernel route (a multi-file parquet scan) alike: one job under a SQL
  * execution id, one task per scan partition, bit-identical repeats and
  * the `maxCategories` guard over the merged result. Plus
  * `hashJoinIfSafe`'s broadcast rule and the factorized join and star
  * routes that end in one of these calls. */
class GraftSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val num = Seq("a", "b")
  private val cat = Seq("c")
  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("a", DoubleType), StructField("b", DoubleType),
    StructField("c", IntegerType), StructField("lbl", IntegerType)))

  private def frame(rows: Seq[Row], partitions: Int): DataFrame = {
    val rdd = if (partitions == 0) spark.sparkContext.emptyRDD[Row]
              else spark.sparkContext.parallelize(rows, partitions)
    spark.createDataFrame(rdd, schema).localCheckpoint()
  }

  private val rng = new scala.util.Random(7)
  private def row(i: Int): Row = Row(i, rng.nextGaussian() * 3, rng.nextGaussian() + i % 5,
    i % 4, i % 3)

  /** Named inputs: zero partitions, one-row partitions, NaN/±Inf values
    * with NULL inputs and NULL labels, and rows that all carry a NULL. */
  private lazy val inputs: Seq[(String, DataFrame)] = Seq(
    "zero partitions" -> frame(Seq(), 0),
    "one-row partitions" -> frame(Seq.tabulate(6)(row), 6),
    "NaN/±Inf and NULLs" -> frame(Seq.tabulate(40)(row) ++ Seq(
      Row(40, Double.NaN, 1.0, 1, 0), Row(41, Double.PositiveInfinity, 2.0, 2, 1),
      Row(42, 1.0, Double.NegativeInfinity, 0, null), Row(43, null, 1.0, 1, 2),
      Row(44, 2.0, 3.0, null, 1), Row(45, 0.5, 0.25, 3, null)), 3),
    "every row has a NULL input" -> frame(Seq.tabulate(12)(i => Row(i, null, 1.0 * i, i % 2, i % 2)), 2))

  private def casts(nb: Boolean, mask: Option[Column]): Column = {
    val cs = num.map(c => col(c).cast("double")) ++ cat.map(c => col(c).cast("int"))
    val in = mask.fold(cs)(p => cs.map(c => when(p, c)))
    if (nb) Graft.sumNbAgg(in: _*) else Graft.sumTriple(in: _*)
  }

  private def same(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || a == b || math.abs(a - b) <= 1e-9 * (1.0 + math.abs(b))

  private def assertClose(got: Triple, want: Triple, what: String): Unit = {
    assert(got.n == want.n, s"$what: n ${got.n} != ${want.n}")
    def arr(name: String, g: Array[Double], w: Array[Double]): Unit =
      assert(g.length == w.length && g.indices.forall(i => same(g(i), w(i))),
        s"$what: $name ${g.toSeq} != ${w.toSeq}")
    def maps[K](name: String, g: Array[Map[K, Double]], w: Array[Map[K, Double]]): Unit =
      assert(g.length == w.length && g.indices.forall { i =>
        g(i).keySet == w(i).keySet && g(i).forall { case (k, v) => same(v, w(i)(k)) }
      }, s"$what: $name ${g.toSeq} != ${w.toSeq}")
    arr("lin", got.lin, want.lin)
    arr("quad", got.quad, want.quad)
    maps("linCat", got.linCat, want.linCat)
    maps("quadNumCat", got.quadNumCat, want.quadNumCat)
    maps("quadCat", got.quadCat, want.quadCat)
  }

  /** `rows` written as one parquet file per `part` value, read back as
    * a harvestable scan. Under [[oneSplitPerFile]] each file is one
    * scan partition. */
  private def parquetScan(rows: Seq[Row], parts: Int): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graftspec").toFile.getAbsolutePath + "/t"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .withColumn("part", $"id" % parts)
      .repartition(parts, $"part").write.partitionBy("part").parquet(dir)
    harvested(spark.read.parquet(dir))
  }

  private def harvested(df: DataFrame): DataFrame = {
    assert(graft.agg.ColumnarCofactor.canHarvest(df,
      num.map(graft.agg.ColumnarCofactor.NumCol), cat.map(graft.agg.ColumnarCofactor.CatCol)),
      s"the kernel must harvest the scan:\n${df.queryExecution.executedPlan}")
    df
  }

  /** `body` with scan splits too small to pack two files together. */
  private def oneSplitPerFile[T](body: => T): T = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", "64k")
    try body finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  private def oneJob[T](what: String)(body: => T): T = {
    var out: Option[T] = None
    val (jobs, _) = JobCounter(spark.sparkContext) { out = Some(body) }
    assert(jobs == 1, s"$what ran $jobs Spark jobs, expected 1")
    out.get
  }

  test("cofactor, cofactorMasked and cofactorPerClass: one job each, equal to the aggregate") {
    val slots = Seq(None, Some($"id" % 3 === 0), Some($"lbl".isNull || $"id" > 2), Some(lit(false)))
    for ((name, df) <- inputs; nb <- Seq(false, true)) {
      val what = s"[$name nb=$nb]"
      val flat = oneJob(s"$what cofactor")(Graft.cofactor(df, num, cat, nb))
      assertClose(flat, Graft.tripleFromRow(df.agg(casts(nb, None)).head().getStruct(0)),
        s"$what cofactor")

      val masked = oneJob(s"$what cofactorMasked")(Graft.cofactorMasked(df, num, cat, slots, nb))
      val maskedRef = df.agg(casts(nb, slots.head), slots.tail.map(casts(nb, _)): _*).head()
      assert(masked.length == slots.length)
      masked.zipWithIndex.foreach { case (t, i) =>
        assertClose(t, Graft.tripleFromRow(maskedRef.getStruct(i)), s"$what slot $i")
      }
      assert(masked.last.n == 0, s"$what: the all-false slot folded rows")

      val perClass = oneJob(s"$what cofactorPerClass")(
        Graft.cofactorPerClass(df, num, cat, label = "lbl", nb = nb))
      val perClassRef = df.filter($"lbl".isNotNull)
        .groupBy($"lbl".cast("int")).agg(casts(nb, None))
        .collect().map(r => r.getInt(0) -> Graft.tripleFromRow(r.getStruct(1))).sortBy(_._1).toSeq
      assert(perClass.map(_._1) == perClassRef.map(_._1), s"$what labels")
      perClass.zip(perClassRef).foreach { case ((l, t), (_, w)) => assertClose(t, w, s"$what label $l") }
    }
  }

  test("repeated calls return bit-identical triples") {
    val df = frame(Seq.tabulate(2000)(row), 4)
    def bits(t: Triple): Seq[Any] = Seq(t.n,
      t.lin.toSeq.map(java.lang.Double.doubleToRawLongBits),
      t.quad.toSeq.map(java.lang.Double.doubleToRawLongBits),
      t.linCat.toSeq.map(_.view.mapValues(java.lang.Double.doubleToRawLongBits).toMap),
      t.quadNumCat.toSeq.map(_.view.mapValues(java.lang.Double.doubleToRawLongBits).toMap),
      t.quadCat.toSeq.map(_.view.mapValues(java.lang.Double.doubleToRawLongBits).toMap))
    for (nb <- Seq(false, true)) {
      assert(bits(Graft.cofactor(df, num, cat, nb)) == bits(Graft.cofactor(df, num, cat, nb)))
      val slots = Seq(None, Some($"id" % 2 === 0))
      assert(Graft.cofactorMasked(df, num, cat, slots, nb).map(bits) ==
        Graft.cofactorMasked(df, num, cat, slots, nb).map(bits))
      assert(Graft.cofactorPerClass(df, num, cat, "lbl", nb).map { case (l, t) => l -> bits(t) } ==
        Graft.cofactorPerClass(df, num, cat, "lbl", nb).map { case (l, t) => l -> bits(t) })
    }
  }

  test("the categorical-cardinality guard still throws IllegalStateException") {
    val rowRoute = frame(Seq.tabulate(1000)(i => Row(i, i * 0.5, 1.0, i, i % 3)), 2)
    // kernel route: two files of 10 disjoint categories each — every
    // partition (and every class in it) stays under the cap of 16, the
    // merged result holds 20
    val kernelRoute = parquetScan(Seq.tabulate(300)(i =>
      Row(i, i * 0.5, 1.0, (i / 2) % 10 + 10 * (i % 2), (i / 20) % 3)), 2)
    assert(oneSplitPerFile(kernelRoute.rdd.getNumPartitions) == 2)
    spark.conf.set("spark.graft.cofactor.maxCategories", "16")
    try oneSplitPerFile {
      def causes(t: Throwable): Seq[Throwable] = Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
      def rejects(what: String)(body: => Any): Unit = {
        val e = intercept[Exception](body)
        assert(causes(e).exists(_.isInstanceOf[IllegalStateException]), s"$what: unexpected error $e")
      }
      for ((route, df) <- Seq("row" -> rowRoute, "kernel" -> kernelRoute)) {
        rejects(s"$route cofactor")(Graft.cofactor(df, num, cat))
        rejects(s"$route cofactorMasked")(Graft.cofactorMasked(df, num, cat, Seq(None, Some($"id" > 5))))
        rejects(s"$route cofactorPerClass")(Graft.cofactorPerClass(df, num, cat, "lbl"))
      }
    } finally spark.conf.unset("spark.graft.cofactor.maxCategories")
  }

  test("the per-class label cap holds over the merged classes on both routes") {
    // row route: 20 labels in ONE partition; kernel route: two files of
    // 10 disjoint labels each — each partition stays under the cap of
    // 16, the merged result holds 20
    val rowRoute = frame(Seq.tabulate(400)(i => Row(i, i * 0.5, 1.0, i % 4, i % 20)), 1)
    val kernelRoute = parquetScan(Seq.tabulate(400)(i =>
      Row(i, i * 0.5, 1.0, i % 4, (i / 2) % 10 + 10 * (i % 2))), 2)
    assert(oneSplitPerFile(kernelRoute.rdd.getNumPartitions) == 2)
    assert(graft.agg.ColumnarCofactor.canHarvest(kernelRoute,
      num.map(graft.agg.ColumnarCofactor.NumCol), (cat :+ "lbl").map(graft.agg.ColumnarCofactor.CatCol)),
      "the kernel must harvest the labelled scan")
    spark.conf.set("spark.graft.cofactor.maxCategories", "16")
    try oneSplitPerFile {
      for ((route, df) <- Seq("row" -> rowRoute, "kernel" -> kernelRoute)) {
        val e = intercept[IllegalStateException](Graft.cofactorPerClass(df, num, cat, "lbl"))
        assert(e.getMessage.contains("label exceeded 16"), s"$route: ${e.getMessage}")
      }
    } finally spark.conf.unset("spark.graft.cofactor.maxCategories")
  }

  test("the kernel route keeps the eager contract") { oneSplitPerFile {
    val parts = 8
    val df = parquetScan(Seq.tabulate(4000)(row) ++ Seq(
      Row(4000, null, 1.0, 1, 2), Row(4001, 2.0, 3.0, null, 1), Row(4002, 0.5, 0.25, 3, null)), parts)
    assert(df.rdd.getNumPartitions == parts)
    def bits(t: Triple): Seq[Any] = Seq(t.n,
      t.lin.toSeq.map(java.lang.Double.doubleToRawLongBits),
      t.quad.toSeq.map(java.lang.Double.doubleToRawLongBits),
      t.linCat.toSeq.map(_.view.mapValues(java.lang.Double.doubleToRawLongBits).toMap),
      t.quadNumCat.toSeq.map(_.view.mapValues(java.lang.Double.doubleToRawLongBits).toMap),
      t.quadCat.toSeq.map(_.view.mapValues(java.lang.Double.doubleToRawLongBits).toMap))
    /** One job, one task per scan partition, under a SQL execution id,
      * and a repeat returns the same bits. */
    def eager[T](what: String)(call: => T)(key: T => Seq[Any]): T = {
      var out: Option[T] = None
      val (jobs, tasks) = JobCounter(spark.sparkContext) { out = Some(call) }
      assert(jobs == 1 && tasks == parts, s"$what ran $jobs jobs and $tasks tasks, expected 1 and $parts")
      var again: Option[T] = None
      val props = JobCounter.jobProperties(spark.sparkContext) { again = Some(call) }
      props.foreach(p => assert(p.getProperty("spark.sql.execution.id") != null,
        s"$what ran a job outside any SQL execution: $p"))
      assert(key(out.get) == key(again.get), s"$what: a repeated call changed the result")
      out.get
    }
    val none = harvested(df.filter($"part" === 99))
    for (nb <- Seq(false, true)) {
      val what = s"[nb=$nb]"
      val flat = eager(s"$what cofactor")(Graft.cofactor(df, num, cat, nb))(bits)
      assertClose(flat, Graft.tripleFromRow(df.agg(casts(nb, None)).head().getStruct(0)),
        s"$what cofactor")

      val perClass = eager(s"$what cofactorPerClass")(
        Graft.cofactorPerClass(df, num, cat, label = "lbl", nb = nb))(_.map { case (l, t) => l -> bits(t) })
      val perClassRef = df.filter($"lbl".isNotNull)
        .groupBy($"lbl".cast("int")).agg(casts(nb, None))
        .collect().map(r => r.getInt(0) -> Graft.tripleFromRow(r.getStruct(1))).sortBy(_._1).toSeq
      assert(perClass.map(_._1) == perClassRef.map(_._1), s"$what labels")
      perClass.zip(perClassRef).foreach { case ((l, t), (_, w)) => assertClose(t, w, s"$what label $l") }

      assert(none.rdd.getNumPartitions == 0, "the partition filter must prune every file")
      val zero = Graft.cofactor(none, num, cat, nb)
      assert(zero.n == 0 && zero.numCols == num.size && zero.catCols == cat.size,
        s"$what zero partitions: $zero")
      assert(Graft.cofactorPerClass(none, num, cat, "lbl", nb).isEmpty, s"$what zero partitions: classes")
    }
  } }

  test("hashJoinIfSafe: a side under the broadcast threshold broadcasts, with no shuffle") {
    val dim = Seq.tabulate(50)(k => (k, k * 0.5)).toDF("k", "dprice")
    val fact = Seq.tabulate(3000)(i => (i % 60, i * 1.0)).toDF("k", "y")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
    try {
      val joined = Factorized.hashJoinIfSafe(fact, dim, Seq("k"))
      val plan = joined.queryExecution.executedPlan
      assert(plan.toString.contains("BroadcastHashJoin"), s"expected a broadcast join:\n$plan")
      assert(!Factorized.hasShuffleExchange(plan), s"a broadcast join must not shuffle:\n$plan")
      assert(joined.count() == fact.join(dim, "k").count())
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("numeric-only star over unique dims: as many jobs as one cofactorMasked slot, equal to the aggregate") {
    // every dim is unique per key, so minRowsPerKey = Double.MaxValue
    // materializes the star and one fold over the joined frame computes
    // the triple; fact keys 20–22 have no dim1 row, and some y are NULL
    val fact = Seq.tabulate(400)(i =>
      (i % 23, i % 11, if (i % 37 == 0) None else Some(i * 0.25), math.sin(i.toDouble)))
      .toDF("k1", "k2", "y", "a")
    val dim1 = Seq.tabulate(20)(k => (k, k * 1.5 - 3)).toDF("k1", "d1")
    val dim2 = Seq.tabulate(11)(k => (k, math.sqrt(k + 1.0))).toDF("k2", "d2")
    val feats = Seq("y", "a", "d1", "d2")
    def star(d1: DataFrame): Triple = Factorized.cofactorOverStar(fact, Seq("y", "a"), Nil,
      Seq(Factorized.StarDim(d1, "k1", Seq("d1")), Factorized.StarDim(dim2, "k2", Seq("d2"))),
      minRowsPerKey = Double.MaxValue)
    val joined = Factorized.hashJoinIfSafe(
      Factorized.hashJoinIfSafe(fact, dim1, Seq("k1")), dim2, Seq("k2"))
    var t: Triple = null
    val (starJobs, _) = JobCounter(spark.sparkContext) { t = star(dim1) }
    val (maskedJobs, _) = JobCounter(spark.sparkContext) {
      Graft.cofactorMasked(joined, feats, Nil, Seq(None))
    }
    assert(starJobs == maskedJobs,
      s"the star ran $starJobs jobs, one cofactorMasked slot over its join $maskedJobs")
    val ref = fact.join(dim1, "k1").join(dim2, "k2")
      .agg(Graft.sumTriple(feats.map(c => col(c).cast("double")): _*)).head().getStruct(0)
    assertClose(t, Graft.tripleFromRow(ref), "numeric-only star")
    assert(t.n > 0 && t.n < 400, s"n=${t.n}: orphans and NULL rows must drop")

    val empty = star(dim1.select(($"k1" + 1000).as("k1"), $"d1"))
    assert(empty.n == 0 && empty.numCols == 4 && empty.catCols == 0, s"disjoint keys: $empty")
  }

  test("cofactorOverJoin: a feature name on both sides; disjoint keys give the zero triple") {
    val left = Seq.tabulate(300)(i => (i % 17, i * 0.5, i % 3)).toDF("k", "x", "c")
    val right = Seq.tabulate(60)(i => (i % 13, i * 0.1 - 2, i % 2)).toDF("k", "x", "c")
    val t = Factorized.cofactorOverJoin(left, right, "k", Seq("x"), Seq("c"), Seq("x"), Seq("c"))
    val want = Graft.cofactor(left.join(right.select($"k", $"x".as("x2"), $"c".as("c2")), "k"),
      Seq("x", "x2"), Seq("c", "c2"))
    assertClose(t, want, "cofactorOverJoin")
    val empty = Factorized.cofactorOverJoin(left, right.filter($"k" > 100), "k",
      Seq("x"), Seq("c"), Seq("x"), Seq("c"))
    assert(empty.n == 0 && empty.numCols == 2 && empty.catCols == 2, s"disjoint keys: $empty")
  }

  test("cofactorOverJoin holds maxCategories over the merged result") {
    // one category per join key: every side aggregate stays under the
    // cap, and only the final sum over the keys holds all 40
    val fact = Seq.tabulate(400)(i => (i % 40, i * 0.5, i % 40)).toDF("k", "x", "c")
    val dim = Seq.tabulate(40)(i => (i, i * 0.1)).toDF("k", "y")
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    spark.conf.set("spark.graft.cofactor.maxCategories", "16")
    try {
      val mat = intercept[Exception] { Graft.cofactor(fact.join(dim, "k"), Seq("x", "y"), Seq("c")) }
      assert(msgs(mat).exists(_.contains("distinct values")), s"materialized join: $mat")
      val fac = intercept[Exception] {
        Factorized.cofactorOverJoin(fact, dim, "k", Seq("x"), Seq("c"), Seq("y"), Seq())
      }
      assert(msgs(fac).exists(_.contains("distinct values")), s"factorized join: $fac")
    } finally spark.conf.unset("spark.graft.cofactor.maxCategories")
  }

  test("checkpoint: its eager job runs under a SQL execution id") {
    // query listeners attribute jobs through spark.sql.execution.id; the
    // checkpoint's materializing jobs must carry it like any action's
    val df = Seq.tabulate(200)(i => (i % 7, i * 0.5)).toDF("k", "v").repartition(3, $"k")
    var cp: DataFrame = null
    val props = JobCounter.jobProperties(spark.sparkContext) { cp = Graft.checkpoint(df) }
    assert(props.nonEmpty, "the checkpoint must run eagerly")
    props.foreach(p => assert(p.getProperty("spark.sql.execution.id") != null,
      s"a checkpoint job ran outside any SQL execution: $p"))
    assert(cp.count() == 200 && cp.agg(sum($"v")).head.getDouble(0) == df.agg(sum($"v")).head.getDouble(0))
    Graft.dropCheckpoint(cp)
  }

  test("checkpointRows folds a partition an earlier attempt stored from a fresh pass") {
    // a retried or speculative task can find its partition already
    // stored, so no computation hands it the fold: it folds the rows again
    val rows = Seq.tabulate(200)(i => (i % 7, i * 0.5)).toDF("k", "v").repartition(3).queryExecution.toRdd
    val stored = rows.mapPartitions(_.map(_.copy()))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    stored.count()
    val parts = spark.sparkContext.runJob(new Graft.StoredFolds(stored, rows, Some(() => new CountRows)),
      (it: Iterator[(Long, Option[Long])]) => it.next())
    assert(parts.flatMap(_._2).sum == 200 && parts.map(_._1).sum > 0, parts.toSeq)
    stored.unpersist()
  }
}

/** A fold that counts its rows. */
private class CountRows extends Graft.RowFold[Long] {
  private var n = 0L
  def update(r: org.apache.spark.sql.catalyst.InternalRow): Unit = n += 1
  def result: Long = n
}
