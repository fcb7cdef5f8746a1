package graft

import graft.agg.ColumnarCofactor
import graft.agg.ColumnarCofactor._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The columnar-batch cofactor kernel against the row aggregate it
  * replaces on bare scans: identical triples (up to summation-order
  * ulps) on real parquet, identical NULL-skip semantics, refusal of any
  * non-harvestable plan, and the year/packed-strings categorical
  * transforms. */
class ColumnarCofactorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val dir = "/root/testdata/sf0.001"
  def li = spark.read.parquet(s"$dir/lineitem.parquet")

  test("columnar triple == row-aggregate triple on a bare scan (nums + int cat)") {
    val t = ColumnarCofactor.cofactor(li,
      Seq(NumCol("l_quantity"), NumCol("l_extendedprice")),
      Seq(CatCol("l_linenumber"))).get
    val ref = Graft.tripleFromRow(
      li.agg(Graft.sumTriple(col("l_quantity"), col("l_extendedprice"), col("l_linenumber")).as("t"))
        .head.getStruct(0))
    assert(t.n == ref.n)
    assert(t.approxEquals(ref, 1e-9))
  }

  test("CatYear matches year(timestamp) under the session timezone") {
    val t = ColumnarCofactor.cofactor(li,
      Seq(NumCol("l_quantity")), Seq(CatYear("l_shipdate"))).get
    val ref = Graft.tripleFromRow(
      li.withColumn("y", year(col("l_shipdate")))
        .agg(Graft.sumTriple(col("l_quantity"), col("y")).as("t")).head.getStruct(0))
    assert(t.approxEquals(ref, 1e-9))
  }

  test("civilYear matches java.time over four centuries") {
    var day = java.time.LocalDate.of(1900, 1, 1).toEpochDay
    val end = java.time.LocalDate.of(2300, 1, 1).toEpochDay
    while (day < end) {
      assert(ColumnarCofactor.civilYear(day) == java.time.LocalDate.ofEpochDay(day).getYear)
      day += 37 // stride across month/year boundaries
    }
    assert(ColumnarCofactor.civilYear(java.time.LocalDate.of(1969, 12, 31).toEpochDay) == 1969)
  }

  test("CatYear on a DATE column matches year(date)") {
    val tmp = java.nio.file.Files.createTempDirectory("coldate").toString
    li.select(col("l_quantity"), to_date(col("l_shipdate")).as("d"))
      .write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    val t = ColumnarCofactor.cofactor(df, Seq(NumCol("l_quantity")), Seq(CatYear("d"))).get
    val ref = Graft.tripleFromRow(
      df.withColumn("y", year(col("d")))
        .agg(Graft.sumTriple(col("l_quantity"), col("y")).as("t")).head.getStruct(0))
    assert(t.approxEquals(ref, 1e-9))
  }

  test("NumDerived kernel matches the expression column") {
    val f: (Array[Array[Double]], Array[Double], Int) => Unit =
      (in, out, n) => { var r = 0; while (r < n) { out(r) = in(0)(r) * (1.0 - in(1)(r)); r += 1 } }
    val t = ColumnarCofactor.cofactor(li,
      Seq(NumCol("l_quantity"), NumDerived(Seq("l_extendedprice", "l_discount"), "dp", f))).get
    val ref = Graft.tripleFromRow(
      li.withColumn("dp", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .agg(Graft.sumTriple(col("l_quantity"), col("dp")).as("t")).head.getStruct(0))
    assert(t.approxEquals(ref, 1e-9))
  }

  test("CatPackedStrings == the group-by pair; key order is lexicographic") {
    val t = ColumnarCofactor.cofactor(li,
      Seq(NumCol("l_quantity")),
      Seq(CatPackedStrings(Seq("l_returnflag", "l_linestatus")))).get
    val exp = li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sq"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(0 + 2), r.getDouble(3)))
      .toMap
    assert(t.linCat(0).size == exp.size)
    for ((key, cnt) <- t.linCat(0)) {
      val Seq(flag, status) = unpackStrings(key, 2)
      val (ecnt, esq) = exp((flag, status))
      assert(cnt == ecnt.toDouble)
      assert(math.abs(t.quadNumCat(0)(key) - esq) <= 1e-9 * (1 + math.abs(esq)))
    }
    val sortedKeys = t.linCat(0).keys.toSeq.sorted
    val pairs = sortedKeys.map(k => { val Seq(a, b) = unpackStrings(k, 2); (a, b) })
    assert(pairs == pairs.sorted)
  }

  test("NULL rows are skipped exactly like the row aggregate") {
    val tmp = java.nio.file.Files.createTempDirectory("colcof").toString
    Seq[(java.lang.Double, java.lang.Double, java.lang.Integer)](
      (1.0, 2.0, 1), (null, 3.0, 1), (2.0, null, 2), (3.0, 4.0, null), (5.0, 6.0, 2)
    ).toDF("x", "y", "c").write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    val t = ColumnarCofactor.cofactor(df, Seq(NumCol("x"), NumCol("y")), Seq(CatCol("c"))).get
    assert(t.n == 2) // only the two all-non-null rows survive
    val ref = Graft.tripleFromRow(
      df.agg(Graft.sumTriple(col("x"), col("y"), col("c")).as("t")).head.getStruct(0))
    assert(t.approxEquals(ref, 1e-12))
  }

  test("harvest refuses uncompilable filters, derived plans, and non-scan sources") {
    // arithmetic / function predicates fall outside the compiled subset
    assert(ColumnarCofactor.cofactor(
      li.filter(col("l_quantity") * 2 > 10), Seq(NumCol("l_quantity"))).isEmpty)
    assert(ColumnarCofactor.cofactor(
      li.filter(abs(col("l_discount")) > 0.01), Seq(NumCol("l_quantity"))).isEmpty)
    assert(ColumnarCofactor.cofactor(
      li.filter(upper(col("l_returnflag")) === "R"), Seq(NumCol("l_quantity"))).isEmpty)
    assert(ColumnarCofactor.cofactor(
      li.filter(col("l_returnflag").rlike("[RN]")), Seq(NumCol("l_quantity"))).isEmpty)
    assert(ColumnarCofactor.cofactor(
      li.withColumn("q2", col("l_quantity") * 2).select(col("q2").as("l_quantity")),
      Seq(NumCol("l_quantity"))).isEmpty)
    val local = Seq((1.0, 2), (3.0, 4)).toDF("x", "c")
    assert(ColumnarCofactor.cofactor(local, Seq(NumCol("x")), Seq(CatCol("c"))).isEmpty)
  }

  test("Graft.cofactor routes bare AND simply-filtered scans columnar") {
    // both paths must agree — this is the production entry MICE's static
    // cofactor rides on
    val full = Graft.cofactor(li, Seq("l_quantity", "l_extendedprice"), Seq("l_linenumber"))
    val refFull = Graft.tripleFromRow(
      li.agg(Graft.sumTriple(col("l_quantity"), col("l_extendedprice"), col("l_linenumber")).as("t"))
        .head.getStruct(0))
    assert(full.approxEquals(refFull, 1e-9))
    // a simple filter stays on the columnar path now (harvest engages)
    assert(ColumnarCofactor.cofactor(
      li.filter(col("l_linenumber") === 1), Seq(NumCol("l_quantity"))).isDefined)
    val filt = Graft.cofactor(li.filter(col("l_linenumber") === 1), Seq("l_quantity"), Seq())
    val refFilt = Graft.tripleFromRow(
      li.filter(col("l_linenumber") === 1)
        .agg(Graft.sumTriple(col("l_quantity")).as("t")).head.getStruct(0))
    assert(filt.approxEquals(refFilt, 1e-9))
  }

  test("filtered harvest: comparison/AND/OR/IN/string/date predicates match the row aggregate") {
    // the TPC-H q6 shape: date range + discount window + quantity cut
    val q6 = li.filter(
      col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01" &&
      col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
    val t1 = ColumnarCofactor.cofactor(q6,
      Seq(NumCol("l_extendedprice"), NumCol("l_discount")), Seq(CatCol("l_linenumber"))).get
    val r1 = Graft.tripleFromRow(
      q6.agg(Graft.sumTriple(col("l_extendedprice"), col("l_discount"), col("l_linenumber")).as("t"))
        .head.getStruct(0))
    assert(t1.n > 0 && t1.approxEquals(r1, 1e-9))

    // OR + IN + string equality; filter columns NOT in the aggregate inputs
    val mix = li.filter(
      (col("l_returnflag") === "R" || col("l_linenumber").isin(1, 2)) && col("l_tax") > 0.01)
    val t2 = ColumnarCofactor.cofactor(mix, Seq(NumCol("l_quantity"))).get
    val r2 = Graft.tripleFromRow(
      mix.agg(Graft.sumTriple(col("l_quantity")).as("t")).head.getStruct(0))
    assert(t2.n > 0 && t2.approxEquals(r2, 1e-9))

    // an all-false filter yields the empty triple, not an error
    val none = ColumnarCofactor.cofactor(
      li.filter(col("l_quantity") < -1), Seq(NumCol("l_quantity"))).get
    assert(none.n == 0)
  }

  test("filtered harvest: -0.0 comparison and In/InSet zero semantics match the row path") {
    val tmp = java.nio.file.Files.createTempDirectory("colzero").toString
    Seq((-0.0, 1.0), (0.0, 2.0), (1.0, 3.0), (-1.0, 4.0))
      .toDF("d", "x").write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    // === 0.0 and < 0.0: Spark compares via SQLOrderingUtil (-0.0 == 0.0);
    // a raw Double.compare kernel would drop the -0.0 row from the first
    // and add it to the second
    for (f <- Seq[org.apache.spark.sql.Column](
        col("d") === 0.0, col("d") < 0.0, col("d") <= 0.0, col("d") > 0.0)) {
      val q = df.filter(f)
      val t = ColumnarCofactor.cofactor(q, Seq(NumCol("x"))).get
      val ref = Graft.tripleFromRow(q.agg(Graft.sumTriple(col("x")).as("t")).head.getStruct(0))
      assert(t.n == ref.n && t.approxEquals(ref, 1e-12), s"filter $f: ${t.n} vs ${ref.n}")
    }
    // In (≤10 literals) and InSet (>10 literals after OptimizeIn) both
    // match -0.0 against 0.0 on the row path (SPARK-32110 normalization);
    // the kernel's InDoubleP normalizes identically for both forms
    val inQ = df.filter(col("d").isin(0.0, 9.0))
    val inSetQ = df.filter(col("d").isin(0.0, 9.0, 10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0))
    for (q <- Seq(inQ, inSetQ)) {
      val t = ColumnarCofactor.cofactor(q, Seq(NumCol("x"))).get
      val ref = Graft.tripleFromRow(q.agg(Graft.sumTriple(col("x")).as("t")).head.getStruct(0))
      assert(t.n == ref.n && t.approxEquals(ref, 1e-12), s"${q.queryExecution.optimizedPlan}")
    }
    // both forms keep the -0.0 and 0.0 rows — pin that the row engine
    // really normalizes in BOTH, so kernel always-normalize is the match
    assert(inQ.count() == 2 && inSetQ.count() == 2)
  }

  test("categorical-only cofactor refuses the kernel and falls back to the row aggregate") {
    assert(ColumnarCofactor.cofactor(li, Seq(), Seq(CatCol("l_linenumber"))).isEmpty)
    val t = Graft.cofactor(li, Seq(), Seq("l_linenumber"))
    assert(t.n == li.count() && t.lin.isEmpty)
  }

  test("LongType categorical: in-range values work, 2^32-aliased values fail loudly") {
    val tmp = java.nio.file.Files.createTempDirectory("collong").toString
    Seq((5L, 1.0), (7L, 2.0), (5L, 3.0)).toDF("c", "x").write.mode("overwrite").parquet(tmp)
    val ok = ColumnarCofactor.cofactor(spark.read.parquet(tmp),
      Seq(NumCol("x")), Seq(CatCol("c"))).get
    val ref = Graft.tripleFromRow(spark.read.parquet(tmp)
      .agg(Graft.sumTriple(col("x"), col("c").cast("int")).as("t")).head.getStruct(0))
    assert(ok.approxEquals(ref, 1e-12))
    // 2^32+5 truncates to the same Int as 5 — silent merge forbidden
    val tmp2 = java.nio.file.Files.createTempDirectory("collong2").toString
    Seq((5L, 1.0), ((1L << 32) + 5L, 2.0)).toDF("c", "x").write.mode("overwrite").parquet(tmp2)
    val ex = intercept[Exception] {
      ColumnarCofactor.cofactor(spark.read.parquet(tmp2), Seq(NumCol("x")), Seq(CatCol("c")))
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.isInstanceOf[ArithmeticException]),
      s"expected ArithmeticException in cause chain, got $ex")
  }

  test("filtered harvest: NULL three-valued logic matches the row path under NOT") {
    val tmp = java.nio.file.Files.createTempDirectory("colfilt").toString
    Seq[(java.lang.Double, java.lang.Double)](
      (1.0, 0.10), (2.0, null), (3.0, 0.01), (4.0, 0.20), (5.0, null)
    ).toDF("x", "d").write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    // NOT(d > 0.05): rows with NULL d stay unknown and are dropped —
    // same as FilterExec; x is never NULL so the null-skip can't hide a
    // wrong mask
    val f = df.filter(!(col("d") > 0.05))
    val t = ColumnarCofactor.cofactor(f, Seq(NumCol("x"))).get
    val ref = Graft.tripleFromRow(
      f.agg(Graft.sumTriple(col("x")).as("t")).head.getStruct(0))
    assert(t.n == 1 && t.approxEquals(ref, 1e-12)) // only (3.0, 0.01)
    // IS NULL selects exactly the null-d rows
    val g = df.filter(col("d").isNull)
    val t2 = ColumnarCofactor.cofactor(g, Seq(NumCol("x"))).get
    assert(t2.n == 2 && math.abs(t2.lin(0) - 7.0) < 1e-12)
  }

  test("filtered harvest: contains/startsWith/endsWith match the row path") {
    for (f <- Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
        _.contains("R"), _.startsWith("N"), _.endsWith("A"))) {
      val d = li.filter(f(col("l_returnflag")))
      val t = ColumnarCofactor.cofactor(d, Seq(NumCol("l_quantity"))).get
      val ref = Graft.tripleFromRow(
        d.agg(Graft.sumTriple(col("l_quantity")).as("t")).head.getStruct(0))
      assert(t.approxEquals(ref, 1e-9))
    }
    // NULL strings are unknown, and NOT(unknown) stays unknown: a NULL-s
    // row must be dropped by BOTH contains and its negation (the mask=2
    // branch — x is non-null so the null-skip can't hide a wrong mask)
    val tmp = java.nio.file.Files.createTempDirectory("colstr").toString
    Seq[(java.lang.Double, String)]((1.0, "abc"), (2.0, null), (4.0, "xyz"))
      .toDF("x", "s").write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    val pos = ColumnarCofactor.cofactor(df.filter(col("s").contains("b")), Seq(NumCol("x"))).get
    assert(pos.n == 1 && math.abs(pos.lin(0) - 1.0) < 1e-12)
    val neg = ColumnarCofactor.cofactor(df.filter(!col("s").contains("b")), Seq(NumCol("x"))).get
    assert(neg.n == 1 && math.abs(neg.lin(0) - 4.0) < 1e-12) // NULL row stays dropped
  }

  test("CatYear on TIMESTAMP_NTZ takes no timezone shift, matching year()") {
    // year() on NTZ reads the wall-clock datetime; a session tz must NOT
    // shift it (an instant-style shift would bucket midnight Jan 1 into
    // the previous year for any tz west of UTC)
    val tmp = java.nio.file.Files.createTempDirectory("colntz").toString
    li.select(col("l_quantity"),
        col("l_shipdate").cast("timestamp_ntz").as("tntz"))
      .write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    // a UTC session would mask an instant-style shift — pin a western tz
    val saved = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val t = ColumnarCofactor.cofactor(df, Seq(NumCol("l_quantity")), Seq(CatYear("tntz"))).get
      val ref = Graft.tripleFromRow(
        df.withColumn("y", year(col("tntz")))
          .agg(Graft.sumTriple(col("l_quantity"), col("y")).as("t")).head.getStruct(0))
      assert(t.approxEquals(ref, 1e-9))
    } finally spark.conf.set("spark.sql.session.timeZone", saved)
  }

  test("filtered harvest: bare boolean flag column (the MICE stratum shape)") {
    val tmp = java.nio.file.Files.createTempDirectory("colflag").toString
    Seq((1.0, true), (2.0, false), (3.0, true), (4.0, false), (5.0, true))
      .toDF("x", "miss").write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    val t = ColumnarCofactor.cofactor(df.filter(!col("miss")), Seq(NumCol("x"))).get
    assert(t.n == 2 && math.abs(t.lin(0) - 6.0) < 1e-12)
    val t2 = ColumnarCofactor.cofactor(df.filter(col("miss")), Seq(NumCol("x"))).get
    assert(t2.n == 3 && math.abs(t2.lin(0) - 9.0) < 1e-12)
  }

  test("nb mode: diagonal-only quad matches the row aggregate") {
    val t = ColumnarCofactor.cofactor(li,
      Seq(NumCol("l_quantity"), NumCol("l_tax")), Seq(CatCol("l_linenumber")), nbMode = true).get
    val ref = Graft.tripleFromRow(
      li.agg(Graft.sumNbAgg(col("l_quantity"), col("l_tax"), col("l_linenumber")).as("t"))
        .head.getStruct(0))
    assert(t.n == ref.n)
    assert(t.approxEquals(ref, 1e-9))
  }

  test("per-class columnar == groupBy(label) row aggregate, full quad per class") {
    val got = ColumnarCofactor.cofactorPerClass(li,
      Seq(NumCol("l_quantity"), NumCol("l_extendedprice")),
      Seq(CatYear("l_shipdate")),
      CatCol("l_linenumber")).get
    val exp = li.withColumn("y", year(col("l_shipdate")))
      .groupBy(col("l_linenumber"))
      .agg(Graft.sumTriple(col("l_quantity"), col("l_extendedprice"), col("y")).as("t"))
      .collect()
      .map(r => r.getInt(0) -> Graft.tripleFromRow(r.getStruct(1)))
      .sortBy(_._1).toSeq
    assert(got.map(_._1) == exp.map(_._1))
    got.zip(exp).foreach { case ((_, g), (_, e)) => assert(g.approxEquals(e, 1e-9)) }
  }

  test("per-class: NULL labels are dropped on both routes") {
    val tmp = java.nio.file.Files.createTempDirectory("colpc").toString
    Seq[(java.lang.Double, java.lang.Integer)](
      (1.0, 1), (2.0, null), (3.0, 1), (4.0, 2), (5.0, null)
    ).toDF("x", "lbl").write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    val colPath = ColumnarCofactor.cofactorPerClass(df, Seq(NumCol("x")), Nil, CatCol("lbl")).get
    assert(colPath.map(_._1) == Seq(1, 2))
    assert(colPath.map(_._2.n) == Seq(2L, 1L))
    // force the row route (filter makes the plan non-harvestable)
    val rowPath = Graft.cofactorPerClass(df.filter(col("x") > 0), Seq("x"), Seq(), "lbl")
    assert(rowPath.sortBy(_._1) == colPath)
  }

  test("Graft.cofactorPerClass routes bare scans columnar; nb mode agrees too") {
    val viaEntry = Graft.cofactorPerClass(li, Seq("l_quantity", "l_tax"), Seq(), "l_linenumber")
    val forcedRow = Graft.cofactorPerClass(li.filter(col("l_quantity") > -1),
      Seq("l_quantity", "l_tax"), Seq(), "l_linenumber")
    assert(viaEntry.map(_._1).sorted == forcedRow.map(_._1).sorted)
    val fm = forcedRow.toMap
    viaEntry.foreach { case (k, t) => assert(t.approxEquals(fm(k), 1e-9)) }
    val nbCol = Graft.cofactorPerClass(li, Seq("l_quantity"), Seq("l_linenumber"), "l_suppkey", nb = true)
    val nbRow = Graft.cofactorPerClass(li.filter(col("l_quantity") > -1),
      Seq("l_quantity"), Seq("l_linenumber"), "l_suppkey", nb = true)
    val nbm = nbRow.toMap
    assert(nbCol.size == nbRow.size)
    nbCol.foreach { case (k, t) => assert(t.approxEquals(nbm(k), 1e-9)) }
  }

  test("huge-span categorical batches fall back to the map path with identical results") {
    val tmp = java.nio.file.Files.createTempDirectory("colwide").toString
    // keys span > 2^16 so denseCats refuses the window and the batch
    // routes through updateCats — results must be identical either way
    val rows = (0 until 5000).map(i => (i.toDouble, (i % 7) * 40000000))
    rows.toDF("x", "c").write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    val t = ColumnarCofactor.cofactor(df, Seq(NumCol("x")), Seq(CatCol("c"))).get
    val ref = Graft.tripleFromRow(
      df.agg(Graft.sumTriple(col("x"), col("c")).as("t")).head.getStruct(0))
    assert(t.approxEquals(ref, 1e-9))
    assert(t.linCat(0).size == 7)
  }

  test("mid-cardinality pair routes through the per-column dense tier, identical results") {
    val tmp = java.nio.file.Files.createTempDirectory("colmid").toString
    // spans ~150 each: 150*150 > CombCap so the combined tier refuses,
    // per-column dense (+cross-pair tables) takes the batch
    val rng = new scala.util.Random(7)
    val rows = (0 until 8000).map(i => (rng.nextDouble() * 10, rng.nextInt(150), 1000 + rng.nextInt(150)))
    rows.toDF("x", "c1", "c2").write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    val t = ColumnarCofactor.cofactor(df, Seq(NumCol("x")), Seq(CatCol("c1"), CatCol("c2"))).get
    val ref = Graft.tripleFromRow(
      df.agg(Graft.sumTriple(col("x"), col("c1"), col("c2")).as("t")).head.getStruct(0))
    assert(t.approxEquals(ref, 1e-9))
  }

  test("multi-byte CatPackedStrings value fails loudly, not silently collides") {
    val tmp = java.nio.file.Files.createTempDirectory("colcofs").toString
    Seq(("AB", 1.0), ("C", 2.0)).toDF("f", "x").write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    val ex = intercept[Exception] {
      ColumnarCofactor.cofactor(df, Seq(NumCol("x")), Seq(CatPackedStrings(Seq("f"))))
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("single-byte")))
  }

  test("many small categoricals at width: Π-span overflow routes per-column dense, matches row aggregate") {
    // 8 categorical columns of span 7..14: the combined-cell tier's
    // Π-span (7·8·…·14 ≈ 1.2e8) blows CombCap, so the kernel must
    // marginalize per column + per pair through the per-column dense
    // tier instead — the wide-MICE shape the column-scalability
    // experiment (reference column_scalability.h:6-8) runs at. Parity
    // with the row aggregate certifies the routing at width.
    val dir = java.nio.file.Files.createTempDirectory("colwidth").toFile.getAbsolutePath
    spark.range(50000).select(
      Seq(((col("id") % 97) * 31 % 1000).cast("double").as("x0"),
        ((col("id") % 89) * 17 % 500).cast("double").as("x1")) ++
      (0 until 8).map(j => ((col("id") + lit(j)) % (7 + j)).cast("int").as(s"c$j")): _*)
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val nums = Seq(NumCol("x0"), NumCol("x1"))
    val cats = (0 until 8).map(j => CatCol(s"c$j"))
    val t = ColumnarCofactor.cofactor(df, nums, cats)
    assert(t.isDefined, "harvest must engage on the wide bare scan")
    val ref = Graft.tripleFromRow(df.agg(Graft.sumTriple(
      Seq("x0", "x1").map(col) ++ (0 until 8).map(j => col(s"c$j")): _*).as("t"))
      .head.getStruct(0))
    assert(t.get.n == ref.n)
    assert(t.get.approxEquals(ref, 1e-9))
  }

  test("cofactorGrouped: kernel route == row aggregate, refusal falls back, NULL keys dropped") {
    // long key on a bare scan → columnar (route pinned LIVE); the same
    // call over a Union plan is not harvestable → row aggregate; both
    // produce the same groups, triples, and (name, type) schema
    val viaKernel = Graft.cofactorGrouped(li, "l_suppkey",
      Seq("l_quantity", "l_extendedprice"), Seq("l_linenumber"))
    assert(Graft.lastGroupedRoute() == "columnar", "bare scan must ride the kernel")
    // (li.union(li.limit(0)) does NOT refuse: PropagateEmptyRelation
    // collapses it back to the bare scan — the kernel engaging there is
    // correct; an exchange is genuinely non-harvestable)
    val viaRow = Graft.cofactorGrouped(li.repartition(4), "l_suppkey",
      Seq("l_quantity", "l_extendedprice"), Seq("l_linenumber"))
    assert(Graft.lastGroupedRoute() == "row", "an exchange plan must refuse the harvest")
    assert(viaKernel.schema.map(f => (f.name, f.dataType.typeName)) ==
      viaRow.schema.map(f => (f.name, f.dataType.typeName)),
      "output schema must not depend on the route")
    val a = viaKernel.collect().map(r => r.getLong(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    val b = viaRow.collect().map(r => r.getLong(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    assert(a.keySet == b.keySet && a.keySet.size >= 10)
    a.keys.foreach(k => assert(a(k).approxEquals(b(k), 1e-9), s"group $k differs"))

    // NULL keys are dropped, not folded into a 0 group (row route here;
    // the kernel's NULL-label skip is pinned by the per-class spec)
    val withNull = Seq((Option(1L), 1.0), (Option.empty[Long], 2.0), (Option(1L), 3.0))
      .toDF("k", "x")
    val g = Graft.cofactorGrouped(withNull, "k", Seq("x"), Seq()).collect()
    assert(g.length == 1 && g(0).getLong(0) == 1L)
    assert(Graft.tripleFromRow(g(0).getStruct(1)).n == 2L)

    // group-cardinality gate: a fact-like key over the maxGroups cap
    // takes the distributed row aggregate (the kernel route would build
    // one full buffer PER GROUP per partition), with identical results
    val viaCapped = Graft.cofactorGrouped(li, "l_suppkey",
      Seq("l_quantity", "l_extendedprice"), Seq("l_linenumber"), maxGroups = 3)
    assert(Graft.lastGroupedRoute() == "row", "over-cap key must take the row aggregate")
    val c = viaCapped.collect().map(r => r.getLong(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    assert(c.keySet == a.keySet)
    c.keys.foreach(k => assert(c(k).approxEquals(a(k), 1e-9), s"capped group $k differs"))
  }

  test("cofactorGrouped: full-range LONG keys (past 2^32) ride the kernel's Long label channel") {
    // group ids that alias modulo 2^32 ((1<<32)+5 vs 5) must form
    // DISTINCT groups on the kernel route — the old int label either
    // threw or merged; the Long channel carries them natively
    val tmp = java.nio.file.Files.createTempDirectory("glong").toString
    Seq((5L, 1.0), ((1L << 32) + 5L, 2.0), (5L, 3.0), ((1L << 40) - 1L, 4.0))
      .toDF("k", "x").write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    val viaKernel = Graft.cofactorGrouped(df, "k", Seq("x"), Seq())
    assert(Graft.lastGroupedRoute() == "columnar", "long keys must ride the kernel")
    val viaRow = Graft.cofactorGrouped(df.repartition(2), "k", Seq("x"), Seq())
    assert(Graft.lastGroupedRoute() == "row")
    val a = viaKernel.collect().map(r => r.getLong(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    val b = viaRow.collect().map(r => r.getLong(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    assert(a.keySet == Set(5L, (1L << 32) + 5L, (1L << 40) - 1L))
    assert(a.keySet == b.keySet)
    a.keys.foreach(k => assert(a(k).approxEquals(b(k), 1e-9), s"group $k differs"))

    // the INT-keyed ML surface keeps its fail-loud contract: a label
    // outside int range raises ArithmeticException instead of truncating
    val ex = intercept[Exception] {
      ColumnarCofactor.cofactorPerClass(df, Seq(NumCol("x")), Nil, CatCol("k"))
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.isInstanceOf[ArithmeticException]),
      s"expected ArithmeticException in cause chain, got $ex")
  }

  test("cofactorGrouped: string keys ride the kernel — packed to 8 bytes, dictionary-encoded past that") {
    // l_returnflag is a single-char flag: the shape probe reports exact
    // max packable width 1 and the key packs through CatShortString as
    // the per-class label — route ASSERTED, results vs the row aggregate
    val viaKernel = Graft.cofactorGrouped(li, "l_returnflag",
      Seq("l_quantity", "l_extendedprice"), Seq("l_linenumber"))
    assert(Graft.lastGroupedRoute() == "columnar", "1-byte string key must ride the kernel")
    assert(viaKernel.schema.head.dataType == org.apache.spark.sql.types.StringType,
      "the key must come back in its original type")
    val viaRow = Graft.cofactorGrouped(li.repartition(4), "l_returnflag",
      Seq("l_quantity", "l_extendedprice"), Seq("l_linenumber"))
    assert(Graft.lastGroupedRoute() == "row")
    val a = viaKernel.collect().map(r => r.getString(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    val b = viaRow.collect().map(r => r.getString(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    assert(a.keySet == b.keySet && a.nonEmpty)
    a.keys.foreach(k => assert(a(k).approxEquals(b(k), 1e-9), s"group $k differs"))

    // 4-byte keys of MIXED lengths ("g0".."g6", "gr10".."gr13", a
    // 2-byte UTF-8 char, the empty string) pack base-256 and still ride
    // the kernel — injective across lengths (no NUL), original strings
    // recovered; NULL keys dropped on both routes
    val tmp4 = java.nio.file.Files.createTempDirectory("gstr4").toFile.getAbsolutePath
    spark.range(6000).select(
      when(col("id") % 13 === 0, lit(null).cast("string"))
        .when(col("id") % 17 === 0, lit(""))
        .when(col("id") % 5 === 0, lit("é")) // 2 UTF-8 bytes
        .when(col("id") % 2 === 0, concat(lit("g"), (col("id") % 7).cast("string")))
        .otherwise(concat(lit("gr1"), (col("id") % 4).cast("string"))).as("k"),
      (col("id") % 97).cast("double").as("x")).write.mode("overwrite").parquet(tmp4)
    val df4 = spark.read.parquet(tmp4)
    val short4 = Graft.cofactorGrouped(df4, "k", Seq("x"), Seq())
    assert(Graft.lastGroupedRoute() == "columnar", "keys up to 4 bytes must ride the kernel")
    val row4 = Graft.cofactorGrouped(df4.repartition(4), "k", Seq("x"), Seq())
    assert(Graft.lastGroupedRoute() == "row")
    val a4 = short4.collect().map(r => r.getString(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    val b4 = row4.collect().map(r => r.getString(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    assert(a4.keySet == b4.keySet, s"kernel keys ${a4.keySet} vs row keys ${b4.keySet}")
    assert(a4.contains("") && a4.contains("é") && !a4.keySet.exists(_ == null))
    a4.keys.foreach(k => assert(a4(k).approxEquals(b4(k), 1e-9), s"group '$k' differs"))

    // a 4-byte label whose FIRST byte is >= 0x80 (one 4-byte UTF-8 char,
    // e.g. a musical clef) zero-extends past Int.MaxValue in the Long
    // label channel but is still a valid Int-surface key — it must map
    // back to the old (negative) Int encoding, not trip the overflow
    // guard; unpackShortString(int) re-zero-extends, so the original
    // string round-trips
    val tmpHi = java.nio.file.Files.createTempDirectory("gstrhi").toFile.getAbsolutePath
    spark.range(400).select(
      when(col("id") % 2 === 0, lit("𝄞")) // U+1D11E, 4 UTF-8 bytes F0 9D 84 9E
        .otherwise(lit("ab")).as("lbl"),
      (col("id") % 11).cast("double").as("x")).write.mode("overwrite").parquet(tmpHi)
    val dfHi = spark.read.parquet(tmpHi)
    val perClassHi = ColumnarCofactor.cofactorPerClass(
      dfHi, Seq(NumCol("x")), Nil, CatShortString("lbl")).get
    assert(perClassHi.exists(_._1 < 0), "the 4-byte high-bit label must keep the negative-Int encoding")
    assert(perClassHi.map { case (k, _) => ColumnarCofactor.unpackShortString(k) }.toSet
      == Set("𝄞", "ab"))
    assert(perClassHi.map(_._2.n).sum == 400L)

    // 5–8-byte keys ("group0".."group6", 6 bytes — the en-US/SKU width
    // past the int label) pack into the kernel's LONG label channel —
    // route asserted, parity vs the row aggregate
    val tmp = java.nio.file.Files.createTempDirectory("gstr").toFile.getAbsolutePath
    spark.range(5000).select(
      concat(lit("group"), (col("id") % 7).cast("string")).as("k"),
      (col("id") % 97).cast("double").as("x")).write.mode("overwrite").parquet(tmp)
    val df6 = spark.read.parquet(tmp)
    val wide = Graft.cofactorGrouped(df6, "k", Seq("x"), Seq())
    assert(Graft.lastGroupedRoute() == "columnar",
      "5-8-byte string keys must ride the kernel's Long label channel")
    val wideRow = Graft.cofactorGrouped(df6.repartition(4), "k", Seq("x"), Seq())
    assert(Graft.lastGroupedRoute() == "row")
    val a6 = wide.collect().map(r => r.getString(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    val b6 = wideRow.collect().map(r => r.getString(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    assert(a6.keySet == b6.keySet && a6.keySet.size == 7)
    a6.keys.foreach(k => assert(a6(k).approxEquals(b6(k), 1e-9), s"group '$k' differs"))

    // a >8-byte key cannot base-256 pack, but under the group cap it
    // STAYS on the kernel via the dictionary label (one distinct scan
    // → broadcast value↔index map) — route asserted, parity vs the row
    // aggregate, keys back as their original strings
    val tmp9 = java.nio.file.Files.createTempDirectory("gstr9").toFile.getAbsolutePath
    spark.range(5000).select(
      concat(lit("verywide"), (col("id") % 7).cast("string")).as("k"), // 9 bytes
      when(col("id") % 41 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("verywide"), (col("id") % 7).cast("string"))).as("kN"),
      (col("id") % 97).cast("double").as("x")).write.mode("overwrite").parquet(tmp9)
    val df9 = spark.read.parquet(tmp9)
    val viaDict = Graft.cofactorGrouped(df9, "k", Seq("x"), Seq())
    assert(Graft.lastGroupedRoute() == "columnar-dict",
      "a >8-byte string key under the cap must ride the dictionary kernel route")
    val viaRow9 = Graft.cofactorGrouped(df9.repartition(4), "k", Seq("x"), Seq())
    assert(Graft.lastGroupedRoute() == "row")
    val a9 = viaDict.collect().map(r => r.getString(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    val b9 = viaRow9.collect().map(r => r.getString(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    assert(a9.keySet == b9.keySet && a9.keySet.size == 7 &&
      a9.keySet.forall(_.startsWith("verywide")))
    a9.keys.foreach(k => assert(a9(k).approxEquals(b9(k), 1e-9), s"group '$k' differs"))
    // NULL keys drop on the dict route like every other kernel route
    val a9N = Graft.cofactorGrouped(df9, "kN", Seq("x"), Seq())
    assert(Graft.lastGroupedRoute() == "columnar-dict")
    val b9N = Graft.cofactorGrouped(df9.repartition(4), "kN", Seq("x"), Seq())
    assert(a9N.collect().map(r => r.getString(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
      .map { case (k, t) => k -> t.n }
      == b9N.collect().map(r => r.getString(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
      .map { case (k, t) => k -> t.n })
    // a pinned cap below the key cardinality refuses the dict route too
    val capped9 = Graft.cofactorGrouped(df9, "k", Seq("x"), Seq(), maxGroups = 3)
    assert(Graft.lastGroupedRoute() == "row", "over-cap wide key must take the row aggregate")
    assert(capped9.count() == 7)

    // an embedded NUL byte defeats base-256 injectivity ("A" vs NUL+"A")
    // — the dictionary label is injective by construction, so both
    // groups survive ON THE KERNEL now
    val tmpN = java.nio.file.Files.createTempDirectory("gstrN").toFile.getAbsolutePath
    spark.range(1000).select(
      when(col("id") % 2 === 0, lit("A")).otherwise(lit(0.toChar + "A")).as("k"),
      (col("id") % 97).cast("double").as("x")).write.mode("overwrite").parquet(tmpN)
    val nul = Graft.cofactorGrouped(spark.read.parquet(tmpN), "k", Seq("x"), Seq())
    assert(Graft.lastGroupedRoute() == "columnar-dict",
      "a NUL-bearing key rides the dictionary route (base-256 cannot hold it)")
    assert(nul.count() == 2, "both NUL-distinguished groups must survive")
    assert(nul.collect().map(_.getString(0)).toSet == Set("A", 0.toChar + "A"))
  }

  test("clearProbeCache drops the dictionary memo: the next gate re-runs the distinct scan") {
    val tmp = java.nio.file.Files.createTempDirectory("gdictclr").toFile.getAbsolutePath
    spark.range(2000).select(
      concat(lit("dictionary"), (col("id") % 5).cast("string")).as("k"), // 11 bytes
      (col("id") % 97).cast("double").as("x")).write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    def gateJobs(): Long = org.apache.spark.graft.JobCounter(spark.sparkContext) {
      Graft.cofactorGrouped(df, "k", Seq("x"), Seq())
      assert(Graft.lastGroupedRoute() == "columnar-dict")
    }._1
    graft.ml.Factorized.clearProbeCache()
    val cold = gateJobs() // shape probe + distinct scan
    assert(cold >= 2, s"the cold gate must run the shape probe and the distinct scan ($cold jobs)")
    assert(gateJobs() == 0, "a repeat call over the same files must hit every memo")
    graft.ml.Factorized.clearProbeCache()
    assert(gateJobs() == cold, "after clearProbeCache the gate must scan for its dictionary again")
  }

  test("CatDictString: a key value missing from the dictionary fails loudly mid-job") {
    // the dict route's in-place-rewrite contract: direct kernel call
    // with a dictionary that does NOT contain one of the data's key
    // values — the row must never fold into a wrong group
    val tmp = java.nio.file.Files.createTempDirectory("gdictmiss").toFile.getAbsolutePath
    spark.range(100).select(
      concat(lit("categoryA"), (col("id") % 2).cast("string")).as("k"),
      col("id").cast("double").as("x")).write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    val partial = df.sparkSession.sparkContext.broadcast(
      Array("categoryA0".getBytes("UTF-8"))) // categoryA1 missing
    val ex = intercept[Exception] {
      ColumnarCofactor.cofactorPerClassLong(df, Seq(NumCol("x")), Nil,
        ColumnarCofactor.CatDictString("k", partial))
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c => c.getMessage != null &&
      c.getMessage.contains("not in the group dictionary")), s"got $ex")
    // and the complete dictionary matches the row aggregate exactly
    val full = df.sparkSession.sparkContext.broadcast(
      Array("categoryA0".getBytes("UTF-8"), "categoryA1".getBytes("UTF-8")))
    val viaKernel = ColumnarCofactor.cofactorPerClassLong(df, Seq(NumCol("x")), Nil,
      ColumnarCofactor.CatDictString("k", full)).get.toMap
    val viaRow = df.groupBy("k").agg(Graft.sumTriple(col("x")).as("t")).collect()
      .map(r => r.getString(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    assert(viaKernel.keySet == Set(0L, 1L))
    assert(viaKernel(0L).approxEquals(viaRow("categoryA0"), 1e-9))
    assert(viaKernel(1L).approxEquals(viaRow("categoryA1"), 1e-9))
  }

  test("cofactorGroupedMulti: GROUP BY k1, k2 packs into the Long label; mixed types, refusals, NULL drops") {
    // string × string (the source × language curation cut): probed
    // widths 2 + 5 = 7 bytes → kernel; parity vs the row aggregate
    val tmp = java.nio.file.Files.createTempDirectory("gmk").toFile.getAbsolutePath
    spark.range(8000).select(
      concat(lit("s"), (col("id") % 3).cast("string")).as("src"), // 2 bytes
      concat(lit("lang"), (col("id") % 5).cast("string")).as("lang"), // 5 bytes
      (col("id") % 11).cast("int").as("tier"),
      when(col("id") % 50 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("s"), (col("id") % 3).cast("string"))).as("srcN"),
      (col("id") % 97).cast("double").as("x"),
      (col("id") % 13).cast("double").as("y"),
      (col("id") % 7).cast("int").as("c")).write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    def collectBy2(out: org.apache.spark.sql.DataFrame): Map[(Any, Any), graft.ring.Triple] =
      out.collect().map(r => ((r.get(0), r.get(1)) -> Graft.tripleFromRow(r.getStruct(2)))).toMap
    val viaKernel = Graft.cofactorGroupedMulti(df, Seq("src", "lang"), Seq("x", "y"), Seq("c"))
    assert(Graft.lastGroupedRoute() == "columnar", "2 short string keys must ride the kernel")
    assert(viaKernel.schema.map(_.name) == Seq("src", "lang", "t"))
    val viaRow = Graft.cofactorGroupedMulti(df.repartition(4), Seq("src", "lang"), Seq("x", "y"), Seq("c"))
    assert(Graft.lastGroupedRoute() == "row")
    val a = collectBy2(viaKernel); val b = collectBy2(viaRow)
    assert(a.keySet == b.keySet && a.size == 15)
    a.keys.foreach(k => assert(a(k).approxEquals(b(k), 1e-9), s"group $k differs"))

    // int × string mixed key: tier ∈ [0,10] owns 1 byte
    val aM = collectBy2(Graft.cofactorGroupedMulti(df, Seq("tier", "lang"), Seq("x"), Seq()))
    assert(Graft.lastGroupedRoute() == "columnar", "int × string must ride the kernel")
    val bM = collectBy2(Graft.cofactorGroupedMulti(df.repartition(4), Seq("tier", "lang"), Seq("x"), Seq()))
    assert(aM.keySet == bM.keySet && aM.size == 55)
    assert(aM.keySet.forall { case (t, l) => t.isInstanceOf[Int] && l.isInstanceOf[String] },
      "key columns must come back in their ORIGINAL types")
    aM.keys.foreach(k => assert(aM(k).approxEquals(bM(k), 1e-9), s"group $k differs"))

    // a NULL in EITHER key drops the row on both routes
    val aN = collectBy2(Graft.cofactorGroupedMulti(df, Seq("srcN", "lang"), Seq("x"), Seq()))
    assert(Graft.lastGroupedRoute() == "columnar")
    val bN = collectBy2(Graft.cofactorGroupedMulti(df.repartition(4), Seq("srcN", "lang"), Seq("x"), Seq()))
    assert(aN.keySet == bN.keySet && !aN.keySet.exists { case (s, _) => s == null })
    assert(aN.values.map(_.n).sum == bN.values.map(_.n).sum)
    aN.keys.foreach(k => assert(aN(k).approxEquals(bN(k), 1e-9), s"group $k differs"))

    // refusals fall back to the row aggregate up front: negative int
    // keys don't zero-pack; Σ widths > 8 bytes
    val tmpR = java.nio.file.Files.createTempDirectory("gmkR").toFile.getAbsolutePath
    spark.range(2000).select(
      ((col("id") % 7) - 3).cast("int").as("neg"),
      concat(lit("verywide"), (col("id") % 3).cast("string")).as("wide"), // 9 bytes
      concat(lit("lang"), (col("id") % 5).cast("string")).as("lang"),
      (col("id") % 97).cast("double").as("x")).write.mode("overwrite").parquet(tmpR)
    val dfR = spark.read.parquet(tmpR)
    val neg = Graft.cofactorGroupedMulti(dfR, Seq("neg", "lang"), Seq("x"), Seq())
    assert(Graft.lastGroupedRoute() == "row", "negative int keys must take the row aggregate")
    assert(neg.count() == 35)
    val wide2 = Graft.cofactorGroupedMulti(dfR, Seq("wide", "lang"), Seq("x"), Seq())
    assert(Graft.lastGroupedRoute() == "row", "9 + 5 bytes cannot pack — row aggregate")
    assert(wide2.count() == 15)

    // THREE keys, mixed types (string 2B + string 5B + int 1B = 8 bytes
    // exactly — the full Long): kernel route, parity, original types
    val a3 = Graft.cofactorGroupedMulti(df, Seq("src", "lang", "tier"), Seq("x"), Seq())
      .collect().map(r => ((r.getString(0), r.getString(1), r.getInt(2))
        -> Graft.tripleFromRow(r.getStruct(3)))).toMap
    assert(Graft.lastGroupedRoute() == "columnar", "2+5+1 bytes must pack into the Long label")
    val b3 = Graft.cofactorGroupedMulti(df.repartition(4), Seq("src", "lang", "tier"), Seq("x"), Seq())
      .collect().map(r => ((r.getString(0), r.getString(1), r.getInt(2))
        -> Graft.tripleFromRow(r.getStruct(3)))).toMap
    assert(Graft.lastGroupedRoute() == "row")
    assert(a3.keySet == b3.keySet && a3.size == 165) // 3 src × 5 lang × 11 tier
    a3.keys.foreach(k => assert(a3(k).approxEquals(b3(k), 1e-9), s"group $k differs"))

    // FOUR keys (2+3+1+1 = 7 bytes — the strategy's 4-key arity cap
    // exercised end-to-end; lang at 5 bytes would overflow: 2+5+1+1 = 9
    // correctly refuses, asserted below)
    val tmp4 = java.nio.file.Files.createTempDirectory("gmk4").toFile.getAbsolutePath
    df.select(col("src"), col("lang"), col("tier"), col("x"),
        concat(lit("g"), (col("tier") % 5).cast("string")).as("lg"), // 2 bytes
        (col("tier") % 2).cast("int").as("flag"))
      .write.mode("overwrite").parquet(tmp4)
    val df4 = spark.read.parquet(tmp4)
    def collectBy4(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => ((r.getString(0), r.getString(1), r.getInt(2), r.getInt(3))
        -> Graft.tripleFromRow(r.getStruct(4)))).toMap
    val a4k = collectBy4(Graft.cofactorGroupedMulti(df4,
      Seq("src", "lg", "tier", "flag"), Seq("x"), Seq()))
    assert(Graft.lastGroupedRoute() == "columnar", "2+2+1+1 bytes pack into the Long")
    val b4k = collectBy4(Graft.cofactorGroupedMulti(df4.repartition(4),
      Seq("src", "lg", "tier", "flag"), Seq("x"), Seq()))
    assert(a4k.keySet == b4k.keySet && a4k.size == 33) // lg, flag tier-determined
    a4k.keys.foreach(k => assert(a4k(k).approxEquals(b4k(k), 1e-9), s"group $k differs"))
    // Σ widths past 8 (2+5+1+1 = 9 with the 5-byte lang) refuses up front
    val over = Graft.cofactorGroupedMulti(df4, Seq("src", "lang", "tier", "flag"),
      Seq("x"), Seq())
    assert(Graft.lastGroupedRoute() == "row", "9 packed bytes must take the row aggregate")
    assert(over.count() == 165)
  }

  test("grouped routes agree on a group whose rows ALL carry a NULL input") {
    // the kernel skips any row with a NULL num/cat input, so a group
    // made ENTIRELY of such rows never appears on the kernel route; the
    // row-aggregate fallback used to keep it as an empty (n=0) triple —
    // both routes must now return the same group SET
    val tmp = java.nio.file.Files.createTempDirectory("gnull").toFile.getAbsolutePath
    spark.range(900).select(
      (col("id") % 3).cast("int").as("k"),
      concat(lit("g"), (col("id") % 3).cast("string")).as("ks"),
      // group k=2 (and ks="g2") is ALL-NULL in x; k=1 is half-NULL
      when(col("id") % 3 === 2, lit(null).cast("double"))
        .when(col("id") % 3 === 1 && col("id") % 2 === 0, lit(null).cast("double"))
        .otherwise(col("id").cast("double")).as("x"))
      .write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    // single-key surface
    val k1 = Graft.cofactorGrouped(df, "k", Seq("x"), Seq())
    assert(Graft.lastGroupedRoute() == "columnar")
    val r1 = Graft.cofactorGrouped(df.repartition(4), "k", Seq("x"), Seq())
    assert(Graft.lastGroupedRoute() == "row")
    val kSet = k1.collect().map(_.getInt(0)).toSet
    assert(kSet == Set(0, 1), s"all-NULL-x group must vanish on the kernel route: $kSet")
    assert(r1.collect().map(_.getInt(0)).toSet == kSet,
      "row fallback must drop the all-NULL-input group too")
    // multi-key surface
    val k2 = Graft.cofactorGroupedMulti(df, Seq("k", "ks"), Seq("x"), Seq())
    assert(Graft.lastGroupedRoute() == "columnar")
    val r2 = Graft.cofactorGroupedMulti(df.repartition(4), Seq("k", "ks"), Seq("x"), Seq())
    assert(Graft.lastGroupedRoute() == "row")
    val k2Set = k2.collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(k2Set == Set((0, "g0"), (1, "g1")))
    assert(r2.collect().map(r => (r.getInt(0), r.getString(1))).toSet == k2Set)
  }

  test("cofactorGroupedMulti fuzz: kernel == row aggregate across random key shapes (seeded)") {
    val rng = new scala.util.Random(0xBEEF16)
    for (round <- 0 until 3) {
      // random per-round shape: value ranges chosen so widths vary
      // across the 1/2/3-byte boundaries, incl. boundary values 255/256
      val kMax = Seq(7, 255, 256, 65535, 70000)(rng.nextInt(5))
      val sLen = 1 + rng.nextInt(4)
      val n = 3000 + rng.nextInt(3000)
      val tmp = java.nio.file.Files.createTempDirectory(s"gmkF$round").toFile.getAbsolutePath
      spark.range(n).select(
        (col("id") % (kMax + 1)).cast("long").as("ki"),
        concat(lit("x" * (sLen - 1)), (col("id") % 4).cast("string")).as("ks"),
        (col("id") % 89).cast("double").as("x"),
        (col("id") % 5).cast("int").as("c")).write.mode("overwrite").parquet(tmp)
      val df = spark.read.parquet(tmp)
      val viaK = Graft.cofactorGroupedMulti(df, Seq("ki", "ks"), Seq("x"), Seq("c"))
      assert(Graft.lastGroupedRoute() == "columnar", s"round $round (kMax=$kMax, sLen=$sLen)")
      val viaR = Graft.cofactorGroupedMulti(df.repartition(3), Seq("ki", "ks"), Seq("x"), Seq("c"))
      assert(Graft.lastGroupedRoute() == "row")
      val a = viaK.collect().map(r => ((r.getLong(0), r.getString(1)) -> Graft.tripleFromRow(r.getStruct(2)))).toMap
      val b = viaR.collect().map(r => ((r.getLong(0), r.getString(1)) -> Graft.tripleFromRow(r.getStruct(2)))).toMap
      assert(a.keySet == b.keySet, s"round $round: ${a.keySet.size} vs ${b.keySet.size} groups")
      a.keys.foreach(k => assert(a(k).approxEquals(b(k), 1e-9), s"round $round group $k differs"))
    }
  }

  test("grouped byte gate: a high-cardinality cat column under a small key routes to the row aggregate") {
    // 800 groups whose cat maps the probe bounds at ~1000 entries each
    // (min(column cardinality 10k, rows/group 1k)) ≈ >100 MB of
    // per-partition buffers: the MEASURED estimate must refuse the
    // kernel — the old flat 256 B/cat allowance admitted exactly this
    // shape. A pinned cap bypasses the byte gate (documented), so the
    // same call pinned proves the reroute lossless via parity.
    val tmp = java.nio.file.Files.createTempDirectory("ggate").toFile.getAbsolutePath
    spark.range(800000).select(
      (col("id") % 800).cast("int").as("k"),
      (col("id") % 10000).cast("int").as("c"),
      (col("id") % 97).cast("double").as("x")).write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    val byGate = Graft.cofactorGrouped(df, "k", Seq("x"), Seq("c"))
    assert(Graft.lastGroupedRoute() == "row",
      "measured cat-map bytes over the 64 MB budget must take the row aggregate")
    val pinned = Graft.cofactorGrouped(df, "k", Seq("x"), Seq("c"), maxGroups = 1000)
    assert(Graft.lastGroupedRoute() == "columnar", "a pinned cap bypasses the byte gate")
    val a = byGate.collect().map(r => r.getInt(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    val b = pinned.collect().map(r => r.getInt(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    assert(a.keySet == b.keySet && a.keySet.size == 800)
    a.keys.foreach(k => assert(a(k).approxEquals(b(k), 1e-9), s"group $k differs"))
  }

  test("grouped auto cap: 10k dimension-like groups still ride the kernel") {
    // the cap scales with per-group buffer size (~64 MB/partition
    // budget): a narrow aggregate admits ~100k groups, so a 10k-key
    // dimension — which a fixed 4096 cap would have silently rerouted
    // to the row aggregate, breaking route-asserting callers as data
    // grows — stays columnar
    val dir = java.nio.file.Files.createTempDirectory("gcap").toFile.getAbsolutePath
    spark.range(40000).select((col("id") % 10000).cast("int").as("k"),
      (col("id") % 97).cast("double").as("x")).write.mode("overwrite").parquet(dir)
    val g = Graft.cofactorGrouped(spark.read.parquet(dir), "k", Seq("x"), Seq())
    assert(Graft.lastGroupedRoute() == "columnar", "10k groups must stay under the auto cap")
    assert(g.count() == 10000)
  }

  test("tripleToRow normalizes -0.0 like the aggregate's catalyst emission") {
    // a group whose sum is IEEE -0.0 must emit +0.0 on BOTH routes —
    // TripleCodec.toCatalyst does `d + 0.0`; the kernel route's
    // external Row must match at the bit level (hash/dedup parity)
    val t = graft.ring.Triple(2L, Array(-0.0), Array(-0.0),
      Array(Map(1 -> 2.0)), Array(Map.empty[Int, Double]), Array(Map.empty[Long, Double]))
    val row = Graft.tripleToRow(t)
    assert(java.lang.Double.doubleToRawLongBits(row.getSeq[Double](1).head) == 0L)
    assert(java.lang.Double.doubleToRawLongBits(row.getSeq[Double](2).head) == 0L)
  }

  test("fuzz: columnar == row aggregate on hostile shapes (negative cats, fat spans, extremes)") {
    // negative category values (window offsets), a 40k-span column
    // (pair tables over cap → per-row fallback mid-stream), magnitudes
    // from -0.0 to 1e12 — the adversarial-input class that surfaced the
    // diagonal-key hash degeneracy
    val rng = new scala.util.Random(99)
    val rows = Seq.tabulate(20000) { _ =>
      val x = rng.nextInt(6) match {
        case 0 => rng.nextDouble() * 1e12
        case 1 => -rng.nextDouble()
        case 2 => 0.0
        case 3 => -0.0
        case _ => rng.nextGaussian()
      }
      (x, rng.nextGaussian() * 100, rng.nextInt(2001) - 1000, rng.nextInt(40000) - 20000)
    }
    val dir = java.nio.file.Files.createTempDirectory("fuzzcol").toFile.getAbsolutePath
    rows.toDF("x", "y", "c1", "c2").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val t = ColumnarCofactor.cofactor(df,
      Seq(NumCol("x"), NumCol("y")), Seq(CatCol("c1"), CatCol("c2")))
    assert(t.isDefined)
    val ref = Graft.tripleFromRow(df.agg(Graft.sumTriple(
      col("x"), col("y"), col("c1"), col("c2")).as("t")).head.getStruct(0))
    assert(t.get.n == ref.n)
    assert(t.get.approxEquals(ref, 1e-9))
  }

  test("fuzz: grouped short-string keys — random 0-4-byte UTF-8 keys, kernel == row aggregate") {
    // the CatShortString pack is injective iff NUL-free; fuzz the whole
    // eligible space (random byte lengths 0-4 incl. multi-byte UTF-8
    // chars and the empty string, NULLs sprinkled) and pin kernel≡row
    // parity on keys AND triples — the adversarial class for a base-256
    // packing is length/prefix aliasing ("A" vs "AA" vs "A" + NUL)
    val rng = new scala.util.Random(1234)
    val alphabet = Seq("a", "Z", "9", "_", "é", "ß", "√") // 1-3 UTF-8 bytes each
    def key(): String = {
      var s = ""
      while (s.getBytes("UTF-8").length < 4 && rng.nextInt(3) > 0) {
        val c = alphabet(rng.nextInt(alphabet.size))
        if ((s + c).getBytes("UTF-8").length <= 4) s += c else return s
      }
      s
    }
    val rows = Seq.tabulate(8000) { _ =>
      (if (rng.nextInt(17) == 0) null else key(), rng.nextGaussian() * 50, rng.nextInt(9))
    }
    val dir = java.nio.file.Files.createTempDirectory("fuzzgstr").toFile.getAbsolutePath
    rows.toDF("k", "x", "c").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val viaKernel = Graft.cofactorGrouped(df, "k", Seq("x"), Seq("c"))
    assert(Graft.lastGroupedRoute() == "columnar", "fuzzed <=4-byte keys must ride the kernel")
    val viaRow = Graft.cofactorGrouped(df.repartition(4), "k", Seq("x"), Seq("c"))
    assert(Graft.lastGroupedRoute() == "row")
    val a = viaKernel.collect().map(r => r.getString(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    val b = viaRow.collect().map(r => r.getString(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    assert(a.keySet == b.keySet, s"kernel keys ${a.keySet.toSeq.sorted} vs row ${b.keySet.toSeq.sorted}")
    assert(a.nonEmpty && !a.keySet.exists(_ == null))
    a.keys.foreach(k => assert(a(k).approxEquals(b(k), 1e-9), s"group '$k' differs"))
  }

  test("fuzz: grouped WIDE string keys — random 0-8-byte UTF-8 keys, Long label channel == row aggregate") {
    // the Long label extends the base-256 pack to 8 bytes: fuzz the full
    // eligible width range (multi-byte UTF-8, empty string, NULLs) and
    // pin kernel≡row parity on keys AND triples — the adversarial class
    // is again length/prefix aliasing, now across the int/long boundary
    // (keys of exactly 4 vs 5 bytes share no packing space)
    val rng = new scala.util.Random(987654)
    val alphabet = Seq("a", "Z", "9", "-", "é", "ß", "√") // 1-3 UTF-8 bytes each
    def key(): String = {
      var s = ""
      while (s.getBytes("UTF-8").length < 8 && rng.nextInt(8) > 0) {
        val c = alphabet(rng.nextInt(alphabet.size))
        if ((s + c).getBytes("UTF-8").length <= 8) s += c else return s
      }
      s
    }
    val rows = Seq.tabulate(8000) { _ =>
      (if (rng.nextInt(17) == 0) null else key(), rng.nextGaussian() * 50, rng.nextInt(9))
    }
    val dir = java.nio.file.Files.createTempDirectory("fuzzgwide").toFile.getAbsolutePath
    rows.toDF("k", "x", "c").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    // the fuzz must actually cover the wide range: require some key > 4 bytes
    assert(rows.exists(r => r._1 != null && r._1.getBytes("UTF-8").length > 4),
      "fuzz generator must produce 5-8-byte keys")
    val viaKernel = Graft.cofactorGrouped(df, "k", Seq("x"), Seq("c"))
    assert(Graft.lastGroupedRoute() == "columnar", "fuzzed <=8-byte keys must ride the kernel")
    val viaRow = Graft.cofactorGrouped(df.repartition(4), "k", Seq("x"), Seq("c"))
    assert(Graft.lastGroupedRoute() == "row")
    val a = viaKernel.collect().map(r => r.getString(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    val b = viaRow.collect().map(r => r.getString(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    assert(a.keySet == b.keySet, s"kernel keys ${a.keySet.toSeq.sorted} vs row ${b.keySet.toSeq.sorted}")
    assert(a.nonEmpty && !a.keySet.exists(_ == null))
    a.keys.foreach(k => assert(a(k).approxEquals(b(k), 1e-9), s"group '$k' differs"))
  }

  test("harvest engages for any name casing select() accepts") {
    // spark.sql.caseSensitive=false (the default): select("L_QUANTITY")
    // resolves, so the kernel's ordinal lookup must too — an exact-match
    // refusal here silently drops to the row aggregate (a perf cliff
    // Bench-style require(t.isDefined) callers would hit as a confusing
    // failure)
    val t = ColumnarCofactor.cofactor(li,
      Seq(NumCol("L_QUANTITY"), NumCol("l_extendedprice")),
      Seq(CatCol("L_LINENUMBER")))
    assert(t.isDefined, "upper-cased names must still engage the harvest")
    val ref = Graft.tripleFromRow(
      li.agg(Graft.sumTriple(col("l_quantity"), col("l_extendedprice"), col("l_linenumber")).as("t"))
        .head.getStruct(0))
    assert(t.get.approxEquals(ref, 1e-9))
  }

  // ---- the per-class gather: each batch is laid out class by class and
  // every class's rows run the flat path's moments and dense tier ----

  /** `df`'s rows (ids in order, one file, so parquet batches of 4096
    * consecutive ids) written and read back. */
  private def oneFile(name: String, df: org.apache.spark.sql.DataFrame) = {
    val tmp = java.nio.file.Files.createTempDirectory(name).toFile.getAbsolutePath
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp)
  }

  private def rowTriples(df: org.apache.spark.sql.DataFrame, keys: Seq[String], nums: Seq[String],
                         cats: Seq[String], nb: Boolean): Map[Seq[Any], graft.ring.Triple] = {
    val args = (nums ++ cats).map(col)
    df.filter(keys.map(k => col(k).isNotNull).reduce(_ && _)).groupBy(keys.map(col): _*)
      .agg((if (nb) Graft.sumNbAgg(args: _*) else Graft.sumTriple(args: _*)).as("t"))
      .collect().map(r => keys.indices.map(r.get) -> Graft.tripleFromRow(r.getStruct(keys.size)))
      .filter(_._2.n > 0).toMap // a class whose rows all hold a NULL input has no kernel row
  }

  private def assertParity(got: Map[Seq[Any], graft.ring.Triple],
                           exp: Map[Seq[Any], graft.ring.Triple], what: String): Unit = {
    assert(got.keySet == exp.keySet, s"$what: classes differ")
    got.foreach { case (k, t) => assert(t.approxEquals(exp(k), 1e-9), s"$what: class $k differs") }
  }

  test("per-class gather == groupBy(label) row aggregate on adversarial labels, NB on and off") {
    // ids 0-11999: labels -1, -2, -3 in runs of 5000 (whole batches of
    // one class); 12000-23999: 7, -100000, 200000 cycling (a batch span
    // far past DenseSpanCap) plus 999999 on ten rows of one batch only;
    // 24000-29999: i % 5 with an in-class categorical spanning 240001
    // (dense tier refused → updateCats); 30000-32999: a label per row
    // (under 8 rows per class: the row-at-a-time feed). NULL labels, NULL
    // x and a compiled filter exercise the NULL/filter compaction.
    val i = col("id")
    val df = oneFile("gather", spark.range(33000).select(
      when(i % 13 === 5, lit(null).cast("long"))
        .when(i < 12000, -(i / 5000).cast("long") - 1)
        .when(i >= 20000 && i < 20010, lit(999999L))
        .when(i < 24000, element_at(array(lit(7L), lit(-100000L), lit(200000L)), (i % 3 + 1).cast("int")))
        .when(i < 30000, i % 5)
        .otherwise(i + 1000000).as("lbl"),
      when(i % 11 === 3, lit(null).cast("double")).otherwise((i % 97) * 0.5 - 20).as("x"),
      ((i % 17) - 8).cast("double").as("y"),
      when(i >= 24000 && i < 30000, (i % 7) * 40000 - 100000).otherwise(i % 4 - 2).cast("int").as("c"),
      concat(lit("https://example.org/p"), (i % 6).cast("string")).as("url"),
      element_at(array(lit("A"), lit("BC"), lit("D")), (i % 3 + 1).cast("int")).as("s"),
      ((i / 1000) % 300).cast("int").as("k")))
    val kept = df.filter(col("y") > -5)
    val nums = Seq(NumCol("x"), NumCol("y"))
    for (nb <- Seq(false, true)) {
      for ((what, src) <- Seq("bare" -> df, "filtered" -> kept)) {
        val got = ColumnarCofactor.cofactorPerClassLong(src, nums, Seq(CatCol("c")), CatCol("lbl"), nb).get
          .map { case (l, t) => Seq[Any](l) -> t }.toMap
        assertParity(got, rowTriples(src, Seq("lbl"), Seq("x", "y"), Seq("c"), nb), s"$what nb=$nb")
      }
      val urls = df.select("url").distinct().collect().map(_.getString(0)).sorted
      val dict = spark.sparkContext.broadcast(urls.map(_.getBytes("UTF-8")))
      val byDict = ColumnarCofactor.cofactorPerClassLong(kept, nums, Seq(CatCol("c")),
        CatDictString("url", dict), nb).get.map { case (l, t) => Seq[Any](urls(l.toInt)) -> t }.toMap
      assertParity(byDict, rowTriples(kept, Seq("url"), Seq("x", "y"), Seq("c"), nb), s"dictionary nb=$nb")
      val byPacked = ColumnarCofactor.cofactorPerClassLong(kept, nums, Seq(CatCol("c")),
        CatPackedKeys(Seq("s", "k"), Seq(2, 2)), nb).get.map { case (l, t) =>
          val Seq(sk, kk) = unpackPackedKeys(l, Seq(2, 2))
          Seq[Any](unpackShortString(sk), kk.toInt) -> t
        }.toMap
      assertParity(byPacked, rowTriples(kept, Seq("s", "k"), Seq("x", "y"), Seq("c"), nb), s"packed nb=$nb")
    }
  }

  test("per-class gather keeps the label and in-class categorical guards and their messages") {
    val i = col("id")
    val df = oneFile("gatherguard", spark.range(9000).select(
      (i % 5).cast("int").as("lbl"), (i % 2).cast("int").as("two"),
      (i % 5).cast("int").as("c"), (i % 31).cast("double").as("x")))
    def failure(f: => Any): String = {
      val ex = intercept[Exception](f)
      def causes(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ causes(t.getCause)
      causes(ex).mkString("\n")
    }
    // ~800 rows per class per batch: the gathered path throws
    assert(failure(ColumnarCofactor.cofactorPerClass(df, Seq(NumCol("x")), Nil, CatCol("lbl"),
      maxCategories = 3)).contains("per-class cofactor: label exceeded 3 distinct classes — " +
      "this looks like an ID, not a label (raise spark.graft.cofactor.maxCategories to override)"))
    for (nb <- Seq(false, true))
      assert(failure(ColumnarCofactor.cofactorPerClass(df, Seq(NumCol("x")), Seq(CatCol("c")),
        CatCol("two"), nb, maxCategories = 3)).contains("cofactor: categorical column #0 exceeded 3 " +
        "distinct values — this looks like an ID, not a category " +
        "(raise spark.graft.cofactor.maxCategories to override)"))
  }

  test("per-class gather: singleton classes beside a large one equal the row loop exactly") {
    // one batch: 4000 rows of class 0 and 96 one-row classes — gathered
    // (over 8 rows per class on average), each singleton a one-row block
    val i = col("id")
    val df = oneFile("gathersingle", spark.range(4096).select(
      when(i < 4000, lit(0L)).otherwise(i).as("lbl"),
      (i % 29 - 14.5).as("x"), ((i * 7) % 13).cast("double").as("y"), (i % 3).cast("int").as("c")))
    for (nb <- Seq(false, true)) {
      val got = ColumnarCofactor.cofactorPerClassLong(df, Seq(NumCol("x"), NumCol("y")),
        Seq(CatCol("c")), CatCol("lbl"), nb).get.map { case (l, t) => Seq[Any](l) -> t }.toMap
      val exp = rowTriples(df, Seq("lbl"), Seq("x", "y"), Seq("c"), nb)
      assert(got.size == 97)
      assertParity(got, exp, s"nb=$nb")
      got.foreach { case (k, t) =>
        if (k != Seq(0L)) assert(t.approxEquals(exp(k), 0.0), s"nb=$nb: singleton $k is not exact")
      }
    }
  }

  test("a stopped and restarted SparkContext is never served a dead dictionary broadcast") {
    // one context per JVM: the check runs in its own JVM
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft-dict-restart").toString + "/t"
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++ jvm ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.GroupDictRestartCheck", dir)
    val log = new StringBuilder
    val exit = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(
      l => log.append(l).append('\n'), l => if (!l.contains(" INFO ")) log.append(l).append('\n')))
    assert(exit == 0, s"restart check failed:\n${log.toString.takeRight(4000)}")
  }
}
