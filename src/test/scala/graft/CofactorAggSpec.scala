package graft

import graft.ring.Triple
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = Graft.register(
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.rdd.compress", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
}

/** Spark-side goldens for the fused cofactor aggregate — same F1 fixture
  * and expected values as RingSpec, exercised through SQL + DataFrame API
  * including partial-aggregation merges across partitions. */
class CofactorAggSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def fixture() = {
    val df = Seq(
      (1, 1.0, 2.0, 3.0, 4, 5, 6),
      (1, 5.0, 6.0, 7.0, 8, 9, 10),
      (2, 2.0, 1.0, 3.0, 4, 6, 8),
      (2, 5.0, 7.0, 6.0, 8, 10, 12),
      (2, 2.0, 1.0, 3.0, 4, 6, 8)
    ).toDF("gb", "a", "b", "c", "d", "e", "f").repartition(3) // force merges
    df.createOrReplaceTempView("test")
    df
  }

  val golden33: Triple = {
    val rows = Seq(
      (Array(1.0, 2.0, 3.0), Array(4, 5, 6)),
      (Array(5.0, 6.0, 7.0), Array(8, 9, 10)),
      (Array(2.0, 1.0, 3.0), Array(4, 6, 8)),
      (Array(5.0, 7.0, 6.0), Array(8, 10, 12)),
      (Array(2.0, 1.0, 3.0), Array(4, 6, 8)))
    rows.map { case (n, c) => Triple.lift(n, c) }.reduce(Triple.add)
  }

  test("fused aggregate over whole table matches golden (test_sum.py:25)") {
    fixture()
    val row = spark.sql("SELECT sum_to_triple(a,b,c,d,e,f) AS t FROM test").select("t").head.getStruct(0)
    assert(Graft.tripleFromRow(row) == golden33)
  }

  test("DataFrame API + GROUP BY + HAVING (test_sum.py:29-38)") {
    val df = fixture()
    val byGb = df.groupBy($"gb").agg(Graft.sumTriple($"a", $"b", $"c", $"d", $"e", $"f").as("t"))
      .collect().map(r => r.getInt(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    assert(byGb(1).n == 2 && byGb(1).lin.toSeq == Seq(6.0, 8.0, 10.0))
    assert(byGb(2).n == 3 && byGb(2).quad.toSeq == Seq(33.0, 39.0, 42.0, 51.0, 48.0, 54.0))
    assert(Triple.add(byGb(1), byGb(2)) == golden33)
    val having = spark.sql(
      "SELECT sum_to_triple(a,b,c,d,e,f) AS t FROM test GROUP BY gb HAVING gb = 2").head.getStruct(0)
    assert(Graft.tripleFromRow(having) == byGb(2))
  }

  test("fused == unfused: sum_triple(to_cofactor(...)) (test_sum.py:40-52)") {
    fixture()
    val fused = spark.sql("SELECT sum_to_triple(a,b,c,d,e,f) FROM test").head.getStruct(0)
    val unfused = spark.sql("SELECT sum_triple(to_cofactor(a,b,c,d,e,f)) FROM test").head.getStruct(0)
    assert(Graft.tripleFromRow(fused) == Graft.tripleFromRow(unfused))
  }

  test("factorized join: sum_triple(multiply_triple(A,B)) matches golden (test_mul.py:24-27)") {
    fixture()
    val row = spark.sql(
      """SELECT multiply_triple(A, B) AS t FROM
        |  (SELECT sum_to_triple(b,c,d,e) AS A FROM test WHERE gb = 1) JOIN
        |  (SELECT sum_to_triple(a,c,d,f) AS B FROM test WHERE gb = 2) ON TRUE""".stripMargin)
      .head.getStruct(0)
    val m = Graft.tripleFromRow(row)
    assert(m.n == 6L)
    assert(m.lin.toSeq == Seq(24.0, 30.0, 18.0, 24.0))
    assert(m.quad.toSeq == Seq(120.0, 144.0, 72.0, 96.0, 174.0, 90.0, 120.0, 66.0, 84.0, 108.0))
    assert(m.linCat.toSeq == Seq(
      Map(4 -> 3.0, 8 -> 3.0), Map(5 -> 3.0, 9 -> 3.0),
      Map(4 -> 4.0, 8 -> 2.0), Map(8 -> 4.0, 12 -> 2.0)))
  }

  test("factorized-join identity on per-key aggregates == triple of materialized join") {
    val df = fixture()
    // per-key pre-aggregates multiplied and summed ...
    val a = df.groupBy($"gb").agg(Graft.sumTriple($"b", $"c", $"d", $"e").as("A"))
    val b = df.groupBy($"gb").agg(Graft.sumTriple($"a", $"c", $"d", $"f").as("B"))
    val fact = a.join(b, "gb")
      .select(Graft.sumTripleOf(Graft.multiplyTriple($"A", $"B")).as("t"))
      .head.getStruct(0)
    // ... equals the triple over the materialized self-join
    val j = df.as("x").join(df.as("y"), "gb")
      .select($"x.b", $"x.c", $"y.a", $"y.c".as("c2"), $"x.d", $"x.e", $"y.d".as("d2"), $"y.f")
    val mat = j.agg(Graft.sumTriple($"b", $"c", $"a", $"c2", $"d", $"e", $"d2", $"f").as("t"))
      .head.getStruct(0)
    assert(Graft.tripleFromRow(fact) == Graft.tripleFromRow(mat))
  }

  test("NB aggregate: fused == unfused, diagonal quad (test_nb_sum.py)") {
    fixture()
    val fused = spark.sql("SELECT sum_to_nb_agg(a,b,c,d,e,f) FROM test").head.getStruct(0)
    val unfused = spark.sql("SELECT sum_nb_agg(to_nb_agg(a,b,c,d,e,f)) FROM test").head.getStruct(0)
    val t = Graft.tripleFromRow(fused)
    assert(t == Graft.tripleFromRow(unfused))
    assert(t.n == 5 && t.quad.toSeq == Seq(59.0, 91.0, 112.0))
    assert(t.linCat.toSeq == Seq(
      Map(4 -> 3.0, 8 -> 2.0),
      Map(5 -> 1.0, 6 -> 2.0, 9 -> 1.0, 10 -> 1.0),
      Map(6 -> 1.0, 8 -> 2.0, 10 -> 1.0, 12 -> 1.0)))
  }

  test("wide shapes: 25 numeric x 25 categorical columns (beyond the reference's 20x20 cap)") {
    val numCols = 25; val catCols = 25
    val rng = new scala.util.Random(3)
    val data = Seq.fill(200)(Row.fromSeq(
      Seq.fill(numCols)(rng.nextInt(10).toDouble) ++ Seq.fill(catCols)(rng.nextInt(4))))
    val schema = org.apache.spark.sql.types.StructType(
      (0 until numCols).map(i => org.apache.spark.sql.types.StructField(s"n$i", org.apache.spark.sql.types.DoubleType)) ++
        (0 until catCols).map(i => org.apache.spark.sql.types.StructField(s"c$i", org.apache.spark.sql.types.IntegerType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(data, 4), schema)
    val cols = (0 until numCols).map(i => org.apache.spark.sql.functions.col(s"n$i")) ++
      (0 until catCols).map(i => org.apache.spark.sql.functions.col(s"c$i"))
    val t = Graft.tripleFromRow(df.agg(Graft.sumTriple(cols: _*).as("t")).head.getStruct(0))
    assert(t.n == 200 && t.numCols == numCols && t.catCols == catCols)
    assert(t.quad.length == numCols * (numCols + 1) / 2)
    assert(t.quadNumCat.length == numCols * catCols)
    assert(t.quadCat.length == catCols * (catCols + 1) / 2)
    // spot-check against plain SQL sums
    val chk = df.agg(
      org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.col("n0")),
      org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.col("n0") * org.apache.spark.sql.functions.col("n24"))).head
    assert(math.abs(t.lin(0) - chk.getDouble(0)) < 1e-9)
    assert(math.abs(t.quad(Triple.triIdx(0, 24, numCols)) - chk.getDouble(1)) < 1e-9)
  }

  test("expression inputs: to_cofactor(a+b+c) and fused over derived columns (test_lift.py:58-63)") {
    fixture()
    val t = Graft.tripleFromRow(
      spark.sql("SELECT sum_triple(to_cofactor(a+b+c)) FROM test").head.getStruct(0))
    // rows: a+b+c = 6, 18, 6, 18, 6
    assert(t.n == 5 && t.lin.toSeq == Seq(54.0))
    assert(t.quad.toSeq == Seq(36.0 * 3 + 324.0 * 2))
    val fused = Graft.tripleFromRow(
      spark.sql("SELECT sum_to_triple(a+b+c, d+e) FROM test").head.getStruct(0))
    assert(fused.n == 5 && fused.lin.toSeq == Seq(54.0))
    assert(fused.linCat.toSeq == Seq(Map(9 -> 1.0, 17 -> 1.0, 10 -> 2.0, 18 -> 1.0)))
  }

  test("bucketed tables join without a shuffle (co-located cofactor join at scale)") {
    val dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      graft.sources.Tables.writeBucketed(
        spark.read.parquet(s"$dir/lineitem.parquet"), "li_bkt", "l_orderkey", 8)
      graft.sources.Tables.writeBucketed(
        spark.read.parquet(s"$dir/orders.parquet"), "ord_bkt", "o_orderkey", 8)
      val j = spark.table("li_bkt").join(spark.table("ord_bkt"),
        org.apache.spark.sql.functions.col("l_orderkey") === org.apache.spark.sql.functions.col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(Graft.sumTriple(
          org.apache.spark.sql.functions.col("l_quantity"),
          org.apache.spark.sql.functions.col("o_totalprice")).as("t"))
      val physical = j.queryExecution.executedPlan.toString
      assert(!physical.contains("Exchange"), s"bucketed join still shuffles:\n$physical")
      assert(j.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
      spark.sql("DROP TABLE IF EXISTS li_bkt")
      spark.sql("DROP TABLE IF EXISTS ord_bkt")
    }
  }

  test("attachOrWriteBucketed: write once, re-attach metadata-only, co-located join intact") {
    val dir = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("bkt").toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      // first call pays the write (external table at tmp path)
      val li1 = graft.sources.Tables.attachOrWriteBucketed(spark, s"$dir/lineitem.parquet",
        "att_li_bkt", "l_orderkey", Seq("l_orderkey", "l_quantity"), s"$tmp/li", 8)
      val n = li1.count()
      assert(n > 5000)
      // each bucket lands in ONE file (repartition pre-shuffle shares
      // bucketBy's hash) — plus the _SUCCESS marker
      val files = new java.io.File(s"$tmp/li").listFiles().map(_.getName)
        .filter(_.endsWith(".parquet"))
      assert(files.length == 8, s"expected 8 single-file buckets, got ${files.toSeq}")
      // DROP keeps external files; the re-attach must be metadata-only
      // (CREATE ... CLUSTERED BY ... LOCATION) and keep the bucket spec
      spark.sql("DROP TABLE att_li_bkt")
      val li2 = graft.sources.Tables.attachOrWriteBucketed(spark, s"$dir/lineitem.parquet",
        "att_li_bkt", "l_orderkey", Seq("l_orderkey", "l_quantity"), s"$tmp/li", 8)
      assert(li2.count() == n, "re-attached table must see the same rows")
      graft.sources.Tables.attachOrWriteBucketed(spark, s"$dir/orders.parquet",
        "att_ord_bkt", "o_orderkey", Seq("o_orderkey", "o_totalprice"), s"$tmp/ord", 8)
      val j = spark.table("att_li_bkt").join(spark.table("att_ord_bkt"),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"re-attached bucketed join shuffles:\n$plan")
      assert(j.count() == n)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
      spark.sql("DROP TABLE IF EXISTS att_li_bkt")
      spark.sql("DROP TABLE IF EXISTS att_ord_bkt")
    }
  }

  test("nulls are skipped; empty input yields zero triple") {
    val df = Seq(
      (Some(1.0), Some(2)), (None, Some(3)), (Some(4.0), None), (Some(2.0), Some(2))
    ).toDF("x", "c")
    df.createOrReplaceTempView("withnulls")
    val t = Graft.tripleFromRow(
      spark.sql("SELECT sum_to_triple(x, c) FROM withnulls").head.getStruct(0))
    assert(t.n == 2 && t.lin.toSeq == Seq(3.0) && t.linCat.toSeq == Seq(Map(2 -> 2.0)))
    val empty = Graft.tripleFromRow(
      spark.sql("SELECT sum_to_triple(x, c) FROM withnulls WHERE x > 100").head.getStruct(0))
    assert(empty.n == 0)
  }

  test("salted two-stage grouped cofactor == plain grouped cofactor") {
    val rng = new scala.util.Random(17)
    // heavy skew: 80% of rows land on key 0
    val rows = Seq.tabulate(2000) { i =>
      (if (rng.nextDouble() < 0.8) 0 else rng.nextInt(5),
        rng.nextInt(10).toDouble, rng.nextInt(4))
    }
    val df = rows.toDF("k", "x", "c").repartition(7)
    val plain = df.groupBy($"k")
      .agg(Graft.sumTriple($"x", $"c").as("t"))
      .collect().map(r => r.getInt(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    val salted = Graft.cofactorGroupedSalted(df, Seq("k"), Seq("x"), Seq("c"), saltBuckets = 8)
      .collect().map(r => r.getInt(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    assert(salted.keySet == plain.keySet)
    salted.foreach { case (k, t) =>
      assert(t.approxEquals(plain(k), 1e-9), s"key $k salted/plain mismatch")
    }
  }

  /** (sum, lift) pairs of the full and the NB forms of `sum_triple`. */
  private val sumForms = Seq(
    ("sum_triple", "to_cofactor", (n: Array[Double], c: Array[Int]) => Triple.lift(n, c)),
    ("sum_nb_agg", "to_nb_agg", (n: Array[Double], c: Array[Int]) => Triple.liftNb(n, c)))

  test("sum_triple skips NULL inputs; an empty or all-NULL group is NULL (full and NB forms)") {
    val df = Seq[(Int, Option[Double], Option[Int])](
      (1, Some(1.0), Some(2)), (1, None, Some(3)), (1, Some(4.0), None), (1, Some(2.0), Some(2)),
      (2, None, Some(1)), (2, Some(3.0), None)
    ).toDF("g", "x", "c").repartition(3)
    df.createOrReplaceTempView("sum_nulls")
    for ((sum, lift, _) <- sumForms) {
      val fused = if (sum == "sum_triple") "sum_to_triple" else "sum_to_nb_agg"
      val byG = spark.sql(s"SELECT g, $sum($lift(x, c)) FROM sum_nulls GROUP BY g").collect()
        .map(r => r.getInt(0) -> Option(r.getStruct(1)).map(Graft.tripleFromRow)).toMap
      val want = Graft.tripleFromRow(
        spark.sql(s"SELECT $fused(x, c) FROM sum_nulls WHERE g = 1").head.getStruct(0))
      assert(want.n == 2 && byG(1).contains(want), s"$sum: ${byG(1)} vs $want")
      assert(byG(2).isEmpty, s"$sum: an all-NULL group is NULL")
      assert(spark.sql(s"SELECT $sum($lift(x, c)) FROM sum_nulls WHERE g > 2").head.isNullAt(0),
        s"$sum: an empty group is NULL")
    }
  }

  test("sum_triple throws on inputs of different shapes (full and NB forms)") {
    val df = Seq.tabulate(20)(i => (i, i.toDouble, i % 3)).toDF("i", "x", "c").repartition(2)
    for ((sum, lift, _) <- sumForms) {
      val e = intercept[Exception] {
        df.selectExpr(s"$sum(CASE WHEN i % 2 = 0 THEN $lift(x, c) ELSE $lift(x, x, c) END)").head()
      }
      assert(msgs(e).exists(_.contains("shape mismatch")), s"$sum: unexpected error: $e")
    }
  }

  test("sum_triple under the sort-based fallback == the hash path == a Triple.add fold") {
    val rng = new scala.util.Random(11)
    // integer-valued, so every summation order is exact; group 6 only
    // carries NULL triples, so its NULL state goes through serialize
    val rows = Seq.tabulate(600) { i =>
      val g = i % 7
      (g, if (g == 6 || rng.nextInt(5) == 0) None else Some(rng.nextInt(9).toDouble),
        rng.nextInt(5), rng.nextInt(3))
    }
    val df = rows.toDF("g", "x", "c", "d").repartition(5)
    for ((sum, lift, liftRow) <- sumForms) {
      def run() = df.groupBy($"g").agg(org.apache.spark.sql.functions.expr(s"$sum($lift(x, c, d))"))
        .collect().map(r => r.getInt(0) -> Option(r.getStruct(1)).map(Graft.tripleFromRow)).toMap
      val hash = run()
      spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1")
      val sorted = try run()
        finally spark.conf.unset("spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
      val folded = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.collect { case (_, Some(x), c, d) => liftRow(Array(x), Array(c, d)) }
          .reduceOption(Triple.add)
      }
      assert(hash(6).isEmpty && hash.size == 7, s"$sum: $hash")
      assert(sorted == hash, s"$sum: the sort-based fallback differs from the hash path")
      assert(hash == folded, s"$sum: the hash path differs from a Triple.add fold")
    }
  }

  private def msgs(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))

  test("categorical-cardinality guard rejects ID-like columns") {
    spark.conf.set("spark.graft.cofactor.maxCategories", "16")
    try {
      val df = (0 until 1000).map(i => (i.toDouble, i)).toDF("x", "id")
      val e = intercept[Exception] {
        df.agg(Graft.sumTriple($"x", $"id")).head
      }
      assert(msgs(e).exists(_.contains("distinct values")),
        s"unexpected error: $e")
    } finally spark.conf.unset("spark.graft.cofactor.maxCategories")
  }
}
