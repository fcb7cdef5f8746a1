package graft

import graft.plans.FactorizeCofactorRule
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Test-only leaf carrying explicit row/column statistics, so the
  * cardinality gate can be exercised without catalog ANALYZE machinery. */
case class StatsRelation(
    output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
    rows: Long,
    ndv: Seq[(org.apache.spark.sql.catalyst.expressions.Attribute, Long)])
  extends org.apache.spark.sql.catalyst.plans.logical.LeafNode {
  import org.apache.spark.sql.catalyst.plans.logical.{ColumnStat, Statistics}
  override def computeStats(): Statistics = Statistics(
    sizeInBytes = BigInt(rows) * 16,
    rowCount = Some(BigInt(rows)),
    attributeStats = org.apache.spark.sql.catalyst.expressions.AttributeMap(
      ndv.map { case (a, d) => a -> ColumnStat(distinctCount = Some(BigInt(d))) }))
}

/** The auto-factorization optimizer rule: cofactor-over-join rewritten
  * to per-key pre-aggregates + ring product, with identical results. */
class PlansSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def fixtures() = {
    val l = Seq((1, 1.0, 2.0, 3), (1, 2.0, 1.0, 4), (2, 5.0, 0.0, 3), (3, 1.0, 1.0, 5))
      .toDF("k", "lx", "ly", "lc")
    val r = Seq((1, 10.0, 7), (2, 20.0, 8), (2, 30.0, 8), (4, 40.0, 9))
      .toDF("k", "rx", "rc")
    (l, r)
  }

  def withRule[T](f: => T): T = {
    spark.experimental.extraOptimizations = Seq(FactorizeCofactorRule)
    try f finally spark.experimental.extraOptimizations = Nil
  }

  test("rule fires on block-compatible cofactor over equi-join and preserves results") {
    Graft.register(spark)
    val (l, r) = fixtures()
    def query = l.join(r, "k")
      .agg(Graft.sumTriple($"lx", $"ly", $"rx", $"lc", $"rc").as("t"))
    val plain = Graft.tripleFromRow(query.head.getStruct(0))
    val (factPlan, fact) = withRule {
      val q = query
      (q.queryExecution.optimizedPlan.toString, Graft.tripleFromRow(q.head.getStruct(0)))
    }
    assert(factPlan.contains("multiply_triple"), s"rule did not fire:\n$factPlan")
    assert(factPlan.contains("sum_triple"))
    assert(fact == plain, "factorized result differs from direct aggregation")
    assert(fact.n == 4) // k=1: 2x1, k=2: 1x2 → 4 join rows
  }

  test("interleaved column order fires with a PermuteTriple wrapper and matches direct") {
    Graft.register(spark)
    val (l, r) = fixtures()
    def query = l.join(r, "k")
      .agg(Graft.sumTriple($"rx", $"lx", $"ly", $"rc", $"lc").as("t"))
    val plain = Graft.tripleFromRow(query.head.getStruct(0))
    val fact = withRule {
      val q = query
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("multiply_triple") && plan.contains("permute_triple"), plan)
      Graft.tripleFromRow(q.head.getStruct(0))
    }
    assert(fact == plain, "permuted factorized result differs from direct aggregation")
  }

  test("rule handles one-sided column sets and grouped keys stay untouched") {
    Graft.register(spark)
    val (l, r) = fixtures()
    // all columns from the left: right side contributes only multiplicity
    val plain = Graft.tripleFromRow(
      l.join(r, "k").agg(Graft.sumTriple($"lx", $"lc").as("t")).head.getStruct(0))
    val fact = withRule {
      val q = l.join(r, "k").agg(Graft.sumTriple($"lx", $"lc").as("t"))
      assert(q.queryExecution.optimizedPlan.toString.contains("multiply_triple"))
      Graft.tripleFromRow(q.head.getStruct(0))
    }
    assert(fact == plain)
  }

  test("GROUPED cofactor over a join factorizes: per-(key, group) partials, identical groups") {
    Graft.register(spark)
    val (l, r) = fixtures()
    def collectGroups(df: org.apache.spark.sql.DataFrame): Map[Int, graft.ring.Triple] =
      df.collect().map(row => row.getInt(0) -> Graft.tripleFromRow(row.getStruct(1))).toMap
    // group column from the LEFT side
    def gq = l.join(r, "k").groupBy($"lc").agg(Graft.sumTriple($"lx", $"rx").as("t"))
    val plainL = collectGroups(gq)
    val factL = withRule {
      val q = gq
      assert(q.queryExecution.optimizedPlan.toString.contains("multiply_triple"),
        s"grouped (left group col) rule did not fire:\n${q.queryExecution.optimizedPlan}")
      collectGroups(q)
    }
    assert(factL.keySet == plainL.keySet)
    for ((k, t) <- plainL) assert(factL(k).approxEquals(t, 1e-9), s"group $k diverged")
    // group columns from BOTH sides: per-key product of (k,g1)×(k,g2)
    // partials must reproduce every (g1,g2) group of the join
    def gq2 = l.join(r, "k").groupBy($"lc", $"rc").agg(Graft.sumTriple($"lx", $"rx").as("t"))
    def collect2(df: org.apache.spark.sql.DataFrame): Map[(Int, Int), graft.ring.Triple] =
      df.collect().map(row => (row.getInt(0), row.getInt(1)) -> Graft.tripleFromRow(row.getStruct(2))).toMap
    val plain2 = collect2(gq2)
    val fact2 = withRule {
      val q = gq2
      assert(q.queryExecution.optimizedPlan.toString.contains("multiply_triple"))
      collect2(q)
    }
    assert(fact2.keySet == plain2.keySet && plain2.nonEmpty)
    for ((k, t) <- plain2) assert(fact2(k).approxEquals(t, 1e-9), s"group $k diverged")
    // grouping BY the join key itself must not repeat the key column
    def gqk = l.join(r, "k").groupBy($"k").agg(Graft.sumTriple($"lx", $"rx").as("t"))
    val plainK = collectGroups(gqk)
    val factK = withRule {
      val q = gqk
      assert(q.queryExecution.optimizedPlan.toString.contains("multiply_triple"))
      collectGroups(q)
    }
    assert(factK.keySet == plainK.keySet)
    for ((k, t) <- plainK) assert(factK(k).approxEquals(t, 1e-9), s"group $k diverged")
  }

  test("rewritten pre-aggregate join carries a size-guarded SHUFFLE_HASH hint") {
    Graft.register(spark)
    import org.apache.spark.sql.catalyst.plans.logical.{Join, SHUFFLE_HASH}
    val (l, r) = fixtures()
    def query = l.join(r, "k").agg(Graft.sumTriple($"lx", $"rx").as("t"))
    def hintedJoins(q: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val joins = q.queryExecution.optimizedPlan.collect { case j: Join => j }
      val hinted = joins.count(j => Seq(j.hint.leftHint, j.hint.rightHint).flatten
        .exists(_.strategy.contains(SHUFFLE_HASH)))
      (joins.length, hinted)
    }
    // tiny pre-aggregates: the estimated build fits the cap, the join
    // the rewrite emits must not leave the planner to SMJ-sort |keys|
    // serialized triple buffers
    withRule {
      val q = query
      assert(q.queryExecution.optimizedPlan.toString.contains("multiply_triple"))
      val (n, h) = hintedJoins(q)
      assert(n > 0 && h == n, s"expected every rewritten join hinted, got $h of $n")
    }
    // cap disabled (<= 0): SHJ's build cannot spill, so the rule must
    // NOT pin it — the planner keeps its spill-capable choice
    val key = "spark.graft.shj.maxBuildPartitionBytes"
    spark.conf.set(key, "0")
    try withRule {
      val q = query
      assert(q.queryExecution.optimizedPlan.toString.contains("multiply_triple"))
      val (n, h) = hintedJoins(q)
      assert(n > 0 && h == 0, s"expected no hint past the cap, got $h of $n")
    } finally spark.conf.unset(key)
  }

  test("STAR auto-factorization: grouped rewrite composes recursively over fact ⋈ dim1 ⋈ dim2") {
    Graft.register(spark)
    // the outer (global) rewrite leaves a grouped side-aggregate over the
    // inner join; the optimizer's fixed point re-applies the rule there,
    // so BOTH joins end up factorized — the fact pre-aggregated by
    // (k1, k2), each dim by its own key: exactly cofactorOverStar's
    // chained decomposition, derived by Catalyst instead of by hand
    val f = Seq.tabulate(120)(i => (i % 6, i % 4, i * 0.5, i % 3))
      .toDF("k1", "k2", "fx", "fc")
    val d1 = Seq.tabulate(6)(k => (k, k * 2.0)).toDF("k1", "d1x")
    val d2 = Seq.tabulate(4)(k => (k, k * 3.0 - 1.0)).toDF("k2", "d2x")
    def q = f.join(d1, "k1").join(d2, "k2")
      .agg(Graft.sumTriple($"fx", $"d1x", $"d2x", $"fc").as("t"))
    val plain = Graft.tripleFromRow(q.head.getStruct(0))
    withRule {
      val qq = q
      val plan = qq.queryExecution.optimizedPlan.toString
      assert("multiply_triple".r.findAllIn(plan).length >= 2,
        s"both join levels must factorize (expected 2 ring products):\n$plan")
      val fact = Graft.tripleFromRow(qq.head.getStruct(0))
      assert(fact.approxEquals(plain, 1e-9), "recursive star factorization diverged")
      assert(fact.n == 120)
    }
  }

  test("NB-mode cofactor over a join factorizes with the NB ring product") {
    Graft.register(spark)
    val (l, r) = fixtures()
    def toT(row: org.apache.spark.sql.Row) = Graft.tripleFromRow(row.getStruct(0))
    // block order [left…, right…] — identity permutation, rule fires
    def nbq = l.join(r, "k").agg(Graft.sumNbAgg($"lx", $"ly", $"rx", $"lc", $"rc").as("t"))
    val plainNb = toT(nbq.head)
    val factNb = withRule {
      val q = nbq
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("multiply_triple"), s"NB rule did not fire:\n$plan")
      toT(q.head)
    }
    assert(factNb.approxEquals(plainNb, 1e-9), "NB factorized != NB direct")
    assert(factNb.n == 4 && factNb.quad.length == factNb.lin.length) // diagonal-only NB quad
    // interleaved order has no NB permute — rule must DECLINE, result unchanged
    def nbInter = l.join(r, "k").agg(Graft.sumNbAgg($"rx", $"lx", $"rc", $"lc").as("t"))
    val plainInter = toT(nbInter.head)
    withRule {
      val q = nbInter
      assert(!q.queryExecution.optimizedPlan.toString.contains("multiply_triple"),
        "interleaved NB must keep the fused plan (no NB permute)")
      assert(toT(q.head).approxEquals(plainInter, 1e-9))
    }
    // grouped NB: the NB product factorizes per group identically
    def nbg = l.join(r, "k").groupBy($"lc").agg(Graft.sumNbAgg($"lx", $"rx").as("t"))
    val plainG = nbg.collect().map(row => row.getInt(0) -> Graft.tripleFromRow(row.getStruct(1))).toMap
    val factG = withRule {
      val q = nbg
      assert(q.queryExecution.optimizedPlan.toString.contains("multiply_triple"))
      q.collect().map(row => row.getInt(0) -> Graft.tripleFromRow(row.getStruct(1))).toMap
    }
    assert(factG.keySet == plainG.keySet)
    for ((k, t) <- plainG) assert(factG(k).approxEquals(t, 1e-9), s"NB group $k diverged")
  }

  test("rewritten plan preserves empty-join semantics (zero triple, not NULL)") {
    Graft.register(spark)
    val (l, r) = fixtures()
    // r keeps only key 4, which l never has → statically non-empty
    // relations (the rule still fires), runtime-empty join result
    def query = l.join(r.filter($"k" === 4), "k")
      .agg(Graft.sumTriple($"lx", $"rx").as("t"))
    val plain = query.head
    val fact = withRule {
      val q = query
      assert(q.queryExecution.optimizedPlan.toString.contains("multiply_triple"))
      q.head
    }
    assert(!plain.isNullAt(0) && !fact.isNullAt(0), "empty join must yield a zero triple")
    assert(Graft.tripleFromRow(fact.getStruct(0)) == Graft.tripleFromRow(plain.getStruct(0)))
    assert(Graft.tripleFromRow(fact.getStruct(0)).n == 0)
  }

  test("cardinality gate: rule declines a near-unique join key, fires on a coarse one") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, EqualTo}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete}
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, JoinHint}
    import org.apache.spark.sql.types.{DoubleType, IntegerType}

    val lk = AttributeReference("k", IntegerType)()
    val lx = AttributeReference("lx", DoubleType)()
    val rk = AttributeReference("k2", IntegerType)()
    val rx = AttributeReference("rx", DoubleType)()
    def plan(leftNdv: Long) = {
      val left = StatsRelation(Seq(lk, lx), rows = 100000, ndv = Seq(lk -> leftNdv))
      val right = StatsRelation(Seq(rk, rx), rows = 1000, ndv = Seq(rk -> 100L))
      val join = Join(left, right, Inner, Some(EqualTo(lk, rk)), JoinHint.NONE)
      val cof = graft.agg.CofactorAggregate(Seq(lx, rx), nbMode = false)
      Aggregate(Nil, Seq(Alias(
        AggregateExpression(cof, Complete, isDistinct = false), "t")()), join)
    }
    // ~1.05 rows/key on the left: factorization would shuffle one map-heavy
    // buffer per row — the rule must leave the plain fused aggregate alone
    val fine = plan(leftNdv = 95000)
    assert(FactorizeCofactorRule(fine) eq fine, "rule should decline a near-unique key")
    // 100 rows/key: the rewrite is the win it was designed for
    val coarse = FactorizeCofactorRule(plan(leftNdv = 1000))
    assert(coarse.toString.contains("multiply_triple"),
      s"rule should fire on a coarse key:\n$coarse")
  }

  test("SQL grouped-kernel strategy: engages on the clean shape, matches the default plan, declines edge shapes") {
    Graft.register(spark)
    val tmp = java.nio.file.Files.createTempDirectory("gsql").toFile.getAbsolutePath
    spark.range(6000).select(
      (col("id") % 7).cast("int").as("k"),
      (col("id") % 97).cast("double").as("x"),
      (col("id") % 13).cast("double").as("y"),
      (col("id") % 3).cast("int").as("c")).write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).createOrReplaceTempView("gsql_t")
    val sql = "SELECT k, sum_to_triple(x, y, c) AS t FROM gsql_t GROUP BY k"
    // reference result: the DEFAULT plan (no strategy installed)
    val expected = spark.sql(sql).collect()
      .map(r => r.getInt(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    val saved = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = saved :+ graft.plans.GroupedCofactorStrategy(spark)
    try {
      val q = spark.sql(sql)
      assert(q.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
        s"strategy must plan the kernel exec:\n${q.queryExecution.executedPlan}")
      val got = q.collect().map(r => r.getInt(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
      assert(got.keySet == expected.keySet && got.nonEmpty)
      got.keys.foreach(k => assert(got(k).approxEquals(expected(k), 1e-9), s"group $k differs"))

      // aliased key + reversed projection order still routes and aligns columns
      val q2 = spark.sql("SELECT sum_to_triple(x, y) AS t, k AS grp FROM gsql_t GROUP BY k")
      assert(q2.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"))
      val got2 = q2.collect().map(r => r.getInt(1) -> Graft.tripleFromRow(r.getStruct(0))).toMap
      assert(got2.keySet == expected.keySet)
      got2.keys.foreach(k => assert(got2(k).n == expected(k).n, s"q2 group $k row count differs"))

      // TWO grouping keys pack into the Long label channel and ride
      // the same kernel — parity vs the default plan, key subset and
      // projection order honored
      val sql2 = "SELECT k, c, sum_to_triple(x, y) AS t FROM gsql_t GROUP BY k, c"
      spark.experimental.extraStrategies = saved
      val exp2 = spark.sql(sql2).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> Graft.tripleFromRow(r.getStruct(2))).toMap
      spark.experimental.extraStrategies = saved :+ graft.plans.GroupedCofactorStrategy(spark)
      val twoKeys = spark.sql(sql2)
      assert(twoKeys.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
        "GROUP BY k1, k2 must ride the packed-label kernel route")
      val got2k = twoKeys.collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> Graft.tripleFromRow(r.getStruct(2))).toMap
      assert(got2k.keySet == exp2.keySet && got2k.size == 21)
      got2k.keys.foreach(k => assert(got2k(k).approxEquals(exp2(k), 1e-9), s"group $k differs"))
      // reversed projection + key subset: (triple, c) only
      val subset = spark.sql("SELECT sum_to_triple(x) AS t, c FROM gsql_t GROUP BY k, c")
      assert(subset.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"))
      assert(subset.count() == 21, "a projected-out key still groups")

      // NULL-bearing data ≤ the ~10% bound KEEPS the kernel route via
      // the row-lifted NULL-remainder branch: the NULL-key group, groups
      // whose rows all carry a NULL input (empty triple), and partially
      // NULL groups must all match the default plan exactly
      val tmpN = java.nio.file.Files.createTempDirectory("gsqlN").toFile.getAbsolutePath
      spark.range(200).select(
        when(col("id") % 20 === 0, lit(null).cast("int")) // 5% NULL keys
          .when(col("id") >= 197, lit(9).cast("int")) // group 9: 3 rows, all x NULL
          .otherwise((col("id") % 5).cast("int")).as("k"),
        when(col("id") % 29 === 0, lit(null).cast("double"))
          .when(col("id") >= 197, lit(null).cast("double"))
          .otherwise(col("id").cast("double")).as("x")).write.mode("overwrite").parquet(tmpN)
      spark.read.parquet(tmpN).createOrReplaceTempView("gsql_n")
      val sqlN = "SELECT k, sum_to_triple(x) AS t FROM gsql_n GROUP BY k"
      // default-plan reference: pop the strategy for one run
      spark.experimental.extraStrategies = saved
      val expN = spark.sql(sqlN).collect().map { r =>
        (if (r.isNullAt(0)) None else Some(r.getInt(0))) -> Graft.tripleFromRow(r.getStruct(1))
      }.toMap
      spark.experimental.extraStrategies = saved :+ graft.plans.GroupedCofactorStrategy(spark)
      val qn = spark.sql(sqlN)
      assert(qn.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
        "NULL-bearing data within the bound must keep the kernel route (NULL remainder)")
      val gotN = qn.collect().map { r =>
        (if (r.isNullAt(0)) None else Some(r.getInt(0))) -> Graft.tripleFromRow(r.getStruct(1))
      }.toMap
      assert(gotN.keySet == expN.keySet, s"groups ${gotN.keySet} vs default ${expN.keySet}")
      assert(gotN.contains(None), "the NULL-key group must survive the kernel route")
      assert(gotN(Some(9)).n == 0L, "an all-NULL-input group appears with the empty triple")
      gotN.keys.foreach(k => assert(gotN(k).approxEquals(expN(k), 1e-9), s"group $k differs"))

      // past the bound (30% NULL keys) the NULL remainder is no longer a
      // remainder — the default plan must run
      val tmpN2 = java.nio.file.Files.createTempDirectory("gsqlN2").toFile.getAbsolutePath
      spark.range(100).select(
        when(col("id") % 3 === 0, lit(null).cast("int"))
          .otherwise((col("id") % 5).cast("int")).as("k"),
        col("id").cast("double").as("x")).write.mode("overwrite").parquet(tmpN2)
      spark.read.parquet(tmpN2).createOrReplaceTempView("gsql_n2")
      val qn2 = spark.sql("SELECT k, sum_to_triple(x) AS t FROM gsql_n2 GROUP BY k")
      assert(!qn2.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
        "NULL fraction past the bound must refuse the kernel route")
      assert(qn2.count() == 6, "5 non-null groups + the NULL group")

      // non-harvestable child (exchange) declines
      val qx = spark.sql(
        "SELECT k, sum_to_triple(x) AS t FROM (SELECT DISTINCT k, x FROM gsql_t) GROUP BY k")
      assert(!qx.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"))

      // HAVING and ORDER BY compose ABOVE the kernel exec: the strategy
      // plans the Aggregate, Spark stacks Filter/Sort on its output
      val qh = spark.sql(
        """SELECT k, sum_to_triple(x, y) AS t FROM gsql_t
          |GROUP BY k HAVING t.n > 857 ORDER BY k DESC""".stripMargin)
      assert(qh.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
        "HAVING/ORDER BY must not knock the aggregate off the kernel route")
      val hRows = qh.collect()
      val hExp = expected.filter(_._2.n > 857).keys.toSeq.sorted.reverse
      assert(hRows.map(_.getInt(0)).toSeq == hExp, "HAVING filter or DESC order broken")
      hRows.foreach(r => assert(Graft.tripleFromRow(r.getStruct(1)).n > 857))
    } finally spark.experimental.extraStrategies = saved
  }

  test("SQL grouped-kernel strategy: >8-byte string keys ride the dictionary label") {
    Graft.register(spark)
    val saved = spark.experimental.extraStrategies
    try {
      val tmp = java.nio.file.Files.createTempDirectory("gsqlD").toFile.getAbsolutePath
      spark.range(3000).select(
        concat(lit("priority-"), (col("id") % 6).cast("string")).as("k"), // 10 bytes
        (col("id") % 97).cast("double").as("x"),
        (col("id") % 7).cast("int").as("c")).write.mode("overwrite").parquet(tmp)
      spark.read.parquet(tmp).createOrReplaceTempView("gsql_d")
      val sql = "SELECT k, sum_to_triple(x, c) AS t FROM gsql_d GROUP BY k"
      spark.experimental.extraStrategies = saved
      val exp = spark.sql(sql).collect()
        .map(r => r.getString(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
      spark.experimental.extraStrategies = saved :+ graft.plans.GroupedCofactorStrategy(spark)
      val q = spark.sql(sql)
      assert(q.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
        "a wide string key under the cap must plan through the dictionary kernel route")
      val got = q.collect().map(r => r.getString(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
      assert(got.keySet == exp.keySet && got.size == 6 &&
        got.keySet.forall(_.startsWith("priority-")))
      got.keys.foreach(k => assert(got(k).approxEquals(exp(k), 1e-9), s"group '$k' differs"))
    } finally spark.experimental.extraStrategies = saved
  }

  test("Graft.enableSqlKernels installs each rule exactly once") {
    Graft.register(spark)
    val saved = spark.experimental.extraStrategies
    val savedO = spark.experimental.extraOptimizations
    try {
      Graft.enableSqlKernels(spark)
      Graft.enableSqlKernels(spark)
      val strategies = spark.experimental.extraStrategies
      assert(strategies.count(_.isInstanceOf[graft.plans.GroupedCofactorStrategy]) == 1 &&
        strategies.count(_.isInstanceOf[graft.plans.GroupedMomentsStrategy]) == 1,
        s"double-enable must not stack a second strategy: $strategies")
      assert(spark.experimental.extraOptimizations
        .count(_ == graft.plans.CofactorDeclarativeRewrite) == 1,
        "double-enable must not stack a second declarative rewrite")
      val tmp = java.nio.file.Files.createTempDirectory("gsqlE").toFile.getAbsolutePath
      spark.range(2000).select(
        (col("id") % 5).cast("int").as("k"),
        (col("id") % 97).cast("double").as("x")).write.mode("overwrite").parquet(tmp)
      spark.read.parquet(tmp).createOrReplaceTempView("gsql_e")
      val q = spark.sql("SELECT k, sum_to_triple(x) AS t FROM gsql_e GROUP BY k")
      assert(q.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"))
      assert(q.count() == 5)
    } finally {
      spark.experimental.extraStrategies = saved
      spark.experimental.extraOptimizations = savedO
    }
  }

  test("SQL flat-cofactor strategy: ungrouped agg routes through the kernel, year() Project looked through") {
    Graft.register(spark)
    val saved = spark.experimental.extraStrategies
    try {
      val tmp = java.nio.file.Files.createTempDirectory("gsqlF").toFile.getAbsolutePath
      spark.range(5000).select(
        (col("id") % 97).cast("double").as("x"),
        (col("id") % 13).cast("double").as("y"),
        (col("id") % 5).cast("int").as("c"),
        timestamp_seconds(lit(1500000000L) + col("id") * 864000).as("ts"))
        .write.mode("overwrite").parquet(tmp)
      val base = spark.read.parquet(tmp)
      // default-plan reference (no strategy)
      spark.experimental.extraStrategies = saved
      def run(df: org.apache.spark.sql.DataFrame) =
        Graft.tripleFromRow(df.head().getStruct(0))
      def flatQ = base.agg(Graft.sumTriple(col("x"), col("y"), col("c")).as("t"))
      def yearQ = base.withColumn("sy", year(col("ts")))
        .agg(Graft.sumTriple(col("x"), col("sy")).as("t"))
      val expFlat = run(flatQ)
      val expYear = run(yearQ)
      spark.experimental.extraStrategies = saved :+ graft.plans.GroupedCofactorStrategy(spark)
      val qf = flatQ
      assert(qf.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
        s"ungrouped sum_to_triple must plan the kernel partial:\n${qf.queryExecution.executedPlan}")
      assert(run(qf).approxEquals(expFlat, 1e-9), "flat kernel route result differs")
      val qy = yearQ
      assert(qy.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
        "a withColumn(year(ts)) Project must be looked through to a CatYear spec")
      assert(run(qy).approxEquals(expYear, 1e-9), "year look-through result differs")
      // NULL inputs: both routes skip any-NULL rows — parity holds
      val tmpN = java.nio.file.Files.createTempDirectory("gsqlFN").toFile.getAbsolutePath
      spark.range(300).select(
        when(col("id") % 7 === 0, lit(null).cast("double"))
          .otherwise(col("id").cast("double")).as("x"),
        (col("id") % 3).cast("int").as("c")).write.mode("overwrite").parquet(tmpN)
      val bn = spark.read.parquet(tmpN)
      spark.experimental.extraStrategies = saved
      val expN = run(bn.agg(Graft.sumTriple(col("x"), col("c")).as("t")))
      spark.experimental.extraStrategies = saved :+ graft.plans.GroupedCofactorStrategy(spark)
      val qn = bn.agg(Graft.sumTriple(col("x"), col("c")).as("t"))
      assert(qn.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"))
      assert(run(qn).approxEquals(expN, 1e-9), "NULL-skip parity broken on the flat route")
      // a computed NON-year column under the aggregate declines
      val qd = base.withColumn("x2", col("x") * 2).agg(Graft.sumTriple(col("x2"), col("c")).as("t"))
      assert(!qd.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
        "a computed non-year input must keep the default plan")
      assert(run(qd).n == 5000)
    } finally spark.experimental.extraStrategies = saved
  }

  test("SQL moments strategy: Q1-shaped SUM/AVG/COUNT group-by routes and matches the default plan") {
    Graft.register(spark)
    val saved = spark.experimental.extraStrategies
    try {
      val tmp = java.nio.file.Files.createTempDirectory("gsqlM").toFile.getAbsolutePath
      spark.range(9000).select(
        concat(lit("g"), (col("id") % 3).cast("string")).as("g"),
        concat(lit("h"), (col("id") % 2).cast("string")).as("h"),
        (col("id") % 100).cast("double").as("x"),
        ((col("id") % 9).cast("double") / 10.0).as("d"),
        (col("id") % 7).cast("int").as("i"))
        .write.mode("overwrite").parquet(tmp)
      spark.read.parquet(tmp).createOrReplaceTempView("gsql_m")
      val sql =
        """SELECT g, h, round(sum(x), 2) AS sx, round(avg(x), 2) AS ax,
          |       round(avg(x * (1 - d)), 2) AS adp, count(*) AS cnt
          |FROM gsql_m GROUP BY g, h ORDER BY g, h""".stripMargin
      spark.experimental.extraStrategies = saved
      val exp = spark.sql(sql).collect().map(_.toSeq).toSeq
      spark.experimental.extraStrategies = saved :+ graft.plans.GroupedMomentsStrategy(spark)
      val q = spark.sql(sql)
      assert(q.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
        s"Q1 shape must plan the moments kernel exec:\n${q.queryExecution.executedPlan}")
      assert(q.collect().map(_.toSeq).toSeq == exp, "moments kernel result differs from the default plan")

      // count(attr) with a probed null-free attribute still routes
      val qc = spark.sql("SELECT g, count(x) AS c, round(sum(x), 1) AS s FROM gsql_m GROUP BY g")
      assert(qc.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"))
      assert(qc.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        Map("g0" -> 3000L, "g1" -> 3000L, "g2" -> 3000L))

      // DIVISION keeps the default plan: Spark's Divide THROWS on a
      // zero divisor under ANSI (the default since 4.x) and returns
      // NULL (row skipped by sum) otherwise — IEEE '/' would silently
      // return Infinity-poisoned sums instead of either behavior.
      // gsql_m's d column contains exact zeros; only the plan shape is
      // asserted (collecting would raise DIVIDE_BY_ZERO under ANSI,
      // which is exactly the default-plan behavior the route must not
      // paper over).
      val qdiv = spark.sql("SELECT g, round(sum(x / d), 2) AS sd FROM gsql_m GROUP BY g ORDER BY g")
      assert(!qdiv.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
        "a division must keep the default plan (ANSI throw / NULL-on-zero-divisor semantics)")
      // a NULL literal inside an aggregate child keeps the default plan
      val qnl = spark.sql("SELECT g, sum(x + CAST(NULL AS DOUBLE)) AS s FROM gsql_m GROUP BY g")
      assert(!qnl.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
        "a NULL literal must keep the default plan")
      assert(qnl.collect().forall(_.isNullAt(1)))

      // a GROUP KEY inside an aggregate child routes AND matches: the
      // exec folds the aggregate to its literal top-down, so the key
      // substitution cannot orphan the planned canonical form
      val tmpK = java.nio.file.Files.createTempDirectory("gsqlMK").toFile.getAbsolutePath
      spark.range(600).select(
        (col("id") % 4).cast("int").as("k"),
        (col("id") % 50).cast("double").as("x")).write.mode("overwrite").parquet(tmpK)
      spark.read.parquet(tmpK).createOrReplaceTempView("gsql_mk")
      val sqlK = "SELECT k, round(sum(x * k), 2) AS sxk, count(k) AS ck FROM gsql_mk GROUP BY k ORDER BY k"
      spark.experimental.extraStrategies = saved
      val expK = spark.sql(sqlK).collect().map(_.toSeq).toSeq
      spark.experimental.extraStrategies = saved :+ graft.plans.GroupedMomentsStrategy(spark)
      val qk = spark.sql(sqlK)
      assert(qk.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
        "a key referenced inside an aggregate child must still route")
      assert(qk.collect().map(_.toSeq).toSeq == expK, "sum(x * k) differs from the default plan")

      // an integer-typed SUM keeps the default plan (long accumulator
      // exactness past 2^53 — double moments cannot promise it)
      val qi = spark.sql("SELECT g, sum(i) AS si FROM gsql_m GROUP BY g")
      assert(!qi.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
        "integer SUM must keep the default plan")
      // a non-SUM/AVG/COUNT aggregate keeps the default plan
      val qm = spark.sql("SELECT g, max(x) AS mx, sum(x) AS sx FROM gsql_m GROUP BY g")
      assert(!qm.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"))
      // NULL-bearing inputs refuse the route (per-aggregate null
      // skipping differs from the kernel's whole-row skip) and the
      // default plan stays correct
      val tmpN = java.nio.file.Files.createTempDirectory("gsqlMN").toFile.getAbsolutePath
      spark.range(200).select(
        (col("id") % 3).cast("int").as("g"),
        when(col("id") % 11 === 0, lit(null).cast("double"))
          .otherwise(col("id").cast("double")).as("x")).write.mode("overwrite").parquet(tmpN)
      spark.read.parquet(tmpN).createOrReplaceTempView("gsql_mn")
      val qn = spark.sql("SELECT g, sum(x) AS sx, count(*) AS c FROM gsql_mn GROUP BY g")
      assert(!qn.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
        "NULL-bearing inputs must keep the default plan exactly")
      assert(qn.count() == 3)
    } finally spark.experimental.extraStrategies = saved
  }

  test("SQL flat moments: ungrouped SUM/AVG/COUNT routes, matches, and keeps SQL's empty-input NULLs") {
    Graft.register(spark)
    val saved = spark.experimental.extraStrategies
    try {
      val tmp = java.nio.file.Files.createTempDirectory("gsqlFlatM").toFile.getAbsolutePath
      spark.range(5000).select(
        (col("id") % 91).cast("double").as("x"),
        ((col("id") % 11).cast("double") / 20.0).as("d"))
        .write.mode("overwrite").parquet(tmp)
      spark.read.parquet(tmp).createOrReplaceTempView("gsql_flatm")
      val sql =
        """SELECT round(sum(x), 6) AS s, round(avg(x * (1 - d)), 6) AS a, count(*) AS c
          |FROM gsql_flatm""".stripMargin
      spark.experimental.extraStrategies = saved
      val exp = spark.sql(sql).collect().head
      spark.experimental.extraStrategies = saved :+ graft.plans.GroupedMomentsStrategy(spark)
      val q = spark.sql(sql)
      assert(q.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
        s"flat moments must plan the kernel partial:\n${q.queryExecution.executedPlan}")
      val got = q.collect().head
      assert(math.abs(got.getDouble(0) - exp.getDouble(0)) <= 2e-6 &&
        math.abs(got.getDouble(1) - exp.getDouble(1)) <= 2e-6 &&
        got.getLong(2) == exp.getLong(2), s"flat moments differ: $got vs $exp")

      // EMPTY input: SQL's one summary row with count 0 and NULL
      // sums/avgs — read off the merged triple's n = 0
      val tmpE = java.nio.file.Files.createTempDirectory("gsqlFlatE").toFile.getAbsolutePath
      spark.read.parquet(tmp).limit(0).write.mode("overwrite").parquet(tmpE)
      spark.read.parquet(tmpE).createOrReplaceTempView("gsql_flate")
      val qe = spark.sql("SELECT sum(x) AS s, avg(x) AS a, count(*) AS c FROM gsql_flate")
      assert(qe.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"))
      val re = qe.collect().head
      assert(re.isNullAt(0) && re.isNullAt(1) && re.getLong(2) == 0L,
        s"empty input must give (NULL, NULL, 0), got $re")

      // null-bearing input declines (per-aggregate null skip differs
      // from the kernel's whole-row skip)
      val tmpN = java.nio.file.Files.createTempDirectory("gsqlFlatN").toFile.getAbsolutePath
      spark.range(100).select(
        when(col("id") % 9 === 0, lit(null).cast("double"))
          .otherwise(col("id").cast("double")).as("x")).write.mode("overwrite").parquet(tmpN)
      spark.read.parquet(tmpN).createOrReplaceTempView("gsql_flatn")
      val qn = spark.sql("SELECT sum(x) AS s, count(*) AS c FROM gsql_flatn")
      assert(!qn.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
        "null-bearing flat input must keep the default plan")
      assert(qn.collect().head.getLong(1) == 100L)
    } finally spark.experimental.extraStrategies = saved
  }

  test("SQL moments strategy fuzz: random +/-/* expression trees match the default plan") {
    Graft.register(spark)
    val saved = spark.experimental.extraStrategies
    try {
      val tmp = java.nio.file.Files.createTempDirectory("gsqlMF").toFile.getAbsolutePath
      spark.range(4000).select(
        (col("id") % 5).cast("int").as("k"),
        (col("id") % 83).cast("double").as("a"),
        ((col("id") % 17).cast("double") / 4.0).as("b"),
        (col("id") % 7).cast("int").as("ci"))
        .write.mode("overwrite").parquet(tmp)
      spark.read.parquet(tmp).createOrReplaceTempView("gsql_mf")
      val rnd = new scala.util.Random(41)
      // random arithmetic over {a, b, ci, k, literals} with +,-,* (no
      // division — refused by design); depth ≤ 3. Int leaves are cast
      // to double AT THE LEAF so every arithmetic node is double-typed:
      // a bare int×int subtree correctly DECLINES the route (int-domain
      // overflow wrap/ANSI-throw is not replayable in doubles), which
      // would turn fuzz trials into silent no-ops
      def expr(depth: Int): String =
        if (depth == 0) rnd.nextInt(6) match {
          case 0 => "a"
          case 1 => "b"
          case 2 => "CAST(ci AS DOUBLE)" // int leaf, double arithmetic
          case 3 => "CAST(k AS DOUBLE)"  // the group key inside an aggregate child
          case 4 => f"${rnd.nextDouble() * 4 - 2}%.3f"
          case 5 => f"${(rnd.nextInt(9) - 4).toDouble}%.1f"
        } else {
          val op = "+-*".charAt(rnd.nextInt(3))
          s"(${expr(depth - 1)} $op ${expr(depth - 1)})"
        }
      for (trial <- 1 to 12) {
        // an aggregate over a CONSTANT expression folds to a literal and
        // declines (no input column to harvest) — regenerate those.
        // Column leaves are exactly "a", "b", or "CAST(… AS DOUBLE)";
        // numeric literals contain no letters.
        def colExpr(depth: Int): String = {
          val e = expr(depth)
          if ("\\b[ab]\\b".r.findFirstIn(e).isDefined || e.contains("CAST(")) e
          else colExpr(depth)
        }
        val aggs = (1 to 1 + rnd.nextInt(3)).map { i =>
          val e = colExpr(1 + rnd.nextInt(2))
          // i == 1 is never count(*): a COUNT-only projection declines
          // the route by design (the default plan needs no kernel)
          rnd.nextInt(if (i == 1) 2 else 3) match {
            case 0 => s"round(sum(CAST(($e) AS DOUBLE)), 6) AS s$i"
            case 1 => s"round(avg(CAST(($e) AS DOUBLE)), 6) AS a$i"
            case 2 => s"count(*) AS c$i"
          }
        }
        val sql = s"SELECT k, ${aggs.mkString(", ")} FROM gsql_mf GROUP BY k ORDER BY k"
        spark.experimental.extraStrategies = saved
        val exp = spark.sql(sql).collect().map(_.toSeq).toSeq
        spark.experimental.extraStrategies = saved :+ graft.plans.GroupedMomentsStrategy(spark)
        val q = spark.sql(sql)
        // every generated shape must ROUTE (inputs are null-free and
        // double-typed after the explicit cast) — a silent decline
        // would turn the fuzz into a no-op
        assert(q.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
          s"trial $trial did not route: $sql")
        // doubles compare within 2e-6: partial sums fold in tree-merge
        // order, so a last-ulp difference can land on the opposite side
        // of the round(…, 6) boundary — the documented FP caveat, not a
        // semantic divergence. Keys and counts compare exactly.
        val got = q.collect().map(_.toSeq).toSeq
        assert(got.size == exp.size, s"trial $trial row count differs: $sql")
        got.zip(exp).foreach { case (gr, er) =>
          gr.zip(er).foreach {
            case (g: Double, e: Double) =>
              assert(math.abs(g - e) <= 2e-6, s"trial $trial differs ($g vs $e): $sql")
            case (g, e) => assert(g == e, s"trial $trial differs ($g vs $e): $sql")
          }
        }
      }
    } finally spark.experimental.extraStrategies = saved
  }

  /** With AQE off, the physical plan of `q` has Spark's final aggregate
    * directly over a shuffle exchange whose subtree holds the kernel
    * partial; with `singlePartition` that exchange gathers everything
    * into one partition (the zero-key case). */
  private def partialUnderExchange(q: org.apache.spark.sql.DataFrame,
                                   singlePartition: Boolean = false): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Final
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    q.queryExecution.executedPlan.exists {
      case a: BaseAggregateExec if a.aggregateExpressions.nonEmpty &&
          a.aggregateExpressions.forall(_.mode == Final) =>
        a.child match {
          case e: ShuffleExchangeExec =>
            (!singlePartition || e.outputPartitioning == SinglePartition) &&
              e.exists(_.isInstanceOf[graft.plans.GroupedKernelPartialExec])
          case _ => false
        }
      case _ => false
    }
  }

  test("flat kernel routes: zero-key partial below a single-partition exchange and final aggregate") {
    Graft.register(spark)
    val tmp = java.nio.file.Files.createTempDirectory("fpart").toFile.getAbsolutePath
    spark.range(900).select((col("id") % 31).cast("double").as("x"),
      ((col("id") % 9).cast("double") / 10.0).as("d"),
      (col("id") % 4).cast("int").as("c")).repartition(3).write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).createOrReplaceTempView("fpart_t")
    val cofSql = "SELECT sum_to_triple(x, d, c) AS t FROM fpart_t"
    val momSql = "SELECT sum(x) AS s, avg(x * (1 - d)) AS a, count(*) AS n FROM fpart_t"
    val saved = spark.experimental.extraStrategies
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.experimental.extraStrategies = saved
      val expC = Graft.tripleFromRow(spark.sql(cofSql).head.getStruct(0))
      val expM = spark.sql(momSql).head
      spark.experimental.extraStrategies = saved :+
        graft.plans.GroupedCofactorStrategy(spark) :+ graft.plans.GroupedMomentsStrategy(spark)
      val qc = spark.sql(cofSql)
      assert(partialUnderExchange(qc, singlePartition = true),
        s"cofactor: partial must sit under a single-partition exchange:\n${qc.queryExecution.executedPlan}")
      val gotC = Graft.tripleFromRow(qc.head.getStruct(0))
      assert(gotC.n == 900 && gotC.approxEquals(expC, 1e-9), s"cofactor differs: $gotC vs $expC")
      val qm = spark.sql(momSql)
      assert(partialUnderExchange(qm, singlePartition = true),
        s"moments: partial must sit under a single-partition exchange:\n${qm.queryExecution.executedPlan}")
      val gotM = qm.head
      assert(gotM.getLong(2) == 900L && gotM.getLong(2) == expM.getLong(2))
      Seq(0, 1).foreach { i =>
        val (a, b) = (gotM.getDouble(i), expM.getDouble(i))
        assert(math.abs(a - b) <= 1e-9 * (1 + math.abs(b)), s"moment $i differs: $gotM vs $expM")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.experimental.extraStrategies = saved
    }
  }

  test("flat kernel routes over a scan with zero partitions: empty triple and (NULL, NULL, 0)") {
    Graft.register(spark)
    val tmp = java.nio.file.Files.createTempDirectory("fzero").toFile.getAbsolutePath
    spark.range(200).select((col("id") % 2).cast("int").as("p"),
      (col("id") % 13).cast("double").as("x"),
      (col("id") % 3).cast("int").as("c")).write.partitionBy("p").mode("overwrite").parquet(tmp)
    // a partition filter that prunes every file: the scan has no partitions
    def src = spark.read.parquet(tmp).filter(col("p") === 7)
    def cof = src.agg(Graft.sumTriple(col("x"), col("c")).as("t"))
    def mom = src.agg(sum(col("x")).as("s"), avg(col("x")).as("a"), count(lit(1)).as("n"))
    val saved = spark.experimental.extraStrategies
    try {
      assert(src.select(col("x")).rdd.getNumPartitions == 0, "the pruned scan must have no partitions")
      spark.experimental.extraStrategies = saved
      val expC = Graft.tripleFromRow(cof.head.getStruct(0))
      spark.experimental.extraStrategies = saved :+
        graft.plans.GroupedCofactorStrategy(spark) :+ graft.plans.GroupedMomentsStrategy(spark)
      val qc = cof
      assert(qc.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
        s"the empty flat cofactor must still route:\n${qc.queryExecution.executedPlan}")
      val gotC = Graft.tripleFromRow(qc.head.getStruct(0))
      assert(gotC.n == 0 && gotC.lin.length == 1 && gotC.approxEquals(expC, 1e-9),
        s"zero-partition cofactor must be the empty triple: $gotC vs $expC")
      val qm = mom
      assert(qm.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
        s"the empty flat moments must still route:\n${qm.queryExecution.executedPlan}")
      val rm = qm.collect()
      assert(rm.length == 1 && rm.head.isNullAt(0) && rm.head.isNullAt(1) && rm.head.getLong(2) == 0L,
        s"zero-partition moments must give (NULL, NULL, 0), got ${rm.toSeq}")
    } finally spark.experimental.extraStrategies = saved
  }

  test("grouped kernel routes: partial below Spark's exchange and final aggregate") {
    Graft.register(spark)
    val tmp = java.nio.file.Files.createTempDirectory("gpart").toFile.getAbsolutePath
    spark.range(900).select((col("id") % 9).cast("int").as("k"),
      (col("id") % 31).cast("double").as("x"),
      (col("id") % 4).cast("int").as("c")).write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).createOrReplaceTempView("gpart_t")
    val cofSql = "SELECT k, sum_to_triple(x, c) AS t FROM gpart_t GROUP BY k"
    val momSql = "SELECT k, sum(x) AS s, avg(x) AS a, count(*) AS n FROM gpart_t GROUP BY k ORDER BY k"
    val saved = spark.experimental.extraStrategies
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    def triples(q: org.apache.spark.sql.DataFrame) =
      q.collect().map(r => r.getInt(0) -> Graft.tripleFromRow(r.getStruct(1))).toMap
    def jobs(q: org.apache.spark.sql.DataFrame): Long = {
      q.queryExecution.executedPlan // planning-time probes run here, not below
      org.apache.spark.graft.JobCounter(spark.sparkContext)(q.collect())._1
    }
    try {
      // adaptive execution runs the routed plan in no more jobs than the
      // default plan: the kernel stage is neither re-planned nor rerun
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      val defaultJobs = jobs(spark.sql(cofSql))
      spark.experimental.extraStrategies = saved :+ graft.plans.GroupedCofactorStrategy(spark)
      val routedJobs = jobs(spark.sql(cofSql))
      assert(routedJobs <= defaultJobs, s"routed $routedJobs jobs vs default $defaultJobs")

      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.experimental.extraStrategies = saved
      val expC = triples(spark.sql(cofSql))
      val expM = spark.sql(momSql).collect().map(_.toSeq).toSeq
      spark.experimental.extraStrategies = saved :+
        graft.plans.GroupedCofactorStrategy(spark) :+ graft.plans.GroupedMomentsStrategy(spark)
      val qc = spark.sql(cofSql)
      assert(partialUnderExchange(qc),
        s"cofactor: kernel partial must sit under the exchange:\n${qc.queryExecution.executedPlan}")
      val gotC = triples(qc)
      assert(gotC.size == 9 && gotC.keySet == expC.keySet)
      gotC.keys.foreach(k => assert(gotC(k).approxEquals(expC(k), 1e-9), s"group $k differs"))
      val qm = spark.sql(momSql)
      assert(partialUnderExchange(qm),
        s"moments: kernel partial must sit under the exchange:\n${qm.queryExecution.executedPlan}")
      val gotM = qm.collect().map(_.toSeq).toSeq
      assert(gotM.size == 9)
      gotM.zip(expM).foreach { case (g, e) =>
        assert(g.head == e.head && g(3) == e(3), s"key/count differ: $g vs $e")
        Seq(1, 2).foreach { i =>
          val (a, b) = (g(i).asInstanceOf[Double], e(i).asInstanceOf[Double])
          assert(math.abs(a - b) <= 1e-9 * (1 + math.abs(b)), s"moment $i differs: $g vs $e")
        }
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.experimental.extraStrategies = saved
    }
  }

  test("join-fed grouped cofactor and moments route through the kernel partial") {
    Graft.register(spark)
    val t1 = java.nio.file.Files.createTempDirectory("fj_l").toFile.getAbsolutePath
    val t2 = java.nio.file.Files.createTempDirectory("fj_r").toFile.getAbsolutePath
    spark.range(400).select((col("id") % 50).cast("int").as("k"),
      (col("id") % 11).cast("double").as("x"),
      (col("id") % 3).cast("int").as("cc")).write.mode("overwrite").parquet(t1)
    spark.range(50).select(col("id").cast("int").as("k"),
      (col("id") * 2).cast("double").as("y")).write.mode("overwrite").parquet(t2)
    val saved = spark.experimental.extraStrategies
    val savedO = spark.experimental.extraOptimizations
    def routed(): Unit = {
      spark.experimental.extraStrategies = saved :+
        graft.plans.GroupedCofactorStrategy(spark) :+ graft.plans.GroupedMomentsStrategy(spark)
      spark.experimental.extraOptimizations = savedO :+ graft.plans.CofactorDeclarativeRewrite
    }
    def default(): Unit = {
      spark.experimental.extraStrategies = saved
      spark.experimental.extraOptimizations = savedO
    }
    try {
      // the factorized identity with a CATEGORICAL input on one side:
      // the declarative rewrite cannot take it, so the kernel partial
      // does, and the join keeps its parallelism
      def groupedA(cats: Boolean) = spark.read.parquet(t1).groupBy(col("k"))
        .agg((if (cats) Graft.sumTriple(col("x"), col("cc")) else Graft.sumTriple(col("x"))).as("A"))
      def groupedB = spark.read.parquet(t2).groupBy(col("k"))
        .agg(Graft.sumTriple(col("y")).as("B"))
      def fj(cats: Boolean) = groupedA(cats).join(groupedB, "k")
        .select(Graft.sumTripleOf(Graft.multiplyTriple(col("A"), col("B"))).as("t"))
      for (cats <- Seq(true, false)) {
        default()
        val exp = Graft.tripleFromRow(fj(cats).head.getStruct(0))
        routed()
        // without the rewrite a numeric-only side routes too
        if (!cats) spark.experimental.extraOptimizations = savedO
        val q = fj(cats)
        val plan = q.queryExecution.executedPlan.toString
        assert(plan.contains("GroupedKernelPartial"),
          s"a join-fed grouped cofactor must route through the kernel partial (cats=$cats):\n$plan")
        val got = Graft.tripleFromRow(q.head.getStruct(0))
        assert(got.approxEquals(exp, 1e-9) && got.n == 400, s"cats=$cats: $got vs $exp")
      }
      // the SAME aggregate as the plan ROOT routes as well
      routed()
      assert(groupedA(cats = true).queryExecution.executedPlan.toString
        .contains("GroupedKernelPartial"), "a root grouped cofactor must keep the kernel route")

      // grouped MOMENTS feeding a join route too, at the root as well
      def moments = spark.read.parquet(t1).groupBy(col("k")).agg(sum(col("x")).as("s"))
      def mj = moments.join(spark.read.parquet(t2), "k").orderBy(col("k"))
      default()
      val expMj = mj.collect().map(_.toSeq).toSeq
      routed()
      assert(mj.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
        "join-fed grouped moments must route through the kernel partial")
      val gotMj = mj.collect().map(_.toSeq).toSeq
      assert(gotMj.size == 50 && gotMj == expMj, "join-fed moments differ from the default plan")
      assert(moments.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
        "root grouped moments must keep the kernel route")
    } finally default()
  }

  test("flat x grouped cross-join: both sides take their kernel routes") {
    // the flat side's gate (canHarvest -> executedPlan of its pruned
    // child) starts a NESTED planning pass mid-outer-planning; the
    // grouped side, offered after it, must still route and the joined
    // rows must match the default plan
    Graft.register(spark)
    val t = java.nio.file.Files.createTempDirectory("nest").toFile.getAbsolutePath
    spark.range(300).select((col("id") % 6).cast("int").as("k"),
      (col("id") % 7).cast("double").as("x"),
      (col("id") % 5).cast("double").as("y")).write.mode("overwrite").parquet(t)
    val saved = spark.experimental.extraStrategies
    def q = spark.read.parquet(t).agg(Graft.sumTriple(col("x")).as("A"))
      .crossJoin(spark.read.parquet(t).groupBy(col("k")).agg(Graft.sumTriple(col("y")).as("B")))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      r.getInt(1) -> (Graft.tripleFromRow(r.getStruct(0)), Graft.tripleFromRow(r.getStruct(2)))
    }.toMap
    try {
      val exp = rows(q)
      spark.experimental.extraStrategies = saved :+ graft.plans.GroupedCofactorStrategy(spark)
      val plan = q.queryExecution.executedPlan
      val partials = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collect(plan) { case p: graft.plans.GroupedKernelPartialExec => p }
      assert(partials.size == 2,
        s"the flat and the grouped side each plan one kernel partial:\n$plan")
      assert(q.count() == 6)
      val got = rows(q)
      assert(got.keySet == exp.keySet && got.size == 6)
      got.foreach { case (k, (a, b)) =>
        assert(a.approxEquals(exp(k)._1, 1e-9) && b.approxEquals(exp(k)._2, 1e-9), s"group $k differs")
      }
    } finally spark.experimental.extraStrategies = saved
  }

  test("planning-time probe failures decline the route instead of failing planning") {
    Graft.register(spark)
    // a column whose NAME embeds a dot: col("x.y") re-parses as a
    // struct-field access, so any probe that feeds the raw name back
    // through col() throws at PLANNING time — the strategy must decline
    // (default plan, correct answer), not fail the query (r19 advice)
    val tmp = java.nio.file.Files.createTempDirectory("dotted").toFile.getAbsolutePath
    spark.range(120).select((col("id") % 4).cast("int").as("k"),
      (col("id") % 7).cast("double").as("x.y")).write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).createOrReplaceTempView("dotted_t")
    val saved = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = saved :+
      graft.plans.GroupedCofactorStrategy(spark) :+ graft.plans.GroupedMomentsStrategy(spark)
    try {
      val qm = spark.sql("SELECT k, sum(`x.y`) AS s FROM dotted_t GROUP BY k ORDER BY k")
      val rows = qm.collect() // must not throw at planning
      assert(rows.length == 4)
      assert(math.abs(rows.map(_.getDouble(1)).sum - (0 until 120).map(_ % 7).sum) < 1e-9)
      val qc = spark.sql("SELECT k, sum_to_triple(`x.y`) AS t FROM dotted_t GROUP BY k")
      assert(qc.count() == 4) // must not throw at planning
      val qf = spark.sql("SELECT sum(`x.y`) AS s FROM dotted_t")
      assert(math.abs(qf.head.getDouble(0) - (0 until 120).map(_ % 7).sum) < 1e-9)
    } finally spark.experimental.extraStrategies = saved
  }

  test("parquet footer null stats prove the flat route safe without a probe scan") {
    import graft.sources.ParquetNullStats
    Graft.register(spark)
    val clean = java.nio.file.Files.createTempDirectory("fns_c").toFile.getAbsolutePath
    spark.range(500).select(col("id").cast("double").as("x"),
      (col("id") % 3).cast("double").as("y")).write.mode("overwrite").parquet(clean)
    val dirty = java.nio.file.Files.createTempDirectory("fns_d").toFile.getAbsolutePath
    spark.range(500).select(
      when(col("id") % 50 === 0, lit(null).cast("double"))
        .otherwise(col("id").cast("double")).as("x"),
      (col("id") % 3).cast("double").as("y")).write.mode("overwrite").parquet(dirty)
    val cleanDf = spark.read.parquet(clean)
    val dirtyDf = spark.read.parquet(dirty)
    assert(ParquetNullStats.verdict(cleanDf, Seq("x", "y")) == ParquetNullStats.ZeroNulls)
    assert(ParquetNullStats.verdict(dirtyDf, Seq("x")) == ParquetNullStats.HasNulls)
    assert(ParquetNullStats.verdict(dirtyDf, Seq("y")) == ParquetNullStats.ZeroNulls)
    // a filter above a null-bearing file: footers can't prove the
    // POST-filter rows dirty — unknown, the scan probe decides
    assert(ParquetNullStats.verdict(dirtyDf.filter(col("x").isNotNull), Seq("x")) ==
      ParquetNullStats.Unknown)
    // a non-parquet child (in-memory relation) is unknown
    import spark.implicits._
    assert(ParquetNullStats.verdict(Seq(1.0).toDF("x"), Seq("x")) == ParquetNullStats.Unknown)

    // end to end: the flat moments route engages on the clean file and
    // declines on the dirty one (nulls make SQL's per-aggregate skip
    // unrepresentable in the kernel's whole-row contract)
    val saved = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = saved :+ graft.plans.GroupedMomentsStrategy(spark)
    try {
      val qc = cleanDf.agg(sum(col("x")).as("s"), avg(col("y")).as("a"))
      assert(qc.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"))
      assert(math.abs(qc.head.getDouble(0) - (0 until 500).map(_.toDouble).sum) < 1e-6)
      val qd = dirtyDf.agg(sum(col("x")).as("s"))
      assert(!qd.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
        "null-bearing data must keep the default plan on the flat route")
      // SQL semantics: null x rows are skipped by sum
      val expect = (0 until 500).filter(_ % 50 != 0).map(_.toDouble).sum
      assert(math.abs(qd.head.getDouble(0) - expect) < 1e-6)
      // post-filter clean data still routes via the (scan) probe
      val qf = dirtyDf.filter(col("x").isNotNull).agg(sum(col("x")).as("s"))
      assert(qf.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
        "a filter removing every null must re-admit the route via the scan probe")
      assert(math.abs(qf.head.getDouble(0) - expect) < 1e-6)
    } finally spark.experimental.extraStrategies = saved
  }

  test("footer null-stats cache invalidates on an in-place rewrite") {
    import graft.sources.ParquetNullStats
    // same file NAME, different bytes: the memo key folds the
    // relations' total size alongside the paths (the probe-cache
    // snapshot discipline), so a rewrite that changes bytes on disk
    // can never replay a stale ZeroNulls and silently admit the
    // null-skipping kernel over null-bearing data
    val dir = java.nio.file.Files.createTempDirectory("fns_rw").toFile
    val cleanTmp = java.nio.file.Files.createTempDirectory("fns_rw_c").toFile
    val dirtyTmp = java.nio.file.Files.createTempDirectory("fns_rw_d").toFile
    spark.range(400).select(col("id").cast("double").as("x"))
      .coalesce(1).write.mode("overwrite").parquet(cleanTmp.getAbsolutePath)
    spark.range(400).select(
        when(col("id") % 7 === 0, lit(null).cast("double"))
          .otherwise(col("id").cast("double")).as("x"))
      .coalesce(1).write.mode("overwrite").parquet(dirtyTmp.getAbsolutePath)
    def partFile(d: java.io.File): java.io.File =
      d.listFiles().find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    val target = new java.io.File(dir, "part-00000.parquet")
    java.nio.file.Files.copy(partFile(cleanTmp).toPath, target.toPath)
    assert(ParquetNullStats.verdict(
      spark.read.parquet(dir.getAbsolutePath), Seq("x")) == ParquetNullStats.ZeroNulls)
    java.nio.file.Files.copy(partFile(dirtyTmp).toPath, target.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(ParquetNullStats.verdict(
      spark.read.parquet(dir.getAbsolutePath), Seq("x")) == ParquetNullStats.HasNulls,
      "a rewrite that changes bytes must invalidate the footer-stats memo")
  }

  test("moments routes over a DSv2 file source re-probe NULLs after an append") {
    // a DSv2 read's plan and leaf stay the same when a file lands in
    // its directory, so no probe over it may be memoized: a replayed
    // "0 NULLs" would let the kernel's skip-any-NULL-row rule drop rows
    // that SQL's SUM/AVG/COUNT count
    Graft.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("dsv2m").toFile.getAbsolutePath
    def write(from: Long, to: Long, yNulls: Boolean): Unit =
      spark.range(from, to).select((col("id") % 4).cast("int").as("k"),
        (col("id") % 31).cast("double").as("x"),
        (if (yNulls) when(col("id") % 2 === 0, lit(null).cast("double")).otherwise(lit(1.0))
         else lit(1.0)).multiply((col("id") % 7).cast("double")).as("y"))
        .write.mode("append").parquet(dir)
    val sqls = Seq("SELECT sum(x) AS s, avg(y) AS a, count(y) AS c FROM dsv2_m",
      "SELECT k, sum(x) AS s, avg(y) AS a, count(y) AS c FROM dsv2_m GROUP BY k ORDER BY k")
    def run(sql: String): Seq[org.apache.spark.sql.Row] = {
      spark.read.parquet(dir).createOrReplaceTempView("dsv2_m")
      spark.sql(sql).collect().toSeq
    }
    val savedS = spark.experimental.extraStrategies
    val savedO = spark.experimental.extraOptimizations
    val v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    try {
      spark.conf.set("spark.sql.sources.useV1SourceList",
        v1.split(",").filterNot(_.trim.equalsIgnoreCase("parquet")).mkString(","))
      write(0, 600, yNulls = false)
      assert(spark.read.parquet(dir).queryExecution.executedPlan.toString.contains("BatchScan"),
        "parquet must be read through DSv2 here")
      Graft.enableSqlKernels(spark)
      sqls.foreach { sql =>
        spark.read.parquet(dir).createOrReplaceTempView("dsv2_m")
        val plan = spark.sql(sql).queryExecution.executedPlan.toString
        assert(plan.contains("GroupedKernelPartial"),
          s"the null-free DSv2 snapshot must take the kernel route:\n$plan")
        run(sql)
      }
      write(600, 700, yNulls = true)
      val got = sqls.map(run)
      spark.experimental.extraStrategies = savedS
      spark.experimental.extraOptimizations = savedO
      val exp = sqls.map(run)
      got.zip(exp).foreach { case (g, e) =>
        assert(g.length == e.length && g.nonEmpty)
        g.zip(e).foreach { case (gr, er) =>
          assert(gr.length == er.length)
          (0 until er.length).foreach { i =>
            val (a, b) = (gr.get(i), er.get(i))
            val same = (a, b) match {
              case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * (1 + math.abs(y))
              case _ => a == b
            }
            assert(same, s"after the NULL append the routed query differs: $gr vs $er")
          }
        }
      }
    } finally {
      spark.conf.set("spark.sql.sources.useV1SourceList", v1)
      spark.experimental.extraStrategies = savedS
      spark.experimental.extraOptimizations = savedO
    }
  }

  test("flat kernel route honors the aggregate's captured maxCategories cap") {
    Graft.register(spark)
    import org.apache.spark.sql.graft.ColumnBridge
    val tmp = java.nio.file.Files.createTempDirectory("mcat").toFile.getAbsolutePath
    spark.range(300).select((col("id") % 13).cast("double").as("x"),
      (col("id") % 5).cast("int").as("c")).write.mode("overwrite").parquet(tmp)
    def src = spark.read.parquet(tmp)
    // an EXPLICIT cap of 2 over a 5-value categorical: the row
    // aggregate throws its ID-not-a-category guard — the kernel route
    // must throw identically, not silently aggregate past the cap
    def cappedAgg = ColumnBridge.column(
      graft.agg.CofactorAggregate(
        Seq(ColumnBridge.expression(col("x")), ColumnBridge.expression(col("c"))),
        nbMode = false, maxCategories = 2).toAggregateExpression()).as("t")
    val saved = spark.experimental.extraStrategies
    // row route reference: throws
    spark.experimental.extraStrategies = saved
    val rowEx = intercept[Exception] { src.agg(cappedAgg).collect() }
    assert(rowEx.toString.contains("distinct") || rowEx.getCause != null)
    // kernel route: same guard fires (r19 advice: the captured cap
    // must ride into the kernel call)
    spark.experimental.extraStrategies = saved :+ graft.plans.GroupedCofactorStrategy(spark)
    try {
      val q = src.agg(cappedAgg)
      assert(q.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"),
        "the explicit-cap flat aggregate should still take the kernel route")
      intercept[Exception] { q.collect() }
    } finally spark.experimental.extraStrategies = saved
  }

  test("flat kernel route holds the captured cap over the merged partials") {
    Graft.register(spark)
    import org.apache.spark.sql.graft.ColumnBridge
    val tmp = java.nio.file.Files.createTempDirectory("mcatmerge").toFile.getAbsolutePath
    // two files with disjoint categories {0,1} and {2,3}: each partial
    // holds 2 categories, under the cap of 3, and only the merge holds 4
    for (base <- Seq(0, 2))
      spark.range(0, 100, 1, 1).select((col("id") % 7).cast("double").as("x"),
        (col("id") % 2 + base).cast("int").as("c")).write.mode("append").parquet(tmp)
    def src = spark.read.parquet(tmp)
    assert(src.rdd.getNumPartitions == 2)
    def cappedAgg = ColumnBridge.column(
      graft.agg.CofactorAggregate(
        Seq(ColumnBridge.expression(col("x")), ColumnBridge.expression(col("c"))),
        nbMode = false, maxCategories = 3).toAggregateExpression()).as("t")
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val rowEx = intercept[Exception] { src.agg(cappedAgg).collect() }
    assert(msgs(rowEx).exists(_.contains("after merge")), s"default plan: $rowEx")
    val saved = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = saved :+ graft.plans.GroupedCofactorStrategy(spark)
    try {
      val q = src.agg(cappedAgg)
      assert(q.queryExecution.executedPlan.toString.contains("GroupedKernelPartial"))
      val ex = intercept[Exception] { q.collect() }
      assert(msgs(ex).exists(_.contains("after merge")), s"kernel route: $ex")
    } finally spark.experimental.extraStrategies = saved
  }

  test("declarative cofactor rewrite: factorized identity plans as plain hash aggregates, results unchanged") {
    Graft.register(spark)
    val t1 = java.nio.file.Files.createTempDirectory("dc_l").toFile.getAbsolutePath
    val t2 = java.nio.file.Files.createTempDirectory("dc_r").toFile.getAbsolutePath
    spark.range(400).select((col("id") % 50).cast("int").as("k"),
      when(col("id") % 13 === 0, lit(null)).otherwise((col("id") % 11).cast("double")).as("x"),
      (col("id") % 3).cast("int").as("cc")).write.mode("overwrite").parquet(t1)
    spark.range(50).select(col("id").cast("int").as("k"),
      (col("id") * 2).cast("double").as("y")).write.mode("overwrite").parquet(t2)
    val savedO = spark.experimental.extraOptimizations
    def fj = {
      val a = spark.read.parquet(t1).groupBy(col("k")).agg(Graft.sumTriple(col("x")).as("A"))
      val b = spark.read.parquet(t2).groupBy(col("k")).agg(Graft.sumTriple(col("y")).as("B"))
      a.join(b, "k").select(Graft.sumTripleOf(Graft.multiplyTriple(col("A"), col("B"))).as("t"))
    }
    // default (no rewrite): the imperative route
    val defPlan = fj.queryExecution.executedPlan.toString
    assert(defPlan.contains("ObjectHashAggregate"), s"default route expected:\n$defPlan")
    val exp = Graft.tripleFromRow(fj.head.getStruct(0))
    spark.experimental.extraOptimizations =
      savedO :+ graft.plans.CofactorDeclarativeRewrite
    try {
      // rewritten: NO imperative aggregate anywhere — grouped sides AND
      // the final sum_triple(multiply_triple) all plain hash aggregates
      val q = fj
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("ObjectHashAggregate"),
        s"the rewrite must eliminate every imperative aggregate:\n$plan")
      assert(!plan.contains("sum_to_triple") && !plan.contains("multiply_triple"),
        s"no ring-object expressions should survive:\n$plan")
      val got = Graft.tripleFromRow(q.head.getStruct(0))
      assert(got.n == exp.n && got.approxEquals(exp, 1e-9),
        s"rewritten result must match the default route: $got vs $exp")

      // NULL semantics of the final aggregate preserved: an empty join
      // yields a NULL triple on both routes
      val emptyQ = {
        val a = spark.read.parquet(t1).filter(col("k") < 0).groupBy(col("k"))
          .agg(Graft.sumTriple(col("x")).as("A"))
        val b = spark.read.parquet(t2).groupBy(col("k")).agg(Graft.sumTriple(col("y")).as("B"))
        a.join(b, "k").select(Graft.sumTripleOf(Graft.multiplyTriple(col("A"), col("B"))).as("t"))
      }
      assert(emptyQ.head.isNullAt(0), "empty input must yield a NULL triple")

      // a CAT-bearing grouped cofactor under a join keeps the
      // imperative route (categorical maps don't decompose into SUMs)
      val catQ = {
        val a = spark.read.parquet(t1).groupBy(col("k"))
          .agg(Graft.sumTriple(col("x"), col("cc")).as("A"))
        val b = spark.read.parquet(t2).groupBy(col("k")).agg(Graft.sumTriple(col("y")).as("B"))
        a.join(b, "k").select(Graft.sumTripleOf(Graft.multiplyTriple(col("A"), col("B"))).as("t"))
      }
      assert(catQ.queryExecution.executedPlan.toString.contains("ObjectHashAggregate"),
        "cat-bearing cofactors must keep the imperative aggregate")

      // a numeric-only grouped cofactor at the plan ROOT is left alone
      // (the kernel strategies own that shape)
      val root = spark.read.parquet(t1).groupBy(col("k")).agg(Graft.sumTriple(col("x")).as("A"))
      assert(root.queryExecution.executedPlan.toString.contains("ObjectHashAggregate"),
        "root aggregates are not this rewrite's business")
    } finally spark.experimental.extraOptimizations = savedO
  }

  test("declarative rewrite leaves a root aggregate over a join-feeding key alone") {
    Graft.register(spark)
    import graft.agg.CofactorAggregate
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val t1 = java.nio.file.Files.createTempDirectory("dk_l").toFile.getAbsolutePath
    val t2 = java.nio.file.Files.createTempDirectory("dk_r").toFile.getAbsolutePath
    spark.range(200).select((col("id") % 20).cast("int").as("k"),
      (col("id") % 7).cast("double").as("x")).write.mode("overwrite").parquet(t1)
    spark.range(20).select(col("id").cast("int").as("k"),
      (col("id") * 3).cast("double").as("y")).write.mode("overwrite").parquet(t2)
    // the root groups by `k`, which the join-feeding aggregate passes
    // through unchanged (same exprId as the scan's k)
    val a = spark.read.parquet(t1).groupBy(col("k")).agg(Graft.sumTriple(col("x")).as("A"))
    val q = a.join(spark.read.parquet(t2), "k").groupBy(col("k"))
      .agg(Graft.sumTriple(col("y")).as("R"))
    val rewritten = graft.plans.CofactorDeclarativeRewrite(q.queryExecution.optimizedPlan)
    def hasCofactor(agg: Aggregate) =
      agg.aggregateExpressions.exists(_.exists(_.isInstanceOf[CofactorAggregate]))
    val root = rewritten.collectFirst { case agg: Aggregate => agg }.get
    assert(hasCofactor(root), s"the root aggregate must keep sum_to_triple:\n$rewritten")
    val fed = rewritten.collect { case j: Join => j.collect { case agg: Aggregate => agg } }.flatten
    assert(fed.nonEmpty && !fed.exists(hasCofactor),
      s"the join-feeding aggregate must still be rewritten:\n$rewritten")
  }
}
