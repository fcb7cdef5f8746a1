package graft

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

/** Warm wall time of a triple whose final merges fat categorical
  * partials, each read through `t.n`. The fat input is lineitem's
  * `(l_quantity, l_extendedprice, l_partkey)` (l_partkey: ~20k values at
  * sf0.1) written as 256 files and read one scan partition per file, so
  * every route merges 256 partials of ~20k-entry maps:
  *  - `eager`: `Graft.cofactor`, the kernel's one job and driver merge;
  *  - `sql_kernel`: `agg(sum_to_triple(…))` under `Graft.enableSqlKernels`,
  *    the zero-key kernel partial and its `sum_triple` final;
  *  - `sql_default`: the same aggregate in the default plan.
  *
  * `join_C` is `Factorized.cofactorOverJoin(lineitem, orders,
  * "l_orderkey")` with a fact categorical of C values (`l_partkey % C`),
  * for each C given. A measurement that outlasts `limitS` is cancelled
  * and recorded as `"timeout"`, and no later one runs.
  *
  * Run: `sbt "Test/runMain graft.FatPartialProbe <sfDir> <workDir> <reps> <limitS> [C…]"`.
  * It prints one JSON line of sorted per-run seconds. It uses only the
  * public API, so the same file measures any commit that has these
  * entry points. */
object FatPartialProbe {
  def main(args: Array[String]): Unit = {
    val Array(dir, work, reps, limit) = args.take(4)
    val cats = args.drop(4).map(_.toInt).toSeq
    val spark = Graft.register(SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    val fatDir = s"$work/lineitem256"
    if (!new java.io.File(s"$fatDir/_SUCCESS").exists())
      Tables.load(spark, dir, "lineitem")
        .select(col("l_quantity").cast("double").as("l_quantity"),
          col("l_extendedprice").cast("double").as("l_extendedprice"),
          col("l_partkey").cast("int").as("l_partkey"))
        .repartition(256).write.mode("overwrite").parquet(fatDir)

    val strategies = spark.experimental.extraStrategies
    val optimizations = spark.experimental.extraOptimizations
    def fat(): DataFrame = spark.read.parquet(fatDir)
    def sqlN(kernels: Boolean): Long = {
      if (kernels) Graft.enableSqlKernels(spark)
      try {
        val q = fat().agg(Graft.sumTriple(col("l_quantity"), col("l_extendedprice"),
          col("l_partkey")).as("t"))
        val plan = q.queryExecution.executedPlan
        require(plan.toString.contains("GroupedKernelPartial") == kernels,
          s"kernels = $kernels took the other route")
        // `t.n` of the internal row: a projection of `t.n` would collapse
        // into the aggregate, which the kernel strategy does not match,
        // and collecting `t` whole builds Scala maps of every entry
        plan.executeCollect().head.getStruct(0, 6).getLong(0)
      } finally {
        spark.experimental.extraStrategies = strategies
        spark.experimental.extraOptimizations = optimizations
      }
    }
    def join(c: Int): Long = {
      val fact = Tables.load(spark, dir, "lineitem").select(col("l_orderkey"),
        col("l_quantity").cast("double").as("l_quantity"),
        col("l_extendedprice").cast("double").as("l_extendedprice"),
        (col("l_partkey") % c).cast("int").as("c"))
      val orders = Tables.load(spark, dir, "orders").select(col("o_orderkey").as("l_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
      ml.Factorized.cofactorOverJoin(fact, orders, "l_orderkey",
        Seq("l_quantity", "l_extendedprice"), Seq("c"), Seq("o_totalprice"), Nil).n
    }

    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    var timedOut = false
    // two warm-up calls, then `reps` timed ones; None once the limit is hit
    def runs(body: => Long): Option[Seq[Double]] =
      if (timedOut) None
      else try Some(Seq.fill(2 + reps.toInt) {
        val t0 = System.nanoTime()
        Await.result(Future(body), limit.toInt.seconds)
        (System.nanoTime() - t0) / 1e9
      }.drop(2).sorted)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          timedOut = true
          spark.sparkContext.cancelAllJobs()
          None
      }

    spark.conf.set("spark.sql.files.maxPartitionBytes", "64k")
    val parts = fat().rdd.getNumPartitions
    val fatRuns = Seq(
      "eager" -> runs(Graft.cofactor(fat(), Seq("l_quantity", "l_extendedprice"), Seq("l_partkey")).n),
      "sql_kernel" -> runs(sqlN(kernels = true)),
      "sql_default" -> runs(sqlN(kernels = false)))
    spark.conf.unset("spark.sql.files.maxPartitionBytes")
    val joinRuns = cats.map(c => s"join_$c" -> runs(join(c)))
    val fields = (fatRuns ++ joinRuns).map { case (name, r) =>
      s""""${name}_s": ${r.fold("\"timeout\"")(_.map(x => f"$x%.3f").mkString("[", ", ", "]"))}"""
    }
    println(s"""{"partitions": $parts, "limit_s": $limit, ${fields.mkString(", ")}}""")
    // a cancelled task may still be running its fold
    if (timedOut) System.exit(0)
    spark.stop()
  }
}
