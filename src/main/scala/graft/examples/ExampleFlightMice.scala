package graft.examples

import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Flight-style multi-table imputation demo (the reference paper's
 * workload shape, factorized_imputation_flight.h:6-8): impute a
 * fact-side column (lineitem.l_discount) using a feature from the fact
 * table (l_quantity) AND a feature that lives only in a dimension table
 * (orders.o_totalprice) — the model trains over the join WITHOUT
 * materializing it: one job folds the training triple and the mean
 * init over the fact left-joined with the dim ([[graft.mice.MiceJoin]]).
 *
 * Run: `sbt "runMain graft.examples.ExampleFlightMice [sfDir]"`
 * (defaults to the generated sf1 tier when present — 6M lineitem rows —
 * else sf0.01).
 */
object ExampleFlightMice {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse {
      if (new java.io.File("/root/repo/testdata-sf1/lineitem.parquet").exists())
        "/root/repo/testdata-sf1"
      else "/root/testdata/sf0.01"
    }
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // 15% deterministic MCAR mask on l_discount, ground truth retained
    val fact = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("double").as("l_quantity"),
        col("l_discount").cast("double").as("d_true"))
      .withColumn("miss",
        (col("l_orderkey") * lit(2654435761L) + col("l_linenumber") * lit(40503L)) % 1000 < 150)
      .withColumn("l_discount", when(col("miss"), lit(null)).otherwise(col("d_true")))
    val dim = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))

    val tm = new graft.mice.Mice.Timings
    val t0 = System.nanoTime()
    val done = graft.mice.MiceJoin.imputeChainedOverJoin(fact, dim, "l_orderkey",
      graft.mice.MiceJoin.ChainConfig(factNum = Seq("l_discount", "l_quantity"), factCat = Seq(),
        dimNum = Seq("o_totalprice"), imputeCont = Seq("l_discount"), iterations = 1), tm)
    val stats = done.agg(
      count(lit(1)).as("n"),
      count(when(col("miss"), 1)).as("n_imputed"),
      count(when(col("l_discount").isNull, 1)).as("nulls_left"),
      sqrt(avg(when(col("miss"), pow(col("l_discount") - col("d_true"), 2)))).as("rmse"),
      stddev(col("d_true")).as("sd")).head()
    val wall = (System.nanoTime() - t0) / 1e9
    println(s"[flight-mice] dir=$dir rows=${stats.getLong(0)} imputed=${stats.getLong(1)} " +
      s"nulls_left=${stats.getLong(2)}")
    println(f"[flight-mice] imputation rmse=${stats.getDouble(3)}%.5f vs label sd=${stats.getDouble(4)}%.5f")
    println(f"[flight-mice] phases: $tm  total=$wall%.2f s")
    assert(stats.getLong(2) == 0, "imputation left NULLs")
    // l_discount carries little signal from qty/price in this synthetic
    // data, so regression ≈ mean imputation: assert it never does WORSE
    // than the mean beyond float noise (with real signal it beats it —
    // MiceJoinSpec pins the exact-recovery case)
    assert(stats.getDouble(3) < stats.getDouble(4) * 1.02,
      "materially worse than mean imputation")
    spark.stop()
  }
}
