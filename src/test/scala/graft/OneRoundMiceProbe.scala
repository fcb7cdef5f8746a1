package graft

import graft.ml.Factorized.StarDim
import graft.sources.Tables
import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Wall time, jobs and shuffle bytes of a warm one-round star MICE call
  * (`MiceJoin.imputeChainedOverStar` with one imputed column and one
  * iteration, q62/q66's shape: lineitem's
  * l_discount from l_quantity and orders.o_totalprice, plus
  * part.p_retailprice for `star`) and the caller's one consuming
  * aggregate. Without `broadcast` the dims are too large to broadcast
  * (`autoBroadcastJoinThreshold = -1`), so every join shuffles.
  *
  * Run: `sbt "Test/runMain graft.OneRoundMiceProbe <sfDir> join|star <reps> [broadcast]"`.
  * It uses only the public API, so the same file measures any commit
  * whose `ChainConfig` has these fields. */
object OneRoundMiceProbe {
  def main(args: Array[String]): Unit = {
    val Array(dir, shape, reps) = args.take(3)
    val broadcast = args.lift(3).contains("broadcast")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.autoBroadcastJoinThreshold", if (broadcast) "10485760" else "-1")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fact = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
        col("l_quantity").cast("double").as("l_quantity"),
        col("l_discount").cast("double").as("d_true"))
      .withColumn("miss",
        (col("l_orderkey") * lit(2654435761L) + col("l_linenumber") * lit(40503L)) % 1000 < 150)
      .withColumn("l_discount", when(col("miss"), lit(null)).otherwise(col("d_true")))
    val orders = StarDim(Tables.load(spark, dir, "orders").select(col("o_orderkey").as("l_orderkey"),
      col("o_totalprice").cast("double").as("o_totalprice")), "l_orderkey", num = Seq("o_totalprice"))
    val part = StarDim(Tables.load(spark, dir, "part").select(col("p_partkey").as("l_partkey"),
      col("p_retailprice").cast("double").as("p_retailprice")), "l_partkey", num = Seq("p_retailprice"))
    val dims = if (shape == "star") Seq(orders, part) else Seq(orders)
    def once(): (Double, Long, Long) = {
      var wall = 0.0
      val (jobs, bytes) = JobCounter.shuffled(spark.sparkContext) {
        val t0 = System.nanoTime()
        val done = mice.MiceJoin.imputeChainedOverStar(fact, dims, mice.MiceJoin.ChainConfig(
          factNum = Seq("l_discount", "l_quantity"), factCat = Seq(), dimNum = Seq(),
          imputeCont = Seq("l_discount"), iterations = 1))
        done.agg(count(lit(1)), avg(col("l_discount"))).head()
        wall = (System.nanoTime() - t0) / 1e9
        Graft.dropCheckpoint(done)
      }
      (wall, jobs, bytes)
    }
    once(); once() // warm: JIT and the memoized unique-key probes
    val runs = Seq.fill(reps.toInt)(once())
    val walls = runs.map(_._1).sorted
    println(f"""{"shape": "$shape", "broadcast": $broadcast, "wall_median_s": ${walls(walls.size / 2)}%.3f, """ +
      s""""jobs": ${runs.head._2}, "shuffle_bytes": ${runs.head._3}}""")
    spark.stop()
  }
}
