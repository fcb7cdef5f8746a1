package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Named decomposition of the factorized_adaptive fallback's wall-clock
  * (the minhash-profile discipline: name the parts, then cut the
  * biggest): the adaptive operator on the fact ⋈ unique-dim shape runs
  * probe → SHJ row join → one cofactor fold; this probe isolates
  *   scan floor (sum over each side alone),
  *   exchange cost (repartition by key, no join),
  *   join cost (SHJ with a count, no moment SUMs),
  *   the full fallback (steady-state, probes memoized),
  * plus the SMJ variant for the hint's measured margin.
  *
  * Usage: runMain graft.tools.FactProfile [dataDir] [passes] */
object FactProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/testdata-sf10")
    val passes = if (args.length > 1) args(1).toInt else 3
    val spark = graft.Graft.register(SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    def fact = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("k"), col("l_quantity"))
    def dim = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey").as("k"), col("o_totalprice"))
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(name: String)(f: => Unit): Unit = {
      for (i <- 1 to passes) {
        val t0 = System.nanoTime()
        f
        println(f"$name pass$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    time("scan_sum_fact")(noop(fact.agg(sum(col("l_quantity")))))
    time("scan_sum_dim")(noop(dim.agg(sum(col("o_totalprice")))))
    time("exchange_fact")(noop(fact.repartition(32, col("k"))
      .agg(sum(col("l_quantity")))))
    time("exchange_both")(noop(
      fact.repartition(32, col("k")).agg(sum(col("l_quantity"))).union(
        dim.repartition(32, col("k")).agg(sum(col("o_totalprice"))))))
    // the COLD-call decision overhead, named: the rows-per-key probe
    // (count + approx_count_distinct, one scan) and the hot-key guard
    // (grouped count + top-65, one shuffle) — steady-state calls skip
    // both via the memo, so these price the FIRST call on a fresh input
    time("probe_acd_dim")(noop(
      dim.agg(count(lit(1)), approx_count_distinct(col("k")))))
    time("hotkey_grouped_dim") {
      dim.groupBy(col("k")).agg(count(lit(1)).as("__graft_cnt"))
        .orderBy(col("__graft_cnt").desc).limit(65).collect()
      ()
    }
    // the shuffle-free replacement the SHJ guard actually runs now:
    // per-partition counting + exact pass over candidates (none, here)
    time("hotkey_detector_dim") {
      graft.ml.Factorized.clearProbeCache()
      val h = graft.ml.Factorized.hotKeyCounts(dim, Seq("k"), 700000L)
      require(h.isDefined && h.get.isEmpty, s"unexpected hot keys: $h")
    }
    time("full_adaptive_cold") {
      graft.ml.Factorized.clearProbeCache()
      graft.ml.Factorized.cofactorOverJoinAdaptive(
        fact, dim, "k", Seq("l_quantity"), Seq(), Seq("o_totalprice"), Seq())
      ()
    }
    time("join_count_shj")(noop(
      graft.ml.Factorized.hashJoinIfSafe(fact, dim, Seq("k")).agg(count(lit(1)))))
    time("join_count_smj")(noop(fact.join(dim, "k").agg(count(lit(1)))))
    time("full_adaptive") {
      graft.ml.Factorized.cofactorOverJoinAdaptive(
        fact, dim, "k", Seq("l_quantity"), Seq(), Seq("o_totalprice"), Seq())
      ()
    }
    time("full_fallback_smj") {
      graft.Graft.cofactor(fact.join(dim, "k"), Seq("l_quantity", "o_totalprice"), Nil)
      ()
    }
    spark.stop()
  }
}
