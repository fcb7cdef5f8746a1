package graft

import graft.mice.MiceJoin
import graft.ml.Factorized.StarDim
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Run in its own JVM by `MiceJoinSpec` (one SparkContext per JVM):
  * a one-round star MICE call in a context that kept both dims'
  * broadcasts, then the same call after that context stopped and a new
  * one started. The new context must broadcast both dims again and give
  * the same result; a broadcast of the dead context would fail or read
  * another broadcast's blocks. Exits non-zero on a mismatch.
  * Usage: `KeptBroadcastRestartCheck <scratch dir>`. */
object KeptBroadcastRestartCheck {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    def session() = Graft.register(SparkSession.builder().master("local[2]")
      .appName("kept-broadcast-restart").config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate())
    def call(spark: SparkSession): (Seq[Row], Long) = {
      val dims = Seq(StarDim(spark.read.parquet(s"$dir/dimA"), "ka", Seq("d1")),
        StarDim(spark.read.parquet(s"$dir/dimB"), "kb", Seq("d2")))
      var rows = Seq.empty[Row]
      val jobs = org.apache.spark.graft.JobCounter(spark.sparkContext) {
        rows = MiceJoin.imputeChainedOverStar(spark.read.parquet(s"$dir/fact"), dims,
          MiceJoin.ChainConfig(factNum = Seq("y", "x"), factCat = Seq(), dimNum = Seq(),
            imputeCont = Seq("y"), iterations = 1))
          .select("id", "y").orderBy("id").collect().toSeq
      }._1
      (rows, jobs)
    }

    val first = session()
    import first.implicits._
    Seq.tabulate(40)(k => (k.toLong, k * 1.5 - 10.0)).toDF("ka", "d1").write.parquet(s"$dir/dimA")
    Seq.tabulate(25)(k => (k.toLong, k * 0.8 + 2.0)).toDF("kb", "d2").write.parquet(s"$dir/dimB")
    Seq.tabulate(400) { i =>
      val (ka, kb, x) = (i % 40, i % 25, (i % 17).toDouble - 8)
      (i.toLong, ka.toLong, kb.toLong, x, 2.0 + 3.0 * x + 0.5 * (ka * 1.5 - 10.0) - 1.5 * (kb * 0.8 + 2.0))
    }.toDF("id", "ka", "kb", "x", "yT")
      .withColumn("y", when($"id" % 5 === 0, lit(null)).otherwise($"yT")).drop("yT")
      .write.parquet(s"$dir/fact")
    val (cold, coldJobs) = call(first)
    val (warm, warmJobs) = call(first)
    first.stop()

    val second = session()
    val (restarted, restartedJobs) = call(second)
    val (rewarmed, rewarmedJobs) = call(second)
    second.stop()
    def fail(msg: String) = { System.err.println(s"FAIL: $msg"); sys.exit(1) }
    // the unique-key verdicts stay memoized across contexts; only the
    // two broadcasts are built again
    if (restartedJobs != warmJobs + 2 || rewarmedJobs != warmJobs)
      fail(s"jobs: cold $coldJobs, warm $warmJobs, restarted $restartedJobs, then $rewarmedJobs")
    if (Seq(warm, restarted, rewarmed).exists(_ != cold)) fail("results differ across calls")
    println("OK")
  }
}
