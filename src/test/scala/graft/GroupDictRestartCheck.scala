package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Run in its own JVM by `ColumnarCofactorSpec` (one SparkContext per
  * JVM): `Graft.cofactorGrouped` over a string key wider than 8 bytes,
  * so the kernel reads the key's dictionary broadcast, then the same
  * call after that context stopped and a new one started. The new
  * context must build its own dictionary and give the same result; the
  * dead context's broadcast would fail the tasks or read another
  * broadcast's blocks. Exits non-zero on a mismatch.
  * Usage: `GroupDictRestartCheck <scratch dir>`. */
object GroupDictRestartCheck {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    def session() = Graft.register(SparkSession.builder().master("local[2]")
      .appName("group-dict-restart").config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate())
    def call(spark: SparkSession): Seq[(String, Long, Seq[Double], Seq[Double])] = {
      val out = Graft.cofactorGrouped(spark.read.parquet(dir), "url", Seq("x"), Seq())
      if (Graft.lastGroupedRoute() != "columnar-dict")
        fail(s"route ${Graft.lastGroupedRoute()}, not the dictionary kernel")
      out.collect().toSeq.map { r =>
        val t = Graft.tripleFromRow(r.getStruct(1))
        (r.getString(0), t.n, t.lin.toSeq, t.quad.toSeq)
      }.sortBy(_._1)
    }
    def fail(msg: String): Nothing = { System.err.println(s"FAIL: $msg"); sys.exit(1) }

    val first = session()
    first.range(300).select(
      concat(lit("https://example.org/page/"), (col("id") % 7).cast("string")).as("url"),
      (col("id") % 13).cast("double").as("x")).write.parquet(dir)
    val before = call(first)
    first.stop()

    val second = session()
    val after = try call(second) catch { case e: Exception => fail(s"restarted call threw: $e") }
    second.stop()
    if (before.size != 7 || after != before) fail(s"results differ: $before vs $after")
    println("OK")
  }
}
