package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Seeded synthetic tables. Every value is a pure function of
 * (seed, row id, stream number) through `xxhash64`, so the same seed
 * yields the same tables whatever the partitioning. The engine only
 * ever sees the written tables; truth for the masked cells is
 * regenerated from the same expressions when the output is checked.
 */
object Gen {

  /** Row and key counts of one scale; recorded in every result. */
  final case class Sizes(
      factRows: Long, groupedRows: Long, bigKeys: Int, smallKeys: Int,
      miceRows: Long, starRows: Long, dim1Keys: Int, dim2Keys: Int) {
    def toMap: Map[String, Long] = Map(
      "fact_rows" -> factRows, "grouped_rows" -> groupedRows,
      "big_keys" -> bigKeys.toLong, "small_keys" -> smallKeys.toLong,
      "mice_rows" -> miceRows, "star_rows" -> starRows,
      "dim1_keys" -> dim1Keys.toLong, "dim2_keys" -> dim2Keys.toLong)
  }

  // At full scale ~78k distinct big keys sit above
  // spark.graft.sqlKernel.maxDriverGroups (65,536) and 8k small keys
  // below it, so the grouped workload crosses that route choice.
  val full = Sizes(factRows = 1000000L, groupedRows = 150000L, bigKeys = 100000, smallKeys = 8000,
    miceRows = 50000L, starRows = 20000L, dim1Keys = 2000, dim2Keys = 100)
  val tiny = Sizes(factRows = 20000L, groupedRows = 20000L, bigKeys = 2000, smallKeys = 200,
    miceRows = 5000L, starRows = 600L, dim1Keys = 60, dim2Keys = 10)

  val num: Seq[String] = (1 to 6).map(i => s"x$i")
  val cat: Seq[String] = Seq("c1", "c2")

  // MCAR rates of the flat MICE table and of the star's fact columns
  val flatMissing: Seq[(String, Double)] = Seq("x2" -> 0.15, "x5" -> 0.10, "c1" -> 0.10)
  val starNum: Seq[String] = Seq("f0", "f1", "f2", "f3", "f4")
  val starMissing: Seq[(String, Double)] = Seq("f1" -> 0.10, "f2" -> 0.12)

  private val two53 = 9007199254740992.0

  /** Uniform in (0, 1) for stream `s` of row key `k`. */
  private def unif(seed: Long, k: Column, s: Int): Column =
    (shiftrightunsigned(xxhash64(k, lit(seed), lit(s)), 11).cast("double") + 0.5) / two53

  /** Standard normal for stream `s` (Box-Muller over two uniform streams). */
  private def norm(seed: Long, k: Column, s: Int): Column =
    sqrt(lit(-2.0) * log(unif(seed, k, 2 * s))) * cos(lit(2 * math.Pi) * unif(seed, k, 2 * s + 1))

  private def bin(x: Column, cuts: Seq[Double]): Column =
    cuts.map(c => when(x > c, 1).otherwise(0)).reduce(_ + _)

  /**
   * The flat table: six continuous columns with known linear relations
   * plus noise, `c1` (5 classes) and `c2` (12 classes) driven by the
   * features, and two stored grouping keys.
   */
  def flat(spark: SparkSession, seed: Long, rows: Long, bigKeys: Int, smallKeys: Int): DataFrame = {
    val id = col("id")
    spark.range(rows)
      .withColumn("x1", norm(seed, id, 1))
      .withColumn("x3", norm(seed, id, 3))
      .withColumn("x4", norm(seed, id, 4))
      .withColumn("x6", norm(seed, id, 6))
      .withColumn("x2", lit(0.8) * col("x1") - lit(0.5) * col("x3") + lit(0.3) * col("x4") +
        lit(0.5) * norm(seed, id, 2))
      .withColumn("c1", bin(col("x1") + lit(0.6) * col("x4") + lit(0.5) * norm(seed, id, 7),
        Seq(-1.0, -0.3, 0.3, 1.0)))
      .withColumn("x5", lit(0.6) * col("x2") + lit(0.4) * col("x6") + lit(0.3) * col("c1") +
        lit(0.5) * norm(seed, id, 5))
      .withColumn("c2", bin(col("x6"), Seq(-0.67, 0.0, 0.67)) * 3 + pmod(col("c1"), lit(3)))
      .withColumn("k_big", pmod(xxhash64(id, lit(seed), lit(101)), lit(bigKeys.toLong)).cast("int"))
      .withColumn("k_small", pmod(xxhash64(id, lit(seed), lit(102)), lit(smallKeys.toLong)).cast("int"))
      .select((Seq("id") ++ num ++ cat ++ Seq("k_big", "k_small")).map(col): _*)
  }

  /** `df` with each listed column set to NULL at its MCAR rate. */
  def mask(df: DataFrame, seed: Long, rates: Seq[(String, Double)]): DataFrame =
    rates.zipWithIndex.foldLeft(df) { case (d, ((c, p), i)) =>
      d.withColumn(c, when(unif(seed, col("id"), 200 + i) < p, lit(null)).otherwise(col(c)))
    }

  // dimension features are pure functions of their key, so the fact
  // table's truth needs no join
  private def d1a(seed: Long, k: Column) = norm(seed, k, 31)
  private def d1b(seed: Long, k: Column) = norm(seed, k, 32)
  private def d2a(seed: Long, k: Column) = norm(seed, k, 33)

  /** Star dimension 1: unique `k1`, two features. */
  def dim1(spark: SparkSession, seed: Long, keys: Int): DataFrame = {
    val k = col("id").cast("int")
    spark.range(keys).select(k.as("k1"), d1a(seed, k).as("d1a"), d1b(seed, k).as("d1b"))
  }

  /** Star dimension 2: unique `k2`, one feature. */
  def dim2(spark: SparkSession, seed: Long, keys: Int): DataFrame = {
    val k = col("id").cast("int")
    spark.range(keys).select(k.as("k2"), d2a(seed, k).as("d2a"))
  }

  /** Star fact: `f0`..`f4` linear in each other and in the dims'
    * features, so chained imputation has signal to recover. */
  def starFact(spark: SparkSession, seed: Long, rows: Long, dim1Keys: Int, dim2Keys: Int): DataFrame = {
    val id = col("id")
    spark.range(rows)
      .withColumn("k1", pmod(xxhash64(id, lit(seed), lit(111)), lit(dim1Keys.toLong)).cast("int"))
      .withColumn("k2", pmod(xxhash64(id, lit(seed), lit(112)), lit(dim2Keys.toLong)).cast("int"))
      .withColumn("f0", norm(seed, id, 40))
      .withColumn("d1a", d1a(seed, col("k1")))
      .withColumn("d1b", d1b(seed, col("k1")))
      .withColumn("d2a", d2a(seed, col("k2")))
      .withColumn("f1", lit(0.7) * col("d1a") + lit(0.4) * col("f0") + lit(0.4) * norm(seed, id, 41))
      .withColumn("f2", lit(0.5) * col("f1") - lit(0.4) * col("d2a") + lit(0.4) * norm(seed, id, 42))
      .withColumn("f3", lit(0.6) * col("d1b") + lit(0.3) * col("f2") + lit(0.4) * norm(seed, id, 43))
      .withColumn("f4", lit(0.5) * col("f3") + lit(0.5) * col("f1") + lit(0.4) * norm(seed, id, 44))
      .select((Seq("id", "k1", "k2") ++ starNum).map(col): _*)
  }
}
