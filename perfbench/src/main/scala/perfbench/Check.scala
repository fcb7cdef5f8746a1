package perfbench

import graft.ring.Triple
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Output checks. Reference triples are built from Spark's own
 * `count`/`sum`/`sum(a*b)` aggregates and never from the engine's
 * cofactor code, so a wrong kernel cannot agree with itself. One query
 * grouped by every categorical column and key yields cell moments; any
 * triple over those columns is a sum of cells.
 */
object Check {

  /** Relative tolerance: |got − ref| ≤ tol · (|ref| + n). Summation
    * order differs between routes and the reference sums cells on the
    * driver, so exact equality is not expected. */
  val tol = 1e-9

  /** Moments of one cell: the rows sharing one value of every grouping
    * column. `lin(i)` = Σ x_i, `prod(i)(j)` = Σ x_i·x_j. */
  final case class Cell(keys: Array[Int], n: Long, lin: Array[Double], prod: Array[Array[Double]])

  /** One grouped query of plain `count`/`sum`/`sum(a*b)` over the rows
    * of `df` with no NULL input, grouped by every column in `by`. */
  def cells(df: DataFrame, num: Seq[String], by: Seq[String]): Seq[Cell] = {
    val k = num.size
    val pairs = for (i <- 0 until k; j <- i until k) yield (i, j)
    val aggs = count(lit(1)) +: (num.map(c => sum(col(c))) ++
      pairs.map { case (i, j) => sum(col(num(i)) * col(num(j))) })
    df.na.drop(num ++ by).groupBy(by.map(col): _*).agg(aggs.head, aggs.tail: _*).collect().toSeq.map { r =>
      val b = by.size
      def d(i: Int) = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
      val prod = Array.ofDim[Double](k, k)
      pairs.zipWithIndex.foreach { case ((i, j), p) => prod(i)(j) = d(b + 1 + k + p); prod(j)(i) = prod(i)(j) }
      Cell(Array.tabulate(b)(r.getInt), r.getLong(b), Array.tabulate(k)(i => d(b + 1 + i)), prod)
    }
  }

  /** Reference triples (Naive Bayes aggregates when `nb`) per value of
    * `cells` column `key` (or one triple under key 0 when `key` < 0),
    * over the categorical `cells` columns `cat`. */
  def assemble(cells: Seq[Cell], key: Int, cat: Seq[Int], nb: Boolean = false): Map[Long, Triple] =
    cells.groupBy(c => if (key < 0) 0L else c.keys(key).toLong).map { case (g, cs) =>
      val k = cs.head.lin.length
      val m = cat.size
      val lin = Array.tabulate(k)(i => cs.map(_.lin(i)).sum)
      val quad =
        if (nb) Array.tabulate(k)(i => cs.map(_.prod(i)(i)).sum)
        else (for (i <- 0 until k; j <- i until k) yield cs.map(_.prod(i)(j)).sum).toArray
      def byCat[K](f: Cell => K, v: Cell => Double): Map[K, Double] =
        cs.groupBy(f).map { case (kk, group) => kk -> group.map(v).sum }.filter(_._2 != 0.0)
      val linCat = Array.tabulate(m)(j => byCat(_.keys(cat(j)), _.n.toDouble))
      val t =
        if (nb) Triple(cs.map(_.n).sum, lin, quad, linCat, Array.empty, Array.empty)
        else {
          val quadNumCat = Array.tabulate(k * m)(idx => byCat(_.keys(cat(idx % m)), _.lin(idx / m)))
          val quadCat = new Array[Map[Long, Double]](m * (m + 1) / 2)
          for (j <- 0 until m; l <- j until m)
            quadCat(Triple.pairIdx(j, l, m)) = byCat(c => Triple.catKey(c.keys(cat(j)), c.keys(cat(l))), _.n.toDouble)
          Triple(cs.map(_.n).sum, lin, quad, linCat, quadNumCat, quadCat)
        }
      g -> t
    }

  /** None when `got` matches `ref`, else a description of the first mismatch. */
  def diff(got: Triple, ref: Triple): Option[String] = {
    val scale = ref.n.toDouble
    def close(a: Double, b: Double) = math.abs(a - b) <= tol * (math.abs(b) + scale)
    def arr(name: String, a: Array[Double], b: Array[Double]): Option[String] =
      if (a.length != b.length) Some(s"$name length ${a.length} != ${b.length}")
      else a.indices.find(i => !close(a(i), b(i))).map(i => s"$name($i) ${a(i)} != ${b(i)}")
    def maps[K](name: String, a: Array[Map[K, Double]], b: Array[Map[K, Double]]): Option[String] =
      if (a.length != b.length) Some(s"$name length ${a.length} != ${b.length}")
      else a.indices.iterator.flatMap { i =>
        (a(i).keySet ++ b(i).keySet).iterator.collect {
          case key if !close(a(i).getOrElse(key, 0.0), b(i).getOrElse(key, 0.0)) =>
            s"$name($i)[$key] ${a(i).getOrElse(key, 0.0)} != ${b(i).getOrElse(key, 0.0)}"
        }
      }.nextOption()
    if (got.n != ref.n) Some(s"n ${got.n} != ${ref.n}")
    else arr("lin", got.lin, ref.lin)
      .orElse(arr("quad", got.quad, ref.quad))
      .orElse(maps("linCat", got.linCat, ref.linCat))
      .orElse(maps("quadNumCat", got.quadNumCat, ref.quadNumCat))
      .orElse(maps("quadCat", got.quadCat, ref.quadCat))
  }

  /** [[diff]] over keyed triples: same key set, every triple matching. */
  def diffBy(got: Map[Long, Triple], ref: Map[Long, Triple]): Option[String] =
    if (got.keySet != ref.keySet) Some(s"${got.size} keys != ${ref.size} reference keys")
    else got.iterator.flatMap { case (g, t) => diff(t, ref(g)).map(d => s"key $g: $d") }.nextOption()

  /** A copy of `t` with one sum moved far outside the tolerance — proves
    * a check can fail. */
  def corrupt(t: Triple): Triple = {
    val lin = t.lin.clone()
    lin(0) += 1.0 + 1e-3 * (math.abs(lin(0)) + t.n)
    t.copy(lin = lin)
  }

  /** Integrity and imputation quality of one MICE result against the
    * masked input and the unmasked truth, joined on `id`. */
  final case class MiceCheck(rows: Long, nulls: Long, changedObserved: Long,
                             rmse: Map[String, Double], acc: Map[String, Double])

  def mice(result: DataFrame, masked: DataFrame, truth: DataFrame,
           cont: Seq[String], cats: Seq[String]): MiceCheck = {
    val cols = cont ++ cats
    val r = result.select((col("id") +: cols.map(c => col(c).as(s"r_$c"))): _*)
    val m = masked.select((col("id") +: cols.map(c => col(c).as(s"m_$c"))): _*)
    val t = truth.select((col("id") +: cols.map(c => col(c).as(s"t_$c"))): _*)
    val j = r.join(m, "id").join(t, "id")
    def missing(c: String): Column = col(s"m_$c").isNull
    val aggs: Seq[Column] =
      Seq(count(lit(1)),
        cols.map(c => sum(when(col(s"r_$c").isNull, 1).otherwise(0))).reduce(_ + _),
        cols.map(c => sum(when(!missing(c) && col(s"r_$c") =!= col(s"m_$c"), 1).otherwise(0))).reduce(_ + _)) ++
      cont.flatMap(c => Seq(
        sqrt(avg(when(missing(c), pow(col(s"r_$c") - col(s"t_$c"), 2)))),
        stddev_pop(col(s"t_$c")))) ++
      cats.map(c => avg(when(missing(c), when(col(s"r_$c") === col(s"t_$c"), 1.0).otherwise(0.0))))
    val row = j.agg(aggs.head, aggs.tail: _*).head()
    val rmse = cont.zipWithIndex.map { case (c, i) => c -> row.getDouble(3 + 2 * i) / row.getDouble(4 + 2 * i) }.toMap
    val acc = cats.zipWithIndex.map { case (c, i) => c -> row.getDouble(3 + 2 * cont.size + i) }.toMap
    MiceCheck(row.getLong(0), row.getLong(1), row.getLong(2), rmse, acc)
  }
}
