package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.Graft
import graft.mice.{Mice, MiceJoin}
import graft.ml.{Factorized, Lda, LinReg, NaiveBayes, Qda}
import graft.ring.Triple
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What every workload gets: the session, its seed and sizes, and a
  * directory for its tables. `corrupt` perturbs one output before the
  * checks run, so the smoke test can prove a check fails. */
final case class Ctx(spark: SparkSession, seed: Long, sizes: Gen.Sizes, dataDir: String, corrupt: Boolean) {
  def write(name: String, df: DataFrame): DataFrame = {
    val path = s"$dataDir/$name"
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

trait Workload {
  /** Generate and write the inputs; called once per set-up repetition. */
  def setup(): Unit
  /** One timed workload job: the request mix, each request timed. */
  def pass(rec: Recorder): Unit
  /** Untimed work after a pass (MICE: check the result, free its blocks). */
  def afterPass(rec: Recorder): Unit = ()
  /** Check every stored output against its reference; untimed. */
  def check(rec: Recorder): Unit
  /** Workload-specific end-to-end figures (imputation quality). */
  def quality: Map[String, Double] = Map.empty
  /** MICE: imputed columns × iterations per request; 0 elsewhere. */
  def steps: Int = 0
  /** Untimed passes before timing starts: the first pays class loading
    * and code generation, later ones most of the JIT compilation. */
  def warmPasses: Int = 2
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "train_flat" => new TrainFlat(ctx)
    case "train_grouped" => new TrainGrouped(ctx)
    case "mice_flat" => new MiceFlat(ctx)
    case "mice_star" => new MiceStar(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val names = Seq("train_flat", "train_grouped", "mice_flat", "mice_star")

  /** MB of RDD blocks cached right now (checkpoints are the only ones). */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Free every persisted RDD through the public API. */
  def release(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
}

/** One scan yields a triple; LinReg/LDA/QDA/NB train from it. */
final class TrainFlat(ctx: Ctx) extends Workload {
  import ctx._
  override val warmPasses = 3
  private val num = Gen.num
  private val n = sizes.factRows
  private var fact: DataFrame = _
  private val full = ArrayBuffer[Triple]()
  private val perClass = ArrayBuffer[Seq[(Int, Triple)]]()
  private val nbPerClass = ArrayBuffer[Seq[(Int, Triple)]]()
  private val sqlByC2 = ArrayBuffer[Map[Long, Triple]]()

  def setup(): Unit = {
    fact = write("fact", Gen.flat(spark, seed, n, sizes.bigKeys, sizes.smallKeys))
    fact.createOrReplaceTempView("fact")
  }

  private def finite(xs: Iterable[Double], what: String): Unit =
    require(xs.forall(x => !x.isNaN && !x.isInfinite), s"$what has a non-finite value")

  def pass(rec: Recorder): Unit = {
    rec.request("cofactor+linreg", n) {
      val t = rec.call("agg", "Graft.cofactor")(Graft.cofactor(fact, num, Gen.cat))
      val m = rec.call("ml", "LinReg.train")(LinReg.train(t, label = 1))
      finite(m.intercept +: m.numCoef.toSeq, "LinReg coefficients")
      full += t
    }
    rec.request("cofactor+lda", n) {
      val t = rec.call("agg", "Graft.cofactor")(Graft.cofactor(fact, num, Gen.cat))
      val m = rec.call("ml", "Lda.train")(Lda.train(t, label = 0))
      finite(m.intercepts.toSeq, "LDA intercepts")
      full += t
    }
    rec.request("perclass+qda", n) {
      val pc = rec.call("agg", "Graft.cofactorPerClass")(Graft.cofactorPerClass(fact, num, Seq("c2"), "c1"))
      val m = rec.call("ml", "Qda.train")(Qda.train(pc))
      finite(m.consts.toSeq, "QDA constants")
      perClass += pc
    }
    rec.request("nb_perclass+nb", n) {
      val pc = rec.call("agg", "Graft.cofactorPerClass(nb)")(
        Graft.cofactorPerClass(fact, num, Seq("c2"), "c1", nb = true))
      val m = rec.call("ml", "NaiveBayes.train")(NaiveBayes.train(pc))
      finite(m.priors.toSeq, "NB priors")
      nbPerClass += pc
    }
    rec.request("sql_group_c2", n) {
      val rows = rec.call("agg", "sql sum_to_triple GROUP BY c2")(spark.sql(
        s"SELECT c2, sum_to_triple(${num.mkString(", ")}, c1) AS t FROM fact GROUP BY c2").collect())
      sqlByC2 += rows.map(r => r.getInt(0).toLong -> Graft.tripleFromRow(r.getStruct(1))).toMap
    }
  }

  def check(rec: Recorder): Unit = {
    if (corrupt && full.nonEmpty) full(0) = Check.corrupt(full(0))
    val cells = Check.cells(fact, num, Gen.cat)
    val refFull = Check.assemble(cells, key = -1, cat = Seq(0, 1))(0L)
    val refPc = Check.assemble(cells, key = 0, cat = Seq(1))
    val refNb = Check.assemble(cells, key = 0, cat = Seq(1), nb = true)
    val refSql = Check.assemble(cells, key = 1, cat = Seq(0))
    def keyed(pc: Seq[(Int, Triple)]) = pc.map { case (c, t) => c.toLong -> t }.toMap
    full.foreach(t => Check.diff(t, refFull).foreach(d => rec.fail(s"cofactor: $d")))
    perClass.foreach(pc => Check.diffBy(keyed(pc), refPc).foreach(d => rec.fail(s"perclass: $d")))
    nbPerClass.foreach(pc => Check.diffBy(keyed(pc), refNb).foreach(d => rec.fail(s"nb perclass: $d")))
    sqlByC2.foreach(g => Check.diffBy(g, refSql).foreach(d => rec.fail(s"sql GROUP BY c2: $d")))
  }
}

/** Per-entity triples on both sides of the driver-group cap, through
  * both public surfaces. */
final class TrainGrouped(ctx: Ctx) extends Workload {
  import ctx._
  private val num = Gen.num
  private val cat = Seq.empty[String]
  private val n = sizes.groupedRows
  private var fact: DataFrame = _
  private val keys = Seq("k_big", "k_small")

  def setup(): Unit = {
    fact = write("fact", Gen.flat(spark, seed, n, sizes.bigKeys, sizes.smallKeys))
    fact.createOrReplaceTempView("fact")
  }

  private def api(key: String): DataFrame = Graft.cofactorGrouped(fact, key, num, cat)
  private def sql(key: String): DataFrame =
    spark.sql(s"SELECT $key, sum_to_triple(${(num ++ cat).mkString(", ")}) AS t FROM fact GROUP BY $key")

  // Every group is computed; about 1% of the keys are returned, so each
  // request's output can be checked. The predicate is non-deterministic
  // so Catalyst never pushes it below the aggregate, which keeps the
  // route (and the work) of an unfiltered GROUP BY.
  private val sampled = udf((k: Int) => Math.floorMod(k * 2654435761L, 101L) == 7L).asNondeterministic()
  private def sample(key: String, df: DataFrame): Map[Long, Triple] =
    df.filter(sampled(col(key))).collect().map(r => r.getInt(0).toLong -> Graft.tripleFromRow(r.getStruct(1))).toMap

  private val outputs = ArrayBuffer[(String, String, Map[Long, Triple])]()

  def pass(rec: Recorder): Unit =
    for (key <- keys; (surface, route) <- Seq("api" -> api _, "sql" -> sql _)) {
      rec.request(s"grouped_${surface}_$key", n) {
        val got = rec.call("agg", s"$surface GROUP BY $key")(sample(key, route(key)))
        outputs += ((key, surface, got))
      }
    }

  def check(rec: Recorder): Unit =
    for (key <- keys) {
      val ref = Check.assemble(Check.cells(fact.filter(pmod(col(key) * 2654435761L, lit(101L)) === 7L),
        num, key +: cat), key = 0, cat = cat.indices.map(_ + 1))
      val mine = outputs.filter(_._1 == key)
      if (corrupt && mine.nonEmpty) {
        val i = outputs.indexOf(mine.head)
        outputs(i) = mine.head.copy(_3 = mine.head._3.map { case (k, t) => k -> Check.corrupt(t) })
      }
      val firstApi = outputs.find(o => o._1 == key && o._2 == "api").map(_._3)
      outputs.filter(_._1 == key).foreach { case (_, surface, got) =>
        Check.diffBy(got, ref)
          .orElse(firstApi.filter(_ => surface == "sql").flatMap(a => Check.diffBy(got, a).map(d => s"routes disagree: $d")))
          .foreach(d => rec.fail(s"grouped $surface $key: $d"))
      }
    }
}

/** Shared MICE bookkeeping: time one imputation through its final
  * write, then (untimed) record what stayed cached, check the result
  * and free its blocks. */
abstract class MiceWorkload(ctx: Ctx) extends Workload {
  import ctx._
  protected def rows: Long
  protected def contImputed: Seq[String]
  protected def catImputed: Seq[String]
  protected def masked: DataFrame
  protected def truth: DataFrame
  /** Largest RMSE/σ accepted for an imputed continuous column. */
  protected def rmseBound: Double
  protected def impute(tm: Mice.Timings): DataFrame
  protected def callName: String

  private var last: DataFrame = _
  private val rmse = ArrayBuffer[Double]()
  private val acc = ArrayBuffer[Double]()

  def pass(rec: Recorder): Unit = {
    last = null
    rec.request("impute", rows) {
      val tm = new Mice.Timings
      val out = rec.call("mice", callName) {
        val o = impute(tm)
        noop(o)
        o
      }
      tm.totals.foreach { case (k, v) => rec.phases(k) = rec.phases.getOrElse(k, 0.0) + v }
      last = out
    }
  }

  override def afterPass(rec: Recorder): Unit = {
    rec.retainedMb += Workload.cachedMb(spark)
    if (last != null) {
      // --corrupt shifts one column, so observed cells change and the check must fail
      val out = if (corrupt) last.withColumn(contImputed.head, col(contImputed.head) + 1.0) else last
      try {
        val c = Check.mice(out, masked, truth, contImputed, catImputed)
        val worst = c.rmse.values.max
        rmse ++= c.rmse.values
        acc ++= c.acc.values
        val problems = Seq(
          if (c.rows != rows) Some(s"${c.rows} rows, expected $rows") else None,
          if (c.nulls != 0) Some(s"${c.nulls} NULLs left in imputed columns") else None,
          if (c.changedObserved != 0) Some(s"${c.changedObserved} observed cells changed") else None,
          if (!(worst < rmseBound)) Some(f"RMSE/σ $worst%.4f over bound $rmseBound") else None,
          c.acc.collectFirst { case (col, a) if !(a > 0.3) => f"$col accuracy $a%.4f under 0.3" }
        ).flatten
        problems.headOption.foreach(p => rec.fail(s"$callName: $p"))
      } catch { case scala.util.control.NonFatal(e) => rec.fail(s"$callName check threw $e") }
    }
    Workload.release(spark)
  }

  def check(rec: Recorder): Unit = ()

  override def quality: Map[String, Double] = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    Map("impute_rmse" -> med(rmse.toSeq)) ++ (if (catImputed.nonEmpty) Map("impute_acc" -> med(acc.toSeq)) else Map())
  }
}

/** `Mice.partitioned` over one table: x2, x5 continuous, c1 via LDA. */
final class MiceFlat(ctx: Ctx) extends MiceWorkload(ctx) {
  import ctx._
  protected val rows = sizes.miceRows
  protected val contImputed = Seq("x2", "x5")
  protected val catImputed = Seq("c1")
  protected val rmseBound = 0.8
  protected val callName = "Mice.partitioned"
  private val iterations = 3
  override val steps = (contImputed.size + catImputed.size) * iterations
  protected var masked: DataFrame = _
  protected def truth: DataFrame = Gen.flat(spark, seed, rows, 1, 1)

  def setup(): Unit =
    masked = write("mice_flat", Gen.mask(Gen.flat(spark, seed, rows, 1, 1), seed, Gen.flatMissing)
      .drop("k_big", "k_small"))

  protected def impute(tm: Mice.Timings): DataFrame =
    Mice.partitioned(masked, Mice.Config(contCols = Gen.num, catCols = Gen.cat,
      imputeCont = contImputed, imputeCat = catImputed, iterations = iterations), tm)
}

/** `MiceJoin.imputeChainedOverStar`: two overlapping masked fact
  * columns, features on two dimension tables, two iterations. */
final class MiceStar(ctx: Ctx) extends MiceWorkload(ctx) {
  import ctx._
  protected val rows = sizes.starRows
  protected val contImputed = Gen.starMissing.map(_._1)
  protected val catImputed = Seq.empty[String]
  protected val rmseBound = 0.9
  protected val callName = "MiceJoin.imputeChainedOverStar"
  private val iterations = 2
  override val steps = contImputed.size * iterations
  protected var masked: DataFrame = _
  private var d1: DataFrame = _
  private var d2: DataFrame = _
  protected def truth: DataFrame = Gen.starFact(spark, seed, rows, sizes.dim1Keys, sizes.dim2Keys)

  def setup(): Unit = {
    d1 = write("dim1", Gen.dim1(spark, seed, sizes.dim1Keys))
    d2 = write("dim2", Gen.dim2(spark, seed, sizes.dim2Keys))
    masked = write("star_fact", Gen.mask(truth, seed, Gen.starMissing))
  }

  protected def impute(tm: Mice.Timings): DataFrame =
    MiceJoin.imputeChainedOverStar(masked,
      Seq(Factorized.StarDim(d1, "k1", Seq("d1a", "d1b")), Factorized.StarDim(d2, "k2", Seq("d2a"))),
      MiceJoin.ChainConfig(factNum = Gen.starNum, factCat = Seq(), dimNum = Seq(),
        imputeCont = contImputed, iterations = iterations), tm)
}
