package graft

import graft.agg.{CofactorAggregate, MultiplyTriple, SumTriple, ToCofactor}
import graft.ring.Triple
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.functions.call_function

/**
 * Public API: SQL function registration + Column helpers.
 *
 * SQL surface (mirrors the reference's registrations,
 * duckdb_imputation_extension.cpp:48-249, minus the 399 generated
 * arity-specific names — one generic aggregate dispatches on types):
 *
 *  - `sum_to_triple(cols…)`  fused lift+sum aggregate → triple struct
 *  - `sum_to_nb_agg(cols…)`  fused NB variant
 *  - `to_cofactor(cols…)` / `to_nb_agg(cols…)` per-row lift
 *  - `sum_triple(triple)` / `sum_nb_agg(nbagg)` aggregate over lifted rows
 *  - `multiply_triple(a, b)` / `multiply_nb_agg(a, b)` ring product
 *
 * Text/similarity kernels (all native codegen'd expressions):
 * `simhash64`, `shingle_hashes`, `minhash_signature` / `minhash_bands` /
 * `minhash_prepare`, `repetition_score`; vector math `dot_product`,
 * `vector_norm`, `cosine_similarity`, `vector_sub`, `quantize_int8`;
 * product quantization `pq_encode`, `pq_lut`, `pq_adc_dot`,
 * `pq_sdc_dot`; and the reference's SQL ML surface (`lda_train`,
 * `linreg_train`, `qda_train`, `nb_train` + the matching `*_predict`s).
 */
object Graft {

  // Weak keys: a long-lived driver cycling SparkSessions must not have
  // its dead sessions pinned by the registration cache.
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  def register(spark: SparkSession): SparkSession = {
    if (!registered.containsKey(spark)) synchronized {
      // broadcast build sides kept across queries, for the joins that
      // opt in (the MICE setup's dims)
      val strategies = spark.experimental.extraStrategies
      if (!strategies.exists(_.isInstanceOf[graft.plans.KeptBroadcast.Strategy]))
        spark.experimental.extraStrategies = strategies :+ graft.plans.KeptBroadcast.Strategy(spark)
      val reg = spark.sessionState.functionRegistry
      reg.createOrReplaceTempFunction("sum_to_triple", es => CofactorAggregate(es, nbMode = false), "scala_udf")
      reg.createOrReplaceTempFunction("sum_to_nb_agg", es => CofactorAggregate(es, nbMode = true), "scala_udf")
      reg.createOrReplaceTempFunction("to_cofactor", es => ToCofactor(es, nbMode = false), "scala_udf")
      reg.createOrReplaceTempFunction("to_nb_agg", es => ToCofactor(es, nbMode = true), "scala_udf")
      reg.createOrReplaceTempFunction("sum_triple", es => SumTriple(es.head), "scala_udf")
      reg.createOrReplaceTempFunction("sum_nb_agg", es => SumTriple(es.head), "scala_udf")
      reg.createOrReplaceTempFunction("multiply_triple", es => MultiplyTriple(es(0), es(1)), "scala_udf")
      reg.createOrReplaceTempFunction("multiply_nb_agg", es => MultiplyTriple(es(0), es(1)), "scala_udf")
      reg.createOrReplaceTempFunction("simhash64", es => graft.functions.SimHash64(es.head), "scala_udf")
      // literal-int argument (k, shingle width, band count, …): fail with
      // a usable message on a non-foldable or NULL argument instead of an
      // opaque eval error mid-analysis
      def intArg(es: Seq[org.apache.spark.sql.catalyst.expressions.Expression], i: Int): Int = {
        if (!es(i).foldable)
          throw new IllegalArgumentException(
            s"argument #${i + 1} must be a literal integer, got ${es(i).sql}")
        es(i).eval() match {
          case n: Number => n.intValue()
          case other => throw new IllegalArgumentException(
            s"argument #${i + 1} must be a literal integer, got " +
            (if (other == null) "NULL" else other.toString))
        }
      }
      reg.createOrReplaceTempFunction("shingle_hashes", es =>
        graft.functions.ShingleHashes(es(0), intArg(es, 1)), "scala_udf")
      reg.createOrReplaceTempFunction("minhash_signature", es =>
        graft.functions.MinHashSignature(es(0), intArg(es, 1), intArg(es, 2)), "scala_udf")
      reg.createOrReplaceTempFunction("minhash_bands", es =>
        graft.functions.MinHashSignature(es(0), intArg(es, 1), intArg(es, 2), intArg(es, 3)), "scala_udf")
      reg.createOrReplaceTempFunction("minhash_prepare", es =>
        graft.functions.MinHashPrepare(es(0), intArg(es, 1), intArg(es, 2), intArg(es, 3)), "scala_udf")
      reg.createOrReplaceTempFunction("chunk_text", es =>
        graft.functions.ChunkText(es(0), intArg(es, 1), intArg(es, 2)), "scala_udf")
      reg.createOrReplaceTempFunction("distinct_ngrams", es =>
        graft.functions.DistinctNgrams(es(0), intArg(es, 1)), "scala_udf")
      reg.createOrReplaceTempFunction("all_ngrams", es =>
        graft.functions.AllNgrams(es(0), intArg(es, 1)), "scala_udf")
      reg.createOrReplaceTempFunction("gopher_stats", es =>
        graft.functions.GopherStats(es.head), "scala_udf")
      reg.createOrReplaceTempFunction("repetition_score", es =>
        graft.functions.RepetitionScore(es(0), intArg(es, 1)), "scala_udf")
      reg.createOrReplaceTempFunction("token_stats", es =>
        graft.functions.TokenStats(es.head), "scala_udf")
      // term_counts(text, 'term1', 'term2', …) — the fused BM25 input
      // kernel; terms must be literal strings (the byte tables compile
      // once per expression, not per row)
      reg.createOrReplaceTempFunction("term_counts", es => {
        val terms = es.drop(1).zipWithIndex.map { case (e, i) =>
          if (!e.foldable)
            throw new IllegalArgumentException(
              s"term_counts: term #${i + 1} must be a literal string, got ${e.sql}")
          e.eval() match {
            case u: org.apache.spark.unsafe.types.UTF8String => u.toString
            case other => throw new IllegalArgumentException(
              s"term_counts: term #${i + 1} must be a literal string, got " +
              (if (other == null) "NULL" else other.toString))
          }
        }
        graft.functions.TermCounts(es.head, terms)
      }, "scala_udf")
      // blocklist_stats(text, 'a', 'b', …) — hashed term-SET membership
      // per token (the filter-list kernel; same literal-terms contract)
      reg.createOrReplaceTempFunction("blocklist_stats", es => {
        val terms = es.drop(1).zipWithIndex.map { case (e, i) =>
          if (!e.foldable)
            throw new IllegalArgumentException(
              s"blocklist_stats: term #${i + 1} must be a literal string, got ${e.sql}")
          e.eval() match {
            case u: org.apache.spark.unsafe.types.UTF8String => u.toString
            case other => throw new IllegalArgumentException(
              s"blocklist_stats: term #${i + 1} must be a literal string, got " +
              (if (other == null) "NULL" else other.toString))
          }
        }
        graft.functions.BlocklistStats(es.head, terms)
      }, "scala_udf")
      // the engine-portable split on the SQL surface: both are thin
      // wrappers over the Column implementations (pure built-in
      // arithmetic, codegen'd); weights must be literal doubles
      reg.createOrReplaceTempFunction("stable_hash32", es =>
        graft.operators.StableSplit.stableHash32Expr(es.head), "scala_udf")
      reg.createOrReplaceTempFunction("stable_split", es => {
        val ws = es.drop(1).zipWithIndex.map { case (e, i) =>
          if (!e.foldable)
            throw new IllegalArgumentException(
              s"stable_split: weight #${i + 1} must be a literal number, got ${e.sql}")
          e.eval() match {
            case n: Number => n.doubleValue()
            case d: org.apache.spark.sql.types.Decimal => d.toDouble // SQL 0.8 is DECIMAL
            case other => throw new IllegalArgumentException(
              s"stable_split: weight #${i + 1} must be a literal number, got " +
              (if (other == null) "NULL" else other.toString))
          }
        }
        graft.operators.StableSplit.stableSplitExpr(es.head, ws)
      }, "scala_udf")
      reg.createOrReplaceTempFunction("lang_id", es =>
        graft.functions.LangId(es.head), "scala_udf")
      reg.createOrReplaceTempFunction("stopword_ratio", es =>
        graft.functions.StopwordRatio(es(0), es(1)), "scala_udf")
      // bounded top-k (score DESC NULLS LAST, id ASC) — the map-side
      // ranking tail of every similarity search (see TopKAggregate)
      reg.createOrReplaceTempFunction("topk_by_score", es =>
        agg.TopKByScore(es(0), es(1), intArg(es, 2)), "scala_udf")
      // native embedding math (codegen'd single-loop expressions)
      reg.createOrReplaceTempFunction("dot_product", es =>
        graft.functions.DotProduct(es(0), es(1)), "scala_udf")
      reg.createOrReplaceTempFunction("vector_norm", es =>
        graft.functions.VectorNorm(es.head), "scala_udf")
      reg.createOrReplaceTempFunction("cosine_similarity", es =>
        graft.functions.CosineSimilarity(es(0), es(1)), "scala_udf")
      reg.createOrReplaceTempFunction("quantize_int8", es =>
        graft.functions.QuantizeInt8(es.head), "scala_udf")
      reg.createOrReplaceTempFunction("vector_sub", es =>
        graft.functions.VectorSub(es(0), es(1)), "scala_udf")
      // product-quantization kernels (corpus encode / query LUT / O(m) pair score)
      reg.createOrReplaceTempFunction("pq_encode", es =>
        graft.functions.PqEncode(es(0), es(1), intArg(es, 2), intArg(es, 3)), "scala_udf")
      // SMALLINT-code variant: ksub <= 32768 — the coarse quantizer past
      // 128 cells (fine PQ codes stay bytes)
      reg.createOrReplaceTempFunction("pq_encode_s", es =>
        graft.functions.PqEncode(es(0), es(1), intArg(es, 2), intArg(es, 3), wide = true), "scala_udf")
      reg.createOrReplaceTempFunction("pq_lut", es =>
        graft.functions.PqLut(es(0), es(1), intArg(es, 2), intArg(es, 3)), "scala_udf")
      reg.createOrReplaceTempFunction("pq_adc_dot", es =>
        graft.functions.PqAdcDot(es(0), es(1)), "scala_udf")
      // 5-arg form pins m/ksub (the production form — wrong geometry ->
      // NULL, never silently wrong scores); 3-arg infers ksub = sqrt
      reg.createOrReplaceTempFunction("pq_sdc_dot", es =>
        if (es.length >= 5)
          graft.functions.PqSdcDot(es(0), es(1), es(2), intArg(es, 3), intArg(es, 4))
        else graft.functions.PqSdcDot(es(0), es(1), es(2)), "scala_udf")
      // reference SQL ML surface (duckdb_imputation_extension.cpp:184-248)
      reg.createOrReplaceTempFunction("lda_train", es =>
        agg.MlSqlFunctions.LdaTrain(es), "scala_udf")
      reg.createOrReplaceTempFunction("linreg_train", es =>
        agg.MlSqlFunctions.LinRegTrain(es), "scala_udf")
      reg.createOrReplaceTempFunction("qda_train", es =>
        agg.MlSqlFunctions.PerClassTrain(es, nb = false), "scala_udf")
      reg.createOrReplaceTempFunction("nb_train", es =>
        agg.MlSqlFunctions.PerClassTrain(es, nb = true), "scala_udf")
      reg.createOrReplaceTempFunction("lda_predict", es =>
        agg.MlSqlFunctions.MlPredictExpr(es, "lda", numFlags = 1), "scala_udf")
      reg.createOrReplaceTempFunction("qda_predict", es =>
        agg.MlSqlFunctions.MlPredictExpr(es, "qda", numFlags = 1), "scala_udf")
      reg.createOrReplaceTempFunction("nb_predict", es =>
        agg.MlSqlFunctions.MlPredictExpr(es, "nb", numFlags = 1), "scala_udf")
      reg.createOrReplaceTempFunction("linreg_predict", es =>
        agg.MlSqlFunctions.MlPredictExpr(es, "linreg", numFlags = 2), "scala_udf")
      registered.put(spark, java.lang.Boolean.TRUE)
    }
    spark
  }

  /** Fused cofactor aggregate over continuous (`DoubleType`/`FloatType`)
    * and categorical (integer-typed) columns. */
  def sumTriple(cols: Column*): Column = call_function("sum_to_triple", cols: _*)
  def sumNbAgg(cols: Column*): Column = call_function("sum_to_nb_agg", cols: _*)
  def toCofactor(cols: Column*): Column = call_function("to_cofactor", cols: _*)
  def toNbAgg(cols: Column*): Column = call_function("to_nb_agg", cols: _*)
  def sumTripleOf(c: Column): Column = call_function("sum_triple", c)
  def multiplyTriple(a: Column, b: Column): Column = call_function("multiply_triple", a, b)

  /** Collect the cofactor triple of `df` over the given continuous and
    * categorical columns in ONE Spark job: the columnar kernel when it
    * can harvest the plan, else [[liftTriples]]'s per-partition fold.
    * Both routes keep one contract: the job runs under a SQL execution
    * id, and the driver merges the partitions' buffers in
    * partition-index order ([[mergeBuffers]]) under `maxCategories`.
    * The triple — a few KB — is the only thing that reaches the driver. */
  def cofactor(df: DataFrame, num: Seq[String], cat: Seq[String], nb: Boolean = false): Triple = {
    register(df.sparkSession)
    // fast path: when `df` is a columnar scan (optionally under simple
    // filters — attr-vs-literal comparisons, contains/startsWith/
    // endsWith, IN, IS [NOT] NULL, bare boolean flags, AND/OR/NOT,
    // evaluated by the kernel as a per-batch mask) and every column is
    // a plain supported type, consume the parquet batches directly
    // (ColumnarCofactor) — identical semantics (null-skip, int→cat
    // dispatch, cardinality guard), no ColumnarToRow, no agg exchange.
    // A join, computed column, or uncompilable predicate makes the
    // harvest refuse and we fall through to the row fold below.
    graft.agg.ColumnarCofactor.cofactor(
      df,
      num.map(graft.agg.ColumnarCofactor.NumCol),
      cat.map(graft.agg.ColumnarCofactor.CatCol),
      nbMode = nb
    ).getOrElse(liftTriples(df, num, cat, nb).head._2)
  }

  /**
   * Cofactor triples over `df`, one per entry of `filters`, computed in
   * ONE Spark job — one scan answers what k filtered rescans would
   * (optimization guide §1.2: fix the distributed algorithm first).
   * `None` aggregates every row; `Some(pred)` aggregates exactly the
   * rows where `pred` is true (a NULL predicate counts as false).
   *
   * Each partition folds its rows into one buffer per slot
   * ([[liftTriples]]), in the same per-partition order a scan of
   * `df.filter(pred)` would see them, and the partials merge in
   * partition-index order — so each slot matches the separately
   * filtered [[cofactor]] value for value. Used by the MICE loops,
   * whose per-column training and delta triples over the incomplete
   * stratum all read the SAME frame and differ only in their row
   * predicate.
   */
  def cofactorMasked(df: DataFrame, num: Seq[String], cat: Seq[String],
                     filters: Seq[Option[Column]], nb: Boolean = false): Seq[Triple] = {
    require(filters.nonEmpty, "cofactorMasked needs at least one filter slot")
    register(df.sparkSession)
    liftTriples(df, num, cat, nb, filters).map(_._2)
  }

  /** [[foldPartitions]] over the rows of `df` (`queryExecution.toRdd`). */
  private[graft] def foldPartitions[T: scala.reflect.ClassTag](df: DataFrame)(
      fold: Iterator[org.apache.spark.sql.catalyst.InternalRow] => T): Array[T] =
    foldPartitions(df.queryExecution, df.queryExecution.toRdd)(fold)

  /** Runs `rows` as ONE Spark job under a new SQL execution id for `qe`
    * (built inside it, so the broadcasts `toRdd` runs first join the
    * same query), folding each partition with `fold`. The partials come
    * back in partition-index order, not task-completion order: a caller
    * that merges them in array order gets a deterministic result. */
  private[graft] def foldPartitions[R, T: scala.reflect.ClassTag](qe: QueryExecution,
      rows: => org.apache.spark.rdd.RDD[R])(fold: Iterator[R] => T): Array[T] =
    SQLExecution.withNewExecutionId(qe, Some("cofactor"))(qe.sparkSession.sparkContext.runJob(rows, fold))

  /** The [[CofactorAggregate]] of the row folds: the fields `num` of
    * each row are doubles, the fields `cat` ints, under the session's
    * `maxCategories` guard. */
  private[graft] def rowAggregate(spark: SparkSession, num: Seq[Int], cat: Seq[Int],
                                  nb: Boolean): CofactorAggregate = {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{DoubleType, IntegerType}
    CofactorAggregate(
      num.map(i => BoundReference(i, DoubleType, nullable = true)) ++
        cat.map(j => BoundReference(j, IntegerType, nullable = true)),
      nbMode = nb,
      maxCategories = maxCategories(spark))
  }

  /** The session's `spark.graft.cofactor.maxCategories`. */
  private def maxCategories(spark: SparkSession): Int =
    org.apache.spark.sql.internal.SQLConf.withExistingConf(
      spark.sessionState.conf)(CofactorAggregate.confMaxCategories())

  /** One partition's fold, fed one row at a time; [[checkpointRows]]
    * feeds it the rows it stores from, in the same pass. */
  private[graft] trait RowFold[T] {
    def update(r: org.apache.spark.sql.catalyst.InternalRow): Unit
    def result: T
  }

  /** One partition's slot buffers: slot `s` folds the rows whose field
    * `agg.children.size + s` is TRUE — a NULL predicate drops the row,
    * as `filter` would. `result` serializes them keyed by slot. */
  private[graft] final class SlotFold(agg: CofactorAggregate, slots: Int)
      extends RowFold[Array[(Int, Array[Byte])]] {
    private val k = agg.children.size
    private val bufs = Array.fill(slots)(agg.createAggregationBuffer())
    def update(r: org.apache.spark.sql.catalyst.InternalRow): Unit = {
      var s = 0
      while (s < slots) {
        if (!r.isNullAt(k + s) && r.getBoolean(k + s)) agg.update(bufs(s), r)
        s += 1
      }
    }
    def result: Array[(Int, Array[Byte])] = bufs.indices.map(s => s -> agg.serialize(bufs(s))).toArray
  }

  /** One partition's per-label buffers: `update` folds a row into the
    * buffer of its label (int field `label`; a NULL label drops the
    * row), `result` serializes them keyed by label. */
  private[graft] final class LabelFold(agg: CofactorAggregate, label: Int)
      extends RowFold[Array[(Int, Array[Byte])]] {
    private val bufs = scala.collection.mutable.LongMap.empty[graft.agg.CofactorBuffer]
    def update(r: org.apache.spark.sql.catalyst.InternalRow): Unit =
      if (!r.isNullAt(label))
        agg.update(bufs.getOrElseUpdate(r.getInt(label), agg.createAggregationBuffer()), r)
    def result: Array[(Int, Array[Byte])] =
      bufs.iterator.map { case (l, b) => l.toInt -> agg.serialize(b) }.toArray
  }

  /** The one driver merge of every eager triple, row fold and kernel
    * alike: each partition's serialized buffers, keyed by filter slot or
    * label, merged per key into an `empty()` buffer in array
    * (partition-index) order — bit-identical across calls, and under
    * `empty()`'s `maxCategories` over the merged maps. Every key in
    * `keys` is present; with no `keys` the keys are labels, and the
    * merged label count is held to the same `maxCategories`, whatever
    * each partition held. Returns (key, triple) pairs sorted by key. */
  private[graft] def mergeBuffers[K: Ordering](empty: () => graft.agg.CofactorBuffer, keys: Seq[K],
      partials: Array[Array[(K, Array[Byte])]]): Seq[(K, Triple)] = {
    val merged = scala.collection.mutable.TreeMap.from(keys.map(_ -> empty()))
    for (part <- partials; (key, bytes) <- part) {
      val b = merged.getOrElseUpdate(key, empty())
      if (keys.isEmpty && merged.size > b.maxCategories)
        throw new IllegalStateException(
          s"per-class cofactor: label exceeded ${b.maxCategories} distinct classes after merge — " +
            "this looks like an ID, not a label (raise spark.graft.cofactor.maxCategories to override)")
      b.merge(graft.agg.CofactorBuffer.fromBytes(bytes))
    }
    merged.iterator.map { case (key, b) => key -> b.toTriple }.toSeq
  }

  /** The eager row route of [[cofactor]], [[cofactorMasked]] and
    * [[cofactorPerClass]]: ONE Spark job ([[foldPartitions]]) over the
    * cast inputs, each partition folding its rows with
    * [[CofactorAggregate]]`.update` — the null-skip, casts and
    * `maxCategories` guard of `sum_to_triple` — into one buffer per
    * filter slot ([[SlotFold]]), or with a `label` into one buffer per
    * non-NULL label value; the driver merges them with [[mergeBuffers]].
    * Returns (slot index or label, triple) pairs sorted by key; without
    * a label every slot is present. */
  private def liftTriples(df: DataFrame, num: Seq[String], cat: Seq[String], nb: Boolean,
      filters: Seq[Option[Column]] = Seq(None),
      label: Option[String] = None): Seq[(Int, Triple)] = {
    import org.apache.spark.sql.functions.{col, lit}
    // projected row: [num…, cat…, one predicate per slot, label]
    val k = num.size + cat.size
    val cols = num.map(c => col(c).cast("double")) ++ cat.map(c => col(c).cast("int")) ++
      filters.map(_.getOrElse(lit(true))) ++ label.map(l => col(l).cast("int"))
    val proj = df.select(cols.zipWithIndex.map { case (c, i) => c.as(s"__g$i") }: _*)
    val agg = rowAggregate(df.sparkSession, 0 until num.size, num.size until k, nb)
    val slots = filters.size
    val partials = foldPartitions(proj) { rows =>
      val f = if (label.isEmpty) new SlotFold(agg, slots) else new LabelFold(agg, k + slots)
      rows.foreach(f.update)
      f.result
    }
    mergeBuffers(() => agg.createAggregationBuffer(), if (label.isEmpty) 0 until slots else Nil,
      partials)
  }

  /** `sum_triple(t)` over every row of `df`, eagerly, in ONE Spark job
    * ([[foldPartitions]]): each partition adds its non-NULL triples into
    * one buffer of `numCols` × `catCols` columns, and [[mergeBuffers]]
    * merges those in partition order under the session's `maxCategories`.
    * The zero triple when no row carries one. The final of the factorized
    * join and star cofactors. */
  private[graft] def sumTriples(df: DataFrame, t: Column, numCols: Int, catCols: Int): Triple = {
    val proj = df.select(t.as("__t"))
    val nf = proj.schema.head.dataType.asInstanceOf[org.apache.spark.sql.types.StructType].length
    val cap = maxCategories(df.sparkSession)
    val empty = () => new graft.agg.CofactorBuffer(numCols, catCols, nf == 4, cap)
    val partials = foldPartitions(proj) { rows =>
      val b = empty()
      rows.foreach(r => if (!r.isNullAt(0)) graft.agg.TripleCodec.addInto(b, r.getStruct(0, nf)))
      Array(0 -> graft.agg.CofactorBuffer.toBytes(b))
    }
    mergeBuffers(empty, Seq(0), partials).head._2
  }

  /**
   * Skew-resilient grouped cofactor: two-stage aggregation through a
   * row salt. Stage 1 aggregates on (keys, salt) — a hot key's rows
   * spread over `saltBuckets` reducers — stage 2 ring-adds the partial
   * triples per key (`Triple.add` is associative/commutative, so the
   * result is the plain grouped cofactor). Use when one group holds a
   * large share of the data and AQE's skew handling can't help (it
   * splits join partitions, not aggregation groups).
   * Returns `keys ++ [t]` with `t` the triple struct.
   */
  def cofactorGroupedSalted(df: DataFrame, keys: Seq[String],
                            num: Seq[String], cat: Seq[String],
                            saltBuckets: Int = 32, nb: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    register(df.sparkSession)
    val cols = num.map(c => col(c).cast("double")) ++ cat.map(c => col(c).cast("int"))
    // content-derived salt: xxhash64 over every HASHABLE column of df
    // (not just the aggregate's inputs — low-cardinality features would
    // cap a hot group's spread at their distinct-combination count)
    // makes the stage DETERMINISTIC under task retry — a fetch failure
    // re-runs one task, not the whole stage (monotonically_increasing_id
    // depends on row position, so Spark must mark the stage
    // indeterminate and recompute it wholesale). MapType-bearing columns
    // are excluded (xxhash64 rejects them at analysis); keys/num/cat are
    // primitive, so the salt inputs are never empty. Spreading is
    // bounded by the hot group's distinct hashable-row count;
    // byte-identical duplicate rows share a bucket (interchangeable
    // rows — the result is unchanged, only the spread degrades, by the
    // duplicate multiplicity).
    def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => false
      case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => hashable(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
      case _ => true
    }
    val saltInputs = df.schema.fields.toSeq.collect {
      case f if hashable(f.dataType) => col(f.name)
    }
    val stage1 = df
      .withColumn("__salt", pmod(xxhash64(saltInputs: _*), lit(saltBuckets.toLong)))
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg((if (nb) sumNbAgg(cols: _*) else sumTriple(cols: _*)).as("__t"))
    stage1.groupBy(keys.map(col): _*)
      .agg(call_function(if (nb) "sum_nb_agg" else "sum_triple", col("__t")).as("t"))
  }

  /** Deterministically free a SUPERSEDED `localCheckpoint`'s storage
    * blocks. Iterative operators (MICE loops, connected components)
    * replace their working-set checkpoint every round; relying on the
    * async ContextCleaner lets rounds × working-set copies accumulate
    * in executor storage at scale before driver GC notices. Callers
    * pass the BARE superseded checkpoint frame (plan = one LogicalRDD)
    * only after its replacement has materialized (localCheckpoint is
    * eager), so nothing can still read the dropped blocks. BLOCKING:
    * an async unpersist lets 2–3 working-set generations coexist and
    * churn the storage pool (sf10 mice_star measured 9–30 s spread
    * from exactly that); the synchronous removal costs one RPC
    * round-trip per step against gigabytes of eviction pressure.
    *
    * Inside a larger plan only the generations [[checkpointRows]] made
    * are released: an operator that reads a narrow input in place (the
    * MICE-high loop) returns a plan whose leaves include the caller's
    * own checkpoint, which the caller still owns. A frame that IS a
    * checkpoint (plan = one LogicalRDD) is released whoever made it. */
  private[graft] def dropCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = true)
      case plan => plan.foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD if l.rdd.name == GenerationName =>
          l.rdd.unpersist(blocking = true)
        case _ => ()
      }
    }

  /** Name of every RDD [[checkpointRows]] stores; [[dropCheckpoint]]
    * releases leaves by it (also shown in the Spark UI's storage tab). */
  private val GenerationName = "graft checkpoint"

  /** True when `df`'s analyzed plan is leaf + NARROW operators only
    * (projections, filters, unions — no joins, aggregates, windows,
    * generators, sorts): re-executing it costs one scan, so iterative
    * operators skip the input checkpoint and keep the scan's bucketed
    * co-location alive downstream (a LogicalRDD checkpoint erases
    * bucket metadata and re-introduces an exchange under every join
    * and grouped aggregate over the data). */
  private[graft] def isNarrowPlan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    !df.queryExecution.analyzed.exists {
      case _: Join | _: Aggregate | _: Window | _: Generate | _: Sort |
           _: GlobalLimit | _: Distinct | _: Intersect | _: Except => true
      case _ => false
    }
  }

  /** Working-set checkpoint for iterative operators: eager
    * `localCheckpoint` at a SERIALIZED storage level
    * (`MEMORY_AND_DISK_SER`). Deserialized blocks store one Java object
    * graph per row — at a 600M-row working set that is tens of GB a GENERATION,
    * and an iterative operator holds two generations at the handoff
    * (previous + replacement, released by [[dropCheckpoint]]), which
    * overflowed a 60 GB scratch disk in the sf100 MICE bench.
    * Serialized blocks are compact Tungsten bytes, and with
    * `spark.rdd.compress=true` (recommended; set in Bench/Verify and
    * the test session) they LZ4-compress on both heap and disk —
    * several × smaller on training-shaped data (near-sequential keys,
    * low-entropy measures). The deser CPU on re-read is amortized
    * against the scan/join each iteration performs anyway.
    *
    * The level is SIZE-ADAPTIVE: below 1 GB the
    * generation stores DESERIALIZED (`MEMORY_AND_DISK`) — at small
    * working sets the ser+LZ4 round trip is pure overhead (measured +66%
    * on the sf0.1 `mice_1round` bench row when every level was
    * serialized), while the object-graph blowup it guards against is
    * bounded by the same small size. The size is the plan's Catalyst
    * estimate. Every stored generation reports the bytes it actually
    * stored as its statistics, so a checkpoint of a plan over earlier
    * generations sizes from data; unknown stats (a leaf over another
    * RDD reports the session default, effectively ∞) err to SERIALIZED
    * — the safe direction at scale. */
  private[graft] def checkpoint(df: DataFrame): DataFrame =
    checkpointRows[Unit](df, _ => true, df.queryExecution.optimizedPlan.stats.sizeInBytes)(None)._1

  /** [[checkpoint]] of the rows of `df` that `keep` accepts, stored at
    * the level for about `bytes` (the caller's size of `df`), plus —
    * when `fold` is given — a fresh `fold()` fed EVERY row of each
    * partition, all in ONE job under one SQL execution id and ONE pass:
    * the computation that stores a partition folds it too and hands the
    * fold to its task ([[StoredFolds]]), so a broadcast in `df`'s plan
    * runs once and each partition is computed once. The folds come back
    * in partition-index order; without a `fold` the job reads each
    * stored partition once (listeners attribute it like any action).
    * The stored generation's statistics are the bytes of the rows it
    * stored. */
  private[graft] def checkpointRows[T: scala.reflect.ClassTag](df: DataFrame,
      keep: org.apache.spark.sql.catalyst.InternalRow => Boolean, bytes: BigInt)(
      fold: Option[() => RowFold[T]]): (DataFrame, Array[T]) = {
    import org.apache.spark.storage.StorageLevel
    val lvl = if (bytes < (1L << 30)) StorageLevel.MEMORY_AND_DISK else StorageLevel.MEMORY_AND_DISK_SER
    // LAYOUT-PRESERVING, unlike the public `localCheckpoint` API: the
    // stored generation is rebuilt through `LogicalRDD.fromDataset`,
    // which rewrites the executed plan's outputPartitioning/ordering
    // onto the new leaf — `localCheckpoint` discards both (the
    // LogicalRDD reports UnknownPartitioning, certified by
    // tools/CheckpointPartitioningProbe), so every downstream join or
    // grouped aggregate on an already-clustered key paid a fresh
    // exchange. An iterative operator whose generation ends
    // hash-clustered (a groupBy, an explicit repartition(key)) now
    // hands that clustering to the next iteration for free; a kept
    // subset of a partition's rows keeps its clustering. Blocks are
    // plain-persisted, not lineage-truncated: on eviction a partition
    // recomputes from the frozen physical plan — deterministic, and
    // strictly safer than localCheckpoint's unrecoverable-block
    // failure mode.
    val qe = df.queryExecution
    val (stored, parts) = SQLExecution.withNewExecutionId(qe, Some("checkpoint")) {
      val rows = qe.toRdd
      // toRdd's UnsafeRows are reused per partition iterator — copy
      // before storing, exactly as the public checkpoint path does
      val stored = rows.mapPartitions { it =>
        val f = fold.map(_())
        val kept = f.fold(it)(g => it.map { r => g.update(r); r }).filter(keep).map(_.copy())
        f.fold(kept)(g => kept ++ {
          foldHandoff.set((org.apache.spark.TaskContext.get().taskAttemptId(), g.result))
          Iterator.empty
        })
      }.setName(GenerationName).persist(lvl)
      // eager: materialize before the caller drops the previous generation
      (stored, df.sparkSession.sparkContext.runJob(new StoredFolds(stored, rows, fold),
        (it: Iterator[(Long, Option[T])]) => it.next()))
    }
    (org.apache.spark.sql.graft.ColumnBridge.datasetOverRdd(df, stored, parts.map(_._1).sum),
      parts.flatMap(_._2))
  }

  /** Where the computation that stores a partition leaves its fold for
    * the task attempt that asked for the partition. */
  private val foldHandoff = new ThreadLocal[(Long, Any)]

  /** One task per partition of `stored`, run once `stored` is persisted:
    * reading the partition computes and stores it, and the task returns
    * the bytes of its stored rows with the fold that computation handed
    * off — or, when an earlier attempt had already stored the block, the
    * fold of a fresh pass over `rows`. `stored` is a per-partition map of
    * `rows`, so both share each partition. */
  private[graft] final class StoredFolds[T](stored: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      fold: Option[() => RowFold[T]])
      extends org.apache.spark.rdd.RDD[(Long, Option[T])](stored.sparkContext,
        Seq(new org.apache.spark.OneToOneDependency(stored), new org.apache.spark.OneToOneDependency(rows))) {
    override protected def getPartitions: Array[org.apache.spark.Partition] = stored.partitions

    override def compute(split: org.apache.spark.Partition,
                         ctx: org.apache.spark.TaskContext): Iterator[(Long, Option[T])] = {
      foldHandoff.remove()
      var bytes = 0L
      stored.iterator(split, ctx).foreach {
        case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow => bytes += u.getSizeInBytes
        case r => bytes += 8L * r.numFields
      }
      val handed = Option(foldHandoff.get()).collect { case (id, t) if id == ctx.taskAttemptId() => t }
      foldHandoff.remove()
      Iterator.single((bytes, fold.map { f =>
        handed.getOrElse {
          val g = f()
          rows.iterator(split, ctx).foreach(g.update)
          g.result
        }.asInstanceOf[T]
      }))
    }
  }

  /** Route the last [[cofactorGrouped]] call on this thread took
    * ("columnar" = batch-kernel harvest, "row" = grouped row aggregate).
    * Set at the LIVE decision point; oracle rows and specs certify the
    * routing through this. Thread-local: parallel suites and concurrent
    * sessions don't race. */
  private val lastGroupedRouteTL = new ThreadLocal[String] {
    override def initialValue(): String = ""
  }
  def lastGroupedRoute(): String = lastGroupedRouteTL.get()

  /** A [[Triple]] as an external Row matching
    * [[graft.agg.TripleCodec.dataType]]; maps emitted in sorted key
    * order and lin/quad normalized `+ 0.0`, both mirroring
    * `TripleCodec.toCatalyst` exactly — the aggregate route's output —
    * so a downstream hash/dedup over the struct can never see
    * route-dependent bytes (-0.0 vs +0.0). Map values need no
    * normalization: the ring merge never stores exact zeros. */
  def tripleToRow(t: Triple, nb: Boolean = false): Row = {
    def si(m: Map[Int, Double]) = scala.collection.immutable.TreeMap(m.toSeq: _*)
    def sl(m: Map[Long, Double]) = scala.collection.immutable.TreeMap(m.toSeq: _*)
    val lin = t.lin.toSeq.map(_ + 0.0)
    val quad = t.quad.toSeq.map(_ + 0.0)
    if (nb) Row(t.n, lin, quad, t.linCat.toSeq.map(si))
    else Row(t.n, lin, quad, t.linCat.toSeq.map(si),
      t.quadNumCat.toSeq.map(si), t.quadCat.toSeq.map(sl))
  }

  /**
   * Grouped cofactor — `GROUP BY key` with one full triple per group
   * (the reference's grouped-aggregate shape; q03's query) as a
   * `(key, t)` DataFrame. An integer-typed (int/long) or SINGLE-BYTE
   * string key (flag/status columns — probed, see below) over a bare
   * or simply-filtered scan routes through the columnar batch kernel,
   * riding as the per-class label
   * ([[graft.agg.ColumnarCofactor.cofactorPerClass]]) — the harvest's
   * structural-refusal contract is inherited, so a join, computed
   * column, unsupported key type, or uncompilable filter falls back to
   * the grouped row aggregate below. NULL keys are dropped on BOTH
   * routes (the kernel skips NULL-input rows; the row route filters
   * explicitly — a NULL group whose key unboxes to 0 is never what a
   * grouped moment wants). The kernel route is gated on ONE memoized
   * probe scan ([[graft.ml.Factorized.probeGroupedShape]]): it builds
   * one FULL buffer per group per partition — the right plan for
   * dimension-like keys, an executor OOM for a fact-like key that is
   * still under the 1M cardinality guard. The per-partition buffers
   * leave the scan as partial triples
   * ([[graft.agg.ColumnarCofactor.groupedPartials]]) that an ordinary
   * `groupBy(key).agg(sum_triple)` merges under Spark's own exchange, so
   * the result is a lazy DataFrame whose groups never pass through the
   * driver. The default cap (`maxGroups` ≤ 0) is
   * BYTE-BASED: per-group buffer bytes are estimated from the probe's
   * MEASURED cat-column cardinalities (each per-group map holds at
   * most min(column cardinality, rows/group) entries — a 10k-category
   * column costs ~80 KB/group, not a flat allowance), against ~64 MB
   * of buffers per partition (the SHJ guard's budget); pass
   * `maxGroups > 0` to pin it (clamped to the kernel's cardinality
   * guard). Over-cap keys route to the distributed row aggregate,
   * which handles them natively. String keys whose probed exact max
   * byte width is ≤ 8 (NUL-free) pack base-256 into the LONG label
   * channel (`en-US` locales, 8-char SKUs; route `"columnar"`); WIDER
   * or NUL-embedded string keys under the group cap ride the kernel
   * through a DICTIONARY label instead (route `"columnar-dict"`: one
   * memoized distinct scan builds a broadcast value↔index map, each
   * row pays one hash probe — URLs, dataset names, full locales), so
   * the only string keys left to the row aggregate are genuinely
   * over-cap ones. CatShortString's mid-job fail-loud throw stays
   * reserved for cat COLUMNS a user pinned explicitly; a public GROUP
   * BY never crashes on data shape. The probe runs only on
   * structurally harvestable plans (plan-shape refusal is checked
   * first, without any scan).
   */
  def cofactorGrouped(df: DataFrame, key: String, num: Seq[String], cat: Seq[String],
                      nb: Boolean = false, maxGroups: Int = -1): DataFrame =
    cofactorGroupedMulti(df, Seq(key), num, cat, nb, maxGroups)

  /**
   * Multi-key grouped cofactor — `GROUP BY k1[, k2, k3, k4]` with one
   * full triple per key TUPLE (the `source × language` curation-cut
   * shape); one key is [[cofactorGrouped]]. With 2–4 keys the kernel
   * route packs every key into the ONE Long label channel with a fixed
   * per-key byte budget measured by the shape probe
   * ([[graft.agg.ColumnarCofactor.CatPackedKeys]]): a string key owns
   * its exact max UTF-8 width, an int-typed key the bytes its probed
   * [0, max] range needs — ≤ 8 bytes TOTAL rides the kernel
   * (e.g. 4-byte source × 2-byte lang × a small int tier), anything
   * wider, any negative int key, NUL-embedded or >8-byte strings, or
   * an unharvestable plan falls back to the grouped row aggregate.
   * Rows with a NULL in ANY key OR any num/cat input are dropped on
   * both routes — a group whose rows all carry a NULL input therefore
   * does not appear at all, on either route. Output columns carry the
   * ORIGINAL key types, so the schema never depends on the route.
   */
  def cofactorGroupedMulti(df: DataFrame, keys: Seq[String], num: Seq[String], cat: Seq[String],
                           nb: Boolean = false, maxGroups: Int = -1): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(keys.nonEmpty, "cofactorGroupedMulti needs at least one key")
    register(df.sparkSession)
    val resolver = df.sparkSession.sessionState.analyzer.resolver
    val keyFields = keys.map(k => df.schema.find(f => resolver(f.name, k))
      .getOrElse(throw new IllegalArgumentException(s"key column $k not found")))
    groupedKernelGate(df, keys, num, cat, nb, maxGroups, probeNulls = false).flatMap {
      case (ls, _) => groupedViaKernel(df, keyFields, ls, num, cat, nb).map(g => (ls, g))
    } match {
      case Some((ls, grouped)) =>
        lastGroupedRouteTL.set(ls match {
          case _: graft.agg.ColumnarCofactor.CatDictString => "columnar-dict"
          case _ => "columnar"
        })
        grouped
      case None =>
        lastGroupedRouteTL.set("row")
        val cols = num.map(c => col(c).cast("double")) ++ cat.map(c => col(c).cast("int"))
        val agg = if (nb) sumNbAgg(cols: _*) else sumTriple(cols: _*)
        // rows with any NULL input are skipped by BOTH the row
        // aggregate and the kernel, but a group whose rows ALL carry a
        // NULL input would survive here as an empty (n=0) triple while
        // the kernel drops it — pre-filter so the two routes return
        // the same group SET, not just the same triples on shared groups
        val nonNull = (keys ++ num ++ cat).map(c => col(c).isNotNull).reduce(_ && _)
        df.filter(nonNull).groupBy(keys.map(col): _*).agg(agg.as("t"))
    }
  }

  /** The kernel route of [[cofactorGroupedMulti]]:
    * the grouped kernel's partial triples
    * ([[graft.agg.ColumnarCofactor.groupedPartials]]) as a DataFrame of
    * `(keys…, __t)`, merged per key tuple by `sum_triple` under Spark's
    * own exchange. Lazy: nothing runs until the caller acts. None when
    * the harvest refuses the plan. */
  private def groupedViaKernel(df: DataFrame, keyFields: Seq[org.apache.spark.sql.types.StructField],
      ls: graft.agg.ColumnarCofactor.CatSpec, num: Seq[String], cat: Seq[String],
      nb: Boolean): Option[DataFrame] = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{StructField, StructType}
    graft.agg.ColumnarCofactor.groupedPartials(df, num.map(graft.agg.ColumnarCofactor.NumCol),
        cat.map(graft.agg.ColumnarCofactor.CatCol), Some(ls), keyFields.map(_.dataType), nb)
      .map { rdd =>
        val schema = StructType(keyFields.map(f => StructField(f.name, f.dataType)) :+
          StructField("__t", graft.agg.TripleCodec.dataType(nb), nullable = false))
        def quoted(name: String) = col("`" + name.replace("`", "``") + "`")
        org.apache.spark.sql.graft.ColumnBridge.ofInternalRows(df.sparkSession, rdd, schema)
          .groupBy(keyFields.map(f => quoted(f.name)): _*)
          .agg(sumTripleOf(col("__t")).as("t"))
      }
  }

  /** True when the resolved schema field is nullable (or unresolved —
    * assume the worst). Used to skip null-count probe columns the
    * schema already proves clean. */
  private[graft] def schemaNullable(df: DataFrame, c: String): Boolean = {
    val resolver = df.sparkSession.sessionState.analyzer.resolver
    df.schema.find(f => resolver(f.name, c)).forall(_.nullable)
  }

  /** Install the kernel-routing strategy set on the session
    * (idempotent): the grouped + flat cofactor strategy
    * ([[graft.plans.GroupedCofactorStrategy]]), the SUM/AVG/COUNT
    * moments strategy ([[graft.plans.GroupedMomentsStrategy]] — the
    * TPC-H-Q1/curation-cut shape) and
    * [[graft.plans.CofactorDeclarativeRewrite]]. Opt-in by design: this
    * is what `Bench`, `Verify`, and `GraftExtensions` sessions run with,
    * so the oracle gate certifies the kernel-routed plans; bare test
    * sessions stay row-routed so the kernel-vs-row parity specs keep
    * comparing two genuinely different physical plans. */
  def enableSqlKernels(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = cur ++ Seq(
      graft.plans.GroupedCofactorStrategy(spark), graft.plans.GroupedMomentsStrategy(spark))
      .filterNot(s => cur.exists(_.getClass == s.getClass))
    // the declarative rewrite for numeric-only cofactors that FEED A
    // JOIN: plain SUMs keep the whole pipeline, the join's final
    // sum_triple(multiply_triple) included, in codegen'd hash
    // aggregates instead of ObjectHashAggregate buffer objects
    val opts = spark.experimental.extraOptimizations
    if (!opts.contains(graft.plans.CofactorDeclarativeRewrite))
      spark.experimental.extraOptimizations =
        opts :+ graft.plans.CofactorDeclarativeRewrite
  }

  /** Kernel-route eligibility for a grouped cofactor over 1–4 keys —
    * the one gate behind [[cofactorGroupedMulti]] and both SQL planner
    * strategies ([[graft.plans.GroupedCofactorStrategy]],
    * [[graft.plans.GroupedMomentsStrategy]]). Ordered cheapest-first:
    * key-type check and plan-shape refusal are driver-only; the shape
    * probe (ONE memoized fixed-memory scan) runs only on structurally
    * harvestable plans. Returns the label spec plus the probed NULL-row
    * upper bound when every gate passes. The key count picks the label:
    *  - one int/long key rides [[graft.agg.ColumnarCofactor.CatCol]];
    *  - one string key of ≤ 8 NUL-free UTF-8 bytes packs base-256
    *    ([[graft.agg.ColumnarCofactor.CatShortString]]); a wider or
    *    NUL-embedded one under the group cap takes a DICTIONARY label
    *    ([[graft.agg.ColumnarCofactor.CatDictString]]);
    *  - 2–4 int-typed or string keys pack into one Long with the
    *    probe's exact per-key byte budgets
    *    ([[graft.agg.ColumnarCofactor.CatPackedKeys]] — a string key
    *    owns its max UTF-8 width, an int key the bytes of its
    *    non-negative range), ≤ 8 bytes in total.
    *
    * `probeNulls` (the SQL surface) additionally counts NULLs in the
    * keys AND every aggregated column: SQL keeps default-aggregate
    * semantics exactly (a NULL group survives; a group whose rows all
    * carry a NULL input still appears with an empty triple), both
    * shapes the kernel's skip-any-NULL-row contract cannot reproduce
    * alone — the caller routes those rows through a row-lifted
    * NULL-REMAINDER branch under the same merge. The gate refuses only
    * when the probed NULL-row bound exceeds ~10% of the table: past
    * that the remainder is no longer small and the default plan is the
    * honest choice. */
  private[graft] def groupedKernelGate(df: DataFrame, keys: Seq[String],
      num: Seq[String], cat: Seq[String], nb: Boolean, maxGroups: Int,
      probeNulls: Boolean): Option[(graft.agg.ColumnarCofactor.CatSpec, Long)] = {
    import graft.agg.ColumnarCofactor.{CatCol, CatDictString, CatPackedKeys, CatShortString, NumCol}
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    if (keys.isEmpty || keys.size > 4) return None
    val resolver = df.sparkSession.sessionState.analyzer.resolver
    val keyTypes = keys.map(k => df.schema.find(f => resolver(f.name, k)).map(_.dataType))
    val typesOk = keyTypes.forall(_.exists {
      case StringType | IntegerType | LongType => true
      case ShortType | ByteType => keys.size > 1 // packed fields only
      case _ => false
    })
    if (!typesOk) return None
    val isStr = keyTypes.map(_.contains(StringType))
    // plan-shape refusal first: it is driver-only, while the shape
    // probe scans — never pay a scan for a plan the kernel was never
    // going to take. Widths don't affect harvestability, so
    // probe-independent placeholders suffice.
    val shapeSpec =
      if (keys.size > 1) CatPackedKeys(keys, Seq.fill(keys.size)(1))
      else if (isStr.head) CatShortString(keys.head)
      else CatCol(keys.head)
    if (!graft.agg.ColumnarCofactor.canHarvest(df, num.map(NumCol), cat.map(CatCol) :+ shapeSpec))
      return None
    // one cheap fixed-memory probe scan, MEMOIZED per (plan, keys,
    // cats, file snapshot); ±5% HLL error only softens the cap's edge
    // (a few % more buffers), never its magnitude. Key widths and
    // ranges are exact (max over the scan), so the packing gate is
    // hard. A column the schema marks non-nullable can never hold a
    // NULL — drop it from the probe's count list (the skip is exact).
    val (rows, keyCard, keyShapes, catCards, nullUB) =
      graft.ml.Factorized.probeGroupedShape(df, keys, cat, isStr,
        nullCols = if (probeNulls) (keys ++ num ++ cat).filter(c => schemaNullable(df, c))
                   else Seq())
    // measured per-group buffer estimate: packed quad + lin fixed
    // part, plus per-cat maps bounded by min(cardinality, rows per
    // group) entries — a map slot is a (d+1)-double array plus entry
    // overhead (~64 B), and non-NB cat pairs add one counter per
    // co-occurring value pair, bounded by both the cardinality product
    // and the group's row count. Order-of-magnitude gate with measured
    // inputs, not an exact bound.
    val rpk = rows.toDouble / math.max(1L, keyCard)
    val d = num.size
    val ePerCat = catCards.map(c => math.min(c.toDouble, rpk))
    val catBytes = ePerCat.map(_ * (64.0 + 8.0 * (d + 1))).sum +
      (if (nb) 0.0
       else (for { i <- ePerCat.indices; j <- i until ePerCat.size }
         yield math.min(ePerCat(i) * ePerCat(j), rpk) * 56.0).sum)
    val bufBytes = 8.0 * (1 + d + (if (nb) d else d * (d + 1) / 2)) + catBytes
    val groupCap: Long =
      // a pinned cap is clamped to the kernel's own label-cardinality
      // guard: a pin above it would pass this gate and then throw
      // IllegalStateException MID-JOB inside the kernel instead of
      // routing to the row aggregate (which handles any cardinality).
      // No floor: with MEASURED cat cardinalities a floor would
      // re-admit tiny-group cases with multi-MB buffers — the
      // per-partition OOM this gate exists to stop. A refused case
      // merely takes the (always-correct) row aggregate.
      if (maxGroups > 0)
        math.min(maxGroups.toLong, CofactorAggregate.confMaxCategories().toLong)
      else math.min(1L << 20, ((64L << 20) / math.max(1.0, bufBytes)).toLong)
    if (keyCard > groupCap) None
    // past ~10% NULL-bearing rows the NULL remainder stops being
    // small — the default plan is the honest choice
    else if (probeNulls && nullUB > rows / 10) None
    else if (keys.size > 1) {
      // exact per-key byte budgets from the probe
      val widths = keys.indices.map { i =>
        val sh = keyShapes(i)
        if (isStr(i)) {
          if (sh.width > 8) return None // too wide / NUL / all-NULL
          math.max(1, sh.width) // an all-empty string key still owns a byte
        } else {
          if (sh.lo < 0) return None // negative int keys don't zero-pack
          if (sh.hi < sh.lo) 1 // all-NULL key: every row is dropped anyway
          else {
            var w = 1
            while (w < 8 && sh.hi >= (1L << (8 * w))) w += 1
            w
          }
        }
      }
      if (widths.sum > 8) None else Some((CatPackedKeys(keys, widths), nullUB))
    }
    else if (isStr.head && keyShapes.head.width > 8)
      // too wide / NUL-embedded for base-256 packing, but the group
      // cardinality fits every kernel cap: DICTIONARY-encode the key
      // (one memoized distinct scan, broadcast ≤ cap strings) and ride
      // the kernel with the dictionary index as the label — the route
      // that removes the row-aggregate perf cliff for real-world cut
      // keys (URLs, dataset names, 'en_US.UTF-8' locales). Falls
      // through to the row aggregate only when the EXACT distinct
      // count lands over the cap the ±5% probe admitted.
      groupDict(df, keys.head, groupCap).map(bc => (CatDictString(keys.head, bc), nullUB))
    else Some((shapeSpec, nullUB))
  }

  /** The sorted distinct values of string key column `key` as a
    * broadcast of UTF-8 byte arrays — [[groupedKernelGate]]'s
    * dictionary for the [[graft.agg.ColumnarCofactor.CatDictString]]
    * label route. Returns None when the exact distinct count exceeds
    * `cap` (the HLL probe under-estimated — the caller falls back to
    * the row aggregate, which handles any cardinality). Memoized in
    * [[graft.sources.ProbeMemo]], over-cap None included, so the SQL
    * strategy's plan-time gate and execute-time re-gate share ONE
    * distinct scan and ONE broadcast. Each entry holds a broadcast, so
    * the memo keeps at most 64. Eviction only drops the memo's
    * reference: a lazy grouped result planned earlier may still read
    * the broadcast, and Spark's ContextCleaner releases it once no plan
    * holds it. The memo is per `SparkContext`: a broadcast dies with its
    * context. */
  private val groupDicts = new graft.sources.ProbeMemo[
    Option[org.apache.spark.broadcast.Broadcast[Array[Array[Byte]]]]](64, perContext = true)
  private def groupDict(df: DataFrame, key: String, cap: Long):
      Option[org.apache.spark.broadcast.Broadcast[Array[Array[Byte]]]] =
    groupDicts(df, key + ":" + cap) {
      import org.apache.spark.sql.functions.col
      val capInt = math.min(cap, Int.MaxValue - 2L).toInt
      val vals = df.select(col(key)).na.drop().distinct().take(capInt + 1)
      if (vals.length > capInt) None
      else {
        val bytes = vals.map(_.getString(0)).sorted
          .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        Some(df.sparkSession.sparkContext.broadcast(bytes))
      }
    }

  /** Per-class cofactors: one (label value, triple) pair per class, in
    * ONE Spark job, sorted by label (the QDA/NB training input). Rows
    * with a NULL label are dropped on BOTH routes (a SQL GROUP BY would
    * form a NULL group whose key then unboxes to 0 — silently merging
    * unlabeled rows into class 0 is never what training wants). Bare
    * scans route through the columnar kernel, like [[cofactor]]; other
    * plans fold one buffer per label per partition ([[liftTriples]]).
    * Either way one job whose per-label buffers merge on the driver
    * ([[mergeBuffers]]). */
  def cofactorPerClass(df: DataFrame, num: Seq[String], cat: Seq[String],
                       label: String, nb: Boolean = false): Seq[(Int, Triple)] = {
    register(df.sparkSession)
    graft.agg.ColumnarCofactor.cofactorPerClass(
      df,
      num.map(graft.agg.ColumnarCofactor.NumCol),
      cat.map(graft.agg.ColumnarCofactor.CatCol),
      graft.agg.ColumnarCofactor.CatCol(label),
      nbMode = nb
    ).getOrElse(liftTriples(df, num, cat, nb, label = Some(label)))
  }

  /** Decode a collected triple struct Row into a [[Triple]]. quad_cat
    * decodes into a TreeMap: diagonal packed keys all share
    * Long.hashCode 0 (hi^lo folds to zero), so building a HashMap from
    * a big quad_cat map would be O(m²). */
  def tripleFromRow(r: Row): Triple = {
    val nb = r.length == 4
    Triple(
      r.getLong(0),
      r.getSeq[Double](1).toArray,
      r.getSeq[Double](2).toArray,
      r.getSeq[collection.Map[Int, Double]](3).map(_.toMap).toArray,
      if (nb) Array.empty else r.getSeq[collection.Map[Int, Double]](4).map(_.toMap).toArray,
      if (nb) Array.empty
      else r.getSeq[collection.Map[Long, Double]](5)
        .map(m => scala.collection.immutable.TreeMap.from(m)).toArray
    )
  }
}
