package graft.ml

import graft.Graft
import graft.plans.CofactorDeclarativeRewrite
import graft.ring.Triple
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/**
 * Factorized learning over joins (reference README.md:163-173, LMFAO /
 * F-IVM style): the cofactor triple of `left ⋈ right` computed from
 * per-join-key pre-aggregates combined with the ring product — |keys|
 * triple multiplications instead of |join| row lifts. The join itself is
 * between two *aggregated* relations (one row per key each side), so the
 * wide raw join is never materialized or shuffled.
 */
object Factorized {

  /**
   * Cofactor of the equi-join without materializing it: the one-dim
   * case of [[cofactorOverStar]]'s aggregated chain. Resulting column
   * order: `[leftNum ++ rightNum, leftCat ++ rightCat]` (the ring
   * product's block layout, mul.cpp:262-289). A feature name may appear
   * on both sides.
   */
  def cofactorOverJoin(left: DataFrame, right: DataFrame, key: String,
                       leftNum: Seq[String], leftCat: Seq[String],
                       rightNum: Seq[String], rightCat: Seq[String]): Triple =
    aggregatedChain(left, leftNum, leftCat, Seq(StarDim(right, key, rightNum, rightCat)))

  /**
   * Cardinality-adaptive variant: factorization wins when each side has
   * many rows per join key (the shuffle carries one triple per key
   * instead of the wide join); over a near-unique key it loses — one
   * buffer per ~1 row is more bytes and allocation than the join it
   * avoids. When the optimizer can't know (no column stats), decide at
   * runtime from one cheap `approx_count_distinct` probe per side and
   * fall back to one [[Graft.cofactor]] over the join below
   * `minRowsPerKey`. The probe is O(scan) with a constant-size sketch —
   * cheap next to either plan, but NOT free when re-run per call over a
   * static 600M-row table (~30% of the sf100 adaptive wall-clock), so
   * the measured ratio is MEMOIZED per (canonicalized plan, key, data
   * snapshot) in [[graft.sources.ProbeMemo]]: a repeat call over the
   * same unchanged files (bench reps, MICE column × iteration loops,
   * retraining sessions) skips both probe scans, while an input that is
   * not a file, local or range relation is re-probed on every call.
   * Pass `minRowsPerKey = 0` to pin the factorized path probe-free
   * (`Double.MaxValue` pins the fallback likewise).
   *
   * The factorized regime is [[cofactorOverJoin]], categorical columns
   * or not; its numeric-only sides aggregate as plain codegen'd SUMs
   * ([[chainFrame]]). Below the threshold the row-level
   * join fallback is kept deliberately: on the fact ⋈ unique-dim shape
   * the per-key decomposition measured SLOWER at every scale (sf10
   * local[32] 5.9 s vs 3.4 s hinted-SHJ row join; sf100 local[32] 79 s
   * vs 58.7 s row SMJ — two 150M-group hash aggregations cost more than
   * the fact-side sort they avoid), so low-multiplicity inputs never
   * route there.
   */
  def cofactorOverJoinAdaptive(left: DataFrame, right: DataFrame, key: String,
                               leftNum: Seq[String], leftCat: Seq[String],
                               rightNum: Seq[String], rightCat: Seq[String],
                               minRowsPerKey: Double = 4.0): Triple = {
    def probe(df: DataFrame): (Long, Double) = probeRowsPerKey(df, Seq(key))
    // probe the RIGHT side first: in the common fact ⋈ dim shape the
    // dimension side is per-key-unique and fails the threshold, and &&
    // short-circuits — the (usually much larger) fact side is then
    // never probe-scanned at all (measured ~2.5 s of the 40 s sf100
    // adaptive wall-clock; the probe reads one column, so it was never
    // the dominant term)
    // the documented probe-free pin: no scans at all, straight to the
    // factorized regime
    if (minRowsPerKey <= 0.0)
      return cofactorOverJoin(left, right, key, leftNum, leftCat, rightNum, rightCat)
    // the documented FALLBACK pin (Double.MaxValue / +Inf): no probe
    // scans either — symmetric with the star path's pin handling
    if (minRowsPerKey == Double.MaxValue || minRowsPerKey.isPosInfinity)
      return Graft.cofactor(hashJoinIfSafe(left, right, Seq(key)),
        leftNum ++ rightNum, leftCat ++ rightCat)
    val (rightRows, rightRpk) = probe(right)
    if (rightRpk >= minRowsPerKey && probe(left)._2 >= minRowsPerKey) {
      cofactorOverJoin(left, right, key, leftNum, leftCat, rightNum, rightCat)
    } else {
      // one cofactor fold over the join, shaped to the factorized
      // block layout [leftNum ++ rightNum, leftCat ++ rightCat].
      // SHUFFLE_HASH when safe: the downstream is a single per-partition
      // fold, so the sort-merge join's two O(n log n) sorts buy
      // nothing — a hash build on whichever side the planner estimates
      // smaller skips them (sf10: 3.4 → measured below-3 s on the
      // 60M ⋈ 15M bench shape). A side under the broadcast threshold
      // gets the plain join instead, which the planner broadcasts (the
      // hint would suppress that). The hint is size-guarded by
      // hashJoinIfSafe because SHJ's build cannot spill;
      // the right side's probed EXACT row count (always available here —
      // the right probe runs first) replaces the optimizer's compressed
      // file-size estimate for it, and the left count rides along when
      // its probe ran (it may have short-circuited away)
      val joined = hashJoinIfSafe(left, right, Seq(key),
        // left was probed iff the right side passed the threshold (the
        // && above short-circuits otherwise); probe() is memoized so the
        // re-read costs nothing
        leftRows = if (rightRpk >= minRowsPerKey) Some(probe(left)._1) else None,
        rightRows = Some(rightRows))
      Graft.cofactor(joined, leftNum ++ rightNum, leftCat ++ rightCat)
    }
  }

  /** Projected PEAK in-memory hash-relation size for `df` as an SHJ
    * build side: UnsafeRow payload (8 B header + 8 B per field) + ~24 B
    * map page/index overhead per row, DOUBLED for the map's
    * capacity-growth transient (the old and new index arrays coexist
    * during a grow — measured: a 150M-row build over 32 partitions
    * aborts asking for a 268 MB grant even inside a 19 GB pool).
    * Without an exact row count, the optimizer's `stats.sizeInBytes` ×
    * a measured 15× expansion (compressed pruned file bytes ≈ 3 B/row
    * vs ~45 B/row steady in-memory; see [[hashJoinIfSafe]]). */
  private def buildBytes(df: DataFrame, rows: Option[Long]): BigInt = rows match {
    case Some(n) => BigInt(n) * (8L + 8L * df.schema.size + 24L) * 2L
    case None => df.queryExecution.optimizedPlan.stats.sizeInBytes * 15L * 2L
  }

  /** Bucket count of `df`'s underlying file scan, when the plan reads
    * exactly ONE bucketed relation (projections/filters on top are
    * fine; a multi-scan plan returns None — a first-scan guess could
    * pre-qualify the wrong thing). Only PRE-qualifies the bucketed
    * co-located tier in [[hashJoinIfSafe]]; the planner's no-exchange
    * outcome is the authoritative gate. */
  private def bucketSpecOf(df: DataFrame): Option[Int] = {
    val rels = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
    }
    rels match {
      case Seq(h: org.apache.spark.sql.execution.datasources.HadoopFsRelation) =>
        h.bucketSpec.map(_.numBuckets)
      case _ => None
    }
  }

  /**
   * Equi-join with a SHUFFLE_HASH hint on the smaller side — but ONLY
   * when that side's projected IN-MEMORY hash build per shuffle
   * partition fits comfortably inside one task's execution memory.
   * Unlike sort-merge join, SHJ's hash build cannot spill: forcing it
   * unconditionally aborts the job with "Can't acquire … bytes memory
   * to build hash relation" the moment a build partition outgrows the
   * task's share of the execution pool (observed: 150M build rows over
   * 32 shuffle partitions at local[8]).
   *
   * Per-side build projection, best evidence first:
   *   - exact row count (the adaptive path's cardinality probe already
   *     paid for it): rows × (8B header + 8B per field + 24B
   *     LongToUnsafeRowMap page/index overhead) — the UnsafeRow layout
   *     plus the map's per-entry cost, measured within ~20% on the
   *     numeric shapes this module joins;
   *   - otherwise the optimizer's `stats.sizeInBytes`, multiplied by a
   *     measured 15× expansion: that estimate scales COMPRESSED parquet
   *     file bytes by the pruned-column ratio (~3 B/row on encoded
   *     numeric columns at sf100) while the hash build holds decoded
   *     UnsafeRows + index (~45 B/row) — trusting it raw re-creates
   *     exactly the OOM the guard exists to prevent.
   * The projection is divided by `spark.sql.shuffle.partitions` and
   * compared against `spark.graft.shj.maxBuildPartitionBytes` (default
   * 64 MB — conservative versus the ~1/(2·cores) share of the unified
   * pool a task is guaranteed, on a 1000-executor cluster as on
   * local[32]). Under the cap the hint names the smaller side as the
   * build side explicitly. Before any of this, a side whose optimizer
   * `stats.sizeInBytes` is at most a positive
   * `spark.sql.autoBroadcastJoinThreshold` (JoinSelection's own size
   * test) gets the plain, unhinted join, which the planner broadcasts:
   * a shuffle_hash hint would turn broadcast off and pay an exchange per
   * side for a build that fits every executor. Over the cap the join is
   * NOT surrendered to sort-merge immediately. First a bucketed
   * shortcut: when both sides scan tables bucketed with the same
   * bucket count and each bucket's projected build fits the cap, the
   * hinted join is planned
   * WITHOUT any repartition and kept iff the planner inserts no
   * exchange — tables bucketized once on their join key
   * ([[graft.sources.Tables.writeBucketed]]) then join shuffle-free on
   * every subsequent run. Otherwise the per-partition build shrinks
   * with the partition count, so both sides are repartitioned by the
   * join key to ceil(build/cap) partitions (capped at 4096) —
   * co-partitioned, hint intact, every hash build cap-bounded no
   * matter the total size.
   * That bound models uniform key hashing, so the tier additionally
   * probes the build side's max key multiplicity (memoized): a hot key
   * whose build rows alone exceed the cap routes to [[saltedHashJoin]]
   * — build rows of hot keys split over salt buckets, probe rows
   * replicated — keeping every hash build cap-bounded under arbitrary
   * skew. Only degenerate cases (>4096 partitions from a broken
   * estimate, >64 hot keys, salt factor >256, multi-column keys) fall
   * back to the plain spill-capable sort-merge join. `joinType` reaches
   * every join planned here; the salted tier serves inner joins only (a
   * replicated probe row would null-extend once per unmatched salt
   * bucket), so an outer join with a hot build key takes the plain one.
   */
  private[graft] def hashJoinIfSafe(left: DataFrame, right: DataFrame,
                                    usingColumns: Seq[String],
                                    leftRows: Option[Long] = None,
                                    rightRows: Option[Long] = None,
                                    buildKeysUnique: Boolean = false,
                                    joinType: String = "inner"): DataFrame = {
    val spark = left.sparkSession
    // JoinSelection's own broadcast test: a side whose estimated size
    // fits a positive threshold is broadcast by the plain join, and the
    // shuffle_hash hint below would switch that off
    val broadcastMax = spark.sessionState.conf.autoBroadcastJoinThreshold
    val smallest = left.queryExecution.optimizedPlan.stats.sizeInBytes
      .min(right.queryExecution.optimizedPlan.stats.sizeInBytes)
    if (broadcastMax > 0 && smallest <= broadcastMax) return left.join(right, usingColumns, joinType)
    val cap = spark.conf
      .get("spark.graft.shj.maxBuildPartitionBytes", (64L << 20).toString).toLong
    val confParts = math.max(1, spark.sessionState.conf.numShufflePartitions).toLong
    // the size guard divides by the partition count the build will
    // ACTUALLY run at: with AQE partition coalescing on (the default),
    // post-shuffle partitions can merge down to the cluster parallelism
    // (parallelismFirst), so dividing by a large configured count would
    // admit a build that coalescing then concentrates past the cap —
    // the non-spillable abort this guard exists to prevent. Explicit
    // repartition(n, cols) below is NOT coalesced (user-specified
    // numPartitions is respected), so only this tier needs the floor.
    val coalesceOn = spark.conf.get("spark.sql.adaptive.enabled", "true").toBoolean &&
      spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true").toBoolean
    val effParts =
      if (coalesceOn)
        math.min(confParts, math.max(1, spark.sparkContext.defaultParallelism).toLong)
      else confParts
    val l = buildBytes(left, leftRows)
    val r = buildBytes(right, rightRows)
    val build = l.min(r)
    if (cap > 0 && build / effParts <= cap) {
      if (l <= r) left.hint("shuffle_hash").join(right, usingColumns, joinType)
      else left.join(right.hint("shuffle_hash"), usingColumns, joinType)
    } else if (cap > 0 && build / cap + 1 <= 4096) {
      // partition-to-fit: the build does not fit a task at the session's
      // partition count, but the per-partition build SHRINKS with the
      // partition count — repartition BOTH sides by the join key to
      // ceil(build/cap) partitions (co-partitioned, so the join adds no
      // further exchange) and the hash build is cap-bounded regardless
      // of total size. This is the shape a large cluster runs anyway
      // (thousands of shuffle partitions); on local[32] it turns the
      // sf100 150M-row build from an abort into 256 bounded builds.
      //
      // SKEW: hash partitioning bounds a partition's build only under
      // roughly-uniform keys — one hot key's rows all land in one build
      // no matter the partition count, and AQE's skew splitter does NOT
      // engage here (it refuses to split user-specified repartitions,
      // and splitting a hash BUILD would be wrong anyway). So the tier
      // first probes the build side's max key multiplicity (one
      // map-side-combined count, memoized like the cardinality probes).
      // A key whose build rows alone exceed the cap vetoes plain SHJ:
      // the join runs SALTED instead — build rows of hot keys spread
      // over ceil(hotBytes/cap) salt buckets (each build stays
      // cap-bounded), probe rows of those keys replicated across the
      // buckets (each probe-build pair still meets exactly once; the
      // probe side STREAMS, so replication costs shuffle bytes, not
      // memory). Degenerate skew (R > 256 or > 64 distinct hot keys or
      // a multi-column key) surrenders to the spill-capable SMJ below.
      val parts = (build / cap + 1).toInt
      val cols = usingColumns.map(col)
      val (bDf, pDf, bFirst) = if (l <= r) (left, right, true) else (right, left, false)
      val perRow = (8L + 8L * bDf.schema.size + 24L) * 2L
      // a build side whose keys are unique BY CONSTRUCTION (a per-key
      // aggregate — the factorized side-agg shape) has max multiplicity
      // 1; skip the probe scan entirely. Otherwise the shuffle-free
      // hot-key detector answers "any key over the cap?" in one
      // map-only pass (maxCnt below is only ever COMPARED to capRows,
      // so "no hot keys" can report 1 without changing any decision);
      // the full grouped-count scan remains the fallback for key
      // shapes the detector refuses.
      val capRows = cap / perRow + 1
      val maxCnt =
        if (buildKeysUnique) 1L
        else hotKeyCounts(bDf, usingColumns, capRows) match {
          case Some(h) => if (h.isEmpty) 1L else h.head.getLong(h.head.length - 1)
          case None => maxKeyCount(bDf, usingColumns)
        }
      // BUCKETED co-located tier, tried before any repartition: when both
      // sides scan tables bucketed with the SAME bucket count and each
      // bucket's build fits the cap, the scan itself already IS the hash
      // partitioning — the repartition below would REINTRODUCE the two
      // exchanges that bucketing paid for at write time. The bucket-spec
      // check only pre-qualifies (equal counts, per-bucket build ≤ cap,
      // no hot key over the cap); the authoritative gate is Spark's own
      // planner: plan the hinted join WITHOUT repartition and accept it
      // iff EnsureRequirements inserted no exchange (this delegates the
      // bucket-column-vs-join-key match, alias tracing, and the
      // bucketing-enabled conf to the engine instead of re-deriving
      // them). This is the 100 TB repeated-join pattern: bucketize fact
      // tables once (Tables.writeBucketed), and every subsequent
      // factorized/MICE run on that key joins shuffle-free.
      val bucketed: Option[DataFrame] =
        (bucketSpecOf(left), bucketSpecOf(right)) match {
          // counts need NOT match: with
          // spark.sql.bucketing.coalesceBucketsInJoin.enabled the engine
          // coalesces the larger-bucket side onto the smaller (integer
          // ratio ≤ maxBucketRatio, stream side only for SHJ) — whether
          // a given mismatch is eligible is again the planner's call,
          // answered by the same no-exchange gate. The cap check uses
          // the SMALLER count: post-coalesce that is the real bucket
          // granularity of every hash build.
          case (Some(ln), Some(rn)) if build / math.min(ln, rn) <= cap &&
              BigInt(maxCnt) * perRow <= cap =>
            val j = if (bFirst) left.hint("shuffle_hash").join(right, usingColumns, joinType)
                    else left.join(right.hint("shuffle_hash"), usingColumns, joinType)
            // reject only SHUFFLE exchanges: a BroadcastExchange means
            // the planner chose a broadcast join, which is already
            // shuffle-free — discarding it for a forced repartition of
            // both sides would be strictly worse. With AQE on (Spark 4
            // default) the executed plan is an AdaptiveSparkPlanExec
            // LEAF whose real plan hangs off executedPlan, not children
            // — a plain exists() never sees the exchange and would
            // accept a join that actually shuffles (e.g. bucket columns
            // != join key), so strip the wrapper first.
            if (hasShuffleExchange(j.queryExecution.executedPlan)) None else Some(j)
          case _ => None
        }
      if (bucketed.isDefined) bucketed.get
      else if (BigInt(maxCnt) * perRow <= cap) {
        val lp = left.repartition(parts, cols: _*)
        val rp = right.repartition(parts, cols: _*)
        if (bFirst) lp.hint("shuffle_hash").join(rp, usingColumns, joinType)
        else lp.join(rp.hint("shuffle_hash"), usingColumns, joinType)
      } else if (usingColumns.length == 1 && joinType == "inner") {
        saltedHashJoin(bDf, pDf, usingColumns.head, cap, perRow, parts, bFirst)
          .getOrElse(left.join(right, usingColumns, joinType))
      } else left.join(right, usingColumns, joinType)
    } else left.join(right, usingColumns, joinType)
  }

  /** Fixed-capacity Misra-Gries heavy-hitter summary over long keys
    * (Misra & Gries, Science of Computer Programming 1982): linear-probe
    * open-addressing long arrays — no boxing, cache-resident, O(1)
    * amortized add. When the summary is full, an arriving NEW key
    * triggers one decrement-all sweep (zeros evicted, survivors
    * compacted) and is itself dropped — the classic variant, so every
    * key's counter ≥ trueLocalCount − sweeps. Built per partition inside
    * [[hotKeyCounts]]'s pass 1; never serialized. */
  private[graft] final class MgSummary(cap: Int) {
    private val nSlots = Integer.highestOneBit(math.max(16, cap)) * 4 // ≥2× cap: load ≤ 0.5
    private val mask = nSlots - 1
    private val keys = new Array[Long](nSlots)
    private val cnts = new Array[Long](nSlots) // 0 = empty slot
    private val scratchK = new Array[Long](cap) // sweep compaction, allocated once
    private val scratchC = new Array[Long](cap)
    private var size = 0
    private var sweeps = 0L

    private def slotOf(k: Long): Int = {
      var i = (scala.util.hashing.byteswap64(k) & mask).toInt
      while (cnts(i) != 0 && keys(i) != k) i = (i + 1) & mask
      i
    }

    def add(k: Long): Unit = {
      val i = slotOf(k)
      if (cnts(i) != 0) cnts(i) += 1
      else if (size < cap) { keys(i) = k; cnts(i) = 1; size += 1 }
      else sweep() // the new key is absorbed by the global decrement
    }

    private def sweep(): Unit = {
      sweeps += 1
      // evicted zeros would break linear-probe chains, so decrement
      // into scratch and re-insert the survivors into cleared arrays
      var i = 0; var n = 0
      while (i < nSlots) {
        if (cnts(i) > 1) { scratchK(n) = keys(i); scratchC(n) = cnts(i) - 1; n += 1 }
        cnts(i) = 0
        i += 1
      }
      size = n
      i = 0
      while (i < n) {
        val j = slotOf(scratchK(i)) // all slots free: lands on an empty one
        keys(j) = scratchK(i); cnts(j) = scratchC(i)
        i += 1
      }
    }

    /** Keys whose true local count COULD reach `thr` (counter + sweeps
      * ≥ thr — sound because counter ≥ true − sweeps), or null when the
      * summary cannot certify: sweeps ≥ thr means a hot key may have
      * been decremented out entirely, and > maxOut qualifying keys
      * means the exact pass would cost like the grouped scan. */
    def candidateArray(thr: Long, maxOut: Int): Array[Long] = {
      if (sweeps >= thr) return null
      val out = Array.newBuilder[Long]
      var emitted = 0
      var i = 0
      while (i < nSlots) {
        if (cnts(i) != 0 && cnts(i) + sweeps >= thr) {
          emitted += 1
          if (emitted > maxOut) return null
          out += keys(i)
        }
        i += 1
      }
      out.result()
    }
  }

  /** True when the physical plan contains a shuffle exchange, looking
    * THROUGH AdaptiveSparkPlanExec — under AQE the adaptive node is a
    * LeafExecNode whose real plan hangs off `executedPlan` (before the
    * first stage runs, that is the EnsureRequirements-inserted initial
    * plan, exactly what the bucketed tier's no-exchange gate must
    * inspect). Plain `plan.exists` never traverses into it. */
  private[graft] def hasShuffleExchange(
      p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      hasShuffleExchange(a.executedPlan)
    case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => true
    case other => other.children.exists(hasShuffleExchange)
  }

  /** The 65 largest build-side key groups as (key cols…, count) rows,
    * count descending: one map-side-combined grouped count + TakeOrdered,
    * memoized in [[topKeys]]. Feeds BOTH the SHJ hot-key veto (head = max
    * multiplicity) and [[saltedHashJoin]]'s hot-key set, so skew
    * detection and salting pay for one scan between them. 65 because the
    * salted tier surrenders past 64 hot keys — a 65th qualifying entry
    * already proves degeneracy. */
  private def topKeyCounts(df: DataFrame, keyCols: Seq[String]): Array[Row] =
    topKeys(df, "topk:" + keyCols.mkString("\u0001")) {
      // aliased count: a user key column literally named "count" would
      // make the bare groupBy(...).count() output ambiguous to order by.
      // NULL keys are excluded to match hotKeyCounts (both feed inner
      // equi-join build decisions, where NULL build keys never match a
      // probe row) — without the filter a NULL-dominated build side
      // would veto the SHJ only when the detector refused, making the
      // routing depend on which probe happened to answer.
      df.filter(keyCols.map(c => col(c).isNotNull).reduce(_ && _))
        .groupBy(keyCols.map(col): _*)
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("__graft_cnt"))
        .orderBy(col("__graft_cnt").desc).limit(65).collect()
    }

  /** Max rows under a single join-key value (the build-side hot-key
    * probe); derived from [[topKeyCounts]]'s memoized scan. */
  private def maxKeyCount(df: DataFrame, keyCols: Seq[String]): Long = {
    val top = topKeyCounts(df, keyCols)
    if (top.isEmpty) 0L else top.head.getLong(top.head.length - 1)
  }

  /** Sentinel memo value for a POST-SCAN detector refusal — an empty
    * array is a valid "no hot keys" result, so refusals need their own
    * identity (compared with `eq`). */
  private val DetectorRefused: Array[Row] = Array[Row](null)

  /** EXACT counts of the join keys whose row count reaches `capRows`
    * (count-descending, ≤65 rows of (key, count)), without the full
    * grouped-count shuffle [[topKeyCounts]] pays — at sf100 that scan
    * is ~15 s over 150M near-unique keys, ~30% of a cold adaptive
    * call, all spent proving the usual answer "no hot keys".
    *
    * Pass 1 is shuffle-FREE: per-partition open-coded counting over the
    * scan's own InternalRows. A key with C total rows has ≥ ⌈C/P⌉ rows
    * in at least one of its ≤P partitions, so every key with
    * C ≥ capRows exceeds the local threshold capRows/P somewhere —
    * emitting per-partition keys at ≥ capRows/P can miss no hot key
    * (false candidates are fine). Pass 2 exact-counts ONLY the
    * candidates (usually none → no second scan at all).
    *
    * Returns None — caller takes the grouped-scan route — for
    * multi-column or non-integral keys, or when the detector output
    * degenerates (tiny capRows → everything is a candidate). Memoized
    * in [[topKeys]]; capRows is folded into the tag since the cap is
    * configurable. */
  private[graft] def hotKeyCounts(df: DataFrame, keyCols: Seq[String],
                                  capRows: Long): Option[Array[Row]] = {
    if (keyCols.length != 1 || capRows <= 0) return None
    val key = keyCols.head
    val resolver = df.sparkSession.sessionState.analyzer.resolver
    val integral = df.schema.find(f => resolver(f.name, key)).exists(_.dataType match {
      case org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
      case _ => false
    })
    if (!integral) return None
    // post-scan refusals are MEMOIZED (sentinel entry): the salted tier
    // re-asks right after the cap veto, and re-paying the full pass-1
    // scan just to refuse again would double-scan exactly the large
    // skewed inputs this path exists for
    val counts = topKeys(df, s"hot:$key:$capRows") {
      val proj = df.select(col(key).cast("long").as("__graft_k"))
      val rdd = proj.queryExecution.toRdd
      val p = math.max(1, rdd.getNumPartitions)
      val thrLocal = math.max(1L, capRows / p)
      val perPart = rdd.mapPartitions { it =>
        // fixed-capacity Misra-Gries heavy-hitter summary, not a full
        // per-partition count map: over a near-unique key column the full
        // map holds ~|partition| entries and its hashing/boxing costs as
        // much as the grouped-count scan this detector replaces (measured
        // sf100: 8.4 s vs 11.9 s — no win). MG keeps ≤8192 counters in
        // two cache-resident long arrays: a key with true local count c
        // survives with counter ≥ c − D (D = global decrement sweeps ≤
        // rows/8192), so counter + D ≥ thrLocal can miss NO locally-hot
        // key; false candidates are exact-counted away in pass 2. A
        // partition where D reaches thrLocal (or a sea of qualifying
        // keys) cannot certify anything and reports None — the caller
        // then takes the grouped-scan route.
        val m = new MgSummary(8192)
        it.foreach { r =>
          if (!r.isNullAt(0)) m.add(r.getLong(0)) // null keys never reach an equi-join build
        }
        Iterator.single(m.candidateArray(thrLocal, maxOut = 1024))
      }.collect()
      lazy val candidates = perPart.flatMap(a => a: Array[Long]).distinct
      if (perPart.exists(_ == null)) DetectorRefused
      // degenerate detector (capRows ≲ P, or a sea of locally-hot keys):
      // the exact pass would cost like the grouped scan — surrender to it
      else if (candidates.length > 1024) DetectorRefused
      else if (candidates.isEmpty) Array.empty[Row]
      else df.filter(col(key).isin(candidates.map(Long.box).toSeq: _*))
        .groupBy(col(key)).agg(count(lit(1)).as("__graft_cnt"))
        .filter(col("__graft_cnt") >= capRows)
        .orderBy(col("__graft_cnt").desc).limit(65).collect()
    }
    if (counts eq DetectorRefused) None else Some(counts)
  }

  /** Skew-salted shuffled-hash join for a single-column equi-join whose
    * BUILD side has hot keys too large for one cap-bounded hash build.
    * Hot keys (per-key build bytes > cap) get their build rows salted
    * over R buckets and their probe rows replicated to all R; everything
    * else keeps salt 0. Join on (key, salt) — co-partitioned to
    * `parts`, hint on the build side. Returns None when the skew is
    * degenerate (too many hot keys / too large R) and the caller should
    * take the spill-capable SMJ. */
  private def saltedHashJoin(bDf: DataFrame, pDf: DataFrame, key: String,
                             cap: Long, perRow: Long, parts: Int,
                             buildIsLeft: Boolean): Option[DataFrame] = {
    // the salt columns are internal: an input that already carries them
    // (e.g. an upstream salting stage's output) would be silently
    // overwritten and then dropped — surrender to the spill-capable SMJ
    if (Seq(bDf, pDf).exists(d => d.columns.contains("__salt") || d.columns.contains("__salts")))
      return None
    // hot set from the same memoized detector scan the SHJ veto used
    // (count ≥ cap/perRow + 1 ⇔ count·perRow > cap, exactly); the
    // grouped top-65 scan is the fallback for detector-refused key
    // shapes. Count-descending order makes the qualifying set a
    // prefix, so a full 65-entry result proves >64 hot keys
    val hot: Array[Row] = hotKeyCounts(bDf, Seq(key), cap / perRow + 1)
      .getOrElse(topKeyCounts(bDf, Seq(key))
        .filter(r => BigInt(r.getLong(1)) * perRow > cap))
    if (hot.length > 64) return None
    // an empty hot set means this call's detector answer diverged from
    // the one that vetoed plain SHJ (possible across a cache eviction or
    // snapshot change with the data rewritten in between) — there is
    // nothing to salt, so surrender to the spill-capable SMJ rather than
    // crash on max() of an empty set
    if (hot.isEmpty) return None
    val maxCnt = hot.map(_.getLong(1)).max
    val rFactor = (BigInt(maxCnt) * perRow / cap + 1).toInt
    if (rFactor > 256) return None
    val hotKeys = hot.map(_.get(0))
    val isHot = col(key).isin(hotKeys: _*)
    // build: content-derived salt — xxhash64 over the full row, mod R.
    // Retry-DETERMINISTIC: a recomputed map task assigns every row the
    // same salt as the original attempt, so a shuffle fetch failure
    // retries per-task instead of forcing the whole-stage rerun Spark
    // imposes on indeterminate stages (monotonically_increasing_id
    // would re-deal salts on recompute and silently drop/duplicate
    // pairs if Spark did NOT rerun the stage). Byte-identical duplicate
    // rows concentrate in one bucket — interchangeable rows, so the
    // join result is unchanged; only the spread degrades, bounded by
    // the duplicate multiplicity.
    val bS = bDf.withColumn("__salt",
      when(isHot, pmod(xxhash64(bDf.columns.map(col): _*), lit(rFactor.toLong)).cast("int"))
        .otherwise(lit(0)))
    // probe: hot-key rows fan out to every salt bucket
    val pS = pDf
      .withColumn("__salts", when(isHot, sequence(lit(0), lit(rFactor - 1))).otherwise(array(lit(0))))
      .withColumn("__salt", explode(col("__salts"))).drop("__salts")
    val keys = Seq(key, "__salt")
    val kc = keys.map(col)
    val bp = bS.repartition(parts, kc: _*).hint("shuffle_hash")
    val pp = pS.repartition(parts, kc: _*)
    val joined = if (buildIsLeft) bp.join(pp, keys) else pp.join(bp, keys)
    Some(joined.drop("__salt"))
  }

  /** [[probeRowsPerKey]]'s memo: (exact row count, rows-per-key). */
  private val rowsPerKey = new graft.sources.ProbeMemo[(Long, Double)](256)

  /** [[topKeyCounts]]' and [[hotKeyCounts]]' memo (tags `topk:` and
    * `hot:`); each entry is ≤65 rows, so the 256-entry bound also
    * bounds memory. */
  private val topKeys = new graft.sources.ProbeMemo[Array[Row]](256)

  /** Per-key shape from [[probeGroupedShape]]: `width` is the exact max
    * packable UTF-8 byte width for a string key (Int.MaxValue when the
    * key is all-NULL or a value embeds a NUL byte; -1 for numeric
    * keys), `lo`/`hi` the exact value range for a numeric key (0/-1,
    * i.e. an empty range, when the key is all-NULL; 0/0 placeholders
    * for string keys) — the range decides how many bytes a numeric
    * sub-key needs inside the packed multi-key label. */
  final case class KeyShape(width: Int, lo: Long, hi: Long)

  /** [[probeGroupedShape]]'s memo — (rows, combined key cardinality,
    * per-key shape, per-cat-column cardinality, null-row upper bound). */
  private val groupedShapes =
    new graft.sources.ProbeMemo[(Long, Long, Seq[KeyShape], Seq[Long], Long)](256)

  /** Grouped-route shape probe (`Graft.cofactorGrouped`'s gate), ONE
    * fixed-memory scan computing everything the byte-based group cap
    * needs: row count, approx distinct group keys, the exact max
    * PACKABLE key byte width (string keys only; -1 otherwise — decides
    * [[graft.agg.ColumnarCofactor.CatShortString]] eligibility without
    * risking its mid-job fail-loud throw; Int.MaxValue when the key is
    * all-NULL or any value embeds a NUL byte, the one shape base-256
    * packing cannot keep injective), and approx distinct count per
    * categorical column (bounds each per-group cat map). Memoized in
    * [[graft.sources.ProbeMemo]]. */
  private[graft] def probeGroupedShape(df: DataFrame, keys: Seq[String], cats: Seq[String],
                                       keyIsString: Seq[Boolean],
                                       nullCols: Seq[String] = Seq()): (Long, Long, Seq[KeyShape], Seq[Long], Long) = {
    groupedShapes(df, (keys ++ cats).mkString("\u0001") + ":" + keyIsString.mkString(",") +
        ":" + nullCols.mkString("\u0001")) {
      // combined cardinality over ALL keys (one group per distinct
      // tuple); per-key shape: exact max packable byte width + embedded
      // NUL probe for strings, exact value range for numerics (decides
      // the byte budget of each sub-key inside a packed multi-key label)
      val keyCardCol =
        if (keys.size == 1) approx_count_distinct(col(keys.head))
        else approx_count_distinct(struct(keys.map(col): _*))
      val aggs = Seq(count(lit(1)).as("__graft_n"), keyCardCol.as("__graft_k")) ++
        keys.zip(keyIsString).flatMap { case (k, isStr) =>
          if (isStr)
            Seq(max(octet_length(col(k))),
              // locate is 0 when absent, so max > 0 = some value embeds
              // a NUL byte — the one shape base-256 packing cannot keep
              // injective ('A' vs "<NUL>A"); reported as unpackable
              max(locate(0.toChar.toString, col(k))))
          else Seq(min(col(k)).cast("long"), max(col(k)).cast("long"))
        } ++
        cats.map(c => approx_count_distinct(col(c))) ++
        // count(col) < count(*) iff the column holds a NULL: callers
        // with keep-every-row semantics (the SQL grouped-kernel
        // strategy, where a NULL group and null-skipped rows must match
        // the default aggregate exactly) size the NULL remainder from this
        nullCols.map(c => count(col(c)))
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      val rows = r.getLong(0)
      val shapes = keys.indices.map { i =>
        val base = 2 + 2 * i
        if (keyIsString(i)) {
          val w = if (r.isNullAt(base) || r.getInt(base + 1) > 0) Int.MaxValue
                  else r.getInt(base)
          KeyShape(w, 0L, 0L)
        } else if (r.isNullAt(base)) KeyShape(-1, 0L, -1L) // all-NULL: empty range
        else KeyShape(-1, r.getLong(base), r.getLong(base + 1))
      }.toVector
      val catBase = 2 + 2 * keys.size
      val nullBase = catBase + cats.size
      // upper bound on rows carrying any NULL (a row with several NULL
      // columns is counted once per column — still a sound bound for
      // the NULL-remainder fraction gate)
      val nullUB = nullCols.indices.map(i => rows - r.getLong(nullBase + i)).sum
      (rows, r.getLong(1), shapes,
        cats.indices.map(i => r.getLong(catBase + i)).toVector, nullUB)
    }
  }

  /** [[probeNullCount]]'s memo: (rows, null-bearing-row upper bound). */
  private val nullCounts = new graft.sources.ProbeMemo[(Long, Long)](256)

  /** Keyless null probe for the FLAT moments SQL route: (total rows,
    * null-bearing-row upper bound = sum of per-column null counts) over
    * `cols`. ONE fixed-memory scan, memoized like [[probeGroupedShape]]. */
  private[graft] def probeNullCount(df: DataFrame, cols: Seq[String]): (Long, Long) =
    nullCounts(df, cols.mkString("\u0001")) {
      val aggs = count(lit(1)) +: cols.map(c => count(col(c)))
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      val rows = r.getLong(0)
      (rows, cols.indices.map(i => rows - r.getLong(1 + i)).sum)
    }

  /** Drop every memoized probe result ([[graft.sources.ProbeMemo]]) and
    * every kept broadcast ([[graft.plans.KeptBroadcast]]). Appends and
    * rewrites that change a file's name, length or modification time
    * invalidate on their own; call this after an in-place rewrite that
    * keeps all three, the one change the fingerprint can alias. */
  def clearProbeCache(): Unit = {
    graft.sources.ProbeMemo.clearAll()
    graft.plans.KeptBroadcast.clear()
  }

  private[graft] def probeCacheSize: Int = rowsPerKey.size

  /** One dimension table of a star join: `df` must carry the join key
    * under the SAME name `key` as the fact table (rename before
    * constructing), projected to (key, num…, cat…). Feature names must
    * be disjoint from the fact's and from every other dim's. */
  final case class StarDim(df: DataFrame, key: String,
                           num: Seq[String] = Seq(), cat: Seq[String] = Seq())

  /**
   * Cofactor of the multi-dimension STAR join
   * `fact ⋈_{k1} dim1 ⋈_{k2} dim2 ⋈ …` without materializing it — the
   * reference paper's Flight/Retailer workload shape
   * (factorized_imputation_flight.h:6-8, factorized_imputation_retailer.h:6-8:
   * one fact table joining several dimension tables on distinct keys),
   * computed by CHAINED ring products:
   *
   *   triple(F ⋈ D1 ⋈ … ⋈ Dn)
   *     = Σ over fact key-combos  [ triple_F(k1…kn) × triple_D1(k1) × … ]
   *
   * Plan shape: each dim collapses to ONE triple per key (dim-sized
   * grouped aggregate), the fact collapses to one triple per DISTINCT
   * key COMBINATION, and the joins chain over those pre-aggregates —
   * the wide star join never exists. Each join is size-guarded
   * [[hashJoinIfSafe]]; an aggregated dim under the broadcast threshold
   * broadcasts automatically, so the fact-side aggregate typically
   * never re-shuffles after its own grouping. Layout follows the ring
   * product's block rule applied left to right:
   * `[factNum ++ dim1.num ++ … , factCat ++ dim1.cat ++ …]`.
   *
   * Inner-join semantics throughout (a fact row whose key misses a dim
   * drops), and the ring lift's null rule per side (a row with a NULL
   * numeric feature contributes nothing), exactly as the fused
   * aggregate over the materialized star join would behave —
   * `MlSpec`/`VerifyDrive` pin the parity on real tables.
   *
   * Adaptivity ([[cofactorOverJoinAdaptive]]'s probe, generalized to
   * MIXED routing): each dim is judged separately from one memoized
   * `approx_count_distinct` probe. A MULTIPLICATIVE dim (rows-per-key ≥
   * `minRowsPerKey`) must be aggregated — materializing it fans the
   * join out by its multiplicity, |fact|·Π multiplicities rows at the
   * extreme. A NEAR-UNIQUE dim is folded into the fact row-level
   * instead (size-guarded join): aggregating it would both pay one
   * ring buffer per ~1 row (the measured pessimization) and drag its
   * key into the fact grouping's composite, pushing that grouping
   * toward one group per fact row. The chain then groups the fact by
   * ONLY the aggregated dims' keys — inner joins commute, so the
   * triple is identical in every routing (the block order is permuted
   * back to the declared layout when the split reorders dims). With no
   * multiplicative dim at all the materialized star join with one
   * [[graft.Graft.cofactor]] fold over it is strictly cheaper.
   * `minRowsPerKey = 0` pins every dim aggregated (the fully
   * factorized chain, probe-free); `Double.MaxValue` pins the
   * materialized fallback.
   */
  def cofactorOverStar(fact: DataFrame, factNum: Seq[String], factCat: Seq[String],
                       dims: Seq[StarDim], minRowsPerKey: Double = 4.0): Triple = {
    val spark = fact.sparkSession
    Graft.register(spark)
    val numAll = factNum ++ dims.flatMap(_.num)
    val catAll = factCat ++ dims.flatMap(_.cat)
    if (dims.isEmpty) return Graft.cofactor(fact, numAll, catAll)
    // validate BEFORE the 1-dim delegation: a duplicate feature name
    // would otherwise only crash on the probe-chosen fallback route
    // (ambiguous column over the joined frame) — data-dependent failure
    require(numAll.distinct.length == numAll.length &&
      catAll.distinct.length == catAll.length,
      "star feature names must be pairwise distinct across fact and dims")
    if (dims.length == 1)
      return cofactorOverJoinAdaptive(fact, dims.head.df, dims.head.key,
        factNum, factCat, dims.head.num, dims.head.cat, minRowsPerKey)
    val keys = dims.map(_.key)
    require(keys.distinct.length == keys.length,
      s"star dims must join on distinct fact keys, got $keys")
    val (aggDims, rowDims) = starRouting(dims, minRowsPerKey)

    if (aggDims.nonEmpty) {
      // fold near-unique dims into the fact first (their features become
      // fact features; inner joins commute, so the triple is identical),
      // then chain over the aggregated dims with the fact grouped by
      // ONLY their keys — the mixed-star plan
      val fact2 = rowDims.foldLeft(fact)((acc, d) => hashJoinIfSafe(acc, d.df, Seq(d.key)))
      val fNum = factNum ++ rowDims.flatMap(_.num)
      val fCat = factCat ++ rowDims.flatMap(_.cat)
      val t = aggregatedChain(fact2, fNum, fCat, aggDims)
      // the fold changed the block order to [factNum ++ rowDimNums ++
      // aggDimNums, …] — permute back to the declared [factNum ++
      // dims-in-order] layout when the routing split reordered dims
      val declaredNum = numAll
      val builtNum = fNum ++ aggDims.flatMap(_.num)
      val declaredCat = catAll
      val builtCat = fCat ++ aggDims.flatMap(_.cat)
      if (builtNum == declaredNum && builtCat == declaredCat) t
      else Triple.permute(t,
        declaredNum.map(builtNum.indexOf).toArray,
        declaredCat.map(builtCat.indexOf).toArray)
    } else {
      // every side near-unique: materialize the star row-level (each
      // join size-guarded; dims under the broadcast threshold broadcast)
      // and fold one cofactor over it
      Graft.cofactor(dims.foldLeft(fact)((acc, d) => hashJoinIfSafe(acc, d.df, Seq(d.key))),
        numAll, catAll)
    }
  }

  /** The multi-dim [[cofactorOverStar]] routing (its scaladoc gives the
    * rule): (aggregated dims, row-folded dims), each in declared order,
    * every dim judged by the memoized [[probeRowsPerKey]]; the 0 and
    * `Double.MaxValue` pins run no probe. Oracle rows (q69) and specs
    * assert the adaptive decision through this. */
  private[graft] def starRouting(dims: Seq[StarDim],
                                 minRowsPerKey: Double): (Seq[StarDim], Seq[StarDim]) =
    if (minRowsPerKey <= 0.0) (dims, Seq.empty[StarDim])
    else if (minRowsPerKey == Double.MaxValue) (Seq.empty[StarDim], dims)
    else dims.partition(d => probeRowsPerKey(d.df, Seq(d.key))._2 >= minRowsPerKey)

  /** The factorized chain over aggregated dims: the fact collapses to one
    * triple per combination of the dims' keys, each dim to one triple per
    * key, and the joins chain over those pre-aggregates, ring-multiplying
    * as they go; one fold ([[Graft.sumTriples]]) adds the products into
    * one buffer per partition and merges those, under the session's
    * `maxCategories`. Layout `[factNum ++ dims' num…, factCat ++ dims'
    * cat…]`; the zero triple of that arity when the join is empty. */
  private def aggregatedChain(fact: DataFrame, factNum: Seq[String], factCat: Seq[String],
                              dims: Seq[StarDim]): Triple =
    Graft.sumTriples(chainFrame(fact, factNum, factCat, dims), col("__T"),
      factNum.length + dims.map(_.num.length).sum, factCat.length + dims.map(_.cat.length).sum)

  /** [[aggregatedChain]]'s frame: one row per joined key combination,
    * its ring product in column `__T`. With ONE dim both join sides are
    * unique per key, so [[hashJoinIfSafe]] skips its hot-key probe
    * (`buildKeysUnique`); with more, the fact side is grouped by every
    * dim key, is not unique on any one of them, and may be chosen as the
    * build side. Feature names are not checked across sides: only the
    * key and triple columns reach the joins. The analyzed plan goes
    * through [[graft.plans.CofactorDeclarativeRewrite]] in every
    * session, so each numeric-only side aggregates as plain codegen'd
    * SUMs; a side with a categorical column keeps `sum_to_triple`. */
  private[graft] def chainFrame(fact: DataFrame, factNum: Seq[String], factCat: Seq[String],
                                dims: Seq[StarDim]): DataFrame = {
    val spark = fact.sparkSession
    Graft.register(spark)
    def lifted(num: Seq[String], cat: Seq[String]) =
      Graft.sumTriple(num.map(c => col(c).cast("double")) ++ cat.map(c => col(c).cast("int")): _*)
    var cur = fact.groupBy(dims.map(d => col(d.key)): _*)
      .agg(lifted(factNum, factCat).as("__T"))
    for (d <- dims) {
      val dagg = d.df.groupBy(col(d.key)).agg(lifted(d.num, d.cat).as("__D"))
      cur = hashJoinIfSafe(cur, dagg, Seq(d.key), buildKeysUnique = dims.length == 1)
        .withColumn("__T", Graft.multiplyTriple(col("__T"), col("__D")))
        .drop("__D")
    }
    ColumnBridge.ofRows(spark, CofactorDeclarativeRewrite(cur.queryExecution.analyzed))
  }

  /** Memoized (rows, rows-per-key) probe shared by the adaptive
    * single-join and star paths and the SHJ size guard; composite keys
    * probe `approx_count_distinct(struct(keys))`. */
  private[graft] def probeRowsPerKey(df: DataFrame, keyCols: Seq[String]): (Long, Double) =
    rowsPerKey(df, keyCols.mkString("\u0001")) {
      val kc = if (keyCols.length == 1) col(keyCols.head)
               else struct(keyCols.map(col): _*)
      val r = df.agg(count(lit(1)).as("n"), approx_count_distinct(kc).as("k")).head()
      (r.getLong(0), r.getLong(0).toDouble / math.max(1L, r.getLong(1)).toDouble)
    }

  /** Train linear regression over the (never materialized) star join.
    * `label` indexes `factNum ++ dims.flatMap(_.num)`. */
  def linRegOverStar(fact: DataFrame, factNum: Seq[String], factCat: Seq[String],
                     dims: Seq[StarDim], label: Int, lambda: Double = 0.0,
                     normalize: Boolean = false): LinReg.Model = {
    val t = cofactorOverStar(fact, factNum, factCat, dims)
    LinReg.train(t, label, lambda, normalize)
  }
}
