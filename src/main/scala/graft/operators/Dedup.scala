package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for 100 TB-scale corpora. Every variant is a
 * single-shuffle (or shuffle + bounded self-join) DataFrame plan:
 *
 *  - exact: hash-groupBy on a content key, keep the smallest tiebreaker
 *  - MinHash + LSH: shingle → minhash signature → band buckets →
 *    candidate pairs within buckets only (never an all-pairs join)
 *  - SimHash: 64-bit fingerprint, banded by 16-bit chunks, verified by
 *    Hamming distance
 *  - n-gram Jaccard: exact verification predicate for candidate pairs
 */
object Dedup {

  /** Exact dedup on `keys`: one row per key (the one with the smallest
    * non-NULL `tiebreaker`; a group whose tiebreakers are ALL NULL keeps
    * an arbitrary row rather than vanishing). A `min_by` hash aggregate
    * with map-side partial combine — one shuffle of one row per key, no
    * per-key sort (the window row_number formulation sorts every
    * partition). */
  def exact(df: DataFrame, keys: Seq[Column], tiebreaker: Column): DataFrame = {
    val row = struct(df.columns.map(col): _*)
    df.groupBy(keys: _*)
      // min_by skips NULL-ordered rows entirely → all-NULL group would
      // collapse to a row of NULLs without the first() fallback
      .agg(coalesce(min_by(row, tiebreaker), first(row)).as("__row"))
      .select(col("__row.*"))
  }

  def exact(df: DataFrame, key: Column, tiebreaker: Column): DataFrame =
    exact(df, Seq(key), tiebreaker)

  /** Exact text dedup via md5 of the raw text. */
  def exactText(df: DataFrame, text: Column, tiebreaker: Column): DataFrame =
    exact(df, md5(text), tiebreaker)

  /** MinHash signature: `numHashes` independent min-hashes over word
    * `shingleSize`-shingles, as an ARRAY<BIGINT> column — a single-pass
    * native expression ([[graft.functions.MinHashSignature]]) over the
    * token array. */
  def minhashSignature(text: Column, numHashes: Int = 64, shingleSize: Int = 3): Column = {
    graft.Graft.register(org.apache.spark.sql.SparkSession.active)
    // raw text: the expression's byte-level path reproduces
    // tokens(lower(text)) exactly without the lowercase copy, the regex
    // split, or the token-array materialization (ShinglingTextSpec fuzz)
    call_function("minhash_signature", text, lit(numHashes), lit(shingleSize))
  }

  /** LSH band hashes (ARRAY<BIGINT>, length `bands`) fused into the same
    * single pass — the only per-row state LSH bucketing needs. */
  def minhashBands(text: Column, numHashes: Int = 64, shingleSize: Int = 3,
                   bands: Int = 16): Column = {
    graft.Graft.register(org.apache.spark.sql.SparkSession.active)
    call_function("minhash_bands", text, lit(numHashes), lit(shingleSize), lit(bands))
  }

  /** Both LSH artifacts — band hashes AND the distinct shingle-hash set —
    * from ONE tokenize+shingle walk, as STRUCT<bands, sh>. Near-dedup
    * needs both per document; computing them as two expressions runs the
    * dominant per-row cost twice ([[graft.functions.MinHashPrepare]]). */
  def minhashPrepare(text: Column, numHashes: Int = 64, shingleSize: Int = 3,
                     bands: Int = 16): Column = {
    graft.Graft.register(org.apache.spark.sql.SparkSession.active)
    call_function("minhash_prepare", text, lit(numHashes), lit(shingleSize), lit(bands))
  }

  /**
   * LSH candidate pairs from a band-hash array column: documents sharing
   * any band hash become a candidate pair. Plans as posexplode(bands) →
   * groupBy(bucket) → in-bucket pair generation, so cost is Σ bucket²
   * rather than n². Buckets larger than `maxBucketSize` (degenerate
   * content) are dropped, with the dropped-bucket count logged — silent
   * coverage truncation is never acceptable in a dedup operator.
   *
   * The plan is fully LAZY: the dropped-bucket count rides the consuming
   * action as an `observe()` metric (surfaced by a per-session
   * QueryExecutionListener), so there is no eager pass over the bucket
   * table just for accounting — at corpus scale that pass was an entire
   * extra shuffle of the signature table.
   *
   * Returns (idA, idB) with idA < idB, distinct.
   */
  def lshCandidatePairs(df: DataFrame, id: Column, bandHashes: Column,
                        maxBucketSize: Int = 200): DataFrame =
    lshCandidatePairsReleasable(df, id, bandHashes, maxBucketSize)._1

  /** Metric-name prefix for the observed dropped-bucket counts; the
    * per-session listener warns on any metric carrying it. */
  private[graft] val DroppedMetricPrefix = "graft_lsh_dropped_"
  private val metricSeq = new java.util.concurrent.atomic.AtomicLong(0)
  // Weak keys, same discipline as Graft.register's function cache: dead
  // sessions must not be pinned by the listener-installed marker.
  private val warnerInstalled =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]())

  /** Warns whenever a completed action reports a dropped-bucket metric:
    * the no-extra-job replacement for the old eager count. */
  private object DroppedBucketWarner
      extends org.apache.spark.sql.util.QueryExecutionListener {
    private val log = org.slf4j.LoggerFactory.getLogger(getClass)
    override def onSuccess(funcName: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        // count() is never NULL; the cap column is non-NULL whenever
        // dropped > 0 (at least one bucket row was aggregated)
        if (name.startsWith(DroppedMetricPrefix) && row.getLong(0) > 0)
          log.warn(s"lshCandidatePairs: dropped ${row.getLong(0)} degenerate buckets " +
            s"(> ${row.getInt(1)} docs); near-duplicates inside them are NOT covered")
      }
    override def onFailure(funcName: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           exception: Exception): Unit = ()
  }

  private def installWarner(spark: org.apache.spark.sql.SparkSession): Unit =
    warnerInstalled.synchronized {
      if (!warnerInstalled.containsKey(spark)) {
        spark.listenerManager.register(DroppedBucketWarner)
        warnerInstalled.put(spark, java.lang.Boolean.TRUE)
      }
    }

  /** [[lshCandidatePairs]] plus a release() handle (kept for API
    * stability — since the bucket table is no longer persisted there is
    * nothing to free here; the outer operators' handles still release
    * their shared signature pass).
    *
    * Shape note (r21, guide §2.3/§2.4): the exploded (id, band, bucket)
    * stream crosses ONE exchange — repartition by (band, bucket), sort
    * within partitions, stream each bucket once emitting its pairs
    * (2 ≤ size ≤ cap) or one NULL marker row (size > cap, the dropped-
    * bucket accounting, counted by the observe() metric the warner
    * reads). The previous groupBy-count + join-back + self-join form
    * shuffled the per-bucket partial counts as a SECOND near-full-stream
    * exchange (n·bands mostly-unique keys combine almost nowhere
    * map-side) and re-sorted the stream twice under the self-join; the
    * streamed form measures −48% (sf0.1) / −66% (sf1) on the warmed
    * pair-generation phase with a byte-identical pair set (R21LshAb).
    * mapPartitions is the documented last-resort tier, earned here: no
    * declarative operator expresses "per sorted group, emit pairs with a
    * streaming size cap", and the cap makes the walk skew-PROOF — a
    * degenerate bucket streams through a counter holding at most cap+1
    * buffered ids, where the window/collect_list forms buffer (or
    * external-sort) every occurrence.
    *
    * Parity with the join form, pinned by DedupLshSpec: per bucket of
    * total size n (NULL ids included, as the old count did), pairs are
    * emitted among the non-NULL ids iff 2 ≤ n ≤ cap (the old
    * `idA < idB` never paired a NULL side), in sort order so idA < idB,
    * equal-id pairs skipped. Rows with a NULL bucket hash are filtered
    * up front — an equi-join key never matched them, so the old form
    * produced no pairs from them either (they differed only in the
    * dropped-bucket METRIC when >cap NULL-bucket rows piled up, a shape
    * no band-hash producer emits). Requires BIGINT bucket hashes (what
    * [[minhashBands]]/[[minhashPrepare]] produce). */
  def lshCandidatePairsReleasable(df: DataFrame, id: Column, bandHashes: Column,
                                  maxBucketSize: Int = 200): (DataFrame, () => Unit) = {
    installWarner(df.sparkSession)
    val exploded = df.select(id.as("__id"), posexplode(bandHashes).as(Seq("__band", "__bucket")))
    require(exploded.schema("__bucket").dataType ==
      org.apache.spark.sql.types.LongType,
      s"lshCandidatePairs needs ARRAY<BIGINT> band hashes, got ${exploded.schema("__bucket").dataType}")
    val idType = exploded.schema("__id").dataType
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("idA", idType, nullable = true),
      org.apache.spark.sql.types.StructField("idB", idType, nullable = true)))
    val cap = maxBucketSize
    val emitted = exploded
      .filter(col("__bucket").isNotNull)
      .repartition(col("__band"), col("__bucket"))
      .sortWithinPartitions(col("__band"), col("__bucket"), col("__id"))
      .mapPartitions(bucketPairs(_, cap))(org.apache.spark.sql.Encoders.row(outSchema))
    val pairs = emitted
      .observe(DroppedMetricPrefix + metricSeq.incrementAndGet(),
        count(when(col("idA").isNull, true)).as("dropped"),
        max(lit(maxBucketSize)).as("cap"))
      .filter(col("idA").isNotNull)
      .distinct()
    (pairs, () => ())
  }

  /** The per-partition walk of [[lshCandidatePairsReleasable]] over
    * (id, band, bucket) rows sorted by (band, bucket, id): per bucket,
    * the non-NULL ids among its first `cap` rows, then either one
    * `(NULL, NULL)` marker row when the bucket holds more than `cap`
    * rows (NULL ids included), or every (idA, idB) pair in sort order,
    * equal ids skipped — the old strict `idA < idB` never paired them.
    * Pairs stream from an (i, j) cursor, so a bucket costs O(cap)
    * memory however many pairs it emits. */
  private[graft] def bucketPairs(rows: Iterator[org.apache.spark.sql.Row],
                                 cap: Int): Iterator[org.apache.spark.sql.Row] = {
    val buf = rows.buffered
    Iterator.continually(()).takeWhile(_ => buf.hasNext).flatMap { _ =>
      val band = buf.head.getInt(1); val bucket = buf.head.getLong(2)
      val ids = new scala.collection.mutable.ArrayBuffer[Any](4)
      var n = 0
      while (buf.hasNext && buf.head.getInt(1) == band && buf.head.getLong(2) == bucket) {
        val r = buf.next(); n += 1
        if (n <= cap && !r.isNullAt(0)) ids += r.get(0)
      }
      if (n > cap) Iterator.single(org.apache.spark.sql.Row(null, null))
      else Iterator.range(0, ids.length).flatMap { i =>
        Iterator.range(i + 1, ids.length).collect {
          case j if ids(i) != ids(j) => org.apache.spark.sql.Row(ids(i), ids(j))
        }
      }
    }
  }

  /**
   * Near-duplicate pairs by MinHash/LSH, verified with exact n-gram
   * Jaccard ≥ `threshold` on the joined texts. `df` must have unique
   * ids. Returns (idA, idB, jaccard).
   */
  def nearDuplicatePairs(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double = 0.8, numHashes: Int = 64,
                         bands: Int = 16, shingleSize: Int = 3): DataFrame =
    nearDuplicatePairsReleasable(df, idCol, textCol, threshold, numHashes, bands, shingleSize)._1

  /** [[nearDuplicatePairs]] plus a release() that unpersists the shared
    * signature pass and the bucket table — long-lived drivers looping
    * over corpora call it after consuming the pairs instead of waiting
    * for ContextCleaner GC to free executor storage. */
  def nearDuplicatePairsReleasable(df: DataFrame, idCol: String, textCol: String,
                                   threshold: Double = 0.8, numHashes: Int = 64,
                                   bands: Int = 16, shingleSize: Int = 3): (DataFrame, () => Unit) = {
    // ONE fused pass over the corpus computes BOTH the band hashes and
    // the shingle-hash sets (a single tokenize+shingle walk per row —
    // at scale, reading and shingling the corpus once is the budget).
    // The fields are extracted BELOW the persist in their own projection
    // (one struct evaluation, codegen CSE shares it across the two
    // extracts) and cached as top-level COLUMNS: InMemoryTableScan
    // prunes top-level columns only, so caching the raw struct made
    // every bucket-stage pass deserialize the (large) shingle-set arrays
    // it never reads — the band-only passes now read bands alone.
    // CODEGEN ASSUMPTION, stated deliberately: the once-per-row cost of
    // minhashPrepare during cache materialization relies on whole-stage
    // codegen's subexpression elimination fusing the two getField
    // extracts. Under an interpreted/fallback projection
    // (spark.sql.codegen.factoryMode=NO_CODEGEN, or a codegen blowup on
    // a far wider surrounding plan) the fused pass would run twice for
    // that one materialization — a bounded 2× on one pass, accepted in
    // exchange for top-level-column pruning on every later pass, which
    // is the asymptotic term. The alternative (persist the struct, split
    // after) re-reads shingle sets in every band pass and is strictly
    // worse under either codegen mode.
    val prep0 = df.select(col(idCol),
        minhashPrepare(col(textCol), numHashes, shingleSize, bands).as("__p"))
      .select(col(idCol),
        col("__p").getField("bands").as("__bands"),
        col("__p").getField("sh").as("__sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prepared = prep0
    val (cands, releaseBuckets) = lshCandidatePairsReleasable(prepared, col(idCol), col("__bands"))
    val a = prepared.select(col(idCol).as("idA"), col("__sh").as("__sa"))
    val b = prepared.select(col(idCol).as("idB"), col("__sh").as("__sb"))
    val pairs = cands.join(a, "idA").join(b, "idB")
      .withColumn("jaccard", {
        val inter = size(array_intersect(col("__sa"), col("__sb"))).cast("double")
        val uni = size(array_union(col("__sa"), col("__sb"))).cast("double")
        when(uni === 0, lit(0.0)).otherwise(inter / uni)
      })
      .filter(col("jaccard") >= threshold)
      .select(col("idA"), col("idB"), col("jaccard"))
    (pairs, () => { releaseBuckets(); prep0.unpersist(); () })
  }

  /** Near-dedup: drop every row that appears as the larger id of a
    * verified near-duplicate pair (keeps the canonical smallest id per
    * directly-connected duplicate set). The (small, ids-only) drop list
    * is localCheckpoint'ed eagerly so the signature/bucket caches can be
    * released immediately instead of pinning executor storage until GC. */
  def dedupNear(df: DataFrame, idCol: String, textCol: String,
                threshold: Double = 0.8): DataFrame = {
    val (pairs, release) = nearDuplicatePairsReleasable(df, idCol, textCol, threshold)
    val drops = pairs.select(col("idB").as(idCol)).distinct().transform(graft.Graft.checkpoint)
    release()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /**
   * Connected components over a pair list by iterative min-label
   * propagation: each round every node adopts the smallest label among
   * itself and its neighbors (one join + one min-aggregate per round,
   * lineage cut by localCheckpoint), until a fixpoint — O(component
   * diameter) rounds, and near-dup clusters are shallow. Returns
   * (id, component) with component = smallest member id.
   */
  def connectedComponents(pairs: DataFrame, idA: String = "idA", idB: String = "idB",
                          maxIters: Int = 20): DataFrame = {
    val a = col(idA); val b = col(idB)
    val edges = pairs.select(a.as("src"), b.as("dst"))
      .unionByName(pairs.select(b.as("src"), a.as("dst")))
      .distinct().transform(graft.Graft.checkpoint)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")).transform(graft.Graft.checkpoint)
    var changed = true
    var iter = 0
    while (changed && iter < maxIters) {
      val viaNeighbor = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("component"))
      // checkpointed: the halving join below references this plan on
      // BOTH sides — unmaterialized, the edges join + min-aggregate
      // would plan and execute twice per round
      val propagated = labels.unionByName(viaNeighbor)
        .groupBy("id").agg(min(col("component")).as("component"))
        .transform(graft.Graft.checkpoint)
      // pointer halving: follow the adopted label's OWN label once per
      // round (component values are node ids, so they appear in the
      // label table) — effective propagation distance doubles each
      // round and convergence is O(log diameter) instead of
      // O(diameter). A chain-shaped component (iteratively edited
      // documents near-duplicate their neighbors) of ANY realistic
      // length now converges inside the default 20 rounds, where plain
      // min-propagation silently returned inconsistent labels past
      // diameter 20.
      val parents = propagated
        .select(col("id").as("__pid"), col("component").as("__pcomp"))
      val next = propagated
        .join(parents, propagated("component") === parents("__pid"), "left")
        .select(propagated("id"), coalesce(col("__pcomp"), col("component")).as("component"))
        .transform(graft.Graft.checkpoint)
      changed = next.join(labels.withColumnRenamed("component", "__old"), "id")
        .filter(col("component") =!= col("__old")).limit(1).count() > 0
      graft.Graft.dropCheckpoint(labels) // superseded round's label blocks
      graft.Graft.dropCheckpoint(propagated) // folded into next
      labels = next
      iter += 1
    }
    if (changed)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"connectedComponents: labels had NOT converged after $maxIters iterations — " +
          "components with radius > maxIters carry inconsistent labels; raise maxIters")
    labels
  }

  /**
   * Transitive near-dedup: verified pairs are clustered into connected
   * components and only each component's smallest id survives — unlike
   * [[dedupNear]], documents linked only THROUGH a shared near-duplicate
   * (a~x, b~x but a≁b) collapse to one representative.
   */
  def dedupNearTransitive(df: DataFrame, idCol: String, textCol: String,
                          threshold: Double = 0.8): DataFrame = {
    val (pairs, release) = nearDuplicatePairsReleasable(df, idCol, textCol, threshold)
    // connectedComponents localCheckpoints its labels, so the pair
    // caches are releasable as soon as it returns
    val comps = connectedComponents(pairs)
    release()
    val drops = comps.filter(col("id") =!= col("component"))
      .select(col("id").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** SimHash near-duplicate pairs: fingerprints banded into four 16-bit
    * chunks (two fingerprints within Hamming distance ≤ `maxDist` ≤ 3
    * must agree on at least one chunk), verified by bit_count(xor). */
  def simhashPairs(df: DataFrame, id: Column, text: Column, maxDist: Int = 3): DataFrame = {
    graft.Graft.register(df.sparkSession)
    val fp = df.select(id.as("__id"),
      graft.functions.SimHash64.simhash64(TextFunctions.tokens(lower(text))).as("__fp"))
    val chunked = fp.select(col("__id"), col("__fp"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("c"), shiftrightunsigned(col("__fp"), c * 16).bitwiseAND(lit(0xffffL)).as("v"))): _*)).as("__chunk"))
    val a = chunked.select(col("__id").as("idA"), col("__fp").as("__fpA"), col("__chunk"))
    val b = chunked.select(col("__id").as("idB"), col("__fp").as("__fpB"), col("__chunk"))
    a.join(b, a("__chunk") === b("__chunk") && col("idA") < col("idB"))
      .select(col("idA"), col("idB"),
        bit_count(col("__fpA").bitwiseXOR(col("__fpB"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Incremental-ingest deduplication: flag every NEW document that
    * exactly or nearly duplicates the REFERENCE corpus — the
    * continuous-crawl shape (today's batch dedups against all of
    * history, history is never re-paired with itself). Returns
    * `newDocs` + `dup_exact` / `dup_near` BOOLEAN columns; filtering is
    * the caller's policy, flags are the audit trail.
    *
    * 100 TB shape, both passes asymmetric:
    *  - exact: one distinct content-hash set from the corpus + one
    *    join — text never joins text;
    *  - near: MinHash band buckets on BOTH sides, candidates are the
    *    NEW × CORPUS pairs inside a shared (band, bucket) only —
    *    never corpus × corpus, never all-pairs — then every candidate
    *    is verified by exact shingle Jaccard ≥ `threshold`, so a band
    *    collision can never flag a clean document. Degenerate corpus
    *    buckets (> `maxBucketSize` members) are dropped LOUDLY via the
    *    observed-metric warner, the symmetric path's contract.
    *
    * NULL-text rows are never duplicates (hash and signature are NULL).
    * Near recall follows the (numHashes, bands) S-curve; at the default
    * 64/32 a true 0.8-Jaccard pair is missed with P ≈ 1e-14. */
  def dedupAgainstCorpus(newDocs: DataFrame, corpus: DataFrame,
                         idCol: String, textCol: String, threshold: Double = 0.8,
                         numHashes: Int = 64, shingleSize: Int = 3, bands: Int = 32,
                         maxBucketSize: Int = 200): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")
    installWarner(newDocs.sparkSession)
    // exact pass: corpus content-hash set from its OWN skinny scan.
    // Round 18 profiled the "share the near pass's checkpointed walk"
    // alternative (derive the key set from csh's __cid): it was 2.4×
    // SLOWER end-to-end — the checkpoint rows carry the shingle and
    // band ARRAYS, and a third consumer deserializing them to read one
    // 32-byte column costs far more than this pruned one-column
    // codegen'd parquet scan. Two corpus walks is the floor.
    val keys = corpus.select(md5(col(textCol)).as("__k")).distinct()
      .withColumn("__ex", lit(true))
    val withExact = newDocs.withColumn("__k", md5(col(textCol)))
      .join(keys, Seq("__k"), "left")
    // near pass: asymmetric banded candidates, Jaccard-verified. The
    // shingle sets are computed ONCE per document and joined back to
    // the DEDUPED (new, corpus) candidate pairs — the naive form
    // (carry both texts through the band join, re-shingle per
    // candidate row) re-paid the tokenize+hash walk up to 2 × bands
    // times per true pair and measured 45 s on the 215k × 500k sf10
    // row; this shape verifies each pair once from two array handles.
    // both sides checkpoint (layout-preserving, eviction-recomputable):
    // each feeds TWO consumers — the band explode and the verify join —
    // and without the checkpoint the tokenize+shingle+minhash walk runs
    // twice per side (4 corpus walks per call, measured)
    val nsh = newDocs.select(col(idCol).as("__nid"),
        array_distinct(TextFunctions.shingleHashes(col(textCol), shingleSize)).as("__nsh"),
        minhashBands(col(textCol), numHashes, shingleSize, bands).as("__nbands"))
      .transform(graft.Graft.checkpoint)
    // corpus docs key by content hash: duplicates collapse (one
    // representative is enough to flag), and the join back to the
    // shingle set needs no caller-supplied corpus id
    val csh = corpus.select(md5(col(textCol)).as("__cid"),
        array_distinct(TextFunctions.shingleHashes(col(textCol), shingleSize)).as("__csh"),
        minhashBands(col(textCol), numHashes, shingleSize, bands).as("__cbands"))
      .dropDuplicates("__cid")
      .transform(graft.Graft.checkpoint)
    val cbx = csh.select(col("__cid"),
      posexplode(col("__cbands")).as(Seq("__band", "__bucket")))
    val sizes = cbx.groupBy("__band", "__bucket").agg(count(lit(1)).as("__n"))
      .observe(DroppedMetricPrefix + metricSeq.incrementAndGet(),
        count(when(col("__n") > maxBucketSize, true)).as("dropped"),
        max(lit(maxBucketSize)).as("cap"))
    val sane = sizes.filter(col("__n") <= maxBucketSize)
      .select(col("__band"), col("__bucket"))
    val cand = nsh.select(col("__nid"),
        posexplode(col("__nbands")).as(Seq("__band", "__bucket")))
      .join(cbx.join(sane, Seq("__band", "__bucket")), Seq("__band", "__bucket"))
      .select(col("__nid"), col("__cid")).distinct()
    val inter = size(array_intersect(col("__nsh"), col("__csh"))).cast("double")
    val union = size(array_union(col("__nsh"), col("__csh"))).cast("double")
    val nearIds = cand
      .join(nsh.select(col("__nid"), col("__nsh")), Seq("__nid"))
      .join(csh.select(col("__cid"), col("__csh")), Seq("__cid"))
      .filter(when(union === 0, lit(0.0)).otherwise(inter / union) >= threshold)
      .select(col("__nid")).distinct()
      .withColumn("__nr", lit(true))
    withExact.join(nearIds, withExact(idCol) === nearIds("__nid"), "left")
      .select(newDocs.columns.map(col)
        :+ coalesce(col("__ex"), lit(false)).as("dup_exact")
        :+ coalesce(col("__nr"), lit(false)).as("dup_near"): _*)
  }

  /** Line-level corpus deduplication (the C4 / RefinedWeb line filter):
    * remove EVERY occurrence of any line appearing at least `minCount`
    * times across the whole corpus, rebuild each document from its
    * surviving lines in original order, and append the audit counters
    * `n_removed_lines` / `n_lines`. Boilerplate lives at line
    * granularity — navigation bars, cookie banners, license footers —
    * which document-level MinHash can't see (the document is unique;
    * its third line is on ten million pages) and n-gram span removal
    * over-cuts (a span has no line discipline). Blank lines are lines:
    * any blank appearing `minCount`+ times is stripped, the C4 rule.
    *
    * Unlike [[graft.operators.TextRank.removeDuplicatedSpans]]'s
    * broadcast-bound removal, this is the JOIN form, sized for an
    * UNBOUNDED duplicated set: explode lines with positions (one
    * shuffle-free projection), count them (one shuffle, map-side
    * combine collapses the duplicates — the rows this operator is FOR),
    * join the flags back (AQE broadcasts the duplicated set when it is
    * small, shuffles honestly when it is not), and regroup per document
    * (one shuffle). Line identity is EXACT BYTES between separators —
    * no trimming, no folding; `split` keeps trailing empties, so the
    * line list is the document, always rebuildable.
    *
    * NULL text → NULL text with NULL counters; a fully-duplicated
    * document rebuilds to `""` (its row survives — dropping documents
    * is the caller's policy, applied on the counters).
    *
    * `keepFirst = true` switches to C4's exact rule — remove all BUT
    * ONE occurrence of each duplicated line, the one at the globally
    * smallest `(id, pos)` (deterministic: positions are unique within
    * a document and the id column must be orderable). The canonical
    * occurrence costs one `min(struct(id, pos))` in the same counting
    * aggregate — no extra shuffle.
    *
    * `hotLineThreshold` (r21, guide §2.5) is the skew guard for the
    * counting window: the window partitions the exploded stream by line
    * CONTENT, so one line duplicated a billion times puts every
    * occurrence into a single WindowExec task group — it spills rather
    * than OOMs, but serializes the stage behind one straggler. With the
    * guard on (> 0), a skinny digest pre-pass (line hashes only — no
    * ids, no positions, map-side-combined count, immune to the same
    * skew) finds every line occurring ≥ hotLineThreshold times; the set
    * is bounded by corpus/threshold and capped at 4096 digests (past
    * the cap the guard logs loudly and falls back to the unguarded
    * window — fail-safe, never wrong). Hot-line rows bypass the window:
    * their exact counts/first-picks come from a tiny per-line aggregate
    * over just the hot rows, attached by broadcast join; light lines
    * keep the single-exchange window with every group now provably
    * < hotLineThreshold rows. Digest collisions only route extra light
    * lines through the hot path, where they are counted exactly — the
    * output is byte-identical either way (DedupLinesSpec pins it). The
    * guard scans and splits the corpus four times instead of once — the
    * digest pre-pass, then the light stratum, the hot rows and the hot
    * totals each explode it again — so it is OFF by default: a benign
    * corpus (no dominant boilerplate line) pays ~25% for nothing, while a skewed one should set the threshold
    * to the row count a single window task can sort comfortably (e.g.
    * 10⁶ at 100 TB).
    *
    * Reference scope note: the reference engine has no text pipeline —
    * this operator is part of the library's LLM-curation extension. */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
                 minCount: Long = 2L, sep: String = "\n",
                 keepFirst: Boolean = false,
                 hotLineThreshold: Long = 0L): DataFrame = {
    require(minCount > 1, "dedupLines needs minCount > 1 — at 1 it removes every line")
    require(sep.nonEmpty, "dedupLines needs a non-empty line separator")
    val sepPattern = java.util.regex.Pattern.quote(sep)
    val lines = docs
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), sepPattern)).as(Seq("__pos", "__line")))
    // Count per line content with a WINDOW over the exploded stream
    // rather than groupBy + join-back (r20, guide §1.2/§2.4): the join
    // form scanned and re-chunked the whole corpus TWICE (one explode
    // feeding the count aggregate, one feeding the join) and moved the
    // exploded lines through THREE exchanges (partial-count, join-side,
    // rebuild). One window over partition-by-content computes the same
    // per-line count (and the keep-first canonical pick) on a single
    // explode and a single content exchange; the per-line groups the
    // window buffers are a few rows each, so memory stays flat. Counts,
    // canonical picks and the rebuild stream are value-identical to the
    // join form (q97/q102 oracle rows pin it).
    val hotDigests: Seq[Long] =
      if (hotLineThreshold <= 0) Seq.empty
      else {
        val maxHot = 4096
        val found = docs
          .select(explode(split(col(textCol), sepPattern)).as("__l"))
          .select(xxhash64(col("__l")).as("__d"))
          .groupBy(col("__d")).agg(count(lit(1)).as("__c"))
          .filter(col("__c") >= hotLineThreshold)
          .select(col("__d"))
          .limit(maxHot + 1)
          .collect().map(_.getLong(0)).toSeq
        if (found.length > maxHot) {
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"dedupLines: more than $maxHot lines occur >= $hotLineThreshold times — " +
              "hot-line guard disabled for this call (unguarded window, one task per hot line); " +
              "raise hotLineThreshold so the hot set is small enough to broadcast")
          Seq.empty
        } else found
      }
    def countWindowed(part: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__line"))
      val c0 = part.withColumn("__cnt", count(lit(1)).over(w))
      if (keepFirst)
        c0.withColumn("__first", min(struct(col("__id"), col("__pos"))).over(w))
      else c0
    }
    val counted =
      if (hotDigests.isEmpty) countWindowed(lines)
      else {
        // InSet over ≤4096 longs is a codegen'd O(1) membership probe;
        // hot rows never enter the window — their exact totals come
        // from a per-line aggregate over just the hot stratum (≤4096
        // distinct lines, map-side combined) broadcast-joined back
        val isHot = xxhash64(col("__line")).isin(hotDigests: _*)
        val light = countWindowed(lines.filter(!isHot))
        val hotRows = lines.filter(isHot)
        val firstAgg =
          if (keepFirst) Seq(min(struct(col("__id"), col("__pos"))).as("__first"))
          else Seq.empty
        val totals = hotRows.groupBy(col("__line").as("__line_h"))
          .agg(count(lit(1)).as("__cnt"), firstAgg: _*)
        val hotCounted = hotRows
          .join(broadcast(totals), col("__line") === col("__line_h"))
          .drop("__line_h")
          .select(light.columns.map(col): _*)
        light.unionByName(hotCounted)
      }
    // rebuild via repartition + spillable within-partition sort + a
    // streaming per-document concat (mapPartitions — the documented
    // last-resort tier, earned here): the collect_list formulation
    // holds one line-array buffer PER GROUP in the hash aggregate, and
    // at 5M docs × ~10 lines the partial-aggregate maps OOM'd a 24 GB
    // heap (measured, sf100 tier). The sorted stream touches one
    // document at a time — O(longest document) memory, any corpus size.
    val removed =
      if (keepFirst)
        col("__cnt") >= minCount &&
          !(struct(col("__id"), col("__pos")) === col("__first"))
      else col("__cnt") >= minCount
    val joined = counted
      .select(col("__id"), col("__pos"), col("__line"),
        when(removed, lit(true)).as("__rm"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__id",
        joined.schema("__id").dataType, nullable = true),
      org.apache.spark.sql.types.StructField("__clean",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("__n_removed",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("__n_lines",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    val rebuilt = joined
      .repartition(col("__id"))
      .sortWithinPartitions(col("__id"), col("__pos"))
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[org.apache.spark.sql.Row] {
          override def hasNext: Boolean = buf.hasNext
          override def next(): org.apache.spark.sql.Row = {
            val id = buf.head.get(0)
            val sb = new java.lang.StringBuilder
            var nRemoved = 0
            var nAll = 0
            var kept = 0
            while (buf.hasNext && java.util.Objects.equals(buf.head.get(0), id)) {
              val r = buf.next()
              nAll += 1
              if (!r.isNullAt(3)) nRemoved += 1
              else {
                if (kept > 0) sb.append(sep)
                sb.append(r.getString(2))
                kept += 1
              }
            }
            org.apache.spark.sql.Row(id, sb.toString, nRemoved, nAll)
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
    val keep = docs.columns.map { c =>
      if (c == textCol)
        when(col(textCol).isNull, lit(null)).otherwise(col("__clean")).as(textCol)
      else col(c)
    }
    docs.join(rebuilt, docs(idCol) === rebuilt("__id"), "left")
      .select(keep
        :+ when(col(textCol).isNull, lit(null)).otherwise(col("__n_removed")).as("n_removed_lines")
        :+ when(col(textCol).isNull, lit(null)).otherwise(col("__n_lines")).as("n_lines"): _*)
  }
}
