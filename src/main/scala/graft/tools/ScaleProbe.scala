package graft.tools

import graft.Graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Scaling evidence: replicate the sf0.1 inputs in-memory (deterministic
 * id offsets / text variants) and measure how the headline operators'
 * wall-clock grows with input size — the fixed-overhead-vs-throughput
 * split that BENCH_CONTEXT.md argues.
 */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = Graft.register(SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$name: ${(System.nanoTime() - t0) / 1e9}%.2f s  (n=$n)")
    }

    // --- fused cofactor: 0.6M → 9.6M rows ---
    val li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
      .select(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_linenumber")).cache()
    li.count()
    for (k <- Seq(1, 4, 16)) {
      val rep = (0 until k).map(_ => li).reduce(_ unionByName _)
      time(s"cofactor 4num+1cat x$k (${600 * k}k rows)") {
        rep.agg(Graft.sumTriple(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"), col("l_linenumber")).as("t")).head()
        600000L * k
      }
    }

    // --- minhash near-dedup: 5k → 150k docs ---
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id"), col("text")).cache()
    docs.count()
    for (k <- Seq(1, 10, 30)) {
      val corpus = (0 until k).map(i =>
        docs.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
          // every third replica is an exact duplicate; others get a
          // distinct suffix (near-duplicates of the original)
          (if (i % 3 == 0) col("text") else concat(col("text"), lit(s" variant$i"))).as("text"))
      ).reduce(_ unionByName _).cache()
      corpus.count()
      time(s"dedupNear x$k (${5 * k}k docs)") {
        graft.operators.Dedup.dedupNear(corpus, "doc_id", "text", 0.8).count()
      }
      corpus.unpersist()
    }

    // --- knn brute force: corpus 2k → 32k vectors (64d), 20 queries ---
    // cost is queries × corpus × dim; with the query side broadcast the
    // corpus streams once, so wall-clock should grow ~linearly in corpus
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).cache()
    val nEmb = emb.count()
    val knnQ = emb.filter(col("vec_id") < 20)
    for (k <- Seq(1, 4, 16)) {
      val corpus = (0 until k).map(i =>
        emb.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"), col("embedding"))
      ).reduce(_ unionByName _).cache()
      corpus.count()
      time(s"knn bruteforce x$k (${nEmb * k} vectors)") {
        graft.operators.Similarity.bruteForceTopK(
          knnQ, corpus, "vec_id", "embedding", "vec_id", "embedding", k = 3).count()
      }
      corpus.unpersist()
    }

    // --- PQ: train / encode / IVFADC search, corpus 2k → 32k vectors ---
    // train is the dominant term (iters+1 full-corpus encode passes;
    // the cell shuffle is m·ksub·dsub fixed-point rows — KBs — per
    // iteration regardless of corpus size), so its wall-clock should
    // grow ~linearly while encode tracks a single corpus map pass and
    // the IVFADC search stays bounded by nProbe/nCentroids of the
    // corpus. q57 geometry (m=16, ksub=128).
    for (k <- Seq(1, 4, 16)) {
      val corpus = (0 until k).map(i =>
        emb.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"), col("embedding"))
      ).reduce(_ unionByName _).cache()
      corpus.count()
      var cb: graft.operators.Pq.PqCodebook = null
      time(s"pq train m=16 ksub=128 iters=2 x$k (${nEmb * k} vectors)") {
        cb = graft.operators.Pq.train(corpus, "vec_id", "embedding",
          dim = 64, m = 16, ksub = 128, iters = 2)
        nEmb * k
      }
      time(s"pq encode x$k (${nEmb * k} vectors)") {
        graft.operators.Pq.encodeCorpus(corpus, "vec_id", "embedding", cb).count()
      }
      val idx = graft.operators.Similarity.ivfBuild(corpus, "vec_id", "embedding",
        nCentroids = 16, kmeansIters = 0)
      time(s"ivfadc topk nProbe=4 x$k (${nEmb * k} vectors)") {
        graft.operators.Pq.ivfPqTopK(idx, knnQ, "vec_id", "embedding",
          "vec_id", "embedding", k = 3, cb, nProbe = 4).count()
      }
      corpus.unpersist()
    }

    // --- SDC dedup over codes: corpus 2k → 32k vectors ---
    // pair cost is Σ cell² — with cells tracking corpus/nCentroids the
    // candidate count grows ~n²/nCentroids, so the lever at scale is
    // nCentroids ∝ n (constant cell size keeps the per-cell quadratic
    // bounded). Cells scale with the corpus up to 1024 here — past the
    // old 128-centroid byte-code cap, on the native SMALLINT assignment
    // kernel (pq_encode_s; the round-9 lift) — so wall-clock tracks the
    // PAIR count, not n², with ~constant rows/cell at every step
    for (k <- Seq(1, 4, 16)) {
      val corpus = (0 until k).map(i =>
        emb.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"), col("embedding"))
      ).reduce(_ unionByName _).cache()
      corpus.count()
      val nCells = 64 * k
      val idx = graft.operators.Similarity.ivfBuild(corpus, "vec_id", "embedding",
        nCentroids = nCells, kmeansIters = 0)
      val cb = graft.operators.Pq.train(corpus, "vec_id", "embedding",
        dim = 64, m = 16, ksub = 128, iters = 1)
      val encoded = graft.operators.Pq.ivfPqEncode(idx, "vec_id", "embedding", cb).cache()
      encoded.count()
      time(s"sdc neardup x$k (${nEmb * k} vectors, $nCells cells)") {
        graft.operators.Pq.sdcNearDupPairsEncoded(encoded, cb, 0.9).count()
      }
      time(s"knn graph x$k (${nEmb * k} vectors, $nCells cells)") {
        graft.operators.Pq.knnGraphEncoded(encoded, cb, k = 3).count()
      }
      encoded.unpersist()
      corpus.unpersist()
    }

    // --- asof join: 100k → 1.6M events ---
    // one shuffle + per-partition sort: wall-clock should track the sort
    // force TIMESTAMP (LTZ) over the NTZ-annotated file so unix_micros
    // resolves (SparkEntry eventsSchema discipline)
    val ev = spark.read.schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType)))
      ).parquet("/root/testdata/sf0.1/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts")).cache()
    val nEv = ev.count()
    for (k <- Seq(1, 4, 16)) {
      val rep = (0 until k).map(i =>
        ev.select((col("event_id") + lit(i * 10000000L)).as("event_id"),
          // offset must exceed the key range (user_id spans 0..1499) so
          // replicas occupy DISTINCT key spaces — group sizes stay
          // constant and the probe measures corpus growth, not skew
          (col("user_id") + lit(i * 10000L)).as("user_id"),
          col("event_type"), (col("ts") + lit(i)).as("ts"))
      ).reduce(_ unionByName _).cache()
      rep.count()
      val clicks = rep.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = rep.filter(col("event_type") === "view")
        .select(col("event_id").as("v_eid"), col("user_id"), col("ts").as("vt"))
      time(s"asof join x$k (${nEv * k} events)") {
        graft.operators.AsofJoin.asofBackward(
          clicks, views, col("user_id"), col("user_id"),
          col("ts"), col("vt"), rightOrder = col("v_eid")).count()
      }
      rep.unpersist()
    }

    // --- asof join under deliberate key skew: ALL events on one key ---
    // the documented hot-key caveat (AsofJoin scaladoc): one key
    // serializes into a single task's sort. The probe shows graceful
    // degradation — wall-clock tracks the single-partition sort, no
    // failure — against the same row counts spread over ~1500 keys above.
    for (k <- Seq(4, 16)) {
      val rep = (0 until k).map(i =>
        ev.select((col("event_id") + lit(i * 10000000L)).as("event_id"),
          lit(0L).as("user_id"), // every row the SAME key
          // ts is ns-scale (~1.7e18): offset, never multiply (long overflow)
          col("event_type"), (col("ts") + lit(i)).as("ts"))
      ).reduce(_ unionByName _).cache()
      rep.count()
      val clicks = rep.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = rep.filter(col("event_type") === "view")
        .select(col("event_id").as("v_eid"), col("user_id"), col("ts").as("vt"))
      time(s"asof join HOT KEY x$k (${nEv * k} events, 1 key)") {
        graft.operators.AsofJoin.asofBackward(
          clicks, views, col("user_id"), col("user_id"),
          col("ts"), col("vt"), rightOrder = col("v_eid")).count()
      }
      // the salted two-pass variant spreads the hot key over ts-range
      // buckets (~64 buckets at this width) and patches boundaries
      time(s"asof join HOT KEY SALTED x$k (${nEv * k} events, 1 key)") {
        graft.operators.AsofJoin.asofBackwardSalted(
          clicks, views, col("user_id"), col("user_id"),
          col("ts"), col("vt"), bucketWidth = 86400L * 1000000000L / 4,
          rightOrder = col("v_eid")).count()
      }
      rep.unpersist()
    }

    spark.stop()
  }
}
