package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r21 streamed LSH pair generation (one exchange, sorted
  * per-bucket walk, marker-row dropped accounting) EXACTLY against the
  * pre-r21 groupBy-count + join-back + self-join reference formulation,
  * including the cases the streamed walk handles specially: NULL ids
  * inside a bucket (count toward the size cap, never pair), buckets
  * exactly at / one over the cap, duplicate ids (never self-pair), and
  * buckets spread across bands. */
class DedupLshSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The pre-r21 formulation, verbatim (minus the observe node): the
    * value oracle for the streamed walk. */
  private def referencePairs(df: DataFrame, cap: Int): DataFrame = {
    val exploded = df.select(col("doc_id").as("__id"),
      posexplode(col("__bands")).as(Seq("__band", "__bucket")))
    val sizes = exploded.groupBy("__band", "__bucket").agg(count(lit(1)).as("__n"))
    val hot = sizes.filter(col("__n") >= 2 && col("__n") <= cap)
      .select(col("__band"), col("__bucket"))
    val members = exploded.join(hot, Seq("__band", "__bucket"))
    val a = members.select(col("__band"), col("__bucket"), col("__id").as("idA"))
    val b = members.select(col("__band"), col("__bucket"), col("__id").as("idB"))
    a.join(b, Seq("__band", "__bucket"))
      .filter(col("idA") < col("idB"))
      .select(col("idA"), col("idB"))
      .distinct()
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("streamed pair walk ≡ join form on deterministic random buckets") {
    val rnd = new scala.util.Random(42)
    // 400 docs, 8 bands, bucket hashes drawn from a small space so
    // buckets of many sizes (incl. singletons and > cap) occur
    val rows = (0 until 400).map { i =>
      (i.toLong, (0 until 8).map(b => (b * 1000L + rnd.nextInt(120)).toLong))
    }
    val df = rows.toDF("doc_id", "__bands")
    for (cap <- Seq(2, 5, 17, 200)) {
      val (streamed, _) = Dedup.lshCandidatePairsReleasable(
        df, col("doc_id"), col("__bands"), maxBucketSize = cap)
      val want = pairSet(referencePairs(df, cap))
      val got = pairSet(streamed)
      assert(got == want, s"cap=$cap: streamed pair set diverges from the join form")
      assert(want.nonEmpty, s"cap=$cap produced an empty oracle — test data too thin")
    }
  }

  test("NULL ids count toward the bucket cap but never pair") {
    // bucket 7L holds ids 1,2 + two NULLs (size 4); with cap 3 the
    // bucket must drop ENTIRELY (old count included NULL-id rows);
    // with cap 4 it must emit exactly (1,2)
    val df = Seq(
      (java.lang.Long.valueOf(1L), Seq(7L)),
      (java.lang.Long.valueOf(2L), Seq(7L)),
      (null.asInstanceOf[java.lang.Long], Seq(7L)),
      (null.asInstanceOf[java.lang.Long], Seq(7L))
    ).toDF("doc_id", "__bands")
    val (capped, _) = Dedup.lshCandidatePairsReleasable(
      df, col("doc_id"), col("__bands"), maxBucketSize = 3)
    assert(capped.count() == 0, "bucket of total size 4 must drop at cap 3")
    val (kept, _) = Dedup.lshCandidatePairsReleasable(
      df, col("doc_id"), col("__bands"), maxBucketSize = 4)
    assert(pairSet(kept) == Set((1L, 2L)), "NULL ids must never appear in a pair")
  }

  test("duplicate ids never self-pair (old strict idA < idB)") {
    val df = Seq((5L, Seq(1L)), (5L, Seq(1L)), (6L, Seq(1L))).toDF("doc_id", "__bands")
    val (pairs, _) = Dedup.lshCandidatePairsReleasable(
      df, col("doc_id"), col("__bands"), maxBucketSize = 10)
    assert(pairSet(pairs) == Set((5L, 6L)))
  }

  test("bucket exactly at the cap pairs; one over drops with a marker metric") {
    val atCap = (0 until 5).map(i => (i.toLong, Seq(3L))).toDF("doc_id", "__bands")
    val (p5, _) = Dedup.lshCandidatePairsReleasable(
      atCap, col("doc_id"), col("__bands"), maxBucketSize = 5)
    assert(p5.count() == 10, "5 choose 2 pairs at cap=5")
    val (p4, _) = Dedup.lshCandidatePairsReleasable(
      atCap, col("doc_id"), col("__bands"), maxBucketSize = 4)
    assert(p4.count() == 0, "size-5 bucket must vanish at cap=4")
  }

  test("a bucket past 46,341 ids streams its first pairs") {
    // 46,342 ids make 46,342·46,341/2 pairs, more than Int.MaxValue: the
    // walk must stream them, not size a buffer by the pair count
    val n = 46342
    val rows = Iterator.tabulate(n)(i => org.apache.spark.sql.Row(i.toLong, 0, 7L))
    val first = Dedup.bucketPairs(rows, cap = n).take(3).toList
    assert(first == List((0L, 1L), (0L, 2L), (0L, 3L)).map { case (a, b) =>
      org.apache.spark.sql.Row(a, b) })
  }
}
