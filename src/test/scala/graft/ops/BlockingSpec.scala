package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BlockingSpec extends SparkSpec {

  test("Blocking: a bucket of exactly maxBucket is kept, maxBucket + 1 is dropped and accounted") {
    import spark.implicits._
    val cap = 4
    val buckets: Map[String, Seq[Long]] = Map(
      "at_cap" -> (1L to 4L),        // m = cap: kept, m(m-1)/2 = 6 pairs
      "over_cap" -> (10L to 14L),    // m = cap + 1: dropped
      "pair" -> Seq(20L, 21L),
      "single" -> Seq(30L))          // no partner: no pair, no drop
    val rows = buckets.toSeq.flatMap { case (k, ids) => ids.map(id => (k, id)) }.toDF("k", "id")
    def brute(ids: Seq[Long]): Set[(Long, Long)] =
      (for (a <- ids; b <- ids if a < b) yield (a, b)).toSet

    def pairsAt(maxBucket: Int): Set[(Long, Long)] =
      Blocking.pairs(rows, Seq("k"), struct(col("id")), maxBucket)
        .select(col("a.id"), col("b.id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairsAt(cap)
    assert(brute(buckets("at_cap")).size == 6)
    assert(got == brute(buckets("at_cap")) ++ brute(buckets("pair")), s"got $got")

    val dropped = Blocking.overflow(rows, Seq("k"), cap).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dropped == Map("over_cap" -> 5L))
    // together, pairs and overflow cover every bucket with a partner
    buckets.foreach { case (k, ids) =>
      if (ids.size > 1)
        assert(dropped.contains(k) != brute(ids).subsetOf(got), s"bucket $k")
    }
    // uncapped: every bucket yields its pairs, nothing overflows
    assert(pairsAt(Int.MaxValue) == buckets.values.map(brute).reduce(_ ++ _))
    assert(Blocking.overflow(rows, Seq("k"), Int.MaxValue).isEmpty)
  }

  test("Blocking.pairs: rows sharing an id never pair with each other") {
    import spark.implicits._
    val rows = Seq(("k", 7L, "x"), ("k", 7L, "y"), ("k", 8L, "x")).toDF("k", "id", "v")
    val got = Blocking.pairs(rows, Seq("k"), struct(col("id"), col("v")))
      .select(col("a.id"), col("a.v"), col("b.id"), col("b.v")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    assert(got == Set((7L, "x", 8L, "x"), (7L, "y", 8L, "x")), s"got $got")
  }
}
