package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocking: how the members of one blocking key become candidate pairs,
  * and how the `maxBucket` guardrail drops and accounts for oversized
  * buckets. Every candidate-pair operator (the MinHash, SimHash, hamming
  * and embedding-cosine near-dup families, co-mention edges) runs through
  * here, so the pair shape and the cap have one definition.
  *
  * A bucket of N members yields N²/2 pairs under any algorithm. At scale
  * the fix is exact dedup first; the cap bounds the damage if a
  * mega-cluster slips through, and `overflow` makes every drop visible.
  */
private[graft] object Blocking {

  /** Distinct candidate pairs `(a, b)` of `member` structs sharing a `key`
    * bucket, with `a.id < b.id` strictly. `member` is a struct whose first
    * field is the id, named `id`: the sorted member list then orders by id,
    * and the strict compare keeps rows that share an id from pairing with
    * each other.
    *
    * One aggregation, not a self-join on the key: a self-join evaluates the
    * whole upstream pipeline twice (measured ~2× wall), while this shape
    * computes it once and shuffles each row once.
    *
    * When capped, a cheap COUNT aggregation (map-side partial) plus a
    * left-semi join prunes over-cap buckets BEFORE any member list is
    * collected, so mega-bucket lists are never materialized — measured ~8×
    * on a 50k-doc corpus whose duplicate mass is genuinely quadratic. The
    * uncapped default keeps the one-shuffle collect shape.
    *
    * Pairs come from TWO chained generates, not one nested transform: the
    * nested form materializes the full m²/2-struct array per bucket before
    * exploding (≈131k structs for a 512-member bucket); the chained form
    * emits one ≤m slice per first-level row. The list is ascending, so the
    * post-i slice holds exactly the larger partners.
    */
  def pairs(rows: DataFrame, key: Seq[String], member: Column,
            maxBucket: Int = Int.MaxValue): DataFrame = {
    val keyCols = key.map(col)
    val pruned =
      if (maxBucket == Int.MaxValue) rows
      else {
        val keep = rows.groupBy(keyCols: _*).agg(count(lit(1)).as("bn"))
          .where(col("bn") > 1 && col("bn") <= maxBucket)
          .select(keyCols: _*)
        rows.join(keep, key, "left_semi")
      }
    pruned
      .groupBy(keyCols: _*)
      .agg(sort_array(collect_list(member)).as("ms"))
      .where(size(col("ms")) > 1)
      .select(col("ms"), posexplode(col("ms")).as(Seq("i", "a")))
      .select(col("a"), explode(slice(col("ms"), col("i") + lit(2), size(col("ms")))).as("b"))
      .where(col("a.id") < col("b.id"))
      .distinct()
  }

  /** Buckets the `maxBucket` guardrail drops: one COUNT aggregation
    * (map-side partial, member lists never collected) — exactly the buckets
    * `pairs(rows, key, _, maxBucket)` prunes. Output: (key…, bucket_size)
    * with bucket_size > maxBucket.
    */
  def overflow(rows: DataFrame, key: Seq[String], maxBucket: Int): DataFrame =
    rows.groupBy(key.map(col): _*)
      .agg(count(lit(1)).as("bucket_size"))
      .where(col("bucket_size") > maxBucket)
}
