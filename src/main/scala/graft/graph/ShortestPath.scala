package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bounded weighted single-source shortest path: `rounds` rounds of
  * Bellman-Ford relaxation over an integer-weighted edge list —
  * dist(v) = min total weight over paths from the seed using <= `rounds`
  * edges. The weighted sibling of Bfs.khop (which is this with w ≡ 1).
  * Integer weights keep the arithmetic exact across engines (no
  * float-sum path dependence), which is also the right call at scale —
  * milli-unit longs don't accumulate error over long paths.
  *
  * 100 TB shape: DELTA relaxation — each round joins only the nodes whose
  * distance improved last round onto the src-keyed edge list (the Pregel
  * shape; a full-table relaxation re-scans every settled node every
  * round), followed by one union + min hash aggregate. A path of j edges
  * is applied by round j, so `rounds` rounds exactly cover the <=rounds-
  * edge path space. Lineage is truncated per round by a [[Snapshot]] that
  * frees the one it supersedes; the loop exits early when no distance
  * improves (one scalar count per round).
  */
object ShortestPath {

  def ssspBounded(spark: SparkSession, edges: DataFrame, seed: Column, rounds: Int,
                  srcCol: String = "src", dstCol: String = "dst", wCol: String = "w",
                  directed: Boolean = false): DataFrame = {
    val base = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(wCol).cast("long").as("w"))
    val sym = if (directed) base
      else base.unionAll(base.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    val e = Snapshot.take(sym.distinct())

    // (node_id, dist, imp): every reached node with its distance, imp =
    // improved last round (the delta the next round relaxes from)
    var state = Snapshot.take(
      spark.range(1).select(seed.as("node_id"), lit(0L).as("dist"), lit(true).as("imp")))
    var r = 0
    var deltaSize = 1L
    while (r < rounds && deltaSize > 0L) {
      r += 1
      // candidate distances from last round's improved nodes, min-folded
      // map-side before the shuffle
      val delta = state.where(col("imp"))
      val cand = delta.join(e, delta("node_id") === e("src"))
        .select(e("dst").as("node_id"), (delta("dist") + e("w")).as("dist"))
        .groupBy(col("node_id")).agg(min(col("dist")).as("dist"))
      val old = state.select(col("node_id").as("o_id"), col("dist").as("o_dist"))
      val improved = cand.join(old, cand("node_id") === old("o_id"), "left")
        .where(col("o_dist").isNull || col("dist") < col("o_dist"))
        .select(col("node_id"), col("dist"))
      // ONE snapshot AND one job per round: the next state is a LAZY
      // snapshot materialized by the delta count itself, and the
      // superseded state is freed only AFTER that count (the lazy
      // snapshot's computation reads it)
      val next = Snapshot.take(
        state.join(improved.select(col("node_id").as("i_id")),
            state("node_id") === col("i_id"), "left_anti")
          .select(col("node_id"), col("dist"), lit(false).as("imp"))
          .unionAll(improved.select(col("node_id"), col("dist"), lit(true).as("imp"))),
        eager = false)
      deltaSize = next.where(col("imp")).count()
      Snapshot.free(state)
      state = next
    }
    Snapshot.free(e)
    state.select(col("node_id"), col("dist"))
  }
}
