package graft.canon

import graft.graph.Snapshot
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-document entity canonicalization (SURVEY §2.3 J10 — the north rule's
  * connected-components generalization of the reference's content-hash node
  * identity, enhanced_hypergraph_builder_agent_v2.py:1300-1303 /
  * graph_extraction_agent.py:510-519).
  *
  * Implementation: alternating large-star / small-star rounds (Kiveris et
  * al., "Connected Components in MapReduce and Beyond") as a driver loop of
  * plain DataFrame join+groupBy/min steps with one [[Snapshot]] per round
  * to truncate lineage. Converges in O(log n) rounds regardless of graph
  * DIAMETER — the hash-min label propagation it replaces needed O(diameter)
  * rounds, so a 1000-hop alias chain (entity A aka B aka C …) blew past any
  * reasonable maxIter and silently returned unconverged labels; star
  * contraction handles chains and hubs alike. No GraphX: plain Catalyst
  * plans keep AQE (incl. skew-join splitting) in charge of the physical
  * layout, which matters because hub entities ("Intel" in a third of pages)
  * make the edge list heavily skewed.
  *
  * Skew handling (SURVEY §4.1): the per-node neighborhood minimum is a hash
  * aggregate with map-side partial min (reducer input bounded by
  * #map-partitions rows per key, even for a hub node present in every
  * partition), and neighbor emission is an equi-join the AQE skew rule can
  * split. Neighbor LISTS are never collected.
  */
object Canonicalize {

  /** Connected components over an undirected edge list.
    *
    * @param edges DataFrame with two string columns (src, dst)
    * @param maxIter safety bound on large-star+small-star rounds; with
    *   O(log n) convergence, 50 covers any graph that fits on storage.
    *   Throws IllegalStateException instead of returning wrong labels if hit.
    * @param salt retained for API compatibility; the star rounds' min
    *   aggregates get their skew-immunity from map-side partial aggregation
    * @return DataFrame (id, component) — component = min id in the component
    */
  def connectedComponents(
      spark: SparkSession,
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxIter: Int = 50,
      salt: Int = 8): DataFrame = {
    import spark.implicits._

    // Orient every edge (u, v) with u > v (string order — consistent with
    // component = lexicographic min id); self-loops dropped.
    val e0 = edges
      .select(col(srcCol).cast("string").as("a"), col(dstCol).cast("string").as("b"))
      .where($"a" =!= $"b")

    var cur = Snapshot.take(
      e0.select(greatest($"a", $"b").as("u"), least($"a", $"b").as("v")).distinct())

    /** Cheap convergence fingerprint: (edge count, XOR of per-edge xxhash64)
      * — one aggregate, no join; XOR is commutative and overflow-free (ANSI-
      * safe), and the edge set is distinct so no pair cancels its duplicate.
      * The round map is deterministic, so an identical fingerprint means an
      * identical edge set from here on (collision odds ~2⁻⁶⁴ per round).
      */
    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    var prevFp = fingerprint(cur)
    var iter = 0
    var converged = false
    // rounds after the first are materialized via a LAZY local checkpoint:
    // the plan is truncated immediately (without truncation the round
    // plan doubles per iteration — cur appears twice in sym — and analysis
    // goes exponential), but the snapshot is only computed by the
    // fingerprint job itself, so each round costs ONE job instead of
    // checkpoint + a separate fingerprint job
    while (iter < maxIter && !converged) {
      // ---- large-star: every node u links its LARGER neighbors to the min
      // of its closed neighborhood. min is a map-side-partial hash aggregate
      // (no neighbor lists); each undirected edge contributes exactly one
      // emitted edge, so the set never grows.
      val sym = cur.union(cur.select($"v".as("u"), $"u".as("v")))
      val mins = sym.groupBy($"u").agg(min($"v").as("mn"))
        .select($"u", least($"mn", $"u").as("m"))
      // no distinct here: |ls| = |{(u,v) ∈ sym : v > u}| = |cur| either way
      // (dedup could only shrink it), every consumer is duplicate-insensitive
      // (mins2 is a min; ss ends in distinct), and dropping it removes one
      // full exchange of the edge set per round
      val ls = sym.join(mins, Seq("u"))
        .where($"v" > $"u")
        .select($"v".as("u"), $"m".as("v"))   // v > u ≥ m → stays (larger, smaller)
      // ---- small-star: every node u links its smaller neighbors (and
      // itself) to its min smaller neighbor; on (larger, smaller)-oriented
      // edges all neighbors in the group are smaller, so no `least` needed.
      val mins2 = ls.groupBy($"u").agg(min($"v").as("m"))
      val ss = ls.join(mins2, Seq("u"))
        .where($"v" =!= $"m")
        .select($"v".as("u"), $"m".as("v"))
        .union(mins2.select($"u", $"m".as("v")))
        .distinct()
      val next = Snapshot.take(ss, eager = false)
      val fp = fingerprint(next) // ONE job: materializes the lazy snapshot en route
      // fingerprint equality is necessary-but-probabilistic (a ~2⁻⁶⁴ XOR
      // collision would otherwise silently freeze WRONG labels); confirm
      // with an exact set comparison — counts are already equal inside the
      // fingerprint, so one-direction except suffices, and it runs only on
      // fingerprint-equal rounds (normally exactly once, at convergence)
      converged = fp == prevFp && next.except(cur).isEmpty
      prevFp = fp
      Snapshot.free(cur)
      cur = next
      iter += 1
    }
    if (!converged && iter >= maxIter)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter star rounds — raise maxIter")
    // converged state is a forest of stars: every non-root appears as the
    // larger endpoint pointing at its component's min id (groupBy-min is an
    // identity pass there — kept as a guard so a residual multi-edge could
    // never duplicate label rows). The vertex set is read from the FINAL
    // materialized snapshot, not from e0: both star rounds preserve the
    // endpoint set (large-star keeps every vertex as a larger endpoint or
    // as the min-target of its larger neighbors; small-star keeps every
    // left endpoint via its (u, m) row and every right endpoint as a
    // target), so the set is identical — and the (possibly expensive)
    // upstream edge pipeline, e.g. q62's full LSH-verify chain, is
    // evaluated ONCE instead of re-run for the label join.
    val vertices = cur.select($"u".as("id")).union(cur.select($"v".as("id"))).distinct()
    vertices
      .join(cur.groupBy($"u".as("id")).agg(min($"v").as("component")), Seq("id"), "left")
      .select($"id", coalesce($"component", $"id").as("component"))
  }

  /** Adds `canonical_key` = coalesce(alias component of `key`, `key`): the
    * same-content merge (exact, the reference's md5(lower(content))
    * identity) extended with an alias dictionary whose connected components
    * assign one canonical key per cluster. Only endpoints of the
    * lower-cased alias graph can map to another key, so with no aliases
    * there is no join, and otherwise the joined side is the component map
    * — sized by the alias dictionary, not the entity vocabulary — and AQE
    * picks the join strategy from its runtime size.
    *
    * @param key column of `df` to canonicalize (e.g. lower(content)); rows
    *   with a NULL key get a NULL canonical key
    * @param aliases DataFrame (alias, canonical) — may be empty
    */
  def withCanonicalKey(spark: SparkSession, df: DataFrame, key: Column,
                       aliases: Option[DataFrame]): DataFrame = aliases match {
    case None => df.withColumn("canonical_key", key)
    case Some(al) =>
      val comps = connectedComponents(spark,
        al.select(lower(col("alias")).as("src"), lower(col("canonical")).as("dst")))
      df.join(comps, key === comps("id"), "left")
        .select(df.columns.map(df(_)) :+ coalesce(comps("component"), key).as("canonical_key"): _*)
  }

  /** Canonical key of each distinct lower-cased node key.
    *
    * @param nodeKeys DataFrame with column `key` (e.g. lower(content))
    * @param aliases  DataFrame (alias, canonical) — may be empty
    * @return DataFrame (key, canonical_key)
    */
  def canonicalKeys(spark: SparkSession, nodeKeys: DataFrame, aliases: DataFrame): DataFrame =
    withCanonicalKey(spark, nodeKeys.select(lower(col("key")).as("key")).distinct(), col("key"), Some(aliases))
}
