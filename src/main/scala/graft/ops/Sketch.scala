package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable HyperLogLog (Flajolet et al. 2007) built
  * from md5 — the approximate-distinct sketch for corpus statistics at
  * 100 TB (e.g. distinct spans per domain without a per-group exact
  * distinct). Spark's own `approx_count_distinct` is HLL++ with an
  * engine-private hash, so its estimates cannot be replayed by another
  * engine; this variant derives bucket and rank from md5 hex with pure
  * string/integer arithmetic, making the estimate bit-replayable in SQL —
  * the oracle checks the full estimator, not just plumbing.
  *
  * Register definition over h = md5(value) (hex):
  *   bucket = first 2 hex chars (m = 256 registers)
  *   rank ρ = leading-zero bits of the next 12 hex chars (48 bits) + 1;
  *            ρ = 49 when the field is all zeros. Computed EXACTLY via
  *            ltrim('0') + a 16-way nibble CASE — no floating point.
  * Estimator: raw = α·m²/Σ 2^−M_j (absent registers contribute 2⁰), with
  * the standard linear-counting correction below 2.5·m when any register
  * is empty. α = 0.7213/(1 + 1.079/m).
  *
  * Plan shape: one narrow hash projection, one (group, bucket) max
  * aggregation (≤ m rows per group — bounded, uniform), one per-group
  * reduction. Zero joins.
  */
object Sketch {

  val hllM: Int = 256

  /** ρ over the 12 hex chars after the bucket: 4·(leading '0' chars) +
    * nibble leading zeros + 1, all string/CASE ops (exact in any engine).
    */
  private def rho(hexTail: Column): Column = {
    val rest = ltrim(hexTail, "0")
    val nibbleLz = when(substring(rest, 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"), 0)
      .when(substring(rest, 1, 1).isin("4", "5", "6", "7"), 1)
      .when(substring(rest, 1, 1).isin("2", "3"), 2)
      .otherwise(3) // '1'
    when(length(rest) === 0, lit(49))
      .otherwise((lit(12) - length(rest)) * 4 + nibbleLz + 1)
      .cast("int")
  }

  /** Per-group HLL distinct estimate of `valueCol`, with the exact distinct
    * count alongside (the exact pass is for small-scale verification — at
    * 100 TB you'd drop it and keep only the sketch).
    * Output: (group, n_exact, n_registers, hll_estimate). NULL values are
    * ignored, as by count(DISTINCT): a group whose values are all NULL
    * reports n_exact = n_registers = 0 and a NULL estimate.
    */
  def hllDistinct(rows: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    // ONE scan of the (possibly expensive — tokenize/explode) input: the
    // distinct (grp, value) pairs feed BOTH the registers (md5 once per
    // distinct pair instead of per occurrence; max is duplicate-insensitive
    // so registers are identical) and the exact count (count over the
    // distinct pairs ≡ the old per-group countDistinct).
    val d = rows.select(col(groupCol).as("grp"), col(valueCol).as("v"))
      .distinct().localCheckpoint()
    val est = estimateRegs(registersFromDistinct(d))
    val exact = d.groupBy(col("grp")).agg(count(col("v")).as("n_exact"))
    exact.join(est, Seq("grp"), "left")
      .select(col("grp").as(groupCol), col("n_exact"),
        coalesce(col("n_registers"), lit(0L)).as("n_registers"),
        col("hll_estimate"))
  }

  /** (grp, bucket, mx) register rows from DISTINCT (grp, v) pairs; a NULL
    * value sets no register. */
  private def registersFromDistinct(d: DataFrame): DataFrame =
    d.where(col("v").isNotNull).select(col("grp"), md5(col("v")).as("h"))
      .select(col("grp"), col("h"),
        conv(substring(col("h"), 1, 2), 16, 10).cast("int").as("bucket"),
        rho(substring(col("h"), 3, 12)).as("rho"))
      .groupBy(col("grp"), col("bucket")).agg(max(col("rho")).as("mx"))

  /** Estimator over (grp, bucket, mx) registers → (grp, n_registers,
    * hll_estimate) with the linear-counting small-range correction.
    */
  private def estimateRegs(regs: DataFrame): DataFrame = {
    val m = hllM
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    regs.groupBy(col("grp")).agg(
      count(lit(1)).as("n_registers"),
      sum(pow(lit(2.0), -col("mx"))).as("sum_present"))
      .select(col("grp"), col("n_registers"),
        (col("sum_present") + (lit(m) - col("n_registers")).cast("double")).as("sum_inv"),
        (lit(m) - col("n_registers")).cast("double").as("zeros"))
      .select(col("grp"), col("n_registers"),
        (lit(alpha * m.toDouble * m) / col("sum_inv")).as("raw"), col("zeros"))
      .select(col("grp"), col("n_registers"),
        round(when(col("raw") <= 2.5 * m && col("zeros") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("zeros")))
          .otherwise(col("raw")), 6).as("hll_estimate"))
  }

  /** Two-level HLL MERGE — the property that makes sketches worth carrying
    * at 100 TB: each shard computes its own m registers over its slice;
    * the global sketch is the BUCKETWISE MAX of shard registers, never a
    * re-scan of raw data (registers are a few hundred bytes per shard, so
    * a 1000-executor merge moves kilobytes). max is associative/
    * commutative, so merged registers are bit-identical to a single-pass
    * global sketch — the driver oracle computes THAT directly, making the
    * hash equality of the two paths the mergeability proof itself.
    * Output (one row): (n_shards, n_exact, n_registers, hll_estimate);
    * n_exact is the small-scale verification column.
    */
  def hllMergedDistinct(rows: DataFrame, shardCol: String, valueCol: String): DataFrame = {
    // same one-scan discipline as hllDistinct: distinct (shard, value)
    // pairs feed shard registers, the shard count, and the global exact
    // distinct (countDistinct over values of the distinct pairs)
    val d = rows.select(col(shardCol).as("grp"), col(valueCol).as("v"))
      .distinct().localCheckpoint()
    val shardRegs = registersFromDistinct(d)
    val merged = shardRegs.groupBy(col("bucket")).agg(max(col("mx")).as("mx"))
      .select(lit("all").as("grp"), col("bucket"), col("mx"))
    val est = estimateRegs(merged).select(col("n_registers"), col("hll_estimate"))
    val nShards = d.agg(countDistinct(col("grp")).as("n_shards"))
    val exact = d.agg(countDistinct(col("v")).as("n_exact"))
    nShards.crossJoin(exact).crossJoin(broadcast(est))
  }

  /** Deterministic, engine-portable Count-Min sketch (Cormode &
    * Muthukrishnan 2005) — [[hllDistinct]]'s frequency sibling: per-item
    * count estimates from d·w counters. Each of the d rows hashes
    * independently: bucket_r(v) = (first 2 hex chars of md5(v ':' r))
    * mod w; estimate(v) = min_r counter[r][bucket_r(v)] — ALWAYS ≥ the
    * true count (one-sided collision error), which the spec asserts.
    *
    * 100 TB shape: the sketch build is one narrow hash projection (d
    * synthetic rows per occurrence) + ONE (row, bucket) count aggregation
    * whose output is bounded at d·w rows REGARDLESS of input size — a
    * broadcastable corpus summary. The probe side broadcasts that tiny
    * counter table against the query items and takes a d-way min; the
    * exact-count column emitted here is small-scale verification (at
    * scale you keep only the sketch — that's the point).
    *
    * Output: the topK items by exact count (ties → item asc) as
    * (item, exact, cms_estimate).
    */
  def cmsHeavyHitters(rows: DataFrame, valueCol: String,
                      width: Int = 64, depth: Int = 4, topK: Int = 20): DataFrame = {
    def bucket(v: Column, r: Column): Column =
      conv(substring(md5(concat(v, lit(":"), r.cast("string"))), 1, 2), 16, 10)
        .cast("int") % width
    // ONE scan + ONE aggregation of the (possibly expensive) input: exact
    // per-item counts are vocabulary-bounded and feed BOTH the counter
    // build (d md5s per DISTINCT item, weighted by its count — cellwise
    // sum(count) ≡ the old per-occurrence count(*), with d× fewer rows and
    // occurrences/distinct-items× fewer md5s) and the top-K probe list.
    val counts = rows.groupBy(col(valueCol).as("item")).agg(count(lit(1)).as("exact"))
      .localCheckpoint()
    val counters = counts
      .select(col("item"), col("exact"), explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col("exact"), col("r"), bucket(col("item"), col("r")).as("bucket"))
      .groupBy("r", "bucket").agg(sum(col("exact")).as("c"))
    val top = counts.orderBy(col("exact").desc, col("item").asc).limit(topK)
    top
      .select(col("item"), col("exact"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col("item"), col("exact"), col("r"),
        bucket(col("item"), col("r")).as("bucket"))
      .join(broadcast(counters), Seq("r", "bucket"))
      .groupBy("item", "exact")
      .agg(min(col("c")).as("cms_estimate"))
  }

  /** Two-level Count-Min MERGE — [[hllMergedDistinct]]'s frequency
    * sibling: each shard builds its own d·w counter table over its slice;
    * the global sketch is the CELLWISE SUM of shard counters (sum is
    * associative/commutative, counters are exact longs), so merged
    * counters are identical to a single-pass global build — which is what
    * the driver oracle computes directly, making the hash equality the
    * merge proof. Probe estimates then ride the merged table exactly as
    * in [[cmsHeavyHitters]].
    * Output: (item, exact, cms_estimate, n_shards) for the topK items.
    */
  def cmsMergedHeavyHitters(rows: DataFrame, shardCol: String, valueCol: String,
                            width: Int = 64, depth: Int = 4, topK: Int = 20): DataFrame = {
    def bucket(v: Column, r: Column): Column =
      conv(substring(md5(concat(v, lit(":"), r.cast("string"))), 1, 2), 16, 10)
        .cast("int") % width
    // one-scan discipline (see cmsHeavyHitters): per-(shard, item) exact
    // counts are vocabulary-bounded and feed the shard counter build (d
    // md5s per distinct pair, cellwise sum(count) ≡ per-occurrence
    // count(*)), the shard count, and the global top-K probe list.
    val pairCounts = rows
      .groupBy(col(shardCol).as("shard"), col(valueCol).as("item"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val shardCounters = pairCounts
      .select(col("shard"), col("cnt"), explode(sequence(lit(0), lit(depth - 1))).as("r"),
        col("item"))
      .select(col("shard"), col("cnt"), col("r"), bucket(col("item"), col("r")).as("bucket"))
      .groupBy("shard", "r", "bucket").agg(sum(col("cnt")).as("c"))
    val merged = shardCounters.groupBy("r", "bucket").agg(sum(col("c")).as("c"))
    val nShards = pairCounts.agg(countDistinct(col("shard")).as("n_shards"))
    val top = pairCounts.groupBy("item").agg(sum(col("cnt")).as("exact"))
      .orderBy(col("exact").desc, col("item").asc).limit(topK)
    top
      .select(col("item"), col("exact"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col("item"), col("exact"), col("r"),
        bucket(col("item"), col("r")).as("bucket"))
      .join(broadcast(merged), Seq("r", "bucket"))
      .groupBy("item", "exact")
      .agg(min(col("c")).as("cms_estimate"))
      .crossJoin(broadcast(nShards))
  }

  /** Deterministic equi-width histogram quantiles — the percentile sibling
    * of [[hllDistinct]]/[[cmsHeavyHitters]]: per-group p50/p90/p99 from a
    * bounded, mergeable counter table. Spark's own `approx_percentile`
    * (Greenwald-Khanna) has engine-private internals, so its estimates are
    * not replayable by another engine; this sketch is pure arithmetic:
    *
    *   bucket(v) = min(⌊(v − lo)/(hi − lo)·B⌋, B−1) over GLOBAL [lo, hi]
    *   est(q)    = lo + b_q·(hi − lo)/B,  b_q = min bucket with cum ≥ q·n
    *
    * (est is the bucket's LOWER edge — error ≤ one bucket width.) Global
    * bounds (one 1-row broadcast agg) rather than per-group keep the
    * counter tables mergeable across groups/partitions/days — the property
    * that matters at 100 TB, where the (grp, bucket) table is bounded at
    * G·B rows regardless of input and the quantile extraction runs on that
    * tiny table (per-group window over ≤B rows).
    */
  def histogramQuantiles(rows: DataFrame, valueCol: String, groupCol: String,
                         buckets: Int = 256,
                         qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = rows.select(col(groupCol).as("grp"), col(valueCol).cast("double").as("v"))
    val bounds = v.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val counters = v.crossJoin(broadcast(bounds))
      .select(col("grp"),
        when(col("hi") === col("lo"), lit(0))
          .otherwise(least(floor((col("v") - col("lo")) / (col("hi") - col("lo")) * buckets),
            lit((buckets - 1).toLong)))
          .cast("int").as("bucket"))
      .groupBy("grp", "bucket").agg(count(lit(1)).as("c"))
    val cum = counters
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy("grp").orderBy("bucket")))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("grp")))
    val qAggs = qs.map { q =>
      min(when(col("cum").cast("double") >= lit(q) * col("n").cast("double"),
        col("bucket"))).as(s"b${(q * 100).round}")
    }
    val picked = cum.groupBy("grp", "n").agg(qAggs.head, qAggs.tail: _*)
    val estCols = qs.map { q =>
      val b = col(s"b${(q * 100).round}")
      round(col("lo") + b * (col("hi") - col("lo")) / buckets, 6)
        .as(s"p${(q * 100).round}")
    }
    picked.crossJoin(broadcast(bounds))
      .select(Seq(col("grp"), col("n")) ++ estCols: _*)
  }

  /** EXACT per-group quantiles — type-1 / inverse-CDF semantics: the value
    * at rank ceil(q·n) of the ascending sort. The exact counterpart of
    * [[histogramQuantiles]] (engine-portable where `percentile`/
    * `approx_percentile` internals are not): duplicates make the value at
    * a rank well-defined whatever the tie order, so the result is
    * engine-exact with no float accumulation at all.
    *
    * 100 TB shape: one hash-partitioned sort per group (the exactness
    * lower bound — this is the verification/finalize tool; the mergeable
    * sketch above is the streaming/pre-aggregation path) + one pivot
    * aggregate over rank hits.
    * Output: (group, n, p50, p90, p99).
    */
  def exactQuantiles(rows: DataFrame, valueCol: String, groupCol: String,
                     qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = rows.select(col(groupCol).as("grp"), col(valueCol).cast("double").as("v"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("v").asc)).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("grp"))))
    val aggs = qs.map(q =>
      min(when(col("rn") === ceil(lit(q) * col("n")), col("v"))).as(s"p${(q * 100).round}"))
    ranked.groupBy(col("grp"), col("n")).agg(aggs.head, aggs.tail: _*)
      .select(Seq(col("grp").as(groupCol), col("n")) ++
        qs.map(q => col(s"p${(q * 100).round}")): _*)
  }

  /** Deterministic Bloom-filter membership (Bloom 1970) — the set-sketch
    * completing the family: is this token in the blocklist, with one-sided
    * error (false POSITIVES possible, false negatives never)? k md5-derived
    * bit positions per value: pos_i(v) = (first 3 hex chars of
    * md5(v ':' i)) mod m.
    *
    * 100 TB shape: the build side collapses to ONE row holding ≤m set-bit
    * positions (sorted, distinct) — broadcast regardless of blocklist
    * cardinality; the probe is a narrow map (array_contains on the
    * broadcast array, no join, no shuffle). The exact `in_set` column
    * (broadcast left-semi shape via collected set) is small-scale
    * verification of the no-false-negatives contract.
    *
    * Output: one row per distinct probe value — (item, bloom_hit, in_set).
    */
  def bloomMembership(probe: DataFrame, probeCol: String,
                      block: DataFrame, blockCol: String,
                      m: Int = 512, k: Int = 3): DataFrame = {
    def pos(v: Column, i: Int): Column =
      conv(substring(md5(concat(v, lit(":"), lit(i))), 1, 3), 16, 10)
        .cast("int") % m
    // one distinct scan of the blocklist serves both the bit positions and
    // the exact verification set (set semantics make them equal)
    val b = block.select(col(blockCol).as("b")).distinct().localCheckpoint()
    val bits = b
      .select(explode(array((0 until k).map(i => pos(col("b"), i)): _*)).as("pos"))
      .agg(array_sort(collect_set(col("pos"))).as("bits"))
    val blockSet = b.agg(array_sort(collect_set(col("b"))).as("bset"))
    probe.select(col(probeCol).as("item")).distinct()
      .crossJoin(broadcast(bits))
      .crossJoin(broadcast(blockSet))
      .select(col("item"),
        (0 until k).map(i => array_contains(col("bits"), pos(col("item"), i)))
          .reduce(_ && _).as("bloom_hit"),
        array_contains(col("bset"), col("item")).as("in_set"))
  }

  /** Bloom-PREFILTERED semi-join — the runtime-filter pattern (what
    * Spark's own runtime row-group filters / DPP do, made explicit): cut
    * the probe side with a broadcast m-bit Bloom of the build keys — a
    * NARROW map that removes the bulk of non-matching rows BEFORE any
    * shuffle — then an exact semi-join clears the Bloom's false
    * positives. The result is EXACTLY the plain semi-join's (the driver
    * oracle runs that), but at scale the shuffle moves only
    * matches + fpRate·non-matches instead of the whole probe table.
    */
  def bloomSemiJoin(probe: DataFrame, probeCol: String,
                    build: DataFrame, buildCol: String,
                    m: Int = 512, k: Int = 3): DataFrame = {
    def pos(v: Column, i: Int): Column =
      conv(substring(md5(concat(v.cast("string"), lit(":"), lit(i))), 1, 3), 16, 10)
        .cast("int") % m
    // ONE distinct scan of the build side, materialized: the bit positions
    // of the distinct keys are exactly those of the raw keys (set
    // semantics), and the same snapshot serves the exact semi-join — the
    // build pipeline is no longer evaluated twice (and md5 runs per
    // distinct key, not per occurrence)
    val b = build.select(col(buildCol).as(probeCol)).distinct().localCheckpoint()
    val bits = b
      .select(explode(array((0 until k).map(i => pos(col(probeCol), i)): _*)).as("pos"))
      .agg(array_sort(collect_set(col("pos"))).as("bits"))
    probe.crossJoin(broadcast(bits))
      .where((0 until k).map(i => array_contains(col("bits"), pos(col(probeCol), i)))
        .reduce(_ && _))
      .drop("bits")
      .join(b, Seq(probeCol), "left_semi")
  }
}
