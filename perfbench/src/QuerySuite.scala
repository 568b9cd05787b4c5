package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import scala.collection.mutable

/** The query_suite workload: headline queries through `SparkEntry.queries`
  * on the sf0.01 tables kept in perfbench/data (a copy of the five tables
  * these queries read from the generated test data; it is fixed, so the
  * seed only sets the order the queries run in). One timed unit is a pass
  * over the query set.
  *
  * The set is the headline queries that reach the operators the roadmap
  * will change: connected components from graft.canon (q62), entity
  * linking from graft.link (q38), BFS (q64), the prefix join (q73), the
  * bloom join (q89), the fused KG stage over the documents table with its
  * fan-out (q25), HyperLogLog (q56) and LSH banding (q17). All 70 headline
  * queries take about 33 s a pass on 4 cores even at sf0.01, which does not
  * fit one run.
  */
object QuerySuite {
  val Queries: Seq[String] = Seq("q62_neardup_clusters", "q38_entity_linking", "q64_khop",
    "q73_prefix_jaccard", "q89_bloom_join", "q25_kg_pipeline_triples", "q56_hll_distinct",
    "q17_lsh_candidates")
  val DataDir = "perfbench/data/sf0.01"
  val MinPasses = 3
  val SetupQuery = "q25_kg_pipeline_triples"

  /** Row count and an order-independent hash of a result: the sum of
    * xxhash64 over every row, with floating-point values rounded to 6
    * decimals so partial-sum order cannot change it.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    def norm(c: Column, t: org.apache.spark.sql.types.DataType): Column = t match {
      case DoubleType | FloatType => round(c, 6)
      case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x, 6))
      case _ => c
    }
    val cols = df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val r = df.agg(count(lit(1)), sum(xxhash64(cols.toSeq: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  def run(o: Opts): Outcome = {
    val checks = new Checks
    val dir = o.root.resolve(DataDir).toString
    val order = new scala.util.Random(o.seed).shuffle(Queries)
    def query(spark: SparkSession, q: String): DataFrame = SparkEntry.queries(q)(spark, dir)

    // ---- set-up: session start plus the first (cold) query, the same one
    // for every seed so set-up does not depend on the order
    val (spark, sessionS) = Harness.timed(Harness.session(o))
    val (_, coldS) = Harness.timed(query(spark, SetupQuery).count())
    val setupS = sessionS + coldS
    checks.operationOk()
    println(f"setup: session $sessionS%.3f s + first query $SetupQuery $coldS%.3f s")

    // ---- output checks; this pass also warms every query up
    order.foreach { q =>
      val (rows, hash) = fingerprint(query(spark, q))
      val want = Expected.query(o.root, q)
      checks(s"query $q", s"rows $rows hash $hash; recorded ${want.getOrElse("none")}")(want.contains(rows -> hash))
    }

    // ---- timed passes. A traced run alternates untraced and traced passes
    // (u t t u u t ...), so tracing overhead is measured at equal warmth.
    val sc = spark.sparkContext
    val rec = new Recorder
    val perQuery = mutable.LinkedHashMap(Queries.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val untraced, tracedPasses = mutable.ArrayBuffer.empty[Double]
    val traces = mutable.ArrayBuffer.empty[Seq[RunTrace]]
    def isTraced(i: Int) = o.trace && (i % 4 == 1 || i % 4 == 2)
    Harness.loop(o.seconds, if (o.trace) 2 * MinPasses else MinPasses) { i =>
      if (isTraced(i)) sc.addSparkListener(rec)
      val runs = order.map { q =>
        val t0 = System.currentTimeMillis()
        val s = try {
          val (_, s) = Harness.timed(query(spark, q).count())
          checks.operationOk()
          s
        } catch { case e: Exception => checks.operationFailed(q, e); 0.0 }
        (q, s, t0, System.currentTimeMillis())
      }
      val wall = runs.map(_._2).sum
      if (isTraced(i)) {
        sc.removeSparkListener(rec)
        org.apache.spark.PerfbenchBus.drain(sc)
        traces += runs.map { case (q, _, t0, t1) => Trace.analyze(rec, s"pass$i-$q", t0, t1, None) }
        tracedPasses += wall
      } else {
        untraced += wall
        runs.foreach { case (q, s, _, _) => perQuery(q) += s }
      }
      println(f"pass $i${if (isTraced(i)) " (traced)" else ""}: $wall%.3f s")
      wall
    }
    val heapMb = Harness.heapRetainedMb()
    val passes = untraced.toSeq
    val medians = Queries.map(q => q -> Stats.median(perQuery(q).toSeq))

    Harness.report(Metric("suite_s", "s", passes))
    Harness.report(Metric("query_geomean_s", "s", Seq(Stats.geomean(medians.map(_._2)))))
    val endToEnd = Seq(
      Metric("throughput", "1/s", Seq(Queries.size / Stats.median(passes))),
      Metric("geomean_s", "s", Seq(Stats.geomean(medians.map(_._2)))),
      Metric("setup_s", "s", Seq(setupS)),
      Metric("heap_retained_mb", "MB", Seq(heapMb)))

    val perLayer = if (!o.trace) Nil else {
      Trace.writeSpans(o, traces.flatten.flatMap(_.spans).toSeq)
      val overhead = Stats.pairedRatio(tracedPasses.toSeq, passes)
      println(f"tracing overhead: traced passes ${Stats.median(tracedPasses.toSeq)}%.3f s vs untraced " +
        f"${Stats.median(passes)}%.3f s (median ratio of neighbouring passes $overhead%.4f)")
      // counts and self times of each traced pass, summed over its queries
      val keys = traces.head.head.values.keys.toSeq.sorted
      keys.map(k => Metric(k, Trace.unit(k), traces.map(_.map(_.values(k)).sum).toSeq)) ++
        Seq(Metric("spark.persisted_rdds_after", "count", Seq(sc.getPersistentRDDs.size.toDouble)),
          Metric("trace.overhead_ratio", "ratio", Seq(overhead))) ++
        Queries.map(q => Metric(s"query.${q}_s", "s", perQuery(q).toSeq))
    }
    spark.stop()
    Outcome(endToEnd, perLayer, checks)
  }
}
