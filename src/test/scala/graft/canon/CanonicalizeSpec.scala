package graft.canon

import graft.SparkSpec
import graft.graph.{Bfs, PageRank, ShortestPath}
import graft.ops.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.lit
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Connected-components canonicalization (J10): correctness vs a brute-force
  * union-find oracle, hub-skew shapes, and idempotence (north rule). Also
  * the snapshot discipline CC shares with the other iterative operators:
  * what each call leaves persisted, and correctness when queries share one
  * SparkContext.
  */
class CanonicalizeSpec extends SparkSpec {

  /** Driver-side union-find oracle. */
  private def unionFind(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // canonical = min member per component (matches hash-min propagation)
    val byRoot = ids.groupBy(find)
    byRoot.flatMap { case (_, members) =>
      val m = members.min
      members.map(_ -> m)
    }
  }

  private def runCC(edges: Seq[(String, String)]): Map[String, String] = {
    import spark.implicits._
    val df = edges.toDF("src", "dst")
    Canonicalize.connectedComponents(spark, df)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  test("CC matches union-find on a fixed graph with transitive chains") {
    val edges = Seq(
      "a" -> "b", "b" -> "c",           // chain
      "d" -> "e",                        // pair
      "f" -> "f2", "f2" -> "f3", "f3" -> "f", // cycle
      "x" -> "y")
    assert(runCC(edges) == unionFind(edges))
  }

  test("CC handles hub skew (star with 200 spokes + chains)") {
    val star = (1 to 200).map(i => "hub" -> f"spoke$i%03d")
    val chains = (1 to 20).map(i => f"spoke$i%03d" -> f"leaf$i%03d")
    val edges = star ++ chains
    val got = runCC(edges)
    assert(got == unionFind(edges))
    assert(got.values.toSet.size == 1) // all one component
    assert(got("leaf005") == "hub")    // min label is "hub"
  }

  test("CC matches union-find on random graphs (seeded property loop)") {
    val rnd = new scala.util.Random(20260816L)
    for (trial <- 1 to 8) {
      val n = 2 + rnd.nextInt(39)
      val m = 1 + rnd.nextInt(80)
      val edges = (1 to m).map { _ =>
        (f"v${rnd.nextInt(n)}%02d", f"v${rnd.nextInt(n)}%02d")
      }.filter(e => e._1 != e._2)
      if (edges.nonEmpty)
        assert(runCC(edges) == unionFind(edges), s"trial $trial failed on $edges")
    }
  }

  test("CC converges on a 1000-hop chain (O(log n) star rounds, not O(diameter))") {
    import spark.implicits._
    // hash-min label propagation needed one round per hop — 1000 hops blew
    // past maxIter=50 and silently returned unconverged labels; star
    // contraction closes this in ~log rounds
    val chain = (0 until 1000).map(i => (f"n$i%04d", f"n${i + 1}%04d"))
    val out = Canonicalize.connectedComponents(spark, chain.toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    assert(out.length == 1001)
    assert(out.forall(_._2 == "n0000"), s"unconverged labels: ${out.filter(_._2 != "n0000").take(5).toSeq}")
  }

  /** One call of each iterative operator on a seeded 120-node graph (and
    * 120 embedding vectors for IVF k-means). */
  private lazy val iterativeOps: Seq[(String, () => DataFrame)] = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val e = Seq.fill(160)((f"n${rnd.nextInt(120)}%03d", f"n${rnd.nextInt(120)}%03d",
      1L + rnd.nextInt(9))).toDF("src", "dst", "w")
    val vecs = (0 until 120).map { i =>
      (i.toLong, (0 until 8).map(j => (((i * 37 + j * 11) % 19) - 9) * 0.07f))
    }.toDF("vec_id", "embedding")
    Seq(
      "connectedComponents" -> (() => Canonicalize.connectedComponents(spark, e)),
      "pageRank" -> (() => PageRank.pageRank(spark, e, iters = 5, srcCol = "src", dstCol = "dst")),
      "khop" -> (() => Bfs.khop(spark, e, lit("n000"), k = 4)),
      "ssspBounded" -> (() => ShortestPath.ssspBounded(spark, e, lit("n000"), rounds = 4)),
      "trainIvfCentroids" -> (() => Similarity.trainIvfCentroids(vecs, centroids = 8, iters = 3)))
  }

  test("CC loop frees superseded edge checkpoints (<=2 live snapshots)") {
    // every iterative operator frees each snapshot a later one supersedes:
    // a call leaves exactly one persisted RDD, the snapshot its result reads
    val sc = spark.sparkContext
    for ((name, run) <- iterativeOps) {
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = run()
      out.collect()
      val left = sc.getPersistentRDDs.keySet.toSet -- before
      val behind = out.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet
      assert(left.size == 1 && left == behind,
        s"$name left persisted RDDs $left; its result reads $behind")
    }
  }

  test("iterative operators match their sequential results when 10 queries share one SparkContext") {
    // each operator frees only the snapshots it took, so concurrent calls
    // never free one another's
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    val expected = iterativeOps.map { case (name, run) => name -> rows(run()) }.toMap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2 * iterativeOps.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try for (round <- 1 to 3) {
      val calls = (iterativeOps ++ iterativeOps).map { case (name, run) =>
        Future(name -> rows(run()))
      }
      for ((name, got) <- Await.result(Future.sequence(calls), 10.minutes))
        assert(got == expected(name), s"round $round: $name differs from its sequential result")
    } finally pool.shutdown()
  }

  test("canonicalization is idempotent: canon(canon(x)) == canon(x)") {
    import spark.implicits._
    val aliases = Seq(
      ("intel", "intel corporation"), ("intel corp", "intel corporation"),
      ("google", "alphabet"), ("alphabet inc", "alphabet"))
      .toDF("alias", "canonical")
    val keys = Seq("intel", "intel corp", "intel corporation", "google",
      "alphabet", "alphabet inc", "unrelated co").toDF("key")
    val once = Canonicalize.canonicalKeys(spark, keys, aliases)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // apply again: feed canonical keys back through
    val keys2 = once.values.toSeq.distinct.toDF("key")
    val twice = Canonicalize.canonicalKeys(spark, keys2, aliases)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    for ((_, c) <- once) assert(twice(c) == c, s"canonical key $c not a fixed point")
    // transitive chain merged
    assert(once("intel") == once("intel corp") && once("intel") == once("intel corporation"))
    assert(once("unrelated co") == "unrelated co")
  }
}
