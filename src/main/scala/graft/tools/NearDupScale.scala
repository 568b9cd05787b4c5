package graft.tools

import graft.corpus.Corpus
import graft.ops.{NearDup, TextOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Near-dup scale probe: the LSH paths over an n-doc synthetic corpus
  * (10× the sf0.1 documents table by default) — proves the candidate path
  * stays near-linear where the all-pairs join would be quadratic.
  * With `exact`, applies the production discipline first (exact dedup, so
  * identical texts collapse to one canonical doc before LSH); with
  * `bucket=N`, caps candidate buckets (the mega-cluster guardrail).
  * Usage: runMain graft.tools.NearDupScale [nDocs] [exact] [bucket=N]
  */
object NearDupScale {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(50000L)
    val exactFirst = args.contains("exact")
    val maxBucket = args.collectFirst { case a if a.startsWith("bucket=") => a.drop(7).toInt }
      .getOrElse(Int.MaxValue)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val raw = Corpus.pages(spark, n, partitions = 128)
      .select(monotonically_increasing_id().as("doc_id"), $"text")
      .localCheckpoint()
    val docs =
      if (exactFirst) {
        val canonical = TextOps.exactDedup(raw)
          .where(!col("is_duplicate")).select(col("doc_id"))
          .join(raw, Seq("doc_id")).localCheckpoint()
        println(s"docs=$n canonical=${canonical.count()}")
        canonical
      } else raw
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$name%-22s ${(System.nanoTime() - t0) / 1e9}%7.2f s  rows=$r")
    }
    time("minhash")(NearDup.minhashSignatures(docs).count())
    time("lsh_candidates")(NearDup.lshCandidatePairs(docs, maxBucket = maxBucket).count())
    time("lsh_verified")(NearDup.lshVerifiedPairs(docs, 0.8, maxBucket = maxBucket).count())
    spark.stop()
  }
}
