package graft.tools

import graft.ops.{Blocking, Similarity}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage breakdown for q44 (hashed embeddings → hyperplane LSH → cosine).
  * Usage: runMain graft.tools.EmbedStageProbe [sfDir] [repeats]
  */
object EmbedStageProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val repeats = args.lift(1).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$dir/documents.parquet")

    def time(name: String)(f: => Long): Unit = {
      f
      val ts = (1 to repeats).map { _ =>
        val t0 = System.nanoTime(); val n = f; ((System.nanoTime() - t0) / 1e9, n)
      }
      println(f"$name%-26s min=${ts.map(_._1).min}%7.3f s  rows=${ts.head._2}  all=${ts.map(t => f"${t._1}%.3f").mkString(",")}")
    }

    time("hashedEmbeddings") { Similarity.hashedEmbeddings(docs).count() }
    val emb = Similarity.hashedEmbeddings(docs).localCheckpoint()
    time("lsh+verify(given emb)") {
      Similarity.cosineNearDupPairsScaled(emb, 0.95, planes = 12, tables = 4,
        idCol = "doc_id", embCol = "emb", dim = 64, maxBucket = 512).pairs.count()
    }
    time("q44_full") {
      Similarity.cosineNearDupPairsScaled(Similarity.hashedEmbeddings(docs), 0.95,
        planes = 12, tables = 4,
        idCol = "doc_id", embCol = "emb", dim = 64, maxBucket = 512).pairs.count()
    }

    // sub-stages over the prebuilt emb snapshot
    time("mat_checkpoint") {
      emb.select(col("doc_id").as("nid"), Similarity.asDouble(col("emb")).as("nemb"))
        .select(col("nid"), col("nemb"), Similarity.norm(col("nemb")).as("nnorm"))
        .localCheckpoint().count()
    }
    val mat = emb.select(col("doc_id").as("nid"), Similarity.asDouble(col("emb")).as("nemb"))
      .select(col("nid"), col("nemb"), Similarity.norm(col("nemb")).as("nnorm"))
      .localCheckpoint()
    val bucketCols = (0 until 4).map(t =>
      struct(lit(t).as("t"), Similarity.lshBucket(col("nemb"), 64, 12, t).as("b")).as(s"bk$t"))
    time("bucketRows_checkpoint") {
      mat.select(col("nid"), explode(array(bucketCols: _*)).as("bucket")).localCheckpoint().count()
    }
    val rows = mat.select(col("nid"), explode(array(bucketCols: _*)).as("bucket")).localCheckpoint()
    time("buckets_1table_agg") {
      mat.select(col("nid"), Similarity.lshBucket(col("nemb"), 64, 12, 0).as("b"))
        .agg(max(col("b"))).count()
    }
    time("buckets_4tables_agg") {
      mat.select((col("nid") +: (0 until 4).map(t =>
          Similarity.lshBucket(col("nemb"), 64, 12, t).as(s"b$t"))): _*)
        .agg(max(col("b0")), max(col("b1")), max(col("b2")), max(col("b3"))).count()
    }
    locally {
      import spark.implicits._
      val planes: Array[Array[Double]] = (0 until 48).map(j => Similarity.hyperplane(64, j)).toArray
      time("buckets_typed_map") {
        mat.select(col("nid"), col("nemb")).as[(Long, Seq[Double])]
          .mapPartitions { it =>
            it.flatMap { case (nid, emb) =>
              val e = emb.toArray
              (0 until 4).map { t =>
                var b = 0L
                var j = 0
                while (j < 12) {
                  val p = planes(t * 12 + j)
                  var s = 0.0
                  var i = 0
                  while (i < e.length) { s += e(i) * p(i); i += 1 }
                  if (s > 0) b |= (1L << j)
                  j += 1
                }
                (nid, t, b)
              }
            }
          }.toDF("nid", "t", "b").agg(max(col("b"))).count()
      }
    }
    time("explode_nockpt_agg") {
      mat.select(col("nid"), explode(array(bucketCols: _*)).as("bucket"))
        .agg(max(col("bucket.b"))).count()
    }
    time("namedcols_then_explode") {
      mat.select((col("nid") +: (0 until 4).map(t =>
          Similarity.lshBucket(col("nemb"), 64, 12, t).as(s"b$t"))): _*)
        .select(col("nid"), explode(array((0 until 4).map(t =>
          struct(lit(t).as("t"), col(s"b$t").as("b"))): _*)).as("bucket"))
        .agg(max(col("bucket.b"))).count()
    }
    time("namedcols_ckpt_explode") {
      mat.select((col("nid") +: (0 until 4).map(t =>
          Similarity.lshBucket(col("nemb"), 64, 12, t).as(s"b$t"))): _*)
        .localCheckpoint()
        .select(col("nid"), explode(array((0 until 4).map(t =>
          struct(lit(t).as("t"), col(s"b$t").as("b"))): _*)).as("bucket"))
        .agg(max(col("bucket.b"))).count()
    }
    time("bucketRows_persist") {
      val r = mat.select(col("nid"), explode(array(bucketCols: _*)).as("bucket")).persist()
      val n = r.count()
      r.unpersist(blocking = true)
      n
    }
    time("bucketRows_noop") {
      mat.select(col("nid"), explode(array(bucketCols: _*)).as("bucket"))
        .write.format("noop").mode("overwrite").save(); 0L
    }
    time("bucketRows_noop_nostruct") {
      mat.select((col("nid") +: (0 until 4).map(t =>
          Similarity.lshBucket(col("nemb"), 64, 12, t).as(s"b$t"))): _*)
        .write.format("noop").mode("overwrite").save(); 0L
    }
    time("candidates") {
      Blocking.pairs(rows, Seq("bucket"), struct(col("nid").as("id")), maxBucket = 512).count()
    }
    spark.stop()
  }
}
