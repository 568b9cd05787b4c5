package graft.kg

import graft.SparkSpec
import graft.corpus.Corpus

/** Test enricher (top-level so closure deserialization resolves back to this
  * JVM singleton and the open() counter is observable in local mode).
  */
object CountingEnricher extends Enricher {
  val opened = new java.util.concurrent.atomic.AtomicInteger
  override def open(): Unit = { opened.incrementAndGet(); () }
  override def enrichEntities(doc: graft.model.DocAnalysis,
                              base: Seq[graft.model.Entity]): Seq[graft.model.Entity] =
    Seq(
      graft.model.Entity("Enriched Topic", "concept", 0.9, "llm", "file_analysis", "", "topic", primary = false, 0.8),
      // duplicate (lower(text), type) of the injected one — dedup keeps max-confidence
      graft.model.Entity("enriched topic", "concept", 0.5, "llm", "file_analysis", "", "topic", primary = false, 0.8))
}

/** Pipeline-level behaviors: resume idempotence (north rule), lineage and
  * metrics consistency, canonical-id stability.
  */
class PipelineSpec extends SparkSpec {

  test("resume after partial run yields identical final tables, no duplicates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-resume").toString
    val all = Corpus.pages(spark, 120, partitions = 4)

    // full reference run into dirA
    val dirA = s"$dir/full"
    Pipeline.run(spark, all, "run1", dirA)
    val refTriples = spark.read.parquet(s"$dirA/triples")
      .select("url", "subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).sorted

    // simulated kill-after-partition-k: first run only processes half
    val dirB = s"$dir/resumed"
    val firstHalf = all.filter(_.url.hashCode % 2 == 0)
    Pipeline.run(spark, firstHalf, "run1", dirB)
    // resume with the FULL page set — lineage anti-join must skip done urls
    Pipeline.run(spark, all, "run2", dirB, resume = true)
    val gotTriples = spark.read.parquet(s"$dirB/triples")
      .select("url", "subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).sorted

    assert(gotTriples.toSeq == refTriples.toSeq)
    // no url processed twice in lineage
    val lineageDupes = spark.read.parquet(s"$dirB/lineage")
      .groupBy("url").count().where($"count" > 1).count()
    assert(lineageDupes == 0)
  }

  test("crash before commit marker: orphan rows invisible, resume reprocesses without duplicates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-crash").toString + "/t"
    val all = Corpus.pages(spark, 100, partitions = 4)

    // clean single run = the expected final state
    val ref = s"$dir-ref"
    Pipeline.run(spark, all, "r", ref)
    val tioRef = new graft.io.ParquetTableIO(ref)
    val want = tioRef.readCommitted(spark, "triples")
      .select("url", "subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).sorted.toSeq

    // run1 "crashes" after data+lineage appends but BEFORE the commit marker
    Pipeline.run(spark, all.filter(_.url.hashCode % 2 == 0), "run1", dir)
    val marker = java.nio.file.Paths.get(dir, "_commits", "run1")
    assert(java.nio.file.Files.deleteIfExists(marker)) // simulate the crash window
    val tio = new graft.io.ParquetTableIO(dir)
    assert(tio.committedRuns().isEmpty)

    // resume with the FULL set: run1's urls must be reprocessed (its lineage
    // is uncommitted) and committed reads must contain NO duplicates
    Pipeline.run(spark, all, "run2", dir, resume = true)
    val got = tio.readCommitted(spark, "triples")
      .select("url", "subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).sorted.toSeq
    assert(got == want)
    // raw table DOES contain run1 orphans — proving the filter is what saves us
    assert(tio.read(spark, "triples").count() > got.size)
  }

  test("enrichment seam (§2.9): no-op default is identity; a plugged enricher adds entities pre-dedup") {
    import spark.implicits._
    val pages = Corpus.pages(spark, 40, partitions = 2)
    def sorted(ts: org.apache.spark.sql.Dataset[graft.model.Triple]) =
      ts.collect().map(t => (t.url, t.subj, t.pred, t.obj, t.confidence)).sorted.toSeq

    // 1. explicit NoopEnricher ≡ the enricher-less path, byte-for-byte
    val base = sorted(Pipeline.docGraphs(spark, pages).flatMap(GraphBuild.triples(_)))
    val noop = sorted(Pipeline.docRows(spark, pages, enricher = NoopEnricher).flatMap(_.triples))
    assert(noop == base)

    // 2. a real enricher: one open() per partition, entities added BEFORE
    // dedup (an enriched duplicate of an existing entity must NOT double)
    CountingEnricher.opened.set(0)
    val enriched = Pipeline.docRows(spark, pages, enricher = CountingEnricher).collect()
    assert(CountingEnricher.opened.get() == 2)
    assert(enriched.forall(_.nodes.count(_.content.equalsIgnoreCase("enriched topic")) == 1))
    assert(enriched.forall(_.nodes.exists(n =>
      n.content == "Enriched Topic" && n.confidence == 0.9)))
  }

  test("no-alias run is at most six jobs with no join; alias join side is sized by the aliases") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.GraftTestBridge
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.functions.{array, explode, lower}
    def topJoin(p: LogicalPlan) = p.collectFirst { case j: Join => j }
    val pages = Corpus.pages(spark, 80, partitions = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs").toString

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    GraftTestBridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    val res = try {
      val r = Pipeline.run(spark, pages, "jobs", dir)
      GraftTestBridge.drainListeners(spark)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() <= 6, s"${jobs.get()} jobs")
    assert(topJoin(res.nodes.queryExecution.optimizedPlan).isEmpty,
      res.nodes.queryExecution.optimizedPlan.toString)

    val aliases = Seq(("Intel", "Intel Corporation"), ("INTEL", "intel corp"), ("Growth", "growth"))
      .toDF("alias", "canonical")
    val endpoints = aliases.select(explode(array(lower($"alias"), lower($"canonical"))))
      .distinct().count()
    val withAliases = Pipeline.run(spark, pages, "jobs-alias", "", aliases = Some(aliases))
    val join = topJoin(withAliases.nodes.queryExecution.optimizedPlan)
    assert(join.nonEmpty)
    assert(GraftTestBridge.rowCount(spark, join.get.right) <= endpoints)
    assert(withAliases.nodes.count() == res.nodes.count())
  }

  test("a no-alias run leaves no persisted RDD behind") {
    val sc = spark.sparkContext
    // compare ids, not counts: the context cleaner may free an earlier
    // suite's garbage-collected RDD while the run is in flight
    val before = sc.getPersistentRDDs.keySet.toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-persist").toString
    Pipeline.run(spark, Corpus.pages(spark, 40, partitions = 2), "persist", dir)
    val added = sc.getPersistentRDDs.keySet.toSet -- before
    assert(added.isEmpty, added.flatMap(sc.getPersistentRDDs.get).mkString(", "))
  }

  test("table and RunResult schemas: names, order and types") {
    import spark.implicits._
    def cols(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.schema.fields.toSeq.map(f => s"${f.name}:${f.dataType.simpleString}")
    val nodes = Seq("customer_id:string", "url:string", "node_id:string", "content:string",
      "node_type:string", "confidence:double", "source_file:string", "temporal_index:string",
      "temporal_category:string", "run_id:string", "canonical_id:string")
    val edges = Seq("customer_id:string", "url:string", "edge_id:string", "source_node_id:string",
      "target_node_id:string", "relationship_type:string", "weight:double", "evidence:array<string>",
      "reasoning:string", "temporal_index:string", "temporal_category:string", "run_id:string")
    val triples = Seq("customer_id:string", "url:string", "subj:string", "pred:string", "obj:string",
      "confidence:double", "evidence:array<string>", "run_id:string")
    val metrics = Seq("run_id:string", "stage:string", "partition_id:int", "docs_processed:bigint",
      "nodes_emitted:bigint", "edges_emitted:bigint", "triples_emitted:bigint", "duration_ms:bigint")
    val lineage = Seq("run_id:string", "partition_id:int", "url:string", "status:string")
    val linkMetrics = Seq("partition_id:int", "score_bucket:string", "n:bigint", "run_id:string")

    val kb = Seq(("KB1", "Intel Corporation", Seq("Intel"), "chips manufacturing technology", 0.9))
      .toDF("entity_id", "canonical_name", "aliases", "profile", "prior")
    val dir = java.nio.file.Files.createTempDirectory("graft-schema").toString
    val res = Pipeline.run(spark, Corpus.pages(spark, 20, partitions = 2), "schema", dir, kb = Some(kb))
    assert(cols(res.nodes) == nodes)
    assert(cols(res.edges) == edges)
    assert(cols(res.triples) == triples)
    assert(cols(res.metrics) == metrics)
    assert(cols(res.lineage) == lineage)
    assert(cols(res.linkMetrics.get) == linkMetrics)

    // committed tables read back the same, except that the nodes partition
    // column (node_type) comes last
    val tio = new graft.io.ParquetTableIO(dir)
    assert(cols(tio.read(spark, "nodes")) == nodes.filterNot(_ == "node_type:string") :+ "node_type:string")
    assert(cols(tio.read(spark, "edges")) == edges)
    assert(cols(tio.read(spark, "triples")) == triples)
    assert(cols(tio.read(spark, "metrics")) == metrics)
    assert(cols(tio.read(spark, "lineage")) == lineage)
    assert(cols(tio.read(spark, "link_metrics")) == linkMetrics)
  }

  test("metrics rows account for every processed doc") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-metrics").toString
    Pipeline.run(spark, Corpus.pages(spark, 100, partitions = 4), "mrun", dir)
    val m = spark.read.parquet(s"$dir/metrics")
    val docs = m.agg(org.apache.spark.sql.functions.sum("docs_processed")).collect()(0).getLong(0)
    assert(docs == 100L)
    val nodesFromMetrics = m.agg(org.apache.spark.sql.functions.sum("nodes_emitted")).collect()(0).getLong(0)
    val nodesActual = spark.read.parquet(s"$dir/nodes").count()
    assert(nodesFromMetrics == nodesActual)
  }

  test("alias dictionary merges entity variants across documents (J10 + link)") {
    import spark.implicits._
    import graft.model.Page
    import graft.text.TextExtract
    def page(cid: String, name: String, body: String): Page =
      Page(s"https://x.org/customers/$cid/interview_$name.html",
        new java.sql.Timestamp(0L), TextExtract.wrapHtml(body, name), body, "en")
    val pages = Seq(
      page("10_a_b", "a", "Host One: Intel Corporation is big.\nGuest Two: yes."),
      page("11_c_d", "b", "Host One: Intel ships chips.\nGuest Two: indeed.")).toDS()
    val aliases = Seq(("Intel", "Intel Corporation")).toDF("alias", "canonical")
    val res = Pipeline.run(spark, pages, "arun", "", aliases = Some(aliases))
    val intelIds = res.nodes
      .where(org.apache.spark.sql.functions.lower($"content")
        .isin("intel", "intel corporation"))
      .select("canonical_id").distinct().collect()
    assert(intelIds.length == 1, s"expected one canonical id, got ${intelIds.mkString(",")}")
    // distinct surfaces keep distinct node ids but share the canonical id
    val nodeIds = res.nodes
      .where(org.apache.spark.sql.functions.lower($"content")
        .isin("intel", "intel corporation"))
      .select("node_id").distinct().count()
    assert(nodeIds == 2)
  }

  test("per-partition metrics carry durations; kb stage emits link-score histogram") {
    import spark.implicits._
    val kb = Seq(
      ("KB1", "Intel Corporation", Seq("Intel"), "chips manufacturing technology", 0.9))
      .toDF("entity_id", "canonical_name", "aliases", "profile", "prior")
    val res = Pipeline.run(spark, Corpus.pages(spark, 100, partitions = 4), "lrun", "",
      kb = Some(kb))
    val m = res.metrics.collect()
    assert(m.nonEmpty && m.forall(_.getAs[Long]("duration_ms") >= 0))
    assert(m.map(_.getAs[Long]("triples_emitted")).sum > 0)
    val lm = res.linkMetrics.get.collect()
    val buckets = lm.map(_.getAs[String]("score_bucket")).toSet
    assert(buckets.contains("unlinked"))
    assert(buckets.exists(_ != "unlinked"), s"no linked mentions in $buckets") // hub 'Intel' links
    assert(lm.map(_.getAs[Long]("n")).sum > 0)
  }

  test("canonical ids merge same-content entities across documents") {
    import spark.implicits._
    val result = Pipeline.run(spark, Corpus.pages(spark, 150, partitions = 4), "crun", "")
    val nodes = result.nodes
    // every (lower(content)) maps to exactly one canonical_id
    val bad = nodes.groupBy(org.apache.spark.sql.functions.lower($"content"))
      .agg(org.apache.spark.sql.functions.countDistinct($"canonical_id").as("k"))
      .where($"k" > 1).count()
    assert(bad == 0)
    // and "Growth" (a need present in most docs) appears under one canonical id in many rows
    val growth = nodes.where($"content" === "Growth")
      .select($"canonical_id").distinct().count()
    assert(growth == 1)
  }
}
