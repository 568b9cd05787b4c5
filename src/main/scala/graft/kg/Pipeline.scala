package graft.kg

import graft.analyze.DocAnalyze
import graft.canon.Canonicalize
import graft.model._
import graft.needs.Needs
import graft.text.PyText
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end KG-construction pipeline (SURVEY §3.1 Spark equivalent).
  *
  * pages → [extract → analyze → needs → graph-build] (ONE fused narrow
  * stage: per-document transforms are pure functions inside a single
  * mapPartitions, mirroring the reference's embarrassingly-parallel
  * per-document Lambda model) → one cached row per page holding only the
  * columns the tables write → nodes/edges/triples/metrics/lineage tables
  * as column expressions over that cache, each append scanning only its
  * own columns.
  *
  * Canonicalization joins the nodes against the alias components only
  * (connected components of the alias dictionary): a key outside the
  * alias graph is its own canonical key, so with no aliases there is no
  * join at all, and with aliases the joined side is sized by the alias
  * dictionary — AQE picks broadcast or shuffle from its runtime size. A
  * run into a directory without aliases or KB is six Spark jobs: one per
  * append, plus the metrics aggregate's shuffle stage; the first append
  * fills the cache.
  *
  * Contract: node `content` is never NULL (the builders copy it from the
  * entity text, a non-null string), so every node row gets a non-NULL
  * canonical_id.
  *
  * At 100 TB: the narrow stage scales linearly with input splits (no data
  * exchanged); the only wide ops are the per-partition metrics aggregate
  * and connected components over the alias dictionary; writes are
  * partitioned so downstream per-type queries prune.
  */
object Pipeline {

  /** The `nodes` table's per-node columns. */
  final case class NodeCols(node_id: String, content: String, node_type: String, confidence: Double,
                            source_file: String, temporal_index: String, temporal_category: String)

  /** The `edges` table's per-edge columns. */
  final case class EdgeCols(edge_id: String, source_node_id: String, target_node_id: String,
                            relationship_type: String, weight: Double, evidence: Seq[String],
                            reasoning: String, temporal_index: String, temporal_category: String)

  /** One mention per extracted raw entity (feeds optional entity linking). */
  final case class Mention(surface: String, entity_type: String, context: String)

  /** One page's output as cached by `run`: what the tables write, and no
    * more. `build_ms` is the page's analyze→build time, floored to ms;
    * `mentions` is empty unless entity linking was asked for.
    */
  final case class DocRow(url: String, customer_id: String, partition_id: Int, build_ms: Long,
                          nodes: Seq[NodeCols], edges: Seq[EdgeCols], triples: Seq[Triple],
                          mentions: Seq[Mention])

  /** The fused per-document transform — SURVEY §3.2's pure function.
    * `v1 = true` opts into the v1-builder extensions (J7 co-occurrence
    * edges + J9 confidence smoothing, see GraphBuildV1); `enricher` is the
    * §2.9 pluggable enrichment seam (no-op default).
    */
  def buildDoc(p: Page, v1: Boolean = false, enricher: Enricher = NoopEnricher,
               temporalIndex: String = ""): DocGraph =
    buildGraph(DocAnalyze.analyze(p), v1, enricher, temporalIndex)

  private def buildGraph(doc: DocAnalysis, v1: Boolean, enricher: Enricher,
                         temporalIndex: String): DocGraph = {
    val needs = Needs.profile(doc)
    if (v1) GraphBuildV1.buildV1(doc, needs, temporalIndex)
    else GraphBuild.build(doc, needs, enricher)
  }

  /** pages → Dataset[DocGraph]: the whole per-doc pipeline in one task. */
  def docGraphs(spark: SparkSession, pages: Dataset[Page], v1: Boolean = false,
                temporalIndex: String = ""): Dataset[DocGraph] = {
    import spark.implicits._
    pages.mapPartitions(_.map(p => buildDoc(p, v1, NoopEnricher, temporalIndex)))
  }

  /** One page → its table row; mentions (context = leading 400 chars of
    * the text) only when `withMentions`.
    */
  private def docRow(p: Page, partitionId: Int, v1: Boolean, enricher: Enricher,
                     temporalIndex: String, withMentions: Boolean): DocRow = {
    val t0 = System.nanoTime()
    val doc = DocAnalyze.analyze(p)
    val g = buildGraph(doc, v1, enricher, temporalIndex)
    val buildMs = (System.nanoTime() - t0) / 1000000L
    val mentions =
      if (!withMentions) Nil
      else { val ctx = doc.text.take(400); doc.entities.map(e => Mention(e.text, e.entityType, ctx)) }
    DocRow(g.url, g.customerId, partitionId, buildMs,
      g.nodes.map(n => NodeCols(n.id, n.content, n.nodeType, n.confidence, n.source,
        n.temporalIndex, n.temporalCategory)),
      g.edges.map(e => EdgeCols(e.id, e.srcId, e.dstId, e.edgeType, e.confidence, e.evidence,
        e.reasoning, e.temporalIndex, e.temporalCategory)),
      GraphBuild.triples(g), mentions)
  }

  /** pages → one DocRow per page, stamped with its partition id. The
    * enricher's open()/close() bracket each partition (warm-container
    * analog: one model/client init per task, not per document).
    */
  def docRows(spark: SparkSession, pages: Dataset[Page], v1: Boolean = false,
              enricher: Enricher = NoopEnricher, temporalIndex: String = "",
              withMentions: Boolean = false): Dataset[DocRow] = {
    import spark.implicits._
    pages.mapPartitions { it =>
      val tc = org.apache.spark.TaskContext.get()
      val pid = if (tc == null) 0 else tc.partitionId()
      enricher.open()
      if (tc != null) tc.addTaskCompletionListener[Unit](_ => enricher.close())
      it.map(p => docRow(p, pid, v1, enricher, temporalIndex, withMentions))
    }
  }

  final case class RunResult(
      nodes: DataFrame, edges: DataFrame, triples: DataFrame,
      metrics: DataFrame, lineage: DataFrame, linkMetrics: Option[DataFrame] = None)

  /** Full run. If outDir is non-empty, writes all tables (parquet, partitioned)
    * and supports resume: pages already present in `<outDir>/lineage` with
    * status=done are anti-joined away before processing (SURVEY §2.8).
    */
  def run(spark: SparkSession, pages: Dataset[Page], runId: String,
          outDir: String = "", resume: Boolean = false,
          aliases: Option[DataFrame] = None,
          kb: Option[DataFrame] = None,
          v1: Boolean = false,
          enricher: Enricher = NoopEnricher): RunResult = {
    import spark.implicits._

    val tio: graft.io.TableIO = new graft.io.ParquetTableIO(outDir)
    // Fresh-runId-per-attempt guard: committing a reused runId would make a
    // crashed attempt's orphan rows visible alongside this attempt's rows
    // (both share run_id) — silently breaking the no-duplication guarantee.
    // Resume safety comes from the lineage anti-join below, NOT from reusing
    // the id, so reuse is always a caller bug; fail fast with the reason.
    if (outDir.nonEmpty) {
      require(!tio.committedRuns().contains(runId),
        s"runId '$runId' is already committed — use a fresh runId per attempt (resume=true dedups)")
      if (tio.exists("lineage") &&
          !tio.read(spark, "lineage").where($"run_id" === runId).isEmpty)
        throw new IllegalStateException(
          s"runId '$runId' has uncommitted rows from a crashed attempt — use a fresh runId; " +
            "resume=true reprocesses those pages and readers keep filtering the orphans out")
    }
    val todo: Dataset[Page] =
      if (resume && outDir.nonEmpty && tio.exists("lineage")) {
        // only COMMITTED runs count as done — a run that crashed between its
        // data appends and its commit marker is invisible here, so its urls
        // are reprocessed and the orphan rows stay filtered out of reads
        val done = tio.readCommitted(spark, "lineage")
          .where($"status" === "done").select($"url").distinct()
        pages.join(done, Seq("url"), "left_anti").as[Page]
      } else pages

    // v1 temporal stamps use ONE write-time string for the whole run
    // (reference stamps each object's creation time; F18 makes timestamps
    // write-time-only and parity-excluded, so run start is the stamp)
    val temporalIndex = if (v1) java.time.Instant.now().toString else ""
    val rows = docRows(spark, todo, v1, enricher, temporalIndex, withMentions = kb.isDefined).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val runCol = lit(runId).as("run_id")

    // ---- flat node/edge/triple tables (narrow explodes)
    def perDoc(arr: String): DataFrame =
      rows.select($"customer_id", $"url", explode(col(arr)).as("x"))
        .select($"customer_id", $"url", $"x.*", runCol)
    val nodeRows = perDoc("nodes")
    val edgeRows = perDoc("edges")
    val tripleRows = rows.select(explode($"triples").as("t")).select($"t.*", runCol)

    // ---- canonicalization (J10): merge same-key entities across documents;
    // alias dictionary optional. Canonical id = persisted sha256 id of the
    // canonical key (graph_extraction_agent.py:510-519 pattern).
    val canonNodes = Canonicalize.withCanonicalKey(spark, nodeRows, lower($"content"), aliases)
      .withColumn("canonical_id", concat(lit("canon_"), substring(sha2($"canonical_key", 256), 1, 16)))
      .drop("canonical_key")

    // ---- per-partition metrics + lineage (north rule: docs processed,
    // triples emitted — one per edge — and durations; link-score
    // distribution below)
    val edgesEmitted = sum(size($"edges"))
    val metrics = rows.groupBy($"partition_id")
      .agg(count(lit(1)).as("docs_processed"), sum(size($"nodes")).as("nodes_emitted"),
        edgesEmitted.as("edges_emitted"), edgesEmitted.as("triples_emitted"),
        sum($"build_ms").as("duration_ms"))
      .select(runCol, lit("graph_build").as("stage"), $"partition_id", $"docs_processed",
        $"nodes_emitted", $"edges_emitted", $"triples_emitted", $"duration_ms")

    val lineage = rows.select(runCol, $"partition_id", $"url", lit("done").as("status"))

    // ---- optional entity-linking stage: alias-KB broadcast join + context
    // scoring; per-partition link-score histogram (north-rule metric)
    val linkMetrics = kb.map { kbDf =>
      val mentionRows = rows.select($"url", $"partition_id", posexplode($"mentions"))
        .select(concat($"url", lit("#"), $"pos".cast("string")).as("mention_id"), $"url",
          $"col.surface", $"col.entity_type", $"col.context", $"partition_id")
      val linked = graft.link.EntityLink.link(mentionRows, kbDf)
      linked.groupBy($"partition_id",
        when($"link_score".isNull, lit("unlinked"))
          .otherwise(format_string("%.1f", floor($"link_score" * 10) / 10)).as("score_bucket"))
        .agg(count(lit(1)).as("n"))
        .withColumn("run_id", lit(runId))
    }

    if (outDir.nonEmpty) {
      // all writes go through the TableIO seam (Iceberg-ready, SURVEY §7.0);
      // the terminal commit marker makes the whole run visible atomically
      tio.append(canonNodes, "nodes", Seq("node_type"))
      tio.append(edgeRows, "edges")
      tio.append(tripleRows, "triples")
      tio.append(metrics, "metrics")
      tio.append(lineage, "lineage")
      linkMetrics.foreach(tio.append(_, "link_metrics"))
      tio.commit(runId)
    }
    rows.unpersist()
    RunResult(canonNodes, edgeRows, tripleRows, metrics, lineage, linkMetrics)
  }

  /** Persisted-id helpers (F8 — graph_extraction_agent.py:510-531). */
  def persistedNodeId(customerId: String, nodeType: String, content: String): String =
    "node_" + PyText.sha256Hex(s"$customerId:$nodeType:$content").substring(0, 16)

  def persistedEdgeId(customerId: String, srcId: String, dstId: String, edgeType: String): String =
    "edge_" + PyText.sha256Hex(s"$customerId:$srcId:$dstId:$edgeType").substring(0, 16)
}
