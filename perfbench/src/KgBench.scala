package perfbench

import graft.analyze.DocAnalyze
import graft.corpus.{Corpus, SplitRng}
import graft.io.ParquetTableIO
import graft.kg.{GraphBuild, Pipeline}
import graft.model.Page
import graft.needs.Needs
import graft.text.{PyText, TextExtract}
import java.nio.file.{Files, Path}
import java.util.Locale
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

/** The three KG workloads: each timed unit is one `Pipeline.run` from
  * cached pages to committed nodes/edges/triples/metrics/lineage tables.
  *
  *  - kg_fresh: default `Corpus.genPage` pages into an empty directory.
  *  - kg_hub_link: `HubCorpus` pages with its alias dictionary and KB.
  *  - kg_resume: `resume = true` over all kg_fresh-style pages into a copy
  *    of a directory where a seed-chosen half is already committed.
  */
object KgBench {
  /** Pages per timed run, sized so one run takes a few seconds on 4 cores. */
  val Pages: Map[String, Int] = Map("kg_fresh" -> 8000, "kg_resume" -> 8000, "kg_hub_link" -> 1000)
  /** The parity fixture: the first 500 default pages of seed 42. */
  val FixtureSeed = 42L
  val FixturePages = 500
  val Partitions: Int = Harness.Cores * 4
  val MinSamples = 3
  /** Pages the single-threaded per-document layer timing runs over. */
  val PerDocPages = 2000

  final case class Input(pages: Seq[Page], aliases: Seq[(String, String)] = Nil,
                         kb: Seq[HubCorpus.KbEntity] = Nil)

  /** Order-independent digest of a set of triples: count and wrapping sum
    * of a 64-bit FNV-1a hash per triple.
    */
  final case class Digest(count: Long, sum: Long) {
    override def toString: String = f"$count triples, hash $sum%016x"
  }

  def fnv(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    h
  }

  def tripleHash(customer: String, url: String, subj: String, pred: String, obj: String,
                 confidence: Double, evidence: Seq[String]): Long =
    fnv(Seq(customer, url, subj, pred, obj, java.lang.Double.toString(confidence),
      evidence.mkString("\u0002")).mkString("\u0001"))

  def digest(hashes: Iterable[Long]): Digest = Digest(hashes.size.toLong, hashes.sum)

  /** Triples of `pages` computed by the public per-document functions
    * outside Spark, the reference every committed triples table must equal.
    */
  def referenceDigest(pages: Seq[Page]): Digest =
    digest(pages.par.flatMap { p =>
      GraphBuild.triples(Pipeline.buildDoc(p)).map(t =>
        tripleHash(t.customer_id, t.url, t.subj, t.pred, t.obj, t.confidence, t.evidence))
    }.seq)

  private def committed(spark: SparkSession, dir: Path, table: String): DataFrame =
    new ParquetTableIO(dir.toString).readCommitted(spark, table)

  def committedDigest(spark: SparkSession, dir: Path): Digest =
    digest(committed(spark, dir, "triples")
      .select("customer_id", "url", "subj", "pred", "obj", "confidence", "evidence").collect()
      .map(r => tripleHash(r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4), r.getDouble(5), Option(r.getSeq[String](6)).getOrElse(Nil))))

  /** Triple precision and recall of the committed fixture run against
    * test-oracle/expected_500.jsonl, normalised as ParitySpec does
    * (lower-cased subject and object, confidence rounded to 1e-6).
    */
  def parity(spark: SparkSession, dir: Path, root: Path): (Double, Double) = {
    def norm(s: String, p: String, o: String, c: Double) =
      (s.toLowerCase, p, o.toLowerCase, math.rint(c * 1e6) / 1e6)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val expected = Files.readAllLines(root.resolve("test-oracle/expected_500.jsonl")).asScala
      .filter(_.nonEmpty).map { line =>
        val n = mapper.readTree(line)
        n.get("url").asText() -> n.get("triples").elements().asScala.map(x => norm(x.get("subj").asText(),
          x.get("pred").asText(), x.get("obj").asText(), x.get("confidence").asDouble())).toSet
      }.toMap
    val got = committed(spark, dir, "triples").select("url", "subj", "pred", "obj", "confidence").collect()
      .groupBy(_.getString(0)).map { case (u, rs) =>
        u -> rs.map(r => norm(r.getString(1), r.getString(2), r.getString(3), r.getDouble(4))).toSet
      }
    var tp, fp, fn = 0L
    (expected.keySet ++ got.keySet).foreach { u =>
      val e = expected.getOrElse(u, Set.empty)
      val g = got.getOrElse(u, Set.empty)
      tp += (e intersect g).size; fp += (g -- e).size; fn += (e -- g).size
    }
    (tp.toDouble / math.max(1L, tp + fp), tp.toDouble / math.max(1L, tp + fn))
  }

  /** Spark's EntityLink.normKey on the JVM: lower, trim, collapse spaces. */
  private def normKey(s: String): String = s.trim.toLowerCase(Locale.ROOT).replaceAll("\\s+", " ")

  /** Connected components of the lower-cased alias graph, labelled by their
    * smallest member, as Canonicalize.canonicalKeys defines them.
    */
  def aliasComponents(aliases: Seq[(String, String)]): Map[String, String] = {
    val parent = mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    aliases.map { case (a, c) => (a.toLowerCase(Locale.ROOT), c.toLowerCase(Locale.ROOT)) }
      .filter { case (a, c) => a != c }
      .foreach { case (a, c) => val (ra, rc) = (find(a), find(c)); if (ra != rc) parent(ra) = rc }
    val members = parent.keys.toSeq.groupBy(find)
    members.values.flatMap(ms => ms.map(_ -> ms.min)).toMap
  }

  def canonicalId(key: String): String = "canon_" + PyText.sha256Hex(key).substring(0, 16)

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }

  private def countFiles(dir: Path): Int =
    Files.walk(dir).iterator().asScala.count(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))

  def run(o: Opts): Outcome = {
    val checks = new Checks
    val n = Pages(o.workload)
    val hub = o.workload == "kg_hub_link"
    val resume = o.workload == "kg_resume"
    // inputs are generated from the seed before the session starts; the
    // engine receives only the generated pages (and the hub workload's
    // alias dictionary and KB)
    val setupIn =
      if (hub) { val h = HubCorpus.generate(o.seed, FixturePages); Input(h.pages, h.aliases, h.kb) }
      else Input((0 until FixturePages).map(i => Corpus.genPage(i, FixtureSeed)))
    val in =
      if (hub) { val h = HubCorpus.generate(o.seed, n); Input(h.pages, h.aliases, h.kb) }
      else Input((0 until n).map(i => Corpus.genPage(i, o.seed)))

    // ---- set-up: session start plus the first (cold) run, timed on its own
    Harness.phase("set-up")
    val (spark, sessionS) = Harness.timed(Harness.session(o))
    import spark.implicits._
    var runs = 0
    def dataset(pages: Seq[Page], cache: Boolean): Dataset[Page] = {
      val ds = spark.createDataset(spark.sparkContext.parallelize(pages, Partitions))
      if (cache) { val c = ds.persist(); c.count(); c } else ds
    }
    def frames(input: Input): (Option[DataFrame], Option[DataFrame]) = (
      if (input.aliases.isEmpty) None else Some(input.aliases.toDF("alias", "canonical")),
      if (input.kb.isEmpty) None else Some(spark.createDataFrame(input.kb)))
    val inFrames = frames(in)
    def pipeline(pages: Dataset[Page], dir: Path, resumeRun: Boolean,
                 side: (Option[DataFrame], Option[DataFrame]) = inFrames): (String, Double) = {
      runs += 1
      // a fresh runId per attempt: the commit protocol refuses reuse
      val runId = s"pb${runs}_${System.currentTimeMillis()}"
      val (_, s) = Harness.timed(Pipeline.run(spark, pages, runId, dir.toString, resume = resumeRun,
        aliases = side._1, kb = side._2))
      (runId, s)
    }
    val setupDir = o.work.resolve("setup")
    val (_, coldS) = pipeline(dataset(setupIn.pages, cache = false), setupDir, resumeRun = false, frames(setupIn))
    val setupS = sessionS + coldS
    checks.operationOk()
    println(f"setup: session $sessionS%.3f s + first run $coldS%.3f s (${setupIn.pages.size} pages)")
    if (o.workload == "kg_fresh") {
      val (p, r) = parity(spark, setupDir, o.root)
      checks("parity_500", f"P=$p%.6f R=$r%.6f vs test-oracle/expected_500.jsonl")(p == 1.0 && r == 1.0)
    }

    // ---- untimed preparation: cached input and reference output
    Harness.phase("preparation")
    val pagesDs = dataset(in.pages, cache = true)
    val reference = referenceDigest(in.pages)
    // kg_resume commits the same pages as kg_fresh, so it shares its record
    val recorded = Expected.kg(o.root, if (hub) "kg_hub_link" else "kg_fresh", o.seed)
    println(s"reference: $reference; recorded for seed ${o.seed}: ${recorded.getOrElse("none")}")
    val template = o.work.resolve("template")
    if (resume) {
      val half = in.pages.zipWithIndex.collect {
        case (p, i) if new SplitRng(o.seed ^ 0x5eedL, i.toLong).nextInt(2) == 0 => p
      }
      pipeline(dataset(half, cache = false), template, resumeRun = false)
      println(s"resume template: ${half.size} of $n pages committed")
    }
    def prepare(dir: Path): Unit = if (resume) copyTree(template, dir)

    // ---- timed runs. A traced run alternates untraced and traced samples
    // (u t t u u t ...), so tracing overhead is measured at equal warmth.
    Harness.phase("timed runs")
    val sc = spark.sparkContext
    val rec = new Recorder
    val dirs = mutable.ArrayBuffer.empty[(Path, String)]
    val untraced, tracedWalls, persistedAfter = mutable.ArrayBuffer.empty[Double]
    val traces = mutable.ArrayBuffer.empty[RunTrace]
    def isTraced(i: Int) = o.trace && (i % 4 == 1 || i % 4 == 2)
    Harness.loop(o.seconds, if (o.trace) 2 * MinSamples else MinSamples) { i =>
      val dir = o.work.resolve(s"sample-$i")
      prepare(dir)
      val pre = sc.getPersistentRDDs.keySet.toSet
      if (isTraced(i)) sc.addSparkListener(rec)
      val t0 = System.currentTimeMillis()
      val (id, s) = pipeline(pagesDs, dir, resume)
      val t1 = System.currentTimeMillis()
      checks.operationOk()
      dirs += dir -> id
      if (isTraced(i)) {
        persistedAfter += (sc.getPersistentRDDs.size - pre.size).toDouble
        sc.removeSparkListener(rec)
        org.apache.spark.PerfbenchBus.drain(sc)
        traces += Trace.analyze(rec, id, t0, t1, Some(pre))
        tracedWalls += s
      } else untraced += s
      println(f"timed run $i${if (isTraced(i)) " (traced)" else ""}: $s%.3f s, ${n / s}%.1f docs/s")
      s
    }
    val walls = untraced.toSeq
    val heapMb = Harness.heapRetainedMb()

    // ---- output checks on every timed run's committed tables
    Harness.phase("output checks")
    val hubRef = if (hub) Some(hubReference(in)) else None
    dirs.foreach { case (dir, _) =>
      val name = dir.getFileName.toString
      val got = committedDigest(spark, dir)
      // the reference is what a fresh run commits (kg_fresh checks that on
      // every run), so on kg_resume this is the resume-equals-fresh check
      checks(s"triples_reference $name", s"$got")(got == reference)
      recorded.foreach(r => checks(s"triples_recorded $name", s"recorded $r")(got == r))
      if (resume) {
        val l = committed(spark, dir, "lineage").where($"status" === "done")
          .agg(count(lit(1)), countDistinct($"url")).head()
        checks(s"lineage_unique $name", s"${l.getLong(0)} rows, ${l.getLong(1)} urls, $n pages")(
          l.getLong(0) == n && l.getLong(1) == n)
      }
      hubRef.foreach { h =>
        val keys = committed(spark, dir, "nodes").select(lower($"content"), $"canonical_id").distinct().collect()
        val bad = keys.count(r => r.getString(1) != canonicalId(h.components.getOrElse(r.getString(0), r.getString(0))))
        checks(s"canonical_ids $name", s"${keys.length} keys, $bad wrong")(bad == 0)
        val lm = committed(spark, dir, "link_metrics")
          .agg(sum($"n"), sum(when($"score_bucket" === "unlinked", $"n").otherwise(0L))).head()
        checks(s"link_counts $name", s"mentions ${lm.getLong(0)}/${h.mentions}, unlinked ${lm.getLong(1)}/${h.unlinked}")(
          lm.getLong(0) == h.mentions && lm.getLong(1) == h.unlinked)
      }
    }

    val docsPerSec = walls.map(n / _)
    Harness.report(Metric("docs_per_sec", "1/s", docsPerSec))
    val endToEnd = Seq(
      Metric("throughput", "1/s", Seq(n / Stats.median(walls))),
      Metric("geomean_s", "s", Seq(Stats.geomean(walls))),
      Metric("setup_s", "s", Seq(setupS)),
      Metric("heap_retained_mb", "MB", Seq(heapMb)))

    val perLayer =
      if (!o.trace) Nil
      else perLayerMetrics(o, spark, in, n, walls, tracedWalls.toSeq, traces.toSeq, persistedAfter.toSeq, dirs.last, hubRef)
    spark.stop()
    Outcome(endToEnd, perLayer, checks)
  }

  /** Expected link and canonicalization outcome of the hub input. */
  final case class HubReference(components: Map[String, String], mentions: Long, unlinked: Long, candidates: Long)

  def hubReference(in: Input): HubReference = {
    val entities = in.kb.flatMap(e => (e.aliases :+ e.canonical_name).map(a => (normKey(a), e.entity_id))).distinct
    val perKey = entities.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val surfaces = in.pages.par.flatMap(p => DocAnalyze.analyze(p).entities.map(e => normKey(e.text))).seq
    HubReference(aliasComponents(in.aliases), surfaces.size.toLong,
      surfaces.count(s => !perKey.contains(s)).toLong, surfaces.map(perKey.getOrElse(_, 0L)).sum)
  }

  /** Per-layer metrics of a traced run: the traced samples' spans and
    * Spark numbers, counts read from the last run's committed tables, the
    * per-document layers timed by calling their public functions, and the
    * tracing overhead (traced over untraced wall of neighbouring runs).
    */
  private def perLayerMetrics(o: Opts, spark: SparkSession, in: Input, n: Int, untraced: Seq[Double],
                              traced: Seq[Double], traces: Seq[RunTrace], after: Seq[Double],
                              last: (Path, String), hubRef: Option[HubReference]): Seq[Metric] = {
    import spark.implicits._
    val (dir, id) = last
    def rows(table: String) = new ParquetTableIO(dir.toString).read(spark, table).where($"run_id" === id)
    val lm = if (hubRef.isDefined) rows("link_metrics")
      .agg(sum($"n"), sum(when($"score_bucket" === "unlinked", $"n").otherwise(0L))).head() else null
    val mentions = if (lm == null) 0.0 else lm.getLong(0).toDouble
    val lineageRows = rows("lineage").count()
    val fromOutput = Seq(
      ("kg.nodes_out", "count", rows("nodes").count().toDouble),
      ("kg.edges_out", "count", rows("edges").count().toDouble),
      ("kg.triples_out", "count", rows("triples").count().toDouble),
      ("canon.map_keys", "count", rows("nodes").select(lower($"content")).distinct().count().toDouble),
      ("link.mentions_in", "count", mentions),
      ("link.candidates", "count", hubRef.fold(0.0)(_.candidates.toDouble)),
      ("link.linked_ratio", "ratio", if (mentions > 0) 1.0 - lm.getLong(1) / mentions else 0.0),
      ("io.files_written", "count", (countFiles(dir) -
        (if (o.workload == "kg_resume") countFiles(o.work.resolve("template")) else 0)).toDouble),
      ("io.pages_skipped", "count", (n - lineageRows).toDouble),
      ("spark.persisted_rdds_after", "count", Stats.median(after)))

    val perDoc = PerDoc.measure(in.pages.take(PerDocPages))
    Trace.writeSpans(o, traces.flatMap(_.spans) ++ perDoc.spans)
    val overhead = Stats.pairedRatio(traced, untraced)
    println(f"tracing overhead: traced ${n / Stats.median(traced)}%.1f docs/s vs untraced " +
      f"${n / Stats.median(untraced)}%.1f docs/s (median ratio of neighbouring runs $overhead%.4f)")
    val t = traces.last
    val accounted = Trace.Layers.map(l => t.values(Trace.selfMetric(l))).sum + t.values("driver.gap_s")
    println(f"accounting (last traced run): layer self times + driver gap = $accounted%.3f s of ${t.values("run.wall_s")}%.3f s wall")
    t.self.toSeq.sortBy(-_._2).foreach { case (k, v) => println(f"  self $k%-22s $v%8.3f s") }

    val keys = traces.head.values.keys.toSeq.sorted
    keys.map(k => Metric(k, Trace.unit(k), traces.map(_.values(k)))) ++
      fromOutput.map { case (k, u, v) => Metric(k, u, Seq(v)) } ++
      perDoc.metrics ++
      Seq(Metric("trace.overhead_ratio", "ratio", Seq(overhead)))
  }
}

/** The per-document layers, timed single-threaded in this JVM by calling
  * their public functions over the workload's own pages; the median of
  * three passes is reported. DocAnalyze.analyze extracts the text itself,
  * so its self time is its time minus the extraction pass.
  */
object PerDoc {
  final case class Result(metrics: Seq[Metric], spans: Seq[Span])

  def measure(pages: Seq[Page], passes: Int = 3): Result = {
    val kdoc = pages.size / 1000.0
    val spans = mutable.ArrayBuffer.empty[Span]
    val samples = (0 until passes).map { pass =>
      val runId = s"perdoc-$pass"
      val root = spans.size
      val t0 = System.currentTimeMillis()
      spans += Span(root, "perdoc", t0, t0, -1, runId)
      def span[A](name: String)(f: => A): (A, Double) = {
        val s = System.currentTimeMillis()
        val (a, secs) = Harness.timed(f)
        spans += Span(spans.size, name, s, System.currentTimeMillis(), root, runId)
        (a, secs)
      }
      val (chars, text) = span("text.extract")(
        pages.map(p => TextExtract.frontMatterStrip(TextExtract.htmlToRaw(p.html)).length.toLong).sum)
      val (docs, analyze) = span("analyze")(pages.map(DocAnalyze.analyze))
      val (needs, profile) = span("needs")(docs.map(Needs.profile))
      val (triples, build) = span("kg.build")(
        docs.zip(needs).map { case (d, nd) => GraphBuild.triples(GraphBuild.build(d, nd)).size }.sum)
      spans(root) = spans(root).copy(end = System.currentTimeMillis())
      require(chars >= 0 && triples >= 0)
      (text, analyze - text, profile, build, docs.map(_.entities.size).sum.toDouble / pages.size)
    }
    Result(Seq(
      Metric("text.extract_ms_per_kdoc", "ms", samples.map(_._1 * 1e3 / kdoc)),
      Metric("analyze.ms_per_kdoc", "ms", samples.map(_._2 * 1e3 / kdoc)),
      Metric("analyze.entities_per_doc", "count", samples.map(_._5)),
      Metric("needs.ms_per_kdoc", "ms", samples.map(_._3 * 1e3 / kdoc)),
      Metric("kg.build_ms_per_kdoc", "ms", samples.map(_._4 * 1e3 / kdoc))), spans.toSeq)
  }
}
