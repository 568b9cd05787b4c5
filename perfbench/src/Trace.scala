package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** One traced interval in epoch milliseconds; `parent` is the enclosing
  * span's id, -1 for a root. Spans of one timed run share `runId`.
  */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, runId: String) {
  def json: String =
    s"""{"run_id":"$runId","id":$id,"name":"$name","start_ms":$start,"end_ms":$end,"parent":$parent}"""
}

/** An RDD of a recorded stage; `persisted` when it has a storage level. */
final case class Rdd(id: Int, name: String, persisted: Boolean)

/** Records Spark's own events (SQL executions, jobs, stages, tasks) from
  * outside the engine. Kept in memory; `Trace.analyze` turns the events of
  * one timed run into spans and per-layer numbers.
  */
final class Recorder extends SparkListener {
  final class Exec(val id: Long, val rootId: Long, val start: Long, val site: String,
                   val details: String, val plan: String) {
    var end: Long = -1L
    var finalPlan: String = plan
  }
  final class Job(val id: Int, val start: Long, val execId: Long, val site: String,
                  val stageIds: Seq[Int]) {
    var end: Long = -1L
  }
  final class Stage(val id: Int, val rdds: Seq[Rdd]) {
    var submitted = false
    var tasks, taskFailures = 0
    var taskMs, gcMs, shuffleWrite, spill, bytesOut = 0L
  }

  val execs = mutable.LinkedHashMap.empty[Long, Exec]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.HashMap.empty[Int, Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    e.stageInfos.foreach { si =>
      stages.getOrElseUpdate(si.stageId,
        new Stage(si.stageId, si.rddInfos.map(r => Rdd(r.id, r.name, r.storageLevel.isValid))))
    }
    jobs(e.jobId) = new Job(e.jobId, e.time, prop("spark.sql.execution.id").fold(-1L)(_.toLong),
      prop("callSite.short").getOrElse(""), e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(_.submitted = true)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (e.reason != Success) s.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.bytesOut += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = new Exec(s.executionId, s.rootExecutionId.getOrElse(s.executionId),
          s.time, s.description, s.details, s.physicalPlanDescription)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        execs.get(u.executionId).foreach(_.finalPlan = u.physicalPlanDescription)
      case x: SparkListenerSQLExecutionEnd =>
        execs.get(x.executionId).foreach(_.end = x.time)
      case _ =>
    }
  }
}

/** Spans and per-layer numbers of one traced run. Times in seconds. */
final case class RunTrace(spans: Seq[Span], self: Map[String, Double], values: Map[String, Double])

object Trace {
  /** Per-layer names reported by `analyze` (0 when the layer did no work). */
  val Layers: Seq[String] = Seq("kg", "canon", "link", "io", "other")
  val Tables: Seq[String] = Seq("nodes", "edges", "triples", "metrics", "lineage")

  /** The output path argument of an InsertIntoHadoopFsRelationCommand. */
  private val WriteArgs = """Arguments: file:([^,\s]+), (?:true|false),""".r

  /** Table a SQL execution appends to, from its plan. */
  def writeTable(plan: String): Option[String] =
    WriteArgs.findFirstMatchIn(plan).map(_.group(1).split('/').last)

  /** Layer of a SQL execution or a job outside one, from the engine call
    * site Spark records for it ("<action> at <File>.scala:<line>") and its
    * plan. Appends are `io.write.<table>` (the link_metrics append is where
    * the lazy link stage runs, so it is `link`); other parquet scans are
    * `io.read`; the remaining Pipeline.scala actions build the canonical
    * map (its checkpoint, its size count, the alias check).
    */
  def layerOf(site: String, plan: String): String = {
    val file = site.split(" at ").drop(1).lastOption.map(_.takeWhile(_ != ':')).getOrElse("")
    writeTable(plan) match {
      case Some("link_metrics") => "link"
      case Some(t) => s"io.write.$t"
      case None =>
        if (file == "Canonicalize.scala") "canon"
        else if (file == "EntityLink.scala") "link"
        else if (file == "TableIO.scala" || plan.contains("Scan parquet")) "io.read"
        else if (file == "Pipeline.scala") "canon"
        else "other"
    }
  }

  /** Per-layer metric holding a layer's summed self time. */
  def selfMetric(layer: String): String = layer match {
    case "canon" | "link" => s"$layer.wall_s"
    case l => s"$l.self_s"
  }

  /** Unit of a per-layer metric, from its name. */
  def unit(name: String): String =
    if (name.endsWith("_ms") || name.endsWith("ms_per_kdoc")) "ms"
    else if (name.endsWith("_s") || name.startsWith("io.write_s.")) "s"
    else if (name.endsWith("bytes") || name == "io.bytes_written") "bytes"
    else if (name.endsWith("_ratio") || name == "kg.core_util") "ratio"
    else "count"

  /** Name group a span's self time is reported under. */
  def group(name: String): String = name.takeWhile(_ != '.') match {
    case "run" => "driver"
    case g => g
  }

  /** Self time of every span: the part of its interval not covered by a
    * deeper span (the deepest active span owns each instant; among equally
    * deep overlapping spans the one started last).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int = if (s.parent < 0) 0 else 1 + depth(byId(s.parent))
    val d = spans.map(s => s.id -> depth(s)).toMap
    val bounds = spans.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val self = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    bounds.zip(bounds.drop(1)).foreach { case (a, b) =>
      val active = spans.filter(s => s.start <= a && s.end >= b)
      if (active.nonEmpty) {
        val owner = active.maxBy(s => (d(s.id), s.start))
        self(owner.id) += b - a
      }
    }
    spans.map(s => s.id -> self(s.id)).toMap
  }

  /** Writes spans as JSON lines under the build directory, next to the
    * per-run work directory, and returns the file.
    */
  def writeSpans(o: Opts, spans: Seq[Span]): java.nio.file.Path = {
    val dir = java.nio.file.Files.createDirectories(o.work.getParent.resolve("traces"))
    val f = dir.resolve(s"${o.workload}-seed${o.seed}.jsonl")
    java.nio.file.Files.write(f, spans.map(_.json).mkString("", "\n", "\n").getBytes("UTF-8"))
    println(s"spans: ${spans.size} written to $f")
    f
  }

  /** Builds the span tree of one run [t0, t1] (epoch ms): the run, its SQL
    * executions, their jobs, and the tail after the last job (commit). Jobs
    * are renamed where the call site alone would mislabel them:
    *  - `kg.narrow`: the job that first fills the Dataset cache created in
    *    this run (the fused per-document stage, `graphs` in Pipeline.run);
    *  - `kg.explode`: canon jobs that read that cache (node explode feeding
    *    the canonical map);
    *  - `io.read`: jobs of the same execution that run before kg.narrow
    *    (the resume anti-join's inputs).
    * `preRdds` are the persisted RDD ids that existed before a pipeline
    * run; None (a query) skips the kg renaming.
    */
  def analyze(rec: Recorder, runId: String, t0: Long, t1: Long, preRdds: Option[Set[Int]]): RunTrace =
    rec.synchronized {
      val execs = rec.execs.values.filter(e => e.start >= t0 && e.start <= t1).toSeq.sortBy(_.start)
      val jobs = rec.jobs.values.filter(j => j.start >= t0 && j.start <= t1).toSeq.sortBy(_.start)
      def stagesOf(j: rec.Job) = j.stageIds.flatMap(rec.stages.get)
      def reads(j: rec.Job, rdd: Int) = stagesOf(j).exists(_.rdds.exists(_.id == rdd))

      val cacheRdd = preRdds.flatMap(pre => jobs.iterator.flatMap(stagesOf).flatMap(_.rdds)
        .find(r => r.persisted && !pre(r.id) && !r.name.endsWith("RDD")).map(_.id))
      val narrow = cacheRdd.flatMap(id => jobs.find(reads(_, id)))

      val spans = mutable.ArrayBuffer.empty[Span]
      def add(name: String, s: Long, e: Long, parent: Int): Int = {
        val id = spans.size
        spans += Span(id, name, math.max(s, t0), math.min(if (e < 0) t1 else e, t1), parent, runId)
        id
      }
      val root = add("run", t0, t1, -1)
      val execLayer = execs.map(e => e.id -> layerOf(e.site, e.plan)).toMap
      val execSpan = mutable.Map.empty[Long, Int]
      execs.foreach { e =>
        val parent = if (e.rootId != e.id) execSpan.getOrElse(e.rootId, root) else root
        execSpan(e.id) = add(execLayer(e.id), e.start, e.end, parent)
      }
      val jobName = jobs.map { j =>
        val base = if (j.execId >= 0) execLayer.getOrElse(j.execId, "other") else layerOf(j.site, "")
        val name =
          if (narrow.contains(j)) "kg.narrow"
          else if (base == "canon" && cacheRdd.exists(reads(j, _))) "kg.explode"
          else if (narrow.exists(n => j.execId >= 0 && n.execId == j.execId && j.start < n.start)) "io.read"
          else base
        add(name, j.start, j.end, execSpan.getOrElse(j.execId, root))
        j -> name
      }.toMap
      val lastEnd = spans.drop(1).map(_.end).maxOption.getOrElse(t0)
      add("io.commit", lastEnd, t1, root)

      val selfMs = selfTimes(spans.toSeq)
      val self = spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => selfMs(s.id)).sum / 1e3 }
      def selfOf(n: String) = self.getOrElse(n, 0.0)

      val ran = jobs.flatMap(_.stageIds).distinct.flatMap(rec.stages.get).filter(_.submitted)
      def stagesNamed(p: String => Boolean) =
        jobs.filter(j => p(jobName(j))).flatMap(_.stageIds).distinct.flatMap(rec.stages.get).filter(_.submitted)
      val narrowWall = spans.find(_.name == "kg.narrow").fold(0.0)(s => (s.end - s.start) / 1e3)
      val narrowTask = stagesNamed(_ == "kg.narrow").map(_.taskMs).sum / 1e3
      val canonExecs = execs.filter(e => execLayer(e.id) == "canon")
      val nodesPlan = execs.find(e => execLayer(e.id) == "io.write.nodes").fold("")(_.finalPlan)
      val ccSite = (e: rec.Exec) => e.site.contains("at Canonicalize.scala")

      val values = Map(
        "spark.jobs_per_run" -> jobs.size.toDouble,
        "spark.stages" -> ran.size.toDouble,
        "spark.tasks" -> ran.map(_.tasks).sum.toDouble,
        "spark.shuffle_write_bytes" -> ran.map(_.shuffleWrite).sum.toDouble,
        "spark.spill_bytes" -> ran.map(_.spill).sum.toDouble,
        "spark.gc_s" -> ran.map(_.gcMs).sum / 1e3,
        "spark.task_failures" -> ran.map(_.taskFailures).sum.toDouble,
        "driver.gap_s" -> selfOf("run"),
        "run.wall_s" -> (t1 - t0) / 1e3,
        "kg.narrow_wall_s" -> narrowWall,
        "kg.narrow_task_s" -> narrowTask,
        "kg.core_util" -> (if (narrowWall > 0) narrowTask / (narrowWall * Harness.Cores) else 0.0),
        "canon.shuffle_bytes" -> stagesNamed(n => n == "canon" || n == "kg.explode").map(_.shuffleWrite).sum.toDouble,
        "canon.cc_jobs" -> jobs.count(j => execs.exists(e => e.id == j.execId && ccSite(e))).toDouble,
        // one fingerprint aggregate before the star-round loop, one per round
        "canon.cc_rounds" -> math.max(0, canonExecs.count(_.details.contains("fingerprint")) - 1).toDouble,
        "canon.join_broadcast" -> (if (nodesPlan.contains("BroadcastHashJoin")) 1.0 else 0.0),
        "canon.join_shuffle" ->
          (if (nodesPlan.contains("SortMergeJoin") || nodesPlan.contains("ShuffledHashJoin")) 1.0 else 0.0),
        "io.read_s" -> selfOf("io.read"),
        "io.commit_ms" -> selfOf("io.commit") * 1e3,
        "io.bytes_written" -> ran.map(_.bytesOut).sum.toDouble
      ) ++ Tables.map(t => s"io.write_s.$t" -> selfOf(s"io.write.$t")) ++
        Layers.map(l => selfMetric(l) -> self.filter(kv => group(kv._1) == l).values.sum)
      RunTrace(spans.toSeq, self, values)
    }
}
