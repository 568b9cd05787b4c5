package perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      root: Path, work: Path)

/** A measured quantity with every sample kept; reported as the median. */
final case class Metric(name: String, unit: String, samples: Seq[Double]) {
  require(samples.nonEmpty, s"metric $name has no samples")
  def value: Double = Stats.median(samples)
}

/** What a workload hands back to Main. */
final case class Outcome(endToEnd: Seq[Metric], perLayer: Seq[Metric], checks: Checks)

object Stats {
  /** Quantile with linear interpolation between order statistics. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Tracing overhead from the u t t u u t ... order: the k-th traced and
    * k-th untraced runs are neighbours, so the median of their ratios is
    * not skewed by the JIT warm-up trend.
    */
  def pairedRatio(traced: Seq[Double], untraced: Seq[Double]): Double =
    median(traced.zip(untraced).map { case (t, u) => t / u })
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** Output checks. A failing check is printed and counted, never thrown, so
  * one run reports every check.
  */
final class Checks {
  var attempted = 0
  var failed = 0

  def apply(name: String, detail: => String = "")(ok: => Boolean): Boolean = {
    attempted += 1
    val passed =
      try ok
      catch { case e: Exception => println(s"check $name threw $e"); false }
    if (!passed) failed += 1
    println(s"check $name: ${if (passed) "ok" else "FAILED"} ${detail}".trim)
    passed
  }

  /** A timed operation (a pipeline run or a query) that threw. */
  def operationFailed(name: String, e: Throwable): Unit = {
    attempted += 1
    failed += 1
    println(s"operation $name FAILED: $e")
  }

  def operationOk(): Unit = attempted += 1
}

object Harness {
  /** Cores of the local master; the benchmark's machine has 4. */
  val Cores = 4

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Prints how far into the JVM's life a phase of the run starts. */
  def phase(name: String): Unit = {
    val up = System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    println(f"[${up / 1e3}%6.1f s] $name")
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `sample(i)` until `budget` seconds of wall time have passed and at
    * least `min` samples exist; each call returns its own timed seconds
    * (untimed preparation inside it still counts against the budget).
    */
  def loop(budget: Double, min: Int)(sample: Int => Double): Seq[Double] = {
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (out.size < min || (System.nanoTime() - t0) / 1e9 < budget) out += sample(out.size)
    out.toSeq
  }

  /** JVM heap in use after a forced full GC, in MiB: the least of three
    * GC cycles, each after a pause in which Spark's ContextCleaner can drop
    * what the previous GC found unreachable.
    */
  def heapRetainedMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
    }.min
  }

  /** One line per metric: median, quartiles and sample count. */
  def report(m: Metric): Unit = {
    val q1 = Stats.quantile(m.samples, 0.25)
    val q3 = Stats.quantile(m.samples, 0.75)
    println(f"metric ${m.name}%-32s ${m.value}%14.6f ${m.unit}%-6s [q1 $q1%.6f, q3 $q3%.6f, n=${m.samples.size}]")
  }
}
