package perfbench

import java.nio.file.Paths

/** Entry point of one benchmark run (launched by perfbench/run.py).
  *
  * Args: --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *       --root <repository root> --work <per-run work directory>
  *
  * Prints one line per measured metric, then, as the last line, one JSON
  * object with the metrics BENCHMARK.json lists (end-to-end ones, or with
  * --trace 1 the per-layer ones; a layer the workload does not reach reads
  * 0). Exits 1 if any output check or timed operation failed.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      Paths.get(kv("root")), Paths.get(kv("work")))
    val (endToEndNames, perLayerNames) = Expected.metricNames(o.root)
    val out = o.workload match {
      case "query_suite" => QuerySuite.run(o)
      case w if KgBench.Pages.contains(w) => KgBench.run(o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    out.endToEnd.foreach(Harness.report)
    out.perLayer.foreach(Harness.report)
    val c = out.checks
    println(f"metric error_rate ${c.failed.toDouble / c.attempted}%.6f (${c.failed} failed of ${c.attempted} runs, queries and checks)")

    val measured = (out.endToEnd ++ out.perLayer).map(m => m.name -> m).toMap
    val wanted = if (o.trace) perLayerNames else endToEndNames
    val unreached = wanted.filterNot(w => measured.contains(w._1)).map(_._1)
    if (unreached.nonEmpty) println(s"not reached by ${o.workload} (reported as 0): ${unreached.mkString(" ")}")
    val json = wanted.map { case (name, unit) =>
      val v = measured.get(name) match {
        case Some(m) =>
          require(m.unit == unit, s"metric $name measured in ${m.unit}, BENCHMARK.json says $unit")
          m.value
        case None =>
          require(o.trace, s"end-to-end metric $name was not measured")
          0.0
      }
      require(!v.isNaN && !v.isInfinite, s"metric $name is $v")
      s""""$name":{"value":$v,"unit":"$unit"}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":${c.failed == 0},"attempted":${c.attempted},"failed":${c.failed},"metrics":$json}""")
    System.exit(if (c.failed == 0) 0 else 1)
  }
}
