package perfbench

/** One reported number. `samples` is the count it was computed from. */
final case class Metric(name: String, value: Double, unit: String, samples: Long)

/** A run's outcome: failure accounting, the metrics BENCHMARK.json names
  * for this mode, and `detail` — finer timings shown but not gated. */
final case class Report(outcomes: Outcomes, metrics: Seq[Metric],
    detail: Seq[Metric] = Nil, notes: Seq[String] = Nil) {
  def correct: Boolean = outcomes.failed == 0

  /** The result file run.py reads: the contract's four keys, plus the
    * sample counts and notes a reader of the file wants. */
  def json: String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    root.put("correct", correct)
    root.put("attempted", outcomes.attempted)
    root.put("failed", outcomes.failed)
    def put(o: com.fasterxml.jackson.databind.node.ObjectNode, xs: Seq[Metric]): Unit =
      xs.foreach { x =>
        val n = o.putObject(x.name)
        n.put("value", x.value)
        n.put("unit", x.unit)
      }
    put(root.putObject("metrics"), metrics)
    put(root.putObject("detail"), detail)
    val counts = root.putObject("samples")
    (metrics ++ detail).foreach(x => counts.put(x.name, x.samples))
    val fs = root.putArray("failures")
    outcomes.failures.take(50).foreach(fs.add)
    val ns = root.putArray("notes")
    notes.foreach(ns.add)
    m.writeValueAsString(root)
  }

  def table: String = {
    def line(x: Metric) = f"  ${x.name}%-36s ${x.value}%16.4f ${x.unit}%-6s n=${x.samples}"
    val fr = f"  failed_ratio ${outcomes.failedRatio}%.6f (${outcomes.failed} failed of ${outcomes.attempted} attempted)"
    (metrics.map(line) ++ (if (detail.isEmpty) Nil else "  detail:" +: detail.map(line)) ++
      (fr +: notes.map("  " + _))).mkString("\n")
  }
}

object Timing {
  /** The percentiles `ps` of a timing in ms, each only where enough
    * samples lie beyond it ([[Stats.percentile]]). */
  def metrics(name: String, s: Samples, ps: Double*): Seq[Metric] = {
    val xs = s.values
    ps.flatMap { p =>
      Stats.percentile(xs, p).map(v =>
        Metric(f"${name}_p${(p * 100).round}%d_ms", v, "ms", xs.length))
    }
  }
}
