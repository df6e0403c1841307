package perfbench

import org.apache.spark.sql.SparkSession
import graft.engine.QueryInput

/** The traced run every workload shares. One client alternates traced and
  * untraced requests, so the two halves see the same service state and
  * their latency difference is the tracing overhead. The per-layer
  * metrics come from the traced half and from the probes that follow. */
final class Traced(spark: SparkSession, svc: Service) {
  val counters = new SparkCounters
  spark.sparkContext.addSparkListener(counters)
  val tracer = new Tracer
  val hook = new TraceHook(spark, counters, tracer, svc)
  val probes = new Probes(spark, svc, tracer)
  private var loopMetrics: Seq[Metric] = Nil

  /** Run `stream` until `deadline`. Requests of each kind alternate
    * between `traced` (whose runner carries [[hook]]) and `plain`, first
    * one traced, so both halves get the same mix and every kind the run
    * reaches is traced at least once. */
  def loop(deadline: Long, stream: Iterator[Op], plain: (Int, Op) => Unit,
      traced: (Int, Op) => Unit): Unit = {
    val work0 = counters.snapshot
    val sampler = new probes.WriteQueueSampler
    val seen = scala.collection.mutable.Map[Class[_], Int]().withDefaultValue(0)
    Oltp.drive(1, deadline, _ => stream, (c, op) => {
      val k = op.getClass
      seen(k) += 1
      if (seen(k) % 2 == 1) traced(c, op) else plain(c, op)
    })
    val queue = sampler.stop()
    org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
    val work = counters.snapshot - work0
    loopMetrics = queue ++ hook.sparkMetrics ++ Seq(
      Metric("spark.task_cpu_s", work.cpuNs / 1e9, "s", work.tasks),
      Metric("spark.shuffle_bytes", work.shuffleBytes.toDouble, "bytes", work.tasks),
      Metric("spark.spill_bytes", work.spillBytes.toDouble, "bytes", work.tasks),
      Metric("spark.task_skew", counters.skew, "ratio", work.tasks))
  }

  /** The loop's metrics plus the probes every workload runs. `probe` is a
    * read of the workload's shape; `codecQuery` gives a response of the
    * workload's shape to encode. */
  def metrics(texts: IndexedSeq[String], probe: QueryInput, codecQuery: QueryInput,
      plainAll: Samples, tracedAll: Samples): Seq[Metric] =
    loopMetrics ++ Seq(
      probes.apiOverhead(probe), probes.authValidate(probe), probes.classify(texts),
      probes.authorize(texts), probes.metricsRecord(texts),
      Traced.overhead(plainAll, tracedAll)) ++ probes.codec(codecQuery)

  /** Write the spans next to the result file; returns the summary lines. */
  def finish(cfg: Config): Seq[String] = {
    tracer.write(cfg.result.resolveSibling(s"${cfg.workload}-seed${cfg.seed}-spans.jsonl"))
    tracer.summary.take(12).map { case (n, c, ms) =>
      f"span $n%-34s count $c%6d self $ms%10.1f ms" }
  }
}

object Traced {
  /** Median traced round trip minus median untraced round trip. */
  def overhead(untraced: Samples, traced: Samples): Metric = {
    val (u, t) = (untraced.values, traced.values)
    val v = if (u.isEmpty || t.isEmpty) 0.0 else Stats.median(t) - Stats.median(u)
    Metric("trace.overhead_ms", v, "ms", math.min(u.length, t.length))
  }
}
