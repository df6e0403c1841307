package perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import graft.engine.QueryInput

/** `analytic`: TPC-H-shaped queries and a streamed SELECT over imported
  * sf0.1 tables. The traced run also runs the operator-library entries of
  * [[Pipelines.Entries]]. */
object AnalyticWorkload {
  val Clients = 2

  def setUp(spark: SparkSession, cfg: Config, name: String): Service = {
    val svc = new Service(spark, Service.freshRoot(cfg.work, name))
    Analytic.Tables.foreach { t =>
      svc.session.importParquet(svc.db, "main", t, cfg.sfDir.resolve(s"$t.parquet").toString)
    }
    svc
  }

  final class Runner(svc: Service, variants: Map[String, Analytic.Variant], out: Outcomes,
      hook: Hook = Hook.None) {
    val all, queries, streams, firstBatch = new Samples
    val byQuery = Analytic.queries.map(_ -> new Samples).toMap
    val statements, streamRows = new AtomicLong()
    /** End of the timed window; see [[Oltp.Runner.timedUntil]]. */
    @volatile var timedUntil = 0L
    private def timed = timedUntil > 0 && System.nanoTime() <= timedUntil

    private def input(name: String) =
      QueryInput("b", Analytic.Sql(name), variants(name).params)

    def run(client: Int, op: Op): Unit = hook.request { op match {
      case Op.Analytic(i) =>
        val name = Analytic.queries(i)
        val (status, e, ms) = hook.statement(name) {
          val t0 = System.nanoTime()
          val (s, e) = svc.client.query(svc.db, input(name))
          hook.returned(e.path("row_count").asLong(0))
          (s, e, (System.nanoTime() - t0) / 1e6)
        }
        if (out.check(s"${Analytic.Sql(name)} ${variants(name).params}") {
          Oltp.failure(status, e).orElse(Analytic.checkRows(e.path("rows"), variants(name).rows))
        } && timed) {
          queries.add(ms); byQuery(name).add(ms); all.add(ms); statements.incrementAndGet()
        }
      case Op.Stream =>
        val sums = new Analytic.StreamSums
        val (rows, first, err, ms) = hook.statement("stream") {
          val t0 = System.nanoTime()
          val (rows, first, err) = svc.client.stream(svc.db, input("stream"), sums.add)
          hook.returned(rows)
          (rows, first, err, (System.nanoTime() - t0) / 1e6)
        }
        if (out.check(s"${Analytic.Sql("stream")} ${variants("stream").params}") {
          err.orElse(sums.check(variants("stream").rows.head))
        } && timed) {
          streams.add(ms); all.add(ms); firstBatch.add(first)
          statements.incrementAndGet(); streamRows.addAndGet(rows)
        }
      case other => throw new IllegalArgumentException(s"not an analytic op: $other")
    }}
  }

  def run(cfg: Config, spark: SparkSession): Report = {
    val variants = Analytic.pick(Analytic.loadPins(cfg.benchDir.resolve("pins/analytic.json")), cfg.seed)
    if (cfg.trace) traced(cfg, spark, variants) else untraced(cfg, spark, variants)
  }

  /** Every statement once, untimed: JIT, page cache and checks. */
  private def warm(runner: Runner): Unit =
    (Analytic.queries.indices.map(Op.Analytic(_)) :+ Op.Stream).foreach(runner.run(0, _))

  private def untraced(cfg: Config, spark: SparkSession,
      variants: Map[String, Analytic.Variant]): Report = {
    val out = new Outcomes
    val ((svc, runner), setUpMetric, note) = Service.setUpRepeatedly { i =>
      val svc = setUp(spark, cfg, s"root-$i")
      val runner = new Runner(svc, variants, out)
      warm(runner)
      (svc, runner)
    }(_._1)
    runner.timedUntil = Oltp.deadlineIn(cfg.seconds)
    Oltp.drive(Clients, runner.timedUntil, c => Gen.stream(cfg.seed, cfg.workload, c), runner.run)
    svc.stop()
    Service.deleteTree(svc.root)
    val streamSecs = runner.streams.values.sum / 1e3
    val endToEnd = Seq(
      setUpMetric,
      Metric("throughput_ops_s", runner.statements.get.toDouble / cfg.seconds, "1/s", runner.statements.get)) ++
      // every analytic statement is a read: the JSON queries and the stream
      Timing.metrics("read", runner.all, 0.5)
    val detail = Timing.metrics("query", runner.queries, 0.5) ++
      Analytic.queries.flatMap(q => Timing.metrics(q, runner.byQuery(q), 0.5)) ++
      Timing.metrics("stream", runner.streams, 0.5) ++
      Seq(Metric("stream_rows_s", if (streamSecs > 0) runner.streamRows.get / streamSecs else 0.0,
        "1/s", runner.streams.count))
    Report(out, endToEnd, detail, Seq(note))
  }

  private def traced(cfg: Config, spark: SparkSession,
      variants: Map[String, Analytic.Variant]): Report = {
    val out = new Outcomes
    val svc = setUp(spark, cfg, "root-trace")
    val plain = new Runner(svc, variants, out)
    warm(plain)
    val t = new Traced(spark, svc)
    val runner = new Runner(svc, variants, out, t.hook)
    val until = Oltp.deadlineIn(cfg.seconds)
    Seq(plain, runner).foreach(_.timedUntil = until)
    t.loop(until, Gen.stream(cfg.seed, cfg.workload, 0), plain.run, runner.run)
    val q06 = QueryInput("probe", Analytic.Sql("q06"), variants("q06").params)
    val stream = QueryInput("probe", Analytic.Sql("stream"), variants("stream").params)
    val first = runner.firstBatch.values
    val layers = t.metrics(Analytic.Sql.values.toIndexedSeq.sorted, q06, stream, plain.all, runner.all) ++
      Seq(Metric("stream.first_batch_ms", if (first.isEmpty) 0.0 else Stats.median(first), "ms", first.length)) ++
      pipelines(spark, cfg.sfDir, cfg.benchDir, t.tracer, out)
    svc.stop()
    Service.deleteTree(svc.root)
    Report(out, Layers.complete(layers), Nil, t.finish(cfg))
  }

  /** Check each entry's output against its pin (untimed), then time one
    * pass into the noop sink. */
  def pipelines(spark: SparkSession, sfDir: Path, benchDir: Path, tracer: Tracer,
      out: Outcomes): Seq[Metric] = {
    val pins = Pipelines.loadPins(benchDir.resolve("pins/pipelines.tsv"))
    Pipelines.Entries.foreach { e =>
      out.check(s"pipeline entry $e") {
        val got = tracer.span(s"pipelines.check.$e") {
          Pipelines.fingerprint(graft.SparkEntry.queries(e)(spark, sfDir.toString))
        }
        if (pins.get(e).contains(got)) None else Some(s"rows, hash = $got, pinned ${pins.get(e)}")
      }
    }
    val times = Pipelines.Entries.map { e =>
      e -> tracer.span(s"pipelines.$e")(Pipelines.time(spark, e, sfDir.toString))
    }
    times.map { case (e, s) => Metric(s"pipelines.${e}_s", s, "s", 1) } :+
      Metric("pipelines.total_s", times.map(_._2).sum, "s", times.length)
  }
}
