package perfbench

import org.apache.spark.sql.SparkSession
import graft.engine.{Param, QueryInput}

/** `oltp_read` and `oltp_mixed`: untimed set-up and checks around a timed
  * closed loop. */
object OltpWorkload {
  val Clients = 4

  def run(cfg: Config, spark: SparkSession): Report =
    if (cfg.trace) traced(cfg, spark) else untraced(cfg, spark)

  /** Transactions go to per-client ledgers, which only `oltp_mixed` has. */
  private def ledgers(cfg: Config) = if (cfg.workload == "oltp_mixed") Clients else 0

  private def finish(cfg: Config, spark: SparkSession, svc: Service,
      models: Map[String, KvModel], out: Outcomes): Unit = {
    Oltp.checkTotals(svc, models, out)
    svc.stop()
    if (cfg.workload == "oltp_mixed") Oltp.checkRestart(spark, svc, models, out)
  }

  private def untraced(cfg: Config, spark: SparkSession): Report = {
    val out = new Outcomes
    val ((svc, models, runner), setUpMetric, note) = Service.setUpRepeatedly { i =>
      val (svc, models) = Oltp.setUp(spark, cfg.work, s"root-$i", cfg.seed, ledgers(cfg))
      val runner = new Oltp.Runner(svc, models, out)
      Gen.warmUp(cfg.seed, cfg.workload, i).foreach(runner.run(0, _))
      (svc, models, runner)
    }(_._1)
    runner.timedUntil = Oltp.deadlineIn(cfg.seconds)
    Oltp.drive(Clients, runner.timedUntil, c => Gen.stream(cfg.seed, cfg.workload, c), runner.run)
    finish(cfg, spark, svc, models, out)
    Service.deleteTree(svc.root)

    val endToEnd = Seq(
      setUpMetric,
      Metric("throughput_ops_s", runner.statements.get.toDouble / cfg.seconds, "1/s", runner.statements.get)) ++
      Timing.metrics("read", runner.read, 0.5)
    val detail =
      Timing.metrics("read", runner.read, 0.9, 0.99) ++
      Timing.metrics("statement", runner.all, 0.5) ++
      Timing.metrics("range", runner.range, 0.5) ++
      Timing.metrics("insert", runner.insert, 0.5, 0.9) ++
      Timing.metrics("update", runner.update, 0.5) ++
      Timing.metrics("txn", runner.txn, 0.5)
    Report(out, endToEnd, detail, Seq(note))
  }

  /** One client; see [[Traced]]. */
  private def traced(cfg: Config, spark: SparkSession): Report = {
    val out = new Outcomes
    val (svc, models) = Oltp.setUp(spark, cfg.work, "root-trace", cfg.seed, ledgers(cfg))
    val plain = new Oltp.Runner(svc, models, out)
    Gen.warmUp(cfg.seed, cfg.workload, 1).foreach(plain.run(0, _))
    val t = new Traced(spark, svc)
    val runner = new Oltp.Runner(svc, models, out, t.hook)
    val until = Oltp.deadlineIn(cfg.seconds)
    Seq(plain, runner).foreach(_.timedUntil = until)
    t.loop(until, Gen.stream(cfg.seed, cfg.workload, 0), plain.run, runner.run)
    val userBytes = models.values.flatMap(_.all).map(r => r.k.length + r.v.length + 24L).sum
    val read = QueryInput("probe", Oltp.PointSql, Seq(Param.integer(1)))
    val texts = IndexedSeq(Oltp.PointSql, Oltp.RangeSql, Oltp.insertSql("kv"), Oltp.updateSql("kv"))
    val layers = t.metrics(texts, read, read, plain.all, runner.all) :+
      Metric("catalog.bytes_per_user_byte", Service.dirBytes(svc.root).toDouble / userBytes,
        "ratio", models.values.map(_.count).sum)
    finish(cfg, spark, svc, models, out)
    Service.deleteTree(svc.root)
    Report(out, Layers.complete(layers), Nil, t.finish(cfg))
  }
}
