package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.engine._

/** Per-layer metrics of the traced run. Every traced run reports all of
  * them; a layer a workload does not reach reads 0 with 0 samples. */
object Layers {
  /** Name and unit of every per-layer metric, in report order. */
  val Names: Seq[(String, String)] = Seq(
    "api.overhead_ms" -> "ms", "auth.validate_us" -> "us",
    "classify_us" -> "us", "authorize_ms" -> "ms",
    "plan_cache.hit_ratio" -> "ratio", "views.registrations_per_stmt" -> "count",
    "spark.jobs_per_read" -> "count", "spark.jobs_per_insert" -> "count",
    "spark.jobs_per_update" -> "count", "spark.jobs_per_commit" -> "count",
    "spark.tasks_per_stmt" -> "count", "spark.task_cpu_ms_per_stmt" -> "ms",
    "spark.scheduler_delay_ms" -> "ms", "spark.rows_read_per_row_returned" -> "ratio",
    "spark.task_cpu_s" -> "s", "spark.shuffle_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.task_skew" -> "ratio",
    "write_queue.wait_ms" -> "ms", "write_queue.depth" -> "count",
    "catalog.filesets_max" -> "count", "catalog.fileset_folds" -> "count",
    "catalog.bytes_per_user_byte" -> "ratio",
    "codec.json_us_per_row" -> "us", "codec.binary_us_per_row" -> "us",
    "stream.first_batch_ms" -> "ms", "metrics.record_us" -> "us",
    "trace.overhead_ms" -> "ms") ++
    Pipelines.Entries.map(e => s"pipelines.${e}_s" -> "s") :+ ("pipelines.total_s" -> "s")

  /** Fill the metrics a workload did not produce with 0 (0 samples), and
    * order them as [[Names]]. */
  def complete(ms: Seq[Metric]): Seq[Metric] = {
    val byName = ms.map(m => m.name -> m).toMap
    val unknown = byName.keySet -- Names.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics not in Layers.Names: $unknown")
    Names.map { case (n, u) => byName.getOrElse(n, Metric(n, 0.0, u, 0)) }
  }
}

/** The traced run's hook: a span per request and per statement, and the
  * Spark work, plan-cache, view and catalog changes each statement caused.
  * With one client in flight, those changes belong to that statement. */
final class TraceHook(spark: SparkSession, counters: SparkCounters,
    tracer: Tracer, svc: Service) extends Hook {
  private val perClass = mutable.Map[String, mutable.ArrayBuffer[SparkWork]]()
  // rows the read statements returned, and the input records they read;
  // `returned` marks the statement in flight as a read
  private var rowsReturned = 0L
  private var readInput = 0L
  private var isRead = false
  private var filesetsMax = 0
  private var folds = 0
  private val lastFilesets = mutable.Map[String, Int]()
  private def drain(): Unit = org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)

  override def request[A](f: => A): A = tracer.span("request")(f)

  private var cacheHits, cacheMisses, registrations = 0L

  override def statement[A](cls: String)(f: => A): A = {
    drain()
    val w0 = counters.snapshot
    val (h0, m0) = (svc.session.planCache.hits, svc.session.planCache.misses)
    val v0 = svc.session.viewRegistrations.get
    val r = tracer.span(s"http.$cls")(f)
    drain()
    val d = counters.snapshot - w0
    synchronized {
      perClass.getOrElseUpdate(cls, mutable.ArrayBuffer()) += d
      if (isRead) readInput += d.inputRecords
      isRead = false
      cacheHits += svc.session.planCache.hits - h0
      cacheMisses += svc.session.planCache.misses - m0
      registrations += svc.session.viewRegistrations.get - v0
      observeCatalog()
    }
    r
  }

  override def returned(rows: Long): Unit = synchronized { rowsReturned += rows; isRead = true }

  /** File-sets per table: the largest seen, and how often a table's count
    * fell — an UPDATE or DELETE rewrote the table, or auto-compaction
    * folded its file-sets. */
  private def observeCatalog(): Unit =
    svc.session.catalog.tableNames(svc.db, "main").foreach { t =>
      svc.session.catalog.currentVersion(svc.db, "main", t).foreach { v =>
        val n = v.paths.length
        filesetsMax = math.max(filesetsMax, n)
        if (lastFilesets.get(t).exists(_ > n)) folds += 1
        lastFilesets(t) = n
      }
    }

  /** Per-statement metrics of the traced statements so far. */
  def sparkMetrics: Seq[Metric] = synchronized {
    def jobs(name: String, cls: String) = {
      val xs = perClass.getOrElse(cls, Nil).map(_.jobs.toDouble).toSeq
      Metric(name, if (xs.isEmpty) 0.0 else Stats.median(xs), "count", xs.length)
    }
    val all = perClass.values.flatten.toSeq
    val n = all.length.max(1)
    val total = all.foldLeft(SparkWork())(_ + _)
    Seq(jobs("spark.jobs_per_read", "read"), jobs("spark.jobs_per_insert", "insert"),
      jobs("spark.jobs_per_update", "update"), jobs("spark.jobs_per_commit", "commit"),
      Metric("spark.tasks_per_stmt", total.tasks.toDouble / n, "count", all.length),
      Metric("spark.task_cpu_ms_per_stmt", total.cpuNs / 1e6 / n, "ms", all.length),
      Metric("spark.scheduler_delay_ms", total.schedDelayMs.toDouble / total.tasks.max(1),
        "ms", total.tasks),
      Metric("spark.rows_read_per_row_returned", readInput.toDouble / rowsReturned.max(1),
        "ratio", rowsReturned),
      Metric("catalog.filesets_max", filesetsMax, "count", all.length),
      Metric("catalog.fileset_folds", folds, "count", all.length),
      Metric("plan_cache.hit_ratio", cacheHits.toDouble / (cacheHits + cacheMisses).max(1),
        "ratio", cacheHits + cacheMisses),
      Metric("views.registrations_per_stmt", registrations.toDouble / n, "count", all.length))
  }
}

/** In-process probes of single layers, run after the traced loop. */
final class Probes(spark: SparkSession, svc: Service, tracer: Tracer) {
  private def span[A](n: String)(f: => A): A = tracer.span(s"probe.$n")(f)

  /** HTTP round trip minus an in-process GraftSession.execute of the same
    * read statement, interleaved, median of each. */
  def apiOverhead(q: QueryInput, n: Int = 20): Metric = span("api.overhead") {
    val http, local = new Samples
    (1 to n).foreach { _ =>
      val t0 = System.nanoTime()
      val (status, e) = svc.client.query(svc.db, q)
      require(status == 200 && !e.has("error"), s"probe read failed: $e")
      http.add((System.nanoTime() - t0) / 1e6)
      val t1 = System.nanoTime()
      val r = svc.session.execute(svc.db, "main", q, svc.key)
      require(r.error.isEmpty, s"probe read failed: ${r.error}")
      local.add((System.nanoTime() - t1) / 1e6)
    }
    Metric("api.overhead_ms", Stats.median(http.values) - Stats.median(local.values), "ms", n)
  }

  def authValidate(q: QueryInput): Metric = span("auth.validate") {
    val body = Client.batchJson(Seq(q)).getBytes(UTF_8)
    val path = s"/v1/databases/${svc.db}/main/query"
    val headers = Map("content-type" -> "application/json", "host" -> s"127.0.0.1:${svc.port}",
      "x-lbdb-date" -> (System.currentTimeMillis() / 1000).toString)
    val token = RequestAuth.captureToken(
      RequestAuth.signRequest(svc.key.id, svc.key.secret, "POST", path, headers, body))
    Metric("auth.validate_us", Micro.us(10, 200) { _ =>
      require(RequestAuth.validate(token, svc.key.secret, "POST", path, headers, body))
    }, "us", 2000)
  }

  def classify(stmts: IndexedSeq[String]): Metric = span("classify") {
    Metric("classify_us", Micro.us(10, 2000)(i => Classifier.kind(stmts(i % stmts.length))),
      "us", 20000)
  }

  def authorize(stmts: IndexedSeq[String]): Metric = span("authorize") {
    Metric("authorize_ms", Micro.us(5, 40) { i =>
      Authorizer.authorize(spark, svc.key, svc.db, "main", stmts(i % stmts.length))
    } / 1e3, "ms", 200)
  }

  def metricsRecord(stmts: IndexedSeq[String]): Metric = span("metrics.record") {
    val store = new MetricsStore(None)
    Metric("metrics.record_us", Micro.us(10, 2000) { i =>
      store.record(svc.db, "main", stmts(i % stmts.length), 0.001)
    }, "us", 20000)
  }

  /** Encode one real response of the workload's shape both ways. */
  def codec(q: QueryInput): Seq[Metric] = span("codec") {
    val r = svc.session.execute(svc.db, "main", q, svc.key)
    require(r.error.isEmpty, s"codec probe query failed: ${r.error}")
    val rows = r.rows.length.max(1)
    val batch = math.max(1, 20000 / rows)
    Seq(Metric("codec.json_us_per_row", Micro.us(5, batch)(_ => Wire.responseJson(r)) / rows,
        "us", 5L * batch * rows),
      Metric("codec.binary_us_per_row", Micro.us(5, batch)(_ => Wire.encodeResponse(r)) / rows,
        "us", 5L * batch * rows))
  }

  /** Time until an empty job passed through the branch's write queue
    * starts, and the queue's depth, sampled every 50 ms while `busy`. */
  final class WriteQueueSampler {
    val waits, depths = new Samples
    @volatile private var on = true
    private val t = new Thread(() => while (on) {
      val q = svc.session.writeQueues(svc.db, "main")
      depths.add(q.queued)
      val t0 = System.nanoTime()
      q.run(waits.add((System.nanoTime() - t0) / 1e6))
      Thread.sleep(50)
    }, "write-queue-sampler")
    t.setDaemon(true)
    t.start()
    def stop(): Seq[Metric] = {
      on = false
      t.join()
      Seq(Metric("write_queue.wait_ms", mean(waits), "ms", waits.count),
        Metric("write_queue.depth", mean(depths), "count", depths.count))
    }
    private def mean(s: Samples) = { val v = s.values; if (v.isEmpty) 0.0 else v.sum / v.length }
  }
}
