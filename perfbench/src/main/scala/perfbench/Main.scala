package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** `work`: working directory for data roots; `result`: the result file;
  * `benchDir`: the benchmark's directory (pins); `sfDir`: the sf0.1 test
  * data the analytic workload imports. */
final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, result: Path, benchDir: Path, sfDir: Path)

/** The benchmark program. `perfbench/run.py` builds this package and launches
  * it; see that file for the command line. */
object Main {
  val Workloads = Seq("oltp_read", "oltp_mixed", "analytic")
  /** Name and unit of each end-to-end metric, as BENCHMARK.json lists them. */
  val EndToEnd = Seq("setup_s" -> "s", "throughput_ops_s" -> "1/s", "read_p50_ms" -> "ms")

  def parse(args: Seq[String]): Config = {
    val m = args.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case bad => throw new IllegalArgumentException(s"bad arguments: ${bad.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    Config(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Path.of(need("work")).toAbsolutePath, Path.of(need("result")).toAbsolutePath,
      Path.of(need("bench-dir")).toAbsolutePath, Path.of(need("sf-dir")).toAbsolutePath)
  }

  def spark(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args.toSeq)
    Files.createDirectories(cfg.work)
    val t0 = System.nanoTime()
    val sp = spark(cfg.work)
    val sparkStart = (System.nanoTime() - t0) / 1e9
    val report =
      try cfg.workload match {
        case "oltp_read" | "oltp_mixed" => OltpWorkload.run(cfg, sp)
        case _ => AnalyticWorkload.run(cfg, sp)
      } finally sp.stop()
    val want = if (cfg.trace) Layers.Names else EndToEnd
    require(report.metrics.map(m => m.name -> m.unit) == want,
      s"run produced ${report.metrics.map(_.name)}, BENCHMARK.json wants ${want.map(_._1)}")
    val withStart = report.copy(notes = f"spark start ${sparkStart}%.3f s" +: report.notes)
    Files.write(cfg.result, withStart.json.getBytes(UTF_8))
    println(s"perfbench ${cfg.workload} seed=${cfg.seed} trace=${if (cfg.trace) 1 else 0}")
    println(withStart.table)
    withStart.outcomes.failures.take(20).foreach(f => println(s"  FAILED: $f"))
  }
}
