package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

/** Operator-library entries run through `graft.SparkEntry.queries`. */
object Pipelines {
  /** One `Bench.headline` entry per operator family. A pass over all of
    * them takes ~1 min on 4 cores, more than a traced run can spend. */
  val Entries: Seq[String] = Seq(
    "q01_pricing_summary", // scan + hash aggregate
    "q05_multi_join",      // 6-way join
    "q17_window_frames",   // window frames
    "f04_json_funcs",      // JSON functions
    "s03_session_window",  // session windows
    "m01_query_metrics",   // query-metrics dataflow
    "p03_dedup_minhash",   // MinHash LSH dedup
    "p10_quality_score")   // text analysis scan

  /** Row count and an order-insensitive hash (the exact sum of per-row
    * xxhash64 over the columns in name order) of an entry's output. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = df.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
  }

  /** `pins/pipelines.tsv`: entry -> (rows, hash). */
  def loadPins(file: java.nio.file.Path): Map[String, (Long, String)] =
    scala.io.Source.fromFile(file.toFile, "UTF-8").getLines()
      .filterNot(_.startsWith("#")).map(_.split('\t')).collect {
        case Array(e, n, h) => e -> (n.toLong, h)
      }.toMap

  /** Seconds to run `entry` into the noop sink. */
  def time(spark: SparkSession, entry: String, dir: String): Double = {
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(entry)(spark, dir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Prints `entry, rows, hash` for each entry's output as written by
    * `graft.tools.RunOne <sfDir> <outDir> <entry>...` — outputs that
    * `tools/check_oracles.py <outDir> <sfDir>` has passed. This is how
    * `pins/pipelines.tsv` is made:
    * `java <target/launch.txt> perfbench.Pipelines <outDir> <entry>...` */
  def main(args: Array[String]): Unit = {
    val work = java.nio.file.Files.createTempDirectory(java.nio.file.Path.of("."), "pins")
    val spark = Main.spark(work)
    try args.tail.foreach { e =>
      val (n, h) = fingerprint(spark.read.parquet(s"${args.head}/$e"))
      println(s"$e\t$n\t$h")
    } finally spark.stop()
  }
}
