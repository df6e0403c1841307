package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import graft.api.HttpApi
import graft.engine.{AccessKey, AccessKeyStatement, GraftSession, QueryInput}

/** The service under test on a fresh data root: one GraftSession behind
  * HttpApi on an ephemeral port, plus a non-root access key scoped to the
  * benchmark database, so every statement runs the per-table checks.
  *
  * This is the wiring `graft.api.Serve.start` performs (session, first
  * user, HttpApi, start). It is repeated here because `Serve.start` keeps
  * the session to itself, and the traced run reads the session's counters. */
final class Service(spark: SparkSession, val root: Path) {
  val db = "bench"
  val session = new GraftSession(spark, root)
  session.users.add("bench-admin", "bench-admin-password",
    Seq(AccessKeyStatement("allow", "*", Seq("*"))))
  private val api = new HttpApi(session)
  val port: Int = api.start(0)
  val key: AccessKey = session.accessKeys.create("perfbench",
    Seq(AccessKeyStatement("allow", s"database:$db:*", Seq("*"))))
  val client = new Client(port, key.id, key.secret)

  {
    val (status, reply) = client.post("/v1/databases", s"""{"name":"$db"}""")
    require(status == 201, s"create database: HTTP $status $reply")
  }

  /** Run one statement over HTTP and fail set-up on any error. */
  def must(stmt: String): Unit = {
    val (status, entry) = client.query(db, QueryInput("setup", stmt))
    require(status == 200 && !entry.has("error"), s"set-up statement failed: HTTP $status $entry -- $stmt")
  }

  def stop(): Unit = api.stop()
}

object Service {
  /** Set-ups per run; `setup_s` is their median. */
  val SetUps = 3

  /** Run `setUp` [[SetUps]] times (each builds a fresh service and warms
    * it); each set-up's service is stopped and deleted, untimed, before the
    * next starts. Returns the last, the `setup_s` metric and a note with
    * every set-up's time. */
  def setUpRepeatedly[A](setUp: Int => A)(service: A => Service): (A, Metric, String) = {
    val secs = new Array[Double](SetUps)
    var last: Option[A] = None
    (1 to SetUps).foreach { i =>
      last.foreach { a => service(a).stop(); deleteTree(service(a).root) }
      val t0 = System.nanoTime()
      last = Some(setUp(i))
      secs(i - 1) = (System.nanoTime() - t0) / 1e9
    }
    (last.get, Metric("setup_s", Stats.median(secs.toSeq), "s", SetUps),
      secs.map(x => f"$x%.2f").mkString("set-ups ", " ", " s"))
  }

  /** A fresh, empty directory for one service's data root. */
  def freshRoot(work: Path, name: String): Path = {
    val p = work.resolve(name)
    deleteTree(p)
    Files.createDirectories(p)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}
