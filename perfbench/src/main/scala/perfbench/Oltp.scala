package perfbench

import com.fasterxml.jackson.databind.JsonNode
import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import graft.engine.{Param, QueryInput}

/** The OLTP workloads: `kv` plus one `ledger_<client>` table per client. */
object Oltp {
  val Schema = "(id INTEGER PRIMARY KEY, k TEXT, v TEXT, n INTEGER, cat INTEGER)"
  val PointSql = "SELECT * FROM kv WHERE id = ?"
  val RangeSql = "SELECT id, v FROM kv WHERE cat = ? ORDER BY id LIMIT 20"
  def insertSql(table: String) = s"INSERT INTO $table (k, v, n, cat) VALUES (?, ?, ?, ?)"
  def updateSql(table: String) = s"UPDATE $table SET n = n + 1 WHERE id = ?"
  def ledger(client: Int) = s"ledger_$client"

  /** Fresh root, service, `kv` holding the seeded rows and `ledgers` empty
    * ledger tables.
    * The rows are written to parquet outside the data root, imported as a
    * temporary table and copied into `kv` by one signed `INSERT ... SELECT`. */
  def setUp(spark: SparkSession, work: Path, name: String, seed: Long,
      ledgers: Int): (Service, Map[String, KvModel]) = {
    val svc = new Service(spark, Service.freshRoot(work, name))
    val rows = Gen.table(seed)
    val seedDir = work.resolve(s"$name-seed")
    Service.deleteTree(seedDir)
    spark.createDataFrame(rows).write.parquet(seedDir.toString)
    svc.session.importParquet(svc.db, "main", "kv_seed", seedDir.toString)
    svc.must(s"CREATE TABLE kv $Schema")
    svc.must("INSERT INTO kv (id, k, v, n, cat) SELECT id, k, v, n, cat FROM kv_seed")
    svc.must("DROP TABLE kv_seed")
    (0 until ledgers).foreach(c => svc.must(s"CREATE TABLE ${ledger(c)} $Schema"))
    (svc, Map("kv" -> new KvModel(rows)) ++
      (0 until ledgers).map(c => ledger(c) -> new KvModel(IndexedSeq.empty)))
  }

  def rowOf(n: JsonNode): Row =
    Row(n.get(0).asLong(), n.get(1).asText(), n.get(2).asText(), n.get(3).asLong(), n.get(4).asInt())

  def failure(status: Int, e: JsonNode): Option[String] =
    if (status != 200 || e.has("error") || e.path("status").asText() == "error")
      Some(s"HTTP $status ${e.toString.take(300)}")
    else None

  /** Executes ops against one service, checks each reply against the
    * models, and times the ones completed inside the timed window. Every HTTP
    * call passes through `hook` under its statement class. */
  final class Runner(svc: Service, models: Map[String, KvModel], out: Outcomes,
      hook: Hook = Hook.None) {
    private val kv = models("kv")
    /** Round trip of every timed statement. */
    val all = new Samples
    val read, range, insert, update, txn = new Samples
    /** Statements completed in the timed window. */
    val statements = new AtomicLong()
    /** End of the timed window (nanoTime); 0 when not timing. An op counts
      * only if it completes inside the window, so ops still in flight at
      * its end add nothing to the numbers. */
    @volatile var timedUntil = 0L
    private def timed = timedUntil > 0 && System.nanoTime() <= timedUntil
    private lazy val byCat: Map[Int, Seq[(Long, String)]] =
      kv.all.groupBy(_.cat).map { case (c, rs) => c -> rs.sortBy(_.id).take(20).map(r => (r.id, r.v)) }

    private def call(cls: String, stmt: String, params: Seq[Param], tx: String = ""): (Int, JsonNode, Double) =
      hook.statement(cls) {
        val t0 = System.nanoTime()
        val (status, e) = svc.client.query(svc.db, QueryInput("b", stmt, params, tx))
        val ms = (System.nanoTime() - t0) / 1e6
        if (timed && failure(status, e).isEmpty) { all.add(ms); statements.incrementAndGet() }
        if (cls == "read" || cls == "range") hook.returned(e.path("row_count").asLong(0))
        (status, e, ms)
      }
    private def done(s: Samples, ms: Double): Unit = if (timed) s.add(ms)

    def run(client: Int, op: Op): Unit = hook.request { op match {
      case Op.PointRead(id) => pointRead(id)
      case Op.ReadInserted(pick) =>
        // before the run's first insert is acknowledged, read a seeded row
        pointRead(kv.pickInserted(pick).getOrElse(1L + (pick * Gen.TableRows).toLong))
      case Op.RangeRead(cat) =>
        val (status, e, ms) = call("range", RangeSql, Seq(Param.integer(cat.toLong)))
        if (out.check(s"$RangeSql [$cat]") {
          failure(status, e).orElse {
            val it = e.path("rows").elements()
            val got = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
              .map(r => (r.get(0).asLong(), r.get(1).asText())).toSeq
            val want = byCat.getOrElse(cat, Nil)
            if (got == want) None else Some(s"rows $got, want $want")
          }
        }) done(range, ms)
      case i: Op.Insert =>
        val (status, e, ms) = call("insert", insertSql("kv"), insertParams(i))
        if (out.check(s"${insertSql("kv")} [${i.k}]") {
          failure(status, e).orElse(changes(e, 1)).orElse(acknowledge(kv, i, e, 0))
        }) done(insert, ms)
      case Op.Update(id) =>
        kv.updateStarted(id)
        val (status, e, ms) = call("update", updateSql("kv"), Seq(Param.integer(id)))
        val ok = out.check(s"${updateSql("kv")} [$id]") {
          failure(status, e).orElse(changes(e, 1))
        }
        kv.updateEnded(id, ok)
        if (ok) done(update, ms)
      case Op.Txn(i) =>
        // insert a ledger row and bump it in the same transaction; both
        // must be visible once COMMIT is acknowledged
        val t = ledger(client)
        val t0 = System.nanoTime()
        val ok = out.check(s"BEGIN; ${insertSql(t)} [${i.k}]; ${updateSql(t)}; COMMIT") {
          val (s0, b, _) = call("begin", "BEGIN", Nil)
          val tx = b.path("transaction_id").asText("")
          failure(s0, b).orElse(if (tx.isEmpty) Some(s"BEGIN gave no transaction id: $b") else None)
            .orElse {
              val (s1, ins, _) = call("txn_insert", insertSql(t), insertParams(i), tx)
              val id = ins.path("last_insert_row_id").asLong(0)
              val (s2, upd, _) = call("txn_update", updateSql(t), Seq(Param.integer(id)), tx)
              val (s3, com, _) = call("commit", "COMMIT", Nil, tx)
              failure(s1, ins).orElse(changes(ins, 1))
                .orElse(failure(s2, upd)).orElse(changes(upd, 1))
                .orElse(failure(s3, com))
                .orElse(acknowledge(models(t), i, ins, 1))
            }
        }
        if (ok) done(txn, (System.nanoTime() - t0) / 1e6)
      case other => throw new IllegalArgumentException(s"not an OLTP op: $other")
    }}

    private def pointRead(id: Long): Unit = {
      val low = kv.lowN(id)
      val (status, e, ms) = call("read", PointSql, Seq(Param.integer(id)))
      if (out.check(s"$PointSql [$id]") {
        failure(status, e).orElse {
          val rows = e.path("rows")
          if (rows.size() > 1) Some(s"${rows.size()} rows for id $id")
          else kv.checkRead(id, low, if (rows.size() == 1) Some(rowOf(rows.get(0))) else None)
        }
      }) done(read, ms)
    }

    private def insertParams(i: Op.Insert) =
      Seq(Param.text(i.k), Param.text(i.v), Param.integer(i.n), Param.integer(i.cat.toLong))

    private def changes(e: JsonNode, want: Long): Option[String] = {
      val c = e.path("changes").asLong(-1)
      if (c == want) None else Some(s"changes=$c, want $want")
    }

    /** Record an acknowledged insert (plus `bumps` acknowledged updates of
      * the same row) in `model`. */
    private def acknowledge(model: KvModel, i: Op.Insert, e: JsonNode, bumps: Int): Option[String] = {
      val id = e.path("last_insert_row_id").asLong(0)
      if (id <= 0) Some(s"no last_insert_row_id: $e")
      else if (!model.inserted(Row(id, i.k, i.v, i.n + bumps, i.cat))) Some(s"insert reused id $id")
      else None
    }
  }

  /** Closed loop: `clients` threads, each sending its next op when the
    * previous reply arrives, until `deadline` (nanoTime) has passed. */
  def drive(clients: Int, deadline: Long, streams: Int => Iterator[Op],
      run: (Int, Op) => Unit): Unit = {
    val threads = (0 until clients).map { c =>
      val it = streams(c)
      new Thread(() => while (System.nanoTime() < deadline) run(c, it.next()), s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  def deadlineIn(seconds: Double): Long = System.nanoTime() + (seconds * 1e9).toLong

  /** End-of-run check over HTTP: COUNT(*) and SUM(n) of every table equal
    * its model. */
  def checkTotals(svc: Service, models: Map[String, KvModel], out: Outcomes): Unit =
    models.toSeq.sortBy(_._1).foreach { case (t, model) =>
      val sql = s"SELECT COUNT(*), COALESCE(SUM(n), 0) FROM $t"
      val (status, e) = svc.client.query(svc.db, QueryInput("b", sql))
      out.check(sql) {
        failure(status, e).orElse {
          val r = e.path("rows").get(0)
          val (c, s) = (r.get(0).asLong(), r.get(1).asLong())
          if (c == model.count && s == model.sumN) None
          else Some(s"count=$c sum=$s, want count=${model.count} sum=${model.sumN}")
        }
      }
    }

  /** After the service stops: a second GraftSession on the same data root
    * must read back every acknowledged write. Each lost or wrong row is a
    * failure. */
  def checkRestart(spark: SparkSession, svc: Service, models: Map[String, KvModel],
      out: Outcomes): Unit = {
    val again = new graft.engine.GraftSession(spark, svc.root)
    models.toSeq.sortBy(_._1).foreach { case (t, model) =>
      val sql = s"SELECT id, k, v, n, cat FROM $t ORDER BY id"
      val r = again.execute(svc.db, "main", QueryInput("restart", sql))
      if (r.error.nonEmpty) out.fail(sql, s"read after restart failed: ${r.error}")
      else {
        import graft.engine.SqlValue._
        val got = r.rows.map {
          case Seq(IntVal(id), TextVal(k), TextVal(v), IntVal(n), IntVal(cat)) =>
            id -> Row(id, k, v, n, cat.toInt)
          case other => -1L -> Row(-1, other.toString, "", 0, 0)
        }.toMap
        model.writtenIds.foreach { id =>
          val want = model.expected(id)
          out.check(s"read of $t id $id after restart") {
            got.get(id) match {
              case Some(g) if g == want => None
              case Some(g) => Some(s"after restart $g, want $want")
              case None => Some(s"after restart row $id is lost")
            }
          }
        }
        out.check(s"$sql (whole table after restart)") {
          val bad = model.all.count(w => !got.get(w.id).contains(w))
          if (bad == 0 && got.size == model.count) None
          else Some(s"after restart ${got.size} rows, $bad differ from the model")
        }
      }
    }
  }
}
