package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.engine._

/** B8 stream protocol: full client->server->client round trip against a
  * live engine, plus per-entry error framing. */
class QueryStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def engine(): GraftSession = {
    val s = new GraftSession(spark, Files.createTempDirectory("graft-stream"))
    s.createDatabase("db")
    s
  }

  /** executeStreamed's responses for one statement, in emission order. */
  private def streamed(e: GraftSession, in: QueryInput,
      key: AccessKey = AccessKey.root, batchSize: Int = 4096): Seq[QueryResponse] = {
    val out = scala.collection.mutable.ArrayBuffer[QueryResponse]()
    e.executeStreamed("db", "main", in, key, batchSize)(out += _)
    out.toSeq
  }

  private def runConversation(e: GraftSession, messages: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    QueryStream.serve(new ByteArrayInputStream(messages), out,
      q => e.execute("db", "main", q))
    out.toByteArray
  }

  test("open -> frame with queries -> close round trip") {
    val e = engine()
    e.execute("db", "main", QueryInput("s", "CREATE TABLE t (id INTEGER, v TEXT)"))
    val msgs = new ByteArrayOutputStream()
    QueryStream.writeMessage(msgs, QueryStream.Open, Array.emptyByteArray)
    QueryStream.writeMessage(msgs, QueryStream.Frame, QueryStream.encodeFrame(Seq(
      QueryInput("q1", "INSERT INTO t VALUES (?, ?)",
        Seq(Param.integer(1), Param.text("x"))),
      QueryInput("q2", "SELECT id, v FROM t"))))
    QueryStream.writeMessage(msgs, QueryStream.Close, Array.emptyByteArray)

    val replyBytes = runConversation(e, msgs.toByteArray)
    // reply: open-ack then one frame
    val in = new ByteArrayInputStream(replyBytes)
    val ackHeader = in.readNBytes(5)
    assert((ackHeader(0) & 0xFF) == QueryStream.Open)
    val frameHeader = in.readNBytes(5)
    assert((frameHeader(0) & 0xFF) == QueryStream.Frame)
    val frameLen = java.nio.ByteBuffer.wrap(frameHeader, 1, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    val entries = QueryStream.decodeResponseFrame(in.readNBytes(frameLen))
    assert(entries.length == 2)
    assert(entries.forall(!_._1)) // no errors
    val r1 = Wire.decodeResponse(entries(0)._2)
    assert(r1.id == "q1" && r1.changes == 1)
    val r2 = Wire.decodeResponse(entries(1)._2)
    assert(r2.id == "q2" && r2.rows ==
      Seq(Seq(SqlValue.IntVal(1), SqlValue.TextVal("x"))))
  }

  test("per-entry errors use the 0x03 tag without killing the frame") {
    val e = engine()
    e.execute("db", "main", QueryInput("s", "CREATE TABLE t (id INTEGER)"))
    val msgs = new ByteArrayOutputStream()
    QueryStream.writeMessage(msgs, QueryStream.Frame, QueryStream.encodeFrame(Seq(
      QueryInput("bad", "SELECT * FROM nope"),
      QueryInput("good", "SELECT count(*) AS n FROM t"))))
    QueryStream.writeMessage(msgs, QueryStream.Close, Array.emptyByteArray)

    val in = new ByteArrayInputStream(runConversation(e, msgs.toByteArray))
    val frameHeader = in.readNBytes(5)
    val frameLen = java.nio.ByteBuffer.wrap(frameHeader, 1, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    val entries = QueryStream.decodeResponseFrame(in.readNBytes(frameLen))
    assert(entries.length == 2)
    assert(entries(0)._1, "first entry should be an error")
    assert(!entries(1)._1)
    assert(Wire.decodeResponse(entries(1)._2).rows.head.head == SqlValue.IntVal(0))
  }

  test("executeStreamed delivers an FTS MATCH read past the batch cap") {
    val e = new GraftSession(spark, Files.createTempDirectory("graft-stream-fts"),
      maxBatchRows = 10)
    e.createDatabase("db")
    def ok(stmt: String) = {
      val r = e.execute("db", "main", QueryInput("s", stmt))
      assert(r.error.isEmpty, r.error)
    }
    ok("CREATE TABLE docs (doc_id INTEGER, body TEXT)")
    ok("INSERT INTO docs VALUES " +
      (1 to 50).map(i => s"($i, 'x doc$i')").mkString(", "))
    ok("CREATE VIRTUAL TABLE f USING fts5(body, content='docs', content_rowid='doc_id')")
    val out = streamed(e, QueryInput("m", "SELECT doc FROM f WHERE f MATCH 'x'"),
      batchSize = 16)
    assert(out.forall(_.error.isEmpty), out.map(_.error).mkString)
    assert(out.map(_.rows.length) == Seq(16, 16, 16, 2))
    assert(out.flatMap(_.rows).map(_.head).toSet ==
      (1 to 50).map(i => SqlValue.IntVal(i.toLong)).toSet)
    assert(out.forall(r => r.id == "m" && r.columns == Seq("doc")))
    assert(out.last.latency > 0)
  }

  test("execute and executeStreamed agree statement by statement") {
    val e = engine()
    e.createDatabase("other")
    def ok(stmt: String, txn: String = "") = {
      val r = e.execute("db", "main", QueryInput("s", stmt, transactionId = txn))
      assert(r.error.isEmpty, s"$stmt: ${r.error}")
      r
    }
    ok("CREATE TABLE t (id INTEGER, v TEXT)")
    ok("INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd'), (5, 'e')")
    ok("CREATE INDEX tv ON t(v)")
    val ot = e.execute("other", "main", QueryInput("s", "CREATE TABLE t2 (id INTEGER)"))
    assert(ot.error.isEmpty, ot.error)
    ok("ATTACH DATABASE 'other' AS a2")
    val tid = ok("BEGIN").transactionId
    ok("INSERT INTO t VALUES (6, 'staged')", tid)
    val homeOnly = AccessKey("home-only", statements = Seq(
      AccessKeyStatement("allow", "database:db:*", Seq("*"))))
    val eqp = "EXPLAIN QUERY PLAN SELECT v FROM t WHERE id = 2"
    // (statement, parameters, transaction, key, expect an error)
    val cases = Seq(
      ("SELECT id, v FROM t WHERE id > ? ORDER BY id", Seq(Param.integer(2)), "",
        AccessKey.root, false),
      ("SELECT id, v FROM t WHERE id > 4 ORDER BY id", Nil, tid, AccessKey.root, false),
      ("SELECT * FROM a2.t2", Nil, "", homeOnly, true),
      ("ANALYZE", Nil, "", AccessKey.root, false),
      (eqp, Nil, "", AccessKey.root, false),
      ("REINDEX", Nil, "", AccessKey.root, false))
    // plan strings carry per-analysis expression ids (v#12): not a difference
    def norm(rows: Seq[Seq[SqlValue]]) = rows.map(_.map {
      case SqlValue.TextVal(t) => SqlValue.TextVal(t.replaceAll("#\\d+", "#"))
      case v => v
    })
    for ((stmt, params, txn, key, expectError) <- cases) {
      val in = QueryInput("p", stmt, params, txn)
      val out = streamed(e, in, key, batchSize = 2)
      val one = e.execute("db", "main", in, key)
      val streamErr = out.map(_.error).find(_.nonEmpty)
      assert(streamErr.isDefined == one.error.nonEmpty,
        s"$stmt: streamed $streamErr, batch ${one.error}")
      assert(one.error.nonEmpty == expectError, s"$stmt: ${one.error}")
      if (!expectError) {
        assert(out.forall(_.columns == one.columns), stmt)
        assert(norm(out.flatMap(_.rows)) == norm(one.rows), stmt)
      }
    }
    assert(e.execute("db", "main", QueryInput("q", eqp)).columns ==
      Seq("id", "parent", "notused", "detail"))
    assert(streamed(e, QueryInput("q", "SELECT * FROM sqlite_stat1"))
      .flatMap(_.rows).nonEmpty)
    // the staged row is visible inside the transaction only
    def count(txn: String) = streamed(e,
      QueryInput("q", "SELECT count(*) FROM t", transactionId = txn)).flatMap(_.rows)
    assert(count(tid) == Seq(Seq(SqlValue.IntVal(6))))
    assert(count("") == Seq(Seq(SqlValue.IntVal(5))))
    ok("ROLLBACK", tid)
  }
}
