package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.io.InputStream
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import graft.engine.{QueryInput, QueryStream, RequestAuth, Wire}

/** A litebase client: JSON bodies, HMAC-signed with an access key. */
final class Client(port: Int, keyId: String, secret: String) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val mapper = new ObjectMapper()
  private val host = s"127.0.0.1:$port"

  private def request(path: String, body: Array[Byte], signedBody: Array[Byte]) = {
    val date = (System.currentTimeMillis() / 1000).toString
    val headers = Map("content-type" -> "application/json", "host" -> host,
      "x-lbdb-date" -> date)
    val token = RequestAuth.signRequest(keyId, secret, "POST", path, headers, signedBody)
    HttpRequest.newBuilder(URI.create(s"http://$host$path"))
      .header("Authorization", token)
      .header("Content-Type", "application/json")
      .header("x-lbdb-date", date)
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build()
  }

  /** POST a signed JSON body; returns (status, parsed reply). */
  def post(path: String, json: String): (Int, JsonNode) = {
    val b = json.getBytes(UTF_8)
    val res = http.send(request(path, b, b), HttpResponse.BodyHandlers.ofByteArray())
    (res.statusCode(), mapper.readTree(res.body()))
  }

  /** One statement through `/query`. Returns the status and the single
    * entry of `data` (or the whole reply when there is none). */
  def query(db: String, q: QueryInput): (Int, JsonNode) = {
    val (status, reply) = post(s"/v1/databases/$db/main/query", Client.batchJson(Seq(q)))
    val entry = reply.path("data")
    (status, if (entry.isArray && entry.size() == 1) entry.get(0) else reply)
  }

  /** One SELECT through `/query/stream`; decodes every frame as it
    * arrives. Returns (rows, ms to the first decoded batch, first error). */
  def stream(db: String, q: QueryInput, onRow: Seq[graft.engine.SqlValue] => Unit)
      : (Long, Double, Option[String]) = {
    val msgs = new java.io.ByteArrayOutputStream()
    QueryStream.writeMessage(msgs, QueryStream.Open, Array.emptyByteArray)
    QueryStream.writeMessage(msgs, QueryStream.Frame, QueryStream.encodeFrame(Seq(q)))
    QueryStream.writeMessage(msgs, QueryStream.Close, Array.emptyByteArray)
    val t0 = System.nanoTime()
    // the server signs streaming requests over an empty body
    val res = http.send(request(s"/v1/databases/$db/main/query/stream",
      msgs.toByteArray, Array.emptyByteArray), HttpResponse.BodyHandlers.ofInputStream())
    val in: InputStream = res.body()
    var rows = 0L
    var firstMs = -1.0
    var err: Option[String] = None
    try {
      if (res.statusCode() != 200) err = Some(s"HTTP ${res.statusCode()}")
      var header = in.readNBytes(5)
      while (err.isEmpty && header.length == 5) {
        val len = java.nio.ByteBuffer.wrap(header, 1, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
        val body = in.readNBytes(len)
        (header(0) & 0xFF) match {
          case QueryStream.Frame =>
            QueryStream.decodeResponseFrame(body).foreach { case (isErr, b) =>
              if (isErr) err = Some(new String(b, UTF_8))
              else {
                val r = Wire.decodeResponse(b)
                r.rows.foreach(onRow)
                rows += r.rows.length
                if (firstMs < 0 && r.rows.nonEmpty) firstMs = (System.nanoTime() - t0) / 1e6
              }
            }
          case QueryStream.Error => err = Some(new String(body, UTF_8))
          case _ => ()
        }
        header = in.readNBytes(5)
      }
    } finally in.close()
    (rows, firstMs, err)
  }
}

object Client {
  private val mapper = new ObjectMapper()

  def batchJson(qs: Seq[QueryInput]): String = {
    val root = mapper.createObjectNode()
    val arr = root.putArray("queries")
    qs.foreach { q =>
      val n = arr.addObject()
      n.put("id", q.id)
      n.put("statement", q.statement)
      if (q.transactionId.nonEmpty) n.put("transaction_id", q.transactionId)
      val ps = n.putArray("parameters")
      q.parameters.foreach { p =>
        val pn = ps.addObject()
        pn.put("type", p.typeName)
        p.value match {
          case graft.engine.SqlValue.IntVal(v) => pn.put("value", v)
          case graft.engine.SqlValue.RealVal(v) => pn.put("value", v)
          case graft.engine.SqlValue.TextVal(v) => pn.put("value", v)
          case _ => pn.putNull("value")
        }
      }
    }
    mapper.writeValueAsString(root)
  }
}
