package graft.engine

import java.io.{InputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

/** Query-stream frame processor (B8): the reference's high-throughput
  * full-duplex binary protocol (pkg/http/query_stream_controller.go:28-460),
  * transport-agnostic — wire it to a socket or HTTP body.
  *
  * Message framing: 1-byte type + u32(LE) length + body.
  * Types: 0x01 open | 0x02 close | 0x03 error | 0x04 frame | 0x05 entry.
  * A 0x04 frame's body is a sequence of u32-length-prefixed QueryInput
  * records; the response is one 0x04 frame whose body is a sequence of
  * (0x05 entry | 0x03 error) + u32 length + encoded QueryResponse /
  * error text.
  */
object QueryStream {
  val Open = 0x01; val Close = 0x02; val Error = 0x03
  val Frame = 0x04; val FrameEntry = 0x05

  private def u32(v: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()

  private def readU32(in: InputStream): Int = {
    val b = in.readNBytes(4)
    require(b.length == 4, "truncated length")
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getInt
  }

  def writeMessage(out: OutputStream, msgType: Int, body: Array[Byte]): Unit = {
    out.write(msgType)
    out.write(u32(body.length))
    out.write(body)
    out.flush()
  }

  /** Encode one client frame carrying the given queries. */
  def encodeFrame(queries: Seq[QueryInput]): Array[Byte] = {
    val body = new java.io.ByteArrayOutputStream()
    queries.foreach { q =>
      val b = Wire.encodeInput(q)
      body.write(u32(b.length), 0, 4)
      body.write(b, 0, b.length)
    }
    body.toByteArray
  }

  /** Split a frame body into its QueryInput records. */
  def decodeFrame(body: Array[Byte]): Seq[QueryInput] = {
    val buf = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    val out = scala.collection.mutable.ArrayBuffer[QueryInput]()
    while (buf.remaining() >= 4) {
      val len = buf.getInt()
      val rec = new Array[Byte](len)
      buf.get(rec)
      out += Wire.decodeInput(rec)
    }
    out.toSeq
  }

  /** Decode a response frame body into (isError, bytes) entries. */
  def decodeResponseFrame(body: Array[Byte]): Seq[(Boolean, Array[Byte])] = {
    val buf = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    val out = scala.collection.mutable.ArrayBuffer[(Boolean, Array[Byte])]()
    while (buf.remaining() >= 5) {
      val tag = buf.get() & 0xFF
      val len = buf.getInt()
      val rec = new Array[Byte](len)
      buf.get(rec)
      out += ((tag == Error, rec))
    }
    out.toSeq
  }

  /** Serve with a one-shot executor (each query produces one response). */
  def serve(in: InputStream, out: OutputStream,
      executor: QueryInput => QueryResponse): Unit =
    serveStreamed(in, out, (q, emit) => emit(executor(q)))

  /** Serve one connection: read messages until close/EOF, execute each
    * frame's queries with `executor`, write response frames. Mirrors
    * readQueryStream's loop (open -> ack, close -> stop, frame -> entries,
    * frame-level failure -> 0x03 message).
    *
    * The executor may emit MULTIPLE responses per query:
    * GraftSession.executeStreamed runs the same statement path as
    * execute and differs only in delivering a read's rows as batches.
    * Entries accumulate in an output buffer that is flushed as a complete
    * 0x04 frame whenever it crosses `flushBytes` — so driver memory stays
    * bounded by one chunk, not the result set. Small results keep the
    * one-frame-per-request shape. */
  def serveStreamed(in: InputStream, out: OutputStream,
      executor: (QueryInput, QueryResponse => Unit) => Unit,
      flushBytes: Int = 1 << 20): Unit = {
    var open = true
    while (open) {
      val header = in.readNBytes(5)
      if (header.length < 5) return
      val msgType = header(0) & 0xFF
      val len = ByteBuffer.wrap(header, 1, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
      val body = in.readNBytes(len)
      require(body.length == len, "incomplete message")
      msgType match {
        case Open =>
          writeMessage(out, Open, Array.emptyByteArray)
        case Close =>
          open = false
        case Frame =>
          try {
            val entries = new java.io.ByteArrayOutputStream()
            def writeEntry(tag: Int, b: Array[Byte]): Unit = {
              entries.write(tag)
              entries.write(u32(b.length), 0, 4)
              entries.write(b, 0, b.length)
              if (entries.size() >= flushBytes) {
                writeMessage(out, Frame, entries.toByteArray)
                entries.reset()
              }
            }
            decodeFrame(body).foreach { q =>
              executor(q, { r =>
                if (r.error.nonEmpty) writeEntry(Error, r.error.getBytes(UTF_8))
                else writeEntry(FrameEntry, Wire.encodeResponse(r))
              })
            }
            writeMessage(out, Frame, entries.toByteArray)
          } catch {
            case e: Throwable =>
              writeMessage(out, Error,
                Option(e.getMessage).getOrElse("stream error").getBytes(UTF_8))
          }
        case _ => // unknown message type: ignored, like the reference
      }
    }
  }
}
