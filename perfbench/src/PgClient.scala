package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{InetAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal PostgreSQL v3 client for the simple-query flow: startup with
  * trust auth, then `Q` → RowDescription → DataRow* → CommandComplete →
  * ReadyForQuery. It records, per statement, when the query was sent and
  * when RowDescription, the first DataRow and CommandComplete arrived,
  * and how many bytes came back. Rows are fingerprinted after the reply
  * is complete (see [[Canon.wire]]). */
final class PgClient(port: Int) {
  private val sock = new Socket(InetAddress.getLoopbackAddress, port)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
  private var received = 0L

  /** Nanoseconds the startup handshake took, up to ReadyForQuery. */
  val connectNs: Long = {
    val t0 = System.nanoTime()
    val params = Seq("user" -> "perfbench", "database" -> "perfbench",
      "client_encoding" -> "UTF8")
    val body = params.flatMap { case (k, v) => Seq(k, v) }
      .map(_.getBytes(UTF_8)).map(_ :+ 0.toByte).reduce(_ ++ _) :+ 0.toByte
    out.writeInt(8 + body.length)
    out.writeInt(196608) // protocol 3.0
    out.write(body)
    out.flush()
    var ready = false
    while (!ready) {
      val (tag, payload) = readMessage()
      tag match {
        case 'Z' => ready = true
        case 'E' => throw new IllegalStateException("startup failed: " + errorText(payload))
        case _ =>
      }
    }
    System.nanoTime() - t0
  }

  private def readMessage(): (Char, Array[Byte]) = {
    val tag = in.readByte().toChar
    val len = in.readInt()
    val payload = new Array[Byte](len - 4)
    in.readFully(payload)
    received += 1 + len
    (tag, payload)
  }

  private def errorText(p: Array[Byte]): String = {
    // fields: type byte + cstring, terminated by a zero byte
    val sb = new StringBuilder
    var i = 0
    while (i < p.length && p(i) != 0) {
      val t = p(i).toChar
      val end = p.indexOf(0.toByte, i + 1)
      if (t == 'M' || t == 'C') sb.append(s"$t=${new String(p, i + 1, end - i - 1, UTF_8)} ")
      i = end + 1
    }
    sb.toString.trim
  }

  /** Send one statement and wait for ReadyForQuery. */
  def query(sql: String): PgClient.Result = {
    val bytes = sql.getBytes(UTF_8)
    val bytesBefore = received
    val sent = System.nanoTime()
    out.writeByte('Q')
    out.writeInt(4 + bytes.length + 1)
    out.write(bytes)
    out.writeByte(0)
    out.flush()
    var rowDesc = 0L
    var firstRow = 0L
    var complete = 0L
    var error: String = null
    var cols = Seq.empty[String]
    var oids = Array.empty[Int]
    val rows = Array.newBuilder[Array[String]]
    var done = false
    while (!done) {
      val (tag, p) = readMessage()
      tag match {
        case 'T' =>
          rowDesc = System.nanoTime()
          val bb = java.nio.ByteBuffer.wrap(p)
          val n = bb.getShort() & 0xffff
          val names = Seq.newBuilder[String]
          oids = new Array[Int](n)
          for (i <- 0 until n) {
            val start = bb.position()
            while (bb.get() != 0) {}
            names += new String(p, start, bb.position() - start - 1, UTF_8)
            bb.getInt(); bb.getShort() // table oid, column attnum
            oids(i) = bb.getInt()
            bb.getShort(); bb.getInt(); bb.getShort() // typlen, typmod, format
          }
          cols = names.result()
        case 'D' =>
          if (firstRow == 0L) firstRow = System.nanoTime()
          val bb = java.nio.ByteBuffer.wrap(p)
          val n = bb.getShort() & 0xffff
          val vals = new Array[String](n)
          for (i <- 0 until n) {
            val len = bb.getInt()
            if (len >= 0) {
              vals(i) = new String(p, bb.position(), len, UTF_8)
              bb.position(bb.position() + len)
            }
          }
          rows += vals
        case 'C' => complete = System.nanoTime()
        case 'E' => error = errorText(p)
        case 'Z' => done = true
        case _ => // NoticeResponse, ParameterStatus, EmptyQueryResponse
      }
    }
    val end = System.nanoTime()
    val (n, hash) =
      if (error != null) (0L, "")
      else Canon.fingerprint(cols, rows.result().iterator.map(r =>
        r.indices.map(i => Canon.wire(r(i), oids(i)))))
    PgClient.Result(sent, rowDesc, firstRow, if (complete == 0L) end else complete,
      n, hash, received - bytesBefore, Option(error))
  }

  def close(): Unit = {
    try {
      out.writeByte('X'); out.writeInt(4); out.flush()
    } catch { case _: java.io.IOException => }
    sock.close()
  }
}

object PgClient {
  /** Timestamps are `System.nanoTime`; 0 when the message never came. */
  final case class Result(sentNs: Long, rowDescNs: Long, firstRowNs: Long,
      completeNs: Long, rows: Long, hash: String, bytes: Long,
      error: Option[String])
}
