package graft.server

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession
import graft.exec.Executor

/** PostgreSQL wire protocol (v3) front end for the engine — the surface
  * that makes it reachable from OFF-THE-SHELF Postgres clients (psql,
  * psycopg2, JDBC), closing the reference's deployment story: the
  * reference exposes itself through a SQLAlchemy dialect + DBAPI
  * (reference src/framequery/alchemy/dialect.py:13-62, dbapi.py:5-161)
  * so "any Postgres-speaking tool" is the bar, not a bespoke protocol.
  *
  * Implemented: SSL/GSS negotiation refusal (clients fall back to
  * plaintext), StartupMessage, AuthenticationOk (trust), ParameterStatus,
  * BackendKeyData, the SIMPLE QUERY flow (Q → RowDescription → DataRow*
  * → CommandComplete → ReadyForQuery), the EXTENDED QUERY flow
  * (Parse/Bind/Describe/Execute/Close/Flush/Sync with `$n` parameters,
  * typed by the OIDs declared at Parse, and PortalSuspended row-limited
  * fetches — the flow JDBC and psycopg2's prepared statements speak),
  * EmptyQueryResponse, ErrorResponse with error-until-Sync recovery,
  * NoticeResponse for result truncation, and Terminate. Transaction /
  * session-parameter chatter (BEGIN/COMMIT/SET/…) succeeds as no-ops,
  * mirroring the reference DBAPI's pass-through commit/rollback.
  *
  * BINARY formats are implemented for both directions on the scalar
  * OIDs the server advertises (bool, int2/4/8, float4/8, numeric's
  * base-10000 groups, date/timestamp relative to the 2000-01-01 PG
  * epoch, and raw bytes for text) — the formats pgjdbc switches to
  * after its prepareThreshold and psycopg2's binary cursors request.
  * A binary PARAMETER with an OID outside that set is a clean 0A000;
  * a binary RESULT column outside it ships its text rendering's raw
  * bytes, which IS the binary format of the advertised text OID.
  *
  * Text results use PG-style rendering (t/f booleans, `{…}` array
  * literals, NULL as the -1 length sentinel) and honest type OIDs for
  * the scalar types, so clients parse values correctly.
  *
  * Sessionful: one Executor per connection, bootstrapped from the
  * optional scope spec (CREATE TABLE AS persists across statements on
  * the connection, connections are isolated). Driver-side
  * materialization is capped at `defaultMaxRows` with a NOTICE on
  * truncation — at 100 TB a client fetch must be an aggregate or
  * LIMIT-ed slice; bulk export is COPY TO (distributed part-files,
  * returns only a tag).
  *
  * SECURITY: auth is TRUST (AuthenticationOk unconditionally), so the
  * socket binds loopback by default; `bindAddress` opts into another
  * interface.
  */
final class PgWireServer(spark: SparkSession,
    scope: Map[String, DataFrame] = Map.empty,
    port: Int = 0, defaultMaxRows: Int = 10000,
    scopeSpecPath: Option[String] = None,
    bindAddress: InetAddress = InetAddress.getLoopbackAddress,
    copyInSpillBytes: Long = 64L << 20) {

  /** Number of COPY FROM STDIN payloads that crossed
    * [[copyInSpillBytes]] and took the spooled/distributed path —
    * observability for tests and operators. */
  val copyInSpills = new java.util.concurrent.atomic.AtomicInteger(0)

  // Timestamp text/binary rendering assumes the engine session computes
  // in UTC (the advertised OID is tz-less 1114; the wire value is the
  // session wall-clock). A non-UTC session would ship every timestamp
  // shifted by the host offset — fail loudly at construction instead.
  require(spark.conf.getOption("spark.sql.session.timeZone")
      .contains("UTC"),
    "PgWireServer requires spark.sql.session.timeZone=UTC " +
      "(timestamp wire rendering is UTC wall-clock)")

  private val serverSocket = new ServerSocket(port, 50, bindAddress)
  private val running = new AtomicBoolean(true)

  def boundPort: Int = serverSocket.getLocalPort

  private val acceptThread = new Thread(() => {
    while (running.get()) {
      try {
        val sock = serverSocket.accept()
        val t = new Thread(() => serve(sock), s"graft-pg-conn-${sock.getPort}")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: java.net.SocketException => // closed during accept
        case scala.util.control.NonFatal(e) if running.get() =>
          // transient accept failure (EMFILE, thread-create OOM, ...):
          // log and keep accepting — dying here leaves a server that
          // looks alive but can never take another connection
          System.err.println(s"[graft-pg] accept failed: $e")
          Thread.sleep(100)
      }
    }
  }, "graft-pg-accept")
  acceptThread.setDaemon(true)
  acceptThread.start()

  def close(): Unit = {
    running.set(false)
    serverSocket.close()
  }

  // ------------------------------------------------------------ wire codec

  private def cstring(out: DataOutputStream, s: String): Unit = {
    out.write(s.getBytes(StandardCharsets.UTF_8))
    out.writeByte(0)
  }

  /** Per-connection-thread reusable body buffer for [[send]]: the row
    * hot path (one message per DataRow) would otherwise allocate and
    * double-copy a fresh stream per message. The in-use flag falls back
    * to a fresh buffer if a body ever nests another send. */
  private val sendBuf = ThreadLocal.withInitial[java.io.ByteArrayOutputStream](
    () => new java.io.ByteArrayOutputStream(256))
  private val sendBufBusy = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** One typed backend message: tag byte + int32 length (inclusive of
    * itself) + body. */
  private def send(out: DataOutputStream, tag: Char)(
      body: DataOutputStream => Unit): Unit = {
    val reuse = !sendBufBusy.get()
    val buf =
      if (reuse) { sendBufBusy.set(true); val b = sendBuf.get(); b.reset(); b }
      else new java.io.ByteArrayOutputStream()
    try {
      body(new DataOutputStream(buf))
      out.writeByte(tag)
      out.writeInt(4 + buf.size)
      buf.writeTo(out)
    } finally if (reuse) sendBufBusy.set(false)
  }

  private def sendError(out: DataOutputStream, msg: String,
      code: String = "XX000"): Unit =
    send(out, 'E') { b =>
      b.writeByte('S'); cstring(b, "ERROR")
      b.writeByte('C'); cstring(b, code)
      b.writeByte('M'); cstring(b, msg)
      b.writeByte(0)
    }

  private def sendNotice(out: DataOutputStream, msg: String): Unit =
    send(out, 'N') { b =>
      b.writeByte('S'); cstring(b, "NOTICE")
      b.writeByte('C'); cstring(b, "01000")
      b.writeByte('M'); cstring(b, msg)
      b.writeByte(0)
    }

  private def readyForQuery(out: DataOutputStream): Unit = {
    send(out, 'Z')(_.writeByte('I'))
    out.flush()
  }

  /** PG type OIDs (pg_type.dat) for the scalar types; everything else
    * ships as text (25) — including arrays/structs, rendered as
    * PG-style literals, which psql displays and generic clients treat
    * as strings. */
  /** Shared with pg_attribute.atttypid (clients cross-reference the
    * RowDescription OID against the catalog) — one mapping, PgCatalog's. */
  private def pgTypeOid(dt: DataType): Int =
    graft.compiler.PgCatalog.typeOid(dt)

  /** Text-format rendering with PG conventions. */
  private def render(v: Any): String = v match {
    case b: Boolean => if (b) "t" else "f"
    case d: java.math.BigDecimal => d.toPlainString
    case bd: scala.math.BigDecimal => bd.bigDecimal.toPlainString
    case ts: java.sql.Timestamp => renderTimestamp(ts)
    case ldt: java.time.LocalDateTime => renderLocalDateTime(ldt)
    case bytes: Array[Byte] => // bytea hex form; must precede Array[_]
      "\\x" + bytes.map(b => f"$b%02x").mkString
    case s: collection.Seq[_] =>
      s.map(arrayElem).mkString("{", ",", "}")
    case a: Array[_] =>
      a.map(arrayElem).mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row => r.toString
    case other => other.toString
  }

  /** The engine session runs UTC and the advertised OID is 1114 (tz-less
    * timestamp), so the wire text must be the UTC wall-clock of the
    * instant. `Timestamp.toString` renders in the JVM DEFAULT timezone —
    * on a non-UTC host every value would ship shifted by the host offset
    * relative to the engine's own results. Convert through Instant at
    * UTC instead; fractional seconds are trimmed PG-style (absent when
    * zero, no trailing zeros otherwise). */
  private val tsSecondsFmt =
    java.time.format.DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss")

  private def renderTimestamp(ts: java.sql.Timestamp): String =
    renderLocalDateTime(
      ts.toInstant.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime)

  private def renderLocalDateTime(ldt: java.time.LocalDateTime): String = {
    val base = tsSecondsFmt.format(ldt)
    val micros = ldt.getNano / 1000
    if (micros == 0) base
    else base + "." + f"$micros%06d".reverse.dropWhile(_ == '0').reverse
  }

  /** One element of a PG array literal: unquoted NULL for SQL NULL;
    * elements containing structural characters (comma, braces, quote,
    * backslash, whitespace), empty strings, and the literal word "null"
    * are double-quoted with backslash escaping — otherwise `{a,b}` vs
    * `array('a,b')` would be indistinguishable to a parsing client. */
  private def arrayElem(e: Any): String = {
    if (e == null) return "NULL"
    val s = render(e)
    val needsQuote = s.isEmpty || s.equalsIgnoreCase("null") ||
      s.exists(c => c == ',' || c == '{' || c == '}' || c == '"' ||
        c == '\\' || c.isWhitespace)
    if (needsQuote)
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    else s
  }

  // ------------------------------------------------------- binary formats

  /** Microseconds/days between the Unix epoch and PG's 2000-01-01. */
  private val PgEpochDays = 10957L
  private val PgEpochMicros = 946684800000000L

  private def epochMicrosUtc(ldt: java.time.LocalDateTime): Long =
    ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
      ldt.getNano / 1000L

  /** PG binary-format encoding of one non-NULL value, by its Spark type
    * (consistent with the OID [[pgTypeOid]] advertised for it). Types
    * advertised as text ship their text rendering's bytes — that IS the
    * binary format of the text type. */
  private def binValue(v: Any, dt: DataType): Array[Byte] = {
    val bb = (n: Int) => java.nio.ByteBuffer.allocate(n)
    dt match {
      case BooleanType =>
        Array[Byte](if (v.asInstanceOf[Boolean]) 1 else 0)
      case ByteType | ShortType => // advertised int2
        bb(2).putShort(v match {
          case b: Byte => b.toShort
          case s: Short => s
        }).array()
      case IntegerType => bb(4).putInt(v.asInstanceOf[Int]).array()
      case LongType => bb(8).putLong(v.asInstanceOf[Long]).array()
      case FloatType =>
        bb(4).putInt(java.lang.Float.floatToIntBits(
          v.asInstanceOf[Float])).array()
      case DoubleType =>
        bb(8).putLong(java.lang.Double.doubleToLongBits(
          v.asInstanceOf[Double])).array()
      case _: DecimalType => PgNumeric.encode(v match {
        case d: java.math.BigDecimal => d
        case d: scala.math.BigDecimal => d.bigDecimal
      })
      case DateType => bb(4).putInt(((v match {
        case d: java.sql.Date => d.toLocalDate.toEpochDay
        case d: java.time.LocalDate => d.toEpochDay
      }) - PgEpochDays).toInt).array()
      case TimestampType | TimestampNTZType => bb(8).putLong((v match {
        case ts: java.sql.Timestamp =>
          ts.toInstant.getEpochSecond * 1000000L + ts.getNanos / 1000L
        case i: java.time.Instant =>
          i.getEpochSecond * 1000000L + i.getNano / 1000L
        case ldt: java.time.LocalDateTime => epochMicrosUtc(ldt)
      }) - PgEpochMicros).array()
      case _ => render(v).getBytes(StandardCharsets.UTF_8)
    }
  }

  /** Decode one binary-format parameter into its TEXT form, which then
    * rides the same typed-literal path as text parameters
    * ([[paramLiteral]]). OIDs outside the advertised scalar set are a
    * clean 0A000 — the server cannot interpret bytes it never described. */
  private def binaryParamText(bytes: Array[Byte], oid: Int): String = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    def need(n: Int): Unit = if (bytes.length != n)
      throw new PgErr(
        s"invalid binary length ${bytes.length} for type OID $oid", "22P02")
    oid match {
      case 16 => need(1); if (buf.get() != 0) "true" else "false"
      case 21 => need(2); buf.getShort().toString
      case 23 => need(4); buf.getInt().toString
      case 20 => need(8); buf.getLong().toString
      case 700 =>
        need(4); java.lang.Float.intBitsToFloat(buf.getInt()).toString
      case 701 =>
        need(8); java.lang.Double.longBitsToDouble(buf.getLong()).toString
      case 1700 => PgNumeric.decode(bytes).toPlainString
      case 1082 =>
        need(4)
        java.time.LocalDate.ofEpochDay(buf.getInt() + PgEpochDays).toString
      case 1114 | 1184 =>
        need(8)
        val em = buf.getLong() + PgEpochMicros
        renderLocalDateTime(java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(em, 1000000L),
          Math.floorMod(em, 1000000L).toInt * 1000,
          java.time.ZoneOffset.UTC))
      case 25 | 1042 | 1043 | 0 => // text family: binary == raw bytes
        new String(bytes, StandardCharsets.UTF_8)
      case other => throw new PgErr(
        s"binary parameter format for type OID $other is not supported",
        "0A000")
    }
  }

  /** Result-format resolution per the Bind rules: no codes → all text,
    * one code → applies to every column, else one per column. */
  private def resultFmt(fmts: Array[Int], i: Int): Int =
    if (fmts.isEmpty) 0
    else if (fmts.length == 1) fmts(0)
    else if (i < fmts.length) fmts(i)
    else 0

  /** PG `numeric` binary format: int16 ndigits, weight, sign, dscale,
    * then ndigits base-10000 groups most-significant first; the value is
    * Σ digits(i) × 10000^(weight − i). Sign 0x4000 is negative; NaN
    * (0xC000) has no engine value and errors. */
  private object PgNumeric {
    private val B = java.math.BigInteger.valueOf(10000)

    def encode(dec: java.math.BigDecimal): Array[Byte] = {
      val sign = if (dec.signum() < 0) 0x4000 else 0x0000
      val abs = dec.abs()
      val dscale = math.max(0, dec.scale())
      val intPart = abs.toBigInteger
      var intGroups = List.empty[Int]
      var ip = intPart
      while (ip.signum() > 0) {
        val qr = ip.divideAndRemainder(B)
        intGroups = qr(1).intValue() :: intGroups
        ip = qr(0)
      }
      // fraction padded to whole base-10000 groups (exact: group width
      // ≥ dscale), decomposed most-significant first
      val fracGroupCount = (dscale + 3) / 4
      val fracGroups = new Array[Int](fracGroupCount)
      var f = abs.subtract(new java.math.BigDecimal(intPart))
        .movePointRight(fracGroupCount * 4).toBigInteger
      var i = fracGroupCount - 1
      while (i >= 0) {
        val qr = f.divideAndRemainder(B)
        fracGroups(i) = qr(1).intValue()
        f = qr(0)
        i -= 1
      }
      var digits = intGroups.toVector ++ fracGroups.toVector
      var weight = intGroups.length - 1
      if (intGroups.isEmpty) {
        // |x| < 1: weight counts down from the first fraction group
        weight = -1
        while (digits.nonEmpty && digits.head == 0) {
          digits = digits.tail; weight -= 1
        }
      }
      while (digits.nonEmpty && digits.last == 0) // formula-preserving
        digits = digits.dropRight(1)
      if (digits.isEmpty) weight = 0
      val out = java.nio.ByteBuffer.allocate(8 + 2 * digits.length)
      out.putShort(digits.length.toShort)
      out.putShort(weight.toShort)
      out.putShort(sign.toShort)
      out.putShort(dscale.toShort)
      digits.foreach(d => out.putShort(d.toShort))
      out.array()
    }

    def decode(bytes: Array[Byte]): java.math.BigDecimal = {
      if (bytes.length < 8) throw new PgErr(
        s"invalid binary length ${bytes.length} for type numeric", "22P02")
      val buf = java.nio.ByteBuffer.wrap(bytes)
      val nd = buf.getShort().toInt
      val weight = buf.getShort().toInt
      val sign = buf.getShort() & 0xFFFF
      val dscale = buf.getShort().toInt
      if (sign == 0xC000) throw new PgErr(
        "numeric NaN has no SQL value here", "22P02")
      if (bytes.length != 8 + 2 * nd) throw new PgErr(
        s"numeric binary declares $nd digits in ${bytes.length} bytes",
        "22P02")
      var acc = java.math.BigDecimal.ZERO
      var i = 0
      while (i < nd) {
        val d = buf.getShort().toInt
        if (d < 0 || d > 9999) throw new PgErr(
          s"numeric binary digit group $d out of range", "22P02")
        acc = acc.add(java.math.BigDecimal.valueOf(d.toLong)
          .scaleByPowerOfTen(4 * (weight - i)))
        i += 1
      }
      if (sign == 0x4000) acc = acc.negate()
      // dscale only ever extends the scale of the digit-group sum
      try acc.setScale(dscale) catch { case _: ArithmeticException => acc }
    }
  }

  // ------------------------------------------------------------ connection

  /** Frames above this are protocol garbage, not queries — reject before
    * allocating (a bogus int32 length would otherwise attempt a
    * multi-GB array). */
  private val MaxFrameBytes = 1 << 26 // 64 MiB

  /** live connections by backend pid → (cancel secret, Spark job group);
    * consulted by out-of-band CancelRequest sockets */
  private val cancelKeys =
    new java.util.concurrent.ConcurrentHashMap[Int, (Int, String)]()
  private val pidCounter = new java.util.concurrent.atomic.AtomicInteger(0)
  private val secureRandom = new java.security.SecureRandom()

  private def serve(sock: Socket): Unit = {
    var myPid = -1
    try {
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
      val out = new DataOutputStream(
        new BufferedOutputStream(sock.getOutputStream))

      // --- negotiation: refuse SSL/GSS until a real StartupMessage lands
      var startupLen = in.readInt()
      var code = in.readInt()
      var guard = 0
      while ((code == 80877103 || code == 80877104) && guard < 4) {
        out.writeByte('N') // no SSL / no GSS — client retries plaintext
        out.flush()
        startupLen = in.readInt()
        code = in.readInt()
        guard += 1
      }
      if (code == 80877102) {
        // CancelRequest: body is the (pid, secret) pair from the target
        // connection's BackendKeyData. Out-of-band by design — it rides
        // its own socket, which closes with no response (PG protocol).
        // A match cancels the Spark job group every action on that
        // connection runs under; the canceled query surfaces there as an
        // ordinary ErrorResponse and the connection stays usable.
        val pid = in.readInt()
        val secret = in.readInt()
        Option(cancelKeys.get(pid)).foreach { case (s, group) =>
          if (s == secret) spark.sparkContext.cancelJobGroup(group)
        }
        return
      }
      if (code != 196608) { // protocol 3.0
        sendError(out, s"unsupported protocol code $code", "08P01")
        out.flush()
        return
      }
      if (startupLen < 8 || startupLen > MaxFrameBytes) {
        sendError(out, s"invalid startup length $startupLen", "08P01")
        out.flush()
        return
      }
      // startup parameters (user/database/options) — read and ignore
      val paramBytes = new Array[Byte](startupLen - 8)
      in.readFully(paramBytes)

      // --- trust auth + session banner
      send(out, 'R')(_.writeInt(0)) // AuthenticationOk
      Seq(
        "server_version" -> "13.0 (graft)",
        "server_encoding" -> "UTF8",
        "client_encoding" -> "UTF8",
        "DateStyle" -> "ISO, MDY",
        "integer_datetimes" -> "on",
        "standard_conforming_strings" -> "on").foreach { case (k, v) =>
        send(out, 'S') { b => cstring(b, k); cstring(b, v) }
      }
      val pid = pidCounter.incrementAndGet()
      val secret = secureRandom.nextInt()
      val jobGroup = s"graft-pg-$pid"
      cancelKeys.put(pid, (secret, jobGroup))
      myPid = pid
      // every Spark action this connection thread runs is tagged with the
      // job group (thread-local), so CancelRequest → cancelJobGroup kills
      // exactly this connection's running stages; interruptOnCancel
      // interrupts the task threads for prompt teardown
      spark.sparkContext.setJobGroup(jobGroup,
        s"pgwire connection $pid", interruptOnCancel = true)
      send(out, 'K') { b => b.writeInt(pid); b.writeInt(secret) }

      // one executor session per connection (a bootstrap failure
      // answers the client, then closes)
      val exec = try {
        graft.exec.ScopeSpec.bootstrap(spark, scope, scopeSpecPath)
      } catch {
        case scala.util.control.NonFatal(e) =>
          sendError(out, s"connection bootstrap failed: ${e.getMessage}")
          out.flush()
          return
      }
      readyForQuery(out)

      // --- message loop (simple + extended query protocols)
      val session = new ExtendedSession(exec)
      // after an error in the extended flow the backend discards
      // messages until Sync (PG protocol §55.2.2 "error recovery")
      var errorUntilSync = false
      var done = false
      while (!done) {
        val tag = in.readByte().toChar
        val len = in.readInt()
        if (len < 4 || len > MaxFrameBytes) {
          // unrecoverable: the stream is desynchronized — answer, close
          sendError(out, s"invalid message length $len", "08P01")
          out.flush()
          done = true
        } else {
          val body = new Array[Byte](len - 4)
          in.readFully(body)
          tag match {
            case 'X' => done = true
            case 'S' => // Sync: end of an extended-flow batch
              errorUntilSync = false
              readyForQuery(out)
            case 'H' => out.flush() // Flush
            case _ if errorUntilSync => // discard until Sync
            case 'Q' =>
              val sql = new String(body, 0, math.max(0, body.length - 1),
                StandardCharsets.UTF_8) // strip trailing NUL
              handleQuery(out, in, exec, sql)
              readyForQuery(out)
            case 'P' | 'B' | 'D' | 'E' | 'C' =>
              try session.handle(tag, body, out)
              catch {
                case pe: PgErr =>
                  sendError(out, pe.getMessage, pe.code)
                  errorUntilSync = true
                case scala.util.control.NonFatal(e) =>
                  sendError(out,
                    Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
                  errorUntilSync = true
              }
            case other =>
              // an unknown message type means the stream is (or is about
              // to be) desynchronized — PG treats it as a fatal protocol
              // violation and closes; waiting for a Sync would hang
              // simple-protocol clients that never send one
              sendError(out,
                s"unsupported frontend message '$other'", "08P01")
              out.flush()
              done = true
          }
        }
      }
    } catch {
      case _: EOFException => // client went away mid-message
      case _: java.io.IOException =>
    } finally {
      if (myPid > 0) cancelKeys.remove(myPid)
      sock.close()
    }
  }

  /** RowDescription; `fmts` are the portal's result-format codes (empty
    * for statement Describe and the simple flow, where format is not yet
    * chosen / always text). */
  private def sendRowDescription(out: DataOutputStream, schema: StructType,
      fmts: Array[Int] = Array.empty): Unit =
    send(out, 'T') { b =>
      b.writeShort(schema.length)
      schema.zipWithIndex.foreach { case (f, i) =>
        cstring(b, f.name)
        b.writeInt(0)    // table OID
        b.writeShort(0)  // column attribute number
        b.writeInt(pgTypeOid(f.dataType))
        b.writeShort(-1) // type size (variable)
        b.writeInt(-1)   // type modifier
        b.writeShort(resultFmt(fmts, i))
      }
    }

  private def sendDataRow(out: DataOutputStream, schema: StructType,
      row: org.apache.spark.sql.Row,
      fmts: Array[Int] = Array.empty): Unit =
    send(out, 'D') { b =>
      b.writeShort(schema.length)
      (0 until schema.length).foreach { i =>
        if (row.isNullAt(i)) b.writeInt(-1)
        else {
          val bytes =
            if (resultFmt(fmts, i) == 1)
              binValue(row.get(i), schema(i).dataType)
            else render(row.get(i)).getBytes(StandardCharsets.UTF_8)
          b.writeInt(bytes.length)
          b.write(bytes)
        }
      }
    }

  /** Driver-side materialization with the fetch cap: at 100 TB a client
    * fetch must be an aggregate or LIMIT-ed slice; the +1 probe detects
    * truncation without counting the full result. */
  private def fetchRows(
      df: DataFrame): (Array[org.apache.spark.sql.Row], Boolean) = {
    val fetched = df.limit(defaultMaxRows + 1).collect()
    (fetched.take(defaultMaxRows), fetched.length > defaultMaxRows)
  }

  private def truncationNotice(out: DataOutputStream): Unit =
    sendNotice(out,
      s"result truncated at $defaultMaxRows rows " +
        "(use LIMIT, an aggregate, or COPY TO for bulk export)")

  /** Statement tag: first keyword(s), the way psql displays them. */
  private def commandTag(sql: String): String = {
    val words = sql.trim.split("\\s+").take(2).map(_.toUpperCase)
    val tag0 = words.headOption.getOrElse("OK")
    if (tag0 == "CREATE" || tag0 == "DROP") words.mkString(" ") else tag0
  }

  /** CommandComplete tag for a result-bearing statement: PG reports
    * EXPLAIN and SHOW under their own keyword tags, not `SELECT n`. */
  private def resultTag(sql: String, n: Int): String = {
    val kw = commandTag(sql)
    if (kw == "EXPLAIN" || kw == "SHOW") kw else s"SELECT $n"
  }

  /** Transaction/parameter chatter that off-the-shelf clients emit
    * unprompted (psycopg2 sends BEGIN before the first execute, JDBC and
    * ORMs send SET/COMMIT/ROLLBACK): the engine has no transactions or
    * server parameters, so these succeed as no-ops with the tag the
    * client expects — the reference's DBAPI does the same (its
    * commit()/rollback() are pass statements,
    * reference src/framequery/alchemy/dbapi.py:40-47). */
  private def sessionNoOpTag(sql: String): Option[String] = {
    val head = sql.trim.stripSuffix(";").trim
      .split("\\s+").headOption.map(_.toUpperCase)
    head.collect {
      case "BEGIN" => "BEGIN"
      case "START" => "START TRANSACTION"
      case "COMMIT" | "END" => "COMMIT"
      case "ROLLBACK" | "ABORT" => "ROLLBACK"
      case "SET" => "SET"
      case "RESET" => "RESET"
      case "DISCARD" => "DISCARD ALL"
    }
  }

  private def handleQuery(out: DataOutputStream, in: DataInputStream,
      exec: Executor, sql: String): Unit =
    try {
      // PG simple protocol: one Query message may carry SEVERAL
      // statements (psql -c "a; b" / -f file.sql) — each gets its own
      // response sequence; an error aborts the remainder (the implicit
      // transaction), then one ReadyForQuery follows from the caller
      val stmts = Executor.splitStatements(sql)
      if (stmts.isEmpty) {
        send(out, 'I')(_ => ()) // EmptyQueryResponse
        return
      }
      for (one <- stmts) {
        sessionNoOpTag(one) match {
          case Some(tag) => send(out, 'C')(cstring(_, tag))
          case None => parseWireCopy(one) match {
            case Some(wc) =>
              if (wc.toStdout) handleCopyOut(out, exec, wc)
              else handleCopyIn(out, in, exec, wc)
            case None =>
            exec.execute(one) match {
              case None =>
                // DML/COPY tags carry the PG row count (what psql
                // displays and JDBC executeUpdate returns); others fall
                // back to the keyword
                send(out, 'C')(cstring(_,
                  exec.lastCommandTag.getOrElse(commandTag(one))))
              case Some(df) =>
                sendRowDescription(out, df.schema)
                val (rows, truncated) = fetchRows(df)
                rows.foreach(sendDataRow(out, df.schema, _))
                if (truncated) truncationNotice(out)
                send(out, 'C')(cstring(_, resultTag(one, rows.length)))
            }
          }
        }
      }
    } catch {
      // a desynchronized wire stream cannot be answered-and-continued:
      // report once, rethrow so serve() closes the connection
      case d: WireDesync =>
        sendError(out, d.getMessage, "08P01")
        out.flush()
        throw d
      // NonFatal only: a fatal JVM error propagates out of this
      // per-connection daemon thread instead of masquerading
      // as a SQL error. By itself that only kills the thread — the
      // standalone entry point installs [[FatalErrorHalt]] so it halts
      // the whole process rather than leaving a corrupted JVM serving
      // other connections.
      case scala.util.control.NonFatal(e) =>
        sendError(out,
          Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
    }

  // --------------------------------------------- COPY sub-protocol (§53.2.6)
  //
  // The wire analog of the engine's COPY statements and the most common
  // bulk path a real PG client hits (psql `\copy` both directions,
  // pg_dump-style exports). COPY … TO STDOUT streams every row as
  // CopyData — deliberately uncapped, unlike the SELECT fetch limit,
  // because this IS the bulk-export path the truncation notice points
  // at; rows ride `toLocalIterator` so the driver holds one partition,
  // not the result. COPY … FROM STDIN accepts CopyData until CopyDone,
  // parses text/csv, casts to the target table's schema, and appends to
  // the scope table. Only the text wire format (code 0) is spoken;
  // BINARY is refused like every option PG would.

  /** Unrecoverable wire-stream desynchronization during the COPY
    * sub-protocol: the client answers one ErrorResponse, then the
    * connection closes (extends IOException so handleQuery's rethrow
    * lands in serve()'s connection-closing catch — keeping the socket
    * open would misread in-flight CopyData as top-level messages). */
  private final class WireDesync(msg: String)
    extends java.io.IOException(msg)

  private[server] final case class WireCopy(target: String, cols: Seq[String],
      toStdout: Boolean, csv: Boolean, header: Boolean, delim: Char,
      nul: String)

  private val wireCopyRe =
    ("""(?is)^\s*copy\s+(\(.+\)|(?:"[^"]+"|[\w.]+))\s*""" +
      """(\(\s*[\w" ,]+\s*\))?\s*(to\s+stdout|from\s+stdin)\s*(.*?)\s*$""").r

  /** Recognize COPY … TO STDOUT / FROM STDIN (the engine's own COPY
    * statements use file paths and stay with the Executor). Returns the
    * parsed wire-copy job, or None to fall through. */
  private[server] def parseWireCopy(sql0: String): Option[WireCopy] = {
    val sql = sql0.trim.stripSuffix(";")
    wireCopyRe.findFirstMatchIn(sql).map { m =>
      val target = m.group(1).trim
      val cols = Option(m.group(2)).map(_.stripPrefix("(").stripSuffix(")")
        .split(",").map(c => stripIdentQuotes(c.trim)).toSeq)
        .getOrElse(Nil)
      val toStdout = m.group(3).toLowerCase.startsWith("to")
      val (csv, header, delim, nul) = parseCopyOptions(m.group(4))
      if (header && !csv)
        throw new IllegalArgumentException(
          "COPY HEADER available only in CSV mode")
      WireCopy(target, cols, toStdout, csv, header,
        delim.getOrElse(if (csv) ',' else '\t'),
        nul.getOrElse(if (csv) "" else "\\N"))
    }
  }

  private def stripIdentQuotes(s: String): String =
    if (s.length >= 2 && s.head == '"' && s.last == '"')
      s.substring(1, s.length - 1).replace("\"\"", "\"")
    else s.toLowerCase

  /** Both option spellings: `WITH (FORMAT csv, HEADER true, …)` and the
    * legacy bare `WITH CSV HEADER DELIMITER ','`. Returns
    * (csv, header, delimiter, null-marker). */
  private def parseCopyOptions(rest: String)
      : (Boolean, Boolean, Option[Char], Option[String]) = {
    var csv = false; var header = false
    var delim: Option[Char] = None; var nul: Option[String] = None
    val toks = """'(?:[^']|'')*'|[A-Za-z_0-9.]+"""
      .r.findAllIn(rest).toList
    def lit(t: String): String =
      t.substring(1, t.length - 1).replace("''", "'")
    var i = 0
    def peekKw: Option[String] =
      if (i < toks.length && !toks(i).startsWith("'"))
        Some(toks(i).toLowerCase) else None
    while (i < toks.length) {
      val t = toks(i).toLowerCase; i += 1
      t match {
        case "with" | "as" =>
        case "format" => peekKw match {
          case Some("csv") => csv = true; i += 1
          case Some("text") => i += 1
          case other => throw new IllegalArgumentException(
            s"unsupported COPY format ${other.getOrElse("?")}")
        }
        case "csv" => csv = true
        case "text" =>
        case "binary" => throw new IllegalArgumentException(
          "COPY BINARY is not supported; use text or csv")
        case "header" => peekKw match {
          case Some(v @ ("true" | "on" | "1")) => header = true; i += 1
          case Some("false" | "off" | "0") => header = false; i += 1
          case Some("match") => header = true; i += 1
          case _ => header = true
        }
        case "delimiter" =>
          if (i < toks.length && toks(i).startsWith("'")) {
            val d = lit(toks(i)); i += 1
            if (d.length != 1) throw new IllegalArgumentException(
              "COPY delimiter must be a single character")
            delim = Some(d.head)
          }
        case "null" =>
          if (i < toks.length && toks(i).startsWith("'")) {
            nul = Some(lit(toks(i))); i += 1
          }
        // QUOTE/ESCAPE/ENCODING alter parsing semantics: only their
        // DEFAULT values are spoken here — a non-default value silently
        // accepted would corrupt the data dialect, so refuse loudly
        case "quote" | "escape" =>
          if (i < toks.length && toks(i).startsWith("'")) {
            val v = lit(toks(i)); i += 1
            if (v != "\"") throw new IllegalArgumentException(
              s"COPY ${t.toUpperCase} '$v' is not supported; " +
                "only the default '\"'")
          }
        case "encoding" =>
          if (i < toks.length && toks(i).startsWith("'")) {
            val v = lit(toks(i)); i += 1
            if (!v.toUpperCase.replace("-", "").startsWith("UTF8"))
              throw new IllegalArgumentException(
                s"COPY ENCODING '$v' is not supported; only UTF8")
          }
        case other if other.startsWith("'") => // stray literal: ignore
        case other => throw new IllegalArgumentException(
          s"unsupported COPY option $other")
      }
    }
    (csv, header, delim, nul)
  }

  /** The frame COPY reads/writes: `(query)` compiles as a statement,
    * a bare name resolves in the session scope (optionally
    * column-pruned). */
  private def copySource(exec: Executor, wc: WireCopy): DataFrame = {
    val df =
      if (wc.target.startsWith("("))
        exec.query(wc.target.substring(1, wc.target.length - 1))
      else resolveCopyTable(exec, wc.target)._2
    if (wc.cols.nonEmpty) df.select(wc.cols.map(df.col): _*) else df
  }

  private def resolveCopyTable(exec: Executor, raw: String)
      : (String, DataFrame) = {
    // strip a schema qualifier at the last TOP-LEVEL dot — a dot inside
    // a quoted identifier ("my.table") is part of the name
    var lastDot = -1
    var inQ = false
    for (i <- raw.indices) raw.charAt(i) match {
      case '"' => inQ = !inQ
      case '.' if !inQ => lastDot = i
      case _ =>
    }
    val base = raw.substring(lastDot + 1).trim
    val name = stripIdentQuotes(base)
    exec.table(name).map(name -> _).getOrElse(
      throw new IllegalArgumentException(s"relation \"$name\" does not exist"))
  }

  private def csvField(v: String, wc: WireCopy): String = {
    val needsQuote = v.isEmpty || v == wc.nul ||
      v.exists(c => c == wc.delim || c == '"' || c == '\n' || c == '\r')
    if (needsQuote) "\"" + v.replace("\"", "\"\"") + "\"" else v
  }

  private def textField(v: String, wc: WireCopy): String =
    v.flatMap {
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c == wc.delim => "\\" + c
      case c => c.toString
    }

  private def handleCopyOut(out: DataOutputStream, exec: Executor,
      wc: WireCopy): Unit = {
    val df = copySource(exec, wc)
    val schema = df.schema
    send(out, 'H') { b => // CopyOutResponse, text wire format
      b.writeByte(0)
      b.writeShort(schema.length)
      schema.foreach(_ => b.writeShort(0))
    }
    def line(fields: Seq[String]): Unit =
      send(out, 'd')(_.write(
        (fields.mkString(wc.delim.toString) + "\n")
          .getBytes(StandardCharsets.UTF_8)))
    if (wc.header)
      line(schema.fields.toSeq.map(f => csvField(f.name, wc)))
    var n = 0L
    val it = df.toLocalIterator()
    while (it.hasNext) {
      val row = it.next()
      line((0 until schema.length).map { i =>
        if (row.isNullAt(i)) wc.nul
        else {
          val v = render(row.get(i))
          if (wc.csv) csvField(v, wc) else textField(v, wc)
        }
      })
      n += 1
    }
    send(out, 'c')(_ => ()) // CopyDone
    send(out, 'C')(cstring(_, s"COPY $n"))
  }

  // COPY FROM STDIN payloads at or under `copyInSpillBytes` buffer on
  // the driver heap and parse in memory; PAST it the frames spool to a
  // session temp file and the parse runs DISTRIBUTED over that file
  // (one frame at a time on the driver, never the payload) — a bulk
  // load has no protocol-level size cap anymore. See [[copyInFromSpill]].

  private def handleCopyIn(out: DataOutputStream, in: DataInputStream,
      exec: Executor, wc: WireCopy): Unit = {
    if (wc.target.startsWith("("))
      throw new IllegalArgumentException("COPY FROM requires a table name")
    // resolve BEFORE CopyInResponse: a missing table answers with an
    // ErrorResponse and the client never enters copy mode
    val (name, existing) = resolveCopyTable(exec, wc.target)
    val targetSchema = existing.schema
    // canonicalize the column list to the schema's exact spellings —
    // case-insensitively, like every other column resolution here
    val useCols =
      if (wc.cols.isEmpty) targetSchema.fieldNames.toSeq
      else wc.cols.map { c =>
        targetSchema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"""column "$c" of relation "$name" does not exist"""))
      }
    send(out, 'G') { b => // CopyInResponse, text wire format
      b.writeByte(0)
      b.writeShort(useCols.length)
      useCols.foreach(_ => b.writeShort(0))
    }
    out.flush() // the client waits for this before sending CopyData
    // consume the sub-protocol stream COMPLETELY before any error is
    // raised — bailing mid-copy would desynchronize the connection:
    // the client would keep streaming CopyData frames that the main
    // loop then misreads as top-level messages. Oversized frames are
    // therefore SKIPPED (length is known) and converted to a clean
    // error after CopyDone; only a nonsensical length (< 4 — the
    // stream itself can no longer be trusted) closes the connection.
    val buf = new java.io.ByteArrayOutputStream()
    var spillPath: org.apache.hadoop.fs.Path = null
    var spillFs: org.apache.hadoop.fs.FileSystem = null
    var spillOut: java.io.OutputStream = null
    // Spill-path guards tracked BYTE-wise while spooling (every byte
    // the machine inspects — '"', '\\', '.', CR, LF — is ASCII and
    // never occurs inside a UTF-8 multibyte sequence):
    //  - CSV records may legally contain quoted newlines (LF or a bare
    //    CR — Hadoop's line reader splits on both), which the
    //    distributed linewise split would tear: detect, refuse cleanly
    //    after CopyDone.
    //  - an UNQUOTED `\.` line is the end-of-data marker (PG rule for
    //    both formats): stop spooling there so everything after it is
    //    dropped, exactly as the in-memory parsers do.
    //  - the header line (if any) is stripped here, since "first row"
    //    is not a distributed notion.
    var csvInQuote = false
    var csvQuotedNewline = false
    var skipHeader = wc.header
    var atLineStart = true
    var termState = 0 // 1: saw \ at line start; 2: saw \.; 3: saw \.CR
    var terminated = false
    val frameBuf = new java.io.ByteArrayOutputStream()
    def spillWrite(bytes: Array[Byte]): Unit = {
      var off = 0
      if (skipHeader) {
        val nl = bytes.indexOf('\n'.toByte)
        if (wc.csv) {
          var j = 0
          val until = if (nl < 0) bytes.length else nl + 1
          while (j < until) {
            if (bytes(j) == '"') csvInQuote = !csvInQuote; j += 1
          }
        }
        if (nl < 0) return // header spans frames; keep skipping
        off = nl + 1; skipHeader = false
      }
      frameBuf.reset()
      var j = off
      while (j < bytes.length && !terminated) {
        val b = bytes(j)
        // the `\.` machine withholds at most 3 bytes ("\\." + CR) until
        // the line either confirms as the terminator or flushes as data
        termState match {
          case 1 =>
            if (b == '.') termState = 2
            else {
              frameBuf.write('\\'); termState = 0; atLineStart = false
              j -= 1 // reprocess b as a plain byte
            }
          case 2 =>
            if (b == '\n') terminated = true
            else if (b == '\r') termState = 3
            else {
              frameBuf.write('\\'); frameBuf.write('.')
              termState = 0; atLineStart = false
              j -= 1
            }
          case 3 =>
            if (b == '\n') terminated = true
            else {
              frameBuf.write('\\'); frameBuf.write('.'); frameBuf.write('\r')
              termState = 0; atLineStart = false
              j -= 1
            }
          case _ =>
            if (atLineStart && !csvInQuote && b == '\\') termState = 1
            else {
              if (wc.csv) {
                if (b == '"') csvInQuote = !csvInQuote
                else if ((b == '\n' || b == '\r') && csvInQuote)
                  csvQuotedNewline = true
              }
              frameBuf.write(b)
              atLineStart = b == '\n'
            }
        }
        j += 1
      }
      frameBuf.writeTo(spillOut)
    }
    var fail: Option[String] = None
    var copying = true
    while (copying) {
      val tag = in.readByte().toChar
      val len = in.readInt()
      if (len < 4)
        throw new WireDesync(s"invalid COPY frame length $len")
      val bodyLen = len - 4
      val oversized = bodyLen > MaxFrameBytes
      val body =
        if (oversized) { // skip without buffering; fail cleanly below
          var left = bodyLen
          while (left > 0) {
            val sk = in.skipBytes(left)
            if (sk <= 0)
              throw new WireDesync("EOF while skipping oversized CopyData")
            left -= sk
          }
          Array.empty[Byte]
        } else { val a = new Array[Byte](bodyLen); in.readFully(a); a }
      tag match {
        case 'd' =>
          if (fail.isEmpty && oversized)
            fail = Some(s"CopyData frame of $bodyLen bytes exceeds the " +
              s"$MaxFrameBytes-byte frame cap")
          if (fail.isEmpty) {
            if (spillOut == null &&
                buf.size + body.length > copyInSpillBytes) {
              // spool on the session's DEFAULT Hadoop filesystem, not
              // the driver's local /tmp: on a real cluster the
              // distributed parse schedules tasks on executors that
              // cannot read a driver-local file (in local mode the
              // default FS is file:// and this degrades to a temp file)
              spillFs = org.apache.hadoop.fs.FileSystem.get(
                spark.sparkContext.hadoopConfiguration)
              spillPath = new org.apache.hadoop.fs.Path(
                spillFs.getHomeDirectory,
                s".graft_copyin/copyin-${java.util.UUID.randomUUID}.dat")
              spillOut = new java.io.BufferedOutputStream(
                spillFs.create(spillPath, true), 1 << 16)
              spillFs.deleteOnExit(spillPath)
              copyInSpills.incrementAndGet()
              spillWrite(buf.toByteArray); buf.reset()
            }
            if (spillOut != null) spillWrite(body) else buf.write(body)
          }
        case 'c' => copying = false // CopyDone
        case 'f' => // CopyFail: the client aborted
          fail = Some("COPY aborted by client")
          copying = false
        case 'H' | 'S' => // Flush/Sync riding the copy stream: ignore
        case other =>
          throw new WireDesync(
            s"unexpected message '$other' during COPY FROM STDIN")
      }
    }
    if (spillOut != null) {
      // a `\.` prefix pending at EOF IS the terminator (PG allows the
      // marker as the final line with no trailing newline); a lone
      // withheld backslash was data after all
      if (!terminated && termState == 1) spillOut.write('\\')
      spillOut.close()
    }
    fail.foreach { msg =>
      if (spillPath != null) spillFs.delete(spillPath, false)
      throw new IllegalArgumentException(msg)
    }
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.{lit => flit, col => fcol, sum => fsum, when => fwhen, first => ffirst}
    val strSchema = StructType(useCols.map(c =>
      org.apache.spark.sql.types.StructField(c, StringType)))
    val (strDf, nRows): (DataFrame, Long) =
      if (spillPath != null)
        copyInFromSpill(spillFs, spillPath, wc, useCols.length, strSchema,
          csvQuotedNewline)
      else {
        val data = new String(buf.toByteArray, StandardCharsets.UTF_8)
        val parsed =
          if (wc.csv) parseCopyCsv(data, wc)
          else parseCopyText(data, wc)
        val rows0 = if (wc.header && parsed.nonEmpty) parsed.tail else parsed
        rows0.find(_.length != useCols.length).foreach { bad =>
          throw new IllegalArgumentException(
            s"COPY row has ${bad.length} fields, expected ${useCols.length}")
        }
        (spark.createDataFrame(
          rows0.map(a => org.apache.spark.sql.Row.fromSeq(a.toSeq)).asJava,
          strSchema), rows0.length.toLong)
      }
    // PG rejects un-parseable values with the offending value named.
    // Probe each typed column with try_cast (the ANSI cast the final
    // union uses would throw Spark's own error lazily, INSIDE a later
    // query over the table) and refuse the whole COPY upfront — one
    // eager aggregate over the batch, which also means CommandComplete
    // is only sent after the data actually ran.
    val typedCols = targetSchema.fields.filter(f =>
      useCols.contains(f.name) && f.dataType != StringType)
    if (typedCols.nonEmpty && nRows > 0) {
      val probes = typedCols.flatMap { f =>
        val tried = org.apache.spark.sql.functions.expr(
          s"try_cast(`${f.name}` AS ${f.dataType.sql})")
        val bad = fcol(f.name).isNotNull && tried.isNull
        Seq(fsum(bad.cast("long")).as(s"__n_${f.name}"),
          ffirst(fwhen(bad, fcol(f.name)), ignoreNulls = true)
            .as(s"__v_${f.name}"))
      }
      val r = strDf.agg(probes.head, probes.tail: _*).collect()(0)
      typedCols.zipWithIndex.foreach { case (f, i) =>
        if (!r.isNullAt(2 * i) && r.getLong(2 * i) > 0)
          throw new IllegalArgumentException(
            s"""invalid input syntax for column "${f.name}" """ +
              s"(${f.dataType.simpleString}): \"${r.getString(2 * i + 1)}\"")
      }
    }
    // cast to the target column types; unlisted columns fill with NULL
    val aligned = existing.unionAll(strDf.select(targetSchema.fields.map {
      f =>
        if (useCols.contains(f.name)) strDf.col(f.name).cast(f.dataType)
          .as(f.name)
        else flit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*))
    exec.update(name -> aligned)
    send(out, 'C')(cstring(_, s"COPY $nRows"))
  }

  /** Distributed parse of a spooled COPY FROM STDIN payload: the spool
    * file reads linewise (text-format rows never contain raw newlines
    * — they arrive escaped; a CSV payload with quoted newlines was
    * detected during spooling and is refused here rather than torn;
    * the unquoted `\.` end-of-data marker already STOPPED the spool,
    * so nothing after it is on disk), and every line decodes through
    * the SAME [[CopyCodec]] dialect the in-memory path uses — payload
    * size never changes semantics. The spool file lives on the
    * session's default Hadoop filesystem and must outlive the COPY:
    * the loaded relation reads it lazily on every downstream query —
    * the automatic equivalent of "stage the data and COPY FROM
    * '<path>'" — and deleteOnExit reclaims it with the session. */
  private def copyInFromSpill(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, wc: WireCopy,
      nCols: Int, strSchema: StructType,
      csvQuotedNewline: Boolean): (DataFrame, Long) = {
    if (wc.csv && csvQuotedNewline) {
      fs.delete(path, false)
      throw new IllegalArgumentException(
        s"COPY FROM STDIN (csv) payload exceeds the $copyInSpillBytes-" +
          "byte in-memory threshold and contains quoted newlines, which " +
          "the distributed linewise parse cannot split; stage the data " +
          "and use COPY FROM '<path>' instead")
    }
    // plain locals only: the task closures must not capture `this`
    // (a socket-holding server) or the class-nested WireCopy
    val delim = wc.delim; val nul = wc.nul; val csv = wc.csv
    import spark.implicits._
    val parsed = spark.read.textFile(path.toString)
      .map { l0 =>
        val l = l0.stripSuffix("\r")
        // `l + "\n"` keeps blank-line semantics identical to the
        // in-memory parse: a blank CSV line is a row with one empty
        // unquoted field, not zero rows
        if (csv) CopyCodec.parseCsv(l + "\n", delim, nul).head
        else CopyCodec.parseTextLine(l, delim, nul)
      }
    // one pass answers both gate questions (row count + any wrong-arity
    // row with its arity); the relation itself stays lazy — downstream
    // queries re-read the spool exactly like a path-COPY would
    val arities = parsed.groupByKey(_.length).count().collect().toMap
    arities.keys.find(_ != nCols).foreach { bad =>
      throw new IllegalArgumentException(
        s"COPY row has $bad fields, expected $nCols")
    }
    val strDf = spark.createDataFrame(
      parsed.rdd.map(a => org.apache.spark.sql.Row.fromSeq(a.toSeq)),
      strSchema)
    (strDf, arities.values.sum)
  }

  /** PG text-format rows (per-line dialect in
    * [[CopyCodec.parseTextLine]]): a `\\.` line terminates the data. An
    * empty line is a row with one empty field (how PG writes a
    * single-column empty string) — only the virtual segment after the
    * final newline is not a row. */
  private[server] def parseCopyText(data: String,
      wc: WireCopy): Vector[Array[String]] = {
    val segs = data.split("\n", -1)
    val lines: Seq[String] =
      if (segs.nonEmpty && segs.last.isEmpty) segs.dropRight(1).toSeq
      else segs.toSeq
    lines.iterator
      .map(_.stripSuffix("\r"))
      .takeWhile(_ != "\\.")
      .map(CopyCodec.parseTextLine(_, wc.delim, wc.nul))
      .toVector
  }

  /** CSV rows — PG dialect, see [[CopyCodec.parseCsv]]. */
  private[server] def parseCopyCsv(data: String,
      wc: WireCopy): Vector[Array[String]] =
    CopyCodec.parseCsv(data, wc.delim, wc.nul)

  // ------------------------------------------------------- extended flow

  /** Protocol-level error with a PG SQLSTATE; thrown by the extended-flow
    * handlers, answered with ErrorResponse, then the connection discards
    * messages until Sync. */
  private final class PgErr(msg: String, val code: String)
    extends RuntimeException(msg)

  /** Positional reader over one frontend message body. */
  private final class Reader(body: Array[Byte]) {
    private val buf = java.nio.ByteBuffer.wrap(body)
    def byte(): Byte = buf.get()
    def int16(): Int = buf.getShort().toInt
    def int32(): Int = buf.getInt()
    def bytes(n: Int): Array[Byte] = {
      val a = new Array[Byte](n); buf.get(a); a
    }
    def cstring(): String = {
      val start = buf.position()
      while (buf.get() != 0) {}
      new String(body, start, buf.position() - 1 - start,
        StandardCharsets.UTF_8)
    }
  }

  private val intText = "[+-]?[0-9]+".r.pattern
  private val numText =
    "[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?".r.pattern

  /** One bound parameter as a SQL literal. Values arrive in PG text
    * format; the OID declared at Parse picks the literal shape. Numeric
    * OIDs are validated against numeric syntax (a malformed value is a
    * 22P02 error, never inlined into the statement), everything else
    * rides as a `''`-escaped string literal — the engine's CAST/coercion
    * rules then apply, which is PG's own unknown-type resolution model. */
  private def paramLiteral(value: Option[String], oid: Int): String =
    value match {
      case None => oid match {
        // typed NULLs so a Describe probe resolves the same schema the
        // typed execution will
        case 16 => "CAST(NULL AS BOOLEAN)"
        // per-width int mapping: a Describe probe advertising int8 for
        // a declared int4 parameter would contradict the 4-byte binary
        // the typed Execute actually ships (pgjdbc caches Describe OIDs)
        case 21 => "CAST(NULL AS SMALLINT)"
        case 23 | 26 => "CAST(NULL AS INT)"
        case 20 => "CAST(NULL AS BIGINT)"
        case 700 => "CAST(NULL AS REAL)"
        case 701 => "CAST(NULL AS DOUBLE)"
        case 1700 => "CAST(NULL AS DECIMAL(38,18))"
        case 1082 => "CAST(NULL AS DATE)"
        case 1114 | 1184 => "CAST(NULL AS TIMESTAMP)"
        case _ => "NULL"
      }
      case Some(text) =>
        def quoted = "'" + text.replace("'", "''") + "'"
        oid match {
          case 16 => text.toLowerCase match {
            case "t" | "true" | "y" | "yes" | "on" | "1" => "TRUE"
            case "f" | "false" | "n" | "no" | "off" | "0" => "FALSE"
            case _ => throw new PgErr(
              s"invalid input syntax for type boolean: \"$text\"", "22P02")
          }
          case 20 | 21 | 23 | 26 =>
            // cast to the DECLARED width (bare int literals compile to
            // BIGINT in the engine — Describe would then contradict the
            // bytes Execute ships); folds at plan time
            val w = oid match {
              case 21 => "SMALLINT"; case 23 | 26 => "INT"; case _ => "BIGINT"
            }
            if (intText.matcher(text).matches()) s"CAST($text AS $w)"
            else throw new PgErr(
              s"invalid input syntax for type integer: \"$text\"", "22P02")
          case 700 | 701 =>
            val w = if (oid == 700) "REAL" else "DOUBLE"
            if (numText.matcher(text).matches()) s"CAST($text AS $w)"
            else if (Set("nan", "infinity", "-infinity", "+infinity")
                .contains(text.toLowerCase))
              s"CAST($quoted AS $w)"
            else throw new PgErr(
              s"invalid input syntax for type double precision: \"$text\"",
              "22P02")
          case 1700 =>
            if (numText.matcher(text).matches()) text
            else throw new PgErr(
              s"invalid input syntax for type numeric: \"$text\"", "22P02")
          case 1082 => s"CAST($quoted AS DATE)"
          case 1114 | 1184 => s"CAST($quoted AS TIMESTAMP)"
          case _ => quoted
        }
    }

  /** Walk the statement text outside quoted regions, handing `$n`
    * references to `onParam`. Single quotes (with `''` escapes),
    * double-quoted identifiers, `--` line comments and (nested, per PG)
    * block comments are opaque — a `$1` inside any of them is data, not
    * a parameter. */
  private def scanParams(sql: String, out: StringBuilder)(
      onParam: Int => String): Unit = {
    var i = 0
    var inSingle = false
    var inDouble = false
    var inLine = false
    var blockDepth = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inSingle) {
        out.append(c)
        if (c == '\'') {
          if (i + 1 < sql.length && sql.charAt(i + 1) == '\'') {
            out.append('\''); i += 1
          } else inSingle = false
        }
        i += 1
      } else if (inDouble) {
        out.append(c); if (c == '"') inDouble = false; i += 1
      } else if (inLine) {
        out.append(c); if (c == '\n') inLine = false; i += 1
      } else if (blockDepth > 0) {
        if (c == '*' && i + 1 < sql.length && sql.charAt(i + 1) == '/') {
          out.append("*/"); blockDepth -= 1; i += 2
        } else if (c == '/' && i + 1 < sql.length && sql.charAt(i + 1) == '*') {
          out.append("/*"); blockDepth += 1; i += 2
        } else { out.append(c); i += 1 }
      } else if (c == '\'') { inSingle = true; out.append(c); i += 1 }
      else if (c == '"') { inDouble = true; out.append(c); i += 1 }
      else if (c == '-' && i + 1 < sql.length && sql.charAt(i + 1) == '-') {
        inLine = true; out.append("--"); i += 2
      } else if (c == '/' && i + 1 < sql.length && sql.charAt(i + 1) == '*') {
        blockDepth = 1; out.append("/*"); i += 2
      } else if (c == '$' && i + 1 < sql.length && sql.charAt(i + 1).isDigit &&
          (i == 0 || { val prev = sql.charAt(i - 1)
            // PG: $n after an identifier character is part of the
            // identifier (the engine tokenizer allows $ in idents), not
            // a parameter — price$1 must not be substituted into
            !prev.isLetterOrDigit && prev != '_' && prev != '$' })) {
        var j = i + 1
        while (j < sql.length && sql.charAt(j).isDigit) j += 1
        val digits = sql.substring(i + 1, j)
        if (digits.length > 5) // PG caps parameters at 65535
          throw new PgErr(s"parameter number $$$digits out of range", "08P01")
        out.append(onParam(digits.toInt))
        i = j
      } else { out.append(c); i += 1 }
    }
  }

  /** Highest `$n` referenced — the statement's parameter count. */
  private def countParams(sql: String): Int = {
    var max = 0
    scanParams(sql, new StringBuilder) { idx => max = math.max(max, idx); "" }
    max
  }

  private def substituteParams(sql: String,
      values: IndexedSeq[Option[String]], oids: Array[Int]): String = {
    val out = new StringBuilder
    scanParams(sql, out) { idx =>
      if (idx < 1 || idx > values.length)
        throw new PgErr(s"there is no parameter $$$idx " +
          s"(${values.length} supplied)", "08P01")
      paramLiteral(values(idx - 1), if (idx - 1 < oids.length) oids(idx - 1)
        else 0)
    }
    out.toString
  }

  /** Per-connection extended-protocol state: named prepared statements
    * and portals (PG protocol "Extended Query"). Parse stores the text;
    * Bind substitutes parameters and compiles side-effect-free
    * statements LAZILY (no Spark action); Describe answers from the
    * lazy plan without executing anything; Execute is the only message
    * that runs an action — collect for queries (capped like the simple
    * flow, with PortalSuspended honoring the client's row limit so JDBC
    * fetchSize cursors work), or the statement's side effect exactly
    * once for DDL/COPY. */
  private final class ExtendedSession(exec: Executor) {
    private final case class Prepared(sql: String, paramOids: Array[Int])

    private final class Portal(val sql: String, val df: Option[DataFrame],
        val noOpTag: Option[String], val resFmts: Array[Int],
        // statements whose COMPILATION is execution (EXPLAIN ANALYZE):
        // Bind/Describe must not run them; the static result schema is
        // advertised and the frame captured at Execute
        val deferredSchema: Option[StructType] = None) {
      var rows: Array[org.apache.spark.sql.Row] = _ // null until Execute
      var truncated = false
      var pos = 0
      var executed = false // side-effect statements run exactly once
      var tag: Option[String] = None // row-count tag captured at Execute
      var deferredDf: Option[DataFrame] = None // result captured at Execute
    }

    private val prepared =
      scala.collection.mutable.Map.empty[String, Prepared]
    private val portals = scala.collection.mutable.Map.empty[String, Portal]

    def handle(tag: Char, body: Array[Byte],
        out: DataOutputStream): Unit = {
      val r = new Reader(body)
      tag match {
        case 'P' => parse(r, out)
        case 'B' => bind(r, out)
        case 'D' => describe(r, out)
        case 'E' => execute(r, out)
        case 'C' => close(r, out)
      }
    }

    private def parse(r: Reader, out: DataOutputStream): Unit = {
      val name = r.cstring()
      val sql = r.cstring()
      val n = r.int16()
      val oids = Array.fill(n)(r.int32())
      // validation is deferred to Bind: the engine's parser has no `$n`
      // placeholder form, so the text is only parseable once bound
      prepared(name) = Prepared(sql, oids)
      send(out, '1')(_ => ()) // ParseComplete
    }

    private def bind(r: Reader, out: DataOutputStream): Unit = {
      val portalName = r.cstring()
      val stmtName = r.cstring()
      val stmt = prepared.getOrElse(stmtName, throw new PgErr(
        s"prepared statement \"$stmtName\" does not exist", "26000"))
      val nFmt = r.int16()
      val fmts = Array.fill(nFmt)(r.int16())
      if (fmts.exists(f => f != 0 && f != 1)) throw new PgErr(
        s"invalid parameter format code", "08P01")
      val nParams = r.int16()
      // PG protocol: the format-code list is empty (all text), a single
      // code applying to every parameter, or exactly one per parameter
      if (nFmt > 1 && nFmt != nParams) throw new PgErr(
        s"bind message has $nFmt parameter formats but $nParams parameters",
        "08P01")
      val values: IndexedSeq[Option[String]] = (0 until nParams).map { i =>
        val len = r.int32()
        if (len == -1) None
        else {
          val fmt = if (nFmt == 0) 0 else if (nFmt == 1) fmts(0)
            else fmts(i)
          val raw = r.bytes(len)
          if (fmt == 1)
            // binary parameter: decode to text, then ride the same
            // typed-literal path — one validation surface for both formats
            Some(binaryParamText(raw,
              if (i < stmt.paramOids.length) stmt.paramOids(i) else 0))
          else Some(new String(raw, StandardCharsets.UTF_8))
        }
      }
      val nResFmt = r.int16()
      val resFmts = Array.fill(nResFmt)(r.int16())
      if (resFmts.exists(f => f != 0 && f != 1)) throw new PgErr(
        s"invalid result format code", "08P01")
      val bound = substituteParams(stmt.sql, values, stmt.paramOids)
      val noOp = sessionNoOpTag(bound)
      val deferred =
        if (noOp.isDefined || bound.trim.isEmpty) None
        else exec.deferredResultSchema(bound)
      val df =
        if (noOp.isDefined || bound.trim.isEmpty || bound.trim == ";" ||
            deferred.isDefined) None
        else exec.compileQuery(bound)
      portals(portalName) = new Portal(bound, df, noOp, resFmts, deferred)
      send(out, '2')(_ => ()) // BindComplete
    }

    private def describe(r: Reader, out: DataOutputStream): Unit = {
      val kind = r.byte().toChar
      val name = r.cstring()
      kind match {
        case 'S' =>
          val stmt = prepared.getOrElse(name, throw new PgErr(
            s"prepared statement \"$name\" does not exist", "26000"))
          val nParams = countParams(stmt.sql)
          send(out, 't') { b => // ParameterDescription
            b.writeShort(nParams)
            (0 until nParams).foreach { i =>
              b.writeInt(
                if (i < stmt.paramOids.length && stmt.paramOids(i) != 0)
                  stmt.paramOids(i)
                else 25)
            }
          }
          if (sessionNoOpTag(stmt.sql).isDefined ||
              stmt.sql.trim.isEmpty) send(out, 'n')(_ => ())
          else {
            // schema probe: typed NULLs stand in for the parameters; the
            // compile is lazy and side-effect-free (compileQuery returns
            // None for DDL/COPY rather than running them)
            val probe = substituteParams(stmt.sql,
              Vector.fill(nParams)(None), stmt.paramOids)
            exec.deferredResultSchema(probe) match {
              case Some(schema) => sendRowDescription(out, schema)
              case None => exec.compileQuery(probe) match {
                case Some(df) => sendRowDescription(out, df.schema)
                case None => send(out, 'n')(_ => ()) // NoData
              }
            }
          }
        case 'P' =>
          val portal = portals.getOrElse(name, throw new PgErr(
            s"portal \"$name\" does not exist", "34000"))
          portal.df match {
            case Some(df) =>
              sendRowDescription(out, df.schema, portal.resFmts)
            case None => portal.deferredSchema match {
              case Some(schema) =>
                sendRowDescription(out, schema, portal.resFmts)
              case None => send(out, 'n')(_ => ())
            }
          }
        case other => throw new PgErr(
          s"invalid DESCRIBE kind '$other'", "08P01")
      }
    }

    private def execute(r: Reader, out: DataOutputStream): Unit = {
      val name = r.cstring()
      val maxRows = r.int32()
      val portal = portals.getOrElse(name, throw new PgErr(
        s"portal \"$name\" does not exist", "34000"))
      portal.noOpTag match {
        case Some(tag) =>
          send(out, 'C')(cstring(_, tag))
          return
        case None =>
      }
      if (portal.sql.trim.isEmpty || portal.sql.trim == ";") {
        send(out, 'I')(_ => ()) // EmptyQueryResponse
        return
      }
      portal.df match {
        case Some(df) =>
          if (portal.rows == null) {
            val (rows, trunc) = fetchRows(df)
            portal.rows = rows
            portal.truncated = trunc
          }
          val limit = if (maxRows <= 0) Int.MaxValue else maxRows
          val end = math.min(portal.rows.length.toLong,
            portal.pos.toLong + limit).toInt
          while (portal.pos < end) {
            sendDataRow(out, df.schema, portal.rows(portal.pos),
              portal.resFmts)
            portal.pos += 1
          }
          if (portal.pos < portal.rows.length)
            send(out, 's')(_ => ()) // PortalSuspended: client re-Executes
          else {
            if (portal.truncated) truncationNotice(out)
            send(out, 'C')(cstring(_, resultTag(portal.sql, portal.pos)))
          }
        case None =>
          // side-effect statement: runs HERE, exactly once — Bind and
          // Describe must not run a CTAS/COPY (or EXPLAIN ANALYZE,
          // whose compilation IS execution) as a probe
          if (!portal.executed) {
            portal.executed = true
            val res = exec.execute(portal.sql)
            portal.tag = exec.lastCommandTag
            if (portal.deferredSchema.isDefined) portal.deferredDf = res
          }
          portal.deferredDf match {
            case Some(df) =>
              // deferred result-bearing statement (EXPLAIN ANALYZE): its
              // rows ride the SAME cursor state as the regular path —
              // row-limit suspension works, a re-Execute on a drained
              // portal sends CommandComplete with no rows instead of
              // re-sending the plan — and the tag is the statement's own
              // ('EXPLAIN', as PG sends), never 'SELECT n'
              if (portal.rows == null) {
                val (rows, trunc) = fetchRows(df)
                portal.rows = rows
                portal.truncated = trunc
              }
              val limit = if (maxRows <= 0) Int.MaxValue else maxRows
              val end = math.min(portal.rows.length.toLong,
                portal.pos.toLong + limit).toInt
              while (portal.pos < end) {
                sendDataRow(out, df.schema, portal.rows(portal.pos),
                  portal.resFmts)
                portal.pos += 1
              }
              if (portal.pos < portal.rows.length)
                send(out, 's')(_ => ()) // PortalSuspended
              else {
                if (portal.truncated) truncationNotice(out)
                send(out, 'C')(cstring(_,
                  portal.tag.getOrElse(commandTag(portal.sql))))
              }
            case None =>
              send(out, 'C')(cstring(_,
                portal.tag.getOrElse(commandTag(portal.sql))))
          }
      }
    }

    private def close(r: Reader, out: DataOutputStream): Unit = {
      val kind = r.byte().toChar
      val name = r.cstring()
      kind match {
        case 'S' => prepared.remove(name)
        case 'P' => portals.remove(name)
        case other => throw new PgErr(
          s"invalid CLOSE kind '$other'", "08P01")
      }
      send(out, '3')(_ => ()) // CloseComplete
    }
  }
}

/** Process-wide backstop for the standalone server: the per-connection
  * handlers catch NonFatal only, so a fatal JVM error (OutOfMemoryError,
  * LinkageError, …) propagates out of its daemon thread — which by
  * default kills just that thread and leaves the rest of the JVM serving
  * connections in potentially corrupted state. The server is a
  * long-lived multi-connection process, so the correct policy is
  * fail-fast: halt the whole process. Installed by [[PgServeMain]] only
  * — embedded/test usage keeps the default (a fatal error in a test
  * surfaces as a test failure, not a JVM halt). */
object FatalErrorHalt {
  def install(): Unit =
    Thread.setDefaultUncaughtExceptionHandler { (t: Thread, e: Throwable) =>
      if (!scala.util.control.NonFatal(e)) {
        System.err.println(
          s"FATAL error in thread ${t.getName}: $e — halting process")
        e.printStackTrace(System.err)
        // halt, not exit: shutdown hooks could deadlock in a broken JVM
        Runtime.getRuntime.halt(1)
      } else {
        System.err.println(s"uncaught exception in thread ${t.getName}: $e")
        e.printStackTrace(System.err)
      }
    }
}

/** Standalone entry point:
  * `runMain graft.server.PgServeMain [scopeSpec.json] [port] [bindAddr]`
  * — e.g. `psql -h 127.0.0.1 -p <port> -c 'select 1 + 1'` connects
  * directly. Binds loopback unless bindAddr is given (trust auth). */
object PgServeMain {
  def main(args: Array[String]): Unit = {
    FatalErrorHalt.install()
    val spec = args.headOption.filter(s => s.nonEmpty && s != "''")
    val port = args.drop(1).headOption.map(_.toInt).getOrElse(0)
    val bind = args.drop(2).headOption.filter(_.nonEmpty)
      .map(InetAddress.getByName)
      .getOrElse(InetAddress.getLoopbackAddress)
    // SPARK_GRAFT_MASTER points the server at a cluster instead
    val b = GraftSession.builder(GraftSession.cpus).appName("graft-pg-server")
    val spark = sys.env.get("SPARK_GRAFT_MASTER").fold(b)(b.master).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val server = new PgWireServer(spark, port = port, scopeSpecPath = spec,
      bindAddress = bind)
    println(s"""{"listening": ${server.boundPort}}""")
    Thread.currentThread.join()
  }
}

/** The COPY wire-format dialects as pure, serializable functions — a
  * top-level object so the spilled COPY FROM STDIN path can run them
  * DISTRIBUTED over the spooled file (closures over the server class,
  * or its nested WireCopy, would drag a socket-holding `this` into the
  * task and fail serialization).
  *
  * Reference semantics: PostgreSQL COPY text/csv formats as psql's
  * \copy emits them (`src/framequery/alchemy/dbapi.py:5-161` is the
  * reference's client-protocol role; the formats themselves are public
  * PG documentation).
  */
private[server] object CopyCodec extends Serializable {

  /** One PG text-format line: delimiter-separated fields, backslash
    * escapes, a field whose RAW source equals the null marker (default
    * `\N`) is NULL. PG compares the raw (pre-unescape) field to the
    * marker, so an escaped `\\N` is the two-char string, never NULL. */
  def parseTextLine(l: String, delim: Char, nul: String): Array[String] = {
    val fields = Vector.newBuilder[String]
    val cur = new StringBuilder // decoded field value
    val raw = new StringBuilder // undecoded source - `\N` detection
    def flush(): Unit = {
      fields += (if (raw.toString == nul) null else cur.toString)
      cur.clear(); raw.clear()
    }
    var i = 0
    while (i < l.length) {
      val c = l.charAt(i)
      if (c == '\\' && i + 1 < l.length) {
        val e = l.charAt(i + 1)
        raw.append(c).append(e)
        cur.append(e match {
          case 'n' => '\n'
          case 'r' => '\r'
          case 't' => '\t'
          case 'b' => '\b'
          case 'f' => '\f'
          case 'v' => '\u000b'
          case o => o // incl. \\ and an escaped delimiter
        })
        i += 2
      } else if (c == delim) { flush(); i += 1 }
      else { cur.append(c); raw.append(c); i += 1 }
    }
    flush()
    fields.result().toArray
  }

  /** CSV rows with quoted fields (embedded delimiters/newlines/doubled
    * quotes); an UNQUOTED field equal to the null marker is NULL -
    * quoted values are never null, and an unquoted `\.` line is the
    * end-of-data marker (PG CSV semantics). */
  def parseCsv(data: String, delim: Char, nul: String): Vector[Array[String]] = {
    val rows = Vector.newBuilder[Array[String]]
    var fields = Vector.newBuilder[String]
    val cur = new StringBuilder
    var quoted = false // current field was ever inside quotes
    var inQuote = false
    var pending = false // chars consumed since the last emitted row
    def endField(): Unit = {
      val s = cur.toString
      fields += (if (!quoted && s == nul) null else s)
      cur.clear(); quoted = false
    }
    // EVERY newline ends a row — a blank line is a row with one empty
    // unquoted field (NULL under the default '' marker), as PG reads it
    def endRow(): Unit = {
      endField()
      rows += fields.result().toArray
      fields = Vector.newBuilder[String]
      pending = false
    }
    // an unquoted `\.` alone on a line is PG's end-of-data marker in
    // CSV too: parsing stops there and the rest of the payload is
    // ignored (a QUOTED "\." stays data)
    var lineStart = true
    var done = false
    var i = 0
    while (i < data.length && !done) {
      val c = data.charAt(i)
      if (inQuote) {
        lineStart = false
        if (c == '"') {
          if (i + 1 < data.length && data.charAt(i + 1) == '"') {
            cur.append('"'); i += 2
          } else { inQuote = false; i += 1 }
        } else { cur.append(c); i += 1 }
      } else if (lineStart && c == '\\' && i + 1 < data.length &&
          data.charAt(i + 1) == '.' &&
          (i + 2 >= data.length || data.charAt(i + 2) == '\n' ||
            data.charAt(i + 2) == '\r')) {
        done = true
      } else c match {
        case '"' =>
          inQuote = true; quoted = true; pending = true; lineStart = false
          i += 1
        case d if d == delim =>
          endField(); pending = true; lineStart = false; i += 1
        case '\r' if i + 1 < data.length && data.charAt(i + 1) == '\n' =>
          endRow(); lineStart = true; i += 2
        case '\n' | '\r' => endRow(); lineStart = true; i += 1
        case ch => cur.append(ch); pending = true; lineStart = false; i += 1
      }
    }
    if (!done && (pending || cur.nonEmpty || quoted))
      endRow() // no trailing newline
    rows.result()
  }
}
