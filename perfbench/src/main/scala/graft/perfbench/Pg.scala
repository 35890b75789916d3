package graft.perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, OutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

/** A minimal PostgreSQL v3 client: startup, simple query, one named
  * prepared statement (extended protocol), COPY FROM STDIN and COPY TO
  * STDOUT. Values come back in text format. `bytesIn` counts every byte
  * read from the socket, for the per-call wire volume. */
final class Pg(port: Int) {
  import Pg._

  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val rawIn = new BufferedInputStream(sock.getInputStream, 1 << 16)
  private val in = new DataInputStream(new java.io.FilterInputStream(rawIn) {
    override def read(): Int = { val b = super.read(); if (b >= 0) bytesIn += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = super.read(b, off, len); if (n > 0) bytesIn += n; n
    }
  })
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
  var bytesIn = 0L

  private def cstr(s: String): Array[Byte] = {
    val b = s.getBytes(UTF_8); java.util.Arrays.copyOf(b, b.length + 1)
  }

  private def send(tag: Char, body: Array[Byte]): Unit = {
    out.writeByte(tag); out.writeInt(body.length + 4); out.write(body)
  }

  private def readMsg(): (Char, Array[Byte]) = {
    val t = in.readByte().toChar
    val body = new Array[Byte](in.readInt() - 4)
    in.readFully(body)
    (t, body)
  }

  private def errorText(body: Array[Byte]): String = {
    // fields: code byte + cstring, until a zero byte; keep 'M' (message)
    var p = 0; var msg = "server error"
    while (p < body.length && body(p) != 0) {
      val code = body(p).toChar
      val end = body.indexOf(0: Byte, p + 1)
      if (code == 'M') msg = new String(body, p + 1, end - p - 1, UTF_8)
      p = end + 1
    }
    msg
  }

  private def i16(b: Array[Byte], p: Int) = ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
  private def i32(b: Array[Byte], p: Int) =
    ((b(p) & 0xff) << 24) | ((b(p + 1) & 0xff) << 16) | ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)

  private def rowDesc(b: Array[Byte]): Vector[String] = {
    var p = 2
    (0 until i16(b, 0)).map { _ =>
      val end = b.indexOf(0: Byte, p)
      val name = new String(b, p, end - p, UTF_8)
      p = end + 1 + 18
      name
    }.toVector
  }

  private def dataRow(b: Array[Byte]): Vector[String] = {
    var p = 2
    (0 until i16(b, 0)).map { _ =>
      val len = i32(b, p); p += 4
      if (len < 0) null else { val s = new String(b, p, len, UTF_8); p += len; s }
    }.toVector
  }

  /** Read result messages until ReadyForQuery; `onCopyData` receives
    * copy-out payloads. Throws the first server error after the
    * connection is back at ReadyForQuery. */
  private def collect(onCopyData: Array[Byte] => Unit = _ => ()): Result = {
    var cols = Vector.empty[String]
    val rows = Vector.newBuilder[Vector[String]]
    var tag = ""; var err: String = null; var done = false
    while (!done) {
      val (t, b) = readMsg()
      t match {
        case 'T' => cols = rowDesc(b)
        case 'D' => rows += dataRow(b)
        case 'C' => tag = new String(b, 0, b.length - 1, UTF_8)
        case 'E' => err = errorText(b)
        case 'd' => onCopyData(b)
        case 'Z' => done = true
        case _ => // ParseComplete, BindComplete, CopyOutResponse, CopyDone, notices, ...
      }
    }
    if (err != null) throw new ServerError(err)
    Result(cols, rows.result(), tag)
  }

  // startup: protocol 3.0 + user, then wait for the first ReadyForQuery
  locally {
    val params = cstr("user") ++ cstr("bench") ++ cstr("database") ++ cstr("bench") ++ Array[Byte](0)
    out.writeInt(8 + params.length); out.writeInt(196608); out.write(params); out.flush()
    collect()
  }

  def query(sql: String): Result = { send('Q', cstr(sql)); out.flush(); collect() }

  private var prepared = Set.empty[String]

  /** Extended protocol: Parse `name` once per connection, then Bind
    * text parameters, Describe, Execute and Sync on every call. */
  def execPrepared(name: String, sql: String, oids: Seq[Int], params: Seq[String]): Result = {
    if (!prepared(name)) {
      val bo = new java.io.ByteArrayOutputStream(); val d = new DataOutputStream(bo)
      d.write(cstr(name)); d.write(cstr(sql)); d.writeShort(oids.length); oids.foreach(d.writeInt)
      send('P', bo.toByteArray); prepared += name
    }
    val bo = new java.io.ByteArrayOutputStream(); val d = new DataOutputStream(bo)
    d.write(cstr("")); d.write(cstr(name)); d.writeShort(0); d.writeShort(params.length)
    params.foreach { v => val b = v.getBytes(UTF_8); d.writeInt(b.length); d.write(b) }
    d.writeShort(0)
    send('B', bo.toByteArray)
    send('D', Array('P'.toByte) ++ cstr("")) // RowDescription, as JDBC asks for it
    send('E', cstr("") ++ Array[Byte](0, 0, 0, 0))
    send('S', Array.empty)
    out.flush()
    collect()
  }

  /** COPY ... FROM STDIN: returns the nanoseconds spent sending the
    * payload (CopyResponse received to CopyDone sent) beside the result. */
  def copyIn(sql: String, payload: Array[Byte]): (Result, Long) = {
    send('Q', cstr(sql)); out.flush()
    val (t, b) = readMsg()
    if (t == 'E') { collect(); throw new ServerError(errorText(b)) }
    require(t == 'G', s"expected CopyInResponse, got $t")
    val t0 = System.nanoTime()
    var p = 0
    while (p < payload.length) {
      val n = math.min(1 << 16, payload.length - p)
      out.writeByte('d'); out.writeInt(n + 4); out.write(payload, p, n); p += n
    }
    send('c', Array.empty); out.flush()
    val sent = System.nanoTime() - t0
    (collect(), sent)
  }

  /** COPY ... TO STDOUT into `sink`; returns the payload byte count. */
  def copyOut(sql: String, sink: OutputStream): (Result, Long) = {
    var n = 0L
    send('Q', cstr(sql)); out.flush()
    val r = collect { b => sink.write(b); n += b.length }
    (r, n)
  }

  def close(): Unit = {
    try { send('X', Array.empty); out.flush() } catch { case _: Exception => }
    sock.close()
  }
}

object Pg {
  final case class Result(cols: Vector[String], rows: Vector[Vector[String]], tag: String)
  final class ServerError(msg: String) extends RuntimeException(msg)
}
