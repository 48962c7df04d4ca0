package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

/** The benchmark's own MySQL client: handshake, COM_QUERY with text
  * result rows, and COM_PING, over the classic protocol with EOF
  * framing. It is kept apart from the program's wire module so that a
  * change to the program cannot change the load generator. */
final class MiniMysql(host: String, val port: Int, db: String,
    timeoutMs: Int = 60000) {
  import MiniMysql._

  private val sock = new Socket()
  sock.connect(new InetSocketAddress(host, port), timeoutMs)
  sock.setSoTimeout(timeoutMs)
  sock.setTcpNoDelay(true)
  private val in = new BufferedInputStream(sock.getInputStream, 1 << 16)
  private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
  private var seq = 0
  /** Bytes read from the socket since the client was opened. */
  var bytesIn = 0L
  /** Set when a query failed other than by an ERR packet (I/O error,
    * timeout, protocol error): the stream may be out of step, so the
    * client must not be used again. */
  var broken = false

  val connectionId: Long = handshake()

  private def handshake(): Long = {
    val hs = readPacket()
    if ((hs(0) & 0xff) == 0xff) throw MysqlError.from(hs)
    var p = 1
    while (hs(p) != 0) p += 1 // server version, NUL-terminated
    val id = le(hs, p + 1, 4)
    val w = new java.io.ByteArrayOutputStream
    def int4(v: Int): Unit = (0 until 4).foreach(i => w.write(v >>> (8 * i)))
    int4(CapProtocol41 | CapSecureConnection | CapPluginAuth | CapConnectWithDb)
    int4(1 << 24)
    w.write(255) // utf8mb4
    w.write(new Array[Byte](23))
    w.write("bench".getBytes(UTF_8)); w.write(0)
    w.write(0) // empty auth response: the server does not check it
    w.write(db.getBytes(UTF_8)); w.write(0)
    w.write("mysql_native_password".getBytes(UTF_8)); w.write(0)
    writePacket(w.toByteArray)
    var resp = readPacket()
    if ((resp(0) & 0xff) == 0xfe) { // auth switch: answer, then OK
      writePacket(Array.emptyByteArray)
      resp = readPacket()
    }
    if ((resp(0) & 0xff) == 0xff) throw MysqlError.from(resp)
    id
  }

  /** COM_PING round trip. */
  def ping(): Unit = {
    seq = 0
    writePacket(Array[Byte](0x0e))
    val r = readPacket()
    if ((r(0) & 0xff) != 0) throw MysqlError.from(r)
  }

  /** Run one statement. Rows come back as text (null for SQL NULL).
    * Throws [[MysqlError]] on an ERR packet, including one sent in
    * place of a row after the column definitions. */
  def query(sql: String): Reply =
    try exchange(sql)
    catch {
      case e: MysqlError => throw e
      case e: Throwable => broken = true; throw e
    }

  private def exchange(sql: String): Reply = {
    val t0 = System.nanoTime()
    seq = 0
    writePacket(0x03.toByte +: sql.getBytes(UTF_8))
    val b0 = bytesIn
    val first = readPacket()
    (first(0) & 0xff) match {
      case 0x00 =>
        val t = System.nanoTime()
        Reply(Vector.empty, lenenc(first, 1)._1, t - t0, 0L, bytesIn - b0)
      case 0xff => throw MysqlError.from(first)
      case _ =>
        val ncols = lenenc(first, 0)._1.toInt
        (0 until ncols).foreach(_ => readPacket()) // column definitions
        expectEof(readPacket())
        val rows = Vector.newBuilder[IndexedSeq[String]]
        var firstRowNs = -1L
        var done = false
        while (!done) {
          val p = readPacket()
          if (firstRowNs < 0) firstRowNs = System.nanoTime()
          (p(0) & 0xff) match {
            case 0xfe if p.length < 9 => done = true
            case 0xff => throw MysqlError.from(p)
            case _ => rows += textRow(p, ncols)
          }
        }
        val t = System.nanoTime()
        Reply(rows.result(), 0L, firstRowNs - t0, t - firstRowNs,
          bytesIn - b0)
    }
  }

  def close(): Unit =
    try {
      seq = 0
      writePacket(Array[Byte](0x01)) // COM_QUIT
    } catch { case _: Throwable => () }
    finally sock.close()

  private def expectEof(p: Array[Byte]): Unit =
    if ((p(0) & 0xff) == 0xff) throw MysqlError.from(p)
    else if (!((p(0) & 0xff) == 0xfe && p.length < 9))
      throw new java.io.IOException("protocol: expected EOF packet")

  private def writePacket(payload: Array[Byte]): Unit = {
    val n = payload.length
    out.write(n & 0xff); out.write((n >>> 8) & 0xff); out.write((n >>> 16) & 0xff)
    out.write(seq & 0xff)
    seq += 1
    out.write(payload)
    out.flush()
  }

  private def readPacket(): Array[Byte] = {
    val parts = new java.io.ByteArrayOutputStream
    var more = true
    while (more) {
      val h = readN(4)
      val n = (h(0) & 0xff) | ((h(1) & 0xff) << 8) | ((h(2) & 0xff) << 16)
      seq = (h(3) & 0xff) + 1
      parts.write(readN(n))
      more = n == 0xffffff
    }
    parts.toByteArray
  }

  private def readN(n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(b, off, n - off)
      if (r < 0) throw new EOFException("server closed the connection")
      off += r
    }
    bytesIn += n
    b
  }
}

object MiniMysql {
  final val CapConnectWithDb = 0x00000008
  final val CapProtocol41 = 0x00000200
  final val CapSecureConnection = 0x00008000
  final val CapPluginAuth = 0x00080000

  /** One statement's reply: result rows (empty for OK), affected rows,
    * time to the first row packet (or to OK), time from the first row
    * to EOF, and bytes read. */
  final case class Reply(rows: Vector[IndexedSeq[String]], affected: Long,
      firstNs: Long, streamNs: Long, bytes: Long)

  final case class MysqlError(code: Int, msg: String)
      extends RuntimeException(s"ERROR $code: $msg")

  object MysqlError {
    def from(p: Array[Byte]): MysqlError = {
      val code = (p(1) & 0xff) | ((p(2) & 0xff) << 8)
      val start = if (p.length > 3 && p(3) == '#') 9 else 3
      MysqlError(code, new String(p, start, p.length - start, UTF_8))
    }
  }

  private def le(b: Array[Byte], off: Int, n: Int): Long =
    (0 until n).foldLeft(0L)((acc, i) => acc | ((b(off + i) & 0xffL) << (8 * i)))

  /** Length-encoded integer at `off`: (value, bytes used). */
  private[perfbench] def lenenc(b: Array[Byte], off: Int): (Long, Int) =
    b(off) & 0xff match {
      case x if x < 0xfb => (x.toLong, 1)
      case 0xfc => (le(b, off + 1, 2), 3)
      case 0xfd => (le(b, off + 1, 3), 4)
      case 0xfe => (le(b, off + 1, 8), 9)
      case x => throw new java.io.IOException(f"protocol: bad lenenc 0x$x%02x")
    }

  private def textRow(p: Array[Byte], ncols: Int): IndexedSeq[String] = {
    var off = 0
    (0 until ncols).map { _ =>
      if ((p(off) & 0xff) == 0xfb) { off += 1; null }
      else {
        val (n, used) = lenenc(p, off)
        val s = new String(p, off + used, n.toInt, UTF_8)
        off += used + n.toInt
        s
      }
    }
  }
}
