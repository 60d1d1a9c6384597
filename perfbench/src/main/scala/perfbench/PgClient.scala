package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal PostgreSQL v3 client: startup (trust auth) and the simple
  * query protocol, text-format rows. Enough to drive `PgServer` the way
  * `psql -c` or `pgbench -M simple` does, from inside the harness JVM. */
final class PgClient(port: Int, user: String = "xtdb") extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

  startup()

  private def startup(): Unit = {
    val body = new java.io.ByteArrayOutputStream
    val w = new DataOutputStream(body)
    w.writeInt(196608) // protocol 3.0
    Seq("user" -> user, "database" -> "xtdb").foreach { case (k, v) =>
      cstr(w, k); cstr(w, v)
    }
    w.writeByte(0)
    out.writeInt(body.size + 4)
    body.writeTo(out)
    out.flush()
    readUntilReady()
  }

  private def cstr(w: DataOutputStream, s: String): Unit = {
    w.write(s.getBytes(UTF_8)); w.writeByte(0)
  }

  def query(sql: String): PgClient.Result = {
    val bytes = sql.getBytes(UTF_8)
    out.writeByte('Q')
    out.writeInt(bytes.length + 5)
    out.write(bytes); out.writeByte(0)
    out.flush()
    readUntilReady()
  }

  private def readUntilReady(): PgClient.Result = {
    var rows = Vector.empty[Vector[String]]
    var error: Option[String] = None
    var done = false
    while (!done) {
      val t = in.readByte().toChar
      val len = in.readInt() - 4
      val buf = new Array[Byte](len)
      in.readFully(buf)
      t match {
        case 'T' => rows = Vector.empty
        case 'D' =>
          val b = java.nio.ByteBuffer.wrap(buf)
          val n = b.getShort.toInt
          rows :+= Vector.fill(n) {
            val l = b.getInt
            if (l < 0) null
            else { val s = new String(buf, b.position(), l, UTF_8); b.position(b.position() + l); s }
          }
        case 'E' =>
          // fields: type byte + cstring, terminated by a zero byte; keep 'M'
          val fields = new String(buf, UTF_8).split('\u0000')
          val m = fields.find(_.startsWith("M")).map(_.drop(1))
          if (error.isEmpty) error = Some(m.getOrElse("error"))
        case 'Z' => done = true
        case _ => () // AuthenticationOk, ParameterStatus, BackendKeyData, CommandComplete, notices
      }
    }
    PgClient.Result(rows, error)
  }

  def close(): Unit = {
    try {
      out.writeByte('X'); out.writeInt(4); out.flush()
    } catch { case _: Exception => () }
    sock.close()
  }
}

object PgClient {
  /** Result of one simple-query round trip: the rows of the last result
    * set (text values, null for SQL NULL), and the first error, if any. */
  final case class Result(rows: Vector[Vector[String]], error: Option[String])
}
