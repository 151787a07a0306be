package graftbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, OutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

/** One keep-alive HTTP/1.1 connection, written by hand so the load
  * generator owns exactly one socket per thread: no client pool can open
  * extra connections or reorder requests behind the benchmark's back. */
final class HttpConn(port: Int) extends AutoCloseable {
  private val sock = new Socket()
  sock.setTcpNoDelay(true)
  sock.connect(new InetSocketAddress("127.0.0.1", port))
  private val out: OutputStream = sock.getOutputStream
  private val in = new BufferedInputStream(sock.getInputStream, 8192)

  def get(path: String): (Int, String) =
    send(s"GET $path HTTP/1.1\r\nHost: localhost\r\n\r\n".getBytes(UTF_8))

  def post(path: String, body: String): (Int, String) = {
    val b = body.getBytes(UTF_8)
    val head = s"POST $path HTTP/1.1\r\nHost: localhost\r\n" +
      s"Content-Type: application/json\r\nContent-Length: ${b.length}\r\n\r\n"
    send(head.getBytes(UTF_8) ++ b)
  }

  private def send(req: Array[Byte]): (Int, String) = {
    out.write(req); out.flush()
    val status = readLine().split(' ')(1).toInt
    var len = 0
    var line = readLine()
    while (line.nonEmpty) {
      val i = line.indexOf(':')
      if (i > 0 && line.substring(0, i).equalsIgnoreCase("content-length"))
        len = line.substring(i + 1).trim.toInt
      line = readLine()
    }
    val body = new Array[Byte](len)
    var got = 0
    while (got < len) {
      val n = in.read(body, got, len - got)
      if (n < 0) throw new java.io.EOFException("connection closed mid-body")
      got += n
    }
    (status, new String(body, UTF_8))
  }

  private def readLine(): String = {
    val buf = new ByteArrayOutputStream(64)
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed")
      if (c != '\r') buf.write(c)
      c = in.read()
    }
    buf.toString(UTF_8)
  }

  def close(): Unit = sock.close()
}
