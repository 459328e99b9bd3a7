package perfbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream, OutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

/** One HTTP/1.1 keep-alive connection to the loopback REST server. Plain
  * socket I/O, so each load thread owns exactly one connection and the
  * byte counts are the bytes on the wire.
  */
final class HttpConn(port: Int) extends AutoCloseable {
  private val sock = new Socket()
  sock.setTcpNoDelay(true)
  sock.connect(new InetSocketAddress("127.0.0.1", port), 5000)
  sock.setSoTimeout(120000)
  private val out: OutputStream = sock.getOutputStream
  private val in: InputStream = new BufferedInputStream(sock.getInputStream, 1 << 16)

  /** Sends `body` to `path`; returns (status, response body). */
  def post(path: String, body: Array[Byte]): (Int, Array[Byte]) = {
    val head = s"POST $path HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
      s"Content-Type: application/json\r\nContent-Length: ${body.length}\r\n\r\n"
    out.write(head.getBytes(UTF_8))
    out.write(body)
    out.flush()
    val status = readLine().split(' ')(1).toInt
    var len = 0
    var line = readLine()
    while (line.nonEmpty) {
      val c = line.indexOf(':')
      if (c > 0 && line.substring(0, c).trim.equalsIgnoreCase("content-length"))
        len = line.substring(c + 1).trim.toInt
      line = readLine()
    }
    val buf = new Array[Byte](len)
    var got = 0
    while (got < len) {
      val r = in.read(buf, got, len - got)
      if (r < 0) throw new java.io.EOFException("connection closed mid-body")
      got += r
    }
    (status, buf)
  }

  private def readLine(): String = {
    val b = new ByteArrayOutputStream(64)
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed")
      if (c != '\r') b.write(c)
      c = in.read()
    }
    b.toString("UTF-8")
  }

  def close(): Unit = sock.close()
}

object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def queryBody(q: Array[Float], prelim: Int, fin: Int): Array[Byte] = {
    val sb = new StringBuilder(q.length * 12 + 64)
    sb.append("{\"query_vector\":[")
    var i = 0
    while (i < q.length) { if (i > 0) sb.append(','); sb.append(q(i)); i += 1 }
    sb.append("],\"preliminary_top_k\":").append(prelim)
      .append(",\"final_top_k\":").append(fin).append('}')
    sb.toString.getBytes(UTF_8)
  }

  def addBody(vs: Array[Array[Float]], ms: Array[String]): Array[Byte] = {
    val sb = new StringBuilder(vs.length * vs(0).length * 12 + 64)
    sb.append("{\"add_data\":[")
    var k = 0
    while (k < vs.length) {
      if (k > 0) sb.append(',')
      sb.append("[[")
      val v = vs(k)
      var i = 0
      while (i < v.length) { if (i > 0) sb.append(','); sb.append(v(i)); i += 1 }
      sb.append("],").append(ms(k)).append(']')
      k += 1
    }
    sb.append("]}")
    sb.toString.getBytes(UTF_8)
  }

  def removeBody(ids: Seq[Long]): Array[Byte] =
    ids.mkString("{\"ids\":[", ",", "]}").getBytes(UTF_8)

  /** (ids, scores) of a query response. */
  def hits(body: Array[Byte]): (Array[Long], Array[Double]) = {
    val n = mapper.readTree(body)
    val ids = n.get("ids")
    val sims = n.get("cosine_similarity")
    (Array.tabulate(ids.size())(i => ids.get(i).asLong()),
      Array.tabulate(sims.size())(i => sims.get(i).asDouble()))
  }
}
