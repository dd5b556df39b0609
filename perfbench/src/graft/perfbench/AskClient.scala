package graft.perfbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream, OutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

/** A minimal blocking HTTP/1.1 client for `POST /ask`: one keep-alive
  * loopback connection per client thread, written and read on that
  * thread. A general client library hands each request across its own
  * selector and executor threads; every hand-off is a thread wake-up
  * whose cost varies with the host, and would be timed as part of the
  * server's latency. */
final class AskClient(port: Int) extends AutoCloseable {
  private final class Conn(val socket: Socket) {
    val in: InputStream = new BufferedInputStream(socket.getInputStream)
    val out: OutputStream = socket.getOutputStream
  }
  private val all = java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()
  private val conn = new ThreadLocal[Conn]
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def connection(): Conn = {
    val c = conn.get()
    if (c != null && !c.socket.isClosed) c
    else {
      val s = new Socket()
      s.setTcpNoDelay(true)
      s.setSoTimeout(30000)
      s.connect(new InetSocketAddress("127.0.0.1", port))
      all.add(s)
      val n = new Conn(s)
      conn.set(n)
      n
    }
  }

  /** One ask; anything but a 200 with a non-empty answer throws. Each
    * request has its own chat id, so no conversation history enters a
    * prompt. */
  def ask(chat: String, query: String): AskZipf.Reply = {
    val body = s"""{"chat_id":${mapper.writeValueAsString(chat)},"query":${mapper.writeValueAsString(query)}}"""
      .getBytes(UTF_8)
    val c = connection()
    try {
      c.out.write((s"POST /ask HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n" +
        s"Content-Type: application/json\r\nContent-Length: ${body.length}\r\n\r\n").getBytes(UTF_8))
      c.out.write(body)
      c.out.flush()
      val (status, length) = readHead(c.in)
      val resp = new String(c.in.readNBytes(length), UTF_8)
      if (status != 200) throw new IllegalStateException(s"HTTP $status: ${resp.take(200)}")
      val j = mapper.readTree(resp)
      val answer = j.path("answer").asText("")
      if (answer.trim.isEmpty) throw new IllegalStateException(s"empty answer for '$query'")
      AskZipf.Reply(answer, j.path("from_cache").asBoolean(false))
    } catch {
      case e: java.io.IOException => c.socket.close(); throw e
    }
  }

  /** Status code and Content-Length of a response head. */
  private def readHead(in: InputStream): (Int, Int) = {
    val buf = new ByteArrayOutputStream()
    var last4 = 0
    while (last4 != 0x0D0A0D0A) {
      val b = in.read()
      if (b < 0) throw new java.io.EOFException("connection closed before the response head")
      buf.write(b)
      last4 = (last4 << 8) | b
    }
    val lines = new String(buf.toByteArray, UTF_8).split("\r\n")
    val status = lines.head.split(" ")(1).toInt
    val length = lines.tail.collectFirst {
      case l if l.toLowerCase(java.util.Locale.ROOT).startsWith("content-length:") => l.drop(15).trim.toInt
    }.getOrElse(throw new IllegalStateException(s"no Content-Length: ${lines.head}"))
    (status, length)
  }

  def close(): Unit = all.forEach(s => s.close())
}
