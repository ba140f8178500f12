package perfbench

import java.net.{InetSocketAddress, StandardSocketOptions}
import java.nio.ByteBuffer
import java.nio.channels.{SelectionKey, Selector, ServerSocketChannel, SocketChannel}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledExecutorService, TimeUnit}

/** The benchmark's API stub: a slow, seeded, deterministic data API plus an
  * OAuth2 `/token` endpoint, living in the benchmark process.
  *
  * Threads: one dispatcher thread accepts connections and parses HTTP/1.1
  * keep-alive requests off a selector, and only *schedules* each data reply;
  * one timer thread writes every data reply when it is due. No thread ever
  * sleeps per request, so the stub's own capacity does not cap the engine's
  * in-flight requests. Sockets run with TCP_NODELAY and each reply is one
  * write, as a production API server does — the JDK's built-in HTTP server
  * writes headers and body separately without it, and Nagle's algorithm
  * against the client's delayed ACK then adds ~40 ms to every reply.
  *
  * Replies are pure functions of the request: the delay has mean
  * `meanDelayMs` and is drawn from hash(seed, id, attempt), exponential
  * (a heavy tail) or, with `exponentialDelay` off, uniform over 0.5 to 1.5
  * times the mean; an id is refused with 503 on its first attempt when
  * hash(seed, id) falls in the `firstAttemptErrorShare`; the body depends
  * on the id and `cust` param only. Data requests must carry
  * `Bearer <requiredToken>` unless `requiredToken` is empty. The stub
  * records, per id, how many data requests it received and when the last
  * reply was written, and keeps the in-flight time integral.
  */
final class ApiStub(seed: Long, meanDelayMs: Double, exponentialDelay: Boolean,
    firstAttemptErrorShare: Double, requiredToken: String) {
  import ApiStub._

  private val selector = Selector.open()
  private val listener = ServerSocketChannel.open()
  listener.bind(new InetSocketAddress("127.0.0.1", 0), 4096)
  listener.configureBlocking(false)
  listener.register(selector, SelectionKey.OP_ACCEPT)
  private val timer: ScheduledExecutorService = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-stub-timer"); t.setDaemon(true); t
  }
  @volatile private var running = true

  val dataRequests = new AtomicLong()
  val otherRequests = new AtomicLong()
  val tokenRequests = new AtomicLong()
  /** Data requests received per id (= attempts the engine made for it). */
  val attempts = new ConcurrentHashMap[String, AtomicInteger]()
  /** nanoTime at which the last reply for an id was fully written. */
  val lastWritten = new ConcurrentHashMap[String, java.lang.Long]()
  /** Distinct client sockets that carried data requests. */
  private val sockets = ConcurrentHashMap.newKeySet[String]()

  // In-flight accounting, guarded by `this`. Written by the dispatcher
  // (arrivals) and the timer (replies); read by the benchmark between runs.
  private var inFlight = 0
  private var maxInFlight = 0
  private var lastT = System.nanoTime()
  private var integral = 0.0 // request-nanoseconds
  private var busyNanos = 0L // nanoseconds with at least one request open
  private var sendLags = new LongBuffer // reply written - reply due, ns

  private def advance(now: Long): Unit = {
    val dt = now - lastT
    integral += inFlight.toDouble * dt
    if (inFlight > 0) busyNanos += dt
    lastT = now
  }
  private def arrive(now: Long): Unit = synchronized {
    advance(now); inFlight += 1; if (inFlight > maxInFlight) maxInFlight = inFlight
  }
  private def depart(now: Long, lag: Long): Unit = synchronized {
    advance(now); inFlight -= 1; sendLags += lag
  }

  def snapshot(): Snapshot = synchronized {
    val now = System.nanoTime(); advance(now)
    Snapshot(now, integral, busyNanos, dataRequests.get, tokenRequests.get, otherRequests.get)
  }
  /** Max in flight since the previous call. */
  def takeMaxInFlight(): Int = synchronized { val m = maxInFlight; maxInFlight = inFlight; m }
  def takeSendLags(): Array[Long] = synchronized { val a = sendLags.toArray; sendLags = new LongBuffer; a }
  def connections: Int = sockets.size
  def resetConnections(): Unit = sockets.clear()
  /** Forget per-id history (a new round re-requests the same ids). */
  def resetIds(): Unit = { attempts.clear(); lastWritten.clear() }

  /** One keep-alive client connection; bytes read but not yet parsed. */
  private final class Conn(val ch: SocketChannel) {
    val peer: String = ch.getRemoteAddress.toString
    var pending = new Array[Byte](0)
    /** Write a whole reply; the channel is non-blocking, and a reply is far
      * smaller than the socket buffer of a connection with one request open. */
    def send(code: Int, body: String): Unit = synchronized {
      val b = body.getBytes(StandardCharsets.UTF_8)
      val head = s"HTTP/1.1 $code ${reason(code)}\r\nContent-Type: application/json\r\n" +
        s"Content-Length: ${b.length}\r\n\r\n"
      val buf = ByteBuffer.wrap(head.getBytes(StandardCharsets.US_ASCII) ++ b)
      try while (buf.hasRemaining && ch.isOpen) if (ch.write(buf) == 0) Thread.onSpinWait()
      catch { case _: java.io.IOException => ch.close() }
    }
  }

  private def handle(c: Conn, path: String, rawQuery: String, headers: Map[String, String]): Unit = {
    val arrived = System.nanoTime()
    path match {
      case "/api/data" =>
        dataRequests.incrementAndGet()
        sockets.add(c.peer)
        arrive(arrived)
        val q = query(rawQuery)
        val id = q.getOrElse("id", "")
        val attempt = attempts.computeIfAbsent(id, _ => new AtomicInteger()).incrementAndGet()
        val authorized = requiredToken.isEmpty ||
          headers.get("authorization").contains(s"Bearer $requiredToken")
        val (code, body) =
          if (!authorized) (401, """{"error":"unauthorized"}""")
          else if (attempt == 1 && failsFirst(seed, id, firstAttemptErrorShare))
            (503, """{"error":"unavailable"}""")
          else (200, ApiStub.body(id, q.getOrElse("cust", "")))
        val delayNanos = (delayMs(seed, id, attempt, meanDelayMs, exponentialDelay) * 1e6).toLong
        val due = arrived + delayNanos
        timer.schedule((() => {
          try c.send(code, body)
          finally {
            val written = System.nanoTime()
            lastWritten.put(id, written)
            depart(written, written - due)
          }
        }): Runnable, delayNanos, TimeUnit.NANOSECONDS)
      case "/token" =>
        tokenRequests.incrementAndGet()
        c.send(200, s"""{"access_token":"$requiredToken",""" +
          """"token_type":"bearer","expires_in":3600}""")
      case _ =>
        otherRequests.incrementAndGet()
        c.send(200, """{"status":"ok"}""")
    }
  }

  /** Parse every complete request buffered on `c` and hand it to `handle`. */
  private def parse(c: Conn): Unit = {
    var more = true
    while (more) {
      val end = indexOf(c.pending, HeaderEnd)
      if (end < 0) more = false
      else {
        val lines = new String(c.pending, 0, end, StandardCharsets.ISO_8859_1).split("\r\n")
        val headers = lines.iterator.drop(1).flatMap { l =>
          val i = l.indexOf(':')
          if (i > 0) Some(l.substring(0, i).trim.toLowerCase -> l.substring(i + 1).trim) else None
        }.toMap
        val total = end + 4 + headers.get("content-length").map(_.toInt).getOrElse(0)
        if (c.pending.length < total) more = false
        else {
          c.pending = java.util.Arrays.copyOfRange(c.pending, total, c.pending.length)
          val target = lines(0).split(" ")(1)
          val q = target.indexOf('?')
          if (q < 0) handle(c, target, null, headers)
          else handle(c, target.substring(0, q), target.substring(q + 1), headers)
        }
      }
    }
  }

  private val dispatcher = new Thread(() => {
    val buf = ByteBuffer.allocate(64 * 1024)
    while (running) {
      selector.select()
      val it = selector.selectedKeys().iterator()
      while (it.hasNext) {
        val key = it.next(); it.remove()
        if (key.isValid && key.isAcceptable) {
          val ch = listener.accept()
          if (ch != null) {
            ch.configureBlocking(false)
            ch.setOption(StandardSocketOptions.TCP_NODELAY, java.lang.Boolean.TRUE)
            ch.register(selector, SelectionKey.OP_READ, new Conn(ch))
          }
        } else if (key.isValid && key.isReadable) {
          val c = key.attachment().asInstanceOf[Conn]
          buf.clear()
          val n = try c.ch.read(buf) catch { case _: java.io.IOException => -1 }
          if (n < 0) { key.cancel(); c.ch.close() }
          else if (n > 0) {
            c.pending = c.pending ++ java.util.Arrays.copyOf(buf.array(), n)
            parse(c)
          }
        }
      }
    }
  }, "perfbench-stub-dispatcher")
  dispatcher.setDaemon(true)
  dispatcher.start()

  val baseUrl: String = s"http://127.0.0.1:${listener.socket().getLocalPort}"

  /** Stop both threads, wait for them to end, close every socket. */
  def stop(): Unit = {
    running = false
    selector.wakeup()
    dispatcher.join(10000)
    timer.shutdownNow()
    timer.awaitTermination(10, TimeUnit.SECONDS)
    selector.keys().forEach(k => k.channel().close())
    selector.close()
  }
}

object ApiStub {
  private val HeaderEnd = "\r\n\r\n".getBytes(StandardCharsets.US_ASCII)
  private def indexOf(a: Array[Byte], pat: Array[Byte]): Int = {
    var i = 0
    while (i <= a.length - pat.length) {
      var j = 0
      while (j < pat.length && a(i + j) == pat(j)) j += 1
      if (j == pat.length) return i
      i += 1
    }
    -1
  }
  private def reason(code: Int): String = code match {
    case 200 => "OK"
    case 401 => "Unauthorized"
    case 503 => "Service Unavailable"
    case _ => "Status"
  }

  /** Cumulative counters at one instant; windows are differences of two. */
  final case class Snapshot(nanos: Long, integral: Double, busyNanos: Long,
      data: Long, token: Long, other: Long)

  /** The body the stub returns for a successful data request. */
  def body(id: String, cust: String): String =
    s"""{"id":"$id","cust":"$cust","v":${Math.floorMod(mix(id.hashCode.toLong), 1000003L)}}"""

  /** SplitMix64 finaliser. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  def delayMs(seed: Long, id: String, attempt: Int, meanMs: Double, exponential: Boolean): Double = {
    val u = unit(mix(mix(seed ^ id.hashCode.toLong) + attempt))
    if (exponential) -meanMs * math.log(1.0 - u) else meanMs * (0.5 + u)
  }

  def failsFirst(seed: Long, id: String, share: Double): Boolean =
    unit(mix(mix(seed * 31 + 7) ^ id.hashCode.toLong)) < share

  private def query(raw: String): Map[String, String] =
    Option(raw).toSeq.flatMap(_.split("&")).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8"))
        case _ => None
      }
    }.toMap
}

/** Growable primitive long buffer (no boxing on the stub's hot path). */
final class LongBuffer {
  private var a = new Array[Long](1024)
  private var n = 0
  def +=(v: Long): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v; n += 1
  }
  def toArray: Array[Long] = java.util.Arrays.copyOf(a, n)
}
