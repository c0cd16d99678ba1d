package perfbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, OutputStream}
import java.net.{InetSocketAddress, Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import java.util.concurrent.locks.LockSupport

/** Minimal HTTP/1.1 keep-alive client: one socket, one request at a time.
  * The load generator gives each sender thread its own connection, so the
  * number of connections equals the number of sender threads.
  */
final class HttpConn(port: Int, timeoutMs: Int) {
  private var sock: Socket = _
  private var in: BufferedInputStream = _
  private var out: OutputStream = _

  private def open(): Unit = {
    sock = new Socket()
    sock.setTcpNoDelay(true)
    sock.connect(new InetSocketAddress("127.0.0.1", port), timeoutMs)
    sock.setSoTimeout(timeoutMs)
    in = new BufferedInputStream(sock.getInputStream, 1 << 16)
    out = sock.getOutputStream
  }

  def close(): Unit = if (sock != null) { try sock.close() catch { case _: Exception => () }; sock = null }

  /** (status, body). Throws on I/O failure or timeout (the connection is
    * closed so the next call reconnects).
    */
  def get(path: String): (Int, String) = {
    if (sock == null) open()
    try {
      out.write(s"GET $path HTTP/1.1\r\nHost: 127.0.0.1\r\n\r\n".getBytes(StandardCharsets.US_ASCII))
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
      val body = new Array[Byte](len)
      var off = 0
      while (off < len) {
        val n = in.read(body, off, len - off)
        if (n < 0) throw new java.io.EOFException("body truncated")
        off += n
      }
      (status, new String(body, StandardCharsets.UTF_8))
    } catch {
      case e: Exception => close(); throw e
    }
  }

  private def readLine(): String = {
    val b = new ByteArrayOutputStream(64)
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed")
      if (c != '\r') b.write(c)
      c = in.read()
    }
    b.toString(StandardCharsets.US_ASCII)
  }
}

/** Outcome of one open-loop pass. Arrays are indexed by request position. */
final class PassResult(val reqs: IndexedSeq[Req], val rate: Double) {
  val n: Int = reqs.size
  /** nanos from the scheduled send time to the end of the response */
  val latencyNs = new Array[Long](n)
  /** nanos the send started after its scheduled time */
  val lagNs = new Array[Long](n)
  /** "" = success; otherwise the failure cause (status code, timeout, exception) */
  val failure: Array[String] = Array.fill(n)("")
  val bodies = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  def failed: Int = failure.count(_.nonEmpty)

  /** The first `m` requests (a pass stopped early issued only those). */
  def take(m: Int): PassResult = {
    val r = new PassResult(reqs.take(m), rate)
    System.arraycopy(latencyNs, 0, r.latencyNs, 0, m)
    System.arraycopy(lagNs, 0, r.lagNs, 0, m)
    System.arraycopy(failure, 0, r.failure, 0, m)
    r.bodies.putAll(bodies)
    r
  }
}

/** Open-loop load generator: request i is due at start + i / rate whatever
  * happened to earlier requests. Latency is timed from the due time, so a
  * stall also counts against the requests queued behind it; lag (send time
  * minus due time) shows how late the generator ran.
  */
final class LoadGen(port: Int, threads: Int, timeoutMs: Int = 10000) {
  private val conns = Array.fill(threads)(new HttpConn(port, timeoutMs))

  def close(): Unit = conns.foreach(_.close())

  /** Run `reqs` at `rate` per second; keep the bodies of positions in `keep`. */
  def run(reqs: IndexedSeq[Req], rate: Double, keep: Set[Int] = Set.empty,
      stop: AtomicBoolean = new AtomicBoolean(false)): PassResult = {
    val res = new PassResult(reqs, rate)
    val traceBase = Trace.nextRequestBase(reqs.size)
    val next = new AtomicInteger(0)
    val intervalNs = 1e9 / rate
    val t0 = System.nanoTime() + 2000000L
    def send(conn: HttpConn, i: Int): Unit = {
      val due = t0 + (i * intervalNs).toLong
      // park until shortly before the due time, then spin: a parked thread
      // wakes up late by a varying amount, which would add to every latency
      var now = System.nanoTime()
      while (due - now > 200000L) { LockSupport.parkNanos(due - now - 150000L); now = System.nanoTime() }
      while (now < due) { Thread.onSpinWait(); now = System.nanoTime() }
      res.lagNs(i) = now - due
      val r = reqs(i)
      try {
        val (status, body) = Trace.span("loadgen.request", traceBase + i) {
          Trace.span("app.http", traceBase + i)(conn.get(r.path))
        }
        if (status != 200) res.failure(i) = s"status_$status"
        else if (keep(i)) res.bodies.put(i, body)
      } catch {
        case _: SocketTimeoutException => res.failure(i) = "timeout"
        case e: Exception => res.failure(i) = "exception_" + e.getClass.getSimpleName
      }
      res.latencyNs(i) = System.nanoTime() - due
    }
    val workers = (0 until threads).map { t =>
      val th = new Thread(() => {
        // every claimed index is sent, so a stopped pass issued exactly the
        // first min(next, size) requests
        var i = if (stop.get) reqs.size else next.getAndIncrement()
        while (i < reqs.size) {
          send(conns(t), i)
          i = if (stop.get) reqs.size else next.getAndIncrement()
        }
      }, s"perfbench-sender-$t")
      th.setDaemon(true)
      th
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    if (stop.get) res.take(math.min(next.get, reqs.size)) else res
  }
}

object LoadGen {
  /** Closed loop: every sender sends back to back for `seconds`. Returns the
    * pass and the completed requests per second.
    */
  def saturate(lg: LoadGen, reqs: IndexedSeq[Req], seconds: Double): (PassResult, Double) = {
    val stop = new AtomicBoolean(false)
    val timer = new Thread(() => { Thread.sleep((seconds * 1000).toLong); stop.set(true) })
    val t0 = System.nanoTime()
    timer.start()
    val r = lg.run(reqs, 1e9, stop = stop)
    val rps = r.n / ((System.nanoTime() - t0) / 1e9)
    timer.join()
    (r, rps)
  }
}

object Stats {
  def quantile(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted(math.min(sorted.length - 1, math.max(0, math.ceil(p * sorted.length).toInt - 1)))

  def pct(xs: Array[Double], p: Double): Double = {
    val s = xs.clone(); java.util.Arrays.sort(s); quantile(s, p)
  }

  /** `k` consecutive windows of (nearly) equal size; a short tail joins the last. */
  def windows(xs: Array[Double], k: Int): Seq[Array[Double]] = {
    val n = xs.length / k
    if (n == 0) Seq(xs)
    else (0 until k).map(i => xs.slice(i * n, if (i == k - 1) xs.length else (i + 1) * n))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
