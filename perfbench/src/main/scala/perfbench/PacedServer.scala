package perfbench

import java.io.BufferedOutputStream
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.locks.LockSupport

/** The load generator of the CDC workloads: a MaxScale CDC server that
  * accepts one client, answers the auth / REGISTER / REQUEST-DATA
  * handshake the way MaxScale does and writes the schema event (`events`
  * head) at once. After [[go]] it writes event `i` at `t0 + (i - 1) /
  * rate` from a single thread, where `t0` is the moment of `go`. The
  * schedule is fixed up front and never waits for the consumer: a slow
  * consumer only makes the socket back up. `rate <= 0` writes the rest
  * of the script at once on `go` (a preloaded backlog).
  *
  * All times are epoch milliseconds as doubles, read from one
  * `nanoTime`-anchored clock so that they compare with Spark's progress
  * timestamps.
  */
final class PacedServer(events: IndexedSeq[String], rate: Double) {
  private val server = new ServerSocket(0)
  val port: Int = server.getLocalPort

  @volatile var t0Ms: Double = Double.NaN
  @volatile var bytesSent: Long = 0L
  @volatile var eventsSent: Int = 0
  /** Largest delay of a write behind its scheduled time. */
  @volatile var maxLateMs: Double = 0.0
  @volatile var error: Throwable = _
  @volatile private var conn: Socket = _
  @volatile private var stopped = false

  private val started = new java.util.concurrent.CountDownLatch(1)

  /** Starts the paced schedule. */
  def go(): Unit = started.countDown()

  def dueMs(i: Int): Double = if (rate <= 0) t0Ms else t0Ms + (i - 1) * 1000.0 / rate

  private val thread = new Thread(() => {
    try {
      conn = server.accept()
      handle(conn)
      while (!stopped) Thread.sleep(20) // hold the connection open
    } catch {
      case t: Throwable => if (!stopped) error = t
    }
  }, s"paced-maxscale-$port")
  thread.setDaemon(true)
  thread.start()

  private def read(c: Socket): String = {
    val buf = new Array[Byte](1024)
    val n = c.getInputStream.read(buf)
    if (n < 0) "" else new String(buf, 0, n, UTF_8)
  }

  private def reply(c: Socket, s: String): Unit = {
    c.getOutputStream.write(s.getBytes(UTF_8)); c.getOutputStream.flush()
  }

  private def handle(c: Socket): Unit = {
    val auth = read(c)
    require(auth.matches("^[0-9a-f]+$"), s"bad auth payload '$auth'")
    reply(c, "OK")
    val register = read(c)
    require(register.startsWith("REGISTER UUID="), s"bad registration '$register'")
    reply(c, "OK")
    val request = read(c)
    require(request.startsWith("REQUEST-DATA "), s"bad data request '$request'")
    val encoded = events.map(e => (e + "\n").getBytes(UTF_8))
    val out = new BufferedOutputStream(c.getOutputStream, 1 << 16)
    out.write(encoded(0)); out.flush()
    bytesSent = encoded(0).length; eventsSent = 1
    started.await()
    t0Ms = Clock.nowMs()
    var i = 1
    while (i < encoded.length && !stopped) {
      val due = dueMs(i)
      var now = Clock.nowMs()
      if (now < due) {
        LockSupport.parkNanos(((due - now) * 1e6).toLong)
        now = Clock.nowMs()
      }
      if (now >= due) {
        maxLateMs = math.max(maxLateMs, now - due)
        var wrote = 0L
        while (i < encoded.length && dueMs(i) <= now) {
          out.write(encoded(i)); wrote += encoded(i).length; i += 1
        }
        out.flush()
        bytesSent += wrote
        eventsSent = i
      }
    }
  }

  def close(): Unit = {
    stopped = true
    started.countDown()
    try if (conn != null) conn.close() catch { case _: Throwable => () }
    try server.close() catch { case _: Throwable => () }
    thread.join(5000)
  }
}

/** Epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = wall0 + (System.nanoTime() - nano0) / 1e6
}
