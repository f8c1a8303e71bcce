package graft.sources.cdc.testkit

import graft.sources.cdc._

import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.CountDownLatch

/** In-process mock MaxScale server — transplant of the reference's test
  * fixture (`gomaxscale_test.go:313-489`): validates each protocol phase
  * with the same grammar, supports per-phase failure injection, then
  * streams scripted events (optionally split into tiny chunks and
  * interleaved with non-JSON error text to stress the framer).
  */
final class MockMaxScaleServer(
    events: Seq[String],
    failAuthentication: Boolean = false,
    failRegistration: Boolean = false,
    failEvents: Boolean = false,
    chunkSize: Int = 0, // 0 = write each event whole
    interleavedError: Option[String] = None,
    closeAfterEvents: Boolean = true,
    avroPayload: Option[Array[Byte]] = None, // TYPE=AVRO wire bytes (overrides `events`)
    honorGtid: Boolean = false) { // skip DMLs at/before the requested GTID

  private val server = new ServerSocket(0)
  val port: Int = server.getLocalPort

  @volatile var authReceived: String = _
  @volatile var registerReceived: String = _
  @volatile var requestDataReceived: String = _
  @volatile var eventsSent: Int = 0 // JSON events actually written (post-skip)
  val handshakeDone = new CountDownLatch(1)

  @volatile private var closed = false
  @volatile private var accepted: Socket = _

  // Phase grammars from the reference tests (`gomaxscale_test.go:23-27`).
  private val RegisterRe = "^REGISTER UUID=.+?, TYPE=(JSON|AVRO)$".r
  private val RequestRe = "^REQUEST-DATA .+?\\..+?( .+)?$".r

  private val thread = new Thread(() => {
    try {
      val conn = server.accept()
      accepted = conn
      // a close() that ran before `accepted` was set could not close it
      try { if (!closed) handle(conn) }
      finally conn.close()
    } catch { case _: Throwable => () }
    finally server.close()
  }, s"mock-maxscale-$port")
  thread.setDaemon(true)
  thread.start()

  /** Stops serving: closes the listening and the accepted socket, ends
    * the keep-alive sleep and waits for the server thread to exit. The
    * recorded fields (`eventsSent`, `requestDataReceived`, ...) stay
    * readable. */
  def close(): Unit = {
    closed = true
    server.close()
    Option(accepted).foreach(_.close())
    thread.interrupt()
    thread.join(10000)
  }

  private def read(conn: Socket): String = {
    val buf = new Array[Byte](1024)
    val n = conn.getInputStream.read(buf)
    if (n < 0) "" else new String(buf, 0, n, UTF_8)
  }

  private def reply(conn: Socket, s: String): Unit = {
    conn.getOutputStream.write(s.getBytes(UTF_8))
    conn.getOutputStream.flush()
  }

  private def handle(conn: Socket): Unit = {
    // phase 1: auth — hex payload whose decoding contains ':'
    authReceived = read(conn)
    val decodedOk = authReceived.matches("^[0-9a-f]+$") &&
      new String(authReceived.sliding(2, 2).map(Integer.parseInt(_, 16).toByte).toArray, UTF_8)
        .contains(":")
    if (failAuthentication || !decodedOk) { reply(conn, "ERR authentication failed"); return }
    reply(conn, "OK")

    // phase 2: registration
    registerReceived = read(conn)
    if (failRegistration || RegisterRe.findFirstIn(registerReceived).isEmpty) {
      reply(conn, "ERR registration failed"); return
    }
    reply(conn, "OK")

    // phase 3: data request — no reply on success, events follow
    requestDataReceived = read(conn)
    handshakeDone.countDown()
    if (failEvents || RequestRe.findFirstIn(requestDataReceived).isEmpty) {
      reply(conn, "ERR request failed"); return
    }

    val out = conn.getOutputStream
    avroPayload match {
      case Some(bytes) =>
        if (chunkSize <= 0) out.write(bytes)
        else bytes.grouped(chunkSize).foreach { c => out.write(c); out.flush(); Thread.sleep(1) }
        out.flush()
      case None =>
        // GTID resume (A4): when `honorGtid` is set and REQUEST-DATA
        // carries a `domain-server_id-sequence` position, DML events at
        // or before that sequence are NOT re-streamed — the avro
        // router's resume contract the real server implements (the
        // reference only ever SENDS the GTID, `gomaxscale.go:120-125`;
        // the default mock keeps the ignore-and-resend behavior so the
        // replay-guard drills still exercise at-least-once delivery).
        // The position is exclusive: it names the last event already
        // processed (the source's commit-time resume position), so the
        // stream continues with what FOLLOWS. Schema/DDL events carry
        // no sequence and are always sent — resume lands inside a
        // schema version, never before its DDL.
        val SeqRe = """"sequence":(\d+)""".r.unanchored
        val GtidRe = """ (\d+)-(\d+)-(\d+)$""".r.unanchored
        val resumeSeq: Long =
          if (!honorGtid) -1L
          else requestDataReceived.trim match {
            case GtidRe(_, _, sq) => sq.toLong
            case _ => -1L
          }
        // fast path: with no resume position every event streams (the
        // regex would match-or-default to true for all of them), so the
        // per-event sequence scan — and the filtered copy it builds —
        // is skipped; the ingest bench feeds multi-million-event
        // streams through here
        val toSend =
          if (resumeSeq < 0) events
          else events.filter { ev =>
            ev match {
              case SeqRe(sq) => sq.toLong > resumeSeq
              case _ => true // DDL / schema events always stream
            }
          }
        // whole-event mode writes through a 64 KiB buffer — one syscall
        // per ~300 events instead of one per event, which is also how
        // the real server's TCP segments arrive (many events per read;
        // the framer exists precisely to re-split them). The buffer is
        // flushed after the loop, BEFORE the keep-alive sleep, so every
        // scripted event is on the wire when the loop ends. Chunked
        // mode keeps per-chunk flushes — its tests stress read
        // boundaries on a trickling wire.
        val bout = if (chunkSize <= 0)
          new java.io.BufferedOutputStream(out, 65536) else out
        var i = 0
        toSend.foreach { ev =>
          interleavedError.filter(_ => i == 1).foreach { e =>
            bout.flush(); reply(conn, e)
          }
          val bytes = (ev + "\n").getBytes(UTF_8)
          if (chunkSize <= 0) bout.write(bytes)
          else bytes.grouped(chunkSize).foreach { c => bout.write(c); bout.flush(); Thread.sleep(1) }
          eventsSent += 1
          i += 1
        }
        bout.flush()
    }
    if (!closeAfterEvents) Thread.sleep(60000)
  }
}
