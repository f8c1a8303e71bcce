package graft.sources.cdc

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** Byte-level JSON framer — the wire-rate sibling of `JsonFramer`.
  *
  * Same frame semantics (string-aware brace depth over interleaved JSON
  * objects and free-form server text, objects split across arbitrary
  * read boundaries — reference behavior: `stream.go:28-117`), but the
  * scan runs directly over the read buffer's BYTES and each frame is
  * decoded to a String exactly once, at its boundary:
  *
  *  - a frame contained in one read is decoded straight from the read
  *    buffer region — zero intermediate copies (the common case once the
  *    server batches events per TCP segment);
  *  - a straddling frame accumulates raw bytes in a carry buffer and is
  *    decoded once when it completes.
  *
  * The char-level `JsonFramer` decodes every chunk up front and copies
  * frame chars through a StringBuilder — two extra passes per byte that
  * showed as the residual single-connection ingest ceiling after the
  * round-12 bulk-append/streaming-decode work. Byte scanning is UTF-8
  * safe without decoding: every structural character (`{` `}` `"` `\`)
  * is ASCII, and UTF-8 lead/continuation bytes are ≥ 0x80, so a
  * multi-byte code point can never alias one — including when a read
  * boundary splits it (the carry holds raw bytes; the single decode sees
  * the complete sequence).
  *
  * `JsonFramer` is retained as the independent semantics oracle:
  * ByteJsonFramerSpec drives both framers over random inputs and random
  * BYTE-level splits (char splits can't land inside a code point) and
  * requires identical frame streams.
  *
  * State is O(current straddling frame); one instance lives per source
  * connection, same as the char framer.
  */
final class ByteJsonFramer {

  import ByteJsonFramer._

  private var depth = 0
  private var inString = false
  private var escaped = false

  // raw bytes of a frame that straddles feeds (empty while the open
  // frame is still contained in the current chunk)
  private var carry = new Array[Byte](256)
  private var carryLen = 0

  // raw bytes of a non-JSON server-text run (flushed when an object
  // begins or the caller finalizes — no chunk-boundary loss, unlike the
  // reference which requires non-JSON text to fit one read,
  // `stream.go:86-87`)
  private var pending = new Array[Byte](64)
  private var pendingLen = 0

  /** Feed `len` bytes of `buf` starting at `off`; returns every frame
    * completed by them, in order. The buffer may be reused by the
    * caller after this returns (all retained state is copied out). */
  def feed(buf: Array[Byte], off: Int, len: Int): Seq[Frame] = {
    val out = mutable.ArrayBuffer.empty[Frame]
    val end = off + len
    var i = off
    // region start of the open frame within THIS chunk; when a frame
    // carried over from a previous feed, its earlier bytes are already
    // in `carry` and the region restarts at `off`
    var start = if (depth > 0) off else -1
    while (i < end) {
      if (depth == 0) {
        // between objects: everything up to the next '{' is server text
        val s = i
        while (i < end && buf(i) != '{') i += 1
        if (i > s) pendingAppend(buf, s, i)
        if (i < end) { // found an object start
          flushPending(out)
          depth = 1
          start = i
          i += 1
        }
      } else if (inString) {
        // inside a string value: only '\\' and '"' matter; UTF-8
        // continuation bytes are negative as signed bytes and match
        // neither
        while (i < end && inString) {
          val c = buf(i)
          if (escaped) escaped = false
          else if (c == '\\') escaped = true
          else if (c == '"') inString = false
          i += 1
        }
      } else {
        // inside an object, outside strings: scan to the next '"' '{' '}'
        var emitted = false
        while (i < end && !inString && !emitted) {
          val c = buf(i)
          if (c == '"') { inString = true; i += 1 }
          else if (c == '{') { depth += 1; i += 1 }
          else if (c == '}') {
            depth -= 1
            i += 1
            if (depth == 0) {
              if (carryLen == 0)
                out += Json(new String(buf, start, i - start, UTF_8))
              else {
                carryAppend(buf, start, i)
                out += Json(new String(carry, 0, carryLen, UTF_8))
                carryLen = 0
              }
              start = -1
              emitted = true
            }
          }
          else i += 1
        }
      }
    }
    if (depth > 0 && end > start) carryAppend(buf, start, end)
    out.toSeq
  }

  /** Flush any trailing non-JSON text (call on EOF). */
  def finish(): Seq[Frame] = {
    val out = mutable.ArrayBuffer.empty[Frame]
    flushPending(out)
    out.toSeq
  }

  private def flushPending(out: mutable.ArrayBuffer[Frame]): Unit = {
    if (pendingLen > 0) {
      val s = new String(pending, 0, pendingLen, UTF_8).trim
      pendingLen = 0
      if (s.nonEmpty) out += ServerText(s)
    }
  }

  private def carryAppend(b: Array[Byte], from: Int, until: Int): Unit = {
    carry = ensure(carry, carryLen, until - from, serverText = false)
    System.arraycopy(b, from, carry, carryLen, until - from)
    carryLen += until - from
  }

  private def pendingAppend(b: Array[Byte], from: Int, until: Int): Unit = {
    pending = ensure(pending, pendingLen, until - from, serverText = true)
    System.arraycopy(b, from, pending, pendingLen, until - from)
    pendingLen += until - from
  }

  private def ensure(a: Array[Byte], used: Int, extra: Int,
                     serverText: Boolean): Array[Byte] = {
    // Long arithmetic: `used + extra` and the doubling loop both
    // overflow Int once a (hostile/buggy) server streams an
    // unterminated frame past 2^30 bytes — the Int form spun forever
    // (cap <<= 1 reaches MinValue then sticks at 0) where the old
    // StringBuilder framer at least OOM'd visibly. Fail loudly
    // instead: a >1 GiB single CDC event is protocol breakage, and
    // the thrown error surfaces through poll() like any other
    // connection fault.
    val need = used.toLong + extra
    if (need <= a.length) a
    else if (need > ByteJsonFramer.MaxFrameBytes) {
      // Reset ALL scan state before throwing: a caller that catches the
      // fault and keeps polling the same framer must not resume a
      // half-consumed frame (depth/inString/carry out of sync with the
      // stream would silently mis-frame everything after). A reset
      // framer treats subsequent bytes as a fresh between-objects scan —
      // still garbage-in after a 1 GiB violation, but fail-safe garbage
      // (ServerText / re-sync at the next '{'), not desynchronized JSON.
      depth = 0; inString = false; escaped = false
      carryLen = 0; pendingLen = 0
      val what =
        if (serverText)
          s"non-JSON server text run exceeds ${ByteJsonFramer.MaxFrameBytes} bytes between objects"
        else
          s"frame exceeds ${ByteJsonFramer.MaxFrameBytes} bytes without closing"
      throw new MaxScaleProtocolException(s"$what — malformed stream")
    } else {
      var cap = a.length.toLong << 1
      while (cap < need) cap <<= 1
      java.util.Arrays.copyOf(a, math.min(cap, ByteJsonFramer.MaxFrameBytes).toInt)
    }
  }
}

object ByteJsonFramer {
  /** Hard bound on one frame's byte length (1 GiB): no real CDC event
    * approaches it, and bounding it turns an unterminated-frame stream
    * into a loud protocol error instead of unbounded buffering. */
  private[cdc] val MaxFrameBytes: Long = 1L << 30

  sealed trait Frame
  /** A complete JSON object, decoded from its UTF-8 bytes once. */
  final case class Json(text: String) extends Frame
  /** Non-JSON server text seen between objects (e.g. "ERR ..."). */
  final case class ServerText(text: String) extends Frame
}
