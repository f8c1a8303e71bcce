package graft.sources.cdc

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.DecoderFactory

import scala.collection.mutable.ArrayBuffer

/** Incremental framer for an Avro Object Container stream — the
  * byte-level sibling of `JsonFramer`, used when the CDC client
  * registers with `TYPE=AVRO` (an extension beyond the reference, which
  * only implements JSON — `gomaxscale.go:87-90`).
  *
  * The container format is self-describing and framing-friendly:
  * a header (magic `Obj\1`, metadata map carrying the writer schema,
  * 16-byte sync marker), then data blocks of
  * `(record_count varint, byte_len varint, payload, sync)`. The framer
  * accumulates arbitrary network chunks, parses the header, then emits
  * fully-decoded `GenericRecord`s per complete block; partial
  * varints/blocks simply wait for more bytes (the same
  * chunking-agnostic contract `JsonFramerSpec` pins for JSON, property-
  * tested in `AvroFramerSpec`). Sync markers are verified — a mismatch
  * means a corrupt or desynchronized stream and raises immediately
  * rather than decoding garbage.
  *
  * Schema evolution: the avro router starts a NEW container (fresh
  * header, new writer schema) after a DDL change, so at every block
  * boundary the framer sniffs for the `Obj\1` magic and, on a match,
  * re-enters header parsing — surfaced to the caller as a
  * [[AvroFramer.SchemaFrame]] (→ a new in-band DdlEvent), exactly like
  * a JSON-mode schema event.
  */
final class AvroFramer {
  import AvroFramer._

  private val buf = ArrayBuffer.empty[Byte]
  private var start = 0 // consumed prefix (compacted lazily)

  private var writerSchema: Schema = _
  private var syncMarker: Array[Byte] = _
  private var reader: GenericDatumReader[GenericRecord] = _

  /** Current writer schema; null until the first header has arrived. */
  def schema: Schema = writerSchema

  /** Feed `n` bytes; returns schema announcements and decoded records
    * in stream order. */
  def feed(bytes: Array[Byte], n: Int): Seq[AvroFrame] = {
    buf ++= bytes.iterator.take(n)
    val out = Vector.newBuilder[AvroFrame]
    var progressed = true
    while (progressed) {
      progressed = false
      if (writerSchema == null || magicAhead()) {
        val hadSchema = writerSchema
        writerSchema = null
        if (tryParseHeader()) { out += SchemaFrame(writerSchema); progressed = true }
        else writerSchema = hadSchema // header incomplete — restore and wait
      } else {
        val recs = tryParseBlock()
        if (recs.nonEmpty) { out ++= recs.map(RecordFrame); progressed = true }
      }
    }
    if (start > 65536) { buf.remove(0, start); start = 0 }
    out.result()
  }

  /** A new container header at the current position (block boundary)? */
  private def magicAhead(): Boolean =
    avail >= 4 && byteAt(0) == 'O' && byteAt(1) == 'b' && byteAt(2) == 'j' && byteAt(3) == 1

  // ---- incremental primitives: all return via Option, None = need more

  private def avail: Int = buf.length - start

  private def byteAt(i: Int): Int = buf(start + i) & 0xff

  /** Avro zigzag varint at offset `off`: Some((value, bytesUsed)). */
  private def readVarint(off: Int): Option[(Long, Int)] = {
    var i = off
    var shift = 0
    var acc = 0L
    while (i < avail && shift <= 63) {
      val b = byteAt(i)
      acc |= (b & 0x7fL) << shift
      i += 1
      if ((b & 0x80) == 0) {
        val v = (acc >>> 1) ^ -(acc & 1) // zigzag decode
        return Some((v, i - off))
      }
      shift += 7
    }
    if (shift > 63) throw new MaxScaleProtocolException("avro: varint overflow")
    None
  }

  private def tryParseHeader(): Boolean = {
    if (avail < 4) return false
    if (!(byteAt(0) == 'O' && byteAt(1) == 'b' && byteAt(2) == 'j' && byteAt(3) == 1))
      throw new MaxScaleProtocolException("avro: bad container magic")
    // metadata map: repeated (count, [entries]) groups, 0-count terminator
    var off = 4
    var schemaJson: String = null
    var done = false
    while (!done) {
      val (count, n) = readVarint(off).getOrElse(return false)
      off += n
      if (count == 0) done = true
      else {
        // negative count = |count| entries preceded by a byte size
        var entries = math.abs(count)
        if (count < 0) {
          val (_, n2) = readVarint(off).getOrElse(return false)
          off += n2
        }
        while (entries > 0) {
          val (klen, kn) = readVarint(off).getOrElse(return false)
          off += kn
          if (avail < off + klen) return false
          val key = new String(buf.slice(start + off, start + off + klen.toInt).toArray, "UTF-8")
          off += klen.toInt
          val (vlen, vn) = readVarint(off).getOrElse(return false)
          off += vn
          if (avail < off + vlen) return false
          if (key == "avro.schema")
            schemaJson = new String(buf.slice(start + off, start + off + vlen.toInt).toArray, "UTF-8")
          off += vlen.toInt
          entries -= 1
        }
      }
    }
    if (avail < off + 16) return false
    if (schemaJson == null)
      throw new MaxScaleProtocolException("avro: header missing avro.schema")
    syncMarker = buf.slice(start + off, start + off + 16).toArray
    off += 16
    writerSchema = new Schema.Parser().parse(schemaJson)
    reader = new GenericDatumReader[GenericRecord](writerSchema)
    start += off
    true
  }

  private def tryParseBlock(): Seq[GenericRecord] = {
    val (count, n1) = readVarint(0).getOrElse(return Nil)
    val (byteLen, n2) = readVarint(n1).getOrElse(return Nil)
    val dataOff = n1 + n2
    if (avail < dataOff + byteLen + 16) return Nil
    val data = buf.slice(start + dataOff, start + dataOff + byteLen.toInt).toArray
    val syncAt = dataOff + byteLen.toInt
    val sync = buf.slice(start + syncAt, start + syncAt + 16).toArray
    if (!java.util.Arrays.equals(sync, syncMarker))
      throw new MaxScaleProtocolException("avro: sync marker mismatch (stream desynchronized)")
    start += syncAt + 16
    val decoder = DecoderFactory.get().binaryDecoder(data, null)
    (0L until count).map(_ => reader.read(null, decoder))
  }
}

object AvroFramer {
  /** Stream-ordered framing output: a new writer schema (container
    * header) or one decoded record. */
  sealed trait AvroFrame
  final case class SchemaFrame(schema: Schema) extends AvroFrame
  final case class RecordFrame(record: GenericRecord) extends AvroFrame
}
