package graft.sources.cdc

import java.util
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 Structured Streaming source for the MaxScale CDC
  * protocol: `spark.readStream.format("maxscale-cdc")` with options
  * `host, port, user, password, database, table [, uuid, version,
  * gtid]` (SURVEY.md §4.2 "custom pieces", reference operators A1–A8).
  *
  * Rows carry the fixed DML metadata envelope plus the raw JSON payload;
  * downstream projects columns with `from_json(payload,
  * registry.latest(db, table))` — the same lazy schema-on-read split as
  * the reference's `RawData` (`types.go:182-190`), but the registry is
  * fed in-band by DDL events (kind = "ddl" rows carry the schema JSON).
  *
  * Offsets are the count of events ingested since source start, and
  * additionally carry the RESUME POSITION of their last event: the
  * MariaDB GTID (`domain-server_id-sequence` — every DML envelope
  * carries the three components, `types.go:172-178`) and the schema
  * version in effect. On restart the source re-subscribes with
  * `REQUEST-DATA db.table.<version> <gtid>` derived from the
  * checkpoint — the version-qualified form the real avro router keys
  * its files by (one file per schema version), so resume lands in the
  * right version's file and evolution continues via in-band container
  * headers / DDL events. This upgrades the reference's resume story
  * (`gomaxscale_options.go:53-57`: one STATIC user-configured GTID,
  * at-most-once) to per-checkpoint replay: the adopted position is the
  * EARLIEST uncommitted offset, so an interrupted batch is re-fetched
  * from the wire (at-least-once into an idempotent sink) instead of
  * silently skipped.
  *
  * Scale note: one TCP subscription is inherently a single-reader
  * stream, matching how one binlog shard maps onto one receiver;
  * multi-table fan-in = one source per table, unioned. The receiver
  * encodes each event once into `UnsafeRow` bytes, and a large
  * micro-batch is handed out as up to default-parallelism contiguous
  * partitions (a small one stays one partition), so the per-event work
  * of every job that reads the batch spreads over the workers.
  */
object MaxScaleCdc {
  val schema: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false), // ddl | dml | corrupt
    StructField("database", StringType),
    StructField("table", StringType),
    StructField("op", StringType), // insert|update_before|update_after|delete for dml
    StructField("domain", IntegerType),
    StructField("server_id", IntegerType),
    StructField("sequence", LongType),
    StructField("event_number", LongType),
    StructField("ts", TimestampType),
    StructField("gtid", StringType), // ddl: schema gtid; dml: domain-server_id-sequence
    StructField("schema_version", IntegerType), // set on ddl events
    StructField("payload", StringType))) // raw event JSON / error text

  /** Encodes receiver events into the `UnsafeRow` bytes of [[schema]],
    * once per event as it arrives: a micro-batch partition is then a
    * blob of these rows, read back by pointing one reused `UnsafeRow`
    * at each (no per-event objects, no per-job Java serialization of
    * rows). One instance per receiver thread; not thread-safe. */
  final class RowEncoder(database: String, table: String) {
    private val writer = new UnsafeRowWriter(schema.length, 256)

    private def str(i: Int, s: String): Unit =
      if (s == null) writer.setNullAt(i) else writer.write(i, UTF8String.fromString(s))

    private def int(i: Int, v: Integer): Unit =
      if (v == null) writer.setNullAt(i) else writer.write(i, v.intValue)

    /** The row of `ev`; `version` is the schema version in effect at
      * ingest, stamped onto DML rows (DDL rows carry their own). */
    def encode(ev: Either[String, CdcEvent], version: Integer): Array[Byte] = {
      writer.reset()
      writer.zeroOutNullBytes()
      ev match {
        case Right(d: DdlEvent) =>
          str(0, "ddl"); str(1, d.database); str(2, d.table)
          (3 to 8).foreach(writer.setNullAt)
          str(9, d.gtid); int(10, d.version); str(11, d.rawJson)
        case Right(m: DmlEvent) =>
          str(0, "dml"); str(1, database); str(2, table); str(3, m.eventKind)
          writer.write(4, m.domain); writer.write(5, m.serverId)
          writer.write(6, m.sequence); writer.write(7, m.eventNumber)
          writer.write(8, m.timestamp * 1000000L)
          str(9, gtidOf(m)); int(10, version); str(11, m.rawJson)
        case Left(err) =>
          str(0, "corrupt"); str(1, database); str(2, table)
          (3 to 10).foreach(writer.setNullAt)
          str(11, err)
      }
      // copy: the writer's buffer is reused for the next event
      writer.getRow.copy().getBytes
    }
  }

  /** A DML event's GTID, `domain-server_id-sequence`. */
  def gtidOf(m: DmlEvent): String = s"${m.domain}-${m.serverId}-${m.sequence}"
}

final class MaxScaleCdcProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "maxscale-cdc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = MaxScaleCdc.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new MaxScaleCdcTable(properties.asScala.toMap)
}

final class MaxScaleCdcTable(options: Map[String, String]) extends Table with SupportsRead {
  override def name(): String =
    s"maxscale-cdc(${options.getOrElse("database", "?")}.${options.getOrElse("table", "?")})"
  override def schema(): StructType = MaxScaleCdc.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = MaxScaleCdc.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new MaxScaleCdcMicroBatchStream(options)
    }
}

/** Micro-batch offset: the event count plus the resume position (GTID +
  * schema version) of the last event at or before `index`. The resume
  * fields are a deterministic function of `index` for a given stream, so
  * offset equality still behaves as a pure index compare; `json()` emits
  * the legacy bare index when no position is known, and
  * [[CdcOffset.parse]] accepts both forms (old checkpoints stay
  * readable). */
final case class CdcOffset(index: Long, gtid: String = null,
    version: Integer = null) extends Offset {
  override def json(): String =
    if (gtid == null && version == null) index.toString
    else {
      val g = if (gtid == null) "null" else "\"" + gtid + "\""
      s"""{"index":$index,"gtid":$g,"version":${if (version == null) "null" else version}}"""
    }
}

object CdcOffset {
  private val Re =
    """\{"index":(\d+),"gtid":(?:"([^"]*)"|null),"version":(?:(\d+)|null)\}""".r
  def parse(json: String): CdcOffset = json.trim match {
    case Re(i, g, v) =>
      CdcOffset(i.toLong, g, if (v == null) null else Int.box(v.toInt))
    case s => CdcOffset(s.toLong)
  }
}

/** Pluggable warn channel for non-fatal receiver conditions (decode
  * failures, interleaved server messages) — the analog of the
  * reference's injectable logger (`gomaxscale_options.go:98-107`) and
  * its log-and-continue error policy (`gomaxscale.go:154-157`). The
  * default logs at WARN; embedders may swap the sink. Corrupt rows
  * still flow in-stream regardless, so no information is lost when the
  * sink is left alone.
  */
object CdcWarnings {
  @volatile var sink: (String, String) => Unit =
    (src, msg) => org.slf4j.LoggerFactory.getLogger("graft.cdc").warn(s"[$src] $msg")
  def emit(source: String, msg: String): Unit = sink(source, msg)
}

/** Injectable time source for every CDC deadline computation — the
  * analog of the reference's `timeRef` option
  * (`gomaxscale_options.go:15,38`, armed around each socket deadline at
  * `gomaxscale.go:232-240`): tests swap in a scripted clock to drive
  * deadline paths deterministically instead of sleeping them out;
  * production leaves walltime. Governs the AvailableNow drain bound,
  * the replay wait, and the client's write deadline accounting (the
  * watchdog TIMER stays on real time — it is the safety net that
  * actually uncloses a wedged socket — but whether a completed write is
  * judged late is a clock read, exactly the reference's
  * `timeRef().Add(write)` semantics). */
object CdcClock {
  @volatile var nowMillis: () => Long = () => System.currentTimeMillis()
  def now(): Long = nowMillis()
}

final class MaxScaleCdcMicroBatchStream(options: Map[String, String])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private def opt(k: String): String = options.getOrElse(k,
    throw new IllegalArgumentException(s"maxscale-cdc: missing option '$k'"))

  private val database = opt("database")
  private val table = opt("table")
  val registry = new SchemaRegistry

  // Driver-side receiver, like Spark's own socket source: the TCP pump
  // fills `buffer`; micro-batches slice [start, end) out of it. Each
  // entry holds the event's encoded row plus the resume position
  // (gtid, schema version) in effect AFTER it; `baseResume` = the
  // position at index `base` (advanced on commit, seeded from options
  // or an adopted checkpoint). Guarded by the buffer lock.
  private val buffer = mutable.ArrayBuffer.empty[MaxScaleCdcMicroBatchStream.Buffered]
  private var base = 0L // events trimmed after commit
  private val stopped = new AtomicBoolean(false)
  @volatile private var receiverError: Throwable = _

  private var baseResume: (String, Integer) =
    (options.get("gtid").orNull, options.get("version").map(v => Int.box(v.toInt)).orNull)
  // checkpoint adoption window: deserializeOffset calls arriving BEFORE
  // the receiver's first connection adopt the EARLIEST offset's position
  // (the start of the uncommitted batch — so an interrupted batch is
  // re-fetched, never skipped); once the receiver is live the wire
  // position is fixed and later deserializations are read-only
  private var adoptedIndex = Long.MaxValue
  private val receiverStarted = new AtomicBoolean(false)

  // Backpressure parity with the reference's unbuffered channel
  // (`gomaxscale.go:25,160-162`): the buffer is BOUNDED; when full the
  // receiver blocks in `append`, which stops draining the socket and
  // pushes the pressure onto TCP flow control instead of growing driver
  // memory without bound under a stalled/slow query. Commits trim and
  // wake the receiver.
  private val maxBufferedEvents =
    options.getOrElse("maxBufferedEvents", "1000000").toLong

  // Built lazily so a checkpoint restart can adopt its resume position
  // first: the REQUEST-DATA line is version-qualified with the adopted
  // (or configured) schema version and starts at the adopted GTID —
  // the per-schema-version resume form the avro router's
  // file-per-version layout expects.
  private lazy val client = {
    val (g, v) = buffer.synchronized(baseResume)
    new MaxScaleClient(
      host = opt("host"), port = opt("port").toInt,
      user = options.getOrElse("user", ""), password = options.getOrElse("password", ""),
      uuid = options.getOrElse("uuid", "XXX-YYY_YYY"),
      database = database, table = table,
      version = Option(v).map(_.intValue),
      gtid = Option(g),
      connectTimeoutMs = options.getOrElse("connectTimeoutMs", "2000").toInt,
      readTimeoutMs = options.getOrElse("readTimeoutMs", "200").toInt,
      writeTimeoutMs = options.getOrElse("writeTimeoutMs", "2000").toInt,
      bufferSize = options.getOrElse("bufferSize", "4096").toInt,
      wireType = options.getOrElse("wireType", "JSON").toUpperCase)
  }

  /** Client network config, exposed for option-passthrough tests. */
  private[cdc] def clientConfig: (Int, Int) = (client.connectTimeoutMs, client.bufferSize)

  /** Registered wire format, exposed for option-passthrough tests. */
  private[cdc] def clientWireType: String = client.wireType

  /** Blocking bounded append (see `maxBufferedEvents` above) of one
    * encoded row; the resume position after it is its own `gtid` /
    * `version` where the event carries one, else the previous one. */
  private def append(row: Array[Byte], ddl: Boolean, gtid: String,
      version: Integer): Unit = buffer.synchronized {
    while (buffer.size >= maxBufferedEvents && !stopped.get) buffer.wait(100)
    if (!stopped.get) {
      val prev = if (buffer.nonEmpty) (buffer.last.gtid, buffer.last.version) else baseResume
      val g = if (gtid != null && gtid.nonEmpty) gtid else prev._1
      val v = if (version != null) version else prev._2
      buffer += MaxScaleCdcMicroBatchStream.Buffered(row, ddl, g, v)
      buffer.notifyAll() // wake a planInputPartitions waiting on replay
    }
  }

  private def ensureReceiver(): Unit =
    if (receiverStarted.compareAndSet(false, true)) receiver.start()

  private val receiver = new Thread(() => {
    try {
      client.connect()
      var eof = false
      // schema version in effect at ingest time: stamped onto DML rows
      // so downstream projection can pick the right registry schema per
      // row even across in-band schema evolution (SURVEY.md §7.3);
      // seeded from the adopted/configured resume position
      var currentVersion: java.lang.Integer = buffer.synchronized(baseResume._2)
      val enc = new MaxScaleCdc.RowEncoder(database, table)
      while (!stopped.get && !eof) {
        val res = client.poll()
        eof = res.eof
        res.events.foreach {
          case e @ Right(d: DdlEvent) =>
            registry.register(d)
            currentVersion = Int.box(d.version)
            append(enc.encode(e, currentVersion), ddl = true, d.gtid, currentVersion)
          case e @ Right(m: DmlEvent) =>
            append(enc.encode(e, currentVersion), ddl = false, MaxScaleCdc.gtidOf(m),
              currentVersion)
          case e @ Left(err) =>
            CdcWarnings.emit(s"$database.$table", s"decode: $err")
            append(enc.encode(e, null), ddl = false, null, null)
        }
        res.serverMessages.foreach { m =>
          CdcWarnings.emit(s"$database.$table", s"server: $m")
          append(enc.encode(Left(s"server: $m"), null), ddl = false, null, null)
        }
      }
    } catch {
      case _: InterruptedException if stopped.get => ()
      case t: Throwable => receiverError = t
    } finally client.close()
  }, s"maxscale-cdc-receiver-$database.$table")
  receiver.setDaemon(true)

  /** Offset for `idx` with the resume position of its last event (the
    * buffer lock must be held). */
  private def offsetAtLocked(idx: Long): CdcOffset =
    if (idx <= base || buffer.isEmpty) CdcOffset(idx, baseResume._1, baseResume._2)
    else {
      val b = buffer(math.min((idx - 1 - base).toInt, buffer.size - 1))
      CdcOffset(idx, b.gtid, b.version)
    }

  override def initialOffset(): Offset = {
    ensureReceiver()
    buffer.synchronized(offsetAtLocked(0L))
  }

  override def latestOffset(): Offset = {
    ensureReceiver()
    if (receiverError != null) throw receiverError
    buffer.synchronized(offsetAtLocked(base + buffer.size))
  }

  // ---- admission control: `maxEventsPerTrigger` caps batch size, the
  // micro-batch analog of the reference's bounded read buffer (A5/§4.1)
  override def getDefaultReadLimit: ReadLimit =
    options.get("maxEventsPerTrigger").map(n => ReadLimit.maxRows(n.toLong))
      .getOrElse(ReadLimit.allAvailable())

  // Trigger.AvailableNow: drain the server's current backlog, then
  // terminate — the batch-catchup mode. The wire has no backlog-end
  // marker, so "available now" is detected by the feed going idle (or
  // EOF): prepare blocks until the buffer is stable for `idleMs`.
  @volatile private var availableNowBound: Long = -1L

  override def prepareForTriggerAvailableNow(): Unit = {
    ensureReceiver()
    val idleMs = options.getOrElse("availableNowIdleMs", "1000").toLong
    val deadline = CdcClock.now() +
      options.getOrElse("availableNowMaxWaitMs", "15000").toLong
    var last = -1L
    var stableSince = CdcClock.now()
    var done = false
    while (!done && CdcClock.now() < deadline) {
      val size = buffer.synchronized(base + buffer.size)
      val now = CdcClock.now()
      if (size != last) { last = size; stableSince = now }
      done = (size > 0 || !receiver.isAlive) && now - stableSince >= idleMs
      if (!done) Thread.sleep(50)
    }
    availableNowBound = buffer.synchronized(base + buffer.size)
  }

  // ---- DDL batch-boundary split (SURVEY §7.3 hardening): with
  // `splitBatchesAtDdl=true`, a micro-batch never SPANS a schema
  // change — the admitted range is cut just before the first DDL event
  // strictly inside it, so the DDL opens the NEXT batch and every
  // batch's DML rows project under exactly one schema version (a
  // DDL-leading batch registers its schema before its own DMLs in
  // CdcProjection.registryFrom, which collects DDLs batch-first). Off
  // by default: projectPerVersion already handles spanning batches;
  // this is for sinks that bind `from_json` ONCE per batch.
  private val splitAtDdl =
    options.getOrElse("splitBatchesAtDdl", "false").toBoolean

  /** First DDL index in (from, until) — exclusive on BOTH ends: a DDL
    * AT `from` is the batch's own leading schema event and must not
    * produce an empty batch. Buffer lock must be held. */
  private def ddlCutLocked(from: Long, until: Long): Long = {
    var i = math.max(from + 1, base)
    var cut = until
    while (i < until && cut == until) {
      if (buffer((i - base).toInt).ddl) cut = i
      i += 1
    }
    cut
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    ensureReceiver()
    if (receiverError != null) throw receiverError
    val s = start.asInstanceOf[CdcOffset].index
    buffer.synchronized {
      rebaseIfBeyondLocked(s)
      val avail0 = base + buffer.size
      val avail = if (availableNowBound >= 0) math.min(avail0, availableNowBound) else avail0
      val end0 = limit match {
        case m: ReadMaxRows => math.min(avail, s + m.maxRows)
        case _ => avail
      }
      val end = if (splitAtDdl) ddlCutLocked(s, end0) else end0
      offsetAtLocked(end)
    }
  }

  override def reportLatestOffset(): Offset = {
    ensureReceiver()
    buffer.synchronized(offsetAtLocked(base + buffer.size))
  }

  /** Restart path: offsets parsed before the receiver's first connection
    * adopt the EARLIEST position seen as the wire resume point — the
    * start of the uncommitted batch, so interrupted work is re-fetched
    * from the server (at-least-once) rather than skipped. Adoption also
    * numbers the feed: the buffer is still empty, so the first event
    * the resumed wire delivers gets the adopted index. Numbering it by
    * comparing the buffer's fill with the batch start (see
    * [[rebaseIfBeyondLocked]]) would race the receiver. Legacy bare-
    * index offsets adopt nothing and keep the configured-GTID behavior. */
  override def deserializeOffset(json: String): Offset = {
    val off = CdcOffset.parse(json)
    if (off.gtid != null || off.version != null) buffer.synchronized {
      if (!receiverStarted.get && off.index < adoptedIndex) {
        adoptedIndex = off.index
        baseResume = (off.gtid, off.version)
        base = off.index
      }
    }
    off
  }

  /** Events buffered and not yet committed. */
  private[cdc] def bufferedEvents: Int = buffer.synchronized(buffer.size)

  /** Checkpoint restart with a bare-index offset (one that carries no
    * resume position, so [[deserializeOffset]] adopted nothing): a
    * committed index beyond everything this fresh connection has
    * buffered means the counter must continue from the checkpoint.
    * Rebase so numbering resumes there; the wire position is
    * governed by the ADOPTED checkpoint GTID + schema version when the
    * offsets carry one (see [[deserializeOffset]]), else by the
    * configured GTID (the reference's WithGTID granularity,
    * `gomaxscale_options.go:53-57`). Called with the buffer lock held.
    */
  private def rebaseIfBeyondLocked(start: Long): Unit =
    if (start > base + buffer.size) base = start

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    ensureReceiver()
    val s = start.asInstanceOf[CdcOffset].index
    val e = end.asInstanceOf[CdcOffset].index
    // Replay after a GTID-adopted restart: the resumed wire re-streams
    // the uncommitted batch's events, but they arrive asynchronously —
    // wait (bounded) until the buffer covers [s, e) so the replayed
    // batch is complete, never a timing-dependent prefix. Live batches
    // never wait: their `e` was derived from the buffered size.
    val waitUntil = CdcClock.now() +
      options.getOrElse("replayWaitMs", "5000").toLong
    val rows = buffer.synchronized {
      rebaseIfBeyondLocked(s)
      while (base + buffer.size < e && receiver.isAlive &&
          CdcClock.now() < waitUntil)
        buffer.wait(50)
      val lo = math.max(0, (s - base).toInt)
      val hi = math.max(lo, math.min(buffer.size, (e - base).toInt))
      buffer.slice(lo, hi).toArray
    }
    // contiguous ranges in order, so a batch's collect() order is the
    // wire order however many partitions it spans
    val parallelism = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.defaultParallelism).getOrElse(1)
    val n = MaxScaleCdcMicroBatchStream.splits(rows.length, parallelism)
    def bound(p: Int) = (p.toLong * rows.length / n).toInt
    Array.tabulate[InputPartition](n)(p => CdcInputPartition.of(rows, bound(p), bound(p + 1)))
  }

  override def createReaderFactory(): PartitionReaderFactory = new CdcReaderFactory

  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[CdcOffset].index
    buffer.synchronized {
      val o = offsetAtLocked(e) // resume position advances with the commit
      baseResume = (o.gtid, o.version)
      val drop = (e - base).toInt
      if (drop > 0) {
        buffer.remove(0, math.min(drop, buffer.size))
        base = e
      }
      buffer.notifyAll() // wake a receiver blocked on the full buffer
    }
  }

  override def stop(): Unit = {
    stopped.set(true)
    buffer.synchronized(buffer.notifyAll())
    receiver.interrupt()
  }
}

object MaxScaleCdcMicroBatchStream {
  /** One buffered event: its encoded row, whether it is a DDL (for the
    * `splitBatchesAtDdl` cut) and the resume position after it. */
  final case class Buffered(row: Array[Byte], ddl: Boolean, gtid: String, version: Integer)

  /** Rows per partition above which a batch is split: a smaller batch is
    * one partition (one task per job that reads it), a larger one is
    * spread over up to the session's default parallelism. */
  val RowsPerSplit = 2048

  /** Partitions for a batch of `rows` rows. */
  def splits(rows: Int, parallelism: Int): Int =
    math.max(1, math.min((rows + RowsPerSplit - 1) / RowsPerSplit, parallelism))
}

/** A contiguous run of encoded rows: row `i` is `blob[ends(i-1), ends(i))`
  * (`ends(-1)` = 0). */
final case class CdcInputPartition(blob: Array[Byte], ends: Array[Int]) extends InputPartition

object CdcInputPartition {
  /** The rows `[from, until)` of `rows`, concatenated. */
  def of(rows: Array[MaxScaleCdcMicroBatchStream.Buffered], from: Int,
      until: Int): CdcInputPartition = {
    val out = new java.io.ByteArrayOutputStream()
    val ends = Array.tabulate(until - from) { i => out.write(rows(from + i).row); out.size }
    CdcInputPartition(out.toByteArray, ends)
  }
}

final class CdcReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CdcInputPartition]
    new PartitionReader[InternalRow] {
      private val row = new UnsafeRow(MaxScaleCdc.schema.length)
      private var i = -1
      override def next(): Boolean = {
        i += 1
        if (i >= p.ends.length) false
        else {
          val from = if (i == 0) 0 else p.ends(i - 1)
          row.pointTo(p.blob, Platform.BYTE_ARRAY_OFFSET + from, p.ends(i) - from)
          true
        }
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
