package perfbench

import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.sources.cdc.{CdcProjection, CdcWarnings, MaxScaleClient, SchemaRegistry}

/** What one streaming phase left behind: its committed batches, the
  * generator's schedule, and the wire counters. */
final case class PhaseRun(events: Int, batches: Seq[StreamingQueryProgress],
    server: PacedServer, corrupt: Int, rowsSeen: Map[Long, Long]) {
  import Cdc.offsetIndex

  /** (start index, end index, batch end epoch ms) per committed batch. */
  lazy val ranges: Seq[(Long, Long, Double)] = batches.map { p =>
    val src = p.sources.head
    (offsetIndex(src.startOffset), offsetIndex(src.endOffset),
      Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").doubleValue)
  }

  def batchStartMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli.toDouble

  /** Events not committed exactly once: the committed ranges must tile
    * [0, events) in batch order. */
  def notExactlyOnce: Long = {
    var next = 0L; var bad = 0L
    ranges.foreach { case (a, b, _) =>
      if (a != next) bad += math.abs(a - next)
      next = b
    }
    bad + math.abs(events - next)
  }

  /** Per committed batch: the rows the hook received (-1 if it was not
    * counted) and the events the batch's offset range holds. Progress
    * `numInputRows` cannot stand in: it counts every re-read of the
    * batch by the hook. */
  lazy val rowsRead: Seq[(Long, Long)] = batches.zip(ranges).map { case (p, (a, b, _)) =>
    (rowsSeen.getOrElse(p.batchId, -1L), b - a)
  }

  /** Rows the hook received over all committed batches. */
  def rowsIn: Long = rowsRead.map(_._1).sum

  /** Rows received beyond or short of each batch's offset range. */
  def rowsOffRange: Long = rowsRead.map { case (got, want) => math.abs(got - want) }.sum

  /** Per-event commit lag (ms) from the generator's due time, for the
    * events due `settleMs` or more after the first one: the batches
    * before that still run code the JIT is compiling. */
  def lagsMs(settleMs: Double): Array[Double] = ranges.flatMap { case (a, b, end) =>
    (math.max(a, 1L) until b).filter(i => server.dueMs(i.toInt) - server.dueMs(1) >= settleMs)
      .map(i => end - server.dueMs(i.toInt))
  }.toArray

  /** Events per second of each batch that holds `size` events: its
    * events over its `triggerExecution` time. While a backlog drains,
    * those are the batches the cap fills; the first ones after the
    * schema event and the last one hold fewer. */
  def batchEps(size: Int): Seq[Double] = batches.zip(ranges).collect {
    case (p, (a, b, _)) if b - a == size =>
      size / (p.durationMs.get("triggerExecution").doubleValue / 1000.0)
  }
}

/** The two CDC workloads: the wire → `maxscale-cdc` source →
  * `CdcProjection` → state hook → commit path, once as an open loop at a
  * fixed offered rate and once draining a preloaded backlog. */
object Cdc {
  val Db: String = graft.streaming.CdcAnalytics.Database

  /** The event count of a `maxscale-cdc` offset (JSON or bare index). */
  def offsetIndex(offsetJson: String): Long =
    if (offsetJson == null || offsetJson == "null") 0L
    else """"index":(\d+)""".r.findFirstMatchIn(offsetJson).map(_.group(1).toLong)
      .getOrElse(offsetJson.trim.toLong)

  // ---- the cdc_upsert script --------------------------------------

  val KvTable = "kv"
  val kvSchema: StructType = StructType(Seq(
    StructField("k", LongType), StructField("grp", IntegerType),
    StructField("val", LongType), StructField("tag", StringType)))

  val kvDdl: String =
    s"""{"namespace":"MaxScaleChangeDataSchema.avro","type":"record","name":"ChangeRecord","table":"$KvTable","database":"$Db","version":1,"gtid":"0-1-1","fields":[{"name":"k","type":"long"},{"name":"grp","type":"int"},{"name":"val","type":"long"},{"name":"tag","type":"string"}]}"""

  private def kvDml(seq: Long, en: Int, op: String, k: Long, grp: Int, v: Long): String =
    s"""{"domain":0,"server_id":1,"sequence":$seq,"event_number":$en,"timestamp":1754956800,"event_type":"$op","k":$k,"grp":$grp,"val":$v,"tag":"t${v % 97}"}"""

  final case class KvScript(events: Vector[String], finalState: Map[Long, (Int, Long)])

  /** About `n` seeded row changes over `keySpace` keys, after the DDL:
    * an absent key is inserted; a live key is updated (an
    * update_before/update_after pair) three times in four, else
    * deleted. `finalState` is the last op per key. */
  def kvScript(seed: Long, n: Int, keySpace: Int): KvScript = {
    val r = new java.util.SplittableRandom(seed * 31 + 3)
    val live = scala.collection.mutable.HashMap.empty[Long, (Int, Long)]
    val out = Vector.newBuilder[String]
    out += kvDdl
    var count = 0; var seq = 0L
    while (count < n) {
      val k = r.nextInt(keySpace).toLong
      seq += 1
      live.get(k) match {
        case None =>
          val row = (r.nextInt(16), r.nextLong(1000000L))
          out += kvDml(seq, 1, "insert", k, row._1, row._2); count += 1
          live(k) = row
        case Some(old) if r.nextInt(4) > 0 =>
          val row = (old._1, r.nextLong(1000000L))
          out += kvDml(seq, 1, "update_before", k, old._1, old._2)
          out += kvDml(seq, 2, "update_after", k, row._1, row._2); count += 2
          live(k) = row
        case Some(old) =>
          out += kvDml(seq, 1, "delete", k, old._1, old._2); count += 1
          live.remove(k)
      }
    }
    KvScript(out.result(), live.toMap)
  }

  // ---- the cdc_neardup script (the qc7 shape) ----------------------

  val DocTable: String = graft.streaming.CdcAnalytics.DocTableName

  /** Every document inserted in seeded order, then the ones with
    * `(doc_id + seed) % 7 == 0` deleted in another seeded order. */
  def docScript(seed: Long, docs: Seq[Gen.Doc]): Vector[String] = {
    import graft.streaming.CdcAnalytics.{docDdlJson, docOpDmlJson}
    val r = new scala.util.Random(seed)
    val inserts = r.shuffle(docs.toList)
    val deletes = r.shuffle(docs.filter(d => (d.id + seed) % 7 == 0).toList)
    var seq = 0L
    docDdlJson +: (inserts.map { d => seq += 1; docOpDmlJson(seq, "insert", d.id, d.text) } ++
      deletes.map { d => seq += 1; docOpDmlJson(seq, "delete", d.id, d.text) }).toVector
  }

  def survivorPredicate(seed: Long): String = s"(doc_id + $seed) % 7 <> 0"

  /** The registered qc7 oracle (dedup groups over the survivors of
    * `doc_id % 7 == 0` deletes) with this run's delete rule. */
  def neardupOracle(seed: Long): String = {
    val base = graft.SparkEntry.oracleSql("qc7_cdc_neardup_retraction")
    val pred = "doc_id % 7 <> 0"
    require(base.contains(pred), s"qc7 oracle no longer filters on '$pred'")
    base.replace(pred, survivorPredicate(seed))
  }

  // ---- one streaming phase ------------------------------------------

  /** Streams `script` from a [[PacedServer]] at `rate` (<= 0: preloaded)
    * into `hook` until every event is committed, then stops the query.
    * With `countRows`, each batch's rows are counted before the hook
    * runs (one more Spark job per batch). */
  def runPhase(s: SparkSession, script: IndexedSeq[String], rate: Double,
      table: String, ckpt: String, maxPerTrigger: Option[Int], timeoutMs: Long,
      countRows: Boolean)(hook: (DataFrame, Long) => Unit): PhaseRun = {
    val rowsSeen = new java.util.concurrent.ConcurrentHashMap[Long, Long]
    val corrupt = new java.util.concurrent.atomic.AtomicInteger
    val prevSink = CdcWarnings.sink
    CdcWarnings.sink = (_, _) => corrupt.incrementAndGet()
    val server = new PacedServer(script, rate)
    try {
      val reader = maxPerTrigger.foldLeft(s.readStream.format("maxscale-cdc")
        .option("host", "127.0.0.1").option("port", server.port)
        .option("user", "bench").option("password", "bench")
        .option("database", Db).option("table", table)
        .option("bufferSize", "65536")) { (r, n) => r.option("maxEventsPerTrigger", n) }
      // each batch starts as soon as the last one ends, so commit lag
      // is batch time, not time spent waiting for a trigger
      val q = reader.load().writeStream
        .trigger(Trigger.ProcessingTime(0))
        .foreachBatch { (b: DataFrame, id: Long) =>
          if (countRows) rowsSeen.put(id, b.count())
          hook(b, id)
        }
        .option("checkpointLocation", ckpt).start()
      def committed: Long =
        Option(q.lastProgress).map(p => offsetIndex(p.sources.head.endOffset)).getOrElse(0L)
      val deadline = System.currentTimeMillis() + timeoutMs
      def await(n: Long): Unit =
        while (committed < n && q.exception.isEmpty && System.currentTimeMillis() < deadline)
          Thread.sleep(5)
      try {
        // the paced schedule (or the backlog) starts once the query has
        // committed the schema event, so query start-up is not counted
        await(1)
        server.go()
        await(script.size)
      } finally q.stop()
      q.exception.foreach(e => throw e)
      require(server.error == null, s"generator failed: ${server.error}")
      require(committed >= script.size,
        s"stream committed $committed of ${script.size} events in ${timeoutMs / 1000} s")
      val batches = q.recentProgress.toSeq.filter(p =>
        p.sources.nonEmpty && p.sources.head.endOffset != p.sources.head.startOffset)
      PhaseRun(script.size, batches, server, corrupt.get, rowsSeen.asScala.toMap)
    } finally {
      server.close()
      CdcWarnings.sink = prevSink
    }
  }

  /** Events/s of `MaxScaleClient.poll()` alone draining `script` from a
    * preloaded generator: the same wire and decode, no Spark. */
  def clientPollEps(script: IndexedSeq[String]): Double = {
    val server = new PacedServer(script, 0)
    val client = new MaxScaleClient("127.0.0.1", server.port, "bench", "bench",
      database = Db, table = "t", bufferSize = 65536)
    try {
      val t0 = System.nanoTime()
      server.go()
      client.connect()
      var n = 0
      while (n < script.size) {
        val r = client.poll()
        require(!r.eof, s"client saw EOF after $n of ${script.size} events")
        require(r.events.forall(_.isRight), "client decoded a corrupt event")
        n += r.events.size
      }
      n / ((System.nanoTime() - t0) / 1e9)
    } finally { client.close(); server.close() }
  }

  /** Files and bytes under `dir`. */
  def footprint(dir: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val st = java.nio.file.Files.walk(p)
      try {
        val files = st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toSeq
        (files.size.toLong, files.map(java.nio.file.Files.size).sum)
      } finally st.close()
    }
  }

  /** The shared first step of both hooks: absorb DDL rows, project DML
    * rows through the latest schema. */
  def project(batch: DataFrame, reg: SchemaRegistry, table: String): Option[DataFrame] = {
    CdcProjection.registryFrom(batch, reg)
    if (reg.latest(Db, table).isEmpty) None
    else Some(CdcProjection.projectLatest(batch, reg, Db, table))
  }
}
