package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import graft.Tables
import graft.sources.cdc.{CdcEvent, CdcProjection, DdlEvent, SchemaRegistry}
import graft.sources.cdc.testkit.MockMaxScaleServer
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** The connector and the engine, composed: a scripted DML workload
  * flows through the FULL wire path — mock MaxScale server → the
  * `maxscale-cdc` DSv2 source (framing, decode, offset tracking) →
  * in-band DDL schema registry → payload projection → exactly-once
  * copy-on-write upsert materialization ([[CdcSnapshotTable]]) — and
  * the materialized state then answers an ordinary analytics query
  * (qc1, a q13-shape aggregation). This is the reference's whole
  * purpose ("consume a CDC stream and DO something with it" —
  * `gomaxscale_test.go:81-223` scripts exactly this DDL→DML workload)
  * carried through to the analytics surface the reference never had.
  *
  * ORACLE-CHECKABILITY is the design constraint: the workload is a
  * pure function of the `customer` fixture table —
  *   - every customer row is INSERTed (bal in integer cents);
  *   - custkey % 3 == 0 rows get an update_before/update_after pair
  *     adding $100 (same binlog sequence, event_number 1 and 2 — the
  *     MaxScale wire shape for an UPDATE);
  *   - custkey % 5 == 0 rows are DELETEd last;
  * so DuckDB can compute the final materialized state INDEPENDENTLY
  * (plain SQL over `customer`, no CDC machinery) and the driver's
  * hash gate closes over the entire connector+materializer path: one
  * dropped event, mis-framed message, mis-ordered merge, or replayed
  * duplicate anywhere in the pipeline and the hash breaks.
  *
  * The workload script itself is built driver-side from a collect of
  * the customer table — that collect is the MOCK SERVER's binlog (the
  * external database side of the wire), not part of the analytics
  * plan; it is bounded by the fixture (15k rows at sf0.1) exactly as
  * the ingest micro-bench's script is (`Bench.ingestEventsPerSec`).
  *
  * THE DRILL is written once, as the reference's one consumer
  * lifecycle is: [[drainWire]] (a mock server per feed → `maxscale-cdc`
  * → registry → the pipeline's foreachBatch hook, drained to an
  * expected row count, servers closed) runs every foreachBatch
  * `run*Pipeline`, and [[drainContinuous]] (pre-registered doc DDL →
  * one continuous plan on RocksDB → parquet sink) runs qc8–qc10. Each
  * pipeline keeps only its state construction and its per-batch hook;
  * every event script is built by one DDL and one DML envelope writer.
  */
object CdcAnalytics {

  val Database = "graft"

  /** Auto-compaction threshold for the retraction drill pipelines
    * (qc6/qc7): low enough that the policy demonstrably FIRES inside
    * their few-batch bounded workloads (VERDICT r10 item 5's "observed
    * firing" bar) — each insert batch appends ≤ StateLayout.NumBuckets
    * files per dir, so the second batch crosses 24. Production callers
    * keep StateLayout.AutoCompactFiles. Content-preserving + crash-safe
    * (swap protocol), so the drills' oracle hashes cannot move. */
  val DrillCompactFiles = 24
  val TableName = "customer_bal"

  /** Stable wide schema of the materialized table. */
  val payloadSchema: StructType = StructType(Seq(
    StructField("custkey", LongType),
    StructField("nationkey", IntegerType),
    StructField("bal_cents", LongType)))

  // ---- the MaxScale JSON envelope, written once ----

  /** A MaxScale schema (DDL) event for `table`; `fields` are JSON field
    * objects ([[field]]). */
  private def ddl(table: String, version: Int, gtid: String, fields: String*): String =
    s"""{"namespace":"MaxScaleChangeDataSchema.avro","type":"record","name":"ChangeRecord","table":"$table","database":"$Database","version":$version,"gtid":"$gtid","fields":[${fields.mkString(",")}]}"""

  private def field(name: String, tpe: String): String =
    s"""{"name":"$name","type":"$tpe"}"""

  /** A MaxScale DML event: the envelope, then the row image in order —
    * strings JSON-escaped, numbers as their `toString`. */
  private def dml(seq: Long, eventNumber: Long, op: String, row: (String, Any)*): String =
    row.map {
      case (k, v: String) => s""""$k":"${jsonEscape(v)}""""
      case (k, v) => s""""$k":$v"""
    }.mkString(s"""{"domain":0,"server_id":1,"sequence":$seq,"event_number":$eventNumber,"timestamp":1754956800,"event_type":"$op",""", ",", "}")

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** `rows` in md5 order of `prefix` + each row's id: deterministic, but
    * neither id- nor file-ordered. */
  private def shuffled[T](prefix: String, rows: Seq[T])(id: T => Long): Seq[T] =
    rows.map(r => shuffleKey(s"$prefix${id(r)}") -> r).sortBy(_._1).map(_._2)

  /** md5 hex of a workload-shuffle key. Callers must PRECOMPUTE this
    * per row before sorting — Scala's `sortBy` re-evaluates its key
    * function on every comparison, so an inline digest turns an
    * n-row sort into n·log n digests (measured 19 s for qc4's 100k
    * events before the fix; 0.4 s precomputed). */
  private def shuffleKey(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val digest = md.digest(s.getBytes("UTF-8"))
    val hex = "0123456789abcdef"
    val out = new StringBuilder(32)
    digest.foreach { b => out.append(hex((b >> 4) & 0xf)).append(hex(b & 0xf)) }
    out.toString
  }

  def ddlJson: String = ddl(TableName, 1, "0-1-1", field("custkey", "long"),
    field("nationkey", "int"), field("bal_cents", "long"))

  def dmlJson(seq: Long, eventNumber: Long, op: String,
      ck: Long, nk: Int, cents: Long): String =
    dml(seq, eventNumber, op, "custkey" -> ck, "nationkey" -> nk, "bal_cents" -> cents)

  /** The deterministic scripted binlog for a fixture dir. Starts with
    * the DDL — MaxScale sends the schema at the head of every
    * REQUEST-DATA stream, which is also what makes a RESUMED
    * connection self-describing: a restart's phase-2 server script is
    * `ddlJson +: remainingEvents` (see CdcAnalyticsSpec's drill). */
  def workloadEvents(s: SparkSession, dir: String): Vector[String] = {
    val rows = customerRows(s, dir)
    var seq = 0L
    val out = Vector.newBuilder[String]
    out += ddlJson
    rows.foreach { case (ck, nk, cents) =>
      seq += 1; out += dmlJson(seq, 1, "insert", ck, nk, cents)
    }
    rows.filter(_._1 % 3 == 0).foreach { case (ck, nk, cents) =>
      seq += 1
      out += dmlJson(seq, 1, "update_before", ck, nk, cents)
      out += dmlJson(seq, 2, "update_after", ck, nk, cents + 10000L)
    }
    rows.filter(_._1 % 5 == 0).foreach { case (ck, nk, cents) =>
      seq += 1
      out += dmlJson(seq, 1, "delete", ck, nk,
        if (ck % 3 == 0) cents + 10000L else cents)
    }
    out.result()
  }

  private def customerRows(s: SparkSession, dir: String): Seq[(Long, Int, Long)] =
    Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("int"),
        expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("cents"))
      .orderBy(col("c_custkey"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

  // ---- the wire drill, written once ----

  /** How long a drill drains before it reports a shortfall. */
  private val DrainDeadlineMs = 120000L

  /** Source options of the evolving feeds: no micro-batch spans a DDL. */
  private val SplitAtDdl = Map("splitBatchesAtDdl" -> "true")

  /** The one `maxscale-cdc` source builder: `table`'s feed from
    * `server`, with `options` on top of the connection options. */
  private def wireSource(s: SparkSession, server: MockMaxScaleServer, table: String,
      options: Map[String, String]): DataFrame =
    s.readStream.format("maxscale-cdc")
      .option("host", "127.0.0.1").option("port", server.port)
      .option("user", "u").option("password", "p")
      .option("database", Database).option("table", table)
      .options(options)
      .load()

  /** The foreachBatch drill: one mock server per `(table, events)` feed,
    * the feeds unioned into one query checkpointed at `ckptPath`. Each
    * batch absorbs its DDLs into one registry, runs `hook` and counts
    * its rows. Drains until `expectRows` rows (DDL + DML) arrived IN
    * THIS RUN: exactly, or with `exact = false` at least that many and
    * then until two consecutive polls see no growth (a GTID resume,
    * whose redelivery the kill decided). Stops the query, closes the
    * servers and returns the first, for the caller's wire assertions.
    * Reusing `ckptPath` resumes from the committed offset. */
  private def drainWire(s: SparkSession, feeds: Seq[(String, Seq[String])],
      ckptPath: String, expectRows: Long, what: String,
      sourceOptions: Map[String, String] = Map.empty,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      honorGtid: Boolean = false, exact: Boolean = true)(
      hook: (DataFrame, SchemaRegistry, Long) => Unit): MockMaxScaleServer = {
    val servers = feeds.map { case (_, events) =>
      new MockMaxScaleServer(events = events, closeAfterEvents = false,
        honorGtid = honorGtid)
    }
    try {
      val reg = new SchemaRegistry
      val consumed = new AtomicLong
      val stream = feeds.zip(servers).map { case ((table, _), server) =>
        wireSource(s, server, table, sourceOptions)
      }.reduce(_ unionByName _)
      val q = stream.writeStream.trigger(trigger)
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          CdcProjection.registryFrom(batch, reg)
          hook(batch, reg, bid)
          consumed.addAndGet(batch.count())
          ()
        }.option("checkpointLocation", ckptPath).start()
      try {
        val deadline = System.currentTimeMillis() + DrainDeadlineMs
        while (consumed.get() < expectRows && System.currentTimeMillis() < deadline) {
          q.processAllAvailable()
          if (consumed.get() < expectRows) Thread.sleep(50)
        }
        if (exact)
          require(consumed.get() == expectRows,
            s"$what pipeline drained ${consumed.get()} of $expectRows rows")
        else {
          // settle: the server has already written its whole (post-skip)
          // feed; keep draining until two consecutive polls see no growth
          var last = -1L
          while (consumed.get() != last && System.currentTimeMillis() < deadline) {
            last = consumed.get()
            q.processAllAvailable()
            Thread.sleep(200)
            q.processAllAvailable()
          }
          require(consumed.get() >= expectRows,
            s"$what resume drained ${consumed.get()} < minimum $expectRows rows")
        }
      } finally q.stop()
    } finally servers.foreach(_.close())
    servers.head
  }

  /** The continuous-plan drill (qc8–qc10): a mock server → the doc feed
    * projected under the doc DDL registered up front (no per-batch
    * registry collect) → `plan` → [[StateStoreWaves]]' parquet file
    * sink at `evDir`, under its RocksDB conf loan, drained by
    * [[drainByInputRows]]. */
  private def drainContinuous(s: SparkSession, events: Seq[String], evDir: String,
      ckptPath: String, expectRows: Long, what: String,
      options: Map[String, String])(plan: DataFrame => DataFrame): Unit = {
    val reg = new SchemaRegistry
    CdcEvent.decode(docDdlJson) match {
      case Right(d: DdlEvent) => reg.register(d)
      case other => throw new IllegalStateException(s"bad DDL: $other")
    }
    val server = new MockMaxScaleServer(events = events, closeAfterEvents = false)
    try StateStoreWaves.withRocksDb(s) {
      val q = StateStoreWaves.startParquetSink(plan(CdcProjection.projectLatest(
          wireSource(s, server, DocTableName, options), reg, Database, DocTableName)),
        evDir, ckptPath)
      try drainByInputRows(q, expectRows, what) finally q.stop()
    } finally server.close()
  }

  /** The batch's rows of `table` under the latest registered schema,
    * once one is registered. */
  private def latest(batch: DataFrame, reg: SchemaRegistry,
      table: String): Option[DataFrame] =
    if (reg.latest(Database, table).isEmpty) None
    else Some(CdcProjection.projectLatest(batch, reg, Database, table))

  /** The INSERT rows of a projection, narrowed to `cols`. */
  private def inserts(proj: DataFrame, cols: String*): DataFrame =
    proj.where(col("op") === "insert").select(cols.map(col): _*)

  /** Routes a projection into a keyed state: inserts (`key` + `cols`)
    * into `processBatch`, then deletes (`key`) into `retractBatch`.
    * Binlog order puts a key's insert before its delete, so this order
    * keeps the semantics when both land in one micro-batch. */
  private def applyOps(st: KeyedState, proj: DataFrame, key: String,
      cols: String*)(bid: Long): Unit = {
    st.processBatch(inserts(proj, key +: cols: _*), bid)
    st.retractBatch(proj.where(col("op") === "delete").select(col(key)), bid)
  }

  /** The distinct schema versions of the batch's DMLs, required to be
    * at most one: `splitBatchesAtDdl` must cut every batch at its DDL. */
  private def versions(batch: DataFrame, bid: Long, what: String): Seq[Int] = {
    val vers = batch.where(col("kind") === "dml")
      .select(col("schema_version")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    require(vers.size <= 1,
      s"$what batch $bid spans schema versions $vers — DDL split failed")
    vers
  }

  /** The comma-joined `Float.toString` components of `emb` back to
    * array<float>. */
  private def embeddingOf: Column =
    expr("transform(split(emb, ','), x -> CAST(x AS FLOAT))").as("embedding")

  /** Run the full wire pipeline over `events`, draining until
    * `expectRows` rows (DDL + DML) have been consumed IN THIS RUN,
    * materializing into `snapPath` with offsets checkpointed at
    * `ckptPath`. Returns the snapshot table handle. Reusing the same
    * snapPath+ckptPath resumes: the source replays from its committed
    * offset and the snapshot merges on top of its committed state —
    * the restart drill in CdcAnalyticsSpec kills a run mid-workload
    * and proves the resumed result hash-matches the one-shot run. */
  def runPipeline(s: SparkSession, events: Seq[String], snapPath: String,
      ckptPath: String, expectRows: Long,
      sourceOptions: Map[String, String] = Map.empty): CdcSnapshotTable = {
    val snap = new CdcSnapshotTable(snapPath, Seq("custkey"), payloadSchema)
    drainWire(s, Seq(TableName -> events), ckptPath, expectRows, "qc1",
        sourceOptions) { (batch, reg, bid) =>
      latest(batch, reg, TableName).foreach(snap.applyBatch(_, bid))
    }
    snap.prune(s)
    snap
  }

  // ---- qc2: the connector composed with the INCREMENTAL dedup layer ----

  val DocTableName = "documents_feed"

  def docDdlJson: String =
    ddl(DocTableName, 1, "0-1-1", field("doc_id", "long"), field("text", "string"))

  /** A documents-table DML event with an explicit operation — DELETEs
    * carry the full row image (`text` included), the MaxScale wire
    * shape for a delete (reference `types.go:177`: the delete event is
    * the deleted row's data with event_type "delete"). */
  def docOpDmlJson(seq: Long, op: String, docId: Long, text: String): String =
    dml(seq, 1, op, "doc_id" -> docId, "text" -> text)

  /** Scripted binlog for qc2: every fixture document INSERTed in
    * md5-shuffled order (deterministic, but neither id- nor
    * file-ordered — so the incremental dedup's (doc_id, ck) keep-first
    * ranking, not arrival order, must decide line ownership). */
  def docWorkloadEvents(s: SparkSession, dir: String): Vector[String] = {
    val rows = shuffled("qc2:", docRows(s, dir))(_._1)
    docDdlJson +: rows.zipWithIndex.map { case ((id, text), i) =>
      docOpDmlJson(i + 1L, "insert", id, text)
    }.toVector
  }

  private def docRows(s: SparkSession, dir: String): Seq[(Long, String)] =
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  /** qc2's query body: the full wire path (mock server → maxscale-cdc
    * source → registry → projection) feeding [[IncrementalLineDedup]]'s
    * append-only chunk state per micro-batch, then the q119 emission
    * over the accumulated state. The hash gate closes over BOTH layers
    * at once: a dropped/mangled/duplicated document anywhere in the
    * connector, or any arrival-order dependence in the dedup state,
    * breaks the q119 oracle hash (computed independently from the
    * `documents` fixture, no CDC anywhere). */
  def incrementalLineDedupOverCdc(s: SparkSession, dir: String): DataFrame = {
    val events = docWorkloadEvents(s, dir)
    val tmp = graft.util.Scratch.dir("qc2-cdc")
    val inc = runDocPipeline(s, events, s"$tmp/state", s"$tmp/ckpt",
      events.size.toLong)
    inc.lines(s).orderBy(col("doc_id"))
  }

  /** The qc2 wire half, with injectable state/checkpoint paths so the
    * drills (CdcAnalyticsSpec) can kill it mid-workload and resume:
    * reusing the same paths resumes — the source replays from its
    * committed offset and the dedup state's doc-id anti-join absorbs
    * any replayed batch. */
  def runDocPipeline(s: SparkSession, events: Seq[String], statePath: String,
      ckptPath: String, expectRows: Long,
      sourceOptions: Map[String, String] = Map.empty): IncrementalLineDedup = {
    val inc = new IncrementalLineDedup(statePath)
    drainWire(s, Seq(DocTableName -> events), ckptPath, expectRows, "qc2",
        sourceOptions) { (batch, reg, bid) =>
      latest(batch, reg, DocTableName).foreach(p =>
        inc.processBatch(inserts(p, "doc_id", "text"), bid))
    }
    inc
  }

  // ---- qc6: CDC DELETE retraction into the incremental dedup state
  // (VERDICT r9 item 1 — the tombstone composition: snapshots already
  // applied deletes, but the dedup states were append-only, so a
  // CDC-fed curation pipeline went stale on deletes) ------------------

  /** Which docs the qc6 workload DELETEs: doc_id % RetractMod == 0.
    * Mirrored in qc6's oracle SQL (q119 over `doc_id % 7 <> 0`). */
  val RetractMod = 7L

  /** Scripted binlog for qc6: every fixture document INSERTed in
    * md5-shuffled order (the qc2 workload), then every doc with
    * doc_id % [[RetractMod]] == 0 DELETEd in an independently
    * md5-shuffled order — the delete section follows the inserts, the
    * qc1 workload shape (a binlog can only delete what it inserted).
    * ~1/7 of docs disappear, which on this fixture includes line
    * OWNERS: the q119-on-survivors oracle only matches if the state
    * re-owns their lines to the earliest surviving claimant, so the
    * hash gate proves real retraction, not just row filtering. */
  def docRetractWorkloadEvents(s: SparkSession, dir: String): Vector[String] = {
    val rows = docRows(s, dir)
    docOpWave("qc6", rows, rows.filter(_._1 % RetractMod == 0), 0L)
  }

  /** One connection's doc binlog: the DDL, `ins` INSERTed and then `del`
    * DELETEd, each in its own md5 order (salts `<tag>i`, `<tag>d`), with
    * sequences from `seq0 + 1`. */
  private def docOpWave(tag: String, ins: Seq[(Long, String)],
      del: Seq[(Long, String)], seq0: Long): Vector[String] = {
    val ops = shuffled(s"${tag}i:", ins)(_._1).map("insert" -> _) ++
      shuffled(s"${tag}d:", del)(_._1).map("delete" -> _)
    docDdlJson +: ops.zipWithIndex.map { case ((op, (id, text)), i) =>
      docOpDmlJson(seq0 + i + 1, op, id, text)
    }.toVector
  }

  /** The qc6 wire half (injectable paths for the kill/resume drill):
    * mock server → maxscale-cdc source → registry → projection, with
    * the op column ROUTING each row — inserts into
    * [[IncrementalLineDedup.processBatch]] (chunk-and-append),
    * deletes into [[IncrementalLineDedup.retractBatch]] (tombstone
    * append). Both paths are idempotent under replay, so resuming on
    * the same paths absorbs re-delivered events of either kind. */
  def runDocRetractPipeline(s: SparkSession, events: Seq[String], statePath: String,
      ckptPath: String, expectRows: Long,
      sourceOptions: Map[String, String] = Map.empty): IncrementalLineDedup = {
    val inc = new IncrementalLineDedup(statePath,
      autoCompactFiles = DrillCompactFiles)
    drainWire(s, Seq(DocTableName -> events), ckptPath, expectRows, "qc6",
        sourceOptions) { (batch, reg, bid) =>
      latest(batch, reg, DocTableName).foreach { p =>
        val proj = p.select(col("op"), col("doc_id"), col("text"))
          .localCheckpoint(true) // split below reads it twice
        applyOps(inc, proj, "doc_id", "text")(bid)
      }
    }
    inc
  }

  /** qc6's query body: stream the insert+delete workload over the real
    * wire path, then emit the line-dedup stats over the SURVIVING
    * corpus — under batch q119's oracle restricted to the survivors
    * (`doc_id % 7 <> 0`, no CDC anywhere in it). The gate certifies
    * retraction end-to-end: a deleted doc leaking into the output, a
    * line still owned by a deleted doc, or a surviving claimant not
    * promoted to owner all break the hash. */
  def lineDedupRetractionOverCdc(s: SparkSession, dir: String): DataFrame = {
    val events = docRetractWorkloadEvents(s, dir)
    val tmp = graft.util.Scratch.dir("qc6-cdc")
    val inc = runDocRetractPipeline(s, events, s"$tmp/state", s"$tmp/ckpt",
      events.size.toLong)
    inc.lines(s).orderBy(col("doc_id"))
  }

  // ---- qc7: CDC DELETE retraction into the NEAR-DUP state (qc6's
  // sibling for the second dedup layer — the qc-family now carries
  // tombstone semantics end-to-end for line dedup AND near-dup) ------

  /** The qc7 wire half: qc6's insert+delete binlog routed into
    * [[IncrementalNearDup]] — inserts through the full
    * shingle→minhash→band→verify accumulation per micro-batch, deletes
    * as O(1) tombstone appends. COST NOTE (measured at sf0.1): ~7.9 s
    * vs qc2's 1.55 s on the same workload — the delta is the per-batch
    * BANDED INDEX work (state reads, candidate join, verify, three
    * appends) that line-dedup's chunk-and-append twin doesn't do, plus
    * the fact that batch q66 amortizes its signature computation
    * through the session-cached corpus state while a wire twin must
    * compute signatures from decoded text per batch — the honest price
    * of the realism, the q112bs/qc4 precedent. Trigger choice is
    * immaterial here: the drain loop's processAllAvailable() runs
    * batches as data arrives regardless (measured identical at 500 and
    * 1500 ms); 64 KiB reads still keep the batch COUNT low. */
  def runNearDupRetractPipeline(s: SparkSession, events: Seq[String], statePath: String,
      ckptPath: String, expectRows: Long,
      sourceOptions: Map[String, String] = Map.empty,
      nBands: Int = 8, bandR: Int = 2,
      replica: Option[CdcSnapshotTable] = None,
      lineInc: Option[IncrementalLineDedup] = None): IncrementalNearDup = {
    val inc = new IncrementalNearDup(statePath,
      autoCompactFiles = DrillCompactFiles, nBands = nBands, bandR = bandR)
    drainWire(s, Seq(DocTableName -> events), ckptPath, expectRows, "qc7",
        Map("bufferSize" -> "65536") ++ sourceOptions,
        Trigger.ProcessingTime("1500 milliseconds")) { (batch, reg, bid) =>
      latest(batch, reg, DocTableName).foreach { p =>
        // full envelope retained: the optional replica merge needs
        // (op, sequence, event_number) alongside the payload
        val projFull = p.localCheckpoint(true) // read up to three times below
        val proj = projFull.select(col("op"), col("doc_id"), col("text"))
        applyOps(inc, proj, "doc_id", "text")(bid)
        // qc13: the SAME wire maintains the doc replica the widening
        // migration's corpus pass will read in the maintenance window
        replica.foreach(_.applyBatch(projFull, bid))
        // qc21: the SAME wire also maintains the line-chunk state the
        // curation view's dup-pressure stage reads at emission
        lineInc.foreach(applyOps(_, proj, "doc_id", "text")(bid))
      }
    }
    inc
  }

  /** qc7's query body: the qc6 workload (inserts then deletes of
    * doc_id % 7 == 0) over the real wire path into the near-dup state,
    * then the q57-shape dedup groups over the SURVIVORS — under q66b's
    * oracle (the full banded chain + recursive-CTE components computed
    * from `documents WHERE doc_id % 7 <> 0`, no CDC and no retraction
    * machinery anywhere in it). The gate certifies the connector's
    * delete path AND component re-formation (rep re-election,
    * splits) at once. */
  def nearDupRetractionOverCdc(s: SparkSession, dir: String): DataFrame = {
    val events = docRetractWorkloadEvents(s, dir)
    val tmp = graft.util.Scratch.dir("qc7-cdc")
    val inc = runNearDupRetractPipeline(s, events, s"$tmp/state", s"$tmp/ckpt",
      events.size.toLong)
    inc.groups(s)
      .groupBy(col("rep").as("rep_doc"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("rep_doc"))
  }

  /** qc21's query body: the CDC-fed MATERIALIZED CURATION VIEW — the
    * qc-family's capstone composition (the "CDC → materialized view
    * maintenance with DELETEs feeding dedup-state retraction" shape
    * the round-11 handoff named as the remaining composition). ONE
    * wire feed (qc6/qc7's insert+delete binlog) maintains THREE states
    * in the same foreachBatch: the copy-on-write doc replica (the
    * corpus), IncrementalNearDup (banded pair index, tombstoned
    * deletes), and IncrementalLineDedup (chunk state, tombstoned
    * deletes). At emission, q124's four decision layers run over the
    * ACCUMULATED states via the shared [[graft.queries.Pipeline
    * .curationManifestFrom]] body: quality over the live replica,
    * components over the tombstone-filtered pair state, keep-best
    * collapse, then duplicate-line pressure computed over the
    * SURVIVOR-restricted chunk state (the chunking work was paid
    * per-batch at ingest — emission only filters and windows). Oracle
    * = q124's composed SQL restricted to the survivors (no CDC, no
    * retraction machinery anywhere in it): a deleted doc leaking into
    * quality/pairs/chunks, a component failing to re-form, or a dup
    * line still owned by a deleted doc each break the one hash.
    * `sourceOptions` is the spec's kill/resume injection point. */
  def curationViewOverCdc(s: SparkSession, dir: String,
      sourceOptions: Map[String, String] = Map.empty): DataFrame = {
    val events = docRetractWorkloadEvents(s, dir)
    val tmp = graft.util.Scratch.dir("qc21-cdc")
    val replica = new CdcSnapshotTable(s"$tmp/replica", Seq("doc_id"), docPayloadSchema)
    val lineInc = new IncrementalLineDedup(s"$tmp/lines",
      autoCompactFiles = DrillCompactFiles)
    val ndInc = runNearDupRetractPipeline(s, events, s"$tmp/state", s"$tmp/ckpt",
      events.size.toLong, sourceOptions = sourceOptions,
      replica = Some(replica), lineInc = Some(lineInc))
    curationViewEmission(s, replica, ndInc, lineInc)
  }

  /** The qc21 emission over already-built states — split out so the
    * spec's kill/resume drill can rebuild the states across a restart
    * and emit once at the end. */
  def curationViewEmission(s: SparkSession, replica: CdcSnapshotTable,
      ndInc: IncrementalNearDup, lineInc: IncrementalLineDedup): DataFrame = {
    val live = replica.snapshot(s).select(col("doc_id"), col("text"))
    graft.queries.Pipeline.curationManifestFrom(live, ndInc.groups(s),
      corpus => lineInc.chunksLive(s)
        .join(corpus.select(col("doc_id")), Seq("doc_id")))
  }

  /** The qc12 workload split at the MAINTENANCE WINDOW: wave 1 is the
    * binlog up to the window (inserts of the even half, md5-shuffled),
    * wave 2 is the binlog after it (inserts of the odd half, then
    * DELETEs of doc_id % [[RetractMod]] == 0 — deletes deliberately
    * reach across the window into wave-1 docs). Each wave is a
    * separate connection, so each carries the DDL prefix. */
  def docMigrationWorkloadEvents(s: SparkSession,
      dir: String): (Vector[String], Vector[String]) = {
    val rows = docRows(s, dir)
    val w1 = docOpWave("qc12a", rows.filter(_._1 % 2 == 0), Nil, 0L)
    (w1, docOpWave("qc12b", rows.filter(_._1 % 2 == 1),
      rows.filter(_._1 % RetractMod == 0), w1.size.toLong))
  }

  /** qc12's query body: the q66h re-band migration inside a real
    * maintenance window on the wire. Wave 1 streams the even half into
    * the near-dup state at the (8, 2) design; the stream is stopped
    * (the window), [[IncrementalNearDup.rebandMigrate]] re-bands the
    * committed state to (4, 4) from the signatures sets/ retains (no
    * corpus re-read — at 100 TB the corpus cannot be replayed); then a
    * NEW connection resumes the binlog at the (4, 4) design with the
    * odd half plus DELETEs that reach back across the window into
    * wave-1 docs. Oracle = the full batch chain AT (4, 4) over the
    * SURVIVORS (no CDC, no migration, no retraction machinery in it):
    * the hash closes over the connector, the migration's exactness
    * (bands/ parity + the pairs/ subset filter), cross-window
    * retraction, and the new design's candidate semantics at once. */
  def nearDupMigrationOverCdc(s: SparkSession, dir: String): DataFrame = {
    val (w1, w2) = docMigrationWorkloadEvents(s, dir)
    val tmp = graft.util.Scratch.dir("qc12-cdc")
    runNearDupRetractPipeline(s, w1, s"$tmp/state", s"$tmp/ckpt1",
      w1.size.toLong, nBands = 8, bandR = 2)
    IncrementalNearDup.rebandMigrate(s, s"$tmp/state", 4, 4)
    val inc = runNearDupRetractPipeline(s, w2, s"$tmp/state", s"$tmp/ckpt2",
      w2.size.toLong, nBands = 4, bandR = 4)
    inc.groups(s)
      .groupBy(col("rep").as("rep_doc"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("rep_doc"))
  }

  /** The documents-feed payload as a replica table schema (doc analog
    * of the customer [[payloadSchema]]). */
  val docPayloadSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))

  /** qc13's query body: the q66i signature-WIDENING migration inside a
    * maintenance window on the wire, with the one corpus pass the
    * widening needs reading the CDC-MATERIALIZED replica — never the
    * source table. This closes the loop qc12 leaves open: re-banding
    * derives everything from dedup state alone, but widening needs the
    * document TEXTS for the new salt components, and at 100 TB "go ask
    * the source database for the corpus" is not a plan. Here the SAME
    * wire that feeds the dedup state maintains a [[CdcSnapshotTable]]
    * replica of the doc table (the qc1 copy-on-write machinery, keyed
    * by doc_id), so at the window the corpus is already in the lake:
    * wave 1 streams the even half at (8, 2) while materializing the
    * replica; the stream stops, [[IncrementalNearDup.widenMigrate]]
    * extends the signatures to 32 components reading the replica
    * snapshot and re-indexes at (8, 4); a NEW connection resumes with
    * the odd half plus DELETEs reaching back ACROSS the window into
    * wave-1 docs (retraction against widened 32-wide state). The
    * replica's completeness is load-bearing — a doc the replica missed
    * would silently drop out of sets/ at the migration join — so the
    * oracle (the full batch chain at (8, 4) over the SURVIVORS, no
    * CDC/replica/migration machinery in it) gates replica fidelity,
    * the one-pass extension, candidate regeneration at the new design,
    * and cross-window retraction in a single hash. */
  def nearDupWidenMigrationOverCdc(s: SparkSession, dir: String): DataFrame = {
    val (w1, w2) = docMigrationWorkloadEvents(s, dir)
    val tmp = graft.util.Scratch.dir("qc13-cdc")
    val replica = new CdcSnapshotTable(s"$tmp/replica", Seq("doc_id"), docPayloadSchema)
    runNearDupRetractPipeline(s, w1, s"$tmp/state", s"$tmp/ckpt1",
      w1.size.toLong, nBands = 8, bandR = 2, replica = Some(replica))
    IncrementalNearDup.widenMigrate(s, s"$tmp/state",
      replica.snapshot(s).select(col("doc_id"), col("text")), 8, 4)
    val inc = runNearDupRetractPipeline(s, w2, s"$tmp/state", s"$tmp/ckpt2",
      w2.size.toLong, nBands = 8, bandR = 4)
    inc.groups(s)
      .groupBy(col("rep").as("rep_doc"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("rep_doc"))
  }

  /** qc14's query body: standing up a RE-DESIGNED RocksDB state-store
    * near-dup index by REBUILDING from the wire-built replica through
    * a FRESH checkpoint — the design-change move the state-store path
    * actually has. The parquet twin migrates in place (qc12 re-bands
    * from stored signatures, qc13 widens via the replica corpus pass),
    * but the store keys on opaque xxhash64 bucket ids: there is
    * nothing to re-band FROM, so the production operation is a
    * rebuild. Wave 1 streams the even half at (8, 2) into the legacy
    * parquet state while the SAME wire maintains the qc1 copy-on-write
    * replica; at the window the legacy deployment is decommissioned
    * and the NEW (8, 4)/32-component store is built by one map-only
    * pass over replica.snapshot() (never the source table — the qc13
    * doctrine) feeding a fresh checkpoint; the store is then KILLED
    * and RESUMED from that checkpoint (restartAfterWave = 0, the
    * RocksDB recovery drill) before serving the live wave — the odd
    * half plus DELETEs reaching back ACROSS the window into rebuilt
    * docs. Live-wave rows come from the fixture: wave-2 WIRE delivery
    * is qc12/qc13's certified claim, qc14's claim is the rebuild and
    * the recovery. Replica completeness is load-bearing (a doc the
    * replica missed has no bands in the rebuilt store — its pairs
    * vanish and the hash gate fails). Oracle = the full batch chain at
    * (8, 4) over the SURVIVORS, no CDC/replica/store machinery in it.
    * `restart = None` lets the spec pin the drill against a
    * single-query run. */
  def stateStoreRebuildOverCdc(s: SparkSession, dir: String,
      restart: Option[Int] = Some(0)): DataFrame = {
    import graft.queries.LlmText
    val (w1, _) = docMigrationWorkloadEvents(s, dir)
    val tmp = graft.util.Scratch.dir("qc14-cdc")
    val replica = new CdcSnapshotTable(s"$tmp/replica", Seq("doc_id"),
      docPayloadSchema)
    runNearDupRetractPipeline(s, w1, s"$tmp/state", s"$tmp/ckpt1",
      w1.size.toLong, nBands = 8, bandR = 2, replica = Some(replica))
    // the window: the new store's band rows derive from the REPLICA —
    // the corpus is already in the lake, the binlog is never replayed
    val st32rep = LlmText.nearDupState(
      replica.snapshot(s).select(col("doc_id"), col("text")), nHashes = 32)
    val rebuild = StateStoreNearDup.flatBands(st32rep, 8, 4)
      .withColumn("op", lit("insert"))
    val st32full = LlmText.nearDupState(
      Tables(s, dir, "documents").select(col("doc_id"), col("text")),
      nHashes = 32).localCheckpoint(true)
    def wave(op: String, pred: org.apache.spark.sql.Column) =
      StateStoreNearDup.flatBands(st32full.where(pred), 8, 4)
        .withColumn("op", lit(op))
    val (events, _) = StateStoreNearDup.runOpWaves(s, Seq(
      rebuild,
      wave("insert", col("doc_id") % 2 === 1),
      wave("delete", col("doc_id") % RetractMod === 0)),
      restartAfterWave = restart)
    val verified = LlmText.verifyPairs(
      StateStoreNearDup.foldOpEvents(events),
      st32full.where(col("doc_id") % RetractMod =!= 0)
        .select(col("doc_id"), col("hs"), col("nbg")))
    graft.operators.DedupGroups.components(verified)
      .groupBy(col("rep").as("rep_doc"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("rep_doc"))
  }

  // ---- qc8: the wire feeding the STATE-STORE near-dup as ONE
  // CONTINUOUS streaming plan (no foreachBatch) -------------------------

  /** The qc8 wire half: mock server → maxscale-cdc source → stateless
    * projection (the DDL is pre-registered from the workload's own
    * script, so no per-batch registry collect) → PER-ROW band keys
    * ([[graft.queries.LlmText.rowBandKeys]] — the stateless prefix) →
    * `flatMapGroupsWithState` on RocksDB
    * ([[StateStoreNearDup.candidateEvents]]) → parquet file sink.
    * This is the production streaming shape end to end: ONE shuffle in
    * the whole plan (band rows onto their state partitions), point
    * access per touched bucket, candidates durable in the lake behind
    * the file sink's exactly-once commit log, and every piece of it —
    * source offsets, RocksDB snapshots, sink log — recovers from the
    * same checkpoint. Contrast qc2/qc7, which drain each micro-batch
    * into driver-orchestrated parquet state via foreachBatch.
    *
    * Drain: the source is socket-fed, so arrival is async — the loop
    * re-runs processAllAvailable until the query's progress metrics
    * account for every scripted event (the qc2 deadline doctrine,
    * counting source input rows instead of a foreachBatch counter). */
  def runStateStoreNearDupPipeline(s: SparkSession, events: Seq[String],
      evDir: String, ckptPath: String, expectRows: Long,
      sourceOptions: Map[String, String] = Map.empty): Unit =
    drainContinuous(s, events, evDir, ckptPath, expectRows, "qc8",
        sourceOptions) { proj =>
      StateStoreNearDup.candidateEvents(proj
        .where(col("op") === "insert")
        .select(col("doc_id"),
          posexplode(graft.queries.LlmText.rowBandBuckets(col("text")))
            .as(Seq("band", "bkey")))
        .select(col("band"), col("bkey"), col("doc_id")))
    }

  /** Schema of the qc8 event sink — [[NearDupIdxEvent]]'s shape (for
    * the batch read-back; the dir can exist before the first commit). */
  val CandEventSchema: StructType = StructType(Seq(
    StructField("band", IntegerType), StructField("bkey", LongType),
    StructField("doc_a", LongType), StructField("doc_b", LongType),
    StructField("kind", IntegerType)))

  /** Drain a continuous-plan query until its progress metrics account
    * for every scripted wire event (the qc2 deadline doctrine, counting
    * source input rows instead of a foreachBatch counter). Progress
    * entries are keyed by batchId, but a batch can be REPORTED TWICE —
    * a restarted query re-announces its recovery batch id with 0 input
    * rows before the real run — so the count keeps the MAX per batch id
    * (a replayed batch reprocesses the same rows, never more),
    * accumulated across loop iterations (recentProgress is a rolling
    * buffer; the map outlives it). */
  private def drainByInputRows(q: StreamingQuery,
      expectRows: Long, what: String): Unit = {
    val perBatch = scala.collection.mutable.Map.empty[Long, Long]
    def seen(): Long = {
      q.recentProgress.foreach { p =>
        val n = p.sources.map(_.numInputRows).sum
        perBatch(p.batchId) = math.max(perBatch.getOrElse(p.batchId, 0L), n)
      }
      perBatch.values.sum
    }
    val deadline = System.currentTimeMillis() + DrainDeadlineMs
    while (seen() < expectRows && System.currentTimeMillis() < deadline)
      { q.processAllAvailable(); Thread.sleep(50) }
    require(seen() == expectRows,
      s"$what pipeline drained ${seen()} of $expectRows rows")
  }

  /** qc8's query body: the qc2 insert workload through
    * [[runStateStoreNearDupPipeline]], then the q66 tail over the
    * durable candidate events — exact verification against the
    * lake-resident shingle state and the q57-shape dedup groups, under
    * the SAME oracle as batch q57 / q66 / q66f (the full banded chain
    * recomputed from `documents`, no CDC anywhere). The hash gate
    * certifies the connector, the per-row band-key recipe, the state
    * store's candidate completeness, and the sink's exactly-once
    * delivery in one bite. */
  def stateStoreNearDupOverCdc(s: SparkSession, dir: String): DataFrame = {
    import graft.queries.LlmText
    val events = docWorkloadEvents(s, dir)
    val tmp = graft.util.Scratch.dir("qc8-cdc")
    runStateStoreNearDupPipeline(s, events, s"$tmp/events", s"$tmp/ckpt",
      events.size.toLong)
    // the continuous serving fold (no recovery): insert-only, so
    // drop-wholesale equals the capped batch oracle at every scale
    val cands = StateStoreNearDup.foldCandEvents(
      s.read.schema(CandEventSchema).parquet(s"$tmp/events"),
      recoverBudget = 0)
    val st = LlmText.bigramStateCached(s, dir)
    val verified = LlmText.verifyPairs(cands,
      st.select(col("doc_id"), col("hs"), col("nbg")))
    graft.operators.DedupGroups.components(verified)
      .groupBy(col("rep").as("rep_doc"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("rep_doc"))
  }

  // ---- qc9: the wire feeding the STATE-STORE line dedup as ONE
  // CONTINUOUS streaming plan (qc8's sibling on the simplest state) ----

  /** Schema of the qc9 owner-event sink. */
  val OwnerEventSchema: StructType = StructType(Seq(
    StructField("chunk", StringType), StructField("doc_id", LongType),
    StructField("ck", IntegerType)))

  /** The qc9 wire half: source → pre-registered-DDL stateless
    * projection → per-row line chunking → `flatMapGroupsWithState` on
    * RocksDB ([[StateStoreLineDedup.ownerEvents]]) → parquet file sink.
    * One shuffle in the whole plan (chunk occurrences onto their state
    * partitions); same drain/recovery doctrine as qc8. */
  def runStateStoreLineDedupPipeline(s: SparkSession, events: Seq[String],
      evDir: String, ckptPath: String, expectRows: Long,
      sourceOptions: Map[String, String] = Map.empty): Unit =
    drainContinuous(s, events, evDir, ckptPath, expectRows, "qc9",
        sourceOptions) { proj =>
      StateStoreLineDedup.ownerEvents(
        graft.queries.LlmText.lineChunks(inserts(proj, "doc_id", "text")))
    }

  /** qc9's query body: the qc2 insert workload through the continuous
    * plan, then the q119 keep decision derived SOLELY from the durable
    * owner events (min fold — ownership only decreases), under q119's
    * batch oracle. */
  def stateStoreLineDedupOverCdc(s: SparkSession, dir: String): DataFrame = {
    import graft.queries.LlmText
    val events = docWorkloadEvents(s, dir)
    val tmp = graft.util.Scratch.dir("qc9-cdc")
    runStateStoreLineDedupPipeline(s, events, s"$tmp/events", s"$tmp/ckpt",
      events.size.toLong)
    val owners = StateStoreLineDedup.foldOwners(
      s.read.schema(OwnerEventSchema).parquet(s"$tmp/events"))
    val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    StateStoreLineDedup.lineDedupViaOwners(LlmText.lineChunks(docs), owners)
      .orderBy(col("doc_id"))
  }

  // ---- qc10: the RETRACTION binlog through the CONTINUOUS plan
  // (qc6/qc7's insert+delete workload through the qc8 shape, on the
  // q66g claimant state — DELETEs flow through the SAME one-shuffle
  // streaming plan as inserts, no foreachBatch routing split) ----------

  /** Schema of the qc10 op-event sink — same [[NearDupIdxEvent]] shape
    * as qc8's (tombstones are `kind = KindTomb` rows). */
  val OpEventSchema: StructType = CandEventSchema

  /** The qc10 wire half: source → pre-registered-DDL stateless
    * projection → per-row band keys computed for BOTH ops (a binlog
    * DELETE carries the deleted row, so its band keys are the same
    * pure function of its text as the insert's — the tombstone op
    * lands on exactly the doc's 8 buckets, point access for deletes
    * too) → `flatMapGroupsWithState` on RocksDB
    * ([[StateStoreNearDup.opCandidateEvents]], the q66g claimant
    * state) → parquet file sink. Still ONE shuffle in the whole plan;
    * same drain/recovery doctrine as qc8. In-batch op order is
    * immaterial: the state function applies deletes first and the
    * consumer fold is order-free (both folded sets are monotone), so
    * an insert+delete sharing a micro-batch nets to the same surviving
    * pair set as strict binlog replay. */
  def runStateStoreNearDupRetractPipeline(s: SparkSession, events: Seq[String],
      evDir: String, ckptPath: String, expectRows: Long,
      sourceOptions: Map[String, String] = Map.empty): Unit =
    drainContinuous(s, events, evDir, ckptPath, expectRows, "qc10",
        sourceOptions) { proj =>
      StateStoreNearDup.opCandidateEvents(proj
        .select(col("op"), col("doc_id"),
          posexplode(graft.queries.LlmText.rowBandBuckets(col("text")))
            .as(Seq("band", "bkey")))
        .select(col("band"), col("bkey"), col("doc_id"), col("op")))
    }

  /** qc10's query body: the qc6 insert+delete workload through the
    * continuous plan, then the q66b tail over the durable op events —
    * order-free fold to the surviving pairs, exact verification
    * against the SURVIVORS' shingle state, q57-shape groups — under
    * q66b's survivors-only oracle (no CDC, no retraction machinery
    * anywhere in it). */
  def stateStoreNearDupRetractionOverCdc(s: SparkSession, dir: String): DataFrame = {
    import graft.queries.LlmText
    val events = docRetractWorkloadEvents(s, dir)
    val tmp = graft.util.Scratch.dir("qc10-cdc")
    runStateStoreNearDupRetractPipeline(s, events, s"$tmp/events",
      s"$tmp/ckpt", events.size.toLong)
    val ev = s.read.schema(OpEventSchema).parquet(s"$tmp/events")
    val st = LlmText.bigramStateCached(s, dir)
    val verified = LlmText.verifyPairs(StateStoreNearDup.foldOpEvents(ev),
      st.where(col("doc_id") % RetractMod =!= 0)
        .select(col("doc_id"), col("hs"), col("nbg")))
    graft.operators.DedupGroups.components(verified)
      .groupBy(col("rep").as("rep_doc"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("rep_doc"))
  }

  // ---- qc11: batch BOOTSTRAP → GTID handoff (the 100 TB deployment
  // answer: an existing corpus is never replayed through the binlog —
  // the dedup state is bootstrapped by ONE distributed batch pass over
  // the warehouse, and the stream subscribes FROM the GTID frontier,
  // so the wire only ever carries what the warehouse doesn't have) ----

  /** How much of the corpus is "historical" (already in the warehouse
    * when the stream starts): the first half of the md5-shuffled
    * workload order. */
  def bootstrapSplit(nDocs: Int): Int = nDocs / 2

  /** The qc11 wire half + bootstrap. The historical slice is derived
    * IN SPARK with a map-only key-range predicate (md5 of the same
    * shuffle key the workload builder sorts by, compared against the
    * frontier doc's key) — no global sort, no window, no driver-side
    * membership list: the bootstrap is one distributed batch pass
    * ([[IncrementalNearDup.processBatch]] over the slice), exactly the
    * shape a 100 TB backfill runs. The stream then subscribes with
    * `gtid = 0-1-<k>` (the frontier doc's binlog position) against a
    * GTID-honoring server ([[MockMaxScaleServer]] `honorGtid`), so the
    * wire carries ONLY the live half — the server-side skip is
    * asserted by the spec via `eventsSent`, and the drill's restart
    * leg shows the checkpoint-adopted GTID landing mid-live-half
    * (committed events are never re-streamed, unlike the
    * replay-guard-absorbed full resends of the qc2/qc7 drills). */
  def runBootstrapHandoffPipeline(s: SparkSession, dir: String,
      events: Seq[String], statePath: String, ckptPath: String,
      expectRows: Long, frontierGtid: String, frontierKey: String,
      bootstrap: Boolean,
      // the restart leg can't predict redelivery exactly — the
      // GTID-honoring server skips whatever the checkpoint committed,
      // and the kill decides that — so it drains to AT LEAST
      // `expectRows` and then until the count is stable
      exactDrain: Boolean = true,
      sourceOptions: Map[String, String] = Map.empty): (IncrementalNearDup, MockMaxScaleServer) = {
    val inc = new IncrementalNearDup(statePath,
      autoCompactFiles = DrillCompactFiles)
    if (bootstrap) {
      // the distributed backfill: every doc whose shuffle key sorts at
      // or before the frontier doc's is already in the warehouse
      val hist = Tables(s, dir, "documents")
        .where(md5(concat(lit("qc2:"), col("doc_id").cast("string")))
          <= frontierKey)
        .select(col("doc_id"), col("text"))
      inc.processBatch(hist, -1L)
    }
    // 64 KiB reads + a paced trigger keep the live half in FEW
    // micro-batches (the qc4/qc7 lesson: per-batch banded state work
    // has a high fixed cost, so an ASAP trigger over 4 KiB socket
    // reads turns one workload into dozens of batches)
    val server = drainWire(s, Seq(DocTableName -> events), ckptPath,
        expectRows, "qc11",
        Map("gtid" -> frontierGtid, "bufferSize" -> "65536") ++ sourceOptions,
        Trigger.ProcessingTime("1500 milliseconds"), honorGtid = true,
        exact = exactDrain) { (batch, reg, bid) =>
      latest(batch, reg, DocTableName).foreach(p =>
        inc.processBatch(inserts(p, "doc_id", "text"), bid))
    }
    (inc, server)
  }

  /** qc11's query body: bootstrap the near-dup state from the
    * warehouse's historical half (one distributed batch pass), hand
    * off to the wire at the GTID frontier (the server honors the
    * resume position, so only the live half is ever streamed), then
    * emit the q57-shape dedup groups over the accumulated state —
    * under the SAME full-corpus oracle as batch q57/q66/qc8 (no CDC,
    * no bootstrap machinery anywhere in it). The hash gate certifies
    * the handoff seam exactly: a doc double-counted across the
    * boundary, one skipped by an off-by-one frontier, or any
    * bootstrap-vs-stream order dependence in the state breaks the
    * oracle. */
  def bootstrapHandoffOverCdc(s: SparkSession, dir: String): DataFrame = {
    val events = docWorkloadEvents(s, dir)
    val nDocs = events.size - 1 // events(0) is the DDL
    val k = bootstrapSplit(nDocs)
    val tmp = graft.util.Scratch.dir("qc11-cdc")
    val (inc, _) = runBootstrapHandoffPipeline(s, dir, events,
      s"$tmp/state", s"$tmp/ckpt",
      expectRows = 1L + (nDocs - k), // DDL + the live half
      frontierGtid = s"0-1-$k", frontierKey = frontierShuffleKey(events, k),
      bootstrap = true)
    inc.groups(s)
      .groupBy(col("rep").as("rep_doc"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("rep_doc"))
  }

  /** The frontier doc's shuffle key: the k-th DML in the scripted
    * binlog is the k-th doc in md5-shuffle order, so its key bounds
    * the historical slice. Recomputed from the event's doc_id (the
    * events are the mock server's binlog — the warehouse side never
    * reads them; this helper only translates "frontier position k"
    * into the key-range predicate the distributed bootstrap filters
    * by). */
  def frontierShuffleKey(events: Seq[String], k: Int): String = {
    val DocIdRe = """"doc_id":(-?\d+)""".r.unanchored
    events(k) match {
      case DocIdRe(id) => shuffleKey(s"qc2:$id")
      case e => throw new IllegalArgumentException(s"no doc_id in event: $e")
    }
  }

  // ---- qc3: CDC-fed incremental IVF (the connector feeding the ANN
  // layer — q88's maintenance loop with the wire path as the arrival
  // source instead of explicit batches) --------------------------------

  val VecTableName = "vectors"

  def vecDdlJson: String =
    ddl(VecTableName, 1, "0-1-1", field("vec_id", "long"), field("emb", "string"))

  /** Scripted binlog for qc3: the ARRIVAL embeddings (vec_id % 5 = 4,
    * the q88 base/arrival split) INSERTed in md5-shuffled order.
    * Embeddings travel as comma-joined `Float.toString` components —
    * Java's shortest round-trip repr, `parseFloat(toString(f)) == f`
    * bit-for-bit — so the wire hop cannot perturb the downstream
    * integer quantization (the q88 oracle stays exact). */
  def vecWorkloadEvents(s: SparkSession, dir: String): Vector[String] =
    vecDdlJson +: shuffled("qc3:", arrivalVecs(s, dir))(_._1).zipWithIndex
      .map { case ((id, emb), i) =>
        dml(i + 1L, 1, "insert", "vec_id" -> id, "emb" -> emb)
      }.toVector

  /** The arrival embeddings (vec_id % 5 = 4) as (vec_id, comma-joined
    * `Float.toString` components). */
  private def arrivalVecs(s: SparkSession, dir: String): Seq[(Long, String)] =
    Tables(s, dir, "embeddings")
      .where(col("vec_id") % 5 === 4)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toString).mkString(","))).toSeq

  /** The qc3 wire half (injectable paths for the kill/resume drill):
    * mock server → maxscale-cdc source → registry → projection → parse
    * the comma-joined floats back to array<float> →
    * [[IncrementalIvf.processBatch]] (map-only assignment against the
    * serving centroids, idempotent append). */
  def runVecPipeline(s: SparkSession, events: Seq[String], statePath: String,
      ckptPath: String, expectRows: Long,
      cents: Seq[graft.operators.KMeansLloyd.Centroid],
      sourceOptions: Map[String, String] = Map.empty): IncrementalIvf = {
    val inc = new IncrementalIvf(statePath, cents)
    drainWire(s, Seq(VecTableName -> events), ckptPath, expectRows, "qc3",
        sourceOptions) { (batch, reg, bid) =>
      latest(batch, reg, VecTableName).foreach(p =>
        inc.processBatch(p.where(col("op") === "insert")
          .select(col("vec_id"), embeddingOf), bid))
    }
    inc
  }

  /** qc3's query body: train the base index from the warehouse (index
    * TRAINING is not a CDC concern — production trains from the stored
    * corpus), stream the arrivals over the real wire path, and emit
    * the q88 composed-index summary — under q88's own oracle, which
    * computes everything from `embeddings` with no CDC anywhere. */
  def incrementalIvfOverCdc(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.KMeansLloyd
    val vecs = Tables(s, dir, "embeddings")
      .select(col("vec_id"), KMeansLloyd.quantize(col("embedding")).as("xi"))
    val (baseAssigned, servingCents, _) = KMeansLloyd.runTracked(
      vecs.where(col("vec_id") % 5 =!= 4), "vec_id", k = 4, iters = 2)
    val events = vecWorkloadEvents(s, dir)
    val tmp = graft.util.Scratch.dir("qc3-cdc")
    val inc = runVecPipeline(s, events, s"$tmp/state", s"$tmp/ckpt",
      events.size.toLong, servingCents)
    graft.queries.Vectors.ivfCompositionSummary(baseAssigned, inc.members(s))
  }

  // ---- qc4: CDC-fed drift monitoring (the connector feeding the
  // monitoring layer — q107's PSI over wire-accumulated event state) --

  val EventTableName = "events_feed"

  /** The payload column is named `etype`, NOT `event_type`: the CDC
    * envelope already uses `event_type` for the operation (insert /
    * update / delete) in the same flat DML JSON — a real MaxScale
    * stream has the identical collision hazard for a table with such a
    * column, and renaming at the feed boundary is the standard fix. */
  def eventDdlJson: String =
    ddl(EventTableName, 1, "0-1-1", field("event_id", "long"),
      field("etype", "string"), field("value", "double"), field("ts_us", "long"))

  /** Scripted binlog for qc4: every fixture event INSERTed in
    * md5-shuffled order. Values travel as `Double.toString` (exact
    * round-trip) and timestamps as epoch MICROS longs — the µs
    * precision the engine's event reads already normalize to — so the
    * wire hop cannot perturb the binning or the half-month split. */
  def eventWorkloadEvents(s: SparkSession, dir: String): Vector[String] = {
    val rows = Tables(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"),
        expr("unix_micros(ts)").as("ts_us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    eventDdlJson +: shuffled("qc4:", rows.toSeq)(_._1).zipWithIndex
      .map { case ((id, ty, v, ts), i) =>
        dml(i + 1L, 1, "insert", "event_id" -> id, "etype" -> ty, "value" -> v,
          "ts_us" -> ts)
      }.toVector
  }

  /** The qc4 wire half (injectable paths for the kill/resume drill):
    * per micro-batch, projected event rows are appended to a parquet
    * event-feed state, replay-guarded by an event_id anti-join (the
    * IncrementalLineDedup doctrine — per-batch work is decode-and-
    * append only; the drift judgment reads the accumulated state). */
  def runEventPipeline(s: SparkSession, events: Seq[String], statePath: String,
      ckptPath: String, expectRows: Long,
      sourceOptions: Map[String, String] = Map.empty): String = {
    val feedDir = s"$statePath/feed"
    // High-volume feed tuning (the events workload is ~20× qc2's doc
    // count): 64 KiB socket reads drain the wire in few syscalls, and
    // a 500 ms trigger coalesces arrivals into few micro-batches —
    // the default ASAP trigger cut one batch per handful of 4 KiB
    // reads, and each batch pays a full state read + append (measured
    // 33 s at sf0.1 from per-batch overhead alone, ~4 s after).
    // Semantics are batch-boundary-free by design, so this is pure
    // mechanics (the fragmentation spec pins boundary invariance).
    drainWire(s, Seq(EventTableName -> events), ckptPath, expectRows, "qc4",
        Map("bufferSize" -> "65536") ++ sourceOptions,
        Trigger.ProcessingTime("500 milliseconds")) { (batch, reg, _) =>
      latest(batch, reg, EventTableName).foreach { p =>
        val proj = inserts(p, "event_id", "etype", "value", "ts_us")
          // intra-batch replay dedup (ADVICE r9): a resumed connection
          // can re-deliver an already-seen event in the SAME micro-batch
          // as new ones — the committed-state anti-join below only
          // guards against rows that landed in EARLIER batches
          .dropDuplicates(Seq("event_id"))
          .localCheckpoint(true)
        // replay-guard read PRUNED to the batch's event_id buckets
        // (VERDICT r10 item 2 — the feed is bucket-partitioned on
        // event_id via StateLayout, like every incremental state)
        val fresh = proj.join(
          StateLayout.readPruned(s, feedDir, proj.schema,
            proj, Seq("event_id")).select("event_id").distinct(),
          Seq("event_id"), "left_anti")
        StateLayout.append(fresh, feedDir, Seq("event_id"))
      }
    }
    feedDir
  }

  /** qc4's query body: stream every event over the real wire path into
    * the feed state, then run the UNCHANGED q107 PSI stage over the
    * accumulated state — under q107's own oracle (computed from
    * `events` with no CDC anywhere). Arrival order cannot matter: the
    * state is a pure set union and PSI is computed from counts. */
  def driftOverCdc(s: SparkSession, dir: String): DataFrame = {
    val events = eventWorkloadEvents(s, dir)
    val tmp = graft.util.Scratch.dir("qc4-cdc")
    val feedDir = runEventPipeline(s, events, s"$tmp/state", s"$tmp/ckpt",
      events.size.toLong)
    val ev = s.read.parquet(feedDir)
      .select(col("etype").as("event_type"), col("value"),
        expr("timestamp_micros(ts_us)").as("ts"))
    graft.queries.Behavioral.psiFromBinned(
      graft.queries.Behavioral.binnedDrift(ev))
  }

  // ---- qc5: CDC-fed corpus report card (the connector feeding the
  // REPORT layer — q133's crosstab over wire-accumulated doc state) ---

  val CorpusTableName = "corpus_feed"

  def corpusDdlJson: String =
    ddl(CorpusTableName, 1, "0-1-1", field("doc_id", "long"), field("text", "string"),
      field("source", "string"), field("lang", "string"))

  /** Scripted binlog for qc5: every fixture document INSERTed with its
    * full metadata row in md5-shuffled order. */
  def corpusWorkloadEvents(s: SparkSession, dir: String): Vector[String] = {
    val rows = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"), col("lang"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    corpusDdlJson +: shuffled("qc5:", rows.toSeq)(_._1).zipWithIndex
      .map { case ((id, text, src, lang), i) =>
        dml(i + 1L, 1, "insert", "doc_id" -> id, "text" -> text, "source" -> src,
          "lang" -> lang)
      }.toVector
  }

  /** The qc5 wire half (injectable paths for the kill/resume drill):
    * wire → projection → [[IncrementalReportCard.processBatch]]. */
  def runCorpusPipeline(s: SparkSession, events: Seq[String], statePath: String,
      ckptPath: String, expectRows: Long,
      sourceOptions: Map[String, String] = Map.empty): IncrementalReportCard = {
    val inc = new IncrementalReportCard(statePath)
    drainWire(s, Seq(CorpusTableName -> events), ckptPath, expectRows, "qc5",
        sourceOptions) { (batch, reg, bid) =>
      latest(batch, reg, CorpusTableName).foreach(p =>
        inc.processBatch(inserts(p, "doc_id", "text", "source", "lang"), bid))
    }
    inc
  }

  /** qc5's query body: stream the corpus over the real wire path into
    * the report-card state, then the UNCHANGED q133 crosstab over the
    * accumulated docs — under q133's own oracle (no CDC anywhere). */
  def reportCardOverCdc(s: SparkSession, dir: String): DataFrame = {
    val events = corpusWorkloadEvents(s, dir)
    val tmp = graft.util.Scratch.dir("qc5-cdc")
    val inc = runCorpusPipeline(s, events, s"$tmp/state", s"$tmp/ckpt",
      events.size.toLong)
    inc.reportCard(s)
  }

  /** qc1's query body: run the whole composition for a fixture dir and
    * aggregate the materialized state (fresh temp dirs per call — the
    * entry measures the real pipeline, not a cache hit). */
  def materializedAgg(s: SparkSession, dir: String): DataFrame = {
    val events = workloadEvents(s, dir)
    val tmp = graft.util.Scratch.dir("qc1-cdc")
    val snap = runPipeline(s, events, s"$tmp/snap", s"$tmp/ckpt", events.size.toLong)
    snap.snapshot(s)
      .groupBy(col("nationkey").cast("long").as("nationkey"))
      .agg(count(lit(1)).as("n_cust"), sum(col("bal_cents")).as("sum_cents"))
      .orderBy(col("nationkey"))
  }

  // ---- qc15: multi-table DDL EVOLUTION under load (VERDICT r11
  // item 8). Two tables subscribed CONCURRENTLY (two connections, one
  // unioned streaming query), each receiving a mid-stream DDL that
  // RENAMES its value column — the non-additive evolution that makes
  // per-version projection load-bearing: projecting a v1 row under the
  // v2 schema loses the value (the renamed field is absent from the v1
  // payload), so the final hash gate fails unless every batch's DMLs
  // bind `from_json` under their own version. The sources run with
  // `splitBatchesAtDdl=true`, so a micro-batch never spans the DDL:
  // the materializer may bind ONE schema per (batch, table) — the
  // registry absorbed this batch's leading DDL first — and the drill
  // require()s version-purity per batch, proving the boundary split.
  // CDC DELETEs in each v2 wave reach BACK across the DDL boundary
  // into v1-inserted keys (delete payloads are v2-shaped; only the key
  // projects). Oracle: both tables' final states computed straight
  // from `customer`/`orders` with no CDC anywhere — v1-wave keys carry
  // their cents in the OLD column, v2-wave keys in the NEW one.

  val BalTableName = "balances_feed"
  val OrdTableName = "orders_feed2"

  /** Wide (all-versions) sink schemas: the union of v1 and v2 fields. */
  val balWideSchema: StructType = StructType(Seq(
    StructField("custkey", LongType),
    StructField("bal_cents", LongType),      // v1 name
    StructField("balance_cents", LongType))) // v2 name (renamed)
  val ordWideSchema: StructType = StructType(Seq(
    StructField("okey", LongType),
    StructField("total_cents", LongType),    // v1 name
    StructField("amount_cents", LongType)))  // v2 name (renamed)

  /** A renaming two-version binlog of (`key`, cents) rows, in order:
    * DDL v1 (`v1Field`) → `v1` inserts → DDL v2 (`v2Field`) → `v2`
    * inserts → `del` deletes, the last three under v2. */
  private def evolveWorkload(tbl: String, key: String, v1Field: String,
      v2Field: String, v1: Seq[(Long, Long)], v2: Seq[(Long, Long)],
      del: Seq[(Long, Long)]): Vector[String] = {
    def ddlV(version: Int, valueField: String) = ddl(tbl, version, "0-1-1",
      field(key, "long"), field(valueField, "long"))
    val ops = v1.map(("insert", v1Field, _)) ++ v2.map(("insert", v2Field, _)) ++
      del.map(("delete", v2Field, _))
    val dmls = ops.zipWithIndex.map { case ((op, f, (k, c)), i) =>
      dml(i + 1L, 1, op, key -> k, f -> c)
    }
    ((ddlV(1, v1Field) +: dmls.take(v1.size)) ++
      (ddlV(2, v2Field) +: dmls.drop(v1.size))).toVector
  }

  /** balances_feed binlog: DDL v1(custkey, bal_cents) → even-custkey
    * inserts → DDL v2(custkey, balance_cents) → odd-custkey inserts →
    * deletes of custkey % 10 == 0 (all even: v1-inserted, reached back
    * across the DDL). */
  def balWorkloadEvents(s: SparkSession, dir: String): Vector[String] = {
    val rows = Tables(s, dir, "customer")
      .select(col("c_custkey"),
        expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("cents"))
      .orderBy(col("c_custkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toVector
    evolveWorkload(BalTableName, "custkey", "bal_cents", "balance_cents",
      rows.filter(_._1 % 2 == 0), rows.filter(_._1 % 2 == 1),
      rows.filter(_._1 % 10 == 0))
  }

  /** orders_feed2 binlog over the o_orderkey % 16 == 0 subset: v1 wave
    * = % 32 == 0, v2 wave = the rest, deletes = % 160 == 0 (⊂ v1). */
  def ordWorkloadEvents(s: SparkSession, dir: String): Vector[String] = {
    val rows = Tables(s, dir, "orders")
      .where(col("o_orderkey") % 16 === 0)
      .select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      .orderBy(col("o_orderkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toVector
    evolveWorkload(OrdTableName, "okey", "total_cents", "amount_cents",
      rows.filter(_._1 % 32 == 0), rows.filter(_._1 % 32 != 0),
      rows.filter(_._1 % 160 == 0))
  }

  /** ONE streaming query over BOTH tables' sources (unioned), each
    * with `splitBatchesAtDdl=true`; per (batch, table): absorb DDLs,
    * require version-purity of the DMLs (the split proof), bind the
    * registry's latest schema ONCE, widen to the all-versions sink
    * schema, and merge exactly-once into that table's snapshot. Reuse
    * the same snapBase+ckptPath to RESUME (the qc1 restart contract);
    * `onBatch` observes (batchId, table, distinct DML versions) for
    * the drill's boundary assertions. */
  def runMultiTableDdlPipeline(s: SparkSession,
      balEvents: Seq[String], ordEvents: Seq[String],
      snapBase: String, ckptPath: String, expectRows: Long,
      onBatch: (Long, String, Seq[Int]) => Unit = (_, _, _) => ())
      : (CdcSnapshotTable, CdcSnapshotTable) = {
    val snapA = new CdcSnapshotTable(s"$snapBase/bal", Seq("custkey"), balWideSchema)
    val snapB = new CdcSnapshotTable(s"$snapBase/ord", Seq("okey"), ordWideSchema)
    drainWire(s, Seq(BalTableName -> balEvents, OrdTableName -> ordEvents),
        ckptPath, expectRows, "qc15", SplitAtDdl) { (batch, reg, bid) =>
      Seq((BalTableName, snapA, balWideSchema),
          (OrdTableName, snapB, ordWideSchema)).foreach {
        case (tbl, snap, wide) =>
          val slice = batch.where(col("table") === tbl)
          onBatch(bid, tbl, versions(slice, bid, s"qc15 $tbl"))
          latest(slice, reg, tbl).foreach { proj =>
            val filled = wide.fields.foldLeft(proj) { (df, f) =>
              if (df.columns.contains(f.name)) df
              else df.withColumn(f.name, lit(null).cast(f.dataType))
            }
            snap.applyBatch(filled, bid)
          }
      }
    }
    snapA.prune(s); snapB.prune(s)
    (snapA, snapB)
  }

  // ---- qc16: the DDL-EVOLVING corpus feed into the DEDUP LAYER —
  // qc15 proves the boundary split on a snapshot materializer; here
  // the rename crosses a STATEFUL layer: the corpus table's text
  // column is renamed (text → body) mid-stream while the feed is
  // filling IncrementalLineDedup, and the sink adapts per batch (the
  // split guarantees each batch binds one schema, so the adapter is a
  // column rename, not a per-row dispatch). If a batch spanned the
  // DDL, v1 rows would project under v2 with a null body → null text
  // → missing chunks, and the q119 oracle hash (computed from
  // `documents` with no CDC anywhere — qc2's exact gate) fails.

  val EvoDocTableName = "documents_evo"

  def evoDocDdlJson(version: Int, textField: String): String =
    ddl(EvoDocTableName, version, s"0-1-$version", field("doc_id", "long"),
      field(textField, "string"))

  /** Scripted evolving binlog: DDL v1(doc_id, text) → even docs under
    * v1 → DDL v2(doc_id, body — the RENAME) → odd docs under v2, each
    * wave md5-shuffled (the qc2 arrival-order doctrine). Line
    * ownership REACHES ACROSS the rename: an odd (v2) doc with a lower
    * doc_id takes a line from an even (v1) doc, so the dedup judgment
    * itself spans the schema versions. */
  def evoDocWorkloadEvents(s: SparkSession, dir: String): Vector[String] = {
    val rows = docRows(s, dir)
    val v1 = shuffled("qc16:v1:", rows.filter(_._1 % 2 == 0))(_._1)
    val v2 = shuffled("qc16:v2:", rows.filter(_._1 % 2 == 1))(_._1)
    def wave(f: String, ws: Seq[(Long, String)], seq0: Int) =
      ws.zipWithIndex.map { case ((id, t), i) =>
        dml(seq0 + i + 1L, 1, "insert", "doc_id" -> id, f -> t)
      }
    ((evoDocDdlJson(1, "text") +: wave("text", v1, 0)) ++
      (evoDocDdlJson(2, "body") +: wave("body", v2, v1.size))).toVector
  }

  /** The qc16 wire half (injectable paths for the resume drill): the
    * evolving feed with `splitBatchesAtDdl=true`, per-batch
    * version-purity require()d, and the rename adapted by a column
    * rename before the batch enters the dedup state. */
  def runEvoDocPipeline(s: SparkSession, events: Seq[String],
      statePath: String, ckptPath: String, expectRows: Long): IncrementalLineDedup = {
    val inc = new IncrementalLineDedup(statePath)
    drainWire(s, Seq(EvoDocTableName -> events), ckptPath, expectRows, "qc16",
        SplitAtDdl) { (batch, reg, bid) =>
      latest(batch, reg, EvoDocTableName).foreach { p =>
        versions(batch, bid, "qc16")
        inc.processBatch(
          inserts(p.withColumnRenamed("body", "text"), "doc_id", "text"), bid)
      }
    }
    inc
  }

  /** qc16's query body: the evolving feed into the dedup state, then
    * the q119 emission — the oracle is qc2's verbatim, so the gate
    * certifies that a mid-stream RENAME is invisible to the layer. */
  def evolvingLineDedupOverCdc(s: SparkSession, dir: String): DataFrame = {
    val events = evoDocWorkloadEvents(s, dir)
    val tmp = graft.util.Scratch.dir("qc16-cdc")
    val inc = runEvoDocPipeline(s, events, s"$tmp/state", s"$tmp/ckpt",
      events.size.toLong)
    inc.lines(s).orderBy(col("doc_id"))
  }

  // ---- qc17: DDL EVOLUTION over the ANN (IVF) state WITH RETRACTION —
  // qc16 proved the rename over the dedup layer; here the rename
  // crosses the IVF member state (the qc3 pipeline) AND a CDC DELETE
  // wave reaches back across the DDL: every deleted vector was
  // INSERTED under v1 (field `emb`) and DELETED under v2 (field
  // `embedding_csv`), so the retraction only lands if per-version
  // binding, the batch-boundary split, and the tombstone anti-join all
  // hold at once. Oracle: q88b's survivors-only composed-index summary
  // (incrementalIvfOracleSqlOver), computed from `embeddings` with no
  // CDC anywhere.

  val EvoVecTableName = "vectors_evo"

  def evoVecDdlJson(version: Int, embField: String): String =
    ddl(EvoVecTableName, version, s"0-1-$version", field("vec_id", "long"),
      field(embField, "string"))

  /** Scripted evolving binlog over the qc3 arrival set (vec_id % 5 ==
    * 4): DDL v1(vec_id, emb) → the vec_id % 10 == 4 wave under v1 →
    * DDL v2(vec_id, embedding_csv — the RENAME) → the vec_id % 10 == 9
    * wave under v2 → DELETEs of vec_id % 20 == 4 (all v1-inserted,
    * reached back across the DDL with v2-shaped full-row payloads).
    * Every wave md5-shuffled (the qc2 arrival-order doctrine);
    * embeddings as exact Float round-trip strings (the qc3 doctrine).
    */
  def evoVecWorkloadEvents(s: SparkSession, dir: String): Vector[String] = {
    val rows = arrivalVecs(s, dir)
    def wave(salt: String, op: String, f: String, keep: Long => Boolean) =
      shuffled(s"qc17:$salt:", rows.filter(r => keep(r._1)))(_._1)
        .map { case (id, e) => (op, f, id, e) }
    val v1 = wave("v1", "insert", "emb", _ % 10 == 4)
    val rest = wave("v2", "insert", "embedding_csv", _ % 10 == 9) ++
      wave("del", "delete", "embedding_csv", _ % 20 == 4)
    val dmls = (v1 ++ rest).zipWithIndex.map { case ((op, f, id, e), i) =>
      dml(i + 1L, 1, op, "vec_id" -> id, f -> e)
    }
    ((evoVecDdlJson(1, "emb") +: dmls.take(v1.size)) ++
      (evoVecDdlJson(2, "embedding_csv") +: dmls.drop(v1.size))).toVector
  }

  /** The qc17 wire half (injectable paths for the resume drill): the
    * evolving feed with `splitBatchesAtDdl=true`; per batch, version
    * purity is require()d, the rename is adapted by a column rename
    * (the qc16 adapter — legal precisely because the split guarantees
    * one schema per batch), inserts enter [[IncrementalIvf.processBatch]]
    * and deletes [[IncrementalIvf.retractBatch]]. A deleted key's
    * insert always precedes the v2 DDL while its delete follows it, so
    * the split also guarantees insert and delete never share a batch —
    * the in-batch processBatch→retractBatch order is never load-bearing. */
  def runEvoVecPipeline(s: SparkSession, events: Seq[String],
      statePath: String, ckptPath: String, expectRows: Long,
      cents: Seq[graft.operators.KMeansLloyd.Centroid]): IncrementalIvf = {
    val inc = new IncrementalIvf(statePath, cents)
    drainWire(s, Seq(EvoVecTableName -> events), ckptPath, expectRows, "qc17",
        SplitAtDdl) { (batch, reg, bid) =>
      latest(batch, reg, EvoVecTableName).foreach { p =>
        versions(batch, bid, "qc17")
        val parsed = p.withColumnRenamed("embedding_csv", "emb")
          .select(col("op"), col("vec_id"), embeddingOf)
        applyOps(inc, parsed, "vec_id", "embedding")(bid)
      }
    }
    inc
  }

  /** Shared qc17/qc18 prelude: train the serving index from the
    * warehouse (qc3's split — training is not a CDC concern) and
    * stream the SAME evolving + retracting feed over the wire into a
    * fresh IncrementalIvf state. One definition, so the two entries
    * cannot silently diverge on the index they claim to share. */
  private def evoVecIndexOverWire(s: SparkSession, dir: String,
      scratch: String): (DataFrame, IncrementalIvf, Seq[graft.operators.KMeansLloyd.Centroid]) = {
    import graft.operators.KMeansLloyd
    val vecs = Tables(s, dir, "embeddings")
      .select(col("vec_id"), KMeansLloyd.quantize(col("embedding")).as("xi"))
    val (baseAssigned, servingCents, _) = KMeansLloyd.runTracked(
      vecs.where(col("vec_id") % 5 =!= 4), "vec_id", k = 4, iters = 2)
    val events = evoVecWorkloadEvents(s, dir)
    val tmp = graft.util.Scratch.dir(scratch)
    val inc = runEvoVecPipeline(s, events, s"$tmp/state", s"$tmp/ckpt",
      events.size.toLong, servingCents)
    (baseAssigned, inc, servingCents)
  }

  /** qc17's query body: the evolving feed with its cross-DDL delete
    * wave, emitted as the q88 composed-index summary over survivors. */
  def evolvingIvfRetractOverCdc(s: SparkSession, dir: String): DataFrame = {
    val (baseAssigned, inc, _) = evoVecIndexOverWire(s, dir, "qc17-cdc")
    graft.queries.Vectors.ivfCompositionSummary(baseAssigned, inc.members(s))
  }

  /** qc18's query body: the SERVING side of qc17 — rebuild the same
    * evolved + retracted index over the wire, then ANSWER QUERIES from
    * it: five base vectors probe their own cell (nProbe = 1) across the
    * composed base ∪ streamed-survivors membership, full-precision
    * vectors fetched from the warehouse by vec_id. The search result is
    * the gate: a retracted vector surfacing as a neighbor, a missed
    * wire insert, or a mis-bound version would each change the top-3
    * lists. Oracle = the q73 search tail over a2 survivors, training
    * CTEs shared verbatim with q88/qc3. */
  def evolvingIvfServingSearchOverCdc(s: SparkSession, dir: String): DataFrame = {
    val (baseAssigned, inc, _) = evoVecIndexOverWire(s, dir, "qc18-cdc")
    graft.queries.Vectors.ivfServingSearch(s, dir, baseAssigned,
      inc.members(s), graft.queries.Vectors.ServingQueryIds)
  }

  /** qc19's query body: PERSIST the wire-built index, reload in a
    * FRESH SESSION, serve (VERDICT r12 item 2 closed on the CDC path —
    * the full production lifecycle in one entry): qc17's evolving +
    * retracting feed rebuilds the incremental IVF over the wire, the
    * COMPOSED inverted file (base ∪ streamed survivors — retraction
    * already folded by the tombstone anti-join) plus the serving
    * centroids are committed to an [[graft.operators.AnnIndexStore]]
    * directory, and then a `newSession()` — fresh catalog, fresh
    * session caches, nothing trained — opens the store and answers
    * qc18's serving search from it, vectors fetched from the lake by
    * vec_id. Oracle = qc18's, verbatim: the reloaded index must serve
    * the IDENTICAL top-3 lists the training session would have, or a
    * missed wire insert, an unfolded retraction, or any save/load
    * drift fails the hash. */
  def persistedIvfServingSearchOverCdc(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AnnIndexStore
    val (baseAssigned, inc, servingCents) =
      evoVecIndexOverWire(s, dir, "qc19-cdc")
    val composed = baseAssigned
      .select(col("vec_id"), col("cell").cast("int").as("cell"))
      .unionByName(inc.members(s)
        .select(col("vec_id"), col("cell").cast("int").as("cell")))
    val store = graft.util.Scratch.dir("qc19-annstore")
    AnnIndexStore.saveIvf(s, store, servingCents, composed)
    val fresh = s.newSession()
    require(AnnIndexStore.loadManifest(store).kind == AnnIndexStore.KindIvf)
    graft.queries.Vectors.ivfServingSearchMembers(fresh, dir,
      AnnIndexStore.loadMembers(fresh, store),
      graft.queries.Vectors.ServingQueryIds)
  }

  // ---- qc20: real_type WIDTH evolution (int cents → bigint cents)
  // crossing the accumulating snapshot state (VERDICT r12 item 4 — the
  // one evolution shape qc15–qc17 left open; reference analog:
  // `types.go:45-47` real_type/length refinement, SURVEY §1.4).
  // The same column NAME carries a different TYPE per schema version:
  // v1 declares cents as Avro "int"/real_type "int" (IntegerType at
  // the registry), v2 as "long"/real_type "bigint". Widening is the
  // production direction and its discipline is: the sink state adopts
  // the WIDEST registered width up front, each version-pure batch
  // (splitBatchesAtDdl) binds `from_json` with ITS OWN version's
  // schema — v1 rows parse as int and CAST up at the sink, v2 rows
  // parse as long natively. The workload makes the width load-bearing:
  // every v2 value is boosted past Int.MaxValue, so a batch mis-bound
  // at v1's int width would parse those payloads to NULL (from_json's
  // overflow behavior) and the per-group sums fail the hash; and the
  // DELETE wave reaches back across the DDL into v1-inserted rows
  // (plus v2-inserted boosted rows) through v2-shaped payloads, so
  // tombstones must land on state accumulated under the narrow width.

  val TypedBalTableName = "balances_typed"

  /** Magnitude added to every v2 cents value: past 2^31, so the bigint
    * width (and nothing narrower) can carry it. */
  val TypedBoost = 3000000000L

  def typedBalDdlJson(version: Int, avroType: String, realType: String): String =
    ddl(TypedBalTableName, version, s"0-1-$version", field("custkey", "long"),
      s"""{"name":"cents","type":"$avroType","real_type":"$realType"}""")

  /** The sink state schema at the WIDEST registered width. */
  val typedBalWideSchema: StructType = StructType(Seq(
    StructField("custkey", LongType),
    StructField("cents", LongType)))

  /** Scripted binlog: DDL v1(cents int) → even customers under v1
    * (int-ranged values) → DDL v2(cents bigint — same NAME, wider
    * TYPE) → odd customers under v2 with cents + [[TypedBoost]]
    * (beyond int) → DELETEs of custkey % 10 ∈ {0, 5} (the 0s are
    * v1-inserted evens reached back across the type change; the 5s
    * are v2-inserted boosted odds), v2-shaped payloads. Waves
    * md5-shuffled (the qc2 arrival-order doctrine). */
  def typedBalWorkloadEvents(s: SparkSession, dir: String): Vector[String] = {
    val rows = Tables(s, dir, "customer")
      .select(col("c_custkey"),
        expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toVector
    def wave(salt: String, op: String, keep: Long => Boolean) =
      shuffled(s"qc20:$salt:", rows.filter(r => keep(r._1)))(_._1).map {
        case (k, c) => (op, k, if (k % 2 == 1) c + TypedBoost else c)
      }
    val v1 = wave("v1", "insert", _ % 2 == 0)
    val rest = wave("v2", "insert", _ % 2 == 1) ++
      wave("del", "delete", k => k % 10 == 0 || k % 10 == 5)
    val dmls = (v1 ++ rest).zipWithIndex.map { case ((op, k, c), i) =>
      dml(i + 1L, 1, op, "custkey" -> k, "cents" -> c)
    }
    ((typedBalDdlJson(1, "int", "int") +: dmls.take(v1.size)) ++
      (typedBalDdlJson(2, "long", "bigint") +: dmls.drop(v1.size))).toVector
  }

  /** The qc20 wire half: `splitBatchesAtDdl=true`, per-batch version
    * purity require()d, `from_json` bound with the batch's OWN
    * version's schema (int for v1 batches, bigint for v2), the cents
    * column CAST to the sink's bigint width, exactly-once merge into
    * the custkey-keyed snapshot. Reusing snapPath+ckptPath RESUMES
    * (the qc1 restart contract) — the spec drill cuts inside the v2
    * wave so boosted values and cross-width tombstones arrive through
    * a reconnected v2 stream. */
  def runTypedBalPipeline(s: SparkSession, events: Seq[String],
      snapPath: String, ckptPath: String, expectRows: Long): CdcSnapshotTable = {
    val snap = new CdcSnapshotTable(snapPath, Seq("custkey"), typedBalWideSchema)
    drainWire(s, Seq(TypedBalTableName -> events), ckptPath, expectRows, "qc20",
        SplitAtDdl) { (batch, reg, bid) =>
      versions(batch, bid, "qc20").headOption.foreach { v =>
        val schema = reg.get(Database, TypedBalTableName, v).getOrElse(
          throw new IllegalStateException(s"version $v not registered"))
        val proj = batch.where(col("kind") === "dml")
          .withColumn("_row", from_json(col("payload"), schema))
          .select(CdcProjection.envelopeCols.map(col) :+ col("_row.*"): _*)
          // the WIDENING at the sink: v1's int parses cast up to the
          // state's bigint; v2's long is already there
          .withColumn("cents", col("cents").cast("long"))
        snap.applyBatch(proj, bid)
      }
    }
    snap.prune(s)
    snap
  }

  /** qc20's query body: run the width-evolution workload, then emit
    * per-(custkey % 16) group stats over the final snapshot — COUNT,
    * SUM, MIN, MAX of cents. The SUM and MAX only come out right if
    * every boosted v2 value survived parse + widen + merge at full
    * bigint width AND every cross-width tombstone landed; the oracle
    * reproduces the survivors' values from `customer` with no CDC,
    * no evolution, no width machinery anywhere in it. */
  def typedWideningOverCdc(s: SparkSession, dir: String): DataFrame = {
    val events = typedBalWorkloadEvents(s, dir)
    val tmp = graft.util.Scratch.dir("qc20-cdc")
    val snap = runTypedBalPipeline(s, events, s"$tmp/snap", s"$tmp/ckpt",
      events.size.toLong)
    snap.snapshot(s)
      .groupBy((col("custkey") % 16).as("grp"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
      .orderBy(col("grp"))
  }

  /** The qc15 entry body: run the two-table evolution workload, then
    * emit one comparison table over both final snapshots — which
    * COLUMN each key's cents landed in IS the version it was projected
    * under, so the hash gate certifies the per-version binding and the
    * batch-boundary split together. */
  def multiTableDdlEvolution(s: SparkSession, dir: String): DataFrame = {
    val balEvents = balWorkloadEvents(s, dir)
    val ordEvents = ordWorkloadEvents(s, dir)
    val tmp = graft.util.Scratch.dir("qc15-cdc")
    val (snapA, snapB) = runMultiTableDdlPipeline(s, balEvents, ordEvents,
      s"$tmp/snap", s"$tmp/ckpt", (balEvents.size + ordEvents.size).toLong)
    snapA.snapshot(s)
      .select(lit("balances").as("src"), col("custkey").as("k"),
        col("bal_cents").as("v1_cents"), col("balance_cents").as("v2_cents"))
      .unionByName(snapB.snapshot(s)
        .select(lit("orders").as("src"), col("okey").as("k"),
          col("total_cents").as("v1_cents"), col("amount_cents").as("v2_cents")))
      .orderBy(col("src"), col("k"))
  }
}
