package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.cdc.SchemaRegistry
import graft.streaming.{CdcSnapshotTable, IncrementalNearDup}
import graft.util.Confs

/** Shared shape of the CDC workloads: an open-loop phase at a fixed
  * offered rate, then a drain of a preloaded backlog, each into fresh
  * state and checkpoint directories. */
abstract class CdcWorkload extends Workload {
  override val setupReps = 5
  val Phases = Seq("open", "drain")
  val HookSpans = Set("project", "apply", "retract")
  protected def table: String

  /** A phase's batch ids are offset so that spans of both phases stay
    * apart. */
  protected def unitOf(phase: Int, batchId: Long): Long = phase * 1000000L + batchId

  /** Runs one phase into fresh directories; returns the run and the
    * state directory. */
  protected def phase(c: Ctx, phaseNo: Int, script: IndexedSeq[String], rate: Double,
      maxPerTrigger: Option[Int]): (PhaseRun, String)

  /** Reads the committed state after a phase and checks it. */
  protected def emitAndCheck(c: Ctx, r: Result, phaseNo: Int, stateDir: String): Unit

  protected def openScript: IndexedSeq[String]
  protected def drainScript: IndexedSeq[String]
  /** Offered events/s of the open loop, well under the drain rate
    * measured on a 4-core host. */
  protected def openRate: Double
  /** Seconds at the start of the open loop whose events are not in the
    * lag: it runs this long before the run's measured seconds. */
  protected def settleS: Double
  /** maxEventsPerTrigger of the open loop and of the drain (set: the
    * drain rate is that of the batches it fills). */
  protected def caps: (Option[Int], Option[Int])

  def measure(c: Ctx, r: Result): Unit = {
    val t0 = Clock.nowMs()
    val runs = Seq((openScript, openRate, caps._1), (drainScript, 0.0, caps._2))
      .zipWithIndex.map { case ((script, rate, cap), no) =>
        val (run, stateDir) = phase(c, no, script, rate, cap)
        r.attempted += run.events - 1
        r.check(run.notExactlyOnce == 0, run.notExactlyOnce,
          s"${Phases(no)}: ${run.notExactlyOnce} events not committed exactly once")
        r.check(run.server.eventsSent == run.events, run.events - run.server.eventsSent,
          s"${Phases(no)}: the generator sent ${run.server.eventsSent} of ${run.events} events")
        if (c.tracer.on) { // the hook counted the rows of every batch
          r.check(run.rowsOffRange == 0, run.rowsOffRange,
            s"${Phases(no)}: (rows received, events in range) per batch: ${run.rowsRead}")
          r.check(run.rowsIn == run.server.eventsSent, math.abs(run.server.eventsSent - run.rowsIn),
            s"${Phases(no)}: hook received ${run.rowsIn} rows for ${run.server.eventsSent} events sent")
        }
        r.check(run.corrupt == 0, run.corrupt, s"${Phases(no)}: ${run.corrupt} corrupt rows")
        c.tracer.span("emit", unitOf(no, 999999L))(
          emitAndCheck(c, r, no, stateDir))
        val (files, bytes) = Cdc.footprint(stateDir)
        (run, files, bytes)
    }
    val t1 = Clock.nowMs()
    val (open, drain) = (runs(0)._1, runs(1)._1)
    val lags = open.lagsMs(settleS * 1000).toSeq
    val drainBatchEps = drain.batchEps(caps._2.get)
    val drainEps = Stats.median(drainBatchEps)
    r.e2e("latency_p50_ms") = (Stats.median(lags), "ms")
    // the tail is p90: lags of one batch move together, and p99 of the
    // fifteen-odd batches in the window would be one batch
    r.e2e("latency_tail_ms") = (Stats.quantile(lags, 0.9), "ms")
    r.e2e("throughput_per_s") = (drainEps, "1/s")
    r.note("commit_lag_p50_ms", Stats.median(lags))
    r.note("commit_lag_p90_ms", Stats.quantile(lags, 0.9))
    r.note("commit_lag_p99_ms", Stats.quantile(lags, 0.99))
    r.note("drain_eps", drainEps)
    r.info("drain_batch_eps") = drainBatchEps.map(Json.num).mkString("[", ",", "]")
    r.note("offered_rate_eps", openRate)
    r.note("settle_s", settleS)
    r.note("lag_events", lags.size)
    r.note("open_events", open.events - 1)
    r.note("drain_events", drain.events - 1)
    r.note("generator_max_late_ms", open.server.maxLateMs)
    r.note("open_batches", open.batches.size)
    r.info("open_batch_ms") = open.batches.map(p =>
      Json.num(p.durationMs.get("triggerExecution").doubleValue)).mkString("[", ",", "]")
    r.info("open_batch_events") = open.ranges.map { case (a, b, _) => Json.num((b - a).toDouble) }
      .mkString("[", ",", "]")
    r.note("drain_batches", drain.batches.size)
    if (c.tracer.on) layerMetrics(c, r, runs, t0, t1)
  }

  private def layerMetrics(c: Ctx, r: Result, runs: Seq[(PhaseRun, Long, Long)],
      t0: Double, t1: Double): Unit = {
    val tr = c.tracer
    val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
      "commitOffsets")
    runs.map(_._1).zipWithIndex.foreach { case (run, no) =>
      run.batches.foreach { p =>
        val unit = unitOf(no, p.batchId)
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
        val start = run.batchStartMs(p)
        val trig = tr.add(Span("trigger", start, start + d("triggerExecution"), -1, unit))
        var at = start
        order.foreach { k =>
          val ms = d.getOrElse(k, 0.0)
          val idx = tr.add(Span(k, at, at + ms, trig, unit))
          if (k == "addBatch") tr.adopt(HookSpans, unit, idx)
          at += ms
        }
      }
    }
    val jobs = c.jobs.jobsIn(t0, t1)
    tr.addJobs(jobs)
    val self = tr.selfByName()
    def ms(n: String) = self.getOrElse(n, 0.0)
    val all = runs.map(_._1)
    val events = all.map(_.events - 1).sum.toDouble
    val lagEv = all.flatMap(_.batches.map { p =>
      val src = p.sources.head
      (Cdc.offsetIndex(src.latestOffset) - Cdc.offsetIndex(src.endOffset)).toDouble
    })
    val batches = all.map(_.batches.size).sum
    val wire = all.map(_.server.bytesSent).sum.toDouble
    r.layers(Seq(
      ("cdc.client.poll_eps", Stats.median((1 to 3).map(_ => Cdc.clientPollEps(drainScript))),
        "1/s"),
      ("cdc.wire.bytes_per_event", wire / all.map(_.events).sum, "bytes"),
      ("cdc.source.rows_in", all.map(_.rowsIn).sum.toDouble, "count"),
      ("cdc.source.lag_events_p50", if (lagEv.isEmpty) 0.0 else Stats.median(lagEv), "count"),
      ("cdc.source.lag_events_max", if (lagEv.isEmpty) 0.0 else lagEv.max, "count"),
      ("stream.batches", batches.toDouble, "count"),
      ("stream.idle_ms", all.map(run => run.ranges.last._3 - run.batchStartMs(run.batches.head) -
        run.batches.map(_.durationMs.get("triggerExecution").doubleValue).sum).sum, "ms"),
      ("state.files_end", runs.map(_._2).sum.toDouble, "count"),
      ("state.bytes_end", runs.map(_._3).sum.toDouble, "bytes"),
      ("state.write_bytes_per_event", jobs.map(_.output).sum / events, "bytes")))
    r.layers(SpanMetric.selfTimed.map { case (span, metric) => (metric, ms(span), "ms") })
    r.layers(JobProbe.metrics(jobs, t0, t1, c.cores, batches))
  }
}

/** `cdc_upsert`: seeded upserts of small rows into a copy-on-write
  * snapshot table in large batches. */
final class CdcUpsert extends CdcWorkload {
  protected def table: String = Cdc.KvTable
  private val Keys = 20000
  private val DrainEvents = 60000
  private var open: Cdc.KvScript = _
  private var drain: Cdc.KvScript = _
  protected def openScript = open.events
  protected def drainScript = drain.events
  protected val openRate = 2000.0 // full drain batches: 9000-15000 events/s
  protected val settleS = 6.0
  protected val caps = (None, Some(10000))

  def setup(c: Ctx): Unit = {
    c.newSession()
    // the open loop settles, then lasts the run's seconds; the drain
    // follows
    open = Cdc.kvScript(c.seed, (openRate * (settleS + c.seconds)).toInt, Keys)
    drain = Cdc.kvScript(c.seed + 1000003L, DrainEvents, Keys)
  }

  /** A drain, so the JIT has compiled the per-event path before the
    * open loop. */
  def warm(c: Ctx): Unit =
    phase(c, 9, Cdc.kvScript(c.seed + 7L, DrainEvents / 3, Keys).events, 0.0, caps._2)

  protected def phase(c: Ctx, no: Int, script: IndexedSeq[String], rate: Double,
      cap: Option[Int]): (PhaseRun, String) = {
    val s = c.spark
    val stateDir = c.dir("state")
    val snap = new CdcSnapshotTable(stateDir, Seq("k"), Cdc.kvSchema)
    val reg = new SchemaRegistry
    val run = Cdc.runPhase(s, script, rate, table, c.dir("ckpt"), cap, 120000,
        c.tracer.on) { (b, id) =>
      val unit = unitOf(no, id)
      val proj = c.tracer.span("project", unit, -1)(Cdc.project(b, reg, table))
      proj.foreach(p => c.tracer.span("apply", unit, -1)(snap.applyBatch(p, id)))
    }
    (run, stateDir)
  }

  protected def emitAndCheck(c: Ctx, r: Result, no: Int, stateDir: String): Unit = {
    val expected = (if (no == 0) open else drain).finalState
    val got = new CdcSnapshotTable(stateDir, Seq("k"), Cdc.kvSchema).snapshot(c.spark)
      .collect().map(x => x.getLong(0) -> (x.getInt(1), x.getLong(2), x.getString(3))).toSeq
    val gotMap = got.toMap
    val wrong = (expected.keySet ++ gotMap.keySet).count { k =>
      (expected.get(k), gotMap.get(k)) match {
        case (Some((g, v)), Some((g2, v2, t))) => g != g2 || v != v2 || t != s"t${v % 97}"
        case _ => true
      }
    } + (got.size - gotMap.size)
    r.check(wrong == 0, wrong, s"${Phases(no)}: $wrong keys differ from the generator's final state")
  }
}

/** `cdc_neardup`: the qc7 shape — documents inserted, then a seventh of
  * them deleted, feeding `IncrementalNearDup` in fixed-size batches. */
final class CdcNeardup extends CdcWorkload {
  protected def table: String = Cdc.DocTable
  private var script: Vector[String] = _
  private var dataDir: String = _
  protected def openScript = script
  protected def drainScript = script
  protected val openRate = 12.0 // drain: about 39 events/s
  protected val settleS = 0.0
  protected val caps = (Some(200), Some(200))

  def setup(c: Ctx): Unit = {
    val s = c.newSession()
    val docs = Gen.docs(c.seed, 800)
    script = Cdc.docScript(c.seed, docs)
    // the oracle reads the same documents as a table
    dataDir = c.dir("data")
    Gen.documents(s, c.seed, docs.size).write.parquet(s"$dataDir/documents.parquet")
  }

  def warm(c: Ctx): Unit =
    phase(c, 9, Cdc.docScript(c.seed + 7L, Gen.docs(c.seed + 7L, 40)), 0.0, None)

  private val incs = scala.collection.mutable.Map.empty[String, IncrementalNearDup]

  protected def phase(c: Ctx, no: Int, script: IndexedSeq[String], rate: Double,
      cap: Option[Int]): (PhaseRun, String) = {
    val s = c.spark
    val stateDir = c.dir("state")
    val inc = new IncrementalNearDup(stateDir,
      autoCompactFiles = graft.streaming.CdcAnalytics.DrillCompactFiles)
    incs(stateDir) = inc
    val reg = new SchemaRegistry
    val run = Confs.withMicroBatch(s) {
      Cdc.runPhase(s, script, rate, table, c.dir("ckpt"), cap, 120000, c.tracer.on) { (b, id) =>
        val unit = unitOf(no, id)
        c.tracer.span("project", unit, -1)(Cdc.project(b, reg, table)
          .map(_.select(col("op"), col("doc_id"), col("text")).localCheckpoint(true)))
          .foreach { p =>
            c.tracer.span("apply", unit, -1)(inc.processBatch(
              p.where(col("op") === "insert").select(col("doc_id"), col("text")), id))
            c.tracer.span("retract", unit, -1)(inc.retractBatch(
              p.where(col("op") === "delete").select(col("doc_id")), id))
          }
      }
    }
    (run, stateDir)
  }

  protected def emitAndCheck(c: Ctx, r: Result, no: Int, stateDir: String): Unit = {
    val outDir = s"${c.dir("groups")}/groups"
    Confs.withMicroBatch(c.spark) {
      incs(stateDir).groups(c.spark)
        .groupBy(col("rep").as("rep_doc")).agg(count(lit(1)).as("n_members"))
        .orderBy(col("rep_doc"))
        .coalesce(1).write.parquet(outDir)
    }
    r.oracles += ((s"${Phases(no)}_groups", Cdc.neardupOracle(c.seed), outDir,
      script.size - 1L))
    r.info("data_dir") = Json.str(dataDir)
  }
}
