package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main (driver contract): times every registered
  * query at `SPARK_GRAFT_SF_DIR`, prints ONE JSON line.
  *
  * Timings materialize the full result (`collect()`, not `count()` —
  * counting lets Spark skip projection work entirely for limit-style
  * queries). Two warmup queries run first so JIT/codegen compilation
  * doesn't land on the first measured query.
  */
object Bench {

  /** `spark.sql.shuffle.partitions` for a `local[cpus]` master: the
    * core count itself. local[N] also accepts '*' (all cores), which is
    * not a shuffle-partition count — it maps to the machine's core
    * count instead of failing query planning. */
  def shufflePartitions(cpus: String): String =
    cpus.toIntOption.getOrElse(Runtime.getRuntime.availableProcessors()).toString

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      // shuffle partitions FOLLOW the configured core count (the guide's
      // scale-adaptive rule; Verify already does this): the driver also
      // runs this bench at a lower SPARK_GRAFT_CPUS to measure per-query
      // core scaling, and a hard-coded 32 there starved each core with
      // 4× undersized tasks. At the driver's 32-core pass this is
      // exactly the previous value — the round-over-round per-query
      // numbers stay comparable.
      .config("spark.sql.shuffle.partitions", shufflePartitions(cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
    // bucketed-layout planner confs set at build time so every query in
    // the session runs under ONE planner configuration (q100/q100b used
    // to flip these mid-session on first use)
    graft.operators.BucketedTables.sessionConfs
      .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup: exercise scan, shuffle-agg, broadcast-join, window codegen
    Seq("q01_scan_count", "q13_agg_hash", "q06_join_multiway")
      .foreach(n => try SparkEntry.queries(n)(spark, sfDir).collect()
        catch { case _: Throwable => () })

    // min of three timed runs per query, with the repetitions
    // INTERLEAVED across the whole suite (suite pass 1, pass 2, pass 3)
    // rather than back-to-back: a sustained host-load spike then shows
    // up as a uniform shift across one pass instead of poisoning a
    // single query's number 3-for-3 (the BENCH_r05 failure mode — a
    // ~1.7× environment factor made untouched sub-second queries read
    // as 2–7× regressions). min is the right statistic for a
    // deterministic workload: every delta above the fastest observed
    // run is noise, not work. The per-query JSON keys are unchanged —
    // they are the round-over-round diffing contract.
    def once(q: graft.QueryDef): Double = {
      val t0 = System.nanoTime()
      q.run(spark, sfDir).collect()
      (System.nanoTime() - t0) / 1e9
    }
    // local-iteration filter (the driver sets no filter → full suite)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    val defs = if (only.isEmpty) SparkEntry.allDefs
      else SparkEntry.allDefs.filter(q => only(q.name))
    // the ingest micro-bench gets the SAME doctrine as the queries
    // (VERDICT r9 item 2 — its single-shot number swung 234–543 k ev/s
    // across rounds with no code-change correlation): a JIT warmup
    // drain first, then one timed pass after EACH query-suite pass —
    // three runs separated by ~a suite pass of wall clock, so a host
    // load spike shifts one run instead of the headline — with the
    // BEST (max events/s ≡ min time) reported and all three recorded.
    try ingestEventsPerSec() catch { case _: Throwable => () } // JIT warmup (full-size)
    val ingestRuns = scala.collection.mutable.ArrayBuffer.empty[Double]
    // host-load marker captured WITH each ingest run (VERDICT r13 item
    // 3: a 43% round-over-round 4-shard swing was attributed to ambient
    // host load with no recorded evidence — unfalsifiable; now every
    // run carries 1-minute loadavg + the machine's JVM count at run
    // time, so an ambient-load claim is checkable from the artifact)
    val ingestMarkers = scala.collection.mutable.ArrayBuffer.empty[String]
    def loadMarker(): String = {
      val load1 = try new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0)
        catch { case _: Throwable => "-1" }
      val jvms = try {
        val s = java.nio.file.Files.list(java.nio.file.Paths.get("/proc"))
        try s.toArray.map(_.toString).count { p =>
          p.stripPrefix("/proc/").forall(_.isDigit) && {
            try new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(p, "comm"))).trim == "java"
            catch { case _: Throwable => false }
          }
        } finally s.close()
      } catch { case _: Throwable => -1 }
      s"""{"load1":$load1,"jvms":$jvms}"""
    }
    // pass-count knob for local scale runs (e.g. the one-pass sf1
    // validation sweep); the driver sets nothing → the min-of-3 contract
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    // the HORIZONTAL path: the protocol is one-reader-per-binlog-shard
    // (single TCP subscription — the source doc's stated scale lever is
    // one source per table/shard, unioned), so aggregate ingest scales
    // by adding connections. Measured as 4 concurrent server+client
    // pairs drained in parallel, best-of-3, BEFORE the query suite
    // runs: the r13→r14 "43% 4-shard swing" root-caused to MEASUREMENT
    // ORDERING, not the wire path — after a full 221-entry suite the
    // JVM holds every session cache and localCheckpoint block, and 4
    // concurrent decode threads contend with GC over that heap
    // (same-day evidence: 3.33–3.37M ev/s post-suite vs 3.83–4.98M on
    // a settled heap at equal load markers, single-connection
    // unaffected at ~1.4M either way — one allocator thread has
    // headroom, four don't). Production shards are separate executor
    // JVMs that never host the analytics heap, so the settled-heap
    // number is the deployment-honest one; the load markers stay so
    // the claim remains checkable from the artifact.
    val shardMarkers = scala.collection.mutable.ArrayBuffer.empty[String]
    val shardRuns = (1 to 3).map { _ =>
      shardMarkers += loadMarker()
      try ingestEventsPerSecSharded() catch { case _: Throwable => -1.0 }
    }
    val okShard = shardRuns.filter(_ >= 0)
    val epsShard = if (okShard.isEmpty) -1.0 else okShard.max
    def timedIngestRun(): Unit = {
      ingestMarkers += loadMarker()
      ingestRuns += (try ingestEventsPerSec() catch { case _: Throwable => -1.0 })
    }
    val passes = (1 to nPasses).map { _ =>
      val m = defs.map { q =>
        q.name -> (try once(q) catch { case e: Throwable =>
          System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}"); -1.0 })
      }.toMap
      timedIngestRun()
      m
    }
    // two more warm runs after the suite → five recorded single-
    // connection runs per round (VERDICT r13 item 3's min-of-5 bar),
    // the first three still interleaved across the suite passes
    if (nPasses >= 3) (1 to 2).foreach(_ => timedIngestRun())
    val results = defs.map { q =>
      val ts = passes.map(_(q.name))
      q.name -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // headline from the SUCCESSFUL runs only (ADVICE r10): one failed
    // interleaved run shouldn't poison the other two, and with
    // SPARK_GRAFT_BENCH_PASSES=0 the buffer is empty — both cases fall
    // back to the -1.0 sentinel rather than throwing
    val okRuns = ingestRuns.filter(_ >= 0)
    val eps = if (okRuns.isEmpty) -1.0 else okRuns.max
    val epsRuns = ingestRuns.mkString("[", ",", "]")
    // the serving-SLA block (VERDICT r13 item 6): per-query latency
    // against the LOADED persisted index — q144 carries the hash gate,
    // this records the p50/p95 a serving deployment would see
    val servingLat = try graft.queries.Vectors
        .servingSlaLatenciesMs(spark, sfDir, 100).sorted
      catch { case e: Throwable =>
        System.err.println(s"[bench] serving SLA probe failed: ${e.getMessage}")
        Seq.empty[Double] }
    def pctOf(lat: Seq[Double])(p: Double): Double = if (lat.isEmpty) -1.0
      else lat(math.min(lat.size - 1,
        math.ceil(p * lat.size).toInt - 1).max(0))
    def pct(p: Double): Double = pctOf(servingLat)(p)
    // the CONCURRENT serving block (VERDICT r14 item 8): N=4 request
    // streams against the same pinned index, measured — not asserted —
    // to show whether the N=1 p50 is a scheduling floor that concurrent
    // sessions amortize (latency holds ≈ N=1) or real compute (rises
    // ~4×). Additive keys; the N=1 block above is unchanged.
    val servingLatC4 = try graft.queries.Vectors
        .servingSlaLatenciesConcurrentMs(spark, sfDir, 100, 4).sorted
      catch { case e: Throwable =>
        System.err.println(s"[bench] concurrent serving SLA probe failed: ${e.getMessage}")
        Seq.empty[Double] }
    val pctC4 = pctOf(servingLatC4) _
    val servingJson = s""""serving_queries":${servingLat.size},""" +
      s""""serving_p50_ms":${pct(0.50)},"serving_p95_ms":${pct(0.95)},""" +
      s""""serving_c4_queries":${servingLatC4.size},""" +
      s""""serving_c4_p50_ms":${pctC4(0.50)},"serving_c4_p95_ms":${pctC4(0.95)}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"ingest_eps":$eps,"ingest_eps_runs":$epsRuns,"ingest_load_markers":${ingestMarkers.mkString("[", ",", "]")},"ingest_eps_4shard":$epsShard,"ingest_eps_4shard_runs":${shardRuns.mkString("[", ",", "]")},"ingest_4shard_load_markers":${shardMarkers.mkString("[", ",", "]")},$servingJson,"sf":"$sfDir"}"""
    println(line)
    // the driver captures stdout with a bounded tail, which truncated a
    // third of the per-query map in round 2 — so the FULL artifact is
    // also written to a stable file for machine-readable round-over-round
    // diffs (schema: the same one-object JSON line)
    // a SCOPED local run (SPARK_GRAFT_BENCH_ONLY) must not clobber the
    // round artifact with a partial map — default its output elsewhere
    val defaultOut = if (only.isEmpty) "/root/repo/BENCH_QUERIES.json"
      else "/root/repo/tmp/BENCH_SCOPED.json"
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    try {
      // getParent is null for a bare relative filename — nothing to create
      Option(java.nio.file.Paths.get(outFile).getParent)
        .foreach(java.nio.file.Files.createDirectories(_))
      // atomic: write a sibling temp file and move it into place, so a
      // concurrent snapshot/commit can never capture a truncated record
      // (VERDICT r13: the end-of-round snapshot committed a 0-byte
      // SF1_CHECK record zeroed by an in-flight `>` redirect)
      val target = java.nio.file.Paths.get(outFile)
      val tmp = target.resolveSibling("." + target.getFileName + ".tmp")
      java.nio.file.Files.writeString(tmp, line + "\n")
      java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    catch { case e: Throwable => System.err.println(s"[bench] could not write $outFile: $e") }
    // VERDICT r14 item 2: the full line above is ~20 KB and the round
    // driver captures stdout through a BOUNDED TAIL — in all 14 rounds
    // the front of the line was cut off and the driver's parse came up
    // null. The FINAL stdout line is therefore a compact summary that
    // survives a 4 KB tail (the full per-query map stays in the line
    // above and in the atomic artifact write):
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"ingest_eps":$eps,"ingest_eps_4shard":$epsShard,"serving_p50_ms":${pct(0.50)},"serving_p95_ms":${pct(0.95)},"serving_c4_p50_ms":${pctC4(0.50)},"serving_c4_p95_ms":${pctC4(0.95)},"queries_file":"$outFile","sf":"$sfDir"}""")
    spark.stop()
  }

  /** CDC ingest micro-bench mirroring the reference's
    * `BenchmarkConsumer_Process` (`gomaxscale_test.go:262-307`): a mock
    * server blasts insert events; measures client framing + decode
    * throughput in events/sec. Fixed event count; callers run it
    * min-of-3-interleaved (see main) so the reported number is a
    * repeatable best-case, not a host-load sample.
    *
    * The timed window starts mid-connection (VERDICT r10 item 6 — the
    * driver-host runs read [363k, 445k, 497k], a 37% spread with the
    * first run the laggard despite the separate full-size warmup call):
    * a suite pass of wall clock between warmup and measurement leaves
    * the first timed run re-paying socket/JIT/allocator warmth, so each
    * run now drains `warm` events UNTIMED on the SAME connection
    * immediately before its `n` timed events — the warmth cannot decay
    * between warmup and measurement because nothing runs in between. */
  /** Multi-shard ingest: `shards` independent server+client pairs (one
    * binlog shard each — the real deployment's table/shard fan-out,
    * where each MaxScale subscription is a single-reader stream)
    * drained CONCURRENTLY, one thread per connection. Reported number
    * is aggregate events/sec over the slowest shard's wall clock (the
    * honest cluster metric: a fan-out is as fast as its laggard).
    * Every shard's count is required exact — a dropped or duplicated
    * event fails the run rather than polluting the rate. Per-shard
    * volume matches the single-connection bench (100k timed), so the
    * scaling ratio `ingest_eps_4shard / ingest_eps` reads directly as
    * the horizontal-path efficiency on this host. */
  private[graft] def ingestEventsPerSecSharded(shards: Int = 4,
      n: Int = 100000, warm: Int = 25000): Double = {
    import graft.sources.cdc._
    System.gc()
    Thread.sleep(200)
    val total = warm + n
    val events = (1 to total).map(i =>
      s"""{"domain":0,"server_id":1,"sequence":$i,"event_number":1,"timestamp":1754956800,"event_type":"insert","id":$i,"name":"user-$i"}""")
    val pairs = (1 to shards).map { _ =>
      val server = new testkit.MockMaxScaleServer(events = events)
      val client = new MaxScaleClient(host = "127.0.0.1", port = server.port,
        user = "bench", password = "bench", database = "example", table = "users",
        readTimeoutMs = 2000)
      (server, client)
    }
    val ready = new java.util.concurrent.CyclicBarrier(shards + 1)
    val timed = new java.util.concurrent.CyclicBarrier(shards + 1)
    val timedCounts = new java.util.concurrent.atomic.AtomicLongArray(shards)
    val finalCounts = new java.util.concurrent.atomic.AtomicLongArray(shards)
    val threads = pairs.zipWithIndex.map { case ((_, client), i) =>
      val t = new Thread(() => {
        client.connect()
        var count = 0
        var eof = false
        while (!eof && count < warm) { // untimed in-connection warm drain
          val r = client.poll(); count += r.events.size; eof = r.eof
        }
        val warmed = count // poll() batches, so the drain can overshoot
        ready.await(); timed.await() // all shards start the timed window together
        while (!eof && count < total) {
          val r = client.poll(); count += r.events.size; eof = r.eof
        }
        timedCounts.set(i, (count - warmed).toLong)
        finalCounts.set(i, count.toLong)
        client.close()
      }, s"ingest-shard-$i")
      t.setDaemon(true); t.start(); t
    }
    ready.await()
    val t0 = System.nanoTime()
    timed.await()
    threads.foreach(_.join(30000))
    val wall = (System.nanoTime() - t0) / 1e9
    // conservation: every shard drained its whole scripted feed (the
    // timed slice can undershoot `n` by the warm drain's batch
    // overshoot — that's accounted, not lost)
    (0 until shards).foreach { i =>
      require(finalCounts.get(i) == total.toLong,
        s"shard $i drained ${finalCounts.get(i)} of $total events")
    }
    (0 until shards).map(timedCounts.get).sum / wall
  }

  /** The base ingest event block, generated ONCE per JVM and reused
    * by every run: regenerating the event strings per run churned
    * exactly the heap the pre-run GC settle tries to quiet. */
  private lazy val ingestBase: Array[String] =
    (1 to 1200000).map(i =>
      s"""{"domain":0,"server_id":1,"sequence":$i,"event_number":1,"timestamp":1754956800,"event_type":"insert","id":$i,"name":"user-$i"}""").toArray

  /** A zero-copy repeating view over [[ingestBase]]: the mock server
    * iterates it like any Seq, but EOF becomes unreachable within a
    * timed run without materializing more strings (sequence numbers
    * repeat across laps — fine, the bench requests no GTID resume). */
  private lazy val ingestStream: IndexedSeq[String] = new IndexedSeq[String] {
    val length: Int = 8 * ingestBase.length // ~9.6M events ≈ 15 s at peak rate
    def apply(i: Int): String = ingestBase(i % ingestBase.length)
  }

  /** DURATION-based best-sub-window measurement (VERDICT r11 item 4):
    * the previous fixed-100k-event window lasted ~0.2 s, so a single
    * scheduler or GC blip inside it moved the run by 2× — recorded
    * spreads read 12–18% against the <15% target, and runs trended
    * upward across the suite (tiered JIT still recompiling the hot
    * poll loop during early windows). Now each run drains warm events
    * untimed on the SAME connection until BOTH a minimum event count
    * and a minimum wall duration have passed, then times `nWindows`
    * consecutive fixed-duration sub-windows and reports the BEST
    * events/elapsed among them: a blip lands in one sub-window and is
    * discarded; residual JIT warming favors later sub-windows instead
    * of depressing the whole run. The stream repeats (no EOF inside a
    * run), so every sub-window is full-length. Ten windows span ~5 s
    * of wall per run — a round-12 close measured a whole 3 s (6-window)
    * run depressed by one sustained ambient-load patch, so the span
    * must out-wait the patch, not just the blip. */
  private def ingestEventsPerSec(windowSecs: Double = 0.5,
      nWindows: Int = 10, warmSecs: Double = 0.8, minWarm: Int = 50000): Double = {
    import graft.sources.cdc._
    // each interleaved run lands right after a full query-suite pass,
    // whose garbage otherwise forces a major GC INSIDE the timed window
    // (the residual term behind the driver-host spread: isolated
    // back-to-back runs measure ~7%, suite-interleaved 35%+). Collect
    // and settle BEFORE connecting so the timed windows start
    // heap-quiet.
    System.gc()
    Thread.sleep(200)
    val server = new testkit.MockMaxScaleServer(events = ingestStream)
    val client = new MaxScaleClient(host = "127.0.0.1", port = server.port,
      user = "bench", password = "bench", database = "example", table = "users",
      readTimeoutMs = 2000)
    client.connect()
    var count = 0
    var eof = false
    val w0 = System.nanoTime()
    while (!eof && (count < minWarm ||
        (System.nanoTime() - w0) / 1e9 < warmSecs)) {
      val r = client.poll()
      count += r.events.size
      eof = r.eof
    }
    var best = -1.0
    var w = 0
    while (!eof && w < nWindows) {
      val start = count
      val t0 = System.nanoTime()
      var elapsed = 0.0
      while (!eof && elapsed < windowSecs) {
        val r = client.poll()
        count += r.events.size
        eof = r.eof
        elapsed = (System.nanoTime() - t0) / 1e9
      }
      // an EOF-truncated tail window still counts if it ran long
      // enough to be a meaningful sample (the repeating stream makes
      // this unreachable in practice; belt for SPARK_GRAFT-less runs)
      if (elapsed >= windowSecs * 0.4) best = math.max(best, (count - start) / elapsed)
      w += 1
    }
    client.close()
    best
  }
}
