package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{PerfbenchServing, QueryDef}
import graft.operators.AnnIndexStore
import graft.queries._

/** `analytics_mix`: a closed loop of one client running a fixed list of
  * batch registry entries, every `queries` module represented, in a
  * seeded order per pass. The tables are one fixed corpus per source
  * tree (see [[Ctx.cached]]). Each entry's first result is compared with
  * its registered DuckDB oracle after the run; every later pass must
  * return the same rows. */
final class AnalyticsMix extends Workload {
  /** (module, entry): one entry per module, the slower ones that still
    * fit two passes in a run on four cores. */
  val Mix: Seq[(String, String)] = Seq(
    "relational" -> "q06_join_multiway",
    "windowed" -> "q39_session_window",
    "asof" -> "q12b_asof_native",
    "behavioral" -> "q80_retention_cohorts",
    "semistructured" -> "q35_json_extract",
    "llmtext" -> "q119_line_dedup",
    "vectors" -> "q42_cosine_topk",
    "multimodal" -> "q53_multimodal_meta",
    "pipeline" -> "q58_hash_split",
    "suffixarray" -> "q125_longest_dup_substring")

  private val registry: Map[String, QueryDef] =
    (Relational.defs ++ Windowed.defs ++ graft.operators.AsOfJoin.defs ++ Behavioral.defs ++
      SemiStructured.defs ++ LlmText.defs ++ Vectors.defs ++ Multimodal.defs ++
      Pipeline.defs ++ SuffixArray.defs).map(q => q.name -> q).toMap

  private var dataDir: String = _

  private def runOnce(s: SparkSession, q: QueryDef): (Array[Row], StructType) = {
    val df = q.run(s, dataDir)
    (df.collect(), df.schema)
  }

  override def prepare(c: Ctx): Unit = {
    c.newSession()
    dataDir = c.cached("mix")(dir => Gen.tables(c.spark, dir, 0L, 0.01))
  }

  /** A fresh session that resolves every table, as a report client would. */
  def setup(c: Ctx): Unit = {
    val s = c.newSession()
    graft.Tables.all.foreach(t => graft.Tables(s, dataDir, t).schema)
  }

  def warm(c: Ctx): Unit = Mix.foreach { case (_, n) => runOnce(c.spark, registry(n)) }

  def measure(c: Ctx, r: Result): Unit = {
    val s = c.spark
    val first = scala.collection.mutable.Map.empty[String, (Array[Row], StructType, Seq[String])]
    val passMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = Clock.nowMs()
    while (passMs.size < 2 || Clock.nowMs() < t0 + c.seconds * 1000.0) {
      val pass = passMs.size
      val p0 = Clock.nowMs()
      new scala.util.Random(c.seed * 1000 + pass).shuffle(Mix).foreach { case (module, name) =>
        r.attempted += 1
        try {
          val (rows, schema) = c.tracer.span(s"query:$module", pass)(runOnce(s, registry(name)))
          val canon = rows.map(_.toString).sorted.toSeq
          first.get(name) match {
            case None => first(name) = (rows, schema, canon)
            case Some((_, _, want)) =>
              r.check(canon == want, 1, s"$name: pass $pass returned other rows than pass 0")
          }
        } catch { case t: Throwable => r.fail(1, s"$name threw: $t") }
      }
      passMs += Clock.nowMs() - p0
    }
    val t1 = Clock.nowMs()
    r.e2e("latency_p50_ms") = (Stats.median(passMs.toSeq), "ms")
    r.e2e("latency_tail_ms") = (passMs.max, "ms")
    r.e2e("throughput_per_s") = (Mix.size * passMs.size / ((t1 - t0) / 1000.0), "1/s")
    r.note("mix_s", Stats.median(passMs.toSeq) / 1000.0)
    r.note("passes", passMs.size)
    r.info("pass_ms") = passMs.map(Json.num).mkString("[", ",", "]")
    r.note("entries", Mix.size)
    r.info("data_dir") = Json.str(dataDir)
    // oracle inputs: the first pass's rows of each entry
    first.foreach { case (name, (rows, schema, _)) =>
      val dir = s"${c.dir("results")}/$name"
      s.createDataFrame(rows.toList.asJava, schema).coalesce(1).write.parquet(dir)
      registry(name).oracle match {
        case Some(sql) => r.oracles += ((name, sql, dir, passMs.size.toLong))
        case None => r.fail(passMs.size, s"$name has no registered oracle")
      }
    }
    if (c.tracer.on) {
      val jobs = c.jobs.jobsIn(t0, t1)
      c.tracer.addJobs(jobs)
      val spans = c.tracer.spans.toIndexedSeq
      Mix.map(_._1).distinct.foreach { m =>
        val mine = spans.indices.filter(i => spans(i).name == s"query:$m").toSet
        r.layer(s"query.${m}_s") = (mine.toSeq.map(spans(_).ms).sum / passMs.size / 1000.0, "s")
        r.layer(s"query.${m}_jobs") =
          (spans.count(sp => sp.name == "job" && mine(sp.parent)).toDouble / passMs.size, "count")
      }
      r.layers(JobProbe.metrics(jobs, t0, t1, c.cores, passMs.size))
    }
  }
}

/** `ann_serving`: graft's serving-SLA probes over q144's persisted
  * IVF-PQ index, first with two concurrent clients, then with one. Each
  * request is one plan over the pinned code table. The probes return
  * latencies only, so the checks are: every request completes (a short
  * sample is failed requests, never a percentile), a request that
  * serves nothing or plans a file scan throws inside graft, and q144's
  * batch answer over the same index matches its DuckDB oracle. The
  * corpus, its trained index and that answer are built once per source
  * tree, and the answer is checked by the run that builds them. */
final class AnnServing extends Workload {
  override val setupReps = 5
  private val Q144 = "q144_ivfpq_serving_sla"
  private val N1 = 40 // one client: p75 is the highest percentile with ten beyond
  // concurrent clients: their driver threads share the host's cores with
  // Spark's task threads, so four would measure CPU contention
  private val Clients = 2
  private val NC = 40 // concurrent requests, 20 per client
  private var base: String = _
  private var indexLoadMs = Seq.empty[Double]
  private var builtHere = false
  private def q144 = Vectors.defs.find(_.name == Q144).get
  private def data = s"$base/data"
  private def index = s"$base/index"

  /** q144 trains and persists the index (tens of k-means jobs); the
    * corpus, the index and q144's answer are cached together, and the
    * index is put where graft's serving probes look for it. */
  override def prepare(c: Ctx): Unit = {
    val s = c.newSession()
    base = c.cached("ann") { dir =>
      val data = s"$dir/data"
      Gen.embeddings(s, 0L, 2000)
        .write.parquet(s"$data/embeddings.parquet")
      q144.run(s, data).coalesce(1).write.parquet(s"$dir/q144")
      val store = PerfbenchServing.storeDir(data)
      require(AnnIndexStore.committed(store), s"q144 left no committed index at $store")
      Ctx.copyTree(store, s"$dir/index")
      builtHere = true
    }
    PerfbenchServing.install(index, data)
  }

  /** A fresh session that loads the index as the probes do: manifest,
    * centroids, codebooks, pinned codes. */
  def setup(c: Ctx): Unit = {
    val s = c.newSession()
    val t0 = System.nanoTime()
    require(AnnIndexStore.loadManifest(index).kind == AnnIndexStore.KindIvfPq,
      s"unexpected index kind at $index")
    AnnIndexStore.loadCentroids(s, index)
    AnnIndexStore.loadBooks(s, index)
    AnnIndexStore.loadCodes(s, index).localCheckpoint(true)
    indexLoadMs :+= (System.nanoTime() - t0) / 1e6
  }

  /** Request latency keeps falling over the first few dozen requests
    * while the JIT compiles the serving path. */
  def warm(c: Ctx): Unit = PerfbenchServing.latenciesMs(c.spark, data, 12)

  /** Runs one probe of `n` requests; a probe that throws fails all of
    * them, a short sample fails the missing ones. */
  private def probe(r: Result, n: Int, what: String)(run: => Seq[Double]): Seq[Double] = {
    r.attempted += n
    try {
      val lat = run
      r.check(lat.size == n, n - lat.size, s"$what: ${lat.size} of $n requests completed")
      lat
    } catch { case t: Throwable => r.fail(n, s"$what threw: $t"); Nil }
  }

  def measure(c: Ctx, r: Result): Unit = {
    val s = c.spark
    // concurrent clients first: they finish warming the serving path,
    // whose single-client latency still falls over the first few dozen
    // requests
    val latC = probe(r, NC, s"$Clients clients")(
      PerfbenchServing.concurrentLatenciesMs(s, data, NC, Clients))
    val c1Start = Clock.nowMs()
    val lat1 = probe(r, N1, "1 client")(PerfbenchServing.latenciesMs(s, data, N1))
    val c1End = Clock.nowMs()
    // the answer is the cached one, so the DuckDB compare (8 s) runs
    // once, in the run that computed it
    if (builtHere) {
      r.attempted += 1
      r.oracles += ((Q144, q144.oracle.get, s"$base/q144", 1L))
    }
    r.info("data_dir") = Json.str(data)
    r.note("index_load_ms", Stats.median(indexLoadMs))
    if (lat1.isEmpty || latC.isEmpty) return
    // the highest percentile with ten samples beyond it (p95 from 200)
    val tailQ = math.min(0.95, 1.0 - 10.0 / N1)
    val p50 = Stats.median(lat1); val tail = Stats.quantile(lat1, tailQ)
    // closed-loop clients with no think time: throughput is clients /
    // latency (Little's law), with the median latency so that one
    // request stalled by the host does not move it
    val qps = Clients / (Stats.median(latC) / 1000.0)
    r.e2e("latency_p50_ms") = (p50, "ms")
    r.e2e("latency_tail_ms") = (tail, "ms")
    r.e2e("throughput_per_s") = (qps, "1/s")
    r.note("serve_p50_ms", p50)
    r.note(f"serve_p${tailQ * 100}%.0f_ms", tail)
    r.note(s"serve_c${Clients}_qps", qps)
    r.note("requests_c1", lat1.size)
    r.note(s"requests_c$Clients", latC.size)
    if (c.tracer.on) {
      // the one-client probe serves its requests back to back after its
      // load and warm-up, so they are laid out backwards from its end
      val tr = c.tracer
      val c1 = tr.add(Span("serve_c1", c1Start, c1End, -1, 0))
      val reqs = lat1.indices.reverse.scanLeft((c1End, -1)) { case ((end, _), i) =>
        val start = end - lat1(i)
        (start, tr.add(Span("request", start, end, c1, i)))
      }.tail.map(_._2).reverse
      val t0 = tr.spans(reqs.head).startMs
      val jobs = c.jobs.jobsIn(c1Start, c1End + 1)
      tr.addJobs(jobs)
      val spans = tr.spans.toIndexedSeq
      val self = tr.selfMs()
      val reqSet = reqs.toSet
      val jobMs = reqs.map(i => spans.filter(sp => sp.name == "job" && sp.parent == i)
        .map(_.ms).sum)
      r.layers(Seq(
        ("serve.index_load_ms", Stats.median(indexLoadMs), "ms"),
        ("serve.jobs_per_request",
          spans.count(sp => sp.name == "job" && reqSet(sp.parent)).toDouble / reqs.size, "count"),
        ("serve.job_ms_p50", Stats.median(jobMs), "ms"),
        ("serve.driver_ms_p50", Stats.median(reqs.map(self)), "ms")))
      r.layers(JobProbe.metrics(jobs.filter(_.startMs >= math.floor(t0)), t0, c1End,
        c.cores, N1))
    }
  }
}
