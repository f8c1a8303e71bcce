package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload measures or checks in one run. End-to-end
  * metrics are printed by untraced runs, per-layer metrics by traced
  * ones; `info` holds context and the workload's own metric names. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String] // name -> JSON value
  val failures = mutable.ArrayBuffer.empty[String]
  /** (name, oracle SQL, result parquet dir, units it covers) for the
    * DuckDB comparisons made after the JVM exits. */
  val oracles = mutable.ArrayBuffer.empty[(String, String, String, Long)]
  var attempted = 0L
  var failed = 0L

  def fail(units: Long, why: String): Unit = { failed += units; failures += why }
  def check(ok: Boolean, units: Long, why: => String): Unit = if (!ok) fail(units, why)
  def layers(ms: Seq[(String, Double, String)]): Unit =
    ms.foreach { case (k, v, u) => layer(k) = (v, u) }
  def note(k: String, v: Double): Unit = info(k) = Json.num(v)
  def note(k: String, v: String): Unit = info(k) = Json.str(v)

  def json: String = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
        .mkString("{", ",", "}")
    val ors = oracles.map { case (n, sql, dir, units) =>
      s"""{"name":${Json.str(n)},"sql":${Json.str(sql)},"result":${Json.str(dir)},"units":$units}"""
    }.mkString("[", ",", "]")
    s"""{"attempted":$attempted,"failed":$failed,""" +
      s""""failures":${failures.map(Json.str).mkString("[", ",", "]")},""" +
      s""""e2e":${metrics(e2e)},"layer":${metrics(layer)},"oracles":$ors,""" +
      s""""info":${info.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")}}"""
  }
}

/** The run's session, seed, output directory and probes. A workload's
  * set-up may replace the session; the probes follow it. */
final class Ctx(val seed: Long, val seconds: Int, val cores: Int, val out: String,
    cache: String, val tracer: Tracer) {
  var spark: SparkSession = _
  var jobs: JobProbe = _
  val jvm = new JvmProbe

  /** Stops the current session, if any, and starts a fresh one. */
  def newSession(): SparkSession = {
    if (spark != null) spark.stop()
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/tmp")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    graft.operators.BucketedTables.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    jobs = new JobProbe(spark.sparkContext)
    spark
  }

  /** A fresh directory under the run's output directory. */
  def dir(name: String): String = {
    val p = Paths.get(out, name)
    Files.createDirectories(p)
    Files.createTempDirectory(p, "d").toString
  }

  /** A directory `build` fills once per cache root (one per source
    * tree): inputs that are the same for every seed and costly to make.
    * It is built under a temporary name and renamed into place, so a
    * directory that exists is complete. */
  def cached(name: String)(build: String => Unit): String = {
    val dir = Paths.get(cache, name)
    if (!Files.exists(dir)) {
      Files.createDirectories(dir.getParent)
      val tmp = Files.createTempDirectory(dir.getParent, s".$name-")
      build(tmp.toString)
      try Files.move(tmp, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException => () } // another run won
    }
    dir.toString
  }

}

/** A workload runs `prepare` once, `setup` `setupReps` times (timed:
  * `setup_s` is the median), `warm` once, then `measure`. */
trait Workload {
  /** Odd, so the median is one set-up; the first one pays JVM start. */
  val setupReps: Int = 3
  /** Inputs too costly to make per set-up (the trained ANN index). */
  def prepare(c: Ctx): Unit = ()
  /** One set-up: a fresh session, the run's inputs, the index load. */
  def setup(c: Ctx): Unit
  /** A pass through the measured path, so JIT and caches are warm. */
  def warm(c: Ctx): Unit
  /** The timed part, with its checks. */
  def measure(c: Ctx, r: Result): Unit
}

/** Runs one workload: `--workload W --seed N --seconds S --trace 0|1
  * --out DIR`. Writes DIR/result.json (and DIR/spans.json when traced);
  * the exit code is 0 whenever the result file was written. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val c = new Ctx(a("seed").toLong, a("seconds").toInt,
      Runtime.getRuntime.availableProcessors(),
      a("out"), a("cache"), new Tracer(a("trace") == "1"))
    val w: Workload = workload match {
      case "cdc_upsert" => new CdcUpsert
      case "cdc_neardup" => new CdcNeardup
      case "analytics_mix" => new AnalyticsMix
      case "ann_serving" => new AnnServing
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val r = new Result
    try {
      w.prepare(c)
      val setups = (1 to w.setupReps).map { i =>
        val t0 = System.nanoTime(); w.setup(c)
        val s = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[perfbench] set-up $i took $s%.2f s")
        s
      }
      r.e2e("setup_s") = (Stats.median(setups), "s")
      r.info("setup_runs_s") = setups.map(Json.num).mkString("[", ",", "]")
      w.warm(c)
      c.jvm.start()
      c.tracer.start()
      w.measure(c, r)
      if (c.tracer.on) r.layers(c.jvm.metrics())
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        r.attempted = math.max(r.attempted, 1)
        r.fail(math.max(1, r.attempted - r.failed), s"run threw: $t")
    } finally if (c.spark != null) c.spark.stop()
    if (c.tracer.on) write(s"${c.out}/spans.json", c.tracer.json)
    write(s"${c.out}/result.json", r.json)
  }

  private def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(UTF_8))
}

object Ctx {
  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val st = Files.walk(src)
    try st.forEach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally st.close()
  }
}

object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
