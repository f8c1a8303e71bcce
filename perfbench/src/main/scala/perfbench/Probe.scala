package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One Spark job with the task metrics summed over its stages. */
final case class JobRec(id: Int, startMs: Double, var endMs: Double = Double.NaN,
    var stages: Int = 0, var tasks: Long = 0, var runMs: Double = 0, var cpuMs: Double = 0,
    var gcMs: Double = 0, var shuffleWrite: Long = 0, var shuffleRead: Long = 0,
    var spill: Long = 0, var input: Long = 0, var output: Long = 0)

/** Records every Spark job of the session with its task metrics; the
  * `spark` layer as seen from outside. */
final class JobProbe(sc: SparkContext) extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = JobRec(e.jobId, e.time.toDouble, stages = e.stageIds.size)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuMs += m.executorCpuTime / 1e6
      j.gcMs += m.jvmGCTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.input += m.inputMetrics.bytesRead
      j.output += m.outputMetrics.bytesWritten
    }
  }

  /** Ended jobs that started inside [fromMs, toMs). */
  def jobsIn(fromMs: Double, toMs: Double): Seq[JobRec] = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    synchronized(jobs.values.filter(j => !j.endMs.isNaN &&
      j.startMs >= math.floor(fromMs) && j.startMs < toMs).map(_.copy()).toSeq)
  }
}

object JobProbe {
  /** Sum of the lengths of the union of `intervals`, clipped to [lo, hi). */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** The `spark.*` per-layer metrics of `jobs` over a window of `wallMs`
    * on `cores` slots, per run and per unit of work (`units` batches or
    * requests). */
  def metrics(jobs: Seq[JobRec], fromMs: Double, toMs: Double, cores: Int,
      units: Long): Seq[(String, Double, String)] = {
    val wall = toMs - fromMs
    val busy = covered(jobs.map(j => (j.startMs, j.endMs)), fromMs, toMs)
    val base = Seq(
      ("jobs", jobs.size.toDouble, "count"),
      ("stages", jobs.map(_.stages).sum.toDouble, "count"),
      ("tasks", jobs.map(_.tasks).sum.toDouble, "count"),
      ("job_ms", jobs.map(j => j.endMs - j.startMs).sum, "ms"),
      ("driver_gap_ms", wall - busy, "ms"),
      ("task_run_ms", jobs.map(_.runMs).sum, "ms"),
      ("task_cpu_ms", jobs.map(_.cpuMs).sum, "ms"),
      ("task_gc_ms", jobs.map(_.gcMs).sum, "ms"),
      ("shuffle_write_bytes", jobs.map(_.shuffleWrite).sum.toDouble, "bytes"),
      ("shuffle_read_bytes", jobs.map(_.shuffleRead).sum.toDouble, "bytes"),
      ("spill_bytes", jobs.map(_.spill).sum.toDouble, "bytes"),
      ("input_bytes", jobs.map(_.input).sum.toDouble, "bytes"),
      ("output_bytes", jobs.map(_.output).sum.toDouble, "bytes"))
    val ratio = ("slot_busy_ratio",
      if (wall > 0) jobs.map(_.runMs).sum / (wall * cores) else 0.0, "ratio")
    val n = math.max(units, 1L).toDouble
    (base :+ ratio).map { case (k, v, u) => (s"spark.$k", v, u) } ++
      base.map { case (k, v, u) => (s"spark.per_unit.$k", v / n, u) }
  }
}

/** Heap and GC of this JVM over a window: the `jvm` layer. */
final class JvmProbe {
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs = gcs.map(_.getCollectionTime).filter(_ >= 0).sum.toDouble
  private var gc0 = 0.0
  def start(): Unit = { pools.foreach(_.resetPeakUsage()); gc0 = gcMs }
  def metrics(): Seq[(String, Double, String)] = Seq(
    ("jvm.heap_peak_mb", pools.map(_.getPeakUsage.getUsed).sum / 1048576.0, "MB"),
    ("jvm.gc_ms", gcMs - gc0, "ms"))
}
