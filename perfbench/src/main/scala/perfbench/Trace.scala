package perfbench

import scala.collection.mutable

/** One timed interval: `parent` is the index of the enclosing span (-1
  * for a root), `unit` the batch id or request number it belongs to. */
final case class Span(name: String, startMs: Double, endMs: Double,
    parent: Int, unit: Long) {
  def ms: Double = endMs - startMs
}

/** In-memory span recorder. Spans are kept in memory and written when
  * the run ends; with tracing off, [[span]] only runs its body. */
final class Tracer(traced: Boolean) {
  /** Off until the timed part starts, so set-up records nothing. */
  @volatile var on = false
  def start(): Unit = on = traced

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  def add(s: Span): Int = synchronized { spans += s; spans.size - 1 }

  /** Times `body` as a span under the calling thread's open span, or
    * under `parent` when given. */
  def span[T](name: String, unit: Long, parent: Int = -2)(body: => T): T =
    if (!on) body
    else {
      val p = if (parent != -2) parent else stack.get.headOption.getOrElse(-1)
      val t0 = Clock.nowMs()
      val idx = add(Span(name, t0, Double.NaN, p, unit))
      stack.set(idx :: stack.get)
      try body
      finally {
        stack.set(stack.get.tail)
        synchronized(spans(idx) = spans(idx).copy(endMs = Clock.nowMs()))
      }
    }

  /** Re-parents the root spans named in `names` with unit `unit`. */
  def adopt(names: Set[String], unit: Long, parent: Int): Unit = synchronized {
    spans.indices.foreach { i =>
      val s = spans(i)
      if (s.parent == -1 && s.unit == unit && names(s.name)) spans(i) = s.copy(parent = parent)
    }
  }

  /** Attaches each job as a `job` span under the shortest span that
    * contains its start; Spark stamps job times in whole milliseconds. */
  def addJobs(jobs: Seq[JobRec]): Unit = if (on) {
    val snapshot = synchronized(spans.toIndexedSeq)
    jobs.foreach { j =>
      val host = snapshot.indices.filter { i =>
        val s = snapshot(i)
        s.name != "job" && s.startMs - 1 <= j.startMs && j.startMs <= s.endMs
      }
      val p = if (host.isEmpty) -1 else host.minBy(i => snapshot(i).ms)
      add(Span("job", j.startMs, j.endMs, p, if (p >= 0) snapshot(p).unit else -1))
    }
  }

  /** Span time minus the part of it its children cover, per span. */
  def selfMs(): IndexedSeq[Double] = {
    val all = synchronized(spans.toIndexedSeq)
    val kids = all.indices.groupBy(all(_).parent)
    all.indices.map { i =>
      val s = all(i)
      s.ms - JobProbe.covered(kids.getOrElse(i, Nil).map(k =>
        (all(k).startMs, all(k).endMs)), s.startMs, s.endMs)
    }
  }

  /** Summed self time per span name. */
  def selfByName(): Map[String, Double] = {
    val self = selfMs()
    val all = synchronized(spans.toIndexedSeq)
    all.indices.groupBy(all(_).name).map { case (n, is) => n -> is.map(self).sum }
  }

  /** Every span with its self time and the per-layer metric it feeds. */
  def json: String = {
    val self = selfMs()
    synchronized(spans.zip(self).map { case (s, own) =>
      f"""{"name":${Json.str(s.name)},"start":${s.startMs}%.3f,"end":${s.endMs}%.3f,""" +
        f""""self":$own%.3f,"parent":${s.parent},"unit":${s.unit},""" +
        s""""metric":${Json.str(SpanMetric.of(s.name))}}"""
    }.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** Which per-layer metric a span name feeds. */
object SpanMetric {
  /** Span name -> the metric that is its summed self time (ms). */
  val selfTimed: Seq[(String, String)] = Seq(
    "latestOffset" -> "cdc.source.latest_offset_ms",
    "getBatch" -> "cdc.source.get_batch_ms",
    "trigger" -> "stream.trigger_ms",
    "queryPlanning" -> "stream.query_planning_ms",
    "addBatch" -> "stream.add_batch_ms",
    "walCommit" -> "stream.wal_commit_ms",
    "commitOffsets" -> "stream.commit_offsets_ms",
    "project" -> "state.project_ms",
    "apply" -> "state.apply_ms",
    "retract" -> "state.retract_ms",
    "emit" -> "state.emit_ms")

  def of(span: String): String = selfTimed.toMap.getOrElse(span, span match {
    case "job" => "spark.job_ms"
    case "request" => "serve.driver_ms_p50 (median self time)"
    case q if q.startsWith("query:") => s"query.${q.stripPrefix("query:")}_s (span time per pass)"
    case _ => ""
  })
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
