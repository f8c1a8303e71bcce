package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution

/** Capture hook for CONSTITUENT stage plans of driver-composed entries
  * (ADVICE r9 / VERDICT r11 item 6): the registry-wide plan audit
  * inspects each entry's FINAL executedPlan, but a driver-composed
  * entry's final plan is a LocalRelation over collected leg rows
  * (q129/q130) or a scan of materialized state (the streaming twins) —
  * the interesting per-leg / per-batch plans never reach it.
  *
  * Composition sites call [[record]] on each stage DataFrame as they
  * build it. Disabled (the default — one volatile read per stage, no
  * planning cost), record is identity. Under [[capturing]] (test-only)
  * each recorded stage's executedPlan is rendered EAGERLY — the
  * DataFrame may be batch-scoped (a foreachBatch frame) or immediately
  * collected, so the string is taken while the frame is live — and the
  * audit spec asserts the same CartesianProduct/BNLJ rules over every
  * captured plan that the final-plan audit applies.
  *
  * Capture is process-wide, not thread-scoped, ON PURPOSE: composed
  * entries fan their legs out on Jobs.awaitAll threads and streaming
  * batches run on stream-execution threads — a ThreadLocal would
  * silently miss exactly the plans this hook exists to see.
  */
object StageAudit {
  @volatile private var enabled = false
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]

  /** Identity on `df`; under capture, also snapshots `label` → its
    * executed plan. Labels are `<entry-or-state>:<stage>` by
    * convention so the audit can map a plan back to its allowlist row. */
  def record(label: String, df: DataFrame): DataFrame = {
    if (enabled) buf.add(label -> df.queryExecution.executedPlan.toString)
    df
  }

  /** Under capture, snapshots `label` → the executed plan of an
    * execution that has already run (a streaming micro-batch's
    * `lastExecution`); a no-op otherwise, `qe` not even evaluated. A
    * null execution (no batch has run) records nothing. */
  def record(label: String, qe: => QueryExecution): Unit =
    if (enabled) Option(qe).foreach(e => buf.add(label -> e.executedPlan.toString))

  /** Run `body` with capture on; returns (body result, captured plans
    * in record order). Not reentrant — the audit spec is the only
    * intended caller. */
  def capturing[T](body: => T): (T, Seq[(String, String)]) = {
    buf.clear()
    enabled = true
    try {
      val r = body
      (r, { val it = buf.iterator(); val b = Seq.newBuilder[(String, String)]
            while (it.hasNext) b += it.next(); b.result() })
    } finally { enabled = false; buf.clear() }
  }
}
