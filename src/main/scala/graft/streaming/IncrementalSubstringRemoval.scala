package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.LlmText

/** Incremental exact-substring removal (the q126 streaming twin, built
  * exactly like [[IncrementalLineDedup]]): docs arrive in micro-batches
  * and the sliding-gram occurrence state accumulates; the keep-first
  * judgment, removal and reconstruction over everything seen so far are
  * computable at any point without re-gramming old documents.
  *
  * State (parquet under `statePath`):
  *  - `grams/` — one row per sliding 10-gram occurrence (doc_id, pos,
  *    h), the [[LlmText.removalGrams]] relation, append-only;
  *  - `docs/` — (doc_id, text), append-only: reconstruction needs the
  *    token stream of any doc that LATER becomes affected, so the
  *    corpus rides along (at cluster scale this is the corpus table
  *    itself — emission reads it, the state dir only exists because the
  *    fixture has no external corpus store).
  *
  * Per-batch work is gram-and-APPEND only — no cross-doc work at all.
  * The corpus-wide "did this gram occur earlier?" judgment is deferred
  * to [[removals]], one window pass over the accumulated grams. Because
  * keep-first ranks by (doc_id, pos) — not arrival order — a LATER
  * batch delivering a smaller doc id retroactively takes gram ownership
  * and flips tokens of an already-ingested doc to removed: emission is
  * arrival-order independent by construction, which is what lets the
  * twin share batch q126's DuckDB oracle verbatim.
  *
  * Replay safety: each directory's append is anti-joined on doc_id
  * against THAT directory's committed state ([[KeyedState]]'s rule:
  * per-dir guards, never one guard for two dirs). A failure
  * between the docs append and the grams append leaves the doc present
  * in `docs/` but absent from `grams/`; the retry's docs append is a
  * no-op but its grams append still fires, because the grams guard
  * reads `grams/` — not `docs/` — so the doc's grams are recovered
  * rather than permanently lost.
  */
final class IncrementalSubstringRemoval(statePath: String, n: Int = 10,
    autoCompactFiles: Int = StateLayout.AutoCompactFiles)
    extends KeyedState(statePath, "doc_id", autoCompactFiles) {

  private val docs = StateTable("docs", Seq("doc_id"),
    s => KeyedState.emptyDocs(s).schema)
  private val grams = StateTable("grams", Seq("doc_id"),
    s => LlmText.removalGrams(KeyedState.emptyDocs(s), n).schema,
    LlmText.removalGrams(_, n))
  protected val tables = Seq(docs, grams)

  /** foreachBatch hook: `batch` needs (doc_id, text). */
  def processBatch(batch: DataFrame, batchId: Long): Unit =
    ingest(batch.select(col("doc_id"), col("text")))

  /** Removal + reconstruction over every doc seen so far —
    * row-identical to batch q126 on the same corpus. Retraction: both
    * relations are restricted to survivors BEFORE the keep-first
    * judgment — a deleted doc neither appears in the output nor keeps
    * removing tokens from surviving docs. */
  def removals(spark: SparkSession): DataFrame =
    LlmText.substringRemovalStats(live(read(spark, grams)), live(read(spark, docs)), n)
}
