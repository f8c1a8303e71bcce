package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.LlmText

/** Incremental duplicate-line removal (the q119 streaming twin, built
  * exactly like [[IncrementalDupSpans]]): docs arrive in micro-batches
  * and the chunk-occurrence state accumulates; the keep-first decision
  * and document reconstruction over everything seen so far are
  * computable at any point without re-chunking old documents.
  *
  * State (parquet under `statePath`):
  *  - `chunks/` — one row per 10-token line occurrence
  *    (doc_id, ck, chunk), the [[LlmText.lineChunks]] relation,
  *    append-only, bucket-partitioned on doc_id ([[StateLayout]]) so
  *    the per-batch replay guard prunes to the batch's buckets;
  *  - `tombstones/` — one row per RETRACTED doc_id (CDC DELETE
  *    semantics, VERDICT r9 item 1), append-only.
  *
  * Per-batch work is chunk-and-APPEND only — no cross-doc work at all.
  * The corpus-wide "is this line a repeat?" judgment is deferred to
  * [[lines]], one window pass over the accumulated state. Because
  * keep-first ranks by (doc_id, ck) — not arrival order — a LATER
  * batch delivering an earlier doc id retroactively takes ownership of
  * a line and flips the previous owner's copy to dropped: emission is
  * arrival-order independent by construction, which is what lets the
  * twin share batch q119's DuckDB oracle verbatim.
  *
  * RETRACTION ([[retractBatch]]) follows the same deferred-judgment
  * doctrine: a DELETE appends a tombstone row and does NO other work.
  * [[lines]] anti-joins the chunk state against the tombstones before
  * the keep-first window, so a deleted doc's lines are re-owned by the
  * surviving earliest (doc_id, ck) claimant AUTOMATICALLY — exactly
  * what batch q119 over the surviving docs computes. The alternative
  * (eagerly re-assigning ownership at delete time) would need a
  * per-delete join against the full chunk state; deferring makes a
  * delete O(1) and keeps emission arrival-order independent: the
  * emitted relation is a pure function of (inserted docs) − (deleted
  * doc ids), whatever order the events arrived in.
  *
  * Tombstones WIN and are permanent: a doc_id, once retracted, never
  * re-enters the corpus — the insert replay guard checks tombstones
  * too, so a replayed (or late re-delivered) insert of a deleted doc
  * appends nothing. A genuine re-insertion is a NEW document and gets
  * a new doc_id (a CDC UPDATE on a documents table is modeled as
  * delete(old id)+insert(new version id) upstream; in-place versioned
  * re-use of doc ids would need per-event sequence numbers in the
  * state and is out of scope — documented, not hidden).
  *
  * Replay safety, tombstones and compaction are [[KeyedState]]'s: chunk
  * appends are anti-joined on doc_id against committed chunks ∪
  * tombstones, tombstone appends against committed tombstones — a
  * foreachBatch retry is a no-op for both.
  */
final class IncrementalLineDedup(statePath: String,
    autoCompactFiles: Int = StateLayout.AutoCompactFiles)
    extends KeyedState(statePath, "doc_id", autoCompactFiles) {

  private val chunks = StateTable("chunks", Seq("doc_id"),
    s => LlmText.lineChunks(KeyedState.emptyDocs(s)).schema, LlmText.lineChunks)
  protected val tables = Seq(chunks)

  /** foreachBatch hook: `batch` needs (doc_id, text). Per-batch work is
    * chunk-and-append; a replayed doc skips chunking (the guard runs
    * on doc rows, before the chunk explode). */
  def processBatch(batch: DataFrame, batchId: Long): Unit =
    ingest(batch.select(col("doc_id"), col("text")))

  /** Line-dedup stats + reconstruction over every doc seen so far,
    * MINUS retracted docs — row-identical to batch q119 on the
    * surviving corpus: the keep-first window runs on the tombstone-
    * filtered chunk relation, so a deleted owner's line is re-owned by
    * the earliest surviving claimant. */
  def lines(spark: SparkSession): DataFrame =
    LlmText.lineDedupStats(chunksLive(spark))
      .select(col("doc_id"), col("orig_chunks"), col("kept_chunks"), col("new_text"))

  /** The tombstone-filtered chunk relation itself — the composition
    * point for consumers that run the keep-first window over a
    * RESTRICTED doc set (qc21's curation view computes duplicate-line
    * pressure over the post-quality-gate/post-collapse SURVIVOR corpus,
    * so the window must see only survivor chunks; the chunking work
    * itself was already paid per-batch at ingest). */
  def chunksLive(spark: SparkSession): DataFrame =
    live(read(spark, chunks))
}
