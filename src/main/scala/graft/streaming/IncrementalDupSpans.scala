package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.LlmText

/** Incremental substring-level dedup (the q112/q112b streaming twin):
  * docs arrive in micro-batches and the gram-occurrence state
  * accumulates; duplicate-SPAN statistics over everything seen so far
  * are computable at any point without re-gramming old documents.
  *
  * State (parquet under `statePath`, the q66/q88 foreachBatch-analog of
  * a state store):
  *  - `grams/` — one row per word-n-gram occurrence
  *    (doc_id, n, n_tokens, pos, h), the [[LlmText.dupSpanGrams]]
  *    relation, append-only.
  *
  * Multi-RESOLUTION state: `ns` admits several gram lengths and the
  * state is ONE (n, h)-keyed table — every resolution's grams come out
  * of the same tokenization pass and land in the same append (r9
  * consolidation: the previous one-state-per-n layout cost 3× the
  * state reads/writes and 3× the anti-join replay guards for identical
  * rows-modulo-n; `n` is a column, not a directory). The resolution
  * set is FIXED for the life of a state directory: the replay guard is
  * per doc_id (every committed doc has grams at every n by
  * construction), so CHANGING `ns` over existing state would silently
  * skip the new resolution for already-seen docs — [[processBatch]]
  * fails loudly instead (ADVICE r9): each non-empty batch over existing
  * state first checks the state's resolution set (one tiny distinct
  * over the `n` column of the FULL state, so a batch whose buckets hold
  * no committed rows still refuses); adding or removing a resolution
  * requires a state rebuild from the corpus.
  *
  * Unlike pair-based near-dup ([[IncrementalNearDup]]), there is no
  * candidate generation at all: a batch only TOKENIZES its own docs and
  * appends (linear in batch size, one write). The cross-document "is
  * this gram shared?" decision is deferred to [[spans]], where it is a
  * single windowed pass over the accumulated state keyed on (n, h) — a
  * gram of an old doc becomes duplicated the moment a later doc repeats
  * it, with no per-batch old-vs-new join. That ordering is what makes
  * the final emission arrival-order independent by construction: state
  * is a pure union of per-doc pure functions of text.
  *
  * Replay safety: appends are anti-joined on doc_id against the
  * committed state, so a foreachBatch retry is a no-op (the
  * [[IncrementalNearDup]] idempotence doctrine).
  *
  * RETRACTION ([[retractBatch]] — the [[IncrementalLineDedup]]
  * tombstone doctrine): a CDC DELETE appends one tombstone row and
  * does no other work; [[spans]] anti-joins the gram state against the
  * tombstones BEFORE the shared-gram judgment, so a span that was
  * duplicated only because of the deleted doc flips back to unique on
  * every surviving doc — exactly what batch q112/q112b over the
  * survivors computes. Tombstones win permanently (the insert guard
  * checks them); [[compact]] prunes the deleted grams physically,
  * retaining tombstones.
  */
final class IncrementalDupSpans(statePath: String, ns: Seq[Int],
    autoCompactFiles: Int = StateLayout.AutoCompactFiles)
    extends KeyedState(statePath, "doc_id", autoCompactFiles) {

  def this(statePath: String) = this(statePath, Seq(5))

  private val grams: StateTable = StateTable("grams", Seq("doc_id"),
    s => LlmText.dupSpanGrams(KeyedState.emptyDocs(s), ns: _*).schema,
    fresh => {
      requireResolutions(fresh.sparkSession)
      LlmText.dupSpanGrams(fresh, ns: _*)
    })
  protected val tables = Seq(grams)

  private def requireResolutions(spark: SparkSession): Unit =
    if (StateLayout.exists(spark, dir(grams.name))) {
      val stateNs = read(spark, grams)
        .select(col("n")).distinct().collect().map(_.getInt(0)).toSet
      require(stateNs.isEmpty || stateNs == ns.toSet,
        s"state at ${dir(grams.name)} was built for resolutions $stateNs but this " +
          s"instance runs ${ns.toSet}: changing the resolution set over " +
          "existing state requires a rebuild from the corpus")
    }

  /** foreachBatch hook: `batch` needs (doc_id, text). The replay guard
    * runs on doc rows before gramming, so a replayed doc skips
    * tokenization (r9: the gram-then-anti order shuffled the full gram
    * relation per wave). */
  def processBatch(batch: DataFrame, batchId: Long): Unit =
    ingest(batch.select(col("doc_id"), col("text")))

  /** Duplicate-span stats over every doc seen so far, one row per
    * affected (doc, n) — row-identical to batch q112/q112b on the same
    * corpus (the stream==batch hash-gate claim: same
    * [[LlmText.dupSpanStats]] stage, same state rows). Retraction: the
    * shared-gram judgment runs over SURVIVORS only, so a deleted doc's
    * grams stop making other docs' spans duplicated. */
  def spans(spark: SparkSession): DataFrame =
    LlmText.dupSpanStats(live(read(spark, grams)))
      .select(col("doc_id"), col("n"), col("n_spans"),
        col("dup_tokens"), col("n_tokens"))
}
