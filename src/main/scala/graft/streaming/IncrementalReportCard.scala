package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.LlmText

/** Incremental corpus report card (the q133 streaming twin, built
  * exactly like [[IncrementalLineDedup]]): docs arrive in micro-batches
  * and the doc-state accumulates; the (source × lang) crosstab — docs,
  * tokens, mean quality, exact-duplicate pressure — over everything
  * seen so far is computable at any point.
  *
  * State (parquet under `statePath`): `docs/` — one row per document
  * (doc_id, text, source, lang), append-only. The dup-pressure column
  * is why the raw text rides along: a doc becomes a duplicate
  * RETROACTIVELY the moment a later doc repeats its text, so the
  * corpus-wide text window must see every doc — per-batch work is
  * decode-and-append only, and the crosstab is one
  * [[LlmText.reportCardOf]] pass at emission (at cluster scale this
  * state is the corpus table itself; the dir exists because the
  * fixture has no external store).
  *
  * Replay safety: the append is anti-joined on doc_id against the
  * committed state, so a foreachBatch retry is a no-op (the
  * [[KeyedState]] idempotence doctrine). Emission is
  * arrival-order independent by construction: state is a pure set
  * union and every reported statistic is computed from the full set.
  */
final class IncrementalReportCard(statePath: String,
    autoCompactFiles: Int = StateLayout.AutoCompactFiles)
    extends KeyedState(statePath, "doc_id", autoCompactFiles) {

  private val docs = StateTable("docs", Seq("doc_id"),
    s => s.createDataFrame(Seq.empty[(Long, String, String, String)])
      .toDF("doc_id", "text", "source", "lang").schema)
  protected val tables = Seq(docs)

  /** foreachBatch hook: `batch` needs (doc_id, text, source, lang). */
  def processBatch(batch: DataFrame, batchId: Long): Unit =
    ingest(batch.select(col("doc_id"), col("text"), col("source"), col("lang")))

  /** The (source × lang) crosstab over every doc seen so far —
    * row-identical to batch q133 on the same corpus. Retraction: every
    * statistic (incl. the dup-pressure window) re-computes over the
    * surviving docs only, so a doc whose only duplicate partner is
    * deleted flips back to non-dup. */
  def reportCard(spark: SparkSession): DataFrame =
    LlmText.reportCardOf(live(read(spark, docs)))
}
