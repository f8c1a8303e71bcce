package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.operators.KMeansLloyd

/** Incremental (streaming) IVF index maintenance: the production shape
  * where new embeddings arrive continuously (e.g. from the CDC source)
  * and are folded into an EXISTING inverted-file ANN index instead of
  * retraining it from scratch — a 100 TB pipeline never rebuilds its
  * index per arrival; it assigns new vectors against the serving
  * centroids and retrains only at an explicit boundary. The same
  * doctrine as [[IncrementalNearDup]] (q66), applied to ANN (q73).
  *
  * The serving centroids are the ASSIGN-time centroids of the base
  * training run ([[KMeansLloyd.runTracked]]'s middle result) — the ones
  * the base membership was actually scored against — so base members
  * and streamed arrivals live in one consistent coordinate system: the
  * accumulated index after N batches equals a single batch assignment
  * of all arrivals (`IncrementalIvfSpec` pins this, and q88 holds the
  * composed index to the DuckDB hash gate).
  *
  * State, materialized as parquet under `statePath` (the foreachBatch
  * analog of a state store — append-only, survives restarts):
  *  - `members/` — (vec_id, cell): the streamed part of the inverted
  *    file. The base membership stays wherever the index build wrote it;
  *    a probe reads both sides union'd.
  *
  * Per micro-batch: quantize (the q68 doctrine — micro-unit longs, so
  * assignment is a pure integer function of the data), assign MAP-ONLY
  * (centroids ride as plan literals — no join, no shuffle; the q73
  * recipe), anti-join against existing state so a replayed micro-batch
  * (foreachBatch retry) is a no-op ([[KeyedState]]), append. Per-batch
  * cost is one linear
  * pass over the batch — nothing touches the accumulated members except
  * the replay guard's id anti-join.
  *
  * Retrain boundary: [[retrainDue]] — streamed growth beyond a fixed
  * fraction of the base size means the centroids no longer describe the
  * corpus (drift) and the next index generation should be trained. The
  * check is pure integer arithmetic on two counts; acting on it (train,
  * swap, re-assign) is the index build the consumer already owns —
  * deliberately OUT of the per-batch path, a boundary event.
  *
  * RETRACTION ([[retractBatch]], VERDICT r9 item 4 — the
  * [[IncrementalLineDedup]] tombstone doctrine): a CDC DELETE of a
  * streamed vector appends one tombstone row; [[members]] anti-joins
  * the tombstones, so a probe never visits a deleted vector's code and
  * [[retrainDue]] counts only survivors. Tombstones win permanently (a
  * replayed insert of a deleted vec_id appends nothing); [[compact]]
  * drops the codes physically, retaining the tombstones — the "remove
  * its codes at the next boundary" rule, with logical removal
  * immediate. Deleting BASE vectors is the index REBUILD case (the
  * centroids were trained on them) and stays the consumer's retrain
  * concern, exactly like base-side inserts.
  */
final class IncrementalIvf(statePath: String, cents: Seq[KMeansLloyd.Centroid],
    autoCompactFiles: Int = StateLayout.AutoCompactFiles)
    extends KeyedState(statePath, "vec_id", autoCompactFiles) {

  private val memberTable = StateTable("members", Seq("vec_id"),
    _ => StructType(Seq(StructField("vec_id", LongType), StructField("cell", IntegerType))),
    KMeansLloyd.assign(_, cents).select(col("vec_id"), col("cell")))
  protected val tables = Seq(memberTable)

  /** foreachBatch hook: `batch` needs (vec_id, embedding: array<numeric>). */
  def processBatch(batch: DataFrame, batchId: Long): Unit =
    ingest(batch.select(col("vec_id"), KMeansLloyd.quantize(col("embedding")).as("xi")))

  /** Accumulated streamed index members (vec_id, cell), minus
    * retracted vectors — the probe view a search reads. */
  def members(spark: SparkSession): DataFrame =
    live(read(spark, memberTable))

  /** Retrain boundary: true once the streamed membership exceeds
    * `num/den` of the base corpus the centroids were trained on
    * (default 1/4 — the classic "index grew 25% since training" rule).
    * Pure integer comparison; the caller owns the actual retrain. */
  def retrainDue(spark: SparkSession, baseCount: Long,
      num: Long = 1L, den: Long = 4L): Boolean =
    members(spark).count() * den > baseCount * num
}
