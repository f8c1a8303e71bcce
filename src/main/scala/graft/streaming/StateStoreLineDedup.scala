package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.queries.LlmText
import graft.streaming.StateStoreWaves.StateShape

/** The current keep-first owner of one distinct line (= 10-token
  * chunk): the minimum (doc_id, ck) seen so far. */
final case class LineOwnerState(doc_id: Long, ck: Int)

/** An ownership-change event emitted by the state function — the first
  * arrival of a line, or a later-arriving smaller (doc_id, ck) taking
  * ownership away. Ownership only ever DECREASES, so the final owner
  * per chunk is the min over emitted events (order-free). */
final case class LineOwnerEvent(chunk: String, doc_id: Long, ck: Int)

/** q119 line dedup with the line→owner index in a REAL Spark state
  * store (`flatMapGroupsWithState` on the RocksDB provider) — the
  * bounded-state twin of [[IncrementalLineDedup]]'s parquet-dir
  * doctrine, pinned to the SAME batch q119 oracle.
  *
  * Division of labor (the 100 TB shape the design notes promise): the
  * state store holds ONLY the per-distinct-line owner — a fixed-size
  * (doc_id, ck) value per line key, RocksDB-backed so it spills past
  * memory and snapshots into the checkpoint — while the corpus text
  * stays in the lake (the batch `documents` relation). Per-batch work
  * is exactly the batch's chunks: Spark shuffles them onto the state
  * partitions (hash of the chunk key, horizontally partitionable) and
  * the state function folds a min per touched key. Nothing re-reads
  * accumulated state; untouched keys cost nothing. Contrast with the
  * parquet-dir states, whose replay guards and emissions scan (pruned)
  * state files — this is the shape with per-key point access.
  *
  * Emission: keep iff (doc_id, ck) equals the line's final owner —
  * computed by joining the lake-resident chunk relation with the owner
  * relation folded from the emitted ownership-change stream; the
  * retroactive flip (a later smaller doc_id stealing a line) falls out
  * because the steal emits a new event that wins the min. The keep
  * decision is therefore load-bearing on the state path end to end.
  *
  * State never expires by design — the line index IS the long-lived
  * state (same contract as the parquet-dir twin); a deployment bounds
  * it with the store's own levers (RocksDB compaction, changelog
  * checkpointing) rather than a TTL that would forget owners.
  */
object StateStoreLineDedup {

  /** Fold of the state function: min (doc_id, ck) over arrivals ∪
    * current state; emit an event iff the owner changed. */
  private def updateOwner(chunk: String,
      it: Iterator[(String, Long, Int)],
      state: GroupState[LineOwnerState]): Iterator[LineOwnerEvent] = {
    var best = state.getOption
    var changed = false
    it.foreach { case (_, d, c) =>
      if (best.forall(b => d < b.doc_id || (d == b.doc_id && c < b.ck))) {
        best = Some(LineOwnerState(d, c)); changed = true
      }
    }
    if (changed) {
      val b = best.get
      state.update(b)
      Iterator.single(LineOwnerEvent(chunk, b.doc_id, b.ck))
    } else Iterator.empty
  }

  /** The stateful owner plan over a STREAMING (doc_id, ck, chunk)
    * relation — the single flatMapGroupsWithState hop shared by the
    * wave runner ([[runWaves]]) and the continuous CDC wire pipeline
    * (qc9). The group-by key is the chunk text; Spark's
    * one shuffle here lands each occurrence on its state partition. */
  def ownerEvents(chunks: DataFrame): DataFrame =
    chunks
      .select(col("chunk").as("_1"), col("doc_id").as("_2"), col("ck").as("_3"))
      .as[(String, Long, Int)](Encoders.tuple(
        Encoders.STRING, Encoders.scalaLong, Encoders.scalaInt))
      .groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[LineOwnerState, LineOwnerEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(updateOwner)(
        Encoders.product[LineOwnerState], Encoders.product[LineOwnerEvent])
      .toDF()

  /** Stream `waves` of (doc_id, text) through the state function under
    * [[StateStoreWaves]]' wave/restart contract and return (final owner
    * relation, state shape: rows = distinct lines, bytes ≈ fixed per
    * line); retroactive ownership steals cross real batch boundaries. */
  def runWaves(spark: SparkSession, waves: Seq[DataFrame],
      restartAfterWave: Option[Int] = None): (DataFrame, StateShape) = {
    val (events, shape) = StateStoreWaves.run(spark, "q119f", waves,
      restartAfterWave)(docs => ownerEvents(LlmText.lineChunks(docs)))
    (foldOwners(events).localCheckpoint(true), shape)
  }

  /** Fold the owner-event stream to the final owner per chunk: owner
    * events only ever decrease per chunk, so the min is the final one. */
  def foldOwners(events: DataFrame): DataFrame =
    events
      .groupBy(col("chunk"))
      .agg(min(struct(col("doc_id"), col("ck"))).as("owner"))
      .select(col("chunk"), col("owner.doc_id").as("o_doc"),
        col("owner.ck").as("o_ck"))

  /** The q119 output (doc_id, orig_chunks, kept_chunks, new_text) with
    * the keep decision taken from the state-store owners: keep iff this
    * occurrence IS the owner. Single-occurrence lines own themselves
    * (their first arrival emitted an event), so no cnt==1 special case
    * is needed — every chunk joins to exactly one owner row. */
  def lineDedupViaOwners(chunks: DataFrame, owners: DataFrame): DataFrame =
    LlmText.chunkReassembly(
      chunks.join(owners, Seq("chunk"))
        .withColumn("keep",
          col("doc_id") === col("o_doc") && col("ck") === col("o_ck")))

  // ---- DELETE retraction on the state store (q119g — the r11 close
  // answer to "retraction stays with the parquet twins"): the state
  // value grows from the single min owner to the chunk's full claimant
  // set plus its tombstone set, so a DELETE can RE-ELECT the next-best
  // claimant — something a min-only state cannot express. Ownership is
  // no longer monotone (a delete RAISES the owner), so events carry a
  // per-key VERSION from the state function and the consumer folds
  // argmax-version instead of min (the min fold would resurrect deleted
  // owners — spec-pinned). Tombstones win permanently: an insert of an
  // already-tombstoned doc is ignored even in the same batch
  // (re-insertion is a new doc_id — the parquet twins' contract).
  // Claimant sets are bounded by line frequency (sf1 max 28; the q119b
  // salt hatch is the documented escape for pathological lines). ----

  /** Full per-chunk state: surviving claimants, tombstoned docs, and
    * the change version. */
  final case class LineClaimState(docs: Seq[Long], cks: Seq[Int],
      dead: Seq[Long], ver: Int)

  /** Versioned ownership event: the owner AFTER change `ver`;
    * `present = false` records that no claimant survives. */
  final case class OwnerVerEvent(chunk: String, doc_id: Long, ck: Int,
      ver: Int, present: Boolean)

  private def updateClaimants(chunk: String,
      it: Iterator[(String, String, Long, Int)],
      state: GroupState[LineClaimState]): Iterator[OwnerVerEvent] = {
    val st = state.getOption.getOrElse(LineClaimState(Nil, Nil, Nil, 0))
    val rows = it.toSeq
    // tombstones win within the batch too: collect deletes FIRST
    val dead = st.dead.toSet ++ rows.collect { case (_, "delete", d, _) => d }
    val kept = st.docs.zip(st.cks).filterNot { case (d, _) => dead(d) }
    val have = kept.map(_._1).toSet
    // one claimant entry per doc at its MIN ck — a doc's occurrences of
    // one chunk all arrive in its single insert event, and keep-first
    // ranks by (doc_id, ck), so only the doc's first occurrence can own
    val ins = rows.collect {
      case (_, "insert", d, c) if !dead(d) && !have(d) => (d, c)
    }.groupBy(_._1).map { case (d, xs) => (d, xs.map(_._2).min) }
      .toSeq.sorted
    val next = kept ++ ins
    val oldOwner = st.docs.zip(st.cks).sorted.headOption
    val newOwner = next.sorted.headOption
    val changed = state.getOption.isEmpty || oldOwner != newOwner
    if (next == st.docs.zip(st.cks) && dead == st.dead.toSet && !changed)
      Iterator.empty
    else {
      val ver = st.ver + (if (changed) 1 else 0)
      state.update(LineClaimState(next.map(_._1), next.map(_._2),
        dead.toSeq.sorted, ver))
      if (!changed) Iterator.empty
      else newOwner match {
        case Some((d, c)) => Iterator.single(OwnerVerEvent(chunk, d, c, ver, true))
        case None => Iterator.single(OwnerVerEvent(chunk, -1L, -1, ver, false))
      }
    }
  }

  /** The stateful versioned-owner plan over a STREAMING (op, doc_id,
    * ck, chunk) relation — insert and delete chunk occurrences on one
    * key. */
  def opOwnerEvents(chunkOps: DataFrame): DataFrame =
    chunkOps
      .select(col("chunk").as("_1"), col("op").as("_2"),
        col("doc_id").as("_3"), col("ck").as("_4"))
      .as[(String, String, Long, Int)](Encoders.tuple(Encoders.STRING,
        Encoders.STRING, Encoders.scalaLong, Encoders.scalaInt))
      .groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[LineClaimState, OwnerVerEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(updateClaimants)(
        Encoders.product[LineClaimState], Encoders.product[OwnerVerEvent])
      .toDF()

  /** Fold the versioned event stream to the final owner per chunk:
    * the event with the HIGHEST version wins (ownership is not
    * monotone under deletes), chunks whose last event is a clear
    * (`present = false`) drop out. */
  def foldVersionedOwners(events: DataFrame): DataFrame =
    events
      .groupBy(col("chunk"))
      .agg(max(struct(col("ver"), col("doc_id"), col("ck"),
        col("present"))).as("w"))
      .where(col("w.present"))
      .select(col("chunk"), col("w.doc_id").as("o_doc"),
        col("w.ck").as("o_ck"))

  /** Stream `waves` of (op, doc_id, text) rows through the claimant
    * state; same contract as [[runWaves]]. */
  def runOpWaves(spark: SparkSession, waves: Seq[DataFrame],
      restartAfterWave: Option[Int] = None): (DataFrame, StateShape) = {
    val (events, shape) = StateStoreWaves.run(spark, "q119g", waves,
      restartAfterWave)(docs => opOwnerEvents(
        LlmText.lineChunksKeeping(docs, Seq("op"))))
    (foldVersionedOwners(events).localCheckpoint(true), shape)
  }
}
