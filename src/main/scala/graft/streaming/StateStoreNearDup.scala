package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.queries.LlmText
import graft.streaming.StateStoreWaves.StateShape

/** The membership of one LSH band bucket — the value side of the
  * state-store index. `poisoned = true` marks a bucket that crossed the
  * hot cap: its `docs` list is EMPTY forever after (the membership moved
  * into the event ledger at poisoning time), so an over-cap bucket's
  * state is O(1) no matter how many more docs hash into it. */
final case class BucketMembers(docs: Seq[Long], poisoned: Boolean)

/** One event of the near-dup index stream. `kind` selects the shape:
  *
  *  - [[StateStoreNearDup.KindPair]] — a candidate pair (doc_a < doc_b)
  *    discovered in bucket (band, bkey) while it was under the cap;
  *  - [[StateStoreNearDup.KindPoison]] — bucket (band, bkey) crossed the
  *    hot cap (doc_a = doc_b = -1); emitted exactly once per bucket;
  *  - [[StateStoreNearDup.KindMember]] — the hot-bucket LEDGER: doc_a is
  *    a member of the poisoned bucket (doc_b = -1) — every member at
  *    poisoning time plus every later arrival, so the ledger carries the
  *    bucket's FULL membership even though the store forgot it;
  *  - [[StateStoreNearDup.KindTomb]] — op-stream form only: doc_a was
  *    DELETEd (doc_b = -1; one event per bucket the doc's bands land in,
  *    folded by the consumer's distinct).
  *
  * Pair events carry their bucket so the fold can drop the ones whose
  * bucket later went hot (matching the batch chain's drop-wholesale cap
  * semantics, which are a function of the FINAL corpus, not of arrival
  * order) and the recovery join can re-derive them from the ledger. */
final case class NearDupIdxEvent(band: Int, bkey: Long,
    doc_a: Long, doc_b: Long, kind: Int)

/** The banded-LSH candidate index on a REAL Spark state store (the
  * q119f doctrine applied to the flagship near-dup state): the (band,
  * bucket) → member-list index lives in RocksDB via
  * `flatMapGroupsWithState` instead of the parquet `bands/` dir of
  * [[IncrementalNearDup]], pinned to the SAME dedup-groups oracle as
  * batch q57 / streaming q66.
  *
  * BANDING IS A PARAMETER (VERDICT r11 item 1): the state key is
  * (band, bucket) where bucket = Spark's `xxhash64` over the band's
  * `bandR` consecutive minhash components ([[flatBands]] declaratively,
  * [[graft.functions.MinHashBands]] per-row on the continuous wire
  * plan) — hashing the key tuple to ONE long makes the key shape
  * design-independent, so the SAME store plumbing runs (8, 2), the
  * re-banded (4, 4), and the widened 32-component (8, 4) designs the
  * parquet twin migrates between (q66h/q66i). A 64-bit bucket
  * collision merges two buckets; the only effects are a spurious
  * candidate pair (killed by the downstream exact verify — results
  * unchanged) and the merged membership counting jointly toward the
  * hot cap (~2⁻⁶⁴ per bucket pair — documented, not load-bearing).
  * The store itself cannot migrate IN PLACE — bucket ids are opaque
  * hashes, so there is nothing to re-band from — which is exactly why
  * the production design-change move on this path is a REBUILD from
  * the lake replica through a fresh checkpoint (qc14), not an in-place
  * rewrite like the parquet twin's q66h/q66i.
  *
  * Division of labor (the 100 TB shape): the store holds ONLY the
  * bucket membership — doc_ids per band bucket, RocksDB-backed so it
  * spills past memory and snapshots into the checkpoint — while the
  * shingle sets used for exact verification stay in the lake (the
  * session-cached `nearDupState` relation). Per-batch work is exactly
  * the batch's band rows: Spark shuffles them onto the state partitions
  * (hash of the bucket key) and the state function emits candidates
  * with POINT ACCESS per touched bucket — no committed-index scan, no
  * semi-join restriction step, nothing proportional to accumulated
  * state. This is the end state the parquet twin approximates in two
  * moves (broadcast semi-join to touched buckets + bucket-partitioned
  * file pruning); here the store's own hash partitioning IS the prune.
  *
  * ==Hot buckets: poison + ledger (VERDICT r12 item 1)==
  *
  * A bucket whose membership would exceed the hot cap is POISONED
  * instead of silently capped (the r12 design accrued membership
  * forever and permanently dropped the pairs suppressed while hot —
  * the one documented exactness hole at production scale). Poisoning
  * does three things in the batch where the cap is crossed:
  *
  *  1. emits one [[NearDupIdxEvent]] of kind [[KindPoison]] — the
  *     poisoned-bucket LEDGER head;
  *  2. emits the bucket's ENTIRE current membership (old state + this
  *     batch's arrivals — bounded by cap + batch size) as
  *     [[KindMember]] ledger events, then CLEARS the stored member
  *     list: the over-cap bucket's state is a constant-size marker
  *     from then on, however hot the key runs (a boilerplate-hot
  *     bucket no longer grows state without bound);
  *  3. every LATER arrival into the poisoned bucket emits one
  *     [[KindMember]] event and leaves the state untouched — the
  *     ledger, not the store, carries hot-bucket membership, and it
  *     lives in the event sink (the lake) where capacity is cheap and
  *     append-only writes are the natural shape.
  *
  * The consumer fold ([[foldCandEvents]] / [[foldOpEvents]]) then has
  * BOTH cap semantics available, arrival-order independent:
  *
  *  - without recovery, dropping pair events whose bucket was poisoned
  *    reproduces the batch chain's drop-wholesale semantics exactly
  *    (a bucket's final size decides, not the order its members came
  *    in) — this is what the continuous pipeline serves;
  *  - with recovery ([[recoverPoisonedPairs]]), the ledger's all-pairs
  *    within each poisoned bucket restores the UNCAPPED exact
  *    candidate set — pairs suppressed while hot are recovered, closing
  *    the r12 caveat. Recovery is quadratic in hot-bucket membership
  *    BY NATURE (those pairs exist); it is the batch-mode maintenance
  *    job (the qc12/qc13 window), bounded per bucket by
  *    `recoverBudget` when a deployment wants the cap's protection to
  *    extend to maintenance too — an over-budget bucket simply keeps
  *    the drop-wholesale semantics, and the choice is per-bucket and
  *    deterministic. q66l drills the whole lifecycle with a cap small
  *    enough that fixture buckets cross it mid-stream.
  *
  * Semantics mirror [[IncrementalNearDup]]: candidates are
  * new-vs-(state ∪ new) within a bucket, each pair discovered once (in
  * the batch where its later member arrives; the same pair surfacing in
  * several of the nBands bands folds out in the consumer's distinct).
  *
  * Retraction: the insert-only form ([[candidateEvents]]) mirrors q66;
  * the OP-stream form ([[opCandidateEvents]]) carries DELETEs through
  * the store itself — the q119g doctrine on this state, see the
  * retraction section below.
  */
object StateStoreNearDup {

  /** Event kinds — see [[NearDupIdxEvent]]. */
  val KindPair = 0
  val KindPoison = 1
  val KindMember = 2
  val KindTomb = 3

  /** Fold of the state function for one bucket: append the arrivals not
    * already present; under the cap, emit each NEW member paired with
    * every member that precedes it (old ∪ earlier-in-batch) — each pair
    * exactly once per bucket. Crossing the cap poisons the bucket (see
    * the class doc); a poisoned bucket appends arrivals to the LEDGER
    * (member events) and keeps O(1) state. */
  private def updateBucket(cap: Int)(key: (Int, Long),
      it: Iterator[(Int, Long, Long)],
      state: GroupState[BucketMembers]): Iterator[NearDupIdxEvent] = {
    val (band, bkey) = key
    val st = state.getOption.getOrElse(BucketMembers(Nil, poisoned = false))
    if (st.poisoned) {
      // ledger-only: one member event per arrival; duplicates (a doc
      // re-sent into a bucket that forgot its membership) fold out in
      // the consumer's distinct
      it.map(_._3).toVector.distinct.iterator
        .map(d => NearDupIdxEvent(band, bkey, d, -1L, KindMember))
    } else {
      val old = st.docs
      val seen = scala.collection.mutable.HashSet.from(old)
      val fresh = it.map(_._3).filter(seen.add(_)).toVector
      if (fresh.isEmpty) Iterator.empty
      else {
        val all = old ++ fresh
        if (all.size > cap) {
          state.update(BucketMembers(Nil, poisoned = true))
          Iterator(NearDupIdxEvent(band, bkey, -1L, -1L, KindPoison)) ++
            all.iterator.map(d => NearDupIdxEvent(band, bkey, d, -1L, KindMember))
        } else {
          state.update(BucketMembers(all, poisoned = false))
          fresh.iterator.zipWithIndex.flatMap { case (x, i) =>
            (old.iterator ++ fresh.iterator.take(i)).map(y =>
              NearDupIdxEvent(band, bkey,
                math.min(x, y), math.max(x, y), KindPair))
          }
        }
      }
    }
  }

  /** The stateful candidate plan over a STREAMING (band, bkey, doc_id)
    * relation — the single flatMapGroupsWithState hop shared by the
    * wave runner ([[runWaves]]) and the continuous CDC wire pipeline
    * (qc8). The group-by key is the bucket; Spark's one
    * shuffle here lands each band row on its state partition. */
  def candidateEvents(bandRows: DataFrame,
      cap: Int = LlmText.HotBucketCap): DataFrame =
    bandRows.select(col("band").cast("int").as("_1"),
        col("bkey").cast("long").as("_2"), col("doc_id").cast("long").as("_3"))
      .as[(Int, Long, Long)](Encoders.tuple(Encoders.scalaInt,
        Encoders.scalaLong, Encoders.scalaLong))
      .groupByKey(t => (t._1, t._2))(Encoders.tuple(
        Encoders.scalaInt, Encoders.scalaLong))
      .flatMapGroupsWithState[BucketMembers, NearDupIdxEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(updateBucket(cap))(
        Encoders.product[BucketMembers], Encoders.product[NearDupIdxEvent])
      .toDF()

  /** Fold the insert-form event stream to the candidate pairs under the
    * batch chain's cap semantics, plus exact recovery of the poisoned
    * buckets' pairs from the ledger (see the class doc; pass
    * `recoverBudget = 0` for the pure drop-wholesale continuous fold,
    * the default recovers everything — the maintenance-window setting). */
  def foldCandEvents(events: DataFrame,
      recoverBudget: Long = Long.MaxValue): DataFrame = {
    val poisoned = events.where(col("kind") === KindPoison)
      .select(col("band"), col("bkey")).distinct()
    val direct = events.where(col("kind") === KindPair)
      .join(poisoned, Seq("band", "bkey"), "left_anti")
      .select(col("doc_a"), col("doc_b"))
    direct.unionByName(recoverPoisonedPairs(events, recoverBudget))
      .distinct()
  }

  /** The poisoned-bucket maintenance job: re-derive the pairs the cap
    * suppressed by an all-pairs self-join of each poisoned bucket's
    * LEDGER membership — quadratic per hot bucket by nature (those
    * pairs exist; this is the work the cap deferred out of the stream's
    * hot path into the maintenance window). `recoverBudget` bounds the
    * per-bucket membership a deployment is willing to pay for: buckets
    * past it stay dropped (the batch cap semantics), deterministically.
    * Downstream exact verification kills the false positives exactly as
    * it does for under-cap candidates. */
  def recoverPoisonedPairs(events: DataFrame,
      recoverBudget: Long = Long.MaxValue): DataFrame = {
    val m = events.where(col("kind") === KindMember)
      .select(col("band"), col("bkey"), col("doc_a").as("doc_id"))
      .distinct()
    val within =
      if (recoverBudget == Long.MaxValue) m
      else m.join(
        m.groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("n"))
          .where(col("n") <= recoverBudget)
          .select(col("band"), col("bkey")),
        Seq("band", "bkey"))
    within.as("x").join(within.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Stream `waves` of band rows (band, bkey, doc_id — the flattened
    * [[flatBands]] output) through the bucket-state function under
    * [[StateStoreWaves]]' wave/restart contract. Returns (accumulated
    * candidate events, state shape): rows = distinct touched (band,
    * bucket) pairs; bytes ≈ members × 8 + per-key overhead under the
    * cap, O(1) once poisoned — the shingle sets never enter the store. */
  def runWaves(spark: SparkSession, waves: Seq[DataFrame],
      restartAfterWave: Option[Int] = None,
      cap: Int = LlmText.HotBucketCap): (DataFrame, StateShape) =
    StateStoreWaves.run(spark, "q66f", waves, restartAfterWave)(
      candidateEvents(_, cap))

  /** Flatten [[LlmText.bandKeys]]'s (doc_id, band, key struct) rows to
    * the (band, bkey, doc_id) wire tuples [[runWaves]] streams, at any
    * banding design: bkey = `xxhash64` over the band's key components
    * (byte parity with the per-row native expression
    * [[graft.functions.MinHashBands]] is spec-pinned two-sided). `sig`
    * must carry h0..h{nBands·bandR−1} — the 16-component state for
    * (8, 2)/(4, 4), the 32-component family for (8, 4). */
  def flatBands(sig: DataFrame, nBands: Int = 8, bandR: Int = 2): DataFrame =
    LlmText.bandKeys(sig, nBands, bandR)
      .select(col("band"),
        xxhash64((0 until bandR).map(k => col(s"key.k$k")): _*).as("bkey"),
        col("doc_id"))

  // ---- DELETE retraction ON the state store (q66g — the q119g
  // doctrine applied to the near-dup state): the bucket value grows
  // from the member list to members + this bucket's tombstoned docs,
  // so a delete COOLS the bucket (members leave, hot-cap parity with
  // the parquet twin's tombstone-filtered probe view) and permanently
  // guards against replayed inserts. Routing is the elegant part: a
  // CDC DELETE carries the deleted row, so its band buckets are the
  // same pure function of its text as the insert's — the tombstone op
  // lands on exactly the doc's nBands buckets with point access, and
  // because every pair (a, b) was discovered in a bucket BOTH docs
  // share, a's buckets cover every bucket that ever emitted a pair
  // involving a.
  //
  // Design contrast with q119g: NO versioned events. Line ownership
  // needed per-key versions because a delete RAISES the owner
  // (non-monotone fold); here both folded sets are monotone — pair
  // events only accrue, tombstoned docs only die (re-insertion is a
  // new doc_id, the twins' shared contract) — so the consumer fold is
  // order-free: distinct pair events minus pairs touching a tombstoned
  // doc.
  //
  // Hot buckets poison exactly as in the insert form (over the
  // SURVIVING membership). One asymmetry is deliberate: a poisoned
  // bucket never un-poisons, even if deletes would have cooled it
  // below the cap — the store forgot the membership, so there is
  // nothing to resume pairing against; the LEDGER (members ∪
  // tombstones) still carries the exact surviving membership, so the
  // maintenance recovery reproduces the survivors' pairs exactly
  // (recovered pairs pass through the same tombstone anti-join as
  // direct ones). A poisoned bucket also drops its per-bucket dead
  // list (state stays O(1)); replayed inserts of a dead doc emit
  // ledger events whose pairs the GLOBAL tombstone anti-join kills —
  // same permanence, enforced at the fold instead of the store.

  /** Per-bucket state for the retraction form: surviving members plus
    * the docs tombstoned in this bucket; empty lists + `poisoned` once
    * the bucket crossed the hot cap. */
  final case class BucketClaimState(docs: Seq[Long], dead: Seq[Long],
      poisoned: Boolean)

  /** Fold of the op state function for one bucket: deletes apply FIRST
    * (tombstones win within the batch — an insert+delete of one doc in
    * one batch nets to dead), then fresh inserts of non-dead docs pair
    * against the SURVIVING membership; crossing the cap poisons (see
    * the retraction section doc). */
  private def updateBucketOps(cap: Int)(key: (Int, Long),
      it: Iterator[(Int, Long, Long, String)],
      state: GroupState[BucketClaimState]): Iterator[NearDupIdxEvent] = {
    val (band, bkey) = key
    val st = state.getOption.getOrElse(BucketClaimState(Nil, Nil, poisoned = false))
    val rows = it.toSeq
    if (st.poisoned) {
      // ledger-only: arrivals append to the ledger, deletes emit
      // tombstones (no per-bucket dead list to dedupe against — the
      // consumer's distinct folds repeats, the global anti-join
      // enforces permanence)
      val deadNow = rows.collect { case (_, _, d, "delete") => d }.toSet
      val ins = rows.collect {
        case (_, _, d, "insert") if !deadNow(d) => d
      }.distinct
      deadNow.toSeq.sorted.iterator.map(d =>
        NearDupIdxEvent(band, bkey, d, -1L, KindTomb)) ++
        ins.iterator.map(d => NearDupIdxEvent(band, bkey, d, -1L, KindMember))
    } else {
      val deadNow = rows.collect { case (_, _, d, "delete") => d }.toSet
      val newDead = (deadNow -- st.dead).toSeq.sorted
      val dead = st.dead.toSet ++ deadNow
      // dead members leave the membership physically: they must never
      // pair again, and their departure cools an under-cap bucket
      // exactly as the parquet twin's tombstone-filtered band view does
      val kept = st.docs.filterNot(dead)
      val seen = scala.collection.mutable.HashSet.from(kept)
      val fresh = rows.collect {
        case (_, _, d, "insert") if !dead(d) => d
      }.filter(seen.add(_)).toVector
      if (fresh.isEmpty && newDead.isEmpty) Iterator.empty
      else {
        val alive = kept ++ fresh
        val tombEv = newDead.iterator.map(d =>
          NearDupIdxEvent(band, bkey, d, -1L, KindTomb))
        if (alive.size > cap) {
          state.update(BucketClaimState(Nil, Nil, poisoned = true))
          tombEv ++
            Iterator(NearDupIdxEvent(band, bkey, -1L, -1L, KindPoison)) ++
            alive.iterator.map(d =>
              NearDupIdxEvent(band, bkey, d, -1L, KindMember))
        } else {
          state.update(BucketClaimState(alive, st.dead ++ newDead,
            poisoned = false))
          tombEv ++ fresh.iterator.zipWithIndex.flatMap { case (x, i) =>
            (kept.iterator ++ fresh.iterator.take(i)).map(y =>
              NearDupIdxEvent(band, bkey,
                math.min(x, y), math.max(x, y), KindPair))
          }
        }
      }
    }
  }

  /** The stateful op plan over a STREAMING (band, bkey, doc_id, op)
    * relation — insert and delete band rows on one key; the single
    * flatMapGroupsWithState hop, one shuffle onto the state
    * partitions, same as [[candidateEvents]]. */
  def opCandidateEvents(opBandRows: DataFrame,
      cap: Int = LlmText.HotBucketCap): DataFrame =
    opBandRows.select(col("band").cast("int").as("_1"),
        col("bkey").cast("long").as("_2"),
        col("doc_id").cast("long").as("_3"), col("op").as("_4"))
      .as[(Int, Long, Long, String)](Encoders.tuple(Encoders.scalaInt,
        Encoders.scalaLong, Encoders.scalaLong, Encoders.STRING))
      .groupByKey(t => (t._1, t._2))(Encoders.tuple(
        Encoders.scalaInt, Encoders.scalaLong))
      .flatMapGroupsWithState[BucketClaimState, NearDupIdxEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(updateBucketOps(cap))(
        Encoders.product[BucketClaimState], Encoders.product[NearDupIdxEvent])
      .toDF()

  /** Fold the op-event stream to the surviving candidate pairs:
    * distinct pair events from never-poisoned buckets, plus the
    * poisoned buckets' pairs recovered from the ledger (under
    * `recoverBudget`, as in [[foldCandEvents]]), minus any pair
    * touching a tombstoned doc. Order-free (all folded sets are
    * monotone — see the section doc), so no event versioning is
    * needed, unlike [[StateStoreLineDedup.foldVersionedOwners]]. */
  def foldOpEvents(events: DataFrame,
      recoverBudget: Long = Long.MaxValue): DataFrame = {
    val tombs = events.where(col("kind") === KindTomb)
      .select(col("doc_a")).distinct()
    foldCandEvents(events, recoverBudget)
      .join(tombs, Seq("doc_a"), "left_anti")
      .join(tombs.withColumnRenamed("doc_a", "doc_b"), Seq("doc_b"),
        "left_anti")
      .select(col("doc_a"), col("doc_b")) // anti-join reorders join keys
  }

  /** Stream `waves` of (band, bkey, doc_id, op) rows through the
    * claimant bucket state on the RocksDB provider; same contract as
    * [[runWaves]]. Returns the RAW op-event relation (callers fold with
    * [[foldOpEvents]]) plus the measured shape. */
  def runOpWaves(spark: SparkSession, waves: Seq[DataFrame],
      restartAfterWave: Option[Int] = None,
      cap: Int = LlmText.HotBucketCap): (DataFrame, StateShape) =
    StateStoreWaves.run(spark, "q66g", waves, restartAfterWave)(
      opCandidateEvents(_, cap))
}
