package graft.streaming

import graft.{SparkTestSession, Tables}
import graft.queries.LlmText
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q66f: the banded-LSH candidate index on a REAL state store
  * (flatMapGroupsWithState + RocksDB) — candidate parity with the batch
  * banded chain, verified-pair parity with the parquet streaming twin,
  * state shape measured (rows = distinct touched buckets; shingle sets
  * never enter the store), cross-wave discovery proven, and the
  * hot-bucket cap drilled at the state function. */
class StateStoreNearDupSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  test("state-store candidates and verified pairs equal the batch banded chain") {
    val st = LlmText.bigramStateCached(spark, dir)
    val (cands, shape) = StateStoreNearDup.runWaves(spark, Seq(
      StateStoreNearDup.flatBands(st.where(col("doc_id") % 2 === 0)),
      StateStoreNearDup.flatBands(st.where(col("doc_id") % 2 === 1))))
    val got = StateStoreNearDup.foldCandEvents(cands)
    // batch candidate set: the same 8x2 banding over the same corpus
    // (no bucket near the hot cap on this fixture, so no poisoning and
    // the fold is the plain distinct of pair events)
    val want = LlmText.bandedCandidates(st, 8, 2)
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "candidate sets differ from the batch banded chain")

    // verified pairs == the batch pipeline's pairs (same verify stage)
    val verified = LlmText.verifyPairs(got, st.select("doc_id", "hs", "nbg"))
      .select("doc_a", "doc_b", "jaccard")
    val batchPairs = LlmText.bandedNearDupPairs(spark, dir)
      .select("doc_a", "doc_b", "jaccard")
    assert(verified.except(batchPairs).isEmpty &&
      batchPairs.except(verified).isEmpty)

    // state shape: one row per DISTINCT touched bucket; events are the
    // per-bucket pair discoveries (>= distinct candidates, since a pair
    // can share several bands)
    val nBuckets = StateStoreNearDup.flatBands(st)
      .select("band", "bkey").distinct().count()
    assert(shape.stateRows == nBuckets,
      s"state rows ${shape.stateRows} != distinct buckets $nBuckets")
    assert(shape.stateBytes > 0)
    assert(shape.events >= got.count())
  }

  test("rowBandBuckets equals flatBands byte-for-byte per doc, at every design") {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    // (8,2) and (4,4) regroup the 16-component signature; (8,4) runs on
    // the widened 32-component family — the same three designs the
    // parquet twin migrates between (q66h/q66i)
    for ((b, r, w) <- Seq((8, 2, 16), (4, 4, 16), (8, 4, 32))) {
      val batch = StateStoreNearDup.flatBands(
          LlmText.nearDupState(docs, nHashes = w), b, r)
        .select("doc_id", "band", "bkey")
      val perRow = docs.select(col("doc_id"),
          posexplode(LlmText.rowBandBuckets(col("text"), b, r))
            .as(Seq("band", "bkey")))
        .select(col("doc_id"), col("band"), col("bkey"))
      // both emit exactly b rows per >=2-token doc, so two-sided except
      // over the full row set pins the recipe byte-for-byte — the
      // shared minhash fold AND the xxhash64 bucket fold — including
      // the short-doc NULL/filter parity
      assert(perRow.except(batch).isEmpty && batch.except(perRow).isEmpty,
        s"bucket parity broke at ($b, $r)")
      assert(perRow.count() == batch.count() && perRow.count() > 0)
    }
  }

  test("the continuous candidate plan carries exactly one exchange") {
    // the qc8/qc9 claim pinned at the plan level: scan → per-row band
    // keys → state hop is ONE shuffle (the group-by onto state
    // partitions); batch-mode flatMapGroupsWithState builds the same
    // plan shape as the streaming hop
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val bands = docs.select(col("doc_id"),
        posexplode(LlmText.rowBandBuckets(col("text"))).as(Seq("band", "bkey")))
      .select(col("band"), col("bkey"), col("doc_id"))
    val ev = StateStoreNearDup.candidateEvents(bands)
    assert(ev.count() > 0) // execute first — AQE finalizes the plan
    val plan = ev.queryExecution.executedPlan.toString
    val exchanges = "Exchange (hashpartitioning|SinglePartition)".r
      .findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly one exchange, plan:\n$plan")
  }

  test("a pair whose members arrive in different waves is discovered") {
    import spark.implicits._
    // two synthetic band rows sharing one bucket, one per wave
    val w1 = Seq((0, 1122L, 100L)).toDF("band", "bkey", "doc_id")
    val w2 = Seq((0, 1122L, 7L)).toDF("band", "bkey", "doc_id")
    val (cands, shape) = StateStoreNearDup.runWaves(spark, Seq(w1, w2))
    val got = StateStoreNearDup.foldCandEvents(cands)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((7L, 100L)), s"got $got")
    assert(shape.stateRows == 1)
  }

  test("RocksDB bucket state survives a query restart between waves") {
    val st = LlmText.bigramStateCached(spark, dir)
    val waves = Seq(
      StateStoreNearDup.flatBands(st.where(col("doc_id") % 2 === 0)),
      StateStoreNearDup.flatBands(st.where(col("doc_id") % 2 === 1)))
    val (c1, s1) = StateStoreNearDup.runWaves(spark, waves)
    val (c2, s2) = StateStoreNearDup.runWaves(spark, waves,
      restartAfterWave = Some(0))
    // the recovery pin is two-sided: a LOST bucket state would MISS
    // every cross-restart pair (wave-2 docs pairing with wave-1
    // members), failing the set equality; a REPLAYED wave would
    // re-emit wave-1 pairs, failing the event-count equality
    val p1 = StateStoreNearDup.foldCandEvents(c1)
    val p2 = StateStoreNearDup.foldCandEvents(c2)
    assert(p2.except(p1).isEmpty && p1.except(p2).isEmpty,
      "restarted run's candidate set differs")
    assert(s2.events == s1.events,
      s"event count changed across restart: ${s1.events} -> ${s2.events}")
    assert(s2.stateRows == s1.stateRows)
  }

  // ---- q66g: DELETE retraction on the state store ----

  private def mkOps(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.map { case (d, op) => (0, 12L, d, op) }
      .toDF("band", "bkey", "doc_id", "op")
  }

  test("q66g: folded op events equal the batch banded chain over the survivors") {
    val st = LlmText.bigramStateCached(spark, dir)
    def wave(op: String, pred: org.apache.spark.sql.Column) =
      StateStoreNearDup.flatBands(st.where(pred)).withColumn("op", lit(op))
    val (events, shape) = StateStoreNearDup.runOpWaves(spark, Seq(
      wave("insert", col("doc_id") % 2 === 0),
      wave("insert", col("doc_id") % 2 === 1),
      wave("delete", col("doc_id") % 7 === 0)))
    val surv = st.where(col("doc_id") % 7 =!= 0)
    val got = LlmText.verifyPairs(StateStoreNearDup.foldOpEvents(events),
      surv.select("doc_id", "hs", "nbg")).select("doc_a", "doc_b", "jaccard")
    val want = LlmText.verifyPairs(LlmText.bandedCandidates(surv, 8, 2),
      surv.select("doc_id", "hs", "nbg")).select("doc_a", "doc_b", "jaccard")
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "survivor pair set differs from the batch chain over the survivors")
    // the tombstone side is real work on this fixture
    assert(events.where(col("kind") === StateStoreNearDup.KindTomb)
      .select("doc_a").distinct().count() ==
      st.where(col("doc_id") % 7 === 0).count())
    assert(shape.stateRows ==
      StateStoreNearDup.flatBands(st).select("band", "bkey")
        .distinct().count())
  }

  test("q66g: tombstones win permanently — a replayed insert stays dead") {
    val (events, _) = StateStoreNearDup.runOpWaves(spark, Seq(
      mkOps(Seq(1L -> "insert", 2L -> "insert")), // pair (1,2)
      mkOps(Seq(2L -> "delete")),
      mkOps(Seq(2L -> "insert", 3L -> "insert")))) // 2 must stay dead
    val pairs = StateStoreNearDup.foldOpEvents(events)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // (1,2) retracted; replayed 2 never pairs with 3; (1,3) survives
    assert(pairs == Set((1L, 3L)), s"got $pairs")
  }

  test("q66g: delete-before-insert and same-batch insert+delete both net to dead") {
    val (events, _) = StateStoreNearDup.runOpWaves(spark, Seq(
      mkOps(Seq(5L -> "delete")), // tombstone arrives first
      mkOps(Seq(5L -> "insert", 6L -> "insert",
        8L -> "insert", 8L -> "delete")), // 8 nets to dead in-batch
      mkOps(Seq(7L -> "insert"))))
    val pairs = StateStoreNearDup.foldOpEvents(events)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((6L, 7L)), s"got $pairs")
  }

  test("q66g: a hot bucket poisons; deletes + ledger recovery restore the survivors' pairs") {
    val cap = LlmText.HotBucketCap
    // wave 1: 2 members -> 1 direct pair; wave 2: push past the cap —
    // the bucket POISONS (one poison event, membership moves to the
    // ledger, state goes O(1)); wave 3: delete the overflow (tombstone
    // events — a poisoned bucket never un-poisons); wave 4: a new
    // arrival lands in the LEDGER. The maintenance fold recovers the
    // survivors' pairs exactly — including wave-1's (1, 2), whose
    // direct event is dropped with its poisoned bucket, and the
    // post-poisoning (1, 3)/(2, 3) that r12 permanently lost (the
    // closed VERDICT r12 item-1 caveat, pinned here exactly)
    val overflow = (10L to (10L + cap.toLong)).toSeq
    val (events, _) = StateStoreNearDup.runOpWaves(spark, Seq(
      mkOps(Seq(1L -> "insert", 2L -> "insert")),
      mkOps(overflow.map(_ -> "insert")),
      mkOps(overflow.map(_ -> "delete")),
      mkOps(Seq(3L -> "insert"))))
    val pairs = StateStoreNearDup.foldOpEvents(events)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"got $pairs")
    // without recovery the fold is the batch drop-wholesale semantics:
    // the poisoned bucket contributes nothing
    assert(StateStoreNearDup.foldOpEvents(events, recoverBudget = 0).isEmpty)
    // poisoning is edge-triggered: exactly one poison event
    assert(events.where(col("kind") === StateStoreNearDup.KindPoison)
      .count() == 1)
  }

  test("q66g: claimant state survives a query restart between op waves") {
    val st = LlmText.bigramStateCached(spark, dir)
    def wave(op: String, pred: org.apache.spark.sql.Column) =
      StateStoreNearDup.flatBands(st.where(pred)).withColumn("op", lit(op))
    val waves = Seq(
      wave("insert", col("doc_id") % 2 === 0),
      wave("insert", col("doc_id") % 2 === 1),
      wave("delete", col("doc_id") % 7 === 0))
    val (e1, s1) = StateStoreNearDup.runOpWaves(spark, waves)
    val (e2, s2) = StateStoreNearDup.runOpWaves(spark, waves,
      restartAfterWave = Some(0))
    val p1 = StateStoreNearDup.foldOpEvents(e1)
    val p2 = StateStoreNearDup.foldOpEvents(e2)
    assert(p2.except(p1).isEmpty && p1.except(p2).isEmpty,
      "restarted run's surviving pair set differs")
    assert(s2.events == s1.events,
      s"event count changed across restart: ${s1.events} -> ${s2.events}")
    assert(s2.stateRows == s1.stateRows)
  }

  test("the (4,4) high-precision design runs on the same store plumbing") {
    // VERDICT r11 item 1 — the q66h target design on the state store:
    // same waves, same state function, only the banding parameter moves
    val st = LlmText.bigramStateCached(spark, dir)
    val (cands, shape) = StateStoreNearDup.runWaves(spark, Seq(
      StateStoreNearDup.flatBands(st.where(col("doc_id") % 2 === 0), 4, 4),
      StateStoreNearDup.flatBands(st.where(col("doc_id") % 2 === 1), 4, 4)))
    val got = StateStoreNearDup.foldCandEvents(cands)
    val want = LlmText.bandedCandidates(st, 4, 4)
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "(4,4) candidate set differs from the batch chain at (4,4)")
    assert(shape.stateRows ==
      StateStoreNearDup.flatBands(st, 4, 4).select("band", "bkey")
        .distinct().count())
    // the designs disagree on this corpus (or the test proves nothing)
    val c82 = LlmText.bandedCandidates(st, 8, 2)
    assert(want.count() < c82.count(),
      "(4,4) must admit strictly fewer candidates than (8,2) here")
  }

  test("the widened (8,4) design runs on the same store plumbing with ops") {
    // the q66i target design: 32-component signatures, claimant state,
    // DELETEs — survivors equal the batch chain at (8,4) over survivors
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val st = LlmText.nearDupState(docs, nHashes = 32).localCheckpoint(true)
    def wave(op: String, pred: org.apache.spark.sql.Column) =
      StateStoreNearDup.flatBands(st.where(pred), 8, 4)
        .withColumn("op", lit(op))
    val (events, _) = StateStoreNearDup.runOpWaves(spark, Seq(
      wave("insert", col("doc_id") % 2 === 0),
      wave("insert", col("doc_id") % 2 === 1),
      wave("delete", col("doc_id") % 7 === 0)))
    val surv = st.where(col("doc_id") % 7 =!= 0)
    val got = LlmText.verifyPairs(StateStoreNearDup.foldOpEvents(events),
      surv.select("doc_id", "hs", "nbg")).select("doc_a", "doc_b", "jaccard")
    val want = LlmText.verifyPairs(LlmText.bandedCandidates(surv, 8, 4),
      surv.select("doc_id", "hs", "nbg")).select("doc_a", "doc_b", "jaccard")
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "(8,4) survivor pair set differs from the batch chain at (8,4)")
  }

  test("the widened (8,4) claimant state survives a restart into the delete wave") {
    // recovery at the design the production migration lands on (qc14's
    // rebuilt store): kill after both insert waves, recover the RocksDB
    // snapshot from the checkpoint, then serve the DELETE wave — a lost
    // bucket state would re-emit discovered pairs or drop tombstones,
    // and the survivor fold would diverge from the single-query run
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val st = LlmText.nearDupState(docs, nHashes = 32).localCheckpoint(true)
    def wave(op: String, pred: org.apache.spark.sql.Column) =
      StateStoreNearDup.flatBands(st.where(pred), 8, 4)
        .withColumn("op", lit(op))
    val waves = Seq(
      wave("insert", col("doc_id") % 2 === 0),
      wave("insert", col("doc_id") % 2 === 1),
      wave("delete", col("doc_id") % 7 === 0))
    def survivors(restart: Option[Int]) = {
      val (events, _) = StateStoreNearDup.runOpWaves(spark, waves,
        restartAfterWave = restart)
      StateStoreNearDup.foldOpEvents(events)
        .orderBy("doc_a", "doc_b").collect().map(_.toSeq).toSeq
    }
    val restarted = survivors(Some(1))
    val single = survivors(None)
    assert(restarted.nonEmpty && restarted == single,
      "restarted (8,4) op-wave run diverges from the single-query run")
  }

  test("crossing the hot cap mid-stream poisons the bucket; the two fold modes bracket it") {
    import spark.implicits._
    // small cap so the drill is cheap; the cap is a real parameter of
    // the state function (q66l runs the fixture corpus through one)
    val cap = 3
    val mk = (ids: Seq[Long]) => ids.map(i => (0, 12L, i))
      .toDF("band", "bkey", "doc_id")
    val (ev, shape) = StateStoreNearDup.runWaves(spark, Seq(
      mk(Seq(1L, 2L, 3L)),   // under cap: 3 direct pairs
      mk(Seq(4L, 5L)),       // 5 members > cap: poison + 5-member ledger
      mk(Seq(6L))),          // post-poisoning arrival: ledger only
      cap = cap)
    // continuous fold (no recovery) = batch drop-wholesale: the
    // bucket's FINAL size decides, so even wave-1's early pairs drop
    assert(StateStoreNearDup.foldCandEvents(ev, recoverBudget = 0).isEmpty)
    // maintenance fold = the exact uncapped candidate set: all 15
    // pairs of {1..6}, including both the early-dropped and the
    // suppressed-while-hot ones
    val all = StateStoreNearDup.foldCandEvents(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for (a <- 1L to 6L; b <- (a + 1L) to 6L) yield (a, b)).toSet
    assert(all == want, s"recovered set wrong: $all")
    // the ledger carries the FULL membership: poisoning-time members
    // and later arrivals alike
    val ledger = ev.where(col("kind") === StateStoreNearDup.KindMember)
      .select("doc_a").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(ledger == (1L to 6L).toSet, s"ledger wrong: $ledger")
    assert(ev.where(col("kind") === StateStoreNearDup.KindPoison).count() == 1)
    assert(shape.stateRows == 1)
    // a per-bucket recovery budget keeps the drop-wholesale semantics
    // for buckets past it, deterministically
    assert(StateStoreNearDup.foldCandEvents(ev, recoverBudget = 5).isEmpty)
  }

  test("a poisoned bucket's state stays O(1) while its ledger keeps growing") {
    import spark.implicits._
    val mk = (ids: Seq[Long]) => ids.map(i => (0, 12L, i))
      .toDF("band", "bkey", "doc_id")
    // both runs poison the bucket in wave 1; run B then pours 20x the
    // post-poisoning arrivals of run A into it. If the r12 design were
    // still accruing membership, stateBytes would grow with the
    // arrivals; under poison + ledger the state is a constant marker
    def shapeAfter(extra: Long): StateStoreWaves.StateShape = {
      val (ev, shape) = StateStoreNearDup.runWaves(spark, Seq(
        mk((1L to 10L)),
        mk((100L until (100L + extra)))), cap = 3)
      // the arrivals land in the ledger, not the store
      assert(ev.where(col("kind") === StateStoreNearDup.KindMember)
        .count() >= extra)
      shape
    }
    val small = shapeAfter(100L)
    val big = shapeAfter(2000L)
    assert(small.stateRows == 1 && big.stateRows == 1)
    // 20x the arrivals must not show up as state growth (allow noise:
    // RocksDB memory accounting jitters, but 2000 extra members would
    // be >= 16 KB of Seq[Long] state under the old design)
    assert(big.stateBytes <= small.stateBytes + 2048,
      s"poisoned-bucket state grew: ${small.stateBytes} -> ${big.stateBytes}")
  }

  test("poisoned-bucket state survives a restart; resumed arrivals stay ledger-only") {
    import spark.implicits._
    val mk = (ids: Seq[Long]) => ids.map(i => (0, 12L, i))
      .toDF("band", "bkey", "doc_id")
    val waves = Seq(
      mk(Seq(1L, 2L, 3L)),
      mk(Seq(4L, 5L)),  // poisons (cap = 3)
      mk(Seq(6L, 7L)))  // served by the RESUMED query in the drill run
    def run(restart: Option[Int]) = {
      val (ev, _) = StateStoreNearDup.runWaves(spark, waves,
        restartAfterWave = restart, cap = 3)
      (StateStoreNearDup.foldCandEvents(ev)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
        ev.where(col("kind") === StateStoreNearDup.KindPoison).count(),
        ev.count())
    }
    val (p1, poison1, n1) = run(None)
    val (p2, poison2, n2) = run(Some(1))
    // a lost poisoned marker would make the resumed query treat the
    // bucket as fresh — wave-3 arrivals would PAIR (wrongly, against
    // an empty membership) instead of appending to the ledger, and
    // poison could fire twice on a later crossing
    assert(p2 == p1, s"recovered pair sets diverge: $p1 vs $p2")
    assert(poison1 == 1 && poison2 == 1)
    assert(n1 == n2, s"event counts diverge across restart: $n1 vs $n2")
  }

  test("q66l shape: fixture corpus with a mid-stream-crossing cap still matches batch uncapped") {
    // the registry entry's exact claim in miniature: run the REAL
    // corpus waves with a cap small enough that real buckets cross it
    // mid-stream, then recover — candidates must equal the UNCAPPED
    // batch banded chain (which at fixture scale equals the
    // HotBucketCap-capped oracle chain, since no fixture bucket nears
    // 500)
    val st = LlmText.bigramStateCached(spark, dir)
    val tinyCap = 3
    val (ev, _) = StateStoreNearDup.runWaves(spark, Seq(
      StateStoreNearDup.flatBands(st.where(col("doc_id") % 2 === 0)),
      StateStoreNearDup.flatBands(st.where(col("doc_id") % 2 === 1))),
      cap = tinyCap)
    // the drill must be load-bearing: real buckets crossed the cap
    val nPoisoned = ev.where(col("kind") === StateStoreNearDup.KindPoison).count()
    assert(nPoisoned > 0, "no bucket crossed the tiny cap — drill is vacuous")
    val got = StateStoreNearDup.foldCandEvents(ev)
    val want = LlmText.bandedCandidates(st, 8, 2, maxBucket = Int.MaxValue)
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "poison+recover candidates differ from the uncapped batch chain")
    // and the no-recovery fold equals the batch chain CAPPED at the
    // same tiny cap (drop-wholesale parity, arrival-order independent)
    val gotCapped = StateStoreNearDup.foldCandEvents(ev, recoverBudget = 0)
    val wantCapped = LlmText.bandedCandidates(st, 8, 2, maxBucket = tinyCap)
    assert(gotCapped.except(wantCapped).isEmpty &&
      wantCapped.except(gotCapped).isEmpty,
      "no-recovery fold differs from the batch chain at the same cap")
  }
}
