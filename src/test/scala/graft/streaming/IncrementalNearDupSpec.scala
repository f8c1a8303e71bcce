package graft.streaming

import graft.{SparkTestSession, Tables}
import graft.operators.DedupGroups
import graft.queries.LlmText
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The incremental (CDC-fed) dedup funnel equals the batch pipeline:
  * documents streamed in three micro-batches through foreachBatch must
  * accumulate exactly the pairs and dedup groups the batch q57 computes
  * over the same fixture slice. */
class IncrementalNearDupSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  test("stream-accumulated dedup groups equal the batch q57 result") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(docs.length >= 100, "fixture slice too small to be meaningful")

    val statePath = java.nio.file.Files
      .createTempDirectory("inc-neardup").toString
    val inc = new IncrementalNearDup(statePath)
    val stream = MemoryStream[(Long, String)]
    val query = stream.toDF().toDF("doc_id", "text")
      .writeStream
      .outputMode("append")
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, id: Long) =>
        inc.processBatch(batch, id))
      .start()
    try {
      // three uneven arrival waves, shuffled so near-dup partners land
      // in different batches (the cross-batch candidate path is the
      // thing under test)
      val shuffled = new scala.util.Random(11).shuffle(docs.toVector)
      for (wave <- Seq(
          shuffled.slice(0, 100), shuffled.slice(100, 350),
          shuffled.slice(350, shuffled.size))) {
        stream.addData(wave)
        query.processAllAvailable()
      }
    } finally query.stop()

    val streamPairs = inc.pairs(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val batchPairs = LlmText.bandedNearDupPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(streamPairs == batchPairs,
      s"pair sets differ: stream-only=${(streamPairs.keySet -- batchPairs.keySet).take(5)} " +
        s"batch-only=${(batchPairs.keySet -- streamPairs.keySet).take(5)}")

    val streamGroups = inc.groups(spark).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchGroups = DedupGroups.components(LlmText.bandedNearDupPairs(spark, dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamGroups == batchGroups)

    // replayed micro-batch (foreachBatch retry semantics) is a no-op
    val before = (inc.pairs(spark).count(),
      spark.read.parquet(s"$statePath/sets").count(),
      spark.read.parquet(s"$statePath/bands").count())
    inc.processBatch(
      spark.createDataFrame(docs.take(100).toSeq).toDF("doc_id", "text"), 99L)
    val after = (inc.pairs(spark).count(),
      spark.read.parquet(s"$statePath/sets").count(),
      spark.read.parquet(s"$statePath/bands").count())
    assert(after == before, s"replay mutated state: $before -> $after")

    // compaction preserves content while bounding file counts
    inc.compact(spark)
    val compacted = inc.groups(spark).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(compacted == batchGroups)
    // bucketed layout: compaction bounds the dir at one file per
    // non-empty bucket (StateLayout.overwriteCompacted)
    val nFiles = StateFiles.parquetCount(s"$statePath/pairs")
    assert(nFiles <= StateLayout.NumBuckets, s"pairs not compacted: $nFiles files")
  }

  test("compact skips a state dir that an empty append left without parquet files") {
    import spark.implicits._
    val statePath = java.nio.file.Files.createTempDirectory("inc-neardup-empty").toString
    val inc = new IncrementalNearDup(statePath)
    val text = "the quick brown fox jumps over the lazy dog near the quiet river bank"
    // two unrelated docs: no candidate pair, so pairs/ is created by an
    // append of zero rows
    inc.processBatch(Seq((1L, text),
      (2L, "completely different words fill this second short document today"))
      .toDF("doc_id", "text"), 0)
    val pairsDir = s"$statePath/pairs"
    assert(StateLayout.exists(spark, pairsDir))
    assert(StateLayout.parquetFileCount(spark, pairsDir) == 0)
    inc.compact(spark) // an inferred read of pairs/ threw UNABLE_TO_INFER_SCHEMA
    // a duplicate then lands, and the state compacts and groups as usual
    inc.processBatch(Seq((3L, text)).toDF("doc_id", "text"), 1)
    inc.compact(spark)
    assert(inc.groups(spark).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 3L -> 1L))
  }

  test("retraction: components re-form as a fresh run over the survivors, interleaved with ingest") {
    // the q66b drill, with the delete wave INTERLEAVED between insert
    // waves (the entry retracts after full ingest): tombstones for
    // doc_id % 7 == 0 land after wave 1, covering both already-seen
    // docs (edge removal) and not-yet-seen docs (tombstone-wins on a
    // later insert). The accumulated state must equal a FRESH ingest
    // of only the survivors, and differ from naively filtering the
    // full-corpus groups — i.e. retraction re-elects representatives
    // and splits components, it doesn't just drop rows.
    val st = LlmText.bigramStateCached(spark, dir).localCheckpoint(true)
    val statePath = java.nio.file.Files
      .createTempDirectory("inc-neardup-retract").toString
    val inc = new IncrementalNearDup(statePath)
    inc.processState(st.where(col("doc_id") % 2 === 0), 0L)
    inc.retractBatch(st.where(col("doc_id") % 7 === 0).select("doc_id"), 1L)
    inc.processState(st.where(col("doc_id") % 2 === 1), 2L)

    def groupsOf(i: IncrementalNearDup): Map[Long, Long] =
      i.groups(spark).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = groupsOf(inc)

    // a deleted doc appears nowhere — neither as member nor as rep
    assert(got.keySet.forall(_ % 7 != 0), "tombstoned doc still grouped")

    // fresh survivors-only ingest through the same engine
    val survPath = java.nio.file.Files
      .createTempDirectory("inc-neardup-surv").toString
    val inc2 = new IncrementalNearDup(survPath)
    inc2.processState(st.where(col("doc_id") % 7 =!= 0), 0L)
    assert(got == groupsOf(inc2),
      "retracted state diverges from a fresh survivors-only run")

    // load-bearing: naive filtering of the FULL-corpus components to
    // surviving members is NOT the same relation (some rep was deleted
    // or some component changed shape)
    val naive = DedupGroups.components(LlmText.bandedNearDupPairs(spark, dir))
      .where(col("doc_id") % 7 =!= 0)
      .groupBy(col("rep")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(naive != got,
      "fixture drift: deleting doc_id % 7 == 0 changed no component — retraction untested")

    // retraction replay is a no-op; tombstone-wins on a replayed insert
    inc.retractBatch(st.where(col("doc_id") % 7 === 0).select("doc_id"), 99L)
    assert(spark.read.parquet(s"$statePath/tombstones").count() ==
      st.where(col("doc_id") % 7 === 0).count())
    val setsBefore = spark.read.parquet(s"$statePath/sets").count()
    inc.processState(st.where(col("doc_id") % 7 === 0), 100L)
    assert(spark.read.parquet(s"$statePath/sets").count() == setsBefore,
      "a replayed insert of a deleted doc re-entered the state")
    assert(groupsOf(inc) == got)

    // compaction makes deletes physical (no tombstoned rows in any
    // table) while preserving the emitted relation
    inc.compact(spark)
    for (t <- Seq("sets", "bands"))
      assert(spark.read.parquet(s"$statePath/$t")
        .where(col("doc_id") % 7 === 0).count() == 0, s"$t not pruned")
    assert(spark.read.parquet(s"$statePath/pairs")
      .where(col("doc_a") % 7 === 0 || col("doc_b") % 7 === 0).count() == 0,
      "pairs not pruned")
    assert(groupsOf(inc) == got)
  }

  test("hot-bucket poison + ledger: bounded over-cap state, exact uncapped recovery (q66m lifecycle)") {
    // the q66l doctrine on the parquet twin (VERDICT r13 item 1), at a
    // cap small enough that real fixture buckets cross it mid-stream
    val cap = 3
    val st = LlmText.bigramStateCached(spark, dir).localCheckpoint(true)
    def uncappedGroups(pred: org.apache.spark.sql.Column): Map[Long, Long] = {
      val stP = st.where(pred).localCheckpoint(true)
      DedupGroups.components(LlmText.verifyPairs(
          LlmText.bandedCandidates(stP, 8, 2, maxBucket = Int.MaxValue),
          stP.select(col("doc_id"), col("hs"), col("nbg"))))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val statePath = java.nio.file.Files
      .createTempDirectory("inc-neardup-hotcap").toString
    val inc = new IncrementalNearDup(statePath, hotBucketCap = cap)
    inc.processState(st.where(col("doc_id") % 2 === 0), 0L)

    // the sweep poisons every wave-0-hot bucket and DROPS its index
    // rows — an over-cap bucket holds zero bands/ state from then on
    val nPoisoned = inc.poisonSweep(spark)
    assert(nPoisoned > 0, "fixture drift: no bucket crossed the cap in wave 0")
    def poisonedBandRows(): Long =
      spark.read.parquet(s"$statePath/bands")
        .join(spark.read.parquet(s"$statePath/poisoned"),
          Seq("band", "key"), "left_semi").count()
    assert(poisonedBandRows() == 0, "swept bucket still holds index rows")
    val ledgerAfterSweep = spark.read.parquet(s"$statePath/ledger").count()
    assert(ledgerAfterSweep > cap, "ledger missing the swept membership")

    // wave-1 arrivals into poisoned buckets DIVERT to the ledger: the
    // index stays empty for them, the ledger grows
    inc.processState(st.where(col("doc_id") % 2 === 1), 1L)
    assert(poisonedBandRows() == 0, "a poisoned bucket re-entered the index")
    assert(spark.read.parquet(s"$statePath/ledger").count() > ledgerAfterSweep,
      "fixture drift: no wave-1 arrival hit a poisoned bucket - divert untested")

    // recovery restores the exact UNCAPPED batch result — from the
    // ledger for swept buckets AND from bands/ for buckets that went
    // hot only in wave 1 (left unswept on purpose)
    def recGroups(): Map[Long, Long] = inc.groupsWithRecovery(spark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = uncappedGroups(lit(true))
    assert(recGroups() == want, "recovery fold diverges from the uncapped batch chain")
    // load-bearing: the capped continuous fold is NOT the uncapped one
    assert(inc.groups(spark).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap != want,
      "fixture drift: cap suppressed nothing - recovery untested")
    // unswept over-cap buckets really exist (the bands/ recovery source)
    val unswept = spark.read.parquet(s"$statePath/bands")
      .groupBy(col("band"), col("key")).agg(count(lit(1)).as("n"))
      .where(col("n") > cap).count()
    assert(unswept > 0, "fixture drift: no bucket went hot in wave 1 - bands-side recovery untested")

    // a later sweep picks up the buckets that went hot in wave 1 —
    // their membership moves to the ledger and recovery stays exact,
    // now sourced from the ledger alone
    assert(inc.poisonSweep(spark) > 0, "wave-1-hot buckets not swept")
    assert(poisonedBandRows() == 0)
    assert(recGroups() == want)
    // and sweeping is idempotent: an immediate re-run finds nothing
    // new and changes nothing (crash-mid-sweep convergence is the same
    // code path: drop-ALL-marked plus the ledger's distinct fold)
    assert(inc.poisonSweep(spark) == 0, "sweep not idempotent")
    assert(recGroups() == want)

    // replayed wave across the poisoning: ledger duplicates fold out in
    // recovery's distinct, the index replay guard holds
    val bandsBefore = spark.read.parquet(s"$statePath/bands").count()
    inc.processState(st.where(col("doc_id") % 2 === 1), 99L)
    assert(spark.read.parquet(s"$statePath/bands").count() == bandsBefore,
      "replay re-entered the index")
    assert(recGroups() == want, "replay changed the recovery fold")

    // retraction reaches the ledger: delete docs, recovery equals the
    // uncapped run over the survivors; compaction makes it physical
    inc.retractBatch(st.where(col("doc_id") % 7 === 0).select("doc_id"), 100L)
    val wantSurv = uncappedGroups(col("doc_id") % 7 =!= 0)
    assert(recGroups() == wantSurv,
      "post-delete recovery diverges from the uncapped survivors run")
    inc.compact(spark)
    assert(spark.read.parquet(s"$statePath/ledger")
      .where(col("doc_id") % 7 === 0).count() == 0, "ledger not pruned")
    assert(recGroups() == wantSurv)

    // migration RESETS the poison state (design-specific bucket keys):
    // markers + ledger gone; the migrated index re-derives membership
    IncrementalNearDup.rebandMigrate(spark, statePath, 4, 4)
    assert(!StateLayout.exists(spark, s"$statePath/poisoned") &&
      !StateLayout.exists(spark, s"$statePath/ledger"),
      "migration left stale poison state behind")
  }
}
