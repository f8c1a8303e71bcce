package graft.streaming

import graft.{SparkEntry, SparkTestSession, Tables}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The incremental duplicate-span engine equals batch q112: documents
  * streamed in shuffled micro-batches through foreachBatch accumulate a
  * gram-occurrence state whose span stats are row-identical to the
  * one-shot batch query — including across a mid-stream engine restart
  * (fresh instance, same state dir) and a replayed micro-batch. */
class IncrementalDupSpansSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private def batchResult: Map[Long, (Long, Long, Long)] =
    SparkEntry.queries("q112_duplicate_spans")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  /** Collect spans() in the single-resolution q112 shape (drop `n`). */
  private def collectSpans(inc: IncrementalDupSpans): Map[Long, (Long, Long, Long)] =
    inc.spans(spark)
      .select(col("doc_id"), col("n_spans"), col("dup_tokens"), col("n_tokens"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  test("stream-accumulated span stats equal batch q112, across a restart") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val statePath = java.nio.file.Files
      .createTempDirectory("inc-dupspans").toString

    // wave 1 through a real MemoryStream + foreachBatch wire path
    val inc1 = new IncrementalDupSpans(statePath)
    val stream = MemoryStream[(Long, String)]
    val query = stream.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, id: Long) =>
        inc1.processBatch(batch, id))
      .start()
    val shuffled = new scala.util.Random(7).shuffle(docs.toVector)
    try {
      stream.addData(shuffled.slice(0, 200))
      query.processAllAvailable()
    } finally query.stop()

    // engine RESTART: waves 2-3 through a fresh instance on the same
    // state dir (the state is the contract, not the object)
    val inc2 = new IncrementalDupSpans(statePath)
    inc2.processBatch(
      spark.createDataFrame(shuffled.slice(200, 400)).toDF("doc_id", "text"), 1L)
    inc2.processBatch(
      spark.createDataFrame(shuffled.drop(400)).toDF("doc_id", "text"), 2L)

    val streamed = collectSpans(inc2)
    val batch = batchResult
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"stream-only=${(streamed.keySet -- batch.keySet).take(5)} " +
        s"batch-only=${(batch.keySet -- streamed.keySet).take(5)}")

    // replayed micro-batch (foreachBatch retry semantics) is a no-op
    val before = spark.read.parquet(s"$statePath/grams").count()
    inc2.processBatch(
      spark.createDataFrame(shuffled.slice(200, 400)).toDF("doc_id", "text"), 99L)
    val after = spark.read.parquet(s"$statePath/grams").count()
    assert(after == before, s"replay mutated state: $before -> $after")

    // compaction preserves content while bounding file counts
    inc2.compact(spark)
    assert(collectSpans(inc2) == batch)
    // bucketed layout: compaction bounds the dir at one file per
    // non-empty bucket (StateLayout.overwriteCompacted)
    val nFiles = StateFiles.parquetCount(s"$statePath/grams")
    assert(nFiles <= StateLayout.NumBuckets, s"grams not compacted: $nFiles files")
  }

  test("a later doc retroactively flags an old doc's span") {
    // the deferred-dup property: doc A is alone in wave 1 (no dup
    // grams anywhere); doc B arriving in wave 2 repeats A's phrase and
    // BOTH docs' spans appear — without re-processing A
    val statePath = java.nio.file.Files
      .createTempDirectory("inc-dupspans2").toString
    val inc = new IncrementalDupSpans(statePath)
    val phrase = (1 to 6).map(i => s"p$i").mkString(" ")
    inc.processBatch(
      spark.createDataFrame(Seq((10L, s"a1 a2 $phrase a3"))).toDF("doc_id", "text"), 0L)
    assert(inc.spans(spark).collect().isEmpty)
    inc.processBatch(
      spark.createDataFrame(Seq((20L, s"b1 $phrase b2 b3"))).toDF("doc_id", "text"), 1L)
    val got = collectSpans(inc)
    assert(got == Map(10L -> ((1L, 6L, 9L)), 20L -> ((1L, 6L, 9L))), s"got=$got")
  }

  test("retraction: a span duplicated only against a deleted doc flips back to unique") {
    // second-order retraction: docs 10/20 share a phrase, so both
    // carry a dup span; retracting 10 must not just drop 10's row —
    // 20's span was duplicated ONLY against 10, so it flips back to
    // unique and the emitted relation becomes EMPTY (what batch q112
    // over the survivors computes; naive row filtering would leave
    // 20's stale span row behind).
    val statePath = java.nio.file.Files
      .createTempDirectory("inc-dupspans-retract").toString
    val inc = new IncrementalDupSpans(statePath)
    val phrase = (1 to 6).map(i => s"p$i").mkString(" ")
    inc.processBatch(spark.createDataFrame(Seq(
      (10L, s"a1 a2 $phrase a3"), (20L, s"b1 $phrase b2 b3")))
      .toDF("doc_id", "text"), 0L)
    assert(collectSpans(inc).keySet == Set(10L, 20L))

    inc.retractBatch(
      spark.createDataFrame(Seq(Tuple1(10L))).toDF("doc_id"), 1L)
    assert(collectSpans(inc) == Map.empty,
      "survivor's span did not flip back to unique")

    // tombstones win: a replayed insert of the deleted doc appends no
    // grams and does not resurrect the span
    val gramsBefore = spark.read.parquet(s"$statePath/grams").count()
    inc.processBatch(spark.createDataFrame(Seq(
      (10L, s"a1 a2 $phrase a3"))).toDF("doc_id", "text"), 2L)
    assert(spark.read.parquet(s"$statePath/grams").count() == gramsBefore)
    assert(collectSpans(inc) == Map.empty)

    // retraction replay no-op; compaction prunes physically
    inc.retractBatch(
      spark.createDataFrame(Seq(Tuple1(10L))).toDF("doc_id"), 99L)
    assert(spark.read.parquet(s"$statePath/tombstones").count() == 1)
    inc.compact(spark)
    assert(spark.read.parquet(s"$statePath/grams")
      .where(org.apache.spark.sql.functions.col("doc_id") === 10L).count() == 0)
    assert(collectSpans(inc) == Map.empty)
  }

  test("one multi-resolution state equals per-n states, row for row") {
    // the r9 consolidation claim: a single (n, h)-keyed state over
    // ns = {5, 10, 20} emits exactly the union of three independent
    // single-n states over the same waves — and equals batch q112b
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val waves = new scala.util.Random(11).shuffle(docs.toVector)

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getAs[Number](1).longValue) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))
    val one = new IncrementalDupSpans(
      java.nio.file.Files.createTempDirectory("inc-multi").toString, Seq(5, 10, 20))
    one.processBatch(spark.createDataFrame(waves.take(250)).toDF("doc_id", "text"), 0L)
    one.processBatch(spark.createDataFrame(waves.drop(250)).toDF("doc_id", "text"), 1L)
    val consolidated = one.spans(spark).collect().map(key).toMap

    val perN = Seq(5, 10, 20).flatMap { n =>
      val inc = new IncrementalDupSpans(
        java.nio.file.Files.createTempDirectory(s"inc-n$n").toString, Seq(n))
      inc.processBatch(spark.createDataFrame(waves.take(250)).toDF("doc_id", "text"), 0L)
      inc.processBatch(spark.createDataFrame(waves.drop(250)).toDF("doc_id", "text"), 1L)
      inc.spans(spark).collect().map(key)
    }.toMap
    assert(consolidated.nonEmpty && consolidated == perN)

    val batch = SparkEntry.queries("q112b_multiscale_dup_spans")(spark, dir)
      .collect().map(key).toMap
    assert(consolidated == batch)
  }
}
