package graft.streaming

import graft.{SparkEntry, SparkTestSession, Tables}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The incremental line-dedup engine equals batch q119: documents
  * streamed in shuffled micro-batches through foreachBatch accumulate a
  * chunk-occurrence state whose keep-first reconstruction is
  * row-identical to the one-shot batch query — including across a
  * mid-stream engine restart and a replayed micro-batch. */
class IncrementalLineDedupSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private def collectOut(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, String)] =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap

  test("stream-accumulated line dedup equals batch q119, across a restart") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val statePath = java.nio.file.Files
      .createTempDirectory("inc-linededup").toString

    // wave 1 through a real MemoryStream + foreachBatch wire path
    val inc1 = new IncrementalLineDedup(statePath)
    val stream = MemoryStream[(Long, String)]
    val query = stream.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, id: Long) =>
        inc1.processBatch(batch, id))
      .start()
    val shuffled = new scala.util.Random(11).shuffle(docs.toVector)
    try {
      stream.addData(shuffled.slice(0, 200))
      query.processAllAvailable()
    } finally query.stop()

    // engine RESTART: wave 2 through a fresh instance on the same
    // state dir (the state is the contract, not the object)
    val inc2 = new IncrementalLineDedup(statePath)
    inc2.processBatch(
      spark.createDataFrame(shuffled.drop(200)).toDF("doc_id", "text"), 1L)

    val streamed = collectOut(inc2.lines(spark))
    val batch = collectOut(SparkEntry.queries("q119_line_dedup")(spark, dir))
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"stream-only=${(streamed.keySet -- batch.keySet).take(5)} " +
        s"batch-only=${(batch.keySet -- streamed.keySet).take(5)}")

    // replayed micro-batch (foreachBatch retry semantics) is a no-op
    val before = spark.read.parquet(s"$statePath/chunks").count()
    inc2.processBatch(
      spark.createDataFrame(shuffled.drop(200)).toDF("doc_id", "text"), 99L)
    val after = spark.read.parquet(s"$statePath/chunks").count()
    assert(after == before, s"replay mutated state: $before -> $after")

    // compaction preserves content while bounding file counts
    inc2.compact(spark)
    assert(collectOut(inc2.lines(spark)) == batch)
    // bucketed layout: compaction bounds the dir at one file per
    // non-empty bucket (StateLayout.overwriteCompacted)
    val nFiles = StateFiles.parquetCount(s"$statePath/chunks")
    assert(nFiles <= StateLayout.NumBuckets, s"chunks not compacted: $nFiles files")
  }

  test("retraction: a deleted owner's line is re-owned by the earliest surviving claimant") {
    // docs 10/20/30 share line L; 10 owns it (keep-first). DELETE 10:
    // ownership must pass to 20 (earliest SURVIVOR), 30's copy stays
    // dropped, and 10 vanishes from the output — exactly batch q119
    // over the surviving corpus. A naive filter of the full-corpus
    // q119 output would leave L owned by nobody (20's copy dropped).
    val statePath = java.nio.file.Files
      .createTempDirectory("inc-linededup3").toString
    val inc = new IncrementalLineDedup(statePath)
    val line = (1 to 10).map(i => s"s$i").mkString(" ")
    inc.processBatch(spark.createDataFrame(Seq(
      (10L, s"$line y1"), (20L, s"$line z1 z2"), (30L, s"$line w1")))
      .toDF("doc_id", "text"), 0L)
    assert(collectOut(inc.lines(spark)) == Map(
      10L -> ((2L, 2L, s"$line y1")),
      20L -> ((2L, 1L, "z1 z2")),
      30L -> ((2L, 1L, "w1"))))

    inc.retractBatch(
      spark.createDataFrame(Seq(Tuple1(10L))).toDF("doc_id"), 1L)
    val after = collectOut(inc.lines(spark))
    assert(after == Map(
      20L -> ((2L, 2L, s"$line z1 z2")), // re-owned, NOT just filtered
      30L -> ((2L, 1L, "w1"))), s"got=$after")

    // retraction replay (foreachBatch retry) is a no-op
    inc.retractBatch(
      spark.createDataFrame(Seq(Tuple1(10L))).toDF("doc_id"), 99L)
    assert(spark.read.parquet(s"$statePath/tombstones").count() == 1)
    assert(collectOut(inc.lines(spark)) == after)

    // tombstones win: a replayed/late insert of the deleted doc
    // appends nothing and does not resurrect it
    val chunksBefore = spark.read.parquet(s"$statePath/chunks").count()
    inc.processBatch(
      spark.createDataFrame(Seq((10L, s"$line y1"))).toDF("doc_id", "text"), 100L)
    assert(spark.read.parquet(s"$statePath/chunks").count() == chunksBefore)
    assert(collectOut(inc.lines(spark)) == after)

    // compaction makes the delete physical (no doc-10 chunk rows
    // survive) while keeping the tombstone and the emitted relation
    inc.compact(spark)
    assert(spark.read.parquet(s"$statePath/chunks")
      .where(col("doc_id") === 10L).count() == 0)
    assert(spark.read.parquet(s"$statePath/tombstones").count() == 1)
    assert(collectOut(inc.lines(spark)) == after)
  }

  test("a later, smaller doc id retroactively takes line ownership") {
    // keep-first ranks by (doc_id, ck), not arrival order: doc 20 owns
    // its line while alone; doc 10 arriving LATER with the same line
    // takes ownership and doc 20's copy flips to dropped.
    val statePath = java.nio.file.Files
      .createTempDirectory("inc-linededup2").toString
    val inc = new IncrementalLineDedup(statePath)
    val line = (1 to 10).map(i => s"s$i").mkString(" ")
    inc.processBatch(
      spark.createDataFrame(Seq((20L, s"$line z1 z2"))).toDF("doc_id", "text"), 0L)
    assert(collectOut(inc.lines(spark)) == Map(20L -> ((2L, 2L, s"$line z1 z2"))))
    inc.processBatch(
      spark.createDataFrame(Seq((10L, s"$line y1"))).toDF("doc_id", "text"), 1L)
    val got = collectOut(inc.lines(spark))
    assert(got == Map(
      10L -> ((2L, 2L, s"$line y1")),
      20L -> ((2L, 1L, "z1 z2"))), s"got=$got")
  }
}
