package graft.streaming

import graft.{SparkEntry, SparkTestSession, Tables}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The incremental substring-removal engine equals batch q126:
  * documents streamed in shuffled micro-batches through foreachBatch
  * accumulate a gram-occurrence state whose keep-first removal +
  * reconstruction is row-identical to the one-shot batch query —
  * including across a mid-stream engine restart and a replayed
  * micro-batch. */
class IncrementalSubstringRemovalSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private def collectOut(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, String)] =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap

  test("stream-accumulated removal equals batch q126, across a restart") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val statePath = java.nio.file.Files
      .createTempDirectory("inc-subremoval").toString

    // wave 1 through a real MemoryStream + foreachBatch wire path
    val inc1 = new IncrementalSubstringRemoval(statePath)
    val stream = MemoryStream[(Long, String)]
    val query = stream.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, id: Long) =>
        inc1.processBatch(batch, id))
      .start()
    val shuffled = new scala.util.Random(13).shuffle(docs.toVector)
    try {
      stream.addData(shuffled.slice(0, 200))
      query.processAllAvailable()
    } finally query.stop()

    // engine RESTART: wave 2 through a fresh instance on the same
    // state dir (the state is the contract, not the object)
    val inc2 = new IncrementalSubstringRemoval(statePath)
    inc2.processBatch(
      spark.createDataFrame(shuffled.drop(200)).toDF("doc_id", "text"), 1L)

    val streamed = collectOut(inc2.removals(spark))
    val batch = collectOut(SparkEntry.queries("q126_substring_removal")(spark, dir))
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"stream-only=${(streamed.keySet -- batch.keySet).take(5)} " +
        s"batch-only=${(batch.keySet -- streamed.keySet).take(5)}")

    // replayed micro-batch (foreachBatch retry semantics) is a no-op
    val before = spark.read.parquet(s"$statePath/grams").count()
    inc2.processBatch(
      spark.createDataFrame(shuffled.drop(200)).toDF("doc_id", "text"), 99L)
    val after = spark.read.parquet(s"$statePath/grams").count()
    assert(after == before, s"replay mutated state: $before -> $after")

    // compaction preserves content while bounding file counts
    inc2.compact(spark)
    assert(collectOut(inc2.removals(spark)) == batch)
    // bucketed layout: compaction bounds the dir at one file per
    // non-empty bucket (StateLayout.overwriteCompacted)
    val nFiles = StateFiles.parquetCount(s"$statePath/grams")
    assert(nFiles <= StateLayout.NumBuckets, s"grams not compacted: $nFiles files")
  }

  test("retry after a crash between the docs and grams appends recovers the grams") {
    // Simulate the partial-failure window: the docs/ append committed
    // but the process died before the grams/ append. The foreachBatch
    // retry must regram the doc — the grams guard reads grams/ state,
    // not docs/ state, so the doc is not anti-joined away.
    val statePath = java.nio.file.Files
      .createTempDirectory("inc-subremoval3").toString
    val inc = new IncrementalSubstringRemoval(statePath)
    val span = (1 to 10).map(i => s"s$i").mkString(" ")
    inc.processBatch(
      spark.createDataFrame(Seq((10L, s"$span tail"))).toDF("doc_id", "text"), 0L)

    // crash window: doc 20 lands in docs/ only (no grams) — written
    // through StateLayout so the simulated partial commit has the same
    // bucketed physical layout a real crashed append leaves behind
    StateLayout.append(
      spark.createDataFrame(Seq((20L, s"$span other"))).toDF("doc_id", "text"),
      s"$statePath/docs", Seq("doc_id"))
    // pre-fix behavior: the retry was a complete no-op, permanently
    // losing doc 20's grams → doc 20 never flagged as affected
    inc.processBatch(
      spark.createDataFrame(Seq((20L, s"$span other"))).toDF("doc_id", "text"), 1L)

    val got = collectOut(inc.removals(spark))
    assert(got === Map(20L -> ((11L, 10L, "other"))), s"got=$got")
    // and the retry did not duplicate doc 20 in docs/ either
    val docRows = spark.read.parquet(s"$statePath/docs")
      .where(col("doc_id") === 20L).count()
    assert(docRows == 1L, s"docs/ has $docRows rows for doc 20")
  }

  test("a later, smaller doc id retroactively takes gram ownership") {
    // keep-first ranks by (doc_id, pos), not arrival order: doc 20
    // owns its span while alone; doc 10 arriving LATER with the same
    // span takes ownership and doc 20's copy flips to removed.
    val statePath = java.nio.file.Files
      .createTempDirectory("inc-subremoval2").toString
    val inc = new IncrementalSubstringRemoval(statePath)
    val span = (1 to 10).map(i => s"s$i").mkString(" ")
    inc.processBatch(
      spark.createDataFrame(Seq((20L, s"$span z1 z2"))).toDF("doc_id", "text"), 0L)
    assert(collectOut(inc.removals(spark)) === Map.empty,
      "a lone doc must have nothing removed")
    inc.processBatch(
      spark.createDataFrame(Seq((10L, s"y1 $span"))).toDF("doc_id", "text"), 1L)
    val got = collectOut(inc.removals(spark))
    assert(got === Map(20L -> ((12L, 10L, "z1 z2"))), s"got=$got")
  }

  test("retraction: deleting the gram owner restores the survivor's tokens or re-elects ownership") {
    // scenario 1 — sole partner deleted: 10 owns the span, 20's copy
    // is removed; retract 10 → 20 is ALONE, nothing may be removed
    // (the affected-docs relation becomes empty). Naive filtering
    // would keep 20's stale removal row.
    val span = (1 to 10).map(i => s"s$i").mkString(" ")
    val p1 = java.nio.file.Files
      .createTempDirectory("inc-subrem-retract1").toString
    val inc1 = new IncrementalSubstringRemoval(p1)
    inc1.processBatch(spark.createDataFrame(Seq(
      (10L, s"y1 $span"), (20L, s"$span z1 z2"))).toDF("doc_id", "text"), 0L)
    assert(collectOut(inc1.removals(spark)).keySet == Set(20L))
    inc1.retractBatch(
      spark.createDataFrame(Seq(Tuple1(10L))).toDF("doc_id"), 1L)
    assert(collectOut(inc1.removals(spark)) === Map.empty,
      "survivor still shows a removal after its only partner was deleted")

    // scenario 2 — owner deleted among three: 10 owns, 20 and 30 are
    // removed; retract 10 → ownership re-elects to 20 (earliest
    // surviving (doc_id, pos)), 30 stays removed
    val p2 = java.nio.file.Files
      .createTempDirectory("inc-subrem-retract2").toString
    val inc2 = new IncrementalSubstringRemoval(p2)
    inc2.processBatch(spark.createDataFrame(Seq(
      (10L, s"y1 $span"), (20L, s"$span z1 z2"), (30L, s"w1 $span w2")))
      .toDF("doc_id", "text"), 0L)
    assert(collectOut(inc2.removals(spark)).keySet == Set(20L, 30L))
    inc2.retractBatch(
      spark.createDataFrame(Seq(Tuple1(10L))).toDF("doc_id"), 1L)
    val got2 = collectOut(inc2.removals(spark))
    assert(got2 === Map(30L -> ((12L, 10L, "w1 w2"))), s"got=$got2")

    // tombstones win + physical compaction
    val docsBefore = spark.read.parquet(s"$p2/docs").count()
    inc2.processBatch(spark.createDataFrame(Seq(
      (10L, s"y1 $span"))).toDF("doc_id", "text"), 2L)
    assert(spark.read.parquet(s"$p2/docs").count() == docsBefore)
    inc2.compact(spark)
    assert(spark.read.parquet(s"$p2/grams")
      .where(org.apache.spark.sql.functions.col("doc_id") === 10L).count() == 0)
    assert(collectOut(inc2.removals(spark)) === got2)
  }
}
