package graft.streaming

import graft.{SparkEntry, SparkTestSession, Tables}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The incremental report card equals batch q133: documents streamed in
  * shuffled micro-batches through foreachBatch accumulate a doc state
  * whose (source × lang) crosstab is row-identical to the one-shot
  * batch query — across a mid-stream engine restart and a replayed
  * micro-batch. */
class IncrementalReportCardSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private def collectCard(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1)) ->
      ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5)))).toMap

  test("stream-accumulated report card equals batch q133, across a restart") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"), col("lang"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val statePath = java.nio.file.Files
      .createTempDirectory("inc-reportcard").toString

    // wave 1 through a real MemoryStream + foreachBatch wire path
    val inc1 = new IncrementalReportCard(statePath)
    val stream = MemoryStream[(Long, String, String, String)]
    val query = stream.toDF().toDF("doc_id", "text", "source", "lang")
      .writeStream.outputMode("append")
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, id: Long) =>
        inc1.processBatch(batch, id))
      .start()
    val shuffled = new scala.util.Random(17).shuffle(docs.toVector)
    try {
      stream.addData(shuffled.slice(0, 200))
      query.processAllAvailable()
    } finally query.stop()

    // engine RESTART: wave 2 on a fresh instance over the same state
    val inc2 = new IncrementalReportCard(statePath)
    inc2.processBatch(
      spark.createDataFrame(shuffled.drop(200)).toDF("doc_id", "text", "source", "lang"), 1L)

    val streamed = collectCard(inc2.reportCard(spark))
    val batch = collectCard(SparkEntry.queries("q133_corpus_report_card")(spark, dir))
    assert(batch.nonEmpty && streamed == batch)

    // replayed micro-batch is a no-op
    val before = spark.read.parquet(s"$statePath/docs").count()
    inc2.processBatch(
      spark.createDataFrame(shuffled.drop(200)).toDF("doc_id", "text", "source", "lang"), 99L)
    assert(spark.read.parquet(s"$statePath/docs").count() == before)

    // compaction preserves content
    inc2.compact(spark)
    assert(collectCard(inc2.reportCard(spark)) == batch)
  }

  test("a later duplicate retroactively flips an old doc's dup flag") {
    val statePath = java.nio.file.Files
      .createTempDirectory("inc-reportcard2").toString
    val inc = new IncrementalReportCard(statePath)
    def card = inc.reportCard(spark)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(5)).toMap
    inc.processBatch(spark.createDataFrame(
      Seq((10L, "alpha beta gamma", "web", "en"))).toDF("doc_id", "text", "source", "lang"), 0L)
    assert(card == Map(("web", "en") -> 0L), "a lone doc is not a duplicate")
    inc.processBatch(spark.createDataFrame(
      Seq((20L, "alpha beta gamma", "books", "en"))).toDF("doc_id", "text", "source", "lang"), 1L)
    // BOTH cells now report dup pressure — doc 10 flipped without
    // being re-processed
    assert(card == Map(("web", "en") -> 1L, ("books", "en") -> 1L))

    // RETRACTION runs the flip BACKWARDS: delete doc 10 (doc 20's only
    // duplicate partner) and the surviving cell's dup pressure must
    // return to 0 — naive row filtering of the old crosstab could
    // never produce this
    inc.retractBatch(
      spark.createDataFrame(Seq(Tuple1(10L))).toDF("doc_id"), 2L)
    assert(card == Map(("books", "en") -> 0L),
      "deleting the only duplicate partner did not reverse the dup flag")

    // tombstones win on a replayed insert; compaction prunes physically
    inc.processBatch(spark.createDataFrame(
      Seq((10L, "alpha beta gamma", "web", "en"))).toDF("doc_id", "text", "source", "lang"), 3L)
    assert(card == Map(("books", "en") -> 0L))
    inc.compact(spark)
    assert(spark.read.parquet(s"$statePath/docs")
      .where(org.apache.spark.sql.functions.col("doc_id") === 10L).count() == 0)
    assert(card == Map(("books", "en") -> 0L))
  }
}
