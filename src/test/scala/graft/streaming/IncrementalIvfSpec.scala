package graft.streaming

import graft.{SparkTestSession, Tables}
import graft.operators.KMeansLloyd
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The incremental (CDC-fed) IVF index equals the one-shot batch
  * assignment: arrivals streamed in three shuffled micro-batches through
  * foreachBatch must accumulate exactly the (vec_id, cell) membership a
  * single map-only assignment of all arrivals computes — arrival order
  * and batch boundaries must not matter, replay must be a no-op, and the
  * retrain boundary must fire on growth. */
class IncrementalIvfSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  test("stream-accumulated IVF members equal the one-shot assignment") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val vecs = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), KMeansLloyd.quantize(col("embedding")).as("xi"))
    val base = vecs.where(col("vec_id") % 5 =!= 4)
    val (_, servingCents, _) = KMeansLloyd.runTracked(base, "vec_id", k = 4, iters = 2)

    val arrivals = Tables(spark, dir, "embeddings")
      .where(col("vec_id") % 5 === 4)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    assert(arrivals.length >= 10, "fixture slice too small to be meaningful")

    val statePath = java.nio.file.Files
      .createTempDirectory("inc-ivf").toString
    val inc = new IncrementalIvf(statePath, servingCents)
    val stream = MemoryStream[(Long, Seq[Double])]
    val query = stream.toDF().toDF("vec_id", "embedding")
      .writeStream
      .outputMode("append")
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, id: Long) =>
        inc.processBatch(batch, id))
      .start()
    try {
      // three uneven arrival waves, shuffled so cell-mates land in
      // different batches (state accumulation across batch boundaries
      // is the thing under test)
      val shuffled = new scala.util.Random(7).shuffle(arrivals.toVector)
      val cut1 = shuffled.size / 5
      val cut2 = shuffled.size / 2
      for (wave <- Seq(shuffled.slice(0, cut1),
          shuffled.slice(cut1, cut2), shuffled.drop(cut2))) {
        stream.addData(wave)
        query.processAllAvailable()
      }
    } finally query.stop()

    val streamed = inc.members(spark).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val oneShot = KMeansLloyd.assign(
        vecs.where(col("vec_id") % 5 === 4), servingCents)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(streamed == oneShot,
      s"memberships differ: stream-only=${(streamed.toSet -- oneShot.toSet).take(5)} " +
        s"batch-only=${(oneShot.toSet -- streamed.toSet).take(5)}")

    // replayed micro-batch (foreachBatch retry semantics) is a no-op
    val before = inc.members(spark).count()
    inc.processBatch(
      spark.createDataFrame(arrivals.take(5).toSeq).toDF("vec_id", "embedding"), 99L)
    val after = inc.members(spark).count()
    assert(after == before, s"replay mutated state: $before -> $after")

    // retrain boundary: pure integer threshold on (streamed, base) counts
    val n = streamed.size.toLong
    assert(inc.retrainDue(spark, baseCount = n * 4 - 1),
      "growth just past 25% of base must trip the boundary")
    assert(!inc.retrainDue(spark, baseCount = n * 4),
      "growth at exactly 25% of base must NOT trip the strict boundary")

    // compaction preserves content while bounding file counts
    inc.compact(spark)
    val compacted = inc.members(spark).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(compacted == streamed)
    // bucketed layout: compaction bounds the dir at one file per
    // non-empty bucket (StateLayout.overwriteCompacted)
    val nFiles = StateFiles.parquetCount(s"$statePath/members")
    assert(nFiles <= StateLayout.NumBuckets, s"members not compacted: $nFiles files")
  }

  test("retraction: the probe view equals a one-shot assignment of the survivors") {
    // the q88b drill, with the delete wave INTERLEAVED between insert
    // waves: tombstones for vec_id % 3 == 0 land after wave 1 —
    // already-streamed deleted vectors leave the probe view, and a
    // not-yet-streamed deleted vector's later insert appends nothing
    // (tombstones win). retrainDue must count survivors only;
    // compaction must remove the codes physically.
    val vecs = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), KMeansLloyd.quantize(col("embedding")).as("xi"))
    val (_, servingCents, _) = KMeansLloyd.runTracked(
      vecs.where(col("vec_id") % 5 =!= 4), "vec_id", k = 4, iters = 2)
    val arrivals = Tables(spark, dir, "embeddings")
      .where(col("vec_id") % 5 === 4)
      .select(col("vec_id"), col("embedding"))

    val statePath = java.nio.file.Files
      .createTempDirectory("inc-ivf-retract").toString
    val inc = new IncrementalIvf(statePath, servingCents)
    inc.processBatch(arrivals.where(col("vec_id") % 2 === 0), 0L)
    inc.retractBatch(
      arrivals.where(col("vec_id") % 3 === 0).select("vec_id"), 1L)
    inc.processBatch(arrivals.where(col("vec_id") % 2 === 1), 2L)

    def memb(i: IncrementalIvf): Map[Long, Int] =
      i.members(spark).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = memb(inc)
    assert(got.keySet.forall(_ % 3 != 0), "tombstoned vector still probed")
    assert(got.nonEmpty)

    val oneShot = KMeansLloyd.assign(
        vecs.where(col("vec_id") % 5 === 4 && col("vec_id") % 3 =!= 0),
        servingCents)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == oneShot,
      "retracted state diverges from one-shot assignment of the survivors")

    // retrainDue counts survivors, not appended bytes
    val n = got.size.toLong
    assert(inc.retrainDue(spark, baseCount = n * 4 - 1))
    assert(!inc.retrainDue(spark, baseCount = n * 4))

    // retraction replay is a no-op; tombstone-wins on a replayed insert
    inc.retractBatch(
      arrivals.where(col("vec_id") % 3 === 0).select("vec_id"), 99L)
    val membersBefore = spark.read.parquet(s"$statePath/members").count()
    inc.processBatch(arrivals.where(col("vec_id") % 3 === 0), 100L)
    assert(spark.read.parquet(s"$statePath/members").count() == membersBefore,
      "a replayed insert of a deleted vector re-entered the state")
    assert(memb(inc) == got)

    // compaction removes the deleted codes physically
    inc.compact(spark)
    assert(spark.read.parquet(s"$statePath/members")
      .where(col("vec_id") % 3 === 0).count() == 0, "codes not pruned")
    assert(memb(inc) == got)
  }
}
