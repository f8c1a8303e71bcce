package graft.streaming

import graft.SparkTestSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Snapshot resolution of [[CdcSnapshotTable]]: a batch merges into the
  * latest COMMITTED snapshot below its id, found by walking the listed
  * ids down from the batch id. */
class CdcSnapshotTableSpec extends AnyFunSuite with SparkTestSession {

  private val payload = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-cdc-snap").toString

  private def batch(rows: CdcRow*) = {
    import spark.implicits._
    rows.toDF()
  }

  private def contents(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("a torn snapshot dir is skipped and a replayed batch rewrites the same snapshot") {
    val dir = tmp()
    val snap = new CdcSnapshotTable(dir, Seq("id"), payload)
    val batches = Seq(
      batch(CdcRow("insert", 1, 1, 1, "a"), CdcRow("insert", 2, 1, 2, "b")),
      batch(CdcRow("update_before", 3, 1, 1, "a"), CdcRow("update_after", 3, 2, 1, "A")),
      batch(CdcRow("delete", 4, 1, 2, "b"), CdcRow("insert", 5, 1, 3, "c")))
    batches.zipWithIndex.foreach { case (b, id) => snap.applyBatch(b, id.toLong) }
    val snap2 = contents(snap.snapshotAt(spark, 2))
    assert(snap2 == Map(1L -> "A", 3L -> "c"))

    // a crash mid-write of batch 3 leaves snap_3 without its marker;
    // it must be invisible to every reader
    val torn = s"$dir/snap_3"
    batch(CdcRow("insert", 6, 1, 9, "torn")).select("id", "name")
      .write.parquet(torn)
    java.nio.file.Files.delete(java.nio.file.Paths.get(torn, "_SUCCESS"))
    assert(snap.snapshotIds(spark) == Seq(0L, 1L, 2L))
    assert(contents(snap.snapshot(spark)) == snap2)
    assert(contents(snap.snapshotBefore(spark, 4)) == snap2)
    assert(snap.latestCommittedBelow(spark, 4) == Some(2L))
    assert(snap.latestCommittedBelow(spark, 0) == None)

    // the retry of batch 3 replaces the torn attempt
    val b3 = batch(CdcRow("insert", 7, 1, 4, "d"))
    snap.applyBatch(b3, 3)
    val snap3 = contents(snap.snapshot(spark))
    assert(snap3 == snap2 + (4L -> "d"))

    // replaying batches 1 and 3 merges into the snapshots below them,
    // not the latest, so each rewrite is identical
    snap.applyBatch(batches(1), 1)
    assert(contents(snap.snapshotAt(spark, 1)) == Map(1L -> "A", 2L -> "b"))
    snap.applyBatch(b3, 3)
    assert(contents(snap.snapshot(spark)) == snap3)
    assert(snap.snapshotIds(spark) == Seq(0L, 1L, 2L, 3L))
  }

  test("an empty batch writes no snapshot and later reads resolve below it") {
    val dir = tmp()
    val snap = new CdcSnapshotTable(dir, Seq("id"), payload)
    snap.applyBatch(batch(CdcRow("insert", 1, 1, 1, "a")), 0)
    snap.applyBatch(batch(), 1)
    assert(snap.snapshotIds(spark) == Seq(0L))
    snap.applyBatch(batch(CdcRow("insert", 2, 1, 2, "b")), 2)
    assert(contents(snap.snapshot(spark)) == Map(1L -> "a", 2L -> "b"))
  }

  test("a non-empty batch runs exactly one Spark job") {
    val dir = tmp()
    val snap = new CdcSnapshotTable(dir, Seq("id"), payload)
    snap.applyBatch(batch(CdcRow("insert", 1, 1, 1, "a")), 0)
    val b1 = batch(CdcRow("update_before", 2, 1, 1, "a"), CdcRow("update_after", 2, 2, 1, "A"),
      CdcRow("insert", 3, 1, 2, "b"))
    val group = s"cdc-snap-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "applyBatch job count")
      try snap.applyBatch(b1, 1) finally sc.clearJobGroup()
      org.apache.spark.ListenerDrain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 1, s"applyBatch ran ${jobs.get} jobs")
    assert(contents(snap.snapshot(spark)) == Map(1L -> "A", 2L -> "b"))
  }
}
