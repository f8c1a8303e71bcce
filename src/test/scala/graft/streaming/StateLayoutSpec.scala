package graft.streaming

import graft.SparkTestSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r10 item 2: state dirs are bucket-partitioned on the probe
  * key so per-batch guards and probes PRUNE files instead of scanning
  * the whole committed state. Pins (a) `PartitionFilters` actually
  * reaching the file source of a pruned read, (b) pruned-read
  * anti-join equivalence with the full read (the soundness claim the
  * states rely on), and (c) the compaction rewrite's file bound. */
class StateLayoutSpec extends AnyFunSuite with SparkTestSession {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def state(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"row-$i")).toDF("doc_id", "payload")
  }

  test("pruned probe read carries PartitionFilters and matches the full read's buckets") {
    import spark.implicits._
    val dir = tmp("state-layout") + "/chunks"
    // GROW the dir past PruneMinFiles: pruning is adaptive — a
    // fixture-scale dir reads flat (the probe-bucket collection job
    // doesn't pay below that), a grown dir must prune
    (0 until 3).foreach(i => StateLayout.append(
      state(1000).where(col("doc_id") % 3 === i), dir, Seq("doc_id")))
    assert(StateFiles.parquetCount(dir) > StateLayout.PruneMinFiles,
      "fixture did not outgrow the adaptive prune threshold")

    val probe = Seq(3L, 17L, 99L).toDF("doc_id").localCheckpoint(true)
    val pruned = StateLayout.readPruned(spark, dir, state(0).schema,
      probe, Seq("doc_id"))

    // the partition filter must reach the file source (no full scan)
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "no file scan found in pruned plan")
    assert(scans.forall(_.partitionFilters.nonEmpty),
      s"file scan carries no partition filters:\n${pruned.queryExecution}")

    // pruned read ≡ full read restricted to the probe's buckets
    val full = StateLayout.read(spark, dir, state(0).schema)
    val wantBuckets = probe.select(StateLayout.bucketOf(Seq("doc_id")))
      .distinct().collect().map(_.getInt(0)).toSet
    val expect = full
      .where(StateLayout.bucketOf(Seq("doc_id")).isin(wantBuckets.toSeq: _*))
      .collect().map(_.toSeq).toSet
    assert(pruned.collect().map(_.toSeq).toSet == expect)
    assert(pruned.count() < full.count(),
      "pruning kept everything — bucket layout not effective")
    assert(!pruned.columns.contains(StateLayout.BucketCol),
      "layout column leaked into the logical schema")

    // the guard equivalence the states rely on: anti-joining a batch
    // against the PRUNED committed keys equals anti-joining against
    // the FULL committed keys
    val batch = Seq(3L, 17L, 5000L, 6000L).toDF("doc_id")
      .localCheckpoint(true)
    val viaPruned = batch.join(
      StateLayout.readPruned(spark, dir, state(0).schema, batch,
        Seq("doc_id")).select("doc_id"),
      Seq("doc_id"), "left_anti").collect().map(_.getLong(0)).toSet
    val viaFull = batch.join(full.select("doc_id"), Seq("doc_id"),
      "left_anti").collect().map(_.getLong(0)).toSet
    assert(viaPruned == viaFull && viaPruned == Set(5000L, 6000L))
  }

  test("missing dir reads empty; empty probe prunes to nothing") {
    import spark.implicits._
    val dir = tmp("state-layout-empty") + "/never-written"
    assert(StateLayout.read(spark, dir, state(0).schema).count() == 0)
    val existing = tmp("state-layout-e2") + "/chunks"
    // past the adaptive threshold, an empty probe prunes to nothing
    (0 until 3).foreach(i => StateLayout.append(
      state(200).where(col("doc_id") % 3 === i), existing, Seq("doc_id")))
    assert(StateFiles.parquetCount(existing) > StateLayout.PruneMinFiles)
    val emptyProbe = Seq.empty[Long].toDF("doc_id").localCheckpoint(true)
    assert(StateLayout.readPruned(spark, existing, state(0).schema,
      emptyProbe, Seq("doc_id")).count() == 0)
    // below it, the flat fallback is key-restriction-equivalent: the
    // anti-join via readPruned still sees every committed key
    val small = tmp("state-layout-e3") + "/chunks"
    StateLayout.append(state(10), small, Seq("doc_id"))
    assert(StateFiles.parquetCount(small) <= StateLayout.PruneMinFiles)
    val batch = Seq(3L, 5000L).toDF("doc_id").localCheckpoint(true)
    val anti = batch.join(
      StateLayout.readPruned(spark, small, state(0).schema, batch,
        Seq("doc_id")).select("doc_id"),
      Seq("doc_id"), "left_anti").collect().map(_.getLong(0)).toSet
    assert(anti == Set(5000L))
  }

  test("compaction rewrite bounds files at one per non-empty bucket, rows unchanged") {
    val dir = tmp("state-layout-compact") + "/chunks"
    // many small appends — the per-micro-batch accumulation pattern
    (0 until 5).foreach(i => StateLayout.append(
      state(200).where(col("doc_id") % 5 === i), dir, Seq("doc_id")))
    val before = StateLayout.read(spark, dir, state(0).schema)
      .collect().map(_.toSeq).toSet
    assert(StateFiles.parquetCount(dir) > StateLayout.NumBuckets,
      "fixture did not accumulate enough small files")
    StateLayout.overwriteCompacted(
      StateLayout.read(spark, dir, state(0).schema).localCheckpoint(true),
      dir, Seq("doc_id"))
    assert(StateFiles.parquetCount(dir) <= StateLayout.NumBuckets)
    val after = StateLayout.read(spark, dir, state(0).schema)
      .collect().map(_.toSeq).toSet
    assert(after == before)
  }
}
