package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.StructType

import scala.concurrent.Await
import scala.concurrent.duration.DurationInt

/** Copy-on-write snapshot table: the durable, restartable form of
  * [[CdcMaterializer.applyBatch]]. Each micro-batch merges into the
  * previous committed snapshot and writes a NEW versioned directory
  * (`snap_<batchId>`), never mutating what it read — the same
  * copy-on-write contract Delta/Hudi/Iceberg tables provide, built
  * here from plain parquet + the streaming engine's batchId.
  *
  * Exactly-once across restarts comes from two pieces composing:
  *  - the source's offset checkpoint makes Spark re-deliver an
  *    uncommitted micro-batch with the SAME batchId and the SAME rows
  *    after a crash/restart;
  *  - [[applyBatch]] derives `snap_N` only from inputs a retry cannot
  *    have changed (the latest snapshot with id < N, and batch N
  *    itself), and `mode(overwrite)` replaces any half-written attempt.
  *  So replaying batch N is bit-for-bit idempotent — pinned by
  *  CdcAnalyticsSpec both by direct double-apply and by a mid-workload
  *  kill/restart drill.
  *
  * Readers only trust directories carrying Spark's `_SUCCESS` marker,
  * so a crash mid-write can never surface a torn snapshot as latest.
  *
  * Scale shape: the merge is one shuffle on the key (old rows and
  * the batch's events in one window — see CdcMaterializer); the
  * rewrite cost is the snapshot size, the standard CoW trade (cheap
  * reads, write amplification).
  * At 100 TB the snapshot would be partitioned by a key prefix so a
  * batch rewrites only touched partitions, and [[prune]] would run on
  * a retention schedule; both are orthogonal to the mechanism here.
  */
final class CdcSnapshotTable(path: String, keys: Seq[String], payload: StructType) {

  private def hfs(s: SparkSession) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Ids of every `snap_<id>` directory, committed or not (one listing
    * of names). */
  private def dirIds(s: SparkSession): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = hfs(s)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("snap_"))
      .map(_.getPath.getName.stripPrefix("snap_").toLong)
  }

  private def committed(s: SparkSession, id: Long): Boolean =
    hfs(s).exists(new org.apache.hadoop.fs.Path(s"$path/snap_$id/_SUCCESS"))

  /** Committed snapshot batch ids (dirs with a `_SUCCESS` marker),
    * ascending. */
  def snapshotIds(s: SparkSession): Seq[Long] = dirIds(s).filter(committed(s, _)).sorted

  /** The latest committed id below `bound`: walks the listed ids down
    * and stops at the first with a `_SUCCESS` marker, so a batch pays
    * one listing and (torn directories aside) one marker check however
    * many snapshots the table keeps. */
  private[streaming] def latestCommittedBelow(s: SparkSession, bound: Long): Option[Long] =
    dirIds(s).filter(_ < bound).sorted(Ordering[Long].reverse).find(committed(s, _))

  private def empty(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[Row], payload)

  def snapshotAt(s: SparkSession, id: Long): DataFrame =
    s.read.schema(payload).parquet(s"$path/snap_$id")

  /** Latest committed snapshot (empty relation before the first batch). */
  def snapshot(s: SparkSession): DataFrame =
    latestCommittedBelow(s, Long.MaxValue).map(snapshotAt(s, _)).getOrElse(empty(s))

  /** Latest snapshot committed STRICTLY before `batchId` — what a
    * (possibly replayed) batch `batchId` must merge into. */
  def snapshotBefore(s: SparkSession, batchId: Long): DataFrame =
    latestCommittedBelow(s, batchId).map(snapshotAt(s, _)).getOrElse(empty(s))

  /** foreachBatch hook: merge one micro-batch of projected CDC rows
    * (envelope `op, sequence, event_number` + the payload columns)
    * into the snapshot. Safe to call again with the same `batchId`
    * (restart replay / foreachBatch retry): the inputs are identical,
    * so the rewritten `snap_<batchId>` is identical. Runs under
    * [[graft.util.Confs.withMicroBatchExec]] like the other state
    * hooks: the merge is one shuffle, and one job writes it. */
  def applyBatch(cdc: DataFrame, batchId: Long): Unit = {
    val s = cdc.sparkSession
    graft.util.Confs.withMicroBatchExec(s) {
      // the write job counts the batch's rows as they pass (no probe
      // job of its own). A DDL-only micro-batch has zero DML rows for
      // the table: its write rewrote the previous snapshot unchanged,
      // so it is deleted again and later reads resolve to the previous
      // committed snapshot, which holds identical content. A replay of
      // the empty batch writes and deletes again, so idempotence holds.
      // Keeping that copy is never wrong, only redundant — so a crash
      // between write and delete, or a count that does not arrive
      // (observed metrics come through the listener bus), keeps it.
      val rows = Observation()
      val next = CdcMaterializer.applyBatch(
        snapshotBefore(s, batchId),
        cdc.select((Seq("op", "sequence", "event_number") ++ payload.fieldNames).map(col): _*)
          .observe(rows, count(lit(1)).as("n")),
        keys)
      val out = s"$path/snap_$batchId"
      // fixture snapshots are small; at scale this coalesce becomes a
      // partitioned write of only the touched key ranges
      next.coalesce(4).write.mode("overwrite").parquet(out)
      val n = scala.util.Try(Await.result(rows.future, 30.seconds).getLong(0))
      if (n.toOption.contains(0L)) hfs(s).delete(new org.apache.hadoop.fs.Path(out), true)
    }
  }

  /** Drop all but the last `keepLast` committed snapshots — retention,
    * run after a drain (never concurrently with applyBatch). */
  def prune(s: SparkSession, keepLast: Int = 2): Unit = {
    val fs = hfs(s)
    snapshotIds(s).dropRight(keepLast).foreach { id =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/snap_$id"), true)
    }
  }
}
