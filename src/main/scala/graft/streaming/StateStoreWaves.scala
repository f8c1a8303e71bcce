package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** The one runner that streams waves through a RocksDB-backed stateful
  * plan — the state-store twins q66f/q66g/q119f/q119g start their
  * queries here, and the continuous wire drills (qc8–qc10) share its
  * conf loan and sink.
  *
  * Wave/restart contract of [[run]]: each wave is one micro-batch,
  * drained before the next is added, so state carried between waves
  * crosses real batch boundaries. `restartAfterWave = Some(i)` STOPS
  * the query after wave `i` is drained and starts a fresh one on the
  * SAME checkpoint — the crash/redeploy recovery path: the RocksDB
  * state is restored from the checkpoint and the resumed query
  * continues at the committed offset. A lost or replayed state shows
  * as a different event count, which the drill specs pin against the
  * single-query run.
  *
  * Every run writes its events to a parquet file sink: the sink that
  * recovers from a checkpoint, and the realistic production one — its
  * `_spark_metadata` commit log keeps the read-back exactly-once even
  * if a crash leaves orphan files.
  *
  * Under [[graft.util.StageAudit.capturing]] each drained wave's
  * micro-batch plan is recorded as `<tag>:wave<i>`. */
object StateStoreWaves {

  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Session confs for every RocksDB-backed stateful drill: the provider
    * plus CHANGELOG CHECKPOINTING — per-batch commits upload the batch's
    * key-value delta instead of a full store snapshot (snapshots are
    * produced asynchronously in the background), so micro-batch commit
    * cost is O(batch), not O(state). Recovery replays snapshot +
    * changelogs — the restart drills (q66f/q119f/qc14) run unchanged on
    * the same checkpoint contract. */
  val RocksDbConfs: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
      -> "true")

  /** Run `body` with [[RocksDbConfs]] set on the session; the previous
    * values come back however `body` ends, and a conf that was not set
    * (even one with a default) is unset again. */
  def withRocksDb[T](spark: SparkSession)(body: => T): T = {
    val explicit = spark.conf.getAll
    val prevs = RocksDbConfs.map { case (k, _) => k -> explicit.get(k) }
    try {
      RocksDbConfs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prevs.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Measured shape of one run: state rows and bytes summed over the
    * stateful operators of the last progress, and the number of events
    * the plan emitted. */
  final case class StateShape(stateRows: Long, stateBytes: Long, events: Long)

  /** Start the append-mode parquet file sink of `events` at `dir`,
    * checkpointed at `ckpt`. */
  private[streaming] def startParquetSink(events: DataFrame, dir: String,
      ckpt: String): StreamingQuery =
    events.writeStream.format("parquet").option("path", dir)
      .outputMode("append").option("checkpointLocation", ckpt).start()

  /** Stream `waves` through `plan` on the RocksDB provider under the
    * wave/restart contract above, with checkpoint and sink dirs named
    * after `tag`. `plan` sees a stream with the columns of the first
    * wave (every wave is read by those names). Returns every emitted
    * event, materialized, and the measured shape. */
  def run(spark: SparkSession, tag: String, waves: Seq[DataFrame],
      restartAfterWave: Option[Int])(
      plan: DataFrame => DataFrame): (DataFrame, StateShape) =
    withRocksDb(spark) {
      val cols = waves.head.columns.toSeq.map(col)
      val mem = MemoryStream[Row](Encoders.row(waves.head.schema), spark)
      val events = plan(mem.toDF())
      val ckpt = graft.util.Scratch.dir(s"$tag-ckpt")
      val evDir = graft.util.Scratch.dir(s"$tag-events")
      var q = startParquetSink(events, evDir, ckpt)
      try {
        waves.zipWithIndex.foreach { case (w, i) =>
          mem.addData(w.select(cols: _*).collect().toSeq)
          q.processAllAvailable()
          graft.util.StageAudit.record(s"$tag:wave$i",
            q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution)
          if (restartAfterWave.contains(i) && i < waves.size - 1) {
            q.stop()
            q = startParquetSink(events, evDir, ckpt)
          }
        }
        val st = Option(q.lastProgress).toSeq.flatMap(_.stateOperators.toSeq)
        val all = spark.read.schema(events.schema).parquet(evDir)
          .localCheckpoint(true)
        (all, StateShape(
          stateRows = st.map(_.numRowsTotal).sum,
          stateBytes = st.map(_.memoryUsedBytes).sum,
          events = all.count()))
      } finally q.stop()
    }
}
