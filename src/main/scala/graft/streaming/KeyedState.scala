package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.util.{Confs, Sessions}

/** One table of a [[KeyedState]]: the parquet dir `statePath/name`,
  * bucket-partitioned on `keys` ([[StateLayout]]), holding rows of the
  * logical schema `logical` builds. `derive` maps a batch's fresh rows
  * (one per state key, see [[KeyedState.ingest]]) to the rows the table
  * stores. */
final case class StateTable(name: String, keys: Seq[String],
    logical: SparkSession => StructType,
    derive: DataFrame => DataFrame = identity) {
  @volatile private var memo: StructType = _

  /** The logical schema, built once: it follows from the table's
    * stages, not from the session, and building it plans a query. */
  def schema(spark: SparkSession): StructType = {
    if (memo == null) memo = logical(spark)
    memo
  }
}

/** The per-batch protocol shared by the parquet incremental states
  * (the streaming twins of q66/q88/q112/q119/q126/q133). A state is a
  * set of append-only [[StateTable]]s keyed by one long column `key`
  * (doc_id or vec_id), plus `tombstones/` — one row per retracted key.
  * Each subclass supplies its tables and its emission view; everything
  * below is implemented once, here.
  *
  * INGEST ([[ingest]]): the batch is deduplicated on the key (a resumed
  * connection can re-deliver an event inside one micro-batch),
  * checkpointed (micro-batch sources are not re-scannable) and counted
  * once; an empty batch (DDL-only or delete-only) returns before any
  * guard read. Each table's append is then anti-joined on the key
  * against THAT table's committed keys ∪ the tombstones: per-table
  * guards make a retry after a partial failure re-run exactly the
  * appends that did not commit, and a replayed insert of a deleted key
  * appends nothing. The guard read is pruned to the batch's buckets
  * once the dir has grown ([[StateLayout.readPruned]]), and skipped
  * while nothing is committed (an anti-join against an empty side is
  * the identity).
  *
  * RETRACTION ([[retractBatch]]): a CDC DELETE appends a tombstone and
  * does no other work. Emission views read through [[live]], so every
  * corpus-wide judgment is a pure function of (inserted keys) −
  * (deleted keys), whatever order the events arrived in. Tombstones win
  * and are permanent: a re-insertion is a new key upstream.
  *
  * COMPACTION ([[compact]], polled after each batch hook against
  * `autoCompactFiles`): rewrites each table through the crash-safe swap
  * protocol, and is where retraction becomes physical — tombstoned rows
  * are dropped, tombstones are retained so a later replay still appends
  * nothing. All reads and writes go through [[StateLayout]], so a state
  * whose compaction crashed heals on its next access. */
abstract class KeyedState(statePath: String, key: String,
    autoCompactFiles: Int) {

  /** foreachBatch hook for CDC INSERTs: the key plus the columns the
    * state's transform reads. */
  def processBatch(batch: DataFrame, batchId: Long): Unit

  /** The state tables, in append order. */
  protected def tables: Seq[StateTable]

  /** Further dirs the compaction poll watches (rewritten by [[compactMore]]). */
  protected def extraDirs: Seq[String] = Nil

  /** Rows of table `t` that a compaction keeps, before the tombstone drop. */
  protected def retained(t: StateTable, rows: DataFrame): DataFrame = rows

  /** Compaction of the dirs in [[extraDirs]]; `tombs` is the checkpointed
    * tombstone set, if any. */
  protected def compactMore(spark: SparkSession, tombs: Option[DataFrame]): Unit = ()

  protected final def dir(name: String): String = s"$statePath/$name"
  private def dirOf(t: StateTable): String = dir(t.name)
  private val tombstonesDir = dir("tombstones")
  private val tombSchema = StructType(Seq(StructField(key, LongType)))

  /** Compactions this instance has run (policy-triggered or manual) —
    * exposed so the drills can assert the policy actually fired. */
  @volatile private var nCompactions = 0
  def compactionCount: Int = nCompactions

  /** None until the first DELETE lands, so an insert-only stream skips
    * the tombstone anti-joins. */
  private def tombstonesOpt(spark: SparkSession): Option[DataFrame] =
    StateLayout.readOpt(spark, tombstonesDir, tombSchema)

  /** `df` minus the rows whose `cols` (each holding a state key) name a
    * key in `tombs`. */
  protected final def without(df: DataFrame, tombs: Option[DataFrame],
      cols: Seq[String] = Seq(key)): DataFrame =
    tombs.fold(df)(t => cols.foldLeft(df)((d, c) =>
      d.join(t.withColumnRenamed(key, c), Seq(c), "left_anti"))
      .select(df.columns.toSeq.map(col): _*))

  /** Every committed row of `t`. */
  protected final def read(spark: SparkSession, t: StateTable): DataFrame =
    StateLayout.read(spark, dirOf(t), t.schema(spark))

  /** The survivors' view of `df`: rows of retracted keys removed. */
  protected final def live(df: DataFrame, cols: Seq[String] = Seq(key)): DataFrame =
    without(df, tombstonesOpt(df.sparkSession), cols)

  /** Runs `body` on the batch deduplicated on the key and checkpointed,
    * under the micro-batch execution scope sized by its row count.
    * Returns false, without running `body`, on an empty batch. */
  protected final def inBatchScope(rows: DataFrame)(body: DataFrame => Unit): Boolean = {
    val spark = rows.sparkSession
    val batch = rows.dropDuplicates(Seq(key)).localCheckpoint(true)
    val n = batch.count()
    if (n > 0)
      Confs.withShufflePartitions(spark, Confs.microBatchPartitionsFor(spark, n)) {
        Confs.withMicroBatchExec(spark)(body(batch))
      }
    n > 0
  }

  /** The insert hook: `rows` carries the key plus whatever the tables'
    * `derive` functions read. */
  protected final def ingest(rows: DataFrame): Unit =
    if (inBatchScope(rows)(batch => tables.foreach(appendFresh(batch, _))))
      maybeCompact(rows.sparkSession)

  /** The guard read prunes on the key, so `t` must be bucketed on it. */
  private def appendFresh(batch: DataFrame, t: StateTable): Unit = {
    val spark = batch.sparkSession
    val seen = StateLayout.readPrunedOpt(spark, dirOf(t), t.schema(spark),
        batch, Seq(key)).map(_.select(key)).toSeq ++
      tombstonesOpt(spark).map(_.select(key))
    val fresh = seen.reduceOption(_ union _)
      .fold(batch)(s => batch.join(s.distinct(), Seq(key), "left_anti"))
    StateLayout.append(t.derive(fresh), dirOf(t), t.keys)
  }

  /** foreachBatch hook for CDC DELETEs: `deletes` needs the key. O(1)
    * per delete, idempotent under replay. An empty slice appends
    * nothing, so the tombstone dir is not created for nothing. */
  def retractBatch(deletes: DataFrame, batchId: Long): Unit = {
    val spark = deletes.sparkSession
    Sessions.ensureActive(spark)
    val ids = deletes.select(col(key).cast("long").as(key))
      .dropDuplicates(Seq(key))
      .localCheckpoint(true)
    if (ids.isEmpty) return
    StateLayout.appendFlat(live(ids), tombstonesDir)
    maybeCompact(spark)
  }

  /** The automatic compaction policy (VERDICT r10 item 5): fires when
    * any state dir's file count exceeds `autoCompactFiles`.
    * Content-preserving and crash-safe, so firing mid-stream is sound. */
  protected final def maybeCompact(spark: SparkSession): Unit =
    if (StateLayout.autoCompactDue(spark,
        (tables.map(dirOf) :+ tombstonesDir) ++ extraDirs, autoCompactFiles))
      compact(spark)

  /** An append of an empty batch leaves a dir with no parquet file:
    * nothing to compact there. */
  protected final def hasData(spark: SparkSession, dir: String): Boolean =
    StateLayout.exists(spark, dir) && StateLayout.parquetFileCount(spark, dir) > 0

  /** Bound the state-file count, and drop tombstoned rows physically
    * (the hard-delete point); tombstones are retained. */
  final def compact(spark: SparkSession): Unit = {
    Sessions.ensureActive(spark)
    val tombs = tombstonesOpt(spark).map(_.localCheckpoint(true))
    tables.foreach { t =>
      if (hasData(spark, dirOf(t))) {
        val rows = retained(t, read(spark, t))
        StateLayout.overwriteCompacted(without(rows, tombs).localCheckpoint(true),
          dirOf(t), t.keys)
      }
    }
    tombs.foreach(StateLayout.overwriteSmall(_, tombstonesDir))
    compactMore(spark, tombs)
    nCompactions += 1
  }
}

object KeyedState {
  /** An empty (doc_id, text) relation — the input shape most tables
    * derive their schema from. */
  def emptyDocs(spark: SparkSession): DataFrame =
    spark.createDataFrame(Seq.empty[(Long, String)]).toDF("doc_id", "text")
}
