package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

/** Bucketed physical layout for the incremental states' parquet dirs
  * (VERDICT r10 item 2).
  *
  * Every incremental state (IncrementalLineDedup, IncrementalDupSpans,
  * IncrementalSubstringRemoval, IncrementalReportCard, IncrementalIvf,
  * IncrementalNearDup, the qc4 feed) runs a per-batch replay-guard
  * anti-join — "drop batch rows whose key is already committed" — and
  * some run heavier probes (the near-dup candidate stage). With a flat
  * state dir every such probe SCANS the whole committed state every
  * micro-batch: file IO that grows with the corpus, not the batch. This
  * helper writes state through `partitionBy` on a stable hash bucket of
  * the probe key, so a per-batch probe reads only the partitions its
  * batch keys can possibly live in — `PartitionFilters` at the file
  * source, O(touched buckets) IO — the repo's q100b/q102 partition-
  * pruning machinery applied to its own state stores.
  *
  * Soundness of pruned reads: the bucket is a pure function of the key
  * ([[bucketOf]] — Murmur3 `hash` mod [[NumBuckets]]), so any committed
  * row that could equi-join (or anti-join) a batch key lives in that
  * key's bucket; restricting the scan to the batch's bucket set cannot
  * change the join result. The bucket column is physical layout only —
  * [[read]]/[[readPruned]] return exactly the logical schema, so
  * results (and oracle hashes) are unchanged.
  *
  * Bucket count: 16 balances pruning (a 1-doc batch reads ≤ 1/16 of
  * state files) against small-file pressure (each append creates ≤ 16
  * files; the periodic [[KeyedState.compact]] rewrite bounds the
  * accumulation — standard streaming-state hygiene either way).
  *
  * This object is the only code that writes or deletes a state
  * directory: bucketed appends ([[append]]), flat appends for the small
  * unbucketed dirs ([[appendFlat]]), the two swap-protocol rewrites and
  * [[delete]]. Each of them runs crash recovery first and drops the
  * memoised file count after, so no caller can skip either.
  */
object StateLayout {

  val NumBuckets = 16
  val BucketCol = "sb"

  /** Stable bucket of `keys` — pure function of the key columns, same
    * on the write and probe side. */
  def bucketOf(keys: Seq[String]): Column =
    pmod(hash(keys.map(col): _*), lit(NumBuckets))

  /** Append `df` under `dir`, physically partitioned by the key bucket.
    * The batch is repartitioned ON the bucket column first, so one
    * append writes ≤ [[NumBuckets]] files (one per non-empty bucket)
    * instead of tasks × buckets — the small shuffle it costs is
    * batch-sized, and it is what keeps the small-file accumulation rate
    * (and with it the [[autoCompactDue]] cadence) proportional to
    * batches, not to batch partitioning. */
  def append(df: DataFrame, dir: String, keys: Seq[String]): Unit = {
    recover(df.sparkSession, dir)
    // the audit hook sees the FULL per-batch upstream DAG here — every
    // incremental state's batch computation terminates in an append,
    // so this one record() covers the streaming twins' per-batch plans
    graft.util.StageAudit.record(s"state-append:${dirLabel(dir)}",
        df.withColumn(BucketCol, bucketOf(keys))
          .repartition(NumBuckets, col(BucketCol)))
      .write.mode("append").partitionBy(BucketCol).parquet(dir)
    invalidateCount(dir)
  }

  /** Plain append of `df` under `dir` with no bucket layout — for the
    * small dirs no per-batch probe prunes (tombstones, the near-dup
    * ledger and poison markers). */
  def appendFlat(df: DataFrame, dir: String): Unit = {
    recover(df.sparkSession, dir)
    df.write.mode("append").parquet(dir)
    invalidateCount(dir)
  }

  /** Remove `dir` and any compaction leftovers beside it, so no later
    * recovery can restore bytes from before the delete. */
  def delete(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    Seq(dir, tmpDir(dir), oldDir(dir)).foreach(d =>
      fs.delete(new org.apache.hadoop.fs.Path(d), true))
    invalidateCount(dir)
  }

  /** Stable audit label: scratch roots are per-run temp dirs, so key
    * the captured plan by the state dir's leaf name only. */
  private def dirLabel(dir: String): String =
    dir.reverse.takeWhile(_ != '/').reverse

  /** Compaction rewrite preserving the bucketed layout: `repartition`
    * ON the bucket column puts each bucket's rows in exactly one task,
    * so the rewritten dir holds one file per non-empty bucket — ≤
    * [[NumBuckets]] files total, however many micro-batch appends (each
    * up to [[NumBuckets]] small files) accumulated before the rewrite.
    * Per-bucket sub-splitting would only matter once a single bucket
    * outgrows one task's write, at which point raising [[NumBuckets]]
    * is the right lever (it also sharpens pruning). */
  def overwriteCompacted(df: DataFrame, dir: String, keys: Seq[String]): Unit =
    swapIn(df.sparkSession, dir) { tmp =>
      graft.util.StageAudit.record(s"state-compact:${dirLabel(dir)}",
          df.withColumn(BucketCol, bucketOf(keys))
            .repartition(NumBuckets, col(BucketCol)))
        .write.mode("overwrite").partitionBy(BucketCol).parquet(tmp)
    }

  /** Swap-protocol rewrite for the SMALL flat dirs (tombstones): same
    * crash-safety as [[overwriteCompacted]], single output file. */
  def overwriteSmall(df: DataFrame, dir: String): Unit =
    swapIn(df.sparkSession, dir) { tmp =>
      df.repartition(1).write.mode("overwrite").parquet(tmp)
    }

  private[streaming] def tmpDir(dir: String) = dir + ".compacting"
  private[streaming] def oldDir(dir: String) = dir + ".precompact"

  /** Crash-safe rewrite of `dir` (VERDICT r10 item 5's drill target): a
    * naive read-snapshot-overwrite loses the ENTIRE state if the
    * process dies between the overwrite's delete and its write — the
    * localCheckpoint snapshot dies with the JVM. Protocol: write the
    * full replacement to `dir.compacting`, then commit with two
    * renames (dir → dir.precompact, dir.compacting → dir) and drop the
    * old bytes. Every crash window is recoverable from what is on disk
    * ([[recover]]): before the first rename the state dir is untouched
    * (stale tmp is discarded); between the renames the complete
    * replacement rolls FORWARD; after the second the leftover old dir
    * is dropped. [[read]]/[[readPruned]]/[[exists]] run recovery before
    * touching the dir, so a restarted stream heals on first access. */
  private def swapIn(spark: SparkSession, dir: String)(
      write: String => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(tmpDir(dir))
    val old = new org.apache.hadoop.fs.Path(oldDir(dir))
    write(tmpDir(dir))
    if (fs.exists(d)) {
      if (!fs.rename(d, old))
        throw new java.io.IOException(s"compaction commit: cannot move $d aside")
    }
    if (!fs.rename(tmp, d))
      throw new java.io.IOException(s"compaction commit: cannot install $tmp")
    fs.delete(old, true)
    invalidateCount(dir)
    ()
  }

  /** Heal `dir` from any compaction crash window — see [[swapIn]].
    * Idempotent and cheap (two existence checks) when nothing crashed. */
  private def recover(spark: SparkSession, dir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(tmpDir(dir))
    val old = new org.apache.hadoop.fs.Path(oldDir(dir))
    if (fs.exists(d)) {
      // pre-commit or post-commit crash: the live dir wins; leftovers
      // are stale (a partial tmp, or the already-replaced old bytes)
      fs.delete(tmp, true)
      fs.delete(old, true)
    } else if (fs.exists(old)) {
      if (fs.exists(tmp)) {
        // crashed between the two renames: tmp is COMPLETE (it was
        // fully written before the first rename) — roll forward
        if (!fs.rename(tmp, d))
          throw new java.io.IOException(s"compaction recovery: cannot install $tmp")
        fs.delete(old, true)
      } else {
        // tmp vanished (should not happen) — roll back to the old bytes
        if (!fs.rename(old, d))
          throw new java.io.IOException(s"compaction recovery: cannot restore $old")
      }
      invalidateCount(dir)
    }
    ()
  }

  /** Default auto-compaction trigger: compact once a state dir holds
    * more than this many parquet files. With [[append]] bounded at ≤
    * [[NumBuckets]] files per batch, the default fires roughly every
    * 16 batches — frequent enough to keep probe IO flat, rare enough
    * that the O(state) rewrite amortizes to ~state/16 per batch. The
    * drill entries pass a lower threshold so the policy demonstrably
    * fires inside their bounded workloads; a production caller tunes it
    * with batch size (bigger batches ⇒ fewer, larger rewrites). */
  val AutoCompactFiles = 256

  /** Memoised recursive parquet-file counts (VERDICT r14 item 3 —
    * cache FS listings across the poll sites): one micro-batch polls
    * the same dirs repeatedly (prunes + readPruned per state table,
    * then the whole-dir autoCompact poll), each a recursive LIST. The
    * count only feeds POLICY decisions — the compaction trigger and
    * the pruned-vs-flat read choice, both result-identical either way
    * — so a cached value can never change what a query computes. It
    * stays exact because every write or delete of a state dir goes
    * through this object, and each of those paths (the appends, the
    * swap rewrite, crash recovery, [[delete]]) invalidates it. */
  private val fileCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def invalidateCount(dir: String): Unit = { fileCountCache.remove(dir); () }

  /** Recursive parquet-file count — one listing per (dir, mutation);
    * cheap on a filesystem, one LIST per dir on object stores (per
    * batch, not per row). */
  def parquetFileCount(spark: SparkSession, dir: String): Int =
    Option(fileCountCache.get(dir)).map(_.intValue).getOrElse {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val n = if (!fs.exists(p)) 0
      else {
        val it = fs.listFiles(p, true)
        var c = 0
        while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) c += 1 }
        c
      }
      fileCountCache.put(dir, n)
      n
    }

  /** The auto-compaction policy poll (VERDICT r10 item 5): true when
    * any of `dirs` has accumulated more files than `threshold`.
    * [[KeyedState]] polls it at the end of each batch hook and runs its
    * `compact` when due — count/size-triggered, restart-safe (the
    * signal is on disk, not in the instance), and content-preserving
    * (compaction only rewrites, so oracle hashes cannot move). */
  def autoCompactDue(spark: SparkSession, dirs: Seq[String],
      threshold: Int = AutoCompactFiles): Boolean =
    dirs.exists(d => parquetFileCount(spark, d) > threshold)

  private def schemaWithBucket(schema: StructType): StructType =
    schema.add(BucketCol, IntegerType)

  private def logicalCols(schema: StructType): Seq[Column] =
    schema.fields.toSeq.map(f => col(f.name))

  private def emptyOf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  def exists(spark: SparkSession, dir: String): Boolean = {
    recover(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Full state read (emission paths — inherently O(state)); empty
    * relation when the dir does not exist yet. `schema` is the LOGICAL
    * schema, without the bucket column. */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    if (!exists(spark, dir)) emptyOf(spark, schema)
    else spark.read.schema(schemaWithBucket(schema)).parquet(dir)
      .select(logicalCols(schema): _*)

  /** Pruned state read for per-batch probes: only the partitions whose
    * bucket appears among `probe`'s `probeKeys` buckets are scanned
    * (`PartitionFilters` at the file source). `probe` must be bounded
    * and cheap to evaluate (the states checkpoint their batch first) —
    * its distinct bucket set (≤ [[NumBuckets]] ints) is collected on
    * the driver to drive the partition filter. Returns the logical
    * schema; see the class doc for why restricting to these partitions
    * is join/anti-join exact. */
  /** Below this file count a pruned read falls back to the FLAT read:
    * collecting the probe's distinct buckets costs a driver-side job,
    * which only pays for itself once the dir holds enough files for
    * partition pruning to skip real IO. A fixture-scale state (a couple
    * of appends) stays on the flat path; a grown state (many committed
    * batches) prunes. Every consumer is key-restricted (equi-join or
    * anti-join on the probe keys), so flat vs pruned is
    * result-identical by the same soundness argument as pruning
    * itself. */
  val PruneMinFiles: Int = 2 * NumBuckets

  /** [[read]] as Some(relation), or None when the dir has never been
    * written — callers skip identity anti-joins and empty-relation
    * checkpoint jobs entirely instead of planning them against a
    * provably empty side. Each skipped step is a driver-scheduled job
    * at micro-batch cadence: the fixture-scale overhead class VERDICT
    * r11 flagged on the streaming-twin entries (semantics unchanged —
    * a join against an empty relation is the identity, an empty
    * union side is a no-op). */
  def readOpt(spark: SparkSession, dir: String,
      schema: StructType): Option[DataFrame] =
    if (exists(spark, dir)) Some(read(spark, dir, schema)) else None

  /** [[readPruned]] with the same None-when-never-written contract as
    * [[readOpt]]. */
  def readPrunedOpt(spark: SparkSession, dir: String, schema: StructType,
      probe: DataFrame, probeKeys: Seq[String]): Option[DataFrame] =
    if (exists(spark, dir)) Some(readPruned(spark, dir, schema, probe, probeKeys))
    else None

  /** Whether [[readPruned]] on `dir` would take the PRUNED path (and
    * therefore evaluate its probe relation) — callers use this to
    * decide if a probe fed to several readPruned calls is worth
    * checkpointing: below the threshold the probe is never evaluated,
    * so materializing it is a pure driver-job cost. */
  def prunes(spark: SparkSession, dir: String): Boolean =
    exists(spark, dir) && parquetFileCount(spark, dir) > PruneMinFiles

  def readPruned(spark: SparkSession, dir: String, schema: StructType,
      probe: DataFrame, probeKeys: Seq[String]): DataFrame =
    if (!exists(spark, dir)) emptyOf(spark, schema)
    else if (parquetFileCount(spark, dir) <= PruneMinFiles)
      read(spark, dir, schema)
    else {
      val buckets = probe
        .select(pmod(hash(probeKeys.map(probe(_)): _*), lit(NumBuckets))
          .as(BucketCol))
        .distinct().collect().map(_.getInt(0)).toSeq
      spark.read.schema(schemaWithBucket(schema)).parquet(dir)
        .where(col(BucketCol).isin(buckets: _*))
        .select(logicalCols(schema): _*)
    }

  // ---- Bloom sidecar: the O(batch) replay guard for the ONE state
  // read the bucket layout cannot prune (IncrementalNearDup's bands/
  // guard — the dir partitions on the band key, the guard probes by
  // doc_id). A sidecar dir of bloom segments over ever-appended guard
  // keys turns the common case (no replay) into a broadcast membership
  // test: keys no segment might-contain are provably fresh and append
  // without touching the committed dir; only might-contained keys
  // (true replays, or false positives at [[BloomFpp]]) pay the exact
  // anti-join scan. Soundness does not rest on the sketch: a false
  // POSITIVE only routes a fresh key to the exact path (extra IO,
  // same result), and false negatives do not exist in a bloom filter,
  // so a committed key can never skip the guard. Crash ordering makes
  // the sidecar an OVER-approximation of the committed key set: the
  // segment for a batch is durable BEFORE its data append commits, so
  // a crash between the two leaves an extra-covered key — which only
  // routes its replay to the exact path. A LOST sidecar (or one
  // predating the feature) is healed by rebuilding from the committed
  // dir — the same O(state) scan the guard used to pay every batch,
  // paid once. ----

  /** Per-segment false-positive probability. At fp ≈ 1e-3, a 10k-doc
    * batch expects ~10 false-positive keys — a bounded broadcast side
    * for the exact fallback join, and the full-dir scan itself fires
    * only when the maybe-set is non-empty. */
  val BloomFpp = 0.001

  /** Sidecar location for a state dir's guard blooms. */
  def bloomSidecar(dir: String): String = dir + "_bloom"

  private def fsOf(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write ONE bloom segment over the distinct long values of `key` in
    * `ids`. Must be called BEFORE the data append it covers (see the
    * section doc's crash-ordering argument). */
  def appendBloom(spark: SparkSession, sidecarDir: String, ids: DataFrame,
      key: String): Unit =
    appendBloomDistinct(spark, sidecarDir,
      ids.select(col(key).cast("long").as(key)).distinct(), key)

  /** [[appendBloom]] over an ALREADY-distinct `key` relation — callers
    * that hold the batch's distinct key set (checkpointed for the
    * sketch probe) skip re-running the distinct shuffle here. */
  def appendBloomDistinct(spark: SparkSession, sidecarDir: String,
      vals: DataFrame, key: String): Unit =
    appendBloomSized(spark, sidecarDir, vals, key, vals.count())

  /** [[appendBloomDistinct]] with the distinct-key count already in
    * hand — callers that learned it from an earlier aggregation (the
    * fused guard probe) skip the sizing count job entirely. */
  def appendBloomSized(spark: SparkSession, sidecarDir: String,
      vals: DataFrame, key: String, n: Long): Unit = {
    if (n > 0) {
      val bloom = vals.stat.bloomFilter(key, math.max(1024L, 2L * n), BloomFpp)
      val fs = fsOf(spark, sidecarDir)
      val p = new org.apache.hadoop.fs.Path(sidecarDir,
        s"seg-${java.util.UUID.randomUUID().toString.replace("-", "")}.bloom")
      val out = fs.create(p, false)
      try bloom.writeTo(out) finally out.close()
    }
  }

  /** All committed bloom segments (empty when the sidecar is missing —
    * callers fall back to the exact scan, or rebuild). */
  def readBlooms(spark: SparkSession,
      sidecarDir: String): Seq[org.apache.spark.util.sketch.BloomFilter] = {
    val fs = fsOf(spark, sidecarDir)
    val p = new org.apache.hadoop.fs.Path(sidecarDir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.getPath.getName.endsWith(".bloom"))
      .sortBy(_.getPath.getName)
      .map { f =>
        val in = fs.open(f.getPath)
        try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
        finally in.close()
      }
  }

  /** Rewrite the sidecar to one segment over `ids` (compaction, or the
    * heal path). Crash-safe without renames: the merged segment lands
    * first, old segments are dropped after — every crash window leaves
    * either extra segments (over-approximation, exact-path routing
    * only) or, if the write itself died, the old segments intact. */
  def rebuildBloom(spark: SparkSession, sidecarDir: String, ids: DataFrame,
      key: String): Unit = {
    val fs = fsOf(spark, sidecarDir)
    val p = new org.apache.hadoop.fs.Path(sidecarDir)
    val old = if (fs.exists(p)) fs.listStatus(p).toSeq
      .filter(_.getPath.getName.endsWith(".bloom")).map(_.getPath)
    else Seq.empty
    appendBloom(spark, sidecarDir, ids, key)
    old.foreach(fs.delete(_, false))
  }
}
