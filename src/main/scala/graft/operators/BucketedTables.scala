package graft.operators

import graft.{SessionCache, Tables}
import org.apache.spark.sql.SparkSession

/** Physically bucketed, bucket-sorted table materialization — the
  * storage-layout half of a co-located join. `bucketBy(n, key)` +
  * `sortBy(key)` writes each table pre-partitioned AND pre-sorted on
  * its join key; two tables bucketed the same way then sort-merge-join
  * with NO exchange and NO sort (each task zips bucket i with bucket
  * i). At 100 TB this is the difference between re-shuffling the fact
  * table on every join and paying the layout cost ONCE at ingest —
  * the same write-once-read-everywhere doctrine as the pairs cache,
  * applied to the physical layout instead of a computed relation.
  *
  * Materialization runs once per (session, fixture dir) — re-written
  * (mode overwrite) rather than trusted across JVMs, so a regenerated
  * fixture can never serve stale buckets. Bucket count is fixed at 8:
  * at real scale pick n_buckets ≈ table_size / target_file_size and
  * keep it IDENTICAL across co-joined tables (mismatched counts fall
  * back to a shuffle on one side).
  */
object BucketedTables {

  private val cache = new SessionCache[(String, String)]()

  /** The bucketed layout's planner confs:
    *
    *  - `legacy.bucketedTableScan.outputOrdering=true` exposes the
    *    buckets' sortBy order to the scan so the join skips its Sort;
    *    off by default since Spark 3.0 because multi-file buckets would
    *    need a per-file merge — safe here because the writer routes
    *    each bucket to exactly one file. Non-bucketed parquet scans are
    *    unaffected.
    *  - `autoBucketedScan.enabled=false`: DisableUnnecessaryBucketedScan
    *    would turn a point lookup's scan back into a plain file scan
    *    (no join/agg needs the distribution) — discarding static bucket
    *    PRUNING, the whole point of q100b. Only bucketed-table scans
    *    are affected, and the only bucketed tables in this app are the
    *    two written below. */
  private val bucketingConfs: Seq[(String, String)] = Seq(
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
    "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")

  /** Confs every graft session builder applies at construction (Bench,
    * Verify, BenchSome, the test session, the benchmark harness): the
    * two planner confs the bucketed layout relies on, so a session
    * never changes planner configuration mid-flight (see the note in
    * [[ensure]]), plus the fork-free local filesystem
    * ([[graft.util.NioLocalFs]]), which only takes effect when set
    * before the session's first file access. */
  val sessionConfs: Seq[(String, String)] = bucketingConfs ++ graft.util.NioLocalFs.sessionConfs

  /** Returns (ordersTable, lineitemTable) bucketed+sorted on the order
    * key, writing them on first use in this session. */
  def ensure(s: SparkSession, dir: String, buckets: Int = 8): (String, String) =
    // bucket count is part of the cache identity (the table name already
    // encodes it — the cache key must too, or a buckets=4 caller after a
    // buckets=8 one silently gets the 8-bucket tables back)
    cache.getOrElseUpdate(s, s"$dir#b=$buckets", {
      // The two bucketed-scan confs must be active when a q100/q100b
      // PLAN is compiled (action time, not construction time — the
      // driver executes lazily), so they cannot be scoped save/restore
      // around this call. Instead every graft-managed session builder
      // (Bench, Verify, SparkTestSession) pre-sets them via
      // [[sessionConfs]], making the planner configuration uniform from
      // the session's first query — no mid-session flip. The sets below
      // are then no-ops, kept only so the q100/q100b plan guards still
      // hold under an externally-built session.
      bucketingConfs.foreach { case (k, v) => s.conf.set(k, v) }
      val pfx = "graft_b" + buckets + "_" + WarehouseTables.dirDigest(dir)
      val orders = s"${pfx}_orders"
      val lineitem = s"${pfx}_lineitem"
      write(s, dir, "orders", orders, "o_orderkey", buckets)
      write(s, dir, "lineitem", lineitem, "l_orderkey", buckets)
      (orders, lineitem)
    })

  private def write(s: SparkSession, dir: String, src: String, table: String,
      key: String, buckets: Int): Unit =
    WarehouseTables.rewrite(s, table) {
      // one FILE per bucket, not just one bucket per file: the scan only
      // exposes the sortBy order (letting the join skip its Sort) when
      // every bucket is a single file, so route each bucket's rows to one
      // write task first (repartition uses the same murmur3 hash as the
      // bucket spec)
      Tables(s, dir, src)
        .repartition(buckets, org.apache.spark.sql.functions.col(key))
        .write
        .mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    }
}
