package graft.streaming

import graft.{SparkTestSession, Tables}
import graft.queries.LlmText
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r10 item 5: automatic, crash-safe compaction for the
  * incremental states. Pins (a) the policy actually FIRES from the
  * batch hooks once a state dir crosses the file threshold, with
  * content identical to an uncompacted run and the file count bounded
  * across a long drill; (b) every kill-mid-compaction crash window of
  * the swap protocol heals on next access with no rows lost, also when
  * the dir is a state's tombstones and the next call is a compaction. */
class CompactionPolicySpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("policy fires mid-stream, bounds the file count, and preserves content") {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toVector
    assert(docs.size >= 300)

    // low threshold: with appends bounded at ≤ NumBuckets files each,
    // wave 2+ must trip the policy — a long drill of 8 insert waves
    // plus interleaved retract waves
    val autoDir = tmp("auto-compact")
    val auto = new IncrementalLineDedup(autoDir, autoCompactFiles = 8)
    val manual = new IncrementalLineDedup(tmp("no-compact"), autoCompactFiles = Int.MaxValue)
    val waves = docs.grouped(math.max(docs.size / 8, 1)).toSeq
    import spark.implicits._
    for ((w, i) <- waves.zipWithIndex) {
      val batch = w.toDF("doc_id", "text")
      auto.processBatch(batch, i.toLong)
      manual.processBatch(batch, i.toLong)
      if (i % 3 == 2) { // interleaved deletes: every doc_id % 31 == i % 31
        val dels = w.map(_._1).filter(_ % 31 == i % 31).toDF("doc_id")
        auto.retractBatch(dels, 100L + i)
        manual.retractBatch(dels, 100L + i)
      }
    }
    assert(auto.compactionCount > 0,
      "auto-compaction never fired across an 8-wave drill at threshold 8")
    assert(manual.compactionCount == 0)

    // content identical to the never-compacted twin
    def out(inc: IncrementalLineDedup) = inc.lines(spark).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(auto) == out(manual))

    // the whole point: the auto-compacted state's file count is bounded
    // (≤ buckets per dir + the current wave's appends), while the
    // uncompacted twin accumulated per-wave files all drill long
    val autoFiles = StateFiles.parquetCount(s"$autoDir/chunks")
    assert(autoFiles <= 2 * StateLayout.NumBuckets,
      s"auto-compacted chunks/ holds $autoFiles files")
  }

  test("every kill-mid-compaction window heals with no rows lost") {
    import spark.implicits._
    val base = tmp("crash-windows")
    val dirA = s"$base/chunks"
    val rows = (0L until 500L).map(i => (i, s"p-$i")).toDF("doc_id", "payload")
    val schema = rows.schema
    StateLayout.append(rows, dirA, Seq("doc_id"))
    val want = StateLayout.read(spark, dirA, schema).collect().map(_.toSeq).toSet
    val fs = new org.apache.hadoop.fs.Path(dirA)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def P(p: String) = new org.apache.hadoop.fs.Path(p)

    // window 1: crashed while WRITING tmp (live dir intact, partial tmp)
    fs.mkdirs(P(StateLayout.tmpDir(dirA)))
    assert(StateLayout.read(spark, dirA, schema).collect().map(_.toSeq).toSet == want)
    assert(!fs.exists(P(StateLayout.tmpDir(dirA))), "stale tmp not cleaned")

    // window 2: crashed BETWEEN the two renames (dir moved aside, tmp
    // complete) — recovery must roll FORWARD to the compacted bytes
    StateLayout.overwriteCompacted(
      StateLayout.read(spark, dirA, schema).localCheckpoint(true),
      dirA, Seq("doc_id")) // a real compaction first, to get compact bytes
    val compacted = StateLayout.read(spark, dirA, schema).collect().map(_.toSeq).toSet
    assert(compacted == want)
    // simulate: copy dir to tmp, rename dir to old  ⇒ exactly the
    // post-first-rename on-disk state
    org.apache.hadoop.fs.FileUtil.copy(fs, P(dirA), fs,
      P(StateLayout.tmpDir(dirA)), false, spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(P(dirA), P(StateLayout.oldDir(dirA))))
    assert(!fs.exists(P(dirA)))
    assert(StateLayout.read(spark, dirA, schema).collect().map(_.toSeq).toSet == want,
      "roll-forward recovery lost rows")
    assert(fs.exists(P(dirA)) && !fs.exists(P(StateLayout.oldDir(dirA))) &&
      !fs.exists(P(StateLayout.tmpDir(dirA))))

    // window 3: crashed after install but before dropping the old bytes
    org.apache.hadoop.fs.FileUtil.copy(fs, P(dirA), fs,
      P(StateLayout.oldDir(dirA)), false, spark.sparkContext.hadoopConfiguration)
    assert(StateLayout.read(spark, dirA, schema).collect().map(_.toSeq).toSet == want)
    assert(!fs.exists(P(StateLayout.oldDir(dirA))), "stale old dir not cleaned")

    // window 2b: tmp vanished too (only old remains) — roll back
    assert(fs.rename(P(dirA), P(StateLayout.oldDir(dirA))))
    assert(StateLayout.read(spark, dirA, schema).collect().map(_.toSeq).toSet == want,
      "roll-back recovery lost rows")
  }

  /** Crash window 2 of the swap protocol on `dir`: the rewritten copy
    * is complete, the live dir has been moved aside, and the second
    * rename has not run. */
  private def crashBetweenRenames(dir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    def P(p: String) = new org.apache.hadoop.fs.Path(p)
    val fs = P(dir).getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, P(dir), fs, P(StateLayout.tmpDir(dir)), false, conf)
    assert(fs.rename(P(dir), P(StateLayout.oldDir(dir))))
  }

  Seq("IncrementalLineDedup", "IncrementalNearDup").foreach { cls =>
    test(s"$cls: tombstones mid-swap survive a restart's first view and first compact") {
      import spark.implicits._
      val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
      // five docs that have near-dup partners, so both views change
      val deleted = LlmText.bandedNearDupPairs(spark, dir).select(col("doc_a"))
        .distinct().orderBy(col("doc_a")).limit(5).collect().map(_.getLong(0)).toSet
      assert(deleted.size == 5)
      val path = tmp("crash-tombstones")
      def open(): KeyedState =
        if (cls == "IncrementalLineDedup") new IncrementalLineDedup(path)
        else new IncrementalNearDup(path)
      // the survivors' view, and the doc ids it shows
      def view(s: KeyedState): (Set[Seq[Any]], Set[Long]) = s match {
        case l: IncrementalLineDedup =>
          val rows = l.lines(spark).collect()
          (rows.map(_.toSeq).toSet, rows.map(_.getLong(0)).toSet)
        case n: IncrementalNearDup =>
          val rows = n.pairs(spark).collect()
          (rows.map(_.toSeq).toSet, rows.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet)
      }
      val tombDir = s"$path/tombstones"
      def tombstones() = StateLayout.read(spark, tombDir,
        StructType(Seq(StructField("doc_id", LongType)))).collect().map(_.getLong(0)).toSet

      val state = open()
      state match {
        case l: IncrementalLineDedup => l.processBatch(docs, 0)
        case n: IncrementalNearDup => n.processBatch(docs, 0)
      }
      val (all, _) = view(state)
      state.retractBatch(deleted.toSeq.toDF("doc_id"), 1)
      val (before, shown) = view(state)
      assert(before != all && (shown & deleted).isEmpty)

      // a restarted instance's first call is a view
      crashBetweenRenames(tombDir)
      assert(view(open()) == ((before, shown)), "a view read the tombstones as empty")
      assert(tombstones() == deleted)

      // ... or a compaction, which rewrites what it read
      crashBetweenRenames(tombDir)
      val restarted = open()
      restarted.compact(spark)
      assert(tombstones() == deleted, "compaction lost tombstones")
      assert(view(restarted) == ((before, shown)), "deleted docs came back after compaction")
    }
  }
}
