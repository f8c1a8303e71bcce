package graft.streaming

import graft.{SparkTestSession, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q119f (VERDICT r10 item 8, the stretch): line dedup with the
  * line→owner index on a REAL state store (flatMapGroupsWithState +
  * RocksDB) — pinned to the batch engine's output, with the state
  * shape measured (rows = distinct lines; the corpus text never enters
  * the store) and the retroactive ownership steal proven to cross a
  * real micro-batch boundary. */
class StateStoreLineDedupSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private def docsDf = Tables(spark, dir, "documents")
    .select(col("doc_id"), col("text"))

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap

  test("state-store twin equals batch q119, and the state holds only the line index") {
    import graft.queries.LlmText
    val src = docsDf
    val (owners, shape) = StateStoreLineDedup.runWaves(spark, Seq(
      src.where(col("doc_id") % 2 === 1), src.where(col("doc_id") % 2 === 0)))
    val chunks = LlmText.lineChunks(src).localCheckpoint(true)
    val got = asMap(StateStoreLineDedup.lineDedupViaOwners(chunks, owners))
    val want = asMap(LlmText.lineDedupStats(chunks))
    assert(got == want)

    // the state shape the 100 TB notes promise: one state row per
    // DISTINCT line — strictly fewer than corpus chunks on this
    // duplicative fixture — at a bounded byte cost per line
    val nChunks = chunks.count()
    val nLines = chunks.select("chunk").distinct().count()
    assert(nLines < nChunks, "fixture drift: no duplicate lines at all")
    assert(shape.stateRows == nLines,
      s"state rows ${shape.stateRows} != distinct lines $nLines")
    assert(shape.stateBytes > 0)
    // ownership events: one per line at first sight + one per steal —
    // bounded by chunk arrivals, always at least the line count
    assert(shape.events >= nLines && shape.events <= nChunks)
  }

  test("RocksDB owner state survives a query restart between waves") {
    import graft.queries.LlmText
    val src = docsDf
    val waves = Seq(
      src.where(col("doc_id") % 2 === 1), src.where(col("doc_id") % 2 === 0))
    val (o1, s1) = StateStoreLineDedup.runWaves(spark, waves)
    val (o2, s2) = StateStoreLineDedup.runWaves(spark, waves,
      restartAfterWave = Some(0))
    // owners must be identical; the EVENT COUNT is the sharper pin — a
    // lost owner state would re-emit a first-sight event for every
    // wave-2 line already owned from wave 1 (the min-fold would mask
    // the corruption in the owner relation, the count cannot)
    assert(o2.except(o1).isEmpty && o1.except(o2).isEmpty,
      "restarted run's owner relation differs")
    assert(s2.events == s1.events,
      s"event count changed across restart: ${s1.events} -> ${s2.events}")
    assert(s2.stateRows == s1.stateRows)
    val chunks = LlmText.lineChunks(src).localCheckpoint(true)
    assert(asMap(StateStoreLineDedup.lineDedupViaOwners(chunks, o2)) ==
      asMap(LlmText.lineDedupStats(chunks)))
  }

  test("q119g: state-store retraction equals batch q119 over the survivors, and is load-bearing") {
    import graft.queries.LlmText
    val src = docsDf
    def wave(op: String, pred: org.apache.spark.sql.Column) = src.where(pred)
      .select(org.apache.spark.sql.functions.lit(op).as("op"),
        col("doc_id"), col("text"))
    val (owners, shape) = StateStoreLineDedup.runOpWaves(spark, Seq(
      wave("insert", col("doc_id") % 2 === 1),
      wave("insert", col("doc_id") % 2 === 0),
      wave("delete", col("doc_id") % 7 === 0)))
    val survivors = src.where(col("doc_id") % 7 =!= 0)
    val chunks = LlmText.lineChunks(survivors).localCheckpoint(true)
    val got = asMap(StateStoreLineDedup.lineDedupViaOwners(chunks, owners))
    val want = asMap(LlmText.lineDedupStats(chunks))
    assert(got == want, "retracted state diverges from batch-over-survivors")
    // load-bearing: filtering the FULL-corpus dedup output to survivors
    // must NOT equal the survivors-only run (a deleted owner's lines
    // must pass to the next claimant, not vanish)
    val fullChunks = LlmText.lineChunks(src).localCheckpoint(true)
    val naive = asMap(LlmText.lineDedupStats(fullChunks))
      .filter { case (k, _) => k % 7 != 0 }
    assert(naive != want, "fixture drift: retraction not exercised")
    assert(shape.events > 0)
  }

  test("q119g: claimant state survives a query restart between op waves") {
    val src = docsDf
    def wave(op: String, pred: org.apache.spark.sql.Column) = src.where(pred)
      .select(lit(op).as("op"), col("doc_id"), col("text"))
    val waves = Seq(
      wave("insert", col("doc_id") % 2 === 1),
      wave("insert", col("doc_id") % 2 === 0),
      wave("delete", col("doc_id") % 7 === 0))
    val (o1, s1) = StateStoreLineDedup.runOpWaves(spark, waves)
    val (o2, s2) = StateStoreLineDedup.runOpWaves(spark, waves,
      restartAfterWave = Some(1))
    // the delete wave runs in the resumed query: a lost claimant state
    // could not re-elect the next claimant of a deleted owner's lines,
    // and its fresh versions would change the event count
    assert(o2.except(o1).isEmpty && o1.except(o2).isEmpty,
      "restarted run's owner relation differs")
    assert(s2.events == s1.events,
      s"event count changed across restart: ${s1.events} -> ${s2.events}")
    assert(s2.stateRows == s1.stateRows)
  }

  test("q119g: tombstones win permanently; the versioned fold is load-bearing") {
    import spark.implicits._
    val line = (1 to 10).map(i => s"tok$i").mkString(" ")
    def w(op: String, rows: (Long, String)*) =
      rows.toSeq.toDF("doc_id", "text")
        .select(org.apache.spark.sql.functions.lit(op).as("op"),
          col("doc_id"), col("text"))
    // doc 2 owns the line; its DELETE re-elects doc 5; a REPLAYED
    // insert of doc 2 after its tombstone must stay dead
    val (owners, _) = StateStoreLineDedup.runOpWaves(spark, Seq(
      w("insert", 2L -> (line + " two tail"), 5L -> (line + " five tail")),
      w("delete", 2L -> (line + " two tail")),
      w("insert", 2L -> (line + " two tail"))))
    val o = owners.where(col("chunk") === line).collect()
    assert(o.length == 1 && o(0).getLong(1) == 5L,
      s"expected re-elected owner 5, got ${o.toSeq}")
    // the MIN fold (q119f's, correct only for monotone ownership) would
    // resurrect doc 2 from this event stream — the version column is
    // load-bearing, pinned directly on foldVersionedOwners
    val events = Seq(("L", 2L, 0, 1, true), ("L", 5L, 0, 2, true))
      .toDF("chunk", "doc_id", "ck", "ver", "present")
    val versioned = StateStoreLineDedup.foldVersionedOwners(events)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(versioned == Set("L" -> 5L))
    val minFold = events.groupBy(col("chunk"))
      .agg(org.apache.spark.sql.functions.min(
        org.apache.spark.sql.functions.struct(col("doc_id"), col("ck")))
        .as("o"))
      .collect().map(r => r.getStruct(1).getLong(0)).toSet
    assert(minFold == Set(2L), "fixture drift: min fold did not differ")
  }

  test("a retroactive ownership steal crosses a real micro-batch boundary") {
    import spark.implicits._
    // doc 10 arrives in wave 1 and owns the shared line; doc 2 arrives
    // in wave 2 with a SMALLER id and must steal ownership — emitting a
    // second owner event for that line across the batch boundary
    val line = (1 to 10).map(i => s"tok$i").mkString(" ")
    val w1 = Seq((10L, line + " ten-only tail here now")).toDF("doc_id", "text")
    val w2 = Seq((2L, line + " two-only tail here now")).toDF("doc_id", "text")
    val (owners, shape) = StateStoreLineDedup.runWaves(spark, Seq(w1, w2))
    val o = owners.where(col("chunk") === line).collect()
    assert(o.length == 1 && o(0).getLong(1) == 2L,
      "the later, smaller doc id did not take line ownership")
    // the steal is visible as a SECOND event for the same line key
    assert(shape.events >= 3, // 2 first-sights + >=1 steal
      s"expected a steal event, saw ${shape.events} events")
    import graft.queries.LlmText
    val all = w1.union(w2)
    val got = asMap(StateStoreLineDedup.lineDedupViaOwners(
      LlmText.lineChunks(all), owners))
    assert(got(10L)._2 < got(10L)._1, "doc 10 kept its stolen line")
    assert(got(2L)._2 == got(2L)._1, "doc 2 lost a line it owns")
  }
}
