package graft.streaming

import graft.SparkTestSession
import graft.operators.DedupGroups
import graft.queries.LlmText
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Signature-widening migration (q66i): extending the committed
  * near-dup state from the 16-component signature to the 32-component
  * family and re-indexing at (8, 4) must equal having indexed at
  * (8, 4) from the start — ONE map-only corpus pass for the new salts
  * (e:–h:), everything else from state. The corpus reuses
  * [[RebandMigrationSpec]]'s mid-jaccard construction (~0.47 — above
  * the 0.35 verify threshold, below the (8, 4) design threshold
  * ≈ 0.59) so the source and target designs observably disagree. */
class WidenMigrationSpec extends AnyFunSuite with SparkTestSession {

  /** Mid-jaccard pairs + exact dups + filler — see RebandMigrationSpec. */
  private def corpus: DataFrame = {
    import spark.implicits._
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    for (p <- 0 until 8) {
      val shared = (0 until 26).map(k => s"s${p}w$k").mkString(" ")
      val tailA = (0 until 14).map(k => s"a${p}t$k").mkString(" ")
      val tailB = (0 until 14).map(k => s"b${p}t$k").mkString(" ")
      rows += ((2L * p, s"$shared $tailA"))
      rows += ((2L * p + 1, s"$shared $tailB"))
    }
    for (p <- 0 until 2) {
      val text = (0 until 30).map(k => s"x${p}d$k").mkString(" ")
      rows += ((20L + 2 * p, text))
      rows += ((21L + 2 * p, text))
    }
    for (i <- 0 until 20)
      rows += ((100L + i, (0 until 25).map(k => s"f${i}u$k").mkString(" ")))
    rows.toSeq.toDF("doc_id", "text")
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def batchPairs(docs: DataFrame, b: Int, r: Int): DataFrame = {
    val st = LlmText.nearDupState(docs, nHashes = b * r).localCheckpoint(true)
    LlmText.verifyPairs(LlmText.bandedCandidates(st, b, r),
      st.select(col("doc_id"), col("hs"), col("nbg")))
  }

  test("new-salt components are byte-identical to the declarative 32-wide recipe") {
    // the corpus pass computes ONLY components [16, 32) (MinHashSig
    // firstHash = 16, salts e:–h:); concatenated onto the stored half
    // they must equal the declarative minhashSigDf at nHashes = 32 —
    // the recipe the DuckDB oracle mirrors salt by salt
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val docs = corpus.where(col("doc_id") < 40).localCheckpoint(true)
    val native = docs.select(col("doc_id"),
        ColumnBridge.column(graft.functions.MinHashSig(
          ColumnBridge.expression(col("text")), 2, 16, 0)).as("lo"),
        ColumnBridge.column(graft.functions.MinHashSig(
          ColumnBridge.expression(col("text")), 2, 16, 16)).as("hi"))
      .select(col("doc_id") +: (0 until 32).map(i =>
        (if (i < 16) col("lo").getItem(i) else col("hi").getItem(i - 16))
          .as(s"h$i")): _*)
    val declared = LlmText.minhashSigDf(docs, 2, 32)
    def rows(df: DataFrame): Set[String] =
      df.select(concat_ws("|", df.columns.map(col).toSeq: _*))
        .collect().map(_.getString(0)).toSet
    assert(rows(native) == rows(declared) && rows(native).nonEmpty)
  }

  test("widen-then-continue equals a fresh (8,4) run over 32 components") {
    val docs = corpus.localCheckpoint(true)
    val st = LlmText.nearDupState(docs).localCheckpoint(true)
    val statePath = java.nio.file.Files
      .createTempDirectory("widen").toString

    val inc82 = new IncrementalNearDup(statePath)
    inc82.processState(st.where(col("doc_id") < 100), 0L)

    // the designs must observably disagree: a mid-jaccard pair collides
    // on some (8,2) band (p ≈ j² per band) far more often than on any
    // 4-wide band (p ≈ j⁴) — widening is load-bearing, not a re-label
    val b84 = pairSet(batchPairs(docs, 8, 4))
    val b82 = pairSet(batchPairs(docs, 8, 2))
    assert((b82 -- b84).nonEmpty,
      "fixture must contain a pair the designs disagree on")

    IncrementalNearDup.widenMigrate(spark, statePath, docs, 8, 4)
    val inc84 = new IncrementalNearDup(statePath, nBands = 8, bandR = 4)
    inc84.processState(
      LlmText.nearDupState(docs.where(col("doc_id") >= 100), nHashes = 32), 1L)

    assert(pairSet(inc84.pairs(spark)) == b84,
      "widened stream must equal the fresh (8,4) batch run")
    val streamGroups = inc84.groups(spark).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchGroups = DedupGroups.components(batchPairs(docs, 8, 4))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamGroups == batchGroups)
  }

  test("candidates are regenerated, not subset-filtered: a historically suppressed pair reappears") {
    // simulate the (8,2) hot-cap having suppressed a pair whose (8,4)
    // bucket is cool: ingest normally, then excise one exact-dup pair
    // from pairs/ by hand. The widening must re-discover it from the
    // rebuilt band index and verify it from the stored shingle sets —
    // the strictly-stronger-than-reband guarantee the q66i entry states.
    val docs = corpus.where(col("doc_id") < 100).localCheckpoint(true)
    val st = LlmText.nearDupState(docs).localCheckpoint(true)
    val statePath = java.nio.file.Files
      .createTempDirectory("widen-regen").toString
    new IncrementalNearDup(statePath).processState(st, 0L)

    val pairsDir = s"$statePath/pairs"
    val before = pairSet(spark.read.parquet(pairsDir).drop(StateLayout.BucketCol))
    assert(before.contains((20L, 21L)), "exact-dup pair must be discovered at (8,2)")
    val excised = spark.read.parquet(pairsDir).drop(StateLayout.BucketCol)
      .where(!(col("doc_a") === 20L && col("doc_b") === 21L))
      .localCheckpoint(true)
    StateLayout.overwriteCompacted(excised, pairsDir, Seq("doc_a", "doc_b"))

    IncrementalNearDup.widenMigrate(spark, statePath, docs, 8, 4)
    val after = spark.read.parquet(pairsDir).drop(StateLayout.BucketCol)
    assert(pairSet(after).contains((20L, 21L)),
      "widening must regenerate the suppressed pair from state")
    val j = after.where(col("doc_a") === 20L && col("doc_b") === 21L)
      .select("jaccard").head().getDouble(0)
    assert(j == 1.0, s"regenerated pair must carry the verified jaccard, got $j")
  }

  test("empty sets/ state fails with a message, not an opaque head() error") {
    // ADVICE r11: an existing-but-empty sets/ dir (e.g. a compaction
    // that swept every doc) must raise a diagnosable error
    val statePath = java.nio.file.Files
      .createTempDirectory("widen-empty").toString
    val empty = LlmText.nearDupState(corpus.where(lit(false)))
      .select(col("doc_id"), col("hs"), col("nbg"),
        array((0 until 16).map(i => col(s"h$i")): _*).as("sig"))
    // a compaction that swept every row leaves schema-bearing empty
    // part files — repartition(1) forces one such file out
    empty.repartition(1).write.parquet(s"$statePath/sets")
    val e = intercept[IllegalStateException] {
      IncrementalNearDup.widenMigrate(spark, statePath, corpus, 8, 4)
    }
    assert(e.getMessage.contains("empty"))
  }

  test("a corpus missing live docs is refused unless drops are opted in") {
    // ADVICE r11: the widen equi-join is a destructive rewrite — a
    // stale/partial replica snapshot must fail loudly at the migration,
    // not surface as downstream group drift; allowCorpusDrops = true is
    // the documented physical-retraction opt-in
    val docs = corpus.localCheckpoint(true)
    val statePath = java.nio.file.Files
      .createTempDirectory("widen-partial").toString
    new IncrementalNearDup(statePath)
      .processState(LlmText.nearDupState(docs).localCheckpoint(true), 0L)
    val partial = docs.where(col("doc_id") =!= 20L)
    val e = intercept[IllegalArgumentException] {
      IncrementalNearDup.widenMigrate(spark, statePath, partial, 8, 4)
    }
    assert(e.getMessage.contains("would be dropped"))
    // state untouched by the refusal: signatures still 16-wide
    assert(spark.read.parquet(s"$statePath/sets").drop(StateLayout.BucketCol)
      .where(size(col("sig")) === 16).count() > 0)
    IncrementalNearDup.widenMigrate(spark, statePath, partial, 8, 4,
      allowCorpusDrops = true)
    val sets = spark.read.parquet(s"$statePath/sets").drop(StateLayout.BucketCol)
    assert(sets.where(col("doc_id") === 20L).isEmpty,
      "opted-in migration physically retracts the corpus-absent doc")
    assert(sets.where(size(col("sig")) =!= 32).isEmpty)
  }

  test("a corpus repeating a doc_id is refused, drops opted in or not") {
    // a repeated doc_id inflates the join's row count and its covered
    // count alike, so the coverage guard alone would pass and commit
    // the duplicated rows into sets/ at a destructive rewrite
    val docs = corpus.localCheckpoint(true)
    val statePath = java.nio.file.Files
      .createTempDirectory("widen-dup").toString
    new IncrementalNearDup(statePath)
      .processState(LlmText.nearDupState(docs).localCheckpoint(true), 0L)
    val duplicated = docs.unionByName(docs.where(col("doc_id") === 20L))
    Seq(false, true).foreach { allow =>
      val e = intercept[IllegalArgumentException] {
        IncrementalNearDup.widenMigrate(spark, statePath, duplicated, 8, 4,
          allowCorpusDrops = allow)
      }
      assert(e.getMessage.contains("duplicate doc_id"), e.getMessage)
    }
    val sets = spark.read.parquet(s"$statePath/sets").drop(StateLayout.BucketCol)
    assert(sets.where(size(col("sig")) =!= 16).isEmpty, "refusal leaves sets/ 16-wide")
    assert(sets.count() == sets.select("doc_id").distinct().count())
  }

  test("widening is idempotent (re-run after a mid-migration crash converges)") {
    val docs = corpus.localCheckpoint(true)
    val st = LlmText.nearDupState(docs).localCheckpoint(true)
    val statePath = java.nio.file.Files
      .createTempDirectory("widen-idem").toString
    new IncrementalNearDup(statePath).processState(st, 0L)

    def snapshot(): (Long, Set[(Long, Long)], Long) = {
      val bands = spark.read.parquet(s"$statePath/bands")
        .drop(StateLayout.BucketCol)
      val pairs = pairSet(spark.read.parquet(s"$statePath/pairs")
        .drop(StateLayout.BucketCol))
      val wide = spark.read.parquet(s"$statePath/sets")
        .drop(StateLayout.BucketCol)
        .where(size(col("sig")) === 32).count()
      (bands.count(), pairs, wide)
    }

    IncrementalNearDup.widenMigrate(spark, statePath, docs, 8, 4)
    val once = snapshot()
    // second run sees storedW == 32 (the post-crash resume path: sets/
    // committed, bands/ or pairs/ possibly not) and must converge to
    // the same state without touching the corpus columns
    IncrementalNearDup.widenMigrate(spark, statePath, docs, 8, 4)
    assert(snapshot() == once)
  }
}
