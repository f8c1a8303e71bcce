package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.KMeansLloyd
import graft.queries.LlmText

/** Cap-utilization probe at the derived sf1 tier (test scope, VERDICT
  * r9 item 5): measures the actual maxima the skew guards cap against,
  * at 10× the fixture data, so the headroom arguments are MEASURED
  * rather than extrapolated. Two corpus models for the band index:
  * the derived sf1 documents (cross-copy shingle-disjoint — the
  * independent-corpora model) and an adversarial in-memory 10-way
  * IDENTICAL-copy corpus (every doc has 9 exact dups — the
  * dup-family model a crawl-heavy corpus shows).
  *
  * Usage: sbt "Test/runMain graft.ScaleProbe [sf1Dir]".
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/repo/tmp/sf1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def bandMax(docs: org.apache.spark.sql.DataFrame): Long =
      LlmText.bandKeys(LlmText.nearDupState(docs), 8, 2)
        .groupBy(col("band"), col("key")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).head().getLong(0)

    val docs = Tables(spark, d, "documents").select(col("doc_id"), col("text"))
    println(s"PROBE n_docs=${docs.count()}")
    println(s"PROBE band_bucket_max_sf1_independent=${bandMax(docs)} (HotBucketCap=${LlmText.HotBucketCap})")

    // adversarial: 10 identical copies of the sf0.1 corpus
    val base01 = Tables(spark, "/root/testdata/sf0.1", "documents")
      .select(col("doc_id"), col("text"))
    val identical = (0 until 10).map(c =>
        base01.withColumn("doc_id", col("doc_id") + lit(c * GenScale.KeyShift)))
      .reduce(_ unionByName _)
    println(s"PROBE band_bucket_max_sf1_identical_copies=${bandMax(identical)}")

    // k-means cells at 10x (the q70 recipe: k=4, 2 Lloyd iters)
    val vecs = Tables(spark, d, "embeddings")
      .select(col("vec_id"), KMeansLloyd.quantize(col("embedding")).as("xi"))
    val (assigned, _, _) = KMeansLloyd.runTracked(vecs, "vec_id", k = 4, iters = 2)
    val cellMax = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    println(s"PROBE cell_max_sf1=$cellMax (CellCap=${KMeansLloyd.CellCap})")
    val sub = KMeansLloyd.subSplitCells(
      assigned.select(col("vec_id"), col("cell")), "vec_id", KMeansLloyd.CellCap)
    val subMax = sub.groupBy(col("cell"), col("subcell")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    println(s"PROBE subcell_max_sf1=$subMax (guard bound = 2*CellCap)")

    // hottest 10-token line (q119's window/salt skew input)
    val chunkMax = LlmText.lineChunks(docs)
      .groupBy(col("chunk")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    println(s"PROBE line_chunk_max_sf1=$chunkMax")

    // hottest bigram document frequency (q46b's prefix-index worst input)
    val dfMax = LlmText.nearDupState(docs)
      .select(explode(col("hs")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    println(s"PROBE bigram_df_max_sf1=$dfMax")

    // state-store twins: measured state-vs-corpus at the probe tier —
    // the bounded-state claim (rows = distinct lines / touched buckets,
    // fixed bytes per entry, corpus text never in the store) held at 10×
    import graft.streaming.{StateStoreLineDedup, StateStoreNearDup}
    val lineWaves = Seq(docs.where(col("doc_id") % 2 === 1),
      docs.where(col("doc_id") % 2 === 0))
    val (_, lShape) = StateStoreLineDedup.runWaves(spark, lineWaves)
    val nChunks = LlmText.lineChunks(docs).count()
    println(s"PROBE q119f_state_rows=${lShape.stateRows} bytes=${lShape.stateBytes} " +
      s"corpus_chunks=$nChunks owner_events=${lShape.events}")
    val sig = LlmText.nearDupState(docs).localCheckpoint(true)
    val (_, nShape) = StateStoreNearDup.runWaves(spark, Seq(
      StateStoreNearDup.flatBands(sig.where(col("doc_id") % 2 === 0)),
      StateStoreNearDup.flatBands(sig.where(col("doc_id") % 2 === 1))))
    val nBandRows = sig.count() * 8
    println(s"PROBE q66f_state_rows=${nShape.stateRows} bytes=${nShape.stateBytes} " +
      s"band_rows=$nBandRows cand_events=${nShape.events}")

    // r13 (VERDICT r12 item 1): hot-bucket poisoning at the REAL cap on
    // the adversarial corpus — buckets CROSS the cap mid-stream, their
    // state collapses to the O(1) poisoned marker (membership moves to
    // the event ledger), and the maintenance fold's recovery restores
    // the exact UNCAPPED candidate set. Three measured rows: poisoning
    // engagement, state shape, and two-sided candidate parity with the
    // uncapped batch chain.
    val sigAdv = LlmText.nearDupState(identical).localCheckpoint(true)
    val (advEv, advShape) = StateStoreNearDup.runWaves(spark, Seq(
      StateStoreNearDup.flatBands(sigAdv.where(col("doc_id") % 2 === 0)),
      StateStoreNearDup.flatBands(sigAdv.where(col("doc_id") % 2 === 1))))
    val nPoisoned = advEv.where(col("kind") === StateStoreNearDup.KindPoison).count()
    val nLedger = advEv.where(col("kind") === StateStoreNearDup.KindMember).count()
    println(s"PROBE q66l_adversarial_poisoned_buckets=$nPoisoned " +
      s"ledger_events=$nLedger (cap=${LlmText.HotBucketCap})")
    require(nPoisoned > 0,
      "adversarial probe is vacuous: no bucket crossed the real cap")
    // over-cap bucket state is BOUNDED: total state bytes on the
    // adversarial corpus (hot buckets poisoned to O(1) markers) stay in
    // the same regime as the independent corpus at the same tier
    println(s"PROBE q66l_adversarial_state_rows=${advShape.stateRows} " +
      s"bytes=${advShape.stateBytes} " +
      s"(independent tier: rows=${nShape.stateRows} bytes=${nShape.stateBytes})")
    val advGot = StateStoreNearDup.foldCandEvents(advEv).localCheckpoint(true)
    val advWant = LlmText.bandedCandidates(sigAdv, 8, 2,
      maxBucket = Int.MaxValue).localCheckpoint(true)
    val missing = advWant.except(advGot).count()
    val spurious = advGot.except(advWant).count()
    println(s"PROBE q66l_adversarial_recovery_parity missing=$missing " +
      s"spurious=$spurious (candidates=${advWant.count()})")
    require(missing == 0 && spurious == 0,
      "poison+recover diverged from the uncapped batch chain on the adversarial corpus")

    // r14 (VERDICT r13 item 1): the PARQUET twin's poison+ledger at the
    // REAL cap on the same adversarial corpus — sweep engagement,
    // bounded over-cap index state (zero bands/ rows for poisoned
    // buckets; membership in the ledger), and verified-pair parity with
    // the uncapped batch chain through the recovery fold.
    locally {
      import graft.streaming.IncrementalNearDup
      val statePath = graft.util.Scratch.dir("probe-q66m")
      val inc = new IncrementalNearDup(statePath)
      inc.processState(sigAdv.where(col("doc_id") % 2 === 0), 0L)
      val nP0 = inc.poisonSweep(spark)
      inc.processState(sigAdv.where(col("doc_id") % 2 === 1), 1L)
      val nP1 = inc.poisonSweep(spark)
      require(nP0 + nP1 > 0,
        "parquet probe is vacuous: no bucket crossed the real cap")
      val overRows = spark.read.parquet(s"$statePath/bands")
        .join(spark.read.parquet(s"$statePath/poisoned"),
          Seq("band", "key"), "left_semi").count()
      val ledgerRows = spark.read.parquet(s"$statePath/ledger").count()
      val indexRows = spark.read.parquet(s"$statePath/bands").count()
      println(s"PROBE q66m_adversarial_poisoned_buckets=${nP0 + nP1} " +
        s"sweep0=$nP0 sweep1=$nP1 (cap=${LlmText.HotBucketCap})")
      println(s"PROBE q66m_overcap_band_rows=$overRows " +
        s"ledger_rows=$ledgerRows index_rows=$indexRows")
      require(overRows == 0,
        "a poisoned bucket still holds index rows after the sweep")
      val gotPairs = inc.pairsWithRecovery(spark)
        .select("doc_a", "doc_b").localCheckpoint(true)
      val wantPairs = LlmText.verifyPairs(
          LlmText.bandedCandidates(sigAdv, 8, 2, maxBucket = Int.MaxValue),
          sigAdv.select(col("doc_id"), col("hs"), col("nbg")))
        .select("doc_a", "doc_b").localCheckpoint(true)
      val mm = wantPairs.except(gotPairs).count()
      val ss = gotPairs.except(wantPairs).count()
      println(s"PROBE q66m_adversarial_recovery_parity missing=$mm " +
        s"spurious=$ss (pairs=${wantPairs.count()})")
      require(mm == 0 && ss == 0,
        "parquet poison+recover diverged from the uncapped batch chain")
    }

    // r12: the PARAMETERIZED designs' stores at the same tier — the
    // (4, 4) high-precision key space (q66j) and the widened (8, 4)
    // over 32 components (q66k); state stays linear in touched buckets
    // whatever the banding, because the key is (band, xxhash64 bucket)
    val (_, hpShape) = StateStoreNearDup.runWaves(spark, Seq(
      StateStoreNearDup.flatBands(sig.where(col("doc_id") % 2 === 0), 4, 4),
      StateStoreNearDup.flatBands(sig.where(col("doc_id") % 2 === 1), 4, 4)))
    println(s"PROBE q66j_state_rows=${hpShape.stateRows} bytes=${hpShape.stateBytes} " +
      s"band_rows=${sig.count() * 4} cand_events=${hpShape.events}")
    // r13 (VERDICT r12 item 3): the BPE trainer at scale — the wide
    // native-retokenize loop must reach >= 8k merges on the derived
    // sf1 corpus within ~2x the 1k-configuration's wall (the trainer,
    // not the encode, was the bound; encode is merge-count-free).
    locally {
      import graft.queries.Pipeline
      val units = Pipeline.bpeBigUnits(spark, d).localCheckpoint(true)
      // baseline: q138's replace-chain trainer at its own constants —
      // the ~1k-merge wall the VERDICT r12 item-3 target is phrased
      // against ("within ~2x q138's 1k wall")
      val t0 = System.nanoTime()
      // uncached: a session-cache hit would collapse the baseline to
      // ~0 and turn the 2x relative budget into a flat 15 s constant
      val mChain = Pipeline.bpeBigMergesUncached(spark, d)
      val wallChain = (System.nanoTime() - t0) / 1e9
      // the native loop at the SAME constants (the q142 configuration)
      val t1 = System.nanoTime()
      val m1k = Pipeline.trainBatchedNative(units, Pipeline.BpeBigRounds,
        Pipeline.BpeBigBatch, Pipeline.BpeBigVocabCap, Pipeline.BpeBigTopC)
      val wall1k = (System.nanoTime() - t1) / 1e9
      require(m1k == mChain, "native trainer diverged from the chain trainer at sf1")
      // the WIDE run: 40 rounds x up to 4096 disjoint pairs, cap lifted
      val t2 = System.nanoTime()
      val wide = Pipeline.trainBatchedNative(units, 40, 4096, 100000, 16384)
      val wallWide = (System.nanoTime() - t2) / 1e9
      val perRound = (1 to 40).map(r => wide.count(_._1 == r))
      println(f"PROBE bpe_train_1k_chain merges=${mChain.size} wall=$wallChain%.1fs " +
        "(q138 replace-chain trainer — the VERDICT baseline)")
      println(f"PROBE bpe_train_1k_native merges=${m1k.size} wall=$wall1k%.1fs")
      println(f"PROBE bpe_train_wide merges=${wide.size} wall=$wallWide%.1fs " +
        s"rounds_width=${perRound.mkString(",")}")
      require(wide.size >= 8000,
        s"wide trainer reached only ${wide.size} merges (target 8000)")
      require(wallWide <= 2.0 * wallChain + 15.0, // +15s host-variance slack
        f"wide wall $wallWide%.1fs exceeds 2x the 1k chain wall $wallChain%.1fs")
    }

    val sig32 = LlmText.nearDupState(docs, nHashes = 32).localCheckpoint(true)
    def opWave(op: String, pred: org.apache.spark.sql.Column) =
      StateStoreNearDup.flatBands(sig32.where(pred), 8, 4)
        .withColumn("op", lit(op))
    val (_, wShape) = StateStoreNearDup.runOpWaves(spark, Seq(
      opWave("insert", col("doc_id") % 2 === 0),
      opWave("insert", col("doc_id") % 2 === 1),
      opWave("delete", col("doc_id") % 7 === 0)))
    println(s"PROBE q66k_state_rows=${wShape.stateRows} bytes=${wShape.stateBytes} " +
      s"band_rows=${sig32.count() * 8} op_events=${wShape.events}")

    spark.stop()
  }
}
