package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.DedupGroups
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-training-data text operators over `documents` (SURVEY.md §2C Q41/
  * Q43 + the dedup / text-analysis mandate): exact dedup, MinHash-LSH,
  * SimHash, n-gram Jaccard, language-ID, quality scoring, regex
  * tokenization, rolling-hash fingerprinting.
  *
  * Portability note: every hash used here is `md5` (identical bytes in
  * Spark and DuckDB) so the whole pipeline — including MinHash signatures
  * and SimHash bits — is oracle-checkable, not just row counts.
  * All shapes are explode → hash-partition groupBy / inverted-index join:
  * no cross product anywhere, which is what survives 100 TB (candidate
  * generation is bounded by shared-token buckets, not n²).
  */
object LlmText {

  private def docs(s: SparkSession, d: String): DataFrame = Tables(s, d, "documents")

  /** 32-bit portable token hash: first 8 hex chars of md5. */
  private def h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Word-n-gram shingles per doc, with duplicates (one row per
    * occurrence) — enough for MinHash, whose min is duplicate-blind.
    * DataFrame-based so the same stage serves the batch table AND a
    * streaming micro-batch (IncrementalNearDup). */
  private[graft] def shinglesRawDf(docsDf: DataFrame, n: Int): DataFrame =
    docsDf.select(col("doc_id"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(t)-$n), i -> concat_ws(' ', ${(0 until n).map(k => s"t[i+$k]").mkString(", ")}))"
      )).as("sh"))

  private[queries] def shinglesRaw(s: SparkSession, d: String, n: Int): DataFrame =
    shinglesRawDf(docs(s, d), n)

  /** Distinct word-n-gram shingle set per doc (for exact set ops). */
  private[queries] def shingles(s: SparkSession, d: String, n: Int): DataFrame =
    shinglesRaw(s, d, n).distinct()

  /** DuckDB CTE mirroring [[shingles]] (bounded index join in place of a
    * lateral sequence; fixture docs are < 200 tokens). */
  private[queries] def shinglesSql(n: Int): String = shinglesSqlOver(n, "")

  /** [[shinglesSql]] restricted to a docs predicate (ANDed into the
    * toks CTE) — q66b holds the delete-retracted near-dup state to the
    * batch pipeline over the SURVIVING docs. */
  private[queries] def shinglesSqlOver(n: Int, docsPred: String): String = {
    val extra = if (docsPred.isEmpty) "" else s"($docsPred) AND "
    val parts = (0 until n).map(k => s"t[i+${k + 1}]").mkString(" || ' ' || ")
    s"toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents " +
      s"WHERE ${extra}len(string_split(text,' ')) >= $n), " +
      s"shraw AS (SELECT doc_id, $parts AS sh FROM toks " +
      s"JOIN (SELECT UNNEST(range(0,200)) AS i) ix ON ix.i <= len(t)-$n), " +
      s"sh AS (SELECT DISTINCT doc_id, sh FROM shraw)"
  }

  /** Per-doc MinHash signature: `nHashes` independent 32-bit hashes, four
    * per md5 call (salts `a:`,`b:`,`c:`,… pick the md5; `i%4` picks the
    * 8-hex segment), min-aggregated over raw shingle occurrences (MinHash
    * is duplicate-blind — no distinct shuffle on the signature path). */
  private[graft] def minhashSig(s: SparkSession, d: String, n: Int, nHashes: Int): DataFrame =
    minhashSigDf(docs(s, d), n, nHashes)

  private[graft] def minhashSigDf(docsDf: DataFrame, n: Int, nHashes: Int): DataFrame = {
    val raw = shinglesRawDf(docsDf, n)
      .select(col("doc_id") +:
        (0 until nHashes).map { i =>
          val salt = s"${('a' + i / 4).toChar}:"
          val m = md5(concat(lit(salt), col("sh")))
          conv(substring(m, 1 + 8 * (i % 4), 8), 16, 10).cast("long").as(s"x$i")
        }: _*)
    val hashes = (0 until nHashes).map(i => min(col(s"x$i")).as(s"h$i"))
    raw.groupBy(col("doc_id")).agg(hashes.head, hashes.tail: _*)
  }

  /** Per-(band, key) bucket-size cap for banded candidate generation.
    * A bucket of B docs emits B(B−1)/2 candidate pairs from the bucket
    * self-join — at 100 TB a corpus-hot band key (boilerplate shingles,
    * template text) creates exactly such buckets, turning "banded" back
    * into all-pairs locally. Buckets above the cap are dropped wholesale
    * (standard LSH-dedup practice: a key shared by thousands of docs
    * carries no discriminative signal, and a genuine near-dup pair in a
    * dropped bucket still has nBands−1 other chances to collide — the
    * recall loss is (bucket_hot_rate)^nBands, negligible at 8 bands).
    * Fixture buckets are far below the cap (max 141 at sf0.1, measured;
    * guarded by `BandedNearDupSpec`), so oracle hashes are unaffected. */
  private[graft] val HotBucketCap = 500

  /** q46b's exact-Jaccard threshold as the integer rational tn/td
    * (t = 0.7 — prefix filtering is a HIGH-threshold technique; see the
    * q46b entry comment for the measured 0.35-degeneration note).
    * SURVEY.md/COVERAGE.md's stated q46b threshold is pinned to these
    * by DocsConsistencySpec — change here and there together. */
  private[graft] val PrefixJoinTn = 7
  private[graft] val PrefixJoinTd = 10

  /** One row per (doc, band) with the band's key = a struct of `bandR`
    * consecutive minhashes. Candidate pairs are docs sharing any
    * (band, key) bucket: a hash-equi-join, never an n² pass. `bandR`
    * tunes the LSH design threshold ≈ (1/nBands)^(1/bandR) — bandR = 1
    * catches low-jaccard pairs but suffers hot single-hash buckets;
    * bandR = 2 is the near-dup setting (threshold ≈ 0.35 at 8 bands)
    * whose buckets stay tiny because unrelated docs must collide on TWO
    * independent minhashes at once. Buckets larger than `maxBucket`
    * are dropped before the self-join (see [[HotBucketCap]]). */
  /** The (doc, band, key) LSH index rows for a signature table — the
    * thing a streaming dedup materializes as its band-index state. */
  private[graft] def bandKeys(sig: DataFrame, nBands: Int, bandR: Int): DataFrame = {
    val keys = (0 until nBands).map(j =>
      struct((0 until bandR).map(k => col(s"h${bandR * j + k}").as(s"k$k")): _*))
    sig.select(col("doc_id"), posexplode(array(keys: _*)).as(Seq("band", "key")))
  }

  /** Per-ROW computation of the bigram band BUCKET ids at any
    * (nBands × bandR) design — the same minhash bytes as [[bandKeys]]
    * over [[nearDupState]] (same shingle strings, same salted-md5
    * minhash recipe), each band's key tuple folded to one long through
    * Spark's `xxhash64` recipe (parity with
    * `xxhash64(key.k0, …, key.k{r-1})` spec-pinned per doc), as ONE
    * native expression with no explode/group-by: bucket ids evaluate
    * inside the row. This is the shape a CONTINUOUS streaming pipeline
    * needs — band buckets computed in the stateless prefix of the plan,
    * so the only shuffle is the one onto the state-store partitions
    * (qc8) — and the shape a 100 TB batch scan prefers too (zero
    * pre-shuffle, minhash never materializes per-shingle rows). Docs
    * with fewer than 2 tokens yield NULL (no shingles → no bands),
    * which posexplode drops — matching the batch pipeline's
    * size(t) >= 2 filter.
    * Native ([[graft.functions.MinHashBands]]) rather than
    * higher-order-function built-ins: the `transform`/`array_min`
    * lambda form evaluates interpreted — measured 38 s vs sub-second on
    * the sf0.1 corpus (the ArrayDot lesson at per-shingle granularity,
    * PLAN_NOTES round 1). */
  private[graft] def rowBandBuckets(text: Column,
      nBands: Int = 8, bandR: Int = 2): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.functions.MinHashBands(ColumnBridge.expression(text), nBands, bandR))
  }

  private[graft] def bandedCandidates(sig: DataFrame, nBands: Int, bandR: Int,
      maxBucket: Int = HotBucketCap): DataFrame = {
    val bandsAll = bandKeys(sig, nBands, bandR)
    // hot-bucket skew cap: the count agg has map-side partials (skew-safe);
    // the filter is an ANTI join against the HOT keys — by definition few
    // (each holds > maxBucket members), so AQE turns it into a broadcast
    // and the pruning costs one map-side pass, not a second shuffle of
    // the full band index
    val hotKeys = bandsAll.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("bsz"))
      .where(col("bsz") > maxBucket)
      .select(col("band"), col("key"))
    val bands = bandsAll.join(hotKeys, Seq("band", "key"), "left_anti")
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b")).distinct()
  }

  /** DuckDB CTEs mirroring [[minhashSig]] + [[bandedCandidates]] (expects
    * the `shraw` CTE from [[shinglesSql]] in scope). `maxBucket`
    * mirrors the engine-side guard it models: [[HotBucketCap]] for the
    * capped batch chain, `Int.MaxValue` for the UNCAPPED chain the
    * state-store recovery fold is exact against (r13: the ledger
    * restores every suppressed pair, so the right oracle for those
    * entries has no bucket filter at any scale — its pair volume grows
    * exactly where the engine's recovered volume does). */
  private def minhashSigSql(nBands: Int, bandR: Int,
      maxBucket: Int = HotBucketCap): String = {
    val nHashes = nBands * bandR
    val keyCols = (0 until bandR).map(k => s"k$k")
    "sig AS (SELECT doc_id, " +
      (0 until nHashes).map { i =>
        val salt = s"${('a' + i / 4).toChar}:"
        s"MIN(CAST(('0x' || substring(md5('$salt' || sh),${1 + 8 * (i % 4)},8)) AS BIGINT)) AS h$i"
      }.mkString(", ") +
      " FROM shraw GROUP BY doc_id), " +
      // MATERIALIZED: bands feeds bsz, bandsc and (via bandsc) both
      // cand sides — un-hinted, DuckDB re-inlines the md5-heavy sig
      // chain per reference (the q104 multiplicative-CTE lesson)
      "bands AS MATERIALIZED (" +
      (0 until nBands).map { j =>
        val ks = (0 until bandR).map(k => s"h${bandR * j + k} AS k$k").mkString(", ")
        s"SELECT doc_id, $j AS band, $ks FROM sig"
      }.mkString(" UNION ALL ") +
      "), " +
      // the HotBucketCap guard, mirrored from bandedCandidates (the
      // r10 q70 lesson: the oracle must model the GUARD, not just the
      // unguarded semantics — at fixture scale every bucket is under
      // the cap so this is a no-op and hashes are unchanged, but at a
      // scale where a bucket goes hot the engine drops it and an
      // uncapped oracle would silently diverge). At maxBucket =
      // Int.MaxValue the filter CTEs are omitted entirely — the
      // UNCAPPED chain for the recovery-fold entries.
      (if (maxBucket == Int.MaxValue)
        "cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b FROM bands x " +
          "JOIN bands y ON x.band = y.band AND " +
          keyCols.map(k => s"x.$k = y.$k").mkString(" AND ") +
          " AND x.doc_id < y.doc_id)"
      else
        "bsz AS (SELECT band, " + keyCols.mkString(", ") +
          ", COUNT(*) AS bsz FROM bands GROUP BY band, " + keyCols.mkString(", ") + "), " +
          "bandsc AS MATERIALIZED (SELECT b.* FROM bands b JOIN bsz z ON z.band = b.band AND " +
          keyCols.map(k => s"z.$k = b.$k").mkString(" AND ") +
          s" WHERE z.bsz <= $maxBucket), " +
          "cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b FROM bandsc x " +
          "JOIN bandsc y ON x.band = y.band AND " +
          keyCols.map(k => s"x.$k = y.$k").mkString(" AND ") +
          " AND x.doc_id < y.doc_id)")
  }

  /** The composed near-dup pipeline shared by q54 (pairs) and q57
    * (dedup groups): MinHash-banded candidates (8 bands × 2 hashes over
    * bigram shingles) exactly verified by the codegen set kernel,
    * keeping pairs with jaccard ≥ 0.35. Returns (doc_a, doc_b, jaccard),
    * unordered. */
  /** The full per-doc near-dup state in ONE scan + ONE shuffle: the
    * sorted 60-bit `n`-gram-hash set (exact-verify side) AND the
    * `nHashes` minhash components (banding side) aggregated together.
    * MinHash is duplicate-blind and collect_set dedupes, so aggregating
    * straight over raw shingle occurrences needs no distinct
    * pre-shuffle; and because a pipeline's uses of this relation (band
    * explode + both verify sides) produce identical exchanges,
    * ReuseExchange computes the shuffle once. Replaces the previous
    * two-pass shape (separate sig and set aggregations over the same
    * shingle stream). Defaults are the q54/q57/q61/q66 design (bigrams,
    * 8×2 bands); q44 uses (3, 8) for its 3-gram 8×1 design. */
  private[graft] def nearDupState(docsDf: DataFrame, n: Int = 2, nHashes: Int = 16): DataFrame = {
    // ZERO-shuffle since round 11: both sides of the state are native
    // per-row expressions (functions/NearDupState.scala) — the minhash
    // fold and the sorted-distinct shingle set evaluate inside the scan
    // task, so the per-shingle rows of the previous explode → group-by
    // chain (one shuffle of ~600 rows/doc) never materialize. At 100 TB
    // this turns the dedup state build into a map-only pass over the
    // corpus. Byte parity is pinned three ways: NativeStateSpec replays
    // the old declarative chain and compares per doc; the minhash
    // recipe stays md5 because the DuckDB oracle mirrors it
    // (minhashSigSql); h60 stays xxhash64 seed 42 (Spark-internal — no
    // oracle sees it, it only needs to be collision-free; the kernel
    // calls the same XXH64 Spark's `xxhash64` uses). A duplicated
    // doc_id now yields duplicate state ROWS rather than one merged row
    // — every caller feeds unique doc ids (fixture keys / explicit
    // dropDuplicates on the CDC paths).
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val sig = ColumnBridge.column(graft.functions.MinHashSig(
      ColumnBridge.expression(col("text")), n, nHashes))
    val hs = ColumnBridge.column(graft.functions.ShingleSet(
      ColumnBridge.expression(col("text")), n))
    docsDf.select(col("doc_id"), hs.as("hs"), sig.as("sig"))
      .where(col("hs").isNotNull)
      .select(col("doc_id") +: col("hs") +:
        (0 until nHashes).map(i => col("sig").getItem(i).as(s"h$i")): _*)
      .withColumn("nbg", size(col("hs")))
  }

  /** Exact Jaccard verification of candidate pairs against shingle-set
    * state (codegen two-pointer merge), keeping jaccard ≥ `minJaccard`.
    * `minInter` = 1 reproduces an inverted-index verify's inner-join
    * semantics (zero-overlap candidates vanish) WITHOUT relying on the
    * rounded jaccard being nonzero — at corpus scale a genuine 1-shingle
    * overlap between long docs rounds to 0.0000 and must still survive
    * when the contract keeps all overlapping pairs (q44). */
  /** Exact-verify candidate pairs against the sorted token sets. The
    * default keep rule filters on the ROUNDED 4-decimal jaccard (the
    * emitted column); `exactThreshold = Some((tn, td))` filters on the
    * exact rational td·ninter >= tn·union instead — required when the
    * candidate generator's losslessness proof is stated for true
    * J >= tn/td (q46b): a pair with true J in [t − 5e-5, t) ROUNDS to
    * t and would pass the rounded filter without being guaranteed a
    * candidate. */
  private[graft] def verifyPairs(cand: DataFrame, sets: DataFrame,
      minJaccard: Double = 0.35, minInter: Long = 0L,
      exactThreshold: Option[(Int, Int)] = None): DataFrame = {
    import graft.functions.SortedArrayIntersectCount
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def interCount(a: Column, b: Column): Column =
      ColumnBridge.column(SortedArrayIntersectCount(
        ColumnBridge.expression(a), ColumnBridge.expression(b)))
    val scored = cand.join(sets.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sets.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        interCount(col("a.hs"), col("b.hs")).as("ninter"),
        (col("a.nbg") + col("b.nbg")).as("ntot"))
      .where(col("ninter") >= minInter)
    val kept = exactThreshold match {
      case Some((tn, td)) => scored.where(
        lit(td) * col("ninter") >= lit(tn) * (col("ntot") - col("ninter")))
      case None => scored
    }
    val withJ = kept.select(col("doc_a"), col("doc_b"),
      round(col("ninter").cast("double") / (col("ntot") - col("ninter")), 4).as("jaccard"))
    if (exactThreshold.isDefined) withJ else withJ.where(col("jaccard") >= minJaccard)
  }

  /** Session-scoped cache of the verified banded pairs. q54 (pairs),
    * q57 (components), and q61 (curation funnel) all consume the SAME
    * (doc_a, doc_b, jaccard) relation; without sharing, a Verify/Bench
    * session recomputes the full MinHash→band→verify pipeline three
    * times (q61 alone was the #2 bench cost at 4.8 s). The DF is
    * memoized per (session, sfDir) and persisted MEMORY_AND_DISK — the
    * first consumer materializes it, later consumers (and Bench's
    * repeat runs) read the cached partitions. Semantics and hashes are
    * untouched: persist() changes WHEN the relation is computed, never
    * what it contains, and the key includes the session so a stopped
    * session's plans are never reused. At cluster scale the same move
    * is writing the verified pairs once and reading them from storage
    * in every downstream stage. Entries evict (and unpersist) when the
    * session's context stops — see [[graft.SessionCache]]. */
  private val pairsCache = new graft.SessionCache[DataFrame](
    df => df.unpersist(blocking = false))

  /** Session-scoped cache of the BIGRAM near-dup state itself — one
    * level below the pairs cache. Five consumers derive from this one
    * relation (VERDICT r6 item 6: each used to re-scan and re-shuffle
    * `documents` for its own copy): the banded pipeline (q54/q57/q61
    * via [[bandedNearDupPairs]]), q46's exact all-pairs sets and q46b's
    * prefix-join tokens (both are column subsets/explosions of the
    * state — same h60 hash, same sorted collect_set), and q66's
    * streaming waves (state rows are per-doc pure functions of text,
    * so wave slices of the cached relation are row-identical to
    * per-wave recomputation). Hashes untouched: persist changes WHEN
    * the relation is computed, never what it contains. At cluster
    * scale this is the write-once shingle-state table every dedup
    * stage reads. */
  private val stateCache = new graft.SessionCache[DataFrame](
    df => df.unpersist(blocking = false))

  // Both shared relations are materialized via eager localCheckpoint
  // (MEMORY_AND_DISK blocks, lineage TRUNCATED) rather than persist():
  // consumers reference them up to 6× in one plan (q99's census alone
  // scans pairs/oriented six times), and a persisted DF still carries
  // the full MinHash→verify logical tree into every reference — each
  // AQE stage re-plans over it, which measured 2.4 s for a 256-row
  // graph vs 0.6 s once the plan is a bare LogicalRDD (round-8 probe;
  // the r7 q99/q63 regression). Cluster-scale analog: the verified
  // pairs are WRITTEN ONCE as a table and every stage reads the table,
  // not the pipeline that produced it. (Trade-off localCheckpoint
  // accepts: blocks are not recomputable on executor loss — on a real
  // cluster this relation would be a reliable checkpoint/table write.)
  private[graft] def bigramStateCached(s: SparkSession, d: String): DataFrame =
    stateCache.getOrElseUpdate(s, d, {
      nearDupState(docs(s, d)).localCheckpoint(true)
    })

  private[graft] def bandedNearDupPairs(s: SparkSession, d: String): DataFrame =
    pairsCache.getOrElseUpdate(s, d, {
      val state = bigramStateCached(s, d)
      verifyPairs(
        bandedCandidates(state, 8, 2),
        state.select(col("doc_id"), col("hs"), col("nbg")))
        .localCheckpoint(true)
    })

  /** Session-scoped cache of the dedup-group label relation (doc_id,
    * rep) over the banded pairs — one CC run serves q57 (group sizes),
    * q120 (canonical selection) and q121 (cluster-aware splits).
    * DedupGroups already localCheckpoints every round, so the cached
    * value is lineage-truncated by construction. */
  private val compCache = new graft.SessionCache[DataFrame](
    df => df.unpersist(blocking = false))

  private[graft] def dedupComponents(s: SparkSession, d: String): DataFrame =
    compCache.getOrElseUpdate(s, d,
      DedupGroups.components(bandedNearDupPairs(s, d)))

  /** DuckDB CTE chain ending in `pairs(doc_a, doc_b, jaccard)` —
    * mirrors [[bandedNearDupPairs]]. */
  private[queries] val BandedPairsSqlCtes: String = bandedPairsSqlCtesOver("")

  /** The dedup-groups oracle (q57's connected components as one
    * recursive CTE over the banded pair chain), restricted to a docs
    * predicate — shared verbatim by q57 and q66 (no predicate), q66b
    * and the qc7 wire composition (survivors only). Output (rep_doc,
    * n_members) ordered by rep. */
  private[graft] def dedupGroupsOracleSqlOver(docsPred: String): String =
    dedupGroupsOracleSqlOverBr(docsPred, 8, 2)

  /** [[dedupGroupsOracleSqlOver]] at an explicit banding design — the
    * q66h re-band-migration oracle runs the WHOLE batch chain at the
    * target (nBands, bandR) with no migration machinery in it: it
    * matches only if the migrated stream is semantically a fresh run
    * under the new index design. */
  private[graft] def dedupGroupsOracleSqlOverBr(docsPred: String,
      nBands: Int, bandR: Int, maxBucket: Int = HotBucketCap): String =
    "WITH RECURSIVE " +
      bandedPairsSqlCtesOverBr(docsPred, nBands, bandR, maxBucket) + ", " +
      "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs " +
      "UNION SELECT doc_b, doc_a FROM pairs), " +
      "nodes AS (SELECT DISTINCT src AS doc FROM edges), " +
      "reach(doc, r) AS (SELECT doc, doc FROM nodes " +
      "UNION SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc), " +
      "rep AS (SELECT doc, MIN(r) AS rep_doc FROM reach GROUP BY doc) " +
      "SELECT rep_doc, COUNT(*) AS n_members FROM rep " +
      "GROUP BY rep_doc ORDER BY rep_doc"

  /** [[BandedPairsSqlCtes]] restricted to a docs predicate — the whole
    * shingle→minhash→band→verify chain over only the matching docs
    * (q66b's survivors-only oracle). */
  private[queries] def bandedPairsSqlCtesOver(docsPred: String): String =
    bandedPairsSqlCtesOverBr(docsPred, 8, 2)

  /** [[bandedPairsSqlCtesOver]] at an explicit (nBands, bandR) design
    * ([[minhashSigSql]] is already parameterized; the verify tail is
    * banding-independent). nBands·bandR must be the signature width
    * the engine computed — 16 as built, 32 after a signature-widening
    * migration; the salt generator ('a' + i/4) is shared, so the same
    * SQL covers both. */
  private[queries] def bandedPairsSqlCtesOverBr(docsPred: String,
      nBands: Int, bandR: Int, maxBucket: Int = HotBucketCap): String =
    shinglesSqlOver(2, docsPred) + ", " +
      minhashSigSql(nBands, bandR, maxBucket) + ", " +
      "sizes AS (SELECT doc_id, COUNT(*) AS nbg FROM sh GROUP BY doc_id), " +
      "inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS ninter FROM cand c " +
      "JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh " +
      "GROUP BY c.doc_a, c.doc_b), " +
      "pairs AS (SELECT doc_a, doc_b, jaccard FROM (" +
      "SELECT i.doc_a, i.doc_b, ROUND(CAST(i.ninter AS DOUBLE)/(za.nbg + zb.nbg - i.ninter), 4) AS jaccard " +
      "FROM inter i JOIN sizes za ON za.doc_id = i.doc_a JOIN sizes zb ON zb.doc_id = i.doc_b) " +
      "WHERE jaccard >= 0.35)"

  /** Per-doc 32-bit SimHash over token md5 hashes (token multiplicity
    * weighted). Pure groupBy-sum — linear in corpus size. */
  private def simhashDf(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h", h32(col("tok")))
      .select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(31))).as("b"))
      .withColumn("bit", expr("(h div shiftleft(1L, CAST(b AS INT))) % 2"))
      .groupBy(col("doc_id"), col("b"))
      .agg(sum(col("bit") * 2 - 1).as("sc"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("sc") > 0, expr("shiftleft(1L, CAST(b AS INT))")).otherwise(0L)).as("simhash"))

  private val SimhashSql: String =
    "tok AS (SELECT doc_id, UNNEST(string_split(text,' ')) AS tok FROM documents), " +
      "hh AS (SELECT doc_id, CAST(('0x' || substring(md5(tok),1,8)) AS BIGINT) AS h FROM tok), " +
      "bits AS (SELECT doc_id, b, ((h // (CAST(1 AS BIGINT) << b)) % 2) AS bit FROM hh " +
      "JOIN (SELECT UNNEST(range(0,32)) AS b) bb ON true), " +
      "acc AS (SELECT doc_id, b, SUM(bit*2 - 1) AS sc FROM bits GROUP BY doc_id, b), " +
      "sim AS (SELECT doc_id, CAST(SUM(CASE WHEN sc > 0 THEN (CAST(1 AS BIGINT) << b) " +
      "ELSE 0 END) AS BIGINT) AS simhash FROM acc GROUP BY doc_id)"

  /** Per-doc heuristic quality score (length, stopword ratio, mean word
    * length — the q50 formula) as a map-only scored scan, shared by q50
    * (per-source averages), q98 (per-source caps), and — DataFrame-based
    * so the same expressions score a streaming micro-batch — the q98
    * streaming cap twin (streaming/SourceCap). */
  private def qualityScored(s: SparkSession, d: String): DataFrame =
    qualityScoredDf(docs(s, d))

  private[graft] def qualityScoredDf(docsDf: DataFrame): DataFrame =
    docsDf
      .withColumn("t", split(col("text"), " "))
      .withColumn("n_tok", size(col("t")))
      .withColumn("n_stop", size(expr(
        "filter(t, x -> x IN ('the','a','of','and','to','in','is','on','for','it'))")))
      .withColumn("n_char", length(expr("replace(text, ' ', '')")))
      .withColumn("score",
        lit(0.4) * least(col("n_tok") / 50.0, lit(1.0)) +
          lit(0.3) * (col("n_stop").cast("double") / col("n_tok")) +
          lit(0.3) * least((col("n_char").cast("double") / col("n_tok")) / 5.0, lit(1.0)))

  /** DuckDB oracle shared by q133 and its streaming twin q133s. */
  private[queries] val ReportCardOracleSql: String =
    reportCardOracleSqlOver("")

  /** The q133 oracle restricted to a docs filter suffix (q133r's
    * survivors-only form — the dup-pressure window then re-computes
    * over survivors, so deleted partners reverse the dup flag). */
  private[graft] def reportCardOracleSqlOver(docsWhere: String): String =
    "WITH q AS (SELECT doc_id, source, lang, text, " +
      "len(string_split(text,' ')) AS n_tok, " +
      "len(list_filter(string_split(text,' '), x -> x IN " +
      "('the','a','of','and','to','in','is','on','for','it'))) AS n_stop, " +
      "length(replace(text, ' ', '')) AS n_char FROM documents" + docsWhere + "), " +
      "s AS (SELECT doc_id, source, lang, text, n_tok, " +
      "0.4 * LEAST(n_tok/50.0, 1.0) + " +
      "0.3 * (CAST(n_stop AS DOUBLE)/n_tok) + " +
      "0.3 * LEAST((CAST(n_char AS DOUBLE)/n_tok)/5.0, 1.0) AS score FROM q), " +
      "f AS (SELECT source, lang, n_tok, score, " +
      "CASE WHEN MIN(doc_id) OVER (PARTITION BY text) <> MAX(doc_id) OVER (PARTITION BY text) " +
      "THEN 1 ELSE 0 END AS isdup FROM s) " +
      "SELECT source, lang, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS sum_tokens, " +
      "ROUND(AVG(score), 4) AS avg_quality, CAST(SUM(isdup) AS BIGINT) AS n_dup_docs " +
      "FROM f GROUP BY 1, 2 ORDER BY 1, 2"

  /** q133's full report-card stage over a documents relation
    * (doc_id, text, source, lang) — DataFrame-in so the streaming twin
    * (q133s) computes the identical crosstab over its accumulated doc
    * state under the same oracle. */
  private[graft] def reportCardOf(docsDf: DataFrame): DataFrame = {
    val wT = Window.partitionBy(col("text"))
    qualityScoredDf(docsDf)
      .withColumn("isdup",
        (min(col("doc_id")).over(wT) =!= max(col("doc_id")).over(wT)).cast("long"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("sum_tokens"),
        round(avg(col("score")), 4).as("avg_quality"),
        sum(col("isdup")).as("n_dup_docs"))
      .orderBy(col("source"), col("lang"))
  }

  /** Distinct (doc_id, 60-bit bigram hash) tokens — q46b's prefix-index
    * input, derived by EXPLODING the cached state's sorted hash sets
    * (hs IS the distinct h60 set, so this is row-identical to the old
    * re-derivation from `documents` — hash-pinned by the oracle — but
    * costs an in-memory explode instead of a scan + shuffle). */
  private[graft] def bigramTokens(s: SparkSession, d: String): DataFrame =
    bigramStateCached(s, d).select(col("doc_id"), explode(col("hs")).as("h"))

  /** One row per word-n-gram OCCURRENCE with its position:
    * (doc_id, n, n_tokens, pos, h) — the input relation for
    * substring-level dedup (q112 family). `ns` admits several gram
    * lengths in ONE scan: the per-doc token array is split once and
    * every resolution's grams are emitted from the same projection
    * (a doc shorter than a given n simply emits no grams at that n).
    * DataFrame-in/DataFrame-out so the same stage grams a batch table
    * or a streaming micro-batch (the nearDupState doctrine). */
  private[graft] def dupSpanGrams(docsDf: DataFrame, ns: Int*): DataFrame = {
    val nsLit = ns.mkString(", ")
    docsDf.select(col("doc_id"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= ns.min)
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
        explode(expr(
          // slice() is 1-based; gram at 0-based pos i covers tokens
          // i..i+n-1. filter() drops resolutions longer than the doc
          // BEFORE sequence() would produce a descending range.
          s"flatten(transform(filter(array($nsLit), n -> size(t) >= n), " +
            "n -> transform(sequence(0, size(t)-n), " +
            "i -> struct(n AS n, CAST(i AS BIGINT) AS pos, " +
            "array_join(slice(t, i+1, n), ' ') AS gram))))")).as("g"))
      .select(col("doc_id"), col("g.n").as("n"), col("n_tokens"),
        col("g.pos").as("pos"), h32(col("g.gram")).as("h"))
  }

  /** Island-merged duplicate-span statistics over a [[dupSpanGrams]]
    * relation (accumulated streaming state or a one-shot batch):
    * grams whose hash occurs in ≥2 DISTINCT docs mark their positions;
    * overlapping or adjacent marked windows union into islands per
    * (doc, n); output is one row per affected (doc, n) with span count
    * / covered tokens / doc length. The shared-gram test is a WINDOW
    * min≠max over (n, h) — equivalent to countDistinct ≥ 2 but ONE
    * pass over the gram relation: the agg-then-join-back form computed
    * the grams twice (AQE broadcasts the dup set, so the probe side
    * re-scans + re-hashes the corpus rather than reusing the agg's
    * exchange — measured 2× the md5 work at sf0.1), and at 100 TB the
    * dup set is itself shuffle-scale, so a shape that never
    * materializes it wins twice. */
  private[graft] def dupSpanStats(grams: DataFrame): DataFrame = {
    val byGram = Window.partitionBy(col("n"), col("h"))
    val hits = grams
      .withColumn("mn", min(col("doc_id")).over(byGram))
      .withColumn("mx", max(col("doc_id")).over(byGram))
      .where(col("mn") =!= col("mx")).drop("mn", "mx")
    val byDoc = Window.partitionBy(col("doc_id"), col("n")).orderBy(col("pos"))
    val flagged = hits.withColumn("prev_end",
        max(col("pos") + col("n") - 1).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("nf",
        when(col("pos") > coalesce(col("prev_end"), lit(-2L)) + 1, 1L).otherwise(0L))
    val islands = flagged.withColumn("iid", sum(col("nf")).over(byDoc))
    val spans = islands.groupBy(col("doc_id"), col("n"), col("iid"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        min(col("pos")).as("s"), (max(col("pos")) + col("n") - 1).as("e"))
    spans.groupBy(col("doc_id"), col("n"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("dup_tokens"),
        max(col("n_tokens")).as("n_tokens"))
  }

  /** AllPairs/PPJoin candidate pairs for jaccard >= tn/td over a
    * (doc_id, h) token relation — LOSSLESS: a superset of the true
    * result pairs, a (often drastic) subset of all n² pairs. Tokens are
    * ordered per doc by (document frequency asc, h asc); a doc of sz
    * tokens keeps the first sz - ceil(t·sz) + 1 as its prefix; the
    * candidate join is an inverted-index equi-join on prefix tokens
    * with the PPJoin positional filter on top. All ceilings are
    * integer-exact (ceil(tn·x/td) = (tn·x + td − 1) div td; minimum
    * overlap uses t/(1+t) = tn/(tn+td)) so no FP rounding can shorten
    * a prefix and silently drop a pair. See q46b's entry comment for
    * the proof sketch and citations. */
  private[graft] def jaccardPrefixCandidates(tok: DataFrame, tn: Int, td: Int): DataFrame = {
    // INVARIANT (pinned per ADVICE r9): `tok.h` and the `hs` set
    // elements it must stay consistent with are the h60 = xxhash64
    // shingle hashes — Spark-INTERNAL values. No oracle may ever
    // reconstruct h60 (DuckDB verifies via raw shingle-string joins);
    // that freedom is exactly what allowed the r9 md5→xxhash64 swap.
    // If a future oracle starts mirroring these hashes, the swap
    // becomes a silent cross-engine contract and must be revisited.
    val dfreq = tok.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy(col("doc_id"))
    val ordered = tok.join(dfreq, Seq("h"))
      .select(col("doc_id"), col("h"),
        row_number().over(byDoc.orderBy(col("df"), col("h"))).as("pos"),
        count(lit(1)).over(byDoc).as("sz"))
    // asymmetric prefixes (the PPJoin self-join refinement): the LARGER
    // doc of a pair probes with the standard prefix
    // sz − ceil(t·sz) + 1, the SMALLER is indexed with the short prefix
    // sz − ceil(2t/(1+t)·sz) + 1. Lossless GIVEN the length filter:
    // the minimum overlap α = ceil(t/(1+t)·(sa+sb)) satisfies both
    // α >= ceil(t·sa) (needs sb >= t·sa — the length filter) and
    // α >= ceil(2t/(1+t)·sb) (needs sa >= sb — the size ordering), so
    // the pair's globally-smallest shared token sits inside BOTH
    // prefixes. At t = 0.7 the index side shrinks from ~30% to ~18%
    // of each doc — candidate pairs drop ~40%.
    val probe = ordered.where(
      col("pos") <= col("sz") - expr(s"($tn * sz + ${td - 1}) div $td") + 1)
    val index = ordered.where(
      col("pos") <= col("sz") - expr(s"(2 * $tn * sz + ${tn + td - 1}) div ${tn + td}") + 1)
    probe.as("a").join(index.as("b"),
        col("a.h") === col("b.h") &&
          // b is the smaller side in (sz, doc_id) order
          (col("b.sz") < col("a.sz") ||
            (col("b.sz") === col("a.sz") && col("b.doc_id") < col("a.doc_id"))) &&
          // AllPairs length filter: J <= min(sz)/max(sz), so a
          // qualifying pair needs td*min >= tn*max (integer-exact);
          // REQUIRED for the asymmetric prefixes' losslessness, not
          // just an optimization
          expr(s"$td * b.sz >= $tn * a.sz") &&
          expr(s"1 + least(a.sz - a.pos, b.sz - b.pos) >= " +
            s"($tn * (a.sz + b.sz) + ${tn + td - 1}) div ${tn + td}"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
  }

  /** The exact all-pairs bigram-Jaccard oracle, parameterized only by
    * the keep rule over (ninter, nunion): q46 keeps on the rounded
    * jaccard >= 0.1 (the brute-force recall oracle); q46b keeps on the
    * exact rational 10·ninter >= 7·nunion, matching its verify filter —
    * prefix filtering is LOSSLESS for true J >= 0.7, so q46b against
    * THIS SQL is exactly q46's result restricted to true J >= 0.7. */
  private def ngramJaccardSql(keep: String): String =
    "WITH " + shinglesSql(2) + ", " +
      "sizes AS (SELECT doc_id, COUNT(*) AS nbg FROM sh GROUP BY doc_id), " +
      "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ninter " +
      "FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "jj AS (SELECT i.doc_a, i.doc_b, i.ninter, " +
      "za.nbg + zb.nbg - i.ninter AS nunion " +
      "FROM inter i JOIN sizes za ON za.doc_id = i.doc_a JOIN sizes zb ON zb.doc_id = i.doc_b) " +
      "SELECT doc_a, doc_b, ROUND(CAST(ninter AS DOUBLE)/nunion, 4) AS jaccard " +
      s"FROM jj WHERE $keep ORDER BY doc_a, doc_b"

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q41_exact_dedup",
      (s, d) => docs(s, d).groupBy(col("text")).agg(count(lit(1)).as("cnt"))
        .where(col("cnt") > 1)
        .agg(count(lit(1)).as("dup_groups"),
          coalesce(sum(col("cnt") - 1), lit(0L)).cast("long").as("surplus")),
      Some("SELECT COUNT(*) AS dup_groups, CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT) AS surplus " +
        "FROM (SELECT text, COUNT(*) AS cnt FROM documents GROUP BY text HAVING COUNT(*) > 1)")),

    QueryDef("q43_token_stats",
      (s, d) => docs(s, d).groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt"),
          round(avg(size(split(col("text"), " "))), 2).as("avg_tokens"))
        .orderBy(col("lang")),
      Some("SELECT lang, COUNT(*) AS cnt, ROUND(AVG(len(string_split(text,' '))), 2) AS avg_tokens " +
        "FROM documents GROUP BY lang ORDER BY lang")),

    QueryDef("q44_minhash_pairs",
      // MinHash-LSH over 3-gram shingles: 8 md5-derived min-hashes per
      // doc; candidate pairs share any band (8 bands × 1 hash); exact
      // shingle-set Jaccard computed only for candidates — via the
      // one-scan nearDupState + codegen sorted-set kernel (the q54
      // verify shape; the previous shingle×shingle inverted-index join
      // cost a second full shingle shuffle and a Σdf² blowup on hot
      // shingles). Candidate generation is a hash-equi-join on
      // (band, minhash) — no n² pass; minInter = 1 reproduces the
      // oracle's inverted-index inner-join semantics (zero-overlap
      // band-collision candidates vanish, every overlapping pair stays).
      (s, d) => {
        // the state relation feeds candidate generation AND both verify
        // sides (3 plan references) — materialize once, lineage
        // truncated (the round-8 localCheckpoint doctrine: a persisted
        // multi-reference relation still re-plans its full tree per
        // reference)
        val state = nearDupState(docs(s, d), n = 3, nHashes = 8)
          .localCheckpoint(true)
        verifyPairs(bandedCandidates(state, 8, 1),
          state.select(col("doc_id"), col("hs"), col("nbg")),
          minJaccard = 0.0, minInter = 1L)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("WITH " + shinglesSql(3) + ", " + minhashSigSql(8, 1) + ", " +
        "sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS ninter FROM cand c " +
        "JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh " +
        "GROUP BY c.doc_a, c.doc_b) " +
        "SELECT i.doc_a, i.doc_b, ROUND(CAST(i.ninter AS DOUBLE)/(za.nsh + zb.nsh - i.ninter), 4) AS jaccard " +
        "FROM inter i JOIN sizes za ON za.doc_id = i.doc_a JOIN sizes zb ON zb.doc_id = i.doc_b " +
        "ORDER BY doc_a, doc_b")),

    QueryDef("q45_simhash",
      (s, d) => simhashDf(s, d).orderBy(col("doc_id")),
      Some("WITH " + SimhashSql + " SELECT doc_id, simhash FROM sim ORDER BY doc_id")),

    QueryDef("q45b_simhash_pairs",
      // Hamming ≤ 3 near-dups. Spark side generates candidates by banding
      // the 32-bit simhash into 4 bytes: any pair within hamming 3 must
      // agree on ≥ 1 band (pigeonhole), so banding is EXACT here while
      // replacing the n² pair space with equi-join buckets. Oracle brute-
      // forces the pairs — results provably identical.
      (s, d) => {
        val sig = simhashDf(s, d)
        val banded = sig.select(col("doc_id"), col("simhash"),
          posexplode(array((0 until 4).map(j =>
            expr(s"(simhash div shiftleft(1L, ${8 * j})) % 256")): _*)).as(Seq("band", "bv")))
        banded.as("x").join(banded.as("y"),
            col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
            expr("CAST(bit_count(x.simhash ^ y.simhash) AS INT)").as("hamming"))
          .distinct()
          .where(col("hamming") <= 3)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("WITH " + SimhashSql + " " +
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming " +
        "FROM sim a JOIN sim b ON a.doc_id < b.doc_id " +
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3 ORDER BY doc_a, doc_b")),

    QueryDef("q46_ngram_jaccard",
      // Exact bigram-set Jaccard. Each doc's bigram set becomes one
      // sorted array of 60-bit md5 hashes (collision-free in practice),
      // so a pair costs a codegen two-pointer merge
      // (SortedArrayIntersectCount) instead of an inverted-index join —
      // which explodes as Σ df² when the vocabulary is small and
      // bigrams are hot. At corpus scale, bound the pair space first
      // with q44's MinHash banding, then verify candidates with this
      // exact operator.
      (s, d) => {
        import graft.functions.SortedArrayIntersectCount
        import org.apache.spark.sql.graftbridge.ColumnBridge
        def interCount(a: Column, b: Column): Column =
          ColumnBridge.column(SortedArrayIntersectCount(
            ColumnBridge.expression(a), ColumnBridge.expression(b)))
        // (doc_id, hs, nbg) is a column subset of the shared cached
        // bigram state — same h60 hash, same sorted collect_set
        val sets = bigramStateCached(s, d)
          .select(col("doc_id"), col("hs"), col("nbg"))
        // the stream side must be spread explicitly: a few thousand
        // aggregated rows land in one (AQE-coalesced) partition, which
        // would serialize the O(n²) pair loop into a single task
        val spread = sets.repartition(s.sparkContext.defaultParallelism)
        val pairs = broadcast(sets.as("a")).join(spread.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        pairs
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            interCount(col("a.hs"), col("b.hs")).as("ninter"),
            (col("a.nbg") + col("b.nbg")).as("ntot"))
          .select(col("doc_a"), col("doc_b"),
            round(col("ninter").cast("double") / (col("ntot") - col("ninter")), 4).as("jaccard"))
          .where(col("jaccard") >= 0.1)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(ngramJaccardSql("ROUND(CAST(ninter AS DOUBLE)/nunion, 4) >= 0.1"))),

    QueryDef("q46b_jaccard_prefix_join",
      // LOSSLESS exact Jaccard join at the production near-dup
      // threshold t = 0.7: AllPairs/PPJoin prefix filtering (Bayardo et
      // al., WWW'07; Xiao et al., WWW'08). Order each doc's bigram set
      // by ascending document frequency (ties by hash); a pair with
      // jaccard >= t must share >= ceil(t*|x|) elements with each
      // member, so its globally-SMALLEST common token must sit in the
      // first |x| - ceil(t*|x|) + 1 positions of BOTH docs — the
      // "prefix". Candidates are therefore an inverted-index equi-join
      // on prefix tokens only, pruned further by the AllPairs length
      // filter (td*min(sz) >= tn*max(sz)) and the PPJoin positional
      // filter (1 + min(remaining) >= minimum overlap
      // ceil(t/(1+t)*(|a|+|b|))), then exact-verified with the same
      // codegen set kernel as q46. No approximation anywhere: the
      // oracle is q46's all-pairs SQL at 0.7, so this is PROVABLY q46's
      // result restricted to >= 0.7 — and where exactness at the
      // near-dup threshold is required, this is the exact counterpart
      // of q54's recall-bound banding (every banded pair scoring >= 0.7
      // must appear here with the identical score; spec-pinned). All
      // ceilings are integer-exact (t = 7/10, t/(1+t) = 7/17) so no FP
      // rounding can shorten a prefix and drop a pair. THRESHOLD
      // SENSITIVITY, measured at sf0.1: prefix filtering is a
      // high-threshold technique (prefix ≈ (1-t)·sz + 1), and this
      // fixture is its worst case — 931 distinct bigrams over 5000 docs
      // means every token is corpus-hot and blocking degenerates: 5.5M
      // candidate pairs at t=0.35 (16.7 s), 1.4M at 0.7; at a realistic
      // Zipfian vocabulary the df-ascending prefixes carry RARE tokens
      // and the index join touches a vanishing fraction of Σdf². Below
      // t ≈ 0.3 (or on hot-vocab corpora) LSH recall/verify (q54) is
      // the right tool; the window is per-doc (partitionBy doc_id), the
      // df table one row per distinct bigram: nothing driver-side,
      // no n².
      (s, d) => {
        val tok = bigramTokens(s, d)
        val sets = bigramStateCached(s, d)
          .select(col("doc_id"), col("hs"), col("nbg"))
        verifyPairs(jaccardPrefixCandidates(tok, PrefixJoinTn, PrefixJoinTd), sets,
          exactThreshold = Some((PrefixJoinTn, PrefixJoinTd)))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(ngramJaccardSql(
        s"$PrefixJoinTd * ninter >= $PrefixJoinTn * nunion"))),

    QueryDef("q54_banded_neardup",
      // The composed 100 TB near-dup pipeline (VERDICT round-1 item 1):
      // MinHash-banded candidate generation (8 bands × 2 hashes over
      // bigram shingles — design threshold (1/8)^(1/2) ≈ 0.35; two-hash
      // band keys keep buckets tiny because unrelated docs must collide
      // on two independent minhashes, where single-hash bands explode on
      // corpus-hot shingles) followed by EXACT verification of only the
      // candidates with the codegen two-pointer set kernel
      // (SortedArrayIntersectCount over each doc's sorted 60-bit
      // shingle-hash array), keeping pairs with jaccard ≥ 0.35. Same
      // (doc_a, doc_b, jaccard) schema as q46; q46's all-pairs form
      // remains the fixture-scale recall baseline (BandedNearDupSpec).
      // Physical plan is guarded to contain no
      // BroadcastNestedLoopJoin/CartesianProduct.
      (s, d) => bandedNearDupPairs(s, d).orderBy(col("doc_a"), col("doc_b")),
      Some("WITH " + BandedPairsSqlCtes + " " +
        "SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b")),

    QueryDef("q130_dedup_threshold_sweep",
      // The DEDUP-POLICY ablation (q129's twin for the dedup layer):
      // how aggressive should near-dup collapse be? One oracle-hashed
      // report row per Jaccard threshold t ∈ {0.35, 0.5, 0.7} —
      // pair count, cluster count, docs in clusters, and docs a
      // keep-one-per-cluster policy would drop. All three thresholds
      // sit AT or ABOVE the banding design floor (0.35, the 8×2 LSH
      // threshold), so they are lossless FILTERS over the one shared
      // verified pair relation (bandedNearDupPairs — cached,
      // checkpointed): no re-banding, no re-verification, just three
      // connected-components runs on shrinking graphs, submitted
      // concurrently (the q129 precedent). The threshold literal
      // compares against the rounded-4 jaccard identically on both
      // engines (the q54 parity argument). Report assembled
      // driver-side from bounded aggregates (3 rows × 3 counts).
      (s, d) => {
        val pairs = bandedNearDupPairs(s, d)
        // cost-model inputs (VERDICT r9 item 7 — the cluster-sizing
        // numbers q129 already carries): scan_rows is the shared
        // verified pair relation every filter leg reads (selectivity =
        // n_pairs/scan_rows); edge_rows = 2·n_pairs is the directed
        // edge relation a CC round joins; round_shuffle_rows =
        // edge_rows + n_members is the contrib union one min-label
        // round shuffles — total CC traffic ≈ rounds(≈ component
        // diameter) × round_shuffle_rows. All exact integers, mirrored
        // in the oracle from the same CTEs.
        val scanRows = pairs.count()
        val rows = graft.util.Jobs.awaitAll("q130 threshold legs")(
          Seq(35, 50, 70).map { t => () => {
          val p = graft.util.StageAudit.record(s"q130:filter-t$t",
            pairs.where(col("jaccard") >= t / 100.0)).localCheckpoint(true)
          val comp = DedupGroups.components(p)
          val agg = graft.util.StageAudit.record(s"q130:cluster-agg-t$t",
            comp.groupBy(col("rep")).agg(count(lit(1)).as("m"))
              .agg(count(lit(1)).as("ncl"), coalesce(sum(col("m")), lit(0L)).as("nmem")))
            .collect().head
          val (ncl, nmem) = (agg.getLong(0), agg.getLong(1))
          val np = p.count()
          (t.toLong, np, ncl, nmem, nmem - ncl,
            scanRows, 2 * np, 2 * np + nmem)
        } })
        val spark = s
        import spark.implicits._
        rows.toDF("threshold_e2", "n_pairs", "n_clusters", "n_members",
            "n_dropped", "scan_rows", "edge_rows", "round_shuffle_rows")
          .orderBy(col("threshold_e2"))
      },
      Some {
        def leg(t: Int): String = {
          val lit = s"0.$t"
          s"p$t AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= $lit), " +
            s"edges$t AS (SELECT doc_a AS src, doc_b AS dst FROM p$t " +
            s"UNION SELECT doc_b, doc_a FROM p$t), " +
            s"nodes$t AS (SELECT DISTINCT src AS doc FROM edges$t), " +
            s"reach$t(doc, r) AS (SELECT doc, doc FROM nodes$t " +
            s"UNION SELECT e.dst, reach$t.r FROM reach$t JOIN edges$t e ON e.src = reach$t.doc), " +
            s"rep$t AS (SELECT doc, MIN(r) AS rep_doc FROM reach$t GROUP BY doc), " +
            s"row$t AS (SELECT CAST($t AS BIGINT) AS threshold_e2, " +
            s"CAST((SELECT COUNT(*) FROM p$t) AS BIGINT) AS n_pairs, " +
            s"CAST((SELECT COUNT(DISTINCT rep_doc) FROM rep$t) AS BIGINT) AS n_clusters, " +
            s"CAST((SELECT COUNT(*) FROM rep$t) AS BIGINT) AS n_members, " +
            s"CAST((SELECT COUNT(*) FROM rep$t) - (SELECT COUNT(DISTINCT rep_doc) FROM rep$t) AS BIGINT) AS n_dropped, " +
            "CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS scan_rows, " +
            s"CAST(2 * (SELECT COUNT(*) FROM p$t) AS BIGINT) AS edge_rows, " +
            s"CAST(2 * (SELECT COUNT(*) FROM p$t) + (SELECT COUNT(*) FROM rep$t) AS BIGINT) AS round_shuffle_rows)"
        }
        "WITH RECURSIVE " + BandedPairsSqlCtes + ", " +
          Seq(35, 50, 70).map(leg).mkString(", ") +
          " SELECT * FROM (SELECT * FROM row35 UNION ALL SELECT * FROM row50 " +
          "UNION ALL SELECT * FROM row70) ORDER BY threshold_e2"
      }),

    QueryDef("q57_dedup_groups",
      // The step after pair verification in a corpus dedup: near-dup
      // pairs chain (A≈B≈C), so whole CONNECTED COMPONENTS must
      // collapse to one canonical doc. Spark side: q54's banded pairs →
      // iterative min-label propagation (operators/DedupGroups — one
      // join+groupBy shuffle per round, rounds = component diameter).
      // Oracle: the same components via a DuckDB recursive CTE over the
      // same banded pair CTEs. Output: one row per dedup group — the
      // representative (min doc id) and the group size, i.e. n_members-1
      // docs would be dropped.
      (s, d) => DedupGroups.sizes(dedupComponents(s, d)),
      Some(dedupGroupsOracleSqlOver(""))),

    QueryDef("q49_langid_confusion",
      // n-gram-profile language-ID: per-lang top-20 token profile learned
      // from the corpus (broadcastable), docs scored by profile hits,
      // argmax with deterministic tie-break. Output is the confusion
      // matrix lang × predicted.
      (s, d) => {
        val tok = docs(s, d).select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("tok"))
        val freq = tok.groupBy(col("lang").as("p_lang"), col("tok")).agg(count(lit(1)).as("c"))
        val wProf = Window.partitionBy(col("p_lang")).orderBy(col("c").desc, col("tok"))
        val prof = freq.withColumn("rn", row_number().over(wProf))
          .where(col("rn") <= 20).select(col("p_lang"), col("tok"))
        val score = tok.join(prof, Seq("tok"))
          .groupBy(col("doc_id"), col("p_lang")).agg(count(lit(1)).as("sc"))
        val wPred = Window.partitionBy(col("doc_id")).orderBy(col("sc").desc, col("p_lang"))
        val pred = score.withColumn("rn", row_number().over(wPred))
          .where(col("rn") === 1).select(col("doc_id"), col("p_lang").as("pred_lang"))
        docs(s, d).join(pred, Seq("doc_id"), "left_outer")
          .groupBy(col("lang"), coalesce(col("pred_lang"), lit("unknown")).as("predicted"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("lang"), col("predicted"))
      },
      Some("WITH tok AS (SELECT doc_id, lang, UNNEST(string_split(text,' ')) AS tok FROM documents), " +
        "freq AS (SELECT lang AS p_lang, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2), " +
        "prof AS (SELECT p_lang, tok FROM (SELECT p_lang, tok, ROW_NUMBER() OVER " +
        "(PARTITION BY p_lang ORDER BY c DESC, tok) AS rn FROM freq) WHERE rn <= 20), " +
        "score AS (SELECT t.doc_id, p.p_lang, COUNT(*) AS sc FROM tok t " +
        "JOIN prof p ON p.tok = t.tok GROUP BY 1, 2), " +
        "pred AS (SELECT doc_id, p_lang AS pred_lang FROM (SELECT doc_id, p_lang, " +
        "ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY sc DESC, p_lang) AS rn FROM score) " +
        "WHERE rn = 1) " +
        "SELECT d.lang, COALESCE(p.pred_lang, 'unknown') AS predicted, COUNT(*) AS cnt " +
        "FROM documents d LEFT JOIN pred p ON p.doc_id = d.doc_id " +
        "GROUP BY 1, 2 ORDER BY lang, predicted")),

    QueryDef("q50_quality_score",
      (s, d) => qualityScored(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("cnt"), round(avg(col("score")), 4).as("avg_quality"))
        .orderBy(col("source")),
      Some("WITH q AS (SELECT source, len(string_split(text,' ')) AS n_tok, " +
        "len(list_filter(string_split(text,' '), x -> x IN " +
        "('the','a','of','and','to','in','is','on','for','it'))) AS n_stop, " +
        "length(replace(text, ' ', '')) AS n_char FROM documents), " +
        "s AS (SELECT source, 0.4 * LEAST(n_tok/50.0, 1.0) + " +
        "0.3 * (CAST(n_stop AS DOUBLE)/n_tok) + " +
        "0.3 * LEAST((CAST(n_char AS DOUBLE)/n_tok)/5.0, 1.0) AS score FROM q) " +
        "SELECT source, COUNT(*) AS cnt, ROUND(AVG(score), 4) AS avg_quality " +
        "FROM s GROUP BY source ORDER BY source")),

    QueryDef("q133_corpus_report_card",
      // The corpus REPORT CARD — the one-page (source × lang) table a
      // data owner reads before training: docs, token volume, mean
      // heuristic quality (the q50 formula, shared map-only stage) and
      // exact-duplicate pressure (docs whose full text recurs
      // corpus-wide, the q41 statistic attributed back to its rows).
      // Composition, not new math: the point is that every per-corpus
      // number the pipeline computes separately lands in ONE
      // oracle-hashed crosstab keyed the way curation decisions are
      // made (per source per language). Scale shape: the quality scan
      // is map-only; the dup flag is one text-keyed window (min≠max
      // over doc_id — the q112 window-not-join-back doctrine; a
      // text-equality GROUP + join-back would rescan the corpus);
      // final agg is sources×langs rows.
      (s, d) => reportCardOf(docs(s, d)),
      Some(ReportCardOracleSql)),

    QueryDef("q133s_incremental_report_card",
      // The STREAMING q133 under the batch oracle (the q112s/q119s
      // doctrine, extended to the REPORT family): documents arrive in
      // two deterministic waves through IncrementalReportCard — each
      // wave only appends its own doc rows (no cross-doc work per
      // batch; dup pressure, quality means and totals are one
      // reportCardOf pass at emission over the accumulated state) —
      // and the crosstab is checked against the SAME DuckDB oracle as
      // batch q133. ODD ids first so retroactive dup-flagging is real:
      // an even (smaller) doc id arriving later flips an already-
      // ingested odd doc's isdup without re-processing it.
      (s, d) => {
        import graft.streaming.IncrementalReportCard
        val statePath = graft.util.Scratch.dir("q133s-incremental")
        val inc = new IncrementalReportCard(statePath)
        val src = docs(s, d).select(col("doc_id"), col("text"), col("source"), col("lang"))
        // micro-batch waves + emission sized to MicroBatchPartitions
        // (the q66 doctrine — see Confs.withMicroBatch)
        graft.util.Confs.withMicroBatch(s) {
        inc.processBatch(src.where(col("doc_id") % 2 === 1), 0L)
        inc.processBatch(src.where(col("doc_id") % 2 === 0), 1L)
        inc.reportCard(s)
        }
      },
      Some(ReportCardOracleSql)),

    QueryDef("q133r_report_card_retract",
      // q133s with CDC DELETE retraction: both waves, then docs with
      // doc_id % 7 == 0 retracted. The interesting reversal: the
      // report's dup-pressure column is a corpus-wide text window, so
      // deleting a doc whose ONLY duplicate partner survives flips the
      // survivor's isdup back to 0 — the retroactive dup flag runs
      // BACKWARDS, which naive row filtering of the old crosstab can
      // never produce. Oracle = batch q133 over the survivors.
      (s, d) => {
        import graft.streaming.IncrementalReportCard
        val statePath = graft.util.Scratch.dir("q133r-retract")
        val inc = new IncrementalReportCard(statePath)
        val src = docs(s, d).select(col("doc_id"), col("text"), col("source"), col("lang"))
        graft.util.Confs.withMicroBatch(s) {
        inc.processBatch(src.where(col("doc_id") % 2 === 1), 0L)
        inc.processBatch(src.where(col("doc_id") % 2 === 0), 1L)
        inc.retractBatch(
          src.where(col("doc_id") % 7 === 0).select(col("doc_id")), 2L)
        inc.reportCard(s)
        }
      },
      Some(reportCardOracleSqlOver(" WHERE doc_id % 7 <> 0"))),

    QueryDef("q51_token_regex",
      (s, d) => docs(s, d)
        .select(col("lang"), expr("size(regexp_extract_all(text, '[A-Za-z0-9]+', 0))").as("n"))
        .groupBy(col("lang"))
        .agg(sum(col("n")).cast("long").as("sum_tokens"), round(avg(col("n")), 2).as("avg_tokens"))
        .orderBy(col("lang")),
      Some("SELECT lang, CAST(SUM(n) AS BIGINT) AS sum_tokens, ROUND(AVG(n), 2) AS avg_tokens " +
        "FROM (SELECT lang, len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n FROM documents) " +
        "GROUP BY lang ORDER BY lang")),

    QueryDef("q52_fingerprint",
      // Deterministic rolling polynomial hash (h*31 + byte mod 1e9+7)
      // folded left over characters — a document fingerprint computable
      // identically by any engine with a fold primitive.
      (s, d) => docs(s, d)
        .select(col("doc_id"), expr(
          "aggregate(filter(split(text, ''), c -> c <> ''), 0L, " +
            "(h, c) -> (h * 31 + ascii(c)) % 1000000007)").as("fingerprint"))
        .orderBy(col("doc_id")),
      Some("SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))), " +
        "(h, c) -> (h * 31 + c) % 1000000007) AS fingerprint FROM documents ORDER BY doc_id")),

    QueryDef("q98_source_cap",
      // Per-source contribution cap — the standard web-curation step
      // (C4/RefinedWeb-style: no single domain may dominate the corpus)
      // expressed as keep-the-top-5-docs-per-source by quality score.
      // Windowless: the mergeable bounded-buffer Aggregator
      // (functions/TopKRows) folds each task's docs into a ≤ 5-entry
      // buffer, so the shuffle carries at most 5·sources·tasks tuples —
      // a per-domain cap over a 100 TB crawl never sorts a domain's
      // full document set (a hot domain is exactly where the window
      // form degenerates: one partition holding millions of rows).
      // Ranking ties break on doc_id; the emitted score uses the
      // engine-portable floor(x*1e4+0.5)/1e4 rounding (q22 doctrine).
      (s, d) =>
        graft.functions.TopKRows.ranked(qualityScored(s, d), 5, Seq("source"),
            col("score"), col("doc_id"))
          .select(col("source"), col("rank").as("rk"), col("id").as("doc_id"),
            (floor(col("score") * 10000 + lit(0.5)) / 10000).as("score"))
          .orderBy(col("source"), col("rk")),
      Some("WITH q AS (SELECT doc_id, source, len(string_split(text,' ')) AS n_tok, " +
        "len(list_filter(string_split(text,' '), x -> x IN " +
        "('the','a','of','and','to','in','is','on','for','it'))) AS n_stop, " +
        "length(replace(text, ' ', '')) AS n_char FROM documents), " +
        "sc AS (SELECT doc_id, source, 0.4 * LEAST(n_tok/50.0, 1.0) + " +
        "0.3 * (CAST(n_stop AS DOUBLE)/n_tok) + " +
        "0.3 * LEAST((CAST(n_char AS DOUBLE)/n_tok)/5.0, 1.0) AS score FROM q) " +
        "SELECT source, rk, doc_id, FLOOR(score*10000 + 0.5)/10000 AS score FROM (" +
        "SELECT source, doc_id, score, ROW_NUMBER() OVER " +
        "(PARTITION BY source ORDER BY score DESC, doc_id) AS rk FROM sc) " +
        "WHERE rk <= 5 ORDER BY source, rk")),

    QueryDef("q99_neardup_triangles",
      // Triangle census of the near-dup graph (q54's verified pairs):
      // per-doc triangle participation + local clustering coefficient
      // in integer micro-units. Dense triangles = template families
      // (every member near-dups every other); a high-degree node with
      // LOW clustering is a boilerplate hub stitching unrelated docs —
      // the two structures a curation pass treats differently (drop the
      // family, keep the hub's neighbors). Scale shape is
      // compact-forward (Latapy 2008): orient every edge from its
      // (degree, id)-smaller endpoint to the larger, pair ORIENTED
      // out-edges per source, close each wedge with an equi-join back
      // on the oriented edge set. Per-node fan-out is out-degree², and
      // degree-orientation bounds Σ outdeg² by O(m^1.5) REGARDLESS of
      // hub degrees (a hub's edges point INTO it, so its out-degree
      // stays ≤ √m-ish) — the reason this exact algorithm, unlike the
      // naive neighbor-join (Σ deg², quadratic on hubs), survives a
      // 100 TB pair graph. Triangles are orientation-invariant, so the
      // oracle counts the same set via the id-ordered 3-way join.
      (s, d) => {
        val pairs = bandedNearDupPairs(s, d).select(col("doc_a"), col("doc_b"))
        val edges = pairs.union(pairs.select(col("doc_b"), col("doc_a")))
          .toDF("src", "dst")
        val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        val withDeg = edges
          .join(deg.select(col("node").as("src"), col("deg").as("sdeg")), Seq("src"))
          .join(deg.select(col("node").as("dst"), col("deg").as("ddeg")), Seq("dst"))
        val oriented = withDeg.where(col("sdeg") < col("ddeg") ||
            (col("sdeg") === col("ddeg") && col("src") < col("dst")))
          .select(col("src"), col("dst"), col("ddeg"))
        val wedges = oriented.as("e1").join(oriented.as("e2"),
            col("e1.src") === col("e2.src") &&
              (col("e1.ddeg") < col("e2.ddeg") ||
                (col("e1.ddeg") === col("e2.ddeg") && col("e1.dst") < col("e2.dst"))))
          .select(col("e1.src").as("u"), col("e1.dst").as("v"), col("e2.dst").as("w"))
        val tri = wedges.join(
          oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
        val triPerNode = tri
          .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
          .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
        deg.join(triPerNode, Seq("node"), "left_outer")
          .select(col("node").as("doc_id"), col("deg"),
            coalesce(col("triangles"), lit(0L)).as("triangles"))
          .withColumn("cc_micro", expr(
            "CASE WHEN deg >= 2 THEN (2 * triangles * 1000000) div (deg * (deg - 1)) " +
              "ELSE CAST(0 AS BIGINT) END"))
          .orderBy(col("doc_id"))
      },
      Some("WITH " + BandedPairsSqlCtes + ", " +
        "e AS (SELECT doc_a AS a, doc_b AS b FROM pairs), " +
        "ed AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e), " +
        "deg AS (SELECT src AS node, COUNT(*) AS deg FROM ed GROUP BY src), " +
        "tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c FROM e e1 " +
        "JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b), " +
        "tn AS (SELECT node, COUNT(*) AS triangles FROM (" +
        "SELECT a AS node FROM tri UNION ALL SELECT b FROM tri " +
        "UNION ALL SELECT c FROM tri) GROUP BY node) " +
        "SELECT d.node AS doc_id, d.deg, COALESCE(tn.triangles, 0) AS triangles, " +
        "CASE WHEN d.deg >= 2 THEN CAST((2 * COALESCE(tn.triangles, 0) * 1000000) // " +
        "(d.deg * (d.deg - 1)) AS BIGINT) ELSE CAST(0 AS BIGINT) END AS cc_micro " +
        "FROM deg d LEFT JOIN tn ON tn.node = d.node ORDER BY doc_id")),

    QueryDef("q112_duplicate_spans",
      // Exact SUBSTRING-level dedup (the Lee et al. 2022 "Deduplicating
      // Training Data" granularity, at word-5-gram resolution): for
      // every doc, the maximal token spans covered by at least one
      // 5-gram that also occurs in ANOTHER document. Doc-level dedup
      // (q41/q44/q54) drops whole near-identical documents; THIS finds
      // the boilerplate paragraph pasted into 10k otherwise-unique
      // pages — the duplication mode doc-level methods are blind to.
      // Output per affected doc: merged span count, duplicated-token
      // count, doc length (span EXTENTS, not gram hit counts —
      // overlapping/adjacent gram hits are unioned into islands first).
      // Scale shape — and why this, unlike pair-based dedup, has NO n²
      // risk anywhere: (1) one shuffle keyed on the 32-bit gram hash
      // counts distinct docs per gram (partial-agg combines repeats
      // map-side; a corpus-hot boilerplate gram costs ONE row per
      // partition, never a pair explosion); (2) the dup-gram set
      // semi-joins back to gram occurrences on the same hash key (same
      // partitioning → ReuseExchange, no extra shuffle of the big
      // side); (3) island-merge is a per-doc window — state bounded by
      // doc length, partition count by docs, never by corpus. Contrast
      // q44/q54: those emit candidate PAIRS (bounded only by banding
      // caps); this emits one row per gram occurrence, linear always.
      (s, d) => dupSpanStats(dupSpanGrams(docs(s, d), 5))
        .select(col("doc_id"), col("n_spans"), col("dup_tokens"), col("n_tokens"))
        .orderBy(col("doc_id")),
      Some(DupSpanOracleSql)),

    QueryDef("q112s_incremental_dup_spans",
      // The STREAMING q112 under the batch oracle (the q66 doctrine):
      // documents arrive in two deterministic waves through
      // IncrementalDupSpans — each wave only grams and APPENDS its own
      // docs (no per-batch cross-doc work at all; the shared-gram
      // decision is one hash agg at emission time over the accumulated
      // state) — and the final span stats are checked against the SAME
      // DuckDB oracle as batch q112. Stream==batch holds by
      // construction: the state is a pure union of per-doc pure
      // functions of text, so arrival order cannot change it.
      (s, d) => {
        import graft.streaming.IncrementalDupSpans
        val statePath = graft.util.Scratch.dir("q112s-incremental")
        val inc = new IncrementalDupSpans(statePath)
        val src = docs(s, d).select(col("doc_id"), col("text"))
        graft.util.Confs.withMicroBatch(s) {
        inc.processBatch(src.where(col("doc_id") % 2 === 0), 0L)
        inc.processBatch(src.where(col("doc_id") % 2 === 1), 1L)
        inc.spans(s)
          .select(col("doc_id"), col("n_spans"), col("dup_tokens"), col("n_tokens"))
          .orderBy(col("doc_id"))
        }
      },
      Some(DupSpanOracleSql)),

    QueryDef("q112r_dup_spans_retract",
      // q112s with CDC DELETE retraction (the qc6 tombstone doctrine
      // on the SPAN state — with this, q119s/q66/q88/q112s/q126s/q133s
      // ALL carry tombstone semantics): both waves, then docs with
      // doc_id % 7 == 0 retracted. Retraction here is SECOND-ORDER:
      // dropping a doc doesn't just remove its rows — a span that was
      // duplicated ONLY against the deleted doc flips back to unique
      // on every surviving doc, because the shared-gram judgment runs
      // over the tombstone-filtered gram state at emission. The oracle
      // is batch q112 over the survivors (no retraction machinery in
      // it): it matches only if exactly those flips happened.
      (s, d) => {
        import graft.streaming.IncrementalDupSpans
        val statePath = graft.util.Scratch.dir("q112r-retract")
        val inc = new IncrementalDupSpans(statePath)
        val src = docs(s, d).select(col("doc_id"), col("text"))
        graft.util.Confs.withMicroBatch(s) {
        inc.processBatch(src.where(col("doc_id") % 2 === 1), 0L)
        inc.processBatch(src.where(col("doc_id") % 2 === 0), 1L)
        inc.retractBatch(
          src.where(col("doc_id") % 7 === 0).select(col("doc_id")), 2L)
        inc.spans(s)
          .select(col("doc_id"), col("n_spans"), col("dup_tokens"), col("n_tokens"))
          .orderBy(col("doc_id"))
        }
      },
      Some(dupSpanOracleSqlOver("doc_id % 7 <> 0"))),

    QueryDef("q112b_multiscale_dup_spans",
      // Multi-RESOLUTION duplicate spans: the q112 statistic at n ∈
      // {5, 10, 20} side by side, long format (doc_id, n, …). Lee et
      // al. 2022 dedup at a 50-token threshold ≈ large n (high
      // precision, misses short boilerplate); n=5 is high-sensitivity
      // (flags short common idioms too). Because any shared n-token run
      // contains all its shared sub-runs, coverage at a smaller n is a
      // SUPERSET per doc — the three rows bound the true duplication
      // between "verbatim paragraphs" (n=20) and "any shared phrase"
      // (n=5), which is the knob a curation pass actually tunes.
      // Scale shape: ONE scan emits every resolution's grams from the
      // same token array (dupSpanGrams' flatten-transform), ONE
      // shuffle keyed (n, h) serves both the dup agg and the hit join
      // (ReuseExchange), islands window per (doc, n) — still linear,
      // ~3× the gram rows of q112.
      (s, d) => dupSpanStats(dupSpanGrams(docs(s, d), 5, 10, 20))
        .select(col("doc_id"), col("n"), col("n_spans"),
          col("dup_tokens"), col("n_tokens"))
        .orderBy(col("doc_id"), col("n")),
      Some(MultiscaleDupSpanOracleSql)),

    QueryDef("q112bs_incremental_multiscale_spans",
      // Multi-RESOLUTION streaming dup spans — the q112b statistic
      // maintained incrementally: ONE IncrementalDupSpans state holds
      // all resolutions n ∈ {5, 10, 20} keyed by the (n, h) column
      // pair (r9 consolidation, VERDICT r9 item 5 — the previous
      // one-state-per-n layout tripled the state reads, writes and
      // replay guards for rows that differ only in n; 5.2 s → ~2 s).
      // Two deterministic waves, each wave tokenizes ONCE and appends
      // every resolution's grams from the same token array
      // (dupSpanGrams' flatten-transform); final emission is
      // long-format under the SAME DuckDB oracle as batch q112b. A new
      // resolution can still be added later: appended n=50 rows only
      // create (50, h) groups, old resolutions' stats are untouched.
      (s, d) => {
        import graft.streaming.IncrementalDupSpans
        val base = graft.util.Scratch.dir("q112bs-incremental")
        val src = docs(s, d).select(col("doc_id"), col("text"))
        val inc = new IncrementalDupSpans(base, Seq(5, 10, 20))
        graft.util.Confs.withMicroBatch(s) {
        inc.processBatch(src.where(col("doc_id") % 2 === 0), 0L)
        inc.processBatch(src.where(col("doc_id") % 2 === 1), 1L)
        inc.spans(s)
          .select(col("doc_id"), col("n"), col("n_spans"),
            col("dup_tokens"), col("n_tokens"))
          .orderBy(col("doc_id"), col("n"))
        }
      },
      Some(MultiscaleDupSpanOracleSql)),

    QueryDef("q119_line_dedup",
      // Duplicate-LINE removal with document reconstruction — the
      // C4/RefinedWeb curation step q112 only MEASURES: any line that
      // occurs more than once corpus-wide is dropped from every doc
      // except its first occurrence (min (doc_id, position)), and the
      // surviving lines are reassembled in order into the cleaned text.
      // The fixture's text has no newline structure, so "line" here is
      // a fixed 10-token window (pos div 10) — the operator is boundary-
      // function-agnostic (swap the chunker for split('\n') or a
      // sentence breaker; everything downstream is unchanged).
      // Scale shape: (1) chunking is a map-only slice/transform of the
      // token array — no shuffle, no per-token explode row blowup
      // (chunk rows = tokens/10); (2) the keep decision is a window
      // min/max over the chunk text (ONE shuffle; the q112 doctrine —
      // a filter relation derived from the probe input itself wants a
      // window, not an agg-then-join-back that re-scans the probe);
      // (3) reassembly is one per-doc hash agg whose collect_list state
      // is bounded by doc length. A corpus-hot boilerplate chunk lands
      // one window partition (no map-side combine) — at 100 TB with
      // adversarial skew, escape-hatch to the two-level salted agg +
      // broadcast-join form and pay the re-scan instead.
      (s, d) => lineDedupStats(lineChunks(docs(s, d))).orderBy(col("doc_id")),
      Some(LineDedupOracleSql)),

    QueryDef("q119b_line_dedup_salted",
      // q119's skew ESCAPE-HATCH as a first-class entry (VERDICT r9
      // item 7 — previously only an entry comment): identical result
      // under the identical oracle, but the keep decision is a
      // two-level salted aggregation + dup-side join-back instead of a
      // chunk-partitioned window, so a corpus-hot boilerplate chunk
      // (10^7 occurrences of a cookie banner) spreads across `salts`
      // reducers with map-side combine instead of landing one window
      // partition. See [[lineDedupStatsSalted]]; LineDedupSaltedSpec
      // proves the spread on a synthetic hot chunk and PlanSpec guards
      // the two-agg shape. Costs one extra scan of the chunk relation
      // (the join-back) — the documented trade; prefer plain q119
      // until a skew monitor (q84's family) flags a hot chunk.
      (s, d) => lineDedupStatsSalted(lineChunks(docs(s, d))).orderBy(col("doc_id")),
      Some(LineDedupOracleSql)),

    QueryDef("q126_substring_removal",
      // Exact-SUBSTRING removal with document reconstruction — the
      // removal step of Lee et al. 2022's ExactSubstr, realized at
      // sliding word-10-gram granularity: every 10-token window that
      // already occurred at a (doc_id, pos)-earlier corpus position is
      // a duplicated span; a doc's tokens covered by any such span are
      // dropped and the survivors reassembled in order. This closes the
      // q112→q119 gap: q112 MEASURES sub-document duplication, q119
      // removes at fixed chunk boundaries (a repeat straddling a chunk
      // edge escapes it) — the sliding gram sees every alignment.
      // Keep-first at gram granularity means the FIRST occurrence of a
      // boilerplate paragraph survives verbatim; later occurrences lose
      // exactly the covered tokens.
      // Scale shape: one gram explode (linear×1), ONE (h)-keyed window
      // ranks occurrences by (doc_id, pos) — the q112/q119 window-not-
      // join-back doctrine; dup positions fold into a per-doc sorted
      // array (bounded by doc length), and removal+reassembly is one
      // map over affected docs (coverage test per token is a bounded
      // exists() over that array). Unaffected docs never leave the
      // gram stage. 32-bit gram hashing: both engines hash identically,
      // so a collision changes both sides the same way (LlmText header
      // doctrine).
      (s, d) => substringRemoval(docs(s, d), 10),
      Some(SubstringRemovalOracleSql)),

    QueryDef("q126s_incremental_substring_removal",
      // The STREAMING q126 under the batch oracle (the q119s/q112s
      // doctrine): documents arrive in two deterministic waves through
      // IncrementalSubstringRemoval — each wave only grams and APPENDS
      // its own docs; keep-first, removal and reconstruction are one
      // window pass at emission over the accumulated grams — checked
      // against the SAME DuckDB oracle as batch q126. ODD ids first so
      // the retroactive flip is real: even (smaller) doc ids arrive
      // later and take gram ownership away from already-ingested odds.
      (s, d) => {
        import graft.streaming.IncrementalSubstringRemoval
        val statePath = graft.util.Scratch.dir("q126s-incremental")
        val inc = new IncrementalSubstringRemoval(statePath)
        val src = docs(s, d).select(col("doc_id"), col("text"))
        graft.util.Confs.withMicroBatch(s) {
        inc.processBatch(src.where(col("doc_id") % 2 === 1), 0L)
        inc.processBatch(src.where(col("doc_id") % 2 === 0), 1L)
        inc.removals(s).orderBy(col("doc_id"))
        }
      },
      Some(SubstringRemovalOracleSql)),

    QueryDef("q126r_substring_removal_retract",
      // q126s with CDC DELETE retraction: both waves, then docs with
      // doc_id % 7 == 0 retracted. Second-order semantics again: a
      // sliding gram whose ONLY earlier occurrence lived in a deleted
      // doc stops removing tokens from surviving docs, and a deleted
      // doc that OWNED a gram passes keep-first ownership to the
      // earliest surviving occurrence — both re-judged in one window
      // pass over the tombstone-filtered gram state. Oracle = batch
      // q126 over the survivors.
      (s, d) => {
        import graft.streaming.IncrementalSubstringRemoval
        val statePath = graft.util.Scratch.dir("q126r-retract")
        val inc = new IncrementalSubstringRemoval(statePath)
        val src = docs(s, d).select(col("doc_id"), col("text"))
        graft.util.Confs.withMicroBatch(s) {
        inc.processBatch(src.where(col("doc_id") % 2 === 1), 0L)
        inc.processBatch(src.where(col("doc_id") % 2 === 0), 1L)
        inc.retractBatch(
          src.where(col("doc_id") % 7 === 0).select(col("doc_id")), 2L)
        inc.removals(s).orderBy(col("doc_id"))
        }
      },
      Some(substringRemovalOracleSqlOver(" WHERE doc_id % 7 <> 0"))),

    QueryDef("q119s_incremental_line_dedup",
      // The STREAMING q119 under the batch oracle (the q112s/q66
      // doctrine): documents arrive in two deterministic waves through
      // IncrementalLineDedup — each wave only chunks and APPENDS its
      // own docs; keep-first and reconstruction are one window pass at
      // emission over the accumulated state — and the result is checked
      // against the SAME DuckDB oracle as batch q119. The ODD-ids-first
      // wave order makes the retroactive flip real: even (smaller) doc
      // ids arrive later and take line ownership away from already-
      // ingested odd docs, proving emission ranks by (doc_id, ck), not
      // arrival order.
      (s, d) => {
        import graft.streaming.IncrementalLineDedup
        val statePath = graft.util.Scratch.dir("q119s-incremental")
        val inc = new IncrementalLineDedup(statePath)
        val src = docs(s, d).select(col("doc_id"), col("text"))
        graft.util.Confs.withMicroBatch(s) {
        inc.processBatch(src.where(col("doc_id") % 2 === 1), 0L)
        inc.processBatch(src.where(col("doc_id") % 2 === 0), 1L)
        inc.lines(s).orderBy(col("doc_id"))
        }
      },
      Some(LineDedupOracleSql)),

    QueryDef("q119f_statestore_line_dedup",
      // q119s on a REAL state store (VERDICT r10 stretch): the same
      // two-wave drill, but the line→owner index lives in RocksDB via
      // flatMapGroupsWithState instead of parquet state dirs — per-batch
      // work is the batch's chunks shuffled onto hash-partitioned state
      // keys with point access per touched key (no state-file scans),
      // the bounded-state 100 TB form. The keep decision is re-derived
      // ONLY from the state path (ownership-change events folded to the
      // final owner per line; retroactive steals cross real micro-batch
      // boundaries because even ids stream in wave 2), then held to the
      // SAME batch q119 oracle. State shape measured in
      // StateStoreLineDedupSpec: rows = distinct lines, fixed bytes per
      // line — the corpus text never enters the store.
      (s, d) => {
        import graft.streaming.StateStoreLineDedup
        val src = docs(s, d).select(col("doc_id"), col("text"))
        graft.util.Confs.withMicroBatch(s) {
        val (owners, _) = StateStoreLineDedup.runWaves(s, Seq(
          src.where(col("doc_id") % 2 === 1),
          src.where(col("doc_id") % 2 === 0)))
        StateStoreLineDedup.lineDedupViaOwners(lineChunks(src), owners)
          .orderBy(col("doc_id"))
        }
      },
      Some(LineDedupOracleSql)),

    QueryDef("q119g_statestore_line_dedup_retract",
      // DELETE retraction ON the state store (closes the one capability
      // gap the q119f/q66f docs deliberately left with the parquet
      // twins): the state value grows from the single min owner to the
      // chunk's claimant set + tombstone set, so a delete RE-ELECTS the
      // next-best claimant inside the state function. Ownership is no
      // longer monotone, so events carry a per-key VERSION and the
      // consumer folds argmax-version (a min fold would resurrect
      // deleted owners — spec-pinned). Tombstones win permanently, the
      // parquet twins' contract. Waves: odd inserts, even inserts, then
      // DELETEs of doc_id % 7 == 0; oracle = batch q119 over the
      // SURVIVORS (no retraction machinery anywhere in it).
      (s, d) => {
        import graft.streaming.StateStoreLineDedup
        val src = docs(s, d).select(col("doc_id"), col("text"))
        def wave(op: String, pred: Column) = src.where(pred)
          .select(lit(op).as("op"), col("doc_id"), col("text"))
        graft.util.Confs.withMicroBatch(s) {
        val (owners, _) = StateStoreLineDedup.runOpWaves(s, Seq(
          wave("insert", col("doc_id") % 2 === 1),
          wave("insert", col("doc_id") % 2 === 0),
          wave("delete", col("doc_id") % 7 === 0)))
        val survivors = src.where(col("doc_id") % 7 =!= 0)
        StateStoreLineDedup.lineDedupViaOwners(lineChunks(survivors), owners)
          .orderBy(col("doc_id"))
        }
      },
      Some(lineDedupOracleSqlOver(" WHERE doc_id % 7 <> 0"))),

    QueryDef("q120_canonical_selection",
      // The dedup DECISION the pair/component machinery exists for:
      // per near-dup cluster (q57's connected components over the
      // banded pairs), KEEP the highest-quality member — the
      // keep-best policy (quality desc, doc_id asc tie), not q57's
      // min-id convention — and report what gets dropped. Quality is
      // the shared q50 heuristic, floor-quantized to 1e-4 so the
      // argmax key is an exact integer on both engines.
      // Scale shape: the CC label relation is session-cached (one CC
      // run serves q57/q120/q121); the keep argmax is max(struct(q4,
      // -doc_id)) — an O(1)-state agg with a map-side partial phase,
      // so a pathological million-member boilerplate cluster
      // contributes one struct per task, never a sorted window
      // partition.
      (s, d) => {
        val comp = dedupComponents(s, d)
        val q4 = qualityScored(s, d).select(col("doc_id"),
          floor(col("score") * 10000 + lit(0.5)).cast("long").as("q4"))
        comp.join(q4, Seq("doc_id"))
          .groupBy(col("rep").as("rep_doc"))
          .agg(count(lit(1)).as("n_members"),
            max(struct(col("q4"), (-col("doc_id")).as("nd"))).as("best"))
          .select(col("rep_doc"), col("n_members"),
            (-col("best.nd")).as("keep_doc"),
            (col("best.q4") / 10000.0).as("keep_quality"),
            (col("n_members") - 1).as("n_dropped"))
          .orderBy(col("rep_doc"))
      },
      Some("WITH RECURSIVE " + BandedPairsSqlCtes + ", " +
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs " +
        "UNION SELECT doc_b, doc_a FROM pairs), " +
        "nodes AS (SELECT DISTINCT src AS doc FROM edges), " +
        "reach(doc, r) AS (SELECT doc, doc FROM nodes " +
        "UNION SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc), " +
        "rep AS (SELECT doc, MIN(r) AS rep_doc FROM reach GROUP BY doc), " +
        "ql AS (SELECT doc_id, len(string_split(text,' ')) AS n_tok, " +
        "len(list_filter(string_split(text,' '), x -> x IN " +
        "('the','a','of','and','to','in','is','on','for','it'))) AS n_stop, " +
        "length(replace(text, ' ', '')) AS n_char FROM documents), " +
        "sc AS (SELECT doc_id, CAST(FLOOR((0.4 * LEAST(n_tok/50.0, 1.0) + " +
        "0.3 * (CAST(n_stop AS DOUBLE)/n_tok) + " +
        "0.3 * LEAST((CAST(n_char AS DOUBLE)/n_tok)/5.0, 1.0)) * 10000 + 0.5) AS BIGINT) AS q4 FROM ql), " +
        "m AS (SELECT r.rep_doc, r.doc, s.q4 FROM rep r JOIN sc s ON s.doc_id = r.doc), " +
        "k AS (SELECT rep_doc, doc, q4, ROW_NUMBER() OVER " +
        "(PARTITION BY rep_doc ORDER BY q4 DESC, doc) AS rn, " +
        "COUNT(*) OVER (PARTITION BY rep_doc) AS n_members FROM m) " +
        "SELECT rep_doc, n_members, doc AS keep_doc, q4/10000.0 AS keep_quality, " +
        "n_members - 1 AS n_dropped FROM k WHERE rn = 1 ORDER BY rep_doc")))

  /** DuckDB oracle for the multi-resolution span statistic (batch
    * q112b AND its streaming twin q112bs). t[i:i+n-1] is 1-based
    * inclusive slicing = the Spark side's slice(t, i+1, n) at 0-based
    * pos i-1. */
  private val MultiscaleDupSpanOracleSql: String =
    "WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents " +
      "WHERE len(string_split(text,' ')) >= 5), " +
      "ns AS (SELECT UNNEST([5, 10, 20]) AS n), " +
      "ix AS (SELECT UNNEST(range(1, (SELECT 1 + MAX(len(t)) FROM toks))) AS i), " +
      "g AS (SELECT doc_id, n, len(t) AS n_tokens, i-1 AS pos, " +
      "CAST(('0x' || substring(md5(array_to_string(t[i:i+n-1],' ')),1,8)) AS BIGINT) AS h " +
      "FROM toks CROSS JOIN ns JOIN ix ON i <= len(t)-n+1), " +
      "dup AS (SELECT n, h FROM (SELECT n, h, MIN(doc_id) AS mn, MAX(doc_id) AS mx " +
      "FROM g GROUP BY n, h) WHERE mn <> mx), " +
      "hits AS (SELECT doc_id, n, n_tokens, pos FROM g JOIN dup USING (n, h)), " +
      "fl AS (SELECT doc_id, n, n_tokens, pos, " +
      "CASE WHEN pos > COALESCE(MAX(pos+n-1) OVER (PARTITION BY doc_id, n ORDER BY pos " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1 THEN 1 ELSE 0 END AS nf FROM hits), " +
      "isl AS (SELECT doc_id, n, n_tokens, pos, " +
      "SUM(nf) OVER (PARTITION BY doc_id, n ORDER BY pos) AS iid FROM fl), " +
      "sp AS (SELECT doc_id, n, iid, MAX(n_tokens) AS n_tokens, MIN(pos) AS s, " +
      "MAX(pos)+n-1 AS e FROM isl GROUP BY 1,2,3) " +
      "SELECT doc_id, n, COUNT(*) AS n_spans, CAST(SUM(e-s+1) AS BIGINT) AS dup_tokens, " +
      "MAX(n_tokens) AS n_tokens FROM sp GROUP BY doc_id, n ORDER BY doc_id, n"

  /** DuckDB oracle for the q119 line-dedup statistic (batch q119 AND
    * its streaming twin q119s — same relation, the q112s doctrine).
    * t[a:b] is 1-based inclusive and truncates past the end —
    * identical to the Spark side's slice(t, i*10+1, 10). */
  private[queries] val LineDedupOracleSql: String = lineDedupOracleSqlOver("")

  /** The q119 oracle parameterized by a docs restriction (SQL suffix
    * like " WHERE doc_id % 7 <> 0") — qc6 holds the delete-retracted
    * incremental state to batch q119 over the SURVIVING docs. */
  private[graft] def lineDedupOracleSqlOver(docsWhere: String): String =
    s"WITH t AS (SELECT doc_id, string_split(text,' ') AS t FROM documents$docsWhere), " +
      "ix AS (SELECT UNNEST(range(0, (SELECT CAST(ceil(MAX(len(t))/10.0) AS BIGINT) FROM t))) AS i), " +
      "ch AS (SELECT doc_id, i AS ck, array_to_string(t[i*10+1 : i*10+10], ' ') AS chunk " +
      "FROM t JOIN ix ON i < ceil(len(t)/10.0)), " +
      "mk AS (SELECT doc_id, ck, chunk, COUNT(*) OVER (PARTITION BY chunk) AS cnt, " +
      "ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, ck) AS rn FROM ch), " +
      "k AS (SELECT doc_id, ck, chunk, (cnt = 1 OR rn = 1) AS keep FROM mk) " +
      "SELECT doc_id, COUNT(*) AS orig_chunks, " +
      "CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS kept_chunks, " +
      "COALESCE(string_agg(chunk, ' ' ORDER BY ck) FILTER (WHERE keep), '') AS new_text " +
      "FROM k GROUP BY doc_id ORDER BY doc_id"

  /** q119's chunker: one row per 10-token "line" occurrence
    * (doc_id, ck, chunk) — map-only array slicing, shared by batch
    * q119 and the streaming twin ([[graft.streaming.IncrementalLineDedup]],
    * whose per-batch work is exactly this relation for its own docs). */
  /** q126's body over a documents relation (exposed for the spec's
    * synthetic corpora): sliding n-gram keep-first removal +
    * reconstruction. Output (doc_id, n_tokens, removed_tokens,
    * new_text) for AFFECTED docs only, ordered by doc_id. */
  private[graft] def substringRemoval(docsDf: DataFrame, n: Int): DataFrame =
    substringRemovalStats(removalGrams(docsDf, n), docsDf, n)

  /** q126's gram stage: one row per sliding n-gram occurrence
    * (doc_id, pos, h) — the append-only state unit of the streaming
    * twin (IncrementalSubstringRemoval). */
  private[graft] def removalGrams(docsDf: DataFrame, n: Int): DataFrame =
    docsDf.select(col("doc_id"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(t)-${n - 1}), " +
          s"i -> struct(i AS pos, concat_ws(' ', slice(t, i, $n)) AS g))")).as("e"))
      .select(col("doc_id"), col("e.pos").as("pos"), h32(col("e.g")).as("h"))

  /** q126's judgment + removal + reconstruction over a gram relation
    * and the docs it came from — arrival-order independent (keep-first
    * ranks by (doc_id, pos), never by when a gram was appended), which
    * is what lets the streaming twin share batch q126's oracle. */
  private[graft] def substringRemovalStats(
      grams: DataFrame, docsDf: DataFrame, n: Int): DataFrame = {
    val toks = docsDf.select(col("doc_id"), split(col("text"), " ").as("t"))
    val dupPos = grams
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("h")).orderBy(col("doc_id"), col("pos"))))
      .where(col("rn") > 1)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("dups"))
    toks.join(dupPos, Seq("doc_id"))
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
        expr(s"filter(transform(t, (tok, i) -> " +
          s"IF(exists(dups, p -> i + 1 >= p AND i + 1 <= p + ${n - 1}), NULL, tok)), " +
          "x -> x IS NOT NULL)").as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).as("removed_tokens"),
        concat_ws(" ", col("kept")).as("new_text"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay of [[substringRemoval]] at n = 10 (coverage via a
    * position-range join — DuckDB-side only; the engine's per-token
    * exists() is the distributed shape). */
  private[queries] val SubstringRemovalOracleSql: String =
    substringRemovalOracleSqlOver("")

  /** The q126 oracle restricted to a docs filter suffix (q126r's
    * survivors-only form). */
  private[queries] def substringRemovalOracleSqlOver(docsWhere: String): String = {
    val n = 10
    val parts = (0 until n).map(k => s"t[i+$k]").mkString(" || ' ' || ")
    s"WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents$docsWhere), " +
      "ix AS (SELECT UNNEST(range(1, (SELECT 1 + MAX(len(t)) FROM toks))) AS i), " +
      "g AS (SELECT doc_id, i AS pos, " +
      s"CAST(('0x' || substring(md5($parts),1,8)) AS BIGINT) AS h " +
      s"FROM toks JOIN ix ON i <= len(t)-${n - 1}), " +
      "dup AS (SELECT doc_id, pos FROM (SELECT doc_id, pos, " +
      "ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM g) WHERE rn > 1), " +
      "affected AS (SELECT DISTINCT doc_id FROM dup), " +
      "tokpos AS (SELECT doc_id, i, t[i] AS tok FROM toks JOIN ix ON i <= len(t) " +
      "WHERE doc_id IN (SELECT doc_id FROM affected)), " +
      "cov AS (SELECT DISTINCT tp.doc_id, tp.i FROM tokpos tp " +
      s"JOIN dup d ON d.doc_id = tp.doc_id AND tp.i BETWEEN d.pos AND d.pos + ${n - 1}), " +
      "kept AS (SELECT tp.doc_id, tp.i, tp.tok FROM tokpos tp " +
      "LEFT JOIN cov c ON c.doc_id = tp.doc_id AND c.i = tp.i WHERE c.i IS NULL), " +
      "keptagg AS (SELECT doc_id, COUNT(*) AS kept_cnt, " +
      "string_agg(tok, ' ' ORDER BY i) AS new_text FROM kept GROUP BY doc_id), " +
      "nn AS (SELECT doc_id, len(t) AS n_tokens FROM toks) " +
      "SELECT nn.doc_id, CAST(nn.n_tokens AS BIGINT) AS n_tokens, " +
      "CAST(nn.n_tokens - COALESCE(k.kept_cnt, 0) AS BIGINT) AS removed_tokens, " +
      "COALESCE(k.new_text, '') AS new_text " +
      "FROM nn JOIN affected a ON a.doc_id = nn.doc_id " +
      "LEFT JOIN keptagg k ON k.doc_id = nn.doc_id ORDER BY nn.doc_id"
  }

  private[graft] def lineChunks(docsDf: DataFrame): DataFrame =
    lineChunksKeeping(docsDf, Nil)

  /** [[lineChunks]] carrying extra per-doc columns through the chunk
    * explode (e.g. the CDC `op` for the retraction twin q119g). */
  private[graft] def lineChunksKeeping(docsDf: DataFrame,
      keep: Seq[String]): DataFrame =
    docsDf
      .select(keep.map(col) :+ col("doc_id") :+
        split(col("text"), " ").as("t"): _*)
      .select(keep.map(col) :+ col("doc_id") :+ posexplode(expr(
        "transform(sequence(0, CAST(ceil(size(t)/10.0) AS INT) - 1), " +
          "i -> array_join(slice(t, i*10+1, 10), ' '))"))
        .as(Seq("ck", "chunk")): _*)

  /** q119's keep-first + reassembly stage over a chunk relation —
    * arrival-order independent (the keep decision reads only the full
    * accumulated relation), which is what lets the streaming twin share
    * this stage AND the batch oracle. */
  private[graft] def lineDedupStats(ch: DataFrame): DataFrame = {
    val wC = Window.partitionBy(col("chunk"))
    chunkReassembly(
      ch.withColumn("cnt", count(lit(1)).over(wC))
        .withColumn("first", min(struct(col("doc_id"), col("ck"))).over(wC))
        .withColumn("keep", col("cnt") === 1 ||
          (col("doc_id") === col("first.doc_id") && col("ck") === col("first.ck"))))
  }

  /** Shared q119 reassembly tail over a keep-flagged chunk relation
    * (doc_id, ck, chunk, keep): one per-doc hash agg, collect_list
    * state bounded by doc length. */
  private[graft] def chunkReassembly(flagged: DataFrame): DataFrame =
    flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("orig_chunks"),
        sum(col("keep").cast("long")).as("kept_chunks"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(CASE WHEN keep THEN struct(ck, chunk) END)), " +
            "x -> x.chunk)")).as("new_text"))

  /** Level-1 partials of the salted q119 form, exposed so the spec can
    * prove a hot chunk's rows really spread across salts: one row per
    * (chunk, salt) with its occurrence count and first (doc_id, ck). */
  private[graft] def saltedChunkPartials(ch: DataFrame, salts: Int): DataFrame =
    ch.withColumn("salt", pmod(hash(col("doc_id"), col("ck")), lit(salts)))
      .groupBy(col("chunk"), col("salt"))
      .agg(count(lit(1)).as("c1"), min(struct(col("doc_id"), col("ck"))).as("f1"))

  /** The q119 escape-hatch for corpus-hot chunks (q119b): same result,
    * skew-immune shape. [[lineDedupStats]]'s window partitions by the
    * chunk text — a boilerplate chunk occurring 10^7 times lands ONE
    * window partition with no map-side combine. Here the keep decision
    * is a two-level salted agg instead: level 1 groups by (chunk,
    * salt(doc_id, ck)) — a hot chunk's rows spread across `salts`
    * reducers, and partial aggregation combines map-side — level 2
    * folds the ≤ `salts` partials per chunk into the global count and
    * first owner. Only chunks with cnt ≥ 2 survive into the dup
    * relation (at 100 TB: dup chunks ≪ all chunks), which joins back
    * to the probe — the documented "pay the re-scan" trade: one extra
    * scan of the chunk relation buys a hot-key-free shuffle profile.
    * The q103 salting pattern, applied to an agg instead of a join. */
  private[graft] def lineDedupStatsSalted(ch: DataFrame, salts: Int = 8): DataFrame = {
    val dup = saltedChunkPartials(ch, salts)
      .groupBy(col("chunk"))
      .agg(sum(col("c1")).as("cnt"), min(col("f1")).as("first"))
      .where(col("cnt") > 1)
      .select(col("chunk"), col("first"))
    chunkReassembly(
      ch.join(dup, Seq("chunk"), "left_outer")
        .withColumn("keep", col("first").isNull ||
          (col("doc_id") === col("first.doc_id") && col("ck") === col("first.ck"))))
  }

  /** DuckDB oracle for the q112 span statistic (batch q112 AND its
    * streaming twin q112s — the stream==batch claim held at the hash
    * gate, the q66 precedent). */
  private val DupSpanOracleSql: String = dupSpanOracleSqlOver("")

  /** The q112 oracle restricted to a docs predicate (q112r holds the
    * delete-retracted span state to batch q112 over the SURVIVORS). */
  private[queries] def dupSpanOracleSqlOver(docsPred: String): String = {
    val extra = if (docsPred.isEmpty) "" else s"($docsPred) AND "
    val n = 5
    // i is 1-based (DuckDB list indexing): gram at pos = i-1 covers
    // tokens i..i+n-1, matching the Spark side's t[pos..pos+n-1].
    // The position range is derived from the corpus max doc length — a
    // longer fixture widens the range instead of silently truncating
    // gram enumeration (was a fixed range(1,200)).
    val parts = (0 until n).map(k => s"t[i+$k]").mkString(" || ' ' || ")
    "WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents " +
      s"WHERE ${extra}len(string_split(text,' ')) >= $n), " +
      "ix AS (SELECT UNNEST(range(1, (SELECT 1 + MAX(len(t)) FROM toks))) AS i), " +
      "g AS (SELECT doc_id, len(t) AS n_tokens, i-1 AS pos, " +
      s"CAST(('0x' || substring(md5($parts),1,8)) AS BIGINT) AS h " +
      s"FROM toks JOIN ix ON i <= len(t)-${n - 1}), " +
      "dup AS (SELECT h FROM (SELECT h, MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM g GROUP BY h) WHERE mn <> mx), " +
      "hits AS (SELECT doc_id, n_tokens, pos FROM g JOIN dup USING (h)), " +
      "fl AS (SELECT doc_id, n_tokens, pos, " +
      s"CASE WHEN pos > COALESCE(MAX(pos+${n - 1}) OVER (PARTITION BY doc_id ORDER BY pos " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1 THEN 1 ELSE 0 END AS nf FROM hits), " +
      "isl AS (SELECT doc_id, n_tokens, pos, SUM(nf) OVER (PARTITION BY doc_id ORDER BY pos) AS iid FROM fl), " +
      "sp AS (SELECT doc_id, iid, MAX(n_tokens) AS n_tokens, MIN(pos) AS s, " +
      s"MAX(pos)+${n - 1} AS e FROM isl GROUP BY 1,2) " +
      "SELECT doc_id, COUNT(*) AS n_spans, CAST(SUM(e-s+1) AS BIGINT) AS dup_tokens, MAX(n_tokens) AS n_tokens " +
      "FROM sp GROUP BY doc_id ORDER BY doc_id"
  }
}
