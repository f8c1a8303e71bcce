package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.DedupGroups
import graft.streaming.{IncrementalNearDup, StateStoreNearDup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators (q58–q62): the steps a corpus
  * curation run chains AFTER the per-document analysis of [[LlmText]] —
  * deterministic splits/sampling, sequence construction, PII scrubbing,
  * the composed curation funnel, and exact heavy hitters via a
  * mergeable sketch. The reference engine stops at event delivery
  * (SURVEY.md §2B: no aggregation surface at all); these extend the
  * §2C inventory the same way q44–q53 do, each oracle-checked.
  *
  * Determinism doctrine: anything "random" (splits, samples) is an
  * md5 bucket of a stable key — identical bytes in Spark and DuckDB,
  * reproducible run-to-run, independent of partitioning/cluster size.
  * That is also the 100 TB-correct design: assignment is a pure per-row
  * function, so it never shuffles and never depends on task layout.
  */
object Pipeline {

  private def docs(s: SparkSession, d: String): DataFrame = Tables(s, d, "documents")
  private def events(s: SparkSession, d: String): DataFrame = Tables(s, d, "events")

  /** Deterministic 0–99 bucket from a salted md5 of the key (portable:
    * DuckDB computes the identical value). */
  private def bucket(salt: String, key: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 8), 16, 10)
      .cast("long") % 100

  private def bucketSql(salt: String, key: String) =
    s"CAST(('0x' || substring(md5('$salt' || CAST($key AS VARCHAR)),1,8)) AS BIGINT) % 100"

  /** q124's four-layer curation DAG over EXPLICIT inputs — shared by
    * the batch entry (fixture docs + session-cached components +
    * on-the-fly chunking) and the qc21 CDC-fed materialized view (live
    * replica docs + the incremental near-dup pair state's components +
    * the incremental line-chunk state), so the two forms cannot drift:
    *   1. quality gate (q50's heuristic floor-quantized, keep ≥ 5000);
    *   2. near-dup collapse: among QUALIFIED members of each cluster
    *      keep the best (q120's rule; singletons pass the gate alone);
    *   3. duplicate-line removal over the SURVIVOR corpus (q119's
    *      keep-first — dup pressure recomputed post-collapse, which is
    *      why this is one composed DAG, not concatenated results);
    *   4. q72-shape shard manifest of the final corpus.
    * @param comps (doc_id, rep) component labels over the near-dup
    *        pairs — docs in no pair are absent (handled by the
    *        left_anti + keep-best union);
    * @param chunksOfCorpus survivor corpus (doc_id, text) → chunk
    *        relation (doc_id, ck, chunk). Batch chunks on the fly;
    *        qc21 semi-joins its pre-chunked ingest state instead. */
  private[graft] def curationManifestFrom(docsDf: DataFrame, comps: DataFrame,
      chunksOfCorpus: DataFrame => DataFrame): DataFrame = {
    val T = 5000L
    val q4 = LlmText.qualityScoredDf(docsDf)
      .select(col("doc_id"), floor(col("score") * 10000 + lit(0.5)).cast("long").as("q4"))
    val qual = q4.where(col("q4") >= T)
    val members = comps.join(qual, Seq("doc_id"))
    val keepBest = members.groupBy(col("rep"))
      .agg(max(struct(col("q4"), (-col("doc_id")).as("nd"))).as("best"))
      .select((-col("best.nd")).as("doc_id"))
    val survivors = qual.select(col("doc_id"))
      .join(members.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .unionByName(keepBest)
    val corpus = docsDf.join(survivors, Seq("doc_id"))
      .select(col("doc_id"), col("text"))
    LlmText.lineDedupStats(chunksOfCorpus(corpus))
      .where(col("kept_chunks") > 0)
      .withColumn("shard",
        conv(substring(md5(concat(lit("shard:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 16)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept_chunks")).cast("long").as("sum_kept_chunks"))
      .orderBy(col("shard"))
  }

  /** q124's composed oracle restricted to a docs predicate (bare, no
    * WHERE — the [[LlmText.dedupGroupsOracleSqlOver]] convention):
    * the banded-pair CTEs take the predicate directly; the quality
    * CTE takes it on its own documents scan; the survivor CTE needs
    * none because its join to the predicate-restricted `qual` already
    * bounds it. Shared by q124 (empty predicate) and qc21 (survivors
    * of the delete wave) so the two gates stay one SQL. */
  private[graft] def curationOracleSqlOver(docsPred: String): String = {
    val qlWhere = if (docsPred.isEmpty) "" else s" WHERE $docsPred"
    "WITH RECURSIVE " + LlmText.bandedPairsSqlCtesOver(docsPred) + ", " +
      "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs " +
      "UNION SELECT doc_b, doc_a FROM pairs), " +
      "nodes AS (SELECT DISTINCT src AS doc FROM edges), " +
      "reach(doc, r) AS (SELECT doc, doc FROM nodes " +
      "UNION SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc), " +
      "rep AS (SELECT doc, MIN(r) AS rep_doc FROM reach GROUP BY doc), " +
      "ql AS (SELECT doc_id, len(string_split(text,' ')) AS n_tok, " +
      "len(list_filter(string_split(text,' '), x -> x IN " +
      "('the','a','of','and','to','in','is','on','for','it'))) AS n_stop, " +
      s"length(replace(text, ' ', '')) AS n_char FROM documents$qlWhere), " +
      "qsc AS (SELECT doc_id, CAST(FLOOR((0.4 * LEAST(n_tok/50.0, 1.0) + " +
      "0.3 * (CAST(n_stop AS DOUBLE)/n_tok) + " +
      "0.3 * LEAST((CAST(n_char AS DOUBLE)/n_tok)/5.0, 1.0)) * 10000 + 0.5) AS BIGINT) AS q4 FROM ql), " +
      "qual AS (SELECT doc_id, q4 FROM qsc WHERE q4 >= 5000), " +
      "mem AS (SELECT r.doc, r.rep_doc, q.q4 FROM rep r JOIN qual q ON q.doc_id = r.doc), " +
      "keepb AS (SELECT doc FROM (SELECT doc, ROW_NUMBER() OVER " +
      "(PARTITION BY rep_doc ORDER BY q4 DESC, doc) AS rn FROM mem) WHERE rn = 1), " +
      "surv AS (SELECT d.doc_id, d.text FROM documents d JOIN qual q ON q.doc_id = d.doc_id " +
      "WHERE d.doc_id NOT IN (SELECT doc FROM mem) OR d.doc_id IN (SELECT doc FROM keepb)), " +
      "lt AS (SELECT doc_id, string_split(text,' ') AS t FROM surv), " +
      "lix AS (SELECT UNNEST(range(0, (SELECT CAST(ceil(MAX(len(t))/10.0) AS BIGINT) FROM lt))) AS i), " +
      "lch AS (SELECT doc_id, i AS ck, array_to_string(t[i*10+1 : i*10+10], ' ') AS chunk " +
      "FROM lt JOIN lix ON i < ceil(len(t)/10.0)), " +
      "lmk AS (SELECT doc_id, ck, COUNT(*) OVER (PARTITION BY chunk) AS cnt, " +
      "ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, ck) AS rn FROM lch), " +
      "fin AS (SELECT doc_id, CAST(COUNT(*) FILTER (WHERE cnt = 1 OR rn = 1) AS BIGINT) AS kept " +
      "FROM lmk GROUP BY doc_id HAVING COUNT(*) FILTER (WHERE cnt = 1 OR rn = 1) > 0) " +
      "SELECT CAST(('0x' || substring(md5('shard:' || CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 16 AS shard, " +
      "COUNT(*) AS n_docs, CAST(SUM(kept) AS BIGINT) AS sum_kept_chunks " +
      "FROM fin GROUP BY 1 ORDER BY shard"
  }

  /** Per-doc cluster-keyed split assignment (q121's body before the
    * summary agg), exposed so the spec can assert the leakage
    * guarantee on the ENGINE's per-doc output: (doc_id, n_chars,
    * cluster_id, split). */
  private[graft] def clusterSplitAssignment(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), col("n_chars"))
      .join(LlmText.dedupComponents(s, d), Seq("doc_id"), "left_outer")
      .withColumn("cluster_id", coalesce(col("rep"), col("doc_id")))
      .withColumn("b", bucket("csplit:", col("cluster_id")))
      .withColumn("split", when(col("b") < 80, "train")
        .when(col("b") < 90, "valid").otherwise("test"))
      .select(col("doc_id"), col("n_chars"), col("cluster_id"), col("split"))

  /** q123's body: write the corpus as 16 md5-assigned training shards
    * under `out` (one file per shard, id-sorted within), then compute
    * the manifest FROM THE FILES READ BACK. Exposed so ShardWriteSpec
    * can inspect the written layout. */
  private[graft] def shardedWriteManifest(s: SparkSession, d: String, out: String): DataFrame = {
    val nShards = 16
    docs(s, d)
      .withColumn("shard",
        conv(substring(md5(concat(lit("shard:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % nShards)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("doc_id"))
      .write.partitionBy("shard").mode("overwrite").parquet(out)
    s.read.parquet(out)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("shard"))
  }

  /** q122's hashed bag-of-words feature relation (doc_id, y, b, x):
    * token md5-buckets mod F with integer counts plus a bias feature
    * at bucket F. Exposed (with the two round stages below) so the
    * plan guard can assert the per-round physical shapes — the
    * QueryDef's own output is a driver-built trajectory table whose
    * plan shows nothing. */
  private[graft] def perceptronFeatures(s: SparkSession, d: String, F: Int): DataFrame =
    docs(s, d).select(col("doc_id"),
      when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
      explode(expr("filter(split(text, ' '), x -> x <> '')")).as("tok"))
      .select(col("doc_id"), col("y"),
        (conv(substring(md5(concat(lit("ptron:"), col("tok"))), 1, 8), 16, 10)
          .cast("long") % F).as("b"))
      .groupBy(col("doc_id"), col("y"), col("b"))
      .agg(count(lit(1)).as("x"))
      .unionByName(docs(s, d).select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
        lit(F.toLong).as("b"), lit(1L).as("x")))

  /** One perceptron round, scoring half: misclassified doc ids under
    * the broadcast weight vector (y·score ≤ 0, exact integers). */
  private[graft] def perceptronMissDocs(feats: DataFrame, wDf: DataFrame): DataFrame =
    feats.join(broadcast(wDf), "b")
      .groupBy(col("doc_id"), col("y"))
      .agg(sum(col("x") * col("w")).as("score"))
      .where(col("y") * col("score") <= 0)
      .select(col("doc_id"))

  /** One perceptron round, update half: per-bucket weight delta
    * Σ_miss y·x — an F-bounded agg with map-side partials. */
  private[graft] def perceptronDelta(feats: DataFrame, missDocs: DataFrame): DataFrame =
    feats.join(missDocs, "doc_id")
      .groupBy(col("b")).agg(sum(col("y") * col("x")).as("d"))

  /** DuckDB CTE chain replaying the whole q122 training loop —
    * featurize (f), bucket list (bk), then per unrolled round r:
    * scores under w_{r-1} (s_r), misclassified set (m_r), integer
    * delta (d_r), updated weights (w_r). Shared by the q122 trajectory
    * oracle and the q122b apply oracle. */
  private[queries] val PerceptronOracleCtes: String =
    "f0 AS (SELECT doc_id, CASE WHEN lang='en' THEN 1 ELSE -1 END AS y, " +
      "UNNEST(list_filter(string_split(text,' '), x -> x <> '')) AS tok FROM documents), " +
      "f AS (SELECT doc_id, y, CAST(('0x' || substring(md5('ptron:' || tok),1,8)) AS BIGINT) % 64 AS b, " +
      "COUNT(*) AS x FROM f0 GROUP BY 1,2,3 " +
      "UNION ALL SELECT doc_id, CASE WHEN lang='en' THEN 1 ELSE -1 END, 64, 1 FROM documents), " +
      "bk AS (SELECT UNNEST(range(0, 65)) AS b), " +
      "w0 AS (SELECT b, CAST(0 AS BIGINT) AS w FROM bk), " +
      "s1 AS (SELECT f.doc_id, f.y, SUM(f.x * w0.w) AS sc FROM f JOIN w0 USING (b) GROUP BY 1,2), " +
      "m1 AS (SELECT doc_id FROM s1 WHERE y * sc <= 0), " +
      "d1 AS (SELECT f.b, CAST(SUM(f.y * f.x) AS BIGINT) AS d FROM f JOIN m1 USING (doc_id) GROUP BY f.b), " +
      "w1 AS (SELECT w0.b, w0.w + COALESCE(d1.d, 0) AS w FROM w0 LEFT JOIN d1 USING (b)), " +
      "s2 AS (SELECT f.doc_id, f.y, SUM(f.x * w1.w) AS sc FROM f JOIN w1 USING (b) GROUP BY 1,2), " +
      "m2 AS (SELECT doc_id FROM s2 WHERE y * sc <= 0), " +
      "d2 AS (SELECT f.b, CAST(SUM(f.y * f.x) AS BIGINT) AS d FROM f JOIN m2 USING (doc_id) GROUP BY f.b), " +
      "w2 AS (SELECT w1.b, w1.w + COALESCE(d2.d, 0) AS w FROM w1 LEFT JOIN d2 USING (b)), " +
      "s3 AS (SELECT f.doc_id, f.y, SUM(f.x * w2.w) AS sc FROM f JOIN w2 USING (b) GROUP BY 1,2), " +
      "m3 AS (SELECT doc_id FROM s3 WHERE y * sc <= 0), " +
      "d3 AS (SELECT f.b, CAST(SUM(f.y * f.x) AS BIGINT) AS d FROM f JOIN m3 USING (doc_id) GROUP BY f.b), " +
      "w3 AS (SELECT w2.b, w2.w + COALESCE(d3.d, 0) AS w FROM w2 LEFT JOIN d3 USING (b))"

  /** Session-scoped cache of the trained perceptron trajectory —
    * train ONCE, then q122 reports the trajectory and q122b applies
    * the final weights (the q81b/q91 train-once-apply-everywhere
    * pattern). Entries are plain driver-side tuples (3 rounds × 65
    * buckets); nothing to unpersist. */
  private val ptronCache = new graft.SessionCache[Seq[(Long, Long, Long, Long)]]()

  private[graft] val PtronF = 64
  private[graft] val PtronRounds = 3

  /** The full batch-perceptron training loop: per round, ONE broadcast
    * scoring pass + ONE F-bounded delta agg over the once-built
    * lineage-truncated feature relation. Returns (round, bucket,
    * weight-after-round, misclassified-at-round-start) rows. */
  private[graft] def perceptronTrained(s: SparkSession, d: String): Seq[(Long, Long, Long, Long)] =
    ptronCache.getOrElseUpdate(s, d, {
      val F = PtronF
      val feats = perceptronFeatures(s, d, F).localCheckpoint(true)
      val w = Array.fill(F + 1)(0L)
      val traj = Seq.newBuilder[(Long, Long, Long, Long)]
      for (r <- 1 to PtronRounds) {
        val wDf = s.createDataFrame(
          w.toIndexedSeq.zipWithIndex.map { case (v, b) => (b.toLong, v) })
          .toDF("b", "w")
        val missDocs = perceptronMissDocs(feats, wDf).localCheckpoint(true)
        val nMiss = missDocs.count()
        val delta = perceptronDelta(feats, missDocs)
          .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
        for (b <- 0 to F) w(b) += delta.getOrElse(b.toLong, 0L)
        for (b <- 0 to F) traj += ((r.toLong, b.toLong, w(b), nMiss))
      }
      traj.result()
    })

  /** The BPE training loop (q81b's body), factored out so the encoder
    * (q91) applies the SAME learned merge table — train once, encode
    * everywhere. 3 greedy merge rounds over the word-FREQUENCY table
    * (a pair occurring in a word contributes the word's corpus count):
    * per round, count adjacent token pairs (vocab²-bounded shuffle with
    * map-side partials), collect the 1-row argmax (ties to the
    * lexicographically smaller pair — a total order), and re-tokenize
    * every word with a single map-only native replace() whose pattern
    * is the winning pair folded in as a literal. Each round's encoding
    * is PERSISTED so round r costs one cached vocab scan, not r replays
    * of the corpus explode; all intermediates are unpersisted before
    * returning (the result is a driver-side 3-row merge table, cached
    * per (session, dir) like the Lloyd's run and PQ codebooks).
    * Token encoding: tokens joined AND bounded by DOUBLE spaces
    * ("  a  b  c  ") so " a  b " → " ab " is full-token anchored and
    * replace()'s left-to-right scan gives BPE's non-overlapping merge
    * order. */
  private val bpeCache =
    new graft.SessionCache[Seq[(Int, String, String, Long)]](_ => ())

  private[queries] def bpeMerges(s: SparkSession, d: String): Seq[(Int, String, String, Long)] =
    bpeCache.getOrElseUpdate(s, d, {
      val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      var enc = docs(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) >= 2)
        .groupBy(col("w")).agg(count(lit(1)).as("wcnt"))
        .select(concat(lit("  "), concat_ws("  ", split(col("w"), "")), lit("  ")).as("e"),
          col("wcnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      persisted += enc
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      for (r <- 1 to 3) {
        val t = split(col("e"), "  ") // ["", t1, …, tn, ""]
        val toks = slice(t, lit(2), size(t) - 2)
        val top = enc
          .select(col("wcnt"), explode(zip_with(
            slice(toks, lit(1), size(toks) - 1),
            slice(toks, lit(2), size(toks) - 1),
            (a, b) => concat(a, lit(" "), b))).as("pair"))
          .groupBy(col("pair")).agg(sum(col("wcnt")).as("cnt"))
          .orderBy(col("cnt").desc, col("pair"))
          .limit(1).collect()(0) // the 1-row argmax — the round's model
        val pair = top.getString(0)
        val cnt = top.getLong(1)
        val Array(a, b) = pair.split(" ", 2)
        merges += ((r, pair, a + b, cnt))
        if (r < 3) {
          enc = enc.select(
            replace(col("e"), lit(s" $a  $b "), lit(s" ${a + b} ")).as("e"),
            col("wcnt"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          persisted += enc
        }
      }
      persisted.foreach(_.unpersist(blocking = false))
      merges.toSeq
    })

  /** DuckDB twins of the q81b/q91 training chain — an INDEPENDENT
    * algorithm (list_reduce fold over word instances) so the engines
    * agreeing checks the merge rule, not a shared implementation.
    * `bpeSqlPairs` counts adjacent pairs of tokenization `t`,
    * `bpeSqlArgmax` takes round `r`'s greedy winner, `bpeSqlMerge`
    * re-tokenizes via the fold. */
  private def bpeSqlPairs(t: String, p: String) =
    s"$p AS (SELECT t[i] || ' ' || t[i+1] AS pair FROM " +
      s"(SELECT t, UNNEST(generate_series(1, len(t) - 1)) AS i FROM $t) z), "
  private def bpeSqlArgmax(p: String, m: String, r: Int) =
    s"$m AS (SELECT $r AS round, pair, COUNT(*) AS cnt FROM $p " +
      "GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1), "
  private def bpeSqlMerge(t: String, m: String, t2: String, carry: String = "") =
    s"$t2 AS (SELECT ${carry}string_split(list_reduce(t, (acc, x) -> " +
      s"CASE WHEN string_split(acc, ' ')[-1] = split_part(m.pair, ' ', 1) " +
      s"AND x = split_part(m.pair, ' ', 2) " +
      s"THEN substr(acc, 1, length(acc) - length(split_part(m.pair, ' ', 1))) " +
      s"|| replace(m.pair, ' ', '') " +
      s"ELSE acc || ' ' || x END), ' ') AS t FROM $t CROSS JOIN $m m), "

  /** Batched vocab-capped BPE training (q117's body). q81b's loop pays
    * ONE driver round-trip (count → argmax → re-tokenize) PER merge —
    * at a production vocabulary (32k merges) that is 32k sequential
    * Spark jobs, and the driver loop, not the cluster, becomes the
    * bottleneck. The standard fix is batching: per round, select up to
    * [[BpeBatchSize]] pairs that are mutually SYMBOL-DISJOINT — no two
    * selected pairs share a left token, right token, or merged form —
    * and apply them all in one map-only pass. Disjointness makes the
    * batch exactly equivalent to applying the same pairs serially in
    * any order: no selected pair's pattern can create, destroy, or
    * extend another's occurrences (pair2's tokens can't equal pair1's
    * merged symbol — that case is excluded by including the MERGED form
    * in the disjointness test). So the driver loop shrinks from
    * O(vocab) to O(vocab / B) round-trips while each learned merge is
    * still the greedy frequency argmax within its batch.
    *
    * Selection rule, fully deterministic: order round r's pair counts
    * by (cnt DESC, pair ASC) — a total order — take the top
    * [[BpeBatchTopC]] (the candidate window; selection never needs to
    * look deeper at fixture scale, and a FIXED window keeps the oracle
    * a pure SQL fold), then greedily accept pairs in that order,
    * skipping any that symbol-conflict with an earlier acceptance in
    * the SAME round, until min([[BpeBatchSize]], [[BpeVocabCap]] −
    * merges so far) are taken. [[BpeVocabCap]] is the vocab-size stop:
    * training halts mid-round when the cap is reached (the "merge
    * until k" contract q81b's fixed 3 rounds couldn't express).
    * Scale shape per round is q81b's exactly — vocab²-bounded pair
    * shuffle with map-side partials, a ≤[[BpeBatchTopC]]-row collect
    * (the model), and ONE map-only re-tokenization pass whose B
    * patterns are plan literals. */
  private[queries] val BpeBatchRounds = 4
  private[queries] val BpeBatchSize = 4
  private[queries] val BpeVocabCap = 14
  private[queries] val BpeBatchTopC = 64

  private val bpeBatchCache =
    new graft.SessionCache[Seq[(Int, Int, String, String, Long)]](_ => ())

  /** Greedy symbol-disjoint prefix of `tops` (already (cnt DESC, pair)
    * ordered), at most `limit` pairs. Shared by the trainer and its
    * spec's independent replay check. */
  private[queries] def selectDisjointBatch(tops: Seq[(String, Long)],
      limit: Int): Seq[(String, Long)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val sel = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    for ((pair, cnt) <- tops if sel.size < limit) {
      val Array(a, b) = pair.split(" ", 2)
      val m = a + b
      if (!used(a) && !used(b) && !used(m)) {
        sel += ((pair, cnt)); used ++= Seq(a, b, m)
      }
    }
    sel.toSeq
  }

  /** The batched training loop over a pre-encoded (e, wcnt) vocab
    * relation — q117's body, factored so the production-scale q138
    * trainer runs the SAME loop at bigger constants over a different
    * initial tokenization. Per round: vocab²-bounded pair count
    * weighted by word frequency, a ≤topC-row collect (the model),
    * greedy symbol-disjoint selection, ONE map-only re-tokenization
    * whose ≤batch patterns are plan literals. */
  private def trainBatched(enc0: DataFrame, rounds: Int, batch: Int,
      cap: Int, topC: Int): Seq[(Int, Int, String, String, Long)] = {
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var enc = enc0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    persisted += enc
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String, String, Long)]
    for (r <- 1 to rounds) {
      val limit = math.min(batch, cap - merges.size)
      if (limit > 0) {
        val t = split(col("e"), "  ")
        val toks = slice(t, lit(2), size(t) - 2)
        val tops = enc
          .select(col("wcnt"), explode(zip_with(
            slice(toks, lit(1), size(toks) - 1),
            slice(toks, lit(2), size(toks) - 1),
            (a, b) => concat(a, lit(" "), b))).as("pair"))
          .groupBy(col("pair")).agg(sum(col("wcnt")).as("cnt"))
          .orderBy(col("cnt").desc, col("pair"))
          .limit(topC).collect()
          .map(row => (row.getString(0), row.getLong(1))).toSeq
        val sel = selectDisjointBatch(tops, limit)
        sel.zipWithIndex.foreach { case ((pair, cnt), i) =>
          merges += ((r, i + 1, pair, pair.replace(" ", ""), cnt))
        }
        if (r < rounds && sel.nonEmpty) {
          // one map-only pass: B symbol-disjoint patterns chained as
          // plan literals (order irrelevant by disjointness)
          val e2 = sel.foldLeft(col("e")) { case (c, (pair, _)) =>
            val Array(a, b) = pair.split(" ", 2)
            replace(c, lit(s" $a  $b "), lit(s" ${a + b} "))
          }
          enc = enc.select(e2.as("e"), col("wcnt"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          persisted += enc
        }
      }
    }
    persisted.foreach(_.unpersist(blocking = false))
    merges.toSeq
  }

  /** The batched training loop with NATIVE re-tokenization (VERDICT
    * r12 item 3 — the wide-batch trainer): semantics identical to
    * [[trainBatched]] (same pair count, same (cnt DESC, pair ASC)
    * window, same greedy symbol-disjoint selection), but each round's
    * tokenization is produced by the compiled [[graft.functions
    * .BpeEncode]] pass over the RAW unit arrays with all rounds
    * selected so far — the expression whose parity with the trainer's
    * own fold is already pinned three ways (BpeBigEncodeSpec). That
    * replaces [[trainBatched]]'s per-round chain of `replace()` plan
    * literals, whose depth grows with the BATCH (512 chained string
    * scans per row per round was the practical ceiling — Catalyst's
    * optimizer walks are superlinear in expression depth, the q135
    * lesson): here batch width costs one hash-set entry, not one plan
    * node, so rounds can run as wide as symbol-disjointness allows
    * (thousands of pairs — the alphabet, not the planner, is the
    * bound). Cost shape per round: one encode pass (O(r · word len))
    * + the vocab-bounded pair-count shuffle + a ≤topC collect; the
    * raw vocab is persisted ONCE (state never mutates — re-encoding
    * from raw replaces the per-round persist chain, and the O(rounds²)
    * total passes are compiled hash probes over vocab rows, cheap at
    * any realistic round count). ≥8k merges on the derived sf1 corpus
    * is the ScaleProbe row; bit-parity with [[trainBatched]] at the
    * q138 constants is q142's oracle gate + BpeWideTrainSpec. */
  private[graft] def trainBatchedNative(units0: DataFrame, rounds: Int,
      batch: Int, cap: Int, topC: Int): Seq[(Int, Int, String, String, Long)] = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val base = units0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mergesByRound = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String, String, Long)]
    for (r <- 1 to rounds) {
      val limit = math.min(batch, cap - merges.size)
      if (limit > 0) {
        val toks = ColumnBridge.column(graft.functions.BpeEncode(
          ColumnBridge.expression(col("u")), mergesByRound.toSeq))
        val tops = base
          .select(col("wcnt"), toks.as("t"))
          .select(col("wcnt"), explode(zip_with(
            slice(col("t"), lit(1), size(col("t")) - 1),
            slice(col("t"), lit(2), size(col("t")) - 1),
            (a, b) => concat(a, lit(" "), b))).as("pair"))
          .groupBy(col("pair")).agg(sum(col("wcnt")).as("cnt"))
          .orderBy(col("cnt").desc, col("pair"))
          .limit(topC).collect()
          .map(row => (row.getString(0), row.getLong(1))).toSeq
        val sel = selectDisjointBatch(tops, limit)
        sel.zipWithIndex.foreach { case ((pair, cnt), i) =>
          merges += ((r, i + 1, pair, pair.replace(" ", ""), cnt))
        }
        mergesByRound += sel.map(_._1)
      }
    }
    base.unpersist(blocking = false)
    merges.toSeq
  }

  /** (round, rank-in-round, pair, merged, cnt-at-selection) rows. */
  private[queries] def bpeBatchedMerges(s: SparkSession, d: String): Seq[(Int, Int, String, String, Long)] =
    bpeBatchCache.getOrElseUpdate(s, d, {
      val enc0 = docs(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) >= 2)
        .groupBy(col("w")).agg(count(lit(1)).as("wcnt"))
        .select(concat(lit("  "), concat_ws("  ", split(col("w"), "")), lit("  ")).as("e"),
          col("wcnt"))
      trainBatched(enc0, BpeBatchRounds, BpeBatchSize, BpeVocabCap, BpeBatchTopC)
    })

  /** DuckDB twins of the batched training round (the [[bpeSqlPairs]]
    * family, batch form). `bpeBatchSqlSel` reproduces the greedy
    * symbol-disjoint selection as a list_reduce fold over the ordered
    * top-[[BpeBatchTopC]] list (accumulator = '|'-joined accepted
    * pairs; a candidate is skipped when the per-round limit is reached
    * or any of its three symbols — left, right, merged — appears among
    * an accepted pair's three symbols); `bpeBatchSqlMerge` re-tokenizes
    * with ALL of a round's accepted pairs in one fold (list_contains
    * against the accepted set — merging last+x is textually
    * `acc || x`). `priorExpr` is the SQL expression for merges
    * accumulated in earlier rounds, so the mid-round vocab-cap stop is
    * replayed exactly. */
  private def selCount(sel: String) =
    s"(SELECT CASE WHEN selected = '' THEN 0 ELSE len(string_split(selected, '|')) END FROM $sel)"
  private def bpeBatchSqlSel(p: String, sel: String, tops: String, priorExpr: String) =
    s"$tops AS (SELECT pair, COUNT(*) AS cnt FROM $p GROUP BY pair " +
      s"ORDER BY cnt DESC, pair LIMIT $BpeBatchTopC), " +
      s"$sel AS (SELECT list_reduce([''] || ps, (acc, x) -> " +
      "CASE WHEN (CASE WHEN acc = '' THEN 0 ELSE len(string_split(acc, '|')) END) >= lim " +
      "OR list_has_any(flatten(list_transform(string_split(acc, '|'), q -> " +
      "[split_part(q, ' ', 1), split_part(q, ' ', 2), replace(q, ' ', '')])), " +
      "[split_part(x, ' ', 1), split_part(x, ' ', 2), replace(x, ' ', '')]) " +
      "THEN acc WHEN acc = '' THEN x ELSE acc || '|' || x END) AS selected " +
      s"FROM (SELECT LIST(pair ORDER BY cnt DESC, pair) AS ps, " +
      s"LEAST($BpeBatchSize, $BpeVocabCap - $priorExpr) AS lim FROM $tops)), "
  private def bpeBatchSqlMerge(t: String, sel: String, t2: String) =
    s"$t2 AS (SELECT string_split(list_reduce(t, (acc, x) -> " +
      "CASE WHEN list_contains(m.plist, string_split(acc, ' ')[-1] || ' ' || x) " +
      s"THEN acc || x ELSE acc || ' ' || x END), ' ') AS t FROM $t CROSS JOIN " +
      s"(SELECT string_split(selected, '|') AS plist FROM $sel) m), "
  /** The full 4-round batched-training CTE chain (`w0` … `sel4`), with
    * a trailing `", "` — shared verbatim by q117's merge-table oracle
    * and q135's encode oracle, so the two entries replay ONE trainer. */
  private def bpeTrainingSqlCtes: String = {
    val c1 = selCount("sel1")
    val c2 = selCount("sel2")
    val c3 = selCount("sel3")
    "WITH w0 AS (SELECT UNNEST(string_split(text,' ')) AS w FROM documents), " +
      "t1 AS (SELECT string_split(w, '') AS t FROM w0 WHERE length(w) >= 2), " +
      bpeSqlPairs("t1", "p1") + bpeBatchSqlSel("p1", "sel1", "tops1", "0") +
      bpeBatchSqlMerge("t1", "sel1", "t2") +
      bpeSqlPairs("t2", "p2") + bpeBatchSqlSel("p2", "sel2", "tops2", c1) +
      bpeBatchSqlMerge("t2", "sel2", "t3") +
      bpeSqlPairs("t3", "p3") +
      bpeBatchSqlSel("p3", "sel3", "tops3", s"($c1 + $c2)") +
      bpeBatchSqlMerge("t3", "sel3", "t4") +
      bpeSqlPairs("t4", "p4") +
      bpeBatchSqlSel("p4", "sel4", "tops4", s"($c1 + $c2 + $c3)")
  }

  /** One ROUND of encode application over a `(w, t)` vocab relation —
    * [[bpeBatchSqlMerge]]'s fold with the word carried through (q135).
    * Per-round folds, in round order, replay training exactly; a
    * single fold over all rounds' merges would not (see the q135
    * entry comment). */
  private def bpeEncodeFoldSql(src: String, sel: String, dst: String) =
    s"$dst AS (SELECT w, string_split(list_reduce(t, (acc, x) -> " +
      "CASE WHEN list_contains(m.plist, string_split(acc, ' ')[-1] || ' ' || x) " +
      s"THEN acc || x ELSE acc || ' ' || x END), ' ') AS t FROM $src CROSS JOIN " +
      s"(SELECT string_split(selected, '|') AS plist FROM $sel) m), "

  private def bpeBatchSqlOut(sel: String, tops: String, r: Int) =
    s"(SELECT $r AS round, z.rank, z.pair, replace(z.pair, ' ', '') AS merged, t.cnt " +
      "FROM (SELECT CAST(UNNEST(generate_series(1, len(string_split(selected, '|')))) AS INTEGER) AS rank, " +
      s"UNNEST(string_split(selected, '|')) AS pair FROM $sel WHERE selected <> '') z " +
      s"JOIN $tops t ON t.pair = z.pair)"

  // ---- q138: the batched trainer at PRODUCTION scale (>= 1k merges)
  // + the native BPE encode expression (VERDICT r11 item 3) ----------

  /** q138's training constants. The fixture's raw vocabulary is 30
    * words over a 24-char alphabet (merge budget ~107), so the
    * production-scale table trains on a DERIVED corpus: adjacent token
    * TRIGRAMS concatenated (≈16k distinct derived words at sf0.01),
    * initially tokenized into 2-CHARACTER units — the bigger base
    * alphabet (≈24² unit symbols) is what lets the symbol-disjoint
    * batches run hundreds wide per round (a round's batch is bounded
    * by |symbols|/2, so a 24-char alphabet caps round 1 at 12 pairs
    * regardless of batch size). 10 rounds × up to 512 reach ≥1000
    * merges at every fixture tier (measured 1011–1066). */
  private[graft] val BpeBigRounds = 10
  private[graft] val BpeBigBatch = 512
  private[graft] val BpeBigVocabCap = 1400
  private[graft] val BpeBigTopC = 4096

  /** The q138 derived word stream (doc_id, w): adjacent token trigrams
    * concatenated, all three parts non-empty. Per-row higher-order
    * functions over the token array — a map-only corpus pass (the
    * volume is the token stream; no shuffle until the vocab group-by),
    * mirrored verbatim by the oracle's generate_series CTE. */
  private[graft] def bpeBigWords(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(when(size(col("t")) >= 3, expr(
        "transform(filter(sequence(1, size(t) - 2), " +
          "i -> t[i-1] <> '' AND t[i] <> '' AND t[i+1] <> ''), " +
          "i -> concat(t[i-1], t[i], t[i+1]))"))
        .otherwise(expr("array()"))).as("w"))

  /** 2-character initial units of a derived word — the q138 base
    * alphabet. Greedy `.{1,2}` leaves an odd word's last unit 1 char;
    * identical regex semantics in Spark (java.util.regex) and DuckDB
    * (RE2) on space-free words. */
  private def bigUnits(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_extract_all(w, lit(".{1,2}"), lit(0))

  private val bpeBigCache =
    new graft.SessionCache[Seq[(Int, Int, String, String, Long)]](_ => ())

  /** The production-scale merge table: the SAME batched loop as q117
    * ([[trainBatched]]) at the [[BpeBigRounds]]×[[BpeBigBatch]]
    * constants over the derived vocab. */
  private[graft] def bpeBigMerges(s: SparkSession, d: String): Seq[(Int, Int, String, String, Long)] =
    bpeBigCache.getOrElseUpdate(s, d, bpeBigMergesUncached(s, d))

  /** The q138 replace-chain training run WITHOUT the session cache —
    * for wall-clock baselines (ScaleProbe's 2×-budget gate times the
    * actual training, which a cache hit would collapse to ~0 and turn
    * the relative budget into a meaningless constant). */
  private[graft] def bpeBigMergesUncached(s: SparkSession, d: String): Seq[(Int, Int, String, String, Long)] = {
    val enc0 = bpeBigWords(s, d)
      .where(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("wcnt"))
      .select(concat(lit("  "), concat_ws("  ", bigUnits(col("w"))),
        lit("  ")).as("e"), col("wcnt"))
    trainBatched(enc0, BpeBigRounds, BpeBigBatch, BpeBigVocabCap, BpeBigTopC)
  }

  /** q138's merge table grouped per round in rank order — the
    * [[graft.functions.BpeEncode]] constructor shape. */
  private[graft] def bpeBigMergeRounds(s: SparkSession, d: String): Seq[Seq[String]] = {
    val m = bpeBigMerges(s, d)
    (1 to BpeBigRounds).map(r => m.filter(_._1 == r).sortBy(_._2).map(_._3))
  }

  /** The derived vocab as (u: raw 2-char unit arrays, wcnt) — the
    * [[trainBatchedNative]] input shape for the q138 corpus. */
  private[graft] def bpeBigUnits(s: SparkSession, d: String): DataFrame =
    bpeBigWords(s, d)
      .where(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("wcnt"))
      .select(bigUnits(col("w")).as("u"), col("wcnt"))

  private val bpeWideCache =
    new graft.SessionCache[Seq[(Int, Int, String, String, Long)]](_ => ())

  /** q142's merge table: [[trainBatchedNative]] at exactly q138's
    * constants (the oracle-parity configuration; the probe tier runs
    * the same loop at wide constants). */
  private[graft] def bpeWideMerges(s: SparkSession, d: String): Seq[(Int, Int, String, String, Long)] =
    bpeWideCache.getOrElseUpdate(s, d, trainBatchedNative(bpeBigUnits(s, d),
      BpeBigRounds, BpeBigBatch, BpeBigVocabCap, BpeBigTopC))

  private[graft] def bpeWideMergeRounds(s: SparkSession, d: String): Seq[Seq[String]] = {
    val m = bpeWideMerges(s, d)
    (1 to BpeBigRounds).map(r => m.filter(_._1 == r).sortBy(_._2).map(_._3))
  }

  /** The q138/q142 output: per-doc (n_words, n_tokens) of the derived
    * word stream under the trained tokenizer — encode once per
    * DISTINCT word (vocab-bounded map-only pass via the native
    * expression), corpus stream pays a vocab-keyed equi-join. */
  private def bpeVocabTokenSummary(s: SparkSession, d: String,
      rounds: Seq[Seq[String]]): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val words = bpeBigWords(s, d)
    val vocab = words.select(col("w")).distinct()
      .where(length(col("w")) >= 2)
    val toks = ColumnBridge.column(graft.functions.BpeEncode(
      ColumnBridge.expression(bigUnits(col("w"))), rounds))
    val vt = vocab.select(col("w"), size(toks).cast("long").as("ntok"))
    words.join(vt, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("ntok")).as("n_tokens"))
      .orderBy(col("doc_id"))
      .select(col("doc_id"), col("n_words"), col("n_tokens"))
  }

  /** The q138/q142 oracle: the 10-round training CTE chain whose final
    * tokenization is definitionally the trained tokenizer's encode of
    * every vocab word — shared verbatim by both entries, which is the
    * point: q142's wide trainer must reproduce q138's table exactly. */
  private lazy val BpeBigSummaryOracle: String =
    bpeBigTrainingSqlCtes +
      s"vt AS (SELECT w, len(t) AS ntok FROM tbig${BpeBigRounds + 1}) " +
      "SELECT wd.doc_id, COUNT(*) AS n_words, " +
      "CAST(SUM(vt.ntok) AS BIGINT) AS n_tokens " +
      "FROM wd JOIN vt ON vt.w = wd.w " +
      "GROUP BY wd.doc_id ORDER BY wd.doc_id"

  // DuckDB twins of the big training round — the [[bpeSqlPairs]]
  // family with the word-FREQUENCY weighting the trainer itself uses
  // (pair counts = SUM(wcnt) over the vocab relation, so the fold runs
  // over ~16k vocab rows, never the corpus-sized instance stream) and
  // a CUMULATIVE merge count carried through each selection CTE so the
  // 10-round chain stays linear in rounds (the q117 form re-derives
  // prior counts per round — O(rounds²) SQL text at 10+ rounds).
  // every per-round CTE is MATERIALIZED: selbig_r is referenced by
  // both the next round's lim subquery and the merge fold, and tbig_r
  // by both pbig_r and the merge — un-hinted, DuckDB re-inlines each
  // reference and the 10-round chain expands Fibonacci-style into
  // thousands of documents scans (the q104 multiplicative-CTE lesson;
  // observed as a too-many-open-files failure before the hints)
  private def bpeBigSqlPairs(t: String, p: String) =
    s"$p AS MATERIALIZED (SELECT t[i] || ' ' || t[i+1] AS pair, wcnt FROM " +
      s"(SELECT t, wcnt, UNNEST(generate_series(1, len(t) - 1)) AS i FROM $t) z), "
  private def bpeBigSqlSel(p: String, sel: String, tops: String, priorExpr: String) =
    s"$tops AS MATERIALIZED (SELECT pair, SUM(wcnt) AS cnt FROM $p GROUP BY pair " +
      s"ORDER BY cnt DESC, pair LIMIT $BpeBigTopC), " +
      s"$sel AS MATERIALIZED (SELECT list_reduce([''] || ps, (acc, x) -> " +
      "CASE WHEN (CASE WHEN acc = '' THEN 0 ELSE len(string_split(acc, '|')) END) >= lim " +
      "OR list_has_any(flatten(list_transform(string_split(acc, '|'), q -> " +
      "[split_part(q, ' ', 1), split_part(q, ' ', 2), replace(q, ' ', '')])), " +
      "[split_part(x, ' ', 1), split_part(x, ' ', 2), replace(x, ' ', '')]) " +
      "THEN acc WHEN acc = '' THEN x ELSE acc || '|' || x END) AS selected, " +
      s"$priorExpr + (CASE WHEN selected = '' THEN 0 ELSE len(string_split(selected, '|')) END) AS cum " +
      s"FROM (SELECT LIST(pair ORDER BY cnt DESC, pair) AS ps, " +
      s"LEAST($BpeBigBatch, $BpeBigVocabCap - $priorExpr) AS lim FROM $tops)), "
  private def bpeBigSqlMerge(t: String, sel: String, t2: String) =
    s"$t2 AS MATERIALIZED (SELECT w, wcnt, string_split(list_reduce(t, (acc, x) -> " +
      "CASE WHEN list_contains(m.plist, string_split(acc, ' ')[-1] || ' ' || x) " +
      s"THEN acc || x ELSE acc || ' ' || x END), ' ') AS t FROM $t CROSS JOIN " +
      s"(SELECT string_split(selected, '|') AS plist FROM $sel) m), "

  /** The full 10-round big-training CTE chain (`tk` … `tbig11`), with
    * a trailing `", "`. The final CTE's tokenization IS the trained
    * tokenizer's encode of every vocab word (round 10's merges applied
    * — training itself never needs the last application, encode does),
    * which is exactly what the native expression recomputes. */
  private def bpeBigTrainingSqlCtes: String = {
    val sb = new StringBuilder
    sb ++= "WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
    sb ++= "wd AS MATERIALIZED (SELECT doc_id, t[i] || t[i+1] || t[i+2] AS w FROM " +
      "(SELECT doc_id, t, UNNEST(generate_series(1, len(t) - 2)) AS i FROM tk WHERE len(t) >= 3) z " +
      "WHERE t[i] <> '' AND t[i+1] <> '' AND t[i+2] <> ''), "
    sb ++= "w1 AS (SELECT w, COUNT(*) AS wcnt FROM wd GROUP BY w), "
    sb ++= "tbig1 AS MATERIALIZED (SELECT w, wcnt, regexp_extract_all(w, '.{1,2}') AS t FROM w1 WHERE length(w) >= 2), "
    for (r <- 1 to BpeBigRounds) {
      val prior = if (r == 1) "0" else s"(SELECT cum FROM selbig${r - 1})"
      sb ++= bpeBigSqlPairs(s"tbig$r", s"pbig$r")
      sb ++= bpeBigSqlSel(s"pbig$r", s"selbig$r", s"topsbig$r", prior)
      sb ++= bpeBigSqlMerge(s"tbig$r", s"selbig$r", s"tbig${r + 1}")
    }
    sb.result()
  }

  /** q67's fixed keyword query (terms present across fixture sources
    * with moderate document frequency). */
  private[graft] val Bm25Terms = Seq("vector", "merge", "stream", "window", "customer")

  /** BM25 idf per term, quantized to integer micro-units. `ln` is the
    * ONE transcendental in the scoring chain, and libm implementations
    * legitimately differ in the last ulp (measured: 1 of 249 probe
    * inputs differs between JDK `Math.log` and DuckDB `ln`) — so the idf
    * is floored to 1e-6 precision immediately, and `Bm25Spec` asserts
    * every fixture (N, df) input lands ≫ 1 ulp away from a quantization
    * boundary, making the integer idf engine-portable. Every literal is
    * CAST to DOUBLE because bare decimal literals are DECIMAL-typed in
    * BOTH engines but with engine-specific decimal division scales. */
  private[graft] val Bm25IdfMuExpr: String =
    "CAST(floor(ln((CAST(n_docs - df AS DOUBLE) + CAST(0.5 AS DOUBLE)) / " +
      "(CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) " +
      "* 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT)"

  /** Per-(doc, term) BM25 contribution (k1 = 1.2, b = 0.75) in integer
    * micro-units: `idf_mu` (already an exact integer) scaled by the tf
    * damping factor — pure IEEE arithmetic on identical inputs in an
    * identical operation order, hence bit-identical on both engines;
    * the floor then makes the per-doc SUM order-independent. */
  private[graft] val Bm25ContribExpr: String =
    "CAST(floor(idf_mu * (tf * CAST(2.2 AS DOUBLE) / (tf + CAST(1.2 AS DOUBLE) * " +
      "(CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl))) " +
      "+ CAST(0.5 AS DOUBLE)) AS BIGINT)"

  /** Reciprocal-rank fusion of two ranked legs `(doc_id, lex_rank)` /
    * `(doc_id, sem_rank)`: each leg contributes `1e6 div (60 + rank)`
    * (integer division — exact on any engine), an absent leg
    * contributes 0, ties break on doc_id. Top-10. q127's body, exposed
    * for the spec's hand-built leg tables. */
  private[graft] def rrfFuse(lexTop: DataFrame, semTop: DataFrame): DataFrame =
    lexTop.as("l").join(semTop.as("r"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        (coalesce(expr("CAST(1000000 AS BIGINT) div (60 + lex_rank)"), lit(0L)) +
          coalesce(expr("CAST(1000000 AS BIGINT) div (60 + sem_rank)"), lit(0L)))
          .as("rrf_e6"))
      .orderBy(col("rrf_e6").desc, col("doc_id")).limit(10)

  /** BM25 scores for [[Bm25Terms]] over a documents relation:
    * (doc_id, score_micro), score_micro = Σ_term contribution in 1e-6
    * units (BIGINT — ranking ties are impossible to mis-order across
    * engines because no float ever leaves the query). Shape: token
    * explode → two hash aggs (dl, tf) co-partitioned on doc_id; the
    * term-level side (df → idf) is k rows and broadcast; corpus stats
    * ride along as a broadcast 1-row cross join. Exposed for the spec's
    * partitioning-invariance and boundary-margin checks. */
  private[graft] def bm25Scores(docsDf: DataFrame): DataFrame = {
    val tok = docsDf.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
      .select(col("n_docs"), (col("tot").cast("double") / col("n_docs")).as("avgdl"))
    val tf = tok.where(col("tok").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val idf = dft.crossJoin(broadcast(stats)).select(col("tok"), expr(Bm25IdfMuExpr).as("idf_mu"))
    tf.join(broadcast(idf), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), expr(Bm25ContribExpr).as("c_mu"))
      .groupBy(col("doc_id")).agg(sum(col("c_mu")).as("score_micro"))
  }

  /** The q69 body over a documents relation (exposed for the
    * partitioning-invariance spec): per-source unigram-LM surprisal
    * stats — see the q69 QueryDef comment for the full doctrine. */
  private[graft] def lmSurprisal(docsDf: DataFrame): DataFrame =
    lmSurprisalPerDoc(docsDf).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ssum") > lit(35000L) * col("n_tok"), 1L).otherwise(0L))
          .cast("long").as("n_flagged"),
        expr("CAST(floor(CAST(SUM(ssum) AS DOUBLE) / SUM(n_tok) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("avg_surprisal_e4"))
      .orderBy(col("source"))

  /** The q69 per-doc stage (doc_id, source, ssum, n_tok) — the
    * unigram-LM surprisal sums q69 summarizes and q134's curriculum
    * phases band. See the q69 QueryDef comment for the quantization
    * doctrine. */
  private[graft] def lmSurprisalPerDoc(docsDf: DataFrame): DataFrame = {
    val tok = docsDf.select(col("doc_id"), col("source"),
      explode(split(col("text"), " ")).as("tok"))
    val tot = tok.agg(count(lit(1)).as("t_total"))
    val lm = tok.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .crossJoin(broadcast(tot))
      .select(col("tok"), expr(
        "CAST(floor(ln(CAST(t_total AS DOUBLE) / freq) * 10000 + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("s_mu"))
    tok.join(lm, Seq("tok"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("s_mu")).as("ssum"), count(lit(1)).as("n_tok"))
  }

  /** Per-doc train/valid/test assignment (the q58 core), exposed so the
    * partitioning-invariance spec can apply it to arbitrarily
    * repartitioned input: a pure per-row function of doc_id. */
  private[graft] def splitAssignment(docsDf: DataFrame): DataFrame =
    docsDf
      .withColumn("b", bucket("split:", col("doc_id")))
      .withColumn("split",
        when(col("b") < 80, "train").when(col("b") < 90, "valid").otherwise("test"))

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q58_hash_split",
      // Reproducible train/valid/test assignment (80/10/10) from a salted
      // md5 bucket of doc_id. Per-row pure function: no shuffle until the
      // 3-row summary agg; re-running on any cluster layout yields the
      // same membership — the property training pipelines need from a
      // split (contrast rand(), which is partitioning-dependent).
      (s, d) => splitAssignment(docs(s, d))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy(col("split")),
      Some("SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid' ELSE 'test' END AS split, " +
        "COUNT(*) AS cnt, CAST(SUM(n_chars) AS BIGINT) AS sum_chars " +
        s"FROM (SELECT n_chars, ${bucketSql("split:", "doc_id")} AS b FROM documents) " +
        "GROUP BY 1 ORDER BY split")),

    QueryDef("q121_cluster_split",
      // Leakage-proof train/valid/test assignment: q58 hashes the DOC
      // id, so two near-duplicate documents can straddle the train/test
      // boundary and leak training text into evaluation — the classic
      // contamination bug cluster-aware splitting exists to prevent
      // (and the reason production corpora split AFTER dedup
      // clustering). Here the salted-md5 bucket is keyed on the near-
      // dup CLUSTER id (q57's connected-components rep; singletons are
      // their own cluster), so a whole cluster lands in one split by
      // construction. Scale shape: the session-cached CC label relation
      // (typically a small fraction of the corpus — only docs in ≥ 1
      // verified pair) left-joins onto the doc scan, the bucket is a
      // per-row pure function, and the only other shuffle is the 3-row
      // summary agg (countDistinct adds the standard Expand two-phase
      // plan). Reproducible on any cluster layout, like every md5
      // assignment here.
      (s, d) => clusterSplitAssignment(s, d)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_id")).as("n_clusters"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy(col("split")),
      Some("WITH RECURSIVE " + LlmText.BandedPairsSqlCtes + ", " +
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs " +
        "UNION SELECT doc_b, doc_a FROM pairs), " +
        "nodes AS (SELECT DISTINCT src AS doc FROM edges), " +
        "reach(doc, r) AS (SELECT doc, doc FROM nodes " +
        "UNION SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc), " +
        "rep AS (SELECT doc, MIN(r) AS rep_doc FROM reach GROUP BY doc), " +
        "c AS (SELECT d.doc_id, d.n_chars, COALESCE(r.rep_doc, d.doc_id) AS cluster_id " +
        "FROM documents d LEFT JOIN rep r ON r.doc = d.doc_id), " +
        s"b AS (SELECT n_chars, cluster_id, ${bucketSql("csplit:", "cluster_id")} AS b FROM c) " +
        "SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid' ELSE 'test' END AS split, " +
        "COUNT(*) AS n_docs, COUNT(DISTINCT cluster_id) AS n_clusters, " +
        "CAST(SUM(n_chars) AS BIGINT) AS sum_chars FROM b GROUP BY 1 ORDER BY split")),

    QueryDef("q72_shard_manifest",
      // Training-shard assignment + manifest: the last step of a curation
      // run assigns every surviving doc to one of a fixed number of
      // output shards and records, per shard, the stats a data loader
      // needs (doc count, byte volume, id range, language spread).
      // Assignment is the same salted-md5 pure function as q58 — shard
      // membership is reproducible on any cluster layout, and balanced
      // by construction (md5 uniformity), which the manifest itself
      // makes auditable. At 100 TB the writer runs
      // `repartition($"shard").sortWithinPartitions($"doc_id")
      //  .write.partitionBy("shard")` — one shuffle keyed exactly like
      // this manifest's groupBy; the manifest agg itself is a map-side
      // partial hash agg into `nShards` groups.
      (s, d) => {
        val nShards = 16
        docs(s, d)
          .withColumn("shard",
            conv(substring(md5(concat(lit("shard:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
              .cast("long") % nShards)
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            min(col("doc_id")).as("min_doc_id"),
            max(col("doc_id")).as("max_doc_id"),
            countDistinct(col("lang")).as("n_langs"))
          .orderBy(col("shard"))
      },
      Some("SELECT CAST(('0x' || substring(md5('shard:' || CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 16 AS shard, " +
        "COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars, " +
        "MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id, " +
        "COUNT(DISTINCT lang) AS n_langs FROM documents GROUP BY 1 ORDER BY shard")),

    QueryDef("q123_sharded_write",
      // The WRITE half q72 only plans: physically materialize the
      // corpus as training shards — the q72 salted-md5 assignment,
      // `repartition(16, shard).sortWithinPartitions(doc_id)
      //  .write.partitionBy("shard")` — then derive the manifest from
      // the FILES READ BACK, not from the input relation. Same oracle
      // as q72 (manifest is a pure function of the assignment), so the
      // hash gate certifies the physical round-trip: partition layout,
      // parquet encode/decode, and that no row was lost, duplicated or
      // re-sharded on the way to disk. Because the shuffle is keyed
      // exactly on the shard, every shard lands in ONE task → one file
      // per shard dir, rows id-sorted within it (ShardWriteSpec
      // asserts the layout; that is the file shape a training data
      // loader wants). At 100 TB this is the job's terminal stage;
      // shard count scales with volume, the manifest agg stays
      // nShards-bounded.
      (s, d) => {
        val out = graft.util.Scratch.dir("q123-shards")
        shardedWriteManifest(s, d, out)
      },
      Some("SELECT CAST(('0x' || substring(md5('shard:' || CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 16 AS shard, " +
        "COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars, " +
        "MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id, " +
        "COUNT(DISTINCT lang) AS n_langs FROM documents GROUP BY 1 ORDER BY shard")),

    QueryDef("q124_curation_pipeline",
      // The END-TO-END curation DAG — the four decision layers this
      // engine grew this round, COMPOSED in production order, one
      // oracle hash over the whole thing:
      //   1. quality gate (q50's heuristic, floor-quantized; keep
      //      q4 ≥ 5000 — drops the bottom ~15% of this fixture);
      //   2. near-dup collapse: among QUALIFIED members of each q57
      //      cluster keep the best (q120's rule; unqualified docs are
      //      already gone, singletons pass);
      //   3. duplicate-line removal over the SURVIVING corpus (q119's
      //      keep-first — note the dup-line set is computed on the
      //      survivor corpus, not the raw one: removing a cluster
      //      removes its lines' duplicate pressure, which is why the
      //      stage order matters and why this is one composed query,
      //      not three concatenated results); docs emptied by dedup
      //      are dropped;
      //   4. shard manifest of the final corpus (q72's assignment):
      //      per shard, doc count + surviving line volume.
      // Scale: every stage is a shape already proven by its standalone
      // entry (session-cached CC labels, window keep-first, O(1)-state
      // argmax, 16-key manifest agg); the composition adds joins on
      // doc_id only.
      (s, d) => curationManifestFrom(docs(s, d),
        LlmText.dedupComponents(s, d), LlmText.lineChunks),
      Some(curationOracleSqlOver(""))),

    QueryDef("q58b_stratified_sample",
      // Stratified downsampling with per-stratum rates (the corpus-
      // rebalancing move: keep 10% of the dominant language, 50% of the
      // rest), again via deterministic md5 buckets — the distributed,
      // reproducible form of `df.sampleBy`.
      (s, d) => docs(s, d)
        .withColumn("b", bucket("sample:", col("doc_id")))
        .where(col("b") < when(col("lang") === "en", 10).otherwise(50))
        .groupBy(col("lang")).agg(count(lit(1)).as("kept"))
        .orderBy(col("lang")),
      Some("SELECT lang, COUNT(*) AS kept FROM (SELECT lang, " +
        s"${bucketSql("sample:", "doc_id")} AS b FROM documents) " +
        "WHERE b < CASE WHEN lang = 'en' THEN 10 ELSE 50 END " +
        "GROUP BY lang ORDER BY lang")),

    QueryDef("q59_session_sequences",
      // Per-user training sequences: the first 10 events in arrival order
      // concatenated into one path string. The window row_number + filter
      // BEFORE collect_list bounds per-group state to 10 rows — at 100 TB
      // a user with millions of events still costs O(10), where a naive
      // collect-then-slice materializes the whole history per user.
      (s, d) => {
        val ev = events(s, d)
        val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        val first10 = ev.withColumn("rn", row_number().over(w)).where(col("rn") <= 10)
        val seqs = first10.groupBy(col("user_id")).agg(
          concat_ws(">", expr(
            "transform(array_sort(collect_list(struct(rn, event_type))), x -> x.event_type)")).as("seq"))
        val tot = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
        tot.join(seqs, Seq("user_id")).orderBy(col("user_id"))
      },
      Some("WITH r AS (SELECT user_id, event_type, ROW_NUMBER() OVER " +
        "(PARTITION BY user_id ORDER BY event_id) AS rn FROM events), " +
        "seqs AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS seq " +
        "FROM r WHERE rn <= 10 GROUP BY user_id), " +
        "tot AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id) " +
        "SELECT t.user_id, t.n_events, s.seq FROM tot t JOIN seqs s USING (user_id) " +
        "ORDER BY user_id")),

    QueryDef("q60_pii_scrub",
      // PII scrubbing shape: regex-mask digit runs in the event payload,
      // then audit distinct masked shapes per event type. Stateless
      // per-row regexp_replace — embarrassingly parallel; the audit agg
      // is the only shuffle. (Fixture payloads are `{"k": NN}` JSON; the
      // same operator masks emails/phones by swapping the pattern.)
      (s, d) => events(s, d)
        .select(col("event_type"), regexp_replace(col("props"), "[0-9]", "#").as("masked"))
        .groupBy(col("event_type"))
        .agg(countDistinct(col("masked")).as("n_shapes"), count(lit(1)).as("cnt"))
        .orderBy(col("event_type")),
      Some("SELECT event_type, COUNT(DISTINCT regexp_replace(props, '[0-9]', '#', 'g')) AS n_shapes, " +
        "COUNT(*) AS cnt FROM events GROUP BY event_type ORDER BY event_type")),

    QueryDef("q61_curation_funnel",
      // The composed end-to-end curation pipeline: quality gate (≥ 10
      // tokens) → exact dedup (keep min doc_id per identical text) →
      // near-dup dedup (keep the connected-component representative over
      // q54's banded MinHash pairs). One outcome per doc, attributed in
      // that priority order; output is the per-lang funnel. Every stage
      // is the scale shape: per-row token count, hash-partition window
      // on text, and the banded-candidate component machinery of
      // q54/q57 — no all-pairs step anywhere.
      //
      // The near-dup representative is chosen among component members
      // that SURVIVE the earlier stages (quality gate + exact dedup), not
      // blindly as the component min: a min-id rep that itself failed the
      // quality gate would otherwise drag its whole component to
      // drop_near_dup and silently lose unique content. The surviving-rep
      // agg runs over component members only (never the full corpus — no
      // giant null-key window partition at scale).
      (s, d) => {
        val comps = DedupGroups.components(LlmText.bandedNearDupPairs(s, d))
        val base = docs(s, d)
          .withColumn("n_tok", size(split(col("text"), " ")))
          .withColumn("exact_rep", min(col("doc_id")).over(Window.partitionBy(col("text"))))
          .join(comps, Seq("doc_id"), "left_outer")
        val srep = base.where(col("rep").isNotNull)
          .groupBy(col("rep"))
          .agg(min(when(col("n_tok") >= 10 && col("doc_id") === col("exact_rep"),
            col("doc_id"))).as("srep"))
        base.join(srep, Seq("rep"), "left_outer")
          .withColumn("outcome",
            when(col("n_tok") < 10, "drop_quality")
              .when(col("doc_id") =!= col("exact_rep"), "drop_exact_dup")
              .when(col("srep").isNotNull && col("doc_id") =!= col("srep"), "drop_near_dup")
              .otherwise("kept"))
          .groupBy(col("lang"), col("outcome"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("lang"), col("outcome"))
      },
      Some("WITH RECURSIVE " + LlmText.BandedPairsSqlCtes + ", " +
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs " +
        "UNION SELECT doc_b, doc_a FROM pairs), " +
        "nodes AS (SELECT DISTINCT src AS doc FROM edges), " +
        "reach(doc, r) AS (SELECT doc, doc FROM nodes " +
        "UNION SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc), " +
        "comp AS (SELECT doc, MIN(r) AS rep FROM reach GROUP BY doc), " +
        "base AS (SELECT d.doc_id, d.lang, len(string_split(d.text,' ')) AS n_tok, " +
        "MIN(d.doc_id) OVER (PARTITION BY d.text) AS exact_rep, c.rep " +
        "FROM documents d LEFT JOIN comp c ON c.doc = d.doc_id), " +
        "srep AS (SELECT rep, MIN(CASE WHEN n_tok >= 10 AND doc_id = exact_rep " +
        "THEN doc_id END) AS srep FROM base WHERE rep IS NOT NULL GROUP BY rep) " +
        "SELECT lang, CASE WHEN n_tok < 10 THEN 'drop_quality' " +
        "WHEN doc_id <> exact_rep THEN 'drop_exact_dup' " +
        "WHEN srep IS NOT NULL AND doc_id <> srep THEN 'drop_near_dup' " +
        "ELSE 'kept' END AS outcome, COUNT(*) AS cnt " +
        "FROM base b LEFT JOIN srep s ON s.rep = b.rep " +
        "GROUP BY 1, 2 ORDER BY lang, outcome")),

    QueryDef("q62_heavy_hitters",
      // Exact heavy hitters (tokens with count > n/40) by the two-pass
      // sketch recipe: pass 1 runs the mergeable Misra–Gries Aggregator
      // (functions/MisraGries) — map-side partial sketches, one ≤39-entry
      // map per task crosses the wire, NEVER a full-vocabulary shuffle —
      // whose guarantee makes the sketch a superset of every true heavy
      // hitter; pass 2 re-counts only those ≤39 candidates exactly and
      // applies the threshold. The result is EXACT (hence oracle-
      // checkable) while scaling to vocabularies far larger than memory.
      (s, d) => {
        import graft.functions.MisraGries
        val tok = docs(s, d).select(explode(split(col("text"), " ")).as("tok"))
        import s.implicits._
        val cands = tok.as[String]
          .select(new MisraGries(40).toColumn.name("cands")).head()
        // corpus total rides the recount job as a broadcast 1-row cross
        // join instead of a separate count() action: the whole query is
        // sketch-head + ONE job
        val nDf = tok.agg(count(lit(1)).as("nn"))
        tok.where(col("tok").isin(cands.toIndexedSeq: _*))
          .groupBy(col("tok").as("token"))
          .agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(nDf))
          .where(col("cnt") * 40 > col("nn"))
          .select(col("token"), col("cnt"))
          .orderBy(col("token"))
      },
      Some("WITH tok AS (SELECT UNNEST(string_split(text,' ')) AS tok FROM documents), " +
        "c AS (SELECT tok AS token, COUNT(*) AS cnt FROM tok GROUP BY 1), " +
        "n AS (SELECT COUNT(*) AS nn FROM tok) " +
        "SELECT c.token, c.cnt FROM c, n WHERE c.cnt * 40 > n.nn ORDER BY token")),

    QueryDef("q66_incremental_dedup",
      // The STREAMING dedup funnel under the batch oracle: documents
      // arrive in two deterministic waves through IncrementalNearDup
      // (the foreachBatch state-accumulation engine — parquet band
      // index / signatures / pairs, new-vs-state candidates only), and
      // the accumulated dedup groups are checked against the SAME
      // recursive-CTE oracle as the batch q57 — the stream/batch
      // equivalence claim, held to the hash gate rather than only to
      // ScalaTest. Wave assignment is doc_id parity, so the entry is
      // deterministic; final state is arrival-order independent by
      // construction.
      (s, d) => {
        val statePath = graft.util.Scratch.dir("q66-incremental")
        val inc = new IncrementalNearDup(statePath)
        // the whole corpus is known here, so each wave gets its slice
        // of the SESSION-CACHED per-doc signature state (the wire path,
        // processBatch, computes it per batch; state rows are per-doc
        // pure functions of text, so slices of the shared relation are
        // row-identical to per-wave recomputation — hash unchanged)
        val st = LlmText.bigramStateCached(s, d)
        // micro-batch waves sized at 8 shuffle partitions (the VERDICT
        // r12/r13 wall item): each wave's work is tens of thousands of
        // rows, so 32-partition stages pay pure task + AQE-planning
        // overhead — measured warm waves 3.4–9.9 s at 32 vs 2.2–4.6 s
        // at 8 on this host; results are partitioning-invariant (the
        // oracle hash is the gate). The production analog is standard:
        // size shuffle partitions to the micro-batch, not the cluster
        // default.
        DedupGroups.sizes(graft.util.Confs.withMicroBatch(s) {
          inc.processState(st.where(col("doc_id") % 2 === 0), 0L)
          inc.processState(st.where(col("doc_id") % 2 === 1), 1L)
          inc.groups(s)
        })
      },
      Some(LlmText.dedupGroupsOracleSqlOver(""))),

    QueryDef("q66f_statestore_neardup",
      // q66's band index on a REAL state store (the q119f doctrine on
      // the FLAGSHIP near-dup state): the (band, key) → members index
      // lives in RocksDB via flatMapGroupsWithState, and candidate
      // pairs are emitted by the state function with point access per
      // touched bucket — no committed-index scan, no semi-join
      // restriction, per-batch work exactly the batch's band rows. The
      // same two parity-waves as q66; the emitted candidates (distinct
      // across bands/waves) are exact-verified against the lake-resident
      // shingle state and the components held to the SAME batch q57
      // oracle. Hot-cap semantics mirror IncrementalNearDup (combined
      // membership per batch); DELETE retraction is the sibling entry
      // q66g (see the class doc). State shape measured in
      // StateStoreNearDupSpec: rows = distinct touched buckets, a few
      // longs per member — the shingle sets never enter the store.
      (s, d) => {
        val st = LlmText.bigramStateCached(s, d)
        // micro-batch waves + fixture-scale fold/verify/CC tail sized to
        // MicroBatchPartitions (the q66 doctrine — see Confs.withMicroBatch)
        graft.util.Confs.withMicroBatch(s) {
        val (cands, _) = StateStoreNearDup.runWaves(s, Seq(
          StateStoreNearDup.flatBands(st.where(col("doc_id") % 2 === 0)),
          StateStoreNearDup.flatBands(st.where(col("doc_id") % 2 === 1))))
        // the CONTINUOUS serving fold (no recovery): drop-wholesale by
        // final bucket size — insert-only, so this equals the capped
        // oracle chain at EVERY scale (poison <=> final size > cap);
        // the recovery/maintenance semantics are q66l's entry
        val verified = LlmText.verifyPairs(
          StateStoreNearDup.foldCandEvents(cands, recoverBudget = 0),
          st.select(col("doc_id"), col("hs"), col("nbg")))
        DedupGroups.sizes(DedupGroups.components(verified))
        }
      },
      Some(LlmText.dedupGroupsOracleSqlOver(""))),

    QueryDef("q66b_incremental_dedup_retract",
      // q66 with CDC DELETE retraction (VERDICT r9 item 4 — the qc6
      // tombstone doctrine on the NEAR-DUP state): both insert waves,
      // then docs with doc_id % 7 == 0 retracted. A tombstoned doc's
      // edges vanish from the pair relation on BOTH sides, so the
      // connected components re-form exactly as the batch pipeline
      // over the SURVIVING docs computes them — a deleted group
      // representative's group re-elects its min surviving member, a
      // deleted bridge doc splits its component. The oracle is q66's
      // recursive-CTE component run with the whole
      // shingle→minhash→band→verify chain restricted to the survivors
      // (no retraction machinery anywhere in it): it matches only if
      // retraction is semantically a re-run over the survivors, not a
      // row filter of the old output. IncrementalNearDupSpec drills
      // interleaved delete waves, rep re-election, component splits,
      // tombstone-wins re-inserts, and physical compaction.
      (s, d) => {
        val statePath = graft.util.Scratch.dir("q66b-incremental")
        val inc = new IncrementalNearDup(statePath)
        val st = LlmText.bigramStateCached(s, d)
        // same micro-batch partition sizing as q66 (see its comment)
        DedupGroups.sizes(graft.util.Confs.withMicroBatch(s) {
          inc.processState(st.where(col("doc_id") % 2 === 0), 0L)
          inc.processState(st.where(col("doc_id") % 2 === 1), 1L)
          inc.retractBatch(
            st.where(col("doc_id") % 7 === 0).select(col("doc_id")), 2L)
          inc.groups(s)
        })
      },
      Some(LlmText.dedupGroupsOracleSqlOver("doc_id % 7 <> 0"))),

    QueryDef("q66g_statestore_neardup_retract",
      // DELETE retraction ON the near-dup state store (the q119g
      // doctrine on the q66f bucket index — closes the capability gap
      // q66f's r11 doc deliberately left with the parquet twins): the
      // bucket state grows to members + tombstoned docs, a DELETE's
      // band keys are recomputed from the deleted row's text so the
      // tombstone op lands on exactly the doc's 8 buckets with point
      // access — and because every pair was discovered in a bucket both
      // docs share, those buckets cover every pair the doc appears in.
      // Unlike q119g, NO event versioning: pair events and tombstones
      // are both monotone sets (re-insertion is a new doc_id), so the
      // consumer fold is order-free — distinct pairs minus pairs
      // touching a tombstoned doc. Waves: even inserts, odd inserts,
      // then DELETEs of doc_id % 7 == 0; verified pairs over the
      // survivors' shingle sets, components re-form (rep re-election,
      // splits) exactly as batch q57 over the SURVIVORS — the same
      // oracle as q66b, no retraction machinery anywhere in it.
      (s, d) => {
        val st = LlmText.bigramStateCached(s, d)
        def wave(op: String, pred: org.apache.spark.sql.Column) =
          StateStoreNearDup.flatBands(st.where(pred))
            .withColumn("op", lit(op))
        graft.util.Confs.withMicroBatch(s) {
        val (events, _) = StateStoreNearDup.runOpWaves(s, Seq(
          wave("insert", col("doc_id") % 2 === 0),
          wave("insert", col("doc_id") % 2 === 1),
          wave("delete", col("doc_id") % 7 === 0)))
        val verified = LlmText.verifyPairs(
          StateStoreNearDup.foldOpEvents(events),
          st.where(col("doc_id") % 7 =!= 0)
            .select(col("doc_id"), col("hs"), col("nbg")))
        DedupGroups.sizes(DedupGroups.components(verified))
        }
      },
      Some(LlmText.dedupGroupsOracleSqlOverBr("doc_id % 7 <> 0", 8, 2,
        maxBucket = Int.MaxValue))),

    QueryDef("q66h_reband_migration",
      // ONLINE INDEX MIGRATION — the "corpus outgrew the index"
      // operation on the incremental near-dup state (the MinHash-side
      // sibling of the corpus-linked hyperplane code width): wave 1
      // ingests at the (8, 2) design (threshold ≈ 0.35), the state is
      // then re-banded IN PLACE to the higher-precision (4, 4) design
      // (threshold ≈ 0.71) WITHOUT touching the corpus — bands/ is
      // rebuilt from the signatures sets/ retains, pairs/ is
      // restricted to what (4, 4) co-buckets (a (4, 4) band match is
      // two aligned (8, 2) matches, so the target candidate set is a
      // subset and the filter is exact) — and wave 2 ingests through a
      // consumer constructed at (4, 4). The oracle is the FULL batch
      // chain at (4, 4) over the whole corpus with no migration
      // machinery in it: it matches only if migrate-then-continue is
      // semantically identical to having indexed at (4, 4) from the
      // start. RebandMigrationSpec drills key-byte parity with
      // bandKeys, the migration being load-bearing (a mid-jaccard
      // (8, 2)-only pair must vanish), idempotence, and sidecar heal.
      (s, d) => {
        val statePath = graft.util.Scratch.dir("q66h-reband")
        val st = LlmText.bigramStateCached(s, d)
        graft.util.Confs.withMicroBatch(s) {
        val inc82 = new IncrementalNearDup(statePath)
        inc82.processState(st.where(col("doc_id") % 2 === 0), 0L)
        IncrementalNearDup.rebandMigrate(s, statePath, 4, 4)
        val inc44 = new IncrementalNearDup(statePath, nBands = 4, bandR = 4)
        inc44.processState(st.where(col("doc_id") % 2 === 1), 1L)
        DedupGroups.sizes(inc44.groups(s))
        }
      },
      Some(LlmText.dedupGroupsOracleSqlOverBr("", 4, 4))),

    QueryDef("q66i_widen_migration",
      // SIGNATURE-WIDENING MIGRATION — the direction q66h cannot go:
      // re-banding regroups the existing 16 components and can only
      // trade recall for precision within them; a corpus that needs a
      // high threshold AND more collision chances (the (8, 4) design:
      // threshold ≈ 0.59, twice (4, 4)'s bands) needs components
      // 17–32, which are md5 under NEW salts (e:–h:, the same
      // ('a' + i/4) generator the DuckDB oracle derives) over shingle
      // strings no state table retains. The migration therefore pays
      // exactly ONE map-only corpus pass computing ONLY the new half
      // (MinHashSig firstHash = 16 — the stored 16 are never
      // re-hashed), then everything else from state: sets/ extended by
      // an equi-join, bands/ rebuilt at (8, 4) through the production
      // bandKeys, and pairs/ by REGENERATING candidates at the target
      // design (the capped bucket stage) — stored verifies reused
      // (verify is a pure function of the stored shingle sets), only
      // never-before-co-bucketed pairs pay the verify join. Because
      // candidates are regenerated rather than subset-filtered,
      // fresh-run parity holds even where q66h's under-the-hot-cap
      // disclosure applies. Wave 1 ingests at (8, 2), the state is
      // widened, wave 2 ingests through a consumer constructed at
      // (8, 4). Oracle: the FULL batch chain at (8, 4) over 32
      // components, no migration machinery in it — it matches only if
      // widen-then-continue is semantically indexing at (8, 4) from
      // the start. On the DRIVER fixture the (8, 4) groups happen to
      // coincide with q66's (8, 2) groups (its near-dup families are
      // high-jaccard, caught by both designs — verified identical at
      // sf0.01 and sf0.1), so the design-sensitivity proof lives in
      // WidenMigrationSpec's mid-jaccard corpus (~0.47 pairs, where
      // the designs provably disagree) alongside fresh-run
      // equivalence, new-salt byte parity, suppressed-pair
      // regeneration, and idempotence.
      (s, d) => {
        val statePath = graft.util.Scratch.dir("q66i-widen")
        val st = LlmText.bigramStateCached(s, d)
        graft.util.Confs.withMicroBatch(s) {
        val inc82 = new IncrementalNearDup(statePath)
        inc82.processState(st.where(col("doc_id") % 2 === 0), 0L)
        IncrementalNearDup.widenMigrate(s, statePath, docs(s, d), 8, 4)
        val inc84 = new IncrementalNearDup(statePath, nBands = 8, bandR = 4)
        inc84.processBatch(docs(s, d).where(col("doc_id") % 2 === 1), 1L)
        DedupGroups.sizes(inc84.groups(s))
        }
      },
      Some(LlmText.dedupGroupsOracleSqlOverBr("", 8, 4))),

    QueryDef("q66j_statestore_neardup_hp",
      // The q66h TARGET design on the RocksDB state store (VERDICT r11
      // item 1 — the banding is now a PARAMETER of the store plumbing):
      // the state key is (band, xxhash64-bucket), so the same
      // flatMapGroupsWithState function that runs (8, 2) runs the
      // high-precision (4, 4) design with no key-shape change — only
      // the flatBands/rowBandBuckets parameter moves. A 64-bit bucket
      // collision merges two buckets; the exact verify downstream kills
      // any spurious pair, so results are unchanged (the documented
      // store-key tradeoff). Same parity waves as q66f; oracle = the
      // FULL batch chain at (4, 4) — the same oracle the parquet twin's
      // q66h migration is held to, certifying that the store path and
      // the migrated parquet path implement one design.
      (s, d) => {
        val st = LlmText.bigramStateCached(s, d)
        graft.util.Confs.withMicroBatch(s) {
        val (cands, _) = StateStoreNearDup.runWaves(s, Seq(
          StateStoreNearDup.flatBands(st.where(col("doc_id") % 2 === 0), 4, 4),
          StateStoreNearDup.flatBands(st.where(col("doc_id") % 2 === 1), 4, 4)))
        // continuous fold, no recovery — see q66f (scale-exact vs the
        // capped oracle for insert-only streams)
        val verified = LlmText.verifyPairs(
          StateStoreNearDup.foldCandEvents(cands, recoverBudget = 0),
          st.select(col("doc_id"), col("hs"), col("nbg")))
        DedupGroups.sizes(DedupGroups.components(verified))
        }
      },
      Some(LlmText.dedupGroupsOracleSqlOverBr("", 4, 4))),

    QueryDef("q66k_statestore_neardup_wide_retract",
      // The q66i TARGET design on the RocksDB state store, with DELETE
      // retraction: 32-component signatures banded (8, 4) through the
      // SAME claimant state function as q66g — the widened design is
      // just a parameter here too, because the bucket id hashes however
      // many components the band carries. Waves: even inserts, odd
      // inserts, then DELETEs of doc_id % 7 == 0 reaching back into
      // both insert waves; the op fold and the exact verify run over
      // the survivors' 32-wide state. Oracle = the full batch chain at
      // (8, 4) over 32 components restricted to the survivors — q66i's
      // oracle family, no store/retraction machinery anywhere in it.
      // Note the store CANNOT migrate (8, 2) state to this design in
      // place (bucket ids are opaque hashes): standing up a widened
      // store is a REBUILD through a fresh checkpoint, which is exactly
      // what the qc14 wire composition drills from the CDC replica.
      (s, d) => {
        val st = LlmText.nearDupState(docs(s, d), nHashes = 32)
          .localCheckpoint(true)
        def wave(op: String, pred: org.apache.spark.sql.Column) =
          StateStoreNearDup.flatBands(st.where(pred), 8, 4)
            .withColumn("op", lit(op))
        graft.util.Confs.withMicroBatch(s) {
        val (events, _) = StateStoreNearDup.runOpWaves(s, Seq(
          wave("insert", col("doc_id") % 2 === 0),
          wave("insert", col("doc_id") % 2 === 1),
          wave("delete", col("doc_id") % 7 === 0)))
        val verified = LlmText.verifyPairs(
          StateStoreNearDup.foldOpEvents(events),
          st.where(col("doc_id") % 7 =!= 0)
            .select(col("doc_id"), col("hs"), col("nbg")))
        DedupGroups.sizes(DedupGroups.components(verified))
        }
      },
      Some(LlmText.dedupGroupsOracleSqlOverBr("doc_id % 7 <> 0", 8, 4,
        maxBucket = Int.MaxValue))),

    QueryDef("q66l_statestore_neardup_hotcap_recovery",
      // HOT-BUCKET EXACTNESS on the state store (VERDICT r12 item 1 —
      // the one documented exactness hole at production scale, closed):
      // the same q66f waves run with the hot cap forced down to 3, so
      // REAL fixture buckets cross it MID-STREAM. Crossing POISONS the
      // bucket — one poison event, the membership moves to the ledger
      // (member events in the sink), and the bucket's stored state is a
      // constant marker from then on (a boilerplate-hot bucket no
      // longer grows state without bound). The maintenance fold
      // (foldCandEvents with recovery) re-derives every suppressed pair
      // from the ledger, so the result equals the UNCAPPED batch chain
      // — and the oracle is that chain explicitly (maxBucket =
      // Int.MaxValue), exact at EVERY scale, not just where fixture
      // buckets stay under 500 (the r13 review's fold/oracle alignment:
      // recovery entries get the uncapped oracle, continuous-fold
      // entries get recoverBudget = 0 against the capped one).
      // The entry is load-bearing by construction: with the
      // r12 semantics (stop emitting, keep accruing) the mid-stream
      // poisonings would permanently drop the suppressed pairs and the
      // hash would fail. StateStoreNearDupSpec drills the same
      // lifecycle synthetically (edge-triggered poison, O(1) poisoned
      // state, restart across the poisoning, both fold modes), and
      // ScaleProbe measures poisoning + recovery parity on the
      // adversarial 10-identical-copies corpus at the REAL cap.
      (s, d) => {
        val st = LlmText.bigramStateCached(s, d)
        graft.util.Confs.withMicroBatch(s) {
        val (ev, _) = StateStoreNearDup.runWaves(s, Seq(
          StateStoreNearDup.flatBands(st.where(col("doc_id") % 2 === 0)),
          StateStoreNearDup.flatBands(st.where(col("doc_id") % 2 === 1))),
          cap = 3)
        require(ev.where(col("kind") === StateStoreNearDup.KindPoison)
          .count() > 0, "q66l drill is vacuous: no bucket crossed the cap")
        val verified = LlmText.verifyPairs(
          StateStoreNearDup.foldCandEvents(ev),
          st.select(col("doc_id"), col("hs"), col("nbg")))
        DedupGroups.sizes(DedupGroups.components(verified))
        }
      },
      Some(LlmText.dedupGroupsOracleSqlOverBr("", 8, 2,
        maxBucket = Int.MaxValue))),

    QueryDef("q66m_incremental_hotcap_recovery",
      // HOT-BUCKET EXACTNESS on the PARQUET twin (VERDICT r13 item 1 —
      // the q66l doctrine ported to the state the qc12/qc13
      // maintenance-window migrations actually run on; before this,
      // IncrementalNearDup documented drop-wholesale cap semantics
      // with suppressed pairs unrecoverable forever): the q66 parity
      // waves with the cap forced to 3 so REAL fixture buckets cross
      // it mid-stream. A poisonSweep between the waves moves the
      // wave-0-hot buckets' membership into the append-only ledger,
      // marks them sticky-poisoned, and drops their index rows (an
      // over-cap bucket holds ZERO bands/ state after the sweep);
      // wave-1 arrivals into those buckets divert to the ledger (no
      // index growth, no pairing); buckets that go hot only in wave 1
      // are deliberately left UNSWEPT — recovery must pick their
      // membership up from bands/ itself, so the entry exercises both
      // recovery sources (ledger for swept, index for unswept). The
      // maintenance fold (groupsWithRecovery) then restores every
      // suppressed pair, and the oracle is the UNCAPPED batch chain
      // explicitly (maxBucket = Int.MaxValue) — with the old
      // semantics the mid-stream suppressions would fail the hash.
      // IncrementalNearDupSpec drills the lifecycle synthetically
      // (sweep idempotence, divert routing, bounded over-cap state,
      // retraction through the ledger, migration reset).
      (s, d) => {
        val statePath = graft.util.Scratch.dir("q66m-incremental")
        val inc = new IncrementalNearDup(statePath, hotBucketCap = 3)
        val st = LlmText.bigramStateCached(s, d)
        graft.util.Confs.withMicroBatch(s) {
        inc.processState(st.where(col("doc_id") % 2 === 0), 0L)
        require(inc.poisonSweep(s) > 0,
          "q66m drill is vacuous: no bucket crossed the cap in wave 0")
        inc.processState(st.where(col("doc_id") % 2 === 1), 1L)
        DedupGroups.sizes(inc.groupsWithRecovery(s))
        }
      },
      Some(LlmText.dedupGroupsOracleSqlOverBr("", 8, 2,
        maxBucket = Int.MaxValue))),

    QueryDef("q63_tfidf_top_terms",
      // Per-document top-3 TF-IDF terms (keyword extraction). The IDF is
      // the rational N/df — no transcendental log, so Spark and DuckDB
      // compute bit-identical doubles and the ranking is deterministic
      // (scores are floor-rounded to 4dp before ranking, token breaks
      // ties). All stages are hash aggs + one broadcast of the 1-row
      // corpus count; per-doc ranking is a doc-partitioned window.
      (s, d) => {
        val tok = docs(s, d).select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
        // n_tok = Σ c re-aggregated from tf — same number as counting the
        // raw explode, but the shuffle input is per-doc DISTINCT terms
        // (tf is already doc_id-partitioned → no second full-token
        // shuffle, and the re-agg reuses tf's exchange)
        val ntok = tf.groupBy(col("doc_id")).agg(sum(col("c")).as("n_tok"))
        val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
        val scored = tf.join(ntok, Seq("doc_id")).join(dfc, Seq("term"))
          .crossJoin(broadcast(n))
          .withColumn("tfidf", expr(
            "floor(CAST(c AS DOUBLE) * n_docs / n_tok / df * 10000 + 0.5) / 10000"))
        val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
        scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
          .select(col("doc_id"), col("term"), col("tfidf"), col("rank"))
          .orderBy(col("doc_id"), col("rank"))
      },
      Some("WITH tok AS (SELECT doc_id, UNNEST(string_split(text,' ')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY 1, 2), " +
        "ntok AS (SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY 1), " +
        "dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT COUNT(*) AS n_docs FROM documents), " +
        "scored AS (SELECT tf.doc_id, tf.term, " +
        "FLOOR(CAST(c AS DOUBLE) * n_docs / n_tok / df * 10000 + 0.5) / 10000 AS tfidf " +
        "FROM tf JOIN ntok USING (doc_id) JOIN dfc USING (term) CROSS JOIN n) " +
        "SELECT doc_id, term, tfidf, rank FROM (SELECT doc_id, term, tfidf, " +
        "ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank FROM scored) " +
        "WHERE rank <= 3 ORDER BY doc_id, rank")),

    QueryDef("q64_contamination",
      // Benchmark-decontamination check: how many held-out (test-split)
      // docs share at least one 8-gram with any training-split doc —
      // run before training on any corpus that might leak eval data.
      // Shape: distinct train 8-grams (hash agg) LEFT SEMI JOIN from the
      // test side on the shingle — an inverted-index equi-join, linear
      // in shingle volume; no pairwise document comparison anywhere.
      (s, d) => {
        val sh8 = LlmText.shingles(s, d, 8)
          .withColumn("b", bucket("split:", col("doc_id")))
        val trainSh = sh8.where(col("b") < 80).select(col("sh")).distinct()
        val contaminated = sh8.where(col("b") >= 90)
          .join(trainSh, Seq("sh"), "left_semi")
          .select(col("doc_id")).distinct()
          .agg(count(lit(1)).as("n_contaminated"))
        val nTest = docs(s, d).where(bucket("split:", col("doc_id")) >= 90)
          .agg(count(lit(1)).as("n_test"))
        nTest.crossJoin(contaminated)
      },
      Some("WITH " + LlmText.shinglesSql(8) + ", " +
        s"sb AS (SELECT doc_id, sh, ${bucketSql("split:", "doc_id")} AS b FROM sh), " +
        "train AS (SELECT DISTINCT sh FROM sb WHERE b < 80), " +
        "cont AS (SELECT COUNT(DISTINCT s.doc_id) AS n_contaminated FROM sb s " +
        "JOIN train t ON t.sh = s.sh WHERE s.b >= 90), " +
        "tst AS (SELECT COUNT(*) AS n_test FROM documents WHERE " +
        s"${bucketSql("split:", "doc_id")} >= 90) " +
        "SELECT tst.n_test, cont.n_contaminated FROM tst CROSS JOIN cont")),

    QueryDef("q64b_contamination_fraction",
      // FRACTIONAL decontamination (the WMT/GPT-3-appendix refinement
      // over q64's binary any-overlap): per held-out doc, WHAT SHARE of
      // its distinct 8-grams appears anywhere in the training split —
      // the triage artifact that separates a quoted sentence (a few %)
      // from a verbatim leak (approaching 100%), which a binary flag
      // collapses. Top-20 by (share desc, doc_id) — a deterministic
      // total order. The share is the exact integer rational
      // (10000·n_hit) div n_grams: no FP anywhere. Scale shape = q64's
      // plus two doc-keyed hash aggs: distinct train grams (hash agg)
      // LEFT SEMI probed from the test side (inverted-index equi-join,
      // linear in shingle volume), never a doc×doc comparison; the
      // per-doc totals ride the same scan.
      (s, d) => {
        val sh8 = LlmText.shingles(s, d, 8)
          .withColumn("b", bucket("split:", col("doc_id")))
        val trainSh = sh8.where(col("b") < 80).select(col("sh")).distinct()
        val test = sh8.where(col("b") >= 90)
        val hits = test.join(trainSh, Seq("sh"), "left_semi")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
        test.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
          .join(hits, Seq("doc_id"), "left")
          .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
          .withColumn("frac_e4", expr("(10000 * n_hit) div n_grams"))
          .orderBy(col("frac_e4").desc, col("doc_id")).limit(20)
      },
      Some("WITH " + LlmText.shinglesSql(8) + ", " +
        s"sb AS (SELECT doc_id, sh, ${bucketSql("split:", "doc_id")} AS b FROM sh), " +
        "train AS (SELECT DISTINCT sh FROM sb WHERE b < 80), " +
        "tst AS (SELECT doc_id, COUNT(*) AS n_grams FROM sb WHERE b >= 90 GROUP BY doc_id), " +
        "hits AS (SELECT s.doc_id, COUNT(*) AS n_hit FROM sb s " +
        "JOIN train t ON t.sh = s.sh WHERE s.b >= 90 GROUP BY s.doc_id) " +
        "SELECT doc_id, n_grams, n_hit, frac_e4 FROM (" +
        "SELECT tst.doc_id, tst.n_grams, COALESCE(h.n_hit, 0) AS n_hit, " +
        "CAST((10000 * COALESCE(h.n_hit, 0)) // tst.n_grams AS BIGINT) AS frac_e4 " +
        "FROM tst LEFT JOIN hits h ON h.doc_id = tst.doc_id) " +
        "ORDER BY frac_e4 DESC, doc_id LIMIT 20")),

    QueryDef("q64c_fuzzy_contamination",
      // FUZZY decontamination (the Llama/GPT-corpus practice layered
      // over q64/q64b's exact n-gram forms): a held-out doc is
      // contaminated if it is a NEAR-DUPLICATE of any training doc —
      // verbatim-with-edits leaks that exact 8-gram matching can miss
      // once whitespace or a few tokens change. Reuses the ONE cached
      // verified pair relation (bandedNearDupPairs — the same
      // lossless-filter doctrine as q130: the 0.5 bar sits above the
      // 8×2 banding design floor 0.35, so this is a filter, never a
      // re-band) restricted to pairs crossing the train/test split
      // boundary, with each contaminated test doc attributed to its
      // WORST train partner (jaccard desc, ties to the smaller train
      // id — a total order). Zero new shuffles over the corpus: the
      // pair relation is fixture-cached and the split assignment is
      // the pure per-row md5 bucket q58/q64 already use.
      (s, d) => {
        val pairs = LlmText.bandedNearDupPairs(s, d)
          .where(col("jaccard") >= 0.5)
        val marked = pairs
          .withColumn("ba", bucket("split:", col("doc_a")))
          .withColumn("bb", bucket("split:", col("doc_b")))
        val oriented = marked
          .where(col("ba") < 80 && col("bb") >= 90)
          .select(col("doc_a").as("tr"), col("doc_b").as("te"), col("jaccard"))
          .unionByName(marked
            .where(col("bb") < 80 && col("ba") >= 90)
            .select(col("doc_b").as("tr"), col("doc_a").as("te"), col("jaccard")))
        oriented.groupBy(col("te").as("test_doc"))
          .agg(min(struct((lit(0.0) - col("jaccard")).as("nj"), col("tr"))).as("b"))
          .select(col("test_doc"), col("b.tr").as("train_doc"),
            (lit(0.0) - col("b.nj")).as("jaccard"))
          .orderBy(col("test_doc"))
      },
      Some("WITH " + LlmText.BandedPairsSqlCtes + ", " +
        "marked AS (SELECT doc_a, doc_b, jaccard, " +
        s"${bucketSql("split:", "doc_a")} AS ba, " +
        s"${bucketSql("split:", "doc_b")} AS bb " +
        "FROM pairs WHERE jaccard >= 0.5), " +
        "ori AS (SELECT doc_a AS tr, doc_b AS te, jaccard FROM marked " +
        "WHERE ba < 80 AND bb >= 90 " +
        "UNION ALL SELECT doc_b, doc_a, jaccard FROM marked " +
        "WHERE bb < 80 AND ba >= 90) " +
        "SELECT test_doc, train_doc, jaccard FROM (" +
        "SELECT te AS test_doc, tr AS train_doc, jaccard, " +
        "ROW_NUMBER() OVER (PARTITION BY te ORDER BY jaccard DESC, tr) AS rn FROM ori) " +
        "WHERE rn = 1 ORDER BY test_doc")),

    QueryDef("q134_curriculum_phases",
      // CURRICULUM data ordering (Bengio et al. 2009, in data-pipeline
      // form — the easy→hard schedule a staged pretraining run
      // consumes): band every doc into a curriculum phase by its mean
      // unigram-LM surprisal (q69's per-doc stage reused verbatim —
      // low surprisal = common-token, "easy" text; high = rare-token,
      // "hard" tail) and emit the per-(phase, source) manifest — docs,
      // tokens, exact mean — that a trainer reads phase by phase (the
      // physical per-phase ordering/write is q123's shard writer).
      // Bands are FIXED integer thresholds (3.4/3.41 nats as e4
      // integers, calibrated ONCE to this corpus era's surprisal
      // distribution — the q107 fixed-bin doctrine: data-DERIVED
      // quantile boundaries drift with the very corpus being scheduled
      // and need a global sort/quantile pass; calibrated constants are
      // a map-only assignment and a (phases×sources)-bounded hash agg
      // at ANY corpus size, re-calibrated only when the corpus era
      // changes, like q107's bins). The per-doc mean is the exact
      // integer rational ssum div n_tok — no FP anywhere past q69's
      // once-quantized ln.
      (s, d) => {
        val perDoc = lmSurprisalPerDoc(docs(s, d))
          .withColumn("mean_e4", expr("ssum div n_tok"))
          .withColumn("phase",
            when(col("mean_e4") < 34000L, "1_easy")
              .when(col("mean_e4") < 34100L, "2_medium")
              .otherwise("3_hard"))
        perDoc.groupBy(col("phase"), col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("sum_tokens"),
            expr("CAST(floor(CAST(SUM(ssum) AS DOUBLE) / SUM(n_tok) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
              .as("avg_surprisal_e4"))
          .orderBy(col("phase"), col("source"))
      },
      Some("WITH tok AS (SELECT doc_id, source, UNNEST(string_split(text,' ')) AS tok FROM documents), " +
        "tot AS (SELECT COUNT(*) AS t_total FROM tok), " +
        "lm AS (SELECT tok, CAST(floor(ln(CAST(t_total AS DOUBLE) / COUNT(*)) * 10000 " +
        "+ CAST(0.5 AS DOUBLE)) AS BIGINT) AS s_mu FROM tok CROSS JOIN tot GROUP BY tok, t_total), " +
        "perdoc AS (SELECT doc_id, source, SUM(s_mu) AS ssum, COUNT(*) AS n_tok " +
        "FROM tok JOIN lm USING (tok) GROUP BY 1, 2), " +
        "ph AS (SELECT source, ssum, n_tok, " +
        "CASE WHEN CAST(ssum // n_tok AS BIGINT) < 34000 THEN '1_easy' " +
        "WHEN CAST(ssum // n_tok AS BIGINT) < 34100 THEN '2_medium' " +
        "ELSE '3_hard' END AS phase FROM perdoc) " +
        "SELECT phase, source, COUNT(*) AS n_docs, " +
        "CAST(SUM(n_tok) AS BIGINT) AS sum_tokens, " +
        "CAST(floor(CAST(SUM(ssum) AS DOUBLE) / SUM(n_tok) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS avg_surprisal_e4 " +
        "FROM ph GROUP BY phase, source ORDER BY phase, source")),

    QueryDef("q65_repetition",
      // Gopher-style repetition filter signal: per doc, the share of
      // bigram occurrences taken by its single most repeated bigram;
      // docs above 10% get flagged. Pure per-doc hash aggs over the
      // shingle stream — linear, no joins between documents.
      (s, d) => {
        val counts = LlmText.shinglesRaw(s, d, 2)
          .groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("c"))
        val perDoc = counts.groupBy(col("doc_id"))
          .agg(max(col("c")).as("max_c"), sum(col("c")).as("tot"))
          .withColumn("ratio", col("max_c").cast("double") / col("tot"))
        perDoc.join(docs(s, d), Seq("doc_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("ratio") > 0.1, 1L).otherwise(0L)).cast("long").as("n_flagged"),
            round(avg(col("ratio")), 4).as("avg_rep"))
          .orderBy(col("source"))
      },
      Some("WITH " + LlmText.shinglesSql(2) + ", " +
        "counts AS (SELECT doc_id, sh, COUNT(*) AS c FROM shraw GROUP BY 1, 2), " +
        "perdoc AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS ratio FROM counts GROUP BY doc_id) " +
        "SELECT d.source, COUNT(*) AS n_docs, " +
        "CAST(SUM(CASE WHEN ratio > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged, " +
        "ROUND(AVG(ratio), 4) AS avg_rep " +
        "FROM perdoc p JOIN documents d USING (doc_id) GROUP BY d.source ORDER BY d.source")),

    QueryDef("q74_sequence_packing",
      // Training-sequence packing (concatenate-then-chunk): docs are
      // concatenated in doc_id order and cut at fixed S = 512-token
      // boundaries — the standard GPT-style packing that wastes no
      // tokens on padding. Packing is done INDEPENDENTLY per output
      // shard (q72's salted-md5 assignment): the running-total window
      // partitions by shard, so at 100 TB each shard's cumsum is a
      // separate window partition and packing scales out with shards
      // exactly like the shard writer it feeds (no global sort, no
      // global cumsum). All integer arithmetic — fully portable.
      // Output: one row per (shard, pack) with the docs that START in
      // the pack and how many straddle into the next one (a doc spans
      // floor(before/S)..floor((before+n_tok-1)/S)).
      (s, d) => {
        val S = 512
        val nShards = 8
        val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        docs(s, d)
          .select(col("doc_id"),
            conv(substring(md5(concat(lit("pack:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
              .cast("long").%(nShards).as("shard"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
          .withColumn("before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
          .withColumn("pack", expr(s"before div $S"))
          .withColumn("straddles",
            (expr(s"(before + n_tok - 1) div $S") > col("pack")).cast("long"))
          .groupBy(col("shard"), col("pack"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).cast("long").as("sum_tokens"),
            sum(col("straddles")).cast("long").as("n_straddle"))
          .orderBy(col("shard"), col("pack"))
      },
      Some("WITH t AS (SELECT doc_id, " +
        "CAST(('0x' || substring(md5('pack:' || CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 8 AS shard, " +
        "CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok FROM documents), " +
        "c AS (SELECT doc_id, shard, n_tok, COALESCE(SUM(n_tok) OVER " +
        "(PARTITION BY shard ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before FROM t), " +
        "p AS (SELECT shard, CAST(before // 512 AS BIGINT) AS pack, n_tok, " +
        "CASE WHEN (before + n_tok - 1) // 512 > before // 512 THEN 1 ELSE 0 END AS straddles FROM c) " +
        "SELECT shard, pack, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS sum_tokens, " +
        "CAST(SUM(straddles) AS BIGINT) AS n_straddle " +
        "FROM p GROUP BY shard, pack ORDER BY shard, pack")),

    QueryDef("q131_packing_length_sweep",
      // The CONTEXT-LENGTH ablation for q74's packer (q129/q130's
      // sibling for the physical-output layer): what does S buy?
      // One oracle-hashed row per context length S ∈ {128, 512, 2048}
      // over the SAME per-shard token cumsum — n_packs (compute
      // units), n_straddle (docs cut across a pack boundary — the
      // attention-mask quality cost), and tail_waste (tokens of
      // padding in each shard's final partial pack — the only waste
      // concat-split packing has). The boundary sets NEST (2048 =
      // 4·512 = 16·128), so n_packs and n_straddle are provably
      // non-increasing in S and tail_waste non-decreasing — the spec
      // pins all three. ONE window pass computes the S-independent
      // cumsum; each leg is then a per-shard agg + a 1-row fold, and
      // the report is a 3-row union — all DataFrame-side, no driver
      // assembly. All integer arithmetic — fully portable.
      (s, d) => {
        val nShards = 8
        val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val base = docs(s, d)
          .select(col("doc_id"),
            conv(substring(md5(concat(lit("pack:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
              .cast("long").%(nShards).as("shard"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
          .withColumn("before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
          .localCheckpoint(true) // three S-legs share the one cumsum
        // cost-model emissions (VERDICT r9 item 7): sum_tokens is the
        // corpus token volume every leg scans (the shared cumsum
        // relation — the cluster-sizing scan input), util_e6 the
        // packed-slot utilization sum_tokens/(S·n_packs) in integer
        // millionths — the efficiency number "what does S buy" is
        // actually about. Both exact integers, mirrored in the oracle.
        Seq(128, 512, 2048).map { sl =>
          base
            .withColumn("straddle",
              (expr(s"(before + n_tok - 1) div $sl") > expr(s"before div $sl")).cast("long"))
            .groupBy(col("shard"))
            .agg(sum(col("n_tok")).as("tok"), sum(col("straddle")).as("st"))
            .agg(
              sum(expr(s"(tok + $sl - 1) div $sl")).cast("long").as("n_packs"),
              sum(col("st")).cast("long").as("n_straddle"),
              sum(expr(s"$sl * ((tok + $sl - 1) div $sl) - tok")).cast("long").as("tail_waste"),
              sum(col("tok")).cast("long").as("sum_tokens"))
            .select(lit(sl.toLong).as("context_len"), col("n_packs"),
              col("n_straddle"), col("tail_waste"), col("sum_tokens"),
              expr(s"(1000000 * sum_tokens) div ($sl * n_packs)").as("util_e6"))
        }.reduce(_ unionByName _).orderBy(col("context_len"))
      },
      Some {
        def leg(sl: Int): String =
          s"leg$sl AS (SELECT CAST($sl AS BIGINT) AS context_len, " +
            s"CAST(SUM(CAST((tok + $sl - 1) // $sl AS BIGINT)) AS BIGINT) AS n_packs, " +
            "CAST(SUM(st) AS BIGINT) AS n_straddle, " +
            s"CAST(SUM($sl * CAST((tok + $sl - 1) // $sl AS BIGINT) - tok) AS BIGINT) AS tail_waste, " +
            "CAST(SUM(tok) AS BIGINT) AS sum_tokens, " +
            s"CAST((1000000 * SUM(tok)) // ($sl * SUM(CAST((tok + $sl - 1) // $sl AS BIGINT))) AS BIGINT) AS util_e6 " +
            "FROM (SELECT shard, SUM(n_tok) AS tok, " +
            s"SUM(CASE WHEN (before + n_tok - 1) // $sl > before // $sl THEN 1 ELSE 0 END) AS st " +
            "FROM c GROUP BY shard))"
        "WITH t AS (SELECT doc_id, " +
          "CAST(('0x' || substring(md5('pack:' || CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 8 AS shard, " +
          "CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok FROM documents), " +
          "c AS (SELECT doc_id, shard, n_tok, COALESCE(SUM(n_tok) OVER " +
          "(PARTITION BY shard ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before FROM t), " +
          Seq(128, 512, 2048).map(leg).mkString(", ") +
          " SELECT * FROM (SELECT * FROM leg128 UNION ALL SELECT * FROM leg512 " +
          "UNION ALL SELECT * FROM leg2048) ORDER BY context_len"
      }),

    QueryDef("q79_chunk_docs",
      // RAG/context-window chunking: each doc is cut into overlapping
      // C = 64-token chunks on a 48-token stride (chunks start at
      // 0, 48, 96, ... while the start is inside the doc; the tail
      // chunk is short). The content of every chunk — not just its
      // geometry — is pinned by summing a salted-md5 bucket of the
      // joined chunk text, so a slicing off-by-one on either engine
      // breaks the hash. Per-row explode then a tiny per-source agg:
      // no shuffle until the final groupBy, and at 100 TB the explode
      // fan-out (~n_tok/48 rows per doc) stays inside the scan stage.
      (s, d) => {
        val t = docs(s, d).select(col("doc_id"), col("source"),
          split(col("text"), " ").as("toks"))
          .withColumn("n", size(col("toks")))
        t.select(col("doc_id"), col("source"), col("toks"), col("n"),
            explode(expr("sequence(0, n - 1, 48)")).as("st"))
          .withColumn("clen", least(lit(64), col("n") - col("st")).cast("long"))
          .withColumn("chunk", concat_ws(" ", slice(col("toks"), col("st") + 1, lit(64))))
          .withColumn("cb",
            conv(substring(md5(concat(lit("chunk:"), col("chunk"))), 1, 8), 16, 10)
              .cast("long") % 1000000)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_chunks"),
            countDistinct(col("doc_id")).as("n_docs"),
            sum(col("clen")).cast("long").as("sum_chunk_toks"),
            sum(col("cb")).cast("long").as("content_sum"))
          .orderBy(col("source"))
      },
      Some("WITH t AS (SELECT doc_id, source, string_split(text,' ') AS toks, " +
        "len(string_split(text,' ')) AS n FROM documents), " +
        "c AS (SELECT doc_id, source, n, toks, UNNEST(generate_series(0, n - 1, 48)) AS st FROM t), " +
        "ch AS (SELECT doc_id, source, LEAST(64, n - st) AS clen, " +
        "array_to_string(list_slice(toks, st + 1, st + 64), ' ') AS chunk FROM c) " +
        "SELECT source, COUNT(*) AS n_chunks, COUNT(DISTINCT doc_id) AS n_docs, " +
        "CAST(SUM(clen) AS BIGINT) AS sum_chunk_toks, " +
        "CAST(SUM(CAST(('0x' || substring(md5('chunk:' || chunk),1,8)) AS BIGINT) % 1000000) AS BIGINT) AS content_sum " +
        "FROM ch GROUP BY source ORDER BY source")),

    QueryDef("q81_bpe_pair_counts",
      // The counting step of BPE vocabulary induction: frequency of
      // adjacent character pairs inside whitespace words (the argmax of
      // this table IS the first BPE merge). The explode fans out to one
      // row per character, but the shuffle after it carries only the
      // distinct-pair partial counts (alphabet² keys at most) thanks to
      // map-side partial aggregation — the 100 TB shape is scan-heavy,
      // shuffle-tiny, exactly like production tokenizer training.
      // ORDER BY (cnt DESC, pair) is total, so LIMIT 20 is
      // deterministic on both engines.
      (s, d) => {
        val words = docs(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .where(length(col("w")) >= 2)
        words
          .select(explode(expr(
            "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
          .groupBy(col("pair"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("pair"))
          .limit(20)
      },
      Some("WITH w AS (SELECT UNNEST(string_split(text,' ')) AS w FROM documents), " +
        "i AS (SELECT w, UNNEST(generate_series(1, length(w) - 1)) AS i FROM w " +
        "WHERE length(w) >= 2), " +
        "p AS (SELECT substring(w, i, 2) AS pair FROM i) " +
        "SELECT pair, COUNT(*) AS cnt FROM p GROUP BY pair " +
        "ORDER BY cnt DESC, pair LIMIT 20")),

    QueryDef("q81b_bpe_merge_training",
      // see [[bpeMerges]] — the training loop, shared with q91's encoder
      // The actual BPE tokenizer-training LOOP (q81 is its first
      // counting step): 3 greedy merge rounds, each = count adjacent
      // token pairs → take the argmax (ties to the lexicographically
      // smaller pair — a total order, so the learned vocabulary is a
      // pure function of the corpus) → re-tokenize every word by
      // merging that pair left-to-right non-overlapping. Output is the
      // merge table (round, pair, merged token, count at selection
      // time) — the artifact a tokenizer trainer ships. Scale shape per
      // round (the KMeansLloyd iteration doctrine): the pair count is
      // scan + vocab²-bounded shuffle (map-side partials), the argmax
      // collects ONE row to the driver, and the re-tokenization is a
      // single MAP-ONLY native replace() with the winning pair folded
      // into the plan as a literal — no join, no shuffle, no lambda.
      // Token encoding: tokens joined AND bounded by DOUBLE spaces
      // ("  a  b  c  " — tokens never contain spaces, words come from
      // splitting on space), so the pattern " a  b " → " ab " is
      // full-token anchored (each match consumes one space of each
      // neighboring double gap; the replacement's outer spaces restore
      // them) and replace()'s left-to-right scan gives exactly BPE's
      // non-overlapping merge order ("aaa" + (a,a) → [aa, a], never
      // [aaa]). The DuckDB oracle implements the same semantics as an
      // INDEPENDENT algorithm — a list_reduce fold — so the two
      // engines agreeing checks the merge rule itself, not one shared
      // implementation.
      (s, d) => {
        import s.implicits._
        bpeMerges(s, d).toDF("round", "pair", "merged", "cnt")
          .orderBy(col("round"))
      },
      Some {
        // unrolled 3-round CTE chain (helpers at [[bpeSqlPairs]]): pN
        // counts pairs of tokenization tN, mN is the argmax, tN+1
        // re-tokenizes via a list_reduce fold over a space-joined
        // accumulator (tokens never contain spaces — words come from
        // splitting on space)
        "WITH w0 AS (SELECT UNNEST(string_split(text,' ')) AS w FROM documents), " +
          "t1 AS (SELECT string_split(w, '') AS t FROM w0 WHERE length(w) >= 2), " +
          bpeSqlPairs("t1", "p1") + bpeSqlArgmax("p1", "m1", 1) + bpeSqlMerge("t1", "m1", "t2") +
          bpeSqlPairs("t2", "p2") + bpeSqlArgmax("p2", "m2", 2) + bpeSqlMerge("t2", "m2", "t3") +
          bpeSqlPairs("t3", "p3") + bpeSqlArgmax("p3", "m3", 3) +
          "u AS (SELECT * FROM m1 UNION ALL SELECT * FROM m2 UNION ALL SELECT * FROM m3) " +
          "SELECT round, pair, replace(pair, ' ', '') AS merged, cnt FROM u ORDER BY round"
      }),

    QueryDef("q91_bpe_encode",
      // The ENCODE half of the tokenizer loop (q81b trains, q91
      // applies): every word in the corpus is re-tokenized with the
      // learned 3-merge table and the per-source compression report is
      // emitted — words, character-level token count, BPE token count,
      // tokens saved. This is the operation a training-data pipeline
      // actually runs at 100 TB scale (tokenize the whole corpus with a
      // FIXED tokenizer), and its scale shape is the whole point: the
      // merge table comes from [[bpeMerges]] (session-cached — train
      // once, encode everywhere) and folds into the plan as replace()
      // LITERALS applied in merge-priority order, so the encode is one
      // map-only scan — no join against a merge table, no shuffle of
      // the corpus, and the replace chain is exactly how fast BPE
      // encoders apply ranked merges. The only shuffle is the
      // (source, word)-frequency agg that bounds per-row work by the
      // VOCABULARY (each distinct word is encoded once per source, not
      // once per occurrence) and the final per-source fold. Unlike
      // q81b's training (len ≥ 2 words only — a 1-char word has no
      // pairs), the encode covers EVERY non-empty word: single-char
      // words pass through as single tokens, so tokens_char/tokens_bpe
      // are corpus totals.
      (s, d) => {
        val merges = bpeMerges(s, d)
        val words = docs(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
          .where(col("w") =!= "")
          .groupBy(col("source"), col("w")).agg(count(lit(1)).as("wcnt"))
        // the trained merges applied in order, each a native replace
        // with the pair as a plan literal (the q81b anchoring doctrine)
        var e: org.apache.spark.sql.Column =
          concat(lit("  "), concat_ws("  ", split(col("w"), "")), lit("  "))
        for ((_, pair, merged, _) <- merges) {
          val Array(a, b) = pair.split(" ", 2)
          e = replace(e, lit(s" $a  $b "), lit(s" $merged "))
        }
        words
          .select(col("source"), col("wcnt"), length(col("w")).as("chars"),
            (size(split(e, "  ")) - 2).as("toks"))
          .groupBy(col("source"))
          .agg(sum(col("wcnt")).as("words"),
            sum(col("chars") * col("wcnt")).as("tokens_char"),
            sum(col("toks") * col("wcnt")).as("tokens_bpe"),
            sum((col("chars") - col("toks")) * col("wcnt")).as("tokens_saved"))
          .orderBy(col("source"))
      },
      Some {
        // the q81b training chain verbatim, then the fold applied to
        // the per-(source, word) relation — the encode-side carry
        "WITH w0 AS (SELECT UNNEST(string_split(text,' ')) AS w FROM documents), " +
          "t1 AS (SELECT string_split(w, '') AS t FROM w0 WHERE length(w) >= 2), " +
          bpeSqlPairs("t1", "p1") + bpeSqlArgmax("p1", "m1", 1) + bpeSqlMerge("t1", "m1", "t2") +
          bpeSqlPairs("t2", "p2") + bpeSqlArgmax("p2", "m2", 2) + bpeSqlMerge("t2", "m2", "t3") +
          bpeSqlPairs("t3", "p3") + bpeSqlArgmax("p3", "m3", 3) +
          "wf AS (SELECT source, w, COUNT(*) AS wcnt FROM (SELECT source, " +
          "UNNEST(string_split(text,' ')) AS w FROM documents) z WHERE w <> '' GROUP BY 1, 2), " +
          "e1 AS (SELECT source, w, wcnt, string_split(w, '') AS t FROM wf), " +
          bpeSqlMerge("e1", "m1", "e2", "source, w, wcnt, ") +
          bpeSqlMerge("e2", "m2", "e3", "source, w, wcnt, ") +
          bpeSqlMerge("e3", "m3", "e4", "source, w, wcnt, ").stripSuffix(", ") +
          " SELECT source, CAST(SUM(wcnt) AS BIGINT) AS words, " +
          "CAST(SUM(length(w) * wcnt) AS BIGINT) AS tokens_char, " +
          "CAST(SUM(len(t) * wcnt) AS BIGINT) AS tokens_bpe, " +
          "CAST(SUM((length(w) - len(t)) * wcnt) AS BIGINT) AS tokens_saved " +
          "FROM e4 GROUP BY source ORDER BY source"
      }),

    QueryDef("q117_bpe_vocab_capped",
      // Batched vocab-capped BPE training — see [[bpeBatchedMerges]].
      // q81b proves the merge RULE with one driver round-trip per
      // merge; this entry proves the SCALE form of the same trainer:
      // per round, the top-[[BpeBatchTopC]] pair counts come back in
      // ONE collect, a greedy symbol-disjoint batch of up to
      // [[BpeBatchSize]] pairs is selected driver-side (disjointness
      // makes the batch order-independent ≡ serial), and ONE map-only
      // pass applies all of them — so reaching a vocab cap of K merges
      // costs O(K / B) driver round-trips, not O(K). Training stops at
      // [[BpeVocabCap]] merges, mid-round if needed (round 4's limit is
      // 14 − selected-so-far — the "merge until k" contract). Output is
      // the ranked merge table: (round, rank-in-round, pair, merged,
      // count at selection). The DuckDB oracle replays selection as an
      // INDEPENDENT list_reduce fold over the same ordered candidate
      // window (accumulator of accepted pairs, symbol-set rejection)
      // and re-tokenizes with a one-fold batch merge — two independent
      // implementations of the batching rule agreeing end-to-end.
      (s, d) => {
        import s.implicits._
        bpeBatchedMerges(s, d).toDF("round", "rank", "pair", "merged", "cnt")
          .orderBy(col("round"), col("rank"))
      },
      Some {
        bpeTrainingSqlCtes.stripSuffix(", ") +
          " SELECT round, rank, pair, merged, cnt FROM (" +
          (1 to 4).map(r => bpeBatchSqlOut(s"sel$r", s"tops$r", r))
            .mkString(" UNION ALL ") +
          ") ORDER BY round, rank"
      }),

    QueryDef("q135_bpe_encode",
      // APPLY the trained tokenizer — the pass a pipeline actually runs
      // over 100 TB once q117's training has produced the merge table:
      // encode every document and report its BPE token count (the
      // budget number packing, pricing, and curriculum all key on).
      // The scale shape is the whole point: encoding is a pure
      // function of the WORD, so the merge chain runs once per
      // DISTINCT word (vocab-bounded — the 14 merges are chained
      // `replace` plan literals in training order, one map-only pass
      // over the vocab relation), and the corpus-sized stream only
      // pays a vocab-keyed equi-join (AQE broadcasts the encoded
      // vocab at fixture scale; at a scale where the vocab outgrows
      // broadcast it becomes a shuffle join on the word — never a
      // per-occurrence re-encode). Single-char words are single
      // tokens by construction (training's length >= 2 floor).
      // Sequential per-merge replaces equal training's per-round batch
      // passes (within a round the batch is symbol-disjoint — q117's
      // own equivalence argument — and across rounds the order is
      // training order); the double-space token encoding prevents
      // prefix-token false matches. Oracle: q117's full training CTE
      // chain (shared prefix, two independent trainer replays stay
      // pinned) + per-ROUND list_reduce encode folds over the distinct
      // vocab — round-by-round, NOT one fold over all 14 merges, which
      // would let a later round's merge preempt an earlier round's on
      // fresh text (e.g. round-1 "b c" vs round-2 "a b" on "a b c").
      (s, d) => {
        val merges = bpeBatchedMerges(s, d).sortBy(m => (m._1, m._2))
        val words = docs(s, d).select(col("doc_id"),
          explode(split(col("text"), " ")).as("w"))
          .where(col("w") =!= "")
        val vocab = words.select(col("w")).distinct()
          .where(length(col("w")) >= 2)
        val e0 = concat(lit("  "), concat_ws("  ", split(col("w"), "")), lit("  "))
        val eN = merges.foldLeft(e0) { case (c, (_, _, pair, merged, _)) =>
          val Array(a, b) = pair.split(" ", 2)
          replace(c, lit(s" $a  $b "), lit(s" $merged "))
        }
        val vt = vocab.select(col("w"), (size(split(eN, "  ")) - 2).cast("long").as("ntok"))
        words.join(vt, Seq("w"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_words"),
            sum(coalesce(col("ntok"), lit(1L))).as("n_tokens"))
          .orderBy(col("doc_id"))
          .select(col("doc_id"), col("n_words"), col("n_tokens"))
      },
      Some {
        bpeTrainingSqlCtes +
          "vv0 AS (SELECT DISTINCT w FROM w0 WHERE length(w) >= 2), " +
          "ve1 AS (SELECT w, string_split(w, '') AS t FROM vv0), " +
          bpeEncodeFoldSql("ve1", "sel1", "ve2") +
          bpeEncodeFoldSql("ve2", "sel2", "ve3") +
          bpeEncodeFoldSql("ve3", "sel3", "ve4") +
          bpeEncodeFoldSql("ve4", "sel4", "ve5") +
          "vt AS (SELECT w, len(t) AS ntok FROM ve5), " +
          "wd AS (SELECT doc_id, UNNEST(string_split(text,' ')) AS w FROM documents), " +
          "wdn AS (SELECT doc_id, w FROM wd WHERE w <> '') " +
          "SELECT doc_id, COUNT(*) AS n_words, " +
          // CAST: DuckDB SUM(BIGINT) yields HUGEINT, which the compare
          // renders as a float — pin the integer type on both sides
          "CAST(SUM(CASE WHEN length(wdn.w) = 1 THEN 1 ELSE vt.ntok END) AS BIGINT) AS n_tokens " +
          "FROM wdn LEFT JOIN vt ON vt.w = wdn.w " +
          "GROUP BY doc_id ORDER BY doc_id"
      }),

    QueryDef("q138_bpe_encode_1k",
      // q135 at PRODUCTION vocabulary (VERDICT r11 item 3): the merge
      // table is trained to >= 1000 merges (measured 1011-1066 at
      // every fixture tier) by the SAME batched trainer as q117 at
      // bigger constants (10 rounds x up to 512 symbol-disjoint pairs,
      // over the trigram-derived vocab — the raw fixture's 30-word
      // vocabulary caps at ~107 merges, see bpeBigWords), and the
      // encode is the NATIVE BpeEncode expression: per round ONE
      // compiled pass over the token array with a hash probe per
      // token — O(rounds x word length), linear in tokens and
      // INDEPENDENT of the merge count, where q135's replace-chain is
      // O(merges x word length) and unplannable at 1k+ literals
      // (measured at sf0.01: the 1062-literal replace chain did not
      // finish Catalyst planning within 9 minutes — the optimizer's
      // tree walks are superlinear in expression depth — while the
      // native encode ran the full 16k-word vocab in 0.06 s). Scale shape
      // otherwise mirrors q135: encode once per DISTINCT derived word
      // (vocab-bounded map-only pass), corpus stream pays a
      // vocab-keyed equi-join. Oracle: the 10-round training CTE
      // chain (the q117 selection/merge fold family, word-frequency
      // weighted, cumulative-count form) whose FINAL tokenization is
      // definitionally the trained tokenizer's encode of every vocab
      // word — matching it certifies the native expression against an
      // independent replay of training itself.
      (s, d) => bpeVocabTokenSummary(s, d, bpeBigMergeRounds(s, d)),
      Some(BpeBigSummaryOracle)),

    QueryDef("q142_bpe_wide_trainer",
      // The WIDE-batch trainer (VERDICT r12 item 3): the same batched
      // selection rule with the per-round re-tokenization swapped from
      // chained replace() plan literals to the compiled BpeEncode pass
      // over the raw units (trainBatchedNative) — batch width now
      // costs a hash-set entry instead of a plan node, so rounds can
      // run thousands of pairs wide (the alphabet, not the planner,
      // bounds them; q138's 512 was the replace-chain's practical
      // planning ceiling). This entry runs the native-retokenize loop
      // at EXACTLY q138's constants and is held to q138's oracle
      // verbatim — the hash certifies the two trainers are the same
      // algorithm bit-for-bit, so the probe-tier claim (≥8k merges on
      // the derived sf1 corpus inside 2× the 1k-wall — the ScaleProbe
      // rows) rides on an oracle-certified loop, not a lookalike.
      (s, d) => bpeVocabTokenSummary(s, d, bpeWideMergeRounds(s, d)),
      Some(BpeBigSummaryOracle)),

    QueryDef("q143_bpe_wide_compression",
      // The q91-style PER-SOURCE COMPRESSION REPORT from the wide
      // trainer's table (VERDICT r13 item 5's report half): every
      // derived word re-tokenized under q142's oracle-certified merge
      // table via the native BpeEncode pass, aggregated per source —
      // words, 2-char-unit token count, BPE token count, tokens saved.
      // This is the acceptance report a tokenizer-training pipeline
      // emits before committing a vocabulary. Scale shape: encode once
      // per DISTINCT (source, word) — the vocab-bounded map-only pass —
      // never once per occurrence; the only shuffles are the
      // (source, word) frequency agg and the per-source fold. The
      // 32k-scale run of the SAME loop + report is Bpe32kProbe
      // (tmp/bpe32k_r14.log): a 110+-round DuckDB replay is the
      // oracle's own cost (~15 min at sf0.1, measured), so the 32k
      // tier pins bit-parity against the Spark-free in-memory
      // BpeReplay instead — this entry keeps the report shape under a
      // full DuckDB oracle at the certified constants.
      (s, d) => {
        import org.apache.spark.sql.graftbridge.ColumnBridge
        val rounds = bpeWideMergeRounds(s, d)
        val words = bpeBigWords(s, d)
        val src = docs(s, d).select(col("doc_id"), col("source"))
        val wf = words.join(src, Seq("doc_id"))
          .groupBy(col("source"), col("w")).agg(count(lit(1)).as("wcnt"))
        val unitsCol = bigUnits(col("w"))
        val toks = ColumnBridge.column(graft.functions.BpeEncode(
          ColumnBridge.expression(unitsCol), rounds))
        wf.select(col("source"), col("wcnt"),
            size(unitsCol).cast("long").as("u"), size(toks).cast("long").as("k"))
          .groupBy(col("source"))
          .agg(sum(col("wcnt")).as("words"),
            sum(col("u") * col("wcnt")).as("tokens_unit"),
            sum(col("k") * col("wcnt")).as("tokens_bpe"),
            sum((col("u") - col("k")) * col("wcnt")).as("tokens_saved"))
          .orderBy(col("source"))
      },
      Some {
        // the q138/q142 training chain verbatim, then the report tail:
        // per-(source, word) frequencies joined to the final
        // tokenization's per-word token count
        bpeBigTrainingSqlCtes +
          s"vt AS (SELECT w, len(t) AS ntok FROM tbig${BpeBigRounds + 1}), " +
          "srcw AS (SELECT d.source, wd.w, COUNT(*) AS wcnt FROM wd " +
          "JOIN documents d USING (doc_id) GROUP BY 1, 2) " +
          "SELECT source, CAST(SUM(wcnt) AS BIGINT) AS words, " +
          "CAST(SUM(len(regexp_extract_all(srcw.w, '.{1,2}')) * wcnt) AS BIGINT) AS tokens_unit, " +
          "CAST(SUM(vt.ntok * wcnt) AS BIGINT) AS tokens_bpe, " +
          "CAST(SUM((len(regexp_extract_all(srcw.w, '.{1,2}')) - vt.ntok) * wcnt) AS BIGINT) AS tokens_saved " +
          "FROM srcw JOIN vt USING (w) GROUP BY source ORDER BY source"
      }),

    QueryDef("q118_dsir_selection",
      // Data selection via importance resampling (Xie et al. 2023,
      // DSIR — the public target-domain selection recipe): featurize
      // every document as hashed word n-grams (unigrams + bigrams →
      // md5 buckets mod 1024), estimate a TARGET feature distribution
      // from the in-corpus target slice (lang = 'en', standing in for
      // "looks like the high-quality target domain") and a RAW
      // distribution from the whole corpus, +1-smoothed; each doc's
      // importance weight is the sum over its feature INSTANCES of
      // ln(p_target(b)/p_raw(b)), and the top-40 by weight are
      // selected. Portability is the q67/q97 doctrine: the ONE
      // transcendental per bucket evaluates on a single exact-integer
      // rational — ln(((ct+1)·(tr+F)) / ((cr+1)·(tt+F))) with both
      // products exact BIGINTs — then quantizes to 1e-6 nats
      // (DsirSpec margin-guards every fixture bucket), and the per-doc
      // weight is an exact integer SUM of quantized bucket scores.
      // Exactness bound: (cr+1)·(tt+F) < 2^63 holds to ~3·10⁹ feature
      // instances; past that the products move to decimal(38,0) — the
      // q87 move. Scale shape: ONE corpus scan explodes features; the
      // bucket stats are an F-bounded shuffle with map-side partials
      // (F = 1024 keys regardless of corpus size); the 1024-row
      // log-ratio table and the 1-row totals BROADCAST back onto the
      // feature stream; the per-doc sum shuffles on doc_id; top-40 is
      // TakeOrderedAndProject. No join scales with corpus², and the
      // ranking model itself (the lr table) is cluster-wide tiny — the
      // production DSIR shape (featurize → weigh → select) exactly.
      (s, d) => {
        val F = 1024
        val toks = docs(s, d).select(col("doc_id"), col("lang"), col("source"),
          expr("filter(split(text, ' '), x -> x <> '')").as("t"))
        val grams = toks.select(col("doc_id"), col("lang"), col("source"),
          explode(concat(col("t"), zip_with(
            expr("slice(t, 1, size(t) - 1)"), expr("slice(t, 2, size(t) - 1)"),
            (a, b) => concat(a, lit(" "), b)))).as("g"))
        // materialize the feature stream ONCE: it feeds both the bucket
        // stats and the final weigh join, and unmaterialized the
        // explode+md5 pass ran twice (the q112 agg-then-join-back
        // lesson; r10 audit: 3.34 → 1.37 s at sf0.1, hash unchanged)
        val feats = grams.select(col("doc_id"), col("lang"), col("source"),
          (conv(substring(md5(concat(lit("dsir:"), col("g"))), 1, 8), 16, 10)
            .cast("long") % F).as("b"))
          .localCheckpoint(true)
        val stats = feats.groupBy(col("b")).agg(
          count(lit(1)).as("cr"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
        val tot = stats.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
        val lr = stats.crossJoin(broadcast(tot)).select(col("b"),
          expr(s"CAST(floor(ln(CAST((ct + 1) * (tr + $F) AS DOUBLE) / " +
            s"CAST((cr + 1) * (tt + $F) AS DOUBLE)) * 1000000 " +
            "+ CAST(0.5 AS DOUBLE)) AS BIGINT)").as("lr_e6"))
        feats.join(broadcast(lr), "b")
          .groupBy(col("doc_id"), col("lang"), col("source"))
          .agg(count(lit(1)).as("n_feat"), sum(col("lr_e6")).as("dsir_e6"))
          .orderBy(col("dsir_e6").desc, col("doc_id")).limit(40)
      },
      Some("WITH tf AS (SELECT doc_id, lang, source, " +
        "list_filter(string_split(text,' '), x -> x <> '') AS t FROM documents), " +
        "uni AS (SELECT doc_id, lang, source, UNNEST(t) AS g FROM tf), " +
        "bi AS (SELECT doc_id, lang, source, t[i] || ' ' || t[i+1] AS g FROM " +
        "(SELECT doc_id, lang, source, t, UNNEST(generate_series(1, len(t)-1)) AS i " +
        "FROM tf WHERE len(t) >= 2) z), " +
        "g AS (SELECT * FROM uni UNION ALL SELECT * FROM bi), " +
        "f AS (SELECT doc_id, lang, source, " +
        "CAST(('0x' || substring(md5('dsir:' || g),1,8)) AS BIGINT) % 1024 AS b FROM g), " +
        "st AS (SELECT b, COUNT(*) AS cr, " +
        "CAST(SUM(CASE WHEN lang='en' THEN 1 ELSE 0 END) AS BIGINT) AS ct FROM f GROUP BY b), " +
        "tt AS (SELECT CAST(SUM(cr) AS BIGINT) AS tr, CAST(SUM(ct) AS BIGINT) AS tt FROM st), " +
        "lr AS (SELECT b, CAST(floor(ln(CAST((st.ct+1)*(tt.tr+1024) AS DOUBLE) / " +
        "CAST((st.cr+1)*(tt.tt+1024) AS DOUBLE)) * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT) " +
        "AS lr_e6 FROM st CROSS JOIN tt) " +
        "SELECT f.doc_id, f.lang, f.source, COUNT(*) AS n_feat, " +
        "CAST(SUM(lr.lr_e6) AS BIGINT) AS dsir_e6 " +
        "FROM f JOIN lr ON lr.b = f.b GROUP BY 1, 2, 3 " +
        "ORDER BY dsir_e6 DESC, doc_id LIMIT 40")),

    QueryDef("q122_perceptron_classifier",
      // Distributed BATCH-PERCEPTRON training of a domain classifier
      // (the learned counterpart of q50's heuristic and q118's density
      // ratio; fastText-shaped: hashed bag-of-words → linear model).
      // Label: lang = 'en' (+1) vs rest (−1), the same in-corpus
      // target slice q118 uses. Features: token md5-hash buckets mod
      // 64 with integer counts, plus a bias feature — so scores,
      // the y·score ≤ 0 misclassification test, and the weight
      // updates w += Σ_miss y·x are ALL exact integers: unlike
      // logistic regression there is no transcendental anywhere, and
      // the whole 3-round trajectory is oracle-hashable bit-for-bit.
      // Scale shape per round (the q81b/q117 driver-loop doctrine —
      // rounds are driver round-trips, each O(F) rows): the feature
      // relation is built ONCE and lineage-truncated (referenced 2×
      // per round × 3 rounds); the 65-row weight vector BROADCASTS
      // onto it (never shuffle the corpus on bucket); misclassified
      // doc ids join back by doc_id onto the checkpointed features (no
      // recompute — bare LogicalRDD); the delta agg is an F-bounded
      // shuffle with map-side partials. Output: the full training
      // trajectory (round, bucket, weight-after-round, misclassified-
      // at-round-start).
      (s, d) => s.createDataFrame(perceptronTrained(s, d))
        .toDF("round", "bucket", "weight", "n_miss")
        .orderBy(col("round"), col("bucket")),
      Some("WITH " + PerceptronOracleCtes + " " +
        "SELECT CAST(1 AS BIGINT) AS round, b AS bucket, w AS weight, " +
        "(SELECT COUNT(*) FROM m1) AS n_miss FROM w1 " +
        "UNION ALL SELECT 2, b, w, (SELECT COUNT(*) FROM m2) FROM w2 " +
        "UNION ALL SELECT 3, b, w, (SELECT COUNT(*) FROM m3) FROM w3 " +
        "ORDER BY round, bucket")),

    QueryDef("q122b_perceptron_apply",
      // APPLY the trained q122 model (train once, score everywhere —
      // the q81b/q91 pattern, via the same session-cached trajectory):
      // every document is scored with the final-round weights and the
      // output is the label × prediction confusion matrix — the
      // evaluation a curation pass runs before trusting a learned
      // filter. Scale shape: one feature scan, the 65-row final weight
      // vector broadcasts onto it, one per-doc agg, one 4-row summary
      // agg. Scores are exact integers (the q122 property), so the
      // sign test is portable by construction.
      (s, d) => {
        val F = PtronF
        val wFinal = perceptronTrained(s, d)
          .filter(_._1 == PtronRounds.toLong).map(t => (t._2, t._3))
        val wDf = s.createDataFrame(wFinal).toDF("b", "w")
        perceptronFeatures(s, d, F)
          .join(broadcast(wDf), "b")
          .groupBy(col("doc_id"), col("y"))
          .agg(sum(col("x") * col("w")).as("score"))
          .select(col("y").as("label"),
            when(col("score") > 0, 1L).otherwise(-1L).as("predicted"))
          .groupBy(col("label"), col("predicted"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("label"), col("predicted"))
      },
      Some("WITH " + PerceptronOracleCtes + ", " +
        "s4 AS (SELECT f.doc_id, f.y, SUM(f.x * w3.w) AS sc " +
        "FROM f JOIN w3 USING (b) GROUP BY 1,2) " +
        "SELECT CAST(y AS BIGINT) AS label, " +
        "CAST(CASE WHEN sc > 0 THEN 1 ELSE -1 END AS BIGINT) AS predicted, " +
        "COUNT(*) AS cnt FROM s4 GROUP BY 1,2 ORDER BY label, predicted")),

    QueryDef("q97_pmi_pairs",
      // Word-association mining: top-20 adjacent-word pairs by
      // pointwise mutual information, PMI(a,b) = ln(P(a,b)/(P(a)P(b)))
      // with bigram probabilities — the classic collocation/phrase-
      // detection signal (word2vec's phrase pass, n-gram feature
      // selection) a corpus pipeline runs before tokenizer or embedding
      // training. Portability is the q67/q69 doctrine: the ONE
      // transcendental evaluates on a single exact-integer ratio —
      // ln((c_ab·T²)/(B·c_a·c_b)) with both products exact BIGINTs
      // converted once to DOUBLE and divided once — then quantizes to
      // 1e-4-nat integers, so ranking and output are engine-exact
      // (margin-guarded in the spec like Bm25Spec). Exactness bound:
      // c_ab·T² < 2^63 — holds to ~10⁹-token corpora per partition of
      // analysis; beyond that the products move to decimal(38,0), the
      // q87 move. Scale shape: one corpus scan explodes bigrams
      // (vocab²-bounded shuffle with map-side partials — the q81
      // shape); unigram counts join by word key (vocab-sized); the two
      // 1-row totals broadcast; min-count ≥ 5 prunes the pair tail
      // BEFORE the joins; top-20 is TakeOrderedAndProject.
      (s, d) => {
        val toks = docs(s, d).select(split(col("text"), " ").as("t"))
          .select(expr("filter(t, x -> x <> '')").as("t"))
        val uni = toks.select(explode(col("t")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("c"))
        val tot = uni.agg(sum(col("c")).as("tt"))
        val big = toks.where(size(col("t")) >= 2)
          .select(explode(zip_with(
            expr("slice(t, 1, size(t) - 1)"), expr("slice(t, 2, size(t) - 1)"),
            (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
        val btot = big.agg(sum(col("cab")).as("bt"))
        big.where(col("cab") >= 5)
          .join(uni.select(col("w").as("a"), col("c").as("ca")), "a")
          .join(uni.select(col("w").as("b"), col("c").as("cb")), "b")
          .crossJoin(broadcast(tot)).crossJoin(broadcast(btot))
          .select(col("a"), col("b"), col("cab"),
            expr("CAST(floor(ln(CAST(cab * tt * tt AS DOUBLE) / " +
              "CAST(bt * ca * cb AS DOUBLE)) * 10000 + CAST(0.5 AS DOUBLE)) AS BIGINT)")
              .as("pmi_e4"))
          .orderBy(col("pmi_e4").desc, col("a"), col("b")).limit(20)
      },
      Some("WITH tf AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t " +
        "FROM documents), " +
        "u AS (SELECT w, COUNT(*) AS c FROM (SELECT UNNEST(t) AS w FROM tf) z GROUP BY w), " +
        "tt AS (SELECT SUM(c) AS tt FROM u), " +
        "bg AS (SELECT t[i] AS a, t[i+1] AS b FROM " +
        "(SELECT t, UNNEST(generate_series(1, len(t) - 1)) AS i FROM tf WHERE len(t) >= 2) z), " +
        "bc AS (SELECT a, b, COUNT(*) AS cab FROM bg GROUP BY 1, 2), " +
        "bt AS (SELECT SUM(cab) AS bt FROM bc), " +
        "p AS (SELECT bc.a, bc.b, bc.cab, " +
        "CAST(floor(ln(CAST(bc.cab * tt.tt * tt.tt AS DOUBLE) / " +
        "CAST(bt.bt * ua.c * ub.c AS DOUBLE)) * 10000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS pmi_e4 " +
        "FROM bc JOIN u ua ON ua.w = bc.a JOIN u ub ON ub.w = bc.b " +
        "CROSS JOIN tt CROSS JOIN bt WHERE bc.cab >= 5) " +
        "SELECT a, b, cab, pmi_e4 FROM p ORDER BY pmi_e4 DESC, a, b LIMIT 20")),

    QueryDef("q86_multi_signal_curation",
      // The combined curation decision a production 100 TB pipeline
      // actually ships: every document judged by THREE dedup signals
      // with fixed precedence — exact text dup (not the min-id copy of
      // its text) > lexical near-dup (MinHash-banded verified pairs,
      // the q54 relation: dropped iff some smaller doc_id is
      // jaccard-similar) > semantic near-dup (SemDeDup cells, the q70
      // rule over the aligned embedding: dropped iff some smaller
      // vec_id in the cell is cosine-similar). Output is the per-source
      // action histogram. Both expensive relations come from the
      // SESSION CACHES (LlmText.bandedNearDupPairs,
      // Vectors.semanticDups on the shared Lloyd's run), so the
      // composition adds only the exact-dup window and two left joins
      // on doc_id — the point: signals are computed once and REUSED
      // across every query that consumes them, which at 100 TB is
      // write-once-read-everywhere storage, not recomputation.
      (s, d) => {
        val base = docs(s, d)
          .withColumn("exact_rep", min(col("doc_id")).over(Window.partitionBy(col("text"))))
        val lex = LlmText.bandedNearDupPairs(s, d)
          .select(col("doc_b").as("doc_id")).distinct().withColumn("lex", lit(1))
        val sem = Vectors.semanticDups(s, d)
          .select(col("vec_id").as("doc_id"), lit(1).as("sem"))
        base.join(lex, Seq("doc_id"), "left").join(sem, Seq("doc_id"), "left")
          .withColumn("action",
            when(col("doc_id") =!= col("exact_rep"), "drop_exact")
              .when(col("lex").isNotNull, "drop_lexical")
              .when(col("sem").isNotNull, "drop_semantic")
              .otherwise("keep"))
          .groupBy(col("source"), col("action"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("source"), col("action"))
      },
      Some("WITH " + LlmText.BandedPairsSqlCtes + ", " + Vectors.SemDedupSqlCtes + ", " +
        "base AS (SELECT doc_id, source, MIN(doc_id) OVER (PARTITION BY text) AS exact_rep " +
        "FROM documents), " +
        "lex AS (SELECT DISTINCT doc_b AS doc_id FROM pairs), " +
        "act AS (SELECT b.source, CASE WHEN b.doc_id <> b.exact_rep THEN 'drop_exact' " +
        "WHEN l.doc_id IS NOT NULL THEN 'drop_lexical' " +
        "WHEN sd.vec_id IS NOT NULL THEN 'drop_semantic' ELSE 'keep' END AS action " +
        "FROM base b LEFT JOIN lex l ON l.doc_id = b.doc_id " +
        "LEFT JOIN dups sd ON sd.vec_id = b.doc_id) " +
        "SELECT source, action, COUNT(*) AS cnt FROM act GROUP BY 1, 2 ORDER BY 1, 2")),

    QueryDef("q75_span_coverage",
      // Cross-document repeated-span coverage (the bounded form of
      // suffix-based exact substring dedup, Lee et al. 2021,
      // arXiv:2107.06499): for each doc, the fraction of its 8-gram
      // POSITIONS whose 8-gram also appears in at least one OTHER doc —
      // high coverage = boilerplate/quoted passages a curation run
      // strips or down-weights. Distinct from q64 (train/test leakage
      // across a split) — this is corpus-internal. Shape: the 8-gram
      // explode feeds ONE (doc, shingle) occurrence aggregation,
      // materialized once (per-consumer column pruning defeats
      // ReuseExchange here — verified in the plan — so the explode
      // would otherwise run three times); per-doc position totals,
      // distinct-doc df per shingle, and per-doc hit counts are then
      // three aggs over the materialized relation. At cluster scale the
      // same move is writing the doc×shingle aggregate to storage once
      // and deriving the three statistics from it. Inverted-index
      // equi-joins only, linear in shingle volume. Coverage is
      // integer-quantized per doc (1e-4) before the per-source mean
      // (floored integer division), so no order-dependent double sums.
      (s, d) => {
        val counts = LlmText.shinglesRaw(s, d, 8)
          .groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("occ"))
          .localCheckpoint(true)
        val shared = counts.groupBy(col("sh")).agg(count(lit(1)).as("dfd"))
          .where(col("dfd") >= 2).select(col("sh"))
        val perDoc = counts.groupBy(col("doc_id")).agg(sum(col("occ")).as("n_pos"))
        val hits = counts.join(shared, Seq("sh"), "left_semi")
          .groupBy(col("doc_id")).agg(sum(col("occ")).as("n_hit"))
        val cov = perDoc.join(hits, Seq("doc_id"), "left_outer")
          .select(col("doc_id"),
            expr("CAST(floor(CAST(COALESCE(n_hit, 0) AS DOUBLE) / n_pos * 10000 + 0.5) AS BIGINT)")
              .as("cov_e4"))
        cov.join(docs(s, d).select(col("doc_id"), col("source")), Seq("doc_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("cov_e4") > 5000L, 1L).otherwise(0L)).cast("long").as("n_flagged"),
            expr("CAST(SUM(cov_e4) AS BIGINT) div COUNT(*)").as("avg_cov_e4"))
          .orderBy(col("source"))
      },
      Some("WITH " + LlmText.shinglesSql(8) + ", " +
        "shared AS (SELECT sh FROM (SELECT sh, COUNT(DISTINCT doc_id) AS dfd FROM shraw GROUP BY sh) " +
        "WHERE dfd >= 2), " +
        "perdoc AS (SELECT doc_id, COUNT(*) AS n_pos FROM shraw GROUP BY doc_id), " +
        "hits AS (SELECT doc_id, COUNT(*) AS n_hit FROM shraw WHERE sh IN (SELECT sh FROM shared) " +
        "GROUP BY doc_id), " +
        "cov AS (SELECT p.doc_id, CAST(floor(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / p.n_pos * 10000 + 0.5) AS BIGINT) AS cov_e4 " +
        "FROM perdoc p LEFT JOIN hits h ON h.doc_id = p.doc_id) " +
        "SELECT d.source, COUNT(*) AS n_docs, " +
        "CAST(SUM(CASE WHEN cov_e4 > 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged, " +
        "CAST(SUM(cov_e4) // COUNT(*) AS BIGINT) AS avg_cov_e4 " +
        "FROM cov c JOIN documents d ON d.doc_id = c.doc_id " +
        "GROUP BY d.source ORDER BY d.source")),

    QueryDef("q77_mixture_weights",
      // Data-mixing step: per-source sampling weights by temperature
      // sampling p_s ∝ n_s^α with α = 0.5 (the multilingual-corpus
      // rebalancing rule) — upweights small sources relative to their
      // token share. sqrt is correctly rounded IEEE on every engine, so
      // quantizing each weight to integer micro-units BEFORE normalizing
      // (integer sum + floored integer division) makes the whole output
      // engine-portable with no order-dependent float accumulation.
      // Shape: one token-count hash agg, then a 5-row broadcast total.
      (s, d) => {
        val counts = docs(s, d)
          .select(col("source"), size(split(col("text"), " ")).cast("long").as("n"))
          .groupBy(col("source")).agg(sum(col("n")).as("n_tokens"))
          .withColumn("w_mu", expr("CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"))
        val tot = counts.agg(sum(col("w_mu")).as("w_tot"))
        counts.crossJoin(broadcast(tot))
          .select(col("source"), col("n_tokens"),
            expr("(w_mu * 1000000) div w_tot").as("p_e6"))
          .orderBy(col("source"))
      },
      Some("WITH c AS (SELECT source, CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS n_tokens " +
        "FROM documents GROUP BY source), " +
        "w AS (SELECT source, n_tokens, " +
        "CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS w_mu FROM c), " +
        "t AS (SELECT SUM(w_mu) AS w_tot FROM w) " +
        "SELECT source, n_tokens, CAST((w_mu * 1000000) // w_tot AS BIGINT) AS p_e6 " +
        "FROM w CROSS JOIN t ORDER BY source")),

    QueryDef("q94_mixture_sample",
      // The SAMPLER that realizes q77's mixture weights — the step
      // between "computed the target mix" and "materialized the
      // training corpus". Per-source keep rate ∝ p_s / n_s (target
      // share over natural share), normalized so the most-upweighted
      // source keeps everything: with α = 0.5 temperature weights that
      // is rate_s ∝ n_s^-1/2, i.e. big sources get sqrt-downsampled,
      // the smallest passes whole. Chained integer arithmetic
      // (q_s = (p_e6·1e6) div n_s, rate_e6 = (q_s·1e6) div max q) keeps
      // every rate engine-exact, and membership is the q58 doctrine —
      // a salted md5 e-6 bucket of doc_id compared to rate_e6, a pure
      // per-row function: deterministic, partition-independent,
      // reproducible on any cluster size. Whole docs approximate
      // token-level rates (documented bias: long docs within a source
      // are not downweighted — acceptable because rates are per-source
      // constants). Scale shape: weights/rates are a 20-row broadcast;
      // the corpus pass is a map-only filter + per-source agg — no
      // shuffle of kept docs, no sort, no driver loop.
      (s, d) => {
        val counts = docs(s, d)
          .select(col("source"), size(split(col("text"), " ")).cast("long").as("n"))
          .groupBy(col("source")).agg(sum(col("n")).as("n_tokens"))
          .withColumn("w_mu", expr("CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"))
        val tot = counts.agg(sum(col("w_mu")).as("w_tot"))
        val q0 = counts.crossJoin(broadcast(tot))
          .select(col("source"), col("n_tokens"),
            expr("((w_mu * 1000000) div w_tot) * 1000000 div n_tokens").as("q0"))
        val qm = q0.agg(max(col("q0")).as("qm"))
        val rates = q0.crossJoin(broadcast(qm))
          .select(col("source"), expr("(q0 * 1000000) div qm").as("rate_e6"))
        val kept = docs(s, d)
          .select(col("source"), col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n"))
          .join(broadcast(rates), "source")
          .where(conv(substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
            .cast("long") % 1000000L < col("rate_e6"))
        kept.groupBy(col("source"), col("rate_e6"))
          .agg(count(lit(1)).as("kept_docs"), sum(col("n")).as("kept_tokens"))
          .select(col("source"), col("rate_e6"), col("kept_docs"), col("kept_tokens"))
          .orderBy(col("source"))
      },
      Some("WITH c AS (SELECT source, CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS n_tokens " +
        "FROM documents GROUP BY source), " +
        "w AS (SELECT source, n_tokens, " +
        "CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS w_mu FROM c), " +
        "t AS (SELECT SUM(w_mu) AS w_tot FROM w), " +
        "q0 AS (SELECT source, n_tokens, " +
        "CAST(CAST((w_mu * 1000000) // w_tot AS BIGINT) * 1000000 // n_tokens AS BIGINT) AS q0 " +
        "FROM w CROSS JOIN t), " +
        "m AS (SELECT MAX(q0) AS qm FROM q0), " +
        "r AS (SELECT source, CAST((q0 * 1000000) // qm AS BIGINT) AS rate_e6 FROM q0 CROSS JOIN m), " +
        "kept AS (SELECT d.source, r.rate_e6, len(string_split(d.text,' ')) AS n FROM documents d " +
        "JOIN r ON r.source = d.source " +
        "WHERE CAST(('0x' || substring(md5('mix:' || CAST(d.doc_id AS VARCHAR)),1,8)) AS BIGINT) " +
        "% 1000000 < r.rate_e6) " +
        "SELECT source, rate_e6, COUNT(*) AS kept_docs, CAST(SUM(n) AS BIGINT) AS kept_tokens " +
        "FROM kept GROUP BY 1, 2 ORDER BY source")),

    QueryDef("q109_weighted_sample",
      // Deterministic WEIGHTED sampling without replacement, top-3 per
      // source, weight = document length (token-budget-proportional
      // selection) — the Efraimidis–Spirakis A-ES scheme (IPL 2006):
      // draw u ~ U(0,1] per item, rank by u^(1/w); the top-m by that
      // key are a weighted sample without replacement. Made
      // reproducible and engine-exact: u is the salted-md5 e-6 bucket
      // of doc_id (the q58 doctrine, +1 so ln never sees 0), the key is
      // ranked through its monotone transform ln(u)/w (one ln on the
      // exact integer ratio, one IEEE division by the INTEGER weight,
      // quantized to e-6 — the q67/q97 transcendental doctrine), ties
      // break on doc_id. Selection is a TopKRows fold:
      // map-side ≤ 3-entry buffers per source, no window, no sort of
      // the corpus — at 100 TB re-drawing the same sample (the
      // reproducibility a training pipeline needs for ablations) is one
      // map-only scan + a 3·sources-row shuffle.
      (s, d) => {
        // n_chars > 0 guard: a zero-length document would put -Infinity
        // (ln(u)/0) through the BIGINT cast — Long.MinValue in Spark but
        // a CAST error in DuckDB. Weight-zero items can never be sampled
        // under A-ES anyway, so excluding them is the semantics, not a
        // fixture hack. (Fixtures have no empty docs; hash unchanged.)
        val keyed = docs(s, d).filter(col("n_chars") > 0)
          .select(col("source"), col("doc_id"), col("n_chars"),
          (conv(substring(md5(concat(lit("esample:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
            .cast("long") % 1000000L + 1L).as("u_e6"))
          .select(col("source"), col("doc_id"),
            expr("CAST(floor(ln(CAST(u_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE)) " +
              "/ CAST(n_chars AS DOUBLE) * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT)")
              .as("key_e6"))
        graft.functions.TopKRows.ranked(keyed, 3, Seq("source"),
            col("key_e6").cast("double"), col("doc_id"))
          .select(col("source"), col("rank").as("rk"), col("id").as("doc_id"),
            col("score").cast("long").as("key_e6"))
          .orderBy(col("source"), col("rk"))
      },
      Some("WITH keyed AS (SELECT source, doc_id, " +
        "CAST(floor(ln(CAST((CAST(('0x' || substring(md5('esample:' || CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 1000000 + 1) AS DOUBLE) / CAST(1000000 AS DOUBLE)) " +
        "/ CAST(n_chars AS DOUBLE) * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS key_e6 " +
        "FROM documents WHERE n_chars > 0) " +
        "SELECT source, rk, doc_id, key_e6 FROM (" +
        "SELECT source, doc_id, key_e6, ROW_NUMBER() OVER " +
        "(PARTITION BY source ORDER BY key_e6 DESC, doc_id) AS rk FROM keyed) " +
        "WHERE rk <= 3 ORDER BY source, rk")),

    QueryDef("q67_bm25_retrieval",
      // BM25 keyword retrieval (k1 = 1.2, b = 0.75): the ranked-search
      // primitive a curation pipeline uses for targeted corpus pulls and
      // contamination audits. Top-20 docs for a fixed 5-term query,
      // scored in integer micro-units end-to-end (see bm25Scores) so the
      // ranking — including ties, broken by doc_id — is deterministic on
      // any engine and any partitioning. Scale shape: inverted-index
      // hash aggs co-partitioned on doc_id; term stats (k rows) and
      // corpus stats (1 row) broadcast; top-k is TakeOrderedAndProject,
      // never a global sort.
      (s, d) => bm25Scores(docs(s, d))
        .orderBy(col("score_micro").desc, col("doc_id")).limit(20),
      Some("WITH tok AS (SELECT doc_id, UNNEST(string_split(text,' ')) AS tok FROM documents), " +
        "dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id), " +
        "stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE)/COUNT(*) AS avgdl FROM dl), " +
        "tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok WHERE tok IN " +
        Bm25Terms.map(t => s"'$t'").mkString("(", ",", ")") + " GROUP BY 1, 2), " +
        "dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok), " +
        s"idf AS (SELECT tok, $Bm25IdfMuExpr AS idf_mu FROM dfq CROSS JOIN stats), " +
        s"c AS (SELECT tf.doc_id, $Bm25ContribExpr AS c_mu " +
        "FROM tf JOIN idf USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats) " +
        "SELECT doc_id, CAST(SUM(c_mu) AS BIGINT) AS score_micro FROM c " +
        "GROUP BY doc_id ORDER BY score_micro DESC, doc_id LIMIT 20")),

    QueryDef("q127_hybrid_rrf",
      // (fusion body factored as rrfFuse so the spec can drive
      // hand-built leg tables through the exact production logic)
      // HYBRID retrieval: reciprocal-rank fusion (Cormack et al. 2009,
      // the production-standard lexical+semantic combiner) of the q67
      // BM25 leg (fixed keyword query) and the q42 cosine leg (probe =
      // item 0's embedding; item 0 excluded from both legs as the query
      // stand-in). Each leg contributes 1e6 div (60 + rank) for its
      // top-50 — integer division on integer ranks, so the fused score
      // is exact on any engine; an item missing from a leg contributes
      // 0 (standard RRF). Scale shape: each leg is its own proven
      // pipeline ending in a top-k (TakeOrderedAndProject, never a
      // global sort); the rank windows and the fusion join run on ≤ 50
      // rows per leg — bounded by k, not by the corpus — so fusion
      // cost is constant no matter the data size. At sf0.1 the legs
      // even rank different universes (5000 docs, 2000 vectors); RRF's
      // absent-leg-contributes-0 rule is exactly what makes that legal.
      (s, d) => {
        import graft.functions.VectorFunctions.dot
        val lexTop = bm25Scores(docs(s, d).where(col("doc_id") =!= 0))
          .orderBy(col("score_micro").desc, col("doc_id")).limit(50)
          .withColumn("lex_rank", row_number().over(
            Window.orderBy(col("score_micro").desc, col("doc_id"))).cast("long"))
          .select(col("doc_id"), col("lex_rank"))
        // the sem leg is exactly the q42 arithmetic — same embUnit
        // normalization, same dot — so engine-side FP evaluation order
        // is identical to the already-validated q42 path (ADVICE r9)
        val e = Vectors.embUnit(s, d)
        val qv = broadcast(e.where(col("vec_id") === 0).select(col("u").as("qu")))
        val semTop = e.where(col("vec_id") =!= 0).crossJoin(qv)
          .select(col("vec_id").as("doc_id"), round(dot(col("u"), col("qu")), 4).as("sim"))
          .orderBy(col("sim").desc, col("doc_id")).limit(50)
          .withColumn("sem_rank", row_number().over(
            Window.orderBy(col("sim").desc, col("doc_id"))).cast("long"))
          .select(col("doc_id"), col("sem_rank"))
        rrfFuse(lexTop, semTop)
      },
      Some("WITH tok AS (SELECT doc_id, UNNEST(string_split(text,' ')) AS tok " +
        "FROM documents WHERE doc_id <> 0), " +
        "dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id), " +
        "stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE)/COUNT(*) AS avgdl FROM dl), " +
        "tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok WHERE tok IN " +
        Bm25Terms.map(t => s"'$t'").mkString("(", ",", ")") + " GROUP BY 1, 2), " +
        "dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok), " +
        s"idf AS (SELECT tok, $Bm25IdfMuExpr AS idf_mu FROM dfq CROSS JOIN stats), " +
        s"c AS (SELECT tf.doc_id, $Bm25ContribExpr AS c_mu " +
        "FROM tf JOIN idf USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats), " +
        "lexs AS (SELECT doc_id, CAST(SUM(c_mu) AS BIGINT) AS score_micro FROM c GROUP BY doc_id), " +
        "lex AS (SELECT doc_id, CAST(rn AS BIGINT) AS lex_rank FROM (" +
        "SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS rn FROM lexs) " +
        "WHERE rn <= 50), " +
        "q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0), " +
        "z AS (SELECT e.vec_id, UNNEST(CAST(e.embedding AS DOUBLE[])) AS a, UNNEST(q.qe) AS b " +
        "FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0), " +
        "sc AS (SELECT vec_id, SUM(a*b) AS dot, SQRT(SUM(a*a)) AS na, SQRT(SUM(b*b)) AS nb " +
        "FROM z GROUP BY vec_id), " +
        "sem AS (SELECT doc_id, CAST(rn AS BIGINT) AS sem_rank FROM (" +
        "SELECT vec_id AS doc_id, ROW_NUMBER() OVER " +
        "(ORDER BY ROUND(dot/(na*nb), 4) DESC, vec_id) AS rn FROM sc) WHERE rn <= 50) " +
        "SELECT COALESCE(l.doc_id, r.doc_id) AS doc_id, l.lex_rank, r.sem_rank, " +
        "COALESCE(CAST(1000000 // (60 + l.lex_rank) AS BIGINT), 0) + " +
        "COALESCE(CAST(1000000 // (60 + r.sem_rank) AS BIGINT), 0) AS rrf_e6 " +
        "FROM lex l FULL OUTER JOIN sem r ON l.doc_id = r.doc_id " +
        "ORDER BY rrf_e6 DESC, doc_id LIMIT 10")),

    QueryDef("q69_lm_surprisal",
      // Unigram-LM quality scoring (the CCNet/KenLM-style filter signal):
      // train the LM on the corpus itself (MLE, every scored token has
      // freq ≥ 1 by construction), score each doc by its mean token
      // surprisal ln(T/freq), flag docs whose mean exceeds 3.5 nats —
      // rare-token-heavy docs, the tail a quality filter drops or
      // down-weights. Portability follows the q67 doctrine: the ONE
      // transcendental (ln) is quantized to 1e-4-nat integers at the
      // vocabulary level (Bm25Spec-style margin guarded in LmSurprisalSpec),
      // after which everything is integer — per-doc sums are order-free,
      // the flag test is a pure integer comparison (ssum > 35000·n_tok),
      // and the per-source mean is ONE correctly-rounded division of
      // exact integer sums (token-weighted — never an order-dependent
      // AVG of doubles). Scale shape: token explode → vocab hash agg →
      // equi-join tokens to the (vocab-sized) LM table → two hash aggs;
      // the corpus total rides as a broadcast 1-row cross join.
      (s, d) => lmSurprisal(docs(s, d)),
      Some("WITH tok AS (SELECT doc_id, source, UNNEST(string_split(text,' ')) AS tok FROM documents), " +
        "tot AS (SELECT COUNT(*) AS t_total FROM tok), " +
        "lm AS (SELECT tok, CAST(floor(ln(CAST(t_total AS DOUBLE) / COUNT(*)) * 10000 " +
        "+ CAST(0.5 AS DOUBLE)) AS BIGINT) AS s_mu FROM tok CROSS JOIN tot GROUP BY tok, t_total), " +
        "perdoc AS (SELECT doc_id, source, SUM(s_mu) AS ssum, COUNT(*) AS n_tok " +
        "FROM tok JOIN lm USING (tok) GROUP BY 1, 2) " +
        "SELECT source, COUNT(*) AS n_docs, " +
        "CAST(SUM(CASE WHEN ssum > 35000 * n_tok THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged, " +
        "CAST(floor(CAST(SUM(ssum) AS DOUBLE) / SUM(n_tok) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS avg_surprisal_e4 " +
        "FROM perdoc GROUP BY source ORDER BY source")))
}
