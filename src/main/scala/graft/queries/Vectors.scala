package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.VectorFunctions._
import graft.operators.KMeansLloyd
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity operators (SURVEY.md §2C Q42 + ANN/near-dup from
  * the LLM-pipeline mandate).
  *
  * Vectors are L2-normalized once per row before any pairing, so a pair
  * costs one dot product instead of dot + two norms — at n² pair counts
  * that's the dominant constant. Q42/Q48 broadcast the (tiny) query-
  * vector side so the big-table scan is a single map-side pass — the
  * shape that holds at 100 TB (probe side streams, no shuffle).
  * Brute-force scoring is the correctness baseline; the LSH-bucketed
  * scale path lives in [[graft.operators.AnnLsh]] and is recall-tested
  * in ScalaTest rather than oracle-hashed (bucketing is approximate by
  * design).
  */
object Vectors {

  /** Embeddings as unit vectors (`u`), elements cast to DOUBLE first
    * (float32 leakage breaks oracle parity, SURVEY.md §7.3). Shared by
    * every cosine consumer INCLUDING q127's semantic leg (ADVICE r9:
    * an inline re-implementation risked FP-evaluation-order divergence
    * vs the already-validated q42 arithmetic). */
  private[queries] def embUnit(s: SparkSession, d: String): DataFrame = {
    val v = vecDouble(col("embedding"))
    Tables(s, d, "embeddings")
      .select(col("vec_id"), v.as("v"), l2Norm(v).as("n"))
      .select(col("vec_id"), transform(col("v"), x => x / col("n")).as("u"))
  }

  /** One deterministic quantized Lloyd's run (k = 4, iters = 2 — the
    * q68 recipe) SHARED by every cell-bucketed entry (q68/q70/q73/q73b/
    * q78): the seed/update driver collects and the assignment relation
    * are computed once per (session, fixture dir) and the assignment
    * persisted — the same memoize-the-common-prefix move as
    * [[LlmText.bandedNearDupPairs]] (and the same 100 TB shape: train
    * the index once, write it, read it from every consumer). Hashes are
    * untouched — every consumer sees the identical deterministic
    * result, only WHEN it is computed changes. Returns (assigned,
    * assign-time centroids, final centroids). Entries evict (and
    * unpersist) when the session's context stops — see
    * [[graft.SessionCache]]. */
  private val lloydCache = new graft.SessionCache[
    (DataFrame, Seq[KMeansLloyd.Centroid], Seq[KMeansLloyd.Centroid])](
    t => t._1.unpersist(blocking = false))

  private def lloydShared(s: SparkSession, d: String)
      : (DataFrame, Seq[KMeansLloyd.Centroid], Seq[KMeansLloyd.Centroid]) =
    lloydCache.getOrElseUpdate(s, d, {
      val vecs = Tables(s, d, "embeddings")
        .select(col("vec_id"), KMeansLloyd.quantize(col("embedding")).as("xi"))
      val (assigned, assignCents, cents) =
        KMeansLloyd.runTracked(vecs, "vec_id", k = 4, iters = 2)
      (assigned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
        assignCents, cents)
    })

  /** The q70 semantic-dup core, exposed so compositions (q86's multi-
    * signal curation) can reuse it: per vector, the smallest-id
    * ≥ τ-similar neighbor in its (sub-split) k-means cell, or no row if
    * the vector is semantically unique. Returns (vec_id, dup_of). */
  private[queries] def semanticDups(s: SparkSession, d: String): DataFrame = {
    val (assigned, _, _) = lloydShared(s, d)
    val cells = assigned.select(col("vec_id"), col("cell"))
    val member = KMeansLloyd.subSplitCells(
      cells.join(embUnit(s, d), "vec_id"), "vec_id", KMeansLloyd.CellCap)
    member.as("x").join(member.as("y"),
        col("x.cell") === col("y.cell") && col("x.subcell") === col("y.subcell") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("y.vec_id").as("vec_id"), col("x.vec_id").as("cand"),
        round(dot(col("x.u"), col("y.u")), 4).as("sim"))
      .where(col("sim") >= 0.4)
      .groupBy(col("vec_id")).agg(min(col("cand")).as("dup_of"))
  }

  /** DuckDB CTE chain ending in `a2(vec_id, cell)` + `dups(vec_id,
    * dup_of)` — mirrors [[semanticDups]] (2-round deterministic Lloyd's
    * from the 4 lowest-id seeds, then within-cell exact cosine). */
  private[queries] val SemDedupSqlCtes: String =
    "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "comps AS (SELECT vec_id, i AS d, CAST(floor(v[i+1] * 1000000 + 0.5) AS BIGINT) AS xi " +
      "FROM e CROSS JOIN (SELECT UNNEST(range(0,64)) AS i) ix), " +
      "c0 AS (SELECT vec_id AS cell, d, xi AS ci FROM comps WHERE vec_id < 4), " +
      "d1 AS (SELECT c.vec_id, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
      "FROM comps c JOIN c0 k USING (d) GROUP BY 1, 2), " +
      "a1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, ROW_NUMBER() OVER " +
      "(PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d1) WHERE rn = 1), " +
      "c1 AS (SELECT a.cell, c.d, CAST(floor(CAST(SUM(c.xi) AS DOUBLE)/COUNT(*) + 0.5) AS BIGINT) AS ci " +
      "FROM comps c JOIN a1 a USING (vec_id) GROUP BY 1, 2), " +
      "d2 AS (SELECT c.vec_id, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
      "FROM comps c JOIN c1 k USING (d) GROUP BY 1, 2), " +
      "a2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, ROW_NUMBER() OVER " +
      "(PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d2) WHERE rn = 1), " +
      // the CellCap sub-split, mirrored exactly from
      // KMeansLloyd.subSplitCells (the r10 sf1 sweep caught that this
      // oracle silently modeled the UNSPLIT join: at fixture scale
      // every cell is under the cap so subcell = 0 everywhere and the
      // two forms coincide, but at 10x the cells blow past the cap,
      // the engine's pair join keys on (cell, subcell), and an
      // unsplit oracle disagrees — the oracle must model the guard,
      // not just the happy path)
      "csz AS (SELECT cell, COUNT(*) AS csz FROM a2 GROUP BY cell), " +
      s"a2s AS (SELECT a.vec_id, a.cell, CASE WHEN z.csz > ${KMeansLloyd.CellCap} THEN " +
      "CAST(('0x' || substring(md5('subcell:' || CAST(a.vec_id AS VARCHAR)),1,8)) AS BIGINT) " +
      s"% CAST(ceil(CAST(z.csz AS DOUBLE) / ${KMeansLloyd.CellCap}) AS BIGINT) " +
      "ELSE 0 END AS subcell FROM a2 a JOIN csz z USING (cell)), " +
      "dups AS (SELECT y.vec_id, MIN(x.vec_id) AS dup_of FROM a2s x " +
      "JOIN a2s y ON x.cell = y.cell AND x.subcell = y.subcell AND x.vec_id < y.vec_id " +
      "JOIN e ea ON ea.vec_id = x.vec_id JOIN e eb ON eb.vec_id = y.vec_id " +
      "WHERE ROUND(list_cosine_similarity(ea.v, eb.v), 4) >= 0.4 GROUP BY y.vec_id)"

  /** Product-quantization codebooks: the 64-dim space split into
    * [[PqM]] = 16 contiguous 4-dim subspaces, each with its own
    * deterministic Lloyd's codebook ([[PqKsub]] = 32 codewords,
    * [[PqIters]] = 2 — the q68 recipe per subspace, seeded from the 32
    * lowest vec_ids' sub-vectors). Parameter choice is the measured
    * PQ scaling law on the fixtures (mean relative ADC distance error
    * 0.45 at m=4/ksub=4 → 0.12 at m=16/ksub=32, approx ratio 1.34 →
    * 1.08) at 80 bits/vector — 25× under the 2048-bit float32 row.
    * All m codebooks train JOINTLY: the subspace problems are
    * independent, so one scan computes every subspace's argmin code,
    * one hash agg folds into m·ksub·subDim groups, and one bounded
    * collect re-quantizes — per iteration, exactly the job count of a
    * single KMeansLloyd round instead of m of them. Memoized per
    * (session, dir) like [[lloydShared]] — train once, serve every
    * consumer (and every bench repetition) from the same tiny
    * driver-side table. */
  private val PqM = 16
  private val PqSubDim = 4
  private val PqKsub = 32
  private val PqIters = 2
  private val pqCache =
    new graft.SessionCache[Seq[Seq[KMeansLloyd.Centroid]]](_ => ())

  /** Argmin code for subspace `sub`: exact integer distance from the
    * row's `xi` sub-slice to each literal codeword, ties to the lower
    * code — [[KMeansLloyd.assign]]'s total order, map-only. */
  private def pqSubCode(sub: Int, cents: Seq[KMeansLloyd.Centroid]): Column = {
    val sl = expr(s"slice(xi, ${sub * PqSubDim + 1}, $PqSubDim)")
    val scored = array(cents.map { c =>
      val lits = array(c.ci.map(lit(_)): _*)
      struct(
        aggregate(zip_with(sl, lits, (x, y) => (x - y) * (x - y)),
          lit(0L), (a, v) => a + v).as("dist"),
        lit(c.cell.toLong).as("cell"))
    }: _*)
    array_min(scored).getField("cell")
  }

  /** The PQ training loop over ANY (vec_id, xi) relation — q89/q90
    * train on the raw quantized vectors, q96 on the per-vector IVF
    * RESIDUALS. Seeds are the PqKsub lowest-id rows' sub-vectors. */
  private def trainPqBooks(vecs: DataFrame): Seq[Seq[KMeansLloyd.Centroid]] = {
    // seeds: the PqKsub lowest-id vectors, sliced per subspace on the
    // driver — one bounded collect covers all m codebooks
    val seeds = vecs.orderBy(col("vec_id")).limit(PqKsub).collect()
      .zipWithIndex.map { case (r, i) => (i, r.getAs[Seq[Long]]("xi").toArray) }
    var books: Seq[Seq[KMeansLloyd.Centroid]] = (0 until PqM).map { sub =>
      seeds.toSeq.map { case (i, x) =>
        KMeansLloyd.Centroid(i, x.slice(sub * PqSubDim, (sub + 1) * PqSubDim)) }
    }
    // PqIters assign→update rounds, but the returned codebook is the
    // ASSIGN-TIME centroid set of the final round (c1 for iters = 2)
    // — the runTracked self-consistency rule: the q89 encode argmin
    // and its ADC LUT must score against the same codewords the
    // oracle's d2 chain does, so only PqIters−1 updates materialize
    for (_ <- 1 until PqIters) {
      val coded = vecs.select(col("vec_id"),
        posexplode(array((0 until PqM).map(sub =>
          struct(pqSubCode(sub, books(sub)).as("code"),
            expr(s"slice(xi, ${sub * PqSubDim + 1}, $PqSubDim)").as("sx"))): _*))
          .as(Seq("sub", "sc")))
      val rows = coded
        .select(col("sub"), col("sc.code").as("cell"),
          posexplode(col("sc.sx")).as(Seq("sd", "x")))
        .groupBy(col("sub"), col("cell"), col("sd"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .collect() // m·ksub·subDim rows — bounded, like KMeansLloyd.update
      books = (0 until PqM).map { sub =>
        rows.filter(_.getAs[Int]("sub") == sub)
          .groupBy(_.getAs[Long]("cell")).toSeq.sortBy(_._1).map { case (cell, rs) =>
            val ci = rs.sortBy(_.getAs[Int]("sd")).map { r =>
              math.floor(r.getAs[Long]("sx").toDouble / r.getAs[Long]("n") + 0.5).toLong
            }.toArray
            KMeansLloyd.Centroid(cell.toInt, ci)
          }
      }
    }
    books
  }

  private def pqBooks(s: SparkSession, d: String): Seq[Seq[KMeansLloyd.Centroid]] =
    pqCache.getOrElseUpdate(s, d, trainPqBooks(
      Tables(s, d, "embeddings")
        .select(col("vec_id"), KMeansLloyd.quantize(col("embedding")).as("xi"))))

  /** The PQ code table — ONE row per (vec_id, subspace) holding the
    * subspace's argmin code. This IS the serving index (80 bits per
    * vector), so like the Lloyd assignment ([[lloydShared]]) it is
    * encoded once per (session, dir) and persisted: the m·ksub argmin
    * expressions run in a single map-only pass at build time, and every
    * consumer (and every bench repetition) reads the materialized
    * codes — the write-once-read-everywhere index shape. */
  private val pqCodesCache = new graft.SessionCache[DataFrame](
    _.unpersist(blocking = false))

  private def pqCodes(s: SparkSession, d: String): DataFrame =
    pqCodesCache.getOrElseUpdate(s, d, {
      val books = pqBooks(s, d)
      val vecs = Tables(s, d, "embeddings")
        .select(col("vec_id"), KMeansLloyd.quantize(col("embedding")).as("xi"))
      vecs.select(col("vec_id"),
          posexplode(array((0 until PqM).map(sub =>
            pqSubCode(sub, books(sub))): _*)).as(Seq("sub", "code")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** Per-vector IVF residual `xi − centroid(assigned cell)` with the
    * assigned cell carried alongside — the relation residual PQ (q96)
    * trains and encodes on. The centroid lookup is a cell→array
    * when-chain over the k assign-time centroids, so subtraction is
    * map-only (centroids as plan literals, the q73 recipe). */
  private def residualVecs(s: SparkSession, d: String): DataFrame = {
    val (assigned, probeCents, _) = lloydShared(s, d)
    val cent = probeCents.foldLeft(lit(null).cast("array<bigint>")) { (acc, c) =>
      when(col("cell") === c.cell, array(c.ci.map(lit(_)): _*)).otherwise(acc) }
    assigned.select(col("vec_id"), col("cell"),
      zip_with(col("xi"), cent, (a, b) => a - b).as("xi"))
  }

  private val pqResCache =
    new graft.SessionCache[Seq[Seq[KMeansLloyd.Centroid]]](_ => ())

  private def pqResBooks(s: SparkSession, d: String): Seq[Seq[KMeansLloyd.Centroid]] =
    pqResCache.getOrElseUpdate(s, d,
      trainPqBooks(residualVecs(s, d).select(col("vec_id"), col("xi"))))

  /** Residual PQ code table (q96's serving index) — one row per
    * (vec_id, subspace) plus the coarse cell, built once per
    * (session, dir) and persisted like [[pqCodes]]. */
  private val pqResCodesCache = new graft.SessionCache[DataFrame](
    _.unpersist(blocking = false))

  private def pqResCodes(s: SparkSession, d: String): DataFrame =
    pqResCodesCache.getOrElseUpdate(s, d, {
      val books = pqResBooks(s, d)
      residualVecs(s, d).select(col("vec_id"), col("cell"),
          posexplode(array((0 until PqM).map(sub =>
            pqSubCode(sub, books(sub))): _*)).as(Seq("sub", "code")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  def defs: Seq[QueryDef] = headDefs ++ tailDefs

  private lazy val headDefs: Seq[QueryDef] = Seq(
    QueryDef("q42_cosine_topk",
      (s, d) => {
        val e = embUnit(s, d)
        val q = broadcast(e.where(col("vec_id") === 0).select(col("u").as("qu")))
        e.where(col("vec_id") =!= 0).crossJoin(q)
          .select(col("vec_id"), round(dot(col("u"), col("qu")), 4).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(5)
      },
      Some("WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0), " +
        "z AS (SELECT e.vec_id, UNNEST(CAST(e.embedding AS DOUBLE[])) AS a, UNNEST(q.qe) AS b " +
        "FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0), " +
        "s AS (SELECT vec_id, SUM(a*b) AS dot, SQRT(SUM(a*a)) AS na, SQRT(SUM(b*b)) AS nb " +
        "FROM z GROUP BY vec_id) " +
        "SELECT vec_id, ROUND(dot/(na*nb), 4) AS sim FROM s ORDER BY sim DESC, vec_id LIMIT 5")),

    QueryDef("q47_cosine_neardup",
      // Exact all-pairs near-dup at oracle scale; the banded-LSH variant
      // (AnnLsh) replaces the O(n²) pair space at cluster scale.
      (s, d) => {
        val e = embUnit(s, d)
        // single-file parquet reads as one partition: spread the probe
        // side or the n² dot loop runs in a single task
        val spread = e.repartition(s.sparkContext.defaultParallelism)
        broadcast(e.as("a")).join(spread.as("b"), col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
            round(dot(col("a.u"), col("b.u")), 4).as("sim"))
          .where(col("sim") >= 0.4)
          .orderBy(col("vec_a"), col("vec_b"))
      },
      Some("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) " +
        "SELECT vec_a, vec_b, sim FROM (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, " +
        "ROUND(list_cosine_similarity(a.v, b.v), 4) AS sim FROM e a JOIN e b ON a.vec_id < b.vec_id) " +
        "WHERE sim >= 0.4 ORDER BY vec_a, vec_b")),

    QueryDef("q55_lsh_cosine_neardup",
      // The composed 100 TB cosine near-dup pipeline (VERDICT round-1
      // item 1, vector side): random-hyperplane LSH candidate generation
      // (8 bands × 8 sign bits from 64 md5-seeded ±1 hyperplanes) with
      // 1-bit multi-probe (each probe also checks the 8 one-bit-flip
      // buckets), then EXACT cosine verification of only the candidates
      // via the codegen ArrayDot kernel. Everything is deterministic and
      // engine-portable: hyperplane weights come from md5 parity of
      // "plane:dim", and the sign projections are computed in integer
      // arithmetic (components quantized at 1e-6) so the bit codes are
      // exact on both engines — the whole banded pipeline is
      // oracle-hashed, not just row counts. q47's all-pairs form remains
      // the recall baseline (see BandedNearDupSpec).
      (s, d) => {
        val cand = lshCandidatePairs(s, d)
        val e = embUnit(s, d)
        // broadcast the VECTOR side of the verify joins: candidates
        // outnumber vectors ~(bands · probes · occupancy / 2) ≈ 400×
        // (measured: 40M pairs / 100k vectors at the 100k tier), and
        // an SMJ would shuffle+sort the pair relation twice — the
        // second time carrying 512-byte unit-vector arrays. Broadcast
        // keeps the 16-byte pairs in place and ships the O(corpus)
        // table once (55 MB at 100k; co-bucket both sides on vec_id
        // past broadcastable size — the documented crossover).
        cand.join(broadcast(e.as("ea")), col("vec_a") === col("ea.vec_id"))
          .join(broadcast(e.as("eb")), col("vec_b") === col("eb.vec_id"))
          .select(col("vec_a"), col("vec_b"),
            round(dot(col("ea.u"), col("eb.u")), 4).as("sim"))
          .where(col("sim") >= 0.4)
          .orderBy(col("vec_a"), col("vec_b"))
      },
      Some("WITH " + LshCandSqlCtes + " " +
        "SELECT vec_a, vec_b, sim FROM (" +
        "SELECT c.vec_a, c.vec_b, ROUND(list_cosine_similarity(a.v, b.v), 4) AS sim " +
        "FROM cand c JOIN e a ON a.vec_id = c.vec_a JOIN e b ON b.vec_id = c.vec_b) " +
        "WHERE sim >= 0.4 ORDER BY vec_a, vec_b")),
    Q115Def, Q116Def, Q116bDef, Q136Def, Q139Def, Q140Def, Q141Def, Q144Def)

  /** The composed IVF+PQ ADC scores (query_id, vec_id, adist) over the
    * probed cells — q90's serving chain up to (but not including) the
    * top-k: coarse probe restriction, per-query ADC LUT broadcast,
    * map-side integer LUT-sum. Shared by q90 (rank by ADC) and q136
    * (ADC shortlist + exact re-rank — FAISS IndexRefineFlat). */
  private[queries] def ivfpqAdcScored(s: SparkSession, d: String): DataFrame = {
    val (assigned, probeCents, _) = lloydShared(s, d)
    val member = pqCodes(s, d)
      .join(assigned.select(col("vec_id"), col("cell")), "vec_id")
    ivfpqAdcScoredFrom(s, d, pqBooks(s, d), member, probeCents)
  }

  /** [[ivfpqAdcScored]] over EXPLICIT index components — (books, member
    * relation (vec_id, cell, sub, code), serving centroids) — so a
    * PERSISTED index loaded by [[graft.operators.AnnIndexStore]] serves
    * through the identical chain without touching the session caches
    * (q139/q140: a fresh session must not retrain). Only lake reads
    * remain (query vectors + the refine stage's exact side). */
  private[queries] def ivfpqAdcScoredFrom(s: SparkSession, d: String,
      books: Seq[Seq[KMeansLloyd.Centroid]], member: DataFrame,
      probeCents: Seq[KMeansLloyd.Centroid],
      qLo: Int = 1, qHi: Int = 5): DataFrame = {
    import s.implicits._
    import graft.operators.KMeansLloyd
    val vecs = Tables(s, d, "embeddings")
      .select(col("vec_id"), KMeansLloyd.quantize(col("embedding")).as("xi"))
    val probes = KMeansLloyd.probeCells(
        vecs.where(col("vec_id").between(qLo, qHi)), probeCents, nProbe = 2)
      .select(col("vec_id").as("query_id"), col("cell").as("pcell"))
    val bookDf = (for { sub <- 0 until PqM; c <- books(sub) }
      yield (sub, c.cell.toLong, c.ci.toSeq)).toDF("sub", "cw_cell", "cw")
    val qsub = vecs.where(col("vec_id").between(qLo, qHi))
      .select(col("vec_id").as("query_id"),
        posexplode(array((0 until PqM).map(sub =>
          expr(s"slice(xi, ${sub * PqSubDim + 1}, $PqSubDim)")): _*))
          .as(Seq("sub", "sx")))
    val lut = qsub.join(bookDf, Seq("sub"))
      .select(col("query_id"), col("sub"), col("cw_cell"),
        aggregate(zip_with(col("sx"), col("cw"), (x, y) => (x - y) * (x - y)),
          lit(0L), (a, v) => a + v).as("dist"))
    // probe × LUT: nProbe·m·ksub rows per query — the broadcast side
    val probeLut = probes.join(lut, "query_id")
    member.join(broadcast(probeLut),
        member("cell") === probeLut("pcell") &&
          member("sub") === probeLut("sub") &&
          member("code") === probeLut("cw_cell") &&
          col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("dist")).as("adist"))
  }

  /** The q90 oracle CTE chain ending in the ADC rank relation `r` —
    * shared by q90 (top-3 by ADC) and q136 (top-[[RefineShortlist]]
    * shortlist from `r`, then exact re-rank). The query-id range is a
    * parameter so the 100-query serving-SLA oracle (q144) reuses the
    * chain verbatim. */
  private def q90AdcSqlCtesFor(qLo: Int, qHi: Int): String =
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "comps AS (SELECT vec_id, i AS d, CAST(floor(v[i+1] * 1000000 + 0.5) AS BIGINT) AS xi " +
        "FROM e CROSS JOIN (SELECT UNNEST(range(0,64)) AS i) ix), " +
        "c0 AS (SELECT vec_id AS cell, d, xi AS ci FROM comps WHERE vec_id < 4), " +
        "d1 AS (SELECT c.vec_id, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
        "FROM comps c JOIN c0 k USING (d) GROUP BY 1, 2), " +
        "a1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d1) WHERE rn = 1), " +
        "c1 AS (SELECT a.cell, c.d, CAST(floor(CAST(SUM(c.xi) AS DOUBLE)/COUNT(*) + 0.5) AS BIGINT) AS ci " +
        "FROM comps c JOIN a1 a USING (vec_id) GROUP BY 1, 2), " +
        "d2 AS (SELECT c.vec_id, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
        "FROM comps c JOIN c1 k USING (d) GROUP BY 1, 2), " +
        "a2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d2) WHERE rn = 1), " +
        "p AS (SELECT vec_id AS query_id, cell FROM (SELECT vec_id, cell, ROW_NUMBER() OVER " +
        s"(PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d2 WHERE vec_id BETWEEN $qLo AND $qHi) " +
        "WHERE rn <= 2), " +
        "pcm AS (SELECT vec_id, CAST(i // 4 AS BIGINT) AS sub, i % 4 AS sd, " +
        "CAST(floor(v[i+1] * 1000000 + 0.5) AS BIGINT) AS xi " +
        "FROM e CROSS JOIN (SELECT UNNEST(range(0,64)) AS i) ix), " +
        "pc0 AS (SELECT sub, vec_id AS cell, sd, xi AS ci FROM pcm WHERE vec_id < 32), " +
        "pd1 AS (SELECT c.vec_id, c.sub, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
        "FROM pcm c JOIN pc0 k ON k.sub = c.sub AND k.sd = c.sd GROUP BY 1, 2, 3), " +
        "pa1 AS (SELECT vec_id, sub, cell FROM (SELECT vec_id, sub, cell, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id, sub ORDER BY dist, cell) AS rn FROM pd1) WHERE rn = 1), " +
        "pc1 AS (SELECT a.sub, a.cell, c.sd, CAST(floor(CAST(SUM(c.xi) AS DOUBLE)/COUNT(*) + 0.5) AS BIGINT) AS ci " +
        "FROM pcm c JOIN pa1 a ON a.vec_id = c.vec_id AND a.sub = c.sub GROUP BY 1, 2, 3), " +
        "pd2 AS (SELECT c.vec_id, c.sub, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
        "FROM pcm c JOIN pc1 k ON k.sub = c.sub AND k.sd = c.sd GROUP BY 1, 2, 3), " +
        "codes AS (SELECT vec_id, sub, cell AS code FROM (SELECT vec_id, sub, cell, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, cell) AS rn FROM pd2) WHERE rn = 1), " +
        s"lut AS (SELECT vec_id AS query_id, sub, cell, dist FROM pd2 WHERE vec_id BETWEEN $qLo AND $qHi), " +
        "sc AS (SELECT l.query_id, c.vec_id, CAST(SUM(l.dist) AS BIGINT) AS adist " +
        "FROM codes c JOIN lut l ON l.sub = c.sub AND l.cell = c.code " +
        "JOIN a2 m ON m.vec_id = c.vec_id " +
        "JOIN p ON p.query_id = l.query_id AND p.cell = m.cell " +
        "WHERE c.vec_id <> l.query_id GROUP BY 1, 2), " +
        "r AS (SELECT query_id, vec_id, adist, ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY adist, vec_id) AS rnk FROM sc) "

  private val Q90AdcSqlCtes: String = q90AdcSqlCtesFor(1, 5)

  /** The residual-PQ ADC scores (query_id, vec_id, adist) — q96's
    * serving chain up to the top-k (per-(query, probed cell) LUT, the
    * residual-PQ subtlety). Shared by q96 (rank by ADC) and q137
    * (shortlist + exact re-rank — FAISS IndexIVFPQR). */
  private[queries] def ivfpqResAdcScored(s: SparkSession, d: String): DataFrame = {
    val (_, probeCents, _) = lloydShared(s, d)
    ivfpqResAdcScoredFrom(s, d, pqResBooks(s, d), pqResCodes(s, d), probeCents)
  }

  /** [[ivfpqResAdcScored]] over EXPLICIT index components (the residual
    * sibling of [[ivfpqAdcScoredFrom]]) — the chain a persisted
    * residual index (q141) serves through with no session-cache
    * training. The coarse centroids matter twice here: probe ranking
    * AND the query's per-probed-cell residual — both read the loaded
    * set, so a stale/mismatched store cannot half-work. */
  private[queries] def ivfpqResAdcScoredFrom(s: SparkSession, d: String,
      books: Seq[Seq[KMeansLloyd.Centroid]], member: DataFrame,
      probeCents: Seq[KMeansLloyd.Centroid]): DataFrame = {
    import s.implicits._
    val vecs = Tables(s, d, "embeddings")
      .select(col("vec_id"), KMeansLloyd.quantize(col("embedding")).as("xi"))
    val probes = KMeansLloyd.probeCells(
        vecs.where(col("vec_id").between(1, 5)), probeCents, nProbe = 2)
      .select(col("vec_id").as("query_id"), col("cell").as("pcell"), col("xi"))
    // the query's residual w.r.t. EACH probed cell's centroid
    val centP = probeCents.foldLeft(lit(null).cast("array<bigint>")) { (acc, c) =>
      when(col("pcell") === c.cell, array(c.ci.map(lit(_)): _*)).otherwise(acc) }
    val qsub = probes
      .select(col("query_id"), col("pcell"),
        zip_with(col("xi"), centP, (a, b) => a - b).as("xi"))
      .select(col("query_id"), col("pcell"),
        posexplode(array((0 until PqM).map(sub =>
          expr(s"slice(xi, ${sub * PqSubDim + 1}, $PqSubDim)")): _*))
          .as(Seq("sub", "sx")))
    val bookDf = (for { sub <- 0 until PqM; c <- books(sub) }
      yield (sub, c.cell.toLong, c.ci.toSeq)).toDF("sub", "cw_cell", "cw")
    val lut = qsub.join(bookDf, Seq("sub"))
      .select(col("query_id"), col("pcell"), col("sub"), col("cw_cell"),
        aggregate(zip_with(col("sx"), col("cw"), (x, y) => (x - y) * (x - y)),
          lit(0L), (a, v) => a + v).as("dist"))
    val scored = member.join(broadcast(lut),
        member("cell") === lut("pcell") &&
          member("sub") === lut("sub") &&
          member("code") === lut("cw_cell") &&
          col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("dist")).as("adist"))
    scored
  }

  /** The q96 oracle CTE chain ending in the residual-ADC rank relation
    * `r` — shared by q96 and q137 (rnk cut + exact re-rank over the
    * same `comps`). */
  private val Q96AdcSqlCtes: String =
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "comps AS (SELECT vec_id, i AS d, CAST(floor(v[i+1] * 1000000 + 0.5) AS BIGINT) AS xi " +
        "FROM e CROSS JOIN (SELECT UNNEST(range(0,64)) AS i) ix), " +
        "c0 AS (SELECT vec_id AS cell, d, xi AS ci FROM comps WHERE vec_id < 4), " +
        "d1 AS (SELECT c.vec_id, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
        "FROM comps c JOIN c0 k USING (d) GROUP BY 1, 2), " +
        "a1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d1) WHERE rn = 1), " +
        "c1 AS (SELECT a.cell, c.d, CAST(floor(CAST(SUM(c.xi) AS DOUBLE)/COUNT(*) + 0.5) AS BIGINT) AS ci " +
        "FROM comps c JOIN a1 a USING (vec_id) GROUP BY 1, 2), " +
        "d2 AS (SELECT c.vec_id, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
        "FROM comps c JOIN c1 k USING (d) GROUP BY 1, 2), " +
        "a2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d2) WHERE rn = 1), " +
        "p AS (SELECT vec_id AS query_id, cell FROM (SELECT vec_id, cell, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d2 WHERE vec_id BETWEEN 1 AND 5) " +
        "WHERE rn <= 2), " +
        "rcm AS (SELECT c.vec_id, CAST(c.d // 4 AS BIGINT) AS sub, c.d % 4 AS sd, " +
        "c.xi - k.ci AS xi FROM comps c JOIN a2 a ON a.vec_id = c.vec_id " +
        "JOIN c1 k ON k.cell = a.cell AND k.d = c.d), " +
        "pc0 AS (SELECT sub, vec_id AS cell, sd, xi AS ci FROM rcm WHERE vec_id < 32), " +
        "pd1 AS (SELECT c.vec_id, c.sub, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
        "FROM rcm c JOIN pc0 k ON k.sub = c.sub AND k.sd = c.sd GROUP BY 1, 2, 3), " +
        "pa1 AS (SELECT vec_id, sub, cell FROM (SELECT vec_id, sub, cell, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id, sub ORDER BY dist, cell) AS rn FROM pd1) WHERE rn = 1), " +
        "pc1 AS (SELECT a.sub, a.cell, c.sd, CAST(floor(CAST(SUM(c.xi) AS DOUBLE)/COUNT(*) + 0.5) AS BIGINT) AS ci " +
        "FROM rcm c JOIN pa1 a ON a.vec_id = c.vec_id AND a.sub = c.sub GROUP BY 1, 2, 3), " +
        "pd2 AS (SELECT c.vec_id, c.sub, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
        "FROM rcm c JOIN pc1 k ON k.sub = c.sub AND k.sd = c.sd GROUP BY 1, 2, 3), " +
        "codes AS (SELECT vec_id, sub, cell AS code FROM (SELECT vec_id, sub, cell, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, cell) AS rn FROM pd2) WHERE rn = 1), " +
        "qr AS (SELECT p.query_id, p.cell AS pcell, CAST(c.d // 4 AS BIGINT) AS sub, " +
        "c.d % 4 AS sd, c.xi - k.ci AS xi FROM p JOIN comps c ON c.vec_id = p.query_id " +
        "JOIN c1 k ON k.cell = p.cell AND k.d = c.d), " +
        "lut AS (SELECT q.query_id, q.pcell, q.sub, k.cell, " +
        "SUM((q.xi - k.ci)*(q.xi - k.ci)) AS dist FROM qr q " +
        "JOIN pc1 k ON k.sub = q.sub AND k.sd = q.sd GROUP BY 1, 2, 3, 4), " +
        "mem AS (SELECT c.vec_id, a.cell, c.sub, c.code FROM codes c JOIN a2 a USING (vec_id)), " +
        "sc AS (SELECT l.query_id, m.vec_id, CAST(SUM(l.dist) AS BIGINT) AS adist " +
        "FROM mem m JOIN lut l ON l.pcell = m.cell AND l.sub = m.sub AND l.cell = m.code " +
        "WHERE m.vec_id <> l.query_id GROUP BY 1, 2), " +
        "r AS (SELECT query_id, vec_id, adist, ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY adist, vec_id) AS rnk FROM sc) "

  private lazy val Q137Def: QueryDef = QueryDef("q137_ivfpqr_refine",
    // Refine on the RESIDUAL chain — FAISS IndexIVFPQR: q96's
    // per-(query, probed cell) residual ADC produces the shortlist,
    // the exact integer re-rank repairs its quantization inversions —
    // the same [[RefineShortlist]]/top-3 contract as q136, composed on
    // the by_residual=true scorer. One serving stack now covers both
    // FAISS defaults (raw-PQ q90 → q136, residual-PQ q96 → q137) with
    // the refine tail literally shared: the oracle appends the
    // IDENTICAL shortlist-cut + exact-distance SQL to q96's CTE chain
    // (both chains expose `r` over the same `comps`), and the Spark
    // side reuses the q136 refine stage over q96's score relation.
    (s, d) => refineStage(s, d, ivfpqResAdcScored(s, d)),
    Some(Q96AdcSqlCtes + RefineSqlTail))

  /** The shared refine tail (q136/q137): ADC top-[[RefineShortlist]]
    * shortlist, shortlist-only join to the full-precision quantized
    * vectors, exact integer squared-distance top-3. */
  private def refineStage(s: SparkSession, d: String,
      scored: DataFrame): DataFrame = {
    import graft.operators.KMeansLloyd
    def topBy(k: Int) = udaf(new graft.functions.TopKRows(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
    val shortlist = scored
      .select(col("query_id"), col("vec_id"), (-col("adist")).cast("double").as("negd"))
      .groupBy(col("query_id"))
      .agg(topBy(RefineShortlist)(col("negd"), col("vec_id"), lit(0L)).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e._2").as("vec_id"))
    val vecs = Tables(s, d, "embeddings")
      .select(col("vec_id"), KMeansLloyd.quantize(col("embedding")).as("xi"))
    val exact = shortlist
      .join(broadcast(vecs.select(col("vec_id").as("query_id"), col("xi").as("qx"))
        .where(col("query_id").between(1, 5))), Seq("query_id"))
      .join(vecs.select(col("vec_id"), col("xi").as("nx")), Seq("vec_id"))
      .select(col("query_id"), col("vec_id"),
        aggregate(zip_with(col("qx"), col("nx"), (x, y) => (x - y) * (x - y)),
          lit(0L), (a, v) => a + v).as("edist"))
    exact
      .select(col("query_id"), col("vec_id"), (-col("edist")).cast("double").as("negd"))
      .groupBy(col("query_id"))
      .agg(topBy(3)(col("negd"), col("vec_id"), lit(0L)).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).as("rnk"),
        col("e._2").as("neighbor_id"), (-col("e._1")).cast("long").as("edist"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** The shared refine ORACLE tail appended to either ADC CTE chain
    * (q90's or q96's — both end in `r` over the same `comps`). */
  private lazy val RefineSqlTail: String =
    s", short AS (SELECT query_id, vec_id FROM r WHERE rnk <= $RefineShortlist), " +
      "ex AS (SELECT s.query_id, s.vec_id, CAST(SUM((a.xi - b.xi)*(a.xi - b.xi)) AS BIGINT) AS edist " +
      "FROM short s JOIN comps a ON a.vec_id = s.query_id " +
      "JOIN comps b ON b.vec_id = s.vec_id AND b.d = a.d GROUP BY 1, 2), " +
      "rr AS (SELECT query_id, vec_id, edist, ROW_NUMBER() OVER (PARTITION BY query_id " +
      "ORDER BY edist, vec_id) AS rnk FROM ex) " +
      "SELECT query_id, rnk, vec_id AS neighbor_id, edist FROM rr WHERE rnk <= 3 " +
      "ORDER BY query_id, rnk"

  /** q136's shortlist depth: ADC keeps this many candidates per query
    * for the exact re-rank. The refine trade (FAISS IndexRefineFlat):
    * exact distances are computed for R candidates instead of the
    * whole probe set, so the full-precision vector reads are bounded
    * by R·queries while the ranking quality recovers from PQ
    * quantization error wherever the true neighbor was shortlisted. */
  private val RefineShortlist = 10

  private lazy val Q136Def: QueryDef = QueryDef("q136_ivfpq_refine",
    // IVFPQ + exact re-rank — FAISS IndexRefineFlat, the standard
    // serving pattern stacked on q90: the ADC scores over the probed
    // cells produce a top-[[RefineShortlist]] SHORTLIST per query
    // (bounded TopKRows fold, no window), the shortlist alone joins
    // back to the full-precision quantized vectors (R rows per query —
    // at 10⁹ vectors the refine step reads 10 exact vectors per query
    // while ADC scanned ~nProbe·n/k codes), and the exact integer
    // squared distance re-ranks it to a top-3. Re-ranking repairs PQ
    // quantization inversions wherever the true neighbor made the
    // shortlist — AnnRefineSpec pins an actual fixture inversion (ADC
    // order ≠ exact order inside the shortlist) so the stage is
    // provably load-bearing, plus shortlist containment and the
    // never-worse-than-ADC-top-1 guarantee. Everything stays in the
    // quantized-integer doctrine end to end, so shortlist + re-rank
    // are oracle-hashable (q90's CTE chain shared verbatim + a
    // rnk <= R cut + one exact-distance join).
    (s, d) => refineStage(s, d, ivfpqAdcScored(s, d)),
    Some(Q90AdcSqlCtes + RefineSqlTail))

  /** Deterministic hyperplane-LSH candidate pairs (the q55 generation
    * stage), memoized per (session, dir) and lineage-truncated — shared
    * by q55 (near-dup verification) and q115 (margin pair mining), the
    * retrieval stage both build on. */
  private val lshCandCache = new graft.SessionCache[DataFrame](_ => ())
  private[queries] def lshCandidatePairs(s: SparkSession, d: String): DataFrame =
    lshCandCache.getOrElseUpdate(s, d, lshCandidatePairsUncached(s, d).localCheckpoint(true))

  // ---- persisted-index entries (VERDICT r12 item 2: the FAISS
  // write_index/read_index analog — without these every cold session
  // retrained the q136/q96 heads) -------------------------------------

  /** Stable per-corpus store dirs: one save, many loads within a
    * Verify/Bench JVM (q140/q141 reload what q139 — or their own
    * ensure-step — committed). Keyed on the SANITIZED PATH, not
    * String.hashCode — two corpus paths with colliding hashes would
    * silently share a store and serve one corpus's persisted index for
    * the other's queries (ADVICE r13). */
  private def corpusKey(d: String): String =
    d.replaceAll("[^A-Za-z0-9._-]", "_")
  private def pqStoreDir(d: String): String = graft.util.Scratch.stableDir(
    "annstore-ivfpq-" + corpusKey(d))
  private def pqResStoreDir(d: String): String = graft.util.Scratch.stableDir(
    "annstore-ivfpqr-" + corpusKey(d))

  /** Train (via the session caches) and persist the raw-PQ serving
    * index: coarse centroids + codebooks + the code table with the
    * coarse cell attached (the serving shape [[ivfpqAdcScoredFrom]]
    * probes). Returns the store dir. */
  private def buildAndSavePq(s: SparkSession, d: String): String = {
    import graft.operators.AnnIndexStore
    val dir = pqStoreDir(d)
    val (assigned, probeCents, _) = lloydShared(s, d)
    val member = pqCodes(s, d)
      .join(assigned.select(col("vec_id"), col("cell")), "vec_id")
    AnnIndexStore.saveIvfPq(s, dir, AnnIndexStore.KindIvfPq, probeCents,
      pqBooks(s, d), member)
    dir
  }

  /** Train and persist the residual-PQ index (q96's design). */
  private def buildAndSavePqRes(s: SparkSession, d: String): String = {
    import graft.operators.AnnIndexStore
    val dir = pqResStoreDir(d)
    val (_, probeCents, _) = lloydShared(s, d)
    AnnIndexStore.saveIvfPq(s, dir, AnnIndexStore.KindIvfPqR, probeCents,
      pqResBooks(s, d), pqResCodes(s, d))
    dir
  }

  /** Serve q136's refine query ENTIRELY from a committed store —
    * codebooks/centroids via two bounded collects, codes as a parquet
    * scan — plus lake reads for query vectors and the exact side. The
    * session caches are never consulted, so this works in a session
    * that has trained nothing. */
  private def servePqRefineFromStore(s: SparkSession, d: String,
      dir: String): DataFrame = {
    import graft.operators.AnnIndexStore
    require(AnnIndexStore.loadManifest(dir).kind == AnnIndexStore.KindIvfPq)
    refineStage(s, d, ivfpqAdcScoredFrom(s, d,
      AnnIndexStore.loadBooks(s, dir), AnnIndexStore.loadCodes(s, dir),
      AnnIndexStore.loadCentroids(s, dir)))
  }

  /** q96's ADC top-3 tail, factored so the persisted-index serve
    * (q141) and the in-session entry share it verbatim. */
  private def adcTop3Stage(scored: DataFrame): DataFrame = {
    val topk = udaf(new graft.functions.TopKRows(3),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
    scored
      .select(col("query_id"), col("vec_id"), (-col("adist")).cast("double").as("negd"))
      .groupBy(col("query_id"))
      .agg(topk(col("negd"), col("vec_id"), lit(0L)).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).as("rnk"),
        col("e._2").as("neighbor_id"), (-col("e._1")).cast("long").as("adist"))
      .orderBy(col("query_id"), col("rnk"))
  }

  private lazy val Q139Def: QueryDef = QueryDef("q139_ivfpq_index_persist",
    // SAVE the trained index, then serve FROM THE STORE in the same
    // session: train (session caches), write coarse centroids +
    // codebooks + code table as parquet component dirs behind a
    // manifest commit record (AnnIndexStore — the FAISS write_index
    // analog), then answer q136's refine query reading ONLY the store
    // + the lake. The hash gate (q136's oracle verbatim) certifies the
    // round trip: any quantization loss, column drift, or codebook
    // reorder in save/load would change the served top-3. This entry
    // is the COLD head a deployment pays once; q140 is the warm load
    // path every later session pays instead of retraining.
    (s, d) => servePqRefineFromStore(s, d, buildAndSavePq(s, d)),
    Some(Q90AdcSqlCtes + RefineSqlTail))

  private lazy val Q140Def: QueryDef = QueryDef("q140_ivfpq_index_reload",
    // RELOAD in a FRESH SESSION and serve without retraining — the
    // claim that makes persistence real: a new SparkSession (fresh
    // catalog, fresh session caches — `newSession()` shares only the
    // SparkContext, exactly what a separate serving deployment shares
    // with the trainer via the lake) opens the committed store, does
    // two bounded collects (centroids, codebooks) + a codes scan, and
    // answers q136's query with the IDENTICAL hash. The ensure-step
    // builds the store if this entry runs standalone; in a full
    // Verify/Bench pass q139 has already committed it, so this entry's
    // wall-clock IS the load cost — the number that replaces the
    // q136/q96 sf1 cold heads (52/44 s) in a serving session.
    (s, d) => {
      val dir = if (graft.operators.AnnIndexStore.committed(pqStoreDir(d)))
        pqStoreDir(d) else buildAndSavePq(s, d)
      val fresh = s.newSession()
      servePqRefineFromStore(fresh, d, dir)
    },
    Some(Q90AdcSqlCtes + RefineSqlTail))

  private lazy val Q141Def: QueryDef = QueryDef("q141_ivfpqr_index_reload",
    // The residual design (q96 — FAISS IndexIVFPQ by_residual=true)
    // through the same persist → fresh-session reload path. Residual
    // serving needs the coarse centroids TWICE (probe ranking and the
    // query's per-probed-cell residual), so the loaded centroid set is
    // doubly load-bearing — a store that saved post-update centroids
    // instead of assign-time ones would shift both and fail the hash.
    (s, d) => {
      val dir = if (graft.operators.AnnIndexStore.committed(pqResStoreDir(d)))
        pqResStoreDir(d) else buildAndSavePqRes(s, d)
      val fresh = s.newSession()
      import graft.operators.AnnIndexStore
      require(AnnIndexStore.loadManifest(dir).kind == AnnIndexStore.KindIvfPqR)
      adcTop3Stage(ivfpqResAdcScoredFrom(fresh, d,
        AnnIndexStore.loadBooks(fresh, dir), AnnIndexStore.loadCodes(fresh, dir),
        AnnIndexStore.loadCentroids(fresh, dir)))
    },
    Some(Q96AdcSqlCtes +
      " SELECT query_id, rnk, vec_id AS neighbor_id, adist FROM r WHERE rnk <= 3 " +
      "ORDER BY query_id, rnk"))

  private lazy val Q144Def: QueryDef = QueryDef("q144_ivfpq_serving_sla",
    // SERVING AT REQUEST SCALE from the persisted index (VERDICT r13
    // item 6): a batch of 100 queries answered in a FRESH session from
    // the committed store — one manifest read + two bounded collects
    // (centroids, codebooks), then ADC over the probed cells' codes
    // only; no session cache, no retraining, no exact-side corpus read
    // (the refine entries carry that; this is the pure index-serving
    // SLA surface). Oracle = the q90 chain verbatim with the query
    // range widened to 1..100, so the batch result is hash-certified
    // at both tiers. The LATENCY half lives in Bench's serving-SLA
    // block ([[servingSlaLatenciesMs]]): the same store, the same
    // per-query math, driver-side probe ranking + LUT (the FAISS
    // serving shape — the query vector arrives with the request, so
    // nothing scans the corpus), one plan per query over the PINNED
    // codes relation, p50/p95 recorded in BENCH_QUERIES.json.
    (s, d) => {
      val dir = if (graft.operators.AnnIndexStore.committed(pqStoreDir(d)))
        pqStoreDir(d) else buildAndSavePq(s, d)
      val fresh = s.newSession()
      import graft.operators.AnnIndexStore
      require(AnnIndexStore.loadManifest(dir).kind == AnnIndexStore.KindIvfPq)
      adcTop3Stage(ivfpqAdcScoredFrom(fresh, d,
        AnnIndexStore.loadBooks(fresh, dir), AnnIndexStore.loadCodes(fresh, dir),
        AnnIndexStore.loadCentroids(fresh, dir), qLo = 1, qHi = 100))
    },
    Some(q90AdcSqlCtesFor(1, 100) +
      " SELECT query_id, rnk, vec_id AS neighbor_id, adist FROM r WHERE rnk <= 3 " +
      "ORDER BY query_id, rnk"))

  /** Per-query serving latencies (ms) against the LOADED index — the
    * Bench serving-SLA block behind q144. Load cost is paid once
    * (manifest + two bounded collects + pinning the codes relation —
    * the inverted file a serving deployment holds resident); each query
    * then costs driver-side probe ranking over k centroids and an
    * m·ksub LUT (the FAISS per-request math — the query vector arrives
    * with the request, so NOTHING scans the corpus: the plan-guard
    * below asserts no file scan in the per-query plan) plus one
    * broadcast-LUT aggregation over the probed cells' pinned codes.
    * Returns one wall-clock per query, warm-up excluded. */
  private[graft] def servingSlaLatenciesMs(s: SparkSession, d: String,
      nQueries: Int = 100): Seq[Double] = {
    val (qvecs, serveOne) = servingSlaSetup(s, d, nQueries)
    // warm-up: first execution pays codegen + broadcast-machinery JIT
    serveOne(qvecs.head._1, qvecs.head._2)
    qvecs.map { case (qid, xi) => serveOne(qid, xi) }.toSeq
  }

  /** The CONCURRENT-sessions serving probe (VERDICT r14 item 8): the
    * single-stream p50 of ~160 ms is dominated by the local-mode
    * per-job scheduling floor, and the r14 notes CLAIMED a deployment
    * amortizes it across concurrent serving queries without measuring
    * it. This measures it: `nThreads` request streams share the one
    * pinned index and submit their per-query jobs concurrently (guide
    * §2.6 — Spark runs several jobs at once; FIFO back-fill), so if
    * the floor is scheduling rather than compute, aggregate throughput
    * rises and per-query latency holds near the N=1 number instead of
    * rising ~N×. Reported beside the N=1 block in the bench artifact. */
  private[graft] def servingSlaLatenciesConcurrentMs(s: SparkSession,
      d: String, nQueries: Int = 100, nThreads: Int = 4): Seq[Double] = {
    val (qvecs, serveOne) = servingSlaSetup(s, d, nQueries)
    serveOne(qvecs.head._1, qvecs.head._2) // codegen/broadcast warm-up
    concurrentLatenciesMs(qvecs, nThreads)(serveOne)
  }

  /** Serves `qvecs` from `nThreads` threads (contiguous slices) and
    * returns one latency per request. A worker that throws or does not
    * finish in time fails the probe — with the first worker's error as
    * the cause — instead of leaving a short sample to read as a p50. */
  private[graft] def concurrentLatenciesMs(qvecs: Array[(Long, Array[Long])],
      nThreads: Int)(serveOne: (Long, Array[Long]) => Double): Seq[Double] = {
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val slices = qvecs.grouped(
      math.max(1, (qvecs.length + nThreads - 1) / nThreads)).toSeq
    val threads = slices.zipWithIndex.map { case (slice, i) =>
      val t = new Thread(() => {
        try slice.foreach { case (qid, xi) => lat.add(serveOne(qid, xi)) }
        catch { case e: Throwable => errors.add(e) }
      }, s"serving-sla-$i")
      t.setDaemon(true); t.start(); t
    }
    threads.foreach(_.join(120000))
    import scala.jdk.CollectionConverters._
    val out = lat.asScala.toSeq
    if (out.size != qvecs.length)
      throw new IllegalStateException(s"serving probe: ${out.size} of ${qvecs.length} " +
        s"requests completed (${errors.size} worker(s) failed, " +
        s"${threads.count(_.isAlive)} still running)", errors.peek())
    out
  }

  /** Shared setup for the serving-SLA probes: load-and-pin the
    * persisted PQ index, collect the request payloads once, and return
    * the per-query serving closure (latency in ms). */
  private def servingSlaSetup(s: SparkSession, d: String,
      nQueries: Int): (Array[(Long, Array[Long])], (Long, Array[Long]) => Double) = {
    import graft.operators.{AnnIndexStore, KMeansLloyd}
    val dir = if (AnnIndexStore.committed(pqStoreDir(d))) pqStoreDir(d)
      else buildAndSavePq(s, d)
    val serve = s.newSession()
    import serve.implicits._
    val man = AnnIndexStore.loadManifest(dir)
    val cents = AnnIndexStore.loadCentroids(serve, dir)
    val books = AnnIndexStore.loadBooks(serve, dir)
    val codes = AnnIndexStore.loadCodes(serve, dir).localCheckpoint(true)
    // the request payloads: nQueries quantized vectors, collected once
    val qvecs = Tables(serve, d, "embeddings")
      .where(col("vec_id").between(1, nQueries))
      .select(col("vec_id"), KMeansLloyd.quantize(col("embedding")).as("xi"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    def serveOne(qid: Long, xi: Array[Long]): Double = {
      val t0 = System.nanoTime()
      val probed = cents.map(c => (c.cell,
          c.ci.zip(xi).map { case (a, b) => val dd = a - b; dd * dd }.sum))
        .sortBy { case (cell, dist) => (dist, cell) }.take(2).map(_._1)
      val lut = for { sub <- 0 until man.m; cw <- books(sub) } yield {
        val sx = xi.slice(sub * man.subDim, (sub + 1) * man.subDim)
        (sub, cw.cell,
          sx.zip(cw.ci).map { case (a, b) => val dd = a - b; dd * dd }.sum)
      }
      val top = codes
        .where(col("cell").isin(probed.map(Int.box): _*) &&
          col("vec_id") =!= qid)
        .join(broadcast(lut.toDF("sub", "code", "qd")), Seq("sub", "code"))
        .groupBy(col("vec_id")).agg(sum(col("qd")).as("adist"))
        .orderBy(col("adist"), col("vec_id")).limit(3)
      // the SLA plan guard: nothing in the per-query plan reads a file
      // — the corpus never enters (query vector is a literal payload,
      // the inverted file is the pinned relation)
      require(!top.queryExecution.executedPlan.toString.contains("FileScan"),
        "serving plan reads a file - the SLA path must serve from the pinned index")
      val rows = top.collect()
      require(rows.nonEmpty, s"query $qid served no neighbors")
      (System.nanoTime() - t0) / 1e6
    }
    (qvecs, serveOne)
  }

  /** Code-width rule (VERDICT r10 item 3): at a FIXED width the
    * per-band bucket population is n / 2^bits, so candidate volume —
    * and with it q55/q115's verify cost — grows ∝ n² / 2^bits: the sf1
    * sweep measured exactly that (q115 27 s, q55 13 s at 10× data,
    * fixed 8-bit bands). Linking the width to log₂ n keeps expected
    * bucket occupancy — hence per-item candidate fan-out — constant as
    * the corpus grows: bits = max(8, bitlen(n) − 3), i.e. ~2³ = 8
    * expected members per bucket, the fixture-tier operating point.
    * At the oracle tiers (n = 200 / 2 000, bitlen ≤ 11) the rule
    * yields exactly the historical 8 bits, so hashes are unchanged
    * there; at sf1 (n = 20 000) it widens to 12 bits and the DuckDB
    * CTE derives the SAME width from COUNT(*) via LENGTH(BIN(n)) —
    * both engines stay bit-identical at every scale. Bands stay at 8
    * and multi-probe stays 1-bit, so recall per band is preserved by
    * construction (the recall-floor specs pin it at fixture scale). */
  private[queries] def lshBandBits(n: Long): Int =
    math.max(8, (64 - java.lang.Long.numberOfLeadingZeros(math.max(n, 1L))) - 3)

  private def lshCandidatePairsUncached(s: SparkSession, d: String): DataFrame = {
        // one bounded count drives the width (memoized with the pairs)
        val bandBits = lshBandBits(Tables(s, d, "embeddings").count())
        // sign projections as ONE native per-row expression
        // (functions/LshCodes — the MinHashBands lesson on the vector
        // side): the former explode → broadcast-join(±1 md5-parity
        // planes) → two groupBys shuffled an O(n · 64 · 8·bits)
        // component×plane intermediate (~700M rows at 100k vectors) to
        // compute what is a pure per-row function; the code build is
        // now a MAP-ONLY corpus scan at any scale (integer parity with
        // the chain is spec-pinned — LshCodesSpec replays the old
        // chain verbatim). Codes feed the probe expansion, the hot-key
        // census, AND the capped build side (3 plan references) —
        // materialize once, lineage truncated (the round-8
        // localCheckpoint doctrine).
        val codes = Tables(s, d, "embeddings")
          .select(col("vec_id"), posexplode(
            org.apache.spark.sql.graftbridge.ColumnBridge.column(
              graft.functions.LshCodes(
                org.apache.spark.sql.graftbridge.ColumnBridge.expression(
                  col("embedding")), bandBits))).as(Seq("band", "code")))
          .localCheckpoint(true)
        // multi-probe: expand one side to the exact bucket + its
        // bandBits one-bit flips; equi-join covers every pair within
        // hamming 1
        val probes = codes
          .select(col("vec_id"), col("band"), col("code"),
            explode(array(lit(-1) +: (0 until bandBits).map(lit(_)): _*)).as("k"))
          .select(col("vec_id"), col("band"),
            when(col("k") < 0, col("code"))
              .otherwise(expr("code ^ shiftleft(1L, k)")).as("probe"))
        // hot-bucket skew cap (LlmText.HotBucketCap doctrine): cap the
        // BUILD side only — each probe row then matches ≤ cap codes, so
        // candidate fan-out is linear in n with a constant bound, while
        // hot-bucket members keep probing OTHER (small) buckets via their
        // bit flips. Fixture buckets max 33 at sf0.1 (measured) — far
        // under the cap, so oracle hashes are unaffected.
        val hotKeys = codes.groupBy(col("band"), col("code"))
          .agg(count(lit(1)).as("bsz"))
          .where(col("bsz") > LlmText.HotBucketCap)
          .select(col("band"), col("code"))
        val codesCapped = codes.join(hotKeys, Seq("band", "code"), "left_anti")
        probes.as("x").join(codesCapped.as("y"),
            col("x.band") === col("y.band") && col("x.probe") === col("y.code") &&
              col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b")).distinct()
  }

  /** DuckDB CTE chain ending in `cand(vec_a, vec_b)` + `e(vec_id, v)` —
    * mirrors [[lshCandidatePairs]] (md5-parity hyperplanes, integer
    * sign projections, 1-bit multi-probe). The fixture has no bucket
    * over the hot cap, so the oracle omits the cap (documented at the
    * Spark-side census). */
  private val LshCandSqlCtes: String =
      // params mirrors lshBandBits: bitlen(n) = LENGTH(BIN(n)), so the
      // oracle derives the SAME corpus-linked code width the engine
      // uses — 8 bits at the oracle tiers (hashes unchanged), wider as
      // the corpus grows (see the lshBandBits scaladoc)
      ("params AS (SELECT GREATEST(8, LENGTH(BIN(COUNT(*))) - 3) AS bb FROM embeddings), " +
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "planes AS (SELECT p, d, CASE WHEN CAST(('0x' || substring(md5(p || ':' || d),1,1)) AS INT) % 2 = 1 " +
        "THEN 1 ELSE -1 END AS w FROM (SELECT UNNEST(range(0, (SELECT 8*bb FROM params))) AS p) pp " +
        "CROSS JOIN (SELECT UNNEST(range(0,64)) AS d) dd), " +
        "comps AS (SELECT vec_id, i AS d, CAST(floor(v[i+1] * 1000000 + 0.5) AS BIGINT) AS xi " +
        "FROM e CROSS JOIN (SELECT UNNEST(range(0,64)) AS i) ix), " +
        "dots AS (SELECT vec_id, p, SUM(w * xi) AS sgn FROM comps c JOIN planes pl ON pl.d = c.d " +
        "GROUP BY vec_id, p), " +
        "codes AS (SELECT vec_id, p // (SELECT bb FROM params) AS band, SUM(CASE WHEN sgn >= 0 " +
        "THEN (CAST(1 AS BIGINT) << (p % (SELECT bb FROM params))) ELSE 0 END) AS code " +
        "FROM dots GROUP BY vec_id, band), " +
        "probes AS (SELECT vec_id, band, CASE WHEN k < 0 THEN code " +
        "ELSE xor(code, CAST(1 AS BIGINT) << k) END AS probe FROM codes " +
        "CROSS JOIN (SELECT UNNEST(range(-1, (SELECT bb FROM params))) AS k) kk), " +
        "cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b FROM probes x " +
        "JOIN codes y ON x.band = y.band AND x.probe = y.code AND x.vec_id < y.vec_id)")

  /** Argmin DISTANCE for subspace `sub` (the [[pqSubCode]] sibling —
    * same scored struct array, dist field instead of cell): the row's
    * exact integer quantization error against its nearest codeword. */
  private def pqSubDist(sub: Int, cents: Seq[KMeansLloyd.Centroid]): Column = {
    // NOTE (measured, round 8): keep the aggregate/zip_with form. The
    // "obvious" codegen-friendly rewrite — unrolling the 4-dim L2 as
    // 16×32×4 getItem/lit arithmetic terms — blows the generated
    // method past JIT limits and runs 6× SLOWER (13 s vs 2 s at
    // sf0.1). The higher-order form evaluates interpreted but with a
    // small bounded tree; its cost is parallelized away by the
    // repartition(32) before the pvecs checkpoint.
    val sl = expr(s"slice(xi, ${sub * PqSubDim + 1}, $PqSubDim)")
    val scored = array(cents.map { c =>
      val lits = array(c.ci.map(lit(_)): _*)
      struct(
        aggregate(zip_with(sl, lits, (x, y) => (x - y) * (x - y)),
          lit(0L), (a, v) => a + v).as("dist"),
        lit(c.cell.toLong).as("cell"))
    }: _*)
    array_min(scored).getField("dist")
  }

  /** n ≤ this ⇒ the exact n·Σx²−(Σx)² variance key is int64-safe at
    * worst-case |x| ≤ √2·10⁶ (the q116b bound: n·Σx² ≤ n²·2·10¹²).
    * Shared by the engine ([[varianceKeys]]) and the DuckDB oracles
    * ([[vkCteSql]] interpolates it), so the two sides cannot drift. */
  private[queries] val VarKeySafeN = 2048L

  /** Per-dimension integer variance keys for the OPQ allocation stages
    * (VERDICT r10 item 4 — the overflow remedy, implemented): for
    * corpora up to [[VarKeySafeN]] rows the key is the exact rational
    * n·Σx²−(Σx)²; beyond it the components are FLOOR-scaled to
    * centi-units first (x → ⌊x/100⌋, exactly as the entry comment
    * documented), shrinking the worst-case key by 10⁴ and extending
    * int64 safety to n ≈ 2·10⁵ (beyond that, widen the divisor — the
    * rule, not the constant, is the contract). Ranking semantics are
    * preserved up to quantization ties, which the dd tiebreak resolves
    * identically on both engines; floor (not truncate-toward-zero)
    * division is used because DuckDB's `//` floors and Spark's `div`
    * truncates — floor(x/100.0) is bit-identical on both. Returns the
    * bounded 64-row collect both call sites feed to the driver-side
    * deal. */
  private[queries] def varianceKeys(vecs: DataFrame, n: Long): Array[(Int, Long)] = {
    val xs = if (n <= VarKeySafeN) col("x")
      else expr("CAST(floor(x / 100.0) AS BIGINT)")
    vecs
      .select(posexplode(col("xi")).as(Seq("dd", "x")))
      .select(col("dd"), xs.as("x"))
      .groupBy(col("dd"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("dd"), (col("n") * col("sxx") - col("sx") * col("sx")).as("vk"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
  }

  /** q116's trained permuted index — (dealt perm, permuted vectors,
    * codebooks), memoized per (session, dir) like [[pqBooks]]: train
    * once, serve the entry and every bench repetition. */
  private val opqCache = new graft.SessionCache[
    (Seq[(Int, Int, Int, Long)], DataFrame, Seq[Seq[KMeansLloyd.Centroid]])](_ => ())

  private lazy val Q116Def: QueryDef = QueryDef("q116_opq_balanced_pq",
    // OPQ, parametric form (Ge et al., CVPR 2013 "Optimized Product
    // Quantization", the OPQ-P variant; FAISS OPQMatrix's cheap
    // baseline): PQ's distortion depends on how dimensions are
    // ALLOCATED to subspaces — contiguous slicing (q89) can put all
    // high-variance dimensions in one codebook (32 codewords must
    // cover a wide subspace while others idle). OPQ-P rebalances by
    // permutation only: rank dimensions by variance, deal them
    // round-robin so every subspace gets one dimension from each
    // variance tier, then run the UNCHANGED PQ trainer on the permuted
    // vectors (trainPqBooks is reused verbatim — permutation composes,
    // rotation would need the full OPQ alternation). Output: per
    // subspace, its dealt dimensions, total variance key, and the
    // exact integer training distortion Σ‖x_sub − nearest codeword‖².
    // Everything is deterministic integer math: variance keys are the
    // exact rational n·Σx²−(Σx)² (scaled /1e6 only to keep the per-sub
    // SUM in int64), the 64-row variance agg is the only driver
    // collect (the codebook-seed doctrine), and the full permuted
    // train replays in DuckDB — OPQ-P is oracle-HASHED, which a
    // learned rotation (SVD) could never be. The spec pins the point:
    // balanced allocation's max-to-min subspace variance ratio must
    // collapse vs contiguous, and total distortion must not regress.
    (s, d) => {
      val (perm, pvecs, books) = opqCache.getOrElseUpdate(s, d, {
        val vecs = Tables(s, d, "embeddings")
          .select(col("vec_id"), KMeansLloyd.quantize(col("embedding")).as("xi"))
        // per-dimension variance keys — 64 rows, bounded driver
        // collect; overflow-guarded past VarKeySafeN (varianceKeys)
        val varRows = varianceKeys(vecs, vecs.count())
        // deal dims round-robin by descending variance: rank i →
        // subspace i % m, slot i / m — every subspace gets one dim per
        // variance tier
        val ranked = varRows.sortBy { case (dd, vk) => (-vk, dd) }
        val perm0: Seq[(Int, Int, Int, Long)] = ranked.zipWithIndex.map {
          case ((dd, vk), i) => (i % PqM, i / PqM, dd, vk) }.toSeq
        val order = perm0.sortBy { case (sub, sd, _, _) => (sub, sd) }
        // repartition BEFORE the checkpoint: the parquet scan is one
        // file → one partition, and the distortion pass evaluates
        // 16×32 higher-order aggregate/zip_with lambdas per row
        // (interpreted, not codegen) — single-threaded that scan is
        // ~3 s; spread over the cores it's ~0.2 s. Result is
        // partition-independent (pure per-row expressions + aggs).
        val pv = vecs.select(col("vec_id"),
          array(order.map { case (_, _, dd, _) => col("xi").getItem(dd) }: _*).as("xi"))
          .repartition(32)
          .localCheckpoint(true)
        (perm0, pv, trainPqBooks(pv))
      })
      val dists = pvecs.select(
          posexplode(array((0 until PqM).map(sub =>
            pqSubDist(sub, books(sub))): _*)).as(Seq("sub", "dist")))
        .groupBy(col("sub")).agg(sum(col("dist")).as("distortion"))
      val meta = perm.groupBy(_._1).toSeq.map { case (sub, rows) =>
        val bySlot = rows.sortBy(_._2)
        (sub.toLong, bySlot.map(_._3).mkString(","), bySlot.map(_._4 / 1000000L).sum)
      }
      val metaDf = s.createDataFrame(meta).toDF("sub", "dims", "var_scaled")
      metaDf.join(dists, metaDf("sub") === dists("sub"))
        .select(metaDf("sub"), col("dims"), col("var_scaled"), col("distortion"))
        .orderBy(metaDf("sub"))
    },
    Some("WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "cm AS (SELECT vec_id, i AS dd, CAST(floor(v[i+1] * 1000000 + 0.5) AS BIGINT) AS x " +
      "FROM ev CROSS JOIN (SELECT UNNEST(range(0,64)) AS i) ix), " +
      vkCteSql("vk", "cm") +
      "pm AS (SELECT dd, vk, CAST((rn-1) % 16 AS BIGINT) AS sub, CAST((rn-1) // 16 AS BIGINT) AS sd " +
      "FROM (SELECT dd, vk, ROW_NUMBER() OVER (ORDER BY vk DESC, dd) AS rn FROM vk)), " +
      "comps AS MATERIALIZED (SELECT c.vec_id, p.sub, p.sd, c.x AS xi FROM cm c JOIN pm p USING (dd)), " +
      "c0 AS (SELECT sub, vec_id AS cell, sd, xi AS ci FROM comps WHERE vec_id < 32), " +
      "d1 AS (SELECT c.vec_id, c.sub, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
      "FROM comps c JOIN c0 k ON k.sub = c.sub AND k.sd = c.sd GROUP BY 1, 2, 3), " +
      "a1 AS (SELECT vec_id, sub, cell FROM (SELECT vec_id, sub, cell, ROW_NUMBER() OVER " +
      "(PARTITION BY vec_id, sub ORDER BY dist, cell) AS rn FROM d1) WHERE rn = 1), " +
      "c1 AS (SELECT a.sub, a.cell, c.sd, CAST(floor(CAST(SUM(c.xi) AS DOUBLE)/COUNT(*) + 0.5) AS BIGINT) AS ci " +
      "FROM comps c JOIN a1 a ON a.vec_id = c.vec_id AND a.sub = c.sub GROUP BY 1, 2, 3), " +
      "d2 AS (SELECT c.vec_id, c.sub, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
      "FROM comps c JOIN c1 k ON k.sub = c.sub AND k.sd = c.sd GROUP BY 1, 2, 3), " +
      "amin AS (SELECT vec_id, sub, MIN(dist) AS dist FROM d2 GROUP BY vec_id, sub), " +
      "dst AS (SELECT sub, CAST(SUM(dist) AS BIGINT) AS distortion FROM amin GROUP BY sub), " +
      "meta AS (SELECT sub, STRING_AGG(dd, ',' ORDER BY sd) AS dims, " +
      "CAST(SUM(vk // 1000000) AS BIGINT) AS var_scaled FROM pm GROUP BY sub) " +
      "SELECT m.sub, m.dims, m.var_scaled, d.distortion FROM meta m " +
      "JOIN dst d ON d.sub = m.sub ORDER BY m.sub"))

  /** The guarded variance-key CTE (shared by q116's `vk`, q116b's
    * `vk0`/`vk`): the SQL twin of [[varianceKeys]] — exact key within
    * [[VarKeySafeN]], centi-scaled floor-division key beyond it, both
    * derived from the same COUNT(*) the engine uses, so the oracle
    * switches tiers exactly when the engine does. */
  private def vkCteSql(name: String, src: String): String =
    s"$name AS (SELECT dd, CASE WHEN COUNT(*) <= $VarKeySafeN " +
      "THEN COUNT(*)*SUM(x*x) - SUM(x)*SUM(x) " +
      "ELSE COUNT(*)*SUM(xs*xs) - SUM(xs)*SUM(xs) END AS vk " +
      s"FROM (SELECT dd, x, CAST(floor(x / 100.0) AS BIGINT) AS xs FROM $src) " +
      "GROUP BY dd), "

  /** The 45° Givens constant, as the one shared literal both engines
    * multiply by (cos = sin = 1/√2). Written once so the Spark exprs
    * and the DuckDB oracle cannot drift by a digit. */
  private val GivensC = "0.7071067811865476"

  /** q116b's rotation stage, exposed for the spec's driver-side
    * replay: per-dim integer variance keys rank the dims, rank i pairs
    * with rank 63−i (highest with lowest), and each pair gets one
    * fixed-angle 45° Givens rotation — x'hi = (xhi − xlo)·c,
    * x'lo = (xhi + xlo)·c — re-quantized to integer micro-units with
    * the floor(v + 0.5) recipe. Determinism argument: pair selection
    * is exact integer arithmetic; the rotation is ONE IEEE multiply of
    * an exactly-representable integer difference/sum by one shared
    * literal plus the standard half-up floor — the same
    * finite-op-then-quantize doctrine as q109's ln/÷ (both engines
    * compute bit-identical doubles for identical expression shapes).
    * Returns (pairs as (hiDim, loDim), rotated (vec_id, xi)). */
  private[graft] def opqRotationStage(s: SparkSession, d: String)
      : (Seq[(Int, Int)], DataFrame) = {
    val vecs = Tables(s, d, "embeddings")
      .select(col("vec_id"), KMeansLloyd.quantize(col("embedding")).as("xi"))
    val varRows = varianceKeys(vecs, vecs.count())
    val ranked = varRows.sortBy { case (dd, vk) => (-vk, dd) }
    val pairs = (0 until 32).map(i => (ranked(i)._1, ranked(63 - i)._1))
    val role: Map[Int, (Int, Int, Boolean)] = pairs.flatMap { case (h, l) =>
      Seq(h -> (h, l, true), l -> (h, l, false)) }.toMap
    val rotCols = (0 until 64).map { dd =>
      val (h, l, isHi) = role(dd)
      val inner = if (isHi) s"(CAST(xi[$h] AS DOUBLE) - CAST(xi[$l] AS DOUBLE))"
        else s"(CAST(xi[$h] AS DOUBLE) + CAST(xi[$l] AS DOUBLE))"
      expr(s"CAST(floor($inner * $GivensC + 0.5) AS BIGINT)")
    }
    (pairs, vecs.select(col("vec_id"), array(rotCols: _*).as("xi")))
  }

  private val opqRotCache = new graft.SessionCache[
    (Seq[(Int, Int, Int, Long)], DataFrame, Seq[Seq[KMeansLloyd.Centroid]])](_ => ())

  private lazy val Q116bDef: QueryDef = QueryDef("q116b_opq_rotation",
    // OPQ, deterministic ROTATION form (the r9 stretch item — the one
    // FAISS preprocessing step q116's permutation form left open). The
    // full OPQ alternation solves a Procrustes SVD, whose iterative
    // numerics no cross-engine hash can pin; this is the
    // deterministic-by-construction middle point: a variance-BALANCING
    // fixed-angle Givens pass. Rank dims by exact integer variance,
    // pair rank i with rank 63−i, rotate each pair 45° (the angle that
    // equalizes the pair's variances when their covariance is small —
    // energy actually MIXES across dims, which a permutation can never
    // do), re-quantize to micro-units, then run the UNCHANGED q116
    // pipeline on the rotated vectors: re-rank, round-robin deal,
    // trainPqBooks, per-subspace exact integer distortion. Output
    // shape = q116's (sub, dims, var_scaled, distortion) — `dims` are
    // POST-rotation dim positions, so the two entries' allocations and
    // distortions are directly comparable. Integer-overflow bound for
    // the n·Σx²−(Σx)² variance keys (q116 shares it): worst case
    // |x'| ≤ √2·10⁶ gives n·Σx² ≤ n²·2·10¹², int64-safe only to
    // n ≈ 2100 rows — so past VarKeySafeN BOTH engines switch to the
    // centi-scaled floor key (varianceKeys / vkCteSql; VERDICT r10
    // item 4, implemented round 11), extending safety to n ≈ 2·10⁵.
    // Exercised at the sf1 tier (20 000 vectors) and pinned by
    // OpqVarianceKeySpec's boundary property. Everything replays in
    // DuckDB (rk/pr/rx CTEs) — a learned rotation that is still
    // oracle-HASHED.
    (s, d) => {
      val (perm, pvecs, books) = opqRotCache.getOrElseUpdate(s, d, {
        val (_, rvecs0) = opqRotationStage(s, d)
        val rvecs = rvecs0.repartition(32).localCheckpoint(true)
        val varRows2 = varianceKeys(rvecs, rvecs.count())
        val ranked2 = varRows2.sortBy { case (dd, vk) => (-vk, dd) }
        val perm0: Seq[(Int, Int, Int, Long)] = ranked2.zipWithIndex.map {
          case ((dd, vk), i) => (i % PqM, i / PqM, dd, vk) }.toSeq
        val order = perm0.sortBy { case (sub, sd, _, _) => (sub, sd) }
        val pv = rvecs.select(col("vec_id"),
          array(order.map { case (_, _, dd, _) => col("xi").getItem(dd) }: _*).as("xi"))
          .repartition(32)
          .localCheckpoint(true)
        (perm0, pv, trainPqBooks(pv))
      })
      val dists = pvecs.select(
          posexplode(array((0 until PqM).map(sub =>
            pqSubDist(sub, books(sub))): _*)).as(Seq("sub", "dist")))
        .groupBy(col("sub")).agg(sum(col("dist")).as("distortion"))
      val meta = perm.groupBy(_._1).toSeq.map { case (sub, rows) =>
        val bySlot = rows.sortBy(_._2)
        (sub.toLong, bySlot.map(_._3).mkString(","), bySlot.map(_._4 / 1000000L).sum)
      }
      val metaDf = s.createDataFrame(meta).toDF("sub", "dims", "var_scaled")
      metaDf.join(dists, metaDf("sub") === dists("sub"))
        .select(metaDf("sub"), col("dims"), col("var_scaled"), col("distortion"))
        .orderBy(metaDf("sub"))
    },
    Some("WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "cm AS (SELECT vec_id, i AS dd, CAST(floor(v[i+1] * 1000000 + 0.5) AS BIGINT) AS x " +
      "FROM ev CROSS JOIN (SELECT UNNEST(range(0,64)) AS i) ix), " +
      vkCteSql("vk0", "cm") +
      "rk AS (SELECT dd, ROW_NUMBER() OVER (ORDER BY vk DESC, dd) - 1 AS r FROM vk0), " +
      "pr AS (SELECT a.dd AS hd, b.dd AS ld FROM rk a JOIN rk b ON b.r = 63 - a.r WHERE a.r <= 31), " +
      "rx AS MATERIALIZED (" +
      "SELECT ch.vec_id, p.hd AS dd, " +
      s"CAST(floor((CAST(ch.x AS DOUBLE) - CAST(cl.x AS DOUBLE)) * $GivensC + 0.5) AS BIGINT) AS x " +
      "FROM pr p JOIN cm ch ON ch.dd = p.hd JOIN cm cl ON cl.dd = p.ld AND cl.vec_id = ch.vec_id " +
      "UNION ALL " +
      "SELECT ch.vec_id, p.ld AS dd, " +
      s"CAST(floor((CAST(ch.x AS DOUBLE) + CAST(cl.x AS DOUBLE)) * $GivensC + 0.5) AS BIGINT) AS x " +
      "FROM pr p JOIN cm ch ON ch.dd = p.hd JOIN cm cl ON cl.dd = p.ld AND cl.vec_id = ch.vec_id), " +
      vkCteSql("vk", "rx") +
      "pm AS (SELECT dd, vk, CAST((rn-1) % 16 AS BIGINT) AS sub, CAST((rn-1) // 16 AS BIGINT) AS sd " +
      "FROM (SELECT dd, vk, ROW_NUMBER() OVER (ORDER BY vk DESC, dd) AS rn FROM vk)), " +
      "comps AS MATERIALIZED (SELECT c.vec_id, p.sub, p.sd, c.x AS xi FROM rx c JOIN pm p USING (dd)), " +
      "c0 AS (SELECT sub, vec_id AS cell, sd, xi AS ci FROM comps WHERE vec_id < 32), " +
      "d1 AS (SELECT c.vec_id, c.sub, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
      "FROM comps c JOIN c0 k ON k.sub = c.sub AND k.sd = c.sd GROUP BY 1, 2, 3), " +
      "a1 AS (SELECT vec_id, sub, cell FROM (SELECT vec_id, sub, cell, ROW_NUMBER() OVER " +
      "(PARTITION BY vec_id, sub ORDER BY dist, cell) AS rn FROM d1) WHERE rn = 1), " +
      "c1 AS (SELECT a.sub, a.cell, c.sd, CAST(floor(CAST(SUM(c.xi) AS DOUBLE)/COUNT(*) + 0.5) AS BIGINT) AS ci " +
      "FROM comps c JOIN a1 a ON a.vec_id = c.vec_id AND a.sub = c.sub GROUP BY 1, 2, 3), " +
      "d2 AS (SELECT c.vec_id, c.sub, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
      "FROM comps c JOIN c1 k ON k.sub = c.sub AND k.sd = c.sd GROUP BY 1, 2, 3), " +
      "amin AS (SELECT vec_id, sub, MIN(dist) AS dist FROM d2 GROUP BY vec_id, sub), " +
      "dst AS (SELECT sub, CAST(SUM(dist) AS BIGINT) AS distortion FROM amin GROUP BY sub), " +
      "meta AS (SELECT sub, STRING_AGG(dd, ',' ORDER BY sd) AS dims, " +
      "CAST(SUM(vk // 1000000) AS BIGINT) AS var_scaled FROM pm GROUP BY sub) " +
      "SELECT m.sub, m.dims, m.var_scaled, d.distortion FROM meta m " +
      "JOIN dst d ON d.sub = m.sub ORDER BY m.sub"))

  /** q115 margin threshold (ratio × 1e4): pairs must beat their two
    * endpoints' average retrieved-top-4 similarity by ≥ 2%. */
  private val MarginThresholdE4 = 10200L

  private lazy val Q115Def: QueryDef = QueryDef("q115_margin_pair_mining",
    // Margin-based parallel-pair mining (Artetxe & Schwenk 2019, the
    // CCMatrix/LASER bitext-mining criterion): align items across two
    // embedding SIDES (here `label % 2` stands in for the two
    // languages' encoder outputs) by requiring a candidate pair to be
    // (a) MUTUALLY best and (b) better than either endpoint's average
    // nearest-neighbor similarity by a margin — raw cosine alone
    // over-selects hubs whose similarity to everything is high; the
    // margin normalizes by each point's local density, which is the
    // whole trick. Shape is the production retrieve-then-margin split:
    // candidates come from the SHARED deterministic hyperplane-LSH
    // stage (lshCandidatePairs — one retrieval index serves q55's
    // near-dup and this aligner), margins are computed only over
    // retrieved candidates (as FAISS-based miners do), the per-node
    // top-4 normalizer is a node-keyed window, and mutual-best is one
    // self-join on the ranked relation. All arithmetic is integer-e4
    // rational (exact in double, portable) — the full miner is
    // oracle-hashed end-to-end.
    (s, d) => {
      val sides = Tables(s, d, "embeddings")
        .select(col("vec_id"), pmod(col("label"), lit(2)).as("side"))
      val cand = lshCandidatePairs(s, d)
        .join(sides.select(col("vec_id").as("vec_a"), col("side").as("sa")), Seq("vec_a"))
        .join(sides.select(col("vec_id").as("vec_b"), col("side").as("sb")), Seq("vec_b"))
        .where(col("sa") =!= col("sb")).select(col("vec_a"), col("vec_b"))
      val e = embUnit(s, d)
      // broadcast the vector side for the same reason as q55's verify
      // joins: the candidate relation is ~400× the corpus (measured at
      // the 100k tier) and must not be shuffled carrying array payloads
      val scored = cand
        .join(broadcast(e.as("ea")), col("vec_a") === col("ea.vec_id"))
        .join(broadcast(e.as("eb")), col("vec_b") === col("eb.vec_id"))
        .select(col("vec_a"), col("vec_b"),
          floor(round(dot(col("ea.u"), col("eb.u")), 4) * 10000 + 0.5)
            .cast("long").as("sim_e4"))
        .localCheckpoint(true)
      val dirr = scored.select(col("vec_a").as("node"), col("vec_b").as("other"), col("sim_e4"))
        .union(scored.select(col("vec_b").as("node"), col("vec_a").as("other"), col("sim_e4")))
      val byNode = Window.partitionBy(col("node")).orderBy(col("sim_e4").desc, col("other"))
      // stats and best are each referenced TWICE below (the a-side and
      // b-side of their joins) — materialize once or their windows run
      // twice (r9 audit: q115 was latency-bound on the doubled stages)
      val stats = dirr.withColumn("rn", row_number().over(byNode))
        .where(col("rn") <= 4)
        .groupBy(col("node"))
        .agg(sum(col("sim_e4")).as("sumk"), count(lit(1)).as("cntk"))
        .localCheckpoint(true)
      val marg = dirr
        .join(stats.select(col("node"), col("sumk").as("suma"), col("cntk").as("cnta")), Seq("node"))
        .join(stats.select(col("node").as("other"), col("sumk").as("sumb"), col("cntk").as("cntb")), Seq("other"))
        .where(col("suma") * col("cntb") + col("sumb") * col("cnta") > 0)
        .select(col("node"), col("other"),
          expr("CAST(floor(2.0 * sim_e4 * cnta * cntb * 10000.0 / " +
            "(suma * cntb + sumb * cnta) + 0.5) AS BIGINT)").as("margin_e4"))
      val byMargin = Window.partitionBy(col("node")).orderBy(col("margin_e4").desc, col("other"))
      val best = marg.withColumn("rn", row_number().over(byMargin)).where(col("rn") === 1)
        .localCheckpoint(true)
      best.as("a").join(best.as("b"),
          col("b.node") === col("a.other") && col("b.other") === col("a.node"))
        .where(col("a.node") < col("a.other") &&
          col("a.margin_e4") >= MarginThresholdE4)
        .select(col("a.node").as("src_id"), col("a.other").as("dst_id"),
          col("a.margin_e4").as("margin_e4"))
        .orderBy(col("src_id"))
    },
    Some("WITH " + LshCandSqlCtes + ", " +
      "lab AS (SELECT vec_id, label % 2 AS side FROM embeddings), " +
      "xc AS (SELECT vec_a, vec_b FROM cand " +
      "JOIN lab la ON la.vec_id = vec_a JOIN lab lb ON lb.vec_id = vec_b " +
      "WHERE la.side <> lb.side), " +
      "scored AS MATERIALIZED (SELECT vec_a, vec_b, " +
      "CAST(floor(ROUND(list_cosine_similarity(a.v, b.v), 4) * 10000 + 0.5) AS BIGINT) AS sim_e4 " +
      "FROM xc JOIN e a ON a.vec_id = vec_a JOIN e b ON b.vec_id = vec_b), " +
      "dirr AS MATERIALIZED (SELECT vec_a AS node, vec_b AS other, sim_e4 FROM scored " +
      "UNION ALL SELECT vec_b, vec_a, sim_e4 FROM scored), " +
      "stats AS (SELECT node, SUM(sim_e4) AS sumk, COUNT(*) AS cntk FROM (" +
      "SELECT node, sim_e4, ROW_NUMBER() OVER (PARTITION BY node " +
      "ORDER BY sim_e4 DESC, other) AS rn FROM dirr) WHERE rn <= 4 GROUP BY node), " +
      "marg AS (SELECT d.node, d.other, " +
      "CAST(floor(2.0 * d.sim_e4 * sa.cntk * sb.cntk * 10000.0 / " +
      "(sa.sumk * sb.cntk + sb.sumk * sa.cntk) + 0.5) AS BIGINT) AS margin_e4 " +
      "FROM dirr d JOIN stats sa ON sa.node = d.node JOIN stats sb ON sb.node = d.other " +
      "WHERE sa.sumk * sb.cntk + sb.sumk * sa.cntk > 0), " +
      "best AS MATERIALIZED (SELECT node, other, margin_e4 FROM (" +
      "SELECT node, other, margin_e4, ROW_NUMBER() OVER (PARTITION BY node " +
      "ORDER BY margin_e4 DESC, other) AS rn FROM marg) WHERE rn = 1) " +
      "SELECT a.node AS src_id, a.other AS dst_id, a.margin_e4 AS margin_e4 " +
      "FROM best a JOIN best b ON b.node = a.other AND b.other = a.node " +
      "WHERE a.node < a.other AND a.margin_e4 >= 10200 ORDER BY src_id"))

  private lazy val tailDefs: Seq[QueryDef] = Seq(
    QueryDef("q48_ann_topk",
      (s, d) => {
        val e = embUnit(s, d).repartition(s.sparkContext.defaultParallelism)
        val q = broadcast(e.where(col("vec_id").between(1, 5))
          .select(col("vec_id").as("query_id"), col("u").as("qu")))
        val scored = e.join(q, col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"),
            round(dot(col("u"), col("qu")), 4).as("sim"))
        val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
        scored.withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= 3)
          .select(col("query_id"), col("rnk"), col("vec_id").as("neighbor_id"), col("sim"))
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id BETWEEN 1 AND 5), " +
        "c AS (SELECT q.query_id, e.vec_id, ROUND(list_cosine_similarity(e.v, q.qv), 4) AS sim " +
        "FROM e JOIN q ON e.vec_id <> q.query_id), " +
        "r AS (SELECT query_id, vec_id, sim, ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY sim DESC, vec_id) AS rnk FROM c) " +
        "SELECT query_id, rnk, vec_id AS neighbor_id, sim FROM r WHERE rnk <= 3 " +
        "ORDER BY query_id, rnk")),

    QueryDef("q48b_ann_topk_heap",
      // The SCALE form of q48's per-query top-k, and the second consumer
      // of the mergeable bounded-buffer Aggregator (functions/TopKRows —
      // q18b introduced it for grouped table rows; this proves it
      // generalizes to ANN scoring). q48's window form shuffles EVERY
      // scored (query, candidate, sim) row to its query's partition and
      // sorts the whole group to keep 3; here each task folds its scores
      // into a ≤ 3-entry buffer per query, so the shuffle carries at
      // most k·queries·tasks tuples and no sort of the score stream ever
      // happens — for ANN that matters even more than for q18, because
      // the scored stream is |queries|·n rows (bigger than the input
      // table). PlanSpec guards the plan windowless with a partial
      // (map-side) ObjectHashAggregate. Same oracle SQL as q48 — the
      // two forms must stay hash-identical. Tie order is total: TopKRows
      // orders (sim DESC, vec_id ASC), matching the window's ORDER BY.
      (s, d) => {
        val e = embUnit(s, d).repartition(s.sparkContext.defaultParallelism)
        val q = broadcast(e.where(col("vec_id").between(1, 5))
          .select(col("vec_id").as("query_id"), col("u").as("qu")))
        val scored = e.join(q, col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"),
            round(dot(col("u"), col("qu")), 4).as("sim"))
        val topk = udaf(new graft.functions.TopKRows(3),
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaDouble,
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.scalaLong))
        scored.groupBy(col("query_id"))
          .agg(topk(col("sim"), col("vec_id"), lit(0L)).as("top"))
          .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
          .select(col("query_id"), (col("pos") + 1).as("rnk"),
            col("e._2").as("neighbor_id"), col("e._1").as("sim"))
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id BETWEEN 1 AND 5), " +
        "c AS (SELECT q.query_id, e.vec_id, ROUND(list_cosine_similarity(e.v, q.qv), 4) AS sim " +
        "FROM e JOIN q ON e.vec_id <> q.query_id), " +
        "r AS (SELECT query_id, vec_id, sim, ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY sim DESC, vec_id) AS rnk FROM c) " +
        "SELECT query_id, rnk, vec_id AS neighbor_id, sim FROM r WHERE rnk <= 3 " +
        "ORDER BY query_id, rnk")),

    QueryDef("q76_int8_quant",
      // Per-vector int8 quantization (the storage/bandwidth lever for a
      // 100 TB ANN index: 4x smaller than float32, dequantized on the
      // fly at scoring time): scale = max|x|/127, q_i = round(x_i/scale),
      // and the audit output is each vector's summed absolute
      // reconstruction error. Everything is a MAP-ONLY per-row
      // transform — no join, no shuffle until the final orderBy, which
      // at corpus scale is a write partitioned by vec_id range instead.
      // Portability: scale and the per-element round/dequant/abs-error
      // chain are identical IEEE ops in identical order on both
      // engines, and each element's error is quantized to integer 1e-9
      // units BEFORE the per-vector sum, so the fold is an
      // order-independent integer add (the q67/q69 doctrine).
      (s, d) => {
        val v = vecDouble(col("embedding"))
        Tables(s, d, "embeddings")
          .select(col("vec_id"), v.as("v"))
          .withColumn("scale",
            expr("array_max(transform(v, x -> abs(x))) / CAST(127 AS DOUBLE)"))
          .select(col("vec_id"),
            expr("aggregate(transform(v, x -> CAST(floor(abs(x - floor(x / scale + 0.5) * scale) " +
              "* 1000000000 + 0.5) AS BIGINT)), 0L, (a, b) -> a + b)").as("sae_e9"),
            expr("array_max(transform(v, x -> CAST(floor(abs(x - floor(x / scale + 0.5) * scale) " +
              "* 1000000000 + 0.5) AS BIGINT)))").as("max_e9"))
          .orderBy(col("vec_id"))
      },
      Some("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / CAST(127 AS DOUBLE) AS scale FROM e), " +
        "err AS (SELECT vec_id, list_transform(v, x -> CAST(floor(abs(x - floor(x / scale + 0.5) * scale) " +
        "* 1000000000 + 0.5) AS BIGINT)) AS es FROM s) " +
        "SELECT vec_id, list_reduce(list_prepend(CAST(0 AS BIGINT), es), (a, b) -> a + b) AS sae_e9, " +
        "list_max(es) AS max_e9 FROM err ORDER BY vec_id")),

    QueryDef("q68_kmeans_cells",
      // Deterministic quantized Lloyd's k-means (operators/KMeansLloyd):
      // the engine-portable centroid trainer behind an IVF index and the
      // topic-bucketing step of corpus curation. k = 4 cells seeded from
      // the 4 lowest vec_ids, 2 assign→update rounds, everything in
      // quantized integer space (distances are exact integer Σ(xi−ci)²,
      // centroid means re-quantized by one correctly-rounded double
      // division) — so unlike MLlib KMeans (AnnIvf's trainer) the whole
      // clustering is oracle-hashable. Output: per surviving cell, its
      // member count under the final assignment and the squared L2 norm
      // of its final centroid in micro-units. Scale shape: each
      // assignment pass is MAP-ONLY (centroids fold into the plan as
      // literal arrays — no join, no shuffle); each update is one hash
      // agg into k·dim groups with map-side partials; driver traffic is
      // the k·dim centroid table per round (same bound as AnnIvf).
      // NOTE the oracle's seed CTE writes cell = vec_id, relying on the
      // fixture's contiguous 0-based vec_ids matching KMeansLloyd's
      // rank-based seed ids.
      (s, d) => {
        import s.implicits._
        val (assigned, _, cents) = lloydShared(s, d)
        val norms = cents.map(c => (c.cell, c.ci.map(x => x * x).sum)).toDF("cell", "centroid_norm2")
        assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
          .join(broadcast(norms), Seq("cell"))
          .select(col("cell").cast("long").as("cell"), col("n_members"), col("centroid_norm2"))
          .orderBy(col("cell"))
      },
      Some("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "comps AS (SELECT vec_id, i AS d, CAST(floor(v[i+1] * 1000000 + 0.5) AS BIGINT) AS xi " +
        "FROM e CROSS JOIN (SELECT UNNEST(range(0,64)) AS i) ix), " +
        "c0 AS (SELECT vec_id AS cell, d, xi AS ci FROM comps WHERE vec_id < 4), " +
        "d1 AS (SELECT c.vec_id, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
        "FROM comps c JOIN c0 k USING (d) GROUP BY 1, 2), " +
        "a1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d1) WHERE rn = 1), " +
        "c1 AS (SELECT a.cell, c.d, CAST(floor(CAST(SUM(c.xi) AS DOUBLE)/COUNT(*) + 0.5) AS BIGINT) AS ci " +
        "FROM comps c JOIN a1 a USING (vec_id) GROUP BY 1, 2), " +
        "d2 AS (SELECT c.vec_id, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
        "FROM comps c JOIN c1 k USING (d) GROUP BY 1, 2), " +
        "a2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d2) WHERE rn = 1), " +
        "c2 AS (SELECT a.cell, c.d, CAST(floor(CAST(SUM(c.xi) AS DOUBLE)/COUNT(*) + 0.5) AS BIGINT) AS ci " +
        "FROM comps c JOIN a2 a USING (vec_id) GROUP BY 1, 2), " +
        "n AS (SELECT cell, COUNT(*) AS n_members FROM a2 GROUP BY cell), " +
        "cn AS (SELECT cell, CAST(SUM(ci*ci) AS BIGINT) AS centroid_norm2 FROM c2 GROUP BY cell) " +
        "SELECT cell, n_members, centroid_norm2 FROM n JOIN cn USING (cell) ORDER BY cell")),

    QueryDef("q73_ivf_ann",
      // IVF (inverted-file) ANN made oracle-hashable: the brute q48 scans
      // every vector per query; the IVF scale path restricts each query
      // to its own k-means cell (nProbe = 1 here). MLlib-trained IVF
      // (operators/AnnIvf) is recall-tested only, because k-means|| is
      // engine-specific — THIS entry swaps in the deterministic
      // quantized Lloyd's trainer (operators/KMeansLloyd, the q68
      // recipe), so the whole index-build + probe pipeline hashes
      // identically on both engines. Shape at 100 TB: the cell
      // assignment is the index (bucketed/partitioned by cell on disk),
      // the 5 probe rows broadcast to their single cell's partitions,
      // and each query scores |cell| ≈ n/k candidates instead of n —
      // with the exact same equi-join-on-cell no-BNLJ guarantee as q70.
      // Approximation is by CELL RESTRICTION only (deterministic), never
      // by score: recall vs brute q48 is pinned in AnnIvfSpec.
      (s, d) => {
        val (assigned, _, _) = lloydShared(s, d)
        val cells = assigned.select(col("vec_id"), col("cell"))
        val e = embUnit(s, d)
        val member = cells.join(e, "vec_id")
        val q = broadcast(member.where(col("vec_id").between(1, 5))
          .select(col("vec_id").as("query_id"), col("cell"), col("u").as("qu")))
        val scored = member.join(q,
            member("cell") === q("cell") && col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"),
            round(dot(col("u"), col("qu")), 4).as("sim"))
        val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
        scored.withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= 3)
          .select(col("query_id"), col("rnk"), col("vec_id").as("neighbor_id"), col("sim"))
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "comps AS (SELECT vec_id, i AS d, CAST(floor(v[i+1] * 1000000 + 0.5) AS BIGINT) AS xi " +
        "FROM e CROSS JOIN (SELECT UNNEST(range(0,64)) AS i) ix), " +
        "c0 AS (SELECT vec_id AS cell, d, xi AS ci FROM comps WHERE vec_id < 4), " +
        "d1 AS (SELECT c.vec_id, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
        "FROM comps c JOIN c0 k USING (d) GROUP BY 1, 2), " +
        "a1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d1) WHERE rn = 1), " +
        "c1 AS (SELECT a.cell, c.d, CAST(floor(CAST(SUM(c.xi) AS DOUBLE)/COUNT(*) + 0.5) AS BIGINT) AS ci " +
        "FROM comps c JOIN a1 a USING (vec_id) GROUP BY 1, 2), " +
        "d2 AS (SELECT c.vec_id, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
        "FROM comps c JOIN c1 k USING (d) GROUP BY 1, 2), " +
        "a2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d2) WHERE rn = 1), " +
        "q AS (SELECT vec_id AS query_id, cell FROM a2 WHERE vec_id BETWEEN 1 AND 5), " +
        "c AS (SELECT q.query_id, m.vec_id, " +
        "ROUND(list_cosine_similarity(ev.v, eq.v), 4) AS sim " +
        "FROM q JOIN a2 m ON m.cell = q.cell AND m.vec_id <> q.query_id " +
        "JOIN e ev ON ev.vec_id = m.vec_id JOIN e eq ON eq.vec_id = q.query_id), " +
        "r AS (SELECT query_id, vec_id, sim, ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY sim DESC, vec_id) AS rnk FROM c) " +
        "SELECT query_id, rnk, vec_id AS neighbor_id, sim FROM r WHERE rnk <= 3 " +
        "ORDER BY query_id, rnk")),

    QueryDef("q73b_ivf_multiprobe",
      // Deterministic MULTI-PROBE IVF (nProbe = 2 of 4 cells): q73's
      // single-cell restriction is the recall-cheapest form — a query
      // near a cell boundary misses neighbors one cell over. Standard
      // IVF practice probes the nProbe nearest cells; here the cell
      // ranking is the exact integer distance to the SAME centroids the
      // assignment was scored against (KMeansLloyd.runTracked /
      // probeCells — probe rank 1 is provably the assigned cell, ties to
      // the lower cell id), so the whole expansion stays a pure function
      // of the data and the entry is oracle-hashable like q73. The
      // per-query top-3 then uses the mergeable bounded-buffer
      // Aggregator (functions/TopKRows) instead of a window sort —
      // map-side ≤ 3-entry buffers, no shuffle-and-sort of the scored
      // stream (PlanSpec guards windowless). Shape at 100 TB: probe
      // rows (nProbe per query) BROADCAST to the member scan, so the
      // member side never shuffles and parallelism is the scan's — the
      // join-key cardinality (k cells) never ceilings it; each query
      // scores ~nProbe·n/k candidates. Recall vs brute q48 is pinned in
      // AnnIvfSpec ABOVE q73's single-probe floor.
      (s, d) => {
        import graft.operators.KMeansLloyd
        val vecs = Tables(s, d, "embeddings")
          .select(col("vec_id"), KMeansLloyd.quantize(col("embedding")).as("xi"))
        val (assigned, probeCents, _) = lloydShared(s, d)
        val cells = assigned.select(col("vec_id"), col("cell"))
        val e = embUnit(s, d)
        val member = cells.join(e, "vec_id")
        val probes = KMeansLloyd.probeCells(
            vecs.where(col("vec_id").between(1, 5)), probeCents, nProbe = 2)
          .select(col("vec_id").as("query_id"), col("cell"))
        val qu = e.where(col("vec_id").between(1, 5))
          .select(col("vec_id").as("query_id"), col("u").as("qu"))
        val q = broadcast(probes.join(qu, "query_id"))
        val scored = member.join(q,
            member("cell") === q("cell") && col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"),
            round(dot(col("u"), col("qu")), 4).as("sim"))
        val topk = udaf(new graft.functions.TopKRows(3),
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaDouble,
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.scalaLong))
        scored.groupBy(col("query_id"))
          .agg(topk(col("sim"), col("vec_id"), lit(0L)).as("top"))
          .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
          .select(col("query_id"), (col("pos") + 1).as("rnk"),
            col("e._2").as("neighbor_id"), col("e._1").as("sim"))
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "comps AS (SELECT vec_id, i AS d, CAST(floor(v[i+1] * 1000000 + 0.5) AS BIGINT) AS xi " +
        "FROM e CROSS JOIN (SELECT UNNEST(range(0,64)) AS i) ix), " +
        "c0 AS (SELECT vec_id AS cell, d, xi AS ci FROM comps WHERE vec_id < 4), " +
        "d1 AS (SELECT c.vec_id, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
        "FROM comps c JOIN c0 k USING (d) GROUP BY 1, 2), " +
        "a1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d1) WHERE rn = 1), " +
        "c1 AS (SELECT a.cell, c.d, CAST(floor(CAST(SUM(c.xi) AS DOUBLE)/COUNT(*) + 0.5) AS BIGINT) AS ci " +
        "FROM comps c JOIN a1 a USING (vec_id) GROUP BY 1, 2), " +
        "d2 AS (SELECT c.vec_id, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
        "FROM comps c JOIN c1 k USING (d) GROUP BY 1, 2), " +
        "a2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d2) WHERE rn = 1), " +
        "p AS (SELECT vec_id AS query_id, cell FROM (SELECT vec_id, cell, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d2 WHERE vec_id BETWEEN 1 AND 5) " +
        "WHERE rn <= 2), " +
        "c AS (SELECT p.query_id, m.vec_id, " +
        "ROUND(list_cosine_similarity(ev.v, eq.v), 4) AS sim " +
        "FROM p JOIN a2 m ON m.cell = p.cell AND m.vec_id <> p.query_id " +
        "JOIN e ev ON ev.vec_id = m.vec_id JOIN e eq ON eq.vec_id = p.query_id), " +
        "r AS (SELECT query_id, vec_id, sim, ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY sim DESC, vec_id) AS rnk FROM c) " +
        "SELECT query_id, rnk, vec_id AS neighbor_id, sim FROM r WHERE rnk <= 3 " +
        "ORDER BY query_id, rnk")),

    QueryDef("q78_ivf_sq8",
      // The complete deterministic ANN index pipeline — IVF cells + SQ8
      // (int8 scalar-quantized) scoring — composing q73b's multi-probe
      // cell restriction with q76's per-vector quantization, the way a
      // production vector store (FAISS IVF,SQ8) actually serves 100 TB:
      // the index stores 4x-smaller int8 codes, candidates come from
      // the query's 2 nearest cells, and scoring is an INTEGER dot
      // product over the codes (the int8-SIMD hot loop), rescaled by
      // the two per-vector scales only at rank time. Ranking is by
      // MIPS (max inner product) in integer 1e-6 units: the quantized
      // dot is an exact integer, the rescale is three IEEE multiplies
      // on exact inputs in a fixed order, and the floor lands every
      // score on an integer — bit-identical on both engines, so unlike
      // float-accumulated ANN scores the whole approximate pipeline is
      // oracle-hashable. Per-query top-3 via TopKRows (windowless,
      // plan-guarded); probes broadcast, member scan never shuffles.
      (s, d) => {
        import graft.operators.KMeansLloyd
        val vecs = Tables(s, d, "embeddings")
          .select(col("vec_id"), KMeansLloyd.quantize(col("embedding")).as("xi"))
        val (assigned, probeCents, _) = lloydShared(s, d)
        val cells = assigned.select(col("vec_id"), col("cell"))
        val quant = Tables(s, d, "embeddings")
          .select(col("vec_id"), vecDouble(col("embedding")).as("v"))
          .withColumn("scale",
            expr("array_max(transform(v, x -> abs(x))) / CAST(127 AS DOUBLE)"))
          .select(col("vec_id"), col("scale"),
            expr("transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT))").as("q"))
        val member = cells.join(quant, "vec_id")
        val probes = KMeansLloyd.probeCells(
            vecs.where(col("vec_id").between(1, 5)), probeCents, nProbe = 2)
          .select(col("vec_id").as("query_id"), col("cell"))
        val q = broadcast(probes.join(
          quant.select(col("vec_id").as("query_id"), col("scale").as("qscale"),
            col("q").as("qq")), "query_id"))
        val scored = member.join(q,
            member("cell") === q("cell") && col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"),
            expr("CAST(floor((qscale * scale) * CAST(aggregate(zip_with(qq, q, (a, b) -> a * b), " +
              "0L, (acc, x) -> acc + x) AS DOUBLE) * 1000000 + 0.5) AS BIGINT)").as("score_e6"))
        val topk = udaf(new graft.functions.TopKRows(3),
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaDouble,
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.scalaLong))
        scored.groupBy(col("query_id"))
          .agg(topk(col("score_e6").cast("double"), col("vec_id"), lit(0L)).as("top"))
          .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
          .select(col("query_id"), (col("pos") + 1).as("rnk"),
            col("e._2").as("neighbor_id"), col("e._1").cast("long").as("score_e6"))
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "comps AS (SELECT vec_id, i AS d, CAST(floor(v[i+1] * 1000000 + 0.5) AS BIGINT) AS xi " +
        "FROM e CROSS JOIN (SELECT UNNEST(range(0,64)) AS i) ix), " +
        "c0 AS (SELECT vec_id AS cell, d, xi AS ci FROM comps WHERE vec_id < 4), " +
        "d1 AS (SELECT c.vec_id, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
        "FROM comps c JOIN c0 k USING (d) GROUP BY 1, 2), " +
        "a1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d1) WHERE rn = 1), " +
        "c1 AS (SELECT a.cell, c.d, CAST(floor(CAST(SUM(c.xi) AS DOUBLE)/COUNT(*) + 0.5) AS BIGINT) AS ci " +
        "FROM comps c JOIN a1 a USING (vec_id) GROUP BY 1, 2), " +
        "d2 AS (SELECT c.vec_id, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
        "FROM comps c JOIN c1 k USING (d) GROUP BY 1, 2), " +
        "a2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d2) WHERE rn = 1), " +
        "p AS (SELECT vec_id AS query_id, cell FROM (SELECT vec_id, cell, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d2 WHERE vec_id BETWEEN 1 AND 5) " +
        "WHERE rn <= 2), " +
        "qv AS (SELECT vec_id, list_max(list_transform(v, x -> abs(x))) / CAST(127 AS DOUBLE) AS scale, " +
        "list_transform(v, x -> CAST(floor(x / (list_max(list_transform(v, y -> abs(y))) / CAST(127 AS DOUBLE)) + 0.5) AS BIGINT)) AS q " +
        "FROM e), " +
        "c AS (SELECT p.query_id, m.vec_id, " +
        "CAST(floor((qa.scale * qb.scale) * CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(list_zip(qa.q, qb.q), z -> z[1] * z[2])), (acc, x) -> acc + x) AS DOUBLE) " +
        "* 1000000 + 0.5) AS BIGINT) AS score_e6 " +
        "FROM p JOIN a2 m ON m.cell = p.cell AND m.vec_id <> p.query_id " +
        "JOIN qv qa ON qa.vec_id = p.query_id JOIN qv qb ON qb.vec_id = m.vec_id), " +
        "r AS (SELECT query_id, vec_id, score_e6, ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY score_e6 DESC, vec_id) AS rnk FROM c) " +
        "SELECT query_id, rnk, vec_id AS neighbor_id, score_e6 FROM r WHERE rnk <= 3 " +
        "ORDER BY query_id, rnk")),

    QueryDef("q70_semantic_dedup",
      // SemDeDup-style cluster-bucketed embedding dedup (Abbas et al.
      // 2023, arXiv:2303.09540): partition the corpus into k-means cells,
      // then search for semantic duplicates ONLY within a cell — the
      // published scale path that turns O(n²) cosine near-dup into
      // O(Σ B_i²) with B bounded by choosing k ∝ n/B. Composition here:
      // [[graft.operators.KMeansLloyd]] deterministic quantized cells
      // (map-only assignment, centroids as plan literals — same recipe
      // as q68) → within-cell pair generation as an EQUI-JOIN on the
      // cell id (the shuffle key; never a cartesian) → exact cosine
      // verification of only co-celled pairs → greedy min-id dedup:
      // a vector is dropped iff some SMALLER vec_id in its cell is
      // ≥ τ-similar (τ = 0.4, the q47/q55 near-dup threshold), and
      // `dup_of` attributes the drop to the smallest such neighbor.
      // At 100 TB: assignment is a linear scan and the pair join
      // shuffles on (cell, subcell). Cell size is controlled twice:
      // (1) the k-CHOICE — SemDeDup picks k ≈ n / targetCellSize
      // (targetCellSize ≈ CellCap/2 ≈ 500), so expected cells stay
      // bounded as the corpus grows (the registered entry pins k = 4
      // because fixture n = 500 ⇒ ceil(500/500) rounds up to the 4-seed
      // minimum; at 10⁹ vectors the same rule gives k ≈ 2M cells);
      // (2) the SKEW GUARD — cells a degenerate corpus blows past the
      // cap anyway are deterministically sub-split into ≤ ~CellCap
      // md5 buckets (KMeansLloyd.subSplitCells), bounding pair fan-out
      // per shuffle key at ~cap·B and letting parallelism scale with
      // sub-cell count instead of ceiling at k. Fixture cells are far
      // under the cap (≤ 534 at sf0.1, guarded by KMeansCellCapSpec),
      // so every subcell is 0 and hashes match the unsplit oracle.
      // Recall caveat vs exact q47 (by design, as in the paper): pairs
      // straddling a cell (or hot-cell sub-split) boundary are not
      // compared.
      (s, d) => {
        val (assigned, _, _) = lloydShared(s, d)
        val cells = assigned.select(col("vec_id"), col("cell"))
        cells.join(semanticDups(s, d), Seq("vec_id"), "left")
          .select(col("vec_id"), col("cell").cast("long").as("cell"),
            when(col("dup_of").isNotNull, lit("drop")).otherwise(lit("keep")).as("action"),
            col("dup_of"))
          .orderBy(col("vec_id"))
      },
      Some("WITH " + SemDedupSqlCtes + " " +
        "SELECT a.vec_id, a.cell, CASE WHEN d.dup_of IS NOT NULL THEN 'drop' ELSE 'keep' END AS action, " +
        "d.dup_of FROM a2 a LEFT JOIN dups d ON d.vec_id = a.vec_id ORDER BY a.vec_id")),

    QueryDef("q83_knn_label_vote",
      // kNN label-vote classification over the embedding corpus (the
      // label-propagation / auto-labeling step of a training-data
      // pipeline): every 25th vector is a query, its 10 nearest
      // neighbors by cosine vote with majority (ties broken by smaller
      // label), and the output is the (true_label, pred_label)
      // confusion matrix. Third consumer of the mergeable bounded-
      // buffer Aggregator (functions/TopKRows): neighbor labels ride
      // the payload slot, so each task folds scores into a ≤ 10-entry
      // buffer per query and the shuffle carries k·queries·tasks
      // tuples — never the |queries|·n scored stream, and no sort.
      // At 100 TB: queries broadcast, scoring stays in the scan stage,
      // and the vote/confusion aggs are queries-sized.
      (s, d) => {
        val e0 = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("label"), vecDouble(col("embedding")).as("v"))
          .withColumn("nrm", l2Norm(col("v")))
          .select(col("vec_id"), col("label"),
            transform(col("v"), x => x / col("nrm")).as("u"))
        val e = e0.repartition(s.sparkContext.defaultParallelism)
        val q = broadcast(e0.where(col("vec_id") % 25 === 0)
          .select(col("vec_id").as("query_id"), col("label").as("true_label"),
            col("u").as("qu")))
        val scored = e.join(q, col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("true_label"), col("vec_id"),
            col("label").cast("long").as("nb_label"),
            round(dot(col("u"), col("qu")), 4).as("sim"))
        val topk = udaf(new graft.functions.TopKRows(10),
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaDouble,
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.scalaLong))
        val votes = scored.groupBy(col("query_id"), col("true_label"))
          .agg(topk(col("sim"), col("vec_id"), col("nb_label")).as("top"))
          .select(col("query_id"), col("true_label"), explode(col("top")).as("e"))
          .groupBy(col("query_id"), col("true_label"), col("e._3").as("nb_label"))
          .agg(count(lit(1)).as("cnt"))
        val vw = Window.partitionBy(col("query_id"))
          .orderBy(col("cnt").desc, col("nb_label"))
        votes.withColumn("vr", row_number().over(vw)).where(col("vr") === 1)
          .groupBy(col("true_label"), col("nb_label").cast("int").as("pred_label"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("true_label"), col("pred_label"))
      },
      Some("WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "q AS (SELECT vec_id AS query_id, label AS true_label, v AS qv FROM e WHERE vec_id % 25 = 0), " +
        "c AS (SELECT q.query_id, q.true_label, e.vec_id, e.label AS nb_label, " +
        "ROUND(list_cosine_similarity(e.v, q.qv), 4) AS sim FROM e JOIN q ON e.vec_id <> q.query_id), " +
        "r AS (SELECT query_id, true_label, vec_id, nb_label, sim, " +
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk FROM c), " +
        "k AS (SELECT query_id, true_label, nb_label FROM r WHERE rnk <= 10), " +
        "v AS (SELECT query_id, true_label, nb_label, COUNT(*) AS cnt FROM k GROUP BY 1, 2, 3), " +
        "p AS (SELECT query_id, true_label, nb_label AS pred_label, " +
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cnt DESC, nb_label) AS vr FROM v) " +
        "SELECT true_label, pred_label, COUNT(*) AS n FROM p WHERE vr = 1 " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),

    QueryDef("q85_centroid_classify",
      // Nearest-centroid classification (Rocchio): one integer-
      // quantized centroid per label (reusing KMeansLloyd.update with
      // label as the cell id — the same bounded k·dim driver collect
      // as q68), then every vector is assigned to its nearest label
      // centroid with centroids as PLAN LITERALS, so classification is
      // a map-only pass over the scan with no shuffle at all; the
      // confusion-matrix agg is labels²-sized. All distances are exact
      // integer sums in micro-units — engine-portable with no float
      // tolerance. Ties break to the smaller label on both sides
      // (array_min on (dist, cell) structs vs ROW_NUMBER dist, cell).
      // Measured self-classification accuracy at sf0.01 is 0.41 vs the
      // 0.10 random-label floor, so the fixture labels carry real
      // geometric signal and the query discriminates.
      (s, d) => {
        import graft.operators.KMeansLloyd
        val vecs = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("label"),
            KMeansLloyd.quantize(col("embedding")).as("xi"))
        val cents = KMeansLloyd.update(vecs.withColumn("cell", col("label")))
        KMeansLloyd.assign(vecs, cents)
          .groupBy(col("label").as("true_label"), col("cell").cast("int").as("pred_label"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("true_label"), col("pred_label"))
      },
      Some("WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "comps AS (SELECT vec_id, label, i AS d, CAST(floor(v[i+1] * 1000000 + 0.5) AS BIGINT) AS xi " +
        "FROM e CROSS JOIN (SELECT UNNEST(range(0,64)) AS i) ix), " +
        "cents AS (SELECT label AS cell, d, CAST(floor(CAST(SUM(xi) AS DOUBLE)/COUNT(*) + 0.5) AS BIGINT) AS ci " +
        "FROM comps GROUP BY 1, 2), " +
        "dist AS (SELECT c.vec_id, c.label, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
        "FROM comps c JOIN cents k USING (d) GROUP BY 1, 2, 3), " +
        "a AS (SELECT vec_id, label, cell FROM (SELECT vec_id, label, cell, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM dist) WHERE rn = 1) " +
        "SELECT label AS true_label, CAST(cell AS INTEGER) AS pred_label, COUNT(*) AS n " +
        "FROM a GROUP BY 1, 2 ORDER BY 1, 2")),

    QueryDef("q88_incremental_ivf",
      // INCREMENTAL IVF index maintenance under the batch oracle — the
      // q66 doctrine applied to ANN: a 100 TB pipeline never retrains
      // its index per arrival. The base corpus (80%: vec_id % 5 ≠ 4)
      // trains the deterministic Lloyd's index (the q68/q73 recipe);
      // the arrivals (20%) then stream in TWO waves through
      // streaming/IncrementalIvf's foreachBatch hook, each wave
      // map-only assigned against the SERVING centroids (the
      // assign-time centroids the base membership was scored with,
      // folded into the plan as literals — no join, no shuffle, the
      // q73 shape) and appended idempotently to parquet state. Output:
      // the composed index (base ∪ streamed) summarized per cell, plus
      // a per-cell retrain flag (streamed growth > 25% of the cell —
      // the drift boundary at which the next index generation should
      // train). Because assignment is a pure integer function of
      // (vector, centroids), the accumulated stream state equals a
      // one-shot assignment of all arrivals — which is exactly what
      // the DuckDB oracle computes, so the stream/batch equivalence is
      // held to the hash gate rather than only to ScalaTest
      // (IncrementalIvfSpec adds shuffled multi-wave arrival, replay
      // idempotence, and the retrainDue boundary).
      (s, d) => {
        import graft.operators.KMeansLloyd
        import graft.streaming.IncrementalIvf
        val all = Tables(s, d, "embeddings")
        val vecs = all.select(col("vec_id"), KMeansLloyd.quantize(col("embedding")).as("xi"))
        val (baseAssigned, servingCents, _) = KMeansLloyd.runTracked(
          vecs.where(col("vec_id") % 5 =!= 4), "vec_id", k = 4, iters = 2)
        val statePath = graft.util.Scratch.dir("q88-incremental-ivf")
        val inc = new IncrementalIvf(statePath, servingCents)
        val arrivals = all.where(col("vec_id") % 5 === 4)
          .select(col("vec_id"), col("embedding"))
        // micro-batch waves sized to MicroBatchPartitions (the q66
        // doctrine — see Confs.withMicroBatch); training stays outside
        graft.util.Confs.withMicroBatch(s) {
        inc.processBatch(arrivals.where(col("vec_id") % 2 === 0), 0L)
        inc.processBatch(arrivals.where(col("vec_id") % 2 === 1), 1L)
        ivfCompositionSummary(baseAssigned, inc.members(s))
        }
      },
      // the oracle trains on the base 80% (c0..c1) and scores EVERY
      // vector against the serving centroids c1 in one pass — base
      // rows reproduce the Lloyd's final assignment, arrival rows
      // reproduce the incremental map-only assignment, because both
      // are the same pure integer argmin
      Some(IncrementalIvfOracleSql)),

    QueryDef("q88b_incremental_ivf_retract",
      // q88 with CDC DELETE retraction (VERDICT r9 item 4 — the qc6
      // tombstone doctrine on the IVF state): both arrival waves, then
      // streamed vectors with vec_id % 3 == 0 retracted. The deleted
      // codes leave the probe view immediately (members() anti-joins
      // the tombstones; compaction removes the bytes at the next
      // boundary) and the per-cell retrain flags re-level on survivor
      // counts. The oracle is q88's one-pass assignment with the
      // composed-index view restricted to surviving rows — training is
      // untouched (centroids come from the base corpus), so it matches
      // only if retraction removed exactly the deleted codes and
      // nothing else. Base-vector deletion is the REBUILD case and
      // stays out of the per-batch path (documented on the class).
      (s, d) => {
        import graft.operators.KMeansLloyd
        import graft.streaming.IncrementalIvf
        val all = Tables(s, d, "embeddings")
        val vecs = all.select(col("vec_id"), KMeansLloyd.quantize(col("embedding")).as("xi"))
        val (baseAssigned, servingCents, _) = KMeansLloyd.runTracked(
          vecs.where(col("vec_id") % 5 =!= 4), "vec_id", k = 4, iters = 2)
        val statePath = graft.util.Scratch.dir("q88b-incremental-ivf")
        val inc = new IncrementalIvf(statePath, servingCents)
        val arrivals = all.where(col("vec_id") % 5 === 4)
          .select(col("vec_id"), col("embedding"))
        graft.util.Confs.withMicroBatch(s) {
        inc.processBatch(arrivals.where(col("vec_id") % 2 === 0), 0L)
        inc.processBatch(arrivals.where(col("vec_id") % 2 === 1), 1L)
        inc.retractBatch(
          arrivals.where(col("vec_id") % 3 === 0).select(col("vec_id")), 2L)
        ivfCompositionSummary(baseAssigned, inc.members(s))
        }
      },
      Some(incrementalIvfOracleSqlOver(
        "NOT (vec_id % 5 = 4 AND vec_id % 3 = 0)"))),

    QueryDef("q89_pq_adc",
      // Product quantization with asymmetric distance computation
      // (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
      // Search" — the FAISS IndexPQ shape; the next compression step
      // past q78's SQ8): the 64-dim space splits into m = 16 subspaces
      // of 4 dims, each sub-vector is encoded as its nearest codeword
      // in a per-subspace deterministic Lloyd's codebook (ksub = 32),
      // so a vector stores m·log2(ksub) = 80 BITS instead of 2048
      // float32 bits — 25× compression. A query never decodes
      // candidates: it builds an m×ksub LOOK-UP TABLE of exact integer
      // distances from its own sub-vectors to every codeword, and a
      // candidate's ADC distance is just the SUM of m table entries
      // selected by its codes. Everything stays in the
      // quantized-integer doctrine (sub-distances are exact Σ(xi−ci)²,
      // the LUT entries are exact integers, the ADC sum is an integer
      // add), so the whole train→encode→probe pipeline is
      // oracle-hashable like q73/q78. Quality contract: the fixture
      // embeddings' distances CONCENTRATE (nearest ≈ 0.6× median), so
      // neighbor-identity recall is meaningless for ANY compressed
      // index here; the honest PQ contract — pinned in AnnIvfSpec — is
      // the approximation ratio (ADC top-3's true distances within 25%
      // of the true top-3; measured 1.08) and the mean relative ADC
      // distance error (measured 0.12). Shape at 100 TB: the code
      // table IS the index (80 bits/vector fits in RAM when the corpus
      // doesn't); encode is ONE map-only pass (codewords as plan
      // literals, all m argmins per row, no join); the per-query LUT
      // is m·ksub rows BROADCAST to the code scan; scoring folds
      // map-side through a hash agg on (query, vec) and the top-k
      // rides the TopKRows bounded buffer — no window sort, no shuffle
      // of the scored stream. Composing the cell restriction of q73b
      // on top (IVF-PQ) is the q78 move; this entry isolates the PQ
      // kernel the way q76 isolates SQ8.
      (s, d) => {
        import s.implicits._
        val books = pqBooks(s, d)
        val vecs = Tables(s, d, "embeddings")
          .select(col("vec_id"), KMeansLloyd.quantize(col("embedding")).as("xi"))
        // PQ encode: all m codes in one map-only pass — per subspace,
        // argmin of the exact integer distance to literal codewords
        // (ties to the lower code, the KMeansLloyd.assign total order);
        // built once per (session, dir) and persisted — see [[pqCodes]]
        val codes = pqCodes(s, d)
        // ADC look-up table: each query's exact integer distance to
        // every codeword — m·ksub rows per query, built from the tiny
        // query slice and the LocalRelation codebook
        val bookDf = (for { sub <- 0 until PqM; c <- books(sub) }
          yield (sub, c.cell.toLong, c.ci.toSeq)).toDF("sub", "cell", "cw")
        val qsub = vecs.where(col("vec_id").between(1, 5))
          .select(col("vec_id").as("query_id"),
            posexplode(array((0 until PqM).map(sub =>
              expr(s"slice(xi, ${sub * PqSubDim + 1}, $PqSubDim)")): _*))
              .as(Seq("sub", "sx")))
        val lut = qsub.join(bookDf, Seq("sub"))
          .select(col("query_id"), col("sub"), col("cell"),
            aggregate(zip_with(col("sx"), col("cw"), (x, y) => (x - y) * (x - y)),
              lit(0L), (a, v) => a + v).as("dist"))
        // ADC scoring: code stream equi-joins the broadcast LUT on
        // (sub, code); the per-(query, vec) sum of m entries is the
        // approximate squared L2 distance
        val scored = codes.join(broadcast(lut),
            codes("sub") === lut("sub") && codes("code") === lut("cell") &&
              col("vec_id") =!= col("query_id"))
          .groupBy(col("query_id"), col("vec_id"))
          .agg(sum(col("dist")).as("adist"))
        // per-query top-3 by ASCENDING distance: TopKRows keeps the
        // largest sims, so rank on the negated distance (exact — ADC
        // sums stay far below 2^53)
        val topk = udaf(new graft.functions.TopKRows(3),
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaDouble,
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.scalaLong))
        scored
          .select(col("query_id"), col("vec_id"), (-col("adist")).cast("double").as("negd"))
          .groupBy(col("query_id"))
          .agg(topk(col("negd"), col("vec_id"), lit(0L)).as("top"))
          .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
          .select(col("query_id"), (col("pos") + 1).as("rnk"),
            col("e._2").as("neighbor_id"), (-col("e._1")).cast("long").as("adist"))
          .orderBy(col("query_id"), col("rnk"))
      },
      // the oracle threads `sub` through the q68 CTE chain (one Lloyd's
      // per subspace in a single pass), encodes via the d2 argmin, and
      // reuses d2's query rows AS the LUT — the query's exact distance
      // to every codeword is the same relation the encode argmin ran on
      Some("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "comps AS (SELECT vec_id, CAST(i // 4 AS BIGINT) AS sub, i % 4 AS sd, " +
        "CAST(floor(v[i+1] * 1000000 + 0.5) AS BIGINT) AS xi " +
        "FROM e CROSS JOIN (SELECT UNNEST(range(0,64)) AS i) ix), " +
        "c0 AS (SELECT sub, vec_id AS cell, sd, xi AS ci FROM comps WHERE vec_id < 32), " +
        "d1 AS (SELECT c.vec_id, c.sub, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
        "FROM comps c JOIN c0 k ON k.sub = c.sub AND k.sd = c.sd GROUP BY 1, 2, 3), " +
        "a1 AS (SELECT vec_id, sub, cell FROM (SELECT vec_id, sub, cell, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id, sub ORDER BY dist, cell) AS rn FROM d1) WHERE rn = 1), " +
        "c1 AS (SELECT a.sub, a.cell, c.sd, CAST(floor(CAST(SUM(c.xi) AS DOUBLE)/COUNT(*) + 0.5) AS BIGINT) AS ci " +
        "FROM comps c JOIN a1 a ON a.vec_id = c.vec_id AND a.sub = c.sub GROUP BY 1, 2, 3), " +
        "d2 AS (SELECT c.vec_id, c.sub, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
        "FROM comps c JOIN c1 k ON k.sub = c.sub AND k.sd = c.sd GROUP BY 1, 2, 3), " +
        "codes AS (SELECT vec_id, sub, cell AS code FROM (SELECT vec_id, sub, cell, " +
        "ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, cell) AS rn FROM d2) WHERE rn = 1), " +
        "lut AS (SELECT vec_id AS query_id, sub, cell, dist FROM d2 WHERE vec_id BETWEEN 1 AND 5), " +
        "sc AS (SELECT l.query_id, c.vec_id, CAST(SUM(l.dist) AS BIGINT) AS adist " +
        "FROM codes c JOIN lut l ON l.sub = c.sub AND l.cell = c.code " +
        "WHERE c.vec_id <> l.query_id GROUP BY 1, 2), " +
        "r AS (SELECT query_id, vec_id, adist, ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY adist, vec_id) AS rnk FROM sc) " +
        "SELECT query_id, rnk, vec_id AS neighbor_id, adist FROM r WHERE rnk <= 3 " +
        "ORDER BY query_id, rnk")),

    QueryDef("q95_filtered_ann",
      // Metadata-FILTERED vector search — the production retrieval
      // shape every vector store ships (Qdrant/pgvector/Vespa filtered
      // top-k): return each query's nearest neighbors AMONG documents
      // matching a structured predicate (here lang = 'en', the
      // documents↔embeddings id alignment q86 relies on). The design
      // decision that matters at 100 TB is WHERE the predicate runs:
      // PRE-filter — restrict the candidate set before any scoring —
      // so the scan scores |filtered| vectors, not n (post-filtering a
      // top-k can also return < k rows when the filter is selective —
      // the classic filtered-ANN correctness bug; pre-filtering cannot).
      // The filter is an equi-join of the embedding scan with the
      // predicate's doc_id set: co-partitioned by id at scale, and the
      // scored stream folds through TopKRows map-side like q48b —
      // windowless, ≤ k·queries·tasks shuffled tuples. Queries
      // themselves are NOT filtered (a query doc may be any language —
      // asking "nearest English docs to this Chinese doc" is the
      // cross-lingual retrieval case).
      (s, d) => {
        val e = embUnit(s, d)
        val allowed = Tables(s, d, "documents")
          .where(col("lang") === "en").select(col("doc_id").as("vec_id"))
        val member = e.join(allowed, "vec_id")
        val q = broadcast(e.where(col("vec_id").between(1, 5))
          .select(col("vec_id").as("query_id"), col("u").as("qu")))
        val scored = member.join(q, col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"),
            round(dot(col("u"), col("qu")), 4).as("sim"))
        val topk = udaf(new graft.functions.TopKRows(3),
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaDouble,
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.scalaLong))
        scored.groupBy(col("query_id"))
          .agg(topk(col("sim"), col("vec_id"), lit(0L)).as("top"))
          .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
          .select(col("query_id"), (col("pos") + 1).as("rnk"),
            col("e._2").as("neighbor_id"), col("e._1").as("sim"))
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "f AS (SELECT e.vec_id, e.v FROM e JOIN documents d ON d.doc_id = e.vec_id " +
        "WHERE d.lang = 'en'), " +
        "q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id BETWEEN 1 AND 5), " +
        "c AS (SELECT q.query_id, f.vec_id, ROUND(list_cosine_similarity(f.v, q.qv), 4) AS sim " +
        "FROM f JOIN q ON f.vec_id <> q.query_id), " +
        "r AS (SELECT query_id, vec_id, sim, ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY sim DESC, vec_id) AS rnk FROM c) " +
        "SELECT query_id, rnk, vec_id AS neighbor_id, sim FROM r WHERE rnk <= 3 " +
        "ORDER BY query_id, rnk")),

    QueryDef("q90_ivfpq",
      // The full FAISS IVFPQ serving shape (Jégou et al. 2011 §V;
      // IndexIVFPQ with by_residual=false): the COARSE quantizer
      // restricts each query to its nProbe = 2 nearest k-means cells
      // (q73b's probe machinery — ranked by exact integer distance to
      // the assign-time centroids) and the FINE quantizer scores only
      // those cells' members by PQ ADC (q89's kernel — the candidate's
      // 80-bit code selects m LUT entries, their integer sum is the
      // approximate distance). This is THE industry-standard
      // billion-vector index: IVF bounds candidates to ~nProbe·n/k,
      // PQ bounds bytes touched per candidate to m·log2(ksub) bits, so
      // a query reads ~nProbe·n/k·10 bytes instead of n·256 — at
      // n = 10⁹ that's 5 MB instead of 256 GB. Everything stays in the
      // quantized-integer doctrine, so the composed approximate index
      // is oracle-hashable end-to-end (train → assign → encode → probe
      // → ADC). Shape at 100 TB: both indexes are session-cached
      // relations (cells from the shared Lloyd's run, codes from
      // [[pqCodes]] — write once, read everywhere); the probe table ×
      // ADC LUT (nProbe·m·ksub rows per query) BROADCASTS to the code
      // scan, so the member side never shuffles; the per-(query, vec)
      // m-entry sum folds map-side through a hash agg and the top-k
      // rides TopKRows — no window sort anywhere (PlanSpec guards all
      // three). AnnIvfSpec pins the ADC kernel's consistency: q90's
      // distances agree exactly with full-scan q89 on every
      // (query, neighbor) it emits.
      (s, d) => {
        val scored = ivfpqAdcScored(s, d)
        val topk = udaf(new graft.functions.TopKRows(3),
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaDouble,
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.scalaLong))
        scored
          .select(col("query_id"), col("vec_id"), (-col("adist")).cast("double").as("negd"))
          .groupBy(col("query_id"))
          .agg(topk(col("negd"), col("vec_id"), lit(0L)).as("top"))
          .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
          .select(col("query_id"), (col("pos") + 1).as("rnk"),
            col("e._2").as("neighbor_id"), (-col("e._1")).cast("long").as("adist"))
          .orderBy(col("query_id"), col("rnk"))
      },
      // oracle = q73b's coarse chain (cells a2, probes p) + q89's PQ
      // chain (prefixed pcm/pc0/pd1/pa1/pc1/pd2 → codes, lut), joined in
      // the scoring CTE: a candidate scores iff its cell is probed
      Some(Q90AdcSqlCtes +
        " SELECT query_id, rnk, vec_id AS neighbor_id, adist FROM r WHERE rnk <= 3 " +
        "ORDER BY query_id, rnk")),

    QueryDef("q96_ivfpq_residual",
      // RESIDUAL product quantization — FAISS IndexIVFPQ's actual
      // default (by_residual=true, Jégou et al. 2011 §V.B): the PQ
      // codebooks are trained on xi − centroid(assigned cell), not the
      // raw vectors. Residuals concentrate around the origin, so the
      // same 80-bit budget spends its codewords on a smaller ball —
      // an effect that GROWS with coarse-quantizer quality: on this
      // fixture (k = 4 cells over diffuse embeddings) residuals are
      // nearly as spread as the raw vectors, so AnnIvfSpec pins
      // PARITY with q90 (error within 25%, under the q89 0.35 bound)
      // rather than dominance. The serving subtlety that defines
      // residual PQ: the ADC LUT is PER (query, probed cell) — the
      // query's residual differs for each cell it probes — so the
      // broadcast side is nProbe·m·ksub rows per query (built from the
      // probe table and the LocalRelation codebook; still tiny), and a
      // member in cell C scores against the (query, C) slice. All
      // arithmetic stays exact-integer (residual subtraction included),
      // so train → assign → residual-encode → probe → per-cell ADC is
      // oracle-hashable end-to-end. Scale shape identical to q90: both
      // index relations session-cached and persisted, the member/code
      // scan never shuffles, scoring folds map-side, top-k on TopKRows.
      (s, d) => adcTop3Stage(ivfpqResAdcScored(s, d)),
      // oracle = q90's coarse chain, then the PQ chain retrained on the
      // residual relation rcm (xi − c1 centroid of the a2-assigned
      // cell); the LUT is built per (query, probed cell) from the
      // query's per-cell residual qr scored against the pc1 codebook —
      // the same codewords the encode argmin (pd2) ran on
      Some(Q96AdcSqlCtes +
        " SELECT query_id, rnk, vec_id AS neighbor_id, adist FROM r WHERE rnk <= 3 " +
        "ORDER BY query_id, rnk")),

    Q137Def,

    Q113Def,

    Q129Def,

    Q132Def,

    QueryDef("q114_graph_ann_search",
      // Navigable search OVER the q113 graph — the query half of the
      // HNSW story (q113 builds the navigable substrate, this walks
      // it): batch greedy BEAM search, 5 query vectors (the q48
      // convention), per-query md5-derived entry nodes, beam width 8, 5 hops over the
      // full breadth-16 NN-Descent graph, report top-3 non-self
      // neighbors. Per hop: beam ∪ beam's out-neighbors, re-scored
      // against the query, top-8 kept (sim DESC, id — total order).
      // Scale shape: each hop is ONE equi-join of the beam relation
      // (query_id, node) against the edge list on node — per-hop cost
      // |queries|·beam·degree rows, 5 sequential barriers, batch-
      // parallel over ANY number of queries (HNSW answers one query
      // per walk; the relational form answers a query TABLE per walk —
      // at 100 TB the graph edge list shuffles once by src and every
      // hop reuses that layout). Searches touch ≤ beam·degree·H nodes
      // instead of n — the whole point of graph ANN; recall vs brute
      // is pinned in NnDescentSpec (beam search finds the exact top-3
      // for every query on the fixture).
      (s, d) => {
        val Beam = 8
        val graph = nnDescentGraphShared(s, d).select(col("src"), col("dst"))
        val e = embUnit(s, d).localCheckpoint(true)
        val n = e.count()
        val qv = broadcast(e.where(col("vec_id").between(1, 5))
          .select(col("vec_id").as("query_id"), col("u").as("qu")))
        def scoreBeam(beam: DataFrame): DataFrame =
          beam.join(e, col("node") === col("vec_id"))
            .join(qv, Seq("query_id"))
            .select(col("query_id"), col("node"),
              round(dot(col("u"), col("qu")), 4).as("sim"))
        // per-query md5-derived entry point (spreads walks across the
        // graph, HNSW-style, and keeps the first hop a REAL equi-join —
        // a shared literal entry constant-folds the hop into a BNLJ)
        var beam = qv.select(col("query_id"),
          pmod(conv(substring(md5(concat(lit("entry#"), col("query_id"))), 1, 8), 16, 10)
            .cast("long"), lit(n)).as("node"))
        for (_ <- 1 to 5) {
          val expanded = beam
            .union(beam.join(graph, col("node") === col("src"))
              .select(col("query_id"), col("dst").as("node")))
          // ONE query-keyed shuffle per hop: dedup + top-Beam fold into
          // the same aggregation (collect_set dedups (query, node) —
          // duplicate candidates score identically so their structs
          // collide; the (0−sim, node) struct sort is (sim DESC, node
          // ASC), with the subtraction normalizing −0.0 so tie order is
          // engine-stable). The previous distinct() + window form paid
          // THREE barriers per hop (distinct shuffle, window shuffle,
          // checkpoint job) — 5 hops of small-stage scheduling latency
          // dominated the walk. Per-query state is ≤ Beam·(1+degree)
          // structs — bounded. The hop's beam is then lazily
          // lineage-truncated: each hop references its predecessor
          // TWICE (keep ∪ expand), so an untruncated tree doubles per
          // hop (2^5 references to the entry relation — the disease the
          // oracle's MATERIALIZED hint fixes on the DuckDB side, q99's
          // lesson in loop form).
          beam = scoreBeam(expanded)
            .groupBy(col("query_id"))
            .agg(slice(sort_array(collect_set(
              struct((lit(0.0) - col("sim")).as("ns"), col("node")))), 1, Beam).as("top"))
            .select(col("query_id"), explode(col("top.node")).as("node"))
            .localCheckpoint(false)
        }
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("node"))
        scoreBeam(beam).where(col("node") =!= col("query_id"))
          .withColumn("rnk", row_number().over(w)).where(col("rnk") <= 3)
          .select(col("query_id"), col("rnk"), col("node").as("neighbor_id"), col("sim"))
          .orderBy(col("query_id"), col("rnk"))
      },
      Some {
        // every multi-referenced CTE in the walk is MATERIALIZED:
        // DuckDB inlines plain CTEs per reference, and each hop
        // references its predecessor twice — unmaterialized, b5 would
        // re-evaluate the whole NN-Descent build 2^5 times (observed
        // as a runaway oracle before the hint)
        def hop(prev: String, next: String): String =
          s"x$next AS (SELECT DISTINCT query_id, node FROM (" +
            s"SELECT query_id, node FROM $prev " +
            s"UNION ALL SELECT b.query_id, g.dst AS node FROM $prev b " +
            "JOIN graph g ON g.src = b.node)), " +
            s"s$next AS (SELECT x.query_id, x.node, " +
            "ROUND(list_cosine_similarity(ev.v, q.qv), 4) AS sim " +
            s"FROM x$next x JOIN e ev ON ev.vec_id = x.node " +
            "JOIN qv q ON q.query_id = x.query_id), " +
            s"$next AS MATERIALIZED (SELECT query_id, node FROM (SELECT query_id, node, " +
            "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, node) AS rn " +
            s"FROM s$next) WHERE rn <= 8)"
        "WITH " + NnGraphSqlCtes + ", " +
          "graph AS MATERIALIZED (SELECT src, dst FROM g3 WHERE rnk <= 16), " +
          "qv AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id BETWEEN 1 AND 5), " +
          "b0 AS (SELECT query_id, CAST(('0x' || substring(md5('entry#' || query_id),1,8)) AS BIGINT) % nn.n AS node " +
          "FROM qv CROSS JOIN nn), " +
          hop("b0", "b1") + ", " + hop("b1", "b2") + ", " + hop("b2", "b3") + ", " +
          hop("b3", "b4") + ", " + hop("b4", "b5") + ", " +
          "fin AS (SELECT b.query_id, b.node, ROUND(list_cosine_similarity(ev.v, q.qv), 4) AS sim " +
          "FROM b5 b JOIN e ev ON ev.vec_id = b.node JOIN qv q ON q.query_id = b.query_id " +
          "WHERE b.node <> b.query_id) " +
          "SELECT query_id, rnk, node AS neighbor_id, sim FROM (" +
          "SELECT query_id, node, sim, ROW_NUMBER() OVER (PARTITION BY query_id " +
          "ORDER BY sim DESC, node) AS rnk FROM fin) WHERE rnk <= 3 " +
          "ORDER BY query_id, rnk"
      }),

    QueryDef("q128_hnsw_layered_search",
      // The LAYERED half of the HNSW story (Malkov & Yashunin 2016) —
      // q113 builds the navigable substrate, q114 walks it flat from
      // md5-random entries; this adds the hierarchy that makes entry
      // points GOOD: md5-assigned geometric levels (P(level ≥ l) =
      // 4^-l: L1 = ids with h32('lvl#'id) ≡ 0 mod 4, L2 ≡ 0 mod 16 —
      // nested by construction), an NN-Descent-built kNN graph PER
      // upper layer (the established distributed construction; layer
      // sizes shrink geometrically so Σ build cost stays O(n·K²)),
      // greedy 1-best descent through L2 then L1 (two hops each, the
      // HNSW ef=1 upper-layer walk), and the q114 beam-8/5-hop search
      // at layer 0 seeded from the descended entry instead of an
      // md5-random node. Every stage is an equi-join (member index,
      // hop expansion, scoring); entries stay per-query expressions so
      // no hop constant-folds into a BNLJ (the q114 lesson, PlanSpec-
      // guarded). Recall vs brute is pinned ≥ the q114 floor in
      // HnswLayeredSpec. At 100 TB: upper layers are n/4 and n/16 —
      // the "express lanes" that fit hot storage; the base graph
      // shuffles once by src and every hop of every query batch
      // reuses that layout.
      (s, d) => {
        val Beam = 8
        val e = embUnit(s, d).localCheckpoint(true)
        val qv = broadcast(e.where(col("vec_id").between(1, 5))
          .select(col("vec_id").as("query_id"), col("u").as("qu")))
        // the three graph builds are independent — submit them as
        // concurrent Spark jobs (distinct SessionCache keys, shared
        // inputs checkpointed; the q129 concurrency precedent). The
        // descent itself stays sequential — each hop reads the last.
        // Upper-layer graphs are built as their 2-STEP edge closures
        // (edges to every node within ≤2 hops): one greedy hop over
        // the closure replaces the former TWO chained ef=1 hops per
        // layer (VERDICT r9 item 6) — halving the data-dependent
        // barrier chain — and is the STRONGER search (argmin over the
        // full 2-hop neighborhood ⊇ the chained-greedy candidate set,
        // which was confined to the first hop winner's neighborhood).
        // Closure size is bounded: ≤ K + K² edges per node, built
        // inside the concurrent batch (then session-cached with the
        // graphs — the closure is index, not query), never on the
        // sequential path. Mirrored exactly in the oracle's
        // cloL1/cloL2 CTEs.
        val (g0, g1, g2) = graft.util.Jobs.awaitAll("q128 graph builds")(Seq(
          () => nnDescentGraphShared(s, d).select(col("src"), col("dst")),
          () => closureShared(s, d, "L1",
            hnswLayerGraphShared(s, d, 4, "L1").select(col("src"), col("dst"))),
          () => closureShared(s, d, "L2",
            hnswLayerGraphShared(s, d, 16, "L2").select(col("src"), col("dst")))))
          match { case Seq(a, b, c) => (a, b, c) }
        // entry: md5-derived L2 member via the dense member index
        val lvl = conv(substring(md5(concat(lit("lvl#"), col("vec_id"))), 1, 8), 16, 10)
          .cast("long")
        val idx2 = memberIndex(e.where(pmod(lvl, lit(16)) === 0))
        val n2 = idx2.count()
        def scoreNodes(bm: DataFrame): DataFrame =
          bm.join(e, col("node") === col("vec_id"))
            .join(qv, Seq("query_id"))
            .select(col("query_id"), col("node"),
              round(dot(col("u"), col("qu")), 4).as("sim"))
        // greedy ef=1 upper-layer hop: current ∪ out-neighbors, keep
        // the 1 best (sim DESC, node ASC; the 0.0−sim subtraction
        // normalizes −0.0 so tie order is engine-stable)
        def greedyHop(cur: DataFrame, g: DataFrame): DataFrame =
          scoreNodes(cur.union(
              cur.join(g, col("node") === col("src"))
                .select(col("query_id"), col("dst").as("node"))))
            .groupBy(col("query_id"))
            .agg(min(struct((lit(0.0) - col("sim")).as("ns"), col("node"))).as("b"))
            .select(col("query_id"), col("b.node").as("node"))
            .localCheckpoint(false)
        var cur = qv.select(col("query_id"),
          pmod(conv(substring(md5(concat(lit("entry2#"), col("query_id"))), 1, 8), 16, 10)
            .cast("long"), lit(n2)).as("m_idx"))
          .join(idx2, Seq("m_idx"))
          .select(col("query_id"), col("vec_id").as("node"))
        // one 2-hop-closure greedy step per upper layer (was two
        // chained ef=1 hops — see the twoStep comment above)
        cur = greedyHop(cur, g2)
        cur = greedyHop(cur, g1)
        // layer 0: the q114 beam, seeded from the descended entry.
        // Search reach stays EXACTLY radius 5 (the q114 design), but
        // the barrier chain is 3 steps instead of 5: two steps over
        // the base graph's 2-step closure (radius 2 each) + one over
        // the raw graph (radius 1). Pruning to the beam width happens
        // at 3 points instead of 5 — strictly fewer prune gates over
        // the same reach, so per-step candidate sets only widen
        // (bounded by Beam·(1+K+K²) per query per step). Mirrored in
        // the oracle's clo0 CTE + 3-step bhop chain. Scale note: the
        // closure is ≤K²+K edges/node — a 17× edge blow-up the upper
        // layers absorb trivially; for layer 0 it trades one-off
        // closure-build shuffle for 2 fewer data-dependent barriers
        // PER QUERY BATCH — the right trade whenever queries outnumber
        // index rebuilds.
        val g0clo = closureShared(s, d, "L0", g0)
        var beam = cur
        for (g <- Seq(g0clo, g0clo, g0)) {
          val expanded = beam
            .union(beam.join(g, col("node") === col("src"))
              .select(col("query_id"), col("dst").as("node")))
          beam = scoreNodes(expanded)
            .groupBy(col("query_id"))
            .agg(slice(sort_array(collect_set(
              struct((lit(0.0) - col("sim")).as("ns"), col("node")))), 1, Beam).as("top"))
            .select(col("query_id"), explode(col("top.node")).as("node"))
            .localCheckpoint(false)
        }
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("node"))
        scoreNodes(beam).where(col("node") =!= col("query_id"))
          .withColumn("rnk", row_number().over(w)).where(col("rnk") <= 3)
          .select(col("query_id"), col("rnk"), col("node").as("neighbor_id"), col("sim"))
          .orderBy(col("query_id"), col("rnk"))
      },
      Some {
        def hop(prev: String, next: String, graph: String = "graph"): String =
          s"x$next AS (SELECT DISTINCT query_id, node FROM (" +
            s"SELECT query_id, node FROM $prev " +
            s"UNION ALL SELECT b.query_id, g.dst AS node FROM $prev b " +
            s"JOIN $graph g ON g.src = b.node)), " +
            s"s$next AS (SELECT x.query_id, x.node, " +
            "ROUND(list_cosine_similarity(ev.v, q.qv), 4) AS sim " +
            s"FROM x$next x JOIN e ev ON ev.vec_id = x.node " +
            "JOIN qv q ON q.query_id = x.query_id), " +
            s"$next AS MATERIALIZED (SELECT query_id, node FROM (SELECT query_id, node, " +
            "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, node) AS rn " +
            s"FROM s$next) WHERE rn <= 8)"
        def ghop(prev: String, next: String, graph: String): String =
          s"gx$next AS (SELECT DISTINCT query_id, node FROM (" +
            s"SELECT query_id, node FROM $prev " +
            s"UNION ALL SELECT b.query_id, g.dst AS node FROM $prev b " +
            s"JOIN $graph g ON g.src = b.node)), " +
            s"$next AS MATERIALIZED (SELECT query_id, node FROM (SELECT x.query_id, x.node, " +
            "ROW_NUMBER() OVER (PARTITION BY x.query_id ORDER BY " +
            "ROUND(list_cosine_similarity(ev.v, q.qv), 4) DESC, x.node) AS rn " +
            s"FROM gx$next x JOIN e ev ON ev.vec_id = x.node " +
            "JOIN qv q ON q.query_id = x.query_id) WHERE rn = 1)"
        "WITH " + NnGraphSqlCtes + ", " +
          "graph AS MATERIALIZED (SELECT src, dst FROM g3 WHERE rnk <= 16), " +
          hnswLayerSqlCtes("L1", 4) + ", " +
          hnswLayerSqlCtes("L2", 16) + ", " +
          "qv AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id BETWEEN 1 AND 5), " +
          "ent AS (SELECT q.query_id, dd.vec_id AS node FROM qv q CROSS JOIN mnL2 nn " +
          "JOIN mL2 dd ON dd.midx = CAST(('0x' || substring(md5('entry2#' || q.query_id),1,8)) AS BIGINT) % nn.n), " +
          // 2-step edge closures — one greedy hop per layer over the
          // closure mirrors the engine's merged descent exactly
          "cloL2 AS MATERIALIZED (SELECT DISTINCT src, dst FROM (" +
          "SELECT src, dst FROM glyrL2 UNION ALL " +
          "SELECT a.src, b.dst FROM glyrL2 a JOIN glyrL2 b ON b.src = a.dst)), " +
          "cloL1 AS MATERIALIZED (SELECT DISTINCT src, dst FROM (" +
          "SELECT src, dst FROM glyrL1 UNION ALL " +
          "SELECT a.src, b.dst FROM glyrL1 a JOIN glyrL1 b ON b.src = a.dst)), " +
          ghop("ent", "h2", "cloL2") + ", " +
          ghop("h2", "h4", "cloL1") + ", " +
          // layer-0 closure + 3-step beam (radius 2+2+1 = the old 5)
          "clo0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM (" +
          "SELECT src, dst FROM graph UNION ALL " +
          "SELECT a.src, b.dst FROM graph a JOIN graph b ON b.src = a.dst)), " +
          hop("h4", "b1", "clo0") + ", " + hop("b1", "b2", "clo0") + ", " +
          hop("b2", "b3") + ", " +
          "fin AS (SELECT b.query_id, b.node, ROUND(list_cosine_similarity(ev.v, q.qv), 4) AS sim " +
          "FROM b3 b JOIN e ev ON ev.vec_id = b.node JOIN qv q ON q.query_id = b.query_id " +
          "WHERE b.node <> b.query_id) " +
          "SELECT query_id, rnk, node AS neighbor_id, sim FROM (" +
          "SELECT query_id, node, sim, ROW_NUMBER() OVER (PARTITION BY query_id " +
          "ORDER BY sim DESC, node) AS rnk FROM fin) WHERE rnk <= 3 " +
          "ORDER BY query_id, rnk"
      }))

  private lazy val Q129Def: QueryDef = QueryDef("q129_ann_operating_sweep",
      // The ABLATION REPORT a 100 TB deployment reads before picking
      // ANN operating points: one oracle-hashed table sweeping the two
      // production knobs — IVF nProbe ∈ {1,2,3,4} (of 4 cells) and
      // graph-beam width ∈ {2,4,8} (5 hops over the shared q113
      // graph) — each row reporting its COST (distance computations:
      // distinct candidates scored) and QUALITY (hits against the
      // exact brute top-3, 15 possible). The cost/recall frontier is
      // the artifact: nProbe=4 is brute-force-via-cells (recall 15 by
      // construction), beam=2 shows the recall floor a too-narrow walk
      // pays. Every leg reuses the proven shared stages (lloydShared
      // index, probeCells ranking, nnDescentGraphShared) so the sweep
      // measures the REAL operators, not reimplementations. The final
      // 7-row report is assembled driver-side from distributed
      // aggregates (bounded: 7 rows × 2 counts — the manifest
      // pattern, not a data-plane collect).
      (s, d) => {
        import graft.operators.KMeansLloyd
        val e = embUnit(s, d).localCheckpoint(true)
        val n = e.count()
        val qv = broadcast(e.where(col("vec_id").between(1, 5))
          .select(col("vec_id").as("query_id"), col("u").as("qu")))
        def scoreNodes(bm: DataFrame): DataFrame =
          bm.join(e, col("node") === col("vec_id"))
            .join(qv, Seq("query_id"))
            .select(col("query_id"), col("node"),
              round(dot(col("u"), col("qu")), 4).as("sim"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("node"))
        def top3(scored: DataFrame): DataFrame =
          scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= 3)
            .select(col("query_id"), col("node"))
        // exact ground truth (the q48 brute shape — the one DECLARED
        // BNLJ stage in this entry; the stage audit allowlists it)
        val truth3 = graft.util.StageAudit.record("q129:truth3-brute", top3(
          e.join(qv, col("vec_id") =!= col("query_id"))
            .select(col("query_id"), col("vec_id").as("node"),
              round(dot(col("u"), col("qu")), 4).as("sim"))))
          .localCheckpoint(true)
        def hits(t3: DataFrame): Long =
          t3.join(truth3, Seq("query_id", "node")).count()

        // IVF leg: candidates from the nProbe nearest cells
        val (assigned, probeCents, _) = lloydShared(s, d)
        val member = assigned.select(col("vec_id"), col("cell")).join(e, "vec_id")
        val vecsQ = Tables(s, d, "embeddings")
          .where(col("vec_id").between(1, 5))
          .select(col("vec_id"), KMeansLloyd.quantize(col("embedding")).as("xi"))
        // the 7 operating points are INDEPENDENT — run them as
        // concurrent Spark jobs (the IncrementalNearDup parallel-append
        // precedent; all shared inputs are checkpointed above, so the
        // threads only submit actions). Sequential, the sweep was
        // latency-bound on ~50 small hop/count jobs (8.2 s at sf0.1);
        // concurrent it is bound by the widest single walk.
        val ivfF = (1 to 4).map { p => () => {
          val probes = KMeansLloyd.probeCells(vecsQ, probeCents, nProbe = p)
            .select(col("vec_id").as("query_id"), col("cell"))
          val q = broadcast(probes.join(
            qv.select(col("query_id"), col("qu")), Seq("query_id")))
          val cand = graft.util.StageAudit.record(s"q129:ivf-p$p",
            member.join(q,
              member("cell") === q("cell") && col("vec_id") =!= col("query_id"))
            .select(col("query_id"), col("vec_id").as("node"),
              round(dot(col("u"), col("qu")), 4).as("sim")))
            .localCheckpoint(true)
          ("ivf", p.toLong, cand.count(), hits(top3(cand)))
        } }

        // beam leg: the q114 walk at widths 2/4/8, cost = Σ distinct
        // candidates scored per hop
        val g0 = nnDescentGraphShared(s, d).select(col("src"), col("dst"))
          .localCheckpoint(true)
        val ent = qv.select(col("query_id"),
          pmod(conv(substring(md5(concat(lit("entry#"), col("query_id"))), 1, 8), 16, 10)
            .cast("long"), lit(n)).as("node"))
        val beamF = Seq(2, 4, 8).map { b => () => {
          var beam = ent
          var scoredCount = 0L
          for (h <- 1 to 5) {
            val expanded = graft.util.StageAudit.record(s"q129:beam-b$b-h$h-expand",
              beam
                .union(beam.join(g0, col("node") === col("src"))
                  .select(col("query_id"), col("dst").as("node")))
                .distinct()).localCheckpoint(false)
            scoredCount += expanded.count()
            beam = graft.util.StageAudit.record(s"q129:beam-b$b-h$h-select",
              scoreNodes(expanded)
                .groupBy(col("query_id"))
                .agg(slice(sort_array(collect_set(
                  struct((lit(0.0) - col("sim")).as("ns"), col("node")))), 1, b).as("top"))
                .select(col("query_id"), explode(col("top.node")).as("node")))
              .localCheckpoint(false)
          }
          val fin = top3(graft.util.StageAudit.record(s"q129:beam-b$b-final",
            scoreNodes(beam).where(col("node") =!= col("query_id"))))
          ("beam", b.toLong, scoredCount, hits(fin))
        } }

        val rows = graft.util.Jobs.awaitAll("q129 sweep legs")(ivfF ++ beamF)
        val spark = s
        import spark.implicits._
        rows.toDF("method", "param", "scored", "hits")
          .orderBy(col("method"), col("param"))
      },
      Some {
        def bhop(b: Int, prev: String, next: String): String =
          s"x$next AS MATERIALIZED (SELECT DISTINCT query_id, node FROM (" +
            s"SELECT query_id, node FROM $prev " +
            s"UNION ALL SELECT bb.query_id, g.dst AS node FROM $prev bb " +
            "JOIN graph g ON g.src = bb.node)), " +
            s"$next AS MATERIALIZED (SELECT query_id, node FROM (SELECT x.query_id, x.node, " +
            "ROW_NUMBER() OVER (PARTITION BY x.query_id ORDER BY " +
            "ROUND(list_cosine_similarity(ev.v, q.qv), 4) DESC, x.node) AS rn " +
            s"FROM x$next x JOIN e ev ON ev.vec_id = x.node " +
            s"JOIN qv q ON q.query_id = x.query_id) WHERE rn <= $b)"
        def beamChain(b: Int): String =
          (1 to 5).map(i => bhop(b,
            if (i == 1) "ent" else s"w${b}h${i - 1}", s"w${b}h$i")).mkString(", ")
        def beamRow(b: Int): String =
          s"rb$b AS (SELECT 'beam' AS method, CAST($b AS BIGINT) AS param, " +
            "CAST((" + (1 to 5).map(i => s"(SELECT COUNT(*) FROM xw${b}h$i)").mkString(" + ") +
            ") AS BIGINT) AS scored, " +
            s"CAST((SELECT COUNT(*) FROM (SELECT query_id, node FROM (SELECT bb.query_id, bb.node, " +
            "ROW_NUMBER() OVER (PARTITION BY bb.query_id ORDER BY " +
            "ROUND(list_cosine_similarity(ev.v, q.qv), 4) DESC, bb.node) AS rnk " +
            s"FROM w${b}h5 bb JOIN e ev ON ev.vec_id = bb.node " +
            "JOIN qv q ON q.query_id = bb.query_id WHERE bb.node <> bb.query_id) " +
            "WHERE rnk <= 3) t JOIN truth3 u ON u.query_id = t.query_id AND u.node = t.node) " +
            "AS BIGINT) AS hits)"
        def ivfRow(p: Int): String =
          s"candp$p AS (SELECT pr.query_id, m.vec_id AS node FROM pr JOIN a2 m ON m.cell = pr.cell " +
            s"WHERE pr.prnk <= $p AND m.vec_id <> pr.query_id), " +
            s"t3p$p AS (SELECT query_id, node FROM (SELECT c.query_id, c.node, " +
            "ROW_NUMBER() OVER (PARTITION BY c.query_id ORDER BY " +
            "ROUND(list_cosine_similarity(ev.v, q.qv), 4) DESC, c.node) AS rnk " +
            s"FROM candp$p c JOIN e ev ON ev.vec_id = c.node " +
            "JOIN qv q ON q.query_id = c.query_id) WHERE rnk <= 3), " +
            s"riv$p AS (SELECT 'ivf' AS method, CAST($p AS BIGINT) AS param, " +
            s"CAST((SELECT COUNT(*) FROM candp$p) AS BIGINT) AS scored, " +
            s"CAST((SELECT COUNT(*) FROM t3p$p t JOIN truth3 u " +
            "ON u.query_id = t.query_id AND u.node = t.node) AS BIGINT) AS hits)"
        "WITH " + NnGraphSqlCtes + ", " +
          "graph AS MATERIALIZED (SELECT src, dst FROM g3 WHERE rnk <= 16), " +
          "qv AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id BETWEEN 1 AND 5), " +
          "truth3 AS MATERIALIZED (SELECT query_id, node FROM (SELECT q.query_id, x.vec_id AS node, " +
          "ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY " +
          "ROUND(list_cosine_similarity(x.v, q.qv), 4) DESC, x.vec_id) AS rnk " +
          "FROM e x JOIN qv q ON x.vec_id <> q.query_id) WHERE rnk <= 3), " +
          // the q73 deterministic Lloyd's chain: comps → c0 → a1 → c1 →
          // d2 → a2 (assignment) + pr (per-query cell probe ranking)
          "comps AS (SELECT vec_id, i AS d, CAST(floor(v[i+1] * 1000000 + 0.5) AS BIGINT) AS xi " +
          "FROM e CROSS JOIN (SELECT UNNEST(range(0,64)) AS i) ix), " +
          "c0 AS (SELECT vec_id AS cell, d, xi AS ci FROM comps WHERE vec_id < 4), " +
          "d1 AS (SELECT c.vec_id, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
          "FROM comps c JOIN c0 k USING (d) GROUP BY 1, 2), " +
          "a1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, ROW_NUMBER() OVER " +
          "(PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d1) WHERE rn = 1), " +
          "c1 AS (SELECT a.cell, c.d, CAST(floor(CAST(SUM(c.xi) AS DOUBLE)/COUNT(*) + 0.5) AS BIGINT) AS ci " +
          "FROM comps c JOIN a1 a USING (vec_id) GROUP BY 1, 2), " +
          "d2 AS (SELECT c.vec_id, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
          "FROM comps c JOIN c1 k USING (d) GROUP BY 1, 2), " +
          "a2 AS MATERIALIZED (SELECT vec_id, cell FROM (SELECT vec_id, cell, ROW_NUMBER() OVER " +
          "(PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d2) WHERE rn = 1), " +
          "pr AS MATERIALIZED (SELECT vec_id AS query_id, cell, ROW_NUMBER() OVER " +
          "(PARTITION BY vec_id ORDER BY dist, cell) AS prnk FROM d2 WHERE vec_id BETWEEN 1 AND 5), " +
          (1 to 4).map(ivfRow).mkString(", ") + ", " +
          "ent AS (SELECT query_id, CAST(('0x' || substring(md5('entry#' || query_id),1,8)) AS BIGINT) % nn.n AS node " +
          "FROM qv CROSS JOIN nn), " +
          Seq(2, 4, 8).map(beamChain).mkString(", ") + ", " +
          Seq(2, 4, 8).map(beamRow).mkString(", ") +
          " SELECT method, param, scored, hits FROM (" +
          (1 to 4).map(p => s"SELECT * FROM riv$p").mkString(" UNION ALL ") +
          " UNION ALL " +
          Seq(2, 4, 8).map(b => s"SELECT * FROM rb$b").mkString(" UNION ALL ") +
          ") ORDER BY method, param"
      })

  private lazy val Q132Def: QueryDef = QueryDef("q132_jl_projection_audit",
      // Johnson–Lindenstrauss random projection, 64 → 16 dims, with
      // the distortion audit a deployment runs before swapping the
      // projected vectors into a pipeline (the missing DIMENSIONALITY-
      // REDUCTION member of the vector family: SQ8/PQ compress codes,
      // JL compresses the geometry itself — the standard preprocessing
      // for trillion-scale similarity search and clustering). The
      // projection matrix is ±1 signs from md5('jl#i#j') parity —
      // deterministic, engine-portable, materialization-free: the 1024
      // signs fold into the plan as literals (the centroids-as-
      // literals doctrine), so projecting is ONE map-only pass, no
      // join, no shuffle — embarrassingly parallel at 100 TB. Inputs
      // quantize to e6 integers first (KMeansLloyd.quantize), so
      // projections and squared distances are EXACT integers on both
      // engines; the one division (the distance-ratio) happens in
      // IEEE double on exact integer operands with an identical
      // expression tree (the q22 floor doctrine). Audit: for every
      // consecutive-id pair, ratio = ||Pa − Pb||² / (k · ||a − b||²)
      // (±1 signs give E[||Pa−Pb||²] = k·||a−b||², so /k is the
      // unbiased normalizer) quantized to e4, histogrammed in
      // 0.2-wide buckets with the tail clamped at 4.0 — the JL
      // concentration-around-1 evidence, plus the exact pair count
      // per bucket. Output is bucket rows — bounded, hash-exact.
      (s, d) => {
        import graft.operators.KMeansLloyd
        val k = 16
        val dims = 64
        def sign(i: Int, j: Int): Long = {
          val md = java.security.MessageDigest.getInstance("MD5")
          val hex = md.digest(s"jl#$i#$j".getBytes("UTF-8"))
            .map(b => f"$b%02x").mkString
          if (Integer.parseInt(hex.substring(0, 1), 16) % 2 == 0) 1L else -1L
        }
        val q = Tables(s, d, "embeddings")
          .select(col("vec_id"), KMeansLloyd.quantize(col("embedding")).as("xi"))
        val projected = q.select(col("vec_id") +: col("xi") +:
          (0 until k).map { j =>
            val signs = (0 until dims).map(i => sign(i, j)).mkString(", ")
            expr(s"aggregate(zip_with(xi, array($signs), (x, s) -> x * s), 0L, (acc, v) -> acc + v)")
              .as(s"p$j")
          }: _*)
        val b = projected.select(
          (col("vec_id") - 1).as("vec_id") +: col("xi").as("xb") +:
            (0 until k).map(j => col(s"p$j").as(s"q$j")): _*)
        val dproj = (0 until k).map(j =>
          (col(s"p$j") - col(s"q$j")) * (col(s"p$j") - col(s"q$j"))).reduce(_ + _)
        projected.join(b, Seq("vec_id"))
          .select(col("vec_id"),
            expr("aggregate(zip_with(xi, xb, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)")
              .as("dorig"),
            dproj.as("dproj"))
          .where(col("dorig") > 0)
          .select(expr(s"CAST(floor(CAST(dproj AS DOUBLE) / $k " +
            "/ CAST(dorig AS DOUBLE) * 10000 + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("ratio_e4"))
          // tail-clamped at ratio 4.0: a near-identical pair's tiny
          // denominator amplifies its ratio arbitrarily — the report
          // wants the concentration shape, not one row per outlier
          .groupBy(least(expr("ratio_e4 div 2000"), lit(20L)).as("bucket"))
          .agg(count(lit(1)).as("n_pairs"),
            min(col("ratio_e4")).as("min_ratio_e4"),
            max(col("ratio_e4")).as("max_ratio_e4"))
          .orderBy(col("bucket"))
      },
      Some {
        val k = 16
        val dims = 64
        // the identical sign recipe, generated as SQL literals would
        // be 1024 CASE arms — instead mirror the md5 parity inline
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
          "comps AS (SELECT vec_id, i AS d, CAST(floor(v[i+1] * 1000000 + 0.5) AS BIGINT) AS xi " +
          s"FROM e CROSS JOIN (SELECT UNNEST(range(0,$dims)) AS i) ix), " +
          "sgn AS (SELECT i.i AS d, j.j, CASE WHEN CAST(('0x' || substring(md5('jl#' || i.i || '#' || j.j),1,1)) AS INT) % 2 = 0 " +
          s"THEN 1 ELSE -1 END AS s FROM (SELECT UNNEST(range(0,$dims)) AS i) i " +
          s"CROSS JOIN (SELECT UNNEST(range(0,$k)) AS j) j), " +
          "proj AS (SELECT c.vec_id, g.j, SUM(c.xi * g.s) AS p FROM comps c " +
          "JOIN sgn g ON g.d = c.d GROUP BY 1, 2), " +
          "dp AS (SELECT a.vec_id, SUM((a.p - b.p)*(a.p - b.p)) AS dproj FROM proj a " +
          "JOIN proj b ON b.vec_id = a.vec_id + 1 AND b.j = a.j GROUP BY 1), " +
          "dor AS (SELECT a.vec_id, SUM((a.xi - b.xi)*(a.xi - b.xi)) AS dorig FROM comps a " +
          "JOIN comps b ON b.vec_id = a.vec_id + 1 AND b.d = a.d GROUP BY 1), " +
          "r AS (SELECT CAST(floor(CAST(dp.dproj AS DOUBLE) / " + k + " " +
          "/ CAST(dor.dorig AS DOUBLE) * 10000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS ratio_e4 " +
          "FROM dp JOIN dor USING (vec_id) WHERE dor.dorig > 0) " +
          "SELECT LEAST(CAST(ratio_e4 // 2000 AS BIGINT), 20) AS bucket, COUNT(*) AS n_pairs, " +
          "MIN(ratio_e4) AS min_ratio_e4, MAX(ratio_e4) AS max_ratio_e4 " +
          "FROM r GROUP BY 1 ORDER BY 1"
      })

  /** Session cache of the upper-HNSW-layer NN-Descent graphs (q128):
    * one per (dir, layer tag); build-once/search-many like the base
    * graph cache. */
  private val hnswLayerCache = new graft.SessionCache[DataFrame](_ => ())
  private[graft] def hnswLayerGraphShared(s: SparkSession, d: String,
      modulus: Int, tag: String): DataFrame =
    hnswLayerCache.getOrElseUpdate(s, s"$d#$tag", {
      val lvl = conv(substring(md5(concat(lit("lvl#"), col("vec_id"))), 1, 8), 16, 10)
        .cast("long")
      val memb = embUnit(s, d).where(pmod(lvl, lit(modulus)) === 0)
      nnDescentOver(memb, rounds = 2, searchK = 8, seedTag = s"$tag#")
    })

  /** DuckDB replay of one upper-layer NN-Descent build (2 rounds,
    * K = 8, 8 seeds), ending in `glyr<p>(src, dst)` plus the member
    * index `m<p>(vec_id, midx)` / count `mn<p>(n)` — mirrors
    * [[nnDescentOver]] + [[memberIndex]] exactly (same seed tag, same
    * per-round md5 cap key as the base build). */
  private def hnswLayerSqlCtes(p: String, modulus: Int): String = {
    val K = 8
    def rnd(r: Int, prev: String, next: String): String =
      s"u$next AS (SELECT src, dst FROM $prev UNION SELECT dst, src FROM $prev), " +
        s"c$next AS (SELECT src, dst FROM (SELECT src, dst, ROW_NUMBER() OVER " +
        s"(PARTITION BY src ORDER BY md5($r || '#' || src || '#' || dst), dst) AS rn " +
        s"FROM u$next) WHERE rn <= ${2 * K}), " +
        s"n$next AS (SELECT e1.dst AS src, e2.dst AS dst FROM c$next e1 " +
        s"JOIN c$next e2 ON e1.src = e2.src AND e1.dst <> e2.dst " +
        s"UNION SELECT src, dst FROM $prev), " +
        s"s$next AS (SELECT pp.src, pp.dst, ROUND(list_cosine_similarity(a.v, b.v), 4) AS sim " +
        s"FROM n$next pp JOIN e a ON a.vec_id = pp.src JOIN e b ON b.vec_id = pp.dst), " +
        s"$next AS (SELECT src, dst, sim, ROW_NUMBER() OVER (PARTITION BY src " +
        s"ORDER BY sim DESC, dst) AS rnk FROM s$next)"
    s"m$p AS MATERIALIZED (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS midx FROM e " +
      s"WHERE CAST(('0x' || substring(md5('lvl#' || vec_id),1,8)) AS BIGINT) % $modulus = 0), " +
      s"mn$p AS (SELECT COUNT(*) AS n FROM m$p), " +
      s"init$p AS (SELECT DISTINCT s.vec_id AS src, dd.vec_id AS dst FROM m$p s " +
      "CROSS JOIN (SELECT UNNEST(range(0,8)) AS t) tt " +
      s"CROSS JOIN mn$p nn " +
      s"JOIN m$p dd ON dd.midx = CAST(('0x' || substring(md5('$p#' || s.vec_id || '#' || tt.t),1,8)) AS BIGINT) % nn.n " +
      "WHERE dd.vec_id <> s.vec_id), " +
      s"s0$p AS (SELECT pp.src, pp.dst, ROUND(list_cosine_similarity(a.v, b.v), 4) AS sim " +
      s"FROM init$p pp JOIN e a ON a.vec_id = pp.src JOIN e b ON b.vec_id = pp.dst), " +
      s"g0$p AS (SELECT src, dst, sim, ROW_NUMBER() OVER (PARTITION BY src " +
      s"ORDER BY sim DESC, dst) AS rnk FROM s0$p), " +
      s"e0$p AS (SELECT src, dst, sim FROM g0$p WHERE rnk <= $K), " +
      rnd(1, s"e0$p", s"g1$p") + s", e1$p AS (SELECT src, dst, sim FROM g1$p WHERE rnk <= $K), " +
      rnd(2, s"e1$p", s"g2$p") +
      s", glyr$p AS MATERIALIZED (SELECT src, dst FROM g2$p WHERE rnk <= $K)"
  }

  /** The q88/qc3 composed-index summary: base members ∪ streamed
    * members → per-cell counts + the retrain-due drift flag. Shared so
    * the CDC-fed composition (qc3) is column-for-column the q88 shape
    * under the same oracle. */
  private[graft] def ivfCompositionSummary(baseAssigned: DataFrame,
      newMembers: DataFrame): DataFrame =
    baseAssigned.select(col("vec_id"), col("cell"), lit(0L).as("is_new"))
      .unionByName(newMembers
        .select(col("vec_id"), col("cell"), lit(1L).as("is_new")))
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(sum(lit(1L) - col("is_new")).as("n_base"),
        sum(col("is_new")).as("n_new"))
      .withColumn("retrain_due",
        when(col("n_new") * 4 > col("n_base") + col("n_new"), 1L).otherwise(0L))
      .orderBy(col("cell"))

  /** The qc18 SERVING search over a composed (base ∪ streamed-
    * survivors) IVF membership: queries probe their own assigned cell
    * (nProbe = 1, the q73 shape), full-precision vectors are fetched
    * from the warehouse by vec_id (the index stores only (vec_id,
    * cell) — exactly the production split: IDs in the index, vectors
    * in the lake), per-query top-3 via the mergeable bounded-buffer
    * Aggregator (q73b's windowless form — map-side ≤3-entry buffers,
    * no shuffle-and-sort of the scored stream). */
  private[graft] def ivfServingSearch(s: SparkSession, d: String,
      baseAssigned: DataFrame, streamedMembers: DataFrame,
      queryIds: Seq[Long]): DataFrame =
    ivfServingSearchMembers(s, d, baseAssigned
      .select(col("vec_id"), col("cell").cast("int").as("cell"))
      .unionByName(streamedMembers
        .select(col("vec_id"), col("cell").cast("int").as("cell"))),
      queryIds)

  /** [[ivfServingSearch]] over ONE composed membership relation — the
    * shape a PERSISTED index loads as (qc19: the store holds the
    * already-composed base ∪ streamed-survivors inverted file). */
  private[graft] def ivfServingSearchMembers(s: SparkSession, d: String,
      members0: DataFrame, queryIds: Seq[Long]): DataFrame = {
    val members = members0
      .select(col("vec_id"), col("cell").cast("int").as("cell"))
    val e = embUnit(s, d)
    val member = members.join(e, "vec_id")
    val q = broadcast(member.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("cell"), col("u").as("qu")))
    val scored = member.join(q,
        member("cell") === q("cell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dot(col("u"), col("qu")), 4).as("sim"))
    val topk = udaf(new graft.functions.TopKRows(3),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
    scored.groupBy(col("query_id"))
      .agg(topk(col("sim"), col("vec_id"), lit(0L)).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).as("rnk"),
        col("e._2").as("neighbor_id"), col("e._1").as("sim"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** DuckDB oracle shared by q88 and qc3 (the CDC-fed twin): train on
    * the base 80%, score EVERY vector against the serving centroids in
    * one pass — the arrival rows reproduce the incremental map-only
    * assignment because both are the same pure integer argmin, and the
    * wire hop (qc3) cannot perturb it because embeddings travel as
    * exact Float round-trip strings. */
  private[queries] val IncrementalIvfOracleSql: String =
    incrementalIvfOracleSqlOver("TRUE")

  /** The shared base-trained serving-assignment CTE chain (`e` …
    * `a2`): train on the base 80%, score EVERY vector against the
    * serving centroids — the prefix of q88/qc3's oracle, factored so
    * the qc18 SEARCH oracle replays the identical index. No trailing
    * comma. */
  private def ivfServingTrainCtes: String =
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "comps AS (SELECT vec_id, i AS d, CAST(floor(v[i+1] * 1000000 + 0.5) AS BIGINT) AS xi " +
      "FROM e CROSS JOIN (SELECT UNNEST(range(0,64)) AS i) ix), " +
      "b AS (SELECT * FROM comps WHERE vec_id % 5 <> 4), " +
      "c0 AS (SELECT vec_id AS cell, d, xi AS ci FROM b WHERE vec_id < 4), " +
      "d1 AS (SELECT c.vec_id, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
      "FROM b c JOIN c0 k USING (d) GROUP BY 1, 2), " +
      "a1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, ROW_NUMBER() OVER " +
      "(PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d1) WHERE rn = 1), " +
      "c1 AS (SELECT a.cell, c.d, CAST(floor(CAST(SUM(c.xi) AS DOUBLE)/COUNT(*) + 0.5) AS BIGINT) AS ci " +
      "FROM b c JOIN a1 a USING (vec_id) GROUP BY 1, 2), " +
      "d2 AS (SELECT c.vec_id, k.cell, SUM((c.xi - k.ci)*(c.xi - k.ci)) AS dist " +
      "FROM comps c JOIN c1 k USING (d) GROUP BY 1, 2), " +
      "a2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, ROW_NUMBER() OVER " +
      "(PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d2) WHERE rn = 1)"

  /** [[IncrementalIvfOracleSql]] with the composed-index view
    * restricted to `keepPred` (training is untouched — the centroids
    * come from the base rows either way): q88b's survivors-only oracle
    * for streamed-vector retraction. */
  private[queries] def incrementalIvfOracleSqlOver(keepPred: String): String =
    ivfServingTrainCtes + ", " +
      "u AS (SELECT vec_id, cell, CASE WHEN vec_id % 5 = 4 THEN 1 ELSE 0 END AS is_new " +
      s"FROM a2 WHERE $keepPred) " +
      "SELECT cell, CAST(SUM(1 - is_new) AS BIGINT) AS n_base, " +
      "CAST(SUM(is_new) AS BIGINT) AS n_new, " +
      "CAST(CASE WHEN SUM(is_new) * 4 > COUNT(*) THEN 1 ELSE 0 END AS BIGINT) AS retrain_due " +
      "FROM u GROUP BY cell ORDER BY cell"

  /** The qc18 serving-search query-vector IDs — ONE definition feeding
    * both the Spark entry (as a Seq) and the DuckDB oracle (as its SQL
    * IN-list via [[ivfServingSearchOracleSql]]), so the two sides
    * cannot drift into a bare Verify hash mismatch with no cause. */
  private[graft] val ServingQueryIds: Seq[Long] = Seq(1L, 2L, 3L, 5L, 6L)

  /** qc18's oracle: the q73 single-probe search tail over the SERVING
    * index restricted to `keepPred` survivors — same training chain as
    * q88/qc3 ([[ivfServingTrainCtes]]), same probe/rank/rounding tail
    * as q73, membership = a2 survivors. Queries are the base vectors
    * named in `queryIds` (their probe cell is their own assigned
    * cell, nProbe = 1). */
  private[queries] def ivfServingSearchOracleSql(keepPred: String,
      queryIds: Seq[Long] = ServingQueryIds): String = {
    val inList = queryIds.mkString(", ")
    ivfServingTrainCtes + ", " +
      s"m AS (SELECT vec_id, cell FROM a2 WHERE $keepPred), " +
      s"q AS (SELECT vec_id AS query_id, cell FROM m WHERE vec_id IN ($inList)), " +
      "c AS (SELECT q.query_id, m.vec_id, " +
      "ROUND(list_cosine_similarity(ev.v, eq.v), 4) AS sim " +
      "FROM q JOIN m ON m.cell = q.cell AND m.vec_id <> q.query_id " +
      "JOIN e ev ON ev.vec_id = m.vec_id JOIN e eq ON eq.vec_id = q.query_id), " +
      "r AS (SELECT query_id, vec_id, sim, ROW_NUMBER() OVER (PARTITION BY query_id " +
      "ORDER BY sim DESC, vec_id) AS rnk FROM c) " +
      "SELECT query_id, rnk, vec_id AS neighbor_id, sim FROM r WHERE rnk <= 3 " +
      "ORDER BY query_id, rnk"
  }

  /** NN-Descent refinement loop (q113), rounds-parameterized so
    * NnDescentSpec can pin recall MONOTONICITY: each co-neighbor round
    * must not lose recall vs brute (and round 0 alone is the md5-seeded
    * random graph baseline it must beat). K = 6, reverse-degree cap 2K,
    * 8 seeded candidates per node. */
  /** The entry-shaped (rounds = 3, breadth 16) NN-Descent graph,
    * memoized per (session, dir) — q113 reports it and q114 searches
    * over it; a Verify/Bench session builds the index ONCE and serves
    * both (and every bench repetition) from the same checkpointed
    * blocks, the production build-once/search-many split. */
  private val nnGraphCache = new graft.SessionCache[DataFrame](_ => ())
  private[graft] def nnDescentGraphShared(s: SparkSession, d: String): DataFrame =
    nnGraphCache.getOrElseUpdate(s, d, nnDescentGraph(s, d, rounds = 3, searchK = 16))

  /** 2-step edge closure of a (src, dst) graph: edges to every node
    * within ≤2 hops. One hop over the closure = the best node in the
    * full 2-hop neighborhood (q128's merged descent/beam steps).
    * ≤ K + K² edges per node. */
  private def twoStep(g: DataFrame): DataFrame =
    g.union(g.as("a").join(g.as("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst")))
      .distinct()

  /** Session-cached, checkpointed closure per (dir, layer tag) — the
    * closure is part of the INDEX (built once per index generation),
    * not of the query: every query batch reuses it, the same
    * build-once/search-many split as the graphs themselves. */
  private val hnswClosureCache = new graft.SessionCache[DataFrame](_ => ())
  private def closureShared(s: SparkSession, d: String, tag: String,
      g: => DataFrame): DataFrame =
    hnswClosureCache.getOrElseUpdate(s, s"$d#clo#$tag",
      twoStep(g).localCheckpoint(true))

  private[graft] def nnDescentGraph(s: SparkSession, d: String, rounds: Int,
      searchK: Int = 6): DataFrame = {
    val K = searchK
    val e = embUnit(s, d).localCheckpoint(true)
    val n = e.count()
    val init = e.select(col("vec_id").as("src"),
        explode(sequence(lit(0), lit(7))).as("t"))
      .select(col("src"),
        pmod(conv(substring(md5(concat(col("src"), lit("#"), col("t"))), 1, 8), 16, 10)
          .cast("long"), lit(n)).as("dst"))
      .where(col("dst") =!= col("src")).distinct()
    nnRefine(e, nnTopK(K)(nnScore(e)(init)).localCheckpoint(true), rounds, K)
  }

  private def nnScore(e: DataFrame)(pairs: DataFrame): DataFrame =
    pairs.join(e.as("ea"), col("src") === col("ea.vec_id"))
      .join(e.as("eb"), col("dst") === col("eb.vec_id"))
      .select(col("src"), col("dst"),
        round(dot(col("ea.u"), col("eb.u")), 4).as("sim"))

  // windowless bounded top-K (TopKRows consumer #7 — the q48b form):
  // each task folds scores into a <= K-entry buffer per node, so the
  // shuffle carries K*nodes*tasks tuples and the scored pair stream is
  // never sorted; tie order (sim DESC, dst ASC) matches the oracle's
  // window exactly (the q48/q48b hash-identity claim)
  private def nnTopK(K: Int)(scored: DataFrame): DataFrame = {
    val topk = udaf(new graft.functions.TopKRows(K),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
    scored.groupBy(col("src"))
      .agg(topk(col("sim"), col("dst"), lit(0L)).as("top"))
      .select(col("src"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("src"), col("e._2").as("dst"), col("e._1").as("sim"),
        (col("pos") + 1).as("rnk"))
  }

  /** The NN-Descent co-neighbor refinement loop, shared by the base
    * (q113) and upper-HNSW-layer (q128) builds — member set enters only
    * through `e` and the initial edges, the loop is set-agnostic. */
  private def nnRefine(e: DataFrame, edges0: DataFrame, rounds: Int, K: Int): DataFrame = {
    var edges = edges0
    for (r <- 1 to rounds) {
      val und = edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      // the degree cap SAMPLES pseudo-randomly, re-seeded per round
      // (md5 of round#src#dst): a fixed deterministic order (e.g. by
      // id) re-explores the same reverse edges every round and the
      // refinement plateaus — measured 0.57 recall at id-order vs full
      // convergence with per-round sampling on the same fixture
      val capped = und.withColumn("rn",
          row_number().over(Window.partitionBy(col("src")).orderBy(
            md5(concat(lit(r), lit("#"), col("src"), lit("#"), col("dst"))), col("dst"))))
        .where(col("rn") <= 2 * K).drop("rn")
      val coN = capped.as("e1").join(capped.as("e2"),
          col("e1.src") === col("e2.src") && col("e1.dst") =!= col("e2.dst"))
        .select(col("e1.dst").as("src"), col("e2.dst").as("dst"))
      val pool = coN.union(edges.select(col("src"), col("dst"))).distinct()
      edges = nnTopK(K)(nnScore(e)(pool)).localCheckpoint(true)
    }
    edges
  }

  /** NN-Descent over an arbitrary MEMBER subset — the upper-HNSW-layer
    * build (q128). Member ids are not contiguous, so md5 seeding goes
    * through a dense member index (range partition + zipWithIndex —
    * the SuffixArray global-index pattern, per-partition counts +
    * driver prefix-sum, never a single-partition window). Layer sizes
    * shrink geometrically, so Σ layer build cost is O(n·K²) like the
    * base build. Returns (src, dst, sim, rnk) with rnk ≤ K. */
  private[graft] def nnDescentOver(members: DataFrame, rounds: Int, searchK: Int,
      seedTag: String, seeds: Int = 8): DataFrame = {
    val K = searchK
    val e = members.localCheckpoint(true) // (vec_id, u)
    val idx = memberIndex(e)
    val nl = idx.count()
    val init = e.select(col("vec_id").as("src"),
        explode(sequence(lit(0), lit(seeds - 1))).as("t"))
      .select(col("src"),
        pmod(conv(substring(md5(concat(lit(seedTag), col("src"), lit("#"), col("t"))), 1, 8), 16, 10)
          .cast("long"), lit(nl)).as("m_idx"))
      .join(idx, Seq("m_idx"))
      .select(col("src"), col("vec_id").as("dst"))
      .where(col("dst") =!= col("src")).distinct()
    nnRefine(e, nnTopK(K)(nnScore(e)(init)).localCheckpoint(true), rounds, K)
  }

  /** Dense 0-based index over a member relation, ordered by vec_id —
    * (m_idx, vec_id), checkpointed. */
  private[graft] def memberIndex(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructType}
    val parts = e.sparkSession.sessionState.conf.numShufflePartitions
    val sorted = e.select(col("vec_id"))
      .repartitionByRange(parts, col("vec_id")).sortWithinPartitions(col("vec_id"))
    val schema = new StructType().add("m_idx", LongType, nullable = false)
      .add("vec_id", LongType, nullable = false)
    e.sparkSession.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row(i, r.getLong(0)) }, schema)
      .localCheckpoint(true)
  }

  private lazy val Q113Def: QueryDef = QueryDef("q113_nndescent_knn_graph",
      // Graph-based ANN, the Spark-shaped half of the HNSW family:
      // NN-Descent (Dong, Moses & Li, WWW 2011) builds the all-nodes
      // k-NN GRAPH — the substrate HNSW-style navigable search runs on,
      // and itself the input for graph dedup / SemDeDup-like curation —
      // by iterated "my neighbor's neighbor is probably my neighbor"
      // refinement. HNSW's insert loop is inherently sequential (each
      // insert greedy-walks the graph built so far); NN-Descent is the
      // established DISTRIBUTED construction: every round is a pair of
      // self-joins + one scoring join + a bounded top-k, all shuffles
      // keyed on node id.
      //   round 0: K best of 8 md5-seeded candidates per node (a
      //     deterministic random regular digraph — h32(i#t) mod n);
      //   round r: candidates = co-neighbors in the UNDIRECTED round
      //     r-1 graph (u,v both adjacent to w → u~v candidate), pooled
      //     with the current edges, rescored, per-node top-K kept.
      // The degree CAP is the scale guard: reverse adjacency is
      // truncated to 2K per node (ordered by id — deterministic), so
      // candidate volume is Σ_w (2K)² = O(n·K²) REGARDLESS of hub
      // in-degree — the same reason compact-forward q99 survives hubs.
      // Every stage is a shuffle on node id; rounds are sequential but
      // constant (2), so the whole build is O(rounds) barriers at
      // 100 TB, vs HNSW's O(n) sequential inserts. Convergence is
      // recall-pinned in NnDescentSpec (round-over-round monotone vs
      // brute, final ≥ floor); the ORACLE replays both rounds exactly
      // (init, cap, co-neighbor, pool, rank — bit-for-bit).
      (s, d) => nnDescentGraphShared(s, d)
        .where(col("rnk") <= 6)
        .select(col("src"), col("rnk"), col("dst").as("neighbor_id"), col("sim"))
        .orderBy(col("src"), col("rnk")),
      Some("WITH " + NnGraphSqlCtes +
        " SELECT src, rnk, dst AS neighbor_id, sim FROM g3 WHERE rnk <= 6 " +
        "ORDER BY src, rnk"))

  /** DuckDB CTE chain ending in `g3(src, dst, sim, rnk)` — the full
    * 3-round NN-Descent replay (init, per-round md5 cap sampling,
    * co-neighbor expansion, pooled rescore, ranking), shared by q113
    * (the graph itself) and q114 (navigable search over it). */
  private lazy val NnGraphSqlCtes: String = {
        val K = 16 // working breadth; q113 reports the top 6
        // one refinement round from edges<r> to ranked grams g<r+1>:
        // the per-round md5 sampling key mirrors the Spark side's cap
        def round(r: Int, prev: String, next: String): String =
          s"u$next AS (SELECT src, dst FROM $prev UNION SELECT dst, src FROM $prev), " +
            s"c$next AS (SELECT src, dst FROM (SELECT src, dst, ROW_NUMBER() OVER " +
            s"(PARTITION BY src ORDER BY md5($r || '#' || src || '#' || dst), dst) AS rn " +
            s"FROM u$next) WHERE rn <= ${2 * K}), " +
            s"n$next AS (SELECT e1.dst AS src, e2.dst AS dst FROM c$next e1 " +
            s"JOIN c$next e2 ON e1.src = e2.src AND e1.dst <> e2.dst " +
            s"UNION SELECT src, dst FROM $prev), " +
            s"s$next AS (SELECT p.src, p.dst, ROUND(list_cosine_similarity(a.v, b.v), 4) AS sim " +
            s"FROM n$next p JOIN e a ON a.vec_id = p.src JOIN e b ON b.vec_id = p.dst), " +
            s"$next AS (SELECT src, dst, sim, ROW_NUMBER() OVER (PARTITION BY src " +
            s"ORDER BY sim DESC, dst) AS rnk FROM s$next)"
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
          "nn AS (SELECT COUNT(*) AS n FROM e), " +
          "init AS (SELECT DISTINCT vec_id AS src, " +
          "CAST(('0x' || substring(md5(vec_id || '#' || t),1,8)) AS BIGINT) % nn.n AS dst " +
          "FROM e CROSS JOIN (SELECT UNNEST(range(0,8)) AS t) tt CROSS JOIN nn " +
          "WHERE CAST(('0x' || substring(md5(vec_id || '#' || t),1,8)) AS BIGINT) % nn.n <> vec_id), " +
          "s0 AS (SELECT p.src, p.dst, ROUND(list_cosine_similarity(a.v, b.v), 4) AS sim " +
          "FROM init p JOIN e a ON a.vec_id = p.src JOIN e b ON b.vec_id = p.dst), " +
          s"g0 AS (SELECT src, dst, sim, ROW_NUMBER() OVER (PARTITION BY src " +
          s"ORDER BY sim DESC, dst) AS rnk FROM s0), " +
          s"e0 AS (SELECT src, dst, sim FROM g0 WHERE rnk <= $K), " +
          round(1, "e0", "g1") + s", e1 AS (SELECT src, dst, sim FROM g1 WHERE rnk <= $K), " +
          round(2, "e1", "g2") + s", e2 AS (SELECT src, dst, sim FROM g2 WHERE rnk <= $K), " +
          round(3, "e2", "g3")
  }
}
