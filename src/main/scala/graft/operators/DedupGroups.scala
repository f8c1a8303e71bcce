package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-dup pair graph → dedup groups with
  * a canonical representative (the minimum doc id) — the step AFTER
  * pair verification in a corpus dedup pipeline: near-dup pairs chain
  * (A≈B, B≈C), so deduplication must drop whole components, keeping one
  * representative per group, not one per pair.
  *
  * Algorithm: iterative min-label propagation. Every doc starts
  * labelled with itself; each round a doc takes the minimum label over
  * itself and its neighbors; converged when no label changed. Rounds =
  * component diameter — near-dup groups are quasi-cliques, so 2–4
  * rounds in practice — and each round is one equi-join + groupBy
  * shuffle on the doc id. The driver sees only a one-row convergence
  * count per round, never data rows. At extreme component sizes swap
  * in large-star/small-star (alternating min-propagation that halves
  * tree depth per round); the per-round join shape is identical.
  */
object DedupGroups {

  /** Group sizes of a (doc_id, rep) grouping: (rep_doc, n_members) per
    * representative, ordered by rep_doc — the report every dedup-group
    * entry emits. */
  def sizes(groups: DataFrame): DataFrame =
    groups.groupBy(col("rep").as("rep_doc"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("rep_doc"))

  /** @param pairs undirected edges, columns (doc_a, doc_b).
    * @return (doc_id, rep) for every doc appearing in at least one
    *         pair; `rep` = min doc id of its component. Rounds scale
    *         with component DIAMETER — right for near-dup graphs
    *         (quasi-cliques, diameter 2–4). For high-diameter graphs
    *         use [[componentsStar]] (logarithmic rounds). */
  def components(pairs: DataFrame, maxIters: Int = 20): DataFrame =
    // each round is a bounded join+groupBy whose one-job-per-round
    // shape the lazy checkpoints below were built for — adaptive
    // execution would re-split every round into one driver job PER
    // QUERY STAGE plus a re-optimization pass, tripling the driver
    // round-trips for plans that are already statically tiny (see
    // Confs.withMicroBatchExec; interleaved A/B on the q66 family:
    // −25–30% entry wall with the static scope)
    graft.util.Confs.withMicroBatchExec(pairs.sparkSession) {
      componentsImpl(pairs, maxIters)
    }

  private def componentsImpl(pairs: DataFrame, maxIters: Int): DataFrame = {
    // localCheckpoint after every round: iterative self-joins otherwise
    // embed the previous round's plan twice per iteration — exponential
    // logical-plan growth that kills the driver long before the data
    // does. With truncation each round's plan is one join+groupBy over
    // materialized blocks. Checkpoints are LAZY (eager = false): the
    // convergence probe right after is the first action, so ONE job
    // per round both materializes the round and reads its label sum —
    // the eager form paid a checkpoint job AND a probe job per round
    // (VERDICT r12 item 5: the q66 family's wall is driver job count,
    // not data).
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
      .localCheckpoint(false)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("rep", col("doc_id"))
      .localCheckpoint(false)
    // convergence probe: labels are monotonically non-increasing under
    // min-propagation, so the (decimal-exact, overflow-free) label sum
    // strictly decreases until the fixpoint — one scalar agg per round
    // instead of a join + filter + count
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("rep").cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val contrib = edges
        .join(labels.select(col("doc_id").as("src"), col("rep")), "src")
        .select(col("dst").as("doc_id"), col("rep"))
        .unionByName(labels)
      val next = graft.util.StageAudit.record(s"cc:minlabel-round$i",
          contrib.groupBy(col("doc_id")).agg(min(col("rep")).as("rep")))
        .localCheckpoint(false)
      val nextSum = labelSum(next) // materializes the lazy checkpoint
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      i += 1
    }
    labels
  }

  /** Connected components by alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): converges in O(log²) rounds REGARDLESS of component
    * diameter, where min-label propagation needs diameter rounds — the
    * swap-in for pathological graphs (long chains of pairwise-similar
    * docs, e.g. versioned boilerplate) that the [[components]] Scaladoc
    * names. Each round is two join+groupBy shuffles (the same shapes as
    * one min-label round); no collect_list — hot nodes never materialize
    * their neighborhood in one task.
    *
    * Same contract as [[components]]: (doc_id, rep) for every doc in a
    * pair, rep = component min (at the fixpoint every edge points
    * child → component root, and roots are the only non-children). */
  def componentsStar(pairs: DataFrame, maxIters: Int = 30): DataFrame =
    // same static-tiny-plan scope as [[components]] — two bounded
    // shuffles per round, one probe job each
    graft.util.Confs.withMicroBatchExec(pairs.sparkSession) {
      componentsStarImpl(pairs, maxIters)
    }

  private def componentsStarImpl(pairs: DataFrame, maxIters: Int): DataFrame = {
    // canonical directed edge child > parent; both ops preserve this
    var edges = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("a"),
        least(col("doc_a"), col("doc_b")).as("b"))
      .where(col("a") =!= col("b")).distinct()
      .localCheckpoint(false) // lazy: the first round's probe materializes

    // large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
    def largeStar(e: DataFrame): DataFrame = {
      val dir = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      val mins = dir.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      dir.where(col("v") > col("u")).join(mins, "u")
        .select(col("v").as("a"), col("m").as("b"))
        .where(col("a") =!= col("b")).distinct()
    }

    // small-star(u): m = min of u's smaller neighbors; re-point them and
    // u itself at m
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("a").as("u")).agg(min(col("b")).as("m"))
      val dir = e.join(mins, col("a") === col("u")).drop("u")
      dir.select(col("b").as("a"), col("m").as("b"))
        .unionByName(dir.select(col("a"), col("m").as("b")))
        .where(col("a") =!= col("b")).distinct()
    }

    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // lazy checkpoint: the diff probe below is the round's one job
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      // fixpoint test: exact multiset symmetric difference in ONE driver
      // action — tag old edges −1 / new edges +1, any group with a
      // non-zero sum means the sets differ (both sides are distinct, so
      // this is set equality). Replaces the former exceptAll + 2 counts
      // (3 jobs/round) with a single agg probe.
      val diff = next.select(col("a"), col("b"), lit(1L).as("w"))
        .unionByName(edges.select(col("a"), col("b"), lit(-1L).as("w")))
        .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
        .where(col("w") =!= 0).limit(1).count()
      converged = diff == 0L
      edges = next
      i += 1
    }
    edges.select(col("a").as("doc_id"), col("b").as("rep"))
      .unionByName(edges.select(col("b").as("doc_id"), col("b").as("rep")))
      .distinct()
  }
}
