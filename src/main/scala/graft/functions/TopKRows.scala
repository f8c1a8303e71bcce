package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{col, lit, posexplode, udaf}

/** Bounded top-k buffer: at most `k` (score, key1, key2) entries, kept
  * sorted by (score DESC, key1 ASC, key2 ASC). */
final case class TopKBuf(items: Seq[(Double, Long, Long)])

/** Mergeable bounded top-k-per-group aggregation — the scale-path twin
  * of the `row_number() OVER (PARTITION BY g ORDER BY ...) <= k` window
  * form (q18). The window form shuffles EVERY row to its group's
  * partition and sorts the whole group just to discard all but k rows;
  * this Aggregator folds rows into a ≤ k-entry buffer per group per
  * task, so with map-side partial aggregation the shuffle carries at
  * most k entries per (group, task) and no sort of the full data ever
  * happens — at 100 TB that's the difference between shuffling the
  * table and shuffling k·groups·tasks tuples.
  *
  * `reduce` inserts into a sorted ≤ k buffer (O(k) per row, k tiny);
  * `merge` is an O(k) sorted merge — associative and commutative, so
  * the result is independent of partitioning and task order. Ordering
  * is total (score DESC, then the two id keys ASC), so output is
  * deterministic and oracle-hashable against the window form's SQL.
  *
  * Callers go through [[TopKRows.ranked]], the one place the Aggregator
  * is registered and its buffer exploded into ranked rows.
  */
final class TopKRows(k: Int) extends Aggregator[(Double, Long, Long), TopKBuf, Seq[(Double, Long, Long)]] {

  private def lt(a: (Double, Long, Long), b: (Double, Long, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && (a._2 < b._2 || (a._2 == b._2 && a._3 < b._3)))

  override def zero: TopKBuf = TopKBuf(Vector.empty)

  // insert/merge delegate to BoundedTopK — the single implementation
  // this Aggregator shares with SourceCap's streaming state machine
  override def reduce(b: TopKBuf, a: (Double, Long, Long)): TopKBuf =
    TopKBuf(BoundedTopK.insert(b.items.toVector, a, k)(lt))

  override def merge(x: TopKBuf, y: TopKBuf): TopKBuf =
    TopKBuf(BoundedTopK.merge(x.items, y.items, k)(lt))

  override def finish(b: TopKBuf): Seq[(Double, Long, Long)] = b.items

  override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
  override def outputEncoder: Encoder[Seq[(Double, Long, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long, Long)]]()
}

object TopKRows {

  /** The bounded top-`k` stage: per `group`, the `k` rows with the
    * highest `score`, ties broken by `id` then `tie` ascending — the
    * rows `row_number() OVER (PARTITION BY group ORDER BY score DESC,
    * id, tie) <= k` keeps. Returns the group columns plus `rank`
    * (1-based), `score` (double), `id` and `tie`. An ascending rank
    * passes the negated score (exact for integer scores below 2^53).
    * An empty `group` ranks the whole frame as one group. */
  def ranked(df: DataFrame, k: Int, group: Seq[String], score: Column,
      id: Column, tie: Column = lit(0L)): DataFrame = {
    val topk = udaf(new TopKRows(k),
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong, Encoders.scalaLong))
    val g = group.map(col)
    df.groupBy(g: _*).agg(topk(score, id, tie).as("top"))
      .select(g :+ posexplode(col("top")).as(Seq("pos", "e")): _*)
      .select(g ++ Seq((col("pos") + 1).as("rank"), col("e._1").as("score"),
        col("e._2").as("id"), col("e._3").as("tie")): _*)
  }
}
