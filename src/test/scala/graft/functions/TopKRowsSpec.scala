package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The bounded top-k Aggregator must be a pure function of the input
  * multiset: identical to the sort-based answer and independent of how
  * rows are partitioned (merge is associative + commutative). Its
  * ranked stage [[TopKRows.ranked]] must keep exactly the rows of the
  * window form it replaces. */
class TopKRowsSpec extends AnyFunSuite with SparkTestSession {

  private def refTopK(rows: Seq[(Double, Long, Long)], k: Int): Seq[(Double, Long, Long)] =
    rows.sortBy { case (s, a, b) => (-s, a, b) }.take(k)

  test("agrees with the sort-based reference and is partition-invariant") {
    import spark.implicits._
    val rnd = new Random(42)
    // duplicate scores on purpose — the id tiebreaker must decide
    val rows = Seq.fill(500)((rnd.nextInt(40).toDouble, rnd.nextInt(100).toLong, rnd.nextInt(10).toLong))
    val expected = refTopK(rows, 5)
    val topk = udaf(new TopKRows(5),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
    for (parts <- Seq(1, 3, 16)) {
      val got = rows.toDF("s", "a", "b").repartition(parts)
        .agg(topk(col("s"), col("a"), col("b")).as("top"))
        .select(explode(col("top")).as("e"))
        .select(col("e._1"), col("e._2"), col("e._3"))
        .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == expected, s"parts=$parts: $got != $expected")
    }
  }

  test("buffer never exceeds k entries under reduce/merge") {
    val agg = new TopKRows(3)
    var buf = agg.zero
    val rnd = new Random(7)
    (1 to 200).foreach { i =>
      buf = agg.reduce(buf, (rnd.nextInt(20).toDouble, i.toLong, 0L))
      assert(buf.items.size <= 3)
    }
    val other = (1 to 50).foldLeft(agg.zero)((b, i) =>
      agg.reduce(b, (rnd.nextInt(20).toDouble, (1000 + i).toLong, 1L)))
    val merged = agg.merge(buf, other)
    assert(merged.items.size <= 3)
    assert(merged.items == merged.items.sortBy { case (s, a, b) => (-s, a, b) })
  }

  /** A seeded frame with two group columns and many score ties: scores
    * take 6 values, so `id` and then `tie` decide most ranks. */
  private def tiedFrame = {
    import spark.implicits._
    val rnd = new Random(11)
    Seq.fill(400)((rnd.nextInt(3).toLong, rnd.nextInt(2).toLong, rnd.nextInt(6).toDouble,
        rnd.nextInt(30).toLong, rnd.nextInt(4).toLong))
      .toDF("g1", "g2", "score", "id", "tie").repartition(5)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("ranked keeps the rows of row_number() OVER (PARTITION BY g ORDER BY score DESC, id, tie) <= k") {
    val df = tiedFrame
    for (k <- Seq(1, 4, 500)) {
      val w = Window.partitionBy(col("g1"), col("g2"))
        .orderBy(col("score").desc, col("id"), col("tie"))
      val window = df.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
        .select(col("g1"), col("g2"), col("rank"), col("score"), col("id"), col("tie"))
      val got = TopKRows.ranked(df, k, Seq("g1", "g2"), col("score"), col("id"), col("tie"))
      assert(got.columns.toSeq == Seq("g1", "g2", "rank", "score", "id", "tie"))
      assert(rows(got) == rows(window), s"k=$k")
    }
  }

  test("ranked numbers ranks from 1 and ranks a negated score ascending") {
    import spark.implicits._
    val df = Seq((7L, 1L), (3L, 2L), (3L, 0L), (9L, 4L), (5L, 5L)).toDF("dist", "vec_id")
    val got = TopKRows.ranked(df, 3, Nil, (-col("dist")).cast("double"), col("vec_id"))
      .orderBy(col("rank"))
      .select(col("rank"), (-col("score")).cast("long"), col("id"), col("tie"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((1, 3L, 0L, 0L), (2, 3L, 2L, 0L), (3, 5L, 5L, 0L)))
  }
}
