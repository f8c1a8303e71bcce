package graft.streaming

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

final case class CdcRow(op: String, sequence: Long, event_number: Long,
    id: Long, name: String)

/** CDC upsert semantics: insert / update_before / update_after / delete
  * applied to keyed state, in batch-merge and continuous form. */
class CdcMaterializerSpec extends AnyFunSuite with SparkTestSession {

  test("applyBatch merges latest-per-key and applies deletes") {
    import spark.implicits._
    val state = Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("id", "name")
    val cdc = Seq(
      CdcRow("update_before", 10, 1, 2, "two"),
      CdcRow("update_after", 10, 2, 2, "TWO"),
      CdcRow("delete", 11, 1, 3, "three"),
      CdcRow("insert", 12, 1, 4, "four"),
      CdcRow("insert", 13, 1, 5, "five"),
      CdcRow("delete", 14, 1, 5, "five") // inserted then deleted in-batch
    ).toDF()
    val out = CdcMaterializer.applyBatch(state, cdc, Seq("id"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq(1L -> "one", 2L -> "TWO", 4L -> "four"))
  }

  test("applyBatch on empty state is a plain insert materialization") {
    import spark.implicits._
    val state = Seq.empty[(Long, String)].toDF("id", "name")
    val cdc = Seq(CdcRow("insert", 1, 1, 1, "a"), CdcRow("insert", 2, 1, 2, "b")).toDF()
    assert(CdcMaterializer.applyBatch(state, cdc, Seq("id")).count() == 2)
  }

  private def applied(state: Map[Long, String], cdc: Seq[CdcRow]): DataFrame = {
    import spark.implicits._
    CdcMaterializer.applyBatch(state.toSeq.toDF("id", "name"), cdc.toDF(), Seq("id"))
  }

  /** The merged state as a map, failing on a duplicated key. */
  private def asMap(df: DataFrame): Map[Long, String] = {
    val rows = df.collect().map(r => r.getLong(0) -> r.getString(1))
    assert(rows.map(_._1).distinct.length == rows.length, s"duplicate keys: ${rows.toSeq}")
    rows.toMap
  }

  /** The reference semantics: replay the batch in `(sequence,
    * event_number)` order over the state. */
  private def fold(state: Map[Long, String], cdc: Seq[CdcRow]): Map[Long, String] =
    cdc.sortBy(r => (r.sequence, r.event_number)).foldLeft(state) { (m, r) =>
      r.op match {
        case "insert" | "update_after" => m.updated(r.id, r.name)
        case "delete" => m - r.id
        case _ => m // update_before
      }
    }

  test("applyBatch edge cases: a lone update_before, a delete then re-insert, a replay") {
    val state = Map(1L -> "one", 2L -> "two")
    val cdc = Seq(
      CdcRow("update_before", 5, 1, 1, "one"), // its after never arrives
      CdcRow("insert", 7, 1, 2, "TWO"), // re-insert after ...
      CdcRow("delete", 6, 1, 2, "two")) // ... the delete, rows out of order
    val once = asMap(applied(state, cdc))
    assert(once == Map(1L -> "one", 2L -> "TWO"))
    assert(asMap(applied(once, cdc)) == once) // the same batch again
  }

  test("property: applyBatch equals a fold over random insert/update/delete scripts") {
    import org.scalacheck.{Gen, Prop, Test}
    val ops = Seq("insert", "update_before", "update_after", "delete")
    // a few keys, so batches hit the same key several times
    val genState = Gen.mapOf(Gen.zip(Gen.choose(0L, 5L), Gen.alphaLowerStr.map(_.take(3))))
    def genBatch(b: Int) = for {
      n <- Gen.choose(0, 14)
      evs <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 5L), Gen.oneOf(ops), Gen.choose(0, 99)))
      order <- Gen.long
    } yield new scala.util.Random(order).shuffle(evs.zipWithIndex.map {
      case ((k, op, v), i) => CdcRow(op, 100L * b + i / 2, i % 2 + 1L, k, s"$op$v")
    })
    val genScript = for {
      n <- Gen.choose(1, 3)
      batches <- Gen.sequence[List[Seq[CdcRow]], Seq[CdcRow]]((0 until n).map(genBatch))
    } yield batches
    val prop = Prop.forAllNoShrink(genState, genScript) { (init, script) =>
      script.foldLeft(init) { (state, batch) =>
        val want = fold(state, batch)
        val once = asMap(applied(state, batch))
        assert(once == want, s"state $state, batch $batch")
        assert(asMap(applied(once, batch)) == want, s"replayed batch $batch over $once")
        want
      }
      true
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(30)
      .withInitialSeed(org.scalacheck.rng.Seed(20261018L)).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("upsertStream keeps latest row per key and drops deleted keys") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[CdcRow]
    val out = CdcMaterializer.upsertStream(spark, mem.toDF(), Seq("id"))
    val q = out.writeStream.format("memory").queryName("cdc_upsert")
      .outputMode("append").start()
    try {
      mem.addData(
        CdcRow("insert", 1, 1, 1, "a"),
        CdcRow("insert", 2, 1, 2, "b"),
        CdcRow("update_after", 3, 1, 1, "a2"),
        CdcRow("delete", 4, 1, 2, "b"))
      q.processAllAvailable()
      val latest = spark.table("cdc_upsert")
        .groupBy("id").agg(last("name").as("name"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // key 1 survives with latest value; key 2's final state was delete,
      // so its last emitted row (if any) precedes the delete
      assert(latest(1L) == "a2")
      assert(!latest.contains(2L))
    } finally q.stop()
  }
}
