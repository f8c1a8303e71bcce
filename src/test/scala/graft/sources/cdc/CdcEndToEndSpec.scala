package graft.sources.cdc

import graft.SparkTestSession
import graft.sources.cdc.testkit.MockMaxScaleServer
import graft.streaming.CdcMaterializer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Full pipeline: mock MaxScale server → maxscale-cdc source → schema
  * registry rebuilt from in-band DDL rows → payload projection →
  * CDC upsert materialization — the reference's entire dataflow
  * (A1–A11) plus the engine's materialization upgrade, in one test.
  * Covers in-band schema evolution: a v2 DDL adds a column mid-stream.
  */
/** JVM-wide probe for the restart test (foreachBatch closures serialize). */
object CdcRestartProbe {
  val rows = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
}

class CdcEndToEndSpec extends AnyFunSuite with SparkTestSession {

  private def ddl(version: Int, extraField: String = "") =
    s"""{"namespace":"MaxScaleChangeDataSchema.avro","type":"record","name":"ChangeRecord","table":"users","database":"example","version":$version,"gtid":"0-1-$version","fields":[{"name":"id","type":"int"},{"name":"name","type":["null","string"]}$extraField]}"""
  private def dml(seq: Int, op: String, id: Int, name: String, email: Option[String] = None) = {
    val em = email.map(e => s""","email":"$e"""").getOrElse("")
    s"""{"domain":0,"server_id":1,"sequence":$seq,"event_number":1,"timestamp":1754956800,"event_type":"$op","id":$id,"name":"$name"$em}"""
  }

  test("CDC stream materializes to the expected table across schema evolution") {
    val events = Seq(
      ddl(1),
      dml(1, "insert", 1, "alice"),
      dml(2, "insert", 2, "bob"),
      ddl(2, """,{"name":"email","type":["null","string"]}"""),
      dml(3, "insert", 3, "carol", Some("c@x.io")),
      dml(4, "update_before", 1, "alice"),
      dml(5, "update_after", 1, "alice2", Some("a@x.io")),
      dml(6, "delete", 2, "bob"))
    val server = new MockMaxScaleServer(events = events, chunkSize = 7)

    val stream = spark.readStream.format("maxscale-cdc")
      .option("host", "127.0.0.1").option("port", server.port)
      .option("user", "u").option("password", "p")
      .option("database", "example").option("table", "users")
      .load()

    // accumulate upserts into a driver-held snapshot via foreachBatch;
    // the registry persists across batches (a batch may carry DMLs but
    // no DDL) and the snapshot schema is the stable wide shape
    var state: DataFrame = null
    val reg = new SchemaRegistry
    val q = stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      CdcProjection.registryFrom(batch, reg)
      if (reg.latest("example", "users").isDefined) {
        val projected = CdcProjection.projectLatest(batch, reg, "example", "users")
        val emailCol = // rows ingested under schema v1 have no email yet
          if (projected.columns.contains("email")) col("email")
          else lit(null).cast("string").as("email")
        val rows = projected.select(col("op"), col("sequence"), col("event_number"),
          col("id").cast("long").as("id"), col("name"), emailCol)
        val snapshot =
          if (state == null) rows.limit(0).select("id", "name", "email")
          else state
        state = CdcMaterializer.applyBatch(snapshot, rows, Seq("id"))
        state.persist().count() // materialize before next batch mutates
      }
      ()
    }.start()

    try {
      val deadline = System.currentTimeMillis() + 20000
      def done = state != null && state.count() == 2
      while (!done && System.currentTimeMillis() < deadline) {
        Thread.sleep(200); q.processAllAvailable()
      }
      assert(done, "final state not reached in 20s")
      val rows = state.orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSeq
      assert(rows == Seq(
        (1L, "alice2", Some("a@x.io")), // updated under v2
        (3L, "carol", Some("c@x.io")))) // inserted under v2; bob deleted
    } finally q.stop()
  }

  test("schema_version is stamped on DML rows as of ingest time") {
    val events = Seq(ddl(1), dml(1, "insert", 1, "a"),
      ddl(2, """,{"name":"email","type":["null","string"]}"""), dml(2, "insert", 2, "b"))
    val server = new MockMaxScaleServer(events = events)
    val df = spark.readStream.format("maxscale-cdc")
      .option("host", "127.0.0.1").option("port", server.port)
      .option("user", "u").option("password", "p")
      .option("database", "example").option("table", "users")
      .load()
    val q = df.writeStream.format("memory").queryName("cdc_ver").start()
    try {
      val deadline = System.currentTimeMillis() + 15000
      while (spark.table("cdc_ver").count() < 4 && System.currentTimeMillis() < deadline) {
        Thread.sleep(100); q.processAllAvailable()
      }
      val versions = spark.table("cdc_ver").where(col("kind") === "dml")
        .orderBy("sequence").select("schema_version")
        .collect().map(_.getInt(0)).toSeq
      assert(versions == Seq(1, 2))
    } finally q.stop()
  }

  test("mixed-schema-version batch projects each DML under its stamped version") {
    // VERDICT round-1 item 6: DDL v1, v1 DMLs, DDL v2 (a RENAME —
    // name → full_name — so force-fitting v1 rows to the latest schema
    // would lose data), v2 DMLs, all in one ingest. Each DML must parse
    // under the schema stamped on it at ingest.
    def ddlV(version: Int, fields: String) =
      s"""{"namespace":"MaxScaleChangeDataSchema.avro","type":"record","name":"ChangeRecord","table":"users","database":"example","version":$version,"gtid":"0-1-$version","fields":[$fields]}"""
    def dmlRaw(seq: Int, payload: String) =
      s"""{"domain":0,"server_id":1,"sequence":$seq,"event_number":1,"timestamp":1754956800,"event_type":"insert",$payload}"""
    val events = Seq(
      ddlV(1, """{"name":"id","type":"int"},{"name":"name","type":["null","string"]}"""),
      dmlRaw(1, """"id":1,"name":"alice""""),
      dmlRaw(2, """"id":2,"name":"bob""""),
      ddlV(2, """{"name":"id","type":"int"},{"name":"full_name","type":["null","string"]}"""),
      dmlRaw(3, """"id":3,"full_name":"carol""""),
      dmlRaw(4, """"id":4,"full_name":"dave""""))
    val server = new MockMaxScaleServer(events = events)
    val df = spark.readStream.format("maxscale-cdc")
      .option("host", "127.0.0.1").option("port", server.port)
      .option("user", "u").option("password", "p")
      .option("database", "example").option("table", "users")
      .load()
    val q = df.writeStream.format("memory").queryName("cdc_mixed").start()
    try {
      val deadline = System.currentTimeMillis() + 15000
      while (spark.table("cdc_mixed").count() < 6 && System.currentTimeMillis() < deadline) {
        Thread.sleep(100); q.processAllAvailable()
      }
      val batch = spark.table("cdc_mixed")
      val reg = CdcProjection.registryFrom(batch)
      assert(reg.versions("example", "users") == Seq(1, 2))

      val perVersion = CdcProjection.projectPerVersion(batch, reg, "example", "users")
        .orderBy("sequence")
        .select("sequence", "schema_version", "id", "name", "full_name")
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          Option(r.getString(3)), Option(r.getString(4)))).toSeq
      assert(perVersion == Seq(
        (1L, 1, 1, Some("alice"), None), // v1 rows keep their v1 column
        (2L, 1, 2, Some("bob"), None),
        (3L, 2, 3, None, Some("carol")), // v2 rows parse the renamed one
        (4L, 2, 4, None, Some("dave"))))

      // the latest-schema projection is lossy across this rename — the
      // reason the per-version path exists
      val latestCols = CdcProjection.projectLatest(batch, reg, "example", "users").columns
      assert(!latestCols.contains("name") && latestCols.contains("full_name"))
    } finally q.stop()
  }

  test("splitBatchesAtDdl cuts the admitted range so no batch's DMLs span versions") {
    // the same rename workload as above, but the SOURCE guarantees a
    // sink may bind from_json once per batch: the mid-stream DDL must
    // open a NEW micro-batch (qc15's mechanism, unit-tested at the
    // source level). Batch membership is observed via a foreachBatch
    // collector; without the option this workload CAN land in one
    // spanning batch (the mixed-batch test above relies on it).
    def ddlV(version: Int, fields: String) =
      s"""{"namespace":"MaxScaleChangeDataSchema.avro","type":"record","name":"ChangeRecord","table":"users","database":"example","version":$version,"gtid":"0-1-$version","fields":[$fields]}"""
    def dmlRaw(seq: Int, payload: String) =
      s"""{"domain":0,"server_id":1,"sequence":$seq,"event_number":1,"timestamp":1754956800,"event_type":"insert",$payload}"""
    val events = Seq(
      ddlV(1, """{"name":"id","type":"int"},{"name":"name","type":["null","string"]}"""),
      dmlRaw(1, """"id":1,"name":"alice""""),
      dmlRaw(2, """"id":2,"name":"bob""""),
      ddlV(2, """{"name":"id","type":"int"},{"name":"full_name","type":["null","string"]}"""),
      dmlRaw(3, """"id":3,"full_name":"carol""""),
      dmlRaw(4, """"id":4,"full_name":"dave""""))
    val server = new MockMaxScaleServer(events = events, closeAfterEvents = false)
    val df = spark.readStream.format("maxscale-cdc")
      .option("host", "127.0.0.1").option("port", server.port)
      .option("user", "u").option("password", "p")
      .option("database", "example").option("table", "users")
      .option("splitBatchesAtDdl", "true")
      .load()
    val perBatch = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[(String, Int)])]
    val total = new java.util.concurrent.atomic.AtomicLong
    val q = df.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        val rows = batch.orderBy("sequence")
          .select(col("kind"), col("schema_version"))
          .collect().map(r => (r.getString(0),
            if (r.isNullAt(1)) -1 else r.getInt(1))).toSeq
        perBatch.add((bid, rows))
        total.addAndGet(rows.size)
        ()
    }.option("checkpointLocation",
      java.nio.file.Files.createTempDirectory("cdc-split").toString).start()
    try {
      val deadline = System.currentTimeMillis() + 15000
      while (total.get() < events.size && System.currentTimeMillis() < deadline) {
        Thread.sleep(100); q.processAllAvailable()
      }
      assert(total.get() == events.size)
      val batches = perBatch.toArray(Array.empty[(Long, Seq[(String, Int)])])
        .toSeq.sortBy(_._1).map(_._2).filter(_.nonEmpty)
      // per batch: DML rows carry exactly one version
      batches.foreach { b =>
        val dmlVers = b.filter(_._1 == "dml").map(_._2).distinct
        assert(dmlVers.size <= 1, s"batch spans versions: $b")
      }
      // every DDL is the FIRST event of its batch, never mid-batch
      // (the cut admits a DDL only at the range head, so two DDLs can
      // never share a batch either)
      batches.foreach { b =>
        b.zipWithIndex.foreach { case ((k, v), i) =>
          assert(k != "ddl" || i == 0, s"DDL v$v at mid-batch position $i in $b")
        }
      }
      // both versions were actually delivered
      val allVers = batches.flatten.filter(_._1 == "dml").map(_._2).distinct.sorted
      assert(allVers == Seq(1, 2))
    } finally { q.stop(); server.close() }
  }

  test("checkpoint restart resumes without offset underflow") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cdc-ckpt").toString
    CdcRestartProbe.rows.clear()
    def run(server: MockMaxScaleServer, expectTotal: Int): Unit = {
      val q = spark.readStream.format("maxscale-cdc")
        .option("host", "127.0.0.1").option("port", server.port)
        .option("user", "u").option("password", "p")
        .option("database", "example").option("table", "users")
        .load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => CdcRestartProbe.rows.add(r.getAs[String]("payload")))
          ()
        }
        .option("checkpointLocation", ckpt).start()
      try {
        val deadline = System.currentTimeMillis() + 15000
        while (CdcRestartProbe.rows.size < expectTotal && System.currentTimeMillis() < deadline) {
          Thread.sleep(100); q.processAllAvailable()
        }
        assert(CdcRestartProbe.rows.size == expectTotal,
          s"got ${CdcRestartProbe.rows.size}, want $expectTotal")
      } finally q.stop()
    }
    // first run: 3 events committed to the checkpoint
    run(new MockMaxScaleServer(events = Seq(ddl(1), dml(1, "insert", 1, "a"),
      dml(2, "insert", 2, "b"))), 3)
    // restart against a fresh connection (GTID-granularity resume):
    // committed offset 3 must not underflow the new empty buffer and the
    // new events must arrive exactly once
    run(new MockMaxScaleServer(events = Seq(dml(3, "insert", 3, "c"),
      dml(4, "insert", 4, "d"))), 5)
  }

  test("Trigger.AvailableNow drains the backlog and terminates") {
    val events = Seq(ddl(1)) ++ (1 to 5).map(i => dml(i, "insert", i, s"u$i"))
    val server = new MockMaxScaleServer(events = events, closeAfterEvents = false)
    val df = spark.readStream.format("maxscale-cdc")
      .option("host", "127.0.0.1").option("port", server.port)
      .option("user", "u").option("password", "p")
      .option("database", "example").option("table", "users")
      .option("maxEventsPerTrigger", "2")
      .load()
    val q = df.writeStream.format("memory").queryName("cdc_avail")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      assert(q.awaitTermination(30000), "AvailableNow query did not terminate")
      assert(spark.table("cdc_avail").count() == 6)
    } finally { q.stop(); server.close() }
  }

  test("multi-table fan-in: one source per table, unioned downstream") {
    def ddlFor(table: String) =
      s"""{"namespace":"MaxScaleChangeDataSchema.avro","type":"record","name":"ChangeRecord","table":"$table","database":"example","version":1,"gtid":"0-1-1","fields":[{"name":"id","type":"int"}]}"""
    val s1 = new MockMaxScaleServer(events = Seq(ddlFor("users"), dml(1, "insert", 1, "a")))
    val s2 = new MockMaxScaleServer(events = Seq(ddlFor("orders"), dml(1, "insert", 2, "b")))
    def src(port: Int, table: String) = spark.readStream.format("maxscale-cdc")
      .option("host", "127.0.0.1").option("port", port)
      .option("user", "u").option("password", "p")
      .option("database", "example").option("table", table)
      .load()
    val unioned = src(s1.port, "users").unionByName(src(s2.port, "orders"))
    val q = unioned.writeStream.format("memory").queryName("cdc_fanin").start()
    try {
      val deadline = System.currentTimeMillis() + 15000
      while (spark.table("cdc_fanin").count() < 4 && System.currentTimeMillis() < deadline) {
        Thread.sleep(100); q.processAllAvailable()
      }
      val byTable = spark.table("cdc_fanin").groupBy("table").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byTable == Map("users" -> 2L, "orders" -> 2L), byTable.toString)
    } finally q.stop()
  }

  test("maxEventsPerTrigger splits available events across micro-batches") {
    val events = Seq(ddl(1)) ++ (1 to 9).map(i => dml(i, "insert", i, s"u$i"))
    val server = new MockMaxScaleServer(events = events)
    val df = spark.readStream.format("maxscale-cdc")
      .option("host", "127.0.0.1").option("port", server.port)
      .option("user", "u").option("password", "p")
      .option("database", "example").option("table", "users")
      .option("maxEventsPerTrigger", "3")
      .load()
    val q = df.writeStream.format("memory").queryName("cdc_limit").start()
    try {
      val deadline = System.currentTimeMillis() + 15000
      while (spark.table("cdc_limit").count() < 10 && System.currentTimeMillis() < deadline) {
        Thread.sleep(100); q.processAllAvailable()
      }
      assert(spark.table("cdc_limit").count() == 10)
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.forall(_.numInputRows <= 3),
        s"batch sizes: ${batches.map(_.numInputRows).mkString(",")}")
      assert(batches.length >= 4) // 10 events / ≤3 per trigger
    } finally q.stop()
  }
}
