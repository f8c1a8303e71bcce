package graft.sources.cdc

import graft.SparkTestSession
import graft.sources.cdc.testkit.MockMaxScaleServer
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end tests of the maxscale-cdc streaming source against the
  * mock server (transplant of `TestCustomer_Start`/`TestCustomer_Process`
  * from `gomaxscale_test.go:29-223`).
  */
class CdcSourceSpec extends AnyFunSuite with SparkTestSession {

  private val ddl =
    """{"namespace":"MaxScaleChangeDataSchema.avro","type":"record","name":"ChangeRecord","table":"users","database":"example","version":1,"gtid":"0-1-42","fields":[{"name":"id","type":"int"},{"name":"name","type":["null","string"]}]}"""
  private def dml(seq: Int, id: Int, name: String, op: String = "insert") =
    s"""{"domain":0,"server_id":1,"sequence":$seq,"event_number":1,"timestamp":1754956800,"event_type":"$op","id":$id,"name":"$name"}"""

  test("happy path: DDL then DMLs arrive in order with typed envelope") {
    val server = new MockMaxScaleServer(
      events = Seq(ddl, dml(1, 7, "John {Doe}"), dml(2, 8, "Jane")),
      chunkSize = 5) // stress framing across tiny reads
    val df = spark.readStream.format("maxscale-cdc")
      .option("host", "127.0.0.1").option("port", server.port)
      .option("user", "u").option("password", "p")
      .option("database", "example").option("table", "users")
      .load()
    val q = df.writeStream.format("memory").queryName("cdc_happy").start()
    try {
      eventually(q.processAllAvailable())(
        spark.table("cdc_happy").count() >= 3)
      val rows = spark.table("cdc_happy").orderBy("sequence").collect()
      assert(rows.length == 3)
      val kinds = rows.map(_.getAs[String]("kind")).toSeq
      assert(kinds.count(_ == "ddl") == 1 && kinds.count(_ == "dml") == 2)
      val ddlRow = rows.find(_.getAs[String]("kind") == "ddl").get
      assert(ddlRow.getAs[String]("gtid") == "0-1-42")
      assert(ddlRow.getAs[Int]("schema_version") == 1)
      val dml1 = rows.filter(_.getAs[String]("kind") == "dml").head
      assert(dml1.getAs[String]("op") == "insert")
      assert(dml1.getAs[Long]("sequence") == 1L)
      assert(dml1.getAs[String]("payload").contains("John {Doe}"))
      // payload projects through from_json like the reference's RawData
      val projected = spark.table("cdc_happy")
        .where(col("kind") === "dml")
        .select(from_json(col("payload"),
          org.apache.spark.sql.types.StructType.fromDDL("id INT, name STRING")).as("r"))
        .select("r.id", "r.name").orderBy("id").collect()
      assert(projected.map(_.getInt(0)).toSeq == Seq(7, 8))
    } finally q.stop()
    assert(server.requestDataReceived == "REQUEST-DATA example.users")
  }

  test("version and gtid options shape the REQUEST-DATA line") {
    val server = new MockMaxScaleServer(events = Seq(dml(1, 1, "x")))
    val df = spark.readStream.format("maxscale-cdc")
      .option("host", "127.0.0.1").option("port", server.port)
      .option("user", "u").option("password", "p")
      .option("database", "example").option("table", "users")
      .option("version", "2").option("gtid", "0-1-42")
      .load()
    val q = df.writeStream.format("memory").queryName("cdc_gtid").start()
    try {
      server.handshakeDone.await()
      assert(server.requestDataReceived == "REQUEST-DATA example.users.2 0-1-42")
    } finally q.stop()
  }

  test("interleaved server error text becomes a corrupt row, stream continues") {
    val server = new MockMaxScaleServer(
      events = Seq(dml(1, 1, "a"), dml(2, 2, "b")),
      interleavedError = Some("ERR transient hiccup"))
    val df = spark.readStream.format("maxscale-cdc")
      .option("host", "127.0.0.1").option("port", server.port)
      .option("user", "u").option("password", "p")
      .option("database", "example").option("table", "users")
      .load()
    val q = df.writeStream.format("memory").queryName("cdc_err").start()
    try {
      eventually(q.processAllAvailable())(
        spark.table("cdc_err").count() >= 3)
      val byKind = spark.table("cdc_err").groupBy("kind").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byKind.getOrElse("dml", 0L) == 2)
      assert(byKind.getOrElse("corrupt", 0L) == 1)
    } finally q.stop()
  }

  test("bounded receiver buffer: a stalled query cannot grow driver memory past the bound") {
    // reference parity: the unbuffered Go channel (`gomaxscale.go:25,
    // 160-162`) blocks the ingest goroutine when the consumer stalls;
    // here the bounded buffer blocks the receiver thread, pushing
    // backpressure onto TCP. 2000 events are on the wire but no commit
    // ever drains the buffer — ingest must park at the bound.
    val events = (1 to 2000).map(i => dml(i, i, s"v$i"))
    val server = new MockMaxScaleServer(events = events, closeAfterEvents = false)
    val stream = new MaxScaleCdcMicroBatchStream(Map(
      "host" -> "127.0.0.1", "port" -> server.port.toString,
      "user" -> "u", "password" -> "p",
      "database" -> "example", "table" -> "users",
      "maxBufferedEvents" -> "100"))
    try {
      eventually(())(
        stream.reportLatestOffset().asInstanceOf[CdcOffset].index == 100L)
      Thread.sleep(500) // server keeps pushing; bound must hold
      assert(stream.reportLatestOffset().asInstanceOf[CdcOffset].index == 100L)
      // draining a committed batch wakes the receiver and refills
      stream.planInputPartitions(CdcOffset(0), CdcOffset(100))
      stream.commit(CdcOffset(100))
      eventually(())(
        stream.reportLatestOffset().asInstanceOf[CdcOffset].index == 200L)
    } finally { stream.stop(); server.close() }
  }

  test("bufferSize and connectTimeoutMs options pass through to the client") {
    val server = new MockMaxScaleServer(events = Seq(dml(1, 1, "x")))
    val stream = new MaxScaleCdcMicroBatchStream(Map(
      "host" -> "127.0.0.1", "port" -> server.port.toString,
      "user" -> "u", "password" -> "p",
      "database" -> "example", "table" -> "users",
      "connectTimeoutMs" -> "1234", "bufferSize" -> "3"))
    try {
      assert(stream.clientConfig == ((1234, 3)))
      // a 3-byte network buffer still decodes whole events (the framer
      // reassembles across reads) — proves the option reaches the socket
      // read path, reference `gomaxscale_options.go:91-95`
      eventually(())(
        stream.reportLatestOffset().asInstanceOf[CdcOffset].index >= 1L)
    } finally stream.stop()
  }

  test("receiver warnings surface through the pluggable CdcWarnings sink") {
    val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val prev = CdcWarnings.sink
    CdcWarnings.sink = (src, msg) => seen.add(s"$src|$msg")
    val server = new MockMaxScaleServer(
      events = Seq(dml(1, 1, "a"), dml(2, 2, "b")),
      interleavedError = Some("ERR transient hiccup"))
    val stream = new MaxScaleCdcMicroBatchStream(Map(
      "host" -> "127.0.0.1", "port" -> server.port.toString,
      "user" -> "u", "password" -> "p",
      "database" -> "example", "table" -> "users"))
    try {
      eventually(())(
        stream.reportLatestOffset().asInstanceOf[CdcOffset].index >= 3L)
      assert(seen.toArray.exists(_.toString.contains("transient hiccup")))
      assert(seen.toArray.forall(_.toString.startsWith("example.users|")))
    } finally {
      stream.stop()
      CdcWarnings.sink = prev
    }
  }

  test("auth failure surfaces as a protocol error") {
    val server = new MockMaxScaleServer(events = Nil, failAuthentication = true)
    val client = new MaxScaleClient(host = "127.0.0.1", port = server.port,
      user = "u", password = "p", database = "example", table = "users",
      readTimeoutMs = 500)
    val e = intercept[MaxScaleProtocolException](client.connect())
    assert(e.getMessage.contains("authentication"))
    client.close()
  }

  test("registration failure surfaces as a protocol error") {
    val server = new MockMaxScaleServer(events = Nil, failRegistration = true)
    val client = new MaxScaleClient(host = "127.0.0.1", port = server.port,
      user = "u", password = "p", database = "example", table = "users",
      readTimeoutMs = 500)
    val e = intercept[MaxScaleProtocolException](client.connect())
    assert(e.getMessage.contains("registration"))
    client.close()
  }

  /** Poll `q.processAllAvailable()` until `cond` holds (the receiver
    * thread fills the buffer asynchronously w.r.t. triggers). */
  private def eventually(refresh: => Unit)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + 15000
    while (!cond && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      refresh
    }
    assert(cond, "condition not met within 15s")
  }
}
