package graft.sources.cdc

import java.io.ByteArrayOutputStream

import graft.SparkTestSession
import graft.sources.cdc.testkit.MockMaxScaleServer
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.scalatest.funsuite.AnyFunSuite

/** TYPE=AVRO wire mode: container framing under arbitrary chunkings,
  * schema → DDL synthesis, and end-to-end client equivalence with the
  * JSON mode on the same logical events. */
class AvroWireSpec extends AnyFunSuite with SparkTestSession {

  private val schemaJson =
    """{"type":"record","name":"users","namespace":"example",
      |"fields":[
      |  {"name":"domain","type":"int"},
      |  {"name":"server_id","type":"int"},
      |  {"name":"sequence","type":"long"},
      |  {"name":"event_number","type":"long"},
      |  {"name":"timestamp","type":"long"},
      |  {"name":"event_type","type":"string"},
      |  {"name":"id","type":"long"},
      |  {"name":"name","type":["null","string"]}
      |]}""".stripMargin
  private val schema = new Schema.Parser().parse(schemaJson)

  private def record(i: Int): GenericRecord = {
    val r = new GenericData.Record(schema)
    r.put("domain", 0)
    r.put("server_id", 1)
    r.put("sequence", i.toLong)
    r.put("event_number", 1L)
    r.put("timestamp", 1754956800L)
    r.put("event_type", "insert")
    r.put("id", i.toLong)
    r.put("name", s"user-$i")
    r
  }

  /** Container bytes for n records, flushed every `blockEvery` records
    * so the stream has multiple data blocks. */
  private def containerBytes(n: Int, blockEvery: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, out)
    (1 to n).foreach { i => w.append(record(i)); if (i % blockEvery == 0) w.flush() }
    w.close()
    out.toByteArray
  }

  test("framer decodes all records under random chunkings (property)") {
    val bytes = containerBytes(200, 7)
    val rnd = new scala.util.Random(3)
    for (_ <- 0 until 20) {
      val framer = new AvroFramer
      val got = Vector.newBuilder[GenericRecord]
      var off = 0
      while (off < bytes.length) {
        val k = 1 + rnd.nextInt(97)
        val chunk = bytes.slice(off, math.min(off + k, bytes.length))
        got ++= framer.feed(chunk, chunk.length)
          .collect { case AvroFramer.RecordFrame(r) => r }
        off += k
      }
      val recs = got.result()
      assert(recs.size == 200)
      assert(recs.map(_.get("sequence").asInstanceOf[Long]) == (1L to 200L))
      assert(framer.schema.getName == "users")
    }
  }

  test("a new container header mid-stream switches schemas (DDL evolution)") {
    // the avro router starts a fresh container after a schema change:
    // concatenate two containers whose schemas differ by a column and
    // feed them as one byte stream in small chunks
    val v2Json = schemaJson.replace(
      """{"name":"name","type":["null","string"]}""",
      """{"name":"name","type":["null","string"]},{"name":"email","type":["null","string"]}""")
    val v2 = new Schema.Parser().parse(v2Json)
    val out = new ByteArrayOutputStream()
    out.write(containerBytes(5, 2))
    val w2 = new DataFileWriter(new GenericDatumWriter[GenericRecord](v2))
    w2.create(v2, out)
    (6 to 9).foreach { i =>
      val r = new GenericData.Record(v2)
      r.put("domain", 0); r.put("server_id", 1); r.put("sequence", i.toLong)
      r.put("event_number", 1L); r.put("timestamp", 1754956800L)
      r.put("event_type", "insert"); r.put("id", i.toLong)
      r.put("name", s"user-$i"); r.put("email", s"u$i@x.io")
      w2.append(r)
    }
    w2.close()
    val bytes = out.toByteArray

    val framer = new AvroFramer
    val frames = Vector.newBuilder[AvroFramer.AvroFrame]
    bytes.grouped(11).foreach(c => frames ++= framer.feed(c, c.length))
    val fs = frames.result()
    val schemas = fs.collect { case AvroFramer.SchemaFrame(s) => s }
    val recs = fs.collect { case AvroFramer.RecordFrame(r) => r }
    assert(schemas.size == 2, "both container headers must surface")
    assert(schemas(0).getField("email") == null && schemas(1).getField("email") != null)
    assert(recs.map(_.get("sequence").asInstanceOf[Long]) == (1L to 9L))
    assert(String.valueOf(recs.last.get("email")) == "u9@x.io")
    // frames arrive in stream order: schema v1, 5 records, schema v2, 4 records
    assert(fs.indexOf(AvroFramer.SchemaFrame(schemas(1))) == 6)
  }

  test("corrupt sync marker raises instead of decoding garbage") {
    val bytes = containerBytes(50, 5)
    bytes(bytes.length - 3) = (bytes(bytes.length - 3) ^ 0x55).toByte
    val framer = new AvroFramer
    intercept[MaxScaleProtocolException] { framer.feed(bytes, bytes.length) }
  }

  test("client in AVRO mode yields the same events as JSON mode, plus the schema DDL") {
    def drain(client: MaxScaleClient): Seq[CdcEvent] = {
      client.connect()
      val out = Vector.newBuilder[CdcEvent]
      var eof = false
      var polls = 0
      // chunked writes mean many polls return partial frames (no events);
      // the server closes after streaming, so EOF is the real terminator
      while (!eof && polls < 2000) {
        val r = client.poll()
        polls += 1
        out ++= r.events.collect { case Right(e) => e }
        eof = r.eof
      }
      client.close()
      out.result()
    }

    val n = 40
    val avroServer = new MockMaxScaleServer(events = Nil, chunkSize = 13,
      avroPayload = Some(containerBytes(n, 4)))
    val avroEvents = drain(new MaxScaleClient(host = "127.0.0.1", port = avroServer.port,
      user = "u", password = "p", database = "example", table = "users",
      readTimeoutMs = 500, wireType = "AVRO"))
    assert(avroServer.registerReceived.endsWith("TYPE=AVRO"))

    val jsonLines = (1 to n).map(i =>
      s"""{"domain":0,"server_id":1,"sequence":$i,"event_number":1,"timestamp":1754956800,"event_type":"insert","id":$i,"name":"user-$i"}""")
    val jsonServer = new MockMaxScaleServer(events = jsonLines, chunkSize = 13)
    val jsonEvents = drain(new MaxScaleClient(host = "127.0.0.1", port = jsonServer.port,
      user = "u", password = "p", database = "example", table = "users",
      readTimeoutMs = 500))

    val avroDdl = avroEvents.collect { case d: DdlEvent => d }
    assert(avroDdl.size == 1, "avro mode must announce the writer schema as one DDL event")
    assert(avroDdl.head.table == "users" && avroDdl.head.database == "example")
    assert(avroDdl.head.fields.map(f => (f.name, f.avroType, f.nullable)) ==
      Seq(("id", "long", false), ("name", "string", true)))

    def key(e: CdcEvent) = e match {
      case d: DmlEvent => (d.sequence, d.eventKind, d.domain, d.serverId, d.eventNumber, d.timestamp)
      case _ => null
    }
    val avroDml = avroEvents.collect { case d: DmlEvent => d }
    val jsonDml = jsonEvents.collect { case d: DmlEvent => d }
    assert(avroDml.map(key) == jsonDml.map(key))
    // data columns survive the generic-record JSON rendering
    assert(avroDml.head.rawJson.contains("\"user-1\""))
  }

  test("DSv2 source streams AVRO wire data via the wireType option") {
    import org.apache.spark.sql.functions._
    val n = 25
    val server = new MockMaxScaleServer(events = Nil, chunkSize = 31,
      avroPayload = Some(containerBytes(n, 5)), closeAfterEvents = false)
    val df = spark.readStream.format("maxscale-cdc")
      .option("host", "127.0.0.1").option("port", server.port)
      .option("user", "u").option("password", "p")
      .option("database", "example").option("table", "users")
      .option("wireType", "AVRO")
      .load()
    val q = df.writeStream.format("memory").queryName("cdc_avro").start()
    try {
      val deadline = System.currentTimeMillis() + 20000
      def dmlCount = spark.table("cdc_avro").where(col("kind") === "dml").count()
      while (dmlCount < n && System.currentTimeMillis() < deadline) {
        Thread.sleep(200); q.processAllAvailable()
      }
      assert(dmlCount == n, s"expected $n dml rows, got $dmlCount")
      assert(server.registerReceived.endsWith("TYPE=AVRO"), server.registerReceived)
      val seqs = spark.table("cdc_avro").where(col("kind") === "dml")
        .select(col("sequence")).collect().map(_.getLong(0)).sorted.toSeq
      assert(seqs == (1L to n.toLong))
      // the writer schema arrived as an in-band ddl row
      assert(spark.table("cdc_avro").where(col("kind") === "ddl").count() == 1)
    } finally { q.stop(); server.close() }
  }
}
