package graft.sources.cdc

import graft.SparkTestSession
import graft.sources.cdc.testkit.MockMaxScaleServer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The source's micro-batch partitioning: events are encoded into
  * `UnsafeRow` bytes as they arrive, and a batch larger than
  * [[MaxScaleCdcMicroBatchStream.RowsPerSplit]] is handed out as
  * several contiguous partitions. Reading the partitions in order must
  * give the wire order with the same column values, batches must still
  * never span a schema change under `splitBatchesAtDdl`, and a restart
  * must still re-fetch the uncommitted batch from the wire. */
class CdcSourcePartitionSpec extends AnyFunSuite with SparkTestSession {

  private def ddl(version: Int) =
    s"""{"namespace":"MaxScaleChangeDataSchema.avro","type":"record","name":"ChangeRecord","table":"users","database":"example","version":$version,"gtid":"0-1-$version","fields":[{"name":"id","type":"int"},{"name":"name","type":["null","string"]}]}"""
  private def dml(seq: Int, op: String = "insert") =
    s"""{"domain":0,"server_id":1,"sequence":$seq,"event_number":1,"timestamp":1754956800,"event_type":"$op","id":$seq,"name":"n$seq"}"""

  private val opts = Map("host" -> "127.0.0.1", "user" -> "u", "password" -> "p",
    "database" -> "example", "table" -> "users")

  /** The row the source must produce for `script(i)`, given the schema
    * version in effect. */
  private def expected(json: String, version: Integer): Seq[Any] =
    if (json.startsWith("{\"namespace\"")) {
      val v = "\"version\":(\\d+)".r.findFirstMatchIn(json).get.group(1).toInt
      Seq("ddl", "example", "users", null, null, null, null, null, null, s"0-1-$v", v, json)
    } else {
      val seq = "\"sequence\":(\\d+)".r.findFirstMatchIn(json).get.group(1).toLong
      val op = "\"event_type\":\"(\\w+)\"".r.findFirstMatchIn(json).get.group(1)
      Seq("dml", "example", "users", op, 0, 1, seq, 1L, 1754956800L * 1000000L,
        s"0-1-$seq", version, json)
    }

  private def values(r: InternalRow): Seq[Any] =
    MaxScaleCdc.schema.fields.indices.map { i =>
      if (r.isNullAt(i)) null
      else MaxScaleCdc.schema(i).dataType match {
        case org.apache.spark.sql.types.StringType => r.getUTF8String(i).toString
        case org.apache.spark.sql.types.IntegerType => r.getInt(i)
        case _ => r.getLong(i)
      }
    }

  private def waitFor(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + 15000
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(cond, "condition not met within 15s")
  }

  private def read(stream: MaxScaleCdcMicroBatchStream, from: CdcOffset,
      to: CdcOffset): Seq[Seq[Seq[Any]]] = {
    val factory = stream.createReaderFactory()
    stream.planInputPartitions(from, to).toSeq.map { p =>
      val reader = factory.createReader(p)
      val out = Seq.newBuilder[Seq[Any]]
      while (reader.next()) out += values(reader.get())
      reader.close()
      out.result()
    }
  }

  test("a backlog large enough to split reads back in script order with the same values") {
    val n = 3 * MaxScaleCdcMicroBatchStream.RowsPerSplit + 17
    val script = ddl(1) +: (1 to n).map(i => dml(i, if (i % 3 == 0) "delete" else "insert"))
    val server = new MockMaxScaleServer(events = script, closeAfterEvents = false)
    val stream = new MaxScaleCdcMicroBatchStream(opts + ("port" -> server.port.toString))
    try {
      waitFor(stream.reportLatestOffset().asInstanceOf[CdcOffset].index == script.size)
      val parts = read(stream, CdcOffset(0), CdcOffset(script.size))
      val want = math.min(4, spark.sparkContext.defaultParallelism)
      assert(parts.size == want, s"partition sizes: ${parts.map(_.size)}")
      // contiguous and balanced: sizes differ by at most one
      assert(parts.map(_.size).max - parts.map(_.size).min <= 1)
      assert(parts.flatten == script.map(expected(_, 1)))
      // a small batch stays one partition
      assert(read(stream, CdcOffset(1), CdcOffset(11)).map(_.size) == Seq(10))
    } finally { stream.stop(); server.close() }
  }

  test("a split batch collects in wire order and splitBatchesAtDdl still cuts at each DDL") {
    val n = MaxScaleCdcMicroBatchStream.RowsPerSplit + 500
    val script = Seq(ddl(1)) ++ (1 to n).map(dml(_)) ++ Seq(ddl(2)) ++
      (n + 1 to 2 * n).map(dml(_))
    val server = new MockMaxScaleServer(events = script, closeAfterEvents = false)
    val perBatch = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, Seq[Row])]
    val q = spark.readStream.format("maxscale-cdc")
      .options(opts + ("port" -> server.port.toString) + ("splitBatchesAtDdl" -> "true"))
      .load().writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        perBatch.add((id, b.rdd.getNumPartitions,
          b.select(col("kind"), col("sequence"), col("schema_version")).collect().toSeq))
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("cdc-split-ddl").toString).start()
    try assert(q.awaitTermination(60000), "AvailableNow query did not terminate")
    finally { q.stop(); server.close() }
    val batches = perBatch.toArray(Array.empty[(Long, Int, Seq[Row])]).toSeq.sortBy(_._1)
      .filter(_._3.nonEmpty)
    // the whole script, in order, exactly once
    val seqs = batches.flatMap(_._3).map(r => if (r.isNullAt(1)) -1L else r.getLong(1))
    assert(seqs == script.map(j =>
      "\"sequence\":(\\d+)".r.findFirstMatchIn(j).map(_.group(1).toLong).getOrElse(-1L)))
    batches.foreach { case (id, parts, rows) =>
      rows.zipWithIndex.foreach { case (r, i) =>
        assert(r.getString(0) != "ddl" || i == 0, s"batch $id: DDL at position $i")
      }
      val versions = rows.filter(_.getString(0) == "dml").map(_.getInt(2)).distinct
      assert(versions.size <= 1, s"batch $id spans schema versions $versions")
      if (rows.size > MaxScaleCdcMicroBatchStream.RowsPerSplit)
        assert(parts > 1, s"batch $id of ${rows.size} rows read as one partition")
    }
    // both schema versions were delivered, in batches that split
    assert(batches.exists(b => b._2 > 1 && b._3.exists(r => r.getString(0) == "dml" && r.getInt(2) == 2)))
  }

  test("a restart re-fetches the uncommitted batch from the wire, in order") {
    val n = 2 * MaxScaleCdcMicroBatchStream.RowsPerSplit + 100
    val script = ddl(1) +: (1 to n).map(dml(_))
    val first = new MockMaxScaleServer(events = script, closeAfterEvents = false)
    val stream = new MaxScaleCdcMicroBatchStream(opts + ("port" -> first.port.toString))
    // batch 0: the DDL and ten DMLs, committed; batch 1: the rest,
    // planned but never committed (the query died mid-batch)
    val (start, end) = try {
      waitFor(stream.reportLatestOffset().asInstanceOf[CdcOffset].index == script.size)
      val init = stream.initialOffset()
      val committed = stream.latestOffset(init, ReadLimit.maxRows(11)).asInstanceOf[CdcOffset]
      read(stream, init.asInstanceOf[CdcOffset], committed)
      stream.commit(committed)
      val planned = stream.latestOffset(committed, ReadLimit.allAvailable()).asInstanceOf[CdcOffset]
      read(stream, committed, planned)
      (committed, planned)
    } finally { stream.stop(); first.close() }
    assert(start == CdcOffset(11, "0-1-10", Int.box(1)))
    assert(end.index == script.size)

    // the restarted source reads both offsets back from the log before
    // it connects, resumes the wire at the batch's start and replays it
    // (a server honoring the GTID streams the DMLs after it)
    val second = new MockMaxScaleServer(events = script.tail, closeAfterEvents = false,
      honorGtid = true)
    val restarted = new MaxScaleCdcMicroBatchStream(opts + ("port" -> second.port.toString))
    try {
      val s = restarted.deserializeOffset(start.json()).asInstanceOf[CdcOffset]
      val e = restarted.deserializeOffset(end.json()).asInstanceOf[CdcOffset]
      val parts = read(restarted, s, e)
      assert(second.requestDataReceived == "REQUEST-DATA example.users.1 0-1-10")
      assert(parts.size > 1)
      assert(parts.flatten == script.drop(11).map(expected(_, 1)))
    } finally { restarted.stop(); second.close() }
  }

  test("a restart numbers the resumed feed from the adopted offset, however much is buffered first") {
    val script = ddl(1) +: (1 to 300).map(dml(_))
    val first = new MockMaxScaleServer(events = script, closeAfterEvents = false)
    val stream = new MaxScaleCdcMicroBatchStream(opts + ("port" -> first.port.toString))
    // [0, 11) — the DDL and ten DMLs — is committed
    val committed = try {
      waitFor(stream.reportLatestOffset().asInstanceOf[CdcOffset].index == script.size)
      val init = stream.initialOffset().asInstanceOf[CdcOffset]
      val c = stream.latestOffset(init, ReadLimit.maxRows(11)).asInstanceOf[CdcOffset]
      read(stream, init, c)
      stream.commit(c)
      c
    } finally { stream.stop(); first.close() }
    assert(committed == CdcOffset(11, "0-1-10", Int.box(1)))

    // the resumed feed is the re-sent DDL plus the DMLs after the GTID;
    // the receiver buffers all of it before the first batch is planned
    val second = new MockMaxScaleServer(events = script, closeAfterEvents = false,
      honorGtid = true)
    val restarted = new MaxScaleCdcMicroBatchStream(opts + ("port" -> second.port.toString))
    try {
      val start = restarted.deserializeOffset(committed.json()).asInstanceOf[CdcOffset]
      restarted.reportLatestOffset() // starts the receiver
      val resumed = 1 + (script.size - 11)
      waitFor(restarted.bufferedEvents == resumed)
      val end = restarted.latestOffset(start, ReadLimit.allAvailable()).asInstanceOf[CdcOffset]
      assert(end.index == start.index + resumed)
      assert(read(restarted, start, end).flatten ==
        (script.head +: script.drop(11)).map(expected(_, 1)))
    } finally { restarted.stop(); second.close() }
  }
}
