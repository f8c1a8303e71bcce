package graft.cli

import graft.SparkTestSession
import graft.sources.cdc.testkit.MockMaxScaleServer
import org.scalatest.funsuite.AnyFunSuite

/** Smoke test for the A15 demo CLI (`cmd/gomaxscale/main.go` analog) —
  * the reference leaves its CLI untested; this drives `CdcDemo.main`
  * end-to-end against the mock server: real argv, the real
  * `maxscale-cdc` source, the real console sink. Output observability:
  * the console sink prints through the JVM's original stdout (Scala's
  * Console caches System.out at class-load, so a test-time tee cannot
  * intercept it); the assertions instead pin the full protocol
  * handshake on the server side and the sink's processed-row count on
  * the query side — together they prove events flowed wire → source →
  * console sink.
  */
class CdcDemoSpec extends AnyFunSuite with SparkTestSession {

  private def ddl =
    """{"namespace":"MaxScaleChangeDataSchema.avro","type":"record","name":"ChangeRecord","table":"users","database":"example","version":1,"gtid":"0-1-1","fields":[{"name":"id","type":"int"},{"name":"name","type":["null","string"]}]}"""
  private def dml(seq: Int, id: Int, name: String) =
    s"""{"domain":0,"server_id":1,"sequence":$seq,"event_number":1,"timestamp":1754956800,"event_type":"insert","id":$id,"name":"$name"}"""

  test("CdcDemo subscribes, streams events through the console sink, and can be stopped") {
    spark // force the shared session so CdcDemo's getOrCreate joins it
    val before = spark.streams.active.map(_.id).toSet
    val server = new MockMaxScaleServer(
      events = Seq(ddl, dml(1, 1, "alice"), dml(2, 2, "bob")),
      closeAfterEvents = false)

    val mainError = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val runner = new Thread(() => {
      try CdcDemo.main(Array("127.0.0.1", server.port.toString, "example", "users"))
      catch { case t: Throwable => mainError.set(t) }
    }, "cdc-demo-main")
    runner.setDaemon(true)
    try {
      runner.start()
      val deadline = System.currentTimeMillis() + 30000
      def demoQuery = spark.streams.active.find(q => !before(q.id))
      def rowsSunk = demoQuery.map(_.recentProgress.map(_.numInputRows).sum).getOrElse(0L)
      while (rowsSunk < 3 && System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(rowsSunk >= 3,
        s"console sink processed $rowsSunk rows; main error=${mainError.get}")
      // the sink the demo started really is the console sink
      val sinkDesc = demoQuery.get.lastProgress.sink.description
      assert(sinkDesc.toLowerCase.contains("console"), s"unexpected sink: $sinkDesc")
      // the demo spoke the full protocol through the real client
      assert(server.authReceived != null && server.authReceived.nonEmpty)
      assert(server.registerReceived.startsWith("REGISTER UUID="))
      assert(server.requestDataReceived == "REQUEST-DATA example.users")
    } finally {
      // stopping the query unblocks main's awaitTermination
      spark.streams.active.filter(q => !before(q.id))
        .foreach(q => try q.stop() catch { case _: Throwable => () })
      server.close()
    }
    runner.join(15000)
    assert(!runner.isAlive, "CdcDemo.main did not return after its query was stopped")
    assert(mainError.get == null, s"CdcDemo.main threw: ${mainError.get}")
  }
}
