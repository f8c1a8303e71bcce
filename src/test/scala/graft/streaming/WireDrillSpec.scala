package graft.streaming

import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** The wire drill's lifecycle: a drill owns the mock servers it opens,
  * so when a `run*Pipeline` returns, the server threads and sockets it
  * started are gone (a keep-alive server otherwise holds both for its
  * 60 s linger after every drill). */
class WireDrillSpec extends AnyFunSuite with SparkTestSession {

  private def mockThreads(): Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("mock-maxscale-")).toSet

  test("no mock-maxscale thread a drill started outlives the drill") {
    val before = mockThreads()
    val events = CdcAnalytics.docDdlJson +: (1 to 20).map { i =>
      CdcAnalytics.docOpDmlJson(i.toLong, "insert", i.toLong, s"doc $i\nshared line")
    }
    val tmp = java.nio.file.Files.createTempDirectory("wire-drill").toString
    val inc = CdcAnalytics.runDocPipeline(spark, events, s"$tmp/state",
      s"$tmp/ckpt", events.size.toLong)
    val leaked = mockThreads() -- before
    assert(leaked.isEmpty, s"still alive after the drill: ${leaked.map(_.getName)}")
    assert(inc.lines(spark).count() == 20)
  }
}
