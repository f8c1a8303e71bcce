package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** The concurrent serving probe returns one latency per request or
  * fails: a worker's error must not shrink the sample that its
  * percentiles are read from. */
class ServingProbeSpec extends AnyFunSuite {

  private val qvecs = Array.tabulate(10)(i => (i.toLong + 1, Array(i.toLong)))

  test("every request is timed when all workers finish") {
    val lat = Vectors.concurrentLatenciesMs(qvecs, 3)((qid, _) => qid.toDouble)
    assert(lat.sorted == qvecs.map(_._1.toDouble).toSeq)
  }

  test("a worker that throws fails the probe with its error as the cause") {
    val boom = new RuntimeException("request 7 failed")
    val e = intercept[IllegalStateException] {
      Vectors.concurrentLatenciesMs(qvecs, 3) { (qid, _) =>
        if (qid == 7L) throw boom
        1.0
      }
    }
    assert(e.getCause eq boom)
    assert(e.getMessage.contains("of 10 requests completed"), e.getMessage)
    assert(e.getMessage.contains("1 worker(s) failed"), e.getMessage)
  }
}
