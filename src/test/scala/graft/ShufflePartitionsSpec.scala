package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.shufflePartitions` is the one rule Bench, BenchSome and
  * Verify size `spark.sql.shuffle.partitions` by: the `local[N]` core
  * count, or the machine's cores for `local[*]`, whose '*' is not an
  * int conf value. */
class ShufflePartitionsSpec extends AnyFunSuite {

  test("a numeric core count is the partition count") {
    assert(Bench.shufflePartitions("8") == "8")
    assert(Bench.shufflePartitions("32") == "32")
  }

  test("'*' maps to the machine's core count") {
    assert(Bench.shufflePartitions("*") == Runtime.getRuntime.availableProcessors().toString)
  }
}
