package graft.tools

/** Print registry oracle SQL: the named entries in the order given, or
  * with no arguments every entry that has an oracle, sorted by name.
  * Usage: runMain graft.tools.DumpOracle [entry...] */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val m = graft.SparkEntry.oracleSql
    val names = if (args.isEmpty) m.keys.toSeq.sorted else args.toSeq
    names.foreach { q => println("=== " + q); println(m(q)) }
  }
}
