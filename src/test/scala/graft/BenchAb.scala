package graft

import org.apache.spark.sql.SparkSession

/** Load-fair A/B harness for the micro-batch AQE choice: runs the named
  * entries with AQE on and off INTERLEAVED in one JVM (pass order
  * on/off/on/off/…), so ambient host noise hits both arms equally —
  * the separate-process A/B showed ±20% between-run swings that
  * swamped the effect. Prints min-of-N per arm per entry.
  *
  * Usage: sbt "Test/runMain graft.BenchAb <passesPerArm> <entry>..."
  */
object BenchAb {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = args(0).toInt
    val names = args.drop(1)
    val builder = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
    graft.operators.BucketedTables.sessionConfs
      .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val defs = SparkEntry.allDefs.filter(q => names.contains(q.name))
    def once(q: QueryDef): Double = {
      val t0 = System.nanoTime()
      q.run(spark, sfDir).collect()
      (System.nanoTime() - t0) / 1e9
    }
    val results = collection.mutable.Map[(String, Boolean), List[Double]]()
      .withDefaultValue(Nil)
    // reset even when an entry throws, so the override cannot stay
    // pinned for the rest of the JVM
    try {
      for (p <- 1 to passes; aqe <- Seq(true, false)) {
        graft.util.Confs.microBatchAqeOverride = Some(aqe)
        defs.foreach { q =>
          val t = once(q)
          results((q.name, aqe)) ::= t
          println(f"pass $p aqe=$aqe ${q.name}%-32s $t%7.2f s")
        }
      }
    } finally graft.util.Confs.microBatchAqeOverride = None
    println("\n==== min per arm ====")
    defs.foreach { q =>
      val on = results((q.name, true)).min
      val off = results((q.name, false)).min
      println(f"${q.name}%-32s aqe_on=$on%7.3f  aqe_off=$off%7.3f  " +
        f"ratio=${on / off}%5.2f")
    }
    spark.stop()
  }
}
