package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Local iteration helper: time only the named queries (min of 3,
  * interleaved like graft.Bench) at SPARK_GRAFT_SF_DIR — the full
  * Bench run is ~11 min, which is the wrong feedback loop for tuning
  * one query. Usage: runMain graft.tools.BenchSome q66_… q46b_… */
object BenchSome {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", graft.Bench.shufflePartitions(cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
    graft.operators.BucketedTables.sessionConfs
      .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val defs = SparkEntry.allDefs.filter(q => args.contains(q.name))
    def once(q: graft.QueryDef): Double = {
      val t0 = System.nanoTime()
      q.run(spark, sfDir).collect()
      (System.nanoTime() - t0) / 1e9
    }
    val passes = (1 to 3).map(_ => defs.map(q => q.name -> once(q)).toMap)
    defs.foreach { q =>
      println(f"${q.name}%-30s ${passes.map(_(q.name)).min}%8.3f s (min of ${passes.map(_(q.name)).map(t => f"$t%.2f").mkString("/")})")
    }
    spark.stop()
  }
}
