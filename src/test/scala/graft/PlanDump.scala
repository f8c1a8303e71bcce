package graft

import org.apache.spark.sql.SparkSession

/** Plan-evidence dumper for the optimization rounds: runs one registry
  * entry end-to-end under [[graft.util.StageAudit.capturing]] and writes
  * (1) the entry's final `.explain("formatted")` plan and (2) every
  * captured constituent stage plan (the per-batch state appends /
  * compactions a driver-composed entry's final plan never shows, and
  * each wave's micro-batch plan of the RocksDB state-store entries) to
  * a file. The shuffle-partition counts inside `Exchange hashpartitioning
  * (..., N)` nodes are the before/after evidence for the micro-batch
  * partition sizing work — run with `SPARK_GRAFT_MICROBATCH_PARTITIONS=32`
  * to reproduce the pre-change plans on the same code.
  *
  * Usage: sbt "Test/runMain graft.PlanDump <entry> <outFile> [sfDir]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val out = args(1)
    val dir = args.lift(2).getOrElse("/root/testdata/sf0.01")
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
    val q = SparkEntry.allDefs.find(_.name == name).getOrElse(
      sys.error(s"no entry named $name"))
    val ((df, formatted), stages) = graft.util.StageAudit.capturing {
      val df = q.run(spark, dir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      df.collect()
      (df, formatted)
    }
    val _ = df
    val sb = new StringBuilder
    sb.append(s"== $name @ $dir (microBatchPartitions=" +
      s"${graft.util.Confs.MicroBatchPartitions}) ==\n\n")
    sb.append("---- final plan (explain formatted) ----\n")
    sb.append(formatted).append("\n")
    if (stages.nonEmpty) {
      sb.append("\n---- constituent stage plans (StageAudit captures; " +
        "per-batch state appends/compactions, state-store micro-batches) ----\n")
    stages.foreach { case (label, plan) =>
        sb.append(s"\n-- stage: $label --\n").append(plan).append("\n")
      }
    }
    val p = java.nio.file.Paths.get(out)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, sb.toString)
    println(s"[plandump] wrote $out (${stages.size} stage plans)")
    spark.stop()
  }
}
