package graft

import org.apache.spark.sql.SparkSession

import graft.operators.AnnIndexStore

/** The benchmark's door to graft's serving-SLA probes, which are
  * package-private to `graft`: `ann_serving` times these, so a change to
  * graft's serving path moves its numbers. */
object PerfbenchServing {
  /** Where `Vectors` keeps the persisted IVF-PQ store of corpus `d` in
    * this JVM (its `pqStoreDir`); the probes train and persist a new one
    * when nothing is committed there. */
  def storeDir(d: String): String =
    graft.util.Scratch.stableDir("annstore-ivfpq-" + d.replaceAll("[^A-Za-z0-9._-]", "_"))

  /** Puts the committed store `from` where the probes look for the
    * store of corpus `d`, so they load it instead of training one. */
  def install(from: String, d: String): Unit = {
    val to = storeDir(d)
    if (!AnnIndexStore.committed(to)) perfbench.Ctx.copyTree(from, to)
    require(AnnIndexStore.committed(to), s"no committed index at $to")
  }

  /** One client: per-request latencies (ms) of query vectors 1..n, in
    * that order, after a fresh load and one warm-up request. */
  def latenciesMs(s: SparkSession, d: String, n: Int): Seq[Double] =
    graft.queries.Vectors.servingSlaLatenciesMs(s, d, n)

  /** `clients` concurrent request streams over query vectors 1..n: the
    * latencies of the requests that completed, in completion order. */
  def concurrentLatenciesMs(s: SparkSession, d: String, n: Int, clients: Int): Seq[Double] =
    graft.queries.Vectors.servingSlaLatenciesConcurrentMs(s, d, n, clients)
}
