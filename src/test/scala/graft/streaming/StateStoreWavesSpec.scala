package graft.streaming

import graft.SparkTestSession
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The RocksDB conf loan: whatever the body or the query start does,
  * the session leaves [[StateStoreWaves.withRocksDb]] with the state
  * store confs it had before. */
class StateStoreWavesSpec extends AnyFunSuite with SparkTestSession {

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val changelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
  private val hdfsProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  /** Runs `body`, then puts both confs back as they were. */
  private def keepingConfs(body: => Unit): Unit = {
    val saved = Seq(providerKey, changelogKey).map(k => k -> spark.conf.getOption(k))
    val explicit = spark.conf.getAll.keySet
    try body
    finally saved.foreach {
      case (k, Some(v)) if explicit(k) => spark.conf.set(k, v)
      case (k, _) => spark.conf.unset(k)
    }
  }

  test("withRocksDb restores a set and an unset conf when its body throws") {
    keepingConfs {
      spark.conf.set(providerKey, hdfsProvider)
      spark.conf.unset(changelogKey)
      val boom = intercept[IllegalStateException] {
        StateStoreWaves.withRocksDb(spark) {
          assert(spark.conf.get(providerKey) == StateStoreWaves.RocksDbProvider)
          assert(spark.conf.get(changelogKey) == "true")
          throw new IllegalStateException("body failed")
        }
      }
      assert(boom.getMessage == "body failed")
      assert(spark.conf.get(providerKey) == hdfsProvider)
      assert(!spark.conf.getAll.contains(changelogKey),
        s"$changelogKey left set to ${spark.conf.getOption(changelogKey)}")
    }
  }

  test("a run whose query fails to start leaves the provider conf as it was") {
    import spark.implicits._
    keepingConfs {
      spark.conf.unset(providerKey)
      val before = spark.conf.getOption(providerKey)
      val wave = Seq((1L, "a b c")).toDF("doc_id", "text")
      // a streaming aggregation in append mode needs a watermark, so
      // the sink's start() throws
      intercept[AnalysisException] {
        StateStoreWaves.run(spark, "conf-restore", Seq(wave), None)(
          _.groupBy(col("doc_id")).count())
      }
      assert(spark.conf.getOption(providerKey) == before)
      assert(!spark.conf.getAll.contains(providerKey),
        s"$providerKey left set to ${spark.conf.getOption(providerKey)}")
    }
  }
}
