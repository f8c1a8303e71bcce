package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `StateLayout` is the only code under `graft.streaming` that writes
  * or deletes a state directory: its writers run crash recovery first
  * and keep the file-count cache exact, so a write anywhere else could
  * skip either. This scan of the package's sources fails on a
  * DataFrame write (`.write`, `mode(`) or a filesystem `.delete(`
  * outside `StateLayout.scala` and the allowlist below. */
class StateWriterGuardSpec extends AnyFunSuite {

  private val pkg = Paths.get("src/main/scala/graft/streaming")

  /** Files that may write on their own, each with the reason. */
  private val allowed = Map(
    "CdcSnapshotTable.scala" ->
      ("writes one whole snapshot directory per batch and deletes superseded " +
        "ones; it appends nothing by key, so the keyed-state layout does not apply"))

  private val writePatterns =
    Seq("""\.write\b""".r, """\bmode\(""".r, """(?<!StateLayout)\.delete\(""".r)

  private def sources: Seq[(String, Seq[String])] =
    Files.list(pkg).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString ->
        new String(Files.readAllBytes(p), UTF_8).split("\n").toSeq)

  /** (line number, text) of each code line (no comment line). */
  private def code(lines: Seq[String]): Seq[(Int, String)] =
    lines.zipWithIndex.collect {
      case (l, i) if !l.trim.startsWith("*") && !l.trim.startsWith("//") &&
          !l.trim.startsWith("/*") => (i + 1, l.trim)
    }

  /** (line number, text) of each code line that writes or deletes. */
  private def writes(lines: Seq[String]): Seq[(Int, String)] =
    code(lines).filter { case (_, l) => writePatterns.exists(_.findFirstIn(l).isDefined) }

  test("nothing outside StateLayout writes or deletes a state directory") {
    val files = sources
    assert(files.exists(_._1 == "StateLayout.scala"), s"no sources found under $pkg")
    val offenders = for {
      (name, lines) <- files
      if name != "StateLayout.scala" && !allowed.contains(name)
      (n, l) <- writes(lines)
    } yield s"$name:$n: $l"
    assert(offenders.isEmpty,
      "state writes outside StateLayout:\n" + offenders.mkString("\n"))
  }

  test("every allowlisted file still writes (no dead entries)") {
    val files = sources.toMap
    allowed.keys.foreach { name =>
      assert(files.get(name).exists(writes(_).nonEmpty), s"$name no longer writes; drop it")
    }
  }

  test("the wire drill is written once: one maxscale-cdc source builder, servers opened only by the drills") {
    val drills = Set("drainWire", "drainContinuous")
    val Def = """^\s*(?:(?:private|final|override|protected)(?:\[\w+\])?\s+)*def\s+(\w+)""".r.unanchored
    val sourceBuilds = for {
      (name, lines) <- sources
      (n, l) <- code(lines) if l.contains("format(\"maxscale-cdc\")")
    } yield s"$name:$n"
    assert(sourceBuilds.size == 1,
      s"maxscale-cdc source built at ${sourceBuilds.size} sites: ${sourceBuilds.mkString(", ")}")
    // each `new MockMaxScaleServer` belongs to the nearest def above it
    val outside = for {
      (name, lines) <- sources
      (n, l) <- code(lines) if l.contains("new MockMaxScaleServer")
      owner = lines.take(n).reverseIterator.collectFirst { case Def(d) => d }
      if !owner.exists(drills)
    } yield s"$name:$n (in ${owner.getOrElse("no def")})"
    assert(outside.isEmpty,
      "mock servers opened outside drainWire/drainContinuous:\n" + outside.mkString("\n"))
  }

  test("RocksDB waves start in one place: MemoryStream only in StateStoreWaves, no memory sink, two stream starts") {
    def sites(needle: String) = for {
      (name, lines) <- sources
      (n, l) <- code(lines) if l.contains(needle)
    } yield s"$name:$n"
    val memoryStreams = sites("MemoryStream").filterNot(_.startsWith("StateStoreWaves.scala:"))
    assert(memoryStreams.isEmpty,
      s"MemoryStream outside StateStoreWaves: ${memoryStreams.mkString(", ")}")
    val memorySinks = sites("format(\"memory\")")
    assert(memorySinks.isEmpty, s"memory sink at ${memorySinks.mkString(", ")}")
    // drainWire's foreachBatch and StateStoreWaves' parquet file sink
    val starts = sites("writeStream")
    assert(starts.size == 2,
      s"writeStream at ${starts.size} code lines: ${starts.mkString(", ")}")
  }
}
