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

  /** (line number, text) of each code line that writes or deletes. */
  private def writes(lines: Seq[String]): Seq[(Int, String)] =
    lines.zipWithIndex.collect {
      case (l, i) if !l.trim.startsWith("*") && !l.trim.startsWith("//") &&
          !l.trim.startsWith("/*") && writePatterns.exists(_.findFirstIn(l).isDefined) =>
        (i + 1, l.trim)
    }

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
}
