package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[TopKRows.ranked]] is the one bounded top-k stage: it registers the
  * Aggregator and explodes its buffer into ranked rows, so callers
  * cannot drift on rank base, column order or tie handling. This scan
  * of the main sources fails on a `new TopKRows(` outside
  * `TopKRows.scala`. */
class TopKRowsGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def sources: Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("the TopKRows Aggregator is built only inside TopKRows.scala") {
    val files = sources
    assert(files.exists(_.getFileName.toString == "TopKRows.scala"),
      s"no TopKRows.scala under $root")
    val needles = Seq("new TopKRows(", "new graft.functions.TopKRows(")
    val offenders = for {
      p <- files if p.getFileName.toString != "TopKRows.scala"
      (l, i) <- new String(Files.readAllBytes(p), UTF_8).split("\n").zipWithIndex
      if needles.exists(l.contains)
    } yield s"${root.relativize(p)}:${i + 1}: ${l.trim}"
    assert(offenders.isEmpty,
      "TopKRows built outside TopKRows.ranked:\n" + offenders.mkString("\n"))
  }
}
