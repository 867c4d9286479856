package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps `graft.graph.Pins` the one per-call pin of main code: a
  * `.persist(` or a `createDataFrame` over an `.rdd` anywhere else under
  * `src/main/scala/graft` fails. The allow-list is the ledger itself, the
  * write path's label-lifetime pins (DfUtils), GraphIngest's
  * statement-scoped persists and the tools. */
class PinGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")
  private val allowed = Seq("graph/Pins.scala", "graph/DfUtils.scala",
    "streaming/GraphIngest.scala", "tools/")
  private val pinIdiom = """\.persist\(|createDataFrame\(\s*[^,\s]*\.rdd\b""".r

  test("main code pins frames only through the Pins ledger") {
    assert(Files.isDirectory(root), s"run from the project root: no $root")
    val found = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(f => root.relativize(f).toString.replace('\\', '/') -> f)
      .filterNot { case (rel, _) => allowed.exists(rel.startsWith) }
      .flatMap { case (rel, f) =>
        new String(Files.readAllBytes(f), UTF_8).linesIterator.zipWithIndex.collect {
          case (line, i) if pinIdiom.findFirstIn(line).isDefined => s"$rel:${i + 1}: ${line.trim}"
        }
      }.toSeq
    assert(found.isEmpty, found.mkString("\n"))
  }
}
