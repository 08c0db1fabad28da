package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every semi-naive relaxation under route/ runs on one loop,
  * `Frontier.relax`: a second hand-rolled one carries its own merge rule,
  * round cap and checkpoint release, which drift. So the defs allowed to
  * loop over DataFrame rounds are listed here; the others run fixpoints
  * of another shape (Borůvka merges, matching and peel rounds, label
  * propagation, power iterations, the bridges XOR sweep).
  */
class RoundLoopSpec extends AnyFunSuite {
  private val allowed = Seq(
    "Bridges.scala" -> "bridgesDistributed",
    "Components.scala" -> "kCore",
    "Components.scala" -> "kTruss",
    "Components.scala" -> "labelPropagation",
    "Frontier.scala" -> "relax",
    "Hits.scala" -> "rounds",
    "Matching.scala" -> "matchingDistributed",
    "Mst.scala" -> "boruvka",
    "Route.scala" -> "powerIteration")
  private val Def = """\bdef\s+(\w+)""".r.unanchored
  private val Loop = """^\s*(?:while|for)\s*[({]""".r.unanchored
  private val FrameOps = Seq(".join(", ".groupBy(", ".agg(", "localCheckpoint")

  /** The loop starting at line `i`: through its closing brace, or the one
    * line when it has no braces.
    */
  private def body(lines: IndexedSeq[String], i: Int): String = {
    var depth = 0
    var j = i
    var opened = false
    while (j < lines.length && !(opened && depth == 0)) {
      lines(j).foreach {
        case '{' => depth += 1; opened = true
        case '}' => depth -= 1
        case _ =>
      }
      j += 1
      if (!opened && j > i) return lines(i)
    }
    lines.slice(i, j).mkString("\n")
  }

  test("DataFrame round loops under route/ run only in the listed defs") {
    val root = Paths.get("src/main/scala/graft/route")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val sites = scala.util.Using.resource(Files.walk(root)) { files =>
      files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { f =>
          val lines = Files.readAllLines(f).asScala.toIndexedSeq
          lines.indices
            .filter(i => Loop.matches(lines(i)) && FrameOps.exists(body(lines, i).contains))
            .map { i =>
              val owner = lines.take(i + 1).reverseIterator
                .collectFirst { case Def(name) => name }.getOrElse("<top level>")
              root.relativize(f).toString -> owner
            }
        }.toList.distinct
    }
    assert(sites.sorted == allowed, s"DataFrame round loops outside the allowed defs: $sites")
  }
}
