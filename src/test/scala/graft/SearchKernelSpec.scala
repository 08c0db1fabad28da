package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every driver-side route search runs on one kernel, `Route.search`: a
  * second priority-queue loop under route/ is a copy whose tie order,
  * cutoff or gate will drift, so the allowed sites are listed here.
  * `betweennessLocal` keeps its own Brandes loop as the reference the
  * distributed fixpoint is tested against.
  */
class SearchKernelSpec extends AnyFunSuite {
  private val allowed = Seq("Route.scala" -> "betweennessLocal", "Route.scala" -> "search")
  private val Def = """\bdef\s+(\w+)""".r.unanchored

  test("PriorityQueue appears under route/ only in the kernel and betweennessLocal") {
    val root = Paths.get("src/main/scala/graft/route")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val sites = scala.util.Using.resource(Files.walk(root)) { files =>
      files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { f =>
          val lines = Files.readAllLines(f).asScala.toIndexedSeq
          lines.indices.filter(lines(_).contains("PriorityQueue")).map { i =>
            val owner = lines.take(i + 1).reverseIterator
              .collectFirst { case Def(name) => name }.getOrElse("<top level>")
            root.relativize(f).toString -> owner
          }
        }.toList
    }
    assert(sites.sorted == allowed, s"priority-queue loops outside the kernel: $sites")
  }
}
