package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.route.{Bridges, DagPath, Matching, Mst}

/** Property tests for the round-6 graph kernels: random graphs against
  * independent brute-force models (bridges by remove-and-reconnect BFS,
  * MST by exhaustive Prim, longest path by recursive DFS, matching by
  * definitional replay), plus local == distributed dispatch parity on a
  * few sampled graphs (each distributed case is a full Spark job, so
  * those sample counts stay small).
  */
class GraphOpsPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def forSeeds[A](gen: Gen[A], n: Int)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      val a = gen(Gen.Parameters.default, Seed(0x6EA1L + i * 6029L))
        .getOrElse(fail(s"generator failed at seed $i"))
      body(a)
    }

  /** Random undirected graph: n nodes, each possible edge kept with ~p. */
  private def graphGen(maxN: Int): Gen[Array[(Long, Long)]] = for {
    n <- Gen.chooseNum(4, maxN)
    dense <- Gen.chooseNum(20, 60)
    picks <- Gen.listOfN(n * (n - 1) / 2, Gen.chooseNum(0, 99))
  } yield {
    val pairs = for { u <- 0 until n; v <- u + 1 until n } yield (u.toLong, v.toLong)
    pairs.zip(picks).collect { case (e, r) if r < dense => e }.toArray
  }

  private def neighbors(edges: Iterable[(Long, Long)]): Map[Long, Set[Long]] = {
    val m = mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    edges.foreach { case (u, v) => m(u) += v; m(v) += u }
    m.toMap.withDefaultValue(Set.empty)
  }

  private def reachable(edges: Iterable[(Long, Long)], from: Long): Set[Long] = {
    val adj = neighbors(edges)
    val seen = mutable.Set(from)
    val stack = mutable.Stack(from)
    while (stack.nonEmpty) {
      adj(stack.pop()).foreach(n => if (seen.add(n)) stack.push(n))
    }
    seen.toSet
  }

  test("bridgesLocal == remove-edge-and-check-reconnection brute force") {
    forSeeds(graphGen(9), 40) { edges =>
      val brute = edges.filter { case (u, v) =>
        !reachable(edges.filterNot(_ == ((u, v))), u).contains(v)
      }.toSet
      assert(Bridges.bridgesLocal(edges).toSet == brute)
    }
  }

  test("kruskalLocal == exhaustive Prim under the (w,u,v) total order") {
    val wGen = graphGen(8).flatMap { es =>
      Gen.listOfN(es.length, Gen.chooseNum(1, 5)).map(ws =>
        es.zip(ws).map { case ((u, v), w) => (u, v, w.toDouble) })
    }
    forSeeds(wGen, 40) { edges =>
      // Prim with the SAME strict total order, run per component
      val nodes = edges.flatMap { case (u, v, _) => Seq(u, v) }.distinct.sorted
      val chosen = mutable.ArrayBuffer.empty[(Long, Long, Double)]
      val visited = mutable.Set.empty[Long]
      nodes.foreach { root =>
        if (!visited(root)) {
          visited += root
          var grown = true
          while (grown) {
            val cand = edges.filter { case (u, v, _) =>
              visited(u) != visited(v) }
            if (cand.isEmpty) grown = false
            else {
              val e = cand.minBy { case (u, v, w) => (w, u, v) }
              chosen += e
              visited += e._1; visited += e._2
            }
          }
        }
      }
      assert(Mst.kruskalLocal(edges).toSet == chosen.toSet)
    }
  }

  test("greedyLocal is a maximal matching equal to the definitional scan") {
    val wGen = graphGen(9).flatMap { es =>
      Gen.listOfN(es.length, Gen.chooseNum(1, 4)).map(ws =>
        es.zip(ws).map { case ((u, v), w) => (u, v, w.toDouble) })
    }
    forSeeds(wGen, 40) { edges =>
      val m = Matching.greedyLocal(edges)
      val used = m.flatMap { case (u, v, _) => Seq(u, v) }
      // valid: no endpoint reused
      assert(used.distinct.length == used.length)
      // maximal: every surviving edge touches a matched endpoint
      val usedSet = used.toSet
      assert(edges.forall { case (u, v, _) => usedSet(u) || usedSet(v) })
      // definitional replay
      val replay = {
        val taken = mutable.Set.empty[Long]
        edges.sortBy { case (u, v, w) => (w, u, v) }.filter { case (u, v, _) =>
          if (taken(u) || taken(v)) false
          else { taken += u; taken += v; true }
        }
      }
      assert(m.toSet == replay.toSet)
    }
  }

  test("longestPathLocal == recursive DFS on ascending DAGs") {
    forSeeds(graphGen(9), 40) { edges =>
      // edges already ascend (u < v) by construction -> a DAG
      val adjIn = edges.groupBy(_._2)
      val memo = mutable.Map.empty[Long, Long]
      def lp(v: Long): Long = memo.getOrElseUpdate(v,
        adjIn.getOrElse(v, Array.empty).map(e => lp(e._1) + 1)
          .foldLeft(0L)(math.max))
      val nodes = edges.flatMap { case (u, v) => Seq(u, v) }.distinct
      val brute = nodes.map(n => n -> lp(n)).toMap
      assert(DagPath.longestPathLocal(edges).toMap == brute)
    }
  }

  test("distributed dispatch equals local kernels on sampled random graphs") {
    import spark.implicits._
    forSeeds(graphGen(8), 3) { edges =>
      if (edges.nonEmpty) {
        val df = edges.toSeq.toDF("u", "v")
        assert(
          Bridges.bridges(spark, df, maxLocalEdges = 0).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet ==
          Bridges.bridgesLocal(edges).toSet)
        assert(
          DagPath.longestPath(spark, df, maxLocalEdges = 0).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet ==
          DagPath.longestPathLocal(edges).toSet)
        val wdf = edges.toSeq.map { case (u, v) => (u, v, 1.0 + (u + v) % 3) }
          .toDF("u", "v", "w")
        val warr = edges.map { case (u, v) => (u, v, 1.0 + (u + v) % 3) }
        assert(
          Matching.greedyMatching(spark, wdf, maxLocalEdges = 0).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet ==
          Matching.greedyLocal(warr).map { case (u, v, _) => (u, v) }.toSet)
      }
    }
  }
}
