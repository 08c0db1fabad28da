package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.PropertyGraph
import graft.route.{Isochrone, Route}

/** Routing parity with the reference's README Dijkstra example
  * (`README.md:59-74`): stock shortest path over the star fixture.
  */
class RouteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val g: PropertyGraph =
    PropertyGraph.fromGeoJson(spark, Seq(Fixture.path)).toInMemory()

  val leafWest = "-122.3144401, 47.6598872"

  test("weighted shortest path goes leaf → hub → leaf") {
    val Some((path, cost)) =
      Route.shortestPath(g, leafWest, Fixture.TestNode1, "_length")
    assert(path == Seq(leafWest, Fixture.TestNode2, Fixture.TestNode1))
    // cost = sum of the two segment lengths
    val l1 = graft.geo.Geo.haversine(-122.3144401, 47.6598872, -122.3141965, 47.6598870)
    val l2 = graft.geo.Geo.haversine(-122.3141965, 47.6598870, -122.3132940, 47.6598762)
    assert(math.abs(cost - (l1 + l2)) < 1e-6)
  }

  test("path to self is the single node at cost 0") {
    val Some((path, cost)) = Route.shortestPath(g, Fixture.TestNode1, Fixture.TestNode1, "_length")
    assert(path == Seq(Fixture.TestNode1))
    assert(cost == 0.0)
  }

  test("unreachable/unknown nodes yield None") {
    assert(Route.shortestPath(g, "nope", Fixture.TestNode1, "_length").isEmpty)
  }

  test("local fast path and distributed Pregel agree") {
    val local = Route.shortestPathLocal(g, leafWest, Fixture.TestNode1, "_length")
    val pregel = Route.shortestPathPregel(g, leafWest, Fixture.TestNode1, "_length")
    assert(local.isDefined && pregel.isDefined)
    assert(local.get._1 == pregel.get._1)
    assert(math.abs(local.get._2 - pregel.get._2) < 1e-9)
    assert(Route.shortestPathLocal(g, "nope", Fixture.TestNode1, "_length").isEmpty)
    assert(Route.shortestPathLocal(g, Fixture.TestNode1, Fixture.TestNode1, "_length")
      .contains((Seq(Fixture.TestNode1), 0.0)))
  }

  test("A* with the haversine heuristic matches Dijkstra (fixture + random road grids)") {
    // fixture: same optimal path and cost
    val astar = Route.shortestPathAStar(g, leafWest, Fixture.TestNode1)
    val dijk = Route.shortestPathLocal(g, leafWest, Fixture.TestNode1, "_length")
    assert(astar == dijk)
    assert(Route.shortestPathAStar(g, "nope", Fixture.TestNode1).isEmpty)
    assert(Route.shortestPathAStar(g, Fixture.TestNode1, Fixture.TestNode1)
      .contains((Seq(Fixture.TestNode1), 0.0)))
    // random jittered grid graphs with haversine edge weights (admissible
    // by construction): A* must equal Dijkstra on cost for every probe
    val rnd = new scala.util.Random(7)
    import org.apache.spark.sql.functions._
    for (_ <- 1 to 3) {
      val n = 6
      val pts = (for (i <- 0 until n; j <- 0 until n) yield {
        val lon = -122.31 + i * 0.001 + rnd.nextDouble() * 2e-4
        val lat = 47.65 + j * 0.001 + rnd.nextDouble() * 2e-4
        (i, j) -> (lon, lat)
      }).toMap
      val edges = (for {
        i <- 0 until n; j <- 0 until n
        (di, dj) <- Seq((1, 0), (0, 1)) if i + di < n && j + dj < n
        if rnd.nextDouble() > 0.15 // knock out some edges: non-trivial detours
      } yield {
        val (lon1, lat1) = pts((i, j)); val (lon2, lat2) = pts((i + di, j + dj))
        val w = graft.geo.Geo.haversine(lon1, lat1, lon2, lat2) *
          (1.0 + rnd.nextDouble() * 0.3) // road factor ≥ 1 keeps h admissible
        (s"$i,$j", s"${i + di},${j + dj}", w, lon1, lat1, lon2, lat2)
      })
      val both = edges ++ edges.map(e => (e._2, e._1, e._3, e._6, e._7, e._4, e._5))
      import TestSpark.spark.implicits._
      val eDf = both.toDF("_u", "_v", "_length", "lon1", "lat1", "lon2", "lat2")
        .select(col("_u"), col("_v"), col("_length"))
      val nDf = pts.toSeq.map { case ((i, j), (lon, lat)) =>
        (s"$i,$j", lon, lat)
      }.toDF("_n", "lon", "lat")
        .select(col("_n"), struct(lit("Point").as("type"),
          array(col("lon"), col("lat")).as("coordinates")).as("geom"))
      val rg = new PropertyGraph(nDf, eDf)
      for (_ <- 1 to 5) {
        val a = s"${rnd.nextInt(n)},${rnd.nextInt(n)}"
        val b = s"${rnd.nextInt(n)},${rnd.nextInt(n)}"
        val d = Route.shortestPathLocal(rg, a, b, "_length")
        val s = Route.shortestPathAStar(rg, a, b)
        assert(d.isDefined == s.isDefined, s"reachability mismatch $a -> $b")
        assert(math.abs(d.map(_._2).getOrElse(-1.0) - s.map(_._2).getOrElse(-1.0)) < 1e-9,
          s"A* vs Dijkstra cost mismatch $a -> $b")
      }
    }
  }

  test("equal-cost alternates on a grid resolve to the pinned paths") {
    // 4x4 grid, every edge both ways at 100 m (above the ~55 m great-circle
    // hop, so the A* heuristic stays admissible): all 20 monotone
    // corner-to-corner routes cost 600, and the search's tie order picks one
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions._
    val n = 4
    def id(i: Int, j: Int) = s"$i,$j"
    val nDf = (for (i <- 0 until n; j <- 0 until n)
      yield (id(i, j), -122.31 + i * 5e-4, 47.65 + j * 5e-4)).toDF("_n", "lon", "lat")
      .select(col("_n"), struct(lit("Point").as("type"),
        array(col("lon"), col("lat")).as("coordinates")).as("geom"))
    val eDf = (for {
      i <- 0 until n; j <- 0 until n
      (di, dj) <- Seq((1, 0), (0, 1)) if i + di < n && j + dj < n
      (a, b) <- Seq((id(i, j), id(i + di, j + dj)), (id(i + di, j + dj), id(i, j)))
    } yield (a, b, 100.0)).toDF("_u", "_v", "_length")
    val grid = new PropertyGraph(nDf, eDf)
    val found = for ((u, v) <- Seq(("0,0", "3,3"), ("3,0", "0,3"))) yield
      (Route.shortestPath(grid, u, v, "_length"), Route.shortestPathAStar(grid, u, v))
    // pinned: a search change that reorders ties changes these user-visible routes
    assert(found == Seq(
      (Some((Seq("0,0", "1,0", "1,1", "1,2", "2,2", "3,2", "3,3"), 600.0)),
        Some((Seq("0,0", "0,1", "0,2", "1,2", "2,2", "2,3", "3,3"), 600.0))),
      (Some((Seq("3,0", "2,0", "2,1", "2,2", "1,2", "0,2", "0,3"), 600.0)),
        Some((Seq("3,0", "3,1", "3,2", "2,2", "1,2", "1,3", "0,3"), 600.0)))), found)
  }

  test("gated searches equal the distributed paths on random digraphs " +
    "(zero and null weights, parallel edges, self-loops, unreachable nodes)") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(20261019)
    // half-metre weights keep every path sum exact, so costs compare with ==
    def weight(): Option[Double] =
      if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(7) * 0.5)
    for (round <- 1 to 6) {
      // node n-1 touches no edge: unreachable from everywhere
      val n = 5 + rnd.nextInt(4)
      def node() = rnd.nextInt(n - 1).toString
      val random = Seq.fill(2 * n)((node(), node(), weight()))
      val edges = random ++ Seq(
        (random.head._1, random.head._2, weight()), // parallel to the first edge
        { val a = node(); (a, a, weight()) },       // self-loop
        (node(), node(), Some(0.0)),
        (node(), node(), None))
      val g = new PropertyGraph((0 until n).map(_.toString).toDF("_n"),
        edges.toDF("_u", "_v", "_length"))
      val hop = edges.collect { case (a, b, Some(w)) => (a, b) -> w }
        .groupBy(_._1).map { case (k, ws) => k -> ws.map(_._2).min }
      for (_ <- 1 to 2) {
        val (a, b) = (rnd.nextInt(n).toString, rnd.nextInt(n).toString)
        val local = Route.shortestPath(g, a, b, "_length")
        val pregel = Route.shortestPathPregel(g, a, b, "_length")
        assert(local.map(_._2) == pregel.map(_._2), s"round $round: $a -> $b")
        // `_n`-only nodes: the heuristic is 0 and A* is Dijkstra
        assert(Route.shortestPathAStar(g, a, b).map(_._2) == pregel.map(_._2),
          s"round $round: A* $a -> $b")
        local.foreach { case (path, cost) =>
          assert(path.head == a && path.last == b, path)
          assert(path.sliding(2).filter(_.size == 2)
            .map(p => hop((p(0), p(1)))).sum == cost, path)
        }
      }
      val lms = Seq(rnd.nextInt(n), rnd.nextInt(n)).map(_.toString)
      def lmRows(maxLocal: Long) =
        Route.landmarkDistances(spark, g, lms, "_length", maxLocal).collect()
          .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).sorted.toSeq
      assert(lmRows(Route.LocalPathMaxEdges) == lmRows(-1), s"round $round: $lms")
      val uvw = g.edges.select(col("_u").cast("long").as("u"),
        col("_v").cast("long").as("v"), col("_length").as("w"))
      val (src, cutoff) = (rnd.nextInt(n).toLong, 0.5 + rnd.nextInt(6) * 0.5)
      def iso(maxLocal: Long) = Isochrone.isochrone(spark, uvw, src, cutoff, maxLocal)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val gated = iso(Route.LocalPathMaxEdges)
      assert(gated == gated.sortBy(_._1), "gated isochrone is sorted by node")
      assert(gated == iso(0).sorted, s"round $round: isochrone($src, $cutoff)")
    }
  }

  test("A* past the local-edge gate delegates to Pregel with an optimal route") {
    // lower the gate below the fixture's edge count: the call must take the
    // distributed path (no driver collect of edges/coords) and still return
    // an OPTIMAL route. Asserted as cost equality plus path validity
    // (right endpoints, every hop is a real edge, hop weights sum to the
    // reported cost) — NOT node-sequence equality, which would be fragile
    // under equal-cost alternates where the two algorithms may tie-break
    // differently.
    assert(g.size() > 1)
    val gated = Route.shortestPathAStar(g, leafWest, Fixture.TestNode1,
      maxLocalEdges = 1)
    val local = Route.shortestPathLocal(g, leafWest, Fixture.TestNode1, "_length")
    assert(gated.isDefined && local.isDefined)
    assert(math.abs(gated.get._2 - local.get._2) < 1e-9)
    val path = gated.get._1
    assert(path.head == leafWest && path.last == Fixture.TestNode1)
    val w = g.edges.select("_u", "_v", "_length").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val hops = path.sliding(2).map { case Seq(a, b) =>
      w.getOrElse((a, b), fail(s"path hop $a -> $b is not an edge"))
    }.toSeq
    assert(math.abs(hops.sum - gated.get._2) < 1e-9,
      s"hop weights ${hops.sum} != reported cost ${gated.get._2}")
  }

  test("multi-landmark distances agree with point-to-point Dijkstra") {
    val landmarks = Seq(leafWest, Fixture.TestNode1)
    val dists = Route.landmarkDistances(spark, g, landmarks, "_length",
        maxLocalEdges = -1)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // distance leafWest -> TestNode1 equals the dedicated query
    val Some((_, cost)) = Route.shortestPathPregel(g, leafWest, Fixture.TestNode1, "_length")
    assert(math.abs(dists((Fixture.TestNode1, leafWest)) - cost) < 1e-9)
    // landmarks are at distance 0 of themselves
    assert(dists((leafWest, leafWest)) == 0.0)
    // symmetric graph: both directions agree
    assert(math.abs(dists((Fixture.TestNode1, leafWest)) - dists((leafWest, Fixture.TestNode1))) < 1e-9)
    // every node reaches both landmarks (connected star)
    assert(dists.size == 5 * 2)
    val close = Route.closeness(spark, g, landmarks, "_length",
      maxLocalEdges = -1).collect()
    assert(close.nonEmpty && close.forall(_.getDouble(1) > 0))
  }

  test("gated landmarkDistances equals the Pregel pass row-for-row") {
    val landmarks = Seq(leafWest, Fixture.TestNode1)
    def rows(maxLocal: Long) =
      Route.landmarkDistances(spark, g, landmarks, "_length", maxLocal)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val local = rows(Long.MaxValue)  // gate on: driver Dijkstra per landmark
    val pregel = rows(-1)            // gate off: distributed pass
    assert(local.keySet == pregel.keySet)
    local.foreach { case (k, d) =>
      assert(math.abs(d - pregel(k)) < 1e-12, s"$k: $d vs ${pregel(k)}")
    }
  }

  test("gated betweenness equals the distributed batched-Brandes scores") {
    val all = g.nodes.select("_n").collect().map(_.getString(0)).toSeq
    def scores(maxLocal: Long) =
      Route.betweenness(spark, g, all, "_length", maxLocalEdges = maxLocal)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val gated = scores(Long.MaxValue)
    val dist = scores(-1)
    assert(gated.keySet == dist.keySet)
    gated.foreach { case (n, v) =>
      assert(math.abs(v - dist(n)) < 1e-9, s"$n: $v vs ${dist(n)}")
    }
  }

  test("betweenness: distributed fixpoint equals exact local Brandes on the fixture") {
    val all = g.nodes.select("_n").collect().map(_.getString(0)).toSeq
    // maxLocalEdges = -1 forces the batched distributed path — the gated
    // default would dispatch this fixture-sized graph to the local kernel
    // and the comparison would be local-vs-local
    val dist = Route.betweenness(spark, g, all, "_length", maxLocalEdges = -1).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val local = Route.betweennessLocal(g, "_length")
    assert(dist.keySet == local.keySet)
    all.foreach { n =>
      assert(math.abs(dist(n) - local(n)) < 1e-9, s"$n: ${dist(n)} vs ${local(n)}")
    }
    // star: every leaf-to-leaf shortest path crosses the hub, so the hub
    // strictly dominates
    val hub = dist(Fixture.TestNode2)
    assert(hub > 0)
    assert(dist.filterNot(_._1 == Fixture.TestNode2).values.forall(_ < hub))
  }

  test("distributed betweenness tags each fixpoint round's job and restores " +
    "the caller's job description") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    val all = g.nodes.select("_n").collect().map(_.getString(0)).toSeq
    sc.addSparkListener(listener)
    sc.setJobDescription("caller")
    try {
      Route.betweenness(spark, g, all, "_length", maxLocalEdges = -1).collect()
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      val deadline = System.nanoTime() + 10e9.toLong
      def tags = seen.toArray.map(_.toString).toSet
      while (!tags.contains("brandes/p2/round=1") && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(tags.contains("brandes/p1/round=1") && tags.contains("brandes/p2/round=1"),
        tags)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("landmark-sampled betweenness surfaces the barbell bridge") {
    import TestSpark.spark.implicits._
    // two complete 5-cliques joined a0 — x — b0: all cross-cluster traffic
    // flows through {a0, x, b0}
    val left = (0 until 5).map(i => s"a$i")
    val right = (0 until 5).map(i => s"b$i")
    val intra = for {
      side <- Seq(left, right); i <- side.indices; j <- side.indices if i != j
    } yield (side(i), side(j), 1.0)
    val bridge = Seq(("a0", "x", 1.0), ("x", "a0", 1.0),
      ("b0", "x", 1.0), ("x", "b0", 1.0))
    val bg = new PropertyGraph(
      (left ++ right :+ "x").toDF("_n"),
      (intra ++ bridge).toDF("_u", "_v", "_length"))
    // a 4-of-11 landmark sample (two per side) must already separate the
    // bottleneck trio from the clique interiors
    val sampled = Route.betweenness(spark, bg, Seq("a1", "a2", "b1", "b2"), "_length",
        maxLocalEdges = -1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(sampled.size == 11)
    val bottleneck = Set("a0", "x", "b0")
    val minBottleneck = bottleneck.map(sampled).min
    val maxOther = sampled.filterNot(kv => bottleneck(kv._1)).values.max
    assert(minBottleneck > maxOther,
      s"bridge trio should dominate: $sampled")
    // the sampled ranking agrees with the exact local measure's verdict
    val exact = Route.betweennessLocal(bg, "_length")
    assert(bottleneck.map(exact).min > exact.filterNot(kv => bottleneck(kv._1)).values.max)
  }

  test("pageRank: hub outranks leaves") {
    val ranks = Route.pageRank(spark, g).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ranks.size == 5)
    val hub = ranks(Fixture.TestNode2)
    assert(ranks.filterNot(_._1 == Fixture.TestNode2).values.forall(_ < hub))
  }
}
