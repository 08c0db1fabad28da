package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.PropertyGraph
import graft.spatial.Spatial
import graft.store.GraphPackage

/** Reference-parity behavioral suite over the 4-feature star fixture
  * (mirrors `tests/test_digraphdbview.py` and `tests/test_digraphdb.py`).
  */
class PropertyGraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val g: PropertyGraph =
    PropertyGraph.fromGeoJson(spark, Seq(Fixture.path)).toInMemory()

  test("ingest: 8 edges, 5 nodes (test_digraphdbview.py:5-6)") {
    assert(g.size() == 8)
    assert(g.order() == 5)
  }

  test("node ids match the reference's formatting (test_digraphdb.py:5-6)") {
    assert(g.hasNode(Fixture.TestNode1))
    assert(g.hasNode(Fixture.TestNode2))
    assert(!g.hasNode("0.0, 0.0"))
  }

  test("edge (n1, n2) exists with fid == 2 (test_digraphdbview.py:52-60)") {
    val e = g.getEdge(Fixture.TestNode1, Fixture.TestNode2).collect()
    assert(e.length == 1)
    val row = e.head
    assert(row.getAs[Long]("fid") == 2L)
    assert(row.getAs[String]("_layer") == "star")
  }

  test("successors/predecessors consistent on an undirected-by-reversal graph") {
    val succ = g.successorNodes(Some(Fixture.TestNode2)).collect().map(_.getString(0)).toSet
    val pred = g.predecessorNodes(Some(Fixture.TestNode2)).collect().map(_.getString(0)).toSet
    assert(succ == pred)  // every edge has its reverse
    assert(succ.size == 4) // hub connects to all four leaves
    assert(g.uniqueSuccessors(Fixture.TestNode2) == 4)
    assert(g.uniqueSuccessors(Fixture.TestNode1) == 1)
    assert(g.outDegrees.count() == 5)
  }

  test("size(weight) sums edge weights") {
    val total = g.size("_length")
    // forward+reverse double-counts: total = 2 * sum of feature lengths
    assert(total > 0)
    val fwd = g.edges.filter(col("fid") % 2 === 1).agg(sum("_length")).head.getDouble(0)
    assert(math.abs(total - 2 * fwd) < 1e-6)
  }

  test("dwithin at node1 returns exactly 2 edges, nearest-first (test_digraphdbview.py:22-30)") {
    val res = Spatial.dwithin(g.edges, -122.3132940, 47.6598762, 0.1, sort = true).collect()
    assert(res.length == 2)
    val dists = res.map(_.getAs[Double]("_distance"))
    assert(dists.forall(_ < 0.1))
    assert(dists.sorted.sameElements(dists))
  }

  test("per-attribute mutation syncs one edge/node attr (edges.py:25-39, M4)") {
    val (u, v) = (Fixture.TestNode2, Fixture.TestNode1)
    // set on an existing column, only the targeted edge changes
    val g1 = g.setEdgeAttr(u, v, "_length", 99.5)
    assert(g1.getEdge(u, v).head.getAs[Double]("_length") == 99.5)
    assert(g1.edges.filter(col("_length") === 99.5).count() == 1)
    // new key auto-appears (the reference's auto-ALTER), null elsewhere
    val g2 = g1.setEdgeAttr(u, v, "surface", "asphalt")
    assert(g2.getEdge(u, v).head.getAs[String]("surface") == "asphalt")
    assert(g2.edges.filter(col("surface").isNull).count() == g2.size() - 1)
    // __delitem__ = NULL
    val g3 = g2.removeEdgeAttr(u, v, "surface")
    assert(g3.edges.filter(col("surface").isNotNull).isEmpty)
    // node form
    val g4 = g.setNodeAttr(u, "elevation", 12.25)
    assert(g4.getNode(u).head.getAs[Double]("elevation") == 12.25)
    assert(g4.nodes.filter(col("elevation").isNotNull).count() == 1)
    // immutable view refuses the per-attr writers too
    intercept[UnsupportedOperationException](g.view.setEdgeAttr(u, v, "x", 1))
    intercept[UnsupportedOperationException](g.view.setNodeAttr(u, "x", 1))
  }

  test("nodesDwithin mirrors the node-radius query (node_table.py:6-8)") {
    // only node1 itself sits within 0.1 m
    val self = g.nodesDwithin(-122.3132940, 47.6598762, 0.1, sort = true).collect()
    assert(self.length == 1)
    assert(self.head.getAs[String]("_n") == Fixture.TestNode1)
    assert(self.head.getAs[Double]("_distance") == 0.0)
    // the hub is ~67.6 m away, the next-nearest node ~70 m: radius 69
    // catches exactly {node1, hub}, nearest-first
    val near = g.nodesDwithin(-122.3132940, 47.6598762, 69.0, sort = true).collect()
    assert(near.map(_.getAs[String]("_n")).toSeq ==
      Seq(Fixture.TestNode1, Fixture.TestNode2))
    val dists = near.map(_.getAs[Double]("_distance"))
    assert(dists.sorted.sameElements(dists))
    // geometry comes back in Point shape
    assert(near.head.getAs[org.apache.spark.sql.Row]("geom").getAs[String]("type") == "Point")
  }

  test("intersects bbox returns the edges whose MBR overlaps") {
    val all = Spatial.intersects(g.edges, -123, 47, -122, 48).count()
    assert(all == 8)
    val none = Spatial.intersects(g.edges, 0, 0, 1, 1).count()
    assert(none == 0)
  }

  test("graph package save/load round-trip preserves the graph") {
    val dir = Files.createTempDirectory("graft-pkg").resolve("star.graft").toString
    GraphPackage.save(g, dir)
    val g2 = GraphPackage.load(spark, dir)
    assert(g2.size() == 8 && g2.order() == 5)
    assert(g2.edges.columns.contains(Spatial.BBoxCol))
    assert(g2.spatialEdges.isDefined)
    // spatial query works straight off the stored layout
    val res = g2.dwithin(-122.3132940, 47.6598762, 0.1).count()
    assert(res == 2)
    assert(Files.exists(java.nio.file.Paths.get(dir, "metadata.json")))
  }

  test("geometry-less edges survive save/load in the catch-all cell") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-nogeom").resolve("n.graft").toString
    // the reference's plain add_edges((u,v,attrs)) surface: no geometry
    val bare = spark.range(3).select(
      concat(lit("a"), col("id")).as("_u"),
      concat(lit("b"), col("id")).as("_v"),
      (col("id") * 10).as("weight"))
    val g2 = g.addEdges(bare)
    GraphPackage.save(g2, dir)
    val back = GraphPackage.load(spark, dir)
    assert(back.size() == 8 + 3, "no-geom edges must not vanish at save")
    assert(back.getEdge("a1", "b1").count() == 1)
    // and they never pollute spatial results
    assert(back.dwithin(-122.3132940, 47.6598762, 0.1).count() == 2)
  }

  test("saving twice to the same path is idempotent (test_rtree.py parity)") {
    val dir = Files.createTempDirectory("graft-twice").resolve("t.graft").toString
    GraphPackage.save(g, dir)
    GraphPackage.save(g, dir) // overwrite path: delete + atomic rename
    val g2 = GraphPackage.load(spark, dir)
    assert(g2.size() == 8 && g2.order() == 5)
    assert(g2.dwithin(-122.3132940, 47.6598762, 0.1).count() == 2)
  }

  test("custom cell size survives save/load and keeps pruning correct") {
    val dir = Files.createTempDirectory("graft-cell").resolve("c.graft").toString
    GraphPackage.save(g, dir, cellDeg = 0.5)
    val g2 = GraphPackage.load(spark, dir)
    assert(g2.cellDeg == 0.5)
    assert(g2.dwithin(-122.3132940, 47.6598762, 0.1).count() == 2)
    assert(g2.intersects(-123, 47, -122, 48).count() == 8)
  }

  test("addEdges upsert is last-wins on (_u,_v) (feature_table.py:601-613)") {
    import spark.implicits._
    val upd = Seq((Fixture.TestNode1, Fixture.TestNode2, 99.9))
      .toDF("_u", "_v", "weight")
    val g2 = g.addEdges(upd)
    assert(g2.size() == 8) // replaced, not appended
    val e = g2.getEdge(Fixture.TestNode1, Fixture.TestNode2).collect().head
    assert(e.getAs[Double]("weight") == 99.9)
    // untouched edge keeps its attrs, weight null
    val other = g2.getEdge(Fixture.TestNode2, Fixture.TestNode1).collect().head
    assert(other.getAs[Any]("weight") == null)
    assert(other.getAs[String]("_layer") == "star")
  }

  test("updateEdges mutates only matched keys (edge_table.py:39-57)") {
    import spark.implicits._
    val upd = Seq((Fixture.TestNode1, Fixture.TestNode2, "yes"))
      .toDF("_u", "_v", "touched")
    val g2 = g.updateEdges(upd)
    assert(g2.size() == 8)
    val hit = g2.getEdge(Fixture.TestNode1, Fixture.TestNode2).collect().head
    assert(hit.getAs[String]("touched") == "yes")
    val miss = g2.getEdge(Fixture.TestNode2, Fixture.TestNode1).collect().head
    assert(miss.getAs[Any]("touched") == null)
    // existing attrs survive
    assert(hit.getAs[Long]("fid") == 2L)
  }

  test("addEdges on a package-loaded graph keeps new edges spatially visible") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-add").resolve("a.graft").toString
    GraphPackage.save(g, dir)
    val loaded = GraphPackage.load(spark, dir)
    // new edge with geometry near the fixture hub
    val geom = Seq((
      "9.0, 9.0", "9.001, 9.0",
      ("LineString", Seq(Seq(9.0, 9.0), Seq(9.001, 9.0))))).toDF("_u", "_v", "geom")
      .withColumn("geom", struct(lit("LineString").as("type"),
        typedLit(Seq(Seq(9.0, 9.0), Seq(9.001, 9.0))).as("coordinates")))
    val g2 = loaded.addEdges(geom.select("_u", "_v", "geom"))
    assert(g2.size() == 9)
    // spatial query finds the new edge even though it was added post-load
    assert(g2.dwithin(9.0005, 9.0, 50.0).count() == 1)
    // and the old fixture query still works
    assert(g2.dwithin(-122.3132940, 47.6598762, 0.1).count() == 2)
  }

  test("updateEdges that moves a geometry refreshes spatial query results") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-upd-geom").resolve("u.graft").toString
    GraphPackage.save(g, dir)
    val loaded = GraphPackage.load(spark, dir)
    // move one edge's geometry far away; the loaded edges carry a stored
    // _bbox, which must not survive the update (it would keep the moved edge
    // visible at its OLD location and invisible at the new one)
    val upd = Seq((Fixture.TestNode1, Fixture.TestNode2)).toDF("_u", "_v")
      .withColumn("geom", struct(lit("LineString").as("type"),
        typedLit(Seq(Seq(9.0, 9.0), Seq(9.001, 9.0))).as("coordinates")))
    val g2 = loaded.updateEdges(upd)
    assert(g2.size() == 8)
    assert(g2.dwithin(9.0005, 9.0, 50.0).count() == 1) // found at new location
    // only the un-moved reverse edge remains at the hub
    assert(g2.dwithin(-122.3132940, 47.6598762, 0.1).count() == 1)
  }

  test("save over an existing package leaves no backup behind and survives a stale one") {
    val dir = Files.createTempDirectory("graft-bak").resolve("b.graft").toString
    GraphPackage.save(g, dir)
    // simulate a crash that left a stale backup from an earlier overwrite
    Files.createDirectories(Paths.get(dir + ".old"))
    GraphPackage.save(g, dir)
    assert(!Files.exists(Paths.get(dir + ".old")))
    assert(!Files.exists(Paths.get(dir + ".tmp")))
    assert(GraphPackage.load(spark, dir).size() == 8)
  }

  test("addEdges without geometry still creates endpoint nodes") {
    import spark.implicits._
    val g2 = g.addEdges(Seq(("newA", "newB", 1.0)).toDF("_u", "_v", "w"))
    assert(g2.hasNode("newA") && g2.hasNode("newB"))
    assert(g2.order() == 7)
  }

  test("updateEdges tolerates duplicate update keys without fanning out edges") {
    import spark.implicits._
    val upd = Seq(
      (Fixture.TestNode1, Fixture.TestNode2, 1.0),
      (Fixture.TestNode1, Fixture.TestNode2, 2.0)).toDF("_u", "_v", "w2")
    val g2 = g.updateEdges(upd)
    assert(g2.size() == 8)
    assert(g2.getEdge(Fixture.TestNode1, Fixture.TestNode2).count() == 1)
  }

  test("size(weight) handles missing columns, empty graphs, and integer weights") {
    import spark.implicits._
    assert(g.size("no_such_column") == 8.0) // falls back to edge count
    val intG = new PropertyGraph(
      Seq("a", "b").toDF("_n"),
      Seq(("a", "b", 3L)).toDF("_u", "_v", "iw"))
    assert(intG.size("iw") == 3.0)
    val emptyG = new PropertyGraph(
      Seq.empty[String].toDF("_n"),
      Seq.empty[(String, String, Double)].toDF("_u", "_v", "w"))
    assert(emptyG.size("w") == 0.0)
  }

  test("long edges spanning many cells survive pruning (grid duplication)") {
    // fixture edges are ~0.001° long; a 0.0002° grid makes each span ~5
    // cells, so center-cell keying would lose them from small queries
    val dir = Files.createTempDirectory("graft-long").resolve("l.graft").toString
    GraphPackage.save(g, dir, cellDeg = 0.0002)
    val g2 = GraphPackage.load(spark, dir)
    assert(g2.size() == 8) // logical count not inflated by duplication
    assert(g2.spatialEdges.get.count() > 8) // physical layout is duplicated
    assert(g2.dwithin(-122.3132940, 47.6598762, 0.1).count() == 2)
    // query box at the far end of an edge from its center
    assert(g2.intersects(-122.31445, 47.65988, -122.31443, 47.65990).count() >= 2)
  }

  test("two rows with one (_u,_v) both survive a save and load") {
    // two features between the same endpoints: ingest keeps both rows per
    // direction, and a load returns exactly the rows that were saved
    val (a, b) = ("[-122.30, 47.60]", "[-122.29, 47.61]")
    val feats = Seq(s"[$a, $b]", s"[$a, [-122.30, 47.61], $b]").zipWithIndex.map {
      case (cs, i) => s"""{"type": "Feature", "properties": {"k": $i},
        | "geometry": {"type": "LineString", "coordinates": $cs}}""".stripMargin
    }
    val tmp = Files.createTempDirectory("graft-twin")
    val in = tmp.resolve("twin.geojson")
    Files.writeString(in, s"""{"type": "FeatureCollection", "features": [${feats.mkString(",")}]}""")
    val g0 = PropertyGraph.fromGeoJson(spark, Seq(in.toString))
    assert(g0.size() == 4)
    val dir = tmp.resolve("twin.graft").toString
    GraphPackage.save(g0, dir, cellDeg = 0.005)
    val g2 = GraphPackage.load(spark, dir)
    assert(g2.size() == g0.size())
    val (u, v) = ("-122.3, 47.6", "-122.29, 47.61")
    assert(g2.getEdge(u, v).select("k").collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L))
  }

  test("view refuses writes at the API level (M5)") {
    import spark.implicits._
    val v = g.view
    assert(v.size() == 8)
    intercept[UnsupportedOperationException] {
      v.addEdges(Seq(("a", "b", 1.0)).toDF("_u", "_v", "w"))
    }
  }
}
