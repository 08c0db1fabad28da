package graft.route

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimum spanning forest over a weighted undirected edge relation —
  * the classic "build the cheapest connected road network" question over
  * the reference's graph model (ref `README.md:66-68` "graph algorithms
  * ... via the networkx protocol"; nx exposes
  * `minimum_spanning_tree/forest`).
  *
  * Edge comparisons use the STRICT TOTAL ORDER (w, u, v) — equivalent to
  * perturbing every weight infinitesimally by its (u, v) rank — so the
  * forest is unique even with duplicate weights and every correct
  * algorithm (local Kruskal, distributed Borůvka, the oracle's Prim)
  * returns the identical edge set.
  *
  * Same two-path dispatch as [[Route.shortestPath]]/[[Components.scc]]:
  * below the gate one driver-side Kruskal over the collected edges is
  * exact and free; above it runs distributed Borůvka — O(log V) rounds,
  * each one join + per-component min-edge aggregation (map-side partial,
  * no skew: every component emits exactly one candidate) + a GraphX
  * connected-components contraction of the chosen edges. Component count
  * at least halves per round, so the contracted graph shrinks
  * geometrically; at 100 TB the dominant cost is the first round's
  * edge-relation shuffle, every later round touches only the surviving
  * cross-component edges.
  */
object Mst {

  /** Minimum spanning forest of `edges` — columns (u: long, v: long,
    * w: double), each undirected edge listed once ((u, v) unique; self
    * loops ignored). Returns the chosen edges as (u, v, w); fails when
    * Borůvka has not converged within `maxRounds` rounds.
    */
  def minimumSpanningForest(spark: SparkSession, edges: DataFrame,
      maxLocalEdges: Long = Route.LocalPathMaxEdges,
      maxRounds: Int = 64): DataFrame = {
    import spark.implicits._
    val base = edges.select(col("u").cast("long"), col("v").cast("long"),
      col("w").cast("double")).filter(col("u") =!= col("v"))
    if (Route.fitsLocally(base, maxLocalEdges)) {
      val es = base.as[(Long, Long, Double)].collect()
      return kruskalLocal(es).toSeq.toDF("u", "v", "w")
    }
    boruvka(spark, base, maxRounds)
  }

  /** Exact Kruskal with union-find over the (w, u, v) total order. */
  private[graft] def kruskalLocal(
      edges: Array[(Long, Long, Double)]): Array[(Long, Long, Double)] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val out = mutable.ArrayBuffer.empty[(Long, Long, Double)]
    edges.sortBy { case (u, v, w) => (w, u, v) }.foreach { case (u, v, w) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) { parent(math.max(ru, rv)) = math.min(ru, rv); out += ((u, v, w)) }
    }
    out.toArray
  }

  /** Distributed Borůvka: per round, every component selects its minimum
    * incident cross-component edge under (w, u, v), the chosen edges join
    * the forest, and components merge along them.
    */
  private def boruvka(spark: SparkSession, base: DataFrame,
      maxRounds: Int): DataFrame = {
    import spark.implicits._
    // (u, v, w) with u/v relabeled to current component ids each round
    var comp: DataFrame = base.select(col("u").as("node"))
      .union(base.select(col("v")))
      .distinct().withColumn("c", col("node")).localCheckpoint()
    var forest: DataFrame = Seq.empty[(Long, Long, Double)].toDF("u", "v", "w")
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      val cu = comp.select(col("node").as("u"), col("c").as("cu"))
      val cv = comp.select(col("node").as("v"), col("c").as("cv"))
      val crossing = base.join(cu, "u").join(cv, "v")
        .filter(col("cu") =!= col("cv"))
        .select(col("u"), col("v"), col("w"), col("cu"), col("cv"))
        .localCheckpoint()
      if (crossing.isEmpty) { done = true }
      else {
        // every component nominates its min incident edge — the min is a
        // map-side-combinable agg of one struct per component
        val nominee = struct(col("w"), col("u"), col("v"), col("cu"), col("cv"))
        val chosen = crossing.select(col("cu").as("c"), nominee.as("e"))
          .union(crossing.select(col("cv").as("c"), nominee.as("e")))
          .groupBy("c").agg(min(col("e")).as("e"))
          .select(col("e.w"), col("e.u"), col("e.v"), col("e.cu"), col("e.cv"))
          .distinct() // both endpoints may nominate the same edge
          .localCheckpoint()
        forest = forest.union(chosen.select(col("u"), col("v"), col("w")))
          .localCheckpoint()
        // contract along the chosen component pairs (a graph on component
        // ids, at most one edge per component -> GraphX CC relabels every
        // merge tree to its min member)
        val merged = graft.graph.FastCC.labels(
          chosen.select(col("cu"), col("cv")), "c", "newc")
        comp = comp.join(merged, Seq("c"), "left")
          .select(col("node"), coalesce(col("newc"), col("c")).as("c"))
          .localCheckpoint()
      }
      round += 1
    }
    require(done, s"minimumSpanningForest: no convergence in $maxRounds rounds")
    forest
  }
}
