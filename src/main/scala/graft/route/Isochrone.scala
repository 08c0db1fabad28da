package graft.route

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Isochrone / walkshed: every node within network cost `cutoff` of a
  * source, with its exact shortest network distance — the reference's
  * home use case (ref `README.md:60-74`: entwiner exists to answer
  * "what can this pedestrian reach?" over sidewalk graphs; the cutoff
  * variant of its cost-function routing).
  *
  * Same two-path dispatch as [[Route.shortestPath]]:
  *
  *  - Below the gate, the driver search kernel ([[Route.search]]) with
  *    the cutoff, on a [[GraphIndex]] built from the collected rows — the
  *    frontier never leaves the walkshed, so search cost is proportional
  *    to the reachable subgraph, not the whole graph.
  *  - Above it, min-plus [[Frontier.relax]] over the symmetric edge
  *    relation, dropping candidates beyond the cutoff map-side, before the
  *    min aggregate's shuffle. With positive weights the round count is
  *    bounded by cutoff / min(weight).
  *
  * At 100 TB the isochrone is frontier-local by nature — the cutoff
  * bounds the touched subgraph regardless of graph size, which is what
  * makes walkshed queries cheap on planetary graphs when the edge
  * relation is partitioned by source node.
  */
object Isochrone {

  /** Nodes within `cutoff` of `source` over the undirected weighted
    * edges (u, v, w ≥ 0); a row with a null `w` is no edge. Returns
    * (node, dist) including the source at distance 0.
    */
  def isochrone(spark: SparkSession, edges: DataFrame, source: Long,
      cutoff: Double, maxLocalEdges: Long = Route.LocalPathMaxEdges,
      maxRounds: Int = 512): DataFrame = {
    import spark.implicits._
    val canon = edges.select(col("u").cast("long"), col("v").cast("long"),
      col("w").cast("double")).filter(col("u") =!= col("v"))
    if (Route.fitsLocally(canon, maxLocalEdges)) {
      // a throwaway index (the input is a DataFrame, so nothing to cache
      // it on): both directions of each edge, newest edge first per node;
      // the source is its one node-table node, so it has an id even with
      // no edge
      val rows = canon.filter(col("w").isNotNull).as[(Long, Long, Double)].collect().reverse
      val ix = GraphIndex(Array(source), Array(Double.NaN), Array(Double.NaN),
        rows.flatMap(r => Array(r._1, r._2)), rows.flatMap(r => Array(r._2, r._1)),
        rows.flatMap(r => Array(r._3, r._3)))
      val s = Route.search(ix, ix.id(source), cutoff = cutoff)
      return s.order.map(n => (ix.ids(n), s.dist(n))).sortBy(_._1).toSeq
        .toDF("node", "dist")
    }
    isochroneDistributed(spark, canon, source, cutoff, maxRounds)
  }

  /** Bounded frontier relaxation (see object doc). */
  private def isochroneDistributed(spark: SparkSession, canon: DataFrame,
      source: Long, cutoff: Double, maxRounds: Int): DataFrame = {
    import spark.implicits._
    val sym = canon.select(col("u").as("a"), col("v").as("b"), col("w"))
      .union(canon.select(col("v").as("a"), col("u").as("b"), col("w")))
      .localCheckpoint()
    val r = Frontier.relax(Seq((source, 0.0)).toDF("node", "dist"), maxRounds,
        minimize = true) { frontier =>
      frontier.join(sym, frontier("node") === sym("a"))
        .select(col("b").as("node"), (col("dist") + col("w")).as("dist"))
        .filter(col("dist") <= cutoff) // map-side cutoff prune
    }
    Frontier.release(sym)
    require(r.converged, s"isochrone: no convergence in $maxRounds rounds " +
      "(zero-weight cycle?)")
    r.best
  }
}
