package graft.route

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Longest path (critical path) per node on a DAG whose edges all ascend
  * (u < v) — the invariant the supernode contraction guarantees, which
  * makes longest-path well-defined with no cycle check.
  *
  * Same two-path dispatch as [[Mst]] / [[Bridges]]:
  *
  *  - Below the gate, one ascending sweep over the collected edges: with
  *    every edge ascending, processing edges in increasing `u` order sees
  *    each node's final distance before any of its out-edges — exact in
  *    O(E log E) (the sort) with zero iteration.
  *  - Above it, max-plus [[Frontier.relax]] with every node seeded at 0:
  *    `depth` rounds, each one join on the edge key + one max aggregate.
  *
  * At 100 TB the intended pattern is the one the registry query shows:
  * contract the raw graph to supernodes first, THEN take paths — the
  * interactive graph rides the gate, the contraction output rides the
  * frontier loop with depth ∝ contracted diameter.
  */
object DagPath {

  /** Longest in-path length per node of the ascending DAG `edges`
    * ((u, v) long columns, u < v). Returns (node, dist).
    */
  def longestPath(spark: SparkSession, edges: DataFrame,
      maxLocalEdges: Long = Route.LocalPathMaxEdges,
      maxRounds: Int = 512): DataFrame = {
    import spark.implicits._
    val canon = edges.select(col("u").cast("long"), col("v").cast("long"))
      .filter(col("u") < col("v")).distinct()
    if (Route.fitsLocally(canon, maxLocalEdges)) {
      val es = canon.as[(Long, Long)].collect()
      return longestPathLocal(es).toSeq.toDF("node", "dist")
    }
    longestPathDistributed(canon, maxRounds)
  }

  /** One ascending sweep: u < v means dist(u) is final when its
    * out-edges are processed in increasing-u order.
    */
  private[graft] def longestPathLocal(
      edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val dist = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    edges.foreach { case (u, v) => dist(u) = dist(u); dist(v) = dist(v) }
    edges.sortBy(_._1).foreach { case (u, v) =>
      if (dist(u) + 1 > dist(v)) dist(v) = dist(u) + 1
    }
    dist.toArray.sortBy(_._1)
  }

  /** Frontier relaxation (see object doc). */
  private def longestPathDistributed(canon: DataFrame, maxRounds: Int): DataFrame = {
    val edges = canon.localCheckpoint()
    val nodes = edges.select(col("u").as("node"))
      .union(edges.select(col("v"))).distinct()
    val r = Frontier.relax(nodes.withColumn("dist", lit(0L)), maxRounds,
        minimize = false) { frontier =>
      frontier.join(edges, frontier("node") === edges("u"))
        .select(col("v").as("node"), (col("dist") + 1L).as("dist"))
    }
    Frontier.release(edges)
    require(r.converged, s"longestPath: DAG deeper than $maxRounds rounds")
    r.best
  }
}
