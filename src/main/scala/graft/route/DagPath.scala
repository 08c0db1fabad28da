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
  *  - Above it, frontier Bellman relaxation: only nodes whose distance
  *    improved propagate next round; each round is one join on the edge
  *    key + one max partial agg, state one row per node, `depth` rounds
  *    total. The driver-side loop materializes two frames per round
  *    (frontier, best) and releases the previous round's cache, so a
  *    deep DAG does not accumulate executor memory.
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
    longestPathDistributed(spark, canon, maxRounds)
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
  private def longestPathDistributed(spark: SparkSession, canon: DataFrame,
      maxRounds: Int): DataFrame = {
    val edges = canon.localCheckpoint()
    val nodes = edges.select(col("u").as("node"))
      .union(edges.select(col("v"))).distinct()
    var best = nodes.withColumn("dist", lit(0L)).localCheckpoint()
    var frontier = best
    var rounds = 0
    var live = true
    while (rounds < maxRounds && live) {
      val cand = frontier.join(edges, frontier("node") === edges("u"))
        .select(col("v").as("node"), (col("dist") + 1L).as("nd"))
        .groupBy("node").agg(max("nd").as("nd"))
      val improved = cand.join(best, "node")
        .filter(col("nd") > col("dist"))
        .select(col("node"), col("nd").as("dist"))
        .localCheckpoint()
      if (improved.isEmpty) live = false
      else {
        val prev = best
        best = best.join(improved.select(col("node"), col("dist").as("nd")),
            Seq("node"), "left")
          .select(col("node"), coalesce(col("nd"), col("dist")).as("dist"))
          .localCheckpoint()
        prev.unpersist(blocking = false)
        frontier.unpersist(blocking = false)
        frontier = improved
      }
      rounds += 1
    }
    require(!live, s"longestPath: DAG deeper than $maxRounds rounds")
    best
  }
}
