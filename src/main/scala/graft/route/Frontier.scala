package graft.route

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The one semi-naive relaxation loop of the distributed route fixpoints
  * ([[Isochrone]], [[DagPath]], the rooting BFS of [[Bridges]]): Pregelix's
  * superstep as dataflow over a vertex relation (`best`) and a message
  * relation (the candidates). A [[Relaxed]] result holds one (node, label)
  * row per reached node; its `rounds` include the last, which improved
  * nothing.
  */
private[graft] object Frontier {

  final case class Relaxed(best: DataFrame, converged: Boolean, rounds: Int)

  /** Relaxes from `seed` (`node` plus one label column) until a round
    * improves nothing or `maxRounds` rounds have run. Each round `expand`s
    * the frontier (the rows the last round improved) into candidates with
    * the seed's columns, keeps one min (`minimize`) or max label per node
    * (a map-side partial aggregate), and merges into `best` the labels
    * strictly better than the node's best or on a node with none. Both new
    * frames are checkpointed and the superseded round's released, so two
    * frames stay live however many rounds run.
    */
  def relax(seed: DataFrame, maxRounds: Int, minimize: Boolean)(
      expand: DataFrame => DataFrame): Relaxed = {
    val label = seed.columns(1)
    val (pick, beats): (Column => Column, (Column, Column) => Column) =
      if (minimize) (min(_), _ < _) else (max(_), _ > _)
    var best = seed.localCheckpoint()
    var frontier = best
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val improved = expand(frontier).groupBy("node").agg(pick(col(label)).as("_new"))
        .join(best.select(col("node"), col(label).as("_old")), Seq("node"), "left")
        .filter(col("_old").isNull || beats(col("_new"), col("_old")))
        .select(col("node"), col("_new").as(label))
        .localCheckpoint()
      rounds += 1
      if (improved.isEmpty) { converged = true; release(improved) }
      else {
        val merged = best
          .join(improved.select(col("node"), col(label).as("_new")), Seq("node"), "full_outer")
          .select(col("node"), coalesce(col("_new"), col(label)).as(label))
          .localCheckpoint()
        release(best)
        if (frontier ne best) release(frontier)
        best = merged
        frontier = improved
      }
    }
    if (frontier ne best) release(frontier)
    Relaxed(best, converged, rounds)
  }

  /** Drops a `localCheckpoint`ed frame's blocks, which its `unpersist`
    * leaves to the context cleaner (it uncaches only what `cache()` did).
    */
  def release(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
}
