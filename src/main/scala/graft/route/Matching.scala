package graft.route

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Greedy maximal matching over a weighted undirected edge relation (ref
  * `README.md:66-68` "graph algorithms ... via the networkx protocol";
  * nx exposes `maximal_matching` / `min_weight_matching`). The greedy
  * matching under a fixed edge order is a ½-approximation of maximum
  * matching and a 2-approximation vertex cover generator — the classic
  * road-network uses (sensor placement, street-segment pairing).
  *
  * Edge comparisons use the STRICT TOTAL ORDER (w, u, v), so the greedy
  * matching is UNIQUE — and the parallel algorithm below provably equals
  * the sequential greedy scan:
  *
  *  - Below the gate: literally that scan — sort collected edges by
  *    (w, u, v), take each edge whose endpoints are both free.
  *  - Above it: parallel LOCAL-MINIMUM rounds. Each round, every vertex
  *    nominates its minimum incident edge; an edge BOTH of whose
  *    endpoints nominated it is a local minimum — no earlier-ordered
  *    edge can conflict with it now or later, so sequential greedy would
  *    take it too. Matched endpoints retire, their remaining edges drop,
  *    repeat. Every round the globally-minimum surviving edge is a local
  *    minimum, so progress is guaranteed; with random-ish weights the
  *    expected round count is O(log E) (Israeli–Itai style analysis).
  *
  * Distributed cost shape per round: one per-endpoint min aggregation
  * (map-side combinable struct min — two rows per edge), one self-join
  * back on the nominated edge, two anti-joins to retire endpoints. All
  * keyed on node ids; state is one row per live edge, shrinking
  * geometrically. Extended44Spec and GraphOpsPropertySpec pin local ==
  * distributed on fixtures and the supernode graphs.
  */
object Matching {

  /** Greedy maximal matching of `edges` — columns (u: long, v: long,
    * w: double), undirected, one row per pair (duplicate (u, v) rows are
    * collapsed to their min weight; self loops ignored). Returns the
    * matched edges as (u, v, w).
    */
  def greedyMatching(spark: SparkSession, edges: DataFrame,
      maxLocalEdges: Long = Route.LocalPathMaxEdges,
      maxRounds: Int = 64): DataFrame = {
    import spark.implicits._
    val canon = edges.select(
        least(col("u").cast("long"), col("v").cast("long")).as("u"),
        greatest(col("u").cast("long"), col("v").cast("long")).as("v"),
        col("w").cast("double").as("w"))
      .filter(col("u") =!= col("v"))
      .groupBy("u", "v").agg(min("w").as("w"))
    if (Route.fitsLocally(canon, maxLocalEdges)) {
      val es = canon.as[(Long, Long, Double)].collect()
      return greedyLocal(es).toSeq.toDF("u", "v", "w")
    }
    matchingDistributed(spark, canon, maxRounds)
  }

  /** The sequential greedy scan over (w, u, v) — the definition. */
  private[graft] def greedyLocal(
      edges: Array[(Long, Long, Double)]): Array[(Long, Long, Double)] = {
    val used = mutable.Set.empty[Long]
    val out = mutable.ArrayBuffer.empty[(Long, Long, Double)]
    edges.sortBy { case (u, v, w) => (w, u, v) }.foreach { case (u, v, w) =>
      if (!used(u) && !used(v)) { used += u; used += v; out += ((u, v, w)) }
    }
    out.toArray
  }

  /** Parallel local-minimum rounds (see object doc). The round budget
    * scales with the live edge count: expected rounds are O(log E)
    * (Israeli–Itai), but adversarial inputs (e.g. a path with
    * monotonically increasing weights) match only one edge per round —
    * the log-scaled headroom keeps realistic inputs converging while the
    * abort on truly sequential inputs stays loud, not a hang.
    */
  private def matchingDistributed(spark: SparkSession, canon: DataFrame,
      maxRounds: Int): DataFrame = {
    import spark.implicits._
    var active = canon.localCheckpoint()
    val e0 = active.count()
    val roundBudget = math.max(maxRounds,
      16 * (64 - java.lang.Long.numberOfLeadingZeros(e0 + 1)))
    var out: DataFrame = Seq.empty[(Long, Long, Double)].toDF("u", "v", "w")
    var round = 0
    while (round < roundBudget && !active.isEmpty) {
      val s = struct(col("w"), col("u"), col("v"))
      val nom = active.select(col("u").as("node"), s.as("e"))
        .union(active.select(col("v").as("node"), s.as("e")))
        .groupBy("node").agg(min("e").as("m"))
      val matched = active
        .join(nom.select(col("node").as("u"), col("m").as("mu")), "u")
        .join(nom.select(col("node").as("v"), col("m").as("mv")), "v")
        .filter(s === col("mu") && s === col("mv"))
        .select(col("u"), col("v"), col("w"))
        .localCheckpoint()
      out = out.union(matched).localCheckpoint()
      val retired = matched.select(col("u").as("node"))
        .union(matched.select(col("v")))
      active = active
        .join(retired.select(col("node").as("u")), Seq("u"), "left_anti")
        .join(retired.select(col("node").as("v")), Seq("v"), "left_anti")
        .select(col("u"), col("v"), col("w"))
        .localCheckpoint()
      round += 1
    }
    require(active.isEmpty,
      s"greedyMatching: did not converge in $roundBudget rounds " +
        s"($e0 initial edges) — near-sequential weight order; raise maxRounds")
    out
  }
}
