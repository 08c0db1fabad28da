package graft.route

import org.apache.spark.graphx.{Edge => GXEdge, Graph => GXGraph}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Strongly connected components over a (u, v) long-keyed edge relation —
  * the remaining classic graph fixpoint next to the Route centralities
  * (ref `README.md:66-68` "graph algorithms ... via the networkx
  * protocol"; nx exposes `strongly_connected_components`).
  *
  * Same two-path dispatch as [[Route.shortestPath]]: GraphX
  * `stronglyConnectedComponents` is the scale path (min-label propagation,
  * converges in O(longest cycle) supersteps), but its per-superstep
  * scheduling overhead dwarfs the work on interactive-sized graphs, where
  * one driver-side iterative Tarjan pass over the collected edge list is
  * exact and effectively free. Both paths label every component by its
  * smallest member id, so results are identical (ComponentsSpec pins
  * local == GraphX with the gate forced off).
  */
object Components {

  /** SCC labels for `nodes` (single long column) under `edges` (u, v long
    * columns). Returns (node, scc_id) with scc_id = min node id in the
    * component. Edges mentioning ids outside `nodes` must be pre-filtered
    * by the caller (GraphX would auto-create such vertices; Tarjan would
    * not — requiring the filter keeps the two paths agreeing).
    */
  def scc(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
      maxLocalEdges: Long = Route.LocalPathMaxEdges,
      numIter: Int = 64): DataFrame = {
    import spark.implicits._
    if (Route.fitsLocally(edges, maxLocalEdges)) {
      val ns = nodes.as[Long].collect()
      val es = edges.as[(Long, Long)].collect()
      return sccLocal(ns, es).toSeq.toDF("node", "scc_id")
    }
    val vr = nodes.as[Long].rdd.map(u => (u, 0))
    val er = edges.as[(Long, Long)].rdd
      .map { case (u, v) => GXEdge(u, v, 0) }
    val g = GXGraph(vr, er, 0)
    val sccG = g.stronglyConnectedComponents(numIter)
    // materialize labels, then release both cached GraphX graphs (the SCC
    // result graph is cached too — leaving it was a per-call leak)
    val out = sccG.vertices.toDF("node", "scc_id").localCheckpoint()
    sccG.unpersist(blocking = false)
    g.unpersist(blocking = false)
    out
  }

  /** Iterative (explicit-stack) Tarjan — recursion-free so the gate's
    * ceiling (200k edges) cannot overflow the JVM stack on a long path.
    * Components are labeled by their minimum member id, matching GraphX.
    */
  def sccLocal(nodes: Array[Long], edges: Array[(Long, Long)]): Map[Long, Long] = {
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.length
    val adj = Array.fill(n)(List.empty[Int])
    edges.foreach { case (u, v) =>
      (idx.get(u), idx.get(v)) match {
        case (Some(i), Some(j)) => adj(i) ::= j
        case _ => throw new IllegalArgumentException(
          s"edge ($u,$v) references a node outside the node set")
      }
    }
    val index = Array.fill(n)(-1)
    val lowlink = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val stack = scala.collection.mutable.ArrayDeque.empty[Int]
    val label = new Array[Long](n)
    var counter = 0
    // work stack frames: (vertex, remaining successors)
    val work = scala.collection.mutable.ArrayDeque.empty[(Int, List[Int])]
    for (root <- 0 until n if index(root) == -1) {
      work.prepend((root, adj(root)))
      index(root) = counter; lowlink(root) = counter; counter += 1
      stack.prepend(root); onStack(root) = true
      while (work.nonEmpty) {
        val (v, succs) = work.removeHead()
        succs match {
          case w :: rest =>
            work.prepend((v, rest))
            if (index(w) == -1) {
              index(w) = counter; lowlink(w) = counter; counter += 1
              stack.prepend(w); onStack(w) = true
              work.prepend((w, adj(w)))
            } else if (onStack(w)) {
              lowlink(v) = math.min(lowlink(v), index(w))
            }
          case Nil =>
            if (lowlink(v) == index(v)) {
              // pop the component, label with its min node id
              val members = scala.collection.mutable.ListBuffer.empty[Int]
              var w = -1
              while (w != v) {
                w = stack.removeHead(); onStack(w) = false; members += w
              }
              val lbl = members.iterator.map(nodes).min
              members.foreach(m => label(m) = lbl)
            }
            // propagate lowlink to the parent frame, if any
            work.headOption.foreach { case (p, _) =>
              lowlink(p) = math.min(lowlink(p), lowlink(v))
            }
        }
      }
    }
    nodes.indices.iterator.map(i => nodes(i) -> label(i)).toMap
  }

  /** k-core: the maximal subgraph in which every node has (undirected)
    * degree ≥ k; returns the surviving node set as a one-column (`node`)
    * relation. `edges` is read as undirected pairs — it is symmetrized and
    * parallel edges / self-loops are collapsed before peeling, so directed
    * and undirected inputs give the same core.
    *
    * Classic iterative peeling, each round fully distributed: degree =
    * one aggregation over the current edge set; nodes below k are removed
    * with two left_anti joins (never a collect — the removal set can be
    * huge on the first round of a 100 TB graph). Each round's frontier is
    * `cache()`d so the degree action and the next round read it once; a
    * superseded frontier is unpersisted as soon as its successor is
    * materialized, so live storage is ≤ 2 frontiers. The FINAL frontier
    * stays cached (the returned plan reads it): like the j12 recursion
    * cache, Spark's CacheManager dedups by canonical plan, so repeated
    * invocations over the same input reuse the same entry rather than
    * accumulate, and the bench's per-query `clearCache()` bounds its
    * lifetime. Rounds needed = peel depth (≤ max core number + 1), each
    * one shuffle wide; the plan grows one anti-join pair per round, so
    * `maxIters` also caps analysis cost.
    */
  def kCore(spark: SparkSession, edges: DataFrame, k: Int,
      maxIters: Int = 500): DataFrame = {
    import org.apache.spark.sql.functions._
    require(k >= 1, s"k must be >= 1, got $k")
    val pair = edges.toDF("a", "b").filter(col("a") =!= col("b"))
    var cur = pair
      .union(pair.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .cache()
    var prev: DataFrame = null
    var it = 0
    while (it < maxIters) {
      val bad = cur.groupBy("a").agg(count(lit(1)).as("_deg"))
        .filter(col("_deg") < k).select(col("a").as("_bad"))
      val converged = bad.isEmpty // forces cur's cache
      if (prev != null) { prev.unpersist(blocking = false); prev = null }
      if (converged) return cur.select(col("a").as("node")).distinct()
      val next = cur
        .join(bad, col("a") === col("_bad"), "left_anti")
        .join(bad, col("b") === col("_bad"), "left_anti")
        .cache()
      prev = cur
      cur = next
      it += 1
    }
    throw new IllegalStateException(
      s"kCore failed to converge in $maxIters rounds (k=$k)")
  }

  /** Per-node local clustering coefficient over an undirected view of
    * `edges` (u, v long columns): coeff = 2·T/(d·(d−1)) where T is the
    * number of edges among the node's neighbors, 0 where degree < 2.
    * Returns (node, degree, triangles, coeff).
    *
    * Rides GraphX `TriangleCount` (the per-vertex generalization of the
    * j9 global count): edges are canonicalized (least, greatest) +
    * distinct as the algorithm requires, triangles and degrees come from
    * the same graph so the ratio is consistent. The coefficient is one
    * multiply and one divide on small integers — bit-identical
    * cross-engine, which is what lets a SQL triangle-join oracle restate
    * it exactly (r6).
    */
  def clusteringCoefficient(spark: SparkSession, edges: DataFrame): DataFrame = {
    import org.apache.spark.graphx.PartitionStrategy
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sym = edges.toDF("a", "b").filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
    val er = sym.as[(Long, Long)].rdd.map { case (u, v) => GXEdge(u, v, 0) }
    val g = GXGraph.fromEdges(er, 0)
      .partitionBy(PartitionStrategy.RandomVertexCut)
    val tc = g.triangleCount()
    // materialize the small per-node rows, then release both cached GraphX
    // graphs (RDD caches are invisible to the bench's clearCache(); a lazy
    // return would either strand them or recompute the triangle pass)
    val out = g.degrees.join(tc.vertices)
      .map { case (vid, (d, t)) => (vid, d.toLong, t.toLong) }
      .toDF("node", "degree", "triangles")
      .localCheckpoint()
    tc.unpersist(blocking = false)
    g.unpersist(blocking = false)
    out.select(col("node"), col("degree"), col("triangles"),
      when(col("degree") >= 2,
        lit(2.0) * col("triangles") / (col("degree") * (col("degree") - 1)))
        .otherwise(lit(0.0)).as("coeff"))
  }

  /** Synchronous label propagation (community detection) over an
    * undirected view of `edges` (a, b long columns), run for exactly
    * `rounds` rounds. Labels start as the node id; each round every node
    * adopts the most frequent label among its NEIGHBORS, ties broken by
    * the smallest label — the deterministic variant of Raghavan et al.'s
    * LPA (the async random-order original is not restatable), and the
    * same tie rule GraphX's LabelPropagation uses modulo its hash-map
    * iteration nondeterminism, which is why this is a DataFrame fixpoint
    * instead of a GraphX call.
    *
    * Each round is one shuffle (neighbor-label counts) plus one
    * partial-aggregated argmax — no collect, no windows; vote counts are
    * exact longs and the argmax is a single `min(struct(-cnt, label))`,
    * so the result is bit-stable and a fixed unrolling of the same
    * relational algebra replays it in SQL (query `r7_label_prop`).
    * Returns (node, label) for every endpoint mentioned in `edges`.
    */
  def labelPropagation(spark: SparkSession, edges: DataFrame,
      rounds: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val pair = edges.toDF("a", "b").filter(col("a") =!= col("b"))
    val sym = pair
      .union(pair.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .localCheckpoint() // reused every round: cut the re-read, pin rows
    var labels = sym.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
    var it = 0
    while (it < rounds) {
      labels = sym
        .join(labels.select(col("node").as("b"), col("label")), "b")
        .groupBy(col("a").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("node")
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("node"), col("m.l").as("label"))
      it += 1
    }
    labels
  }

  /** k-truss: the maximal subgraph in which every edge participates in at
    * least k−2 triangles (triangles counted WITHIN the surviving
    * subgraph) — the edge-analog of [[kCore]] and the standard
    * community-core primitive one notch stronger than coreness.
    * Synchronous peeling: per round, count each edge's wedge closures
    * with one symmetric self-join (the triangle-count join j9 already
    * proves at scale), drop the under-supported edges, repeat to
    * fixpoint. Every surviving round shrinks the edge set, so the
    * expensive wedge join runs on a monotonically smaller relation; at
    * 100 TB each round is the standard triangle-counting shuffle keyed
    * on the shared wedge endpoint. Returns the surviving canonical
    * (u, v) edges.
    */
  def kTruss(spark: SparkSession, edges: DataFrame, k: Int,
      maxRounds: Int = 64): DataFrame = {
    import org.apache.spark.sql.functions._
    require(k >= 3, s"k must be >= 3, got $k")
    var cur = edges.select(
        least(col("u").cast("long"), col("v").cast("long")).as("u"),
        greatest(col("u").cast("long"), col("v").cast("long")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    // convergence is judged per round against the PREVIOUS round's count
    // (seeded unknown): no pre-loop count action. An already-stable input
    // pays one wedge round on an unchanged relation to observe stability —
    // every other input saves an action on the checkpointed relation.
    var n = -1L
    var it = 0
    while (it < maxRounds) {
      val sym = cur.select(col("u").as("a"), col("v").as("b"))
        .union(cur.select(col("v").as("a"), col("u").as("b")))
      val sup = cur
        .join(sym.select(col("a").as("u"), col("b").as("w1")), "u")
        .join(sym.select(col("a").as("v"), col("b").as("w2")), "v")
        .filter(col("w1") === col("w2"))
        .groupBy("u", "v").agg(count(lit(1)).as("_sup"))
      val next = cur.join(sup, Seq("u", "v"), "left")
        .filter(coalesce(col("_sup"), lit(0L)) >= k - 2)
        .select(col("u"), col("v"))
        .localCheckpoint()
      val m = next.count()
      cur.unpersist(blocking = false)
      cur = next
      if (m == n) return cur
      n = m
      it += 1
    }
    throw new IllegalStateException(
      s"kTruss failed to converge in $maxRounds rounds (k=$k)")
  }
}
