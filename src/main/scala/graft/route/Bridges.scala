package graft.route

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bridge edges (cut edges) of an undirected graph — the edges whose
  * removal disconnects their endpoints (ref `README.md:66-68` "graph
  * algorithms ... via the networkx protocol"; nx exposes `bridges`).
  * The road-network reading: a bridge is a single point of failure in
  * the street graph — exactly the robustness question the reference's
  * routing users ask after closures.
  *
  * Same two-path dispatch as [[Mst.minimumSpanningForest]] /
  * [[Components.scc]]:
  *
  *  - Below the gate, one driver-side iterative (explicit-stack) Tarjan
  *    low-link DFS over the collected edge list — exact, O(V+E).
  *  - Above it, the spanning-forest + cycle-cover algorithm, fully
  *    distributed: build a spanning forest ([[Mst]] Borůvka on unit
  *    weights — the (w,u,v) total order makes the forest deterministic);
  *    non-forest edges are never bridges; a forest edge is a bridge iff
  *    NO non-forest edge "covers" it (connects the two sides of the cut
  *    it induces). Coverage is decided with the classic XOR-tag trick:
  *    every non-forest edge gets a 64-bit tag (`xxhash64(u,v)` —
  *    deterministic across runs), both its endpoints XOR the tag into
  *    their vertex value, and a forest edge (v → parent) is covered iff
  *    the XOR of vertex values over v's subtree is non-zero — a
  *    non-forest edge with both endpoints inside the subtree cancels
  *    itself, one with both outside never appears, and exactly the
  *    covering edges (one endpoint in, one out) survive. This is the
  *    standard Monte-Carlo formulation: a zero hash is remapped to a
  *    non-zero constant (no single edge can be invisible), leaving only
  *    multi-edge XOR cancellation (≈ 2⁻⁶⁴ per edge, deterministic for a
  *    fixed input). Extended43Spec and GraphOpsPropertySpec pin it equal
  *    to local Tarjan on fixtures and random graphs.
  *
  * Distributed cost shape: forest = Borůvka (O(log V) shuffle rounds);
  * rooting = one BFS over forest edges ([[Frontier.relax]]: O(tree depth)
  * rounds, each a frontier join, as in the Pregel SSSP); subtree
  * XOR = one upward sweep, processing depths bottom-up with a
  * `bit_xor` partial aggregation per level (map-side combinable, one
  * narrow shuffle per level). State per round is one row per node —
  * never an adjacency blow-up — and every join key is the node id, so
  * the same hash partitioning is reused across rounds. At 100 TB the
  * intended pattern is the one the registry query demonstrates:
  * contract the raw graph to supernodes first (the ingest layer's
  * component/cell contraction), then run bridges on the contracted
  * graph, where tree depth is small.
  */
object Bridges {

  /** Bridge edges of the undirected graph `edges` (u, v long columns;
    * parallel edges and self-loops are collapsed/ignored — a parallel
    * pair is a cycle, so neither copy can be a bridge only if the input
    * repeats it; canonicalization keeps local and distributed paths
    * agreeing). Returns the bridges as canonical (u, v) with u < v.
    */
  def bridges(spark: SparkSession, edges: DataFrame,
      maxLocalEdges: Long = Route.LocalPathMaxEdges,
      maxDepth: Int = 512, tagSalt: Long = 0L): DataFrame = {
    import spark.implicits._
    val canon = canonical(edges)
    if (Route.fitsLocally(canon, maxLocalEdges)) {
      val es = canon.as[(Long, Long)].collect()
      return bridgesLocal(es).toSeq.toDF("u", "v")
    }
    bridgesDistributed(spark, canon, maxDepth, tagSalt)
  }

  /** Distinct (u, v) long pairs with u < v; self-loops dropped. */
  private def canonical(edges: DataFrame): DataFrame =
    edges.select(
        least(col("u").cast("long"), col("v").cast("long")).as("u"),
        greatest(col("u").cast("long"), col("v").cast("long")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  /** 2-edge-connected components: the equivalence classes left when every
    * bridge is removed (nx `k_edge_components(k=2)` modulo singleton
    * conventions — here EVERY node gets a label, so nodes all of whose
    * incident edges are bridges come out as singletons). Composes the two
    * operators this file and [[Mst]] already provide: bridges (whichever
    * dispatch path the size picks) → anti-join them out of the edge
    * relation → GraphX connected components over what remains (min-member
    * labels, so results are deterministic and engine-restatable). The
    * 100 TB shape is the same as [[bridges]] plus one CC fixpoint over
    * the (strictly smaller) non-bridge relation.
    */
  def twoEdgeConnectedComponents(spark: SparkSession, edges: DataFrame,
      maxLocalEdges: Long = Route.LocalPathMaxEdges,
      maxDepth: Int = 512): DataFrame = {
    val canon = canonical(edges).localCheckpoint()
    val br = bridges(spark, canon, maxLocalEdges, maxDepth)
    val nb = canon.join(br, Seq("u", "v"), "left_anti")
    val nodes = canon.select(col("u").as("node"))
      .union(canon.select(col("v"))).distinct()
    // min-label CC via FastCC (forest contraction under the gate, GraphX
    // above it) — identical labels, checkpoint-materialized
    val labels = graft.graph.FastCC.labels(nb.select("u", "v"), "node", "comp")
    nodes.join(labels, Seq("node"), "left")
      .select(col("node"), coalesce(col("comp"), col("node")).as("comp"))
  }

  /** Exact iterative Tarjan low-link bridge DFS (explicit stack — the
    * gate's ceiling cannot overflow the JVM stack on a long path).
    * `edges` must be canonical distinct (u < v) pairs.
    */
  private[graft] def bridgesLocal(
      edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val nodes = edges.iterator.flatMap { case (u, v) => Iterator(u, v) }
      .toArray.distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.length
    val adj = Array.fill(n)(List.empty[(Int, Int)]) // (neighbor, edge id)
    edges.zipWithIndex.foreach { case ((u, v), e) =>
      val (i, j) = (idx(u), idx(v))
      adj(i) ::= ((j, e)); adj(j) ::= ((i, e))
    }
    val disc = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    var counter = 0
    // frames: (vertex, edge id used to enter it, remaining adjacency)
    val work = mutable.ArrayDeque.empty[(Int, Int, List[(Int, Int)])]
    for (root <- 0 until n if disc(root) == -1) {
      disc(root) = counter; low(root) = counter; counter += 1
      work.prepend((root, -1, adj(root)))
      while (work.nonEmpty) {
        val (v, inEdge, succs) = work.removeHead()
        succs match {
          case (w, e) :: rest =>
            work.prepend((v, inEdge, rest))
            if (disc(w) == -1) {
              disc(w) = counter; low(w) = counter; counter += 1
              work.prepend((w, e, adj(w)))
            } else if (e != inEdge) {
              low(v) = math.min(low(v), disc(w))
            }
          case Nil =>
            work.headOption.foreach { case (p, _, _) =>
              low(p) = math.min(low(p), low(v))
              if (low(v) > disc(p)) {
                val (a, b) = (nodes(p), nodes(v))
                out += ((math.min(a, b), math.max(a, b)))
              }
            }
        }
      }
    }
    out.toArray.sorted
  }

  /** The distributed spanning-forest + XOR-cover path (see object doc).
    * `tagSalt` perturbs the per-edge tag hash: the Monte-Carlo cover test
    * fails only when some non-tree edge subset XORs to zero, and with the
    * default salt that event — while ≈2⁻⁶⁴-improbable at random — is a
    * FIXED property of the input. A caller who must defend against
    * adversarially-constructed edge lists (or simply wants independent
    * repetitions to drive the error to 2⁻¹²⁸) re-runs with fresh salts;
    * the true bridge set is salt-invariant, so differing answers across
    * salts expose the unlucky run.
    */
  private def bridgesDistributed(spark: SparkSession, canon: DataFrame,
      maxDepth: Int, tagSalt: Long): DataFrame = {
    // 1. deterministic spanning forest (unit weights; (w,u,v) order)
    val forest = Mst.minimumSpanningForest(spark,
        canon.withColumn("w", lit(0.0)), maxLocalEdges = 0L)
      .select(col("u"), col("v")).localCheckpoint()
    val nonTree = canon.join(forest, Seq("u", "v"), "left_anti")

    // 2. root every tree at its component's min node: BFS parent/depth
    val sym = forest.select(col("u").as("a"), col("v").as("b"))
      .union(forest.select(col("v").as("a"), col("u").as("b")))
      .localCheckpoint()
    // roots are the min nodes of the trees (FastCC's min-member labels);
    // the forest spans every endpoint, as Borůvka ran to convergence. The
    // label (depth, parent) under min: each round reaches the next level,
    // whose min parent wins; a visited node is never improved on.
    val cc = graft.graph.FastCC.labels(
      forest.select(col("u"), col("v")), "node", "comp")
    val bfs = Frontier.relax(cc.filter(col("node") === col("comp")).select(col("node"),
        struct(lit(0).as("depth"), lit(null).cast("long").as("parent")).as("label")),
        maxDepth, minimize = true) { frontier =>
      sym.join(frontier.select(col("node").as("a"), col("label.depth")), "a")
        .select(col("b").as("node"),
          struct((col("depth") + 1).as("depth"), col("a").as("parent")).as("label"))
    }
    Frontier.release(sym)
    require(bfs.converged,
      s"bridges: tree depth exceeds maxDepth=$maxDepth — contract the graph first")

    // 3. vertex values: XOR of non-tree incident tags; subtree sweep up.
    // A zero tag would make its edge invisible to the cover test (the one
    // single-edge failure mode of the XOR trick), so the zero hash maps
    // to a fixed non-zero constant; only multi-edge XOR cancellation
    // remains, at the documented ≈2⁻⁶⁴.
    val rawTag = xxhash64(lit(tagSalt), col("u"), col("v"))
    val tagged = nonTree.withColumn("tag",
      when(rawTag === 0L, lit(0x9E3779B97F4A7C15L)).otherwise(rawTag))
    val vertexVal = tagged.select(col("u").as("node"), col("tag"))
      .union(tagged.select(col("v"), col("tag")))
      .groupBy("node").agg(expr("bit_xor(tag)").as("own"))
    var acc = bfs.best.join(vertexVal, Seq("node"), "left")
      .select(col("node"), col("label.parent").as("parent"), col("label.depth").as("depth"),
        coalesce(col("own"), lit(0L)).as("acc"))
      .localCheckpoint()
    Frontier.release(bfs.best)
    var lvl = bfs.rounds
    while (lvl >= 1) {
      val contrib = acc.filter(col("depth") === lvl && col("parent").isNotNull)
        .groupBy(col("parent").as("node")).agg(expr("bit_xor(acc)").as("up"))
      val next = acc.join(contrib, Seq("node"), "left")
        .select(col("node"), col("parent"), col("depth"),
          expr("acc ^ coalesce(up, cast(0 as bigint))").as("acc"))
        .localCheckpoint()
      Frontier.release(acc)
      acc = next
      lvl -= 1
    }
    acc.filter(col("parent").isNotNull && col("acc") === 0L)
      .select(least(col("node"), col("parent")).as("u"),
        greatest(col("node"), col("parent")).as("v"))
  }
}
