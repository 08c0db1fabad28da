package graft.route

import scala.collection.mutable

import org.apache.spark.graphx.{Edge => GXEdge, Graph => GXGraph, VertexId}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.PropertyGraph

/** Sparse per-source (dist, σ) state for one ≤64-source Brandes chunk:
  * chunk-local source indices ascending in `idx`, with the matching
  * distance/path-count in `dist`/`sig`, as primitive parallel arrays.
  *
  * This replaces `Map[VertexId, (Double, Double)]` vertex state and
  * superstep messages. The fixpoint ships one state per edge per
  * superstep; a 64-entry immutable Map costs ~5 allocations per entry
  * (Tuple2 wrapper, boxed Long key, nested Tuple2, two boxed Doubles)
  * under any serializer, while the arrays are three primitive blobs per
  * MESSAGE — the serialization constant the round-10 profiling flagged
  * as the dominant superstep cost. Instances are never mutated after
  * construction (merges allocate), so messages may share arrays.
  */
private[route] final class SrcDistSig(
    val idx: Array[Int], val dist: Array[Double], val sig: Array[Double])
  extends Serializable {
  def isEmpty: Boolean = idx.length == 0
  /** canonical content equality (arrays are always idx-ascending) */
  def same(o: SrcDistSig): Boolean =
    java.util.Arrays.equals(idx, o.idx) &&
      java.util.Arrays.equals(dist, o.dist) &&
      java.util.Arrays.equals(sig, o.sig)
}

private[route] object SrcDistSig {
  val empty = new SrcDistSig(
    Array.emptyIntArray, Array.emptyDoubleArray, Array.emptyDoubleArray)

  /** Per-source minimum over two sorted states: strictly smaller distance
    * wins, bit-equal tie sums σ — the identical arithmetic the Map-based
    * merge performed, in one allocation-free merge-join pass.
    */
  def merge(a: SrcDistSig, b: SrcDistSig): SrcDistSig = {
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    val n = a.idx.length + b.idx.length
    val oi = new Array[Int](n)
    val od = new Array[Double](n)
    val os = new Array[Double](n)
    var i = 0; var j = 0; var k = 0
    while (i < a.idx.length && j < b.idx.length) {
      val ai = a.idx(i); val bj = b.idx(j)
      if (ai < bj) { oi(k) = ai; od(k) = a.dist(i); os(k) = a.sig(i); i += 1 }
      else if (bj < ai) { oi(k) = bj; od(k) = b.dist(j); os(k) = b.sig(j); j += 1 }
      else {
        val da = a.dist(i); val db = b.dist(j)
        oi(k) = ai
        if (da < db) { od(k) = da; os(k) = a.sig(i) }
        else if (db < da) { od(k) = db; os(k) = b.sig(j) }
        else { od(k) = da; os(k) = a.sig(i) + b.sig(j) }
        i += 1; j += 1
      }
      k += 1
    }
    while (i < a.idx.length) { oi(k) = a.idx(i); od(k) = a.dist(i); os(k) = a.sig(i); i += 1; k += 1 }
    while (j < b.idx.length) { oi(k) = b.idx(j); od(k) = b.dist(j); os(k) = b.sig(j); j += 1; k += 1 }
    if (k == n) new SrcDistSig(oi, od, os)
    else new SrcDistSig(java.util.Arrays.copyOf(oi, k),
      java.util.Arrays.copyOf(od, k), java.util.Arrays.copyOf(os, k))
  }

  /** `state` with source index `si` pinned to (0.0, 1.0) — the recount
    * rule's replacement of a source's own entry, array form of
    * `recount + (vid -> (0.0, 1.0))`.
    */
  def withSelf(state: SrcDistSig, si: Int): SrcDistSig = {
    val p = java.util.Arrays.binarySearch(state.idx, si)
    if (p >= 0) {
      val od = state.dist.clone(); val os = state.sig.clone()
      od(p) = 0.0; os(p) = 1.0
      new SrcDistSig(state.idx, od, os)
    } else {
      val at = -p - 1
      val n = state.idx.length
      val oi = new Array[Int](n + 1)
      val od = new Array[Double](n + 1)
      val os = new Array[Double](n + 1)
      System.arraycopy(state.idx, 0, oi, 0, at)
      System.arraycopy(state.dist, 0, od, 0, at)
      System.arraycopy(state.sig, 0, os, 0, at)
      oi(at) = si; od(at) = 0.0; os(at) = 1.0
      System.arraycopy(state.idx, at, oi, at + 1, n - at)
      System.arraycopy(state.dist, at, od, at + 1, n - at)
      System.arraycopy(state.sig, at, os, at + 1, n - at)
      new SrcDistSig(oi, od, os)
    }
  }
}

/** Sparse per-source dependency vector for the Brandes backward phase —
  * same layout discipline as [[SrcDistSig]] (idx ascending, primitive
  * arrays, immutable after construction).
  */
private[route] final class DeltaVec(val idx: Array[Int], val del: Array[Double])
  extends Serializable {
  def same(o: DeltaVec): Boolean =
    java.util.Arrays.equals(idx, o.idx) && java.util.Arrays.equals(del, o.del)
}

private[route] object DeltaVec {
  val empty = new DeltaVec(Array.emptyIntArray, Array.emptyDoubleArray)

  /** per-source sum over two sorted vectors (merge-join) */
  def merge(a: DeltaVec, b: DeltaVec): DeltaVec = mergeJoin(a, b, sum = true)

  /** per-key MINIMUM over two sorted vectors — the landmark-distance
    * combiner ([[Route.landmarkDistances]]); min instead of sum on
    * overlapping keys.
    */
  def minMerge(a: DeltaVec, b: DeltaVec): DeltaVec = mergeJoin(a, b, sum = false)

  private def mergeJoin(a: DeltaVec, b: DeltaVec, sum: Boolean): DeltaVec = {
    if (a.idx.length == 0) return b
    if (b.idx.length == 0) return a
    val n = a.idx.length + b.idx.length
    val oi = new Array[Int](n)
    val od = new Array[Double](n)
    var i = 0; var j = 0; var k = 0
    while (i < a.idx.length && j < b.idx.length) {
      val ai = a.idx(i); val bj = b.idx(j)
      if (ai < bj) { oi(k) = ai; od(k) = a.del(i); i += 1 }
      else if (bj < ai) { oi(k) = bj; od(k) = b.del(j); j += 1 }
      else {
        oi(k) = ai
        od(k) = if (sum) a.del(i) + b.del(j) else math.min(a.del(i), b.del(j))
        i += 1; j += 1
      }
      k += 1
    }
    while (i < a.idx.length) { oi(k) = a.idx(i); od(k) = a.del(i); i += 1; k += 1 }
    while (j < b.idx.length) { oi(k) = b.idx(j); od(k) = b.del(j); j += 1; k += 1 }
    if (k == n) new DeltaVec(oi, od)
    else new DeltaVec(java.util.Arrays.copyOf(oi, k), java.util.Arrays.copyOf(od, k))
  }
}

/** Routing analytics on GraphX — the distributed replacement for the
  * reference's "stock networkx over lazy SQL Mappings" protocol
  * (`graphs/digraphdb/__init__.py:16-167`, `README.md:59-74`).
  *
  * The reference runs Dijkstra one SQLite query per visited node; here the
  * whole graph is loaded once into GraphX and weighted SSSP runs as a
  * Pregel program (superstep = one distributed message round). GraphX's
  * `lib.ShortestPaths` is hop-count only, so the weighted program is
  * custom (~40 lines), carrying (distance, predecessor) per vertex for
  * path reconstruction — parity with `nx.dijkstra_path`.
  *
  * Vertex ids: string node ids are hashed to Long via xxhash64.
  * `fromPropertyGraph` verifies the hash is collision-free on the actual
  * node set (count(distinct id) == count(distinct _n)) — the safe choice at
  * 100 TB (SURVEY §7.4) versus zipWithUniqueId's nondeterminism.
  */
object Route {

  case class RoutingGraph(
      graph: GXGraph[String, Double],
      idOf: DataFrame /* _n, _vid */)

  /** Build a GraphX graph from a PropertyGraph using `weightCol` (must be
    * non-negative; rows with null weight are dropped, as networkx treats
    * missing weights as infinite for routing purposes).
    */
  /** Edges per GraphX partition when the graph's size is known. Every
    * Pregel superstep runs one job whose task count is the edge/vertex
    * partition count, so a graph far smaller than its source DataFrame's
    * partitioning pays (partitions × supersteps) scheduling for kilobytes
    * of state — profiled on the r8 nation chain: 24 supersteps × 5-task
    * jobs at 50–65 ms each, ~85% scheduler/shuffle floor. Coalescing to
    * ceil(|E| / EdgesPerGraphPartition) (never ABOVE the existing
    * partitioning — big graphs keep their scan parallelism) makes each
    * superstep a 1-task job on interactive-sized graphs and is a no-op at
    * cluster scale.
    */
  private val EdgesPerGraphPartition = 1L << 20

  def fromPropertyGraph(g: PropertyGraph, weightCol: String): RoutingGraph = {
    val idOf = g.nodes.select(col("_n"), xxhash64(col("_n")).as("_vid"))
    val nN = idOf.select(countDistinct("_n"), countDistinct("_vid")).head
    require(nN.getLong(0) == nN.getLong(1),
      s"xxhash64 collision on node ids (${nN.getLong(0)} nodes, ${nN.getLong(1)} distinct hashes)")

    val vertices = idOf.select(col("_vid"), col("_n"))
      .rdd.map(r => (r.getLong(0), r.getString(1)))
    val edges = g.edges
      .filter(col(weightCol).isNotNull)
      .select(xxhash64(col("_u")).as("src"), xxhash64(col("_v")).as("dst"),
        col(weightCol).cast("double").as("w"))
      .rdd.map(r => GXEdge(r.getLong(0), r.getLong(1), r.getDouble(2)))
    // data-derived partitioning (g.size() is cached — every distributed
    // dispatch gate has already paid its count); coalesce is narrow, so
    // this costs no shuffle and never raises parallelism above the scan's
    val parts = math.max(1L, math.min(edges.getNumPartitions.toLong,
      (g.size() + EdgesPerGraphPartition - 1) / EdgesPerGraphPartition)).toInt
    val (v2, e2) =
      if (parts < edges.getNumPartitions)
        (vertices.coalesce(math.min(parts, vertices.getNumPartitions)),
          edges.coalesce(parts))
      else (vertices, edges)
    RoutingGraph(GXGraph(v2, e2), idOf)
  }

  /** Weighted single-source shortest paths via Pregel.
    * Vertex state: (dist from source, predecessor vid). Message: candidate
    * (dist, pred); merge = min by dist. Converges in O(diameter) supersteps.
    */
  def sssp(rg: RoutingGraph, sourceVid: VertexId): GXGraph[(Double, VertexId), Double] = {
    val init = rg.graph.mapVertices((vid, _) =>
      if (vid == sourceVid) (0.0, -1L) else (Double.PositiveInfinity, -1L))
    init.pregel((Double.PositiveInfinity, -1L))(
      vprog = (_, state, msg) => if (msg._1 < state._1) msg else state,
      sendMsg = t => {
        val newDist = t.srcAttr._1 + t.attr
        if (newDist < t.dstAttr._1) Iterator((t.dstId, (newDist, t.srcId)))
        else Iterator.empty
      },
      mergeMsg = (a, b) => if (a._1 <= b._1) a else b)
  }

  /** Edge count below which point-to-point queries use the driver-side
    * Dijkstra fast path (broadcast-adjacency latency profile comparable to
    * the reference's SQLite loop) instead of a Pregel job per query.
    */
  val LocalPathMaxEdges = 200000L

  /** The size gate every driver-side route shares. */
  private def gated(g: PropertyGraph, maxLocalEdges: Long): Boolean =
    g.size() <= math.min(maxLocalEdges, LocalPathMaxEdges)

  /** The same gate for an edge relation: counts at most one row past it. */
  private[route] def fitsLocally(edges: DataFrame, maxLocalEdges: Long): Boolean = {
    val bound = math.min(maxLocalEdges, LocalPathMaxEdges)
    edges.limit((bound + 1).max(0L).toInt).count() <= bound
  }

  /** What one [[search]] reached, by int id of its [[GraphIndex]]: `dist`
    * (+inf where unreached), `pred` (-1 at the source and where unreached)
    * and `order`, the settled ids in settle order.
    */
  private[graft] final class Settled(val dist: Array[Double], val pred: Array[Int],
      val order: Array[Int])

  /** The one driver-side search kernel: Dijkstra from `source` over the
    * index's adjacency (weights ≥ 0), keyed on g + `h`, so an admissible
    * `h` makes it A*. It stops once `target` is settled (-1: never) and
    * drops any relaxation costing more than `cutoff`. Ties dequeue in heap
    * order, the same on every call (RouteSpec pins them).
    */
  private[graft] def search(ix: GraphIndex[_], source: Int, target: Int = -1,
      cutoff: Double = Double.PositiveInfinity,
      h: Int => Double = _ => 0.0): Settled = {
    val dist = Array.fill(ix.size)(Double.PositiveInfinity)
    val pred = Array.fill(ix.size)(-1)
    val done = new Array[Boolean](ix.size)
    val order = new Array[Int](ix.size)
    var settled = 0
    val pq = mutable.PriorityQueue[(Double, Int)]()(
      Ordering.by[(Double, Int), Double](_._1).reverse)
    dist(source) = 0.0
    pq.enqueue((h(source), source))
    while (pq.nonEmpty) {
      val n = pq.dequeue()._2
      if (!done(n)) {
        done(n) = true
        order(settled) = n
        settled += 1
        if (n == target) pq.clear()
        else {
          val d = dist(n)
          var e = ix.offsets(n)
          while (e < ix.offsets(n + 1)) {
            val m = ix.targets(e)
            val nd = d + ix.weights(e)
            if (nd <= cutoff && nd < dist(m)) {
              dist(m) = nd
              pred(m) = n
              pq.enqueue((nd + h(m), m))
            }
            e += 1
          }
        }
      }
    }
    new Settled(dist, pred, java.util.Arrays.copyOf(order, settled))
  }

  /** Point-to-point shortest path — dispatches to the driver-side fast
    * path for interactive-sized graphs, distributed Pregel otherwise
    * (SURVEY §7.1 item 6 keeps both).
    */
  def shortestPath(g: PropertyGraph, u: String, v: String, weightCol: String): Option[(Seq[String], Double)] =
    if (gated(g, LocalPathMaxEdges)) shortestPathLocal(g, u, v, weightCol)
    else shortestPathPregel(g, u, v, weightCol)

  /** Driver-side Dijkstra on the graph's [[GraphIndex]] — built by the
    * first call, so every later call on the same graph is a pure in-memory
    * search; the latency-parity path for repeated interactive queries on
    * metro-scale graphs.
    */
  def shortestPathLocal(g: PropertyGraph, u: String, v: String,
      weightCol: String): Option[(Seq[String], Double)] =
    localPath(g, u, v, weightCol, astar = false)

  /** A* point-to-point search with the great-circle (haversine) heuristic —
    * the standard road-network accelerator over plain Dijkstra. Admissible
    * by construction when the weight column is `_length`: an edge's
    * `_length` is a sum of great-circle segment distances, which the
    * triangle inequality bounds below by the straight-line great-circle
    * distance the heuristic uses — so A* returns the same optimal cost
    * while settling (often far) fewer nodes. Nodes without geometry get
    * h = 0 (falls back to Dijkstra behavior locally, still admissible).
    *
    * Driver fast path by design, on the [[search]] kernel like
    * [[shortestPathLocal]]: point-to-point search is a latency workload;
    * graphs past the local gate route through the Pregel SSSP instead
    * (identical optimal answer, heuristic-free).
    *
    * @param weightCol must be meters-compatible with the coordinate space
    *                  (`_length` or any column ≥ great-circle meters);
    *                  anything else breaks admissibility and with it
    *                  optimality.
    */
  def shortestPathAStar(g: PropertyGraph, u: String, v: String,
      weightCol: String = "_length",
      maxLocalEdges: Long = LocalPathMaxEdges): Option[(Seq[String], Double)] =
    if (!gated(g, maxLocalEdges)) shortestPathPregel(g, u, v, weightCol)
    else localPath(g, u, v, weightCol, astar = true)

  /** The gated point-to-point route on the graph's cached [[GraphIndex]]:
    * the kernel from `u` to `v`, under the great-circle distance to `v`
    * when `astar` (0 where either end has no coordinates).
    */
  private def localPath(g: PropertyGraph, u: String, v: String, weightCol: String,
      astar: Boolean): Option[(Seq[String], Double)] = {
    val ix = g.routeIndex(weightCol)
    val (s, t) = (ix.nodeId(u), ix.nodeId(v))
    if (s < 0 || t < 0) return None
    if (s == t) return Some((Seq(u), 0.0))
    val (tLon, tLat) = (ix.lon(t), ix.lat(t))
    val h: Int => Double =
      if (!astar || tLon.isNaN) _ => 0.0
      else n => if (ix.lon(n).isNaN) 0.0
        else graft.geo.Geo.haversine(ix.lon(n), ix.lat(n), tLon, tLat)
    val r = search(ix, s, t, h = h)
    if (r.dist(t).isInfinite) return None
    var path = List(t)
    while (path.head != s) path ::= r.pred(path.head)
    Some((path.map(ix.ids(_)), r.dist(t)))
  }

  /** Distributed point-to-point Dijkstra via the SSSP Pregel program —
    * parity with `nx.dijkstra_path(G, u, v, weight)` (`README.md:69-74`).
    * Path unwound driver-side from predecessor pointers (paths are short
    * relative to graph size, SURVEY §2.7).
    */
  def shortestPathPregel(g: PropertyGraph, u: String, v: String, weightCol: String): Option[(Seq[String], Double)] = {
    val rg = fromPropertyGraph(g, weightCol)
    val vidRows = rg.idOf.filter(col("_n").isin(u, v)).collect()
    val vidMap = vidRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    if (!vidMap.contains(u) || !vidMap.contains(v)) return None

    val result = sssp(rg, vidMap(u))
    val reachable = result.vertices
      .filter { case (_, (d, _)) => !d.isInfinite }.cache()
    try {
    val target = vidMap(v)
    val targetState = reachable.filter(_._1 == target).map(_._2).collect()
    if (targetState.isEmpty) return None
    val totalDist = targetState.head._1

    // unwind predecessor vids driver-side; on big graphs the reachable set
    // is the whole graph, so only collect it below a memory-safe bound and
    // fall back to one tiny distributed lookup per hop (path length jobs,
    // driver memory O(path)) beyond it
    val nReach = reachable.count()
    val predOf: VertexId => VertexId =
      if (nReach <= 2000000L) { val states = reachable.collectAsMap(); c => states(c)._2 }
      else c => reachable.filter(_._1 == c).map(_._2._2).first()
    val vids = mutable.ListBuffer[VertexId]()
    var cur = target
    var guard = 0L
    while (cur != -1L && guard <= nReach) {
      vids.prepend(cur)
      cur = if (cur == vidMap(u)) -1L else predOf(cur)
      guard += 1
    }
    val names = rg.idOf.filter(col("_vid").isin(vids.toSeq: _*))
      .collect().map(r => r.getLong(1) -> r.getString(0)).toMap
    Some((vids.map(names).toList, totalDist))
    // repeated point-to-point queries must not accumulate cached vertex
    // RDDs in executor memory for the life of the session
    } finally reachable.unpersist(blocking = false)
  }

  /** Weighted distances from up to 64 landmark nodes in ONE Pregel run
    * (vertex state = landmark→distance map, messages merge per-landmark
    * minima) — the batch form of repeated SSSP for distance matrices /
    * reachability analytics. Returns (_n, landmark, distance).
    *
    * Row order: below the gate, landmarks in first-appearance order, each
    * landmark's rows in settle order (nearest first, the landmark itself
    * first); above it, unspecified.
    */
  def landmarkDistances(spark: SparkSession, g: PropertyGraph,
      landmarks: Seq[String], weightCol: String,
      maxLocalEdges: Long = LocalPathMaxEdges): DataFrame = {
    import spark.implicits._
    require(landmarks.nonEmpty && landmarks.size <= 64,
      "1..64 landmarks per pass (state size is |landmarks| per vertex)")
    // small-graph gate, same dispatch as [[shortestPath]]: one kernel
    // search per landmark on the graph's cached index beats |landmarks|
    // maps carried through O(diameter) Pregel supersteps on
    // interactive-sized graphs. Emits exactly the Pregel pass's rows —
    // reachable (node, landmark) pairs only, landmark self-distance 0
    // (RouteSpec pins gated == distributed).
    if (gated(g, maxLocalEdges)) {
      val ix = g.routeIndex(weightCol)
      val missingL = landmarks.distinct.filter(ix.nodeId(_) < 0)
      require(missingL.isEmpty,
        s"unknown landmark node(s): ${missingL.mkString(", ")}")
      return landmarks.distinct.flatMap { lm =>
        val s = search(ix, ix.nodeId(lm))
        s.order.iterator.map(n => (ix.ids(n), lm, s.dist(n)))
      }.toDF("_n", "landmark", "distance")
    }
    val rg = fromPropertyGraph(g, weightCol)
    val lmVids: Map[VertexId, String] = rg.idOf
      .filter(col("_n").isin(landmarks: _*)).collect()
      .map(r => r.getLong(1) -> r.getString(0)).toMap
    val missing = landmarks.distinct.toSet -- lmVids.values.toSet
    require(missing.isEmpty, s"unknown landmark node(s): ${missing.mkString(", ")}")

    // per-landmark distance state as sorted primitive arrays keyed by the
    // landmark's index in lmSorted (the same serialization discipline as
    // the Brandes [[SrcDistSig]]: a ≤64-entry Map shipped per edge per
    // superstep was the dominant message cost). DeltaVec is reused as the
    // (idx, double) container with the per-key MIN combiner.
    val lmSorted: Array[VertexId] = lmVids.keys.toArray.sorted
    val init = rg.graph.mapVertices { (vid, _) =>
      val i = java.util.Arrays.binarySearch(lmSorted, vid)
      if (i >= 0) new DeltaVec(Array(i), Array(0.0)) else DeltaVec.empty
    }
    val result = init.pregel(DeltaVec.empty)(
      vprog = (_, state, msg) => DeltaVec.minMerge(state, msg),
      sendMsg = t => {
        // candidates = src distances + w, filtered to strict improvements
        // over dst's current entry (merge-join; both sides idx-sorted)
        val s = t.srcAttr
        val d = t.dstAttr
        val w = t.attr
        val oi = new Array[Int](s.idx.length)
        val od = new Array[Double](s.idx.length)
        var i = 0; var j = 0; var k = 0
        while (i < s.idx.length) {
          val cand = s.del(i) + w
          val si = s.idx(i)
          while (j < d.idx.length && d.idx(j) < si) j += 1
          val cur =
            if (j < d.idx.length && d.idx(j) == si) d.del(j)
            else Double.PositiveInfinity
          if (cand < cur) { oi(k) = si; od(k) = cand; k += 1 }
          i += 1
        }
        if (k > 0) Iterator((t.dstId, new DeltaVec(
          java.util.Arrays.copyOf(oi, k), java.util.Arrays.copyOf(od, k))))
        else Iterator.empty
      },
      mergeMsg = DeltaVec.minMerge)

    // landmark names are already on the driver — label vids with a plain
    // map instead of a second join over the full node-id table
    val lmNames = lmVids
    val rows = result.vertices.flatMap { case (vid, dists) =>
      dists.idx.indices.iterator.map(i =>
        (vid, lmNames(lmSorted(dists.idx(i))), dists.del(i)))
    }.toDF("_vid", "landmark", "distance")
    rows.join(rg.idOf, "_vid")
      .select(col("_n"), col("landmark"), col("distance"))
  }

  /** Closeness centrality from a landmark pass: 1 / mean distance to the
    * reachable landmark set (a standard landmark approximation of exact
    * closeness, exact when every node is a landmark).
    */
  def closeness(spark: SparkSession, g: PropertyGraph, landmarks: Seq[String],
      weightCol: String, maxLocalEdges: Long = LocalPathMaxEdges): DataFrame = {
    // exclude only the self pair — a genuine zero-length edge to a
    // landmark is a real distance, not a self-distance
    landmarkDistances(spark, g, landmarks, weightCol, maxLocalEdges)
      .filter(col("_n") =!= col("landmark"))
      .groupBy("_n")
      .agg((lit(1.0) / avg(col("distance"))).as("closeness"))
  }

  /** Eccentricity from a landmark pass: max distance to the reachable
    * landmark set (a lower bound of exact eccentricity, exact when every
    * node is a landmark; the graph pseudo-diameter is its max). Same
    * scale shape as [[closeness]] — one multi-landmark pass, one partial
    * aggregation; no per-node jobs.
    */
  def eccentricity(spark: SparkSession, g: PropertyGraph, landmarks: Seq[String],
      weightCol: String, maxLocalEdges: Long = LocalPathMaxEdges): DataFrame =
    landmarkDistances(spark, g, landmarks, weightCol, maxLocalEdges)
      .filter(col("_n") =!= col("landmark"))
      .groupBy("_n")
      .agg(max(col("distance")).as("eccentricity"))

  /** Harmonic centrality from a landmark pass: Σ 1/d(n, landmark) over
    * reachable non-self landmarks (Boldi–Vigna's closeness variant that
    * tolerates disconnected graphs; exact when every node is a landmark).
    *
    * Determinism: the per-node distance multiset is sorted ASCENDING and
    * folded left (`aggregate` over `sort_array`), so the IEEE sum is a
    * canonical function of the distances — bit-identical on any engine
    * that folds the same sorted sequence, independent of partitioning.
    * The collected list is bounded by the ≤64-landmark cap, so the
    * per-group state is O(64), not O(|V|).
    */
  def harmonic(spark: SparkSession, g: PropertyGraph, landmarks: Seq[String],
      weightCol: String, maxLocalEdges: Long = LocalPathMaxEdges): DataFrame =
    landmarkDistances(spark, g, landmarks, weightCol, maxLocalEdges)
      .filter(col("_n") =!= col("landmark") && col("distance") > 0.0)
      .groupBy("_n")
      .agg(aggregate(sort_array(collect_list(col("distance"))), lit(0.0),
        (acc, x) => acc + lit(1.0) / x).as("harmonic"))

  /** PageRank centrality over the edge structure (ref README "centrality
    * measures", `README.md:66-68`), returned as (_n, rank).
    */
  def pageRank(spark: SparkSession, g: PropertyGraph, tol: Double = 1e-4): DataFrame = {
    import spark.implicits._
    val idOf = g.nodes.select(col("_n"), xxhash64(col("_n")).as("_vid"))
    val vertices = idOf.rdd.map(r => (r.getLong(1), r.getString(0)))
    val edges = g.edges
      .select(xxhash64(col("_u")).as("src"), xxhash64(col("_v")).as("dst"))
      .rdd.map(r => GXEdge(r.getLong(0), r.getLong(1), 1.0))
    val g0 = GXGraph(vertices, edges)
    val pr = g0.pageRank(tol)
    // materialize the small per-node ranks, then release BOTH internally
    // cached GraphX graphs — without this every call stranded a graph
    // pair in executor memory for the session (invisible to clearCache)
    val ranksDf = pr.vertices.toDF("_vid", "rank").localCheckpoint()
    pr.unpersist(blocking = false)
    g0.unpersist(blocking = false)
    idOf.join(ranksDf, "_vid").select("_n", "rank")
  }

  /** Fixed-iteration damped PageRank as a pure DataFrame fixpoint —
    * the Catalyst-native twin of [[pageRank]]'s GraphX path. `nodes` is a
    * one-column (`node`) relation, `edges` a (`src`, `dst`) relation over
    * the same ids; returns (node, rank).
    *
    * Semantics (the classic power-iteration form): every rank starts at
    * 1.0; each round every node receives Σ rank(u)/outdeg(u) over its
    * in-edges and becomes `resetProb + (1-resetProb)·Σ`. Dangling-node
    * mass is dropped, not redistributed (nodes with no in-edges hold the
    * floor `resetProb` from round 1 on). Each round is one co-partitioned
    * join on `src` plus one aggregation on `dst` — no global ordering
    * anywhere, so the plan scales with the shuffle, and AQE is free to
    * re-plan each round. The loop holds no persisted state: at real scale
    * persist `edges` yourself and cut lineage every ~10 rounds, or use the
    * GraphX [[pageRank]] path, whose Pregel loop manages its own.
    *
    * Determinism note: per-node contributions are summed in shuffle
    * arrival order, so ranks are reproducible bitwise only where every
    * in-degree is ≤ 1 (or up to float-sum reassociation elsewhere) — the
    * r4 oracle query runs on a chain precisely so the gate is bit-exact.
    */
  def pageRankStatic(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
      iters: Int, resetProb: Double = 0.15): DataFrame =
    powerIteration(edges, iters, resetProb)(nodes.select(col("node"), lit(1.0).as("_e")))

  /** PERSONALIZED PageRank — random walk with restart to a seed set:
    * r⁰ = 1_seeds/|seeds|;  rᵗ⁺¹ = ρ·1_seeds/|seeds| + (1−ρ)·AᵀD⁻¹rᵗ.
    * The ranking primitive behind "similar nodes" / recommendation
    * queries, completing the family beside [[pageRankStatic]] (global)
    * and [[graft.route.Hits]]. Same plan shape as the static form: one
    * out-degree aggregate up front, then per-iteration one join + one
    * keyed sum — no driver-side state, no windows; the determinism note
    * above applies identically (a ≤2-term contribution sum is
    * commutative, so chain/cycle fixtures gate bit-exactly).
    *
    * @param seeds one column `node`; must be non-empty and a subset of
    *              `nodes` (mass restarts only there)
    */
  def personalizedPageRank(spark: SparkSession, nodes: DataFrame,
      edges: DataFrame, seeds: DataFrame, iters: Int,
      resetProb: Double = 0.15): DataFrame =
    powerIteration(edges, iters, resetProb) {
      val nSeeds = seeds.select(col("node")).distinct().count()
      require(nSeeds > 0, "personalizedPageRank needs at least one seed")
      val seedMass = nodes
        .join(seeds.select(col("node")).distinct(), Seq("node"), "left_semi")
        .select(col("node"), (lit(1.0) / lit(nSeeds.toDouble)).as("_e"))
      nodes.join(seedMass, Seq("node"), "left")
        .select(col("node"), coalesce(col("_e"), lit(0.0)).as("_e"))
    }

  /** The power iteration both PageRank forms share: ranks start at the
    * restart mass `_e` of each (`node`, `_e`) row of `restart` and each
    * round become `resetProb·_e + (1-resetProb)·Σ rank(u)/outdeg(u)`.
    * `restart` is evaluated after the argument checks.
    */
  private def powerIteration(edges: DataFrame, iters: Int, resetProb: Double)(
      restart: => DataFrame): DataFrame = {
    require(iters >= 0, s"iters must be non-negative, got $iters")
    require(resetProb > 0 && resetProb < 1, s"resetProb in (0,1), got $resetProb")
    val base = restart
    val damp = 1.0 - resetProb
    val outDeg = edges.groupBy("src").agg(count(lit(1)).as("_od"))
    val contribEdges = edges.join(outDeg, "src")
    var ranks = base.select(col("node"), col("_e").as("rank"))
    for (_ <- 1 to iters) {
      val contribs = contribEdges
        .join(ranks, col("src") === col("node"))
        .select(col("dst"), (col("rank") / col("_od")).as("_c"))
        .groupBy("dst").agg(sum("_c").as("_csum"))
      ranks = base
        .join(contribs, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(resetProb) * col("_e") +
            lit(damp) * coalesce(col("_csum"), lit(0.0))).as("rank"))
    }
    ranks
  }

  /** Betweenness centrality (weighted Brandes) accumulated over the given
    * source set — the last of the reference's "centrality metrics"
    * (`README.md:66-68`) next to [[closeness]] and [[pageRank]].
    *
    * Pass every node as a source for the exact measure; at scale pass a
    * landmark sample of k sources (the standard estimator: scores scale
    * by n/k in expectation, and ranking — the question betweenness
    * answers — stabilizes long before the absolute values do).
    *
    * Per source, two distributed fixpoint phases over the GraphX graph,
    * Bellman–Ford-with-recount style: every round each vertex recomputes
    * its state purely from its in-neighbor (phase 1) or out-neighbor
    * (phase 2) states, so shortest-path counts are never double-
    * accumulated across rounds. Phase 1 converges to (dist σ) in
    * O(hop-depth) rounds; phase 2 folds the dependency values δ back up
    * the shortest-path DAG (δ(v) = Σ_{w: succ} σv/σw · (1+δw)) in
    * O(DAG-depth) rounds. `maxIters` guards pathological zero-weight
    * cycles, where the shortest-path DAG is not acyclic.
    *
    * Equal-cost path ties are counted when `dist(u) + w(u,v)` compares
    * bit-equal to `dist(v)` — both sides are produced by the identical
    * IEEE additions, so the canonical predecessors always match; a
    * detour that merely rounds to the same cost does not.
    */
  def betweenness(spark: SparkSession, g: PropertyGraph, sources: Seq[String],
      weightCol: String, maxIters: Int = 200,
      maxLocalEdges: Long = LocalPathMaxEdges): DataFrame = {
    require(sources.nonEmpty, "at least one source node")
    // small-graph gate, same dispatch as [[shortestPath]]: per-source
    // distributed fixpoints cost O(sources · supersteps) scheduler rounds,
    // which dwarfs the actual work on interactive-sized graphs. The local
    // kernel is the exact same Brandes (RouteSpec pins distributed == local
    // with the gate forced off), so results are identical either way.
    if (gated(g, maxLocalEdges)) {
      import spark.implicits._
      val ix = g.routeIndex(weightCol)
      val missing = sources.distinct.filter(ix.nodeId(_) < 0)
      require(missing.isEmpty,
        s"unknown source node(s) among: ${sources.distinct.mkString(", ")}")
      return betweennessLocal(g, weightCol, Some(sources.distinct))
        .toSeq.toDF("_n", "betweenness")
    }
    val rg = fromPropertyGraph(g, weightCol)
    val srcVids = rg.idOf.filter(col("_n").isin(sources.distinct: _*))
      .collect().map(_.getLong(1))
    require(srcVids.length == sources.distinct.length,
      s"unknown source node(s) among: ${sources.distinct.mkString(", ")}")
    val base = rg.graph.cache()
    try {
      // sources run BATCHED, ≤64 per fixpoint pass (the landmarkDistances
      // state-size bound): each pass carries a per-source map through the
      // two phases, so k sources cost two fixpoints' worth of supersteps,
      // not 2k — on a 1000-executor cluster the superstep barrier, not the
      // per-message work, is what a multi-source centrality pays for.
      // Fold per-chunk dependency scores into one running (vid, score)
      // RDD, materialized each step so at most two live at once.
      var acc: org.apache.spark.rdd.RDD[(VertexId, Double)] = null
      srcVids.sorted.grouped(64).foreach { chunk =>
        val d = brandesDeltas(base, chunk.toArray, maxIters)
        // fold into a FRESH RDD before checkpointing. brandesDeltas has
        // already run a job over `d` (cache + count), which latches
        // doCheckpointCalled on it — localCheckpoint() directly on `d`
        // would be a silent no-op returning the same object, and the
        // unconditional d.unpersist below would then drop the chunk's only
        // cached copy, replaying the entire two-phase fixpoint (every
        // superstep uncached) at the final toDF/join. map(identity) for
        // the single-chunk case gives localCheckpoint an RDD whose first
        // materialization is the count() here, so the checkpoint blocks
        // actually land and the lineage truncates as intended.
        val next =
          (if (acc == null) d.map(identity) else acc.union(d).reduceByKey(_ + _))
            .localCheckpoint()
        next.count()
        if (acc != null) acc.unpersist(blocking = false)
        d.unpersist(blocking = false)
        acc = next
      }
      import spark.implicits._
      val scores = acc.toDF("_vid", "betweenness")
      rg.idOf.join(scores, Seq("_vid"), "left")
        .select(col("_n"),
          coalesce(col("betweenness"), lit(0.0)).as("betweenness"))
    } finally base.unpersist(blocking = false)
  }

  /** Runs `body` with `tag` as the description of the Spark jobs it starts
    * (listeners see it as `spark.job.description`; ProfileOne prints it per
    * job, so a fixpoint's per-round cost stays visible), then restores the
    * caller's description.
    */
  private[route] def withJobDescription[T](sc: org.apache.spark.SparkContext,
      tag: String)(body: => T): T = {
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(tag)
    try body finally sc.setJobDescription(prev)
  }

  /** One batched Brandes pass over ≤64 sources: forward (dist, σ) fixpoint,
    * then backward δ fixpoint, both carrying per-source state as sorted
    * primitive parallel arrays keyed by CHUNK-LOCAL source index
    * ([[SrcDistSig]]/[[DeltaVec]] — the allocation/serialization-lean form
    * of the [[landmarkDistances]] map shape; `srcVids` must be sorted
    * ascending and is the idx→vid decoder). Returns each vertex's
    * dependency score summed over the chunk's sources (own-source term
    * excluded), cached and materialized. Mirrors Pregel's iteration
    * hygiene (previous round's vertices unpersisted each step).
    *
    * Recount-style fixpoints as in the single-source original: every round
    * each vertex's state is rebuilt entirely from neighbor messages, so σ
    * and δ are never double-accumulated across rounds, and the equal-cost
    * tie rule stays the bit-equality of identical IEEE additions.
    */
  private def brandesDeltas(graph: GXGraph[String, Double], srcVids: Array[VertexId],
      maxIters: Int): org.apache.spark.rdd.RDD[(VertexId, Double)] = {
    require(srcVids.length <= 64 && (srcVids.length < 2 ||
      srcVids.sliding(2).forall(p => p(0) < p(1))),
      "brandesDeltas takes a sorted, deduplicated chunk of <= 64 sources")
    // ---- phase 1: dist + path count σ, all sources at once ----
    // Each vertex carries (state, changed-this-round): the convergence
    // predicate is evaluated INSIDE the vertex program (old attr is right
    // there) and counted on `triplets`, so one job per round both decides
    // convergence and materializes the new replicated view — versus the
    // previous two (vertex-join compare + edges.count), i.e. one scheduler
    // barrier per superstep instead of two on a cluster. Counting on
    // triplets skips isolated vertices, which is safe: a vertex with no
    // edges can neither send nor receive influence — its recount is
    // already final in `next` — and the recount of a degree-0 vertex is
    // identical from round 1 on, so it never flips the predicate anyway.
    var fw: GXGraph[(SrcDistSig, Boolean), Double] = graph.mapVertices { (vid, _) =>
      val si = java.util.Arrays.binarySearch(srcVids, vid)
      (if (si >= 0) new SrcDistSig(Array(si), Array(0.0), Array(1.0))
       else SrcDistSig.empty, true)
    }.cache()
    val sc = graph.vertices.sparkContext
    var iter = 0
    var changed = true
    while (changed && iter < maxIters) {
      val msgs = fw.aggregateMessages[SrcDistSig](
        ctx => if (!ctx.srcAttr._1.isEmpty) {
          val s = ctx.srcAttr._1
          val w = ctx.attr
          val nd = new Array[Double](s.dist.length)
          var i = 0
          while (i < nd.length) { nd(i) = s.dist(i) + w; i += 1 }
          // idx/sig are immutable-by-convention, so sharing them with the
          // source state is safe (serialization copies per message)
          ctx.sendToDst(new SrcDistSig(s.idx, nd, s.sig))
        },
        SrcDistSig.merge)
      val next = fw.outerJoinVertices(msgs) { (vid, old, m) =>
        val recount = m.getOrElse(SrcDistSig.empty)
        val si = java.util.Arrays.binarySearch(srcVids, vid)
        val state = if (si >= 0) SrcDistSig.withSelf(recount, si) else recount
        (state, !state.same(old._1))
      }.cache()
      // the ONE job per round: counts changed edge-adjacent vertices and
      // (transitively) materializes msgs, next.vertices, and the new
      // replicated view — an aggregateMessages whose view still pointed at
      // an unpersisted predecessor would re-derive the whole round chain
      // (quadratic in rounds — measured 5x per-round cliff at 8k nodes)
      changed = withJobDescription(sc, s"brandes/p1/round=${iter + 1}") {
        next.triplets.filter(t => t.srcAttr._2 || t.dstAttr._2).count() > 0
      }
      fw.unpersistVertices(blocking = false)
      fw.edges.unpersist(blocking = false)
      fw = next
      iter += 1
    }
    // ---- phase 2: dependency δ back up each source's shortest-path DAG ----
    // same (state..., changed) + triplets-count protocol as phase 1
    var bw: GXGraph[(SrcDistSig, DeltaVec, Boolean), Double] =
      fw.mapVertices((_, ds) => (ds._1, DeltaVec.empty, true)).cache()
    changed = true
    iter = 0
    while (changed && iter < maxIters) {
      val msgs = bw.aggregateMessages[DeltaVec](
        ctx => {
          // merge-join the edge ends' per-source states (both idx-sorted);
          // a source contributes when dst lies on one of its shortest
          // paths through this edge: σdst > 0 and dist(src) + w bit-equal
          // dist(dst). The dst delta pointer `l` only ever advances — the
          // matched idx sequence is ascending.
          val s = ctx.srcAttr._1
          val dAtt = ctx.dstAttr._1
          val dDel = ctx.dstAttr._2
          val w = ctx.attr
          val cap = math.min(s.idx.length, dAtt.idx.length)
          val oi = new Array[Int](cap)
          val od = new Array[Double](cap)
          var i = 0; var j = 0; var l = 0; var k = 0
          while (i < s.idx.length && j < dAtt.idx.length) {
            val si = s.idx(i); val dj = dAtt.idx(j)
            if (si < dj) i += 1
            else if (dj < si) j += 1
            else {
              val dsig = dAtt.sig(j)
              if (dsig > 0 && s.dist(i) + w == dAtt.dist(j)) {
                while (l < dDel.idx.length && dDel.idx(l) < si) l += 1
                val delta =
                  if (l < dDel.idx.length && dDel.idx(l) == si) dDel.del(l)
                  else 0.0
                oi(k) = si
                od(k) = s.sig(i) / dsig * (1.0 + delta)
                k += 1
              }
              i += 1; j += 1
            }
          }
          if (k > 0) ctx.sendToSrc(new DeltaVec(
            java.util.Arrays.copyOf(oi, k), java.util.Arrays.copyOf(od, k)))
        },
        DeltaVec.merge)
      val next = bw.outerJoinVertices(msgs) { (_, old, m) =>
        val nd = m.getOrElse(DeltaVec.empty)
        (old._1, nd, !nd.same(old._2))
      }.cache()
      changed = withJobDescription(sc, s"brandes/p2/round=${iter + 1}") {
        next.triplets.filter(t => t.srcAttr._3 || t.dstAttr._3).count() > 0
      }
      bw.unpersistVertices(blocking = false)
      bw.edges.unpersist(blocking = false)
      bw = next
      iter += 1
    }
    val deltas = bw.vertices
      .flatMap { case (vid, (_, dv, _)) =>
        // own-source term excluded; ascending-idx fold is the canonical
        // (partitioning-independent) summation order
        var total = 0.0
        var i = 0
        while (i < dv.idx.length) {
          if (srcVids(dv.idx(i)) != vid) total += dv.del(i)
          i += 1
        }
        if (total != 0.0) Iterator((vid, total)) else Iterator.empty
      }.cache()
    deltas.count()
    fw.unpersistVertices(blocking = false)
    fw.edges.unpersist(blocking = false)
    bw.unpersistVertices(blocking = false)
    bw.edges.unpersist(blocking = false)
    deltas
  }

  /** Driver-side exact Brandes on the graph's cached [[GraphIndex]] — the
    * interactive path for gated graph sizes and the independent reference
    * implementation the distributed fixpoint is tested against, so it keeps
    * its own loop rather than the [[search]] kernel (it also counts
    * equal-cost paths). Returns every node-table node (zeros included) and
    * every other node some source reached.
    */
  def betweennessLocal(g: PropertyGraph, weightCol: String,
      sources: Option[Seq[String]] = None): Map[String, Double] = {
    require(g.size() <= LocalPathMaxEdges,
      s"graph exceeds $LocalPathMaxEdges edges; use betweenness() (distributed)")
    val ix = g.routeIndex(weightCol)
    val n = ix.size
    val bc = new Array[Double](n)
    val scored = Array.tabulate(n)(_ < ix.tableNodes)
    val srcs = sources.getOrElse(ix.ids.take(ix.tableNodes).toSeq).distinct
      .map(ix.id).filter(_ >= 0)
    srcs.foreach { s =>
      val dist = Array.fill(n)(Double.PositiveInfinity)
      val sigma = new Array[Double](n)
      val preds = Array.fill[List[Int]](n)(Nil) // newest first
      val settled = mutable.ArrayBuffer[Int]()
      val done = new Array[Boolean](n)
      val pq = mutable.PriorityQueue[(Double, Int)]()(
        Ordering.by[(Double, Int), Double](_._1).reverse)
      dist(s) = 0.0; sigma(s) = 1.0
      pq.enqueue((0.0, s))
      while (pq.nonEmpty) {
        val (d, v) = pq.dequeue()
        if (!done(v)) {
          done(v) = true
          settled += v
          var e = ix.offsets(v)
          while (e < ix.offsets(v + 1)) {
            val w = ix.targets(e)
            val nd = d + ix.weights(e)
            if (nd < dist(w)) {
              dist(w) = nd
              sigma(w) = sigma(v)
              preds(w) = v :: Nil
              pq.enqueue((nd, w))
            } else if (nd == dist(w)) {
              sigma(w) += sigma(v)
              preds(w) = v :: preds(w)
            }
            e += 1
          }
        }
      }
      val delta = new Array[Double](n)
      settled.reverseIterator.foreach { w =>
        preds(w).reverseIterator.foreach { v =>
          delta(v) += sigma(v) / sigma(w) * (1.0 + delta(w))
        }
        if (w != s) { bc(w) += delta(w); scored(w) = true }
      }
    }
    (0 until n).iterator.filter(scored).map(i => ix.ids(i) -> bc(i)).toMap
  }
}
