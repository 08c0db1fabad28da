package graft.route

import scala.reflect.ClassTag

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.graph.PropertyGraph

/** One graph compacted for driver-side search ([[Route.search]]): node ids
  * as dense `Int`s, coordinates and a CSR out-adjacency as primitive arrays.
  *
  *  - Int id `i` names `ids(i)`: node-table ids first, in collect order,
  *    then endpoints that only edges mention.
  *  - `i < tableNodes` marks a node-table node (route endpoints and
  *    landmarks must be one).
  *  - `lon(i)`/`lat(i)` are `NaN` where the node has no point geometry.
  *  - Node `i`'s out-edges are `targets`/`weights` at `offsets(i)` until
  *    `offsets(i + 1)`, in edge-collect order (a stable counting sort), so
  *    equal-cost ties resolve in the order the edges were read.
  *
  * [[PropertyGraph.routeIndex]] keeps one per weight column on the graph
  * instance; a graph never changes once built, so the index never goes stale.
  */
private[graft] final class GraphIndex[K] private (
    val ids: Array[K],
    val tableNodes: Int,
    val lon: Array[Double],
    val lat: Array[Double],
    val offsets: Array[Int],
    val targets: Array[Int],
    val weights: Array[Double],
    idOf: java.util.HashMap[K, Integer]) {

  def size: Int = ids.length

  /** Int id of `k`, or -1 when no node or edge names it. */
  def id(k: K): Int = { val i = idOf.get(k); if (i == null) -1 else i.intValue }

  /** Int id of `k` when it is in the node table, else -1. */
  def nodeId(k: K): Int = { val i = id(k); if (i < tableNodes) i else -1 }
}

private[graft] object GraphIndex {

  /** Builds the index of `g` on `weightCol`: one collect of the node table
    * (ids, plus point coordinates when `geom` has them) and one of the
    * edges with a non-null weight. Both jobs carry the description
    * `route/index weight=<weightCol>`.
    */
  def build(g: PropertyGraph, weightCol: String): GraphIndex[String] =
    Route.withJobDescription(g.nodes.sparkSession.sparkContext,
        s"route/index weight=$weightCol") {
      val hasCoords = g.nodes.schema.find(_.name == "geom").map(_.dataType).exists {
        case s: StructType => s.fieldNames.contains("coordinates")
        case _ => false
      }
      val nodeRows = g.nodes
        .select(col("_n") +: (if (hasCoords) Seq(col("geom.coordinates")) else Nil): _*)
        .collect()
      val lon = Array.fill(nodeRows.length)(Double.NaN)
      val lat = Array.fill(nodeRows.length)(Double.NaN)
      if (hasCoords) nodeRows.indices.foreach { i =>
        val c = nodeRows(i).getSeq[Double](1)
        if (c != null && c.length >= 2) { lon(i) = c.head; lat(i) = c(1) }
      }
      val edgeRows = g.edges
        .filter(col(weightCol).isNotNull)
        .select(col("_u"), col("_v"), col(weightCol).cast("double"))
        .collect()
      apply(nodeRows.map(_.getString(0)), lon, lat,
        edgeRows.map(_.getString(0)), edgeRows.map(_.getString(1)),
        edgeRows.map(_.getDouble(2)))
    }

  /** Index over the node-table ids `table` (coordinates aligned with it,
    * `NaN` for none; a repeated id keeps its first position and its last
    * coordinates) and the directed edges `us(k) -> vs(k)` of weight `ws(k)`.
    */
  def apply[K: ClassTag](table: Array[K], tableLon: Array[Double], tableLat: Array[Double],
      us: Array[K], vs: Array[K], ws: Array[Double]): GraphIndex[K] = {
    val idOf = new java.util.HashMap[K, Integer](table.length * 4 / 3 + 16)
    val ids = Array.newBuilder[K]
    def intern(k: K): Int = {
      val known = idOf.get(k)
      if (known != null) known.intValue
      else { val i = idOf.size; idOf.put(k, i); ids += k; i }
    }
    val tableIds = table.map(intern)
    val tableNodes = idOf.size
    val src = new Array[Int](us.length)
    val dst = new Array[Int](us.length)
    var k = 0
    while (k < us.length) { src(k) = intern(us(k)); dst(k) = intern(vs(k)); k += 1 }
    val allIds = ids.result()
    val n = allIds.length
    val lon = Array.fill(n)(Double.NaN)
    val lat = Array.fill(n)(Double.NaN)
    tableIds.indices.foreach { i => lon(tableIds(i)) = tableLon(i); lat(tableIds(i)) = tableLat(i) }
    // stable counting sort of the edges by source
    val offsets = new Array[Int](n + 1)
    src.foreach(s => offsets(s + 1) += 1)
    var i = 0
    while (i < n) { offsets(i + 1) += offsets(i); i += 1 }
    val fill = java.util.Arrays.copyOf(offsets, n)
    val targets = new Array[Int](src.length)
    val weights = new Array[Double](src.length)
    k = 0
    while (k < src.length) {
      val at = fill(src(k))
      targets(at) = dst(k); weights(at) = ws(k)
      fill(src(k)) = at + 1
      k += 1
    }
    new GraphIndex(allIds, tableNodes, lon, lat, offsets, targets, weights, idOf)
  }
}
