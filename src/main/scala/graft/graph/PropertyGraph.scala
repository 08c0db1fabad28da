package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.geo.GeoFunctions
import graft.route.GraphIndex

/** A directed property graph as two DataFrames — the Spark-native
  * equivalent of the reference's `GeoPackageNetwork` + `DiGraphDB`
  * (`geopackagenetwork/__init__.py:9-85`,
  * `graphs/digraphdb/__init__.py:16-167`).
  *
  * Invariants:
  *  - `edges(_u, _v)` is last-wins only between [[addEdges]] batches
  *    (`feature_table.py:601-613`), which leave one row per key; ingest
  *    does not dedup (`fromGeoJson` keeps one row per feature, so two
  *    features between the same endpoints give two rows per direction);
  *  - `nodes(_n)` unique, derived from edge endpoints
  *    (`edge_table.py:5-33`).
  *
  * All accessors are lazy DataFrames: point lookups become pushed-down
  * predicates on parquet (key-sorted layout → row-group pruning does the
  * B-tree index's job, SURVEY §4); bulk/traversal workloads get the whole
  * adjacency as a distributed join/aggregation instead of the reference's
  * SQL-query-per-node protocol (`outer_adjlists.py`/`inner_adjlists.py`).
  */
class PropertyGraph(val nodes: DataFrame, val edges: DataFrame,
    val cellDeg: Double = graft.spatial.Spatial.DefaultCellDeg,
    /** Physical cell-partitioned layout (one row per overlapped grid cell,
      * from a stored package); spatial queries prune it and keep one copy
      * per edge, while `edges` is the logical set that counts/joins use.
      */
    val spatialEdges: Option[DataFrame] = None) {

  // ---- spatial queries (G1-G3), on the duplicated physical layout when
  // loaded from a package, with this graph's grid-cell size ----
  def intersects(left: Double, bottom: Double, right: Double, top: Double): DataFrame =
    graft.spatial.Spatial.intersects(spatialEdges.getOrElse(edges),
      left, bottom, right, top, cellDeg)

  def dwithin(lon: Double, lat: Double, distance: Double, sort: Boolean = false): DataFrame =
    graft.spatial.Spatial.dwithin(spatialEdges.getOrElse(edges),
      lon, lat, distance, sort, cellDeg)

  def nearestK(lon: Double, lat: Double, k: Int, radius: Double = 10000.0): DataFrame =
    graft.spatial.Spatial.nearestK(spatialEdges.getOrElse(edges),
      lon, lat, k, radius, cellDeg)

  /** Node-radius query (ref `nodes_dwithin`: `node_table.py:6-8`, facade
    * `graphs/digraphdb/__init__.py:84-86`) — the same candidate-prune +
    * exact-refine kernel as the edge query, over the nodes frame. A node's
    * Point geometry rides as a 1-vertex polyline through the shared kernel
    * and comes back in Point shape; geometry-less nodes are never within
    * any radius (null envelope), matching the reference's rtree behavior.
    */
  def nodesDwithin(lon: Double, lat: Double, distance: Double,
      sort: Boolean = false): DataFrame = {
    val asLine = nodes.withColumn("geom",
      struct(col("geom.type").as("type"), array(col("geom.coordinates")).as("coordinates")))
    graft.spatial.Spatial.dwithin(asLine, lon, lat, distance, sort, cellDeg)
      .withColumn("geom", struct(col("geom.type").as("type"),
        element_at(col("geom.coordinates"), 1).as("coordinates")))
  }

  // ---- point lookups (P1-P3) ----
  /** Edge attributes for (u,v) (ref `edge_table.py:136-145`). */
  def getEdge(u: String, v: String): DataFrame =
    edges.filter(col("_u") === u && col("_v") === v)

  /** Node attributes (ref `node_table.py:13-25`). */
  def getNode(n: String): DataFrame = nodes.filter(col("_n") === n)

  /** Membership (ref `geopackagenetwork/__init__.py:87-99`). */
  def hasNode(n: String): Boolean = !getNode(n).isEmpty

  def hasEdge(u: String, v: String): Boolean = !getEdge(u, v).isEmpty

  // ---- adjacency (P4/P5) ----
  /** Out-edges of n as (v, attrs) rows (ref `edge_table.py:83-93`). */
  def successors(n: String): DataFrame = edges.filter(col("_u") === n)

  /** In-edges of n (ref `edge_table.py:95-102`). */
  def predecessors(n: String): DataFrame = edges.filter(col("_v") === n)

  /** Distinct successor node ids; whole-graph when n is None
    * (ref `edge_table.py:59-81`).
    */
  def successorNodes(n: Option[String] = None): DataFrame = {
    val base = n.map(x => edges.filter(col("_u") === x)).getOrElse(edges)
    base.select(col("_v").as("_n")).distinct()
  }

  def predecessorNodes(n: Option[String] = None): DataFrame = {
    val base = n.map(x => edges.filter(col("_v") === x)).getOrElse(edges)
    base.select(col("_u").as("_n")).distinct()
  }

  // ---- aggregates (A1-A3) ----
  /** Node / edge counts (ref `feature_table.py:615-619`). Counts are
    * cached per instance — every mutation returns a new graph, so they
    * never change (saves a job on repeated size()/routing dispatch).
    */
  private lazy val nodeCount: Long = nodes.count()
  private lazy val edgeCount: Long = edges.count()
  def order(): Long = nodeCount
  def size(): Long = edgeCount

  /** The driver-side routing index on `weightCol`, built by the first call
    * and kept per weight column — safe for the same reason as the counts.
    */
  private val routeIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, GraphIndex[String]]()
  private[graft] def routeIndex(weightCol: String): GraphIndex[String] =
    routeIndexes.computeIfAbsent(weightCol, w => GraphIndex.build(this, w))

  /** Sum of a weight column over all edges, or edge count when absent
    * (nx `size(weight)`, ref `graphs/digraphdb/__init__.py:62-66`).
    * Null/empty sums are 0; integer weight columns are widened.
    */
  def size(weight: String): Double =
    if (!edges.columns.contains(weight)) size().toDouble
    else edges.agg(coalesce(sum(col(weight).cast("double")), lit(0.0)))
      .head.getDouble(0)

  /** Out-degree of one node — the documented intent of the reference's
    * `unique_successors` (whose own WHERE clause self-counts `_u`, a latent
    * bug per SURVEY §2.3 A2; we implement COUNT(DISTINCT _v)).
    */
  def uniqueSuccessors(n: String): Long =
    successors(n).select("_v").distinct().count()

  def uniquePredecessors(n: String): Long =
    predecessors(n).select("_u").distinct().count()

  /** All out-degrees in one pass — the scale-correct form of per-node
    * degree queries: single shuffle, partial aggregation map-side.
    */
  def outDegrees: DataFrame =
    edges.groupBy("_u").agg(countDistinct("_v").as("out_degree"))

  def inDegrees: DataFrame =
    edges.groupBy("_v").agg(countDistinct("_u").as("in_degree"))

  // ---- iteration (S11/S12) ----
  /** (u, v, attrs) projection (ref `graphs/digraphdb/__init__.py:68-82`). */
  def iterEdges(): Iterator[Row] = {
    import scala.jdk.CollectionConverters._
    edges.toLocalIterator().asScala
  }

  // ---- write path (S5/S7/M1-M3) ----
  /** Upsert edges with last-wins semantics on (_u,_v)
    * (ref REPLACE INTO, `feature_table.py:601-613`): the new batch beats
    * existing rows (batch-granularity last-wins — a DataFrame has no
    * intra-batch row order to honor). Schema evolution =
    * unionByName(allowMissingColumns) — the reference's incremental
    * ALTER TABLE (`feature_table.py:475-496`).
    */
  def addEdges(newEdges: DataFrame): PropertyGraph = {
    import graft.spatial.Spatial
    // stale spatial columns would otherwise survive the union as nulls on
    // the new rows and silently hide them from every spatial query — strip
    // them; they are recomputed at the next package save
    val spatialCols = Seq(Spatial.BBoxCol, Spatial.CellCol).filter(edges.columns.contains)
    val old = edges.drop(spatialCols: _*).withColumn("_gen", lit(0L))
    val add = newEdges.withColumn("_gen", lit(1L))
    val all = old.unionByName(add, allowMissingColumns = true)
    val w = Window.partitionBy("_u", "_v").orderBy(col("_gen").desc)
    val merged = all
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_gen")
    // endpoint nodes always derive from the new edges (ref
    // edge_table.py:5-33) — with a Point geometry when available
    val newNodes =
      if (newEdges.columns.contains("geom"))
        graft.ingest.GeoJsonIngest.deriveNodes(newEdges)
      else newEdges.select(explode(array(col("_u"), col("_v"))).as("_n")).distinct()
    val mergedNodes = nodes
      .unionByName(newNodes, allowMissingColumns = true)
      .dropDuplicates("_n")
    new PropertyGraph(mergedNodes, merged, cellDeg)
  }

  /** Batch update of edge attributes by key — read-modify-write join
    * (ref `update_batch`/`EdgeTable.update`, `feature_table.py:237-263`,
    * `edge_table.py:39-57`). `updates` carries (_u, _v, <cols to set>);
    * unmentioned columns keep their value, new columns are added (the
    * reference's auto-ALTER).
    */
  def updateEdges(updates: DataFrame): PropertyGraph = {
    import graft.spatial.Spatial
    val updCols = updates.columns.filterNot(c => c == "_u" || c == "_v")
    // same rationale as addEdges: when geometries move, the stored _bbox/_cell
    // become stale, and Spatial.ensureBBox keeps an existing _bbox — so spatial
    // queries would silently use the old extents; strip and let the next
    // package save (or ensureBBox) recompute them
    val edges0 =
      if (updCols.contains("geom"))
        edges.drop(Seq(Spatial.BBoxCol, Spatial.CellCol).filter(edges.columns.contains): _*)
      else edges
    // duplicate update keys would fan matched edges out through the join,
    // breaking the (_u,_v)-unique invariant; a DataFrame batch has no row
    // order to honor, so keep one arbitrary-but-single row per key
    val renamed = updCols.foldLeft(updates.dropDuplicates("_u", "_v"))(
      (d, c) => d.withColumnRenamed(c, s"_upd_$c"))
    val joined = edges0.join(renamed, Seq("_u", "_v"), "left")
    val out = updCols.foldLeft(joined) { (d, c) =>
      if (edges0.columns.contains(c))
        d.withColumn(c, coalesce(col(s"_upd_$c"), col(c)))
      else d.withColumn(c, col(s"_upd_$c"))
    }
    new PropertyGraph(nodes, out.drop(updCols.map(c => s"_upd_$c"): _*), cellDeg)
  }

  // ---- per-attribute mutation (M4) ----
  /** Set one attribute on one edge (ref `EdgeDict.__setitem__`,
    * `graphs/digraphdb/edges.py:25-31`, which routes through
    * `edges.update((u, v, {key: value}))`). Expressed as a conditional
    * projection — cheaper than the batch join for a single key, and the
    * same single narrow-dependency map stage at any scale. New keys appear
    * as a new column (the reference's auto-ALTER), null elsewhere.
    * Geometry must go through [[updateEdges]], which also invalidates the
    * stored spatial columns.
    */
  def setEdgeAttr(u: String, v: String, key: String, value: Any): PropertyGraph = {
    require(key != "_u" && key != "_v", s"key columns are immutable: $key")
    require(key != "geom", "set geometry via updateEdges (spatial columns must refresh)")
    val hit = col("_u") === u && col("_v") === v
    val newCol = if (edges.columns.contains(key))
      when(hit, lit(value)).otherwise(col(key)) else when(hit, lit(value))
    new PropertyGraph(nodes, edges.withColumn(key, newCol), cellDeg)
  }

  /** Delete one attribute from one edge — nulls it, the columnar form of
    * the reference's `__delitem__` → `{key: None}` → SQL NULL
    * (`edges.py:33-39`).
    */
  def removeEdgeAttr(u: String, v: String, key: String): PropertyGraph =
    setEdgeAttr(u, v, key, null)

  /** Set one attribute on one node. The reference's `Node.__setitem__`
    * targets `network.set_node_attr`, which is never defined
    * (`nodes.py:140-147`, SURVEY §2.6 M4 dead-code note) — this implements
    * the documented intent with the edge-setter's semantics.
    */
  def setNodeAttr(n: String, key: String, value: Any): PropertyGraph = {
    require(key != "_n", "key column is immutable: _n")
    val hit = col("_n") === n
    val newCol = if (nodes.columns.contains(key))
      when(hit, lit(value)).otherwise(col(key)) else when(hit, lit(value))
    new PropertyGraph(nodes.withColumn(key, newCol), edges, cellDeg)
  }

  def removeNodeAttr(n: String, key: String): PropertyGraph =
    setNodeAttr(n, key, null)

  // ---- memory/promotion (S10) ----
  /** Pin both tables in executor memory (ref `to_in_memory`,
    * `graphs/digraphdb/__init__.py:88-93`).
    */
  def toInMemory(): PropertyGraph = {
    nodes.persist(StorageLevel.MEMORY_AND_DISK)
    edges.persist(StorageLevel.MEMORY_AND_DISK)
    this
  }

  /** Read-only facade (ref `DiGraphDBView`,
    * `graphs/digraphdb/__init__.py:16-93`): exposes no write methods at the
    * type level instead of raising ImmutableGraphError at runtime.
    */
  def view: PropertyGraphView = new PropertyGraphView(nodes, edges, cellDeg, spatialEdges)
}

/** Immutable view: same read surface, no write methods (ref M5). */
final class PropertyGraphView(nodes: DataFrame, edges: DataFrame,
    cellDeg: Double = graft.spatial.Spatial.DefaultCellDeg,
    spatialEdges: Option[DataFrame] = None)
    extends PropertyGraph(nodes, edges, cellDeg, spatialEdges) {
  override def addEdges(newEdges: DataFrame): PropertyGraph =
    throw new UnsupportedOperationException("immutable graph view")
  override def updateEdges(updates: DataFrame): PropertyGraph =
    throw new UnsupportedOperationException("immutable graph view")
  override def setEdgeAttr(u: String, v: String, key: String, value: Any): PropertyGraph =
    throw new UnsupportedOperationException("immutable graph view")
  override def setNodeAttr(n: String, key: String, value: Any): PropertyGraph =
    throw new UnsupportedOperationException("immutable graph view")
}

object PropertyGraph {
  /** Build from geo-file paths (ref build pipeline `build.py:24-61`; the
    * reference ingests any fiona-readable format, `io.py:10-13`).
    * `.geojsonl`/`.ndjson`/`.jsonl` files use the splittable
    * newline-delimited reader, `.shp` the shapefile reader, `.kml` the
    * KML reader, `.gpkg` the byte-level GeoPackage reader (its edges
    * already carry reversals and node ids, so they union in as-is),
    * anything else the GeoJSON FeatureCollection reader.
    */
  def fromGeoJson(spark: org.apache.spark.sql.SparkSession, paths: Seq[String],
      opts: graft.ingest.GeoJsonIngest.Options = graft.ingest.GeoJsonIngest.Options()): PropertyGraph = {
    val (gpkg, rest4) = paths.partition(_.toLowerCase.endsWith(".gpkg"))
    val (pbf, rest3) = rest4.partition(_.toLowerCase.endsWith(".pbf"))
    val (kml, rest2) = rest3.partition(_.toLowerCase.endsWith(".kml"))
    val (gml, rest1) = rest2.partition(_.toLowerCase.endsWith(".gml"))
    val (osm, rest0) = rest1.partition(_.toLowerCase.endsWith(".osm"))
    val (shp, rest) = rest0.partition(_.toLowerCase.endsWith(".shp"))
    val (seq, fc) = rest.partition(p =>
      p.endsWith(".geojsonl") || p.endsWith(".ndjson") || p.endsWith(".jsonl"))
    val parts = Seq(
      if (fc.nonEmpty) Some(graft.ingest.GeoJsonIngest.readEdges(spark, fc, opts)) else None,
      if (seq.nonEmpty) Some(graft.ingest.GeoJsonIngest.readEdgesSeq(spark, seq, opts)) else None,
      if (shp.nonEmpty) Some(graft.ingest.ShapefileIngest.readEdges(spark, shp, opts)) else None,
      if (kml.nonEmpty) Some(graft.ingest.KmlIngest.readEdges(spark, kml, opts)) else None,
      if (gml.nonEmpty) Some(graft.ingest.GmlIngest.readEdges(spark, gml, opts)) else None,
      if (osm.nonEmpty) Some(graft.ingest.OsmIngest.readEdges(spark, osm, opts)) else None,
      if (pbf.nonEmpty) Some(graft.ingest.OsmPbfIngest.readEdges(spark, pbf, opts)) else None
    ).flatten ++ gpkg.map(p => graft.store.GeoPackageFile.importGraph(spark, p).edges)
    // each reader numbers fids from 1; offset later parts so fids stay
    // unique across mixed-format builds
    val e = parts.reduce { (a, b) =>
      val merged =
        if (opts.assignFids && a.columns.contains("fid") && b.columns.contains("fid")) {
          val offset = a.agg(org.apache.spark.sql.functions.max("fid")).head.getLong(0)
          a.unionByName(
            b.withColumn("fid", org.apache.spark.sql.functions.col("fid") + offset),
            allowMissingColumns = true)
        } else a.unionByName(b, allowMissingColumns = true)
      merged
    }
    new PropertyGraph(graft.ingest.GeoJsonIngest.deriveNodes(e), e)
  }
}
