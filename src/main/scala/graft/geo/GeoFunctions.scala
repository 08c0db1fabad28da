package graft.geo

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level geometry functions.
  *
  * Everything that can stay inside whole-stage codegen uses built-in
  * higher-order functions (`zip_with`/`aggregate`/`transform`); only the
  * point-to-polyline refinement is a Scala UDF (applied post-prune to a
  * small candidate set, so it is never the scan bottleneck).
  *
  * Geometry layout: `struct<type: string, coordinates: array<array<double>>>`
  * for LineString; a Point is `array<double>` — fully columnar, mirroring the
  * reference's GeoJSON dicts (`io.py:17,44-46`) without a per-row codec
  * (`feature_table.py:572-599`).
  */
object GeoFunctions {

  /** Haversine between two `[lon, lat]` arrays, meters — codegen-friendly. */
  def haversineSegment(a: Column, b: Column): Column = {
    val lat1 = radians(a.getItem(1)); val lat2 = radians(b.getItem(1))
    val dLat = lat2 - lat1
    val dLon = radians(b.getItem(0) - a.getItem(0))
    val h = pow(sin(dLat / 2), 2) + cos(lat1) * cos(lat2) * pow(sin(dLon / 2), 2)
    lit(2.0 * Geo.EarthRadiusM) * asin(sqrt(h))
  }

  /** Polyline length in meters over a `array<array<double>>` coords column
    * (ref `_length`, `feature_table.py:566-567` + `utils.py:7-33`).
    * Pure built-ins: zip consecutive points, sum haversine of each segment.
    */
  def lineLengthMeters(coords: Column): Column = {
    val n = size(coords)
    val segs = zip_with(
      slice(coords, lit(1), greatest(n - 1, lit(0))),
      slice(coords, lit(2), greatest(n - 1, lit(0))),
      (a, b) => haversineSegment(a, b))
    aggregate(segs, lit(0.0), (acc, x) => acc + coalesce(x, lit(0.0)))
  }

  /** Envelope struct (min_x, min_y, max_x, max_y) of a coords column —
    * the columnar stand-in for the reference's R-tree MBR rows
    * (`feature_table.py:301-311`). Parquet min/max stats on these four
    * doubles give row-group pruning for bbox predicates.
    */
  def envelope(coords: Column): Column = {
    val xs = transform(coords, c => c.getItem(0))
    val ys = transform(coords, c => c.getItem(1))
    struct(
      array_min(xs).as("min_x"), array_min(ys).as("min_y"),
      array_max(xs).as("max_x"), array_max(ys).as("max_y"))
  }

  /** bbox-intersects predicate against an envelope struct column
    * (ref `feature_table.py:135-146`: maxX>=left AND minX<=right AND
    * maxY>=bottom AND minY<=top).
    */
  def bboxIntersects(bbox: Column, left: Double, bottom: Double,
      right: Double, top: Double): Column =
    bbox.getField("max_x") >= left && bbox.getField("min_x") <= right &&
      bbox.getField("max_y") >= bottom && bbox.getField("min_y") <= top

  /** Grid-cell id for spatial partition pruning at scale: floor of lon/lat
    * over a cell size in degrees. Data partitioned/sorted by cell makes a
    * bbox query touch only the overlapping files (SURVEY §4).
    */
  def gridCell(lon: Column, lat: Column, cellDeg: Double): Column =
    (floor((lat + 90.0) / cellDeg) * lit(100000L) +
      floor((lon + 180.0) / cellDeg)).cast("long")

  /** [[gridCell]] on doubles, for every cell a lon/lat box overlaps, row
    * by row (the write-side explode and the read-side prune); None unless
    * the rows × columns count is in 1 to `maxCells`.
    */
  def gridCells(minX: Double, minY: Double, maxX: Double, maxY: Double,
      cellDeg: Double, maxCells: Int): Option[Array[Long]] = {
    def at(deg: Double, offset: Double) = math.floor((deg + offset) / cellDeg).toLong
    val r0 = at(minY, 90.0)
    val c0 = at(minX, 180.0)
    val rows = at(maxY, 90.0) - r0 + 1
    val cols = at(maxX, 180.0) - c0 + 1
    if (rows * cols <= 0 || rows * cols > maxCells) return None
    // a box inverted on both axes has a positive count but no cell
    val out = new Array[Long](if (rows < 0) 0 else (rows * cols).toInt)
    var i = 0
    while (i < out.length) { out(i) = (r0 + i / cols) * 100000L + c0 + i % cols; i += 1 }
    Some(out)
  }

  /** Node id "{lon}, {lat}" with Python-repr formatting (ref `io.py:21-29`). */
  val nodeIdUdf = udf((lon: Double, lat: Double, p: Int) => Geo.nodeId(lon, lat, p))

  def nodeId(lon: Column, lat: Column, precision: Int): Column =
    nodeIdUdf(lon, lat, lit(precision))

  /** Exact point→polyline distance in meters (refine stage of dwithin,
    * ref `feature_table.py:198-235`). UDF on purpose: runs only on the
    * bbox-pruned candidate set.
    */
  val pointLineDistanceUdf =
    udf((lon: Double, lat: Double, coords: Seq[Seq[Double]]) =>
      Geo.pointPolylineDistance(lon, lat, coords.map(_.toArray)))

  def pointLineDistance(lon: Double, lat: Double, coords: Column): Column =
    pointLineDistanceUdf(lit(lon), lit(lat), coords)
}
