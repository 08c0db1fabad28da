package graft.spatial

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.geo.{Geo, GeoFunctions}

/** Spatial query surface — candidate-prune + exact-refine, the reference's
  * R-tree scheme (`feature_table.py:120-235`) re-expressed as columnar
  * pruning:
  *
  *  - `withSpatialColumns` materializes an envelope struct + grid-cell id at
  *    write time (the "index build", ref `add_rtree`
  *    `feature_table.py:265-414`) — parquet row-group min/max stats on the
  *    four envelope doubles plus cell-partitioned layout replace the R-tree;
  *  - `intersects` is a plain predicate on those columns (pushed to the
  *    scan);
  *  - `dwithin` expands the query point by `distance` meters in lon/lat (the
  *    reference's project→buffer→inverse-project dance,
  *    `feature_table.py:164-196`, done directly on the sphere), prunes on
  *    bbox, then refines with the exact point→polyline distance, strict
  *    `< distance`, optional nearest-first sort (`feature_table.py:198-235`).
  */
object Spatial {

  val BBoxCol = "_bbox"
  val CellCol = "_cell"

  /** Default grid-cell size for spatial partitioning: ~1.1 km at the
    * equator. Coarse enough that a metro-area graph spans few cells, fine
    * enough that a dwithin query prunes to a handful of files at 100 TB.
    */
  val DefaultCellDeg: Double = 0.01

  /** Cap on per-edge cell duplication; geometries overlapping more cells
    * land in the catch-all cell, which every pruned scan includes.
    */
  val MaxCellsPerEdge = 64
  val CatchAllCell: Long = -1L

  /** Materialize the envelope plus one row per overlapped grid cell —
    * an edge spanning several cells is stored in each (standard grid-file
    * duplication), so cell pruning can never drop a long edge. Readers keep
    * one copy per edge with [[homeCell]], a row filter, not a dedup.
    */
  def withSpatialColumns(edges: DataFrame, cellDeg: Double = DefaultCellDeg): DataFrame = {
    val cs = col("geom.coordinates")
    val withBox = edges.withColumn(BBoxCol, GeoFunctions.envelope(cs))
    val cellsUdf = udf((minX: Double, minY: Double, maxX: Double, maxY: Double) =>
      coveredCells(minX, minY, maxX, maxY, cellDeg))
    // geometry-less edges (the reference's plain add_edges((u,v,attrs))
    // surface) have a null envelope, which null-skips the UDF — without the
    // coalesce the explode would silently DROP those rows at save time;
    // they belong in the always-scanned catch-all cell instead
    withBox.withColumn(CellCol,
      explode(coalesce(
        cellsUdf(col(s"$BBoxCol.min_x"), col(s"$BBoxCol.min_y"),
          col(s"$BBoxCol.max_x"), col(s"$BBoxCol.max_y")),
        array(lit(CatchAllCell)))))
  }

  /** An envelope's `_cell` ids: the catch-all alone past [[MaxCellsPerEdge]]. */
  private[graft] def coveredCells(minX: Double, minY: Double,
      maxX: Double, maxY: Double, cellDeg: Double): Array[Long] =
    GeoFunctions.gridCells(minX, minY, maxX, maxY, cellDeg, MaxCellsPerEdge)
      .getOrElse(Array(CatchAllCell))

  /** Reference-point duplicate avoidance (Dittrich and Seeger, ICDE 2000):
    * keep the copy whose `_cell` holds (x, y), a point in the edge's
    * envelope (same arithmetic as [[coveredCells]]), and catch-all rows.
    */
  private[graft] def homeCell(x: Column, y: Column, cellDeg: Double): Column =
    col(CellCol) === CatchAllCell || col(CellCol) === GeoFunctions.gridCell(x, y, cellDeg)

  private def ensureBBox(edges: DataFrame): DataFrame =
    if (edges.columns.contains(BBoxCol)) edges
    else edges.withColumn(BBoxCol, GeoFunctions.envelope(col("geom.coordinates")))

  /** Grid cells overlapping a query bbox (plus the catch-all cell for
    * geometries too large to duplicate); None past 4,096 cells, where a
    * scan beats the `isin`.
    */
  private[graft] def cellsFor(left: Double, bottom: Double, right: Double,
      top: Double, cellDeg: Double): Option[Seq[Long]] =
    GeoFunctions.gridCells(left, bottom, right, top, cellDeg, 4096)
      .map(cells => (cells :+ CatchAllCell).toSeq)

  /** Features whose MBR intersects the bbox (ref `feature_table.py:120-162`).
    * When the frame carries the `_cell` partition column, a derived
    * cell-set predicate turns the query into a partition-pruned scan —
    * the columnar replacement for the reference's R-tree probe. Because an
    * edge is stored once per overlapped cell, a hit keeps the one copy that
    * holds (max(min_x, left), max(min_y, bottom)), a point in both boxes.
    */
  def intersects(edges: DataFrame, left: Double, bottom: Double,
      right: Double, top: Double, cellDeg: Double = DefaultCellDeg): DataFrame = {
    val e = ensureBBox(edges)
    val hits = e.filter(GeoFunctions.bboxIntersects(col(BBoxCol), left, bottom, right, top))
    if (!e.columns.contains(CellCol)) hits
    else cellsFor(left, bottom, right, top, cellDeg)
      .fold(hits)(cells => hits.filter(col(CellCol).isin(cells: _*)))
      .filter(homeCell(greatest(col(s"$BBoxCol.min_x"), lit(left)),
        greatest(col(s"$BBoxCol.min_y"), lit(bottom)), cellDeg))
  }

  /** Candidate set for a distance query: bbox of the point buffered by
    * `distance` meters (ref `dwithin_rtree`, `feature_table.py:164-196`).
    */
  def dwithinCandidates(edges: DataFrame, lon: Double, lat: Double,
      distance: Double, cellDeg: Double = DefaultCellDeg): DataFrame = {
    val dLat = distance / Geo.MetersPerDeg
    val cosLat = math.max(math.cos(math.toRadians(lat)), 1e-12)
    val dLon = distance / (Geo.MetersPerDeg * cosLat)
    intersects(edges, lon - dLon, lat - dLat, lon + dLon, lat + dLat, cellDeg)
  }

  /** Exact distance query (ref `dwithin`, `feature_table.py:198-235`):
    * strict `< distance` meters, optional ascending distance sort; the
    * returned frame carries the distance as `_distance`.
    */
  def dwithin(edges: DataFrame, lon: Double, lat: Double, distance: Double,
      sort: Boolean = false, cellDeg: Double = DefaultCellDeg): DataFrame = {
    val refined = dwithinCandidates(edges, lon, lat, distance, cellDeg)
      .withColumn("_distance",
        GeoFunctions.pointLineDistance(lon, lat, col("geom.coordinates")))
      .filter(col("_distance") < distance)
    if (sort) nearestFirst(refined) else refined
  }

  /** Ties broken by the frame's keys, so the order is not file order. */
  private def nearestFirst(df: DataFrame): DataFrame =
    df.orderBy(("_distance" +: Seq("_u", "_v", "_n").filter(df.columns.contains)).map(col): _*)

  /** Distributed proximity self-join on a planar point set: all pairs
    * within `dist` (SURVEY §2.4 J3 — the spatial join the reference only
    * planned). Grid-bucketed: each point keys its own cell (cell size =
    * dist) and probes the 3×3 neighbor ring, so the join key is a cell id
    * and the per-bucket pair work is local — the O(n²) theta join never
    * materializes. Returns (a, b, _distance) with a < b.
    */
  def planarProximityJoin(df: DataFrame, idCol: String,
      xCol: String, yCol: String, dist: Double): DataFrame = {
    require(dist > 0)
    val cellOf = (x: Column, y: Column) =>
      (floor(y / dist) * 100000L + floor(x / dist)).cast("long")
    val pts = df.select(col(idCol).as("id"), col(xCol).cast("double").as("x"),
      col(yCol).cast("double").as("y"))
    val probe = pts.withColumn("cell", explode(array(
      (for (dy <- -1 to 1; dx <- -1 to 1)
        yield cellOf(col("x"), col("y")) + (dy * 100000L + dx)): _*)))
    val build = pts.select(col("id").as("b"), col("x").as("xb"), col("y").as("yb"),
      cellOf(col("x"), col("y")).as("cell"))
    probe.join(build, "cell")
      .filter(col("id") < col("b"))
      .withColumn("_distance",
        sqrt(pow(col("x") - col("xb"), 2) + pow(col("y") - col("yb"), 2)))
      .filter(col("_distance") < dist)
      .select(col("id").as("a"), col("b"), col("_distance"))
  }

  /** k nearest features to a point — top-k via TakeOrderedAndProject, with
    * the candidate prune at `radius` meters keeping the refine set small.
    */
  def nearestK(edges: DataFrame, lon: Double, lat: Double, k: Int,
      radius: Double = 10000.0, cellDeg: Double = DefaultCellDeg): DataFrame =
    nearestFirst(dwithinCandidates(edges, lon, lat, radius, cellDeg)
      .withColumn("_distance",
        GeoFunctions.pointLineDistance(lon, lat, col("geom.coordinates"))))
      .limit(k)

  /** Exact count of candidate pairs the eps-cell 3×3 ring equi-join will
    * emit: Σ over cells c of n_c · (Σ over c's ring of n_r), from the
    * cell HISTOGRAM only — cells-proportional work, never points².
    * This is the quantity the DBSCAN census's cost is proportional to
    * (SCALING.md: "grows with Σ n_cell²"), computed before paying it.
    */
  def ringCandidateCount(pts: DataFrame, xCol: String, yCol: String,
      epsCents: Long): Long = {
    val hist = pts
      .select(expr(s"$xCol div $epsCents").as("cx"),
        expr(s"$yCol div $epsCents").as("cy"))
      .groupBy("cx", "cy").agg(count(lit(1)).as("n"))
    val ringed = hist.select(col("cx"), col("cy"), col("n").as("na"),
        explode(expr("transform(sequence(0, 8), " +
          "i -> struct(i div 3 - 1 AS dx, i % 3 - 1 AS dy))")).as("o"))
      .select((col("cx") + col("o.dx")).as("cx"),
        (col("cy") + col("o.dy")).as("cy"), col("na"))
    val r = ringed
      .join(hist.withColumnRenamed("n", "nb"), Seq("cx", "cy"))
      .agg(sum(col("na") * col("nb"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** DBSCAN core/border/noise census on an integer plane — the
    * classification pass of DBSCAN (cluster expansion is CC machinery).
    * Cell width = eps, so each point's eps-ball is covered by its 3×3
    * cell ring: neighbor pairs come from a ring EQUI-join (never an
    * all-pairs distance test), the eps test is exact integer dx²+dy² ≤
    * eps², core status is one count (|N_eps(p)| ≥ minPts, self
    * included), border one semi-join against the core set.
    *
    * `maxRingCandidates` is the HARD eps/cell-budget guard: the ring
    * join's output is pair-proportional by problem definition, and a
    * mis-sized eps turns it quadratic (the 2000-cent parameterization
    * SCALING.md measured at 12× the cost). The guard prices the join
    * from the cell histogram — cells-proportional, a tiny fraction of
    * the join itself — and fails loudly with the measured count instead
    * of silently burning a cluster. Raise it deliberately when the
    * density budget is understood; it is an explicit knob, not a limit.
    */
  def dbscanCensus(pts: DataFrame, idCol: String, xCol: String,
      yCol: String, epsCents: Long, minPts: Long,
      maxRingCandidates: Long = 2000000000L): DataFrame = {
    require(epsCents > 0, s"eps must be positive, got $epsCents")
    // fanOut: the ring explode + eps refine below is the census's CPU
    // center; a single-split scan would run it on one core (profiled:
    // 1.8 s in one task at sf0.1). No-op when the scan already splits.
    val p = graft.operators.Par.fanOut(
        pts.select(col(idCol).as("pid"),
          col(xCol).cast("long").as("xc"), col(yCol).cast("long").as("yc")))
      .withColumn("cx", expr(s"xc div $epsCents"))
      .withColumn("cy", expr(s"yc div $epsCents"))
    val cand = ringCandidateCount(p, "xc", "yc", epsCents)
    require(cand <= maxRingCandidates,
      s"eps=$epsCents cents would emit $cand ring-candidate pairs " +
        s"(> budget $maxRingCandidates): the cell density is too high " +
        "for this eps — shrink eps (cells get finer and emptier) or " +
        "raise maxRingCandidates deliberately")
    val ring = p.select(col("pid").as("ai"), col("xc").as("ax"),
        col("yc").as("ay"),
        explode(expr("transform(sequence(0, 8), " +
          "i -> struct(cx + i div 3 - 1 AS rx, cy + i % 3 - 1 AS ry))"))
          .as("r"))
      .select(col("ai"), col("ax"), col("ay"),
        col("r.rx").as("cx"), col("r.ry").as("cy"))
    // materialize the neighbor relation once: core needs its counts,
    // border re-reads it against the core set — without the checkpoint
    // the ring join would re-execute for every downstream aggregate
    // (measured 13.2 s → ~2 s at sf0.1). At cluster scale this is the
    // standard DBSCAN adjacency materialization.
    // pin the join stage's parallelism (REPARTITION_BY_NUM on both sides
    // — AQE keeps it): the eps refine below is the census's CPU center
    // and AQE's bytes-based coalescing would otherwise run it on one or
    // two tasks (the candidate relation is small in BYTES, dense in CPU).
    // The width is DATA-derived from `cand` — the ring join's output-pair
    // count, already paid for by the budget guard above — at ~500k
    // candidate pairs per task, capped at 4×cores: the r12
    // `defaultParallelism` pin made core-count kilobyte tasks at sf0.1
    // (8c/32c anti-scaling, ratio 0.5) and would cap a dense-city census
    // at machine width
    val par = graft.operators.Par.sizedPartitions(p, cand,
      targetRowsPerTask = 500000L)
    val nbr = ring.repartition(par, col("cx"), col("cy"))
      .join(p.select(col("pid").as("bi"),
          col("xc").as("bx"), col("yc").as("by"), col("cx"), col("cy"))
        .repartition(par, col("cx"), col("cy")),
        Seq("cx", "cy"))
      .filter((col("ax") - col("bx")) * (col("ax") - col("bx")) +
        (col("ay") - col("by")) * (col("ay") - col("by")) <=
        lit(epsCents * epsCents))
      .select("ai", "bi")
      .localCheckpoint()
    // every point neighbors at least itself (own cell, distance 0), so
    // deg covers all points and core/nonCore partition p exactly
    val deg = nbr.groupBy("ai").agg(count(lit(1)).as("n")).localCheckpoint()
    val core = deg.filter(col("n") >= minPts).select(col("ai"))
    val nonCore = deg.filter(col("n") < minPts).select(col("ai"))
      .localCheckpoint()
    // border = non-core points with a core neighbor, phrased against the
    // COMPLEMENT: bi ∈ core ⟺ bi ∉ nonCore (the partition above). The
    // former core semi-join keyed the FULL adjacency by bi — a shuffle of
    // the largest relation in the plan; against nonCore (checkpointed, so
    // its true size is known) the planner broadcasts both probes in the
    // dense regime and border costs one shuffle-free nbr scan. In the
    // sparse regime nonCore is large and the planner falls back to the
    // same sort-merge shape as before — never worse, shuffle-free when it
    // matters.
    // null never matches in a left_anti join, so a null-id neighbor would
    // otherwise count as "not non-core" = core and misclassify its point
    // as border; dropping null bi restores the former core semi-join's
    // semantics (null-id rows carried no core evidence there either)
    val border = nbr
      .filter(col("bi").isNotNull)
      .join(nonCore, Seq("ai"), "left_semi")
      .join(nonCore.withColumnRenamed("ai", "bi"), Seq("bi"), "left_anti")
      .select("ai").distinct()
    val nPts = p.agg(count(lit(1)).as("n_points"))
    val nCore = core.agg(count(lit(1)).as("n_core"))
    val nBorder = border.agg(count(lit(1)).as("n_border"))
    nPts.crossJoin(nCore).crossJoin(nBorder)
      .select(lit(epsCents).as("eps_cents"), lit(minPts).as("min_pts"),
        col("n_points"), col("n_core"), col("n_border"),
        (col("n_points") - col("n_core") - col("n_border")).as("n_noise"))
  }
}
