package graft.store

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.PropertyGraph
import graft.spatial.Spatial

/** "Graph package" persistence — the columnar equivalent of the reference's
  * GeoPackage file (`geopackage/__init__.py:90-192`):
  *
  * ```
  * pkg/
  *   metadata.json      -- schema version, CRS, layer extents
  *                         (gpkg_contents / gpkg_spatial_ref_sys mirror)
  *   nodes/             -- parquet, sorted by _n (key lookups prune row groups)
  *   edges/             -- parquet, partitioned by _cell (spatial pruning),
  *                         sorted by (_u, _v) within partitions (key joins),
  *                         one row per (edge, overlapped cell): see [[load]]
  * ```
  *
  * Layout *is* the index (SURVEY §4): the reference's R-tree becomes the
  * `_cell` partition column + `_bbox` min/max stats; its B-tree key indexes
  * become sort order + parquet row-group stats. Writes are atomic via
  * tmp-dir + rename (ref `build.py:34-47`).
  */
object GraphPackage {

  val FormatVersion = 1

  /** `cellDeg <= 0` (the default) keeps the graph's own grid size, so a
    * load→save round trip preserves the operator's chosen layout.
    */
  def save(g: PropertyGraph, path: String, cellDeg: Double = -1.0): Unit = {
    val cd = if (cellDeg > 0) cellDeg else g.cellDeg
    val tmp = path + ".tmp"
    deleteRecursive(Paths.get(tmp))

    val edges = Spatial.withSpatialColumns(
      g.edges.drop(Spatial.BBoxCol, Spatial.CellCol), cd)
      .sortWithinPartitions("_u", "_v")
    edges.write.mode(SaveMode.Overwrite)
      .partitionBy(Spatial.CellCol)
      .parquet(s"$tmp/edges")
    g.nodes.sort("_n").write.mode(SaveMode.Overwrite).parquet(s"$tmp/nodes")

    val metadata =
      s"""{
         |  "format_version": $FormatVersion,
         |  "crs": {"name": "WGS 84", "epsg": 4326},
         |  "cell_deg": $cd,
         |  "tables": ["nodes", "edges"]
         |}""".stripMargin
    Files.writeString(Paths.get(tmp, "metadata.json"), metadata)

    atomicSwap(tmp, path)
  }

  /** Atomic finalize (ref build.py:34-47). Overwrites move the previous
    * package aside first, so a crash anywhere in the sequence leaves either
    * the old package (possibly under .old) or the new one on disk — never
    * neither (deleting dst before the move would lose it on a crash).
    */
  private[store] def atomicSwap(tmp: String, path: String): Unit = {
    val dst = Paths.get(path)
    val bak = Paths.get(path + ".old")
    deleteRecursive(bak)
    val hadOld = Files.exists(dst)
    if (hadOld) Files.move(dst, bak, StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(tmp), dst, StandardCopyOption.ATOMIC_MOVE)
    if (hadOld) deleteRecursive(bak)
  }

  /** Compact a package in place: rewrite both tables so each grid cell's
    * edges land in a single file and nodes fill `targetBytes`-sized files,
    * preserving the layout contract (cell partitioning, `(_u,_v)` /
    * `_n` sort order) and the metadata.
    *
    * This is the maintenance operator immutable storage needs at 100 TB:
    * every incremental `addEdges`+`save` cycle (and any streaming sink)
    * accretes small files until scan task-launch overhead dominates; the
    * reference's counterpart is dropping and rebuilding its R-tree around
    * bulk loads (`cli.py:44-49`). Same crash-safe tmp+swap as [[save]].
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20): Unit = {
    require(targetBytes > 0, "targetBytes must be positive")
    val tmp = path + ".tmp"
    deleteRecursive(Paths.get(tmp))

    val edges = spark.read.parquet(s"$path/edges")
    // one shuffle partition per cell bucket: every cell's rows collapse to
    // exactly one file regardless of how many writes produced them
    val nCellTasks = math.max(1,
      math.min(dirBytes(s"$path/edges") / targetBytes + 1,
        spark.sparkContext.defaultParallelism).toInt)
    edges.repartition(nCellTasks, col(Spatial.CellCol))
      .sortWithinPartitions(Spatial.CellCol, "_u", "_v")
      .write.mode(SaveMode.Overwrite)
      .partitionBy(Spatial.CellCol)
      .parquet(s"$tmp/edges")

    val nodes = spark.read.parquet(s"$path/nodes")
    val nNodeFiles = math.max(1, (dirBytes(s"$path/nodes") / targetBytes + 1).toInt)
    nodes.repartitionByRange(nNodeFiles, col("_n"))
      .sortWithinPartitions("_n")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/nodes")

    val meta = Paths.get(path, "metadata.json")
    if (Files.exists(meta))
      Files.copy(meta, Paths.get(tmp, "metadata.json"))

    atomicSwap(tmp, path)
  }

  /** Walk `p`'s file tree with the stream closed afterwards (Files.walk
    * holds open directory handles until close — iterating and discarding
    * the stream leaks one fd per directory level).
    */
  private[graft] def walkTree[A](p: Path)(f: Iterator[Path] => A): A = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.walk(p))(s => f(s.iterator().asScala))
  }

  private def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else walkTree(p)(_.filter(Files.isRegularFile(_)).map(Files.size).sum)
  }

  /** Count of parquet data files anywhere under `dir`. */
  def countDataFiles(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else walkTree(p)(_.count(_.getFileName.toString.endsWith(".parquet")))
  }

  /** Logical `edges`: each edge's row in its (min_x, min_y) corner's cell ([[Spatial.homeCell]]). */
  def load(spark: SparkSession, path: String): PropertyGraph = {
    val nodes = spark.read.parquet(s"$path/nodes")
    val physical = spark.read.parquet(s"$path/edges")
    val cellDeg = readCellDeg(path)
    val logical = physical.filter(Spatial.homeCell(col(s"${Spatial.BBoxCol}.min_x"),
      col(s"${Spatial.BBoxCol}.min_y"), cellDeg)).drop(Spatial.CellCol)
    new PropertyGraph(nodes, logical, cellDeg, Some(physical))
  }

  /** cell_deg from metadata.json, so spatial partition pruning uses the
    * same grid the package was written with (a mismatched cell size would
    * silently prune wrong partitions).
    */
  private def readCellDeg(path: String): Double = {
    val metaPath = Paths.get(path, "metadata.json")
    if (!Files.exists(metaPath)) Spatial.DefaultCellDeg
    else {
      val txt = Files.readString(metaPath)
      "\"cell_deg\":\\s*([0-9.Ee+-]+)".r.findFirstMatchIn(txt)
        .map(_.group(1).toDouble).getOrElse(Spatial.DefaultCellDeg)
    }
  }

  private[graft] def deleteRecursive(p: Path): Unit =
    if (Files.exists(p))
      walkTree(p)(_.toSeq.reverse.foreach(Files.delete))
}
