package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.geo.GeoFunctions
import graft.graph.PropertyGraph
import graft.spatial.Spatial
import graft.store.GraphPackage

/** The reference-point rule ([[Spatial.homeCell]]) against the key dedup it
  * replaced: on a package with unique (_u,_v), a load's logical edges and a
  * box query's hits are the same multiset as `dropDuplicates("_u","_v")` over
  * the stored per-cell copies. Seeded random edges and boxes, plus vertices
  * and box sides on cell borders, edges over the 64-cell cap (catch-all),
  * null geometry and boxes too large to prune, at three grid sizes.
  */
class HomeCellSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val geomType = StructType(Seq(
    StructField("type", StringType),
    StructField("coordinates", ArrayType(ArrayType(DoubleType)))))
  private val edgeSchema = StructType(Seq(
    StructField("_u", StringType), StructField("_v", StringType),
    StructField("w", DoubleType), StructField("geom", geomType)))

  /** The k-th grid line along one axis (origin 180 for x, 90 for y): the
    * floor arithmetic of `coveredCells` puts this value on a cell border.
    */
  private def border(k: Long, origin: Double, cd: Double): Double = k * cd - origin

  /** The region's lower-left corner and its grid cell's (column, row). */
  private val (x0, y0) = (-122.3, 47.6)
  private def cornerCell(cd: Double): (Long, Long) =
    (math.floor((x0 + 180.0) / cd).toLong, math.floor((y0 + 90.0) / cd).toLong)

  private def edges(cd: Double, seed: Long): Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    val (kx, ky) = cornerCell(cd)
    def line(pts: Seq[(Double, Double)]): Row =
      Row("LineString", pts.map { case (x, y) => Seq(x, y) })
    // random polylines over a 20×20-cell region, 1–4 steps of up to 3 cells
    val random = (0 until 120).map { _ =>
      val start = (x0 + rnd.nextDouble() * 20 * cd, y0 + rnd.nextDouble() * 20 * cd)
      (1 to 1 + rnd.nextInt(4)).scanLeft(start) { case ((x, y), _) =>
        (x + (rnd.nextDouble() - 0.5) * 6 * cd, y + (rnd.nextDouble() - 0.5) * 6 * cd)
      }
    }
    // every vertex on a cell border, including zero-length edges on a corner
    val onBorder = (0 until 40).map { _ =>
      val (i, j) = (kx + rnd.nextInt(20), ky + rnd.nextInt(20))
      val (di, dj) = (rnd.nextInt(3), rnd.nextInt(3))
      Seq((border(i, 180.0, cd), border(j, 90.0, cd)),
        (border(i + di, 180.0, cd), border(j + dj, 90.0, cd)))
    }
    // 12×12 cells > the 64-cell cap: stored once, in the catch-all cell
    val long = (0 until 10).map { _ =>
      val (x, y) = (x0 + rnd.nextDouble() * 10 * cd, y0 + rnd.nextDouble() * 10 * cd)
      Seq((x, y), (x + 11.5 * cd, y + 11.5 * cd))
    }
    val geoms = (random ++ onBorder ++ long).map(line) ++ Seq.fill(5)(null)
    geoms.zipWithIndex.map { case (g, i) => Row(s"u$i", s"v$i", i.toDouble, g) }
  }

  private def saved(cd: Double, seed: Long): PropertyGraph = {
    val e = spark.createDataFrame(spark.sparkContext.parallelize(edges(cd, seed), 1), edgeSchema)
    val n = e.select(explode(array(col("_u"), col("_v"))).as("_n"))
    val dir = Files.createTempDirectory("graft-homecell").resolve("g.graft").toString
    GraphPackage.save(new PropertyGraph(n, e, cd), dir)
    GraphPackage.load(spark, dir)
  }

  /** The rows as a sorted multiset, without `_cell` (which copy a dedup keeps
    * is arbitrary; the logical row is not).
    */
  private def multiset(df: DataFrame): Seq[String] =
    df.drop(Spatial.CellCol).collect().map(_.toString).toSeq.sorted

  /** The box query as it was before the reference-point rule: prune, box
    * filter, then a key dedup.
    */
  private def dedupIntersects(phys: DataFrame, l: Double, b: Double, r: Double,
      t: Double, cd: Double): DataFrame = {
    val pruned = Spatial.cellsFor(l, b, r, t, cd)
      .map(cells => phys.filter(col(Spatial.CellCol).isin(cells: _*))).getOrElse(phys)
    pruned.filter(GeoFunctions.bboxIntersects(col(Spatial.BBoxCol), l, b, r, t))
      .dropDuplicates("_u", "_v")
  }

  for ((cd, seed) <- Seq(0.01 -> 11L, 0.5 -> 12L, 0.0002 -> 13L)) {
    test(s"load and box rules equal the key dedup at cellDeg $cd") {
      val g = saved(cd, seed)
      val phys = g.spatialEdges.get
      val catchAll = phys.filter(col(Spatial.CellCol) === Spatial.CatchAllCell)
      // the fixture exercises what it claims: duplicated copies, the
      // catch-all cell (long edges and null geometry)
      assert(phys.count() > g.size())
      assert(catchAll.filter(col("geom").isNull).count() == 5)
      assert(catchAll.filter(col("geom").isNotNull).count() >= 10)

      assert(g.size() == 175)
      assert(multiset(g.edges) == multiset(phys.dropDuplicates("_u", "_v")))

      val rnd = new scala.util.Random(seed)
      val (kx, ky) = cornerCell(cd)
      val random = (0 until 16).map { _ =>
        val (l, b) = (x0 + (rnd.nextDouble() - 0.1) * 22 * cd, y0 + (rnd.nextDouble() - 0.1) * 22 * cd)
        (l, b, l + rnd.nextDouble() * 6 * cd, b + rnd.nextDouble() * 6 * cd)
      }
      val onBorder = (0 until 6).map { _ =>
        val (i, j) = (kx + rnd.nextInt(20), ky + rnd.nextInt(20))
        (border(i, 180.0, cd), border(j, 90.0, cd),
          border(i + rnd.nextInt(3), 180.0, cd), border(j + rnd.nextInt(3), 90.0, cd))
      }
      // > 4,096 cells: cellsFor gives None and nothing is pruned
      val huge = Seq((x0 - 100 * cd, y0 - 100 * cd, x0 + 100 * cd, y0 + 100 * cd))
      assert(huge.forall { case (l, b, r, t) => Spatial.cellsFor(l, b, r, t, cd).isEmpty })
      var nonEmpty = 0
      for ((l, b, r, t) <- random ++ onBorder ++ huge) {
        val got = multiset(Spatial.intersects(phys, l, b, r, t, cd))
        assert(got == multiset(dedupIntersects(phys, l, b, r, t, cd)),
          s"box ($l, $b, $r, $t) at cellDeg $cd")
        if (got.nonEmpty) nonEmpty += 1
      }
      assert(nonEmpty >= 10, s"only $nonEmpty boxes hit anything")
    }
  }
}
