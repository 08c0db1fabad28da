package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.route.{DagPath, Frontier, Isochrone}

/** The frontier relaxation behind the distributed isochrone, longest-path
  * and bridge-rooting loops: its round count and its checkpoint hygiene.
  */
class FrontierSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def chain(n: Int): DataFrame = {
    import spark.implicits._
    (0L until n - 1L).map(u => (u, u + 1, 1.0)).toDF("u", "v", "w")
  }

  /** The persistent RDDs `call` creates and leaves behind, and its result
    * (held, so what it reads cannot be cleaned while counting).
    */
  private def leftBehind(call: => DataFrame): (Int, DataFrame) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = call
    (sc.getPersistentRDDs.keySet.diff(before).size, out)
  }

  test("a round that improves nothing still counts against the cap") {
    // 0 -> 1 -> 2 -> 3: three improving rounds, then one empty round
    val edges = chain(4)
    def relax(cap: Int) = Frontier.relax(
        edges.select(col("u").as("node")).union(edges.select(col("v")))
          .distinct().withColumn("dist", lit(0L)), cap, minimize = false) { f =>
      f.join(edges, f("node") === edges("u"))
        .select(col("v").as("node"), (col("dist") + 1L).as("dist"))
    }
    val capped = relax(3)
    assert(!capped.converged && capped.rounds == 3)
    val done = relax(4)
    assert(done.converged && done.rounds == 4)
    assert(done.best.agg(max("dist")).head().getLong(0) == 3L)
    intercept[IllegalArgumentException](
      DagPath.longestPath(spark, edges, maxLocalEdges = 0, maxRounds = 3))
  }

  test("persistent RDDs left behind do not grow with the number of rounds") {
    val left = for (n <- Seq(4, 24)) yield {
      val (iso, isoOut) = leftBehind(
        Isochrone.isochrone(spark, chain(n), 0L, n.toDouble, maxLocalEdges = 0))
      assert(isoOut.agg(max("dist")).head().getDouble(0) == n - 1.0)
      val (dag, dagOut) = leftBehind(DagPath.longestPath(spark, chain(n), maxLocalEdges = 0))
      assert(dagOut.agg(max("dist")).head().getLong(0) == n - 1L)
      (iso, dag)
    }
    assert(left.head == left.last, s"RDDs left behind on the 4- and 24-node chains: $left")
  }
}
