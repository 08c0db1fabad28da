package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.route.Mst

/** Batch-41 operators against independent local recomputations. */
class Extended41Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"

  private def forestSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      math.round(r.getDouble(2) * 100))).toSet

  test("Borůvka (gate forced off) equals local Kruskal on the supernode graph") {
    val edges = graft.queries.Extended41.supernodeEdges(spark, d)
    val distributed = Mst.minimumSpanningForest(spark, edges, maxLocalEdges = 0)
    val local = Mst.minimumSpanningForest(spark, edges) // under the gate
    assert(forestSet(distributed) == forestSet(local))
    assert(forestSet(local).size == 63) // 64 connected supernodes
  }

  test("MST handles duplicate weights deterministically via (w, u, v) order") {
    import spark.implicits._
    // square with ALL EQUAL weights + a diagonal: unique forest exists
    // only because the edge order is total. Under (w, u, v) the order is
    // (1,2) (1,3) (1,4) (2,4) (3,4); Kruskal takes the first three (the
    // lexicographically first acyclic set), the rest close cycles.
    val edges = Seq(
      (1L, 2L, 5.0), (1L, 3L, 5.0), (2L, 4L, 5.0), (3L, 4L, 5.0), (1L, 4L, 5.0)
    ).toDF("u", "v", "w")
    val local = forestSet(Mst.minimumSpanningForest(spark, edges))
    val dist = forestSet(Mst.minimumSpanningForest(spark, edges, maxLocalEdges = 0))
    assert(local == Set((1L, 2L, 500L), (1L, 3L, 500L), (1L, 4L, 500L)))
    assert(dist == local)
  }

  test("MST of a disconnected graph is a forest, one tree per component") {
    import spark.implicits._
    val edges = Seq(
      (1L, 2L, 1.0), (2L, 3L, 2.0), (1L, 3L, 9.0), // component A: 3 nodes
      (10L, 11L, 4.0) // component B: 2 nodes
    ).toDF("u", "v", "w")
    val local = forestSet(Mst.minimumSpanningForest(spark, edges))
    val dist = forestSet(Mst.minimumSpanningForest(spark, edges, maxLocalEdges = 0))
    assert(local == Set((1L, 2L, 100L), (2L, 3L, 200L), (10L, 11L, 400L)))
    assert(dist == local)
  }

  test("Borůvka fails with the round cap instead of returning a partial forest") {
    import spark.implicits._
    // path 1-2-...-8 weighted 1,2,1,2,1,2,1: round 1 merges the four
    // weight-1 pairs, round 2 joins them, round 3 finds nothing crossing
    val path = (1L to 7L).map(u => (u, u + 1, if (u % 2 == 1) 1.0 else 2.0))
      .toDF("u", "v", "w")
    val err = intercept[IllegalArgumentException] {
      Mst.minimumSpanningForest(spark, path, maxLocalEdges = 0, maxRounds = 1)
    }
    assert(err.getMessage.contains("no convergence in 1 rounds"))
    assert(forestSet(Mst.minimumSpanningForest(spark, path, maxLocalEdges = 0,
      maxRounds = 3)).size == 7)
  }

  test("weighted median selects the exact cumulative-threshold value") {
    import spark.implicits._
    // values 10 (w=1), 20 (w=2), 30 (w=3): total 6, first value with
    // 2*cw >= 6 is 20 (cw=3). An unweighted median of the expansion
    // [10,20,20,30,30,30] under the same lower-median rule is also 20.
    val df = Seq(("k", 10.0, 1L), ("k", 20.0, 2L), ("k", 30.0, 3L))
      .toDF("flag", "p", "w")
    val byFlag = org.apache.spark.sql.expressions.Window.partitionBy("flag")
    val c = df.select(col("flag"), col("p"),
      sum("w").over(byFlag.orderBy("p")).as("cw"),
      sum("w").over(byFlag).as("tw"))
    val out = c.filter(lit(2) * col("cw") >= col("tw"))
      .groupBy("flag").agg(min("p").as("m")).collect()
    assert(out.head.getDouble(1) == 20.0)
  }

  test("sweep-line concurrency counts overlapping intervals exactly") {
    import spark.implicits._
    // [0,10) [5,15) [9,12): all three alive at t=9; [20,21) alone
    val iv = Seq(("a", 0L, 10L), ("a", 5L, 15L), ("a", 9L, 12L), ("a", 20L, 21L))
      .toDF("event_type", "s", "e")
    val pts = iv.select(col("event_type"), col("s").as("t"), lit(1L).as("d"))
      .union(iv.select(col("event_type"), col("e"), lit(-1L)))
    val net = pts.groupBy("event_type", "t").agg(sum("d").as("net"))
    val run = net.select(col("event_type"), sum("net").over(
      org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("t")).as("conc"))
    val mx = run.groupBy("event_type").agg(max("conc")).collect().head.getLong(1)
    assert(mx == 3L)
    // end-exclusive: [0,10) and [10,11) never overlap
    val iv2 = Seq(("b", 0L, 10L), ("b", 10L, 11L)).toDF("event_type", "s", "e")
    val pts2 = iv2.select(col("event_type"), col("s").as("t"), lit(1L).as("d"))
      .union(iv2.select(col("event_type"), col("e"), lit(-1L)))
    val net2 = pts2.groupBy("event_type", "t").agg(sum("d").as("net"))
    val run2 = net2.select(sum("net").over(
      org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("t")).as("conc"))
    assert(run2.agg(max("conc")).collect().head.getLong(0) == 1L)
  }
}
