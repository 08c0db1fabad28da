package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.PropertyGraph
import graft.route.Route

/** The per-graph routing index: gated routes build it on first use, read it
  * afterwards without a Spark job, and never see another graph's weights.
  */
class GraphIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** a → d two ways: via b costs 2 on `_length` and 6 on `time`, via c
    * costs 3 on `_length` and 2 on `time`; `_n`-only nodes (no geometry).
    * RDD-backed, so every collect is a Spark job (a local relation's is not).
    */
  def diamond(): PropertyGraph = {
    import TestSpark.spark.implicits._
    val sc = spark.sparkContext
    new PropertyGraph(sc.parallelize(Seq("a", "b", "c", "d"), 2).toDF("_n"),
      sc.parallelize(Seq(("a", "b", 1.0, 3.0), ("b", "d", 1.0, 3.0),
        ("a", "c", 1.5, 1.0), ("c", "d", 1.5, 1.0)), 2).toDF("_u", "_v", "_length", "time"))
  }

  /** Descriptions of the Spark jobs `body` starts on this thread, in start
    * order. A marker job closes the window: listener events arrive in
    * order, so once it is seen every earlier job has been too.
    */
  def jobsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"graph-index-spec-${System.nanoTime()}"
    val marker = s"$group/marker"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => seen.add(String.valueOf(p.getProperty("spark.job.description"))))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "")
      body
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 10e9.toLong
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(20)
      val all = seen.asScala.toSeq
      assert(all.lastOption.contains(marker), all)
      all.init
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("gated routes after the first on one graph run no Spark job") {
    val g = diamond()
    val first = jobsOf {
      Route.shortestPath(g, "a", "d", "_length")
      Route.shortestPathAStar(g, "a", "d")
      Route.landmarkDistances(spark, g, Seq("a", "d"), "_length")
    }
    assert(first.nonEmpty, "the first call counts the graph and builds the index")
    val later = jobsOf {
      for (_ <- 1 to 3) {
        assert(Route.shortestPath(g, "a", "d", "_length")
          .contains((Seq("a", "b", "d"), 2.0)))
        assert(Route.shortestPathAStar(g, "a", "d")
          .contains((Seq("a", "b", "d"), 2.0)))
        Route.landmarkDistances(spark, g, Seq("a", "d"), "_length")
        assert(Route.shortestPath(g, "nope", "d", "_length").isEmpty)
      }
    }
    assert(later.isEmpty, later)
  }

  test("a derived graph never reads its parent's index") {
    import TestSpark.spark.implicits._
    val g = diamond()
    val old = Some((Seq("a", "b", "d"), 2.0))
    val detour = Some((Seq("a", "c", "d"), 3.0))
    assert(Route.shortestPath(g, "a", "d", "_length") == old)
    val updated = g.updateEdges(Seq(("a", "b", 5.0)).toDF("_u", "_v", "_length"))
    val set = g.setEdgeAttr("b", "d", "_length", 5.0)
    for (d <- Seq(updated, set)) {
      assert(Route.shortestPath(d, "a", "d", "_length") == detour)
      assert(Route.shortestPathAStar(d, "a", "d") == detour)
    }
    assert(Route.shortestPath(g, "a", "d", "_length") == old)
    assert(Route.shortestPathAStar(g, "a", "d") == old)
  }

  test("each weight column routes on its own weights") {
    val g = diamond()
    for (_ <- 1 to 2) {
      assert(Route.shortestPath(g, "a", "d", "_length").contains((Seq("a", "b", "d"), 2.0)))
      assert(Route.shortestPath(g, "a", "d", "time").contains((Seq("a", "c", "d"), 2.0)))
    }
  }

  test("the index build's jobs are tagged with its weight column and restore " +
    "the caller's job description") {
    val g = diamond()
    g.size()
    val sc = spark.sparkContext
    val tags = jobsOf {
      sc.setJobDescription("caller")
      Route.shortestPath(g, "a", "d", "time")
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    }
    assert(tags.nonEmpty && tags.forall(_ == "route/index weight=time"), tags)
  }

  test("gated landmarkDistances emits each landmark's rows in settle order") {
    val g = diamond()
    val rows = Route.landmarkDistances(spark, g, Seq("a", "b", "a"), "_length").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows == Seq(("a", "a", 0.0), ("b", "a", 1.0), ("c", "a", 1.5), ("d", "a", 2.0),
      ("b", "b", 0.0), ("d", "b", 1.0)))
  }
}
