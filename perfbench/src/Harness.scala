package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.Geo
import graft.graph.PropertyGraph
import graft.route.{Isochrone, Route}
import graft.store.{GeoPackageFile, GraphPackage}

/** Runs one benchmark workload from a plan file that `run.py` generated
  * from the seed, and writes raw timings, checks, spans and Spark counts
  * to a JSON file. Metrics are derived from that file by `run.py`.
  *
  * Usage: Harness <plan.tsv> <result.json>
  *
  * One client thread drives the engine in a closed loop: the next call
  * starts when the previous one has returned and its output was checked.
  * In a traced run every unit of work runs twice, once with spans and once
  * without, in alternating order, so the two can be compared.
  */
object Harness {

  final class Plan(lines: Seq[Array[String]]) {
    private val settings = lines.filter(_(0) == "set").map(l => l(1) -> l(2)).toMap
    def apply(k: String): String = settings.getOrElse(k, sys.error(s"plan lacks '$k'"))
    def rows(kind: String): Seq[Array[String]] = lines.filter(_(0) == kind).map(_.drop(1))
  }

  /** One timed unit of work; `ok` is false when it threw or its output was
    * wrong. `parts` holds the wall time of named phases inside it, `note`
    * the output it was checked on.
    */
  final case class Work(kind: String, group: String, seconds: Double, ok: Boolean,
      traced: Boolean, err: String, parts: Map[String, Double], note: String)

  /** Group of untimed units: checked and counted, but not timed. */
  val WarmUp = "warm-up"

  final class Run(val plan: Plan) {
    val units = mutable.ArrayBuffer[Work]()
    private val parts = mutable.LinkedHashMap[String, Double]()
    var note = ""
    val setupS = mutable.ArrayBuffer[Double]()
    val liveHeapMb = mutable.ArrayBuffer[Double]()
    val extra = mutable.LinkedHashMap[String, Double]()
    var loopS = 0.0
    var spark: SparkSession = _
    var tracer: Tracer = _
    val traced: Boolean = plan("trace") == "1"
    val seconds: Double = plan("seconds").toDouble
    val work: Path = Paths.get(plan("work"))

    def startSession(): Unit = {
      val cores = plan("cores")
      val b = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      graft.Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
      spark = b.getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      // first codegen and class loading, as every entry point of the engine pays
      spark.range(100000).selectExpr("id % 97 as k").groupBy("k").count().collect()
    }

    def stopSession(): Unit = { spark.stop(); spark = null }

    /** Heap in use after a full collection: the live set at this point.
      * The second collection reclaims what Spark's cleaner thread released
      * after the first one (broadcast and shuffle blocks of dead frames).
      */
    def heapCheckpoint(): Unit = {
      System.gc()
      Thread.sleep(200)
      System.gc()
      val mem = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      liveHeapMb += mem.getUsed / 1048576.0
    }

    def span[A](name: String)(body: => A): A =
      if (tracer == null) body else tracer.span(name)(body)

    /** Times a named phase of the current unit. */
    def part[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      try body finally parts(name) = (System.nanoTime() - t0) / 1e9
    }

    /** Times `body`; a throw or a `false` result marks the unit failed. */
    def unit(kind: String, group: String, withTrace: Boolean)(body: => Boolean): Boolean = {
      if (tracer != null) tracer.enabled = withTrace
      parts.clear()
      note = ""
      val t0 = System.nanoTime()
      val (ok, err) =
        try { val r = span(group)(body); (r, if (r) "" else "wrong output") }
        catch { case e: Throwable => (false, String.valueOf(e).take(300)) }
      val s = (System.nanoTime() - t0) / 1e9
      if (tracer != null) tracer.enabled = false
      units += Work(kind, group, s, ok, withTrace, err, parts.toMap, note)
      // isolation between units, as in the engine's own bench loop
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      ok
    }

    /** Runs one unit untraced, or, in a traced run, both ways in an order
      * that alternates with `i`.
      */
    def both(i: Int, kind: String, group: String)(body: => Boolean): Unit =
      if (!traced) unit(kind, group, withTrace = false)(body)
      else {
        val order = if (i % 2 == 0) Seq(false, true) else Seq(true, false)
        order.foreach(t => unit(kind, group, t)(body))
      }

    def attachTracer(): Unit = if (traced) tracer = new Tracer(spark.sparkContext)

    /** Runs steps 0 until n; a bounded loop also stops once `seconds` passed
      * and at least `minSteps` steps ran.
      */
    def timedLoop(n: Int, bounded: Boolean, minSteps: Int = 0)(step: Int => Unit): Unit = {
      val t0 = System.nanoTime()
      var i = 0
      def timeUp = bounded && i >= minSteps && (System.nanoTime() - t0) / 1e9 >= seconds
      while (i < n && !timeUp) { step(i); i += 1 }
      loopS = (System.nanoTime() - t0) / 1e9
    }
  }

  def main(args: Array[String]): Unit = {
    val plan = new Plan(Files.readAllLines(Paths.get(args(0))).asScala.toSeq
      .filter(_.nonEmpty).map(_.split('\t')))
    val run = new Run(plan)
    plan("workload") match {
      case "registry_mix" => RegistryMix(run)
      case "street_build" => StreetBuild(run)
      case "street_interactive" => StreetInteractive(run)
      case w => sys.error(s"unknown workload $w")
    }
    if (run.tracer != null) run.tracer.drain()
    Files.writeString(Paths.get(args(1)), Report.json(run))
    run.stopSession()
  }

  /** Records the wall time of `reps` set-ups; the last one stays up. */
  def timedSetup(run: Run, reps: Int)(setup: Boolean => Unit): Unit =
    (1 to reps).foreach { r =>
      val t0 = System.nanoTime()
      setup(r == reps)
      run.setupS += (System.nanoTime() - t0) / 1e9
    }

  // ------------------------------------------------------------ workloads

  /** Frozen-registry queries with the bench's cache hygiene between them.
    * The sample runs once untimed, so the timed runs find generated code
    * compiled and the JIT warmed by the whole sample, as in a long-lived
    * session; the first run of a plan in a fresh JVM varies too much from
    * run to run to compare commits on. Timed passes over the sample then
    * repeat until `seconds` passed, at least one whole pass. The action
    * returns the row count plus the same order-independent xxhash64
    * combiners as the engine's attest; every run is checked.
    */
  object RegistryMix {
    def apply(run: Run): Unit = {
      val plan = run.plan
      timedSetup(run, plan("setup_reps").toInt) { last =>
        run.startSession()
        if (!last) run.stopSession()
      }
      val queries = graft.SparkEntry.queries
      val dir = plan("data")
      val sample = plan.rows("q")
      def attest(q: Array[String]): Boolean = {
        val Array(name, _, rows, xor, sum) = q
        val df = run.span("queries.build")(queries(name)(run.spark, dir))
        val agg = attestFrame(df)
        run.span("plans.plan")(agg.queryExecution.executedPlan)
        val got = run.span("exec.action")(agg.head())
        val n = got.getLong(0)
        val x = if (got.isNullAt(1)) 0L else got.getLong(1)
        val s = if (got.isNullAt(2)) BigInt(0)
          else BigInt(got.getDecimal(2).toBigInteger).mod(BigInt(2).pow(64))
        run.note = f"$n\t$x%016x\t${s.toString(16)}"
        run.note == s"$rows\t$xor\t$sum"
      }
      sample.foreach(q => run.unit(q(0), WarmUp, withTrace = false)(attest(q)))
      run.heapCheckpoint()
      run.attachTracer()
      run.timedLoop(Int.MaxValue, bounded = true, minSteps = sample.size) { j =>
        val q = sample(j % sample.size)
        run.both(j, q(0), s"registry.${q(1)}")(attest(q))
        if (j % 10 == 9) run.heapCheckpoint()
      }
    }

    /** Rows, bit_xor and sum (mod 2^64) of xxhash64 over each row's cells cast
      * to strings in column-name order.
      */
    def attestFrame(df: DataFrame): DataFrame = {
      val fields = df.schema.fields.sortBy(_.name)
      val rowStr = concat_ws("|", fields.toIndexedSeq.map(f =>
        coalesce(regexp_replace(col(s"`${f.name}`").cast("string"),
          "[\\\\|\u0000]", "\\\\$0"), lit("\u0000"))): _*)
      df.select(xxhash64(rowStr).as("h"))
        .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x"),
          sum(col("h").cast("decimal(38,0)")).as("s"))
    }
  }

  /** Coordinates to the engine's node id, as its ingest derives them. */
  def node(lon: String, lat: String): String = Geo.nodeId(lon.toDouble, lat.toDouble, 7)

  /** One generated street network: its GeoJSON files, the fid offset of
    * the re-imported features, the counts a correct build yields, and an
    * update batch. `prefix` selects the plan's main or warm-up network.
    */
  final class Street(plan: Plan, prefix: String) {
    def base: String = plan(prefix + "base")
    val edges: Long = plan(prefix + "edges").toLong
    val nodes: Long = plan(prefix + "nodes").toLong
    /** edges the re-imported features must have replaced */
    val resurfaced: Long = plan(prefix + "resurfaced").toLong
    val updates: Seq[Array[String]] = plan.rows(prefix + "upd")
    val updated: Long = updates.map(r => (node(r(0), r(1)), node(r(2), r(3)))).distinct.size.toLong
    val weight: Double = plan("update_weight").toDouble
    def inputBytes: Long = Files.size(Paths.get(base)) + Files.size(Paths.get(plan(prefix + "reimport")))

    val opts = graft.ingest.GeoJsonIngest.Options(changesSign = Seq("incline"))

    def ingestBase(spark: SparkSession): PropertyGraph =
      PropertyGraph.fromGeoJson(spark, Seq(base), opts)

    /** The base network, then the re-imported features upserted last-wins
      * on (_u, _v).
      */
    def ingest(spark: SparkSession): PropertyGraph = {
      val g = ingestBase(spark)
      val again = PropertyGraph.fromGeoJson(spark, Seq(plan(prefix + "reimport")), opts)
      g.addEdges(again.edges.withColumn("fid", col("fid") + plan(prefix + "fid_offset").toLong))
    }
  }

  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else scala.util.Using.resource(Files.walk(p))(_.iterator().asScala.toList)

  def dirBytes(p: Path): Long = files(p).filter(Files.isRegularFile(_)).map(Files.size).sum

  /** The write path: build, save, reload, batch update and re-save,
    * GeoPackage export and re-import, repeated on the same input after one
    * untimed cycle on a small network.
    */
  object StreetBuild {
    def apply(run: Run): Unit = {
      val plan = run.plan
      timedSetup(run, plan("setup_reps").toInt) { last =>
        run.startSession()
        if (!last) run.stopSession()
      }
      run.unit("cycle", WarmUp, withTrace = false)(
        cycle(run, new Street(plan, "warm_"), run.work.resolve("warm")))
      run.heapCheckpoint()
      run.attachTracer()
      val street = new Street(plan, "")
      run.extra("input_bytes") = street.inputBytes.toDouble
      run.extra("edges") = street.edges.toDouble
      run.extra("updates") = street.updated.toDouble
      // at least two cycles, so the time does not rest on one
      run.timedLoop(Int.MaxValue, bounded = true, minSteps = 2) { i =>
        run.both(i, "cycle", "build.cycle")(cycle(run, street, run.work.resolve("cycles")))
        run.heapCheckpoint()
      }
    }

    def cycle(run: Run, street: Street, dir: Path): Boolean = {
      files(dir).reverse.foreach(Files.delete)
      Files.createDirectories(dir)
      val pkg = dir.resolve("street.graft").toString
      val pkg2 = dir.resolve("street2.graft").toString
      val gpkg = dir.resolve("street.gpkg").toString
      val loaded = run.part("build") {
        val g = run.span("ingest.read")(street.ingest(run.spark))
        run.span("store.save")(GraphPackage.save(g, pkg))
        run.span("store.load") {
          val l = GraphPackage.load(run.spark, pkg); l.size(); l.order(); l
        }
      }
      val batch = run.spark.createDataFrame(street.updates.map(r =>
        (node(r(0), r(1)), node(r(2), r(3)), street.weight))).toDF("_u", "_v", "weight")
      val g2 = run.part("update") {
        val u = run.span("graph.update")(loaded.updateEdges(batch))
        run.span("store.resave")(GraphPackage.save(u, pkg2))
        u
      }
      run.part("export")(run.span("store.gpkg_export")(GeoPackageFile.export(g2, gpkg)))
      val back = run.span("store.gpkg_import") {
        val b = GeoPackageFile.importGraph(run.spark, gpkg); (b.size(), b.order())
      }
      val resurfaced = loaded.edges.filter(col("surface") === "resurfaced").count()
      val re = GraphPackage.load(run.spark, pkg2)
      val reUpdated = re.edges.filter(col("weight") === street.weight).count()
      run.extra("stored_bytes") = dirBytes(Paths.get(pkg)).toDouble
      run.extra("files_written") = GraphPackage.countDataFiles(pkg).toDouble
      run.extra("gpkg_bytes") = Files.size(Paths.get(gpkg)).toDouble
      loaded.size() == street.edges && loaded.order() == street.nodes &&
        resurfaced == street.resurfaced &&
        back == (street.edges, street.nodes) && re.size() == street.edges &&
        reUpdated == street.updated
    }
  }

  /** The read path on a stored package: point lookups, spatial queries and
    * routing, in the seeded order the plan lists.
    */
  object StreetInteractive {
    def apply(run: Run): Unit = {
      val plan = run.plan
      run.startSession()
      val street = new Street(plan, "")
      val pkg = run.work.resolve("street.graft").toString
      GraphPackage.save(street.ingestBase(run.spark), pkg)
      var g: PropertyGraph = null
      timedSetup(run, plan("setup_reps").toInt) { _ =>
        g = GraphPackage.load(run.spark, pkg)
        g.size(); g.order()
      }
      require(g.size() == street.edges && g.order() == street.nodes,
        s"package holds ${g.size()} edges / ${g.order()} nodes")
      run.heapCheckpoint()
      run.attachTracer()
      val ops = plan.rows("op")
      val ids = g.nodes.select(col("_n"), xxhash64(col("_n")).as("_vid"))
      val weighted = g.edges.select(xxhash64(col("_u")).as("u"),
        xxhash64(col("_v")).as("v"), col("_length").as("w"))
      // shortest_path and astar come in pairs on the same endpoints: the
      // Dijkstra cost of the first is checked against the A* cost of the second
      var lastCost = Double.NaN
      def check(op: Array[String]): (String, () => Boolean) =
        interactiveOp(run, g, ids, weighted, op, lastCost, c => lastCost = c)
      // one untimed block first, so the timed ops find compiled code paths
      plan.rows("warm").foreach(op => run.unit(op(0), WarmUp, withTrace = false)(check(op)._2()))
      // whole blocks only, so every run times the same mix of operations
      val block = plan("block").toInt
      run.timedLoop(ops.size / block, bounded = true, minSteps = 1) { b =>
        (b * block until (b + 1) * block).foreach { i =>
          val (layer, body) = check(ops(i))
          run.both(i, ops(i)(0), s"$layer.${ops(i)(0)}")(body())
        }
      }
      run.heapCheckpoint()
    }

    def sortedWithin(ds: Seq[Double], limit: Double): Boolean =
      ds.forall(_ < limit) && ds.zip(ds.drop(1)).forall { case (a, b) => a <= b }

    def interactiveOp(run: Run, g: PropertyGraph, ids: DataFrame, weighted: DataFrame,
        op: Array[String], lastCost: Double, setCost: Double => Unit): (String, () => Boolean) = {
      def d(i: Int) = op(i).toDouble
      op(0) match {
        case "get_edge" => ("graph", () =>
          g.getEdge(node(op(1), op(2)), node(op(3), op(4))).collect().length == op(5).toInt)
        case "has_node" => ("graph", () => g.hasNode(node(op(1), op(2))))
        case "successors" => ("graph", () =>
          g.successors(node(op(1), op(2))).collect().length == op(3).toInt)
        case "predecessors" => ("graph", () =>
          g.predecessors(node(op(1), op(2))).collect().length == op(3).toInt)
        case "dwithin" => ("spatial", () => {
          val rows = g.dwithin(d(1), d(2), d(3), sort = true).collect()
          run.note = rows.length.toString
          rows.nonEmpty && sortedWithin(rows.map(_.getAs[Double]("_distance")).toSeq, d(3))
        })
        case "nodes_dwithin" => ("spatial", () => {
          val rows = g.nodesDwithin(d(1), d(2), d(3), sort = true).collect()
          run.note = rows.length.toString
          rows.nonEmpty && sortedWithin(rows.map(_.getAs[Double]("_distance")).toSeq, d(3))
        })
        case "intersects" => ("spatial", () => {
          val rows = g.intersects(d(1), d(2), d(3), d(4)).collect()
          run.note = rows.length.toString
          rows.nonEmpty && rows.forall { r =>
            val b = r.getAs[org.apache.spark.sql.Row]("_bbox")
            b.getDouble(0) <= d(3) && b.getDouble(2) >= d(1) &&
              b.getDouble(1) <= d(4) && b.getDouble(3) >= d(2)
          }
        })
        case "nearest_k" => ("spatial", () => {
          val rows = g.nearestK(d(1), d(2), op(3).toInt).collect()
          run.note = rows.length.toString
          rows.length == op(3).toInt &&
            sortedWithin(rows.map(_.getAs[Double]("_distance")).toSeq, Double.PositiveInfinity)
        })
        case "shortest_path" => ("route", () => {
          val (u, v) = (node(op(1), op(2)), node(op(3), op(4)))
          Route.shortestPath(g, u, v, "_length") match {
            case Some((path, cost)) => setCost(cost); path.head == u && path.last == v
            case None => setCost(Double.NaN); false
          }
        })
        case "astar" => ("route", () => {
          val (u, v) = (node(op(1), op(2)), node(op(3), op(4)))
          Route.shortestPathAStar(g, u, v, "_length") match {
            case Some((path, cost)) =>
              path.head == u && path.last == v &&
                math.abs(cost - lastCost) <= 1e-6 * math.max(1.0, cost)
            case None => false
          }
        })
        case "isochrone" => ("route", () => {
          val src = ids.filter(col("_n") === node(op(1), op(2))).head().getLong(1)
          val reach = Isochrone.isochrone(run.spark, weighted, src, d(3)).collect()
          reach.exists(r => r.getLong(0) == src && r.getDouble(1) == 0.0) &&
            reach.forall(_.getDouble(1) <= d(3))
        })
        case other => sys.error(s"unknown op $other")
      }
    }
  }
}
