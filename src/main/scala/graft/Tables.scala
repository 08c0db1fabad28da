package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loader for the driver-provided synthetic parquet tables
  * (see /root/repo/TESTDATA.md). One parquet file per table under the
  * scale-factor directory handed to every query.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** events.ts is parquet TIMESTAMP(NANOS), which Spark only reads as a
    * long (spark.sql.legacy.parquet.nanosAsLong=true — set in every session
    * we build). Normalize to a proper TimestampType (µs precision, UTC) so
    * downstream queries and the DuckDB oracle agree.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(spark.read.parquet(s"$dir/events.parquet"))

  /** long-nanos ts column → TimestampType (µs, UTC); no-op otherwise. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // tz-less parquet timestamps read as NTZ; watermarks/windows demand
      // TIMESTAMP (LTZ). The session TZ is pinned to UTC, so this cast
      // reads the wall-clock as the same instant DuckDB's epoch() of the
      // naive value produces — batch, streaming, and oracle stay aligned.
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Cores for a local session: `SPARK_GRAFT_CPUS`, else the machine's. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The one session builder: every entry point and the test suites get
    * their session here. `local[cpus]` unless `master` names another,
    * `cpus` shuffle partitions, no UI, [[sessionConfigs]], log level WARN.
    */
  def session(cpus: Int = defaultCpus,
      master: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
    sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Session-RESETTABLE configs: safe to re-apply on `spark.newSession()`
    * clones (Verify's per-worker sessions). Static SparkContext configs
    * live in [[sessionConfigs]] only — setting one on a live session
    * throws CANNOT_MODIFY_CONFIG.
    */
  val sessionRuntimeConfigs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // NOTE on AQE's coalescing floor (minPartitionSize): an A/B over the
    // whole registry showed a global 64 KB floor is a wash-to-loss — it
    // rescues CPU-dense small shuffles (containment pair explosion: one
    // task writing 24 MB while 31 cores idled) but taxes every iterative
    // multi-job query with tiny-task scheduling (r12_hits 2.8 -> 8.7 s,
    // j31 4.2 -> 6.2 s). CPU-density is per-OPERATOR knowledge AQE's
    // bytes-based heuristic cannot see, so the dense spots pin their own
    // parallelism (Par.fanOut / explicit repartition, both AQE-immune
    // REPARTITION_BY_NUM) and the global default stays.
    "spark.sql.adaptive.enabled" -> "true")

  /** Dev-loop config overrides (the driver never sets it): semicolon-
    * separated `key=value` pairs from `SPARK_GRAFT_CONF`, applied LAST so
    * an A/B experiment can flip one knob without a code edit.
    */
  private def envConfigs: Map[String, String] =
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';').toSeq)
      .map(_.trim).filter(_.contains('='))
      .map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }
      .toMap

  /** Builder-time config every entry point needs (applied once before the
    * SparkContext exists).
    */
  def sessionConfigs: Map[String, String] = sessionConfigsBase ++ envConfigs

  private val sessionConfigsBase: Map[String, String] = sessionRuntimeConfigs ++ Map(
    // Bound the status store's job/stage/SQL records (nothing reads them):
    // 200 collects on a loaded 20,000-edge package grew the heap 4.9 MB,
    // 3.2 MB of it status-store classes (class histogram); bounded, 0.57 MB.
    "spark.ui.retainedJobs" -> "100",
    "spark.ui.retainedStages" -> "100",
    "spark.sql.ui.retainedExecutions" -> "100",
    // Kryo for RDD/GraphX shuffle payloads (SQL uses UnsafeRow and is
    // unaffected): the graph fixpoints ship per-vertex state as messages
    // every superstep, and serialization is their dominant constant. The
    // reproducible evidence is the driver's own round-10 bench deltas
    // (r12_hits 3.04 → 1.95 s, r1_betweenness_chain 3.34 → 2.76 s) — the
    // round-10 "71.3 → 43.0 s" smoke A/B was retracted as unreproducible;
    // SCALING.md's round-11 table carries the measured curve with config.
    // Values-only results are serializer-invariant; SQL/streaming paths
    // use their own encoders. STATIC — builder-time only.
    "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer",
    // Register the hot RDD-shuffle classes so Kryo writes a varint class
    // id instead of a fully-qualified name per stream: the GraphX
    // partition/ship types (the same list GraphXUtils.registerKryoClasses
    // installs — not callable here because config is a string map) plus
    // the Brandes fixpoint's primitive-array message types. Registration
    // is an encoding hint only — values are serializer-invariant, and
    // registrationRequired stays false so unlisted classes still work.
    // The Spark-INTERNAL names are validated with Class.forName at
    // builder time and silently dropped if a Spark upgrade moves them —
    // eager registration of a stale name would otherwise fail every
    // session at startup over a pure encoding hint (ADVICE r11).
    "spark.kryo.classesToRegister" -> Seq(
      "org.apache.spark.graphx.Edge",
      "org.apache.spark.graphx.impl.EdgePartition",
      "org.apache.spark.graphx.impl.ShippableVertexPartition",
      "org.apache.spark.graphx.impl.RoutingTablePartition",
      "org.apache.spark.util.collection.BitSet",
      "org.apache.spark.util.collection.OpenHashSet",
      "graft.route.SrcDistSig",
      "graft.route.DeltaVec")
      .filter { name =>
        val ok = scala.util.Try(Class.forName(name)).isSuccess
        if (!ok) System.err.println(
          s"[tables] WARN dropping unknown Kryo registration $name " +
            "(moved/renamed in this Spark build?)")
        ok
      }.mkString(","))
}
