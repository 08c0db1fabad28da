package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, NumericType, StructType}

import graft.geo.GeoFunctions

/** GeoJSON FeatureCollection → canonical edges/nodes DataFrames.
  *
  * Spark-native re-expression of the reference ingest pipeline
  * (`io.py:10-54`, `build.py:24-61`, `edge_table.py:5-33`):
  *  - one declarative plan per build: read → explode → filter LineString →
  *    derive ids/length → union reverse edges; Catalyst fuses it all into
  *    scan+project stages (vs the reference's per-row generator + SQLite
  *    upserts);
  *  - dynamic schema comes free from JSON inference (the reference's
  *    incremental `ALTER TABLE`, `feature_table.py:475-496`);
  *  - nodes are a projection of edge endpoints (`edge_table.py:5-33`), not a
  *    second pass over the input.
  */
object GeoJsonIngest {

  /** @param precision   node-id rounding decimals (ref `cli.py:11`, default 7)
    * @param changesSign numeric property columns negated on the reverse edge
    *                    (ref `cli.py:12`, `io.py:47-49`)
    * @param assignFids  assign per-feature surrogate fids at all
    *                    (`feature_table.py:94`); forward/reverse edges get
    *                    `2*fidx-1` / `2*fidx` in every mode.
    * @param denseFids   `Some(true)` = reference-parity insertion-order fids
    *                    via a global row_number (single task — build-sized
    *                    inputs only); `Some(false)` = shuffle-free sparse
    *                    unique fids; `None` (default) = auto: dense while
    *                    the input is under [[DenseFidMaxBytes]], sparse
    *                    above it, so a naive 100 TB build can never
    *                    serialize through one window task.
    */
  case class Options(
      precision: Int = 7,
      changesSign: Seq[String] = Nil,
      assignFids: Boolean = true,
      denseFids: Option[Boolean] = None)

  /** Auto-mode ceiling for dense insertion-order fids: under this input
    * size the global row_number window is one small task's work (≈1M
    * features) and reference fid parity is worth it; above it the sparse
    * path keeps ingest fully parallel. Decided from file metadata only —
    * no extra scan job.
    */
  val DenseFidMaxBytes: Long = 256L << 20

  /** Metadata-only total input size (driver-side stat, no Spark job). */
  private[graft] def inputBytes(spark: SparkSession, paths: Seq[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.map { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      def size(st: org.apache.hadoop.fs.FileStatus): Long =
        if (st.isDirectory) fs.listStatus(st.getPath).map(size).sum else st.getLen
      Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Nil).map(size).sum
    }.sum
  }

  /** Resolve the fid mode for an input set (see [[Options.denseFids]]). */
  private[graft] def denseByGate(spark: SparkSession, paths: Seq[String],
      opts: Options): Boolean =
    opts.denseFids.getOrElse(inputBytes(spark, paths) <= DenseFidMaxBytes)

  /** Read one or more GeoJSON FeatureCollection files into the canonical
    * edges DataFrame:
    * `_u, _v, geom(type, coordinates), _layer, _length, <properties...>[, fid]`
    * with a reverse edge per input LineString (ref `io.py:42-50`).
    *
    * NOTE on scale: a FeatureCollection file is one JSON document, so the
    * multiLine reader parses each file in a single task. For 100 TB-class
    * ingest use [[readEdgesSeq]] (newline-delimited features), which splits
    * like any text source.
    */
  def readEdges(spark: SparkSession, paths: Seq[String], opts: Options = Options()): DataFrame = {
    val raw = spark.read.option("multiLine", value = true).json(paths: _*)
    require(raw.schema.fieldNames.contains("features"),
      s"not a GeoJSON FeatureCollection: $paths")

    val feats = raw
      .select(layerCol.as("_layer"), posexplode(col("features")).as(Seq("pos", "f")))
      .filter(col("f.geometry.type") === "LineString")

    val propFields: Seq[String] = raw.schema("features").dataType match {
      case ArrayType(s: StructType, _) => propsOf(s)
      case _ => Nil
    }
    fromFeatures(feats, propFields, opts, denseByGate(spark, paths, opts))
  }

  /** Read newline-delimited GeoJSON features (GeoJSONSeq / ndjson — one
    * Feature object per line): the splittable, cluster-parallel ingest
    * path. Same output schema as [[readEdges]]; fids are ordered by
    * (layer, file position).
    */
  def readEdgesSeq(spark: SparkSession, paths: Seq[String], opts: Options = Options()): DataFrame = {
    val raw = spark.read.json(paths: _*)
    require(raw.schema.fieldNames.contains("geometry"),
      s"not newline-delimited GeoJSON features: $paths")
    // properties may legitimately be absent from every feature
    val fStruct =
      if (raw.schema.fieldNames.contains("properties"))
        struct(col("geometry"), col("properties"))
      else struct(col("geometry"))
    val feats = raw
      .select(layerCol.as("_layer"), monotonically_increasing_id().as("pos"),
        fStruct.as("f"))
      .filter(col("f.geometry.type") === "LineString")
    // sparse unless explicitly forced dense: this reader exists to split,
    // and the dense insertion-order window would serialize it through one
    // task
    fromFeatures(feats, propsOf(raw.schema), opts, opts.denseFids.getOrElse(false))
  }

  private def layerCol =
    regexp_replace(element_at(split(input_file_name(), "/"), -1), "\\.[^.]*$", "")

  private[ingest] def propsOf(s: StructType): Seq[String] =
    s.fields.find(_.name == "properties") match {
      case Some(f) => f.dataType match {
        case p: StructType => p.fieldNames.toSeq
        case _ => Nil
      }
      case None => Nil
    }

  /** Shared pipeline from an exploded feature frame (_layer, pos, f).
    * `denseFids` = reference-parity insertion-order fids via a global
    * window (single-task — fine for build-sized inputs, resolved by
    * [[denseByGate]]); false = unique sparse fids from
    * `monotonically_increasing_id` with no shuffle (the scale path;
    * surrogate values, but the odd/even forward/reverse pairing holds).
    */
  private[ingest] def fromFeatures(feats: DataFrame, propFields: Seq[String],
      opts: Options, denseFids: Boolean): DataFrame = {
    val coords = col("f.geometry.coordinates").cast(ArrayType(ArrayType(DoubleType)))
    // reference drops None-valued props per-feature (io.py:16-19); columnar
    // NULLs carry the same semantics.
    val propCols = propFields.map(n => col(s"f.properties.`$n`").as(n))

    val base = feats.select(
      Seq(
        col("_layer"), col("pos"),
        coords.as("coordinates"),
        GeoFunctions.nodeId(element_at(coords, 1).getItem(0),
          element_at(coords, 1).getItem(1), opts.precision).as("_u"),
        GeoFunctions.nodeId(element_at(coords, -1).getItem(0),
          element_at(coords, -1).getItem(1), opts.precision).as("_v")
      ) ++ propCols: _*)

    // insertion-order index over LineString features (per build, matching
    // the reference's sequential file processing: order by layer then pos)
    val indexed =
      if (opts.assignFids && denseFids)
        base.withColumn("fidx",
          row_number().over(Window.orderBy("_layer", "pos")))
      else if (opts.assignFids)
        // unique across files and partitions with no shuffle; values are
        // sparse surrogates (partition-local counters), which is all a
        // 100 TB build needs from a fid
        base.withColumn("fidx", monotonically_increasing_id() + 1)
      else base

    def signFlip(name: String, c: Column, reverse: Boolean): Column =
      if (reverse && opts.changesSign.contains(name)) (-c).as(name) else c.as(name)

    def side(rev: Boolean): DataFrame = {
      val cs = if (rev) reverse(col("coordinates")) else col("coordinates")
      val u = if (rev) col("_v") else col("_u")
      val v = if (rev) col("_u") else col("_v")
      val fid =
        if (opts.assignFids)
          Seq(((col("fidx") * 2) - (if (rev) lit(0) else lit(1))).cast("long").as("fid"))
        else Nil
      indexed.select(
        Seq(
          u.as("_u"), v.as("_v"),
          struct(lit("LineString").as("type"), cs.as("coordinates")).as("geom"),
          col("_layer"),
          GeoFunctions.lineLengthMeters(cs).as("_length")
        ) ++ propFields.map(n => signFlip(n, col(s"`$n`"), rev)) ++ fid: _*)
    }

    side(rev = false).unionByName(side(rev = true))
  }

  // ================ Feature-line bridge (every other format) ================
  //
  // The KML, GML, OSM XML, OSM PBF and shapefile readers keep only their
  // parsers: each renders its features with [[featureLine]] and hands the
  // lines to [[fromLines]], so node-id formatting, LineString filtering,
  // reverse edges, sign flips, `_length`, fids and the dynamic property
  // schema are byte-identical to a GeoJSON build of the same data.

  /** Feature lines (`_layer`, `pos`, `geometry`, optional `properties`)
    * → the canonical edges frame: JSON schema inference, then the
    * [[fromFeatures]] pipeline with the fid mode of `paths`. `what` names
    * the format's features in the error for input with none.
    */
  private[ingest] def fromLines(spark: SparkSession, lines: Dataset[String],
      paths: Seq[String], opts: Options, what: String): DataFrame = {
    val raw = spark.read.json(lines)
    require(raw.schema.fieldNames.contains("geometry"), s"no parseable $what in $paths")
    val fStruct =
      if (raw.schema.fieldNames.contains("properties"))
        struct(col("geometry"), col("properties"))
      else struct(col("geometry"))
    val feats = raw
      .select(col("_layer"), col("pos"), fStruct.as("f"))
      .filter(col("f.geometry.type") === "LineString")
    fromFeatures(feats, propsOf(raw.schema), opts, denseByGate(spark, paths, opts))
  }

  /** The feature lines `render` makes of each path, one task per path (a
    * DOM or shapefile parse is file-local; a directory of files ingests
    * cluster-parallel).
    */
  private[ingest] def perFile(spark: SparkSession, paths: Seq[String])(
      render: String => Iterator[String]): Dataset[String] = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(paths, paths.size).flatMap(render))
  }

  /** Whole-file read for the file-local parsers. A JVM array holds just
    * under 2 GiB, so a larger file is refused by name before allocating;
    * the formats that split within files take such inputs.
    */
  private[ingest] def readFile(p: String): Array[Byte] = {
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = path.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val len = fs.getFileStatus(path).getLen
    require(len <= Int.MaxValue - 8,
      s"$p is $len bytes, over the ${Int.MaxValue - 8}-byte whole-file read limit; " +
        "convert it to .osm.pbf or newline-delimited GeoJSON (.geojsonl), which split")
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(path)
    try in.readFully(0, buf) finally in.close()
    buf
  }

  /** One GeoJSON Feature line for a LineString. `props` values are JSON
    * already (see [[sniffJson]], [[jsonString]]); `properties` is left out
    * when there are none, as absent properties infer no columns.
    */
  private[ingest] def featureLine(layer: String, pos: Long,
      coords: Seq[(Double, Double)], props: Iterable[(String, String)]): String = {
    val coordJson = coords.map { case (x, y) => s"[${fmtDouble(x)},${fmtDouble(y)}]" }
      .mkString("[", ",", "]")
    val propJson =
      if (props.isEmpty) ""
      else props.map { case (k, vj) => s"${jsonString(k)}:$vj" }
        .mkString(""","properties":{""", ",", "}")
    s"""{"_layer":${jsonString(layer)},"pos":$pos,""" +
      s""""geometry":{"type":"LineString","coordinates":$coordJson}$propJson}"""
  }

  /** Untyped text attribute (KML, GML, OSM tags) as JSON: a number when
    * the text is one (long, then double), a string otherwise.
    */
  private[ingest] def sniffJson(raw: String): String =
    if (raw.matches("[+-]?\\d+"))
      try raw.toLong.toString catch { case _: NumberFormatException => jsonString(raw) }
    else if (raw.matches("[+-]?\\d*\\.\\d+([eE][+-]?\\d+)?"))
      try fmtDouble(raw.toDouble) catch { case _: NumberFormatException => jsonString(raw) }
    else jsonString(raw)

  private[ingest] def fmtDouble(d: Double): String =
    if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15) s"${d.toLong}.0"
    else d.toString

  private[ingest] def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Node table from edge endpoints (ref `edge_table.py:5-33`): distinct
    * `_n` with a Point geometry; one shuffle (the dropDuplicates).
    */
  def deriveNodes(edges: DataFrame): DataFrame = {
    val cs = col("geom.coordinates")
    edges
      .select(explode(array(
        struct(col("_u").as("_n"), element_at(cs, 1).as("coordinates")),
        struct(col("_v").as("_n"), element_at(cs, -1).as("coordinates")))).as("n"))
      .select(col("n._n").as("_n"),
        struct(lit("Point").as("type"), col("n.coordinates").as("coordinates")).as("geom"))
      .dropDuplicates("_n")
  }
}
