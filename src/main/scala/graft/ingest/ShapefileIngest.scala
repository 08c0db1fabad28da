package graft.ingest

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** ESRI Shapefile (.shp + companion .dbf) → canonical edges DataFrame —
  * the second concrete format of the reference's any-OGR-file ingest
  * surface (`io.py:10-54` reads via fiona; GeoJSON and shapefiles are its
  * two common inputs). Implemented byte-level against the published ESRI
  * whitepaper / dBASE III layout; no GDAL in this environment.
  *
  * Architecture: this object is only the parser. Each .shp renders its
  * polylines with [[GeoJsonIngest.featureLine]] and the lines go through
  * [[GeoJsonIngest.fromLines]] — so node-id formatting, LineString
  * filtering, reverse edges, sign flips, `_length`, fids and dynamic
  * property schema are byte-identical to a GeoJSON build of the same
  * data, by construction.
  *
  * Scale: parsing is one task per file. A shapefile is capped at 2 GB by
  * its 32-bit offsets, so parallelism across files is the natural unit; a
  * directory of shapefiles ingests cluster-parallel. (The 100 TB path
  * remains newline-delimited GeoJSON, which splits within files too.)
  *
  * Semantics parity: non-LineString shapes are skipped, including
  * multi-part polylines — fiona reports those as MultiLineString and the
  * reference skips anything not a LineString (`io.py:37-39`). Deleted .dbf
  * rows keep their record slot aligned but contribute no feature; blank
  * numeric fields drop the property (the reference's None-drop,
  * `io.py:16-19`).
  */
object ShapefileIngest {

  private val ShpMagic = 9994
  private val TypeNull = 0
  private val TypePolyLine = 3

  /** Read one or more shapefiles into the canonical edges frame (same
    * schema and options as [[GeoJsonIngest.readEdges]]). Each path names
    * the .shp; the sibling .dbf is picked up when present.
    */
  def readEdges(spark: SparkSession, paths: Seq[String],
      opts: GeoJsonIngest.Options = GeoJsonIngest.Options()): DataFrame = {
    require(paths.nonEmpty, "no shapefile paths")
    val lines = GeoJsonIngest.perFile(spark, paths) { p =>
      val dbf = new org.apache.hadoop.fs.Path(p.replaceAll("(?i)\\.shp$", ".dbf"))
      val hasDbf = dbf.getFileSystem(new org.apache.hadoop.conf.Configuration()).exists(dbf)
      featureJsonLines(GeoJsonIngest.readFile(p),
        if (hasDbf) Some(GeoJsonIngest.readFile(dbf.toString)) else None,
        new org.apache.hadoop.fs.Path(p).getName.replaceAll("(?i)\\.shp$", ""))
    }
    GeoJsonIngest.fromLines(spark, lines, paths, opts, "shapefile features")
  }

  // ============================ .shp geometry ============================

  /** Single-part polylines of one .shp, as (recordNumber, coords); null
    * shapes, non-polyline types and multi-part records are skipped (parity
    * noted in the object doc).
    */
  private[graft] def parseShp(bytes: Array[Byte]): Iterator[(Int, Seq[Seq[Double]])] = {
    require(bytes.length >= 100, "truncated .shp header")
    val be = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    require(be.getInt(0) == ShpMagic, "not a shapefile (bad magic)")
    new Iterator[(Int, Seq[Seq[Double]])] {
      private var off = 100
      private var nextRec: Option[(Int, Seq[Seq[Double]])] = None
      advance()

      private def advance(): Unit = {
        nextRec = None
        while (nextRec.isEmpty && off + 8 <= bytes.length) {
          val recNum = be.getInt(off)
          val contentBytes = be.getInt(off + 4) * 2
          val c = off + 8
          if (c + contentBytes > bytes.length) { off = bytes.length }
          else {
            val le = ByteBuffer.wrap(bytes, c, contentBytes).order(ByteOrder.LITTLE_ENDIAN)
            val shapeType = le.getInt(c)
            if (shapeType == TypePolyLine) {
              val numParts = le.getInt(c + 36)
              val numPoints = le.getInt(c + 40)
              if (numParts == 1) {
                val ptsOff = c + 44 + 4 * numParts
                val coords = (0 until numPoints).map { i =>
                  Seq(le.getDouble(ptsOff + 16 * i), le.getDouble(ptsOff + 16 * i + 8))
                }
                nextRec = Some((recNum, coords))
              }
            }
            // any other shape class (null, points, polygons, Z/M variants,
            // multi-part): not a LineString, skipped like the reference
            off = c + contentBytes
          }
        }
      }

      def hasNext: Boolean = nextRec.nonEmpty
      def next(): (Int, Seq[Seq[Double]]) = {
        val r = nextRec.get; advance(); r
      }
    }
  }

  // ============================ .dbf attributes ==========================

  private[graft] final case class DbfField(name: String, typ: Char, len: Int, dec: Int)

  /** dBASE III attribute rows, indexed by record number (1-based, aligned
    * with .shp record numbers). Deleted rows yield None.
    */
  private[graft] def parseDbf(bytes: Array[Byte]): (Seq[DbfField], Int => Option[Seq[(String, Any)]]) = {
    val le = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val nRec = le.getInt(4)
    val headerSize = le.getShort(8) & 0xFFFF
    val recSize = le.getShort(10) & 0xFFFF
    val fields = scala.collection.mutable.ArrayBuffer[DbfField]()
    var fo = 32
    while (fo + 32 <= headerSize && bytes(fo) != 0x0D) {
      val nameEnd = (fo until fo + 11).find(bytes(_) == 0).getOrElse(fo + 11)
      val name = new String(bytes, fo, nameEnd - fo, "US-ASCII")
      fields += DbfField(name, (bytes(fo + 11) & 0xFF).toChar,
        bytes(fo + 16) & 0xFF, bytes(fo + 17) & 0xFF)
      fo += 32
    }
    val fieldSeq = fields.toSeq
    val record = (recNum: Int) => {
      val ro = headerSize + (recNum - 1) * recSize
      if (recNum < 1 || recNum > nRec || ro + recSize > bytes.length) None
      else if (bytes(ro) == '*') None // deleted row
      else {
        var vo = ro + 1
        Some(fieldSeq.flatMap { f =>
          val raw = new String(bytes, vo, f.len, "US-ASCII").trim
          vo += f.len
          if (raw.isEmpty) None
          else {
            val v: Option[Any] = f.typ match {
              case 'N' | 'F' =>
                try Some(
                  if (f.dec > 0 || raw.contains('.')) raw.toDouble else raw.toLong)
                catch { case _: NumberFormatException => None }
              case 'L' => raw.head match {
                case 'T' | 't' | 'Y' | 'y' => Some(true)
                case 'F' | 'f' | 'N' | 'n' => Some(false)
                case _ => None
              }
              case _ => Some(raw) // C, D, others: text
            }
            v.map(f.name -> _)
          }
        })
      }
    }
    (fieldSeq, record)
  }

  // ======================= GeoJSON feature bridge ========================

  private[graft] def featureJsonLines(shp: Array[Byte], dbf: Option[Array[Byte]],
      layer: String): Iterator[String] = {
    import GeoJsonIngest.{featureLine, fmtDouble, jsonString}
    val attrsFor: Int => Option[Seq[(String, Any)]] =
      dbf.map(parseDbf(_)._2).getOrElse(_ => Some(Nil))
    parseShp(shp).map { case (recNum, coords) =>
      val props = attrsFor(recNum).getOrElse(Nil).map { case (k, v) =>
        k -> (v match {
          case s: String => jsonString(s)
          case b: Boolean => b.toString
          case d: Double => fmtDouble(d)
          case other => other.toString
        })
      }
      featureLine(layer, recNum, coords.map(c => (c.head, c(1))), props)
    }
  }
}
