package graft.ingest

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.w3c.dom.Element

/** OGC GML → canonical edges DataFrame — another concrete format of the
  * reference's any-OGR-file ingest surface (`io.py:10-13` reads via
  * fiona, whose OGR backend includes the GML driver). Parsed with the
  * JDK's hardened XML stack (shared with [[KmlIngest]]).
  *
  * Architecture: this object is only the parser. Each `.gml` file
  * renders its features with [[GeoJsonIngest.featureLine]] and the lines
  * go through [[GeoJsonIngest.fromLines]], so the edges are
  * byte-identical to a GeoJSON build of the same data, by construction.
  * One task per file; a directory of GML files ingests cluster-parallel.
  *
  * Feature model: every `<gml:featureMember>` / `<gml:featureMembers>` /
  * WFS `<member>` child element is a feature. Simple-content child
  * elements become properties (number-sniffed like KML, matching OGR's
  * behavior for schema-less GML); the geometry is the feature's
  * descendant `<gml:LineString>`, read from either GML 3 `<gml:posList>`
  * (whitespace-separated flat coordinate list, `srsDimension` honored,
  * default 2) or GML 2 `<gml:coordinates>` (space-separated `x,y`
  * tuples). Coordinates are taken in document order as (lon, lat) — the
  * OGR default for GML without axis-order metadata; third components are
  * dropped (the engine is 2-D throughout, like the reference).
  * Point/Polygon/Multi* features and geometry-less features are skipped
  * — parity with the reference's LineString-only ingest (`io.py:37-39`).
  */
object GmlIngest {

  /** Read one or more GML files into the canonical edges frame (same
    * schema and options as [[GeoJsonIngest.readEdges]]).
    */
  def readEdges(spark: SparkSession, paths: Seq[String],
      opts: GeoJsonIngest.Options = GeoJsonIngest.Options()): DataFrame = {
    require(paths.nonEmpty, "no gml paths")
    val lines = GeoJsonIngest.perFile(spark, paths) { p =>
      featureJsonLines(GeoJsonIngest.readFile(p),
        new org.apache.hadoop.fs.Path(p).getName.replaceAll("(?i)\\.gml$", ""))
    }
    GeoJsonIngest.fromLines(spark, lines, paths, opts, "GML LineString features")
  }

  /** Member container local names: GML 2/3 `featureMember(s)` plus the
    * WFS 2.0 `member` wrapper fiona sees on WFS dumps.
    */
  private val MemberNames = Set("featureMember", "featureMembers", "member")

  /** GeoJSON Feature JSON lines for every LineString feature. */
  private[graft] def featureJsonLines(xml: Array[Byte], layer: String): Iterator[String] = {
    import GeoJsonIngest.{featureLine, sniffJson}
    val doc = KmlIngest.secureBuilder().parse(new ByteArrayInputStream(xml))
    val members = doc.getElementsByTagNameNS("*", "*")
    val features = (0 until members.getLength).iterator.map(members.item)
      .collect { case e: Element if MemberNames(e.getLocalName) => e }
      .flatMap(m => childElements(m))
    features.zipWithIndex.flatMap { case (f, i) =>
      val coords = lineStringCoords(f)
      if (coords.length < 2) Iterator.empty
      else {
        val props = scala.collection.mutable.LinkedHashMap[String, String]()
        childElements(f).foreach { c =>
          if (simpleContent(c)) {
            val v = c.getTextContent.trim
            if (v.nonEmpty) props(c.getLocalName) = sniffJson(v)
          }
        }
        Iterator(featureLine(layer, i + 1, coords, props))
      }
    }
  }

  private def childElements(e: Element): Seq[Element] = {
    val nl = e.getChildNodes
    (0 until nl.getLength).map(nl.item).collect { case el: Element => el }
  }

  /** True when the element carries only text (a property), not nested
    * elements (a geometry wrapper or complex property).
    */
  private def simpleContent(e: Element): Boolean = {
    val nl = e.getChildNodes
    !(0 until nl.getLength).exists(nl.item(_).isInstanceOf[Element])
  }

  /** (lon, lat) pairs of the feature's first LineString descendant, or
    * empty. Handles GML 3 posList (flat, srsDimension-strided) and GML 2
    * coordinates (comma tuples).
    */
  private def lineStringCoords(feature: Element): Seq[(Double, Double)] = {
    val ls = feature.getElementsByTagNameNS("*", "LineString")
    if (ls.getLength == 0) return Nil
    val line = ls.item(0).asInstanceOf[Element]
    val posList = line.getElementsByTagNameNS("*", "posList")
    if (posList.getLength > 0) {
      val pe = posList.item(0).asInstanceOf[Element]
      val dim = Option(pe.getAttribute("srsDimension")).filter(_.nonEmpty)
        .orElse(Option(line.getAttribute("srsDimension")).filter(_.nonEmpty))
        .flatMap(d => scala.util.Try(d.toInt).toOption).getOrElse(2)
      val nums = pe.getTextContent.trim.split("\\s+").filter(_.nonEmpty)
        .flatMap(n => scala.util.Try(n.toDouble).toOption)
      if (dim < 2) Nil
      else nums.grouped(dim).collect { case g if g.length >= 2 => (g(0), g(1)) }.toSeq
    } else {
      val coordEls = line.getElementsByTagNameNS("*", "coordinates")
      if (coordEls.getLength == 0) Nil
      else coordEls.item(0).getTextContent.trim.split("\\s+").filter(_.nonEmpty)
        .toSeq.flatMap { t =>
          val parts = t.split(",")
          if (parts.length >= 2)
            scala.util.Try((parts(0).trim.toDouble, parts(1).trim.toDouble)).toOption
          else None
        }
    }
  }
}
