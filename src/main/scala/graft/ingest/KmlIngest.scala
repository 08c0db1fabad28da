package graft.ingest

import java.io.ByteArrayInputStream

import javax.xml.XMLConstants
import javax.xml.parsers.DocumentBuilderFactory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.w3c.dom.Element

/** OGC KML → canonical edges DataFrame — the third concrete format of the
  * reference's any-OGR-file ingest surface (`io.py:10-13` reads via fiona,
  * whose OGR backend includes the KML driver). Parsed with the JDK's own
  * XML stack against the public OGC KML 2.2 schema; no GDAL in this
  * environment.
  *
  * Architecture: this object is only the parser. Each `.kml` renders
  * its placemarks with [[GeoJsonIngest.featureLine]] and the lines go
  * through [[GeoJsonIngest.fromLines]], so the edges are byte-identical
  * to a GeoJSON build of the same data, by construction. One task per
  * file; the 100 TB path remains newline-delimited GeoJSON, which splits
  * within files too.
  *
  * Semantics parity with the reference's LineString-only ingest
  * (`io.py:37-39`): only `<Placemark>`s whose geometry is a `<LineString>`
  * become edges; Points, Polygons, MultiGeometry parts and geometry-less
  * placemarks are skipped. Properties come from `<name>`,
  * `<ExtendedData><Data name=…><value>` and `<SchemaData><SimpleData
  * name=…>`; values are number-sniffed (long, then double, else string),
  * matching OGR's untyped-KML behavior closely enough for round-trips.
  * Altitude (the optional third coordinate component) is dropped — the
  * engine is 2-D throughout, like the reference.
  */
object KmlIngest {

  /** Read one or more KML files into the canonical edges frame (same
    * schema and options as [[GeoJsonIngest.readEdges]]).
    */
  def readEdges(spark: SparkSession, paths: Seq[String],
      opts: GeoJsonIngest.Options = GeoJsonIngest.Options()): DataFrame = {
    require(paths.nonEmpty, "no kml paths")
    val lines = GeoJsonIngest.perFile(spark, paths) { p =>
      featureJsonLines(GeoJsonIngest.readFile(p),
        new org.apache.hadoop.fs.Path(p).getName.replaceAll("(?i)\\.kml$", ""))
    }
    GeoJsonIngest.fromLines(spark, lines, paths, opts, "KML LineString placemarks")
  }

  /** Hardened DOM builder shared by the XML ingest formats (KML, GML,
    * OSM): external input, so DTDs and external entities are disabled
    * outright (XXE).
    */
  private[ingest] def secureBuilder(): javax.xml.parsers.DocumentBuilder =
    secureFactory().newDocumentBuilder()

  private def secureFactory(): DocumentBuilderFactory = {
    val f = DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(true)
    f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    f.setFeature("http://xml.org/sax/features/external-general-entities", false)
    f.setFeature("http://xml.org/sax/features/external-parameter-entities", false)
    f.setXIncludeAware(false)
    f.setExpandEntityReferences(false)
    try f.setAttribute(XMLConstants.ACCESS_EXTERNAL_DTD, "")
    catch { case _: IllegalArgumentException => () }
    f
  }

  private def childElems(e: Element, local: String): Seq[Element] = {
    val nl = e.getElementsByTagNameNS("*", local)
    (0 until nl.getLength).map(nl.item(_).asInstanceOf[Element])
  }

  /** First DIRECT text-bearing child element with the local name (avoids
    * picking a nested Placemark's <name> from a Folder, etc.).
    */
  private def directChild(e: Element, local: String): Option[Element] = {
    val nl = e.getChildNodes
    (0 until nl.getLength).iterator.map(nl.item).collectFirst {
      case el: Element if el.getLocalName == local => el
    }
  }

  /** GeoJSON Feature JSON lines for every LineString placemark. */
  private[graft] def featureJsonLines(xml: Array[Byte], layer: String): Iterator[String] = {
    import GeoJsonIngest.{featureLine, jsonString, sniffJson}
    val doc = secureBuilder().parse(new ByteArrayInputStream(xml))
    val placemarks = doc.getElementsByTagNameNS("*", "Placemark")
    (0 until placemarks.getLength).iterator.flatMap { i =>
      val pm = placemarks.item(i).asInstanceOf[Element]
      // LineString must belong to this placemark directly (not via a
      // MultiGeometry part — parity: multi-part geometries are skipped,
      // as the reference skips fiona's MultiLineString)
      val ls = directChild(pm, "LineString")
      val coords = ls.flatMap(l => directChild(l, "coordinates")).toSeq.flatMap { ce =>
        val tuples = ce.getTextContent.trim.split("\\s+").filter(_.nonEmpty)
        val parsed = tuples.flatMap { t =>
          val parts = t.split(",")
          if (parts.length >= 2)
            try Some((parts(0).trim.toDouble, parts(1).trim.toDouble))
            catch { case _: NumberFormatException => None }
          else None
        }
        if (parsed.length >= 2) parsed.toSeq else Nil
      }
      if (coords.isEmpty) Iterator.empty
      else {
        val props = scala.collection.mutable.LinkedHashMap[String, String]()
        directChild(pm, "name").foreach(n =>
          props("name") = jsonString(n.getTextContent.trim))
        directChild(pm, "ExtendedData").foreach { ed =>
          childElems(ed, "Data").foreach { d =>
            val k = d.getAttribute("name")
            if (k.nonEmpty) directChild(d, "value").foreach(v =>
              props(k) = sniffJson(v.getTextContent.trim))
          }
          childElems(ed, "SimpleData").foreach { sd =>
            val k = sd.getAttribute("name")
            if (k.nonEmpty) props(k) = sniffJson(sd.getTextContent.trim)
          }
        }
        Iterator(featureLine(layer, i + 1, coords, props))
      }
    }
  }
}
