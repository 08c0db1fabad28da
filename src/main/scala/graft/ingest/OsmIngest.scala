package graft.ingest

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.w3c.dom.Element

/** OpenStreetMap XML (`.osm`) → canonical edges DataFrame. OSM is the
  * native source of the reference's domain data (street/sidewalk
  * networks); its ingest surface reads any fiona/OGR-supported format
  * (`io.py:10-13`), and OGR's OSM driver exposes ways as a `lines`
  * layer. This reader replicates that view Spark-side with the JDK XML
  * stack (hardened via [[KmlIngest.secureBuilder]]).
  *
  * Model: `<node>` elements carry (id, lon, lat); `<way>` elements carry
  * ordered `<nd ref=…>` node references plus `<tag k v>` attributes. A
  * way becomes one LineString feature whose coordinates are its resolved
  * node positions in order; ways with fewer than two resolvable refs are
  * skipped, as are closed ways tagged `area=yes` (polygons in OGR's
  * model, not lines). Tags flatten to dynamic property columns
  * (number-sniffed, like the KML/GML readers — richer than OGR's
  * `other_tags` hstore but the same information), plus `osm_id`.
  *
  * Architecture: this object is only the parser. Ways render with
  * [[GeoJsonIngest.featureLine]] and the lines go through
  * [[GeoJsonIngest.fromLines]], so node-id formatting, reverse edges,
  * sign flips, `_length`, fids and property schema are byte-identical to
  * a GeoJSON build of the same ways. One task per file; the 100 TB path
  * remains `.osm.pbf` or newline-delimited GeoJSON, which split within
  * files.
  */
object OsmIngest {

  /** Read one or more `.osm` XML files into the canonical edges frame
    * (same schema and options as [[GeoJsonIngest.readEdges]]).
    */
  def readEdges(spark: SparkSession, paths: Seq[String],
      opts: GeoJsonIngest.Options = GeoJsonIngest.Options()): DataFrame = {
    require(paths.nonEmpty, "no osm paths")
    val lines = GeoJsonIngest.perFile(spark, paths) { p =>
      featureJsonLines(GeoJsonIngest.readFile(p),
        new org.apache.hadoop.fs.Path(p).getName.replaceAll("(?i)\\.osm$", ""))
    }
    GeoJsonIngest.fromLines(spark, lines, paths, opts, "OSM ways")
  }

  /** GeoJSON Feature JSON lines for every line-like way. */
  private[graft] def featureJsonLines(xml: Array[Byte], layer: String): Iterator[String] = {
    val doc = KmlIngest.secureBuilder().parse(new ByteArrayInputStream(xml))
    val nodeEls = doc.getElementsByTagNameNS("*", "node")
    val nodePos = new scala.collection.mutable.HashMap[Long, (Double, Double)]()
    (0 until nodeEls.getLength).foreach { i =>
      val n = nodeEls.item(i).asInstanceOf[Element]
      try nodePos(n.getAttribute("id").toLong) =
        (n.getAttribute("lon").toDouble, n.getAttribute("lat").toDouble)
      catch { case _: NumberFormatException => () }
    }
    val wayEls = doc.getElementsByTagNameNS("*", "way")
    (0 until wayEls.getLength).iterator.flatMap { i =>
      val w = wayEls.item(i).asInstanceOf[Element]
      val children = {
        val nl = w.getChildNodes
        (0 until nl.getLength).map(nl.item).collect { case e: Element => e }
      }
      val coords = children.filter(_.getLocalName == "nd").flatMap { nd =>
        scala.util.Try(nd.getAttribute("ref").toLong).toOption.flatMap(nodePos.get)
      }
      val tags = children.filter(_.getLocalName == "tag")
        .map(t => t.getAttribute("k") -> t.getAttribute("v"))
        .filter(_._1.nonEmpty)
      val closed = coords.length >= 2 && coords.head == coords.last
      val isArea = closed && tags.exists { case (k, v) => k == "area" && v == "yes" }
      if (coords.length < 2 || isArea) Iterator.empty
      else {
        val id = scala.util.Try(w.getAttribute("id").toLong).toOption.getOrElse(0L)
        Iterator(featureLine(layer, i + 1L, id, tags, coords))
      }
    }
  }

  /** One GeoJSON Feature line for a resolved way — shared by the XML and
    * PBF readers so both formats render (and therefore type-sniff and
    * schema-infer) identically. `osm_id` leads, then tags in the given
    * order.
    */
  private[ingest] def featureLine(layer: String, pos: Long, osmId: Long,
      tags: Iterable[(String, String)], coords: Seq[(Double, Double)]): String = {
    val props = scala.collection.mutable.LinkedHashMap[String, String]()
    props("osm_id") = osmId.toString
    tags.foreach { case (k, v) => if (k.nonEmpty) props(k) = GeoJsonIngest.sniffJson(v) }
    GeoJsonIngest.featureLine(layer, pos, coords, props)
  }
}
