package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.PropertyGraph
import graft.ingest.ShapefileIngest

/** Shapefile ingest parity: a .shp/.dbf twin of the star fixture must build
  * the exact graph its GeoJSON twin builds (the reference treats both as
  * interchangeable fiona inputs, `io.py:10-13`). The writer below emits the
  * published ESRI/dBASE III layouts so the parser is tested byte-level.
  */
class ShapefileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val features: Seq[(Seq[Seq[Double]], Long)] = Seq(
    (Seq(Seq(-122.3141965, 47.6598870), Seq(-122.3132940, 47.6598762)), 10L),
    (Seq(Seq(-122.3144401, 47.6598872), Seq(-122.3141965, 47.6598870)), 20L),
    (Seq(Seq(-122.3141965, 47.6598870), Seq(-122.3142026, 47.6597293)), 30L),
    (Seq(Seq(-122.3141795, 47.6605333), Seq(-122.3141965, 47.6598870)), 40L))

  // ---------------------- minimal fixture writers ----------------------

  private def writeShp(dir: Path, multiPartLast: Boolean = false): Unit = {
    val recs = features.zipWithIndex.map { case ((coords, _), i) =>
      val multi = multiPartLast && i == features.length - 1
      val numParts = if (multi) 2 else 1
      val contentLen = 4 + 32 + 8 + 4 * numParts + 16 * coords.length
      val b = ByteBuffer.allocate(8 + contentLen)
      b.order(ByteOrder.BIG_ENDIAN)
      b.putInt(i + 1).putInt(contentLen / 2)
      b.order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(3) // PolyLine
      val xs = coords.map(_.head); val ys = coords.map(_(1))
      b.putDouble(xs.min).putDouble(ys.min).putDouble(xs.max).putDouble(ys.max)
      b.putInt(numParts).putInt(coords.length)
      b.putInt(0)
      if (multi) b.putInt(1) // second part start: makes it a MultiLineString
      coords.foreach(c => b.putDouble(c.head).putDouble(c(1)))
      b.array()
    }
    val total = 100 + recs.map(_.length).sum
    val h = ByteBuffer.allocate(total)
    h.order(ByteOrder.BIG_ENDIAN)
    h.putInt(9994)
    h.position(24); h.putInt(total / 2)
    h.order(ByteOrder.LITTLE_ENDIAN)
    h.putInt(1000).putInt(3)
    val allX = features.flatMap(_._1.map(_.head)); val allY = features.flatMap(_._1.map(_(1)))
    h.putDouble(allX.min).putDouble(allY.min).putDouble(allX.max).putDouble(allY.max)
    h.position(100)
    recs.foreach(h.put)
    Files.write(dir.resolve("star.shp"), h.array())
  }

  private def writeDbf(dir: Path): Unit = {
    val nRec = features.length
    val fieldLen = 10
    val headerSize = 32 + 32 + 1
    val recSize = 1 + fieldLen
    val b = ByteBuffer.allocate(headerSize + nRec * recSize + 1)
    b.order(ByteOrder.LITTLE_ENDIAN)
    b.put(0x03.toByte).put(26.toByte).put(8.toByte).put(13.toByte)
    b.putInt(nRec)
    b.putShort(headerSize.toShort).putShort(recSize.toShort)
    b.position(32)
    b.put("w".getBytes("US-ASCII")).position(32 + 11)
    b.put('N'.toByte)
    b.position(32 + 16); b.put(fieldLen.toByte).put(0.toByte)
    b.position(32 + 32); b.put(0x0D.toByte)
    features.foreach { case (_, w) =>
      b.put(' '.toByte)
      b.put(s"%${fieldLen}d".format(w).getBytes("US-ASCII"))
    }
    b.put(0x1A.toByte)
    Files.write(dir.resolve("star.dbf"), b.array())
  }

  private def writeGeoJsonTwin(dir: Path): Unit = {
    val feats = features.map { case (coords, w) =>
      val cj = coords.map(c => s"[${c.head},${c(1)}]").mkString("[", ",", "]")
      s"""{"type": "Feature", "properties": {"w": $w},
         | "geometry": {"type": "LineString", "coordinates": $cj}}""".stripMargin
    }
    Files.writeString(dir.resolve("star.geojson"),
      s"""{"type": "FeatureCollection", "features": [${feats.mkString(",")}]}""")
  }

  private lazy val dir: Path = {
    val d = Files.createTempDirectory("graft-shp")
    writeShp(d); writeDbf(d); writeGeoJsonTwin(d)
    d
  }

  // ------------------------------- tests --------------------------------

  test("dbf parser: field descriptors, typed values, deleted rows") {
    val bytes = Files.readAllBytes(dir.resolve("star.dbf"))
    val (fields, record) = ShapefileIngest.parseDbf(bytes)
    assert(fields.map(f => (f.name, f.typ, f.dec)) == Seq(("w", 'N', 0)))
    assert(record(1).get == Seq("w" -> 10L))
    assert(record(4).get == Seq("w" -> 40L))
    assert(record(5).isEmpty) // past the end
    val deleted = bytes.clone()
    deleted(32 + 32 + 1) = '*' // mark record 1 deleted
    assert(ShapefileIngest.parseDbf(deleted)._2(1).isEmpty)
  }

  test("shp parser: polylines round-trip, multi-part records are skipped") {
    val single = ShapefileIngest.parseShp(
      Files.readAllBytes(dir.resolve("star.shp"))).toSeq
    assert(single.map(_._1) == Seq(1, 2, 3, 4))
    assert(single.head._2 == features.head._1)
    val d2 = Files.createTempDirectory("graft-shp-mp")
    writeShp(d2, multiPartLast = true)
    val withMulti = ShapefileIngest.parseShp(
      Files.readAllBytes(d2.resolve("star.shp"))).toSeq
    assert(withMulti.map(_._1) == Seq(1, 2, 3)) // 4th is multi-part → skipped
  }

  test("shapefile build equals its GeoJSON twin, edge for edge") {
    val fromShp = PropertyGraph.fromGeoJson(spark,
      Seq(dir.resolve("star.shp").toString))
    val fromGj = PropertyGraph.fromGeoJson(spark,
      Seq(dir.resolve("star.geojson").toString))
    def key(g: PropertyGraph) = g.edges
      .select(col("fid"), col("_u"), col("_v"), col("_layer"), col("w"),
        round(col("_length"), 9).as("len"), to_json(col("geom")).as("gj"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getDouble(5), r.getString(6))).toSet
    assert(key(fromShp) == key(fromGj))
    assert(fromShp.size() == 8 && fromShp.order() == 5)
    // changes-sign options flow through the shared pipeline
    val signed = graft.ingest.ShapefileIngest.readEdges(spark,
      Seq(dir.resolve("star.shp").toString),
      graft.ingest.GeoJsonIngest.Options(changesSign = Seq("w")))
    val sums = signed.agg(sum("w")).head.getLong(0)
    assert(sums == 0L) // each reverse edge negates w
  }

  test("a .shp without its .dbf builds edges with no property columns") {
    val d = Files.createTempDirectory("graft-shp-nodbf")
    writeShp(d)
    val edges = ShapefileIngest.readEdges(spark, Seq(d.resolve("star.shp").toString))
    assert(edges.count() == 8)
    assert(!edges.columns.contains("w"), edges.columns.mkString(", "))
    assert(edges.columns.toSet == Set("_u", "_v", "geom", "_layer", "_length", "fid"))
  }
}
