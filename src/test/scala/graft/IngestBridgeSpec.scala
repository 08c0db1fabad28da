package graft

import java.io.RandomAccessFile
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.{GmlIngest, KmlIngest, OsmIngest, ShapefileIngest}

/** Every non-GeoJSON reader keeps only its parser and hands GeoJSON
  * Feature lines to one bridge in `GeoJsonIngest` (`featureLine`,
  * `fromLines`, `readFile`): a second renderer, number sniffer or JSON
  * read under ingest/ is a copy whose output will drift from the GeoJSON
  * build the readers are pinned to.
  */
class IngestBridgeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val sources: Map[String, String] = {
    val root = Paths.get("src/main/scala/graft/ingest")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    scala.util.Using.resource(Files.walk(root)) { files =>
      files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(f => f.getFileName.toString -> Files.readString(f)).toMap
    }
  }

  private def sitesOf(needle: String): Seq[String] =
    sources.toSeq.sortBy(_._1).flatMap { case (file, text) =>
      Iterator.iterate(text.indexOf(needle))(i => text.indexOf(needle, i + 1))
        .takeWhile(_ >= 0).map(_ => file)
    }

  test("one feature-line renderer and one number sniffer under ingest/") {
    val renderers = sitesOf("\"geometry\":{\"type\":\"LineString\",\"coordinates\":")
    assert(renderers == Seq("GeoJsonIngest.scala"), s"feature-line renderers: $renderers")
    val sniffers = sitesOf("def sniffJson")
    assert(sniffers == Seq("GeoJsonIngest.scala"), s"sniffJson definitions: $sniffers")
  }

  test("JSON is read only in GeoJsonIngest") {
    val reads = sitesOf("spark.read.json(").filterNot(_ == "GeoJsonIngest.scala")
    assert(reads.isEmpty, s"spark.read.json outside the bridge: $reads")
  }

  test("a whole-file input over 2 GiB fails naming the path and its size") {
    val readers: Seq[(String, (SparkSession, Seq[String]) => DataFrame)] = Seq(
      "big.kml" -> ((s, p) => KmlIngest.readEdges(s, p)),
      "big.gml" -> ((s, p) => GmlIngest.readEdges(s, p)),
      "big.osm" -> ((s, p) => OsmIngest.readEdges(s, p)),
      "big.shp" -> ((s, p) => ShapefileIngest.readEdges(s, p)))
    val dir = Files.createTempDirectory("ingest-big")
    try readers.foreach { case (name, read) =>
      val f = dir.resolve(name)
      // sparse: the length is set without writing (or storing) a byte
      val raf = new RandomAccessFile(f.toFile, "rw")
      try raf.setLength(3L << 30) finally raf.close()
      try {
        val ex = intercept[Exception](read(spark, Seq(f.toString)).count())
        val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
          .map(t => String.valueOf(t.getMessage)).mkString("\n")
        assert(msgs.contains(f.toString) && msgs.contains((3L << 30).toString), msgs)
        assert(msgs.contains(".osm.pbf") && msgs.contains(".geojsonl"), msgs)
        assert(!msgs.contains("NegativeArraySize"), msgs)
      } finally Files.deleteIfExists(f)
    } finally Files.deleteIfExists(dir)
  }
}
