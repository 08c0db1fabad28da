package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every entry point gets its session from [[Tables.session]]: a second
  * builder under src/main is a copy that will drift (core count, log level,
  * skipped configs), so the allowed sites are listed here.
  */
class SessionFactorySpec extends AnyFunSuite {
  private val allowed = Set("graft/Tables.scala")

  test("SparkSession.builder() appears under src/main only in the factory") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val sites = scala.util.Using.resource(Files.walk(root)) { files =>
      files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { f =>
          Files.readAllLines(f).asScala.count(_.contains("SparkSession.builder()")) match {
            case 0 => None
            case n => Some(root.relativize(f).toString -> n)
          }
        }.toList
    }
    assert(sites.map(_._1).toSet == allowed && sites.forall(_._2 == 1),
      s"session builders outside the factory: $sites")
  }

  test("the factory applies the fixed width and the shared configs") {
    val spark = TestSpark.spark
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    Tables.sessionRuntimeConfigs.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k) }
  }
}
