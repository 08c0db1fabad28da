package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftExtensions

/** The SQL surface: native expressions via SparkSessionExtensions and
  * scalar functions via registerAll, callable from plain spark.sql.
  */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("native expressions are callable from SQL after registration") {
    // registerAll uses the same expression builders the config-based
    // GraftExtensions (spark.sql.extensions) injects at session build
    GraftExtensions.registerAll(spark)

    val dot = spark.sql("SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.5D)) AS d")
      .head.getDouble(0)
    assert(dot == 12.0)

    val pop = spark.sql("SELECT bit_and_count(array(3L), array(6L)) AS n")
      .head.getLong(0)
    assert(pop == 1L) // 0b011 & 0b110 = 0b010

    val hav = spark.sql("SELECT haversine_m(0D, 0D, 1D, 0D) AS m").head.getDouble(0)
    assert(math.abs(hav - 111194.9) < 1.0)

    val nid = spark.sql("SELECT node_id(-122.3132940D, 47.6598762D, 7) AS n")
      .head.getString(0)
    assert(nid == Fixture.TestNode1)

    val lang = spark.sql(
      "SELECT lang_id('the cat and the dog went to the park') AS l").head.getString(0)
    assert(lang == "en")
  }

  test("SQL expressions coerce non-canonical input types (float embeddings, int masks)") {
    GraftExtensions.registerAll(spark)
    // the embeddings table stores array<float>; analysis must insert the
    // element cast instead of reading float-packed data as doubles
    val dotF = spark.sql(
      """SELECT dot_product(cast(array(1.0, 2.0) AS array<float>),
        |                   cast(array(3.0, 4.5) AS array<float>)) AS d""".stripMargin)
      .head.getDouble(0)
    assert(dotF == 12.0)
    val popI = spark.sql(
      "SELECT bit_and_count(cast(array(3) AS array<int>), cast(array(6) AS array<int>)) AS n")
      .head.getLong(0)
    assert(popI == 1L)
  }

  test("every native function resolves from spark.sql on both registration paths") {
    val names = GraftExtensions.nativeFunctions.map(_._1)
    assert(names.distinct.size == names.size)
    // the config path (spark.sql.extensions) injects exactly the list
    val injected = scala.collection.mutable.ArrayBuffer[String]()
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    })
    assert(injected.toSeq == names)
    GraftExtensions.registerAll(spark)
    names.foreach { n =>
      assert(spark.catalog.functionExists(n), n)
      assert(spark.sql(s"DESCRIBE FUNCTION $n").count() > 0, n)
    }
    val fp = spark.sql("SELECT rolling_fingerprint('abcdefgh', 3) AS f").head
    assert(!fp.isNullAt(0))
  }

  test("registerAll is idempotent: a second call replaces no registry entry") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val names = GraftExtensions.nativeFunctions.map(_._1) ++
      Seq("haversine_m", "node_id", "simhash")
    GraftExtensions.registerAll(spark)
    val before = names.map(n => ColumnBridge.lookupFunction(spark, n))
    assert(before.forall(_.isDefined), names.zip(before))
    GraftExtensions.registerAll(spark)
    names.zip(before).foreach { case (n, b) =>
      val after = ColumnBridge.lookupFunction(spark, n)
      assert(after.exists(_ eq b.get), s"$n was registered again")
      assert(spark.catalog.functionExists(n), n)
    }
  }
}
