package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.StringType

/** SQL exposure of the engine's functions.
  *
  * Two registration paths:
  *  - `GraftExtensions` for config-based injection
  *    (`spark.sql.extensions=graft.functions.GraftExtensions`) — the
  *    SparkSessionExtensions route, so pure-SQL users get the native
  *    expressions with no Scala imports;
  *  - `registerAll(spark)` for an existing session (tests, notebooks).
  *
  * Both register the same [[GraftExtensions.nativeFunctions]].
  *
  * The reference has no UDF/extension surface at all (SURVEY §2.8); this is
  * the Spark-idiomatic replacement for its Spatialite extension loading
  * (`geopackage/__init__.py:70-77`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.nativeFunctions.foreach { case (name, builder) =>
      e.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
    // bounded-heap per-group top-k: the strategy plans GroupTopKNode, the
    // rule rewrites row_number()<=k window filters into it
    e.injectPlannerStrategy(_ => graft.plans.GroupTopK.Strategy)
    e.injectOptimizerRule(_ => graft.plans.RankLimitRewrite)
  }
}

object GraftExtensions {
  /** The native SQL functions, one list for both registration paths. */
  val nativeFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // `coerced` casts inputs to the canonical array element type, so SQL
    // callers can pass e.g. the array<float> embeddings column directly
    "dot_product" -> (exprs => DotProduct.coerced(exprs(0), exprs(1))),
    "bit_and_count" -> (exprs => BitAndCount.coerced(exprs(0), exprs(1))),
    // cast-to-string first: the old UDF registration got this implicitly
    // from its (String => _) signature; without it a DATE input would hash
    // its internal Int days representation
    "minhash_signature" -> (exprs => MinHashSig(
      Cast(exprs(0), StringType), 64, 2)),
    "rolling_fingerprint" -> (exprs => RollingFingerprint(
      Cast(exprs(0), StringType),
      exprs(1) match {
        case Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"rolling_fingerprint k must be an integer literal, got $other")
      })),
    "lang_id" -> (exprs => LangId(Cast(exprs(0), StringType))))

  /** Register every graft SQL function that does not resolve yet on an
    * existing session: the native functions plus the Scala UDFs, which only
    * this path offers.
    */
  def registerAll(spark: SparkSession): Unit = {
    import graft.geo.Geo
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def once(name: String)(register: => Unit): Unit =
      if (ColumnBridge.lookupFunction(spark, name).isEmpty) register
    nativeFunctions.foreach { case (name, builder) =>
      once(name)(ColumnBridge.registerFunction(spark, name, builder))
    }
    once("haversine_m")(spark.udf.register("haversine_m",
      (lon1: Double, lat1: Double, lon2: Double, lat2: Double) =>
        Geo.haversine(lon1, lat1, lon2, lat2)))
    once("node_id")(spark.udf.register("node_id",
      (lon: Double, lat: Double, precision: Int) => Geo.nodeId(lon, lat, precision)))
    once("simhash")(spark.udf.register("simhash", graft.llm.Dedup.simhashUdf))
    ColumnBridge.addStrategy(spark, graft.plans.GroupTopK.Strategy)
    ColumnBridge.addOptimization(spark, graft.plans.RankLimitRewrite)
  }
}
