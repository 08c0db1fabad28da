package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = Tables.session(cpus = 4)

  /** Stage `df` as ONE flat parquet file at `dir/name` — the shape
    * FileStreamSource lists (it ignores nested part directories). Streams
    * are closed via Using.resource (Files.list leaks an fd otherwise).
    */
  def stageSingleParquet(df: org.apache.spark.sql.DataFrame,
      dir: java.nio.file.Path, name: String): Unit = {
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Files.createTempDirectory("graft-stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    scala.util.Using.resource(java.nio.file.Files.list(tmp)) { s =>
      val part = s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written under $tmp"))
      java.nio.file.Files.move(part, dir.resolve(name))
    }
  }
}
