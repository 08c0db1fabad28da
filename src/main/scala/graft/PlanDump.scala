package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dumps `.explain("formatted")` for a named list of queries, on a
  * `local[4]` session (plan text records partition counts, so the width is
  * fixed). Two output shapes:
  *
  *   runMain graft.PlanDump <sfDir> <outDir> <tag> <q1,q2,...>
  *     one file per query, `<outDir>/<query>_<tag>.txt` — the before/after
  *     plan evidence of optimization rounds (plans/rNN/);
  *   runMain graft.PlanDump <sfDir> <out.md> <q1,q2,...>
  *     one markdown file with a `## <query>` section per query — EXPLAINS.md,
  *     whose own `## ` headers are the list to regenerate it from.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length != 3 && args.length != 4) {
      System.err.println("usage: PlanDump <sfDir> <outDir> <tag> <q1,q2,...>" +
        " | PlanDump <sfDir> <out.md> <q1,q2,...>")
      sys.exit(2)
    }
    val sfDir = args(0)
    val names = args.last.split(',').map(_.trim).filter(_.nonEmpty)
    val spark = Tables.session(cpus = 4)
    // giant binary literals (e.g. tp21's ~256 KB embedded Bloom filter)
    // print as megabyte hex strings — elide them; the plan SHAPE is the
    // evidence, not the artifact bytes
    val plans = names.iterator.map { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // finalize AQE so the printed plan is the executed one
      name -> df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        .replaceAll("0x[0-9A-Fa-f]{257,}", "0x…<large binary literal elided>")
    }
    args match {
      case Array(_, outDir, tag, _) =>
        Files.createDirectories(Paths.get(outDir))
        plans.foreach { case (name, plan) =>
          Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), plan)
          println(s"[plandump] wrote ${name}_$tag.txt")
        }
      case _ =>
        val out = args(1)
        val sb = new StringBuilder
        sb.append("# EXPLAINS — formatted physical plans for headline queries\n\n")
        sb.append(s"Generated against `$sfDir` by `graft.PlanDump`. Shows the\n")
        sb.append("plan shapes the engine is designed around: pushed filters,\n")
        sb.append("pruned scan schemas, broadcast joins, whole-stage codegen\n")
        sb.append("(`[codegen id : N]`), and the native expressions.\n")
        plans.foreach { case (name, plan) =>
          sb.append(s"\n## $name\n\n```\n$plan```\n")
        }
        Files.writeString(Paths.get(out), sb.toString)
        println(s"[plandump] wrote $out (${names.length} plans)")
    }
    spark.stop()
  }
}
