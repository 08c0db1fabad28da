package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Raw run record as JSON: every unit of work, the set-up times, heap
  * checkpoints, spans and the Spark counts attributed to each span.
  */
object Report {
  def json(run: Harness.Run): String = {
    def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
      val m = new java.util.LinkedHashMap[String, Any]()
      kv.foreach { case (k, v) => m.put(k, v) }
      m
    }
    val units = run.units.map(u => obj("kind" -> u.kind, "group" -> u.group,
      "s" -> u.seconds, "ok" -> u.ok, "traced" -> u.traced, "err" -> u.err,
      "parts" -> u.parts.asJava, "note" -> u.note)).asJava
    val tracer = Option(run.tracer)
    val spans = tracer.toSeq.flatMap(_.spans).map(s => obj("id" -> s.id,
      "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs)).asJava
    val counts = tracer.toSeq.flatMap(_.counts.asScala).map { case (id, c) =>
      id.toString -> obj("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "failed_tasks" -> c.failedTasks, "executor_run_ms" -> c.executorRunMs,
        "records_read" -> c.recordsRead, "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "spill_bytes" -> c.spillBytes, "tables_jobs" -> c.tablesJobs,
        "tables_job_ms" -> c.tablesJobMs)
    }.toMap.asJava
    new ObjectMapper().writeValueAsString(obj(
      "workload" -> run.plan("workload"),
      "cores" -> run.plan("cores").toInt,
      "setup_s" -> run.setupS.asJava,
      "live_heap_mb" -> run.liveHeapMb.asJava,
      "loop_s" -> run.loopS,
      "units" -> units,
      "extra" -> run.extra.asJava,
      "spans" -> spans,
      "counts" -> counts))
  }
}
