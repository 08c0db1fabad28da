package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev probe: per-JOB wall/shuffle attribution for one named query.
  * `runMain graft.ProfileOne <sfDir> <query> [reps]` — prints one line per
  * Spark job (duration, #tasks, shuffle bytes read/written, callsite), so
  * a multi-job query's cost decomposes into its actions (guard counts,
  * localCheckpoints, Pregel supersteps, the terminal count) instead of one
  * opaque wall number. Warm-up rep 0 is printed separately from the steady
  * state. Dev-only: never invoked by Bench/Verify.
  */
object ProfileOne {
  private case class JobRec(id: Int, var name: String = "",
    var t0: Long = 0L, var t1: Long = 0L,
    var tasks: Int = 0, var shufRead: Long = 0L, var shufWrite: Long = 0L)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Tables.session()
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stageToJob = mutable.HashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val r = JobRec(e.jobId)
        r.t0 = e.time
        r.name = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
        jobs(e.jobId) = r
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.t1 = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          for (jid <- stageToJob.get(e.stageInfo.stageId);
               r <- jobs.get(jid)) {
            r.tasks += e.stageInfo.numTasks
            r.shufRead += e.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead
            r.shufWrite += e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
          }
        }
    })
    spark.range(1000).selectExpr("sum(id)").collect()
    val fn = SparkEntry.queries(name)
    (0 until reps).foreach { rep =>
      jobs.synchronized { jobs.clear(); stageToJob.clear() }
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // give the async listener bus a beat so late stage/job events land
      Thread.sleep(300)
      println(f"[profile] rep=$rep query=$name wall=$wall%.3f s jobs=${jobs.size}")
      jobs.synchronized {
        jobs.values.foreach { r =>
          val dur = (r.t1 - r.t0) / 1e3
          println(f"[profile]   job=${r.id}%3d ${dur}%7.3f s tasks=${r.tasks}%4d " +
            f"shufR=${r.shufRead}%10d shufW=${r.shufWrite}%10d  ${r.name.take(110)}")
        }
        val sumJobs = jobs.values.map(r => (r.t1 - r.t0) / 1e3).sum
        println(f"[profile]   sum(job walls)=$sumJobs%.3f s (gaps to wall = driver/planning time)")
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }
    spark.stop()
  }
}
