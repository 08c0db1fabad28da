package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One span: a call from the benchmark into one engine layer. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, var endNs: Long = 0L)

/** Spark work attributed to one span: the jobs started while it was the
  * innermost open span, and everything those jobs ran.
  */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var executorRunMs = 0L
  var recordsRead = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** jobs whose call site is the engine's table loader */
  var tablesJobs = 0L
  var tablesJobMs = 0L
}

/** Span recorder plus the SparkListener that attributes jobs to spans.
  *
  * Each span tags the Spark jobs it starts with `setJobGroup(spanId)`; the
  * listener reads the group back from the job's properties. Listener
  * events arrive on Spark's single listener thread; `drain` waits for them
  * before the counts are read. Spans stay in memory until the run ends.
  * With `enabled = false` a span is just the call it wraps.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  @volatile var enabled = false
  private var nextId = 1L
  private val open = mutable.Stack[Span]()
  val spans = mutable.ArrayBuffer[Span]()
  val counts = new ConcurrentHashMap[Long, Counts]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStartMs = new ConcurrentHashMap[Int, Long]()
  private val jobFromTables = new ConcurrentHashMap[Int, java.lang.Boolean]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  sc.addSparkListener(this)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = open.headOption
      val s = Span(nextId, parent.map(_.id).getOrElse(0L), name, System.nanoTime())
      nextId += 1
      spans += s
      open.push(s)
      sc.setJobGroup(s.id.toString, name)
      try body
      finally {
        s.endNs = System.nanoTime()
        open.pop()
        parent match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Blocks until every event posted so far has reached this listener. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  private def countsOf(job: Int): Option[Counts] =
    Option(jobSpan.get(job)).map(id => counts.computeIfAbsent(id, _ => new Counts))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.flatMap(_.toLongOption).foreach { id =>
      jobSpan.put(e.jobId, id)
      jobStartMs.put(e.jobId, e.time)
      val fromTables = e.stageInfos.exists(_.name.contains("Tables.scala"))
      jobFromTables.put(e.jobId, fromTables)
      e.stageIds.foreach(st => stageJob.put(st, e.jobId))
      countsOf(e.jobId).foreach(_.jobs += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (jobFromTables.getOrDefault(e.jobId, false))
      countsOf(e.jobId).foreach { c =>
        c.tablesJobs += 1
        c.tablesJobMs += e.time - jobStartMs.get(e.jobId)
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).flatMap(countsOf)
      .foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(countsOf).foreach { c =>
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.executorRunMs += m.executorRunTime
        c.recordsRead += m.inputMetrics.recordsRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
}
