package graft

/** The timing sweep: every registry query (or the `SPARK_GRAFT_BENCH_ONLY`
  * prefixes) on `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_BENCH_REPS` reps each in
  * one warm session, with cache hygiene between queries. Prints one compact
  * JSON line to stdout and each query's raw rep times to stderr; a full
  * sweep also writes `BENCH_SELF.json`.
  */
object Bench {
  /** Streaming-floor guard predicate, load-normalized (VERDICT r9 next-#1).
    *
    * The old guard was `stBlock > 22 s`, an absolute threshold on a SHARED
    * host — it fired in the driver's r9 run (24.4 s) and 2 of 3 builder
    * runs on pure ambient load (zero streaming code had changed; every st
    * query sat inside its own rep spread). A guard that cries wolf on
    * weather gets ignored the round a real regression lands, so this one
    * requires BOTH:
    *   - the absolute floor: stBlock > 22 s (quiet-window floor is ~20.4 s,
    *     r7/r8), AND
    *   - the load-normalized check: stBlock / (total − stBlock) > 0.125.
    *     Host load inflates the whole sweep roughly uniformly (r9 evidence:
    *     driver-run inflations hit st*, r1, r12 alike), so the st share of
    *     the run is load-invariant: 0.098 in r8-quiet, 0.108 in the
    *     r9-loaded driver run. A uniformly slow run keeps the share in
    *     that band and does NOT fire; a genuine st-only regression (2× ⇒
    *     share ~0.20) fires immediately.
    * A regression in the NON-st queries would shrink the share and could
    * mask a smaller simultaneous st regression — that case is covered by
    * tools/bench_delta.py's per-query spread bands, not this guard.
    * Returns the warning text to print, or None.
    */
  private[graft] def stGuardWarning(stBlock: Double,
      totalAll: Double): Option[String] = {
    val nonSt = totalAll - stBlock
    val share = if (nonSt > 0) stBlock / nonSt else Double.PositiveInfinity
    if (stBlock > 22.0 && share > 0.125)
      Some(f"[bench] WARNING streaming block $stBlock%.1f s is " +
        f"${share * 100}%.1f%% of the non-st total $nonSt%.1f s — outside " +
        "the r8/r9 load-invariant band (9.8–10.8%) AND past the 22 s " +
        "floor: this is an st-specific regression, not host weather — " +
        "check st* plans before shipping")
    else None
  }
  /** One query's reps: every rep's wall seconds, plus the exception class
    * of the first rep that threw. A failing rep is still timed, so the
    * totals keep their shape, but the query is reported as failed instead
    * of passing for a fast success.
    */
  private[graft] case class Reps(times: Seq[Double], failure: Option[String]) {
    private lazy val sorted = times.sorted
    def median: Double = sorted(sorted.size / 2)
    def min: Double = sorted.head
    def max: Double = sorted.last
  }

  private[graft] def timeReps(reps: Int)(body: => Unit): Reps = {
    var failure: Option[String] = None
    val times = Seq.fill(reps) {
      val t0 = System.nanoTime()
      try body
      catch { case e: Throwable => if (failure.isEmpty) failure = Some(e.getClass.getName) }
      (System.nanoTime() - t0) / 1e9
    }
    Reps(times, failure)
  }

  private def qmap(rs: Seq[(String, Reps)]): String =
    rs.map { case (k, r) => "\"" + k + "\":" + r.median }.mkString("{", ",", "}")

  private def failedMap(rs: Seq[(String, Reps)]): String =
    rs.collect { case (k, Reps(_, Some(cls))) => "\"" + k + "\":\"" + cls + "\"" }
      .mkString("{", ",", "}")

  /** The compact stdout line. The driver records only the TAIL of stdout
    * (~2 KB): a line carrying all per-query times is ~12 KB and gets
    * truncated mid-JSON, so this one carries the total, the calibration,
    * the failure count and the slowest queries (the ones whose deltas are
    * signal); the full record lives in BENCH_SELF.json.
    */
  private[graft] def stdoutLine(results: Seq[(String, Reps)],
      calibration: Reps, sfDir: String): String = {
    val slowest = results.sortBy(-_._2.median).take(25).sortBy(_._1)
    s"""{"metric":"total","value":${results.map(_._2.median).sum},"unit":"sec"""" +
      s""","n_queries":${results.size},"failed":${results.count(_._2.failure.isDefined)}""" +
      s""","calibration_sec":${calibration.median}""" +
      s""","queries":${qmap(slowest)},"sf":"$sfDir"}"""
  }

  /** The full machine-readable record: all medians, per-query [min, max]
    * across reps (so a round-over-round delta is judged against the
    * measured rep spread, not guessed), and each failed query's exception
    * class. The "sf" field records the dataset; totals compare only within
    * an sf.
    */
  private[graft] def selfRecord(results: Seq[(String, Reps)], reps: Int,
      stBlock: Double, calibration: Reps, sfDir: String): String = {
    val spread = results.map { case (k, r) =>
      "\"" + k + "\":[" + r.min + "," + r.max + "]" }.mkString("{", ",", "}")
    s"""{"metric":"total","value":${results.map(_._2.median).sum},"unit":"sec"""" +
      s""","n_queries":${results.size},"reps":$reps""" +
      s""","st_block_sec":$stBlock""" +
      s""","calibration_sec":${calibration.median}""" +
      s""","calibration_spread":[${calibration.min},${calibration.max}]""" +
      s""","queries":${qmap(results)},"spread":$spread""" +
      s""","failed":${failedMap(results)},"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tables.session()
    // untimed warm-up: exercise scan/shuffle/window/join codegen paths once
    // so the first measured query isn't billed for one-time JVM and
    // whole-stage-codegen compilation (standard bench hygiene; no input
    // table is pre-read or cached)
    locally {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val w = spark.range(100000).select(col("id"), (col("id") % 97).as("k"))
      w.groupBy("k").agg(sum("id").as("s"))
        .join(w.limit(100), "k")
        .withColumn("rn", row_number().over(
          Window.partitionBy("k").orderBy("id")))
        .filter(col("rn") === 1).count()
    }
    // deterministic order (queries is a hash Map — iteration order shifts
    // whenever an entry is added, which moves the residual-warm-up cost onto
    // different queries and manufactures phantom round-over-round
    // regressions) + median-of-reps per query so one GC pause can't poison
    // a number. total = sum of medians.
    // malformed env values fall back to the default instead of killing the run
    val reps = scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt).getOrElse(3).max(1)
    // dev-loop filter (the driver never sets it): only time queries whose
    // name matches one of the comma-separated prefixes — same contract as
    // Verify's SPARK_GRAFT_ONLY
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSeq)
    // fixed-overhead calibration: the median wall time of an effectively
    // empty job, measured with the same rep protocol. Sub-second
    // round-over-round "regressions" can then be compared against the
    // session's ambient per-job overhead instead of read as plan changes.
    val calibration = timeReps(reps) { spark.range(100).count(); () }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .map { case (name, fn) =>
      // NOTE: each query runs `reps` times in the same session — bench
      // queries must be idempotent across repetitions (sinks overwrite,
      // graph updates drop+recreate). A non-idempotent query would silently
      // measure polluted state.
      val r = timeReps(reps) { fn(spark, sfDir).count(); () }
      System.err.println(s"""[bench] {"query":"$name","reps":[""" +
        r.times.map(t => f"$t%.3f").mkString(",") + "]" +
        r.failure.fold("")(cls => s""","failed":"$cls"""") + "}")
      // isolate queries from each other's debris: a query that caches (or a
      // leak we haven't found yet) must not tax every later query's median
      // with its memory pressure — measured up to 14x inflation on
      // late-alphabet queries before this was added
      spark.catalog.clearCache()
      // localCheckpoint blocks are NOT in the catalog cache — across
      // 362×reps invocations they accumulate in the block manager until
      // string-shuffle-heavy late-alphabet queries spill (t32 measured
      // 8.6→27→59 s across reps; t29 14 s median). Results are already
      // collected, so dropping the blocks is safe.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
      name -> r
    }
    // streaming-floor guard (VERDICT r8 next-#7, load-normalized per r9
    // next-#1 — see stGuardWarning above): flag an st-SPECIFIC regression
    // in-round, while the change that caused it is still in the diff,
    // without firing on shared-host weather that inflates the whole sweep.
    val stBlock = results.collect {
      case (n, r) if n.startsWith("st") => r.median }.sum
    if (only.isEmpty)
      stGuardWarning(stBlock, results.map(_._2.median).sum)
        .foreach(System.err.println)
    println(stdoutLine(results, calibration, sfDir))
    // a filtered dev run must not clobber the full-sweep record (sbt wraps
    // stdout in [info]/[success] noise, so the record is a file)
    if (only.isEmpty) {
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_SELF.json"),
        selfRecord(results, reps, stBlock, calibration, sfDir) + "\n")
      catch { case scala.util.control.NonFatal(_) => () }
    }
    spark.stop()
  }
}
