package graft

import org.scalatest.funsuite.AnyFunSuite

/** The load-normalized streaming-floor guard (VERDICT r9 next-#1): it must
  * NOT fire on shared-host weather that inflates the whole sweep uniformly,
  * and MUST fire on an st-specific regression. The numbers below are the
  * real r8/r9 runs, scaled.
  */
class BenchGuardSpec extends AnyFunSuite {

  test("quiet-window run (r8: st 20.4 s / total 228.5 s) does not fire") {
    assert(Bench.stGuardWarning(20.4, 228.5).isEmpty)
  }

  test("driver's loaded r9 run (st 24.4 s / total 249.4 s, share 10.8%) " +
    "does not fire — uniform host tax, not an st regression") {
    assert(Bench.stGuardWarning(24.4, 249.4).isEmpty)
  }

  test("deliberately loaded run (r8 quiet run uniformly 1.5×: st 30.6 s / " +
    "total 342.8 s) does not fire — share stays in the 9.8–10.8% band") {
    assert(Bench.stGuardWarning(30.6, 342.8).isEmpty)
  }

  test("injected 2× st-only slowdown on the quiet run (st 40.8 s, total " +
    "248.9 s, share 19.6%) fires") {
    val w = Bench.stGuardWarning(40.8, 248.9)
    assert(w.isDefined && w.get.contains("st-specific regression"))
  }

  test("injected 2× st-only slowdown under 1.5× load also fires") {
    // loaded quiet run (342.8 s) plus another 30.6 s of st-only slowdown
    assert(Bench.stGuardWarning(61.2, 373.4).isDefined)
  }

  test("an st block under the 22 s absolute floor never fires, even when " +
    "the rest of the run is unusually fast") {
    assert(Bench.stGuardWarning(21.0, 120.0).isEmpty)
  }

  test("a query function that throws is reported as failed on stdout and " +
    "in BENCH_SELF.json, and still timed every rep") {
    val boom: (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame =
      (_, _) => throw new IllegalStateException("boom")
    val failed = Bench.timeReps(3) { boom(null, "/nowhere").count(); () }
    assert(failed.failure.contains("java.lang.IllegalStateException"))
    assert(failed.times.size == 3)
    val ok = Bench.timeReps(3) { () }
    assert(ok.failure.isEmpty)
    val results = Seq("a1_ok" -> ok, "b1_boom" -> failed)
    val line = Bench.stdoutLine(results, ok, "/sf")
    assert(line.contains("\"failed\":1,"), line)
    assert(line.contains("\"n_queries\":2,"), line)
    val record = Bench.selfRecord(results, 3, 0.0, ok, "/sf")
    assert(record.contains(
      "\"failed\":{\"b1_boom\":\"java.lang.IllegalStateException\"}"), record)
    assert(Bench.selfRecord(Seq("a1_ok" -> ok), 3, 0.0, ok, "/sf")
      .contains("\"failed\":{}"))
  }
}
