package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's own contracts: a failed build is a named failure,
  * never a timing, and the cross-run comparator parses every artifact
  * generation. */
class BenchSpec extends AnyFunSuite {

  test("Bench.timed: a throwing build returns the -1 sentinel, a " +
    "succeeding one its wall time") {
    assert(Bench.timed("build_planted")(throw new IllegalStateException(
      "planted")) == ("build_planted" -> -1.0))
    val (name, sec) = Bench.timed("build_ok")(Thread.sleep(5))
    assert(name == "build_ok" && sec >= 0.005)
  }

  // ------------------------------------------------------------------
  // bench cross-round comparator
  // ------------------------------------------------------------------

  test("BenchCompare.parsePrevMins reads both artifact generations " +
    "(query_stats wins over flat queries, failed sentinels dropped) " +
    "and latestRecord picks the highest round") {
    // r16+ shape: query_stats with min/med/max; flat queries alongside
    val modern = """{"queries":{"q1":2.5,"q2":1.0,"q3":-1.0},
      |"query_stats":{"q1":{"min":2.0,"med":2.5,"max":3.0,
      |"suspect":false},"q3":{"min":-1.0,"med":-1.0,"max":-1.0,
      |"suspect":false}}}""".stripMargin.replace("\n", "")
    val m = BenchCompare.parsePrevMins(modern)
    assert(m("q1") == 2.0, "query_stats.min wins over the flat value")
    assert(m("q2") == 1.0, "flat fallback for entries without stats")
    assert(!m.contains("q3"), "failed sentinel (-1) must be dropped")
    // r15-and-earlier shape: flat queries only (values were min-of-reps)
    val legacy = """{"queries":{"q1":3.25,"build_cube":10.5}}"""
    val l = BenchCompare.parsePrevMins(legacy)
    assert(l == Map("q1" -> 3.25, "build_cube" -> 10.5))
    // latestRecord: highest round number wins, other files ignored
    val dir = java.nio.file.Files.createTempDirectory("benchrec")
    for (n <- Seq(2, 10, 9)) java.nio.file.Files.write(
      dir.resolve(s"BENCH_REPS10_r$n.json"), "{}".getBytes("UTF-8"))
    java.nio.file.Files.write(
      dir.resolve("BENCH_r99.json"), "{}".getBytes("UTF-8"))
    assert(BenchCompare.latestRecord(dir).map(_.getFileName.toString)
      .contains("BENCH_REPS10_r10.json"))
    assert(BenchCompare.latestRecord(
      java.nio.file.Files.createTempDirectory("benchempty")).isEmpty)
  }
}
