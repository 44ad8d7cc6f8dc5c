package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards for the bench tooling traps the r12 verdict named (ask #7):
  * the sf-mismatch clobber and the pass-level diagnosability of the
  * evidence file. Pure-function tests — no SparkSession.
  */
class BenchGuardSpec extends AnyFunSuite {

  test("flushTarget: a non-reference sf diverts the write off bench_last.json") {
    // reference sf: the canonical target
    assert(Bench.flushTarget("/root/testdata/sf0.1") == "bench_last.json")
    // any other sf must NOT overwrite the sealed evidence — keyed on
    // the pinned reference constant, NOT on the committed file's
    // self-declared sf (r13 advice #5: that guard failed open when
    // the file was missing/unparseable, so one bad overwrite would
    // permanently re-aim it)
    assert(Bench.flushTarget("/root/testdata/sf0.01")
      == "bench_last.sf0.01.json")
    assert(Bench.flushTarget("/root/testdata/sf1") == "bench_last.sf1.json")
    // a trailing path separator no longer yields "bench_last..json"
    assert(Bench.flushTarget("/root/testdata/sf0.1/") == "bench_last.json")
    assert(Bench.flushTarget("/root/testdata/sf1///")
      == "bench_last.sf1.json")
    // a different reference goes through the refSf parameter, never
    // through a mutable committed file
    assert(Bench.flushTarget("/root/testdata/sf1", refSf = "sf1")
      == "bench_last.json")
    assert(Bench.flushTarget("/root/testdata/sf0.1", refSf = "sf1")
      == "bench_last.sf0.1.json")
  }

  test("cohortSlices: each re-baseline cohort is sliced to ITS map, not the file suffix") {
    // the real file's shape: a string-valued "queries_r15_note" sits
    // between cohort maps and carries its own {'k': v} text
    val txt =
      """{"note":"x","queries":{"q1":1.0,"q2":2.0},
        |"queries_r13":{"q1":0.9,"q2":1.8,"q3":3.0},
        |"queries_r15":{"q1":0.8,"q2":1.6,"q3":2.5,"q4":4.0},
        |"queries_r15_note":"noise_band {'q1': 0.1}",
        |"queries_r15b":{"q1":0.7,"q4":3.5},
        |"queries_r15b_note":"x"}""".stripMargin
    val slices = Bench.cohortSlices(txt)
    // two cohorts: the round-1 map and the LAST re-baseline in the file
    assert(slices.map(_._1) == Seq("queries", "queries_r15b"))
    val m = slices.toMap
    // the round-1 slice ends where the first re-baseline begins
    assert(m("queries").contains("\"q1\":1.0")
      && !m("queries").contains("queries_r13"))
    // the latest cohort resolves its own map, not an earlier round's
    // values (q1 is 0.7, never r15's 0.8) nor the note's text
    assert(m("queries_r15b").contains("\"q1\":0.7")
      && !m("queries_r15b").contains("0.8")
      && !m("queries_r15b").contains("'q1'"))
    // a file whose last key is a note still resolves the map before it
    val noteLast = Bench.cohortSlices(
      """{"queries":{"q1":1.0},"queries_r15":{"q1":0.9},"queries_r15_note":"{'q1': 5.0}"}""")
    assert(noteLast.map(_._1) == Seq("queries", "queries_r15"))
    // a file without any re-baseline degrades to the round-1 cohort
    assert(Bench.cohortSlices("""{"queries":{"q1":1.0}}""").map(_._1) == Seq("queries"))
  }

  test("noise_band: per-query repeatability ratios + steady-pass spread (r14 ask #8)") {
    // q1 perfectly repeatable (ratio 1.0), q2 noisy (2nd-min/min =
    // 1.5), q3 single-sample (excluded), q4 wild outlier in a LATER
    // sample (min-of-N immune: ratio uses 2nd-smallest, = 1.2)
    val samples = Map(
      "q1" -> Seq(1.0, 1.0, 1.0),
      "q2" -> Seq(3.0, 2.0, 5.0),
      "q3" -> Seq(5.0),
      "q4" -> Seq(1.0, 9.0, 1.2))
    // pass 1 carries index builds and must be excluded from the spread
    val nb = Bench.noiseBandJson(samples, Seq(200.0, 150.0, 165.0))
    assert(nb.contains(""""per_query_p50":1.2"""), nb)
    assert(nb.contains(""""per_query_p90":1.5"""), nb)
    assert(nb.contains(""""pass_spread":1.1"""), nb) // 165/150, not 200/150
    assert(nb.contains(""""n":3"""), nb)
    // degenerate inputs stay well-formed
    assert(Bench.noiseBandJson(Map.empty, Nil)
      .contains(""""per_query_p50":1.0"""))
  }
}
