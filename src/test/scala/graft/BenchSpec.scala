package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for graft.Bench's artifact machinery — the parts whose
  * failure modes are silent (a format drift in `bench_prev.json`
  * disables the retime/regression gates without an error; a confirmed
  * 2x regression used to ship as a JSON footnote). Pure functions, no
  * SparkSession. */
class BenchSpec extends AnyFunSuite {

  test("regressionSuspects: only retime-CONFIRMED >=2x-vs-prev queries " +
      "are flagged (the round-13 q38 escalation)") {
    val prev = Map("q38" -> 2.0, "q40" -> 3.0, "q50" -> 0.0, "q99" -> 1.0)
    val retimes = Map(
      // median doubled AND the retime confirmed it -> suspect
      "q38" -> (4.1, 4.05),
      // median doubled but the retime cleared it (contention) -> clean
      "q40" -> (6.5, 3.2),
      // prev entry is non-positive -> never flagged (no baseline)
      "q50" -> (9.0, 9.0),
      // no prev entry at all -> never flagged
      "qNew" -> (5.0, 5.0))
    assert(Bench.regressionSuspects(retimes, prev) == Seq("q38"))
    // exactly-2x is NOT "past 2x" — boundary stays unflagged, matching
    // the retime trigger's strict > in the main loop
    assert(Bench.regressionSuspects(Map("q99" -> (2.5, 2.0)), prev).isEmpty)
    // the confirm carries the trigger's >0.25s absolute floor: a
    // sub-second query "doubling" by 0.22s under box load is noise,
    // not a regression (the round-14 q59 incident)
    assert(Bench.regressionSuspects(
      Map("q59" -> (0.45, 0.37)), Map("q59" -> 0.15)).isEmpty)
    assert(Bench.regressionSuspects(
      Map("q59" -> (0.9, 0.8)), Map("q59" -> 0.15)) == Seq("q59"))
    // load correction: a uniformly slowed window (baseline-set ratio
    // 1.35) cannot confirm a 2.4x reading — divided by the load scale
    // it is 1.8x; a true 4x survives the correction
    assert(Bench.regressionSuspects(
      Map("q30" -> (2.4, 2.4)), Map("q30" -> 1.0), loadScale = 1.35).isEmpty)
    assert(Bench.regressionSuspects(
      Map("q30" -> (4.0, 4.0)), Map("q30" -> 1.0), loadScale = 1.35) == Seq("q30"))
    // a FASTER box (scale < 1) never manufactures suspicion — clamped
    assert(Bench.regressionSuspects(
      Map("q30" -> (1.9, 1.9)), Map("q30" -> 1.0), loadScale = 0.5).isEmpty)
    // output is sorted for a stable artifact diff
    val many = Map("qB" -> (4.0, 4.0), "qA" -> (4.0, 4.0))
    val prevs = Map("qA" -> 1.0, "qB" -> 1.0)
    assert(Bench.regressionSuspects(many, prevs) == Seq("qA", "qB"))
  }

  test("prevBaselineTotal: recomputed from prev's per-query map over THIS " +
      "code's baseline set; set drift falls back to the stamp (round-15 " +
      "load-proxy fix)") {
    val prev = """{"metric":"total","value":100.0,"unit":"sec","queries":{"q1":1.0,"q2":2.0,"q149":3.5,"qX":50.0},"baseline_set_total":3.0}"""
    // all members present -> the recomputed sum, NOT the stamp
    assert(Bench.prevBaselineTotal(prev, Set("q1", "q2", "q149")).contains(6.5))
    // the mid-weight member dominates the proxy: a contended run that
    // slows q149 2x moves the recomputed total where the stamp (3.0,
    // recorded over a lighter set) would under-read the load
    assert(Bench.prevBaselineTotal(prev, Set("q1", "q149")).contains(4.5))
    // a member missing from prev (pre-q149 artifact) -> stamped value
    assert(Bench.prevBaselineTotal(prev, Set("q1", "q999")).contains(3.0))
    // a non-positive entry (failed run) is not a baseline -> stamp
    val failed = """{"metric":"total","value":9.0,"queries":{"q1":1.0,"q149":-1.0},"baseline_set_total":2.5}"""
    assert(Bench.prevBaselineTotal(failed, Set("q1", "q149")).contains(2.5))
    // no stamp either -> None (gates disarm rather than divide by junk)
    assert(Bench.prevBaselineTotal(
      """{"metric":"total","queries":{"q1":1.0}}""", Set("q1", "q149")).isEmpty)
  }

  test("parseFlag: reads the dumps_timed stamp; artifacts predating it " +
      "parse as None (treated as dumps-timed by the form-comparability " +
      "gate — cross-form per-query comparisons must disarm, not flood " +
      "regression_suspect with dump cost)") {
    assert(Bench.parseFlag("""{"a":1,"dumps_timed":false,"b":2}""",
      "dumps_timed").contains(false))
    assert(Bench.parseFlag("""{"dumps_timed":true}""", "dumps_timed")
      .contains(true))
    assert(Bench.parseFlag("""{"value":1.0}""", "dumps_timed").isEmpty)
    assert(Bench.parseFlag("""{"dumps_timed":"yes"}""", "dumps_timed").isEmpty)
  }

  test("prevMismatch: a prev recorded at the same cpus on the same " +
      "dumps_timed form keeps the per-query gates armed") {
    val prev = """{"metric":"total","value":1.0,"dumps_timed":false,"cpus":4,"load_scale":1.0}"""
    assert(Bench.prevMismatch(prev, dumpsTimed = false, cpus = 4).isEmpty)
  }

  test("prevMismatch: a prev whose cpus stamp is missing or different " +
      "disarms the per-query gates like a dumps_timed mismatch") {
    val at32 = """{"metric":"total","value":1.0,"dumps_timed":false,"cpus":32,"load_scale":1.0}"""
    val unstamped = """{"metric":"total","value":1.0,"dumps_timed":false,"load_scale":1.0}"""
    assert(Bench.prevMismatch(at32, dumpsTimed = false, cpus = 4)
      .exists(_.contains("cpus=4")))
    assert(Bench.prevMismatch(unstamped, dumpsTimed = false, cpus = 4)
      .exists(_.contains("cpus=4")))
    // the form check still holds and is reported first
    assert(Bench.prevMismatch(at32, dumpsTimed = true, cpus = 32)
      .exists(_.contains("dumps_timed")))
  }

  test("parseQueryTimes: reads the exact one-line Bench form; a " +
      "pretty-printed bench_prev silently parses empty (the documented " +
      "format trap — keep the committed file verbatim)") {
    val oneLine = """{"metric":"total","value":12.5,"unit":"sec","queries":{"q1_pricing_summary":0.25,"q38_transitive_dedup":1.96},"sf":"/root/testdata/sf0.1"}"""
    val parsed = Bench.parseQueryTimes(oneLine)
    assert(parsed == Map(
      "q1_pricing_summary" -> 0.25, "q38_transitive_dedup" -> 1.96))
    // the trap, pinned: re-serializing with whitespace/newlines defeats
    // the literal `"queries":{` substring scan — the gates degrade to
    // no-prev mode rather than erroring, so the committed file must
    // never be reformatted
    val pretty =
      """{
        |  "metric": "total",
        |  "queries": {
        |    "q1_pricing_summary": 0.25
        |  }
        |}""".stripMargin
    assert(Bench.parseQueryTimes(pretty).isEmpty)
    // malformed entries are skipped, not fatal
    assert(Bench.parseQueryTimes("""{"queries":{"q1":abc,"q2":1.5}}""") ==
      Map("q2" -> 1.5))
    assert(Bench.parseQueryTimes("""{"no_queries_here":1}""").isEmpty)
  }

  test("layers: two overlapping jobs' intervals count once in driver_gap_s") {
    val l = new Bench.LayerListener
    l.jobStarted(1, "q#1", Seq(1), 1000L); l.jobEnded(1, 3000L)
    l.jobStarted(2, "q#1", Seq(2), 2000L); l.jobEnded(2, 4000L)
    l.taskEnded(1, 500L, 400L, 300000000L, 0L, 2097152L, 0L)
    l.taskEnded(2, 500L, 400L, 300000000L, 1048576L, 0L, 524288L)
    val f = l.layers("q#1", 5.0)
    // 5 s of wall, the jobs cover [1 s, 4 s]: 2 s of gap, not 1 s
    assert(f.driverGapS == 2.0)
    assert((f.jobs, f.stages, f.tasks) == (2, 2, 2L))
    assert(f.execRunS == 0.8 && f.execCpuS == 0.6)
    assert(f.shuffleReadMb == 1.0 && f.shuffleWriteMb == 2.0 && f.spillMb == 0.5)
  }

  test("layers: single-task stages are left out of task_skew") {
    val l = new Bench.LayerListener
    l.jobStarted(1, "q#2", Seq(1, 2), 0L); l.jobEnded(1, 10000L)
    // a long single-task stage beside a 3-task stage skewed 3x
    l.taskEnded(1, 5000L, 0L, 0L, 0L, 0L, 0L)
    Seq(100L, 100L, 300L).foreach(ms => l.taskEnded(2, ms, 0L, 0L, 0L, 0L, 0L))
    assert(l.layers("q#2", 10.0).taskSkew == 3.0)
    // only single-task stages: no skew to measure
    val one = new Bench.LayerListener
    one.jobStarted(1, "q#1", Seq(1), 0L); one.jobEnded(1, 10L)
    one.taskEnded(1, 5000L, 0L, 0L, 0L, 0L, 0L)
    assert(one.layers("q#1", 1.0).taskSkew == 1.0)
    assert(one.layers("other#1", 1.0).taskSkew == 0.0)
  }

  test("layers: untagged jobs are attributed to no query") {
    val l = new Bench.LayerListener
    l.jobStarted(1, "q#1", Seq(1), 0L); l.jobEnded(1, 1000L)
    l.taskEnded(1, 100L, 100L, 0L, 0L, 0L, 0L)
    // a warm-up or hygiene job: no pass tag, its own stage and tasks
    l.jobStarted(2, null, Seq(2), 1000L); l.jobEnded(2, 3000L)
    l.taskEnded(2, 2000L, 2000L, 0L, 0L, 0L, 0L)
    val f = l.layers("q#1", 3.0)
    assert((f.jobs, f.stages, f.tasks) == (1, 1, 1L))
    assert(f.execRunS == 0.1 && f.driverGapS == 2.0)
    assert(Bench.Layers(1, 1, 1L, 0.1, 0.0, 2.0, 0.0, 0.0, 0.0, 1.0).json ==
      """{"jobs":1,"stages":1,"tasks":1,"exec_run_s":0.100,"exec_cpu_s":0.000,""" +
      """"driver_gap_s":2.000,"shuffle_read_mb":0.000,"shuffle_write_mb":0.000,""" +
      """"spill_mb":0.000,"task_skew":1.000}""")
  }

  test("compactQueries: a query the last recorded round printed is repeated " +
      "even when it ranks outside the top 5 (r16's phantom q132 drop)") {
    // BENCH_r15.json's printed `parsed.queries`
    val r15 = Set("q10_minmax", "q128_curator_e2e", "q132_cluster_balanced_sample",
      "q149_load_calibration", "q1_pricing_summary", "q2_filter_cast",
      "q38_transitive_dedup", "q3_literal_meta", "q4_limit", "q5_sample",
      "q6_join_agg", "q7_window_topn", "q8_stratified_sample",
      "q91_bow_classifier", "q96_chargram_classifier", "q9_group_count")
    val baseline = Set("q1_pricing_summary", "q149_load_calibration")
    // q132 is the 10th slowest query
    val others = (1 to 12).map(i => s"qx$i" -> (20.0 - i)) :+
      ("q132_cluster_balanced_sample" -> 10.5)
    val results = (Seq("q1_pricing_summary" -> 0.2, "q149_load_calibration" -> 1.0) ++
      others).sortBy(_._1)
    val printed = Bench.compactQueries(results, baseline, r15).map(_._1)
    assert(printed.contains("q132_cluster_balanced_sample"))
    assert(printed.take(2) == Seq("q149_load_calibration", "q1_pricing_summary"))
    assert(printed.count(_.startsWith("qx")) == 5)
    assert(printed.distinct == printed)
    // nothing to repeat: the baseline set and the top 5 only
    assert(Bench.compactQueries(results, baseline, Set.empty).size == 7)
  }

  test("lastPrinted: the union of the highest-numbered round's printed " +
      "queries; none without a round file") {
    val dir = java.nio.file.Files.createTempDirectory("bench-rounds").toFile
    def round(name: String, queries: String*): Unit = java.nio.file.Files.writeString(
      new java.io.File(dir, name).toPath,
      s"""{\n  "n": 1,\n  "tail": "\\"queries\\":{\\"qTail\\":1}",\n  "parsed": {\n""" +
        s"""    "queries": {${queries.map(q => s"\n      \"$q\": 1.0").mkString(",")}\n    }\n  }\n}\n""")
    assert(Bench.lastPrinted(dir).isEmpty)
    round("BENCH_r9.json", "qOld")
    round("BENCH_r10.json", "qA", "qB")
    round("BENCH_r10_c8.json", "qB", "qC")
    java.nio.file.Files.writeString(new java.io.File(dir, "BENCH_r11.txt").toPath, "x")
    assert(Bench.lastPrinted(dir) == Set("qA", "qB", "qC"))
    // what a run printed is stamped into its artifact and read back
    assert(Bench.parseNames("""{"printed":["q1","q132"],"mem":{}}""", "printed") ==
      Seq("q1", "q132"))
    assert(Bench.parseNames("""{"printed":[]}""", "printed").isEmpty)
    assert(Bench.parseNames("""{"value":1.0}""", "printed").isEmpty)
  }
}
