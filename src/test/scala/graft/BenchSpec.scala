package graft

import graft.core.Q
import org.apache.spark.sql.functions._

/** Failure honesty + median protocol of the benchmark harness
  * (VERDICT r7 items 1/2/8): a query that throws must surface as an
  * error marker in the metric line — round 7's Bench swallowed
  * exceptions and would have reported a crashed query as a fast
  * success. */
class BenchSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("a poisoned query is reported as an error, never a success") {
    val poisoned = Q.noOracle("q999_poisoned") { (s, _) =>
      import s.implicits._
      Seq(1).toDF("x").select((col("x") / 0).cast("int").as("boom"))
        .filter(expr("assert_true(boom > 0) is null"))
    }
    val (dt, err) = Bench.timedRun(spark, dir, poisoned)
    assert(err.isDefined, "exception was swallowed")
    assert(dt >= 0)
  }

  test("a healthy query times cleanly") {
    val ok = Q.noOracle("q998_ok") { (s, d) => graft.core.T.df(s, d, "region") }
    val (dt, err) = Bench.timedRun(spark, dir, ok)
    assert(err.isEmpty, s"unexpected error: $err")
    assert(dt > 0)
  }

  test("metric line renders errors as -1 plus an errors map") {
    val line = Bench.metricLine("/sf", runs = 3,
      times = Seq(
        "q1_agg" -> Seq(1.0, 2.0, 3.0),
        "q2_filter" -> Seq.empty,
        "q3_join" -> Seq(0.5, 0.5)),
      errors = Map("q2_filter" -> "SparkException", "q3_join" -> "OOM"))
    assert(line.contains(""""q1":2.000"""), line) // median of 3
    assert(line.contains(""""q2":-1.000"""), line)
    assert(line.contains(""""q3":-1.000"""), line) // errored in one sweep -> error
    assert(line.contains(""""error_count":2"""), line)
    assert(line.contains(""""q2":"SparkException""""), line)
    assert(line.contains(""""runs":3"""), line)
    assert(line.contains(""""value":2.000"""), line) // errored queries excluded from total
  }

  test("an errored query's surviving sweep timings never surface in spread") {
    // ADVICE r8: a query that errored in one sweep renders -1 in
    // `queries` — its other sweeps' timings appearing in `spread`
    // would point regression triage at a query the line already
    // declares broken
    val line = Bench.metricLine("/sf", runs = 3,
      times = Seq(
        "q1_agg" -> Seq(1.0, 1.1, 1.2),
        "q2_wild" -> Seq(0.5, 9.5)), // widest spread, but errored
      errors = Map("q2_wild" -> "OOM"))
    assert(!line.contains(""""spread":{"q2""""), line)
    assert(line.contains(""""spread":{"q1""""), line)
  }

  test("metric line carries spread for multi-run sweeps and stays compact") {
    val times = (1 to 95).map(i => s"q${i}_x" -> Seq(0.5, 0.6, 1.4))
    val line = Bench.metricLine("/sf", runs = 3, times, Map.empty)
    assert(line.contains(""""spread":{"""), line)
    assert(line.contains(""""error_count":0"""), line)
    // the consumer keeps only the output tail (~2000 chars): the whole
    // headline must survive at full 95-query scale
    assert(line.length < 1900, s"metric line too long: ${line.length}")
    // spread is capped at the 5 widest queries
    assert("\\[".r.findAllIn(line).size == 5, line)
  }

  test("metric line fits the consumer tail at full 170-query driver scale") {
    // rounds 14-15 lost machine parsability exactly here: the official
    // artifact keeps only the last ~2000 output chars, and the full
    // per-query map outgrew it (BENCH_r15.json: "parsed": null). The
    // line must now fit BY CONSTRUCTION with everything a round-16
    // driver run emits: 170 queries, mid-sweep calib, sweep counters,
    // endpoint calib, detail pointer.
    val times = (1 to 170).map(i => s"q${i}_name" -> Seq(0.5 + i * 0.01, 0.6, 9.4))
    val mid = (1 to 3).flatMap(s => Seq(25, 50, 75, 100, 125, 150).map(p =>
      Bench.CalibSample(s, p, 0.253, 0.084)))
    val sweeps = (1 to 3).map(_ => Bench.SweepStat(123.456, 12345L, 1909L))
    val calib = Seq("pre_hash" -> 0.253, "pre_spark" -> 0.078,
      "post_hash" -> 0.252, "post_spark" -> 0.084)
    val line = Bench.metricLine("/root/testdata/sf0.1", runs = 3, times,
      Map("q7_name" -> "SparkException"), calib, mid, sweeps, Some("BENCH_DETAIL.json"))
    assert(line.length <= Bench.LineBudget, s"line too long: ${line.length}")
    assert(line.contains(""""mid_calib":{"n":18"""), line)
    assert(line.contains(""""sweeps":["""), line)
    assert(line.contains(""""detail":"BENCH_DETAIL.json""""), line)
    assert(line.contains(""""queries_omitted":"""), line)
    // the most expensive query always survives truncation...
    assert(line.contains(""""q170":"""), line)
    // ...and so does the errored one, however cheap
    assert(line.contains(""""q7":-1.000"""), line)
    assert(line.contains(""""q7":"SparkException""""), line)
    // the line itself parses as JSON (json4s ships with Spark)
    val parsed = org.json4s.jackson.JsonMethods.parse(line)
    assert((parsed \ "metric") != org.json4s.JNothing)
  }

  test("detail json carries every query and parses") {
    val times = Seq("q1_agg" -> Seq(1.0, 2.0, 3.0), "q2_bad" -> Seq.empty)
    val mid = Seq(Bench.CalibSample(1, 25, 0.25, 0.08))
    val sweeps = Seq(Bench.SweepStat(3.0, 100L, 50L))
    val j = Bench.detailJson("/sf", 3, "32", times, Map("q2_bad" -> "OOM"),
      Seq("pre_hash" -> 0.25), mid, sweeps)
    val parsed = org.json4s.jackson.JsonMethods.parse(j)
    import org.json4s._
    assert((parsed \ "queries" \ "q1" \ "median") == JDouble(2.0), j)
    assert((parsed \ "queries" \ "q2" \ "error") == JString("OOM"), j)
    assert((parsed \ "mid_calib")(0) \ "pos" == JInt(25), j)
    assert((parsed \ "sweeps")(0) \ "cg" == JInt(50), j)
    assert((parsed \ "total") == JDouble(2.0), j)
  }

  test("the discarded warm sweep is marked in both JSON forms and absent by default") {
    import org.json4s._
    val sweeps = Seq(Bench.SweepStat(5.0, 10L, 300L, 2.0, warm = true),
      Bench.SweepStat(3.0, 10L, 50L, 1.0))
    val j = Bench.detailJson("/sf", 3, "32", Seq("q1_agg" -> Seq(1.0)),
      Map.empty, Seq("pre_hash" -> 0.25), Nil, sweeps)
    val parsed = org.json4s.jackson.JsonMethods.parse(j)
    assert((parsed \ "sweeps")(0) \ "warm" == JBool(true), j)
    assert((parsed \ "sweeps")(1) \ "warm" == JNothing, j) // timed rows keep the old shape
    val line = Bench.metricLine("/sf", 3, Seq("q1_agg" -> Seq(1.0)),
      Map.empty, Seq("pre_hash" -> 0.25), Nil, sweeps, None)
    val lp = org.json4s.jackson.JsonMethods.parse(line)
    assert((lp \ "sweeps")(0) \ "warm" == JBool(true), line)
  }

  test("a synthetic >2x mover vs its committed anchor self-flags in the line") {
    // VERDICT r17 item 2: BENCH_r18 must make a q210-class mover
    // (0.68 -> 2.18 against a committed anchor) one glance, not a
    // session of archaeology
    val anchors = Map("q9" -> (0.68, 0.60), "q8" -> (1.0, 0.9))
    val line = Bench.metricLine("/sf", runs = 3,
      times = Seq(
        "q9_mover" -> Seq(2.10, 2.18, 2.24), // 3.2x cold, 3.6x hot -> flags
        "q8_steady" -> Seq(1.05, 1.00, 0.95)), // at anchor -> silent
      errors = Map.empty, anchors = anchors)
    assert(line.contains(""""anchored":2"""), line)
    assert(line.contains(""""anchor_flags":{"q9":"""), line)
    assert(!line.contains(""""q8":3"""), line)
    val parsed = org.json4s.jackson.JsonMethods.parse(line)
    import org.json4s._
    val JDouble(r) = parsed \ "anchor_flags" \ "q9"
    assert(math.abs(r - 2.18 / 0.68) < 0.01, line)
  }

  test("a suspicious half-of-hot reading flags too (the zero-row-stream class)") {
    // the q204-clone10 lesson: a number 2x FASTER than the isolated
    // hot anchor is evidence of work not done, not of speed
    val anchors = Map("q7" -> (1.93, 1.17))
    val line = Bench.metricLine("/sf", 3,
      Seq("q7_gate" -> Seq(0.40, 0.41, 0.39)), Map.empty, anchors = anchors)
    assert(line.contains(""""anchor_flags":{"q7":"""), line)
    // ...but a family-cache query legitimately below its PRE-r17 cold
    // anchor (build now billed untimed) must NOT flag
    val fam = Map("q6" -> (4.34, 1.76)) // q109-class stale cold
    val ok = Bench.metricLine("/sf", 3,
      Seq("q6_rank" -> Seq(1.22, 1.25, 1.20)), Map.empty, anchors = fam)
    assert(!ok.contains("anchor_flags"), ok)
  }

  test("sub-0.4s movers stay silent") {
    // 2.5x a 0.1s anchor is noise, not a mover: the 0.4s floor holds
    val line = Bench.metricLine("/sf", 3,
      Seq("q5_tiny" -> Seq(0.25, 0.26, 0.24)), Map.empty,
      anchors = Map("q5" -> (0.10, 0.08)))
    assert(!line.contains("anchor_flags"), line)
  }

  test("spread rows for anchored queries carry the committed cold anchor") {
    val line = Bench.metricLine("/sf", runs = 3,
      times = Seq("q9_mover" -> Seq(0.5, 0.6, 1.4), "q4_plain" -> Seq(0.5, 0.6, 1.3)),
      errors = Map.empty, anchors = Map("q9" -> (0.68, 0.60)))
    assert(line.contains(""""q9":[0.500,1.400,0.680]"""), line)
    assert(line.contains(""""q4":[0.500,1.300]"""), line)
  }

  test("detail json carries per-query anchor + board-vs-anchor ratio") {
    import org.json4s._
    val j = Bench.detailJson("/sf", 3, "32",
      Seq("q9_mover" -> Seq(2.10, 2.18, 2.24), "q3_new" -> Seq(0.5)),
      Map.empty, Nil, Nil, Nil, Map("q9" -> (0.68, 0.60)))
    val parsed = org.json4s.jackson.JsonMethods.parse(j)
    assert((parsed \ "queries" \ "q9" \ "anchor") == JDouble(0.68), j)
    val JDouble(r) = parsed \ "queries" \ "q9" \ "ratio"
    assert(math.abs(r - 2.18 / 0.68) < 0.01, j)
    assert((parsed \ "queries" \ "q3" \ "ratio") == JNothing, j)
  }

  test("ANCHORS.json parses and covers the adjudicated movers") {
    // round-trips the COMMITTED file (not a fixture) so a format
    // drift that would silently disable anchor emission fails here
    val a = Bench.loadAnchors("ANCHORS.json", 32)
    assert(a.size >= 80, s"only ${a.size} anchors parsed")
    assert(a("q210") == (1.36, 1.20), a.get("q210").toString)
    assert(a("q205") == (0.93, 0.80), a.get("q205").toString)
    assert(a.keys.forall(_.matches("q[0-9]+")), a.keys.take(5).toString)
  }

  test("the calib guard DETECTS the literal BENCH_r17 sweep-2 episode") {
    // review r18: the first guard compared per-sweep medians and the
    // motivating episode (3 of 8 positions elevated 35-50%) moved the
    // median ~1% -- detection must be per-sample. These are the
    // committed BENCH_r17 numbers verbatim.
    def sweep(n: Int, hs: Seq[Double]) =
      hs.zipWithIndex.map { case (h, i) => Bench.CalibSample(n, 25 * (i + 1), h, 0.08) }
    val clean1 = sweep(1, Seq(0.285, 0.290, 0.288, 0.292, 0.287, 0.286, 0.291, 0.289))
    val episode = sweep(2, Seq(0.286, 0.285, 0.296, 0.443, 0.411, 0.388, 0.288, 0.284))
    val clean3 = sweep(3, Seq(0.289, 0.287, 0.293, 0.290, 0.288, 0.285, 0.291, 0.286))
    assert(Bench.flaggedSweeps(clean1 ++ episode ++ clean3) == Set(2))
    // the normal-board envelope (max 17% off norm, the committed
    // clean-board spread) must NOT flag
    val warmish = sweep(2, Seq(0.283, 0.287, 0.336, 0.290, 0.288, 0.285, 0.291, 0.286))
    assert(Bench.flaggedSweeps(clean1 ++ warmish ++ clean3).isEmpty)
    assert(Bench.flaggedSweeps(Nil).isEmpty)
  }

  test("a contended counted sweep renders calib_flag in both JSON forms") {
    import org.json4s._
    val sweeps = Seq(Bench.SweepStat(5.0, 10L, 300L, 2.0, warm = true),
      Bench.SweepStat(3.0, 10L, 50L, 1.0, calibFlag = true),
      Bench.SweepStat(3.0, 10L, 50L, 1.0))
    val j = Bench.detailJson("/sf", 3, "32", Seq("q1_agg" -> Seq(1.0)),
      Map.empty, Nil, Nil, sweeps)
    val parsed = org.json4s.jackson.JsonMethods.parse(j)
    assert((parsed \ "sweeps")(1) \ "calib_flag" == JBool(true), j)
    assert((parsed \ "sweeps")(2) \ "calib_flag" == JNothing, j)
    val line = Bench.metricLine("/sf", 3, Seq("q1_agg" -> Seq(1.0)),
      Map.empty, Nil, Nil, sweeps, None)
    val lp = org.json4s.jackson.JsonMethods.parse(line)
    assert((lp \ "sweeps")(1) \ "calib_flag" == JBool(true), line)
  }

  test("sweep rows carry their explicit sweep number in both JSON forms") {
    // ADVICE r19: replacement sweeps append after the counted ones, so
    // the array index alone is not sweep−1 and rerun_of needs an
    // explicit per-row number
    import org.json4s._
    val sweeps = Seq(
      Bench.SweepStat(5.0, 10L, 300L, 2.0, warm = true, sweep = 0),
      Bench.SweepStat(3.0, 10L, 50L, 1.0, sweep = 1),
      Bench.SweepStat(3.1, 10L, 50L, 1.0, rerunOf = Some(1), sweep = 4))
    val j = Bench.detailJson("/sf", 3, "32", Seq("q1_agg" -> Seq(1.0)),
      Map.empty, Nil, Nil, sweeps)
    val parsed = org.json4s.jackson.JsonMethods.parse(j)
    assert((parsed \ "sweeps")(0) \ "sweep" == JInt(0), j)
    assert((parsed \ "sweeps")(2) \ "sweep" == JInt(4), j)
    val line = Bench.metricLine("/sf", 3, Seq("q1_agg" -> Seq(1.0)),
      Map.empty, Nil, Nil, sweeps, None)
    val lp = org.json4s.jackson.JsonMethods.parse(line)
    assert((lp \ "sweeps")(1) \ "sweep" == JInt(1), line)
    // unit-test fixtures without a sweep number keep the old shape
    val legacy = Bench.detailJson("/sf", 3, "32", Seq("q1_agg" -> Seq(1.0)),
      Map.empty, Nil, Nil, Seq(Bench.SweepStat(3.0, 10L, 50L)))
    val lj = org.json4s.jackson.JsonMethods.parse(legacy)
    assert((lj \ "sweeps")(0) \ "sweep" == JNothing, legacy)
  }

  test("the calib guard + re-run plan fire on the literal BENCH_r18 counted sweep 2") {
    // the committed official r18 board verbatim: warm sweep 0 carried
    // the big episode (0.523/0.603 at pos 175/200) and counted sweep 2
    // a smaller one (0.484 at pos 150); the guard flagged both, but
    // the protocol had no re-run step — sweep 2's times still entered
    // the medians (VERDICT r18 item 1)
    def sweep(n: Int, hs: Seq[Double]) =
      hs.zipWithIndex.map { case (h, i) => Bench.CalibSample(n, 25 * (i + 1), h, 0.08) }
    val warm = sweep(0, Seq(0.282, 0.284, 0.282, 0.287, 0.284, 0.290, 0.523, 0.603, 0.284))
    val s1 = sweep(1, Seq(0.285, 0.289, 0.287, 0.297, 0.288, 0.292, 0.290, 0.287, 0.288))
    val s2 = sweep(2, Seq(0.290, 0.290, 0.285, 0.292, 0.299, 0.484, 0.285, 0.284, 0.288))
    val s3 = sweep(3, Seq(0.295, 0.296, 0.291, 0.295, 0.290, 0.284, 0.288, 0.290, 0.289))
    val orig = warm ++ s1 ++ s2 ++ s3
    // detection: both episodes flag; only counted sweeps re-run
    assert(Bench.flaggedSweeps(orig) == Set(0, 2))
    assert(Bench.flaggedSweeps(orig).filter(_ >= 1) == Set(2))
    // a clean replacement sweep 4 -> replacement used (4 not flagged)
    val cleanRep = sweep(4, Seq(0.288, 0.291, 0.287, 0.290, 0.286, 0.289, 0.292, 0.288, 0.290))
    assert(!Bench.flaggedSweeps(orig ++ cleanRep).contains(4))
    // a replacement that hits the same contention -> original kept
    val dirtyRep = sweep(4, Seq(0.288, 0.291, 0.287, 0.520, 0.470, 0.289, 0.292, 0.288, 0.290))
    assert(Bench.flaggedSweeps(orig ++ dirtyRep).contains(4))
  }

  test("the sweep-sum spread guard flags the literal r18 boards and stays silent on a tight one") {
    // official BENCH_r18 counted sums: 10.04% -- just over the ~10%
    // agreement criterion (the first counted sweep's warm residue the
    // judge called out); the closing validation board: 18% with the
    // calib guard silent -- the exact uncovered case (VERDICT r18
    // item 2). Both must self-flag now.
    assert(Bench.sweepSpread(Seq(138.609, 126.486, 125.864)) > Bench.SpreadFlagPct)
    assert(Bench.sweepSpread(Seq(116.426, 124.368, 138.856)) > Bench.SpreadFlagPct)
    val tight = Bench.sweepSpread(Seq(125.3, 126.1, 124.9))
    assert(tight > 0 && tight <= Bench.SpreadFlagPct)
    assert(Bench.sweepSpread(Seq(125.3)) == 0.0)
    assert(Bench.sweepSpread(Nil) == 0.0)
  }

  test("spread + re-run adjudication render in both JSON forms; dropped sweeps leave the statistic") {
    import org.json4s._
    val sweeps = Seq(
      Bench.SweepStat(247.8, 10L, 300L, 2.0, warm = true, calibFlag = true),
      Bench.SweepStat(138.6, 10L, 50L, 1.0),
      Bench.SweepStat(126.5, 10L, 50L, 1.0, calibFlag = true, dropped = true),
      Bench.SweepStat(125.9, 10L, 50L, 1.0),
      Bench.SweepStat(126.2, 10L, 50L, 1.0, rerunOf = Some(2)))
    val line = Bench.metricLine("/sf", 3, Seq("q1_agg" -> Seq(1.0, 1.0, 1.0)),
      Map.empty, Nil, Nil, sweeps, None)
    val lp = org.json4s.jackson.JsonMethods.parse(line)
    assert((lp \ "sweeps")(2) \ "dropped" == JBool(true), line)
    assert((lp \ "sweeps")(4) \ "rerun_of" == JInt(2), line)
    // spread over kept counted sweeps only: 138.6/125.9/126.2 -> 10.06% -> flags;
    // with the dropped 126.5 included it would read the same episode twice
    val JDouble(sp) = lp \ "sweep_spread"
    assert(math.abs(sp - (138.6 - 125.9) / 126.2) < 0.001, line)
    assert((lp \ "sweep_spread_flag") == JBool(true), line)
    val j = Bench.detailJson("/sf", 3, "32", Seq("q1_agg" -> Seq(1.0)),
      Map.empty, Nil, Nil, sweeps)
    val jp = org.json4s.jackson.JsonMethods.parse(j)
    assert((jp \ "sweeps")(2) \ "dropped" == JBool(true), j)
    assert((jp \ "sweeps")(4) \ "rerun_of" == JInt(2), j)
    assert((jp \ "sweep_spread") != JNothing, j)
    // a tight board carries the statistic but no flag
    val tightSweeps = Seq(Bench.SweepStat(125.3, 10L, 50L, 1.0),
      Bench.SweepStat(126.1, 10L, 50L, 1.0), Bench.SweepStat(124.9, 10L, 50L, 1.0))
    val tl = Bench.metricLine("/sf", 3, Seq("q1_agg" -> Seq(1.0)),
      Map.empty, Nil, Nil, tightSweeps, None)
    assert(tl.contains("\"sweep_spread\":"), tl)
    assert(!tl.contains("sweep_spread_flag"), tl)
  }

  test("median") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Bench.median(Seq(4.0, 1.0)) == 2.5)
    assert(Bench.median(Seq.empty) == -1.0)
  }

  test("env block renders in both JSON forms and stays absent when empty") {
    // round 22, VERDICT r21 item 6: boards must be self-describing
    // after the r21 tmpfs scratch move — resolved local dir, stream
    // width, and any SQL-conf overrides land in the artifact
    import org.json4s._
    val env = Seq("local_dir" -> "/dev/shm/graft_local", "stream_parts" -> "4")
    val line = Bench.metricLine("/sf", 3, Seq("q1_agg" -> Seq(1.0)),
      Map.empty, Nil, Nil, Nil, None, env = env)
    val lp = org.json4s.jackson.JsonMethods.parse(line)
    assert(lp \ "env" \ "local_dir" == JString("/dev/shm/graft_local"), line)
    assert(lp \ "env" \ "stream_parts" == JString("4"), line)
    val j = Bench.detailJson("/sf", 3, "32", Seq("q1_agg" -> Seq(1.0)),
      Map.empty, Nil, Nil, Nil, env = env)
    val jp = org.json4s.jackson.JsonMethods.parse(j)
    assert(jp \ "env" \ "stream_parts" == JString("4"), j)
    // legacy shape preserved: no env key at all when the seq is empty
    val bare = Bench.metricLine("/sf", 3, Seq("q1_agg" -> Seq(1.0)),
      Map.empty, Nil, Nil, Nil, None)
    assert(!bare.contains("\"env\""), bare)
  }

  test("SessionTuning parses SPARK_GRAFT_SQLCONF-shaped override strings") {
    import graft.core.SessionTuning.parse
    // `;` separates pairs, in order, with whitespace trimmed
    assert(parse("a.b=1; c.d = x ;e=2") == Seq("a.b" -> "1", "c.d" -> "x", "e" -> "2"))
    // only the first `=` splits: a value keeps the rest
    assert(parse("spark.x=k=v;y==") == Seq("spark.x" -> "k=v", "y" -> "="))
    // blank segments and segments without `=` are dropped
    assert(parse(";; ;a=1;;noeq; ") == Seq("a" -> "1"))
    assert(parse("") == Nil)
    // a default can never land without a value (silent builder no-op)
    assert(graft.core.SessionTuning.defaults.forall { case (k, v) =>
      k.nonEmpty && v.nonEmpty })
  }

  test("env values with quote, backslash and tab render as valid JSON") {
    import org.json4s._
    val nasty = "say \"hi\"\tC:\\tmp"
    val line = Bench.metricLine("/sf", 3, Seq("q1_agg" -> Seq(1.0)),
      Map.empty, Nil, Nil, Nil, None, env = Seq("sqlconf" -> nasty))
    assert(org.json4s.jackson.JsonMethods.parse(line) \ "env" \ "sqlconf" == JString(nasty), line)
    // the one escaper both harness artifacts use
    assert(graft.core.JsonString.quote(nasty) == "\"say \\\"hi\\\"\\tC:\\\\tmp\"")
    assert(graft.core.JsonString.quote("\u0001") == "\"\\u0001\"")
  }
}
