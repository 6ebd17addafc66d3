package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The `--flagged` batch anchor-refresh mode's pure pieces (round 19,
  * VERDICT r18 item 6): median extraction from the committed board
  * detail, flag-set recomputation, and patch emission in the exact
  * shape `Bench.parseAnchors` reads back. */
class QueryProbeSpec extends AnyFunSuite {

  private def read(p: String) =
    new String(java.nio.file.Files.readAllBytes(new java.io.File(p).toPath), "UTF-8")

  test("parseMedians round-trips the committed BENCH_DETAIL.json") {
    val meds = QueryProbe.parseMedians(read("BENCH_DETAIL.json"))
    assert(meds.size >= 200, s"only ${meds.size} medians parsed")
    assert(meds.forall(_._1.matches("q[0-9]+")))
    assert(meds.count(_._2 >= 0) >= 200)
  }

  test("a clean committed board recomputes to zero anchor flags") {
    // the freeze invariant the batch mode automates: flags are derived
    // from (detail medians × committed anchors), not stored — the
    // committed artifacts must agree with the committed "zero flags".
    // The board is checked against the anchor set of its own core
    // count, self-flagged or not.
    val text = read("BENCH_DETAIL.json")
    val anchors = graft.Bench.loadAnchors("ANCHORS.json", QueryProbe.parseCpus(text))
    val meds = QueryProbe.parseMedians(text)
    assert(anchors.nonEmpty && meds.nonEmpty)
    val flags = graft.Bench.anchorFlags(meds, anchors)
    assert(flags.isEmpty, s"stale board/anchors: $flags")
  }

  test("a board whose core count has no anchor set fails with no anchors for N cores") {
    val board = """{"total":1.0,"runs":3,"cpus":"8","queries":{"q1":{"median":0.5}}}"""
    val e = intercept[IllegalArgumentException](
      graft.Bench.loadAnchors("ANCHORS.json", QueryProbe.parseCpus(board)))
    assert(e.getMessage.contains("no anchors for 8 cores"), e.getMessage)
    // a missing file is no set either, never an empty pass
    val m = intercept[IllegalArgumentException](graft.Bench.loadAnchors("no-such-anchors.json", 4))
    assert(m.getMessage.contains("no anchors for 4 cores"), m.getMessage)
  }

  test("an anchor set block replaces its own core count's set and parses back") {
    val committed = read("ANCHORS.json")
    val before = graft.Bench.parseAnchorSets(committed)
    assert(before.contains(32) && before.contains(4), before.keySet.toString)
    def block(cpus: Int) = graft.Bench.setBlock(cpus, Seq("protocol" -> QueryProbe.Protocol),
      Seq(QueryProbe.patchEntry("q9", 0.678, 0.6, "t", "0.284/0.291")))
    val replaced = graft.Bench.parseAnchorSets(graft.Bench.withSet(committed, 4, block(4)))
    assert(replaced(4) == Map("q9" -> (0.68, 0.6)))
    assert(replaced(32) == before(32))
    val added = graft.Bench.parseAnchorSets(graft.Bench.withSet(committed, 8, block(8)))
    assert(added.keySet == before.keySet + 8 && added(4) == before(4), added.keySet.toString)
  }

  test("selfFlagged reproduces the r20 contended-board case") {
    // literal fragments of the shapes Bench emits: the r20 driver board
    // carried both markers; a clean board carries neither
    val contended =
      """{"total":177.050,"sweeps":[{"sweep":1,"sum":228.291,"calib_flag":true,"dropped":true},
        |{"sweep":4,"sum":147.052,"rerun_of":1}],"sweep_spread":0.581,"sweep_spread_flag":true}""".stripMargin
    val spreadOnly = """{"total":150.0,"sweep_spread":0.181,"sweep_spread_flag":true}"""
    val clean = """{"total":140.8,"sweeps":[{"sweep":1,"sum":46.9}],"sweep_spread":0.013}"""
    assert(QueryProbe.selfFlagged(contended))
    assert(QueryProbe.selfFlagged(spreadOnly))
    assert(!QueryProbe.selfFlagged(clean))
  }

  test("patch entries parse back through Bench.parseAnchors") {
    val patch = Seq(
      QueryProbe.patchEntry("q9", 0.678, 0.6, "r19", "0.284/0.291"),
      QueryProbe.patchEntry("q210", 1.361, 1.2, "r19", "0.284/0.291"))
      .mkString(",\n")
    val parsed = graft.Bench.parseAnchors("{\n" + patch + "\n}")
    assert(parsed == Map("q9" -> (0.68, 0.6), "q210" -> (1.36, 1.2)), patch)
  }

  test("a synthetic stale-anchor board names exactly the movers") {
    val anchors = Map("q1" -> (0.5, 0.4), "q2" -> (0.5, 0.4), "q3" -> (2.0, 1.8))
    val meds = Seq("q1" -> 1.2, "q2" -> 0.55, "q3" -> 0.6)
    // q1: >=2x both bounds -> flags; q2 steady; q3 fast-flag (<=0.5x hot)
    val flagged = graft.Bench.anchorFlags(meds, anchors).map(_._1).toSet
    assert(flagged == Set("q1", "q3"), flagged.toString)
  }
}
