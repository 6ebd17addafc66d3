package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.Row

/** Hand-computed fixtures for the round-14 eval operators — each test
  * pins the one semantic edge the sf oracles exercise only by luck:
  * tie handling in the AUC rank-sum, the top-edge and degenerate
  * cases of the histogram, and the exact kσ boundary of the outlier
  * flag.
  */
class EvalSpec extends SparkSpec {

  import spark.implicits._

  test("AUC rank-sum handles cross-class ties at half credit") {
    // pos scores {3,5,5}, neg {1,5}: concordant pairs (3>1)=1,
    // (5>1)=1 twice, (5,5) ties = 0.5 twice, (3<5)=0
    // → U = 4 of 6 → AUC = 2/3 → floor micro = 666666
    val rows = Seq(
      ("s", 3L, 1L), ("s", 5L, 1L), ("s", 5L, 1L),
      ("s", 1L, 0L), ("s", 5L, 0L)).toDF("source", "sc", "lab")
    val r = Eval.aucBySource(rows).collect()
    assert(r.toSeq == Seq(Row("s", 3L, 2L, 666666L)))
  }

  test("AUC perfect and inverted separations hit the closed ends") {
    val rows = Seq(
      ("hi", 10L, 1L), ("hi", 20L, 1L), ("hi", 1L, 0L), ("hi", 2L, 0L),
      ("lo", 1L, 1L), ("lo", 2L, 1L), ("lo", 10L, 0L), ("lo", 20L, 0L)
    ).toDF("source", "sc", "lab")
    val m = Eval.aucBySource(rows).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(m == Map("hi" -> 1000000L, "lo" -> 0L))
  }

  test("AUC single-class group NULL-gates instead of dividing by zero") {
    val rows = Seq(("p", 1L, 1L), ("p", 2L, 1L)).toDF("source", "sc", "lab")
    val r = Eval.aucBySource(rows).collect()
    assert(r.length == 1 && r(0).isNullAt(3))
  }

  test("histogram: max value lands in the LAST bucket, never overflows") {
    // range [0,160): width formula (c-0)*16 div 161 puts 160 in
    // bucket 15 with no clamp
    val cents = (0L to 160L).toDF("cents")
    val r = Eval.histogram(cents, 16).collect()
    assert(r.map(_.getLong(0)).toSeq == (0L to 15L))
    val last = r.last
    assert(last.getLong(3) == 160L) // hi of bucket 15 is the max
    assert(r.map(_.getLong(1)).sum == 161L)
  }

  test("histogram: constant column collapses to bucket 0") {
    val r = Eval.histogram(Seq(7L, 7L, 7L).toDF("cents"), 16).collect()
    assert(r.toSeq == Seq(Row(0L, 3L, 7L, 7L)))
  }

  test("sigma flag: exactly 3σ is NOT an outlier, just beyond IS") {
    // k zeros + one spike a: (n·a − S)² = a²k² vs 9(n·a² − a²) = 9a²k
    // — the boundary is k = 9 exactly, independent of a.
    val at = Seq.fill(9)(0L) :+ 100L   // k=9: 81 = 81, strict > fails
    val past = Seq.fill(10)(0L) :+ 100L // k=10: 100 > 90, flagged
    val rows = (at.map(("at", _)) ++ past.map(("past", _)))
      .toDF("event_type", "v")
    val r = Eval.sigmaCensus(rows, 3).collect()
      .map(x => x.getString(0) -> (x.getLong(2), x.getLong(3))).toMap
    assert(r == Map("at" -> (0L, 0L), "past" -> (1L, 100L)))
  }

  test("BFS: min-hop fold picks the shorter of two paths") {
    // path 1-2-3-4-5 plus shortcut 1-4: node 4 is hop 1 via the
    // shortcut, not hop 3 along the path; 5 is hop 2; nothing else
    // is invented and unreached stays absent at small round counts
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val src = Seq(1L).toDF("node")
    val r3 = Graph.bfsHops(edges, src, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 2L))
    val r1 = Graph.bfsHops(edges, src, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 0L, 2L -> 1L, 4L -> 1L))
  }

  test("BFS: multi-source labels take the nearest source; isolated source survives") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val src = Seq(1L, 4L, 99L).toDF("node") // 99 has no edges
    val r = Graph.bfsHops(edges, src, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 0L, 99L -> 0L))
  }

  test("quantile bins: uniform domain splits evenly") {
    // 1..10 once each, 5 bins → every bin exactly 2 values / 2 rows
    val r = Eval.quantileBins((1L to 10L).toDF("q"), 5).collect()
    assert(r.map(_.getLong(0)).toSeq == (0L to 4L))
    assert(r.forall(x => x.getLong(1) == 2L && x.getLong(2) == 2L))
  }

  test("quantile bins: a dominant tie class is never split") {
    // 5×1, 90×2, 5×3 into 10 bins: value 2 starts at cum=5 → bin 0,
    // so bin 0 swallows 95 rows, bins 1..8 stay EMPTY, 3 lands in 9 —
    // the documented uneven-under-ties semantics
    val vals = (Seq.fill(5)(1L) ++ Seq.fill(90)(2L) ++ Seq.fill(5)(3L)).toDF("q")
    val r = Eval.quantileBins(vals, 10).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(3), x.getLong(4))).toMap
    assert(r == Map(0L -> (95L, 1L, 2L), 9L -> (5L, 3L, 3L)))
  }

  test("item similarity: identical baskets score a perfect 1e6 cosine") {
    // parts 10 and 20 co-occur in every basket → co=3, deg=3 each →
    // sim² = 9/9 → 1_000_000 micro; part 30 appears once with them
    val it = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 20L), (3L, 30L)).toDF("k", "p")
    val co = Graph.pairCounts(Graph.basketsOf(it)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(co == Map((10L, 20L) -> 3L, (10L, 30L) -> 1L, (20L, 30L) -> 1L))
    // the q137 scoring formula on the (10,20) edge
    val sim = spark.sql(
      "SELECT cast((cast(3 as decimal(38,0)) * 3 * 1000000) div " +
        "(cast(3 as decimal(38,0)) * 3) as bigint) AS s").collect()(0).getLong(0)
    assert(sim == 1000000L)
  }
}
