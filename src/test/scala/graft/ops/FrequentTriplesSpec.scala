package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** [[Graph.frequentTriples]] pins: the Apriori-pruned enumeration
  * equals brute C(n,3) triple counting (anti-monotonicity makes the
  * pruning a theorem — this spec checks the implementation honors
  * it), the support boundary is exact, and a triple whose sub-pairs
  * are frequent but whose own support is below threshold is
  * generated-then-rejected, not silently kept. */
class FrequentTriplesSpec extends SparkSpec {

  private def itemsOf(baskets: Seq[(Long, Seq[Long])]) = {
    import spark.implicits._
    baskets.flatMap { case (k, ps) => ps.distinct.map(k -> _) }.toDF("k", "p")
  }

  private def brute(baskets: Seq[(Long, Seq[Long])],
                    minSup: Int): Seq[(Long, Long, Long, Long)] =
    baskets.flatMap { case (_, ps) =>
      ps.distinct.sorted.combinations(3).map(c => (c(0), c(1), c(2)))
    }.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .collect { case ((a, b, c), n) if n >= minSup => (a, b, c, n) }
      .sorted

  private def triples(items: DataFrame, minSup: Int, threshold: Int = 4096) =
    Graph.frequentTriples(items, minSup, threshold).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted

  private def run(baskets: Seq[(Long, Seq[Long])], minSup: Int, threshold: Int = 4096) =
    triples(itemsOf(baskets), minSup, threshold)

  test("equals brute enumeration on adversarial baskets; boundary exact") {
    // triple (1,2,3) at support exactly 3 (= minSup, stays); (1,2,4)
    // at support 2 with ALL sub-pairs frequent (candidate generated,
    // rejected on true support); big overlapping baskets for noise,
    // one of them (41 items) above threshold 30; threshold 0 tiles
    // every basket, 30 tiles only that one
    val baskets = Seq[(Long, Seq[Long])](
      1L -> Seq[Long](1, 2, 3, 4), 2L -> Seq[Long](1, 2, 3), 3L -> Seq[Long](1, 2, 3, 9),
      4L -> Seq[Long](1, 2, 4), 5L -> Seq[Long](2, 3, 4), 6L -> Seq[Long](1, 3, 4),
      7L -> (10L to 30L), 8L -> (20L to 40L), 9L -> (10L to 25L),
      10L -> Seq[Long](1, 9, 30), 11L -> (5L to 45L))
    for (minSup <- Seq(2, 3); threshold <- Seq(4096, 30, 0)) {
      assert(run(baskets, minSup, threshold) == brute(baskets, minSup),
        s"pruned enumeration diverged from brute force at minSup=$minSup, threshold=$threshold")
    }
    val at3 = run(baskets, 3).map(t => (t._1, t._2, t._3))
    assert(at3.contains((1L, 2L, 3L)), "support == minSup boundary dropped")
    assert(!at3.contains((1L, 2L, 4L)),
      "sub-pair-frequent triple below true support leaked through")
  }

  test("sliced pair stage equals direct across the size threshold") {
    // one basket ABOVE the tiling threshold (the mega-basket hedge
    // path), several below it, overlapping parts so cross-basket
    // pair supports mix both branches; then the same check with the
    // threshold forced to 0 (EVERY basket tiled) so tile assignment
    // is exercised on the small baskets too
    val baskets = Seq[(Long, Seq[Long])](
      1L -> (1L to 50L), 2L -> (20L to 45L), 3L -> (40L to 60L),
      4L -> Seq[Long](1, 2, 3), 5L -> Seq[Long](2, 3, 44))
    val rows = Graph.basketsOf(itemsOf(baskets))
    def counts(threshold: Int, slices: Int) =
      Graph.pairCounts(rows, threshold, slices).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val direct = counts(Int.MaxValue, 16)
    assert(counts(30, 4) == direct, "tiled mega-basket branch diverged")
    assert(counts(0, 4) == direct, "all-tiled pair stage diverged")
    assert(counts(30, 1) == direct, "degenerate single-slice tiling diverged")
  }

  test("empty when no pair reaches support") {
    val baskets = Seq[(Long, Seq[Long])](
      1L -> Seq[Long](1, 2, 3), 2L -> Seq[Long](4, 5, 6), 3L -> Seq[Long](7, 8, 9))
    assert(run(baskets, 2).isEmpty)
  }

  test("null and duplicate item rows count once per basket") {
    // basket 4 repeats parts and carries nulls: collect_set keeps each
    // part once and drops the nulls, so (1,2,3) has support exactly 4
    import spark.implicits._
    val clean = Seq[(Long, Seq[Long])](
      1L -> Seq[Long](1, 2, 3), 2L -> Seq[Long](1, 2, 3, 5), 3L -> Seq[Long](1, 2, 3),
      4L -> Seq[Long](1, 2, 3, 5))
    val messy = Seq[(Long, Option[Long])](
      (1L, Some(1L)), (1L, Some(2L)), (1L, Some(3L)),
      (2L, Some(1L)), (2L, Some(2L)), (2L, Some(3L)), (2L, Some(5L)),
      (3L, Some(1L)), (3L, Some(2L)), (3L, Some(3L)),
      (4L, Some(1L)), (4L, Some(1L)), (4L, None), (4L, Some(2L)), (4L, Some(3L)),
      (4L, Some(3L)), (4L, None), (4L, Some(5L)), (5L, None)).toDF("k", "p")
    for (minSup <- Seq(2, 3, 4); threshold <- Seq(4096, 0)) {
      assert(triples(messy, minSup, threshold) == brute(clean, minSup),
        s"minSup=$minSup, threshold=$threshold")
    }
    assert(triples(messy, 4) == Seq((1L, 2L, 3L, 4L)))
  }

  test("an empty items frame gives no pairs and no triples") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long)].toDF("k", "p")
    assert(triples(none, 1).isEmpty)
    assert(Graph.pairCounts(Graph.basketsOf(none)).collect().isEmpty)
  }

  /** A plan's own nodes through the adaptive wrappers, stopping at
    * (and including) cache scans. */
  private def own(n: SparkPlan): Seq[SparkPlan] = n match {
    case a: AdaptiveSparkPlanExec => own(a.executedPlan)
    case q: QueryStageExec => own(q.plan)
    case r: ReusedExchangeExec => own(r.child)
    case c: InMemoryTableScanExec => Seq(c)
    case _ => n +: n.children.flatMap(own)
  }

  /** Every physical node of `df`'s executed plan and of the cached
    * plans it reads, nested caches included. */
  private def executedNodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    def scopes(n: SparkPlan): Seq[SparkPlan] =
      n +: own(n).collect { case c: InMemoryTableScanExec => c.relation.cachedPlan }
        .distinct.flatMap(scopes)
    scopes(df.queryExecution.executedPlan).distinct.flatMap(own)
  }

  /** Whether a join side reads the items (a local scan here) or the
    * basket rows (the cache that carries `ps`). */
  private def readsBaskets(n: SparkPlan): Boolean = own(n).exists {
    case _: LocalTableScanExec => true
    case c: InMemoryTableScanExec => c.output.exists(_.name == "ps")
    case _ => false
  }

  private def tiled(j: BaseJoinExec): Boolean =
    j.leftKeys.exists(_.references.exists(_.name == "tr"))

  test("plan pin: one k-keyed basket exchange, pairs in the row, broadcast candidates only") {
    val small = Seq[(Long, Seq[Long])](
      1L -> Seq[Long](1, 2, 3, 4), 2L -> Seq[Long](1, 2, 3), 3L -> Seq[Long](1, 2, 3, 9),
      4L -> Seq[Long](2, 3, 4), 5L -> (10L to 20L))
    val nodes = executedNodes(Graph.frequentTriples(itemsOf(small), 2))
    val plan = nodes.map(_.simpleString(200)).mkString("\n")
    assert(!nodes.exists(_.isInstanceOf[WindowExec]), s"basket-size window is back:\n$plan")
    val joins = nodes.collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty && joins.forall(_.isInstanceOf[BroadcastHashJoinExec]),
      s"a join that is not a broadcast of the candidates:\n$plan")
    assert(!joins.exists(j => j.children.forall(readsBaskets)),
      s"a join reads the items or baskets on both sides:\n$plan")
    assert(!joins.exists(tiled), s"tiled join planned with no basket over the threshold:\n$plan")
    val byNum = nodes.collect {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
    }
    assert(byNum.size == 1 && (byNum.head.outputPartitioning match {
      case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)) == Seq("k")
      case _ => false
    }), s"expected one REPARTITION_BY_NUM exchange keyed on k:\n$plan")
    val big = small :+ (6L -> (30L to 70L))
    val bigJoins = executedNodes(Graph.frequentTriples(itemsOf(big), 2, 30))
      .collect { case j: BaseJoinExec => j }
    assert(bigJoins.exists(tiled), "a basket over the threshold did not take the tiled join")
  }
}
