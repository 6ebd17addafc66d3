package graft.registry

import graft.SparkSpec
import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import Search.Query

/** `Search.export` narrows the merged frame in one pass and sorts one
  * partition. Pinned here: it returns exactly what the reference-shaped
  * formulation (id search, semi-join of the merged frame on the ids,
  * global ORDER BY) returns, row for row and in order; its executed plan
  * scans only the cached merged relation and never range-partitions;
  * the views are rooted at that relation's leaf; and a trial predicate
  * still resolves against the trial columns only. */
class SearchExportSpec extends SparkSpec {

  private val cols = Seq("official_title", "enrollment", "overall_status")

  private lazy val synth = Registry.load(spark, SyntheticCorpus.ensure())
  private lazy val gen: RegistryTables = {
    val p = java.nio.file.Files.createTempDirectory("search_export_spec").resolve("gen300.txt")
    graft.tools.GenCorpus.main(Array(p.toString, "300"))
    Registry.load(spark, p.toString)
  }

  /** Query() plus the four template shapes, each with at least one hit. */
  private val synthQueries = Seq(
    Query(),
    Query(trial = Some("overall_status <> 'completed'")),
    Query(trial = Some("overall_status = 'ongoing'"), imp = Some("code = 'gx-7'")),
    Query(trial = Some("enrollment IS NOT NULL"), sponsor = Some("name = 'Acme Pharma'")),
    Query(trial = Some("overall_status <> 'completed'"), location = Some("location = 'Germany'")))
  private val genQueries = Seq(
    Query(),
    Query(trial = Some("meddra_term = 'condition term 7'")),
    Query(trial = Some("phase2 = 1"), imp = Some("product = 'comparator x5'")),
    Query(trial = Some("double_blind = 1"), sponsor = Some("name = 'Sponsor Organisation 12'")),
    Query(trial = Some("meddra_term = 'condition term 7'"), location = Some("location = 'Italy'")))

  /** The export as formulated before it became one pass: the id search
    * as a semi-join chain over the trial view, the merged frame
    * semi-joined with those ids, then a global sort. */
  private def reference(t: RegistryTables, q: Query): DataFrame = {
    val children = Seq(t.imp -> q.imp, t.sponsor -> q.sponsor, t.location -> q.location)
    val ids = children.foldLeft(t.trials.where(expr(q.trial.getOrElse("1=1")))) {
      case (hits, (child, pred)) => pred.fold(hits)(p => hits.join(
        child.where(expr(p)).select("eudract_id"), Seq("eudract_id"), "left_semi"))
    }.select("eudract_id")
    def label(i: Column): Column =
      when(i.getField("product").isNotNull, concat(lit("product:"), i.getField("product")))
        .when(i.getField("trade").isNotNull, concat(lit("trade:"), i.getField("trade")))
        .otherwise(concat(lit("code:"), coalesce(i.getField("code"), lit(""))))
    t.merged
      .join(ids, Seq("eudract_id"), "left_semi")
      .select(
        (col("eudract_id") +: cols.map(col)) :+
          array_join(transform(col("imps"), label(_)), "; ").as("imp_entry") :+
          array_join(col("locations"), ", ").as("location_entry") :+
          try_element_at(col("sponsors"), lit(1)).getField("name").as("sponsor_entry"): _*)
      .orderBy("eudract_id")
  }

  /** Every node of an executed plan, through AQE stages and reuse. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case o => o +: (o.children.flatMap(nodes) ++ o.subqueries.flatMap(nodes))
  }

  private def leafOf(t: RegistryTables): InMemoryRelation =
    t.merged.queryExecution.analyzed match {
      case r: InMemoryRelation => r
      case other => fail(s"merged is not rooted at an InMemoryRelation:\n$other")
    }

  private def checkCorpus(name: String, t: RegistryTables, qs: Seq[Query]): Unit = {
    val builder = leafOf(t).cacheBuilder
    qs.foreach { q =>
      val df = Search.export(t, q, cols)
      val got = df.collect().toSeq
      val want = reference(t, q).collect().toSeq
      assert(want.nonEmpty, s"$name $q selects nothing; the case proves nothing")
      assert(got == want, s"$name $q")
      val plan = nodes(df.queryExecution.executedPlan)
      val ranged = plan.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }
      assert(ranged.isEmpty, s"$name $q range-partitions:\n${df.queryExecution.executedPlan}")
      val scans = plan.filter(n => n.children.isEmpty &&
        !n.isInstanceOf[QueryStageExec] && !n.isInstanceOf[ReusedExchangeExec])
      assert(scans.nonEmpty && scans.forall {
        case s: InMemoryTableScanExec => s.relation.cacheBuilder eq builder
        case _ => false
      }, s"$name $q scans something other than the merged cache:\n${scans.mkString("\n")}")
    }
  }

  test("export matches the semi-join + ORDER BY formulation on the synthetic corpus") {
    checkCorpus("synthetic", synth, synthQueries)
  }

  test("export matches the semi-join + ORDER BY formulation on a 300-trial GenCorpus sample") {
    checkCorpus("gen300", gen, genQueries)
    // the sample is large enough that the order is a real sort
    assert(Search.export(gen, Query(), cols).count() == 300)
  }

  test("merged and the four views are rooted at the merged cache's InMemoryRelation leaf") {
    val builder = leafOf(synth).cacheBuilder
    Seq(synth.merged, synth.trials, synth.imp, synth.sponsor, synth.location).foreach { v =>
      val leaves = v.queryExecution.analyzed.collectLeaves()
      assert(leaves.size == 1, v.queryExecution.analyzed.toString)
      leaves.head match {
        case r: InMemoryRelation => assert(r.cacheBuilder eq builder)
        case other => fail(s"view leaf is $other")
      }
    }
  }

  test("a trial predicate naming a child column still fails analysis") {
    // `imps` is a column of the merged frame export narrows, but not of
    // the reference's trial table
    intercept[AnalysisException](Search.export(synth, Query(trial = Some("size(imps) > 0")), cols))
    intercept[AnalysisException](Search.search(synth, Query(trial = Some("size(imps) > 0"))))
  }
}
