package graft.registry

import graft.SparkSpec
import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import Search.Query

/** Child predicates are evaluated inside the merged row, over that
  * trial's own child rows, instead of by a semi-join with the child
  * view. Pinned here: `search` and `export` select exactly what the
  * semi-join formulation selects on edge predicates (NULL fields,
  * position columns, the key, case-insensitive names, the sponsor-less
  * trial's all-null row, the user's own lambdas, `*`, all three
  * children at once); a child predicate resolves against its view's columns only;
  * and the export runs one filter over the merged cache plus the
  * one-partition sort, with no join. */
class InRowSearchSpec extends SparkSpec {

  private val cols = Seq("official_title", "enrollment")

  private lazy val synth = Registry.load(spark, SyntheticCorpus.ensure())

  // the synthetic corpus (see RegistryQueries q34-q36): imps of 2004 are
  // (alphamab, alphamab, ab-1) and (NULL, betazol, bz-9), of 2006
  // (gammax, gammaxol, gx-7), 2005 has none; 2005's one sponsor row is
  // all-null; 2004 has four locations, 2005 Italy, 2006 Switzerland
  private val edgeQueries: Seq[(Query, Set[String])] = Seq(
    Query(imp = Some("trade IS NULL")) -> Set("2004-000001-11"),
    Query(imp = Some("PRODUCT = 'gammaxol'")) -> Set("2006-000003-33"),
    Query(imp = Some("imp_seq = 2")) -> Set("2004-000001-11"),
    Query(sponsor = Some("sponsor_seq > 1")) -> Set("2004-000001-11"),
    Query(imp = Some("eudract_id = '2006-000003-33'")) -> Set("2006-000003-33"),
    Query(sponsor = Some("name IS NULL")) -> Set("2005-000002-22"),
    Query(location = Some("location IN ('Italy', 'Japan')")) ->
      Set("2004-000001-11", "2005-000002-22"),
    Query(trial = Some("overall_status <> 'completed'"),
      imp = Some("code LIKE 'a%'"),
      sponsor = Some("contact = 'German Ops'"),
      location = Some("location = 'France'")) -> Set("2004-000001-11"),
    // the same child row must satisfy the whole predicate: 2004's imp 1
    // has code ab-1, its imp 2 has no trade
    Query(imp = Some("trade IS NULL AND code = 'ab-1'")) -> Set.empty[String],
    // a lambda of the user's own: its variable stays bound, the column
    // names in its body are the child row's
    Query(imp = Some("exists(array(trade, product), x -> x = 'gammax')")) -> Set("2006-000003-33"),
    Query(imp = Some("exists(array(1, 2), x -> x = imp_seq AND code = 'bz-9')")) ->
      Set("2004-000001-11"),
    Query(imp = Some("exists(array('p'), product -> product = 'p')")) ->
      Set("2004-000001-11", "2006-000003-33"),
    // a struct takes its field names from the child row's columns, and
    // a `*` argument is the child row's columns, not the merged row's
    Query(imp = Some("struct(CODE).code = 'gx-7'")) -> Set("2006-000003-33"),
    Query(imp = Some("struct(*).code = 'gx-7'")) -> Set("2006-000003-33"),
    Query(imp = Some("concat_ws('|', *) = '2004-000001-11|2|betazol|bz-9'")) ->
      Set("2004-000001-11"))

  /** The semi-join formulation the in-row filter replaced: each child
    * predicate narrows its view, and the trials are semi-joined with
    * the hits. */
  private def semiJoinIds(t: RegistryTables, q: Query): DataFrame =
    Seq(t.imp -> q.imp, t.sponsor -> q.sponsor, t.location -> q.location)
      .foldLeft(t.trials.where(expr(q.trial.getOrElse("1=1")))) {
        case (hits, (child, pred)) => pred.fold(hits)(p => hits.join(
          child.where(expr(p)).select("eudract_id"), Seq("eudract_id"), "left_semi"))
      }.select("eudract_id")

  private def semiJoinExport(t: RegistryTables, q: Query): DataFrame = {
    def label(i: Column): Column =
      when(i.getField("product").isNotNull, concat(lit("product:"), i.getField("product")))
        .when(i.getField("trade").isNotNull, concat(lit("trade:"), i.getField("trade")))
        .otherwise(concat(lit("code:"), coalesce(i.getField("code"), lit(""))))
    t.merged
      .join(semiJoinIds(t, q), Seq("eudract_id"), "left_semi")
      .select(
        (col("eudract_id") +: cols.map(col)) :+
          array_join(transform(col("imps"), label(_)), "; ").as("imp_entry") :+
          array_join(col("locations"), ", ").as("location_entry") :+
          try_element_at(col("sponsors"), lit(1)).getField("name").as("sponsor_entry"): _*)
      .orderBy("eudract_id")
  }

  private def ids(df: DataFrame): Set[String] = df.collect().map(_.getString(0)).toSet

  /** Every node of an executed plan, through AQE stages and reuse. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case o => o +: (o.children.flatMap(nodes) ++ o.subqueries.flatMap(nodes))
  }

  test("search and export select what the semi-join formulation selects on edge predicates") {
    edgeQueries.foreach { case (q, want) =>
      assert(ids(semiJoinIds(synth, q)) == want, s"$q: the expected set is wrong")
      assert(ids(Search.search(synth, q)) == want, s"search $q")
      assert(Search.export(synth, q, cols).collect().toSeq ==
        semiJoinExport(synth, q).collect().toSeq, s"export $q")
    }
  }

  test("a child predicate resolves against its own view's columns only") {
    // `phase2` is a trial column; at the semi-join parent it resolved
    // through the imp view's projection and returned rows
    Seq(
      Query(imp = Some("phase2 = 1")),
      Query(sponsor = Some("overall_status = 'ongoing'")),
      Query(location = Some("size(imps) > 0")),
      Query(imp = Some("imp.product = 'alphamab'")),
      Query(imp = Some("no_such_column = 1")),
      // Spark evaluates no subquery inside a higher-order function; the
      // semi-join formulation ran this one
      Query(imp = Some("EXISTS (SELECT 1)"))).foreach { q =>
      intercept[AnalysisException](Search.search(synth, q))
      intercept[AnalysisException](Search.export(synth, q, cols))
    }
  }

  test("an export with every child constrained is one filter over the merged cache and a one-partition sort") {
    val builder = synth.merged.queryExecution.analyzed match {
      case r: InMemoryRelation => r.cacheBuilder
      case other => fail(s"merged is not rooted at an InMemoryRelation:\n$other")
    }
    val (q, want) = edgeQueries.find(_._1.location.contains("location = 'France'")).get
    val df = Search.export(synth, q, cols)
    assert(df.collect().map(_.getString(0)).toSet == want)
    val executed = df.queryExecution.executedPlan
    val plan = nodes(executed)
    assert(plan.collect { case j: BaseJoinExec => j }.isEmpty, s"a join:\n$executed")
    assert(plan.collect { case b: BroadcastExchangeExec => b }.isEmpty, s"a broadcast:\n$executed")
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1 && shuffles.head.outputPartitioning.numPartitions == 1,
      s"not exactly one one-partition shuffle:\n$executed")
    val scans = plan.filter(n => n.children.isEmpty &&
      !n.isInstanceOf[QueryStageExec] && !n.isInstanceOf[ReusedExchangeExec])
    assert(scans.nonEmpty && scans.forall {
      case s: InMemoryTableScanExec => s.relation.cacheBuilder eq builder
      case _ => false
    }, s"scans something other than the merged cache:\n$executed")
  }
}
