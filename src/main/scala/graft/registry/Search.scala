package graft.registry

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
import org.apache.spark.sql.catalyst.expressions.{Attribute, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.functions._
import RegistryTables.{Child, Imp, Location, Sponsor}

/** The reference's query layer (toexcel.py) re-expressed Spark-first.
  *
  * - User WHERE text per table goes through Catalyst's SQL parser via
  *   `expr()` (toexcel.py:29 interpolates it into raw SQL — same
  *   power, minus the SQL injection).
  * - The per-table id-set intersection (toexcel.py:109-115) becomes one
  *   row filter over the merged frame, with no join and no driver-side
  *   sets: the trial predicate filters it directly, and each searched
  *   child table's predicate is evaluated inside the row, over that
  *   trial's own child rows (`exists` over the row's nested collection,
  *   each element shaped as the child view's row).
  * - The per-trial N+1 point lookups + string aggregation
  *   (toexcel.py:133-161) become pure array expressions over the merged
  *   frame's nested child collections — ZERO joins in the export
  *   projection, because the single groupBy already co-located each
  *   trial's children with its row.
  *
  * Every request is rooted at the persisted merged frame's
  * `InMemoryRelation` (see [[RegistryTables]]), so it plans one filter
  * over one cached leaf.
  */
object Search {

  /** Per-table optional WHERE clauses. None = don't constrain on that
    * table (toexcel.py:25-28: empty input on a child table means skip;
    * empty on trial means all trials). */
  final case class Query(
      trial: Option[String] = None,
      imp: Option[String] = None,
      sponsor: Option[String] = None,
      location: Option[String] = None)

  /** `p` analysed as a filter over an empty frame with `table`'s
    * schema. It fails with the `AnalysisException` the reference's SQL
    * raises unless `p` is a predicate over `table`'s columns alone:
    * `narrow` evaluates the predicates over the merged frame, which also
    * carries the nested child collections (and Catalyst would otherwise
    * resolve a missing column through a view's projection). */
  private def analyse(table: DataFrame, p: String): LogicalPlan =
    table.sparkSession.createDataFrame(java.util.List.of[Row](), table.schema)
      .where(expr(p)).queryExecution.analyzed

  /** Merged rows having at least one `child` row where `p` holds: the
    * predicate as analysed against `view`'s columns, with each of those
    * columns read as the field of that name of the in-row struct `r`.
    * The analyser has already bound `p`'s names, expanded its `*` and
    * scoped its own lambdas, so only the column references change.
    * Spark evaluates no subquery inside a higher-order function, so a
    * child predicate holding one fails analysis. */
  private def inRow(view: DataFrame, child: Child, p: String): Column =
    analyse(view, p) match {
      case Filter(cond, rows) =>
        exists(child.rows, r => column(cond.transform {
          case a: Attribute if rows.outputSet.contains(a) =>
            UnresolvedExtractValue(expression(r), Literal(a.name))
        }))
      case other => throw new IllegalStateException(s"not a filter: $other")
    }

  /** The merged frame narrowed to the trials `q` selects. Each
    * predicate is first analysed against its own table's columns (see
    * [[analyse]]), so a trial predicate naming a child column
    * (`size(imps) > 0`) and a child predicate naming a trial column
    * (`phase2 = 1`) fail as the reference's per-table SQL fails. */
  private def narrow(t: RegistryTables, q: Query): DataFrame = {
    val trialHits = q.trial.fold(t.merged) { p =>
      analyse(t.trials, p)
      t.merged.where(expr(p))
    }
    Seq((t.imp, Imp, q.imp), (t.sponsor, Sponsor, q.sponsor), (t.location, Location, q.location))
      .foldLeft(trialHits) { case (hits, (view, child, pred)) =>
        pred.fold(hits)(p => hits.where(inRow(view, child, p)))
      }
  }

  /** Selected trial ids. */
  def search(t: RegistryTables, q: Query): DataFrame =
    narrow(t, q).select("eudract_id")

  /** Preferred IMP display name: product > trade > code, emitted as
    * "label:value" (toexcel.py:142-149). */
  private def impLabel(i: Column): Column =
    when(i.getField("product").isNotNull, concat(lit("product:"), i.getField("product")))
      .when(i.getField("trade").isNotNull, concat(lit("trade:"), i.getField("trade")))
      .otherwise(concat(lit("code:"), coalesce(i.getField("code"), lit(""))))

  /** One export row per selected trial (toexcel.py:126-162): the trial
    * projection plus the three condensed child columns. The reference's
    * sponsor cell takes an arbitrary "first" row (set iteration order,
    * crashes when empty — toexcel.py:155-157); engine pins
    * first-occurrence order and yields null (SURVEY §7.4.4c). */
  def export(t: RegistryTables, q: Query, trialCols: Seq[String]): DataFrame =
    narrow(t, q)
      .select(
        (col("eudract_id") +: trialCols.map(col)) :+
          array_join(transform(col("imps"), impLabel(_)), "; ").as("imp_entry") :+
          array_join(col("locations"), ", ").as("location_entry") :+
          try_element_at(col("sponsors"), lit(1)).getField("name").as("sponsor_entry"): _*)
      // toexcel.py:133 sorted(final_set). The result is export-sized, so
      // one partition sorted locally is the total order, with no range
      // partitioning (and its sampling job) in front of it.
      .repartition(1)
      .sortWithinPartitions("eudract_id")
}
