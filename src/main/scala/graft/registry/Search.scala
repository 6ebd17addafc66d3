package graft.registry

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The reference's query layer (toexcel.py) re-expressed Spark-first.
  *
  * - User WHERE text per table goes through Catalyst's SQL parser via
  *   `expr()` (toexcel.py:29 interpolates it into raw SQL — same
  *   power, minus the SQL injection).
  * - The per-table id-set intersection (toexcel.py:109-115) becomes one
  *   pass over the frame being narrowed: the trial predicate filters it
  *   directly and each searched child table contributes a LEFT SEMI
  *   join on its hits — no driver-side sets.
  * - The per-trial N+1 point lookups + string aggregation
  *   (toexcel.py:133-161) become pure array expressions over the merged
  *   frame's nested child collections — ZERO joins in the export
  *   projection, because the single groupBy already co-located each
  *   trial's children with its row.
  *
  * Every table here is rooted at the persisted merged frame's
  * `InMemoryRelation` (see [[RegistryTables]]), so a request plans a
  * few operators over one cached leaf.
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

  /** `base` (the trial view or the merged frame, both keyed by
    * eudract_id) narrowed to the trials `q` selects. The trial
    * predicate is first resolved against the trial columns alone, as
    * the reference's SQL resolves it against its trial table: a
    * predicate naming a child column (`size(imps) > 0`) fails analysis,
    * although `base` carries the nested child collections (and
    * Catalyst would otherwise resolve a missing column through the
    * trial view's projection). */
  private def narrow(t: RegistryTables, base: DataFrame, q: Query): DataFrame = {
    val trialHits = q.trial.fold(base) { p =>
      base.sparkSession.createDataFrame(java.util.List.of[Row](), t.trials.schema).where(expr(p))
      base.where(expr(p))
    }
    Seq(t.imp -> q.imp, t.sponsor -> q.sponsor, t.location -> q.location)
      .foldLeft(trialHits) { case (hits, (child, pred)) =>
        pred.fold(hits)(p => hits.join(
          child.where(expr(p)).select("eudract_id"), Seq("eudract_id"), "left_semi"))
      }
  }

  /** Selected trial ids. */
  def search(t: RegistryTables, q: Query): DataFrame =
    narrow(t, t.trials, q).select("eudract_id")

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
    narrow(t, t.merged, q)
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
