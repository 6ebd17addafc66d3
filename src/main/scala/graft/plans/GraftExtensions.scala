package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension point (SURVEY §7.3): registers the custom
  * [[ExtractRecord]] expression as the SQL function `extract_record`,
  * so `spark.sql("SELECT extract_record(rec).* FROM corpus")` works.
  * `graft.core.Session.builder` installs it in every session it builds;
  * elsewhere, `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  * No custom Rule/Strategy is registered — nothing in the engine's
  * semantics needs planner surgery (SURVEY §4). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("extract_record"),
      GraftExtensions.info,
      GraftExtensions.builder))
  }
}

object GraftExtensions {
  private[plans] val info =
    new ExpressionInfo(classOf[ExtractRecord].getName, "extract_record")
  private[plans] val builder: Seq[Expression] => Expression = { children =>
    require(children.size == 1, "extract_record takes exactly one argument")
    ExtractRecord(children.head)
  }
}
