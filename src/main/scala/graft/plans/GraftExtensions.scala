package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension point (SURVEY §7.3): registers the custom
  * [[ExtractRecord]] expression as the SQL function `extract_record`,
  * so `spark.sql("SELECT extract_record(rec).* FROM corpus")` works.
  * Install via `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  * or a session builder's `withExtensions(new GraftExtensions)`.
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

  /** Install on an existing session (extensions only run at session
    * construction; getOrCreate can return a pre-existing session). */
  def install(s: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.sql.GraftColumnBridge
      .registerFunction(s, "extract_record", info, builder)
}
