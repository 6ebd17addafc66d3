package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Expression↔Column conversions —
  * Spark 4's Column wraps a ColumnNode, so a custom Catalyst
  * [[Expression]] (graft.plans.ExtractRecord) needs this one hop to be
  * used from the public DataFrame API. Public Spark API surface is
  * otherwise untouched. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A Dataset whose logical plan IS the cache entry of the persisted
    * `df` — a single `InMemoryRelation` leaf. Frames derived from it
    * analyse and plan a leaf instead of re-analysing (and re-matching
    * against the cache) the whole lineage `df` was built from. */
  def cachedLeaf(df: DataFrame): DataFrame = {
    val s = df.sparkSession.asInstanceOf[classic.SparkSession]
    val entry = s.sharedState.cacheManager.lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
      .getOrElse(throw new IllegalArgumentException("cachedLeaf needs a persisted frame"))
    classic.Dataset.ofRows(s, entry.cachedRepresentation)
  }
}
