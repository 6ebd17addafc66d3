package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Q, T}

/** One-scan data profiling — the "what is in this table" pass every
  * pipeline runs before trusting a new corpus drop (null rates,
  * cardinalities, value ranges, byte budgets per column).
  *
  * Shape: UNPIVOT the row to (col_name, value) pairs with a single
  * generator (`stack` — map-side, no join, no extra scan), then ONE
  * grouped aggregate over col_name. A naive profiler issues one
  * aggregate query per column — k scans of a 100 TB table; this is one
  * scan regardless of column count, and the only shuffle carries the
  * map-side-combined (col_name, value) partials.
  *
  * Exactness: `n_distinct` is exact. Spark plans the single distinct
  * aggregate as a two-level aggregate — a partial pass keyed on
  * (col_name, value) that map-side-combines before its exchange, then
  * the final col_name-keyed pass — so the second shuffle carries Σ
  * per-column distinct values, not rows × columns (PlanSpec pins the
  * two-level shape). At 100 TB the one-line swap is
  * `approx_count_distinct` (HLL, q60's sketch discipline) which makes
  * the shuffle O(sketch) per column; the exact form is what the
  * fixture can grade by hash.
  *
  * Values are profiled through an explicit string cast: bigint→string
  * is engine-identical, min/max on ASCII strings is binary-identical
  * in Spark and DuckDB, and `length` counts characters in both. (A
  * profile over double columns would need the decimal-cast discipline
  * of [[graft.core.T.dec]] before the string cast; the fixture table
  * here has none.)
  */
object Profile {

  /** Long-format profile of `cols` (default: every column) of `df`:
    * (col_name, n_rows, n_null, n_distinct, min_v, max_v, sum_len). */
  def profile(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val cs = if (cols.nonEmpty) cols else df.schema.fieldNames.toSeq
    val stackExpr = s"stack(${cs.length}, " +
      cs.map(c => s"'$c', cast(`$c` as string)").mkString(", ") +
      ") as (col_name, v)"
    df.select(expr(stackExpr))
      .groupBy("col_name")
      .agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("v"))).as("n_null"),
        countDistinct(col("v")).as("n_distinct"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"),
        coalesce(sum(length(col("v")).cast("long")), lit(0L)).as("sum_len"))
      .orderBy("col_name")
  }

  val qs: Seq[Q] = Seq(
    Q("q108_profile_stats",
      """WITH long AS (
        |  SELECT 'doc_id' AS col_name, doc_id::VARCHAR AS v FROM documents
        |  UNION ALL SELECT 'lang', lang FROM documents
        |  UNION ALL SELECT 'n_chars', n_chars::VARCHAR FROM documents
        |  UNION ALL SELECT 'source', source FROM documents
        |  UNION ALL SELECT 'text', text FROM documents)
        |SELECT col_name, count(*)::BIGINT AS n_rows,
        |       (count(*) - count(v))::BIGINT AS n_null,
        |       count(DISTINCT v)::BIGINT AS n_distinct,
        |       min(v) AS min_v, max(v) AS max_v,
        |       coalesce(sum(length(v)), 0)::BIGINT AS sum_len
        |FROM long GROUP BY col_name ORDER BY col_name""".stripMargin) { (s, dir) =>
      profile(T.df(s, dir, "documents"),
        Seq("doc_id", "lang", "n_chars", "source", "text"))
    }
  )
}
