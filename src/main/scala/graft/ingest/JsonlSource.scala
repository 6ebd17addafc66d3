package graft.ingest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Q, T}

/** JSONL corpus intake (q107) — the wire format most raw text corpora
  * actually arrive in, read the way a 100 TB intake must be read:
  *
  *  - EXPLICIT schema, never inference: `spark.read.json` without a
  *    schema runs a full extra pass over the data just to guess types
  *    — at intake scale that doubles the read. The schema is part of
  *    the intake contract here (code, not convention).
  *  - PERMISSIVE corrupt-record quarantine: on a real crawl dump some
  *    lines are truncated/garbled; FAILFAST kills a day-long job on
  *    row one billion, DROPMALFORMED silently loses data. Malformed
  *    lines land whole in the `_bad` column, flow to a quarantine
  *    count (at deployment: a quarantine SINK for re-parse), and the
  *    good rows aggregate normally — the job finishes AND nothing is
  *    silently dropped. The oracle pins the exact quarantine count, so
  *    a parsing regression that eats or multiplies bad rows flips the
  *    hash compare.
  *
  * The fixture JSONL stages once per sf from `documents` (q90's
  * size+mtime snapshot key + atomic-rename discipline), with every
  * doc_id ≡ 0 (mod 50) line deliberately truncated mid-record — so
  * the corrupt count is expressible over the base table.
  */
object JsonlSource {

  private[ingest] def jsonlDir(s: SparkSession, dir: String): String =
    T.staged(dir, "jsonl") { stage =>
      // build the lines driver-side? No — render per-row in executors
      // and write as text: scales with the corpus like any sink
      T.df(s, dir, "documents")
        .select(when(col("doc_id") % 50 === 0,
            // truncated mid-record: unterminated string, no brace
            concat(lit("{\"doc_id\": "), col("doc_id"), lit(", \"lang\": \"tr")))
          .otherwise(to_json(struct(col("doc_id"), col("lang"), col("n_chars"))))
          .as("value"))
        .write.mode("overwrite").text(stage.resolve("docs").toString)
    }.resolve("docs").toString

  /** The intake contract: typed fields + the quarantine column. */
  private val intakeSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("n_chars", LongType),
    StructField("_bad", StringType)))

  val qs: Seq[Q] = Seq(
    Q("q107_jsonl_ingest",
      """WITH good AS (SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
        |              FROM documents WHERE doc_id % 50 <> 0 GROUP BY lang),
        |bad AS (SELECT '_corrupt' AS lang, count(*) AS n_docs, 0::BIGINT AS sum_chars
        |        FROM documents WHERE doc_id % 50 = 0)
        |SELECT * FROM good UNION ALL SELECT * FROM bad ORDER BY lang""".stripMargin) { (s, dir) =>
      // one pass: quarantined rows fold into the '_corrupt' group
      // alongside the per-lang stats (Spark disallows projecting ONLY
      // the corrupt column from a raw scan; a single aggregation over
      // data + quarantine columns is both legal and one scan cheaper)
      s.read.schema(intakeSchema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(jsonlDir(s, dir))
        .groupBy(when(col("_bad").isNotNull, lit("_corrupt"))
          .otherwise(col("lang")).as("lang"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(when(col("_bad").isNull, col("n_chars"))), lit(0L))
            .as("sum_chars"))
        .orderBy("lang")
    }
  )
}
