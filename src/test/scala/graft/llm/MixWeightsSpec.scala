package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Degenerate-corpus gate for the mix-weight family (ADVICE r15):
  * q155's weights divide by the total temperature mass `tw` — on a
  * corpus where EVERY source has zero tokens, tw = 0, where DuckDB's
  * `//` raises divide-by-zero while Spark's decimal `div` yields
  * NULL. The NULLIF(·, 0) guard (applied identically in the Spark
  * plan and the oracle SQL) makes both engines yield NULL weights —
  * this spec pins the Spark half: NULL weights, no crash, and the
  * non-degenerate arithmetic untouched. The q163 streaming monitor
  * carries the same guard for an all-zero-value day. */
class MixWeightsSpec extends SparkSpec {

  private val q155 = graft.SparkEntry.all.find(_.name == "q155_mix_weights").get
  private val q163 = graft.SparkEntry.all.find(_.name == "q163_stream_mix_monitor").get

  test("an all-empty corpus yields NULL weights, never a crash") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mix0").toString
    Seq((1L, "", "en", "web", 0L), (2L, "", "en", "books", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = q155.run(spark, dir).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getLong(2) == 0L, "n_tokens")
      assert(r.isNullAt(3), "weight_micro must be NULL when tw = 0")
      assert(r.isNullAt(4), "natural_micro must be NULL when tt = 0")
      assert(r.isNullAt(5), "boost_milli must be NULL when tw = 0")
    }
  }

  test("a day of all-zero-value events yields NULL stream-mix weights, never a crash") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mix0ev").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    // stagedStream stages $dir/events.parquet as a single FILE (the
    // fixture layout); df.write.parquet produces a directory, so
    // flatten the one part file to that path
    val stage = java.nio.file.Files.createTempDirectory("mix0ev_stage")
    Seq((1L, ts, 10L, "click", 0.0, "{}"), (2L, ts, 11L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = java.nio.file.Files.list(stage).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.copy(part,
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val rows = q163.run(spark, dir).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.isNullAt(4), "weight_micro must be NULL when tw = 0")
      assert(r.isNullAt(5), "natural_micro must be NULL when tc = 0")
    }
  }

  test("non-degenerate weights are unchanged by the guard") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mix1").toString
    Seq((1L, "a b c d", "en", "web", 7L), (2L, "a", "en", "books", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = q155.run(spark, dir).collect().map(r =>
      r.getString(0) -> r.getLong(3)).toMap
    // w_int: books = 1e6, web = 2e6 -> weights 1/3 and 2/3 (micro, truncating)
    assert(rows("books") == 333333L, rows.toString)
    assert(rows("web") == 666666L, rows.toString)
  }
}
