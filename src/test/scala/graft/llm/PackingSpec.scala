package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** q70's distributed prefix-sum must equal the single-partition
  * running sum on frames the fixture can't produce: sparse doc_ids
  * (empty range buckets), zero-token docs, single rows, empty frames,
  * and bucket counts that don't divide the id range. */
class PackingSpec extends SparkSpec {

  private def naive(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("tok_offset",
      coalesce(sum("n_tokens").over(
        Window.orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))

  private def check(rows: Seq[(Long, Long)], buckets: Seq[Int]): Unit = {
    import spark.implicits._
    val df = rows.toDF("doc_id", "n_tokens").repartition(3)
    val expect = naive(df).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    for (nb <- buckets) {
      val got = LlmText.globalOffsets(df, nb).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(got == expect, s"offsets diverge at nBuckets=$nb")
    }
  }

  test("sparse ids, zero-token docs, non-dividing bucket widths") {
    check(Seq(0L -> 5L, 1L -> 0L, 7L -> 3L, 100L -> 12L, 101L -> 1L, 999L -> 7L),
      Seq(1, 2, 3, 7, 32, 1000))
  }

  test("dense ids match at every bucket count") {
    check((0L until 50L).map(i => i -> (i % 7)), Seq(1, 4, 5, 49, 64))
  }

  test("single row and empty frame") {
    check(Seq(42L -> 9L), Seq(1, 8))
    check(Seq.empty, Seq(1, 4))
  }

  test("releaseAll keeps a frame the caller persisted before globalOffsets") {
    import spark.implicits._
    val df = (0L until 20L).map(i => i -> (i % 3)).toDF("doc_id", "n_tokens").persist()
    try {
      df.count()
      LlmText.globalOffsets(df, 4).collect()
      graft.Caches.releaseAll(spark)
      assert(df.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "releaseAll unpersisted the caller's frame")
    } finally df.unpersist()
  }
}
