package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.collection.mutable.ArrayBuffer

/** The unified dedup front door (SURVEY §2.4 A4's north star): each
  * (matchRule, mergeRule) dispatch must equal its DIRECT form — the
  * oracle-gated queries keep calling the direct forms, so facade ≡
  * direct is what makes the facade a safe composition surface rather
  * than a fifth dedup implementation. */
class DedupFacadeSpec extends SparkSpec {
  import Dedup.{MatchRule, MergeRule}

  private lazy val rows = {
    import spark.implicits._
    // (id, key, quality, tokens): key groups {a: 1,4,6}, {b: 2,5}, {c: 3}
    Seq(
      (1L, "a", 2L, 30L), (4L, "a", 3L, 10L), (6L, "a", 3L, 10L),
      (2L, "b", 1L, 50L), (5L, "b", 1L, 70L),
      (3L, "c", 9L, 9L))
      .toDF("id", "key", "quality", "tokens")
  }

  test("ExactKey + KeepFirst == the q53 window-rank direct form") {
    val got = Dedup.dedup(rows, "id",
        MatchRule.ExactKey(col("key")), MergeRule.KeepFirst)
      .select("id", "kept_id", "n_members").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val w = Window.partitionBy("key")
    val expect = rows
      .withColumn("kept_id", min("id").over(w))
      .withColumn("n_members", count(lit(1)).over(w))
      .select("id", "kept_id", "n_members").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.toSeq == expect.toSeq)
    // survivors are exactly one per key
    assert(got.count { case (id, kept, _) => id == kept } == 3)
  }

  test("ExactKey + KeepBest == the q196 ranking (score desc, id asc ties)") {
    // struct score = (quality, tokens) lexicographic — q196's ordering
    val got = Dedup.dedup(rows, "id",
        MatchRule.ExactKey(col("key")),
        MergeRule.KeepBest(struct(col("quality"), col("tokens"))))
      .select("id", "kept_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // key a: quality 3 twice (ids 4, 6; same tokens) -> tie to min id 4
    // key b: equal quality, tokens 70 beats 50 -> id 5
    // key c: singleton -> itself
    assert(got(1L) == 4L && got(4L) == 4L && got(6L) == 4L)
    assert(got(2L) == 5L && got(5L) == 5L)
    assert(got(3L) == 3L)
    // and against the window direct form
    val w = Window.partitionBy("key")
      .orderBy(col("quality").desc, col("tokens").desc, col("id"))
    val expect = rows
      .withColumn("kept_id", first("id").over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select("id", "kept_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expect)
  }

  test("NULL keys are singletons, never dropped and never cross-matched (review r17)") {
    import spark.implicits._
    val df = Seq((1L, Some("a")), (2L, None), (3L, None), (4L, Some("a")))
      .toDF("id", "key")
    val got = Dedup.dedup(df, "id",
        MatchRule.ExactKey(col("key")), MergeRule.KeepFirst)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    // the membership map covers EVERY input row; the two NULL-key rows
    // are independent singletons, not a 2-member NULL cluster
    assert(got.toSeq == Seq((1L, 1L, 2L), (2L, 2L, 1L), (3L, 3L, 1L), (4L, 1L, 2L)))
  }

  test("PairGraph + KeepFirst == components representatives, singletons survive") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val docs = (1L to 7L).map(i => (i, s"t$i")).toDF("id", "text")
    val got = Dedup.dedup(docs, "id",
        MatchRule.PairGraph(pairs, "doc_a", "doc_b"), MergeRule.KeepFirst)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.toSeq == Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L), (4L, 4L, 1L),
      (5L, 5L, 2L), (6L, 5L, 2L), (7L, 7L, 1L)))
    // survivors ≡ dropNearDuplicates (the direct q57-family form)
    val direct = Dedup.dropNearDuplicates(docs, "id", pairs, "doc_a", "doc_b")
      .select("id").collect().map(_.getLong(0)).sorted
    val survivors = got.collect { case (id, kept, _) if id == kept => id }
    assert(survivors.toSeq == direct.toSeq)
  }

  test("PairGraph + KeepBest: the cluster's best member survives, not its min id") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (4L, 1L))
      .toDF("id", "quality")
    val got = Dedup.dedup(docs, "id",
        MatchRule.PairGraph(pairs, "doc_a", "doc_b"),
        MergeRule.KeepBest(col("quality")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // cluster {1,2,3}: quality 9 ties on ids 2,3 -> min id 2 (an
    // UPGRADE over KeepFirst's 1); singleton 4 keeps itself
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 4L))
  }

  test("the LSH dispatch wires to the real memoized pair family") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("facade").toString
    val ta = (1 to 15).map(i => s"w$i").mkString(" ")
    val tb = (1 to 9).map(i => s"q$i").mkString(" ")
    // 3 clones of one content + 1 distinct doc
    ((1L to 3L).map(i => (i, ta)) :+ (9L, tb))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val got = Dedup.dedup(docs, "doc_id",
        Dedup.nearDupLsh(spark, dir), MergeRule.KeepFirst)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L))
    LlmText.release(spark)
  }

  test("AnyFieldInGroup + FieldMerge == ImpDedup.consolidate in (seq, pos) order") {
    import spark.implicits._
    // group g1: entries match transitively through the shared code /
    // trade chain; g2: no match. Schema mirrors rec_imps:
    // array<struct<pos, trade, product, code>>.
    val df = Seq(
      (("g1"), 1L, Seq((0, "Longtrade", "ProdA", "C1"))),
      (("g1"), 2L, Seq((0, "LT", "", "C1"), (1, "Other", "X", ""))),
      (("g2"), 1L, Seq((0, "A", "B", "C"))))
      .toDF("grp", "seq", "raw")
      .select(col("grp"), col("seq"),
        expr("transform(raw, r -> struct(r._1 as pos, r._2 as trade, r._3 as product, r._4 as code))")
          .as("imps"))
    def norm(rows: Array[org.apache.spark.sql.Row]) =
      rows.map { r =>
        (r.getString(0), r.getSeq[org.apache.spark.sql.Row](1)
          .map(e => (e.getString(0), e.getString(1), e.getString(2))))
      }.sortBy(_._1).toSeq
    val facade = Dedup.dedup(df, "seq",
      Dedup.MatchRule.AnyFieldInGroup("grp", "seq", "imps"),
      Dedup.MergeRule.FieldMerge)
    // the reference side, on the driver: each group's entries in
    // (seq, pos) order through the reference's swap-delete loop
    val direct = df.collect().groupBy(_.getString(0)).map { case (g, rs) =>
      val entries = rs.toSeq
        .flatMap(r => r.getSeq[org.apache.spark.sql.Row](2).map(e =>
          ((r.getLong(1), e.getInt(0)), Array(e.getString(1), e.getString(2), e.getString(3)))))
        .sortBy(_._1).map(_._2)
      g -> graft.registry.ImpDedup.consolidate(ArrayBuffer.from(entries))
        .map(a => (a(0), a(1), a(2))).toSeq
    }.toSeq.sortBy(_._1)
    assert(norm(facade.collect()) == direct)
    // and the merge itself is the reference's: shorter trade 'LT'
    // survives, blank product filled from the duplicate
    val g1 = norm(facade.collect()).find(_._1 == "g1").get._2
    assert(g1.contains(("LT", "ProdA", "C1")), s"got $g1")
  }

  test("FieldMerge with a non-group rule is rejected, not silently misrouted") {
    intercept[IllegalArgumentException] {
      Dedup.dedup(rows, "id", MatchRule.ExactKey(col("key")), MergeRule.FieldMerge)
    }
  }
}
