package graft.registry

import graft.SparkSpec
import graft.plans.ExtractRecord
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.ArrayBuffer

/** The per-trial merge kernel on hand-built records: [[MergeTrial]]
  * directly, and through [[TrialMerge]]'s grouping where the sponsor
  * column expressions take part. */
class MergeTrialSpec extends SparkSpec {

  private val nTrial = FieldSpec.trial.length
  private def at(name: String): Int = FieldSpec.trial.indexWhere(_.name == name)
  private def u(s: String): UTF8String = UTF8String.fromString(s)
  private def arr(xs: Seq[Any]): GenericArrayData = new GenericArrayData(xs.toArray)

  /** One extracted record, shaped like [[ExtractRecord.schema]]. */
  private def ex(fields: Map[String, String] = Map.empty,
      imps: Seq[(Int, String, String, String)] = Nil,
      sponsors: Seq[(String, String, String, String)] = Nil,
      locs: Seq[String] = Nil): InternalRow = {
    val a = new Array[Any](nTrial + 3)
    fields.foreach { case (k, v) => a(at(k)) = u(v) }
    a(nTrial) = arr(imps.map { case (p, t, pr, c) =>
      new GenericInternalRow(Array[Any](p, u(t), u(pr), u(c))) })
    a(nTrial + 1) = arr(sponsors.zipWithIndex.map { case ((n, o, c, e), i) =>
      new GenericInternalRow(Array[Any](i, u(n), u(o), u(c), u(e))) })
    a(nTrial + 2) = arr(locs.map(u))
    new GenericInternalRow(a)
  }

  private def kernel(strict: Boolean, recs: (Long, InternalRow)*): Row =
    CatalystTypeConverters.convertToScala(
      MergeTrial.merge(arr(recs.map { case (s, e) => new GenericInternalRow(Array[Any](s, e)) }), strict),
      MergeTrial.schema).asInstanceOf[Row]

  /** [[TrialMerge.consolidate]] over records of one trial, fed in the
    * given order. */
  private def frame(strict: Boolean, recs: (Long, InternalRow)*): Row = {
    val schema = StructType(Seq(StructField("eudract_id", StringType),
      StructField("record_seq", LongType), StructField("ex", ExtractRecord.schema)))
    val rows = recs.map { case (s, e) =>
      Row("t1", s, CatalystTypeConverters.convertToScala(e, ExtractRecord.schema))
    }
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).repartition(3)
    val out = TrialMerge.consolidate(df, strict).collect()
    assert(out.length == 1)
    out.head
  }

  private val r1 = ex(
    Map("official_title" -> "First Title", "placebo" -> "no", "rare" -> "junk"),
    imps = Seq((1, "gammax", "gammaxol", "")),
    sponsors = Seq(("acme", "", "", "")),
    locs = Seq("France", "Spain"))
  private val r2 = ex(
    Map("official_title" -> "Second Title", "condition" -> "asthma", "placebo" -> "yes"),
    imps = Seq((1, "gammax", "", "gx-7")),
    sponsors = Seq(("beta", "org", "", "")),
    locs = Seq("Spain"))
  private val r3 = ex(
    Map("condition" -> "copd", "rare" -> "yes", "fih" -> "no"),
    imps = Seq((1, "", "", "gx-7"), (2, "other", "", "")),
    locs = Seq("Austria"))

  test("every permutation of a 3-record trial gives the same row") {
    val recs = Seq(1L -> r1, 2L -> r2, 3L -> r3)
    for (strict <- Seq(false, true)) {
      val rows = recs.permutations.map(p => kernel(strict, p: _*)).toSeq
      assert(rows.distinct.size == 1, s"strict=$strict: ${rows.distinct}")
      val row = rows.head
      assert(row.getAs[String]("official_title") == "First Title")
      assert(row.getAs[String]("condition") == "asthma")
      assert(row.getSeq[String](row.fieldIndex("locations")) == Seq("Austria", "France", "Spain"))
    }
  }

  test("yes-over-no vs strict first-non-blank flags; junk maps to null") {
    val recs = Seq(1L -> r1, 2L -> r2, 3L -> r3)
    def flags(strict: Boolean) = {
      val r = kernel(strict, recs.reverse: _*)
      Seq("placebo", "rare", "fih", "male").map(f => Option(r.getAs[Integer](f)).map(_.intValue))
    }
    // placebo: no then yes; rare: junk then yes; fih: only no; male: absent
    assert(flags(strict = false) == Seq(Some(1), Some(1), Some(0), None))
    assert(flags(strict = true) == Seq(Some(0), None, Some(0), None))
    // a trial whose only value is junk has no answer in either mode
    for (strict <- Seq(false, true))
      assert(kernel(strict, 1L -> ex(Map("placebo" -> "maybe"))).isNullAt(at("placebo")))
  }

  test("a trial with no sponsors gets the one all-null sponsor row") {
    for (strict <- Seq(false, true)) {
      val row = frame(strict, 1L -> ex(Map("condition" -> "x")), 2L -> ex())
      assert(row.getSeq[Row](row.fieldIndex("sponsors")) == Seq(Row(null, null, null, null)))
    }
  }

  test("duplicate sponsors across records dedup in first-occurrence order after title-casing") {
    val a = ex(sponsors = Seq(("acme pharma", "", "", "info@acme.eu")))
    val b = ex(sponsors = Seq(("beta labs", "unit", "", ""), ("ACME PHARMA", "", "", "info@acme.eu")))
    val c = ex(sponsors = Seq(("Beta Labs", "Unit", "", ""), ("acme pharma", "", "", "other@acme.eu")))
    for (strict <- Seq(false, true)) {
      // fed in reverse: the order comes from record_seq, not arrival
      val row = frame(strict, 3L -> c, 2L -> b, 1L -> a)
      val got = row.getSeq[Row](row.fieldIndex("sponsors"))
      assert(got == Seq(
        Row("Acme Pharma", null, null, "info@acme.eu"),
        Row("Beta Labs", "Unit", null, null),
        Row("Acme Pharma", null, null, "other@acme.eu")), s"strict=$strict")
    }
  }

  test("locations are the distinct union in binary order") {
    val row = kernel(strict = false,
      2L -> ex(locs = Seq("b", "B")), 1L -> ex(locs = Seq("a", "b")), 3L -> ex(locs = Seq("B")))
    assert(row.getSeq[String](row.fieldIndex("locations")) == Seq("B", "a", "b"))
  }

  test("IMP consolidation across records follows (seq, pos); blanks become null") {
    // arrival order differs from (seq, pos): seq 2 first, seq 1's
    // entries listed pos 1 before pos 0
    val row = kernel(strict = false,
      2L -> ex(imps = Seq((0, "longtrade", "proda", "c1"))),
      1L -> ex(imps = Seq((1, "lt", "", "c1"), (0, "other", "x", ""))))
    val got = row.getSeq[Row](row.fieldIndex("imps")).map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val ordered = ArrayBuffer(
      Array("other", "x", ""), Array("lt", "", "c1"), Array("longtrade", "proda", "c1"))
    val expect = ImpDedup.consolidate(ordered)
      .map(_.map(v => if (v.isEmpty) null else v)).map(a => (a(0), a(1), a(2))).toSeq
    assert(got == expect)
    assert(got == Seq(("other", "x", null), ("lt", "proda", "c1")))
  }

  test("the merge plans one aggregate function (collect_list) and one exchange") {
    // TrialMerge.merge directly: Registry.load persists, which would
    // show an InMemoryTableScan instead of the merge's plan
    val plan = TrialMerge.merge(spark, SyntheticCorpus.ensure()).queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    val aggs = helper.collect(plan) { case a: BaseAggregateExec => a }
    val fns = aggs.flatMap(_.aggregateExpressions.map(_.aggregateFunction))
    assert(aggs.nonEmpty && aggs.forall(_.aggregateExpressions.size == 1) &&
      fns.forall(_.isInstanceOf[CollectList]), s"aggregate functions: $fns\n$plan")
    val exchanges = helper.collect(plan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, s"${exchanges.size} exchanges:\n$plan")
  }
}
