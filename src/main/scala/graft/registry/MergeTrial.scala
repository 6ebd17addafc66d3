package graft.registry

import graft.plans.ExtractRecord
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.ArrayBuffer

/** One trial's consolidation (reference scan.py:263-307) as ONE pass
  * over its collected records: the fused kernel behind
  * [[TrialMerge.merge]].
  *
  * `child` is `collect_list(struct(record_seq, ex))` for one eudract_id,
  * `ex` being the [[ExtractRecord]] struct. Built-in aggregates cannot
  * share a walk over a trial's records (one aggregate function per
  * field, ~50 of them, plus a projection Spark regenerates per task),
  * so, as [[ExtractRecord]] does for the 54 extraction regexes, this
  * node walks the records once, ordered by record_seq, and emits
  *
  *   struct(<47 merged trial fields>, imps, sponsors, locations)
  *
  * with the merge rules of [[TrialMerge]]: first non-blank text,
  * yes-over-no flags (first non-blank flags when `strict`) as int
  * 1/0/null, the [[ImpDedup]] consolidation with "" → null, the
  * record-ordered raw sponsor sections (title-casing and dedup stay
  * column expressions in [[TrialMerge]]), and the distinct locations in
  * binary order. Per-trial lists are bounded by the ~30 member states.
  */
case class MergeTrial(child: Expression, strict: Boolean = false)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = MergeTrial.schema
  override def prettyName: String = "merge_trial"

  protected override def nullSafeEval(input: Any): Any =
    MergeTrial.merge(input.asInstanceOf[ArrayData], strict)

  override protected def withNewChildInternal(newChild: Expression): MergeTrial =
    copy(child = newChild)
}

object MergeTrial {

  private val trialFields = FieldSpec.trial
  private val nTrial = trialFields.length
  private val isFlag = trialFields.map(_.kind == FieldKind.Flag).toArray
  private val nEx = ExtractRecord.schema.length
  private val Yes = UTF8String.fromString("yes")
  private val No = UTF8String.fromString("no")

  /** Nullability follows the frame [[TrialMerge.merge]] has always
    * produced, so the merged schema is unchanged. */
  val schema: StructType = StructType(
    trialFields.map(f => StructField(f.name, if (f.kind == FieldKind.Flag) IntegerType else StringType)) ++
      Seq(
        StructField("imps", ImpDedup.outType),
        StructField("sponsors", ArrayType(StructType(
          Seq("name", "org", "contact", "email").map(StructField(_, StringType))), containsNull = false)),
        StructField("locations", ArrayType(StringType), nullable = false)))

  /** `(seq, …)` structs of one group, ordered by their long field 0. */
  private[registry] def bySeq(records: ArrayData, numFields: Int): Array[InternalRow] = {
    val rows = Array.tabulate(records.numElements())(records.getStruct(_, numFields))
    java.util.Arrays.sort(rows, (a: InternalRow, b: InternalRow) =>
      java.lang.Long.compare(a.getLong(0), b.getLong(0)))
    rows
  }

  def merge(records: ArrayData, strict: Boolean): InternalRow = {
    val exs = bySeq(records, 2).map(_.getStruct(1, nEx))
    val out = new Array[Any](nTrial + 3)
    var i = 0
    while (i < nTrial) {
      out(i) = if (isFlag(i)) flag(exs, i, strict) else firstNonBlank(exs, i)
      i += 1
    }
    out(nTrial) = ImpDedup.consolidateLists(exs.map(_.getArray(nTrial)), blankToNull = true)
    out(nTrial + 1) = sponsors(exs)
    out(nTrial + 2) = locations(exs)
    new GenericInternalRow(out)
  }

  private def firstNonBlank(exs: Array[InternalRow], i: Int): UTF8String = {
    var r = 0
    while (r < exs.length && exs(r).isNullAt(i)) r += 1
    if (r < exs.length) exs(r).getUTF8String(i) else null
  }

  /** 1 (yes) / 0 (no) / null: yes over no across all records, or the
    * first non-blank value when `strict`; any other value is no answer. */
  private def flag(exs: Array[InternalRow], i: Int, strict: Boolean): Any =
    if (strict) {
      val v = firstNonBlank(exs, i)
      if (Yes == v) 1 else if (No == v) 0 else null
    } else {
      var sawNo = false
      var r = 0
      while (r < exs.length) {
        if (!exs(r).isNullAt(i)) {
          val v = exs(r).getUTF8String(i)
          if (Yes == v) return 1
          if (No == v) sawNo = true
        }
        r += 1
      }
      if (sawNo) 0 else null
    }

  /** Every record's (pos, name, org, contact, email) sections in record
    * order, without pos. */
  private def sponsors(exs: Array[InternalRow]): ArrayData = {
    val out = ArrayBuffer[Any]()
    exs.foreach { ex =>
      val sps = ex.getArray(nTrial + 1)
      var j = 0
      while (j < sps.numElements()) {
        val sp = sps.getStruct(j, 5)
        out += new GenericInternalRow(Array[Any](
          sp.getUTF8String(1), sp.getUTF8String(2), sp.getUTF8String(3), sp.getUTF8String(4)))
        j += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  private def locations(exs: Array[InternalRow]): ArrayData = {
    val set = new java.util.TreeSet[UTF8String]((a: UTF8String, b: UTF8String) => a.binaryCompare(b))
    exs.foreach { ex =>
      val ls = ex.getArray(nTrial + 2)
      var j = 0
      while (j < ls.numElements()) { set.add(ls.getUTF8String(j)); j += 1 }
    }
    new GenericArrayData(set.toArray.asInstanceOf[Array[Any]])
  }
}
