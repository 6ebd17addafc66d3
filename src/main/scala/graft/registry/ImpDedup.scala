package graft.registry

import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.ArrayBuffer

/** IMP fuzzy duplicate consolidation (reference scan.py:135-188), run
  * per trial over its collected records by [[MergeTrial]] (and per
  * group by [[ConsolidateImps]]).
  *
  * Semantics replicated exactly: two entries are the same product when
  * ANY of {trade, product, code} is non-empty-equal (scan.py:135-145);
  * on a match keep the SHORTER non-empty trade and product
  * (scan.py:169-174), fill blanks from the duplicate (scan.py:177-179),
  * swap-delete and rescan (scan.py:181-187) — which makes the merge
  * transitive (connected components over the 3-attribute match graph).
  *
  * The reference's scan order is file order; Spark input order is
  * partition-dependent, so [[consolidateLists]] takes the entries in
  * (record_seq, pos) order — the explicit determinism the reference
  * gets for free from its single-threaded read (SURVEY §7.4.2).
  *
  * Scale: per-trial IMP lists are bounded (≤ #member-states × IMPs per
  * CTA, tens of entries), so the O(n²) pairwise loop is constant-time
  * per key.
  */
object ImpDedup {

  /** The consolidated entries as array<struct<trade, product, code>>. */
  val outType: ArrayType = ArrayType(StructType(
    Seq("trade", "product", "code").map(StructField(_, StringType))), containsNull = false)

  /** One group's extracted lists, given in record_seq order, each an
    * array<struct<pos, trade, product, code>>: entries taken in (seq,
    * pos) order, consolidated, with "" → null when `blankToNull`. */
  private[registry] def consolidateLists(lists: Array[ArrayData], blankToNull: Boolean): ArrayData = {
    val entries = ArrayBuffer[Array[String]]()
    lists.foreach { l =>
      val es = Array.tabulate(l.numElements())(l.getStruct(_, 4)).sortBy(_.getInt(0))
      es.foreach(e => entries += Array(e.getString(1), e.getString(2), e.getString(3)))
    }
    def out(v: String): UTF8String =
      if (blankToNull && v.isEmpty) null else UTF8String.fromString(v)
    new GenericArrayData(consolidate(entries).map { a =>
      new GenericInternalRow(Array[Any](out(a(0)), out(a(1)), out(a(2))))
    }.toArray[Any])
  }

  /** The reference's pairwise swap-delete loop, verbatim semantics. */
  private[graft] def consolidate(list: ArrayBuffer[Array[String]]): ArrayBuffer[Array[String]] = {
    def fieldsMatch(a: String, b: String): Boolean = a.nonEmpty && a == b
    var top = list.length
    if (top > 1) {
      var ok = 0
      while (ok != top) {
        var cur = ok + 1
        while (cur != top) {
          val o = list(ok); val c = list(cur)
          if (fieldsMatch(o(0), c(0)) || fieldsMatch(o(1), c(1)) || fieldsMatch(o(2), c(2))) {
            if (o(0).length > c(0).length && c(0).nonEmpty) o(0) = c(0)
            if (o(1).length > c(1).length && c(1).nonEmpty) o(1) = c(1)
            var i = 0
            while (i < o.length) { if (o(i).isEmpty) o(i) = c(i); i += 1 }
            list(cur) = list(top - 1)
            top -= 1
          } else cur += 1
        }
        ok += 1
      }
    }
    list.take(top)
  }
}

/** [[ImpDedup]] over one group's `collect_list(struct(seq, entries))`,
  * `entries` an array<struct<pos, trade, product, code>>: the
  * consolidated list, blanks kept as "" (graft.llm.Dedup's FieldMerge). */
case class ConsolidateImps(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ImpDedup.outType
  override def prettyName: String = "consolidate_imps"

  protected override def nullSafeEval(input: Any): Any =
    ImpDedup.consolidateLists(
      MergeTrial.bySeq(input.asInstanceOf[ArrayData], 2).map(_.getArray(1)),
      blankToNull = false)

  override protected def withNewChildInternal(newChild: Expression): ConsolidateImps =
    copy(child = newChild)
}
