package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import graft.registry.{FieldKind, FieldSpec}
import java.util.regex.Pattern
import scala.collection.mutable.ArrayBuffer

/** One-pass native extraction of a whole CTA record — the reference's
  * per-record line state machine (scan.py:330-407) as a custom Catalyst
  * [[Expression]].
  *
  * WHY a custom Expression (the brief's extension-point (b)): the
  * declarative formulation runs 54 anchored `regexp_extract_all` passes
  * over every ~2 KB record — ~100 KB of regex scanning per record,
  * measured as the parse bottleneck (profiler: RegExpExtractAll +
  * Matcher.find dominate). Built-in expressions cannot share one pass
  * across 54 patterns; this node walks the record's lines ONCE with a
  * first-char dispatch table and anchored `lookingAt` probes, exactly
  * like the reference's screening-list + cascade (scan.py:336,
  * scan.py:399-401), and emits everything at once:
  *
  *   struct(<47 trial fields>, imps, sponsors, locations)
  *
  * Semantics are byte-identical to graft.registry.Extract (pinned by
  * the registry oracles, golden tests, and the 40k-trial differential
  * against the reference's own SQLite output) with one improvement:
  * lines inside an EEA location block are consumed by the block loop
  * and no longer visible to field matching — matching the reference
  * exactly (scan.py:381-397), where the column formulation scanned them.
  *
  * Evaluation is interpreted (CodegenFallback) — one JVM method per
  * record with precompiled patterns; whole-stage codegen of the
  * surrounding projection is unaffected.
  */
case class ExtractRecord(child: Expression, strict: Boolean = false)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ExtractRecord.schema
  override def prettyName: String = "extract_record"

  protected override def nullSafeEval(input: Any): Any =
    ExtractRecord.eval(input.asInstanceOf[UTF8String].toString, strict)

  override protected def withNewChildInternal(newChild: Expression): ExtractRecord =
    copy(child = newChild)
}

object ExtractRecord {

  private val trialFields = FieldSpec.trial
  private val nTrial = trialFields.length

  val schema: StructType = StructType(
    trialFields.map(f => StructField(f.name, StringType)) ++ Seq(
      StructField("rec_imps", ArrayType(StructType(Seq(
        StructField("pos", IntegerType, nullable = false),
        StructField("trade", StringType, nullable = false),
        StructField("product", StringType, nullable = false),
        StructField("code", StringType, nullable = false))))),
      StructField("rec_sponsors", ArrayType(StructType(Seq(
        StructField("pos", IntegerType, nullable = false),
        StructField("name", StringType, nullable = false),
        StructField("org", StringType, nullable = false),
        StructField("contact", StringType, nullable = false),
        StructField("email", StringType, nullable = false))))),
      StructField("rec_locs", ArrayType(StringType))))

  // precompiled anchored patterns (lookingAt ≡ Python re.match)
  private val trialPats = trialFields.map(f => Pattern.compile(f.pattern)).toArray
  private val preserveCase = trialFields.map(_.kind == FieldKind.Title).toArray
  private val impPats = FieldSpec.imp.map(f => Pattern.compile(f.pattern)).toArray
  private val sponsorPats = FieldSpec.sponsor.map(f => Pattern.compile(f.pattern)).toArray
  private val impHeaderPat = Pattern.compile(FieldSpec.impHeader)
  private val ncaPat = Pattern.compile(FieldSpec.ncaLocation)
  private val eeaStart1 = Pattern.compile(FieldSpec.eeaBlockStart1)
  private val eeaStart2 = Pattern.compile(FieldSpec.eeaBlockStart2)
  private val eeaEnd = Pattern.compile(FieldSpec.eeaBlockEnd)

  /** First-char dispatch: which trial-field patterns can match a line
    * starting with this char (first pattern char after ^ is literal for
    * every field). */
  private val dispatch: Map[Char, Array[Int]] = {
    def firstLiteral(p: String) = p.dropWhile(_ == '^').head
    (0 until nTrial).groupBy(i => firstLiteral(trialFields(i).pattern))
      .map { case (c, is) => c -> is.toArray }
  }

  /** java.util.regex's `\s`: space, tab, LF, VT, FF, CR. */
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** `line.trim` with each `\s+` run replaced by one space, in one
    * char loop: trim strips every char ≤ ' ' at both ends, so a control
    * char such as U+0001 goes at the edges but stays inside. */
  private[plans] def collapse(line: String): String = {
    var b = 0
    var e = line.length
    while (b < e && line.charAt(b) <= ' ') b += 1
    while (e > b && line.charAt(e - 1) <= ' ') e -= 1
    val sb = new java.lang.StringBuilder(e - b)
    var i = b
    while (i < e) {
      val c = line.charAt(i)
      if (isWs(c)) {
        sb.append(' ')
        // the trimmed span ends on a char > ' ', so every run ends before e
        while (isWs(line.charAt(i))) i += 1
      } else {
        sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  private def lowerDefault(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  def eval(text: String, strict: Boolean = false): InternalRow = {
    // every non-title capture is case-normalized (scan.py:325): the
    // engine default is locale-free toLowerCase; strict parity uses
    // Python's casefold (ß→ss etc. — SURVEY §7.4.3)
    val lower: String => String =
      if (strict) StrictStrings.casefold else lowerDefault
    val out = new Array[Any](nTrial + 3)
    val lines = text.split('\n')

    val imps = ArrayBuffer[InternalRow]()
    var impSeg = 0
    var impTrade = ""; var impProduct = ""; var impCode = ""
    def impFlush(): Unit = {
      if (impTrade.nonEmpty || impProduct.nonEmpty || impCode.nonEmpty)
        imps += new GenericInternalRow(Array[Any](impSeg,
          UTF8String.fromString(impTrade), UTF8String.fromString(impProduct),
          UTF8String.fromString(impCode)))
      impTrade = ""; impProduct = ""; impCode = ""
    }

    val sponsors = ArrayBuffer[InternalRow]()
    var spSeg = 0
    var spName = ""; var spOrg = ""; var spContact = ""; var spEmail = ""
    def spFlush(): Unit = {
      if (spName.nonEmpty || spOrg.nonEmpty || spContact.nonEmpty || spEmail.nonEmpty)
        sponsors += new GenericInternalRow(Array[Any](spSeg,
          UTF8String.fromString(spName), UTF8String.fromString(spOrg),
          UTF8String.fromString(spContact), UTF8String.fromString(spEmail)))
      spName = ""; spOrg = ""; spContact = ""; spEmail = ""
    }

    val locs = ArrayBuffer[UTF8String]()
    var inBlock = false

    var li = 0
    while (li < lines.length) {
      val collapsed = collapse(lines(li))
      if (inBlock) {
        if (eeaEnd.matcher(collapsed).lookingAt()) inBlock = false
        else locs += UTF8String.fromString(collapsed)
      } else if (collapsed.nonEmpty) {
        var handled = false
        // IMP segment header (scan.py:353-358)
        if (impHeaderPat.matcher(collapsed).lookingAt()) {
          impFlush(); impSeg += 1; handled = true
        }
        // sponsor section header (scan.py:360-365)
        if (!handled) {
          val m = sponsorPats(0).matcher(collapsed)
          if (m.lookingAt() && m.group(1).nonEmpty) {
            if (spName.nonEmpty) { spFlush(); spSeg += 1 }
            spName = lower(m.group(1))
            handled = true
          }
        }
        // NCA location line (scan.py:373-377) — raw case preserved
        if (!handled) {
          val m = ncaPat.matcher(collapsed)
          if (m.lookingAt()) { locs += UTF8String.fromString(m.group(1)); handled = true }
        }
        // EEA block starts (scan.py:378-397)
        if (!handled &&
            (eeaStart1.matcher(collapsed).lookingAt() ||
             eeaStart2.matcher(collapsed).lookingAt())) {
          inBlock = true; handled = true
        }
        // field cascade (scan.py:399-401): trial → imp → sponsor-rest,
        // first empty field wins, empty capture = no match
        if (!handled && collapsed.nonEmpty) {
          val cands = dispatch.getOrElse(collapsed.charAt(0), Array.emptyIntArray)
          var ci = 0
          while (!handled && ci < cands.length) {
            val i = cands(ci)
            if (out(i) == null) {
              val m = trialPats(i).matcher(collapsed)
              if (m.lookingAt() && m.group(1).nonEmpty) {
                val v = if (preserveCase(i)) m.group(1) else lower(m.group(1))
                out(i) = UTF8String.fromString(v)
                handled = true
              }
            }
            ci += 1
          }
          if (!handled) {
            if (impTrade.isEmpty && tryCapture(impPats(0), collapsed).exists { v => impTrade = lower(v); true }) handled = true
            else if (impProduct.isEmpty && tryCapture(impPats(1), collapsed).exists { v => impProduct = lower(v); true }) handled = true
            else if (impCode.isEmpty && tryCapture(impPats(2), collapsed).exists { v => impCode = lower(v); true }) handled = true
            else if (spOrg.isEmpty && tryCapture(sponsorPats(1), collapsed).exists { v => spOrg = lower(v); true }) handled = true
            else if (spContact.isEmpty && tryCapture(sponsorPats(2), collapsed).exists { v => spContact = lower(v); true }) handled = true
            else if (spEmail.isEmpty && tryCapture(sponsorPats(3), collapsed).exists { v => spEmail = lower(v); true }) handled = true
          }
        }
      }
      li += 1
    }
    impFlush()
    spFlush()

    out(nTrial) = new GenericArrayData(imps.toArray[Any])
    out(nTrial + 1) = new GenericArrayData(sponsors.toArray[Any])
    out(nTrial + 2) = new GenericArrayData(locs.toArray[Any])
    new GenericInternalRow(out)
  }

  private def tryCapture(p: Pattern, line: String): Option[String] = {
    val m = p.matcher(line)
    if (m.lookingAt() && m.group(1).nonEmpty) Some(m.group(1)) else None
  }
}
