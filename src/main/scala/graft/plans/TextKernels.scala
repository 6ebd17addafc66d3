package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.llm.TextHash

/** Native codegen kernels for the text-sketch hot path (tokenize →
  * hash → shingle → minhash/simhash), as custom Catalyst Expressions —
  * the brief's extension point (b), same pattern as [[NearestPivots]].
  *
  * WHY: the sketch math is per-row array arithmetic, but Spark's
  * higher-order functions (`transform`/`aggregate` lambdas) evaluate
  * INTERPRETED — measured ~100× slower than compiled loops on the
  * char-level hash. Rounds 2–5 worked around that relationally
  * (hash a distinct-token dictionary, broadcast-join it back, explode
  * shingles and run 64 codegen'd min-aggregates), which is fast but
  * costs three shuffles (distinct + join + groupBy) before the first
  * signature exists. These kernels compute the same values in primitive
  * loops per row, so the whole signature pipeline is a MAP-ONLY
  * projection over the corpus scan: at 100 TB the first (and only)
  * exchange in near-dup detection is the LSH bucket join itself —
  * signatures never shuffle. PlanSpec pins zero Exchange between the
  * documents scan and the band keys.
  *
  * The relational dictionary formulation is retained
  * ([[graft.llm.LlmText.tokenHashArrPlan]]) as a differential
  * cross-check (spec-pinned equal) and as the shape to fall back on if
  * a corpus ever held pathological rows (e.g. one 100 MB document —
  * the kernels are O(row) like every per-row expression).
  *
  * Arithmetic is byte-identical to [[graft.llm.TextHash]] (the
  * DuckDB-oracle-shared hash family): token = maximal run of non-space
  * chars in the (caller-lowercased) text, hash = Σ codepoint·31^i mod
  * 1e9+7 over the first 24 codepoints — matching `split(w, "")` +
  * `ascii` which are both code-point-aware (verified: ascii('é')=233,
  * ascii('😀')=128512; a surrogate pair stays one element).
  *
  * Dirty-data totality: null input → null (nullSafeEval); null array
  * elements hash as 0; < 3 tokens → empty shingle set; an empty
  * shingle set → empty band keys (the row drops out of the bucket
  * join, exactly like the relational path's inner explode).
  */
object TextKernels {
  private[plans] val M = TextHash.M
  private[plans] val pow31: Array[Long] = TextHash.pow31.toArray
  private[plans] val MaxLen = TextHash.MaxLen

  /** Per-token polynomial hashes of a (pre-lowercased) text column,
    * in token order: array<long>. */
  def tokenHashes(text: Column): Column = column(TokenHashes(expression(text)))

  /** Distinct word-3-gram shingle hashes of a token-hash array, in
    * first-occurrence order (mirrors `array_distinct`). */
  def shingleSet(hs: Column): Column = column(ShingleSet(expression(hs)))

  /** 16 LSH band keys (4 minhash rows per band, 64 seeds) of a
    * shingle-set array: array<long>, empty iff the input is empty. */
  def minhashBands(sh: Column): Column = column(MinHashBands(expression(sh)))
  def minhashSigs(sh: Column): Column = column(MinHashSigs(expression(sh)))

  /** 30-bit SimHash of a token-hash array (±1 per occurrence per bit,
    * bit set iff the accumulator is positive). */
  def simhash(hs: Column): Column = column(SimHash(expression(hs)))

  /** Per-document repetition statistics over a token-hash array:
    * array<long> [n2_total, n2_distinct, top2_cnt, n3_total,
    * n3_distinct] (bigram/trigram totals, distincts, modal bigram
    * count). */
  def repetitionStats(hs: Column): Column = column(RepetitionStats(expression(hs)))

  /** Non-overlapping fixed-length chunk hashes of a token-hash array
    * (trailing partial chunk included): array<long>. */
  def chunkHashes(hs: Column): Column = column(ChunkHashes(expression(hs)))

  /** Overlapping sliding-window chunk hashes (window c starts at
    * c·stride): array<long>, one hash per window. */
  def slidingChunkHashes(hs: Column, len: Int, stride: Int): Column =
    column(ChunkHashes(expression(hs), len, stride))

  /** Full 64-bit FNV-1a window hashes of a token-hash array: one hash
    * per FULL k-window (n−k+1 entries; no trailing partials — q221's
    * gram positions are exactly the array indices + 1). 64-bit where
    * [[ChunkHashes]] is mod-M: the substring-dedup CANDIDATE stage
    * feeds a distinct-gram aggregate whose population at 100 TB is
    * ~10¹² instances — a 31-bit seed space would alias essentially
    * every bucket and the exact-text verify stage would degenerate to
    * a full recompute; 64 bits keeps candidate inflation negligible
    * (collisions still die in the verify stage — seeds are never
    * trusted). */
  def windowHashes(hs: Column, k: Int, rolling: Boolean = true): Column =
    column(WindowHashes(expression(hs), k, rolling))

  /** Per-profile stopword-occurrence counts of a (pre-lowercased)
    * text: array<long>, one count per profile, in profile order. */
  def langScores(text: Column, profiles: Seq[Seq[String]]): Column =
    column(LangScores(expression(text), profiles.map(_.toArray).toArray))

  /** Per-row quality stats of a (pre-lowercased) text: array<long>
    * [n_tokens, n_distinct, max_tok_len (null when token-less),
    * n_long (len > 6)]. */
  def qualityStats(text: Column): Column = column(QualityStats(expression(text)))
}

/** text (lowercased by the caller — `lower()` stays the native Spark
  * expression so collation/locale behavior is exactly Spark's) →
  * array<long> of per-token hashes, token order preserved. */
case class TokenHashes(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_hashes"

  def hashes(s: UTF8String): ArrayData = {
    val str = s.toString
    val n = str.length
    var out = new Array[Long](8)
    var m = 0
    var i = 0
    while (i < n) {
      while (i < n && str.charAt(i) == ' ') i += 1
      if (i < n) {
        var acc = 0L
        var cnt = 0
        while (i < n && str.charAt(i) != ' ') {
          val cp = str.codePointAt(i)
          if (cnt < TextKernels.MaxLen) {
            acc = (acc + cp.toLong * TextKernels.pow31(cnt)) % TextKernels.M
            cnt += 1
          }
          i += Character.charCount(cp)
        }
        if (m == out.length) out = java.util.Arrays.copyOf(out, m * 2)
        out(m) = acc
        m += 1
      }
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }

  protected override def nullSafeEval(input: Any): Any =
    hashes(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenHashes", this, classOf[TokenHashes].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.hashes(($c));")
  }
  override protected def withNewChildInternal(newChild: Expression): TokenHashes =
    copy(child = newChild)
}

/** array<long> token hashes → array<long> distinct 3-gram shingle
  * hashes (h1·961 + h2·31 + h3 mod M), first-occurrence order.
  *
  * Null ELEMENTS hash as 0 (total function) — this diverges from the
  * retained HOF/relational formulations, where a null element
  * propagates null through `shingleHash`. Unreachable from the
  * pipeline ([[TokenHashes]] emits containsNull=false), so the
  * bit-identical claim is scoped to null-free inputs. */
case class ShingleSet(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> input, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_set"

  def shingles(in: ArrayData): ArrayData = {
    val n = in.numElements()
    if (n < 3) return new GenericArrayData(Array.emptyLongArray)
    def at(i: Int): Long = if (in.isNullAt(i)) 0L else in.getLong(i)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i + 2 < n) {
      seen.add((at(i) * 961 + at(i + 1) * 31 + at(i + 2)) % TextKernels.M)
      i += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  protected override def nullSafeEval(input: Any): Any =
    shingles(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleSet", this, classOf[ShingleSet].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.shingles(($c));")
  }
  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
}

/** array<long> shingle set → array<long> of `nBands` LSH band keys:
  * 64 minhashes m_s = min_h (h·(ABase·s mod M) + 7919·s) mod M, band
  * b's key = ((m_{4b+1}·31 + m_{4b+2})·31 + m_{4b+3})·31 + m_{4b+4}
  * folded mod M — bit-identical to the relational formulation in
  * `LlmText.lshPairs` rounds 3–5 and to the oracle's minhashSql
  * (on null-free inputs: null ELEMENTS hash as 0 here, whereas the
  * relational min-aggregate would skip them — unreachable from the
  * pipeline, [[ShingleSet]] emits containsNull=false). */
/** array<long> shingle hashes → the raw `nSeeds`-entry minhash
  * signature: the [[MinHashBands]] mins WITHOUT the band packing.
  * q166 compares signatures per SEED (exact 4-tuple band equality —
  * a packed band key only approximates it up to mod-M collisions),
  * and the HOF formulation it replaces (transform over 64 seeds ×
  * |sh| shingles) is CodegenFallback — interpreted per row, the
  * board's one bimodal hot spot (0.5 s jit-hot vs 5.8 s cold-path).
  * Same hash family constants as [[MinHashBands]]; empty inputs keep
  * the fill sentinel (callers filter size(sh) > 0 upstream). */
case class MinHashSigs(child: Expression, nSeeds: Int = 64)
    extends UnaryExpression {
  private val mulA: Array[Long] =
    (1 to nSeeds).map(s => TextHash.ABase * s % TextKernels.M).toArray
  private val addB: Array[Long] = (1 to nSeeds).map(s => 7919L * s).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> input, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sigs"

  def sigs(in: ArrayData): ArrayData = {
    val n = in.numElements()
    val mins = new Array[Long](nSeeds)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = if (in.isNullAt(i)) 0L else in.getLong(i)
      var s = 0
      while (s < nSeeds) {
        val v = (h * mulA(s) + addB(s)) % TextKernels.M
        if (v < mins(s)) mins(s) = v
        s += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  protected override def nullSafeEval(input: Any): Any =
    sigs(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashSigs", this, classOf[MinHashSigs].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.sigs(($c));")
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)
}

case class MinHashBands(child: Expression, nSeeds: Int = 64, nBands: Int = 16)
    extends UnaryExpression {
  require(nSeeds == 4 * nBands, s"nSeeds=$nSeeds must be 4*nBands=${4 * nBands}")

  private val mulA: Array[Long] =
    (1 to nSeeds).map(s => TextHash.ABase * s % TextKernels.M).toArray
  private val addB: Array[Long] = (1 to nSeeds).map(s => 7919L * s).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> input, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"

  def bands(in: ArrayData): ArrayData = {
    val n = in.numElements()
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val mins = new Array[Long](nSeeds)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = if (in.isNullAt(i)) 0L else in.getLong(i)
      var s = 0
      while (s < nSeeds) {
        val v = (h * mulA(s) + addB(s)) % TextKernels.M
        if (v < mins(s)) mins(s) = v
        s += 1
      }
      i += 1
    }
    val out = new Array[Long](nBands)
    var b = 0
    while (b < nBands) {
      out(b) = (((mins(4 * b) * 31 + mins(4 * b + 1)) % TextKernels.M * 31
        + mins(4 * b + 2)) % TextKernels.M * 31
        + mins(4 * b + 3)) % TextKernels.M
      b += 1
    }
    new GenericArrayData(out)
  }

  protected override def nullSafeEval(input: Any): Any =
    bands(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashBands", this, classOf[MinHashBands].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.bands(($c));")
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

/** array<long> token hashes → array<long> of 5 repetition statistics:
  *
  *   [0] n2_total    = max(n−1, 0)   word-bigram occurrences
  *   [1] n2_distinct                 distinct bigram hashes
  *   [2] top2_cnt                    occurrences of the modal bigram
  *   [3] n3_total    = max(n−2, 0)   word-trigram occurrences
  *   [4] n3_distinct                 distinct trigram hashes
  *
  * (the Gopher-style "fraction of duplicated n-grams" inputs — the
  * ratio itself is left to the caller so the outputs stay
  * integer-exact for cross-engine hashing). Bigram hash =
  * (h1·31 + h2) mod M; trigram hash = (h1·961 + h2·31 + h3) mod M —
  * the same family as [[ShingleSet]], so n3_distinct equals the
  * shingle-set size and the oracle can reuse its `dsh`/`ssize` CTEs.
  * Distinct/modal counts are computed by sorting a scratch copy and
  * counting runs — no per-row hash map, O(n log n), allocation-light.
  * Null ELEMENTS hash as 0 (unreachable from the pipeline —
  * [[TokenHashes]] emits containsNull=false). */
case class RepetitionStats(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> input, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "repetition_stats"

  /** (distinct values, max run length) of a sorted scratch array. */
  private def runStats(a: Array[Long]): (Long, Long) = {
    if (a.length == 0) return (0L, 0L)
    java.util.Arrays.sort(a)
    var distinct = 1L
    var top = 1L
    var run = 1L
    var i = 1
    while (i < a.length) {
      if (a(i) == a(i - 1)) { run += 1; if (run > top) top = run }
      else { distinct += 1; run = 1 }
      i += 1
    }
    (distinct, top)
  }

  def stats(in: ArrayData): ArrayData = {
    val n = in.numElements()
    def at(i: Int): Long = if (in.isNullAt(i)) 0L else in.getLong(i)
    val n2 = math.max(n - 1, 0)
    val n3 = math.max(n - 2, 0)
    val b2 = new Array[Long](n2)
    var i = 0
    while (i < n2) { b2(i) = (at(i) * 31 + at(i + 1)) % TextKernels.M; i += 1 }
    val b3 = new Array[Long](n3)
    i = 0
    while (i < n3) {
      b3(i) = (at(i) * 961 + at(i + 1) * 31 + at(i + 2)) % TextKernels.M
      i += 1
    }
    val (d2, top2) = runStats(b2)
    val (d3, _) = runStats(b3)
    new GenericArrayData(Array(n2.toLong, d2, top2, n3.toLong, d3))
  }

  protected override def nullSafeEval(input: Any): Any =
    stats(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("repetitionStats", this, classOf[RepetitionStats].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.stats(($c));")
  }
  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

/** array<long> token hashes → array<long> of per-chunk positional
  * hashes: chunk c covers tokens [c·len, (c+1)·len); its hash is
  * Σ_j h_{c·len+j} · 31^j mod M (j = local 0-based index, the
  * [[TextHash.pow31]] table). The trailing PARTIAL chunk is included,
  * so every non-empty document contributes ⌈n/len⌉ chunks — the
  * passage-level (CCNet line-level) dedup granularity. Null ELEMENTS
  * hash as 0 (unreachable from the pipeline — [[TokenHashes]] emits
  * containsNull=false). */
/** array<long> token hashes → array<long> of 64-bit hashes over each
  * full k-window (window i covers indices [i, i+k); n−k+1 windows,
  * none for n < k). Equal token text ⇒ equal token hashes ⇒ equal
  * window hash, so the candidate set it generates is a superset of
  * the exact-text truth by construction — q221's no-false-negatives
  * seed property. Null elements hash as 0 (unreachable from
  * [[TokenHashes]], containsNull=false).
  *
  * Two arms (round 19, VERDICT r18 item 3 — a MEASURED choice):
  *   - `rolling = false`: a fresh FNV-1a fold per window, O(n·k).
  *   - `rolling = true`: the polynomial rolling hash
  *     h_i = Σ_j e_{i+j}·B^{k−1−j} mod 2⁶⁴ (B = the FNV prime, odd so
  *     multiplication is a bijection mod 2⁶⁴), advanced in O(1) per
  *     window: h_{i+1} = (h_i − e_i·B^{k−1})·B + e_{i+k} — O(n) total.
  *     No output finalizer: the inputs are already avalanche-mixed
  *     64-bit [[TokenHashes]], and the value is only ever compared
  *     for equality (collisions die in q221's exact gram-text
  *     verify).
  * The two arms produce DIFFERENT hash values — only the candidate
  * sets differ (both supersets of truth); the verified span output is
  * identical (SubstringDedupSpec pins arm equivalence; the round-19
  * interleaved A/B also saw equal span counts). That A/B measured the
  * span-family build, cold medians: sf0.1 FNV 1.11 s vs rolling
  * 1.02 s (5 rounds), clone100 FNV 14.32 s vs rolling 13.84 s (3
  * rounds; 500k spans) — the fold is a small slice of a candidate-
  * join-dominated build at k=8, but the rolling arm reads
  * directionally faster at both scales and is strictly less work per
  * token at any k, so it ships as [[TextKernels.windowHashes]]'s
  * default (the FNV arm stays as the A/B baseline). */
case class WindowHashes(child: Expression, k: Int, rolling: Boolean = true)
    extends UnaryExpression {
  require(k >= 1, s"k=$k must be positive")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> input, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "window_hashes"

  def windows(in: ArrayData): ArrayData = {
    val n = in.numElements()
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](n - k + 1)
    @inline def e(j: Int): Long = if (in.isNullAt(j)) 0L else in.getLong(j)
    if (rolling) {
      val B = 0x100000001b3L
      var btop = 1L // B^(k−1) mod 2⁶⁴
      var t = 1
      while (t < k) { btop *= B; t += 1 }
      var h = 0L
      var j = 0
      while (j < k) { h = h * B + e(j); j += 1 }
      out(0) = h
      var i = 1
      while (i + k <= n) {
        h = (h - e(i - 1) * btop) * B + e(i + k - 1)
        out(i) = h
        i += 1
      }
    } else {
      var i = 0
      while (i + k <= n) {
        var h = 0xcbf29ce484222325L
        var j = i
        while (j < i + k) {
          h = (h ^ e(j)) * 0x100000001b3L
          j += 1
        }
        out(i) = h
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  protected override def nullSafeEval(input: Any): Any =
    windows(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("windowHashes", this, classOf[WindowHashes].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.windows(($c));")
  }
  override protected def withNewChildInternal(newChild: Expression): WindowHashes =
    copy(child = newChild)
}

case class ChunkHashes(child: Expression, chunkLen: Int = ChunkHashes.DefaultLen,
    stride: Int = ChunkHashes.DefaultLen)
    extends UnaryExpression {
  require(chunkLen >= 1 && chunkLen <= TextKernels.pow31.length,
    s"chunkLen=$chunkLen out of range 1..${TextKernels.pow31.length}")
  require(stride >= 1 && stride <= chunkLen,
    s"stride=$stride must be in 1..chunkLen=$chunkLen")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> input, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "chunk_hashes"

  /** Window c covers token indices [c·stride, c·stride+chunkLen) ∩
    * [0, n); windows exist while c·stride < n (trailing partials
    * included). stride == chunkLen is the non-overlapping q64 shape. */
  def chunks(in: ArrayData): ArrayData = {
    val n = in.numElements()
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val m = (n + stride - 1) / stride
    val out = new Array[Long](m)
    var c = 0
    while (c < m) {
      val start = c * stride
      val end = math.min(start + chunkLen, n)
      var acc = 0L
      var i = start
      while (i < end) {
        val h = if (in.isNullAt(i)) 0L else in.getLong(i)
        acc = (acc + h * TextKernels.pow31(i - start)) % TextKernels.M
        i += 1
      }
      out(c) = acc
      c += 1
    }
    new GenericArrayData(out)
  }

  protected override def nullSafeEval(input: Any): Any =
    chunks(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("chunkHashes", this, classOf[ChunkHashes].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.chunks(($c));")
  }
  override protected def withNewChildInternal(newChild: Expression): ChunkHashes =
    copy(child = newChild)
}

object ChunkHashes {
  val DefaultLen = 10
}

/** (pre-lowercased) text → array<long> of per-profile stopword
  * occurrence counts — the language-ID scoring loop as one compiled
  * pass (tokenization identical to [[TokenHashes]]: maximal non-space
  * runs). The declarative form (explode_outer + conditional-count
  * aggregates) shuffles the whole token stream to count ~5 words per
  * profile; this is a pure map — at 100 TB language-ID adds zero
  * exchanges. Token-less text scores all-zero (matching the
  * explode_outer formulation's kept row). */
/** (pre-lowercased) text → [n_tokens, n_distinct, max_tok_len, n_long]
  * as one compiled pass (tokenization identical to [[TokenHashes]]:
  * maximal non-space runs; token length in chars, ASCII-safe vs both
  * engines' code-point length). The declarative form runs four
  * interpreted higher-order lambdas per row; this is a map projection
  * inside whole-stage codegen. max_tok_len is NULL for token-less
  * text, matching `array_max(empty)` / `list_max(empty)`. */
case class QualityStats(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "quality_stats"

  def stats(s: UTF8String): ArrayData = {
    val str = s.toString
    val n = str.length
    val seen = new java.util.HashSet[String]()
    var nTok = 0L
    var maxLen = 0L
    var nLong = 0L
    var i = 0
    while (i < n) {
      while (i < n && str.charAt(i) == ' ') i += 1
      if (i < n) {
        val start = i
        while (i < n && str.charAt(i) != ' ') i += 1
        nTok += 1
        val len = i - start
        if (len > maxLen) maxLen = len
        if (len > 6) nLong += 1
        seen.add(str.substring(start, i))
      }
    }
    new GenericArrayData(Array[Any](
      nTok, seen.size.toLong, if (nTok == 0) null else maxLen, nLong))
  }

  protected override def nullSafeEval(input: Any): Any =
    stats(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("qualityStats", this, classOf[QualityStats].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.stats(($c));")
  }
  override protected def withNewChildInternal(newChild: Expression): QualityStats =
    copy(child = newChild)
}

case class LangScores(child: Expression, profiles: Array[Array[String]])
    extends UnaryExpression {
  require(profiles.nonEmpty, "at least one profile")

  // one hash set per profile, built once per executor instance
  @transient private lazy val sets: Array[java.util.HashSet[String]] =
    profiles.map { ws =>
      val s = new java.util.HashSet[String]()
      ws.foreach(s.add)
      s
    }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lang_scores"

  def scores(s: UTF8String): ArrayData = {
    val str = s.toString
    val n = str.length
    val out = new Array[Long](profiles.length)
    var i = 0
    while (i < n) {
      while (i < n && str.charAt(i) == ' ') i += 1
      if (i < n) {
        val start = i
        while (i < n && str.charAt(i) != ' ') i += 1
        val w = str.substring(start, i)
        var p = 0
        while (p < sets.length) {
          if (sets(p).contains(w)) out(p) += 1
          p += 1
        }
      }
    }
    new GenericArrayData(out)
  }

  protected override def nullSafeEval(input: Any): Any =
    scores(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("langScores", this, classOf[LangScores].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.scores(($c));")
  }
  override protected def withNewChildInternal(newChild: Expression): LangScores =
    copy(child = newChild)
}

/** array<long> token hashes → 30-bit SimHash (long): per occurrence,
  * bit k accumulates +1 if (h >> k) & 1 else −1; output bit k is set
  * iff the accumulator is > 0. Identical to the relational 30
  * conditional-sum formulation (Σ_h tf(h)·sign_k(h) = Σ_tokens sign_k)
  * on null-free inputs; a null ELEMENT counts as hash 0 here (−1 on
  * every bit) rather than being dropped — unreachable from the
  * pipeline, [[TokenHashes]] emits containsNull=false. */
case class SimHash(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> input, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash30"

  def hash(in: ArrayData): Long = {
    val acc = new Array[Long](30)
    val n = in.numElements()
    var i = 0
    while (i < n) {
      val h = if (in.isNullAt(i)) 0L else in.getLong(i)
      var k = 0
      while (k < 30) {
        acc(k) += ((h >> k) & 1L) * 2 - 1
        k += 1
      }
      i += 1
    }
    var out = 0L
    var k = 0
    while (k < 30) {
      if (acc(k) > 0) out |= 1L << k
      k += 1
    }
    out
  }

  protected override def nullSafeEval(input: Any): Any =
    hash(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhash", this, classOf[SimHash].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.hash(($c));")
  }
  override protected def withNewChildInternal(newChild: Expression): SimHash =
    copy(child = newChild)
}
