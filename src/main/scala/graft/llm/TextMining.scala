package graft.llm

import graft.{Caches, Family}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Q
import graft.llm.LlmText.{docs, tokens}

/** Corpus mining passes beyond the dedup/quality families: collocation
  * discovery (q110), dirty-lexicon entity matching (q111), and
  * deterministic split assignment (q112). The unigram vocabulary
  * (w, n_occ) is memoized + persisted per (session, dir): q110
  * consumes it three times (scalar total + both broadcast sides) and
  * q111 once more — without the persist each consumer re-scans and
  * re-shuffles the full corpus, which at 100 TB turns one corpus pass
  * into four. Released via [[release]] ([[graft.Caches]] family).
  */
object TextMining {

  /** Unigram counts (w, n_occ) over the whitespace tokenization —
    * vocab-bounded (Heaps' law), so the persisted frame is small
    * relative to the corpus and both q110 broadcasts build from it
    * without touching documents again. */
  private def vocab(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Mining, s, "vocab|" + dir) {
      docs(s, dir)
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n_w"))
        .persist()
    }(_.unpersist())

  /** q218's merge-step count — fixed, so the training loop has the
    * PageRank iteration shape (never data-dependent). */
  private[llm] val BpeSteps = 8

  /** q226's pattern set: single words, multi-word phrases, a nested
    * pair ("table" inside "window table" — exercises the automaton's
    * fail-closure outputs) and absent terms (zero rows must still
    * census). Every pattern is BORDER-FREE (no proper prefix equals a
    * suffix), which the oracle's replace-length count requires —
    * border-free patterns cannot self-overlap, so all-occurrence and
    * non-overlapping counts coincide (AhoCorasickSpec pins the
    * property; general overlap semantics are spec-gated separately). */
  private[llm] val Blocklist: Seq[String] = Seq(
    "slow", "table", "window table", "hash join", "merge batch",
    "agg", "scan slow", "forbidden", "leak", "spark")

  /** q227's query phrase — rare enough to exercise the rarest-first
    * pruning (both fixtures match a handful of documents), present at
    * both SFs. */
  private[llm] val Phrase: Seq[String] = Seq("key", "agg", "row")

  /** Trained BPE state, memoized per (session, dir) like [[vocab]]:
    * the merge table AND the final per-word token state (w, n, tok) —
    * q218 reads the merges, q219 applies the trained tokenizer, and
    * the G-step loop runs ONCE per session (the simhashHamPairs
    * lesson: shared expensive frames must not rebuild per consumer).
    * The state frame stays persisted; [[release]] drops it. */

  private[llm] def bpeTrain(s: SparkSession, dir: String)
      : (Seq[(Int, String, String, Long)], DataFrame) =
    Caches.memo(Family.Mining, s, "bpe|" + dir) {
      var cur = vocab(s, dir)
        .filter(col("w").rlike("^[a-z]+$") &&
          length(col("w")).between(2, 32))
        .select(col("w"), col("n_w").as("n"),
          regexp_replace(col("w"), "(.)", "·$1·").as("tok"))
        .persist()
      cur.count()
      val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
      var step = 1
      try while (step <= BpeSteps) {
        val best = cur
          .select(col("n"),
            split(regexp_replace(col("tok"), "^·|·$", ""), "··").as("sp"))
          .filter(size(col("sp")) >= 2) // sequence(1,0) would DESCEND
          .select(col("n"), explode(expr(
            """transform(sequence(1, size(sp) - 1), i ->
              |  struct(element_at(sp, i) AS a, element_at(sp, i + 1) AS b))""".stripMargin))
            .as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum("n").as("cnt"))
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(1).collect()
        require(best.nonEmpty, "BPE vocabulary exhausted before G merges")
        val (a, b, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((step, a, b, cnt))
        // a, b are ^[a-z]+ by construction — SQL-literal safe
        val next = cur.select(col("w"), col("n"),
          expr(s"replace(tok, '·${a}··${b}·', '·${a}${b}·')").as("tok")).persist()
        next.count()
        cur.unpersist()
        cur = next
        step += 1
      } catch { case t: Throwable =>
        // a mid-loop abort (vocabulary exhausted, executor loss) must
        // not leak the working frame: the exception escapes the memo
        // build, so no memo exists for release() to drop (review r17)
        cur.unpersist()
        throw t
      }
      (merges.toSeq, cur)
    }(_._2.unpersist())

  /** The byte trainer's grafted multibyte word (the q88 convention:
    * the fixture corpus is pure ASCII, so the gate would otherwise
    * never exercise a multibyte split — ' café' puts the C3 A9 UTF-8
    * pair in every document). */
  private[llm] val ByteGraft = " café"

  /** All-words vocabulary over the grafted stream — the byte trainer's
    * seed frame (NO [a-z]/length screen: byte fallback = no OOV). */
  private def byteVocab(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Mining, s, "byteVocab|" + dir)(
      docs(s, dir)
        .select(explode(tokens(concat(col("text"), lit(ByteGraft)))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n_w"))
        .persist())(_.unpersist())

  /** Byte-level BPE training state, memoized like [[bpeTrain]] (round
    * 19, VERDICT r18 item 5 — the GPT-2 production form next to
    * q218's word-level Sennrich trainer). Same G-step argmax loop and
    * framing device; the seed alphabet is the word's UTF-8 bytes
    * HEX-ENCODED ('·63··61··66··C3··A9·' for "café"), so every
    * framing unit is [0-9A-F] and merge literals are SQL-safe for ANY
    * input — the property that lets replace() cover arbitrary text,
    * where q218's raw-char framing needed the ^[a-z]+$ screen. */

  private[llm] def byteBpeTrain(s: SparkSession, dir: String)
      : (Seq[(Int, String, String, Long)], DataFrame) =
    Caches.memo(Family.Mining, s, "byteBpe|" + dir)( byteBpeTrainOn(byteVocab(s, dir)))(_._2.unpersist())

  /** The G-step byte-BPE loop over any (w, n_w) word-frequency frame —
    * factored so q234 (full grafted stream) and q236 (train split
    * only) share one trainer body. */
  private[llm] def byteBpeTrainOn(words: DataFrame)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
      var cur = words
        .select(col("w"), col("n_w").as("n"),
          regexp_replace(hex(encode(col("w"), "UTF-8")), "(..)", "·$1·").as("tok"))
        .persist()
      cur.count()
      val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
      var step = 1
      try while (step <= BpeSteps) {
        val best = cur
          .select(col("n"),
            split(regexp_replace(col("tok"), "^·|·$", ""), "··").as("sp"))
          .filter(size(col("sp")) >= 2)
          .select(col("n"), explode(expr(
            """transform(sequence(1, size(sp) - 1), i ->
              |  struct(element_at(sp, i) AS a, element_at(sp, i + 1) AS b))""".stripMargin))
            .as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum("n").as("cnt"))
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(1).collect()
        require(best.nonEmpty, "byte-BPE vocabulary exhausted before G merges")
        val (a, b, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((step, a, b, cnt))
        // a, b are hex strings by construction — SQL-literal safe for
        // any input bytes
        val next = cur.select(col("w"), col("n"),
          expr(s"replace(tok, '·${a}··${b}·', '·${a}${b}·')").as("tok")).persist()
        next.count()
        cur.unpersist()
        cur = next
        step += 1
      } catch { case t: Throwable =>
        cur.unpersist()
        throw t
      }
      (merges.toSeq, cur)
  }

  /** q236's TRAIN-split word frame (doc_id % 10 ≠ 0, ungrafted) and
    * its trained byte-BPE state — the true train/apply separation the
    * full-stream q234 trainer cannot exercise. */
  private def splitVocab(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Mining, s, "splitVocab|" + dir)(
      docs(s, dir).filter(col("doc_id") % 10 =!= 0)
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n_w"))
        .persist())(_.unpersist())
  private[llm] def byteBpeTrainSplit(s: SparkSession, dir: String)
      : (Seq[(Int, String, String, Long)], DataFrame) =
    Caches.memo(Family.Mining, s, "splitBpe|" + dir)( byteBpeTrainOn(splitVocab(s, dir)))(_._2.unpersist())

  /** q218's oracle, GENERATED as unrolled SQL (one CTE block per merge
    * step): a recursive CTE cannot reference the working set twice
    * (once for the words, once for the argmax) nor aggregate over the
    * recursive term, so the loop unrolls — the oracle text is data,
    * built by the same loop bound as the engine side. Framing device
    * and tie-break are byte-identical to the Spark body's. */
  /** The shared unrolled-training prefix: WITH blocks w0..wG (each
    * carrying (w, n, tok)) and the per-step argmax blocks b0..b(G−1). */
  private def bpeOracleBase(g: Int): String =
    """WITH wf AS (SELECT w, count(*)::BIGINT AS n FROM (
      |  SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS w
      |  FROM documents) t
      |WHERE regexp_matches(w, '^[a-z]+$') AND length(w) BETWEEN 2 AND 32 GROUP BY 1),
      |w0 AS (SELECT w, n, regexp_replace(w, '(.)', '·\1·', 'g') AS tok FROM wf)""".stripMargin +
      bpeOracleSteps(g)

  /** The per-step argmax/merge CTE blocks, shared by the word-level
    * (q218/q219) and byte-level (q234/q235) oracle generators — the
    * framing machinery is alphabet-agnostic, only w0's seed differs. */
  private def bpeOracleSteps(g: Int): String = {
    val sb = new StringBuilder
    for (i <- 0 until g) {
      sb ++= s""",
        |sp$i AS (SELECT n, sp, unnest(generate_series(1, len(sp) - 1)) AS i
        |         FROM (SELECT n, string_split(trim(tok, '·'), '··') AS sp FROM w$i) t),
        |pc$i AS (SELECT sp[i] AS a, sp[i + 1] AS b, sum(n)::BIGINT AS cnt
        |         FROM sp$i GROUP BY 1, 2),
        |b$i AS (SELECT a, b, cnt FROM pc$i ORDER BY cnt DESC, a, b LIMIT 1),
        |w${i + 1} AS (SELECT w, n,
        |    replace(tok, '·' || b$i.a || '··' || b$i.b || '·',
        |                 '·' || b$i.a || b$i.b || '·') AS tok
        |  FROM w$i, b$i)""".stripMargin
    }
    sb.toString
  }

  /** Byte-level BPE oracle header (q234/q235): the seed alphabet is
    * the word's UTF-8 BYTES, hex-encoded two chars per byte so every
    * framing unit is [0-9A-F] — merge literals stay SQL-safe for ANY
    * input bytes, which is what lets the q218 replace() device cover
    * arbitrary text. No [a-z] screen and no length window: byte
    * fallback means NO OOV class by construction. The stream grafts
    * one multibyte word (' café') per document (the q88 convention)
    * so real UTF-8 byte splitting is exercised at the gate. */
  private def byteBpeOracleCore(g: Int, where: String, graftSql: String): String =
    s"""WITH wf AS (SELECT w, count(*)::BIGINT AS n FROM (
      |  SELECT unnest(list_filter(string_split(lower(text)$graftSql, ' '), x -> x != '')) AS w
      |  FROM documents $where) t GROUP BY 1),
      |w0 AS (SELECT w, n, regexp_replace(hex(encode(w)), '(..)', '·\\1·', 'g') AS tok FROM wf)""".stripMargin +
      bpeOracleSteps(g)

  private def byteBpeOracleBase(g: Int): String =
    byteBpeOracleCore(g, "", " || ' caf' || chr(233)")

  /** q236's oracle: unrolled training on the TRAIN split (ungrafted),
    * then the apply chain — the same G merges replayed over the EVAL
    * split's distinct words as G more replace() CTEs (a0..aG), then
    * the census with the unseen flag (LEFT JOIN against the train
    * vocabulary). */
  private[llm] def byteBpeApplyOracleSql(g: Int): String = {
    val sb = new StringBuilder(
      byteBpeOracleCore(g, "WHERE doc_id % 10 <> 0", ""))
    sb ++= """,
      |ev AS (SELECT source, w, count(*)::BIGINT AS c FROM (
      |    SELECT source, unnest(list_filter(string_split(lower(text) || ' zq' || doc_id || chr(233), ' '), x -> x != '')) AS w
      |    FROM documents WHERE doc_id % 10 = 0) t GROUP BY 1, 2),
      |a0 AS (SELECT w, regexp_replace(hex(encode(w)), '(..)', '·\1·', 'g') AS tok
      |       FROM (SELECT DISTINCT w FROM ev) t)""".stripMargin
    for (i <- 0 until g)
      sb ++= s""",
        |a${i + 1} AS (SELECT w, replace(tok, '·' || b$i.a || '··' || b$i.b || '·',
        |                  '·' || b$i.a || b$i.b || '·') AS tok FROM a$i, b$i)""".stripMargin
    sb ++= s""",
      |nt AS (SELECT w, len(string_split(trim(tok, '·'), '··'))::BIGINT AS nt FROM a$g),
      |uns AS (SELECT nt.w AS w, CASE WHEN wf.w IS NULL THEN 1 ELSE 0 END AS unseen
      |        FROM nt LEFT JOIN wf ON nt.w = wf.w)
      |SELECT source, sum(c)::BIGINT AS n_words,
      |       sum(c * unseen)::BIGINT AS n_unseen,
      |       sum(c * nt)::BIGINT AS n_tokens,
      |       sum(c * strlen(w))::BIGINT AS n_bytes,
      |       ((1000 * sum(c * nt)) // NULLIF(sum(c), 0))::BIGINT AS tpw_milli,
      |       ((1000 * sum(c * nt)) // NULLIF(sum(c * strlen(w)), 0))::BIGINT AS tpb_milli
      |FROM ev JOIN nt USING (w) JOIN uns USING (w)
      |GROUP BY source ORDER BY source""".stripMargin
    sb.toString
  }

  private[llm] def byteBpeOracleSql(g: Int): String =
    byteBpeOracleBase(g) + (0 until g).map(i =>
        s"SELECT ${i + 1}::INT AS step, a AS lhs, b AS rhs, cnt AS pair_n FROM b$i")
      .mkString("\n", "\nUNION ALL\n", "\nORDER BY step")

  /** q235's oracle: the byte-trained state's per-word token counts
    * joined against per-source counts of the SAME grafted word
    * stream — fertility per word and per BYTE (strlen = UTF-8 byte
    * length in DuckDB; octet_length on the Spark side). */
  private[llm] def byteBpeFertilityOracleSql(g: Int): String =
    byteBpeOracleBase(g) + s""",
      |nt AS (SELECT w, len(string_split(trim(tok, '·'), '··'))::BIGINT AS nt FROM w$g),
      |psw AS (SELECT source, w, count(*)::BIGINT AS c FROM (
      |    SELECT source, unnest(list_filter(string_split(lower(text) || ' caf' || chr(233), ' '), x -> x != '')) AS w
      |    FROM documents) t GROUP BY 1, 2)
      |SELECT source, sum(c)::BIGINT AS n_words,
      |       sum(c * nt)::BIGINT AS n_tokens,
      |       sum(c * strlen(w))::BIGINT AS n_bytes,
      |       ((1000 * sum(c * nt)) // NULLIF(sum(c), 0))::BIGINT AS tpw_milli,
      |       ((1000 * sum(c * nt)) // NULLIF(sum(c * strlen(w)), 0))::BIGINT AS tpb_milli
      |FROM psw JOIN nt USING (w)
      |GROUP BY source ORDER BY source""".stripMargin

  private[llm] def bpeOracleSql(g: Int): String =
    bpeOracleBase(g) + (0 until g).map(i =>
        s"SELECT ${i + 1}::INT AS step, a AS lhs, b AS rhs, cnt AS pair_n FROM b$i")
      .mkString("\n", "\nUNION ALL\n", "\nORDER BY step")

  // ---- q228: unigram-LM (SentencePiece-style) tokenizer training ----

  /** q228 training constants: token-length cap (bounds the per-word DP
    * fan-in AND the seed-substring blowup at ≤ L·K rows per distinct
    * word), word-length cap (bounds the unrolled oracle DP), seed
    * min-count, vocabulary cap (makes the per-step driver collect
    * bounded BY CONSTRUCTION), hard-EM round count (fixed — the
    * PageRank/q218 iteration shape, never data-dependent), census
    * size. */
  private[llm] val UniMaxTok = 6
  private[llm] val UniMaxWordLen = 16
  private[llm] val UniMinCount = 2L
  private[llm] val UniMaxVocab = 256
  private[llm] val UniEmSteps = 2
  private[llm] val UniTopK = 30

  /** Trained unigram-LM vocabulary (tok, cnt after the last hard-EM
    * recount), memoized + persisted per (session, dir) like
    * [[bpeTrain]] — built once per session, prebuilt untimed.
    *
    * Algorithm (the deterministic hard-EM variant of Kudo 2018, both
    * engines term-for-term): seed vocabulary = all word substrings of
    * length ≤ [[UniMaxTok]] weighted by corpus word frequency, kept if
    * count ≥ [[UniMinCount]] or single-char, capped to the top
    * [[UniMaxVocab]] by (count DESC, token ASC) with single chars
    * always retained (so every word stays segmentable); then
    * [[UniEmSteps]] rounds of: integer micro-nat costs from current
    * counts → per-word Viterbi segmentation
    * ([[graft.plans.UnigramViterbi]], min cost, smallest-backpointer
    * tie-break) → recount tokens by word frequency, flooring char
    * tokens at 1 so coverage never dies. Plan at 100 TB: the corpus
    * is scanned ONCE into the Heaps-bounded word frame (the memoized
    * [[vocab]]); every EM step is one bounded aggregate over that
    * frame plus a vocab-bounded driver collect (≤ UniMaxVocab + chars
    * rows) to build the broadcast cost table — segmentation work is
    * per DISTINCT word, never per occurrence. */
  private[llm] def unigramTrain(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Mining, s, "uni|" + dir) {
      val words = vocab(s, dir)
        .filter(col("w").rlike("^[a-z]+$") &&
          length(col("w")).between(1, UniMaxWordLen))
        .select(col("w"), col("n_w").as("n"))
        .persist()
      val out = unigramTrainWords(words)
      words.unpersist(blocking = false)
      out
    }(_.unpersist())

  /** The training core over any (w, n) word-frequency frame —
    * factored so UnigramLmSpec can drive it on a hand-computable
    * fixture. Returns the persisted final (tok, cnt) vocabulary. */
  private[llm] def unigramTrainWords(words: DataFrame): DataFrame = {
      val seeds = words.select(col("n"), explode(expr(
          s"""flatten(transform(sequence(0, length(w) - 1), j ->
             |  transform(sequence(1, least($UniMaxTok, length(w) - j)), l ->
             |    substring(w, j + 1, l))))""".stripMargin)).as("tok"))
        .groupBy("tok").agg(sum("n").as("cnt"))
        .persist()
      val chars = seeds.filter(length(col("tok")) === 1).select("tok")
      // global window: the seed frame is vocab-bounded (≤ L·K rows per
      // distinct word), the repo's value-bounded-frame discipline
      var counts = seeds
        .filter(col("cnt") >= UniMinCount || length(col("tok")) === 1)
        .withColumn("r",
          row_number().over(Window.orderBy(col("cnt").desc, col("tok"))))
        .filter(col("r") <= UniMaxVocab || length(col("tok")) === 1)
        .select("tok", "cnt")
      for (_ <- 1 to UniEmSteps) {
        val costs = uniCosts(counts.collect()) // bounded: ≤ UniMaxVocab + |chars|
        val rc = words.select(col("n"),
            explode(graft.plans.UnigramViterbi.segment(col("w"), costs, UniMaxTok))
              .as("tok"))
          .groupBy("tok").agg(sum("n").as("cnt"))
        counts = rc.join(chars, Seq("tok"), "full")
          .select(col("tok"),
            when(length(col("tok")) === 1,
              greatest(coalesce(col("cnt"), lit(0L)), lit(1L)))
              .otherwise(col("cnt")).as("cnt"))
      }
      val out = counts.persist()
      out.count()
      seeds.unpersist(blocking = false)
      out
  }

  /** q228's oracle: the same training UNROLLED as generated SQL — the
    * q218 device, extended to the Viterbi DP by unrolling POSITIONS
    * too (word length ≤ [[UniMaxWordLen]], so the DP is a fixed chain
    * of list-append CTEs; no recursive CTE, whose working-table
    * semantics can't see all previous dp entries). Per EM step: cost
    * table → per-word candidate list (j, end, cost) → 16 dp/backpointer
    * extensions (list_min over the filtered candidate list, equal-cost
    * ties to the smallest j — the kernel's exact tie-break) → 16
    * backtrack steps → recount with the char floor. */
  private[llm] def unigramOracleSql(g: Int): String =
    unigramOracleBase(g) + s""",
      |tot AS (SELECT sum(cnt)::BIGINT AS tot FROM c$g)
      |SELECT rank, tok, n_occ, prob_micro FROM (
      |  SELECT row_number() OVER (ORDER BY cnt DESC, tok)::BIGINT AS rank, tok,
      |         cnt AS n_occ, (1000000 * cnt) // tot AS prob_micro
      |  FROM c$g, tot) t
      |WHERE rank <= $UniTopK ORDER BY rank""".stripMargin

  /** q229's oracle: the unrolled training plus ONE MORE unrolled
    * Viterbi pass (the APPLY decode under the final counts — step
    * g+1's cost/cand/dp/backtrack blocks, recount replaced by the
    * per-word token count), then q219's census tail over per-source
    * word counts under THIS family's vocabulary window. */
  private[llm] def unigramFertilityOracleSql(g: Int): String = {
    val a = g + 1 // the apply pass reuses the step-block generator
    unigramOracleBase(g, dpSteps = a) + s""",
      |nt AS (SELECT w, len(toks)::BIGINT AS nt FROM b${a}_$UniMaxWordLen),
      |psw AS (SELECT source, w, count(*)::BIGINT AS c FROM (
      |    SELECT source, unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS w
      |    FROM documents) t
      |  WHERE regexp_matches(w, '^[a-z]+$$') AND length(w) BETWEEN 1 AND $UniMaxWordLen
      |  GROUP BY 1, 2)
      |SELECT source, sum(c)::BIGINT AS n_words,
      |       sum(c * nt)::BIGINT AS n_tokens,
      |       sum(c * length(w))::BIGINT AS n_chars,
      |       ((1000 * sum(c * nt)) // NULLIF(sum(c), 0))::BIGINT AS tpw_milli,
      |       ((1000 * sum(c * nt)) // NULLIF(sum(c * length(w)), 0))::BIGINT AS tpc_milli
      |FROM psw JOIN nt USING (w)
      |GROUP BY source ORDER BY source""".stripMargin
  }

  /** Integer micro-nat costs from a collected (tok, cnt) vocabulary —
    * THE cost definition both the trainer loop and the q229 apply
    * decode share (and the oracle replicates as
    * round(1000000 * ln(tot/cnt))). */
  private[llm] def uniCosts(vrows: Array[org.apache.spark.sql.Row]): Map[String, Long] = {
    val total = vrows.map(_.getLong(1)).sum
    vrows.map(r => r.getString(0) ->
      math.round(1e6 * math.log(total.toDouble / r.getLong(1)))).toMap
  }

  /** q219/q229's shared census tail: per-source word counts over the
    * [minLen, maxLen] vocabulary window joined against a per-word
    * token-count frame `nt(w, nt)` → the fertility/compression census
    * (n_words ≤ n_tokens ≤ n_chars by the tokenizers' construction). */
  private def fertilityCensus(s: SparkSession, dir: String,
      minLen: Int, maxLen: Int, nt: DataFrame): DataFrame = {
    val psw = docs(s, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")).between(minLen, maxLen))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    psw.join(nt, "w")
      .groupBy("source")
      .agg(sum("c").as("n_words"),
        sum(col("c") * col("nt")).as("n_tokens"),
        sum(col("c") * length(col("w"))).as("n_chars"))
      .select(col("source"), col("n_words"), col("n_tokens"), col("n_chars"),
        expr("(1000 * n_tokens) div nullif(n_words, 0)").as("tpw_milli"),
        expr("(1000 * n_tokens) div nullif(n_chars, 0)").as("tpc_milli"))
      .orderBy("source")
  }

  /** Shared unrolled-SQL body for q228/q229: seed vocabulary + `g`
    * hard-EM recount rounds; with `dpSteps > g`, extra Viterbi passes
    * (cost/cand/dp/backtrack, no recount) are emitted after the last
    * recount — the apply decode. */
  private def unigramOracleBase(g: Int, dpSteps: Int = 0): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH wf AS (SELECT w, count(*)::BIGINT AS n FROM (
      |  SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS w
      |  FROM documents) t
      |WHERE regexp_matches(w, '^[a-z]+$$') AND length(w) BETWEEN 1 AND $UniMaxWordLen GROUP BY 1),
      |seeds AS (SELECT tok, sum(n)::BIGINT AS cnt FROM (
      |  SELECT n, unnest(flatten(list_transform(generate_series(0, length(w) - 1), j ->
      |    list_transform(generate_series(1, least($UniMaxTok, length(w) - j)), l ->
      |      substring(w, j + 1, l))))) AS tok
      |  FROM wf) t GROUP BY 1),
      |chars AS (SELECT tok FROM seeds WHERE length(tok) = 1),
      |c0 AS (SELECT tok, cnt FROM (
      |    SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS r
      |    FROM seeds WHERE cnt >= $UniMinCount OR length(tok) = 1) t
      |  WHERE r <= $UniMaxVocab OR length(tok) = 1)""".stripMargin
    for (s <- 1 to math.max(g, dpSteps)) {
      val p = math.min(s - 1, g) // apply passes read the final counts
      sb ++= s""",
        |tot$s AS (SELECT sum(cnt)::BIGINT AS tot FROM c$p),
        |cost$s AS (SELECT tok, CAST(round(1000000 * ln(tot::DOUBLE / cnt)) AS BIGINT) AS c
        |           FROM c$p, tot$s),
        |cand$s AS (SELECT t.w, t.x.j AS j, t.x.j + t.x.l AS i, k.c AS c FROM (
        |    SELECT w, unnest(flatten(list_transform(generate_series(0, length(w) - 1), j ->
        |      list_transform(generate_series(1, least($UniMaxTok, length(w) - j)), l ->
        |        struct_pack(j := j, l := l))))) AS x
        |    FROM wf) t
        |  JOIN cost$s k ON substring(t.w, t.x.j + 1, t.x.l) = k.tok),
        |cl$s AS (SELECT w, list(struct_pack(j := j, i := i, c := c) ORDER BY i, j) AS cl
        |         FROM cand$s GROUP BY w),
        |v${s}_0 AS (SELECT wf.w, wf.n, length(wf.w) AS len, cl, [0::BIGINT] AS dp, [0]::INT[] AS bp
        |          FROM wf JOIN cl$s USING (w))""".stripMargin
      for (pos <- 1 to UniMaxWordLen) {
        sb ++= s""",
          |m${s}_$pos AS (SELECT *, list_min(list_transform(list_filter(cl, x -> x.i = $pos),
          |             x -> dp[x.j + 1] + x.c)) AS m FROM v${s}_${pos - 1}),
          |v${s}_$pos AS (SELECT w, n, len, cl, list_append(dp, m) AS dp,
          |    list_append(bp, CASE WHEN m IS NULL THEN 0 ELSE
          |      list_min(list_transform(list_filter(cl, x -> x.i = $pos AND dp[x.j + 1] + x.c = m),
          |        x -> x.j)) END) AS bp
          |  FROM m${s}_$pos)""".stripMargin
      }
      sb ++= s""",
        |b${s}_0 AS (SELECT w, n, len AS pos, bp, CAST([] AS VARCHAR[]) AS toks FROM v${s}_$UniMaxWordLen)""".stripMargin
      for (k <- 1 to UniMaxWordLen) {
        sb ++= s""",
          |b${s}_$k AS (SELECT w, n,
          |    CASE WHEN pos > 0 THEN bp[pos + 1] ELSE pos END AS pos, bp,
          |    CASE WHEN pos > 0 THEN list_append(toks, substring(w, bp[pos + 1] + 1, pos - bp[pos + 1]))
          |         ELSE toks END AS toks
          |  FROM b${s}_${k - 1})""".stripMargin
      }
      if (s <= g) sb ++= s""",
        |rc$s AS (SELECT tok, sum(n)::BIGINT AS cnt FROM (
        |    SELECT n, unnest(toks) AS tok FROM b${s}_$UniMaxWordLen) t GROUP BY 1),
        |c$s AS (SELECT coalesce(r.tok, ch.tok) AS tok,
        |          CASE WHEN length(coalesce(r.tok, ch.tok)) = 1
        |               THEN greatest(coalesce(r.cnt, 0), 1) ELSE r.cnt END AS cnt
        |        FROM rc$s r FULL JOIN chars ch ON r.tok = ch.tok)""".stripMargin
    }
    sb.toString
  }

  /** q219's oracle: the same unrolled training, then the trained
    * state's per-word token counts joined against per-source word
    * counts — the fertility census. */
  private[llm] def bpeFertilityOracleSql(g: Int): String =
    bpeOracleBase(g) + s""",
      |nt AS (SELECT w, len(string_split(trim(tok, '·'), '··'))::BIGINT AS nt FROM w$g),
      |psw AS (SELECT source, w, count(*)::BIGINT AS c FROM (
      |    SELECT source, unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS w
      |    FROM documents) t
      |  WHERE regexp_matches(w, '^[a-z]+$$') AND length(w) BETWEEN 2 AND 32
      |  GROUP BY 1, 2)
      |SELECT source, sum(c)::BIGINT AS n_words,
      |       sum(c * nt)::BIGINT AS n_tokens,
      |       sum(c * length(w))::BIGINT AS n_chars,
      |       ((1000 * sum(c * nt)) // NULLIF(sum(c), 0))::BIGINT AS tpw_milli,
      |       ((1000 * sum(c * nt)) // NULLIF(sum(c * length(w)), 0))::BIGINT AS tpc_milli
      |FROM psw JOIN nt USING (w)
      |GROUP BY source ORDER BY source""".stripMargin

  /** The overflow-safe q112 split hash: reducing doc_id mod the prime
    * 1e9+7 BEFORE the Knuth multiply bounds the product at
    * (1e9+6)·2654435761 ≈ 2.66e18 < 2^63−1 for ANY doc_id — the raw
    * `doc_id * 2654435761` wraps at doc_id ≳ 3.47e9, i.e. exactly the
    * 100 TB doc-count regime, where Spark wraps silently (non-ANSI)
    * while DuckDB raises, breaking both the split AND the
    * engine-portability claim. Same residue class for doc_id < 1e9+7,
    * so small-scale assignments are unchanged. */
  private[llm] def splitHash(id: org.apache.spark.sql.Column) =
    ((id % lit(1000000007L)) * lit(2654435761L)) % 1000
  private[llm] val splitHashSql = "((doc_id % 1000000007) * 2654435761) % 1000"

  /** q195's per-optimizer-step token budget (a sequence-length-scale
    * constant, not a tuning knob: deployments set it to context_len ×
    * batch rows). */
  private[llm] val StepTokens = 2048L

  /** q117's (split, w, o) count frame — the ONE corpus pass behind the
    * drift screen, persisted because both the chi² frame and the
    * second-level split totals read it (vocab-bounded: ≤ 3·|vocab|
    * rows, Heaps' law — without the persist the totals aggregate
    * re-runs the corpus explode+shuffle). */
  private def splitCounts(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Mining, s, "splitCounts|" + dir) {
      docs(s, dir)
        .select(splitHash(col("doc_id")).as("h"),
          explode(tokens(col("text"))).as("w"))
        .withColumn("split",
          when(col("h") < 800, "train").when(col("h") < 900, "val")
            .otherwise("test"))
        .groupBy("split", "w").agg(count(lit(1)).as("o"))
        .persist()
    }(_.unpersist())

  /** The q146 gram device: md5 of the space-joined word trigram at
    * 0-based offset `i` of token array `ws`, truncated to 32 bits —
    * THE cross-engine gram identity (DuckDB twin: `('0x' ||
    * substr(md5(ws[i+1]||' '||ws[i+2]||' '||ws[i+3]), 1, 8))::BIGINT`).
    * Factored once (r15 review): four sites previously carried
    * copies, and the r14 empty-token fix already had to be replicated
    * per copy — any future change to the device edits exactly here. */
  private[llm] def triHashAt(ws: String, i: String): String =
    s"""cast(conv(substring(md5(cast(concat_ws(' ',
       |         element_at($ws, $i + 1), element_at($ws, $i + 2),
       |         element_at($ws, $i + 3)) as binary)), 1, 8), 16, 10) as bigint)""".stripMargin

  /** All word-trigram hashes of `ws`, as an array expression. */
  private[llm] def triHashes(ws: String): String =
    s"transform(sequence(0, size($ws) - 3), i -> ${triHashAt(ws, "i")})"

  /** q156's per-trigram source-set frame: one corpus pass → groupBy(h)
    * with a map-side-partial collect_set bounded at |sources| elements
    * per group. Persisted because BOTH q156 consumers (per-source
    * distinct-gram totals and the pair matrix) read it — without the
    * persist each consumer re-runs the corpus explode+shuffle, turning
    * one 100 TB pass into two. |rows| = distinct trigrams (corpus
    * vocabulary of grams), each row ≤ |sources| strings. */
  private def sourceGrams(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Mining, s, "sourceGram|" + dir) {
      docs(s, dir)
        .select(col("source"), expr("filter(split(text, ' '), x -> x != '')").as("ws"))
        .filter(size(col("ws")) >= 3)
        .select(col("source"), explode(expr(triHashes("ws"))).as("h"))
        .groupBy("h").agg(sort_array(collect_set(col("source"))).as("ss"))
        .persist()
    }(_.unpersist())

  /** q158's (split, token-count, docs) frame — the ONE corpus pass
    * behind the KS screen, persisted because both the per-split
    * totals and the pair-fanned ECDF read it (≤ 3·|distinct doc
    * lengths| rows — value-bounded, not corpus-bounded). */
  private def splitLenCounts(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Mining, s, "splitLen|" + dir) {
      docs(s, dir)
        .select(splitHash(col("doc_id")).as("hh"),
          size(expr("filter(split(text, ' '), x -> x != '')")).cast("long").as("v"))
        .select(when(col("hh") < 800, "train").when(col("hh") < 900, "val")
          .otherwise("test").as("split"), col("v"))
        .groupBy("split", "v").agg(count(lit(1)).as("c"))
        // one cached partition — ≤ 3·|distinct lengths| rows at any
        // scale (see sourceLenCounts above for the width rationale)
        .coalesce(1)
        .persist()
    }(_.unpersist())

  /** q159's (source, token, count) frame — one corpus pass, persisted
    * because the per-source totals and the lift scoring both read it
    * (≤ |sources|·|vocab| rows, Heaps-bounded). */
  private def sourceTermCounts(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Mining, s, "sourceTerm|" + dir) {
      docs(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
        .persist()
    }(_.unpersist())

  /** Unpersists the vocab + split-count + source-gram + split-length +
    * source-term frames for `s` (fires after the family's last
    * consumer). */
  /** q165's (source, token-count, docs) frame — ONE corpus pass
    * behind the W1 matrix, persisted because the per-source totals and
    * the pair-fanned ECDF both read it (≤ |sources|·|distinct doc
    * lengths| rows — value-bounded, not corpus-bounded; the q158
    * device keyed on source instead of split). */
  private def sourceLenCounts(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Mining, s, "sourceLen|" + dir) {
      docs(s, dir)
        .select(col("source"),
          size(expr("filter(split(text, ' '), x -> x != '')")).cast("long").as("v"))
        .groupBy("source", "v").agg(count(lit(1)).as("c"))
        // ONE cached partition (round 22): the frame is VALUE-bounded
        // (≤ |sources|·|distinct doc lengths| rows at ANY corpus size,
        // the same bound the persist rests on), yet it was cached at
        // the session's 32 shuffle partitions — so every consumer
        // stage (q165's pair fan, q184/q195's pre/srcs aggregates,
        // q197/q207's histograms) paid 32 near-empty tasks per pass
        // (StageProf: runtime >> cpu on every such stage). A bounded
        // frame's cache width should follow its bound, not the dial.
        .coalesce(1)
        .persist()
    }(_.unpersist())

  /** q184/q195's curriculum frame (doc_id, source, nt, p, global_rank):
    * the short-first round-robin order with the counting-sort per-
    * source position and the CLOSED-FORM global rank (see q184's
    * scaladoc for the two scale devices — no giant per-source sort,
    * no one-task global window). */
  private def curriculumRanked(s: SparkSession, dir: String): DataFrame = {
    val perDoc = docs(s, dir)
      .select(col("doc_id"), col("source"),
        size(expr("filter(split(text, ' '), x -> x != '')")).cast("long").as("nt"))
    val pre = sourceLenCounts(s, dir)
      .withColumn("pre", coalesce(sum("c").over(
        Window.partitionBy("source").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source"), col("v").as("nt"), col("pre"))
    val srcs = sourceLenCounts(s, dir)
      .groupBy("source").agg(sum("c").as("n"))
      .agg(sort_array(collect_list(struct(col("source").as("s"),
        col("n").as("n")))).as("sa"))
    perDoc
      .withColumn("tie", row_number().over(
        Window.partitionBy("source", "nt").orderBy("doc_id")).cast("long"))
      .join(broadcast(pre), Seq("source", "nt"))
      .withColumn("p", col("pre") + col("tie"))
      .crossJoin(broadcast(srcs))
      .withColumn("global_rank", expr(
        """1 + aggregate(sa, cast(0 as bigint), (acc, x) ->
          |  acc + least(x.n, p - 1)
          |      + IF(x.s < source AND x.n >= p, cast(1 as bigint),
          |           cast(0 as bigint)))""".stripMargin))
      .select(col("doc_id"), col("source"), col("nt"), col("p"),
        col("global_rank"))
  }

  /** Drop every memoized frame owned by `s` (see [[graft.Caches]]). */
  def release(s: SparkSession): Unit = Family.Mining.release(s)

  /** Force-build the corpus-mining family's memoized frames — the
    * bench's named untimed cache-build slot (round 17; see
    * [[graft.llm.LlmText.prebuild]] for the billing rationale). Six
    * independent persisted roots, each one corpus pass. */
  private[graft] def prebuild(s: SparkSession, dir: String): Unit = {
    vocab(s, dir).count()
    bpeTrain(s, dir)._2.count()
    byteBpeTrain(s, dir)._2.count()
    byteBpeTrainSplit(s, dir)._2.count()
    unigramTrain(s, dir).count()
    splitCounts(s, dir).count()
    sourceGrams(s, dir).count()
    splitLenCounts(s, dir).count()
    sourceTermCounts(s, dir).count()
    sourceLenCounts(s, dir).count()
    phrasePost(s, dir, Phrase).count()
    ()
  }

  /** q111's dirty external term list — the misspelled query/entity
    * strings a real matcher receives (each within edit distance 1 of a
    * corpus term, one exact, one unmatchable). */
  val Lexicon: Seq[String] =
    Seq("joinn", "cash", "scat", "groupe", "windov", "vektor", "merge", "qqqqq")

  /** q201's function-word inventory — the classic content-free
    * stylometry dimensions; literal on both engines (the Spark filter
    * and the oracle's IN list interpolate the SAME seq, so they cannot
    * drift apart). Declared BEFORE [[qs]]: the oracle string
    * interpolates it at object init. */
  val Stopwords: Seq[String] =
    Seq("a", "an", "and", "are", "as", "at", "be", "by", "for", "from",
      "in", "is", "it", "of", "on", "or", "that", "the", "this", "to",
      "was", "with")
  private def StopwordsSql: String = Stopwords.map(w => s"'$w'").mkString(", ")

  val qs: Seq[Q] = Seq(

    // ---- PMI collocations: the bigram-association mining that feeds
    // phrase vocabularies (word2phrase) and tokenizer merges. Score is
    // the PMI-MONOTONE integer lift: 1000·n_ab·N div (n_a·n_b) —
    // log-free, so ranking order equals PMI order and both engines
    // floor identically. The product 1000·n_ab·N outgrows int64 at
    // 100 TB (N ~ 1e10, n_ab up to N), so the numerator runs in
    // decimal(38,0) (DuckDB: HUGEINT) UNCONDITIONALLY — same floor on
    // in-range values (PmiLiftSpec pins decimal ≡ int64 on the
    // fixture), no wrap ever; the DENOMINATOR n_a·n_b takes the same
    // decimal/HUGEINT cast (two hot words at n_w ~ N push the raw
    // int64 product past 2^63 in the same regime — Spark would wrap
    // silently where DuckDB raises); the quotient is back under int64
    // because n_a,n_b ≥ n_ab. Min-support n_ab ≥ 5 prunes the hapax tail BEFORE the
    // unigram joins. Plan at 100 TB: adjacency pairs are built
    // map-only (zip of the token array against its own tail — no
    // posexplode self-join); bigram counts shuffle once with map-side
    // partial agg; the unigram table is the memoized [[vocab]] frame
    // — computed and shuffled ONCE, then read three times from cache
    // (scalar total + both broadcast builds), so the corpus is
    // scanned exactly twice for the whole query (bigrams + vocab);
    // post-support-filter vocab fits executors by Heaps' law (were it
    // not, both joins degrade to hash joins on the same key — no plan
    // cliff); top-50 is TakeOrderedAndProject, never a global sort.
    // PlanSpec pins no-cartesian + broadcast + top-k.
    Q("q110_pmi_bigrams",
      """WITH tl AS (SELECT doc_id, list_filter(string_split(lower(text),' '), x->x!='') AS t
        |            FROM documents),
        |big AS (SELECT u.p[1] AS w1, u.p[2] AS w2
        |        FROM tl, unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS u(p)
        |        WHERE len(t) >= 2),
        |bc AS (SELECT w1, w2, count(*)::BIGINT AS n_ab FROM big GROUP BY 1,2),
        |uni AS (SELECT w, count(*)::BIGINT AS n_w
        |        FROM (SELECT unnest(t) AS w FROM tl) GROUP BY 1),
        |n AS (SELECT sum(n_w)::BIGINT AS nt FROM uni)
        |SELECT bc.w1, bc.w2, bc.n_ab,
        |       ((1000::HUGEINT * bc.n_ab * (SELECT nt FROM n)) // (a.n_w::HUGEINT * b.n_w))::BIGINT AS lift_milli
        |FROM bc JOIN uni a ON a.w = bc.w1 JOIN uni b ON b.w = bc.w2
        |WHERE bc.n_ab >= 5
        |ORDER BY lift_milli DESC, w1, w2 LIMIT 50""".stripMargin, Family.Mining) { (s, dir) =>
      val tl = docs(s, dir).select(col("doc_id"), tokens(col("text")).as("t"))
      val uni = vocab(s, dir)
      val nt = uni.agg(sum(col("n_w"))).first().getLong(0) // 1-cell scalar
      val bc = tl.filter(size(col("t")) >= 2)
        .withColumn("a", slice(col("t"), lit(1), size(col("t")) - 1))
        .withColumn("b", slice(col("t"), lit(2), size(col("t")) - 1))
        .select(explode(arrays_zip(col("a"), col("b"))).as("p"))
        .select(col("p.a").as("w1"), col("p.b").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 5)
      bc.join(broadcast(uni.select(col("w").as("w1"), col("n_w").as("n_w1"))), "w1")
        .join(broadcast(uni.select(col("w").as("w2"), col("n_w").as("n_w2"))), "w2")
        .select(col("w1"), col("w2"), col("n_ab"),
          expr(s"(cast(1000 as decimal(38,0)) * n_ab * ${nt}L) div (cast(n_w1 as decimal(38,0)) * n_w2)")
            .cast("long").as("lift_milli"))
        .orderBy(col("lift_milli").desc, col("w1"), col("w2"))
        .limit(50)
    },

    // ---- Blocked fuzzy join (entity resolution): match a dirty
    // external term list against the corpus vocabulary at edit
    // distance ≤ 1. Blocking is the standard length-band trick: a
    // distance-1 pair differs in length by at most 1, so expanding
    // each lexicon term to block keys {len−1, len, len+1} and
    // EQUI-joining on token length has perfect recall while the
    // Levenshtein kernel runs on candidate pairs only — never the
    // |vocab|×|lexicon| cross product a naive fuzzy join plans (the
    // non-equi |len_a−len_b|≤1 form becomes BroadcastNestedLoopJoin;
    // the oracle states it that way because DuckDB evaluates it once,
    // but the Spark plan must not). Plan at 100 TB: the vocabulary is
    // the memoized [[vocab]] frame (shared with q110 — its one
    // shuffle already paid); the ×3-expanded lexicon broadcasts; the
    // match is a BroadcastHashJoin on the block key + residual
    // levenshtein filter. PlanSpec pins broadcast-hash +
    // no-BNLJ/cartesian.
    Q("q111_fuzzy_vocab_join",
      s"""WITH vocab AS (SELECT w, count(*)::BIGINT AS n_occ
         |    FROM (SELECT unnest(list_filter(string_split(lower(text),' '), x->x!='')) AS w
         |          FROM documents) GROUP BY 1),
         |lex(term) AS (VALUES ${Lexicon.map(t => s"('${t.replace("'", "''")}')").mkString(",")})
         |SELECT l.term, v.w, levenshtein(l.term, v.w)::BIGINT AS dist, v.n_occ
         |FROM lex l JOIN vocab v ON abs(len(l.term) - len(v.w)) <= 1
         |WHERE levenshtein(l.term, v.w) <= 1
         |ORDER BY term, w""".stripMargin, Family.Mining) { (s, dir) =>
      import s.implicits._
      val vb = vocab(s, dir)
        .select(col("w"), col("n_w").as("n_occ"))
        .withColumn("blk", length(col("w")))
      val lex = Lexicon.toDF("term")
        .select(col("term"), explode(array(
          length(col("term")) - 1, length(col("term")),
          length(col("term")) + 1)).as("blk"))
      vb.join(broadcast(lex), "blk")
        .withColumn("dist", levenshtein(col("term"), col("w")).cast("long"))
        .filter(col("dist") <= 1)
        .select("term", "w", "dist", "n_occ")
        .orderBy("term", "w")
    },

    // ---- Deterministic train/val/test assignment: the id-stable hash
    // split every training pipeline needs — rerun-stable, join-free,
    // coordination-free (no global sort or row_number to race), and
    // engine-portable because the "hash" is pure bigint arithmetic
    // (the overflow-safe [[splitHash]]: mod-prime reduce, then the
    // Knuth multiplicative step mod 1000 — identical in any engine
    // with int64, never wrapping; unlike xxhash64/hash() which differ
    // per engine, and unlike the raw multiply which overflows at
    // doc_id ≳ 3.47e9 — the 100 TB regime).
    // 80/10/10 by threshold on the residue. Plan: map-only assignment
    // + one 3-group aggregate; at 100 TB the assignment column costs
    // zero shuffles and the verification aggregate is the only
    // exchange. PlanSpec pins the no-join shape.
    Q("q112_split_assign",
      s"""WITH a AS (SELECT doc_id, $splitHashSql AS h,
        |    len(list_filter(string_split(lower(text),' '), x->x!='')) AS ntok
        |    FROM documents)
        |SELECT CASE WHEN h < 800 THEN 'train' WHEN h < 900 THEN 'val' ELSE 'test' END AS split,
        |       count(*)::BIGINT AS n_docs, sum(ntok)::BIGINT AS n_tokens,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("ntok"),
          splitHash(col("doc_id")).as("h"))
        .withColumn("split",
          when(col("h") < 800, "train").when(col("h") < 900, "val")
            .otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy("split")
    },

    // ---- Source concentration (Pareto curve of token mass): "what
    // share of the corpus do the top sources contribute" — the
    // concentration diagnostic behind mixture/curation decisions (q75,
    // q87 act on it). Cumulative share is integer milli over a
    // DESC-ordered running sum, floor-identical in both engines. Plan
    // at 100 TB: ONE corpus pass into a source-keyed aggregate (the
    // only corpus-scale exchange, map-side partials); the ordered
    // cumulative window AND the grand total both run as windows over
    // the AGGREGATED frame — bounded by distinct sources, so the
    // single-partition sort is |sources| rows, never corpus rows (for
    // domain-grained corpora with many millions of sources, the same
    // keyed prefix-sum machinery as q70 applies — the frame here is
    // 20 rows). A driver-scalar total would RE-EVALUATE the unpersisted
    // aggregate — a second corpus pass; the window form keeps the pass
    // single (the q114/q117 lesson). PlanSpec pins exactly-one
    // corpus-side hash exchange.
    Q("q116_source_concentration",
      """WITH st AS (
        |  SELECT source, sum(len(list_filter(string_split(lower(text),' '), x->x!='')))::BIGINT AS toks
        |  FROM documents GROUP BY 1)
        |SELECT source, toks,
        |  ((1000 * sum(toks) OVER (ORDER BY toks DESC, source)) // (sum(toks) OVER ()))::BIGINT AS cum_share_milli
        |FROM st ORDER BY toks DESC, source""".stripMargin) { (s, dir) =>
      val w = Window.orderBy(col("toks").desc, col("source"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(s, dir)
        .select(col("source"), size(tokens(col("text"))).cast("long").as("ntok"))
        .groupBy("source").agg(sum(col("ntok")).as("toks"))
        .select(col("source"), col("toks"),
          sum(col("toks")).over(w).as("cum"),
          sum(col("toks")).over(Window.partitionBy()).as("tot"))
        .select(col("source"), col("toks"),
          expr("(1000 * cum) div tot").as("cum_share_milli"))
        .orderBy(col("toks").desc, col("source"))
    },

    // ---- Split drift screen (chi-square contributions of per-split
    // token counts vs the independence expectation): the QA pass over
    // q112's assignment — a deterministic hash split should show NO
    // systematic vocabulary drift, and the top chi² contributors are
    // exactly where a reviewer looks first. All counts are exact
    // bigints; expectation and chi² derive through the SAME IEEE tree
    // on both engines (products ≤ ns·nw ≈ 2^40 are exactly double-
    // representable, q93's discipline). Totals placement is
    // CARDINALITY-DRIVEN, the q123 two-pass discipline: the per-word
    // total nw is a window PARTITIONED BY w over the persisted
    // [[splitCounts]] frame — |vocab| keys, fully parallel — but the
    // per-split totals (|splits| = 3 rows) and the grand total (1
    // cell) must NOT be windows over that frame: `sum(o) over
    // (partition by split)` would shuffle the whole 3·|vocab|-row
    // frame (billions of rows at 100 TB) onto THREE partitions, and
    // `sum(o) over ()` onto one — single-task stages over
    // corpus-derived cardinality. They are second-level AGGREGATES of
    // the count frame instead: ns broadcast-joins back (3 rows), nt is
    // a one-cell scalar off the PERSISTED frame (safe — the q116
    // lesson only forbids scalars over UNPERSISTED lineage). Plan at
    // 100 TB: one corpus pass into the persisted (split, word)
    // aggregate — the only corpus-scale exchange — then the w-window,
    // one broadcast join, top-40 TakeOrderedAndProject. PlanSpec pins:
    // no split-partitioned or unpartitioned window, one corpus-side
    // exchange, cache reads on both consumers.
    Q("q117_split_drift",
      s"""WITH tl AS (SELECT $splitHashSql AS h,
        |                   unnest(list_filter(string_split(lower(text),' '), x->x!='')) AS w
        |            FROM documents),
        |c AS (SELECT CASE WHEN h < 800 THEN 'train' WHEN h < 900 THEN 'val' ELSE 'test' END AS split,
        |             w, count(*)::BIGINT AS o
        |      FROM tl GROUP BY 1, 2),
        |x AS (SELECT split, w, o,
        |             (sum(o) OVER (PARTITION BY w))::BIGINT AS nw,
        |             (sum(o) OVER (PARTITION BY split))::BIGINT AS ns,
        |             (sum(o) OVER ())::BIGINT AS nt
        |      FROM c)
        |SELECT split, w, o,
        |       (o - (ns * nw)::DOUBLE / nt) * (o - (ns * nw)::DOUBLE / nt) / ((ns * nw)::DOUBLE / nt) AS chi2
        |FROM x ORDER BY chi2 DESC, split, w LIMIT 40""".stripMargin, Family.Mining) { (s, dir) =>
      val c = splitCounts(s, dir)
      val st = c.groupBy("split").agg(sum(col("o")).as("ns")) // 3 rows
      val nt = c.agg(sum(col("o"))).first().getLong(0)        // 1 cell, persisted lineage
      val e = (col("ns") * col("nw")).cast("double") / lit(nt)
      c.withColumn("nw", sum(col("o")).over(Window.partitionBy("w")))
        .join(broadcast(st), "split")
        .select(col("split"), col("w"), col("o"),
          ((col("o") - e) * (col("o") - e) / e).as("chi2"))
        .orderBy(col("chi2").desc, col("split"), col("w"))
        .limit(40)
    },

    // ---- Quality-threshold policy sweep ("what survives if we cut at
    // quality ≥ t?"): the curation what-if that precedes every filter
    // decision — doc and token retention at every threshold of q46's
    // integer Gopher-style score, in ONE corpus pass. The per-row
    // score comes from the same compiled qualityStats kernel as q46;
    // thresholds replicate map-side via explode over a 4-element
    // literal array (bounded amplification, no join — the oracle
    // states the ≥-join form because DuckDB evaluates it once over
    // the tiny VALUES table, but the Spark plan must not re-scan per
    // threshold). Plan at 100 TB: scan → kernel → ×4 explode →
    // one partial-agg exchange on the 4 threshold groups. PlanSpec
    // pins no-join + one exchange.
    Q("q119_quality_sweep",
      """WITH tl AS (SELECT doc_id,
        |              list_filter(string_split(lower(text), ' '), x -> x != '') AS t
        |            FROM documents),
        |m AS (SELECT doc_id, len(t) AS n_tokens,
        |        len(list_distinct(t)) AS n_distinct,
        |        list_max(list_transform(t, w -> length(w))) AS max_tok_len
        |      FROM tl),
        |q AS (SELECT n_tokens,
        |        (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1 ELSE 0 END
        |         + CASE WHEN 10 * n_distinct >= 3 * n_tokens THEN 1 ELSE 0 END
        |         + CASE WHEN max_tok_len <= 15 THEN 1 ELSE 0 END) AS quality
        |      FROM m),
        |t(thr) AS (VALUES (0), (1), (2), (3))
        |SELECT t.thr, count(*)::BIGINT AS n_docs_kept,
        |       sum(q.n_tokens)::BIGINT AS n_tokens_kept
        |FROM q JOIN t ON q.quality >= t.thr
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val st = graft.plans.TextKernels.qualityStats(lower(col("text")))
      val Seq(nTok, nDis, maxLen) = (1 to 3).map(i => element_at(col("st"), i))
      docs(s, dir)
        .select(col("doc_id"), st.as("st"))
        .select(nTok.cast("long").as("n_tokens"),
          (when(nTok.between(20, 1000), 1).otherwise(0)
            + when(nDis * 10 >= nTok * 3, 1).otherwise(0)
            + when(maxLen <= 15, 1).otherwise(0)).as("quality"))
        .select(col("n_tokens"), col("quality"),
          explode(array((0 to 3).map(lit): _*)).as("thr"))
        .filter(col("quality") >= col("thr"))
        .groupBy("thr")
        .agg(count(lit(1)).as("n_docs_kept"), sum(col("n_tokens")).as("n_tokens_kept"))
        .orderBy("thr")
    },

    // ---- Winnowing local fingerprints + overlap pairs (round 14 —
    // Schleimer/Wilkerson/Aiken's MOSS selection, cited by name): the
    // POSITION-AWARE member of the similarity family. q48 fingerprints
    // whole documents (any edit flips it); the Jaccard/containment
    // family (q39/q41/q124/q132) compares set-of-shingles global
    // profiles. Winnowing selects, per sliding window of W=4
    // consecutive word-trigram hashes, the minimum hash (rightmost on
    // ties) — a LOCAL fingerprint set with the guarantee that any
    // shared run of ≥ K+W−1 = 6 tokens between two documents yields at
    // least one shared fingerprint (the windows covering the run pick
    // the same minimum) — the plagiarism/partial-overlap detector, at
    // density 2/(W+1) of the grams.
    //
    // Arithmetic is engine-portable by construction: trigram hash =
    // first 8 hex chars of md5 (identical bytes both engines), and the
    // min-hash-then-RIGHTMOST-position tie-break is packed into ONE
    // integer key = h·2²⁰ + (2²⁰−1−pos), so a plain MIN implements the
    // full selection rule (pos < 2²⁰ pinned by the corpus scan; key <
    // 2⁵²). Plan at 100 TB: selection is per-row HOF arithmetic INSIDE
    // the scan stage — transform/slice/array_min over the gram array,
    // no window exchange, no gram explosion (rows leaving the scan =
    // selected fingerprints, ~2/(W+1)·grams); pairs then follow the
    // posting-list discipline: one h-keyed exchange, per-hash doc list
    // capped at df ≤ 64 (the q124/q132 hot-bucket rule — a stop-phrase
    // fingerprint shared by 10⁶ docs must not enumerate C(10⁶,2)
    // pairs; fixtures max out at df=24 so the cap is inert here and
    // adversarially exercised in WinnowingSpec), map-side pair
    // expansion, one (a,b)-keyed count, top-20 heap. The O(n·W) slice
    // scan per doc is fine at W=4; a monotonic-deque kernel is the
    // O(n) path if W ever grows large.
    Q("q146_winnowing_overlap",
      """WITH w AS (SELECT doc_id,
        |             list_filter(string_split(text, ' '), x -> x != '') AS ws
        |           FROM documents),
        |g AS (SELECT doc_id, i,
        |        ('0x' || substr(md5(ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]), 1, 8))::BIGINT AS h
        |      FROM w, unnest(generate_series(0, len(ws) - 3)) AS t(i)
        |      WHERE len(ws) >= 6),
        |k AS (SELECT doc_id, i, h * 1048576 + (1048575 - i) AS key FROM g),
        |win AS (SELECT doc_id,
        |          min(key) OVER (PARTITION BY doc_id ORDER BY i
        |                         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wkey,
        |          count(*) OVER (PARTITION BY doc_id ORDER BY i
        |                         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
        |        FROM k),
        |fp AS (SELECT DISTINCT doc_id, wkey // 1048576 AS h FROM win WHERE wn = 4),
        |df AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= 64),
        |fpk AS (SELECT fp.doc_id, fp.h FROM fp JOIN df USING (h))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS shared
        |FROM fpk a JOIN fpk b ON a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |ORDER BY shared DESC, doc_a, doc_b LIMIT 20""".stripMargin) { (s, dir) =>
      winnowPairs(docs(s, dir), w = 4)
        .orderBy(col("shared").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    },

    // ---- Per-source novelty yield (round 14 — the "what does each
    // source actually ADD" curation signal): attribute every word-
    // trigram occurrence to the corpus-order FIRST document containing
    // that trigram (doc_id = arrival order), then roll up per source
    // the fraction of its gram mass that is first-occurrence. This is
    // the deduped-token-yield number behind source-mix decisions — a
    // mirror/aggregator crawl can be byte-large (q116's token mass)
    // yet contribute ~nothing new; novelty_milli is the integer-exact
    // ratio that says so. Complements the pair detectors (q38–q146
    // find WHICH docs overlap; this prices each source's marginal
    // contribution in one number).
    //
    // Trigram identity is the q146 md5 hash (portable by construction);
    // the ratio is integer-milli div so both engines floor identically.
    // Plan at 100 TB: one corpus scan → map-side HOF gram explode →
    // first-doc = one h-keyed partial agg; occurrences join the first-
    // doc table on the SAME h partitioning (Spark reuses the identical
    // gram-frame exchange on both subtrees) → |sources|-bounded final
    // agg. No windows over corpus rows, no driver state; the gram
    // frame is corpus-sized but only ever exchanged on its natural
    // key. A Bloom-of-seen-grams approximation is the cheaper
    // streaming path; this operator is the exact batch form.
    Q("q147_novelty_yield",
      """WITH w AS (SELECT doc_id, source,
        |             list_filter(string_split(text, ' '), x -> x != '') AS ws
        |           FROM documents),
        |g AS (SELECT doc_id, source,
        |        ('0x' || substr(md5(ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]), 1, 8))::BIGINT AS h
        |      FROM w, unnest(generate_series(0, len(ws) - 3)) AS t(i)
        |      WHERE len(ws) >= 3),
        |f AS (SELECT h, min(doc_id) AS fd FROM g GROUP BY 1)
        |SELECT source, count(*)::BIGINT AS n_grams,
        |       count(*) FILTER (WHERE doc_id = fd)::BIGINT AS n_novel,
        |       (1000 * count(*) FILTER (WHERE doc_id = fd) // count(*))::BIGINT AS novelty_milli
        |FROM g JOIN f USING (h)
        |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val g = docs(s, dir)
        .select(col("doc_id"), col("source"),
          expr("filter(split(text, ' '), x -> x != '')").as("ws"))
        .filter(size(col("ws")) >= 3)
        // widen before the md5 gram explode (q146's single-row-group
        // scan rationale; the exchange carries (doc_id, source, ws))
        .repartition(s.sessionState.conf.numShufflePartitions)
        .select(col("doc_id"), col("source"),
          explode(expr(triHashes("ws"))).as("h"))
      val first = g.groupBy("h").agg(min(col("doc_id")).as("fd"))
      g.join(first, "h")
        .groupBy("source")
        .agg(count(lit(1)).as("n_grams"),
          count(when(col("doc_id") === col("fd"), 1)).as("n_novel"))
        .withColumn("novelty_milli", expr("1000 * n_novel div n_grams"))
        .orderBy("source")
    },

    // ---- Group-aware train/val/test split (round 14 — the GroupKFold
    // defense q112 deliberately lacks: q112 assigns per DOCUMENT, so
    // near-duplicate docs from one crawl source can land on opposite
    // sides of the split — exactly the leakage class q100 audits.
    // Assigning at the SOURCE level makes within-source leakage
    // impossible BY CONSTRUCTION (all of a source's docs share a
    // split), which is the standard defense when duplication is
    // source-correlated — mirrors, re-crawls, boilerplate farms. The
    // split hash is the q146 md5 device over the source NAME (q112's
    // integer Knuth hash needs an integer key; a string key gets the
    // same engine-portable treatment the trigram hashes use), same
    // 80/10/10 thresholds. Output: per-split source/doc/token masses
    // — the rebalancing evidence (group splits trade exactness of the
    // 80/10/10 ratio for the leakage guarantee; the skew is visible,
    // not hidden). Plan at 100 TB: assignment is a map-side
    // projection (join-free, rerun-stable), one |splits|-bounded agg.
    Q("q151_grouped_split",
      """WITH a AS (SELECT source,
        |             ('0x' || substr(md5(source), 1, 8))::BIGINT % 1000 AS h,
        |             len(list_filter(string_split(text, ' '), x -> x != '')) AS toks
        |           FROM documents),
        |s AS (SELECT CASE WHEN h < 800 THEN 'train' WHEN h < 900 THEN 'val'
        |             ELSE 'test' END AS split, source, toks FROM a)
        |SELECT split, count(DISTINCT source)::BIGINT AS n_sources,
        |       count(*)::BIGINT AS n_docs, sum(toks)::BIGINT AS n_tokens
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .select(col("source"),
          (expr("cast(conv(substring(md5(cast(source as binary)), 1, 8), 16, 10) as bigint)")
            % 1000).as("h"),
          size(expr("filter(split(text, ' '), x -> x != '')")).as("toks"))
        .select(when(col("h") < 800, "train").when(col("h") < 900, "val")
          .otherwise("test").as("split"), col("source"), col("toks"))
        .groupBy("split")
        .agg(countDistinct("source").as("n_sources"), count(lit(1)).as("n_docs"),
          sum("toks").as("n_tokens"))
        .orderBy("split")
    },

    // ---- Exact overlap verification of fingerprint candidates
    // (round 15 — the MOSS verify stage q146 feeds): winnowing
    // fingerprints GUARANTEE detection of any ≥6-token shared run but
    // report only shared-fingerprint COUNTS; the curation decision
    // (quote vs boilerplate vs wholesale copy) needs the exact extent.
    // For the top-20 candidate pairs, compute the EXACT longest shared
    // token run RELATIONALLY: join the two docs' raw trigram streams
    // on hash, group matches by diagonal (ia − ib — a shared run
    // advances both positions in lockstep), find the longest
    // consecutive-ia island per diagonal (gaps-and-islands: ia −
    // row_number is constant exactly on a consecutive run), and a
    // longest island of L matching trigrams is L+2 shared tokens. No
    // quadratic LCS DP, no per-pair driver work — every stage is a
    // bounded join or a tiny window. Plan at 100 TB: the candidate
    // frame is ≤ top-k ROWS BY CONTRACT, so it is collected (bounded
    // driver traffic, the q110-scalar/q73-centroid precedent) and its
    // ≤ 2k doc ids re-enter the plan as an In() literal — the verify
    // stage's corpus scan PRUNES AT THE PARQUET READER (PushedFilters,
    // PlanSpec-pinned), so only candidate documents are ever read,
    // exploded, or shuffled, and the winnowing subtree runs ONCE
    // instead of once per consumer (the pre-r15 broadcast-prune form
    // exploded the WHOLE corpus's trigrams twice and re-derived the
    // candidate frame three times: isolated anchor 3.85 s before,
    // 2.10 after). Matches are bounded by the pairs' shared-gram
    // occurrences; the island window partitions by (pair, diagonal) —
    // thousands of tiny frames, never a global sort. Gram identity is
    // the q146 md5 device, so both engines see identical matches by
    // construction.
    Q("q154_overlap_verify",
      """WITH w AS (SELECT doc_id,
        |             list_filter(string_split(text, ' '), x -> x != '') AS ws
        |           FROM documents),
        |g AS (SELECT doc_id, i,
        |        ('0x' || substr(md5(ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]), 1, 8))::BIGINT AS h
        |      FROM w, unnest(generate_series(0, len(ws) - 3)) AS t(i)
        |      WHERE len(ws) >= 3),
        |k AS (SELECT doc_id, i, h * 1048576 + (1048575 - i) AS key FROM g
        |      WHERE doc_id IN (SELECT doc_id FROM w WHERE len(ws) >= 6)),
        |win AS (SELECT doc_id,
        |          min(key) OVER (PARTITION BY doc_id ORDER BY i
        |                         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wkey,
        |          count(*) OVER (PARTITION BY doc_id ORDER BY i
        |                         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
        |        FROM k),
        |fp AS (SELECT DISTINCT doc_id, wkey // 1048576 AS h FROM win WHERE wn = 4),
        |df AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= 64),
        |fpk AS (SELECT fp.doc_id, fp.h FROM fp JOIN df USING (h)),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS shared
        |          FROM fpk a JOIN fpk b ON a.h = b.h AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2 ORDER BY shared DESC, doc_a, doc_b LIMIT 20),
        |m AS (SELECT p.doc_a, p.doc_b, p.shared, ga.i AS ia, gb.i AS ib
        |      FROM pairs p
        |      JOIN g ga ON ga.doc_id = p.doc_a
        |      JOIN g gb ON gb.doc_id = p.doc_b AND gb.h = ga.h),
        |r AS (SELECT doc_a, doc_b, shared, ia - ib AS diag, ia,
        |        row_number() OVER (PARTITION BY doc_a, doc_b, ia - ib
        |                           ORDER BY ia) AS rn
        |      FROM m),
        |runs AS (SELECT doc_a, doc_b, shared, count(*)::BIGINT AS len
        |         FROM r GROUP BY doc_a, doc_b, shared, diag, ia - rn)
        |SELECT doc_a, doc_b, shared, (max(len) + 2)::BIGINT AS longest_run_tokens
        |FROM runs GROUP BY 1, 2, 3
        |ORDER BY shared DESC, doc_a, doc_b""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val candRows = winnowPairs(d, w = 4)
        .orderBy(col("shared").desc, col("doc_a"), col("doc_b")).limit(20)
        .collect() // ≤ 20 rows by the top-k contract — bounded
      import s.implicits._
      val cand = candRows.toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toDF("doc_a", "doc_b", "shared")
      val aIds = candRows.map(_.getLong(0)).distinct.toSeq
      val bIds = candRows.map(_.getLong(1)).distinct.toSeq
      // the In() literals push to the parquet reader: the verify
      // stage scans ONLY candidate docs (an empty candidate set is a
      // normal input — isin(nothing) is false and the result is empty)
      val g = trigramStream(
        d.filter(col("doc_id").isin((aIds ++ bIds).distinct.map(Long.box): _*)))
      val ga = g.filter(col("doc_id").isin(aIds.map(Long.box): _*))
        .join(broadcast(cand), col("doc_id") === col("doc_a"))
        .select(col("doc_a"), col("doc_b"), col("shared"),
          col("i").as("ia"), col("h"))
      val gb = g.filter(col("doc_id").isin(bIds.map(Long.box): _*))
        .select(col("doc_id").as("b_id"), col("i").as("ib"),
          col("h").as("hb"))
      ga.join(gb, col("h") === col("hb") && col("doc_b") === col("b_id"))
        .select(col("doc_a"), col("doc_b"), col("shared"),
          col("ia"), (col("ia") - col("ib")).as("diag"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_a", "doc_b", "diag").orderBy("ia")))
        .groupBy(col("doc_a"), col("doc_b"), col("shared"), col("diag"),
          (col("ia") - col("rn")).as("grp"))
        .agg(count(lit(1)).as("len"))
        .groupBy("doc_a", "doc_b", "shared")
        .agg((max("len") + lit(2)).as("longest_run_tokens"))
        .orderBy(col("shared").desc, col("doc_a"), col("doc_b"))
    },

    // ---- Training-mix weights under temperature sampling (round 15 —
    // the source-mix decision the curation family feeds): per-source
    // token masses → sampling weights w_s ∝ n_s^τ at τ = 0.5, the
    // standard low-resource up-weighting (multilingual / data-mix
    // practice). τ = 0.5 is deliberately sqrt: IEEE-754 sqrt is
    // correctly rounded, so both engines compute the IDENTICAL double
    // where pow(x, 0.7) could drift a ulp; the double is quantized to
    // an integer (floor ×1e6) BEFORE the distributed sum so no float
    // addition order can diverge — weight arithmetic is pure int64
    // from there (the q147 integer-milli discipline). Output per
    // source: natural share, temperature weight, and the boost ratio
    // (how much τ over/under-samples vs natural) — the numbers a mix
    // decision reads. Plan at 100 TB: ONE corpus scan →
    // |sources|-bounded agg → the totals as an unpartitioned window
    // over that aggregate frame (the q116 device: |sources| rows, so
    // the single-partition WindowExec is bounded by the aggregate,
    // never the data — and it avoids the second corpus scan a
    // separate totals subtree would cost, since the DataFrame API has
    // no CTE reuse). PlanSpec pins the single scan and the zero joins.
    Q("q155_mix_weights",
      """WITH t AS (SELECT source,
        |             count(*)::BIGINT AS n_docs,
        |             sum(len(list_filter(string_split(text, ' '), x -> x != '')))::BIGINT AS n_tokens
        |           FROM documents GROUP BY source),
        |w AS (SELECT source, n_docs, n_tokens,
        |        CAST(floor(sqrt(n_tokens::DOUBLE) * 1000000) AS BIGINT) AS w_int
        |      FROM t),
        |s AS (SELECT sum(w_int::HUGEINT) AS tw, sum(n_tokens::HUGEINT) AS tt FROM w)
        |SELECT source, n_docs, n_tokens,
        |       (1000000::HUGEINT * w_int // NULLIF(tw, 0))::BIGINT AS weight_micro,
        |       (1000000::HUGEINT * n_tokens // NULLIF(tt, 0))::BIGINT AS natural_micro,
        |       CASE WHEN (1000000::HUGEINT * n_tokens // NULLIF(tt, 0)) = 0 THEN NULL
        |            ELSE (1000 * (1000000::HUGEINT * w_int // NULLIF(tw, 0)) // (1000000::HUGEINT * n_tokens // NULLIF(tt, 0)))::BIGINT
        |       END AS boost_milli
        |FROM w, s ORDER BY source""".stripMargin) { (s, dir) =>
      // products and totals run in decimal(38,0)/HUGEINT
      // UNCONDITIONALLY (the q110 device, r15 review): 1000000 ×
      // n_tokens outgrows int64 past ~9.2e12 tokens per source —
      // exactly the 100 TB regime — where Spark would wrap silently
      // and DuckDB raise; the quotients are micro shares ≤ 1e6 and
      // come back to int64 exactly. NULLIF(·, 0) on both engines
      // (ADVICE r15): on a degenerate all-empty corpus tw = tt = 0,
      // where DuckDB's // raises divide-by-zero while Spark's decimal
      // div yields NULL — the nullif makes both yield NULL weights,
      // identical on the compare (MixWeightsSpec pins the Spark arm:
      // NULL weights, no crash, non-degenerate arithmetic untouched).
      val all = Window.partitionBy()
      docs(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(expr("filter(split(text, ' '), x -> x != '')"))).as("n_tokens"))
        .withColumn("w_int",
          expr("cast(floor(sqrt(cast(n_tokens as double)) * 1000000) as bigint)"))
        .withColumn("tw", sum(col("w_int").cast("decimal(38,0)")).over(all))
        .withColumn("tt", sum(col("n_tokens").cast("decimal(38,0)")).over(all))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          expr("(cast(1000000 as decimal(38,0)) * w_int) div nullif(tw, 0)")
            .cast("long").as("weight_micro"),
          expr("(cast(1000000 as decimal(38,0)) * n_tokens) div nullif(tt, 0)")
            .cast("long").as("natural_micro"))
        .withColumn("boost_milli",
          expr("CASE WHEN natural_micro = 0 THEN NULL " +
            "ELSE 1000 * weight_micro div natural_micro END"))
        .orderBy("source")
    },

    // ---- Cross-source duplication matrix (round 15 — the OTHER half
    // of the mix decision q155/q147 feed: q147 says how much of a
    // source is novel vs the whole corpus; this says WHICH PAIRS of
    // sources share content, i.e. where the duplication lives —
    // mirrors, re-crawls, syndication). Unit is the distinct word
    // trigram (the q147 hash); per source-pair we emit shared-gram
    // count, Jaccard, and containment-of-the-smaller — the three
    // numbers that separate "near-identical mirrors" (high Jaccard)
    // from "B embeds A" (high containment, low Jaccard). All ratios
    // integer-milli (div both engines). Plan at 100 TB: ONE corpus
    // pass → groupBy(h) with map-side-partial collect_set (bounded at
    // |sources| per group — never a row-scale set), persisted
    // ([[sourceGrams]]) because both consumers read it; per-source
    // totals explode that |grams|-row frame (NOT the corpus), the
    // pair matrix explodes ordered pairs only for grams in ≥ 2
    // sources (≤ C(|sources|,2) per row), and the ≤ C(|sources|,2)-row
    // result joins the |sources|-row totals twice by broadcast. No
    // self-join of the gram table — the oracle's a.h = b.h form is
    // O(Σ k_h²) shuffled twice; the collect_set form moves each gram
    // once.
    Q("q156_source_overlap",
      """WITH w AS (SELECT source,
        |             list_filter(string_split(text, ' '), x -> x != '') AS ws
        |           FROM documents),
        |g AS (SELECT DISTINCT source,
        |        ('0x' || substr(md5(ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]), 1, 8))::BIGINT AS h
        |      FROM w, unnest(generate_series(0, len(ws) - 3)) AS t(i)
        |      WHERE len(ws) >= 3),
        |t AS (SELECT source, count(*) AS n FROM g GROUP BY 1),
        |p AS (SELECT a.source AS s1, b.source AS s2, count(*) AS n_shared
        |      FROM g a JOIN g b ON a.h = b.h AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT s1, s2, n_shared::BIGINT AS n_shared,
        |       (1000 * n_shared // (ta.n + tb.n - n_shared))::BIGINT AS jaccard_milli,
        |       (1000 * n_shared // least(ta.n, tb.n))::BIGINT AS containment_milli
        |FROM p JOIN t ta ON ta.source = p.s1 JOIN t tb ON tb.source = p.s2
        |ORDER BY s1, s2""".stripMargin, Family.Mining) { (s, dir) =>
      val perH = sourceGrams(s, dir)
      val totals = perH.select(explode(col("ss")).as("source"))
        .groupBy("source").agg(count(lit(1)).as("n"))
      val pairs = perH.filter(size(col("ss")) >= 2)
        .select(explode(expr(
          """flatten(transform(ss, (a, i) ->
            |  transform(slice(ss, i + 2, size(ss)), b -> struct(a AS s1, b AS s2))))""".stripMargin))
          .as("p"))
        .select(col("p.s1").as("s1"), col("p.s2").as("s2"))
        .groupBy("s1", "s2").agg(count(lit(1)).as("n_shared"))
      pairs
        .join(broadcast(totals.select(col("source").as("s1"), col("n").as("na"))), "s1")
        .join(broadcast(totals.select(col("source").as("s2"), col("n").as("nb"))), "s2")
        .select(col("s1"), col("s2"), col("n_shared"),
          expr("1000 * n_shared div (na + nb - n_shared)").as("jaccard_milli"),
          expr("1000 * n_shared div least(na, nb)").as("containment_milli"))
        .orderBy("s1", "s2")
    },

    // ---- Two-sample KS drift between splits (round 15 — the
    // DISTRIBUTION-level companion to q117's vocabulary chi²: a split
    // whose documents are systematically longer/shorter than train's
    // biases eval loss even when the vocabulary matches. Exact
    // two-sided Kolmogorov–Smirnov D over the doc token-count
    // distribution, per split pair, in pure integer arithmetic:
    // D·n_a·n_b = max over the pooled support of |ca·n_b − cb·n_a|
    // (ca/cb = cumulative doc counts) — no float ECDF ever exists, so
    // the engines agree bit-for-bit; the reported d_milli is the
    // floored 1000·D. Products run in decimal(38,0)/HUGEINT
    // UNCONDITIONALLY (the q110 device: ca·n_b ≈ n² outgrows int64 at
    // ~3e9 docs per split; d_num's final BIGINT cast is in-range until
    // the same regime — DuckDB raises there, documented not guarded).
    // Plan at 100 TB: ONE corpus pass → (split, len) counts
    // ([[splitLenCounts]], persisted — value-bounded at 3·|distinct
    // lengths| rows, shared by totals and ECDF consumers), pair fan
    // via a 6-row broadcast membership join, per-pair cumulative sums
    // as windows over the value-bounded frame (3 partitions — bounded
    // by the support, never the corpus), |pairs|-row result.
    Q("q158_ks_split_drift",
      s"""WITH d AS (SELECT CASE WHEN $splitHashSql < 800 THEN 'train'
         |                      WHEN $splitHashSql < 900 THEN 'val'
         |                      ELSE 'test' END AS split,
         |                 len(list_filter(string_split(text, ' '), x -> x != ''))::BIGINT AS v
         |           FROM documents),
         |cv AS (SELECT split, v, count(*)::BIGINT AS c FROM d GROUP BY 1, 2),
         |n AS (SELECT split, sum(c)::BIGINT AS n FROM cv GROUP BY 1),
         |pairs(sa, sb) AS (VALUES ('train', 'val'), ('train', 'test'), ('val', 'test')),
         |ev AS (SELECT p.sa, p.sb, cv.v,
         |              sum(CASE WHEN cv.split = p.sa THEN cv.c ELSE 0 END) AS ca_at,
         |              sum(CASE WHEN cv.split = p.sb THEN cv.c ELSE 0 END) AS cb_at
         |       FROM pairs p JOIN cv ON cv.split IN (p.sa, p.sb)
         |       GROUP BY 1, 2, 3),
         |cum AS (SELECT sa, sb, v,
         |               sum(ca_at) OVER (PARTITION BY sa, sb ORDER BY v) AS ca,
         |               sum(cb_at) OVER (PARTITION BY sa, sb ORDER BY v) AS cb
         |        FROM ev),
         |ks AS (SELECT sa, sb, na.n AS na, nb.n AS nb,
         |              max(abs(ca * nb.n::HUGEINT - cb * na.n::HUGEINT)) AS d_dec
         |       FROM cum JOIN n na ON na.split = cum.sa
         |                JOIN n nb ON nb.split = cum.sb
         |       GROUP BY 1, 2, 3, 4)
         |SELECT sa, sb, na, nb, d_dec::BIGINT AS d_num,
         |       (1000 * d_dec // (na::HUGEINT * nb))::BIGINT AS d_milli
         |FROM ks ORDER BY sa, sb""".stripMargin, Family.Mining) { (s, dir) =>
      val cv = splitLenCounts(s, dir)
      val n = cv.groupBy("split").agg(sum("c").as("n"))
      import s.implicits._
      val members = Seq(("train", "val"), ("train", "test"), ("val", "test"))
        .flatMap { case (a, b) => Seq((a, b, a), (a, b, b)) }
        .toDF("sa", "sb", "split")
      val wi = Window.partitionBy("sa", "sb").orderBy("v")
      cv.join(broadcast(members), "split")
        .groupBy("sa", "sb", "v")
        .agg(sum(when(col("split") === col("sa"), col("c")).otherwise(0L)).as("ca_at"),
          sum(when(col("split") === col("sb"), col("c")).otherwise(0L)).as("cb_at"))
        .select(col("sa"), col("sb"), col("v"),
          sum("ca_at").over(wi).as("ca"), sum("cb_at").over(wi).as("cb"))
        .join(broadcast(n.select(col("split").as("sa"), col("n").as("na"))), "sa")
        .join(broadcast(n.select(col("split").as("sb"), col("n").as("nb"))), "sb")
        .groupBy("sa", "sb", "na", "nb")
        .agg(max(abs(expr("cast(ca as decimal(38,0)) * nb - cast(cb as decimal(38,0)) * na")))
          .as("d_dec"))
        .select(col("sa"), col("sb"), col("na"), col("nb"),
          col("d_dec").cast("long").as("d_num"),
          expr("(cast(1000 as decimal(38,0)) * d_dec) div (cast(na as decimal(38,0)) * nb)")
            .cast("long").as("d_milli"))
        .orderBy("sa", "sb")
    },

    // ---- Per-source distinctive terms (round 15 — corpus exploration:
    // WHICH vocabulary a source over-represents, the qualitative
    // companion to q156's how-much-overlap. Score is the q110
    // PMI-monotone integer lift applied to (source, term): 1000·c·N
    // div (n_w·n_s), decimal(38,0)/HUGEINT products unconditionally
    // (same overflow regime), min-support c ≥ 5 pruning the hapax
    // tail BEFORE the joins, top-5 per source by (lift, term). Plan at
    // 100 TB: ONE corpus pass → (source, term) counts
    // ([[sourceTermCounts]], persisted, Heaps-bounded); global term
    // counts are the memoized [[vocab]] frame (shared with
    // q110/q111 — its shuffle already paid) joined by broadcast
    // post-support-filter; per-source totals + the corpus total derive
    // from the persisted frame (|sources|-row agg, scalar via its
    // bounded unpartitioned window); top-5 is a rank window that
    // collapses to WindowGroupLimit — partitions forward ≤ 5 rows per
    // source.
    Q("q159_source_terms",
      """WITH sw AS (SELECT source, w, count(*)::BIGINT AS c
        |            FROM (SELECT source, unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS w
        |                  FROM documents)
        |            GROUP BY 1, 2),
        |uni AS (SELECT w, sum(c)::BIGINT AS n_w FROM sw GROUP BY 1),
        |st AS (SELECT source, sum(c)::BIGINT AS n_s FROM sw GROUP BY 1),
        |n AS (SELECT sum(n_s)::BIGINT AS nt FROM st),
        |sc AS (SELECT sw.source, sw.w, sw.c,
        |              ((1000::HUGEINT * sw.c * (SELECT nt FROM n))
        |               // (uni.n_w::HUGEINT * st.n_s))::BIGINT AS lift_milli
        |       FROM sw JOIN uni USING (w) JOIN st USING (source)
        |       WHERE sw.c >= 5),
        |r AS (SELECT source, w, c, lift_milli,
        |             row_number() OVER (PARTITION BY source
        |               ORDER BY lift_milli DESC, w) AS rank
        |      FROM sc)
        |SELECT source, rank::BIGINT AS rank, w, c, lift_milli
        |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin, Family.Mining) { (s, dir) =>
      val sw = sourceTermCounts(s, dir)
      val st = sw.groupBy("source").agg(sum("c").as("n_s"))
        .withColumn("nt", sum("n_s").over(Window.partitionBy()))
      val uni = vocab(s, dir)
      sw.filter(col("c") >= 5)
        .join(broadcast(uni), "w")
        .join(broadcast(st), "source")
        .select(col("source"), col("w"), col("c"),
          expr("""(cast(1000 as decimal(38,0)) * c * nt)
                 |  div (cast(n_w as decimal(38,0)) * n_s)""".stripMargin)
            .cast("long").as("lift_milli"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("source").orderBy(col("lift_milli").desc, col("w"))))
        .filter(col("rank") <= 5)
        .select(col("source"), col("rank").cast("long").as("rank"),
          col("w"), col("c"), col("lift_milli"))
        .orderBy("source", "rank")
    },

    // ---- Hapax / type-token vocabulary health (round 16 — the third
    // vocab screen next to q168 (growth) and q173 (head coverage):
    // per source, the type count, the hapax and dis legomena counts
    // (types seen once / twice), hapax share in milli, and the
    // type-token ratio in micro. A hapax share far above the corpus
    // norm flags OCR noise / mojibake / id-like junk (each garble is
    // its own type); a TTR collapse flags boilerplate or template
    // spam — both read per source, where remediation acts. Exact
    // integers. Plan at 100 TB: both aggregates reduce off the
    // MEMOIZED (source, word, count) frame (the q159 cache —
    // vocab-bounded by Heaps, never corpus-bounded), one
    // |sources|-bounded agg, zero corpus scans of its own, no joins.
    Q("q187_hapax_ttr",
      """WITH sw AS (SELECT source, w, count(*)::BIGINT AS c
        |            FROM (SELECT source, unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS w
        |                  FROM documents)
        |            GROUP BY 1, 2)
        |SELECT source, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
        |       count(*) FILTER (WHERE c = 1)::BIGINT AS hapax,
        |       count(*) FILTER (WHERE c = 2)::BIGINT AS dis,
        |       (1000 * count(*) FILTER (WHERE c = 1) // count(*))::BIGINT AS hapax_milli,
        |       (1000000 * count(*) // sum(c))::BIGINT AS ttr_micro
        |FROM sw GROUP BY 1 ORDER BY source""".stripMargin, Family.Mining) { (s, dir) =>
      sourceTermCounts(s, dir)
        .groupBy("source")
        .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("hapax"),
          sum(when(col("c") === 2L, 1L).otherwise(0L)).as("dis"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          col("hapax"), col("dis"),
          expr("(1000 * hapax) div n_types").as("hapax_milli"),
          expr("(1000000 * n_types) div n_tokens").as("ttr_micro"))
        .orderBy("source")
    },

    // ---- Trimmed robust length profile (round 16 — the outlier-
    // robust companion to q165's W1 matrix and q46's per-doc screen:
    // per source the EXACT 10%-trimmed mean token count in milli next
    // to the plain mean — a mean/trimmed gap names a source whose
    // length profile is carried by outliers (concatenation bugs, page
    // dumps) rather than its body. Exact by counting-sort arithmetic:
    // over the MEMOIZED value-bounded (source, length, count)
    // histogram, each value class keeps the overlap of its rank span
    // [cum_prev+1, cum_prev+c] with the kept band [k+1, n−k]
    // (k = n div 10) — no per-doc sort, no percentile approximation,
    // the q150/q141 exactness discipline on the q184 histogram. Plan:
    // windows partition by source over the value-bounded frame; zero
    // corpus scans of its own, zero joins.
    Q("q197_trimmed_length",
      """WITH h AS (SELECT source,
        |             len(list_filter(string_split(text, ' '), x -> x != ''))::BIGINT AS v
        |           FROM documents),
        |hist AS (SELECT source, v, count(*)::BIGINT AS c FROM h GROUP BY 1, 2),
        |cu AS (SELECT source, v, c,
        |         coalesce(sum(c) OVER (PARTITION BY source ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cp,
        |         sum(c) OVER (PARTITION BY source) AS n
        |       FROM hist),
        |kept AS (SELECT source, n, n // 10 AS k, v,
        |           greatest(0, least(cp + c, n - n // 10)
        |                       - greatest(cp + 1, n // 10 + 1) + 1) AS kc,
        |           c
        |         FROM cu)
        |SELECT source, max(n)::BIGINT AS n_docs, max(k)::BIGINT AS k,
        |       (1000 * sum(v * c) // max(n))::BIGINT AS mean_milli,
        |       (1000 * sum(v * kc) // NULLIF(max(n) - 2 * max(k), 0))::BIGINT AS trimmed_mean_milli
        |FROM kept GROUP BY source ORDER BY source""".stripMargin, Family.Mining) { (s, dir) =>
      val cu = sourceLenCounts(s, dir)
        .withColumn("cp", coalesce(sum("c").over(
          Window.partitionBy("source").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n", sum("c").over(Window.partitionBy("source")))
      cu.withColumn("k", expr("n div 10"))
        .withColumn("kc", expr(
          "greatest(0L, least(cp + c, n - k) - greatest(cp + 1, k + 1) + 1)"))
        .groupBy("source")
        .agg(max("n").as("n_docs"), max("k").as("k"),
          sum(expr("v * c")).as("sv"), sum(expr("v * kc")).as("sk"))
        .select(col("source"), col("n_docs"), col("k"),
          expr("(1000 * sv) div n_docs").as("mean_milli"),
          expr("(1000 * sk) div nullif(n_docs - 2 * k, 0)").as("trimmed_mean_milli"))
        .orderBy("source")
    },

    // ---- Multi-signal quality blend (round 15 — the curation
    // capstone: combine heterogeneous quality signals with different
    // units/scales into one score by QUANTILE position, the standard
    // rank-blend. The naive form ranks the whole corpus per signal —
    // three unpartitioned corpus-scale windows, a global sort each at
    // 100 TB. This form is rank-free: each signal's value→decile map
    // is built from its count-by-VALUE histogram (value-bounded, not
    // corpus-bounded — token counts, ratio millis, and word lengths
    // have bounded support by construction), the three histograms
    // come from ONE corpus pass via a 3-way signal explode into a
    // single partial-agg shuffle, the cumulative windows run over the
    // value-bounded frame (3 partitions), and the per-doc decile
    // assignment is three BROADCAST lookups — map-side, no row-scale
    // window, no sort. decile = (10·|strictly below|) div N, exact
    // integers both engines. Top-20 by (blend, doc_id) is
    // TakeOrderedAndProject — a heap, never a global sort. The decile
    // frame persists (small) because three lookups read it, released
    // by the query's own hook (Caches.persistForQuery).
    Q("q160_quality_blend",
      """WITH d AS (SELECT doc_id,
        |             len(list_filter(string_split(text, ' '), x -> x != ''))::BIGINT AS n,
        |             len(list_distinct(list_filter(string_split(text, ' '), x -> x != '')))::BIGINT AS nd,
        |             n_chars
        |           FROM documents),
        |s AS (SELECT doc_id, n AS v1, (1000 * nd // n)::BIGINT AS v2,
        |             (n_chars // n)::BIGINT AS v3
        |      FROM d WHERE n >= 1),
        |u AS (SELECT 1 AS sig, v1 AS v FROM s
        |      UNION ALL SELECT 2, v2 FROM s
        |      UNION ALL SELECT 3, v3 FROM s),
        |cv AS (SELECT sig, v, count(*)::BIGINT AS c FROM u GROUP BY 1, 2),
        |dq AS (SELECT sig, v,
        |         ((10 * (sum(c) OVER (PARTITION BY sig ORDER BY v) - c))
        |          // sum(c) OVER (PARTITION BY sig))::BIGINT AS dc
        |       FROM cv)
        |SELECT s.doc_id, d1.dc AS dec_tokens, d2.dc AS dec_distinct,
        |       d3.dc AS dec_wordlen,
        |       (d1.dc + d2.dc + d3.dc)::BIGINT AS blend
        |FROM s JOIN dq d1 ON d1.sig = 1 AND d1.v = s.v1
        |       JOIN dq d2 ON d2.sig = 2 AND d2.v = s.v2
        |       JOIN dq d3 ON d3.sig = 3 AND d3.v = s.v3
        |ORDER BY blend DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val ws = "filter(split(text, ' '), x -> x != '')"
      val sig = docs(s, dir)
        .select(col("doc_id"),
          expr(s"cast(size($ws) as bigint)").as("n"),
          expr(s"cast(size(array_distinct($ws)) as bigint)").as("nd"),
          col("n_chars"))
        .filter(col("n") >= 1)
        .select(col("doc_id"), col("n").as("v1"),
          expr("1000 * nd div n").as("v2"), expr("n_chars div n").as("v3"))
      val cum = Window.partitionBy("sig").orderBy("v")
      val all = Window.partitionBy("sig")
      val dq = sig
        .select(explode(array(
          struct(lit(1).as("sig"), col("v1").as("v")),
          struct(lit(2).as("sig"), col("v2").as("v")),
          struct(lit(3).as("sig"), col("v3").as("v")))).as("u"))
        .select(col("u.sig").as("sig"), col("u.v").as("v"))
        .groupBy("sig", "v").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(cum))
        .withColumn("tot", sum("c").over(all))
        .select(col("sig"), col("v"), expr("(10 * (cum - c)) div tot").as("dc"))
        .transform(Caches.persistForQuery)
      def look(i: Int, vc: String, out: String) =
        broadcast(dq.filter(col("sig") === i)
          .select(col("v").as(vc), col("dc").as(out)))
      sig.join(look(1, "v1", "dec_tokens"), "v1")
        .join(look(2, "v2", "dec_distinct"), "v2")
        .join(look(3, "v3", "dec_wordlen"), "v3")
        .select(col("doc_id"), col("dec_tokens"), col("dec_distinct"),
          col("dec_wordlen"),
          (col("dec_tokens") + col("dec_distinct") + col("dec_wordlen")).as("blend"))
        .orderBy(col("blend").desc, col("doc_id")).limit(20)
    },

    // ---- BPE merge-step pair statistics (round 15 — the tokenizer-
    // training primitive: one BPE iteration counts adjacent symbol
    // pairs weighted by word frequency and merges the argmax; this is
    // that count + the candidate table head, run per iteration by a
    // trainer with the winning merge applied between rounds — the
    // q73 per-iteration design). THE scale trick is the real
    // trainer's: pairs are counted over the DISTINCT-WORD frequency
    // table ([[vocab]], memoized + shared with q110/q111/q159 — its
    // one corpus shuffle already paid), never over the corpus —
    // Heaps' law bounds the explode at |vocab|·avg_len where the
    // corpus is unbounded. Per-word pair explode is a map-side HOF
    // inside the cache scan; one partial-agg shuffle of the
    // (a,b)-pair census (≤ alphabet² groups); top-20 is
    // TakeOrderedAndProject. Counts are exact int64 — a merge
    // decision must be reproducible across engines, so no sampling,
    // no sketch.
    Q("q162_bpe_pair_counts",
      """WITH wds AS (SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS w
        |             FROM documents),
        |wf AS (SELECT w, count(*)::BIGINT AS f FROM wds GROUP BY 1),
        |p AS (SELECT w, f, unnest(generate_series(1, length(w) - 1)) AS i
        |      FROM wf WHERE length(w) >= 2),
        |pc AS (SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b,
        |              sum(f)::BIGINT AS cnt
        |       FROM p GROUP BY 1, 2)
        |SELECT a, b, cnt FROM pc
        |ORDER BY cnt DESC, a, b LIMIT 20""".stripMargin, Family.Mining) { (s, dir) =>
      vocab(s, dir)
        .filter(length(col("w")) >= 2)
        .select(col("n_w").as("f"), explode(expr(
          """transform(sequence(1, length(w) - 1), i ->
            |  struct(substring(w, i, 1) AS a, substring(w, i + 1, 1) AS b))""".stripMargin))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("f").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(20)
    },

    // ---- BPE merge TRAINING (round 17 — the iterative step q162's
    // single pair census stops short of: the actual merge table a
    // tokenizer build produces). Word-level BPE exactly as the public
    // GPT-2/HF convention: per merge step, the highest-count adjacent
    // token pair over the word-frequency table (count DESC, then
    // lexicographic pair — a total order both engines share on ASCII)
    // merges everywhere it occurs, LEFT-TO-RIGHT NON-OVERLAPPING
    // within each word; 8 steps emit (step, lhs, rhs, pair_n). BOTH
    // engines perform the literal SAME string operation: words are
    // framed as ·c₁··c₂··…·, a merge of (a,b) is
    // replace(tok, '·a··b·', '·ab·') — the shared-separator framing
    // makes left-to-right non-overlapping replacement EQUAL canonical
    // BPE merge application (consecutive runs: ·l··l··l··l· →
    // ·ll··ll·, two merges, the double separator is what lets
    // adjacent matches not consume each other's boundary), and '·'
    // cannot occur inside tokens because the vocabulary is filtered
    // to ^[a-z]+$ (BPE over alphabetic words, the calibration
    // convention; length ≤ 32 bounds the string work per word).
    // BpeMergeSpec pins the framing device against a direct
    // token-list reference implementation on adversarial words.
    // Plan at 100 TB: the corpus is scanned ONCE (the memoized
    // Heaps-bounded word-frequency frame — distinct words grow
    // ~O(corpus^0.5), the q168 measurement); each of the G=8 merge
    // steps is one bounded aggregate over |vocab| rows + a map-side
    // replace + one argmax row to the driver — G is FIXED, so the
    // loop is the PageRank iteration shape, never data-dependent.
    // Spark's sequence(1, size-1) DESCENDS when size = 1 (unlike
    // DuckDB's empty generate_series) — single-token words are
    // filtered before the transform on the Spark side, matching the
    // oracle's empty unnest.
    Q("q218_bpe_merges", bpeOracleSql(BpeSteps), Family.Mining) { (s, dir) =>
      import s.implicits._
      bpeTrain(s, dir)._1.toDF("step", "lhs", "rhs", "pair_n").orderBy("step")
    },

    // ---- BPE tokenizer APPLICATION: per-source fertility census
    // (round 17 -- the USE of q218's trained merges, and the
    // tokenizer-aware upgrade of q47's whitespace/regex token counts:
    // after G merges, how many BPE tokens does each source's text
    // cost? Fertility (tokens per word, milli) and compression
    // (tokens per char, milli) are the numbers a curation budget and
    // a context-window plan read per source -- a source whose
    // fertility stays near chars/word is one the tokenizer serves
    // badly. The trained state is the MEMOIZED (w, n, tok) frame
    // (built once per session with the merge table); the per-source
    // side is one corpus scan into a (source, word, count) frame
    // joined against the vocab-bounded token counts -- word text
    // crosses the exchange only as the Heaps-bounded distinct-word
    // key, never per occurrence. Same vocabulary window as the
    // trainer, so train and apply see the same words. Exact integers
    // (NULLIF-guarded divisions).
    // ---- unigram-LM (SentencePiece-style) tokenizer training: the
    // OTHER tokenizer-training family next to q218's BPE (Kudo 2018 vs
    // Sennrich 2016 — subword regularization's model class). Hard-EM:
    // substring-seeded vocabulary, per-word integer-cost Viterbi
    // segmentation, recount, repeat ([[unigramTrain]]); output = the
    // top-[[UniTopK]] trained vocabulary census (rank, token, count,
    // integer micro-prob). The oracle unrolls BOTH loops — EM steps
    // (the q218 device) AND the Viterbi positions (list-append CTE
    // chain, no recursive CTE) — and replicates the exact integer
    // micro-nat costs and smallest-backpointer tie-break, so the
    // trained vocabulary is hash-pinned against DuckDB end-to-end.
    Q("q228_unigram_lm", unigramOracleSql(UniEmSteps), Family.Mining) { (s, dir) =>
      val counts = unigramTrain(s, dir)
      counts
        .withColumn("rank",
          row_number().over(Window.orderBy(col("cnt").desc, col("tok"))).cast("long"))
        .filter(col("rank") <= UniTopK)
        .crossJoin(broadcast(counts.agg(sum(col("cnt")).as("tot"))))
        .select(col("rank"), col("tok"), col("cnt").as("n_occ"),
          expr("(1000000 * cnt) div tot").as("prob_micro"))
        .orderBy("rank")
    },

    // ---- unigram-LM tokenizer APPLICATION: per-source fertility
    // census — q219's question under the OTHER trained tokenizer, so
    // both model classes ship train+apply. One extra Viterbi decode of
    // the distinct-word frame under costs from the FINAL trained
    // counts (the oracle emits it as an unrolled apply pass reading
    // c_G); the per-source side is one corpus scan into (source, word,
    // count) joined on the Heaps-bounded distinct-word key. Counting
    // laws (spec-pinned): every word segments into ≥ 1 and ≤ length(w)
    // tokens, so n_words ≤ n_tokens ≤ n_chars.
    Q("q229_unigram_fertility", unigramFertilityOracleSql(UniEmSteps), Family.Mining) { (s, dir) =>
      val costs = uniCosts(unigramTrain(s, dir).collect()) // vocab-capped
      val nt = vocab(s, dir)
        .filter(col("w").rlike("^[a-z]+$") &&
          length(col("w")).between(1, UniMaxWordLen))
        .select(col("w"),
          size(graft.plans.UnigramViterbi.segment(col("w"), costs, UniMaxTok))
            .cast("long").as("nt"))
      fertilityCensus(s, dir, 1, UniMaxWordLen, nt)
    },

    Q("q219_bpe_fertility", bpeFertilityOracleSql(BpeSteps), Family.Mining) { (s, dir) =>
      val nt = bpeTrain(s, dir)._2.select(col("w"),
        size(split(regexp_replace(col("tok"), "^·|·$", ""), "··"))
          .cast("long").as("nt"))
      fertilityCensus(s, dir, 2, 32, nt)
    },

    // ---- BYTE-level BPE training (round 19, VERDICT r18 item 5 —
    // the GPT-2 production form): seed alphabet = the word's UTF-8
    // bytes, hex-encoded as the framing units, so EVERY word
    // tokenizes (no OOV class, no [a-z] screen — the byte-fallback
    // property) and merge literals stay SQL-safe for arbitrary input.
    // The grafted multibyte word exercises a real UTF-8 split at the
    // gate: 'café' seeds as 63/61/66/C3/A9 and a C3+A9 merge crosses
    // the multibyte boundary. Training plan = q218's: G bounded
    // argmax aggregates over the Heaps-bounded distinct-word frame
    // (driver pulls ONE row per step), merges applied as map-only
    // replaces. Unrolled-CTE oracle device carries over verbatim —
    // only the w0 seed differs (shared bpeOracleSteps blocks).
    Q("q234_byte_bpe_merges", byteBpeOracleSql(BpeSteps), Family.Mining) { (s, dir) =>
      import s.implicits._
      byteBpeTrain(s, dir)._1.toDF("step", "lhs", "rhs", "pair_n").orderBy("step")
    },

    // ---- byte-BPE APPLY-TO-UNSEEN (round 19 — the true train/apply
    // separation neither q219 nor q235 exercises, and the half of the
    // byte-fallback claim that actually matters in production: train
    // on the doc_id % 10 ≠ 0 split, tokenize the EVAL split by MERGE
    // REPLAY — the G trained merges wrapped around the seed framing
    // as one map-only projection (no join against trained state, so
    // words the trainer NEVER SAW still tokenize). The fixture corpus
    // holds only 31 words, all shared across splits, so unseen words
    // are manufactured by the q88/q38 adversary convention: each eval
    // doc grafts a deterministic ' zq<doc_id>é' pseudo-word — unseen
    // by construction, with digits and a multibyte char whose bytes
    // the trainer also never saw (they survive as single-byte
    // fallback tokens while trained merges still fire on seen
    // substrings). Census per eval source: words, unseen words,
    // tokens, UTF-8 bytes, fertility/compression. Plan at 100 TB:
    // the merge table is G driver-known literals (the q218
    // convention), apply is map-only over the Heaps-bounded distinct
    // eval word frame, unseen = one broadcast join against the
    // train vocabulary. Oracle replays the same merges as G unrolled
    // apply CTEs after the unrolled training.
    Q("q236_byte_bpe_apply", byteBpeApplyOracleSql(BpeSteps), Family.Mining) { (s, dir) =>
      val merges = byteBpeTrainSplit(s, dir)._1
      val applyExpr = merges.foldLeft(
        "regexp_replace(hex(encode(w, 'UTF-8')), '(..)', '·$1·')") {
        case (acc, (_, a, b, _)) => s"replace($acc, '·${a}··${b}·', '·${a}${b}·')"
      }
      val ev = docs(s, dir).filter(col("doc_id") % 10 === 0)
        .select(col("source"), explode(tokens(concat(col("text"),
          lit(" zq"), col("doc_id").cast("string"), lit("é")))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      val ntu = ev.select("w").distinct()
        .withColumn("tok", expr(applyExpr))
        .select(col("w"),
          size(split(regexp_replace(col("tok"), "^·|·$", ""), "··"))
            .cast("long").as("nt"))
        .join(broadcast(splitVocab(s, dir).select(col("w").as("tw"))),
          col("w") === col("tw"), "left")
        .withColumn("unseen", when(col("tw").isNull, 1L).otherwise(0L))
        .select("w", "nt", "unseen")
      ev.join(ntu, "w")
        .groupBy("source")
        .agg(sum("c").as("n_words"),
          sum(col("c") * col("unseen")).as("n_unseen"),
          sum(col("c") * col("nt")).as("n_tokens"),
          sum(col("c") * octet_length(col("w"))).as("n_bytes"))
        .select(col("source"), col("n_words"), col("n_unseen"),
          col("n_tokens"), col("n_bytes"),
          expr("(1000 * n_tokens) div nullif(n_words, 0)").as("tpw_milli"),
          expr("(1000 * n_tokens) div nullif(n_bytes, 0)").as("tpb_milli"))
        .orderBy("source")
    },

    // ---- byte-BPE fertility census (q219's question under the byte
    // model, over the FULL grafted word stream — no vocabulary
    // window, because byte fallback covers everything): per source,
    // words / trained tokens / UTF-8 bytes, fertility per word and
    // compression per BYTE (strlen on the DuckDB side ≡ octet_length
    // on the Spark side). n_words ≤ n_tokens ≤ n_bytes by
    // construction (ByteBpeSpec pins the laws).
    Q("q235_byte_bpe_fertility", byteBpeFertilityOracleSql(BpeSteps), Family.Mining) { (s, dir) =>
      val nt = byteBpeTrain(s, dir)._2.select(col("w"),
        size(split(regexp_replace(col("tok"), "^·|·$", ""), "··"))
          .cast("long").as("nt"))
      val psw = docs(s, dir)
        .select(col("source"),
          explode(tokens(concat(col("text"), lit(ByteGraft)))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      psw.join(nt, "w")
        .groupBy("source")
        .agg(sum("c").as("n_words"),
          sum(col("c") * col("nt")).as("n_tokens"),
          sum(col("c") * octet_length(col("w"))).as("n_bytes"))
        .select(col("source"), col("n_words"), col("n_tokens"), col("n_bytes"),
          expr("(1000 * n_tokens) div nullif(n_words, 0)").as("tpw_milli"),
          expr("(1000 * n_tokens) div nullif(n_bytes, 0)").as("tpb_milli"))
        .orderBy("source")
    },
    // ---- Exact eval-budget apportionment (round 15 — the allocation
    // step after the mix decision: distribute a FIXED eval budget of
    // B = 1000 docs across sources proportionally to size. Naive
    // rounding of B·n_s/N doesn't sum to B; the largest-remainder
    // (Hamilton) method does, exactly: floor quotas first, then the
    // B − Σquota leftover seats go to the largest remainders
    // (source-name tie-break), Σalloc = B BY CONSTRUCTION — the
    // invariant a downstream sampler relies on, and the property the
    // spec pins. Pure integer arithmetic — quotas are (B·n_s) div N,
    // remainders (B·n_s) mod N — so both engines agree bit-for-bit
    // (B·n_s stays in int64 until N ≈ 9.2e15 docs; document, don't
    // guard, per the Layout.scaled discipline). Plan at 100 TB: ONE
    // corpus scan → |sources|-bounded agg; totals, remainder rank,
    // and the leftover count are all windows over that aggregate
    // frame (the q155 device — bounded by |sources|, never the
    // corpus); join-free.
    Q("q164_eval_budget",
      """WITH t AS (SELECT source, count(*)::BIGINT AS n FROM documents GROUP BY 1),
        |s AS (SELECT sum(n)::BIGINT AS tot FROM t),
        |q AS (SELECT source, n, (1000 * n) // tot AS quota,
        |             (1000 * n) % tot AS rem
        |      FROM t, s),
        |r AS (SELECT q.*, row_number() OVER (ORDER BY rem DESC, source) AS rk,
        |             (SELECT 1000 - sum(quota) FROM q) AS leftover
        |      FROM q)
        |SELECT source, n AS n_docs, quota::BIGINT AS quota,
        |       (CASE WHEN rk <= leftover THEN 1 ELSE 0 END)::BIGINT AS extra,
        |       (quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)::BIGINT AS alloc
        |FROM r ORDER BY source""".stripMargin) { (s, dir) =>
      val all = Window.partitionBy()
      docs(s, dir)
        .groupBy("source").agg(count(lit(1)).as("n"))
        .withColumn("tot", sum("n").over(all))
        .withColumn("quota", expr("(1000 * n) div tot"))
        .withColumn("rem", expr("(1000 * n) % tot"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("rem").desc, col("source"))))
        .withColumn("leftover", lit(1000L) - sum("quota").over(all))
        .select(col("source"), col("n").as("n_docs"), col("quota"),
          when(col("rk") <= col("leftover"), 1L).otherwise(0L).as("extra"))
        .withColumn("alloc", col("quota") + col("extra"))
        .orderBy("source")
    },

    // ---- Wasserstein-1 length-profile matrix (round 16 — the
    // integrated companion to q158's KS: KS reports the WORST ECDF
    // gap, W1 integrates ALL of it, so a pair of sources whose length
    // profiles differ mildly everywhere (same max gap, very different
    // shape) separates from a pair with one local spike. This is the
    // distribution-shift number a mix planner reads next to q156's
    // lexical overlap and q161's embedding distance. Exact integers
    // end-to-end: for discrete distributions, W1 = Σ_v |F_a(v) −
    // F_b(v)|·(v_next − v); cross-multiplying by n_a·n_b makes every
    // term |ca·nb − cb·na|·gap an exact product (decimal(38,0)/
    // HUGEINT — ca·nb is corpus-squared and would wrap int64 at the
    // 100 TB regime), and the final micro-token quotient divides once
    // at the end. Plan at 100 TB: ONE corpus pass → (source, length,
    // count) histogram ([[sourceLenCounts]], persisted, value-bounded
    // by Heaps-like length concentration, never corpus-bounded);
    // pairs fan that |sources|·|lengths| frame (≤ C(|sources|,2)
    // replication of histogram rows, not documents); cum-ECDFs are
    // windows over per-pair partitions. No corpus self-join anywhere.
    Q("q165_source_w1_lengths",
      """WITH d AS (SELECT source,
        |             len(list_filter(string_split(text, ' '), x -> x != ''))::BIGINT AS v
        |           FROM documents),
        |cv AS (SELECT source, v, count(*)::BIGINT AS c FROM d GROUP BY 1, 2),
        |n AS (SELECT source, sum(c)::BIGINT AS n FROM cv GROUP BY 1),
        |prs AS (SELECT a.source AS sa, b.source AS sb
        |        FROM n a JOIN n b ON a.source < b.source),
        |ev AS (SELECT p.sa, p.sb, cv.v,
        |         sum(CASE WHEN cv.source = p.sa THEN cv.c ELSE 0 END) AS ca_at,
        |         sum(CASE WHEN cv.source = p.sb THEN cv.c ELSE 0 END) AS cb_at
        |       FROM prs p JOIN cv ON cv.source IN (p.sa, p.sb)
        |       GROUP BY 1, 2, 3),
        |cum AS (SELECT sa, sb, v,
        |          sum(ca_at) OVER (PARTITION BY sa, sb ORDER BY v) AS ca,
        |          sum(cb_at) OVER (PARTITION BY sa, sb ORDER BY v) AS cb,
        |          lead(v) OVER (PARTITION BY sa, sb ORDER BY v) AS nv
        |        FROM ev),
        |w1 AS (SELECT sa, sb, na.n AS na, nb.n AS nb,
        |         sum(CASE WHEN nv IS NULL THEN 0
        |             ELSE abs(ca * nb.n::HUGEINT - cb * na.n::HUGEINT) * (nv - v)
        |             END) AS w_dec
        |       FROM cum JOIN n na ON na.source = cum.sa
        |                JOIN n nb ON nb.source = cum.sb
        |       GROUP BY 1, 2, 3, 4)
        |SELECT sa, sb, na, nb,
        |       (1000000::HUGEINT * w_dec // (na::HUGEINT * nb))::BIGINT AS w1_micro
        |FROM w1 ORDER BY sa, sb""".stripMargin, Family.Mining) { (s, dir) =>
      val cv = sourceLenCounts(s, dir)
      val n = cv.groupBy("source").agg(sum("c").as("n"))
      // pair-membership rows (sa, sb, source ∈ {sa, sb}) in ONE
      // |sources|² nested loop over a broadcast |sources|-row frame
      // (bounded by the source vocabulary — the q156/q161 pair
      // device): source=a meeting o=b yields the a-membership of
      // ordered pair (a,b), source=b meeting o=a the b-membership —
      // each exactly once, no union re-computing the pair frame
      val members = n.select(col("source"))
        .join(broadcast(n.select(col("source").as("o"))), col("source") =!= col("o"))
        .select(least(col("source"), col("o")).as("sa"),
          greatest(col("source"), col("o")).as("sb"), col("source"))
      val wi = Window.partitionBy("sa", "sb").orderBy("v")
      cv.join(broadcast(members), "source")
        .groupBy("sa", "sb", "v")
        .agg(sum(when(col("source") === col("sa"), col("c")).otherwise(0L)).as("ca_at"),
          sum(when(col("source") === col("sb"), col("c")).otherwise(0L)).as("cb_at"))
        .select(col("sa"), col("sb"), col("v"),
          sum("ca_at").over(wi).as("ca"), sum("cb_at").over(wi).as("cb"),
          lead(col("v"), 1).over(wi).as("nv"))
        .join(broadcast(n.select(col("source").as("sa"), col("n").as("na"))), "sa")
        .join(broadcast(n.select(col("source").as("sb"), col("n").as("nb"))), "sb")
        .groupBy("sa", "sb", "na", "nb")
        .agg(sum(when(col("nv").isNull, lit(0L).cast("decimal(38,0)"))
          .otherwise(abs(expr("cast(ca as decimal(38,0)) * nb - cast(cb as decimal(38,0)) * na"))
            * (col("nv") - col("v")))).as("w_dec"))
        .select(col("sa"), col("sb"), col("na"), col("nb"),
          expr("(cast(1000000 as decimal(38,0)) * w_dec) div (cast(na as decimal(38,0)) * nb)")
            .cast("long").as("w1_micro"))
        .orderBy("sa", "sb")
    },

    // ---- Vocabulary growth curve (round 16 — the "does more data buy
    // new content" question a scaling decision reads: cumulative
    // distinct word-trigrams per corpus decile, the empirical Heaps
    // curve. A flattening tail says the marginal crawl adds volume,
    // not novelty — the aggregate view of q147's per-source novelty
    // yield. Deciles are ID-RANGE buckets ((10·(doc_id − lo)) div
    // span) — pure arithmetic from two scalars, deliberately NOT a
    // rank window: a row_number decile needs a corpus-scale rank map
    // (a global sort at 100 TB) while the range bucket broadcasts two
    // numbers; with the fixture's dense ids the two coincide, and the
    // semantic (an arbitrary-but-fixed corpus order) serves the curve
    // equally. Plan: one corpus pass → gram explode (the q147 hash) →
    // min-decile per gram (ONE vocab-bounded shuffle with map-side
    // partial min) → 10-row census + cumulative window over it.
    Q("q168_vocab_growth",
      """WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
        |w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
        |      FROM documents),
        |g AS (SELECT doc_id,
        |        ('0x' || substr(md5(ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]), 1, 8))::BIGINT AS h
        |      FROM w, unnest(generate_series(0, len(ws) - 3)) AS t(i)
        |      WHERE len(ws) >= 3),
        |d AS (SELECT h, min((10 * (doc_id - lo)) // (hi - lo + 1)) AS dec
        |      FROM g, b GROUP BY 1),
        |c AS (SELECT dec, count(*)::BIGINT AS new_grams FROM d GROUP BY 1)
        |SELECT dec::BIGINT AS decile, new_grams,
        |       sum(new_grams) OVER (ORDER BY dec)::BIGINT AS cum_grams
        |FROM c ORDER BY decile""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val mm = d.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      trigramStream(d)
        .crossJoin(broadcast(mm))
        .select(col("h"), expr("(10 * (doc_id - lo)) div (hi - lo + 1)").as("dec"))
        .groupBy("h").agg(min("dec").as("dec"))
        .groupBy("dec").agg(count(lit(1)).as("new_grams"))
        .withColumn("cum_grams",
          sum("new_grams").over(Window.orderBy("dec")).cast("long"))
        .select(col("dec").cast("long").as("decile"), col("new_grams"), col("cum_grams"))
        .orderBy("decile")
    },

    // ---- Packing efficiency by context length (round 16 — the
    // training-config table q70's packer is judged against: for each
    // candidate context length, the exact token waste of the naive
    // per-document chunk-and-pad baseline (Σ ceil(nᵢ/L)·L − nᵢ) and
    // of the boundary-crossing concat stream (ceil(T/L)·L − T, the
    // lower bound any packer approaches), in integer milli of slot
    // capacity. The gap between the two columns IS the packing win —
    // a number per L, so the context-length choice reads off one
    // 4-row table. Plan: ONE corpus scan projecting each doc to its
    // token count, a 4-row broadcast fan, one |L|-bounded partial-agg
    // shuffle; all arithmetic int64 (token counts; products n·L
    // bounded by corpus tokens · 4096 — inside int64 until ~2e15
    // tokens, guarded by the same decimal widening as the mix family
    // if that regime arrives).
    Q("q170_packing_efficiency",
      """WITH d AS (SELECT len(list_filter(string_split(text, ' '), x -> x != ''))::BIGINT AS n
        |           FROM documents),
        |L AS (SELECT unnest([512, 1024, 2048, 4096]) AS cap),
        |per AS (SELECT cap, sum(n)::BIGINT AS total,
        |          sum((n + cap - 1) // cap)::BIGINT AS n_chunks,
        |          sum(((n + cap - 1) // cap) * cap - n)::BIGINT AS pad_waste
        |        FROM d CROSS JOIN L GROUP BY 1)
        |SELECT cap::BIGINT AS cap, total AS n_tokens, n_chunks, pad_waste,
        |       (1000 * pad_waste // NULLIF(n_chunks * cap, 0))::BIGINT AS pad_waste_milli,
        |       (((total + cap - 1) // cap) * cap - total)::BIGINT AS concat_waste
        |FROM per ORDER BY cap""".stripMargin) { (s, dir) =>
      import s.implicits._
      val caps = Seq(512L, 1024L, 2048L, 4096L).toDF("cap")
      docs(s, dir)
        .select(size(expr("filter(split(text, ' '), x -> x != '')")).cast("long").as("n"))
        .crossJoin(broadcast(caps))
        .groupBy("cap")
        .agg(sum("n").as("total"),
          sum(expr("(n + cap - 1) div cap")).as("n_chunks"),
          sum(expr("((n + cap - 1) div cap) * cap - n")).as("pad_waste"))
        .select(col("cap"), col("total").as("n_tokens"), col("n_chunks"), col("pad_waste"),
          expr("(1000 * pad_waste) div nullif(n_chunks * cap, 0)").as("pad_waste_milli"),
          expr("((total + cap - 1) div cap) * cap - total").as("concat_waste"))
        .orderBy("cap")
    },

    // ---- Corpus version diff (round 16 — the q84 CDC discipline
    // applied to the CORPUS: between two crawl snapshots, what was
    // added, removed, changed, unchanged — in docs AND token mass,
    // the re-train-trigger table. The second snapshot is derived
    // deterministically in-query (the mediaTable fixture pattern):
    // drop doc_id%7=0, perturb %5=1, add %11=3 under fresh ids — so
    // both engines diff the identical version pair and every class is
    // populated. The discipline that matters at 100 TB: each side
    // projects to (id, content-hash, token count) BEFORE the full
    // outer join, so document TEXT never crosses an exchange — the
    // join moves two slim hash frames (and with both snapshots
    // bucketed by id it co-locates to zero shuffle); change detection
    // is hash inequality, never a text compare.
    Q("q171_corpus_version_diff",
      """WITH mx AS (SELECT max(doc_id) + 1 AS off FROM documents),
        |v1 AS (SELECT doc_id, md5(text) AS h,
        |         len(list_filter(string_split(text, ' '), x -> x != ''))::BIGINT AS nt
        |       FROM documents),
        |v2base AS (SELECT doc_id,
        |             CASE WHEN doc_id % 5 = 1 THEN text || ' updated' ELSE text END AS text
        |           FROM documents WHERE doc_id % 7 <> 0),
        |v2add AS (SELECT d.doc_id + mx.off AS doc_id, d.text
        |          FROM documents d, mx WHERE d.doc_id % 11 = 3),
        |v2 AS (SELECT doc_id, md5(text) AS h,
        |         len(list_filter(string_split(text, ' '), x -> x != ''))::BIGINT AS nt
        |       FROM (SELECT * FROM v2base UNION ALL SELECT * FROM v2add)),
        |j AS (SELECT CASE WHEN a.doc_id IS NULL THEN 'added'
        |               WHEN b.doc_id IS NULL THEN 'removed'
        |               WHEN a.h <> b.h THEN 'changed'
        |               ELSE 'unchanged' END AS status,
        |             coalesce(b.nt, a.nt) AS nt
        |      FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
        |SELECT status, count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS n_tokens
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val off = d.agg((max("doc_id") + lit(1L)).as("off"))
      def slim(df: DataFrame) = df.select(col("doc_id"),
        md5(encode(col("text"), "UTF-8")).as("h"),
        size(expr("filter(split(text, ' '), x -> x != '')")).cast("long").as("nt"))
      val v1 = slim(d)
      val v2 = slim(
        d.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 1, concat(col("text"), lit(" updated")))
              .otherwise(col("text")).as("text"))
          .unionByName(
            d.filter(col("doc_id") % 11 === 3).crossJoin(broadcast(off))
              .select((col("doc_id") + col("off")).as("doc_id"), col("text"))))
      v1.as("a").join(v2.as("b"), col("a.doc_id") === col("b.doc_id"), "full_outer")
        .select(
          when(col("a.doc_id").isNull, "added")
            .when(col("b.doc_id").isNull, "removed")
            .when(col("a.h") =!= col("b.h"), "changed")
            .otherwise("unchanged").as("status"),
          coalesce(col("b.nt"), col("a.nt")).as("nt"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
        .orderBy("status")
    },

    // ---- Head-coverage curve (round 16 — the stopword/tokenizer
    // budgeting table: what share of all token OCCURRENCES the top-k
    // most frequent word types cover, at k = 10/100/1k/10k. A steep
    // head says aggressive stopword pruning is cheap; the 10k row
    // approximates what a 10k-type vocabulary would cover. Exact
    // integers; deterministic (count desc, word) rank order. Plan at
    // 100 TB: ranks and cumulative sums are windows over the MEMOIZED
    // vocab frame (Heaps-bounded — the corpus was already reduced to
    // (word, count) by q110's one shuffle), the 4-row k fan is a
    // broadcast nested loop against that vocab-bounded frame, and the
    // corpus itself is never re-scanned.
    Q("q173_head_coverage",
      """WITH w AS (SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS w
        |           FROM documents),
        |v AS (SELECT w, count(*)::BIGINT AS n_w FROM w GROUP BY 1),
        |r AS (SELECT n_w,
        |        row_number() OVER (ORDER BY n_w DESC, w) AS rk,
        |        sum(n_w) OVER (ORDER BY n_w DESC, w) AS cum
        |      FROM v),
        |t AS (SELECT sum(n_w)::BIGINT AS tot FROM v),
        |k AS (SELECT unnest([10, 100, 1000, 10000]) AS k)
        |SELECT k.k::BIGINT AS k,
        |       max(CASE WHEN r.rk <= k.k THEN r.cum ELSE 0 END)::BIGINT AS covered,
        |       t.tot AS total,
        |       (1000 * max(CASE WHEN r.rk <= k.k THEN r.cum ELSE 0 END)
        |        // t.tot)::BIGINT AS coverage_milli
        |FROM k, r, t GROUP BY k.k, t.tot ORDER BY k""".stripMargin, Family.Mining) { (s, dir) =>
      import s.implicits._
      val rk = Window.orderBy(col("n_w").desc, col("w"))
      val r = vocab(s, dir)
        .select(col("n_w"), row_number().over(rk).as("rk"), sum("n_w").over(rk).as("cum"))
      val tot = vocab(s, dir).agg(sum("n_w").as("tot"))
      val ks = Seq(10L, 100L, 1000L, 10000L).toDF("k")
      r.crossJoin(broadcast(ks))
        .groupBy("k")
        .agg(max(when(col("rk") <= col("k"), col("cum")).otherwise(0L)).as("covered"))
        .crossJoin(broadcast(tot))
        .select(col("k"), col("covered"), col("tot").as("total"),
          expr("(1000 * covered) div tot").as("coverage_milli"))
        .orderBy("k")
    },

    // ---- Epoch-capped token-budget water-fill (round 16 — the
    // allocation step AFTER q155 picks mix weights: given a training
    // token budget B and a per-source repetition cap, how many tokens
    // does each source actually contribute? Pile/LLaMA-style mix
    // planning: weights w_s ∝ sqrt(n_s) (q155's correctly-rounded
    // sqrt→floor(×1e6) device), per-source cap 1.6 epochs
    // (cap_s = (8·n_s) div 5 — exact, no float), budget B = 1.5
    // epochs of the whole corpus ((3·Σn) div 2). Water-fill: sources
    // saturate in increasing cap/w order; the rest split the
    // remaining budget ∝ w. All arithmetic is exact integer:
    // saturation ranks by the 1e18-scaled truncating quotient
    // (cap·1e18) div w (distinguishes ratios to 1e-18 relative; the
    // source tie-break keeps both engines on the IDENTICAL total
    // order either way), the saturated set is the bool-AND prefix of
    // the per-rank marginal test num_j·w_j > cap_j·den_j (exact
    // cross-multiplication — no rational division ever happens), and
    // the |unsat|−1-bounded truncation loss is returned by Hamilton
    // largest-remainder (q164's device), so Σ alloc = B EXACTLY.
    // B < Σcap by construction (1.5 < 1.6 epochs), so the all-
    // saturated branch is unreachable and den > 0 whenever any
    // source has tokens; zero-token sources are fenced out of the
    // prefix chain (sorted last, allocated 0, NULL epochs — NULLIF on
    // both engines, ADVICE r15 discipline). Overflow audit at the
    // 100 TB regime (n ≤ 2.5e13 tokens/source, |sources| ≤ 1e3):
    // w ≤ 5e12, B ≤ 3.8e16, w·num ≤ 2e29, cap·tw ≤ 2e29,
    // qk ≤ 4e31 — all inside decimal(38,0)/HUGEINT. Plan at 100 TB:
    // ZERO corpus scans of its own — per-source masses reduce from
    // the memoized [[sourceLenCounts]] histogram (value-bounded);
    // every window runs over the |sources|-row aggregate frame (the
    // q116 bounded-WindowExec device). BudgetFillSpec drives hand
    // corpora against a BigInt rational brute force.
    Q("q177_token_budget_fill",
      """WITH t AS (SELECT source,
        |             sum(len(list_filter(string_split(text, ' '), x -> x != '')))::HUGEINT AS n
        |           FROM documents GROUP BY 1),
        |w AS (SELECT source, n,
        |        CAST(floor(sqrt(n::DOUBLE) * 1000000) AS HUGEINT) AS w_int,
        |        (8::HUGEINT * n) // 5 AS cap
        |      FROM t),
        |g AS (SELECT sum(w_int) AS tw, (3::HUGEINT * sum(n)) // 2 AS b FROM w),
        |k AS (SELECT w.*, g.tw, g.b,
        |        CASE WHEN w_int = 0 THEN 1 ELSE 0 END AS wz,
        |        CASE WHEN w_int = 0 THEN 0::HUGEINT
        |             ELSE (cap * 1000000000000000000::HUGEINT) // w_int END AS qk
        |      FROM w, g),
        |r AS (SELECT k.*,
        |        row_number() OVER (ORDER BY wz, qk, source) AS rk,
        |        sum(cap)   OVER (ORDER BY wz, qk, source) AS cumcap,
        |        sum(w_int) OVER (ORDER BY wz, qk, source) AS cumw
        |      FROM k),
        |sat AS (SELECT r.*,
        |          bool_and((b - (cumcap - cap)) * w_int > cap * (tw - (cumw - w_int)))
        |            OVER (ORDER BY rk) AS is_sat
        |        FROM r),
        |lvl AS (SELECT any_value(b) - coalesce(sum(cap) FILTER (WHERE is_sat), 0) AS num,
        |               coalesce(sum(w_int) FILTER (WHERE NOT is_sat), 0) AS den
        |        FROM sat),
        |fl AS (SELECT sat.*, lvl.num, lvl.den,
        |         CASE WHEN is_sat THEN cap
        |              WHEN w_int = 0 THEN 0::HUGEINT
        |              ELSE (w_int * num) // den END AS alloc0,
        |         CASE WHEN is_sat THEN (-1)::HUGEINT
        |              WHEN w_int = 0 THEN 0::HUGEINT
        |              ELSE (w_int * num) % den END AS remv
        |       FROM sat, lvl),
        |h AS (SELECT fl.*,
        |        row_number() OVER (ORDER BY remv DESC, source) AS hrk,
        |        (SELECT any_value(b) - sum(alloc0) FROM fl) AS leftover
        |      FROM fl)
        |SELECT source, n::BIGINT AS n_tokens, cap::BIGINT AS cap_tokens,
        |       (alloc0 + CASE WHEN NOT is_sat AND hrk <= leftover THEN 1 ELSE 0 END)::BIGINT AS alloc_tokens,
        |       ((1000::HUGEINT * (alloc0 + CASE WHEN NOT is_sat AND hrk <= leftover THEN 1 ELSE 0 END))
        |        // NULLIF(n, 0))::BIGINT AS epochs_milli,
        |       (CASE WHEN is_sat THEN 1 ELSE 0 END)::BIGINT AS saturated
        |FROM h ORDER BY source""".stripMargin, Family.Mining) { (s, dir) =>
      budgetFill(sourceLenCounts(s, dir).groupBy("source")
        .agg(sum(expr("v * c")).as("n")))
    },

    // ---- Deterministic curriculum interleave (round 16 — the data
    // ORDERING step after q155/q177 decide the mix: short-first
    // within each source (token count as the difficulty proxy, the
    // standard length curriculum), sources interleaved round-robin at
    // equal per-source position so no source monopolizes any training
    // window. Output: each doc's per-source position p and its global
    // curriculum rank — a permutation of 1..N, byte-deterministic.
    // Plan at 100 TB — TWO scale devices replace the naive windows:
    // (1) p is NOT one giant per-source sort (the q97 single-task
    // skew): it decomposes counting-sort style into a prefix over the
    // MEMOIZED value-bounded (source, length, count) histogram
    // [[sourceLenCounts]] (broadcast back) plus a tie row_number
    // partitioned by (source, length) — per-task work is one source's
    // single length class, not the source; (2) global_rank is NOT a
    // global row_number (one task over the corpus): with per-source
    // totals n_s broadcast as a |sources|-row array, the rank of
    // (p, source) in the (p, source) lex order is CLOSED-FORM —
    // Σ_s' min(n_s', p−1) counts every doc at an earlier position,
    // + |{s' < source : n_s' ≥ p}| counts same-position docs from
    // earlier sources — one HOF fold per row, map-side, zero
    // exchanges. Both engines agree exactly (integer arithmetic,
    // total order (nt, doc_id) is tie-free).
    Q("q184_curriculum_interleave",
      """WITH tok AS (SELECT doc_id, source,
        |               len(list_filter(string_split(text, ' '), x -> x != ''))::BIGINT AS nt
        |             FROM documents),
        |pp AS (SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source ORDER BY nt, doc_id)::BIGINT AS p
        |       FROM tok)
        |SELECT doc_id, source, p,
        |       row_number() OVER (ORDER BY p, source)::BIGINT AS global_rank
        |FROM pp ORDER BY doc_id""".stripMargin, Family.Mining) { (s, dir) =>
      curriculumRanked(s, dir)
        .select(col("doc_id"), col("source"), col("p"), col("global_rank"))
        .orderBy("doc_id")
    },

    // ---- Training-step boundary census (round 16 — what each
    // optimizer step actually SEES under q184's order and a fixed
    // token budget per step: docs per step (short-first means early
    // steps pack many short docs — the curriculum's gradient-noise
    // profile, made visible), token mass per step (≈ the budget,
    // ragged only at doc boundaries), and distinct sources per step —
    // the round-robin fairness guarantee inspected at the granularity
    // where it matters, the step, not the position. Step = exclusive
    // cumulative tokens div 2048 in curriculum-rank order. Plan at
    // 100 TB: the rank is q184's closed form (map-side); the global
    // token prefix is the [[LlmText.globalOffsets]] device keyed on
    // the DENSE rank — per-bucket windows + a ~|buckets|-row driver
    // prefix, never a one-task corpus window; the census agg is
    // |steps|-bounded.
    Q("q195_step_boundaries",
      s"""WITH tok AS (SELECT doc_id, source,
         |               len(list_filter(string_split(text, ' '), x -> x != ''))::BIGINT AS nt
         |             FROM documents),
         |pp AS (SELECT doc_id, source, nt,
         |         row_number() OVER (PARTITION BY source ORDER BY nt, doc_id)::BIGINT AS p
         |       FROM tok),
         |rk AS (SELECT source, nt, row_number() OVER (ORDER BY p, source) AS gr FROM pp),
         |o AS (SELECT source, nt, (sum(nt) OVER (ORDER BY gr) - nt) AS off FROM rk)
         |SELECT (off // $StepTokens)::BIGINT AS step, count(*)::BIGINT AS n_docs,
         |       sum(nt)::BIGINT AS n_tokens,
         |       count(DISTINCT source)::BIGINT AS n_sources
         |FROM o GROUP BY 1 ORDER BY step""".stripMargin, Family.Mining) { (s, dir) =>
      LlmText.globalOffsets(
          curriculumRanked(s, dir)
            .select(col("global_rank").as("doc_id"),
              col("nt").as("n_tokens"), col("source")), 32)
        .groupBy(expr(s"tok_offset div $StepTokens").as("step"))
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
          countDistinct("source").as("n_sources"))
        .orderBy("step")
    },

    // ---- Content-defined chunk dedup census (round 16 — the
    // sub-document companion to q38's exact doc dedup and q146's
    // winnowing: CDC splits each document at CONTENT-determined
    // positions — after any word-trigram whose q146 gram hash ≡ 0
    // mod 16 (the Rabin/Gear rolling-cut idea at token granularity,
    // ~16-token expected chunks) — so a shared passage chunks
    // IDENTICALLY regardless of where it sits in its host document,
    // and exact chunk-hash equality then finds repeated passages that
    // whole-document hashing misses and winnowing only samples.
    // Output: per source, the chunk/token mass and how much of it is
    // a byte-exact repeat of an EARLIER chunk in corpus (doc_id, idx)
    // order — the storage/training-token win chunk-level dedup would
    // realize. Deterministic: first-occurrence order is total; exact
    // integers; NULLIF guards the all-empty-source ratio on both
    // engines. Plan at 100 TB: ONE corpus scan; the whole
    // chunker (tokens → gram hashes → cut positions → per-chunk md5)
    // is a map-side HOF pipeline inside the scan stage, and ONLY
    // (doc_id, source, idx, hash, len) leaves it — chunk TEXT never
    // crosses an exchange (the q171 discipline). One shuffle on
    // chunk-hash for the first-occurrence window, one |sources|-
    // bounded agg. Zero-token docs yield one empty chunk (md5('')) on
    // both engines, counting empty-doc repeats as duplicates.
    Q("q178_cdc_chunk_dedup",
      """WITH w AS (SELECT doc_id, source,
        |             list_filter(string_split(text, ' '), x -> x != '') AS ws
        |           FROM documents),
        |c AS (SELECT doc_id, source, ws, len(ws) AS n,
        |        CASE WHEN len(ws) >= 3 THEN
        |          list_transform(
        |            list_filter(generate_series(0, len(ws) - 3),
        |              i -> (('0x' || substr(md5(ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]), 1, 8))::BIGINT % 16 = 0)
        |                   AND i + 3 < len(ws)),
        |            i -> i + 3)
        |        ELSE [] END AS cuts
        |      FROM w),
        |b AS (SELECT doc_id, source, ws, n,
        |        list_prepend(0, cuts) AS starts, list_append(cuts, n) AS ends
        |      FROM c),
        |ch AS (SELECT doc_id, source, (j - 1)::BIGINT AS idx,
        |         md5(array_to_string(list_slice(ws, starts[j] + 1, ends[j]), ' ')) AS chash,
        |         (ends[j] - starts[j])::BIGINT AS clen
        |       FROM b, unnest(generate_series(1, len(starts))) AS t(j)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY chash ORDER BY doc_id, idx) AS rn FROM ch)
        |SELECT source,
        |       count(*)::BIGINT AS n_chunks,
        |       sum(clen)::BIGINT AS n_tokens,
        |       sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::BIGINT AS dup_chunks,
        |       sum(CASE WHEN rn > 1 THEN clen ELSE 0 END)::BIGINT AS dup_tokens,
        |       (1000 * sum(CASE WHEN rn > 1 THEN clen ELSE 0 END)
        |        // NULLIF(sum(clen), 0))::BIGINT AS dup_milli
        |FROM r GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      cdcChunks(docs(s, dir))
        .withColumn("rn", row_number().over(
          Window.partitionBy("chash").orderBy("doc_id", "idx")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_chunks"),
          sum("clen").as("n_tokens"),
          sum(when(col("rn") > 1, 1L).otherwise(0L)).as("dup_chunks"),
          sum(when(col("rn") > 1, col("clen")).otherwise(0L)).as("dup_tokens"))
        .withColumn("dup_milli",
          expr("(1000 * dup_tokens) div nullif(n_tokens, 0)"))
        .orderBy("source")
    },

    // ---- Lexical distribution-shift score (round 16 — the data-
    // SELECTION step the mix family feeds: score every document by
    // how much its unigram mass sits in the TARGET domain's
    // distribution vs the whole corpus — the exact-lexical form of
    // importance-resampling selection (hashed-ngram DSIR reduces to
    // this when the feature space is the vocabulary itself). Target
    // here: the declared-English slice. Per-token score of word w is
    // f_target(w) − f_base(w) in integer micro (occurrence share of
    // each distribution); a document's score is its per-token mean
    // (truncating div — Spark div and DuckDB // both round toward
    // zero, the q157 centroid discipline, so NEGATIVE scores agree
    // too). Output per source: scored docs, mean score, and the
    // positive-score count — the "how much of each source looks like
    // the target" selection table. Plan at 100 TB: ONE corpus
    // explode → per-(doc, word) counts, PERSISTED (the q156 shared-
    // frame discipline) because both the vocabulary frequency table
    // and the scoring join read it; the freq table is vocab-bounded
    // (Heaps), totals reduce off IT (never the corpus) and broadcast
    // back as one row; the scoring join re-shuffles only the
    // (doc, word) frame on w. Zero-token docs never enter the token
    // stream → reported column is n_scored, not n_docs; an empty
    // target slice NULLs every score identically on both engines
    // (NULLIF, ADVICE r15 discipline).
    Q("q179_lexical_shift",
      """WITH tok AS (SELECT doc_id, source, lang,
        |               unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
        |             FROM documents),
        |dw AS (SELECT doc_id, source, lang, w, count(*)::BIGINT AS c
        |       FROM tok GROUP BY 1, 2, 3, 4),
        |f AS (SELECT w,
        |        sum(CASE WHEN lang = 'en' THEN c ELSE 0 END)::HUGEINT AS ntw,
        |        sum(c)::HUGEINT AS nbw
        |      FROM dw GROUP BY 1),
        |t AS (SELECT sum(ntw) AS ntt, sum(nbw) AS ntb FROM f),
        |fr AS (SELECT w,
        |         (1000000::HUGEINT * ntw // NULLIF(ntt, 0))::BIGINT AS ft,
        |         (1000000::HUGEINT * nbw // NULLIF(ntb, 0))::BIGINT AS fb
        |       FROM f, t),
        |d AS (SELECT dw.doc_id, dw.source,
        |        sum(c * (ft - fb))::BIGINT AS sd, sum(c)::BIGINT AS nt
        |      FROM dw JOIN fr USING (w) GROUP BY 1, 2),
        |sc AS (SELECT source, sd // nt AS score FROM d)
        |SELECT source, count(*)::BIGINT AS n_scored,
        |       (sum(score) // count(*))::BIGINT AS mean_score_micro,
        |       sum(CASE WHEN score > 0 THEN 1 ELSE 0 END)::BIGINT AS n_positive
        |FROM sc GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      lexicalShift(docs(s, dir), targetLang = "en")
        .groupBy("source")
        .agg(count(lit(1)).as("n_scored"),
          sum("score").as("ss"),
          sum(when(col("score") > 0, 1L).otherwise(0L)).as("n_positive"))
        .withColumn("mean_score_micro", expr("ss div n_scored"))
        .select("source", "n_scored", "mean_score_micro", "n_positive")
        .orderBy("source")
    },

    // ---- Cross-source OOV matrix (round 16 — the COVERAGE direction
    // q156/q159 don't answer: q156 says which source pairs share
    // content and q159 which terms a source over-represents; this says
    // how much of source A a tokenizer/LM fitted on source B has never
    // seen — the number that decides whether B's vocabulary (or a
    // B-trained model) transfers to A. Per ORDERED pair (s1 = the
    // evaluated source, s2 = the vocabulary source): token OCCURRENCES
    // of s1 whose word is absent from s2's vocabulary (the mass a
    // byte-fallback tokenizer would shred), distinct TYPES absent
    // (the merge-table gap), and both as milli shares. Asymmetric by
    // construction (a small clean source is usually covered by a big
    // web source, never the reverse) — both directions are emitted.
    // Exact integers; the milli products run in decimal(38,0)/HUGEINT
    // UNCONDITIONALLY (1000·n_occ wraps int64 at ~9e15 tokens/source —
    // inside the 100 TB regime). Zero-token sources contribute no
    // (source, w, c) rows, so they drop out of the matrix IDENTICALLY
    // on both engines (explode and unnest both emit nothing for an
    // empty token list); the NULLIF share guards are therefore
    // unreachable belt-and-braces, kept for the ADVICE r15 discipline.
    // Plan at 100 TB: ZERO corpus scans of its own — everything
    // reduces off the MEMOIZED Heaps-bounded (source, w, c) frame
    // ([[sourceTermCounts]], its one shuffle already paid by
    // q159/q187): covered mass groups that frame by w with a
    // |sources|-bounded collect_list and explodes ordered pairs per
    // word (≤ |sources|·(|sources|−1) rows each, the q156 device with
    // counts attached — NO gram self-join: the oracle's a.w = b.w form
    // shuffles the vocab twice and its skew is the head word's
    // |sources|², ours moves each vocab row once); per-source totals
    // are a |sources|-row agg; the full |sources|² pair grid comes
    // from a broadcast cross of the totals with itself so
    // ZERO-OVERLAP pairs still report (the q192 full-coverage
    // discipline), with the |sources|²-bounded covered frame and the
    // totals both broadcast into it.
    Q("q198_oov_matrix",
      """WITH sw AS (SELECT source, w, count(*)::BIGINT AS c
        |            FROM (SELECT source, unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS w
        |                  FROM documents)
        |            GROUP BY 1, 2),
        |t AS (SELECT source, sum(c)::BIGINT AS n_occ, count(*)::BIGINT AS n_types
        |      FROM sw GROUP BY 1),
        |cov AS (SELECT a.source AS s1, b.source AS s2,
        |               sum(a.c)::BIGINT AS cov_occ, count(*)::BIGINT AS cov_types
        |        FROM sw a JOIN sw b ON a.w = b.w AND a.source <> b.source
        |        GROUP BY 1, 2)
        |SELECT ta.source AS s1, tb.source AS s2,
        |       (ta.n_occ - coalesce(cov_occ, 0))::BIGINT AS oov_occ,
        |       (ta.n_types - coalesce(cov_types, 0))::BIGINT AS oov_types,
        |       (1000::HUGEINT * (ta.n_occ - coalesce(cov_occ, 0)) // NULLIF(ta.n_occ, 0))::BIGINT AS oov_occ_milli,
        |       (1000::HUGEINT * (ta.n_types - coalesce(cov_types, 0)) // NULLIF(ta.n_types, 0))::BIGINT AS oov_type_milli
        |FROM t ta JOIN t tb ON ta.source <> tb.source
        |LEFT JOIN cov ON cov.s1 = ta.source AND cov.s2 = tb.source
        |ORDER BY s1, s2""".stripMargin, Family.Mining) { (s, dir) =>
      val st = sourceTermCounts(s, dir)
      val t = st.groupBy("source")
        .agg(sum("c").as("n_occ"), count(lit(1)).as("n_types"))
      val cov = st.groupBy("w")
        .agg(collect_list(struct(col("source"), col("c"))).as("ps"))
        .filter(size(col("ps")) >= 2)
        .select(explode(expr(
          """flatten(transform(ps, a ->
            |  transform(filter(ps, b -> b.source != a.source),
            |    b -> struct(a.source AS s1, b.source AS s2, a.c AS ca))))""".stripMargin))
          .as("p"))
        .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
        .agg(sum("p.ca").as("cov_occ"), count(lit(1)).as("cov_types"))
      t.select(col("source").as("s1"), col("n_occ"), col("n_types"))
        .crossJoin(broadcast(t.select(col("source").as("s2"))))
        .filter(col("s1") =!= col("s2"))
        .join(broadcast(cov), Seq("s1", "s2"), "left")
        .select(col("s1"), col("s2"),
          (col("n_occ") - coalesce(col("cov_occ"), lit(0L))).as("oov_occ"),
          (col("n_types") - coalesce(col("cov_types"), lit(0L))).as("oov_types"),
          expr("(cast(1000 as decimal(38,0)) * (n_occ - coalesce(cov_occ, 0))) div nullif(n_occ, 0)")
            .cast("long").as("oov_occ_milli"),
          expr("(cast(1000 as decimal(38,0)) * (n_types - coalesce(cov_types, 0))) div nullif(n_types, 0)")
            .cast("long").as("oov_type_milli"))
        .orderBy("s1", "s2")
    },

    // ---- Zipf doubling-rank curve (round 16 — the RANK-FREQUENCY
    // shape screen completing the vocabulary triptych: q168 measures
    // growth (Heaps), q173 head mass, q187 the hapax tail; this
    // measures the SLOPE in between, log-free. Per source, the term
    // frequency at every power-of-two rank plus the doubling ratio
    // f(2k)/f(k) in integer milli — under Zipf f(k) ∝ k^(−α) the
    // ratio is the CONSTANT 2^(−α)·1000 (α=1 → 500), so a healthy
    // source reads as a flat column; a ratio collapsing toward 0
    // names template spam (cliff after the boilerplate head), one
    // pinned near 1000 names id-junk/OCR garble (no head at all).
    // Log-free ⇒ exact: ties broken (freq DESC, term ASC) give both
    // engines the IDENTICAL total order, the milli ratio is a pure
    // truncating quotient, and the product runs in
    // decimal(38,0)/HUGEINT UNCONDITIONALLY (1000·freq wraps int64 at
    // ~9e15 head-word occurrences — the 100 TB regime). Rank 1's
    // ratio is NULL on both engines (lag over the first sampled row).
    // Plan at 100 TB: ZERO corpus scans of its own — ranks are one
    // window over the MEMOIZED Heaps-bounded (source, w, c) frame
    // ([[sourceTermCounts]]); the power-of-two filter keeps
    // ⌊log2 |vocab_s|⌋+1 rows per source, so the lag window and the
    // result are |sources|·~25 rows. The per-source sort is the
    // irreducible cost of exact ranks and it sorts the VOCAB frame
    // (Heaps-bounded), never the corpus.
    Q("q199_zipf_curve",
      """WITH sw AS (SELECT source, w, count(*)::BIGINT AS c
        |            FROM (SELECT source, unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS w
        |                  FROM documents)
        |            GROUP BY 1, 2),
        |r AS (SELECT source, c,
        |        row_number() OVER (PARTITION BY source ORDER BY c DESC, w)::BIGINT AS rk
        |      FROM sw),
        |p AS (SELECT source, rk, c FROM r WHERE (rk & (rk - 1)) = 0)
        |SELECT source, rk, c AS freq,
        |       (1000::HUGEINT * c // lag(c) OVER (PARTITION BY source ORDER BY rk))::BIGINT AS ratio_milli
        |FROM p ORDER BY source, rk""".stripMargin, Family.Mining) { (s, dir) =>
      val rkW = Window.partitionBy("source").orderBy(col("c").desc, col("w"))
      val lagW = Window.partitionBy("source").orderBy("rk")
      sourceTermCounts(s, dir)
        .select(col("source"), col("c"),
          row_number().over(rkW).cast("long").as("rk"))
        .filter(expr("(rk & (rk - 1)) = 0"))
        .withColumn("prev_c", lag("c", 1).over(lagW))
        .select(col("source"), col("rk"), col("c").as("freq"),
          expr("(cast(1000 as decimal(38,0)) * c) div prev_c")
            .cast("long").as("ratio_milli"))
        .orderBy("source", "rk")
    },

    // ---- Head-word burstiness census (round 16 — the DISPERSION
    // screen the frequency tables can't see: q110's lift and q173's
    // head mass treat a word's occurrences as exchangeable, but
    // keyword-stuffed spam puts its occurrences in FEW documents
    // (clumped) while function words spread evenly. Exact Fano factor
    // (variance-to-mean of the per-document count, zero-docs
    // included) for the top-20 corpus head words, in integer milli:
    // fano = 1000·(N·Σc² − (Σc)²) div (N·Σc) over N = ALL documents —
    // 1000 ≈ Poisson (healthy), ≫1000 = clumped (spam/boilerplate
    // carrier), <1000 = under-dispersed (template filler). Also the
    // doc frequency and mean occurrences·1e6 for context. Every
    // moment is an exact integer; N·Σc² runs in decimal(38,0)/HUGEINT
    // UNCONDITIONALLY (≈1e28 at the 100 TB regime — far past int64),
    // and c² is cast BEFORE the per-doc square on both engines so the
    // square itself cannot wrap. Plan at 100 TB: head selection is a
    // 20-row limit off the MEMOIZED vocab frame (TakeOrdered, no
    // global sort materializes); the corpus token stream filters
    // against that 20-row broadcast BEFORE its (doc, w) shuffle, so
    // only head-word occurrences — |head|-bounded per doc — ever
    // cross an exchange; the census agg is 20 rows; N is a broadcast
    // scalar.
    Q("q200_burstiness",
      """WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS w
        |             FROM documents),
        |v AS (SELECT w, count(*)::BIGINT AS n_w FROM tok GROUP BY 1),
        |h AS (SELECT w FROM v ORDER BY n_w DESC, w LIMIT 20),
        |dc AS (SELECT doc_id, w, count(*)::BIGINT AS c
        |       FROM tok JOIN h USING (w) GROUP BY 1, 2),
        |n AS (SELECT count(*)::BIGINT AS n FROM documents),
        |f AS (SELECT w, count(*)::BIGINT AS df,
        |        sum(c::HUGEINT) AS sc, sum((c::HUGEINT) * c) AS sc2
        |      FROM dc GROUP BY 1)
        |SELECT w, df, sc::BIGINT AS n_w,
        |       (1000000::HUGEINT * sc // n.n)::BIGINT AS mean_micro,
        |       (1000 * (n.n * sc2 - sc * sc) // (n.n * sc))::BIGINT AS fano_milli
        |FROM f, n ORDER BY w""".stripMargin, Family.Mining) { (s, dir) =>
      val head = vocab(s, dir).orderBy(col("n_w").desc, col("w")).limit(20).select("w")
      val dc = docs(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .join(broadcast(head), "w")
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      val n = docs(s, dir).agg(count(lit(1)).as("n"))
      dc.groupBy("w")
        .agg(count(lit(1)).as("df"),
          sum(col("c").cast("decimal(38,0)")).as("sc"),
          sum(col("c").cast("decimal(38,0)") * col("c")).as("sc2"))
        .crossJoin(broadcast(n))
        .select(col("w"), col("df"), col("sc").cast("long").as("n_w"),
          expr("(cast(1000000 as decimal(38,0)) * sc) div n").cast("long").as("mean_micro"),
          expr("(1000 * (n * sc2 - sc * sc)) div (n * sc)").cast("long").as("fano_milli"))
        .orderBy("w")
    },

    // ---- Stopword-profile style matrix (round 16 — the REGISTER/
    // style companion to q156's content overlap and q198's vocabulary
    // coverage: two sources can share zero content yet be the same
    // KIND of text, and function-word (stopword) frequency profiles
    // are the classic stylometry signal — content-free, tokenizer-
    // stable, 22 dimensions. Per unordered source pair, the SQUARED
    // cosine between micro-scaled stopword share vectors, in integer
    // micro: cos² = (1e6·dot²) div (‖a‖²·‖b‖²) — squaring instead of
    // rooting keeps the whole chain in exact integer arithmetic (no
    // sqrt ever happens; cos² is monotone in |cos|, which is all a
    // drift ranking needs), and Cauchy–Schwarz on the TRUNCATED
    // vectors bounds it at 1e6 exactly. Shares are per-source
    // truncating quotients (1e6·c) div total, so a 100 TB source and
    // its 1 GB sample read as the same point. Overflow audit:
    // shares ≤ 1e6 ⇒ dot ≤ 22e12, dot² ≤ 4.9e26, ×1e6 ≈ 5e32 —
    // decimal(38,0)/HUGEINT holds with five orders to spare; every
    // product is cast before multiplication on both engines.
    // Zero-stopword sources contribute no profile rows and drop out
    // identically on both engines; NULLIF belt-and-braces per the
    // ADVICE r15 discipline. Plan at 100 TB: ONE corpus scan whose
    // token stream filters against the 22-word broadcast list BEFORE
    // the (source, w) shuffle; the profile frame is ≤ 22·|sources|
    // rows — census-scale, persisted (persistForQuery, the skyline
    // ADVICE r12 discipline) because norms, the pair dot, and the
    // grid all read it; the pair dot self-joins the CENSUS frame
    // (broadcast), never anything corpus-scale; the |sources|² grid
    // reports zero-dot pairs via the norms cross (q192 discipline).
    Q("q201_stopword_cosine",
      s"""WITH tok AS (SELECT source, unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS w
         |             FROM documents),
         |sc AS (SELECT source, w, count(*)::BIGINT AS c FROM tok
         |       WHERE w IN ($StopwordsSql) GROUP BY 1, 2),
         |t AS (SELECT source, sum(c)::BIGINT AS tot FROM sc GROUP BY 1),
         |p AS (SELECT sc.source, w, (1000000::HUGEINT * c // tot)::BIGINT AS p
         |      FROM sc JOIN t USING (source)),
         |nrm AS (SELECT source, sum((p::HUGEINT) * p) AS n2 FROM p GROUP BY 1),
         |d AS (SELECT a.source AS s1, b.source AS s2,
         |        sum((a.p::HUGEINT) * b.p) AS dot, count(*)::BIGINT AS n_common
         |      FROM p a JOIN p b ON a.w = b.w AND a.source < b.source
         |      GROUP BY 1, 2)
         |SELECT na.source AS s1, nb.source AS s2,
         |       coalesce(n_common, 0)::BIGINT AS n_common,
         |       (1000000::HUGEINT * coalesce(dot, 0) * coalesce(dot, 0)
         |        // NULLIF(na.n2 * nb.n2, 0))::BIGINT AS cos2_micro
         |FROM nrm na JOIN nrm nb ON na.source < nb.source
         |LEFT JOIN d ON d.s1 = na.source AND d.s2 = nb.source
         |ORDER BY s1, s2""".stripMargin) { (s, dir) =>
      val scf = docs(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .filter(col("w").isin(Stopwords: _*))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      val t = scf.groupBy("source").agg(sum("c").as("tot"))
      val p = scf.join(broadcast(t), "source")
        .select(col("source"), col("w"),
          expr("(cast(1000000 as decimal(38,0)) * c) div tot").cast("long").as("p"))
        .transform(Caches.persistForQuery)
      val nrm = p.groupBy("source")
        .agg(sum(expr("cast(p as decimal(38,0)) * p")).as("n2"))
      val d = p.as("a")
        .join(broadcast(p.as("b")),
          col("a.w") === col("b.w") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
        .agg(sum(expr("cast(a.p as decimal(38,0)) * b.p")).as("dot"),
          count(lit(1)).as("n_common"))
      nrm.as("na")
        .join(broadcast(nrm.as("nb")), col("na.source") < col("nb.source"))
        .select(col("na.source").as("s1"), col("nb.source").as("s2"),
          col("na.n2").as("n2a"), col("nb.n2").as("n2b"))
        .join(broadcast(d), Seq("s1", "s2"), "left")
        .select(col("s1"), col("s2"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          expr("""cast((cast(1000000 as decimal(38,0)) * coalesce(dot, 0) * coalesce(dot, 0))
                 |  div nullif(n2a * n2b, 0) as long)""".stripMargin).as("cos2_micro"))
        .orderBy("s1", "s2")
    },

    // ---- Curriculum step-novelty decay (round 16 — the TRAINING-
    // DYNAMICS face of first-occurrence attribution: q147 prices
    // novelty per SOURCE (the mix decision), this prices it per
    // OPTIMIZER STEP under q184's curriculum order (the schedule
    // decision) — whether late steps still teach new n-grams or just
    // re-grind the head, the number behind early-stopping a pass over
    // an epoch and behind q177's repetition caps. Per q195 step:
    // gram-occurrence mass, FIRST-occurrence mass (gram's first doc in
    // curriculum-rank order — all its occurrences in that doc count
    // novel, the q147 attribution), distinct NEW grams, and
    // novelty_milli. Exact integers; per-step counts are bounded by
    // StepTokens ≈ 2048 occurrences so no product ever nears int64;
    // ties and order are total (rank is a bijection). Plan at 100 TB:
    // the doc→(rank, step) map reuses [[curriculumRanked]] (counting-
    // sort position, closed-form rank — broadcast joins only) and the
    // bucketed globalOffsets prefix (q195's device); grams explode
    // MAP-SIDE from the corpus scan, and the fixed-width (doc_id, h)
    // frame — never text — shuffles once on doc_id to attach
    // (rank, step), once on h for the first-occurrence agg, and
    // reuses that h exchange for the attribution join (the q147
    // device); the census agg is |steps|-bounded. The extra doc_id
    // shuffle is the irreducible attach cost: rank is a global
    // property no map-side expression can compute.
    Q("q202_step_novelty",
      s"""WITH tok AS (SELECT doc_id, source,
         |               list_filter(string_split(text, ' '), x -> x != '') AS ws
         |             FROM documents),
         |nt AS (SELECT doc_id, source, ws, len(ws)::BIGINT AS nt FROM tok),
         |pp AS (SELECT doc_id, source, ws, nt,
         |         row_number() OVER (PARTITION BY source ORDER BY nt, doc_id)::BIGINT AS p
         |       FROM nt),
         |rk AS (SELECT doc_id, ws, nt, row_number() OVER (ORDER BY p, source)::BIGINT AS gr
         |       FROM pp),
         |o AS (SELECT doc_id, ws, gr,
         |        ((sum(nt) OVER (ORDER BY gr) - nt) // $StepTokens)::BIGINT AS step
         |      FROM rk),
         |g AS (SELECT gr, step,
         |        ('0x' || substr(md5(ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]), 1, 8))::BIGINT AS h
         |      FROM o, unnest(generate_series(0, len(ws) - 3)) AS t(i)
         |      WHERE len(ws) >= 3),
         |f AS (SELECT h, min(gr) AS fr FROM g GROUP BY 1)
         |SELECT step, count(*)::BIGINT AS n_occ,
         |       count(*) FILTER (WHERE gr = fr)::BIGINT AS n_novel_occ,
         |       count(DISTINCT h) FILTER (WHERE gr = fr)::BIGINT AS n_new_grams,
         |       (1000 * count(*) FILTER (WHERE gr = fr) // count(*))::BIGINT AS novelty_milli
         |FROM g JOIN f USING (h)
         |GROUP BY step ORDER BY step""".stripMargin, Family.Mining) { (s, dir) =>
      val sm = LlmText.globalOffsets(
          curriculumRanked(s, dir)
            .select(col("doc_id").as("orig_id"),
              col("global_rank").as("doc_id"), col("nt").as("n_tokens")), 32)
        .select(col("orig_id").as("doc_id"), col("doc_id").as("gr"),
          expr(s"tok_offset div $StepTokens").as("step"))
      val g = docs(s, dir)
        .select(col("doc_id"),
          expr("filter(split(text, ' '), x -> x != '')").as("ws"))
        .filter(size(col("ws")) >= 3)
        // widen before the md5 gram explode (q146's rationale)
        .repartition(s.sessionState.conf.numShufflePartitions)
        .select(col("doc_id"), explode(expr(triHashes("ws"))).as("h"))
        .join(sm, "doc_id")
      // first-occurrence rank as a WINDOW over the gram stream, not a
      // groupBy(h)+join-back (round 22, guide §2.4): the join form put
      // the md5 gram explode in the DAG twice (agg side + probe side —
      // the partial-agg above one copy defeats exchange reuse) and
      // shuffled it twice; min() OVER (PARTITION BY h) is one shuffle
      // of g and zero joins, and h is a 2^32-domain hash so the window
      // partitioning is skew-free at any scale. Result identical:
      // fr(h) = min(gr) per hash either way (the oracle's f-CTE).
      g.withColumn("fr", min("gr").over(Window.partitionBy("h")))
        .groupBy("step")
        .agg(count(lit(1)).as("n_occ"),
          count(when(col("gr") === col("fr"), 1)).as("n_novel_occ"),
          countDistinct(when(col("gr") === col("fr"), col("h"))).as("n_new_grams"))
        .withColumn("novelty_milli", expr("1000 * n_novel_occ div n_occ"))
        .select("step", "n_occ", "n_novel_occ", "n_new_grams", "novelty_milli")
        .orderBy("step")
    },

    // ---- Padded-batch waste census (round 16 — the OTHER batching
    // regime's cost table: q70/q170 price sequence PACKING
    // (concatenate-and-split); fine-tuning and inference stacks
    // instead BUCKET-AND-PAD — each doc rounds up to the next
    // power-of-two bucket, docs past the context window truncate —
    // and the decision between the regimes is exactly this table.
    // Per bucket (16..2048): docs, kept-token mass, PAD slots bought
    // (Σ bucket − len, the attention-FLOPs burned on padding),
    // TRUNCATED tokens (data thrown away at the context cap), and the
    // pad share of the bucket's slot mass in milli. Exact integers;
    // the milli product runs decimal(38,0)/HUGEINT UNCONDITIONALLY
    // (1000·slot-mass wraps int64 inside the 100 TB regime).
    // Zero-token docs have nothing to batch and drop on both engines.
    // Plan at 100 TB: ZERO corpus scans of its own — everything is
    // arithmetic over the MEMOIZED value-bounded (source, len, count)
    // histogram ([[sourceLenCounts]], its one shuffle already paid by
    // q165/q184/q197), reduced to the global length histogram and an
    // ≤8-row census.
    Q("q207_padding_waste",
      """WITH d AS (SELECT len(list_filter(string_split(text, ' '), x -> x != ''))::BIGINT AS v
        |           FROM documents),
        |h AS (SELECT v, count(*)::BIGINT AS c FROM d WHERE v > 0 GROUP BY 1),
        |b AS (SELECT (CASE WHEN v <= 16 THEN 16 WHEN v <= 32 THEN 32
        |                   WHEN v <= 64 THEN 64 WHEN v <= 128 THEN 128
        |                   WHEN v <= 256 THEN 256 WHEN v <= 512 THEN 512
        |                   WHEN v <= 1024 THEN 1024 ELSE 2048 END)::BIGINT AS bucket,
        |             v, c FROM h)
        |SELECT bucket, sum(c)::BIGINT AS n_docs,
        |       sum(c * least(v, 2048))::BIGINT AS n_tokens,
        |       sum(c * greatest(bucket - v, 0))::BIGINT AS pad_tokens,
        |       sum(c * greatest(v - 2048, 0))::BIGINT AS trunc_tokens,
        |       (1000::HUGEINT * sum(c * greatest(bucket - v, 0))
        |        // (sum(c) * bucket))::BIGINT AS pad_milli
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin, Family.Mining) { (s, dir) =>
      sourceLenCounts(s, dir)
        .groupBy("v").agg(sum("c").as("c"))
        .filter(col("v") > 0)
        .withColumn("bucket", expr(
          """CASE WHEN v <= 16 THEN 16 WHEN v <= 32 THEN 32
            |     WHEN v <= 64 THEN 64 WHEN v <= 128 THEN 128
            |     WHEN v <= 256 THEN 256 WHEN v <= 512 THEN 512
            |     WHEN v <= 1024 THEN 1024 ELSE 2048 END""".stripMargin).cast("long"))
        .groupBy("bucket")
        .agg(sum("c").as("n_docs"),
          sum(expr("c * least(v, 2048)")).as("n_tokens"),
          sum(expr("c * greatest(bucket - v, 0)")).as("pad_tokens"),
          sum(expr("c * greatest(v - 2048, 0)")).as("trunc_tokens"))
        .select(col("bucket"), col("n_docs"), col("n_tokens"),
          col("pad_tokens"), col("trunc_tokens"),
          expr("(cast(1000 as decimal(38,0)) * pad_tokens) div (n_docs * bucket)")
            .cast("long").as("pad_milli"))
        .orderBy("bucket")
    },

    // ---- Length↔quality concordance (round 16 — the question behind
    // every cheap length filter: does document LENGTH proxy for
    // QUALITY in this source, or would a length threshold just
    // throttle a domain? Exact Kendall tau-a between the within-
    // source deciles of token count and TTR, per source — rank
    // correlation is the right tool (monotone, outlier-immune), and
    // on DECILED signals it is exact integer arithmetic with no n²
    // pair walk: concordant/discordant pair masses are quadrant sums
    // over the ≤10×10 per-source cell table (C = Σ c_ij·|cells right-
    // and-above|), never enumerated. Deciles are the q160 histogram
    // device ((10·|strictly below|) div n — no corpus-scale rank
    // window); the tau products run decimal(38,0)/HUGEINT
    // UNCONDITIONALLY (C ≈ n²/2 wraps int64 at n ≈ 4.3e9 docs);
    // negative tau truncates toward zero identically on both engines;
    // single-doc sources NULL (no pairs). Plan at 100 TB: ONE corpus
    // kernel pass to (source, x, y); two value-bounded histogram
    // shuffles + cumulative windows build the decile maps; per-doc
    // rows cross exactly two (source, value)-keyed exchanges to pick
    // up their deciles; cells are |sources|·100 rows and the C/D
    // quadrant join is census×census.
    Q("q210_signal_concordance",
      """WITH m AS (SELECT doc_id, source,
        |             len(list_filter(string_split(lower(text), ' '), x -> x != '')) AS nt,
        |             len(list_distinct(list_filter(string_split(lower(text), ' '), x -> x != ''))) AS nd
        |           FROM documents),
        |s AS (SELECT doc_id, source, nt::BIGINT AS x, (1000000 * nd // nt)::BIGINT AS y
        |      FROM m WHERE nt > 0),
        |n AS (SELECT source, count(*)::BIGINT AS n FROM s GROUP BY 1),
        |hx AS (SELECT source, x, count(*)::BIGINT AS c FROM s GROUP BY 1, 2),
        |cx AS (SELECT source, x, (sum(c) OVER (PARTITION BY source ORDER BY x) - c)::BIGINT AS below FROM hx),
        |dxm AS (SELECT cx.source, x, (10 * below // n.n)::BIGINT AS dx
        |        FROM cx JOIN n USING (source)),
        |hy AS (SELECT source, y, count(*)::BIGINT AS c FROM s GROUP BY 1, 2),
        |cy AS (SELECT source, y, (sum(c) OVER (PARTITION BY source ORDER BY y) - c)::BIGINT AS below FROM hy),
        |dym AS (SELECT cy.source, y, (10 * below // n.n)::BIGINT AS dy
        |        FROM cy JOIN n USING (source)),
        |cells AS (SELECT s.source, dx, dy, count(*)::BIGINT AS c
        |          FROM s JOIN dxm ON dxm.source = s.source AND dxm.x = s.x
        |                 JOIN dym ON dym.source = s.source AND dym.y = s.y
        |          GROUP BY 1, 2, 3),
        |cd AS (SELECT a.source,
        |         sum(CASE WHEN b.dx > a.dx AND b.dy > a.dy
        |                  THEN (a.c::HUGEINT) * b.c ELSE 0 END) AS conc,
        |         sum(CASE WHEN b.dx > a.dx AND b.dy < a.dy
        |                  THEN (a.c::HUGEINT) * b.c ELSE 0 END) AS disc
        |       FROM cells a JOIN cells b ON a.source = b.source GROUP BY 1)
        |SELECT n.source, n.n, conc::BIGINT AS n_conc, disc::BIGINT AS n_disc,
        |       (1000::HUGEINT * (conc - disc) * 2
        |        // NULLIF(n.n::HUGEINT * (n.n - 1), 0))::BIGINT AS tau_milli
        |FROM n JOIN cd USING (source) ORDER BY source""".stripMargin) { (s, dir) =>
      signalConcordance(s, dir)
    },

    // ---- blocklist census (round 18): the dirty-lexicon scan every
    // curation pipeline runs — per (source, pattern): documents
    // flagged and total occurrences, over a multi-word/nested pattern
    // set. ONE [[graft.plans.AhoCorasick]] automaton pass per document
    // (O(n + matches) regardless of pattern count — k regexp passes
    // would cost O(k·n)), map-only over the corpus scan; the exploded
    // (source, pattern) stream pre-combines map-side into a
    // |sources|·|patterns| census, so the single exchange carries
    // census rows. Contract: ALL occurrences count (overlaps and
    // nested patterns — "table" inside a "window table" match counts
    // both). The oracle's replace-length trick counts non-overlapping
    // occurrences, equal here because every [[Blocklist]] pattern is
    // border-free (no proper prefix = suffix ⇒ no self-overlap;
    // AhoCorasickSpec pins the property and the general overlap
    // semantics brute-force).
    Q("q226_blocklist_census",
      s"""WITH d AS (SELECT source, lower(text) AS t FROM documents),
         |per AS (SELECT source, term,
         |          CASE WHEN length(t) - length(replace(t, term, '')) > 0
         |               THEN 1 ELSE 0 END AS hit,
         |          (length(t) - length(replace(t, term, ''))) // length(term) AS n
         |        FROM d CROSS JOIN (VALUES ${Blocklist.map(t => s"('${t.replace("'", "''")}')").mkString(", ")}) v(term))
         |SELECT source, term, sum(hit)::BIGINT AS n_docs, sum(n)::BIGINT AS n_hits
         |FROM per GROUP BY 1, 2 ORDER BY source, term""".stripMargin) { (s, dir) =>
      // aggregate the count ARRAY positionally (2 sums per pattern over
      // the one cnts column — a single kernel eval per row), then
      // unpivot the |sources|-bounded result: exploding per corpus row
      // would multiply the stream ×|patterns| AND trip Catalyst's
      // InferFiltersFromGenerate into re-evaluating the kernel in an
      // inferred pre-filter (seen in the executed plan).
      val aggs = Blocklist.indices.flatMap { i =>
        Seq(sum((element_at(col("cnts"), i + 1) > 0).cast("long")).as(s"d$i"),
          sum(element_at(col("cnts"), i + 1)).as(s"h$i")) }
      docs(s, dir)
        .select(col("source"),
          graft.plans.AhoCorasick.counts(lower(col("text")), Blocklist).as("cnts"))
        .groupBy("source").agg(aggs.head, aggs.tail: _*)
        .select(col("source"), explode(array(
          Blocklist.zipWithIndex.map { case (t, i) =>
            struct(lit(t).as("term"), col(s"d$i").as("n_docs"),
              col(s"h$i").as("n_hits")) }: _*)).as("r"))
        .select(col("source"), col("r.term").as("term"),
          col("r.n_docs").as("n_docs"), col("r.n_hits").as("n_hits"))
        .orderBy("source", "term")
    },

    // ---- exact phrase search (round 18): token-adjacent phrase
    // occurrences via positional inverted postings — the retrieval
    // primitive q101's bag-of-words BM25 cannot express. The corpus is
    // scanned ONCE into the phrase-term posting frame (doc_id, pos, w
    // ∈ phrase — the filter prunes inside the single generate pass),
    // persisted because it drives four consumers: the per-term
    // occurrence counts (a |phrase|-row bounded collect — the
    // rarest-first join order is a MEASURED decision, the classic
    // phrase-query optimization) and one offset-shifted frame per
    // term. Adjacency = equi-join on (doc_id, pos − term_offset):
    // rarest term first, so every later join probes at most the
    // rarest list's cardinality; AQE broadcasts the tiny sides at
    // fixture scale, and at 100 TB a deployment serves this from a
    // PRE-BUILT posting index bucketed by term (the q101 analogue) —
    // the query-time joins then shuffle posting rows only, never the
    // corpus. first_pos is 1-based (oracle's generate_subscripts).
    Q("q227_phrase_search",
      s"""${LlmText.sqlPreludeWhere("").stripSuffix(",")}
         |, p AS (SELECT a.doc_id, a.pos FROM toks a
         |      JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |      JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
         |      WHERE a.w = '${Phrase(0)}' AND b.w = '${Phrase(1)}' AND c.w = '${Phrase(2)}')
         |SELECT doc_id, count(*)::BIGINT AS n_occ, min(pos)::BIGINT AS first_pos
         |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin, Family.Mining) { (s, dir) =>
      phraseSearchOn(phrasePost(s, dir, Phrase), Phrase)
    }
  )

  /** q227's persisted posting frame (doc_id, pos, w ∈ phrase),
    * memoized per (session, dir·phrase) like [[vocab]]/[[bpeTrain]]
    * (ADVICE r18: the previous form persisted + ad-hoc-registered a
    * FRESH frame at every plan construction, so repeated q227
    * invocations in one sweep accumulated duplicate persisted frames).
    * Released by [[release]]; built untimed in
    * [[prebuild]]. */
  private def phrasePost(s: SparkSession, dir: String, phrase: Seq[String]): DataFrame =
    Caches.memo(Family.Mining, s, "phrasePost|" + dir + "|" + phrase.mkString(" "))(
      docs(s, dir)
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w")))
        .filter(col("w").isin(phrase.distinct: _*))
        .persist())(_.unpersist())

  /** q227's positional phrase match over any (doc_id, pos, w) token
    * frame (0-based pos; output first_pos is 1-based). Factored so
    * PhraseSearchSpec can drive it on adversarial fixtures —
    * overlapping phrase instances and duplicate-term phrases both
    * count every instance. */
  private[llm] def phraseSearch(toksDf: DataFrame, phrase: Seq[String]): DataFrame = {
    val post = toksDf.filter(col("w").isin(phrase.distinct: _*)).transform(Caches.persistForQuery)
    phraseSearchOn(post, phrase)
  }

  /** The joins/aggregation half of [[phraseSearch]], over an
    * already-persisted posting frame (q227 feeds the memoized
    * [[phrasePost]]; the spec path persists ad hoc). */
  private[llm] def phraseSearchOn(post: DataFrame, phrase: Seq[String]): DataFrame = {
    val counts = post.groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val frames = phrase.zipWithIndex
      .sortBy { case (w, _) => counts.getOrElse(w, 0L) }
      .map { case (w, off) =>
        post.filter(col("w") === w)
          .select(col("doc_id"), (col("pos") - off).as("anchor")) }
    frames.reduce((a, b) => a.join(b, Seq("doc_id", "anchor")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_occ"),
        (min(col("anchor")) + 1).cast("long").as("first_pos"))
      .orderBy("doc_id")
  }

  /** q210 body. Four consumers read the narrow (doc_id, source, x, y)
    * projection, and it is deliberately NOT persisted: the ADVICE-r16
    * persist landed unmeasured and made q210 the board's biggest mover
    * (0.68 → 2.18 s, flat across sweeps), and the round-18 interleaved
    * A/B (VERDICT r17 #1; README "Round-18 persist adjudication")
    * measured persist 4.06 s vs recompute 1.44 s median (2.8×). */
  private[graft] def signalConcordance(s: SparkSession, dir: String): DataFrame = {
    val st = graft.plans.TextKernels.qualityStats(lower(col("text")))
    val sdf = docs(s, dir)
      .select(col("doc_id"), col("source"), st.as("st"))
      .select(col("doc_id"), col("source"),
        element_at(col("st"), 1).as("nt"), element_at(col("st"), 2).as("nd"))
      .filter(col("nt") > 0)
      .select(col("doc_id"), col("source"), col("nt").as("x"),
        expr("(1000000 * nd) div nt").cast("long").as("y"))
    // histograms are the ONLY corpus-scale aggregations; everything
    // else (per-source n, both decile maps) folds over these
    // value-bounded frames — 3 corpus passes total in the unpersisted
    // form (hx + hy + the cells join), the structural minimum (r18)
    val hx = sdf.groupBy("source", "x").agg(count(lit(1)).as("c"))
    val hy = sdf.groupBy("source", "y").agg(count(lit(1)).as("c"))
    val n = hx.groupBy("source").agg(sum("c").as("n"))
      def decileMap(sig: String, h: DataFrame): DataFrame = {
        h.withColumn("below",
            sum("c").over(Window.partitionBy("source").orderBy(sig)) - col("c"))
          .join(broadcast(n), "source")
          .select(col("source"), col(sig),
            expr("(10 * below) div n").cast("long").as(s"d$sig"))
      }
      val cells = sdf
        .join(decileMap("x", hx), Seq("source", "x"))
        .join(decileMap("y", hy), Seq("source", "y"))
        .groupBy("source", "dx", "dy").agg(count(lit(1)).as("c"))
      val cd = cells.as("a")
        .join(broadcast(cells.as("b")), col("a.source") === col("b.source"))
        .groupBy(col("a.source").as("source"))
        .agg(
          sum(when(col("b.dx") > col("a.dx") && col("b.dy") > col("a.dy"),
            expr("cast(a.c as decimal(38,0)) * b.c")).otherwise(lit(0))).as("conc"),
          sum(when(col("b.dx") > col("a.dx") && col("b.dy") < col("a.dy"),
            expr("cast(a.c as decimal(38,0)) * b.c")).otherwise(lit(0))).as("disc"))
      n.join(broadcast(cd), "source")
        .select(col("source"), col("n"),
          col("conc").cast("long").as("n_conc"),
          col("disc").cast("long").as("n_disc"),
          expr("""(cast(1000 as decimal(38,0)) * (conc - disc) * 2)
                 |  div nullif(cast(n as decimal(38,0)) * (n - 1), 0)""".stripMargin)
            .cast("long").as("tau_milli"))
        .orderBy("source")
  }

  /** The q179 scorer: per-document mean per-token (target − base)
    * occurrence-share shift in integer micro — returns the
    * (doc_id, source, score) frame. Factored for LexicalShiftSpec's
    * BigInt brute-force differential. */
  private[llm] def lexicalShift(documents: DataFrame, targetLang: String): DataFrame = {
    val dw = documents
      .select(col("doc_id"), col("source"), col("lang"),
        explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "source", "lang", "w")
      .agg(count(lit(1)).as("c"))
      .transform(Caches.persistForQuery)
    val f = dw.groupBy("w").agg(
      sum(when(col("lang") === targetLang, col("c")).otherwise(0L)).as("ntw"),
      sum("c").as("nbw"))
    val tot = f.agg(sum("ntw").as("ntt"), sum("nbw").as("ntb"))
    val fr = f.crossJoin(broadcast(tot))
      .select(col("w"),
        expr("cast((cast(1000000 as decimal(38,0)) * ntw) div nullif(cast(ntt as decimal(38,0)), 0) as bigint)").as("ft"),
        expr("cast((cast(1000000 as decimal(38,0)) * nbw) div nullif(cast(ntb as decimal(38,0)), 0) as bigint)").as("fb"))
    dw.join(fr, "w")
      .groupBy("doc_id", "source")
      .agg(sum(col("c") * (col("ft") - col("fb"))).as("sd"), sum("c").as("nt"))
      .select(col("doc_id"), col("source"), expr("sd div nt").as("score"))
  }

  /** The q178 chunker: content-defined cut positions (after any gram
    * whose [[triHashAt]] hash ≡ 0 mod 16) → per-chunk md5 + token
    * length, all inside the scan stage's HOF pipeline — returns the
    * slim (doc_id, source, idx, chash, clen) frame; chunk text never
    * leaves the map side. Factored for CdcChunkSpec's brute-force
    * differential (re-chunk in Scala, compare chunk-by-chunk).
    *
    * The explode is posexplode_OUTER, and that choice is a 28×
    * measured win, not a semantics change: an inner Generate makes
    * `InferFiltersFromGenerate` add `size(pr) > 0` BELOW the chunker
    * projections, and after predicate pushdown that filter holds the
    * whole inlined expression tree — where every `element_at(ws, i+k)`
    * re-inlines `filter(split(text))`, so the "filter" re-tokenized
    * the entire document once per trigram position: O(n²) tokenize
    * work per doc, 18.4 s for the 5k-doc sf0.1 corpus vs 0.65 s
    * without it. An outer Generate gets no inferred filter; `pr` is
    * built as zip_with(concat([0], cuts), concat(cuts, [n]), …) so it
    * always has ≥ 1 element for non-null text, making outer ≡ inner.
    * Null-text docs are dropped by the pushed `text IS NOT NULL` scan
    * filter — the same rows DuckDB's `unnest(generate_series(1,
    * NULL))` drops — so the engines still agree on degenerate rows. */
  private[llm] def cdcChunks(documents: DataFrame): DataFrame =
    documents
      .where(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        expr("filter(split(text, ' '), x -> x != '')").as("ws"))
      // widen before the md5-per-trigram cut scan + per-chunk md5
      // (round 21, q146's single-row-group rationale: the whole
      // chunker ran as ONE 0.88 s task — the query's entire cost)
      .repartition(documents.sparkSession.sessionState.conf.numShufflePartitions)
      .withColumn("n", size(col("ws")))
      // sequence() is guarded through greatest(): sequence(0, n-3) at
      // n < 3 would DESCEND ([0,-1,…]) instead of being empty — the
      // n >= 3 conjunct then empties the filter result for short docs
      .withColumn("cuts", expr(
        s"""transform(
           |  filter(sequence(0, greatest(n - 3, 0)),
           |    i -> n >= 3 AND i + 3 < n AND ${triHashAt("ws", "i")} % 16 = 0),
           |  i -> i + 3)""".stripMargin))
      .withColumn("pr", expr(
        "zip_with(concat(array(0), cuts), concat(cuts, array(n)), " +
          "(a, b) -> struct(a AS st, b AS en))"))
      .select(col("doc_id"), col("source"), col("ws"),
        posexplode_outer(col("pr")).as(Seq("idx", "p")))
      .select(col("doc_id"), col("source"), col("idx").cast("long").as("idx"),
        expr("md5(cast(array_join(slice(ws, p.st + 1, p.en - p.st), ' ') as binary))")
          .as("chash"),
        expr("cast(p.en - p.st as bigint)").as("clen"))

  /** The q177 core over a per-source (source, n) token-mass frame —
    * factored so BudgetFillSpec can drive hand corpora (saturating,
    * uniform, zero-token, single-source) against a BigInt rational
    * brute force. See the q177 comment for semantics + overflow audit. */
  private[llm] def budgetFill(perSource: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val all = Window.partitionBy()
    val ord = Window.orderBy(col("wz"), col("qk"), col("source"))
    perSource
      .select(col("source"), col("n").cast(d38).as("n"))
      .withColumn("w_int", expr(s"cast(floor(sqrt(cast(n as double)) * 1000000) as $d38)"))
      .withColumn("cap", expr(s"(cast(8 as $d38) * n) div 5"))
      .withColumn("tw", sum("w_int").over(all))
      .withColumn("tt", sum("n").over(all))
      .withColumn("b", expr(s"(cast(3 as $d38) * tt) div 2"))
      .withColumn("wz", when(col("w_int") === 0, 1).otherwise(0))
      .withColumn("qk", when(col("w_int") === 0, lit(0).cast(d38))
        .otherwise(expr(s"(cap * cast(1000000000000000000 as $d38)) div w_int")))
      .withColumn("rk", row_number().over(ord))
      .withColumn("cumcap", sum("cap").over(ord))
      .withColumn("cumw", sum("w_int").over(ord))
      .withColumn("raw",
        when(expr("(b - (cumcap - cap)) * w_int > cap * (tw - (cumw - w_int))"), 1)
          .otherwise(0))
      .withColumn("is_sat", min("raw").over(Window.orderBy("rk")) === 1)
      .withColumn("num", col("b") -
        coalesce(sum(when(col("is_sat"), col("cap"))).over(all), lit(0).cast(d38)))
      .withColumn("den",
        coalesce(sum(when(!col("is_sat"), col("w_int"))).over(all), lit(0).cast(d38)))
      .withColumn("alloc0",
        when(col("is_sat"), col("cap"))
          .when(col("w_int") === 0, lit(0).cast(d38))
          .otherwise(expr("(w_int * num) div den")))
      .withColumn("remv",
        when(col("is_sat"), lit(-1).cast(d38))
          .when(col("w_int") === 0, lit(0).cast(d38))
          .otherwise(expr("(w_int * num) % den")))
      .withColumn("hrk",
        row_number().over(Window.orderBy(col("remv").desc, col("source"))))
      .withColumn("leftover", col("b") - sum("alloc0").over(all))
      .withColumn("alloc", col("alloc0") +
        when(!col("is_sat") && col("hrk") <= col("leftover"), 1).otherwise(0))
      .select(col("source"), col("n").cast("long").as("n_tokens"),
        col("cap").cast("long").as("cap_tokens"),
        col("alloc").cast("long").as("alloc_tokens"),
        expr(s"cast((cast(1000 as $d38) * alloc) div nullif(n, 0) as bigint)")
          .as("epochs_milli"),
        when(col("is_sat"), 1L).otherwise(0L).as("saturated"))
      .orderBy("source")
  }

  /** Winnowing fingerprint selection ([[qs]] q146): word-trigram md5
    * hashes, sliding-window-of-`w` minimum with rightmost tie-break
    * via the packed key h·2²⁰ + (2²⁰−1−pos). Map-only: the per-doc
    * HOF pipeline (gram keys → per-window array_min → array_distinct)
    * runs inside the scan stage and only the selected fingerprints
    * leave it. Exposed for WinnowingSpec's brute-force differential. */
  private[llm] def winnowFingerprints(documents: DataFrame, w: Int): DataFrame = {
    require(w >= 2 && w <= 64, s"window $w out of range")
    documents
      // empty tokens filtered on BOTH engines (ADVICE r14): Java split
      // drops trailing empties while DuckDB string_split keeps them, so
      // unfiltered tokenization diverges on trailing whitespace — same
      // hygiene q110/q116 already apply
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x != '')").as("ws"))
      .filter(size(col("ws")) >= lit(w + 2)) // K + W - 1 grams minimum
      // packed key h·2²⁰ + (2²⁰−1−pos) corrupts silently once pos ≥ 2²⁰
      // (ADVICE r14): fail LOUDLY on a ≥ ~1M-token document instead of
      // producing wrong fingerprints — max pos = size(ws)−3 ≤ 2²⁰−1
      .filter(coalesce(
        assert_true(size(col("ws")) <= lit(1048578),
          lit("winnowFingerprints: document exceeds the 2^20-token " +
            "packed-position bound (1048578 tokens max)")),
        lit(true)))
      // widen BEFORE the md5/sliding-min arithmetic (round 21, guide
      // §2.5 input skew: the fixture's single-row-group parquet makes
      // the scan one task, so the per-trigram md5 + window-min HOF —
      // the query's dominant CPU (StageProf q154: 0.75 s on one core)
      // — ran single-threaded). The exchange carries only (doc_id,
      // ws); width = the session's shuffle dial, a no-op at real scale
      // where the scan already has many splits.
      .repartition(documents.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), expr(
        s"""transform(sequence(0, size(ws) - 3), i ->
           |  ${triHashAt("ws", "i")}
           |  * 1048576 + (1048575 - i))""".stripMargin).as("keys"))
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(0, size(keys) - $w), s -> array_min(slice(keys, s + 1, $w)))")))
        .as("key"))
      .select(col("doc_id"), expr("key div 1048576").as("h"),
        (lit(1048575L) - col("key") % 1048576L).as("pos"))
  }
  /** q146's candidate-pair census over [[winnowFingerprints]]: per-hash
    * posting lists capped at df ≤ 64 (hot-fingerprint rule), map-side
    * ordered pair expansion, one (a,b)-keyed count. Factored so q154's
    * verify stage consumes the same candidates q146 reports. */
  private[llm] def winnowPairs(documents: DataFrame, w: Int): DataFrame = {
    val fp = winnowFingerprints(documents, w)
      .select(col("doc_id"), col("h")).distinct()
    fp.groupBy("h")
      .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
      .filter(size(col("ds")).between(2, 64))
      .select(explode(expr(
        """flatten(transform(ds, (a, i) ->
          |  transform(slice(ds, i + 2, size(ds)),
          |            b -> struct(a AS doc_a, b AS doc_b))))""".stripMargin)).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
  }

  /** Raw word-trigram hash stream WITH positions (doc_id, i, h) — the
    * q146/q147 md5 gram device exposed positionally for q154's
    * diagonal arithmetic. Map-side HOF: posexplode inside the scan
    * stage, no shuffle of its own. */
  private[llm] def trigramStream(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x != '')").as("ws"))
      .filter(size(col("ws")) >= 3)
      // widen before the md5 gram arithmetic (q146's single-row-group
      // rationale; q168's whole gram census ran as one 0.66 s task)
      .repartition(documents.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), posexplode(expr(triHashes("ws"))))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "h")
}

