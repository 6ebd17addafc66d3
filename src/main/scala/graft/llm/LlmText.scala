package graft.llm

import graft.{Caches, Family}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Q, T}
import TextHash._

/** Training-data pipeline operators over `documents`: deduplication
  * (exact, n-gram Jaccard, MinHash-LSH, SimHash) and text analysis
  * (language-ID heuristic, quality scoring, token accounting,
  * fingerprinting). All tokenization/hashing is per-row column
  * arithmetic (codegen, zero shuffle); only the pair-finding steps
  * shuffle, and only the LSH path is the 100 TB design:
  *
  *  - q39 brute-force Jaccard joins docs on SHARED SHINGLE — correct,
  *    oracle-able, but worst-case quadratic in docs-per-shingle; it is
  *    the small-scale baseline the LSH path is verified against.
  *  - q41 MinHash-LSH joins docs on (band, band-key) BUCKETS: 64
  *    minhashes, 16 bands × 4 rows, so a pair at Jaccard s collides
  *    with prob 1-(1-s⁴)¹⁶ (≈1 for s ≥ 0.8). Candidates are verified
  *    with exact Jaccard — never all-pairs. At 1000 executors the
  *    bucket join shuffles only (doc_id, band-key) pairs; hot buckets
  *    (stop-shingle pileups) are the skew risk and are handled by AQE
  *    skew-join plus the candidate-distinct step.
  */
object LlmText {

  // ---------- Spark-side shared building blocks ----------

  /** Non-empty whitespace tokens, lowercased. */
  def tokens(text: Column): Column =
    filter(split(lower(text), " "), t => t =!= "")

  /** Heavy-hitter parameters for q67: capacity 64 over the top-20 ask
    * keeps the exactness precondition (k-th count > N/65) loose. */
  val MgCapacity = 64
  val TopK = 20

  /** q69 patterns — the RE2 ∩ Java dialect (no backrefs, no
    * lookaround): emails, then NANP-style nnn-nnnn after a boundary. */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "\\b[0-9]{3}-[0-9]{4}\\b"

  /** q70 training-sequence length (tokens per packed bin). */
  val PackBin = 512

  /** q74 sliding-passage shape: 10-token windows every 5 tokens. */
  val SlideLen = 10
  val SlideStride = 5

  /** q221 span threshold: duplicated spans are ≥ SpanK consecutive
    * tokens shared verbatim across ≥ 2 docs. Lee et al. 2022 use 50
    * BPE tokens at web scale; 8 words keeps the operator exercised by
    * the fixtures' template-duplication (1,015 cross-doc duplicated
    * 8-grams at sf0.01, 10,533 at sf0.1 — measured, stable from k=6
    * to k=8, so these are real repeated spans, not chance n-grams). */
  val SpanK = 8

  /** Deterministic per-doc sampling hash (q68/q75): three MINSTD
    * steps, x → x·48271 mod (2³¹−1) iterated — ONE step does not wrap
    * for doc_id < 44k (the product stays below the modulus), leaving
    * the "hash" monotone in doc_id; three steps mix at any id scale.
    * Intermediate products stay < (2³¹−1)·48271 ≈ 1e14, overflow-free
    * in 64-bit on both engines. */
  val LehmerP = 2147483647L
  def lehmer3(c: Column): Column = {
    val h1 = (c * 48271L) % LehmerP
    val h2 = (h1 * 48271L) % LehmerP
    (h2 * 48271L) % LehmerP
  }
  def lehmer3Sql(e: String): String =
    s"((($e * 48271) % $LehmerP) * 48271 % $LehmerP) * 48271 % $LehmerP"

  /** Per-token hashes, order preserved. */
  def tokenHashes(text: Column): Column =
    transform(tokens(text), w => wordHash(w))

  /** Distinct word-3-gram shingle hashes of a document. */
  def shingles(text: Column): Column = {
    val hs = tokenHashes(text)
    array_distinct(transform(
      sequence(lit(1), greatest(size(hs) - 2, lit(0))),
      i => shingleHash(element_at(hs, i), element_at(hs, i + 1), element_at(hs, i + 2))))
  }

  // ---------- DuckDB-side shared prelude (same math, same constants) ----------

  /** Brute-force work cap: quadratic baselines (q39, q50) are bounded
    * to the first BruteCap ids so they stay tractable at bench scale;
    * a no-op at the sf0.01 correctness gate (500 rows). The uncapped
    * path at scale is LSH (q41) / IVF (q44). */
  val BruteCap = 2000

  /** q87 per-source token budget: sized so the curation keeps a real
    * prefix (not everything, not nothing) of every source at all three
    * fixture scales (~1.2k–14k tokens/source). */
  val CurationBudget = 800L

  /** q87's scoring pass: (doc_id, source, n_tokens, quality) via one
    * compiled [[graft.plans.TextKernels.qualityStats]] projection. */
  private[llm] def curationScored(s: SparkSession, dir: String): DataFrame = {
    val st = graft.plans.TextKernels.qualityStats(lower(col("text")))
    val Seq(nTok, nDis, maxLen) = (1 to 3).map(i => element_at(col("st"), i))
    docs(s, dir)
      .select(col("doc_id"), col("source"), st.as("st"))
      .select(col("doc_id"), col("source"), nTok.as("n_tokens"),
        (when(nTok.between(20, 1000), 1).otherwise(0)
          + when(nDis * 10 >= nTok * 3, 1).otherwise(0)
          + when(maxLen <= 15, 1).otherwise(0)).as("quality"))
  }

  /** The exact-semantics reference shape for q87: ONE window per
    * source over the full (quality DESC, doc_id) ordering. Holds when
    * sources are numerous (window partition count ∝ sources); a
    * single huge source serializes through one partition — that
    * regime is [[curateScalable]]. */
  private[llm] def curateWindow(scored: DataFrame, budget: Long): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("cum_tokens", sum(col("n_tokens").cast("long")).over(w))
      .filter(col("cum_tokens") <= budget)
      .select(col("source"), col("doc_id"), col("quality").cast("long").as("quality"),
        col("n_tokens").cast("long").as("n_tokens"), col("cum_tokens"))
      .orderBy("source", "doc_id")
  }

  /** The few-huge-sources shape for q87, IDENTICAL output to
    * [[curateWindow]] (CurateScalableSpec pins it on every fixture):
    *
    *  1. exact per-(source, quality-class) token totals — a tiny
    *     aggregate (4 classes × sources), collected and walked
    *     driver-side to find each source's BOUNDARY class (the first,
    *     in quality-descending order, whose class total no longer
    *     fits) and the tokens consumed above it;
    *  2. classes above the boundary are kept whole, classes below are
    *     dropped whole — a broadcast-literal map filter, MAP-ONLY
    *     over the corpus (this is where the bulk of a huge source is
    *     decided without any per-source serialization);
    *  3. per-doc cum_tokens come from windows partitioned by
    *     (source, quality) — each class ranks independently, offset
    *     by the driver-computed higher-class totals, so no window
    *     ever sees more than one class of one source (and a still-hot
    *     boundary class would bucket by doc_id ranges exactly like
    *     [[globalOffsets]]).
    *
    * Correctness: kept rows are a cum-prefix of the (quality DESC,
    * doc_id) order; every doc below the boundary has
    * cum ≥ tokens-through-boundary > budget, so dropping those
    * classes whole loses nothing — the two formulations agree row
    * for row, cum values included. */
  private[llm] def curateScalable(scored: DataFrame, budget: Long): DataFrame = {
    val classTotals = scored.groupBy("source", "quality")
      .agg(sum(col("n_tokens").cast("long")).as("tok"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    // per source: walk quality classes best-first, accumulating while
    // the whole class still fits; record the boundary class and the
    // tokens consumed strictly above it
    val cuts: Map[String, (Int, Long)] = classTotals.groupBy(_._1).map {
      case (src, rows) =>
        val byQ = rows.map(t => t._2 -> t._3).sortBy(-_._1)
        var consumed = 0L
        var boundary = Int.MinValue // all classes fit -> keep everything
        var above = 0L
        byQ.foreach { case (q, tok) =>
          if (boundary == Int.MinValue) {
            if (consumed + tok > budget) { boundary = q; above = consumed }
            else consumed += tok
          }
        }
        src -> (boundary, above)
    }
    // per-(source, class) offsets: tokens in strictly-higher KEPT classes
    val offsets: Map[String, Map[Int, Long]] = classTotals.groupBy(_._1).map {
      case (src, rows) =>
        val byQ = rows.map(t => t._2 -> t._3).sortBy(-_._1)
        var cum = 0L
        src -> byQ.map { case (q, tok) => val o = q -> cum; cum += tok; o }.toMap
    }
    val bqCol = element_at(typedLit(cuts.map { case (k, v) => k -> v._1 }), col("source"))
    val offCol = element_at(element_at(typedLit(offsets), col("source")), col("quality"))
    val wc = Window.partitionBy("source", "quality").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .filter(col("quality") >= bqCol) // map-only bulk decision
      .withColumn("cum_tokens", offCol + sum(col("n_tokens").cast("long")).over(wc))
      .filter(col("cum_tokens") <= budget)
      .select(col("source"), col("doc_id"), col("quality").cast("long").as("quality"),
        col("n_tokens").cast("long").as("n_tokens"), col("cum_tokens"))
      .orderBy("source", "doc_id")
  }

  /** WITH-clauses giving (doc_id, pos, h) word hashes and
    * (doc_id, sh) distinct shingle hashes on the documents table. */
  def sqlPreludeWhere(where: String): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
       |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x != '') AS tl
       |        FROM documents $where)),""".stripMargin

  private def preludeBody: String =
    s"""
       |wh AS (SELECT doc_id, pos, ${wordHashSql("w")} AS h FROM toks),
       |dsh AS (SELECT DISTINCT a.doc_id AS doc_id, ${shingleHashSql("a.h", "b.h", "c.h")} AS sh
       |        FROM wh a JOIN wh b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |                  JOIN wh c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
       |ssize AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id)""".stripMargin

  val sqlPrelude: String = sqlPreludeWhere("") + preludeBody

  /** Brute-force all-pairs Jaccard ≥ 0.5 over shared shingles —
    * the oracle for BOTH q39 (same cap) and the LSH path q41 (uncapped;
    * identical at the sf0.01 gate where the cap is a no-op). The 0.5
    * threshold is far from any pair: fixtures have no pair in
    * (0.3, 0.9) at sf0.01 and none in (0.3, 0.8) at sf0.1, and 16×4
    * LSH collision probability at 0.8 is 0.9998 (verified equal to
    * brute force at both scales). */
  private def jaccardPairsCore(where: String): String =
    s"""${sqlPreludeWhere(where) + preludeBody},
       |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
       |          FROM dsh x JOIN dsh y ON x.sh = y.sh AND x.doc_id < y.doc_id
       |          GROUP BY 1, 2)
       |SELECT doc_a, doc_b, inter, sa.n + sb.n - inter AS uni
       |FROM inter JOIN ssize sa ON sa.doc_id = doc_a JOIN ssize sb ON sb.doc_id = doc_b
       |WHERE 2 * inter >= sa.n + sb.n - inter""".stripMargin

  private def jaccardPairsSqlWhere(where: String): String =
    jaccardPairsCore(where) + "\nORDER BY doc_a, doc_b"

  val jaccardPairsSql: String = jaccardPairsSqlWhere("")
  val jaccardPairsSqlCapped: String = jaccardPairsSqlWhere(s"WHERE doc_id < $BruteCap")

  /** Shared CTE chain for q57/q91: connected components over the
    * near-dup pair graph via a recursive transitive closure,
    * representative = min doc_id, as `comp(doc_id, cluster_rep)`. */
  private val clustersCore: String =
    s"""WITH RECURSIVE pairs AS (
       |${jaccardPairsCore("")}),
       |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |        UNION SELECT doc_b, doc_a FROM pairs),
       |closure(a, b) AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT c.a, s.b FROM closure c JOIN sym s ON c.b = s.a),
       |comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_rep
       |         FROM closure GROUP BY a)""".stripMargin

  /** Oracle for q57. */
  val clustersSql: String =
    clustersCore + "\nSELECT doc_id, cluster_rep FROM comp ORDER BY doc_id"

  /** Oracle for q91: the dup-cluster size histogram. */
  val clusterSizesSql: String =
    clustersCore + """,
      |sz AS (SELECT cluster_rep, count(*) AS cluster_size FROM comp GROUP BY 1)
      |SELECT cluster_size, count(*) AS n_clusters,
      |       (cluster_size * count(*))::BIGINT AS n_docs
      |FROM sz GROUP BY 1 ORDER BY cluster_size""".stripMargin

  /** Shared core of the keep-best pair q196/q220 (review r18 — q220's
    * contract is "q196's semantics through the facade", so the
    * semantics-defining input must have ONE definition): the q38
    * union adversary with 30-token truncated copies, the 8-token
    * prefix md5 class key, and the 3-term quality score — as the
    * DuckDB `m` CTE and the identical Spark frame
    * (doc_id, key, n_tokens, quality). */
  private def keepBestCoreSql: String =
    """WITH unioned AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000,
        |         array_to_string(list_filter(string_split(text, ' '), x -> x != '')[1:30], ' ')
        |  FROM documents),
        |tl AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x != '') AS t
        |       FROM unioned),
        |m AS (SELECT doc_id,
        |        md5(array_to_string(t[1:8], ' ')) AS key,
        |        len(t) AS n_tokens,
        |        (CASE WHEN len(t) BETWEEN 20 AND 1000 THEN 1 ELSE 0 END
        |         + CASE WHEN 10 * len(list_distinct(t)) >= 3 * len(t) THEN 1 ELSE 0 END
        |         + CASE WHEN coalesce(list_max(list_transform(t, w -> length(w))), 0) <= 15 THEN 1 ELSE 0 END) AS quality
        |      FROM tl)""".stripMargin

  private def keepBestInput(s: SparkSession, dir: String): DataFrame = {
      val d = T.df(s, dir, "documents")
      val both = d.select(col("doc_id"), col("text"))
        .unionAll(d.select(col("doc_id") + 10000,
          concat_ws(" ", slice(expr("filter(split(text, ' '), x -> x != '')"), 1, 30))
            .as("text")))
      val st = graft.plans.TextKernels.qualityStats(lower(col("text")))
      both
        .select(col("doc_id"),
          md5(concat_ws(" ",
            slice(expr("filter(split(lower(text), ' '), x -> x != '')"), 1, 8))
            .cast("binary")).as("key"),
          st.as("st"))
        .select(col("doc_id"), col("key"),
          element_at(col("st"), 1).as("n_tokens"),
          (when(element_at(col("st"), 1).between(20, 1000), 1).otherwise(0)
            + when(element_at(col("st"), 2) * 10 >= element_at(col("st"), 1) * 3, 1).otherwise(0)
            + when(coalesce(element_at(col("st"), 3), lit(0L)) <= 15, 1).otherwise(0))
            .cast("long").as("quality"))
  }

  /** Shared DuckDB CTE prefix of the substring-span family
    * (q221/q223/q224 — the clustersCore pattern, review r18): the
    * tl → grams → duplicated → verified positions → islands → spans
    * pipeline every member's oracle starts from. One definition, so
    * a semantics change cannot silently diverge one oracle from the
    * Spark operator all three share via [[spansFrame]]. */
  private def spanSqlCore: String = spanSqlCoreWhere("")

  /** The [[spanSqlCore]] chain over a filtered documents subset —
    * q233's incremental oracle needs the corpus-only (pre-delta) span
    * set from the same single definition. */
  private def spanSqlCoreWhere(where: String): String =
    s"""WITH tl AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x != '') AS t
        |            FROM documents $where),
        |g AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+$SpanK-1], ' ') AS gram
        |      FROM tl, unnest(generate_series(1, len(t) - $SpanK + 1)) AS u(i)),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |d AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
        |isl AS (SELECT doc_id, pos,
        |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |        FROM d),
        |sp AS (SELECT doc_id, min(pos)::BIGINT AS span_start,
        |         (max(pos) - min(pos) + $SpanK)::BIGINT AS span_len
        |       FROM isl GROUP BY doc_id, grp)""".stripMargin

  /** The complete q221-shaped span listing (with span_md5) over a
    * filtered documents subset, as one nestable SELECT. */
  private def spanFullSqlWhere(where: String): String =
    spanSqlCoreWhere(where) + """
      |SELECT sp.doc_id, sp.span_start, sp.span_len,
      |       md5(array_to_string(tl.t[sp.span_start : sp.span_start + sp.span_len - 1], ' ')) AS span_md5
      |FROM sp JOIN tl USING (doc_id)""".stripMargin

  /** Spark plan shared by q39 (all candidate pairs from a shingle join)
    * and q41 (candidates from LSH buckets): verify candidates with
    * exact Jaccard via array_intersect on the distinct-shingle arrays. */
  private[llm] def verifiedPairs(docs: DataFrame, candidates: DataFrame): DataFrame = {
    val a = docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    candidates
      .join(a, "doc_a").join(b, "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .filter(col("inter") * 2 >= col("uni")) // jaccard >= 0.5, integer-exact
      .select("doc_a", "doc_b", "inter", "uni")
      .orderBy("doc_a", "doc_b")
  }

  /** documents, spread across the session's shuffle parallelism when —
    * and only when — the scan itself can't provide it: the fixture
    * parquet is a single tiny split, and the per-row hashing work
    * would otherwise run on ONE core. At 100 TB the scan has thousands
    * of natural splits and the spread would be a pure-cost Exchange,
    * so the decision is CODE, not a comment (VERDICT r7 item 4): skip
    * the repartition whenever the scan already yields at least the
    * session's shuffle parallelism in splits. `spark.graft.docs.spread`
    * (auto|always|never) overrides the split-count check both ways;
    * PlanSpec pins both plan shapes. */
  private[llm] def docs(s: SparkSession, dir: String): DataFrame = {
    val base = T.df(s, dir, "documents")
    val spread = s.conf.get("spark.graft.docs.spread", "auto") match {
      case "always" => true
      case "never"  => false
      case _ => base.rdd.getNumPartitions <
        s.conf.get("spark.sql.shuffle.partitions", "200").toInt
    }
    if (spread) base.repartition(col("doc_id")) else base
  }

  /** Token hashes (doc_id, hs: array<long>, token order), persisted
    * once per (session, dir). The hashing itself is the
    * [[graft.plans.TextKernels.tokenHashes]] native kernel — a compiled
    * per-row loop inside whole-stage codegen — so the hashing adds ZERO
    * shuffles of its own. (The one Exchange on this path is the
    * fixture-only `repartition(doc_id)` inserted by [[docs]] to spread
    * a single tiny parquet split; at 100 TB the scan has natural splits
    * and that repartition is removed. PlanSpec pins the kernel
    * composition scan→hash→shingle→bands itself Exchange-free against
    * a direct parquet read.) Docs with no tokens are dropped, matching
    * the relational path (inner explode) and the oracle (no `wh`
    * rows).
    *
    * Rounds 2–5 computed this via the DICTIONARY pattern (hash each
    * distinct token once, broadcast-join it back) because higher-order
    * function lambdas evaluate interpreted — that formulation is kept
    * in [[tokenHashArrPlan]] as a spec-pinned differential cross-check
    * of the kernel, and as the open-vocabulary fallback discussion. */
  private[llm] def tokenHashArr(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Text, s, "hash|" + dir)(
      docs(s, dir)
        .select(col("doc_id"),
          graft.plans.TextKernels.tokenHashes(lower(col("text"))).as("hs"))
        .filter(size(col("hs")) > 0)
        .persist())(_.unpersist())

  /** The relational DICTIONARY formulation of [[tokenHashArr]] (hash
    * each DISTINCT token once, join it back), un-memoized, plus its
    * persisted dictionary — the caller materializes `_1` and then
    * unpersists `_2`. Kept as the differential cross-check of the
    * native kernel (TextKernelsSpec pins all three paths equal) and to
    * document the open-vocabulary trade-off: the dictionary join is
    * broadcast only under `vocabCap` distinct tokens; a web-scale
    * corpus (billions of distinct tokens) falls back to a shuffle hash
    * join on `w`, bounded at any vocabulary size. `vocabCap` has no
    * default on purpose: this formulation has no production caller
    * (the kernel path is the production path), so a "production
    * default" here would be dead config — it carried two ADVICE
    * rounds as exactly that before being deleted (r6/r7). Specs pin
    * both regimes explicitly (Long.MaxValue = broadcast, 0 = shuffle
    * fallback). */
  private[graft] def tokenHashArrPlan(s: SparkSession, dir: String,
                                    vocabCap: Long): (DataFrame, DataFrame) = {
    val toks = docs(s, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w")))
    val dict = toks.select("w").distinct()
      .withColumn("h", wordHash(col("w")))
      .persist()
    val dictSide = if (dict.count() <= vocabCap) broadcast(dict) else dict
    val out = toks.join(dictSide, "w")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("h")))).as("ph"))
      .select(col("doc_id"), transform(col("ph"), p => p.getField("h")).as("hs"))
    (out, dict)
  }

  /** Duplication ratio below which [[classPairs]] (shingle-class
    * collapse) beats the doc-level band join: the collapse pays one
    * wide array-keyed shuffle up front, which only amortizes when
    * clone mass is substantial. Fixtures measure 0.79–0.89 distinct,
    * a 10×-cloned corpus 0.08 — 0.5 separates the regimes with a wide
    * margin on both sides. */
  private val CollapseBelow = 0.5

  /** MinHash-LSH verified near-dup pairs (shared by q41 and q57).
    * Signatures and band keys are the
    * [[graft.plans.TextKernels.minhashBands]] native kernel — 64
    * minhashes and 16 band keys in one compiled per-row loop — so the
    * path from corpus scan to band keys is MAP-ONLY (PlanSpec pins
    * zero Exchange): at 100 TB the ONLY shuffle in candidate
    * generation is the bucket join itself, and signatures never move.
    * (Rounds 3–5 computed the same values relationally: explode
    * shingles + 64 min-aggregates — one extra shuffle on doc_id;
    * TextKernelsSpec pins the kernel equal to that formulation.)
    *
    * The VERIFIED pair frame is memoized per (session, dir) and
    * materialized eagerly: q41 (pair listing) and q57 (clustering over
    * the same pairs) share one computation — the 100 TB analogue is
    * "write the pair table out once, then iterate on it", which the
    * clustering loop then does against a persisted input instead of
    * re-running candidate generation per downstream consumer. */
  private[graft] def lshPairs(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Text, s, "pair|" + dir) {
      val docs = docShingles(s, dir)
      // ADAPTIVE strategy pick (the AQE spirit: plan from data stats):
      // probe duplication with one cheap aggregate — the hash is a
      // statistic only, never a correctness input; both paths are
      // spec-pinned identical (LshCollapseSpec)
      val st = docs.agg(count(lit(1)).as("n"),
        approx_count_distinct(xxhash64(col("sh"))).as("c")).first()
      val distinctRatio = st.getLong(1).toDouble / math.max(1L, st.getLong(0))
      val pairs = (if (distinctRatio < CollapseBelow) classPairs(docs)
                   else docLevelPairs(docs)).persist()
      pairs.count() // materialize before downstream consumers fan out
      pairs
    }(_.unpersist())

  /** The doc-level band join + per-pair verify — the right shape when
    * content is mostly distinct (no wide class shuffle); quadratic in
    * bucket heat under heavy duplication, where [[classPairs]] takes
    * over. */
  private[llm] def docLevelPairs(docs: DataFrame): DataFrame = {
    val bands = docs
      .select(col("doc_id"),
        posexplode(graft.plans.TextKernels.minhashBands(col("sh"))))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bkey"))
    verifiedPairs(docs,
      bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct())
  }

  /** Verified near-dup pairs via SHINGLE-CLASS COLLAPSE (same
    * hot-bucket defense as q66, same measured motivation: clones share
    * all 16 band keys, so a doc-level bucket join enumerates
    * clone-pair candidates quadratically AND runs the exact-Jaccard
    * verify per doc pair instead of per distinct-content pair). Docs
    * group by their sorted shingle set; the band join and the verify
    * run over ONE representative per class (minhash is
    * order-independent, so sort_array changes no band key), and member
    * lists expand to doc pairs only at output. Within-class pairs are
    * exact dups: inter = uni = |sh| by definition, no verify needed.
    * LshCollapseSpec pins ≡ the doc-level formulation
    * ([[verifiedPairs]], kept as the reference shape) on both the
    * fixture and a synthetic clone-heavy corpus. */
  private[llm] def classPairs(docs: DataFrame): DataFrame = {
    val classes = docs
      .groupBy(sort_array(col("sh")).as("shs"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .withColumn("cid", element_at(col("ids"), 1))
    val within = classes.filter(size(col("ids")) > 1)
      .select(size(col("shs")).as("n"), explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)), y ->
          |    struct(x AS a, y AS b))))""".stripMargin)).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"),
        col("n").as("inter"), col("n").as("uni"))
    val bands = classes
      .select(col("cid"),
        posexplode(graft.plans.TextKernels.minhashBands(col("shs"))))
      .select(col("cid"), col("pos").as("band"), col("col").as("bkey"))
    val candClasses = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.cid") < col("y.cid"))
      .select(col("x.cid").as("cid_a"), col("y.cid").as("cid_b"))
      .distinct()
    val a = classes.select(col("cid").as("cid_a"), col("shs").as("sh_a"), col("ids").as("ids_a"))
    val b = classes.select(col("cid").as("cid_b"), col("shs").as("sh_b"), col("ids").as("ids_b"))
    val cross = candClasses
      .join(a, "cid_a").join(b, "cid_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .filter(col("inter") * 2 >= col("uni")) // jaccard >= 0.5, integer-exact
      .select(explode(col("ids_a")).as("da"), col("ids_b"), col("inter"), col("uni"))
      .select(col("da"), explode(col("ids_b")).as("db"), col("inter"), col("uni"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("inter"), col("uni"))
    within.unionAll(cross).orderBy("doc_a", "doc_b")
  }

  /** The at-scale index artifact behind q89: persist the corpus band
    * table BUCKETED on the band key, so tomorrow's delta probe
    * shuffles only the delta — the (huge) index side reads
    * bucket-aligned with ZERO exchange (BandIndexSpec pins that plan),
    * and yesterday's signature work is never recomputed. Rebuild is
    * incremental too: append-only corpora append band rows. The q89
    * query itself computes both sides in-plan (the correctness gate
    * has no catalog); a deployment calls this once per ingest cycle. */
  def writeBandIndex(s: SparkSession, dir: String, table: String,
                     buckets: Int = 32): Unit =
    docShingles(s, dir)
      .select(col("doc_id").as("index_id"),
        posexplode(graft.plans.TextKernels.minhashBands(col("sh"))))
      .select(col("index_id"), col("pos").as("band"), col("col").as("bkey"))
      .write.mode("overwrite")
      .bucketBy(buckets, "bkey").sortBy("bkey")
      .format("parquet").saveAsTable(table)

  /** (doc_id, w1, bh) bigram stream for q82, straight off the
    * token-hash arrays: a generator projection (posexplode is 0-based,
    * element_at 1-based, so the successor is hs[pos+2]) — zero
    * shuffles to form bigrams, and a doc's bigrams stay inside one
    * partition, so downstream per-doc aggregation pre-combines to one
    * row per doc before any exchange. Bigram-hash family matches q63
    * / the oracle prelude: (h1*31 + h2) mod M. */
  private[llm] def bigrams(tha: DataFrame): DataFrame =
    tha
      .select(col("doc_id"), col("hs"), posexplode(col("hs")).as(Seq("pos", "h")))
      .filter(col("pos") < size(col("hs")) - 1)
      .select(col("doc_id"), col("h").as("w1"),
        ((col("h") * 31 + element_at(col("hs"), col("pos") + 2)) % M).as("bh"))

  /** Shingle sets from the token-hash arrays (cheap arithmetic
    * transform), persisted: the sketch is computed ONCE and reused by
    * every join branch (candidate generation + verification) — the same
    * "materialize signatures, then join" shape a 100 TB run uses by
    * writing the signature table out before the bucket join. */
  private[graft] def docShingles(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Text, s, "shingle|" + dir)(
      tokenHashArr(s, dir)
        .select(col("doc_id"),
          graft.plans.TextKernels.shingleSet(col("hs")).as("sh"))
        .filter(size(col("sh")) > 0)
        .persist())(_.unpersist())

  /** Brute-force exact-Jaccard pairs over the capped corpus — the
    * blocked-kernel baseline ([[graft.plans.PairJaccard]]; same
    * materialize-blocks-once shape as `LlmVector.blockedPairs`),
    * memoized + persisted per (session, dir). */
  private def bruteJaccardPairs(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Text, s, "bruteJac|" + dir) {
      val blocks = docShingles(s, dir).filter(col("doc_id") < BruteCap)
        .select(pmod(col("doc_id"), lit(8)).as("g"),
          struct(col("doc_id"), sort_array(col("sh"))).as("ds"))
        .groupBy("g").agg(collect_list(col("ds")).as("vs"))
        .persist()
      val pairs = blocks.as("x").join(blocks.as("y"), col("x.g") <= col("y.g"))
        .select(explode(graft.plans.PairJaccard.pairs(
          col("x.vs"), col("y.vs"), col("x.g") === col("y.g"), 1, 2)).as("p"))
        .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
          col("p.inter").as("inter"), col("p.uni").as("uni"))
        .persist()
      pairs.count() // materialize, then drop the intermediate block table
      blocks.unpersist()
      pairs
    }(_.unpersist())

  /** q124: EXACT Jaccard ≥ 0.5 join over (doc_id, sh) shingle-set
    * rows via prefix filtering (AllPairs, Bayardo et al. WWW'07),
    * with the same SHINGLE-CLASS COLLAPSE as [[classPairs]].
    *
    * Algorithm: docs group by identical sorted shingle set into
    * classes (clone defense — under K× duplication a doc-level prefix
    * join enumerates K² candidate pairs per content pair and runs K²
    * exact verifies; the class form does ALL join/verify work on
    * distinct content only, and clone pairs fall out as within-class
    * expansions with inter = uni = |sh| by definition). Each class
    * then keeps its ⌊n/2⌋+1 RAREST shingles (class-level df order,
    * ties by hash — a total order) as its prefix; candidate class
    * pairs share a prefix shingle; exact array_intersect verification
    * runs on candidate class pairs only; member lists expand to doc
    * pairs at output.
    *
    * Completeness (why the equi-join on prefixes misses nothing): for
    * J(A,B) ≥ t the overlap o satisfies o ≥ t·|A| and o ≥ t·|B|
    * (since o ≤ min(|A|,|B|), J ≥ t gives o ≥ t(|A|+|B|−o) ≥
    * t·max(|A|,|B|)). Let e be the FIRST shared shingle in the global
    * order. If e sat outside A's prefix of length |A|−⌈t|A|⌉+1, every
    * shared shingle would sit among A's last ⌈t|A|⌉−1 elements, so
    * o ≤ ⌈t|A|⌉−1 < o — contradiction; symmetrically for B. So e is
    * in BOTH prefixes. The argument holds for ANY fixed total order —
    * rarity is purely a performance choice (rare-first makes
    * candidate buckets rare-shingle-sized), which is why the oracle's
    * doc-level-df order and this class-level-df order produce the
    * same exact answer.
    *
    * Plan at 100 TB: the class build is one shuffle of the memoized
    * shingle frame; the df attach is a key-balanced hash join on the
    * shingle (hot boilerplate shingles sort LAST and never enter
    * prefixes; their df-join fanout is the one skew surface — the
    * q61 salting class); the rank windows partition on cid
    * (|classes|-way parallel, no global sort anywhere); candidate
    * buckets are rare-shingle-sized, not corpus-sized. */
  private[llm] def prefixJaccardPairs(dsh: DataFrame): DataFrame = {
    // PERSIST + eagerly materialize the class table (round 21, guide
    // §2.4/§5): classes is consumed FIVE times below (within, ex → dfc
    // and pre, and the a/b verify sides), and because each consumer
    // re-derives the groupBy(sort_array(sh)) under a FRESH
    // _groupingexpression id, Spark's exchange reuse cannot unify them
    // — the final runtime plan carried five independent
    // ObjectHashAggregate(collect_list) pipelines over the shingle
    // frame (StageProf: the 2.1 MB-scan stage family, ~40 s of
    // executor time on a 4.8 s query). One materialization is the
    // whole-query lower bound; the eager count() exists because
    // concurrent AQE query-stages racing an UNMATERIALIZED cache each
    // recompute it (measured: docShingles rebuilt 7× by one run).
    // Size argument: classes ≤ |dsh| rows (one per distinct shingle
    // set) with the same arrays dsh already persists — same memory
    // class as the family's existing caches. Released by the running
    // query's hook (Caches.persistForQuery).
    val classes = dsh
      .groupBy(sort_array(col("sh")).as("shs"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .withColumn("cid", element_at(col("ids"), 1))
      .transform(Caches.persistForQuery)
    classes.count()
    val within = classes.filter(size(col("ids")) > 1)
      .select(size(col("shs")).cast("long").as("n"), explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)), y ->
          |    struct(x AS a, y AS b))))""".stripMargin)).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"),
        col("n").as("inter"), col("n").as("uni"))
    // Rank-window reduction: SINGLETON shingles (class-df 1 — the
    // majority of a mostly-distinct corpus) sort FIRST in the
    // (dfc, sh) order, can never generate a candidate (no second
    // class contains them), and their per-class COUNT is all the
    // ranking needs: full_rank(e) = r1 + reduced_rank(e) because
    // every df-1 element precedes every df-≥2 element. So the rank
    // window sorts only the df-≥2 stream and the prefix test becomes
    // full_rank ≤ ⌊n/2⌋+1. A class whose prefix is all singletons
    // provably has no J ≥ 0.5 partner and drops out here. (On the
    // sf0.1 fixture the df-≥2 share is ~half the stream — the clone
    // mass shares most shingles — so this cut is modest there; on a
    // mostly-distinct web corpus the df-1 share dominates. The big
    // measured lever at sf0.1 is the positional filter below:
    // 7.0 → 4.3 s.) n rides along from the class frame (set size),
    // r2 is a sort-free count over the same window partition.
    val ex = classes.select(col("cid"), size(col("shs")).as("n"),
      explode(col("shs")).as("sh"))
    val dfc = ex.groupBy("sh").agg(count(lit(1)).as("dfc"))
      .filter(col("dfc") >= 2)
    val wd = Window.partitionBy("cid")
    // fr = FULL (dfc, sh)-order rank: reduced rank + the r1 = n − r2
    // singletons that all sort before any df-≥2 shingle.
    // The df attach is SALTED (q61 machinery, deterministic 16-way):
    // a boilerplate shingle present in 10⁹ classes would otherwise
    // funnel its whole ex-side fanout through ONE reducer of the
    // sh-keyed exchange — the single hot surface of this plan. The
    // probe (ex, corpus-scale) takes a per-row deterministic salt;
    // the build (dfc, one row per df-≥2 shingle) replicates 16×,
    // bounded and shuffle-cheap relative to the probe. Values are
    // join-identical to the unsalted form (SkewJoinSpec's law);
    // PlanSpec pins the salt in the join keys. AQE skew-split stays
    // as the backstop for residual block imbalance.
    // Explicit cid-repartition at the session's shuffle width (round
    // 21, guide §2.5's expansion trap — q133's pairCounts fix applied
    // here): the rank windows' ENSURE_REQUIREMENTS exchange reads ~6 MB
    // of (cid, sh, dfc) rows, so AQE coalesced it to 5 partitions while
    // the window stage does the heavy per-class rank work (StageProf:
    // 4.5 s + 2.0 s executor over 5 tasks on a 32-core session — the
    // two biggest post-build stages of the query). Pinning the width to
    // spark.sql.shuffle.partitions keeps the stage at full parallelism
    // locally and is a no-op at real scale where the exchange is big
    // enough that AQE would not coalesce it anyway.
    val nParts = dsh.sparkSession.sessionState.conf.numShufflePartitions
    // pre is consumed twice (x and y sides of the candidate join) and
    // the candidate BHJ's build side re-ran the whole salted-join +
    // rank-window pipeline — persist + materialize once (same
    // rationale as classes above; bounded: ≤ one row per (class,
    // prefix shingle), strictly smaller than ex).
    val pre = graft.ops.SkewJoin.saltedJoin(
        ex, "sh", dfc.withColumnRenamed("sh", "sh_b"), "sh_b", 16)
      .drop("sh_b")
      .repartition(nParts, col("cid"))
      .select(col("cid"), col("sh"), col("n"),
        (row_number().over(wd.orderBy(col("dfc"), col("sh")))
          + (col("n") - count(lit(1)).over(wd))).as("fr"))
      .filter(expr("fr <= n div 2 + 1"))
      .transform(Caches.persistForQuery)
    pre.count()
    // PPJoin positional filter on the candidate join (measured at
    // sf0.1: the bare prefix join generated 408k candidate class
    // pairs for 256 true pairs — hot boilerplate shingles; with the
    // positional bound it generates ~the true near-dup mass): a
    // shared shingle at full ranks (fr_x, fr_y) can witness at most
    // 1 + min(n_x − fr_x, n_y − fr_y) overlap, which must reach the
    // J ≥ 0.5 requirement α = ⌈(n_x + n_y)/3⌉ (o(1+t) ≥ t(n_x+n_y)).
    // Safe because the bound is exact for the pair's FIRST shared
    // shingle: any true pair survives via that witness; false pairs
    // whose only shared prefix shingles sit deep are pruned at
    // generation, before the distinct and the verify.
    val cand = pre.as("x").join(pre.as("y"),
        col("x.sh") === col("y.sh") && col("x.cid") < col("y.cid") &&
          (lit(1) + least(col("x.n") - col("x.fr"), col("y.n") - col("y.fr"))
            >= floor((col("x.n") + col("y.n") + lit(2)) / lit(3)).cast("long")))
      .select(col("x.cid").as("cid_a"), col("y.cid").as("cid_b"))
      .distinct()
    val a = classes.select(col("cid").as("cid_a"),
      col("shs").as("sh_a"), col("ids").as("ids_a"))
    val b = classes.select(col("cid").as("cid_b"),
      col("shs").as("sh_b"), col("ids").as("ids_b"))
    val cross = cand.join(a, "cid_a").join(b, "cid_b")
      .select(col("ids_a"), col("ids_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("inter"),
        (size(col("sh_a")) + size(col("sh_b"))).cast("long").as("sum_n"))
      .select(col("ids_a"), col("ids_b"), col("inter"),
        (col("sum_n") - col("inter")).as("uni"))
      .filter(col("inter") * 2 >= col("uni"))
      .select(explode(col("ids_a")).as("da"), col("ids_b"), col("inter"), col("uni"))
      .select(col("da"), explode(col("ids_b")).as("db"), col("inter"), col("uni"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("inter"), col("uni"))
    within.unionByName(cross)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"),
        expr("(1000 * inter) div uni").as("jac_milli"))
      .orderBy("doc_a", "doc_b")
  }

  /** Asymmetric CONTAINMENT join (round 13): directed pairs (a, b)
    * with |sh(a) ∩ sh(b)| / |sh(a)| ≥ num/den — the quote/subset
    * duplication detector. Jaccard-family candidates systematically
    * MISS these pairs: a small document fully contained in a large one
    * has J = |A|/|B| → 0 while containment = 1, so q39/q41/q124 never
    * surface it; training-data curation needs exactly this op to find
    * documents subsumed by others (quotes, excerpts, re-hosted
    * fragments).
    *
    * Candidate scheme (the containment variant of the Bayardo prefix
    * filter): rank each doc's shingles by GLOBAL df ascending
    * (rarest first); with p = n − ceil(n·num/den) + 1, if
    * c(A→B) ≥ num/den then B misses < p of A's shingles, so B
    * contains at least one of A's p rarest (pigeonhole) — probing the
    * full posting list of just A's prefix shingles is complete. The
    * prefix shingles are globally rarest BY CONSTRUCTION, so their
    * posting lists are the corpus's shortest — that, not luck, bounds
    * the candidate join. Exact verification is a set intersection on
    * the two (distinct-element) shingle arrays; only prefix-filtered
    * candidate pairs ever carry arrays through a join. `minShingles`
    * floors the denominator so trivial shingle sets cannot flood the
    * output. All arithmetic is integer-exact (`inter·den ≥ n_a·num`),
    * so the DuckDB oracle states the independent brute-force
    * formulation and must agree bit-for-bit. */
  private[llm] def containmentPairs(dsh: DataFrame, num: Int = 9, den: Int = 10,
                                    minShingles: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = dsh.select(col("doc_id"), col("sh"), size(col("sh")).cast("long").as("n"))
      .filter(col("n") >= minShingles)
    val ex = d.select(col("doc_id"), col("n"), explode(col("sh")).as("s"))
    val dfc = ex.groupBy("s").agg(count(lit(1)).as("dfc"))
    // p = n − ceil(n·num/den) + 1, exact in integer arithmetic
    val p = col("n") - expr(s"(n * $num + ${den - 1}) div $den") + 1
    val pfx = ex.join(dfc, "s")
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("dfc"), col("s"))))
      .filter(col("rn") <= p)
      .select(col("doc_id").as("a"), col("s"))
    val postings = ex.select(col("doc_id").as("b"), col("s"))
    val cands = pfx.join(postings, "s").filter(col("a") =!= col("b"))
      .select("a", "b").distinct()
    cands
      .join(d.select(col("doc_id").as("a"), col("sh").as("sha"), col("n").as("na")), "a")
      .join(d.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .filter(col("inter") * den >= col("na") * num)
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("inter"),
        col("na").as("size_a"))
      .orderBy("doc_a", "doc_b")
  }

  /** INCREMENTAL containment (round 14): [[containmentPairs]]'s
    * rarest-prefix pigeonhole re-cut along q89's delta/index seam, so
    * quote detection can run at the ingest front door instead of
    * re-joining the whole corpus per cycle. Split: delta =
    * doc_id%10 == 0 (today's batch), index = the rest (q89's
    * convention). Reports every DIRECTED pair (contained a,
    * container b) with c(a→b) ≥ num/den that CROSSES the split —
    * within-index pairs were yesterday's output, and both directions
    * matter at the front door: a new doc that quotes an old one
    * (delta ⊂ index) and an old doc subsumed by a new one
    * (index ⊂ delta).
    *
    * Why it's incremental: both candidate joins probe artifacts that
    * are PRECOMPUTABLE at index-build time and keyed by shingle —
    * direction delta→index probes the index's FULL posting lists with
    * the delta's p rarest shingles; direction index→delta probes the
    * delta's (small) posting lists with the index docs' PREFIX
    * postings (each index doc's p rarest, a den/(den−num)-fold
    * reduction of the posting table, precomputed). Persisted bucketed
    * on the shingle key ([[writeContainmentIndex]]), the index side
    * joins straight off its buckets with ZERO exchange
    * (ContainmentIndexSpec pins the plan) — per-cycle shuffle is
    * ∝ |delta|, never ∝ |corpus|.
    *
    * Completeness is the same pigeonhole as [[containmentPairs]] but
    * sharper to state: if c(A→B) ≥ num/den then B misses fewer than
    * p = n − ceil(n·num/den) + 1 of A's shingles, so ANY p-subset of
    * A's shingles contains one that B holds — the theorem needs no
    * ordering property at all, so ranking A's prefix by INDEX-side df
    * (the df that exists at the front door; unseen shingles default
    * to 0 = rarest, and their posting lists are empty) is a pure
    * performance choice and cannot lose a pair. */
  private[llm] def incrementalContainmentPairs(dsh: DataFrame, num: Int = 9,
      den: Int = 10, minShingles: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = dsh.select(col("doc_id"), col("sh"), size(col("sh")).cast("long").as("n"))
      .filter(col("n") >= minShingles)
    val isDelta = col("doc_id") % 10 === 0
    val delta = d.filter(isDelta)
    val idx = d.filter(!isDelta)
    def postings(side: DataFrame): DataFrame =
      side.select(col("doc_id"), col("n"), explode(col("sh")).as("s"))
    val exIdx = postings(idx)
    val exDelta = postings(delta)
    // index-side df — the rarity order an ingest cycle actually has
    val dfIdx = exIdx.groupBy("s").agg(count(lit(1)).as("dfc"))
    val p = col("n") - expr(s"(n * $num + ${den - 1}) div $den") + 1
    def prefixOf(ex: DataFrame): DataFrame =
      ex.join(dfIdx, Seq("s"), "left").na.fill(0L, Seq("dfc"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("dfc"), col("s"))))
        .filter(col("rn") <= p)
        .select(col("doc_id").as("a"), col("s"))
    // delta ⊂ index: delta prefixes probe the index's full postings
    val d1 = prefixOf(exDelta)
      .join(exIdx.select(col("doc_id").as("b"), col("s")), "s")
    // index ⊂ delta: precomputed index prefixes probe the delta's postings
    val d2 = prefixOf(exIdx)
      .join(exDelta.select(col("doc_id").as("b"), col("s")), "s")
    // NOT coalesced (measured, r19): after the engine-wide
    // union-partitioning disable cost this query ~0.7 s (UnionAb:
    // conf ON 1.38/1.12 vs OFF 2.02/1.84 cold/hot), an explicit
    // coalesce(32) after the union was tried to recover it — and read
    // WORSE on both arms (2.43–2.56 / 2.00–2.05): the narrow coalesce
    // fuses into the parent stage and halves the two probe joins'
    // parallelism. The 0.7 s stays as the documented price of dodging
    // the zip-crash class; q135's anchor carries it.
    val cands = d1.unionByName(d2).select("a", "b").distinct()
    cands
      .join(d.select(col("doc_id").as("a"), col("sh").as("sha"), col("n").as("na")), "a")
      .join(d.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .filter(col("inter") * den >= col("na") * num)
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("inter"),
        col("na").as("size_a"))
      .orderBy("doc_a", "doc_b")
  }

  /** The deployment artifact behind [[incrementalContainmentPairs]]
    * (the containment counterpart of [[writeBandIndex]]): the index
    * side's posting table — (s, index_id, n, in_prefix) — bucketed on
    * the shingle key. One table serves both probe directions:
    * delta→index scans all rows; index→delta scans the `in_prefix`
    * subset (each index doc's p rarest shingles). A delta probe joins
    * it bucket-aligned with zero index-side exchange; append-only
    * corpora append posting rows. */
  def writeContainmentIndex(s: SparkSession, dir: String, table: String,
      buckets: Int = 32, num: Int = 9, den: Int = 10,
      minShingles: Int = 10): Unit = {
    import org.apache.spark.sql.expressions.Window
    val d = docShingles(s, dir)
      .select(col("doc_id"), col("sh"), size(col("sh")).cast("long").as("n"))
      .filter(col("n") >= minShingles && col("doc_id") % 10 =!= 0)
    val ex = d.select(col("doc_id").as("index_id"), col("n"), explode(col("sh")).as("s"))
    val dfc = ex.groupBy("s").agg(count(lit(1)).as("dfc"))
    val p = col("n") - expr(s"(n * $num + ${den - 1}) div $den") + 1
    ex.join(dfc, "s")
      .withColumn("rn", row_number().over(
        Window.partitionBy("index_id").orderBy(col("dfc"), col("s"))))
      .select(col("s"), col("index_id"), col("n"), (col("rn") <= p).as("in_prefix"))
      .write.mode("overwrite")
      .bucketBy(buckets, "s").sortBy("s")
      .format("parquet").saveAsTable(table)
  }

  /** q101's index-time projection, persisted: (doc_id, dl, mt) where
    * mt keeps ONLY query-term occurrences. The expensive step is the
    * tokenization; this frame captures everything BM25 needs from it
    * (per-doc length + matched postings, tens of bytes per doc — the
    * per-query posting projection, far smaller than the corpus), so
    * the N/Σdl scalars and the tf pass both read one materialization
    * instead of tokenizing twice. */
  private[graft] def bm25Pre(s: SparkSession, dir: String, terms: Seq[String]): DataFrame =
    // Key includes the (order-insensitive) term set: the projection is
    // filtered to `terms`, so a second caller with different query
    // terms must NOT reuse it — it would silently score against the
    // first caller's postings.
    Caches.memo(Family.Text, s, "bm25|" + dir + "|" + terms.sorted.mkString(","))(
      docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .select(col("doc_id"), size(col("t")).cast("long").as("dl"),
          filter(col("t"), w => w.isin(terms: _*)).as("mt"))
        .persist())(_.unpersist())

  /** Drop every memoized frame owned by `s` (see [[graft.Caches]]):
    * within a sweep the text-dedup family shares them; after the
    * family's last consumer they are dead weight in the storage tier. */
  def release(s: SparkSession): Unit = Family.Text.release(s)

  /** q101's fixed (q_id, term) query table — factored to a constant so
    * [[prebuild]] keys the SAME bm25Pre memo the query reads. */
  private[llm] val Bm25QueryTerms: Seq[(Long, String)] =
    Seq(0L -> "join", 0L -> "hash", 1L -> "vector",
      1L -> "scan", 1L -> "filter", 2L -> "merge", 2L -> "slow")

  /** Force-build every memoized frame of the text-dedup family — the
    * bench's NAMED UNTIMED cache-build slot (round 17, VERDICT r16
    * items 1/3): a sweep previously billed each family build to the
    * family's first consumer (q57 absorbed the token-hash → shingle →
    * LSH-pair → connected-components chain, reading 2.5–12 s for a
    * 0.1 s query), which made first-consumer medians measure the
    * CACHE, not the query. Materializing [[docComponents]] populates
    * the whole chain (persist is lazy — the action runs through and
    * fills each parent's storage); the other three are independent
    * roots. count() is enough: each frame is persisted at its own
    * root, so the scan fills the columnar cache completely. */
  private[graft] def prebuild(s: SparkSession, dir: String): Unit = {
    docComponents(s, dir).count()
    bruteJaccardPairs(s, dir).count()
    splitGramCounts(s, dir).count()
    langConfusion(s, dir).count()
    bm25Pre(s, dir, Bm25QueryTerms.map(_._2).distinct).count()
    simhashHamPairs(s, dir).count()
    spansFrame(s, dir).count()
    corpusGrams(s, dir).count()
    corpusSpans(s, dir).count()
    qualityBase(s, dir)
    // q237/q238's disk artifacts: the writes are ingest's job
    // (yesterday's artifacts) — written once per session, so sweeps
    // 2+ cost a catalog lookup here
    gramIndexTable(s, dir)
    spanIndexTable(s, dir)
    ()
  }

  /** q194's (gram-hash, split, count) frame — the ONE corpus explode
    * behind the leakage census, persisted because the pair join reads
    * it twice AND the per-split distinct totals read it again (gram-
    * vocabulary-bounded rows, never corpus-bounded; exchange reuse
    * alone deduped only the join's two sides, the totals branch
    * re-ran the explode — measured 3 corpus scans without this). */
  private def splitGramCounts(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Text, s, "splitGram|" + dir) {
      docs(s, dir)
        .select(TextMining.splitHash(col("doc_id")).as("hh"),
          expr("filter(split(text, ' '), x -> x != '')").as("ws"))
        .filter(size(col("ws")) >= 3)
        .select(when(col("hh") < 800, "train").when(col("hh") < 900, "val")
          .otherwise("test").as("split"),
          explode(expr(TextMining.triHashes("ws"))).as("h"))
        .groupBy("h", "split").agg(count(lit(1)).as("c"))
        .persist()
    }(_.unpersist())

  /** Connected components over the memoized pair table, memoized
    * themselves: q57 (listing) and q91 (size histogram) share ONE run
    * of the iterative label-propagation loop. */
  private def docComponents(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Text, s, "comp|" + dir) {
      val (out, last) = Dedup.componentsHeld(lshPairs(s, dir), "doc_a", "doc_b")
      (out.persist(), last)
    } { case (out, last) => out.unpersist(); last.foreach(_.unpersist()) }._1

  /** 2^k for k = 0..29 (SimHash bit weights). */
  val pow2: Seq[Long] = (0 until 30).map(k => 1L << k)
  val pow2Sql: String = pow2.mkString("[", ", ", "]")

  /** Fingerprint position weights: 31^i mod M for i = 1..MaxFpTokens. */
  val MaxFpTokens = 200
  val powFp: Seq[Long] =
    Iterator.iterate(31L)(p => p * 31 % M).take(MaxFpTokens).toSeq
  val powFpSql: String = powFp.mkString("[", ", ", "]")

  /** Shared CTE chain for q66/q172: 30-bit SimHash per doc and the
    * emitted pair set `hp(doc_a, doc_b, hamming)` at hamming ≤ 2. */
  private lazy val simhashPairsCore: String =
    s"""$sqlPrelude,
       |tf AS (SELECT doc_id, h, count(*) AS tf FROM wh GROUP BY 1, 2),
       |bits AS (
       |  SELECT doc_id, k,
       |         sum(tf * (2 * ((h // (${pow2Sql})[k+1]) % 2) - 1)) AS acc
       |  FROM tf CROSS JOIN (SELECT unnest(generate_series(0, 29)) AS k)
       |  GROUP BY 1, 2),
       |sims AS (
       |  SELECT doc_id,
       |         sum(CASE WHEN acc > 0 THEN (${pow2Sql})[k+1] ELSE 0 END)::BIGINT AS simhash
       |  FROM bits GROUP BY doc_id),
       |hp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
       |       FROM sims a JOIN sims b
       |         ON a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 2)"""
      .stripMargin

  /** q172's per-pair exact-Jaccard verification, DIRECT form: join the
    * emitted pair frame to the persisted shingle sets twice and
    * intersect per doc pair. Right when content is mostly distinct
    * (every pair is its own content pair; a class collapse would add
    * a wide groupBy for nothing). Returns (hamming, m = 1, jm). */
  private[llm] def transferJmDirect(s: SparkSession, dir: String): DataFrame = {
    val sz = docShingles(s, dir)
    simhashHamPairs(s, dir)
      .join(sz.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("hamming"), lit(1L).as("m"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("inter"),
        (size(col("sh_a")) + size(col("sh_b"))).cast("long").as("ss"))
      .select(col("hamming"), col("m"),
        expr("(1000 * inter) div (ss - inter)").as("jm"))
  }

  /** q172's verification, CONTENT-CLASS COLLAPSED form (the q66/q124
    * hot-bucket defense carried through the verify stage): docs map to
    * their distinct-shingle-set class via a slim (doc_id, cid) frame,
    * pair multiplicities reduce per (hamming, unordered class pair)
    * BEFORE any array moves, and array_intersect runs ONCE per
    * distinct content pair. Returns (hamming, m, jm) with m the member
    * multiplicity — the same pair population as the direct form
    * (jm depends only on the shingle sets, so min/max/Σ m·jm agree
    * exactly; SimhashTransferSpec pins both forms equal). Under
    * clone-heavy duplication the per-pair verify was the whole cost:
    * a 10×-cloned corpus multiplies member pairs 45× per duplicated
    * content, and the direct form read 23.1 s vs 1.84 base (12.6×);
    * collapsed, the same adversary prices at 1.4× — counting instead
    * of intersecting. */
  private[llm] def transferJmCollapsed(s: SparkSession, dir: String): DataFrame = {
    val cls = docShingles(s, dir)
      .groupBy(sort_array(col("sh")).as("shs"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .withColumn("cid", element_at(col("ids"), 1))
    val docCid = cls.select(explode(col("ids")).as("doc_id"), col("cid"))
    val reps = cls.select(col("cid"), col("shs"), size(col("shs")).as("n"))
    simhashHamPairs(s, dir)
      .join(docCid.select(col("doc_id").as("doc_a"), col("cid").as("ca")), "doc_a")
      .join(docCid.select(col("doc_id").as("doc_b"), col("cid").as("cb")), "doc_b")
      // multiplicity per (hamming, unordered content pair): arrays
      // have not moved yet — this shuffle is four longs per pair
      .groupBy(col("hamming"),
        least(col("ca"), col("cb")).as("cid_a"),
        greatest(col("ca"), col("cb")).as("cid_b"))
      .agg(count(lit(1)).as("m"))
      // ONE exact verification per distinct content pair
      .join(reps.select(col("cid").as("cid_a"), col("shs").as("sh_a"),
        col("n").as("na")), "cid_a")
      .join(reps.select(col("cid").as("cid_b"), col("shs").as("sh_b"),
        col("n").as("nb")), "cid_b")
      .select(col("hamming"), col("m"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("inter"),
        (col("na") + col("nb")).cast("long").as("ss"))
      .select(col("hamming"), col("m"),
        expr("(1000 * inter) div (ss - inter)").as("jm"))
  }

  /** q66's pair computation, factored for q172: kernel SimHash per
    * doc, sketch-class collapse (hamming-0 = within-class pairs;
    * cross-class candidates from a 3×10-bit band join over DISTINCT
    * sketches only — the hot-bucket defense the q66 scaladoc prices),
    * membership expansion at output. Unordered — callers sort.
    * MEMOIZED per (session, dir) like [[lshPairs]] (round 17): four
    * board queries plus the dedup facade consume the same pair frame,
    * and the band self-join + membership expansion was re-running per
    * consumer (~2 s of q203's residual after the Myers kernel removed
    * the DP cost); the frame is |pairs|·3 longs — pennies resident. */
  private[graft] def simhashHamPairs(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Text, s, "simPair|" + dir) {
      val p = simhashHamPairsUncached(s, dir).persist()
      p.count() // materialize before downstream consumers fan out
      p
    }(_.unpersist())

  private def simhashHamPairsUncached(s: SparkSession, dir: String): DataFrame = {
    val sims = tokenHashArr(s, dir)
      .select(col("doc_id"),
        graft.plans.TextKernels.simhash(col("hs")).as("simhash"))
    // sketch classes: one row per DISTINCT sketch + sorted members
    val classes = sims.groupBy("simhash")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
    // hamming-0: all member pairs of each class, already id-ordered
    val within = classes.filter(size(col("ids")) > 1)
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)), y ->
          |    struct(x AS a, y AS b))))""".stripMargin)).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"),
        lit(0L).as("hamming"))
    // cross-class candidates: band join over distinct sketches only
    val bands = classes.select(col("simhash"), col("ids"),
      posexplode(array(
        col("simhash").bitwiseAND(1023),
        shiftright(col("simhash"), 10).bitwiseAND(1023),
        shiftright(col("simhash"), 20))).as(Seq("band", "bkey")))
    val cross = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.simhash") < col("y.simhash"))
      .select(col("x.simhash").as("sh_a"), col("y.simhash").as("sh_b"),
        col("x.ids").as("ids_a"), col("y.ids").as("ids_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 2)
      // a sketch pair can collide in several bands: dedup BEFORE the
      // membership expansion (first() is well-defined — ids are
      // functional in the sketch)
      .groupBy("sh_a", "sh_b")
      .agg(first(col("ids_a")).as("ids_a"), first(col("ids_b")).as("ids_b"),
        first(col("hamming")).as("hamming"))
      .select(explode(col("ids_a")).as("da"), col("ids_b"), col("hamming"))
      .select(col("da"), explode(col("ids_b")).as("db"), col("hamming"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    within.unionAll(cross)
  }

  val qs: Seq[Q] = Seq(

    // ---- exact + normalized dedup (hash groupBy, first-wins by id).
    // The fixture has no exact dups, so dedup a union of the corpus
    // with a re-keyed copy of itself: every text has exactly 2 copies
    // and the lower doc_id must win.
    Q("q38_dedup_exact",
      """WITH unioned AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents),
        |norm AS (SELECT doc_id, trim(lower(text)) AS key FROM unioned),
        |kept AS (SELECT min(doc_id) AS kept_doc_id, count(*) AS n_copies
        |         FROM norm GROUP BY key)
        |SELECT kept_doc_id, n_copies FROM kept ORDER BY kept_doc_id""".stripMargin) { (s, dir) =>
      val d = T.df(s, dir, "documents")
      val both = d.select(col("doc_id"), col("text"))
        .unionAll(d.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      both.select(col("doc_id"), trim(lower(col("text"))).as("key"))
        .groupBy("key")
        .agg(min("doc_id").as("kept_doc_id"), count(lit(1)).as("n_copies"))
        .select("kept_doc_id", "n_copies")
        .orderBy("kept_doc_id")
    },

    // ---- Quality-aware keep-best dedup (round 16 — the keep RULE
    // upgrade over q38's first-wins: crawls surface truncation
    // mirrors (the same article cut mid-body), and first-wins keeps
    // whichever id sorted lower — possibly the stub. Here the class
    // key is the first-8-token prefix fingerprint (truncation-stable
    // where the exact key is not) and the keep rule is argmax
    // (quality, token count, −doc_id) with q46's integer quality
    // score — among prefix-sharing docs, keep the fullest best one.
    // The `upgraded` flag counts exactly the classes where this rule
    // beats first-wins. Same deterministic union adversary as q38
    // (+10000-shifted copies truncated to their first 30 tokens) so
    // both engines grade a corpus that HAS mirrors at every SF. Plan
    // at 100 TB: one map-only pass computes key + quality (compiled
    // kernel), the per-class argmax is a window over CLASS-bounded
    // partitions (the class IS the dedup unit — a mega-class means
    // mega-duplication, and its window is still one class, never the
    // corpus), then a class-count filter. No self-join.
    Q("q196_dedup_keep_best",
      keepBestCoreSql + """,
        |rk AS (SELECT key, doc_id, n_tokens, quality,
        |         row_number() OVER (PARTITION BY key
        |           ORDER BY quality DESC, n_tokens DESC, doc_id) AS rk,
        |         count(*) OVER (PARTITION BY key) AS n_members,
        |         min(doc_id) OVER (PARTITION BY key) AS first_id
        |       FROM m)
        |SELECT doc_id AS kept_doc_id, n_members::BIGINT AS n_members,
        |       quality::BIGINT AS kept_quality, n_tokens::BIGINT AS kept_tokens,
        |       (doc_id <> first_id) AS upgraded
        |FROM rk WHERE rk = 1 AND n_members >= 2
        |ORDER BY kept_doc_id""".stripMargin) { (s, dir) =>
      val m = keepBestInput(s, dir)
      val w = Window.partitionBy("key")
      m.withColumn("rk", row_number().over(
          w.orderBy(col("quality").desc, col("n_tokens").desc, col("doc_id"))))
        .withColumn("n_members", count(lit(1)).over(w))
        .withColumn("first_id", min("doc_id").over(w))
        .filter(col("rk") === 1 && col("n_members") >= 2)
        .select(col("doc_id").as("kept_doc_id"), col("n_members"),
          col("quality").as("kept_quality"), col("n_tokens").as("kept_tokens"),
          (col("doc_id") =!= col("first_id")).as("upgraded"))
        .orderBy("kept_doc_id")
    },

    // ---- The unified dedup facade, oracle-pinned end-to-end (round
    // 18, VERDICT r17 item 3): q196's semantics routed through
    // `Dedup.dedup(df, id, ExactKey, KeepBest)` — the COMPOSITION
    // surface itself hash-pinned against DuckDB, not just
    // differentially against its direct forms (DedupFacadeSpec keeps
    // the spec-level pins; this query makes the facade a first-class
    // board citizen). Output is the facade's contract: the full
    // MEMBERSHIP MAP — one row per input row with its elected
    // survivor and class size (q196 reports only multi-member
    // survivors; the map is what downstream curation joins against).
    // The keep rule is q196's argmax (quality, n_tokens, −doc_id),
    // expressed as KeepBest(struct(quality, n_tokens)) — the struct
    // max IS the lexicographic order and the facade's negid tie-break
    // IS the min-id rule, so the oracle's row_number form must agree
    // exactly. Plan at 100 TB: identical to q196's class-bounded
    // shape — one map-only kernel pass, one key-shuffle struct-max
    // aggregate (map-side combinable, no per-class row window), one
    // same-key join back (exchange-reusable).
    Q("q220_dedup_facade",
      keepBestCoreSql + """,
        |rk AS (SELECT key, doc_id,
        |         row_number() OVER (PARTITION BY key
        |           ORDER BY quality DESC, n_tokens DESC, doc_id) AS rk,
        |         count(*) OVER (PARTITION BY key) AS n_members
        |       FROM m),
        |k AS (SELECT key, doc_id AS kept_id, n_members FROM rk WHERE rk = 1)
        |SELECT m.doc_id, k.kept_id, k.n_members::BIGINT AS n_members,
        |       (m.doc_id = k.kept_id) AS survivor
        |FROM m JOIN k USING (key)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val m = keepBestInput(s, dir)
      Dedup.dedup(m, "doc_id",
          Dedup.MatchRule.ExactKey(col("key")),
          Dedup.MergeRule.KeepBest(struct(col("quality"), col("n_tokens"))))
        .select(col("doc_id"), col("kept_id"), col("n_members"),
          (col("doc_id") === col("kept_id")).as("survivor"))
        .orderBy("doc_id")
    },

    // ---- Exact substring-level dedup (round 18, VERDICT r17 item 4
    // — the one well-known dedup family member the engine's seven
    // surfaces didn't cover, the Lee et al. 2022 "Deduplicating
    // Training Data Makes Language Models Better" operator class):
    // maximal cross-document verbatim token spans of length ≥ K.
    // Winnowing (q146/q154) SAMPLES fingerprints and CDC (q178) cuts
    // at content boundaries, so neither yields exact maximal repeated
    // spans; this does. Semantics (Lee et al.'s merged-window form):
    // a K-gram instance is duplicated iff its exact token text occurs
    // in ≥ 2 DISTINCT docs (within-doc repeats alone do not count —
    // this is cross-doc dedup); maximal runs of consecutive
    // duplicated gram positions in a doc merge into one span
    // (gaps-and-islands, q156's diagonal discipline applied to the
    // within-doc position axis), so a span's windows may match
    // DIFFERENT partner docs — the standard relaxation, documented.
    // Output: (doc_id, span_start, span_len, span_md5) — span_md5 is
    // the span-content identity a caller clusters on (group by
    // span_md5 = the docs sharing that repeated content).
    //
    // Two-stage exactness (never trust a hash): stage 1 generates
    // candidate positions by an IN-ROW xxhash64 gram-hash stream
    // (map-only; text equal ⇒ hash equal, so candidates ⊇ truth —
    // no false negatives by construction); stage 2 re-extracts the
    // exact gram TEXT for candidate instances only (join back on
    // doc_id, slice) and keeps grams whose text spans ≥ 2 docs —
    // hash collisions die here, and since all instances of one text
    // share one hash, the verify stage always sees the COMPLETE
    // instance set per text. SubstringDedupSpec pins the whole
    // operator against a Scala brute force on adversarial overlaps
    // (k-boundaries, within-doc-only repeats, multi-partner merged
    // islands, island splits).
    //
    // Plan at 100 TB (the distributed answer to Lee et al.'s
    // single-node suffix array): NO pair enumeration anywhere — one
    // map-only gram-hash pass, one hash-keyed agg (map-side
    // combinable (gh, doc) pre-agg), a candidate-bounded join back
    // (∝ true duplication mass, the operator's output contract),
    // one exact-text agg over candidates, per-DOC islands windows
    // (bounded by doc length, never corpus-wide), and a span-bounded
    // slice join for identities. Hot boilerplate grams cost instance
    // rows, not instance² pairs.
    Q("q221_substring_dedup",
      spanSqlCore + s"""
        |SELECT sp.doc_id, sp.span_start, sp.span_len,
        |       md5(array_to_string(tl.t[sp.span_start : sp.span_start + sp.span_len - 1], ' ')) AS span_md5
        |FROM sp JOIN tl USING (doc_id)
        |ORDER BY doc_id, span_start""".stripMargin, Family.Text) { (s, dir) =>
      spansFrame(s, dir).orderBy("doc_id", "span_start")
    },

    // ---- The dedup facade's SECOND dispatch arm oracle-pinned (round
    // 18, q220's companion): q57's near-dup clustering routed through
    // `Dedup.dedup(docs, "doc_id", PairGraph(lshPairs), KeepFirst)` —
    // the components + survivor-election composition itself
    // hash-pinned against DuckDB's recursive transitive closure, with
    // the full corpus as input so the NULL-component arm (docs in no
    // pair — the vast majority) is exercised as singletons
    // (kept_id = own id, n_members = 1), not dropped. KeepFirst's
    // min-id election must agree with the closure's
    // least(a, min(b)) representative on every cluster. Plan shapes
    // are q57's: the memoized LSH pair family + the diameter-bounded
    // components loop + one rep-keyed aggregate + the join back.
    Q("q222_dedup_facade_graph",
      clustersCore + """,
        |mm AS (SELECT d.doc_id, coalesce(comp.cluster_rep, d.doc_id) AS k
        |       FROM documents d LEFT JOIN comp USING (doc_id)),
        |agg AS (SELECT k, min(doc_id) AS kept_id, count(*)::BIGINT AS n_members
        |        FROM mm GROUP BY k)
        |SELECT mm.doc_id, agg.kept_id, agg.n_members,
        |       (mm.doc_id = agg.kept_id) AS survivor
        |FROM mm JOIN agg USING (k)
        |ORDER BY doc_id""".stripMargin, Family.Text) { (s, dir) =>
      // join the MEMOIZED component frame (round 22): the generic
      // PairGraph arm re-ran the iterative components loop on every
      // evaluation, while q57/q91/q232 already share one run via the
      // family cache — q222 now reads the same frame (identical
      // result by construction: same lshPairs input, same loop)
      Dedup.dedupWithComponents(docs(s, dir).select(col("doc_id")), "doc_id",
          docComponents(s, dir).withColumnRenamed("id", "doc_id"),
          Dedup.MergeRule.KeepFirst)
        .select(col("doc_id"), col("kept_id"), col("n_members"),
          (col("doc_id") === col("kept_id")).as("survivor"))
        .orderBy("doc_id")
    },

    // ---- Substring-dedup CUT census (round 18 — q221's actionable
    // output, the number a curation run budgets with: how many tokens
    // would substring dedup REMOVE, per source). Two masses, honestly
    // distinct: n_spans counts q221's spans, and because two islands
    // separated by a gram gap < K overlap in TOKEN space, covered
    // tokens are the INTERVAL-UNION length per doc (gaps-and-islands
    // over [span_start, span_end]: break when start > running-max
    // end + 1), never Σ span_len — SubstringDedupSpec pins the union
    // on overlapping-span fixtures. dup_milli = 1000·dup_tokens div
    // n_tokens per source. Plan at 100 TB: spans are the memoized
    // bounded frame (built once, shared with q221); token totals are
    // one qualityStats kernel pass; the merge windows partition per
    // DOC over span counts (bounded), and the census agg is
    // |sources| rows.
    Q("q223_substring_cut_census",
      spanSqlCore + s""",
        |iv AS (SELECT doc_id, span_start, span_start + span_len - 1 AS span_end,
        |         CASE WHEN span_start > coalesce(max(span_start + span_len - 1) OVER (
        |                PARTITION BY doc_id ORDER BY span_start
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
        |              THEN 1 ELSE 0 END AS brk
        |       FROM sp),
        |ivg AS (SELECT doc_id, span_start, span_end,
        |          sum(brk) OVER (PARTITION BY doc_id ORDER BY span_start
        |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
        |        FROM iv),
        |cov AS (SELECT doc_id, (max(span_end) - min(span_start) + 1)::BIGINT AS ctoks
        |        FROM ivg GROUP BY doc_id, gid),
        |dd AS (SELECT doc_id, count(*)::BIGINT AS n_spans FROM sp GROUP BY doc_id),
        |cv AS (SELECT doc_id, sum(ctoks)::BIGINT AS dup_toks FROM cov GROUP BY doc_id),
        |tok AS (SELECT doc_id, source,
        |          len(list_filter(string_split(lower(text), ' '), x -> x != ''))::BIGINT AS nt
        |        FROM documents)
        |SELECT tok.source, count(*)::BIGINT AS n_docs, sum(tok.nt)::BIGINT AS n_tokens,
        |       count(dd.doc_id)::BIGINT AS n_dup_docs,
        |       coalesce(sum(dd.n_spans), 0)::BIGINT AS n_spans,
        |       coalesce(sum(cv.dup_toks), 0)::BIGINT AS dup_tokens,
        |       (1000 * coalesce(sum(cv.dup_toks), 0) // NULLIF(sum(tok.nt), 0))::BIGINT AS dup_milli
        |FROM tok LEFT JOIN dd USING (doc_id) LEFT JOIN cv USING (doc_id)
        |GROUP BY tok.source ORDER BY tok.source""".stripMargin, Family.Text) { (s, dir) =>
      val spans = spansFrame(s, dir)
      val cov = spanCoverage(spans)
      val dd = spans.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
      val st = graft.plans.TextKernels.qualityStats(lower(col("text")))
      val tok = docs(s, dir)
        .select(col("doc_id"), col("source"),
          element_at(st, 1).cast("long").as("nt"))
      tok
        .join(dd, Seq("doc_id"), "left")
        .join(cov, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
          count(col("n_spans")).as("n_dup_docs"),
          coalesce(sum("n_spans"), lit(0L)).as("n_spans"),
          coalesce(sum("dup_toks"), lit(0L)).as("dup_tokens"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_dup_docs"), col("n_spans"), col("dup_tokens"),
          expr("(1000 * dup_tokens) div nullif(n_tokens, 0)").as("dup_milli"))
        .orderBy("source")
    },

    // ---- Span-cluster offender census (round 18 — the third member
    // of the substring family: q221 finds the spans, q223 prices the
    // cut, q224 names WHICH content repeats and how widely — the
    // table a curation owner reads to decide lexicon-fix vs
    // source-recrawl, the q206 attribution question at span
    // granularity). Per span content (span_md5), across the corpus:
    // occurrences, distinct docs, extent range (mirror spans can
    // extend ASYMMETRICALLY when one host's island runs longer — the
    // min/max extents expose it), total token mass, first hosting
    // doc; top-20 by token mass (deterministic tiebreak on md5).
    // Only content shared as a FULL span by ≥ 2 docs ranks —
    // single-doc span contents are extent asymmetries, not offenders.
    // Plan at 100 TB: one |spans|-bounded aggregate over the memoized
    // span frame (shared with q221/q223, built once untimed) and a
    // TakeOrderedAndProject top-k — nothing corpus-scale moves.
    Q("q224_span_clusters",
      spanSqlCore + s""",
        |sm AS (SELECT sp.doc_id, sp.span_start, sp.span_len,
        |         md5(array_to_string(tl.t[sp.span_start : sp.span_start + sp.span_len - 1], ' ')) AS span_md5
        |       FROM sp JOIN tl USING (doc_id)),
        |cl AS (SELECT span_md5, count(*)::BIGINT AS n_occ,
        |         count(DISTINCT doc_id)::BIGINT AS n_docs,
        |         min(span_len)::BIGINT AS min_len, max(span_len)::BIGINT AS max_len,
        |         sum(span_len)::BIGINT AS token_mass, min(doc_id)::BIGINT AS first_doc
        |       FROM sm GROUP BY span_md5)
        |SELECT span_md5, n_occ, n_docs, min_len, max_len, token_mass, first_doc
        |FROM cl WHERE n_docs >= 2
        |ORDER BY token_mass DESC, span_md5 LIMIT 20""".stripMargin, Family.Text) { (s, dir) =>
      spansFrame(s, dir)
        .groupBy("span_md5")
        .agg(count(lit(1)).as("n_occ"),
          countDistinct("doc_id").as("n_docs"),
          min("span_len").as("min_len"), max("span_len").as("max_len"),
          sum("span_len").as("token_mass"), min("doc_id").as("first_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("token_mass").desc, col("span_md5"))
        .limit(20)
    },

    // ---- n-gram Jaccard near-dup, brute force (capped baseline; the
    // LSH path below is the uncapped scale path). Blocked-kernel
    // formulation ([[graft.plans.PairJaccard]], same block-pair shape
    // as q65): rounds 2–6 generated candidates by self-joining the
    // exploded shingle stream — worst-case quadratic in docs-per-
    // shingle ANYWAY (it is brute force by intent) plus a shuffle of
    // every (doc, shingle) row; the kernel runs the same n²/2 sorted-
    // merge intersections compiled, with one collect_list shuffle.
    Q("q39_dedup_ngram_jaccard", jaccardPairsSqlCapped, Family.Text) { (s, dir) =>
      bruteJaccardPairs(s, dir).orderBy("doc_a", "doc_b")
    },

    // ---- MinHash signature matrix (8 seeds) — the sketch itself is
    // oracle-checked bit-for-bit via the shared arithmetic hash.
    Q("q40_dedup_minhash_sig",
      s"""$sqlPrelude
         |SELECT doc_id, s::BIGINT AS seed, ${minhashSql("sh", "s")}::BIGINT AS minhash
         |FROM dsh CROSS JOIN (SELECT unnest([1,2,3,4,5,6,7,8]) AS s)
         |GROUP BY doc_id, s
         |ORDER BY doc_id, seed""".stripMargin, Family.Text) { (s, dir) =>
      // the first 8 entries of the compiled 64-seed signature ARE the
      // seed-1..8 minhashes (same family; MinhashSigsKernelSpec pins
      // the kernel equal to the HOF formulation this replaced —
      // the interpreted-HOF bimodality q166 exhibited, same fix)
      docShingles(s, dir)
        .select(col("doc_id"),
          posexplode(slice(graft.plans.TextKernels.minhashSigs(col("sh")), 1, 8)))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("seed"),
          col("col").as("minhash"))
        .orderBy("doc_id", "seed")
    },

    // ---- MinHash-LSH near-dup: band buckets → candidates → exact
    // verification. Output equals the brute-force oracle because every
    // true pair here sits at Jaccard ≥ 0.9 where 16×4 LSH recall is ~1
    // (deterministic given the fixed hash family).
    Q("q41_dedup_minhash_lsh", jaccardPairsSql, Family.Text) { (s, dir) =>
      lshPairs(s, dir)
    },

    // ---- EXACT set-similarity join via prefix filtering (the
    // AllPairs candidate scheme, Bayardo et al. WWW'07): the third
    // member of the similarity-join family — q39 is exact but capped
    // (blocked all-pairs), q41 is uncapped but probabilistic (LSH
    // recall < 1 by construction); this is uncapped AND
    // provable-complete at Jaccard ≥ 0.5. See [[prefixJaccardPairs]]
    // for the algorithm, the completeness proof, and the
    // shingle-class collapse (the q66/q41 hot-bucket defense —
    // PrefixJoinSpec pins both the brute-force equivalence and the
    // clone-robust shape). The oracle states the DOC-level
    // formulation with doc-level df order; the prefix order only
    // steers candidate generation (completeness holds for ANY fixed
    // total order), so both reach the identical exact pair set.
    // PlanSpec pins no-cartesian/BNLJ + class-keyed rank windows.
    Q("q124_jaccard_prefix_join",
      s"""$sqlPrelude,
         |dfc AS (SELECT sh, count(*) AS dfc FROM dsh GROUP BY 1),
         |rk AS (SELECT d.doc_id, d.sh,
         |        row_number() OVER (PARTITION BY d.doc_id ORDER BY f.dfc, d.sh) AS rn,
         |        count(*) OVER (PARTITION BY d.doc_id) AS n
         |       FROM dsh d JOIN dfc f ON f.sh = d.sh),
         |pre AS (SELECT doc_id, sh FROM rk WHERE rn <= n // 2 + 1),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM pre x JOIN pre y ON x.sh = y.sh AND x.doc_id < y.doc_id),
         |i AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
         |      FROM cand c JOIN dsh a ON a.doc_id = c.doc_a
         |                  JOIN dsh b ON b.doc_id = c.doc_b AND b.sh = a.sh
         |      GROUP BY 1, 2)
         |SELECT i.doc_a, i.doc_b, i.inter::BIGINT AS inter,
         |       (sa.n + sb.n - i.inter)::BIGINT AS uni,
         |       ((1000 * i.inter) // (sa.n + sb.n - i.inter))::BIGINT AS jac_milli
         |FROM i JOIN ssize sa ON sa.doc_id = i.doc_a
         |       JOIN ssize sb ON sb.doc_id = i.doc_b
         |WHERE 2 * i.inter >= sa.n + sb.n - i.inter
         |ORDER BY doc_a, doc_b""".stripMargin, Family.Text) { (s, dir) =>
      prefixJaccardPairs(docShingles(s, dir))
    },

    // ---- asymmetric containment ≥ 0.9 (round 13): the fourth member
    // of the similarity-join family — the quote/subset detector
    // Jaccard-based candidates miss by construction (small-in-big
    // pairs have J→0 at containment 1). See [[containmentPairs]] for
    // the rarest-prefix pigeonhole scheme; the oracle is the
    // INDEPENDENT brute directional formulation over shared shingles,
    // integer-exact at 10·inter ≥ 9·|A|.
    Q("q132_dedup_containment",
      s"""$sqlPrelude,
         |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
         |          FROM dsh x JOIN dsh y ON x.sh = y.sh AND x.doc_id <> y.doc_id
         |          GROUP BY 1, 2)
         |SELECT i.doc_a, i.doc_b, i.inter::BIGINT AS inter, sa.n::BIGINT AS size_a
         |FROM inter i JOIN ssize sa ON sa.doc_id = i.doc_a
         |             JOIN ssize sb ON sb.doc_id = i.doc_b
         |WHERE 10 * i.inter >= 9 * sa.n AND sa.n >= 10 AND sb.n >= 10
         |ORDER BY doc_a, doc_b""".stripMargin, Family.Text) { (s, dir) =>
      containmentPairs(docShingles(s, dir))
    },

    // ---- INCREMENTAL containment (round 14): q132's detector on
    // q89's delta/index seam — directed cross-split containment pairs
    // in both directions, with the index side probed through
    // precomputable shingle-keyed artifacts (full postings one way,
    // prefix postings the other) so a deployed cycle shuffles ∝ delta
    // only ([[writeContainmentIndex]] + ContainmentIndexSpec pin the
    // bucketed zero-exchange plan). Oracle = the independent brute
    // directional formulation restricted to cross-split pairs.
    Q("q135_containment_incremental",
      s"""$sqlPrelude,
         |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
         |          FROM dsh x JOIN dsh y ON x.sh = y.sh AND x.doc_id <> y.doc_id
         |           AND ((x.doc_id % 10 = 0) <> (y.doc_id % 10 = 0))
         |          GROUP BY 1, 2)
         |SELECT i.doc_a, i.doc_b, i.inter::BIGINT AS inter, sa.n::BIGINT AS size_a
         |FROM inter i JOIN ssize sa ON sa.doc_id = i.doc_a
         |             JOIN ssize sb ON sb.doc_id = i.doc_b
         |WHERE 10 * i.inter >= 9 * sa.n AND sa.n >= 10 AND sb.n >= 10
         |ORDER BY doc_a, doc_b""".stripMargin, Family.Text) { (s, dir) =>
      incrementalContainmentPairs(docShingles(s, dir))
    },

    // ---- near-dup CLUSTERING: pairs → connected components →
    // representative per cluster (the actual dedup decision). Spark
    // side is iterative min-label propagation (Dedup.components);
    // oracle recomputes via a recursive transitive closure.
    Q("q57_dedup_clusters", clustersSql, Family.Text) { (s, dir) =>
      docComponents(s, dir)
        .select(col("id").as("doc_id"), col("cluster_rep"))
        .orderBy("doc_id")
    },

    // ---- dup-cluster size histogram: the curation report every dedup
    // run ends with ("how much is duplicated, in how big groups") —
    // drives the keep/drop budget decision before deletion. Two tiny
    // aggregations over the SAME memoized component table q57
    // computes (clusters are size ≥ 2 by construction: every graph
    // node has an edge); the second groupBy is histogram-sized.
    Q("q91_dedup_cluster_sizes", clusterSizesSql, Family.Text) { (s, dir) =>
      docComponents(s, dir)
        .groupBy("cluster_rep").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"))
        .orderBy("cluster_size")
    },

    // ---- SimHash (30-bit, tf-weighted word hashes): near-dup sketch
    // whose Hamming distance approximates cosine over the tf vector.
    Q("q42_dedup_simhash",
      s"""$sqlPrelude,
         |tf AS (SELECT doc_id, h, count(*) AS tf FROM wh GROUP BY 1, 2),
         |bits AS (
         |  SELECT doc_id, k,
         |         sum(tf * (2 * ((h // (${pow2Sql})[k+1]) % 2) - 1)) AS acc
         |  FROM tf CROSS JOIN (SELECT unnest(generate_series(0, 29)) AS k)
         |  GROUP BY 1, 2)
         |SELECT doc_id,
         |       sum(CASE WHEN acc > 0 THEN (${pow2Sql})[k+1] ELSE 0 END)::BIGINT AS simhash
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin, Family.Text) { (s, dir) =>
      // Per-row native kernel (graft.plans.SimHash): the oracle's tf
      // weighting is algebraically identical to summing ±1 per
      // OCCURRENCE (Σ_h tf(h)·sign_k(h) = Σ_tokens sign_k), and the
      // kernel runs that accumulation in one compiled loop per row —
      // ZERO shuffles from scan to sketch (rounds 3–5 used 30
      // conditional sums over an exploded token stream: same values,
      // one groupBy shuffle; TextKernelsSpec pins both paths equal).
      tokenHashArr(s, dir)
        .select(col("doc_id"),
          graft.plans.TextKernels.simhash(col("hs")).as("simhash"))
        .orderBy("doc_id")
    },

    // ---- language-ID: stopword-profile scoring (deterministic n-gram
    // heuristic; profiles are the operator's config, oracle recomputes).
    Q("q45_text_langid",
      s"""WITH tl AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x != '') AS t
         |            FROM documents)
         |SELECT doc_id,
         |  len(list_filter(t, w -> w IN ('the','a','of','and','in'))) AS n_en,
         |  len(list_filter(t, w -> w IN ('der','die','und','das','ist'))) AS n_de,
         |  len(list_filter(t, w -> w IN ('el','la','y','los','que'))) AS n_es,
         |  len(list_filter(t, w -> w IN ('le','les','et','des','un'))) AS n_fr,
         |  CASE greatest(
         |         len(list_filter(t, w -> w IN ('the','a','of','and','in'))),
         |         len(list_filter(t, w -> w IN ('der','die','und','das','ist'))),
         |         len(list_filter(t, w -> w IN ('el','la','y','los','que'))),
         |         len(list_filter(t, w -> w IN ('le','les','et','des','un'))))
         |    WHEN len(list_filter(t, w -> w IN ('the','a','of','and','in'))) THEN 'en'
         |    WHEN len(list_filter(t, w -> w IN ('der','die','und','das','ist'))) THEN 'de'
         |    WHEN len(list_filter(t, w -> w IN ('el','la','y','los','que'))) THEN 'es'
         |    ELSE 'fr' END AS best_lang
         |FROM tl ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // MAP-ONLY scoring: the [[graft.plans.TextKernels.langScores]]
      // kernel counts all four profiles in one compiled pass per row —
      // zero exchanges at any scale. (Rounds 2–6 exploded the token
      // stream into a conditional-count aggregate: same values, one
      // full-corpus shuffle; TextKernelsSpec pins both paths equal.)
      val profiles = Seq(
        "en" -> Seq("the", "a", "of", "and", "in"),
        "de" -> Seq("der", "die", "und", "das", "ist"),
        "es" -> Seq("el", "la", "y", "los", "que"),
        "fr" -> Seq("le", "les", "et", "des", "un"))
      val sc = graft.plans.TextKernels.langScores(
        lower(col("text")), profiles.map(_._2))
      val scored = docs(s, dir)
        .select(col("doc_id"), sc.as("sc"))
        .select(Seq(col("doc_id")) ++ profiles.zipWithIndex.map {
          case ((l, _), i) => element_at(col("sc"), i + 1).as(s"n_$l")
        }: _*)
      val best = when(greatest(col("n_en"), col("n_de"), col("n_es"), col("n_fr")) === col("n_en"), "en")
        .when(greatest(col("n_en"), col("n_de"), col("n_es"), col("n_fr")) === col("n_de"), "de")
        .when(greatest(col("n_en"), col("n_de"), col("n_es"), col("n_fr")) === col("n_es"), "es")
        .otherwise("fr")
      scored.withColumn("best_lang", best).orderBy("doc_id")
    },

    // ---- quality scoring: integer-exact Gopher-style rules.
    Q("q46_text_quality",
      """WITH tl AS (SELECT doc_id, n_chars,
        |              list_filter(string_split(lower(text), ' '), x -> x != '') AS t
        |            FROM documents),
        |m AS (SELECT doc_id, n_chars, len(t) AS n_tokens,
        |        len(list_distinct(t)) AS n_distinct,
        |        list_max(list_transform(t, w -> length(w))) AS max_tok_len,
        |        len(list_filter(t, w -> length(w) > 6)) AS n_long
        |      FROM tl)
        |SELECT doc_id, n_tokens, n_distinct, max_tok_len, n_long,
        |  (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1 ELSE 0 END
        |   + CASE WHEN 10 * n_distinct >= 3 * n_tokens THEN 1 ELSE 0 END
        |   + CASE WHEN max_tok_len <= 15 THEN 1 ELSE 0 END) AS quality
        |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // one compiled pass via [[graft.plans.TextKernels.qualityStats]]
      // (the four-HOF formulation evaluated interpreted per row;
      // TextKernelsSpec pins both paths equal, null max included)
      val st = graft.plans.TextKernels.qualityStats(lower(col("text")))
      val Seq(nTok, nDis, maxLen, nLong) =
        (1 to 4).map(i => element_at(col("st"), i))
      docs(s, dir)
        .select(col("doc_id"), st.as("st"))
        .select(col("doc_id"), nTok.as("n_tokens"), nDis.as("n_distinct"),
          maxLen.as("max_tok_len"), nLong.as("n_long"),
          (when(nTok.between(20, 1000), 1).otherwise(0)
            + when(nDis * 10 >= nTok * 3, 1).otherwise(0)
            + when(maxLen <= 15, 1).otherwise(0)).as("quality"))
        .orderBy("doc_id")
    },

    // ---- token accounting per corpus slice: whitespace + BPE-ish
    // regex tokenization, aggregated by language.
    Q("q47_text_tokens",
      """SELECT lang, count(*) AS n_docs,
        |  sum(len(list_filter(string_split(text, ' '), x -> x != '')))::BIGINT AS ws_tokens,
        |  sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')))::BIGINT AS re_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(filter(split(col("text"), " "), x => x =!= ""))).as("ws_tokens"),
          sum(size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")))
            .as("re_tokens"))
        .orderBy("lang")
    },

    // ---- tf-idf term weighting: tf and df relationally, top-3 terms
    // per doc. Weight = tf·(N−df) — a linear-idf variant kept
    // integer-exact for cross-engine hashing (production swaps in
    // tf·ln(N/df); libm log differs in the last ulp between engines,
    // which a hash compare cannot tolerate on near-ties).
    Q("q58_text_tfidf",
      """WITH tl AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x != '') AS t
        |            FROM documents),
        |tok AS (SELECT doc_id, unnest(t) AS w FROM tl),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, w, tf.tf, df.df, tf.tf * ((SELECT n FROM n) - df.df) AS score
        |  FROM tf JOIN df USING (w)),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                    ORDER BY score DESC, w) AS rk FROM scored)
        |SELECT doc_id, rk, w AS term, tf, df, score
        |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin) { (s, dir) =>
      // Round 21 A/B NOTE: widening this scan (repartition before the
      // tokenize+explode) was tried and REVERTED — the single-task
      // stages here hold only ~0.3 s of CPU, and 32-way task spread +
      // two concurrent AQE stage jobs cost more than they saved
      // (1.50 → 1.84 s wall). The widening rule of thumb this round:
      // spread a one-task stage only when it holds ≳0.5 s of real CPU.
      val tok = docs(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      val tf = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      // df is derivable from tf (one row per (doc_id, w)), so count
      // the AGGREGATED frame instead of re-tokenizing the corpus with
      // countDistinct — drops a second corpus scan plus the distinct
      // expand, and ReuseExchange shares tf's shuffle between the join
      // branch and this one.
      val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val n = docs(s, dir).count()
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("w"))
      tf.join(df, "w")
        .withColumn("score", col("tf") * (lit(n) - col("df")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("w").as("term"),
          col("tf"), col("df"), col("score"))
        .orderBy("doc_id", "rk")
    },

    // ---- SimHash-bucketed near-dup JOIN (Manku-style web dedup):
    // candidates from 3 bands of 10 bits, verified with exact Hamming
    // distance ≤ 2. Recall is EXACT by pigeonhole — ≤ 2 differing bits
    // touch at most 2 of the 3 bands, so every qualifying pair shares
    // at least one band key verbatim (the oracle recomputes brute-force
    // all-pairs and must hash-match). Same LSH shape as q41: sketches
    // are map-only (q42's kernel), the only shuffle is the band-bucket
    // join. Fixture note: the 40-word vocabulary makes tf profiles —
    // and hence 30-bit SimHashes — weakly selective (≈1% of pairs pass
    // at sf0.01, measured); on a real open-vocabulary corpus the same
    // plan is sparse.
    //
    // SKETCH-CLASS COLLAPSE (the hot-bucket defense): duplicate-heavy
    // corpora — the actual dedup workload — put every clone of a doc
    // into the SAME band buckets, so a naive doc-level bucket join
    // enumerates clone×clone candidates quadratically (measured: a
    // 10×-cloned sf0.1 corpus ran 25 s where sf0.1 ran 1.2 s, a 20×
    // blowup on 10× data). Instead: group docs by sketch FIRST, run
    // the bucket join over DISTINCT sketches only (bucket heat is now
    // bounded by sketch diversity, not corpus duplication), and emit
    // clone pairs by expanding each class's membership list —
    // output-sized work, never wasted candidates. Hamming-0 pairs come
    // straight off the classes; cross-class pairs expand |A|×|B| per
    // qualifying sketch pair. Same answer, same oracle; the 10×-clone
    // sweep drops to ~2 s. AQE skew handling still backs the residual
    // case of many distinct-but-colliding sketches.
    Q("q66_dedup_simhash_ham",
      simhashPairsCore +
        "\nSELECT doc_a, doc_b, hamming FROM hp ORDER BY doc_a, doc_b", Family.Text) { (s, dir) =>
      simhashHamPairs(s, dir).orderBy("doc_a", "doc_b")
    },

    // ---- benchmark-contamination screen: fraction of a doc's
    // shingles that appear in a (small) benchmark set — the standard
    // eval-decontamination pass over training data. The benchmark here
    // is the fixture docs with doc_id % 20 = 0; at 100 TB the
    // benchmark side is genuinely small (eval suites), so its distinct
    // shingles BROADCAST and the corpus side is one map + one
    // partial-agg shuffle — the corpus is never joined big-to-big.
    Q("q62_text_contamination",
      s"""$sqlPrelude,
         |bench AS (SELECT DISTINCT sh FROM dsh WHERE doc_id % 20 = 0),
         |hits AS (SELECT d.doc_id, count(*) AS n_sh, count(b.sh) AS n_hit
         |         FROM dsh d LEFT JOIN bench b USING (sh)
         |         WHERE d.doc_id % 20 <> 0 GROUP BY 1)
         |SELECT doc_id, n_sh::BIGINT AS n_sh, n_hit::BIGINT AS n_hit,
         |       (2 * n_hit >= n_sh) AS contaminated
         |FROM hits ORDER BY doc_id""".stripMargin, Family.Text) { (s, dir) =>
      val sh = docShingles(s, dir)
      val bench = sh.filter(col("doc_id") % 20 === 0)
        .select(explode(col("sh")).as("sh")).distinct()
        .withColumn("mark", lit(1))
      sh.filter(col("doc_id") % 20 =!= 0)
        .select(col("doc_id"), explode(col("sh")).as("sh"))
        .join(broadcast(bench), Seq("sh"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sh"), count(col("mark")).as("n_hit"))
        .select(col("doc_id"), col("n_sh"), col("n_hit"),
          (col("n_hit") * 2 >= col("n_sh")).as("contaminated"))
        .orderBy("doc_id")
    },

    // ---- repetition scoring (Gopher-style): per-doc duplicate
    // bigram/trigram fractions as integer numerators/denominators.
    // The stats are the [[graft.plans.TextKernels.repetitionStats]]
    // native kernel — one compiled pass per row over the token-hash
    // array, so the whole query is the corpus scan + a projection:
    // ZERO shuffles at any scale. Trigram hashes are the shingle
    // family, so the oracle reuses the dsh/ssize CTEs for distincts.
    Q("q63_text_repetition",
      s"""$sqlPrelude,
         |b2 AS (SELECT a.doc_id, (a.h * 31 + b.h) % ${M} AS bh
         |       FROM wh a JOIN wh b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
         |c2 AS (SELECT doc_id, bh, count(*) AS c FROM b2 GROUP BY 1, 2),
         |s2 AS (SELECT doc_id, sum(c) AS n2_total, count(*) AS n2_distinct,
         |              max(c) AS top2_cnt FROM c2 GROUP BY doc_id),
         |base AS (SELECT doc_id, count(*) AS n_tokens FROM wh GROUP BY doc_id)
         |SELECT base.doc_id AS doc_id, n_tokens::BIGINT AS n_tokens,
         |       coalesce(n2_total, 0)::BIGINT AS n2_total,
         |       coalesce(n2_distinct, 0)::BIGINT AS n2_distinct,
         |       coalesce(top2_cnt, 0)::BIGINT AS top2_cnt,
         |       greatest(n_tokens - 2, 0)::BIGINT AS n3_total,
         |       coalesce(ssize.n, 0)::BIGINT AS n3_distinct
         |FROM base LEFT JOIN s2 ON s2.doc_id = base.doc_id
         |          LEFT JOIN ssize ON ssize.doc_id = base.doc_id
         |ORDER BY doc_id""".stripMargin, Family.Text) { (s, dir) =>
      val st = graft.plans.TextKernels.repetitionStats(col("hs"))
      tokenHashArr(s, dir)
        .select(col("doc_id"), size(col("hs")).cast("long").as("n_tokens"), st.as("st"))
        .select(col("doc_id"), col("n_tokens"),
          element_at(col("st"), 1).as("n2_total"),
          element_at(col("st"), 2).as("n2_distinct"),
          element_at(col("st"), 3).as("top2_cnt"),
          element_at(col("st"), 4).as("n3_total"),
          element_at(col("st"), 5).as("n3_distinct"))
        .orderBy("doc_id")
    },

    // ---- passage-level dedup (CCNet line-dedup at chunk granularity —
    // the fixture text has no newlines, so the unit is a 10-token
    // chunk): per doc, how many of its chunks occur more than once
    // CORPUS-WIDE. The fixture has no cross-doc chunk repeats, so the
    // corpus is unioned with a re-keyed copy of its first 50 docs —
    // those (and only those) docs' chunks become duplicates, a
    // deterministic non-degenerate fixture. Chunk hashes are the
    // [[graft.plans.TextKernels.chunkHashes]] kernel (map-only); the
    // shuffles are the corpus-wide occurrence count and the per-doc
    // re-aggregation — the same two exchanges a 100 TB line-dedup
    // needs (count by line hash, then re-join to docs).
    Q("q64_dedup_passages",
      s"""WITH un AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50),
         |toks AS (
         |  SELECT doc_id, unnest(tl) AS w, generate_subscripts(tl, 1) AS pos
         |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x != '') AS tl
         |        FROM un)),
         |wh AS (SELECT doc_id, pos, ${wordHashSql("w")} AS h FROM toks),
         |ch AS (SELECT doc_id, (pos - 1) // 10 AS chunk,
         |              sum((h * (${TextHash.pow31Sql})[(pos - 1) % 10 + 1]) % ${M}) % ${M} AS chash
         |       FROM wh GROUP BY 1, 2),
         |occ AS (SELECT chash, count(*) AS n FROM ch GROUP BY 1)
         |SELECT doc_id, count(*) AS n_chunks,
         |       sum(CASE WHEN n > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_chunks
         |FROM ch JOIN occ USING (chash)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = T.df(s, dir, "documents")
      val un = d.select(col("doc_id"), col("text"))
        .unionAll(d.filter(col("doc_id") < 50)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      val ch = un
        .select(col("doc_id"),
          graft.plans.TextKernels.tokenHashes(lower(col("text"))).as("hs"))
        .filter(size(col("hs")) > 0)
        .select(col("doc_id"),
          explode(graft.plans.TextKernels.chunkHashes(col("hs"))).as("chash"))
      val occ = ch.groupBy("chash").agg(count(lit(1)).as("n"))
      ch.join(occ, "chash")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
        .orderBy("doc_id")
    },

    // ---- document fingerprint: order-sensitive positional hash over
    // token hashes (content-defined identity for shard-level dedup).
    Q("q48_text_fingerprint",
      s"""$sqlPrelude,
         |hl AS (SELECT doc_id, list(h ORDER BY pos) AS hs FROM wh GROUP BY doc_id)
         |SELECT doc_id,
         |  (list_sum(list_transform(hs[1:${MaxFpTokens}], (h, i) -> (h * (${powFpSql})[i]) % ${M})) % ${M})::BIGINT AS fingerprint,
         |  len(hs) AS n_tokens
         |FROM hl ORDER BY doc_id""".stripMargin, Family.Text) { (s, dir) =>
      // dictionary-hashed token arrays; the positional fold itself is a
      // cheap arithmetic transform over ≤200 longs per row.
      val capped = slice(col("hs"), 1, MaxFpTokens)
      val fp = aggregate(
        transform(capped, (h, i) => (h * element_at(typedLit(powFp), i + 1)) % M),
        lit(0L), (a, x) => (a + x) % M)
      tokenHashArr(s, dir)
        .select(col("doc_id"), fp.as("fingerprint"), size(col("hs")).as("n_tokens"))
        .orderBy("doc_id")
    },

    // ---- corpus-wide exact top-k tokens (vocabulary heavy hitters) —
    // the two-phase sketch-then-recount pattern: phase 1 runs a
    // Misra–Gries summary of capacity [[MgCapacity]] per partition
    // (map-only, bounded memory) and unions the surviving keys into a
    // CANDIDATE set; phase 2 recounts ONLY candidate tokens exactly
    // (broadcast semi-join filter + partial-agg groupBy) and takes the
    // top k. Exactness: a token with global count > N/(cap+1) exceeds
    // the local threshold n_p/(cap+1) in at least one partition
    // (averaging), so it survives phase 1 — the result is exact
    // whenever the true k-th token clears that bound (TopKProps pins
    // the guarantee on adversarial streams; trivially exact on the
    // 40-word fixture vocabulary). The naive plan shuffles the FULL
    // vocabulary (billions of keys on web text); here the shuffle
    // carries ≤ cap·partitions candidate keys.
    Q("q67_topk_heavy_hitters",
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS w
        |  FROM documents),
        |cnt AS (SELECT w, count(*) AS n FROM toks GROUP BY w),
        |rk AS (SELECT w, n, row_number() OVER (ORDER BY n DESC, w) AS rk FROM cnt)
        |SELECT rk, w AS term, n FROM rk WHERE rk <= 20 ORDER BY rk""".stripMargin) { (s, dir) =>
      import s.implicits._
      val toks = docs(s, dir).select(explode(tokens(col("text"))).as("w"))
      val cands = toks.as[String].mapPartitions(MisraGries.summarize(_, MgCapacity))
        .toDF("w").distinct()
      toks.join(broadcast(cands), "w")
        .groupBy("w").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w")).limit(TopK)
        .withColumn("rk", row_number().over(Window.orderBy(col("n").desc, col("w"))))
        .select(col("rk"), col("w").as("term"), col("n"))
        .orderBy("rk")
    },

    // ---- deterministic stratified sampling: fixed-n per stratum via
    // a Lehmer-hash rank (reproducible across runs AND engines —
    // unlike rand()-seeded sampling), plus the rate-based map-only
    // variant as a flag column. The per-stratum window never sees the
    // corpus: [[stratifiedTopK]] first prunes map-side to each input
    // partition's k smallest (hk, doc_id) per lang — the global top-k
    // is a subset of that union, so the shuffle and the rank window
    // carry ≤ k·partitions rows per lang at ANY corpus size (the q67
    // candidates-then-exact pattern; Spark's own InferWindowGroupLimit
    // reaches the same bound for this rank-filter shape but only after
    // fully sorting each map-side partition — the heap prune selects
    // in O(n·log k) without the sort; see [[graft.ops.KeyedTopK]]).
    // StratifiedPruneSpec pins equality with the plain-window
    // formulation; the oracle is that formulation.
    Q("q68_sample_stratified",
      s"""WITH h AS (SELECT doc_id, lang, ${lehmer3Sql("doc_id")} AS hk FROM documents),
         |r AS (SELECT doc_id, lang, hk, (hk % 100 < 10) AS in_10pct,
         |             row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rk
         |      FROM h)
         |SELECT lang, rk, doc_id, hk, in_10pct FROM r WHERE rk <= 5
         |ORDER BY lang, rk""".stripMargin) { (s, dir) =>
      val hk = lehmer3(col("doc_id"))
      stratifiedTopK(
        T.df(s, dir, "documents")
          .select(col("doc_id"), col("lang"), hk.as("hk"))
          .withColumn("in_10pct", col("hk") % 100 < 10), 5)
        .orderBy("lang", "rk")
    },

    // ---- PII redaction (training-data scrubbing): regex-replace
    // emails and phone-shaped numbers, counting the hits. Pure per-row
    // string work — ZERO shuffles at any scale (PlanSpec pins it). The
    // fixture vocabulary contains no PII, so each doc is first
    // augmented with a deterministic synthetic contact line (same
    // expression on both engines) — every row then exercises both
    // patterns non-trivially on top of the natural text. Patterns stay
    // in the RE2 ∩ java.util.regex common dialect.
    Q("q69_text_pii_redact",
      s"""WITH aug AS (
         |  SELECT doc_id,
         |         concat(text, 'contact user', CAST(doc_id AS VARCHAR),
         |                '@mail.example.com or 555-',
         |                lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS t
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(t, '$EmailRe')) AS n_emails,
         |  len(regexp_extract_all(t, '$PhoneRe')) AS n_phones,
         |  regexp_replace(regexp_replace(t, '$EmailRe', '[EMAIL]', 'g'),
         |                 '$PhoneRe', '[PHONE]', 'g') AS redacted
         |FROM aug ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val t = concat(col("text"), lit("contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      T.df(s, dir, "documents")
        .select(col("doc_id"), t.as("t"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("t"), lit(EmailRe), lit(0))).as("n_emails"),
          size(regexp_extract_all(col("t"), lit(PhoneRe), lit(0))).as("n_phones"),
          regexp_replace(regexp_replace(col("t"), EmailRe, "[EMAIL]"),
            PhoneRe, "[PHONE]").as("redacted"))
        .orderBy("doc_id")
    },

    // ---- sequence packing (concat-and-chunk, the LLM-pretraining
    // batching step): each doc gets its global token OFFSET in
    // doc_id-order corpus concatenation, and the [[PackBin]]-token
    // training sequences it lands in. The global running sum is a
    // DISTRIBUTED prefix-sum — per-bucket window sums plus a
    // driver-side prefix over the ~shuffle-partitions bucket totals
    // rebroadcast as a literal map — NOT a single-partition window
    // (DuckDB's `OVER (ORDER BY ...)` form; at 100 TB that serializes
    // the corpus through one task — PlanSpec pins SinglePartition out
    // of the plan). Bucketing is deterministic doc_id ranges, so the
    // result is reproducible regardless of parallelism.
    Q("q70_pack_sequences",
      s"""WITH d AS (
         |  SELECT doc_id, len(list_filter(string_split(lower(text), ' '), x -> x != '')) AS n_tokens
         |  FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |             coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
         |      FROM d)
         |SELECT doc_id, n_tokens::BIGINT AS n_tokens, tok_offset::BIGINT AS tok_offset,
         |       (tok_offset // $PackBin)::BIGINT AS bin_first,
         |       ((tok_offset + greatest(n_tokens, 1) - 1) // $PackBin)::BIGINT AS bin_last
         |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      val nBuckets = s.conf.get("spark.sql.shuffle.partitions").toInt.max(1)
      globalOffsets(d, nBuckets)
        .select(col("doc_id"), col("n_tokens"), col("tok_offset"),
          expr(s"tok_offset DIV $PackBin").as("bin_first"),
          expr(s"(tok_offset + greatest(n_tokens, 1) - 1) DIV $PackBin").as("bin_last"))
        .orderBy("doc_id")
    },

    // ---- overlapping passage extraction (RAG-style chunking):
    // [[SlideLen]]-token windows every [[SlideStride]] tokens, each
    // with its positional hash — the retrieval-index unit. The window
    // enumeration + hashing is the [[graft.plans.TextKernels
    // .slidingChunkHashes]] kernel (q64's chunker generalized with a
    // stride), so the whole query is scan → project → posexplode:
    // map-only at any scale, where the relational form joins the
    // token table against a per-doc window series — a corpus-sized
    // shuffle per stride step (that formulation is the oracle below).
    Q("q74_chunk_sliding",
      s"""$sqlPrelude,
         |base AS (SELECT doc_id, count(*) AS n FROM wh GROUP BY doc_id),
         |ks AS (SELECT doc_id, unnest(generate_series(0, (n - 1) // $SlideStride)) AS k
         |       FROM base),
         |wm AS (SELECT ks.doc_id, k, h, wh.pos - k * $SlideStride AS rel
         |       FROM ks JOIN wh ON wh.doc_id = ks.doc_id
         |        AND wh.pos > k * $SlideStride AND wh.pos <= k * $SlideStride + $SlideLen),
         |ch AS (SELECT doc_id, k, sum((h * (${TextHash.pow31Sql})[rel]) % ${M}) % ${M} AS chash,
         |              count(*) AS n_tok
         |       FROM wm GROUP BY 1, 2)
         |SELECT doc_id, k::BIGINT AS chunk, chash::BIGINT AS chash, n_tok::BIGINT AS n_tok
         |FROM ch ORDER BY doc_id, chunk""".stripMargin, Family.Text) { (s, dir) =>
      tokenHashArr(s, dir)
        .filter(size(col("hs")) > 0)
        .select(col("doc_id"), size(col("hs")).as("n"),
          posexplode(graft.plans.TextKernels.slidingChunkHashes(
            col("hs"), SlideLen, SlideStride)).as(Seq("chunk", "chash")))
        .select(col("doc_id"), col("chunk").cast("long").as("chunk"), col("chash"),
          least(lit(SlideLen), col("n") - col("chunk") * SlideStride)
            .cast("long").as("n_tok"))
        .orderBy("doc_id", "chunk")
    },

    // ---- mixture sampling (source reweighting for training-data
    // curation): downsample every source to the SMALLEST source's
    // token budget via a per-doc Lehmer-hash threshold — the same doc
    // set is selected on every run and every engine (rand()-seeded
    // samplers are neither). Per-source totals are one partial-agg
    // shuffle of |sources| keys; the budget min folds into the rate
    // table as a GLOBAL WINDOW over that |sources|-row AGGREGATE
    // (q116's shape — a driver `first()` over the unpersisted tot
    // frame would re-evaluate the tokenizing aggregate: the corpus
    // tokenizes THREE times instead of the inherent two, stats pass +
    // apply pass); the accept/reject pass is map-only behind a
    // broadcast join with the rate table. Expected kept tokens per
    // source ≈ the min budget (hash-proportional). PlanSpec pins the
    // documents scan at ≤ 2 distinct subtrees.
    Q("q75_mixture_sample",
      s"""WITH d AS (SELECT doc_id, source,
         |                  len(list_filter(string_split(lower(text), ' '), x -> x != '')) AS n_tokens
         |           FROM documents),
         |tot AS (SELECT source, sum(n_tokens) AS total FROM d GROUP BY source),
         |r AS (SELECT source, total,
         |             least(1.0, (SELECT min(total) FROM tot)::DOUBLE / total) AS rate
         |      FROM tot),
         |k AS (SELECT d.source, r.total, r.rate, d.n_tokens,
         |             (${lehmer3Sql("d.doc_id")})::DOUBLE < r.rate * 2147483647.0 AS keep
         |      FROM d JOIN r USING (source))
         |SELECT source, total::BIGINT AS total_tokens,
         |       sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS kept_docs,
         |       sum(CASE WHEN keep THEN n_tokens ELSE 0 END)::BIGINT AS kept_tokens
         |FROM k GROUP BY source, total ORDER BY source""".stripMargin) { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      val tot = d.groupBy("source").agg(sum("n_tokens").as("total"))
      val r = tot.withColumn("rate",
        least(lit(1.0),
          min("total").over(Window.partitionBy()).cast("double") / col("total")))
      val hk = lehmer3(col("doc_id"))
      d.join(broadcast(r), "source")
        .withColumn("keep", hk.cast("double") < col("rate") * 2147483647.0)
        .groupBy(col("source"), col("total").as("total_tokens"))
        .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("kept_docs"),
          sum(when(col("keep"), col("n_tokens")).otherwise(0L)).as("kept_tokens"))
        .orderBy("source")
    },

    // ---- weighted sampling without replacement (systematic PPS —
    // probability proportional to size): q68/q75 sample per-DOC
    // uniformly; mixture building wants per-TOKEN mass, i.e. heavier
    // docs proportionally likelier. Systematic sampling over the
    // per-source cumulative weight (k evenly spaced thresholds into
    // [0, W)): pick the first doc whose running weight crosses each
    // threshold. ALL integer arithmetic — exact in both engines, no
    // float sampling keys to diverge (the exponential-keys A-Res
    // formulation needs pow/ln, whose last bits differ cross-engine).
    // Plan: the per-source running weight and total are
    // [[keyedOffsets]] — per-(source, doc_id-range-bucket) window sums
    // plus an exclusive bucket prefix computed by a window over the
    // tiny per-bucket totals frame and re-joined by broadcast — so no
    // window partitions by source alone: a single giant source (the
    // q87 few-huge-sources corpus shape) splits across nBuckets sorts
    // instead of serializing through one task. PlanSpec pins that
    // shape; the oracle keeps DuckDB's plain per-source window (fine
    // single-node, identical by KeyedOffsetsSpec's equivalence law).
    Q("q97_weighted_sample",
      """WITH c AS (SELECT source, doc_id, n_chars,
        |        sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id) AS cumw,
        |        sum(n_chars) OVER (PARTITION BY source) AS W
        |      FROM documents),
        |t AS (SELECT *, unnest(generate_series(0, 3)) AS j FROM c)
        |SELECT source, j::BIGINT AS j, min(doc_id) AS picked_doc_id
        |FROM t WHERE cumw > (j * W) // 4
        |GROUP BY source, j ORDER BY source, j""".stripMargin) { (s, dir) =>
      val nBuckets = s.conf.get("spark.sql.shuffle.partitions").toInt.max(1)
      keyedOffsets(
        T.df(s, dir, "documents").select(col("source"), col("doc_id"), col("n_chars")),
        "source", "n_chars", nBuckets)
        .select(col("source"), col("doc_id"), col("cumw"), col("W"),
          explode(sequence(lit(0L), lit(3L))).as("j"))
        .filter(col("cumw") > expr("(j * W) div 4"))
        .groupBy("source", "j")
        .agg(min("doc_id").as("picked_doc_id"))
        .orderBy("source", "j")
    },

    // ---- deterministic corpus shuffle + shard assignment: the export
    // step before training — break source/time locality with a hash
    // permutation and assign each doc a shard, position-stable across
    // engines and runs (seeded integer hash, shared family with the
    // oracle prelude). Shard count comes from `spark.graft.shards`
    // (default 16 = the oracle's literal); shards MUST scale with
    // writer tasks at deployment — one shard per task, set it ∝ the
    // cluster, never a constant share of the corpus per task
    // (ShardedExportSpec covers a non-default count). The query form
    // emits the (shard, pos, doc_id) manifest; the physical sink is
    // [[graft.sinks.Sinks.shardedExport]]. The window here is
    // per-shard (bounded partitions), never global — no
    // SinglePartition stage (pinned in PlanSpec).
    Q("q99_shard_export",
      s"""WITH h AS (SELECT doc_id,
         |  (doc_id * ${TextHash.ABase} + 7919) % ${TextHash.M} AS hv FROM documents)
         |SELECT (hv % 16)::BIGINT AS shard,
         |       (row_number() OVER (PARTITION BY hv % 16 ORDER BY hv, doc_id))::BIGINT AS pos,
         |       doc_id
         |FROM h ORDER BY shard, pos""".stripMargin) { (s, dir) =>
      val nShards = s.conf.getOption("spark.graft.shards").map(_.toInt).getOrElse(16)
      shardKeyed(T.df(s, dir, "documents").select("doc_id"), nShards)
        .withColumn("pos", row_number()
          .over(Window.partitionBy("shard").orderBy("hv", "doc_id")).cast("long"))
        .select(col("shard"), col("pos"), col("doc_id"))
        .orderBy("shard", "pos")
    },

    // ---- bloom-filter decontamination: same contamination semantics
    // as q62 (fraction of a doc's shingles in the benchmark set,
    // flagged at >= 1/2), restructured for a corpus that must never
    // join big-to-big OR big-to-broadcast: the benchmark shingles are
    // folded into a ~1.2 MB/1M-key bloom sketch, so the corpus pass is
    // a map-only projection ([[graft.plans.BloomKernels.bloomHits]],
    // PlanSpec pins zero Exchange scan -> candidate filter) and only
    // the CANDIDATES that clear the threshold against the (over-
    // counting) bloom reach the exact verify join. Bloom hit counts
    // never undercount, so candidates are a superset of the truth and
    // the exact pass makes the final answer independent of the bloom's
    // false positives — the oracle is plain exact SQL, no envelope.
    // Building the sketch runs two jobs on the BENCHMARK side only
    // (count + treeAggregate fold); that side is eval suites, small at
    // any corpus scale.
    Q("q81_decontaminate_bloom",
      s"""$sqlPrelude,
         |bench AS (SELECT DISTINCT sh FROM dsh WHERE doc_id % 20 = 0),
         |hits AS (SELECT d.doc_id, count(*) AS n_sh, count(b.sh) AS n_hit
         |         FROM dsh d LEFT JOIN bench b USING (sh)
         |         WHERE d.doc_id % 20 <> 0 GROUP BY 1)
         |SELECT doc_id, n_sh::BIGINT AS n_sh, n_hit::BIGINT AS n_hit
         |FROM hits WHERE 2 * n_hit >= n_sh ORDER BY doc_id""".stripMargin, Family.Text) { (s, dir) =>
      val sh = docShingles(s, dir)
      val bench = sh.filter(col("doc_id") % 20 === 0)
        .select(explode(col("sh")).as("sh")).distinct()
      val bloom = graft.plans.BloomKernels.buildBroadcast(
        s, bench, "sh", bench.count(), 0.01)
      val cand = sh.filter(col("doc_id") % 20 =!= 0)
        .filter(graft.plans.BloomKernels.bloomHits(col("sh"), bloom) * 2 >= size(col("sh")))
      cand.select(col("doc_id"), explode(col("sh")).as("sh"))
        .join(broadcast(bench.withColumn("mark", lit(1))), Seq("sh"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sh"), count(col("mark")).as("n_hit"))
        .filter(col("n_hit") * 2 >= col("n_sh"))
        .select(col("doc_id"), col("n_sh"), col("n_hit"))
        .orderBy("doc_id")
    },

    // ---- bigram-LM perplexity scoring (CCNet-style quality signal):
    // train add-one-smoothed bigram counts on the 80% split
    // (doc_id % 5 <> 0), score EVERY doc's mean negative log-likelihood
    // -ln p(w2|w1) = ln((c(w1)+V)/(c(w1,w2)+1)). Bigrams come straight
    // off the token-hash ARRAY (posexplode + element_at(hs, pos+2), a
    // generator projection — no window, no self-join: forming bigrams
    // shuffles NOTHING). Every exchange left on the path is bounded
    // below corpus size by partial aggregation: the count tables
    // collapse to distinct-bigram/vocab rows map-side and then
    // BROADCAST back onto the stream, so scoring is map-side and the
    // per-doc mean pre-combines to one row per doc (a doc's bigrams
    // are generated inside one partition) before its exchange. A
    // web-scale vocabulary falls back to shuffle hash joins, same
    // trade as [[tokenHashArrPlan]]'s vocabCap. The mean is rounded through
    // decimal(12,2) (T.dec rule) so cross-engine ln()/summation-order
    // noise (~1e-13 relative) cannot flip the hash compare.
    Q("q82_lm_perplexity",
      s"""$sqlPrelude,
         |big AS (SELECT a.doc_id, a.h AS w1, (a.h * 31 + b.h) % ${M} AS bh
         |        FROM wh a JOIN wh b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
         |c1 AS (SELECT w1, count(*) AS n_w1 FROM big WHERE doc_id % 5 <> 0 GROUP BY 1),
         |c2 AS (SELECT bh, count(*) AS n_bh FROM big WHERE doc_id % 5 <> 0 GROUP BY 1),
         |v AS (SELECT count(DISTINCT h) AS vocab FROM wh WHERE doc_id % 5 <> 0),
         |nll AS (SELECT big.doc_id,
         |               ln((coalesce(c1.n_w1, 0) + v.vocab)::DOUBLE
         |                  / (coalesce(c2.n_bh, 0) + 1)) AS t
         |        FROM big LEFT JOIN c1 USING (w1) LEFT JOIN c2 USING (bh) CROSS JOIN v)
         |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         |       (sum(t) / count(*))::DECIMAL(12,2)::DOUBLE AS avg_nll
         |FROM nll GROUP BY doc_id ORDER BY doc_id""".stripMargin, Family.Text) { (s, dir) =>
      lmScore(tokenHashArr(s, dir))
    },

    // ---- corpus curation under a per-source token budget: rank each
    // source's documents by the q46 quality score (ties → doc_id),
    // keep documents while the source's running token total stays
    // within budget — the "assemble the best N tokens per source"
    // step every pretraining mix ends with. Stats come from the same
    // compiled [[graft.plans.TextKernels.qualityStats]] pass (map-
    // only); the ONLY exchange is the per-source window
    // ([[curateWindow]]) — right when sources are numerous. A corpus
    // of FEW huge sources runs [[curateScalable]] instead: exact
    // class-total walk on the driver, map-only keep/drop for the bulk,
    // per-class windows only for ranking — IDENTICAL output, pinned by
    // CurateScalableSpec on every fixture. Budget is integer tokens;
    // every output column is integer-exact.
    Q("q87_corpus_curation",
      s"""WITH tl AS (SELECT doc_id, source,
         |              list_filter(string_split(lower(text), ' '), x -> x != '') AS t
         |            FROM documents),
         |m AS (SELECT doc_id, source, len(t) AS n_tokens,
         |        len(list_distinct(t)) AS n_distinct,
         |        list_max(list_transform(t, w -> length(w))) AS max_tok_len
         |      FROM tl),
         |q AS (SELECT doc_id, source, n_tokens,
         |        (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1 ELSE 0 END
         |         + CASE WHEN 10 * n_distinct >= 3 * n_tokens THEN 1 ELSE 0 END
         |         + CASE WHEN max_tok_len <= 15 THEN 1 ELSE 0 END) AS quality
         |      FROM m),
         |r AS (SELECT source, doc_id, quality, n_tokens,
         |        sum(n_tokens) OVER (PARTITION BY source
         |          ORDER BY quality DESC, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
         |      FROM q)
         |SELECT source, doc_id, quality::BIGINT AS quality,
         |       n_tokens::BIGINT AS n_tokens, cum_tokens::BIGINT AS cum_tokens
         |FROM r WHERE cum_tokens <= ${CurationBudget}
         |ORDER BY source, doc_id""".stripMargin) { (s, dir) =>
      curateWindow(curationScored(s, dir), CurationBudget)
    },

    // ---- Unicode NFC normalization (ingest canonicalization): every
    // dedup/fingerprint operator in this engine is byte-exact, so
    // "café" in precomposed vs combining-mark form MUST canonicalize
    // at ingest or identical text hashes apart. The fixture corpus is
    // ASCII, so the query grafts a decomposed suffix (e + U+0301 and
    // a Latin-1 å as a + U+030A) onto each document and normalizes —
    // exercising real composition, not the identity path. Map-only:
    // the [[graft.plans.UnicodeNorm]] kernel runs inside whole-stage
    // codegen with an isNormalized fast path (already-NFC text — the
    // overwhelming real-world case — is returned without allocation).
    // NFKC (ligature/fullwidth folding) is the same kernel,
    // spec-pinned in UnicodeNormSpec since DuckDB exposes no NFKC.
    Q("q88_unicode_nfc",
      """SELECT doc_id,
        |       nfc_normalize(text || ' cafe' || chr(769) || ' a' || chr(778)) AS norm_text,
        |       length(text || ' cafe' || chr(769) || ' a' || chr(778)) AS raw_len,
        |       length(nfc_normalize(text || ' cafe' || chr(769) || ' a' || chr(778))) AS nfc_len
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // decomposed on purpose (\\u0301 combining acute, \\u030A combining
      // ring) mirroring the oracle's chr(769)/chr(778); NFC composes both
      val raw = concat(col("text"), lit(" cafe\u0301 a\u030A"))
      T.df(s, dir, "documents")
        .select(col("doc_id"),
          graft.plans.UnicodeNorm.nfcCol(raw).as("norm_text"),
          length(raw).cast("long").as("raw_len"),
          length(graft.plans.UnicodeNorm.nfcCol(raw)).cast("long").as("nfc_len"))
        .orderBy("doc_id")
    },

    // ---- INCREMENTAL near-dup: a delta batch (doc_id % 10 = 0)
    // probes the EXISTING corpus index (% 10 <> 0) — the production
    // ingest shape, where yesterday's corpus is already banded and
    // only the delta pays signature + probe cost. Delta bands join
    // index bands on (band, key); candidates dedup; exact Jaccard
    // verification makes the answer LSH-FP-independent (q41's
    // verify-the-candidates discipline). Work scales with
    // |delta| × collision rate, NOT |corpus|² and not even |corpus| —
    // at 100 TB/day the index side is a bucketed band table on disk
    // and the probe is a bucket-pruned join. Oracle = exact
    // brute-force cross-side Jaccard (the same recall-is-exact
    // argument as q41: no fixture pair sits in the LSH dead zone,
    // verified at both gate scales).
    Q("q89_dedup_incremental",
      s"""${sqlPrelude},
         |inter AS (SELECT x.doc_id AS delta_id, y.doc_id AS index_id, count(*) AS inter
         |          FROM dsh x JOIN dsh y ON x.sh = y.sh
         |           AND x.doc_id % 10 = 0 AND y.doc_id % 10 <> 0
         |          GROUP BY 1, 2)
         |SELECT delta_id, index_id, inter, sa.n + sb.n - inter AS uni
         |FROM inter JOIN ssize sa ON sa.doc_id = delta_id
         |           JOIN ssize sb ON sb.doc_id = index_id
         |WHERE 2 * inter >= sa.n + sb.n - inter
         |ORDER BY delta_id, index_id""".stripMargin, Family.Text) { (s, dir) =>
      val sh = docShingles(s, dir)
      val bands = sh
        .select(col("doc_id"),
          posexplode(graft.plans.TextKernels.minhashBands(col("sh"))))
        .select(col("doc_id"), col("pos").as("band"), col("col").as("bkey"))
      val idx = bands.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id").as("index_id"), col("band"), col("bkey"))
      val delta = bands.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("delta_id"), col("band"), col("bkey"))
      val cands = delta.join(idx, Seq("band", "bkey"))
        .select("delta_id", "index_id").distinct()
      val a = sh.select(col("doc_id").as("delta_id"), col("sh").as("sh_a"))
      val b = sh.select(col("doc_id").as("index_id"), col("sh").as("sh_b"))
      cands
        .join(a, "delta_id").join(b, "index_id")
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
        .filter(col("inter") * 2 >= col("uni"))
        .select("delta_id", "index_id", "inter", "uni")
        .orderBy("delta_id", "index_id")
    },

    // ---- train/eval SPLIT-LEAKAGE audit (decontamination against the
    // pipeline's OWN holdout): assign each doc its deterministic split
    // (eval = doc_id % 10 = 0 — an id-stable holdout, the same modular
    // convention as q89's delta batch), then report every verified
    // near-dup pair (q41 semantics, Jaccard ≥ 1/2) that CROSSES the
    // split, plus which side is the held-out doc — the pairs that leak
    // training content into evaluation. q62/q81 screen against an
    // EXTERNAL benchmark; this is the audit a pipeline runs before
    // trusting its own eval loss. Spark side is a pure filter over the
    // memoized [[lshPairs]] frame: the band join, its hot-bucket
    // collapse and its no-cartesian PlanSpec pin are q41's, and the
    // leak audit adds ZERO new shuffles at any scale. Oracle = exact
    // brute-force Jaccard under the same cross-split predicate (q41's
    // recall-is-exact argument, verified at both gate scales).
    Q("q100_split_leakage",
      s"""WITH pairs AS (
         |${jaccardPairsCore("")})
         |SELECT doc_a, doc_b, inter, uni,
         |       CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS eval_doc
         |FROM pairs WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)
         |ORDER BY doc_a, doc_b""".stripMargin, Family.Text) { (s, dir) =>
      lshPairs(s, dir)
        .filter((col("doc_a") % 10 === 0) =!= (col("doc_b") % 10 === 0))
        .withColumn("eval_doc",
          when(col("doc_a") % 10 === 0, col("doc_a")).otherwise(col("doc_b")))
        .orderBy("doc_a", "doc_b")
    },

    // ---- BM25 top-k retrieval (Robertson–Spärck Jones): rank docs
    // against a small query set — the scoring backbone of RAG corpus
    // search and of retrieval-based decontamination. Scoring is the
    // real BM25 shape (k1 = 2, b = 3/4: per-term saturation + doc-
    // length normalization) with q58's linear idf (N − df) and ALL
    // arithmetic integer: multiplying the saturation fraction through
    // by 4·Σdl makes numerator and denominator exact int64s, and the
    // per-term score is fixed to milli-units via integer div — both
    // engines floor identically on positives, so per-doc sums are
    // order-free exact ints, no float ranking keys to diverge (the
    // ln-idf/float variant is a one-line swap a real deployment makes,
    // trading hash-exactness it doesn't need; the 12000·tf·(N−df)·Σdl
    // numerator outgrows int64 once Σdl ≳ 1e12 — at 100 TB it takes
    // the same decimal(38,0)/HUGEINT swap q110's lift already runs).
    // Plan at 100 TB: the corpus tokenizes ONCE into the persisted
    // [[bm25Pre]] posting projection (doc_id, dl, matched terms only —
    // tens of bytes per doc); the N/Σdl scalars read that persisted
    // frame (safe — the q116 lesson forbids scalars over UNPERSISTED
    // lineage only) and the tf pass explodes it, so nothing tokenizes
    // twice and the corpus never shuffles whole (matched tokens only
    // cross the wire); the query table and per-term df broadcast
    // (≤ |query vocab| rows); the per-query rank window runs on
    // [[graft.ops.KeyedTopK]]'s map-side-pruned candidates
    // (≤ k·partitions rows per query), so few queries never serialize
    // a corpus-share sort through one task. PlanSpec pins the
    // broadcasts + the prune-before-window shape + the single
    // tokenizing scan.
    Q("q101_bm25_topk",
      """WITH q(q_id, term) AS (VALUES (0,'join'),(0,'hash'),(1,'vector'),
        |                             (1,'scan'),(1,'filter'),(2,'merge'),(2,'slow')),
        |tl AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x != '') AS t
        |       FROM documents),
        |d AS (SELECT doc_id, len(t)::BIGINT AS dl FROM tl),
        |n AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sumdl FROM d),
        |tok AS (SELECT doc_id, unnest(t) AS w FROM tl),
        |tf AS (SELECT doc_id, w, count(*)::BIGINT AS tf FROM tok
        |       WHERE w IN (SELECT term FROM q) GROUP BY 1, 2),
        |df AS (SELECT w, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |sc AS (SELECT q.q_id, tf.doc_id,
        |              (12000 * tf.tf * ((SELECT n FROM n) - df.df) * (SELECT sumdl FROM n))
        |              // (4 * (SELECT sumdl FROM n) * tf.tf
        |                  + 2 * ((SELECT sumdl FROM n) + 3 * d.dl * (SELECT n FROM n))) AS s
        |       FROM tf JOIN df USING (w) JOIN d USING (doc_id) JOIN q ON q.term = tf.w),
        |agg AS (SELECT q_id, doc_id, sum(s)::BIGINT AS score_milli FROM sc GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |                ORDER BY score_milli DESC, doc_id) AS rk FROM agg)
        |SELECT q_id::BIGINT AS q_id, rk, doc_id, score_milli
        |FROM r WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin, Family.Text) { (s, dir) =>
      import s.implicits._
      val terms = Bm25QueryTerms
      val qtab = terms.toDF("q_id", "term")
      val pre = bm25Pre(s, dir, terms.map(_._2).distinct)
      val scalars = pre.agg(count(lit(1)).cast("long").as("n"),
        sum(col("dl")).as("sumdl")).first()
      val (nDocs, sumdl) = (scalars.getLong(0), scalars.getLong(1))
      val tf = pre
        .select(col("doc_id"), col("dl"), explode(col("mt")).as("w"))
        .groupBy("doc_id", "w", "dl").agg(count(lit(1)).as("tf"))
      val dfTab = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val scored = tf.join(broadcast(dfTab), "w")
        .join(broadcast(qtab), col("term") === col("w"))
        .withColumn("s", expr(
          s"(12000 * tf * (CAST($nDocs AS BIGINT) - df) * CAST($sumdl AS BIGINT))" +
            s" div (4 * CAST($sumdl AS BIGINT) * tf" +
            s" + 2 * (CAST($sumdl AS BIGINT) + 3 * dl * CAST($nDocs AS BIGINT)))"))
        .groupBy("q_id", "doc_id").agg(sum("s").as("score_milli"))
      graft.ops.KeyedTopK.prune(scored, Seq("q_id"),
          Seq("score_milli" -> false, "doc_id" -> true), 10)
        .withColumn("rk", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("score_milli").desc, col("doc_id"))))
        .filter(col("rk") <= 10)
        .select("q_id", "rk", "doc_id", "score_milli")
        .orderBy("q_id", "rk")
    },

    // ---- LSH recall calibration (round 16 — "trust your sketch" as a
    // measured table, not a comment: q41's correctness note asserts
    // that 16×4 LSH at the fixture's J ≥ 0.9 pair spectrum has ~1
    // collision probability; THIS operator measures the calibration
    // for the actual deployed hash family. For each verified near-dup
    // pair, count the bands where all 4 minhash components agree, and
    // compare the per-J-decile mean against the theory prediction
    // E[bands] = 16·J⁴ — the number that tells a pipeline operator
    // whether the sketch family is behaving before they raise a
    // threshold at 100 TB. All integers: component equality is exact,
    // the prediction 16000·inter⁴ div uni⁴ runs in decimal(38,0)/
    // HUGEINT (inter⁴ wraps int64 past |sh| ~ 55k), per-pair
    // truncation then mean in the SAME order in both engines. Plan:
    // the 64-component signature is a map-only nested HOF over the
    // persisted shingle frame (one row per doc — NEVER an explode to
    // (doc, seed) rows; the relational family TextKernelsSpec already
    // pins equal to the production kernel), the verified pair frame is
    // the memoized [[lshPairs]], and the two signature joins shuffle
    // |pairs|-bounded rows. Output is ≤ 6 decile rows.
    Q("q166_lsh_recall_calib",
      s"""$sqlPrelude,
         |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
         |          FROM dsh x JOIN dsh y ON x.sh = y.sh AND x.doc_id < y.doc_id
         |          GROUP BY 1, 2),
         |prs AS (SELECT doc_a, doc_b, inter, sa.n + sb.n - inter AS uni
         |        FROM inter JOIN ssize sa ON sa.doc_id = doc_a
         |                   JOIN ssize sb ON sb.doc_id = doc_b
         |        WHERE 2 * inter >= sa.n + sb.n - inter),
         |mh AS (SELECT doc_id, s, ${TextHash.minhashSql("sh", "s")} AS mh
         |       FROM dsh CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS s)
         |       GROUP BY doc_id, s),
         |sig AS (SELECT doc_id, list(mh ORDER BY s) AS sig FROM mh GROUP BY doc_id),
         |pc AS (SELECT p.inter, p.uni,
         |         len(list_filter(generate_series(0, 15), b ->
         |           a.sig[4*b+1] = c.sig[4*b+1] AND a.sig[4*b+2] = c.sig[4*b+2] AND
         |           a.sig[4*b+3] = c.sig[4*b+3] AND a.sig[4*b+4] = c.sig[4*b+4]))::BIGINT AS nb
         |       FROM prs p JOIN sig a ON a.doc_id = p.doc_a
         |                  JOIN sig c ON c.doc_id = p.doc_b),
         |b AS (SELECT (10 * inter) // uni AS bucket, count(*)::BIGINT AS n_pairs,
         |        sum(nb)::BIGINT AS nb_sum,
         |        sum((16000::HUGEINT * inter * inter * inter * inter)
         |            // (uni::HUGEINT * uni * uni * uni)) AS pred_sum
         |      FROM pc GROUP BY 1)
         |SELECT bucket::BIGINT AS bucket, n_pairs,
         |       (1000 * nb_sum // n_pairs)::BIGINT AS bands_milli,
         |       (pred_sum // n_pairs)::BIGINT AS pred_milli
         |FROM b ORDER BY bucket""".stripMargin, Family.Text) { (s, dir) =>
      // signatures via the COMPILED [[graft.plans.TextKernels.minhashSigs]]
      // kernel (round 16): the original 64-seed HOF transform is
      // CodegenFallback — interpreted per row — and the full board
      // measured the same query at 0.5 s and 5.8 s depending on the
      // JVM's accident of jit state around that interpreted path (all
      // three sweeps slow against a flat isolated anchor). Same hash
      // family constants; MinhashSigsKernelSpec pins the kernel equal
      // to the HOF formulation on every fixture. The explicit
      // repartition pins the CPU-dense stage's width regardless of
      // the cached shingle frame's materialized partitioning (the
      // q203 lesson).
      val nPart = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val sig = docShingles(s, dir).repartition(nPart, col("doc_id"))
        .select(col("doc_id"),
          graft.plans.TextKernels.minhashSigs(col("sh")).as("sig"))
      lshPairs(s, dir)
        .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
        .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
        .select(col("inter"), col("uni"), expr(
          """cast(size(filter(sequence(0, 15), b ->
            |  element_at(sig_a, cast(4*b+1 as int)) = element_at(sig_b, cast(4*b+1 as int)) AND
            |  element_at(sig_a, cast(4*b+2 as int)) = element_at(sig_b, cast(4*b+2 as int)) AND
            |  element_at(sig_a, cast(4*b+3 as int)) = element_at(sig_b, cast(4*b+3 as int)) AND
            |  element_at(sig_a, cast(4*b+4 as int)) = element_at(sig_b, cast(4*b+4 as int))))
            |as bigint)""".stripMargin).as("nb"))
        .groupBy(expr("(10 * inter) div uni").as("bucket"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("nb")).as("nb_sum"),
          sum(expr("""(cast(16000 as decimal(38,0)) * inter * inter * inter * inter)
                     |  div (cast(uni as decimal(38,0)) * uni * uni * uni)""".stripMargin))
            .as("pred_sum"))
        .select(col("bucket").cast("long").as("bucket"), col("n_pairs"),
          expr("(1000 * nb_sum) div n_pairs").cast("long").as("bands_milli"),
          expr("pred_sum div n_pairs").cast("long").as("pred_milli"))
        .orderBy("bucket")
    },

    // ---- Dedup threshold-yield curve (round 16 — the planning table
    // behind "where do we set the near-dup threshold": for each
    // candidate Jaccard cut, how many pairs qualify and how many
    // distinct documents they touch. The verified pair frame is the
    // memoized [[lshPairs]] (bounded — its build is the expensive
    // part, already priced by q41/q57); the curve is a ≤ 6-threshold
    // fan over that bounded frame, integer-milli Jaccard, never a new
    // corpus pass. The non-equi threshold join is a nested loop
    // against a broadcast 6-row literal frame — bounded by
    // construction.
    Q("q167_dedup_threshold_curve",
      s"""$sqlPrelude,
         |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
         |          FROM dsh x JOIN dsh y ON x.sh = y.sh AND x.doc_id < y.doc_id
         |          GROUP BY 1, 2),
         |prs AS (SELECT doc_a, doc_b, inter, sa.n + sb.n - inter AS uni
         |        FROM inter JOIN ssize sa ON sa.doc_id = doc_a
         |                   JOIN ssize sb ON sb.doc_id = doc_b
         |        WHERE 2 * inter >= sa.n + sb.n - inter),
         |jm AS (SELECT doc_a, doc_b, (1000 * inter) // uni AS jm FROM prs),
         |t AS (SELECT unnest([500, 600, 700, 800, 900, 1000]) AS thr),
         |q AS (SELECT t.thr, jm.doc_a, jm.doc_b FROM jm JOIN t ON jm.jm >= t.thr),
         |np AS (SELECT thr, count(*)::BIGINT AS n_pairs FROM q GROUP BY 1),
         |nd AS (SELECT thr, count(DISTINCT d)::BIGINT AS n_docs
         |       FROM (SELECT thr, unnest([doc_a, doc_b]) AS d FROM q) GROUP BY 1)
         |SELECT thr::BIGINT AS thr, n_pairs, n_docs
         |FROM np JOIN nd USING (thr) ORDER BY thr""".stripMargin, Family.Text) { (s, dir) =>
      import s.implicits._
      val jm = lshPairs(s, dir)
        .select(col("doc_a"), col("doc_b"), expr("(1000 * inter) div uni").as("jm"))
      val thr = Seq(500L, 600L, 700L, 800L, 900L, 1000L).toDF("thr")
      val q = jm.join(broadcast(thr), col("jm") >= col("thr"))
      val np = q.groupBy("thr").agg(count(lit(1)).as("n_pairs"))
      val nd = q.select(col("thr"), explode(array(col("doc_a"), col("doc_b"))).as("d"))
        .groupBy("thr").agg(countDistinct(col("d")).as("n_docs"))
      np.join(nd, "thr")
        .select(col("thr"), col("n_pairs"), col("n_docs"))
        .orderBy("thr")
    },

    // ---- Per-source dedup token yield (round 16 — the number the
    // compute budget actually reads: after near-dup dedup keeps one
    // representative per cluster, how many tokens does each source
    // STILL contribute? q91 histograms cluster sizes; this prices the
    // clusters in tokens and attributes the saving to sources —
    // "source X is 31% redundant" is the line that changes a crawl
    // plan. Non-representative cluster members (doc_id ≠ the min-id
    // rep, q57's deterministic choice) are the dropped set. Plan: the
    // memoized component table (q57/q91's cache — its build is the
    // priced part) filters to drops; the corpus joins it on doc_id
    // WITHOUT a broadcast hint — under heavy duplication the drop set
    // is corpus-scale (a 10×-cloned corpus drops 90% of docs),
    // exactly where a forced broadcast OOMs, so the size decision
    // stays with the optimizer's stats;
    // integer-milli yield with the ADVICE-r15 NULLIF discipline on an
    // all-empty source.
    Q("q169_dedup_yield",
      clustersCore + """,
        |tok AS (SELECT doc_id, source,
        |          len(list_filter(string_split(text, ' '), x -> x != ''))::BIGINT AS nt
        |        FROM documents),
        |dup AS (SELECT doc_id FROM comp WHERE doc_id <> cluster_rep)
        |SELECT t.source,
        |       count(*)::BIGINT AS n_docs,
        |       sum(t.nt)::BIGINT AS n_tokens,
        |       count(d.doc_id)::BIGINT AS dup_docs,
        |       coalesce(sum(t.nt) FILTER (WHERE d.doc_id IS NOT NULL), 0)::BIGINT AS dup_tokens,
        |       (sum(t.nt) - coalesce(sum(t.nt) FILTER (WHERE d.doc_id IS NOT NULL), 0))::BIGINT AS net_tokens,
        |       (1000 * (sum(t.nt) - coalesce(sum(t.nt) FILTER (WHERE d.doc_id IS NOT NULL), 0))
        |        // NULLIF(sum(t.nt), 0))::BIGINT AS yield_milli
        |FROM tok t LEFT JOIN dup d USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin, Family.Text) { (s, dir) =>
      val drops = docComponents(s, dir)
        .filter(col("id") =!= col("cluster_rep"))
        .select(col("id").as("doc_id"), lit(true).as("dropped"))
      docs(s, dir)
        .select(col("doc_id"), col("source"),
          size(expr("filter(split(text, ' '), x -> x != '')")).cast("long").as("nt"))
        .join(drops, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
          count(col("dropped")).as("dup_docs"),
          coalesce(sum(when(col("dropped"), col("nt"))), lit(0L)).as("dup_tokens"))
        .withColumn("net_tokens", col("n_tokens") - col("dup_tokens"))
        .withColumn("yield_milli",
          expr("(1000 * net_tokens) div nullif(n_tokens, 0)"))
        .select("source", "n_docs", "n_tokens", "dup_docs", "dup_tokens",
          "net_tokens", "yield_milli")
        .orderBy("source")
    },

    // ---- SimHash→Jaccard transfer table (round 16 — q166's
    // companion for the OTHER deployed sketch: q66 emits pairs at
    // hamming ≤ 2, but a threshold decision needs to know what
    // "hamming ≤ 2" MEANS in exact-Jaccard terms on this corpus.
    // Per hamming distance of the emitted pair set: pair count and
    // the min/mean/max exact Jaccard (integer milli, per-pair
    // truncation then integer mean, same order both engines). Pairs
    // where either doc bears no shingles (< 3 tokens — Jaccard
    // undefined) are excluded by the size join on BOTH engines.
    // Plan: the pair set is [[simhashHamPairs]] (bounded — its build
    // is q66's priced path over the shared token-hash cache); the
    // exact verification picks its regime ADAPTIVELY from the same
    // duplication probe as [[lshPairs]] (one cheap aggregate, a
    // statistic only): mostly-distinct content verifies per doc pair
    // ([[transferJmDirect]]); clone-heavy content collapses to ONE
    // array_intersect per distinct content pair with multiplicity
    // re-weighting ([[transferJmCollapsed]] — min/max are
    // multiplicity-invariant, the mean re-weights by Σ m·jm, exact
    // integers, identical pair population; SimhashTransferSpec pins
    // the forms equal). Never a corpus self-join; output ≤ 3 rows.
    Q("q172_simhash_jaccard_transfer",
      simhashPairsCore + s""",
        |ji AS (SELECT hp.doc_a, hp.doc_b, hp.hamming, count(*) AS inter
        |       FROM hp JOIN dsh x ON x.doc_id = hp.doc_a
        |               JOIN dsh y ON y.doc_id = hp.doc_b AND y.sh = x.sh
        |       GROUP BY 1, 2, 3),
        |jm AS (SELECT hp.hamming,
        |         (1000 * coalesce(ji.inter, 0))
        |           // (sa.n + sb.n - coalesce(ji.inter, 0)) AS jm
        |       FROM hp JOIN ssize sa ON sa.doc_id = hp.doc_a
        |               JOIN ssize sb ON sb.doc_id = hp.doc_b
        |               LEFT JOIN ji ON ji.doc_a = hp.doc_a AND ji.doc_b = hp.doc_b)
        |SELECT hamming, count(*)::BIGINT AS n_pairs,
        |       min(jm)::BIGINT AS min_jm, max(jm)::BIGINT AS max_jm,
        |       (sum(jm) // count(*))::BIGINT AS mean_jm
        |FROM jm GROUP BY 1 ORDER BY hamming""".stripMargin, Family.Text) { (s, dir) =>
      val docs = docShingles(s, dir)
      val st = docs.agg(count(lit(1)).as("n"),
        approx_count_distinct(xxhash64(col("sh"))).as("c")).first()
      val distinctRatio = st.getLong(1).toDouble / math.max(1L, st.getLong(0))
      val jm = if (distinctRatio < CollapseBelow) transferJmCollapsed(s, dir)
               else transferJmDirect(s, dir)
      jm.groupBy("hamming")
        .agg(sum("m").as("n_pairs"), min("jm").as("min_jm"),
          max("jm").as("max_jm"), sum(col("jm") * col("m")).as("sum_jm"))
        .select(col("hamming"), col("n_pairs"), col("min_jm"), col("max_jm"),
          expr("sum_jm div n_pairs").as("mean_jm"))
        .orderBy("hamming")
    },

    // ---- Declared-language agreement screen (round 16 — label-noise
    // detection for the `lang` column: per (source, declared lang),
    // how often q45's n-gram language-ID AGREES. A low-agreement cell
    // is a mislabeled slice — the language analogue of q157's
    // embedding-outlier screen. Scoring is the same map-only
    // [[graft.plans.TextKernels.langScores]] kernel and tie-break
    // CASE as q45 (TextKernelsSpec pins kernel ≡ relational), so the
    // whole query is one corpus scan + a |source×lang|-bounded agg —
    // zero joins, integer-milli agreement.
    Q("q174_langid_agreement",
      langBestCte + """
         |SELECT source, lang, count(*)::BIGINT AS n_docs,
         |       count(*) FILTER (WHERE best = lang)::BIGINT AS n_match,
         |       (1000 * count(*) FILTER (WHERE best = lang) // count(*))::BIGINT AS match_milli
         |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin, Family.Text) { (s, dir) =>
      langConfusion(s, dir)
        .groupBy("source", "lang")
        .agg(sum("c").as("n_docs"),
          sum(when(col("best") === col("lang"), col("c")).otherwise(0L)).as("n_match"))
        .select(col("source"), col("lang"), col("n_docs"), col("n_match"),
          expr("(1000 * n_match) div n_docs").as("match_milli"))
        .orderBy("source", "lang")
    },

    // ---- Dup-cluster source composition (round 16 — q91 histograms
    // cluster SIZES; this splits the census by how many SOURCES a
    // cluster spans: (size, n_sources) cells separate cross-source
    // mirrors/syndication (the q156 signal at cluster granularity)
    // from within-source re-posts — different remediation (fix the
    // crawl overlap vs dedup the source). Two bounded aggs over the
    // memoized component table joined to the slim (doc_id, source)
    // projection — the join is drop-set-scale, the output census-
    // scale.
    Q("q176_cluster_sources",
      clustersCore + """,
        |src AS (SELECT doc_id, source FROM documents),
        |cl AS (SELECT c.cluster_rep, count(*)::BIGINT AS csize,
        |         count(DISTINCT s.source)::BIGINT AS nsrc
        |       FROM comp c JOIN src s USING (doc_id) GROUP BY 1)
        |SELECT csize, nsrc, count(*)::BIGINT AS n_clusters
        |FROM cl GROUP BY 1, 2 ORDER BY csize, nsrc""".stripMargin, Family.Text) { (s, dir) =>
      docComponents(s, dir)
        .select(col("id").as("doc_id"), col("cluster_rep"))
        .join(docs(s, dir).select(col("doc_id"), col("source")), "doc_id")
        .groupBy("cluster_rep")
        .agg(count(lit(1)).as("csize"), countDistinct(col("source")).as("nsrc"))
        .groupBy("csize", "nsrc")
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy("csize", "nsrc")
    },

    // ---- Soft-dedup effective token mass (round 16 — the
    // down-weighting alternative to q169's hard drop: SoftDeDup-style
    // curation keeps every duplicate but weights each doc by
    // 1/cluster_size, so a 10-wide mirror family contributes one
    // doc's worth of gradient instead of zero or ten. Per source:
    // raw mass, the effective mass Σ (1e6·nt) div csize in integer
    // micro (per-doc truncation, same order both engines), and the
    // soft yield in milli — read next to q169's hard yield, the gap
    // between them is exactly the mass hard dedup destroys that soft
    // dedup preserves. Plan at 100 TB: the component table is the
    // MEMOIZED q57 cache (drop-set-scale); cluster sizes are one
    // bounded agg over it; the corpus joins LEFT to that slim
    // (doc_id, csize) frame — docs outside any cluster take csize 1
    // via coalesce, and the per-source agg partial-combines
    // map-side. No corpus self-join, no second corpus scan.
    Q("q182_soft_dedup_mass",
      clustersCore + """,
        |sz AS (SELECT cluster_rep, count(*) AS csize FROM comp GROUP BY 1),
        |tok AS (SELECT doc_id, source,
        |          len(list_filter(string_split(text, ' '), x -> x != ''))::BIGINT AS nt
        |        FROM documents),
        |w AS (SELECT t.source, t.nt, coalesce(s.csize, 1) AS csize
        |      FROM tok t LEFT JOIN comp c USING (doc_id)
        |                 LEFT JOIN sz s ON s.cluster_rep = c.cluster_rep)
        |SELECT source, count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS n_tokens,
        |       sum((1000000 * nt) // csize)::BIGINT AS eff_tokens_micro,
        |       (sum((1000000 * nt) // csize)
        |          // NULLIF(1000 * sum(nt), 0))::BIGINT AS soft_yield_milli
        |FROM w GROUP BY 1 ORDER BY source""".stripMargin, Family.Text) { (s, dir) =>
      val csize = docComponents(s, dir)
        .groupBy("cluster_rep").agg(count(lit(1)).as("csize"))
      val docCsize = docComponents(s, dir)
        .select(col("id").as("doc_id"), col("cluster_rep"))
        .join(csize, "cluster_rep")
        .select(col("doc_id"), col("csize"))
      docs(s, dir)
        .select(col("doc_id"), col("source"),
          size(expr("filter(split(text, ' '), x -> x != '')")).cast("long").as("nt"))
        .join(docCsize, Seq("doc_id"), "left")
        .select(col("source"), col("nt"),
          coalesce(col("csize"), lit(1L)).as("csize"))
        .groupBy("source")
        // the micro sum is corpus-scaled ×1e6 — decimal(38,0) like
        // q155 (DuckDB's SUM is already HUGEINT), int64 wraps at the
        // 100 TB regime; the per-doc (1e6·nt) div csize stays in int64
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
          sum(expr("cast((1000000 * nt) div csize as decimal(38,0))")).as("eff"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("eff").cast("long").as("eff_tokens_micro"),
          expr("cast(eff div nullif(cast(1000 as decimal(38,0)) * n_tokens, 0) as long)")
            .as("soft_yield_milli"))
        .orderBy("source")
    },

    // ---- Dup-cluster cohesion audit (round 16 — the transitive-
    // closure dilution check: q57's clusters are closures over
    // verified pairs, so a CHAIN a–b–c can club docs whose direct
    // similarity was never verified; before deleting per cluster_rep
    // a curator wants to know how dense each cluster's verified-edge
    // graph actually is. Per cluster size: cluster count, the closure
    // pair mass Σ C(csize,2), the verified-edge mass, edge density in
    // milli (1000 = every in-cluster pair was directly verified — no
    // chaining), and the min/mean verified-edge Jaccard in milli.
    // CRUCIALLY this never enumerates closure pairs — the quadratic
    // C(csize,2) appears only as ARITHMETIC on the size census, so a
    // 100 TB mega-cluster costs nothing extra: both inputs are the
    // memoized q57 component table and the memoized q41/q57 verified
    // pair frame (pair-scale, bounded), each reduced to census scale
    // before the 2-row join.
    Q("q183_cluster_cohesion",
      clustersCore + """,
        |sz AS (SELECT cluster_rep, count(*) AS csize FROM comp GROUP BY 1),
        |pj AS (SELECT c.cluster_rep, (1000 * p.inter) // p.uni AS jm
        |       FROM pairs p JOIN comp c ON c.doc_id = p.doc_a),
        |es AS (SELECT cluster_rep, count(*) AS n_edges,
        |              min(jm) AS min_jm, sum(jm) AS sum_jm
        |       FROM pj GROUP BY 1),
        |cl AS (SELECT s.csize, s.cluster_rep, e.n_edges, e.min_jm, e.sum_jm
        |       FROM sz s JOIN es e USING (cluster_rep))
        |SELECT csize::BIGINT AS csize, count(*)::BIGINT AS n_clusters,
        |       (count(*) * csize * (csize - 1) // 2)::BIGINT AS closure_pairs,
        |       sum(n_edges)::BIGINT AS edge_pairs,
        |       (1000 * sum(n_edges)
        |          // (count(*) * csize * (csize - 1) // 2))::BIGINT AS density_milli,
        |       min(min_jm)::BIGINT AS min_jm,
        |       (sum(sum_jm) // sum(n_edges))::BIGINT AS mean_jm
        |FROM cl GROUP BY csize ORDER BY csize""".stripMargin, Family.Text) { (s, dir) =>
      val comp = docComponents(s, dir)
        .select(col("id").as("doc_id"), col("cluster_rep"))
      val sz = comp.groupBy("cluster_rep").agg(count(lit(1)).as("csize"))
      // every pair member is in comp by construction; doc_a's rep IS
      // the pair's cluster (doc_b shares it — same component)
      val es = lshPairs(s, dir)
        .select(col("doc_a").as("doc_id"), expr("(1000 * inter) div uni").as("jm"))
        .join(comp, "doc_id")
        .groupBy("cluster_rep")
        .agg(count(lit(1)).as("n_edges"), min("jm").as("min_jm"),
          sum("jm").as("sum_jm"))
      sz.join(es, "cluster_rep")
        .groupBy("csize")
        .agg(count(lit(1)).as("n_clusters"), sum("n_edges").as("edge_pairs"),
          min("min_jm").as("min_jm"), sum("sum_jm").as("sum_jm_all"))
        .withColumn("closure_pairs",
          expr("n_clusters * csize * (csize - 1) div 2"))
        .withColumn("density_milli",
          expr("(1000 * edge_pairs) div closure_pairs"))
        .withColumn("mean_jm", expr("sum_jm_all div edge_pairs"))
        .select(col("csize"), col("n_clusters"), col("closure_pairs"),
          col("edge_pairs"), col("density_milli"), col("min_jm"),
          col("mean_jm"))
        .orderBy("csize")
    },

    // ---- LSH band-bucket census (round 16 — the OBSERVABILITY table
    // for the q41/q89 candidate stage: per band, the bucket-size
    // histogram of the 16 MinHash band keys and the candidate-pair
    // mass Σ C(size,2) each size class implies. Hot buckets are THE
    // quadratic scale risk of any LSH join (the q66/q124 collapse
    // exists because of them); this prices that risk as a census
    // WITHOUT enumerating a single candidate pair — the C(size,2)
    // appears only as arithmetic on the histogram, so the table costs
    // two bounded shuffles even when a bucket would explode the join.
    // A deployment reads it before every dedup run: a bucket-size
    // tail growing faster than the corpus says switch regimes (class
    // collapse / df-capping), measured, not guessed. Band keys are
    // the [[graft.plans.TextKernels.minhashBands]] kernel — map-only
    // from the persisted shingle sets (zero exchanges to band rows,
    // the q41 plan); the oracle recomputes the full 64-seed/16-band
    // family relationally (same hash family as q40's 8-seed slice).
    Q("q185_lsh_band_census", {
      import graft.llm.TextHash.{ABase, M}
      s"""$sqlPrelude,
         |mh AS (SELECT doc_id, s, min((sh * (($ABase * s) % $M) + 7919 * s) % $M) AS mn
         |       FROM dsh CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS s)
         |       GROUP BY 1, 2),
         |bk AS (SELECT doc_id, (s - 1) // 4 AS band,
         |         ((((max(CASE WHEN (s - 1) % 4 = 0 THEN mn END) * 31
         |             + max(CASE WHEN (s - 1) % 4 = 1 THEN mn END)) % $M * 31
         |             + max(CASE WHEN (s - 1) % 4 = 2 THEN mn END)) % $M * 31
         |             + max(CASE WHEN (s - 1) % 4 = 3 THEN mn END)) % $M) AS bkey
         |       FROM mh GROUP BY 1, 2),
         |bu AS (SELECT band, bkey, count(*) AS bucket_size FROM bk GROUP BY 1, 2)
         |SELECT band::BIGINT AS band, bucket_size::BIGINT AS bucket_size,
         |       count(*)::BIGINT AS n_buckets,
         |       (bucket_size * (bucket_size - 1) // 2 * count(*))::BIGINT AS cand_pairs
         |FROM bu GROUP BY band, bucket_size ORDER BY band, bucket_size""".stripMargin
    }, Family.Text) { (s, dir) =>
      docShingles(s, dir)
        .select(col("doc_id"),
          posexplode(graft.plans.TextKernels.minhashBands(col("sh")))
            .as(Seq("band", "bkey")))
        .groupBy("band", "bkey").agg(count(lit(1)).as("bucket_size"))
        .groupBy("band", "bucket_size").agg(count(lit(1)).as("n_buckets"))
        .select(col("band").cast("long").as("band"), col("bucket_size"),
          col("n_buckets"),
          expr("bucket_size * (bucket_size - 1) div 2 * n_buckets").as("cand_pairs"))
        .orderBy("band", "bucket_size")
    },

    // ---- Per-language char-class composition + fertility (round 16
    // — the tokenizer-budget screen next to q174's label-noise check:
    // per declared language, the alpha/digit/space/other shares of
    // raw characters in integer milli and the chars-per-token
    // fertility — what a tokenizer-vocabulary and token-budget
    // decision reads per language (CJK-heavy slices run 2–3× the
    // bytes-per-token of English; a digit- or punct-heavy slice
    // flags boilerplate/tables). Exact integers; character counts
    // come from regexp class strips (DuckDB needs the explicit 'g'
    // flag Spark applies by default — the engines diverge silently
    // without it). Plan at 100 TB: map-only per-row counts inside
    // the scan stage, one |langs|-bounded partial agg, zero joins.
    Q("q181_char_classes",
      """WITH m AS (SELECT lang,
        |             length(text)::BIGINT AS nc,
        |             length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::BIGINT AS na,
        |             length(regexp_replace(text, '[^0-9]', '', 'g'))::BIGINT AS nd,
        |             (length(text) - length(replace(text, ' ', '')))::BIGINT AS ns,
        |             len(list_filter(string_split(text, ' '), x -> x != ''))::BIGINT AS nt
        |           FROM documents)
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |       sum(nc)::BIGINT AS n_chars, sum(nt)::BIGINT AS n_tokens,
        |       (1000 * sum(nc) // NULLIF(sum(nt), 0))::BIGINT AS chars_per_tok_milli,
        |       (1000 * sum(na) // NULLIF(sum(nc), 0))::BIGINT AS alpha_milli,
        |       (1000 * sum(nd) // NULLIF(sum(nc), 0))::BIGINT AS digit_milli,
        |       (1000 * sum(ns) // NULLIF(sum(nc), 0))::BIGINT AS space_milli,
        |       (1000 * (sum(nc) - sum(na) - sum(nd) - sum(ns))
        |        // NULLIF(sum(nc), 0))::BIGINT AS other_milli
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .select(col("lang"),
          length(col("text")).cast("long").as("nc"),
          length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long").as("na"),
          length(regexp_replace(col("text"), "[^0-9]", "")).cast("long").as("nd"),
          (length(col("text")) - length(regexp_replace(col("text"), " ", "")))
            .cast("long").as("ns"),
          size(tokens(col("text"))).cast("long").as("nt"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("nc").as("n_chars"),
          sum("nt").as("n_tokens"), sum("na").as("sa"), sum("nd").as("sd"),
          sum("ns").as("ss"))
        .select(col("lang"), col("n_docs"), col("n_chars"), col("n_tokens"),
          expr("(1000 * n_chars) div nullif(n_tokens, 0)").as("chars_per_tok_milli"),
          expr("(1000 * sa) div nullif(n_chars, 0)").as("alpha_milli"),
          expr("(1000 * sd) div nullif(n_chars, 0)").as("digit_milli"),
          expr("(1000 * ss) div nullif(n_chars, 0)").as("space_milli"),
          expr("(1000 * (n_chars - sa - sd - ss)) div nullif(n_chars, 0)")
            .as("other_milli"))
        .orderBy("lang")
    },

    // ---- Shuffle run-length census (round 16 — the VERIFICATION
    // instrument for q99's deterministic shuffle, the way q185/q186/
    // q188 verify the dedup/join/SemDeDup stages: training order
    // matters (a run of same-source docs surviving the shuffle is a
    // gradient-correlation pathology — crawl batches arriving
    // contiguous), so after the shuffle a deployment reads, per
    // source, the run-length histogram of consecutive same-source
    // docs in shard order. A healthy shuffle shows geometric-decay
    // runs; a fat tail names the source whose ids alias the shard
    // hash. Runs are gaps-and-islands arithmetic (the q125 device):
    // per-shard position minus per-(shard, source) position is
    // constant exactly along a run. Plan at 100 TB: both windows
    // partition by shard (q99's contract — shards scale with writer
    // tasks, one bounded partition per task), the manifest frame is
    // slim (doc_id, source, hv) — text never enters — and the census
    // aggregates are value-bounded (run lengths), never corpus-wide.
    Q("q189_shuffle_run_census",
      s"""WITH h AS (SELECT doc_id, source,
         |  (doc_id * ${TextHash.ABase} + 7919) % ${TextHash.M} AS hv FROM documents),
         |p AS (SELECT source, hv % 16 AS shard,
         |        row_number() OVER (PARTITION BY hv % 16 ORDER BY hv, doc_id) AS pos,
         |        row_number() OVER (PARTITION BY hv % 16, source ORDER BY hv, doc_id) AS sp
         |      FROM h),
         |r AS (SELECT source, shard, pos - sp AS grp, count(*)::BIGINT AS run_len
         |      FROM p GROUP BY 1, 2, 3)
         |SELECT source, run_len, count(*)::BIGINT AS n_runs
         |FROM r GROUP BY 1, 2 ORDER BY source, run_len""".stripMargin) { (s, dir) =>
      val nShards = s.conf.getOption("spark.graft.shards").map(_.toInt).getOrElse(16)
      shardKeyed(T.df(s, dir, "documents").select("doc_id", "source"), nShards)
        .withColumn("pos", row_number()
          .over(Window.partitionBy("shard").orderBy("hv", "doc_id")).cast("long"))
        .withColumn("sp", row_number()
          .over(Window.partitionBy("shard", "source").orderBy("hv", "doc_id")).cast("long"))
        .groupBy(col("source"), col("shard"), (col("pos") - col("sp")).as("grp"))
        .agg(count(lit(1)).as("run_len"))
        .groupBy("source", "run_len").agg(count(lit(1)).as("n_runs"))
        .orderBy("source", "run_len")
    },

    // ---- Label-agreement kappa (round 16 — the chance-corrected
    // rollup of q174's per-(source, lang) agreement table: raw match
    // share flatters a source whose declared labels happen to be the
    // majority class, so annotation-quality audits read Cohen's κ —
    // (p_o − p_e)/(1 − p_e) between the declared label and the
    // detector, per source. Exact integer milli via cross-
    // multiplication: κ_milli = 1000·(n·diag − S) div (n² − S) with
    // S = Σ_c row_c·col_c — no float ever forms; n² and S wrap int64
    // at the 100 TB regime, so the products run in decimal(38,0)
    // (DuckDB HUGEINT), the q155/q182 discipline. Truncating div
    // agrees on negatives in both engines (κ < 0 = worse than
    // chance, the q179 verification). Plan: detection is the same
    // map-only kernel pass as q174; everything after reduces off the
    // |sources|·|langs|² confusion matrix — one partial-agg shuffle,
    // bounded joins on census-scale frames, zero corpus re-scans.
    Q("q191_langid_kappa",
      langBestCte + """,
        |cm AS (SELECT source, lang, best, count(*)::BIGINT AS c FROM b GROUP BY 1, 2, 3),
        |t AS (SELECT source, sum(c) AS n,
        |             sum(CASE WHEN lang = best THEN c ELSE 0 END) AS diag
        |      FROM cm GROUP BY 1),
        |r AS (SELECT source, lang AS lab, sum(c) AS rc FROM cm GROUP BY 1, 2),
        |k AS (SELECT source, best AS lab, sum(c) AS kc FROM cm GROUP BY 1, 2),
        |sx AS (SELECT r.source, sum(r.rc::HUGEINT * k.kc) AS sv
        |       FROM r JOIN k ON r.source = k.source AND r.lab = k.lab
        |       GROUP BY 1)
        |SELECT t.source, t.n::BIGINT AS n_docs, t.diag::BIGINT AS n_match,
        |       (1000 * (t.n::HUGEINT * t.diag - sx.sv)
        |          // NULLIF(t.n::HUGEINT * t.n - sx.sv, 0))::BIGINT AS kappa_milli
        |FROM t JOIN sx ON sx.source = t.source ORDER BY t.source""".stripMargin, Family.Text) { (s, dir) =>
      val cm = langConfusion(s, dir)
      val t = cm.groupBy("source").agg(sum("c").as("n"),
        sum(when(col("lang") === col("best"), col("c")).otherwise(0L)).as("diag"))
      val r = cm.groupBy(col("source"), col("lang").as("lab")).agg(sum("c").as("rc"))
      val k = cm.groupBy(col("source"), col("best").as("lab")).agg(sum("c").as("kc"))
      val sx = r.join(k, Seq("source", "lab"))
        .groupBy("source")
        .agg(sum(expr("cast(rc as decimal(38,0)) * kc")).as("sv"))
      t.join(sx, "source")
        .select(col("source"), col("n").as("n_docs"), col("diag").as("n_match"),
          expr("""cast((1000 * (cast(n as decimal(38,0)) * diag - sv))
            |  div nullif(cast(n as decimal(38,0)) * n - sv, 0) as bigint)""".stripMargin)
            .as("kappa_milli"))
        .orderBy("source")
    },

    // ---- Per-class precision / recall / F1 (round 16 — the standard
    // classifier-eval table over the same detector-vs-declared pair
    // as q174 (accuracy) and q191 (kappa): per language class the
    // true/predicted support, true positives, and P/R/F1 in exact
    // integer milli — F1 avoids the float harmonic mean entirely via
    // 2000·tp div (2·tp + fp + fn). A class whose recall collapses
    // while precision holds names a DETECTOR gap (profile too narrow);
    // the reverse names label noise in that slice. Plan: reads the
    // persisted confusion matrix (zero corpus scans of its own),
    // reduces it to two |langs|-row marginals + the diagonal, full-
    // outer-joins those census frames so a class missing from either
    // side still reports (coalesce 0) — everything census-scale.
    Q("q192_langid_prf",
      langBestCte + """,
        |cm AS (SELECT lang, best, count(*)::BIGINT AS c FROM b GROUP BY 1, 2),
        |r AS (SELECT lang AS lab, sum(c) AS n_true FROM cm GROUP BY 1),
        |k AS (SELECT best AS lab, sum(c) AS n_pred FROM cm GROUP BY 1),
        |d AS (SELECT lang AS lab, sum(c) AS tp FROM cm WHERE lang = best GROUP BY 1)
        |SELECT coalesce(r.lab, k.lab) AS lang,
        |       coalesce(r.n_true, 0)::BIGINT AS n_true,
        |       coalesce(k.n_pred, 0)::BIGINT AS n_pred,
        |       coalesce(d.tp, 0)::BIGINT AS tp,
        |       (1000 * coalesce(d.tp, 0) // NULLIF(coalesce(k.n_pred, 0), 0))::BIGINT AS precision_milli,
        |       (1000 * coalesce(d.tp, 0) // NULLIF(coalesce(r.n_true, 0), 0))::BIGINT AS recall_milli,
        |       (2000 * coalesce(d.tp, 0)
        |          // NULLIF(coalesce(r.n_true, 0) + coalesce(k.n_pred, 0), 0))::BIGINT AS f1_milli
        |FROM r FULL OUTER JOIN k ON k.lab = r.lab
        |       FULL OUTER JOIN d ON d.lab = coalesce(r.lab, k.lab)
        |ORDER BY lang""".stripMargin, Family.Text) { (s, dir) =>
      val cm = langConfusion(s, dir).groupBy("lang", "best").agg(sum("c").as("c"))
      val r = cm.groupBy(col("lang").as("lab")).agg(sum("c").as("n_true"))
      val k = cm.groupBy(col("best").as("lab")).agg(sum("c").as("n_pred"))
      val d = cm.filter(col("lang") === col("best"))
        .groupBy(col("lang").as("lab")).agg(sum("c").as("tp"))
      r.join(k, Seq("lab"), "full_outer").join(d, Seq("lab"), "full_outer")
        .select(col("lab").as("lang"),
          coalesce(col("n_true"), lit(0L)).as("n_true"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          coalesce(col("tp"), lit(0L)).as("tp"))
        .select(col("lang"), col("n_true"), col("n_pred"), col("tp"),
          expr("(1000 * tp) div nullif(n_pred, 0)").as("precision_milli"),
          expr("(1000 * tp) div nullif(n_true, 0)").as("recall_milli"),
          // 2tp + fp + fn = n_true + n_pred (each side contributes its
          // marginal; tp is counted once in each)
          expr("(2000 * tp) div nullif(n_true + n_pred, 0)").as("f1_milli"))
        .orderBy("lang")
    },

    // ---- PII density census (round 16 — q69-redaction's
    // OBSERVABILITY face, the way q185/q186/q188 observe their
    // operators: per source, how much PII the redactor WOULD touch —
    // doc counts and match counts for each pattern class plus
    // per-mille doc shares. A source whose density jumps release-over-
    // release gets quarantined before the export, priced from this
    // table, not discovered after. Same deterministic augmentation
    // discipline as q69 (the fixture corpus carries no real PII), but
    // CONDITIONAL — only doc_id ≡ 0 (mod 3) gains an email, ≡ 0
    // (mod 5) a phone — so the census is non-degenerate. Plan: one
    // map-only regexp pass (codegen), one |sources|-bounded partial-
    // agg shuffle, zero joins.
    Q("q193_pii_density",
      s"""WITH aug AS (SELECT source,
         |    concat(text,
         |      CASE WHEN doc_id % 3 = 0
         |           THEN concat(' user', CAST(doc_id AS VARCHAR), '@mail.example.com') ELSE '' END,
         |      CASE WHEN doc_id % 5 = 0
         |           THEN concat(' 555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) ELSE '' END) AS t
         |  FROM documents)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |       count(*) FILTER (WHERE regexp_matches(t, '$EmailRe'))::BIGINT AS email_docs,
         |       count(*) FILTER (WHERE regexp_matches(t, '$PhoneRe'))::BIGINT AS phone_docs,
         |       sum(len(regexp_extract_all(t, '$EmailRe')))::BIGINT AS n_emails,
         |       sum(len(regexp_extract_all(t, '$PhoneRe')))::BIGINT AS n_phones,
         |       (1000 * count(*) FILTER (WHERE regexp_matches(t, '$EmailRe')) // count(*))::BIGINT AS email_docs_milli,
         |       (1000 * count(*) FILTER (WHERE regexp_matches(t, '$PhoneRe')) // count(*))::BIGINT AS phone_docs_milli
         |FROM aug GROUP BY 1 ORDER BY source""".stripMargin) { (s, dir) =>
      val t = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" user"), col("doc_id").cast("string"),
            lit("@mail.example.com"))).otherwise(""),
        when(col("doc_id") % 5 === 0,
          concat(lit(" 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(""))
      T.df(s, dir, "documents")
        .select(col("source"),
          size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long").as("ne"),
          size(regexp_extract_all(t, lit(PhoneRe), lit(0))).cast("long").as("np"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("ne") > 0, 1L).otherwise(0L)).as("email_docs"),
          sum(when(col("np") > 0, 1L).otherwise(0L)).as("phone_docs"),
          sum("ne").as("n_emails"), sum("np").as("n_phones"))
        .select(col("source"), col("n_docs"), col("email_docs"), col("phone_docs"),
          col("n_emails"), col("n_phones"),
          expr("(1000 * email_docs) div n_docs").as("email_docs_milli"),
          expr("(1000 * phone_docs) div n_docs").as("phone_docs_milli"))
        .orderBy("source")
    },

    // ---- Cross-split n-gram leakage census (round 16 — q100 audits
    // SEMANTIC leakage through embeddings; this audits the EXACT
    // side: word trigrams (the q146/q156 gram identity) shared across
    // the train/val/test boundary, the n-gram-decontamination unit.
    // Per ordered split pair: shared distinct grams, occurrence mass
    // on each side, and the leaked share of the later side's distinct
    // grams in milli — the number a leakage gate thresholds before an
    // eval is trusted. Plan at 100 TB: ONE corpus explode to the
    // gram-hash frame, partial-agg on (h, split) — gram-vocabulary-
    // bounded, never corpus-bounded — PERSISTED ([[splitGramCounts]])
    // because three consumers read it: both sides of the hash-keyed
    // pair join and the per-split distinct totals (exchange reuse
    // alone deduped only the join; the totals branch re-ran the
    // corpus explode — measured 3 scans without the cache; PlanSpec
    // pins it). Text never crosses an exchange; only gram hashes do.
    Q("q194_split_gram_leak",
      s"""WITH w AS (SELECT CASE WHEN ${TextMining.splitHashSql} < 800 THEN 'train'
         |                       WHEN ${TextMining.splitHashSql} < 900 THEN 'val'
         |                       ELSE 'test' END AS split,
         |              list_filter(string_split(text, ' '), x -> x != '') AS ws
         |            FROM documents),
         |g AS (SELECT split,
         |        ('0x' || substr(md5(ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]), 1, 8))::BIGINT AS h
         |      FROM w, unnest(generate_series(0, len(ws) - 3)) AS t(i)
         |      WHERE len(ws) >= 3),
         |gs AS (SELECT h, split, count(*) AS c FROM g GROUP BY 1, 2),
         |t AS (SELECT split, count(*) AS n FROM gs GROUP BY 1)
         |SELECT a.split AS split_a, b.split AS split_b,
         |       count(*)::BIGINT AS shared_grams,
         |       sum(a.c)::BIGINT AS occ_a, sum(b.c)::BIGINT AS occ_b,
         |       (1000 * count(*) // tb.n)::BIGINT AS b_leak_milli
         |FROM gs a JOIN gs b ON a.h = b.h AND a.split < b.split
         |JOIN t tb ON tb.split = b.split
         |GROUP BY 1, 2, tb.n ORDER BY 1, 2""".stripMargin, Family.Text) { (s, dir) =>
      val gs = splitGramCounts(s, dir)
      val tots = gs.groupBy("split").agg(count(lit(1)).as("n"))
      val a = gs.select(col("h"), col("split").as("split_a"), col("c").as("ca"))
      val b = gs.select(col("h"), col("split").as("split_b"), col("c").as("cb"))
      a.join(b, Seq("h")).filter(col("split_a") < col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(count(lit(1)).as("shared_grams"),
          sum("ca").as("occ_a"), sum("cb").as("occ_b"))
        .join(broadcast(tots.withColumnRenamed("split", "split_b")), "split_b")
        .select(col("split_a"), col("split_b"), col("shared_grams"),
          col("occ_a"), col("occ_b"),
          expr("(1000 * shared_grams) div n").as("b_leak_milli"))
        .orderBy("split_a", "split_b")
    },

    // ---- Edit-distance verification of SimHash candidates (round 16
    // — the CHARACTER-level verify stage completing the trio: q172
    // verifies q66's candidates with set Jaccard (order-blind), q154
    // with the longest shared token run (order-exact but token-
    // granular); exact edit distance is the byte-accuracy number a
    // dedup audit quotes for "same doc up to k keystrokes" — OCR
    // noise, version bumps, template fills, all invisible to set
    // measures. Per candidate pair: the Levenshtein distance over the
    // 200-char ASCII projection of each doc and the similarity
    // 1000·(maxlen − lev) div maxlen in milli. ENGINE-PORTABLE BY
    // CONSTRUCTION: Spark's levenshtein counts codepoints, DuckDB's
    // counts bytes — stripping non-ASCII on BOTH engines first
    // ([^\x00-\x7F] → '', the byte=codepoint regime) makes the two
    // definitions coincide for ANY corpus, not just ASCII fixtures;
    // the 200-char cap bounds the O(len²) DP at 40k cells/pair. Both-
    // empty projections NULL identically (NULLIF). Plan at 100 TB:
    // the pair set is the bounded [[simhashHamPairs]] (q66's priced
    // path over the shared token-hash cache); the prefix frame
    // projects (doc_id, 200 ASCII chars) MAP-SIDE off the corpus scan
    // so only ≤200 chars/doc cross the two attach joins; the distance
    // runs inside whole-stage codegen via the bit-parallel Myers
    // kernel ([[graft.plans.EditDistanceKernel]], round 17: the
    // classic DP costs 40k CELL ops/pair and the measured distance
    // distribution is far — median lev 144/200 — so banded variants
    // buy nothing; Myers advances a packed DP column in ~20 word ops
    // per 64-bit block, exact at any distance, pinned ≡ native
    // levenshtein on every fixture pair by MyersEditDistanceSpec),
    // output = |candidate pairs|.
    Q("q203_edit_verify",
      simhashPairsCore + """,
        |px AS (SELECT doc_id,
        |         substr(regexp_replace(text, '[^\x00-\x7F]', '', 'g'), 1, 200) AS px
        |       FROM documents)
        |SELECT doc_a, doc_b, hamming,
        |       levenshtein(pa.px, pb.px)::BIGINT AS lev,
        |       (1000 * (greatest(len(pa.px), len(pb.px)) - levenshtein(pa.px, pb.px))
        |        // NULLIF(greatest(len(pa.px), len(pb.px)), 0))::BIGINT AS sim_milli
        |FROM hp JOIN px pa ON pa.doc_id = hp.doc_a
        |        JOIN px pb ON pb.doc_id = hp.doc_b
        |ORDER BY doc_a, doc_b""".stripMargin, Family.Text) { (s, dir) =>
      val px = docs(s, dir).select(col("doc_id"),
        substring(regexp_replace(col("text"), "[^\\x00-\\x7F]", ""), 1, 200).as("px"))
      // TWO measured scale defenses on the DP stage:
      // 1. EXPLICIT repartition (64 s → 12 s cold at sf0.1): the pair
      //    frame is byte-SMALL (99k rows of ids + 200-char prefixes),
      //    so AQE's byte-based coalescing collapses it to ONE task —
      //    and the per-ROW cost is a 40k-cell DP, the exact case byte
      //    statistics mispredict. The explicit partition count
      //    disables coalescing for this one exchange.
      // 2. CONTENT-PAIR collapse (252 s → ~5 s on the 10×-clone
      //    adversary): clone cliques multiply MEMBER pairs ~45× per
      //    duplicated content while the DISTINCT (pa, pb) prefix
      //    pairs stay ~flat (95,849 of 99,269 at base sf0.1 — the
      //    collapse is free when content is distinct, decisive under
      //    clones). The DP runs once per distinct prefix pair and the
      //    member pairs re-attach by join — the q172
      //    transferJmCollapsed lesson applied to edit distance.
      val nPart = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val joined = simhashHamPairs(s, dir)
        .join(px.select(col("doc_id").as("doc_a"), col("px").as("pa")), "doc_a")
        .join(px.select(col("doc_id").as("doc_b"), col("px").as("pb")), "doc_b")
      val dist = joined.select("pa", "pb").distinct()
        .repartition(nPart, col("pa"), col("pb"))
        .select(col("pa"), col("pb"),
          graft.plans.EditDistanceKernel.editDistance(col("pa"), col("pb"))
            .cast("long").as("lev"),
          greatest(length(col("pa")), length(col("pb"))).cast("long").as("ml"))
      joined.join(dist, Seq("pa", "pb"))
        .select(col("doc_a"), col("doc_b"), col("hamming"), col("lev"),
          expr("(1000 * (ml - lev)) div nullif(ml, 0)").as("sim_milli"))
        .orderBy("doc_a", "doc_b")
    },

    // ---- Within-source percentile normalization (round 16 — the
    // CROSS-SOURCE FAIRNESS transform the absolute screens need: a
    // "good" TTR for web text is template-spam territory for code, so
    // thresholding the raw signal cross-source throttles whole
    // domains; mapping each doc to its percentile WITHIN its source
    // makes one curation threshold mean the same thing everywhere
    // (quantile normalization, the q160 decile idea at per-doc
    // granularity). Per doc: TTR in micro (distinct/token truncating
    // quotient off the one compiled qualityStats pass) and
    // pct_milli = 1000·|strictly below within source| div (n_s − 1) —
    // ties share a percentile (rank semantics), single-doc sources
    // NULL identically on both engines (NULLIF). Exact integers
    // throughout. Plan at 100 TB: NO per-source row window (the q97
    // skew lesson — one huge source would serialize through one
    // task); "strictly below" decomposes counting-sort style over the
    // VALUE-BOUNDED (source, ttr) histogram (≤ |sources|·1e6 rows):
    // one partial-agg shuffle to the histogram, a cumulative window
    // over that bounded frame, and one hash join back on
    // (source, ttr) — corpus rows move through exactly one exchange.
    // Zero-token docs (TTR undefined) drop identically on both
    // engines.
    Q("q205_percentile_norm",
      """WITH m AS (SELECT doc_id, source,
        |             len(list_filter(string_split(lower(text), ' '), x -> x != '')) AS nt,
        |             len(list_distinct(list_filter(string_split(lower(text), ' '), x -> x != ''))) AS nd
        |           FROM documents),
        |s AS (SELECT doc_id, source, (1000000 * nd // nt)::BIGINT AS ttr
        |      FROM m WHERE nt > 0),
        |h AS (SELECT source, ttr, count(*)::BIGINT AS c FROM s GROUP BY 1, 2),
        |cum AS (SELECT source, ttr, (sum(c) OVER (PARTITION BY source ORDER BY ttr) - c)::BIGINT AS below
        |        FROM h),
        |n AS (SELECT source, count(*)::BIGINT AS n FROM s GROUP BY 1)
        |SELECT s.doc_id, s.source, s.ttr AS ttr_micro,
        |       (1000 * cum.below // NULLIF(n.n - 1, 0))::BIGINT AS pct_milli
        |FROM s JOIN cum ON cum.source = s.source AND cum.ttr = s.ttr
        |       JOIN n ON n.source = s.source
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      percentileNorm(s, dir)
    },

    // ---- Contamination attribution (round 16 — the WHICH question
    // after q62/q81/q204 answer HOW MUCH: a decontamination incident
    // report names the benchmark artifact that leaked and the source
    // that carries it, because remediation differs — a leaked eval
    // suite means re-crawling one source, a mirrored FAQ means a
    // lexicon fix. For every contaminated doc (q62's 2·hits ≥ n_sh
    // rule), attribute each benchmark-shared shingle to the benchmark
    // doc(s) containing it; per (source, bench_doc): the shared-
    // shingle evidence mass, distinct contaminated docs touched, and
    // the top-3 benchmark docs per source by (evidence, bench_doc).
    // Exact integers; multi-bench-doc shingles attribute to EACH
    // owner (evidence counting, not partitioning — documented, and
    // identical on both engines). Plan at 100 TB: the benchmark side
    // (eval suites) is small — its (sh, bench_doc) pairs BROADCAST
    // twice (flag stage + attribution stage); the corpus-side shingle
    // frame is the MEMOIZED q41-family cache, flagged docs reduce via
    // one broadcast-join agg (q62's shape), attribution is a second
    // broadcast join restricted to flagged docs only (∝ contamination
    // rate, not corpus), census agg is |sources|·|bench|-bounded, and
    // the top-3 rank collapses to WindowGroupLimit.
    Q("q206_contamination_attribution",
      sqlPrelude + """,
        |bp AS (SELECT doc_id AS bench_doc, sh FROM dsh WHERE doc_id % 20 = 0),
        |bu AS (SELECT DISTINCT sh FROM bp),
        |hits AS (SELECT d.doc_id, count(*) AS n_sh, count(b.sh) AS n_hit
        |         FROM dsh d LEFT JOIN bu b USING (sh)
        |         WHERE d.doc_id % 20 <> 0 GROUP BY 1),
        |fl AS (SELECT doc_id FROM hits WHERE 2 * n_hit >= n_sh),
        |att AS (SELECT doc.source, bp.bench_doc,
        |               count(*)::BIGINT AS n_evidence,
        |               count(DISTINCT d.doc_id)::BIGINT AS n_docs
        |        FROM dsh d JOIN fl USING (doc_id)
        |             JOIN bp ON bp.sh = d.sh
        |             JOIN documents doc ON doc.doc_id = d.doc_id
        |        GROUP BY 1, 2),
        |rk AS (SELECT source, bench_doc, n_evidence, n_docs,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY n_evidence DESC, bench_doc)::BIGINT AS rk
        |       FROM att)
        |SELECT source, rk, bench_doc, n_evidence, n_docs
        |FROM rk WHERE rk <= 3 ORDER BY source, rk""".stripMargin, Family.Text) { (s, dir) =>
      val sh = docShingles(s, dir)
      val bp = sh.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("bench_doc"), explode(col("sh")).as("sh"))
      val bu = bp.select("sh").distinct().withColumn("mark", lit(1))
      val corpus = sh.filter(col("doc_id") % 20 =!= 0)
        .select(col("doc_id"), explode(col("sh")).as("sh"))
      val flagged = corpus
        .join(broadcast(bu), Seq("sh"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sh"), count(col("mark")).as("n_hit"))
        .filter(col("n_hit") * 2 >= col("n_sh"))
        .select("doc_id")
      val srcOf = docs(s, dir).select(col("doc_id"), col("source"))
      val att = corpus
        .join(broadcast(flagged), Seq("doc_id"), "left_semi")
        .join(broadcast(bp), "sh")
        .join(srcOf, "doc_id")
        .groupBy("source", "bench_doc")
        .agg(count(lit(1)).as("n_evidence"), countDistinct("doc_id").as("n_docs"))
      val w = Window.partitionBy("source")
        .orderBy(col("n_evidence").desc, col("bench_doc"))
      att.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select("source", "rk", "bench_doc", "n_evidence", "n_docs")
        .orderBy("source", "rk")
    },

    // ---- Code-switching purity census (round 16 — the WITHIN-doc
    // face of langid: q45 labels whole documents, but web text mixes
    // languages inside one doc (boilerplate chrome around translated
    // bodies, quoted sources, spam keyword blocks), and a monolingual
    // training slice assembled from whole-doc labels inherits every
    // mixed doc's wrong half. Chunk each doc into fixed 32-token
    // windows, langid each chunk with q45's profile heuristic
    // (identical constants + tie order, so chunk and doc labels can
    // be reconciled), and report per source how many docs are MIXED
    // (≥2 chunk languages) plus the mean purity (plurality-chunk
    // share) in milli. Undetermined chunks (zero profile hits) don't
    // vote; docs with no voting chunk drop on both engines. Exact
    // integers. Plan at 100 TB: chunking is a map-side HOF explode
    // off the one corpus scan, the 4 profile counts project per chunk
    // BEFORE any exchange (the langScores kernel — chunk TEXT never
    // crosses), votes reduce in ONE doc-keyed partial-agg shuffle to
    // four counters per doc (no per-doc window — plurality is
    // greatest() over the pivoted counters, q45's device at chunk
    // level), census agg |sources|-bounded.
    Q("q211_code_switching",
      """WITH tl AS (SELECT doc_id, source,
        |              list_filter(string_split(lower(text), ' '), x -> x != '') AS t
        |            FROM documents),
        |ch AS (SELECT doc_id, source, list_slice(t, i * 32 + 1, i * 32 + 32) AS ck
        |       FROM tl, unnest(generate_series(0, greatest(len(t) - 1, 0) // 32)) AS u(i)
        |       WHERE len(t) > 0),
        |sc AS (SELECT doc_id, source,
        |         len(list_filter(ck, w -> w IN ('the','a','of','and','in')))::BIGINT AS en,
        |         len(list_filter(ck, w -> w IN ('der','die','und','das','ist')))::BIGINT AS de,
        |         len(list_filter(ck, w -> w IN ('el','la','y','los','que')))::BIGINT AS es,
        |         len(list_filter(ck, w -> w IN ('le','les','et','des','un')))::BIGINT AS fr
        |       FROM ch),
        |v AS (SELECT doc_id, source,
        |        CASE WHEN en + de + es + fr = 0 THEN NULL
        |             WHEN greatest(en, de, es, fr) = en THEN 'en'
        |             WHEN greatest(en, de, es, fr) = de THEN 'de'
        |             WHEN greatest(en, de, es, fr) = es THEN 'es'
        |             ELSE 'fr' END AS lang
        |      FROM sc),
        |d AS (SELECT doc_id, source,
        |        sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS ven,
        |        sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END)::BIGINT AS vde,
        |        sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END)::BIGINT AS ves,
        |        sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END)::BIGINT AS vfr
        |      FROM v WHERE lang IS NOT NULL GROUP BY 1, 2),
        |p AS (SELECT source, ven + vde + ves + vfr AS votes,
        |             greatest(ven, vde, ves, vfr) AS major FROM d)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |       sum(CASE WHEN major < votes THEN 1 ELSE 0 END)::BIGINT AS n_mixed,
        |       (1000 * sum(CASE WHEN major < votes THEN 1 ELSE 0 END)
        |        // count(*))::BIGINT AS mixed_milli,
        |       (sum(1000 * major // votes) // count(*))::BIGINT AS mean_purity_milli
        |FROM p GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val profiles = Seq(
        Seq("the", "a", "of", "and", "in"),
        Seq("der", "die", "und", "das", "ist"),
        Seq("el", "la", "y", "los", "que"),
        Seq("le", "les", "et", "des", "un"))
      val sc = docs(s, dir)
        .select(col("doc_id"), col("source"), tokens(col("text")).as("t"))
        .filter(size(col("t")) > 0)
        .select(col("doc_id"), col("source"),
          explode(expr(
            "transform(sequence(0, (size(t) - 1) div 32), i -> slice(t, i * 32 + 1, 32))"))
            .as("ck"))
        .select(col("doc_id"), col("source"),
          graft.plans.TextKernels.langScores(concat_ws(" ", col("ck")), profiles).as("sc"))
        .select(col("doc_id"), col("source"),
          element_at(col("sc"), 1).as("en"), element_at(col("sc"), 2).as("de"),
          element_at(col("sc"), 3).as("es"), element_at(col("sc"), 4).as("fr"))
      val g = greatest(col("en"), col("de"), col("es"), col("fr"))
      val lang = when(col("en") + col("de") + col("es") + col("fr") === 0, lit(null))
        .when(g === col("en"), "en").when(g === col("de"), "de")
        .when(g === col("es"), "es").otherwise("fr")
      val d = sc.withColumn("lang", lang).filter(col("lang").isNotNull)
        .groupBy("doc_id", "source")
        .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ven"),
          sum(when(col("lang") === "de", 1L).otherwise(0L)).as("vde"),
          sum(when(col("lang") === "es", 1L).otherwise(0L)).as("ves"),
          sum(when(col("lang") === "fr", 1L).otherwise(0L)).as("vfr"))
        .select(col("source"),
          (col("ven") + col("vde") + col("ves") + col("vfr")).as("votes"),
          greatest(col("ven"), col("vde"), col("ves"), col("vfr")).as("major"))
      d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("major") < col("votes"), 1L).otherwise(0L)).as("n_mixed"),
          sum(expr("(1000 * major) div votes")).as("sp"))
        .select(col("source"), col("n_docs"), col("n_mixed"),
          expr("(1000 * n_mixed) div n_docs").as("mixed_milli"),
          expr("sp div n_docs").as("mean_purity_milli"))
        .orderBy("source")
    },

    // ---- interpolated Kneser-Ney bigram perplexity (the KenLM/CCNet
    // smoothing family, vs q82's add-one): absolute discount D = 3/4
    // (exactly representable — every count-minus-D is exact in double),
    // continuation probability from bigram-TYPE counts, not token
    // counts. Everything derives from ONE distinct-bigram frame c2:
    // context totals + distinct-continuation fanout (c1 = fold over
    // c2), continuation counts (bwd = fold over c2), type totals
    // (1-row aggregates) — so training costs one corpus pass into c2
    // and scoring is a second pass with the three vocab-bounded count
    // frames BROADCAST back onto the bigram stream (the q82 plan
    // shape; a web-scale vocabulary falls back to shuffle hash joins).
    // Unseen-context docs back off to the smoothed continuation
    // distribution pc(w2) = (N1+(·,w2) + 1)/(B + VB + 1) — the +1/+VB+1
    // floor keeps every scored probability positive (the convention the
    // oracle mirrors exactly; counts are integers in both engines, the
    // arithmetic is written in the same composition order on both
    // sides, and the per-doc mean rounds through decimal(12,2) so
    // ln-ulp noise cannot flip the hash — the q82 discipline).
    Q("q225_kn_perplexity",
      s"""$sqlPrelude,
         |big AS (SELECT a.doc_id, a.h AS w1, b.h AS w2
         |        FROM wh a JOIN wh b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
         |c2 AS (SELECT w1, w2, count(*) AS n_b FROM big
         |       WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
         |c1 AS (SELECT w1, sum(n_b) AS n_c, count(*) AS n1f FROM c2 GROUP BY 1),
         |bwd AS (SELECT w2, count(*) AS n1b FROM c2 GROUP BY 1),
         |k AS (SELECT (SELECT count(*) FROM c2) AS b_types,
         |             (SELECT count(*) FROM bwd) AS vb),
         |t AS (SELECT big.doc_id,
         |        CASE WHEN c1.n_c IS NOT NULL THEN
         |          -ln((greatest(coalesce(c2.n_b, 0)::DOUBLE - 0.75, 0.0)
         |               + (0.75 * c1.n1f)
         |                 * ((coalesce(bwd.n1b, 0) + 1)::DOUBLE / (k.b_types + k.vb + 1)))
         |              / c1.n_c)
         |        ELSE -ln((coalesce(bwd.n1b, 0) + 1)::DOUBLE / (k.b_types + k.vb + 1))
         |        END AS t
         |      FROM big LEFT JOIN c1 USING (w1) LEFT JOIN c2 USING (w1, w2)
         |               LEFT JOIN bwd USING (w2) CROSS JOIN k)
         |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         |       (sum(t) / count(*))::DECIMAL(12,2)::DOUBLE AS avg_nll
         |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin, Family.Text) { (s, dir) =>
      knScore(tokenHashArr(s, dir))
    },

    // ---- model-based quality scoring: a multinomial Naive-Bayes
    // classifier (the exact-count member of the fastText/DCLM linear
    // bag-of-words family every model-based quality filter uses)
    // trained on a WEAK label — 2·|distinct| ≥ |tokens|, the TTR rule,
    // crisp integers both engines share — over the 80% split, scoring
    // EVERY doc with the add-one-smoothed log-likelihood ratio plus
    // the class prior. The label is computed INLINE from the token
    // array in the stream projection (a per-row function of hs), so
    // the token stream never joins a corpus-sized per-doc frame; the
    // per-token class counts are vocab-bounded and BROADCAST back
    // (the q82/q225 plan family: one training pass into tc, one
    // scoring pass, constants via 1-row cross joins; per-doc means
    // pre-combine before their exchange). Two-ln term composition
    // (not a combined ratio ln) keeps every intermediate in double
    // range at any corpus size; the per-doc sum rounds through
    // decimal(12,2) — the q82 discipline.
    Q("q230_nb_quality_score",
      s"""$sqlPrelude,
         |dl AS (SELECT doc_id, count(*) AS nt, count(DISTINCT h) AS nd FROM wh GROUP BY 1),
         |lab AS (SELECT doc_id, CASE WHEN 2 * nd >= nt THEN 1 ELSE 0 END AS label FROM dl),
         |tr AS (SELECT wh.doc_id, h, label FROM wh JOIN lab USING (doc_id)
         |       WHERE doc_id % 5 <> 0),
         |tc AS (SELECT h, sum(label)::BIGINT AS c1, sum(1 - label)::BIGINT AS c0
         |       FROM tr GROUP BY 1),
         |k AS (SELECT (SELECT sum(c1) FROM tc) AS n1, (SELECT sum(c0) FROM tc) AS n0,
         |             (SELECT count(*) FROM tc) AS v,
         |             (SELECT count(*) FROM lab WHERE label = 1 AND doc_id % 5 <> 0) AS d1,
         |             (SELECT count(*) FROM lab WHERE label = 0 AND doc_id % 5 <> 0) AS d0),
         |t AS (SELECT wh.doc_id,
         |        ln((coalesce(tc.c1, 0) + 1)::DOUBLE / (k.n1 + k.v))
         |        - ln((coalesce(tc.c0, 0) + 1)::DOUBLE / (k.n0 + k.v)) AS t
         |      FROM wh LEFT JOIN tc USING (h) CROSS JOIN k),
         |p AS (SELECT doc_id, sum(t) AS sc, count(*) AS n_toks FROM t GROUP BY 1)
         |SELECT p.doc_id, lab.label::BIGINT AS label, n_toks::BIGINT AS n_toks,
         |       (ln(k.d1::DOUBLE / k.d0) + sc)::DECIMAL(12,2)::DOUBLE AS llr
         |FROM p JOIN lab USING (doc_id) CROSS JOIN k ORDER BY doc_id""".stripMargin, Family.Text) {
      (s, dir) => nbScore(tokenHashArr(s, dir))
    },

    // ---- end-to-end curation funnel: the RefinedWeb/CCNet pipeline
    // shape as ONE composed query — quality screen (q46's integer
    // rules) → exact dedup (q38's trim-lower first-wins key) →
    // benchmark decontamination (q81's shingle-overlap rule, bench =
    // doc_id % 20 ≡ 0, bench members dropped as eval material) →
    // per-source token budget (q87's quality-ranked running total) —
    // with the census every curation run reports: docs and tokens
    // surviving each stage. Computed as THREE chain passes, not five
    // stage re-evaluations: stages 0–1 fold over the single kernel
    // pass, stages 2–3 are conditional aggregates over one flagged
    // frame (dedup-kept join + shingle-hit join as boolean columns),
    // stage 4 over the budget window — at 100 TB the corpus-scale
    // exchanges are exactly the three the semantics require (the
    // dedup key shuffle, the per-doc hit join, the per-source
    // window), each carrying one purpose. The dedup key crosses its
    // exchange as the raw string (the q38 contract the oracle
    // shares); a deployment hashes it first. Census rows materialize
    // via the q226 array-unpivot device (5 bounded rows).
    Q("q231_curation_funnel",
      s"""$sqlPrelude,
         |tl2 AS (SELECT doc_id, source, text,
         |          list_filter(string_split(lower(text), ' '), x -> x != '') AS t
         |        FROM documents),
         |q AS (SELECT doc_id, source, text, len(t)::BIGINT AS nt,
         |        (CASE WHEN len(t) BETWEEN 20 AND 1000 THEN 1 ELSE 0 END
         |         + CASE WHEN 10 * len(list_distinct(t)) >= 3 * len(t) THEN 1 ELSE 0 END
         |         + CASE WHEN list_max(list_transform(t, w -> length(w))) <= 15 THEN 1 ELSE 0 END) AS quality
         |      FROM tl2),
         |s1 AS (SELECT * FROM q WHERE quality >= 2),
         |s2 AS (SELECT * FROM s1 WHERE doc_id IN (
         |         SELECT min(doc_id) FROM s1 GROUP BY trim(lower(text)))),
         |bench AS (SELECT DISTINCT sh FROM dsh WHERE doc_id % 20 = 0),
         |hits AS (SELECT d.doc_id, count(*) AS n_sh, count(b.sh) AS n_hit
         |         FROM dsh d LEFT JOIN bench b USING (sh) GROUP BY 1),
         |s3 AS (SELECT s2.* FROM s2 JOIN hits USING (doc_id)
         |       WHERE doc_id % 20 <> 0 AND 2 * n_hit < n_sh),
         |s4 AS (SELECT * FROM (
         |         SELECT s3.*, sum(nt) OVER (PARTITION BY source
         |           ORDER BY quality DESC, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |         FROM s3) t WHERE cum <= $CurationBudget)
         |SELECT * FROM (
         |  SELECT 0::BIGINT AS stage, 'corpus' AS name,
         |         count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS n_tokens FROM q
         |  UNION ALL SELECT 1, 'quality', count(*)::BIGINT, sum(nt)::BIGINT FROM s1
         |  UNION ALL SELECT 2, 'exact_dedup', count(*)::BIGINT, sum(nt)::BIGINT FROM s2
         |  UNION ALL SELECT 3, 'decontaminate', count(*)::BIGINT, sum(nt)::BIGINT FROM s3
         |  UNION ALL SELECT 4, 'budget', count(*)::BIGINT, sum(nt)::BIGINT FROM s4) z
         |ORDER BY stage""".stripMargin, Family.Text) { (s, dir) =>
      curationFunnel(s, dir)
    },

    // ---- FULL RefinedWeb funnel (round 19, VERDICT r18 item 1 — the
    // shape Penedo et al. actually run, and the first query to
    // exercise the facade surface + substring family + budget in ONE
    // plan): q231's chain with the two missing stages composed in —
    //   0 corpus → 1 quality (q46's rules) → 2 exact dedup (q38's
    //   key) → 3 FUZZY dedup (MinHash-LSH components, q57/q222's
    //   surface: keep the min-id survivor of each cluster ∩ stage-2
    //   survivors — a cluster's global rep may have died upstream) →
    //   4 substring CUT (q223's accounting: net tokens = nt −
    //   interval-union duplicated-span coverage; a token-mass
    //   adjustment, docs unchanged) → 5 decontamination (q81's
    //   shingle-overlap rule) → 6 per-source budget (q87's window,
    //   over NET tokens).
    // Plan at 100 TB: the fuzzy and substring inputs are the MEMOIZED
    // family frames (components cache, span frame — PlanSpec pins the
    // InMemoryTableScans; both are bounded by duplication mass), so
    // the added stages cost two narrow corpus-scale exchanges (the
    // cluster-key aggregate + its join back) on top of q231's three
    // (dedup key, decon hit join, budget window) — each carrying one
    // purpose the semantics require. Census rows materialize via the
    // q226 array-unpivot device (7 bounded rows from 2 aggregates +
    // the budget fold).
    Q("q232_refinedweb_funnel",
      s"""${"WITH RECURSIVE " + sqlPrelude.stripPrefix("WITH ")},
         |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
         |          FROM dsh x JOIN dsh y ON x.sh = y.sh AND x.doc_id < y.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (SELECT doc_a, doc_b FROM inter
         |          JOIN ssize sa ON sa.doc_id = doc_a
         |          JOIN ssize sb ON sb.doc_id = doc_b
         |          WHERE 2 * inter >= sa.n + sb.n - inter),
         |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |        UNION SELECT doc_b, doc_a FROM pairs),
         |closure(a, b) AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT c.a, s.b FROM closure c JOIN sym s ON c.b = s.a),
         |comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_rep
         |         FROM closure GROUP BY a),
         |sp AS ($spanSqlCore
         |       SELECT doc_id, span_start, span_len FROM sp),
         |iv AS (SELECT doc_id, span_start, span_start + span_len - 1 AS span_end,
         |         CASE WHEN span_start > coalesce(max(span_start + span_len - 1) OVER (
         |                PARTITION BY doc_id ORDER BY span_start
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
         |              THEN 1 ELSE 0 END AS brk
         |       FROM sp),
         |ivg AS (SELECT doc_id, span_start, span_end,
         |          sum(brk) OVER (PARTITION BY doc_id ORDER BY span_start
         |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
         |        FROM iv),
         |cov AS (SELECT doc_id, (max(span_end) - min(span_start) + 1)::BIGINT AS ctoks
         |        FROM ivg GROUP BY doc_id, gid),
         |cv AS (SELECT doc_id, sum(ctoks)::BIGINT AS dup_toks FROM cov GROUP BY doc_id),
         |tl2 AS (SELECT doc_id, source, text,
         |          list_filter(string_split(lower(text), ' '), x -> x != '') AS t
         |        FROM documents),
         |q AS (SELECT doc_id, source, text, len(t)::BIGINT AS nt,
         |        (CASE WHEN len(t) BETWEEN 20 AND 1000 THEN 1 ELSE 0 END
         |         + CASE WHEN 10 * len(list_distinct(t)) >= 3 * len(t) THEN 1 ELSE 0 END
         |         + CASE WHEN list_max(list_transform(t, w -> length(w))) <= 15 THEN 1 ELSE 0 END) AS quality
         |      FROM tl2),
         |s1 AS (SELECT * FROM q WHERE quality >= 2),
         |s2 AS (SELECT * FROM s1 WHERE doc_id IN (
         |         SELECT min(doc_id) FROM s1 GROUP BY trim(lower(text)))),
         |mm AS (SELECT s1.doc_id, coalesce(comp.cluster_rep, s1.doc_id) AS k
         |       FROM s1 LEFT JOIN comp USING (doc_id)),
         |fmin AS (SELECT k, min(doc_id) AS fkept
         |         FROM mm JOIN s2 USING (doc_id) GROUP BY k),
         |s3 AS (SELECT s2.* FROM s2 JOIN mm USING (doc_id) JOIN fmin USING (k)
         |       WHERE doc_id = fkept),
         |s4 AS (SELECT s3.*, (nt - coalesce(cv.dup_toks, 0))::BIGINT AS ntn
         |       FROM s3 LEFT JOIN cv USING (doc_id)),
         |bench AS (SELECT DISTINCT sh FROM dsh WHERE doc_id % 20 = 0),
         |hits AS (SELECT d.doc_id, count(*) AS n_sh, count(b.sh) AS n_hit
         |         FROM dsh d LEFT JOIN bench b USING (sh) GROUP BY 1),
         |s5 AS (SELECT s4.* FROM s4 JOIN hits USING (doc_id)
         |       WHERE doc_id % 20 <> 0 AND 2 * n_hit < n_sh),
         |s6 AS (SELECT * FROM (
         |         SELECT s5.*, sum(ntn) OVER (PARTITION BY source
         |           ORDER BY quality DESC, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |         FROM s5) t WHERE cum <= $CurationBudget)
         |SELECT * FROM (
         |  SELECT 0::BIGINT AS stage, 'corpus' AS name,
         |         count(*)::BIGINT AS n_docs, coalesce(sum(nt), 0)::BIGINT AS n_tokens FROM q
         |  UNION ALL SELECT 1, 'quality', count(*)::BIGINT, coalesce(sum(nt), 0)::BIGINT FROM s1
         |  UNION ALL SELECT 2, 'exact_dedup', count(*)::BIGINT, coalesce(sum(nt), 0)::BIGINT FROM s2
         |  UNION ALL SELECT 3, 'fuzzy_dedup', count(*)::BIGINT, coalesce(sum(nt), 0)::BIGINT FROM s3
         |  UNION ALL SELECT 4, 'substring_cut', count(*)::BIGINT, coalesce(sum(ntn), 0)::BIGINT FROM s4
         |  UNION ALL SELECT 5, 'decontaminate', count(*)::BIGINT, coalesce(sum(ntn), 0)::BIGINT FROM s5
         |  UNION ALL SELECT 6, 'budget', count(*)::BIGINT, coalesce(sum(ntn), 0)::BIGINT FROM s6) z
         |ORDER BY stage""".stripMargin, Family.Text) { (s, dir) =>
      refinedFunnel(s, dir)
    },

    // ---- INCREMENTAL substring dedup at the ingest seam (round 19,
    // VERDICT r18 item 4 — the q89/q135 delta-probes-a-persisted-index
    // pattern applied to the substring family): a delta batch
    // (doc_id % 10 ≡ 0, the repo's modular ingest convention) lands on
    // an existing corpus whose gram table and span set are ALREADY
    // built; report every span that is NEW in corpus+delta — spans in
    // the delta docs themselves plus corpus spans that appeared or
    // EXTENDED because the delta now shares their text. Work ∝ delta
    // gram occurrences + probed index rows + affected-doc span mass,
    // never a corpus candidate-chain rebuild ([[newSpansFromDelta]]'s
    // monotonicity argument); at 100 TB the index side is
    // [[writeGramIndex]]'s hash-bucketed table (zero-exchange probe,
    // GramIndexSpec) and yesterday's span artifact. Honest crossover
    // (clone pricing r19): hot 2.7 s sf0.1 / 4.3 s clone10 / 18.7 s
    // clone100 — the probed mass is the index occurrences of
    // delta-SHARED hashes, so on the 99%-duplicate clone100 adversary
    // (every delta gram matches ~100 index copies) the incremental
    // form approaches the 13.8 s batch rebuild; the win is the real
    // regime where delta-shared mass ≪ corpus. Oracle = the
    // from-scratch truth: spans(union) EXCEPT spans(corpus).
    Q("q233_substring_incremental",
      substringIncrementalOracle, Family.Text) { (s, dir) =>
      newSpansFromDelta(
        docs(s, dir).filter(col("doc_id") % 10 === 0),
        corpusGrams(s, dir), corpusSpans(s, dir),
        docs(s, dir).filter(col("doc_id") % 10 =!= 0), SpanK)
        .orderBy("doc_id", "span_start")
    },

    // ---- q233 through the AT-SCALE access path (round 20, VERDICT
    // r19 "What's missing" #3): identical semantics — the oracle IS
    // q233's — but the index side reads [[writeGramIndex]]'s
    // hash-BUCKETED DISK table instead of the in-session memoized
    // gram frame, so the 100 TB index story (yesterday's persisted
    // artifact, bucket-aligned zero-exchange probe) is oracle-gated
    // end-to-end, not just spec-gated. The table is written once per
    // (session, dir) in the untimed family-build slot (the index is
    // ingest's output, not this query's work); the probe join reads
    // it straight off its 32 buckets — PlanSpec pins `Bucketed: true`
    // and the exchange-free index side with broadcast disabled.
    // Measured (r20, interleaved with q233 in the same flat-calib
    // sessions): sf0.1 cold 3.12/hot 2.71 s; clone10 7.26/3.34 vs
    // q233's 10.17/4.47; clone100 23.77/7.97 vs q233's 31.74/17.63 —
    // the disk path WINS, hardest on the 99%-duplicate adversary
    // (2.2× hot), because the index never rebuilds per sweep and the
    // probe stays bucket-aligned while q233's in-memory form pays the
    // gram-frame rebuild + exchange on exactly the corpus whose
    // duplicate mass is the problem.
    Q("q237_substring_incremental_disk",
      substringIncrementalOracle, Family.Text) { (s, dir) =>
      newSpansFromDelta(
        docs(s, dir).filter(col("doc_id") % 10 === 0),
        s.table(gramIndexTable(s, dir)), corpusSpans(s, dir),
        docs(s, dir).filter(col("doc_id") % 10 =!= 0), SpanK)
        .orderBy("doc_id", "span_start")
    },

    // ---- The COMPLETE at-scale artifact cycle (round 20 — closes the
    // last memoized stand-in in the substring family's 100 TB story):
    // q237 put the gram index on disk but still read the span set from
    // the in-session memo; q238 reads BOTH sides as yesterday's
    // persisted artifacts — the gh-bucketed gram table (delta probes
    // bucket-aligned) and the doc_id-bucketed span table
    // ([[writeSpanIndex]]; doc_id is the key both span consumers join
    // on: the affected-doc old-position explode and the final
    // new-vs-old anti-join). This is exactly the frame an ingest
    // pipeline runs at each cycle: no in-session state survives from
    // "yesterday", only the two tables. Oracle unchanged (access
    // path, not semantics). Measured (r20 flat-calib): sf0.1
    // 2.83/2.27 s; clone10 4.15/3.92; clone100 7.34/7.72 — vs q237's
    // 23.77/7.97 and q233's 31.74/17.63 on the same adversary: the
    // complete artifact pair wins across the board because NEITHER
    // side rebuilds per cycle; cold ≈ hot is the signature (the only
    // per-cycle work left is the probe itself).
    Q("q238_substring_incremental_artifacts",
      substringIncrementalOracle) { (s, dir) =>
      newSpansFromDelta(
        docs(s, dir).filter(col("doc_id") % 10 === 0),
        s.table(gramIndexTable(s, dir)), s.table(spanIndexTable(s, dir)),
        docs(s, dir).filter(col("doc_id") % 10 =!= 0), SpanK)
        .orderBy("doc_id", "span_start")
    }
  )

  /** q233/q237's shared oracle — the from-scratch truth, independent
    * of the access path (memoized frame vs disk bucket table):
    * spans(corpus ∪ delta) EXCEPT spans(corpus). */
  private lazy val substringIncrementalOracle: String =
    s"""WITH spu AS (
       |${spanFullSqlWhere("")}),
       |spc AS (
       |${spanFullSqlWhere("WHERE doc_id % 10 <> 0")})
       |SELECT doc_id, span_start, span_len, span_md5 FROM spu
       |EXCEPT
       |SELECT doc_id, span_start, span_len, span_md5 FROM spc
       |ORDER BY doc_id, span_start""".stripMargin

  /** The q231/q232 decontamination join: per doc, total shingles and
    * benchmark-hit shingles (bench = doc_id % 20 ≡ 0's distinct
    * shingle set, broadcast). One definition so the two funnels'
    * decon semantics cannot drift. */
  private def benchHits(s: SparkSession, dir: String): DataFrame = {
    val sh = docShingles(s, dir)
    val bench = sh.filter(col("doc_id") % 20 === 0)
      .select(explode(col("sh")).as("sh")).distinct()
    sh.select(col("doc_id"), explode(col("sh")).as("sh"))
      .join(broadcast(bench.withColumn("mark", lit(1))), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), count(col("mark")).as("n_hit"))
  }

  /** The funnels' kernel pass: (doc_id, source, key, nt, quality) per
    * doc, memoized because q231 and q232 both start from it and each
    * reads it three times (keptMin's s1, the flagged frame's s1, the
    * first census; unpersisted, the qualityStats kernel scan ran 3x per
    * evaluation — StageProf: q232 at 34 stages with near-identical
    * kernel stages). One narrow row per doc (the `key` column is the
    * q38 exact-dedup contract string), materialized eagerly:
    * concurrent AQE stages racing an unmaterialized cache recompute it
    * (r21 q124). */
  private def qualityBase(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Text, s, "qualityBase|" + dir) {
      val st = graft.plans.TextKernels.qualityStats(lower(col("text")))
      val Seq(nt, nd, ml) = (1 to 3).map(i => element_at(col("st"), i))
      val base = docs(s, dir)
        .select(col("doc_id"), col("source"), col("text"), st.as("st"))
        .select(col("doc_id"), col("source"),
          trim(lower(col("text"))).as("key"), nt.as("nt"),
          (when(nt.between(20, 1000), 1).otherwise(0)
            + when(nd * 10 >= nt * 3, 1).otherwise(0)
            + when(ml <= 15, 1).otherwise(0)).as("quality"))
      base.persist().count()
      base
    }(_.unpersist())

  /** q231's three-pass funnel (factored for CurationFunnelSpec). */
  private[llm] def curationFunnel(s: SparkSession, dir: String): DataFrame = {
    val base = qualityBase(s, dir)
    val s1 = base.filter(col("quality") >= 2)
    val keptMin = s1.groupBy("key").agg(min(col("doc_id")).as("kept"))
    val hits = benchHits(s, dir)
    val flagged = s1.join(keptMin, "key")
      .join(hits, Seq("doc_id"), "left")
      .withColumn("l2", col("doc_id") === col("kept"))
      .withColumn("l3", col("l2") && col("doc_id") % 20 =!= 0 &&
        col("n_hit") * 2 < col("n_sh"))
      .select("doc_id", "source", "quality", "nt", "l2", "l3")
    // PERSIST (round 22, guide §2.4/§5 — the r21 q124/q133
    // repeated-subtree pattern): `flagged` feeds TWO consumers (a23
    // census + budget window). MEMORY_AND_DISK spills, never OOMs.
    // Eager count: concurrent AQE stages racing an unmaterialized cache
    // recompute it (r21 q124).
    Caches.persistForQuery(flagged).count()
    val cum = flagged.filter(col("l3"))
      .withColumn("cum", sum(col("nt")).over(
        Window.partitionBy("source").orderBy(col("quality").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum") <= CurationBudget)
    def two(df: DataFrame, c0: Column, c1: Column, n0: String, n1: String,
        st0: Int, st1: Int) =
      df.agg(sum(when(c0, 1L).otherwise(0L)).as("d0"),
          coalesce(sum(when(c0, col("nt"))), lit(0L)).as("t0"),
          sum(when(c1, 1L).otherwise(0L)).as("d1"),
          coalesce(sum(when(c1, col("nt"))), lit(0L)).as("t1"))
        .select(explode(array(
          struct(lit(st0.toLong).as("stage"), lit(n0).as("name"),
            col("d0").as("n_docs"), col("t0").as("n_tokens")),
          struct(lit(st1.toLong).as("stage"), lit(n1).as("name"),
            col("d1").as("n_docs"), col("t1").as("n_tokens")))).as("r"))
        .select(col("r.stage").as("stage"), col("r.name").as("name"),
          col("r.n_docs").as("n_docs"), col("r.n_tokens").as("n_tokens"))
    val a01 = two(base, lit(true), col("quality") >= 2, "corpus", "quality", 0, 1)
    val a23 = two(flagged, col("l2"), col("l3"), "exact_dedup", "decontaminate", 2, 3)
    val a4 = cum.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("nt")), lit(0L)).as("n_tokens"))
      .select(lit(4L).as("stage"), lit("budget").as("name"),
        col("n_docs"), col("n_tokens"))
    a01.unionAll(a23).unionAll(a4).orderBy("stage")
  }

  /** q232's seven-stage funnel (factored for CurationFunnelSpec): the
    * FULL RefinedWeb composition — q231's quality → exact-dedup chain
    * extended with the fuzzy (MinHash-LSH components) stage, the
    * substring-cut token accounting, then decontamination and the
    * per-source budget over NET tokens. See the q232 registration
    * comment for semantics and the scale contract. */
  private[llm] def refinedFunnel(s: SparkSession, dir: String): DataFrame = {
    val base = qualityBase(s, dir)
    val s1 = base.filter(col("quality") >= 2)
    val keptMin = s1.groupBy("key").agg(min(col("doc_id")).as("kept"))
    // fuzzy stage: clusters come from the MEMOIZED corpus-wide
    // component frame (q57/q91/q222's cache — never rebuilt here);
    // the survivor election re-runs over the exact-dedup SURVIVORS
    // (min doc_id of cluster ∩ s2), because a cluster's global
    // representative may itself have died at an earlier stage
    val comp = docComponents(s, dir)
    val withK = s1.join(keptMin, "key")
      .withColumn("l2", col("doc_id") === col("kept"))
      .join(comp.select(col("id").as("doc_id"), col("cluster_rep")),
        Seq("doc_id"), "left")
      .withColumn("k", coalesce(col("cluster_rep"), col("doc_id")))
    val fuzzyMin = withK.filter(col("l2"))
      .groupBy("k").agg(min(col("doc_id")).as("fkept"))
    val flags = withK
      .join(fuzzyMin, Seq("k"), "left")
      .withColumn("l3", col("l2") && col("doc_id") === col("fkept"))
      // substring-cut accounting over the MEMOIZED span frame: net
      // tokens = nt − interval-union duplicated coverage (q223's rule)
      .join(spanCoverage(spansFrame(s, dir)), Seq("doc_id"), "left")
      .withColumn("ntn", col("nt") - coalesce(col("dup_toks"), lit(0L)))
      .join(benchHits(s, dir), Seq("doc_id"), "left")
      .withColumn("l5", col("l3") && col("n_sh").isNotNull &&
        col("doc_id") % 20 =!= 0 && col("n_hit") * 2 < col("n_sh"))
      // narrow projection (drop key/kept/cluster text columns), then
      // PERSIST: the a25 census and the budget window both consume
      // this frame — unpersisted, the whole withK/span/bench chain
      // (itself containing s1 twice) executed twice
      .select("doc_id", "source", "quality", "nt", "ntn", "l2", "l3", "l5")
    Caches.persistForQuery(flags).count()
    val cum = flags.filter(col("l5"))
      .withColumn("cum", sum(col("ntn")).over(
        Window.partitionBy("source").orderBy(col("quality").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum") <= CurationBudget)
    def stagesOf(df: DataFrame, rows: Seq[(Int, String, Column, Column)]) = {
      val aggs = rows.zipWithIndex.flatMap { case ((_, _, cond, tok), i) =>
        Seq(coalesce(sum(when(cond, 1L)), lit(0L)).as(s"d$i"),
          coalesce(sum(when(cond, tok)), lit(0L)).as(s"t$i")) }
      df.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(rows.zipWithIndex.map { case ((st0, n, _, _), i) =>
          struct(lit(st0.toLong).as("stage"), lit(n).as("name"),
            col(s"d$i").as("n_docs"), col(s"t$i").as("n_tokens")) }: _*)).as("r"))
        .select(col("r.stage").as("stage"), col("r.name").as("name"),
          col("r.n_docs").as("n_docs"), col("r.n_tokens").as("n_tokens"))
    }
    val a01 = stagesOf(base, Seq(
      (0, "corpus", lit(true), col("nt")),
      (1, "quality", col("quality") >= 2, col("nt"))))
    val a25 = stagesOf(flags, Seq(
      (2, "exact_dedup", col("l2"), col("nt")),
      (3, "fuzzy_dedup", col("l3"), col("nt")),
      (4, "substring_cut", col("l3"), col("ntn")),
      (5, "decontaminate", col("l5"), col("ntn"))))
    val a6 = cum.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("ntn")), lit(0L)).as("n_tokens"))
      .select(lit(6L).as("stage"), lit("budget").as("name"),
        col("n_docs"), col("n_tokens"))
    a01.unionAll(a25).unionAll(a6).orderBy("stage")
  }

  /** q230's Naive-Bayes scorer over any (doc_id, hs) token-hash frame
    * (factored like [[lmScore]]/[[knScore]] for a hand-computable
    * spec fixture). Weak label 2·|distinct(hs)| ≥ |hs|; train split
    * doc_id % 5 <> 0; add-one smoothing; llr = ln(d1/d0) +
    * Σ [ln((c1+1)/(N1+V)) − ln((c0+1)/(N0+V))]. */
  private[llm] def nbScore(tha: DataFrame): DataFrame = {
    val labelCol = when(
      size(array_distinct(col("hs"))) * 2 >= size(col("hs")), 1L).otherwise(0L)
    val st = tha.select(col("doc_id"), labelCol.as("label"),
      explode(col("hs")).as("h"))
    val tc = st.filter(col("doc_id") % 5 =!= 0)
      .groupBy("h")
      .agg(sum(col("label")).as("c1"), sum(lit(1L) - col("label")).as("c0"))
    val docsK = tha.filter(col("doc_id") % 5 =!= 0)
      .select(labelCol.as("label"))
      .agg(sum(col("label")).as("d1"), sum(lit(1L) - col("label")).as("d0"))
    val k = tc.agg(sum(col("c1")).as("n1"), sum(col("c0")).as("n0"),
        count(lit(1)).as("v"))
      .crossJoin(docsK)
    val term =
      log((coalesce(col("c1"), lit(0L)) + 1).cast("double") / (col("n1") + col("v"))) -
        log((coalesce(col("c0"), lit(0L)) + 1).cast("double") / (col("n0") + col("v")))
    st
      .join(broadcast(tc), Seq("h"), "left")
      .crossJoin(broadcast(k))
      .withColumn("t", term)
      .groupBy("doc_id", "label")
      .agg(sum(col("t")).as("sc"), count(lit(1)).as("n_toks"),
        first(log(col("d1").cast("double") / col("d0"))).as("prior"))
      .select(col("doc_id"), col("label"), col("n_toks"),
        T.dbl(T.dec(col("prior") + col("sc"))).as("llr"))
      .orderBy("doc_id")
  }

  /** q225's interpolated Kneser-Ney scorer over any (doc_id, hs)
    * token-hash frame (factored like [[lmScore]] so LmBloomSpec can
    * drive it on a hand-computable fixture). Train split = doc_id % 5
    * <> 0; D = 0.75; p(w2|w1) = (max(c(w1,w2)−D, 0) + D·N1+(w1,·)·
    * pc(w2)) / c(w1·), backing off to pc(w2) = (N1+(·,w2)+1)/(B+VB+1)
    * when the context is unseen. */
  private[llm] def knScore(tha: DataFrame): DataFrame = {
    val big = tha
      .select(col("doc_id"), col("hs"), posexplode(col("hs")).as(Seq("pos", "h")))
      .filter(col("pos") < size(col("hs")) - 1)
      .select(col("doc_id"), col("h").as("w1"),
        element_at(col("hs"), col("pos") + 2).as("w2"))
    // PERSIST the bigram-type table (round 22, guide §2.4/§5): c2 has
    // FOUR consumers (c1, bwd, k, and the scoring broadcast join) and
    // exchange reuse dedupes only its SHUFFLE — each consumer re-ran
    // the final count aggregate over the reused exchange (the r21
    // q133 finding; StageProf: three near-identical 32-task stages
    // re-reading the same 2.2 MB exchange, ~60% of q225's executor
    // time). c2 is bigram-TYPE-bounded — the same smallness the
    // broadcast below already relies on. Eagerly materialized: its
    // consumers' stages run concurrently under AQE and an
    // unmaterialized cache is recomputed per racer (r21 q124, 7x).
    val c2 = big.filter(col("doc_id") % 5 =!= 0)
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_b"))
      .transform(Caches.persistForQuery)
    c2.count()
    val c1 = c2.groupBy("w1")
      .agg(sum(col("n_b")).as("n_c"), count(lit(1)).as("n1f"))
    val bwd = c2.groupBy("w2").agg(count(lit(1)).as("n1b"))
    val k = c2.agg(count(lit(1)).as("b_types"))
      .crossJoin(bwd.agg(count(lit(1)).as("vb")))
    val pc = (coalesce(col("n1b"), lit(0L)) + 1).cast("double") /
      (col("b_types") + col("vb") + 1)
    val seen = -log(
      (greatest(coalesce(col("n_b"), lit(0L)).cast("double") - 0.75, lit(0.0))
        + (lit(0.75) * col("n1f")) * pc) / col("n_c"))
    big
      .join(broadcast(c1), Seq("w1"), "left")
      .join(broadcast(c2), Seq("w1", "w2"), "left")
      .join(broadcast(bwd), Seq("w2"), "left")
      .crossJoin(broadcast(k))
      .withColumn("t", when(col("n_c").isNotNull, seen).otherwise(-log(pc)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        T.dbl(T.dec(sum(col("t")) / count(lit(1)))).as("avg_nll"))
      .orderBy("doc_id")
  }

  /** q82's LM scoring over any (doc_id, hs: array<long>) token-hash
    * frame — factored out so LmBloomSpec can drive it with a
    * hand-computable fixture. Train split = doc_id % 5 <> 0. */
  private[llm] def lmScore(tha: DataFrame): DataFrame = {
    val big = bigrams(tha)
    val train = big.filter(col("doc_id") % 5 =!= 0)
    val c1 = train.groupBy("w1").agg(count(lit(1)).as("n_w1"))
    val c2 = train.groupBy("bh").agg(count(lit(1)).as("n_bh"))
    val v = tha.filter(col("doc_id") % 5 =!= 0)
      .select(explode(col("hs")).as("h"))
      .agg(countDistinct(col("h")).as("vocab"))
    big
      .join(broadcast(c1), Seq("w1"), "left")
      .join(broadcast(c2), Seq("bh"), "left")
      .crossJoin(broadcast(v))
      .withColumn("t",
        log((coalesce(col("n_w1"), lit(0L)) + col("vocab")).cast("double")
          / (coalesce(col("n_bh"), lit(0L)) + 1)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        T.dbl(T.dec(sum(col("t")) / count(lit(1)))).as("avg_nll"))
      .orderBy("doc_id")
  }

  /** q68's exact fixed-n-per-stratum pick, scale-shaped: the rank
    * window runs on [[graft.ops.KeyedTopK.prune]]'s map-side candidate
    * set (≤ k·partitions rows per lang, zero shuffle to build — the
    * [[MisraGries]] candidates-then-exact discipline generalized), so
    * it sorts candidate sets, not corpus shares, regardless of how few
    * strata exist. Input: (doc_id, lang, hk, in_10pct); output:
    * (lang, rk, doc_id, hk, in_10pct), rk ≤ k — row-identical to the
    * plain per-lang window (StratifiedPruneSpec, fixture + adversarial
    * frames). */
  private[graft] def stratifiedTopK(base: DataFrame, k: Int): DataFrame =
    graft.ops.KeyedTopK.prune(
      base.select("doc_id", "lang", "hk", "in_10pct"),
      Seq("lang"), Seq("hk" -> true, "doc_id" -> true), k)
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("hk"), col("doc_id"))))
      .filter(col("rk") <= k)
      .select("lang", "rk", "doc_id", "hk", "in_10pct")

  /** q174/q191's oracle CTE: per doc the declared `lang` and the
    * stopword-profile `best` detection (greatest hit count, first
    * profile wins ties — the exact CASE order the kernel implements). */
  // lazy: referenced from the `qs` initializer, which runs before this
  // point in declaration order — a plain val would still be null there
  private lazy val langBestCte =
    """WITH tl AS (SELECT source, lang,
      |              list_filter(string_split(lower(text), ' '), x -> x != '') AS t
      |            FROM documents),
      |b AS (SELECT source, lang,
      |  CASE greatest(
      |         len(list_filter(t, w -> w IN ('the','a','of','and','in'))),
      |         len(list_filter(t, w -> w IN ('der','die','und','das','ist'))),
      |         len(list_filter(t, w -> w IN ('el','la','y','los','que'))),
      |         len(list_filter(t, w -> w IN ('le','les','et','des','un'))))
      |    WHEN len(list_filter(t, w -> w IN ('the','a','of','and','in'))) THEN 'en'
      |    WHEN len(list_filter(t, w -> w IN ('der','die','und','das','ist'))) THEN 'de'
      |    WHEN len(list_filter(t, w -> w IN ('el','la','y','los','que'))) THEN 'es'
      |    ELSE 'fr' END AS best
      |      FROM tl)""".stripMargin

  /** q174/q191's per-doc detection frame (source, lang, best): the
    * [[graft.plans.TextKernels.langScores]] kernel scores all four
    * stopword profiles in ONE compiled pass, map-only — shared by the
    * agreement table and the kappa rollup. */
  private def langBest(s: SparkSession, dir: String): DataFrame = {
    val profiles = Seq(
      "en" -> Seq("the", "a", "of", "and", "in"),
      "de" -> Seq("der", "die", "und", "das", "ist"),
      "es" -> Seq("el", "la", "y", "los", "que"),
      "fr" -> Seq("le", "les", "et", "des", "un"))
    val sc = graft.plans.TextKernels.langScores(
      lower(col("text")), profiles.map(_._2))
    val scored = docs(s, dir)
      .select(col("source"), col("lang"), sc.as("sc"))
      .select(Seq(col("source"), col("lang")) ++ profiles.zipWithIndex.map {
        case ((l, _), i) => element_at(col("sc"), i + 1).as(s"n_$l")
      }: _*)
    val best = when(greatest(col("n_en"), col("n_de"), col("n_es"), col("n_fr")) === col("n_en"), "en")
      .when(greatest(col("n_en"), col("n_de"), col("n_es"), col("n_fr")) === col("n_de"), "de")
      .when(greatest(col("n_en"), col("n_de"), col("n_es"), col("n_fr")) === col("n_es"), "es")
      .otherwise("fr")
    scored.withColumn("best", best).select("source", "lang", "best")
  }

  /** The (source, lang, best, count) confusion matrix — ONE corpus
    * pass behind q174's agreement table and q191's kappa, persisted
    * because both (and q191's three internal rollups) read it; ≤
    * |sources|·|langs|² rows, census-bounded. */
  private def langConfusion(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Text, s, "langCm|" + dir)(
      langBest(s, dir)
        .groupBy("source", "lang", "best").agg(count(lit(1)).as("c"))
        .persist())(_.unpersist())

  /** q99's deterministic shard key: the seeded hash permutation `hv`
    * and `shard = hv % nShards`, added as columns — shared by the
    * manifest query and [[graft.sinks.Sinks.shardedExport]] so the
    * physical layout always matches the manifest. */
  private[graft] def shardKeyed(d: DataFrame, nShards: Int): DataFrame =
    d.withColumn("hv",
        (col("doc_id") * lit(TextHash.ABase) + lit(7919L)) % lit(TextHash.M))
      .withColumn("shard", (col("hv") % nShards).cast("long"))

  /** Keyed distributed running sum (q97's core; [[globalOffsets]]
    * generalized per key): INCLUSIVE prefix-sum `cumw` of `weight` in
    * `doc_id` order within each `key` group, plus the group total `W`
    * — without ever sorting a whole key through one task. Docs bucket
    * by deterministic `doc_id` ranges (width = id-range / nBuckets),
    * the in-bucket running sum is a window per (key, bucket), and the
    * exclusive bucket prefix + group total come from a SECOND window
    * over the tiny (≤ |keys| × nBuckets)-row per-bucket totals frame —
    * each of those partitions holds ≤ nBuckets rows, so no stage
    * anywhere scales with the largest key: a single 100 TB source is
    * split across nBuckets sorts exactly like q70's corpus. The totals
    * frame re-joins by broadcast (two longs per (key, bucket); at an
    * extreme key cardinality drop the hint — the shuffle join then
    * co-partitions with the window on (key, bucket) and reuses its
    * exchange). KeyedOffsetsSpec pins equivalence with the plain
    * per-key window on skewed/sparse/degenerate frames at several
    * bucket counts; PlanSpec pins q97's plan to this shape. */
  private[graft] def keyedOffsets(d: DataFrame, key: String, weight: String,
                                  nBuckets: Int): DataFrame = {
    // the max(doc_id) probe reads only that column
    val maxId = Option(d.agg(max("doc_id")).first().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val width = (maxId / nBuckets.max(1) + 1).max(1L)
    val bucketed = d.withColumn("bucket", expr(s"doc_id DIV $width"))
    val totals = bucketed.groupBy(col(key), col("bucket"))
      .agg(sum(weight).as("btot"))
    val pref = totals
      .withColumn("boff", coalesce(sum("btot").over(
        Window.partitionBy(key).orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("W", sum("btot").over(Window.partitionBy(key)))
      .select(col(key), col("bucket"), col("boff"), col("W"))
    val cum = sum(weight).over(
      Window.partitionBy(key, "bucket").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    bucketed
      .join(broadcast(pref), Seq(key, "bucket"))
      .withColumn("cumw", col("boff") + cum)
      .drop("bucket", "boff")
  }

  /** Distributed exclusive prefix-sum of `n_tokens` in `doc_id` order
    * (q70's core): per-bucket window sums over deterministic doc_id
    * ranges, plus a driver-side prefix over the ~nBuckets bucket
    * totals rebroadcast as a literal map. Equals the single-partition
    * `sum OVER (ORDER BY doc_id ROWS ... 1 PRECEDING)` for any frame
    * with non-negative unique doc_ids — PackingSpec pins the
    * equivalence on sparse/degenerate frames at several bucket counts.
    * Input: (doc_id, n_tokens); output adds `tok_offset`. */
  private[llm] def globalOffsets(d: DataFrame, nBuckets: Int): DataFrame = {
    // PERSIST the input (round 22, guide §2.4/§5): this helper runs
    // THREE sequential passes over `d` — the max(doc_id) probe, the
    // per-bucket totals collect, and the final windowed pass inside
    // the caller's plan — so an unpersisted input re-ran its whole
    // upstream chain 3x (q195/q202: the curriculum-rank pipeline;
    // q70: the token-count scan). `d` is one narrow row per doc —
    // exactly the lightweight proxy frame guide §8 says to persist
    // while heavy passes are decided; MEMORY_AND_DISK degrades to
    // disk at 100 TB doc counts. The max probe materializes the
    // cache (sequential actions — no concurrent-stage race), and the
    // running query's hook drops it. A `d` the caller already cached
    // stays the caller's: persistForQuery leaves it alone.
    val p = Caches.persistForQuery(d)
    // the max(doc_id) probe reads only that column
    val maxId = Option(p.agg(max("doc_id")).first().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val width = (maxId / nBuckets.max(1) + 1).max(1L)
    val bucketed = p.withColumn("bucket", expr(s"doc_id DIV $width"))
    // tiny: one row per bucket → exclusive prefix on the driver
    val totals = bucketed.groupBy("bucket").agg(sum("n_tokens").as("tot"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = totals.scanLeft((-1L, 0L)) { case ((_, acc), (b, t)) => (b, acc + t) }
      .sliding(2).collect { case Array((_, acc), (b, _)) => b -> acc }.toMap
    val cum = sum("n_tokens").over(
      Window.partitionBy("bucket").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    bucketed
      .withColumn("tok_offset",
        coalesce(element_at(typedLit(offsets), col("bucket")), lit(0L))
          + cum - col("n_tokens"))
      .drop("bucket")
  }

  /** q221's span frame, memoized + persisted per (session, dir) like
    * the other text-family frames: q221 reads it ordered, q223's cut
    * census folds coverage and counts over it — without the memo the
    * census re-runs the whole candidate→verify chain (the
    * simhashHamPairs lesson). Spans are bounded by duplication mass,
    * far below corpus rows. Released via [[release]]; built untimed
    * in [[prebuild]]. */
  private[llm] def spansFrame(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Text, s, "span|" + dir)(
      substringDedupSpans(docs(s, dir), SpanK).persist())(_.unpersist())

  /** Interval-union token coverage per doc over a span frame (q223):
    * spans whose gram islands sit closer than K overlap in token
    * space, so covered tokens are the union of [span_start,
    * span_start+span_len−1] intervals — the running-max-end
    * gaps-and-islands merge, windows per DOC (span counts bounded). */
  private[llm] def spanCoverage(spans: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("span_start")
    val prevEnd = max(col("span_start") + col("span_len") - 1)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    spans
      .withColumn("span_end", col("span_start") + col("span_len") - 1)
      .withColumn("brk",
        when(col("span_start") > coalesce(prevEnd, lit(-1L)) + 1, 1L).otherwise(0L))
      .withColumn("gid", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "gid")
      .agg((max("span_end") - min("span_start") + 1).as("ctoks"))
      .groupBy("doc_id")
      .agg(sum("ctoks").as("dup_toks"))
  }

  /** q221's operator body, factored on (documents, k) so
    * SubstringDedupSpec drives it against a Scala brute force on
    * adversarial fixtures. See the q221 registration comment for the
    * full semantics + scale contract. Requires (doc_id, text). */
  /** (doc_id, pos, gh): every k-window's 64-bit hash, 1-based window
    * start — the candidate stream of the whole substring family
    * (q221's seed, q233's probe/index sides). */
  private[graft] def gramHashes(documents: DataFrame, k: Int,
      rolling: Boolean = true): DataFrame =
    documents
      .select(col("doc_id"),
        posexplode(graft.plans.TextKernels.windowHashes(
          graft.plans.TextKernels.tokenHashes(lower(col("text"))), k, rolling)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("gh"))

  private[graft] def substringDedupSpans(documents: DataFrame, k: Int,
      rolling: Boolean = true): DataFrame = {
    val tl = documents.select(col("doc_id"), tokens(col("text")).as("t"))
    // in-row candidate hash stream via the COMPILED WindowHashes
    // kernel (an HOF transform+slice+concat formulation measured
    // 2.35 s cold here — CodegenFallback, the q166 trap; the kernel
    // emits n−k+1 full-window 64-bit hashes over the TokenHashes
    // stream in one codegen'd projection; the `rolling` arm choice is
    // the kernel's — see WindowHashes' scaladoc for the WindowAb
    // numbers). posexplode's 0-based array index IS window start − 1.
    val g = gramHashes(documents, k, rolling)
    val dupHash = g.groupBy("gh")
      .agg(countDistinct("doc_id").as("nd")).filter(col("nd") >= 2)
      .select("gh")
    val cand = g.join(dupHash, "gh").select("doc_id", "pos")
    // exact-text verify on candidates only (collisions die here)
    val withText = cand.join(tl, "doc_id")
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", slice(col("t"), col("pos").cast("int"), lit(k))).as("gram"))
    val dupGram = withText.groupBy("gram")
      .agg(countDistinct("doc_id").as("nd")).filter(col("nd") >= 2)
      .select("gram")
    val verified = withText.join(dupGram, "gram").select("doc_id", "pos")
    val isl = verified.withColumn("grp",
      col("pos") - row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
    val sp = isl.groupBy("doc_id", "grp")
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") - min("pos") + k).cast("long").as("span_len"))
    // UNSORTED by design (review r18): this body feeds the memoized
    // persisted [[spansFrame]], and a baked-in corpus-wide Sort would
    // be paid by every sweep's untimed family build while q221 (the
    // only ordered consumer) re-sorts anyway and q223/q224 aggregate.
    sp.join(tl, "doc_id")
      .select(col("doc_id"), col("span_start"), col("span_len"),
        md5(concat_ws(" ",
          slice(col("t"), col("span_start").cast("int"), col("span_len").cast("int")))
          .cast("binary")).as("span_md5"))
  }

  /** q233's index-side frames, memoized + persisted per (session,
    * dir): the existing-corpus (pre-delta, doc_id % 10 ≠ 0)
    * gram-occurrence table and its batch span set. At 100 TB these
    * are DISK artifacts — [[writeGramIndex]] buckets the gram table
    * by hash so the delta probe reads it bucket-aligned with zero
    * exchange (GramIndexSpec pins that plan), and the span set is
    * yesterday's q221 output — but the correctness gate has no
    * catalog, so the memo caches stand in (the q89/writeBandIndex
    * convention). Released via [[release]]; built untimed in
    * [[prebuild]]. */
  private def corpusGrams(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Text, s, "corpusGram|" + dir)(
      gramHashes(docs(s, dir).filter(col("doc_id") % 10 =!= 0), SpanK).persist())(_.unpersist())
  private def corpusSpans(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Text, s, "corpusSpan|" + dir)(
      substringDedupSpans(docs(s, dir).filter(col("doc_id") % 10 =!= 0), SpanK)
        .persist())(_.unpersist())

  /** q237's disk access path: [[writeGramIndex]]'s bucket table,
    * written once per session — the write models ingest's index build
    * (yesterday's artifact), so it lands in the untimed family
    * prebuild, and the table is a durable catalog object no release
    * hook drops (the parquet-tables convention, not the memo-frame
    * one: re-reading it each sweep IS the operator's contract). Keyed
    * on the CATALOG, not a memo map, so a dropped table (GramIndexSpec
    * cleanup) rebuilds instead of dangling; the dir-derived name keeps
    * concurrent SFs in one session apart. */
  private[graft] def gramIndexTable(s: SparkSession, dir: String): String =
    artifactTable(s, dir, "graft_gram_index_", writeGramIndex(s, dir, _))

  /** q238's second disk artifact: the persisted span set ([[writeSpanIndex]]). */
  private[graft] def spanIndexTable(s: SparkSession, dir: String): String =
    artifactTable(s, dir, "graft_span_index_", writeSpanIndex(s, dir, _))

  private def artifactTable(s: SparkSession, dir: String, prefix: String,
      write: String => Unit): String =
    synchronized {
      val name = prefix + dir.replaceAll("[^A-Za-z0-9]", "_")
      if (!s.catalog.tableExists(name)) {
        // a previous JVM's warehouse directory outlives the in-memory
        // catalog it was registered in, and saveAsTable(Overwrite)
        // only clobbers a CATALOG table (LOCATION_ALREADY_EXISTS
        // otherwise) — clear the orphaned location first
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), name)
        val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
        write(name)
      }
      name
    }

  /** The at-scale index artifact behind q233 (the [[writeBandIndex]]
    * analogue for the substring family): persist the corpus gram
    * table BUCKETED on the window hash, so a delta probe shuffles
    * only the delta's gram hashes — the (huge) index side reads
    * bucket-aligned with ZERO exchange. Append-only corpora append
    * gram rows per ingest cycle. */
  def writeGramIndex(s: SparkSession, dir: String, table: String,
                     buckets: Int = 32): Unit =
    gramHashes(docs(s, dir).filter(col("doc_id") % 10 =!= 0), SpanK)
      .write.mode("overwrite")
      .bucketBy(buckets, "gh").sortBy("gh")
      .format("parquet").saveAsTable(table)

  /** The OTHER half of the at-scale substring artifact pair (round
    * 20): yesterday's span set persisted, bucketed on doc_id — the
    * key BOTH consumers join on (the affected-doc old-position
    * explode and the final new-vs-old anti-join), so a delta cycle
    * reads it bucket-aligned. Each ingest cycle rewrites only the
    * affected docs' span rows (span sets change per-doc, never
    * per-row). */
  def writeSpanIndex(s: SparkSession, dir: String, table: String,
                     buckets: Int = 32): Unit =
    substringDedupSpans(docs(s, dir).filter(col("doc_id") % 10 =!= 0), SpanK)
      .write.mode("overwrite")
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(table)

  /** q233's operator body: the NEW duplicated spans after a delta
    * batch lands, given the pre-built corpus index (gram occurrences
    * + batch spans) — never a corpus re-scan of the candidate chain.
    *
    * Monotonicity does the heavy lifting: appending docs can only ADD
    * verified positions, never remove them, so every span change is
    * anchored at a position whose gram is shared with the delta. The
    * probe therefore touches: the delta's own grams, corpus
    * occurrences of delta gram hashes (bucket-pruned), and — for
    * island merging — the ALREADY-verified positions of affected
    * docs, reconstructed from the old span set by exploding
    * [span_start, span_start + span_len − k] (bounded by duplication
    * mass, no gram recompute). Spans rebuild per AFFECTED doc only;
    * unchanged spans (and affected docs whose spans didn't move) die
    * in the final EXCEPT against the old span set. Factored on its
    * inputs so SubstringDedupSpec pins delta ≡ from-scratch-on-union
    * on adversarial fixtures. */
  private[graft] def newSpansFromDelta(deltaDocs: DataFrame,
      corpusGrams: DataFrame, corpusSpans: DataFrame,
      corpusDocs: DataFrame, k: Int): DataFrame = {
    val tl = corpusDocs.select(col("doc_id"), tokens(col("text")).as("t"))
      .unionAll(deltaDocs.select(col("doc_id"), tokens(col("text")).as("t")))
    val dg = gramHashes(deltaDocs, k)
    val dgh = dg.select("gh").distinct()
    val probed = corpusGrams.join(dgh, "gh").select("doc_id", "pos")
    // PERSIST the three duplication-mass-bounded intermediates that
    // each feed TWO downstream consumers (round 22, VERDICT r21 item 3;
    // the r21 q124/q133 repeated-subtree pattern, guide §2.4/§5).
    // Without this the single final DAG contains `cand` twice
    // (candDocs chain + withText), `withText` twice (dupGram build +
    // verify probe) and `newVer` twice (affected + allPos) — so the
    // bucket-table probe join, the delta gram kernel and the gram-text
    // exchange each ran ~2x, and EVERY duplicate added its own AQE
    // stage rounds to exactly the driver-bound plans the r21 verdict
    // flagged (q237/q238: executors parked while the driver walks
    // 24-stage plans). Each frame is bounded by the SAME duplication-
    // mass argument the ADVICE-r19 no-broadcast-hint decision rests
    // on, and persist() (MEMORY_AND_DISK) degrades to disk, not OOM,
    // on clone-adversary corpora. Eagerly materialized (count) because
    // concurrent AQE stages racing an unmaterialized cache each
    // recompute it (r21 q124: measured 7x). Released by the running
    // query's hook (Caches.persistForQuery).
    val cand = probed.unionAll(dg.select("doc_id", "pos")).transform(Caches.persistForQuery)
    cand.count()
    // token arrays only for docs the probe touched. NO broadcast hint
    // (ADVICE r19): on high-duplication adversaries (clone100) cand
    // approaches a corpus-wide doc_id set, so a forced broadcast is a
    // driver/executor memory cliff at the 100 TB contract. AQE picks
    // broadcast when the candidate set is small (the common
    // delta ≪ corpus regime) and falls back to a shuffle join when it
    // is not — the shuffle IS the right plan there.
    val candDocs = cand.select("doc_id").distinct()
    val tlPruned = tl.join(candDocs, "doc_id")
    val withText = cand.join(tlPruned, "doc_id")
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", slice(col("t"), col("pos").cast("int"), lit(k))).as("gram"))
      .transform(Caches.persistForQuery)
    withText.count()
    // exact-text verify over the candidate UNION: a gram is duplicated
    // in corpus+delta iff >= 2 distinct docs hold its text — and every
    // union occurrence of a delta-present gram text is in `cand`
    val dupGram = withText.groupBy("gram")
      .agg(countDistinct("doc_id").as("nd")).filter(col("nd") >= 2)
      .select("gram")
    val newVer = withText.join(dupGram, "gram").select("doc_id", "pos").transform(Caches.persistForQuery)
    newVer.count()
    val affected = newVer.select("doc_id").distinct()
    // same reasoning: `affected` is duplication-mass-bounded but NOT
    // constant-bounded — AQE decides (ADVICE r19)
    val oldPos = corpusSpans.join(affected, "doc_id")
      .select(col("doc_id"), explode(sequence(col("span_start"),
        col("span_start") + col("span_len") - k)).as("pos"))
    val allPos = newVer.unionAll(oldPos).distinct()
    val isl = allPos.withColumn("grp",
      col("pos") - row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
    val sp = isl.groupBy("doc_id", "grp")
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") - min("pos") + k).cast("long").as("span_len"))
    sp.join(tlPruned, "doc_id")
      .select(col("doc_id"), col("span_start"), col("span_len"),
        md5(concat_ws(" ",
          slice(col("t"), col("span_start").cast("int"), col("span_len").cast("int")))
          .cast("binary")).as("span_md5"))
      // EXCEPT-by-construction: span rows are unique per (doc_id, grp),
      // so the anti join IS set difference — and unlike Dataset.except
      // it adds no distinct-aggregate pass over both sides
      .join(corpusSpans.select(col("doc_id"), col("span_start"),
          col("span_len"), col("span_md5")),
        Seq("doc_id", "span_start", "span_len", "span_md5"), "left_anti")
  }

  /** q205 body. Three consumers read the narrow (doc_id, source, ttr)
    * projection, and it is deliberately NOT persisted: the ADVICE-r16
    * persist landed unmeasured and made q205 a >2× board mover
    * (0.43 → 1.17 s), and the round-18 interleaved A/B (VERDICT r17
    * #1; README "Round-18 persist adjudication") measured persist
    * 0.86 s vs recompute 0.73 s median — an InMemoryRelation changes
    * the optimizer's size evidence (the q133 counter-example). */
  private[graft] def percentileNorm(s: SparkSession, dir: String): DataFrame = {
    val st = graft.plans.TextKernels.qualityStats(lower(col("text")))
    val scored = docs(s, dir)
      .select(col("doc_id"), col("source"), st.as("st"))
      .select(col("doc_id"), col("source"),
        element_at(col("st"), 1).as("nt"), element_at(col("st"), 2).as("nd"))
      .filter(col("nt") > 0)
      .select(col("doc_id"), col("source"),
        expr("(1000000 * nd) div nt").cast("long").as("ttr"))
    val h = scored.groupBy("source", "ttr").agg(count(lit(1)).as("c"))
    val below = h.withColumn("below",
      sum("c").over(Window.partitionBy("source").orderBy("ttr")) - col("c"))
    // per-source totals fold over the VALUE-BOUNDED histogram, not the
    // corpus — one fewer corpus pass in the unpersisted form (r18)
    val n = h.groupBy("source").agg(sum("c").as("n"))
    scored
      .join(below.select("source", "ttr", "below"), Seq("source", "ttr"))
      .join(broadcast(n), "source")
      .select(col("doc_id"), col("source"), col("ttr").as("ttr_micro"),
        expr("(1000 * below) div nullif(n - 1, 0)").as("pct_milli"))
      .orderBy("doc_id")
  }
}

/** Misra–Gries frequent-items summary: the per-partition candidate
  * generator for q67. Not an approximate COUNT — only the surviving
  * KEYS are used; counts are recomputed exactly downstream. */
object MisraGries {
  /** Keys surviving a capacity-`cap` Misra–Gries pass over `it` —
    * guaranteed to include every item with frequency > n/(cap+1). */
  def summarize(it: Iterator[String], cap: Int): Iterator[String] = {
    val m = new java.util.HashMap[String, Long](cap * 2)
    while (it.hasNext) {
      val w = it.next()
      val cur = m.getOrDefault(w, 0L)
      if (cur != 0L || m.size < cap) m.put(w, cur + 1L)
      else { // full and w absent: decrement all, drop zeros (w dropped too)
        val e = m.entrySet().iterator()
        while (e.hasNext) {
          val kv = e.next()
          if (kv.getValue == 1L) e.remove() else kv.setValue(kv.getValue - 1L)
        }
      }
    }
    import scala.jdk.CollectionConverters._
    m.keySet().iterator().asScala
  }
}
