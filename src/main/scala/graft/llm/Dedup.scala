package graft.llm

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.functions._

/** Unified deduplication surface — the generalization SURVEY §2.4 A4
  * calls for: the reference's per-trial union-find and the corpus-scale
  * near-dup paths share one shape:
  *
  *   candidates (exact key | LSH bucket | position join)
  *     → verified pairs (exact Jaccard / cosine)
  *     → [[components]] (connected components over the pair graph)
  *     → keep one representative per cluster.
  *
  * [[components]] is iterative min-label propagation: each node adopts
  * the smallest label among itself and its neighbors until fixpoint —
  * converging in O(graph diameter) rounds. Near-dup graphs are shallow
  * (clusters are cliques-ish), so 2–4 rounds suffice; at 100 TB the
  * same loop runs with the pair table persisted and the label frame
  * checkpointed per round (the large-star/small-star optimization
  * halves rounds but the plain loop is already diameter-bounded). */
object Dedup {

  /** Exact/normalized dedup: one survivor (min id) per normalized key. */
  def exact(df: DataFrame, idCol: String, key: Column): DataFrame =
    df.select(col(idCol), key.as("key"))
      .groupBy("key")
      .agg(min(idCol).as("kept_" + idCol), count(lit(1)).as("n_copies"))

  /** Connected components over an undirected pair list: returns
    * (id, cluster_rep) for every node, rep = min id of the component.
    *
    * Lineage hygiene for the at-scale loop: EVERY round the label
    * frame's Catalyst lineage is cut by rebuilding the Dataset from
    * its materialized RDD (`createDataFrame(rdd, schema)`). persist()
    * alone truncates recompute but the LOGICAL plan still nests per
    * round and ANALYSIS cost grows ~4× a round — measured on a
    * 477-node graph: rounds of 2.3 s → 5.2 s → 26 s → 94 s, ~0.5 s
    * flat with the cut. The RDD handle is held explicitly so each
    * round's storage is unpersisted deterministically once the next
    * round materializes (localCheckpoint would store a copy the
    * Dataset API gives no handle to release). The returned frame is a
    * plain projection over the FINAL round's persisted RDD — one
    * result-sized footprint, released by the running query's hook
    * ([[graft.Caches.onRelease]]); `sym` and every intermediate are
    * freed before returning. A caller that keeps the frame longer uses
    * [[componentsHeld]] and unpersists that RDD with it. */
  def components(pairs: DataFrame, aCol: String, bCol: String,
                 maxIters: Int = 20): DataFrame = {
    val (out, last) = componentsHeld(pairs, aCol, bCol, maxIters)
    last.foreach(r => graft.Caches.onRelease(pairs.sparkSession)(r.unpersist()))
    out
  }

  /** [[components]] plus the final round's persisted RDD the frame
    * reads (None for a pair-free graph). */
  def componentsHeld(pairs: DataFrame, aCol: String, bCol: String, maxIters: Int = 20)
      : (DataFrame, Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]) = {
    val sym = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .union(pairs.select(col(bCol).as("a"), col(aCol).as("b")))
      .persist()
    var labels = sym.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .persist()
    // labels only ever decrease, so Σlbl is a strictly-monotone
    // convergence witness: one single-row aggregate per round instead
    // of a join-and-count against the previous frame. sum over an
    // EMPTY frame is a single null cell — a pair-free corpus is a
    // normal input and must yield an empty result, not an NPE.
    def lblSum(df: DataFrame): Option[Long] =
      Option(df.agg(sum("lbl")).head().getAs[java.lang.Long](0)).map(_.longValue)
    var prevSum = lblSum(labels)
    if (prevSum.isEmpty) {
      val empty = labels.select(col("id"), col("lbl").as("cluster_rep"))
      labels.unpersist(); sym.unpersist()
      return (empty, None) // empty graph: recomputing the 0-row plan is free
    }
    val session = pairs.sparkSession
    var prevRdd: Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]] = None
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val nbrMin = sym
        .join(labels.select(col("id").as("b"), col("lbl").as("nlbl")), "b")
        .groupBy("a").agg(min("nlbl").as("minNbr"))
      val stepped = labels
        .join(nbrMin.withColumnRenamed("a", "id"), Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("minNbr"), col("lbl"))).as("lbl"))
      val cut = stepped.rdd.persist()
      val next = session.createDataFrame(cut, stepped.schema)
      val s = lblSum(next) // materializes `cut`
      converged = s == prevSum
      prevSum = s
      labels.unpersist() // round 0's Dataset cache; later rounds hold RDDs
      prevRdd.foreach(_.unpersist(blocking = false))
      prevRdd = Some(cut)
      labels = next
      iter += 1
    }
    val out = labels.select(col("id"), col("lbl").as("cluster_rep"))
    labels.unpersist()
    sym.unpersist()
    (out, prevRdd)
  }

  /** Survivors after near-dup clustering: drop every non-representative
    * member of each component. */
  def dropNearDuplicates(df: DataFrame, idCol: String, pairs: DataFrame,
                         aCol: String, bCol: String): DataFrame = {
    val losers = components(pairs, aCol, bCol)
      .filter(col("id") =!= col("cluster_rep"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  // -------------------------------------------------------------------
  // The unified front door (round 17, VERDICT r16 item 5 — SURVEY
  // §2.4 A4's stated north star: "both surfaces share one
  // `dedup(cols, matchRule, mergeRule)` API"). The engine's four
  // dedup surfaces — exact key dedup (q38/q53), quality-aware
  // keep-best (q196), LSH/SimHash near-dup clustering (q41/q66 +
  // [[components]], q57), and the reference's per-group any-field
  // union-find ([[graft.registry.ImpDedup]], q34) — were four
  // separate APIs; [[dedup]] dispatches a (matchRule, mergeRule)
  // pair onto them. DedupFacadeSpec pins each dispatch ≡ its direct
  // form on the fixtures; no new query — the oracle-gated queries
  // keep calling the direct forms, the facade is the composition
  // surface a library user programs against.
  // -------------------------------------------------------------------

  /** How two rows are decided to be duplicates. */
  sealed trait MatchRule
  object MatchRule {
    /** Rows match iff `key` (any expression over the row — a column,
      * a normalization, an md5 of a token prefix) is equal: the
      * hash-dedup regime. One shuffle on the key. */
    final case class ExactKey(key: Column) extends MatchRule

    /** Rows match iff connected in `pairs` — the near-dup regime.
      * Any candidate generator plugs in: the memoized MinHash-LSH
      * verified pairs ([[nearDupLsh]]), the SimHash hamming-bucket
      * pairs ([[nearDupSimHash]]), an embedding-cosine pair list.
      * Transitivity via [[components]] (A~B, B~C ⇒ one cluster — the
      * reference's swap-delete semantics at corpus scale). */
    final case class PairGraph(pairs: DataFrame, aCol: String, bCol: String)
      extends MatchRule

    /** The reference's per-group any-field rule (SURVEY §2.4 A4):
      * within one `group` value, two entries match when ANY of
      * {trade, product, code} is non-empty-equal, transitively.
      * `seqCol` is the deterministic scan order; `listCol` an
      * `array<struct<pos, trade, product, code>>` column of entries.
      * Only pairs with [[MergeRule.FieldMerge]] (the rule set IS the
      * reference's). */
    final case class AnyFieldInGroup(group: String, seqCol: String,
        listCol: String) extends MatchRule
  }

  /** Which member survives (and how) once a cluster is known. */
  sealed trait MergeRule
  object MergeRule {
    /** Deterministic first-wins: the minimum id survives (q53's
      * ordered `dropDuplicates`, [[components]]' representative). */
    case object KeepFirst extends MergeRule

    /** Quality-aware keep-best (q196): the member maximizing `score`
      * survives; ties break to the smaller id. `score` may be a
      * struct for lexicographic multi-signal ordering, e.g.
      * `struct(quality, n_tokens)`. */
    final case class KeepBest(score: Column) extends MergeRule

    /** The reference's field merge: keep the shorter non-empty
      * trade/product, fill blanks from the duplicate
      * ([[graft.registry.ImpDedup]] verbatim semantics). */
    case object FieldMerge extends MergeRule
  }

  /** The memoized corpus MinHash-LSH match rule (q41's verified-pair
    * family) for `documents` under `dir`. */
  def nearDupLsh(s: org.apache.spark.sql.SparkSession, dir: String): MatchRule =
    MatchRule.PairGraph(LlmText.lshPairs(s, dir), "doc_a", "doc_b")

  /** The SimHash hamming-bucket match rule (q66's pair family). */
  def nearDupSimHash(s: org.apache.spark.sql.SparkSession, dir: String): MatchRule =
    MatchRule.PairGraph(LlmText.simhashHamPairs(s, dir), "doc_a", "doc_b")

  /** One dedup front door. For [[MatchRule.ExactKey]]/[[MatchRule.PairGraph]]
    * the result is the full MEMBERSHIP MAP — one row per input row:
    * (idCol, kept_id, n_members); survivors are `idCol === kept_id`,
    * losers everything else (callers filter or anti-join as q38/q57's
    * direct forms do). `idCol` must be numeric (the engine's ids are
    * longs) — KeepBest's tie-break negates it inside an argmax struct.
    * For [[MatchRule.AnyFieldInGroup]] + [[MergeRule.FieldMerge]] the
    * result is (group, merged) with the consolidated entry list —
    * field merge produces merged RECORDS, not surviving ids, exactly
    * as the reference's q34 surface does.
    *
    * Scale shapes are those of the direct forms: ExactKey = one
    * key-shuffle aggregate + a same-key join back (exchange-reusable);
    * PairGraph = the diameter-bounded [[components]] loop + one
    * rep-keyed aggregate; AnyFieldInGroup = one group-keyed
    * collect_list shuffle with bounded per-group lists, consolidated
    * as [[graft.registry.TrialMerge]] consolidates a trial's IMPs.
    * Nothing here collects, windows globally, or enumerates
    * cross-cluster pairs. */
  def dedup(df: DataFrame, idCol: String, matchRule: MatchRule,
            mergeRule: MergeRule): DataFrame = (matchRule, mergeRule) match {
    case (MatchRule.ExactKey(key), mr) if mr != MergeRule.FieldMerge =>
      val keyed = df.select(col(idCol), key.as("k"),
        (mr match {
          case MergeRule.KeepBest(s) => s
          case _ => lit(0L)
        }).as("s"))
      // a NULL key means "no key", not "matches other NULLs": those
      // rows are SINGLETONS (kept_id = own id). Without the split the
      // equi-join back would silently DROP them from the membership
      // map — neither survivor nor loser (review r17) — and a caller
      // filtering survivors would delete them.
      val nullKeyed = keyed.filter(col("k").isNull)
        .select(col(idCol), col(idCol).as("kept_id"),
          lit(1L).as("n_members"))
      keptByGroup(keyed.filter(col("k").isNotNull), idCol, "k", mr)
        .select(col(idCol), col("kept_id"), col("n_members"))
        .unionAll(nullKeyed)
    case (MatchRule.PairGraph(pairs, a, b), mr) if mr != MergeRule.FieldMerge =>
      dedupWithComponents(df, idCol,
        components(pairs, a, b).withColumnRenamed("id", idCol), mr)
    case (MatchRule.AnyFieldInGroup(group, seqCol, listCol), MergeRule.FieldMerge) =>
      val entries = transform(col(listCol), e => struct(e.getField("pos").cast("int"),
        e.getField("trade"), e.getField("product"), e.getField("code")))
      df.groupBy(group)
        .agg(collect_list(struct(col(seqCol).cast("long"), entries)).as("recs"))
        .select(col(group), GraftColumnBridge.column(graft.registry.ConsolidateImps(
          GraftColumnBridge.expression(col("recs")))).as("merged"))
    case (m, r) =>
      throw new IllegalArgumentException(
        s"unsupported dedup combination: ${m.getClass.getSimpleName} + " +
          s"${r.getClass.getSimpleName} (FieldMerge pairs only with " +
          "AnyFieldInGroup — the rule set is the reference's)")
  }

  /** The PairGraph membership map over an ALREADY-BUILT component
    * frame (id-keyed, with `cluster_rep`) — factored out (round 22)
    * so a caller holding a memoized/persisted component frame (q222:
    * the q57/q91 family cache) can skip re-running the iterative
    * [[components]] loop per evaluation; the PairGraph arm above
    * routes through here with a fresh loop. Semantics identical:
    * membership map + survivor election over `cluster_rep`. */
  private[llm] def dedupWithComponents(df: DataFrame, idCol: String,
      comp: DataFrame, mr: MergeRule): DataFrame = {
    val m = df.select(col(idCol),
        (mr match {
          case MergeRule.KeepBest(s) => s
          case _ => lit(0L)
        }).as("s"))
      .join(comp, Seq(idCol), "left")
      .select(col(idCol), col("s"),
        coalesce(col("cluster_rep"), col(idCol)).as("k"))
    keptByGroup(m, idCol, "k", mr)
      .select(col(idCol), col("kept_id"), col("n_members"))
  }

  /** Shared survivor election for the membership-map arms: per `kCol`
    * group pick min id (KeepFirst) or argmax (score, then min id)
    * (KeepBest) via a single struct-max aggregate — no per-group row
    * window (the q97 skew lesson: a hot cluster must not serialize
    * through one task; an aggregate combines map-side). */
  private def keptByGroup(m: DataFrame, idCol: String, kCol: String,
                          mr: MergeRule): DataFrame = {
    val agg = mr match {
      case MergeRule.KeepBest(_) =>
        m.groupBy(kCol).agg(
          max(struct(col("s"), (-col(idCol)).as("negid"))).as("best"),
          count(lit(1)).as("n_members"))
          .select(col(kCol), (-col("best.negid")).cast("long").as("kept_id"),
            col("n_members"))
      case _ =>
        m.groupBy(kCol).agg(min(idCol).as("kept_id"),
          count(lit(1)).as("n_members"))
    }
    m.join(agg, kCol)
  }
}
