package graft

import org.apache.spark.sql.SparkSession

/** Session-scoped registry of the engine's memoization caches.
  *
  * The memoized frames (parsed registry tables, token-hash/shingle/
  * LSH-pair frames, the brute-force ANN baseline) exist so that
  * queries in one FAMILY share a single materialization — but a long
  * sweep over every family (exactly what Bench and Verify run, and
  * what a long-lived service does) must not keep every family's
  * persisted frames resident forever: round 4's bench showed a 2–8×
  * diffuse slowdown from accumulated cache pressure in a single JVM.
  *
  * Each cache owner exposes `release(session)`; this object knows
  * which queries consume which family and computes, for a given sweep
  * order, the release hook to fire as soon as a family's LAST consumer
  * has run. Releasing is always safe — a later straggler consumer just
  * recomputes and re-persists.
  */
object Caches {

  // NOTE: adding a query that calls into a family's memoized frames
  // (Registry.load / LlmText.tokenHashArr-docShingles-lshPairs /
  // LlmVector.bruteTopk-pivots) requires adding its name here, or the
  // release fires before the new last consumer and its recomputed
  // frames stay resident for the rest of the sweep. Sweeps should also
  // call releaseAll at the end as a drift backstop (Bench does).
  /** (family name, consumer queries, release, untimed-build). The
    * build fn force-materializes the family's memoized frames —
    * Bench's named untimed cache-build slot (round 17, VERDICT r16
    * items 1/3): without it a sweep bills each family's build to its
    * first consumer, so that query's median measures the CACHE (q57
    * read 4.5 s on the r16 board for a 0.1 s query). The build cost
    * still lands in the artifact — per sweep, under its own name —
    * it just stops masquerading as query time. */
  private val families: Seq[(String, Set[String], SparkSession => Unit, (SparkSession, String) => Unit)] = Seq(
    ("registry", Set("q32_registry_trial", "q33_registry_flags", "q34_registry_imp",
      "q35_registry_sponsor", "q36_registry_location", "q37_registry_search_export"),
      registry.Registry.release, registry.Registry.prebuild),
    ("text", Set("q39_dedup_ngram_jaccard", "q40_dedup_minhash_sig", "q41_dedup_minhash_lsh",
      "q42_dedup_simhash", "q48_text_fingerprint", "q57_dedup_clusters",
      "q62_text_contamination", "q63_text_repetition", "q66_dedup_simhash_ham",
      "q74_chunk_sliding", "q81_decontaminate_bloom", "q82_lm_perplexity",
      "q89_dedup_incremental", "q91_dedup_cluster_sizes",
      "q100_split_leakage", "q101_bm25_topk", "q124_jaccard_prefix_join",
      "q132_dedup_containment", "q135_containment_incremental",
      "q166_lsh_recall_calib", "q167_dedup_threshold_curve",
      "q169_dedup_yield", "q172_simhash_jaccard_transfer",
      "q176_cluster_sources", "q182_soft_dedup_mass",
      "q183_cluster_cohesion", "q185_lsh_band_census",
      "q174_langid_agreement", "q191_langid_kappa", "q192_langid_prf",
      "q194_split_gram_leak", "q203_edit_verify",
      "q204_stream_decon_gate", "q206_contamination_attribution",
      "q221_substring_dedup", "q222_dedup_facade_graph",
      "q223_substring_cut_census", "q224_span_clusters",
      "q225_kn_perplexity", "q230_nb_quality_score", "q231_curation_funnel",
      "q232_refinedweb_funnel", "q233_substring_incremental",
      "q237_substring_incremental_disk",
      "q238_substring_incremental_artifacts"),
      llm.LlmText.release, llm.LlmText.prebuild),
    ("vector", Set("q43_ann_cosine_topk", "q44_ann_ivf_topk",
      "q50_dedup_embedding_cosine", "q65_dedup_embedding_blocked",
      "q83_dedup_semantic", "q105_pq_adc", "q180_srp_transfer",
      "q213_ivf_recall_calib"),
      llm.LlmVector.release, llm.LlmVector.prebuild),
    ("graph", Set("q109_pagerank", "q113_triangle_count", "q122_frequent_pairs",
      "q136_bfs_hops", "q137_item_similarity"),
      ops.Graph.release, ops.Graph.prebuild),
    ("mining", Set("q110_pmi_bigrams", "q111_fuzzy_vocab_join", "q117_split_drift",
      "q156_source_overlap", "q158_ks_split_drift", "q159_source_terms",
      "q162_bpe_pair_counts", "q165_source_w1_lengths",
      "q173_head_coverage", "q177_token_budget_fill",
      "q184_curriculum_interleave", "q187_hapax_ttr",
      "q195_step_boundaries", "q197_trimmed_length",
      "q198_oov_matrix", "q199_zipf_curve", "q200_burstiness",
      "q202_step_novelty", "q207_padding_waste", "q218_bpe_merges",
      "q219_bpe_fertility", "q227_phrase_search",
      "q228_unigram_lm", "q229_unigram_fertility",
      "q234_byte_bpe_merges", "q235_byte_bpe_fertility",
      "q236_byte_bpe_apply"),
      llm.TextMining.release, llm.TextMining.prebuild),
    // the streaming "family" owns no memoized frames (nothing to
    // prebuild) — its release drops the UUID-named memory-sink temp
    // views each run registers (round 18, VERDICT r17 item 6: the
    // in-memory face of the q204 store-leak class; every view holds a
    // full result copy in the driver for the session's life otherwise)
    ("streaming", Set("q55_stream_window", "q72_stream_static_join",
      "q86_stream_stream_join", "q149_stream_interval_outer",
      "q106_stream_topk", "q131_stream_sample", "q163_stream_mix_monitor"),
      streaming.Streams.release, (_, _) => ()))

  /** query-name → release actions to fire AFTER that query, for a
    * sweep running `order`: each family releases right after its last
    * consumer in the order. Families with no consumer present get no
    * hook (their caches are never populated in that sweep). */
  def releaseHooks(order: Seq[String]): Map[String, Seq[SparkSession => Unit]] =
    families.flatMap { case (_, consumers, rel, _) =>
      order.lastIndexWhere(consumers) match {
        case -1 => None
        case i  => Some(order(i) -> rel)
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap

  /** Run every family's untimed build whose consumer set intersects
    * `selected` (a family with no consumer in the sweep would build
    * frames no release hook ever drops), returning per-family build
    * seconds — the bench's NAMED billing slot: the cost lands in the
    * artifact's per-sweep `builds` map under each family's name
    * instead of inside its first consumer's median. Safe to call on a
    * populated cache (the memo map returns the existing frame;
    * count() re-reads the storage tier — pennies).
    *
    * FOOTPRINT TRADE (review r17): building every family up front
    * makes ALL families resident at sweep start — the peak the
    * staggered release hooks exist to bound (round 4's 2–8× diffuse
    * slowdown came from exactly that accumulation). At fixture scale
    * the peak is measured harmless (the r17 boards are the evidence);
    * a larger-SF deployment staggers instead — build each family just
    * before its FIRST consumer, still billed to this slot — which
    * keeps the hooks' bounded-resident invariant. The simple form
    * ships rather than the staggered scheduler because its measured
    * fixture cost is zero. */
  def prebuild(s: SparkSession, dir: String, selected: Set[String]): Seq[(String, Double)] =
    families.collect {
      case (name, consumers, _, build) if consumers.exists(selected) =>
        val t0 = System.nanoTime()
        build(s, dir)
        name -> (System.nanoTime() - t0) / 1e9
    }

  /** Ad-hoc persisted frames registered by operators whose plan
    * CONSTRUCTION persists an intermediate (the skyline's probe frame,
    * ADVICE r12): released alongside the named families by
    * [[releaseAll]]. Weakly bounded by construction sites — each entry
    * is a small projected frame, and re-registering after a release is
    * safe (recompute + re-persist). */
  private val adHoc = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.sql.DataFrame, java.lang.Boolean]())
  private[graft] def registerPersisted(df: org.apache.spark.sql.DataFrame): Unit =
    adHoc.add(df)

  /** Drop every cache family's state owned by `s` (end of a sweep, or
    * a service evicting a corpus snapshot). */
  def releaseAll(s: SparkSession): Unit = {
    families.foreach(_._3(s))
    val it = adHoc.iterator()
    while (it.hasNext) {
      val df = it.next()
      if (df.sparkSession eq s) { df.unpersist(blocking = false); it.remove() }
    }
  }

  /** Remove + finalize every entry of a (session, key)-keyed memo map
    * owned by `s` — the shared shape of all the engine's caches. */
  private[graft] def dropSession[V](
      m: java.util.concurrent.ConcurrentHashMap[(SparkSession, String), V],
      s: SparkSession)(un: V => Unit): Unit = {
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq s) { un(e.getValue); it.remove() }
    }
  }
}
