package graft

/** Physical-plan regression pins: the properties that make these plans
  * scale-correct must stay visible in explain output — losing one is a
  * silent 100× regression at the target scale, invisible at sf0.001. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q2: filter and projection reach the parquet scan") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), "filter pushdown lost")
    assert(!p.contains("l_comment"), "column pruning lost: scan reads unused columns")
  }

  test("q3: small dims broadcast; aggregation has a map-side partial phase") {
    val p = plan("q3_join_inner_multi")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, "broadcast joins lost")
    assert(p.contains("partial_count"), "partial aggregation lost")
  }

  test("q4: fact side is pre-aggregated BEFORE the customer join") {
    val p = plan("q4_join_left")
    assert(p.contains("partial_count(o_orderkey"), "orders no longer pre-aggregated")
  }

  test("q5: semi-join chain plans as LeftSemi hash joins") {
    assert("LeftSemi".r.findAllIn(plan("q5_join_semi_chain")).size >= 2)
  }

  test("q10: top-k plans TakeOrderedAndProject, not a full sort") {
    assert(plan("q10_sort_limit_topk").contains("TakeOrderedAndProject"))
  }

  test("q41 LSH: no cartesian/nested-loop join anywhere in the plan") {
    val p = plan("q41_dedup_minhash_lsh")
    assert(!p.contains("CartesianProduct"), "LSH degenerated to all-pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), "LSH degenerated to nested loop")
  }

  test("q44 IVF: bucket assignment is a map-only projection — zero exchanges scan→bucket") {
    // the r4 formulation (crossJoin(pivots) + row_number window) shuffled
    // nlist× the corpus here; the NearestPivots expression must keep the
    // whole assignment inside one stage (mirror of the q41 no-cartesian pin)
    val p = llm.LlmVector.assignBuckets(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"bucket assignment shuffles:\n$p")
    assert(!p.contains("Join"), s"bucket assignment joins:\n$p")
  }

  test("LSH signatures: zero exchanges from documents scan to band keys (map-only kernels)") {
    // rounds 3-5 computed signatures relationally (dictionary join +
    // explode + 64 min-aggregates): three shuffles before the first
    // band key existed. The TextKernels composition must keep the
    // whole sketch inside the scan stage — at 100 TB the ONLY shuffle
    // in candidate generation is the bucket join itself.
    import org.apache.spark.sql.functions._
    import graft.plans.TextKernels
    val p = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), posexplode(TextKernels.minhashBands(
        TextKernels.shingleSet(TextKernels.tokenHashes(lower(col("text")))))))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"signature pipeline shuffles:\n$p")
    assert(!p.contains("Join"), s"signature pipeline joins:\n$p")
  }

  test("q66 SimHash-Hamming dedup: no cartesian/nested-loop join (band buckets only)") {
    val p = plan("q66_dedup_simhash_ham")
    assert(!p.contains("CartesianProduct"), "SimHash dedup degenerated to all-pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), "SimHash dedup degenerated to nested loop")
    llm.LlmText.release(spark)
  }

  test("q63 repetition / q45 langid: zero exchanges scan→result (map-only kernels)") {
    import org.apache.spark.sql.functions._
    import graft.plans.TextKernels
    val reads = Seq(
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), TextKernels.repetitionStats(
          TextKernels.tokenHashes(lower(col("text")))).as("st")),
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), TextKernels.langScores(
          lower(col("text")), Seq(Seq("the"), Seq("der"))).as("sc")))
    for (df <- reads) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"map-only kernel plan shuffles:\n$p")
      assert(!p.contains("Join"), s"map-only kernel plan joins:\n$p")
    }
  }

  test("q69 PII redaction: zero exchanges scan→redacted (pure per-row strings)") {
    val p = plan("q69_text_pii_redact")
    assert(!p.contains("Join"), s"PII redaction joins:\n$p")
    // the only permissible exchange is the final presentation sort's
    // range partitioning — the redaction itself is map-only
    assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 1,
      s"PII redaction shuffles beyond the final sort:\n$p")
  }

  test("q67 heavy hitters: candidate set broadcasts — token stream never shuffle-joins") {
    val p = plan("q67_topk_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"), "candidate filter no longer broadcast")
    assert(!p.contains("SortMergeJoin"), "token-stream shuffle join appeared")
    assert(!p.contains("CartesianProduct"))
  }

  test("q70 packing: distributed prefix-sum — no single-partition stage anywhere") {
    // the naive global running sum (Window over ORDER BY with no
    // partition) plans Exchange SinglePartition and serializes the
    // corpus through one task at 100 TB
    val p = plan("q70_pack_sequences")
    assert(!p.contains("SinglePartition"), s"packing collapsed to one partition:\n$p")
    assert(!p.contains("Join"), s"packing joins:\n$p")
  }

  test("q71 quantization: map-only — the only exchange is the final sort") {
    val p = plan("q71_embed_quantize")
    assert(!p.contains("Join"), s"quantization joins:\n$p")
    assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 1,
      s"quantization shuffles beyond the final sort:\n$p")
  }

  test("q75 mixture sampling: rate table broadcasts; corpus tokenizes at most twice") {
    val p = plan("q75_mixture_sample")
    assert(p.contains("BroadcastHashJoin"), "rate-table join no longer broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus-side shuffle join appeared")
    // the budget min is a window over the |sources|-row aggregate, not
    // a driver scalar: a first() over the unpersisted tot frame made
    // the corpus tokenize a THIRD time (r9 verdict). Two distinct
    // documents subtrees = the inherent stats pass + apply pass.
    val scans = "Scan parquet [^\\n]*documents".r.findAllIn(p).toSeq
    assert(scans.size <= 2,
      s"documents scanned ${scans.size} times (hidden recompute back?):\n$p")
  }

  test("q76 sessionization: exactly one user-keyed exchange before the final sort") {
    val p = plan("q76_sessionize")
    assert(!p.contains("Join"), s"sessionization joins:\n$p")
    // session_window agg re-sorts within user partitions but must not
    // add extra exchanges: one hashpartitioning + the presentation sort
    assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 3,
      s"sessionization exchanges exceed window+agg+sort:\n$p")
  }

  test("q77 funnel: stage joins stay user-keyed — no cartesian/nested-loop") {
    val p = plan("q77_funnel")
    assert(!p.contains("CartesianProduct"), s"funnel went all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"funnel nested-loop:\n$p")
  }

  test("q62 contamination: benchmark side broadcasts — corpus never joins big-to-big") {
    val p = plan("q62_text_contamination")
    assert(p.contains("BroadcastHashJoin"), "benchmark-shingle join no longer broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus-side shuffle join appeared")
    assert(!p.contains("CartesianProduct"))
  }

  test("q65 blocked all-pairs: block table materialized ONCE, self-join reads the cache") {
    // an unpersisted self-join re-scans and re-shuffles the corpus for
    // each side — at 100 TB that doubles the only expensive exchange.
    // Mirror the blockedPairs shape and pin that both join sides are
    // the SAME InMemoryRelation (one materialization), and that the
    // tiny block-pair join never becomes a shuffle join.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val blocks = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(pmod(col("vec_id"), lit(8)).as("g"),
        struct(col("vec_id"), col("embedding")).as("ve"))
      .groupBy("g").agg(collect_list(col("ve")).as("vs"))
      .persist()
    try {
      blocks.count()
      val joined = blocks.as("x").join(blocks.as("y"), col("x.g") <= col("y.g"))
        .select(explode(graft.plans.PairCosine.pairs(
          col("x.vs"), col("y.vs"), col("x.g") === col("y.g"), 0.45)).as("p"))
      val qe = joined.queryExecution
      val imrs = qe.optimizedPlan.collect { case r: InMemoryRelation => r }
      assert(imrs.size == 2, s"self-join does not read the cached block table:\n${qe.optimizedPlan}")
      assert(!qe.executedPlan.toString.contains("SortMergeJoin"),
        "block-pair join degenerated to a shuffle join")
    } finally blocks.unpersist()
    // and the production path is memoized end-to-end: second call is
    // the same cached frame
    assert(llm.LlmVector.blockedPairs(spark, dir) eq llm.LlmVector.blockedPairs(spark, dir))
    llm.LlmVector.release(spark)
  }

  test("q84 snapshot diff: one full-outer pk join, no nested-loop blowup") {
    val p = plan("q84_snapshot_diff")
    assert(p.contains("FullOuter"), s"snapshot diff lost its full-outer join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"snapshot diff degenerated to nested-loop:\n$p")
  }

  test("q85 SCD2: both windows share one user-keyed exchange — no join, no re-shuffle") {
    // lag (run heads) and lead (interval ends) partition by the same
    // key and order: Catalyst must plan ONE hashpartitioning(user_id)
    // exchange + the presentation sort, nothing else — a second
    // exchange between the windows re-shuffles the whole history table
    val p = plan("q85_scd2_intervals")
    assert(!p.contains("Join"), s"SCD2 interval build joins:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"SCD2 shuffles beyond user window + final sort ($exchanges):\n$p")
  }

  test("q83 semantic dedup: no cartesian, cluster triangle via the compiled kernel") {
    // assignment is the same map-only NearestPivots projection q44
    // pins; here pin the WITHIN-cluster pair stage — the self-join
    // must stay keyed on the cluster id (tiny, broadcastable), never
    // an all-pairs product, and the pair triangle runs inside the
    // pair_cosine kernel, not a relational explode-join.
    val p = plan("q83_dedup_semantic")
    assert(!p.contains("CartesianProduct"), s"semantic dedup went all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"semantic dedup nested-loop:\n$p")
    llm.LlmVector.release(spark)
  }

  test("q87 curation: stats map-only — the only exchanges are the source window + sort") {
    val p = plan("q87_corpus_curation")
    assert(!p.contains("Join"), s"curation joins:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    // docs() adds a fixture-only repartition(doc_id); window + sort = 2 more
    assert(exchanges <= 3, s"curation shuffles beyond window+sort ($exchanges):\n$p")
  }

  test("q89 incremental dedup: band probe is an equi-join — no cartesian/nested-loop") {
    val p = plan("q89_dedup_incremental")
    assert(!p.contains("CartesianProduct"), s"incremental probe went all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"incremental probe nested-loop:\n$p")
    llm.LlmText.release(spark)
  }

  test("q96 resample: every hash exchange is user-keyed — grid explode never re-shuffles alone") {
    // the grid generator (sequence+explode) must ride the user_id
    // partitioning of the span aggregate; a free-standing exchange on
    // anything not containing user_id means the horizon explode
    // re-shuffled the corpus
    val p = plan("q96_resample_ffill")
    assert(!p.contains("SinglePartition"), s"resample collapsed to one partition:\n$p")
    val keys = "hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.nonEmpty, s"resample plans no hash exchange at all:\n$p")
    assert(keys.forall(_.contains("user_id")),
      s"non-user-keyed exchange appeared: $keys\n$p")
  }

  test("q97 weighted sample: running weight never windows a whole source through one task") {
    // the scale contract: cumw comes from keyedOffsets — windows
    // partition by (source, doc_id-range bucket), and the only
    // source-alone windows run over the tiny per-bucket totals frame
    // (ordered by bucket, never doc_id). A window partitioned by
    // source alone ordering by doc_id is the full-sort-on-a-skewed-key
    // scale-killer VERDICT r8 flagged.
    val p = plan("q97_weighted_sample")
    assert(!"\\[source#\\d+\\], \\[doc_id#".r.findFirstIn(p).isDefined,
      s"per-source doc_id window reappeared:\n$p")
    assert("\\[source#\\d+, bucket#\\d+L?\\], \\[doc_id#".r.findFirstIn(p).isDefined,
      s"bucketed (source, bucket) window missing:\n$p")
    assert(p.contains("BroadcastHashJoin"), "bucket-prefix join no longer broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus-side shuffle join appeared")
    assert(!p.contains("CartesianProduct"))
  }

  test("q98 time-range frame: exactly one user-keyed hash exchange, no join") {
    val p = plan("q98_time_range_frame")
    assert(!p.contains("Join"), s"range-frame query joins:\n$p")
    val hashes = "Exchange hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashes.size == 1 && hashes.head.contains("user_id"),
      s"expected exactly one user_id exchange, got $hashes:\n$p")
  }

  test("q99 shard export: per-shard windows only — no single-partition stage") {
    val p = plan("q99_shard_export")
    assert(!p.contains("SinglePartition"), s"shard export collapsed to one partition:\n$p")
    assert(!p.contains("Join"), s"shard export joins:\n$p")
  }

  test("q100 split leakage: shares q41's LSH plan — no cartesian/nested-loop, filter only") {
    val p = plan("q100_split_leakage")
    assert(!p.contains("CartesianProduct"), "leak audit degenerated to all-pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), "leak audit degenerated to nested loop")
    llm.LlmText.release(spark)
  }

  test("q101 BM25: term stats broadcast; rank window fed by the map-side prune") {
    val p = plan("q101_bm25_topk")
    // the query table and per-term df are broadcast (tiny sides); the
    // corpus side must never reach a shuffle join or all-pairs
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"df/query-table joins not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle join appeared:\n$p")
    assert(!p.contains("CartesianProduct"))
    // per-query rank sorts KeyedTopK candidates, not corpus shares:
    // the Window node must sit downstream of (printed above) the
    // prune's MapPartitions in the root-first plan print
    val win = p.indexOf("Window")
    val prune = p.indexOf("MapPartitions")
    assert(win >= 0 && prune >= 0 && win < prune,
      s"rank window is not fed by the KeyedTopK prune:\n$p")
    // the corpus tokenizes ONCE into the persisted posting projection;
    // both the N/Σdl scalars and the tf pass read that cache — a
    // second tokenizing scan doubles index-build cost (r9 verdict)
    val scans = "FileScan parquet \\[doc_id#\\d+L,text#\\d+\\]"
      .r.findAllIn(p).toSeq.distinct
    assert(scans.size <= 1,
      s"documents tokenized by ${scans.size} distinct subtrees:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"tf pass not fed by the persisted posting projection:\n$p")
    llm.LlmText.release(spark)
  }

  test("q102 media metadata: scan never reads the payload column") {
    // the multimodal storage contract: metadata queries cost the same
    // whether payloads are stubs or 10 MB videos — parquet column
    // pruning must drop `payload` from the staged table's ReadSchema
    val p = plan("q102_media_meta_prune")
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(read.nonEmpty, s"no parquet ReadSchema in plan:\n$p")
    assert(!read.contains("payload"), s"payload bytes read by a metadata query: $read")
    assert(read.contains("mime") && read.contains("byte_len"),
      s"metadata columns missing from scan: $read")
  }

  test("q103 media features: map-only scan→features — only the final sort exchanges") {
    val p = plan("q103_media_byte_stats")
    assert(!p.contains("Exchange hashpartitioning"),
      s"feature extraction re-shuffled the media table:\n$p")
    assert(p.contains("MapPartitions"), s"batched feature path missing:\n$p")
  }

  test("q129 mixed decode: map-only — payload bytes never cross an exchange") {
    // the quarantine decode must keep the 100 TB shape of q128/q103:
    // scan → batched total-decode, with only the presentation sort
    // exchanging 6 scalar columns — a hash exchange anywhere means
    // payload bytes shuffled
    val p = plan("q129_media_mixed_quarantine")
    assert(!p.contains("Exchange hashpartitioning"),
      s"quarantine decode re-shuffled payload bytes:\n$p")
    assert(p.contains("MapPartitions"), s"batched decode path missing:\n$p")
  }

  test("q104 quantile sketch: the rank-verification join broadcasts the sketch table") {
    val p = plan("q104_quantile_sketch")
    assert(p.contains("BroadcastHashJoin"), s"sketch table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"events shuffled to join a 5-row sketch frame:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"rank counts lost map-side partial aggregation:\n$p")
  }

  test("q105 PQ: encode+score map-only; shortlist and grading joins all broadcast") {
    val p = plan("q105_pq_adc")
    // the corpus pass: scan → pq_encode/adc_score native kernels →
    // KeyedTopK MapPartitions with NO exchange in between (the pass
    // that scans 100 TB touches only codes, and the kernels stay in
    // the scan's generated stage)
    assert(p.contains("pq_encode") && p.contains("adc_score"),
      s"native PQ kernels missing from the corpus pass:\n$p")
    val prune = p.indexOf("MapPartitions")
    val scan = p.indexOf("FileScan", prune)
    assert(prune >= 0 && scan > prune &&
      !p.substring(prune, scan).contains("Exchange"),
      s"exchange crept between the corpus scan and the encode/prune pass:\n$p")
    // shortlist + grading sides are bounded — every join broadcasts
    assert(!p.contains("SortMergeJoin"), s"shuffle join on a bounded side:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"shortlist/grading joins not broadcast:\n$p")
    llm.LlmVector.release(spark)
  }

  test("registry merge: exactly one exchange keyed by eudract_id for the trial fold") {
    // TrialMerge.merge directly: Registry.load memoizes + persists, which
    // would show an InMemoryTableScan instead of the raw plan
    val p = registry.TrialMerge
      .merge(spark, registry.SyntheticCorpus.ensure())
      .drop("imps", "sponsors", "locations")
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning\\(eudract_id".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 eudract_id exchange, got $exchanges:\n$p")
  }

  test("q108 profile: one scan, no join; distinct-count keeps the two-level shape") {
    // the one-scan-per-table contract: k per-column profiles must not
    // plan k scans, and the exact distinct agg must keep its partial
    // (col_name, value) level so the final shuffle carries Σ distinct
    // values, not rows × columns
    val p = plan("q108_profile_stats")
    assert(!p.contains("Join"), s"profile joins:\n$p")
    assert("FileScan".r.findAllIn(p).size == 1,
      s"profile scans the table more than once:\n$p")
    assert("partial_count\\(distinct v#\\d+\\)".r.findFirstIn(p).isDefined,
      s"two-level distinct aggregation lost:\n$p")
  }

  test("q109 pagerank: iterations read the cached edge frame — one lineitem scan subtree") {
    // iterative-graph contract: without the pair/edge persists this
    // exact query planned 16 lineitem scans for 3 iterations (AQE
    // exchange reuse recovered only 9). Every lineitem FileScan in the
    // plan must be the SAME canonical subtree (the one cached build,
    // printed under each InMemoryTableScan), and the cache must be in
    // the per-iteration path.
    val p = plan("q109_pagerank")
    val scans = "FileScan parquet \\[l_orderkey#\\d+L,l_suppkey#\\d+L\\]"
      .r.findAllIn(p).toSeq.distinct
    assert(scans.size == 1,
      s"lineitem scanned by ${scans.size} distinct subtrees: $scans\n$p")
    assert(p.contains("InMemoryTableScan"), s"edge frame not cached:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "top-30 lost its heap form")
    assert(!p.contains("CartesianProduct"))
  }

  test("q110 PMI: corpus scanned once outside the vocab cache; unigrams broadcast; top-k") {
    val p = plan("q110_pmi_bigrams")
    // bigram path = the only direct documents scan; both unigram sides
    // come from the memoized vocab frame
    val direct = "FileScan parquet \\[doc_id#\\d+L,text#\\d+\\]"
      .r.findAllIn(p).toSeq.distinct
    assert(direct.size <= 2,
      s"documents scanned by ${direct.size} distinct subtrees (vocab cache lost?): $direct\n$p")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"vocab not read from cache on both join sides:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"unigram joins not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "top-50 lost its heap form")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q111 fuzzy join: equi-join on the length block key — never a nested loop") {
    // the blocking contract: the non-equi |len_a-len_b|<=1 oracle form
    // would plan BroadcastNestedLoopJoin (levenshtein against every
    // vocab row); the length-band expansion makes it a hash join with
    // the levenshtein as residual
    val p = plan("q111_fuzzy_vocab_join")
    assert("BroadcastHashJoin \\[blk#\\d+\\]".r.findFirstIn(p).isDefined,
      s"block-key hash join missing:\n$p")
    assert(p.contains("levenshtein"), "residual edit-distance filter lost")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join degenerated to nested loop:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("InMemoryTableScan"),
      s"vocab not shared from the memoized frame:\n$p")
    llm.TextMining.release(spark)
    ops.Graph.release(spark)
  }

  test("q112 split assign: map-only assignment — no join, one aggregate exchange") {
    val p = plan("q112_split_assign")
    assert(!p.contains("Join"), s"split assignment joins:\n$p")
    assert("FileScan".r.findAllIn(p).size == 1,
      s"split assignment scans more than once:\n$p")
    assert(p.contains("partial_count"), "verification aggregate lost map-side partials")
  }

  test("q113 triangles: cached graph frames, bloom-pruned closing join, no cartesian") {
    // the two scale contracts: (1) the pair/oriented frames are cached
    // — every lineitem FileScan in the plan is the same canonical
    // cached-build subtree; (2) wedge candidates are bloom-pruned
    // map-side BEFORE the closing shuffle (the q81 broadcast-sketch
    // discipline — losing the filter re-shuffles the full wedge set)
    val p = plan("q113_triangle_count")
    val scans = "FileScan parquet \\[l_orderkey#\\d+L,l_partkey#\\d+L\\]"
      .r.findAllIn(p).toSeq.distinct
    assert(scans.size <= 1,
      s"lineitem scanned by ${scans.size} distinct subtrees: $scans\n$p")
    assert(p.contains("InMemoryTableScan"), s"graph frames not cached:\n$p")
    assert(p.contains("bloom_count_contains"),
      s"closing-edge bloom prune lost:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "top-30 lost its heap form")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    ops.Graph.release(spark)
  }

  test("q114 transitions: single events pass — one user-keyed exchange, no join") {
    // the per-from totals must come from a window over the tiny count
    // frame; the join formulation planned the events window pass twice
    val p = plan("q114_markov_transitions")
    assert(!p.contains("Join"), s"transition totals joined (double events pass):\n$p")
    val users = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(users == 1, s"expected exactly one user_id exchange, got $users:\n$p")
    assert(p.contains("partial_count"), "pair counts lost map-side partials")
  }

  test("q115 OLS: one aggregate pass — moments pre-combine map-side, no join") {
    val p = plan("q115_ols_trend")
    assert(!p.contains("Join"), s"trend regression joins:\n$p")
    assert("FileScan".r.findAllIn(p).size == 1,
      s"regression scans events more than once:\n$p")
    assert(p.contains("partial_sum"), "moment sums lost map-side partials")
  }

  test("q116 concentration: one corpus exchange; the global window runs over the aggregate") {
    // the cumulative window's single-partition stage must consume the
    // |sources|-row aggregate, never corpus rows: in the root-first
    // print it sits ABOVE the source-keyed exchange
    val p = plan("q116_source_concentration")
    assert(!p.contains("Join"), s"concentration joins:\n$p")
    val corpus = "Exchange hashpartitioning\\([^)]*\\), ENSURE_REQUIREMENTS"
      .r.findAllIn(p).size
    assert(corpus == 1, s"expected one corpus-side hash exchange, got $corpus:\n$p")
    val sp = p.indexOf("SinglePartition")
    val agg = p.indexOf("Exchange hashpartitioning(source")
    assert(sp >= 0 && agg > sp,
      s"single-partition stage not downstream of the source aggregate:\n$p")
  }

  test("q117 drift: totals are cardinality-placed — no split-keyed or global window") {
    // r9's weak item: ns/nt as windows over the (split, word) count
    // frame put 3·|vocab| rows (corpus-derived cardinality at 100 TB)
    // onto 3 partitions / 1 partition. The only window allowed is the
    // per-WORD total (|vocab| keys, parallel); split totals must
    // arrive as a broadcast-joined second-level aggregate and the
    // grand total as a scalar off the PERSISTED count frame.
    val p = plan("q117_split_drift")
    assert("windowspecdefinition\\(w#\\d+".r.findFirstIn(p).isDefined,
      s"per-word window lost:\n$p")
    assert("windowspecdefinition\\(split#".r.findFirstIn(p).isEmpty,
      s"split-keyed window back — 3-partition stage at scale:\n$p")
    assert(!p.contains("SinglePartition"),
      s"unpartitioned window/exchange back — one-task stage at scale:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"split-totals join not broadcast:\n$p")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"count frame not read from cache on both consumers:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "top-40 lost its heap form")
    llm.TextMining.release(spark)
  }

  test("q118 FK audit: per-edge left joins stay hash/broadcast with partial conditional aggs") {
    val p = plan("q118_fk_audit")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"FK probe degenerated to nested loop:\n$p")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      s"audit counts lost map-side partials:\n$p")
  }

  test("q119 quality sweep: one corpus pass — kernel + threshold explode, no join") {
    val p = plan("q119_quality_sweep")
    assert(!p.contains("Join"), s"threshold sweep joins (per-threshold scans):\n$p")
    val corpus = "Exchange hashpartitioning\\([^)]*\\), ENSURE_REQUIREMENTS"
      .r.findAllIn(p).size
    assert(corpus == 1, s"expected one exchange, got $corpus:\n$p")
    assert(p.contains("quality_stats") || p.contains("Generate explode"),
      s"kernel/explode pass missing:\n$p")
  }

  test("q120 block diff: only block summaries reach the join — both sides pre-aggregate") {
    // the diff of two 100 TB snapshots must exchange |blocks| rows:
    // each side's count+fp aggregate keeps a map-side partial phase,
    // and the full-outer join runs on the block key
    val p = plan("q120_block_diff")
    assert("partial_count".r.findAllIn(p).size >= 2 &&
      "partial_sum".r.findAllIn(p).size >= 2,
      s"block summaries lost map-side partials:\n$p")
    assert(p.contains("FullOuter"), s"snapshot join lost its full-outer form:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q121 CDC apply: last-writer-wins is ONE aggregate — no join, partial max") {
    // the fold must be a single hash aggregate over the base+delta
    // union (struct-argmax with map-side partials); a join-based
    // formulation would shuffle base rows once per delta batch
    val p = plan("q121_cdc_apply")
    assert(!p.contains("Join"), s"CDC fold joins:\n$p")
    assert("partial_max".r.findAllIn(p).nonEmpty,
      s"struct-argmax lost its partial phase:\n$p")
    val aggs = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size
    assert(aggs == 1, s"expected one doc_id exchange, got $aggs:\n$p")
  }

  test("q122 frequent pairs: top-30 heap over the ONE shared support cache") {
    // round 14: the support frame is the part-graph family's persisted
    // pairSupport — the plan must read the cache (or, at fill time,
    // exactly one lineitem subtree) and keep the heap form; the
    // support agg itself (partials, map-side explode) is pinned at
    // the cache-build site shared with q113/q137
    val p = plan("q122_frequent_pairs")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"pair mining grew a data-scale join:\n$p")
    assert("FileScan".r.findAllIn(p).size <= 1,
      s"basket mining scans lineitem more than once:\n$p")
    assert(p.contains("InMemoryTableScan") || p.contains("partial_count"),
      s"support frame neither cached nor partial-aggregated:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "top-30 lost its heap form")
    ops.Graph.release(spark)
  }

  test("q124 prefix join: class-keyed rank windows only, no cartesian/nested-loop") {
    // the exact similarity join must never fall back to all-pairs: the
    // candidate self-join is an equi-join on the prefix shingle, the
    // ranking windows partition on the shingle-class key (|classes|-way
    // parallel — the clone-collapse shape), and no unpartitioned
    // window exists anywhere
    val p = plan("q124_jaccard_prefix_join")
    assert(!p.contains("CartesianProduct"), s"prefix join degenerated to all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"prefix join nested-loop:\n$p")
    assert("windowspecdefinition\\(cid#\\d+".r.findFirstIn(p).isDefined,
      s"class-keyed rank window lost:\n$p")
    assert(!p.contains("SinglePartition"),
      s"global window/exchange appeared in the similarity join:\n$p")
    // r11: the df attach is salted (q61 machinery) — the hot
    // boilerplate-shingle fanout spreads across 16 reducers instead
    // of one; the salt must appear in the join keys, not as a
    // post-join filter
    assert(p.contains("__salt"), s"df-attach join lost its salt:\n$p")
    llm.LlmText.release(spark)
  }

  test("q125 interval islands: ONE customer-keyed exchange serves windows and both rollups") {
    // the gaps-and-islands chain must reuse its partitioning end to
    // end: two windows on (c | sd, k), the (c, island) aggregate, and
    // the per-customer rollup all sit on the same hash exchange;
    // top-30 is a heap, not a global sort
    val p = plan("q125_interval_islands")
    assert(!p.contains("Join"), s"island merge joins:\n$p")
    val ex = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(ex == 1, s"expected one customer-keyed exchange, got $ex:\n$p")
    assert(!p.contains("SinglePartition"), s"global stage in island merge:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "top-30 lost its heap form")
  }

  test("q126 count-min: sketch merge is a partial agg; est lookup broadcasts the sketch") {
    // mergeability IS the partial-agg phase (per-partition maps
    // pre-combine to ≤ d·w cells before one exchange); the 4096-row
    // sketch and the 4-row hash family broadcast — the corpus never
    // shuffles for the lookup; top-20 is a heap
    val p = plan("q126_countmin_sketch")
    assert(p.contains("partial_count"), s"sketch lost its map-side partials:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"sketch lookup not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled to join the 4096-row sketch:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "top-20 lost its heap form")
    assert(!p.contains("CartesianProduct"))
  }

  test("q127 skyline: bound table broadcasts; the exact pass runs post-prune") {
    // the quadratic dominance test must never appear: the ≤|sizes|-row
    // bound table broadcast-joins for the map-side prune, and the
    // exact pass's global window consumes only the pruned candidate
    // band (its SinglePartition stage sits above the broadcast prune
    // in the root-first print, never directly over the scan)
    val p = plan("q127_skyline")
    assert(p.contains("BroadcastHashJoin"), s"prune bound not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"skyline degenerated to all-pairs:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled against the bound table:\n$p")
    val sp = p.indexOf("SinglePartition")
    val bhj = p.indexOf("BroadcastHashJoin")
    assert(sp >= 0 && bhj > sp,
      s"exact-pass window not downstream of the broadcast prune:\n$p")
  }

  test("q123 minmax norm: stats broadcast back, apply stays map-only — no corpus window") {
    // the deliberate two-pass shape: a per-type WINDOW would shuffle
    // the corpus onto |types| partitions; the stats frame must
    // broadcast and the apply side must not exchange
    val p = plan("q123_minmax_norm")
    assert(p.contains("BroadcastHashJoin"), s"stats frame not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled to join 5 stats rows:\n$p")
    assert(!p.contains("Window"), s"per-type corpus window appeared:\n$p")
    assert(p.contains("partial_min") && p.contains("partial_max"),
      s"stats pass lost map-side partials:\n$p")
  }

  test("q136 BFS: rounds read the cached edge frame — one lineitem scan subtree") {
    // same invariant as q109: iterative relaxation must NOT re-derive
    // the graph per round; the edge side is the persisted frame
    val p = plan("q136_bfs_hops")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3,
      s"rounds no longer read the cached edge frame:\n$p")
    val scans = "FileScan parquet \\[l_orderkey#\\d+L,l_suppkey#\\d+L\\]"
      .r.findAllIn(p).toSeq.distinct
    assert(scans.size <= 1,
      s"BFS re-scans the fact table per round: $scans\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q137 item similarity: seeds broadcast-prune before the rank window") {
    // the window must see only seed candidates — a window over the
    // full pair table is the 100 TB cliff
    val p = plan("q137_item_similarity")
    assert(p.contains("BroadcastHashJoin"), s"seed prune not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair build degenerated:\n$p")
    // the rank window sits ABOVE the broadcast seed join in the tree
    val wIdx = p.indexOf("Window")
    val bIdx = p.indexOf("BroadcastHashJoin")
    assert(wIdx >= 0 && bIdx > wIdx,
      s"rank window does not run on the broadcast-pruned side:\n$p")
  }

  test("q138 AUC: rank window runs over the aggregate, never data rows") {
    // q116 discipline: the (source, score) hash agg must sit BELOW the
    // window — the textbook global sort-and-rank over documents rows
    // must never appear
    val p = plan("q138_auc_ranksum")
    val wIdx = p.indexOf("Window")
    assert(wIdx >= 0, s"rank window missing:\n$p")
    val below = p.substring(wIdx)
    assert(below.contains("partial_count") || below.contains("HashAggregate"),
      s"window no longer runs over the (source, score) aggregate:\n$p")
    assert(!p.contains("Join"), s"AUC grew a join:\n$p")
  }

  test("q139 histogram: bounds broadcast back, apply map-only, nothing sorts but the output") {
    val p = plan("q139_histogram")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"1-row bounds frame not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"bounds join shuffled the column:\n$p")
    assert(p.contains("partial_min") && p.contains("partial_max"),
      s"bounds pass lost map-side partials:\n$p")
    assert("Sort ".r.findAllIn(p).size <= 1, s"extra sort appeared:\n$p")
  }

  test("q140 sigma outliers: the q123 broadcast-apply shape — no corpus window") {
    val p = plan("q140_sigma_outliers")
    assert(p.contains("BroadcastHashJoin"), s"moments frame not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled to join |types| rows:\n$p")
    assert(!p.contains("Window"), s"per-type corpus window appeared:\n$p")
    assert(p.contains("partial_sum"), s"moments pass lost map-side partials:\n$p")
  }

  test("q144 KMV: three bottom-k sketch heaps; assembly is all-broadcast") {
    // each sketch must be a TakeOrderedAndProject (per-partition
    // bottom-k heaps = the KMV merge property); the final row is
    // crossJoins of broadcast 1-row frames — nothing corpus-scale
    // shuffles for the algebra
    val p = plan("q144_kmv_overlap")
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 3,
      s"sketches lost their bottom-k heap form:\n$p")
    assert(!p.contains("CartesianProduct"), s"non-broadcast cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a 256-row sketch op shuffled as a data-scale join:\n$p")
  }

  test("q141 quantile bins: rank window above the domain aggregate, one scan") {
    // the single-partition window must sit downstream of the ≤|domain|-
    // row aggregate — a global window over data rows is the cliff this
    // operator's bounded-domain contract exists to avoid
    val p = plan("q141_quantile_bins")
    val wIdx = p.indexOf("Window")
    assert(wIdx >= 0 && p.substring(wIdx).contains("HashAggregate"),
      s"rank window no longer runs over the (value, count) aggregate:\n$p")
    assert("FileScan".r.findAllIn(p).size == 1,
      s"total-N rides the window — a second scan subtree crept back:\n$p")
    assert(!p.contains("Join"), s"quantile binning grew a join:\n$p")
  }

  test("q142 trigrams: one user-keyed window pass, no join, top-k heap") {
    val p = plan("q142_trigram_paths")
    assert(!p.contains("Join"), s"trigram mining grew a join:\n$p")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"user window no longer a single exchange:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "top-20 lost its heap form")
  }

  test("q143 media dedup: digest map-side — payload never crosses an exchange") {
    val p = plan("q143_media_dedup_manifest")
    val ex = p.indexOf("Exchange")
    assert(ex >= 0, s"no exchange at all?\n$p")
    assert(!p.substring(0, ex).contains("payload"),
      s"payload column survives past the digest projection:\n$p")
    assert(p.contains("partial_count"), "digest census lost map-side partials")
    assert(p.contains("TakeOrderedAndProject"), "top-20 lost its heap form")
  }

  test("q148 interval-point: bucket equi-join, never the theta-join nested loop") {
    val p = plan("q148_interval_point_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval-point join degenerated to the |A|*|B| theta plan:\n$p")
    assert(p.contains("partial_count"), "incident rollup lost map-side partials")
  }

  test("q154 overlap verify: candidate In() prunes at the parquet scan, no cartesian") {
    val p = plan("q154_overlap_verify")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"verify stage degenerated to an all-pairs plan:\n$p")
    // the ≤2k candidate doc ids must reach the READER as a pushed In
    // filter — the property that keeps the verify stage reading only
    // candidate documents at corpus scale (the pre-r15 form exploded
    // the whole corpus's trigrams twice behind a broadcast prune)
    assert(p.contains("PushedFilters: [In(doc_id"),
      s"candidate prune no longer reaches the parquet scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"tiny candidate-side joins degenerated to shuffle joins:\n$p")
  }

  test("q156 source overlap: both consumers read ONE cached gram frame; totals join by broadcast") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val qe = SparkEntry.queries("q156_source_overlap")(spark, dir).queryExecution
    try {
      // the per-trigram source-set frame is persisted and read by BOTH
      // the pair matrix and the per-source totals — an unpersisted
      // plan re-runs the corpus explode+shuffle once per consumer
      val imrs = qe.optimizedPlan.collect { case r: InMemoryRelation => r }
      assert(imrs.size >= 2, s"a consumer lost the cached gram frame:\n${qe.optimizedPlan}")
      assert(imrs.map(_.cacheBuilder.cachedPlan).distinct.size == 1,
        "consumers materialize DIFFERENT gram frames instead of sharing one")
      val p = qe.executedPlan.toString
      assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
        s"a |sources|-row totals join degenerated to a shuffle join:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"pair matrix grew a shuffle/cartesian join:\n$p")
    } finally llm.TextMining.release(spark)
  }

  test("q157 embed outliers: top-3 rank collapses to WindowGroupLimit; centroids broadcast") {
    val p = plan("q157_embed_outliers")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=3 filter no longer pushes a per-partition group limit:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"|labels|-row centroid join degenerated to a shuffle join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan grew a shuffle join:\n$p")
    // exactly two corpus passes — the centroid reduction and the
    // distance projection; anything more means a lost reuse
    assert("Scan parquet".r.findAllIn(p).size == 2,
      s"embeddings scanned more than twice:\n$p")
    assert(p.contains("partial_count"), "centroid reduction lost map-side partials")
  }

  test("q158 KS drift: totals and ECDF share ONE cached count frame; all joins broadcast") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val qe = SparkEntry.queries("q158_ks_split_drift")(spark, dir).queryExecution
    try {
      val imrs = qe.optimizedPlan.collect { case r: InMemoryRelation => r }
      assert(imrs.size >= 2, s"a consumer lost the cached (split,len) frame:\n${qe.optimizedPlan}")
      assert(imrs.map(_.cacheBuilder.cachedPlan).distinct.size == 1,
        "consumers materialize DIFFERENT count frames instead of sharing one")
      val p = qe.executedPlan.toString
      assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
        s"membership/totals joins degenerated to shuffle joins:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"KS plan grew a shuffle/cartesian join:\n$p")
    } finally llm.TextMining.release(spark)
  }

  test("q159 source terms: cached counts shared; top-5 collapses to WindowGroupLimit") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val qe = SparkEntry.queries("q159_source_terms")(spark, dir).queryExecution
    try {
      val imrs = qe.optimizedPlan.collect { case r: InMemoryRelation => r }
      // the (source,term) frame feeds totals + scoring; vocab is its
      // own (q110-shared) cache — at most two DISTINCT materializations
      assert(imrs.size >= 3, s"a consumer lost its cached frame:\n${qe.optimizedPlan}")
      assert(imrs.map(_.cacheBuilder.cachedPlan).distinct.size <= 2,
        "more than the two expected cached frames (source-term + vocab)")
      val p = qe.executedPlan.toString
      assert(p.contains("WindowGroupLimit"),
        s"rank<=5 filter no longer pushes a per-partition group limit:\n$p")
      assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
        s"vocab/totals joins degenerated to shuffle joins:\n$p")
      assert(!p.contains("SortMergeJoin"), s"plan grew a shuffle join:\n$p")
    } finally llm.TextMining.release(spark)
  }

  test("q160 quality blend: broadcast decile lookups, heap top-k, shared histogram cache") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val qe = SparkEntry.queries("q160_quality_blend")(spark, dir).queryExecution
    try {
      val imrs = qe.optimizedPlan.collect { case r: InMemoryRelation => r }
      assert(imrs.size >= 3, s"a decile lookup lost the cached histogram:\n${qe.optimizedPlan}")
      assert(imrs.map(_.cacheBuilder.cachedPlan).distinct.size == 1,
        "lookups materialize DIFFERENT histogram frames instead of sharing one")
      val p = qe.executedPlan.toString
      assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
        s"a value-bounded decile lookup degenerated to a shuffle join:\n$p")
      assert(p.contains("TakeOrderedAndProject"),
        s"top-20 became a global sort:\n$p")
      assert(!p.contains("SortMergeJoin"), s"plan grew a shuffle join:\n$p")
    } finally graft.Caches.releaseAll(spark)
  }

  test("q161 source centroid matrix: one id join, pair stage join-free") {
    val p = plan("q161_source_centroid_dist")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"pairwise matrix degenerated to an all-pairs join:\n$p")
    // the documents⋈embeddings id join is the ONE join in the plan —
    // the pairwise matrix must come from the single-row pair explode,
    // never a centroid self-join
    assert("Join".r.findAllIn(p).size == 1,
      s"expected exactly the id join; pair stage grew a join:\n$p")
    assert(p.contains("partial_count"), "centroid reduction lost map-side partials")
  }

  test("q162 BPE pairs: counts read the cached vocab, heap top-k, map-side partials") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val qe = SparkEntry.queries("q162_bpe_pair_counts")(spark, dir).queryExecution
    try {
      // the pair census must count over the memoized DISTINCT-WORD
      // frequency frame (Heaps-bounded), never the raw corpus
      val imrs = qe.optimizedPlan.collect { case r: InMemoryRelation => r }
      assert(imrs.size == 1, s"pair census no longer reads the cached vocab:\n${qe.optimizedPlan}")
      val p = qe.executedPlan.toString
      assert(p.contains("TakeOrderedAndProject"), s"top-20 became a global sort:\n$p")
      assert(p.contains("partial_sum"), "pair census lost map-side partials")
      assert(!p.contains("Join"), s"pair census grew a join:\n$p")
    } finally llm.TextMining.release(spark)
  }

  test("q155 mix weights: ONE corpus scan, totals via the bounded window, no join") {
    val p = plan("q155_mix_weights")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"totals grew a second corpus scan:\n$p")
    assert(!p.contains("Join"), s"mix weights grew a join:\n$p")
    assert(p.contains("Window"), "totals no longer the aggregate-bounded window")
    assert(p.contains("partial_count"), "source rollup lost map-side partials")
  }

  test("q165 W1 matrix: ONE cached histogram shared by totals+pairs+ECDF; joins broadcast") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val qe = SparkEntry.queries("q165_source_w1_lengths")(spark, dir).queryExecution
    try {
      val imrs = qe.optimizedPlan.collect { case r: InMemoryRelation => r }
      assert(imrs.size >= 2, s"a consumer lost the cached (source,len) frame:\n${qe.optimizedPlan}")
      assert(imrs.map(_.cacheBuilder.cachedPlan).distinct.size == 1,
        "consumers materialize DIFFERENT histogram frames instead of sharing one")
      val p = qe.executedPlan.toString
      assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
        s"membership/totals joins degenerated to shuffle joins:\n$p")
      // the one nested loop is the |sources|² ordered-pair build over
      // a broadcast |sources|-row frame — bounded by construction
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1 &&
        !p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
        s"W1 plan grew an unbounded join:\n$p")
    } finally llm.TextMining.release(spark)
  }

  test("q166 calibration: pairs read the memoized verified-pair cache; no cartesian") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val qe = SparkEntry.queries("q166_lsh_recall_calib")(spark, dir).queryExecution
    try {
      val imrs = qe.optimizedPlan.collect { case r: InMemoryRelation => r }
      assert(imrs.nonEmpty, s"calibration no longer reads the cached pair frame:\n${qe.optimizedPlan}")
      val p = qe.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"calibration grew a cartesian:\n$p")
      assert(p.contains("partial_count"), "decile rollup lost map-side partials")
    } finally llm.LlmText.release(spark)
  }

  test("q167 threshold curve: reads ONLY the cached pair frame; the fan is a bounded broadcast loop") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val qe = SparkEntry.queries("q167_dedup_threshold_curve")(spark, dir).queryExecution
    try {
      val imrs = qe.optimizedPlan.collect { case r: InMemoryRelation => r }
      assert(imrs.size >= 2, s"a consumer lost the cached pair frame:\n${qe.optimizedPlan}")
      assert(imrs.map(_.cacheBuilder.cachedPlan).distinct.size == 1,
        "np and nd read DIFFERENT pair frames instead of sharing the cache")
      val p = qe.executedPlan.toString
      // the 6-row threshold literal fans via nested loop against a
      // broadcast — bounded; anything shuffle-shaped here is a bug
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2 &&
        !p.contains("CartesianProduct"), s"threshold fan degenerated:\n$p")
    } finally llm.LlmText.release(spark)
  }

  test("q168 growth curve: ONE vocab-bounded shuffle with partial min; no rank map") {
    val p = plan("q168_vocab_growth")
    assert(p.contains("partial_min"), "gram min-decile fold lost map-side partials")
    // deciles come from two broadcast scalars, never a corpus rank map
    assert(!p.contains("row_number"), s"decile became a corpus-scale rank window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"growth curve grew an unbounded join:\n$p")
  }

  test("q170 packing table: one corpus scan, the 4-row fan broadcast, partial agg") {
    val p = plan("q170_packing_efficiency")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"packing grew a second corpus scan:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1 &&
      !p.contains("SortMergeJoin"), s"the 4-row fan degenerated:\n$p")
    assert(p.contains("partial_sum"), "per-cap rollup lost map-side partials")
  }

  test("q177 water-fill: zero joins, reads the memoized histogram, bounded windows only") {
    val qe = SparkEntry.queries("q177_token_budget_fill")(spark, dir).queryExecution
    try {
      val p = qe.executedPlan.toString
      assert(!p.contains("Join"), s"the allocation grew a join:\n$p")
      assert(p.contains("InMemoryTableScan"),
        s"per-source masses no longer read the cached length histogram:\n$p")
      // every window runs over the |sources|-row aggregate frame: at
      // most the histogram's OWN scan may appear (printed inside the
      // InMemoryTableScan block when the cache is cold), never a
      // second corpus pass of the query's own
      assert("Scan parquet".r.findAllIn(p).size <= 1,
        s"water-fill re-scanned the corpus beyond the cache build:\n$p")
    } finally llm.TextMining.release(spark)
  }

  test("q178 CDC chunks: ONE corpus scan; chunk text never crosses an exchange") {
    val qe = SparkEntry.queries("q178_cdc_chunk_dedup")(spark, dir).queryExecution
    val p = qe.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"the chunker grew a second corpus scan:\n$p")
    assert(!p.contains("Join"), s"the census grew a join:\n$p")
    p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach(e =>
      assert(!e.contains("text#") && !e.contains("ws#"),
        s"chunk text crosses an exchange:\n$e"))
  }

  test("q179 lexical shift: freq table and scoring join share ONE cached (doc,word) frame") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val qe = SparkEntry.queries("q179_lexical_shift")(spark, dir).queryExecution
    val imrs = qe.optimizedPlan.collect { case r: InMemoryRelation => r }
    assert(imrs.size >= 2, s"a consumer lost the cached (doc,word) frame:\n${qe.optimizedPlan}")
    assert(imrs.map(_.cacheBuilder.cachedPlan).distinct.size == 1,
      "freq table and scoring join materialize DIFFERENT frames instead of sharing one")
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      "BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"totals broadcast degenerated:\n$p")
  }

  test("q180 SRP transfer: pair work reads the memoized caches; no cartesian") {
    val qe = SparkEntry.queries("q180_srp_transfer")(spark, dir).queryExecution
    try {
      val p = qe.executedPlan.toString
      assert(p.contains("InMemoryTableScan"),
        s"transfer table re-derives the pair/signature frames:\n$p")
      assert(!p.contains("CartesianProduct"), s"pair stage degenerated:\n$p")
    } finally llm.LlmVector.release(spark)
  }

  test("q181 char classes: ONE corpus scan, map-side partials, no join") {
    val p = plan("q181_char_classes")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"the screen grew a second corpus scan:\n$p")
    assert(!p.contains("Join"), s"the screen grew a join:\n$p")
    assert(p.contains("partial_count"), "lang rollup lost map-side partials")
  }

  test("q171 corpus diff: text never crosses the full-outer join") {
    val qe = SparkEntry.queries("q171_corpus_version_diff")(spark, dir).queryExecution
    val p = qe.executedPlan.toString
    assert(p.contains("FullOuter"), s"diff lost its full outer join:\n$p")
    // both sides project to (id, hash, token count) BEFORE the join:
    // no Exchange row may carry the text column — at 100 TB that is
    // the difference between shuffling two slim hash frames and
    // shuffling the corpus twice
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, s"expected hash exchanges in:\n$p")
    exchanges.foreach(e => assert(!e.contains("text#"),
      s"document text crosses an exchange:\n$e"))
  }

  test("q182 soft mass: component cache reuse, slim left join, partial agg") {
    val qe = SparkEntry.queries("q182_soft_dedup_mass")(spark, dir).queryExecution
    try {
      val p = qe.executedPlan.toString
      assert(p.contains("InMemoryTableScan"),
        s"soft mass re-derives the q57 component table:\n$p")
      assert(!p.contains("CartesianProduct"), s"csize join degenerated:\n$p")
      assert(p.contains("partial_sum"), "per-source mass lost map-side partials")
      // the doc-side exchange (if any) carries counts, never text
      p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach(e =>
        assert(!e.contains("text#"), s"document text crosses an exchange:\n$e"))
    } finally llm.LlmText.release(spark)
  }

  test("q183 cohesion: reads ONLY the memoized pair + component frames") {
    val qe = SparkEntry.queries("q183_cluster_cohesion")(spark, dir).queryExecution
    try {
      import org.apache.spark.sql.execution.columnar.InMemoryRelation
      val imrs = qe.optimizedPlan.collect { case r: InMemoryRelation => r }
      assert(imrs.size >= 2,
        s"cohesion lost a cached input (pairs or components):\n${qe.optimizedPlan}")
      val p = qe.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"closure pairs are arithmetic, never enumerated:\n$p")
      // census-scale shuffles only: no exchange carries document text
      // (the cache BUILD plans print inside InMemoryTableScan and may
      // legitimately scan text — the query's own exchanges must not)
      p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach(e =>
        assert(!e.contains("text#"), s"document text crosses an exchange:\n$e"))
    } finally llm.LlmText.release(spark)
  }

  test("q184 curriculum: bounded-frame broadcasts, no global rank window") {
    val qe = SparkEntry.queries("q184_curriculum_interleave")(spark, dir).queryExecution
    try {
      val p = qe.executedPlan.toString
      // the prefix histogram and the |sources| totals array broadcast;
      // the corpus is never sort-merge joined
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"histogram/totals join degenerated:\n$p")
      // exactly ONE row_number (the (source, length) tie-rank); the
      // global rank is the closed-form fold, never a one-task window
      assert("row_number".r.findAllIn(p).size == 1,
        s"global rank regrew a corpus-scale window:\n$p")
      // the tie window partitions by (source, nt), not source alone
      assert(p.contains("windowspecdefinition(source"), s"window lost its spec:\n$p")
      assert(p.contains("nt#"), s"tie window no longer keyed by length:\n$p")
    } finally llm.TextMining.release(spark)
  }

  test("q185 band census: map-only to band keys, two bounded shuffles, no join") {
    val qe = SparkEntry.queries("q185_lsh_band_census")(spark, dir).queryExecution
    try {
      val p = qe.executedPlan.toString
      assert(!p.contains("Join"), s"the census grew a join:\n$p")
      assert(p.contains("minhash_bands"), "band keys no longer the native kernel")
      assert(p.contains("partial_count"), "bucket sizing lost map-side partials")
      // candidate mass is arithmetic on the histogram: no pair columns
      assert(!p.contains("doc_a"), s"census enumerated candidate pairs:\n$p")
    } finally llm.LlmText.release(spark)
  }

  test("q188 cluster census: map-only assignment kernel, one bounded agg, no join") {
    val p = plan("q188_sem_cluster_census")
    assert(!p.contains("Join"), s"the census grew a join:\n$p")
    assert(p.contains("nearest_pivots"), "assignment no longer the native kernel")
    assert(p.contains("partial_count"), "cluster sizing lost map-side partials")
    // pair mass is arithmetic on the |SemK|-row census: no vector
    // column may survive past the aggregation
    p.linesIterator.filter(_.contains("Window")).foreach(w =>
      assert(!w.contains("embedding#"), s"embeddings reached the share window:\n$w"))
    llm.LlmVector.release(spark)
  }

  test("q190 k-anonymity: one quasi-id shuffle + census agg, no join") {
    val p = plan("q190_k_anonymity")
    assert(!p.contains("Join"), s"the census grew a join:\n$p")
    assert(p.contains("partial_count"), "class sizing lost map-side partials")
    // only the quasi-id + collapsed sensitive domain may be read
    assert(!p.contains("c_name#"), s"the audit read an identifier column:\n$p")
  }

  test("q191 kappa: every rollup reads the cached confusion matrix") {
    val qe = SparkEntry.queries("q191_langid_kappa")(spark, dir).queryExecution
    try {
      import org.apache.spark.sql.execution.columnar.InMemoryRelation
      val imrs = qe.optimizedPlan.collect { case r: InMemoryRelation => r }
      assert(imrs.size >= 3,
        s"a kappa rollup re-derived the corpus pass:\n${qe.optimizedPlan}")
      val p = qe.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"census joins degenerated:\n$p")
      // the joins are census-scale: document text must never shuffle
      p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach(e =>
        assert(!e.contains("text#"), s"document text crosses an exchange:\n$e"))
    } finally llm.LlmText.release(spark)
  }

  test("q192 prf: reads the cached confusion matrix, census joins only") {
    val qe = SparkEntry.queries("q192_langid_prf")(spark, dir).queryExecution
    try {
      import org.apache.spark.sql.execution.columnar.InMemoryRelation
      val imrs = qe.optimizedPlan.collect { case r: InMemoryRelation => r }
      assert(imrs.nonEmpty,
        s"the PRF marginals re-derived the corpus pass:\n${qe.optimizedPlan}")
      val p = qe.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"marginal joins degenerated:\n$p")
      p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach(e =>
        assert(!e.contains("text#"), s"document text crosses an exchange:\n$e"))
    } finally llm.LlmText.release(spark)
  }

  test("q193 pii density: map-only regexp pass, one bounded agg, no join") {
    val p = plan("q193_pii_density")
    assert(!p.contains("Join"), s"the census grew a join:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-source counts lost map-side partials")
    // the regexp pass is a Project over the scan — no explode, no UDF
    assert(!p.contains("Generate") && !p.contains("BatchEval"),
      s"regexp pass left the projection:\n$p")
    // one agg exchange + the presentation sort, nothing else
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 3, s"census shuffles beyond agg + sort ($exchanges):\n$p")
  }

  test("q194 gram leak: all three consumers read the cached gram frame") {
    val qe = SparkEntry.queries("q194_split_gram_leak")(spark, dir).queryExecution
    try {
      import org.apache.spark.sql.execution.columnar.InMemoryRelation
      val imrs = qe.optimizedPlan.collect { case r: InMemoryRelation => r }
      // pair-join a side, b side, and the per-split totals
      assert(imrs.size >= 3,
        s"a consumer re-ran the corpus gram explode:\n${qe.optimizedPlan}")
      val p = qe.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"pair join degenerated:\n$p")
      // only 32-bit gram hashes shuffle — text never crosses an exchange
      p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach(e =>
        assert(!e.contains("text#"), s"document text crosses an exchange:\n$e"))
    } finally llm.LlmText.release(spark)
  }

  test("q195 steps: bucketed prefix device, no one-task corpus window") {
    val qe = SparkEntry.queries("q195_step_boundaries")(spark, dir).queryExecution
    try {
      val p = qe.executedPlan.toString
      // the token prefix must stay bucketed: every window partitions by
      // a key (bucket / source / (source, nt)) — an UNPARTITIONED
      // running-sum window would be the one-task corpus cliff
      p.linesIterator.filter(_.contains("windowspecdefinition(")).foreach(w =>
        assert(!w.contains("windowspecdefinition(gr#") &&
          !w.contains("windowspecdefinition(global_rank#"),
          s"the token prefix regrew a global window:\n$w"))
      // the |sources|-totals crossJoin is a broadcast single row, the
      // histogram join broadcasts — the corpus is never sort-merge joined
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"a bounded-frame join degenerated:\n$p")
      assert(p.contains("partial_count"), "step census lost map-side partials")
    } finally llm.TextMining.release(spark)
  }

  test("q196 keep-best: class-bounded windows, no self-join") {
    val p = plan("q196_dedup_keep_best")
    assert(!p.contains("Join"), s"the keep rule grew a join:\n$p")
    // every window partitions by the class key — the class is the
    // dedup unit, never the corpus
    p.linesIterator.filter(_.contains("windowspecdefinition(")).foreach(w =>
      assert(w.contains("windowspecdefinition(key#"),
        s"a window lost its class partitioning:\n$w"))
    assert(p.contains("quality_stats"), "scoring no longer the compiled kernel")
  }

  test("q197 trimmed: reads the memoized length histogram, zero corpus scans") {
    val qe = SparkEntry.queries("q197_trimmed_length")(spark, dir).queryExecution
    try {
      import org.apache.spark.sql.execution.columnar.InMemoryRelation
      val imrs = qe.optimizedPlan.collect { case r: InMemoryRelation => r }
      assert(imrs.nonEmpty,
        s"the trim re-derived the length histogram:\n${qe.optimizedPlan}")
      val p = qe.executedPlan.toString
      assert(!p.contains("Join"), s"the trim grew a join:\n$p")
      // windows run over the value-bounded histogram partitioned by source
      assert(p.contains("windowspecdefinition(source#"),
        s"a window lost its source partitioning:\n$p")
    } finally llm.TextMining.release(spark)
  }

  test("q198 oov matrix: memoized term frame, broadcast-only joins") {
    val qe = SparkEntry.queries("q198_oov_matrix")(spark, dir).queryExecution
    try {
      import org.apache.spark.sql.execution.columnar.InMemoryRelation
      assert(qe.optimizedPlan.collect { case r: InMemoryRelation => r }.nonEmpty,
        s"q198 re-derived the (source, w, c) frame:\n${qe.optimizedPlan}")
      val p = qe.executedPlan.toString
      assert(!p.contains("SortMergeJoin"), s"a census join grew a shuffle:\n$p")
      // the one nested-loop is the |sources|^2 totals cross — census-scale
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
    } finally llm.TextMining.release(spark)
  }

  test("q199 zipf: no join at all; rank window partitioned by source") {
    val p = plan("q199_zipf_curve")
    assert(!p.contains("Join"), s"the curve grew a join:\n$p")
    assert(p.contains("windowspecdefinition(source#"),
      s"the rank window lost its source partitioning:\n$p")
    llm.TextMining.release(spark)
  }

  test("q200 burstiness: head is a 20-row TakeOrdered broadcast, not a global sort") {
    val p = plan("q200_burstiness")
    assert(p.contains("TakeOrderedAndProject"),
      s"head selection materialized a full sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"head filter join not broadcast:\n$p")
    llm.TextMining.release(spark)
  }

  test("q203 edit verify: no cartesian; DP stage behind an explicit repartition") {
    val p = plan("q203_edit_verify")
    assert(!p.contains("CartesianProduct"), s"pair verify degenerated:\n$p")
    assert(p.contains("levenshtein"), s"the DP left the plan:\n$p")
    // the distinct (pa, pb) collapse must survive — a plan without it
    // re-runs the DP per member pair (the 252 s clone cliff)
    assert(p.contains("HashAggregate"), p)
    llm.LlmText.release(spark)
  }

  test("q205 percentile: histogram windows by source, no corpus rank window") {
    val p = plan("q205_percentile_norm")
    assert(p.contains("windowspecdefinition(source#"),
      s"the cumulative window lost its source partitioning:\n$p")
    assert(!p.contains("row_number"), s"a per-doc rank window appeared:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q207 padding: zero joins, reads the memoized length histogram") {
    val qe = SparkEntry.queries("q207_padding_waste")(spark, dir).queryExecution
    try {
      import org.apache.spark.sql.execution.columnar.InMemoryRelation
      assert(qe.optimizedPlan.collect { case r: InMemoryRelation => r }.nonEmpty,
        s"q207 re-derived the length histogram:\n${qe.optimizedPlan}")
      assert(!qe.executedPlan.toString.contains("Join"),
        s"the census grew a join:\n${qe.executedPlan}")
    } finally llm.TextMining.release(spark)
  }

  test("q209 scatter: one aggregate, no join, no pair enumeration") {
    val p = plan("q209_label_scatter")
    assert(!p.contains("Join"), s"the identity degenerated to a pair join:\n$p")
    assert(!p.contains("Generate") || !p.contains("explode"),
      s"a pair explode appeared:\n$p")
  }

  test("q210 concordance: cells join broadcast, no cartesian on corpus rows") {
    val p = plan("q210_signal_concordance")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q189 run census: shard-partitioned windows only, text never read") {
    val p = plan("q189_shuffle_run_census")
    assert(!p.contains("Join"), s"the census grew a join:\n$p")
    // both row_numbers partition by shard (bounded per writer task) —
    // a global (unpartitioned) window would be the one-task cliff
    assert("row_number".r.findAllIn(p).size == 2, s"window count drifted:\n$p")
    assert(p.contains("windowspecdefinition(shard"),
      s"a window lost its shard partitioning:\n$p")
    // the manifest frame is (doc_id, source, hv): document text must
    // not be scanned at all
    assert(!p.contains("text#"), s"document text entered the plan:\n$p")
  }

  test("q226 blocklist: the automaton evaluates EXACTLY once per row") {
    // round 18: the per-corpus-row explode formulation tripped
    // InferFiltersFromGenerate into re-evaluating the kernel inside an
    // inferred pre-filter — the positional-aggregate rewrite must keep
    // a single kernel site in the executed plan
    val p = plan("q226_blocklist_census")
    assert("multi_pattern_counts".r.findAllIn(p).size == 1,
      s"kernel evaluation count drifted:\n$p")
    assert(p.contains("partial_sum"), "census lost its map-side combine")
  }

  test("q225 KN perplexity: count tables broadcast onto the scoring stream") {
    val p = plan("q225_kn_perplexity")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "a count table stopped broadcasting")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"), "per-doc partial aggregation lost")
  }

  test("q230 NB scorer: class counts broadcast; label computed inline (no per-doc join)") {
    val p = plan("q230_nb_quality_score")
    assert(p.contains("BroadcastHashJoin"), "tc stopped broadcasting")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"),
      s"a corpus-sized frame entered a shuffle join:\n$p")
  }

  test("q227 phrase search: posting frame materialized once, no nested-loop") {
    val p = plan("q227_phrase_search")
    assert(p.contains("InMemoryTableScan"), "posting frame no longer cached")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q231 funnel: bench side broadcasts; no cartesian; three census passes") {
    val p = plan("q231_curation_funnel")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), "bench mark join stopped broadcasting")
    // the census is a 3-branch union (stages 0-1 / 2-3 / 4), not five
    // stage re-evaluations of the whole chain
    assert("Union".r.findAllIn(p).size == 1 && p.contains("Generate explode"),
      s"census shape drifted:\n$p")
  }

  test("q232 refinedweb funnel: fuzzy + substring stages read the MEMOIZED family frames") {
    // the round-19 contract (VERDICT r18 item 1): the added stages
    // must consume the persisted component/span frames — rebuilding
    // either inside the funnel would re-run the LSH pair chain or the
    // candidate→verify span chain per funnel evaluation
    val p = plan("q232_refinedweb_funnel")
    // the component frame (cluster_rep) and the span frame
    // (span_start/span_len) must each be read through a CACHE SCAN —
    // the candidate/pair chains print only INSIDE those cached
    // subtrees, evaluated once per family build, never per funnel run
    assert("InMemoryTableScan \\[[^\\]]*cluster_rep".r.findAllIn(p).nonEmpty,
      s"component frame not read from cache:\n$p")
    assert("InMemoryTableScan \\[[^\\]]*span_".r.findAllIn(p).nonEmpty,
      s"span frame not read from cache:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), "bench mark join stopped broadcasting")
    // census = 3-branch union (stages 0-1 / 2-5 / 6), not seven
    // re-evaluations of the whole chain
    assert("Union".r.findAllIn(p).size == 1 && p.contains("Generate explode"),
      s"census shape drifted:\n$p")
    llm.LlmText.release(spark)
  }

  test("q237: the substring index side reads the DISK bucket table, bucket-aligned") {
    // the round-20 contract (VERDICT r19 "What's missing" #3): the
    // at-scale access path — yesterday's writeGramIndex artifact —
    // must be what the query actually scans, and the planner must
    // exploit its bucketing (Spark only marks a scan `Bucketed: true`
    // when the bucket distribution is CONSUMED without a reshuffle of
    // that side; with broadcast disabled the probe join would
    // otherwise exchange the full index)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("q237_substring_incremental_disk")
      assert(p.contains("graft_gram_index_"),
        s"index side not reading the catalog bucket table:\n$p")
      assert(p.contains("Bucketed: true"),
        s"bucket table scanned without bucket alignment:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      llm.LlmText.release(spark)
    }
  }

  test("q238: BOTH substring artifacts read from disk catalog tables") {
    // the complete ingest-cycle frame: no in-session state from
    // "yesterday" — gram index AND span set are persisted tables
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val ex = SparkEntry.queries("q238_substring_incremental_artifacts")(spark, dir)
        .queryExecution.executedPlan
      val p = ex.toString
      assert(p.contains("graft_gram_index_"),
        s"gram side not reading the catalog bucket table:\n$p")
      assert(p.contains("graft_span_index_"),
        s"span side not reading the catalog table:\n$p")
      assert(p.contains("Bucketed: true"),
        s"no bucket-aligned scan in the plan:\n$p")
      // The original belt-and-braces ban on ANY InMemoryTableScan is
      // gone (round 22): newSpansFromDelta now persists its PER-CYCLE
      // intermediates (cand/withText/newVer — each fed two consumers,
      // so the bucket probe and the gram-text exchange ran twice), and
      // those are delta-derived frames an ingest cycle legitimately
      // recomputes from the disk artifacts, not "yesterday's state".
      // The memo stand-ins the ban guarded against are still excluded
      // by the two table-name asserts above: had corpusGrams /
      // corpusSpans leaked back in, the graft_gram_index_ /
      // graft_span_index_ scans would be absent. Pin instead that the
      // per-cycle caches are the ONLY in-memory frames: each renders
      // its cached lineage rooted at the disk scans, never at a
      // documents-scan of the CORPUS side with the gram kernel (the
      // memoized corpusGrams signature: xxhash64 windows over a
      // NOT((doc_id % 10) = 0) documents scan feeding an IMR).
      import org.apache.spark.sql.catalyst.expressions.Not
      import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
      // a plan's own nodes, stopping at (and including) cache scans
      def own(n: SparkPlan): Seq[SparkPlan] = n match {
        case a: AdaptiveSparkPlanExec => own(a.executedPlan)
        case q: QueryStageExec => own(q.plan)
        case c: InMemoryTableScanExec => Seq(c)
        case _ => n +: n.children.flatMap(own)
      }
      // every cached relation the plan reads, nested caches included
      def relations(n: SparkPlan): Seq[InMemoryRelation] =
        own(n).collect { case c: InMemoryTableScanExec => c.relation }
          .flatMap(r => r +: relations(r.cachedPlan))
      // a gram-kernel node whose own subtree filters the documents scan
      // to the corpus side (a NOT over doc_id: the delta side has none)
      def corpusGramKernel(n: SparkPlan): Boolean = own(n).exists { g =>
        val below = own(g)
        g.expressions.exists(_.exists(_.isInstanceOf[plans.WindowHashes])) &&
          below.exists {
            case f: FilterExec => f.condition.exists {
              case not: Not => not.references.exists(_.name == "doc_id")
              case _ => false
            }
            case _ => false
          } &&
          below.exists {
            case sc: FileSourceScanExec =>
              sc.relation.location.rootPaths.exists(_.getName == "documents.parquet")
            case _ => false
          }
      }
      val cached = relations(ex)
      assert(cached.nonEmpty, s"no per-cycle cache in the plan — the pin below is vacuous:\n$p")
      val leaked = cached.filter(r => corpusGramKernel(r.cachedPlan))
      assert(leaked.isEmpty,
        "an in-memory frame caches the corpus-side gram kernel (memoized corpusGrams):\n" +
          leaked.map(_.cachedPlan.treeString).mkString("\n"))
      assert(!p.contains("CartesianProduct"), p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      llm.LlmText.release(spark)
    }
  }
}
