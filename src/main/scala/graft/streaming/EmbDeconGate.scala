package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming EMBEDDING-space decontamination gate (VERDICT r16 item 6
  * — [[StreamDeconGate]]'s q204 lexical gate extended to the vector
  * side; q100's split-leakage audit run as a FRONT DOOR): embedding
  * vectors arrive as a stream and each is flagged — before it reaches
  * a training shard — if it sits within cosine θ = 0.45 of ANY
  * benchmark vector (vec_id % 20 = 0, the q62/q204 benchmark
  * convention; 0.45 is the corpus's calibrated near-dup threshold,
  * q50/q180's pair rule). The gate keys on the benchmark VECTORS
  * themselves — one "centroid" per eval item — not label-mean
  * centroids: a contaminated arrival sits near ONE eval item, and
  * averaging dilutes exactly the cosine the gate must see.
  *
  * Two-stage decision, BOTH stages defined semantics (so the DuckDB
  * oracle replicates them bit-for-bit — nothing here is a lossy
  * engine-side shortcut the oracle can't see):
  *  1. SKETCH: 16-bit sign-random-projection signatures
  *     ([[graft.llm.LlmVector.srpSignatures]] — md5-parity hyperplanes,
  *     exact integers on the milli-quantized grid) for arrival and
  *     benchmark; a pair is a CANDIDATE iff hamming ≤ 10. The cutoff
  *     reads the committed q180 transfer table: true θ ≥ 0.45 pairs
  *     land at hamming 2–10 of 16 on this corpus, so ≤ 10 is the
  *     calibrated full-recall band (and the census AUDITS that claim —
  *     see n_missed below — instead of assuming it).
  *  2. EXACT: candidates verify by exact integer cosine — flagged iff
  *     dq > 0 ∧ 10⁶·dq² ≥ 202500·n2a·n2b on the quantized grid
  *     (202500 micro = 0.45², cross-multiplied so no division and no
  *     float ever exists on either engine; decimal(38,0) bounds the
  *     10⁶·dq² product far under overflow at dim 64, and a zero-norm
  *     vector fails dq > 0 instead of dividing by zero).
  *
  * The stream side is STATELESS (the q204 envelope): the benchmark is
  * static, a vector's decision reads only its own row, so decisions
  * are batching-invariant BY CONSTRUCTION — EmbDeconGateSpec pins
  * 1-batch ≡ 3-batch — and exactly-once comes from the batch=N
  * overwrite store, not streaming aggregation state.
  *
  * Census per label: n_vecs, n_cand (≥ 1 sketch-candidate benchmark
  * pair), n_flagged (gate decision: candidate ∧ exact), n_missed
  * (exact-hit pairs the sketch band MISSED — the gate's recall audit,
  * zero when q180's calibration holds), flagged_milli.
  *
  * Scale at 100 TB/day: signatures are map-only (the 16×dim sign
  * matrix rides the plan as a literal); the benchmark side is an eval
  * suite — small by construction — so its (sg, n2, qv) frame
  * broadcasts, and the per-batch sketch stage is |batch|·|bench|
  * 16-bit XOR+popcounts, with the dim-length exact dot (compiled
  * [[graft.plans.VectorKernels.dotq]], never an interpreted HOF) paid
  * on the candidate residue. How much the sketch PRUNES is a θ
  * question, and the census answers it instead of asserting it: at
  * this corpus's θ = 0.45 the full-recall band ≤ 10 admits ~90% of
  * random pairs (ΣC(16,h≤10)/2¹⁶ — n_cand ≈ n_vecs in the fixture
  * census, q180's "banding cannot separate mid-cosine pairs"
  * measured a third way), so the exact kernel carries the fixture
  * gate; a deployment gating VERBATIM-copy contamination (cos ≥
  * 0.85, sketch p_diff ≈ 0.18, true copies at hamming ≤ 3 of 16)
  * re-reads the same q180 table, tightens the cutoff, and then the
  * popcount stage rejects ~3/4 of pairs before any dot — with wider
  * signatures (the same md5-parity device at 64 planes) as the
  * sharper-separation dial. The n_missed audit column is the
  * harness-scale calibration — it prices the full |batch|·|bench|
  * exact pass, which a deployment runs SAMPLED (it re-measures q180's
  * transfer, it does not gate traffic). */
object EmbDeconGate {

  /** Sketch-band cutoff (hamming of 16) — q180's calibrated
    * full-recall band for θ ≥ 0.45 on this corpus. */
  private[streaming] val HamCut = 10
  /** θ² in micro (0.45² = 0.2025). */
  private[streaming] val Theta2Micro = 202500L

  /** Benchmark-side signature frame: (b_sg, b_n2, b_qv) for the
    * vec_id % 20 = 0 eval vectors. Broadcast-sized by construction. */
  private[streaming] def bench(s: SparkSession, dir: String, dim: Int): DataFrame =
    graft.llm.LlmVector.srpSignatures(
        graft.core.T.df(s, dir, "embeddings").filter(col("vec_id") % 20 === 0), dim)
      .select(col("sg").as("b_sg"), col("n2").as("b_n2"), col("qv").as("b_qv"))

  /** Exact per-vector decisions for ONE batch of (vec_id, embedding,
    * label) rows: (vec_id, label, cand, flagged, hit_true). Stateless;
    * factored so the spec drives arbitrary chunkings directly.
    *
    * `auditEvery` (round 18, VERDICT r17 item 5) is the SAMPLED
    * recall-audit mode the scaladoc above promises a deployment: the
    * GATE itself (cand/flagged — exact dot on sketch candidates) is
    * identical in both modes; only the n_missed audit's exact pass
    * over NON-candidate pairs is restricted to the deterministic
    * 1-in-m vec_id sample (q131's no-rand Knuth hash — replay-stable,
    * engine-independent, never `rand()`). The sampled census's
    * n_missed is therefore EXACTLY the full audit's missed set
    * intersected with the sample — a subset bound, not an estimate
    * with error bars — and EmbDeconGateSpec pins that equality on an
    * adversarial fixture with a real sketch miss. None (the q215
    * oracle-gated default) audits every pair. */
  private[streaming] def decide(b: DataFrame, benchDf: DataFrame, dim: Int,
      auditEvery: Option[Long] = None): DataFrame = {
    val sig = graft.llm.LlmVector.srpSignatures(b, dim)
    val exact = col("dq") > 0 && expr(
      s"cast(1000000 as decimal(38,0)) * dq * dq >= " +
        s"cast($Theta2Micro as decimal(38,0)) * n2 * b_n2")
    // |bench| is an eval suite — broadcast-bounded by construction;
    // the cross product is the gate's defined |batch|·|bench| sketch
    // stage, map-side under BroadcastNestedLoopJoin
    val crossed = sig.crossJoin(broadcast(benchDf))
      .withColumn("ham", expr("cast(bit_count(sg ^ b_sg) as bigint)"))
    // sampled mode drops non-candidate pairs OUTSIDE the audit sample
    // BEFORE the exact dot — the pruning is the point: the kernel pass
    // a deployment pays is |candidates| + |bench|·|batch|/m
    val audited = auditEvery match {
      case Some(m) => crossed.filter(col("ham") <= HamCut ||
        expr(s"${StreamSample.hashOfSql("vec_id")} % $m = 0"))
      case None => crossed
    }
    val pairs = audited
      .withColumn("dq", graft.plans.VectorKernels.dotq(col("qv"), col("b_qv")))
      .withColumn("hit", exact)
    val per = pairs.groupBy("vec_id").agg(
      max(when(col("ham") <= HamCut, 1L).otherwise(0L)).as("cand"),
      max(when(col("ham") <= HamCut && col("hit"), 1L).otherwise(0L)).as("flagged"),
      max(when(col("hit"), 1L).otherwise(0L)).as("hit_true"))
    // left join: an empty benchmark (or a batch row filtered by a
    // ragged-dim guard upstream) yields no pairs — unmatched arrivals
    // are clean, not absent
    b.select(col("vec_id"), col("label"))
      .join(per, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("cand"), lit(0L)).as("cand"),
        coalesce(col("flagged"), lit(0L)).as("flagged"),
        coalesce(col("hit_true"), lit(0L)).as("hit_true"))
  }

  /** Per-label gate census over the decision store. */
  private[streaming] def census(dec: DataFrame): DataFrame =
    dec.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), sum("cand").as("n_cand"),
        sum("flagged").as("n_flagged"),
        sum(when(col("hit_true") === 1L && col("cand") === 0L, 1L)
          .otherwise(0L)).as("n_missed"))
      .select(col("label"), col("n_vecs"), col("n_cand"), col("n_flagged"),
        col("n_missed"),
        expr("(1000 * n_flagged) div nullif(n_vecs, 0)").as("flagged_milli"))
      .orderBy("label")

  /** The q215 body: stream the fixture embeddings (benchmark vectors
    * excluded — they are the contamination SOURCE, not gated traffic),
    * decide each batch exactly, store decisions exactly-once, report
    * the per-label census, delete the scratch store (the q204/ADVICE
    * r16 cleanup discipline — a deployment keeps its decision store;
    * this harness entry returns the census, so the store is scratch). */
  def run(s: SparkSession, dir: String): DataFrame = {
    val dim = graft.llm.LlmVector.embDim(graft.core.T.df(s, dir, "embeddings"))
    val bn = bench(s, dir, dim).transform(graft.Caches.persistForQuery)
    bn.count()
    val store = "/tmp/graft/embdecon_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = Streams.embStream(s, dir)
      .filter(col("vec_id") % 20 =!= 0)
      .writeStream
      .option("checkpointLocation", store + ".ckpt")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        decide(b.toDF(), bn, dim)
          .write.mode("overwrite").parquet(s"$store/batch=$id")
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val dec =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(store)))
        s.read.parquet(store).drop("batch")
      else s.createDataFrame(s.sparkContext.emptyRDD[Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "vec_id BIGINT, label INT, cand BIGINT, flagged BIGINT, hit_true BIGINT"))
    Streams.materializeScratch(s, store, census(dec))
  }
}
