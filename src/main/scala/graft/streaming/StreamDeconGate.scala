package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming benchmark-DECONTAMINATION gate (SURVEY §2.9 composed with
  * the q62/q81 contamination family): documents arrive as a stream and
  * each is flagged — before it ever reaches a training shard — if at
  * least half its shingles appear in a static benchmark set (q62's
  * rule, q41's shingle family). The batch operators audit contamination
  * after the fact; this is the front-door shape a live ingest runs.
  *
  * Exactness with bounded state: the stream side is STATELESS — the
  * gate needs no cross-batch memory because the benchmark is static
  * and a document's shingles live in one row. Per micro-batch:
  *  1. map-side kernels (tokenHashes → shingleSet) over the batch;
  *  2. a broadcast Bloom of the benchmark shingles prefilters
  *     map-side (`2·bloomHits ≥ |sh|`). Bloom has NO false negatives
  *     and only ever over-counts hits, so a doc failing the prefilter
  *     is EXACTLY clean — the FP rate costs extra verification work,
  *     never a wrong decision (q81's argument, made streaming);
  *  3. surviving candidates verify EXACTLY inside the batch via
  *     explode + broadcast join against the benchmark frame — batch-
  *     local, so no streaming aggregation state exists at all;
  *  4. per-doc decisions append to a parquet store, one `batch=N`
  *     subdir per micro-batch — replaying batch N OVERWRITES its own
  *     subdir, so at-least-once foreachBatch delivery yields
  *     exactly-once decisions (the [[StreamDedupGate]] /
  *     [[StreamMerge.upsertBatch]] envelope).
  * At 100 TB/day the benchmark side (eval suites) is genuinely small
  * — its distinct shingles broadcast (q62's scale note) — and
  * per-batch work is ∝ |batch| + |candidates|·|bench|, never corpus-
  * scale. Decisions are batching-invariant BY CONSTRUCTION
  * (stateless per doc): any chunking of the stream yields the
  * identical decision set (StreamDeconGateSpec pins 1-batch ≡ 3-batch).
  *
  * Shingle-less docs (< 3 tokens) cannot be contaminated — they pass
  * trivially and are reported as `n_short` (the q62 oracle's own rule
  * `2·hits ≥ n_sh` would flag an empty doc vacuously; the gate fences
  * that edge on both engines by flagging only `n_sh > 0` docs).
  */
object StreamDeconGate {

  /** Distinct benchmark shingles (doc_id % 20 = 0 — the q62/q81
    * convention standing in for a real eval-suite set). */
  private[streaming] def bench(s: SparkSession, dir: String): DataFrame =
    graft.llm.LlmText.docShingles(s, dir)
      .filter(col("doc_id") % 20 === 0)
      .select(explode(col("sh")).as("sh")).distinct()

  /** Exact per-doc decisions for ONE batch of (doc_id, …, source,
    * text) rows: (doc_id, source, n_sh, flagged). Stateless; factored
    * so the spec can drive arbitrary chunkings directly. */
  private[streaming] def decide(b: DataFrame, benchDf: DataFrame,
      bloom: org.apache.spark.broadcast.Broadcast[Array[Byte]]): DataFrame = {
    val sh = b.select(col("doc_id"), col("source"),
      graft.plans.TextKernels.shingleSet(
        graft.plans.TextKernels.tokenHashes(lower(col("text")))).as("sh"))
      .withColumn("n_sh", size(col("sh")).cast("long"))
    val cand = sh.filter(col("n_sh") > 0 &&
      graft.plans.BloomKernels.bloomHits(col("sh"), bloom) * 2 >= col("n_sh"))
    val exact = cand.select(col("doc_id"), explode(col("sh")).as("sh"))
      .join(broadcast(benchDf.withColumn("mark", lit(1))), Seq("sh"), "left")
      .groupBy("doc_id").agg(count(col("mark")).as("n_hit"))
    sh.join(exact, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_sh"),
        (col("n_sh") > 0 &&
          coalesce(col("n_hit"), lit(0L)) * 2 >= col("n_sh")).as("flagged"))
  }

  /** Per-source gate census over the decision store. */
  private[streaming] def census(dec: DataFrame): DataFrame =
    dec.groupBy("source")
      .agg(count(when(col("n_sh") > 0, 1)).as("n_docs"),
        count(when(col("flagged"), 1)).as("n_flagged"),
        count(when(col("n_sh") === 0, 1)).as("n_short"))
      .select(col("source"), col("n_docs"), col("n_flagged"), col("n_short"),
        expr("(1000 * n_flagged) div nullif(n_docs, 0)").as("flagged_milli"))
      .orderBy("source")

  /** The q204 body: stream the fixture documents (benchmark docs
    * excluded — they are the contamination SOURCE, not gated traffic),
    * decide each batch exactly, store decisions exactly-once, report
    * the per-source census. */
  def run(s: SparkSession, dir: String): DataFrame =
    Streams.gate(s, dir, "documents", "doc_id",
        "doc_id BIGINT, source STRING, n_sh BIGINT, flagged BOOLEAN") {
      val bn = bench(s, dir).transform(graft.Caches.persistForQuery)
      val bloom = graft.plans.BloomKernels.buildBroadcast(s, bn, "sh", bn.count(), 0.01)
      decide(_, bn, bloom)
    }(census)
}
