package graft.llm

import graft.{Caches, Family}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Q, T}

/** Similarity search over the `embeddings` table (Array[Float], 64-d).
  *
  * Three surfaces: top-k QUERIES (q43 exact baseline, q44 IVF scale
  * path, q105 PQ shortlist + exact re-rank), and corpus×corpus
  * near-dup SWEEPS (q50/q65 via the blocked exact kernel
  * [[blockedPairs]] — see its doc for why hyperplane LSH cannot prune
  * at mid-cosine thresholds).
  *
  *  - q43 brute-force cosine top-k: the correctness baseline. Dot
  *    products are `aggregate(zip_with(...))` column arithmetic —
  *    codegen'd, no UDF; the query×corpus cross join broadcasts the
  *    (tiny) query side, so the corpus is scanned once with no shuffle
  *    of the big side. Output is (query, rank, neighbor) — ranks are
  *    float-stable cross-engine because products of floats are exact
  *    in double and adjacent top-k gaps (≥2e-4 here) dwarf summation
  *    rounding (~1e-16). Memoized per (session, dir): q43 and the q44
  *    recall grade share ONE materialization (VERDICT r4 #3).
  *  - q44 IVF top-k: the 100 TB design. Pivot centroids come from a
  *    deterministic driver-side spherical k-means over a small ordered
  *    sample ([[pivots]]); bucket assignment is a PURE PER-ROW
  *    PROJECTION — the [[graft.plans.NearestPivots]] native expression
  *    evaluates the argmax over the embedded pivot matrix in two
  *    primitive loops, so there are zero joins, zero windows, zero
  *    exchanges between the corpus scan and the bucket column
  *    (PlanSpec pins this; round 4's crossJoin+window formulation
  *    shuffled nlist× the corpus for the same answer). At scale the
  *    corpus is written bucket-partitioned in that same map-only pass
  *    and a query touches nprobe/nlist of the data. Each query probes
  *    its [[NProbe]]=3 nearest buckets (3/16 of the corpus); recall is
  *    tunable via nprobe. Graded in-query against the brute-force
  *    baseline (recall ≥ [[RecallBound]] per query, hash-checked) and
  *    by the same assertion in LlmVectorSpec (which also pins the
  *    measured ~0.7+ mean-recall plateau, so regressions inside the
  *    [0.5, 0.7) dead zone stay visible). The bound is 0.5, not 0.9:
  *    the fixture embeddings are near-uniform in 64-d (no cluster
  *    structure), where ANY partitioning that probes a fixed fraction
  *    of the corpus caps out (measured at nprobe=3: per-query recall
  *    0.5–1.0, mean 0.70–0.80 across the three fixtures; first-N,
  *    farthest-point, and spherical k-means pivots all plateau —
  *    k-means only helps when clusters exist). 0.5 matches the minimum
  *    observed per-query recall on all three fixtures — a
  *    deterministic regression tripwire, not a quality ceiling; real
  *    corpora with cluster structure tune nlist/nprobe against a
  *    recall target instead.
  */
object LlmVector {

  /** Deterministic left-fold dot product of two float arrays — the
    * [[graft.plans.VectorKernels.dot]] compiled kernel (the HOF
    * `aggregate(zip_with(...))` fold evaluates interpreted; the kernel
    * is bit-identical — same accumulation order — and spec-pinned). */
  def dot(a: Column, b: Column): Column = graft.plans.VectorKernels.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  private val NQueries = 5
  private val K = 10
  private val NList = 16
  private val NProbe = 3
  private val KMeansSample = 256
  private val KMeansIters = 5
  // q73 distributed trainer: clusters + Lloyd rounds over the FULL corpus
  private val TrainK = 8
  private val TrainIters = 4
  // q83 semantic-dedup cluster count (SQL-replicable first-K pivots)
  private val SemK = 8
  // q83 skew cap: max vectors a within-cluster triangle task holds
  private[llm] val SemSubCap = 512

  /** Per-query recall floor graded by q44 (and pinned by LlmVectorSpec).
    * See the class doc for why this is 0.5 on the unclustered fixture. */
  val RecallBound = 0.5

  /** DuckDB oracle: same cosine ranks via positional unnest join. */
  private val cosineTopkSql: String =
    s"""WITH e AS (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
       |           FROM embeddings),
       |nrm AS (SELECT vec_id, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n FROM e GROUP BY vec_id),
       |dots AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |                sum(q.v::DOUBLE * c.v::DOUBLE) AS d
       |         FROM e q JOIN e c ON q.i = c.i
       |         WHERE q.vec_id < ${NQueries} AND q.vec_id <> c.vec_id
       |         GROUP BY 1, 2),
       |ranked AS (SELECT query_id, neighbor_id,
       |                  row_number() OVER (PARTITION BY query_id
       |                    ORDER BY d / (nq.n * nc.n) DESC, neighbor_id) AS rank
       |           FROM dots JOIN nrm nq ON nq.vec_id = query_id
       |                     JOIN nrm nc ON nc.vec_id = neighbor_id)
       |SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= ${K}
       |ORDER BY query_id, rank""".stripMargin

  /** Brute-force cosine top-k (the exact baseline): broadcast the tiny
    * query side so the corpus is scanned once with no big-side shuffle.
    * Memoized + persisted per (session, dir): q43 (ordered listing) and
    * q44 (recall grade) share one computation. */
  private[llm] def bruteTopk(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Vector, s, "brute|" + dir) {
      val e = T.df(s, dir, "embeddings")
      val corpus = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
        norm(col("embedding")).as("cn"))
      val queries = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          norm(col("embedding")).as("qn"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id"))
      corpus.crossJoin(broadcast(queries))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cos", dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select("query_id", "rank", "neighbor_id")
        .persist()
    }(_.unpersist())

  // q105 product quantization: M subspaces of dim/M dims, K codewords
  // each — codes are M·log2(K) bits (8·4 = 4 bytes here) per vector.
  private val PqM = 8
  private val PqK = 16
  private val PqIters = 5
  /** Per-query recall floor graded by q105 (and pinned by
    * LlmVectorSpec) — like [[RecallBound]], the minimum MEASURED
    * per-query recall across the three fixtures (PqProbe: floors
    * 0.7 / 0.6 / 0.4 at sf0.001 / 0.01 / 0.1), a deterministic
    * regression tripwire, not a quality ceiling. The sf0.1 floor is
    * lowest because the fixed [[PqShortlist]] covers only 2.5% of its
    * 2000-vector corpus — a deployment tunes shortlist size against a
    * recall target the way q44 tunes nprobe. */
  val PqRecallBound = 0.4

  private def unitVec(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v else v.map(_ / n)
  }

  /** Lowest-index argmin of squared-L2 distance — strict `<` keeps the
    * first codeword on exact ties, so encoding is deterministic. */
  private def nearestL2(cents: Array[Array[Double]], p: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue; var j = 0
    while (j < cents.length) {
      var d = 0d; var i = 0
      while (i < p.length) { val t = p(i) - cents(j)(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = j }
      j += 1
    }
    best
  }

  /** PQ codebooks — codebooks(m)(j) = codeword j of subspace m:
    * per-subspace L2 k-means over the unit-normalized first
    * [[KMeansSample]] vectors, driver-side and deterministic (init =
    * first [[PqK]] subvectors, [[PqIters]] Lloyd rounds, an emptied
    * cluster keeps its centroid) — the same bounded-sample fit
    * discipline as [[pivots]], shipping to executors as closure
    * literals so encoding stays map-only. Vectors are unit-normalized
    * BEFORE slicing: on unit vectors L2 order == cosine order, so the
    * ADC ranking approximates the same metric q43/q44 grade against. */
  private[llm] def pqCodebooks(s: SparkSession, dir: String): Array[Array[Array[Double]]] =
    Caches.memo(Family.Vector, s, "pq|" + dir) {
      val pts = T.df(s, dir, "embeddings")
        .orderBy("vec_id").limit(KMeansSample)
        .select("embedding").collect()
        .map(r => unitVec(r.getSeq[Float](0).map(_.toDouble).toArray))
      val sub = pts.head.length / PqM
      Array.tabulate(PqM) { m =>
        val sp = pts.map(_.slice(m * sub, (m + 1) * sub))
        var cents = sp.take(PqK).map(_.clone)
        for (_ <- 0 until PqIters) {
          val assign = sp.map(nearestL2(cents, _))
          cents = cents.indices.map { j =>
            val members = sp.indices.filter(assign(_) == j)
            if (members.isEmpty) cents(j)
            else {
              val mv = new Array[Double](sub)
              members.foreach { i =>
                var d = 0; while (d < sub) { mv(d) += sp(i)(d); d += 1 } }
              mv.map(_ / members.size)
            }
          }.toArray
        }
        cents
      }
    }(_ => ())

  /** PQ shortlist + exact re-rank top-k per query (q105's ranked
    * listing) — the deployment shape of every PQ system: the
    * compressed codes SHORTLIST, they never return final ranks.
    * Pass 1 (map-only): encode each vector to its [[PqM]] codes and
    * score it against every query's precomputed LUT of subspace
    * distances (scoring = [[PqM]] array lookups, no float dot
    * products — the pass that scans 100 TB touches only codes). Both
    * steps are the [[graft.plans.PqKernels]] native Expressions, so
    * the whole pass stays inside the scan's generated stage;
    * [[graft.ops.KeyedTopK]] bounds the per-query shortlist window.
    * Pass 2 (re-rank): ONLY the ≤ [[PqShortlist]]·queries shortlisted
    * vectors are fetched (broadcast join on the tiny shortlist) and
    * scored with exact cosine — full-precision work proportional to
    * the shortlist, never the corpus. */
  private val PqShortlist = 5 * K
  private[graft] def pqTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val books = pqCodebooks(s, dir)
    val sub = books(0)(0).length
    val qvecs = T.df(s, dir, "embeddings")
      .filter(col("vec_id") < NQueries).orderBy("vec_id")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> unitVec(r.getSeq[Float](1).map(_.toDouble).toArray))
    val qids = qvecs.map(_._1)
    // lut(q)(m)(j) = ||query_q's subvector m − codeword j||²
    val lut = qvecs.map { case (_, qv) =>
      Array.tabulate(PqM) { m =>
        books(m).map { c =>
          var d = 0d; var i = 0
          while (i < sub) { val t = qv(m * sub + i) - c(i); d += t * t; i += 1 }
          d
        }
      }
    }
    val scored = T.df(s, dir, "embeddings")
      .select(col("vec_id").as("neighbor_id"),
        graft.plans.PqKernels.encode(col("embedding"), books).as("codes"))
      .select(col("neighbor_id"), explode(array(qids.indices.map(qi =>
        struct(lit(qids(qi)).as("query_id"),
          graft.plans.PqKernels.adc(col("codes"), lut(qi)).as("adist"))): _*)).as("qa"))
      .select(col("qa.query_id"), col("neighbor_id"), col("qa.adist"))
      .filter(col("query_id") =!= col("neighbor_id"))
    val shortlist = graft.ops.KeyedTopK.prune(scored, Seq("query_id"),
        Seq("adist" -> true, "neighbor_id" -> true), PqShortlist)
      .withColumn("srank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("adist"), col("neighbor_id"))))
      .filter(col("srank") <= PqShortlist)
      .select("query_id", "neighbor_id")
    val qmap = qvecs.toMap
    T.df(s, dir, "embeddings")
      .join(broadcast(shortlist), col("vec_id") === col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("embedding"))
      .as[(Long, Long, Seq[Float])]
      .map { case (qid, nid, emb) =>
        val v = unitVec(emb.map(_.toDouble).toArray)
        val qv = qmap(qid)
        var d = 0d; var i = 0
        while (i < v.length) { d += v(i) * qv(i); i += 1 }
        (qid, nid, d)
      }.toDF("query_id", "neighbor_id", "cos")
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rank") <= K)
      .select("query_id", "rank", "neighbor_id")
  }

  /** IVF pivot centroids: deterministic spherical k-means on the first
    * [[KMeansSample]] vectors (by vec_id), driver-side. Initialization
    * is the first [[NList]] sample vectors (no RNG — q44's output must
    * be stable across runs); [[KMeansIters]] Lloyd rounds with
    * unit-normalized means; an emptied cluster keeps its old centroid.
    * The sample collect is a TakeOrdered over the scan — tiny metadata-
    * scale work; at 100 TB the same fit runs on `df.sample(...)` with a
    * fixed seed and the centroids ship to executors as literals, which
    * is what keeps bucket assignment map-only. Centroids are unit-norm,
    * so nearest-by-cosine == argmax over raw dots (row norm constant). */
  private[llm] def pivots(s: SparkSession, dir: String): Array[Array[Double]] =
    Caches.memo(Family.Vector, s, "pivot|" + dir) {
      val sample = T.df(s, dir, "embeddings")
        .orderBy("vec_id").limit(KMeansSample)
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      def unit(v: Array[Double]): Array[Double] = {
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n == 0) v else v.map(_ / n)
      }
      val pts = sample.map(unit)
      var cents = pts.take(NList).map(_.clone)
      for (_ <- 0 until KMeansIters) {
        val assign = pts.map { p =>
          var best = 0; var bestDot = Double.NegativeInfinity
          for (j <- cents.indices) {
            var d = 0d; var i = 0
            while (i < p.length) { d += p(i) * cents(j)(i); i += 1 }
            if (d > bestDot) { bestDot = d; best = j }
          }
          best
        }
        cents = cents.indices.map { j =>
          val members = pts.indices.filter(assign(_) == j)
          if (members.isEmpty) cents(j)
          else {
            val m = new Array[Double](cents(j).length)
            members.foreach { i =>
              var d = 0; while (d < m.length) { m(d) += pts(i)(d); d += 1 }
            }
            val u = unit(m)
            if (u.forall(_ == 0)) cents(j) else u
          }
        }.toArray
      }
      cents
    }(_ => ())

  /** The `nprobe` nearest pivot ids (best first) as a pure per-row
    * projection — the [[graft.plans.NearestPivots]] native expression:
    * two primitive loops over the embedded pivot matrix, inside
    * whole-stage codegen, ties to the smaller pivot id. No join, no
    * window, no exchange (PlanSpec pins zero Exchange from scan to
    * bucket). Pivots are unit-norm so the row's own norm divides out
    * of the argmax. */
  private def nearestPivotsCol(e: Column, ps: Array[Array[Double]], nprobe: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.plans.NearestPivots(
      GraftColumnBridge.expression(e), ps, nprobe))
  }

  private def bucketCol(e: Column, ps: Array[Array[Double]]): Column =
    element_at(nearestPivotsCol(e, ps, 1), 1)

  /** Corpus with its IVF bucket: one map-only pass (scan → project). */
  private[graft] def assignBuckets(s: SparkSession, dir: String): DataFrame = {
    val ps = pivots(s, dir)
    T.df(s, dir, "embeddings")
      .withColumn("bucket", bucketCol(col("embedding"), ps))
  }

  /** The 100 TB index build: materialize the corpus BUCKET-PARTITIONED,
    * so query-time probing reads only nprobe/nlist of the files
    * (partition pruning on `bucket`) instead of scanning everything.
    * Still one map-only pass — assignment is the [[assignBuckets]]
    * projection; the only cost beyond the scan is the write itself. */
  def writeBucketedIndex(s: SparkSession, dir: String, out: String): Unit =
    graft.sinks.Sinks.parquet(assignBuckets(s, dir), out, partitionBy = Seq("bucket"))

  /** Raw IVF result: (query_id, rank, neighbor_id). Bucket assignment
    * is the shuffle-free projection above; queries probe their
    * [[NProbe]] nearest buckets and are BROADCAST to the bucketed
    * corpus, so the only exchange in the whole plan is the final
    * per-query top-k over candidate rows (nprobe/nlist of the corpus).
    * Factored out so the spec can compute recall on the ranked frame
    * directly while q44 grades the same frame in-plan. */
  private[llm] def ivfTopk(s: SparkSession, dir: String,
      nprobe: Int = NProbe): DataFrame = {
    val ps = pivots(s, dir)
    val e = T.df(s, dir, "embeddings")
    val probes = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        norm(col("embedding")).as("qn"),
        explode(nearestPivotsCol(col("embedding"), ps, nprobe)).as("bucket"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    assignBuckets(s, dir)
      .select(col("vec_id").as("neighbor_id"), col("embedding"), col("bucket"))
      .join(broadcast(probes), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qe"), col("embedding")) / (col("qn") * norm(col("embedding"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select("query_id", "rank", "neighbor_id")
  }

  /** Near-dup cosine threshold shared by q50/q65 (and their oracles).
    * Chosen far from any fixture pair: measured min |cos − 0.45| is
    * 5.5e-4 (sf0.01) / 1.1e-4 (sf0.1) — 11 orders of magnitude above
    * double-summation rounding, so the ≥ test is engine-stable. */
  private val DupThreshold = 0.45
  private val NBlocks = 8

  /** BLOCKED exact all-pairs cosine ≥ [[DupThreshold]] over the whole
    * corpus — the 100 TB shape for mid-threshold embedding near-dup.
    *
    * WHY exact and not LSH: the fixture's true pairs sit at cosine
    * 0.45–0.60 (θ ≈ 53–63°) while unrelated 64-d vectors are near-
    * orthogonal. Sign-random-projection agreement is 1 − θ/π ≈ 0.65
    * per bit for a true pair vs 0.5 background — banding cannot
    * separate that: bands short enough to catch every true pair admit
    * ~all background pairs (16×4-bit bands: 98% of random pairs
    * collide), and longer bands lose true pairs. Hyperplane LSH only
    * prunes at high cosine (≥ ~0.8); at mid thresholds the scalable
    * design is BLOCKED EXACT all-pairs: group vectors into B blocks,
    * join the B(B+1)/2 block combinations, and run the dot-product
    * triangle of each combination as one compiled kernel
    * ([[graft.plans.PairCosine]]). Work is exactly n²/2 dots — nothing
    * hidden — but it parallelizes over block pairs with zero
    * intermediate blowup (the relational formulation shuffles dim×
    * the corpus and materializes |candidate|·dim rows; this plan's
    * only exchange is the one groupBy that forms the blocks). At
    * 100 TB, B is sized so two blocks fit in a task; probing-based
    * IVF (q44) remains the shape for top-k QUERIES, while this is the
    * shape for corpus×corpus sweeps.
    *
    * Memoized per (session, dir): q50 (capped listing — cap via
    * filter, no recompute) and q65 (full listing) share one
    * materialization. */
  private[graft] def blockedPairs(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Vector, s, "block|" + dir) {
      // materialize the block table ONCE before the self-join — an
      // unpersisted self-join re-scans and re-shuffles the corpus for
      // each side (PlanSpec pins the single-shuffle shape). The 100 TB
      // analogue is writing the blocked corpus out, then joining the
      // block manifest to itself.
      val blocks = T.df(s, dir, "embeddings")
        .select(pmod(col("vec_id"), lit(NBlocks)).as("g"),
          struct(col("vec_id"), col("embedding")).as("ve"))
        .groupBy("g").agg(collect_list(col("ve")).as("vs"))
        .persist()
      val pairs = blocks.as("x").join(blocks.as("y"), col("x.g") <= col("y.g"))
        .select(explode(graft.plans.PairCosine.pairs(
          col("x.vs"), col("y.vs"), col("x.g") === col("y.g"), DupThreshold)).as("p"))
        .select(col("p.vec_a"), col("p.vec_b"))
        .persist()
      pairs.count() // materialize, then drop the intermediate block table
      blocks.unpersist()
      pairs
    }(_.unpersist())

  /** The q157/q161 integer-centroid device, factored once (r15
    * review — the triHash lesson applied here before it bites):
    * components milli-quantize with half-away-from-zero rounding
    * (identical in both engines), the centroid is the integer-MICRO
    * TRUNCATING quotient (1000·Σq) div n (`div` rounds toward zero in
    * BOTH Spark and DuckDB, verified incl. negatives — NOT floor,
    * which differs for negative Σq; ADVICE r15 wording fix), and
    * deviations stay bounded by the quantization range — never by
    * corpus size — so downstream Σ(1000·q−μ)² distances are exact
    * int64. */
  private[llm] val QuantExpr =
    "transform(embedding, x -> cast(round(cast(x as double) * 1000, 0) as bigint))"

  /** Embedding dimensionality, empty-table-safe (dim 0 → the caller's
    * plan degrades to an empty frame instead of crashing). Probes ONE
    * row — callers must pair it with [[guardDim]] so a ragged corpus
    * fails loudly instead of silently skewing centroids. */
  private[graft] def embDim(e: DataFrame): Int =
    e.select(size(col("embedding")).as("d"))
      .head(1).headOption.map(_.getInt(0)).getOrElse(0)

  /** Ragged-embedding fail-loud guard (ADVICE r15): [[embDim]] reads
    * the dimensionality from one arbitrary row, and element_at past a
    * SHORTER array returns NULL which sum() silently skips — a ragged
    * corpus would produce wrong centroids, not an error. This per-row
    * predicate (the winnowFingerprints assert_true pattern: zero extra
    * scans, trivial codegen inside the existing projection stage)
    * raises on the first row whose size disagrees with the probed dim.
    * RaggedEmbeddingSpec pins both arms. */
  private[llm] def guardDim(dim: Int): Column =
    coalesce(assert_true(size(col("embedding")) === lit(dim),
      lit(s"ragged embedding column: expected uniform dim $dim " +
        "(embDim probes one row; mixed dims would corrupt centroids)")),
      lit(true))

  /** Integer-micro centroids per `key` over a frame bearing
    * (key, q: array<bigint>): ONE partial-agg shuffle of
    * |keys|·(dim+1) cells (the trainKmeans dimSums device), output
    * (key, mu: array<bigint>). */
  private[llm] def intCentroids(withQ: DataFrame, key: String, dim: Int): DataFrame = {
    val sums = (0 until dim).map(i => sum(element_at(col("q"), i + 1)).as(s"s$i"))
    val aggs = count(lit(1)).as("n") +: sums
    withQ.groupBy(key).agg(aggs.head, aggs.tail: _*)
      .select(col(key),
        array((0 until dim).map(i => expr(s"(1000 * s$i) div n")): _*).as("mu"))
  }

  /** Drop every cached frame/pivot fit owned by `s` (see [[graft.Caches]]). */
  def release(s: SparkSession): Unit = Family.Vector.release(s)

  /** Force-build the embedding family's memoized frames + fits — the
    * bench's named untimed cache-build slot (round 17; see
    * [[graft.llm.LlmText.prebuild]] for the billing rationale). The
    * pivot/PQ fits are driver-side arrays (calling the accessor IS
    * the build); the three frames are persisted roots. */
  private[graft] def prebuild(s: SparkSession, dir: String): Unit = {
    pivots(s, dir)
    pqCodebooks(s, dir)
    bruteTopk(s, dir).count()
    blockedPairs(s, dir).count()
    semanticDedup(s, dir).count()
    ()
  }

  val qs: Seq[Q] = Seq(

    // ---- brute-force cosine top-k (baseline; broadcast query side).
    Q("q43_ann_cosine_topk", cosineTopkSql, Family.Vector) { (s, dir) =>
      bruteTopk(s, dir).orderBy("query_id", "rank")
    },

    // ---- embedding-cosine near-dup pairs at θ ≥ 0.45 (the fixture's
    // pair spectrum is sparse above 0.45, far from the boundary).
    // Output ids only: integer-exact across engines.
    Q("q50_dedup_embedding_cosine",
      """WITH e AS (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
        |           FROM embeddings),
        |nrm AS (SELECT vec_id, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n FROM e GROUP BY vec_id),
        |dots AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, sum(a.v::DOUBLE * b.v::DOUBLE) AS d
        |         FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
        |         WHERE a.vec_id < 1000 AND b.vec_id < 1000
        |         GROUP BY 1, 2)
        |SELECT vec_a, vec_b FROM dots
        |  JOIN nrm na ON na.vec_id = vec_a JOIN nrm nb ON nb.vec_id = vec_b
        |WHERE d / (na.n * nb.n) >= 0.45
        |ORDER BY vec_a, vec_b""".stripMargin, Family.Vector) { (s, dir) =>
      // A filtered view of the memoized blocked all-pairs sweep
      // ([[blockedPairs]]): the oracle keeps its historical <1000 id
      // cap, so restrict the full pair table to it (pairs with both
      // ids under the cap are exactly the capped run's output). The
      // rounds-2–6 relational formulation (posexplode → position join
      // → codegen'd sum) is retained in LlmVectorSpec as the
      // differential cross-check of the kernel.
      blockedPairs(s, dir)
        .filter(col("vec_a") < 1000 && col("vec_b") < 1000)
        .orderBy("vec_a", "vec_b")
    },

    // ---- IVF top-k: bucket by nearest pivot, probe 2 buckets.
    // Bucket membership is not SQL-expressible, so the query GRADES
    // ITSELF against the brute-force baseline in-plan: per query,
    // recall_ok = |IVF∩brute| ≥ RecallBound·K. The oracle hard-codes
    // TRUE — any future recall regression flips the boolean and the
    // hash compare goes red. (LlmVectorSpec pins the same bound.)
    Q("q44_ann_ivf_topk",
      s"""SELECT vec_id AS query_id, ${K}::BIGINT AS k, true AS recall_ok
         |FROM embeddings WHERE vec_id < ${NQueries} ORDER BY query_id""".stripMargin, Family.Vector) { (s, dir) =>
      // grade against the exact baseline: recall = |IVF ∩ brute| / K
      // both grading sides are K·NQueries-bounded — broadcast them so
      // the grade never plans a shuffle join (same shape as q105's)
      val hits = ivfTopk(s, dir)
        .join(broadcast(bruteTopk(s, dir).select("query_id", "neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      T.df(s, dir, "embeddings").filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"))
        .join(broadcast(hits), Seq("query_id"), "left")
        .select(col("query_id"), lit(K.toLong).as("k"),
          (coalesce(col("hits"), lit(0L)) >= lit(math.ceil(RecallBound * K).toLong)).as("recall_ok"))
        .orderBy("query_id")
    },

    // ---- product quantization + asymmetric distance (the IVF-PQ
    // memory layout, Jégou et al.'s public PQ formulation): each
    // vector compresses to M=8 codewords of 4 bits — 4 bytes against
    // 256 float bytes, the 64× cut that lets a 100 TB embedding
    // corpus's candidate scan live in cluster RAM (q71's int8 is 4×;
    // PQ is the next rung). Codebooks fit driver-side on a bounded
    // sample ([[pqCodebooks]]) and ship as closure literals; the
    // corpus pass encodes AND scores map-only — each query
    // pre-computes an 8×16 LUT of subspace distances, so scoring a
    // vector is 8 array lookups, never a float dot product. The codes
    // SHORTLIST, they don't rank: only the [[PqShortlist]] ADC-best
    // per query are re-ranked with exact cosine (full-precision work
    // ∝ shortlist, never corpus — see [[pqTopk]]). Like q44: code
    // content is not SQL-expressible, so the query grades itself
    // in-plan — recall@K against the exact brute baseline must clear
    // [[PqRecallBound]], the oracle hard-codes TRUE, and any
    // quantization regression flips the hash compare.
    Q("q105_pq_adc",
      s"""SELECT vec_id AS query_id, ${K}::BIGINT AS k, true AS recall_ok
         |FROM embeddings WHERE vec_id < ${NQueries} ORDER BY query_id""".stripMargin, Family.Vector) { (s, dir) =>
      val hits = pqTopk(s, dir)
        .join(broadcast(bruteTopk(s, dir).select("query_id", "neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      T.df(s, dir, "embeddings").filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"))
        .join(broadcast(hits), Seq("query_id"), "left")
        .select(col("query_id"), lit(K.toLong).as("k"),
          (coalesce(col("hits"), lit(0L)) >=
            lit(math.ceil(PqRecallBound * K).toLong)).as("recall_ok"))
        .orderBy("query_id")
    },

    // ---- blocked exact all-pairs near-dup over the FULL corpus (no
    // cap): the corpus×corpus scale path — see [[blockedPairs]] for
    // the design (and why LSH is inapplicable at this threshold).
    // Oracle recomputes uncapped brute force relationally.
    Q("q65_dedup_embedding_blocked",
      """WITH e AS (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
        |           FROM embeddings),
        |nrm AS (SELECT vec_id, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n FROM e GROUP BY vec_id),
        |dots AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, sum(a.v::DOUBLE * b.v::DOUBLE) AS d
        |         FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
        |         GROUP BY 1, 2)
        |SELECT vec_a, vec_b FROM dots
        |  JOIN nrm na ON na.vec_id = vec_a JOIN nrm nb ON nb.vec_id = vec_b
        |WHERE d / (na.n * nb.n) >= 0.45
        |ORDER BY vec_a, vec_b""".stripMargin, Family.Vector) { (s, dir) =>
      blockedPairs(s, dir).orderBy("vec_a", "vec_b")
    },

    // ---- int8 scalar quantization (the ANN memory-compression step:
    // 4× smaller vectors for the candidate scan, full-precision only
    // for the final re-rank). Per-vector scale = max |x|; quantized
    // value = floor(x·127/scale) — floor, not round, so the math is a
    // pure IEEE-double expression with no tie-breaking semantics to
    // diverge between engines. Map-only at any scale (PlanSpec);
    // exploded to (vec_id, pos) rows so the oracle hash-compares
    // scalars, not list encodings. All-zero vectors quantize to zero
    // with scale 0 (guarded division).
    Q("q71_embed_quantize",
      """WITH m AS (SELECT vec_id, embedding,
        |                  list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS maxabs
        |           FROM embeddings),
        |q AS (SELECT vec_id, maxabs,
        |             unnest(list_transform(embedding,
        |               x -> CASE WHEN maxabs > 0 THEN floor(x::DOUBLE * 127.0 / maxabs) ELSE 0 END)) AS qv,
        |             generate_subscripts(embedding, 1) AS pos
        |      FROM m)
        |SELECT vec_id, pos::INTEGER AS pos, qv::BIGINT AS qv, maxabs FROM q
        |ORDER BY vec_id, pos""".stripMargin) { (s, dir) =>
      val maxabs = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
      T.df(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), maxabs.as("maxabs"))
        .select(col("vec_id"), col("maxabs"),
          posexplode(transform(col("embedding"),
            x => when(col("maxabs") > 0,
              floor(x.cast("double") * 127.0 / col("maxabs"))).otherwise(0L)))
            .as(Seq("pos0", "qv")))
        .select(col("vec_id"), (col("pos0") + 1).cast("int").as("pos"),
          col("qv").cast("long").as("qv"), col("maxabs"))
        .orderBy("vec_id", "pos")
    },

    // ---- distributed spherical k-means TRAINING over the full corpus
    // (semantic clustering for curation / IVF index fitting at scale —
    // unlike [[pivots]], which fits on a driver-side sample, this is
    // the 100 TB shape: per iteration, assignment is the map-only
    // [[graft.plans.NearestPivots]] projection with the centroids
    // embedded as literals, and the mean step is ONE partial-agg
    // shuffle of k·(dim+2) cells; only the k×dim centroid matrix ever
    // visits the driver, MLlib-style). Oracle is a self-asserting
    // envelope (the q44/q60 pattern): Lloyd's objective Σ cos(x, c) is
    // non-decreasing per round BY THEOREM (reassignment and the
    // normalized-mean step each improve it; emptied clusters keep
    // their centroid), and every row is assigned every round — the
    // query emits those booleans per iteration and the oracle pins
    // them TRUE, so any regression in kernel, assignment, or the mean
    // step flips the hash compare red. A 1e-6 tolerance absorbs
    // partition-order float-summation drift (values are O(100)).
    Q("q73_kmeans_train",
      s"""SELECT unnest(generate_series(1, ${TrainIters}))::BIGINT AS iter,
         |       true AS monotone_ok, true AS all_assigned
         |ORDER BY iter""".stripMargin) { (s, dir) =>
      import s.implicits._
      val n = T.df(s, dir, "embeddings").count()
      val iters = trainKmeans(s, dir)
      val rows = iters.zipWithIndex.map { case ((assigned, obj), i) =>
        val monotone = i == 0 || obj >= iters(i - 1)._2 - 1e-6
        ((i + 1).toLong, monotone, assigned == n)
      }
      rows.toDF("iter", "monotone_ok", "all_assigned").orderBy("iter")
    },

    // ---- SemDeDup-style semantic dedup: cluster the corpus, then
    // near-dup only WITHIN clusters — the standard way to make
    // embedding dedup sub-quadratic when the corpus has semantic
    // structure (pairs across clusters are by construction far).
    // Cluster assignment is the same map-only [[NearestPivots]]
    // projection as q44 (zero exchanges scan → cluster column), but
    // over a SQL-replicable pivot set — the first [[SemK]] vectors
    // unit-normalized, no k-means — so the whole query has an exact
    // DuckDB oracle (assignment argmax: measured best-vs-second pivot
    // cosine gap ≥ 4.7e-5 on both fixtures, 10 orders above cross-
    // engine float noise; dup threshold reuses [[DupThreshold]] and
    // its measured margin). Within-cluster pairs run on the
    // [[graft.plans.PairCosine]] compiled kernel with clusters as
    // blocks — same-cluster triangles only, so work is Σ|cluster|²/2,
    // not n²/2; the only exchanges are the cluster groupBy and the
    // final verdict join. Verdict: greedy keep-first — drop a vector
    // iff a LOWER-id vector in its cluster is within the threshold
    // (deterministic, order-free, one pass; the transitive-closure
    // variant is q57's connected components). At 100 TB: pivots come
    // from the q73 distributed trainer, k scales with corpus size so
    // cluster cardinality stays bounded, and skewed clusters split by
    // salting the triangle — the quadratic term is capped by design.
    Q("q83_dedup_semantic",
      s"""WITH e AS (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
         |           FROM embeddings),
         |nrm AS (SELECT vec_id, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n FROM e GROUP BY vec_id),
         |pd AS (SELECT c.vec_id, p.vec_id AS pid, sum(c.v::DOUBLE * p.v::DOUBLE) AS d
         |       FROM e c JOIN e p ON c.i = p.i WHERE p.vec_id < ${SemK}
         |       GROUP BY 1, 2),
         |asg AS (SELECT vec_id, pid AS cluster FROM (
         |          SELECT pd.vec_id, pd.pid,
         |                 row_number() OVER (PARTITION BY pd.vec_id
         |                   ORDER BY pd.d / np.n DESC, pd.pid) AS rk
         |          FROM pd JOIN nrm np ON np.vec_id = pd.pid) WHERE rk = 1),
         |dots AS (SELECT a.vec_id AS va, b.vec_id AS vb,
         |                sum(ea.v::DOUBLE * eb.v::DOUBLE) AS d
         |         FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |         JOIN e ea ON ea.vec_id = a.vec_id
         |         JOIN e eb ON eb.vec_id = b.vec_id AND ea.i = eb.i
         |         GROUP BY 1, 2),
         |dups AS (SELECT DISTINCT vb FROM dots
         |         JOIN nrm na ON na.vec_id = va JOIN nrm nb ON nb.vec_id = vb
         |         WHERE d / (na.n * nb.n) >= ${DupThreshold})
         |SELECT asg.vec_id, asg.cluster::BIGINT AS cluster,
         |       (dups.vb IS NULL) AS keep
         |FROM asg LEFT JOIN dups ON asg.vec_id = dups.vb
         |ORDER BY vec_id""".stripMargin, Family.Vector) { (s, dir) =>
      semanticDedup(s, dir)
    },

    // ---- Per-class embedding outliers (round 15 — mislabeled-data
    // screening: the vectors farthest from their own label's centroid
    // are the annotation errors / off-distribution rows a curation
    // pass reviews first). Exactness discipline: components quantize
    // to integer MILLI units (round half-away-from-zero — identical
    // in both engines) BEFORE any aggregation, the centroid is the
    // integer-MICRO truncating quotient (1000·Σq) div n (div rounds
    // toward zero in BOTH Spark and DuckDB — NOT floor, which differs
    // for negative Σq; verified, including negatives), and the
    // distance is the exact int64 Σ(1000·q−μ)² —
    // bounded by 64·(2·10⁶)² ≈ 2.6e14 regardless of corpus size, so
    // no float ever crosses an aggregation boundary. (The one
    // size-dependent term is the centroid's 1000·Σq, which overflows
    // int64 only past ~1.7e13 rows per label; the oracle's HUGEINT
    // sum has no such bound — document, don't guard, per the
    // Layout.scaled 2^53 discipline.) Plan at 100 TB: centroids are
    // ONE partial-agg shuffle of |labels|·(dim+1) cells (the
    // trainKmeans dimSums device — no posexplode of rows×dim), ship
    // back by broadcast, distance is a per-row projection, and the
    // top-3-per-label rank window collapses to WindowGroupLimit —
    // each shuffle partition forwards at most 3 rows per label, so
    // the final exchange moves O(|labels|·3·partitions) tuples, not
    // the corpus (PlanSpec pins the limit push and the broadcast).
    Q("q157_embed_outliers",
      """WITH e AS (SELECT vec_id, label,
        |             CAST(round(v::DOUBLE * 1000) AS BIGINT) AS q, i
        |           FROM (SELECT vec_id, label, unnest(embedding) AS v,
        |                        generate_subscripts(embedding, 1) AS i
        |                 FROM embeddings)),
        |c AS (SELECT label, i, (1000 * sum(q)) // count(*) AS mu
        |      FROM e GROUP BY 1, 2),
        |d AS (SELECT e.vec_id, e.label,
        |             sum((1000 * e.q - c.mu) * (1000 * e.q - c.mu)) AS d2
        |      FROM e JOIN c ON c.label = e.label AND c.i = e.i
        |      GROUP BY 1, 2),
        |r AS (SELECT label, vec_id, d2,
        |             row_number() OVER (PARTITION BY label
        |               ORDER BY d2 DESC, vec_id) AS rank
        |      FROM d)
        |SELECT label, rank::BIGINT AS rank, vec_id, d2::BIGINT AS d2
        |FROM r WHERE rank <= 3 ORDER BY label, rank""".stripMargin) { (s, dir) =>
      val e = T.df(s, dir, "embeddings")
      val dim = embDim(e) // empty-table-safe ([[embDim]])
      val withQ = e.filter(guardDim(dim)) // ragged corpus fails loudly
        .select(col("vec_id"), col("label"), expr(QuantExpr).as("q"))
      val cent = intCentroids(withQ, "label", dim)
      withQ.join(broadcast(cent), "label")
        .select(col("label"), col("vec_id"), expr(
          """aggregate(zip_with(q, mu, (a, b) -> (1000 * a - b) * (1000 * a - b)),
            |          cast(0 as bigint), (acc, v) -> acc + v)""".stripMargin).as("d2"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("label").orderBy(col("d2").desc, col("vec_id"))))
        .filter(col("rank") <= 3)
        .select(col("label"), col("rank").cast("long").as("rank"),
          col("vec_id"), col("d2"))
        .orderBy("label", "rank")
    },

    // ---- Cross-modal source diversity matrix (round 15 — the
    // embedding-space companion to q156's lexical overlap: how far
    // apart each source PAIR sits in embedding space, the domain-
    // diversity signal a mix decision reads next to the duplication
    // matrix — two sources can share zero trigrams yet cover the same
    // semantic region, and this is the operator that says so). The
    // corpus-side join documents⋈embeddings on doc_id = vec_id is the
    // one real exchange (at deployment both tables bucket by id, so
    // it co-locates to zero shuffle; embeddings cover the embedded
    // SUBSET of docs — inner join is the contract). Centroids use the
    // q157 integer discipline end-to-end (milli quantization, micro
    // truncating quotient, int64 distances bounded by the quantization
    // range, never by corpus size), reduced by ONE partial-agg
    // shuffle of |sources|·(dim+1) cells. The pairwise matrix never
    // joins: the |sources|-row centroid frame collapses to ONE row
    // via collect_list (sorted for determinism) and ordered pairs
    // explode from the array — the q156 pair device, ≤ C(|sources|,2)
    // rows out, no BroadcastNestedLoopJoin, no self-join.
    Q("q161_source_centroid_dist",
      """WITH j AS (SELECT d.source, e.embedding
        |           FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
        |x AS (SELECT source, CAST(round(v::DOUBLE * 1000) AS BIGINT) AS q, i
        |      FROM (SELECT source, unnest(embedding) AS v,
        |                   generate_subscripts(embedding, 1) AS i FROM j)),
        |c AS (SELECT source, i, (1000 * sum(q)) // count(*) AS mu
        |      FROM x GROUP BY 1, 2),
        |p AS (SELECT a.source AS s1, b.source AS s2,
        |             sum((a.mu - b.mu) * (a.mu - b.mu))::BIGINT AS d2
        |      FROM c a JOIN c b ON a.i = b.i AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT s1, s2, d2 FROM p ORDER BY s1, s2""".stripMargin) { (s, dir) =>
      val e = T.df(s, dir, "embeddings")
      val dim = embDim(e) // empty-table-safe ([[embDim]])
      val joined = e.filter(guardDim(dim)) // ragged corpus fails loudly
        .join(T.df(s, dir, "documents")
          .select(col("doc_id").as("vec_id"), col("source")), "vec_id")
        .select(col("source"), expr(QuantExpr).as("q"))
      intCentroids(joined, "source", dim)
        .select(struct(col("source"), col("mu")).as("sm"))
        .agg(sort_array(collect_list(col("sm"))).as("cs"))
        .select(explode(expr(
          """flatten(transform(cs, (a, ai) ->
            |  transform(slice(cs, ai + 2, size(cs)), b ->
            |    struct(a.source AS s1, b.source AS s2,
            |      aggregate(zip_with(a.mu, b.mu, (x, y) -> (x - y) * (x - y)),
            |                cast(0 as bigint), (acc, v) -> acc + v) AS d2))))""".stripMargin))
          .as("p"))
        .select(col("p.s1").as("s1"), col("p.s2").as("s2"), col("p.d2").as("d2"))
        .orderBy("s1", "s2")
    },

    // ---- Embedding-norm health screen (round 16 — the sanity table
    // an embedding pipeline reads before ANY similarity work: per
    // label, the min/mean/max squared L2 norm in exact MILLI² units
    // plus the zero-vector count. A collapsed encoder (all-zero or
    // near-zero vectors) or a normalization bug (norms far from the
    // unit shell) shows up here before it silently corrupts every
    // cosine downstream. Integer-exact: the q157 milli quantization,
    // Σq² ≤ dim·(2·10⁶)² bounded by the quantization range; per-label
    // truncating mean in the same order both engines. Plan: ONE scan,
    // map-only per-row fold (no posexplode — the HOF runs inside the
    // scan stage), |labels|-bounded agg.
    Q("q175_embedding_norms",
      """WITH e AS (SELECT vec_id, label,
        |             CAST(round(v::DOUBLE * 1000) AS BIGINT) AS q
        |           FROM (SELECT vec_id, label, unnest(embedding) AS v
        |                 FROM embeddings WHERE len(embedding) > 0)),
        |n AS (SELECT vec_id, label, sum(q * q)::BIGINT AS nsq FROM e GROUP BY 1, 2)
        |SELECT label, count(*)::BIGINT AS n_vecs,
        |       min(nsq)::BIGINT AS min_nsq, max(nsq)::BIGINT AS max_nsq,
        |       (sum(nsq) // count(*))::BIGINT AS mean_nsq,
        |       count(*) FILTER (WHERE nsq = 0)::BIGINT AS zero_vecs
        |FROM n GROUP BY 1 ORDER BY label""".stripMargin) { (s, dir) =>
      T.df(s, dir, "embeddings")
        .filter(size(col("embedding")) > 0)
        .select(col("label"), expr(
          s"""aggregate($QuantExpr, cast(0 as bigint), (acc, q) -> acc + q * q)""")
          .as("nsq"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"), min("nsq").as("min_nsq"),
          max("nsq").as("max_nsq"), sum("nsq").as("sum_nsq"),
          sum(when(col("nsq") === 0L, 1L).otherwise(0L)).as("zero_vecs"))
        .select(col("label"), col("n_vecs"), col("min_nsq"), col("max_nsq"),
          expr("sum_nsq div n_vecs").as("mean_nsq"), col("zero_vecs"))
        .orderBy("label")
    },

    // ---- SRP→cosine transfer table (round 16 — the q166/q172
    // calibration companion for the THIRD sketch family: 16-bit
    // sign-random-projection signatures over the embedding column.
    // [[blockedPairs]]'s docstring REJECTS hyperplane LSH for this
    // corpus's mid-cosine near-dups on 1−θ/π grounds; this table is
    // that claim MEASURED: per hamming distance of the true near-dup
    // pair set, the exact signed-cos² envelope in integer micro, next
    // to the C(16,h)/2¹⁶ random-collision share. True pairs smearing
    // across the hamming range (they land 2–10 of 16 at sf0.01) is
    // the printed reason banding cannot separate them — the
    // threshold-transfer number a dedup-config decision reads before
    // picking the blocked-exact path. Everything is engine-exact
    // integers: hyperplane signs are md5("p:j") parity (the q146
    // device on the plane/dim pair), vectors milli-quantize via
    // [[QuantExpr]], bits compare the exact integer dot against 0,
    // and signed-cos² cross-multiplies quantized norms — no float
    // leaves any engine. Plan at 100 TB: signature + norm compute is
    // map-only over one embeddings scan (the 16×dim sign matrix is a
    // plan literal, never a join); the only pair work is over the
    // MEMOIZED near-dup pair frame (|pairs|-bounded, q50/q65's
    // family), joined twice against the slim persisted signature
    // frame; the output is ≤ 17 rows.
    Q("q180_srp_transfer",
      """WITH e AS (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
        |           FROM embeddings),
        |nrm AS (SELECT vec_id, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n FROM e GROUP BY vec_id),
        |dots AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, sum(a.v::DOUBLE * b.v::DOUBLE) AS d
        |         FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2),
        |pr AS (SELECT vec_a, vec_b FROM dots
        |         JOIN nrm na ON na.vec_id = vec_a JOIN nrm nb ON nb.vec_id = vec_b
        |       WHERE d / (na.n * nb.n) >= 0.45),
        |q AS (SELECT vec_id, i - 1 AS j, CAST(round(v::DOUBLE * 1000) AS BIGINT) AS qv FROM e),
        |pl AS (SELECT p, j,
        |         CASE WHEN ('0x' || substr(md5(p || ':' || j), 1, 8))::BIGINT % 2 = 0 THEN 1 ELSE -1 END AS s
        |       FROM generate_series(0, 15) t(p), (SELECT DISTINCT j FROM q) u(j)),
        |bits AS (SELECT vec_id, p, CASE WHEN sum(s * qv) > 0 THEN 1 ELSE 0 END AS b
        |         FROM q JOIN pl USING (j) GROUP BY 1, 2),
        |sg AS (SELECT vec_id, sum(b * (1::BIGINT << p))::BIGINT AS sg FROM bits GROUP BY 1),
        |n2 AS (SELECT vec_id, sum(qv * qv)::BIGINT AS n2 FROM q GROUP BY 1),
        |pd AS (SELECT pr.vec_a, pr.vec_b, sum(a.qv * b.qv)::BIGINT AS dq
        |       FROM pr JOIN q a ON a.vec_id = pr.vec_a
        |               JOIN q b ON b.vec_id = pr.vec_b AND b.j = a.j
        |       GROUP BY 1, 2),
        |hx AS (SELECT bit_count(xor(sa.sg, sb.sg))::BIGINT AS ham,
        |         (CASE WHEN dq >= 0 THEN 1 ELSE -1 END
        |          * ((1000000::HUGEINT * dq::HUGEINT * dq) // (na.n2::HUGEINT * nb.n2)))::BIGINT AS scs
        |       FROM pd JOIN sg sa ON sa.vec_id = vec_a JOIN sg sb ON sb.vec_id = vec_b
        |               JOIN n2 na ON na.vec_id = vec_a JOIN n2 nb ON nb.vec_id = vec_b)
        |SELECT ham, count(*)::BIGINT AS n_pairs,
        |       min(scs)::BIGINT AS min_scs, (sum(scs) // count(*))::BIGINT AS mean_scs,
        |       max(scs)::BIGINT AS max_scs,
        |       (1000 * CASE ham WHEN 0 THEN 1 WHEN 1 THEN 16 WHEN 2 THEN 120 WHEN 3 THEN 560
        |          WHEN 4 THEN 1820 WHEN 5 THEN 4368 WHEN 6 THEN 8008 WHEN 7 THEN 11440
        |          WHEN 8 THEN 12870 WHEN 9 THEN 11440 WHEN 10 THEN 8008 WHEN 11 THEN 4368
        |          WHEN 12 THEN 1820 WHEN 13 THEN 560 WHEN 14 THEN 120 WHEN 15 THEN 16
        |          ELSE 1 END // 65536)::BIGINT AS random_milli
        |FROM hx GROUP BY ham ORDER BY ham""".stripMargin, Family.Vector) { (s, dir) =>
      val e = T.df(s, dir, "embeddings")
      val dim = embDim(e)
      val sigs = srpSignatures(e, dim).transform(Caches.persistForQuery)
      blockedPairs(s, dir)
        .join(sigs.select(col("vec_id").as("vec_a"), col("sg").as("sa"),
          col("n2").as("na2"), col("qv").as("qa")), "vec_a")
        .join(sigs.select(col("vec_id").as("vec_b"), col("sg").as("sb"),
          col("n2").as("nb2"), col("qv").as("qb")), "vec_b")
        .withColumn("dq", expr(
          "aggregate(zip_with(qa, qb, (x, y) -> x * y), cast(0 as bigint), (a, x) -> a + x)"))
        .withColumn("ham", expr("cast(bit_count(sa ^ sb) as bigint)"))
        .withColumn("scs", expr(
          """cast((case when dq >= 0 then 1 else -1 end)
            |  * ((cast(1000000 as decimal(38,0)) * dq * dq)
            |     div (cast(na2 as decimal(38,0)) * nb2)) as bigint)""".stripMargin))
        .groupBy("ham")
        .agg(count(lit(1)).as("n_pairs"), min("scs").as("min_scs"),
          sum("scs").as("sum_scs"), max("scs").as("max_scs"))
        .select(col("ham"), col("n_pairs"), col("min_scs"),
          expr("sum_scs div n_pairs").as("mean_scs"), col("max_scs"),
          expr("""(1000 * CASE ham WHEN 0 THEN 1 WHEN 1 THEN 16 WHEN 2 THEN 120
            |  WHEN 3 THEN 560 WHEN 4 THEN 1820 WHEN 5 THEN 4368 WHEN 6 THEN 8008
            |  WHEN 7 THEN 11440 WHEN 8 THEN 12870 WHEN 9 THEN 11440 WHEN 10 THEN 8008
            |  WHEN 11 THEN 4368 WHEN 12 THEN 1820 WHEN 13 THEN 560 WHEN 14 THEN 120
            |  WHEN 15 THEN 16 ELSE 1 END) div 65536""".stripMargin).as("random_milli"))
        .orderBy("ham")
    },

    // ---- Semantic-cluster occupancy census (round 16 — the third
    // quadratic-risk observability table, closing the trilogy with
    // q185's LSH bucket census and q186's join-key skew census: q83's
    // within-cluster exact pass costs Σ C(csize,2) pair work, so a
    // deployment reads THIS before every SemDeDup run — per cluster
    // the vector count, the triangle pair mass, the sub-block count
    // the [[SemSubCap]] skew cap would split it into, the resulting
    // block-pair task count, and the cluster's share of total pair
    // work in milli. A share concentrating in one cluster says re-fit
    // pivots or lower the cap BEFORE paying the triangle. The
    // C(csize,2) mass is ARITHMETIC on the census — no pair is
    // enumerated (the q185/q186 device). Plan at 100 TB: assignment is
    // the map-only [[graft.plans.NearestPivots]] kernel projection
    // (zero exchanges scan → cluster), ONE partial-agg shuffle to
    // |SemK| rows, and the share window runs over that bounded frame.
    // Pivots are the SQL-replicable first-[[SemK]] unit-norm vectors
    // (q83's contract-asserted device), so the census has an exact
    // DuckDB oracle, unlike the k-means IVF fit.
    Q("q188_sem_cluster_census",
      s"""WITH e AS (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
         |           FROM embeddings),
         |nrm AS (SELECT vec_id, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n FROM e GROUP BY vec_id),
         |pd AS (SELECT c.vec_id, p.vec_id AS pid, sum(c.v::DOUBLE * p.v::DOUBLE) AS d
         |       FROM e c JOIN e p ON c.i = p.i WHERE p.vec_id < ${SemK}
         |       GROUP BY 1, 2),
         |asg AS (SELECT vec_id, pid AS cluster FROM (
         |          SELECT pd.vec_id, pd.pid,
         |                 row_number() OVER (PARTITION BY pd.vec_id
         |                   ORDER BY pd.d / np.n DESC, pd.pid) AS rk
         |          FROM pd JOIN nrm np ON np.vec_id = pd.pid) WHERE rk = 1),
         |sz AS (SELECT cluster, count(*) AS csize FROM asg GROUP BY 1)
         |SELECT cluster::BIGINT AS cluster, csize::BIGINT AS csize,
         |       (csize * (csize - 1) // 2)::BIGINT AS tri_pairs,
         |       ((csize + ${SemSubCap - 1}) // ${SemSubCap})::BIGINT AS nsub,
         |       (((csize + ${SemSubCap - 1}) // ${SemSubCap})
         |          * (((csize + ${SemSubCap - 1}) // ${SemSubCap}) + 1) // 2)::BIGINT AS block_tasks,
         |       (1000 * (csize * (csize - 1) // 2)
         |          // NULLIF((SELECT sum(csize * (csize - 1) // 2) FROM sz), 0))::BIGINT AS tri_share_milli
         |FROM sz ORDER BY cluster""".stripMargin) { (s, dir) =>
      semanticAssign(s, dir)
        .groupBy("cluster").agg(count(lit(1)).as("csize"))
        .withColumn("tri_pairs", expr("csize * (csize - 1) div 2"))
        .withColumn("nsub", expr(s"(csize + ${SemSubCap - 1}) div ${SemSubCap}"))
        .withColumn("block_tasks", expr("nsub * (nsub + 1) div 2"))
        .withColumn("tot", sum("tri_pairs").over(
          Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col("cluster").cast("long").as("cluster"), col("csize"),
          col("tri_pairs"), col("nsub"), col("block_tasks"),
          expr("(1000 * tri_pairs) div nullif(tot, 0)").as("tri_share_milli"))
        .orderBy("cluster")
    },

    // ---- Per-label scatter: mean pairwise dot WITHOUT pairs (round
    // 16 — the class-COMPACTNESS census completing the label family:
    // q157 names each class's outliers, this prices each class's
    // overall coherence — a diffuse label is mislabeled or
    // multi-modal, the screen a labeled-data audit reads first. The
    // scale device is the algebraic identity Σ_{i≠j} q_i·q_j =
    // ‖Σq‖² − Σ‖q‖²: the mean pairwise dot of n vectors needs NO
    // pair enumeration — ONE |labels|·(dim+2)-cell partial-agg shuffle
    // (the q157/q161 dimSums device plus a per-row energy fold)
    // replaces the C(n,2) pair walk that is the 100 TB cliff. All
    // integer-exact on the milli-quantized grid (q157's QuantExpr +
    // ragged guard): scatter and energy products run in
    // decimal(38,0)/HUGEINT UNCONDITIONALLY (S_d ≈ n·1000 wraps int64
    // squared at n ≈ 3e6 per label); mean_pair_dot is the truncating
    // quotient (rounds toward zero — it CAN be negative for
    // anti-correlated classes, and both engines' div/// truncate
    // identically); compact_milli = 1000·scatter div ((n−1)·energy)
    // reads ≈ 1000·mean-cos for unit-ish vectors and is EXACTLY 1000
    // for n identical vectors (LabelScatterSpec pins the endpoint).
    // Singleton labels have no pairs → NULL on both engines (NULLIF).
    Q("q209_label_scatter",
      """WITH e AS (SELECT vec_id, label,
        |             CAST(round(v::DOUBLE * 1000) AS BIGINT) AS q, i
        |           FROM (SELECT vec_id, label, unnest(embedding) AS v,
        |                        generate_subscripts(embedding, 1) AS i
        |                 FROM embeddings)),
        |sd AS (SELECT label, i, sum(q)::HUGEINT AS s FROM e GROUP BY 1, 2),
        |s2 AS (SELECT label, sum(s * s) AS s2 FROM sd GROUP BY 1),
        |t AS (SELECT label, count(DISTINCT vec_id)::BIGINT AS n,
        |             sum((q::HUGEINT) * q) AS energy
        |      FROM e GROUP BY 1)
        |SELECT t.label, t.n, t.energy::BIGINT AS energy,
        |       ((s2.s2 - t.energy) // NULLIF(t.n * (t.n - 1), 0))::BIGINT AS mean_pair_dot,
        |       (1000::HUGEINT * (s2.s2 - t.energy)
        |        // NULLIF((t.n - 1)::HUGEINT * t.energy, 0))::BIGINT AS compact_milli
        |FROM t JOIN s2 USING (label) ORDER BY label""".stripMargin) { (s, dir) =>
      val e = T.df(s, dir, "embeddings")
      val dim = embDim(e)
      val withQ = e.filter(guardDim(dim))
        .select(col("vec_id"), col("label"), expr(QuantExpr).as("q"))
        .withColumn("energy", expr(
          "aggregate(q, cast(0 as bigint), (acc, x) -> acc + x * x)"))
      val sums = (0 until dim).map(i =>
        sum(element_at(col("q"), i + 1).cast("decimal(38,0)")).as(s"s$i"))
      val aggs = Seq(count(lit(1)).as("n"),
        sum(col("energy").cast("decimal(38,0)")).as("energy")) ++ sums
      // dim 0 (empty table) degrades to a zero scatter, not a parse error
      val s2Expr = if (dim == 0) "cast(0 as decimal(38,0))"
                   else (0 until dim).map(i => s"s$i * s$i").mkString(" + ")
      withQ.groupBy("label").agg(aggs.head, aggs.tail: _*)
        .withColumn("s2", expr(s2Expr))
        .select(col("label"), col("n"), col("energy").cast("long").as("energy"),
          expr("(s2 - energy) div nullif(n * (n - 1), 0)")
            .cast("long").as("mean_pair_dot"),
          expr("(cast(1000 as decimal(38,0)) * (s2 - energy)) div nullif((n - 1) * energy, 0)")
            .cast("long").as("compact_milli"))
        .orderBy("label")
    },

    // ---- IVF recall-vs-nprobe calibration (round 16 — the TUNING
    // table completing the sketch-calibration family: q166 calibrates
    // LSH bands, q172/q180 the SimHash/SRP transfer laws; this prices
    // the IVF knob a deployment actually turns. For nprobe ∈
    // {1, 2, 3, 8} of the NList=16 index, the recall@10 of [[ivfTopk]]
    // against the exact [[bruteTopk]] baseline. Like q44/q105 the
    // k-means content is not SQL-expressible, so the query grades
    // ITSELF in-plan and the oracle pins the grade TRUE: per row,
    // recall must be MONOTONE non-decreasing in nprobe — a THEOREM
    // here (nearest-pivot lists are prefix-nested, so candidate sets
    // nest, and a true top-K member is only ever displaced by
    // globally-better vectors), so a violation means the probe/rank
    // machinery broke, not the data — and the production nprobe
    // (NProbe = 3) must clear q44's aggregate recall floor. Any
    // regression in pivots, bucket assignment, or ranking flips the
    // hash compare. Plan: 4 tagged [[ivfTopk]] runs (the pivot fit is
    // memoized; at 100 TB a calibration runs on a bounded query
    // sample exactly as here — NQueries rows broadcast), hits counted
    // against the broadcast K·NQueries baseline, one 4-row window.
    Q("q213_ivf_recall_calib",
      """SELECT * FROM (VALUES (1::BIGINT, 10::BIGINT, 5::BIGINT, true),
        |                      (2::BIGINT, 10::BIGINT, 5::BIGINT, true),
        |                      (3::BIGINT, 10::BIGINT, 5::BIGINT, true),
        |                      (8::BIGINT, 10::BIGINT, 5::BIGINT, true))
        |  AS t(nprobe, k, n_queries, grade_ok)
        |ORDER BY nprobe""".stripMargin, Family.Vector) { (s, dir) =>
      import s.implicits._
      val sweep = Seq(1, 2, 3, 8)
      val tagged = sweep.map(np =>
        ivfTopk(s, dir, np).withColumn("nprobe", lit(np))).reduce(_.union(_))
      val brute = bruteTopk(s, dir)
        .select("query_id", "neighbor_id").withColumn("mark", lit(1))
      val hits = tagged
        .join(broadcast(brute), Seq("query_id", "neighbor_id"), "left")
        .groupBy("nprobe").agg(count(col("mark")).as("hits"))
      val floor = NQueries * math.ceil(RecallBound * K).toLong
      sweep.toDF("nprobe")
        .join(broadcast(hits), Seq("nprobe"), "left")
        .withColumn("hits", coalesce(col("hits"), lit(0L)))
        .withColumn("prev", lag("hits", 1).over(Window.orderBy("nprobe")))
        .select(col("nprobe").cast("long").as("nprobe"),
          lit(K.toLong).as("k"), lit(NQueries.toLong).as("n_queries"),
          (coalesce(col("hits") >= col("prev"), lit(true)) &&
            (col("nprobe") =!= NProbe || col("hits") >= floor)).as("grade_ok"))
        .orderBy("nprobe")
    }
  )

  /** q180's deterministic hyperplane-sign matrix: `planes` × `dim` of
    * ±1 from md5("p:j") 32-bit parity — byte-identical to the
    * oracle's SQL md5, pinned against independently computed values
    * by SrpTransferSpec. */
  private[llm] def srpSigns(planes: Int, dim: Int): Seq[Seq[Long]] =
    (0 until planes).map { p =>
      (0 until dim).map { j =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$p:$j".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
        if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1L else -1L
      }.toSeq
    }.toSeq

  /** 16-bit SRP signature + quantized self-dot per vector, map-only:
    * the sign matrix rides the plan as a LITERAL (never a join), the
    * per-plane dot is an exact integer fold over the milli-quantized
    * vector, and bit p sets on dot > 0. Returns
    * (vec_id, sg, n2, qv). */
  private[graft] def srpSignatures(e: DataFrame, dim: Int): DataFrame =
    e.filter(guardDim(dim))
      .withColumn("qv", expr(QuantExpr))
      .withColumn("sgns", typedLit(srpSigns(16, dim)))
      .select(col("vec_id"),
        expr(
          """aggregate(sequence(0, 15), cast(0 as bigint), (acc, p) ->
            |  acc + if(aggregate(zip_with(element_at(sgns, p + 1), qv, (s, v) -> s * v),
            |           cast(0 as bigint), (a, x) -> a + x) > 0,
            |        shiftleft(cast(1 as bigint), p), cast(0 as bigint)))""".stripMargin)
          .as("sg"),
        expr("aggregate(qv, cast(0 as bigint), (a, x) -> a + x * x)").as("n2"),
        col("qv"))

  /** q83's clustered dedup verdict, memoized per (session, dir) like
    * [[blockedPairs]] (the within-cluster triangle is the expensive
    * part; the sweep must not run it twice if a later consumer
    * appears). Released via [[release]]. */
  private[llm] def semanticDedup(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Vector, s, "sem|" + dir) {
      val asg = semanticAssign(s, dir)
      // SKEW CAP: a hot cluster would hand one task |c|²/2 dots, so
      // clusters larger than [[SemSubCap]] split into sub-blocks and
      // the triangle runs over the per-cluster block-pair matrix
      // (exactly the blockedPairs shape, nested inside each cluster) —
      // a task never holds more than two sub-blocks. The per-cluster
      // size table is k rows, broadcast. Fixture clusters are under
      // the cap (nsub = 1), so the fixture plan is the plain
      // per-cluster triangle; SemanticSkewSpec drives the multi-block
      // path explicitly and pins it equal.
      val sizes = asg.groupBy("cluster").agg(count(lit(1)).as("csize"))
      val blocks = skewCappedBlocks(asg, sizes, SemSubCap)
      val dups = blocks.as("x").join(blocks.as("y"),
          col("x.cluster") === col("y.cluster") && col("x.sub") <= col("y.sub"))
        .select(explode(graft.plans.PairCosine.pairs(
          col("x.vs"), col("y.vs"), col("x.sub") === col("y.sub"), DupThreshold)).as("p"))
        .select(col("p.vec_b").as("vec_id")).distinct()
        .withColumn("dup", lit(true))
      val out = asg.join(dups, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
          coalesce(!col("dup"), lit(true)).as("keep"))
        .orderBy("vec_id")
        .persist()
      out.count() // materialize, then drop the intermediate block table
      blocks.unpersist()
      out
    }(_.unpersist())

  /** q83's map-only cluster assignment (vec_id, embedding, cluster). */
  private[llm] def semanticAssign(s: SparkSession, dir: String): DataFrame =
    T.df(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        bucketCol(col("embedding"), semPivots(s, dir)).as("cluster"))

  /** Per-cluster sub-blocking for the skew cap: clusters above `cap`
    * split into ceil(|c|/cap) id-hashed sub-blocks, each materialized
    * as one (cluster, sub, vs) row — the triangle then joins the
    * per-cluster block-pair matrix (x.sub <= y.sub, same-flag on
    * equality) and every unordered in-cluster pair is enumerated
    * exactly once. `sizes` is one row per cluster (broadcast). */
  private[llm] def skewCappedBlocks(asg: DataFrame, sizes: DataFrame,
                                    cap: Int): DataFrame =
    asg.join(broadcast(sizes), "cluster")
      .withColumn("nsub",
        greatest(lit(1L), ceil(col("csize").cast("double") / cap)).cast("int"))
      .withColumn("sub", pmod(col("vec_id"), col("nsub")).cast("int"))
      .select(col("cluster"), col("sub"),
        struct(col("vec_id"), col("embedding")).as("ve"))
      .groupBy("cluster", "sub").agg(collect_list(col("ve")).as("vs"))
      .persist()

  /** q83's cluster centers: the first [[SemK]] corpus vectors by
    * vec_id, unit-normalized — deterministic AND exactly replicable in
    * the SQL oracle (unlike the k-means [[pivots]]). Unit norm makes
    * the kernel's raw-dot argmax equal cosine argmax.
    *
    * The Spark side labels clusters by pivot-array INDEX while the
    * oracle labels them by pivot vec_id (its pivot set is
    * `vec_id < SemK`) — the two definitions coincide ONLY when the
    * first SemK vec_ids are exactly 0..SemK-1, so that contract is
    * ASSERTED here rather than assumed (ADVICE r7): a 1-based or
    * gapped id space must fail loudly, not diverge silently. */
  private def semPivots(s: SparkSession, dir: String): Array[Array[Double]] = {
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val rows = T.df(s, dir, "embeddings")
      .orderBy("vec_id").limit(SemK)
      .select("vec_id", "embedding").collect()
    val ids = rows.map(_.getLong(0))
    require(ids.sameElements(0L until SemK.toLong),
      s"q83 pivot labels assume contiguous 0-based vec_ids; first $SemK ids = " +
        ids.mkString("[", ",", "]") +
        " — relabel the oracle's pivot set before trusting the compare")
    rows.map(_.getSeq[Float](1).map(_.toDouble).toArray).map(unit)
  }

  /** q73's Lloyd loop: per iteration (rows assigned, Σ cos(x, c)).
    * Factored out so LlmVectorSpec can assert REAL convergence — a
    * strict objective increase on the fixture — beyond the oracle's
    * tolerance booleans. */
  private[llm] def trainKmeans(s: SparkSession, dir: String): Seq[(Long, Double)] = {
    import s.implicits._
    val e = T.df(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    def unit(v: Array[Double]): Array[Double] = {
      val nn = math.sqrt(v.map(x => x * x).sum)
      if (nn == 0) v else v.map(_ / nn)
    }
    // deterministic init: first k vectors by vec_id, unit-normalized
    var cents = e.orderBy("vec_id").limit(TrainK).select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray).map(unit)
    val dim = cents.headOption.map(_.length).getOrElse(0)
    val centSchema = Seq.empty[(Int, Array[Float])].toDF("cl", "cent").schema
    (1 to TrainIters).map { _ =>
      val centDf = s.createDataFrame(
        s.sparkContext.parallelize(
          cents.zipWithIndex.map { case (c, i) =>
            org.apache.spark.sql.Row(i, c.map(_.toFloat).toSeq) }.toSeq, 1),
        centSchema)
      val nrm = norm(col("embedding"))
      val dimSums = (0 until dim).map(i =>
        sum(when(nrm > 0, element_at(col("embedding"), i + 1) / nrm)
          .otherwise(0d)).as(s"s$i"))
      val aggs = Seq(count(lit(1)).as("cnt"),
        sum(when(nrm > 0, dot(col("embedding"), col("cent")) / nrm)
          .otherwise(0d)).as("obj")) ++ dimSums
      // kernel pivot ids are 0-based, matching centDf
      val perCl = e
        .select(col("embedding"),
          element_at(nearestPivotsCol(col("embedding"), cents, 1), 1).as("cl"))
        .join(broadcast(centDf), "cl")
        .groupBy("cl").agg(aggs.head, aggs.tail: _*)
        .collect()
      val assigned = perCl.map(_.getLong(1)).sum
      val obj = perCl.map(_.getDouble(2)).sum
      val next = cents.clone()
      perCl.foreach { r =>
        val m = unit(Array.tabulate(dim)(i => r.getDouble(3 + i)))
        if (m.exists(_ != 0)) next(r.getInt(0)) = m
      }
      cents = next
      (assigned, obj)
    }
  }
}
