package graft.ops

import graft.{Caches, Family}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Q, T}

/** Iterative graph analytics over relational edge lists — the
  * entity-importance pass a curation pipeline runs over its link /
  * citation / co-occurrence graphs (e.g. domain authority as a
  * document-quality prior).
  *
  * q109 is PageRank over the undirected customer↔supplier trading
  * graph (an edge per distinct trading pair from orders⋈lineitem,
  * both directions), run for a fixed 3 iterations.
  *
  * q113 is triangle counting over the part co-purchase graph (parts
  * sharing an order), the clustering-coefficient building block of
  * community/cohesion analysis. The customer↔supplier graph is
  * bipartite (zero triangles by construction), so this query builds
  * the one-mode projection instead: distinct part pairs co-occurring
  * in an order.
  *
  * Exactness: ranks are integer milli-units with floor division on
  * both engines (`div` / `//` agree on positives): pr₀ = 1000,
  * contribution = pr div outdeg, pr' = 150 + (850·Σcontrib) div 1000
  * — the 0.15/0.85 damped update with no float anywhere, so the
  * DuckDB unrolled-CTE oracle hashes identically. Dropped remainders
  * stay dropped identically on both sides.
  *
  * Plan at 100 TB: iterative algorithms must NOT re-derive the graph
  * per iteration — lazy lineage re-expands the whole build under every
  * iteration, and runtime exchange reuse only partially rescues it (a
  * measured build of this query without the persists scanned lineitem
  * 16× for 3 iterations: AQE reused 9 exchanges and still recomputed
  * the rest). So the two invariant frames are persisted once per
  * (session, dir): the distinct trading-pair list (the expensive
  * orders⋈lineitem distinct — its fact-table scan happens exactly
  * once) and the out-degree-annotated edge list `ed` that every
  * iteration joins. Each iteration is then: cached `ed` ⋈ rank frame
  * (shuffle on the rank key), contribution sum shuffled on dst with
  * map-side partials — O(|edges|) per iteration, ranks O(|nodes|),
  * never on the driver. A long-running production job additionally
  * checkpoints the rank frame every ~5 iterations to cut lineage. The
  * final top-30 is TakeOrderedAndProject (per-partition heaps, no
  * global sort). PlanSpec pins one-lineitem-scan + no-cartesian +
  * the top-k form; released via [[release]] (Caches family).
  */
object Graph {

  /** Distinct (custkey, suppkey+1e6) trading pairs — the one
    * fact-table-scanning subtree, persisted so the edge list, the
    * degree table, and nothing else ever re-reads lineitem. */
  private def pairs(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Graph, s, "pair|" + dir) {
      val o = T.df(s, dir, "orders").select("o_orderkey", "o_custkey")
      val l = T.df(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), (col("l_suppkey") + 1000000L).as("s"))
        .distinct()
        .persist()
    }(_.unpersist())

  /** (src, dst, outdeg) undirected trading edges with out-degree
    * attached — the per-iteration join frame, persisted once per
    * (session, dir). */
  private[graft] def edgesDeg(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Graph, s, "ed|" + dir) {
      val cs = pairs(s, dir)
      val edges = cs.select(col("c").as("src"), col("s").as("dst"))
        .union(cs.select(col("s").as("src"), col("c").as("dst")))
      val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      // persisted PARTITIONED on the join key: every iteration joins
      // this frame on src, so the cached partitioning satisfies the
      // join's distribution and only the O(|nodes|) rank frame
      // shuffles per iteration — the edge list never re-exchanges
      edges.join(deg, "src").repartition(col("src")).persist()
    }(_.unpersist())

  /** Distinct (order `k`, part `p`) items — ONE fact-table scan
    * feeding the whole part-graph family (round 14: q113's pair set,
    * q122's support counts, and q137's co/degree frames were three
    * separate lineitem derivations of the same object; now every
    * consumer reads these two persisted frames and the scan happens
    * exactly once per (session, dir)). */
  private def orderItems(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Graph, s, "orderItems|" + dir)(
      T.df(s, dir, "lineitem")
        .select(col("l_orderkey").as("k"), col("l_partkey").as("p"))
        .distinct()
        .persist())(_.unpersist())

  /** Order-basket pair SUPPORT (pa < pb, n) — the weighted co-purchase
    * edge list, persisted once: q122 is its top-30, q113's canonical
    * edge set is its key projection (support rows are distinct pairs
    * by construction), q137's cosine numerator is its counts. Built
    * from [[orderItems]] via per-order sorted part sets ([[basketsOf]],
    * bounded ≤ 7 lineitems per TPC-H order) expanded to their ≤ C(7,2)
    * pairs map-side by [[basketPairs]] — order baskets are
    * schema-bounded, so the mega-basket tiling hedge stays where
    * baskets are unbounded ([[pairCounts]], q133's customer baskets). */
  private[graft] def pairSupport(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Graph, s, "pairSupport|" + dir) {
      basketPairs(basketsOf(orderItems(s, dir)))
        .groupBy("pa", "pb").agg(count(lit(1)).as("n"))
        .persist()
    }(_.unpersist())

  /** Canonical (a < b) distinct part pairs — q113's undirected edge
    * set, now a projection of the persisted [[pairSupport]] frame. */
  private def partPairs(s: SparkSession, dir: String): DataFrame =
    pairSupport(s, dir).select(col("pa").as("a"), col("pb").as("b"))


  /** Degree-ordered orientation of a canonical (a < b) pair frame:
    * each edge pointed from its (degree, id)-smaller endpoint. The
    * property that makes triangle counting O(m^1.5): every node's OUT-
    * degree is ≤ O(√m) regardless of its undirected degree — a hub's
    * edges point INTO it from its (mostly smaller-degree) neighbors —
    * so wedge enumeration at out-neighborhoods never quadratically
    * explodes on a celebrity vertex. GraphSpec pins the bound on a
    * star-dominated synthetic graph. */
  private[graft] def orient(pairs: DataFrame): DataFrame = {
    val deg = pairs.select(col("a").as("n"))
      .union(pairs.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // (deg, id) lexicographic orientation — id is unique, so the
    // order is total and ties cannot matter
    val lt = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    pairs
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(when(lt, col("a")).otherwise(col("b")).as("u"),
        when(lt, col("b")).otherwise(col("a")).as("v"))
  }

  /** Degree-ordered orientation of [[partPairs]] — each edge pointed
    * from its (degree, id)-smaller endpoint. Persisted: the wedge
    * self-join reads it twice, and caching it makes the degree
    * aggregate run exactly once (at fill time) instead of once per
    * degree-join branch (measured: the uncached form planned the
    * node-degree aggregate 4× and the orientation pass 2×). */
  private def oriented(s: SparkSession, dir: String): DataFrame =
    Caches.memo(Family.Graph, s, "ori|" + dir)(
      orient(partPairs(s, dir))
        // persisted PARTITIONED on the wedge key: InMemoryRelation
        // reports its child's outputPartitioning, so both branches of
        // the wedge self-join read co-partitioned cache with no
        // re-exchange
        .repartition(col("u"))
        .persist())(_.unpersist())

  /** Unpersists the cached graph frames for `s`. */
  def release(s: SparkSession): Unit = Family.Graph.release(s)

  /** Force-build the graph family's memoized frames — the bench's
    * named untimed cache-build slot (round 17; see
    * [[graft.llm.LlmText.prebuild]] for the billing rationale).
    * [[edgesDeg]] forces [[pairs]]; [[oriented]] forces
    * [[pairSupport]] → [[orderItems]]. */
  private[graft] def prebuild(s: SparkSession, dir: String): Unit = {
    edgesDeg(s, dir).count()
    pairSupport(s, dir).count()
    oriented(s, dir).count()
    ()
  }

  val qs: Seq[Q] = Seq(
    Q("q109_pagerank",
      """WITH e0 AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |edges AS (SELECT c AS src, s + 1000000 AS dst FROM e0
        |          UNION ALL SELECT s + 1000000, c FROM e0),
        |deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY 1),
        |p1 AS (SELECT e.dst AS node, 150 + (850 * sum(1000 // d.outdeg)) // 1000 AS pr
        |       FROM edges e JOIN deg d ON d.src = e.src GROUP BY 1),
        |p2 AS (SELECT e.dst AS node, 150 + (850 * sum(p.pr // d.outdeg)) // 1000 AS pr
        |       FROM edges e JOIN p1 p ON p.node = e.src JOIN deg d ON d.src = e.src GROUP BY 1),
        |p3 AS (SELECT e.dst AS node, 150 + (850 * sum(p.pr // d.outdeg)) // 1000 AS pr
        |       FROM edges e JOIN p2 p ON p.node = e.src JOIN deg d ON d.src = e.src GROUP BY 1)
        |SELECT node, pr::BIGINT AS pr_milli FROM p3
        |ORDER BY pr_milli DESC, node LIMIT 30""".stripMargin, Family.Graph) { (s, dir) =>
      val ed = edgesDeg(s, dir)
      // pr₀ = 1000 for every node with out-edges (= every node of the
      // undirected graph); distinct over the CACHED edge frame, no
      // fact-table re-scan
      var pr = ed.select(col("src").as("node")).distinct()
        .withColumn("pr", lit(1000L))
      for (_ <- 1 to 3) {
        pr = ed.join(pr, col("src") === col("node"))
          .groupBy(col("dst"))
          .agg(sum(expr("pr div outdeg")).as("csum"))
          .select(col("dst").as("node"),
            expr("150 + (850 * csum) div 1000").cast("long").as("pr"))
      }
      pr.select(col("node"), col("pr").as("pr_milli"))
        .orderBy(col("pr_milli").desc, col("node"))
        .limit(30)
    },

    // ---- Triangle counting with degree-ordered orientation (the
    // published MapReduce formulation — Suri & Vassilvitskii's WWW'11
    // partition scheme's sequential core: orient every edge from its
    // (degree, id)-smaller endpoint, enumerate wedges only at out-
    // neighborhoods, close against the canonical edge set). The
    // orientation bounds wedge work at O(m^1.5) total — a hub of
    // degree d contributes min(d, √m)² wedges, not d² — so the skew
    // cliff of the naive center-at-every-node form never happens.
    // Plan at 100 TB: two cached frames — the canonical pair table
    // (its orderkey self-join scans lineitem once, bounded fanout) and
    // the oriented edge list (degree agg + node-keyed degree joins run
    // ONCE at fill; broadcast at fixture scale, plain hash joins on
    // the same key when the node table outgrows executors — no plan
    // cliff). The wedge self-join shuffles the cached oriented edges
    // on their source; the closing join shuffles wedge candidates
    // against the cached pairs on the canonical pair key. Per-part
    // attribution explodes each triangle to its 3 corners (×3,
    // map-side) into one partial-agg shuffle; top-30 is
    // TakeOrderedAndProject. PlanSpec pins the cached-frame reuse +
    // no cartesian + the top-k form.
    Q("q113_triangle_count",
      """WITH pairs AS (
        |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
        |deg AS (
        |  SELECT n, count(*)::BIGINT AS d FROM (
        |    SELECT a AS n FROM pairs UNION ALL SELECT b FROM pairs) GROUP BY 1),
        |ori AS (
        |  SELECT CASE WHEN (da.d, p.a) < (db.d, p.b) THEN p.a ELSE p.b END AS u,
        |         CASE WHEN (da.d, p.a) < (db.d, p.b) THEN p.b ELSE p.a END AS v
        |  FROM pairs p JOIN deg da ON da.n = p.a JOIN deg db ON db.n = p.b),
        |tri AS (
        |  SELECT o1.u AS x, o1.v AS y, o2.v AS z
        |  FROM ori o1 JOIN ori o2 ON o1.u = o2.u AND o1.v < o2.v
        |  JOIN pairs e ON e.a = least(o1.v, o2.v) AND e.b = greatest(o1.v, o2.v)),
        |pn AS (SELECT unnest([x,y,z]) AS part, 1 AS one FROM tri)
        |SELECT part, count(*)::BIGINT AS n_tri FROM pn GROUP BY 1
        |ORDER BY n_tri DESC, part LIMIT 30""".stripMargin, Family.Graph) { (s, dir) =>
      val pairs = partPairs(s, dir)
      val ori = oriented(s, dir)
      // Bloom pre-filter on the canonical closing key (q81's broadcast-
      // sketch discipline): the overwhelming majority of wedges do NOT
      // close — pruning them MAP-SIDE, inside the wedge-join stage,
      // keeps them out of the closing shuffle entirely (measured at
      // sf0.1: 11.7 → 7.6 s median; with the one-scan pair build the
      // query medians 5.1 s — the residual cost is the wedge
      // enumeration itself, inherent to the O(m^1.5) bound; the
      // single-node DuckDB formulation takes 24 s on the same rows).
      // False positives are removed by
      // the exact join below, so the sketch only ever over-admits;
      // xxhash64 collisions likewise. The sketch is sized by the
      // cached pair count (a 1-cell driver scalar over the cache).
      val bloom = graft.plans.BloomKernels.buildBroadcast(
        s, pairs.select(xxhash64(col("a"), col("b")).as("k")), "k",
        pairs.count(), 0.01)
      val wedges = ori.select(col("u"), col("v").as("v1"))
        .join(ori.select(col("u"), col("v").as("v2")), "u")
        .filter(col("v1") < col("v2"))
        .filter(graft.plans.BloomKernels.bloomHits(
          array(xxhash64(least(col("v1"), col("v2")),
            greatest(col("v1"), col("v2")))), bloom) === 1)
      val tri = wedges.join(pairs,
        col("a") === least(col("v1"), col("v2")) &&
          col("b") === greatest(col("v1"), col("v2")))
        .select(col("u").as("x"), col("v1").as("y"), col("v2").as("z"))
      tri.select(explode(array(col("x"), col("y"), col("z"))).as("part"))
        .groupBy("part").agg(count(lit(1)).as("n_tri"))
        .orderBy(col("n_tri").desc, col("part"))
        .limit(30)
    },

    // ---- Frequent co-purchase pairs (the A-priori first pass /
    // market-basket support counts — equivalently, the WEIGHTED edges
    // of q113's co-purchase graph). Same one-scan build as the q113
    // pair table but WITHOUT the global distinct: each order's part
    // set expands to its ≤ C(7,2) pairs map-side and the support count
    // is one (a, b)-keyed aggregate with map-side partials — per-order
    // dedup is free because the basket is a SET. Top-30 is
    // TakeOrderedAndProject. At 100 TB the pair stream is ≤ 21× orders
    // rows and the aggregate is the only exchange past the basket
    // build; hot pairs are just heavy keys in a hash agg (partials
    // absorb them — no skew cliff). Round 14: the support frame is the
    // family-shared persisted [[pairSupport]] (q113/q137 read the same
    // object), so this query is a top-30 heap over the cache and the
    // one fact scan is paid once per session, not per query. PlanSpec
    // pins cached-read + top-k.
    Q("q122_frequent_pairs",
      """WITH b AS (SELECT l_orderkey, list_distinct(list(l_partkey)) AS ps FROM lineitem GROUP BY 1),
        |p AS (SELECT u1.p1 AS a, u2.p2 AS b FROM b,
        |      unnest(ps) AS u1(p1), unnest(ps) AS u2(p2) WHERE u1.p1 < u2.p2)
        |SELECT a, b, count(*)::BIGINT AS support FROM p GROUP BY 1, 2
        |ORDER BY support DESC, a, b LIMIT 30""".stripMargin, Family.Graph) { (s, dir) =>
      pairSupport(s, dir)
        .select(col("pa").as("a"), col("pb").as("b"), col("n").as("support"))
        .orderBy(col("support").desc, col("a"), col("b"))
        .limit(30)
    },

    // ---- Frequent triples via Apriori candidate pruning (round 13 —
    // the second market-basket pass q122 stops short of): customer-
    // level baskets (parts across ALL a customer's orders), frequent
    // 3-itemsets at support ≥ 3. The enumeration NEVER materializes
    // raw basket triples (C(n,3) per basket — the thing that cannot
    // ship at 100 TB): support anti-monotonicity (a triple's support
    // ≤ each sub-pair's) means candidates are exactly the fp×fp×fp
    // closures of the FREQUENT-pair table, which the support
    // threshold makes small-by-construction (8,976 rows at sf0.1
    // against 12.7M raw pairs) — broadcastable. Both passes read ONE
    // persisted sorted part set per customer ([[Graph.frequentTriples]]),
    // so no join reads the items twice where the SQL form self-joins
    // them three times. The oracle states the SAME pruned
    // formulation; the pruning is a theorem, not an approximation, so
    // it computes exactly the brute triple counts (FrequentTriplesSpec
    // pins that equivalence on adversarial synthetic baskets where
    // the brute form is feasible, plus the support boundary).
    Q("q133_frequent_triples",
      """WITH items AS (SELECT DISTINCT o.o_custkey AS k, l.l_partkey AS p
        |               FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |pairs AS (SELECT a.p AS pa, b.p AS pb, count(*) AS n
        |          FROM items a JOIN items b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2),
        |fp AS (SELECT pa, pb FROM pairs WHERE n >= 3),
        |cand AS (SELECT f.pa, f.pb, g.pb AS pc
        |         FROM fp f JOIN fp g ON f.pa = g.pa AND f.pb < g.pb
        |                   JOIN fp h ON h.pa = f.pb AND h.pb = g.pb),
        |tri AS (SELECT c.pa, c.pb, c.pc, count(*) AS n
        |        FROM cand c JOIN items a ON a.p = c.pa
        |                    JOIN items b ON b.k = a.k AND b.p = c.pb
        |                    JOIN items d ON d.k = a.k AND d.p = c.pc
        |        GROUP BY 1, 2, 3)
        |SELECT pa, pb, pc, n::BIGINT AS support FROM tri WHERE n >= 3
        |ORDER BY pa, pb, pc""".stripMargin) { (s, dir) =>
      // no distinct: collect_set dedups each basket
      val items = T.df(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
        .join(T.df(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("k"), col("l_partkey").as("p"))
      frequentTriples(items, 3)
    },

    // ---- Multi-source BFS hop distance (round 14) — the graph-
    // TRAVERSAL member the family lacked (q109 ranks, q113 counts
    // closed structure, q57 finds components; none answers "how far").
    // Sources = every customer in nation 0; the query labels each
    // reachable node with its shortest hop count within 3 expansion
    // rounds and reports the per-hop frontier census (count + id sum
    // as a collision-resistant membership checksum). Frontier fold is
    // min-hop: each round, relax every edge out of the labeled set
    // and keep min(hop) per node — the textbook distributed
    // Bellman-Ford step specialized to unit weights, which makes the
    // round count the hop bound and the fold idempotent (re-relaxing
    // a settled node can only re-derive its label, never lower it, so
    // the unrolled form equals true BFS at hops ≤ 3). All-integer, so
    // the DuckDB unrolled-CTE oracle hashes identically. The graph is
    // bipartite customer↔supplier: odd hops land on suppliers
    // (node ≥ 1e6), even hops on customers — the census exposes that
    // parity, and a sources row at hop 0 survives even for customers
    // with no orders (absent from the edge list ⇒ never relaxed).
    // Plan at 100 TB: the label frame is O(|nodes|) and is the ONLY
    // thing that shuffles per round — the degree-annotated edge list
    // is the SAME persisted src-partitioned frame q109 iterates on
    // (zero edge-side exchange per round, zero fact-table re-scans
    // when q109/q136 share a session), relaxation is edge ⋈ labels on
    // the cached partitioning, and the min-hop fold is a hash agg
    // with map-side partials. The census output is |hops|-bounded.
    Q("q136_bfs_hops",
      """WITH e0 AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |edges AS (SELECT c AS src, s + 1000000 AS dst FROM e0
        |          UNION ALL SELECT s + 1000000, c FROM e0),
        |d0 AS (SELECT c_custkey AS node, 0 AS hop FROM customer WHERE c_nationkey = 0),
        |d1 AS (SELECT node, min(hop) AS hop FROM (
        |         SELECT e.dst AS node, d.hop + 1 AS hop FROM edges e JOIN d0 d ON d.node = e.src
        |         UNION ALL SELECT node, hop FROM d0) GROUP BY 1),
        |d2 AS (SELECT node, min(hop) AS hop FROM (
        |         SELECT e.dst AS node, d.hop + 1 AS hop FROM edges e JOIN d1 d ON d.node = e.src
        |         UNION ALL SELECT node, hop FROM d1) GROUP BY 1),
        |d3 AS (SELECT node, min(hop) AS hop FROM (
        |         SELECT e.dst AS node, d.hop + 1 AS hop FROM edges e JOIN d2 d ON d.node = e.src
        |         UNION ALL SELECT node, hop FROM d2) GROUP BY 1)
        |SELECT hop::BIGINT AS hop, count(*)::BIGINT AS n_nodes, sum(node)::BIGINT AS node_sum
        |FROM d3 GROUP BY 1 ORDER BY 1""".stripMargin, Family.Graph) { (s, dir) =>
      val sources = T.df(s, dir, "customer")
        .filter(col("c_nationkey") === 0)
        .select(col("c_custkey").as("node"))
      bfsHops(edgesDeg(s, dir), sources, 3)
        .groupBy("hop")
        .agg(count(lit(1)).as("n_nodes"), sum("node").as("node_sum"))
        .orderBy("hop")
    },

    // ---- Item-item co-purchase similarity / collaborative-filter
    // recommendations (round 14) — the rec-sys read of the q122
    // weighted co-purchase graph: for the 10 highest-degree parts
    // (the "customers also bought" anchors), the top-5 neighbors by
    // squared cosine over order baskets, sim²(a,b) = co(a,b)² /
    // (deg(a)·deg(b)), in integer micro-units — numerator and
    // denominator are exact bigint counts and the one division is
    // integral on BOTH engines: Spark decimal(38,0) `div`, DuckDB
    // HUGEINT `//` (DuckDB's DECIMAL `//` silently degrades to
    // double true-division and its BIGINT cast ROUNDS — measured
    // off-by-one — so the oracle pins the 128-bit integer domain
    // where `//` truncates like `div`); no float ever orders the
    // ranking and the oracle hashes bit-for-bit; ties break on the
    // neighbor key.
    // Plan at 100 TB: the pair-support frame IS the family-shared
    // persisted [[pairSupport]] (map-side bounded expansion ≤ C(7,2)
    // per schema-bounded order basket; unbounded baskets keep the
    // [[pairCounts]] tiling hedge — q133's customer-level path),
    // degrees are one hash agg over the same cached item frame,
    // the 10-row seed table broadcast-prunes BOTH directions of the
    // pair frame BEFORE any scoring — so the rank window runs over
    // ≤ 10 × max-degree candidate rows, never the full pair table —
    // and the per-seed top-5 is a row_number over that pruned frame.
    // Nothing corpus-scale crosses the wire after the support agg.
    Q("q137_item_similarity",
      """WITH it AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
        |co AS (SELECT a.p AS pa, b.p AS pb, count(*)::BIGINT AS n
        |       FROM it a JOIN it b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2),
        |deg AS (SELECT p, count(*)::BIGINT AS d FROM it GROUP BY 1),
        |seeds AS (SELECT p AS sp, d AS sd FROM deg ORDER BY d DESC, p LIMIT 10),
        |dr AS (SELECT pa AS a, pb AS b, n FROM co UNION ALL SELECT pb, pa, n FROM co),
        |cand AS (SELECT s.sp AS a, r.b, r.n, s.sd AS da, db.d AS db
        |         FROM dr r JOIN seeds s ON r.a = s.sp JOIN deg db ON db.p = r.b),
        |sc AS (SELECT a, b,
        |         CAST((CAST(n AS HUGEINT) * n * 1000000)
        |              // (CAST(da AS HUGEINT) * db) AS BIGINT) AS sim_micro
        |       FROM cand),
        |rk AS (SELECT a, b, sim_micro,
        |         row_number() OVER (PARTITION BY a ORDER BY sim_micro DESC, b) AS rnk
        |       FROM sc)
        |SELECT a AS p_item, b AS p_rec, sim_micro, rnk::BIGINT AS rnk
        |FROM rk WHERE rnk <= 5 ORDER BY p_item, rnk""".stripMargin, Family.Graph) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val co = pairSupport(s, dir)
      val deg = orderItems(s, dir).groupBy("p").agg(count(lit(1)).as("d"))
      val seeds = deg.orderBy(col("d").desc, col("p"))
        .limit(10).select(col("p").as("sp"), col("d").as("sd"))
      val dr = co.select(col("pa").as("a"), col("pb").as("b"), col("n"))
        .unionByName(co.select(col("pb").as("a"), col("pa").as("b"), col("n")))
      val cand = dr.join(broadcast(seeds), col("a") === col("sp"))
        .join(deg.withColumnRenamed("p", "bp").withColumnRenamed("d", "db"),
          col("b") === col("bp"))
      val scored = cand.select(col("a"), col("b"),
        expr("cast((cast(n as decimal(38,0)) * n * 1000000) div " +
          "(cast(sd as decimal(38,0)) * db) as bigint)").as("sim_micro"))
      scored.withColumn("rnk",
          row_number().over(Window.partitionBy("a")
            .orderBy(col("sim_micro").desc, col("b"))).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("a").as("p_item"), col("b").as("p_rec"), col("sim_micro"), col("rnk"))
        .orderBy("p_item", "rnk")
    }
  )

  /** Multi-source unit-weight BFS labels over a (`src`, `dst`) edge
    * frame — the q136 core, factored so GraphSpec can drive it on
    * hand graphs. Returns (node, hop) for every node reachable from
    * `sources` (column `node`) within `rounds` relaxations, hop =
    * shortest distance (min-hop fold makes re-relaxation idempotent,
    * so the unrolled form equals true BFS at hops ≤ rounds). Only the
    * O(|nodes|) label frame shuffles per round; pass a persisted
    * src-partitioned edge frame (e.g. [[edgesDeg]]) so the edge side
    * never re-exchanges. */
  private[graft] def bfsHops(edges: DataFrame, sources: DataFrame,
                             rounds: Int, ckptEvery: Int = 5): DataFrame = {
    var lab = sources.select(col("node")).withColumn("hop", lit(0L))
    for (r <- 1 to rounds) {
      lab = edges.join(lab, col("src") === col("node"))
        .select(col("dst").as("node"), (col("hop") + 1L).as("hop"))
        .unionByName(lab)
        .groupBy("node").agg(min("hop").as("hop"))
      // lineage cut (VERDICT r14 item 4 of 'what's wrong'): each round
      // stacks join+union+agg on the prior plan, so an UNCUT deep
      // traversal hits analyzer/optimizer blowup (seconds per round by
      // ~round 15, before any data-scale limit — the r14 path-graph
      // sweep measured uncut 125.9 s vs cut 7.1 s at rounds=10).
      // localCheckpoint every 5 rounds truncates the logical plan to
      // the materialized label frame; eager, so the
      // cost is one evaluation of a frame the next round needs anyway.
      // The label frame is O(|reached nodes|) — the small side by
      // construction; edges stay persisted + partitioned outside.
      //
      // Durability (ADVICE r15): localCheckpoint stores non-replicated
      // executor-local blocks — on a real cluster an executor loss
      // after truncation would make the traversal unrecoverable rather
      // than recomputable. When the session has a RELIABLE checkpoint
      // dir configured (spark.sparkContext.setCheckpointDir — the
      // production deployment for the 100 TB pitch), use it; fall back
      // to localCheckpoint only in dir-less local runs, where executor
      // loss means JVM death anyway. BfsCheckpointSpec pins both arms.
      if (r % ckptEvery == 0 && r < rounds) {
        val sc = edges.sparkSession.sparkContext
        lab = if (sc.getCheckpointDir.isDefined) lab.checkpoint(true)
              else lab.localCheckpoint(true)
      }
    }
    lab
  }

  /** Each basket `k`'s distinct non-null items as ONE ascending array
    * `ps` — collect_set dedups, so callers need no distinct over their
    * (k, p) rows. */
  private[graft] def basketsOf(items: DataFrame): DataFrame =
    items.groupBy("k").agg(array_sort(collect_set(col("p"))).as("ps"))

  /** Every (pa < pb) pair of each basket's sorted set `ps`: item i
    * pairs with the items after it, so a basket of n emits exactly
    * C(n,2) rows and none is built to be filtered away. The one basket
    * → pairs expansion of this file ([[pairSupport]], [[pairCounts]]). */
  private def basketPairs(baskets: DataFrame): DataFrame =
    baskets.select(col("ps"), posexplode(col("ps")).as(Seq("i", "pa")))
      .select(col("pa"),
        explode(slice(col("ps"), col("i") + 2, size(col("ps")) - col("i") - 1)).as("pb"))

  /** Pair support (pa < pb, n) over [[basketsOf]] rows, with the
    * mega-basket hedge (round 14 — VERDICT r13 item 3). A basket's
    * in-row expansion is per-key quadratic: ONE task materializes
    * C(M,2) rows for a customer holding M distinct parts, so a single
    * 10⁴-item basket squares inside one task while 31 cores idle (the
    * round-14 basket sweep measured the cliff). Hedge: baskets ≤
    * `threshold` expand in-row; baskets above it explode back to
    * (k, p) rows and are bucket-tiled — slice each item by hash(p)
    * mod S, assign pair (x, y) to the ordered tile (slice(x),
    * slice(y)), and realize the tiling as a join on the composite key
    * (k, tileRow, tileCol): x replicates as the LEFT of tiles
    * (sx, *), y as the RIGHT of tiles (*, sy), so each qualifying
    * pair matches in EXACTLY one tile — exact counts, no dedup pass,
    * 2S-fold replication of only the oversized baskets, and the
    * quadratic work spreads over ~S²/2 tasks of (M/S)² each. The tiled
    * branch enters the plan only when the widest basket crosses the
    * threshold: one driver scalar over the (cached) baskets, which
    * also fills the cache before the pair stage reads it. The count
    * has map-side partials (FrequentTriplesSpec pins brute equality
    * across the boundary). */
  private[graft] def pairCounts(baskets: DataFrame,
                                threshold: Int = 4096,
                                slices: Int = 16): DataFrame = {
    val widest = baskets.select(coalesce(max(size(col("ps"))), lit(0))).head().getInt(0)
    val pairs =
      if (widest <= threshold) basketPairs(baskets)
      else {
        val big = baskets.filter(size(col("ps")) > threshold)
          .select(col("k"), explode(col("ps")).as("p"))
          .withColumn("sl", pmod(xxhash64(col("p")), lit(slices)).cast("int"))
        val left = big
          .withColumn("tc", explode(sequence(lit(0), lit(slices - 1))))
          .select(col("k"), col("p"), col("sl").as("tr"), col("tc"))
        val right = big
          .withColumn("tr", explode(sequence(lit(0), lit(slices - 1))))
          .select(col("k").as("k2"), col("p").as("p2"), col("tr"), col("sl").as("tc"))
        val bigPairs = left.join(right,
            col("k") === col("k2") && left("tr") === right("tr") &&
              left("tc") === right("tc") && col("p") < col("p2"))
          .select(col("p").as("pa"), col("p2").as("pb"))
        basketPairs(baskets.filter(size(col("ps")) <= threshold)).unionByName(bigPairs)
      }
    pairs.groupBy("pa", "pb").agg(count(lit(1)).as("n"))
  }

  /** Apriori frequent-3-itemset mining over (basket `k`, item `p`)
    * rows — see q133's scaladoc for the scale argument. One basket
    * row per key, persisted for the query, feeds both passes with no
    * join on the items: pairs come from [[pairCounts]], and a
    * candidate triple (pa, pb, pc) is supported by a basket when the
    * basket's exploded `pa` meets the broadcast candidate table and
    * `ps` contains pb and pc. `array_contains` is O(|basket|) per
    * candidate row, and it runs on every basket, tiled ones included:
    * a basket of M items meeting r candidate rows costs O(M·r) probes
    * plus O(M²) bytes of exploded rows (each carries `ps`), in one
    * task — the same order as that basket's C(M,2) pair expansion.
    * `threshold` is [[pairCounts]]'s, a seam for FrequentTriplesSpec. */
  private[graft] def frequentTriples(items: DataFrame, minSup: Int,
                                     threshold: Int = 4096): DataFrame = {
    // Explicit k-repartition at the SESSION's shuffle width (round 21,
    // guide §2.5's expansion trap): the (k, p) exchange reads a few MB,
    // so AQE would coalesce it by INPUT size — but the stage above it
    // expands each basket to its C(n,2) pairs (114.8 MB of pair partials
    // at sf0.1), so coalescing starves exactly the stage that does the
    // work. numPartitions pins the exchange against AQE coalescing; the
    // width is the session's spark.sql.shuffle.partitions, never a
    // constant. Released by the query's own hook.
    val nParts = items.sparkSession.sessionState.conf.numShufflePartitions
    val baskets = basketsOf(items.repartition(nParts, col("k")))
      .transform(Caches.persistForQuery)
    // fp is read three times by the candidate closure (f, g and the h
    // LeftSemi); persisting it runs the support count once. It is
    // support-thresholded small (8,976 rows at sf0.1), the smallness
    // the broadcast hints below rely on. Released by the query's hook.
    val fp = pairCounts(baskets, threshold).filter(col("n") >= minSup)
      .select("pa", "pb").transform(Caches.persistForQuery)
    val fpH = fp.select(col("pa").as("hpa"), col("pb").as("hpb"))
    val cand = broadcast(fp).as("f")
      .join(broadcast(fp).as("g"),
        col("f.pa") === col("g.pa") && col("f.pb") < col("g.pb"))
      .select(col("f.pa").as("pa"), col("f.pb").as("pb"), col("g.pb").as("pc"))
      .join(broadcast(fpH),
        col("hpa") === col("pb") && col("hpb") === col("pc"), "leftsemi")
    baskets.select(col("ps"), explode(col("ps")).as("pa"))
      .join(broadcast(cand), "pa")
      .filter(array_contains(col("ps"), col("pb")) && array_contains(col("ps"), col("pc")))
      .groupBy("pa", "pb", "pc").agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSup)
      .orderBy("pa", "pb", "pc")
  }
}
