package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Q, T}

/** Distributed-analytics fill-ins round 10: interval-island merge
  * (gaps-and-islands), a Count–Min frequency sketch with a verified
  * overestimate envelope, and a grid-pruned Pareto skyline. Each is a
  * classic operator whose NAIVE form has a scale cliff (self-join per
  * overlap test / exact per-key counting / quadratic dominance test)
  * and whose implementation here carries the cliff-free shape.
  */
object Analytics {

  val qs: Seq[Q] = Seq(

    // ---- Interval islands (gaps-and-islands): merge each customer's
    // overlapping 30-day order-fulfillment windows into maximal
    // covered intervals — the canonical "merge overlapping sessions /
    // coverage spans" operator (SCD-2's q85 sibling, but union- not
    // version-shaped). Island detection is the running-max break
    // trick: order a customer's intervals by start; a new island
    // starts exactly where start > max(end) over all PRIOR intervals.
    // All date math is integer epoch-days (exact in both engines);
    // the (sd, k) window order is total, so ties cannot reorder.
    // Plan at 100 TB: ONE hash exchange on o_custkey serves the two
    // consecutive windows (same partition+order → one sort), the
    // (c, island) aggregate AND the per-customer rollup (partitioning
    // on c satisfies both groupings — no second exchange); top-30 is
    // TakeOrderedAndProject. PlanSpec pins the single-Exchange shape.
    // The windows partition on the customer key — |customers|-way
    // parallel, never a global sort.
    Q("q125_interval_islands",
      """WITH iv AS (SELECT o_custkey AS c, o_orderkey AS k,
        |              (o_orderdate::DATE - DATE '1970-01-01')::BIGINT AS sd,
        |              ((o_orderdate::DATE - DATE '1970-01-01') + 30)::BIGINT AS ed
        |            FROM orders),
        |m AS (SELECT c, k, sd, ed,
        |        max(ed) OVER (PARTITION BY c ORDER BY sd, k
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        |      FROM iv),
        |fl AS (SELECT c, k, sd, ed,
        |         CASE WHEN pe IS NULL OR sd > pe THEN 1 ELSE 0 END AS brk
        |       FROM m),
        |isl AS (SELECT c, sd, ed,
        |          sum(brk) OVER (PARTITION BY c ORDER BY sd, k
        |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
        |        FROM fl),
        |agg AS (SELECT c, g, max(ed) - min(sd) AS cov FROM isl GROUP BY 1, 2)
        |SELECT c AS c_custkey, count(*)::BIGINT AS n_islands, sum(cov)::BIGINT AS covered_days
        |FROM agg GROUP BY 1
        |ORDER BY covered_days DESC, c_custkey LIMIT 30""".stripMargin) { (s, dir) =>
      val iv = T.df(s, dir, "orders")
        .select(col("o_custkey").as("c"), col("o_orderkey").as("k"),
          datediff(col("o_orderdate").cast("date"), lit("1970-01-01")).cast("long").as("sd"))
        .withColumn("ed", col("sd") + 30L)
      val w = Window.partitionBy("c").orderBy("sd", "k")
      iv.withColumn("pe",
          max("ed").over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("brk",
          when(col("pe").isNull || col("sd") > col("pe"), 1L).otherwise(0L))
        .withColumn("g",
          sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("c", "g")
        .agg((max("ed") - min("sd")).as("cov"))
        .groupBy("c")
        .agg(count(lit(1)).as("n_islands"), sum("cov").as("covered_days"))
        .select(col("c").as("c_custkey"), col("n_islands"), col("covered_days"))
        .orderBy(col("covered_days").desc, col("c_custkey"))
        .limit(30)
    },

    // ---- Count–Min sketch (Cormode–Muthukrishnan) with a VERIFIED
    // overestimate envelope: the mergeable bounded-state frequency
    // summary for when exact per-key counting is off-budget — the
    // batch complement of q106's streaming Misra–Gries (MG bounds the
    // candidate SET, CM answers point queries with one-sided error).
    // d=4 rows × w=1024 buckets; the hash family is pure int64
    // arithmetic ((a·x + b) mod p mod w, p = 2³¹−1, fixed odd a) so
    // both engines compute the identical sketch — a deployment draws
    // a/b per epoch, identically across executors. The product
    // a·x + b ≤ 43·x stays under int64 for any conceivable key (wraps
    // only past x ≈ 2.1e17). The sketch build IS a partial-agg
    // shuffle: per-partition maps pre-combine to ≤ d·w cells, the
    // merged sketch is 4096 rows — the mergeability property is
    // literally Spark's partial aggregation. The query then checks
    // the CM guarantee est ≥ true on the top-20 true-frequency keys
    // (the true-count pass exists to VERIFY the envelope; a
    // pure-sketch deployment runs only the sketch pass). The est
    // lookup broadcast-joins the 4096-row sketch — nothing
    // corpus-scale shuffles twice, top-20 is TakeOrderedAndProject.
    // PlanSpec pins the broadcast + top-k shape.
    Q("q126_countmin_sketch",
      """WITH hp(d, a, b) AS (VALUES (0,31,7),(1,37,11),(2,41,13),(3,43,17)),
        |sk AS (SELECT h.d, ((h.a * l_partkey + h.b) % 2147483647) % 1024 AS bkt,
        |              count(*)::BIGINT AS cnt
        |       FROM lineitem, hp h GROUP BY 1, 2),
        |tr AS (SELECT l_partkey, count(*)::BIGINT AS n_true FROM lineitem GROUP BY 1),
        |top AS (SELECT l_partkey, n_true FROM tr ORDER BY n_true DESC, l_partkey LIMIT 20)
        |SELECT t.l_partkey, t.n_true, min(s.cnt)::BIGINT AS n_est,
        |       (min(s.cnt) >= t.n_true) AS ok
        |FROM top t JOIN hp h ON TRUE
        |     JOIN sk s ON s.d = h.d
        |              AND s.bkt = ((h.a * t.l_partkey + h.b) % 2147483647) % 1024
        |GROUP BY 1, 2
        |ORDER BY n_true DESC, l_partkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      val hp = Seq((0, 31L, 7L), (1, 37L, 11L), (2, 41L, 13L), (3, 43L, 17L))
        .toDF("d", "a", "b")
      def bkt(key: org.apache.spark.sql.Column) =
        ((col("a") * key + col("b")) % 2147483647L) % 1024L
      val li = T.df(s, dir, "lineitem").select(col("l_partkey"))
      val sk = li.crossJoin(broadcast(hp)) // ×4 map-side replication
        .select(col("d"), bkt(col("l_partkey")).as("bkt"))
        .groupBy("d", "bkt").agg(count(lit(1)).as("cnt"))
      val top = li.groupBy("l_partkey").agg(count(lit(1)).as("n_true"))
        .orderBy(col("n_true").desc, col("l_partkey")).limit(20)
      top.crossJoin(broadcast(hp))
        .select(col("l_partkey"), col("n_true"), col("d"), bkt(col("l_partkey")).as("bkt"))
        .join(broadcast(sk), Seq("d", "bkt"))
        .groupBy("l_partkey", "n_true").agg(min("cnt").as("n_est"))
        .select(col("l_partkey"), col("n_true"), col("n_est"),
          (col("n_est") >= col("n_true")).as("ok"))
        .orderBy(col("n_true").desc, col("l_partkey"))
    },

    // ---- Pareto skyline (grid-pruned): the non-dominated frontier of
    // parts under (minimize price, MAXIMIZE size) — the multi-criteria
    // shortlist operator, on genuinely competing objectives (the
    // fixture's price is monotone in partkey, so aligned objectives
    // would degenerate to one point; these give a 4-point frontier
    // with a price-tie group that exercises the tie semantics: equal
    // points never dominate each other, all are kept). The naive test
    // is quadratic (every point vs every point — the oracle states
    // exactly that NOT EXISTS form); the distributed shape prunes
    // first: per size value j, the bound B(j) = (min over points with
    // size ≥ j of ⌊price_cents/1000⌋ + 1) · 1000 — any point with
    // price_cents ≥ B(its size) is CERTAINLY dominated (the
    // cell-minimum witness has strictly lower price and ≥ size), so
    // one broadcast join against the ≤|size-values|-row
    // running-min-over-desc-size bound table prunes map-side.
    // Skyline(candidates) = skyline(all): dominance is transitive,
    // every dominated point has a SKYLINE dominator, and skyline
    // points are never pruned. Candidates provably sit within one
    // grid cell (1000 cents) of the per-size frontier, so the exact
    // pass's global windows run over a frontier-band-sized frame —
    // the q116 bounded-window discipline, never a corpus-scale single
    // partition. Exact pass: survive iff no strictly-cheaper point
    // has size ≥ mine (integer-RANGE window excluding price ties) and
    // no same-price point has size > mine. Prices in exact integer
    // cents (2-decimal fixture granularity; round kills any
    // double-repr dust). PlanSpec pins the broadcast-prune +
    // no-cartesian shape.
    Q("q127_skyline",
      """WITH p AS (SELECT p_partkey,
        |             cast(round(p_retailprice * 100) as bigint) AS pc,
        |             p_size::BIGINT AS sz
        |           FROM part)
        |SELECT a.p_partkey, a.pc AS price_cents, a.sz AS p_size
        |FROM p a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.pc <= a.pc AND b.sz >= a.sz
        |    AND (b.pc < a.pc OR b.sz > a.sz))
        |ORDER BY price_cents, p_size, p_partkey""".stripMargin) { (s, dir) =>
      skyline(T.df(s, dir, "part")
        .select(col("p_partkey"),
          round(col("p_retailprice") * 100, 0).cast("long").as("pc"),
          col("p_size").cast("long").as("sz")))
    },

    // ---- KMV distinct-count sketch ALGEBRA (round 14) — the
    // audience-overlap operator: how many distinct customers do two
    // order-priority segments share, answered from 256-row sketches
    // instead of corpus-scale distinct sets. K-minimum-values is the
    // mergeable bottom-k-by-hash summary (Bar-Yossef et al.; the
    // Theta-sketch family's core): union(A,B) = bottom-k of the
    // sketches' union — CLOSED under the algebra, so two 100 TB
    // segments exchange 256 hashes, never customer sets — and
    // intersection comes via the Jaccard of the union sketch
    // (|U ∩ A ∩ B| / |U|), est_∩ = J · est_∪. The estimator
    // (k−1)·D div h_k and every downstream ratio is pure int64
    // arithmetic over the q131 bijective multiplicative hash
    // (mod-p-first keeps the product < 2^63 for any id; bijective ⇒
    // distinct hashes ↔ distinct customers, no collision term), so
    // the DuckDB oracle computes the IDENTICAL sketch and hashes
    // bit-for-bit — the determinism that makes an approximate
    // structure exactly testable. Under-filled sketches (|sk| < k,
    // the sf0.001 regime) ARE the exact distinct set — the CASE
    // falls back to |sk|, identically both sides. The true-count
    // columns and 20%-slack `ok` bools exist to VERIFY (measured
    // error ≤ 5.1% across fixtures; 1/√k ≈ 6.3% expected); a
    // pure-sketch deployment runs only the sketch passes — q126's
    // envelope discipline.
    // Plan at 100 TB: each sketch is ONE TakeOrderedAndProject over
    // the segment's distinct-key aggregate — per-partition bottom-k
    // heaps merging at the driver IS the KMV merge property, realized
    // by the same physical operator as top-k; the three sketches are
    // persisted (256 rows each) so the stats/union/Jaccard consumers
    // never re-scan; everything downstream is crossJoins of broadcast
    // 1-row frames.
    Q("q144_kmv_overlap",
      """WITH a AS (SELECT DISTINCT o_custkey AS c FROM orders WHERE o_orderpriority = '1-URGENT'),
        |b AS (SELECT DISTINCT o_custkey AS c FROM orders WHERE o_orderpriority = '2-HIGH'),
        |ha AS (SELECT ((c % 1000000007) * 2654435761) % 1000000007 AS h FROM a),
        |hb AS (SELECT ((c % 1000000007) * 2654435761) % 1000000007 AS h FROM b),
        |ska AS (SELECT h FROM ha ORDER BY h LIMIT 256),
        |skb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
        |sku AS (SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb) ORDER BY h LIMIT 256),
        |sa AS (SELECT count(*) AS n, max(h) AS hk FROM ska),
        |sb AS (SELECT count(*) AS n, max(h) AS hk FROM skb),
        |su AS (SELECT count(*) AS n, max(h) AS hk FROM sku),
        |jj AS (SELECT count(*) AS nj FROM sku u
        |       WHERE u.h IN (SELECT h FROM ska) AND u.h IN (SELECT h FROM skb)),
        |tr AS (SELECT (SELECT count(*) FROM a) AS ta, (SELECT count(*) FROM b) AS tb,
        |              (SELECT count(*) FROM (SELECT c FROM a UNION SELECT c FROM b)) AS tu,
        |              (SELECT count(*) FROM a WHERE c IN (SELECT c FROM b)) AS ti)
        |SELECT
        |  CASE WHEN sa.n < 256 THEN sa.n ELSE (255::BIGINT * 1000000007) // sa.hk END AS est_a,
        |  CASE WHEN sb.n < 256 THEN sb.n ELSE (255::BIGINT * 1000000007) // sb.hk END AS est_b,
        |  CASE WHEN su.n < 256 THEN su.n ELSE (255::BIGINT * 1000000007) // su.hk END AS est_union,
        |  (1000 * jj.nj) // su.n AS jacc_milli,
        |  (jj.nj * (CASE WHEN su.n < 256 THEN su.n ELSE (255::BIGINT * 1000000007) // su.hk END)) // su.n AS est_inter,
        |  tr.ta AS true_a, tr.tb AS true_b, tr.tu AS true_union, tr.ti AS true_inter,
        |  (abs(CASE WHEN su.n < 256 THEN su.n ELSE (255::BIGINT * 1000000007) // su.hk END - tr.tu) * 5 <= tr.tu) AS ok_union,
        |  (abs((jj.nj * (CASE WHEN su.n < 256 THEN su.n ELSE (255::BIGINT * 1000000007) // su.hk END)) // su.n - tr.ti) * 5 <= tr.ti) AS ok_inter
        |FROM sa, sb, su, jj, tr""".stripMargin) { (s, dir) =>
      val ords = T.df(s, dir, "orders").select("o_custkey", "o_orderpriority")
      def seg(pri: String) = ords.filter(col("o_orderpriority") === pri)
        .select(col("o_custkey").as("c")).distinct()
      def sketch(df: org.apache.spark.sql.DataFrame) = graft.Caches.persistForQuery(
        df.select(expr("((c % 1000000007) * 2654435761) % 1000000007").as("h"))
          .orderBy("h").limit(256))
      val a = seg("1-URGENT"); val b = seg("2-HIGH")
      val ska = sketch(a); val skb = sketch(b)
      val sku = graft.Caches.persistForQuery(ska.union(skb).distinct().orderBy("h").limit(256))
      def stats(sk: org.apache.spark.sql.DataFrame, nn: String, hh: String) =
        sk.agg(count(lit(1)).as(nn), max("h").as(hh))
      def estSql(n: String, hk: String): String =
        s"case when $n < 256 then $n else (cast(255 as bigint) * 1000000007) div $hk end"
      def est(n: String, hk: String) = expr(estSql(n, hk))
      stats(ska, "na", "hka")
        .crossJoin(broadcast(stats(skb, "nb", "hkb")))
        .crossJoin(broadcast(stats(sku, "nu", "hku")))
        .crossJoin(broadcast(
          sku.join(ska, "h", "leftsemi").join(skb, "h", "leftsemi")
            .agg(count(lit(1)).as("nj"))))
        .crossJoin(broadcast(a.agg(count(lit(1)).as("ta"))))
        .crossJoin(broadcast(b.agg(count(lit(1)).as("tb"))))
        .crossJoin(broadcast(
          a.select("c").union(b.select("c")).distinct()
            .agg(count(lit(1)).as("tu"))))
        .crossJoin(broadcast(
          a.join(b, "c", "leftsemi").agg(count(lit(1)).as("ti"))))
        .select(
          est("na", "hka").as("est_a"),
          est("nb", "hkb").as("est_b"),
          est("nu", "hku").as("est_union"),
          expr("(1000 * nj) div nu").as("jacc_milli"),
          expr(s"(nj * (${estSql("nu", "hku")})) div nu").as("est_inter"),
          col("ta").as("true_a"), col("tb").as("true_b"),
          col("tu").as("true_union"), col("ti").as("true_inter"),
          (abs(est("nu", "hku") - col("tu")) * 5 <= col("tu")).as("ok_union"),
          (abs(expr(s"(nj * (${estSql("nu", "hku")})) div nu") - col("ti")) * 5
            <= col("ti")).as("ok_inter"))
    },

    // ---- Bucketized interval–point overlap join (round 14): "which
    // purchases landed inside each error's 10-minute incident window",
    // with NO shared equi-key between the sides — the general form of
    // the temporal-correlation join (q9 range join has an equi key to
    // hash on; q86 is the streaming sibling with watermarks; q125
    // merges intervals within one key). The naive plan is a theta
    // join — BroadcastNestedLoopJoin, the |A|·|B| cliff. The cliff-free
    // shape: quantize time into buckets the width of the interval
    // (10 min), explode each interval to the ≤2 buckets it touches
    // (map-side, bounded because bucket width ≥ interval length),
    // map each point to its single bucket, EQUI-join on the bucket,
    // then apply the exact [t, t+W) test as the residual. A point
    // lives in exactly one bucket, so each (interval, point) hit is
    // found exactly once — no dedup stage. Candidates per bucket ≈
    // rate × W — work is data × local density, never |A|·|B|. All
    // time arithmetic is integer epoch-micros; purchase values sum as
    // decimal(12,2) (the q98 convention). The oracle is the
    // INDEPENDENT naive theta-join formulation, so the bucket algebra
    // (boundary rows included/excluded at [closed, open)) is what the
    // hash compare proves. Plan at 100 TB: one events scan feeding
    // both filtered branches, two bucket-keyed exchanges, residual
    // filter inside the join, one incident-keyed partial agg;
    // PlanSpec pins NO BroadcastNestedLoopJoin / cartesian.
    Q("q148_interval_point_join",
      """WITH e AS (SELECT event_id, epoch_us(ts) AS t, event_type,
        |                  cast(value AS decimal(12,2)) AS v FROM events),
        |err AS (SELECT event_id AS err_id, t FROM e WHERE event_type = 'error'),
        |pur AS (SELECT t, v FROM e WHERE event_type = 'purchase')
        |SELECT err_id, count(*)::BIGINT AS n_purchases,
        |       (sum(p.v))::DOUBLE AS purchase_value
        |FROM err JOIN pur p ON p.t >= err.t AND p.t < err.t + 600000000
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val W = 600000000L // 10 min in micros = the bucket width
      val ev = T.df(s, dir, "events")
        .select(col("event_id"), unix_micros(col("ts")).as("t"),
          col("event_type"), T.dec(col("value")).as("v"))
      val incidents = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("t").as("t0"),
          explode(array_distinct(array(
            expr(s"t div $W"), expr(s"(t + $W) div $W")))).as("bucket"))
      val points = ev.filter(col("event_type") === "purchase")
        .select(col("t").as("tp"), col("v"), expr(s"t div $W").as("bucket"))
      incidents.join(points, Seq("bucket"))
        .filter(col("tp") >= col("t0") && col("tp") < col("t0") + W)
        .groupBy("err_id")
        .agg(count(lit(1)).as("n_purchases"),
          T.dbl(sum(col("v"))).as("purchase_value"))
        .orderBy("err_id")
    },

    // ---- EXACT distributed quantile selection (round 14): per-group
    // median / p90 / p99 of lineitem price cents, exact to the rank —
    // completing the quantile trio's missing member. q104 is the
    // mergeable SKETCH (rank-error envelope); q141 is exact for
    // BOUNDED domains (the |domain|-row aggregate); this is exact for
    // UNBOUNDED domains, where the textbook answer (global sort /
    // per-group rank window) is the 100 TB cliff. The cliff-free
    // shape is two-pass histogram refinement (the distributed
    // selection classic): pass 1 buckets each group's values into
    // B=4096 equal-width cells and pulls the |groups|·B cell counts
    // to the driver (bounded by CONSTRUCTION, not by data); the
    // driver walks cumulative counts to find, per target rank, the
    // one cell that contains it; pass 2 scans only rows in those ≤
    // |groups|·|targets| cells and pulls per-VALUE counts (≤ cell
    // width each) for the exact in-cell walk. A tie class maps to
    // exactly one cell (the cell is a function of the value), so rank
    // arithmetic never splits across cells. Every rank is an integer
    // ceil(φ·n) — no interpolation semantics to diverge between
    // engines; the oracle is the independent rank-window formulation.
    // Total cost at any scale: two full scans + one cell-filtered
    // scan, zero shuffles of data rows (the only exchanges carry
    // per-cell partial counts), driver memory O(|groups|·(B + span/B)).
    Q("q150_exact_quantile_select",
      """WITH c AS (SELECT l_returnflag AS g,
        |             cast(round(cast(l_extendedprice AS decimal(12,2)) * 100) AS bigint) AS c
        |           FROM lineitem),
        |r AS (SELECT g, c, row_number() OVER (PARTITION BY g ORDER BY c) AS rk,
        |             count(*) OVER (PARTITION BY g) AS n
        |      FROM c)
        |SELECT g, max(n)::BIGINT AS n,
        |       max(CASE WHEN rk = (n + 1) // 2 THEN c END) AS median_c,
        |       max(CASE WHEN rk = (9 * n + 9) // 10 THEN c END) AS p90_c,
        |       max(CASE WHEN rk = (99 * n + 99) // 100 THEN c END) AS p99_c
        |FROM r GROUP BY g ORDER BY g""".stripMargin) { (s, dir) =>
      val B = 4096L
      val base = T.df(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"),
          expr("cast(round(cast(l_extendedprice as decimal(12,2)) * 100) as bigint)").as("c"))
      val stats = base.groupBy("g")
        .agg(count(lit(1)).as("n"), min("c").as("mn"), max("c").as("mx"))
      val bexpr = expr(s"(c - mn) * $B div (mx - mn + 1)")
      // cardinality guard (VERDICT r14 item 5): the |groups|·B cell
      // pull is "bounded by construction" only while the group key is
      // enumerable (here: 3 return flags). Pointed at a high-
      // cardinality key the walk would OOM the DRIVER — so probe the
      // cardinality through a LIMIT (stops at maxGroups+1, never
      // materializes the full key set) and fail LOUDLY with the named
      // alternative (the Layout.scaled 2^53 discipline). Budget:
      // 1024·4096 ≈ 4M driver cells.
      val maxGroups = 1024
      val gs = stats.limit(maxGroups + 1).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      require(gs.length <= maxGroups,
        s"q150 exact quantile selection: > $maxGroups distinct groups — " +
          "the driver cell walk is bounded only for enumerable group keys; " +
          "use the q104 mergeable-sketch path for high-cardinality keys")
      // pass 1: per-(group, cell) counts — |groups|·B rows, bounded
      val hist = base.join(broadcast(stats), "g")
        .groupBy(col("g"), bexpr.as("b")).agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      def ranks(n: Long) = Seq((n + 1) / 2, (9 * n + 9) / 10, (99 * n + 99) / 100)
      // driver: cumulative cell walk → the one cell holding each rank,
      // plus the in-cell residual rank
      val wanted = for {
        (g, n, _, _) <- gs.toSeq; k <- ranks(n)
      } yield {
        var cum = 0L; var cell = 0L; var before = 0L
        while (cum < k) { before = cum; cum += hist.getOrElse((g, cell), 0L); cell += 1 }
        (g, cell - 1, k, k - before)
      }
      val wantedCells = wanted.map { case (g, b, _, _) => (g, b) }.distinct
      import s.implicits._
      val cellsDf = broadcast(wantedCells.toDF("g", "wb"))
      // pass 2: per-VALUE counts inside the wanted cells only — each
      // cell holds ≤ span/B distinct values, so this collect is
      // bounded by construction too
      val inCell = base.join(broadcast(stats), "g")
        .join(cellsDf, Seq("g")).filter(bexpr === col("wb"))
        .groupBy(col("g"), col("wb"), col("c")).agg(count(lit(1)).as("cnt"))
        .collect()
        .groupBy(r => (r.getString(0), r.getLong(1)))
        .map { case (k, rs) => k -> rs.map(r => (r.getLong(2), r.getLong(3))).sortBy(_._1) }
      val picked = wanted.map { case (g, b, k, kIn) =>
        val vals = inCell((g, b))
        var cum = 0L; var i = 0
        while (cum < kIn) { cum += vals(i)._2; i += 1 }
        (g, k) -> vals(i - 1)._1
      }.toMap
      gs.toSeq.map { case (g, n, _, _) =>
        val Seq(k50, k90, k99) = ranks(n)
        (g, n, picked((g, k50)), picked((g, k90)), picked((g, k99)))
      }.toDF("g", "n", "median_c", "p90_c", "p99_c")
        .orderBy("g")
    },

    // ---- Per-group KMV distinct sketch as a UDAF (round 14): distinct
    // parts purchased per market segment, estimated by [[KmvAgg]] —
    // the mergeable summary as a REAL aggregate where q144 assembled
    // the global form from TakeOrderedAndProject frames. The shape
    // this buys at 100 TB: per-group distinct counting WITHOUT the
    // per-(group, value) DISTINCT shuffle of data rows — each task
    // folds its partition into ≤k-element buffers (duplicates fold
    // map-side, the sketch is a set), partial buffers union-bottom-k
    // in the merge phase, and only |groups|·k hashes cross the wire.
    // The bijective multiplicative hash (mod-prime, the q131/q144
    // device) makes distinct hashes ≡ distinct partkeys, the sorted
    // buffer makes the finished sketch bit-identical to the oracle's
    // row_number≤k-over-DISTINCT formulation, and the estimator
    // (k−1)·P div h_k is pure int64 — the approximate structure is
    // exactly testable. Under-filled groups fall back to the exact
    // |sketch| count via the same CASE both sides. true_parts + the
    // 20%-slack ok bool are the verification columns (measured error
    // ≲ 1/√k ≈ 6%); a pure-sketch deployment drops them — q126/q144's
    // envelope discipline.
    Q("q152_kmv_segments",
      """WITH b AS (SELECT c_mktsegment AS seg,
        |             ((l_partkey % 1000000007) * 2654435761) % 1000000007 AS h
        |           FROM customer
        |           JOIN orders ON o_custkey = c_custkey
        |           JOIN lineitem ON l_orderkey = o_orderkey),
        |d AS (SELECT DISTINCT seg, h FROM b),
        |r AS (SELECT seg, h, row_number() OVER (PARTITION BY seg ORDER BY h) AS rk FROM d),
        |sk AS (SELECT seg, count(*) AS n, max(h) AS hk FROM r WHERE rk <= 256 GROUP BY 1),
        |tr AS (SELECT seg, count(*) AS tn FROM d GROUP BY 1),
        |e AS (SELECT sk.seg,
        |        CASE WHEN sk.n < 256 THEN sk.n
        |             ELSE (255::BIGINT * 1000000007) // sk.hk END AS est_parts,
        |        tr.tn AS true_parts
        |      FROM sk JOIN tr ON sk.seg = tr.seg)
        |SELECT seg, est_parts, true_parts,
        |       (abs(est_parts - true_parts) * 5 <= true_parts) AS ok_est
        |FROM e ORDER BY seg""".stripMargin) { (s, dir) =>
      val K = 256
      val kmv = udaf(new KmvAgg(K))
      // Probe-side scan widening (round 21, guide §2.5 "input skew:
      // one huge unsplittable file"): the fixture tables are single-
      // row-group parquet, so the fused scan → broadcast-probe → KMV
      // partial-agg stage ran as ONE task (StageProf: 1.2 s CPU on one
      // core of 32 — the whole query's hot stage). Project lineitem to
      // its two join/hash columns and round-robin it to the session
      // shuffle width first: the ~10 MB exchange of narrow rows buys
      // 32-way UDAF folding. At real scale the scan already has
      // thousands of splits and the repartition is the same
      // one-exchange cost the groupBy would pay anyway — width rides
      // spark.sql.shuffle.partitions, never a local constant.
      val nParts = s.sessionState.conf.numShufflePartitions
      val rows = T.df(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
        .repartition(nParts)
        .join(T.df(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(T.df(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"),
          expr("((l_partkey % 1000000007) * 2654435761) % 1000000007").as("h"))
      val est = when(size(col("sk")) < K, size(col("sk")).cast("long"))
        .otherwise(expr(s"(cast(${K - 1} as bigint) * 1000000007) div element_at(sk, $K)"))
      rows.groupBy("seg")
        .agg(kmv(col("h")).as("sk"), countDistinct(col("h")).as("true_parts"))
        .select(col("seg"), est.as("est_parts"), col("true_parts"),
          (abs(est - col("true_parts")) * 5 <= col("true_parts")).as("ok_est"))
        .orderBy("seg")
    },

    // ---- Join-key skew census (round 16 — the observability table a
    // 100 TB join planner reads BEFORE picking broadcast / salting /
    // AQE skew-join (q61's salt factor is exactly this table's max
    // frequency): per key frequency of l_orderkey, the key count,
    // row mass, and the cumulative hot-side mass share in milli
    // (reading from the hottest class down — "the top classes with
    // cum_hot_milli ≤ X carry X‰ of the join's probe work"). The
    // quadratic risk this prices is the same one q185 prices for LSH
    // buckets: a skewed build key multiplies one task's work by its
    // frequency. Plan: ONE partial-agg shuffle on the key (the very
    // shuffle the real join would do — the census costs what one
    // map-side-combined count costs), a frequency-histogram second
    // agg (value-bounded: |distinct frequencies| rows), and the
    // cumulative window over that bounded frame. Exact integers;
    // frequencies are distinct in the histogram so the desc window
    // order is total.
    Q("q186_join_key_skew",
      """WITH kc AS (SELECT l_orderkey AS k, count(*) AS f FROM lineitem GROUP BY 1),
        |h AS (SELECT f, count(*) AS n_keys, (f * count(*))::BIGINT AS mass
        |      FROM kc GROUP BY 1)
        |SELECT f::BIGINT AS freq, n_keys::BIGINT AS n_keys, mass,
        |       (1000 * sum(mass) OVER (ORDER BY f DESC)
        |          // (SELECT sum(mass) FROM h))::BIGINT AS cum_hot_milli
        |FROM h ORDER BY freq""".stripMargin) { (s, dir) =>
      val h = T.df(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("f"))
        .groupBy("f").agg(count(lit(1)).as("n_keys"))
        .withColumn("mass", col("f") * col("n_keys"))
      h.withColumn("cum",
          sum("mass").over(Window.orderBy(col("f").desc)
            .rangeBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tot", sum("mass").over(
          Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col("f").as("freq"), col("n_keys"), col("mass"),
          expr("(1000 * cum) div tot").as("cum_hot_milli"))
        .orderBy("freq")
    },

    // ---- k-anonymity / l-diversity census (round 16 — the privacy
    // audit a release pipeline runs BEFORE exporting curated data
    // (the q69 redaction's companion: redaction strips direct
    // identifiers, this prices re-identification risk from QUASI-
    // identifiers): equivalence classes over (nation, market segment),
    // sensitive attribute = account-balance sign. Per (k, l) cell —
    // class size k, distinct sensitive values l — the class count,
    // record mass, and the at-risk flag (k < 5: re-identifiable by
    // linking; l < 2: sensitive value disclosed even without
    // re-identification — a homogeneous class leaks by membership
    // alone). Plan at 100 TB: one partial-agg shuffle on the quasi-id
    // (count + count-distinct over a 2-value domain collapse
    // map-side), then a census agg over the class frame — classes are
    // the SMALL side by construction (a release with corpus-scale
    // class count has k≈1 everywhere and fails the audit trivially).
    Q("q190_k_anonymity",
      """WITH cls AS (SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS k,
        |               count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END)::BIGINT AS l
        |             FROM customer GROUP BY 1, 2)
        |SELECT k, l, count(*)::BIGINT AS n_classes, (k * count(*))::BIGINT AS n_records,
        |       (k < 5 OR l < 2) AS at_risk
        |FROM cls GROUP BY 1, 2 ORDER BY k, l""".stripMargin) { (s, dir) =>
      T.df(s, dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("k"),
          countDistinct(when(col("c_acctbal") < 0, "neg").otherwise("pos")).as("l"))
        .groupBy("k", "l").agg(count(lit(1)).as("n_classes"))
        .select(col("k"), col("l"), col("n_classes"),
          (col("k") * col("n_classes")).as("n_records"),
          (col("k") < 5 || col("l") < 2).as("at_risk"))
        .orderBy("k", "l")
    },

    // ---- Robust anomaly census: median/MAD outlier screen (round 16
    // — the robust-statistics face of the quantile trio q104/q141/
    // q150: mean±3σ (q94's moments) is itself dragged by the outliers
    // it hunts; median ± 3·MAD is the standard robust gate a metrics
    // pipeline runs per stream. Per event_type: the EXACT lower median
    // of value (cents), the EXACT MAD (lower median of |v − med|),
    // the strict |v − med| > 3·MAD outlier count, and the outlier
    // share in milli. Everything integer-exact: values are 2-dp by
    // fixture contract (the T.dec rule) so cents are exact; the lower
    // median (rank ⌈n/2⌉ = (n+1) div 2) avoids the even-n midpoint
    // average that would leave integers; both engines truncate
    // identically. Plan at 100 TB: ONE partial-agg shuffle to the
    // value-bounded (event_type, cents) histogram (q141's bounded-
    // domain discipline — never a row sort); medians are cumulative
    // windows over that bounded frame; the MAD histogram is a
    // TRANSFORM of the value histogram (|cents − med| regroup), not a
    // second corpus pass; every join is a census-frame broadcast.
    Q("q208_robust_anomaly",
      """WITH h AS (SELECT event_type,
        |             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |             count(*)::BIGINT AS c
        |           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |n AS (SELECT event_type, sum(c)::BIGINT AS n FROM h GROUP BY 1),
        |cum AS (SELECT event_type, cents, c,
        |          sum(c) OVER (PARTITION BY event_type ORDER BY cents) AS cum FROM h),
        |med AS (SELECT cum.event_type, min(cents) AS med
        |        FROM cum JOIN n USING (event_type)
        |        WHERE cum >= (n + 1) // 2 GROUP BY 1),
        |ad AS (SELECT h.event_type, abs(cents - med) AS d, sum(c)::BIGINT AS c
        |       FROM h JOIN med USING (event_type) GROUP BY 1, 2),
        |cum2 AS (SELECT event_type, d, c,
        |           sum(c) OVER (PARTITION BY event_type ORDER BY d) AS cum FROM ad),
        |mad AS (SELECT cum2.event_type, min(d) AS mad
        |        FROM cum2 JOIN n USING (event_type)
        |        WHERE cum >= (n + 1) // 2 GROUP BY 1),
        |o AS (SELECT h.event_type,
        |        sum(CASE WHEN abs(cents - med) > 3 * mad THEN c ELSE 0 END)::BIGINT AS n_out
        |      FROM h JOIN med USING (event_type) JOIN mad USING (event_type) GROUP BY 1)
        |SELECT n.event_type, n.n, med.med AS med_cents, mad.mad AS mad_cents,
        |       o.n_out AS n_outliers, (1000 * o.n_out // n.n)::BIGINT AS outlier_milli
        |FROM n JOIN med USING (event_type) JOIN mad USING (event_type)
        |       JOIN o USING (event_type)
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      val h = T.df(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"),
          (T.dec(col("value")) * 100).cast("long").as("cents"))
        .groupBy("event_type", "cents").agg(count(lit(1)).as("c"))
        // ONE cached partition + eager materialization (round 22): the
        // histogram is VALUE-bounded (|event_type|·|cents domain| rows
        // at ANY corpus size — the query's own 100 TB contract), yet
        // it was cached at 32 shuffle partitions, so each of its FIVE
        // consumers paid a 32-near-empty-task stage (StageProf: q208 at
        // 33 stages, runtime >> cpu); and without the eager count the
        // consumers' concurrent AQE stages raced the unmaterialized
        // cache and recomputed it (the r21 q124 finding, measured 7x).
        .coalesce(1)
        .transform(graft.Caches.persistForQuery)
      h.count()
      val n = h.groupBy("event_type").agg(sum("c").as("n"))
      val wv = Window.partitionBy("event_type").orderBy("cents")
      val med = h.withColumn("cum", sum("c").over(wv))
        .join(broadcast(n), "event_type")
        .filter(expr("cum >= (n + 1) div 2"))
        .groupBy("event_type").agg(min("cents").as("med"))
      val ad = h.join(broadcast(med), "event_type")
        .groupBy(col("event_type"), abs(col("cents") - col("med")).as("d"))
        .agg(sum("c").as("c"))
      val wd = Window.partitionBy("event_type").orderBy("d")
      val mad = ad.withColumn("cum", sum("c").over(wd))
        .join(broadcast(n), "event_type")
        .filter(expr("cum >= (n + 1) div 2"))
        .groupBy("event_type").agg(min("d").as("mad"))
      val out = h.join(broadcast(med), "event_type")
        .join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(sum(when(abs(col("cents") - col("med")) > col("mad") * 3, col("c"))
          .otherwise(0L)).as("n_out"))
      n.join(broadcast(med), "event_type")
        .join(broadcast(mad), "event_type")
        .join(broadcast(out), "event_type")
        .select(col("event_type"), col("n"), col("med").as("med_cents"),
          col("mad").as("mad_cents"), col("n_out").as("n_outliers"),
          expr("(1000 * n_out) div n").as("outlier_milli"))
        .orderBy("event_type")
    }
  )

  /** Grid-pruned skyline over a (p_partkey, pc, sz) frame — q127's
    * body, factored so SkylineSpec can drive it with adversarial
    * fixtures the part table cannot produce.
    *
    * Cells are ADAPTIVE (round 12, the upgrade the r11 scaladoc
    * declared): cut points come from a one-pass `percentile_approx`
    * probe over pc — a mergeable sketch aggregate (the q104
    * machinery), ≤ `cells` values to the driver — so the prune rate is
    * distribution-independent: a flat distribution that packed every
    * price into one fixed 1000-cent cell (prune admitted 100% of
    * input) now splits into ~`cells` equal-mass cells and the band
    * stays frontier-sized. CORRECTNESS never depended on the cells and
    * still doesn't: with cuts c_1<…<c_m, cell(x) = |{i : c_i ≤ x}|
    * and ub(k) = c_{k+1} (+∞ for the top cell), a point with
    * pc ≥ ub(cellMin(sz)) is CERTAINLY dominated — the cell-minimum
    * witness at ≥ its size sits strictly below that boundary — so only
    * dominated points are discarded and the exact windowed pass
    * returns the true frontier for ANY distribution, including the
    * all-prices-equal degenerate where the cuts collapse to one value
    * and the prune admits everything (SkylineSpec pins both the old
    * one-cell adversary — now actually thinned — and the new
    * all-equal one). The exact pass's global windows then run over a
    * frontier-band-sized frame — the q116 bounded-window discipline. */
  private[graft] def skyline(p: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cand = skylineCandidates(p)
    val cheaper = Window.orderBy("pc")
      .rangeBetween(Window.unboundedPreceding, -1)
    val samePrice = Window.partitionBy("pc")
    cand
      .withColumn("m1", max("sz").over(cheaper))
      .withColumn("m2", max("sz").over(samePrice))
      .filter(col("m1").isNull || col("m1") < col("sz"))
      .filter(col("sz") === col("m2"))
      .select(col("p_partkey"), col("pc").as("price_cents"), col("sz").as("p_size"))
      .orderBy("price_cents", "p_size", "p_partkey")
  }

  /** The adaptive-cell prune pass: (p_partkey, pc, sz) in, the
    * certainly-not-dominated candidate band out. Factored from
    * `skyline` so the PRUNE RATE (|candidates| / |input|) is a direct
    * count; the round-13 price grid (README "Adaptive-skyline price
    * grid") measured it distribution-determined and scale-independent
    * — 1.56% uniform at 100k and 1M rows, 5.0% skewed, 1.50% on the
    * part table — and SkylineSpec pins the band.
    *
    * Shape at 100 TB: the probe is one sketch aggregate (partial-
    * combined, ≤ cells values collected); the bound table is
    * ≤ |distinct sizes| rows built with one hash exchange on sz plus a
    * bounded unpartitioned running-min window (q116 discipline), then
    * BROADCAST — the corpus-scale side is touched by exactly one
    * map-side filter, no extra shuffle. */
  private[graft] def skylineCandidates(p0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // NOTE (ADVICE r12): construction is EAGER — the percentile probe
    // runs `.first()` here, so building the plan already scans the
    // input once. `p` is persisted so the probe, the bound-table pass,
    // and the final filter share ONE materialization instead of three
    // scans (released by the running query's hook; at corpus scale the
    // persisted frame is the 3-column projection, not the table).
    val p = graft.Caches.persistForQuery(p0)
    val cells = 64
    val probs = (1 until cells).map(_.toDouble / cells).toArray
    val cutRow = p.agg(
      percentile_approx(col("pc"), lit(probs), lit(10000)).as("cuts")).first()
    val cuts: Seq[Long] =
      if (cutRow.isNullAt(0)) Seq.empty // empty input: no cuts, no prune
      else cutRow.getSeq[Long](0).distinct.sorted
    // cell(x) = #cuts ≤ x; ubArr(k) (0-indexed) = upper boundary of
    // cell k, +∞ sentinel for the top cell
    val ci = size(filter(typedLit(cuts), c => c <= col("pc"))).cast("long")
    val ubArr = cuts :+ Long.MaxValue
    val bnd = p.withColumn("ci", ci)
      .groupBy(col("sz").as("j")).agg(min("ci").as("cimin"))
      .select(col("j"),
        element_at(typedLit(ubArr),
          (min("cimin").over(Window.orderBy(col("j").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)) + 1L)
            .cast("int"))
          .as("ub"))
    p.join(broadcast(bnd), col("sz") === col("j"))
      .filter(col("pc") < col("ub"))
      .select("p_partkey", "pc", "sz")
  }
}
