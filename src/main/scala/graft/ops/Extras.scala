package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Q, T}

/** Declared-surface fill-ins (VERDICT r1 "missing" rows): map functions
  * (F18), as-of join (J5), deterministic first-wins dedup (O4), and the
  * F1/F3/F9 scalar trio. */
object Extras {

  val qs: Seq[Q] = Seq(

    // ---- F18: map construction, extraction, keys, cardinality.
    // DuckDB map extraction returns a single-element list -> [1].
    Q("q51_map_fns",
      """SELECT p_partkey,
        |  MAP(['brand', 'type'], [p_brand, p_type])['brand'][1] AS brand_v,
        |  array_to_string(map_keys(MAP(['brand', 'type'], [p_brand, p_type])), ',') AS ks,
        |  cardinality(MAP(['brand', 'type'], [p_brand, p_type])) AS n
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      val m = map(lit("brand"), col("p_brand"), lit("type"), col("p_type"))
      T.df(s, dir, "part").select(col("p_partkey"),
          element_at(m, "brand").as("brand_v"),
          array_join(map_keys(m), ",").as("ks"),
          size(m).cast("bigint").as("n"))
        .orderBy("p_partkey")
    },

    // ---- J5: as-of join — for each error event, the latest click by
    // the same user at or before it (ordered by event_id, which is the
    // deterministic event-order axis; ts is nanos-vs-micros hazardous).
    // Spark has no built-in as-of join: the union + running
    // last(_, ignoreNulls) window trick (SURVEY §2.3) does it with ONE
    // shuffle on user_id and no range explosion — the plan that holds
    // at 100× (a correlated-subquery or theta-join formulation would
    // re-scan per row).
    Q("q52_asof_join",
      """SELECT e.event_id AS error_event,
        |       (SELECT max(c.event_id) FROM events c
        |        WHERE c.user_id = e.user_id AND c.event_type = 'click'
        |          AND c.event_id <= e.event_id) AS last_click
        |FROM events e WHERE e.event_type = 'error'
        |ORDER BY error_event""".stripMargin) { (s, dir) =>
      val ev = T.df(s, dir, "events")
        .filter(col("event_type").isin("error", "click"))
        .select(col("user_id"), col("event_id"),
          (col("event_type") === "click").as("is_click"))
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("last_click",
          last(when(col("is_click"), col("event_id")), ignoreNulls = true).over(w))
        .filter(!col("is_click"))
        .select(col("event_id").as("error_event"), col("last_click"))
        .orderBy("error_event")
    },

    // ---- O4: deterministic first-wins dedup (the ordered analogue of
    // dropDuplicates, whose survivor is otherwise partition-dependent):
    // keep the earliest event per (user, type).
    Q("q53_dropdup_ordered",
      """SELECT user_id, event_type, event_id AS first_event FROM (
        |  SELECT user_id, event_type, event_id,
        |         row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
      T.df(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id").as("first_event"))
        .orderBy("user_id", "event_type")
    },

    // ---- F1 whitespace collapse / F3 title-case / F9 comma-strip cast.
    // DuckDB has no initcap: the oracle rebuilds it word-wise.
    Q("q54_scalar_extras",
      """SELECT p_partkey,
        |  trim(regexp_replace(' ' || p_name || '  ' || p_type || ' ', '\s+', ' ', 'g')) AS collapsed,
        |  array_to_string(list_transform(string_split(lower(p_name), ' '),
        |                                 w -> upper(w[1]) || w[2:]), ' ') AS titled,
        |  replace(((p_partkey // 1000)::VARCHAR || ',' || lpad((p_partkey % 1000)::VARCHAR, 3, '0')),
        |          ',', '')::BIGINT AS uncomma
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      T.df(s, dir, "part").select(col("p_partkey"),
          trim(regexp_replace(
            concat(lit(" "), col("p_name"), lit("  "), col("p_type"), lit(" ")),
            "\\s+", " ")).as("collapsed"),
          initcap(col("p_name")).as("titled"),
          regexp_replace(
            concat((col("p_partkey") / 1000).cast("bigint").cast("string"), lit(","),
              lpad((col("p_partkey") % 1000).cast("string"), 3, "0")),
            ",", "").cast("bigint").as("uncomma"))
        .orderBy("p_partkey")
    },

    // ---- §2.7: multiset set-operation variants (ALL forms).
    Q("q59_set_all_variants",
      """WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
        |     b AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'P')
        |SELECT op, n FROM (
        |  SELECT 'union_all' AS op, (SELECT count(*) FROM (SELECT k FROM a UNION ALL SELECT k FROM b)) AS n
        |  UNION ALL
        |  SELECT 'intersect_all', (SELECT count(*) FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b))
        |  UNION ALL
        |  SELECT 'except_all', (SELECT count(*) FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)))
        |ORDER BY op""".stripMargin) { (s, dir) =>
      import s.implicits._
      val o = T.df(s, dir, "orders")
      val a = o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("k"))
      val b = o.filter(col("o_orderstatus") === "P").select(col("o_custkey").as("k"))
      Seq(
        ("union_all", a.unionAll(b).count()),
        ("intersect_all", a.intersectAll(b).count()),
        ("except_all", a.exceptAll(b).count()))
        .toDF("op", "n").orderBy("op")
    },

    // ---- A10: HLL approx-distinct. The sketch VALUE is engine-specific
    // (no cross-engine oracle exists for it), so the query emits the
    // exact counts plus a self-asserting envelope: within_5pct must be
    // TRUE, and the oracle hard-codes TRUE — if the engine's HLL ever
    // drifts past ±5% of exact, the hash compare goes red. exact counts
    // stay fully oracle-checked. (ExtrasSpec pins the envelope too.)
    Q("q60_approx_distinct",
      """SELECT o_orderpriority,
        |       count(DISTINCT o_custkey)::BIGINT AS exact_cust,
        |       true AS within_5pct
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      // countDistinct and the HLL sketch in ONE aggregate call forces
      // the whole input through Expand + a sort-based imperative
      // aggregate (measured 3.4 s warm at sf0.1 vs 0.9 s for this
      // shape): two independent hash aggregates — each with map-side
      // partial combine — joined on the 5-row group key keep both
      // paths in their fast plans. Two scans beat one Expand×2 + sort
      // at any scale.
      // Round 21 A/B NOTE: widening this scan (project + repartition
      // before the two aggs) was tried and REVERTED — the HLL partial
      // (rsd 0.01 → 2^14 registers) instantiated per task × 32 plus
      // two concurrent 32-task stages oversubscribing the cores read
      // 3.2 s wall vs 1.4 s for this single-task-scan shape. 150k
      // narrow rows are cheaper to aggregate in place than to spread.
      val o = T.df(s, dir, "orders")
      val exact = o.groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("exact_cust"))
      val approx = o.groupBy("o_orderpriority")
        .agg(approx_count_distinct(col("o_custkey"), 0.01).as("approx_cust"))
      exact.join(approx, "o_orderpriority")
        .select(col("o_orderpriority"), col("exact_cust"),
          (abs(col("approx_cust") - col("exact_cust"))
            <= col("exact_cust") * lit(0.05)).as("within_5pct"))
        .orderBy("o_orderpriority")
    },

    // ---- approximate quantiles (the sketch that REPLACES q56's exact
    // percentiles at scale: exact quantiles need a per-group sort of
    // the whole column; the GK/KLL-class sketch is mergeable, so it
    // pre-combines map-side and shuffles O(sketch) per group, never
    // the data). The sketch VALUE is engine-specific, so — q60's
    // discipline — the query grades the sketch in-plan against its
    // own rank guarantee: percentile_approx(accuracy=1000) promises
    // rank error ≤ N/1000; the verification pass counts each approx
    // quantile's true rank and asserts it within a 10×-slack ±0.01·N
    // band, and the oracle hard-codes TRUE. Any drift past the
    // guarantee flips the boolean and the hash compare goes red. The
    // rank-count pass is itself one aggregate over a broadcast of the
    // 5-row sketch table — the cost of GRADING, not of the sketch;
    // production runs the first aggregate alone.
    Q("q104_quantile_sketch",
      """SELECT event_type, count(*)::BIGINT AS n,
        |       true AS p50_ok, true AS p90_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val e = T.events(s, dir).select(col("event_type"), col("value"))
      val sk = e.groupBy("event_type")
        .agg(percentile_approx(col("value"),
          array(lit(0.5), lit(0.9)), lit(1000)).as("ap"))
      e.join(broadcast(sk), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") < col("ap")(0), 1L).otherwise(0L)).as("lt50"),
          sum(when(col("value") <= col("ap")(0), 1L).otherwise(0L)).as("le50"),
          sum(when(col("value") < col("ap")(1), 1L).otherwise(0L)).as("lt90"),
          sum(when(col("value") <= col("ap")(1), 1L).otherwise(0L)).as("le90"))
        .select(col("event_type"), col("n"),
          (col("lt50") <= col("n") * 0.51 && col("le50") >= col("n") * 0.49).as("p50_ok"),
          (col("lt90") <= col("n") * 0.91 && col("le90") >= col("n") * 0.89).as("p90_ok"))
        .orderBy("event_type")
    },

    // ---- A10 family: exact interpolated percentiles (Spark percentile
    // ≡ DuckDB quantile_cont); results land on fixture's integer-ish
    // quantities, decimal-cast for cross-engine hashing.
    Q("q56_percentiles",
      """SELECT l_returnflag,
        |  cast(round(quantile_cont(l_quantity, 0.5)::DECIMAL(12,2), 2) as double) AS p50,
        |  cast(round(quantile_cont(l_quantity, 0.9)::DECIMAL(12,2), 2) as double) AS p90,
        |  cast(min(l_quantity) as double) AS mn, cast(max(l_quantity) as double) AS mx
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      T.df(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          T.dbl(round(expr("percentile(l_quantity, 0.5)").cast("decimal(12,2)"), 2)).as("p50"),
          T.dbl(round(expr("percentile(l_quantity, 0.9)").cast("decimal(12,2)"), 2)).as("p90"),
          T.dbl(min(col("l_quantity"))).as("mn"), T.dbl(max(col("l_quantity"))).as("mx"))
        .orderBy("l_returnflag")
    },

    // ---- Skew-salted join (the brief's explicit-salting technique as
    // a first-class operator, see [[SkewJoin]]): the salted plan must
    // produce EXACTLY the plain equi-join's result — the oracle is the
    // plain join, so any salting bug (lost rows, double-replication)
    // flips the hash compare.
    Q("q61_skew_salted_join",
      """SELECT o_orderpriority, count(*) AS n,
        |  cast(sum(cast(l_quantity as decimal(12,2))) as double) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      // Project the probe BEFORE salting (round 21, guide §2.3): the
      // salt is xxhash64 over every probe column, so passing the full
      // lineitem forced an 11-column ReadSchema (strings included)
      // for a query that consumes two columns — the salt only needs
      // to be deterministic PER ROW, not over any particular columns,
      // so hashing the pruned row changes salt values but not the
      // join's result (the oracle is the plain join; still exact).
      SkewJoin.saltedJoin(
          T.df(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity")),
          "l_orderkey",
          T.df(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
          "o_orderkey", 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), T.dbl(sum(T.dec(col("l_quantity")))).as("sum_qty"))
        .orderBy("o_orderpriority")
    },

    // ---- batch sessionization over the event stream's table form:
    // Spark's native session_window (one shuffle keyed by user — the
    // same operator Structured Streaming runs stateful, here state-
    // free in batch). A session closes at a gap >= 30 min: Spark
    // merges an event iff it lands strictly inside the previous
    // window's [start, last+gap) extent, so the oracle's lag-diff
    // formulation uses >= for the session break. The fixture's
    // timestamps are microsecond-round, so the TIMESTAMP(NANOS) →
    // micros truncation on the Spark side moves no gap across the
    // boundary.
    Q("q76_sessionize",
      """WITH l AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, event_id,
        |             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                              ROWS UNBOUNDED PRECEDING) AS sess
        |      FROM l),
        |g AS (SELECT user_id, sess, count(*) AS ev FROM s GROUP BY 1, 2)
        |SELECT user_id, sum(ev)::BIGINT AS n_events, count(*)::BIGINT AS n_sessions,
        |       max(ev)::BIGINT AS longest_session
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      T.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("ev"))
        .groupBy("user_id")
        .agg(sum("ev").as("n_events"), count(lit(1)).as("n_sessions"),
          max("ev").as("longest_session"))
        .orderBy("user_id")
    },

    // ---- ordered funnel (view → click → purchase, strictly after the
    // previous stage's FIRST completion): each stage is a per-user min
    // over the event scan joined to the previous stage's survivors —
    // per-stage the join is keyed by user on already-aggregated frames
    // (one row per user), so the chain is three partial-agg shuffles
    // of user-sized frames, never event×event.
    Q("q77_funnel",
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id)
        |SELECT stage, n_users FROM (
        |  SELECT 1 AS stage, count(*)::BIGINT AS n_users FROM v
        |  UNION ALL SELECT 2, count(*)::BIGINT FROM c
        |  UNION ALL SELECT 3, count(*)::BIGINT FROM p)
        |ORDER BY stage""".stripMargin) { (s, dir) =>
      val e = T.events(s, dir)
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val c = e.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min("ts").as("t2"))
      val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("ts") > col("t2"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      v.agg(count(lit(1)).as("n_users")).select(lit(1).as("stage"), col("n_users"))
        .unionAll(c.agg(count(lit(1)).as("n_users")).select(lit(2).as("stage"), col("n_users")))
        .unionAll(p.agg(count(lit(1)).as("n_users")).select(lit(3).as("stage"), col("n_users")))
        .orderBy("stage")
    },

    // ---- retention cohorts: users grouped by first-activity day,
    // counted on each of the next 7 days they return. Two partial-agg
    // shuffles (first-day per user; distinct user-days) and one
    // user-keyed join — the standard cohort triangle at any scale.
    Q("q78_retention",
      """WITH f AS (SELECT user_id, min(cast(date_trunc('day', ts) as date)) AS d0
        |           FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, cast(date_trunc('day', ts) as date) AS d FROM events),
        |r AS (SELECT f.d0, (a.d - f.d0) AS k, a.user_id
        |      FROM a JOIN f USING (user_id) WHERE a.d - f.d0 BETWEEN 0 AND 7)
        |SELECT d0::VARCHAR AS cohort, k::BIGINT AS k, count(DISTINCT user_id)::BIGINT AS n_users
        |FROM r GROUP BY d0, k ORDER BY cohort, k""".stripMargin) { (s, dir) =>
      val e = T.events(s, dir).select(col("user_id"), col("ts").cast("date").as("d"))
      val f = e.groupBy("user_id").agg(min("d").as("d0"))
      val a = e.distinct()
      a.join(f, "user_id")
        .withColumn("k", datediff(col("d"), col("d0")).cast("long"))
        .filter(col("k").between(0, 7))
        .groupBy(col("d0").cast("string").as("cohort"), col("k"))
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort", "k")
    },

    // ---- pivot: priority columns per order status. With the value
    // list given explicitly, Spark plans ONE pass of conditional
    // aggregates (same plan as the oracle's CASE sums) — omitting the
    // list costs an extra distinct-collect job at scale, so the
    // operator takes it as part of the signature.
    Q("q79_pivot",
      """SELECT o_orderstatus,
        |  sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT AS urgent,
        |  sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)::BIGINT AS high,
        |  sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)::BIGINT AS medium,
        |  sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END)::BIGINT AS unspecified,
        |  sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)::BIGINT AS low
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val cols = Seq("1-URGENT" -> "urgent", "2-HIGH" -> "high", "3-MEDIUM" -> "medium",
        "4-NOT SPECIFIED" -> "unspecified", "5-LOW" -> "low")
      val pivoted = T.df(s, dir, "orders")
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", cols.map(_._1))
        .agg(count(lit(1)))
      cols.foldLeft(pivoted) { case (df, (v, a)) =>
          df.withColumn(a, coalesce(col(s"`$v`"), lit(0L))).drop(v)
        }
        .orderBy("o_orderstatus")
    },

    // ---- unpivot (melt): the wide flag columns back to long form —
    // Spark's native unpivot (ids/values/variable/value), a zero-
    // shuffle generator projection. Oracle is the UNION ALL per
    // column formulation.
    Q("q80_unpivot",
      """WITH w AS (SELECT o_orderstatus,
        |                  sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT AS urgent,
        |                  sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)::BIGINT AS low
        |           FROM orders GROUP BY o_orderstatus)
        |SELECT o_orderstatus, prio, n FROM (
        |  SELECT o_orderstatus, 'urgent' AS prio, urgent AS n FROM w
        |  UNION ALL SELECT o_orderstatus, 'low', low FROM w)
        |ORDER BY o_orderstatus, prio""".stripMargin) { (s, dir) =>
      T.df(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("urgent"),
          sum(when(col("o_orderpriority") === "5-LOW", 1L).otherwise(0L)).as("low"))
        .unpivot(Array(col("o_orderstatus")), Array(col("urgent"), col("low")),
          "prio", "n")
        .orderBy("o_orderstatus", "prio")
    },

    // ---- CDC snapshot diff (dataset versioning): classify every key
    // as added/removed/changed between two corpus snapshots. The "new"
    // snapshot is derived deterministically from the base (drop
    // id%17=3, revise text on id%13=5, add id%19=7 under shifted ids)
    // so the diff is oracle-able with no extra fixture. One full-outer
    // sort-merge join keyed by the pk — at 100 TB both snapshots live
    // pk-bucketed (sinks/Sinks.bucketed), which makes this diff
    // SHUFFLE-FREE on both sides (BucketedSpec pins that plan shape);
    // unchanged keys are filtered before the join output is ever
    // widened, so the result is |delta|, not |corpus|.
    Q("q84_snapshot_diff",
      """WITH nw AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 13 = 5 THEN text || ' [rev2]' ELSE text END AS text
        |  FROM documents WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 19 = 7)
        |SELECT coalesce(b.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN n.doc_id IS NULL THEN 'removed'
        |            WHEN b.doc_id IS NULL THEN 'added'
        |            ELSE 'changed' END AS change
        |FROM documents b FULL OUTER JOIN nw n ON b.doc_id = n.doc_id
        |WHERE n.doc_id IS NULL OR b.doc_id IS NULL OR b.text <> n.text
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val base = T.df(s, dir, "documents").select(col("doc_id"), col("text"))
      val revised = base.filter(col("doc_id") % 17 =!= 3)
        .withColumn("text",
          when(col("doc_id") % 13 === 5, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")))
      val added = base.filter(col("doc_id") % 19 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val nw = revised.unionAll(added)
      base.as("b").join(nw.as("n"), col("b.doc_id") === col("n.doc_id"), "full_outer")
        .filter(col("n.doc_id").isNull || col("b.doc_id").isNull
          || col("b.text") =!= col("n.text"))
        .select(coalesce(col("b.doc_id"), col("n.doc_id")).as("doc_id"),
          when(col("n.doc_id").isNull, "removed")
            .when(col("b.doc_id").isNull, "added")
            .otherwise("changed").as("change"))
        .orderBy("doc_id")
    },

    // ---- SCD-2 interval build (dimension history): collapse each
    // user's event_type sequence into validity intervals
    // [valid_from, valid_to) — the standard warehouse history-table
    // shape. Two windows over the SAME (user_id, ts, event_id)
    // ordering, so Catalyst plans ONE exchange keyed by user_id and
    // sorts once; run heads found via lag, interval ends via lead —
    // no self-join, no range scan, holds at any per-user history
    // length. Timestamps exported as epoch micros (unix_micros /
    // epoch_us agree exactly — events.ts is micros in both engines);
    // run_event_id (the run's first event) makes row order total even
    // if two runs of one user share a timestamp.
    Q("q85_scd2_intervals",
      """WITH o AS (
        |  SELECT user_id, event_id, ts, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
        |  FROM events),
        |runs AS (
        |  SELECT user_id, event_id, ts, event_type FROM o
        |  WHERE pv IS NULL OR pv <> event_type)
        |SELECT user_id, event_id AS run_event_id, event_type,
        |       epoch_us(ts) AS valid_from_us,
        |       epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS valid_to_us
        |FROM runs ORDER BY user_id, valid_from_us, run_event_id""".stripMargin) { (s, dir) =>
      val ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val runs = T.df(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("pv", lag(col("event_type"), 1).over(ord))
        .filter(col("pv").isNull || col("pv") =!= col("event_type"))
        .drop("pv")
      runs
        .withColumn("valid_to_us", unix_micros(lead(col("ts"), 1).over(ord)))
        .select(col("user_id"), col("event_id").as("run_event_id"), col("event_type"),
          unix_micros(col("ts")).as("valid_from_us"), col("valid_to_us"))
        .orderBy("user_id", "valid_from_us", "run_event_id")
    },

    // ---- parquet schema evolution (long-lived datasets): a corpus
    // written over months drifts — columns get ADDED (v2 gains lang2)
    // and DROPPED (v2 loses source). `mergeSchema` reconciles all
    // file footers to the union schema, absent columns read as null —
    // no rewrite of old files, the property that matters when "old
    // files" is 100 TB. Snapshots are staged once per sf into /tmp
    // (same pattern as the streaming landing dirs); both derive
    // deterministically from `documents`, so the oracle expresses the
    // merged read exactly over the base table. Footer merging is
    // driver-side metadata work ∝ file count (and prunable via
    // explicit schemas at extreme file counts); the data scan itself
    // stays map-only.
    Q("q90_schema_evolution",
      """SELECT doc_id, lang,
        |       CASE WHEN doc_id < 250 THEN source END AS source,
        |       CASE WHEN doc_id >= 250 THEN upper(lang) END AS lang2
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // Staging hygiene (ADVICE r7): the snapshot key derives from the
      // SOURCE file's size+mtime and snapshots land via write-to-temp +
      // atomic rename ([[T.staged]]): an interrupted first run leaves
      // only an orphaned .stage dir, never a half-staged `base` that a
      // later run would silently read.
      val base = T.staged(dir, "schema_evo") { stage =>
        val d = T.df(s, dir, "documents")
        d.filter(col("doc_id") < 250)
          .select(col("doc_id"), col("lang"), col("source"))
          .write.mode("overwrite").parquet(stage.resolve("v1").toString)
        d.filter(col("doc_id") >= 250)
          .select(col("doc_id"), col("lang"), upper(col("lang")).as("lang2"))
          .write.mode("overwrite").parquet(stage.resolve("v2").toString)
      }
      s.read.option("mergeSchema", "true")
        .parquet(base.resolve("v1").toString, base.resolve("v2").toString)
        .select(col("doc_id"), col("lang"), col("source"), col("lang2"))
        .orderBy("doc_id")
    },

    // ---- statistics aggregates (mean/variance/stddev/correlation):
    // NOT the built-ins — those accumulate floating point in
    // partition order, so their last bits differ run to run and
    // engine to engine, which a hash compare cannot tolerate.
    // Instead: the five raw moments accumulate EXACTLY (2-dp values
    // through decimal, integer ids through bigint — partial-agg
    // friendly, one shuffle of 5 cells per group), cast once to
    // double, and the statistics derive through the SAME IEEE
    // expression tree on both engines — deterministic to the last
    // bit, no rounding envelope needed. This is also the at-scale
    // shape: moments pre-combine map-side; the built-in's
    // numerically-nicer Welford path matters for ill-conditioned
    // data, not for bounded 2-dp measures.
    Q("q93_stats_agg",
      """WITH s AS (SELECT event_type, count(*) AS n,
        |  sum(cast(value AS decimal(12,2)))::DOUBLE AS sx,
        |  sum(cast(value AS decimal(12,2)) * cast(value AS decimal(12,2)))::DOUBLE AS sxx,
        |  sum(cast(value AS decimal(12,2)) * user_id)::DOUBLE AS sxy,
        |  sum(user_id)::DOUBLE AS sy,
        |  sum(user_id * user_id)::DOUBLE AS syy
        |  FROM events GROUP BY 1)
        |SELECT event_type, n, sx / n AS mean_v,
        |  CASE WHEN n > 1
        |       THEN (n * sxx - sx * sx) / (n * (n - 1)) END AS var_v,
        |  CASE WHEN n > 1
        |       THEN sqrt((n * sxx - sx * sx) / (n * (n - 1))) END AS stddev_v,
        |  CASE WHEN n > 1 AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
        |       THEN (n * sxy - sx * sy)
        |         / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) END AS corr_vu
        |FROM s ORDER BY event_type""".stripMargin) { (s, dir) =>
      val x = T.dec(col("value"))
      val m = T.df(s, dir, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(x).cast("double").as("sx"),
          sum(x * x).cast("double").as("sxx"),
          sum(x * col("user_id")).cast("double").as("sxy"),
          sum(col("user_id")).cast("double").as("sy"),
          sum(col("user_id") * col("user_id")).cast("double").as("syy"))
      val Seq(n, sx, sxx, sxy, sy, syy) =
        Seq("n", "sx", "sxx", "sxy", "sy", "syy").map(col)
      // degenerate-group guards (ADVICE r7): a singleton group's sample
      // variance and a zero-variance group's correlation are 0/0 —
      // Spark and DuckDB RENDER that differently (NaN vs NULL vs Inf),
      // so both sides gate to NULL with identical CASE predicates;
      // StatsAggSpec pins the guarded shapes on degenerate fixtures.
      val varExpr = (n * sxx - sx * sx) / (n * (n - 1))
      m.select(col("event_type"), n,
          (sx / n).as("mean_v"),
          when(n > 1, varExpr).as("var_v"),
          when(n > 1, sqrt(varExpr)).as("stddev_v"),
          when(n > 1 && (n * sxx - sx * sx) > 0 && (n * syy - sy * sy) > 0,
            (n * sxy - sx * sy)
              / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))).as("corr_vu"))
        .orderBy("event_type")
    },

    // ---- argmax/argmin aggregation: "the event with the highest
    // value per user" without a window — ONE hash aggregate with
    // map-side partials instead of a per-user sort (the q53 window
    // form costs a sort inside each partition; this is the cheaper
    // shape when only the extreme row is wanted). Determinism: both
    // engines pick an ARBITRARY row on ties, so the ordering key is
    // the STRUCT (value-cents, event_id) — lexicographic struct
    // comparison is totally ordered and tie-free in both engines, and
    // unlike round 7's packed bigint (cents * 1e10 + id, flagged by
    // ADVICE r7) it cannot overflow for ANY decimal(12,2) value or
    // event_id: Spark (non-ANSI) wraps int64 silently where DuckDB
    // errors, so the packing envelope was a silent-divergence edge.
    // max(struct).field is the max_by spelling both engines share
    // (DuckDB's max_by doesn't take struct keys).
    // k is NULL-coalesced to Long.MinValue on BOTH engines: Spark and
    // DuckDB order structs with NULL fields differently (nulls-first
    // vs nulls-last), so a NULL value row would diverge silently — the
    // same class of edge the round-7 packed-bigint fix closed
    // (ADVICE r8). The sentinel sorts below every real key, so a NULL
    // value never wins top_event against a real value; in an all-NULL
    // group both engines agree via the struct's id tiebreak (k is
    // constant across its rows: max picks the max id, min the min id).
    Q("q94_argmax_agg",
      """SELECT user_id,
        |  max(struct_pack(k := coalesce(cast(cast(value AS decimal(12,2)) * 100 AS BIGINT),
        |                                -9223372036854775807),
        |                  id := event_id)).id AS top_event,
        |  min(struct_pack(k := coalesce(cast(cast(value AS decimal(12,2)) * 100 AS BIGINT),
        |                                -9223372036854775807),
        |                  id := event_id)).id AS bottom_event,
        |  cast(max(cast(value AS decimal(12,2))) AS DOUBLE) AS max_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val key = struct(
        coalesce((T.dec(col("value")) * 100).cast("bigint"), lit(Long.MinValue + 1)).as("k"),
        col("event_id").as("id"))
      T.df(s, dir, "events")
        .groupBy("user_id")
        .agg(max(key).getField("id").as("top_event"),
          min(key).getField("id").as("bottom_event"),
          T.dbl(max(T.dec(col("value")))).as("max_value"))
        .orderBy("user_id")
    },

    // ---- time-series resample + forward fill (gap-filling): regular
    // daily grid per user over their observed span (`sequence` +
    // explode — a generator projection, rows ∝ users × horizon days,
    // BOUNDED by the horizon, never by event count), left-joined with
    // the observed daily aggregate, gaps carried forward with
    // last(_, ignoreNulls) — one window over the same user key. The
    // standard feature-engineering shape ("daily activity with
    // carry-forward") that naive implementations do per-entity on the
    // driver; here grid generation, join, and fill are all
    // distributed, with user_id the single shuffle key.
    Q("q96_resample_ffill",
      """WITH daily AS (
        |  SELECT user_id, ts::DATE AS day,
        |         sum(cast(value AS decimal(12,2))) AS v
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        |         FROM span)
        |SELECT g.user_id, g.day::VARCHAR AS day, d.v IS NOT NULL AS observed,
        |       (last_value(d.v IGNORE NULLS)
        |          OVER (PARTITION BY g.user_id ORDER BY g.day))::DOUBLE AS ffill_value
        |FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
        |ORDER BY g.user_id, g.day""".stripMargin) { (s, dir) =>
      val daily = T.df(s, dir, "events")
        .select(col("user_id"), col("ts").cast("date").as("day"),
          T.dec(col("value")).as("v"))
        .groupBy("user_id", "day").agg(sum("v").as("v"))
      val grid = daily.groupBy("user_id").agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("user_id"), explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val w = Window.partitionBy("user_id").orderBy("day")
      grid.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day").cast("string").as("day"),
          col("v").isNotNull.as("observed"),
          T.dbl(last(col("v"), ignoreNulls = true).over(w)).as("ffill_value"))
        .orderBy("user_id", "day")
    },

    // ---- time-RANGE window frame (sliding 1-hour aggregate per row):
    // frames so far were ROW-based (q12) — RANGE over event-time
    // microseconds is the other frame family, and the one sliding
    // "last hour as of each event" metrics need. The frame bound is
    // integer micros on BOTH engines (no timestamp arithmetic to
    // diverge); RANGE includes order-value PEERS in both, so same-µs
    // events agree by construction. One exchange on user_id + in-
    // partition sort; at 100 TB the frame scan is bounded by rate ×
    // 1 h per user, the same envelope the q86 stream state carries.
    Q("q98_time_range_frame",
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  (count(*) OVER w)::BIGINT AS n_1h,
        |  (sum(cast(value AS decimal(12,2))) OVER w)::DOUBLE AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us, event_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-3600000000L, 0L)
      T.df(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), T.dec(col("value")).as("v"))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          count(lit(1)).over(w).as("n_1h"),
          T.dbl(sum(col("v")).over(w)).as("sum_1h"))
        .orderBy("user_id", "ts_us", "event_id")
    },

    // ---- Markov transition matrix (behavior-sequence mining: the
    // next-event model behind funnel prediction and anomaly scoring).
    // Per-user successor via ONE lead() window over (ts, event_id) —
    // the same total order q85's SCD-2 runs on, so engine agreement is
    // already proven — then a global (from, to) count with map-side
    // partials. Transition probability is integer milli (1000·n div
    // row-total): floor-identical in both engines, no float keys.
    // Plan at 100 TB: one user-keyed exchange for the window (frame
    // scan is one row of lookahead), one exchange for the pair counts;
    // the per-from row total is a WINDOW over the |types|²-row count
    // frame, not a join — a self-join against a re-aggregated total
    // would traverse the events window pass twice (measured: the join
    // form planned the user-keyed window subtree twice, one exchange
    // recovered by reuse). Events are the single input pass. PlanSpec
    // pins exactly-one user-keyed exchange + no join.
    Q("q114_markov_transitions",
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |c AS (SELECT event_type AS from_type, nxt AS to_type, count(*)::BIGINT AS n
        |      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |       ((1000 * n) // (sum(n) OVER (PARTITION BY from_type)))::BIGINT AS p_milli
        |FROM c ORDER BY from_type, to_type""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wt = Window.partitionBy("from_type")
      T.df(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("nxt", lead(col("event_type"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("nxt").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("from_type"), col("to_type"), col("n"),
          expr("(1000 * n)").as("nk"), sum(col("n")).over(wt).as("nt"))
        .select(col("from_type"), col("to_type"), col("n"),
          expr("nk div nt").as("p_milli"))
        .orderBy("from_type", "to_type")
    },

    // ---- Top event-type trigram paths (round 14) — order-3 sequence
    // mining, the step past q114's first-order transitions: frequent
    // 3-step journeys ("view→cart→buy") for funnel discovery, with
    // top-20 by support. Rides the SAME (ts, event_id)-total-ordered
    // user window q85/q114 pinned (tie-broken, so both engines see
    // identical sequences); two lead()s in ONE window pass emit every
    // overlapping trigram map-side — no self-joins, no sequence
    // materialization (the collect_list form holds whole user
    // histories in task memory; this holds 2 lookahead rows).
    // Plan at 100 TB: one user-keyed exchange for the window (the
    // |types|³-bounded support agg and top-20 heap downstream), same
    // shape the q114 PlanSpec pins — sessions are per-user bounded,
    // so the window state never skews beyond a user's history.
    Q("q142_trigram_paths",
      """WITH seq AS (
        |  SELECT event_type AS e1,
        |         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
        |         lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
        |  FROM events)
        |SELECT e1, e2, e3, count(*)::BIGINT AS n
        |FROM seq WHERE e3 IS NOT NULL GROUP BY 1, 2, 3
        |ORDER BY n DESC, e1, e2, e3 LIMIT 20""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      T.df(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .filter(col("e3").isNotNull)
        .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
        .limit(20)
    },

    // ---- per-group OLS trend (slope/intercept/r² of value over
    // time): the "is this metric drifting" regression every monitoring
    // pass runs per segment. Same cross-engine discipline as q93: NOT
    // the regr_* built-ins (float accumulation in partition order
    // diverges run-to-run and engine-to-engine) — the five raw moments
    // accumulate EXACTLY (2-dp values through decimal, day index
    // through bigint; x is epoch DAYS, small enough that every moment
    // sum is exactly representable after the one cast to double), then
    // the statistics derive through the SAME IEEE expression tree on
    // both engines. Degenerate groups (n ≤ 1, zero x- or y-variance)
    // gate to NULL with identical CASE predicates. Plan at 100 TB: one
    // hash aggregate with map-side partials — 6 cells per group cross
    // the wire, never rows; the derivation is a projection over
    // |groups| rows. PlanSpec pins the partial-agg + no-join shape.
    Q("q115_ols_trend",
      """WITH m AS (SELECT event_type, count(*) AS n,
        |  sum(ts::DATE - DATE '1970-01-01')::DOUBLE AS sx,
        |  sum((ts::DATE - DATE '1970-01-01') * (ts::DATE - DATE '1970-01-01'))::DOUBLE AS sxx,
        |  sum(cast(value AS decimal(12,2)))::DOUBLE AS sy,
        |  sum(cast(value AS decimal(12,2)) * cast(value AS decimal(12,2)))::DOUBLE AS syy,
        |  sum((ts::DATE - DATE '1970-01-01') * cast(value AS decimal(12,2)))::DOUBLE AS sxy
        |  FROM events GROUP BY 1)
        |SELECT event_type, n,
        |  CASE WHEN n > 1 AND (n * sxx - sx * sx) > 0
        |       THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
        |  CASE WHEN n > 1 AND (n * sxx - sx * sx) > 0
        |       THEN (sy - sx * ((n * sxy - sx * sy) / (n * sxx - sx * sx))) / n END AS intercept,
        |  CASE WHEN n > 1 AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
        |       THEN ((n * sxy - sx * sy) * (n * sxy - sx * sy))
        |         / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END AS r2
        |FROM m ORDER BY event_type""".stripMargin) { (s, dir) =>
      val x = datediff(col("ts").cast("date"), lit("1970-01-01")).cast("long")
      val y = T.dec(col("value"))
      val m = T.df(s, dir, "events")
        .select(col("event_type"), x.as("x"), y.as("y"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("x") * col("x")).cast("double").as("sxx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("y") * col("y")).cast("double").as("syy"),
          sum(col("x") * col("y")).cast("double").as("sxy"))
      val Seq(n, sx, sxx, sy, syy, sxy) =
        Seq("n", "sx", "sxx", "sy", "syy", "sxy").map(col)
      val dx = n * sxx - sx * sx
      val dy = n * syy - sy * sy
      val cv = n * sxy - sx * sy
      val slope = cv / dx
      m.select(col("event_type"), n,
          when(n > 1 && dx > 0, slope).as("slope"),
          when(n > 1 && dx > 0, (sy - sx * slope) / n).as("intercept"),
          when(n > 1 && dx > 0 && dy > 0, (cv * cv) / (dx * dy)).as("r2"))
        .orderBy("event_type")
    },

    // ---- CDC apply (merge-on-read fold): base snapshot + sequenced
    // upsert/delete deltas → the final state, the read-side companion
    // of the write-side merge `StreamMerge.upsertBatch` emulates and
    // the consumption step for q84's snapshot-diff output. Last-writer-
    // wins per key via ONE hash aggregate: max(struct(seq, …)) with
    // map-side partials (the q94 struct-argmax discipline — seq is
    // unique per key so the pick is total), then delete-winners drop.
    // The fixture derives its three delta batches from the base with
    // pure integer arithmetic (update every 5th, delete every 11th,
    // insert a shifted copy of every 13th), so both engines build
    // byte-identical inputs. Plan at 100 TB: deltas are typically ≪
    // base, and the union's aggregate shuffles each row once with
    // partial combine; a production lakehouse pins deltas to affected
    // partitions instead (q84's bucketing note) — the fold semantics
    // are what this query locks. PlanSpec pins single-agg + partials.
    Q("q121_cdc_apply",
      """WITH base AS (SELECT doc_id, 0::BIGINT AS seq, 'u' AS op, n_chars, source FROM documents),
        |d1 AS (SELECT doc_id, 1::BIGINT, 'u', n_chars + 1000, source FROM documents WHERE doc_id % 5 = 0),
        |d2 AS (SELECT doc_id, 2::BIGINT, 'd', 0::BIGINT, source FROM documents WHERE doc_id % 11 = 0),
        |d3 AS (SELECT doc_id + 1000000, 1::BIGINT, 'u', n_chars * 2, source FROM documents WHERE doc_id % 13 = 0),
        |allr AS (SELECT * FROM base UNION ALL SELECT * FROM d1
        |         UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3),
        |w AS (SELECT doc_id, max({'seq': seq, 'op': op, 'n_chars': n_chars, 'source': source}) AS m
        |      FROM allr GROUP BY 1)
        |SELECT doc_id, m.n_chars AS n_chars, m.source AS source FROM w
        |WHERE m.op != 'd' ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = T.df(s, dir, "documents").select("doc_id", "n_chars", "source")
      def batch(df: org.apache.spark.sql.DataFrame, seq: Int, op: String) = df.select(
        col("doc_id"), lit(seq.toLong).as("seq"), lit(op).as("op"),
        col("n_chars"), col("source"))
      val base = batch(d, 0, "u")
      val d1 = batch(d.filter(col("doc_id") % 5 === 0)
        .withColumn("n_chars", col("n_chars") + 1000), 1, "u")
      val d2 = batch(d.filter(col("doc_id") % 11 === 0)
        .withColumn("n_chars", lit(0L)), 2, "d")
      val d3 = batch(d.filter(col("doc_id") % 13 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("n_chars", col("n_chars") * 2), 1, "u")
      base.union(d1).union(d2).union(d3)
        .groupBy("doc_id")
        .agg(max(struct(col("seq"), col("op"), col("n_chars"), col("source"))).as("m"))
        .filter(col("m.op") =!= "d")
        .select(col("doc_id"), col("m.n_chars").as("n_chars"),
          col("m.source").as("source"))
        .orderBy("doc_id")
    },

    // ---- group-wise min-max normalization (ML feature scaling):
    // integer-milli normalized value per event, exact on both engines
    // because the arithmetic runs on CENTS bigints (2-dp decimal × 100
    // — no float division anywhere; degenerate zero-range groups gate
    // to NULL with identical predicates). Deliberately TWO passes —
    // this is the one shape where the q114/q116 window trick is WRONG:
    // a per-type window would shuffle the whole corpus onto |types|
    // partitions (5 keys = 5 giant partitions at 100 TB), while the
    // stats pass exchanges only 2 cells per type (map-side partials)
    // and the apply pass is map-only behind a broadcast of the tiny
    // stats frame. PlanSpec pins broadcast-apply + no corpus window.
    Q("q123_minmax_norm",
      """WITH s AS (SELECT event_id, event_type, cast(value AS decimal(12,2)) AS v FROM events),
        |m AS (SELECT event_type AS et, min(v) AS vmin, max(v) AS vmax FROM s GROUP BY 1)
        |SELECT s.event_id, s.event_type,
        |       CASE WHEN m.vmax > m.vmin
        |            THEN (1000 * cast((s.v - m.vmin) * 100 AS BIGINT)) // cast((m.vmax - m.vmin) * 100 AS BIGINT)
        |       END AS norm_milli
        |FROM s JOIN m ON m.et = s.event_type
        |ORDER BY s.event_id""".stripMargin) { (s, dir) =>
      val sv = T.df(s, dir, "events")
        .select(col("event_id"), col("event_type"), T.dec(col("value")).as("v"))
      val m = sv.groupBy(col("event_type").as("et"))
        .agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
      sv.join(broadcast(m), col("et") === col("event_type"))
        .select(col("event_id"), col("event_type"),
          when(col("vmax") > col("vmin"),
            expr("(1000 * cast((v - vmin) * 100 as bigint)) div cast((vmax - vmin) * 100 as bigint)"))
            .as("norm_milli"))
        .orderBy("event_id")
    }
  )
}
