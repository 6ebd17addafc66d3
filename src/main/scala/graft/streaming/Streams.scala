package graft.streaming

import graft.Family
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Q, T}

/** Structured Streaming surface (SURVEY §2.9).
  *
  * q55 runs a REAL streaming query — file source → tumbling-window
  * aggregation → memory sink — driven to completion with a one-shot
  * trigger, then returns the materialized result; the oracle is the
  * equivalent batch aggregation in DuckDB. At scale the same plan runs
  * continuously: the file source checkpoints for exactly-once, the
  * window aggregation keeps one state row per (window, type), and a
  * watermark bounds state (watermark/late-data behavior is pinned in
  * StreamingSpec where batch arrival order is controllable).
  */
object Streams {

  /** Micro-batch shuffle/state width for the streaming queries.
    *
    * MEASURED (round 17): the per-query streaming floor was dominated
    * not by data but by 32-way task + state-store overhead per
    * micro-batch — every stateful operator instantiates, loads, and
    * commits one state-store instance PER STATE PARTITION per batch,
    * and a fixture micro-batch is MB-scale. Width 8 re-anchored q55
    * 2.83 → 1.03 s with identical results. The mechanism is the
    * per-partition TASK + store lifecycle, NOT checkpoint disk
    * flushes: an A/B moving the scratch checkpoints to tmpfs moved
    * nothing (q55 1.03 → 1.03, q86/q149 within noise), so the
    * durable-checkpoint shape is kept as-is. State width is a
    * CAPACITY dial, not semantics: a deployment sizes it to its
    * batch volume exactly as this harness sizes
    * `spark.sql.shuffle.partitions` 32 (not 200) to the fixture — at
    * 100 TB/day you raise it (state partition count is fixed per
    * checkpoint lineage; these harness entries start fresh
    * checkpoints per run, so the width is free to choose here and
    * pinned-for-life in a real deployment).
    *
    * StreamExecution CLONES the session at `start()`, so the width
    * set here binds every micro-batch of queries started inside
    * `f`, while the conf restore keeps batch post-processing (and
    * every non-streaming query) on the session default. */
  /** THE one config point for streaming state width (round 21, VERDICT
    * r20 item 4 — this dial previously lived inline in q86/q149's
    * bodies as a literal "8"): `SPARK_GRAFT_STREAM_PARTS`, default 8,
    * the A/B knob and the deployment's capacity dial. State-store
    * partition count is fixed per checkpoint lineage in a real
    * deployment (set once per stream job); these harness entries start
    * fresh checkpoints per run, so the width is free to choose here.
    * At real state volume the knob is per-checkpoint and the
    * HDFS-backed store gives way to RocksDB
    * (spark.sql.streaming.stateStore.providerClass =
    * ...RocksDBStateStoreProvider) — the width stays the same dial.
    * Width A/B at sf0.1 (round 21, isolated QueryProbe cold medians,
    * one flat-calib session per arm): 8 → 4 → 2 parts read
    * q86 3.10/2.24/2.58, q149 2.83/2.61/2.79, q72 1.53/1.50/1.88,
    * q55 1.37/1.35/1.34 — 4 is the knee (fewer per-batch store
    * lifecycles than 8, still enough task parallelism that 2 loses
    * it back), so the fixture default moves 8 → 4; results identical
    * (width is partitioning, not semantics — StreamingSpec pins
    * result equality across widths). */
  private[graft] def streamParts: String =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "4")

  private[streaming] def withStreamParts[T](s: SparkSession)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, streamParts)
    try f finally s.conf.set(key, old)
  }

  /** A streaming Q: the whole body runs under [[withStreamParts]]. */
  private def SQ(name: String, oracle: String, reads: Family*)(
      body: (SparkSession, String) => DataFrame): Q =
    Q(name, oracle, reads: _*)((s, dir) => withStreamParts(s)(body(s, dir)))

  /** Shared scratch-store epilogue for the gate queries (q204/q215 —
    * review r17: one materialize-then-delete dance, not one per
    * gate): collect the BOUNDED census eagerly, delete the UUID-keyed
    * decision store + checkpoint (each run writes corpus-row-scale
    * parquet under a fresh UUID — a lazily-returned frame over the
    * store would force keeping every run's store on disk, the ADVICE
    * r16 accumulation), and return the census as a local-backed
    * frame. A real deployment KEEPS its decision store (it IS the
    * gate's output); these harness entries return the census, so the
    * store is scratch. */
  private[streaming] def materializeScratch(s: SparkSession, store: String,
      out: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = out.collect().toSeq // census rows — bounded by construction
    def rmTree(root: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(root)) {
        java.nio.file.Files.walk(root)
          .sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.delete)
      }
    rmTree(java.nio.file.Paths.get(store))
    rmTree(java.nio.file.Paths.get(store + ".ckpt"))
    s.createDataFrame(rows.asJava, out.schema)
  }

  /** A fresh UUID-named memory-sink table for the running query
    * (round 18, VERDICT r17 item 6 — the IN-MEMORY face of the q204
    * store-leak class): each run of a memory-sink query registers a
    * temp view holding its FULL result rows in the driver for the life
    * of the session, so the view is dropped by the query's own release
    * hook ([[graft.Caches.onRelease]]); a re-run streams under a fresh
    * name. */
  private[streaming] def memTable(s: SparkSession, prefix: String): String = {
    val name = prefix + java.util.UUID.randomUUID().toString.replace("-", "")
    graft.Caches.onRelease(s)(s.catalog.dropTempView(name))
    name
  }

  /** Streaming exact-dedup for a document ingest stream: drop every
    * record whose `keyCol` was already seen within the watermark
    * horizon. `dropDuplicatesWithinWatermark` keeps one state row per
    * key and EXPIRES state once the key's event time falls behind the
    * watermark — the property that makes streaming dedup viable at
    * 100 TB/day, where an unbounded `dropDuplicates` state would grow
    * forever. Exactly-once within the horizon; re-emission of a key
    * after the horizon passes is the documented trade (tune the delay
    * to the upstream's max duplicate lag). StreamingSpec pins both the
    * dedup and the cross-batch state retention. */
  def dedupStream(in: DataFrame, keyCol: String, tsCol: String,
                  watermarkDelay: String): DataFrame =
    in.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Stage `events.parquet` into a per-sf landing DIRECTORY (the file
    * streaming source consumes a dir, files arriving over time) and
    * open it as a micro-second-timestamped event stream — the shared
    * front of every streaming query here. Each call returns a FRESH
    * readStream (required for stream-stream self-joins: each side
    * tracks its own offsets). */
  /** Stage `$dir/$table.parquet` into a per-fixture landing DIRECTORY
    * (shared by [[eventStream]] and [[docStream]]) and return it. */
  private def stageLanding(dir: String, table: String): java.nio.file.Path = {
    // landing dir is keyed by the SOURCE's size+mtime stamp (ADVICE
    // r11): a regenerated fixture at the same path — possibly with the
    // OTHER ts encoding — must never meet a stale staged copy whose
    // physical type contradicts the freshly-read schema below.
    val src = java.nio.file.Paths.get(s"$dir/$table.parquet")
    // a fixture table may be a single FILE (the driver fixtures) or a
    // Spark output DIRECTORY of part files (CloneFixture, spec
    // fixtures written with .write.parquet). Files.copy on a directory
    // copies an EMPTY directory — round 16's clone10 streaming numbers
    // silently measured a ZERO-ROW stream through exactly that hole —
    // so directory sources enumerate their part files and both the
    // stamp and the staging walk them.
    import scala.jdk.CollectionConverters._
    // FAIL-LOUD layout guards (review r17): an empty source directory
    // must not stage an empty landing that silently streams zero rows
    // (the clone10 hole's other face), and a PARTITIONED layout
    // (part files under key=value subdirectories) must not stage FLAT
    // — the partition columns' values live in the directory names, so
    // flat staging would silently corrupt the data. Both throw.
    def partFiles(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val walk = java.nio.file.Files.walk(p)
      val all =
        try walk.iterator().asScala
          .filter(f => java.nio.file.Files.isRegularFile(f) &&
            f.getFileName.toString.endsWith(".parquet"))
          .toSeq.sortBy(_.toString)
        finally walk.close()
      require(all.nonEmpty,
        s"$p contains no parquet part files — staging it would silently " +
          "stream zero rows")
      require(all.forall(_.getParent == p),
        s"$p is a PARTITIONED parquet layout — its partition-column " +
          "values live in directory names, which flat staging would drop; " +
          "rewrite the fixture unpartitioned to stream it")
      all
    }
    val srcFiles =
      if (java.nio.file.Files.isDirectory(src)) partFiles(src) else Seq(src)
    val stamp = srcFiles.map(java.nio.file.Files.size).sum + "_" +
      srcFiles.map(java.nio.file.Files.getLastModifiedTime(_).toMillis)
        .maxOption.getOrElse(0L)
    val prefix = s"stream_${table}_" + Integer.toHexString(dir.hashCode) + "_"
    val landing = java.nio.file.Paths.get("/tmp/graft/" + prefix + stamp)
    // a regenerated fixture leaves the PREVIOUS stamp's staged copy
    // behind forever (ADVICE r12) — drop stale siblings before staging.
    // AGE-GATED (ADVICE r13): a sibling younger than an hour may back a
    // concurrently running process still on the previous fixture
    // generation — deleting it mid-stream would break that run; stale
    // copies only need to die EVENTUALLY, so old-only is safe AND
    // complete. The Files.list stream is closed (one leaked
    // directory-stream fd per call otherwise).
    val parent = java.nio.file.Paths.get("/tmp/graft")
    if (java.nio.file.Files.isDirectory(parent)) {
      val listing = java.nio.file.Files.list(parent)
      val cutoff = System.currentTimeMillis() - 3600L * 1000
      try {
        val it = listing.iterator()
        while (it.hasNext) {
          val p = it.next()
          val n = p.getFileName.toString
          if (n.startsWith(prefix) && n != prefix + stamp &&
              java.nio.file.Files.getLastModifiedTime(p).toMillis < cutoff)
            org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
        }
      } finally listing.close()
    }
    java.nio.file.Files.createDirectories(landing)
    srcFiles.zipWithIndex.foreach { case (f, i) =>
      val dst =
        if (srcFiles.size == 1) landing.resolve(s"$table.parquet")
        else landing.resolve(f"$table%s_part$i%05d.parquet")
      if (!java.nio.file.Files.exists(dst)) {
        // write-to-temp + ATOMIC_MOVE (the pngTable/mediaTable staging
        // discipline): a concurrent process computing the same stamp
        // must never observe a half-copied file behind the exists-check
        val tmp = landing.resolve(
          dst.getFileName.toString + "." +
            java.lang.ProcessHandle.current().pid() + ".tmp")
        java.nio.file.Files.copy(f, tmp,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        try java.nio.file.Files.move(tmp, dst,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.FileAlreadyExistsException =>
          java.nio.file.Files.deleteIfExists(tmp) }
      }
    }
    landing
  }

  private[streaming] def eventStream(s: SparkSession, dir: String): DataFrame = {
    val landing = stageLanding(dir, "events")
    // schema from the batch reader; normalize ts to session-zone
    // TIMESTAMP exactly as T.events does (the testdata has shipped both
    // TIMESTAMP(NANOS) -> raw long nanos and timestamp[us] -> NTZ, and
    // watermarks/windows require TimestampType)
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    val stream = s.readStream.schema(schema).parquet(landing.toString)
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        stream.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        stream.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => stream
    }
  }

  /** Document ingest stream over the staged fixture — the front of the
    * q204 decontamination gate (no timestamp normalization: documents
    * carry no event time; the gate is stateless per row). */
  private[streaming] def docStream(s: SparkSession, dir: String): DataFrame = {
    val landing = stageLanding(dir, "documents")
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    s.readStream.schema(schema).parquet(landing.toString)
  }

  /** Embedding ingest stream over the staged fixture — the front of
    * the q215 embedding-space decontamination gate (stateless per row,
    * like [[docStream]]: vectors carry no event time). */
  private[streaming] def embStream(s: SparkSession, dir: String): DataFrame = {
    val landing = stageLanding(dir, "embeddings")
    val schema = s.read.parquet(s"$dir/embeddings.parquet").schema
    s.readStream.schema(schema).parquet(landing.toString)
  }

  val qs: Seq[Q] = Seq(
    SQ("q55_stream_window",
      """SELECT cast(date_trunc('day', ts) as date)::VARCHAR AS day, event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin) { (s, dir) =>
      val name = memTable(s, "stream_window_")
      val q = eventStream(s, dir)
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .count()
        .writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name)
        .select(col("window.start").cast("date").cast("string").as("day"),
          col("event_type"), col("count").as("n"))
        .orderBy("day", "event_type")
    },

    // ---- stream-static join (production enrichment shape): the event
    // stream joins a STATIC dimension (customer → nation) that Spark
    // re-plans per micro-batch and BROADCASTS — the stream side never
    // shuffles for the join; the only stateful exchange is the
    // windowed aggregation. At 100 TB/day this is the standard
    // "enrich-then-aggregate" topology: dims broadcast, state is one
    // row per (window, nation).
    SQ("q72_stream_static_join",
      """SELECT cast(date_trunc('day', ts) as date)::VARCHAR AS day, n_name AS nation,
        |       count(*) AS n,
        |       cast(sum(cast(value as decimal(12,2))) as double) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |            JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY day, nation""".stripMargin) { (s, dir) =>
      val name = memTable(s, "stream_enrich_")
      val withTs = eventStream(s, dir)
      val dim = broadcast(T.df(s, dir, "customer")
        .join(broadcast(T.df(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name")))
      val q = withTs
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy(window(col("ts"), "1 day"), col("n_name"))
        .agg(count(lit(1)).as("n"),
          sum(T.dec(col("value"))).as("sum_value_dec"))
        .writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name)
        .select(col("window.start").cast("date").cast("string").as("day"),
          col("n_name").as("nation"), col("n"),
          T.dbl(col("sum_value_dec")).as("sum_value"))
        .orderBy("day", "nation")
    },

    // ---- stream-STREAM interval join (funnel attribution, online):
    // clicks and purchases arrive as two independent streams; emit
    // every (click, purchase-by-same-user-within-30-min) pair. Both
    // sides carry a 1 h watermark and the join condition bounds
    // purchase.ts to [click.ts, click.ts + 30 min], which is exactly
    // what lets Spark EXPIRE state: a click older than watermark+30min
    // can never match a future purchase and is evicted, so state is
    // (rate × horizon), not the whole history — the property that
    // makes this run forever at 100 TB/day. MEASURED, not narrated
    // (graft.tools.StateSweep, README "state-growth sweep"): state
    // plateaus at ~4.1k rows per batch at 1x rate and ~40.8k at 10x —
    // flat across micro-batches, exactly rate-proportional, while the
    // stream's cumulative history grows 10 files deep. Append mode: rows emit
    // once the watermark passes their match window (exactly-once with
    // checkpointing). The oracle is the equivalent batch interval
    // join; timestamps compare and export in micros, where the two
    // engines' ns→µs truncation agrees exactly.
    SQ("q86_stream_stream_join",
      """SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id,
        |       epoch_us(a.ts) AS click_ts_us, epoch_us(b.ts) AS purchase_ts_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND epoch_us(b.ts) >= epoch_us(a.ts)
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 1800000000
        |ORDER BY click_id, purchase_id""".stripMargin) { (s, dir) =>
      val name = memTable(s, "stream_join_")
      // stream-stream joins keep FOUR state stores per shuffle
      // partition (left/right × rows/keyToNumValues); state-store
      // partitioning is a per-checkpoint choice, sized to state
      // volume, not to the batch compute parallelism. The width is set
      // ONCE by the SQ wrapper's withStreamParts ([[streamParts]], the
      // family config point) — the inline save/set this body carried
      // was redundant with it (round 21, VERDICT r20 item 4).
      val clicks = eventStream(s, dir)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val purchases = eventStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val q = clicks
        .join(purchases,
          col("user_id") === col("p_user")
            && col("p_ts") >= col("c_ts")
            && col("p_ts") <= col("c_ts") + expr("interval 30 minutes"))
        .writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name)
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          unix_micros(col("c_ts")).as("click_ts_us"),
          unix_micros(col("p_ts")).as("purchase_ts_us"))
        .orderBy("click_id", "purchase_id")
    },

    // ---- stream-stream LEFT OUTER interval join (round 14 — q86's
    // inner join answers "which clicks converted"; the funnel question
    // a pipeline actually asks is "which clicks did NOT", and in
    // streaming that answer has a genuinely harder semantics: a
    // null-extended row may only be emitted once the watermark proves
    // no matching purchase can still arrive, i.e. the negative result
    // is a STATE-EVICTION event, not a join result. Spark runs the
    // final eviction in the no-data micro-batch after the last file
    // batch. Determinism vs the batch oracle requires every click's
    // join window to close below the FINAL watermark (max event ts −
    // 1 h): clicks within the last day's horizon would have their
    // null-rows withheld forever in a live stream, so the report is
    // cut at Jan 29 — a real deployment reports that trailing band
    // as 'pending', exactly what the watermark makes precise. The cut
    // is a POST-JOIN predicate, deliberately: the global watermark is
    // the MIN across both sides' watermark nodes, so cutting the
    // click STREAM would cap the left watermark at the cutoff and
    // withhold exactly the last 90 minutes of null-rows (measured: 6
    // rows at sf0.01) — the stream must see its full input for its
    // watermark to clear the report window. Within
    // one click_id the output is either all-matched rows or ONE null
    // row, never mixed, so cross-engine NULL-ordering cannot reorder
    // the sorted compare.
    SQ("q149_stream_interval_outer",
      """WITH c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS cts
        |           FROM events
        |           WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-29 00:00:00'),
        |p AS (SELECT event_id AS purchase_id, user_id AS p_user, epoch_us(ts) AS pts
        |      FROM events WHERE event_type = 'purchase')
        |SELECT c.click_id, p.purchase_id, c.user_id, c.cts AS click_ts_us,
        |       p.pts AS purchase_ts_us
        |FROM c LEFT JOIN p ON c.user_id = p.p_user
        |  AND p.pts >= c.cts AND p.pts <= c.cts + 1800000000
        |ORDER BY click_id, purchase_id""".stripMargin) { (s, dir) =>
      val name = memTable(s, "stream_outer_")
      // width set once by SQ's withStreamParts (q86's rationale)
      val clicks = eventStream(s, dir)
          .filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "1 hour")
        val purchases = eventStream(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val q = clicks
          .join(purchases,
            col("user_id") === col("p_user")
              && col("p_ts") >= col("c_ts")
              && col("p_ts") <= col("c_ts") + expr("interval 30 minutes"),
            "left_outer")
          .filter(col("c_ts") < lit("2024-01-29 00:00:00").cast("timestamp"))
          .writeStream
          .outputMode("append")
          .format("memory")
          .queryName(name)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.table(name)
          .select(col("click_id"), col("purchase_id"), col("user_id"),
            unix_micros(col("c_ts")).as("click_ts_us"),
            unix_micros(col("p_ts")).as("purchase_ts_us"))
          .orderBy("click_id", "purchase_id")
    },

    // ---- streaming heavy hitters (hot-key detection): the event
    // stream folds into [[StreamTopK]]'s bucketed Misra–Gries state —
    // a few thousand state rows FOREVER, regardless of stream length
    // or key cardinality (a streaming groupBy(user).count() would keep
    // one row per distinct key). The sketch only nominates CANDIDATES;
    // the exact top-20 comes from recounting the candidates against
    // the batch table (q67's candidates-then-exact discipline, with
    // the sketch now living across micro-batches as GroupState). The
    // update-mode sink emits each bucket's survivors every batch; the
    // final set is each bucket's LAST emission (max update-seq).
    // Oracle = plain exact top-20 — any sketch-completeness regression
    // flips the hash compare.
    SQ("q106_stream_topk",
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |r AS (SELECT user_id, n, row_number() OVER (ORDER BY n DESC, user_id) AS rk FROM c)
        |SELECT rk, user_id, n FROM r WHERE rk <= 20 ORDER BY rk""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.GroupStateTimeout
      import org.apache.spark.sql.expressions.Window
      val name = memTable(s, "stream_topk_")
      val q = eventStream(s, dir)
        .select(col("user_id")).as[Long]
        .groupByKey(_ % StreamTopK.NBuckets)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout())(StreamTopK.update)
        .writeStream
        .outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val cands = s.table(name)
        .withColumn("r", row_number().over(
          Window.partitionBy("bucket").orderBy(col("seq").desc)))
        .filter(col("r") === 1)
        .select(explode(col("cands")).as("user_id"))
      T.events(s, dir)
        .join(broadcast(cands), "user_id")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("user_id")).limit(20)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("n").desc, col("user_id"))))
        .select(col("rk"), col("user_id"), col("n"))
        .orderBy("rk")
    },

    // ---- deterministic streaming uniform sample (round 13): bottom-k
    // by a fixed multiplicative hash, folded as bucketed GroupState
    // ([[StreamSample]]) — O(buckets·k) state FOREVER where a
    // streaming ORDER BY hash LIMIT k would buffer the stream.
    // Deterministic-by-construction: replayed batches, retries, and
    // the DuckDB oracle all rank by the same arithmetic hash, so the
    // sample is exactly-once under at-least-once replay AND exactly
    // hash-comparable — no rand() anywhere. The final set is each
    // bucket's LAST emission (q106's update-seq pattern) merged and
    // re-ranked: a ≤ buckets·k presentation step.
    SQ("q131_stream_sample",
      """WITH h AS (SELECT DISTINCT event_id,
        |             ((event_id % 1000000007) * 2654435761) % 1000000007 AS hv
        |           FROM events)
        |SELECT event_id, hv FROM h ORDER BY hv, event_id LIMIT 100""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.GroupStateTimeout
      import org.apache.spark.sql.expressions.Window
      val name = memTable(s, "stream_sample_")
      val q = eventStream(s, dir)
        .select(col("event_id")).as[Long]
        .groupByKey(_ % StreamSample.NBuckets)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout())(StreamSample.update)
        .writeStream
        .outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name)
        .withColumn("r", row_number().over(
          Window.partitionBy("bucket").orderBy(col("seq").desc)))
        .filter(col("r") === 1)
        .select(explode(col("ids")).as("event_id"))
        .withColumn("hv",
          ((col("event_id") % lit(1000000007L)) * lit(2654435761L)) % lit(1000000007L))
        .orderBy("hv", "event_id").limit(StreamSample.K)
    },

    // ---- ONLINE training-mix monitor (round 15 — q155's temperature
    // weights recomputed per event-time window as data arrives: the
    // mix scheduler's live view during continuous ingestion. The
    // stream maintains only the per-(window, type) mass state —
    // |windows|·|types| rows; the weight arithmetic is a BATCH
    // projection over that state after each trigger
    // ([[MixMonitor.weightFrame]], shared with the fenced sink),
    // exactly where a scheduler reads it. The semantics note that
    // matters in production: per-window weights are a JOINT quantity
    // across types — in update mode a late event re-emits ITS
    // (window, type) row while the sibling types' weights in that
    // window go silently stale. Round 16 (VERDICT r15 item 4): that
    // hazard is now FENCED, not documented — production consumers go
    // through [[MixMonitor.sink]], which publishes the full weight
    // frame per trigger behind an atomic manifest swap, so a torn
    // per-row read is impossible by construction (MixSnapshotSpec).
    // Same integer discipline as q155: masses are decimal-exact (2-dp
    // cents), sqrt is the correctly-rounded IEEE op on the identical
    // double in both engines, quantized to int64 BEFORE any
    // cross-row arithmetic, totals in decimal(38,0)/HUGEINT. The
    // per-day totals window runs over the aggregate-bounded state
    // frame, never the stream.
    SQ("q163_stream_mix_monitor",
      """WITH t AS (SELECT cast(date_trunc('day', ts) as date)::VARCHAR AS day, event_type,
        |                  count(*)::BIGINT AS n,
        |                  sum(cast(value as decimal(12,2))) AS mass_dec
        |           FROM events GROUP BY 1, 2),
        |w AS (SELECT day, event_type, n,
        |             CAST(mass_dec * 100 AS BIGINT) AS cents,
        |             CAST(floor(sqrt(mass_dec::DOUBLE) * 1000000) AS BIGINT) AS w_int
        |      FROM t),
        |s AS (SELECT day, sum(w_int::HUGEINT) AS tw, sum(cents::HUGEINT) AS tc
        |      FROM w GROUP BY 1)
        |SELECT w.day, event_type, n, (cents::DOUBLE / 100) AS mass,
        |       (1000000::HUGEINT * w_int // NULLIF(tw, 0))::BIGINT AS weight_micro,
        |       (1000000::HUGEINT * cents // NULLIF(tc, 0))::BIGINT AS natural_micro,
        |       CASE WHEN (1000000::HUGEINT * cents // NULLIF(tc, 0)) = 0 THEN NULL
        |            ELSE (1000 * (1000000::HUGEINT * w_int // NULLIF(tw, 0))
        |                  // (1000000::HUGEINT * cents // NULLIF(tc, 0)))::BIGINT
        |       END AS boost_milli
        |FROM w JOIN s ON s.day = w.day
        |ORDER BY w.day, event_type""".stripMargin) { (s, dir) =>
      val name = memTable(s, "stream_mix_")
      val q = eventStream(s, dir)
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(T.dec(col("value"))).as("mass_dec"))
        .writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the weight arithmetic (incl. the ADVICE-r15 NULLIF zero-mass
      // guard) lives in MixMonitor.weightFrame, shared with the fenced
      // snapshot sink so both paths compute identical numbers
      MixMonitor.weightFrame(s.table(name)).orderBy("day", "event_type")
    },

    // ---- Streaming decontamination gate (round 16 — the q62/q81
    // contamination rule at the FRONT DOOR: flag each arriving doc
    // whose shingles half-overlap a static benchmark set, before it
    // reaches a training shard). Stateless by construction — the
    // benchmark is static and a doc's shingles live in one row — so
    // decisions are batching-invariant and the stream holds ZERO
    // aggregation state; exactness comes from the Bloom prefilter's
    // no-false-negatives guarantee plus an exact batch-local verify of
    // the survivors, decisions landing exactly-once in a batch=N
    // store (see [[StreamDeconGate]] for the full scale argument).
    // Census: per source, gated docs / flagged docs / trivially-passed
    // short docs / flagged share in milli (NULLIF on both engines).
    SQ("q204_stream_decon_gate",
      graft.llm.LlmText.sqlPrelude + """,
        |bench AS (SELECT DISTINCT sh FROM dsh WHERE doc_id % 20 = 0),
        |hits AS (SELECT d.doc_id, count(*) AS n_sh, count(b.sh) AS n_hit
        |         FROM dsh d LEFT JOIN bench b USING (sh)
        |         WHERE d.doc_id % 20 <> 0 GROUP BY 1),
        |d0 AS (SELECT doc_id, source FROM documents WHERE doc_id % 20 <> 0),
        |pop AS (SELECT d0.source, hits.n_sh, hits.n_hit,
        |               hits.doc_id IS NOT NULL AS has_sh
        |        FROM d0 LEFT JOIN hits ON hits.doc_id = d0.doc_id)
        |SELECT source,
        |       count(*) FILTER (WHERE has_sh)::BIGINT AS n_docs,
        |       count(*) FILTER (WHERE has_sh AND 2 * n_hit >= n_sh)::BIGINT AS n_flagged,
        |       count(*) FILTER (WHERE NOT has_sh)::BIGINT AS n_short,
        |       (1000 * count(*) FILTER (WHERE has_sh AND 2 * n_hit >= n_sh)
        |        // NULLIF(count(*) FILTER (WHERE has_sh), 0))::BIGINT AS flagged_milli
        |FROM pop GROUP BY source ORDER BY source""".stripMargin, Family.Text) { (s, dir) =>
      StreamDeconGate.run(s, dir)
    },

    // ---- Embedding-space decontamination gate (round 17 — q204's
    // gate on the vector side; q100's leakage audit as a FRONT DOOR).
    // Streaming embeddings are gated against the static benchmark
    // vectors: SRP-hamming ≤ 10 candidates (q180's calibrated
    // full-recall band for θ ≥ 0.45), exact integer-cosine verify on
    // the candidate residue, and an n_missed audit column that
    // MEASURES the sketch band's recall instead of assuming it.
    // Stateless per row → batching-invariant (EmbDeconGateSpec);
    // exactly-once via the batch=N overwrite store. Oracle: the q180
    // md5-parity/quantized-integer devices, end to end in SQL.
    SQ("q215_emb_decon_gate",
      """WITH e AS (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
        |           FROM embeddings),
        |q AS (SELECT vec_id, i - 1 AS j, CAST(round(v::DOUBLE * 1000) AS BIGINT) AS qv FROM e),
        |pl AS (SELECT p, j,
        |         CASE WHEN ('0x' || substr(md5(p || ':' || j), 1, 8))::BIGINT % 2 = 0 THEN 1 ELSE -1 END AS s
        |       FROM generate_series(0, 15) t(p), (SELECT DISTINCT j FROM q) u(j)),
        |bits AS (SELECT vec_id, p, CASE WHEN sum(s * qv) > 0 THEN 1 ELSE 0 END AS b
        |         FROM q JOIN pl USING (j) GROUP BY 1, 2),
        |sg AS (SELECT vec_id, sum(b * (1::BIGINT << p))::BIGINT AS sg FROM bits GROUP BY 1),
        |n2 AS (SELECT vec_id, sum(qv * qv)::BIGINT AS n2 FROM q GROUP BY 1),
        |arr AS (SELECT vec_id, label FROM embeddings WHERE vec_id % 20 <> 0),
        |ben AS (SELECT vec_id FROM embeddings WHERE vec_id % 20 = 0),
        |pd AS (SELECT a.vec_id, b.vec_id AS b_id, sum(qa.qv * qb.qv)::BIGINT AS dq
        |       FROM arr a CROSS JOIN ben b
        |         JOIN q qa ON qa.vec_id = a.vec_id
        |         JOIN q qb ON qb.vec_id = b.vec_id AND qb.j = qa.j
        |       GROUP BY 1, 2),
        |px AS (SELECT pd.vec_id,
        |         bit_count(xor(sa.sg, sb.sg))::BIGINT AS ham,
        |         (dq > 0 AND 1000000::HUGEINT * dq * dq >= 202500::HUGEINT * na.n2 * nb.n2) AS hit
        |       FROM pd JOIN sg sa ON sa.vec_id = pd.vec_id JOIN sg sb ON sb.vec_id = pd.b_id
        |         JOIN n2 na ON na.vec_id = pd.vec_id JOIN n2 nb ON nb.vec_id = pd.b_id),
        |per AS (SELECT vec_id,
        |          max(CASE WHEN ham <= 10 THEN 1 ELSE 0 END)::BIGINT AS cand,
        |          max(CASE WHEN ham <= 10 AND hit THEN 1 ELSE 0 END)::BIGINT AS flg,
        |          max(CASE WHEN hit THEN 1 ELSE 0 END)::BIGINT AS hit_true
        |        FROM px GROUP BY 1)
        |SELECT label, count(*)::BIGINT AS n_vecs,
        |       sum(coalesce(cand, 0))::BIGINT AS n_cand,
        |       sum(coalesce(flg, 0))::BIGINT AS n_flagged,
        |       sum(CASE WHEN coalesce(hit_true, 0) = 1 AND coalesce(cand, 0) = 0
        |           THEN 1 ELSE 0 END)::BIGINT AS n_missed,
        |       (1000 * sum(coalesce(flg, 0)) // NULLIF(count(*), 0))::BIGINT AS flagged_milli
        |FROM arr LEFT JOIN per USING (vec_id)
        |GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
      EmbDeconGate.run(s, dir)
    }
  )
}
