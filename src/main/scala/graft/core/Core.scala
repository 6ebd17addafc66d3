package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Fixture-table access + shared helpers.
  *
  * Oracle determinism rules used across all queries (the driver
  * hash-compares our parquet output against DuckDB running the oracle
  * SQL on the same tables):
  *  - doubles that are *computed* (sums/avgs) are first cast to
  *    decimal(12,2) — exact in both engines because every fixture
  *    money/value column has 2-decimal granularity — aggregated
  *    exactly, then cast back to double;
  *  - doubles that are *passed through* unchanged are bit-identical
  *    in both engines and safe;
  *  - every query ends in a total ORDER BY over its key columns;
  *  - aggregate / computed columns are aliased identically on both
  *    sides (the driver matches columns by name).
  */
object T {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def df(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(s, dir)
    else s.read.parquet(s"$dir/$name.parquet")

  /** events.ts has shipped in two parquet encodings across testdata
    * generations: TIMESTAMP(NANOS), which Spark's reader does not support
    * natively (read as raw long nanos and truncate to microseconds — the
    * same nanos->micros truncation DuckDB applies), and plain
    * timestamp[us] WITHOUT UTC adjustment, which Spark reads as
    * TIMESTAMP_NTZ. Normalize both to session-zone TIMESTAMP: every
    * consumer (unix_micros, watermarks, windows) requires it, and with
    * the UTC session zone the NTZ->LTZ cast re-labels the same wall
    * clock DuckDB sees — values identical in both engines. */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(s.read.parquet(s"$dir/events.parquet"))
  }

  /** The [[events]] `ts` normalization over any frame, batch or
    * streaming; a frame without a `ts` column is returned as is. */
  def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }

  /** A table derived from the fixture's `documents`, staged once per
    * fixture generation at `/tmp/graft/<prefix>_<stamp>` and returned.
    * The stamp is `documents.parquet`'s size+mtime, so a regenerated
    * fixture at the same path never meets a stale staged copy. `write`
    * fills a pid-suffixed stage dir that is promoted with ATOMIC_MOVE:
    * an interrupted run leaves only an orphaned stage dir, never a
    * half-written table, and a concurrent run that lost the move
    * discards its (identical) copy. */
  def staged(dir: String, prefix: String)(write: java.nio.file.Path => Unit): java.nio.file.Path = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(dir, "documents.parquet")
    val stamp = Files.size(src) + "_" + Files.getLastModifiedTime(src).toMillis
    val base = Paths.get(s"/tmp/graft/${prefix}_$stamp")
    if (!Files.exists(base)) {
      val stage = base.resolveSibling(
        base.getFileName.toString + ".stage_" + ProcessHandle.current().pid())
      write(stage)
      try Files.move(stage, base, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: java.nio.file.DirectoryNotEmptyException =>
          org.apache.commons.io.FileUtils.deleteDirectory(stage.toFile)
      }
    }
    base
  }

  /** Register all fixture tables as temp views (for spark.sql entries).
    * Registered once per (session, dir) — re-registering 10 views per
    * query invocation was wasteful (VERDICT r1 #6). */
  private val registered =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()
  def views(s: SparkSession, dir: String): Unit =
    if (registered.put(s, dir) != dir)
      names.foreach(n => df(s, dir, n).createOrReplaceTempView(n))

  /** Exact decimal view of a 2-dp double column: identical in Spark & DuckDB. */
  def dec(c: Column): Column = c.cast("decimal(12,2)")
  def dbl(c: Column): Column = c.cast("double")
}

/** Scratch-dir resolution for the harness entrypoints (round 21,
  * optimization guide §1.3/§6: "local disk bandwidth for shuffle files
  * can be the tighter limit — check both"). Thread dumps of the
  * shuffle-deep queries (q195/q113/q208) caught most executor threads
  * inside FileOutputStream.open0/FileChannelImpl.map0 — shuffle-file
  * and disk-block creation latency on the sandbox's ext4 root, not
  * compute. A deployment points `spark.local.dir` at its fastest local
  * media (NVMe array); for this fixture's MB-scale shuffles on a
  * 128 GiB box that medium is tmpfs. Back-to-back A/B (one flat-calib
  * probe session per arm): q113 cold 7.3→4.0 s, q195 2.4→1.9,
  * q202 3.0→2.5, q208 hot 2.1→1.6.
  *
  * Parameterised per the scale-rule: the standard `SPARK_LOCAL_DIRS`
  * env always wins if set (Spark reads it before spark.local.dir);
  * `SPARK_GRAFT_LOCAL_DIR` overrides the default (`default` or empty =
  * leave Spark's default); otherwise /dev/shm/graft_local when
  * creatable, else Spark's default. Shuffle volume at 100 TB does not
  * fit RAM — there the override names the NVMe scratch array and this
  * default never engages (the dir must be creatable to be used). */
object LocalDirs {
  def resolve(): Option[String] =
    if (sys.env.contains("SPARK_LOCAL_DIRS")) None
    else {
      val d = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft_local")
      if (d.isEmpty || d == "default") None
      else
        try {
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
          Some(d)
        } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Apply the resolved dir to a session builder (no-op when unset). */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    resolve().fold(b)(d => b.config("spark.local.dir", d))
}

/** Session-level SQL-conf tuning shared by every harness entrypoint
  * (round 22, VERDICT r21 item 1 — the global planner-latency pass for
  * the sub-1 s tail; the board ran FASTER at 8 cores than 32, so the
  * per-query fixed cost is scheduler/planner latency, not compute).
  *
  * [[defaults]] holds only values adopted from a measured full-board
  * A/B (each entry cites its arm in OPTIMIZATION_r22.md); the
  * `SPARK_GRAFT_SQLCONF` env (`key=value;key=value`) is the experiment
  * and deployment override — it always wins over defaults, so a
  * cluster run can re-tune any of these without a rebuild. Values here
  * must hold at scale or be scale-neutral: a setting that only pays at
  * fixture scale does not belong in defaults. */
object SessionTuning {
  /** Adopted by the round-22 A/B (see OPTIMIZATION_r22.md "Global
    * planner-latency pass" for the per-arm numbers).
    *
    * bypassMergeThreshold=0 — use the sort-based shuffle writer for
    * EVERY shuffle, never the bypass-merge writer. Thread-dump
    * sampling during hot loops showed 207/262 RUNNABLE executor-task
    * samples inside SparkStreamUtils.copyFileStreamNIO: the bypass
    * writer opens one file PER REDUCER per map task and then
    * concatenates them (32 mappers x 32 reducers ~ 1,024 file
    * creates+copies per tiny shuffle) — the per-task blocking behind
    * the runtime>>cpu stages and the 8-core-beats-32 scaling of the
    * r21 board. The at-scale argument is independent of the local
    * numbers: the bypass writer only ever engages below 200 reduce
    * partitions, so a 100 TB deployment NEVER uses it — this default
    * makes the local bench exercise the production writer. Measured
    * (same-machine-state 3-sweep boards): 113.6 vs 121.9 s total,
    * 19 queries faster (q136 1.16 vs 1.86, q237/q232/q233/q203/q124/
    * q109/q135 each -0.3..-0.7), worst observed cost under a quiet
    * machine ~ +0.2 s on q152/q154-class small shuffles. Override via
    * SPARK_GRAFT_SQLCONF. */
  val defaults: Seq[(String, String)] =
    Seq("spark.shuffle.sort.bypassMergeThreshold" -> "0")

  /** `SPARK_GRAFT_SQLCONF=k=v;k=v` — experiment/deployment overrides. */
  def overrides(): Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_SQLCONF").fold(Seq.empty[(String, String)])(parse)

  /** `k=v;k=v` → pairs in order. Segments are trimmed; blank segments
    * and segments without `=` are dropped; a value keeps every `=` after
    * the first. */
  def parse(s: String): Seq[(String, String)] =
    s.split(";").toSeq
      .map(_.trim).filter(s => s.nonEmpty && s.contains("="))
      .map { kv =>
        val i = kv.indexOf('=')
        (kv.take(i).trim, kv.drop(i + 1).trim)
      }

  /** Effective (key, value) list: defaults first, overrides last (a
    * later `.config` call wins in the builder). */
  def effective(): Seq[(String, String)] = defaults ++ overrides()

  def configure(b: SparkSession.Builder): SparkSession.Builder =
    effective().foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
}

/** The one session factory: Bench, Verify, the specs and every tool
  * main build their session from [[builder]], so the board, the
  * correctness dump and a probe run the same engine configuration at
  * the same width. */
object Session {
  /** `SPARK_GRAFT_CPUS`, else the machine's core count. A measurement
    * tool's default must match the measurement protocol: round 15 lost
    * a night of board arms to local boards at one width and isolated
    * probes at another (a phantom 2-7x "regression"). */
  def cpus(): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors())(_.toInt)

  /** A `local[cpus]` builder carrying every engine-wide setting; the
    * caller adds its app name (and any warehouse dir) and calls
    * `getOrCreate`. */
  def builder(cpus: Int): SparkSession.Builder =
    SessionTuning.configure(LocalDirs.configure(SparkSession.builder()))
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts is parquet TIMESTAMP(NANOS), which the vectorized
      // reader does not support; session-wide, so no per-read conf flip
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Spark 4.1's union-preserves-partitioning feature zips
      // co-partitioned union children; a memoized frame whose
      // AQE-materialized partition count diverges from its claimed
      // partitioning crashes the zip with "Can't zip RDDs with unequal
      // numbers of partitions" (q233 hot at clone10; cold runs replan
      // and pass) -- keep the sound concatenating Union
      .config("spark.sql.unionOutputPartitioning", "false")
      // the default 100-entry codegen-class LRU thrashes under the
      // query board: ~1985 recompilations in EVERY sweep, not just the
      // first (r13); sized to the workload, sweep 2+3 compile deltas
      // drop to ~80. Static conf, so it is set at session create.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // the SQL function `extract_record`
      .withExtensions(new graft.plans.GraftExtensions)
}

/** JSON string literals for the hand-rendered harness artifacts. */
object JsonString {
  /** `s` quoted, with backslash, quote and ALL control chars (<0x20)
    * escaped — a tab or CR in builder-authored SQL or an env value would
    * otherwise make a consumer's json.load fail. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** One operator query: a Spark plan + (optionally) DuckDB oracle SQL
  * producing identical column names, values and row order. `reads`
  * names the cache families whose memos the plan's construction reads
  * (see [[graft.Caches]]). */
final case class Q(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    reads: Seq[graft.Family]) {
  /** Builds the plan as the session's running query, so the frames
    * its construction persists are released by its own hook. */
  def run: (SparkSession, String) => DataFrame = { (s, dir) =>
    graft.Caches.enter(s, name)
    build(s, dir)
  }
}

object Q {
  def apply(name: String, oracle: String, reads: graft.Family*)(
      run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, Some(oracle), reads)
  def noOracle(name: String, reads: graft.Family*)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, None, reads)
}
