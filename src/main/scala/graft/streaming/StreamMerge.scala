package graft.streaming

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.registry.{FieldKind, FieldSpec}

/** Incremental trial consolidation: the batch merge (TrialMerge, A1–A3)
  * as a stateful stream over CTA records, keyed by eudract_id via
  * `mapGroupsWithState` (SURVEY §2.9).
  *
  * First-non-blank is NOT commutative, so out-of-order member-state
  * records would corrupt a naive fold; state therefore keeps
  * (min record_seq, value) per text field — order-independent and
  * O(#fields) per trial, bounded state (SURVEY §7.4.5). Flags keep the
  * max yes/no rank (yes-over-no is a commutative max — safe as-is).
  *
  * StreamingSpec pins the equivalence: records fed in SHUFFLED order
  * through this operator produce exactly the batch TrialMerge result.
  */
object StreamMerge {

  /** One extracted CTA record: non-blank field captures only. */
  final case class RecordIn(eudract_id: String, record_seq: Long, fields: Map[String, String])

  /** Per-trial merge state: value + its seq per text field; rank per flag. */
  final case class MergeState(
      textSeq: Map[String, Long],
      textVal: Map[String, String],
      flagRank: Map[String, Int],
      nRecords: Long)

  /** Merged view emitted on every update (update output mode). */
  final case class TrialUpdate(
      eudract_id: String,
      fields: Map[String, String],
      flags: Map[String, Int],
      nRecords: Long)

  private val flagNames = FieldSpec.trial.filter(_.kind == FieldKind.Flag).map(_.name).toSet

  private def fold(state: MergeState, r: RecordIn): MergeState = {
    var (ts, tv, fr) = (state.textSeq, state.textVal, state.flagRank)
    r.fields.foreach { case (name, value) =>
      if (flagNames(name)) {
        val rank = value match { case "yes" => 2; case "no" => 1; case _ => 0 }
        if (rank > fr.getOrElse(name, 0)) fr = fr.updated(name, rank)
      } else if (ts.get(name).forall(_ > r.record_seq)) {
        ts = ts.updated(name, r.record_seq)
        tv = tv.updated(name, value)
      }
    }
    MergeState(ts, tv, fr, state.nRecords + 1)
  }

  private def finalize(id: String, st: MergeState): TrialUpdate = {
    var f = st.textVal
    // consistency rewrites, same as the batch path (scan.py:103-111)
    if (f.contains("completion_date") && f.get("overall_status").contains("ongoing"))
      f = f.updated("overall_status", "not ongoing")
    if (!f.contains("meddra_soc") && f.get("meddra_level").contains("soc"))
      f.get("meddra_classification").foreach(v => f = f.updated("meddra_soc", v))
    TrialUpdate(id, f,
      st.flagRank.collect { case (k, r) if r > 0 => k -> (r - 1) },
      st.nRecords)
  }

  def update(id: String, rows: Iterator[RecordIn], state: GroupState[MergeState]): TrialUpdate = {
    val st0 = state.getOption.getOrElse(MergeState(Map(), Map(), Map(), 0L))
    val st = rows.foldLeft(st0)(fold)
    state.update(st)
    finalize(id, st)
  }

  /** Wire a stream of records into the stateful merge. */
  def run(records: Dataset[RecordIn]): Dataset[TrialUpdate] = {
    import records.sparkSession.implicits._
    records
      .groupByKey(_.eudract_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(update)
  }

  /** Apply ONE micro-batch of merged-trial updates to a parquet table
    * keyed by eudract_id — the upsert the reference performs per scan
    * into its database (`scan.py:263-278`, INSERT OR REPLACE per
    * trial), incrementalized.
    *
    * Table layout: hash-bucketed directory partitions
    * (`bucket = xxhash64(eudract_id) mod buckets`), so an upsert
    * rewrites ONLY the buckets the batch touches (dynamic partition
    * overwrite) — per-batch work is ∝ |batch| + the affected buckets'
    * resident rows, never the table. At 100 TB: `buckets` scales with
    * table size to bound rewrite amplification, and a real deployment
    * swaps this merge-on-write emulation for a table format with
    * native MERGE (Delta/Iceberg) — the sink contract (idempotent
    * per-batch apply) is exactly what those formats need too.
    *
    * IDEMPOTENT by construction: applying the same batch twice leaves
    * the same table (replaced rows replace to the same values), which
    * turns foreachBatch's at-least-once replay into exactly-once table
    * state (StreamingSpec pins both the replay and the kill-and-resume
    * equivalence). The commit is a STAGED-RENAME SWAP per affected
    * bucket (the Sinks.compact discipline, scoped to buckets): the
    * merged buckets are written whole to a sibling `.stage_<pid>` dir,
    * then each affected bucket directory is swapped in with two atomic
    * renames (live → `.old_<pid>`, staged → live). No bucket is ever
    * TORN — a reader or a replay sees each bucket either fully
    * pre-batch or fully post-batch, never a mix of old and new files
    * (which dynamic partition overwrite could leave, and which a
    * replay's left_anti — removing batch keys only — would never
    * heal). Crash windows, all recoverable (UpsertSwapSpec simulates
    * each): during the stage write → live table untouched, the stale
    * stage dir is deleted by the next call's [[recoverTorn]] pre-pass;
    * between bucket swaps → buckets are individually whole and the
    * standard replay converges them; between the two renames of ONE
    * bucket → that bucket is briefly absent from the live path with
    * its data intact under `.old_<pid>`, and the pre-pass moves it
    * back before the next apply (readers that find a bucket absent
    * must check `.old_` siblings before concluding loss — the compact
    * caveat); after the swaps → only orphaned `.old`/`.stage` dirs,
    * cleaned by the pre-pass. Single-writer per table, ENFORCED (r11):
    * the whole apply runs under a pid-stamped `.writerlock` file —
    * a second process attempting the table while the holder is alive
    * fails fast with IllegalStateException instead of silently racing
    * the swap (or, on the cooperative path — `lockWaitMs > 0`, the
    * sink's default — waits the holder out with backoff and applies
    * serially, the supervisor-restart story), and a crashed holder's
    * lock (dead pid) is stolen by the next writer. Belt-and-braces, the pre-pass also refuses to touch
    * `.stage_`/`.old_` dirs whose embedded pid is a LIVE foreign
    * process, so even a lock-bypassing concurrent caller cannot have
    * its in-flight stage destroyed (it merely races the swap, which
    * the lock exists to prevent). The fence is cross-PROCESS; within
    * one JVM foreachBatch already serializes batches. Renames are
    * same-filesystem atomic; on an object store a real deployment
    * swaps this for a table format's snapshot commit (Delta/Iceberg)
    * — the sink contract is unchanged. */
  def upsertBatch(batch: Dataset[TrialUpdate], tableDir: String, buckets: Int): Unit =
    upsertBatch(batch, tableDir, buckets, lockWaitMs = 0L)

  /** As [[upsertBatch]], with a COOPERATIVE lock path (round 12): a
    * live foreign `.writerlock` holder is waited out for up to
    * `lockWaitMs` (exponential backoff, 25 ms doubling to a 1 s cap)
    * before the single-writer IllegalStateException fires. This is the
    * supervisor-restart story: a restarted stream whose predecessor is
    * still draining its final slow batch QUEUES behind it and then
    * applies — serial application, no crash loop — while two writers
    * genuinely configured against one table still fail within the
    * bound instead of silently racing the swap. `lockWaitMs = 0` keeps
    * the r11 fail-fast contract exactly. */
  def upsertBatch(batch: Dataset[TrialUpdate], tableDir: String, buckets: Int,
                  lockWaitMs: Long): Unit = {
    import java.nio.file.Paths
    val dir = Paths.get(tableDir)
    acquireWriterLock(dir, lockWaitMs)
    try upsertLocked(batch, tableDir, buckets)
    finally releaseWriterLock(dir)
  }

  private def upsertLocked(batch: Dataset[TrialUpdate], tableDir: String, buckets: Int): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val s = batch.sparkSession
    import org.apache.spark.sql.functions._
    import s.implicits._
    val dir = Paths.get(tableDir)
    recoverTorn(dir)
    // updates are cumulative per trial, so within a batch the row that
    // has folded the most records subsumes the rest
    val latest = batch.groupByKey(_.eudract_id)
      .reduceGroups((a, b) => if (a.nRecords >= b.nRecords) a else b)
      .map(_._2)
    val rows = latest.toDF()
      .withColumn("bucket", pmod(xxhash64(col("eudract_id")), lit(buckets.toLong)))
    // bounded by `buckets`, never by table or batch row count
    val affected = rows.select("bucket").distinct().as[Long].collect()
    val merged =
      if (!Files.exists(dir)) rows
      else {
        val keep = s.read.parquet(tableDir)
          .filter(col("bucket").isin(affected.map(Long.box).toSeq: _*))
          .join(rows.select("eudract_id"), Seq("eudract_id"), "left_anti")
        keep.unionByName(rows)
      }
    // stage the affected buckets whole OUTSIDE the live path — the
    // write both materializes the read above (no read-under-overwrite
    // lineage conflict, so no localCheckpoint needed) and leaves the
    // live table untouched until the renames below
    val stage = dir.resolveSibling(
      dir.getFileName.toString + ".stage_" + ProcessHandle.current().pid())
    merged.write.mode("overwrite").partitionBy("bucket").parquet(stage.toString)
    val old = dir.resolveSibling(
      dir.getFileName.toString + ".old_" + ProcessHandle.current().pid())
    Files.createDirectories(old)
    Files.createDirectories(dir)
    for (b <- affected.sorted) {
      val staged = stage.resolve(s"bucket=$b")
      if (Files.exists(staged)) {
        val live = dir.resolve(s"bucket=$b")
        if (Files.exists(live))
          Files.move(live, old.resolve(s"bucket=$b"), StandardCopyOption.ATOMIC_MOVE)
        Files.move(staged, live, StandardCopyOption.ATOMIC_MOVE)
      }
    }
    FileUtils.deleteDirectory(old.toFile)
    FileUtils.deleteDirectory(stage.toFile)
  }

  /** Crash-recovery pre-pass for [[upsertBatch]]'s staged swap: any
    * bucket whose live dir is missing while an `.old_<pid>` sibling
    * still holds it (a crash landed between that bucket's two renames)
    * is moved back; superseded `.old` copies (live dir present) and
    * orphaned `.stage` dirs (incomplete stage writes — live table was
    * never touched) are deleted. Runs before every apply, so a torn
    * table heals on the next batch without operator action.
    *
    * Writer-fence guard (r11): dirs whose `_<pid>` suffix names a LIVE
    * process other than this one belong to a concurrent writer — they
    * are left untouched rather than destroyed mid-write (the suffix
    * has carried the writer's pid since r10 precisely so recovery can
    * tell "crashed, mine to clean" from "alive, not mine"). With the
    * `.writerlock` held such dirs should not exist; the guard defends
    * against lock-bypassing callers and direct recoverTorn use. */
  private[streaming] def recoverTorn(dir: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val parent = dir.getParent
    if (parent == null || !Files.exists(parent)) return
    val name = dir.getFileName.toString
    val self = ProcessHandle.current().pid()
    def foreignLive(sn: String): Boolean = {
      val pid = try sn.substring(sn.lastIndexOf('_') + 1).toLong
                catch { case _: NumberFormatException => -1L }
      pid != self && pid > 0 && pidAlive(pid)
    }
    Files.list(parent).iterator().asScala.toList.foreach { sib =>
      val sn = sib.getFileName.toString
      if (sn.startsWith(name + ".old_") && !foreignLive(sn)) {
        Files.list(sib).iterator().asScala.toList
          .filter(_.getFileName.toString.startsWith("bucket="))
          .foreach { bdir =>
            val live = dir.resolve(bdir.getFileName.toString)
            if (!Files.exists(live))
              Files.move(bdir, live, StandardCopyOption.ATOMIC_MOVE)
          }
        FileUtils.deleteDirectory(sib.toFile)
      } else if (sn.startsWith(name + ".stage_") && !foreignLive(sn))
        FileUtils.deleteDirectory(sib.toFile)
    }
  }

  private def pidAlive(pid: Long): Boolean =
    ProcessHandle.of(pid).map[java.lang.Boolean](_.isAlive)
      .orElse(java.lang.Boolean.FALSE)

  /** Lifetime contended-acquire count per lock path (process-local).
    * In correct single-writer operation a process waits out a live
    * foreign holder a BOUNDED number of times, ever: once behind its
    * predecessor's draining tail at startup, and at most once against
    * an early-starting successor at shutdown. Two live streams
    * configured against the same table contend on roughly every other
    * batch FOREVER — so a cumulative count crossing a small budget is
    * the misconfiguration signal the bounded wait alone cannot see
    * (ADVICE r12: fast-batch writers interleave serially with each
    * wait under the bound; a zero-gap rival instead STARVES this
    * writer and trips the existing deadline throw). Cumulative, not
    * consecutive: random interleaving lets a second stream slip in
    * uncontended acquisitions that would reset any consecutive run. */
  private val contendedAcquires =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private[streaming] val MaxContendedAcquires = 8

  /** Book a successful lock acquisition. An acquisition that had to
    * wait out a live foreign holder counts against the table's
    * lifetime budget; crossing [[MaxContendedAcquires]] releases the
    * just-taken lock and fails — persistent re-contention IS the
    * two-live-writers misconfiguration, even though every individual
    * wait stayed inside the bound. */
  private def noteAcquire(lock: java.nio.file.Path, contended: Boolean): Unit =
    if (contended) {
      val key = lock.toString
      val n = contendedAcquires.merge(key, 1, (a, b) => Integer.valueOf(a + b))
      if (n >= MaxContendedAcquires) {
        contendedAcquires.remove(key)
        java.nio.file.Files.deleteIfExists(lock) // don't strand the table
        throw new IllegalStateException(
          s"upsertBatch: $n acquisitions of $key over this process's lifetime " +
            "each waited out a live foreign writer — a second live writer " +
            "appears configured against this table (single-writer contract " +
            "violated; a cooperative handoff contends only on the " +
            "predecessor's draining tail)")
      }
    }

  private def lockPath(dir: java.nio.file.Path): java.nio.file.Path =
    dir.resolveSibling(dir.getFileName.toString + ".writerlock")

  /** Take the table's cross-process writer lock: atomically create the
    * pid-stamped `.writerlock` sibling. A live foreign holder is the
    * single-writer contract violated → with `waitMs = 0` fail FAST
    * (the caller must not proceed to race the swap); with `waitMs > 0`
    * (the cooperative path) the holder is waited out with exponential
    * backoff until it RELEASES (cooperative handoff) or DIES (lock
    * stolen like any crashed writer's), and only a holder still alive
    * at the deadline throws. A dead holder is always stolen (after a
    * ~200 ms indeterminacy grace: empty/unparsable content is a
    * creator's mid-write window, not a corpse — r13 race fix). The
    * steal itself is race-safe: after deleteIfExists only one
    * contender's CREATE_NEW succeeds, the loser loops and then sees
    * the new live holder. */
  private[streaming] def acquireWriterLock(dir: java.nio.file.Path,
                                           waitMs: Long = 0L): Unit = {
    import java.nio.file.{Files, StandardOpenOption}
    val lock = lockPath(dir)
    val self = ProcessHandle.current().pid()
    if (dir.getParent != null) Files.createDirectories(dir.getParent)
    val deadline = System.nanoTime() + waitMs * 1000000L
    var backoff = 25L
    var steals = 0
    var sawLiveForeign = false
    var unreadable = 0
    while (steals < 100) {
      try {
        Files.write(lock, self.toString.getBytes("UTF-8"),
          StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
        noteAcquire(lock, sawLiveForeign)
        return
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val holder =
            try Files.readString(lock).trim.toLong
            catch { case _: Throwable => -1L }
          if (holder == self) return // ours already (same-process re-entry)
          if (holder > 0 && pidAlive(holder)) {
            unreadable = 0
            if (System.nanoTime() >= deadline)
              throw new IllegalStateException(
                s"upsertBatch: table $dir is locked by live writer pid $holder " +
                  "— single-writer contract violated" +
                  (if (waitMs > 0) s" (still held after ${waitMs} ms lock-wait)" else ""))
            sawLiveForeign = true
            Thread.sleep(backoff) // live holder inside the wait budget
            backoff = math.min(backoff * 2, 1000L)
          } else if (holder <= 0 && unreadable < 40) {
            // EMPTY/unparsable content is NOT proof of a dead holder:
            // CREATE_NEW + write is two steps, so a reader in the
            // creator's mid-write window sees "" — stealing here would
            // leave TWO writers each believing they hold the lock.
            // Indeterminate → brief wait and re-read; only content
            // that STAYS unreadable (a writer crashed between create
            // and write) falls through to the steal after ~200 ms.
            unreadable += 1
            Thread.sleep(5)
          } else {
            unreadable = 0
            Files.deleteIfExists(lock) // dead holder: steal and retry
            steals += 1
          }
      }
    }
    throw new IllegalStateException(s"could not acquire writer lock $lock")
  }

  private[streaming] def releaseWriterLock(dir: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    val lock = lockPath(dir)
    try {
      if (Files.readString(lock).trim.toLong == ProcessHandle.current().pid())
        Files.deleteIfExists(lock)
    } catch { case _: Throwable => () }
  }

  /** The SURVEY §2.9 sink half: merged updates land in the bucketed
    * parquet table via foreachBatch + [[upsertBatch]]. Caller picks the
    * trigger and starts; offsets checkpoint at `checkpoint`, so a
    * killed query resumed on the same checkpoint replays only
    * uncommitted batches — which [[upsertBatch]]'s idempotence turns
    * into exactly-once table state. The sink runs the COOPERATIVE
    * lock path (`lockWaitMs`, default 30 s): a supervisor restarting
    * the stream while the predecessor process is still draining its
    * final batch queues behind it and applies — serial table state,
    * no crash loop — instead of failing fast. Two genuinely concurrent
    * streams are detected two ways (ADVICE r12 — the bound alone only
    * catches a holder that holds CONTINUOUSLY past it): a batch held
    * out past `lockWaitMs` throws at the deadline, and fast-batch
    * writers that interleave serially — each wait individually inside
    * the bound — throw once [[MaxContendedAcquires]] acquisitions in
    * this process's lifetime have each waited out a live foreign
    * holder (a cooperative handoff contends only on the predecessor's
    * draining tail, so cumulative re-contention is the
    * misconfiguration signal). */
  def upsertSink(updates: Dataset[TrialUpdate], tableDir: String,
                 checkpoint: String, buckets: Int = 32,
                 lockWaitMs: Long = 30000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[TrialUpdate] =
    updates.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: Dataset[TrialUpdate], _: Long) =>
        upsertBatch(b, tableDir, buckets, lockWaitMs)
      }
}
