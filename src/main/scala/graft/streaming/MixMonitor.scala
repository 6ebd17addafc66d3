package graft.streaming

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The SAFE READ for the online training-mix monitor (round 16 —
  * VERDICT r15 item 4).
  *
  * q163's semantics note is real: per-window temperature weights are a
  * JOINT quantity across event types — every type's weight in a window
  * depends on the window's TOTAL mass, so any sink that upserts
  * individual (window, type) rows (update-mode memory/Kafka/JDBC)
  * lets a reader observe one re-emitted row next to its siblings'
  * now-stale weights: a torn joint state that sums to more (or less)
  * than unity. The r15 shipped operator documented the hazard and told
  * consumers to "read the complete state"; this object makes the
  * misuse impossible instead of documented:
  *
  *  - the stream runs in COMPLETE output mode through foreachBatch, so
  *    every trigger hands the sink the FULL |windows|×|types| mass
  *    state — the weight arithmetic ([[weightFrame]], shared with
  *    q163's presentation) always runs over one internally-consistent
  *    state generation;
  *  - each trigger's weight frame is written to a fresh `snap_<batch>`
  *    directory and PUBLISHED by an atomic manifest swap (write
  *    CURRENT.tmp, ATOMIC_MOVE onto CURRENT — the StreamMerge staging
  *    discipline): a reader resolving [[readCurrent]] sees either the
  *    previous complete snapshot or the new complete snapshot, never a
  *    mix, never a half-written directory;
  *  - replayed batches (restart between the snapshot move and the
  *    checkpoint commit) re-stage the SAME content and land on
  *    FileAlreadyExists — drop the stage, the swap is idempotent.
  *
  * Scale: the state is |windows|·|types| rows (bounded by the
  * retention window a deployment configures, never by stream volume),
  * so rewriting the whole frame per trigger is O(state), the same
  * asymptotics as emitting it to ANY complete-mode sink — the atomic
  * publish costs one rename. Old snapshots are GC'd down to the
  * current one plus its predecessor (kept so a reader that resolved
  * CURRENT just before a swap can still finish its scan).
  * MixSnapshotSpec pins the invariant: every published snapshot's
  * per-window weights sum to unity within integer truncation — the
  * property a torn per-row read breaks. */
object MixMonitor {

  /** The q163 weight arithmetic over a (window, event_type, n,
    * mass_dec) state frame — factored so the fenced sink and the
    * oracle-gated presentation compute identical numbers (integer
    * discipline: decimal-exact cents, correctly-rounded sqrt quantized
    * to int64 before any cross-row arithmetic, HUGEINT-safe totals,
    * NULLIF-guarded division — see q163's scaladoc). The per-day
    * totals window runs over the |windows|×|types| state frame, never
    * the stream. */
  def weightFrame(state: DataFrame): DataFrame = {
    val day = Window.partitionBy("day")
    state
      .select(col("window.start").cast("date").cast("string").as("day"),
        col("event_type"), col("n"),
        expr("cast(mass_dec * 100 as bigint)").as("cents"),
        expr("cast(floor(sqrt(cast(mass_dec as double)) * 1000000) as bigint)")
          .as("w_int"))
      .withColumn("tw", sum(col("w_int").cast("decimal(38,0)")).over(day))
      .withColumn("tc", sum(col("cents").cast("decimal(38,0)")).over(day))
      .select(col("day"), col("event_type"), col("n"),
        expr("cast(cents as double) / 100").as("mass"),
        expr("(cast(1000000 as decimal(38,0)) * w_int) div nullif(tw, 0)")
          .cast("long").as("weight_micro"),
        expr("(cast(1000000 as decimal(38,0)) * cents) div nullif(tc, 0)")
          .cast("long").as("natural_micro"))
      .withColumn("boost_milli",
        expr("CASE WHEN natural_micro = 0 THEN NULL " +
          "ELSE 1000 * weight_micro div natural_micro END"))
  }

  /** One trigger's atomic snapshot publish: stage the full weight
    * frame, promote it to `snap_<batchId>`, swap the CURRENT manifest,
    * GC all but the newest two snapshots. Idempotent under batch
    * replay. */
  private[streaming] def writeSnapshot(weights: DataFrame, outDir: String,
                                       batchId: Long): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Paths.get(outDir)
    Files.createDirectories(base)
    val snap = base.resolve(f"snap_$batchId%09d")
    if (!Files.exists(snap)) {
      val stage = base.resolve(
        snap.getFileName.toString + ".stage_" + ProcessHandle.current().pid())
      weights.write.mode("overwrite").parquet(stage.toString)
      try Files.move(stage, snap, StandardCopyOption.ATOMIC_MOVE)
      catch { // a replayed batch already promoted identical content
        case _: java.nio.file.FileAlreadyExistsException |
             _: java.nio.file.DirectoryNotEmptyException => FileUtils.deleteDirectory(stage.toFile)
      }
    }
    // manifest swap: readers resolve CURRENT -> snapshot dir name; the
    // move is atomic, so a concurrent reader sees old-or-new, never
    // neither, never a partial directory
    val tmp = base.resolve("CURRENT.tmp_" + ProcessHandle.current().pid())
    Files.writeString(tmp, snap.getFileName.toString)
    Files.move(tmp, base.resolve("CURRENT"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // GC: keep the published snapshot and its predecessor (a reader
    // that resolved CURRENT just before the swap may still be scanning
    // the predecessor)
    import scala.jdk.CollectionConverters._
    val listing = Files.list(base)
    try {
      listing.iterator().asScala.toSeq
        .filter(p => p.getFileName.toString.matches("snap_\\d+"))
        .sortBy(_.getFileName.toString)
        .dropRight(2)
        .foreach(p => FileUtils.deleteDirectory(p.toFile))
    } finally listing.close()
  }

  /** q163's per-(day window, event_type) mass state over an events
    * frame: (window, event_type, n, mass_dec) — |windows|·|types| rows,
    * never stream volume. Shared by q163, [[eventsSink]] and the
    * StateSweep measurement. */
  private[graft] def dailyMass(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(graft.core.T.dec(col("value"))).as("mass_dec"))

  /** The fenced sink over a pre-aggregated (window, event_type, n,
    * mass_dec) streaming state frame. Caller picks the trigger and
    * starts; offsets checkpoint at `checkpoint`, so a killed query
    * resumes into the same snapshot series. */
  def sink(masses: DataFrame, outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    masses.writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: Dataset[Row], batchId: Long) =>
        writeSnapshot(weightFrame(b.toDF()), outDir, batchId)
      }

  /** Convenience front door over the events fixture: the q163
    * aggregation wired into the fenced sink. */
  def eventsSink(s: SparkSession, dir: String, outDir: String,
                 checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    sink(dailyMass(Streams.stagedStream(s, dir, "events")), outDir, checkpoint)

  /** Resolve the manifest and read the current complete snapshot —
    * the ONLY read path; there is no per-row upsert to tear. None
    * before the first trigger publishes. */
  def readCurrent(s: SparkSession, outDir: String): Option[DataFrame] = {
    val cur = java.nio.file.Paths.get(outDir, "CURRENT")
    if (!java.nio.file.Files.exists(cur)) None
    else Some(s.read.parquet(java.nio.file.Paths.get(outDir,
      java.nio.file.Files.readString(cur).trim).toString))
  }
}
