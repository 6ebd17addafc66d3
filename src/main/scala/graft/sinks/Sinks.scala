package graft.sinks

import org.apache.spark.sql.DataFrame

/** Export sinks (SURVEY §2.1 S6/S8).
  *
  * Parquet is the primary cluster sink; single-file CSV serves the
  * reference's Excel role (toexcel.py:126-162 — Excel itself is a
  * driver-side conversion, not a cluster concern; [[Xlsx]] is that
  * post-step); JDBC covers the reference's stated Postgres goal
  * (README.md:8).
  */
object Sinks {

  /** The shared columnar-sink contract: overwrite mode + optional
    * directory partitioning. One body so the parquet and ORC sinks
    * cannot drift apart (r15 review). */
  private def columnar(df: DataFrame, path: String,
                       partitionBy: Seq[String], format: String): Unit = {
    val w = df.write.mode("overwrite").format(format)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).save(path)
  }

  /** Partitioned parquet — the at-scale sink. */
  def parquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit =
    columnar(df, path, partitionBy, "parquet")

  /** Partitioned ORC — the interchange sink for ORC-native estates
    * (Hive/Trino warehouses). Same layout contract as [[parquet]];
    * ORC is a first-class Spark source (no extra deps), and scans
    * back through it keep predicate pushdown, column pruning, and
    * partition pruning — SinksSpec pins all three, so the format
    * claim is gated, not assumed. */
  def orc(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit =
    columnar(df, path, partitionBy, "orc")

  /** Single-file CSV with header — the human-export path. coalesce(1)
    * is deliberate and ONLY for exports of human-sized result sets;
    * never use on large frames (single-task write). */
  def csvSingle(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** JDBC sink — the reference's stated Postgres end state
    * (README.md:8), append-mode INSERTs like its per-scan loads.
    * Requires a driver on the classpath and a reachable database; no
    * network database exists in the sandbox, so SinksSpec gates the
    * path end-to-end against EMBEDDED Derby (on the classpath via
    * Spark's own jars): write, read back row-identical, append
    * semantics. */
  def jdbc(df: DataFrame, url: String, table: String,
           props: java.util.Properties = new java.util.Properties()): Unit =
    df.write.mode("append").jdbc(url, table, props)

  /** Sharded training export — q99's manifest made physical: the
    * deterministic hash permutation assigns each doc a shard
    * ([[graft.llm.LlmText.shardKeyed]], same key family as the
    * manifest query), one exchange co-locates each shard in one
    * writer task, and the within-partition sort on (hv, doc_id) makes
    * in-file order equal manifest `pos` order. One file per shard
    * directory, zero driver involvement, any shard count — at
    * deployment set `nShards` ∝ writer tasks (one shard per task); a
    * constant would hand each task 1/nShards of the corpus at 100 TB.
    * ShardedExportSpec asserts the one-file-per-shard layout and the
    * in-file hash order at a non-default count. */
  def shardedExport(d: DataFrame, path: String, nShards: Int = 16): Unit = {
    import org.apache.spark.sql.functions.col
    graft.llm.LlmText.shardKeyed(d, nShards)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("hv"), col("doc_id"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
  }

  /** Small-file compaction — the maintenance pass every streaming /
    * incremental intake needs: micro-batches and per-task writers
    * leave thousands of KB-scale files, and scan cost degrades with
    * file COUNT (driver listing + footer reads + one task per tiny
    * split), not just bytes. Rewrites a parquet directory into
    * ceil(bytes / targetFileBytes) files via a round-robin
    * repartition (even output sizes, no skew from the input layout),
    * staged to a sibling temp dir and swapped in via two atomic
    * renames — readers never see a MIXED layout (old and new files
    * together), though between the renames the path is briefly
    * absent; a catalog-level swap (Delta/Iceberg, or a view repoint)
    * closes that window in a real deployment. An interrupted run
    * never leaves a HALF-WRITTEN directory at the live path (the q90
    * staging discipline) — but the failure outcomes differ: a crash
    * before the first rename leaves only an orphaned .stage dir (live
    * data untouched); a crash BETWEEN the renames leaves the live
    * path MISSING with the data intact at the `.old_<pid>` sibling —
    * recovery is `mv <path>.old_<pid> <path>`, and readers/retries
    * that find the path absent must check for an `.old_` sibling
    * before concluding data loss. A crash after the second rename
    * leaves only an orphaned .old dir (new layout live).
    * Row-identical by construction; CompactSpec asserts the
    * file-count drop and content equality. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int =
    compactWith(spark, path, targetFileBytes)((df, n) => df.repartition(n))

  /** The staged-rewrite-and-swap core of [[compact]], with the rewrite
    * itself pluggable: `rewrite(df, nFiles)` shapes the new layout
    * (round-robin for plain compaction; a z-order range exchange for
    * [[graft.ops.Layout.zorderCompact]]'s cluster-while-compacting
    * maintenance pass). Same atomicity contract as [[compact]]'s
    * scaladoc: staged sibling + two atomic renames, never a mixed or
    * half-written live directory. */
  private[graft] def compactWith(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFileBytes: Long)
      (rewrite: (DataFrame, Int) => DataFrame): Int = {
    import java.nio.file.{Files, Path, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val dir = Paths.get(path)
    def dataBytes(p: Path): Long = Files.walk(p).iterator().asScala
      .filter(f => f.toString.endsWith(".parquet") && Files.isRegularFile(f))
      .map(Files.size).sum
    val nFiles = math.max(1, math.ceil(
      dataBytes(dir).toDouble / targetFileBytes).toInt)
    val stage = dir.resolveSibling(
      dir.getFileName.toString + ".stage_" + ProcessHandle.current().pid())
    rewrite(spark.read.parquet(path), nFiles)
      .write.mode("overwrite").parquet(stage.toString)
    val old = dir.resolveSibling(
      dir.getFileName.toString + ".old_" + ProcessHandle.current().pid())
    Files.move(dir, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(stage, dir, StandardCopyOption.ATOMIC_MOVE)
    org.apache.commons.io.FileUtils.deleteDirectory(old.toFile)
    nFiles
  }

  /** Bucketed catalog table: co-locates join/agg keys at WRITE time so
    * repeated joins on the bucket key skip their shuffle entirely — the
    * replacement for the reference's per-key SQLite indexes
    * (scan.py:71-73) at cluster scale. Requires a catalog (saveAsTable). */
  def bucketed(df: DataFrame, table: String, key: String, buckets: Int = 32): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)
}
