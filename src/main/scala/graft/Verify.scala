package graft
import org.apache.spark.sql.SparkSession
import graft.core.JsonString
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.SessionTuning.configure(graft.core.LocalDirs.configure(SparkSession.builder()))
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // session-wide so no per-read conf mutation (ADVICE r1): events.ts
      // is parquet TIMESTAMP(NANOS), unsupported by the vectorized reader
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Spark 4.1's union-preserves-partitioning feature zips co-partitioned
      // union children; a memoized frame whose AQE-materialized partition
      // count diverges from its claimed partitioning crashes the zip
      // (q233 hot at clone10) -- keep the sound concatenating Union
      .config("spark.sql.unionOutputPartitioning", "false")
      // sized to the full query board (see Bench) — static conf, so set
      // at session create
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q90,q93 -> dump only the named queries (same
    // local-iteration knob as Bench; unset in driver runs)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(ns) => SparkEntry.all.filter(q =>
        ns(q.name) || ns(q.name.takeWhile(_ != '_')))
      case None => SparkEntry.all
    }
    // registration order (families contiguous) + release each family's
    // memoization caches after its last consumer — same hygiene as Bench
    val hooks = Caches.releaseHooks(selected.map(_.name))
    selected.foreach { q =>
      try q.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
      hooks.getOrElse(q.name, Nil).foreach(_(spark))
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${JsonString.quote(k)}: ${JsonString.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
