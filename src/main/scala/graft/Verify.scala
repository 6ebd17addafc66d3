package graft
import graft.core.JsonString
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.core.Session.builder(graft.core.Session.cpus()).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q90,q93 -> dump only the named queries (same
    // local-iteration knob as Bench; unset in driver runs)
    val selected = sys.env.get("SPARK_GRAFT_ONLY")
      .fold(SparkEntry.all)(o => SparkEntry.select(o.split(",")))
    // registration order (families contiguous); each query's hook
    // releases its own frames and any family it is the last reader
    // of — same hygiene as Bench
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
