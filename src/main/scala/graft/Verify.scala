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
