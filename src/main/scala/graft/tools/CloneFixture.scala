package graft.tools

import org.apache.spark.sql.functions._

/** Builds the duplicate-heavy scale-sweep fixture behind the README's
  * hot-bucket numbers: every `documents`/`embeddings` row cloned K
  * times under shifted ids (the workload shape dedup exists for —
  * crawls re-fetch, mirrors re-host), other tables copied through.
  *
  * Usage: `runMain graft.tools.CloneFixture <srcSfDir> <outDir> [K]`
  * then e.g. `SPARK_GRAFT_SF_DIR=<outDir> SPARK_GRAFT_ONLY=q38,q41,q57,q66
  * runMain graft.Bench`.
  */
object CloneFixture {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: CloneFixture <srcSfDir> <outDir> [K]")
    val Array(src, out) = args.take(2)
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = graft.core.Session.builder(graft.core.Session.cpus()).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val copies = spark.range(k).select(col("id").as("copy"))
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val nDocs = docs.count()
    docs.crossJoin(broadcast(copies))
      .select((col("doc_id") + col("copy") * nDocs).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
      .sort("doc_id")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val embs = spark.read.parquet(s"$src/embeddings.parquet")
    val nEmb = embs.count()
    embs.crossJoin(broadcast(copies))
      .select((col("vec_id") + col("copy") * nEmb).as("vec_id"),
        col("embedding"), col("label"))
      .sort("vec_id")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events").foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$src/$t.parquet"),
        java.nio.file.Paths.get(s"$out/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    println(s"cloned $src x$k -> $out (${nDocs * k} docs, ${nEmb * k} vectors)")
    spark.stop()
  }
}
