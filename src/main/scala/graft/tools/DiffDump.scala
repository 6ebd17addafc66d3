package graft.tools

/** Differential-validation dump (BASELINE.md protocol): parse+merge a
  * GenCorpus file in STRICT-PARITY mode and write the four relational
  * tables as parquet, for a row-level compare against the SQLite the
  * reference's own scan.py produces from the same bytes.
  * Usage: runMain graft.tools.DiffDump <corpusPath> <outDir> [cpus] */
object DiffDump {
  def main(args: Array[String]): Unit = {
    val Array(path, outDir) = args.take(2)
    val cpus = args.lift(2).fold(graft.core.Session.cpus())(_.toInt)
    val spark = graft.core.Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    val merged = graft.registry.TrialMerge
      .merge(spark, path, strictParity = true).persist()
    merged.drop("imps", "sponsors", "locations")
      .write.mode("overwrite").parquet(s"$outDir/trial")
    merged.select(col("eudract_id"), posexplode(col("imps")).as(Seq("seq", "i")))
      .select(col("eudract_id"), (col("seq") + 1).as("imp_seq"),
        col("i.trade"), col("i.product"), col("i.code"))
      .write.mode("overwrite").parquet(s"$outDir/imp")
    merged.select(col("eudract_id"), posexplode(col("sponsors")).as(Seq("seq", "s")))
      .select(col("eudract_id"), (col("seq") + 1).as("sponsor_seq"),
        col("s.name"), col("s.org"), col("s.contact"), col("s.email"))
      .write.mode("overwrite").parquet(s"$outDir/sponsor")
    merged.select(col("eudract_id"), explode(col("locations")).as("location"))
      .write.mode("overwrite").parquet(s"$outDir/location")
    println(s"""{"metric":"diff_dump","out":"$outDir","trials":${merged.count()}}""")
    spark.stop()
  }
}
