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
    val t = graft.registry.Registry.load(spark, path, strictParity = true)
    t.tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$name")
    }
    println(s"""{"metric":"diff_dump","out":"$outDir","trials":${t.trials.count()}}""")
    spark.stop()
  }
}
