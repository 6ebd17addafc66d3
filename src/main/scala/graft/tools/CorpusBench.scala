package graft.tools

/** Parse/merge throughput benchmark on a GenCorpus file — the
  * apples-to-apples comparison against the reference's single-threaded
  * scan.py on the same bytes (see README "Throughput vs reference").
  * Usage: runMain graft.tools.CorpusBench <corpusPath> [cpus] */
object CorpusBench {
  def main(args: Array[String]): Unit = {
    val path = args(0)
    val cpus = args.lift(1).fold(graft.core.Session.cpus())(_.toInt)
    val spark = graft.core.Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val mb = new java.io.File(path).length() / 1e6
    val t0 = System.nanoTime()
    val t = graft.registry.Registry.load(spark, path)
    val trials = t.trials.count()
    val imps = t.imp.count()
    val sponsors = t.sponsor.count()
    val locations = t.location.count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"metric":"corpus_parse_merge","mb":$mb%.1f,"sec":$sec%.2f,"mb_per_sec":${mb / sec}%.1f,"trials":$trials,"imp":$imps,"sponsor":$sponsors,"location":$locations,"cpus":$cpus}""")
    spark.stop()
  }
}
