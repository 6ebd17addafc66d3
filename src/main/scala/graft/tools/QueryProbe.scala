package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** The one query probe: an isolated look at any registered query in a
  * session from [[graft.core.Session]], so its numbers and plans come
  * from the board's own engine configuration and width.
  *
  * Timing protocol ([[coldHot]]): page-cache warmup of every table,
  * then per run `Caches.releaseAll` (the bench's between-sweep state)
  * before a COLD timing, and `Caches.releaseScope` of the query's own
  * frames before a HOT timing in the same session. The hot run keeps
  * the query's cache families but rebuilds what the cold run persisted
  * for the query itself, as every query does in a sweep, so the hot
  * median is a sweep's steady state. The isolated cold median is
  * directly comparable to the sweep's per-query median; a cold median
  * at the previous round's level names the regression "sweep context
  * load", a raised one names the query itself.
  *
  * Usage (query prefixes or full names; sfDir defaults to sf0.1):
  *   `runMain graft.tools.QueryProbe q107,q109 [sfDir] [runs]`
  *     cold/hot medians over `runs` (default 5) runs per query.
  *   `runMain graft.tools.QueryProbe --flagged [sfDir] [runs] [detail] [commitTag]`
  *     batch anchor-refresh mode (round 19, VERDICT r18 item 6: nine
  *     stale fast-flags needed four manual chunk sessions in r18) —
  *     recomputes the anchor-flag set from the last board's
  *     BENCH_DETAIL.json medians against the committed ANCHORS.json,
  *     probes exactly that set in THIS one flat-calib session, and
  *     emits the ANCHORS.json patch entries (stdout between PATCH
  *     markers + ANCHORS_PATCH.json) in the committed file's format,
  *     ready to splice in. The patch is advisory — the curator still
  *     decides whether a flag was drift (patch it) or a regression
  *     (fix the query instead).
  *   `runMain graft.tools.QueryProbe --plan qNN[,...] [sfDir] [outDir]`
  *     the formatted plan, then the final adaptive plan after one
  *     noop run (AQE's exchange reuse, broadcast conversions and skew
  *     splits only appear at runtime); with `outDir`, one `qNN.txt`
  *     per query instead of stdout.
  *   `runMain graft.tools.QueryProbe --stages qNN[,...] [sfDir] [runs]`
  *     `runs` (default 2) cold runs per query; the last one's stages
  *     sorted by executor run time, with CPU, input, shuffle
  *     read/write, fetch-wait and spill — which operator the time goes
  *     to, without the Spark UI.
  */
object QueryProbe {

  /** Lenient per-query median extraction from a BENCH_DETAIL.json —
    * same no-JSON-library discipline as [[graft.Bench.parseAnchors]]
    * (QueryProbeSpec round-trips the committed file). */
  private val MedRe = "\"(q[0-9]+)\"\\s*:\\s*\\{\\s*\"median\"\\s*:\\s*(-?[0-9.]+)".r
  def parseMedians(text: String): Seq[(String, Double)] =
    MedRe.findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toDouble).toSeq

  /** A board that carries its own contention evidence — the sweep-sum
    * spread flag, or dropped/re-run sweep rows — is not
    * anchor-adjudicable: its medians may include contended sweeps the
    * protocol itself flagged in real time. The anchor-drift gate
    * (QueryProbeSpec) skips the zero-flag assertion for such boards
    * (VERDICT r20 item 1: the driver's contended post-freeze board
    * overwrote the worktree artifact and turned the frozen suite red
    * with zero code change). */
  def selfFlagged(detailText: String): Boolean =
    detailText.contains("\"sweep_spread_flag\":true") ||
      detailText.contains("\"dropped\":true")

  /** One ANCHORS.json entry in the committed file's exact shape. */
  def patchEntry(name: String, cold: Double, hot: Double,
      commit: String, calib: String): String =
    f"""  "$name": {%n   "cold": $cold%.2f,%n   "hot": $hot%.2f,%n   "commit": "$commit",%n   "calib": "$calib"%n  }"""

  private val Usage =
    "usage: QueryProbe [--plan|--stages] q107[,q109...]|--flagged [sfDir] [runs|outDir]"

  def main(args: Array[String]): Unit = args.headOption match {
    case Some(mode @ ("--plan" | "--stages")) => probe(mode, args.tail)
    case _ => probe("--time", args)
  }

  /** `args` = (qNN[,...] | --flagged) [sfDir] [runs | outDir] ... */
  private def probe(mode: String, args: Array[String]): Unit = {
    val flaggedMode = args.headOption.contains("--flagged")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.Session.builder(graft.core.Session.cpus()).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val selected =
      if (flaggedMode) {
        val detailPath = args.lift(3).getOrElse("BENCH_DETAIL.json")
        val anchors = graft.Bench.loadAnchors()
        val meds = parseMedians(new String(java.nio.file.Files.readAllBytes(
          new java.io.File(detailPath).toPath), "UTF-8"))
        val flagged = graft.Bench.anchorFlags(meds, anchors).map(_._1).toSet
        println(s"flagged vs committed anchors: ${flagged.toSeq.sorted.mkString(",")}")
        graft.SparkEntry.select(flagged)
      } else graft.SparkEntry.select(args.headOption.getOrElse(sys.error(Usage)).split(","))
    if (flaggedMode && selected.isEmpty) {
      println("no queries flagged — nothing to probe")
      spark.stop(); return
    }
    require(selected.nonEmpty, "no query matches the request")
    mode match {
      case "--plan" => plans(spark, selected, sfDir, args.lift(2))
      case "--stages" => stages(spark, selected, sfDir, args.lift(2).map(_.toInt).getOrElse(2))
      case _ => time(spark, selected, sfDir, args.lift(2).map(_.toInt).getOrElse(5),
        if (flaggedMode) Some(args.lift(4).getOrElse("rNN")) else None)
    }
    spark.stop()
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Cold/hot medians per query; with `patchTag` (the `--flagged`
    * mode) also the ANCHORS.json patch for them. */
  private def time(spark: SparkSession, selected: Seq[graft.core.Q], sfDir: String,
      runs: Int, patchTag: Option[String]): Unit = {
    def timed(q: graft.core.Q): Double = {
      val t0 = System.nanoTime()
      noop(q.run(spark, sfDir))
      (System.nanoTime() - t0) / 1e9
    }
    warmPageCache(spark, sfDir)
    // fixed-work calibration before and after (r13: the instrument that
    // makes "machine drift" a measurement — same pair Bench emits)
    val (h0, s0) = graft.Bench.calibrate(spark)
    println(f"calib pre: hash $h0%.3f s  spark $s0%.3f s")
    val results = Vector.newBuilder[(String, Double, Double)]
    for (q <- selected) {
      val cold = Vector.newBuilder[Double]
      val hot = Vector.newBuilder[Double]
      for (_ <- 1 to runs) {
        val (c, h) = coldHot(spark, q)(timed(q))
        cold += c
        hot += h
      }
      val (c, h) = (cold.result(), hot.result())
      def med(xs: Vector[Double]) = graft.Bench.median(xs)
      results += ((q.name.takeWhile(_ != '_'), med(c), med(h)))
      println(f"${q.name}%-26s cold median ${med(c)}%5.2f s  hot median ${med(h)}%5.2f s" +
        f"  (cold [${c.min}%.2f,${c.max}%.2f] hot [${h.min}%.2f,${h.max}%.2f])")
    }
    val (h1, s1) = graft.Bench.calibrate(spark)
    println(f"calib post: hash $h1%.3f s  spark $s1%.3f s")
    patchTag.foreach { commitTag =>
      // committed anchors are DEFINED as sf0.1 flat-calib medians; a
      // probe at any other SF would emit wrong-scale values in
      // splice-ready form (ADVICE r19) — print the measurements but
      // refuse to write the patch artifact
      if (!new java.io.File(sfDir).getName.equals("sf0.1")) {
        println(s"REFUSING ANCHORS_PATCH.json: sfDir '$sfDir' is not the " +
          "anchor-defining sf0.1 dataset (anchors are sf0.1 medians)")
      } else {
        val calibStr = f"$h0%.3f/$h1%.3f"
        val patch = results.result()
          .map { case (n, c, h) => patchEntry(n, c, h, commitTag, calibStr) }
          .mkString(",\n")
        println("---- ANCHORS PATCH (splice into ANCHORS.json \"queries\") ----")
        println(patch)
        println("---- END PATCH ----")
        val w = new java.io.PrintWriter("ANCHORS_PATCH.json", "UTF-8")
        try w.println("{\n" + patch + "\n}") finally w.close()
      }
    }
  }

  /** One cold and one hot run of `q`, each done by `run`: the cold run
    * after `Caches.releaseAll` (the bench's between-sweep state), the
    * hot run after releasing only the frames `q` persisted for itself —
    * its families stay resident, as in a sweep's steady state. */
  private[graft] def coldHot(spark: SparkSession, q: graft.core.Q)(
      run: => Double): (Double, Double) = {
    graft.Caches.releaseAll(spark)
    val cold = run
    graft.Caches.releaseScope(spark, q.name)
    (cold, run)
  }

  /** Page-cache warmup of every table (Bench does the same before
    * timing). */
  private def warmPageCache(spark: SparkSession, sfDir: String): Unit =
    graft.core.T.names.foreach(t => noop(graft.core.T.df(spark, sfDir, t)))

  /** `--plan`: formatted plan, one noop run, then the final adaptive
    * plan of the same QueryExecution. */
  private def plans(spark: SparkSession, selected: Seq[graft.core.Q], sfDir: String,
      outDir: Option[String]): Unit = {
    outDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    selected.foreach { q =>
      val qe = q.run(spark, sfDir).queryExecution
      val formatted = qe.explainString(ExplainMode.fromString("formatted"))
      qe.toRdd.foreach(_ => ()) // noop sink: AQE finalizes `qe`'s plan in place
      val txt = s"== ${q.name} @ $sfDir (${spark.sparkContext.master}) ==\n" +
        s"$formatted\n== final adaptive plan ==\n${qe.executedPlan}\n"
      outDir match {
        case Some(d) =>
          val p = java.nio.file.Paths.get(d, s"${q.name.takeWhile(_ != '_')}.txt")
          java.nio.file.Files.write(p, txt.getBytes("UTF-8"))
          System.err.println(s"wrote $p")
        case None => print(txt)
      }
    }
    graft.Caches.releaseAll(spark)
  }

  final case class StageRow(id: Int, name: String, tasks: Int, runMs: Long,
      cpuMs: Long, inB: Long, srB: Long, swB: Long, fetchMs: Long, spillB: Long)

  /** `--stages`: per query, `runs` cold runs (caches released before
    * each); the stages of the LAST run by executor run time. */
  private def stages(spark: SparkSession, selected: Seq[graft.core.Q], sfDir: String,
      runs: Int): Unit = {
    import scala.jdk.CollectionConverters._
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo; val m = si.taskMetrics
        if (m != null) rows.add(StageRow(si.stageId, si.name.takeWhile(_ != '\n'),
          si.numTasks, m.executorRunTime, m.executorCpuTime / 1000000,
          m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.fetchWaitTime,
          m.memoryBytesSpilled))
      }
    }
    warmPageCache(spark, sfDir)
    def mb(b: Long) = b / 1048576.0
    selected.foreach { q =>
      var wall = 0.0
      for (r <- 1 to runs) {
        graft.Caches.releaseAll(spark)
        // profile only the LAST run
        if (r == runs) { rows.clear(); spark.sparkContext.addSparkListener(listener) }
        val t0 = System.nanoTime()
        noop(q.run(spark, sfDir))
        wall = (System.nanoTime() - t0) / 1e9
        System.err.println(f"${q.name} run $r: $wall%.2f s")
      }
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(300) // let the listener bus drain
      val all = rows.asScala.toSeq.sortBy(-_.runMs)
      println(f"== ${q.name} last-run wall $wall%.2f s — stages by executor run time ==")
      println(f"${"stage"}%6s ${"tasks"}%5s ${"run_ms"}%8s ${"cpu_ms"}%8s " +
        f"${"in_MB"}%8s ${"sr_MB"}%8s ${"sw_MB"}%8s ${"fetch_ms"}%8s ${"spill_MB"}%8s  name")
      all.take(30).foreach { r =>
        println(f"${r.id}%6d ${r.tasks}%5d ${r.runMs}%8d ${r.cpuMs}%8d " +
          f"${mb(r.inB)}%8.1f ${mb(r.srB)}%8.1f ${mb(r.swB)}%8.1f " +
          f"${r.fetchMs}%8d ${mb(r.spillB)}%8.1f  ${r.name.take(90)}")
      }
      println(f"total executor run ${all.map(_.runMs).sum}ms across ${all.size} stages")
    }
  }
}
