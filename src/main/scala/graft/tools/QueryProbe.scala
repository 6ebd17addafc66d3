package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** The one query probe: an isolated look at any registered query in a
  * session from [[graft.core.Session]], so its numbers and plans come
  * from the board's own engine configuration and width.
  *
  * Timing protocol ([[coldHot]]): Bench's untimed warm-up
  * ([[graft.Bench.warmUp]]: generic codegen paths, page cache, every
  * selected query once at sf0.001; without it the first queries of a
  * session time a cold JVM), then per run `Caches.releaseAll` (the
  * bench's between-sweep state) before a COLD timing, and `Caches.releaseScope` of the query's own
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
  *   `runMain graft.tools.QueryProbe --anchor-set [sfDir] [runs] [commitTag]`
  *     probes every registered query in this one session and writes
  *     the result into ANCHORS.json as the anchor set for this
  *     session's core count, replacing that count's old set and
  *     leaving the other counts' sets as they are. A refresh is this
  *     probe plus one `graft.Bench` board from the same host.
  *   `runMain graft.tools.QueryProbe --flagged [sfDir] [runs] [detail] [commitTag]`
  *     recomputes the anchor-flag set from a board's BENCH_DETAIL.json
  *     medians against the ANCHORS.json set of the board's own core
  *     count, probes exactly that set in this one session, and writes
  *     the entries to ANCHORS_PATCH.json in the committed set shape.
  *     The patch is advisory: the curator still decides whether a flag
  *     was drift (patch it) or a regression (fix the query instead).
  *   Both modes refuse to write anchors from a dataset other than
  *     sf0.1 (anchors are sf0.1 medians), and `--flagged` refuses when
  *     this session's core count differs from the board's.
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

  /** The core count a BENCH_DETAIL.json board ran at. */
  private val CpusRe = "\"cpus\"\\s*:\\s*\"([0-9]+)\"".r
  def parseCpus(detailText: String): Int =
    CpusRe.findFirstMatchIn(detailText).map(_.group(1).toInt)
      .getOrElse(sys.error("board records no \"cpus\""))

  /** A board that carries its own contention evidence — the sweep-sum
    * spread flag, or dropped/re-run sweep rows — may hold contended
    * sweeps in its medians; `--flagged` says so next to the flags it
    * recomputes from such a board. */
  def selfFlagged(detailText: String): Boolean =
    detailText.contains("\"sweep_spread_flag\":true") ||
      detailText.contains("\"dropped\":true")

  /** The protocol of [[coldHot]], recorded on every set it writes. */
  val Protocol = "QueryProbe coldHot after Bench.warmUp: Caches.releaseAll " +
    "before each cold run, Caches.releaseScope(query) before each hot run; medians"

  /** One ANCHORS.json entry in the committed file's exact shape. */
  def patchEntry(name: String, cold: Double, hot: Double,
      commit: String, calib: String): String =
    f"""   "$name": {"cold": $cold%.2f, "hot": $hot%.2f, "commit": "$commit", "calib": "$calib"}"""

  private val Usage = "usage: QueryProbe [--plan|--stages] q107[,q109...]" +
    "|--flagged|--anchor-set [sfDir] [runs|outDir]"

  def main(args: Array[String]): Unit = args.headOption match {
    case Some(mode @ ("--plan" | "--stages")) => probe(mode, args.tail)
    case _ => probe("--time", args)
  }

  private def read(path: String): String =
    new String(java.nio.file.Files.readAllBytes(new java.io.File(path).toPath), "UTF-8")

  /** `args` = (qNN[,...] | --flagged | --anchor-set) [sfDir] [runs | outDir] ... */
  private def probe(mode: String, args: Array[String]): Unit = {
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = graft.core.Session.cpus()
    // the board --flagged reads, checked before a session starts
    val board = args.headOption.filter(_ == "--flagged").map { _ =>
      val text = read(args.lift(3).getOrElse("BENCH_DETAIL.json"))
      val boardCpus = parseCpus(text)
      val anchors = graft.Bench.loadAnchors("ANCHORS.json", boardCpus)
      val flagged = graft.Bench.anchorFlags(parseMedians(text), anchors).map(_._1)
      println(s"flagged vs the $boardCpus-core anchors: ${flagged.sorted.mkString(",")}")
      if (selfFlagged(text))
        println("board self-flagged (sweep_spread_flag/dropped): its flags may be contention")
      (boardCpus, flagged)
    }
    val selected = (args.headOption, board) match {
      case (_, Some((_, flagged))) => graft.SparkEntry.select(flagged)
      case (Some("--anchor-set"), _) => graft.SparkEntry.all
      case (q, _) => graft.SparkEntry.select(q.getOrElse(sys.error(Usage)).split(","))
    }
    if (board.nonEmpty && selected.isEmpty) {
      println("no queries flagged — nothing to probe")
      return
    }
    require(selected.nonEmpty, "no query matches the request")
    val spark = graft.core.Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    mode match {
      case "--plan" => plans(spark, selected, sfDir, args.lift(2))
      case "--stages" => stages(spark, selected, sfDir, args.lift(2).map(_.toInt).getOrElse(2))
      case _ =>
        val runs = args.lift(2).map(_.toInt).getOrElse(5)
        val (results, calib) = time(spark, selected, sfDir, runs)
        def block(commitTag: String) = graft.Bench.setBlock(cpus,
          Seq("protocol" -> Protocol, "sf" -> new java.io.File(sfDir).getName,
            "runs" -> runs.toString, "spark_calib" -> calib._2),
          results.map { case (n, c, h) => patchEntry(n, c, h, commitTag, calib._1) })
        // anchors are DEFINED as sf0.1 medians at the set's own core
        // count; a probe at another SF or width would write wrong-scale
        // values in splice-ready form — print, but refuse to write
        val refusal =
          if (new java.io.File(sfDir).getName != "sf0.1")
            Some(s"sfDir '$sfDir' is not the anchor-defining sf0.1 dataset")
          else board.collect { case (boardCpus, _) if boardCpus != cpus =>
            s"this session runs $cpus cores, the board ran $boardCpus" }
        (args.headOption, refusal) match {
          case (Some("--anchor-set" | "--flagged"), Some(why)) =>
            println(s"REFUSING to write anchors: $why")
          case (Some("--anchor-set"), None) =>
            val tag = args.lift(3).getOrElse("rNN")
            java.nio.file.Files.writeString(java.nio.file.Paths.get("ANCHORS.json"),
              graft.Bench.withSet(read("ANCHORS.json"), cpus, block(tag)))
            println(s"wrote the $cpus-core set of ${results.size} anchors into ANCHORS.json")
          case (Some("--flagged"), None) =>
            val patch = "{\"sets\": [\n" + block(args.lift(4).getOrElse("rNN")) + "\n ]}\n"
            print(patch)
            java.nio.file.Files.writeString(java.nio.file.Paths.get("ANCHORS_PATCH.json"), patch)
          case _ => ()
        }
    }
    spark.stop()
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Cold/hot medians per query (short name, cold, hot), with the
    * session's fixed-work calibration pairs (hash, spark) as
    * "pre/post" strings. */
  private def time(spark: SparkSession, selected: Seq[graft.core.Q], sfDir: String,
      runs: Int): (Seq[(String, Double, Double)], (String, String)) = {
    def timed(q: graft.core.Q): Double = {
      val t0 = System.nanoTime()
      noop(q.run(spark, sfDir))
      (System.nanoTime() - t0) / 1e9
    }
    graft.Bench.warmUp(spark, sfDir, selected)
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
    (results.result(), (f"$h0%.3f/$h1%.3f", f"$s0%.3f/$s1%.3f"))
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
    graft.Bench.warmUp(spark, sfDir, selected)
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
