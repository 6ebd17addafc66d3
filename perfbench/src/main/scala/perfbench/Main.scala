package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Command line of one benchmark process (run.py fills every field). */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, corpus: Option[Path], warmCorpus: Option[Path], warmSeed: Long, trials: Int,
    fixture: Option[Path], expected: Option[Path], pin: Boolean)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def path(k: String) = m.get(k).map(Paths.get(_))
    Args(m("workload"), m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(m("work")), path("corpus"),
      path("warm-corpus"), m.getOrElse("warm-seed", "0").toLong,
      m.getOrElse("trials", "0").toInt, path("fixture"),
      path("expected"), m.getOrElse("pin", "0") == "1")
  }
}

/** What one run measured: operation accounting, the metrics (end-to-end
  * when untraced, per-layer when traced) and the evidence block. */
final class Result {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val evidence = mutable.LinkedHashMap[String, String]()
  var firstOpEpoch = 0.0
  /** False when a non-operation check (trace reconciliation) failed. */
  var checksOk = true

  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.length < 20) failures += what }
  }
  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def markFirstOp(): Unit = if (firstOpEpoch == 0.0) firstOpEpoch = Main.epochSeconds()

  def json(workload: String): String = Json.obj(Seq(
    "workload" -> Json.str(workload),
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "checks_ok" -> checksOk.toString,
    "failures" -> Json.arr(failures.toSeq.map(Json.str)),
    "first_op_epoch_s" -> Json.num(firstOpEpoch),
    "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }),
    "evidence" -> Json.obj(evidence.toSeq)))
}

object Main {
  /** Fixed parallelism: every run is local[4] in one process. */
  val Cores = 4

  def epochSeconds(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The session graft.Bench builds, with scratch and warehouse space
    * inside the run's work directory. */
  def session(work: Path): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    val s = graft.core.SessionTuning.configure(SparkSession.builder())
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // without this, memoized frames crash q233 hot (see graft.Bench)
      .config("spark.sql.unionOutputPartitioning", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Memory plus disk held by persisted RDDs, and how many there are. */
  def resident(s: SparkSession): (Double, Int) = {
    val infos = s.sparkContext.getRDDStorageInfo
    (infos.map(i => i.memSize + i.diskSize).sum / 1e6, infos.length)
  }

  /** calibrateLight before/after the timed phase: a slow pair marks a
    * contended machine. */
  def calib(s: SparkSession, res: Result, tag: String): Unit = {
    val t = System.nanoTime()
    val (h, sp) = graft.Bench.calibrateLight(s)
    res.evidence(s"calib_${tag}_wall_s") = Json.num(secondsSince(t))
    res.evidence(s"calib_${tag}_hash_s") = Json.num(h)
    res.evidence(s"calib_${tag}_spark_s") = Json.num(sp)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Files.createDirectories(a.work)
    val s = session(a.work)
    val sessionReady = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val log = new StageLog
    s.sparkContext.addSparkListener(log)
    val tr = new Tracer(a.trace)
    val res = new Result
    res.evidence("jvm_uptime_at_session_s") = Json.num(sessionReady)
    res.evidence("cores") = Cores.toString
    res.evidence("machine_cores") = Runtime.getRuntime.availableProcessors().toString
    res.evidence("traced") = a.trace.toString
    res.evidence("session_conf") = Json.obj(s.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql.") || k.startsWith("spark.shuffle.") ||
        k == "spark.master" || k == "spark.local.dir" }
      .map { case (k, v) => k -> Json.str(v) })
    val code =
      try {
        a.workload match {
          case "registry" => RegistryWorkload.run(a, s, tr, log, res)
          case "board"  => Board.run(a, s, tr, log, res)
          case w        => throw new IllegalArgumentException(s"unknown workload $w")
        }
        if (a.trace) {
          org.apache.spark.PerfbenchBridge.drain(s.sparkContext)
          val out = a.work.resolve(s"spans-${a.workload}-${a.seed}.jsonl")
          Files.write(out, tr.jsonLines.toSeq.asJava)
          res.evidence("spans_file") = Json.str(out.toString)
          res.evidence("spans") = tr.all.length.toString
        }
        println("PERFBENCH_REPORT " + res.json(a.workload))
        0
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          2
      }
    try s.stop() catch { case NonFatal(_) => () }
    System.exit(code)
  }
}

/** JVM-wide counters sampled around the cold load. */
final case class JvmCounters(codegenNs: Long, codegenClasses: Long, jitMs: Long,
    classesLoaded: Long, gcMs: Long) {
  def -(o: JvmCounters): JvmCounters = JvmCounters(codegenNs - o.codegenNs,
    codegenClasses - o.codegenClasses, jitMs - o.jitMs, classesLoaded - o.classesLoaded,
    gcMs - o.gcMs)
}

object JvmCounters {
  def now(): JvmCounters = JvmCounters(
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount,
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum)
}
