package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** One timed interval: microseconds on the epoch clock, `parent` = -1 for
  * a root, `req` = the request (operation) it belongs to. Stage spans
  * come from the listener and carry their task metrics in `attrs`. */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, req: Int, attrs: Map[String, Double] = Map.empty) {
  def dur: Long = end - start
}

/** One completed stage as the listener saw it (epoch ms from the
  * scheduler, metrics summed over the stage's tasks). */
final case class StageRec(stageId: Int, submitted: Long, completed: Long,
    tasks: Int, runMs: Double, cpuMs: Double, shuffleReadMb: Double,
    shuffleWriteMb: Double, spillMb: Double)

/** Collects every completed stage of the session, always on: the
  * untraced phases read it for phase totals (merge shuffle bytes), the
  * traced ones additionally turn the records into spans. */
final class StageLog extends SparkListener {
  private val buf = ArrayBuffer[StageRec]()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val rec = StageRec(i.stageId, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), i.numTasks,
      if (m == null) 0.0 else m.executorRunTime.toDouble,
      if (m == null) 0.0 else m.executorCpuTime / 1e6,
      if (m == null) 0.0 else m.shuffleReadMetrics.totalBytesRead / 1e6,
      if (m == null) 0.0 else m.shuffleWriteMetrics.bytesWritten / 1e6,
      if (m == null) 0.0 else (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
    synchronized { buf += rec }
  }
  /** Every stage so far (drain the listener bus first). */
  def all: Seq[StageRec] = synchronized(buf.toVector)
}

/** In-memory span recorder. Disabled, every call is a plain pass-through
  * (no clock reads, no allocation), which is what untraced runs use. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer[Span]()
  private val open = ArrayBuffer[Int]() // ids of the spans now running
  private var nextId = 0
  private var req = -1
  private val epochBaseUs = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  private val nanoBase = System.nanoTime()

  private def nowUs: Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000

  /** Time `body` as a span named `name` under the innermost open span;
    * with no span open it starts a new request (a new root). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      if (open.isEmpty) req += 1
      val parent = open.lastOption.getOrElse(-1)
      val start = nowUs
      open += id
      try body
      finally {
        open.remove(open.length - 1)
        spans += Span(id, name, start, nowUs, parent, req)
      }
    }

  /** Attach listener stages as `stage` spans (see [[attach]]). Stages no
    * span contains (calibration jobs, async cleanup) are dropped — they
    * ran outside every traced operation. */
  def attachStages(stages: Seq[StageRec]): Unit =
    attach("stage", stages.map(st => (st.submitted, st.completed, Map(
      "tasks" -> st.tasks.toDouble, "executor_run_ms" -> st.runMs,
      "executor_cpu_ms" -> st.cpuMs, "shuffle_read_mb" -> st.shuffleReadMb,
      "shuffle_write_mb" -> st.shuffleWriteMb, "spill_mb" -> st.spillMb))))

  /** Attach Catalyst phases (epoch ms) as `plan` spans. */
  def attachPlans(phases: Seq[(Long, Long)]): Unit =
    attach("plan", phases.map { case (st, en) => (st, en, Map.empty[String, Double]) })

  /** Add externally timed intervals (epoch ms) as spans: each goes under
    * the deepest recorded span — never one attached this way — that
    * contains its start (1 ms slack for the millisecond clock), clipped
    * to that parent. */
  private def attach(name: String, ivs: Seq[(Long, Long, Map[String, Double])]): Unit =
    if (enabled) {
      val own = spans.filter(x => x.name != "stage" && x.name != "plan").toVector
      val byId = own.iterator.map(x => x.id -> x).toMap
      def depth(s: Span): Int = if (s.parent < 0) 0 else 1 + depth(byId(s.parent))
      val byDepth = own.sortBy(s => -depth(s))
      ivs.foreach { case (startMs, endMs, attrs) =>
        val sub = startMs * 1000
        byDepth.find(s => sub >= s.start - 1000 && sub <= s.end).foreach { p =>
          val start = math.max(sub, p.start)
          val end = math.min(math.max(endMs * 1000, start), p.end)
          spans += Span(nextId, name, start, end, p.id, p.req, attrs)
          nextId += 1
        }
      }
    }

  def all: Seq[Span] = spans.toVector

  /** Spans as JSON lines (written once, when the run ends). */
  def jsonLines: Iterator[String] = spans.iterator.map { s =>
    val a = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"id":${s.id},"name":"${s.name}","start_us":${s.start},"end_us":${s.end},""" +
      s""""parent":${s.parent},"req":${s.req},"attrs":{$a}}"""
  }
}

/** Self-time arithmetic over a span forest.
  *
  * self(s) = dur(s) − |∪ children(s)| (children clipped to s). Stage
  * spans of one parent may overlap each other (the scheduler runs
  * independent stages concurrently), so the `stage` layer is charged the
  * UNION of its sibling stage intervals, never their sum; every other
  * layer is sequential driver code. With that rule the layer self times
  * of a request partition its wall time exactly, and [[reconcile]]
  * measures how far a recorded forest is from that ideal. */
object SelfTime {

  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  private def clip(c: Span, p: Span): (Long, Long) =
    (math.max(c.start, p.start), math.min(c.end, p.end))

  /** Layer name → summed self time (µs) over `spans`. */
  def byLayer(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    val out = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    spans.foreach { s =>
      val cs = kids.getOrElse(s.id, Nil)
      val covered = unionLength(cs.map(clip(_, s)))
      if (s.name != "stage") out(s.name) += s.dur - covered
      val stages = cs.filter(_.name == "stage")
      // the union of this span's stage children is the stage layer's
      // share of it; stage spans themselves have no children
      out("stage") += unionLength(stages.map(clip(_, s)))
    }
    out.filter(_._2 != 0L).toMap
  }

  /** Wall time minus the union of stage-active intervals, per root. */
  def driverGap(root: Span, spans: Seq[Span]): Long = {
    val inReq = spans.filter(s => s.req == root.req && s.name == "stage")
    root.dur - unionLength(inReq.map(clip(_, root)))
  }

  /** |Σ layer self time − Σ root wall| / Σ root wall. */
  def reconcile(spans: Seq[Span]): Double = {
    val wall = spans.filter(_.parent < 0).map(_.dur).sum.toDouble
    if (wall <= 0) 0.0
    else math.abs(byLayer(spans).values.sum - wall) / wall
  }
}

object Tracer {
  /** The disabled recorder, for operations a traced run leaves untraced. */
  val off = new Tracer(false)
}

/** Per-layer metrics derived from a traced forest. */
object Layers {

  /** Stated tolerance for |Σ layer self time − wall| / wall. */
  val ReconcileTolerance = 0.02

  /** Span id → every span under it (itself excluded). */
  def under(spans: Seq[Span], roots: Set[Int]): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    val out = scala.collection.mutable.ArrayBuffer[Span]()
    var frontier = roots.toSeq
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(id => kids.getOrElse(id, Nil))
      out ++= next
      frontier = next.map(_.id)
    }
    out.toSeq
  }

  def stageAttr(ss: Seq[Span], k: String): Double =
    ss.filter(_.name == "stage").map(_.attrs(k)).sum

  /** The layers every workload has, per operation (median over `ops`;
    * an operation is one or more root-level spans and their subtrees):
    * construction self time, Catalyst time, stage counts and executor
    * time, shuffle and spill volume, and driver gap (wall time minus
    * the union of stage-active intervals). */
  def generic(spans: Seq[Span], ops: Seq[Seq[Span]], res: Result): Unit = {
    val per = ops.map { roots =>
      val sub = roots ++ under(spans, roots.map(_.id).toSet)
      val ss = sub.filter(_.name == "stage")
      Map(
        "construct_ms" -> SelfTime.byLayer(sub).getOrElse("construct", 0L) / 1000.0,
        "plan_ms" -> sub.filter(_.name == "plan").map(_.dur).sum / 1000.0,
        "stages" -> ss.length.toDouble,
        "tasks" -> stageAttr(ss, "tasks"),
        "executor_run_ms" -> stageAttr(ss, "executor_run_ms"),
        "executor_cpu_ms" -> stageAttr(ss, "executor_cpu_ms"),
        "shuffle_read_mb" -> stageAttr(ss, "shuffle_read_mb"),
        "shuffle_write_mb" -> stageAttr(ss, "shuffle_write_mb"),
        "spill_mb" -> stageAttr(ss, "spill_mb"),
        "driver_gap_ms" -> roots.map(r => SelfTime.driverGap(r, sub)).sum / 1000.0)
    }
    Seq(("construct_ms", "ms"), ("plan_ms", "ms"), ("stages", "count"), ("tasks", "count"),
      ("executor_run_ms", "ms"), ("executor_cpu_ms", "ms"), ("shuffle_read_mb", "MB"),
      ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("driver_gap_ms", "ms")
    ).foreach { case (k, u) => res.metric(k, Stats.median(per.map(_(k))), u) }
  }

  /** Tracing overhead (traced over untraced time of the same operation
    * in the same process, minus one) and the self-time reconciliation
    * check. */
  def finish(spans: Seq[Span], overhead: Double, res: Result): Unit = {
    res.metric("trace.overhead_pct", overhead * 100, "%")
    val err = SelfTime.reconcile(spans)
    res.metric("trace.reconcile_pct", err * 100, "%")
    res.evidence("reconcile_tolerance_pct") = Json.num(ReconcileTolerance * 100)
    val byLayer = SelfTime.byLayer(spans)
    res.evidence("self_time_ms") = Json.obj(byLayer.toSeq.sortBy(-_._2)
      .map { case (k, v) => k -> Json.num(v / 1000.0) })
    if (err > ReconcileTolerance) {
      res.checksOk = false
      res.failures += f"layer self times miss wall time by ${err * 100}%.2f%% " +
        f"(tolerance ${ReconcileTolerance * 100}%.0f%%)"
    }
  }
}

/** Records every Catalyst phase (analysis, optimization, planning) of
  * every query execution the session runs, as epoch-ms intervals. */
final class PlanLog extends org.apache.spark.sql.util.QueryExecutionListener {
  private val phases = ArrayBuffer[(Long, Long)]()
  private def add(qe: org.apache.spark.sql.execution.QueryExecution): Unit = synchronized {
    qe.tracker.phases.values.foreach(p => phases += ((p.startTimeMs, p.endTimeMs)))
  }
  override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
      d: Long): Unit = add(qe)
  override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
      e: Exception): Unit = add(qe)
  def all: Seq[(Long, Long)] = synchronized(phases.toVector)
}
