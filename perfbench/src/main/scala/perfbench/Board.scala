package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{Row, SparkSession}
import graft.{Caches, SparkEntry}
import graft.core.Q

/** A slice of the 238-query board: the heaviest non-streaming queries of
  * the committed r22 board, run in registration order through the noop
  * sink after their families' builds (graft.Caches.prebuild), one sweep
  * after another until the window closes. The fixture is fixed, so the
  * seed does not apply. */
object Board {

  /** From the r22 top-20 by median: q133, the heaviest persist-heavy
    * multi-stage query, and q136, which brings the graph family's build
    * slot. Left out: the streaming queries (q149, q86, q72, q215 stage
    * copies of the fixture under a fixed scratch path outside the
    * benchmark's directory), the text/mining-family queries (those two
    * builds alone take 23 s a sweep on 4 cores at sf0.01) and the rest
    * (q73 among them), to keep a run within its time budget. */
  val Slice: Seq[String] = Seq("q133", "q136")

  def short(name: String): String = name.takeWhile(_ != '_')

  def queries: Seq[Q] = SparkEntry.all.filter(q => Slice.contains(short(q.name)))

  // ---- correctness: row count + order-insensitive row hash ----

  private def canon(v: Any): String = v match {
    case null => "␀"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case o => o.toString
  }

  private def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    s.getBytes(UTF_8).foreach { b => h = (h ^ (b & 0xff)) * 0x100000001b3L }
    h
  }

  /** (rows, hex of the wrapping sum of per-row FNV-1a hashes): equal for
    * any row order, sensitive to every value (doubles at 9 significant
    * digits, as the oracle compare rounds them). */
  def fingerprint(rows: Array[Row]): (Long, String) =
    (rows.length.toLong, f"${rows.iterator.map(r => fnv64(canon(r))).sum}%016x")

  def loadExpected(p: Path): Map[String, (Long, String)] =
    Files.readAllLines(p, UTF_8).asScala.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(f => f(0) -> (f(1).toLong, f(2))).toMap

  /** One sweep's record. */
  final case class Sweep(traced: Boolean, wall: Double, builds: Seq[(String, Double)],
      perQuery: Map[String, Double], residentMax: Int, residentEnd: Int, residentMb: Double) {
    def queries: Double = perQuery.values.sum
    def build: Double = builds.map(_._2).sum
  }

  /** Warm sweeps per run at least, whatever the window: the warm
    * metrics are medians over them. */
  val MinWarm = 3
  /** Traced runs alternate untraced and traced sweeps (U T U T U): this
    * many traced ones, each compared with the mean of its neighbours. */
  val MinTraced = 2

  def run(a: Args, s: SparkSession, tr: Tracer, log: StageLog, res: Result): Unit = {
    val dir = a.fixture.get.toString
    val qs = queries
    val names = qs.map(_.name)
    require(qs.length == Slice.length, s"slice resolved to ${names.mkString(",")}")
    val hooks = Caches.releaseHooks(names)
    res.evidence("seed_applies") = "false"
    res.evidence("seed_note") = Json.str(
      "the board reads a fixed fixture (seed 42); --seed does not apply to this workload")
    res.evidence("queries") = Json.arr(names.map(Json.str))
    val expected = if (a.pin) Map.empty[String, (Long, String)] else loadExpected(a.expected.get)
    val pinned = mutable.ArrayBuffer[String]()

    /** One sweep: the families' builds (graft.Caches.prebuild), then
      * every query in registration order, each family released after
      * its last consumer. `check` collects each result and checks its
      * row count and row hash; otherwise the noop sink evaluates every
      * output column. */
    def sweep(t: Tracer, check: Boolean): Sweep = {
      val tb = System.nanoTime()
      var resMax = 0
      val (builds, per) = t.span("sweep") {
        val builds = t.span("build")(Caches.prebuild(s, dir, names.toSet))
        resMax = Main.resident(s)._2
        val per = qs.map { q =>
          val tq = System.nanoTime()
          try {
            t.span("query") {
              val df = t.span("construct")(q.run(s, dir))
              if (check) {
                val fp = fingerprint(t.span("action")(df.collect()))
                if (a.pin) pinned += s"${q.name}\t${fp._1}\t${fp._2}"
                res.op(a.pin || expected.get(q.name).contains(fp),
                  s"${q.name}: rows/hash $fp, pinned ${expected.get(q.name)}")
              } else {
                t.span("action")(df.write.format("noop").mode("overwrite").save())
                res.op(ok = true, "")
              }
            }
          } catch { case NonFatal(e) => res.op(ok = false, s"${q.name}: $e") }
          val sec = Main.secondsSince(tq)
          hooks.getOrElse(q.name, Nil).foreach(_(s))
          resMax = math.max(resMax, Main.resident(s)._2)
          q.name -> sec
        }.toMap
        (builds, per)
      }
      val wall = Main.secondsSince(tb)
      val (resMb, resEnd) = Main.resident(s)
      Caches.releaseAll(s)
      Sweep(t.enabled, wall, builds, per, resMax, resEnd, resMb)
    }

    val plans = new PlanLog
    if (a.trace) s.listenerManager.register(plans)
    Main.calib(s, res, "pre")
    val t0 = System.nanoTime()
    res.markFirstOp()
    // the first sweep of the process is the cold one and the checked one
    val cold = sweep(Tracer.off, check = true)
    if (a.pin) {
      Files.write(a.expected.get, ("# query\trows\trow-hash (perfbench Board.fingerprint)" +:
        pinned.toSeq).asJava)
      return
    }
    val sweeps = mutable.ArrayBuffer[Sweep]()
    while (Main.secondsSince(t0) < a.seconds || sweeps.count(!_.traced) < MinWarm ||
        (a.trace && (sweeps.count(_.traced) < MinTraced || sweeps.last.traced))) {
      val traced = a.trace && sweeps.length % 2 == 1
      sweeps += sweep(if (traced) tr else Tracer.off, check = false)
    }
    Main.calib(s, res, "post")
    val plain = sweeps.filterNot(_.traced).toSeq
    res.evidence("cold_sweep_s") = Json.num(cold.wall)
    res.evidence("cold_query_s") = Json.obj(names.map(q => short(q) -> Json.num(cold.perQuery(q))))
    res.evidence("sweep_s") = Json.arr(sweeps.toSeq.map(x => Json.num(x.wall)))
    res.evidence("query_s") = Json.obj(names.map(q =>
      short(q) -> Json.num(Stats.median(plain.map(_.perQuery(q))))))
    res.evidence("build_s") = Json.obj(plain.flatMap(_.builds).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (f, xs) => f -> Json.num(Stats.median(xs.map(_._2))) })
    res.evidence("board_total_s") = Json.num(Stats.median(plain.map(_.queries)))
    res.evidence("board_build_s") = Json.num(Stats.median(plain.map(_.build)))

    if (!a.trace) {
      res.metric("cold_ms", cold.wall * 1000, "ms")
      res.metric("prep_ms", Stats.median(plain.map(_.build)) * 1000, "ms")
      res.metric("op_ms", Stats.median(plain.map(_.queries)) * 1000, "ms")
      res.metric("cache_resident_mb", Stats.median(plain.map(_.residentMb)), "MB")
    } else {
      org.apache.spark.PerfbenchBridge.drain(s.sparkContext)
      tr.attachStages(log.all)
      tr.attachPlans(plans.all)
      val spans = tr.all
      val tracedSweeps = sweeps.filter(_.traced).toSeq
      // per sweep: the queries (the build slot has its own metrics)
      Layers.generic(spans, spans.filter(_.name == "sweep").map(sw =>
        spans.filter(x => x.parent == sw.id && x.name == "query")), res)
      tracedSweeps.flatMap(_.builds).groupBy(_._1).toSeq.sortBy(_._1).foreach { case (f, xs) =>
        res.metric(s"board.build.${f}_s", Stats.median(xs.map(_._2)), "s")
      }
      res.metric("board.resident_rdds_max", tracedSweeps.map(_.residentMax).max.toDouble, "count")
      res.metric("board.resident_rdds_end", tracedSweeps.map(_.residentEnd).max.toDouble, "count")
      names.foreach { q =>
        res.metric(s"board.${short(q)}_s", Stats.median(plain.map(_.perQuery(q))), "s")
      }
      val ratios = sweeps.indices.filter(i => sweeps(i).traced).map { i =>
        sweeps(i).queries / ((sweeps(i - 1).queries + sweeps(i + 1).queries) / 2)
      }
      Layers.finish(spans, Stats.median(ratios) - 1, res)
    }
  }
}
