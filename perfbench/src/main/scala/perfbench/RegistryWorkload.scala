package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, columnar}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.col
import graft.registry.{Corpus, Registry, RegistryTables, Search, TrialMerge}
import graft.sinks.Xlsx

/** The paper's two costs in one process: ingest (corpus text → the four
  * tables, scan.py) and search/export (toexcel.py) over what was ingested.
  *
  * Timed phase, in order:
  *  1. cold load: Registry.load + the four table counts of corpus `seed`,
  *     the first ingest of a fresh JVM;
  *  2. search requests over that registry, closed loop, one client: each
  *     runs Search.export then Xlsx.fromDataFrame, and its workbook's id
  *     column is read back and checked against the generator's oracle
  *     outside the timed interval;
  *  3. warm loads of a second corpus (another seed, another path), with
  *     Registry.release before each so every load is a full re-parse.
  *
  * A traced run alternates traced and untraced requests and loads; its
  * traced loads are prefix chains (split, +id, +extract, +merge,
  * +persist and counts), each prefix's extra time being that layer's
  * cost. */
object RegistryWorkload {

  /** Sampled requests per run at least, whatever the window. */
  val MinRequests = 12
  /** Warm loads per run. */
  val WarmLoads = 3

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Registry.load plus the four table counts, checked against the
    * generator's oracle. Returns the tables when the counts match. */
  def loadAndCount(s: SparkSession, path: String, want: SeededCorpus.Counts,
      tr: Tracer, res: Result): Option[RegistryTables] =
    try {
      val t = tr.span("construct")(Registry.load(s, path))
      val got = SeededCorpus.Counts(
        tr.span("action")(t.trials.count()), tr.span("action")(t.imp.count()),
        tr.span("action")(t.sponsor.count()), tr.span("action")(t.location.count()))
      res.op(got == want, s"load $path: counts $got, oracle $want")
      if (got == want) Some(t) else None
    } catch { case NonFatal(e) => res.op(ok = false, s"load $path: $e"); None }

  /** Column A of every data row of the workbook's sheet. */
  def workbookIds(p: Path): Set[String] = {
    val zip = new java.util.zip.ZipFile(p.toFile)
    try {
      val xml = new String(zip.getInputStream(zip.getEntry("xl/worksheets/sheet1.xml"))
        .readAllBytes(), UTF_8)
      """<c r="A(\d+)"[^>]*><is><t[^>]*>([^<]*)</t>""".r.findAllMatchIn(xml)
        .filter(_.group(1) != "1").map(_.group(2)).toSet
    } finally zip.close()
  }

  /** Does the executed plan read a persisted frame? */
  def scansCache(p: SparkPlan): Boolean = p match {
    case _: columnar.InMemoryTableScanExec => true
    case a: AdaptiveSparkPlanExec => scansCache(a.executedPlan) || scansCache(a.inputPlan)
    case q: QueryStageExec => scansCache(q.plan)
    case o => o.children.exists(scansCache) || o.subqueries.exists(scansCache)
  }

  def run(a: Args, s: SparkSession, tr: Tracer, log: StageLog, res: Result): Unit = {
    val (coldPath, warmPath) = (a.corpus.get, a.warmCorpus.get)
    val trials = SeededCorpus.trials(a.seed, a.trials)
    val wantCold = SeededCorpus.counts(trials)
    val wantWarm = SeededCorpus.counts(SeededCorpus.trials(a.warmSeed, a.trials))
    val coldMb = Files.size(coldPath) / 1e6
    val warmMb = Files.size(warmPath) / 1e6
    val out = a.work.resolve("export.xlsx")
    res.evidence("corpus_trials") = a.trials.toString
    res.evidence("corpus_mb") = Json.arr(Seq(Json.num(coldMb), Json.num(warmMb)))
    val plans = new PlanLog
    if (a.trace) s.listenerManager.register(plans)
    Main.calib(s, res, "pre")

    // 1. cold load
    res.markFirstOp()
    val j0 = JvmCounters.now()
    val tc = System.nanoTime()
    val tables = tr.span("cold_load")(loadAndCount(s, coldPath.toString, wantCold, tr, res))
    val coldS = Main.secondsSince(tc)
    val coldJvm = JvmCounters.now() - j0

    // 2. search requests
    val cols = tables.map(_.trials.columns.filter(_ != "eudract_id").toSeq).getOrElse(Nil)
    def check(r: SeededCorpus.Request, got: Set[String]): Boolean = {
      res.op(got == r.expected,
        s"${r.template} ${r.query}: ${got.size} ids, oracle ${r.expected.size}")
      got == r.expected
    }
    def plainRequest(t: RegistryTables, r: SeededCorpus.Request): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        Xlsx.fromDataFrame(Search.export(t, r.query, cols), out)
        val sec = Main.secondsSince(t0)
        if (check(r, workbookIds(out))) Some(sec) else None
      } catch { case NonFatal(e) => res.op(ok = false, s"${r.template}: $e"); None }
    }
    val rowsOut = ArrayBuffer[Double]()
    var hits = 0
    def tracedRequest(t: RegistryTables, r: SeededCorpus.Request): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        val ids = tr.span("request") {
          val df = tr.span("construct")(Search.export(t, r.query, cols))
          tr.span("plan")(df.queryExecution.executedPlan)
          val rows = tr.span("action")(df.collect())
          tr.span("sink")(Xlsx.write(df.columns.toSeq,
            rows.iterator.map(x => Seq.tabulate(x.length)(x.get)), out))
          rowsOut += rows.length
          if (scansCache(df.queryExecution.executedPlan)) hits += 1
          rows.map(_.getString(0)).toSet
        }
        val sec = Main.secondsSince(t0)
        if (check(r, ids)) Some(sec) else None
      } catch { case NonFatal(e) => res.op(ok = false, s"${r.template}: $e"); None }
    }
    val plainReq = ArrayBuffer[Double]()
    val tracedReq = ArrayBuffer[Double]()
    tables.foreach { t =>
      val reqs = SeededCorpus.requests(trials, a.seed, 1000)
      val tq = System.nanoTime()
      var i = 0
      while (i < reqs.length && (Main.secondsSince(tq) < a.seconds ||
          plainReq.length < MinRequests || (a.trace && tracedReq.length < MinRequests))) {
        if (a.trace && (i / SeededCorpus.Templates.length) % 2 == 1)
          tracedRequest(t, reqs(i)).foreach(tracedReq += _)
        else plainRequest(t, reqs(i)).foreach(plainReq += _)
        i += 1
      }
    }

    // 3. warm loads
    val warmS = ArrayBuffer[Double]()
    val chains = ArrayBuffer[Map[String, Double]]()
    var i = 0
    while (warmS.length < WarmLoads || (a.trace && chains.isEmpty)) {
      Registry.release(s)
      if (a.trace && i % 2 == 1) chains += chain(s, warmPath.toString, wantWarm, tr, res)
      else {
        val tw = System.nanoTime()
        loadAndCount(s, warmPath.toString, wantWarm, Tracer.off, res)
        warmS += Main.secondsSince(tw)
      }
      i += 1
    }
    val (resMb, _) = Main.resident(s)
    Registry.release(s)
    Main.calib(s, res, "post")

    val reqMs = plainReq.toSeq.map(_ * 1000)
    res.evidence("ingest_cold_mb_s") = Json.num(coldMb / coldS)
    res.evidence("ingest_warm_mb_s") = Json.num(warmMb / Stats.median(warmS.toSeq))
    res.evidence("warm_load_s") = Json.arr(warmS.toSeq.map(Json.num))
    res.evidence("search_samples") = reqMs.length.toString
    // a tail is stated only at a percentile the sample supports (at
    // least 10 samples beyond it; p95 needs 200)
    val tail = if (reqMs.isEmpty) None else Stats.tailPercentile(reqMs.length)
    res.evidence("search_tail_percentile") = tail.fold("null")(Json.num)
    res.evidence("search_tail_ms") = tail.fold("null")(p => Json.num(Stats.percentile(reqMs, p)))
    if (reqMs.isEmpty || warmS.isEmpty) { res.checksOk = false; return }

    if (!a.trace) {
      res.metric("cold_ms", coldS * 1000, "ms")
      res.metric("prep_ms", Stats.median(warmS.toSeq) * 1000, "ms")
      res.metric("op_ms", Stats.percentile(reqMs, 50), "ms")
      res.metric("cache_resident_mb", resMb, "MB")
    } else {
      org.apache.spark.PerfbenchBridge.drain(s.sparkContext)
      tr.attachStages(log.all)
      tr.attachPlans(plans.all)
      val spans = tr.all
      def med(k: String) = Stats.median(chains.toSeq.map(_(k)))
      res.metric("corpus.split_s", med("split"), "s")
      res.metric("corpus.id_s", med("id"), "s")
      res.metric("extract.s", med("extract"), "s")
      res.metric("merge.s", med("merge"), "s")
      res.metric("registry.persist_s", med("persist"), "s")
      val merges = spans.filter(_.name == "merge")
      val mergeStages = Layers.under(spans, merges.map(_.id).toSet)
      res.metric("merge.shuffle_write_mb",
        Layers.stageAttr(mergeStages, "shuffle_write_mb") / merges.length, "MB")
      res.metric("merge.spill_mb", Layers.stageAttr(mergeStages, "spill_mb") / merges.length, "MB")
      res.metric("cold.codegen_compile_ms", coldJvm.codegenNs / 1e6, "ms")
      res.metric("cold.codegen_classes", coldJvm.codegenClasses.toDouble, "count")
      res.metric("cold.jit_ms", coldJvm.jitMs.toDouble, "ms")
      res.metric("cold.classes_loaded", coldJvm.classesLoaded.toDouble, "count")
      res.metric("cold.gc_ms", coldJvm.gcMs.toDouble, "ms")
      val requests = spans.filter(x => x.parent < 0 && x.name == "request")
      Layers.generic(spans, requests.map(Seq(_)), res)
      res.metric("search.sink_ms", Stats.median(requests.map(r =>
        Layers.under(spans, Set(r.id)).filter(_.name == "sink").map(_.dur).sum / 1000.0)), "ms")
      res.metric("search.rows_out", Stats.median(rowsOut.toSeq), "count")
      res.metric("search.cache_hit", hits.toDouble / math.max(requests.length, 1), "ratio")
      res.evidence("trace_overhead_load_pct") =
        Json.num((med("persist_total") / Stats.median(warmS.toSeq) - 1) * 100)
      Layers.finish(spans, Stats.median(tracedReq.toSeq) / Stats.median(plainReq.toSeq) - 1, res)
    }
  }

  /** One traced prefix chain over `path`; returns each layer's seconds
    * (a prefix's time minus the previous prefix's) plus the final
    * step's whole time, which is a warm load with tracing on. */
  private def chain(s: SparkSession, path: String, want: SeededCorpus.Counts,
      tr: Tracer, res: Result): Map[String, Double] = {
    def step(name: String)(body: => Unit): Double = {
      val t = System.nanoTime()
      tr.span(name)(body)
      Main.secondsSince(t)
    }
    tr.span("warm_chain") {
      val split = step("split")(noop(Corpus.read(s, path)))
      val id = step("id")(noop(Corpus.records(s, path)))
      val ex = step("extract")(noop(Corpus.records(s, path).select(col("record_seq"),
        col("eudract_id"), GraftColumnBridge.column(graft.plans.ExtractRecord(
          GraftColumnBridge.expression(col("rec")))).as("ex"))))
      val merge = step("merge")(noop(TrialMerge.merge(s, path)))
      Registry.release(s)
      val persist = step("persist")(loadAndCount(s, path, want, tr, res))
      Map("split" -> split, "id" -> (id - split), "extract" -> (ex - id),
        "merge" -> (merge - ex), "persist" -> (persist - merge), "persist_total" -> persist)
    }
  }
}
