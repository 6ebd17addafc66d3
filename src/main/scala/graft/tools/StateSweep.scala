package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** State-growth scale sweep for the round-7 stateful operators — the
  * same measure-don't-narrate protocol as the CloneFixture dedup
  * sweep, applied to STATE instead of candidate pairs:
  *
  *  - q86's stream-stream interval join claims "state ∝ rate ×
  *    horizon, not history": events are cloned K× at UNCHANGED
  *    timestamps (K× the arrival rate) and streamed through the join
  *    in time-ordered chunk files (one micro-batch each, so the
  *    watermark advances and eviction actually runs). Per micro-batch
  *    the tool prints input rows, total state rows, state bytes and
  *    the watermark from the query's progress events. The claim holds
  *    iff (a) at fixed rate, state PLATEAUS across batches instead of
  *    accumulating the stream's history, and (b) the plateau scales
  *    ~K× when the rate does.
  *  - q85's SCD-2 window build has no state store; its analogue is the
  *    per-user sort buffer inside the single user-keyed exchange. The
  *    sweep times the full query at 1× and K× — linear wall-clock and
  *    an unchanged 2-exchange plan are the pass criteria.
  *  - q163's mix-monitor aggregation (round 16 — VERDICT r15 item 6)
  *    claims its state is |windows|·|types| rows, bounded by the
  *    calendar and the type vocabulary, NEVER by stream volume — so
  *    its bench cost is the micro-batch harness floor, not state
  *    growth. The sweep streams 1× and K× rates through the exact
  *    q163 aggregation and prints per-batch state rows/bytes: the
  *    claim holds iff the state-row count is IDENTICAL at both rates
  *    (same days × types) and flat across batches once every window
  *    has arrived, with wall-clock moving only with input volume.
  *
  * Usage: `runMain graft.tools.StateSweep [sfDir] [K] [chunks]`
  * (defaults: /root/testdata/sf0.1, 10, 10). Results land in the
  * README's "state sweep" note.
  */
object StateSweep {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    val chunks = args.lift(2).map(_.toInt).getOrElse(10)
    // SessionTuning wired in (round 22) so the RocksDB state-store A/B
    // (VERDICT r21 item 8) runs as
    //   SPARK_GRAFT_SQLCONF="spark.sql.streaming.stateStore.providerClass=
    //     org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    // against the same sweep, no rebuild.
    val spark = graft.core.Session.builder(graft.core.Session.cpus()).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    for (factor <- Seq(1, k); joinType <- Seq("inner", "left_outer")) {
      // round 14: the q149 LEFT OUTER topology sweeps alongside q86's
      // inner — the outer's null rows are state-EVICTION events, so
      // the claim under test is the same ("state ∝ rate × horizon"),
      // plus that eviction actually runs per batch (a plateau here
      // proves the null-row path doesn't retain left rows forever)
      val tag = if (joinType == "inner") "q86 inner" else "q149 left-outer"
      println(s"== $tag stream-stream interval join, ${factor}x event rate ==")
      runJoin(spark, stage(spark, src, factor, chunks), joinType)
    }
    for (factor <- Seq(1, k)) {
      println(s"== q163 mix-monitor windowed agg, ${factor}x event rate ==")
      runMix(spark, stage(spark, src, factor, chunks))
    }
    // 3-point linearity probe through the noop sink (full evaluation;
    // count() would prune the window columns): cloned events share
    // (user, ts, type) so they join EXISTING runs — output rows stay
    // constant while the per-user sort buffers scale with the factor,
    // which is exactly the q85 "state" being measured
    for (factor <- Seq(1, k, 5 * k)) {
      val in = clonedEvents(spark, src, factor).persist()
      val nIn = in.count() // materialize input outside the timed region
      val t0 = System.nanoTime()
      scd2(in).write.format("noop").mode("overwrite").save()
      println(f"== q85 SCD-2, ${factor}x ($nIn%,d events): " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s ==")
      in.unpersist()
    }
    spark.stop()
  }

  /** events cloned `factor`× at unchanged timestamps under fresh
    * event_ids — K× the arrival rate, same time span. */
  private def clonedEvents(spark: SparkSession, src: String, factor: Int): DataFrame = {
    val base = graft.core.T.events(spark, src)
    val n = base.count()
    base.crossJoin(broadcast(spark.range(factor).select(col("id").as("copy"))))
      .select((col("event_id") + col("copy") * n).as("event_id"),
        col("user_id"), col("event_type"), col("value"), col("ts"))
  }

  /** Stage `factor`× events as `chunks` time-ordered parquet files
    * (one micro-batch each under maxFilesPerTrigger=1). The cache dir
    * is keyed on EVERY staging input (src fixture, factor, chunks) —
    * keyed on factor alone, a rerun with a different fixture or chunk
    * count silently reused stale files and reported metrics for the
    * old configuration (ADVICE r8; same lesson as the schema_evo
    * staging key). */
  private def stage(spark: SparkSession, src: String, factor: Int, chunks: Int): String = {
    val srcKey = src.replaceAll("[^A-Za-z0-9.]+", "_")
    val dir = s"/tmp/graft/state_sweep_${srcKey}_${factor}x_c$chunks"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(dir))) return dir
    // global ntile = one-partition sort: fixture-scale staging only
    val chunked = clonedEvents(spark, src, factor)
      .withColumn("chunk", ntile(chunks).over(Window.orderBy("ts")))
    for (c <- 1 to chunks) // sequential writes => mtime order = time order
      chunked.filter(col("chunk") === c).drop("chunk").sort("ts")
        .coalesce(1).write.mode("append").parquet(dir)
    dir
  }

  /** The staged chunk files as a stream, one file per micro-batch. */
  private def chunkStream(spark: SparkSession, landing: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(landing).schema)
      .option("maxFilesPerTrigger", "1").parquet(landing)

  /** q86's exact topology ([[graft.streaming.Streams.clickPurchaseJoin]])
    * over the staged chunk files; prints per-batch state metrics. */
  private def runJoin(spark: SparkSession, landing: String,
      joinType: String): Unit = {
    val q = graft.streaming.Streams.clickPurchaseJoin(chunkStream(spark, landing), joinType)
      .writeStream
      .outputMode("append")
      .format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
      val st = p.stateOperators
      println(f"batch=${p.batchId}%2d in=${p.numInputRows}%7d " +
        f"stateRows=${st.map(_.numRowsTotal).sum}%7d " +
        f"stateMiB=${st.map(_.memoryUsedBytes).sum / 1048576.0}%7.1f " +
        s"watermark=${p.eventTime.get("watermark")}")
    }
    q.stop()
  }

  /** q163's exact aggregation ([[graft.streaming.MixMonitor.dailyMass]])
    * over the staged chunk files, complete mode — prints per-batch
    * input vs state so "state = |windows|·|types|, not volume" is a
    * measurement. */
  private def runMix(spark: SparkSession, landing: String): Unit = {
    val masses = graft.streaming.MixMonitor.dailyMass(chunkStream(spark, landing))
    val t0 = System.nanoTime()
    val q = masses.writeStream
      .outputMode("complete")
      .format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
      val st = p.stateOperators
      println(f"batch=${p.batchId}%2d in=${p.numInputRows}%7d " +
        f"stateRows=${st.map(_.numRowsTotal).sum}%7d " +
        f"stateMiB=${st.map(_.memoryUsedBytes).sum / 1048576.0}%7.1f")
    }
    println(f"== wall ${wall}%.2f s ==")
    q.stop()
  }

  /** q85's SCD-2 build (Extras.scala), parameterized by input frame. */
  private def scd2(events: DataFrame): DataFrame = {
    val ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("pv", lag(col("event_type"), 1).over(ord))
      .filter(col("pv").isNull || col("pv") =!= col("event_type"))
      .drop("pv")
      .withColumn("valid_to_us", unix_micros(lead(col("ts"), 1).over(ord)))
      .select(col("user_id"), col("event_id").as("run_event_id"), col("event_type"),
        unix_micros(col("ts")).as("valid_from_us"), col("valid_to_us"))
  }
}
