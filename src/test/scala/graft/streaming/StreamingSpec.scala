package graft.streaming

import graft.SparkSpec
import graft.registry.{Corpus, Extract, FieldKind, FieldSpec, Registry, SyntheticCorpus}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Streaming behavior pins (SURVEY §5.2.5): watermark late-data drop,
  * and incremental-merge ≡ batch-merge equivalence on shuffled input. */
class StreamingSpec extends SparkSpec {

  test("watermark drops late-beyond-watermark rows in append mode") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val counts = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("k"))
      .count()
    val q = counts.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("wm_test").start()
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    input.addData((t(0), "a"), (t(5), "a"))
    q.processAllAvailable()
    // advance watermark far past the first window, closing it
    input.addData((t(40), "a"))
    q.processAllAvailable()
    // this row is now later than watermark (10:30) - window [10:00,10:10) closed
    input.addData((t(1), "a"))
    q.processAllAvailable()
    input.addData((t(55), "a"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wm_test")
      .select(col("window.start").cast("string"), col("count")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the closed 10:00 window emitted count=2: the late (10:01) row was dropped
    assert(rows("2024-01-01 10:00:00") == 2L)
  }

  test("session_window groups events separated by gaps into distinct sessions") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val q = input.toDF().toDF("ts", "user")
      .groupBy(session_window(col("ts"), "10 minutes"), col("user"))
      .count()
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("sess_test").start()
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // two bursts 30min apart -> two sessions; one merge across batches
    input.addData((t(10, 0), "u"), (t(10, 5), "u"))
    q.processAllAvailable()
    input.addData((t(10, 8), "u"), (t(10, 40), "u"))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sess_test")
      .select(col("session_window.start").cast("string"), col("count"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sessions == Map(
      "2024-01-01 10:00:00" -> 3L, // 10:00+10:05+10:08 merged into one session
      "2024-01-01 10:40:00" -> 1L))
  }

  test("streaming exact-dedup drops within-watermark duplicates across batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = Streams.dedupStream(
        input.toDF().toDF("ts", "doc_id", "text"), "doc_id", "ts", "10 minutes")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_test").start()
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // batch 1: two docs, one duplicated in-batch
    input.addData((t(0), 1L, "a"), (t(1), 1L, "a-dup"), (t(2), 2L, "b"))
    q.processAllAvailable()
    // batch 2: cross-batch duplicate of doc 1 (still within watermark)
    // plus a new doc
    input.addData((t(3), 1L, "a-dup2"), (t(4), 3L, "c"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("dedup_test")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // exactly one survivor per doc_id, and it is the FIRST arrival
    assert(kept == Map(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("stateful incremental merge on SHUFFLED records equals batch TrialMerge") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val path = SyntheticCorpus.ensure()
    // worst case for a non-commutative fold: reverse file order
    val shuffled = extractedRecords(path)

    val input = MemoryStream[StreamMerge.RecordIn]
    val q = StreamMerge.run(input.toDS()).writeStream
      .outputMode(OutputMode.Update())
      .format("memory").queryName("merge_test").start()
    // two batches to force cross-batch state reuse
    val (b1, b2) = shuffled.splitAt(shuffled.length / 2)
    input.addData(b1.toSeq); q.processAllAvailable()
    input.addData(b2.toSeq); q.processAllAvailable()
    q.stop()

    // last update per trial = the one having seen the most records
    val finalRows = spark.table("merge_test").as[StreamMerge.TrialUpdate].collect()
      .groupBy(_.eudract_id).view.mapValues(_.maxBy(_.nRecords)).toMap

    val batch = Registry.load(spark, path).trials.collect()
      .map(r => r.getAs[String]("eudract_id") -> r).toMap

    assert(finalRows.keySet == batch.keySet)
    for ((id, streamRow) <- finalRows; f <- FieldSpec.trial) {
      val batchRow = batch(id)
      f.kind match {
        case FieldKind.Flag =>
          val b = if (batchRow.isNullAt(batchRow.fieldIndex(f.name))) None
                  else Some(batchRow.getAs[Int](f.name))
          assert(streamRow.flags.get(f.name) == b, s"$id.${f.name}")
        case _ =>
          assert(streamRow.fields.get(f.name) == Option(batchRow.getAs[String](f.name)),
            s"$id.${f.name}")
      }
    }
  }

  /** batch-extracted RecordIn rows (non-blank captures only) for the
    * merge tests, worst-case (reverse file) order. The columnar
    * Extract path (the cross-validation of the native ExtractRecord
    * expression TrialMerge uses) needs normalized text. */
  private def extractedRecords(path: String): Array[StreamMerge.RecordIn] = {
    val textFields = FieldSpec.trial
    Corpus.records(spark, path)
      .withColumn("rec", Corpus.normalize(col("rec")))
      .select(col("record_seq") +: col("eudract_id") +: Extract.trialCols(col("rec")): _*)
      .collect()
      .map { r =>
        val fields = textFields.flatMap { f =>
          Option(r.getAs[String](f.name)).map(f.name -> _)
        }.toMap
        StreamMerge.RecordIn(r.getAs[String]("eudract_id"), r.getAs[Long]("record_seq"), fields)
      }
      .reverse
  }

  test("upsert sink: kill-and-resume lands exactly the batch-merge table") {
    // the §2.9 sink half — records stream in two runs of an
    // AvailableNow query over a file source, the SECOND run resuming
    // the FIRST's checkpoint (killed-and-restarted query): the upserted
    // parquet table must equal the batch TrialMerge result, one row per
    // trial, no duplicates and no lost state.
    import spark.implicits._
    val path = SyntheticCorpus.ensure()
    val recs = extractedRecords(path)
    val base = java.nio.file.Files.createTempDirectory("graft_upsert")
    val landing = base.resolve("in"); java.nio.file.Files.createDirectories(landing)
    val table = base.resolve("table").toString
    val ckpt = base.resolve("ckpt").toString
    val (b1, b2) = recs.splitAt(recs.length / 2)

    def runOnce(rows: Array[StreamMerge.RecordIn]): Unit = {
      rows.toSeq.toDS().coalesce(1).write.mode("append").parquet(landing.toString)
      val schema = spark.read.parquet(landing.toString).schema
      val q = StreamMerge.upsertSink(
          StreamMerge.run(
            spark.readStream.schema(schema).parquet(landing.toString)
              .as[StreamMerge.RecordIn]),
          table, ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce(b1)
    val mid = spark.read.parquet(table).count()
    assert(mid > 0, "first run landed nothing")
    runOnce(b2) // fresh query object, same checkpoint: resume, not re-read

    val landed = spark.read.parquet(table)
      .select("eudract_id", "fields", "flags", "nRecords")
      .as[StreamMerge.TrialUpdate].collect()
    assert(landed.length == landed.map(_.eudract_id).distinct.length, "duplicate trials")
    val byId = landed.map(u => u.eudract_id -> u).toMap
    val batch = Registry.load(spark, path).trials.collect()
      .map(r => r.getAs[String]("eudract_id") -> r).toMap
    assert(byId.keySet == batch.keySet)
    for ((id, streamRow) <- byId; f <- FieldSpec.trial) {
      val batchRow = batch(id)
      f.kind match {
        case FieldKind.Flag =>
          val b = if (batchRow.isNullAt(batchRow.fieldIndex(f.name))) None
                  else Some(batchRow.getAs[Int](f.name))
          assert(streamRow.flags.get(f.name) == b, s"$id.${f.name}")
        case _ =>
          assert(streamRow.fields.get(f.name) == Option(batchRow.getAs[String](f.name)),
            s"$id.${f.name}")
      }
    }
  }

  test("upsert batch apply is idempotent: a replayed micro-batch changes nothing") {
    // foreachBatch replays the in-flight batch after a crash —
    // idempotent apply is what makes that replay exactly-once
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft_idem").resolve("t").toString
    def up(id: String, n: Long) =
      StreamMerge.TrialUpdate(id, Map("title" -> s"$id-v$n"), Map("f" -> 1), n)
    val batch1 = Seq(up("A", 1), up("B", 2)).toDS()
    StreamMerge.upsertBatch(batch1, table, buckets = 4)
    StreamMerge.upsertBatch(batch1, table, buckets = 4) // replay
    val after = spark.read.parquet(table)
      .select("eudract_id", "fields", "flags", "nRecords")
      .as[StreamMerge.TrialUpdate].collect().sortBy(_.eudract_id)
    assert(after.toSeq == Seq(up("A", 1), up("B", 2)))
    // an overlapping LATER batch replaces, never appends
    StreamMerge.upsertBatch(Seq(up("B", 5), up("C", 1)).toDS(), table, buckets = 4)
    val fin = spark.read.parquet(table)
      .select("eudract_id", "fields", "flags", "nRecords")
      .as[StreamMerge.TrialUpdate].collect().sortBy(_.eudract_id)
    assert(fin.toSeq == Seq(up("A", 1), up("B", 5), up("C", 1)))
  }

  test("restart from checkpoint: state survives, committed files never re-read") {
    // exactly-once on recovery — the property checkpointing exists for:
    // a SECOND query started on the SAME checkpoint must resume the
    // windowed counts from state and process only files the first run
    // never committed. A double-read would show x -> 5 below.
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_restart")
    val landing = base.resolve("in"); java.nio.file.Files.createDirectories(landing)
    val ckpt = base.resolve("ckpt").toString
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    def addFile(rows: Seq[(java.sql.Timestamp, String)]): Unit =
      rows.toDF("ts", "k").coalesce(1)
        .write.mode("append").parquet(landing.toString)
    addFile(Seq((t(0), "x"), (t(1), "x"), (t(2), "y")))
    val schema = spark.read.parquet(landing.toString).schema
    def run(name: String): Map[String, Long] = {
      val q = spark.readStream.schema(schema).parquet(landing.toString)
        .groupBy(window(col("ts"), "1 hour"), col("k")).count()
        .writeStream.outputMode(OutputMode.Complete())
        .format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name).select("k", "count")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(run("restart_run1") == Map("x" -> 2L, "y" -> 1L))
    addFile(Seq((t(5), "x"), (t(6), "z")))
    // fresh query object, same checkpoint: x resumes from 2, not 4
    assert(run("restart_run2") == Map("x" -> 3L, "y" -> 1L, "z" -> 1L))
  }

  // Round 21 (VERDICT r20 item 4): state-store width is a CAPACITY
  // dial, not semantics — the q86-shaped stream-stream interval join
  // must produce identical results at any shuffle-partition count.
  // Streams.StreamParts is the one config point; this pins the
  // invariance it relies on, at widths on both sides of the default.
  test("stream-stream interval join: identical results across state-store widths") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    def run(width: String): Set[(Long, Long)] = {
      val key = "spark.sql.shuffle.partitions"
      val old = spark.conf.get(key)
      spark.conf.set(key, width)
      try {
        val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
        val buys = MemoryStream[(Long, Long, java.sql.Timestamp)]
        val c = clicks.toDF().toDF("click_id", "user_id", "c_ts")
          .withWatermark("c_ts", "1 hour")
        val p = buys.toDF().toDF("purchase_id", "p_user", "p_ts")
          .withWatermark("p_ts", "1 hour")
        val name = "width_ab_" + width
        val q = c.join(p,
            col("user_id") === col("p_user")
              && col("p_ts") >= col("c_ts")
              && col("p_ts") <= col("c_ts") + expr("interval 30 minutes"))
          .writeStream.outputMode(OutputMode.Append())
          .format("memory").queryName(name).start()
        clicks.addData((1L, 7L, t(0)), (2L, 8L, t(1)), (3L, 7L, t(30)))
        buys.addData((10L, 7L, t(10)), (11L, 8L, t(45)), (12L, 7L, t(31)))
        q.processAllAvailable()
        q.stop()
        val out = spark.table(name).select("click_id", "purchase_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        spark.catalog.dropTempView(name)
        out
      } finally spark.conf.set(key, old)
    }
    val narrow = run("2")
    val wide = run("5")
    assert(narrow == Set((1L, 10L), (3L, 12L)))
    assert(narrow == wide)
  }

  // The width rule: Streams.drain starts its query at the stream width
  // (StreamExecution clones the session inside start()), so the state
  // operator runs at StreamParts while the session keeps its own width.
  test("drain runs state at the stream width and leaves the session width alone") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import scala.jdk.CollectionConverters._
    implicit val sc = spark.sqlContext
    val widths = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(o => widths.add(o.numShufflePartitions))
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, "7")
    spark.streams.addListener(listener)
    try {
      val in = MemoryStream[String]
      in.addData("a", "b", "a")
      val out = Streams.drain(in.toDF().groupBy("value").count(), "complete")
      assert(spark.conf.get(key) == "7")
      assert(out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        Map("a" -> 2L, "b" -> 1L))
      eventually(timeout(30.seconds)) { assert(!widths.isEmpty) }
      assert(widths.asScala.toSet == Set(4L))
    } finally {
      spark.streams.removeListener(listener)
      spark.conf.set(key, old)
    }
  }
}
