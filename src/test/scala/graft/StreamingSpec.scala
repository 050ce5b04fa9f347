package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.streaming.EventsAnomaly
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends SparkSpec {

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String = "complete"): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("streaming hourly counts equal the batch aggregation (MemoryStream)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Long]
    // Events at hours 0 (×3), 1 (×2), 5 (×1), as epoch seconds.
    val epochs = Seq(10L, 20L, 30L, 3700L, 3800L, 5 * 3600L + 9L)
    stream.addData(epochs)
    val events = stream.toDF()
      .select(timestamp_seconds(col("value")).as("ts"))
    runToMemory(EventsAnomaly.hourlyCounts(events), "hourly_test")
    val got = spark.table("hourly_test")
      .orderBy("hour_epoch").as[(Long, Long)].collect().toSeq
    assert(got === Seq((0L, 3L), (3600L, 2L), (5 * 3600L, 1L)))
  }

  test("streaming dedup drops repeats across micro-batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(Long, Long)]
    // (id, epoch): id 7 repeats within AND across batches — including at a
    // DIFFERENT timestamp (the case plain dropDuplicates(id, ts) would keep;
    // dropDuplicatesWithinWatermark must drop it too).
    stream.addData(Seq((7L, 100L), (7L, 100L), (8L, 200L)))
    stream.addData(Seq((7L, 350L), (9L, 300L)))
    val events = stream.toDF()
      .select(col("_1").as("event_id"), timestamp_seconds(col("_2")).as("ts"))
    runToMemory(EventsAnomaly.dedupStream(events, Seq("event_id")), "dedup_test", "append")
    val got = spark.table("dedup_test").select("event_id")
      .as[Long].collect().sorted.toSeq
    assert(got === Seq(7L, 8L, 9L))
  }

  test("streaming session_window merges gaps below threshold per user") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(Long, Long)]
    // user 1: events 0s, 60s (one session), 7200s (second session);
    // user 2: single event.
    // Streaming session windows only support append mode, which emits a
    // session once the watermark passes its end — the sentinel event (user
    // 99, far future) advances the watermark so every real session closes.
    stream.addData(Seq((1L, 0L), (1L, 60L), (1L, 7200L), (2L, 30L), (99L, 1000000L)))
    val sessions = stream.toDF()
      .select(col("_1").as("user_id"), timestamp_seconds(col("_2")).as("ts"))
    runToMemory(EventsAnomaly.userSessions(sessions, "30 minutes"), "sessions_test", "append")
    val got = spark.table("sessions_test")
      .filter(col("user_id") =!= 99)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 2L, 2L -> 1L))
  }

  /** Writes (event_id, event_type, ts) rows, ts given in epoch seconds, as
    * one parquet file `events.parquet` in a fresh directory — the layout a
    * bounded replay streams — and passes its path to `body`. */
  private def withEventsFile[T](rows: Seq[(Long, String, Long)])(body: String => T): T = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-replay").toFile
    try {
      val tmpOut = new java.io.File(dir, "_stage")
      rows.toDF("event_id", "event_type", "epoch")
        .select(col("event_id"), col("event_type"),
          timestamp_seconds(col("epoch")).as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(tmpOut.getPath)
      val part = tmpOut.listFiles().find(_.getName.endsWith(".parquet")).get
      val src = new java.io.File(dir, "events.parquet")
      java.nio.file.Files.move(part.toPath, src.toPath)
      body(src.getPath)
    } finally {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      rm(dir)
    }
  }

  /** Ids repeat within and across hours: 3 distinct click ids, 2 view ids. */
  private val dupEvents = Seq((1L, "click", 10L), (1L, "click", 20L), (2L, "click", 3700L),
    (3L, "view", 3800L), (3L, "view", 3900L), (4L, "view", 5 * 3600L), (5L, "click", 5 * 3600L + 9))

  private def dedupCounts(src: org.apache.spark.sql.DataFrame) =
    EventsAnomaly.dedupStream(src, Seq("event_id"))
      .groupBy("event_type").agg(count(lit(1)).as("n"))

  /** Micro-batch progress events of each replay query `body` starts
    * (memory-sink replays are named `replay_*`). The started event is
    * delivered inside start(); the rest arrive asynchronously, progress
    * before termination, so waiting for every termination bounds the
    * count. */
  private def replayBatches(body: => Any): Seq[Int] = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener._
    val runs = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, AtomicInteger]
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        if (Option(e.name).exists(_.startsWith("replay_"))) runs.put(e.runId, new AtomicInteger)
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        Option(runs.get(e.progress.runId)).foreach(_.incrementAndGet())
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (runs.containsKey(e.runId)) ended.add(e.runId)
    }
    spark.streams.addListener(listener)
    try {
      body
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (ended.size < runs.size && System.nanoTime() < deadline) Thread.sleep(20)
      assert(ended.size === runs.size, "a replay's termination never reached the listener")
      runs.values.toArray(Array.empty[AtomicInteger]).toSeq.map(_.get)
    } finally spark.streams.removeListener(listener)
  }

  test("a complete-mode dedup replay runs exactly one micro-batch") {
    import spark.implicits._
    withEventsFile(dupEvents) { path =>
      var got = Seq.empty[(String, Long)]
      val batches = replayBatches {
        got = EventsAnomaly.replayBounded(spark, path, dedupCounts)
          .orderBy("event_type").as[(String, Long)].collect().toSeq
      }
      assert(got === Seq(("click", 3L), ("view", 2L)))
      // The watermark-only batch would re-emit the same table: skipped.
      assert(batches === Seq(1))
    }
  }

  test("replayBounded returns a local one-partition frame and drops its sink view") {
    withEventsFile(dupEvents) { path =>
      val viewsBefore = spark.catalog.listTables().collect().map(_.name).toSet
      val out = EventsAnomaly.replayBounded(spark, path, dedupCounts)
      assert(out.rdd.getNumPartitions === 1)
      assert(out.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
      }.nonEmpty)
      // The schema a memory sink over the same stream reports, nullability
      // included.
      val f = new java.io.File(path)
      runToMemory(dedupCounts(spark.readStream.schema(spark.read.parquet(path).schema)
        .option("pathGlobFilter", f.getName).parquet(f.getParent)), "sink_schema_test")
      assert(out.schema === spark.table("sink_schema_test").schema)
      assert(out.schema.map(_.nullable) === Seq(true, false))
      spark.catalog.dropTempView("sink_schema_test")
      assert(spark.catalog.listTables().collect().map(_.name).toSet === viewsBefore)
    }
  }

  test("an append-mode replay still emits the window only the watermark batch closes") {
    import spark.implicits._
    // Events at hours 0 and 5: the final watermark (hour 5 − 1 h) closes
    // hour 0, and in append mode only the no-data batch after the data
    // batch emits it. Hour 5 stays open.
    withEventsFile(Seq((1L, "click", 10L), (2L, "click", 70L), (3L, "view", 5 * 3600L + 9))) {
      path =>
        val out = EventsAnomaly.replayBoundedAppend(spark, path,
          s => EventsAnomaly.hourlyCounts(s))
        assert(out.as[(Long, Long)].collect().toSeq === Seq((0L, 2L)))
    }
  }

  test("a replay restores shuffle partitions and the no-data batch conf, also when its query throws") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled")
    def confs = keys.map(spark.conf.get)
    val boom = udf((id: Long) => if (id >= 0) throw new IllegalStateException("boom") else id)
    withSqlConf(keys(0), "3")(withSqlConf(keys(1), "true") {
      val before = confs
      withEventsFile(dupEvents) { path =>
        EventsAnomaly.replayBounded(spark, path, dedupCounts).collect()
        assert(confs === before)
        EventsAnomaly.replayBoundedAppend(spark, path, s => EventsAnomaly.hourlyCounts(s))
        assert(confs === before)
        // A throwing replay leaves no sink view behind either.
        val views = spark.catalog.listTables().collect().map(_.name).toSet
        val e = intercept[Exception](EventsAnomaly.replayBounded(spark, path,
          s => s.groupBy(boom(col("event_id")).as("k")).count()))
        assert(spark.catalog.listTables().collect().map(_.name).toSet === views)
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => Option(t.getMessage).exists(_.contains("boom"))))
        assert(confs === before)
      }
    })
  }

  test("a second identical replay compiles no generated class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    withEventsFile(dupEvents) { path =>
      def replay() = EventsAnomaly.replayBounded(spark, path, dedupCounts)
        .orderBy("event_type").collect()
      val first = replay()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      assert(replay() === first)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles === 0L)
    }
  }

  test("zero-output append replay returns an empty frame with schema, not a read error") {
    // All events inside one 10-minute span: the single hourly window never
    // falls behind the final watermark, so the append-mode replay commits
    // ZERO data files — the read-back guard must return the transform's
    // schema as an empty frame instead of throwing parquet schema-inference.
    withEventsFile(Seq(10L, 70L, 300L, 599L).map(t => (t, "click", t))) { path =>
      val out = EventsAnomaly.replayBoundedAppend(spark, path,
        s => EventsAnomaly.hourlyCounts(s))
      assert(out.columns.toSeq === Seq("hour_epoch", "cnt"))
      assert(out.count() === 0L)
    }
  }

  test("a replay source that cannot be sized fails naming its path") {
    // Sizing errors propagate: a transient filesystem error must not
    // silently size a remote stream at the 4-partition state floor.
    val missing = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-missing-${java.util.UUID.randomUUID()}/events.parquet").getPath
    val e = intercept[java.io.IOException](
      EventsAnomaly.replayBounded(spark, missing, s => EventsAnomaly.hourlyCounts(s)))
    assert(e.getMessage.contains(missing))
  }
}
