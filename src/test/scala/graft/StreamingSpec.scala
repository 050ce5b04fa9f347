package graft

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

  test("zero-output append replay returns an empty frame with schema, not a read error") {
    import spark.implicits._
    // All events inside one 10-minute span: the single hourly window never
    // falls behind the final watermark, so the append-mode replay commits
    // ZERO data files — the read-back guard must return the transform's
    // schema as an empty frame instead of throwing parquet schema-inference.
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-replay").toFile
    try {
      val tmpOut = new java.io.File(dir, "_stage")
      Seq(10L, 70L, 300L, 599L).toDF("epoch")
        .select(timestamp_seconds(col("epoch")).as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(tmpOut.getPath)
      val part = tmpOut.listFiles().find(_.getName.endsWith(".parquet")).get
      val src = new java.io.File(dir, "events.parquet")
      java.nio.file.Files.move(part.toPath, src.toPath)
      val out = EventsAnomaly.replayBoundedAppend(spark, src.getPath,
        s => EventsAnomaly.hourlyCounts(s))
      assert(out.columns.toSeq === Seq("hour_epoch", "cnt"))
      assert(out.count() === 0L)
    } finally {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      rm(dir)
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
