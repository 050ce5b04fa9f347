package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Scale-evidence harness for the streaming operators (w10 windowed agg,
  * w11 session windows, w14 watermarked dedup, w15 stream-stream interval
  * join — streaming/EventsAnomaly.scala).
  *
  * The 100 TB argument for the streaming family is: every stateful operator
  * carries an event-time watermark, so state is bounded by the WATERMARK
  * HORIZON (rate × delay), not by how much stream has been processed — a
  * stream that runs 10× longer at the same event rate holds the SAME state.
  * That claim has so far been argued from the operator contracts
  * (withWatermark + dropDuplicatesWithinWatermark / session_window / range
  * join condition); this main MEASURES it, the way GEOSCALE_r06.json
  * records the grid-family claims.
  *
  * Method: generate a deterministic event corpus as time-ordered parquet
  * files (fixed hours-per-file, so the per-micro-batch event-time span is a
  * controlled constant across regimes — otherwise a longer corpus sliced
  * into the same file count would open more windows per batch purely as a
  * replay artifact), replay with maxFilesPerTrigger=1 so the watermark
  * advances between micro-batches, and record per-operator state-store
  * rows from StreamingQueryProgress:
  *
  *   - base:   10 days  at ~2 000 events/h
  *   - span10: 100 days at ~2 000 events/h  (10× data, same rate)
  *   - rate10: 10 days  at ~20 000 events/h (10× data, 10× rate)
  *
  * Expected signature, per operator class:
  *   - span10 / base max-state ratio ≈ 1 for ALL operators (the headline
  *     claim: state does not grow with processed volume);
  *   - rate10 / base ratio ≈ 10 for row-keyed state (dedup ids, join
  *     buffers) and ≈ 1 for window-keyed state (hourly windows — state
  *     counts WINDOWS, not events);
  *   - numRowsRemoved > 0 everywhere (eviction actually runs; a bounded
  *     max with no removals would just mean the corpus fit in one horizon).
  *
  * Events are uniform-random WITHIN each slice (hash-placed), so per-user
  * inter-arrival gaps are Poisson-like and ~13% of 30-minute session gaps
  * actually close sessions (a round-robin placement would give uniform
  * 15-minute gaps and one never-closing session per user). ~2% duplicate
  * event_ids exercise the dedup drop path.
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "runMain graft.StreamScaleEvidence"
  * (one JSON line per (regime, op); results land in STREAMSCALE_r06.json /
  * BASELINE.md by hand).
  */
object StreamScaleEvidence {

  val HoursPerFile = 24
  val Users = 500L
  val BaseRatePerHour = 2000L
  val EpochStartMicros = 1700000000L * 1000000L // fixed, deterministic

  final case class Regime(name: String, spanHours: Long, ratePerHour: Long) {
    def files: Int = (spanHours / HoursPerFile).toInt
    def totalEvents: Long = spanHours * ratePerHour
  }

  val Regimes = Seq(
    Regime("base", 240L, BaseRatePerHour),
    Regime("span10", 2400L, BaseRatePerHour),
    Regime("rate10", 240L, BaseRatePerHour * 10))

  /** One time-slice of the corpus: events `[from, until)` of the id range,
    * hash-placed uniformly inside the slice's event-time interval.
    * Package-visible so StreamScaleSpec can pin the generator's shape. */
  private[graft] def slice(s: SparkSession, r: Regime, i: Int): DataFrame = {
    val perFile = r.totalEvents / r.files
    val sliceMicros = HoursPerFile * 3600L * 1000000L
    val t0 = EpochStartMicros + i.toLong * sliceMicros
    s.range(i * perFile, (i + 1) * perFile).toDF("id")
      // ~2% duplicate ids (same slice, different ts) for the dedup op.
      .withColumn("event_id",
        when(pmod(col("id"), lit(50L)) === 0, col("id") - 1).otherwise(col("id")))
      .withColumn("ts",
        timestamp_micros(lit(t0) + pmod(xxhash64(col("id"), lit(1)), lit(sliceMicros))))
      .withColumn("user_id", pmod(xxhash64(col("id"), lit(2)), lit(Users)))
      .withColumn("event_type",
        when(pmod(xxhash64(col("id"), lit(3)), lit(10L)) === 0, lit("purchase"))
          .when(pmod(xxhash64(col("id"), lit(3)), lit(10L)) < 8, lit("click"))
          .otherwise(lit("view")))
      .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      .select("event_id", "ts", "user_id", "event_type", "ts_ns")
  }

  /** Write the regime corpus as `r.files` single-file parquets with strictly
    * increasing mtimes (the file-stream source orders batches by mtime). */
  def writeCorpus(s: SparkSession, r: Regime, dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    val root = new java.io.File(dir)
    if (root.exists()) rm(root)
    root.mkdirs()
    val tmp = new java.io.File(root, "_tmp")
    for (i <- 0 until r.files) {
      slice(s, r, i).coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(root, f"ev-$i%04d.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val _ = dest.setLastModified(1700000000000L + i.toLong * 2000L)
    }
    rm(tmp)
  }

  final case class Metrics(batches: Int, inputRows: Long, emittedRows: Long,
      maxStateRows: Long, finalStateRows: Long, removedRows: Long, sec: Double)

  /** Replay `transform(src)` (or a two-source join when `twoSources`) over
    * the corpus dir one file per micro-batch; fold state metrics out of the
    * progress history. */
  def replay(s: SparkSession, dir: String, mode: String,
      twoSources: Boolean,
      transform: Seq[DataFrame] => DataFrame): Metrics = {
    val schema = s.read.parquet(dir).schema
    def src() = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val name = "sse_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val t0 = System.nanoTime()
    val q = transform(if (twoSources) Seq(src(), src()) else Seq(src()))
      .writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    val progs = q.recentProgress.toSeq
    val states = progs.map(_.stateOperators.map(_.numRowsTotal).sum)
    val removed = progs.map(_.stateOperators.map(_.numRowsRemoved).sum).sum
    val emitted = s.table(name).count()
    Metrics(
      batches = progs.count(_.numInputRows > 0),
      inputRows = progs.map(_.numInputRows).sum,
      emittedRows = emitted,
      maxStateRows = if (states.isEmpty) 0L else states.max,
      finalStateRows = states.lastOption.getOrElse(0L),
      removedRows = removed,
      sec = sec)
  }

  def main(args: Array[String]): Unit = {
    val cpus = graft.core.GraftSession.intEnv("SPARK_GRAFT_CPUS", 4, 1, "core count")
    // Machine-speed witness header: state-row counts below are
    // noise-immune, but the sec fields are only comparable across runs at
    // matching witness values (ops.CpuWitness).
    println(String.format(java.util.Locale.ROOT,
      """{"cpu_ref_sec":%.3f,"cpu_ref_mt_sec":%.3f}""",
      Double.box(graft.ops.CpuWitness.singleThread()),
      Double.box(graft.ops.CpuWitness.multiThread(cpus))))
    val spark = graft.core.GraftSession.local(cpus)
    // span10 replays 100 micro-batches; keep every progress record.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "500")

    def jline(regime: Regime, op: String, m: Metrics): String = {
      val L = java.util.Locale.ROOT
      String.format(L,
        """{"regime":"%s","files":%d,"op":"%s","batches":%d,"input_rows":%d,"emitted_rows":%d,"max_state_rows":%d,"final_state_rows":%d,"removed_rows":%d,"sec":%.2f}""",
        regime.name, Int.box(regime.files), op, Int.box(m.batches),
        Long.box(m.inputRows), Long.box(m.emittedRows), Long.box(m.maxStateRows),
        Long.box(m.finalStateRows), Long.box(m.removedRows), Double.box(m.sec))
    }

    import graft.streaming.EventsAnomaly
    val ops: Seq[(String, (SparkSession, String) => Metrics)] = Seq(
      "w10_hourly" -> ((s: SparkSession, dir: String) =>
        replay(s, dir, "append", twoSources = false,
          srcs => EventsAnomaly.hourlyCounts(srcs.head))),
      "w11_sessions" -> ((s: SparkSession, dir: String) =>
        replay(s, dir, "append", twoSources = false,
          srcs => EventsAnomaly.userSessions(srcs.head))),
      "w14_dedup" -> ((s: SparkSession, dir: String) =>
        replay(s, dir, "append", twoSources = false,
          srcs => EventsAnomaly.dedupStream(srcs.head, Seq("event_id")))),
      "w15_join" -> ((s: SparkSession, dir: String) =>
        replay(s, dir, "append", twoSources = true,
          srcs => EventsAnomaly.purchaseClickJoin(srcs(0), srcs(1), 1800L))))

    for (r <- Regimes) {
      val dir = s"tmp/scale/stream/${r.name}"
      System.err.println(s"[streamscale] building ${r.name}: " +
        s"${r.totalEvents} events / ${r.files} files")
      writeCorpus(spark, r, dir)
      for ((opName, run) <- ops) {
        val m = run(spark, dir)
        println(jline(r, opName, m))
        System.out.flush()
      }
    }
    spark.stop()
  }
}
