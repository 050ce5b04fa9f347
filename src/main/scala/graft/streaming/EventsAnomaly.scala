package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Streaming flavor of the lab-1 high-density pipeline (SURVEY.md §7.2;
  * batch semantics in graft.ops.Anomaly): tumbling hourly counts, threshold
  * alerts, and per-user gap sessions — all over an event stream with
  * event-time watermarks. Works identically on batch DataFrames (the
  * transformations are mode-agnostic; only source/sink differ).
  *
  * Late-data policy: 1-hour watermark — state for an hour window is dropped
  * once the watermark passes, mirroring the batch gap rule (SURVEY §7.4.7).
  *
  * Bounded replays (`replayBounded*`) run a transformation over a parquet
  * file with Trigger.AvailableNow. Complete-mode replays ([[replayBounded]],
  * [[replayBoundedLarge]]) skip the watermark-only micro-batch, which in
  * complete mode re-emits an unchanged table; append-mode replays
  * ([[replayBoundedAppend]], [[replayBoundedJoin]]) keep it, because it
  * emits the windows the final watermark closes. [[replayBounded]] returns
  * a local one-partition frame over its memory sink's rows.
  */
object EventsAnomaly {

  /** Tumbling 1-hour counts. `events` needs a TimestampType `ts`. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("w.start")).as("hour_epoch"), col("cnt"))

  /** Hours whose count exceeds a fixed threshold. The batch pipeline derives
    * the threshold as mean+2σ over ALL hours — a global two-pass statistic
    * that has no bounded-state streaming form; production recomputes it
    * periodically from the batch profile and feeds it here. */
  def alerts(events: DataFrame, threshold: Long): DataFrame =
    hourlyCounts(events).filter(col("cnt") > threshold)

  /** Per-user gap sessions via native session_window (the streaming
    * equivalent of ops.Sessionize): events merge while consecutive gaps are
    * < gap. Returns one row per closed session. */
  def userSessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("first_ts"), max("ts").as("last_ts"))

  /** Stream-static enrichment: the canonical "join the stream to a slowly-
    * changing dimension" pattern. The dimension is broadcast (static side of
    * a stream-static join is re-read per micro-batch; broadcasting pins it
    * executor-local), then hourly per-key windowed counts. `dim` must carry
    * (rk, r_name); events join on user_id mod the dimension key space. */
  def enrichedHourly(events: DataFrame, dim: DataFrame, keySpace: Int): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .withColumn("rk", pmod(col("user_id"), lit(keySpace.toLong)))
      .join(broadcast(dim), "rk")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("r_name"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("r_name"), col("cnt"))

  /** Streaming exact dedup: drop repeated ids across micro-batches, with
    * dedup state expiring once the watermark passes an id's event time —
    * the streaming half of the exact-dedup operator (batch form:
    * d1_exact_dedup). dropDuplicatesWithinWatermark dedups on the id columns
    * ALONE (a duplicate of the same id at a different timestamp still drops,
    * as long as it arrives within the watermark delay) — plain
    * dropDuplicates(id :+ ts) would silently keep same-id-different-ts
    * duplicates. */
  def dedupStream(events: DataFrame, idCols: Seq[String],
      watermarkDelay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(idCols)

  /** STREAM-STREAM interval join: purchases join the same user's clicks
    * within the trailing `windowSec` seconds — the canonical two-stream
    * correlation (ad attribution, conversion windows). Both sides carry
    * watermarks; the event-time range condition lets Spark bound the join
    * state (click state drops once the watermark passes click.ts +
    * windowSec). INNER join, so matches emit as they are found — bounded
    * replay surfaces every pair without waiting for state expiry. */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame,
      windowSec: Long): DataFrame = {
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("ts_ns").as("p_ts_ns"), col("event_id").as("p_id"))
      .withWatermark("p_ts", "1 hour")
    val c = clicks.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("ts_ns").as("c_ts_ns"), col("event_id").as("click_id"))
      .withWatermark("c_ts", "1 hour")
    p.join(c, expr(
      s"""p_user = c_user AND
         |c_ts >= p_ts - INTERVAL $windowSec SECONDS AND
         |c_ts <= p_ts""".stripMargin))
  }

  /** State-partition count for a bounded replay, derived from the SOURCE
    * VOLUME instead of inherited from the session core count (round-14,
    * guide §2.2/§2.5: partition counts must follow data, not the box).
    *
    * Why: every stateful micro-batch pays a fixed per-state-partition cost
    * (state store open/commit/maintenance, and at high thread counts a
    * measured super-linear contention term), while the state itself is
    * bounded by the watermark horizon. Measured on w15_stream_join at
    * sf0.1 (40k join-state rows, warm rep): 32 partitions = 204 s task
    * time / 9.5 s wall; 16 = 44 s / 5.0 s; 4 = 3.6 s / 2.9 s — the
    * per-task cost itself GROWS with the partition count (6.4 s → 0.9 s),
    * so inheriting local[32]'s default was pure overhead at this state
    * size. The rule sizes partitions at one per ~32 MB of source bytes
    * (clamped to [4, 1024]) — sf0.1's ~4 MB stream runs at 4 and a
    * terabyte-scale stream derives hundreds. Results are
    * partition-count-independent (hash routing only), which the 6
    * streaming oracles re-verify.
    *
    * Sizing goes through Hadoop FS (round-15, ADVICE r14): java.io.File
    * reads ~0 bytes for any non-local URI (hdfs://, s3a://) or nested/
    * partitioned layout (listFiles is non-recursive) and would silently
    * clamp a terabyte stream to 4 state partitions on cluster storage.
    * getContentSummary walks the tree through whatever filesystem the path
    * names. A sizing failure propagates, naming the path: a transient
    * filesystem error must not silently size a remote stream at the floor. */
  private def streamShuffleParts(spark: SparkSession, parquetPath: String): Int = {
    val path = new org.apache.hadoop.fs.Path(parquetPath)
    val bytes =
      try path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(path).getLength
      catch {
        case e: java.io.IOException =>
          throw new java.io.IOException(s"stream source sizing failed for $parquetPath", e)
      }
    val parts = math.min(1024L, math.max(4L, bytes / (32L << 20))).toInt
    System.err.println(s"[streaming] $parquetPath: $bytes source bytes -> $parts state partitions")
    parts
  }

  private val NoDataBatchesKey = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** Run `body` (a streaming start/await bracket) with the session's
    * shuffle-partition conf pinned to [[streamShuffleParts]], restoring the
    * caller's values after, whether `body` returns or throws. A NEW
    * streaming checkpoint pins its state partition count from this conf at
    * first-batch planning, and a query reads its trigger confs from the
    * session clone it takes at start, so the bracket only needs to span
    * query start → termination; the batch rollups over the sink run at the
    * session's normal width.
    *
    * `complete` also turns off the no-data micro-batch. Spark runs one extra
    * batch with zero input once the watermark advances, to evict state and
    * emit what the watermark closed. In complete mode an aggregate keeps all
    * of its state and re-emits its whole table every batch, so that batch
    * can only evict upstream state (w14's dedup ids) and re-emit an
    * unchanged table: pure cost (w14 at sf0.1, 4 cores: 1.0–1.2 s of a
    * 3–4 s warm replay, traced with perfbench). Append-mode replays must
    * keep it: there it emits the windows the watermark closes, which no
    * data batch of a bounded replay ever would. */
  private def withReplayConf[T](spark: SparkSession, parquetPath: String,
      complete: Boolean)(body: => T): T = {
    val confs = Seq("spark.sql.shuffle.partitions" ->
      streamShuffleParts(spark, parquetPath).toString) ++
      (if (complete) Seq(NoDataBatchesKey -> "false") else Nil)
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, p) => p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** RAM-backed checkpoint dir for a bounded replay, when the host has one.
    *
    * A replay is ephemeral BY CONSTRUCTION — bounded input, memory sink,
    * the checkpoint is discarded the moment the query terminates — so its
    * checkpoint needs none of the durability a production job's does, yet
    * the default temp location puts it on real disk, where every state
    * store delta + offset/commit log fsyncs. Measured (BASELINE.md
    * "w10_stream_hourly: profiled anatomy", round 8, sf0.1, 32 state
    * partitions): disk-synced checkpoints cost ~9 ms per state partition
    * per batch of pure sync latency — ~0.3 s of the w10 replay —
    * and that latency moves with host windows, which is exactly the noise
    * a correctness/bench harness should not carry. Production jobs keep
    * durable checkpoints; match durability to what the artifact needs. */
  private def ephemeralCheckpoint(): Option[String] = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite)
      Some(new java.io.File(shm,
        "graft-replay-" + java.util.UUID.randomUUID().toString).getPath)
    else None
  }

  /** Like [[ephemeralCheckpoint]] but never absent — file sinks REQUIRE a
    * checkpoint location, so fall back to the JVM temp dir off-shm. */
  private def requiredCheckpoint(): String =
    ephemeralCheckpoint().getOrElse(
      new java.io.File(sys.props("java.io.tmpdir"),
        "graft-replay-" + java.util.UUID.randomUUID().toString).getPath)

  /** Per-replay parquet sink dir under the app's staging root (shutdown-
    * hook cleaned, same lifecycle as the staged indexes). */
  private def sinkDir(spark: SparkSession): String =
    graft.ops.Staged.appRoot(spark) + "/replay-sink-" +
      java.util.UUID.randomUUID().toString.replace("-", "")

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Read a replay sink dir back, tolerating the ZERO-OUTPUT case: an
    * append-mode run whose rows are all held back by the final watermark
    * (tiny corpus) or a zero-batch run commits no data files, and
    * spark.read.parquet on a data-less dir throws a schema-inference error
    * where the old memory sink returned an empty table WITH a schema.
    * `schema` is the transform's output schema — the empty frame keeps the
    * sink contract. */
  private def readSinkOrEmpty(spark: SparkSession, out: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val files = new java.io.File(out).listFiles()
    val hasData = files != null && files.exists(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    if (hasData) spark.read.parquet(out)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Start `dsw` with an ephemeral checkpoint (when available), await the
    * bounded run, and clean the checkpoint up — shared tail of the
    * complete-mode replays. */
  private def runBounded(
      dsw: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]): Unit = {
    val ckpt = ephemeralCheckpoint()
    val q = ckpt.fold(dsw)(dsw.option("checkpointLocation", _)).start()
    try q.awaitTermination()
    finally ckpt.foreach(c => deleteRecursively(new java.io.File(c)))
  }

  /** The bounded source's schema: one inference job, which a two-sided
    * replay shares between its sides. */
  private def sourceSchema(spark: SparkSession, parquetPath: String): StructType =
    spark.read.parquet(parquetPath).schema

  private def boundedSource(spark: SparkSession, parquetPath: String,
      schema: StructType): DataFrame = {
    // File-stream sources require a directory: stream the parent dir with a
    // glob pinned to the one file.
    val f = new java.io.File(parquetPath)
    spark.readStream.schema(schema)
      .option("pathGlobFilter", f.getName)
      .parquet(f.getParent)
  }

  private def boundedSource(spark: SparkSession, parquetPath: String): DataFrame =
    boundedSource(spark, parquetPath, sourceSchema(spark, parquetPath))

  /** Run a streaming transformation over a bounded parquet source with
    * Trigger.AvailableNow and a memory sink, returning the final result —
    * the replay harness that lets the correctness gate cover the streaming
    * path with the same oracle as the batch query. Complete mode, so the
    * watermark-only micro-batch is skipped (see [[withReplayConf]]).
    *
    * MEMORY SINK CONTRACT: only for transforms whose complete-mode output
    * is aggregate-BOUNDED at any corpus size (hourly counts ≈ hours span,
    * per-type rollups ≈ type cardinality). A data-proportional output
    * through this sink is collected to the driver per micro-batch — the
    * sf10 whale killed w11 exactly there (spark.driver.maxResultSize at
    * 10M events). Data-proportional complete aggregates use
    * [[replayBoundedLarge]]; data-proportional append emissions use the
    * file-sink variants below.
    *
    * The result is a LOCAL frame: the sink's rows, which the memory sink
    * already holds in this JVM under the contract above, with its schema
    * (nullability included), in one partition. A caller's rollup over it
    * is then one job with no exchange (w14 at sf0.1: 3 jobs → 1, warm
    * rollup 0.12–0.19 s → 0.04–0.05 s), and the sink's temp view is
    * dropped instead of living for the whole session. */
  def replayBounded(spark: SparkSession, parquetPath: String,
      transform: DataFrame => DataFrame): DataFrame = {
    val name = "replay_" + java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      withReplayConf(spark, parquetPath, complete = true) {
        runBounded(transform(boundedSource(spark, parquetPath)).writeStream
          .format("memory").queryName(name)
          .outputMode("complete")
          .trigger(Trigger.AvailableNow()))
      }
      val sink = spark.table(name)
      spark.createDataFrame(java.util.Arrays.asList(sink.collect(): _*), sink.schema)
        .coalesce(1)
    } finally spark.catalog.dropTempView(name)
  }

  /** Complete-mode replay for DATA-PROPORTIONAL aggregates (session
    * windows): each micro-batch's complete result table is written to
    * parquet by the EXECUTORS (foreachBatch overwrite — the streaming
    * equivalent of maintaining a sink table), so no row ever funnels
    * through the driver; the last batch's overwrite is the final state.
    * Complete mode is what keeps bounded-replay parity with the batch
    * oracle — in append mode the sessions still inside the final watermark
    * horizon would stay in state and never emit — and, as in
    * [[replayBounded]], it skips the watermark-only micro-batch. */
  def replayBoundedLarge(spark: SparkSession, parquetPath: String,
      transform: DataFrame => DataFrame): DataFrame = {
    val out = sinkDir(spark)
    val write: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => batch.write.mode("overwrite").parquet(out)
    val transformed = transform(boundedSource(spark, parquetPath))
    withReplayConf(spark, parquetPath, complete = true) {
      runBounded(transformed.writeStream
        .outputMode("complete")
        .foreachBatch(write)
        .trigger(Trigger.AvailableNow()))
    }
    readSinkOrEmpty(spark, out, transformed.schema)
  }

  /** Shared tail of the append-mode replays: a real parquet FILE sink (the
    * production shape for data-proportional emissions — join pairs and
    * per-event state outputs scale with the corpus, so a driver-side memory
    * sink is a maxResultSize OOM waiting for scale). Executors append
    * finished rows to the sink directory; the result is read back as a
    * plain parquet frame. File sinks require a checkpoint, so this variant
    * always has one. Append mode keeps the watermark-only micro-batch: it
    * is the batch that emits the windows the final watermark closes. */
  private def runBoundedToFiles(spark: SparkSession, df: DataFrame,
      parquetPath: String): DataFrame = {
    val out = sinkDir(spark)
    val ckpt = requiredCheckpoint()
    withReplayConf(spark, parquetPath, complete = false) {
      val q = df.writeStream
        .format("parquet").option("path", out)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally deleteRecursively(new java.io.File(ckpt))
    }
    readSinkOrEmpty(spark, out, df.schema)
  }

  /** Two-source APPEND-mode replay for stream-stream joins: each side gets
    * its own file-stream instance over the same bounded source (two
    * independent streams, as production would have two topics), sharing one
    * schema inference; the join's emitted rows accumulate in the file sink.
    * Complete mode is aggregation-only in Spark, so joins need this append
    * variant. */
  def replayBoundedJoin(spark: SparkSession, parquetPath: String,
      transform: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val schema = sourceSchema(spark, parquetPath)
    runBoundedToFiles(spark,
      transform(boundedSource(spark, parquetPath, schema),
        boundedSource(spark, parquetPath, schema)),
      parquetPath)
  }

  /** Single-source APPEND-mode replay: for stateful operators that emit
    * rows incrementally (flatMapGroupsWithState) rather than maintaining a
    * complete aggregate. */
  def replayBoundedAppend(spark: SparkSession, parquetPath: String,
      transform: DataFrame => DataFrame): DataFrame =
    runBoundedToFiles(spark, transform(boundedSource(spark, parquetPath)), parquetPath)
}
