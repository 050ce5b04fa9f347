package graft.streaming

import java.io.File
import java.util.UUID

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
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
  * Bounded replays (`replayBounded*`) run a transformation over one parquet
  * file as a stream, all through one bracket ([[run]]): Trigger.AvailableNow
  * and a foreachBatch sink. [[replayBounded]] collects its complete-mode
  * batch on the driver and returns a local one-partition frame;
  * [[replayBoundedLarge]] overwrites parquet with each complete-mode batch,
  * and the append-mode replays ([[replayBoundedAppend]],
  * [[replayBoundedJoin]]) append each batch to parquet, all read back as a
  * plain frame. Complete-mode replays skip the watermark-only micro-batch,
  * which in complete mode re-emits an unchanged table; append-mode replays
  * keep it, because it emits the windows the final watermark closes.
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
    * Why: every stateful micro-batch pays a fixed cost per state partition
    * (store open, commit and maintenance, each writing its own delta,
    * checksum and log files, and at high thread counts a measured
    * super-linear contention term), while the state itself is bounded by
    * the watermark horizon. On w15_stream_join at sf0.1 (OPTIMIZATION_r14.md,
    * 40k join-state rows) task time and wall both fell from 32 partitions
    * to 16 to 4, and the per-task cost itself grew with the count, so
    * inheriting local[32]'s default was pure overhead at this state size.
    * The rule sizes partitions at one per ~32 MB of source bytes
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
  private val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The one bounded-replay bracket. In order, it sizes the source with
    * [[streamShuffleParts]] (so a sizing failure names the path before any
    * schema inference), builds the frame, sets the replay confs, starts a
    * `replay_<uuid>` query with Trigger.AvailableNow and the foreachBatch
    * `sink` in complete or append mode, awaits it, and in a `finally`
    * deletes the checkpoint and restores the caller's confs, whether the
    * query returns or throws. Returns the frame's schema.
    *
    * The confs: `spark.sql.shuffle.partitions` is pinned to the sized
    * count, because a NEW streaming checkpoint pins its state partition
    * count from it at first-batch planning; a query reads its confs from
    * the session clone it takes at start, so they only need to span start
    * → termination, and the caller's batch work over the result runs at
    * the session's normal width. The checkpoint file manager is Spark's
    * FileSystem-based one, so the checkpoint goes through the session's
    * `file:` filesystem ([[graft.core.NioLocalFileSystem]]): `.crc`
    * sidecars are written and no file forks a `chmod`. Spark's default
    * manager for `file:` goes through Hadoop's FileContext, whose local
    * filesystem is a hard-wired RawLocalFileSystem and whose rename forks
    * `readlink`. A warm w14 replay at sf0.1 on 4 cores spends 67–83 ms in
    * state commit this way, `.crc` sidecars included (perfbench fixpoint,
    * traced).
    *
    * `complete` also turns off the no-data micro-batch. Spark runs one extra
    * batch with zero input once the watermark advances, to evict state and
    * emit what the watermark closed. In complete mode an aggregate keeps all
    * of its state and re-emits its whole table every batch, so that batch
    * can only evict upstream state (w14's dedup ids) and re-emit an
    * unchanged table: pure cost (CHANGES.md has the traced w14 figures).
    * Append-mode replays must keep it: there it emits the windows the
    * watermark closes, which no data batch of a bounded replay ever would.
    *
    * The checkpoint is RAM-backed when the host has /dev/shm, else under
    * java.io.tmpdir. A replay is ephemeral by construction (bounded input,
    * the checkpoint is discarded the moment the query terminates, and no
    * replay ever restarts from it), so it needs none of the durability a
    * production job's does, and RAM keeps its many small files off the
    * disk (BASELINE.md "w10_stream_hourly: profiled anatomy" charges the
    * disk a fixed cost per state partition per batch). For the same reason
    * a foreachBatch sink loses nothing against a file sink here: its
    * exactly-once log guards restarts, and task retries are still covered
    * by the parquet commit protocol. Production jobs keep durable
    * checkpoints; match durability to what the artifact needs. */
  private def run(spark: SparkSession, parquetPath: String, complete: Boolean)(
      build: => DataFrame)(sink: (Dataset[Row], Long) => Unit): StructType = {
    val parts = streamShuffleParts(spark, parquetPath)
    val df = build
    val confs = Seq(
      "spark.sql.shuffle.partitions" -> parts.toString,
      CheckpointManagerKey -> classOf[FileSystemBasedCheckpointFileManager].getName) ++
      (if (complete) Seq(NoDataBatchesKey -> "false") else Nil)
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    val ckpt = checkpointDir()
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      df.writeStream
        .queryName("replay_" + UUID.randomUUID().toString.replace("-", ""))
        .option("checkpointLocation", ckpt.getPath)
        .outputMode(if (complete) "complete" else "append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch(sink)
        .start()
        .awaitTermination()
    } finally {
      graft.ops.Staged.deleteRecursively(ckpt)
      prev.foreach { case (k, p) => p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    df.schema
  }

  /** A fresh replay checkpoint dir: under /dev/shm when it is writable, else
    * under java.io.tmpdir (see [[run]]). */
  private def checkpointDir(): File = {
    val shm = new File("/dev/shm")
    val root = if (shm.isDirectory && shm.canWrite) shm else new File(sys.props("java.io.tmpdir"))
    new File(root, "graft-replay-" + UUID.randomUUID())
  }

  /** Per-replay parquet sink dir under the app's staging root (shutdown-
    * hook cleaned, same lifecycle as the staged indexes). */
  private def sinkDir(spark: SparkSession): String =
    graft.ops.Staged.appRoot(spark) + "/replay-sink-" + UUID.randomUUID().toString.replace("-", "")

  /** Read a replay sink dir back, tolerating the ZERO-OUTPUT case: a
    * replay whose rows are all held back by the final watermark (tiny
    * corpus) or that ran no batch commits no data files, and
    * spark.read.parquet on a data-less dir throws a schema-inference error.
    * `schema` is the transform's output schema: the sink's files were
    * written with it, so a non-empty sink is read with it too, without an
    * inference job, and the empty frame keeps it. */
  private def readSinkOrEmpty(spark: SparkSession, out: String, schema: StructType): DataFrame = {
    val files = new File(out).listFiles()
    val hasData = files != null && files.exists(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    if (hasData) spark.read.schema(schema).parquet(out)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** The bounded source: a file stream over the one parquet file. File-
    * stream sources require a directory, so it streams the parent dir with
    * a glob pinned to the file. Each call of the returned function is an
    * independent stream; all share one schema, which
    * [[graft.core.Tables.parquet]] infers once per file version. */
  private def boundedSource(spark: SparkSession, parquetPath: String): () => DataFrame = {
    val schema = graft.core.Tables.parquet(spark, parquetPath).schema
    val f = new File(parquetPath)
    () => spark.readStream.schema(schema).option("pathGlobFilter", f.getName).parquet(f.getParent)
  }

  /** A replay whose micro-batches the executors write to a fresh parquet
    * dir, read back as a plain frame: a complete-mode batch is the whole
    * result table and overwrites the dir, an append-mode batch adds its
    * emitted rows. */
  private def replayToParquet(spark: SparkSession, parquetPath: String, complete: Boolean)(
      build: => DataFrame): DataFrame = {
    val out = sinkDir(spark)
    val mode = if (complete) "overwrite" else "append"
    val schema = run(spark, parquetPath, complete)(build)((batch, _) => batch.write.mode(mode).parquet(out))
    readSinkOrEmpty(spark, out, schema)
  }

  /** Run a streaming transformation over a bounded parquet source in
    * complete mode and return the final result: the replay harness that
    * lets the correctness gate cover the streaming path with the same
    * oracle as the batch query.
    *
    * DRIVER-COLLECT CONTRACT: the one complete-mode batch is collected on
    * the driver, so this is only for transforms whose complete-mode output
    * is aggregate-BOUNDED at any corpus size (hourly counts ≈ hours span,
    * per-type rollups ≈ type cardinality). A data-proportional output here
    * would funnel through the driver — the sf10 whale killed w11 exactly
    * there (spark.driver.maxResultSize at 10M events, when this collect was
    * a memory sink). Data-proportional complete aggregates use
    * [[replayBoundedLarge]]; data-proportional append emissions use
    * [[replayBoundedAppend]] / [[replayBoundedJoin]].
    *
    * The result is a LOCAL frame over the collected rows, with the
    * transform's schema (nullability included), in one partition. A
    * caller's rollup over it is then one job with no exchange (w14 at
    * sf0.1: 3 jobs → 1, warm rollup 0.12–0.19 s → 0.04–0.05 s). */
  def replayBounded(spark: SparkSession, parquetPath: String,
      transform: DataFrame => DataFrame): DataFrame = {
    var rows = Array.empty[Row]
    val schema = run(spark, parquetPath, complete = true)(
      transform(boundedSource(spark, parquetPath)()))((batch, _) => rows = batch.collect())
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
  }

  /** Complete-mode replay for DATA-PROPORTIONAL aggregates (session
    * windows): each micro-batch's complete result table is overwritten to
    * parquet by the EXECUTORS (the streaming equivalent of maintaining a
    * sink table), so no row ever funnels through the driver; the last
    * batch's overwrite is the final state. Complete mode is what keeps
    * bounded-replay parity with the batch oracle — in append mode the
    * sessions still inside the final watermark horizon would stay in state
    * and never emit. */
  def replayBoundedLarge(spark: SparkSession, parquetPath: String,
      transform: DataFrame => DataFrame): DataFrame =
    replayToParquet(spark, parquetPath, complete = true)(transform(boundedSource(spark, parquetPath)()))

  /** Two-source APPEND-mode replay for stream-stream joins: each side gets
    * its own file stream over the same bounded source (two independent
    * streams, as production would have two topics), sharing one schema
    * inference. The executors append the join's emitted rows to parquet
    * per micro-batch, since join pairs scale with the corpus, and the
    * result is read back as a plain parquet frame. Complete mode is
    * aggregation-only in Spark, so joins need this append variant. */
  def replayBoundedJoin(spark: SparkSession, parquetPath: String,
      transform: (DataFrame, DataFrame) => DataFrame): DataFrame =
    replayToParquet(spark, parquetPath, complete = false) {
      val source = boundedSource(spark, parquetPath)
      transform(source(), source())
    }

  /** Single-source APPEND-mode replay: for stateful operators that emit
    * rows incrementally (flatMapGroupsWithState) rather than maintaining a
    * complete aggregate. Emitted rows are appended to parquet per
    * micro-batch and read back, as in [[replayBoundedJoin]]. */
  def replayBoundedAppend(spark: SparkSession, parquetPath: String,
      transform: DataFrame => DataFrame): DataFrame =
    replayToParquet(spark, parquetPath, complete = false)(transform(boundedSource(spark, parquetPath)()))
}
