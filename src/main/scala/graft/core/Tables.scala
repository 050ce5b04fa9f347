package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Table registry over the driver-provided parquet testdata.
  *
  * All engine queries read through here so that scale-factor directories are
  * interchangeable and per-table quirks (the nanosecond `events` timestamps)
  * are normalized in exactly one place.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Raw parquet scan. Column pruning + predicate pushdown reach the scan
    * because nothing here forces materialization. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = parquet(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeEvents(df) else df
  }

  /** Inference confs read by the parquet schema inference: nanosAsLong maps
    * TIMESTAMP(NANOS) to bigint, binaryAsString and int96AsTimestamp retype
    * BINARY and INT96 columns, inferTimestampNTZ picks TIMESTAMP_NTZ over
    * TIMESTAMP for non-UTC-adjusted timestamps, and mergeSchema decides
    * whether a directory's footers are merged or one is trusted. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** (qualified path, inference confs) -> (file version, inferred schema). */
  private val schemas = scala.collection.concurrent.TrieMap
    .empty[(String, Seq[String]), (Seq[(String, Long, Long)], StructType)]

  /** A parquet read whose schema is inferred once per file version.
    *
    * `spark.read.parquet` infers the schema with a Spark job
    * (`mergeSchemasInParallel`) on every call, even for one file, so a warm
    * query paid one scheduler round-trip per table before its own execution
    * started. Here the inferred schema is cached, and every call reads with
    * `spark.read.schema(s).parquet(path)`: each call still returns a fresh
    * relation with new expression ids, and the schema is the one inference
    * gave, nullability and field metadata included.
    *
    * The cache is keyed on:
    *  - the qualified path, so a relative and an absolute spelling of one
    *    file share an entry and equal paths on two filesystems do not;
    *  - the Hadoop FileStatus length and modification time (of every file
    *    under it, for a directory), so a file rewritten in place is
    *    inferred again; an entry is replaced, not added, when they change;
    *  - the session's [[inferenceConfs]] values, because they change the
    *    inferred column types. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(p)
    val status = fs.getFileStatus(qualified)
    val version =
      if (!status.isDirectory) Seq((qualified.toString, status.getLen, status.getModificationTime))
      else {
        val files = fs.listFiles(qualified, true)
        Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted
      }
    val key = (qualified.toString, inferenceConfs.map(spark.conf.get))
    val schema = schemas.get(key).collect { case (`version`, s) => s }.getOrElse {
      val s = spark.read.parquet(path).schema
      schemas.put(key, (version, s))
      s
    }
    spark.read.schema(schema).parquet(path)
  }

  /** The engine's canonical event-time is `ts_ns`: int64 nanoseconds since
    * the epoch (integer arithmetic on it is bit-reproducible across engines),
    * plus a microsecond-precision `ts` TimestampType column for
    * window/streaming operators. The physical `events.ts` dtype has varied
    * across testdata generations — TIMESTAMP(NANOS) (scanned as int64 under
    * spark.sql.legacy.parquet.nanosAsLong=true) and plain timestamp[us] —
    * so branch on the scanned dtype rather than assuming one. Both paths
    * yield identical `ts_ns` integer values (the data is micro-precision),
    * so every `ts_ns div …` query and DuckDB `epoch_ns(ts)` oracle agrees.
    */
  def normalizeEvents(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ => // TimestampType / TimestampNTZType scan (timestamp[us] parquet)
        // Cast ts itself to TIMESTAMP (identity under the UTC session tz):
        // watermarks (EventTimeWatermark) reject TIMESTAMP_NTZ event time.
        df.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Deterministic synthetic geo points in the reference's NYC bbox
    * (lon ∈ [−74.3,−73.7], lat ∈ [40.5,41.0] — reference
    * 实习一/实习一代码/test.py:55-56), derived from an integer key by pure
    * modular arithmetic so a SQL oracle reproduces the exact doubles.
    * lon = −74.3 + (key·7919 mod 6000)/10⁴, lat = 40.5 + (key·104729 mod 5000)/10⁴.
    */
  /** Spread a fan-out stage across all cores. An explode that multiplies
    * rows ~50× (shingling, n-gram expansion) should run with tasks scaled to
    * cores, not to INPUT splits: a small parquet file arrives as one split,
    * so without this the expensive per-row expansion runs on one thread (at
    * cluster scale the same mismatch appears whenever compact inputs fan out
    * into wide intermediates). The shuffle moves only the compact
    * pre-explode rows. Do NOT apply to a side that relies on scan-level
    * filter pruning — repartition sits above the scan and would force a full
    * read before the filter's own shuffle. */
  def fanout(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  def withSyntheticPoint(df: DataFrame, keyCol: String): DataFrame =
    df.withColumn("lon", lit(-74.3) + pmod(col(keyCol) * lit(7919L), lit(6000L)) / lit(10000.0))
      .withColumn("lat", lit(40.5) + pmod(col(keyCol) * lit(104729L), lit(5000L)) / lit(10000.0))

  /** The same derivation as SQL text, for DuckDB oracles. */
  def syntheticPointSql(keyCol: String): (String, String) = (
    s"-74.3 + (($keyCol * 7919) % 6000) / 10000.0",
    s"40.5 + (($keyCol * 104729) % 5000) / 10000.0")
}
