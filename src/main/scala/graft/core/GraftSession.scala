package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's standard configuration.
  *
  * Design notes (100 TB posture):
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  *    replace hand-tuned partition counts when data volume varies by 1000x.
  *  - shuffle.partitions defaults to the local core count here; on a real
  *    cluster this is overridden (AQE coalesces down from a high initial).
  *    The builder never sets AQE's initial width,
  *    `spark.sql.adaptive.coalescePartitions.initialPartitionNum`, so a
  *    `-D` system property of that name reaches the session through
  *    SparkConf's defaults. Round 12 measured 256 as the whale lever at
  *    sf100 (BASELINE.md r12): the d11 pair aggregation kept its 12-stage
  *    plan and partial aggregation, and its 35 GiB sorter spill dropped to
  *    zero at flat wall; with zstd shuffle compression on top AQE
  *    reshaped the plan (12→19 stages, +37% wall). Run one big-shuffle
  *    query per JVM there: the two big stages' files coexist at ~the
  *    box's free disk.
  *  - UTC session timezone everywhere: the reference's America/New_York
  *    localization (reference 实习一/实习一代码/test.py:65) is handled as
  *    explicit conversions, never implicit session state.
  *  - parquet nanosAsLong: the `events` table stores TIMESTAMP(NANOS),
  *    which Spark's parquet reader rejects; we read exact int64 nanos and
  *    derive timestamps explicitly (see Tables.events).
  */
object GraftSession {
  /** An integer of at least `min` read from env var `name` (default
    * `default`; `env` is the process environment outside tests),
    * validated. GraftSession evaluates it from lazy vals, so a bad value
    * fails when a session is actually built, with a message naming the
    * variable, not as an object-initializer ExceptionInInitializerError. */
  private[graft] def intEnv(name: String, default: Int, min: Int, what: String,
      env: collection.Map[String, String] = sys.env): Int = {
    val raw = env.getOrElse(name, default.toString).trim
    scala.util.Try(raw.toInt).toOption.filter(_ >= min).getOrElse(
      throw new IllegalArgumentException(s"$name must be an integer >= $min ($what), got '$raw'"))
  }

  /** SPARK_GRAFT_OFFHEAP_GB (default 16; 0 = disable off-heap — the A/B
    * harness + small-corpus iterative escape hatch, BASELINE.md round 9). */
  private lazy val offHeapGb: Int = intEnv("SPARK_GRAFT_OFFHEAP_GB", 16, 0, "GB count")

  /** Generated classes the codegen cache holds (see [[builder]] for how it
    * was sized). */
  private[graft] val CodegenCacheEntries = 8192

  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Parallelism-first coalescing (the default) is kept deliberately:
      // size-based coalescing (parallelismFirst=false) was measured to
      // serialize the compute-dense stages whose shuffle BYTES understate
      // per-row work — the kNN pair window reads 0.8 MB and runs 13 s of
      // distance math, one task under any size target (m10 4.6→19.2 s,
      // lab3 3.4→16.2 s). The tiny-state iterative rounds it would have
      // helped are stage-count-bound, not task-count-bound (also measured).
      // Reliable-checkpoint mode (cluster jobs with a checkpoint dir set):
      // sweep superseded rounds' checkpoint FILES when their RDDs go out of
      // scope — otherwise every Materialize.cut leaks a directory for the
      // app's lifetime.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Survive long stop-the-world pauses: with a whale-sized heap a single
      // full GC can exceed the 120 s default network timeout, and in local
      // mode a missed-heartbeat "executor removal" is unrecoverable — the
      // round-8 sf10 segment died exactly this way (137 s silent pause →
      // HeartbeatReceiver removed the in-process executor → every later
      // query failed on a stopped SparkContext). Same setting a production
      // cluster with large executors runs with.
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "20s")
      // Off-heap Tungsten execution memory (round-9 finding): on-heap
      // execution pages are 1-64 MB long[] allocations — G1 HUMONGOUS
      // objects that bypass the young gen, fragment the old gen, and stall
      // 30/32 executor threads in HeapMemoryAllocator.allocate under
      // repeated heavy queries (jstack-verified at the sf10 corpus; wall
      // chaos 25→136 s on identical work in one JVM). Off-heap pages make
      // the same reps flat AND faster — d4_simhash sf10: 79/25/136 s
      // on-heap → 30.1/16.2/16.4 s off-heap, task-time −33%. This is the
      // standard large-executor production posture for the same reason.
      // Size via SPARK_GRAFT_OFFHEAP_GB (default 16 — execution-only pool,
      // reserved logically, allocated on demand; the JVM heap budget in
      // SPARK_DRIVER_MEM is unchanged). 0 disables (A/B harness + the
      // small-corpus iterative escape hatch, see BASELINE.md round 9).
      // Parsed ONCE with validation (ADVICE r9): only a non-negative
      // integer is accepted — the old form compared the raw string to "0"
      // for enablement and toInt'd it separately for size, so "00"/"0.5"/
      // junk enabled first and crashed at session build, and a negative
      // value enabled a silently-1g-clamped pool. A bad value now fails
      // loudly at the only place it's read.
      .config("spark.memory.offHeap.enabled", (offHeapGb > 0).toString)
      .config("spark.memory.offHeap.size", math.max(1, offHeapGb) + "g")
      // ObjectHashAggregate fallback threshold (round-14, guide step 4):
      // every TypedImperative aggregation in the engine (the sorted-fold
      // collect_list sites, d4's vote columns, the GK/HLL sketches) carries
      // a BOUNDED per-group buffer — SortedFold buckets cap at 4096 doubles
      // = 32 KB — but the default threshold of 128 in-memory groups flipped
      // any partition with more groups to SORT-based aggregation, a full
      // per-stage sort of the data-proportional input. m4b's per-dim folds
      // (320 (dim,bkt) groups over 1.3M rows × 12 passes) paid exactly
      // that: 12-17 s task time per fold stage, none of it the fold.
      // 4096 groups × 32 KB ≈ 128 MB worst-case per task, inside the
      // off-heap execution budget; partitions beyond it still fall back.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      // Shuffle writer selection (round-14, guide §2.1 "local disk can be
      // the tighter limit"): with reduce-partition counts under the default
      // bypassMergeThreshold (200), every map task used
      // BypassMergeSortShuffleWriter — one FILE per reduce partition, so a
      // 32-task map stage at 32 shuffle partitions paid ~1024 file
      // creates + a merge + deletes per stage. In-process stack sampling
      // on m4b (83 tiny stages) showed FileOutputStream.open +
      // shuffle-file map/unmap/commit as ~40% of ACTIVE task time on this
      // host. Threshold 0 disables the bypass path everywhere, so small
      // shuffles take the serialized (Unsafe) writer: ONE spill file +
      // index per map task regardless of reducer count. Large shuffles
      // already used it. Per-partition-count-independent, results
      // untouched (routing only). The round-15 A/B (OPTIMIZATION_r15.md,
      // BASELINE.md) re-measured the sort tax at sf1 and kept 0.
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      // Codegen reuse across streaming queries. Spark caches generated
      // classes by (context classloader, code), and with artifact isolation
      // on, each streaming query's cloned session runs under a fresh
      // session classloader, so every bounded replay recompiled the same
      // classes: w14 at sf0.1 (perfbench fixpoint, 4 cores, traced)
      // compiled the same 18 classes on every warm replay, 0.52–0.61 s of
      // compile time, while the batch query g2 compiled 0. With isolation
      // off, a warm replay compiles 0 (StreamingSpec pins this through
      // CodegenMetrics). Isolation keeps per-session JARs/files (Spark
      // Connect artifacts) apart; this engine adds none and runs no Spark
      // Connect, so it protects nothing here. Only settable when a session
      // is created.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Generated-class cache size. Spark's default of 100 entries is far
      // below what the suite compiles: Bench's warm-up plus one cold pass
      // of all 196 queries compiles 2,620 distinct classes (sf0.1,
      // local[4]), so with 100 every later pass recompiled ~3,900 of them.
      // 8192 holds the whole suite with room for other core counts' plans;
      // at that size 3 Bench reps ended with ~235 MB of metaspace against
      // ~212 MB at 100 (BASELINE.md, "Warm-session setup"). Static: the
      // cache is sized once per JVM, when codegen is first used.
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // Local Hadoop writes (parquet, staged intermediates, RDD and
      // streaming checkpoints) set file permissions through java.nio
      // instead of forking one `chmod` per file (see NioLocalFileSystem).
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      // The engine's SQL functions and its AQE runtime rule (SingleTaskSort),
      // injected into this session and every session cloned from it.
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)

  def local(cores: Int = 4): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop every persisted/checkpointed RDD's blocks except `keep`.
    *
    * Suite runners (Bench, Verify) call this between queries: each query's
    * materialized result and the iterative ops' final state are
    * `localCheckpoint`ed frames whose blocks otherwise live until a driver
    * full GC lets the ContextCleaner reap them — across a 100+-query suite
    * that accumulation evicts execution memory at unpredictable points
    * (measured: same query 12 s or 60 s depending on suite position).
    * Only safe once the current query is fully evaluated; checkpointed
    * lineage is truncated, so swept frames must never be re-read. */
  def releaseTransientBlocks(spark: SparkSession, keep: Set[Int] = Set.empty): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = false)
    }
}
