package graft.ops

/** The witness panel: host-state probes, their pinned quiet references,
  * and the one rule that turns readings into a floor-threshold factor.
  * Used by Bench (suite run and its `--isolated` recheck child).
  *
  * VM-host noise windows cut effective CPU speed ~1.5x for hours at a
  * time (BASELINE.md "Machine-speed witness": 21 unrelated queries flagged
  * together at uniform 1.5-1.9x, reproduced on an idle machine, window
  * held 90+ min), so recorded seconds are only comparable across runs
  * whose witness values match. Two spins:
  *
  *  - `singleThread`: 400M FNV-1a steps, min of 3 — the dependent-chain
  *    ALU rate one core sustains (slow window ~0.57, quiet projected
  *    ~0.35-0.40);
  *  - `multiThread(n)`: the same spin on n cores at once (100M steps
  *    each), min of 3 — separates frequency cuts (both values inflate
  *    together; slow window read 0.155 at 32 threads, ~92% per-core
  *    efficiency) from CPU-steal (mt inflates disproportionately).
  *
  * tools/CpuRef.java is the standalone twin (same constants) for probing
  * without a JVM+Spark startup; tools/quietbench.sh gates the canonical
  * bench on it.
  */
object CpuWitness {
  /** Pinned quiet-window witness references (round 7, BASELINE.md "Pinned
    * quiet references"): the OBSERVED floor of each witness across every
    * recorded run, not a projection. The old 0.35-0.40 cpu_ref value was
    * projected from the 1.5x slow-window query ratio and never observed —
    * every reading this host has ever produced, including during the
    * 178.7 s floor-setting run (0.566) and same-code runs at 1.0-1.3x
    * ambient, sits in 0.49-0.57. A 0.40 reference therefore reported
    * hostFactor ~1.25 in NORMAL windows and over-relaxed the adjusted-flag
    * gate by that factor. 0.49 = the minimum credible quiet reading
    * (0.490/0.492/0.498/0.510 across four otherwise-different windows);
    * readings above it indicate genuine frequency/steal degradation.
    * The raw flag count remains the primary signal; the in-run fresh-JVM
    * isolated recheck resolves survivors mechanically. */
  val QuietCpuRef = 0.49

  /** Quiet memory-bandwidth references (same pinning protocol): observed
    * floors mem_ref 0.266 / mem_ref_mt 0.342 over all recorded runs.
    * mem_ref_mt is the gate-worthy one — co-tenant memory contention
    * saturates the bus before per-core ALUs (the 2026-08-14 1.23x window
    * read cpu_ref QUIET while the suite inflated). */
  val QuietMemRef = 0.266
  val QuietMemRefMt = 0.342

  /** Pinned quiet per-stage scheduler-latency reference (round 8; the
    * quiet-refs protocol applied to [[stageLatency]]). Observed band
    * across every recorded reading: 0.516 / 0.536 / 0.550 / 0.666 /
    * 0.668 / 0.699 / 0.718 / 0.748 — the 0.516 floor landed in the round-7
    * closing canonical run with every other witness quiet. Gates the
    * STAGE-LATENCY-BOUND families only (see [[StageLatencyBound]]): their
    * wall-clock is ~stages × driver round-trip (g2 profiled: 46 stages of
    * ~25 ms total executor work), so a 1.4× scheduler-latency window
    * inflates them 1.4× while cpu_ref and mem_ref read quiet — the round-6
    * graph-family false-flag class this reference makes mechanical. */
  val QuietStageRef = 0.516

  /** Queries whose wall-clock is dominated by stage count × per-stage
    * scheduler latency rather than data volume: fixture-graph fixpoint
    * loops (SSSP/isochrone/pagerank/label-prop/k-core — profiled at ~46
    * stages, ~25 ms executor work), the grid-iteration ML pair (m1/m2,
    * profiled anatomies in BASELINE.md), and the micro-batch streaming
    * replays (each AvailableNow batch is a driver round-trip plus state
    * store commit). Their floor flags are adjudicated against stage_ref
    * in addition to cpu_ref; all other queries keep the cpu-only factor
    * so the stage witness can't relax thresholds it has no bearing on. */
  val StageLatencyBound: Set[String] = Set(
    "g2_sssp", "g3_isochrone", "g3b_isochrone_hull", "g8_pagerank",
    "g10_label_prop", "g11_kcore", "m1_dbscan", "m2_knn_elbow",
    "w10_stream_hourly", "w11_stream_sessions", "w12_stream_enriched",
    "w14_stream_dedup", "w15_stream_join", "w21_stream_transitions")

  /** Noise-band gate on the stage factor: QuietStageRef is pinned at the
    * MINIMUM of a 0.516–0.748 quiet band, so a typical quiet host reads a
    * "factor" of up to ~1.45x that would relax the adjusted-flag gate in
    * exactly the historically regression-prone stage-latency families.
    * Only a reading clearly OUTSIDE the quiet band (>1.5x the pinned
    * floor ≈ above the observed 0.748 quiet maximum) counts as a
    * scheduler-latency window; inside the band the stage witness stays
    * informational (printed, not applied). The round-6/7 real windows this
    * factor exists for read 1.8–6.3x — far past the gate. */
  val StageFactorGate = 1.5

  /** Frequency/steal slowdown over the quiet reference, at least 1. */
  def cpuFactor(cpuRef: Double): Double = math.max(1.0, cpuRef / QuietCpuRef)

  /** Scheduler-latency slowdown over the quiet reference, at least 1. */
  def stageFactor(stageRef: Double): Double = math.max(1.0, stageRef / QuietStageRef)

  /** The factor a floor threshold for `query` scales by under these
    * readings. Floors were set in quiet windows, so in a slow window
    * (cpu_ref 0.56+ inflates unrelated queries ~1.5x together) the
    * threshold scales by the witnessed slowdown. The scheduler-latency
    * window class (round 6's graph-family flags: 29→52 ms/stage with cpu
    * AND mem quiet) only touches the [[StageLatencyBound]] families, so
    * only their thresholds take the gated stage factor — the max of the
    * two, since either window class alone fully accounts for the
    * inflation it names. */
  def factor(query: String, cpuRef: Double, stageRef: Double): Double = {
    val stage = stageFactor(stageRef)
    if (StageLatencyBound.contains(query) && stage > StageFactorGate)
      math.max(cpuFactor(cpuRef), stage)
    else cpuFactor(cpuRef)
  }

  /** Seconds as the panel writes them. Locale.ROOT: a comma-decimal
    * default locale would break a JSON parse of the bench line. */
  def sec(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** A run-spanning sample set as `{"min","med","max","n"}` (`null` when
    * empty): min ~ the host's best rate over the run, max the worst burst
    * a query stage may have absorbed, median the typical state. */
  def spread(samples: Seq[Double]): String =
    if (samples.isEmpty) "null"
    else {
      val s = samples.sorted
      s"""{"min":${sec(s.head)},"med":${sec(s(s.size / 2))},"max":${sec(s.last)},"n":${s.size}}"""
    }

  /** Median of a run-spanning sample set, -1 when empty. */
  def median(samples: Seq[Double]): Double =
    if (samples.isEmpty) -1.0 else samples.sorted.apply(samples.size / 2)

  /** Seconds `body` takes. */
  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Best of `n` timings of `body`. */
  private def best(n: Int)(body: => Unit): Double = (1 to n).map(_ => timed(body)).min

  /** Runs `body(i)` for every i below max(1, n), each on its own thread,
    * all at once, and waits for them. */
  private def onThreads(n: Int)(body: Int => Unit): Unit = {
    val ts = (0 until math.max(1, n)).map(i => new Thread(() => body(i)))
    ts.foreach(_.start())
    ts.foreach(_.join())
  }

  private def fnvSpin(steps: Long): Long = {
    var h = 1469598103934665603L
    var i = 0L
    while (i < steps) { h = (h ^ i) * 1099511628211L; i += 1 }
    h
  }

  // Every spin checks its result to defeat dead-code elimination.
  def singleThread(): Double = best(3)(require(fnvSpin(400000000L) != 42L))

  /** One RAW 100M-step sample (~0.12 s quiet), deliberately NOT min-of-n:
    * Bench interleaves these with the suite so the collected profile keeps
    * the noise a best-of probe is designed to dodge. */
  def quickSpin(): Double = timed(require(fnvSpin(100000000L) != 42L))

  def multiThread(threads: Int): Double =
    best(3)(onThreads(threads)(_ => require(fnvSpin(100000000L) != 42L)))

  // ---- memory-bandwidth witness ----
  //
  // The FNV spin runs entirely in registers, so a window whose inflation
  // comes from MEMORY contention is invisible to it — measured 2026-08-14:
  // cpu_ref 0.49 (faster than the floor-setting run's 0.566) while the
  // suite ran 1.23x slow and stage-bound queries swung 1.4-2.8x across
  // probes in the same hour. A streaming pass over an array far larger
  // than L3 is bounded by the memory system and sees exactly that
  // component. 32M longs = 256 MB; 8 sequential sum passes = 2 GB of
  // traffic per sample, min of 3 samples.

  private val MemWords = 1 << 25
  private val MemPasses = 8

  /** One full sequential pass set starting at `start` (wrapping): the
    * stagger matters for the MT probe — threads launched at the same
    * offset ride each other's cache lines (one memory fetch serves all n,
    * measured: 32 threads ≈ 1 thread's wall), so each starts 1/n of the
    * array apart and the streams are genuinely distinct memory traffic. */
  private def memSum(a: Array[Long], start: Int): Long = {
    var s = 0L
    var pass = 0
    while (pass < MemPasses) {
      var c = 0
      var j = start
      while (c < MemWords) {
        s += a(j)
        j += 1; if (j == MemWords) j = 0
        c += 1
      }
      pass += 1
    }
    s
  }

  /** Single-thread streaming-read bandwidth sample (sec for 2 GB), min of 3. */
  private def memBandwidth(a: Array[Long]): Double = best(3)(require(memSum(a, 0) != 42L))

  /** One all-core aggregate-bandwidth sample: `threads` readers stream the
    * same 256 MB array concurrently from STAGGERED offsets (read-only
    * sharing, no extra footprint, distinct stream positions), sec for
    * threads x 2 GB. Co-tenant memory contention shows here first: the
    * bus saturates before per-core ALUs do. */
  private def memSampleMt(threads: Int, a: Array[Long]): Double = {
    val n = math.max(1, threads)
    timed(onThreads(n)(i => require(memSum(a, ((i.toLong * MemWords) / n).toInt) != 42L)))
  }

  /** Lazily-allocated probe array for the RUN-SPANNING memory samples —
    * allocated once on first use and pinned for the JVM's life (256 MB),
    * so repeated samples measure bandwidth, not allocation+page-fault
    * cost, and don't churn the heap between queries. */
  private lazy val duringArray: Array[Long] =
    Array.tabulate(MemWords)(i => i.toLong * 0x9E3779B97F4A7C15L)

  /** One RAW all-core bandwidth sample, deliberately NOT min-of-n — the
    * run-spanning memory witness (round-10; VERDICT r9 item 2). Rationale:
    * mem_ref_mt is a ~1.5 s point probe at run start, and the round-9
    * five-flag class showed contention the point probe undersamples —
    * same-hour probes read 0.34 and 0.66 (2x apart) minutes apart while
    * flagged queries persisted 1.8-2.5x over floor in fresh JVMs whose own
    * start-time probes read QUIET. Bench interleaves these between queries
    * at the cpu_ref_during cadence; the min/med/max profile over the whole
    * run separates steady-contended (all shifted) from bursty (max >> min)
    * from quiet. Unit = the mem_ref_mt scale (sec for threads x 2 GB of
    * staggered streaming reads), directly comparable to QuietMemRefMt. */
  def quickMemSpinMt(threads: Int): Double = memSampleMt(threads, duringArray)

  /** Both bandwidth probes over the SAME pinned 256 MB array the
    * run-spanning during-probe uses (st, mt) — this is the form Bench uses
    * (and the standalone twin tools/CpuRef.java mirrors). One array for
    * the whole JVM, not one per entry point: separate arrays peaked
    * ~512 MB of probe heap at startup, and the r10 during-probe's own
    * array additionally pinned 256 MB ON TOP of the startup witness's —
    * a driver-heap delta vs the runs that set pre-r10 floors (ADVICE
    * r10). Sharing duringArray restores the single-256 MB footprint and
    * makes the startup and during probes measure the same pages. */
  def memWitness(threads: Int): (Double, Double) = {
    val a = duringArray
    (memBandwidth(a), (1 to 3).map(_ => memSampleMt(threads, a)).min)
  }

  // ---- per-stage scheduler-latency witness ----
  //
  // The third host-state component neither spin sees: DRIVER-side stage
  // round-trip latency. Fixpoint-loop queries on fixture-sized inputs (SSSP,
  // isochrone, k-core — ~46 stages of ~25 ms total executor work,
  // BASELINE.md round 7 stage-latency section) have wall-clock = stages x
  // per-stage latency, and that latency varied 29->52 ms/stage across
  // 2026-08-14 sessions while cpu_ref AND mem_ref read quiet — the graph-
  // family floor flags in the 195.6 s canonical run were exactly this. The
  // probe: a chained-shuffle no-op job over a 64-row RDD — RDD API, not
  // DataFrame, so Catalyst's CollapseRepartition can't fold the exchanges
  // away — whose executor work is ~zero, leaving K stage round-trips of pure
  // scheduler cost.

  private val StageChain = 24

  /** Seconds for one (StageChain+1)-stage no-op job, min of 2 (first run
    * inside a warm session; callers wanting a cold-free read warm the
    * scheduler with any prior job). Per-stage latency = value / 25. */
  def stageLatency(sc: org.apache.spark.SparkContext): Double =
    best(2) {
      var rdd = sc.parallelize(1 to 64, 2)
      var i = 0
      while (i < StageChain) { rdd = rdd.repartition(2); i += 1 }
      require(rdd.count() == 64L)
    }
}
