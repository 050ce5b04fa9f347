package graft.ops

/** Machine-speed witness shared by every wall-clock-bearing harness
  * (Bench, IsolatedProbe, StreamScaleEvidence).
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

  private def fnvSpin(steps: Long): Long = {
    var h = 1469598103934665603L
    var i = 0L
    while (i < steps) { h = (h ^ i) * 1099511628211L; i += 1 }
    h
  }

  def singleThread(): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      require(fnvSpin(400000000L) != 42L) // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e9
    }.min

  /** One RAW 100M-step sample (~0.12 s quiet), deliberately NOT min-of-n:
    * Bench interleaves these with the suite so the collected profile keeps
    * the noise a best-of probe is designed to dodge. */
  def quickSpin(): Double = {
    val t0 = System.nanoTime()
    require(fnvSpin(100000000L) != 42L)
    (System.nanoTime() - t0) / 1e9
  }

  def multiThread(threads: Int): Double =
    (1 to 3).map { _ =>
      val n = math.max(1, threads)
      val t0 = System.nanoTime()
      val ts = (1 to n).map { _ =>
        new Thread(() => { require(fnvSpin(100000000L) != 42L); () })
      }
      ts.foreach(_.start())
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }.min

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

  private def memArray(): Array[Long] = {
    val a = new Array[Long](MemWords)
    var i = 0
    while (i < MemWords) { a(i) = i.toLong * 0x9E3779B97F4A7C15L; i += 1 }
    a
  }

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
  private def memBandwidth(a: Array[Long]): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      require(memSum(a, 0) != 42L)
      (System.nanoTime() - t0) / 1e9
    }.min

  /** One all-core aggregate-bandwidth sample: `threads` readers stream the
    * same 256 MB array concurrently from STAGGERED offsets (read-only
    * sharing, no extra footprint, distinct stream positions), sec for
    * threads x 2 GB. Co-tenant memory contention shows here first: the
    * bus saturates before per-core ALUs do. */
  private def memSampleMt(threads: Int, a: Array[Long]): Double = {
    val n = math.max(1, threads)
    val t0 = System.nanoTime()
    val ts = (0 until n).map { i =>
      val start = ((i.toLong * MemWords) / n).toInt
      new Thread(() => { require(memSum(a, start) != 42L); () })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Lazily-allocated probe array for the RUN-SPANNING memory samples —
    * allocated once on first use and pinned for the JVM's life (256 MB),
    * so repeated samples measure bandwidth, not allocation+page-fault
    * cost, and don't churn the heap between queries. */
  private lazy val duringArray: Array[Long] = memArray()

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
    (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      var rdd = sc.parallelize(1 to 64, 2)
      var i = 0
      while (i < StageChain) { rdd = rdd.repartition(2); i += 1 }
      require(rdd.count() == 64L)
      (System.nanoTime() - t0) / 1e9
    }.min
}
