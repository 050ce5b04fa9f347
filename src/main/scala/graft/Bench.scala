package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.GraftSession
import graft.ops.CpuWitness
import graft.ops.CpuWitness.{sec, spread}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Times the query suite and judges every query against its floor.
  *
  * `graft.Bench` runs the suite (environment variables in the README
  * table). `graft.Bench --isolated <sfDir> <cpus> <name,...>` is the
  * fresh-JVM recheck the suite spawns for its adjusted floor flags; it
  * prints one `ISOLATED {...}` line ([[Isolated]]).
  *
  * The floor judge — parsing BASELINE_floors.json, the raw and adjusted
  * flags, the stale-floor note, the isolated verdict and the floors-file
  * rewrite — is the pure methods below; `main` measures and wires them
  * together. The witness panel and its factor rule live in ops.CpuWitness.
  */
object Bench {
  /** Provenance tag stamped on deliberately-raised floors during a
    * FLOOR_REPIN canonical. Derived from the environment (ADVICE r12: the
    * old hardcoded "repin-r12" would mislabel a repin that finally lands
    * in a later round): SPARK_GRAFT_ROUND=N -> "repin-rN", else a bare
    * date-stamped "repin-<yyyy-mm-dd>" so the vintage is still readable. */
  def repinTag: String =
    sys.env.get("SPARK_GRAFT_ROUND").map(r => s"repin-r$r")
      .getOrElse(s"repin-${java.time.LocalDate.now()}")

  /** Round-13 hardening (VERDICT r12 item 2): the idle pre-probe
    * UNDER-reads load contention (r12 measured pre-gate 0.415 ->
    * run-spanning med 0.483 with 31 adjusted flags), so a repin run that
    * passed the quiet gate can still land in a window that would degrade
    * ~194 floors in one write. Raises therefore apply only when the run's
    * own spanning bandwidth median is at most this (the threshold
    * BASELINE.md's r12 postmortem set); otherwise the run degrades to an
    * ordinary lower-only floor pass. */
  val RepinMaxMemMed = 0.45

  /** `s` as a JSON string literal: quoted, with `"`, `\` and control
    * characters escaped, so a path can't break a JSON parse of the bench
    * line, nor a tab or newline in a query's SQL a parse of Verify's
    * `oracle_sql.json`. */
  def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b.append('\\').append(f"u${c.toInt}%04x")
      case c => b += c
    }
    b.append('"').toString
  }

  private def fmt(m: Map[String, Double]): String = m.toSeq.sortBy(_._1)
    .map { case (k, v) => s"\"" + k + "\":" + sec(v) }.mkString("{", ",", "}")

  /** The run's witness panel (see ops.CpuWitness): the point probes, the
    * raw run-spanning spin and bandwidth samples, and the quiet-gate
    * record (JSON, `null` when the gate is off). */
  final case class Panel(cpuRef: Double, cpuRefMt: Double, memRef: Double,
      memRefMt: Double, stageRef: Double, during: Seq[Double],
      memDuring: Seq[Double], quietGate: String) {
    def memDuringMed: Double = CpuWitness.median(memDuring)
  }

  /** What the `--isolated` child measured: per-query best seconds (-1 =
    * failed), its own cpu_ref and stage_ref taken after its warm runs,
    * and its raw run-spanning bandwidth samples. */
  final case class Isolated(times: Map[String, Double], cpuRef: Double,
      stageRef: Double, memDuring: Seq[Double]) {
    /** The child's one stdout line. */
    def line: String =
      s"""ISOLATED {"times":${fmt(times)},"cpu_ref":${sec(cpuRef)},"stage_ref":${sec(stageRef)},""" +
        s""""mem_during":${memDuring.map(sec).mkString("[", ",", "]")}}"""
  }

  object Isolated {
    /** No child ran, or its line was lost: every reading is -1. */
    val none: Isolated = Isolated(Map.empty, -1.0, -1.0, Nil)

    /** The reply in a child's stdout, if it printed one. */
    def parse(stdout: String): Option[Isolated] =
      stdout.linesIterator.find(_.startsWith("ISOLATED ")).map { l =>
        val n = new ObjectMapper().readTree(l.stripPrefix("ISOLATED "))
        Isolated(
          n.get("times").properties().asScala.map(e => e.getKey -> e.getValue.asDouble).toMap,
          n.get("cpu_ref").asDouble, n.get("stage_ref").asDouble,
          n.get("mem_during").asScala.map(_.asDouble).toVector)
      }
  }

  // ---- floor judge ----
  //
  // Floor protocol (BASELINE_floors.json): per-query best-ever minimum at
  // the canonical bench point (sf0.1, reps>=3). Any query >1.5x its floor
  // (with a 0.2 s absolute guard so 60 ms queries can't flag on jitter) is
  // a named regression in the bench tail; any NEW minimum rewrites the
  // floor file so the record stays machine-readable round over round.

  /** BASELINE_floors.json, parsed: each query's floor seconds, and its raw
    * row text (one row per line by construction). The row carries
    * whatever provenance it holds — source, date, and since round 11 the
    * set-time witness panel "w" — so a rewrite for one query's new
    * minimum reuses every OTHER row verbatim instead of re-synthesizing. */
  final case class Floors(sec: Map[String, Double], rows: Map[String, String]) {
    /** Set-time bandwidth reading ("w": {... "mem_during_med": N}), when
      * the row carries one. */
    def setMemMed(q: String): Option[Double] =
      rows.get(q).flatMap(row =>
        FloorMemMedRx.findFirstMatchIn(row).map(_.group(1).toDouble))
  }

  private val FloorSecRx = """"([A-Za-z0-9_]+)":\s*\{\s*"sec":\s*([0-9.Ee+-]+)""".r
  private val FloorRowRx = """^\s*"([A-Za-z0-9_]+)":\s*(\{.*\}),?\s*$""".r
  private val FloorMemMedRx = """"mem_during_med":\s*([0-9.Ee+-]+)""".r

  def parseFloors(text: String): Floors = Floors(
    FloorSecRx.findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toDouble).toMap,
    text.linesIterator.collect { case FloorRowRx(q, row) => q -> row }.toMap)

  /** One floor flag: this run's minimum `sec` for `query` against its `floor`. */
  final case class Flag(query: String, sec: Double, floor: Double)

  /** The flag rule with the threshold scaled by `factor`: slower than
    * 1.5x the floor AND by more than 0.2 s. */
  def exceeds(sec: Double, floor: Double, factor: Double): Boolean =
    sec > floor * 1.5 * factor && sec > floor * factor + 0.2

  /** Raw flags (factor 1), worst ratio first. */
  def rawFlags(results: Map[String, Double], floors: Floors): Seq[Flag] =
    results.toSeq.collect {
      case (q, v) if v >= 0.0 && floors.sec.get(q).exists(exceeds(v, _, 1.0)) =>
        Flag(q, v, floors.sec(q))
    }.sortBy(f => f.floor / f.sec)

  /** Machine-speed-adjusted flags: the raw flags that still exceed their
    * floor once the threshold scales by the witnessed slowdown
    * ([[CpuWitness.factor]]) — those are real, the rest host noise. */
  def adjustedFlags(raw: Seq[Flag], cpuRef: Double, stageRef: Double): Seq[Flag] =
    raw.filter(f => exceeds(f.sec, f.floor, CpuWitness.factor(f.query, cpuRef, stageRef)))

  /** Marks a flag whose floor was set in a quieter bandwidth window than
    * this run's (VERDICT r10 item 4 — the g3/g3b class: floors no current
    * host state reproduces): this run's spanning median exceeds the
    * row's set-time `mem_during_med` by more than 1.2x. */
  def staleNote(q: String, floors: Floors, runMemMed: Double): String =
    floors.setMemMed(q) match {
      case Some(setMed) if runMemMed > 0 && runMemMed > setMed * 1.2 =>
        f" [stale-floor-candidate: floor set at mem_during_med $setMed%.3f, this run $runMemMed%.3f]"
      case _ => ""
    }

  /** A raw flag's stderr line. It cites the floor's row (VERDICT r10 item
    * 4): the reader adjudicating it needs to know WHEN and under WHAT
    * witness panel the floor was set without opening the floors file. */
  def flagLine(f: Flag, floors: Floors, runMemMed: Double): String = {
    val prov = floors.rows.get(f.query).map(row => s" floor-row=$row").getOrElse("")
    f"[bench] FLOOR-REGRESSION ${f.query}: ${f.sec}%.3f s vs floor ${f.floor}%.3f s (${f.sec / f.floor}%.2fx)$prov${staleNote(f.query, floors, runMemMed)}"
  }

  def adjustedLine(f: Flag, factor: Double): String =
    f"[bench] FLOOR-REGRESSION-ADJ ${f.query}: ${f.sec}%.3f s vs floor ${f.floor}%.3f s x factor $factor%.2f"

  /** Isolated ≈ floor ⇒ suite-position effect, not a code regression;
    * isolated still >1.5x floor (factor-scaled) ⇒ real, or the whole
    * host window; -1 ⇒ the child failed the query. */
  def verdict(isolated: Double, floor: Double, factor: Double): String =
    if (isolated < 0) "probe-failed"
    else if (!floor.isNaN && isolated <= floor * 1.5 * factor + 0.2) "suite-position"
    else "persists-isolated"

  /** One ISOLATED-RECHECK stderr line per rechecked query, by name. The
    * verdicts read against the PROBE-TIME readings: the child's own
    * cpu_ref and stage_ref when it reported them (the recheck runs after
    * the whole suite, possibly in another host window), else this run's. */
  def recheckLines(iso: Isolated, results: Map[String, Double], floors: Floors,
      cpuRef: Double, stageRef: Double): Seq[String] = {
    val probeCpu = if (iso.cpuRef > 0) iso.cpuRef else cpuRef
    val probeStage = if (iso.stageRef > 0) iso.stageRef else stageRef
    iso.times.toSeq.sortBy(_._1).map { case (q, iv) =>
      val suiteV = results.getOrElse(q, -1.0)
      val fl = floors.sec.getOrElse(q, Double.NaN)
      val pf = CpuWitness.factor(q, probeCpu, probeStage)
      f"[bench] ISOLATED-RECHECK $q: suite $suiteV%.3f s -> isolated $iv%.3f s vs floor $fl%.3f s x probe-factor $pf%.2f [${verdict(iv, fl, pf)}]"
    }
  }

  /** Whether a requested repin may raise floors: only when the run has
    * spanning bandwidth samples and their median is at most
    * [[RepinMaxMemMed]]. */
  def repinApplies(requested: Boolean, runMemMed: Double): Boolean =
    requested && runMemMed > 0 && runMemMed <= RepinMaxMemMed

  /** Floors this run sets: every ok reading under a repin, else only new
    * minima. */
  def newFloors(results: Map[String, Double], floors: Floors, repin: Boolean): Map[String, Double] =
    results.filter { case (q, v) => v >= 0.0 && (repin || floors.sec.get(q).forall(v < _)) }

  /** The rewritten floors file. Every new row carries the set-time witness
    * panel (VERDICT r10 item 4): floors are only comparable to later runs
    * through the host window they were set in. A raise under a repin is
    * sourced `tag`, a lower `bench`. Rows whose floor did not move are
    * reused verbatim. */
  def floorsText(floors: Floors, fresh: Map[String, Double], repin: Boolean,
      panel: Panel, sfDir: String, today: String, tag: String): String = {
    val w = s"""{"cpu_ref": ${sec(panel.cpuRef)}, "mem_ref_mt": ${sec(panel.memRefMt)}, "stage_ref": ${sec(panel.stageRef)}, "mem_during_med": ${sec(panel.memDuringMed)}}"""
    val rows = (floors.sec.keySet ++ fresh.keySet).toSeq.sorted.map { q =>
      fresh.get(q) match {
        case Some(v) =>
          val src = if (repin && floors.sec.get(q).exists(v >= _)) tag else "bench"
          f""" "$q": {"sec": $v%.3f, "source": "$src", "date": "$today", "w": $w}"""
        case None =>
          floors.rows.get(q).map(row => s""" "$q": $row""").getOrElse(
            f""" "$q": {"sec": ${floors.sec(q)}%.3f, "source": "prior", "date": "$today"}""")
      }
    }
    Seq("{", s""" "sf": ${jsonString(sfDir)},""",
      """ "note": "per-query minimum wall-clock (sec) ever recorded at sf0.1 local[32], reps>=3; Bench flags any run >1.5x its floor and rewrites this file when a new floor is set; *-trade sources mark deliberate floor resets for documented scale-robustness costs",""",
      s""" "updated": "$today",""", """ "floors": {""", rows.mkString(",\n"), " }", "}")
      .mkString("", "\n", "\n")
  }

  /** The bench line: run totals, flag counts and the witness panel as one
    * JSON object. `queries` is the per-query map (headline subset or
    * full); `extra` fields follow (task_metrics on the detail line). */
  def benchLine(queries: String, sfDir: String, reps: Int, cpus: Int, master: String,
      results: Map[String, Double], flags: Int, adjustedFlags: Int, panel: Panel,
      iso: Isolated, extra: (String, String)*): String = {
    // Totals exclude error sentinels (-1) so a broken query can't deflate
    // the wall-clock figure; errors makes the exclusion visible downstream.
    val ok = results.values.filter(_ >= 0.0)
    (Seq(
      "metric" -> jsonString("total"), "value" -> sec(ok.sum), "unit" -> jsonString("sec"),
      "queries" -> queries, "sf" -> jsonString(sfDir), "reps" -> reps.toString,
      "cpus" -> cpus.toString, "master" -> jsonString(master),
      "errors" -> (results.size - ok.size).toString, "floor_regressions" -> flags.toString,
      "floor_regressions_cpu_adj" -> adjustedFlags.toString,
      "isolated_recheck" -> fmt(iso.times), "cpu_ref_sec" -> sec(panel.cpuRef),
      "cpu_ref_mt_sec" -> sec(panel.cpuRefMt), "mem_ref_sec" -> sec(panel.memRef),
      "mem_ref_mt_sec" -> sec(panel.memRefMt), "stage_ref_sec" -> sec(panel.stageRef),
      "isolated_stage_ref_sec" -> sec(iso.stageRef),
      "isolated_cpu_ref_sec" -> sec(iso.cpuRef),
      // The interleaved spin samples scaled x4 to the 400M-step cpu_ref_sec
      // unit so all witness numbers read on one scale; the bandwidth
      // samples are already on the mem_ref_mt scale.
      "cpu_ref_during" -> spread(panel.during.map(_ * 4.0)),
      "mem_ref_during" -> spread(panel.memDuring),
      "isolated_mem_ref_during" -> spread(iso.memDuring),
      "quiet_gate" -> panel.quietGate) ++ extra)
      .map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
  }

  // ---- measurement ----

  /** One untimed run of each of `names` at the smallest scale factor next
    * to `sfDir` (sf0.001), else at `sfDir`; failures are ignored. JIT +
    * whole-stage-codegen compilation is per-query-shape, and at local
    * bench scale it dwarfs actual data processing; warmed, the timed runs
    * measure steady-state cost. */
  private def warmUp(spark: SparkSession, names: Seq[String], sfDir: String): Unit = {
    val dir = Option(new java.io.File(sfDir).getParentFile).map(p => s"${p.getPath}/sf0.001")
      .filter(new java.io.File(_).isDirectory).getOrElse(sfDir)
    names.foreach { name =>
      try { SparkEntry.queries(name)(spark, dir).count(); () }
      catch { case _: Throwable => () }
      GraftSession.releaseTransientBlocks(spark)
    }
  }

  /** One timed run of `name` at `dir`: (seconds, succeeded). A failure is
    * printed as `<failed>: <message>` — a silently-swallowed failure
    * would record as a FAST query. The finished query's checkpointed
    * result/state blocks are dead and are swept here: left to GC +
    * ContextCleaner they evict execution memory at unpredictable suite
    * positions (measured: same query 12 s or 60 s by position). */
  private def timedRun(spark: SparkSession, name: String, dir: String,
      failed: => String): (Double, Boolean) = {
    val t0 = System.nanoTime()
    val ok =
      try { SparkEntry.queries(name)(spark, dir).count(); true }
      catch { case e: Throwable => System.err.println(s"$failed: ${e.getMessage}"); false }
    val dt = (System.nanoTime() - t0) / 1e9
    GraftSession.releaseTransientBlocks(spark)
    (dt, ok)
  }

  def main(args: Array[String]): Unit = args match {
    case Array("--isolated", sfDir, cpus, names) =>
      isolated(sfDir, cpus.toInt, names.split(',').toSeq.filter(SparkEntry.queries.contains))
    case Array() => suite()
    case _ => throw new IllegalArgumentException(
      s"usage: graft.Bench [--isolated <sfDir> <cpus> <name,...>], got ${args.mkString(" ")}")
  }

  /** The fresh-JVM recheck child. A full-suite run carries ~190 queries'
    * checkpointed state, block churn and GC history; BASELINE.md documents
    * a contention class LOCKED to suite position (round 3: d3/d4/d5; round
    * 6: v7 read 31.5 s in all three suite reps vs 2.5 s isolated, same
    * commit), and only a fresh JVM in the SAME host window can split that
    * from a regression. Per query: one UNTIMED warm run at the smallest
    * scale factor (without it, iterative many-stage queries read their
    * compile time as "persisting" inflation: first outing measured g2_sssp
    * at 4.9 s isolated vs 2.0 s in-suite), then two timed runs, min
    * reported. One raw all-core bandwidth sample before the warm loop, one
    * after each query, so a "persists-isolated" verdict on a
    * bandwidth-sensitive query reads against the contention the child saw
    * across its run (round 9: start-time probes read quiet while
    * same-hour probes read 2x). */
  private def isolated(sfDir: String, cpus: Int, names: Seq[String]): Unit = {
    val spark = GraftSession.local(cpus)
    val memDuring = scala.collection.mutable.ArrayBuffer(CpuWitness.quickMemSpinMt(cpus))
    warmUp(spark, names, sfDir)
    // The child's own witnesses, after the warm loop so scheduler-path JIT
    // doesn't read as host latency.
    val stageRef = CpuWitness.stageLatency(spark.sparkContext)
    val cpuRef = CpuWitness.singleThread()
    val times = names.map { name =>
      val ok = (1 to 2).map(_ => timedRun(spark, name, sfDir, s"[isolated] $name FAILED"))
        .collect { case (dt, true) => dt }
      memDuring += CpuWitness.quickMemSpinMt(cpus)
      name -> (if (ok.nonEmpty) ok.min else -1.0)
    }.toMap
    println(Isolated(times, cpuRef, stageRef, memDuring.toVector).line)
    spark.stop()
  }

  /** In-run isolated recheck (round-7 protocol): re-probe `names` once
    * more in a fresh JVM with this JVM's flags and classpath, so the only
    * variables that change are process freshness and suite position. The
    * child's stderr passes through; its stdout goes to a file read once it
    * exits. */
  private def recheck(sfDir: String, cpus: Int, names: Seq[String]): Isolated = {
    System.err.println(s"[bench] isolated recheck of ${names.size} adjusted flags in a fresh JVM")
    val out = java.io.File.createTempFile("bench-isolated", ".out")
    try {
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
        .filterNot(a => a.startsWith("-Xlog") || a.startsWith("-agentlib"))
      val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-cp", System.getProperty("java.class.path"),
        "graft.Bench", "--isolated", sfDir, cpus.toString, names.mkString(","))
      val proc = new ProcessBuilder(cmd: _*).redirectOutput(out)
        .redirectError(ProcessBuilder.Redirect.INHERIT).start()
      val done = proc.waitFor(20, java.util.concurrent.TimeUnit.MINUTES)
      if (!done) { proc.destroyForcibly(); System.err.println("[bench] isolated recheck TIMED OUT") }
      // A child that dies immediately (OOM; java.class.path = the sbt
      // launcher jar when Bench runs un-forked) would otherwise produce an
      // empty recheck indistinguishable from "nothing to report".
      else if (proc.exitValue() != 0)
        System.err.println(s"[bench] isolated recheck exited ${proc.exitValue()}")
      val reply = Isolated.parse(new String(
        java.nio.file.Files.readAllBytes(out.toPath), java.nio.charset.StandardCharsets.UTF_8))
      if (reply.isEmpty)
        System.err.println(s"[bench] isolated recheck produced no ISOLATED line (done=$done) " +
          "— probe output lost, flags stand unadjudicated")
      reply.getOrElse(Isolated.none)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] isolated recheck failed: ${e.getMessage}")
      Isolated.none
    } finally { out.delete(); () }
  }

  private def suite(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.intEnv("SPARK_GRAFT_CPUS", 4, 1, "core count")
    // Minima protocol: same-commit totals vary ~1.6x with VM-host noise
    // (BASELINE.md, rounds 1-3), so a single sample can't distinguish a
    // regression from a noisy neighbor. Each query runs REPS times — as
    // OUTER suite passes, so a minutes-long noise burst can't hit all reps
    // of one query — and the report carries the per-query MINIMUM, the
    // noise-floor estimate BASELINE.md's protocol compares.
    val reps = GraftSession.intEnv("SPARK_GRAFT_BENCH_REPS", 3, 1, "rep count")
    val quietGateSec = GraftSession.intEnv("SPARK_GRAFT_QUIET_GATE_SEC", 0, 0, "seconds")
    // Machine-speed witness: a fixed single-thread integer-hash spin (400M
    // FNV-1a steps), min of 3. Floors are only comparable across runs if
    // the host ran at comparable speed, and VM-host noise windows (~1.5x,
    // measured round 6: 21 unrelated queries flagged together, isolated
    // reruns reproduced the inflation on an idle machine) are otherwise
    // indistinguishable from real regressions. cpu_ref_sec in the bench
    // line makes the window provable: compare against the quiet-window
    // reference recorded in BASELINE.md before reading any floor flag.
    val cpuRef: Double = CpuWitness.singleThread()
    // Parallel companion: separates frequency cuts from CPU-steal — see
    // ops.CpuWitness.
    val cpuRefMt: Double = CpuWitness.multiThread(cpus)
    // Memory-bandwidth companions: the 2026-08-14 window proved the
    // register-only spin blind to memory-contention inflation (cpu_ref
    // FASTER than the floor-setting run while the suite ran 1.23x slow);
    // a streaming pass over 256 MB sees that component — see ops.CpuWitness.
    // One shared probe array (memWitness): startup probes and the
    // run-spanning during-samples all read the single pinned 256 MB
    // duringArray, so the witness footprint is one array for the JVM's
    // life — comparable to the pre-r10 floor-setting runs (ADVICE r10).
    val (memRef: Double, memRefMt: Double) = CpuWitness.memWitness(cpus)
    if (memRefMt > CpuWitness.QuietMemRefMt * 1.5)
      System.err.println(f"[bench] memory-contention window: mem_ref_mt $memRefMt%.3f vs quiet ${CpuWitness.QuietMemRefMt}%.3f " +
        "— the register-spin hostFactor cannot see this class; treat floor flags as suspect")
    val spark = GraftSession.local(cpus)

    // Per-stage TaskMetrics collector (round-11, VERDICT r10 item 2): the
    // a22 decade-3 probe left a +55% over-linear excess it could not split
    // between sort-spill and page-cache pressure "without INFO-level logs"
    // — but TaskMetrics carries exactly that split (memoryBytesSpilled /
    // diskBytesSpilled) without any log parsing. Rows carry the stage
    // SUBMISSION time (the listener bus runs seconds behind under load, and
    // wall-window attribution by arrival time misattributes late events),
    // and attribution happens once at END of run so stragglers land first.
    // Emitted as "task_metrics" in the DETAIL files only — per-query bytes
    // for the rep that set the reported minimum.
    // Each row: submission time, then one value per metricKeys entry.
    val metricKeys = Seq("task_ms", "gc_ms", "spill_mem_bytes", "spill_disk_bytes",
      "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes")
    val stageRows = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          ev: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo; val m = si.taskMetrics
        stageRows.synchronized {
          stageRows += si.submissionTime.getOrElse(0L) -> Seq(m.executorRunTime, m.jvmGCTime,
            m.memoryBytesSpilled, m.diskBytesSpilled, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead)
        }
      }
    })
    // Wall-clock window [startMs, endMs] of each query's BEST rep — the
    // rep whose time the minima map reports, so the emitted task metrics
    // describe the floor-comparable execution, not an average.
    val bestWindow = scala.collection.mutable.Map.empty[String, (Long, Long)]

    // Warming the headline set covers the shared plan shapes (scan, agg,
    // join, window, explode) without paying a full second suite run.
    // Optional regex filter (dev iteration: time one family without the
    // full suite). The driver runs unfiltered.
    val nameFilter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").map(_.r)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => nameFilter.forall(_.findFirstIn(n).isDefined))
    warmUp(spark, SparkEntry.headline, sfDir)

    // Per-stage scheduler-latency witness — the third blind spot after
    // frequency (cpu_ref) and memory bandwidth (mem_ref): fixture-sized
    // fixpoint queries are ~stages x driver-round-trip, and that latency
    // measured 29-52 ms/stage across same-day sessions with BOTH other
    // witnesses quiet (the graph-family flags in the 195.6 s canonical
    // run). Probed after the warm pass so scheduler-path JIT doesn't read
    // as host latency. See ops.CpuWitness.stageLatency.
    val stageRef: Double = CpuWitness.stageLatency(spark.sparkContext)

    // Quiet-gated start (round-11, VERDICT r10 item 5): the round-10
    // same-HEAD calibration pair (235.9 s bursty vs 182.2 s one hour later)
    // proved the cheapest flag adjudicator is simply STARTING the record
    // run when the bandwidth witness reads quiet. With
    // SPARK_GRAFT_QUIET_GATE_SEC=N the timed suite waits (bounded by N
    // seconds) until the median of the last 3 all-core bandwidth samples
    // drops under 1.2x the pinned quiet reference, then records the
    // pre-run panel either way — "quiet_start":true in the bench line
    // means floor comparisons need no post-hoc window argument.
    val quietGateJson: String =
      if (quietGateSec <= 0) "null"
      else {
        val thresh = CpuWitness.QuietMemRefMt * 1.2
        val gateT0 = System.nanoTime()
        def waited = (System.nanoTime() - gateT0) / 1e9
        val recent = scala.collection.mutable.Queue(CpuWitness.quickMemSpinMt(cpus))
        def med = CpuWitness.median(recent.toSeq)
        def quiet = recent.size >= 3 && med < thresh
        while (!quiet && waited < quietGateSec) {
          Thread.sleep(math.min(20000L, math.max(1000L, (quietGateSec - waited).toLong * 1000L)))
          recent.enqueue(CpuWitness.quickMemSpinMt(cpus))
          if (recent.size > 3) { recent.dequeue(); () }
        }
        val waitedSec = waited
        if (!quiet)
          System.err.println(f"[bench] quiet gate TIMED OUT after $waitedSec%.0f s (med $med%.3f vs threshold $thresh%.3f) — starting anyway")
        f"""{"threshold":$thresh%.3f,"waited_sec":$waitedSec%.1f,"start_med":$med%.3f,"quiet_start":$quiet}"""
      }

    // Run-spanning witness: the upfront probes are 1.5 s point samples a
    // bursty noise window dodges (measured 2026-08-14: all four witnesses
    // healthy — cpu 0.50/0.15, mem 0.31/0.38 — while the suite ran 1.23x
    // slow with per-query swings of 1.4-2.8x across same-hour probes). A
    // quick 100M-step spin every 48 queries spans the whole run; its
    // min/median/max profile separates steady-slow (all three shifted)
    // from bursty (max >> min) from quiet (all at reference).
    val duringSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    // Run-spanning MEMORY companion (round-10, VERDICT r9 item 2): the
    // round-9 five-flag adjudication hinged on "hours-long bandwidth
    // window vs regression", and mem_ref_mt is a point probe a bursty
    // window dodges (measured 2026-08-15: same-hour probes 0.34 vs 0.66).
    // One raw all-core sample at the same cadence as the cpu spin; the
    // spread is reported as mem_ref_during. Cost ~0.4 s/sample x ~16
    // samples per canonical run, all landing OUTSIDE timed query windows.
    val memDuringSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    def sampleDuring(): Unit = {
      duringSamples += CpuWitness.quickSpin()
      memDuringSamples += CpuWitness.quickMemSpinMt(cpus)
    }
    val minima = scala.collection.mutable.Map.empty[String, Double]
    for (rep <- 1 to reps) {
      sampleDuring()
      names.zipWithIndex.foreach { case (name, i) =>
        val startMs = System.currentTimeMillis()
        val (dt, ok) = timedRun(spark, name, sfDir, s"[bench] $name FAILED (rep $rep)")
        // A failed run must never lower the min; if a query fails in every
        // rep it reports -1 so the driver sees the failure, not a fast time.
        val sample = if (ok) dt else Double.MaxValue
        if (sample < minima.getOrElse(name, Double.MaxValue))
          bestWindow(name) = (startMs, System.currentTimeMillis())
        minima(name) = math.min(minima.getOrElse(name, Double.MaxValue), sample)
        // Periodic GC still reaps broadcast blocks (not in getPersistentRDDs);
        // every 8 queries bounds the ~0.3 s/GC overhead across the suite.
        // ALSO after any heavy query (>5 s): on an oversized heap the JVM
        // may never collect on its own, so per-execution state (broadcast
        // pieces, shuffle registrations — ContextCleaner triggers off GC)
        // accumulates and progressively degrades memory-bound stages.
        // Measured at the sf10 corpus (round 9, a16_group_deciles, fresh
        // JVM, 80g heap): reps WITHOUT inter-rep GC 44→75→116 s; WITH it
        // 33.8→30.9→29.5 s. The count-based cadence alone never fires in a
        // filtered run of <8 queries — exactly how whale warm re-probes
        // run. GC lands OUTSIDE the timed windows either way.
        if (i % 8 == 7 || dt > 5.0) System.gc()
        if (i % 48 == 47) sampleDuring()
      }
    }
    sampleDuring()
    val results = minima.view
      .mapValues(v => if (v == Double.MaxValue) -1.0 else v).toMap
    val panel = Panel(cpuRef, cpuRefMt, memRef, memRefMt, stageRef,
      duringSamples.toVector, memDuringSamples.toVector, quietGateJson)
    val runMemMed = panel.memDuringMed
    // Attribute stage rows to each query's best-rep window. One drain pause
    // first: listener events post asynchronously, and with submission-time
    // keying a straggler is at worst a missing row, never a misattributed
    // one.
    Thread.sleep(2000)
    val taskMetricsJson: String = {
      val rows = bestWindow.toSeq.sortBy(_._1).map { case (name, (s, e)) =>
        val mine = stageRows.synchronized {
          stageRows.collect { case (t, v) if t >= s && t <= e => v }.toVector
        }
        (metricKeys.indices.map(i => s""""${metricKeys(i)}":${mine.map(_(i)).sum}""") :+
          s""""stages":${mine.size}""").mkString(s""""$name":{""", ",", "}")
      }
      rows.mkString("{", ",", "}")
    }

    val floorsPath = "BASELINE_floors.json"
    // Normalized-basename predicate, shared with the detail-file routing: a
    // trailing-slash path (/testdata/sf0.1/) or a merely-suffixed dir
    // (mysf0.1) must not read as the canonical point.
    val isCanonicalSf = new java.io.File(sfDir).getName == "sf0.1"
    val atCanonicalPoint = isCanonicalSf && reps >= 3 &&
      nameFilter.isEmpty
    val floors: Floors = parseFloors(
      if (new java.io.File(floorsPath).isFile) {
        // Explicit UTF-8: the JVM default charset under a POSIX locale is
        // US-ASCII, and a floor-row provenance note containing any
        // non-ASCII character would otherwise kill the run AFTER the suite
        // finished (r13: a 24-minute canonical died at this read on an
        // em-dash in a stale-floor note).
        val txt = scala.io.Source.fromFile(floorsPath)(scala.io.Codec.UTF8)
        try txt.mkString finally txt.close()
      } else "")
    val regressions =
      if (atCanonicalPoint && floors.sec.nonEmpty) rawFlags(results, floors)
      else Seq.empty
    regressions.foreach(f => System.err.println(flagLine(f, floors, runMemMed)))
    val adjRegressions = adjustedFlags(regressions, cpuRef, stageRef)
    val hostFactor = CpuWitness.cpuFactor(cpuRef)
    val stageFactor = CpuWitness.stageFactor(stageRef)
    if (hostFactor > 1.05 || stageFactor > 1.05)
      System.err.println(f"[bench] host factors: cpu ${hostFactor}%.2fx (cpu_ref ${cpuRef}%.3f vs ${CpuWitness.QuietCpuRef}%.3f), " +
        f"stage ${stageFactor}%.2fx (stage_ref ${stageRef}%.3f vs ${CpuWitness.QuietStageRef}%.3f); " +
        s"${adjRegressions.size} of ${regressions.size} floor flags survive normalization")
    adjRegressions.foreach { f =>
      System.err.println(adjustedLine(f, CpuWitness.factor(f.query, cpuRef, stageRef)))
    }
    val iso =
      if (adjRegressions.nonEmpty && atCanonicalPoint)
        recheck(sfDir, cpus, adjRegressions.map(_.query).sorted)
      else Isolated.none
    recheckLines(iso, results, floors, cpuRef, stageRef).foreach(System.err.println)
    if (atCanonicalPoint) {
      // SPARK_GRAFT_FLOOR_REPIN=1 (round-12 protocol, VERDICT r11 item 7):
      // restamp EVERY floor at this run's reading, with the set-time
      // witness panel — including floors this run reads ABOVE. The ~180
      // floors set before 2026-08-16 carry no "w" panel and the stale-floor
      // class (g3/g3b/m4b/t14/w15/m2 — commit-level A/B'd as NOT code
      // regressions, both arms 1.5-1.9x floor) can only be retired by a
      // witnessed re-pin. Only meaningful on a quiet-gated canonical run;
      // [[RepinMaxMemMed]] makes it safe to arm unattended: the worst a
      // noisy window can do is record genuine new minima.
      val repinRequested = sys.env.getOrElse("SPARK_GRAFT_FLOOR_REPIN", "0") == "1"
      val repin = repinApplies(repinRequested, runMemMed)
      if (repinRequested && !repin) {
        // Two distinct revert causes deserve distinct diagnoses: a noisy
        // window (med over the gate) vs no run-spanning samples at all
        // (witness panel off → runMemMed = -1), where "-1.000 > 0.45"
        // would misread as a measurement.
        val why =
          if (runMemMed <= 0)
            "no run-spanning mem samples — repin requires the witness panel"
          else
            f"run-spanning mem_ref_during med $runMemMed%.3f > $RepinMaxMemMed%.2f gate (quiet ref ${CpuWitness.QuietMemRefMt}%.3f)"
        System.err.println(s"[bench] FLOOR_REPIN requested but AUTO-REVERTED: $why — keeping lower-only floor semantics for this run")
      }
      val fresh = newFloors(results, floors, repin)
      if (fresh.nonEmpty) {
        val w = new java.io.PrintWriter(floorsPath, "UTF-8")
        try w.print(floorsText(floors, fresh, repin, panel, sfDir,
          java.time.LocalDate.now().toString, repinTag))
        finally w.close()
        System.err.println(s"[bench] ${fresh.size} new floors recorded in $floorsPath")
        // ADVICE r12: a repin restamps ~194 floors in one write; make the
        // damage surface auditable in the log — how many floors were
        // RAISED (vs ordinary new minima) and the worst raise.
        if (repin) {
          val raises = fresh.toSeq.flatMap { case (q, v) =>
            floors.sec.get(q).filter(v >= _).map(old => (q, old, v))
          }
          if (raises.nonEmpty) {
            val (wq, wOld, wNew) = raises.maxBy { case (_, o, n) => n / math.max(o, 1e-9) }
            System.err.println(f"[bench] REPIN summary: ${raises.size} floors raised (worst $wq: $wOld%.3f -> $wNew%.3f = ${wNew / math.max(wOld, 1e-9)}%.2fx), ${fresh.size - raises.size} lowered; tag $repinTag, run mem_during_med $runMemMed%.3f")
          } else
            System.err.println(s"[bench] REPIN summary: 0 floors raised, ${fresh.size} lowered")
        }
      }
    }
    // The driver tail-captures stdout: one giant line risks losing its head
    // (round-1 BENCH parsed:null). Keep the parseable line SMALL — total +
    // headline per-query times — and put the full per-query map in a file;
    // emit the line both before and after spark.stop so either capture wins.
    // Filtered dev runs carry their full map so a per-query reading never
    // needs the detail file they deliberately skip — but only while the
    // filter is actually narrow: a broad regex (e.g. '.') would reproduce
    // the oversized-line capture failure the headline subset exists to
    // prevent, so past 30 results the filtered run falls back to the
    // headline subset too.
    val headlineTimes =
      if (nameFilter.isDefined && results.size <= 30) fmt(results)
      else fmt(results.view.filterKeys(SparkEntry.headline.toSet).toMap)
    // cpus/master in the JSON line (round-15, VERDICT r14 item 4 "scaling
    // probe"): the driver's 8-vs-32-core comparison over sub-second
    // stage-latency-bound queries read ≈1 and it concluded (wrongly) that
    // $SPARK_GRAFT_CPUS was ignored — print the effective parallelism so
    // the honoring is falsifiable from the outside.
    val master = spark.sparkContext.master
    // One field list for both lines: the compact line carries the headline
    // times, the detail line the full map plus task_metrics (~190 queries
    // x 8 fields would reproduce the oversized-line capture failure the
    // compact headline subset exists to prevent).
    def line(queries: String, extra: (String, String)*): String =
      benchLine(queries, sfDir, reps, cpus, master, results, regressions.size,
        adjRegressions.size, panel, iso, extra: _*)
    val compact = line(headlineTimes)
    val detail = line(fmt(results), "task_metrics" -> taskMetricsJson)
    // Only unfiltered runs AT THE CANONICAL SF may rewrite the committed
    // canonical detail — a filtered dev run would silently replace the
    // 193-query record with its subset, and an unfiltered run at another
    // scale (the sf1 whale) would replace the sf0.1 reference the whale's
    // own ratios are computed against (it did, 2026-08-14, caught in
    // review). Non-canonical unfiltered runs keep their full detail in a
    // side file.
    // Filtered runs write their full map to a THIRD file: past 30 results
    // the compact line falls back to the headline subset (oversized-line
    // guard), and without a detail file a whale warm re-probe of >30
    // flagged queries would silently lose the per-query times the
    // protocol's step 4 needs. A distinct file, so a warm probe can't
    // clobber the cold pass's non-canonical detail it is compared against.
    val target =
      if (nameFilter.isDefined) "bench_detail_filtered.json"
      else if (isCanonicalSf) "bench_detail.json"
      else "bench_detail_noncanonical.json"
    try {
      val w = new java.io.PrintWriter(target, "UTF-8")
      try w.println(detail) finally w.close()
    } catch { case _: Throwable => () }
    println(compact)
    spark.stop()
    println(compact)
  }
}
