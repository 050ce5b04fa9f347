package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkEntry
import graft.core.GraftSession

/** One benchmark JVM: builds a session, runs closed-loop passes over a query
  * list, collects and digests every result, and writes one JSON record per
  * line to `--out`. `perfbench/run.py` launches it and turns the records into
  * metrics; this side only measures.
  *
  * Pass 0 is the cold pass. Warm passes follow while they fit in `--seconds`
  * of warm time (at least `--min-warm`, at most `--max-warm`). Listeners are
  * attached only during the passes named by `--traced`, so untraced passes
  * of the same JVM give the tracing overhead.
  *
  * Usage: Harness --data DIR --cores N --queries q1,q2 --seed S --jvm I
  *   --seconds S --min-warm N --max-warm N [--traced 0,2,5] --launch-ms MS --out FILE
  *   Harness --setup-only --cores N --launch-ms MS --out FILE
  *   Harness --list --out FILE
  *   Harness --dump DIR --data DIR --cores N --queries q1,q2 --out FILE */
object Harness {

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution, aligned with the
    * millisecond epoch times that listener events carry. */
  def nowMs(): Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6

  def main(args: Array[String]): Unit = {
    val out = new Out(arg(args, "--out").getOrElse(sys.error("--out is required")))
    try {
      if (args.contains("--list")) list(out) else run(args, out)
    } finally out.close()
    // Stray non-daemon threads must not keep a finished run alive.
    System.exit(0)
  }

  private def list(out: Out): Unit = {
    val oracle = SparkEntry.oracleSql
    SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
      out.rec("query", "name" -> q, "oracle" -> oracle.getOrElse(q, null))
    }
  }

  private def run(args: Array[String], out: Out): Unit = {
    val data = arg(args, "--data").getOrElse(sys.error("--data is required"))
    val cores = arg(args, "--cores").map(_.toInt).getOrElse(4)
    val queries = arg(args, "--queries").getOrElse("").split(',').filter(_.nonEmpty).toSeq
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(0L)
    val jvm = arg(args, "--jvm").map(_.toInt).getOrElse(0)
    val warmSeconds = arg(args, "--seconds").map(_.toDouble).getOrElse(0.0)
    val minWarm = arg(args, "--min-warm").map(_.toInt).getOrElse(1)
    val maxWarm = arg(args, "--max-warm").map(_.toInt).getOrElse(minWarm)
    val tracedPasses = arg(args, "--traced").getOrElse("").split(',').filter(_.nonEmpty).map(_.toInt).toSet
    val dumpDir = arg(args, "--dump")

    val sessionStart = nowMs()
    val spark = GraftSession.local(cores)
    val ready = nowMs()
    out.rec("setup", "jvm" -> jvm, "launch_ms" -> arg(args, "--launch-ms").map(_.toDouble).getOrElse(sessionStart),
      "session_start_ms" -> sessionStart, "ready_ms" -> ready)

    if (args.contains("--setup-only")) {
      spark.stop()
      return
    }
    val tracer = new Tracer(spark)
    val runner = new Runner(spark, data, out, jvm)

    dumpDir match {
      case Some(dir) =>
        queries.foreach(q => runner.once(q, 0, traced = false, dump = Some(s"$dir/$q")))
      case None =>
        def pass(p: Int, traced: Boolean): Unit = {
          if (traced) tracer.attach() else tracer.detach()
          val order = new scala.util.Random(seed * 1000003L + jvm * 1009L + p).shuffle(queries)
          val t0 = nowMs()
          order.foreach(q => runner.once(q, p, traced, dump = None))
          out.rec("pass", "jvm" -> jvm, "pass" -> p, "traced" -> traced, "start_ms" -> t0, "end_ms" -> nowMs())
          // Listener delivery is asynchronous: let this pass's events arrive
          // before a later pass may detach the listeners.
          if (traced) tracer.settle()
        }
        pass(0, traced = tracedPasses(0))
        // Another warm pass starts only if it is expected to end within
        // --seconds, judged by the previous pass, so small timing changes
        // do not flip the pass count.
        val warmStart = nowMs()
        var lastPassMs = 0.0
        var p = 1
        while (p <= maxWarm && (p <= minWarm || nowMs() - warmStart + lastPassMs <= warmSeconds * 1000)) {
          val t0 = nowMs()
          pass(p, traced = tracedPasses(p))
          lastPassMs = nowMs() - t0
          p += 1
        }
        tracer.detach()
    }
    if (tracedPasses.nonEmpty) tracer.drain(out)
    out.rec("end", "jvm" -> jvm, "vmhwm_kb" -> vmHwmKb(), "end_ms" -> nowMs())
    spark.stop()
  }

  /** Peak resident set size of this JVM, from /proc (0 where unavailable). */
  private def vmHwmKb(): Long = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0L
    else Files.readAllLines(status).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }
      .getOrElse(0L)
  }
}

/** Runs one query execution under its own job groups and records its phases.
  * Untraced executions time `fn` and `collect()` only; traced ones also force
  * planning as a separate phase and read the planner and codegen counters. */
final class Runner(spark: SparkSession, data: String, out: Out, jvm: Int) {
  private val sc = spark.sparkContext
  private var execSeq = 0

  def once(query: String, pass: Int, traced: Boolean, dump: Option[String]): Unit = {
    execSeq += 1
    val exec = s"pb-$jvm-$execSeq"
    Tracer.current = exec
    val cg0 = codegen()
    val t0 = Harness.nowMs()
    var tBuild, tPlan, tCollect = Double.NaN
    var cgBuild, cgPlan, cgCollect = cg0
    var phases = Map.empty[String, Long]
    var rows = 0L
    var digest = ""
    var error = ""
    try {
      sc.setJobGroup(s"$exec:build", query)
      val df = SparkEntry.queries(query)(spark, data)
      tBuild = Harness.nowMs(); cgBuild = codegen()
      if (traced) {
        sc.setJobGroup(s"$exec:plan", query)
        df.queryExecution.executedPlan
      }
      tPlan = Harness.nowMs(); cgPlan = codegen()
      sc.setJobGroup(s"$exec:execute", query)
      val result = df.collect()
      tCollect = Harness.nowMs(); cgCollect = codegen()
      if (traced) phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
      rows = result.length.toLong
      digest = Digest(df.schema.toDDL, result)
      dump.foreach { dir =>
        spark.createDataFrame(java.util.Arrays.asList(result: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(dir)
      }
    } catch {
      case e: Throwable => error = s"${e.getClass.getName}: ${e.getMessage}".take(500)
    } finally {
      sc.clearJobGroup()
      Tracer.current = ""
    }
    def delta(a: (Long, Long), b: (Long, Long)) = Seq(b._1 - a._1, b._2 - a._2)
    out.rec("exec", "exec" -> exec, "jvm" -> jvm, "pass" -> pass, "query" -> query, "traced" -> traced,
      "start_ms" -> t0, "build_end_ms" -> tBuild, "plan_end_ms" -> tPlan, "collect_end_ms" -> tCollect,
      "rows" -> rows, "digest" -> digest, "error" -> error,
      "catalyst_ms" -> phases,
      "codegen_build" -> delta(cg0, cgBuild), "codegen_plan" -> delta(cgBuild, cgPlan),
      "codegen_collect" -> delta(cgPlan, cgCollect))
    // Same between-queries hygiene as the repo's suite runners: drop the
    // finished query's checkpointed blocks so passes stay comparable.
    GraftSession.releaseTransientBlocks(spark)
  }

  /** (compiles, compile nanoseconds) so far in this JVM. */
  private def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}

/** Digest of a collected result: schema plus every row in collected order.
  * Doubles and floats are rendered by their exact shortest decimal form, so
  * the digest is bit-exact like the oracle comparison. */
object Digest {
  def apply(schema: String, rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(schema.getBytes(UTF_8))
    val sb = new java.lang.StringBuilder
    rows.foreach { r =>
      sb.setLength(0)
      render(r, sb)
      sb.append('\n')
      md.update(sb.toString.getBytes(UTF_8))
    }
    md.digest().take(16).map("%02x".format(_)).mkString
  }

  private def render(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append("\u0000")
    case r: Row =>
      sb.append('(')
      var i = 0
      while (i < r.length) { if (i > 0) sb.append(','); render(r.get(i), sb); i += 1 }
      sb.append(')')
    case b: Array[Byte] => b.foreach(x => sb.append("%02x".format(x)))
    case s: scala.collection.Seq[_] =>
      sb.append('['); s.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); render(x, sb) }; sb.append(']')
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      m.toSeq.map { case (k, x) => val s = new java.lang.StringBuilder; render(k, s); s.append(':'); render(x, s); s.toString }
        .sorted.foreach(e => sb.append(e).append(';'))
      sb.append('}')
    case s: String => sb.append('"').append(s.replace("\\", "\\\\").replace("\"", "\\\"")).append('"')
    case x => sb.append(x.toString)
  }
}

/** Listener-side recorder. Spark jobs are attributed to a query execution by
  * the job group the runner sets; micro-batch jobs run under the stream's
  * own job group (its run id), so stream runs are mapped to the execution
  * that started them when `onQueryStarted` fires, which Spark calls
  * synchronously from `start()` on the starting thread. Events are kept in
  * memory and written once by [[drain]]. */
final class Tracer(spark: SparkSession) {
  import org.apache.spark.scheduler._

  private val sc = spark.sparkContext
  private val jobs = ArrayBuffer.empty[Map[String, Any]]
  private val stages = ArrayBuffer.empty[Map[String, Any]]
  private val firstLaunch = scala.collection.mutable.Map.empty[(Int, Int), Long]
  private val failedTasks = scala.collection.mutable.Map.empty[(Int, Int), Int].withDefaultValue(0)
  private val runs = ArrayBuffer.empty[Map[String, Any]]
  private val progress = ArrayBuffer.empty[Map[String, Any]]
  @volatile private var events = 0L
  private var attached = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = record {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs += Map("job" -> e.jobId, "group" -> group, "start_ms" -> e.time, "stages" -> e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = record {
      jobs += Map("job" -> e.jobId, "end_ms" -> e.time, "ok" -> (e.jobResult == JobSucceeded))
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = record {
      val k = (e.stageId, e.stageAttemptId)
      if (!firstLaunch.contains(k)) firstLaunch(k) = e.taskInfo.launchTime
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = record {
      if (!e.taskInfo.successful) failedTasks((e.stageId, e.stageAttemptId)) += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = record {
      val si = e.stageInfo
      val m = si.taskMetrics
      val k = (si.stageId, si.attemptNumber())
      stages += Map("stage" -> si.stageId, "attempt" -> si.attemptNumber(), "tasks" -> si.numTasks,
        "submitted_ms" -> si.submissionTime.getOrElse(0L), "completed_ms" -> si.completionTime.getOrElse(0L),
        "first_launch_ms" -> firstLaunch.getOrElse(k, si.submissionTime.getOrElse(0L)),
        "failed_tasks" -> failedTasks(k),
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "deser_ms" -> m.executorDeserializeTime, "gc_ms" -> m.jvmGCTime,
        "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_b" -> m.shuffleReadMetrics.totalBytesRead,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "spill_b" -> m.diskBytesSpilled, "input_b" -> m.inputMetrics.bytesRead,
        "output_b" -> m.outputMetrics.bytesWritten)
    }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = record {
      runs += Map("run" -> e.runId.toString, "exec" -> Tracer.current)
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = record {
      val p = e.progress
      val d = p.durationMs
      def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      progress += Map("run" -> p.runId.toString, "batch" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "trigger_ms" -> dur("triggerExecution"), "add_batch_ms" -> dur("addBatch"),
        "planning_ms" -> dur("queryPlanning"), "wal_ms" -> (dur("walCommit") + dur("commitOffsets")),
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private def record(body: => Unit): Unit = synchronized { events += 1; body }

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(sparkListener); spark.streams.addListener(streamListener); attached = true
  }

  def detach(): Unit = if (attached) {
    sc.removeSparkListener(sparkListener); spark.streams.removeListener(streamListener); attached = false
  }

  /** Waits until no listener event has arrived for 250 ms (at most 10 s). */
  def settle(): Unit = {
    var last = -1L
    var waited = 0
    while (events != last && waited < 10000) { last = events; Thread.sleep(250); waited += 250 }
  }

  /** Writes every recorded event once, after the bus has gone quiet.
    * Attribution is by id, so late events are still placed correctly; they
    * only have to arrive before the write. */
  def drain(out: Out): Unit = {
    settle()
    synchronized {
      jobs.foreach(j => out.rec("job", j.toSeq: _*))
      stages.foreach(s => out.rec("stage", s.toSeq: _*))
      runs.foreach(r => out.rec("stream_run", r.toSeq: _*))
      progress.foreach(p => out.rec("batch", p.toSeq: _*))
    }
  }
}

object Tracer {
  /** Execution id of the query the main thread is running ("" between). */
  @volatile var current: String = ""
}

/** JSON-lines writer for the records `run.py` reads. */
final class Out(path: String) {
  private val w = Files.newBufferedWriter(Paths.get(path), UTF_8)

  def rec(kind: String, fields: (String, Any)*): Unit = synchronized {
    w.write(json(("kind" -> kind) +: fields))
    w.write('\n')
    w.flush()
  }

  def close(): Unit = w.close()

  private def json(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => json(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case x => str(x.toString)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
