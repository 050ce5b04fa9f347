package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps the
  * test run fast; suites must not mutate session state). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.local(2)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  /** Runs `body` with one SQL conf key set, restoring the previous value
    * (or unsetting it) afterwards, so the shared session is left as found. */
  def withSqlConf[T](key: String, value: String)(body: => T): T = {
    val previous = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally previous.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Number of Spark jobs `body` starts on the calling thread, counted by
    * job group. */
  def jobsStartedBy(body: => Any): Int = jobCounts(body).caller

  /** Spark jobs `body` starts: `caller` on the calling thread, counted by job
    * group, and `streams` in the micro-batches of the streaming queries it
    * starts. A stream runs its batches on its own thread under its run id as
    * job group; `onQueryStarted` is delivered inside `start()`, before the
    * stream's first job, so the run id is known when its jobs arrive.
    * Listener events arrive asynchronously but in order, so a marker job run
    * after `body` bounds both counts: once the listener has seen the marker,
    * it has seen every job `body` started. */
  def jobCounts(body: => Any): Jobs = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener._
    val group = s"jobs-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val runs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]
    val caller, streams = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val queries = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = { runs.add(e.runId.toString); () }
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => caller.incrementAndGet()
          case `marker` => markerSeen.countDown()
          case g if g != null && runs.contains(g) => streams.incrementAndGet()
          case _ => ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    spark.streams.addListener(queries)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.setJobGroup(marker, marker)
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      Jobs(caller.get, streams.get)
    } finally {
      sc.clearJobGroup()
      spark.streams.removeListener(queries)
      sc.removeSparkListener(listener)
    }
  }

  /** Command lines of the OS processes this JVM starts while `body` runs,
    * read from an in-process JFR recording of `jdk.ProcessStart` events. */
  def processesStartedDuring(body: => Any): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    val dump = java.nio.file.Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .map(_.getString("command")).toSeq
    } finally {
      rec.close()
      java.nio.file.Files.deleteIfExists(dump)
    }
  }

  /** The processes `body` starts, minus two that Spark forks whatever the
    * filesystem: `rm -rf` of a session artifact dir
    * (`<tmp>/artifacts-<uuid>/...`), which a streaming query's cloned session
    * forks asynchronously on stop, and the `getconf PAGESIZE` its executor
    * metrics fork once per JVM at the first heartbeat. A probe process
    * started after `body` must show up, so an empty result means the
    * recording saw forks and found no other. */
  def unexpectedForks(body: => Any): Seq[String] = {
    val commands = processesStartedDuring {
      body
      new ProcessBuilder("true", "graft-fork-probe").start().waitFor()
    }
    assert(commands.exists(_.contains("graft-fork-probe")), "the recording saw no probe process")
    commands.filterNot(c => c.contains("graft-fork-probe") || SparkSpec.SparkHousekeeping.matches(c))
  }
}

object SparkSpec {
  private val SparkHousekeeping = """rm -rf \S*/artifacts-[0-9a-f-]+(/\S*)?|getconf PAGESIZE""".r
}

/** Jobs counted by [[SparkSpec.jobCounts]]. */
final case class Jobs(caller: Int, streams: Int)
