package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet-staged shared intermediates.
  *
  * An expensive deterministic frame consumed by several queries (the capped
  * shingle index, a kNN neighbor list) is materialized to parquet ONCE per
  * (application, key) and re-read by every consumer. Compared to keeping a
  * persisted/localCheckpoint'ed frame alive across a suite, the parquet
  * stage holds no executor memory, survives block sweeps/evictions and
  * executor loss, and is exactly how a 100 TB pipeline passes a shared
  * intermediate between jobs. Re-reading costs one columnar scan — cheap
  * against the aggregation/join work these frames feed.
  */
object Staged {

  // (application, key) -> (stage path, its schema as parquet inference
  // reads it back). Each consumer reads with the kept schema, so only the
  // write runs an inference job, not every re-read.
  private val cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, StructType)]

  // Stage roots created by this JVM, deleted on exit: without the hook every
  // application run leaks its parquet stages to the machine's tmp dir.
  private val roots = scala.collection.concurrent.TrieMap.empty[String, Unit]
  private lazy val hookInstalled: Unit =
    sys.addShutdownHook(roots.keys.foreach(r => deleteRecursively(new java.io.File(r))))

  /** Deletes `f` and everything under it in-process; a missing path is a
    * no-op. Spark's `Utils.deleteRecursively` forks `rm -rf` for a
    * directory on Unix. */
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** The app's tmp staging root, registered for shutdown-hook cleanup.
    * Callers staging non-parquet artifacts (ORC round-trips, export files)
    * place them under this root so they share the stages' lifecycle. */
  def appRoot(s: SparkSession): String = {
    hookInstalled
    val root = s"${sys.props("java.io.tmpdir")}/graft-${s.sparkContext.applicationId}"
    roots.put(root, ()): Unit
    root
  }

  /** `afterWrite` runs once, after the stage's parquet write completes —
    * the hook for releasing build-side caches the write consumed. */
  def apply(s: SparkSession, key: String, afterWrite: () => Unit = () => ())
           (build: => DataFrame): DataFrame = {
    val k = s.sparkContext.applicationId + ":" + key
    // TrieMap.getOrElseUpdate may race two builders onto the same path; the
    // coarse lock is fine — each stage builds exactly once per app, and a
    // concurrent duplicate build would corrupt the directory under a reader.
    val (path, schema) = cache.synchronized {
      cache.getOrElseUpdate(k, {
        // md5 of the full key: a 32-bit hashCode collision would silently
        // alias two different stages onto one directory.
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val p = s"${appRoot(s)}/stage-$digest"
        build.write.mode("overwrite").parquet(p)
        afterWrite()
        (p, s.read.parquet(p).schema)
      })
    }
    s.read.schema(schema).parquet(path)
  }
}
