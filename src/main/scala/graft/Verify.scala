package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // Optional third arg: regex over query names for fast dev iteration.
    val nameFilter = if (args.length > 2) Some(args(2).r) else None
    val cpus = graft.core.GraftSession.intEnv("SPARK_GRAFT_CPUS", 4, 1, "core count")
    val spark = graft.core.GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => nameFilter.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Same between-queries block hygiene as Bench (see there).
      graft.core.GraftSession.releaseTransientBlocks(spark)
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => nameFilter.forall(_.findFirstIn(k).isDefined) }
      .map { case (k, v) => s"${Bench.jsonString(k)}: ${Bench.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
