package graft

import java.io.File
import java.nio.file.Files

import graft.core.Materialize
import graft.graph.GraphOps
import graft.ops.Staged
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Cluster-checkpoint mode: with a checkpoint dir configured on the context,
  * the iterative ops must run their rounds through RELIABLE checkpoints
  * (files that survive executor loss) and produce identical results. All six
  * relational loops share core.Materialize.iterate's cut path, so one table
  * covers them. */
class CheckpointModeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (3L, 4L))
    .toDF("src", "dst")
  private lazy val weighted = Seq((0L, 1L, 5L), (1L, 2L, 3L), (0L, 2L, 10L), (2L, 3L, 1L))
    .toDF("src", "dst", "w")
  // A triangle with a tail: the 2-core is the triangle.
  private lazy val tailed = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
    .toDF("src", "dst")

  /** (operator, its run, the rows both modes must give when pinned). sssp
    * runs under autoBroadcastJoinThreshold=-1, which keeps it on the
    * checkpointed relational loop instead of the in-task path; every loop
    * runs all its rounds inside the call, so the setting covers them. */
  private val table: Seq[(String, () => DataFrame, Option[Seq[Row]])] = Seq(
    ("connectedComponents", () => GraphOps.connectedComponents(pairs),
      Some(Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L).map(Row.fromTuple))),
    ("sssp", () => withSqlConf("spark.sql.autoBroadcastJoinThreshold", "-1")(
        GraphOps.sssp(weighted, 0L, 5)),
      Some(Seq(0L -> 0L, 1L -> 5L, 2L -> 8L, 3L -> 9L).map(Row.fromTuple))),
    ("routes", () => GraphOps.routes(weighted, 0L, 5),
      Some(Seq(Row(0L, 0L, Seq(0L)), Row(1L, 5L, Seq(0L, 1L)),
        Row(2L, 8L, Seq(0L, 1L, 2L)), Row(3L, 9L, Seq(0L, 1L, 2L, 3L))))),
    ("pageRank", () => GraphOps.pageRank(pairs, 4), None),
    ("labelPropagation", () => GraphOps.labelPropagation(pairs, 3), None),
    ("kCoreEdges", () => GraphOps.kCoreEdges(tailed, k = 2, iters = 3),
      Some(Seq(1L -> 2L, 1L -> 3L, 2L -> 3L).map(Row.fromTuple))))

  private def sorted(df: DataFrame): Seq[Row] =
    df.orderBy(df.columns.map(col).toSeq: _*).collect().toSeq

  // Tolerates directories the ContextCleaner removes mid-walk.
  private def filesUnder(f: File): Long =
    Option(f.listFiles()).fold(0L)(_.map(c => if (c.isDirectory) filesUnder(c) else 1L).sum)

  table.foreach { case (op, run, pinned) =>
    test(s"$op under reliable checkpointing matches local mode") {
      val localDf = run()
      val local = sorted(localDf)
      val dir = Files.createTempDirectory("graft-ckpt").toFile
      spark.sparkContext.setCheckpointDir(dir.getPath)
      try {
        val reliableDf = run()
        val reliable = sorted(reliableDf)
        // reliable mode actually wrote checkpoint files
        val wrote = filesUnder(dir)
        assert(reliable === local)
        assert(reliableDf.schema === localDf.schema)
        assert(local.nonEmpty)
        pinned.foreach(rows => assert(reliable === rows))
        assert(wrote > 0, "no reliable checkpoint files written")
      } finally {
        // clear so the shared session's other suites keep local-checkpoint mode
        spark.sparkContext.setCheckpointDir(null)
      }
    }
  }

  // Without a native libhadoop, Hadoop's local filesystem forks one chmod
  // per file, .crc sidecar and directory it creates; the session's
  // NioLocalFileSystem forks none.
  test("a reliable-mode Materialize.cut starts no chmod, readlink or ls process") {
    val dir = Files.createTempDirectory("graft-ckpt").toFile
    spark.sparkContext.setCheckpointDir(dir.getPath)
    try {
      val forks = unexpectedForks(Materialize.cut(pairs.repartition(3)).count())
      assert(filesUnder(dir) > 0, "no reliable checkpoint files written")
      assert(forks === Seq.empty[String])
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("an ops.Staged write starts no chmod, readlink or ls process") {
    val key = s"fork-census-${java.util.UUID.randomUUID()}"
    val forks = unexpectedForks(Staged(spark, key)(pairs.repartition(3)))
    assert(forks === Seq.empty[String])
    assert(sorted(Staged(spark, key)(sys.error("staged twice"))) === sorted(pairs))
  }
}
