package graft

import graft.graph.GraphOps
import org.apache.spark.sql.functions._

/** Cluster-checkpoint mode: with a checkpoint dir configured on the context,
  * the iterative ops must run their rounds through RELIABLE checkpoints
  * (files that survive executor loss) and produce identical results. */
class CheckpointModeSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents under reliable checkpointing matches local mode") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (3L, 4L))
      .toDF("src", "dst")
    val local = GraphOps.connectedComponents(edges)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val reliable = GraphOps.connectedComponents(edges)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(reliable === local)
      assert(reliable === Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
      // reliable mode actually wrote checkpoint files
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "no reliable checkpoint files written")
    } finally {
      // clear so the shared session's other suites keep local-checkpoint mode
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("sssp under reliable checkpointing matches local mode") {
    // threshold -1 keeps sssp on the checkpointed relational loop
    withSqlConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val edges = Seq((0L, 1L, 5L), (1L, 2L, 3L), (0L, 2L, 10L), (2L, 3L, 1L))
        .toDF("src", "dst", "w")
      val local = GraphOps.sssp(edges, 0L, 5)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString
      spark.sparkContext.setCheckpointDir(dir)
      try {
        val reliable = GraphOps.sssp(edges, 0L, 5)
          .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(reliable === local)
        assert(reliable === Seq(0L -> 0L, 1L -> 5L, 2L -> 8L, 3L -> 9L))
      } finally {
        spark.sparkContext.setCheckpointDir(null)
      }
    }
  }
}
