package graft

import graft.graph.GraphOps
import graft.spatial.ConvexHull
import graft.spatial.ConvexHull.Pt
import org.apache.spark.sql.functions._

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  test("sssp matches hand-computed Dijkstra on a known graph") {
    //   0 →(1)→ 1 →(1)→ 2 →(1)→ 3 ; 0 →(10)→ 3 ; 3 →(1)→ 4
    val edges = Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (0L, 3L, 10L), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    val dist = GraphOps.sssp(edges, source = 0L, iters = 6)
      .as[(Long, Long)].collect().toMap
    assert(dist === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("sssp respects the round bound (paths needing more edges stay unrelaxed)") {
    val chain = (0L until 6L).map(i => (i, i + 1, 1L)).toDF("src", "dst", "w")
    val dist = GraphOps.sssp(chain, 0L, iters = 3).as[(Long, Long)].collect().toMap
    assert(dist.keySet === Set(0L, 1L, 2L, 3L))
  }

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  test("sssp in-task path matches the relational loop row for row, schema included") {
    val hand = Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (0L, 3L, 10L), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    val chain = (0L until 6L).map(i => (i, i + 1, 1L)).toDF("src", "dst", "w")
    val rnd = new scala.util.Random(42)
    val randomEdges = Seq.fill(700)(
      (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong, rnd.nextInt(20).toLong + 1))
    // every 7th edge again verbatim (duplicate) and with a heavier weight (parallel)
    val random = (randomEdges ++ randomEdges.grouped(7).map(_.head)
      ++ randomEdges.grouped(7).map(_.head).map { case (a, b, w) => (a, b, w + 5) })
      .toDF("src", "dst", "w")
    val ints = hand.select(col("src").cast("int"), col("dst").cast("int"), col("w").cast("int"))
    // null src never relaxes; null dst is the null id; a null w reaches 5
    // with a null dist, which then relaxes to 6 with a null candidate.
    val nulls = Seq[(Option[Long], Option[Long], Option[Long])](
      (Some(0L), Some(1L), Some(2L)), (None, Some(2L), Some(1L)), (Some(1L), None, Some(1L)),
      (Some(1L), Some(3L), None), (Some(0L), Some(3L), Some(5L)), (Some(1L), Some(5L), None),
      (Some(5L), Some(6L), Some(1L)), (Some(5L), None, Some(2L))).toDF("src", "dst", "w")
    val cases = Seq(
      ("hand-computed", hand, 0L, 6), ("round-bound chain", chain, 0L, 3),
      ("200-node random", random, 0L, 8), ("int columns", ints, 0L, 6),
      ("null src/dst/w", nulls, 0L, 6), ("source in no edge", hand, 99L, 6),
      ("iters = 1", random, 0L, 1))
    cases.foreach { case (name, g, source, iters) =>
      val inTask = GraphOps.sssp(g, source, iters)
      assert(inTask.queryExecution.analyzed.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.MapPartitions]),
        s"$name: fixture graph did not take the in-task path")
      val relational = withSqlConf(Threshold, "-1")(GraphOps.sssp(g, source, iters))
      assert(inTask.schema === relational.schema, name)
      assert(inTask.collect().toSeq === relational.orderBy("id").collect().toSeq, name)
    }
  }

  test("building sssp on a fixture graph starts no Spark job; the relational loop does") {
    val edges = (0L until 200L).map(i => (i, (i + 3) % 200, 1L)).toDF("src", "dst", "w")
    assert(jobsStartedBy(GraphOps.sssp(edges, 0L, iters = 8)) === 0)
    assert(jobsStartedBy(withSqlConf(Threshold, "-1")(GraphOps.sssp(edges, 0L, iters = 8))) > 0)
  }

  test("routes reconstructs the shortest path and dist agrees with sssp") {
    //   0 →(1)→ 1 →(1)→ 2 →(1)→ 3 ; 0 →(10)→ 3 ; 3 →(1)→ 4
    val edges = Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (0L, 3L, 10L), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    val rt = GraphOps.routes(edges, source = 0L, iters = 6)
      .as[(Long, Long, Seq[Long])].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rt(4L) === ((4L, Seq(0L, 1L, 2L, 3L, 4L))))
    assert(rt(3L) === ((3L, Seq(0L, 1L, 2L, 3L))))
    assert(rt.view.mapValues(_._1).toMap ===
      GraphOps.sssp(edges, 0L, 6).as[(Long, Long)].collect().toMap)
  }

  test("routes breaks equal-cost ties by the lexicographically smallest path") {
    // two cost-4 routes to 3: [0,1,3] via w 3+1 and [0,2,1,3] via 1+2+1 —
    // the lex-min node sequence [0,1,3] must win on the engine exactly as
    // DuckDB's ORDER BY dist, path does in the g2b oracle.
    val edges = Seq((0L, 1L, 3L), (0L, 2L, 1L), (2L, 1L, 2L), (1L, 3L, 1L))
      .toDF("src", "dst", "w")
    val rt = GraphOps.routes(edges, 0L, 5)
      .as[(Long, Long, Seq[Long])].collect().map(r => r._1 -> r._3).toMap
    assert(rt(3L) === Seq(0L, 1L, 3L))
  }

  test("reachable applies the cost cutoff") {
    val edges = Seq((0L, 1L, 5L), (1L, 2L, 5L), (2L, 3L, 5L)).toDF("src", "dst", "w")
    val r = GraphOps.reachable(edges, 0L, cutoff = 10L, iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(r.keySet === Set(0L, 1L, 2L))
  }

  test("degrees counts endpoint appearances") {
    val edges = Seq((0L, 1L, 1L), (0L, 2L, 1L), (1L, 2L, 1L)).toDF("src", "dst", "w")
    val d = GraphOps.degrees(edges).as[(Long, Long)].collect().toMap
    assert(d === Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
  }

  test("pageRank: symmetric cycle stays uniform and mass is conserved") {
    // 3-cycle: the uniform distribution is the exact fixpoint, and integer
    // truncation never breaks the symmetry (identical arithmetic per node).
    val scale = 1000000000000L
    val edges = Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 0L, 1L)).toDF("src", "dst", "w")
    val pr = GraphOps.pageRank(edges, iters = 5).as[(Long, Long)].collect().toMap
    assert(pr.values.toSet.size === 1, s"cycle ranks diverged: $pr")
    val total = pr.values.sum
    assert(total <= scale && total > scale - 100, s"mass not conserved: $total")
  }

  test("pageRank: a sink hub outranks its spokes, dangling mass recycles") {
    // Star 1,2,3 → 0 with 0 dangling: node 0 must dominate; every node keeps
    // at least the teleport share.
    val edges = Seq((1L, 0L, 1L), (2L, 0L, 1L), (3L, 0L, 1L)).toDF("src", "dst", "w")
    val pr = GraphOps.pageRank(edges, iters = 8).as[(Long, Long)].collect().toMap
    assert(pr(0L) > pr(1L) * 2, s"hub not dominant: $pr")
    assert(pr(1L) === pr(2L) && pr(2L) === pr(3L), s"spoke symmetry broken: $pr")
    val teleport = (15L * 1000000000000L) / (100L * 4L)
    assert(pr.values.forall(_ >= teleport), s"below teleport floor: $pr")
  }

  test("labelPropagation: disconnected triangles collapse to per-component min labels") {
    // Sync LPA with min tie-break, traced by hand on a triangle {0,1,2}:
    // r1 = (0→1, 1→0, 2→0), r2 = all 0, stable after — and independently
    // the same on {10,11,12} → all 10. Odd cycles don't oscillate.
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (10L, 11L), (11L, 12L), (12L, 10L))
      .toDF("src", "dst")
    val lbl = GraphOps.labelPropagation(edges, iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(lbl === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("labelPropagation is deterministic across runs") {
    val edges = (0L until 60L).map(i => (i, (i * 3 + 1) % 60)).toDF("src", "dst")
    val a = GraphOps.labelPropagation(edges, iters = 4).as[(Long, Long)].collect().toMap
    val b = GraphOps.labelPropagation(edges, iters = 4).as[(Long, Long)].collect().toMap
    assert(a === b)
  }

  test("kCoreEdges: pendant chain peels away, the clique survives") {
    // K4 on {0,1,2,3} (each degree 3) + chain 3-4-5: round 1 drops 5
    // (degree 1 < 3) and 4 (degree 2 < 3); the clique is the exact 3-core.
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val core = GraphOps.kCoreEdges(edges, k = 3, iters = 3)
      .as[(Long, Long)].collect().toSet
    assert(core === Set((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("kCoreEdges: k above the degeneracy empties the graph") {
    val k4 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
      .toDF("src", "dst")
    assert(GraphOps.kCoreEdges(k4, k = 4, iters = 2).count() === 0L)
  }

  test("iterative ops release per-round checkpoint blocks (suite hygiene)") {
    // Each round localCheckpoints its new state; the previous round's blocks
    // must be dropped as it goes (regression guard: leaked rounds accumulate
    // across a 100+-query suite and evict execution memory unpredictably).
    // Tolerance: the returned frame (+ its CC edge input) may stay persisted.
    val edges = (0L until 200L).map(i => (i, (i + 3) % 200, 1L)).toDF("src", "dst", "w")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    withSqlConf(Threshold, "-1")(GraphOps.sssp(edges, 0L, iters = 8).count())
    GraphOps.connectedComponents(
      edges.select(col("src"), col("dst")), maxIters = 20).count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 2, s"leaked ${leaked.size} persistent RDDs: $leaked")
  }
}

class ConvexHullSpec extends SparkSpec {
  import spark.implicits._

  test("hull of a unit square with interior points is the 4 corners") {
    val pts = Seq(Pt(0, 0), Pt(1, 0), Pt(1, 1), Pt(0, 1),
      Pt(0.5, 0.5), Pt(0.2, 0.8), Pt(0.9, 0.1))
    val h = ConvexHull.hull(pts)
    assert(h.toSet === Set(Pt(0, 0), Pt(1, 0), Pt(1, 1), Pt(0, 1)))
    assert(math.abs(ConvexHull.shoelaceArea(h) - 1.0) < 1e-12)
    assert(math.abs(ConvexHull.perimeter(h) - 4.0) < 1e-12)
  }

  test("degenerate inputs: point and segment") {
    assert(ConvexHull.hull(Seq(Pt(2, 3))) === Seq(Pt(2, 3)))
    val seg = ConvexHull.hull(Seq(Pt(0, 0), Pt(1, 1), Pt(0.5, 0.5)))
    assert(seg.toSet === Set(Pt(0, 0), Pt(1, 1)))
    assert(ConvexHull.shoelaceArea(seg) === 0.0)
  }

  test("aggregator over a DataFrame (buffer compaction path, >256 points)") {
    val n = 1000
    // Points on a circle + jitter inside: hull ≈ circle, area ≈ πr².
    val pts = (0 until n).map { i =>
      val a = 2 * math.Pi * i / n
      (math.cos(a), math.sin(a))
    } ++ (0 until 500).map(i => (math.cos(i) * 0.3, math.sin(i * 2) * 0.3))
    val row = pts.toDF("x", "y")
      .select(ConvexHull.convexHullStats(col("x"), col("y")).as("h"))
      .select("h.n_vertices", "h.area", "h.perimeter").head()
    assert(row.getInt(0) === n, "all circle points are hull vertices")
    assert(math.abs(row.getDouble(1) - math.Pi) < 0.01)
    assert(math.abs(row.getDouble(2) - 2 * math.Pi) < 0.01)
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._
  import graft.sources.Multimodal
  import graft.sources.Multimodal.MediaRecord

  test("partition-batched decode preserves every record with exact metadata") {
    val media = Seq(
      MediaRecord(0L, "image", Array.fill[Byte](120)(7)),
      MediaRecord(1L, "audio", Array.fill[Byte](250)(7)),
      MediaRecord(2L, "video", Array.fill[Byte](101)(7))).toDS().repartition(2)
    val out = Multimodal.decode(media, Multimodal.DeterministicFakeCodec)
      .collect().map(d => d.media_id -> d).toMap
    assert(out.size === 3)
    assert(out(0L).n_frames === 1)
    assert(out(1L).n_frames === 250 / 100 + 1)
    assert(out(2L).n_frames === 101 / 50 + 1)
    assert(out(2L).width === 16 + 2 && out(2L).height === 16 + 2)
    assert(out(1L).n_bytes === 250)
  }
}
