package graft.graph

import graft.core.Materialize
import graft.core.Materialize.Signature
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBlocks
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** Graph algorithms as iterative DataFrame programs (SURVEY.md §2.9
  * M14/M15/M17; reference uses networkx in-process —
  * 实习三/…urban_road_network_analysis.ipynb:320-324, 543-569).
  *
  * Model: `edges(src, dst, w)` (directed; callers union reversed edges for
  * undirected semantics). No driver-side adjacency — every step is a join,
  * so the graph can be arbitrarily large; only the frontier/dist state is
  * iterated. Each operator supplies its init state and one round; the
  * round policy — cutting each round's lineage (no exponential plan
  * growth), releasing superseded rounds' blocks, the fixpoint exit and
  * dropping the loop's cached inputs — belongs to core.Materialize.iterate.
  *
  * One exception: [[sssp]] (and so [[reachable]]) runs all of its rounds
  * inside one task when its edges are integral and their estimated size is
  * at most `spark.sql.autoBroadcastJoinThreshold`, the size Spark already
  * trusts one task to hold whole. Larger graphs, or a threshold of -1, take
  * the relational loop; both paths return identical rows and schema.
  */
object GraphOps {

  /** Per-node degree: union of endpoint appearances, one hash aggregate. */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))

  /** Bellman-Ford SSSP bounded to `iters` relaxation rounds with early
    * fixpoint exit: returns `(id, dist)` = min cost over paths from `source`
    * using ≤ iters edges.
    *
    * Two paths, chosen from the input alone; both give the same rows and
    * the same schema, nullability included:
    *  - '''In-task''', when `src`, `dst` and `w` are integral and the edge
    *    plan's estimated size is at most `spark.sql.autoBroadcastJoinThreshold`
    *    (the size Spark already trusts one task to hold whole): one lazy
    *    `coalesce(1).mapPartitions` that runs every round over an in-memory
    *    adjacency. Building it starts no job; evaluating it is one task.
    *  - '''Relational''' otherwise (and always when the threshold is -1):
    *    one join + hash aggregate per round, so the graph can be arbitrarily
    *    large.
    *
    * Both run synchronous rounds (each reads only the previous round's
    * state, so the ≤ iters edges bound holds), exit when the `(count, Σdist)`
    * signature is unchanged (distances only decrease under min-relaxation,
    * so an unchanged signature means no edge relaxed), and fail on overflow
    * rather than wrap.
    *
    * CRITICAL iterative-DataFrame detail for the relational loop: each round
    * references the previous state twice (relaxation + union), so composing
    * rounds lazily doubles the logical plan per round — 2^iters leaves and
    * exponential Catalyst analysis time. core.Materialize.iterate truncates
    * lineage every round — reliable `checkpoint` when the context has a
    * checkpoint dir (cluster mode, survives executor loss), `localCheckpoint`
    * otherwise — and the fixpoint test rides the same materialization. */
  def sssp(edges: DataFrame, source: Long, iters: Int): DataFrame = {
    // Disjoint column names vs the dist state, so the repeated self-referencing
    // join stays unambiguous across iterations.
    val e = edges.select(col("src").as("e_src"), col("dst").as("e_dst"), col("w").as("e_w"))
    val start = edges.sparkSession.range(1).select(lit(source).as("id"), lit(0L).as("dist"))
    if (fitsOneTask(e)) {
      val schema = (if (iters >= 1) relaxRound(start, e) else start).schema
      e.select(col("e_src").cast("long"), col("e_dst").cast("long"), col("e_w").cast("long"))
        .coalesce(1)
        .mapPartitions(rows => ssspRounds(rows, source, iters))(Encoders.row(schema))
    } else {
      e.persist(StorageLevel.MEMORY_AND_DISK)
      // The start state's signature is (1, 0), so a first round that relaxes
      // no edge already ends the loop.
      val signature = Signature(_.agg(count(lit(1)), sum("dist")).head(),
        before = Some(Row(1L, 0L)))
      Materialize.iterate(start, iters, Some(signature), Seq(e))(relaxRound(_, e))
    }
  }

  private val integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)

  private def fitsOneTask(e: DataFrame): Boolean =
    e.schema.forall(f => integral(f.dataType)) &&
      e.queryExecution.optimizedPlan.stats.sizeInBytes <=
        e.sparkSession.sessionState.conf.autoBroadcastJoinThreshold

  /** One synchronous round: every state row extends along its out-edges and
    * each id keeps its minimum candidate. */
  private def relaxRound(dist: DataFrame, e: DataFrame): DataFrame =
    dist.unionByName(dist.join(e, col("id") === col("e_src"))
        .select(col("e_dst").as("id"), (col("dist") + col("e_w")).as("dist")))
      .groupBy("id").agg(min("dist").as("dist"))

  /** The relational loop's rounds over `(src, dst, w)` long rows held in one
    * task, emitted sorted by id (nulls first). Null semantics follow the
    * join + min plan: a null src never matches a state id, a null dst is
    * the null id, and a null dist or w makes a null candidate that min
    * ignores unless it is the id's only one. */
  private def ssspRounds(rows: Iterator[Row], source: Long, iters: Int): Iterator[Row] = {
    def opt(r: Row, i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
    val out = mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Option[Long], Option[Long])]]
    rows.foreach { r =>
      if (!r.isNullAt(0))
        out.getOrElseUpdate(r.getLong(0), mutable.ArrayBuffer.empty) += ((opt(r, 1), opt(r, 2)))
    }
    var dist = mutable.HashMap[Option[Long], Option[Long]](Some(source) -> Some(0L))
    var sig = (1L, 0L)
    var converged = false
    for (_ <- 1 to iters if !converged) {
      val next = dist.clone()
      for ((Some(u), du) <- dist; (v, w) <- out.getOrElse(u, Nil)) {
        val cand = for (d <- du; x <- w) yield Math.addExact(d, x)
        next(v) = next.get(v).fold(cand)(cur => (cur ++ cand).minOption)
      }
      val nextSig = (next.size.toLong, next.valuesIterator.flatten.foldLeft(0L)(Math.addExact))
      converged = nextSig == sig
      dist = next
      sig = nextSig
    }
    dist.toSeq.sortBy(_._1).iterator.map { case (id, d) =>
      Row(id.map(Long.box).orNull, d.map(Long.box).orNull)
    }
  }

  /** Isochrone support (M15): nodes reachable from `source` with path cost
    * ≤ cutoff within `iters` hops. The convex hull of the result is a
    * separate aggregate (graft.spatial.ConvexHull). */
  def reachable(edges: DataFrame, source: Long, cutoff: Long, iters: Int): DataFrame =
    sssp(edges, source, iters).filter(col("dist") <= cutoff)

  /** M14, path RECONSTRUCTION (the reference draws the route polyline, not
    * just its length — 实习三/…urban_road_network_analysis.ipynb cell 4:
    * nx.shortest_path node list plotted as route_lons/route_lats): bounded
    * Bellman-Ford whose state carries `(id, sp = struct(dist, path))` and
    * relaxes by the lexicographic MIN of that struct — dist first, then
    * the node-id array — so among equal-cost paths the smallest node
    * sequence wins, deterministically on the engine AND in a SQL oracle
    * (both Spark and DuckDB order arrays lexicographically).
    *
    * Correctness of per-node struct-min state (vs min over ALL ≤k-edge
    * walks) needs strictly positive weights: with w ≥ 1 two equal-dist
    * paths to a node can never be prefix-related, and for non-prefix pairs
    * appending the same next hop preserves lexicographic order — so the
    * best path to v through u extends u's best path. REQUIREs nothing at
    * runtime (the synthetic graph's w ∈ [1,20]); callers with zero-weight
    * edges must pre-shift.
    *
    * Scale shape: identical to [[sssp]] — one join + one hash aggregate
    * per round over `(id, dist, path≤iters+1)` rows, lineage cut per
    * round; the path column is bounded by the hop budget, never
    * data-proportional. Returns `(id, dist, path)`. */
  def routes(edges: DataFrame, source: Long, iters: Int): DataFrame = {
    val e = edges.select(col("src").as("e_src"), col("dst").as("e_dst"), col("w").as("e_w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val start = edges.sparkSession.range(1).select(lit(source).as("id"),
      struct(lit(0L).as("dist"), array(lit(source)).as("path")).as("sp"))
    // Fixpoint signature: unlike sssp (where unchanged count+Σdist ⟺
    // unchanged state, distances being the whole state), a round here can
    // lex-improve a PATH at equal dist — so the signature hashes the full
    // (id, dist, path) state. state_{k+1} includes state_k in its min, so
    // per-node state is monotone non-increasing and true equality really
    // is a fixpoint; the hash only detects it (a missed detection needs an
    // xor-of-xxhash64 collision). bit_xor, not sum: a Σ of 64-bit hashes
    // overflows under ANSI arithmetic; xor is order-free and closed.
    val signature = Signature(_.agg(count(lit(1)), sum("sp.dist"),
      expr("bit_xor(xxhash64(id, sp.dist, sp.path))")).head())
    Materialize.iterate(start, iters, Some(signature), Seq(e)) { st =>
      st.unionByName(st.join(e, col("id") === col("e_src"))
          .select(col("e_dst").as("id"),
            struct((col("sp.dist") + col("e_w")).as("dist"),
              concat(col("sp.path"), array(col("e_dst"))).as("path")).as("sp")))
        .groupBy("id").agg(min("sp").as("sp"))
    }.select(col("id"), col("sp.dist").as("dist"), col("sp.path").as("path"))
  }

  /** Connected components of an undirected graph given as `(src, dst)`
    * pairs (callers include both directions or rely on the symmetric
    * propagation below): returns `(id, component)` with component = min
    * node id in the component.
    *
    * Min-label propagation with two accelerations (both measured, see
    * Dbscan's history): star contraction rewrites the edge set onto current
    * label roots each round — root connectivity is preserved while dense
    * regions collapse the active set by orders of magnitude — and the
    * label(label(·)) pointer jump gives O(log diameter) rounds. Every round
    * localCheckpoints: lazily composed rounds double the plan per iteration
    * (see sssp). */
  def connectedComponents(edges: DataFrame, maxIters: Int = 30): DataFrame = {
    val nodes = edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id"))).distinct()
    // Round 1 contracts straight off the caller's edge frame (the old eager
    // cut of `active` spent one whole job copying it — guide §1.2); from
    // round 2 on, `active` is the previous round's checkpointed contraction.
    var active = edges.select(col("src").as("aid"), col("dst").as("bid"))
    // The contraction built by the round just run, and the one whose
    // checkpoint blocks back `active`: the latter is released one round
    // later, once the next round's job (which reads it through the new
    // contraction's lineage) has completed (dropping per-round checkpoints
    // otherwise leaks blocks suite-wide, see Materialize.iterate). Both are
    // None in round 1: the caller's edge frame is NOT ours to release (it
    // may itself be checkpointed — releasing it would truncate the
    // caller's lineage with blocks gone).
    var fresh = Option.empty[DataFrame]
    var held = Option.empty[DataFrame]
    // Once the contraction comes back EMPTY every later contraction is
    // provably empty too (active only shrinks) — the remaining rounds are
    // pure pointer-jump chain collapse, so the contraction work is skipped
    // outright. NOTE the empty contraction is NOT the fixpoint: label
    // chains (y→b, b→c) can still be collapsing after the edge set
    // empties, so the exit stays the old unchanged-sum(label) signature —
    // round-14's first cut of this code exited on "contraction empty" and
    // the lab1 oracle caught a component split 29 vs 28.
    var edgesDone = false
    // Round-15 (VERDICT r14 item 5): the contraction count was the one
    // remaining extra job per round — but only its ZERO-TEST is ever used.
    // An accumulator bumped per contracted row answers emptiness through
    // the relabel job itself, so contraction + relabel + convergence test
    // fuse into ONE job per round (2 → 1). Dataset.observe cannot do this:
    // the CollectMetrics node would sit behind the localCheckpoint
    // boundary, whose materialization is not a tracked QueryExecution, so
    // the observation never fires. Emptiness-by-accumulator is safe under
    // recompute/retry inflation: a bump can only come from a task that saw
    // a row, and a truly empty contraction never produces one. Inflation
    // only errs one way: an evicted earlier contraction recomputed after
    // the snapshot adds bumps, which can DELAY edgesDone (extra contraction
    // rounds, a performance cost) but never set it early, so it never
    // changes a result.
    val contractedRows = edges.sparkSession.sparkContext.longAccumulator("cc_contracted_rows")
    def bump(c: org.apache.spark.sql.Column) =
      graft.functions.RowTouch.touch(c, contractedRows)
    var accBefore = 0L
    def round(labels: DataFrame): DataFrame = {
      // The previous round's job has run: its contraction is materialized,
      // so the one before it is dead, and the accumulator says whether it
      // contracted anything.
      if (fresh.isDefined) {
        held.foreach(CheckpointBlocks.release)
        held = fresh
        fresh = None
        if (contractedRows.value == accBefore) edgesDone = true
      }
      // Snapshot FIRST: under AQE, merely BUILDING the round's lazy
      // checkpoint (queryExecution.toRdd inside cutLazy) already runs the
      // plan's shuffle stages as eager jobs — the contraction's bumps land
      // before any explicit action, so a later snapshot would read them as
      // "already there" and misdiagnose a live contraction as empty
      // (caught by DbscanSpec: 68 vs 27 components).
      accBefore = contractedRows.value
      // Without a contraction, stepped is value-identical to `labels`
      // (∪ ∅ then groupBy-min is the identity on a keyed label frame), so
      // the union+aggregate is skipped in the jump-only phase.
      val stepped =
        if (edgesDone) labels
        else {
          // cutLazy with NO materializing action of its own: the round's
          // signature job both computes/stores these blocks and reads them
          // (its union scans every partition, satisfying the cutLazy
          // full-scan contract). The bump rides the load-bearing `la`
          // column AFTER the distinct so column pruning can't drop it.
          val contracted = Materialize.cutLazy(active
            .join(labels.select(col("id").as("aid"), col("label").as("la")), "aid")
            .join(labels.select(col("id").as("bid"), col("label").as("lb")), "bid")
            .filter(col("la") =!= col("lb"))
            .select(col("la"), col("lb"))
            .distinct()
            .select(bump(col("la")).as("la"), col("lb")))
          active = contracted.select(col("la").as("aid"), col("lb").as("bid"))
          fresh = Some(contracted)
          labels.unionByName(contracted.select(col("la").as("id"), col("lb").as("label"))
              .unionByName(contracted.select(col("lb").as("id"), col("la").as("label"))))
            .groupBy("id").agg(min("label").as("label"))
        }
      val jumped = stepped.as("l1")
        .join(stepped.select(col("id").as("jid"), col("label").as("jlabel")).as("l2"),
          col("l1.label") === col("l2.jid"))
        .select(col("l1.id").as("id"), col("jlabel").as("label"))
      stepped.unionByName(jumped).groupBy("id").agg(min("label").as("label"))
    }
    // The sum(label) signature is one job per round that fuses contraction,
    // relabel and convergence test.
    try Materialize.iterate(nodes.select(col("id"), col("id").as("label")), maxIters,
        Some(Signature(_.agg(sum("label")).head())))(round)
      .withColumnRenamed("label", "component")
    finally (fresh ++ held).foreach(CheckpointBlocks.release)
  }

  /** PageRank over `edges(src, dst)` with damping 0.85, run for exactly
    * `iters` rounds (no early exit — a SQL oracle must reproduce the same
    * iteration count). Returns `(id, pr)` where `pr` is the rank scaled to
    * integer units of 1e-12 (`scale`).
    *
    * All arithmetic is integer: per-edge contribution `(pr * 85) div
    * (100 * outdeg)`, uniform teleport `(15 * scale) div (100 * n)`, and the
    * dangling-node mass redistributed as `(Σ_dangling pr * 85) div
    * (100 * n)` — networkx-style semantics, but order-free-exact, so Spark
    * and an unrolled DuckDB CTE agree bit-for-bit (truncation sheds ~1 unit
    * of 1e-12 mass per node per round; identical on both sides). Each round
    * is two equi-joins + one hash aggregate on data-proportional frames —
    * no driver-side adjacency — with lineage cut per round (see sssp). */
  def pageRank(edges: DataFrame, iters: Int, scale: Long = 1000000000000L): DataFrame = {
    val e = edges.select(col("src").as("e_src"), col("dst").as("e_dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("e_src").as("id"))
      .unionByName(e.select(col("e_dst").as("id"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outdeg = e.groupBy(col("e_src").as("id")).agg(count(lit(1)).as("od"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    val teleport = (15L * scale) / (100L * n)
    Materialize.iterate(nodes.select(col("id"), lit(scale / n).as("pr")), iters,
        cached = Seq(e, nodes, outdeg)) { pr =>
      // The dangling-mass scalar rides the plan as a broadcast 1-row frame
      // instead of a driver-side action: one job per round, not two.
      val dang = pr.join(outdeg, Seq("id"), "left_anti")
        .agg(coalesce(sum("pr"), lit(0L)).as("ds"))
      val inflow = pr.join(outdeg, "id")
        .join(e, col("id") === col("e_src"))
        .select(col("e_dst").as("id"),
          expr("(pr * 85) div (100 * od)").as("c"))
        .groupBy("id").agg(sum("c").as("inflow"))
      nodes.join(inflow, Seq("id"), "left").crossJoin(broadcast(dang))
        .select(col("id"),
          (coalesce(col("inflow"), lit(0L)) + lit(teleport)
            + expr(s"(ds * 85) div ${100L * n}")).as("pr"))
    }
  }

  /** Synchronous label-propagation communities over `edges(src, dst)`,
    * treated as undirected, run for exactly `iters` rounds (no early exit —
    * a SQL oracle reproduces the same rounds). Returns `(id, lbl)`.
    *
    * Each round every node adopts the most frequent label among its
    * neighbors' previous labels, ties broken by the SMALLEST label — the
    * argmax is `max(struct(count, -label))`, a plain hash aggregate, so the
    * update is deterministic (classic async LPA is order-dependent; the
    * synchronous min-tie-break variant is reproducible). Isolated nodes
    * keep their own id. Per round: one equi-join on the neighbor key + two
    * hash aggregates over data-proportional frames, lineage cut per round
    * (see sssp) — no driver-side adjacency, scales like one shuffle per
    * round at any graph size. */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    val und = edges.select(col("src").as("id"), col("dst").as("nbr"))
      .unionByName(edges.select(col("dst").as("id"), col("src").as("nbr")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = und.select("id").distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    Materialize.iterate(nodes.select(col("id"), col("id").as("lbl")), iters,
        cached = Seq(und, nodes)) { lbl =>
      val votes = und
        .join(lbl.select(col("id").as("nbr"), col("lbl").as("nlbl")), "nbr")
        .groupBy("id", "nlbl").agg(count(lit(1)).as("c"))
      val best = votes.groupBy("id")
        .agg(max(struct(col("c"), (-col("nlbl")).as("neg"))).as("m"))
        .select(col("id"), (-col("m.neg")).as("winner"))
      nodes.join(best, Seq("id"), "left")
        .select(col("id"), coalesce(col("winner"), col("id")).as("lbl"))
    }
  }

  /** k-core peeling bounded to exactly `iters` rounds (no early exit — a
    * SQL oracle unrolls the same rounds): repeatedly drop every node whose
    * undirected degree is below `k`, cascading as removals lower neighbor
    * degrees. Returns the surviving canonical undirected edge set `(a, b)`
    * with a < b.
    *
    * Each round is one hash aggregate (degrees) + two broadcast-or-shuffle
    * left-semi joins filtering the edge list — data-proportional frames
    * only, lineage cut per round (see sssp). Bounded peeling is the
    * distributed form: full convergence is O(max-degeneracy) rounds, but
    * every round strictly shrinks the edge set, so a fixed budget gives a
    * sound over-approximation of the true k-core at any scale. */
  def kCoreEdges(edges: DataFrame, k: Int, iters: Int): DataFrame = {
    val canonical = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b")).distinct()
    Materialize.iterate(canonical, iters) { live =>
      val deg = live.select(col("a").as("id"))
        .unionByName(live.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("degree"))
      val keep = deg.filter(col("degree") >= k).select("id")
      live.join(keep.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("id").as("b")), Seq("b"), "left_semi")
        .select("a", "b")
    }
  }
}
