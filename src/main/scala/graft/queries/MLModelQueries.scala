package graft.queries

import graft.{QueryCatalog, QueryDef}
import graft.core.Tables
import graft.ml.{Dbscan, MlBands, MlPipelines}
import graft.spatial.ConvexHull
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-fitting / iterative operators (SURVEY.md §2.9 M1, M3, M4, M12,
  * M15-hull). DBSCAN is fully deterministic (min-id cluster labels, min-label
  * border assignment), so its summary has an exact DuckDB oracle via a
  * recursive-CTE reachability closure over the core-core ε-graph. The
  * spark.ml fits (K-Means, PCA) aren't DuckDB-expressible — those record
  * the weaker rows>0 check, pinned by ScalaTest specs against brute-force
  * implementations on fixtures; the GBT query emits an oracle-checkable
  * verdict row (exact split sizes + MlBands fit-quality booleans). All
  * outputs are seeded / deterministic summaries, never raw model state.
  */
object MLModelQueries extends QueryCatalog {

  private val Dim64 = 64 // embeddings table dimension

  /** The m3b relational Lloyd loop, shared with m22: k lowest-id seeds,
    * `iters` argmin-assign + sorted-mean-recenter rounds, all deterministic.
    * Returns (assigned(id, x, y, cid), centers(cid, cx, cy)). */
  private def lloydAssign(s: org.apache.spark.sql.SparkSession, dir: String,
      k: Int, iters: Int): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val pts = Tables.withSyntheticPoint(Tables.customer(s, dir), "c_custkey")
      .select(col("c_custkey").as("id"), col("lon").as("x"), col("lat").as("y"))
    // Seeds = the k lowest-id points via orderBy.limit (TakeOrderedAndProject,
    // fully distributed). The global row_number window this replaces moved the
    // ENTIRE point table through one task just to take k rows. cid = rank
    // within the k-row seed frame, computed by a broadcast self-count — no
    // window at all, so nothing single-partition survives in the plan.
    val seed = pts.orderBy("id").limit(k)
    var centers = seed
      .join(broadcast(seed.select(col("id").as("bid"))), col("bid") <= col("id"))
      .groupBy(col("id"), col("x"), col("y"))
      .agg(count(lit(1)).as("cid"))
      .select(col("cid"), col("x").as("cx"), col("y").as("cy"))
    var assigned = pts
    for (_ <- 1 to iters) {
      val w = Window.partitionBy("id").orderBy(col("d2"), col("cid"))
      assigned = pts.crossJoin(broadcast(centers))
        .withColumn("d2",
          pow(col("x") - col("cx"), 2) + pow(col("y") - col("cy"), 2))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("id", "x", "y", "cid")
      // Two-level fold (ops.SortedFold): cluster membership is
      // corpus-proportional, so the single-level sorted mean's per-cluster
      // array was a latent OOM at scale; the bucketed form keeps the
      // cross-engine bit-exactness with bounded arrays.
      // Per-iteration lineage cut on the k-row center frame (round-14,
      // guide §7.2 "very large plans"): composed lazily, iteration i's
      // centers embed iteration i-1's assignment subtree — and every
      // consumer of (assigned, centers) then re-analyzes a plan that
      // doubles per round (the m4b lesson). Cutting 8 rows per round keeps
      // each round's plan one assignment deep; the computed values are the
      // materialized same floats, so the oracle replay is untouched.
      // .limit(k) is a no-op on the k-row frame but restores the maxRows
      // bound the checkpoint's LogicalRDD erased — PlanGuard (and the
      // planner) must still PROVE the broadcast build side tiny.
      centers = graft.core.Materialize.cut(graft.ops.SortedFold.means(
          assigned, Seq("cid"), col("id"), Seq("x" -> "cx", "y" -> "cy"))
        .select("cid", "cx", "cy")).limit(k)
    }
    (assigned, centers)
  }

  /** The DuckDB mirror of [[lloydAssign]]: CTE prelude ending with
    * `a<iters>` (assignments) and `c<iters>` (centers). */
  private def lloydSqlPrelude(k: Int, iters: Int): String = {
    val (lonSql, latSql) = Tables.syntheticPointSql("c_custkey")
    val cap = graft.ops.SortedFold.BucketCap
    val steps = (1 to iters).map { i =>
      s"""a$i AS (SELECT p.id, p.x, p.y, c.cid FROM pts p CROSS JOIN c${i - 1} c
         |  QUALIFY row_number() OVER (PARTITION BY p.id
         |    ORDER BY power(p.x-c.cx, 2) + power(p.y-c.cy, 2), c.cid) = 1),
         |cp$i AS (SELECT cid, id // $cap AS bkt,
         |    list_sum(list_sort(list(x))) AS sx,
         |    list_sum(list_sort(list(y))) AS sy, count(*) AS n
         |  FROM a$i GROUP BY 1, 2),
         |c$i AS (SELECT cid,
         |    list_sum(list_sort(list(sx))) / sum(n) AS cx,
         |    list_sum(list_sort(list(sy))) / sum(n) AS cy
         |  FROM cp$i GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""pts AS (SELECT c_custkey AS id, $lonSql AS x, $latSql AS y FROM customer),
       |c0 AS (SELECT CAST(rn AS BIGINT) AS cid, x AS cx, y AS cy FROM
       |  (SELECT row_number() OVER (ORDER BY id) AS rn, x, y FROM pts)
       |  WHERE rn <= $k),
       |$steps""".stripMargin
  }

  def defs: Map[String, QueryDef] = Map(

    // M1 — DBSCAN on the synthetic customer points (reference eps=500 m,
    // min_samples=5 → here eps in degrees on the same bbox).
    "m1_dbscan" -> QueryDef(
      (s, dir) => {
        val pts = Tables.withSyntheticPoint(Tables.customer(s, dir), "c_custkey")
          .select(col("c_custkey").as("id"), col("lon").as("x"), col("lat").as("y"))
        Dbscan.summary(Dbscan.run(pts, eps = 0.017, minPts = 5))
      },
      // Exact oracle: same grid pair join, core test, min-id components
      // (recursive reachability closure — min reachable id == min of the
      // component since the ε-graph is symmetric), min-label borders.
      Some("""WITH RECURSIVE cells AS (
             |  SELECT c_custkey AS id,
             |         -74.3 + ((c_custkey * 7919) % 6000) / 10000.0 AS x,
             |         40.5 + ((c_custkey * 104729) % 5000) / 10000.0 AS y
             |  FROM customer),
             |g AS (SELECT id, x, y,
             |    CAST(floor(x / 0.017) AS BIGINT) AS cx,
             |    CAST(floor(y / 0.017) AS BIGINT) AS cy FROM cells),
             |pairs AS (
             |  SELECT a.id AS aid, b.id AS bid
             |  FROM g a JOIN g b
             |    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
             |   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
             |   AND (a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y) <= 0.017*0.017),
             |cores AS (SELECT aid AS id FROM pairs GROUP BY aid HAVING count(*) >= 5),
             |core_edges AS (
             |  SELECT p.aid AS src, p.bid AS dst FROM pairs p
             |  JOIN cores ca ON ca.id = p.aid JOIN cores cb ON cb.id = p.bid),
             |reach(id, lbl) AS (
             |  SELECT id, id FROM cores
             |  UNION
             |  SELECT e.dst, r.lbl FROM reach r JOIN core_edges e ON e.src = r.id),
             |labels AS (SELECT id, min(lbl) AS label FROM reach GROUP BY id),
             |border AS (
             |  SELECT p.aid AS id, min(l.label) AS label
             |  FROM pairs p JOIN labels l ON l.id = p.bid
             |  WHERE p.aid NOT IN (SELECT id FROM cores)
             |  GROUP BY p.aid),
             |final AS (
             |  SELECT c.id, coalesce(a.label, -1) AS label
             |  FROM cells c LEFT JOIN (SELECT * FROM labels UNION ALL SELECT * FROM border) a USING (id)),
             |sizes AS (SELECT label, count(*) AS n FROM final GROUP BY label)
             |SELECT CAST(sum(CASE WHEN label >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clusters,
             |  CAST(coalesce(sum(CASE WHEN label = -1 THEN n END), 0) AS BIGINT) AS n_noise,
             |  CAST(sum(n) AS BIGINT) AS n_points,
             |  CAST(coalesce(max(CASE WHEN label >= 0 THEN n END), 0) AS BIGINT) AS max_cluster_size
             |FROM sizes""".stripMargin),
      // Headline (round-15, VERDICT r14 item 2): compute-proportional
      // scaling signal for the driver's 8↔32-core probe (~19 s task time
      // at sf0.1 — the DBSCAN pair join + CC rounds).
      headline = true),

    // M3's MLlib KMeans fit lives in MlPipelines.kmeansZones, exercised by
    // MlLibPipelineSpec — the seeded kmeans|| init is partitioning-dependent,
    // so it carries no SQL oracle; the exact, oracle-checked form of the
    // operator is m3b below (and the embedding-space variant v6).
    // M3b — Lloyd's K-Means relationally (fixed 3 iterations, k=8,
    // deterministic init = the k lowest-id points): every step is a
    // broadcast nearest-center join + one hash agg, so — unlike the MLlib
    // kmeans|| fit above, whose seeded init depends on partitioning — the
    // result is bit-reproducible across engines and cluster layouts, and
    // DuckDB checks it exactly. Center means use sorted native sequential
    // sums (VecSeqSumD ≡ list_sum(list_sort(...))) so the FP accumulation
    // order matches through all iterations. Scale: centers (k rows)
    // broadcast; points shuffle once per iteration for the cid agg.
    "m3b_kmeans_lloyd" -> QueryDef(
      (s, dir) => {
        val (assigned, centers) = lloydAssign(s, dir, k = 8, iters = 3)
        assigned.groupBy("cid").agg(count(lit(1)).as("n"))
          .join(centers, "cid")
          .select(col("cid"), col("n"),
            round(col("cx"), 6).as("cx"), round(col("cy"), 6).as("cy"))
          .orderBy("cid")
      },
      Some(s"""WITH ${lloydSqlPrelude(k = 8, iters = 3)}
           |SELECT a.cid, count(*) AS n,
           |  round(any_value(c.cx), 6) AS cx, round(any_value(c.cy), 6) AS cy
           |FROM a3 a JOIN c3 c USING (cid)
           |GROUP BY a.cid ORDER BY a.cid""".stripMargin)),

    // Engine-added — centroid silhouette for the m3b clustering: per point,
    // a = distance to own centroid, b = nearest other centroid,
    // s = (b−a)/max(a,b); per-cluster mean silhouette. Distances are
    // written as (dx*dx + dy*dy) then a correctly-rounded sqrt — both
    // engines evaluate the identical two-term expression — and the mean is
    // the sorted sequential fold, so the metric is bit-exact. The centers
    // frame is 8 rows broadcast; the heavy side is one scan of the points.
    "m22_silhouette" -> QueryDef(
      (s, dir) => {
        val (assigned, centers) = lloydAssign(s, dir, k = 8, iters = 3)
        val d = assigned.crossJoin(broadcast(
            centers.select(col("cid").as("ocid"), col("cx"), col("cy"))))
          .withColumn("dist", sqrt((col("x") - col("cx")) * (col("x") - col("cx"))
            + (col("y") - col("cy")) * (col("y") - col("cy"))))
        val ab = d.groupBy("id", "cid")
          .agg(min(when(col("ocid") === col("cid"), col("dist"))).as("a_dist"),
            min(when(col("ocid") =!= col("cid"), col("dist"))).as("b_dist"))
        val sil = ab.withColumn("sil",
          (col("b_dist") - col("a_dist")) / greatest(col("a_dist"), col("b_dist")))
        graft.ops.SortedFold.means(sil, Seq("cid"), col("id"), Seq("sil" -> "mean_sil"))
          .select(col("cid"), col("n_fold").as("n"),
            round(col("mean_sil"), 6).as("mean_sil"))
          .orderBy("cid")
      },
      Some(s"""WITH ${lloydSqlPrelude(k = 8, iters = 3)},
           |d AS (SELECT a.id, a.cid, c.cid AS ocid,
           |    sqrt((a.x-c.cx)*(a.x-c.cx) + (a.y-c.cy)*(a.y-c.cy)) AS dist
           |  FROM a3 a CROSS JOIN c3 c),
           |ab AS (SELECT id, cid,
           |    min(CASE WHEN ocid = cid THEN dist END) AS a_dist,
           |    min(CASE WHEN ocid <> cid THEN dist END) AS b_dist
           |  FROM d GROUP BY 1, 2),
           |sil AS (SELECT id, cid,
           |    (b_dist - a_dist) / greatest(a_dist, b_dist) AS sil FROM ab),
           |sp AS (SELECT cid, id // ${graft.ops.SortedFold.BucketCap} AS bkt,
           |    list_sum(list_sort(list(sil))) AS ss, count(*) AS n
           |  FROM sil GROUP BY 1, 2)
           |SELECT cid, CAST(sum(n) AS BIGINT) AS n,
           |  round(list_sum(list_sort(list(ss))) / sum(n), 6) AS mean_sil
           |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin)),

    // M4's MLlib PCA fit lives in MlPipelines.pcaProject, exercised by
    // MlLibPipelineSpec — eigenvector sign/rotation is solver-dependent, so
    // it carries no SQL oracle; the exact, oracle-checked form of the
    // operator is m4b below.
    // M4b — PCA relationally, exactly: covariance-free power iteration over
    // the (id, dim, value) layout (w ← normalize(Xᵀ(Xw)), fixed 3
    // iterations, deterministic inits: uniform for PC1, alternating-sign for
    // PC2 with per-step deflation against PC1). Every sum is a sorted
    // sequential fold (VecSeqSumD ≡ list_sum(list_sort(...))), so the run is
    // bit-reproducible and DuckDB replays it exactly — the same trick that
    // made m3b/v6 exact, applied to the spectral op the MLlib-backed m4
    // could only pin rows-only. Scale: X stays distributed; w is a 64-row
    // broadcast; each iteration is two broadcast joins + two hash aggs, and
    // the corpus-sized folds (mu, u, label means) run two-level
    // (ops.SortedFold) so no collected array grows with the corpus.
    "m4b_pca_power" -> QueryDef(
      (s, dir) => {
        val iters = 3
        def ssum(c: org.apache.spark.sql.Column) =
          graft.functions.SortedSumD.sortedSum(c)
        val comps = Tables.fanout(Tables.embeddings(s, dir))
          .select(col("vec_id"), col("label"), posexplode(col("embedding")))
          .select(col("vec_id"), col("label"), col("pos").as("dim"),
            col("col").cast("double").as("v"))
        // Corpus-sized groups (per-dim over every vector, per-label over
        // every point) go through the two-level fold — see ops.SortedFold.
        val mu = graft.ops.SortedFold.means(
            comps, Seq("dim"), col("vec_id"), Seq("v" -> "mu"))
          .select("dim", "mu")
        val cx = comps.join(broadcast(mu), "dim")
          .select(col("vec_id"), col("label"), col("dim"), (col("v") - col("mu")).as("x"))
          .persist()
        def iterate(w0: org.apache.spark.sql.DataFrame,
                    deflateAgainst: Option[org.apache.spark.sql.DataFrame]) = {
          var w = w0
          for (_ <- 1 to iters) {
            val t = cx.join(broadcast(w), "dim")
              .groupBy("vec_id").agg(ssum(col("x") * col("w")).as("t"))
            // Cut u before deflation: the deflated select and its dot-product
            // aggregate BOTH consume u, so left lazy the corpus-sized fold
            // behind it evaluates twice per deflation round. u is 64 rows.
            var u = graft.core.Materialize.cut(graft.ops.SortedFold.sums(
              cx.join(t, "vec_id").withColumn("xt", col("x") * col("t")),
              Seq("dim"), col("vec_id"), Seq("xt" -> "u")))
            deflateAgainst.foreach { prev =>
              val withPrev = u.join(broadcast(prev.select(col("dim"), col("w").as("wp"))), "dim")
              val dot = withPrev.agg(ssum(col("u") * col("wp")).as("d"))
              u = withPrev.crossJoin(broadcast(dot))
                .select(col("dim"), (col("u") - col("d") * col("wp")).as("u"))
            }
            val nrm = u.agg(sqrt(ssum(col("u") * col("u"))).as("nrm"))
            // w is 64 rows, but its PLAN embeds the whole iteration chain
            // (and for PC2, PC1's chain inside each deflation) — without a
            // per-iteration lineage cut Catalyst analysis time explodes
            // exponentially, the same failure mode sssp/DBSCAN guard against.
            w = graft.core.Materialize.cut(
              u.crossJoin(broadcast(nrm))
                .select(col("dim"), (col("u") / col("nrm")).as("w")))
          }
          w
        }
        val dims = s.range(Dim64).select(col("id").cast("int").as("dim"))
        val w1 = iterate(dims.withColumn("w", lit(1.0 / 8)), None)
        val w2 = iterate(dims.withColumn("w",
          when(pmod(col("dim"), lit(2)) === 0, 0.125).otherwise(-0.125)), Some(w1))
        val pc1 = cx.join(broadcast(w1), "dim")
          .groupBy("vec_id", "label").agg(ssum(col("x") * col("w")).as("pc1"))
        val pc2 = cx.join(broadcast(w2), "dim")
          .groupBy("vec_id").agg(ssum(col("x") * col("w")).as("pc2"))
        val result = graft.ops.SortedFold.means(
            pc1.join(pc2, "vec_id")
              .withColumn("a1", abs(col("pc1"))).withColumn("a2", abs(col("pc2"))),
            Seq("label"), col("vec_id"), Seq("a1" -> "raw1", "a2" -> "raw2"))
          .select(col("label"), round(col("raw1"), 6).as("avg_abs_pc1"),
            round(col("raw2"), 6).as("avg_abs_pc2"), col("n_fold").as("n"))
          .orderBy("label")
        graft.QueryDef.materialized(result, cx)
      },
      Some {
        def iterSql(p: Int, deflate: Boolean): String =
          (1 to 3).map { i =>
            val defl = if (deflate)
              s""",
                 |d${p}_$i AS MATERIALIZED (SELECT list_sum(list_sort(list(u.u * w1.w))) AS d
                 |  FROM ur${p}_$i u JOIN w1_3 w1 USING (dim)),
                 |u${p}_$i AS MATERIALIZED (SELECT u.dim, u.u - (SELECT d FROM d${p}_$i) * w1.w AS u
                 |  FROM ur${p}_$i u JOIN w1_3 w1 USING (dim))""".stripMargin
            else ""
            val uSrc = if (deflate) s"ur${p}_$i" else s"u${p}_$i"
            val cap = graft.ops.SortedFold.BucketCap
            s"""t${p}_$i AS MATERIALIZED (SELECT vec_id,
               |    list_sum(list_sort(list(c.x * w.w))) AS t
               |  FROM cx c JOIN w${p}_${i - 1} w USING (dim) GROUP BY 1),
               |up${p}_$i AS MATERIALIZED (SELECT dim, c.vec_id // $cap AS bkt,
               |    list_sum(list_sort(list(c.x * t.t))) AS su
               |  FROM cx c JOIN t${p}_$i t USING (vec_id) GROUP BY 1, 2),
               |$uSrc AS MATERIALIZED (SELECT dim, list_sum(list_sort(list(su))) AS u
               |  FROM up${p}_$i GROUP BY 1)$defl,
               |w${p}_$i AS MATERIALIZED (SELECT dim,
               |    u / (SELECT sqrt(list_sum(list_sort(list(u * u)))) FROM u${p}_$i) AS w
               |  FROM u${p}_$i)""".stripMargin
          }.mkString(",\n")
        s"""WITH comps AS (SELECT vec_id, label,
           |    generate_subscripts(embedding, 1) - 1 AS dim,
           |    unnest(embedding)::DOUBLE AS v
           |  FROM embeddings),
           |mup AS (SELECT dim, vec_id // ${graft.ops.SortedFold.BucketCap} AS bkt,
           |    list_sum(list_sort(list(v))) AS sv, count(*) AS n
           |  FROM comps GROUP BY 1, 2),
           |mu AS (SELECT dim, list_sum(list_sort(list(sv))) / sum(n) AS mu
           |  FROM mup GROUP BY 1),
           |cx AS MATERIALIZED (SELECT vec_id, label, dim, v - mu AS x
           |  FROM comps JOIN mu USING (dim)),
           |w1_0 AS (SELECT DISTINCT dim, 0.125 AS w FROM cx),
           |${iterSql(1, deflate = false)},
           |w2_0 AS (SELECT DISTINCT dim,
           |    CASE WHEN dim % 2 = 0 THEN 0.125 ELSE -0.125 END AS w FROM cx),
           |${iterSql(2, deflate = true)},
           |pc1 AS (SELECT vec_id, any_value(label) AS label,
           |    list_sum(list_sort(list(c.x * w.w))) AS pc1
           |  FROM cx c JOIN w1_3 w USING (dim) GROUP BY vec_id),
           |pc2 AS (SELECT vec_id, list_sum(list_sort(list(c.x * w.w))) AS pc2
           |  FROM cx c JOIN w2_3 w USING (dim) GROUP BY vec_id),
           |lp AS (SELECT label, vec_id // ${graft.ops.SortedFold.BucketCap} AS bkt,
           |    list_sum(list_sort(list(abs(pc1)))) AS s1,
           |    list_sum(list_sort(list(abs(pc2)))) AS s2, count(*) AS n
           |  FROM pc1 JOIN pc2 USING (vec_id) GROUP BY 1, 2)
           |SELECT label,
           |  round(list_sum(list_sort(list(s1))) / sum(n), 6) AS avg_abs_pc1,
           |  round(list_sum(list_sort(list(s2))) / sum(n), 6) AS avg_abs_pc2,
           |  CAST(sum(n) AS BIGINT) AS n
           |FROM lp GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // M12+M13 — GBT regression with the hyperparameter grid (reference's
    // Optuna HPO): TrainValidationSplit picks (maxDepth, stepSize) on a
    // seeded sample, one full fit at the winner, metric battery on the
    // deterministic 70/30 hash split (capability-level parity with the
    // reference's LightGBM+Optuna, SURVEY §7.4).
    //
    // Oracle-checkable VERDICT ROW (the a7b/a13b pattern, round-7 promotion
    // from no_oracle): a model fit isn't DuckDB-recomputable, so instead of
    // hashing raw metrics the query emits what the oracle CAN recompute —
    // the exact split sizes — plus in-engine-verified booleans that pin the
    // fit quality band and HPO sanity. Any fit regression (metrics out of
    // band, winner off-grid, malformed importances) flips a flag and
    // hash-mismatches. Bands are RELATIVE to the validation target mean so
    // they transfer across scale factors; calibration values and ceilings
    // live in ml.MlBands (re-pin via graft.GbtBandProbe). Raw metric values
    // stay visible via GbtBandProbe + MlLibPipelineSpec.
    "m12_gbt_metrics" -> QueryDef(
      (s, dir) => {
        // Target = net revenue, a nonlinear function of the features — the
        // synthetic columns are mutually independent (corr ≈ 0.003), so
        // predicting a raw column would only measure noise; this target
        // verifies the pipeline actually learns (r² near 1).
        val li = Tables.lineitem(s, dir)
          .withColumn("y", col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax")))
          .withColumn("is_train", pmod(col("l_orderkey") * lit(2654435761L), lit(100L)) < 70)
        val feats = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        // nTrain rides out of the fit (it was already counted for the fit
        // budget) — the old second filter+count scan of lineitem is gone
        // (round-14, guide §1.2).
        val (pred, bestDepth, bestStep, importances, nTrain) = MlPipelines.gbtFitHpo(
          li.filter(col("is_train")), li.filter(!col("is_train")), feats, "y")
        // Feature-importance ranking (reference …ipynb:8105-8121): the
        // top-weighted feature and its share.
        val (_, topImp) = feats.zip(importances).maxBy(_._2)
        pred.withColumn("err", col("prediction") - col("y"))
          .agg(count(lit(1)).as("n_valid"),
            avg(abs(col("err"))).as("mae"),
            sqrt(avg(col("err") * col("err"))).as("rmse"),
            (lit(1.0) - sum(col("err") * col("err")) /
              (var_samp(col("y")) * (count(lit(1)) - 1))).as("r2"),
            avg(col("y")).as("ybar"))
          .select(col("n_valid"), lit(nTrain).as("n_train"),
            (col("mae") <= col("ybar") * MlBands.MaeRelCeil).as("mae_ok"),
            (col("rmse") <= col("ybar") * MlBands.RmseRelCeil).as("rmse_ok"),
            (col("r2") >= lit(MlBands.R2Floor)).as("r2_ok"),
            lit(Set(3, 4).contains(bestDepth) &&
              Set(0.1, 0.3).contains(bestStep)).as("best_in_grid"),
            lit(math.abs(importances.sum - 1.0) <= 1e-6 && topImp > 0.0)
              .as("importances_ok"))
      },
      Some("""SELECT
             |  CAST(sum(CASE WHEN (l_orderkey * 2654435761) % 100 >= 70 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
             |  CAST(sum(CASE WHEN (l_orderkey * 2654435761) % 100 < 70 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
             |  true AS mae_ok, true AS rmse_ok, true AS r2_ok,
             |  true AS best_in_grid, true AS importances_ok
             |FROM lineitem""".stripMargin)),

    // M15 — convex hull aggregate of the point cloud (reference
    // MultiPoint.convex_hull): vertex count, area, perimeter. Oracle:
    // gift-wrapping recursive CTE (same technique as g3b) over the full
    // customer point set — vertex sets agree with the monotone chain in
    // generic position; rounding absorbs hypot-vs-sqrt ulps.
    "m15_convex_hull" -> QueryDef(
      (s, dir) => Tables.withSyntheticPoint(Tables.customer(s, dir), "c_custkey")
        .select(ConvexHull.convexHullStats(col("lon"), col("lat")).as("h"))
        .select(col("h.n_vertices").as("n_vertices"),
          round(col("h.area"), 8).as("area"),
          round(col("h.perimeter"), 6).as("perimeter")),
      Some {
        val (lonSql, latSql) = Tables.syntheticPointSql("c_custkey")
        s"""WITH RECURSIVE
           |pts AS (SELECT DISTINCT $lonSql AS x, $latSql AS y FROM customer),
           |start AS (SELECT x, y FROM pts ORDER BY y, x LIMIT 1),
           |hw(step, cx, cy) AS (
           |  SELECT 0, x, y FROM start
           |  UNION ALL
           |  SELECT h.step + 1, q.x, q.y
           |  FROM hw h JOIN pts q
           |    ON NOT (q.x = h.cx AND q.y = h.cy)
           |  WHERE h.step < 300
           |    AND NOT (h.step > 0 AND q.x = (SELECT x FROM start)
           |                        AND q.y = (SELECT y FROM start))
           |    AND NOT EXISTS (SELECT 1 FROM pts r
           |      WHERE NOT (r.x = h.cx AND r.y = h.cy)
           |        AND NOT (r.x = q.x AND r.y = q.y)
           |        AND ((q.x - h.cx) * (r.y - h.cy) - (q.y - h.cy) * (r.x - h.cx) < 0
           |          OR ((q.x - h.cx) * (r.y - h.cy) - (q.y - h.cy) * (r.x - h.cx) = 0
           |            AND (r.x-h.cx)*(r.x-h.cx) + (r.y-h.cy)*(r.y-h.cy)
           |              > (q.x-h.cx)*(q.x-h.cx) + (q.y-h.cy)*(q.y-h.cy))))),
           |seq AS (SELECT step, cx, cy,
           |    coalesce(lead(cx) OVER (ORDER BY step), (SELECT x FROM start)) AS nx,
           |    coalesce(lead(cy) OVER (ORDER BY step), (SELECT y FROM start)) AS ny
           |  FROM hw)
           |SELECT CAST(count(*) AS BIGINT) AS n_vertices,
           |  round(abs(sum(cx * ny - nx * cy)) / 2, 8) AS area,
           |  round(sum(sqrt((nx-cx)*(nx-cx) + (ny-cy)*(ny-cy))), 6) AS perimeter
           |FROM seq""".stripMargin
      })
  )
}
