package graft.spatial

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distance-band pair statistics with coincident-point collapse (the j14
  * operator's scale-hardened core; same treatment ml/Dbscan.scala:43-47 and
  * ml/Knn.scala:39-53 give their candidate joins).
  *
  * The op's OUTPUT is an aggregate over all point pairs within ε, so the
  * pairs never need enumerating: points sharing an exact coordinate are
  * interchangeable, and every pair statistic folds over weighted distinct
  * locations instead —
  *   cross-location (A ≠ B, within ε):  n = w_A·w_B pairs at distance d(A,B);
  *     Σ(id_a + id_b) over them = w_B·S_A + w_A·S_B  (S = per-location id sum)
  *   within-location (d = 0 ≤ ε):       n = C(w, 2);  Σ(id_a + id_b) = (w−1)·S
  * Work is therefore quadratic in DISTINCT locations per cell (guarded by
  * ops.GridGuard), never in coincident mass: a geocoding default with 10⁶
  * rows at one coordinate is ONE location row, where the naive id-level join
  * enumerates ~5·10¹¹ pairs (GEOSCALE_r06.json records the naive shape at
  * 4.6·10⁸ pairs already at its 10× coincident corpus).
  *
  * Grid blocking is the standard one: cell width = ε, each location probes
  * its 3×3 neighborhood through one equi-join on the cell key, exact ε
  * recheck after. Unordered location pairs appear once via rep-id ordering.
  */
object DistanceBand {

  /** `pts`: (id, x, y). One row: (n_pairs, id_checksum, min_dist, max_dist)
    * over all unordered point pairs within `eps` — identical to the naive
    * id-level pair enumeration's aggregate. */
  def pairStats(pts: DataFrame, eps: Double,
                maxCellCount: Int = graft.ops.GridGuard.DefaultMaxCellCount): DataFrame = {
    val locs = pts.groupBy("x", "y")
      .agg(count(lit(1)).as("w"), sum("id").as("s"), min("id").as("rid"))
      .withColumn("cx", floor(col("x") / eps))
      .withColumn("cy", floor(col("y") / eps))
    graft.ops.GridGuard.requireBoundedCells(locs, Seq("cx", "cy"), maxCellCount,
      "distance band")

    val probe = locs
      .withColumn("ox", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("oy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("rid").as("rid_a"), col("w").as("wa"), col("s").as("sa"),
        col("x").as("xa"), col("y").as("ya"),
        (col("cx") + col("ox")).as("cx"), (col("cy") + col("oy")).as("cy"))
    val cross = probe.join(locs, Seq("cx", "cy"))
      .filter(col("rid_a") < col("rid"))
      .withColumn("d2",
        (col("xa") - col("x")) * (col("xa") - col("x"))
          + (col("ya") - col("y")) * (col("ya") - col("y")))
      .filter(col("d2") <= lit(eps * eps))
      .agg(coalesce(sum(col("wa") * col("w")), lit(0L)).as("n_cross"),
        coalesce(sum(col("w") * col("sa") + col("wa") * col("s")), lit(0L))
          .as("ck_cross"),
        min(sqrt(col("d2"))).as("min_cross"),
        max(sqrt(col("d2"))).as("max_cross"))
    // w·(w−1) is even, so the halved product is an exact integer — keep the
    // whole fold in BIGINT (Spark's `/` is double division).
    val within = locs.agg(
      coalesce(sum((col("w") * (col("w") - 1) / 2).cast("long")), lit(0L)).as("n_within"),
      coalesce(sum((col("w") - 1) * col("s")), lit(0L)).as("ck_within"))

    // Two 1-row frames — broadcast crossJoin, the two-phase agg pattern.
    cross.crossJoin(within).select(
      (col("n_cross") + col("n_within")).as("n_pairs"),
      (col("ck_cross") + col("ck_within")).as("id_checksum"),
      // least/greatest skip nulls: coincident pairs contribute distance 0
      // only when they exist; no pairs at all → null, as the naive aggregate.
      round(least(col("min_cross"),
        when(col("n_within") > 0, lit(0.0))), 6).as("min_dist"),
      round(greatest(col("max_cross"),
        when(col("n_within") > 0, lit(0.0))), 6).as("max_dist"))
  }
}
