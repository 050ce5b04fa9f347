package graft.ops

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The inverted word-3-gram shingle index shared by the near-dup operators
  * (d2 Jaccard pairs, d3 MinHash verification, d5 dedup resolution, d7
  * TF-IDF cosine).
  *
  * Scale posture — document-frequency cap: a shingle shared by f documents
  * contributes f·(f−1)/2 candidate pairs to the self-join, so one boilerplate
  * shingle with df=10⁶ alone yields ~5·10¹¹ pairs. Capping df (default 100)
  * bounds the per-shingle fanout at cap²/2 while discarding only shingles too
  * common to discriminate near-duplicates — the standard production guard in
  * shingle-index dedup.
  *
  * Build shape — broadcast stop-shingle anti-join (ported round 14 from the
  * decade-four scale harness, where it was validated bit-identical at 500k
  * docs and turned a fatal ENOSPC into a 36 GiB-peak clean run at 50M docs;
  * BASELINE.md round 13 "decade FOUR" and round 14 sections): filtering the exploded (doc, sh)
  * relation by joining it against the KEEP set re-keys the full
  * data-proportional relation by `sh` and the downstream signature/pair
  * aggregates re-key it again by `doc_id` — two data-proportional shuffles
  * whose transient sum exceeded one box at decade 4. The production shape
  * inverts the filter: the OVER-cap set is small BY CONSTRUCTION
  * (≤ Σdf/cap distinct shingles, dominated by function-word boilerplate —
  * why real pipelines ship stop-shingle lists, not keep lists), so it
  * broadcasts into a left-anti join, doc locality survives from the scan
  * straight into downstream aggregates, and the only data-proportional
  * shuffle left in the build is the df count itself. A loud `require` on the
  * stop-set size refuses a corpus whose over-cap set outgrows a broadcast
  * instead of silently spilling.
  *
  * The capped index is MATERIALIZED TO PARQUET once per (session, dir) and
  * re-read by every consumer. Earlier rounds memoized a `localCheckpoint`ed
  * frame instead, which held the index as unrecomputable executor-memory
  * blocks across the whole suite — fragile against block eviction / the
  * between-query sweep (the suspected driver-bench d3/d4/d5 ~50 s anomaly in
  * round 2) and against executor loss on a real cluster. A parquet
  * intermediate is the production shape: scan-cheap, sweep-immune, and
  * exactly how a 100 TB pipeline would stage a shared index between jobs.
  */
object ShingleIndex {

  /** Max document frequency a shingle may have and still generate pairs. */
  val DfCap = 100

  /** Refuse-loudly bound on the broadcast stop-shingle set. The over-cap set
    * is ≤ Σshingles/cap rows by construction (~25M at 50M docs measured
    * 36k — df mass concentrates in few boilerplate shingles), so 20M string
    * rows (~0.5–1 GiB broadcast) marks a corpus that needs a partitioned
    * stop list, not silent spill. */
  val StopSetMaxRows = 20000000L

  /** The OVER-cap shingle set (df > cap) from an exploded (doc_id, sh)
    * frame, persisted + counted against [[StopSetMaxRows]] so the build
    * fails loudly rather than attempting an over-sized broadcast. Caller
    * unpersists. */
  private def stopSet(shAll: DataFrame, cap: Int): DataFrame = {
    val over = shAll.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap)
      .select("sh")
      .persist()
    val nOver = over.count()
    require(nOver <= StopSetMaxRows,
      s"over-cap stop-shingle set is $nOver rows — too large to broadcast; " +
        "raise the df cap or partition the stop list")
    over
  }

  /** (doc_id, sh) rows over distinct word-3-grams with df ≤ [[DfCap]],
    * parquet-staged once per (application, dir) via [[Staged]] — the
    * returned frame is re-created per call from the CURRENT session, so no
    * cached plan can outlive its session. The build skips cappedOf's eager
    * localCheckpoint (the parquet write IS the materialization); the
    * exploded build-side cache and the broadcast stop-set persist through
    * the write and are released right after it. */
  def capped(s: SparkSession, dir: String): DataFrame = {
    var shAll: DataFrame = null
    var over: DataFrame = null
    Staged(s, s"shidx:$dir",
        afterWrite = () => {
          if (shAll != null) shAll.unpersist(blocking = true)
          if (over != null) over.unpersist(blocking = true)
        }) {
      shAll = graft.core.Tables.fanout(graft.core.Tables.documents(s, dir))
        .select(col("doc_id"),
          explode(array_distinct(
            graft.functions.ShingleExpr.shinglesNative(tokens(col("text")), 3))).as("sh"))
        .persist()
      over = stopSet(shAll, DfCap)
      // repartition(sh) + local sort: the measured r14 lesson (BASELINE.md
      // round-14 ShingleIndex section, three variants countered at the 5M
      // rung). The old keep-join's SMJ shuffle doubled as CLUSTERING for
      // the staged parquet — dropping it left the index doc-ordered and
      // every downstream sh-keyed pair-join exchange lost its
      // hash-bucket-contiguity compression (d7 shuffle read 31.8 → 54.5
      // GiB doc-ordered; local sort alone recovered only to 48.6 — hash
      // partitioning scatters a lexicographic sort, so each map task still
      // sprayed all buckets). Re-adding the hash partitioning restores the
      // exact r11 physical layout (hash(sh)-partitioned, sh-sorted within)
      // so each consumer map task feeds ONE reduce bucket; the build still
      // beats the keep-join SMJ because the broadcast anti-join sorts
      // nothing on the 10⁹-row side — the one shuffle here is pure
      // repartitioning that the parquet write immediately absorbs, the
      // standard pay-once clustering a multi-consumer staged index wants.
      shAll.join(broadcast(over), Seq("sh"), "left_anti")
        .select("doc_id", "sh")
        .repartition(col("sh"))
        .sortWithinPartitions("sh")
    }
  }

  /** The capped index over an arbitrary documents frame (doc_id, text),
    * eagerly materialized (localCheckpoint) with its build-side cache
    * released. The raw exploded index feeds both the df aggregate and the
    * join side, so it is persisted for the build — tokenizing the corpus
    * twice is the kind of cost that doubles silently. */
  def cappedOf(docs: DataFrame, cap: Int = DfCap): DataFrame = {
    val shAll = graft.core.Tables.fanout(docs)
      .select(col("doc_id"),
        explode(array_distinct(
          graft.functions.ShingleExpr.shinglesNative(tokens(col("text")), 3))).as("sh"))
      .persist()
    val over = stopSet(shAll, cap)
    // Same local sh-sort as [[capped]]: the checkpointed blocks feed
    // sh-keyed pair joins whose exchanges compress on shingle adjacency.
    val out = shAll.join(broadcast(over), Seq("sh"), "left_anti")
      .select("doc_id", "sh")
      .sortWithinPartitions("sh")
      .localCheckpoint(true)
    shAll.unpersist(blocking = true)
    over.unpersist(blocking = true)
    out
  }

  /** DuckDB fragment mirroring [[capped]]: CTEs `sh_all`, `sh` (capped).
    * Callers embed it after their own `toks AS (...)` CTE. */
  val cappedSql: String =
    s"""sh_all AS (SELECT doc_id, unnest(list_distinct(
       |    [t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
       |     for i in generate_series(0, len(t) - 3)])) AS sh
       |  FROM toks WHERE len(t) >= 3),
       |rare AS (SELECT sh FROM sh_all GROUP BY sh HAVING count(*) <= $DfCap),
       |sh AS (SELECT doc_id, sh_all.sh FROM sh_all JOIN rare USING (sh))""".stripMargin
}
