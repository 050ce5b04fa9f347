package graft.queries

import graft.{QueryCatalog, QueryDef}
import graft.core.Tables
import graft.streaming.EventsAnomaly
import org.apache.spark.sql.functions._

/** Streaming-surface queries (SURVEY.md §1.1 — batch + Structured Streaming
  * flavors of the events pipeline).
  *
  * w9 runs native session_window in batch mode; w10 actually executes the
  * STREAMING path (parquet file source → watermark → windowed agg → memory
  * sink, Trigger.AvailableNow) and is checked against the same DuckDB oracle
  * as the batch query — bounded-replay equivalence.
  */
object StreamQueries extends QueryCatalog {

  private val gapUs = 30L * 60 * 1000000 // 30 min in microseconds

  /** Gap-sessionize oracle shared by the batch (w9) and streaming (w11)
    * session_window queries — both must reproduce it exactly. */
  private val sessionOracle =
    s"""WITH t AS (SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events),
       |flagged AS (SELECT user_id, us,
       |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
       |      >= $gapUs THEN 1 ELSE 0 END AS brk
       |  FROM t),
       |sess AS (SELECT user_id,
       |    sum(brk) OVER (PARTITION BY user_id ORDER BY us
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM flagged),
       |per_sess AS (SELECT user_id, sid, count(*) AS n_events
       |  FROM sess GROUP BY 1, 2)
       |SELECT user_id, count(*) AS n_sessions,
       |  max(n_events) AS max_session_events,
       |  CAST(sum(n_events) AS BIGINT) AS n_total
       |FROM per_sess GROUP BY 1 ORDER BY 1 LIMIT 50""".stripMargin

  private def sessionSummary(perSession: org.apache.spark.sql.DataFrame) =
    perSession
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        max("n_events").as("max_session_events"),
        sum("n_events").as("n_total"))
      .orderBy("user_id").limit(50)

  def defs: Map[String, QueryDef] = Map(

    // Native session_window (gap ≤ 30 min merges), per-user summary.
    "w9_session_window" -> QueryDef(
      (s, dir) => sessionSummary(Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))),
      Some(sessionOracle)),

    // The STREAMING path of the same sessionization: parquet file stream →
    // watermark → session_window state merges across micro-batches →
    // parquet sink; the per-user rollup runs in batch over the sink. Checked
    // against the identical oracle as w9 — streaming/batch equivalence for
    // stateful session windows, same contract as w10 for tumbling windows.
    "w11_stream_sessions" -> QueryDef(
      // replayBoundedLarge, not replayBounded: the session table is
      // data-proportional (one row per closed session), so the complete-mode
      // result goes to a distributed parquet sink, never through the driver
      // (the sf10 whale broke the memory-sink form on maxResultSize).
      (s, dir) => sessionSummary(
        EventsAnomaly.replayBoundedLarge(s, s"$dir/events.parquet",
          src => EventsAnomaly.userSessions(
            Tables.normalizeEvents(src), "30 minutes"))),
      Some(sessionOracle)),

    // Stream-static enrichment join over the replay harness: the event
    // stream joins the broadcast 5-row region dimension per micro-batch,
    // then hourly per-region windowed counts; the batch rollup summarizes
    // per region. Exercises the join+stateful-agg combination (w10/w11
    // cover aggregation alone).
    "w12_stream_enriched" -> QueryDef(
      (s, dir) => {
        val dim = Tables.region(s, dir)
          .select(col("r_regionkey").as("rk"), col("r_name"))
        EventsAnomaly.replayBounded(s, s"$dir/events.parquet",
            src => EventsAnomaly.enrichedHourly(Tables.normalizeEvents(src), dim, 5))
          .groupBy("r_name")
          .agg(count(lit(1)).as("n_hours"),
            sum("cnt").as("n_events"),
            max("cnt").as("max_hourly"))
          .orderBy("r_name")
      },
      Some("""WITH h AS (SELECT r_name, epoch_ns(ts) // 3600000000000 AS hr,
             |    count(*) AS cnt
             |  FROM events e JOIN region r ON e.user_id % 5 = r.r_regionkey
             |  GROUP BY 1, 2)
             |SELECT r_name, count(*) AS n_hours,
             |  CAST(sum(cnt) AS BIGINT) AS n_events, max(cnt) AS max_hourly
             |FROM h GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Streaming exact dedup through the replay harness:
    // dropDuplicatesWithinWatermark state across micro-batches (keyed on
    // event_id ALONE — same-id-different-ts duplicates drop too, matching
    // the count(DISTINCT event_id) oracle on any corpus), then a per-type
    // rollup. What matters is that the STREAMING path (stateful dedup
    // operator, not batch distinct) reproduces the batch answer.
    "w14_stream_dedup" -> QueryDef(
      (s, dir) => {
        val deduped = EventsAnomaly.replayBounded(s, s"$dir/events.parquet",
          src => EventsAnomaly.dedupStream(
            Tables.normalizeEvents(src), Seq("event_id"))
            .groupBy("event_type").agg(count(lit(1)).as("n")))
        deduped.orderBy("event_type")
      },
      Some("""SELECT event_type, count(DISTINCT event_id) AS n
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // W15 — STREAM-STREAM interval join through the append-mode replay
    // harness: the purchase stream inner-joins the click stream on user
    // within a trailing 30-minute window (ad-attribution shape), both sides
    // watermarked so join state stays bounded; the per-cohort rollup runs
    // in batch over the emitted pairs. Oracle = the identical interval join
    // in DuckDB over the static table — streaming/batch equivalence for
    // the one streaming operator class (two-stream correlation) w10-w14
    // did not yet cover. Gap sums stay integer-exact.
    "w15_stream_join" -> QueryDef(
      (s, dir) => {
        val windowSec = 1800L
        EventsAnomaly.replayBoundedJoin(s, s"$dir/events.parquet",
            (a, b) => EventsAnomaly.purchaseClickJoin(
              Tables.normalizeEvents(a), Tables.normalizeEvents(b), windowSec))
          .withColumn("gap_s", expr("(p_ts_ns - c_ts_ns) div 1000000000"))
          .groupBy(pmod(col("p_user"), lit(4L)).as("cohort"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("p_id")).as("n_purchases_matched"),
            sum("gap_s").as("total_gap_s"),
            max("gap_s").as("max_gap_s"))
          .orderBy("cohort")
      },
      Some("""WITH ev AS (SELECT event_id, epoch_ns(ts) AS ts_ns, user_id, event_type
             |  FROM events),
             |p AS (SELECT user_id, ts_ns, event_id FROM ev
             |  WHERE event_type = 'purchase'),
             |c AS (SELECT user_id, ts_ns, event_id FROM ev
             |  WHERE event_type = 'click'),
             |j AS (SELECT p.user_id, p.event_id AS p_id,
             |    (p.ts_ns - c.ts_ns) // 1000000000 AS gap_s
             |  FROM p JOIN c ON p.user_id = c.user_id
             |    AND c.ts_ns >= p.ts_ns - 1800000000000
             |    AND c.ts_ns <= p.ts_ns)
             |SELECT user_id % 4 AS cohort, count(*) AS n_pairs,
             |  count(DISTINCT p_id) AS n_purchases_matched,
             |  CAST(sum(gap_s) AS BIGINT) AS total_gap_s,
             |  CAST(max(gap_s) AS BIGINT) AS max_gap_s
             |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Structured Streaming replay: hourly tumbling counts with a 1-hour
    // watermark over the parquet-file stream; must reproduce the batch
    // w1_hourly_counts result exactly.
    "w10_stream_hourly" -> QueryDef(
      (s, dir) => EventsAnomaly.replayBounded(s, s"$dir/events.parquet",
          src => EventsAnomaly.hourlyCounts(Tables.normalizeEvents(src)))
        .orderBy("hour_epoch"),
      Some("""SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS hour_epoch, count(*) AS cnt
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // W21 — STREAMING transition matrix: flatMapGroupsWithState keeps each
    // user's last event as state and emits (prev → next) pairs incrementally
    // (append mode — a flatMap's per-group emissions aren't expressible as a
    // complete-mode aggregate); the pair rollup + row normalization runs in
    // batch over the emitted rows. Must reproduce the batch lag-window
    // result (w18) on the SAME oracle — the stateful-streaming/batch
    // equivalence check for custom keyed state.
    "w21_stream_transitions" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val pairs = EventsAnomaly.replayBoundedAppend(s, s"$dir/events.parquet",
          src => {
            val sp = src.sparkSession
            import sp.implicits._
            graft.streaming.StatefulOps.transitionStream(
              Tables.normalizeEvents(src)
                .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
                .as[graft.streaming.StatefulOps.Ev]).toDF
          })
        val m = pairs.groupBy("prev_type", "event_type").agg(count(lit(1)).as("n"))
        val row = Window.partitionBy("prev_type")
        m.withColumn("p", round(col("n").cast("double") / sum("n").over(row), 6))
          .orderBy("prev_type", "event_type")
      },
      Some("""WITH ev AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS ts_ns
             |  FROM events),
             |pairs AS (SELECT lag(event_type, 1) OVER (PARTITION BY user_id
             |    ORDER BY ts_ns, event_id) AS prev_type, event_type
             |  FROM ev),
             |m AS (SELECT prev_type, event_type, count(*) AS n FROM pairs
             |  WHERE prev_type IS NOT NULL GROUP BY 1, 2)
             |SELECT prev_type, event_type, n,
             |  round(n / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p
             |FROM m ORDER BY prev_type, event_type""".stripMargin))
  )
}
