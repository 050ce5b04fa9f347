package graft

/** Structural job budgets at sf0.01: each query is built and collected under
  * its own job group, and the jobs it starts must not exceed the committed
  * count. Unlike a wall-clock floor, a job count has no host noise.
  *
  *  - The SSSP family's counts are fixed by their plans; they are the ones
  *    measured when the fixture-sized SSSP path moved into one task.
  *  - A stream replay has two counts. Caller jobs run on the caller's
  *    thread: the source's schema inference, a sink read-back and the
  *    rollup over the replay's result. w14 started 4 before its rollup ran
  *    over a local frame, and 2 since. Micro-batch jobs run on the stream's
  *    own thread, under its run id: the batches and their sink writes, and
  *    a broadcast dimension's collect (w12). The six replay queries are
  *    pinned at the counts measured while the replays still wrote through a
  *    memory sink, a foreachBatch overwrite and a parquet file sink (tier-1
  *    session, sf0.01, 3 runs each, all equal), so routing every replay
  *    through one foreachBatch bracket may add no job on either thread.
  *  - The census queries are the ten the relational GraphOps loops
  *    dominate (connectedComponents, routes, pageRank, labelPropagation,
  *    kCoreEdges). Each budget is the most jobs any warm run started before
  *    those loops moved onto core.Materialize.iterate (tier-1 session,
  *    sf0.01; 18 warm runs of each CC query, 7 of the others), so the
  *    round driver may add no job. AQE re-plans a query as its stages
  *    finish, which moves the CC queries by a few jobs from run to run
  *    (lab1: 110–115), and a query's first run in a JVM can add one-time
  *    jobs (d10: 44–45 against 26–29 warm). A census query therefore
  *    passes when one of up to three runs stays within its budget. */
class JobBudgetSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.01"

  private val sssp = Seq(
    "g2_sssp" -> 4,
    "g3_isochrone" -> 6,
    "g3b_isochrone_hull" -> 6,
    "g7_poi_accessibility" -> 14,
    "lab3_road_network" -> 9)

  private val streams = Seq(
    "w14_stream_dedup" -> 2)

  private val replays = Seq(
    "w10_stream_hourly" -> Jobs(caller = 2, streams = 1),
    "w11_stream_sessions" -> Jobs(caller = 4, streams = 1),
    "w12_stream_enriched" -> Jobs(caller = 3, streams = 2),
    "w14_stream_dedup" -> Jobs(caller = 2, streams = 1),
    "w15_stream_join" -> Jobs(caller = 7, streams = 2),
    "w21_stream_transitions" -> Jobs(caller = 7, streams = 1))

  private val census = Seq(
    "m1_dbscan" -> 94,
    "lab1_noise_hotspots" -> 115,
    "d13_simhash_resolution" -> 40,
    "t6_corpus_curation" -> 25,
    "d10_canonical_pick" -> 29,
    "d5_dedup_groups" -> 27,
    "g8_pagerank" -> 62,
    "g2b_route" -> 44,
    "g10_label_prop" -> 30,
    "g11_kcore" -> 16)

  private def jobsOf(query: String): Int =
    jobsStartedBy(SparkEntry.queries(query)(spark, dir).collect())

  (sssp ++ streams).foreach { case (query, max) =>
    test(s"$query starts at most $max Spark jobs at sf0.01") {
      val jobs = jobsOf(query)
      assert(jobs <= max, s"$query started $jobs jobs; the budget is $max")
    }
  }

  replays.foreach { case (query, max) =>
    test(s"$query starts at most ${max.caller} caller and ${max.streams} micro-batch Spark jobs at sf0.01") {
      val jobs = jobCounts(SparkEntry.queries(query)(spark, dir).collect())
      assert(jobs.caller <= max.caller && jobs.streams <= max.streams,
        s"$query started $jobs; the budget is $max")
    }
  }

  census.foreach { case (query, max) =>
    test(s"$query starts at most $max Spark jobs at sf0.01") {
      val runs = LazyList.continually(jobsOf(query)).take(3)
      assert(runs.exists(_ <= max),
        s"$query started ${runs.mkString(", ")} jobs in three runs; the budget is $max")
    }
  }
}
