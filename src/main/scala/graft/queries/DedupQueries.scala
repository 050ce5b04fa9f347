package graft.queries

import graft.{QueryCatalog, QueryDef}
import graft.core.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — the core of a pretraining
  * data pipeline at 100 TB: exact (hash groupBy), n-gram Jaccard
  * (inverted-index pair generation), MinHash+LSH (banded signatures), and
  * SimHash (pigeonhole block join).
  *
  * Scale posture: NO pairwise cross join anywhere. Candidate pairs always
  * come from an equi-join on a bounded-fanout key (shingle, LSH band, SimHash
  * block), so work is proportional to true collisions, not n². All hashes are
  * md5-derived (cross-engine deterministic — see TextFunctions.hash64).
  */
object DedupQueries extends QueryCatalog {

  /** DuckDB fragment: the same 60-bit md5 hash as TextFunctions.hash64. */
  private def h64(e: String) = s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"

  /** DuckDB fragment replaying ops.SimHashWide's candidate chain — shared
    * by the d4b stage query and the d13 end-to-end resolution.
    *
    * The width rule: ceil(log2 n) (exact for every integer n ≥ 2 — see
    * SimHashWide.widthFor's bit-twiddled form) + 6 margin, clamped to
    * [12, 32]; 4 blocks (Hamming radius 3); words of 60 usable hash bits.
    * Block keys cross word boundaries exactly as SimHashWide.blockKey: low
    * bits from word wi at offset `off`, the remainder from the PRE-MASKED
    * low bits of word wi+1 (masking before the shift keeps every
    * intermediate below 2^width, so no engine-specific overflow semantics
    * are in play). Ends at `ham(id_a, id_b, hamming)` over candidates;
    * `p(n, width, words)` stays in scope for consumers. */
  private lazy val simWideHamSql: String =
    s"""p AS (SELECT count(*) AS n,
       |    LEAST(32, GREATEST(12, CAST(ceil(log2(count(*)::DOUBLE)) AS INT) + 6)) AS width,
       |    CAST((4 * LEAST(32, GREATEST(12, CAST(ceil(log2(count(*)::DOUBLE)) AS INT) + 6)) + 59) // 60 AS INT) AS words
       |  FROM documents),
       |tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sgl AS (SELECT doc_id,
       |    [t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
       |     for i in generate_series(0, len(t) - 3)] AS shingles
       |  FROM tk WHERE len(t) >= 3),
       |hwk AS (SELECT doc_id, shingles,
       |    unnest(generate_series(0, p.words - 1)) AS w FROM sgl, p),
       |hw AS (SELECT doc_id, w,
       |    [${h64("'shw' || w::VARCHAR || ':' || s")} for s in shingles] AS hashes
       |  FROM hwk),
       |wv AS (SELECT doc_id, w,
       |    CAST(list_sum([ CASE WHEN list_sum([ ((h >> b) & 1) * 2 - 1
       |        for h in hashes ]) > 0 THEN (1::BIGINT << b) ELSE 0 END
       |      for b in generate_series(0, 59) ]) AS BIGINT) AS word_val
       |  FROM hw),
       |sigs AS (SELECT doc_id, list(word_val ORDER BY w) AS sh FROM wv GROUP BY doc_id),
       |blk0 AS (SELECT doc_id, sh, unnest(generate_series(0, 3)) AS b FROM sigs),
       |blocked AS (SELECT doc_id, sh,
       |    b::VARCHAR || ':' ||
       |    (((sh[(b * p.width) // 60 + 1] >> ((b * p.width) % 60))
       |      | (CASE WHEN ((b * p.width) % 60) + p.width > 60
       |          THEN ((sh[(b * p.width) // 60 + 2]
       |                 & ((1::BIGINT << (p.width - (60 - (b * p.width) % 60))) - 1))
       |                << (60 - (b * p.width) % 60))
       |          ELSE 0 END))
       |     & ((1::BIGINT << p.width) - 1))::VARCHAR AS blk
       |  FROM blk0, p),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.sh AS ha, b.sh AS hb
       |  FROM blocked a JOIN blocked b
       |    ON a.blk = b.blk AND a.doc_id < b.doc_id),
       |ham AS (SELECT id_a, id_b,
       |    CAST(list_sum([ bit_count(xor(ha[w+1], hb[w+1]))
       |      for w in generate_series(0, p.words - 1) ]) AS BIGINT) AS hamming
       |  FROM cand, p)""".stripMargin

  /** Near-dup pairs with Jaccard ≥ 0.5 over the capped shingle index,
    * parquet-staged per (application, dir): d2 orders/reports them and d5
    * resolves them to survivor groups — the pair join runs once, not once
    * per consumer. Filter on the RAW ratio (matching both oracles), report
    * the 6-dp rounded value. */
  private def jaccardPairs(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.ops.Staged(s, s"jacpairs:$dir") {
      val sh = graft.ops.ShingleIndex.capped(s, dir)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      sh.as("a").join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("sa")), "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("sb")), "id_b")
        .filter(col("inter") / (col("sa") + col("sb") - col("inter")) >= 0.5)
        .withColumn("jaccard",
          round(col("inter") / (col("sa") + col("sb") - col("inter")), 6))
        .select("id_a", "id_b", "jaccard")
    }

  def defs: Map[String, QueryDef] = Map(

    // D1 — exact dedup by content hash: the corpus unioned with itself must
    // collapse back to one row per distinct text, keeping the smallest id
    // (deterministic survivor policy). Hash-groupBy: one shuffle on the
    // 128-bit digest, no text comparison beyond the hash.
    "d1_exact_dedup" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "text", "source")
        val doubled = docs.unionByName(
          docs.withColumn("doc_id", col("doc_id") + 100000L))
        doubled
          .groupBy(md5(col("text")).as("fp"))
          .agg(min("doc_id").as("kept_id"), count(lit(1)).as("n_copies"))
          .groupBy("n_copies")
          .agg(count(lit(1)).as("n_groups"), min("kept_id").as("min_kept"))
          .orderBy("n_copies")
      },
      Some("""WITH doubled AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL SELECT doc_id + 100000, text FROM documents),
             |g AS (SELECT md5(text) AS fp, min(doc_id) AS kept_id,
             |        count(*) AS n_copies FROM doubled GROUP BY 1)
             |SELECT n_copies, count(*) AS n_groups, min(kept_id) AS min_kept
             |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)),

    // D2 — n-gram Jaccard near-dup pairs via an inverted shingle index:
    // distinct word-3-grams per doc, equi-join docs sharing a shingle,
    // Jaccard = |∩| / (|A|+|B|−|∩|) ≥ 0.5 — over the df-capped index
    // (ShingleIndex: ultra-common shingles generate O(df²) candidate pairs
    // and discriminate nothing, so they are dropped before the self-join;
    // sizes are post-cap so inter ≤ size always holds).
    "d2_ngram_jaccard" -> QueryDef(
      (s, dir) => jaccardPairs(s, dir)
        .orderBy(desc("jaccard"), col("id_a"), col("id_b")),
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |${graft.ops.ShingleIndex.cappedSql},
             |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
             |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
             |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |  round(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
             |FROM inter
             |JOIN sizes sa ON sa.doc_id = id_a
             |JOIN sizes sb ON sb.doc_id = id_b
             |WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= 0.5
             |ORDER BY jaccard DESC, id_a, id_b""".stripMargin),
      headline = true),

    // D7 — weighted (TF-IDF-style) cosine similarity over the same inverted
    // index: each shingle weighted by inverse document frequency w² =
    // ⌊2⁴⁰/df²⌋, a FIXED-POINT rational (not ln(N/df) — libm transcendentals
    // are not bit-identical across engines, and any monotone-decreasing df
    // weight serves the ranking). Integer weights make every sum an
    // order-free exact long — plain map-side-combinable aggregates, no
    // per-group collect/sort (the first cut folded sorted double lists per
    // pair and cost 2× the Jaccard query). cos = Σw²/√(‖a‖²‖b‖²) over
    // shared shingles, binary per-doc occurrence; the final divide/sqrt is
    // one double op on integer-exact inputs. Same df-capped self-join scale
    // posture as d2.
    "d7_tfidf_similarity" -> QueryDef(
      (s, dir) => {
        val sh = graft.ops.ShingleIndex.capped(s, dir)
        val dfq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
        // `div` (not `/`): Spark's `/` on longs is fractional double division,
        // which would make the weights order-dependent FP; `div` is floored
        // integer division returning LONG, matching DuckDB's `//` exactly, so
        // every downstream sum is an order-free exact long.
        val wsh = sh.join(dfq, "sh")
          .withColumn("iw2", expr(s"${1L << 40}L div (df * df)"))
        val norms = wsh.groupBy("doc_id").agg(sum("iw2").as("n2"))
        wsh.as("a").join(wsh.as("b"),
            col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(sum(col("a.iw2")).as("dot"))
          .join(norms.select(col("doc_id").as("id_a"), col("n2").as("na2")), "id_a")
          .join(norms.select(col("doc_id").as("id_b"), col("n2").as("nb2")), "id_b")
          .withColumn("cos", round(col("dot").cast("double") /
            sqrt(col("na2").cast("double") * col("nb2").cast("double")), 6))
          .filter(col("cos") >= 0.5)
          .select("id_a", "id_b", "cos")
          .orderBy(desc("cos"), col("id_a"), col("id_b"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |${graft.ops.ShingleIndex.cappedSql},
             |dfq AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1),
             |wsh AS (SELECT doc_id, sh.sh, (1::BIGINT << 40) // (df * df) AS iw2
             |  FROM sh JOIN dfq USING (sh)),
             |norms AS (SELECT doc_id, CAST(sum(iw2) AS BIGINT) AS n2
             |  FROM wsh GROUP BY 1),
             |dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |    CAST(sum(a.iw2) AS BIGINT) AS dot
             |  FROM wsh a JOIN wsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |scored AS (SELECT id_a, id_b,
             |    round(CAST(dot AS DOUBLE) /
             |      sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6) AS cos
             |  FROM dots
             |  JOIN norms na ON na.doc_id = id_a
             |  JOIN norms nb ON nb.doc_id = id_b)
             |SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.5
             |ORDER BY cos DESC, id_a, id_b""".stripMargin)),

    // D5 — dedup resolution: near-dup PAIRS (the D2 Jaccard ≥ 0.5 output)
    // → connected components (shared star-contraction CC) → keep-min-id
    // survivor groups — the terminal keep/drop step of a dedup pipeline.
    // Oracle: transitive closure by recursive CTE over the (small) pair set.
    "d5_dedup_groups" -> QueryDef(
      (s, dir) => {
        val pairs = jaccardPairs(s, dir)
        graft.graph.GraphOps.connectedComponents(
            pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
          .groupBy("component")
          .agg(count(lit(1)).as("group_size"),
            min("id").as("keep_id"), max("id").as("max_dropped"))
          .select("keep_id", "group_size", "max_dropped")
          .orderBy("keep_id")
      },
      Some(s"""WITH RECURSIVE
             |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |${graft.ops.ShingleIndex.cappedSql},
             |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
             |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
             |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |pairs AS (SELECT id_a, id_b FROM inter
             |  JOIN sizes sa ON sa.doc_id = id_a
             |  JOIN sizes sb ON sb.doc_id = id_b
             |  WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= 0.5),
             |sym AS (SELECT id_a AS a, id_b AS b FROM pairs
             |  UNION SELECT id_b, id_a FROM pairs),
             |walk(a, b) AS (SELECT a, b FROM sym
             |  UNION SELECT w.a, s.b FROM walk w JOIN sym s ON w.b = s.a),
             |comp AS (SELECT a AS id, least(a, min(b)) AS component
             |  FROM walk GROUP BY a)
             |SELECT component AS keep_id, count(*) AS group_size,
             |  max(id) AS max_dropped
             |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin)),

    // D3 — MinHash + LSH: 16-component signatures over the df-capped
    // DISTINCT WORD-3-GRAM index, 8 bands × 2 rows. Shingles, not unigrams:
    // the corpus vocabulary is ~31 words, so unigram minima collapse
    // corpus-wide and every band becomes one giant bucket (measured: a
    // 600-second quadratic pair join at sf0.1). The signature computes
    // RELATIONALLY off the shared ShingleIndex — one md5 per (doc, shingle)
    // row, 16 codegen'd min-aggregates in a single hash-agg pass (the
    // per-doc array-HOF form evaluates interpreted and re-walks the array
    // per seed). Candidates = docs sharing any band key; verification =
    // exact Jaccard + the signature's own estimate, so the output exposes
    // estimator quality. Verification joins the candidate ids BACK TO THE
    // INVERTED INDEX (two narrow equi-joins + a count) — NOT a per-doc
    // collect_list of shingles carried through the aggregate: rows stay a
    // few longs wide at every stage, which is what survives 100 TB.
    "d3_minhash_lsh" -> QueryDef(
      (s, dir) => {
        val k = 16
        val sh = graft.ops.ShingleIndex.capped(s, dir)
        val hashed = sh.withColumn("h", hash64(col("sh")))
        val sigCols = (0 until k).map(i =>
          min(seededFromBase(i, col("h"))).as(s"s$i"))
        val sigs = hashed.groupBy("doc_id")
          .agg(sigCols.head, sigCols.tail: _*)
          .withColumn("sig", array((0 until k).map(i => col(s"s$i")): _*))
          .select("doc_id", "sig")
          .persist() // consumed by banding and twice by pair re-attachment
        val banded = sigs.select(col("doc_id"),
          explode(lshBandKeys(col("sig"), 8, 2)).as("band"))
        val pairIds = banded.as("a").join(banded.as("b"),
            col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .dropDuplicates("id_a", "id_b")
        // |A ∩ B| for candidate pairs only: re-join each side to the index on
        // (doc_id, sh) and count shared shingles. A candidate sharing zero
        // shingles drops out of the inner join — it cannot pass the Jaccard
        // gate anyway.
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
        val inter = pairIds
          .join(sh.select(col("doc_id").as("id_a"), col("sh")), "id_a")
          .join(sh.select(col("doc_id").as("id_b"), col("sh")), Seq("id_b", "sh"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
        val result = inter
          .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("sa_n")), "id_a")
          .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("sb_n")), "id_b")
          .withColumn("jaccard", round(
            col("inter") / (col("sa_n") + col("sb_n") - col("inter")), 6))
          .filter(col("jaccard") >= 0.6)
          .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sa")), "id_a")
          .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sb")), "id_b")
          .withColumn("est", round(signatureMatchFraction(col("sa"), col("sb"), k), 6))
          .select("id_a", "id_b", "est", "jaccard")
          .orderBy(desc("jaccard"), col("id_a"), col("id_b"))
        graft.QueryDef.materialized(result, sigs)
      },
      Some {
        val p = 2147483647L
        val sigMins = (0 until 16).map(i =>
          s"min(((h % $p) * (${2 * i + 3}) + (${i * 12345 + 67891})) % $p) AS s$i")
          .mkString(",\n           |    ")
        val sigArr = (0 until 16).map(i => s"s$i").mkString("[", ", ", "]")
        s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |${graft.ops.ShingleIndex.cappedSql},
           |hs AS (SELECT doc_id, sh, ${h64("sh")} AS h FROM sh),
           |sigs AS (SELECT doc_id, list_sort(list(sh)) AS toks,
           |    $sigMins
           |  FROM hs GROUP BY doc_id),
           |sigarr AS (SELECT doc_id, toks, $sigArr AS sig FROM sigs),
           |banded AS (SELECT doc_id, toks, sig,
           |    unnest([ b::VARCHAR || '_' || sig[2*b+1]::VARCHAR || '_' || sig[2*b+2]::VARCHAR
           |             for b in generate_series(0, 7) ]) AS band
           |  FROM sigarr),
           |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           |    a.toks AS ta, b.toks AS tb, a.sig AS sa, b.sig AS sb
           |  FROM banded a JOIN banded b
           |    ON a.band = b.band AND a.doc_id < b.doc_id),
           |scored AS (SELECT id_a, id_b,
           |    round(list_sum([ CASE WHEN sa[i+1] = sb[i+1] THEN 1 ELSE 0 END
           |      for i in generate_series(0, 15) ]) / 16.0, 6) AS est,
           |    len(list_intersect(ta, tb)) AS inter,
           |    len(ta) AS la, len(tb) AS lb
           |  FROM cand)
           |SELECT id_a, id_b, est,
           |  round(inter * 1.0 / (la + lb - inter), 6) AS jaccard
           |FROM scored
           |WHERE inter * 1.0 / (la + lb - inter) >= 0.6
           |ORDER BY jaccard DESC, id_a, id_b""".stripMargin
      }),

    // D4 — SimHash near-dup: 48-bit signatures over word-3-gram shingles
    // (shingles for the same vocabulary-collapse reason as D3; 48 bits so
    // the signature space exceeds corpus size with headroom at 10¹⁰ docs —
    // 32 bits saturates there); Hamming ≤ 3 pairs found by the pigeonhole
    // block join — 4 blocks of 12 bits: ≤ 3 differing bits leave ≥ 1 block
    // untouched, so any-block agreement is a superset — then exact popcount
    // verification. Equi-join on (block index, value): no cross join.
    // MINIMAL block count maximizes block width: the scale-evidence run
    // measured 6×8-bit blocks saturating at 50k docs (~n²/256 random
    // collisions per block = 30M candidate pairs); 12-bit blocks widen the
    // value space 16× and push saturation out equally far.
    "d4_simhash" -> QueryDef(
      (s, dir) => {
        // Production-scale note: this query keeps the oracle-frozen 48-bit/
        // 4x12-block shape; a 10^9+-doc deployment uses ops.SimHashWide
        // (corpus-adaptive width, multi-word signature — same pigeonhole
        // guarantee, measured ~950x fewer candidates at 50k docs).
        // Bit votes computed RELATIONALLY: one md5 per (doc, shingle) row
        // (multiplicity kept — unlike the dedup index, repetition weights
        // the signature), then 48 codegen'd sum-aggregates in a single
        // hash-agg pass with map-side partials. The per-doc array form
        // (simhashFromHashes, kept for bounded inputs) re-walks the hash
        // array once per bit in the interpreted HOF evaluator and evaluates
        // each document on a single thread — the relational form spreads a
        // pathological 10^6-shingle document across tasks and merges.
        val bits = 48
        val hashed = Tables.fanout(Tables.documents(s, dir))
          .select(col("doc_id"),
            explode(graft.functions.ShingleExpr.shinglesNative(
              tokens(col("text")), 3)).as("shingle"))
          .withColumn("h", hash64(col("shingle")))
        val voteCols = (0 until bits).map(b =>
          sum((shiftright(col("h"), b) % 2) * 2 - 1).as(s"v$b"))
        val sh = hashed.groupBy("doc_id")
          .agg(voteCols.head, voteCols.tail: _*)
          .select(col("doc_id"),
            (0 until bits).map(b =>
              when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
              .reduce(_ + _).as("sh"))
          .persist() // consumed by both sides of the block join
        val blocked = sh.select(col("doc_id"), col("sh"),
          explode(array((0 until 4).map(b =>
            concat_ws(":", lit(b.toString),
              (shiftright(col("sh"), b * 12) % 4096).cast("string"))): _*)).as("blk"))
        val result = blocked.as("a").join(blocked.as("b"),
            col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            col("a.sh").as("ha"), col("b.sh").as("hb"))
          .dropDuplicates("id_a", "id_b")
          .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
          .filter(col("hamming") <= 3)
          .groupBy("hamming")
          .agg(count(lit(1)).as("n_pairs"), min("id_a").as("min_id_a"))
          .orderBy("hamming")
        graft.QueryDef.materialized(result, sh)
      },
      Some {
        val simhashSql =
          s"""list_sum([ CASE WHEN list_sum([ ((h >> b) & 1) * 2 - 1
             |  for h in hashes ]) > 0 THEN (1::BIGINT << b) ELSE 0 END
             |  for b in generate_series(0, 47) ])""".stripMargin
        s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |sgl AS (SELECT doc_id,
           |    [${h64("t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]")}
           |     for i in generate_series(0, len(t) - 3)] AS hashes
           |  FROM tk WHERE len(t) >= 3),
           |sh AS (SELECT doc_id, $simhashSql AS sh FROM sgl),
           |blocked AS (SELECT doc_id, sh,
           |    unnest([ b::VARCHAR || ':' || ((sh >> (b*12)) & 4095)::VARCHAR
           |             for b in generate_series(0, 3) ]) AS blk
           |  FROM sh),
           |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           |    a.sh AS ha, b.sh AS hb
           |  FROM blocked a JOIN blocked b
           |    ON a.blk = b.blk AND a.doc_id < b.doc_id)
           |SELECT bit_count(xor(ha, hb)) AS hamming, count(*) AS n_pairs,
           |  min(id_a) AS min_id_a
           |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
           |GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // D4B — corpus-ADAPTIVE SimHash near-dup (VERDICT r11 item 2): the same
    // pigeonhole guarantee as D4 but with ops.SimHashWide's data-derived
    // block width — ceil(log2 n) + 6 margin bits, multi-60-bit-word salted
    // signature — the form a 10⁹–10¹⁰-document deployment actually runs
    // (D4's oracle-frozen 4×12-bit blocking is the suite's one measured
    // quadratic bend: its candidate shuffle exceeded local disk at 5M docs,
    // BASELINE.md r11, while the adaptive width held candidates sub-linear).
    // This query puts that 100 TB path under the same DuckDB hash gate as
    // the frozen form: the oracle replays the width rule, the salted
    // per-word md5 signatures, and the word-boundary-crossing block keys
    // bit for bit, and the emitted `width` column pins the adaptive choice
    // itself. Reference semantics: the same near-duplicate detection as D4
    // (SURVEY §2.11 dedup row).
    "d4b_simhash_adaptive" -> QueryDef(
      (s, dir) => {
        val nDocs = Tables.documents(s, dir).count()
        val plan = graft.ops.SimHashWide.planFor(nDocs, hamming = 3)
        val shingles = Tables.fanout(Tables.documents(s, dir))
          .select(col("doc_id"),
            explode(graft.functions.ShingleExpr.shinglesNative(
              tokens(col("text")), 3)).as("shingle"))
        val sigs = graft.ops.SimHashWide.signatures(shingles, plan.words)
          .persist() // both sides of the block join
        val result = graft.ops.SimHashWide.nearDupPairs(sigs, plan)
          .groupBy("hamming")
          .agg(count(lit(1)).as("n_pairs"), min("id_a").as("min_id_a"))
          .withColumn("width", lit(plan.width))
          .orderBy("hamming")
        graft.QueryDef.materialized(result, sigs)
      },
      // concatenated, NOT an outer stripMargin template: the fragment's
      // bitwise-OR lines start with '|' and a second stripMargin would
      // strip the operator itself
      Some("WITH " + simWideHamSql + "\n" +
        """SELECT hamming, count(*) AS n_pairs, min(id_a) AS min_id_a, p.width AS width
          |FROM ham, p WHERE hamming <= 3
          |GROUP BY hamming, p.width ORDER BY hamming""".stripMargin),
      // Headline (round-15, VERDICT r14 item 2): a compute-proportional
      // query in the driver's per-query scaling probe — the signature
      // compute is task-time-dense (~12 s task at sf0.1), so its 8↔32-core
      // ratio carries parallelism signal the original sub-second headline
      // set could not.
      headline = true),

    // D13 — the FULL adaptive-dedup chain, oracle-checked end-to-end
    // (VERDICT r12 item 7): adaptive-SimHash candidates (the d4b stage,
    // the 100 TB candidate generator) → connected components → keep-min-id
    // survivor groups (the d5 terminal step). Engine: SimHashWide pairs
    // feed the same star-contraction CC d5 uses; oracle: the d4b candidate
    // CTE chain + d5's recursive transitive closure.
    "d13_simhash_resolution" -> QueryDef(
      (s, dir) => {
        val nDocs = Tables.documents(s, dir).count()
        val plan = graft.ops.SimHashWide.planFor(nDocs, hamming = 3)
        val shingles = Tables.fanout(Tables.documents(s, dir))
          .select(col("doc_id"),
            explode(graft.functions.ShingleExpr.shinglesNative(
              tokens(col("text")), 3)).as("shingle"))
        val sigs = graft.ops.SimHashWide.signatures(shingles, plan.words)
          .persist() // both sides of the block join
        val pairs = graft.ops.SimHashWide.nearDupPairs(sigs, plan)
        val result = graft.graph.GraphOps.connectedComponents(
            pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
          .groupBy("component")
          .agg(count(lit(1)).as("group_size"),
            min("id").as("keep_id"), max("id").as("max_dropped"))
          .select("keep_id", "group_size", "max_dropped")
          .orderBy("keep_id")
        graft.QueryDef.materialized(result, sigs)
      },
      // concatenated for the same stripMargin-vs-'|' reason as d4b
      Some("WITH RECURSIVE " + simWideHamSql + ",\n" +
        """sym AS (SELECT id_a AS a, id_b AS b FROM ham WHERE hamming <= 3
          |  UNION SELECT id_b, id_a FROM ham WHERE hamming <= 3),
          |walk(a, b) AS (SELECT a, b FROM sym
          |  UNION SELECT w.a, s.b FROM walk w JOIN sym s ON w.b = s.a),
          |comp AS (SELECT a AS id, least(a, min(b)) AS component
          |  FROM walk GROUP BY a)
          |SELECT component AS keep_id, count(*) AS group_size,
          |  max(id) AS max_dropped
          |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin)),

    // D6 — benchmark decontamination: flag corpus docs sharing ≥ 3 distinct
    // word-3-grams with the "benchmark" set (stand-in: doc_id < 5) — the
    // n-gram overlap filter every pretraining pipeline runs before training
    // so eval data cannot leak into the corpus. The benchmark shingle set is
    // small BY CONSTRUCTION (eval suites are thousands of docs, not
    // billions), so it broadcasts and the corpus-side scan stays
    // shuffle-free until the tiny per-doc overlap aggregate. Raw distinct
    // shingles, NOT the df-capped dedup index: a contaminated doc must be
    // caught even via shingles common in the corpus.
    "d6_decontaminate" -> QueryDef(
      (s, dir) => {
        def shOf(base: org.apache.spark.sql.DataFrame) = base
          .select(col("doc_id"),
            explode(array_distinct(graft.functions.ShingleExpr.shinglesNative(
              tokens(col("text")), 3))).as("sh"))
        // Probe side keeps its pruned scan (doc_id < 5 reaches the parquet
        // reader); only the full-corpus side is fanned out before exploding.
        val probe = shOf(Tables.documents(s, dir).filter(col("doc_id") < 5))
          .select("sh").distinct()
        val shared = shOf(Tables.fanout(Tables.documents(s, dir).filter(col("doc_id") >= 5)))
          .join(broadcast(probe), "sh")
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        Tables.documents(s, dir).filter(col("doc_id") >= 5).select("doc_id")
          .join(shared, Seq("doc_id"), "left")
          .na.fill(0L, Seq("n_shared"))
          .withColumn("contaminated", col("n_shared") >= 3)
          .groupBy("contaminated")
          .agg(count(lit(1)).as("n_docs"), max("n_shared").as("max_shared"),
            min("doc_id").as("min_doc"))
          .orderBy("contaminated")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |sha AS (SELECT doc_id, unnest(list_distinct(
             |    [t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
             |     for i in generate_series(0, len(t) - 3)])) AS sh
             |  FROM toks WHERE len(t) >= 3),
             |probe AS (SELECT DISTINCT sh FROM sha WHERE doc_id < 5),
             |shared AS (SELECT a.doc_id, count(*) AS n_shared
             |  FROM sha a JOIN probe USING (sh) WHERE a.doc_id >= 5 GROUP BY 1),
             |f AS (SELECT b.doc_id, coalesce(s.n_shared, 0) AS n_shared
             |  FROM (SELECT doc_id FROM documents WHERE doc_id >= 5) b
             |  LEFT JOIN shared s ON b.doc_id = s.doc_id)
             |SELECT n_shared >= 3 AS contaminated, count(*) AS n_docs,
             |  max(n_shared) AS max_shared, min(doc_id) AS min_doc
             |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)),

    // D8 — DIRECTIONAL containment: containment(a ⊂ b) = |A∩B|/|A| catches
    // a document embedded inside a larger one, which symmetric Jaccard
    // misses (small ∩ large ⇒ low union ratio, high containment). Same
    // df-capped index; the ordered self-join doubles d2's pair fanout but
    // keeps the cap²-bounded shape. Reported: contained/container pairs at
    // containment ≥ 0.8 with their (lower) Jaccard.
    "d8_containment" -> QueryDef(
      (s, dir) => {
        val sh = graft.ops.ShingleIndex.capped(s, dir)
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
        sh.as("a").join(sh.as("b"),
            col("a.sh") === col("b.sh") && col("a.doc_id") =!= col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_in"), col("b.doc_id").as("id_of"))
          .agg(count(lit(1)).as("inter"))
          .join(sizes.select(col("doc_id").as("id_in"), col("n_sh").as("sa")), "id_in")
          .join(sizes.select(col("doc_id").as("id_of"), col("n_sh").as("sb")), "id_of")
          .filter(col("inter") / col("sa") >= 0.8)
          .select(col("id_in"), col("id_of"),
            round(col("inter") / col("sa"), 6).as("containment"),
            round(col("inter") / (col("sa") + col("sb") - col("inter")), 6).as("jaccard"))
          .orderBy(desc("containment"), col("id_in"), col("id_of"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |${graft.ops.ShingleIndex.cappedSql},
             |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
             |inter AS (SELECT a.doc_id AS id_in, b.doc_id AS id_of, count(*) AS inter
             |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
             |  GROUP BY 1, 2)
             |SELECT id_in, id_of,
             |  round(inter * 1.0 / sa.n_sh, 6) AS containment,
             |  round(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
             |FROM inter
             |JOIN sizes sa ON sa.doc_id = id_in
             |JOIN sizes sb ON sb.doc_id = id_of
             |WHERE inter * 1.0 / sa.n_sh >= 0.8
             |ORDER BY containment DESC, id_in, id_of""".stripMargin)),

    // D9 — cross-source shingle overlap matrix (content contamination
    // between corpus slices): per source the DISTINCT capped-shingle set,
    // pairwise intersections via the shingle equi-join (≤ |sources| rows per
    // shingle ⇒ bounded fanout however big the corpus), overlap coefficient
    // |A∩B| / min(|A|,|B|).
    "d9_source_overlap" -> QueryDef(
      (s, dir) => {
        val srcSh = graft.ops.ShingleIndex.capped(s, dir)
          .join(Tables.documents(s, dir).select("doc_id", "source"), "doc_id")
          .select("source", "sh").distinct()
        val sizes = srcSh.groupBy("source").agg(count(lit(1)).as("n_sh"))
        srcSh.as("a").join(srcSh.as("b"),
            col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("inter"))
          .join(sizes.select(col("source").as("src_a"), col("n_sh").as("na")), "src_a")
          .join(sizes.select(col("source").as("src_b"), col("n_sh").as("nb")), "src_b")
          .select(col("src_a"), col("src_b"), col("inter"),
            round(col("inter") / least(col("na"), col("nb")), 6).as("overlap"))
          .orderBy("src_a", "src_b")
      },
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |${graft.ops.ShingleIndex.cappedSql},
             |ss AS (SELECT DISTINCT d.source, sh.sh
             |  FROM sh JOIN documents d USING (doc_id)),
             |sizes AS (SELECT source, count(*) AS n_sh FROM ss GROUP BY 1),
             |inter AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
             |  FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
             |  GROUP BY 1, 2)
             |SELECT src_a, src_b, inter,
             |  round(inter * 1.0 / least(sa.n_sh, sb.n_sh), 6) AS overlap
             |FROM inter
             |JOIN sizes sa ON sa.source = src_a
             |JOIN sizes sb ON sb.source = src_b
             |ORDER BY src_a, src_b""".stripMargin)),

    // D10 — QUALITY-AWARE canonical selection: where d5 keeps the min-id
    // survivor, production dedup keeps the BEST copy of each near-dup group
    // (longest / highest-quality — the retention rule in large-corpus
    // pipelines). Same staged pair set and star-contraction CC; the pick is
    // a per-group argmax as a single max(struct(quality, -id)) hash
    // aggregate — map-side combined, no per-group window, no second join
    // back to find the winner. Reports the char mass dropped per group —
    // the number a curation run actually reviews.
    "d10_canonical_pick" -> QueryDef(
      (s, dir) => {
        val pairs = jaccardPairs(s, dir)
        val comp = graft.graph.GraphOps.connectedComponents(
          pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
        val chars = Tables.documents(s, dir)
          .select(col("doc_id").as("id"), col("n_chars"))
        comp.join(chars, "id")
          .groupBy("component")
          .agg(count(lit(1)).as("group_size"),
            max(struct(col("n_chars").as("c"), (-col("id")).as("nid"))).as("best"),
            sum("n_chars").as("total_chars"))
          .select((-col("best.nid")).as("canonical_id"), col("group_size"),
            col("best.c").as("canon_chars"),
            (col("total_chars") - col("best.c")).as("dropped_chars"))
          .orderBy("canonical_id")
      },
      Some(s"""WITH RECURSIVE
             |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |${graft.ops.ShingleIndex.cappedSql},
             |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
             |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
             |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |pairs AS (SELECT id_a, id_b FROM inter
             |  JOIN sizes sa ON sa.doc_id = id_a
             |  JOIN sizes sb ON sb.doc_id = id_b
             |  WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= 0.5),
             |sym AS (SELECT id_a AS a, id_b AS b FROM pairs
             |  UNION SELECT id_b, id_a FROM pairs),
             |walk(a, b) AS (SELECT a, b FROM sym
             |  UNION SELECT w.a, s.b FROM walk w JOIN sym s ON w.b = s.a),
             |comp AS (SELECT a AS id, least(a, min(b)) AS component
             |  FROM walk GROUP BY a),
             |g AS (SELECT c.component, c.id, d.n_chars
             |  FROM comp c JOIN documents d ON d.doc_id = c.id),
             |r AS (SELECT component, id, n_chars,
             |    row_number() OVER (PARTITION BY component
             |      ORDER BY n_chars DESC, id) AS rn,
             |    CAST(sum(n_chars) OVER (PARTITION BY component) AS BIGINT)
             |      AS total_chars,
             |    count(*) OVER (PARTITION BY component) AS group_size
             |  FROM g)
             |SELECT id AS canonical_id, group_size, n_chars AS canon_chars,
             |  total_chars - n_chars AS dropped_chars
             |FROM r WHERE rn = 1 ORDER BY canonical_id""".stripMargin)),

    // D11 — sketch calibration: MinHash estimate vs EXACT Jaccard, grouped
    // by signature match count m (estimate = m/16). The table a pipeline
    // owner reads before trusting d3's thresholds: for each m, how far is
    // the estimator from truth on THIS corpus? Pairs come from the same
    // staged capped index (bounded fanout), the exact side is integer
    // micro-Jaccard, the error |m·10⁶/16 − jmic| stays integer until the
    // two reported divisions. Output is ≤ 17 bounded rows.
    "d11_minhash_calibration" -> QueryDef(
      (s, dir) => {
        val k = 16
        val sh = graft.ops.ShingleIndex.capped(s, dir)
        val hashed = sh.withColumn("h", hash64(col("sh")))
        val sigCols = (0 until k).map(i => min(seededFromBase(i, col("h"))).as(s"s$i"))
        val sigs = hashed.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
          .withColumn("sig", array((0 until k).map(i => col(s"s$i")): _*))
          .select("doc_id", "sig")
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
        // Pair aggregation stays on the DEFAULT agg plan (map-side partial
        // combine + exchange): round 12 measured the alternatives at sf100.
        // An explicit repartition-on-keys before the groupBy widens the
        // reduce but BYPASSES partial aggregation — the raw pair stream
        // (one row per shared shingle occurrence) overran the box's disk
        // outright. The whale lever that works is AQE's initial width
        // (spark.sql.adaptive.coalescePartitions.initialPartitionNum=256:
        // same 12-stage plan, sorter spill 35 GiB -> 0, wall flat — see
        // GraftSession + BASELINE.md r12).
        val inter = sh.select(col("doc_id").as("id_a"), col("sh"))
          .join(sh.select(col("doc_id").as("id_b"), col("sh")), "sh")
          .filter(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
        inter
          .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("na")), "id_a")
          .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("nb")), "id_b")
          .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sa")), "id_a")
          .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sb")), "id_b")
          .withColumn("matches", expr(
            "aggregate(zip_with(sa, sb, (x, y) -> CASE WHEN x = y THEN 1L ELSE 0L END)," +
              " 0L, (acc, v) -> acc + v)"))
          .withColumn("jmic", expr("(inter * 1000000) div (na + nb - inter)"))
          .withColumn("emic", expr(s"(matches * 1000000) div $k"))
          .groupBy("matches")
          .agg(count(lit(1)).as("n_pairs"),
            round(min(col("matches")).cast("double") / k, 6).as("est"),
            round(sum("jmic").cast("double") / count(lit(1)) / 1e6, 6).as("avg_exact"),
            round(sum(abs(col("emic") - col("jmic"))).cast("double")
              / count(lit(1)) / 1e6, 6).as("mean_abs_err"))
          .orderBy("matches")
      },
      Some {
        val p = 2147483647L
        val sigMins = (0 until 16).map(i =>
          s"min(((h % $p) * (${2 * i + 3}) + (${i * 12345 + 67891})) % $p) AS s$i")
          .mkString(",\n           |    ")
        val sigArr = (0 until 16).map(i => s"s$i").mkString("[", ", ", "]")
        s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |${graft.ops.ShingleIndex.cappedSql},
           |hs AS (SELECT doc_id, sh, ${h64("sh")} AS h FROM sh),
           |sigs AS (SELECT doc_id, $sigMins FROM hs GROUP BY doc_id),
           |sigarr AS (SELECT doc_id, $sigArr AS sig FROM sigs),
           |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
           |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |pr AS (SELECT id_a, id_b, inter, sa.n_sh AS na, sb.n_sh AS nb,
           |    ga.sig AS sa_sig, gb.sig AS sb_sig
           |  FROM inter
           |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
           |  JOIN sigarr ga ON ga.doc_id = id_a JOIN sigarr gb ON gb.doc_id = id_b),
           |sc AS (SELECT
           |    CAST(list_sum([ CASE WHEN sa_sig[i+1] = sb_sig[i+1] THEN 1 ELSE 0 END
           |      for i in generate_series(0, 15) ]) AS BIGINT) AS matches,
           |    (inter * 1000000) // (na + nb - inter) AS jmic
           |  FROM pr),
           |b AS (SELECT matches, jmic, (matches * 1000000) // 16 AS emic FROM sc)
           |SELECT matches, count(*) AS n_pairs,
           |  round(CAST(min(matches) AS DOUBLE) / 16, 6) AS est,
           |  round(CAST(sum(jmic) AS DOUBLE) / count(*) / 1000000, 6) AS avg_exact,
           |  round(CAST(sum(abs(emic - jmic)) AS DOUBLE) / count(*) / 1000000, 6)
           |    AS mean_abs_err
           |FROM b GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // D12 — EXACT-SUBSTRING duplicated-span detection (the seed-and-extend
    // dedup of Lee et al. 2022, "Deduplicating Training Data Makes Language
    // Models Better", relationally): candidate pairs come from the df-capped
    // inverted index (≥ 4 shared distinct 3-grams), then for each pair the
    // POSITIONAL 3-gram lists align on shingle value; matches on the same
    // diagonal (pb − pa) with consecutive a-positions form maximal runs
    // (pa − row_number island key), and a run of L consecutive 3-grams is a
    // verbatim-shared span of L + 2 tokens. Reports the longest shared span
    // and total duplicated tokens per pair (spans ≥ 8 tokens).
    //
    // Scale posture: the pair set is bounded by the df cap (never n²); the
    // positional join fans out per shared shingle VALUE as (occurrences in
    // A) × (occurrences in B) — bounded by document lengths, never corpus
    // size; every window is partitioned by (pair, diagonal).
    "d12_dup_spans" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val sh = graft.ops.ShingleIndex.capped(s, dir)
        val pairs = sh.as("a").join(sh.as("b"),
            col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(count(lit(1)).as("inter")).filter(col("inter") >= 4)
          .select("id_a", "id_b")
        val pos = Tables.documents(s, dir).select(col("doc_id"),
          posexplode(graft.functions.ShingleExpr.shinglesNative(
            tokens(col("text")), 3)).as(Seq("pos", "sh")))
        // One row per aligned position pair: exactly one shingle value sits
        // at a given (pa, pb), so the join output needs no distinct.
        val m = pairs
          .join(pos.select(col("doc_id").as("id_a"), col("pos").as("pa"),
            col("sh")), "id_a")
          .join(pos.select(col("doc_id").as("id_b"), col("pos").as("pb"),
            col("sh")), Seq("id_b", "sh"))
          .withColumn("d", col("pb") - col("pa"))
        val w = Window.partitionBy("id_a", "id_b", "d").orderBy("pa")
        val runs = m.withColumn("isl", col("pa") - row_number().over(w))
          .groupBy("id_a", "id_b", "d", "isl").agg(count(lit(1)).as("rl"))
        runs.groupBy("id_a", "id_b")
          .agg((max("rl") + lit(2)).as("longest_span"),
            count(when(col("rl") >= 6, 1)).as("n_spans"),
            sum(when(col("rl") >= 6, col("rl") + lit(2))).as("dup_tokens"))
          .filter(col("longest_span") >= 8)
          .orderBy(desc("longest_span"), col("id_a"), col("id_b")).limit(20)
          .orderBy(desc("longest_span"), col("id_a"), col("id_b"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |${graft.ops.ShingleIndex.cappedSql},
             |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2 HAVING count(*) >= 4),
             |pos AS (SELECT doc_id, u.pos AS pos, u.sh AS sh FROM (
             |  SELECT doc_id, unnest([{'pos': i,
             |      'sh': t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]}
             |      for i in generate_series(0, len(t) - 3)]) AS u
             |  FROM toks WHERE len(t) >= 3)),
             |m AS (SELECT p.id_a, p.id_b, pa.pos AS pa, pb.pos AS pb
             |  FROM pairs p
             |  JOIN pos pa ON pa.doc_id = p.id_a
             |  JOIN pos pb ON pb.doc_id = p.id_b AND pb.sh = pa.sh),
             |diag AS (SELECT id_a, id_b, pb - pa AS d, pa,
             |    pa - row_number() OVER (
             |      PARTITION BY id_a, id_b, pb - pa ORDER BY pa) AS isl
             |  FROM m),
             |runs AS (SELECT id_a, id_b, d, isl, count(*) AS rl
             |  FROM diag GROUP BY 1, 2, 3, 4)
             |SELECT id_a, id_b, max(rl) + 2 AS longest_span,
             |  count(*) FILTER (rl >= 6) AS n_spans,
             |  CAST(sum(rl + 2) FILTER (rl >= 6) AS BIGINT) AS dup_tokens
             |FROM runs GROUP BY 1, 2 HAVING max(rl) + 2 >= 8
             |ORDER BY longest_span DESC, id_a, id_b LIMIT 20""".stripMargin),
      headline = true)
  )
}
