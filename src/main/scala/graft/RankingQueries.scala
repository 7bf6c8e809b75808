package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}
import graft.ops.ColumnOps.cents

/** Round-6 ranking & allocation analytics: iterative PageRank over the
  * co-purchase graph, calendar-day activity streaks, largest-remainder
  * (Hamilton) apportionment, temperature-smoothed source mixing, dedup
  * survivorship audit, and tokenizer-fertility profiling.
  *
  * Everything that crosses engines is integer-exact: ranks are quantized
  * longs ([[graft.ops.GraphOps.pageRank]]), allocations use `DIV` +
  * largest-remainder tie-broken by name, ratios are emitted ×1000 as
  * longs. The only floating-point op is `sqrt` (x59), which IEEE 754
  * requires to be exactly rounded — identical in any engine; its result
  * is immediately floor-quantized to a long, and all downstream
  * arithmetic (sums, divisions) is integral and order-independent.
  *
  * Scale notes: q92 is one keyed join + agg per iteration with
  * checkpointed, freed round state — the Pregel shape without lineage
  * growth; q93/x61 are one hash-agg plus one window each; q94/x59
  * broadcast a 1-row total against a per-group frame (the grand-total
  * idiom, never a driver collect); x60's dup lookup joins on the
  * fingerprint's min-id, both sides hash-partitioned by the same key.
  */
object RankingQueries {

  // x137 fusion parameters — interpolated into the oracle SQL so the two
  // sides cannot drift: Q probe queries, top-ARM per arm, the classic
  // RRF smoothing constant 60, top-TOP published.
  private val RRF_Q = 5
  private val RRF_K = 60
  private val RRF_ARM = 10
  private val RRF_TOP = 5

  /** The q91 co-purchase graph: parts linked when they share a
    * high-value order, symmetrized so every node has out-degree ≥ 1. */
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val big = Tables(s, dir, "orders")
      .filter(col("o_totalprice") > 400000)
      .select(col("o_orderkey").as("ok"))
    val items = Tables(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .join(big, Seq("ok")).distinct()
    val und = items.select(col("ok"), col("p").as("pa"))
      .join(items.select(col("ok"), col("p").as("pb")), Seq("ok"))
      .filter(col("pa") < col("pb"))
      .select(col("pa").as("u"), col("pb").as("v")).distinct()
    und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Q92 — 3-iteration quantized PageRank over the co-purchase graph:
    // the canonical iterative-convergence workload. Top-20 hubs by rank.
    "q92_pagerank" -> ((s, dir) =>
      graft.ops.GraphOps.pageRank(coPurchaseEdges(s, dir), iters = 3)
        .orderBy(col("r").desc, col("node"))
        .limit(20)
        .select(col("node").as("part"), col("r").as("rank_q"))),

    // Q93 — longest consecutive-calendar-day activity streak per user
    // (gaps-and-islands via the day − row_number grouping key; ties on
    // length prefer the earliest streak). Distinct from x13's
    // sessionization: day-granular, keyed arithmetic, no lag state.
    "q93_streaks" -> ((s, dir) => {
      val days = Tables(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val byDay = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val runs = days
        .withColumn("grp", date_sub(col("day"), row_number().over(byDay)))
        .groupBy(col("user_id"), col("grp"))
        .agg(min(col("day")).as("streak_start"),
             count(lit(1)).as("len"))
      val best = Window.partitionBy(col("user_id"))
        .orderBy(col("len").desc, col("streak_start"))
      runs.withColumn("rn", row_number().over(best))
        .filter(col("rn") === 1 && col("len") >= 2)
        .select(col("user_id"),
                col("streak_start").cast("string").as("streak_start"),
                col("len"))
        .orderBy(col("len").desc, col("user_id"))
    }),

    // Q94 — largest-remainder (Hamilton) apportionment: 1000 audit slots
    // across nations proportional to order revenue. base = floor share,
    // the leftover slots go to the largest remainders (ties: nation
    // name) — integer-exact, sums to exactly 1000 by construction.
    "q94_allocation" -> ((s, dir) => {
      val K = 1000L
      val rev = Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"),
              col("o_custkey") === col("c_custkey"))
        .join(Tables(s, dir, "nation"),
              col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(cents(col("o_totalprice"))).as("cents"))
      val total = rev.agg(sum(col("cents")).as("total"),
                          lit(K).as("k"))
      val based = rev.crossJoin(broadcast(total))
        .withColumn("base", expr("(k * cents) DIV total"))
        .withColumn("rem", expr("k * cents - base * total"))
      val leftover = based.agg((lit(K) - sum(col("base"))).as("left"))
      val byRem = Window.orderBy(col("rem").desc, col("n_name"))
      based.crossJoin(broadcast(leftover))
        .withColumn("rk", row_number().over(byRem))
        .select(col("n_name"), col("cents"),
                (col("base") + when(col("rk") <= col("left"), 1L)
                  .otherwise(0L)).as("slots"))
        .orderBy(col("slots").desc, col("n_name"))
    }),

    // X59 — temperature-smoothed source mixture (the multilingual-
    // pretraining upsampling rule, α = 0.5): sampling weight ∝ n^α, so
    // small sources are upsampled relative to proportional mixing. The
    // smoothed mass is quantized (floor(sqrt(n)·1e6)) before summing, so
    // weights and the 100k-sample allocation are integer-exact.
    "x59_temperature_mix" -> ((s, dir) => {
      val K = 100000L
      val src = Tables(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("s", floor(sqrt(col("n_docs")) * 1e6).cast("long"))
      val total = src.agg(sum(col("s")).as("total"), lit(K).as("k"))
      val based = src.crossJoin(broadcast(total))
        .withColumn("weight_ppm", expr("(s * 1000000) DIV total"))
        .withColumn("base", expr("(k * s) DIV total"))
        .withColumn("rem", expr("k * s - base * total"))
      val leftover = based.agg((lit(K) - sum(col("base"))).as("left"))
      val byRem = Window.orderBy(col("rem").desc, col("source"))
      based.crossJoin(broadcast(leftover))
        .withColumn("rk", row_number().over(byRem))
        .select(col("source"), col("n_docs"), col("weight_ppm"),
                (col("base") + when(col("rk") <= col("left"), 1L)
                  .otherwise(0L)).as("samples"))
        .orderBy(col("source"))
    }),

    // X60 — dedup survivorship audit: when prefix-fingerprint dedup
    // (md5 of the lowercased first 10 tokens — the cheap first pass that
    // catches near-dup families sharing a head) collapses a group,
    // keeper = min doc_id: which source absorbs which? The
    // keeper→duplicate source matrix is the governance artifact behind
    // "source B lost 12% of its docs to source A" reports.
    "x60_dedup_survivorship" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
                md5(lower(array_join(
                  slice(T.words(col("text")), 1, 10), " "))).as("fp"))
      val keep = d.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n"))
        .filter(col("n") > 1)
      val keeperSrc = d.select(col("doc_id").as("keep_id"),
                               col("source").as("src_keeper"))
      d.join(keep, Seq("fp"))
        .filter(col("doc_id") =!= col("keep_id"))
        .join(keeperSrc, Seq("keep_id"))
        .groupBy(col("src_keeper"), col("source").as("src_dup"))
        .agg(count(lit(1)).as("n_absorbed"))
        .orderBy(col("src_keeper"), col("src_dup"))
    }),

    // X61 — tokenizer-fertility profile per language: whitespace tokens,
    // BPE-ish subword estimate (ceil(len/4) per word), and the two
    // ratios every tokenizer evaluation reports — subwords per token and
    // chars per token — ×1000 as integer-exact longs.
    "x61_token_fertility" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(T.tokenCount(col("text")).cast("long")).as("tokens"),
             sum(T.subwordCount(col("text"))).as("subwords"),
             sum(length(col("text")).cast("long")).as("chars"))
        .withColumn("fertility_x1000",
                    expr("(subwords * 1000) DIV nullif(tokens, 0)"))
        .withColumn("chars_per_token_x1000",
                    expr("(chars * 1000) DIV nullif(tokens, 0)"))
        .orderBy(col("lang"))),

    // X114 — RFM customer segmentation: the standard CRM scoring —
    // Recency (days since last order, vs the dataset's max date so both
    // engines share the anchor), Frequency (order count), Monetary
    // (lifetime cents) — each scored 1–5 by EXACT equi-depth quintile:
    // score = 5 − ((rank−1)·5) div n over the (metric, custkey) total
    // order. Ranks come from the range-split ordinal kernel, never a
    // customer-wide single-task window (the x39 treatment, applied
    // three times — one kernel per metric ordering); n arrives as a
    // 1-row broadcast. Everything is integer, ties break by custkey, so
    // the SEGMENT (r·100 + f·10 + m) is bit-stable cross-engine —
    // which is what lets a marketing export be regression-tested at
    // all. 555 = champions, 1xx = lapsing, x1x = one-shot, xx1 = low
    // spend.
    // X160 — UniMax mixing allocation (epoch-capped uniform; Chung et
    // al. 2023): the budget (90% of the corpus) splits EQUALLY across
    // languages, but no language is allocated past its own size — a
    // capped language's leftover waterfills into the rest. The fairness
    // dual of x59's temperature weights: en's proportional share
    // shrinks toward the uniform share while low-resource languages
    // keep their full epoch. Decision evidence (alloc + capped flag) is
    // in the hash; everything runs on the |langs|-row domain.
    "x160_unimax_alloc" -> ((s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.session
      graft.ops.QualityOps.unimaxAlloc(
          Tables(s, dir, "documents")
            .groupBy(col("lang")).agg(count(lit(1)).as("n")),
          "lang", "n")
        .orderBy(col("lang"))
    }),

    "x114_rfm_segments" -> ((s, dir) => {
      import graft.ops.DedupOps
      val o = Tables(s, dir, "orders")
      val anchor = o.agg(max(unix_micros(col("o_orderdate"))).as("_mx"))
      val base = o.groupBy(col("o_custkey"))
        .agg(max(unix_micros(col("o_orderdate"))).as("_last"),
             count(lit(1)).as("n_orders"),
             sum(cents(col("o_totalprice"))).as("m_cents"))
        .crossJoin(broadcast(anchor))
        .withColumn("r_days", expr("(_mx - _last) div 86400000000"))
        .drop("_mx", "_last")
        .persist()
      // three FLAT rankings of the one cached base, assembled by a
      // co-keyed join — nesting the kernels instead compounds each
      // layer's multi-consumer re-reads into 4^depth passes of the
      // layer below (measured ~3x slower than this shape)
      def rankOf(keys: Seq[org.apache.spark.sql.Column],
                 out: String): DataFrame =
        DedupOps.withIngestOrdinalFrom(base, keys)
          .select(col("o_custkey"),
                  col(DedupOps.OrdinalCol).as(out))
      val withRanks = base
        .join(rankOf(Seq(col("r_days"), col("o_custkey")), "_rr"),
              Seq("o_custkey"))
        .join(rankOf(Seq(negate(col("n_orders")), col("o_custkey")), "_rf"),
              Seq("o_custkey"))
        .join(rankOf(Seq(negate(col("m_cents")), col("o_custkey")), "_rm"),
              Seq("o_custkey"))
      val n = base.agg(count(lit(1)).as("_n"))
      withRanks.crossJoin(broadcast(n))
        .select(col("o_custkey"), col("r_days"), col("n_orders"),
                col("m_cents"),
                expr("5 - ((_rr - 1) * 5) DIV _n").as("r_score"),
                expr("5 - ((_rf - 1) * 5) DIV _n").as("f_score"),
                expr("5 - ((_rm - 1) * 5) DIV _n").as("m_score"))
        .withColumn("segment",
          expr("r_score * 100 + f_score * 10 + m_score"))
        .orderBy(col("o_custkey"))
    }),

    // X115 — integer-weighted single-source shortest paths: the
    // weighted member of the distributed graph family (BFS counts hops
    // q83, CC labels q/x14, PageRank q92, hierarchy x109 — this is the
    // min-plus semiring). Deterministic fixture: every customer key
    // u ≥ 2 has edges to u div 2 (weight u%7+1) and u div 3 (weight
    // u%5+1), so every node reaches node 1 along strictly-decreasing
    // chains — a DAG whose hop diameter is log₂(maxkey), which is what
    // bounds the Bellman-Ford round count. The oracle enumerates every
    // reduction path with a recursive CTE and takes the min — the
    // row-at-a-time shape whose path count explodes combinatorially,
    // versus the engine's one-relaxation-join-per-round that touches
    // each edge once per round regardless of path multiplicity.
    "x115_weighted_sssp" -> ((s, dir) => {
      val nodes = Tables(s, dir, "customer")
        .select(col("c_custkey").as("u"))
      val edges = nodes.filter(col("u") >= 2)
        .select(col("u").as("src"), expr("u div 2").as("dst"),
                (col("u") % 7 + 1).as("w"))
        .unionAll(nodes.filter(col("u") >= 3)
          .select(col("u").as("src"), expr("u div 3").as("dst"),
                  (col("u") % 5 + 1).as("w")))
      val seeds = nodes.filter(col("u") === 1).select(col("u").as("node"))
      graft.ops.GraphOps.shortestPaths(edges, seeds)
        .orderBy(col("node"))
    }),

    // X137 — reciprocal-rank-fusion hybrid retrieval (Cormack et al.
    // 2009; the Elastic/Vespa hybrid-search primitive): a lexical arm
    // (distinct-word overlap, ranked ov DESC then id) and a semantic arm
    // (cosine over embeddings, the x127 ranking discipline) each produce
    // a per-query top-10; fused score = sum over arms of 1/(60 + rank),
    // missing arm contributes 0, top-5 published. The SERVED list (qid,
    // rank, doc_id, fused score) is the hash. Scale shape: the lexical
    // arm is an inverted-index join against the broadcast query postings
    // (never doc x doc); the semantic arm broadcasts the fixed probe set
    // (the O(Q·N) every exact arm pays); fusion is a tiny outer join of
    // two Q x 10 lists.
    "x137_rrf_fusion" -> ((s, dir) => {
      import graft.functions.{VectorFunctions => V}
      val Q = RRF_Q
      val docs = Tables(s, dir, "documents")
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), V.toDouble(col("embedding")).as("v"))
        .withColumn("nrm", sqrt(V.dot(col("v"), col("v"))))
      // lexical arm: distinct-word postings joined to the query postings
      val dw = docs.select(col("doc_id"),
        explode(array_distinct(T.words(col("text")))).as("w"))
      val qw = docs.filter(col("doc_id") < Q)
        .select(col("doc_id").as("qid"),
                explode(array_distinct(T.words(col("text")))).as("w"))
      val wL = Window.partitionBy(col("qid"))
        .orderBy(col("ov").desc, col("doc_id").asc)
      val lex = dw.join(broadcast(qw), Seq("w"))
        .filter(col("doc_id") =!= col("qid"))
        .groupBy(col("qid"), col("doc_id"))
        .agg(count(lit(1)).as("ov"))
        .withColumn("lr", row_number().over(wL))
        .filter(col("lr") <= RRF_ARM)
        .select(col("qid"), col("doc_id"), col("lr"))
      // semantic arm: cosine to the same ids' embeddings
      val qv = emb.filter(col("vec_id") < Q)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
                col("nrm").as("qn"))
      val wS = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      val sem = broadcast(qv).join(emb, col("vec_id") =!= col("qid"))
        .withColumn("cos",
          when(col("qn") === 0.0 || col("nrm") === 0.0,
               lit(null).cast("double"))
            .otherwise(V.dot(col("qv"), col("v")) / (col("qn") * col("nrm"))))
        .filter(col("cos").isNotNull)
        .withColumn("sr", row_number().over(wS))
        .filter(col("sr") <= RRF_ARM)
        .select(col("qid"), col("vec_id").as("doc_id"), col("sr"))
      val wF = Window.partitionBy(col("qid"))
        .orderBy(col("rrf").desc, col("doc_id").asc)
      lex.join(sem, Seq("qid", "doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (col("lr") + RRF_K), lit(0.0)) +
          coalesce(lit(1.0) / (col("sr") + RRF_K), lit(0.0)))
        .withColumn("rank", row_number().over(wF))
        .filter(col("rank") <= RRF_TOP)
        .select(col("qid"), col("rank"), col("doc_id"),
                round(col("rrf"), 6).as("rrf"))
        .orderBy(col("qid"), col("rank"))
    }))

  private val coPurchaseSql =
    """big AS (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000),
       it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
              FROM lineitem JOIN big ON l_orderkey = o_orderkey),
       und AS (SELECT DISTINCT a.p AS u, b.p AS v
               FROM it a JOIN it b ON a.ok = b.ok AND a.p < b.p),
       e AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und)"""

  val oracleSql: Map[String, String] = Map(

    "q92_pagerank" ->
      s"""WITH $coPurchaseSql,
          deg AS (SELECT u, count(*)::BIGINT AS d FROM e GROUP BY u),
          r0 AS (SELECT u AS node, 1000000000::BIGINT AS r FROM deg),
          c1 AS (SELECT e.v AS node, sum(r0.r // deg.d)::BIGINT AS s
                 FROM e JOIN deg USING (u) JOIN r0 ON r0.node = e.u
                 GROUP BY e.v),
          r1 AS (SELECT node, (150000000 + (s * 85) // 100)::BIGINT AS r
                 FROM c1),
          c2 AS (SELECT e.v AS node, sum(r1.r // deg.d)::BIGINT AS s
                 FROM e JOIN deg USING (u) JOIN r1 ON r1.node = e.u
                 GROUP BY e.v),
          r2 AS (SELECT node, (150000000 + (s * 85) // 100)::BIGINT AS r
                 FROM c2),
          c3 AS (SELECT e.v AS node, sum(r2.r // deg.d)::BIGINT AS s
                 FROM e JOIN deg USING (u) JOIN r2 ON r2.node = e.u
                 GROUP BY e.v),
          r3 AS (SELECT node, (150000000 + (s * 85) // 100)::BIGINT AS r
                 FROM c3)
          SELECT node AS part, r AS rank_q FROM r3
          ORDER BY r DESC, node LIMIT 20""",

    "q93_streaks" ->
      """WITH days AS (SELECT DISTINCT user_id, ts::DATE AS day
                       FROM events),
         runs AS (SELECT user_id, day,
                    day - (row_number() OVER (
                      PARTITION BY user_id ORDER BY day))::INT AS grp
                  FROM days),
         agg AS (SELECT user_id, min(day) AS streak_start,
                   count(*)::BIGINT AS len
                 FROM runs GROUP BY user_id, grp),
         best AS (SELECT *, row_number() OVER (
                    PARTITION BY user_id
                    ORDER BY len DESC, streak_start) AS rn
                  FROM agg)
         SELECT user_id, streak_start::VARCHAR AS streak_start, len
         FROM best WHERE rn = 1 AND len >= 2
         ORDER BY len DESC, user_id""",

    "q94_allocation" ->
      """WITH rev AS (SELECT n_name,
             sum(round(o_totalprice * 100))::BIGINT AS cents
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY n_name),
         t AS (SELECT sum(cents)::BIGINT AS total FROM rev),
         based AS (SELECT n_name, cents,
             (1000 * cents) // total AS base,
             1000 * cents - ((1000 * cents) // total) * total AS rem
           FROM rev CROSS JOIN t),
         lo AS (SELECT (1000 - sum(base))::BIGINT AS leftover FROM based),
         rk AS (SELECT *, row_number() OVER (
                  ORDER BY rem DESC, n_name) AS rk
                FROM based)
         SELECT n_name, cents,
           (base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)::BIGINT
             AS slots
         FROM rk CROSS JOIN lo
         ORDER BY slots DESC, n_name""",

    // The waterfill walk restated over the tiny (lang, n) domain: the
    // capped test in multiplication form (division-free), then one
    // largest-remainder split of the leftover among the uncapped.
    "x160_unimax_alloc" ->
      """WITH src AS (SELECT lang, count(*)::BIGINT AS n
            FROM documents GROUP BY lang),
         tot AS (SELECT count(*)::BIGINT AS s,
                   ((9 * sum(n)) // 10)::BIGINT AS t FROM src),
         ord AS (SELECT lang, n,
                   row_number() OVER (ORDER BY n, lang)::BIGINT AS i,
                   coalesce(sum(n) OVER (ORDER BY n, lang
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0)::BIGINT AS p
                 FROM src),
         flg AS (SELECT ord.*, s, t,
                   n * (s - i + 1) <= t - p AS capped
                 FROM ord CROSS JOIN tot),
         agg AS (SELECT sum(CASE WHEN capped THEN 1 ELSE 0 END)::BIGINT
                     AS kk,
                   sum(CASE WHEN capped THEN n ELSE 0 END)::BIGINT
                     AS pcap
                 FROM flg),
         base AS (SELECT kk, (t - pcap) // greatest(s - kk, 1) AS b,
                    (t - pcap) % greatest(s - kk, 1) AS r
                  FROM agg CROSS JOIN tot),
         unc AS (SELECT lang,
                   row_number() OVER (ORDER BY n, lang)::BIGINT AS u
                 FROM flg WHERE NOT capped)
         SELECT f.lang, f.n AS n_docs,
           (CASE WHEN f.capped THEN f.n
                 ELSE b + CASE WHEN u.u <= r THEN 1 ELSE 0 END
            END)::BIGINT AS alloc,
           f.capped
         FROM flg f CROSS JOIN base
              LEFT JOIN unc u USING (lang)
         ORDER BY f.lang""",

    "x59_temperature_mix" ->
      """WITH src AS (SELECT source, count(*)::BIGINT AS n_docs,
             floor(sqrt(count(*)) * 1e6)::BIGINT AS s
           FROM documents GROUP BY source),
         t AS (SELECT sum(s)::BIGINT AS total FROM src),
         based AS (SELECT source, n_docs,
             (s * 1000000) // total AS weight_ppm,
             (100000 * s) // total AS base,
             100000 * s - ((100000 * s) // total) * total AS rem
           FROM src CROSS JOIN t),
         lo AS (SELECT (100000 - sum(base))::BIGINT AS leftover
                FROM based),
         rk AS (SELECT *, row_number() OVER (
                  ORDER BY rem DESC, source) AS rk
                FROM based)
         SELECT source, n_docs, weight_ppm::BIGINT AS weight_ppm,
           (base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)::BIGINT
             AS samples
         FROM rk CROSS JOIN lo
         ORDER BY source""",

    "x60_dedup_survivorship" ->
      """WITH d AS (SELECT doc_id, source,
             md5(lower(array_to_string(
               regexp_split_to_array(trim(text), '\s+')[1:10], ' ')))
               AS fp
           FROM documents),
         keep AS (SELECT fp, min(doc_id) AS keep_id, count(*) AS n
                  FROM d GROUP BY fp HAVING count(*) > 1),
         ks AS (SELECT doc_id AS keep_id, source AS src_keeper FROM d)
         SELECT ks.src_keeper, d.source AS src_dup,
           count(*)::BIGINT AS n_absorbed
         FROM d JOIN keep USING (fp) JOIN ks USING (keep_id)
         WHERE d.doc_id <> keep.keep_id
         GROUP BY ks.src_keeper, d.source
         ORDER BY src_keeper, src_dup""",

    "x61_token_fertility" ->
      """WITH per AS (SELECT lang,
             len(regexp_split_to_array(trim(text), '\s+'))::BIGINT
               AS tokens,
             CAST(list_sum(list_transform(
               regexp_split_to_array(trim(text), '\s+'),
               w -> ceil(length(w) / 4.0)::BIGINT)) AS BIGINT)
               AS subwords,
             length(text)::BIGINT AS chars
           FROM documents)
         SELECT lang, count(*)::BIGINT AS n_docs,
           sum(tokens)::BIGINT AS tokens,
           sum(subwords)::BIGINT AS subwords,
           sum(chars)::BIGINT AS chars,
           ((sum(subwords) * 1000) // nullif(sum(tokens), 0))::BIGINT
             AS fertility_x1000,
           ((sum(chars) * 1000) // nullif(sum(tokens), 0))::BIGINT
             AS chars_per_token_x1000
         FROM per GROUP BY lang ORDER BY lang""",

    "x114_rfm_segments" ->
      """WITH a AS (SELECT max(epoch_us(o_orderdate)) AS mx FROM orders),
         b AS (SELECT o_custkey,
                 ((SELECT mx FROM a) - max(epoch_us(o_orderdate)))
                   // 86400000000 AS r_days,
                 count(*)::BIGINT AS n_orders,
                 sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
                   AS m_cents
               FROM orders GROUP BY 1),
         n AS (SELECT count(*)::BIGINT AS _n FROM b),
         r AS (SELECT b.*,
                 row_number() OVER (ORDER BY r_days, o_custkey) AS rr,
                 row_number() OVER (ORDER BY n_orders DESC, o_custkey)
                   AS rf,
                 row_number() OVER (ORDER BY m_cents DESC, o_custkey)
                   AS rm
               FROM b)
         SELECT o_custkey, r_days, n_orders, m_cents,
           (5 - ((rr - 1) * 5) // _n)::BIGINT AS r_score,
           (5 - ((rf - 1) * 5) // _n)::BIGINT AS f_score,
           (5 - ((rm - 1) * 5) // _n)::BIGINT AS m_score,
           ((5 - ((rr - 1) * 5) // _n) * 100 +
            (5 - ((rf - 1) * 5) // _n) * 10 +
            (5 - ((rm - 1) * 5) // _n))::BIGINT AS segment
         FROM r, n ORDER BY o_custkey""",

    // path enumeration + min: correct because every edge strictly
    // decreases the key, so the recursion is finite
    "x115_weighted_sssp" ->
      """WITH RECURSIVE
         nodes AS (SELECT c_custkey AS u FROM customer),
         e AS (SELECT u AS src, u // 2 AS dst, (u % 7 + 1)::BIGINT AS w
               FROM nodes WHERE u >= 2
               UNION ALL
               SELECT u, u // 3, (u % 5 + 1)::BIGINT
               FROM nodes WHERE u >= 3),
         d(node, dist) AS (
           SELECT u, 0::BIGINT FROM nodes WHERE u = 1
           UNION ALL
           SELECT e.src, d.dist + e.w FROM d JOIN e ON e.dst = d.node)
         SELECT node, min(dist)::BIGINT AS dist
         FROM d GROUP BY node ORDER BY node""",

    // the identical two-arm fusion: null-cos rows drop BEFORE the
    // semantic ranking (as on the Spark side), 1::DOUBLE keeps the RRF
    // term double (a DuckDB 1.0 literal is DECIMAL)
    "x137_rrf_fusion" ->
      s"""WITH dw AS (SELECT doc_id,
               unnest(list_distinct(
                 regexp_split_to_array(trim(text), '\\s+'))) AS w
             FROM documents),
          qw AS (SELECT doc_id AS qid, w FROM dw WHERE doc_id < $RRF_Q),
          lex0 AS (SELECT qw.qid, dw.doc_id, count(*)::BIGINT AS ov
                   FROM dw JOIN qw USING (w) WHERE dw.doc_id <> qw.qid
                   GROUP BY qw.qid, dw.doc_id),
          lex AS (SELECT qid, doc_id, lr FROM (
                    SELECT qid, doc_id, row_number() OVER (
                        PARTITION BY qid ORDER BY ov DESC, doc_id ASC)
                      AS lr
                    FROM lex0) WHERE lr <= $RRF_ARM),
          e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  sqrt(list_dot_product(embedding::DOUBLE[],
                                        embedding::DOUBLE[])) AS nrm
                FROM embeddings),
          qv AS (SELECT vec_id AS qid, v AS qv, nrm AS qn
                 FROM e WHERE vec_id < $RRF_Q),
          sem0 AS (SELECT qv.qid, e.vec_id AS doc_id,
                     list_dot_product(qv.qv, e.v) / (qv.qn * e.nrm) AS cos
                   FROM qv JOIN e ON e.vec_id <> qv.qid
                   WHERE qv.qn <> 0 AND e.nrm <> 0),
          sem AS (SELECT qid, doc_id, sr FROM (
                    SELECT qid, doc_id, row_number() OVER (
                        PARTITION BY qid ORDER BY cos DESC, doc_id ASC)
                      AS sr
                    FROM sem0) WHERE sr <= $RRF_ARM),
          f AS (SELECT coalesce(lex.qid, sem.qid) AS qid,
                       coalesce(lex.doc_id, sem.doc_id) AS doc_id,
                       coalesce(1::DOUBLE / (lex.lr + $RRF_K), 0)
                     + coalesce(1::DOUBLE / (sem.sr + $RRF_K), 0) AS rrf
                FROM lex FULL OUTER JOIN sem
                  ON lex.qid = sem.qid AND lex.doc_id = sem.doc_id)
          SELECT qid, rank, doc_id, round(rrf, 6) AS rrf FROM (
            SELECT qid, doc_id, rrf, row_number() OVER (
                PARTITION BY qid ORDER BY rrf DESC, doc_id ASC) AS rank
            FROM f)
          WHERE rank <= $RRF_TOP ORDER BY qid, rank""")
}
