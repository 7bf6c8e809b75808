package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ops.ColumnOps.cents

/** Round-3 coverage: the scalar-function surface (array / string / regexp /
  * conditional / bitwise batteries), global top-k, exact single-pass moment
  * statistics, per-group sorted collection, RANGE window frames, positional
  * explode, union-distinct, blocked embedding near-dup, and deterministic
  * stratified splitting — each a `SparkEntry.queries` entry with a DuckDB
  * oracle.
  *
  * Scale notes, per query:
  *  - q50 plans as TakeOrderedAndProject (per-partition top-k, tiny merge on
  *    the driver) — never a global sort.
  *  - q51 computes stddev/corr from EXACT integer moments (one map-side
  *    partial agg; long/decimal sums), so results are bit-identical across
  *    engines and cluster sizes — float accumulation order never matters.
  *    This is the 100 TB-safe way to cross-check statistics; the native
  *    `stddev_samp`/`corr` aggregates are the same single pass but their
  *    double accumulation order is partition-dependent, so they cannot be
  *    hash-checked.
  *  - q52/q53/q56/q54/q60 are pure map-side projections (whole-stage
  *    codegen, no shuffle beyond the output sort).
  *  - q55 shuffles once on the group key; collect_set is bounded by segment
  *    cardinality (5), not row count.
  *  - q59's RANGE frame is one shuffle + sort per user partition.
  *  - x22 joins within `label` blocks (the blocked similarity-join idiom):
  *    candidate pairs are O(Σ blockᵢ²), never the full N² cross join.
  *  - x23's md5-bucket split is engine- and cluster-size-independent — the
  *    reproducible train/val/test assignment for a training corpus.
  */
object FunctionQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q50 — global top-k: ORDER BY ... LIMIT plans as per-partition top-k
    // (TakeOrderedAndProject), the only scale-safe global-order operator
    "q50_global_topk" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
                cents(col("o_totalprice")).as("price_cents"))
        .orderBy(col("price_cents").desc, col("o_orderkey").asc)
        .limit(100)),

    // Q51 — single-pass exact-moment statistics: stddev / correlation
    // derived from integer sums (see scale note above)
    "q51_stats_moments" -> ((s, dir) => {
      val q = col("l_quantity").cast("long")
      val p = cents(col("l_extendedprice"))
      val g = Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
             sum(q).as("sum_q"),
             sum(q * q).as("sum_q2"),
             sum(p).as("sum_p"),
             // p² fits a long per-row but the SUM does not at sf≥0.1 —
             // decimal(38,0) keeps the moment exact at any scale
             sum((p * p).cast(DecimalType(38, 0))).as("sum_p2"),
             sum(q * p).as("sum_qp"))
      val nD = col("n").cast("double")
      val sq = col("sum_q").cast("double")
      val sq2 = col("sum_q2").cast("double")
      val sp = col("sum_p").cast("double")
      val sp2 = col("sum_p2").cast("double")
      val sqp = col("sum_qp").cast("double")
      val varQ = (nD * sq2 - sq * sq) / (nD * (nD - 1))
      val varP = (nD * sp2 - sp * sp) / (nD * (nD - 1))
      g.select(col("l_returnflag"), col("n"), col("sum_q"),
               round(sqrt(varQ), 6).as("stddev_q"),
               round(sqrt(varP), 4).as("stddev_p_cents"),
               (round((nD * sqp - sq * sp) /
                  sqrt((nD * sq2 - sq * sq) * (nD * sp2 - sp * sp)), 6)
                 + lit(0.0d)).as("corr_qp"))
        .orderBy(col("l_returnflag"))
    }),

    // Q52 — array-function battery over tokenized documents
    "q52_array_funcs" -> ((s, dir) => {
      val w = split(trim(col("text")), "\\s+")
      Tables(s, dir, "documents")
        .select(col("doc_id"),
                size(w).cast("long").as("n_words"),
                size(array_distinct(w)).cast("long").as("n_distinct"),
                array_contains(w, "spark").as("has_spark"),
                array_join(slice(w, 1, 3), " ").as("first3"),
                array_min(w).as("min_word"),
                array_max(w).as("max_word"))
        .orderBy(col("doc_id"))
    }),

    // Q53 — string-function battery over customer names
    "q53_string_funcs" -> ((s, dir) =>
      Tables(s, dir, "customer")
        .select(col("c_custkey"),
                lpad(col("c_name"), 22, "*").as("lpadded"),
                rpad(col("c_mktsegment"), 12, ".").as("rpadded"),
                reverse(col("c_name")).as("rev"),
                translate(col("c_name"), "#", "-").as("dashed"),
                expr("replace(c_name, 'Customer', 'Cust')").as("shortened"),
                instr(col("c_name"), "#").cast("long").as("hash_pos"),
                expr("left(c_name, 8)").as("l8"),
                expr("right(c_name, 4)").as("r4"),
                repeat(substring(col("c_name"), 1, 2), 2).as("rep2"),
                concat_ws("|", col("c_name"), col("c_mktsegment")).as("joined"),
                length(col("c_name")).cast("long").as("name_len"))
        .orderBy(col("c_custkey"))),

    // Q54 — conditional-expression battery: greatest/least, nullif,
    // coalesce, CASE ladders, integer floor/ceil/abs/mod
    "q54_conditional" -> ((s, dir) => {
      val k = col("o_orderkey")
      Tables(s, dir, "orders")
        .select(k,
                greatest(k % 7, k % 5, lit(3L)).as("g"),
                least(k % 7, k % 5, lit(3L)).as("l"),
                nullif(col("o_orderstatus"), lit("O")).as("nn_status"),
                coalesce(nullif(col("o_orderstatus"), lit("O")), lit("zz"))
                  .as("status_or_zz"),
                abs(k % 10 - 5).as("a"),
                floor(col("o_totalprice") / 1000.0d).cast("long").as("flr"),
                ceil(col("o_totalprice") / 1000.0d).cast("long").as("cl"),
                when(col("o_totalprice") > 200000, "hi")
                  .when(col("o_totalprice") > 100000, "mid")
                  .otherwise("lo").as("tier"))
        .orderBy(k)
    }),

    // Q55 — per-group sorted collection: the deterministic form of
    // collect_set (sort_array makes the agg order-insensitive)
    "q55_collect_sorted" -> ((s, dir) =>
      Tables(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(array_join(sort_array(collect_set(col("c_mktsegment"))), ",")
               .as("segs"),
             count(lit(1)).as("n_cust"))
        .orderBy(col("c_nationkey"))),

    // Q56 — regexp battery: extract group, global replace, match count,
    // case-insensitive LIKE
    "q56_regexp_funcs" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
                regexp_extract(col("text"), "^(\\w+)", 1).as("first_word"),
                regexp_count(col("text"), lit("[aeiou]")).cast("long")
                  .as("n_vowels"),
                regexp_replace(col("text"), "[aeiou]", "_").as("devoweled"),
                col("text").ilike("%SPARK%").as("mentions_spark"))
        .orderBy(col("doc_id"))),

    // Q57 — UNION with distinct semantics (q15 covers UNION ALL)
    "q57_union_distinct" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
      val a = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val b = o.filter(lower(col("o_orderpriority")).contains("urgent"))
        .select(col("o_custkey"))
      a.union(b).distinct().orderBy(col("o_custkey"))
    }),

    // Q58 — numeric bucketing / histogram: fixed-width buckets then a
    // low-cardinality aggregate
    "q58_histogram" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .select(floor(col("o_totalprice") / 50000.0d).cast("long").as("bucket"),
                cents(col("o_totalprice")).as("pc"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
             min(col("pc")).as("min_cents"),
             max(col("pc")).as("max_cents"))
        .orderBy(col("bucket"))),

    // Q59 — RANGE window frame (value-based, not row-based): per user, the
    // count / value sum of events in the trailing 10 minutes
    "q59_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("sec")).rangeBetween(-600, 0)
      Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"),
                unix_timestamp(col("ts")).as("sec"),
                cents(col("value")).as("vc"))
        .select(col("event_id"), col("sec"),
                count(lit(1)).over(w).as("n_10min"),
                sum(col("vc")).over(w).as("vsum_cents"))
        .orderBy(col("event_id"))
    }),

    // Q60 — bitwise battery (partition/bucket assignment primitives)
    "q60_bitwise" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
                expr("o_orderkey & 255").as("band"),
                expr("o_orderkey | 16").as("bor"),
                expr("o_orderkey ^ 5").as("bxor"),
                expr("shiftleft(o_orderkey, 2)").as("shl"),
                expr("bit_count(o_orderkey)").cast("long").as("popcnt"))
        .orderBy(col("o_orderkey"))),

    // Q61 — positional explode: one row per array element WITH its index
    "q61_posexplode" -> ((s, dir) => {
      val w = split(trim(col("text")), "\\s+")
      Tables(s, dir, "documents")
        .select(col("doc_id"), posexplode(w))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
                col("col").as("word"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    // X22 — blocked embedding near-dup: cosine-threshold pairs WITHIN each
    // label block (the blocked similarity join — O(Σ blockᵢ²) candidates,
    // never the full N² cross join). Norms are computed once per ROW
    // before the pair join, so per-pair work is a single codegen'd dot.
    "x22_embedding_neardup" -> ((s, dir) => {
      import graft.functions.{VectorFunctions => V}
      val e = Tables(s, dir, "embeddings")
        .select(col("label"), col("vec_id"), col("embedding"),
                V.norm(col("embedding")).as("nrm"))
      val a = e.select(col("label"), col("vec_id").as("id_a"),
                       col("embedding").as("va"), col("nrm").as("na"))
      val b = e.select(col("label"), col("vec_id").as("id_b"),
                       col("embedding").as("vb"), col("nrm").as("nb"))
      a.join(b, Seq("label")).filter(col("id_a") < col("id_b"))
        .withColumn("cos",
          when(col("na") === 0.0 || col("nb") === 0.0,
            lit(null).cast("double"))
          .otherwise(V.dot(col("va"), col("vb")) / (col("na") * col("nb"))))
        .filter(col("cos") >= 0.25)
        .select(col("label"), col("id_a"), col("id_b"),
                round(col("cos"), 4).as("cos"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // X55 — cross-source near-dup audit: x22's blocked cosine pairs,
    // attributed to each document's source and rolled up per source pair
    // — the "which domains paraphrase each other" matrix that exact
    // hashing cannot see (this corpus has zero byte-identical dups; all
    // duplication is near-dup). Pair generation stays blocked by label
    // (never N²); the source lookups are ordinary equi-joins on the slim
    // (doc_id, source) projection — at corpus scale the post-threshold
    // pair side is the small side, so AQE picks the broadcast direction.
    "x55_cross_source_neardup" -> ((s, dir) => {
      import graft.functions.{VectorFunctions => V}
      val e = Tables(s, dir, "embeddings")
        .select(col("label"), col("vec_id"), col("embedding"),
                V.norm(col("embedding")).as("nrm"))
      val a = e.select(col("label"), col("vec_id").as("id_a"),
                       col("embedding").as("va"), col("nrm").as("na"))
      val b = e.select(col("label"), col("vec_id").as("id_b"),
                       col("embedding").as("vb"), col("nrm").as("nb"))
      val src = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"))
      val pairs = a.join(b, Seq("label")).filter(col("id_a") < col("id_b"))
        .withColumn("cos",
          when(col("na") === 0.0 || col("nb") === 0.0,
            lit(null).cast("double"))
          .otherwise(V.dot(col("va"), col("vb")) / (col("na") * col("nb"))))
        .filter(col("cos") >= 0.25)
        .join(src.select(col("doc_id").as("id_a"), col("source").as("src_a")),
              Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")),
              Seq("id_b"))
        .select(least(col("src_a"), col("src_b")).as("src_lo"),
                greatest(col("src_a"), col("src_b")).as("src_hi"),
                col("id_a"), col("id_b"))
      val np = pairs.groupBy(col("src_lo"), col("src_hi"))
        .agg(count(lit(1)).as("n_pairs"))
      val nd = pairs.select(col("src_lo"), col("src_hi"),
                            col("id_a").as("id"))
        .unionAll(pairs.select(col("src_lo"), col("src_hi"),
                               col("id_b").as("id")))
        .groupBy(col("src_lo"), col("src_hi"))
        .agg(count_distinct(col("id")).as("n_docs"))
      np.join(nd, Seq("src_lo", "src_hi"))
        .orderBy(col("src_lo"), col("src_hi"))
    }),

    // Q62 — higher-order-function battery: filter / exists / forall /
    // aggregate / transform over the tokenized word array. Pure map-side
    // projection; HOF lambdas evaluate interpreted in Spark, which is fine
    // here (once per ROW, not per candidate pair — contrast VecDot)
    "q62_hof_battery" -> ((s, dir) => {
      val w = split(trim(col("text")), "\\s+")
      Tables(s, dir, "documents")
        .select(col("doc_id"),
                size(filter(w, x => length(x) > 4)).cast("long").as("n_long"),
                exists(w, x => x.rlike("^[A-Z]")).as("any_cap"),
                forall(w, x => length(x) <= 12).as("all_short"),
                aggregate(w, lit(0L), (acc, x) => acc + length(x))
                  .as("total_len"),
                concat_ws(",", transform(slice(w, 1, 3),
                  x => length(x).cast("string"))).as("first3_lens"))
        .orderBy(col("doc_id"))
    }),

    // Q63 — tumbling time-window aggregation via the `window()` function
    // (the batch twin of the Structured Streaming windowed agg): one
    // shuffle on (bucket, type); buckets are epoch-aligned so this equals
    // date_trunc('hour') in any engine
    "q63_tumbling_window" -> ((s, dir) =>
      Tables(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
             sum(cents(col("value"))).as("sum_cents"))
        .select(col("window.start").as("hour_start"), col("event_type"),
                col("n"), col("sum_cents"))
        .orderBy(col("hour_start"), col("event_type"))),

    // Q64 — correlated scalar subqueries (Catalyst decorrelates each into
    // an aggregate + join): orders priced above 1.5× their customer's
    // average, in exact integer arithmetic (2·price·count > 3·sum) so the
    // threshold is engine- and partition-order-independent
    "q64_corr_subquery" -> ((s, dir) => {
      Tables(s, dir, "orders").createOrReplaceTempView("orders_q64")
      s.sql("""
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        FROM orders_q64 o
        WHERE 2 * CAST(round(o_totalprice * 100) AS BIGINT) *
              (SELECT count(*) FROM orders_q64 o2
               WHERE o2.o_custkey = o.o_custkey)
              > 3 * (SELECT sum(CAST(round(o2.o_totalprice * 100) AS BIGINT))
                     FROM orders_q64 o2 WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o_orderkey""")
    }),

    // X24 — TF-IDF top term per document, in EXACT integer arithmetic:
    // idf_scaled = (1e6·N) div df is monotone in N/df and reproducible on
    // any engine/cluster size (ln() differs by ulps across libm
    // implementations — unacceptable for a rank that feeds dedup/filter
    // decisions at 100 TB). Dataflow: explode → per-doc term counts →
    // doc-freq agg → broadcast N → top-1 per doc by (score, term).
    "x24_tfidf_top_term" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val terms = docs.select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("word"))
      // tf is persisted: its two consumers (the doc-freq agg and the
      // scored join) would otherwise each re-evaluate the explode+agg
      // chain — two corpus tokenizations instead of one (Catalyst cannot
      // reuse one exchange across differently-aliased subtrees)
      val tf = terms.groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("tf")).persist()
      val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      // dfreq is VOCABULARY-sized and derives from the stats-less cached
      // tf — broadcast explicitly or the planner intermittently
      // sort-merges the (doc × term)-sized side against it (x56's flip)
      val scored = tf.join(broadcast(dfreq), Seq("word"))
        .crossJoin(broadcast(n))
        .withColumn("score", col("tf") * expr("(1000000 * n) div df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("word").asc)
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("word").as("top_term"),
                col("tf"), col("df"), col("score"))
        .orderBy(col("doc_id"))
    }),

    // X25 — corpus-level bigram counts, global top-25: zip_with over the
    // shifted word array (map-side, no shuffle) → one hash agg → top-k as
    // TakeOrderedAndProject. Deterministic ties via (count desc, bigram)
    "x25_bigram_topk" -> ((s, dir) => {
      val w = split(trim(col("text")), "\\s+")
      Tables(s, dir, "documents")
        .select(explode(zip_with(
          slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
          (a, b) => concat(a, lit(" "), b))).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram").asc)
        .limit(25)
    }),

    // Q65 — multiset set operations (EXCEPT ALL / INTERSECT ALL keep
    // duplicate cardinalities, unlike q24/q25's set forms)
    "q65_multiset_ops" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
      val a = o.filter(col("o_orderstatus") =!= "P").select(col("o_custkey"))
      val b = o.filter(lower(col("o_orderpriority")).contains("urgent"))
        .select(col("o_custkey"))
      a.exceptAll(b).withColumn("tag", lit("except_all"))
        .unionByName(a.intersectAll(b).withColumn("tag", lit("intersect_all")))
        .orderBy(col("tag"), col("o_custkey"))
    }),

    // Q66 — min_by / max_by (argmin/argmax aggregates): deterministic via
    // a unique ordering value (cents ⊕ orderkey), since ties are
    // engine-nondeterministic in both Spark and DuckDB
    "q66_argminmax" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
                cents(col("o_totalprice")).as("pc"))
        .withColumn("uk", col("pc") * 10000000L + col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(min_by(col("o_orderkey"), col("uk")).as("cheapest_order"),
             max_by(col("o_orderkey"), col("uk")).as("priciest_order"),
             min(col("pc")).as("min_cents"),
             max(col("pc")).as("max_cents"))
        .orderBy(col("o_custkey"))),

    // X28 — symmetric int8 embedding quantization: scale = max|x|,
    // q_i = round(127·x/scale). Pure elementwise projection (no shuffle,
    // no accumulation) ⇒ bit-identical across engines and cluster sizes;
    // the 4× storage/bandwidth reduction step of an ANN pipeline.
    "x28_quantize_int8" -> ((s, dir) => {
      import graft.functions.{VectorFunctions => V}
      Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
                V.absMax(col("embedding")).as("scale"))
        .select(col("vec_id"), round(col("scale"), 6).as("scale_r"),
                when(col("scale") === 0.0, lit("ZERO"))
                  .otherwise(concat_ws(",",
                    V.quantizeInt8(col("embedding"), col("scale"))))
                  .as("q_str"))
        .orderBy(col("vec_id"))
    }),

    // X29 — ANN top-k over the QUANTIZED corpus: int8 vectors, integer dot
    // product (exact ≤ 2^53 in doubles, so bit-identical cross-engine,
    // unlike float cosine which needs the fold-order contract). This is
    // x09's production shape after x28's 4× compression: rank by integer
    // dot, deterministic ties by neighbor id.
    // q8 feeds both sides, but this is NOT a doubled quantize of the
    // corpus: the query side's vec_id<5 filter pushes into its scan, so
    // that branch quantizes 5 rows while the candidate side makes the one
    // full pass — plan-checked in PlanShapeSpec. Run-to-run variance on
    // this query is broadcast-build latency, not recompute.
    "x29_quantized_topk" -> ((s, dir) => {
      import graft.functions.{VectorFunctions => V}
      val q8 = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
                V.absMax(col("embedding")).as("scale"))
        .filter(col("scale") > 0.0)
        .select(col("vec_id"),
                transform(V.quantizeInt8(col("embedding"), col("scale")),
                  _.cast("double")).as("qv"))
      val q = q8.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("qv").as("qa"))
      val cand = q8.select(col("vec_id").as("nid"), col("qv").as("qb"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("qdot").desc, col("nid").asc)
      broadcast(q).join(cand, col("nid") =!= col("qid"))
        .withColumn("qdot", V.dot(col("qa"), col("qb")).cast("long"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("nid"), col("qdot"))
        .orderBy(col("qid"), col("rank"))
    }),

    // X23 — deterministic stratified train/val/test split: md5-bucket
    // assignment (engine- and cluster-size-independent), counted per source
    "x23_stratified_split" -> ((s, dir) => {
      val bucket = conv(substring(
        md5(concat(lit("split:"), col("doc_id"))), 1, 4), 16, 10)
        .cast("long") % 100
      Tables(s, dir, "documents")
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"), col("split"))
    }),

    // X36 — kNN classification by majority vote: integer-dot ranking over
    // the quantized corpus (x29's deterministic ANN shape), top-5
    // neighbors per query, label decided by (votes desc, label asc) — the
    // embedding-space labeler for weak supervision / data curation.
    "x36_knn_classify" -> ((s, dir) => {
      import graft.functions.{VectorFunctions => V}
      val q8 = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"),
                V.absMax(col("embedding")).as("scale"))
        .filter(col("scale") > 0.0)
        .select(col("vec_id"), col("label"),
                transform(V.quantizeInt8(col("embedding"), col("scale")),
                  _.cast("double")).as("qv"))
      val q = q8.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("qv").as("qa"))
      val cand = q8.filter(col("vec_id") >= 20)
        .select(col("vec_id").as("nid"), col("label").as("nlabel"),
                col("qv").as("qb"))
      val wRank = Window.partitionBy(col("qid"))
        .orderBy(col("qdot").desc, col("nid").asc)
      val wVote = Window.partitionBy(col("qid"))
        .orderBy(col("votes").desc, col("nlabel").asc)
      cand.join(broadcast(q), col("nid") =!= col("qid"))
        .withColumn("qdot", V.dot(col("qa"), col("qb")).cast("long"))
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= 5)
        .groupBy(col("qid"), col("nlabel"))
        .agg(count(lit(1)).as("votes"))
        .withColumn("rn", row_number().over(wVote))
        .filter(col("rn") === 1)
        .select(col("qid"), col("nlabel").as("pred_label"), col("votes"))
        .orderBy(col("qid"))
    }),

    // X37 — per-label centroids in EXACT integer arithmetic: components
    // are scaled to micro-units and integer-summed (associative — the
    // same value on any partitioning), then integer-divided; float mean
    // accumulation order would differ per cluster topology. The K-means
    // E-step / class-prototype primitive over embedding columns.
    "x37_label_centroids" -> ((s, dir) =>
      Tables(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .select(col("label"), col("pos"),
                round(col("col").cast("double") * 1000000).cast("long").as("v"))
        .filter(col("pos") < 8)
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("c"))
        .withColumn("mean_scaled", expr("sv div c"))
        .groupBy(col("label"))
        .agg(max(col("c")).as("n_members"),
             concat_ws(",", transform(
               array_sort(collect_list(struct(col("pos"), col("mean_scaled")))),
               s => s.getField("mean_scaled").cast("string"))).as("centroid8"))
        .orderBy(col("label"))),

    // X64 — embedding-distribution drift monitor: per label, the L1
    // distance between the centroid of two deterministic cohorts (even
    // vs odd vec_id — stand-ins for yesterday/today snapshots). x37's
    // micro-unit integer arithmetic end-to-end (sums commute, DIV
    // truncation matches DuckDB on negatives — probed), so the drift
    // number is bit-identical on any partitioning: the ingest-health
    // check that catches an upstream encoder change before it poisons
    // training. One explode + two keyed aggs; nothing all-pairs.
    "x64_embedding_drift" -> ((s, dir) =>
      Tables(s, dir, "embeddings")
        .select(col("label"), (col("vec_id") % 2).as("half"),
                posexplode(col("embedding")))
        .filter(col("pos") < 16)
        .select(col("label"), col("half"), col("pos"),
                round(col("col").cast("double") * 1000000).cast("long").as("v"))
        .groupBy(col("label"), col("half"), col("pos"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("c"))
        .withColumn("m", expr("sv DIV c"))
        .groupBy(col("label"), col("pos"))
        .agg(sum(when(col("half") === 0, col("m"))).as("m0"),
             sum(when(col("half") === 1, col("m"))).as("m1"),
             max(when(col("half") === 0, col("c"))).as("c0"),
             max(when(col("half") === 1, col("c"))).as("c1"))
        .groupBy(col("label"))
        .agg(sum(abs(col("m0") - col("m1"))).as("l1_drift_micro"),
             max(col("c0")).as("n_even"), max(col("c1")).as("n_odd"))
        .orderBy(col("label"))),

    // X69 — hyperplane-LSH near-dup candidates over embeddings: the
    // label-free complement of x22's blocked cosine (labels are training
    // metadata a raw corpus doesn't have). Each vector gets two 8-bit
    // SIGN SIGNATURES (coordinate-hyperplane SimHash bands over dims 0–7
    // and 8–15); candidates are pairs agreeing on EITHER band — two
    // banded equi-joins + a distinct, the x06 MinHash-band shape, never
    // all-pairs (band-key fan-in is corpus/256 on centered embeddings).
    // Each candidate is then verified with the exact cosine; recall is
    // the standard banded-LSH bound (a true near-dup must collide on at
    // least one band; more bands trade shuffle volume for recall). Sign
    // bits survive the float→double widening exactly, so the signature
    // — and therefore the candidate set — is engine-identical.
    "x69_hyperplane_lsh" -> ((s, dir) => {
      import graft.functions.{VectorFunctions => V}
      val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val sigs = e.select(col("vec_id"),
        V.signBand(col("embedding"), 0, 8).as("s0"),
        V.signBand(col("embedding"), 8, 8).as("s1"))
      def bandPairs(b: String) = sigs
        .select(col(b).as("bk"), col("vec_id").as("id_a"))
        .join(sigs.select(col(b).as("bk"), col("vec_id").as("id_b")),
              Seq("bk"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      val cand = bandPairs("s0").union(bandPairs("s1")).distinct()
      val va = e.select(col("vec_id").as("id_a"), col("embedding").as("va"),
                        V.norm(col("embedding")).as("na"))
      val vb = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
                        V.norm(col("embedding")).as("nb"))
      cand.join(va, Seq("id_a")).join(vb, Seq("id_b"))
        .withColumn("cos",
          when(col("na") === 0.0 || col("nb") === 0.0,
            lit(null).cast("double"))
          .otherwise(V.dot(col("va"), col("vb")) / (col("na") * col("nb"))))
        .filter(col("cos") >= 0.25)
        .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // X70 — hybrid retrieval with reciprocal-rank fusion: the RAG-index
    // serving pattern. Five query documents retrieve (a) lexically — an
    // idf-weighted token-overlap score, x40's integer-exact idf — and
    // (b) semantically — x29's int8-quantized dot over the aligned
    // embedding — and each side keeps its per-query top-20 BY RANK; RRF
    // then scores every candidate Σ 1000000 DIV (60+rank) over the lists
    // it appears in, which needs no score calibration between
    // incommensurable scales (the reason RRF wins in production). Query
    // tokens and vectors broadcast (queries are few; the corpus side
    // never re-shuffles for them); candidate generation is keyed by
    // token; the fusion join touches ≤ 40 rows per query. All ranks and
    // scores are integers with doc_id tie-breaks — engine-identical.
    "x70_hybrid_rrf" -> ((s, dir) => {
      import graft.functions.{VectorFunctions => V}
      val docs = Tables(s, dir, "documents")
      val tok = docs.select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("token"))
        .filter(col("token") =!= "").distinct()
      val dfreq = tok.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val nn = docs.agg(count(lit(1)).as("n"))
      val q = tok.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("token"))
      val ts = broadcast(q).join(tok, Seq("token"))
        .filter(col("doc_id") =!= col("qid"))
        .join(dfreq, Seq("token")).crossJoin(broadcast(nn))
        .withColumn("idf_x1000", expr("(1000000 * n) DIV df DIV 1000"))
        .groupBy(col("qid"), col("doc_id"))
        .agg(sum(col("idf_x1000")).as("ts"))
      val wt = Window.partitionBy(col("qid"))
        .orderBy(col("ts").desc, col("doc_id"))
      val ttop = ts.withColumn("trank", row_number().over(wt))
        .filter(col("trank") <= 20).select(col("qid"), col("doc_id"), col("trank"))
      val q8 = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
                V.absMax(col("embedding")).as("scale"))
        .filter(col("scale") > 0.0)
        .select(col("vec_id"),
                transform(V.quantizeInt8(col("embedding"), col("scale")),
                  _.cast("double")).as("qv"))
      val qv = q8.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("qv").as("qa"))
      val wv = Window.partitionBy(col("qid"))
        .orderBy(col("qdot").desc, col("doc_id"))
      val vtop = broadcast(qv)
        .join(q8.select(col("vec_id").as("doc_id"), col("qv").as("qb")),
              col("doc_id") =!= col("qid"))
        .withColumn("qdot", V.dot(col("qa"), col("qb")).cast("long"))
        .withColumn("vrank", row_number().over(wv))
        .filter(col("vrank") <= 20).select(col("qid"), col("doc_id"), col("vrank"))
      rrfFuse(ttop, vtop, k = 10).orderBy(col("qid"), col("rank"))
    }),

    // X76 — MULTI-PROBE LSH: x69's recall knob turned the other way.
    // Instead of indexing more bands (more index storage + exchanges),
    // keep ONE 8-bit sign band and let each vector also probe the 8
    // one-bit-flip neighbor buckets — a pair is a candidate iff their
    // signatures differ in ≤ 1 bit, caught from one side alone (XOR is
    // symmetric), so the probe explode is query-side only: 9× fan-out on
    // the slim (id, bucket) projection, 1× index, banded equi-join as
    // ever, never all-pairs. This is the classic storage-vs-probe-cost
    // trade of production ANN services; exact-cosine verify unchanged.
    "x76_multiprobe_lsh" -> ((s, dir) => {
      import graft.functions.{VectorFunctions => V}
      val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val sigs = e.select(col("vec_id"),
        V.signBand(col("embedding"), 0, 8).as("s0"))
      val probes = sigs.select(col("vec_id").as("id_a"),
        explode(array(col("s0") +: (0 until 8).map(i =>
          col("s0").bitwiseXOR(lit(1L << i))): _*)).as("bk"))
      val cand = probes
        .join(sigs.select(col("vec_id").as("id_b"), col("s0").as("bk")),
              Seq("bk"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).distinct()
      val va = e.select(col("vec_id").as("id_a"), col("embedding").as("va"),
                        V.norm(col("embedding")).as("na"))
      val vb = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
                        V.norm(col("embedding")).as("nb"))
      cand.join(va, Seq("id_a")).join(vb, Seq("id_b"))
        .withColumn("cos",
          when(col("na") === 0.0 || col("nb") === 0.0,
            lit(null).cast("double"))
          .otherwise(V.dot(col("va"), col("vb")) / (col("na") * col("nb"))))
        .filter(col("cos") >= 0.25)
        .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
        .orderBy(col("id_a"), col("id_b"))
    }))

  /** X70 core — reciprocal-rank fusion of two rank lists keyed by
    * (qid, doc_id) with rank columns `trank` / `vrank`: each candidate
    * scores Σ 1000000 DIV (60+rank) over the lists it appears in — the
    * calibration-free way to merge incommensurable retrieval scores.
    * Integer throughout with doc_id tie-breaks; the join touches only
    * the already-capped lists, never the corpus. */
  def rrfFuse(ttop: DataFrame, vtop: DataFrame, k: Int): DataFrame = {
    val fused = ttop.join(vtop, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(expr("1000000 DIV (60 + trank)"), lit(0L)) +
        coalesce(expr("1000000 DIV (60 + vrank)"), lit(0L)))
    val wf = Window.partitionBy(col("qid"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(wf))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("doc_id"), col("rrf"))
  }

  // --- DuckDB oracles ------------------------------------------------------

  private val wordsSql = "regexp_split_to_array(trim(text), '\\s+')"

  private val cosSql =
    """CASE WHEN sqrt(list_dot_product(va, va)) = 0
            OR sqrt(list_dot_product(vb, vb)) = 0 THEN NULL
       ELSE list_dot_product(va, vb) /
            (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb)))
       END"""

  val oracleSql: Map[String, String] = Map(
    "q50_global_topk" ->
      """SELECT o_orderkey, o_custkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders ORDER BY price_cents DESC, o_orderkey LIMIT 100""",

    "q51_stats_moments" ->
      """WITH g AS (
           SELECT l_returnflag,
             count(*) AS n,
             sum(CAST(l_quantity AS BIGINT)) AS sum_q,
             sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
               AS sum_q2,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sum_p,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sum_p2,
             sum(CAST(l_quantity AS BIGINT)
                 * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sum_qp
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           CAST(sum_q AS BIGINT) AS sum_q,
           round(sqrt((n::DOUBLE * sum_q2::DOUBLE - sum_q::DOUBLE * sum_q::DOUBLE)
                      / (n::DOUBLE * (n::DOUBLE - 1))), 6) AS stddev_q,
           round(sqrt((n::DOUBLE * sum_p2::DOUBLE - sum_p::DOUBLE * sum_p::DOUBLE)
                      / (n::DOUBLE * (n::DOUBLE - 1))), 4) AS stddev_p_cents,
           round((n::DOUBLE * sum_qp::DOUBLE - sum_q::DOUBLE * sum_p::DOUBLE)
                 / sqrt((n::DOUBLE * sum_q2::DOUBLE - sum_q::DOUBLE * sum_q::DOUBLE)
                        * (n::DOUBLE * sum_p2::DOUBLE - sum_p::DOUBLE * sum_p::DOUBLE)),
                 6) + 0.0 AS corr_qp
         FROM g ORDER BY l_returnflag""",

    "q52_array_funcs" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS wa FROM documents)
          SELECT doc_id,
            len(wa)::BIGINT AS n_words,
            len(list_distinct(wa))::BIGINT AS n_distinct,
            list_contains(wa, 'spark') AS has_spark,
            array_to_string(wa[1:3], ' ') AS first3,
            list_aggregate(wa, 'min') AS min_word,
            list_aggregate(wa, 'max') AS max_word
          FROM w ORDER BY doc_id""",

    "q53_string_funcs" ->
      """SELECT c_custkey,
           lpad(c_name, 22, '*') AS lpadded,
           rpad(c_mktsegment, 12, '.') AS rpadded,
           reverse(c_name) AS rev,
           translate(c_name, '#', '-') AS dashed,
           replace(c_name, 'Customer', 'Cust') AS shortened,
           instr(c_name, '#')::BIGINT AS hash_pos,
           left(c_name, 8) AS l8,
           right(c_name, 4) AS r4,
           repeat(substr(c_name, 1, 2), 2) AS rep2,
           concat_ws('|', c_name, c_mktsegment) AS joined,
           length(c_name)::BIGINT AS name_len
         FROM customer ORDER BY c_custkey""",

    "q54_conditional" ->
      """SELECT o_orderkey,
           greatest(o_orderkey % 7, o_orderkey % 5, 3) AS g,
           least(o_orderkey % 7, o_orderkey % 5, 3) AS l,
           nullif(o_orderstatus, 'O') AS nn_status,
           coalesce(nullif(o_orderstatus, 'O'), 'zz') AS status_or_zz,
           abs(o_orderkey % 10 - 5) AS a,
           CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS flr,
           CAST(ceil(o_totalprice / 1000.0) AS BIGINT) AS cl,
           CASE WHEN o_totalprice > 200000 THEN 'hi'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'lo' END AS tier
         FROM orders ORDER BY o_orderkey""",

    "q55_collect_sorted" ->
      """SELECT c_nationkey,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',')
             AS segs,
           count(*) AS n_cust
         FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""",

    "q56_regexp_funcs" ->
      """SELECT doc_id,
           regexp_extract(text, '^(\w+)', 1) AS first_word,
           len(regexp_extract_all(text, '[aeiou]'))::BIGINT AS n_vowels,
           regexp_replace(text, '[aeiou]', '_', 'g') AS devoweled,
           text ILIKE '%SPARK%' AS mentions_spark
         FROM documents ORDER BY doc_id""",

    "q57_union_distinct" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         UNION
         SELECT o_custkey FROM orders
         WHERE lower(o_orderpriority) LIKE '%urgent%'
         ORDER BY o_custkey""",

    "q58_histogram" ->
      """WITH b AS (SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT)
                      AS bucket,
                    CAST(round(o_totalprice * 100) AS BIGINT) AS pc
                    FROM orders)
         SELECT bucket, count(*) AS n, min(pc) AS min_cents,
                max(pc) AS max_cents
         FROM b GROUP BY bucket ORDER BY bucket""",

    "q59_range_frame" ->
      """WITH e AS (SELECT event_id, user_id,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                      CAST(round(value * 100) AS BIGINT) AS vc
                    FROM events)
         SELECT event_id, sec,
           count(*) OVER w AS n_10min,
           CAST(sum(vc) OVER w AS BIGINT) AS vsum_cents
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY sec
                      RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",

    "q60_bitwise" ->
      """SELECT o_orderkey,
           o_orderkey & 255 AS band,
           o_orderkey | 16 AS bor,
           xor(o_orderkey, 5) AS bxor,
           o_orderkey << 2 AS shl,
           bit_count(o_orderkey)::BIGINT AS popcnt
         FROM orders ORDER BY o_orderkey""",

    "q61_posexplode" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS wa FROM documents)
          SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, wa[i] AS word
          FROM w, unnest(generate_series(1, len(wa))) AS t(i)
          ORDER BY doc_id, pos""",

    "x22_embedding_neardup" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                     FROM embeddings),
          p AS (SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
                       a.v AS va, b.v AS vb
                FROM e a JOIN e b
                  ON b.label = a.label AND a.vec_id < b.vec_id),
          r AS (SELECT label, id_a, id_b, $cosSql AS cos FROM p)
          SELECT label, id_a, id_b, round(cos, 4) AS cos
          FROM r WHERE cos >= 0.25 ORDER BY id_a, id_b""",

    "x55_cross_source_neardup" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                     FROM embeddings),
          p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       a.v AS va, b.v AS vb
                FROM e a JOIN e b
                  ON b.label = a.label AND a.vec_id < b.vec_id),
          r AS (SELECT id_a, id_b FROM
                  (SELECT id_a, id_b, $cosSql AS cos FROM p)
                WHERE cos >= 0.25),
          sp AS (SELECT least(da.source, db.source) AS src_lo,
                        greatest(da.source, db.source) AS src_hi,
                        id_a, id_b
                 FROM r JOIN documents da ON da.doc_id = r.id_a
                        JOIN documents db ON db.doc_id = r.id_b),
          np AS (SELECT src_lo, src_hi, count(*)::BIGINT AS n_pairs
                 FROM sp GROUP BY src_lo, src_hi),
          nd AS (SELECT src_lo, src_hi, count(DISTINCT id)::BIGINT AS n_docs
                 FROM (SELECT src_lo, src_hi, id_a AS id FROM sp
                       UNION ALL SELECT src_lo, src_hi, id_b FROM sp)
                 GROUP BY src_lo, src_hi)
          SELECT src_lo, src_hi, n_pairs, n_docs
          FROM np JOIN nd USING (src_lo, src_hi)
          ORDER BY src_lo, src_hi""",

    "q62_hof_battery" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS wa FROM documents)
          SELECT doc_id,
            len(list_filter(wa, x -> len(x) > 4))::BIGINT AS n_long,
            list_aggregate(list_transform(wa,
              x -> regexp_matches(x, '^[A-Z]')), 'bool_or') AS any_cap,
            list_aggregate(list_transform(wa, x -> len(x) <= 12),
              'bool_and') AS all_short,
            CAST(list_sum(list_transform(wa, x -> len(x))) AS BIGINT)
              AS total_len,
            array_to_string(list_transform(wa[1:3], x -> len(x)::VARCHAR),
              ',') AS first3_lens
          FROM w ORDER BY doc_id""",

    "q63_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
         FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""",

    "q64_corr_subquery" ->
      """SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders o
         WHERE 2 * CAST(round(o_totalprice * 100) AS BIGINT) *
               (SELECT count(*) FROM orders o2
                WHERE o2.o_custkey = o.o_custkey)
               > 3 * (SELECT sum(CAST(round(o2.o_totalprice * 100) AS BIGINT))
                      FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
         ORDER BY o_orderkey""",

    "x24_tfidf_top_term" ->
      s"""WITH w AS (SELECT doc_id,
                       unnest($wordsSql) AS word FROM documents),
          tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
          dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
          nn AS (SELECT count(*) AS n FROM documents),
          scored AS (
            SELECT tf.doc_id, tf.word, tf.tf, dfq.df,
                   tf.tf * ((1000000 * nn.n) // dfq.df) AS score
            FROM tf JOIN dfq USING (word) CROSS JOIN nn),
          ranked AS (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                        ORDER BY score DESC, word) AS rn
            FROM scored)
          SELECT doc_id, word AS top_term, tf, df, score
          FROM ranked WHERE rn = 1 ORDER BY doc_id""",

    "x25_bigram_topk" ->
      s"""WITH w AS (SELECT $wordsSql AS wa FROM documents),
          b AS (SELECT wa[i] || ' ' || wa[i + 1] AS bigram
                FROM w, unnest(generate_series(1, len(wa) - 1)) AS t(i))
          SELECT bigram, count(*) AS n FROM b
          GROUP BY bigram ORDER BY n DESC, bigram LIMIT 25""",

    "q65_multiset_ops" ->
      """SELECT o_custkey, 'except_all' AS tag FROM (
           SELECT o_custkey FROM orders WHERE o_orderstatus <> 'P'
           EXCEPT ALL
           SELECT o_custkey FROM orders
           WHERE lower(o_orderpriority) LIKE '%urgent%')
         UNION ALL
         SELECT o_custkey, 'intersect_all' AS tag FROM (
           SELECT o_custkey FROM orders WHERE o_orderstatus <> 'P'
           INTERSECT ALL
           SELECT o_custkey FROM orders
           WHERE lower(o_orderpriority) LIKE '%urgent%')
         ORDER BY tag, o_custkey""",

    "q66_argminmax" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS pc
                    FROM orders)
         SELECT o_custkey,
           arg_min(o_orderkey, pc * 10000000 + o_orderkey)
             AS cheapest_order,
           arg_max(o_orderkey, pc * 10000000 + o_orderkey)
             AS priciest_order,
           min(pc) AS min_cents, max(pc) AS max_cents
         FROM o GROUP BY o_custkey ORDER BY o_custkey""",

    "x28_quantize_int8" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          sc AS (SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) AS scale
                 FROM e)
         SELECT vec_id, round(scale, 6) AS scale_r,
           CASE WHEN scale = 0 THEN 'ZERO'
                ELSE array_to_string(list_transform(v,
                       x -> CAST(round(127 * x / scale) AS INTEGER)::VARCHAR),
                     ',')
           END AS q_str
         FROM sc ORDER BY vec_id""",

    "x29_quantized_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          sc AS (SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) AS scale
                 FROM e WHERE list_max(list_transform(v, x -> abs(x))) > 0),
          q8 AS (SELECT vec_id,
                   list_transform(v, x -> round(127 * x / scale)) AS qv
                 FROM sc),
          p AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
                  CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS qdot
                FROM q8 a JOIN q8 b ON b.vec_id <> a.vec_id
                WHERE a.vec_id < 5),
          r AS (SELECT qid, nid, qdot,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY qdot DESC, nid) AS rank
                FROM p)
          SELECT qid, rank, nid, qdot FROM r WHERE rank <= 3
          ORDER BY qid, rank""",

    "x36_knn_classify" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
          sc AS (SELECT vec_id, label, v,
                   list_max(list_transform(v, x -> abs(x))) AS scale
                 FROM e WHERE list_max(list_transform(v, x -> abs(x))) > 0),
          q8 AS (SELECT vec_id, label,
                   list_transform(v, x -> round(127 * x / scale)) AS qv
                 FROM sc),
          p AS (SELECT a.vec_id AS qid, b.vec_id AS nid, b.label AS nlabel,
                  CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS qdot
                FROM q8 a JOIN q8 b ON b.vec_id >= 20
                WHERE a.vec_id < 20 AND b.vec_id <> a.vec_id),
          r AS (SELECT qid, nid, nlabel,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY qdot DESC, nid) AS rank
                FROM p),
          v AS (SELECT qid, nlabel, count(*) AS votes
                FROM r WHERE rank <= 5 GROUP BY qid, nlabel),
          w AS (SELECT qid, nlabel, votes, row_number() OVER (
                  PARTITION BY qid ORDER BY votes DESC, nlabel) AS rn
                FROM v)
          SELECT qid, nlabel AS pred_label, votes
          FROM w WHERE rn = 1 ORDER BY qid""",

    "x37_label_centroids" ->
      """WITH s1 AS (SELECT label, embedding,
             unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
          s2 AS (SELECT label, i - 1 AS pos,
             (round(embedding[i]::DOUBLE * 1000000))::BIGINT AS v
           FROM s1 WHERE i <= 8),
          g AS (SELECT label, pos, sum(v) AS sv, count(*) AS c
                FROM s2 GROUP BY label, pos)
          SELECT label, max(c) AS n_members,
            array_to_string(list((sv // c) ORDER BY pos), ',') AS centroid8
          FROM g GROUP BY label ORDER BY label""",

    "x64_embedding_drift" ->
      """WITH s1 AS (SELECT label, vec_id % 2 AS half, embedding,
             unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
          s2 AS (SELECT label, half, i - 1 AS pos,
             (round(embedding[i]::DOUBLE * 1000000))::BIGINT AS v
           FROM s1 WHERE i <= 16),
          g AS (SELECT label, half, pos, sum(v)::BIGINT AS sv,
                  count(*)::BIGINT AS c
                FROM s2 GROUP BY 1, 2, 3),
          m AS (SELECT label, half, pos, sv // c AS m, c FROM g),
          p AS (SELECT label, pos,
                  sum(CASE WHEN half = 0 THEN m END)::BIGINT AS m0,
                  sum(CASE WHEN half = 1 THEN m END)::BIGINT AS m1,
                  max(CASE WHEN half = 0 THEN c END)::BIGINT AS c0,
                  max(CASE WHEN half = 1 THEN c END)::BIGINT AS c1
                FROM m GROUP BY 1, 2)
          SELECT label, sum(abs(m0 - m1))::BIGINT AS l1_drift_micro,
            max(c0)::BIGINT AS n_even, max(c1)::BIGINT AS n_odd
          FROM p GROUP BY 1 ORDER BY 1""",

    "x23_stratified_split" ->
      """WITH s AS (SELECT source, n_chars,
                      CASE WHEN b < 80 THEN 'train'
                           WHEN b < 90 THEN 'val'
                           ELSE 'test' END AS split
                    FROM (SELECT source, n_chars,
                            ('0x' || substr(md5('split:' || doc_id), 1, 4))::BIGINT
                              % 100 AS b
                          FROM documents))
         SELECT source, split, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM s GROUP BY source, split ORDER BY source, split""",

    // sign bits are exact under float->double widening, so the candidate
    // set (either band collides) is engine-identical; cosine verify and
    // rounding mirror x22
    "x69_hyperplane_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          s AS (SELECT vec_id, v,
                  ${(0 until 8).map(i =>
                     s"(CASE WHEN v[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)")
                     .mkString(" + ")} AS s0,
                  ${(0 until 8).map(i =>
                     s"(CASE WHEN v[${i + 9}] >= 0 THEN ${1L << i} ELSE 0 END)")
                     .mkString(" + ")} AS s1
                FROM e),
          cand AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM s a JOIN s b ON b.s0 = a.s0 AND a.vec_id < b.vec_id
            UNION
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM s a JOIN s b ON b.s1 = a.s1 AND a.vec_id < b.vec_id),
          p AS (SELECT id_a, id_b, ea.v AS va, eb.v AS vb
                FROM cand JOIN e ea ON ea.vec_id = id_a
                          JOIN e eb ON eb.vec_id = id_b),
          r AS (SELECT id_a, id_b, $cosSql AS cos FROM p)
          SELECT id_a, id_b, round(cos, 4) AS cos
          FROM r WHERE cos >= 0.25 ORDER BY id_a, id_b""",

    // candidate iff signatures differ in <= 1 bit; XOR symmetry means
    // one-sided probing finds every such pair
    "x76_multiprobe_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          s AS (SELECT vec_id, v,
                  ${(0 until 8).map(i =>
                     s"(CASE WHEN v[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)")
                     .mkString(" + ")} AS s0
                FROM e),
          probes AS (SELECT vec_id AS id_a,
                       unnest([s0${(0 until 8).map(i =>
                         s", xor(s0, ${1L << i})").mkString}]) AS bk
                     FROM s),
          cand AS (SELECT DISTINCT a.id_a, b.vec_id AS id_b
                   FROM probes a JOIN s b ON b.s0 = a.bk
                   WHERE a.id_a < b.vec_id),
          p AS (SELECT id_a, id_b, ea.v AS va, eb.v AS vb
                FROM cand JOIN e ea ON ea.vec_id = id_a
                          JOIN e eb ON eb.vec_id = id_b),
          r AS (SELECT id_a, id_b, $cosSql AS cos FROM p)
          SELECT id_a, id_b, round(cos, 4) AS cos
          FROM r WHERE cos >= 0.25 ORDER BY id_a, id_b""",

    // both rank lists and the fusion are integer-exact with doc_id
    // tie-breaks, so the fused ordering is engine-identical
    "x70_hybrid_rrf" ->
      s"""WITH t0 AS (SELECT doc_id, unnest($wordsSql) AS token
                      FROM documents),
          tok AS (SELECT DISTINCT doc_id, token FROM t0 WHERE token <> ''),
          dfreq AS (SELECT token, count(*)::BIGINT AS df FROM tok GROUP BY token),
          nn AS (SELECT count(*)::BIGINT AS n FROM documents),
          q AS (SELECT doc_id AS qid, token FROM tok WHERE doc_id < 5),
          ts AS (SELECT q.qid, tok.doc_id,
                   sum(((1000000 * n) // df) // 1000)::BIGINT AS ts
                 FROM q JOIN tok USING (token)
                   JOIN dfreq USING (token) CROSS JOIN nn
                 WHERE tok.doc_id <> q.qid GROUP BY 1, 2),
          ttop AS (SELECT qid, doc_id, trank FROM
                     (SELECT qid, doc_id,
                        row_number() OVER (PARTITION BY qid
                          ORDER BY ts DESC, doc_id) AS trank FROM ts)
                   WHERE trank <= 20),
          e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          sc AS (SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) AS scale
                 FROM e WHERE list_max(list_transform(v, x -> abs(x))) > 0),
          q8 AS (SELECT vec_id,
                   list_transform(v, x -> round(127 * x / scale)) AS qv
                 FROM sc),
          p AS (SELECT a.vec_id AS qid, b.vec_id AS doc_id,
                  CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS qdot
                FROM q8 a JOIN q8 b ON b.vec_id <> a.vec_id
                WHERE a.vec_id < 5),
          vtop AS (SELECT qid, doc_id, vrank FROM
                     (SELECT qid, doc_id,
                        row_number() OVER (PARTITION BY qid
                          ORDER BY qdot DESC, doc_id) AS vrank FROM p)
                   WHERE vrank <= 20),
          f AS (SELECT coalesce(t.qid, v.qid) AS qid,
                  coalesce(t.doc_id, v.doc_id) AS doc_id,
                  coalesce(1000000 // (60 + t.trank), 0) +
                  coalesce(1000000 // (60 + v.vrank), 0) AS rrf
                FROM ttop t FULL JOIN vtop v
                  ON v.qid = t.qid AND v.doc_id = t.doc_id),
          r AS (SELECT qid, doc_id, rrf,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY rrf DESC, doc_id) AS rank FROM f)
          SELECT qid, rank, doc_id, rrf FROM r WHERE rank <= 10
          ORDER BY qid, rank""")
}
