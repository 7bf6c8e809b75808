package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{DedupOperators, TemporalJoins}
import graft.functions.{TextFunctions => T}
import graft.ops.ColumnOps.cents

/** Round-2 analytics operators: temporal joins (as-of, range), window
  * analytics, pivot/unpivot reshapes, grouped distinct counts, dup-group
  * cluster labels, and approximate sketches — each a `SparkEntry.queries`
  * entry, DuckDB-oracled where ANSI SQL can express it.
  *
  * Scale notes: the as-of join is one shuffle + sort (no inequality scan);
  * the range join is an O(N) bucketed equi-join; pivot/window queries
  * shuffle once on their grouping keys; x14's label propagation is
  * join+groupBy per round with bounded rounds. Money stays in integer
  * cents (`round(x*100)`) so cross-engine hashes are exact.
  */
object AnalyticsQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q28 — backward as-of join: each view event picks up the same user's
    // most recent purchase at-or-before it (ties: max purchase ts, then id)
    "q28_asof_join" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
      val views = e.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      TemporalJoins.asofJoinBackward(views, purchases, Seq("user_id"),
          "ts", "ts", Seq("event_id"), "_p")
        .select(col("event_id"), col("user_id"), col("ts"),
                col("ts_p").as("purchase_ts"),
                col("event_id_p").as("purchase_id"))
        .orderBy(col("event_id"))
    }),

    // Q40 — forward as-of join: each view event picks up the same user's
    // NEXT purchase at-or-after it (ties: min purchase ts, then id)
    "q40_asof_forward" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
      val views = e.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      TemporalJoins.asofJoinForward(views, purchases, Seq("user_id"),
          "ts", "ts", Seq("event_id"), "_p")
        .select(col("event_id"), col("user_id"), col("ts"),
                col("ts_p").as("purchase_ts"),
                col("event_id_p").as("purchase_id"))
        .orderBy(col("event_id"))
    }),

    // Q41 — nearest as-of join: closest purchase in either direction,
    // exact-distance ties prefer the backward match
    "q41_asof_nearest" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
      val views = e.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      TemporalJoins.asofJoinNearest(views, purchases, Seq("user_id"),
          "ts", "ts", Seq("event_id"), "_p")
        .select(col("event_id"), col("user_id"), col("ts"),
                col("ts_p").as("purchase_ts"),
                col("event_id_p").as("purchase_id"))
        .orderBy(col("event_id"))
    }),

    // Q29 — interval self-join: same-user event pairs within 300 s,
    // via gap-wide time cells (equi-join, no inequality scan)
    "q29_range_join" -> ((s, dir) =>
      TemporalJoins.rangeSelfJoin(Tables(s, dir, "events"),
          Seq("user_id"), "event_id", "ts", 300L)
        .orderBy(col("id_a"), col("id_b"))),

    // Q114 — moving median (robust sliding smoother): per user, the
    // lower median of the last 5 observed values — the de-noiser that a
    // moving AVERAGE is not (one spike drags a mean for 5 rows; a
    // median ignores it). The frame is a bounded 5-row buffer per
    // output row (collect over ROWS BETWEEN 4 PRECEDING), so cost is
    // O(w log w) per row after ONE user_id exchange — a windowed
    // aggregate, never a self-join; the q104-class hazard doesn't apply
    // because the frame, not the group, bounds the state. Integer
    // cents; lower-median (sorted[(n+1) DIV 2], 1-based) avoids
    // interpolation so both engines pick an actual data value.
    "q114_moving_median" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-4, 0)
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
                cents(col("value")).as("cents"))
        // NULL semantics pinned on BOTH engines: Spark's collect_list
        // silently drops NULLs while DuckDB's list() keeps them, so a
        // NULL value would silently shrink this frame here but shift
        // the median there — exclude NULL observations identically
        .filter(col("cents").isNotNull)
        .withColumn("_arr", sort_array(collect_list(col("cents")).over(w)))
        .select(col("user_id"), col("event_id"), col("cents"),
          element_at(col("_arr"),
            expr("CAST((size(_arr) + 1) DIV 2 AS INT)")).as("med5"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // X112 — CUSUM drift alarms over per-user daily activity: the
    // classic sequential change detector s_i = max(0, s_{i-1} + (c_i−k))
    // alarming at s ≥ h — textbooks write it as an unparallelizable
    // recurrence, but it has a closed prefix form: with P the running
    // sum of (c−k), s_i = P_i − min(0, min_{j≤i} P_j). That turns the
    // whole detector into TWO window functions riding ONE user-keyed
    // exchange (running sum + running min — the same de-recurrence
    // PrefixSumOps applies corpus-wide), so a year of history per user
    // costs a partition-local linear pass, parallel across users.
    // Integer throughout (counts vs an integer target rate k=2,
    // threshold h=5); day is the epoch-microsecond ordinal DIV 86.4e9
    // so neither engine touches a date type.
    "x112_cusum_alarms" -> ((s, dir) => {
      val k = 2L
      val h = 5L
      // pre-cluster by user alone: partitioning on a SUBSET of the
      // grouping keys still satisfies the daily agg's distribution, and
      // the detector windows need exactly this clustering — so the agg
      // and both windows ride ONE hash exchange instead of two
      val daily = Tables(s, dir, "events")
        .select(col("user_id"),
                expr("unix_micros(ts) div 86400000000").as("day"))
        .repartition(col("user_id"))
        .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      daily
        .withColumn("p", sum(col("c") - lit(k)).over(w))
        .withColumn("cusum",
          col("p") - least(lit(0L), min(col("p")).over(w)))
        .withColumn("alarm", col("cusum") >= h)
        .select(col("user_id"), col("day"), col("c"), col("cusum"),
                col("alarm"))
        .orderBy(col("user_id"), col("day"))
    }),

    // Q30 — window analytics over each customer's order history:
    // lag/lead, 3-row moving sum, running total, sequence rank
    "q30_window_analytics" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val c = cents(col("o_totalprice"))
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          c.as("price_cents"),
          lag(c, 1).over(w).as("prev_cents"),
          lead(c, 1).over(w).as("next_cents"),
          sum(c).over(w.rowsBetween(-2, 0)).as("mov3_cents"),
          sum(c).over(w.rowsBetween(Window.unboundedPreceding, 0))
            .as("running_cents"),
          row_number().over(w).as("order_seq"))
        .orderBy(col("o_orderkey"))
    }),

    // Q31 — pivot: return-flag × line-status quantity matrix
    "q31_pivot" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(cents(col("l_quantity"))))
        .orderBy(col("l_returnflag"))),

    // Q32 — unpivot/melt: wide part attributes → long (attr, val)
    "q32_unpivot" -> ((s, dir) =>
      Tables(s, dir, "part")
        .select(col("p_partkey"), col("p_size").cast("long").as("p_size"),
                cents(col("p_retailprice")).as("price_cents"))
        .unpivot(Array(col("p_partkey")),
                 Array(col("p_size"), col("price_cents")), "attr", "val")
        .orderBy(col("p_partkey"), col("attr"))),

    // Q34 — exact percentiles (ordered-set aggregate): linear-interpolation
    // quantiles of order value per priority, in cents so the interpolation
    // arithmetic is identical across engines
    "q34_percentile" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(round(expr("percentile(CAST(round(o_totalprice * 100) AS BIGINT), 0.25)"), 4).as("p25_cents"),
             round(expr("percentile(CAST(round(o_totalprice * 100) AS BIGINT), 0.5)"), 4).as("p50_cents"),
             round(expr("percentile(CAST(round(o_totalprice * 100) AS BIGINT), 0.9)"), 4).as("p90_cents"))
        .orderBy(col("o_orderpriority"))),

    // Q42 — SCD2 validity intervals from a change log: each order is the
    // customer's "current" state until the next order (open-ended last)
    "q42_scd2_intervals" -> ((s, dir) =>
      graft.ops.HistoryOps.validityIntervals(
          Tables(s, dir, "orders")
            .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"),
          Seq("o_custkey"), "o_orderdate", Seq(col("o_orderkey")))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
                col("valid_from"), col("valid_to"))
        .orderBy(col("o_orderkey"))),

    // Q33 — grouped distinct counts (exact twin of the x15 sketch)
    "q33_distinct_count" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count_distinct(col("o_custkey")).as("n_cust"),
             count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))),

    // Q35 — JSON extraction from a string column (semi-structured props)
    "q35_json_extract" -> ((s, dir) =>
      Tables(s, dir, "events")
        .select(col("event_id"),
                get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy(col("event_id"))),

    // Q36 — semi/anti join: customers with vs without urgent orders
    "q36_semi_anti" -> ((s, dir) => {
      val c = Tables(s, dir, "customer").select(col("c_custkey"))
      val urgent = Tables(s, dir, "orders")
        .filter(lower(col("o_orderpriority")).contains("urgent"))
        .select(col("o_custkey"))
      val semi = c.join(urgent, col("c_custkey") === col("o_custkey"),
          "left_semi").withColumn("flag", lit("has_urgent"))
      val anti = c.join(urgent, col("c_custkey") === col("o_custkey"),
          "left_anti").withColumn("flag", lit("no_urgent"))
      semi.unionByName(anti).orderBy(col("c_custkey"))
    }),

    // Q37 — time-series resample with gap fill: daily event counts per
    // user INCLUDING empty days (sequence + explode + left join)
    "q37_resample_gapfill" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
      val counts = e
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val days = e.groupBy(col("user_id"))
        .agg(date_trunc("day", min(col("ts"))).as("lo"),
             date_trunc("day", max(col("ts"))).as("hi"))
        .select(col("user_id"),
                explode(sequence(col("lo"), col("hi"),
                  expr("interval 1 day"))).as("day"))
      days.join(counts, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
                coalesce(col("n"), lit(0L)).as("n_events"))
        .orderBy(col("user_id"), col("day"))
    }),

    // Q38 — grouping sets (beyond q27's rollup): flag-only, status-only,
    // and grand-total strata in one pass
    "q38_grouping_sets" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
             count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
                 col("l_linestatus").asc_nulls_first)),

    // Q39 — the NAIVE inequality-join formulation of a temporal pair join:
    // written exactly as a user would (abs(Δsec) <= gap, no equi key), and
    // planned scalably ONLY because the injected RangeJoinRewrite rule
    // turns it into a banded equi-join — this query puts the optimizer
    // rule itself in the oracle-graded path
    "q39_range_rule" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
      val a = e.select(col("event_id").as("id_a"),
                       unix_timestamp(col("ts")).as("sec_a"))
      val b = e.select(col("event_id").as("id_b"),
                       unix_timestamp(col("ts")).as("sec_b"))
      a.join(b, abs(col("sec_a") - col("sec_b")) <= 60 &&
                col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
                (col("sec_b") - col("sec_a")).as("delta_sec"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Q43 — cube: every grouping combination incl. both rollup chains
    "q43_cube" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
             count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
                 col("l_linestatus").asc_nulls_first)),

    // Q44 — fuzzy matching: edit distance between successive customer
    // names (record-linkage primitive beyond token-based similarity)
    "q44_fuzzy_levenshtein" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
      val a = c.select(col("c_custkey").as("id_a"), col("c_name").as("name_a"))
      val b = c.select(col("c_custkey").as("id_b"), col("c_name").as("name_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
                levenshtein(col("name_a"), col("name_b")).as("edit_dist"))
        .orderBy(col("id_a"))
    }),

    // Q45 — date arithmetic battery: day diffs, offsets, month boundaries
    "q45_date_arith" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
                datediff(lit("1998-12-31").cast("date"),
                         col("o_orderdate").cast("date")).as("days_to_eoy"),
                date_add(col("o_orderdate").cast("date"), 30).as("due_date"),
                last_day(col("o_orderdate").cast("date")).as("month_end"),
                year(col("o_orderdate")).as("yr"),
                quarter(col("o_orderdate")).as("qtr"),
                dayofweek(col("o_orderdate")).as("dow"))
        .orderBy(col("o_orderkey"))),

    // Q46 — tolerant coercion battery: try_cast semantics (valid prefix
    // digit parses, non-numeric → null) — the ANSI-safe ingestion idiom
    "q46_try_cast" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
                expr("try_cast(split(o_orderpriority, '-')[0] AS BIGINT)")
                  .as("prio_num"),
                expr("try_cast(o_orderstatus AS BIGINT)").as("status_num"),
                expr("try_cast(o_orderpriority AS DOUBLE)").as("prio_dbl"))
        .orderBy(col("o_orderkey"))),

    // Q47 — null-safe equality join (<=>): null keys MATCH each other,
    // unlike plain = (which drops them)
    "q47_nullsafe_join" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
      val a = o.select(col("o_orderkey").as("id_a"),
        nullif(col("o_orderstatus"), lit("O")).as("k_a"))
      val b = o.select(col("o_orderkey").as("id_b"),
        nullif(col("o_orderstatus"), lit("O")).as("k_b"))
      a.join(b, col("k_a") <=> col("k_b") && col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"), col("k_a"))
        .orderBy(col("id_a"))
    }),

    // Q48 — boolean / conditional aggregates per group
    "q48_bool_aggs" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(bool_or(col("o_totalprice") > 400000).as("any_jumbo"),
             bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
             count_if(col("o_orderstatus") === "F").as("n_finished"))
        .orderBy(col("o_orderpriority"))),

    // Q49 — window-function completion: first/last/nth values, ntile,
    // percent_rank, cume_dist over each customer's order history
    "q49_window_funcs" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
                first(col("o_orderkey")).over(wf).as("first_ok"),
                last(col("o_orderkey")).over(wf).as("last_ok"),
                nth_value(col("o_orderkey"), 2).over(wf).as("second_ok"),
                ntile(4).over(w).as("quartile"),
                round(percent_rank().over(w), 6).as("pct_rank"),
                round(cume_dist().over(w), 6).as("cume"))
        .orderBy(col("o_orderkey"))
    }),

    // X21 — map/semi-structured explode: JSON props → typed map → one row
    // per entry
    "x21_map_explode" -> ((s, dir) =>
      Tables(s, dir, "events")
        .select(col("event_id"),
          explode(from_json(col("props"),
            org.apache.spark.sql.types.DataType.fromDDL("map<string,bigint>"))))
        .toDF("event_id", "k", "v")
        .orderBy(col("event_id"), col("k"))),

    // X14 — duplicate-group clustering: MinHash-LSH candidate pairs →
    // connected components; label = min doc_id of each component.
    // Oracled by a recursive-CTE transitive closure in DuckDB.
    "x14_dedup_cluster" -> ((s, dir) => {
      val pairs = DedupOperators.minhashCandidates(
        Tables(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, k = 8, bands = 4)
      DedupOperators.clusterPairs(pairs, maxIters = 30)
        .select(col("id"), col("label"))
        .orderBy(col("id"))
    }),

    // X92 — INCREMENTAL duplicate-cluster maintenance: fold a new
    // batch's near-dup edges into yesterday's cluster labels WITHOUT
    // re-traversing the historical candidate graph — the clustering
    // member of the incremental family (x16 candidates, x68 counts,
    // x91 sketches). The device: yesterday's labels collapse each old
    // component to a STAR (node → root, one edge per node), so the
    // incremental pass runs pointer jumping over |V_old| + |ΔE| edges
    // instead of |E_total| — at 100 TB the historical edge list is the
    // thing you cannot afford to re-shuffle, and the star preserves
    // both connectivity and the min-root, so merged components get the
    // same minimum label a full recompute would. The oracle IS the
    // full recompute (x14's recursive-CTE closure over ALL edges), so
    // hash parity directly proves incremental ≡ from-scratch. The
    // "yesterday" split is derived in-query (both endpoints
    // doc_id % 23 ≠ 5 — the x68 device); new edges are those touching
    // a % 23 = 5 doc.
    "x92_cluster_incremental" -> ((s, dir) => {
      val all = DedupOperators.minhashCandidates(
        Tables(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, k = 8, bands = 4).persist()
      val isNew = (col("id_a") % 23 === 5) || (col("id_b") % 23 === 5)
      val labelsOld = DedupOperators.clusterPairs(
        all.filter(!isNew), maxIters = 30)
      val labelEdges = labelsOld.filter(col("id") =!= col("label"))
        .select(col("id").as("id_a"), col("label").as("id_b"))
      DedupOperators.clusterPairs(
          labelEdges.unionByName(all.filter(isNew)), maxIters = 30)
        .select(col("id"), col("label"))
        .orderBy(col("id"))
    }),

    // X74 — duplicate-cluster census: the "how duplicated is this
    // corpus" report read before choosing a keep-one-per-cluster policy
    // — for each cluster size, how many clusters and how many documents
    // they hold. Rides x14's pipeline (banded candidates → pointer-
    // jumping components); the census itself is two keyed aggs over the
    // (id, label) frame, whose output is bounded by the largest cluster,
    // not the corpus. A fat head here (few huge clusters) warns that
    // near-dup removal will gut the corpus; a long tail of 2s is the
    // healthy shape.
    "x74_cluster_census" -> ((s, dir) => {
      val pairs = DedupOperators.minhashCandidates(
        Tables(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, k = 8, bands = 4)
      DedupOperators.clusterPairs(pairs, maxIters = 30)
        .groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
             sum(col("cluster_size")).as("n_docs"))
        .orderBy(col("cluster_size"))
    }),

    // X16 — incremental dedup: new batch (doc_id % 10 ∈ {8,9}) against the
    // persisted corpus band index — corpus text is never re-shingled, and
    // corpus-internal pairs are excluded
    "x16_dedup_incremental" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 10 < 8)
      val fresh = docs.filter(col("doc_id") % 10 >= 8)
      val idx = DedupOperators.signatureIndex(corpus, "doc_id", "text")
      DedupOperators.incrementalCandidates(idx, fresh, "doc_id", "text")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // X17 — the ENTIRE corpus-dedup pipeline end-to-end (exact dedup →
    // MinHash-LSH candidates → n-gram-Jaccard verify → connected
    // components → one survivor per duplicate group), oracled by the same
    // dataflow in DuckDB SQL — the extension-side analogue of the q22/q23
    // full-pipeline oracles
    "x17_dedup_corpus" -> ((s, dir) =>
      DedupOperators.dedupCorpus(
          Tables(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", jaccardThreshold = 0.5)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))),

    // X18 — multimodal column plumbing, oracle-graded: an opaque binary
    // payload (document bytes standing in for image bytes) flows through
    // the media struct, the deterministic decode stub, fingerprinting, and
    // size-classing — everything EXCEPT the codec itself is checked
    // cross-engine, which is exactly the testable surface when real codecs
    // are plugged in later
    "x18_multimodal_meta" -> ((s, dir) => {
      import graft.operators.Multimodal
      val m = Multimodal.withMediaStruct(
        Tables(s, dir, "documents").select("doc_id", "text"),
        col("text").cast("binary"), lit("txt"))
      val decoded = Multimodal.decodeImageStub(col("media.payload"))
      m.select(col("doc_id"),
               col("media.size_bytes").as("size_bytes"),
               md5(col("media.payload")).as("payload_md5"),
               decoded.getField("width").as("fake_w"),
               decoded.getField("height").as("fake_h"),
               Multimodal.sizeClass(col("media.payload")).as("size_class"))
        .orderBy(col("doc_id"))
    }),

    // X155 — MULTIMODAL audio VAD segmentation plan: the audio member of
    // the x18 family — payload → fixed 40-byte frame grid → per-frame
    // (stub) energy → speech segments via gaps-and-islands, all BEFORE
    // any decode, so at scale the codec is told exactly which byte
    // ranges carry speech and silence is never decoded. The energy stub
    // is the one fake (first md5 byte of the frame — the x18 codec
    // contract); frame grid, threshold, islands, and segment table are
    // the real plumbing and all of it is in the hash. The payload rides
    // the media struct as binary; its char view feeds the energy hash
    // (the corpus is pure ASCII — char slice ≡ byte slice, which is
    // what lets DuckDB slice the same frames without BLOB functions).
    "x155_audio_vad" -> ((s, dir) => {
      import graft.operators.Multimodal
      val m = Multimodal.withMediaStruct(
        Tables(s, dir, "documents").select("doc_id", "text"),
        col("text").cast("binary"), lit("pcm"))
      Multimodal.vadPlan(
          m.select(col("doc_id"),
                   col("media.payload").cast("string").as("pcm_chars")),
          "doc_id", "pcm_chars")
        .orderBy(col("doc_id"), col("seg_id"))
    }),

    // X96 — MULTIMODAL pHash near-dup: payload-level duplicate detection
    // over an opaque binary column — x18's plumbing upgraded from metadata
    // to DEDUP, the image/audio use case (perceptual-hash dedup of media
    // assets) with the codec stubbed exactly as x18 documents. The
    // fingerprint is a block-hash pHash: the payload's hex encoding is
    // split into fixed 16-byte blocks, each block hashed once, and a
    // 32-bit SimHash taken over the block hashes — per-row map-side work,
    // no shuffle until the candidate join. Near-dups within Hamming
    // radius 3 come from [[graft.operators.DedupOperators
    // .simhashNearDupsFromHash]]'s pigeonhole block join (never all
    // pairs); the oracle brute-forces every pair, so each hash-green run
    // re-proves the banding dropped no qualifying pair. 32 bits (not
    // x07's 16) because the radius-3 ball holds ~5.5k of 2³² points —
    // random collisions ~1e-6 per pair — where 16 bits would drown real
    // dups in noise (measured: 1514 noise pairs vs 15 real ones at
    // sf0.01). A real deployment swaps the hex-block features for
    // decoded-pixel blocks; the signature, banding, and verify are
    // unchanged.
    "x96_phash_neardup" -> ((s, dir) => {
      import graft.operators.{DedupOperators, Multimodal}
      val m = Multimodal.withMediaStruct(
        Tables(s, dir, "documents").select("doc_id", "text"),
        col("text").cast("binary"), lit("img"))
      val sig = m
        .withColumn("_hx", hex(col("media.payload")))
        .withColumn("_chunks", expr(
          "transform(sequence(1, greatest(1, cast((length(_hx) + 31) div 32" +
          " as int))), i -> substring(_hx, (i - 1) * 32 + 1, 32))"))
        // native one-pass md5 SimHash: one hash per block, not one per
        // bit per block (composed twin measured 9.1 s vs ~1 s here;
        // SimHashMd5Spec proves them bit-identical)
        .select(col("doc_id").as("_id"),
                graft.functions.expr.SimHashMd5(col("_chunks"), 32).as("_sh"))
      DedupOperators.simhashNearDupsFromHash(sig, bits = 32, radius = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // X105 — frame-sampled VIDEO near-dup: the temporal-media member of
    // the multimodal dedup family. The payload is treated as a frame
    // sequence (64-byte frames over the hex encoding — the stub stands
    // where a demuxer would); [[graft.operators.Multimodal
    // .frameSamplePlan]] picks every 2nd frame BEFORE any per-frame work
    // (the plan-level sampling that at scale means only sampled frames
    // are ever decoded), each sampled frame gets one md5 fingerprint,
    // and videos whose fingerprint SETS overlap at Jaccard ≥ ½ pair up
    // through the exact [[graft.operators.SetSimJoin]] — prefix-filtered,
    // shuffled-hash-pinned, zero-miss (the oracle generates candidates
    // from ANY shared frame). Swapping the stub for real keyframes
    // changes the fingerprint expression only; the sampling plan, the
    // set join, and the verify are modality-independent.
    "x105_video_neardup" -> ((s, dir) => {
      import graft.operators.{Multimodal, SetSimJoin}
      val m = Multimodal.withMediaStruct(
        Tables(s, dir, "documents").select("doc_id", "text"),
        col("text").cast("binary"), lit("vid"))
      val vids = m
        .withColumn("_hx", hex(col("media.payload")))
        .withColumn("_nf", greatest(lit(1),
          expr("length(_hx) div 128")).cast("int"))
        .withColumn("fps", array_distinct(transform(
          Multimodal.frameSamplePlan(col("_nf"), stride = 2),
          i => md5(col("_hx").substr(i * 128 + 1, lit(128))
                     .cast("binary")))))
        .select(col("doc_id"), col("fps"))
      SetSimJoin.join(vids, "doc_id", "fps", 1, 2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // X19 — vector statistics via higher-order functions (aggregate /
    // transform over the embedding arrays — all map-side, codegen'd)
    "x19_vector_stats" -> ((s, dir) =>
      Tables(s, dir, "embeddings")
        .select(col("vec_id"),
                round(sqrt(aggregate(col("embedding"), lit(0.0d),
                  (acc, x) => acc + x.cast("double") * x.cast("double"))), 4)
                  .as("l2_norm"),
                // + 0.0 collapses IEEE negative zero after rounding, which
                // engines render differently
                (round(aggregate(col("embedding"), lit(0.0d),
                  (acc, x) => acc + x.cast("double")) / size(col("embedding")), 4)
                  + lit(0.0d)).as("dim_mean"),
                size(col("embedding")).as("dims"))
        .orderBy(col("vec_id"))),

    // X20 — deterministic reproducible sampling: an md5-derived bucket in
    // [0,256) selects ~1/8 of the corpus identically on ANY engine or
    // cluster size — the reproducible-subsample idiom for training data
    // (engine-native rand()/TABLESAMPLE can't cross-check)
    "x20_det_sample" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("bucket",
          conv(substring(md5(concat(lit("graft:"), col("doc_id"))), 1, 2),
               16, 10).cast("int"))
        .filter(col("bucket") < 32)
        .select(col("doc_id"), col("bucket"))
        .orderBy(col("doc_id"))),

    // X65 — fixed-SIZE uniform sample per stratum, deterministically:
    // keep the k docs with the smallest md5 draw per source (bottom-k by
    // hash, i.e. min-wise sampling). Complements rate-based x20: output
    // is EXACTLY k rows per stratum regardless of stratum size,
    // membership is identical on any engine or topology (md5 of the doc
    // id — no engine rand()), and adding documents only ever replaces
    // the largest draws, so the sample is incrementally maintainable.
    // Selection is the merge-closed BottomKAggregator, NOT a per-source
    // window: each partition ships ≤ k pairs per stratum through the
    // exchange (ObjectHashAggregate with map-side partials) instead of
    // shuffling every row into its group — the corpus-scale plan
    // (PlanShapeSpec asserts the partial aggregation).
    "x65_bottomk_sample" -> ((s, dir) => {
      val bk = org.apache.spark.sql.functions.udaf(
        new graft.functions.BottomKAggregator(5),
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.scalaLong))
      Tables(s, dir, "documents")
        .select(col("source"), col("doc_id"),
                md5(concat(lit("samp:"), col("doc_id"))).as("draw"))
        .groupBy(col("source"))
        .agg(bk(col("draw"), col("doc_id")).as("bks"))
        .select(col("source"), posexplode(col("bks")))
        .select(col("source"), (col("pos") + 1).cast("int").as("rk"),
                col("col._2").as("doc_id"), col("col._1").as("draw"))
        .orderBy(col("source"), col("rk"))
    }),

    // X15 — approximate sketches at 100 TB scale: HLL distinct + quantile
    // sketch. Raw sketch VALUES aren't ANSI-oracle-able (internals differ
    // per engine), so the query BRACKETS them instead: exact twins are
    // computed alongside and each sketch's documented error bound is
    // asserted in-engine as a boolean — HLL within 3σ of rsd=0.02 (both
    // sketches are deterministic functions of the data, so the flag is
    // stable per dataset), percentile_approx's returned element within
    // ±eps of the true median rank (accuracy 10000 ⇒ rank error 1e-4;
    // eps=1e-3 leaves 10× margin). The output carries only exact values
    // and the bound flags, which DuckDB reproduces as literals — the
    // sketches are exercised AND hash-gated without exposing internals.
    "x15_approx_sketch" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
      val sk = o.groupBy(col("o_orderpriority"))
        .agg(approx_count_distinct(col("o_custkey"), rsd = 0.02)
               .as("approx_cust"),
             percentile_approx(col("o_totalprice"), lit(0.5), lit(10000))
               .as("amed"))
      val ex = o.groupBy(col("o_orderpriority"))
        .agg(count_distinct(col("o_custkey")).as("exact_cust"),
             count(lit(1)).as("n"))
      // exact rank of the sketch's median element: one broadcast of the
      // 5-row sketch frame back over orders (ties need both < and <=)
      val rk = o.join(broadcast(sk), Seq("o_orderpriority"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(when(col("o_totalprice") <= col("amed"), 1L)
               .otherwise(0L)).as("cnt_le"),
             sum(when(col("o_totalprice") < col("amed"), 1L)
               .otherwise(0L)).as("cnt_lt"))
      val eps = 0.001
      ex.join(broadcast(sk), Seq("o_orderpriority"))
        .join(broadcast(rk), Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("exact_cust"), col("n"),
          (abs(col("approx_cust") - col("exact_cust")) <=
             col("exact_cust") * lit(0.06)).as("hll_ok"), // 3σ at rsd=0.02
          (col("cnt_le") >= col("n") * lit(0.5 - eps) &&
           col("cnt_lt") <= col("n") * lit(0.5 + eps)).as("median_rank_ok"))
        .orderBy(col("o_orderpriority"))
    }),

    // X84 — PERSISTED-sketch rollup: the two-stage shape x15 only hints
    // at. Stage 1 builds per-(priority, month) DataSketches partials —
    // HLL over customers, KLL over prices — the 60-row sketch TABLE a
    // production pipeline persists alongside the data. Stage 2 answers
    // the priority-level question by MERGING sketches alone
    // (hll_union_agg / kll_merge_agg): raw orders are never rescanned,
    // which is the entire economics of sketch columns at 100 TB — the
    // rollup exchange carries ~kilobyte buffers, not data. Both sketch
    // families are merge-closed, so stage-2 estimates carry the same
    // error bounds as a direct single-pass sketch. Oracle: x15's
    // bracketing idiom — exact twins (computed here as the audit, from
    // the one extra pass the sketch table exists to avoid) plus bound
    // flags the oracle pins as literals: HLL within 3σ at lgK=12
    // (rsd ≈ 1.6%), the merged-KLL median's exact rank within ±5% of
    // 0.5 (k=200 ⇒ ~1% normalized rank error, 5× margin). n_orders
    // (Σ of partial counts) is exact and proves the rollup covered
    // every partial.
    "x84_sketch_rollup" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
        .select(col("o_orderpriority").as("prio"),
                date_trunc("month", col("o_orderdate")).as("mon"),
                col("o_custkey"), col("o_totalprice"))
      val partials = o.groupBy(col("prio"), col("mon"))
        .agg(hll_sketch_agg(col("o_custkey"), 12).as("hs"),
             kll_sketch_agg_double(col("o_totalprice"), 200).as("ks"),
             count(lit(1)).as("n"))
      val rolled = partials.groupBy(col("prio"))
        .agg(hll_sketch_estimate(hll_union_agg(col("hs"))).as("est_cust"),
             kll_sketch_get_quantile_double(kll_merge_agg_double(col("ks")),
               lit(0.5)).as("amed"),
             sum(col("n")).as("n_orders"))
      val exact = o.groupBy(col("prio"))
        .agg(count_distinct(col("o_custkey")).as("exact_cust"))
      val rk = o
        .join(broadcast(rolled.select(col("prio"), col("amed"))), Seq("prio"))
        .groupBy(col("prio"))
        .agg(sum(when(col("o_totalprice") <= col("amed"), 1L).otherwise(0L))
               .as("cnt_le"),
             sum(when(col("o_totalprice") < col("amed"), 1L).otherwise(0L))
               .as("cnt_lt"))
      exact.join(broadcast(rolled), Seq("prio"))
        .join(broadcast(rk), Seq("prio"))
        .select(col("prio"), col("exact_cust"), col("n_orders"),
          (abs(col("est_cust") - col("exact_cust")) <=
             col("exact_cust") * lit(0.05)).as("hll_ok"),
          (col("cnt_le") >= col("n_orders") * lit(0.45) &&
           col("cnt_lt") <= col("n_orders") * lit(0.55)).as("med_rank_ok"))
        .orderBy(col("prio"))
    }),

    // X87 — right-censored survival (time-to-conversion) table: the
    // Kaplan-Meier risk table behind every retention/conversion curve,
    // computed integer-exact so it hashes cross-engine. Each user
    // enters at their first event; the "event" is their first purchase;
    // users who never purchase are CENSORED at their last activity —
    // the distinction q86's cohort grid ignores (a user who left after
    // day 2 is not evidence about day 30). Output per whole-day t:
    // n_risk (still under observation at t), n_event, n_censored, and
    // the discrete hazard in ppm — the (d_i, n_i) pairs a K-M product
    // or a log-rank test consumes. Deliberately NO survival-probability
    // column: that cumulative PRODUCT of rationals is summation-order-
    // dependent in IEEE and engines disagree; the integer risk table is
    // the lossless form. Dataflow: one user-keyed agg collapses 10k
    // events to one row per user; everything after runs on the
    // VALUE DOMAIN of distinct day indices (the x57 device) — the
    // global cumulative window orders days, not users, so it is
    // corpus-size-independent.
    "x87_survival_table" -> ((s, dir) => {
      val perUser = Tables(s, dir, "events").groupBy(col("user_id"))
        .agg(min(col("ts")).as("t0"),
             min(when(col("event_type") === "purchase", col("ts")))
               .as("tc"),
             max(col("ts")).as("tl"))
      val tte = perUser.select(
        expr("(unix_micros(coalesce(tc, tl)) - unix_micros(t0))" +
          " DIV 86400000000").as("t"),
        col("tc").isNotNull.as("conv"))
      val byT = tte.groupBy(col("t"))
        .agg(sum(when(col("conv"), 1L).otherwise(0L)).as("n_event"),
             sum(when(col("conv"), 0L).otherwise(1L)).as("n_censored"))
      val w = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, -1)
      byT.crossJoin(broadcast(tte.agg(count(lit(1)).as("n_total"))))
        .withColumn("prior", coalesce(
          sum(col("n_event") + col("n_censored")).over(w), lit(0L)))
        .select(col("t"), (col("n_total") - col("prior")).as("n_risk"),
                col("n_event"), col("n_censored"))
        .withColumn("hazard_ppm", expr("(1000000 * n_event) DIV n_risk"))
        .orderBy(col("t"))
    }),

    // X88 — exponentially-decayed activity ("trending") per event
    // stream, ENGINE-EXACT: the recency-weighted count behind every
    // trending/leaderboard feature, with half-life = 1 day. The decay
    // weight is deliberately DYADIC — day at age a weighs 2^(-a) — so
    // the whole score can be carried as the INTEGER
    // Σ n_a · 2^(30 − a) (a ≤ 30; older days round to zero, which at
    // half-life 1d means < 1e-9 of current weight — a defined cutoff,
    // not an approximation hazard). No pow(), no libm, no
    // summation-order sensitivity: shifts and integer adds only, which
    // is what makes the statistic hash bit-identical cross-engine where
    // an exp(-λΔt) formulation cannot. One keyed agg to (stream, day),
    // one broadcast of the 1-row reference day, one keyed re-agg —
    // exchanges carry day-collapsed counts, never events.
    "x88_trending_decay" -> ((s, dir) => {
      val byDay = Tables(s, dir, "events")
        .select(col("event_type"),
                expr("unix_micros(ts) DIV 86400000000").as("d"))
        .groupBy(col("event_type"), col("d"))
        .agg(count(lit(1)).as("n"))
      val ref = byDay.agg(max(col("d")).as("ref"))
      byDay.crossJoin(broadcast(ref))
        .withColumn("age", col("ref") - col("d"))
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("n_total"),
             sum(when(col("age") <= 30,
               expr("n * shiftleft(CAST(1 AS BIGINT), CAST(30 - age AS INT))"))
               .otherwise(0L)).as("score_x2p30"))
        .orderBy(col("event_type"))
    }),

    // X52 — near-dup candidate QUALITY histogram: the LSH tuning
    // diagnostic. Every MinHash band-collision pair gets its exact
    // 3-gram Jaccard, integer-bucketed into deciles (ppm DIV 100000) —
    // the precision-per-band report read before committing band/row
    // parameters on a real corpus. Candidates come from the banded
    // equi-join (never all pairs); the verify is two keyed joins to fetch
    // shingle sets plus a per-pair intersect, then one tiny agg.
    "x52_candidate_quality" -> ((s, dir) =>
      candidateQuality(Tables(s, dir, "documents")).orderBy(col("bucket"))),

    // X53 — leakage-safe train/val/test split: the split is drawn per
    // DUPLICATE-CLUSTER root, not per document, so near-duplicates can
    // never straddle train and eval — the contamination mode a naive
    // per-doc split produces. Clusters are x14's dataflow (banded
    // candidates → pointer-jumping components); singletons root at their
    // own id; the md5 draw over the root is x20's reproducible-sampling
    // idiom, so membership is identical on any engine or topology.
    "x53_leakage_split" -> ((s, dir) =>
      leakageSplit(Tables(s, dir, "documents")).orderBy(col("doc_id"))))

  /** X52 core — decile histogram of exact 3-gram Jaccard over the MinHash
    * band-collision candidates (banded equi-join, never all pairs). */
  def candidateQuality(docs: DataFrame): DataFrame = {
    val pairs = DedupOperators.minhashCandidates(docs, "doc_id", "text",
      shingleN = 3, k = 8, bands = 4)
    // words staged into their own projection — inlined, every element_at
    // in the shingle lambda would re-split the text (the O(words²) hazard
    // documented at TextFunctions.shinglesFromWords; measured 8.5 s → 0.3 s
    // on the broadcast build side at sf0.1)
    val sh = docs
      .select(col("doc_id"), T.words(col("text")).as("_w"))
      .select(col("doc_id"),
        array_distinct(T.shinglesFromWords(col("_w"), 3)).as("sh"))
    pairs
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")),
            Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")),
            Seq("id_b"))
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("un",
        (size(col("sh_a")) + size(col("sh_b"))).cast("long") - col("inter"))
      .withColumn("bucket", expr("((inter * 1000000) DIV un) DIV 100000"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** X53 core — cluster-aware split assignment: every member of a dup
    * cluster draws the SAME split from the md5 of the cluster root, so
    * near-duplicates never straddle train and eval. */
  def leakageSplit(docs: DataFrame): DataFrame = {
    val pairs = DedupOperators.minhashCandidates(docs, "doc_id", "text",
      shingleN = 3, k = 8, bands = 4)
    val labels = DedupOperators.clusterPairs(pairs, maxIters = 30)
    docs.select(col("doc_id"))
      .join(labels.select(col("id").as("doc_id"), col("label")),
            Seq("doc_id"), "left")
      .withColumn("root", coalesce(col("label"), col("doc_id")))
      .withColumn("_b",
        conv(substring(md5(concat(lit("split:"), col("root"))), 1, 2),
             16, 10).cast("int"))
      .withColumn("split", when(col("_b") < 26, "test")
        .when(col("_b") < 52, "val").otherwise("train"))
      .select(col("doc_id"), col("root"), col("split"))
  }

  // --- DuckDB oracles ------------------------------------------------------

  /** Spark `unix_timestamp` truncates sub-second fractions; mirror it. */
  private val epochA = "CAST(floor(epoch(a.ts)) AS BIGINT)"
  private val epochB = "CAST(floor(epoch(b.ts)) AS BIGINT)"

  private val minhashSigSql: String = {
    val words = "regexp_split_to_array(trim(text), '\\s+')"
    val shingles =
      s"""list_transform(generate_series(1, len($words) - 2),
          i -> $words[i] || ' ' || $words[i+1] || ' ' || $words[i+2])"""
    val comps = (0 until 8).map(seed =>
      s"list_aggregate(list_transform(sh, x -> md5('$seed:' || x)), 'min')")
    s"""WITH s AS (SELECT doc_id, $shingles AS sh FROM documents),
        sig AS (SELECT doc_id, [${comps.mkString(", ")}] AS sg FROM s)"""
  }

  /** LSH banding CTE over `sig` (bands=4, rows=2) — matches
    * TextFunctions.lshBands' md5-of-joined-rows key. */
  private val bandedSql =
    """banded AS (
         SELECT doc_id, 1 AS bi, md5(sg[1] || '|' || sg[2]) AS bk FROM sig
         UNION ALL
         SELECT doc_id, 2, md5(sg[3] || '|' || sg[4]) FROM sig
         UNION ALL
         SELECT doc_id, 3, md5(sg[5] || '|' || sg[6]) FROM sig
         UNION ALL
         SELECT doc_id, 4, md5(sg[7] || '|' || sg[8]) FROM sig)"""

  val oracleSql: Map[String, String] = Map(
    // x15's sketch values never cross engines: the Spark side asserts each
    // sketch's error bound in-engine and emits the flag; the oracle states
    // the exact twins plus the EXPECTED flags as literals, so a sketch
    // drifting out of its documented bounds turns the row hash-red
    "x15_approx_sketch" ->
      """SELECT o_orderpriority,
           count(DISTINCT o_custkey)::BIGINT AS exact_cust,
           count(*)::BIGINT AS n,
           TRUE AS hll_ok, TRUE AS median_rank_ok
         FROM orders GROUP BY 1 ORDER BY 1""",

    "x84_sketch_rollup" ->
      """SELECT o_orderpriority AS prio,
           count(DISTINCT o_custkey)::BIGINT AS exact_cust,
           count(*)::BIGINT AS n_orders,
           TRUE AS hll_ok, TRUE AS med_rank_ok
         FROM orders GROUP BY 1 ORDER BY 1""",

    "x87_survival_table" ->
      """WITH u AS (SELECT user_id, min(ts) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS tc,
             max(ts) AS tl
           FROM events GROUP BY 1),
         d AS (SELECT (epoch_us(coalesce(tc, tl)) - epoch_us(t0))
                 // 86400000000 AS t,
               tc IS NOT NULL AS conv FROM u),
         g AS (SELECT t,
             sum(CASE WHEN conv THEN 1 ELSE 0 END)::BIGINT AS n_event,
             sum(CASE WHEN conv THEN 0 ELSE 1 END)::BIGINT AS n_censored
           FROM d GROUP BY 1),
         w AS (SELECT t, n_event, n_censored,
             ((SELECT count(*) FROM d)
               - coalesce(sum(n_event + n_censored) OVER
                   (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0))::BIGINT AS n_risk
           FROM g)
         SELECT t, n_risk, n_event, n_censored,
           (1000000 * n_event) // n_risk AS hazard_ppm
         FROM w ORDER BY t""",

    "x88_trending_decay" ->
      """WITH b AS (SELECT event_type, epoch_us(ts) // 86400000000 AS d,
             count(*) AS n
           FROM events GROUP BY 1, 2),
         r AS (SELECT max(d) AS ref FROM b)
         SELECT event_type, sum(n)::BIGINT AS n_total,
           sum(CASE WHEN ref - d <= 30
                    THEN n * (1::BIGINT << (30 - (ref - d)))
                    ELSE 0 END)::BIGINT AS score_x2p30
         FROM b CROSS JOIN r
         GROUP BY 1 ORDER BY 1""",

    "q28_asof_join" ->
      """WITH v AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'view'),
           p AS (SELECT event_id, user_id, ts FROM events
                 WHERE event_type = 'purchase'),
           m AS (SELECT v.event_id, v.user_id, v.ts,
                   p.ts AS purchase_ts, p.event_id AS purchase_id,
                   row_number() OVER (PARTITION BY v.event_id
                     ORDER BY p.ts DESC, p.event_id DESC) AS rn
                 FROM v LEFT JOIN p
                   ON p.user_id = v.user_id AND p.ts <= v.ts)
         SELECT event_id, user_id, ts, purchase_ts, purchase_id
         FROM m WHERE rn = 1 ORDER BY event_id""",

    "q40_asof_forward" ->
      """WITH v AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'view'),
           p AS (SELECT event_id, user_id, ts FROM events
                 WHERE event_type = 'purchase'),
           m AS (SELECT v.event_id, v.user_id, v.ts,
                   p.ts AS purchase_ts, p.event_id AS purchase_id,
                   row_number() OVER (PARTITION BY v.event_id
                     ORDER BY p.ts ASC, p.event_id ASC) AS rn
                 FROM v LEFT JOIN p
                   ON p.user_id = v.user_id AND p.ts >= v.ts)
         SELECT event_id, user_id, ts, purchase_ts, purchase_id
         FROM m WHERE rn = 1 ORDER BY event_id""",

    // rank by |Δsec| (truncated like Spark's unix_timestamp), backward
    // before forward on ties, then the direction's own tie-break
    "q41_asof_nearest" ->
      """WITH v AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'view'),
           p AS (SELECT event_id, user_id, ts FROM events
                 WHERE event_type = 'purchase'),
           m AS (SELECT v.event_id, v.user_id, v.ts,
                   p.ts AS purchase_ts, p.event_id AS purchase_id,
                   row_number() OVER (PARTITION BY v.event_id ORDER BY
                     abs(CAST(floor(epoch(p.ts)) AS BIGINT)
                         - CAST(floor(epoch(v.ts)) AS BIGINT)) ASC,
                     CASE WHEN p.ts <= v.ts THEN 0 ELSE 1 END ASC,
                     CASE WHEN p.ts <= v.ts THEN -epoch(p.ts)
                          ELSE epoch(p.ts) END ASC,
                     CASE WHEN p.ts <= v.ts THEN -p.event_id
                          ELSE p.event_id END ASC) AS rn
                 FROM v LEFT JOIN p ON p.user_id = v.user_id)
         SELECT event_id, user_id, ts, purchase_ts, purchase_id
         FROM m WHERE rn = 1 ORDER BY event_id""",

    "q29_range_join" ->
      s"""SELECT a.event_id AS id_a, b.event_id AS id_b,
            abs($epochB - $epochA) AS gap_sec
          FROM events a JOIN events b
            ON b.user_id = a.user_id AND a.event_id < b.event_id
           AND abs($epochB - $epochA) <= 300
          ORDER BY id_a, id_b""",

    "x112_cusum_alarms" ->
      """WITH d AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
                      count(*)::BIGINT AS c
                    FROM events GROUP BY 1, 2),
          p AS (SELECT user_id, day, c,
                  sum(c - 2) OVER (PARTITION BY user_id ORDER BY day
                    ROWS UNBOUNDED PRECEDING) AS p
                FROM d),
          m AS (SELECT user_id, day, c, p,
                  least(0, min(p) OVER (PARTITION BY user_id ORDER BY day
                    ROWS UNBOUNDED PRECEDING)) AS fl
                FROM p)
         SELECT user_id, day, c, (p - fl)::BIGINT AS cusum,
           (p - fl) >= 5 AS alarm
         FROM m ORDER BY user_id, day""",

    "q114_moving_median" ->
      """WITH e AS (SELECT user_id, event_id, ts,
              CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE value IS NOT NULL),
          l AS (SELECT user_id, event_id, cents,
              list_sort(list(cents) OVER (PARTITION BY user_id
                ORDER BY ts, event_id
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS arr
            FROM e)
          SELECT user_id, event_id, cents,
            arr[(len(arr) + 1) // 2] AS med5
          FROM l ORDER BY user_id, event_id""",

    "q30_window_analytics" ->
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderdate,
              CAST(round(o_totalprice * 100) AS BIGINT) AS c
            FROM orders)
         SELECT o_orderkey, o_custkey, o_orderdate, c AS price_cents,
           lag(c, 1) OVER w AS prev_cents,
           lead(c, 1) OVER w AS next_cents,
           CAST(sum(c) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS mov3_cents,
           CAST(sum(c) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents,
           row_number() OVER w AS order_seq
         FROM o
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_orderkey""",

    "q31_pivot" ->
      """SELECT l_returnflag,
           CAST(sum(CASE WHEN l_linestatus = 'F'
             THEN CAST(round(l_quantity * 100) AS BIGINT) END) AS BIGINT) AS F,
           CAST(sum(CASE WHEN l_linestatus = 'O'
             THEN CAST(round(l_quantity * 100) AS BIGINT) END) AS BIGINT) AS O
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q32_unpivot" ->
      """WITH w AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
              CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
            FROM part)
         SELECT p_partkey, attr, val FROM (
           SELECT p_partkey, 'p_size' AS attr, p_size AS val FROM w
           UNION ALL
           SELECT p_partkey, 'price_cents' AS attr, price_cents AS val FROM w)
         ORDER BY p_partkey, attr""",

    "q35_json_extract" ->
      """SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events ORDER BY event_id""",

    "q36_semi_anti" ->
      """SELECT * FROM (
           SELECT c_custkey, 'has_urgent' AS flag FROM customer
           WHERE EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey
                           AND lower(o_orderpriority) LIKE '%urgent%')
           UNION ALL
           SELECT c_custkey, 'no_urgent' AS flag FROM customer
           WHERE NOT EXISTS (SELECT 1 FROM orders
                             WHERE o_custkey = c_custkey
                               AND lower(o_orderpriority) LIKE '%urgent%'))
         ORDER BY c_custkey""",

    "q37_resample_gapfill" ->
      """WITH counts AS (
           SELECT user_id, date_trunc('day', ts) AS day, count(*) AS n
           FROM events GROUP BY user_id, day),
         bounds AS (
           SELECT user_id, date_trunc('day', min(ts)) AS lo,
                  date_trunc('day', max(ts)) AS hi
           FROM events GROUP BY user_id),
         days AS (
           SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
           FROM bounds)
         SELECT d.user_id, d.day, CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
         FROM days d LEFT JOIN counts c
           ON c.user_id = d.user_id AND c.day = d.day
         ORDER BY d.user_id, d.day""",

    "q38_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           count(*) AS n
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",

    "q34_percentile" ->
      """SELECT o_orderpriority,
           round(quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.25), 4) AS p25_cents,
           round(quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.5), 4) AS p50_cents,
           round(quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.9), 4) AS p90_cents
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q42_scd2_intervals" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey) AS valid_to
         FROM orders ORDER BY o_orderkey""",

    "q33_distinct_count" ->
      """SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
           CAST(count(*) AS BIGINT) AS n_orders
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "x16_dedup_incremental" ->
      s"""$minhashSigSql,
          $bandedSql
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id
          WHERE a.doc_id % 10 >= 8 OR b.doc_id % 10 >= 8
          ORDER BY id_a, id_b""",

    "q44_fuzzy_levenshtein" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           levenshtein(a.c_name, b.c_name) AS edit_dist
         FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
         ORDER BY id_a""",

    "q45_date_arith" ->
      """SELECT o_orderkey,
           date_diff('day', o_orderdate::DATE, DATE '1998-12-31')
             AS days_to_eoy,
           o_orderdate::DATE + 30 AS due_date,
           last_day(o_orderdate::DATE) AS month_end,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow
         FROM orders ORDER BY o_orderkey""",

    "q46_try_cast" ->
      """SELECT o_orderkey,
           TRY_CAST(split_part(o_orderpriority, '-', 1) AS BIGINT)
             AS prio_num,
           TRY_CAST(o_orderstatus AS BIGINT) AS status_num,
           TRY_CAST(o_orderpriority AS DOUBLE) AS prio_dbl
         FROM orders ORDER BY o_orderkey""",

    "q43_cube" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           count(*) AS n
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",

    // BETWEEN form (not abs) so DuckDB's IEJoin handles it
    "q39_range_rule" ->
      """WITH e AS (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
                    FROM events)
         SELECT a.event_id AS id_a, b.event_id AS id_b,
                b.sec - a.sec AS delta_sec
         FROM e a JOIN e b
           ON b.sec - a.sec BETWEEN -60 AND 60
          AND a.event_id < b.event_id
         ORDER BY id_a, id_b""",

    "q47_nullsafe_join" ->
      """WITH o AS (SELECT o_orderkey, nullif(o_orderstatus, 'O') AS k
                    FROM orders)
         SELECT a.o_orderkey AS id_a, b.o_orderkey AS id_b, a.k AS k_a
         FROM o a JOIN o b
           ON a.k IS NOT DISTINCT FROM b.k
          AND b.o_orderkey = a.o_orderkey + 1
         ORDER BY id_a""",

    "q48_bool_aggs" ->
      """SELECT o_orderpriority,
           bool_or(o_totalprice > 400000) AS any_jumbo,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
             AS n_finished
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q49_window_funcs" ->
      """SELECT o_orderkey, o_custkey,
           first_value(o_orderkey) OVER wf AS first_ok,
           last_value(o_orderkey) OVER wf AS last_ok,
           nth_value(o_orderkey, 2) OVER wf AS second_ok,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
         FROM orders
         WINDOW
           w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY o_orderkey""",

    "x21_map_explode" ->
      """WITH kv AS (SELECT event_id, props,
                       unnest(json_keys(props::JSON)) AS k
                     FROM events)
         SELECT event_id, k,
           CAST(json_extract_string(props, '$.' || k) AS BIGINT) AS v
         FROM kv ORDER BY event_id, k""",

    // list_reduce (sequential fold) mirrors Spark aggregate()'s left fold,
    // so double summation order — and thus the rounded result — matches
    "x19_vector_stats" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         SELECT vec_id,
           round(sqrt(list_reduce([0.0::DOUBLE] ||
             list_transform(v, x -> x * x), (a, b) -> a + b)), 4) AS l2_norm,
           round(list_reduce([0.0::DOUBLE] || v, (a, b) -> a + b)
             / len(v), 4) + 0.0 AS dim_mean,
           len(v) AS dims
         FROM e ORDER BY vec_id""",

    "x20_det_sample" ->
      """SELECT doc_id,
           ('0x' || substr(md5('graft:' || doc_id), 1, 2))::INT AS bucket
         FROM documents
         WHERE ('0x' || substr(md5('graft:' || doc_id), 1, 2))::INT < 32
         ORDER BY doc_id""",

    "x65_bottomk_sample" ->
      """WITH d AS (SELECT source, doc_id,
             md5('samp:' || doc_id) AS draw FROM documents),
         r AS (SELECT source, doc_id, draw,
             row_number() OVER (PARTITION BY source
                                ORDER BY draw, doc_id) AS rk
           FROM d)
         SELECT source, rk, doc_id, draw FROM r
         WHERE rk <= 5 ORDER BY source, rk""",

    // md5(VARCHAR) in DuckDB hashes the UTF-8 bytes — identical to Spark's
    // md5 over cast(text AS BINARY)
    "x18_multimodal_meta" ->
      """SELECT doc_id,
           octet_length(encode(text)) AS size_bytes,
           md5(text) AS payload_md5,
           octet_length(encode(text)) % 640 + 1 AS fake_w,
           (octet_length(encode(text)) * 7) % 480 + 1 AS fake_h,
           CASE WHEN octet_length(encode(text)) < 1024 THEN 's'
                WHEN octet_length(encode(text)) < 1048576 THEN 'm'
                ELSE 'l' END AS size_class
         FROM documents ORDER BY doc_id""",

    // the same frame grid, energy hash, and island arithmetic over the
    // text's char view (ASCII corpus: char slice ≡ byte slice)
    "x155_audio_vad" ->
      """WITH m AS (SELECT doc_id, text,
             greatest(1, (length(text) + 39) // 40) AS nf FROM documents),
         f AS (SELECT doc_id, text, unnest(range(0, nf)) AS f FROM m),
         e AS (SELECT doc_id, f,
                 ('0x' || substr(md5(substr(text, f * 40 + 1, 40)),
                                 1, 2))::INT AS energy
               FROM f),
         s AS (SELECT doc_id, f, energy,
                 f - row_number() OVER (PARTITION BY doc_id
                                        ORDER BY f) AS grp
               FROM e WHERE energy >= 128),
         seg AS (SELECT doc_id, grp, min(f)::BIGINT AS seg_start,
                   max(f)::BIGINT AS seg_end, count(*)::BIGINT AS n_frames,
                   max(energy)::INT AS e_max
                 FROM s GROUP BY 1, 2)
         SELECT doc_id,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY seg_start)::BIGINT AS seg_id,
           seg_start, seg_end, n_frames, e_max
         FROM seg ORDER BY doc_id, seg_id""",

    // brute-force ALL pairs (feasible at oracle scale), so every
    // hash-green run re-proves the engine's pigeonhole banding is
    // zero-miss; hex() of a BLOB is uppercase in both engines
    "x96_phash_neardup" -> {
      val bits = (0 until 32).map(i =>
        s"""CASE WHEN list_sum(list_transform(hv,
              x -> CASE WHEN (x >> $i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
            THEN ${1L << i} ELSE 0 END""").mkString("\n + ")
      s"""WITH hx AS (SELECT doc_id, hex(encode(text)) AS h FROM documents),
          ck AS (SELECT doc_id,
                   list_transform(
                     generate_series(1, greatest(1, (length(h) + 31) // 32)),
                     i -> ('0x' || substr(md5(substr(h, (i-1)*32 + 1, 32)),
                                          1, 8))::BIGINT) AS hv
                 FROM hx),
          sig AS (SELECT doc_id, ($bits)::BIGINT AS sh FROM ck)
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 bit_count(xor(a.sh, b.sh))::INT AS hamming
          FROM sig a JOIN sig b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.sh, b.sh)) <= 3
          ORDER BY id_a, id_b"""
    },

    // candidates from ANY shared frame fingerprint — parity re-proves
    // the set-join prefix dropped no qualifying video pair
    "x105_video_neardup" ->
      """WITH hx AS (SELECT doc_id, hex(encode(text)) AS h FROM documents),
         fr AS (SELECT doc_id, list_distinct(list_transform(
                  list_filter(
                    generate_series(0, greatest(1, length(h) // 128) - 1),
                    i -> i % 2 = 0),
                  i -> md5(substr(h, i * 128 + 1, 128)))) AS fps
                FROM hx),
         e AS (SELECT doc_id, unnest(fps) AS g FROM fr),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM e a JOIN e b ON b.g = a.g AND b.doc_id > a.doc_id),
         v AS (SELECT id_a, id_b,
                 len(list_filter(sa.fps,
                   x -> list_contains(sb.fps, x)))::BIGINT AS inter,
                 (len(sa.fps) + len(sb.fps))::BIGINT AS tot
               FROM cand
               JOIN fr sa ON sa.doc_id = cand.id_a
               JOIN fr sb ON sb.doc_id = cand.id_b)
         SELECT id_a, id_b, inter, tot - inter AS uni,
                round(inter::DOUBLE / (tot - inter), 4) AS jac
         FROM v WHERE inter * 2 >= (tot - inter) * 1
         ORDER BY id_a, id_b""",

    "x17_dedup_corpus" -> {
      val comps = (0 until 8).map(seed =>
        s"list_aggregate(list_transform(sg, x -> md5('$seed:' || x)), 'min')")
      val inter = "len(list_filter(a.ds, x -> list_contains(b.ds, x)))"
      s"""WITH RECURSIVE
          fp AS (SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
                 FROM documents),
          keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
          d AS (SELECT doc_id, text FROM documents
                WHERE doc_id IN (SELECT doc_id FROM keep)),
          w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS wa
                FROM d),
          sh AS (SELECT doc_id,
                   list_transform(generate_series(1, len(wa) - 2),
                     i -> wa[i] || ' ' || wa[i+1] || ' ' || wa[i+2]) AS sg
                 FROM w),
          sig AS (SELECT doc_id, [${comps.mkString(", ")}] AS sg FROM sh),
          $bandedSql,
          cand AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
                   FROM banded a JOIN banded b
                     ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id),
          shd AS (SELECT doc_id, list_distinct(sg) AS ds FROM sh),
          ver AS (SELECT c.src, c.dst
                  FROM cand c
                  JOIN shd a ON a.doc_id = c.src
                  JOIN shd b ON b.doc_id = c.dst
                  WHERE round($inter::DOUBLE /
                          (len(a.ds) + len(b.ds) - $inter), 4) >= 0.5),
          edges AS (SELECT src, dst FROM ver UNION SELECT dst, src FROM ver),
          comp(id, lbl) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, c.lbl FROM comp c JOIN edges e ON e.src = c.id),
          victims AS (SELECT id FROM (SELECT id, min(lbl) AS label
                                      FROM comp GROUP BY id)
                      WHERE id <> label)
          SELECT doc_id FROM d
          WHERE doc_id NOT IN (SELECT id FROM victims)
          ORDER BY doc_id"""
    },

    "x14_dedup_cluster" ->
      s"""WITH RECURSIVE
          ${minhashSigSql.stripPrefix("WITH ")},
          $bandedSql,
          pairs AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
                    FROM banded a JOIN banded b
                      ON a.bi = b.bi AND a.bk = b.bk
                     AND a.doc_id < b.doc_id),
          edges AS (SELECT src, dst FROM pairs
                    UNION SELECT dst, src FROM pairs),
          comp(id, lbl) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, c.lbl FROM comp c JOIN edges e ON e.src = c.id)
          SELECT id, min(lbl) AS label FROM comp GROUP BY id ORDER BY id""",

    // the oracle for the INCREMENTAL path is the FULL recompute: hash
    // parity against it is exactly the merge-equals-recompute proof
    "x92_cluster_incremental" ->
      s"""WITH RECURSIVE
          ${minhashSigSql.stripPrefix("WITH ")},
          $bandedSql,
          pairs AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
                    FROM banded a JOIN banded b
                      ON a.bi = b.bi AND a.bk = b.bk
                     AND a.doc_id < b.doc_id),
          edges AS (SELECT src, dst FROM pairs
                    UNION SELECT dst, src FROM pairs),
          comp(id, lbl) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, c.lbl FROM comp c JOIN edges e ON e.src = c.id)
          SELECT id, min(lbl) AS label FROM comp GROUP BY id ORDER BY id""",

    "x74_cluster_census" ->
      s"""WITH RECURSIVE
          ${minhashSigSql.stripPrefix("WITH ")},
          $bandedSql,
          pairs AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
                    FROM banded a JOIN banded b
                      ON a.bi = b.bi AND a.bk = b.bk
                     AND a.doc_id < b.doc_id),
          edges AS (SELECT src, dst FROM pairs
                    UNION SELECT dst, src FROM pairs),
          comp(id, lbl) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, c.lbl FROM comp c JOIN edges e ON e.src = c.id),
          lab AS (SELECT id, min(lbl) AS label FROM comp GROUP BY id),
          cs AS (SELECT label, count(*)::BIGINT AS cluster_size
                 FROM lab GROUP BY label)
          SELECT cluster_size, count(*)::BIGINT AS n_clusters,
            sum(cluster_size)::BIGINT AS n_docs
          FROM cs GROUP BY 1 ORDER BY 1""",

    "x52_candidate_quality" ->
      s"""$minhashSigSql,
          $bandedSql,
          pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                    FROM banded a JOIN banded b
                      ON a.bi = b.bi AND a.bk = b.bk
                     AND a.doc_id < b.doc_id),
          shd AS (SELECT doc_id, list_distinct(sh) AS sh FROM s),
          j AS (SELECT
                  len(list_filter(a.sh, x -> list_contains(b.sh, x)))::BIGINT
                    AS inter,
                  (len(a.sh) + len(b.sh))::BIGINT AS tot
                FROM pairs p JOIN shd a ON a.doc_id = p.id_a
                             JOIN shd b ON b.doc_id = p.id_b)
          SELECT ((inter * 1000000) // (tot - inter)) // 100000 AS bucket,
            count(*)::BIGINT AS n_pairs
          FROM j GROUP BY 1 ORDER BY 1""",

    "x53_leakage_split" ->
      s"""WITH RECURSIVE ${minhashSigSql.stripPrefix("WITH ")},
          $bandedSql,
          pairs AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
                    FROM banded a JOIN banded b
                      ON a.bi = b.bi AND a.bk = b.bk
                     AND a.doc_id < b.doc_id),
          edges AS (SELECT src, dst FROM pairs
                    UNION SELECT dst, src FROM pairs),
          comp(id, lbl) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, c.lbl FROM comp c JOIN edges e ON e.src = c.id),
          lab AS (SELECT id, min(lbl) AS label FROM comp GROUP BY id),
          r AS (SELECT d.doc_id,
                  coalesce(l.label, d.doc_id) AS root
                FROM documents d LEFT JOIN lab l ON l.id = d.doc_id),
          b AS (SELECT doc_id, root,
                  ('0x' || substr(md5('split:' || root), 1, 2))::INT AS bk
                FROM r)
          SELECT doc_id, root,
            CASE WHEN bk < 26 THEN 'test'
                 WHEN bk < 52 THEN 'val'
                 ELSE 'train' END AS split
          FROM b ORDER BY doc_id""")
}
